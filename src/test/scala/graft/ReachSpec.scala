package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.matching.Regex

/** Static guard: every `def`, `val`, `class`, `object` and `trait` in
  * `src/main` that specs can reach (public, or `private[pkg]` /
  * `protected[pkg]`; not plain `private`, `protected` or `override`) is
  * named as a word somewhere else in the program — elsewhere in its own
  * file, or in another `src/main` or `bridgebench/src` file — so nothing
  * lives in `src/main` that only specs reach. Comments are stripped
  * first; string literals count as code.
  *
  * Entry points the program never names are exempt. Objects with a
  * `def main` and the classes Spark instantiates by name (listed in
  * `META-INF/services`, or implementing the `spark.sql.extensions` hook
  * `SparkSessionExtensions => Unit`) are detected mechanically; any other
  * exception is on [[allowed]], one line each with its reason. The name
  * test is by word, so a member whose name is also used for something
  * else passes; the guard catches members no one names at all. */
class ReachSpec extends AnyFunSuite {
  private val allowed: Map[String, String] = Map(
    "GraftFunctions" -> "the documented runtime registration facade, GraftFunctions.register",
    "recoverStaleClaims" -> "ClusteredTable's crash-repair entry point (safety code)",
    "dedupStreamByContent" -> "the MQTT source's documented effectively-once composition")

  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Seq.empty
    else Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  private val literalOrComment =
    "(?s)\"\"\".*?\"\"\"|\"(?:\\\\.|[^\"\\\\\n])*\"|'(?:\\\\.|[^'\\\\\n])'|/\\*.*?\\*/|//[^\n]*".r

  /** Source text with block and line comments blanked out (their line
    * breaks kept, so offsets map to the same lines). */
  private def code(p: Path): String =
    literalOrComment.replaceAllIn(new String(Files.readAllBytes(p), "UTF-8"), m =>
      Regex.quoteReplacement(
        if (m.matched.startsWith("\"") || m.matched.startsWith("'")) m.matched
        else m.matched.filter(_ == '\n')))

  private val member =
    ("(?m)^[ \\t]*((?:@\\w+\\s+)*(?:(?:final|sealed|abstract|case|implicit|lazy|override|" +
      "private|protected)(?:\\[\\w+\\])?\\s+)*)(def|val|class|object|trait)\\s+(\\w+)").r
  private val topLevel = "(?m)^(?:\\w+(?:\\[\\w+\\])?\\s+)*(class|object|trait)\\s+(\\w+)".r
  private val sessionExtension =
    "class\\s+(\\w+)[^{]*extends\\s*\\(\\s*SparkSessionExtensions\\s*=>\\s*Unit\\s*\\)".r

  /** Top-level objects whose body (up to the next top-level type) has a `def main`. */
  private def mainObjects(src: String): Seq[String] = {
    val types = topLevel.findAllMatchIn(src).toSeq
    types.zipWithIndex.collect {
      case (m, i) if m.group(1) == "object" &&
          src.substring(m.start, types.lift(i + 1).fold(src.length)(_.start))
            .contains("def main(") => m.group(2)
    }
  }

  /** Modifiers that keep a member out of specs' reach: an unqualified
    * `private` or `protected`, or `override`. */
  private val hidden = "\\b(?:private|protected)\\b(?!\\[)|\\boverride\\b".r

  test("every public src/main member is named by the program") {
    val sources = (scalaFiles("src/main") ++ scalaFiles("bridgebench/src")).map(p => p -> code(p))
    val servicesDir = Paths.get("src/main/resources/META-INF/services")
    val registered = Files.list(servicesDir).iterator().asScala.toSeq
      .flatMap(f => Files.readAllLines(f).asScala.map(_.trim))
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('.').last)
    val program = sources.filter(_._1.startsWith("src/main"))
    val entryPoints = registered.toSet ++
      program.flatMap { case (_, src) => mainObjects(src) } ++
      program.flatMap { case (_, src) => sessionExtension.findAllMatchIn(src).map(_.group(1)) }
    val unreached = program.flatMap { case (p, src) =>
      member.findAllMatchIn(src)
        .filterNot(m => hidden.findFirstIn(m.group(1)).isDefined)
        .map { m =>
          val line = src.take(m.start).count(_ == '\n') + 1
          m.group(3) -> s"${m.group(2)} ${m.group(3)} ($p:$line)"
        }
        .filterNot { case (name, _) =>
          entryPoints(name) || {
            val word = s"\\b$name\\b".r
            sources.iterator.map { case (_, s) => word.findAllMatchIn(s).size }.sum > 1
          }
        }
    }
    val stale = allowed.keySet -- unreached.map(_._1)
    if (stale.nonEmpty) fail("the program now names these; drop them from the allow-list: " +
      stale.mkString(", "))
    val hits = unreached.filterNot { case (name, _) => allowed.contains(name) }.map(_._2)
    if (hits.nonEmpty) fail("delete these, move them to src/test, or call them from an " +
      "entry point:\n" + hits.mkString("\n"))
  }
}
