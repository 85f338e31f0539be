package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Static guard: every public top-level type under `graft/streaming/` is
  * named in code by another program or benchmark source file, so no
  * streaming operator lives in `src/main` that only specs reach. Private
  * helpers are reached through their public owner and are not checked. */
class StreamingReachSpec extends AnyFunSuite {
  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) Seq.empty
    else Files.walk(root).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
  }

  /** Source text with block and line comments blanked out. */
  private def code(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")
      .replaceAll("(?s)/\\*.*?\\*/", " ")
      .replaceAll("//[^\n]*", " ")

  test("every public type under graft/streaming is named by another src/main or bridgebench file") {
    val streamingDir = Paths.get("src/main/scala/graft/streaming")
    val sources = (scalaFiles("src/main") ++ scalaFiles("bridgebench/src"))
      .map(p => p -> code(p)).toMap
    val topLevel = "(?m)^(?:(?:final|sealed|abstract|case)\\s+)*(?:class|object|trait)\\s+(\\w+)".r
    val unreached = sources.keys.toSeq.filter(_.startsWith(streamingDir)).flatMap { p =>
      topLevel.findAllMatchIn(sources(p)).map(_.group(1)).toSeq.distinct
        .filterNot { name =>
          val word = s"\\b$name\\b".r
          sources.exists { case (q, src) => q != p && word.findFirstIn(src).isDefined }
        }
        .map(name => s"$name (${p.getFileName})")
    }.sorted
    assert(unreached.isEmpty,
      "delete these or call them from an entry point:\n" + unreached.mkString("\n"))
  }
}
