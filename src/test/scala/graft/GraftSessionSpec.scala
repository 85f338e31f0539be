package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Static guard: every entry point builds its session from [[GraftSession]]
  * (hand-copied builders once drifted apart on the codegen cache,
  * `nanosAsLong` and the UTC zone). */
class GraftSessionSpec extends AnyFunSuite {
  test("no source file under src/ but GraftSession.scala builds a session") {
    val call = "SparkSession" + ".builder" // split so this file does not match
    val offenders = Files.walk(Paths.get("src")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .flatMap(p => Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(call) => s"$p:${i + 1}: ${line.trim}"
      }).toSeq
    assert(offenders.isEmpty,
      "build sessions with GraftSession.builder(cores) instead:\n" + offenders.mkString("\n"))
  }
}
