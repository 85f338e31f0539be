package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Static guard: [[graft.functions.ClusteredTable]] and
  * [[graft.functions.ZorderLayout]] offer one public function per
  * capability — the N-dimensional forms under the plain names, one
  * function per Long/String key plane, default parameters instead of
  * overloads — so no 2-D wrapper or key-plane twin grows back beside
  * them. */
class ClusteredTableApiSpec extends AnyFunSuite {
  test("ClusteredTable declares each public def once, none suffixed N or String") {
    for (file <- Seq("ClusteredTable.scala", "ZorderLayout.scala")) {
      val src = Paths.get(s"src/main/scala/graft/functions/$file")
      val PublicDef = """  def (\w+).*""".r // object members sit at two spaces
      val names = Files.readAllLines(src).asScala.collect { case PublicDef(n) => n }.toSeq
      assert(names.nonEmpty, s"no public def found in $src")
      val repeated = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
      val twins = names.filter(n => n.endsWith("N") || n.endsWith("String"))
      assert(repeated.isEmpty && twins.isEmpty,
        s"$file: defined more than once: ${repeated.toSeq.sorted.mkString(", ")}; " +
          s"N/String-suffixed twins: ${twins.mkString(", ")}")
    }
  }
}
