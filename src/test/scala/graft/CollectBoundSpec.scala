package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Static guard for the "no corpus-sized collect in a query path"
  * invariant (r16/r17 verdict ask): every `.collect(` site under the
  * query/function sources must be visibly bounded — an aggregate, a
  * limit, a single-row take, or an explicit boundedness annotation
  * (`bounded`, `control-plane`, `metadata-plane`, `≤`/`<=` row-bound
  * comments) within the site's preceding lines. A call of
  * VectorQueries' `detached` (collect, then re-wrap as a local relation)
  * is a collect site too, so each caller carries its own bound. A new
  * corpus-sized collect shows up here as an unannotated site and fails
  * the suite until it is either bounded or explicitly justified in-line.
  */
class CollectBoundSpec extends AnyFunSuite {

  private val roots = Seq(
    "src/main/scala/graft/queries",
    "src/main/scala/graft/functions")

  private val markers = Seq(
    ".agg(", ".limit(", "collect()(0)", "limit(1)", "headOption",
    "bounded", "control-plane", "metadata-plane", "≤", "<=",
    "count()", "history(")

  test("every .collect( site in query/function sources is visibly bounded") {
    val offenders = roots.flatMap { root =>
      Files.walk(Paths.get(root)).iterator().asScala
        .filter(p => p.toString.endsWith(".scala"))
        .flatMap { p =>
          val lines = Files.readAllLines(p).asScala.toVector
          lines.zipWithIndex.collect {
            case (line, i) if line.contains(".collect(") || line.contains("detached(") =>
              val window = lines.slice(math.max(0, i - 10), i + 1).mkString("\n")
              if (markers.exists(window.contains)) None
              else Some(s"$p:${i + 1}: $line")
          }.flatten
        }.toSeq
    }
    assert(offenders.isEmpty,
      "unbounded-looking collect sites (add a bound or a '// bounded:' justification):\n" +
        offenders.mkString("\n"))
  }
}
