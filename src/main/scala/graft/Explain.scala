package graft

import java.nio.file.{Files, Paths}

/** Dump formatted physical plans. With at most a scale dir: every
  * registered query → PLANS.md, to review broadcast vs shuffle joins,
  * PushedFilters/ReadSchema on the parquet scans, WholeStageCodegen span
  * coverage and shuffle counts. With `<outDir> <tag> <query>...` after the
  * scale dir: the named queries, one file each — the per-round
  * before/after plan evidence (plans/rNN/<query>_<tag>.txt).
  * Run: sbt "runMain graft.Explain [sfDir [outDir tag query...]]"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length <= 1 || args.length >= 4,
      "usage: Explain [sfDir] | Explain <sfDir> <outDir> <tag> <query>...")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def plan(name: String): String =
      try SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      catch { case e: Throwable => s"FAILED: $e" }

    if (args.length >= 4) {
      val Array(outDir, tag) = args.slice(1, 3)
      Files.createDirectories(Paths.get(outDir))
      args.drop(3).foreach { name =>
        Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), plan(name) + "\n")
        println(s"wrote $outDir/${name}_$tag.txt")
      }
    } else {
      // every registered query — PlanSpec pins that PLANS.md stays complete
      val names = SparkEntry.queries.keys.toSeq.sorted
      val sb = new StringBuilder
      sb ++= "# PLANS — formatted physical plans (auto-generated by graft.Explain)\n\n"
      sb ++= s"Scale dir: `$sfDir`. Things to check per plan: broadcast joins for dims,\n"
      sb ++= "PushedFilters/ReadSchema on scans, WholeStageCodegen coverage, shuffle count.\n"
      names.foreach(name => sb ++= s"\n## $name\n\n```\n${plan(name)}\n```\n")
      Files.writeString(Paths.get("PLANS.md"), sb.toString)
      println(s"wrote PLANS.md (${names.size} plans)")
    }
    spark.stop()
  }
}
