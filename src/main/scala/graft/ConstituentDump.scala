package graft

import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Constituent-plan evidence for the checkpointed / driver-composed
  * queries (the r16/r17 plan-transparency ask): the published plans of
  * pagerank, the CC family and the k-core peel show only their
  * post-checkpoint `Scan ExistingRDD` tails, so the per-iteration join
  * shapes the optimization claims hinge on never appear in PLANS.md.
  * This dumps, from the SAME step builders the loops execute
  * (ScaleFunctions.ccStep / prStep, TextQueries.kcorePeelStep,
  * TextQueries.minhashStages), the formatted physical plan of one
  * representative iteration over the real sf inputs.
  *
  * Run: sbt "runMain graft.ConstituentDump <sfDir> <outDir>"
  */
object ConstituentDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("plans/r18")
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    def dump(name: String, df: org.apache.spark.sql.DataFrame, note: String): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"constituent_$name.txt"),
        s"# $note\n\n$plan\n")
      println(s"wrote $outDir/constituent_$name.txt")
    }

    // 1. the minhash kernel lineage that dedupMinhashPairs checkpoints
    //    (post-checkpoint it appears as Scan ExistingRDD everywhere)
    val base = queries.TextQueries.minhashStages(spark, sfDir)
      .select(col("doc_id"), col("buckets"),
        array_distinct(col("toks")).as("ws"),
        array_distinct(col("shingles")).as("ss"))
    dump("minhash_base", base,
      "The tokenize->shingle->hash->minhash kernel dedupMinhashPairs " +
        "materializes ONCE via localCheckpoint (r18); every banded-join/" +
        "verify consumer reads the checkpointed rows.")

    // 2. one CC iteration over the real verified pair graph: the
    //    neighbor-min aggregate + label join + pointer-jump self-join
    val pairs = queries.TextQueries.dedupMinhashPairs(spark, sfDir)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val sym = pairs.union(pairs.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint()
    val labels0 = sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id")).localCheckpoint()
    dump("cc_step", graft.functions.ScaleFunctions.ccStep(sym, labels0),
      "ONE ccLoop iteration (ScaleFunctions.ccStep — the exact builder " +
        "the loop calls) over the real sf pair graph: neighbor-min " +
        "aggregate, left-outer label join, pointer-jump self-join. The " +
        "loop checkpoints this per iteration, so published query plans " +
        "only show its ExistingRDD tail.")

    // 3. one PageRank iteration over the same symmetric edge relation
    val deg = sym.groupBy("src").agg(count(lit(1)).as("outdeg")).localCheckpoint()
    val n = deg.count().toDouble
    val ranks0 = deg.select(col("src").as("node")).withColumn("pr", lit(1.0 / n))
    dump("pagerank_step",
      graft.functions.ScaleFunctions.prStep(sym, deg, ranks0, n, 0.85,
        broadcastRanks = true),
      "ONE pageRank iteration (ScaleFunctions.prStep): rank/outdeg " +
        "weight projection BROADCAST onto the persisted edge set (the " +
        "edge relation never shuffles), then the |V|-row partial-" +
        "aggregated contribution sum.")

    // 4. one k-core peel round over the alive node set (the peel's edge
    //    relation carries (a, b) endpoint names)
    val symAb = sym.select(col("src").as("a"), col("dst").as("b"))
    val alive0 = sym.select(col("src").as("node")).distinct().localCheckpoint()
    dump("kcore_peel_step", queries.TextQueries.kcorePeelStep(symAb, alive0),
      "ONE dedupKcore peel round (TextQueries.kcorePeelStep): both edge " +
        "endpoints filtered against the alive set, surviving-degree " +
        "aggregate, >= k cut.")

    spark.stop()
  }
}
