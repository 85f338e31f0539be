package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-stretch harness: materialize FACTOR× copies of the tables behind
  * the most expensive queries, run those queries at 1× and FACTOR×, and
  * print per-row cost growth — evidence that the pinned plans scale
  * near-linearly (SCALE.md). Copies model growth the way real corpora
  * grow: new entities (remapped keys, perturbed texts), not FACTOR
  * verbatim replicas — verbatim duplication would multiply LSH bucket
  * collisions quadratically and measure a data artifact, not the plan.
  *
  * Run: sbt "runMain graft.Stretch [srcDir] [workDir] [factor]"
  */
object Stretch {
  private val Queries = Seq("pipe_jsonata_t3", "q_window_running", "dedup_keep",
    "pipe_jsonata_t2", "dedup_minhash_pairs", "emb_pq", "knn_ivf_pq",
    "dedup_cc", "text_curate", "dedup_semantic")

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val workDir = args.lift(1).getOrElse("/tmp/graft_stretch")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th+ args: measure these queries instead of the default set
    val queries = if (args.length > 3) args.drop(3).toSeq else Queries
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(100000).selectExpr("sum(id * 2)").collect()

    val KeyStride = 100000000L // far above any source key
    def copies(base: DataFrame, remap: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => remap(base, i)).reduce(_ unionAll _)

    // SPARK_GRAFT_STRETCH_REUSE=1 skips re-materialization when the
    // stretched tables already exist (re-measuring solo after a
    // contaminated window, or measuring a second query batch). The
    // factor marker guards the two silent-reuse failure modes: a dir
    // materialized at a DIFFERENT factor (per-row growth would divide
    // by the wrong n) and a run killed mid-write (marker is written
    // last, after every table).
    val marker = new java.io.File(s"$workDir/_stretch_factor")
    val reuse = sys.env.get("SPARK_GRAFT_STRETCH_REUSE").contains("1") && {
      val tablesExist =
        Seq("events", "lineitem", "orders", "customer", "documents", "embeddings")
          .forall(t => new java.io.File(s"$workDir/$t.parquet").exists())
      val markerOk = marker.exists() &&
        java.nio.file.Files.readString(marker.toPath).trim == factor.toString
      if (tablesExist && !markerOk)
        println(s"[stretch] REUSE requested but $workDir has no matching " +
          s"factor=$factor marker (stale or partial tables) — re-materializing")
      tablesExist && markerOk
    }
    if (reuse) println(s"[stretch] reusing ${factor}x tables in $workDir")
    else {
      // events: new event ids per copy; payload content per row unchanged
      copies(Tables.events(spark, srcDir), (df, i) =>
        df.withColumn("event_id", col("event_id") + lit(i * KeyStride)))
        .write.mode("overwrite").parquet(s"$workDir/events.parquet")
      // lineitem: new suppliers/orders per copy (scale grows entities, so
      // per-supplier window partitions stay constant-size)
      copies(Tables.lineitem(spark, srcDir), (df, i) =>
        df.withColumn("l_suppkey", col("l_suppkey") + lit(i * KeyStride))
          .withColumn("l_orderkey", col("l_orderkey") + lit(i * KeyStride)))
        .write.mode("overwrite").parquet(s"$workDir/lineitem.parquet")
      // orders: new order/customer keys per copy
      copies(Tables.orders(spark, srcDir), (df, i) =>
        df.withColumn("o_orderkey", col("o_orderkey") + lit(i * KeyStride))
          .withColumn("o_custkey", col("o_custkey") + lit(i * KeyStride)))
        .write.mode("overwrite").parquet(s"$workDir/orders.parquet")
      // customer: new customer keys per copy (dimension grows with scale —
      // q_scd2's change batch stays a fixed FRACTION of the dimension)
      copies(Tables.customer(spark, srcDir), (df, i) =>
        df.withColumn("c_custkey", col("c_custkey") + lit(i * KeyStride)))
        .write.mode("overwrite").parquet(s"$workDir/customer.parquet")
      // documents: new doc ids AND a per-copy token appended to the text so
      // minhash signatures differ across copies (same dup RATE as source)
      copies(Tables.documents(spark, srcDir), (df, i) =>
        if (i == 0) df else df
          .withColumn("doc_id", col("doc_id") + lit(i * KeyStride))
          .withColumn("text", concat(col("text"), lit(s" stretchcopy$i"))))
        .write.mode("overwrite").parquet(s"$workDir/documents.parquet")
      // embeddings: new vec ids per copy (queries/seeds keep coming from
      // copy 0, so the ANN corpus grows 10x under the same index shape)
      copies(Tables.embeddings(spark, srcDir), (df, i) =>
        df.withColumn("vec_id", col("vec_id") + lit(i * KeyStride)))
        .write.mode("overwrite").parquet(s"$workDir/embeddings.parquet")
      java.nio.file.Files.writeString(marker.toPath, factor.toString)
      println(s"[stretch] wrote ${factor}x tables to $workDir")
    }

    def medianTime(name: String, dir: String): Double = Bench.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    })

    val rows = queries.map { q =>
      val t1 = medianTime(q, srcDir)
      val tN = medianTime(q, workDir)
      val perRowGrowth = tN / t1 / factor
      println(f"[stretch] $q%-22s 1x=${t1}%6.2fs ${factor}x=${tN}%7.2fs " +
        f"total-growth=${tN / t1}%5.2fx per-row-growth=${perRowGrowth}%5.2fx")
      s""""$q":{"t1":$t1,"tN":$tN,"factor":$factor,"per_row_growth":$perRowGrowth}"""
    }
    println(rows.mkString("{", ",", "}"))
    spark.stop()
  }
}
