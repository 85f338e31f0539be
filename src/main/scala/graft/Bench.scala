package graft

/** Benchmark entrypoint. Prints ONE JSON line with per-query times.
  *
  * Methodology (bench hygiene, VERDICT r5 #1): each query is timed
  * `SPARK_GRAFT_BENCH_RUNS` times (default 3) in *interleaved* rounds —
  * round 1 runs every query once, then round 2, ... — so transient machine
  * contention spreads across queries instead of polluting one of them.
  * The reported per-query number is the median across rounds; `value` is
  * the sum of medians. `subtotal_r5` sums medians over the exact 44-query
  * set benched in round 5, giving a like-for-like round-over-round signal
  * even as new queries are added.
  *
  * `SPARK_GRAFT_BENCH_DIAG=1` adds one stderr line per run: the split of
  * the timed span into plan construction and execution, Janino compiles
  * and JIT code-cache occupancy. Session settings: [[GraftSession]].
  */
object Bench {
  /** The 44 queries present in BENCH_r05.json — the like-for-like comparison set. */
  private val R5Queries: Set[String] = Set(
    "dedup_exact", "dedup_keep", "dedup_minhash", "dedup_minhash_pairs", "dedup_simhash",
    "emb_centroid_dist", "emb_lsh_buckets", "emb_neardup", "emb_quantize",
    "knn_brute", "knn_ivf", "knn_ivf_kmeans", "knn_recall", "mm_features",
    "pipe_asof_join", "pipe_interval_join", "pipe_jsonata", "pipe_jsonata_t2", "pipe_jsonata_t3",
    "pipe_parse_stats", "pipe_route", "pipe_sessionize", "pipe_stats_cube", "pipe_transform",
    "q1_agg", "q3_topk", "q5_region_join", "q_above_avg", "q_anti_join", "q_distinct_agg",
    "q_pivot", "q_quantiles", "q_rollup", "q_semi_join", "q_set_ops",
    "q_window_rank", "q_window_running",
    "text_dup_ngrams", "text_langid", "text_quality", "text_repetition", "text_stats",
    "text_top_tokens", "text_unigram_lp")

  private[graft] def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** JIT code-cache occupancy in MB (sum over the segmented CodeHeap
    * pools) — the r15 sweep-regression diagnostic: a full/thrashing
    * code cache de-optimizes the largest generated methods first.
    */
  private def codeCacheUsedMb(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed.toDouble).sum / (1 << 20)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val diag = sys.env.get("SPARK_GRAFT_BENCH_DIAG").contains("1")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session/codegen warmup so the first measured query doesn't absorb
    // JVM + Catalyst initialization
    spark.range(100000).selectExpr("sum(id * 2)").collect()

    // optional args restrict the run to named queries (targeted timing)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq
    val samples = collection.mutable.Map[String, Vector[Double]]().withDefaultValue(Vector.empty)
    val failed = collection.mutable.LinkedHashSet[String]()
    for (round <- 1 to runs; name <- names) {
      val fn = SparkEntry.queries(name)
      val cgm = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val (c0, cc0) = if (diag) (cgm.getCount, codeCacheUsedMb()) else (0L, 0.0)
      // timed: plan construction (incl. eager control-plane work) + toRdd.count(),
      // which forces every output column to be materialized; Dataset.count()
      // would let Catalyst prune projection-only work and under-report the
      // cost of compute-heavy columns.
      // A failed run records NO sample (a failure typically returns fast;
      // folding its short elapsed into the median would let a regression
      // masquerade as a speedup) — it lands in the `failed` field instead.
      val t0 = System.nanoTime()
      var t1 = t0 // end of construction
      try {
        val df = fn(spark, sfDir)
        t1 = System.nanoTime()
        df.queryExecution.toRdd.count()
        samples(name) = samples(name) :+ (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED (round $round): $e")
      }
      if (diag) System.err.println(
        f"[diag] round=$round name=$name construct=${(t1 - t0) / 1e9}%.3f " +
          f"exec=${(System.nanoTime() - t1) / 1e9}%.3f janinoCompiles=${cgm.getCount - c0} " +
          f"codeCacheMB=${codeCacheUsedMb()}%.1f (was ${cc0}%.1f)")
    }

    // a query with zero successful runs is excluded from every total and
    // reported only in `failed`
    val medians = names.filter(samples(_).nonEmpty).map(n => n -> median(samples(n)))
    val qs = medians.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = medians.map(_._2).sum
    val r5Shared = medians.filter { case (k, _) => R5Queries(k) }
    val subtotal = r5Shared.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$runs,"subtotal_r5":$subtotal,"subtotal_r5_n":${r5Shared.size},"failed":$failedJson}""")
    spark.stop()
  }
}
