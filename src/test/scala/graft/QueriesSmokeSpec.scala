package graft

/** Every declared query runs end-to-end at sf0.001 and its schema matches
  * what the oracle compare will see (non-empty where the data guarantees
  * rows). The DuckDB hash-compare happens out-of-band (tools/check.py);
  * this spec catches analysis/runtime exceptions early.
  */
class QueriesSmokeSpec extends SparkTestBase {

  // queries whose result can legitimately be empty at sf0.001
  private val mayBeEmpty = Set("emb_neardup", "q_anti_join", "dedup_minhash_pairs")

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"query $name runs at sf0.001") {
      val df = fn(spark, sf())
      val n = df.count()
      assert(df.columns.nonEmpty)
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("q_topk_heap: the bounded-heap aggregator reproduces the window form " +
      "row-for-row and its plan aggregates instead of sort+window") {
    val heap = SparkEntry.queries("q_topk_heap")(spark, sf())
    val win = SparkEntry.queries("q_window_rank")(spark, sf())
      .select(heap.columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
    assert(heap.exceptAll(win).isEmpty && win.exceptAll(heap).isEmpty,
      "heap top-k must equal row_number top-k exactly (ties included)")
    // the scale claim: partial ObjectHashAggregate, no Window/full sort
    val plan = heap.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"expected ObjectHashAggregate partial/final in:\n$plan")
    assert(!plan.contains("Window"), s"heap form must not fall back to a window:\n$plan")
  }

  test("TopKByScore: bounded buffer, rank order, tie-breaks, merge of partials") {
    val agg = new graft.functions.TopKByScore(3)
    import graft.functions.TopKIn
    val rows = Seq(TopKIn(5.0, 9L), TopKIn(7.0, 2L), TopKIn(5.0, 1L),
      TopKIn(3.0, 4L), TopKIn(7.0, 8L), TopKIn(1.0, 5L))
    val full = rows.foldLeft(agg.zero)(agg.reduce)
    assert(full == Seq(TopKIn(7.0, 2L), TopKIn(7.0, 8L), TopKIn(5.0, 1L)),
      s"rank = score DESC then id ASC, bounded at k: $full")
    // merging any split of the stream equals folding the whole stream
    val (l, r) = rows.splitAt(2)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))
    assert(merged == full, s"merge(partials) must equal the single fold: $merged")
  }

  test("every query has oracle SQL or is explicitly rows-only") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries missing oracleSql: $noOracle")
  }

  test("dedup_kcore reaches its fixpoint within the round cap at sf0.01") {
    // the cap-vs-convergence contract (TextQueries.dedupKcore scaladoc):
    // 6 peeling rounds must suffice for the test corpus — every emitted
    // row self-reports stable=true (last two alive sets equal). On a
    // corpus where the peel is deeper, stable=false rows surface the cap
    // in-band; this pin guarantees our oracle-gated result is converged,
    // not a truncation artifact.
    import org.apache.spark.sql.functions.col
    val out = SparkEntry.queries("dedup_kcore")(spark, sf("sf0.01"))
    assert(out.filter(!col("stable")).isEmpty, "peeling did not converge within the cap")
    // and the core is the REAL k-core: every member keeps >= k in-core
    // neighbors, a property the fixpoint guarantees
    assert(out.filter(col("in_core") && col("core_deg") < 3).isEmpty)
  }

  test("q_quantiles_approx honors the histogram sketch's rank-error contract") {
    // the honest accuracy contract of a count-histogram quantile: the
    // estimate lands within the bucket containing the count-crossing
    // rank, which is within 2 ranks of quantile_cont's continuous rank —
    // so it must lie inside [x(floor(r)-1), x(floor(r)+2)] ± a bin width.
    // (A fixed %-of-range bound would be wrong: with one-count tail
    // buckets the error is the LOCAL inter-value gap, not the bin width —
    // at sf0.001 the p99 gap is ~20% of range and that is correct.)
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("q_quantiles_approx")(spark, sf())
      .collect().map(r => r.getString(0) ->
        Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    val ev = graft.Tables.events(spark, sf())
      .select(col("event_type"), col("value"))
      .collect().map(r => r.getString(0) -> r.getDouble(1))
    val range = ev.map(_._2).max - ev.map(_._2).min
    val binw = range / 4096
    val byType = ev.groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    assert(approx.keySet == byType.keySet)
    byType.foreach { case (t, vals) =>
      val n = vals.length
      Seq(0.5, 0.9, 0.99).zip(approx(t)).foreach { case (p, a) =>
        val r = p * (n - 1)
        val loB = vals(math.max(0, r.toInt - 1)) - binw - 1e-9
        val hiB = vals(math.min(n - 1, r.toInt + 2)) + binw + 1e-9
        assert(a >= loB && a <= hiB, s"$t p$p approx=$a not in [$loB, $hiB]")
      }
    }
  }

  test("text_bloom never misses a contamination hit text_contaminate found") {
    // the Bloom screen's one-sided error contract: false positives are
    // allowed, false negatives are not — per doc, bloom hits dominate
    // the exact equi-join's hits
    val exact = SparkEntry.queries("text_contaminate")(spark, sf())
      .select("doc_id", "n_hits").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = SparkEntry.queries("text_bloom")(spark, sf())
      .select("doc_id", "n_bloom_hits").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.keySet == bloom.keySet)
    exact.foreach { case (doc, hits) =>
      assert(bloom(doc) >= hits, s"doc $doc: bloom ${bloom(doc)} < exact $hits")
    }
  }

  test("pipe_gap_fill: all-null hours at the start, middle and end of a " +
      "series are gaps that carry the last non-null value") {
    // absent from the sf data; the DuckDB oracle's grid + left join +
    // last_value(v IGNORE NULLS) treats such an hour as a gap
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val h0 = 472222L // 2023-11-14 22:00 UTC, in hours
    val dir = java.nio.file.Files.createTempDirectory("graft_gap_fill").toString
    // (user_id, hour offset, value); user 1 has no event at all in hour 2
    Seq[(Long, Long, Option[Double])](
      (1, 0, None), (1, 1, Some(10.0)), (1, 1, Some(20.0)), (1, 3, None), (1, 3, None),
      (1, 4, Some(30.0)), (1, 4, None), (1, 5, None), (2, 0, Some(5.0)))
      .toDF("user_id", "dh", "value")
      .select(col("user_id"),
        timestamp_seconds((lit(h0) + col("dh")) * 3600 + 60).as("ts"), col("value"))
      .write.parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("pipe_gap_fill")(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2), Option(r.get(3))))
    assert(got == Seq(
      (1L, "2023-11-14 22:00:00", true, None),
      (1L, "2023-11-14 23:00:00", false, Some(15.0)),
      (1L, "2023-11-15 00:00:00", true, Some(15.0)),
      (1L, "2023-11-15 01:00:00", true, Some(15.0)),
      (1L, "2023-11-15 02:00:00", false, Some(30.0)),
      (1L, "2023-11-15 03:00:00", true, Some(30.0)),
      (2L, "2023-11-14 22:00:00", false, Some(5.0))))
  }
}
