package graft

/** Plan-regression tests: the physical plans that make these queries
  * scale are asserted, not assumed — broadcast joins for dimensions,
  * filter pushdown into the parquet scans, column pruning, top-k as
  * TakeOrdered, and single evaluation of the expensive hash kernels.
  */
class PlanSpec extends SparkTestBase {

  private def physical(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString

  private def optimized(name: String): String =
    SparkEntry.queries(name)(spark, sf()).queryExecution.optimizedPlan.toString

  test("q1_agg: shipdate filter is pushed into the parquet scan") {
    val p = physical("q1_agg")
    assert(p.contains("PushedFilters"))
    assert(p.contains("LessThanOrEqual(l_shipdate"))
  }

  test("q5_region_join: dimension joins broadcast (no fact-table shuffle for dims)") {
    assert(physical("q5_region_join").contains("BroadcastHashJoin"))
  }

  test("q3_topk: LIMIT after ORDER BY runs as TakeOrdered, not a full sort") {
    assert(physical("q3_topk").contains("TakeOrderedAndProject"))
  }

  test("text_langid: documents scan prunes to the needed columns") {
    val p = physical("text_langid")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("lang") &&
      readSchema.contains("text"))
    assert(!readSchema.contains("source") && !readSchema.contains("n_chars"))
  }

  test("dedup_minhash: token-hash kernel evaluated exactly once per row") {
    val p = optimized("dedup_minhash")
    assert("graft_h32_array".r.findAllIn(p).length == 1, p.take(2000))
    assert("graft_minhash".r.findAllIn(p).length == 1)
  }

  test("pipe_* queries parse the payload JSON exactly once per row") {
    Seq("pipe_parse_stats", "pipe_transform", "pipe_jsonata", "pipe_jsonata_t2",
        "pipe_jsonata_t3").foreach { q =>
      val p = optimized(q)
      assert("from_json".r.findAllIn(p).length == 1, s"$q: ${p.take(1500)}")
      assert(!p.contains("parse_json"), s"$q still has a variant parse pass")
    }
  }

  test("text_langid / text_quality: tokenize once per row (staged barriers)") {
    val p = optimized("text_langid")
    assert("split\\(".r.findAllIn(p).length == 1, p.take(2000))
    val q = optimized("text_quality")
    assert("split\\(".r.findAllIn(q).length == 1, q.take(2000))
    assert("regexp_replace".r.findAllIn(q).length == 1)
  }

  test("dedup_simhash: hash kernels evaluated once; no duplicated md5 pass") {
    val p = optimized("dedup_simhash")
    assert("graft_h32_array".r.findAllIn(p).length == 1)
    assert("graft_simhash".r.findAllIn(p).length == 1)
  }

  test("emb_neardup: candidate join is key-based, not cartesian/nested-loop") {
    val p = physical("emb_neardup")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("text_unigram_lp: no forced broadcast on the open vocabulary side") {
    // the vocab relation grows with the corpus — the join strategy must be
    // AQE's choice, never a hard-coded hint; the scalar total is a subquery
    val o = optimized("text_unigram_lp")
    assert(!o.contains("ResolvedHint"), o.take(2000))
    assert(o.contains("scalar-subquery"), o.take(2000))
  }

  test("knn_brute: query side broadcasts (corpus never shuffles for the join)") {
    assert(physical("knn_brute").contains("BroadcastNestedLoopJoin") ||
      physical("knn_brute").contains("BroadcastHashJoin"))
  }

  test("knn_ivf_kmeans: centroid assignment is a pure projection (no Exchange)") {
    val e = queries.VectorQueries.emb(spark, sf())
    val cent = Seq(0 -> Seq.fill(64)(0.1), 1 -> (0 until 64).map(_.toDouble))
    val p = queries.VectorQueries.assignListsProjection(e, cent)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p.take(2000))
  }

  test("dedup_simhash_pairs: block join is key-based; one simhash kernel per side") {
    val p = physical("dedup_simhash_pairs")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
    // candidate generation (both sides of the capped block join, each with
    // its bucket-size branch) + two verify joins re-derive the signature,
    // but each derivation runs the kernel exactly once (no md5 fan-out);
    // the twin bucket-size aggregates hash-partition on the same
    // (block, bval) keys, so AQE reuses the exchange at run time
    val o = optimized("dedup_simhash_pairs")
    assert("graft_simhash".r.findAllIn(o).length == 6, o.take(2000))
  }

  test("knn_lsh: band and rerank joins are key-based, never nested-loop") {
    val p = physical("knn_lsh")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("mm_phash: candidate join is key-based, never nested-loop") {
    val p = physical("mm_phash")
    assert(!p.contains("CartesianProduct"))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("split_assign: pure projection — no aggregate, no join, one output sort") {
    val p = physical("split_assign")
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("HashAggregate"), p.take(2000))
  }

  test("text_rolling_fp / text_cdc_chunks: kernel projection only (no hash exchange)") {
    // both are per-row kernel + explode shapes; a hashpartitioning would
    // mean the corpus started shuffling for a projection
    Seq("text_rolling_fp", "text_cdc_chunks").foreach { q =>
      val p = physical(q)
      assert(!p.contains("hashpartitioning"), s"$q: ${p.take(2000)}")
      assert(p.contains("graft_rolling_hash"), s"$q lost the native kernel")
    }
  }

  test("emb_mips: corpus stays projection-shaped; 1-row max and queries broadcast") {
    val p = physical("emb_mips")
    assert(!p.contains("hashpartitioning(vec_id"), p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(3000))
  }

  test("pipe_gap_fill: grid explode sits above the cell aggregate, not the events scan") {
    // the Generate must consume the (user, h0, h1) bounds aggregate —
    // exploding before aggregation would regenerate per event row
    val o = optimized("pipe_gap_fill")
    val genIdx = o.indexOf("Generate explode(sequence")
    val aggIdx = o.indexOf("Aggregate")
    assert(genIdx >= 0 && aggIdx >= 0 && genIdx < o.lastIndexOf("Aggregate"),
      o.take(2500))
  }

  test("text_classifier_score: scoring is a pure projection (weights are plan literals)") {
    // the fasttext-style filter's whole value is that it adds NO plan
    // structure: no join, no aggregate, one tokenize, one md5 kernel pass
    val p = physical("text_classifier_score")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("HashAggregate"), p.take(2000))
    val o = optimized("text_classifier_score")
    assert("graft_h32_array".r.findAllIn(o).length == 1, o.take(2000))
    assert("split\\(".r.findAllIn(o).length == 1, o.take(2000))
  }

  test("text_pii: scan+redact is a stateless projection (no join, no aggregate)") {
    val p = physical("text_pii")
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("HashAggregate"), p.take(2000))
  }

  test("text_boilerplate: line explode feeds a key-based join-back, never nested-loop") {
    val p = physical("text_boilerplate")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("Generate"), p.take(2000)) // the line-unit explode
  }

  test("corpus_source_profile / corpus_alpha_mix: one scan, no join; windows over the tiny relation") {
    Seq("corpus_source_profile", "corpus_alpha_mix").foreach { q =>
      val p = physical(q)
      assert(!p.contains("Join"), s"$q: ${p.take(2000)}")
    }
    // alpha_mix's normalization windows must consume the |langs|-row
    // aggregate, never the corpus: the aggregate sits BELOW the windows
    val p = physical("corpus_alpha_mix")
    assert(p.indexOf("Window") < p.indexOf("HashAggregate"), p.take(2500))
    val o = optimized("corpus_source_profile")
    assert("split\\(".r.findAllIn(o).length == 1, o.take(2000))
  }

  test("text_boilerplate_clean: key-based join-back; list reassembly is an object aggregate") {
    val p = physical("text_boilerplate_clean")
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("ObjectHashAggregate"), p.take(2000)) // collect_list path
  }

  test("sample_fixed_k: rank cut pushes to both shuffle sides (WindowGroupLimit)") {
    // map-side WindowGroupLimit means each partition forwards at most k
    // rows per language — the property that keeps the shuffle bounded
    val p = physical("sample_fixed_k")
    assert("WindowGroupLimit".r.findAllIn(p).length >= 2, p.take(2500))
  }

  test("corpus_shuffle: exactly one hash exchange (the shard window), no global sort before it") {
    // the layout's only data shuffle is partition-by-shard; the final
    // orderBy is the harness output sort (range exchange), not a plan cost
    val p = physical("corpus_shuffle")
    assert("hashpartitioning".r.findAllIn(p).length == 1, p.take(2500))
  }

  test("emb_silhouette: centroids broadcast; corpus side never cross-joins") {
    val p = physical("emb_silhouette")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2500))
    assert(!p.contains("CartesianProduct"), p.take(2500))
  }

  test("pipe_concurrency: exactly one single-partition window (the bounded hours carry)") {
    // corpus-sized work stays in per-hour/per-user partitions; only the
    // |hours|-row carry relation ever funnels to one partition
    val p = physical("pipe_concurrency")
    assert("SinglePartition".r.findAllIn(p).length == 1, p.take(3000))
  }

  test("q_topk_merge: every lineage runs as TakeOrdered, no full sort") {
    val p = physical("q_topk_merge")
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 3, p.take(2500))
  }

  test("mm_scene_cut: frame hex staged once behind the barrier") {
    // the byte-array transform references the staged hex attribute; an
    // inlined hex() would re-encode the frame once per lambda element
    val p = optimized("mm_scene_cut")
    assert("hex\\(".r.findAllIn(p).length == 1, p.take(2500))
  }

  test("pipe_session_native: the native session_window operator plans") {
    assert(optimized("pipe_session_native").contains("session_window"))
  }

  test("pipe_rolling_active: the day list broadcasts into the range join") {
    // the non-equi ≤7-anchor join must build on the |days|-row side;
    // without the hint Catalyst's event-derived size estimate for the
    // double-aggregate could flip the build to the |days|×DAU side
    val p = physical("pipe_rolling_active")
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q_set_ops_all: bag semantics plan as aggregation + generate, never a join") {
    // Spark compiles exceptAll/intersectAll to signed-count aggregation
    // with a replicate Generate — a join appearing here would mean the
    // multiset rewrite regressed to something quadratic-prone
    val p = physical("q_set_ops_all")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p.take(2500))
    assert(p.contains("Generate"), p.take(2500))
  }

  test("q_decimal_sum: decimal totals partial-aggregate; sum type widened") {
    val df = SparkEntry.queries("q_decimal_sum")(spark, sf())
    val p = df.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).length >= 2, p.take(2500))
    // overflow-safe widening INSIDE the agg: DECIMAL(18,2) sums to
    // DECIMAL(28,2) (pinned on the same aggregate shape — plan strings
    // don't print attribute types); the OUTPUT column is the r13
    // driver-stable string rendering of that exact total
    import org.apache.spark.sql.functions.{col, sum => sqlSum}
    val widened = Tables.orders(spark, sf())
      .select(col("o_totalprice").cast("decimal(18,2)").as("p"))
      .agg(sqlSum("p")).schema.head.dataType
    assert(widened == org.apache.spark.sql.types.DecimalType(28, 2))
    assert(p.contains("sum(price_d"), p.take(2500))
    assert(df.schema("total_exact").dataType ==
      org.apache.spark.sql.types.StringType)
    // the ratio column stays a double derived from the exact total
    assert(df.schema("avg_exact").dataType ==
      org.apache.spark.sql.types.DoubleType)
  }

  test("PLANS.md is fresh: every registered query has a plan section") {
    // PLANS.md went stale once (r4) when queries were added without
    // regenerating it; `sbt "runMain graft.Explain"` rebuilds it
    val plans = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("PLANS.md")), "UTF-8")
    val sections = plans.linesIterator.filter(_.startsWith("## "))
      .map(_.stripPrefix("## ").trim).toSet
    val missing = SparkEntry.queries.keySet.diff(sections)
    assert(missing.isEmpty,
      s"queries missing from PLANS.md (run: sbt \"runMain graft.Explain\"): $missing")
  }

  test("emb_pq: code assignment is projection-only (no hash exchange)") {
    // codebooks are plan literals; the only exchange is the output
    // range-sort — a hashpartitioning would mean a corpus shuffle
    val p = physical("emb_pq")
    assert(!p.contains("hashpartitioning"), p.take(3000))
  }

  test("knn_ivf_pq: corpus stays projection-shaped (no exchange keyed on vec_id)") {
    // lists + codes are literal-based projections; probe side broadcasts;
    // only the query-keyed rank window and output sort may exchange
    val p = physical("knn_ivf_pq")
    assert(!p.contains("hashpartitioning(vec_id"), p.take(3000))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(3000))
  }

  test("knn_ivf_kmeans: no full-corpus shuffle (no exchange keyed on vec_id)") {
    // the final assignment used to run corpus×centroids through a
    // row_number window partitioned by vec_id — an 8×-corpus shuffle;
    // it must stay an argmax projection against the centroid literals
    val p = physical("knn_ivf_kmeans")
    assert(!p.contains("hashpartitioning(vec_id"), p.take(3000))
  }

  test("sample_balanced: histogram broadcasts onto the corpus scan") {
    // pass 2 must be scan + broadcast of the |langs|-row histogram (the
    // histogram's own partial-agg exchange carries |langs|×tasks rows);
    // the corpus itself must never sort-merge join or re-sort on lang
    val p = physical("sample_balanced")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("text_chunks: pure explode-projection (only the output sort exchanges)") {
    val p = physical("text_chunks")
    assert(!p.contains("hashpartitioning"), p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
  }

  test("text_pack: exactly one window shuffle, keyed on the packing shard") {
    val p = physical("text_pack")
    assert("hashpartitioning\\(lang".r.findAllIn(p).length >= 1, p.take(3000))
    // no second aggregation/join exchange beyond the window + output sort
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"))
  }

  test("dedup_semantic: pair generation is an equi-join on list_id, not cartesian") {
    val p = physical("dedup_semantic")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("text_contaminate: overlap is a shingle-keyed equi-join, never cartesian") {
    val p = physical("text_contaminate")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("text_cms / text_hll: sketch builds are aggregations, no corpus join") {
    // the sketch tables are tiny aggregates; the only joins are the
    // estimate probes against them — never a join on the token stream
    Seq("text_cms", "text_hll").foreach { q =>
      val p = physical(q)
      assert(!p.contains("CartesianProduct"), s"$q: ${p.take(2000)}")
      assert(!p.contains("SortMergeJoin"), s"$q: ${p.take(2000)}")
    }
  }

  test("pipe_funnel: all stages join on user_id, no nested-loop fallback") {
    val p = physical("pipe_funnel")
    assert(!p.contains("CartesianProduct"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("text_bloom: probe is a broadcast of the bit set, never a shingle join") {
    // the whole point vs text_contaminate: the training side must not
    // shuffle or sort-merge join on the open shingle vocabulary
    val p = physical("text_bloom")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(!p.contains("hashpartitioning(sh"), p.take(3000))
    // one md5 per shingle per side (k positions are universal-hash mixes
    // of a single staged h32 — CollapseProject must not inline it 4×)
    val o = optimized("text_bloom")
    assert("md5".r.findAllIn(o).length == 2, o.take(3000))
  }

  test("text_pmi: unigram and total joins broadcast onto the bigram aggregate") {
    val p = physical("text_pmi")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("profile_cols: NO Expand — one column-pruned distinct branch per column") {
    // r17 contract: the former single multi-distinct aggregate Expanded
    // every row ×(ncols+1) and shuffled 11-column-wide distinct keys; the
    // new shape is one pruned scan branch per profiled column (partial
    // per-partition distinct, union of 1-row branch aggregates)
    val p = physical("profile_cols")
    assert(!p.contains("Expand"), p.take(3000))
    assert("Scan parquet".r.findAllIn(p).length == 11, p.take(3000))
    // every branch reads at most its own column — no branch scan may
    // read the full 11-column width
    assert(!p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey"), p.take(6000))
  }

  test("knn_ivf_incremental: returned plan is batch-only — broadcasts, no corpus shuffle") {
    // quantizer + reference stats are control-plane literals collected at
    // build; the returned plan may scan embeddings only for the BATCH
    // (assignment pass + drift pass), join only via broadcast (8-row
    // centroid relation, 1-row drift scalar)
    val p = physical("knn_ivf_incremental")
    assert("Scan parquet".r.findAllIn(p).length == 2, p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("dup_span_recall: the doc-sample bound is pushed to both parquet scans") {
    // the dial's 100 TB contract: work ∝ sample size, so the doc_id <
    // sample filter must prune at the scan, not post-scan. Four scans:
    // each coverage arm reads the fingerprint relation twice (occurrence
    // rows + document-frequency side) — every one sample-bounded
    val p = physical("dup_span_recall")
    assert("PushedFilters: \\[.*LessThan\\(doc_id".r.findAllIn(p).length == 4, p.take(4000))
  }

  test("profile_cols_approx: NO Expand — per-column pruned branches, register partial-aggs") {
    val p = physical("profile_cols_approx")
    // the whole point vs profile_cols: no exact-distinct Expand; one
    // column-pruned scan branch per profiled column whose register
    // partial aggregate caps the branch exchange at 257 rows per map
    // partition (row expansion through a Generate measured 5x slower)
    assert(!p.contains("Expand"), p.take(3000))
    assert("Scan parquet".r.findAllIn(p).length == 11, p.take(3000))
    // every branch reads at most its own column (plus nothing else):
    // no branch scan may read the full 11-column width
    assert(!p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey"), p.take(6000))
  }

  test("emb_pca1: scoring pass is scan -> project (eigenvector as literals)") {
    // the covariance + eigensolve are control-plane (collected before the
    // plan is returned); the returned plan must be a pure projection with
    // only the output sort exchanging
    val p = physical("emb_pca1")
    assert("Exchange".r.findAllIn(p).length == 1, p.take(3000))
    assert(!p.contains("Join"), p.take(3000))
    assert("Scan parquet".r.findAllIn(p).length == 1, p.take(3000))
  }

  test("pipe_anomaly: type stats broadcast onto the scan; stream never shuffles") {
    val p = physical("pipe_anomaly")
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("q_skew_agg: two-level aggregate — salted exchange before the key exchange") {
    val p = physical("q_skew_agg")
    assert(p.contains("hashpartitioning(l_returnflag"), p.take(3000))
    assert(p.contains("_salt"), p.take(3000))
    assert("hashpartitioning\\(".r.findAllIn(p).length >= 2, p.take(3000))
  }

  test("q_zorder_write: scan is catalog-pruned on zfile AND pushes the box predicate") {
    val p = physical("q_zorder_write")
    // partition pruning: only the envelope-intersecting zfile dirs are listed
    assert("PartitionFilters: \\[zfile#\\d+ IN \\(".r.findFirstIn(p).isDefined, p.take(3000))
    // footer pruning: both box dimensions reach the parquet reader
    // (compact toString elides PushedFilters past ~100 chars; DataFilters
    // lists the same pushed set in full)
    assert(p.contains("GreaterThanOrEqual(d1,3)") && p.contains("LessThanOrEqual(d1,5)"), p.take(3000))
    assert("\\(d2#\\d+ >= 2\\)".r.findFirstIn(p).isDefined &&
      "\\(d2#\\d+ <= 4\\)".r.findFirstIn(p).isDefined, p.take(3000))
    // column pruning: the key is projected away before the read
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_orderkey"), readSchema)
  }

  test("q_cluster_ingest: LSM read bill — base scan catalog-pruned, box pushed into BOTH branches") {
    val p = physical("q_cluster_ingest")
    // the union reads exactly two relations: clustered base + delta tail
    assert("Scan parquet".r.findAllIn(p).length == 2, p.take(3000))
    // base branch: envelope-selected zfile partitions only (the -1 arm
    // of the OR can never match a real partition, so it prunes the same)
    assert("zfile#\\d+ IN \\(".r.findFirstIn(p).isDefined, p.take(3000))
    // both branches push the box predicate to the parquet reader
    assert("GreaterThanOrEqual\\(d1,3\\)".r.findAllIn(p).length == 2, p.take(3000))
    // the delta branch carries no zfile predicate (constant-folded) and
    // reads only its own 3 data columns
    val deltaScan = p.linesIterator.find(l =>
      l.contains("FileScan parquet") && l.contains("/delta/")).getOrElse("")
    assert(deltaScan.contains("PartitionFilters: []"), deltaScan)
  }

  test("q_dpp: the fact scan carries a runtime pruning subquery on zfile") {
    val p = physical("q_dpp")
    // DPP inserted: the partition filter is the dim-side subquery, not a
    // static list — silently degrading to a full scan is the regression
    // this pin exists to catch
    assert(p.contains("dynamicpruningexpression"), p.take(3000))
    assert("PartitionFilters: \\[.*zfile#\\d+".r.findFirstIn(p).isDefined, p.take(3000))
    // dim side broadcasts; the fact never shuffles for the join
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }
}
