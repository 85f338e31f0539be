package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.PipelineFunctions.stageBarrier

/** LLM-training-data pipeline operators over `documents`: exact dedup,
  * MinHash+LSH near-dup, SimHash, n-gram Jaccard, language ID, quality
  * scoring, token counting, fingerprinting.
  *
  * Scale design: every per-document computation (hashing, signatures,
  * band buckets) is an embarrassingly parallel projection — no shuffle.
  * The only shuffles are (a) the groupBy on content hash for exact dedup
  * and (b) the band-bucket equi-join for candidate pairs, which is the
  * standard LSH trick that replaces the O(n²) all-pairs comparison with
  * a key-partitioned join on (band, bucket) — the 100 TB-safe layout.
  */
object TextQueries {

  private val NumHashes = 16
  private val RowsPerBand = 4
  private val ShingleK = 3
  private val SourceCapK = 10

  /** The four parts [[qualityScoreFromParts]] reads, from text `t` and
    * its staged `toks`: one stageBarrier's staged columns. */
  private def qualityParts(t: Column): Seq[(String, Column)] = Seq(
    "n_chars" -> length(t),
    "alpha_len" -> length(regexp_replace(t, "[^A-Za-z ]", "")),
    "n_toks" -> size(col("toks")),
    "stop_hits" -> stopwordHits(col("toks"), StopwordsEn))

  /** The Gopher word statistics of text `t` and its staged `toks`, as
    * BIGINT staged columns. */
  private def wordStats(t: Column): Seq[(String, Column)] = Seq(
    "n_words" -> size(col("toks")).cast("long"),
    "word_chars" -> aggregate(transform(col("toks"), w => length(w).cast("long")),
      lit(0L), (a, x) => a + x),
    "n_chars" -> length(t).cast("long"),
    "sym_chars" -> length(regexp_replace(t, "[A-Za-z0-9 .,]", "")).cast("long"),
    "stop_hits" -> stopwordHits(col("toks"), StopwordsEn).cast("long"))

  /** [[wordStats]] with alpha_len staged before stop_hits. */
  private def wordAlphaStats(t: Column): Seq[(String, Column)] = {
    val stats = wordStats(t)
    stats.init ++ Seq(
      "alpha_len" -> length(regexp_replace(t, "[^A-Za-z ]", "")).cast("long"), stats.last)
  }

  /** Exact dedup on content hash: first doc_id in each md5 cluster wins. */
  def dedupExact(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("fp").orderBy("doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("fp"), (col("rn") === 1).as("keep"))
      .orderBy("doc_id")
  }

  /** Staged MinHash plan shared by the dedup_minhash* queries. Each stage
    * is its own projection so multiply-referenced intermediates (hashed
    * shingles: 16 refs; signature: 4 band refs) are computed once per row
    * — inlining them would replicate the md5 pass per reference (Columns
    * are trees, not DAGs).
    */
  private[graft] def minhashStages(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .withColumn("shingles", wordShingles(col("toks"), ShingleK))
      .withColumn("hs", hashArray(col("shingles")))
      .withColumn("sig", minhashFromHashes(col("hs"), NumHashes))
      .withColumn("buckets", lshBandBuckets(col("sig"), RowsPerBand))

  /** Explode the band-bucket array to (doc_id, band, bucket) rows.
    * Deliberately `explode(constant band range)` + element_at rather than
    * posexplode(buckets): InferFiltersFromGenerate would add
    * `size(buckets) > 0` for a posexplode and predicate pushdown would
    * then re-derive the whole minhash tree a second time at the scan; on
    * a constant range the inferred filter constant-folds away and
    * `buckets` stays a materialized column.
    */
  private def explodeBands(stages: DataFrame): DataFrame =
    stages
      .select(col("doc_id"), col("buckets"),
        explode(sequence(lit(0), lit(NumHashes / RowsPerBand - 1))).as("band"))
      .select(col("doc_id"), col("band"),
        element_at(col("buckets"), col("band") + 1).as("bucket"))

  private val SsjT = 0.5 // Jaccard threshold (matches the LSH verify cut)

  /** Hot-bucket cap for the LSH band self-join — the minhash analog of
    * [[graft.functions.ScaleFunctions.hammingPairs]]' maxBucket (the
    * round-12 pigeonhole fix): a (band, bucket) group of size B yields
    * B²/2 candidates, and at the 100× stretch decade the biggest LSH
    * buckets are near-identical copy clusters whose quadratic candidate
    * mass OOMed the raw join (measured before this cap: exit-52 at
    * sf10). Buckets above the cap are excluded from candidate
    * generation, bounding candidates at n·cap/2 per band; a true pair
    * is lost only if EVERY band it collides on is hot — and a pair
    * sharing only hot buckets is, by construction, inside a ≥cap-sized
    * mutual-duplicate cluster that exact dedup already collapses. At
    * sf0.01 the largest bucket is 4, so the oracle gate is unchanged;
    * the cap exists for the decade where the quadratic tail lives.
    */
  private val MinhashMaxBucket = 64

  private[graft] def cappedBands(bands: DataFrame): DataFrame = {
    val hot = bands.groupBy("band", "bucket")
      .agg(count(lit(1)).as("bn")).filter(col("bn") > MinhashMaxBucket)
      .select("band", "bucket")
    bands.join(hot, Seq("band", "bucket"), "left_anti")
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * Chaudhuri/Bayardo/Xiao PPJoin-family primitive): every pair with
    * shingle-Jaccard >= [[SsjT]], with NO false negatives — the exact
    * counterpart of the MinHash-LSH candidate generator, for the corpus
    * sizes / thresholds where a dedup pass must be provably complete.
    * Prefix filter: order each document's distinct tokens rarest-first
    * (global df, token tiebreak — a consistent order needs no global
    * rank, just the (df, token) sort key); two sets with J >= t MUST
    * share a token within their first |s| − ceil(t·|s|) + 1 tokens, so
    * only prefix tokens explode into the candidate equi-join — and
    * because prefixes hold each document's RAREST tokens, candidate
    * volume tracks rare-token collisions, not document count squared.
    * On top of the prefix filter, the two remaining PPJoin pruning
    * filters run as predicates ON the candidate equi-join (so pruned
    * pairs never materialize): the LENGTH filter — J >= t forces
    * min(|a|,|b|) >= t·max(|a|,|b|) — and the POSITIONAL filter — a
    * match at 1-based prefix positions (pa, pb) in the shared global
    * (df, tok) sort order bounds the overlap by
    * min(pa,pb) + min(|a|−pa, |b|−pb), since every common element
    * sorts on the same side of the matched token in both arrays, and
    * J >= t needs overlap >= t·(|a|+|b|)/(1+t). Both predicates are
    * kept in multiplicative form (o·(1+t) >= t·(na+nb)) rather than a
    * float ceil so a boundary pair can never be rounded into a false
    * negative. Verification is exact Jaccard on the candidate pairs.
    *
    * The oracle is BRUTE-FORCE all-pairs Jaccard — a different
    * algorithm entirely — so the green gate is a cross-algorithm proof
    * that the prefix filter loses no pair. Scale shape: a vocabulary-
    * sized df aggregate, a token-keyed join, a per-doc sort (doc-sized
    * state), the prefix explode (~(1−t)·tokens per doc), and the
    * candidate equi-join; at 100 TB the df table shards like any
    * vocabulary relation and the prefix join is the standard exact
    * ssjoin layout.
    */
  def dedupSsjoinPrefix(s: SparkSession, dir: String): DataFrame = {
    // shingle sets, not word sets: on a small-vocabulary corpus every
    // pair shares half its WORDS (word-Jaccard 0.5 is vacuous and the
    // join degenerates toward all-pairs); 3-gram shingles are high-
    // cardinality, so the threshold is selective and the prefix filter
    // actually prunes — the same set domain the MinHash signature hashes
    // everything downstream — df table, per-doc sort, prefix explode,
    // candidate equi-join, intersect/union verify — runs on 60-bit md5
    // FINGERPRINTS of the shingles (8-byte longs, never ~25-byte
    // strings); the oracle mirrors the same hex plane, so parity is
    // exact and the set semantics are unchanged
    val staged = stageBarrier(
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= ShingleK),
      Seq(col("doc_id")),
      "hs" -> hashArrayBits(wordShingles(col("toks"), ShingleK), 60))
    val docs = staged.select(col("doc_id"), array_distinct(col("hs")).as("ws"))
    val toks = docs.select(col("doc_id"), explode(col("ws")).as("tok"))
    // df as a COUNT WINDOW over the tok partition instead of a groupBy +
    // join back (r17): same values, but one exchange on tok instead of
    // two evaluations of the tokenize→shingle→hash scan (the join's probe
    // and build sides each re-derived it — at 100 TB that is a whole
    // corpus pass saved, locally it halves the pre-aggregate work)
    val withDf = toks.withColumn("df",
      count(lit(1)).over(Window.partitionBy("tok")))
    // NOT checkpointed (r18 A/B: 4.8 → 6.8 s with a localCheckpoint
    // here): runtime exchange reuse already evaluates the aggregate's
    // exchange once across all five consumers, and the checkpoint only
    // added a serial materialization barrier + array-payload caching
    val ranked = withDf
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("df"), col("tok")))).as("sorted"),
        count(lit(1)).as("n"))
    val pre = ranked.select(col("doc_id"), col("n"),
        posexplode(slice(col("sorted"), lit(1),
          (col("n").cast("double") - ceil(col("n").cast("double") * SsjT) + 1)
            .cast("int"))))
      .select(col("doc_id"), col("n"), (col("pos") + 1).as("p"),
        col("col.tok").as("tok"))
    // overlap upper bound for a match at prefix positions (pa, pb):
    // common elements other than the match sort strictly before it in
    // BOTH arrays or strictly after it in both (same global sort key)
    val ubound = least(col("a.p"), col("b.p")) +
      least(col("a.n") - col("a.p"), col("b.n") - col("b.p"))
    val cand = pre.as("a")
      .join(pre.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id") &&
          // PPJoin length filter: J >= t ⇒ min(na,nb) >= t·max(na,nb)
          least(col("a.n"), col("b.n")).cast("double") >=
            greatest(col("a.n"), col("b.n")).cast("double") * SsjT &&
          // PPJoin positional filter: overlap bound must still admit
          // the t-required overlap t·(na+nb)/(1+t) — multiplicative
          // form, no float ceil ⇒ no boundary false negatives
          ubound.cast("double") * (1.0 + SsjT) >=
            (col("a.n") + col("b.n")).cast("double") * SsjT)
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // verify against the token sets REPROJECTED FROM `ranked` (sorted
    // carries every distinct token; intersect/union are order-blind, so
    // j is unchanged): both verify sides, the prefix relation and the
    // candidate self-join all sit above ranked's one aggregate exchange,
    // which Spark's exchange reuse evaluates once — the old docs-side
    // joins re-ran the shingle scan once per side (r17)
    val sets = ranked.select(col("doc_id"),
      transform(col("sorted"), t => t.getField("tok")).as("ws"))
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("ws").as("ws_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("ws").as("ws_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("ws_a"), col("ws_b"))).cast("double") /
          size(array_union(col("ws_a"), col("ws_b"))).cast("double")).as("j"))
      .filter(col("j") >= SsjT)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("j_shingle"))
      .orderBy("id_a", "id_b")
  }

  private val BandsSweepConfigs = Seq(2 -> 8, 4 -> 4, 8 -> 2) // (bands, rows/band)
  private val BandsSweepJaccard = 0.7

  /** The LSH S-curve tuning dial — candidate volume and precision as a
    * function of the (bands × rows) split of the SAME 16-hash signature
    * (Broder/LSH theory: P(candidate) = 1−(1−J^r)^b, threshold ≈
    * (1/b)^(1/r), so 2×8 ≈ 0.92, 4×4 ≈ 0.71 (the production config),
    * 8×2 ≈ 0.35). Per config: banded candidate join, exact
    * shingle-Jaccard verify at [[BandsSweepJaccard]], one
    * (n_cand, n_good, precision) row — the table a dedup deployment
    * reads to pick its operating point, where more bands buy recall at
    * the price of candidate volume (the thing that explodes first at
    * 100 TB) and precision. knn_recall_sweep's discipline: one persisted
    * signature pass feeds every config, per-config results are bounded
    * scalar counts, and the output is an exact integer-ratio 3-row
    * relation. At 100 TB this tuning pass runs over a bounded SAMPLE
    * (the dup_span_recall pattern) — the loose 8×2 point's candidate
    * volume grows superlinearly by design, which is precisely the cost
    * the sweep exposes before production commits to a config.
    */
  def dedupBandsSweep(s: SparkSession, dir: String): DataFrame = {
    val base = minhashStages(s, dir).persist()
    try {
      val sets = base.select(col("doc_id"), array_distinct(col("shingles")).as("ss"))
      // per-config chains are independent — overlap them (guide §2.6);
      // the persisted signature pass dedupes across them at block grain
      val rows = graft.functions.ScaleFunctions.inParallel(BandsSweepConfigs) { case (b, r) =>
        val bands = base
          .withColumn("bkts", lshBandBuckets(col("sig"), r))
          .select(col("doc_id"), col("bkts"),
            explode(sequence(lit(0), lit(b - 1))).as("band"))
          .select(col("doc_id"), col("band"),
            element_at(col("bkts"), col("band") + 1).as("bucket"))
        val cand = bands.as("a")
          .join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
          .distinct()
        val agg = cand
          .join(sets.select(col("doc_id").as("id_a"), col("ss").as("ss_a")), "id_a")
          .join(sets.select(col("doc_id").as("id_b"), col("ss").as("ss_b")), "id_b")
          .select((size(array_intersect(col("ss_a"), col("ss_b"))).cast("double") /
            size(array_union(col("ss_a"), col("ss_b"))).cast("double") >=
            BandsSweepJaccard).as("good"))
          .agg(count(lit(1)).as("n"),
            coalesce(sum(when(col("good"), 1L).otherwise(0L)), lit(0L)).as("g"))
          .collect()(0)
        val nCand = agg.getLong(0)
        val nGood = agg.getLong(1)
        (b, r, math.round(math.pow(1.0 / b, 1.0 / r) * 1e6) / 1e6,
          nCand, nGood,
          if (nCand == 0) 0.0 else nGood.toDouble / nCand)
      }
      import s.implicits._
      rows.toDF("n_bands", "rows_per_band", "threshold", "n_cand", "n_good", "prec")
    } finally base.unpersist(false)
  }

  /** MinHash signatures exploded to (doc_id, band, bucket) rows — the LSH
    * index table. Docs with < ShingleK tokens are excluded (no shingles).
    */
  def dedupMinhash(s: SparkSession, dir: String): DataFrame =
    explodeBands(minhashStages(s, dir))
      .orderBy("doc_id", "band")

  /** LSH candidate pairs verified with exact Jaccard (distinct word sets
    * and distinct 3-shingle sets); pairs kept at word-Jaccard >= 0.5.
    */
  def dedupMinhashPairs(s: SparkSession, dir: String): DataFrame = {
    // ONE evaluation of the tokenize→shingle→hash→minhash kernel (r18):
    // the banded self-join (2 sides), the hot-bucket cap (agg + anti
    // probe) and the two verify sides all consumed `base` — the static
    // plan evaluated the corpus kernel up to 12×. A lazy localCheckpoint
    // of the projection they actually share (buckets + distinct word /
    // shingle sets) materializes the kernel once on first use; every
    // consumer then reads the checkpointed rows. At 100 TB this is the
    // §2.4 rule: N corpus passes → 1 pass + a doc-sized materialization.
    val base = minhashStages(s, dir)
      .select(col("doc_id"), col("buckets"),
        array_distinct(col("toks")).as("ws"),
        array_distinct(col("shingles")).as("ss"))
      .localCheckpoint(false)
    val bands = cappedBands(explodeBands(base))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sets = base.select(col("doc_id"), col("ws"), col("ss"))
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("ws").as("ws_a"), col("ss").as("ss_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("ws").as("ws_b"), col("ss").as("ss_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("ws_a"), col("ws_b"))).cast("double") /
          size(array_union(col("ws_a"), col("ws_b"))).cast("double"), 6).as("j_word"),
        round(size(array_intersect(col("ss_a"), col("ss_b"))).cast("double") /
          size(array_union(col("ss_a"), col("ss_b"))).cast("double"), 6).as("j_shingle"))
      .filter(col("j_word") >= 0.5)
      .orderBy("id_a", "id_b")
  }

  /** Asymmetric containment pairs (Broder's containment coefficient):
    * |A∩B|/|A| and |A∩B|/|B| over distinct word sets, flagged when
    * either direction ≥ 0.7 — the QUOTE-INCLUSION detector symmetric
    * Jaccard misses by construction (a 50-word post quoted inside a
    * 5000-word page has j ≈ 0.01 but containment ≈ 1.0, and the small
    * side is the duplicate to drop). Candidates come from the same LSH
    * band index as dedup_minhash_pairs — honest caveat, pinned here:
    * MinHash approximates JACCARD, so extreme-size-ratio containment
    * pairs can be missed at the candidate stage; the 100 TB upgrade for
    * containment-first workloads is a prefix-filtered or winnowing
    * index (text_winnow_match is this repo's containment-native path).
    */
  def dedupContainment(s: SparkSession, dir: String): DataFrame = {
    // same one-kernel-evaluation checkpoint as [[dedupMinhashPairs]]
    val base = minhashStages(s, dir)
      .select(col("doc_id"), col("buckets"), array_distinct(col("toks")).as("ws"))
      .localCheckpoint(false)
    val bands = cappedBands(explodeBands(base))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val sets = base.select(col("doc_id"), col("ws"))
    cand
      .join(sets.select(col("doc_id").as("id_a"), col("ws").as("ws_a")), "id_a")
      .join(sets.select(col("doc_id").as("id_b"), col("ws").as("ws_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        round(size(array_intersect(col("ws_a"), col("ws_b"))).cast("double") /
          size(col("ws_a")).cast("double"), 6).as("contain_a"),
        round(size(array_intersect(col("ws_a"), col("ws_b"))).cast("double") /
          size(col("ws_b")).cast("double"), 6).as("contain_b"))
      .filter(greatest(col("contain_a"), col("contain_b")) >= 0.7)
      .orderBy("id_a", "id_b")
  }

  /** The dedup deliverable: which documents survive near-dup removal.
    * Canonical keep-first policy: a doc is dropped iff it appears as the
    * LARGER id of any verified near-dup pair (id_a < id_b ⇒ the earliest
    * doc of a duplicate cluster always survives; transitive chains
    * collapse onto their minimum without iterative connected components
    * because every later member pairs with some earlier one via LSH).
    */
  def dedupKeep(s: SparkSession, dir: String): DataFrame = {
    val dropped = dedupMinhashPairs(s, dir).select(col("id_b")).distinct()
    Tables.documents(s, dir).select(col("doc_id"))
      .join(dropped, col("doc_id") === col("id_b"), "left_outer")
      .select(col("doc_id"), col("id_b").isNull.as("keep"))
      .orderBy("doc_id")
  }

  /** SimHash fingerprints (32-bit) per document. Token hashes are
    * materialized before the 32-bit fan-out (32 references).
    */
  def dedupSimhash(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), hashArray(tokens(col("text"))).as("hs"))
      .select(col("doc_id"), simhashFromHashes(col("hs")).as("simhash"))
      .orderBy("doc_id")

  private val SimhashBits = 60      // Manku web-scale width (64-class; 60 = 15 md5 hex chars)
  private val SimhashBlocks = 4     // 4 blocks x 15 bits
  // hot-bucket cap for the pigeonhole block join (see ScaleFunctions
  // .hammingPairs): bounds candidate volume at n·cap/2 per block against
  // the low-entropy-fingerprint quadratic tail measured at the sf10
  // decade; recall loss only when EVERY matching block is hot
  private val HotBucketCap = 64
  private val SimhashBlockBits = SimhashBits / SimhashBlocks
  private val SimhashMaxHamming = SimhashBlocks - 1  // pigeonhole guarantee

  /** SimHash near-dup pairs via Hamming-distance block bucketing (Manku,
    * Jain & Sarma, WWW'07 "Detecting Near-Duplicates for Web Crawling").
    * A 60-bit fingerprint (their 64-bit f, truncated to 15 md5 hex chars
    * so it stays positive in a signed BIGINT on both engines) splits
    * into 4 disjoint 15-bit blocks; any two fingerprints within Hamming
    * distance 3 differ in at most 3 bits, so by pigeonhole at least one
    * block is IDENTICAL — an equi-join on (block_index, block_value)
    * generates every qualifying pair exactly (no recall loss), replacing
    * the O(n²) all-pairs Hamming scan with a key-partitioned join, the
    * same scale shape as the MinHash LSH join. Candidates are verified
    * with the exact popcount(xor) distance.
    *
    * 100 TB note: bucket occupancy per (block, value) key is n/2^15 —
    * the width is WHY this scales: the first cut of this query used a
    * 32-bit fingerprint with 8-bit blocks and measured 3.4× per-row cost
    * growth at a 10× stretch (n²/256 collision regime); at 15-bit blocks
    * the same stretch is collision-bounded 128× lower. Widening further
    * (multi-table, more blocks for larger k) is the Manku tuning.
    */
  def dedupSimhashPairs(s: SparkSession, dir: String): DataFrame = {
    // stageBarrier: inferred filters (isnotnull, size>0) would otherwise
    // be pushed through the projection and re-derive the md5+simhash
    // kernels a second time per row in each branch
    val sims = stageBarrier(
      Tables.documents(s, dir)
        .select(col("doc_id"), hashArrayBits(tokens(col("text")), SimhashBits).as("hs")),
      Seq(col("doc_id")),
      "simhash" -> simhashFromHashesBits(col("hs"), SimhashBits))
    graft.functions.ScaleFunctions
      .hammingPairs(sims, "doc_id", "simhash", SimhashBits, SimhashBlocks,
        maxBucket = HotBucketCap)
      .orderBy("id_a", "id_b")
  }

  private val WinnowW = 4   // winnowing window over consecutive shingle hashes

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every 3-word shingle, slide a
    * window of 4 consecutive hashes, and select the minimum of each
    * window (leftmost on ties), recording (position, hash). Adjacent
    * windows mostly re-select the same minimum, so the distinct selected
    * set is a sparse ~1/W-density fingerprint that is position-robust:
    * any shared run of w+k-1 tokens between two documents is guaranteed
    * to contribute at least one identical fingerprint — the guarantee
    * threshold that rolling-hash sampling (every-pth-hash) lacks.
    *
    * Scale shape: pure per-document projection (O(n·W) long compares per
    * doc after one md5 pass per shingle), then a distinct. Fingerprints
    * join against an index table on `fp` for containment search — same
    * bucketed-equi-join regime as the LSH band join.
    */
  /** The winnow selection rows (doc_id, pos, fp) shared by textWinnow
    * and textWinnowMatch.
    */
  private def winnowSelections(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      // need >= W shingles, i.e. >= W + ShingleK - 1 tokens (filter on
      // toks, not hs, so pushdown never re-derives the md5 pass)
      .filter(size(col("toks")) >= WinnowW + ShingleK - 1)
      .withColumn("shingles", wordShingles(col("toks"), ShingleK))
      .withColumn("hs", hashArray(col("shingles")))
    // W is small and fixed, so the window min is a least() over W direct
    // element_at reads + a leftmost-first when-chain for the argmin — no
    // per-window array allocation (the slice() formulation copied a
    // W-element array twice per window: 2x measured cost at sf0.1)
    val staged = stageBarrier(base, Seq(col("doc_id")),
      "sel" -> array_distinct(transform(
        sequence(lit(1), size(col("hs")) - (WinnowW - 1)),
        i => {
          val h = (0 until WinnowW).map(o => element_at(col("hs"), i + o))
          val mn = least(h: _*)
          val pos = (0 until WinnowW - 1).foldRight((i + (WinnowW - 1)).cast("long")) {
            case (o, rest) => when(h(o) === mn, (i + o).cast("long")).otherwise(rest)
          }
          struct(pos.as("pos"), mn.as("fp"))
        })))
    staged
      .select(col("doc_id"), explode(col("sel")).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.fp").as("fp"))
  }

  def textWinnow(s: SparkSession, dir: String): DataFrame =
    winnowSelections(s, dir).orderBy("doc_id", "pos")

  private val WinnowMaxDf = 50   // drop fingerprints shared by too many docs
  private val WinnowMinShared = 3

  /** Containment / plagiarism matches from the winnowing fingerprints —
    * the MOSS use-case the fingerprints exist for: two documents match
    * when they share >= MinShared selected fingerprints. Overly-common
    * fingerprints (document frequency > MaxDf — boilerplate shingles
    * every document carries) are dropped BEFORE the self-join, exactly
    * as MOSS drops ubiquitous fingerprints: that cut is what keeps the
    * fp equi-join collision-bounded at scale (a boilerplate fp would
    * otherwise be an n² hot key). Shapes: distinct (doc, fp) projection,
    * a vocabulary-sized df aggregate, the df cut as a fp-keyed semi
    * join, then the pair join + per-pair count.
    */
  def textWinnowMatch(s: SparkSession, dir: String): DataFrame = {
    // the winnow kernel (md5 pass + W-way min/argmin per window) fed the
    // df aggregate and BOTH pair-join sides — 8 scans in the static
    // plan; materialize the distinct (doc, fp) relation once (r18)
    val fdoc = winnowSelections(s, dir).select(col("doc_id"), col("fp")).distinct()
      .localCheckpoint(false)
    val keep = fdoc.groupBy("fp").agg(count(lit(1)).as("df"))
      .filter(col("df") <= WinnowMaxDf)
      .select("fp")
    val fk = fdoc.join(keep, "fp")
    fk.as("a")
      .join(fk.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy("id_a", "id_b")
  }

  private val RollW = 16            // rolling window, bytes
  private val RollB = 257L          // polynomial base
  private val RollM = 1000000007L   // modulus
  private val RollP = 8L            // keep fp ≡ 0 (mod p) → ~1/p density

  /** Rabin–Karp rolling-hash fingerprints with 0-mod-p selection — the
    * classic pre-winnowing fingerprint sampler (Manber '94; the
    * CDC/Karp–Rabin primitive): every 16-byte window's polynomial hash,
    * computed INCREMENTALLY by the native kernel (O(1) per position —
    * the naive per-window sum is O(w) per position), keep positions
    * whose hash ≡ 0 mod 8 for an expected 1/8-density fingerprint set.
    * Contrast with [[textWinnow]]: 0-mod-p has no per-window guarantee
    * (an adversarial / unlucky run can select nothing), which is exactly
    * the gap winnowing's min-of-window closes — the two queries are the
    * before/after of the SIGMOD'03 argument, both over one projection +
    * explode, no shuffle before the output sort.
    */
  private[graft] def rollingFpRows(s: SparkSession, dir: String): DataFrame = {
    val staged = stageBarrier(
      Tables.documents(s, dir).select(col("doc_id"), col("text").cast("binary").as("b")),
      Seq(col("doc_id")),
      "hs" -> graft.expressions.HashExpressions.rollingHashNative(col("b"), RollW, RollB, RollM))
    staged
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos0", "fp")))
      .filter(pmod(col("fp"), lit(RollP)) === 0)
      .select(col("doc_id"), col("pos0").cast("long").as("pos"), col("fp"))
  }

  def textRollingFp(s: SparkSession, dir: String): DataFrame =
    rollingFpRows(s, dir).orderBy("doc_id", "pos")

  /** Per-document duplicated-span coverage (the Lee et al. '22
    * "Deduplicating Training Data Makes Language Models Better"
    * diagnostic): the fraction of a document's sampled rolling-hash
    * fingerprints that also occur in at least one OTHER document — how
    * much of each document is text duplicated elsewhere, the dial that
    * justifies substring-level dedup. Runs over the 0-mod-p SAMPLE on
    * purpose: coverage is a ratio, so the 1/p sample estimates it at 1/p
    * cost and the fingerprint df table is sample-sized — the scale
    * answer for a 100 TB corpus where all-window accounting would be a
    * corpus-sized shuffle.
    */
  def textDupSpans(s: SparkSession, dir: String): DataFrame = {
    val rows = rollingFpRows(s, dir).select(col("doc_id"), col("fp"))
    val docsPerFp = rows.distinct().groupBy("fp").agg(count(lit(1)).as("ndocs"))
    rows.join(docsPerFp, "fp")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
      .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
        round(col("n_dup_spans").cast("double") / col("n_spans"), 6).as("dup_frac"))
      .orderBy("doc_id")
  }

  /** The substring-dedup DELIVERABLE (Lee et al. '22): per document, the
    * merged byte ranges covered by duplicated spans — the list a removal
    * pass would actually cut, where [[textDupSpans]] reports only the
    * coverage ratio. Duplicated sampled fingerprints become [pos, pos+W)
    * intervals; overlapping-or-adjacent intervals merge via the classic
    * running-max-end window (new span iff pos > max end over preceding
    * rows; cumulative sum of the flags numbers the spans). One window
    * per document over the doc's DUPLICATED sampled positions — the
    * post-join relation is sample-density × dup-rate sized, and the
    * window key is doc_id, the same per-entity shape as text_pack's
    * running sum. Output (doc_id, span_idx, span_start, span_end, n_fps).
    */
  def textDupSpanRanges(s: SparkSession, dir: String): DataFrame =
    mergeDupIntervals(markCrossDocDups(
      rollingFpRows(s, dir).select(col("doc_id"), col("pos"), col("fp"))))

  /** (doc_id, pos, fp) → the rows whose fp occurs in >1 distinct doc,
    * as [pos, pos+W) intervals — the shared dup-marking step of the
    * sampled and exact range deliverables.
    */
  private[graft] def markCrossDocDups(rows: DataFrame): DataFrame = {
    val docsPerFp = rows.select("doc_id", "fp").distinct()
      .groupBy("fp").agg(count(lit(1)).as("ndocs"))
    rows.join(docsPerFp, "fp").filter(col("ndocs") > 1)
      .select(col("doc_id"), col("pos"), (col("pos") + RollW).as("e"))
  }

  /** Classic running-max-end interval merge over (doc_id, pos, e): new
    * span iff pos > max end over preceding rows; cumulative sum of the
    * flags numbers the spans. One window per document.
    */
  private[graft] def mergeDupIntervals(dup: DataFrame): DataFrame = {
    val wPrev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, 0)
    dup
      .withColumn("meb", max("e").over(wPrev))
      .withColumn("ng", when(col("meb").isNull || col("pos") > col("meb"), 1L)
        .otherwise(0L))
      .withColumn("grp", sum("ng").over(wCum))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("span_start"), max("e").as("span_end"),
        count(lit(1)).as("n_fps"))
      .select(col("doc_id"), (col("grp") - 1).as("span_idx"),
        col("span_start"), col("span_end"), col("n_fps"))
      .orderBy("doc_id", "span_idx")
  }

  /** Stride-1 all-window fingerprints over the deterministic doc shard
    * `doc_id < SpanRecallSample` — the EXACT plane of the substring-dedup
    * family (every window position, no 0-mod-p cut).
    */
  private def shardAllWindowFps(s: SparkSession, dir: String): DataFrame =
    stageBarrier(
      Tables.documents(s, dir).filter(col("doc_id") < SpanRecallSample)
        .select(col("doc_id"), col("text").cast("binary").as("b")),
      Seq(col("doc_id")),
      "hs" -> graft.expressions.HashExpressions.rollingHashNative(col("b"), RollW, RollB, RollM))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos0", "fp")))
      .select(col("doc_id"), col("pos0").cast("long").as("pos"), col("fp"))

  /** The EXACT substring-removal deliverable (Lee et al. '22,
    * "Deduplicating Training Data Makes Language Models Better" — the
    * exact all-window form, not the sampled estimate) on a bounded
    * shard: every stride-1 window duplicated across documents becomes a
    * [pos, pos+W) interval, merged per document into the byte ranges an
    * exact removal pass would cut. The shard (`doc_id <
    * SpanRecallSample`, same deterministic shard as [[dupSpanRecall]])
    * is what makes all-window accounting legitimate: the fingerprint
    * relation is shard-docs × positions — constant-size at any corpus
    * scale — where a corpus-wide stride-1 pass would be a corpus-sized
    * shuffle per byte offset. At 100 TB the production path stays the
    * 1/p-sampled [[textDupSpanRanges]]; this query is run per-shard
    * (here one shard) to PRICE that sampling — [[dupRangeCoverage]]
    * reports the measured delta. Plan shape: the same
    * explode → df join → interval-merge window as the sampled
    * deliverable, just without the 0-mod-p filter.
    */
  def textDupRangesExact(s: SparkSession, dir: String): DataFrame =
    mergeDupIntervals(markCrossDocDups(shardAllWindowFps(s, dir)))

  /** The sampled-vs-exact range-coverage delta on the shared shard — the
    * price tag of 0-mod-p sampling stated in BYTES CUT, completing
    * [[dupSpanRecall]] (which prices the coverage RATIO): bytes the
    * exact pass would remove, bytes the sampled pass would remove, and
    * the miss. The sampled plane is closed under duplication (fp ≡ 0
    * mod p depends only on window bytes), so every sampled dup interval
    * lies inside an exact merged range and the delta is one-sided —
    * sampled_bytes ≤ exact_bytes always (spec-pinned subset property).
    * Both sides are shard-sized aggregates of the two range queries.
    */
  def dupRangeCoverage(s: SparkSession, dir: String): DataFrame = {
    val exact = textDupRangesExact(s, dir)
      .agg(count(lit(1)).as("exact_ranges"),
        coalesce(sum(col("span_end") - col("span_start")), lit(0L)).as("exact_bytes"))
    // the sampled plane IS the exact shard relation cut to fp ≡ 0 mod p —
    // derive it that way (one hashing lineage, structurally the oracle's
    // own definition) instead of re-running the rolling hash via
    // rollingFpRows and re-filtering to the shard
    val sampled = mergeDupIntervals(markCrossDocDups(
      shardAllWindowFps(s, dir).filter(pmod(col("fp"), lit(RollP)) === 0)))
      .agg(count(lit(1)).as("sampled_ranges"),
        coalesce(sum(col("span_end") - col("span_start")), lit(0L)).as("sampled_bytes"))
    exact.crossJoin(sampled)
      .select(col("exact_ranges"), col("exact_bytes"),
        col("sampled_ranges"), col("sampled_bytes"),
        (col("exact_bytes") - col("sampled_bytes")).as("missed_bytes"),
        round(col("sampled_bytes").cast("double") / col("exact_bytes"), 6)
          .as("sampled_frac"))
  }

  private val SpanRecallSample = 500L  // fixed-size doc sample for the span dial

  /** The accuracy dial for [[textDupSpans]]' 1/p fingerprint sampling —
    * the dedup_recall / knn_recall pattern applied to substring-level
    * dedup: over a FIXED-SIZE doc sample, duplicated-span coverage is
    * computed twice from the same rolling-hash relation — EXACTLY (every
    * window position) and from the 0-mod-p sample the production query
    * ships — and the absolute error between the two is the output. The
    * all-window accounting is legitimate here precisely because the
    * sample is constant-size (SpanRecallSample docs × ~300 windows at
    * any corpus size — at 100 TB the accounting samples, the production
    * path stays 1/p). Content-based selection makes the comparison
    * well-posed: fp ≡ 0 (mod p) depends only on window BYTES, so a
    * sampled window in one document matches iff its duplicate elsewhere
    * is sampled too — the sampled plane is closed under duplication,
    * which positional sampling would not be.
    */
  def dupSpanRecall(s: SparkSession, dir: String): DataFrame = {
    val all = stageBarrier(
      Tables.documents(s, dir).filter(col("doc_id") < SpanRecallSample)
        .select(col("doc_id"), col("text").cast("binary").as("b")),
      Seq(col("doc_id")),
      "hs" -> graft.expressions.HashExpressions.rollingHashNative(col("b"), RollW, RollB, RollM))
      .select(col("doc_id"), explode(col("hs")).as("fp"))
    // coverage = dup-span fraction of `rows` (position multiplicity kept,
    // as in textDupSpans); df over distinct (doc, fp)
    def cover(rows: DataFrame, spans: String, dups: String): DataFrame = {
      val df = rows.distinct().groupBy("fp").agg(count(lit(1)).as("ndocs"))
      rows.join(df, "fp").agg(count(lit(1)).as(spans),
        sum(when(col("ndocs") > 1, 1L).otherwise(0L)).as(dups))
    }
    cover(all, "n_spans_exact", "n_dup_exact")
      .crossJoin(cover(all.filter(pmod(col("fp"), lit(RollP)) === 0),
        "n_spans_sampled", "n_dup_sampled"))
      .select(col("n_spans_exact"), col("n_dup_exact"),
        col("n_spans_sampled"), col("n_dup_sampled"),
        round(col("n_dup_exact").cast("double") / col("n_spans_exact"), 6)
          .as("exact_coverage"),
        round(col("n_dup_sampled").cast("double") / col("n_spans_sampled"), 6)
          .as("sampled_coverage"),
        round(abs(col("n_dup_sampled").cast("double") / col("n_spans_sampled") -
          col("n_dup_exact").cast("double") / col("n_spans_exact")), 6)
          .as("abs_err"))
  }

  private val CdcMask = 64L   // boundary when rolling fp ≡ 0 (mod 64) → ~64 B chunks

  /** Content-defined chunking (rsync / LBFS / FastCDC lineage): cut the
    * payload AFTER every window whose rolling hash ≡ 0 mod 64, emit each
    * chunk's (index, start, length, md5-of-hex fingerprint). Because
    * boundaries depend only on LOCAL bytes, an insertion shifts chunk
    * positions but re-synchronizes at the next content boundary — chunk
    * fingerprints downstream dedup shared content across shifted
    * near-copies, which the fixed-stride text_chunks cannot (every chunk
    * after an insertion changes). Whole thing is one projection over the
    * native rolling-hash kernel + a per-row explode; fingerprints hash
    * the hex plane so the oracle (VARCHAR-only md5) replays byte-for-
    * byte. Docs shorter than the window become one whole-doc chunk.
    */
  def textCdcChunks(s: SparkSession, dir: String): DataFrame = {
    val staged = stageBarrier(
      Tables.documents(s, dir).select(col("doc_id"), col("text").cast("binary").as("b")),
      Seq(col("doc_id"), col("b")),
      "hs" -> graft.expressions.HashExpressions.rollingHashNative(col("b"), RollW, RollB, RollM))
    staged
      // i is the 1-based index into hs → window start i−1, boundary after
      // the window's last byte: (i−1) + W = i + W − 1
      .withColumn("bnd", transform(
        filter(sequence(lit(1), size(col("hs"))),
          i => pmod(element_at(col("hs"), i), lit(CdcMask)) === 0),
        i => (i + (RollW - 1)).cast("long")))
      .withColumn("ss", concat(array(lit(0L)), col("bnd")))
      .withColumn("es", concat(col("bnd"), array(length(col("b")).cast("long"))))
      .select(col("doc_id"), col("b"),
        posexplode(zip_with(col("ss"), col("es"),
          (s0, e0) => struct(s0.as("s"), e0.as("e")))).as(Seq("ci", "se")))
      .filter(col("se.e") > col("se.s"))
      .select(col("doc_id"),
        col("ci").cast("long").as("chunk_idx"),
        col("se.s").as("start"),
        (col("se.e") - col("se.s")).as("len"),
        md5(lower(hex(expr(
          "substring(b, cast(se.s + 1 as int), cast(se.e - se.s as int))")))).as("fp"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** The CDC dedup deliverable: corpus bytes vs bytes after chunk-level
    * dedup (each distinct chunk fingerprint stored once) — the number a
    * storage/dataset team actually asks for. Distinct-fp accounting
    * takes ONE chunk per fingerprint deterministically (min (doc,idx));
    * everything aggregates from the chunk relation, no second corpus
    * scan. The ratio is exact-integer until the final rounded division.
    */
  def cdcDedupRatio(s: SparkSession, dir: String): DataFrame = {
    val chunks = textCdcChunks(s, dir)
    chunks
      .groupBy("fp").agg(min(col("len")).as("len1"), count(lit(1)).as("n_copies"))
      .agg(
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("len1") * col("n_copies")).cast("long").as("total_bytes"),
        sum(col("len1")).cast("long").as("dedup_bytes"))
      .select(col("n_distinct_chunks"), col("total_bytes"), col("dedup_bytes"),
        round(col("dedup_bytes").cast("double") / col("total_bytes"), 6).as("dedup_ratio"))
  }

  /** Deterministic stratified train/val/test assignment: md5 the doc_id
    * into a uniform [0, 1e6) bucket → 80/10/10. A pure projection — no
    * RNG state, no shuffle, no sort — so the same document lands in the
    * same split on any cluster size, any retry, any incremental re-run:
    * the property that makes a split reproducible (and leak-free when
    * train and eval are materialized in different jobs) at 100 TB.
    */
  def splitAssign(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        (h32(concat(lit("split#"), col("doc_id").cast("string"))) % 1000000L).as("u"))
      .select(col("doc_id"), col("lang"),
        when(col("u") < 800000L, "train")
          .when(col("u") < 900000L, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  /** Deterministic corpus shuffle into training shards — the step between
    * curation and the trainer: a 100 TB corpus must be (a) globally
    * shuffled so no shard carries source/time locality (crawls arrive
    * clustered and a data-parallel trainer reads shards independently),
    * (b) reproducibly, so a re-run or a resumed job produces the SAME
    * byte layout. A seeded hash rank gives both: shard = h32 mod
    * NShards spreads documents uniformly, position and byte offset
    * within the shard follow (rank, doc_id) order. There is NO global
    * sort — the only shuffle is the window's partition-by-shard
    * exchange, and each shard's window sorts 1/NShards of the corpus
    * (at real scale NShards is thousands, sized so a shard fits one
    * writer task; the hash rank also makes the layout stable under
    * corpus APPEND for the already-present prefix of each shard ordered
    * by rank). `byte_start` is the running n_chars offset the shard
    * writer would place each document at — integer-exact, so the whole
    * layout is oracle-pinned.
    */
  def corpusShuffle(s: SparkSession, dir: String): DataFrame = {
    val NShards = 8
    val ranked = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        shardRank(col("doc_id")).as("r"),
        shardId(col("doc_id"), NShards).as("shard"))
    val w = Window.partitionBy("shard").orderBy(col("r"), col("doc_id"))
    ranked
      .withColumn("pos", row_number().over(w))
      .withColumn("byte_start",
        coalesce(sum("n_chars").over(w.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("doc_id"), col("shard"), col("pos"), col("byte_start"))
      .orderBy("doc_id")
  }

  /** Token counts + order-sensitive fingerprint per document. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"), col("text"),
        tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("n_chars"),
        size(col("toks")).as("n_tokens"),
        tokenCountRegex(col("text")).as("n_tokens_regex"),
        fingerprint(col("toks")).as("fp"))
      .orderBy("doc_id")

  /** Stopword-based language-ID heuristic vs the labeled lang. */
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    // two barriers: tokenize once, then count each language's hits once —
    // inlined, each hit count would re-split and re-filter per reference
    // in the argmax tree (~23 evaluations/row)
    val base = Tables.documents(s, dir)
    val toks = stageBarrier(base, Seq(col("doc_id"), col("lang")),
      "toks" -> tokens(lower(col("text"))))
    val hits = stageBarrier(toks, Seq(col("doc_id"), col("lang")),
      langHits(col("toks")): _*)
    hits.select(col("doc_id"), col("lang"),
        langIdFromHits(col("hits_en"), col("hits_de"), col("hits_fr"), col("hits_es"))
          .as("lang_pred"))
      .orderBy("doc_id")
  }

  /** Language-ID CONFUSION MATRIX — the quality read on the langid
    * heuristic itself: per (labeled lang, predicted lang) cell, document
    * count, cell share of the label's row, and the per-label recall on
    * the diagonal. Before a curation pass trusts `lang_pred` to gate a
    * corpus (sample_balanced, corpus_alpha_mix and text_curate all key
    * on language), this table says WHERE the classifier fails — which
    * labels leak into 'und', which pairs confuse — at |langs|² cost:
    * the textLangid lineage unchanged (tokenize once, count each
    * language's stopword hits once behind barriers), then one
    * cell-sized aggregate; the row-share window runs over the bounded
    * cells relation, never documents. Integer counts and exact integer
    * ratios throughout.
    */
  def textLangConfusion(s: SparkSession, dir: String): DataFrame = {
    val pred = textLangid(s, dir).select(col("lang"), col("lang_pred"))
    val cells = pred.groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("lang")
    cells
      .withColumn("row_share", col("n").cast("double") / sum("n").over(w))
      .withColumn("is_correct", col("lang") === col("lang_pred"))
      .orderBy("lang", "lang_pred")
  }

  /** Corpus heavy hitters: top-50 tokens by document frequency — the
    * vocabulary profile of a training corpus. explode → two-level agg
    * (distinct doc_id per token, then count) → TakeOrdered top-k; the
    * token shuffle carries (token, doc_id) pairs, bounded by corpus token
    * volume, and the final top-k never sorts the full vocabulary.
    */
  def textTopTokens(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("token"))
      .groupBy("token")
      .agg(countDistinct("doc_id").as("df"))
      .orderBy(col("df").desc, col("token"))
      .limit(50)

  /** Repetition signals per document (the Gopher/C4-style repetition
    * filters for training corpora): unique-token ratio and top-token
    * dominance. explode → two-level agg, same scalable shape as
    * textTopTokens — the per-token shuffle is bounded by corpus token
    * volume and each document's stats reduce locally (partial agg).
    */
  def textRepetition(s: SparkSession, dir: String): DataFrame = {
    val base = stageBarrier(Tables.documents(s, dir), Seq(col("doc_id")),
      "toks" -> tokens(col("text")))
    base.select(col("doc_id"), size(col("toks")).as("n_toks"),
        explode(col("toks")).as("tok"))
      .groupBy("doc_id", "n_toks", "tok")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id", "n_toks") // n_toks is functionally dependent on doc_id
      .agg(count(lit(1)).as("uniq"), max("c").as("top"))
      .select(col("doc_id"), col("n_toks").cast("long").as("n_toks"),
        round(col("uniq").cast("double") / col("n_toks").cast("double"), 6).as("uniq_ratio"),
        round(col("top").cast("double") / col("n_toks").cast("double"), 6).as("top_ratio"))
      .orderBy("doc_id")
  }

  /** Within-document duplicate-n-gram fraction — the Gopher-style "fraction
    * of tokens inside repeated 3-grams" repetition filter. Same scalable
    * shape as textRepetition: per-document explode → two-level aggregation
    * with map-side partial agg; the shuffle carries (doc, shingle) counts
    * bounded by corpus token volume, never an all-pairs structure.
    */
  def textDupNgrams(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .select(col("doc_id"), explode(wordShingles(col("toks"), ShingleK)).as("sh"))
      .groupBy("doc_id", "sh")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(
        sum("c").as("n_ngrams"),
        round(sum(when(col("c") > 1, col("c")).otherwise(0L)).cast("double") /
          sum("c").cast("double"), 6).as("dup_frac"))
      .orderBy("doc_id")

  /** First-occurrence shingle novelty: the share of a document's DISTINCT
    * shingles that no earlier document (by doc_id, the corpus's arrival
    * order) contains. The statistic behind novelty-ordered ingestion and
    * "diminishing returns" curves for continued crawling: a feed whose
    * per-doc novelty decays has been exhausted.
    *
    * Scale: distinct (doc, shingle) relation → min(doc_id) per shingle
    * (vocabulary-sized partial aggregate) → join back on shingle → per-doc
    * counts. Two shuffles on the open shingle vocabulary plus one on
    * doc_id — the same open-vocabulary join shape as text_tfidf, so the
    * join strategy is left to AQE (shuffle join at 100 TB; no broadcast
    * hint on an unbounded side).
    */
  def textNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .select(col("doc_id"), explode(wordShingles(col("toks"), ShingleK)).as("sh"))
      .distinct()
    val firstSeen = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    sh.join(firstSeen, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty", round(col("n_novel").cast("double") /
        col("n_shingles").cast("double"), 6))
      .orderBy("doc_id")
  }

  /** Per-source document cap — the per-domain limit every web-scale
    * curation stack applies so no single domain dominates the corpus:
    * rank each source's documents by the blended quality score (ties
    * broken by doc_id) and keep the top [[SourceCapK]].
    *
    * Scale: the quality parts are per-row projections off one staged
    * scan; the rank is one shuffle on source plus a sort within each
    * source partition, bounded by the largest domain (domains number in
    * the millions at 100 TB, so partitions stay small). For a
    * pathologically dominant domain, use [[corpusSourceCap2]] (r13):
    * the two-phase partition-pruned form whose sort partitions are
    * bounded by input-split size instead of domain size, exact and
    * oracle-gated equal to this cap's kept set.
    */
  def corpusSourceCap(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val toks = stageBarrier(Tables.documents(s, dir),
      Seq(col("doc_id"), col("source"), t), "toks" -> tokens(t))
    val parts = stageBarrier(toks, Seq(col("doc_id"), col("source")), qualityParts(t): _*)
    val byQuality = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id"))
    parts.select(col("doc_id"), col("source"),
        qualityScoreFromParts(col("n_chars"), col("alpha_len"),
          col("n_toks"), col("stop_hits")).as("quality"))
      .withColumn("src_rank", row_number().over(byQuality).cast("long"))
      .withColumn("kept", col("src_rank") <= SourceCapK)
      .orderBy("doc_id")
  }

  /** TWO-PHASE per-source cap — [[corpusSourceCap]]'s documented scale
    * dial, shipped (r13): the single-window form shuffles EVERY document
    * of a source into one partition and sorts it, which a pathologically
    * dominant mega-domain (half the crawl from one host) turns into one
    * straggler partition. This variant never materializes a
    * source-sized partition:
    *
    *   phase 1 — candidate pruning: rank documents within
    *   (source, input-partition) — any global top-K document is
    *   necessarily in the top-K of its own partition (the grouped
    *   TakeOrderedAndProject argument), so keeping rank ≤ K per
    *   (source, pid) yields an exact superset of ≤ K × P rows per
    *   source while every sort partition is bounded by ONE input
    *   split's share of the source (maxPartitionBytes), not the
    *   source's total;
    *   phase 2 — exact top-K: the full (quality DESC, doc_id) window
    *   runs over candidates only, K×P rows per source max.
    *
    * Dropping sub-threshold rows cannot change ranks ≤ K, so the kept
    * set and ranks equal the single-window form EXACTLY — the oracle
    * pins this by computing the cap the one-window way and filtering to
    * kept. spark_partition_id() is plan-dependent but correctness is
    * partitioning-invariant (any split yields a superset), so the
    * oracle equality is stable. Emits only kept rows (the cap's real
    * product — the two-phase trade gives up the full ranking tail).
    */
  def corpusSourceCap2(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val toks = stageBarrier(Tables.documents(s, dir),
      Seq(col("doc_id"), col("source"), t), "toks" -> tokens(t))
    val parts = stageBarrier(toks, Seq(col("doc_id"), col("source")), qualityParts(t): _*)
    val scored = parts.select(col("doc_id"), col("source"),
      qualityScoreFromParts(col("n_chars"), col("alpha_len"),
        col("n_toks"), col("stop_hits")).as("quality"))
      .withColumn("pid", spark_partition_id())
    val byQualityLocal = Window.partitionBy("source", "pid")
      .orderBy(col("quality").desc, col("doc_id"))
    val candidates = scored
      .withColumn("local_rank", row_number().over(byQualityLocal))
      .filter(col("local_rank") <= SourceCapK)
      .drop("pid", "local_rank")
    val byQuality = Window.partitionBy("source")
      .orderBy(col("quality").desc, col("doc_id"))
    candidates
      .withColumn("src_rank", row_number().over(byQuality).cast("long"))
      .filter(col("src_rank") <= SourceCapK)
      .orderBy("doc_id")
  }

  /** Per-document average unigram log-likelihood under the corpus unigram
    * distribution — the cheap CCNet-style "LM quality" proxy (real
    * pipelines swap in a trained LM; the dataflow is identical). Two
    * passes: (1) corpus token frequencies joined back on token with NO
    * broadcast hint — the vocabulary is open (grows with the corpus), so
    * the join strategy is left to AQE: broadcast at small SF, shuffle join
    * on token at 100 TB; (2) per-document mean of ln p(token), a
    * partial-aggregated groupBy. The corpus total attaches as a scalar
    * subquery (evaluated once, inlined as a literal), not a crossJoin.
    */
  def textUnigramLp(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .createOrReplaceTempView("graft_unigram_toks")
    s.sql(
      """WITH v AS (SELECT tok, count(1) AS tf FROM graft_unigram_toks GROUP BY tok)
        |SELECT doc_id,
        |       avg(ln(CAST(tf AS DOUBLE) /
        |              (SELECT CAST(count(1) AS DOUBLE) FROM graft_unigram_toks))) AS avg_logp
        |FROM graft_unigram_toks JOIN v USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** Bigram language-model quality score — the bigram upgrade of
    * [[textUnigramLp]] (CCNet-style fluency proxy): per-document mean
    * log P(w_i | w_{i-1}) under the corpus bigram LM with add-0.5
    * smoothing over the unigram vocabulary. Scale shape: one explode to
    * bigram rows, then every aggregate is vocabulary-sized, not
    * corpus-sized — c2 partial-aggregates bigram counts, c1 derives
    * context counts FROM c2 (an aggregate over the counts table, no
    * second corpus pass), |V| is a scalar subquery, and the score join
    * keys on the realized-bigram vocabulary (AQE broadcasts it at small
    * SF, shuffle-joins the open vocabulary at 100 TB — same regime as
    * text_tfidf, no forced broadcast).
    */
  def textBigramLp(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(wordShingles(col("toks"), 2)).as("bg"))
      .createOrReplaceTempView("graft_bigram_bg")
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .createOrReplaceTempView("graft_bigram_toks")
    s.sql(
      """WITH c2 AS (SELECT bg, count(1) AS n2 FROM graft_bigram_bg GROUP BY bg),
        |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(n2) AS BIGINT) AS n1
        |       FROM c2 GROUP BY split_part(bg, ' ', 1)),
        |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vs FROM graft_bigram_toks)
        |SELECT doc_id,
        |       avg(ln((n2 + 0.5) / (n1 + 0.5 * vs))) AS avg_logp
        |FROM graft_bigram_bg b
        |JOIN c2 USING (bg)
        |JOIN c1 ON c1.w1 = split_part(b.bg, ' ', 1)
        |CROSS JOIN v
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** Interpolated Kneser–Ney bigram fluency score (Kneser & Ney '95,
    * Chen & Goodman '98 — the smoothing that n-gram LMs actually ship):
    * P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁) + D·N₁₊(w₁,·)/c(w₁) ·
    * N₁₊(·,w₂)/|bigram types|, D = 0.75. Versus [[textBigramLp]]'s
    * add-0.5 smoothing this backs off to CONTINUATION counts — "how
    * many contexts does w₂ complete" — so a token frequent in one
    * context only (the "San Francisco" effect) stops inflating unseen-
    * bigram probability; the two scores side by side are the smoothing
    * ablation a curation pass reads before trusting a perplexity cut
    * (text_perplexity_buckets). Scale shape identical to the add-0.5
    * form: one bigram explode, then EVERY relation is vocabulary-sized —
    * c2 (bigram types), c1/N₁₊fwd (contexts), N₁₊back (continuations),
    * one scalar type count — and the score join keys on the bigram, AQE
    * choosing broadcast vs shuffle (the text_tfidf regime). Per-row
    * terms are exact-integer ratios through ln, engine-identical; the
    * per-doc avg's summation-order drift is ~1e-15, inside the gate's
    * rtol (text_bigram_lp precedent).
    */
  def textBigramKn(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(wordShingles(col("toks"), 2)).as("bg"))
      .createOrReplaceTempView("graft_kn_bg")
    s.sql(
      """WITH c2 AS (SELECT bg, count(1) AS n2 FROM graft_kn_bg GROUP BY bg),
        |sp AS (SELECT bg, n2, split_part(bg, ' ', 1) AS w1,
        |              split_part(bg, ' ', 2) AS w2 FROM c2),
        |c1 AS (SELECT w1, CAST(sum(n2) AS BIGINT) AS n1,
        |              CAST(count(1) AS BIGINT) AS nf FROM sp GROUP BY w1),
        |cb AS (SELECT w2, CAST(count(1) AS BIGINT) AS nb FROM sp GROUP BY w2),
        |bt AS (SELECT CAST(count(1) AS DOUBLE) AS bt FROM c2)
        |SELECT doc_id, CAST(count(1) AS BIGINT) AS n_bigrams,
        |       avg(ln(greatest(n2 - 0.75, 0.0) / n1 + (0.75 * nf / n1) * (nb / bt)))
        |         AS avg_logp_kn
        |FROM graft_kn_bg g
        |JOIN sp ON sp.bg = g.bg
        |JOIN c1 ON c1.w1 = sp.w1
        |JOIN cb ON cb.w2 = sp.w2
        |CROSS JOIN bt
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** Corpus drift per source: KL(P_source ‖ P_corpus) over unigram
    * distributions — the distribution-shift monitor a training-data mix
    * is steered by (a source whose KL jumps between snapshots changed
    * its content mix; emb_drift is the same dial on the vector plane).
    * Only tokens the source actually emits contribute (p_s > 0, and
    * p_corpus > 0 for any such token by construction), so no smoothing
    * constant enters the estimate. Scale shape: one explode, then every
    * aggregate is vocabulary-sized — per-(source, token) counts partial-
    * aggregate; corpus token counts derive FROM those counts (no second
    * corpus pass); source/corpus totals are scalar aggregates of the
    * same relation; the final per-source sum sees |sources| groups.
    * Float note: per-row terms are engine-identical (exact integer
    * ratios through ln); the per-source sum's order-dependence is
    * ~1e-15 relative, inside the gate's rtol like pipe_anomaly's z.
    */
  private val DsirTarget = "src0"   // curated/target-domain stand-in

  /** DSIR importance weights (Xie, Santurkar, Ma & Liang, NeurIPS'23
    * "Data Selection for Language Models via Importance Resampling"):
    * score every raw-pool document by its log importance ratio
    * Σ_tok [ln p_target(tok) − ln p_raw(tok)] under add-1-smoothed
    * unigram LMs sharing the corpus vocabulary — the data-selection
    * primitive that tilts a 100 TB crawl toward a curated target domain
    * (source '`src0`' stands in as the target here; DSIR proper hashes
    * n-grams into buckets first, which is exactly [[textBloom]]'s
    * hashed-feature plane — the unigram form keeps the oracle exact).
    * Scale shape: one explode; both LMs and the per-token log-ratio
    * table are vocabulary-sized partial aggregates; the score join keys
    * on the token (AQE broadcasts it when it fits, shuffle-joins the
    * open vocabulary at 100 TB — the text_tfidf regime); the per-doc
    * sum sees tokens in document order on both engines (the
    * text_unigram_lp parity precedent). Output per raw doc: token
    * count, summed log weight, and the length-normalized per-token
    * weight (DSIR's length-bias caveat says read both).
    */
  def corpusDsirWeights(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), explode(tokens(col("text"))).as("tok"))
      .createOrReplaceTempView("graft_dsir_toks")
    s.sql(
      s"""WITH tgt AS (SELECT tok, count(1) AS tf FROM graft_dsir_toks
         |             WHERE source = '$DsirTarget' GROUP BY tok),
         |rawc AS (SELECT tok, count(1) AS tf FROM graft_dsir_toks
         |         WHERE source <> '$DsirTarget' GROUP BY tok),
         |vsz AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM graft_dsir_toks),
         |nt AS (SELECT CAST(count(1) AS DOUBLE) AS n FROM graft_dsir_toks
         |       WHERE source = '$DsirTarget'),
         |nr AS (SELECT CAST(count(1) AS DOUBLE) AS n FROM graft_dsir_toks
         |       WHERE source <> '$DsirTarget'),
         |lr AS (SELECT d.tok,
         |              ln((CAST(coalesce(tgt.tf, 0) AS DOUBLE) + 1.0) / (nt.n + vsz.v)) -
         |              ln((CAST(coalesce(rawc.tf, 0) AS DOUBLE) + 1.0) / (nr.n + vsz.v)) AS lw
         |       FROM (SELECT DISTINCT tok FROM graft_dsir_toks) d
         |       LEFT JOIN tgt ON d.tok = tgt.tok
         |       LEFT JOIN rawc ON d.tok = rawc.tok
         |       CROSS JOIN vsz CROSS JOIN nt CROSS JOIN nr)
         |SELECT t.doc_id, CAST(count(1) AS BIGINT) AS n_toks,
         |       sum(lr.lw) AS log_w,
         |       sum(lr.lw) / CAST(count(1) AS DOUBLE) AS log_w_tok
         |FROM graft_dsir_toks t JOIN lr ON t.tok = lr.tok
         |WHERE t.source <> '$DsirTarget'
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin)
  }

  def textKlDrift(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("tok"))
      .createOrReplaceTempView("graft_kl_toks")
    s.sql(
      """WITH t AS (SELECT source, tok, count(1) AS tf_s
        |           FROM graft_kl_toks GROUP BY source, tok),
        |c AS (SELECT tok, CAST(sum(tf_s) AS DOUBLE) AS tf_c FROM t GROUP BY tok),
        |ns AS (SELECT source, CAST(sum(tf_s) AS DOUBLE) AS n_s FROM t GROUP BY source),
        |nc AS (SELECT CAST(sum(tf_s) AS DOUBLE) AS n_c FROM t)
        |SELECT t.source,
        |       sum((CAST(t.tf_s AS DOUBLE) / ns.n_s) *
        |           ln((CAST(t.tf_s AS DOUBLE) * nc.n_c) / (c.tf_c * ns.n_s))) AS kl,
        |       CAST(count(1) AS BIGINT) AS n_toks
        |FROM t JOIN c USING (tok) JOIN ns USING (source) CROSS JOIN nc
        |GROUP BY t.source ORDER BY source""".stripMargin)
  }

  /** CCNet-style perplexity buckets: per-LANGUAGE head/middle/tail cut
    * of the bigram-LM fluency score ([[textBigramLp]]) — the curation
    * step that keeps head+middle and drops (or downsamples) the tail
    * (Wenzek et al., LREC'20). The ntile window partitions BY LANGUAGE —
    * CCNet's actual construction — so the corpus-wide global sort a flat
    * ntile would need never exists; within a language the sort is the
    * price of an exact tercile cut, and at 100 TB the swap is two
    * approx-quantile threshold constants per language (the
    * profile_cols_approx pattern) with the same output contract. The
    * ntile sort key is round(avg_logp, 9) — a grain well above the ~1 ulp
    * cross-engine drift of a partial-aggregated avg, so a rank flip
    * between two near-equal docs can't shift a tercile boundary
    * (doc_id stays the tiebreaker).
    */
  def textPerplexityBuckets(s: SparkSession, dir: String): DataFrame = {
    textBigramLp(s, dir).createOrReplaceTempView("graft_ppl_lp")
    Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      .createOrReplaceTempView("graft_ppl_docs")
    s.sql(
      """SELECT d.doc_id, d.lang,
        |       CAST(ntile(3) OVER (PARTITION BY d.lang
        |                           ORDER BY round(l.avg_logp, 9) DESC, d.doc_id)
        |            AS BIGINT)
        |         AS ppl_bucket
        |FROM graft_ppl_docs d JOIN graft_ppl_lp l ON l.doc_id = d.doc_id
        |ORDER BY doc_id""".stripMargin)
  }

  /** Zipf rank-frequency fit — the corpus-health diagnostic (natural
    * corpora fit log(tf) ≈ slope·log(rank) + c with slope ≈ −1; template
    * spam, boilerplate floods, and truncated crawls bend the curve).
    * One explode + partial-aggregated token counts, a distributed top-N
    * cut (TakeOrdered, no global sort), then the regression runs over at
    * most N rows — the only global window sees the bounded top set,
    * never the open vocabulary.
    */
  def textZipf(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok")).limit(1000)
      .createOrReplaceTempView("graft_zipf_top")
    s.sql(
      """WITH r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, tok) AS rnk
        |           FROM graft_zipf_top)
        |SELECT round(regr_slope(ln(tf), ln(rnk)), 6) AS slope,
        |       round(regr_intercept(ln(tf), ln(rnk)), 6) AS intercept,
        |       count(1) AS n_tokens
        |FROM r""".stripMargin)
  }

  /** Per-document most-salient token by TF-IDF — the corpus-weighted
    * keyword profile (topic tagging / domain mixing signal). Same scale
    * shape as textUnigramLp: one explode, two partial-aggregated groupBys
    * (tf per doc-token, df per token), a token-keyed join left to AQE
    * (broadcast at small SF, shuffle join on the open vocabulary at
    * 100 TB), corpus size attached as a scalar subquery, and a per-doc
    * rank window with a deterministic token tie-break.
    */
  def textTfidf(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .createOrReplaceTempView("graft_tfidf_toks")
    Tables.documents(s, dir).select(col("doc_id"))
      .createOrReplaceTempView("graft_tfidf_docs")
    s.sql(
      s"""WITH tf AS (SELECT doc_id, tok, count(1) AS tf
         |            FROM graft_tfidf_toks GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(DISTINCT doc_id) AS df
         |       FROM graft_tfidf_toks GROUP BY tok)
         |SELECT doc_id, tok AS top_token, round(score, 6) AS score FROM (
         |  SELECT tf.doc_id, tf.tok,
         |         tf.tf * ln((SELECT CAST(count(1) AS DOUBLE)
         |                     FROM graft_tfidf_docs) / df.df) AS score,
         |         row_number() OVER (PARTITION BY tf.doc_id ORDER BY
         |           tf.tf * ln((SELECT CAST(count(1) AS DOUBLE)
         |                       FROM graft_tfidf_docs) / df.df) DESC, tf.tok) AS rnk
         |  FROM tf JOIN df USING (tok))
         |WHERE rnk = 1 ORDER BY doc_id""".stripMargin)
  }

  /** BM25 RETRIEVAL — the Okapi ranking function (Robertson et al.;
    * k1=1.2, b=0.75, the Lucene-style always-positive idf
    * ln(1+(N−df+0.5)/(df+0.5))) over the corpus, scoring a 3-term query
    * chosen BY the query itself (the tokens whose document frequency is
    * closest to N/10 — discriminative mid-frequency terms, the same
    * deterministic selection in both engines, no corpus-specific
    * literals). Per-term contributions are 1e-6-quantized BEFORE the
    * sum (the cosSql discipline: the cross-engine sum of three
    * quantized doubles is order-stable), ranking is on the quantized
    * score with doc_id tie-break. Emits the top-10 (rnk, doc_id,
    * score).
    *
    * Scale: tf/df/dl are the tf-idf aggregations (one shuffle on
    * (doc_id, tok), one on tok); the 3-term query relation broadcasts
    * onto tf, so scoring touches only postings of the query terms —
    * the inverted-index access pattern, as a broadcast semi-join. The
    * final top-10 is a single-reducer sort over |matching docs|, the
    * standard top-k tail.
    */
  def textBm25(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .createOrReplaceTempView("graft_bm25_toks")
    s.sql(
      """WITH tf AS (SELECT doc_id, tok, count(1) AS tf
        |           FROM graft_bm25_toks GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(1) AS dl FROM graft_bm25_toks GROUP BY doc_id),
        |stats AS (SELECT avg(dl) AS avgdl, count(1) AS n FROM dl),
        |df AS (SELECT tok, count(1) AS df FROM tf GROUP BY tok),
        |qterms AS (SELECT tok, df FROM df CROSS JOIN stats
        |           ORDER BY abs(df - n / 10.0), tok LIMIT 3),
        |contrib AS (
        |  SELECT doc_id,
        |         round(ln(1.0 + (nd - dfd + 0.5) / (dfd + 0.5)) *
        |               tfd * 2.2 /
        |               (tfd + 1.2 * (0.25 + 0.75 * dld / avgdl)), 6) AS c
        |  FROM (SELECT t.doc_id, CAST(t.tf AS DOUBLE) AS tfd,
        |               CAST(q.df AS DOUBLE) AS dfd, CAST(d.dl AS DOUBLE) AS dld,
        |               CAST(n AS DOUBLE) AS nd, avgdl
        |        FROM tf t JOIN qterms q ON q.tok = t.tok
        |                  JOIN dl d ON d.doc_id = t.doc_id
        |                  CROSS JOIN stats)),
        |scored AS (SELECT doc_id, round(sum(c), 6) AS score
        |           FROM contrib GROUP BY doc_id)
        |SELECT rnk, doc_id, score FROM (
        |  SELECT doc_id, score,
        |         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 10 ORDER BY rnk""".stripMargin)
  }

  /** HYBRID RETRIEVAL with RECIPROCAL-RANK FUSION (Cormack et al. '09)
    * — the two-tower search shape every RAG / decontamination pipeline
    * runs: "find documents like doc 0" answered lexically (BM25 over
    * doc 0's top-3 tf·idf-free terms, [[textBm25]]'s formula) AND
    * semantically (cosine of doc 0's embedding against the corpus,
    * doc_id ≡ vec_id), then fused rank-wise: rrf = 1/(60+rank_lex) +
    * 1/(60+rank_vec). RRF operates on RANKS, not scores — the fusion is
    * exact integer-derived arithmetic, bit-identical across engines, so
    * the only cross-engine plane is each side's 1e-6-quantized ordering
    * (doc_id tie-breaks). Docs matching no query term rank after all
    * matches (score 0, id order) so every doc holds a lexical rank.
    * Emits the top-10 with both constituent ranks pinned.
    *
    * Scale: the lexical side is the BM25 broadcast-postings plan; the
    * vector side broadcasts ONE query row onto the embedding scan. The
    * full-corpus global ranks here are the exactness baseline (one
    * single-reducer sort each); the production path fuses per-side
    * top-K candidate lists instead (RRF only needs ranks of docs that
    * appear in some list — the standard top-k fusion shortcut), which
    * this query's output is the oracle for.
    */
  def textHybridRrf(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .createOrReplaceTempView("graft_rrf_toks")
    val lex = s.sql(
      """WITH tf AS (SELECT doc_id, tok, count(1) AS tf
        |           FROM graft_rrf_toks GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(1) AS dl FROM graft_rrf_toks GROUP BY doc_id),
        |stats AS (SELECT avg(dl) AS avgdl, count(1) AS n FROM dl),
        |df AS (SELECT tok, count(1) AS df FROM tf GROUP BY tok),
        |qterms AS (SELECT tok FROM tf WHERE doc_id = 0
        |           ORDER BY tf DESC, tok LIMIT 3),
        |contrib AS (
        |  SELECT doc_id,
        |         round(ln(1.0 + (nd - dfd + 0.5) / (dfd + 0.5)) *
        |               tfd * 2.2 /
        |               (tfd + 1.2 * (0.25 + 0.75 * dld / avgdl)), 6) AS c
        |  FROM (SELECT t.doc_id, CAST(t.tf AS DOUBLE) AS tfd,
        |               CAST(f.df AS DOUBLE) AS dfd, CAST(d.dl AS DOUBLE) AS dld,
        |               CAST(n AS DOUBLE) AS nd, avgdl
        |        FROM tf t JOIN qterms q ON q.tok = t.tok
        |                  JOIN df f ON f.tok = t.tok
        |                  JOIN dl d ON d.doc_id = t.doc_id
        |                  CROSS JOIN stats
        |        WHERE t.doc_id <> 0)),
        |scored AS (SELECT doc_id, round(sum(c), 6) AS score
        |           FROM contrib GROUP BY doc_id)
        |SELECT d.doc_id,
        |       row_number() OVER (ORDER BY coalesce(s.score, 0.0) DESC, d.doc_id)
        |         AS rank_lex
        |FROM dl d LEFT JOIN scored s ON s.doc_id = d.doc_id
        |WHERE d.doc_id <> 0""".stripMargin)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val qv = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val vec = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
      .select(col("vec_id").as("doc_id"),
        round(graft.functions.VectorFunctions.cosine(col("qv"), col("v")), 6).as("cos"))
      .withColumn("rank_vec",
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))))
      .select("doc_id", "rank_vec")
    lex.join(vec, "doc_id")
      .select(col("doc_id"), col("rank_lex"), col("rank_vec"),
        round(lit(1.0) / (lit(60) + col("rank_lex")) +
          lit(1.0) / (lit(60) + col("rank_vec")), 6).as("rrf"))
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("rrf").desc, col("doc_id"))))
      .filter(col("rnk") <= 10)
      .select("rnk", "doc_id", "rank_lex", "rank_vec", "rrf")
      .orderBy("rnk")
  }

  /** Quality-score components per document. */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    // tokenize + scan the text once each; ratios and the blended score
    // read the staged counts (inlined parts would re-split and re-regex
    // per reference)
    val toks = stageBarrier(Tables.documents(s, dir), Seq(col("doc_id"), t),
      "toks" -> tokens(t))
    val parts = stageBarrier(toks, Seq(col("doc_id")), qualityParts(t): _*)
    parts.select(col("doc_id"),
        round(col("alpha_len").cast("double") /
          greatest(col("n_chars"), lit(1)).cast("double"), 6).as("alpha_ratio"),
        round(col("stop_hits").cast("double") /
          greatest(col("n_toks"), lit(1)).cast("double"), 6).as("stop_ratio"),
        qualityScoreFromParts(col("n_chars"), col("alpha_len"),
          col("n_toks"), col("stop_hits")).as("quality"))
      .orderBy("doc_id")
  }

  /** Gopher-style repetition/quality rule filter (Rae et al. '21,
    * adapted to this corpus's scales): the NAMED rule set production
    * curation stacks start from, as per-document machine-readable
    * flags — word-count bounds, mean-word-length bounds, symbol-ratio
    * cap, minimum stopword evidence — plus the conjunction `keep`.
    * Everything is integer/string arithmetic off one staged scan
    * (tokens + regex counts computed once behind the stage barrier),
    * so flags and ratios are bit-stable; thresholds compare exact
    * integer ratios, never drifting floats.
    */
  def textGopherRules(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val staged = stageBarrier(Tables.documents(s, dir), Seq(col("doc_id"), t),
      "toks" -> tokens(t))
    val parts = stageBarrier(staged, Seq(col("doc_id")), wordStats(t): _*)
    parts.select(col("doc_id"), col("n_words"),
        (col("word_chars").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double")).as("mean_word_len"),
        (col("sym_chars").cast("double") /
          greatest(col("n_chars"), lit(1L)).cast("double")).as("symbol_ratio"),
        col("stop_hits"))
      .select(col("doc_id"), col("n_words"), col("mean_word_len"),
        col("symbol_ratio"), col("stop_hits"),
        gopherKeepFromParts(col("n_words"), col("mean_word_len"),
          col("symbol_ratio"), col("stop_hits")).as("keep"))
      .orderBy("doc_id")
  }

  private val LineW = 4     // tokens per pseudo-line (the '\n' proxy — see scaladoc)
  private val LineDfCut = 3 // drop lines appearing in >= this many distinct docs

  /** Line-level boilerplate removal (CCNet / RefinedWeb line-dedup): the
    * web-corpus cleaning step between document dedup and quality
    * filtering — headers, footers, and nav chrome repeat VERBATIM across
    * documents, so a line whose document frequency exceeds a cut is
    * boilerplate and gets dropped, not the document containing it. This
    * corpus has no newline structure (single-space token text), so a
    * fixed [[LineW]]-token segment is the line unit — production swaps
    * the segmenter for split(text, '\n') and nothing else changes.
    * Output per document: line count, dropped-line count, and the kept
    * char fraction (the cleaned-size accounting a crawl ingest reports).
    *
    * Scale shape ([[textDupSpans]] at line granularity): one explode to
    * (doc, line) rows, lines identified by a 60-bit md5 fingerprint so
    * every key in flight is an 8-byte long, never a string; the df
    * aggregate is line-vocabulary-sized and its input distinct is the
    * one corpus-sized shuffle. The join BACK probes only the
    * HIGH-df (boilerplate) fingerprints — orders smaller than the full
    * line vocabulary (real boilerplate is a thin head: nav/header
    * chrome), so AQE broadcasts it and the corpus is never shuffled a
    * second time. At 100 TB the df cut runs per-source/per-shard
    * (CCNet's actual construction) so each df table stays bounded — the
    * synthetic corpus is too small to shard, so the cut here is global.
    */
  /** (doc_id, seg_idx, seg, fp) line rows — the shared lineage of
    * [[textBoilerplate]] (accounting) and [[textBoilerplateClean]]
    * (removal deliverable).
    */
  private def boilerplateSegs(s: SparkSession, dir: String): DataFrame = {
    val staged = stageBarrier(Tables.documents(s, dir), Seq(col("doc_id")),
      "toks" -> tokens(col("text")))
    val segs = staged.select(col("doc_id"),
      posexplode(transform(
        sequence(lit(0), ((size(col("toks")) - 1) / LineW).cast("int")),
        i => array_join(slice(col("toks"), i * LineW + 1, lit(LineW)), " ")))
        .as(Seq("seg_idx", "seg")))
    stageBarrier(segs, Seq(col("doc_id"), col("seg_idx"), col("seg")),
      "fp" -> conv(substring(md5(col("seg")), 1, 15), 16, 10).cast("long"))
  }

  /** The high-df (boilerplate) fingerprint set — orders smaller than the
    * full line vocabulary (real boilerplate is a thin head), so the join
    * back against it broadcasts at scale and the corpus shuffles once
    * (the df build's distinct), not twice.
    */
  private def boilerplateSet(withFp: DataFrame): DataFrame =
    withFp.select("doc_id", "fp").distinct()
      .groupBy("fp").agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= LineDfCut)

  def textBoilerplate(s: SparkSession, dir: String): DataFrame = {
    val withFp = boilerplateSegs(s, dir)
      .select(col("doc_id"), col("fp"), length(col("seg")).as("seg_chars"))
    withFp.join(boilerplateSet(withFp), Seq("fp"), "left_outer")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("ndocs").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("ndocs").isNull, col("seg_chars").cast("long"))
          .otherwise(0L)).as("kept_chars"),
        sum(col("seg_chars").cast("long")).as("total_chars"))
      .select(col("doc_id"), col("n_lines"), col("n_dropped"),
        round(col("kept_chars").cast("double") /
          greatest(col("total_chars"), lit(1L)).cast("double"), 6).as("kept_char_frac"))
      .orderBy("doc_id")
  }

  /** The boilerplate-removal DELIVERABLE ([[textBoilerplate]] reports
    * the accounting; this emits the cleaned corpus): kept lines
    * re-joined in document order. Same lineage — the high-df set joins
    * back (broadcast at scale), kept segments re-assemble per document
    * through a collect-sort-join aggregate whose state is bounded by a
    * single document's line count, the per-entity bound every per-doc
    * aggregate here already lives under. This is the operator a crawl
    * ingest actually APPLIES between dedup and quality scoring; the
    * accounting query is its audit.
    */
  def textBoilerplateClean(s: SparkSession, dir: String): DataFrame = {
    val withFp = boilerplateSegs(s, dir)
    withFp.join(boilerplateSet(withFp), Seq("fp"), "left_outer")
      .groupBy("doc_id")
      .agg(
        sum(when(col("ndocs").isNull, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(when(col("ndocs").isNull,
              struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")),
          " ").as("clean_text"))
      .orderBy("doc_id")
  }

  private def ClfBuckets = ClassifierBuckets // shared with TextFunctions
  private val ClfScale = 8.0

  /** Fasttext-style linear quality classifier (the GPT-3 / LLaMA
    * selection filter): score = mean over unigram+bigram features of
    * w[h(feature) mod B], squashed to a keep probability by a sigmoid —
    * the model-based companion to [[corpusDsirWeights]]' importance
    * weights and the rule-based [[textGopherRules]]. The weight vector
    * rides the plan as a bounded literal (the PQ-codebook pattern):
    * scoring is a PURE PROJECTION — one tokenize, one md5 pass per
    * feature, an element_at per feature against the literal, a per-row
    * fold — no join, no shuffle, nothing corpus-sized but the scan, which
    * is exactly why this filter family is what production corpus passes
    * run at 100 TB. Keep decision compares the exact integer-derived raw
    * score against 0, so no float drift can flip it.
    */
  def textClassifierScore(s: SparkSession, dir: String): DataFrame = {
    val staged = stageBarrier(Tables.documents(s, dir), Seq(col("doc_id")),
      "toks" -> tokens(col("text")))
    val feats = stageBarrier(staged, Seq(col("doc_id")),
      "feats" -> concat(col("toks"), wordShingles(col("toks"), 2)))
    val hashed = stageBarrier(feats, Seq(col("doc_id"), size(col("feats")).as("n_feats")),
      "hs" -> hashArray(col("feats")))
    hashed
      .select(col("doc_id"), col("n_feats").cast("long").as("n_feats"),
        classifierScoreFromHashes(col("hs"), col("n_feats")).as("score"))
      .select(col("doc_id"), col("n_feats"), col("score"),
        (lit(1.0) / (lit(1.0) + exp(-lit(ClfScale) * col("score")))).as("keep_prob"),
        (col("score") >= 0.0).as("keep"))
      .orderBy("doc_id")
  }

  /** Classifier CALIBRATION curve — keep-probability deciles vs the
    * rule-based gopher verdict: for each fixed-width probability bucket
    * (⌊10·p⌋, capped at 9 — fixed-width, NOT ntile, because ntile is a
    * single-partition global sort and bucket edges must not depend on
    * the data), the document count, mean keep-probability, and the
    * fraction the Gopher rules independently keep. A calibrated
    * classifier's rule-agreement should rise monotonically with its own
    * confidence; flat or inverted segments of this curve are how a
    * curation pass discovers the classifier drifted from the rulebook
    * before trusting its threshold at 100 TB. One lineage computes both
    * signals from a single documents scan (the classifier's
    * feature-hash fold and the gopher stats share the tokenize), then
    * collapses to a ≤10-row aggregate — nothing after the scan is
    * corpus-sized. Bucketing happens on the 1e-6-ROUNDED probability so
    * both engines bucket identical doubles (the argmax-determinism
    * discipline from the greedy selectors, applied to bin edges).
    */
  def textCalibration(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val staged = stageBarrier(Tables.documents(s, dir), Seq(col("doc_id"), t),
      "toks" -> tokens(t))
    val feats = stageBarrier(staged, Seq(col("doc_id"), t, col("toks")),
      "feats" -> concat(col("toks"), wordShingles(col("toks"), 2)))
    val hashed = stageBarrier(feats,
      Seq(col("doc_id"), t, col("toks"), size(col("feats")).cast("long").as("n_feats")),
      "hs" -> hashArray(col("feats")))
    val parts = stageBarrier(hashed,
      Seq(col("doc_id"),
        classifierScoreFromHashes(col("hs"), col("n_feats")).as("score")),
      wordStats(t): _*)
    val perDoc = parts.select(
      round(lit(1.0) / (lit(1.0) + exp(-lit(ClfScale) * col("score"))), 6)
        .as("keep_prob"),
      gopherKeepFromParts(col("n_words"),
        col("word_chars").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double"),
        col("sym_chars").cast("double") /
          greatest(col("n_chars"), lit(1L)).cast("double"),
        col("stop_hits")).as("rule_keep"))
    perDoc
      .groupBy(least(floor(col("keep_prob") * 10).cast("int"), lit(9)).as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("keep_prob")), 6).as("avg_keep_prob"),
        round(avg(col("rule_keep").cast("double")), 6).as("frac_rule_keep"))
      .orderBy("bucket")
  }

  /** PII scan + redaction — the compliance pass every production corpus
    * runs before training: per document, counts of email / IPv4 / phone /
    * api-key-shaped spans and the text with each span replaced by a
    * typed placeholder. Regex built-ins only (regexp_extract_all +
    * regexp_replace — codegen'd, no UDF), so the whole operator is a
    * stateless projection: zero shuffle, scales as the scan. The
    * synthetic corpus contains no PII-shaped spans, so a deterministic
    * FIXTURE footer (a pure projection of doc_id, derived identically by
    * the oracle) decorates a subset of documents — the operator under
    * test is the scan/redact chain, and the fixture makes every pattern
    * class actually fire and every count column carry signal.
    */
  def textPii(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val decorated = concat(col("text"),
      when(id % 7 === 0,
        concat(lit(" contact user"), id.cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(id % 11 === 0,
        concat(lit(" from 10."), (id % 256).cast("string"), lit(".0."),
          (id % 256).cast("string"))).otherwise(lit("")),
      when(id % 13 === 0,
        concat(lit(" token sk-"), substring(md5(id.cast("string")), 1, 20)))
        .otherwise(lit("")),
      when(id % 17 === 0,
        concat(lit(" ph "), (lit(100) + id % 900).cast("string"), lit("-"),
          (lit(1000) + id % 9000).cast("string"))).otherwise(lit("")))
    val staged = stageBarrier(Tables.documents(s, dir), Seq(col("doc_id")),
      "t" -> decorated)
    val t = col("t")
    staged
      .select(Seq(col("doc_id")) ++
        piiCounts(t).map { case (n, c) => c.as(n) } :+
        piiRedact(t).as("redacted"): _*)
      .orderBy("doc_id")
  }

  /** Per-source corpus health table — the dashboard a crawl-snapshot
    * review reads: per source, document and token volume, mean quality,
    * gopher keep rate, and English share (the dominant-language check).
    * Sources are how a corpus is acquired and how it rots (one bad
    * crawler, one template-farm domain), so per-source is the
    * granularity quality regressions surface at. ONE scan with the
    * shared staged tokenization; the aggregate is |sources|-sized, a
    * bounded relation at any corpus size (sources grow like acquisition
    * channels, not rows).
    */
  def corpusSourceProfile(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val staged = stageBarrier(Tables.documents(s, dir),
      Seq(col("doc_id"), col("source"), col("lang"), t),
      "toks" -> tokens(t))
    val parts = stageBarrier(staged, Seq(col("source"), col("lang")),
      wordAlphaStats(t): _*)
    parts
      .select(col("source"), col("lang"), col("n_words"),
        qualityScoreFromParts(col("n_chars"), col("alpha_len"),
          col("n_words"), col("stop_hits")).as("quality"),
        gopherKeepFromParts(col("n_words"),
          col("word_chars").cast("double") /
            greatest(col("n_words"), lit(1L)).cast("double"),
          col("sym_chars").cast("double") /
            greatest(col("n_chars"), lit(1L)).cast("double"),
          col("stop_hits")).as("g_keep"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_tokens"),
        round(avg("quality"), 6).as("avg_quality"),
        round(sum(when(col("g_keep"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("gopher_keep_frac"),
        round(sum(when(col("lang") === "en", 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double"), 6).as("en_frac"))
      .orderBy("source")
  }

  /** Sampling-temperature mixture table (Conneau et al. '20, XLM-R §3:
    * p_i ∝ share_i^α) — the knob multilingual/multi-source training
    * actually turns: α=1 reproduces corpus shares (big languages
    * dominate), α→0 flattens toward uniform (small languages upsampled).
    * Per language: token share, the normalized sampling probability at
    * α=0.3 (XLM-R's choice) and α=0.7, and the implied EPOCH factor
    * p/share — how many passes over that language's data one corpus-
    * sized token budget implies (>1 = upsampled/repeated, the number
    * repetition-aware scaling laws ask about). Everything after the one
    * scan is a |langs|-row relation; the normalizations are windows
    * over it, never the corpus.
    */
  /** Water-filling mixture allocation — the supply-constrained form of
    * the mixing problem [[corpusAlphaMix]] prices: given per-source
    * token SUPPLY, target weights w (share^3, normalized — the
    * prefer-larger-sources prior; superlinear so the constraint
    * actually binds on this near-uniform corpus) and a token budget
    * B = 0.8·total, allocate min(supply_i, t·w_i) with the water level
    * t set so allocations sum to B. Computed in CLOSED FORM, no
    * iteration: sort sources by supply/w ascending, take running sums,
    * and a source is saturated iff its ratio clears the level implied
    * by the prefix before it — the crossing point fixes t in one pass.
    * The entire computation after the per-source token aggregate (the
    * only corpus-scale work) runs on the |sources|-row relation:
    * windows, prefix sums, and three scalar subqueries. Window sums are
    * ROWS-framed over a total order (ratio, source), so both engines
    * fold identical doubles in identical sequence; at sf0.01 two
    * sources saturate and eighteen sit at the level — both branches of
    * the allocator are exercised by the oracle gate.
    */
  def corpusWaterfill(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir).createOrReplaceTempView("graft_wf_docs")
    s.sql(
      """WITH s AS (
        |  SELECT source, CAST(sum(size(split(text, ' '))) AS BIGINT) AS supply
        |  FROM graft_wf_docs GROUP BY source),
        |tot AS (SELECT sum(supply) AS total FROM s),
        |wgt AS (
        |  SELECT source, supply,
        |         pow(CAST(supply AS DOUBLE) / CAST(total AS DOUBLE), 3.0) /
        |         sum(pow(CAST(supply AS DOUBLE) / CAST(total AS DOUBLE), 3.0)) OVER () AS w
        |  FROM s CROSS JOIN tot),
        |r AS (SELECT *, CAST(supply AS DOUBLE) / w AS ratio FROM wgt),
        |o AS (SELECT *,
        |             row_number() OVER (ORDER BY ratio, source) AS k,
        |             sum(supply) OVER (ORDER BY ratio, source
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_cum,
        |             sum(w) OVER (ORDER BY ratio, source
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w_cum
        |      FROM r),
        |b AS (SELECT 0.8 * CAST(total AS DOUBLE) AS budget FROM tot),
        |flags AS (
        |  SELECT o.*, budget,
        |         ratio * (1 - (w_cum - w)) <= budget - (s_cum - supply) AS sat
        |  FROM o CROSS JOIN b),
        |krow AS (SELECT s_cum, w_cum FROM flags WHERE sat ORDER BY k DESC LIMIT 1),
        |tl AS (
        |  SELECT coalesce(
        |    ((SELECT budget FROM b) - (SELECT s_cum FROM krow)) /
        |      (1 - (SELECT w_cum FROM krow)),
        |    (SELECT budget FROM b)) AS t)
        |SELECT source, supply, round(w, 6) AS target_w, sat AS saturated,
        |       round(CASE WHEN sat THEN CAST(supply AS DOUBLE) ELSE t * w END, 6)
        |         AS allocation,
        |       round(t, 6) AS water_level
        |FROM flags CROSS JOIN tl ORDER BY source""".stripMargin)
  }

  def corpusAlphaMix(s: SparkSession, dir: String): DataFrame = {
    val staged = stageBarrier(Tables.documents(s, dir), Seq(col("lang")),
      "nt" -> size(tokens(col("text"))).cast("long"))
    val byLang = staged.groupBy("lang").agg(sum("nt").as("n_tokens"))
    val w = Window.partitionBy() // the |langs|-row relation
    val shared = byLang.select(col("lang"), col("n_tokens"),
      (col("n_tokens").cast("double") /
        sum(col("n_tokens")).over(w).cast("double")).as("share"))
    def alpha(a: Double, p: String, ep: String): Seq[Column] = {
      val pa = pow(col("share"), a) / sum(pow(col("share"), a)).over(w)
      Seq(round(pa, 6).as(p), round(pa / col("share"), 6).as(ep))
    }
    shared.select(Seq(col("lang"), col("n_tokens"),
        round(col("share"), 6).as("share")) ++
      alpha(0.3, "p_03", "epochs_03") ++ alpha(0.7, "p_07", "epochs_07"): _*)
      .orderBy("lang")
  }

  private val FixedKPerLang = 50

  /** Deterministic fixed-k per-group sample — the eval-set construction
    * primitive ([[sampleBalanced]] equalizes RATES; this pins exact
    * COUNTS): per language, the k documents with the smallest portable
    * content-independent hash h32(doc_id) win, so the sample is uniform
    * within each group, reproducible across runs and engines, and stable
    * under corpus append (a new doc displaces at most one winner). The
    * rank window partitions by language, and Catalyst's WindowGroupLimit
    * pushes the rnk <= k cut to BOTH sides of the exchange (PLANS.md,
    * PlanSpec-pinned): each map partition forwards at most k rows per
    * language, so the shuffle carries ~k·|langs|·partitions rows
    * whatever the corpus size — the TakeOrdered-per-group scale shape,
    * for free from the declarative form.
    */
  def sampleFixedK(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang")
      .orderBy(pmod(h32(col("doc_id").cast("string")), lit(1000000L)), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= FixedKPerLang)
      .select(col("doc_id"), col("lang"), col("rnk").cast("long").as("rnk"))
      .orderBy("doc_id")
  }

  /** WEIGHTED fixed-k sampling per group — Efraimidis–Spirakis A-ES
    * (IPL'06), the weighted-reservoir primitive behind quality-weighted
    * corpus subsampling ("sample 20 docs per language ∝ quality"):
    * item i wins with key uᵢ^(1/wᵢ) — equivalently, ranked by
    * ln(uᵢ)/wᵢ (the monotone form that avoids cross-engine pow) — which
    * realizes inclusion probability proportional to weight without any
    * global pass over the weights. u is the seeded h32 uniform (so the
    * draw is deterministic, replay-stable and append-stable like
    * sample_fixed_k), w is the shared blended quality score (+0.01
    * floor so zero-quality docs keep a positive weight), and the rank
    * key rounds at 1e-12 with doc_id tiebreak — drift-proof. Same
    * 100 TB shape as sample_fixed_k: a per-group rank cut that executes
    * as WindowGroupLimit (map-side top-k per group), state bounded by
    * k per group per partition.
    */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val toks = stageBarrier(Tables.documents(s, dir),
      Seq(col("doc_id"), col("lang"), t), "toks" -> tokens(t))
    val q = stageBarrier(toks, Seq(col("doc_id"), col("lang")), qualityParts(t): _*)
      .select(col("doc_id"), col("lang"),
        qualityScoreFromParts(col("n_chars"), col("alpha_len"),
          col("n_toks"), col("stop_hits")).as("wq"))
    val u = (h32(concat(lit("wsamp#"), col("doc_id").cast("string"))) + lit(1L))
      .cast("double") / lit(4294967296.0)
    val keyed = q.withColumn("k", round(log(u) / (col("wq") + lit(0.01)), 12))
    val w = Window.partitionBy("lang").orderBy(col("k").desc, col("doc_id"))
    keyed.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= FixedKPerLang)
      .select(col("doc_id"), col("lang"), col("wq").as("weight"),
        col("rnk").cast("long").as("rnk"))
      .orderBy("doc_id")
  }

  private val AgreementQualityMin = 0.5 // textCurate's quality threshold

  /** Filter-ensemble agreement table — the 8-cell diagnostic a curation
    * team reads before composing filters: per (gopher_keep, clf_keep,
    * quality_keep) cell, document count and corpus fraction. The three
    * filter families (named rules [[textGopherRules]], learned linear
    * model [[textClassifierScore]], blended heuristic [[textQuality]])
    * disagree on real corpora, and the off-diagonal cells are where the
    * curation policy actually gets decided (rules-only loses recall,
    * model-only loses explainability; the all-agree diagonal is the
    * safe core). ONE documents scan: tokenize once, every filter reads
    * the same staged columns; the aggregate is 8-cell and the fraction
    * window runs over the 8-row relation, never the corpus.
    */
  /** Per-document keep flags for all three filter families off ONE
    * staged scan — shared by [[textFilterAgreement]] and
    * [[textFilterPpl]].
    */
  private def filterFlags(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val staged = stageBarrier(Tables.documents(s, dir), Seq(col("doc_id"), t),
      "toks" -> tokens(t))
    val feats = stageBarrier(staged, Seq(col("doc_id"), t, col("toks")),
      "feats" -> concat(col("toks"), wordShingles(col("toks"), 2)))
    val hashed = stageBarrier(feats,
      Seq(col("doc_id"), t, col("toks"), size(col("feats")).as("n_feats")),
      "hs" -> hashArray(col("feats")))
    val parts = stageBarrier(hashed, Seq(col("doc_id"), col("hs"), col("n_feats")),
      wordAlphaStats(t): _*)
    parts.select(col("doc_id"),
      gopherKeepFromParts(col("n_words"),
        col("word_chars").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double"),
        col("sym_chars").cast("double") /
          greatest(col("n_chars"), lit(1L)).cast("double"),
        col("stop_hits")).as("gopher_keep"),
      (classifierScoreFromHashes(col("hs"), col("n_feats")) >= 0.0).as("clf_keep"),
      (qualityScoreFromParts(col("n_chars"), col("alpha_len"),
        col("n_words"), col("stop_hits")) >= AgreementQualityMin).as("quality_keep"))
  }

  /** Curation ORDER ablation — dedup-then-filter vs filter-then-dedup,
    * the pipeline-ordering debate every corpus paper touches, measured
    * instead of argued: order A drops near-dups on the full corpus then
    * quality-filters the survivors; order B filters first, so a pair
    * only fires when BOTH endpoints survived the filter. B keeps ≥ A
    * (pairs whose partner was filtered no longer drop their survivor —
    * the 'reintroduced_neardups' row counts exactly those), and whether
    * those reintroduced docs are wanted (their duplicate was the
    * low-quality copy) or not (boilerplate that survived the filter
    * twice) is the policy decision this table feeds. One corpus scan
    * for the flags, the SAME banded-LSH verified pair set for both
    * orders (the order only changes which pairs COUNT, never re-runs
    * the join), and three bounded aggregates.
    */
  def corpusFilterOrder(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    // NOT checkpointed here (r18 A/B: outer checkpoints of keptF/pairs
    // measured SLOWER — they serialize phases that otherwise run as
    // concurrent stages of one job); the kernel dedup lives INSIDE
    // dedupMinhashPairs' own checkpoint
    val keptF = filterFlags(s, dir).filter(col("gopher_keep")).select("doc_id")
    val pairs = dedupMinhashPairs(s, dir).select("id_a", "id_b")
    val dropA = pairs.select(col("id_b").as("doc_id")).distinct()
    val keepA = docs.join(keptF, "doc_id").join(dropA, Seq("doc_id"), "left_anti")
    val dropB = pairs
      .join(keptF.withColumnRenamed("doc_id", "id_a"), "id_a")
      .join(keptF.withColumnRenamed("doc_id", "id_b"), "id_b")
      .select(col("id_b").as("doc_id")).distinct()
    val keepB = docs.join(keptF, "doc_id").join(dropB, Seq("doc_id"), "left_anti")
    val reintro = keepB.join(dropA, "doc_id")
    def summarize(df: DataFrame, label: String): DataFrame =
      df.agg(count(lit(1)).as("n_final"),
          coalesce(sum("n_chars"), lit(0L)).as("chars_final"))
        .select(lit(label).as("ord"), col("n_final"), col("chars_final"))
    summarize(keepA, "dedup_then_filter")
      .unionByName(summarize(keepB, "filter_then_dedup"))
      .unionByName(summarize(reintro, "reintroduced_neardups"))
      .orderBy("ord")
  }

  def textFilterAgreement(s: SparkSession, dir: String): DataFrame = {
    val flags = filterFlags(s, dir)
    val w = Window.partitionBy() // the 8-row cells relation
    flags.groupBy("gopher_keep", "clf_keep", "quality_keep")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("gopher_keep"), col("clf_keep"), col("quality_keep"),
        col("n_docs"),
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(w), 6)
          .as("frac"))
      .orderBy("gopher_keep", "clf_keep", "quality_keep")
  }

  /** Filter validation against an INTRINSIC metric — the check a data
    * team runs before trusting a filter: per (gopher_keep, clf_keep)
    * cell, the mean bigram-LM fluency ([[textBigramLp]]) of the cell's
    * documents. If a filter selects for quality, its keep side should
    * read more fluent under a model that knows nothing about the
    * filter; a table that says otherwise means the filter keys on
    * something else (length, symbols) and needs recalibration before
    * it gates a corpus. One flags scan ([[filterFlags]]) + the
    * vocabulary-sized bigram-LM lineage, a doc-keyed join, a 4-cell
    * aggregate.
    */
  def textFilterPpl(s: SparkSession, dir: String): DataFrame = {
    val lp = textBigramLp(s, dir).select(col("doc_id"), col("avg_logp"))
    filterFlags(s, dir).select(col("doc_id"), col("gopher_keep"), col("clf_keep"))
      .join(lp, "doc_id")
      .groupBy("gopher_keep", "clf_keep")
      .agg(count(lit(1)).as("n_docs"),
        round(avg("avg_logp"), 6).as("avg_fluency"))
      .orderBy("gopher_keep", "clf_keep")
  }

  /** Character-distribution entropy per document — the information-
    * density quality signal (template spam, repeated boilerplate, and
    * character floods sit far below natural text's ~4.1 bits/char;
    * the gzip-ability proxy without decompressing anything). One
    * character explode, a (doc, char)-keyed partial aggregate (≤
    * alphabet-size groups per doc), and the entropy sum over those
    * ≤ |alphabet| rows — never a second corpus pass.
    */
  def textEntropy(s: SparkSession, dir: String): DataFrame = {
    // char rows via split(text, '') — a native codegen'd kernel (r18);
    // the former transform(sequence, substring) lambda is a higher-order
    // function (CodegenFallback) that evaluated one interpreted
    // substring per CHARACTER of the corpus. split on the empty pattern
    // yields the same single-char tokens plus a trailing "" element,
    // filtered out below (the empty-doc guard rides the same filter).
    // (r18 A/B note: materializing the (doc, char, cnt) aggregate
    // measured SLOWER — runtime exchange reuse already shares the
    // explode between the two CTE references; left shared.)
    Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
      .createOrReplaceTempView("graft_entropy_ch")
    s.sql(
      """WITH c AS (SELECT doc_id, ch, count(1) AS cnt
        |           FROM graft_entropy_ch GROUP BY doc_id, ch),
        |n AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars FROM c GROUP BY doc_id)
        |SELECT c.doc_id, n.n_chars,
        |       sum(-(CAST(cnt AS DOUBLE) / n_chars) *
        |           log2(CAST(cnt AS DOUBLE) / n_chars)) AS entropy_bits
        |FROM c JOIN n ON c.doc_id = n.doc_id
        |GROUP BY c.doc_id, n.n_chars ORDER BY doc_id""".stripMargin)
  }

  /** The curation deliverable an LLM-data user actually runs: per-document
    * keep/drop with machine-readable reasons — near-dup (verified LSH
    * pairs, keep-first), low quality (blended score < threshold), language
    * mismatch (predicted ≠ labeled). ONE documents scan computes quality
    * and language features together (staged tokenizations shared); the
    * only other lineage is the LSH pair set, joined back on doc_id. At
    * 100 TB this is a scan + the banded dedup join — no new shuffle shape
    * beyond dedup_keep's.
    */
  def textCurate(s: SparkSession, dir: String): DataFrame = {
    val QualityMin = 0.5
    val t = col("text")
    val staged = stageBarrier(Tables.documents(s, dir),
      Seq(col("doc_id"), col("lang"), t),
      "toks" -> tokens(t),
      "ltoks" -> tokens(lower(t)))
    val parts = stageBarrier(staged, Seq(col("doc_id"), col("lang")),
      qualityParts(t) ++ langHits(col("ltoks")): _*)
    val feat = parts.select(col("doc_id"), col("lang"),
      qualityScoreFromParts(col("n_chars"), col("alpha_len"),
        col("n_toks"), col("stop_hits")).as("quality"),
      langIdFromHits(col("hits_en"), col("hits_de"), col("hits_fr"), col("hits_es"))
        .as("lang_pred"))
    val dropped = dedupMinhashPairs(s, dir).select(col("id_b")).distinct()
    feat.join(dropped, col("doc_id") === col("id_b"), "left_outer")
      .select(col("doc_id"),
        col("id_b").isNotNull.as("is_neardup"),
        (col("quality") < QualityMin).as("low_quality"),
        (col("lang_pred") =!= col("lang")).as("lang_mismatch"),
        (col("id_b").isNull && col("quality") >= QualityMin &&
          col("lang_pred") === col("lang")).as("keep"))
      .orderBy("doc_id")
  }

  /** Principled near-dup removal: CONNECTED COMPONENTS over the verified
    * LSH pair graph, keeping each component's minimum doc_id. dedup_keep's
    * keep-first rule is the cheap approximation (drop any doc that is the
    * larger id of some pair); this is the transitive-closure ground truth
    * it approximates — a chain a~b, b~c with no a~c pair still collapses
    * to one survivor here. Components come from
    * ScaleFunctions.connectedComponentsIncident (min-label + pointer
    * jumping, O(log d) iterations, lineage-truncated); the pair graph is the same
    * banded LSH join as dedup_minhash_pairs, so nothing here is all-pairs.
    */
  def dedupCC(s: SparkSession, dir: String): DataFrame = {
    val pairs = dedupMinhashPairs(s, dir)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    // iterate ONLY over pair-incident nodes: at scale the overwhelming
    // majority of docs are in no pair, and the CC loop must never carry
    // them — non-incident docs are their own singleton component, added
    // back by the final left join; the incident set comes from the
    // persisted edge cache, so the LSH chain materializes exactly once
    val comp = graft.functions.ScaleFunctions.connectedComponentsIncident(pairs)
      .withColumnRenamed("id", "cid")
    Tables.documents(s, dir).select(col("doc_id"))
      .join(comp, col("doc_id") === col("cid"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("component"),
        (coalesce(col("lbl"), col("doc_id")) === col("doc_id")).as("keep"))
      .orderBy("doc_id")
  }

  private val ChunkLen = 50   // tokens per chunk
  private val ChunkStride = 40 // overlap = ChunkLen - ChunkStride

  /** Sliding-window chunking: each document becomes ceil-stride windows of
    * ChunkLen tokens advancing by ChunkStride (10-token overlap) — the
    * long-document -> training-sequence step of an LLM data pipeline.
    * A pure per-row explode-projection: no shuffle except the harness
    * output sort; chunk count is integer arithmetic, the window slice is
    * a single `slice` on the staged token array. Short docs yield exactly
    * one (possibly sub-ChunkLen) chunk.
    */
  def textChunks(s: SparkSession, dir: String): DataFrame = {
    val staged = stageBarrier(Tables.documents(s, dir), Seq(col("doc_id")),
      "toks" -> tokens(col("text")))
    val n = size(col("toks"))
    // nc = 1 + ceil((n - ChunkLen) / ChunkStride) for n > ChunkLen, else 1
    // — integer-exact via (x + stride - 1) div stride
    val nc = when(n <= ChunkLen, lit(1)).otherwise(
      lit(1) + floor((n - ChunkLen + ChunkStride - 1) / lit(ChunkStride)).cast("int"))
    staged
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), nc - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("toks"), col("chunk_id") * ChunkStride + 1, lit(ChunkLen)).as("ctoks"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ctoks")).as("n_tokens"),
        array_join(col("ctoks"), " ").as("chunk"))
      .orderBy("doc_id", "chunk_id")
  }

  private val PackBudget = 512 // tokens per packed training sequence

  /** Sequence packing: assign documents to fixed-budget training
    * sequences by running token count — the assembly step that turns a
    * curated corpus into equal-length training rows (docs straddling a
    * boundary are split by the downstream tokenizer; the assignment is
    * what must be deterministic). pack_id = floor(tokens-before / B)
    * within a (lang) shard, so packs are contiguous in doc order and
    * reproducible.
    *
    * Scale shape: ONE window (running sum) partitioned by the packing
    * shard. Lang is the shard here; at 100 TB the shard key is
    * (lang, shard_id) with shards sized to executors — any grouping is a
    * valid packing, so the partition key is free to scale out and no
    * global sort or single-partition window exists.
    */
  def textPack(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy("doc_id")
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), size(tokens(col("text"))).as("n_toks"))
      .withColumn("cum", sum(col("n_toks").cast("long")).over(w))
      .select(col("doc_id"), col("lang"), col("n_toks"),
        floor((col("cum") - col("n_toks")) / lit(PackBudget)).cast("long").as("pack_id"))
      .orderBy("doc_id")
  }

  /** Deterministic language-rebalancing downsample: every language is
    * thinned to the size of the smallest one, selection gated by a
    * per-document hash — the corpus-mixing op (rebalance languages /
    * domains / quality buckets) run before LLM training.
    *
    * Scale shape: pass 1 is a tiny groupBy histogram (|langs| rows);
    * pass 2 is a pure projection over the scan with the histogram
    * broadcast — no sort, no global sample(), and the hash gate makes
    * the sample REPRODUCIBLE (same doc always in/out, append-only
    * corpora keep their earlier selections) and exact in expectation.
    * The in/out test is integer-only (u * n_lang < min_n * 10^6), so
    * there is no float-boundary nondeterminism to break the oracle.
    */
  def sampleBalanced(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_lang"))
    val minN = counts.agg(min("n_lang").as("min_n"))
    docs
      .join(broadcast(counts), "lang")
      .crossJoin(broadcast(minN))
      .select(col("doc_id"), col("lang"),
        (pmod(h32(col("doc_id").cast("string")), lit(1000000L)) * col("n_lang") <
          col("min_n") * lit(1000000L)).as("keep"))
      .orderBy("doc_id")
  }

  private val CmsDepth = 4     // hash rows
  private val CmsWidth = 1024  // counters per row

  /** Count-Min Sketch over the corpus token stream — the sketch that
    * answers "how often does token X occur" in O(depth × width) space
    * regardless of vocabulary size. Deterministic by construction (fixed
    * seeded hashes, counters are plain sums), so unlike HLL it is exactly
    * oracle-checkable. The sketch build is one groupBy on (row, bucket)
    * — 4×1024 counters whatever the corpus — with map-side partial
    * aggregation; estimates for the top-50 true tokens come from a
    * broadcast-friendly join against the tiny counter table, min across
    * rows. Output pairs each exact count with its CMS estimate, pinning
    * the one-sided error contract: estimates can only ever OVERcount
    * (n_est >= n_true always; equality whenever no token collides in
    * every row — min-across-depth is what makes that the common case).
    */
  def textCms(s: SparkSession, dir: String): DataFrame = {
    // ONE tokenize pass (r18): counters and the top-50 side both derived
    // from the token stream, so the corpus explode ran twice. Aggregate
    // to the vocabulary-sized (tok, tf) table once; the counters become
    // sum(tf) over the same (r, b) cells — integer sums, bit-identical to
    // counting the raw rows — and top-50 reads off it. The checkpoint is
    // eager, so the table is materialised here, before the final plan's
    // two concurrent map-stage jobs (counters and top-50) read it: a lazy
    // one is materialised by whichever job finishes first, which drops the
    // lineage the other job's task metrics point at (the scheduler then
    // logs "Failed to update accumulator").
    val tf = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val hashed = tf
      .select(col("tok"), col("tf"), explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .select(col("tf"), col("r"), pmod(h32(col("tok"), col("r")), lit(CmsWidth)).as("b"))
    val counters = hashed.groupBy("r", "b").agg(sum(col("tf")).as("c"))
    val top = tf.select(col("tok"), col("tf").as("n_true"))
      .orderBy(col("n_true").desc, col("tok")).limit(50)
    top
      .select(col("tok"), col("n_true"),
        explode(sequence(lit(0), lit(CmsDepth - 1))).as("r"))
      .select(col("tok"), col("n_true"), col("r"),
        pmod(h32(col("tok"), col("r")), lit(CmsWidth)).as("b"))
      .join(counters, Seq("r", "b"))
      .groupBy("tok", "n_true")
      .agg(min("c").as("n_est"))
      .orderBy(col("n_true").desc, col("tok"))
  }

  private val HllP = 8             // 2^8 = 256 registers

  /** HyperLogLog distinct-count sketch per language — the cardinality
    * estimator every 100 TB profile uses where count(DISTINCT) would
    * shuffle the full key set. Deterministic end to end: the register
    * index is the top p bits of the seeded 32-bit hash, rho is derived
    * from `length(bin(suffix))` (exact integer semantics — no float
    * log2 boundary risk), registers are a (lang, idx) max-aggregation
    * (256 registers per lang at any scale), and the standard estimate
    * (alpha*m²/Σ2^-M with linear-counting small-range correction) is
    * plain double arithmetic reproducible in DuckDB, so even the
    * ESTIMATE is oracle-gated, not just the registers. Output pairs the
    * estimate with the exact distinct count per language.
    */
  def textHll(s: SparkSession, dir: String): DataFrame = {
    val m = 1 << HllP               // 256
    val suffixBits = 32 - HllP      // 24
    // ONE tokenize pass (r18): the register chain and the exact-distinct
    // side both consumed the raw token stream (2 corpus explodes). Both
    // only need the DISTINCT (lang, tok) relation — max(rho) ignores
    // duplicates and n_exact IS its row count per lang — so aggregate to
    // it once and checkpoint the vocabulary-sized result.
    Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("_tf"))
      .select("lang", "tok")
      .localCheckpoint(false)
      .createOrReplaceTempView("graft_hll_toks")
    s.sql(
      s"""WITH h AS (
         |  SELECT lang, tok,
         |         CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) AS hv
         |  FROM graft_hll_toks),
         |rr AS (
         |  SELECT lang, CAST(hv DIV ${1L << suffixBits} AS INT) AS idx,
         |         CASE WHEN hv % ${1L << suffixBits} = 0 THEN ${suffixBits + 1}
         |              ELSE $suffixBits + 1 - length(bin(hv % ${1L << suffixBits}))
         |         END AS rho
         |  FROM h),
         |regs AS (SELECT lang, idx, max(rho) AS mr FROM rr GROUP BY lang, idx),
         |st AS (
         |  SELECT lang, count(1) AS n_regs, sum(power(2.0, -mr)) AS s
         |  FROM regs GROUP BY lang),
         |est AS (
         |  SELECT lang,
         |         (0.7213 / (1 + 1.079 / $m)) * $m * $m /
         |           (s + ($m - n_regs) * 1.0) AS e_raw,
         |         $m - n_regs AS zeros
         |  FROM st),
         |fin AS (
         |  SELECT lang,
         |         CASE WHEN e_raw <= 2.5 * $m AND zeros > 0
         |              THEN $m * ln(CAST($m AS DOUBLE) / zeros)
         |              ELSE e_raw END AS e
         |  FROM est),
         |ex AS (SELECT lang, count(DISTINCT tok) AS n_exact FROM graft_hll_toks GROUP BY lang)
         |SELECT ex.lang, n_exact, CAST(round(e) AS BIGINT) AS n_est
         |FROM ex JOIN fin ON ex.lang = fin.lang
         |ORDER BY ex.lang""".stripMargin)
  }

  /** HLL sketch MERGEABILITY made checkable — the algebraic property
    * that lets constant-state distinct counting ride Spark's partial
    * aggregation at 100 TB: a register vector is a max-aggregate, max
    * is associative and commutative, so merging per-shard sketches
    * (register-wise max, ≤ m rows per shard on the exchange) yields
    * EXACTLY the sketch a single pass over the full corpus would
    * build — no approximation is added by distribution, only by the
    * sketch itself. This query proves the law on real data: the
    * corpus-distinct estimate from max-merged per-language sketches
    * vs the direct corpus sketch, plus the equality flag (true by
    * construction — and the oracle checks it cross-engine).
    */
  def textHllUnion(s: SparkSession, dir: String): DataFrame = {
    val m = 1 << HllP               // 256
    val sb = 32 - HllP              // 24
    // ONE tokenize pass (r18, the textHll treatment): the register chain
    // (h, referenced via regs/mrg and drc) and the exact-distinct side
    // each re-ran the corpus explode; every consumer is duplicate-blind
    // (max-aggregates / count DISTINCT), so the checkpointed DISTINCT
    // (lang, tok) relation serves all of them.
    Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("_tf"))
      .select("lang", "tok")
      .localCheckpoint(false)
      .createOrReplaceTempView("graft_hllu_toks")
    def estChain(src: String, a: String): String =
      s"""st_$a AS (SELECT count(1) AS n_regs, sum(power(2.0, -mr)) AS s FROM $src),
         |est_$a AS (SELECT (0.7213 / (1 + 1.079 / $m)) * $m * $m /
         |                    (s + ($m - n_regs) * 1.0) AS e_raw,
         |                  $m - n_regs AS zeros
         |           FROM st_$a),
         |fin_$a AS (SELECT CASE WHEN e_raw <= 2.5 * $m AND zeros > 0
         |                       THEN $m * ln(CAST($m AS DOUBLE) / zeros)
         |                       ELSE e_raw END AS e
         |           FROM est_$a)""".stripMargin
    s.sql(
      s"""WITH h AS (
         |  SELECT lang, tok,
         |         CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) AS hv
         |  FROM graft_hllu_toks),
         |rr AS (
         |  SELECT lang, CAST(hv DIV ${1L << sb} AS INT) AS idx,
         |         CASE WHEN hv % ${1L << sb} = 0 THEN ${sb + 1}
         |              ELSE $sb + 1 - length(bin(hv % ${1L << sb}))
         |         END AS rho
         |  FROM h),
         |regs AS (SELECT lang, idx, max(rho) AS mr FROM rr GROUP BY lang, idx),
         |mrg AS (SELECT idx, max(mr) AS mr FROM regs GROUP BY idx),
         |drc AS (SELECT idx, max(rho) AS mr FROM rr GROUP BY idx),
         |${estChain("mrg", "m")},
         |${estChain("drc", "d")},
         |ex AS (SELECT count(DISTINCT tok) AS n_exact FROM graft_hllu_toks)
         |SELECT ex.n_exact,
         |       CAST(round(fm.e) AS BIGINT) AS est_merged,
         |       CAST(round(fd.e) AS BIGINT) AS est_direct,
         |       CAST(round(fm.e) AS BIGINT) = CAST(round(fd.e) AS BIGINT) AS merge_exact
         |FROM ex CROSS JOIN fin_m fm CROSS JOIN fin_d fd""".stripMargin)
  }

  private val RecallSample = 500   // fixed-size sample for the recall accounting

  /** LSH banding recall — the dedup path's quality dial, mirroring
    * knn_recall on the ANN side. Ground truth is ALL pairs with exact
    * 3-shingle Jaccard >= 0.5 among a FIXED-SIZE sample (the similarity
    * the MinHash signatures actually estimate — word-set similarity is a
    * different, much denser measure on a shared-vocabulary corpus); the
    * all-pairs scan is legitimate exactly because the sample is a
    * constant (RecallSample² pairs at any corpus size — at 100 TB the
    * accounting samples, the production path stays banded). Measured set
    * = band-collision candidates within the sample that are true pairs,
    * so recall isolates banding misses (a near-dup pair whose signatures
    * collide in no band) and prices the bands × rows-per-band trade.
    */
  def dedupRecall(s: SparkSession, dir: String): DataFrame = {
    // one kernel evaluation over the sample (the dedupMinhashPairs r18
    // checkpoint): bands self-join + both exact-verify sides share it
    val base = minhashStages(s, dir).filter(col("doc_id") < RecallSample)
      .select(col("doc_id"), col("buckets"), array_distinct(col("hs")).as("hss"))
      .localCheckpoint(false)
    val bands = explodeBands(base)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // ground truth over the HASHED shingles (the exact space the minhash
    // signatures estimate); int64 intersects run several times faster
    // than string-shingle intersects for the same answer (h32 collisions
    // are negligible at ~10² shingles/doc and the oracle mirrors them)
    val sets = base.select(col("doc_id"), col("hss").as("ss"))
    // length prefilter (set-similarity join standard): J >= 0.5 requires
    // min(|A|,|B|)/max(|A|,|B|) >= 0.5 — prunes pairs before the O(n+m)
    // intersect; pure necessary-condition pruning, results unchanged
    val exact = sets.select(col("doc_id").as("id_a"), col("ss").as("ss_a"),
        size(col("ss")).as("na"))
      .join(sets.select(col("doc_id").as("id_b"), col("ss").as("ss_b"),
        size(col("ss")).as("nb")),
        col("id_a") < col("id_b") &&
          least(col("na"), col("nb")) * 2 >= greatest(col("na"), col("nb")))
      .filter(
        round(size(array_intersect(col("ss_a"), col("ss_b"))).cast("double") /
          size(array_union(col("ss_a"), col("ss_b"))).cast("double"), 6) >= 0.5)
      .select(col("id_a"), col("id_b"))
    val hit = exact.join(cand, Seq("id_a", "id_b"), "left_semi")
    exact.agg(count(lit(1)).as("n_true"))
      .crossJoin(hit.agg(count(lit(1)).as("n_caught")))
      .select(col("n_true"), col("n_caught"),
        round(col("n_caught").cast("double") / col("n_true").cast("double"), 6).as("recall"))
  }

  private val BenchDocs = 20       // doc_id < BenchDocs stand in for the eval set
  private val ContamRatio = 0.05   // flag at >= 5% shingle overlap

  /** Benchmark decontamination — the screen every LLM pipeline runs
    * before training: flag training documents whose 3-gram shingles
    * overlap the evaluation set. Distinct shingles per doc are exploded
    * once; the benchmark side collapses to a distinct shingle set and
    * the overlap is a shingle-keyed equi-join + per-doc count. The
    * benchmark relation is eval-set-sized (bounded, small) but carries
    * no broadcast hint — AQE broadcasts it when it fits, exactly like
    * the open-vocabulary joins. Output: per train doc, its shingle
    * count, hits, overlap ratio, and the flag.
    */
  def textContaminate(s: SparkSession, dir: String): DataFrame = {
    val shingled = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .select(col("doc_id"),
        explode(array_distinct(wordShingles(col("toks"), ShingleK))).as("sh"))
    val bench = shingled.filter(col("doc_id") < BenchDocs).select("sh").distinct()
    val train = shingled.filter(col("doc_id") >= BenchDocs)
    val nsh = train.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = train.join(bench, "sh").groupBy("doc_id").agg(count(lit(1)).as("n_hits"))
    nsh.join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round(coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_shingles").cast("double"), 6).as("overlap_ratio"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") /
          col("n_shingles").cast("double") >= ContamRatio).as("flagged"))
      .orderBy("doc_id")
  }

  /** Vocabulary GROWTH curve (Heaps' law, measured) — cumulative
    * distinct 3-gram shingle types vs cumulative shingles ingested, in
    * doc_id ingestion order split into ten equal-width id deciles: the
    * corpus-health read behind every "vocabulary grows sublinearly"
    * scale claim this repo's own SCALE.md makes for the token- and
    * shingle-keyed query families (tfidf, pmi, bigram LMs, the dedup
    * shingle joins), and the curve that says when a vocabulary budget
    * saturates. The type unit is the 3-gram shingle (the dedup
    * family's key) because this corpus's UNIGRAM vocabulary saturates
    * in the first decile — itself a finding, visible here as
    * shingle growth flattening instead. Scale-true construction with
    * NO corpus-order window: a type's first occurrence is min(doc_id)
    * — a vocabulary-sized aggregate — the decile bucketing needs only
    * the 1-row max-id aggregate broadcast back, and every decile
    * emits a row (left join from the token side; a decile with no new
    * types reads 0). Both cumulative sums run over the 10-row decile
    * relation. All-integer, exact.
    */
  def corpusHeaps(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val sh = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .select(col("doc_id"), explode(wordShingles(col("toks"), ShingleK)).as("sh"))
    val mx = docs.agg(max("doc_id").as("mx"))
    def decile(c: Column) = floor(c * 10 / (col("mx") + 1)).cast("int")
    val types = sh.groupBy("sh").agg(min("doc_id").as("fo"))
      .crossJoin(broadcast(mx))
      .groupBy(decile(col("fo")).as("decile")).agg(count(lit(1)).as("new_types"))
    val shingles = sh.crossJoin(broadcast(mx))
      .groupBy(decile(col("doc_id")).as("decile")).agg(count(lit(1)).as("new_shingles"))
    val w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    shingles.join(types, Seq("decile"), "left_outer")
      .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
      .withColumn("cum_shingles", sum("new_shingles").over(w))
      .withColumn("cum_types", sum("new_types").over(w))
      .select(col("decile"), col("new_shingles"), col("cum_shingles"),
        col("new_types"), col("cum_types"))
      .orderBy("decile")
  }

  /** Benchmark n-gram COVERAGE — [[textContaminate]]'s question asked in
    * the other direction: per EVAL document, what fraction of its
    * distinct 3-gram shingles occurs anywhere in the training side?
    * Contamination flags training docs that leak eval text; coverage
    * grades the eval set itself — an item near 1.0 is answerable from
    * memorized training n-grams (weak benchmark signal even if no
    * single training doc crossed the contamination threshold), an item
    * near 0 probes genuinely unseen text. The pre-registration read on
    * an eval suite against a frozen corpus. Same lineage as
    * contaminate with the roles swapped: the train side collapses to a
    * distinct shingle relation (vocabulary-sized), the join keys on
    * the shingle (AQE regime), and the per-eval-doc fraction is an
    * exact integer ratio; at 100 TB the train relation swaps for the
    * text_bloom broadcast bitmask with one-sided error (coverage then
    * reads as an upper bound — the safe direction for this decision).
    */
  def textNgramCoverage(s: SparkSession, dir: String): DataFrame = {
    val shingled = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .select(col("doc_id"),
        explode(array_distinct(wordShingles(col("toks"), ShingleK))).as("sh"))
    val trainSh = shingled.filter(col("doc_id") >= BenchDocs).select("sh").distinct()
    val bench = shingled.filter(col("doc_id") < BenchDocs)
    val nsh = bench.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val hits = bench.join(trainSh, "sh").groupBy("doc_id").agg(count(lit(1)).as("n_covered"))
    nsh.join(hits, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        round(coalesce(col("n_covered"), lit(0L)).cast("double") /
          col("n_shingles").cast("double"), 6).as("coverage"))
      .orderBy("doc_id")
  }

  // Bloom geometry lives in TextFunctions (BloomBits/BloomHashes), shared
  // with the oracle SQL so both engines probe one filter

  /** Bloom-filter decontamination — the join→broadcast-filter rewrite of
    * [[textContaminate]] for when the eval set outgrows a comfortable
    * equi-join: the eval side aggregates to a ≤BloomBits-element distinct
    * position set (k seeded h32 hashes mod m per shingle) whatever its row
    * count, and the probe is a pure projection against that broadcast —
    * the training corpus never joins, never shuffles on an open shingle
    * vocabulary. One-sided error is structural: a bloom hit may be a false
    * positive (over-flagging is safe for decontamination), a miss never
    * is. Deterministic seeded hashes keep the filter — false positives
    * included — bit-identical in the oracle. Output mirrors
    * textContaminate: per train doc, shingle count, bloom hits, flag.
    */
  def textBloom(s: SparkSession, dir: String): DataFrame = {
    val Words = BloomBits / 32
    // ONE md5 per shingle; the k positions are universal-hash mixes of it
    // (the minhash permutation trick — k independent md5s measured ~1.5×
    // slower on the whole query). `h` is a multiply-referenced non-cheap
    // alias, so CollapseProject keeps it in its own Project: one md5.
    val shingled = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleK)
      .select(col("doc_id"),
        explode(array_distinct(wordShingles(col("toks"), ShingleK))).as("sh"))
      .withColumn("h", h32(col("sh")))
    def positions = bloomPositions(col("h"))
    // the filter is a DENSE 32-word bitmask, not a position list: the
    // probe must be an O(1) array index + bit test per hash — a
    // list-membership scan is m× slower per shingle and the list form
    // buys nothing (measured 8× on the whole query at sf0.1)
    val bloom = shingled.filter(col("doc_id") < BenchDocs)
      .select(explode(positions).as("p"))
      .select((col("p") / 32).cast("int").as("w"), bloomBit(col("p")).as("bit"))
      .groupBy("w").agg(bit_or(col("bit")).as("bits"))
      .agg(map_from_entries(collect_list(struct(col("w"), col("bits")))).as("m"))
      .select(transform(sequence(lit(0), lit(Words - 1)),
        w => coalesce(element_at(col("m"), w), lit(0L))).as("bloom"))
    shingled.filter(col("doc_id") >= BenchDocs)
      .crossJoin(broadcast(bloom))
      .select(col("doc_id"),
        forall(positions, p => bloomMember(col("bloom"), p)).as("hit"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("n_bloom_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_bloom_hits"),
        (col("n_bloom_hits").cast("double") /
          col("n_shingles").cast("double") >= ContamRatio).as("flagged"))
      .orderBy("doc_id")
  }

  /** Incremental (daily-ingest) dedup — the production form of
    * dedup_minhash_pairs: only the NEW batch (docs with doc_id % 5 == 0,
    * a deterministic scale-invariant 20% stand-in) is checked against the
    * EXISTING corpus' LSH index. The candidate join is asymmetric —
    * new×old on (band, bucket) — so per ingest the work is proportional
    * to the batch's collisions against the index, never index×index; the
    * index side is exactly the (band, bucket)-keyed relation a production
    * deployment keeps materialized between ingests. Within-batch
    * (new×new) dups are deliberately out of scope here — that is the
    * batch path (dedup_keep) run on the ingest alone. Output: every new
    * doc with its verified-duplicate count, first duplicate id, and flag.
    */
  def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    // one kernel evaluation (the dedupMinhashPairs r18 checkpoint):
    // both asymmetric candidate sides, both verify sides and the
    // new-batch spine share the materialized projection
    val base = minhashStages(s, dir)
      .select(col("doc_id"), col("buckets"), array_distinct(col("toks")).as("ws"))
      .localCheckpoint(false)
    val bands = cappedBands(explodeBands(base))
    val cand = bands.filter(col("doc_id") % 5 === 0).as("a")
      .join(bands.filter(col("doc_id") % 5 =!= 0).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("new_id"), col("b.doc_id").as("old_id"))
      .distinct()
    val sets = base.select(col("doc_id"), col("ws"))
    val verified = cand
      .join(sets.select(col("doc_id").as("new_id"), col("ws").as("ws_a")), "new_id")
      .join(sets.select(col("doc_id").as("old_id"), col("ws").as("ws_b")), "old_id")
      .filter(round(size(array_intersect(col("ws_a"), col("ws_b"))).cast("double") /
        size(array_union(col("ws_a"), col("ws_b"))).cast("double"), 6) >= 0.5)
      .groupBy("new_id").agg(count(lit(1)).as("n_dups"), min("old_id").as("first_dup"))
    base.filter(col("doc_id") % 5 === 0).select(col("doc_id").as("new_id"))
      .join(verified, Seq("new_id"), "left_outer")
      .select(col("new_id"), coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("first_dup"), col("n_dups").isNotNull.as("dup"))
      .orderBy("new_id")
  }

  private val PmiMinCount = 10L  // drop bigrams rarer than this

  /** Bigram collocations by pointwise mutual information — the corpus-
    * statistics pass behind tokenizer-merge candidates and phrase mining:
    * PMI(a,b) = ln( p(ab) / (p(a)·p(b)) ) over adjacent-pair and unigram
    * frequencies. Two partial-aggregated counts (bigrams via the k=2
    * shingle window, unigrams via one explode); the unigram relation and
    * both totals are vocabulary-sized / single-row, so every join here is
    * a broadcast onto the bigram aggregate — nothing corpus-sized
    * shuffles twice, and the shape is UNCHANGED at 100 TB because the
    * join sides scale with vocabulary, not rows.
    */
  def textPmi(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir).select(tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_tok"))
    val bi = toks.filter(size(col("toks")) >= 2)
      .select(explode(wordShingles(col("toks"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_pair"))
    val totU = uni.agg(sum("n_tok").cast("double").as("n_uni"))
    val totB = bi.agg(sum("n_pair").cast("double").as("n_bi"))
    bi.filter(col("n_pair") >= PmiMinCount)
      .withColumn("tok_a", split(col("bigram"), " ").getItem(0))
      .withColumn("tok_b", split(col("bigram"), " ").getItem(1))
      .join(broadcast(uni.select(col("tok").as("tok_a"), col("n_tok").as("n_a"))), "tok_a")
      .join(broadcast(uni.select(col("tok").as("tok_b"), col("n_tok").as("n_b"))), "tok_b")
      .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
      .select(col("bigram"), col("n_pair"), col("n_a"), col("n_b"),
        round(log((col("n_pair") / col("n_bi")) /
          ((col("n_a") / col("n_uni")) * (col("n_b") / col("n_uni")))), 6).as("pmi"))
      .orderBy("bigram")
  }

  private val BpeMergeRounds = 10

  /** One BPE merge round applied to a symbol array: greedy left-to-right
    * non-overlapping replacement of adjacent (a, b) with a+b — the
    * reference BPE semantics ("aaaa" under (a,a) → [aa, aa]) — as a
    * per-row aggregate() fold. `pend` carries the unconsumed previous
    * symbol; (pend=a, x=b) emits the merged symbol and clears pend.
    * Property-pinned against a sequential reference in PropertiesSpec;
    * must agree with the oracle's run-parity formulation.
    */
  private[graft] def bpeMergeFold(s: Column, a: String, b: String): Column = {
    val emptyOut = expr("CAST(array() AS ARRAY<STRING>)")
    val noPend = lit(null).cast("string")
    aggregate(s,
      struct(emptyOut.as("out"), noPend.as("pend")),
      (acc, x) => {
        val out = acc.getField("out")
        val pend = acc.getField("pend")
        when(pend.isNull, struct(out.as("out"), x.as("pend")))
          .when(pend === lit(a) && x === lit(b),
            struct(concat(out, array(lit(a + b))).as("out"), noPend.as("pend")))
          .otherwise(struct(concat(out, array(pend)).as("out"), x.as("pend")))
      },
      acc => when(acc.getField("pend").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("pend")))))
  }

  /** BPE merge-table training (Sennrich et al. '16) — the tokenizer-
    * training primitive, and the natural iterative-operator companion to
    * graph_pagerank: N rounds of count-adjacent-pairs → merge the most
    * frequent pair, emitting the learned merge table (rank, lhs, rhs,
    * pair_count).
    *
    * Scale shape: ONE corpus pass builds the (word, count, symbols)
    * vocabulary — every later round iterates over that VOCABULARY-sized
    * relation only, the same reason classic BPE trainers work from word
    * frequencies. Each round's argmax is a 1-row bounded collect
    * (control-plane, the kmeans-centroid pattern), re-entering the next
    * round as literals; the merge application is a per-row aggregate()
    * fold (greedy left-to-right non-overlapping, the reference BPE
    * semantics — "aaaa" under merge (a,a) → [aa, aa]); localCheckpoint
    * truncates the N-round lineage like the PageRank/CC loops. Ties
    * break deterministically on (count DESC, lhs, rhs). No end-of-word
    * marker is appended — the merge STATISTICS are what this trains;
    * a production tokenizer would add its marker in the vocab pass.
    * The oracle replays all N rounds as generated CTEs (the PageRank
    * pattern), with the greedy selection expressed as run-parity over
    * match positions: a position merges iff it matches and its offset
    * inside the maximal run of consecutive matches is even.
    */
  def textBpeMerges(s: SparkSession, dir: String): DataFrame = {
    val (_, merges) = bpeTrain(s, dir)
    import s.implicits._
    merges.toDF("merge_rank", "lhs", "rhs", "pair_count").orderBy("merge_rank")
  }

  /** The BPE training loop, returning both artifacts: the final
    * (w, cnt, s) vocabulary after BpeMergeRounds merges (feeds the
    * encode step) and the merge table itself.
    */
  private def bpeTrain(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, String, String, Long)]) = {
    var vocab = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      .withColumn("s",
        expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
      .localCheckpoint(false)
    val merges = collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (r <- 1 to BpeMergeRounds) {
      val top = vocab.filter(size(col("s")) >= 2)
        .select(col("cnt"), explode(expr(
          "transform(sequence(1, size(s) - 1), " +
            "i -> struct(element_at(s, i) AS l, element_at(s, i + 1) AS r))")).as("pr"))
        .groupBy(col("pr.l").as("lhs"), col("pr.r").as("rhs"))
        .agg(sum("cnt").as("c"))
        .orderBy(col("c").desc, col("lhs"), col("rhs"))
        .limit(1).collect()(0)
      val (a, b, c) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((r, a, b, c))
      // LAZY checkpoint (r18): the next round's top-pair collect (or the
      // encode consumer) materializes it — still truncates the lineage,
      // but 10 eager materialization jobs collapse into the collects the
      // loop already pays (the vocabulary is tiny; job launch dominated)
      vocab = vocab.withColumn("s", bpeMergeFold(col("s"), a, b)).localCheckpoint(false)
    }
    (vocab, merges.toSeq)
  }

  /** The BPE ENCODE step — apply the trained merge table to the corpus
    * and report per-document subword statistics (token count under the
    * learned vocabulary, symbols-per-character compression): the number
    * a tokenizer-budget decision (sequence length, packing density,
    * $/token) reads off after text_bpe_merges trains the table. Scale
    * shape: segmentation lives on the VOCABULARY (each distinct word
    * carries its symbol split out of the training loop — word-sized,
    * not corpus-sized), so encoding the corpus is one explode + a
    * vocabulary-keyed join (AQE: broadcast at small SF, shuffle join on
    * the open vocabulary at 100 TB — the text_tfidf regime) + one
    * per-doc partial aggregate; integer-derived ratio, bit-stable.
    */
  def textBpeEncode(s: SparkSession, dir: String): DataFrame = {
    val (vocab, _) = bpeTrain(s, dir)
    val wl = vocab.select(col("w"), size(col("s")).cast("long").as("n_sym"))
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .join(wl, "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sym").as("n_bpe_tokens"),
        (sum("n_sym").cast("double") /
          sum(length(col("w"))).cast("double")).as("tokens_per_char"))
      .orderBy("doc_id")
  }

  /** Tokenizer FERTILITY per language — BPE tokens per word under the
    * learned merge vocabulary, the multilingual-fairness number the
    * tokenizer literature reads (a language with 2× the fertility pays
    * ~2× the compute and context budget per unit of content, and that
    * asymmetry feeds straight into the corpus_alpha_mix upweighting
    * decision): per labeled language, words encoded, BPE tokens
    * produced, fertility = tokens/word, and tokens-per-char (the
    * length-bias-free variant). Rides [[textBpeEncode]]'s lineage —
    * the segmentation lives on the vocabulary-sized merge table, the
    * corpus pass is one explode + a vocabulary-keyed join — collapsed
    * to a |langs|-row aggregate; ratios are exact-integer quotients,
    * engine-identical unrounded.
    */
  def textFertility(s: SparkSession, dir: String): DataFrame = {
    val (vocab, _) = bpeTrain(s, dir)
    val wl = vocab.select(col("w"), size(col("s")).cast("long").as("n_sym"))
    Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .filter(length(col("w")) >= 1)
      .join(wl, "w")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_words"),
        sum("n_sym").as("n_bpe_tokens"),
        (sum("n_sym").cast("double") / count(lit(1))).as("fertility"),
        (sum("n_sym").cast("double") /
          sum(length(col("w"))).cast("double")).as("tokens_per_char"))
      .orderBy("lang")
  }

  /** The corpus mixing report: per ingestion source, how many documents
    * and tokens it contributes, its token share of the whole corpus, its
    * mean quality, and its near-dup rate — the table a data-mixing
    * decision (upweight/downweight a source) is made from.
    *
    * Scale shape: one documents scan with the quality parts and token
    * count staged together, the LSH drop-set joined back on doc_id (the
    * dedup_keep lineage), then ONE groupBy on source (partial-aggregated;
    * |sources| rows). The corpus token total attaches as a scalar
    * subquery over the aggregated rows, not a second corpus pass.
    */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val t = col("text")
    val staged = stageBarrier(Tables.documents(s, dir),
      Seq(col("doc_id"), col("source")),
      "n_chars" -> length(t),
      "alpha_len" -> length(regexp_replace(t, "[^A-Za-z ]", "")),
      "toks" -> tokens(t))
    val feat = stageBarrier(staged,
      Seq(col("doc_id"), col("source"), col("n_chars"), col("alpha_len")),
      "n_toks" -> size(col("toks")),
      "stop_hits" -> stopwordHits(col("toks"), StopwordsEn))
    val dropped = dedupMinhashPairs(s, dir).select(col("id_b")).distinct()
    val perDoc = feat.join(dropped, col("doc_id") === col("id_b"), "left_outer")
      .select(col("source"), col("n_toks").cast("long").as("n_toks"),
        qualityScoreFromParts(col("n_chars"), col("alpha_len"),
          col("n_toks"), col("stop_hits")).as("quality"),
        col("id_b").isNotNull.as("is_dup"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_toks").as("n_tokens"),
        round(avg("quality"), 6).as("avg_quality"),
        round(avg(when(col("is_dup"), 1.0).otherwise(0.0)), 6).as("dup_rate"))
      .withColumn("tok_share",
        round(col("n_tokens") / sum("n_tokens").over(Window.partitionBy()), 6))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("tok_share"), col("avg_quality"), col("dup_rate"))
      .orderBy("source")
  }

  /** Dup-cluster size histogram — the dedup diagnostic read before
    * shipping a keep/drop decision: how many clusters of each size exist
    * (size 1 = unique docs). Composes the CC labels with two tiny
    * aggregations (per-component count, then per-size count); nothing
    * here adds shuffle shape beyond dedup_cc's.
    */
  /** Triangle count + global clustering coefficient of the near-dup
    * graph — the density read that distinguishes a CHAIN of borderline
    * pairs (a CC component that transitive closure glues together but
    * whose members barely resemble each other) from a CLIQUE of true
    * mutual duplicates: high clustering means components are tight and
    * keep-one-per-component is safe; low clustering warns the Jaccard
    * cut is chaining. Algorithm is the degree-oriented wedge join
    * (Suri–Vassilvitskii MR triangle counting): orient every edge from
    * its (lower-degree, then lower-id) endpoint — out-degrees are then
    * bounded by O(√m) — join out-neighbor pairs per source into wedges
    * (Σ outdeg², the bound the orientation exists to enforce; an
    * unoriented wedge join squares the max DEGREE instead, the
    * power-law killer), and close each wedge against the canonical edge
    * list. The pairs lineage is computed once and cached ([[knnPqRerank]]
    * precedent); everything else is edge-relation-sized.
    */
  def dedupTriangles(s: SparkSession, dir: String): DataFrame = {
    val e = dedupMinhashPairs(s, dir)
      .select(col("id_a").as("a"), col("id_b").as("b")).persist()
    try {
      val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      val fwd = col("da") < col("db") ||
        (col("da") === col("db") && col("a") < col("b"))
      val adj = e
        .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
        .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        .select(when(fwd, col("a")).otherwise(col("b")).as("src"),
          when(fwd, col("b")).otherwise(col("a")).as("dst"))
      val tri = adj.as("x")
        .join(adj.as("y"),
          col("x.src") === col("y.src") && col("x.dst") < col("y.dst"))
        .select(col("x.dst").as("u"), col("y.dst").as("v"))
        .join(e, least(col("u"), col("v")) === col("a") &&
          greatest(col("u"), col("v")) === col("b"))
        .agg(coalesce(count(lit(1)), lit(0L)).as("n_triangles"))
      val st = deg.agg(count(lit(1)).as("n_nodes"),
        (sum(col("deg") * (col("deg") - 1)) / 2).cast("long").as("n_wedges"))
      val ne = e.agg(count(lit(1)).as("n_edges"))
      st.crossJoin(ne).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_wedges"), col("n_triangles"),
          round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6).as("clustering"))
    } finally e.unpersist(false)
  }

  private val KcoreK = 3
  private val KcoreRounds = 6

  /** ONE k-core peel round (two semi-join-shaped filters against the
    * alive set + the surviving-degree cut), factored out of
    * [[dedupKcore]] so the constituent-plan evidence
    * (graft.ConstituentDump) dumps the exact per-round join shapes the
    * checkpointed loop executes.
    */
  private[graft] def kcorePeelStep(sym: DataFrame, alive: DataFrame): DataFrame =
    sym
      .join(alive.select(col("node").as("a")), "a")
      .join(alive.select(col("node").as("b")), "b")
      .groupBy("a").agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= KcoreK)
      .select(col("a").as("node"))

  /** K-CORE membership of the near-dup graph — [[dedupTriangles]]'s
    * clustering read made actionable per node: the k-core (maximal
    * subgraph where every node keeps ≥ k neighbors IN the subgraph)
    * separates the dense heart of a duplicate cluster from the
    * borderline chain links that transitive CC glues on — core members
    * are safe hard-drop candidates, peripheral nodes deserve the soft
    * path (text_softdedup). Algorithm: iterative peeling — drop nodes
    * whose degree among surviving nodes is < k, recompute, repeat.
    * Each round is two semi-joins of the edge list against the alive
    * set plus one degree aggregate — edge-relation-sized, no node ever
    * sees more than its neighborhood — with `localCheckpoint` per
    * round truncating the loop lineage (the dedup_cc/BPE discipline).
    * Rounds are CAPPED at [[KcoreRounds]] (the oracle unrolls the same
    * cap as chained CTEs — the emb_pca1 precedent); the emitted
    * `stable` column self-reports whether the cap reached the fixpoint
    * (last two rounds equal), so a pathological peel depth at some
    * future corpus is visible in the output rather than silent. At
    * 100 TB peel depth grows with the graph's degeneracy ordering, not
    * its size; a production run raises the cap or switches to the
    * bucketed-degree sequential algorithm per component.
    */
  def dedupKcore(s: SparkSession, dir: String): DataFrame = {
    val e = dedupMinhashPairs(s, dir)
      .select(col("id_a").as("a"), col("id_b").as("b")).persist()
    try {
      val sym = e.unionAll(e.select(col("b").as("a"), col("a").as("b")))
        .localCheckpoint(false) // lazy: round 1's count materializes it (r18)
      val nodes = sym.select(col("a").as("node")).distinct()
      var alive = nodes
      var prevAlive = nodes
      // alive sets only SHRINK under peeling, so an unchanged count is an
      // exact fixpoint — stop instead of re-peeling identical rounds (the
      // cap typically over-runs convergence by several rounds; r17). The
      // counts ride the checkpointed results, and `stable` keeps its
      // meaning: at an early exit the last two rounds are equal by the
      // exit condition, exactly what running out the cap would report.
      // counts ride only CHECKPOINTED rounds (counting the lazy seed
      // would re-run the nodes distinct as an extra job), so the exit
      // can first fire after round 2 — peeling needs ≥2 rounds to prove
      // a fixpoint from counts anyway
      var nPrev = -2L
      var nAlive = -1L
      var round = 0
      while (round < KcoreRounds && nAlive != nPrev) {
        round += 1
        prevAlive = alive
        nPrev = nAlive
        alive = kcorePeelStep(sym, alive)
          .localCheckpoint(false) // lazy: the convergence count below materializes
        nAlive = alive.count()
      }
      val coreDeg = sym
        .join(alive.select(col("node").as("a")), "a")
        .join(alive.select(col("node").as("b")), "b")
        .groupBy("a").agg(count(lit(1)).as("core_deg"))
        .select(col("a").as("node"), col("core_deg"))
      val stable = alive.agg(count(lit(1)).as("n_last")).crossJoin(
          prevAlive.agg(count(lit(1)).as("n_prev")))
        .select((col("n_last") === col("n_prev")).as("stable"))
      nodes.join(coreDeg, Seq("node"), "left_outer")
        .crossJoin(broadcast(stable))
        .select(col("node").as("doc_id"),
          col("core_deg").isNotNull.as("in_core"),
          coalesce(col("core_deg"), lit(0L)).as("core_deg"),
          col("stable"))
        .orderBy("doc_id")
    } finally e.unpersist(false)
  }

  def dedupClusterStats(s: SparkSession, dir: String): DataFrame =
    dedupCC(s, dir)
      .groupBy("component").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
      .orderBy("cluster_size")

  /** SOFT deduplication — reweight instead of drop: every member of a
    * near-dup cluster stays in the corpus at sampling weight
    * 1/cluster_size, so the cluster contributes ONE document's worth of
    * expected training mass while keeping its internal variation
    * (paraphrases, near-copies with corrections) available — the
    * down-weighting alternative the hard keep/drop queries (dedup_cc,
    * dedup_keep) trade against, and the shape recent soft-dedup work
    * lands on when hard dropping measurably hurts diversity. Rides the
    * dedup_cc component lineage unchanged (banded LSH pairs →
    * incident-only CC), adds one component-sized count and a
    * broadcast-sized join back; weight and effective chars are exact
    * small-integer ratios, engine-identical. At 100 TB the weight
    * column feeds the trainer's sampler directly — no corpus rewrite,
    * which is the operational argument for soft over hard dedup.
    */
  def textSoftDedup(s: SparkSession, dir: String): DataFrame = {
    val cc = dedupCC(s, dir).select(col("doc_id"), col("component"))
    val sizes = cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "component")
      .join(Tables.documents(s, dir).select(col("doc_id"), col("n_chars")), "doc_id")
      .select(col("doc_id"), col("component"), col("cluster_size"),
        (lit(1.0) / col("cluster_size")).as("weight"),
        (col("n_chars") / col("cluster_size").cast("double")).as("eff_chars"))
      .orderBy("doc_id")
  }

  /** Quality-aware dedup keep — per near-dup cluster keep the HIGHEST-
    * QUALITY member, not the lowest id: dedup_cc's min-id rule is
    * arbitrary among near-copies, but near-dup clusters on a real crawl
    * contain the clean original alongside boilerplate-wrapped or
    * truncated variants, and keeping by blended quality score
    * (doc_id tiebreak) retains the best surviving text — the refinement
    * production dedup passes actually ship. Composition: the dedup_cc
    * component lineage + the text_quality staged score (shared
    * qualityScoreFromParts, so the keep criterion cannot diverge from
    * the quality queries), one rank window whose partitions are
    * CLUSTER-sized (bounded by the largest near-dup cluster, never
    * corpus-partitioned). The rank key is the score rounded to 6 —
    * drift-proof grain — with doc_id tiebreak, so the kept set is
    * deterministic cross-engine.
    */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    val cc = dedupCC(s, dir).select(col("doc_id"), col("component"))
    val t = col("text")
    val toks = stageBarrier(Tables.documents(s, dir), Seq(col("doc_id"), t),
      "toks" -> tokens(t))
    val q = stageBarrier(toks, Seq(col("doc_id")), qualityParts(t): _*)
      .select(col("doc_id"),
        qualityScoreFromParts(col("n_chars"), col("alpha_len"),
          col("n_toks"), col("stop_hits")).as("quality"))
    val w = Window.partitionBy("component").orderBy(col("quality").desc, col("doc_id"))
    cc.join(q, "doc_id")
      .withColumn("rnk", row_number().over(w))
      .select(col("doc_id"), col("component"), col("quality"),
        (col("rnk") === 1).as("keep"))
      .orderBy("doc_id")
  }

  /** The dedup-funnel accounting table every curation run reports: how
    * many documents (and how much text) survive each stage — raw →
    * exact dedup (md5 keep-first) → near-dup removal (verified LSH
    * pairs among exact survivors, keep-first) → Gopher-rule quality
    * filter. Stages are genuinely SEQUENTIAL: the near-dup drop set
    * only counts pairs whose BOTH endpoints survived exact dedup (an
    * exact duplicate must be charged to the exact stage, not double-
    * counted at near-dup), and the quality gate applies to near-dup
    * survivors only. One documents scan computes length+fp, the pair
    * set is the banded LSH join dedup_keep already uses, the flags
    * reduce to a single 1-row aggregate, and the 4 stage rows are a
    * stack() over that row — at 100 TB this costs a scan + the dedup
    * join + a 1-row shuffle, no new shuffle shape. Percentages are
    * int-ratio doubles (deterministic cross-engine).
    */
  def corpusDedupFunnel(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("fp").orderBy("doc_id")
    val ex = Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("nch"),
        md5(col("text")).as("fp"))
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("nch"), (col("rn") === 1).as("k_exact"))
    val exKeep = ex.filter(col("k_exact")).select("doc_id")
    val nd = dedupMinhashPairs(s, dir)
      .join(exKeep.withColumnRenamed("doc_id", "id_a"), "id_a")
      .join(exKeep.withColumnRenamed("doc_id", "id_b"), "id_b")
      .select(col("id_b").as("doc_id")).distinct()
      .withColumn("nd_hit", lit(true))
    val g = textGopherRules(s, dir).select(col("doc_id"), col("keep").as("k_gopher"))
    ex.join(nd, Seq("doc_id"), "left_outer")
      .join(g, Seq("doc_id"))
      .select(col("nch"), col("k_exact"),
        (col("k_exact") && col("nd_hit").isNull).as("k_nd"),
        (col("k_exact") && col("nd_hit").isNull && col("k_gopher")).as("k_q"))
      .agg(
        count(lit(1)).as("d0"), sum("nch").as("b0"),
        sum(when(col("k_exact"), 1L).otherwise(0L)).as("d1"),
        sum(when(col("k_exact"), col("nch")).otherwise(0L)).as("b1"),
        sum(when(col("k_nd"), 1L).otherwise(0L)).as("d2"),
        sum(when(col("k_nd"), col("nch")).otherwise(0L)).as("b2"),
        sum(when(col("k_q"), 1L).otherwise(0L)).as("d3"),
        sum(when(col("k_q"), col("nch")).otherwise(0L)).as("b3"))
      .selectExpr(
        """stack(4,
          |  CAST(0 AS BIGINT), 'raw',     d0, b0,
          |  CAST(1 AS BIGINT), 'exact',   d1, b1,
          |  CAST(2 AS BIGINT), 'neardup', d2, b2,
          |  CAST(3 AS BIGINT), 'quality', d3, b3) AS (stage, phase, docs, chars)""".stripMargin,
        "d0", "b0")
      .select(col("stage"), col("phase"), col("docs"), col("chars"),
        round(col("docs").cast("double") / col("d0").cast("double"), 6).as("pct_docs"),
        round(col("chars").cast("double") / col("b0").cast("double"), 6).as("pct_chars"))
      .orderBy("stage")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_curate" -> textCurate,
    "corpus_dedup_funnel" -> corpusDedupFunnel,
    "dedup_cc" -> dedupCC,
    "dedup_cluster_stats" -> dedupClusterStats,
    "dedup_triangles" -> dedupTriangles,
    "dedup_kcore" -> dedupKcore,
    "text_softdedup" -> textSoftDedup,
    "dedup_keep_best" -> dedupKeepBest,
    "text_lang_confusion" -> textLangConfusion,
    "sample_balanced" -> sampleBalanced,
    "corpus_mix" -> corpusMix,
    "text_contaminate" -> textContaminate,
    "text_ngram_coverage" -> textNgramCoverage,
    "corpus_heaps" -> corpusHeaps,
    "text_bloom" -> textBloom,
    "text_pmi" -> textPmi,
    "text_bpe_merges" -> textBpeMerges,
    "text_bpe_encode" -> textBpeEncode,
    "text_fertility" -> textFertility,
    "dedup_incremental" -> dedupIncremental,
    "dedup_recall" -> dedupRecall,
    "text_cms" -> textCms,
    "text_hll" -> textHll,
    "text_hll_union" -> textHllUnion,
    "text_chunks" -> textChunks,
    "text_pack" -> textPack,
    "text_tfidf" -> textTfidf,
    "text_bm25" -> textBm25,
    "text_hybrid_rrf" -> textHybridRrf,
    "dedup_exact" -> dedupExact,
    "dedup_minhash" -> dedupMinhash,
    "dedup_minhash_pairs" -> dedupMinhashPairs,
    "dedup_bands_sweep" -> dedupBandsSweep,
    "dedup_ssjoin_prefix" -> dedupSsjoinPrefix,
    "dedup_containment" -> dedupContainment,
    "dedup_keep" -> dedupKeep,
    "dedup_simhash" -> dedupSimhash,
    "dedup_simhash_pairs" -> dedupSimhashPairs,
    "text_winnow" -> textWinnow,
    "text_winnow_match" -> textWinnowMatch,
    "text_rolling_fp" -> textRollingFp,
    "text_dup_spans" -> textDupSpans,
    "text_dup_span_ranges" -> textDupSpanRanges,
    "text_dup_ranges_exact" -> textDupRangesExact,
    "dup_range_coverage" -> dupRangeCoverage,
    "dup_span_recall" -> dupSpanRecall,
    "text_cdc_chunks" -> textCdcChunks,
    "cdc_dedup_ratio" -> cdcDedupRatio,
    "split_assign" -> splitAssign,
    "corpus_shuffle" -> corpusShuffle,
    "text_bigram_kn" -> textBigramKn,
    "text_stats" -> textStats,
    "text_langid" -> textLangid,
    "text_quality" -> textQuality,
    "text_gopher_rules" -> textGopherRules,
    "text_boilerplate" -> textBoilerplate,
    "text_boilerplate_clean" -> textBoilerplateClean,
    "text_classifier_score" -> textClassifierScore,
    "text_calibration" -> textCalibration,
    "text_pii" -> textPii,
    "text_filter_agreement" -> textFilterAgreement,
    "corpus_filter_order" -> corpusFilterOrder,
    "text_filter_ppl" -> textFilterPpl,
    "corpus_source_profile" -> corpusSourceProfile,
    "corpus_alpha_mix" -> corpusAlphaMix,
    "corpus_waterfill" -> corpusWaterfill,
    "sample_fixed_k" -> sampleFixedK,
    "sample_weighted" -> sampleWeighted,
    "text_entropy" -> textEntropy,
    "text_repetition" -> textRepetition,
    "text_dup_ngrams" -> textDupNgrams,
    "text_novelty" -> textNovelty,
    "corpus_source_cap" -> corpusSourceCap,
    "corpus_source_cap2" -> corpusSourceCap2,
    "text_unigram_lp" -> textUnigramLp,
    "text_bigram_lp" -> textBigramLp,
    "text_kl_drift" -> textKlDrift,
    "corpus_dsir_weights" -> corpusDsirWeights,
    "text_perplexity_buckets" -> textPerplexityBuckets,
    "text_zipf" -> textZipf,
    "text_top_tokens" -> textTopTokens)

  // ---- DuckDB oracle SQL ----------------------------------------------
  // hx(s) = first 8 hex chars of md5 as BIGINT (matches TextFunctions.h32)

  private def hx(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 8) AS BIGINT)"

  // the BPE merge chain v0 → v{BpeMergeRounds} (+ per-round winners m$r):
  // shared by text_bpe_merges (reads the m$r) and text_bpe_encode (reads
  // the final vocabulary). v/m MATERIALIZED: each round references the
  // previous vocab (and its own m) twice — default CTE inlining would
  // re-derive the whole chain exponentially (2^rounds scans of documents)
  private lazy val bpeVocabCte: String = {
    def round(r: Int): String = {
      val prev = s"v${r - 1}"
      s"""p$r AS (
         |  SELECT cnt, s[i] AS l, s[i + 1] AS rr
         |  FROM (SELECT cnt, s, unnest(range(1, len(s))) AS i FROM $prev)),
         |m$r AS MATERIALIZED (
         |  SELECT l, rr, CAST(sum(cnt) AS BIGINT) AS c
         |  FROM p$r GROUP BY l, rr ORDER BY c DESC, l, rr LIMIT 1),
         |mt$r AS (
         |  SELECT w, cnt, s, i,
         |         i < len(s) AND s[i] = (SELECT l FROM m$r)
         |           AND s[i + 1] = (SELECT rr FROM m$r) AS mt
         |  FROM (SELECT w, cnt, s, unnest(range(1, len(s) + 1)) AS i FROM $prev)),
         |sel$r AS (
         |  SELECT w, cnt, s, i, mt,
         |         mt AND (i - coalesce(max(CASE WHEN NOT mt THEN i END)
         |             OVER (PARTITION BY w ORDER BY i ROWS UNBOUNDED PRECEDING), 0) - 1) % 2 = 0 AS sel
         |  FROM mt$r),
         |em$r AS (
         |  SELECT w, cnt, i,
         |         CASE WHEN sel THEN s[i] || s[i + 1] ELSE s[i] END AS sym,
         |         lag(sel, 1, false) OVER (PARTITION BY w ORDER BY i) AS consumed
         |  FROM sel$r),
         |v$r AS MATERIALIZED (
         |  SELECT w, cnt, list(sym ORDER BY i) AS s
         |  FROM em$r WHERE NOT consumed GROUP BY w, cnt)""".stripMargin
    }
    s"""v0 AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS cnt,
       |         [substr(w, CAST(i AS INT), 1) for i in range(1, length(w) + 1)] AS s
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 1 GROUP BY w),
       |${(1 to BpeMergeRounds).map(round).mkString(",\n")}""".stripMargin
  }

  // the bigram-LM fluency score (textBigramLp's oracle body, no final
  // ORDER BY) — shared by text_bigram_lp and text_perplexity_buckets
  private val bigramLpSql: String =
    """WITH toksrc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |bg AS (SELECT doc_id,
      |         unnest([array_to_string(list_slice(toks, i, i + 1), ' ')
      |                 for i in range(1, len(toks))]) AS bg
      |       FROM toksrc WHERE len(toks) >= 2),
      |tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |c2 AS (SELECT bg, count(*) AS n2 FROM bg GROUP BY bg),
      |c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(sum(n2) AS BIGINT) AS n1
      |       FROM c2 GROUP BY 1),
      |v AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS vs FROM tok)
      |SELECT doc_id,
      |       avg(ln((n2 + 0.5) / (n1 + 0.5 * vs))) AS avg_logp
      |FROM bg b
      |JOIN c2 USING (bg)
      |JOIN c1 ON c1.w1 = split_part(b.bg, ' ', 1)
      |CROSS JOIN v
      |GROUP BY doc_id""".stripMargin

  private val shinglesSql =
    "[array_to_string(list_slice(toks, i, i + 2), ' ') for i in range(1, len(toks) - 1)]"

  // one md5 per shingle (hs), then universal-hash mixes per seed — must
  // mirror TextFunctions.hashArray + minhashFromHashes exactly
  private val hsSql = s"[${hx("s")} for s in shingles]"

  private val sigSql =
    s"[list_min([((seed + 1) * h + seed) % 1000000007 for h in hs]) for seed in range(0, $NumHashes)]"

  private val bucketsSql =
    s"[${hx("array_to_string(list_slice(sig, b * 4 + 1, b * 4 + 4), ',')")} for b in range(0, ${NumHashes / RowsPerBand})]"

  private val bandsCte =
    s"""WITH toksrc AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, toks, $shinglesSql AS shingles
       |  FROM toksrc WHERE len(toks) >= $ShingleK),
       |hsrc AS (
       |  SELECT doc_id, toks, $hsSql AS hs FROM sh),
       |sig AS (
       |  SELECT doc_id, toks, $sigSql AS sig FROM hsrc),
       |bk AS (
       |  SELECT doc_id, toks, $bucketsSql AS buckets FROM sig),
       |bands AS (
       |  SELECT doc_id, i - 1 AS band, buckets[i] AS bucket
       |  FROM bk, range(1, ${NumHashes / RowsPerBand} + 1) r(i))""".stripMargin

  /** Shared CTE chain: LSH candidate pairs verified by exact word-Jaccard
    * (>= 0.5) — reused by dedup_minhash_pairs and dedup_keep.
    */
  private lazy val pairsCore =
    s"""$bandsCte,
       |bhot AS (SELECT band, bucket FROM bands
       |         GROUP BY band, bucket HAVING count(1) > $MinhashMaxBucket),
       |bc AS (SELECT b.* FROM bands b LEFT JOIN bhot h
       |       ON b.band = h.band AND b.bucket = h.bucket WHERE h.band IS NULL),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bc a JOIN bc b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |sets AS (
       |  SELECT doc_id, list_distinct(toks) AS ws, list_distinct(shingles) AS ss FROM sh),
       |pairs AS (
       |  SELECT * FROM (
       |    SELECT id_a, id_b,
       |           round(len(list_filter(sa.ws, x -> list_contains(sb.ws, x)))::DOUBLE /
       |                 len(list_distinct(list_concat(sa.ws, sb.ws)))::DOUBLE, 6) AS j_word,
       |           round(len(list_filter(sa.ss, x -> list_contains(sb.ss, x)))::DOUBLE /
       |                 len(list_distinct(list_concat(sa.ss, sb.ss)))::DOUBLE, 6) AS j_shingle
       |    FROM cand JOIN sets sa ON cand.id_a = sa.doc_id
       |              JOIN sets sb ON cand.id_b = sb.doc_id)
       |  WHERE j_word >= 0.5)""".stripMargin

  private val enList = StopwordsEn.map(w => s"'$w'").mkString(", ")
  // blended quality score — must stay verbatim-identical to the
  // text_quality oracle's `quality` column (both mirror qualityScoreFromParts)
  private lazy val qualitySql =
    s"""round((
       |    (CASE WHEN len(text) BETWEEN 100 AND 10000 THEN 1.0
       |          WHEN len(text) >= 30 THEN 0.5 ELSE 0.0 END) +
       |    least(len(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE /
       |          greatest(len(text), 1)::DOUBLE, 1.0) +
       |    least(len(list_filter(string_split(text, ' '), t -> t IN ($enList)))::DOUBLE /
       |          greatest(len(string_split(text, ' ')), 1)::DOUBLE * 5, 1.0)) / 3, 6)""".stripMargin
  private val deList = StopwordsDe.map(w => s"'$w'").mkString(", ")
  private val frList = StopwordsFr.map(w => s"'$w'").mkString(", ")
  private val esList = StopwordsEs.map(w => s"'$w'").mkString(", ")

  /** Shared sampled rolling-fingerprint SQL (text_rolling_fp + text_dup_spans). */
  private lazy val rollingFpSql: String = {
    // base^(w-1-j) mod M for j in 0..w-1, as a DuckDB literal list
    val pws = (0 until RollW).map { j =>
      var r = 1L; (0 until (RollW - 1 - j)).foreach(_ => r = r * RollB % RollM); r
    }.mkString("[", ", ", "]")
    s"""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
       |                  octet_length(encode(text)) AS n FROM documents),
       |px AS (SELECT doc_id, hx, unnest(range(0, n - ${RollW - 1})) AS p FROM h),
       |sel AS (
       |  SELECT doc_id, p,
       |         list_sum([CAST('0x' || substr(hx, CAST((p + j) * 2 + 1 AS INT), 2) AS BIGINT)
       |                   * ($pws)[CAST(j AS INT) + 1]
       |                   for j in range(0, $RollW)]) % $RollM AS fp
       |  FROM px)
       |SELECT doc_id, CAST(p AS BIGINT) AS pos, CAST(fp AS BIGINT) AS fp
       |FROM sel WHERE fp % $RollP = 0""".stripMargin
  }

  /** Stride-1 all-window fingerprints over the `doc_id < SpanRecallSample`
    * shard (text_dup_ranges_exact + dup_range_coverage).
    */
  private lazy val shardAllFpSql: String = {
    val pws = (0 until RollW).map { j =>
      var r = 1L; (0 until (RollW - 1 - j)).foreach(_ => r = r * RollB % RollM); r
    }.mkString("[", ", ", "]")
    s"""SELECT doc_id, CAST(p AS BIGINT) AS pos,
       |       list_sum([CAST('0x' || substr(hx, CAST((p + j) * 2 + 1 AS INT), 2) AS BIGINT)
       |                 * ($pws)[CAST(j AS INT) + 1]
       |                 for j in range(0, $RollW)]) % $RollM AS fp
       |FROM (SELECT doc_id, hx, unnest(range(0, n - ${RollW - 1})) AS p
       |      FROM (SELECT doc_id, hex(encode(text)) AS hx,
       |                   octet_length(encode(text)) AS n
       |            FROM documents WHERE doc_id < $SpanRecallSample))""".stripMargin
  }

  /** (doc_id, pos, fp) relation SQL → cross-doc-dup interval-merge SQL
    * (the textDupSpanRanges shape, parameterized over the fp plane).
    */
  private def mergeRangesSql(fpRel: String): String =
    s"""WITH rel AS ($fpRel),
       |u AS (SELECT DISTINCT doc_id, fp FROM rel),
       |dfc AS (SELECT fp, count(*) AS ndocs FROM u GROUP BY fp),
       |dup AS (SELECT r.doc_id, r.pos, r.pos + $RollW AS e
       |        FROM rel r JOIN dfc d USING (fp) WHERE d.ndocs > 1),
       |m AS (SELECT doc_id, pos, e,
       |         max(e) OVER (PARTITION BY doc_id ORDER BY pos
       |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS meb
       |      FROM dup),
       |g AS (SELECT doc_id, pos, e,
       |         CASE WHEN meb IS NULL OR pos > meb THEN 1 ELSE 0 END AS ng FROM m),
       |c AS (SELECT doc_id, pos, e,
       |         sum(ng) OVER (PARTITION BY doc_id ORDER BY pos
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
       |      FROM g)
       |SELECT doc_id, CAST(grp - 1 AS BIGINT) AS span_idx,
       |       min(pos) AS span_start, max(e) AS span_end,
       |       CAST(count(*) AS BIGINT) AS n_fps
       |FROM c GROUP BY doc_id, grp""".stripMargin

  /** Shared CDC chunk SQL (text_cdc_chunks + cdc_dedup_ratio). */
  private lazy val cdcChunksSql: String = {
      val pws = (0 until RollW).map { j =>
        var r = 1L; (0 until (RollW - 1 - j)).foreach(_ => r = r * RollB % RollM); r
      }.mkString("[", ", ", "]")
      s"""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
         |                  octet_length(encode(text)) AS n FROM documents),
         |hs AS (
         |  SELECT doc_id, hx, n,
         |         [list_sum([CAST('0x' || substr(hx, CAST((p + j) * 2 + 1 AS INT), 2) AS BIGINT)
         |                    * ($pws)[CAST(j AS INT) + 1]
         |                    for j in range(0, $RollW)]) % $RollM
         |          for p in range(0, n - ${RollW - 1})] AS hs
         |  FROM h),
         |bnd AS (SELECT doc_id, hx, n,
         |          [p + $RollW for p in range(0, CAST(len(hs) AS BIGINT)) if hs[CAST(p AS INT) + 1] % $CdcMask = 0] AS bs
         |        FROM hs),
         |ch AS (SELECT doc_id, hx,
         |         list_prepend(CAST(0 AS BIGINT), bs) AS ss,
         |         list_append(bs, CAST(n AS BIGINT)) AS es
         |       FROM bnd),
         |ex AS (SELECT doc_id, hx, ss, es,
         |              unnest(range(0, CAST(len(ss) AS BIGINT))) AS ci FROM ch)
         |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
         |       ss[CAST(ci AS INT) + 1] AS start,
         |       es[CAST(ci AS INT) + 1] - ss[CAST(ci AS INT) + 1] AS len,
         |       md5(lower(substr(hx, CAST(ss[CAST(ci AS INT) + 1] * 2 + 1 AS INT),
         |                        CAST((es[CAST(ci AS INT) + 1] - ss[CAST(ci AS INT) + 1]) * 2 AS INT)))) AS fp
         |FROM ex
         |WHERE es[CAST(ci AS INT) + 1] > ss[CAST(ci AS INT) + 1]
         |ORDER BY doc_id, chunk_idx""".stripMargin
  }

  // oracle weight vector rendered from the SAME plan-time table Spark
  // folds (TextFunctions.classifierWeights, fixture-loaded) so editing
  // fixtures/classifier_weights.csv moves batch, stream, and oracle
  // together; Double.toString is shortest-roundtrip decimal, so DuckDB
  // parses back bit-identical doubles
  private lazy val wvListSql: String =
    classifierWeights.map(_.toString).mkString("[", ", ", "]")

  // shared flags chain (wv/t/ft/f CTEs): per-doc gopher/classifier/
  // quality keeps — mirrors filterFlags; used by text_filter_agreement
  // and text_filter_ppl
  private lazy val filterFlagsCteSql: String =
    s"""wv AS (SELECT $wvListSql AS w),
       |t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |ft AS (SELECT doc_id, text, toks,
       |              list_concat(toks,
       |                [array_to_string(list_slice(toks, i, i + 1), ' ')
       |                 for i in range(1, len(toks))]) AS feats
       |       FROM t),
       |f AS (SELECT doc_id,
       |  (CAST(len(toks) AS BIGINT) BETWEEN 50 AND 100000 AND
       |   CAST(list_sum(list_transform(toks, x -> len(x))) AS DOUBLE) /
       |     CAST(greatest(len(toks), 1) AS DOUBLE) BETWEEN 3.0 AND 10.0 AND
       |   CAST(len(regexp_replace(text, '[A-Za-z0-9 .,]', '', 'g')) AS DOUBLE) /
       |     CAST(greatest(len(text), 1) AS DOUBLE) <= 0.1 AND
       |   len(list_filter(toks, x -> x IN ($enList))) >= 2) AS gopher_keep,
       |  (list_sum([w[CAST(${hx("ff")} % $ClfBuckets AS INT) + 1]
       |             for ff in feats]) / len(feats) >= 0) AS clf_keep,
       |  ($qualitySql >= $AgreementQualityMin) AS quality_keep
       | FROM ft CROSS JOIN wv)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT doc_id, fp, rn = 1 AS keep FROM (
        |  SELECT doc_id, md5(text) AS fp,
        |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "dedup_minhash" ->
      s"""$bandsCte
         |SELECT doc_id, band, bucket FROM bands ORDER BY doc_id, band""".stripMargin,
    "dedup_minhash_pairs" ->
      s"""$pairsCore
         |SELECT id_a, id_b, j_word, j_shingle FROM pairs ORDER BY id_a, id_b""".stripMargin,
    // the same capped peeling unrolled as chained CTEs (emb_pca1
    // precedent); stable compares the last two rounds. Each round joins
    // the previous one twice, so an inlined CTE chain grows as
    // 2^rounds copies of the pair core: the rounds (and sym) are
    // MATERIALIZED so DuckDB computes each once
    "dedup_kcore" -> {
      val rounds = (1 to KcoreRounds).map { r =>
        val prev = if (r == 1) "n0" else s"a${r - 1}"
        s"""a$r AS MATERIALIZED (SELECT a AS node FROM (
           |  SELECT s.a, count(1) AS c FROM sym s
           |  JOIN $prev x ON s.a = x.node JOIN $prev y ON s.b = y.node
           |  GROUP BY s.a) WHERE c >= $KcoreK)""".stripMargin
      }.mkString(",\n")
      s"""$pairsCore,
         |e AS (SELECT id_a AS a, id_b AS b FROM pairs),
         |sym AS MATERIALIZED (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
         |n0 AS (SELECT DISTINCT a AS node FROM sym),
         |$rounds,
         |cd AS (SELECT s.a AS node, CAST(count(1) AS BIGINT) AS core_deg
         |       FROM sym s
         |       JOIN a$KcoreRounds x ON s.a = x.node
         |       JOIN a$KcoreRounds y ON s.b = y.node
         |       GROUP BY s.a),
         |st AS (SELECT (SELECT count(1) FROM a$KcoreRounds) =
         |              (SELECT count(1) FROM a${KcoreRounds - 1}) AS stable)
         |SELECT n0.node AS doc_id, cd.node IS NOT NULL AS in_core,
         |       coalesce(cd.core_deg, 0) AS core_deg, st.stable
         |FROM n0 LEFT JOIN cd ON n0.node = cd.node CROSS JOIN st
         |ORDER BY doc_id""".stripMargin
    },
    // the same degree orientation and wedge close over pairsCore's edges
    "dedup_triangles" ->
      s"""$pairsCore,
         |e AS (SELECT id_a AS a, id_b AS b FROM pairs),
         |deg AS (SELECT node, count(1) AS deg
         |        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
         |        GROUP BY node),
         |ad AS (SELECT CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND a < b)
         |                   THEN a ELSE b END AS src,
         |              CASE WHEN d1.deg < d2.deg OR (d1.deg = d2.deg AND a < b)
         |                   THEN b ELSE a END AS dst
         |       FROM e JOIN deg d1 ON e.a = d1.node JOIN deg d2 ON e.b = d2.node),
         |w2 AS (SELECT x.dst AS u, y.dst AS v
         |       FROM ad x JOIN ad y ON x.src = y.src AND x.dst < y.dst),
         |tri AS (SELECT count(1) AS n_triangles
         |        FROM w2 JOIN e ON least(u, v) = e.a AND greatest(u, v) = e.b),
         |st AS (SELECT count(1) AS n_nodes,
         |              CAST(sum(deg * (deg - 1)) // 2 AS BIGINT) AS n_wedges
         |       FROM deg),
         |ne AS (SELECT count(1) AS n_edges FROM e)
         |SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges,
         |       n_wedges, CAST(n_triangles AS BIGINT) AS n_triangles,
         |       round(3.0 * n_triangles / n_wedges, 6) AS clustering
         |FROM st CROSS JOIN ne CROSS JOIN tri""".stripMargin,
    // brute-force all-pairs Jaccard — a DIFFERENT algorithm from the
    // prefix-filtered Spark side, so green == cross-algorithm proof of
    // the no-false-negatives property
    "dedup_ssjoin_prefix" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id,
         |             list_distinct([CAST('0x' || substr(md5(sh), 1, 15) AS BIGINT)
         |                            for sh in $shinglesSql]) AS ws
         |      FROM t WHERE len(toks) >= $ShingleK),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         len(list_filter(a.ws, x -> list_contains(b.ws, x)))::DOUBLE /
         |         len(list_distinct(list_concat(a.ws, b.ws)))::DOUBLE AS j
         |  FROM s a JOIN s b ON a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(j, 6) AS j_shingle
         |FROM pairs WHERE j >= $SsjT ORDER BY id_a, id_b""".stripMargin,
    // the same sig chain re-banded per (bands × rows) config; per config
    // a banded candidate join + unrounded shingle-Jaccard verify, scalar
    // counts per point (knn_recall_sweep's UNION ALL shape)
    "dedup_bands_sweep" -> {
      def bucketsFor(r: Int): String =
        s"[${hx(s"array_to_string(list_slice(sig, b * $r + 1, b * $r + $r), ',')")} for b in range(0, ${NumHashes / r})]"
      val cfgCtes = BandsSweepConfigs.map { case (b, r) =>
        s"""bk$b AS (SELECT doc_id, ${bucketsFor(r)} AS buckets FROM sigm),
           |bands$b AS (
           |  SELECT doc_id, i - 1 AS band, buckets[i] AS bucket
           |  FROM bk$b, range(1, ${NumHashes / r} + 1) r(i)),
           |cand$b AS MATERIALIZED (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM bands$b a JOIN bands$b b
           |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           |good$b AS (
           |  SELECT 1 AS one
           |  FROM cand$b c JOIN sets sa ON c.id_a = sa.doc_id
           |               JOIN sets sb ON c.id_b = sb.doc_id
           |  WHERE len(list_filter(sa.ss, x -> list_contains(sb.ss, x)))::DOUBLE /
           |        len(list_distinct(list_concat(sa.ss, sb.ss)))::DOUBLE >= $BandsSweepJaccard)""".stripMargin
      }.mkString(",\n")
      def point(b: Int, r: Int): String =
        s"""SELECT $b AS n_bands, $r AS rows_per_band,
           |       round(pow(1.0 / $b, 1.0 / $r), 6) AS threshold,
           |       CAST((SELECT count(*) FROM cand$b) AS BIGINT) AS n_cand,
           |       CAST((SELECT count(*) FROM good$b) AS BIGINT) AS n_good,
           |       CASE WHEN (SELECT count(*) FROM cand$b) = 0 THEN 0.0
           |            ELSE CAST((SELECT count(*) FROM good$b) AS DOUBLE) /
           |                 CAST((SELECT count(*) FROM cand$b) AS DOUBLE) END AS prec""".stripMargin
      s"""WITH toksrc AS (
         |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id, toks, $shinglesSql AS shingles
         |  FROM toksrc WHERE len(toks) >= $ShingleK),
         |hsrc AS (
         |  SELECT doc_id, toks, $hsSql AS hs FROM sh),
         |sigm AS MATERIALIZED (
         |  SELECT doc_id, $sigSql AS sig FROM hsrc),
         |sets AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(shingles) AS ss FROM sh),
         |$cfgCtes
         |${BandsSweepConfigs.map { case (b, r) => point(b, r) }.mkString("\nUNION ALL\n")}
         |ORDER BY n_bands""".stripMargin
    },
    // pairsCore's cand/sets BEFORE the jaccard cut — containment keeps
    // pairs the symmetric filter drops (the `pairs` CTE goes unreferenced
    // and uncomputed)
    "dedup_containment" ->
      s"""$pairsCore,
         |cont AS (
         |  SELECT id_a, id_b,
         |         round(len(list_filter(sa.ws, x -> list_contains(sb.ws, x)))::DOUBLE /
         |               len(sa.ws)::DOUBLE, 6) AS contain_a,
         |         round(len(list_filter(sa.ws, x -> list_contains(sb.ws, x)))::DOUBLE /
         |               len(sb.ws)::DOUBLE, 6) AS contain_b
         |  FROM cand JOIN sets sa ON cand.id_a = sa.doc_id
         |            JOIN sets sb ON cand.id_b = sb.doc_id)
         |SELECT id_a, id_b, contain_a, contain_b FROM cont
         |WHERE greatest(contain_a, contain_b) >= 0.7
         |ORDER BY id_a, id_b""".stripMargin,
    "dedup_keep" ->
      s"""$pairsCore,
         |dup AS (SELECT DISTINCT id_b FROM pairs)
         |SELECT d.doc_id, dup.id_b IS NULL AS keep
         |FROM documents d LEFT JOIN dup ON d.doc_id = dup.id_b
         |ORDER BY d.doc_id""".stripMargin,
    "corpus_dedup_funnel" ->
      s"""$pairsCore,
         |exd AS (
         |  SELECT doc_id, CAST(len(text) AS BIGINT) AS nch,
         |         row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1 AS k_exact
         |  FROM documents),
         |exk AS (SELECT doc_id FROM exd WHERE k_exact),
         |nd AS (SELECT DISTINCT id_b AS doc_id FROM pairs
         |       WHERE id_a IN (SELECT doc_id FROM exk)
         |         AND id_b IN (SELECT doc_id FROM exk)),
         |g AS (SELECT doc_id,
         |        (CAST(len(string_split(text, ' ')) AS BIGINT) BETWEEN 50 AND 100000 AND
         |         CAST(list_sum(list_transform(string_split(text, ' '), w -> len(w))) AS DOUBLE) /
         |           CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE) BETWEEN 3.0 AND 10.0 AND
         |         CAST(len(regexp_replace(text, '[A-Za-z0-9 .,]', '', 'g')) AS DOUBLE) /
         |           CAST(greatest(len(text), 1) AS DOUBLE) <= 0.1 AND
         |         CAST(len(list_filter(string_split(text, ' '), t -> t IN ($enList))) AS BIGINT) >= 2) AS keep
         |      FROM documents),
         |flags AS (
         |  SELECT e.nch, e.k_exact,
         |         (e.k_exact AND nd.doc_id IS NULL) AS k_nd,
         |         (e.k_exact AND nd.doc_id IS NULL AND g.keep) AS k_q
         |  FROM exd e LEFT JOIN nd ON e.doc_id = nd.doc_id
         |            JOIN g ON e.doc_id = g.doc_id),
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS d0, CAST(sum(nch) AS BIGINT) AS b0,
         |         CAST(sum(CASE WHEN k_exact THEN 1 ELSE 0 END) AS BIGINT) AS d1,
         |         CAST(sum(CASE WHEN k_exact THEN nch ELSE 0 END) AS BIGINT) AS b1,
         |         CAST(sum(CASE WHEN k_nd THEN 1 ELSE 0 END) AS BIGINT) AS d2,
         |         CAST(sum(CASE WHEN k_nd THEN nch ELSE 0 END) AS BIGINT) AS b2,
         |         CAST(sum(CASE WHEN k_q THEN 1 ELSE 0 END) AS BIGINT) AS d3,
         |         CAST(sum(CASE WHEN k_q THEN nch ELSE 0 END) AS BIGINT) AS b3
         |  FROM flags),
         |stages AS (
         |  SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS phase, d0 AS docs, b0 AS chars, d0, b0 FROM agg
         |  UNION ALL SELECT CAST(1 AS BIGINT), 'exact', d1, b1, d0, b0 FROM agg
         |  UNION ALL SELECT CAST(2 AS BIGINT), 'neardup', d2, b2, d0, b0 FROM agg
         |  UNION ALL SELECT CAST(3 AS BIGINT), 'quality', d3, b3, d0, b0 FROM agg)
         |SELECT stage, phase, docs, chars,
         |       round(CAST(docs AS DOUBLE) / CAST(d0 AS DOUBLE), 6) AS pct_docs,
         |       round(CAST(chars AS DOUBLE) / CAST(b0 AS DOUBLE), 6) AS pct_chars
         |FROM stages ORDER BY stage""".stripMargin,
    "text_hll" -> {
      val m = 1 << HllP
      val sb = 32 - HllP
      s"""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT lang, tok, ${hx("tok")} AS hv FROM tok),
         |rr AS (
         |  SELECT lang, CAST(hv // ${1L << sb} AS INT) AS idx,
         |         CASE WHEN hv % ${1L << sb} = 0 THEN ${sb + 1}
         |              ELSE $sb + 1 - length(bin(hv % ${1L << sb}))
         |         END AS rho
         |  FROM h),
         |regs AS (SELECT lang, idx, max(rho) AS mr FROM rr GROUP BY lang, idx),
         |st AS (
         |  SELECT lang, count(1) AS n_regs, sum(power(2.0, -mr)) AS s
         |  FROM regs GROUP BY lang),
         |est AS (
         |  SELECT lang,
         |         (0.7213 / (1 + 1.079 / $m)) * $m * $m /
         |           (s + ($m - n_regs) * 1.0) AS e_raw,
         |         $m - n_regs AS zeros
         |  FROM st),
         |fin AS (
         |  SELECT lang,
         |         CASE WHEN e_raw <= 2.5 * $m AND zeros > 0
         |              THEN $m * ln(CAST($m AS DOUBLE) / zeros)
         |              ELSE e_raw END AS e
         |  FROM est),
         |ex AS (SELECT lang, count(DISTINCT tok) AS n_exact FROM tok GROUP BY lang)
         |SELECT ex.lang, n_exact, CAST(round(e) AS BIGINT) AS n_est
         |FROM ex JOIN fin ON ex.lang = fin.lang
         |ORDER BY ex.lang""".stripMargin
    },
    "text_hll_union" -> {
      val m = 1 << HllP
      val sb = 32 - HllP
      def estChain(src: String, a: String): String =
        s"""st_$a AS (SELECT count(1) AS n_regs, sum(power(2.0, -mr)) AS s FROM $src),
           |est_$a AS (SELECT (0.7213 / (1 + 1.079 / $m)) * $m * $m /
           |                    (s + ($m - n_regs) * 1.0) AS e_raw,
           |                  $m - n_regs AS zeros
           |           FROM st_$a),
           |fin_$a AS (SELECT CASE WHEN e_raw <= 2.5 * $m AND zeros > 0
           |                       THEN $m * ln(CAST($m AS DOUBLE) / zeros)
           |                       ELSE e_raw END AS e
           |           FROM est_$a)""".stripMargin
      s"""WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
         |h AS (SELECT lang, tok, ${hx("tok")} AS hv FROM tok),
         |rr AS (
         |  SELECT lang, CAST(hv // ${1L << sb} AS INT) AS idx,
         |         CASE WHEN hv % ${1L << sb} = 0 THEN ${sb + 1}
         |              ELSE $sb + 1 - length(bin(hv % ${1L << sb}))
         |         END AS rho
         |  FROM h),
         |regs AS (SELECT lang, idx, max(rho) AS mr FROM rr GROUP BY lang, idx),
         |mrg AS (SELECT idx, max(mr) AS mr FROM regs GROUP BY idx),
         |drc AS (SELECT idx, max(rho) AS mr FROM rr GROUP BY idx),
         |${estChain("mrg", "m")},
         |${estChain("drc", "d")},
         |ex AS (SELECT count(DISTINCT tok) AS n_exact FROM tok)
         |SELECT ex.n_exact,
         |       CAST(round(fm.e) AS BIGINT) AS est_merged,
         |       CAST(round(fd.e) AS BIGINT) AS est_direct,
         |       CAST(round(fm.e) AS BIGINT) = CAST(round(fd.e) AS BIGINT) AS merge_exact
         |FROM ex CROSS JOIN fin_m fm CROSS JOIN fin_d fd""".stripMargin
    },
    "text_cms" ->
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |hashed AS (
         |  SELECT tok, CAST(r AS INT) AS r,
         |         ${hx("tok || '#' || CAST(r AS VARCHAR)")} % $CmsWidth AS b
         |  FROM tok CROSS JOIN range($CmsDepth) t(r)),
         |counters AS (SELECT r, b, count(*) AS c FROM hashed GROUP BY r, b),
         |top AS (SELECT tok, count(*) AS n_true FROM tok GROUP BY tok
         |        ORDER BY n_true DESC, tok LIMIT 50),
         |probe AS (
         |  SELECT top.tok, top.n_true, CAST(r AS INT) AS r,
         |         ${hx("top.tok || '#' || CAST(r AS VARCHAR)")} % $CmsWidth AS b
         |  FROM top CROSS JOIN range($CmsDepth) t(r))
         |SELECT probe.tok, n_true, min(c) AS n_est
         |FROM probe JOIN counters ON probe.r = counters.r AND probe.b = counters.b
         |GROUP BY probe.tok, n_true
         |ORDER BY n_true DESC, probe.tok""".stripMargin,
    "dedup_recall" ->
      s"""$bandsCte,
         |cand2 AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |  WHERE a.doc_id < $RecallSample AND b.doc_id < $RecallSample),
         |sets2 AS (
         |  SELECT doc_id, list_distinct(hs) AS ss FROM hsrc
         |  WHERE doc_id < $RecallSample),
         |ex AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sets2 a JOIN sets2 b ON a.doc_id < b.doc_id
         |  WHERE round(len(list_filter(a.ss, x -> list_contains(b.ss, x)))::DOUBLE /
         |              len(list_distinct(list_concat(a.ss, b.ss)))::DOUBLE, 6) >= 0.5),
         |hit AS (SELECT ex.* FROM ex SEMI JOIN cand2
         |        ON ex.id_a = cand2.id_a AND ex.id_b = cand2.id_b)
         |SELECT (SELECT count(*) FROM ex) AS n_true,
         |       (SELECT count(*) FROM hit) AS n_caught,
         |       round((SELECT count(*) FROM hit)::DOUBLE /
         |             (SELECT count(*) FROM ex)::DOUBLE, 6) AS recall""".stripMargin,
    "text_contaminate" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |shs AS (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh
         |        FROM t WHERE len(toks) >= $ShingleK),
         |bench AS (SELECT DISTINCT sh FROM shs WHERE doc_id < $BenchDocs),
         |train AS (SELECT * FROM shs WHERE doc_id >= $BenchDocs),
         |nsh AS (SELECT doc_id, count(*) AS n_shingles FROM train GROUP BY doc_id),
         |hits AS (SELECT doc_id, count(*) AS n_hits
         |         FROM train JOIN bench USING (sh) GROUP BY doc_id)
         |SELECT nsh.doc_id, n_shingles, coalesce(n_hits, 0) AS n_hits,
         |       round(coalesce(n_hits, 0)::DOUBLE / n_shingles::DOUBLE, 6) AS overlap_ratio,
         |       coalesce(n_hits, 0)::DOUBLE / n_shingles::DOUBLE >= $ContamRatio AS flagged
         |FROM nsh LEFT JOIN hits ON nsh.doc_id = hits.doc_id
         |ORDER BY nsh.doc_id""".stripMargin,
    // first-occurrence = min(doc_id) per token; deciles via the 1-row
    // max-id relation; cumulative sums over the 10-row decile relation
    "corpus_heaps" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |shs AS (SELECT doc_id, unnest($shinglesSql) AS sh
         |        FROM t WHERE len(toks) >= $ShingleK),
         |mx AS (SELECT max(doc_id) AS mx FROM documents),
         |ty AS (SELECT CAST(fo * 10 // (mx + 1) AS INT) AS decile,
         |              CAST(count(*) AS BIGINT) AS new_types
         |       FROM (SELECT sh, min(doc_id) AS fo FROM shs GROUP BY sh)
         |       CROSS JOIN mx GROUP BY 1),
         |tk AS (SELECT CAST(doc_id * 10 // (mx + 1) AS INT) AS decile,
         |              CAST(count(*) AS BIGINT) AS new_shingles
         |       FROM shs CROSS JOIN mx GROUP BY 1)
         |SELECT tk.decile, new_shingles,
         |       CAST(sum(new_shingles) OVER (ORDER BY tk.decile
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_shingles,
         |       coalesce(new_types, 0) AS new_types,
         |       CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY tk.decile
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_types
         |FROM tk LEFT JOIN ty ON ty.decile = tk.decile
         |ORDER BY tk.decile""".stripMargin,
    // text_contaminate's lineage with the roles swapped: per EVAL doc the
    // fraction of its distinct shingles present anywhere in the train side
    "text_ngram_coverage" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |shs AS (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh
         |        FROM t WHERE len(toks) >= $ShingleK),
         |trainsh AS (SELECT DISTINCT sh FROM shs WHERE doc_id >= $BenchDocs),
         |bench AS (SELECT * FROM shs WHERE doc_id < $BenchDocs),
         |nsh AS (SELECT doc_id, count(*) AS n_shingles FROM bench GROUP BY doc_id),
         |hits AS (SELECT doc_id, count(*) AS n_covered
         |         FROM bench JOIN trainsh USING (sh) GROUP BY doc_id)
         |SELECT nsh.doc_id, n_shingles, coalesce(n_covered, 0) AS n_covered,
         |       round(coalesce(n_covered, 0)::DOUBLE / n_shingles::DOUBLE, 6) AS coverage
         |FROM nsh LEFT JOIN hits ON nsh.doc_id = hits.doc_id
         |ORDER BY nsh.doc_id""".stripMargin,
    // mirrors textBloom: one h32 per shingle mixed into k positions mod m
    // (the minhash permutation trick), the eval side collapsed to one
    // distinct-position list, probe via list_has_all — membership in the
    // position set is equivalent to the Spark side's bitmask test, and
    // false positives reproduce bit-identically
    "text_bloom" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |shs AS (SELECT doc_id, unnest(list_distinct($shinglesSql)) AS sh
         |        FROM t WHERE len(toks) >= $ShingleK),
         |hsh AS (SELECT doc_id, ${hx("sh")} AS h FROM shs),
         |pos AS (SELECT doc_id,
         |               [((i + 1) * h + i) % 1000000007 % $BloomBits
         |                for i in range(0, $BloomHashes)] AS ps
         |        FROM hsh),
         |bloom AS (SELECT list_distinct(flatten(list(ps))) AS bloom
         |          FROM pos WHERE doc_id < $BenchDocs),
         |probe AS (SELECT doc_id, list_has_all(bloom, ps) AS hit
         |          FROM pos CROSS JOIN bloom WHERE doc_id >= $BenchDocs)
         |SELECT doc_id, count(*) AS n_shingles,
         |       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
         |       sum(CASE WHEN hit THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE
         |         >= $ContamRatio AS flagged
         |FROM probe GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // mirrors dedupIncremental: asymmetric new×old band join over the
    // shared bandsCte, word-Jaccard verify from the pairsCore formulas
    "dedup_incremental" ->
      s"""$bandsCte,
         |bhot AS (SELECT band, bucket FROM bands
         |         GROUP BY band, bucket HAVING count(1) > $MinhashMaxBucket),
         |bc AS (SELECT b.* FROM bands b LEFT JOIN bhot h
         |       ON b.band = h.band AND b.bucket = h.bucket WHERE h.band IS NULL),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS old_id
         |  FROM bc a JOIN bc b
         |    ON a.band = b.band AND a.bucket = b.bucket
         |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
         |sets AS (SELECT doc_id, list_distinct(toks) AS ws FROM sh),
         |ver AS (
         |  SELECT new_id, count(*) AS n_dups, min(old_id) AS first_dup
         |  FROM cand JOIN sets sa ON cand.new_id = sa.doc_id
         |            JOIN sets sb ON cand.old_id = sb.doc_id
         |  WHERE round(len(list_filter(sa.ws, x -> list_contains(sb.ws, x)))::DOUBLE /
         |              len(list_distinct(list_concat(sa.ws, sb.ws)))::DOUBLE, 6) >= 0.5
         |  GROUP BY new_id)
         |SELECT sh.doc_id AS new_id, coalesce(n_dups, 0) AS n_dups, first_dup,
         |       n_dups IS NOT NULL AS dup
         |FROM sh LEFT JOIN ver ON sh.doc_id = ver.new_id
         |WHERE sh.doc_id % 5 = 0
         |ORDER BY new_id""".stripMargin,
    // mirrors textPmi: bigrams via the k=2 shingle window, broadcast-
    // shaped unigram/total joins, same division order in the ln argument
    "text_pmi" ->
      s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
         |uni AS (SELECT unnest(toks) AS tok FROM t),
         |u AS (SELECT tok, count(*) AS n_tok FROM uni GROUP BY tok),
         |nu AS (SELECT CAST(count(*) AS DOUBLE) AS n_uni FROM uni),
         |big AS (SELECT unnest([array_to_string(list_slice(toks, i, i + 1), ' ')
         |                      for i in range(1, len(toks))]) AS bigram
         |        FROM t WHERE len(toks) >= 2),
         |b AS (SELECT bigram, count(*) AS n_pair FROM big GROUP BY bigram),
         |nb AS (SELECT CAST(count(*) AS DOUBLE) AS n_bi FROM big)
         |SELECT bigram, n_pair, ua.n_tok AS n_a, ub.n_tok AS n_b,
         |       round(ln((n_pair / n_bi) /
         |                ((ua.n_tok / n_uni) * (ub.n_tok / n_uni))), 6) AS pmi
         |FROM b
         |JOIN u ua ON string_split(bigram, ' ')[1] = ua.tok
         |JOIN u ub ON string_split(bigram, ' ')[2] = ub.tok
         |CROSS JOIN nu CROSS JOIN nb
         |WHERE n_pair >= $PmiMinCount
         |ORDER BY bigram""".stripMargin,
    // BpeMergeRounds merge rounds unrolled as generated CTEs (the
    // graph_pagerank pattern). Greedy left-to-right non-overlapping merge
    // selection is expressed as run-parity: position i merges iff it
    // matches the round's top pair and its offset inside the maximal run
    // of consecutive matching positions is even (runstart = last
    // non-matching position + 1); the following position is then consumed
    // via lag(sel). Must agree with textBpeMerges' aggregate() fold.
    "text_bpe_merges" -> {
      val sel = (1 to BpeMergeRounds).map(r =>
        s"SELECT $r AS merge_rank, l AS lhs, rr AS rhs, c FROM m$r").mkString("\nUNION ALL\n")
      s"""WITH $bpeVocabCte
         |SELECT merge_rank, lhs, rhs, c AS pair_count FROM (
         |$sel) ORDER BY merge_rank""".stripMargin
    },
    // the shared merge chain's FINAL vocabulary joined back onto the
    // corpus tokens — segmentation lives on the vocabulary, the corpus
    // pays one join; ratio from exact integer sums
    "text_bpe_encode" ->
      s"""WITH $bpeVocabCte,
         |wl AS (SELECT w, CAST(len(s) AS BIGINT) AS n_sym FROM v$BpeMergeRounds),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
         |       CAST(sum(n_sym) AS DOUBLE) / CAST(sum(length(w)) AS DOUBLE)
         |         AS tokens_per_char
         |FROM tok JOIN wl USING (w)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the bpe_encode chain aggregated per language; exact-integer ratios
    "text_fertility" ->
      s"""WITH $bpeVocabCte,
         |wl AS (SELECT w, CAST(len(s) AS BIGINT) AS n_sym FROM v$BpeMergeRounds),
         |tok AS (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
         |       CAST(sum(n_sym) AS DOUBLE) / count(*) AS fertility,
         |       CAST(sum(n_sym) AS DOUBLE) / CAST(sum(length(w)) AS DOUBLE)
         |         AS tokens_per_char
         |FROM tok JOIN wl USING (w)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "corpus_mix" ->
      s"""$pairsCore,
         |dup AS (SELECT DISTINCT id_b FROM pairs),
         |perdoc AS (
         |  SELECT source, len(string_split(text, ' ')) AS n_toks,
         |         $qualitySql AS quality,
         |         dup.id_b IS NOT NULL AS is_dup
         |  FROM documents d LEFT JOIN dup ON d.doc_id = dup.id_b),
         |agg AS (
         |  SELECT source, count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
         |         round(avg(quality), 6) AS avg_quality,
         |         round(avg(CASE WHEN is_dup THEN 1.0 ELSE 0.0 END), 6) AS dup_rate
         |  FROM perdoc GROUP BY source)
         |SELECT source, n_docs, n_tokens,
         |       round(n_tokens / (SELECT CAST(sum(n_tokens) AS DOUBLE) FROM agg), 6)
         |         AS tok_share,
         |       avg_quality, dup_rate
         |FROM agg ORDER BY source""".stripMargin,
    "text_chunks" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |n AS (SELECT doc_id, toks,
         |             CASE WHEN len(toks) <= $ChunkLen THEN 1
         |                  ELSE 1 + (len(toks) - $ChunkLen + ${ChunkStride - 1}) // $ChunkStride
         |             END AS nc
         |      FROM t),
         |ix AS (SELECT doc_id, toks, CAST(unnest(range(nc)) AS INT) AS chunk_id FROM n),
         |ch AS (SELECT doc_id, chunk_id,
         |              list_slice(toks, chunk_id * $ChunkStride + 1,
         |                         chunk_id * $ChunkStride + $ChunkLen) AS ctoks
         |       FROM ix)
         |SELECT doc_id, chunk_id, CAST(len(ctoks) AS INT) AS n_tokens,
         |       array_to_string(ctoks, ' ') AS chunk
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
    "text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tok GROUP BY tok),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents)
        |SELECT doc_id, tok AS top_token, round(score, 6) AS score FROM (
        |  SELECT tf.doc_id, tf.tok,
        |         tf.tf * ln((SELECT n FROM n) / df.df) AS score,
        |         row_number() OVER (PARTITION BY tf.doc_id ORDER BY
        |           tf.tf * ln((SELECT n FROM n) / df.df) DESC, tf.tok) AS rnk
        |  FROM tf JOIN df USING (tok))
        |WHERE rnk = 1 ORDER BY doc_id""".stripMargin,
    // identical BM25 arithmetic on pre-cast doubles (decimal literals
    // only ever combine with doubles — both engines' parsers type bare
    // 0.5/2.2 as DECIMAL, and a decimal division would quantize on
    // engine-specific scales before ln/round)
    "text_bm25" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |qterms AS (SELECT tok, df FROM df CROSS JOIN stats
        |           ORDER BY abs(df - n / 10.0), tok LIMIT 3),
        |pre AS (SELECT t.doc_id, CAST(t.tf AS DOUBLE) AS tfd,
        |               CAST(q.df AS DOUBLE) AS dfd, CAST(d.dl AS DOUBLE) AS dld,
        |               CAST(n AS DOUBLE) AS nd, avgdl
        |        FROM tf t JOIN qterms q ON q.tok = t.tok
        |                  JOIN dl d ON d.doc_id = t.doc_id
        |                  CROSS JOIN stats),
        |contrib AS (
        |  SELECT doc_id,
        |         round(ln(1.0 + (nd - dfd + 0.5) / (dfd + 0.5)) *
        |               tfd * 2.2 /
        |               (tfd + 1.2 * (0.25 + 0.75 * dld / avgdl)), 6) AS c
        |  FROM pre),
        |scored AS (SELECT doc_id, round(sum(c), 6) AS score
        |           FROM contrib GROUP BY doc_id)
        |SELECT rnk, doc_id, score FROM (
        |  SELECT doc_id, score,
        |         row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
        |  FROM scored)
        |WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
    // the fusion is exact integer-rank arithmetic; each side's ranking
    // is on the 1e-6-quantized score with doc_id tie-break, the same
    // plane the Spark side ranks on
    "text_hybrid_rrf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY doc_id, tok),
        |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
        |stats AS (SELECT avg(dl) AS avgdl, count(*) AS n FROM dl),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
        |qterms AS (SELECT tok FROM tf WHERE doc_id = 0
        |           ORDER BY tf DESC, tok LIMIT 3),
        |pre AS (SELECT t.doc_id, CAST(t.tf AS DOUBLE) AS tfd,
        |               CAST(f.df AS DOUBLE) AS dfd, CAST(d.dl AS DOUBLE) AS dld,
        |               CAST(n AS DOUBLE) AS nd, avgdl
        |        FROM tf t JOIN qterms q ON q.tok = t.tok
        |                  JOIN df f ON f.tok = t.tok
        |                  JOIN dl d ON d.doc_id = t.doc_id
        |                  CROSS JOIN stats
        |        WHERE t.doc_id <> 0),
        |contrib AS (
        |  SELECT doc_id,
        |         round(ln(1.0 + (nd - dfd + 0.5) / (dfd + 0.5)) *
        |               tfd * 2.2 /
        |               (tfd + 1.2 * (0.25 + 0.75 * dld / avgdl)), 6) AS c
        |  FROM pre),
        |scored AS (SELECT doc_id, round(sum(c), 6) AS score
        |           FROM contrib GROUP BY doc_id),
        |lex AS (SELECT d.doc_id,
        |               row_number() OVER (ORDER BY coalesce(s.score, CAST(0.0 AS DOUBLE)) DESC,
        |                                  d.doc_id) AS rank_lex
        |        FROM dl d LEFT JOIN scored s ON s.doc_id = d.doc_id
        |        WHERE d.doc_id <> 0),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
        |vec AS (SELECT e.vec_id AS doc_id,
        |               row_number() OVER (ORDER BY
        |                 round(list_dot_product(qv, v) /
        |                   (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6)
        |                 DESC, e.vec_id) AS rank_vec
        |        FROM e CROSS JOIN q WHERE e.vec_id <> 0),
        |fused AS (SELECT l.doc_id, rank_lex, rank_vec,
        |                 round(CAST(1.0 AS DOUBLE) / (60 + rank_lex) +
        |                       CAST(1.0 AS DOUBLE) / (60 + rank_vec), 6) AS rrf
        |          FROM lex l JOIN vec ON vec.doc_id = l.doc_id)
        |SELECT rnk, doc_id, rank_lex, rank_vec, rrf FROM (
        |  SELECT doc_id, rank_lex, rank_vec, rrf,
        |         row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
        |  FROM fused)
        |WHERE rnk <= 10 ORDER BY rnk""".stripMargin,
    "text_pack" ->
      s"""WITH t AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n FROM documents),
         |c AS (SELECT doc_id, lang, n,
         |             sum(n) OVER (PARTITION BY lang ORDER BY doc_id) AS cum
         |      FROM t)
         |SELECT doc_id, lang, CAST(n AS INT) AS n_toks,
         |       CAST((cum - n) // $PackBudget AS BIGINT) AS pack_id
         |FROM c ORDER BY doc_id""".stripMargin,
    "sample_balanced" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
         |m AS (SELECT min(n_lang) AS min_n FROM c)
         |SELECT d.doc_id, d.lang,
         |       (${hx("CAST(d.doc_id AS VARCHAR)")} % 1000000) * n_lang
         |         < min_n * 1000000 AS keep
         |FROM documents d JOIN c USING (lang) CROSS JOIN m
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_cc" ->
      s"""${pairsCore.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src)
         |SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component,
         |       a = min(b) AS keep
         |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    // the dedup_cc closure + the shared blended quality score; rank key
    // is the 6-decimal-rounded score with doc_id tiebreak
    "dedup_keep_best" ->
      s"""${pairsCore.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
         |comp AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component
         |         FROM reach GROUP BY a),
         |q AS (SELECT doc_id, $qualitySql AS quality FROM documents),
         |rk AS (SELECT comp.doc_id, comp.component, q.quality,
         |              row_number() OVER (PARTITION BY comp.component
         |                ORDER BY q.quality DESC, comp.doc_id) AS rnk
         |       FROM comp JOIN q ON q.doc_id = comp.doc_id)
         |SELECT doc_id, component, quality, rnk = 1 AS keep
         |FROM rk ORDER BY doc_id""".stripMargin,
    // the dedup_cc closure + a component-size join; weight and eff_chars
    // are exact small-integer ratios (identical doubles cross-engine)
    "text_softdedup" ->
      s"""${pairsCore.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
         |comp AS (SELECT a AS doc_id, CAST(min(b) AS BIGINT) AS component
         |         FROM reach GROUP BY a),
         |sz AS (SELECT component, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM comp GROUP BY component)
         |SELECT comp.doc_id, comp.component, sz.cluster_size,
         |       CAST(1 AS DOUBLE) / sz.cluster_size AS weight,
         |       d.n_chars / CAST(sz.cluster_size AS DOUBLE) AS eff_chars
         |FROM comp JOIN sz USING (component)
         |JOIN documents d ON d.doc_id = comp.doc_id
         |ORDER BY comp.doc_id""".stripMargin,
    "dedup_cluster_stats" ->
      s"""${pairsCore.replaceFirst("^WITH ", "WITH RECURSIVE ")},
         |e AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |      UNION ALL SELECT id_b, id_a FROM pairs),
         |reach(a, b) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT r.a, e.dst FROM reach r JOIN e ON r.b = e.src),
         |comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a),
         |sizes AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
         |SELECT cluster_size, count(*) AS n_clusters
         |FROM sizes GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    "dedup_simhash" ->
      s"""SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, 32), i ->
         |    CASE WHEN list_sum(list_transform(hs, h ->
         |           CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |         THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS simhash
         |FROM (SELECT doc_id, [${hx("t")} for t in string_split(text, ' ')] AS hs
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH t AS (SELECT doc_id,
         |             [CAST('0x' || substr(md5(t), 1, ${SimhashBits / 4}) AS BIGINT)
         |              for t in string_split(text, ' ')] AS hs
         |           FROM documents),
         |sh AS (SELECT doc_id,
         |  CAST(list_sum(list_transform(range(0, $SimhashBits), i ->
         |    CASE WHEN list_sum(list_transform(hs, h ->
         |           CASE WHEN (h >> CAST(i AS INT)) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         |         THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS simhash
         |  FROM t),
         |bl AS (SELECT doc_id, simhash, unnest(range(0, $SimhashBlocks)) AS block FROM sh),
         |blv AS (SELECT doc_id, block,
         |        (simhash >> CAST(block * $SimhashBlockBits AS INT)) & ${(1 << SimhashBlockBits) - 1} AS bval FROM bl),
         |blsz AS (SELECT block, bval, count(*) AS sz FROM blv GROUP BY block, bval),
         |blvc AS (SELECT v.doc_id, v.block, v.bval FROM blv v
         |         JOIN blsz USING (block, bval) WHERE sz <= $HotBucketCap),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |         FROM blvc a JOIN blvc b
         |         ON a.block = b.block AND a.bval = b.bval AND a.doc_id < b.doc_id)
         |SELECT c.id_a, c.id_b,
         |       CAST(bit_count(xor(sa.simhash, sb.simhash)) AS INT) AS hamming
         |FROM cand c
         |JOIN sh sa ON sa.doc_id = c.id_a
         |JOIN sh sb ON sb.doc_id = c.id_b
         |WHERE bit_count(xor(sa.simhash, sb.simhash)) <= $SimhashMaxHamming
         |ORDER BY id_a, id_b""".stripMargin,
    "text_winnow" ->
      s"""WITH toksrc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |f AS (SELECT doc_id, toks FROM toksrc WHERE len(toks) >= ${WinnowW + ShingleK - 1}),
         |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM f),
         |h AS (SELECT doc_id, $hsSql AS hs FROM sh),
         |sel AS (SELECT doc_id, unnest([
         |    {'pos': i + list_position(list_slice(hs, i, i + ${WinnowW - 1}),
         |                              list_min(list_slice(hs, i, i + ${WinnowW - 1}))) - 1,
         |     'fp': list_min(list_slice(hs, i, i + ${WinnowW - 1}))}
         |    for i in range(1, len(hs) - ${WinnowW - 2})]) AS s FROM h)
         |SELECT DISTINCT doc_id, CAST(s.pos AS BIGINT) AS pos, CAST(s.fp AS BIGINT) AS fp
         |FROM sel ORDER BY doc_id, pos""".stripMargin,
    "text_winnow_match" ->
      s"""WITH toksrc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |f AS (SELECT doc_id, toks FROM toksrc WHERE len(toks) >= ${WinnowW + ShingleK - 1}),
         |sh AS (SELECT doc_id, $shinglesSql AS shingles FROM f),
         |h AS (SELECT doc_id, $hsSql AS hs FROM sh),
         |sel AS (SELECT doc_id, unnest([
         |    {'pos': i + list_position(list_slice(hs, i, i + ${WinnowW - 1}),
         |                              list_min(list_slice(hs, i, i + ${WinnowW - 1}))) - 1,
         |     'fp': list_min(list_slice(hs, i, i + ${WinnowW - 1}))}
         |    for i in range(1, len(hs) - ${WinnowW - 2})]) AS s FROM h),
         |u AS (SELECT DISTINCT doc_id, CAST(s.fp AS BIGINT) AS fp FROM sel),
         |dfc AS (SELECT fp, count(*) AS df FROM u GROUP BY fp),
         |keep AS (SELECT fp FROM dfc WHERE df <= $WinnowMaxDf),
         |fk AS (SELECT doc_id, fp FROM u JOIN keep USING (fp))
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= $WinnowMinShared
         |ORDER BY id_a, id_b""".stripMargin,
    "text_rolling_fp" -> s"$rollingFpSql ORDER BY doc_id, pos",
    "text_dup_spans" ->
      s"""WITH rfp AS ($rollingFpSql),
         |u AS (SELECT DISTINCT doc_id, fp FROM rfp),
         |dfc AS (SELECT fp, count(*) AS ndocs FROM u GROUP BY fp)
         |SELECT r.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_spans,
         |       CAST(sum(CASE WHEN d.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
         |       round(sum(CASE WHEN d.ndocs > 1 THEN 1 ELSE 0 END)::DOUBLE
         |             / count(*)::DOUBLE, 6) AS dup_frac
         |FROM rfp r JOIN dfc d USING (fp)
         |GROUP BY r.doc_id ORDER BY r.doc_id""".stripMargin,
    // mirrors textDupSpanRanges: duplicated sampled positions become
    // [pos, pos+W) intervals merged by the running-max-end window
    "text_dup_span_ranges" ->
      s"""WITH rfp AS ($rollingFpSql),
         |u AS (SELECT DISTINCT doc_id, fp FROM rfp),
         |dfc AS (SELECT fp, count(*) AS ndocs FROM u GROUP BY fp),
         |dup AS (SELECT r.doc_id, r.pos, r.pos + $RollW AS e
         |        FROM rfp r JOIN dfc d USING (fp) WHERE d.ndocs > 1),
         |m AS (SELECT doc_id, pos, e,
         |         max(e) OVER (PARTITION BY doc_id ORDER BY pos
         |                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS meb
         |      FROM dup),
         |g AS (SELECT doc_id, pos, e,
         |         CASE WHEN meb IS NULL OR pos > meb THEN 1 ELSE 0 END AS ng FROM m),
         |c AS (SELECT doc_id, pos, e,
         |         sum(ng) OVER (PARTITION BY doc_id ORDER BY pos
         |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |      FROM g)
         |SELECT doc_id, CAST(grp - 1 AS BIGINT) AS span_idx,
         |       min(pos) AS span_start, max(e) AS span_end,
         |       CAST(count(*) AS BIGINT) AS n_fps
         |FROM c GROUP BY doc_id, grp ORDER BY doc_id, span_idx""".stripMargin,
    // exact (stride-1, no 0-mod-p cut) removal ranges on the bounded shard
    "text_dup_ranges_exact" ->
      s"${mergeRangesSql(shardAllFpSql)} ORDER BY doc_id, span_idx",
    // bytes the exact pass cuts vs bytes the sampled pass cuts, same shard
    "dup_range_coverage" ->
      s"""SELECT e.exact_ranges, e.exact_bytes, s.sampled_ranges, s.sampled_bytes,
         |       e.exact_bytes - s.sampled_bytes AS missed_bytes,
         |       round(s.sampled_bytes::DOUBLE / e.exact_bytes::DOUBLE, 6) AS sampled_frac
         |FROM (SELECT CAST(count(*) AS BIGINT) AS exact_ranges,
         |             CAST(coalesce(sum(span_end - span_start), 0) AS BIGINT) AS exact_bytes
         |      FROM (${mergeRangesSql(shardAllFpSql)})) e
         |CROSS JOIN
         |     (SELECT CAST(count(*) AS BIGINT) AS sampled_ranges,
         |             CAST(coalesce(sum(span_end - span_start), 0) AS BIGINT) AS sampled_bytes
         |      FROM (${mergeRangesSql(
                 s"SELECT * FROM ($shardAllFpSql) WHERE fp % $RollP = 0")})) s""".stripMargin,
    // the same window-hash relation computed without the 0-mod-p cut
    // (allfp) and with it (sfp); coverage from each, plus the abs error
    "dup_span_recall" -> {
      val pws = (0 until RollW).map { j =>
        var r = 1L; (0 until (RollW - 1 - j)).foreach(_ => r = r * RollB % RollM); r
      }.mkString("[", ", ", "]")
      s"""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx,
         |                  octet_length(encode(text)) AS n
         |           FROM documents WHERE doc_id < $SpanRecallSample),
         |px AS (SELECT doc_id, hx, unnest(range(0, n - ${RollW - 1})) AS p FROM h),
         |allfp AS (
         |  SELECT doc_id,
         |         list_sum([CAST('0x' || substr(hx, CAST((p + j) * 2 + 1 AS INT), 2) AS BIGINT)
         |                   * ($pws)[CAST(j AS INT) + 1]
         |                   for j in range(0, $RollW)]) % $RollM AS fp
         |  FROM px),
         |dfx AS (SELECT fp, count(*) AS ndocs
         |        FROM (SELECT DISTINCT doc_id, fp FROM allfp) GROUP BY fp),
         |ex AS (SELECT count(*) AS n_spans_exact,
         |              CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_exact
         |       FROM allfp JOIN dfx USING (fp)),
         |sfp AS (SELECT * FROM allfp WHERE fp % $RollP = 0),
         |dfs AS (SELECT fp, count(*) AS ndocs
         |        FROM (SELECT DISTINCT doc_id, fp FROM sfp) GROUP BY fp),
         |sm AS (SELECT count(*) AS n_spans_sampled,
         |              CAST(sum(CASE WHEN ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_sampled
         |       FROM sfp JOIN dfs USING (fp))
         |SELECT n_spans_exact, n_dup_exact, n_spans_sampled, n_dup_sampled,
         |       round(CAST(n_dup_exact AS DOUBLE) / n_spans_exact, 6) AS exact_coverage,
         |       round(CAST(n_dup_sampled AS DOUBLE) / n_spans_sampled, 6) AS sampled_coverage,
         |       round(abs(CAST(n_dup_sampled AS DOUBLE) / n_spans_sampled
         |                 - CAST(n_dup_exact AS DOUBLE) / n_spans_exact), 6) AS abs_err
         |FROM ex CROSS JOIN sm""".stripMargin
    },
    "text_cdc_chunks" -> cdcChunksSql,
    "cdc_dedup_ratio" ->
      s"""WITH chunks AS ($cdcChunksSql),
         |per_fp AS (SELECT fp, min(len) AS len1, count(*) AS n_copies
         |           FROM chunks GROUP BY fp)
         |SELECT CAST(count(*) AS BIGINT) AS n_distinct_chunks,
         |       CAST(sum(len1 * n_copies) AS BIGINT) AS total_bytes,
         |       CAST(sum(len1) AS BIGINT) AS dedup_bytes,
         |       round(sum(len1)::DOUBLE / sum(len1 * n_copies)::DOUBLE, 6) AS dedup_ratio
         |FROM per_fp""".stripMargin,
    "split_assign" ->
      s"""SELECT doc_id, lang,
         |       CASE WHEN u < 800000 THEN 'train'
         |            WHEN u < 900000 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id, lang,
         |             ${hx("'split#' || CAST(doc_id AS VARCHAR)")} % 1000000 AS u
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin,
    // hash-ranked shard + position + running byte offset; integer-exact
    "corpus_shuffle" ->
      s"""SELECT doc_id, shard,
         |       CAST(row_number() OVER w AS INT) AS pos,
         |       CAST(coalesce(sum(n_chars) OVER (PARTITION BY shard ORDER BY r, doc_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |         AS byte_start
         |FROM (SELECT doc_id, n_chars,
         |             ${hx("'shuf#' || CAST(doc_id AS VARCHAR)")} AS r,
         |             CAST(${hx("'shuf#' || CAST(doc_id AS VARCHAR)")} % 8 AS INT) AS shard
         |      FROM documents)
         |WINDOW w AS (PARTITION BY shard ORDER BY r, doc_id)
         |ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      s"""SELECT doc_id, n_chars,
         |       len(string_split(text, ' ')) AS n_tokens,
         |       len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]')) AS n_tokens_regex,
         |       CAST(list_sum(list_transform(string_split(text, ' '),
         |            (t, i) -> ${hx("t")} * i)) % 1000000007 AS BIGINT) AS fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_top_tokens" ->
      """SELECT token, count(DISTINCT doc_id) AS df FROM (
        |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        |  FROM documents)
        |GROUP BY token ORDER BY df DESC, token LIMIT 50""".stripMargin,
    "text_langid" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |       WHEN en = greatest(en, de, fr, es) THEN 'en'
         |       WHEN de = greatest(en, de, fr, es) THEN 'de'
         |       WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |       ELSE 'es' END AS lang_pred
         |FROM (
         |  SELECT doc_id, lang,
         |         len(list_filter(string_split(lower(text), ' '), t -> t IN ($enList))) AS en,
         |         len(list_filter(string_split(lower(text), ' '), t -> t IN ($deList))) AS de,
         |         len(list_filter(string_split(lower(text), ' '), t -> t IN ($frList))) AS fr,
         |         len(list_filter(string_split(lower(text), ' '), t -> t IN ($esList))) AS es
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    // the text_langid prediction CTE folded to |langs|^2 cells + a
    // row-share window over the bounded cells relation
    "text_lang_confusion" ->
      s"""WITH pred AS (
         |  SELECT lang,
         |    CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |         WHEN en = greatest(en, de, fr, es) THEN 'en'
         |         WHEN de = greatest(en, de, fr, es) THEN 'de'
         |         WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |         ELSE 'es' END AS lang_pred
         |  FROM (
         |    SELECT lang,
         |           len(list_filter(string_split(lower(text), ' '), t -> t IN ($enList))) AS en,
         |           len(list_filter(string_split(lower(text), ' '), t -> t IN ($deList))) AS de,
         |           len(list_filter(string_split(lower(text), ' '), t -> t IN ($frList))) AS fr,
         |           len(list_filter(string_split(lower(text), ' '), t -> t IN ($esList))) AS es
         |    FROM documents)),
         |cells AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n
         |          FROM pred GROUP BY lang, lang_pred)
         |SELECT lang, lang_pred, n,
         |       CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY lang) AS row_share,
         |       lang = lang_pred AS is_correct
         |FROM cells ORDER BY lang, lang_pred""".stripMargin,
    "text_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
        |SELECT doc_id,
        |  CAST(len(l) AS BIGINT) AS n_toks,
        |  round(len(list_distinct(l))::DOUBLE / len(l)::DOUBLE, 6) AS uniq_ratio,
        |  round(list_max(list_transform(list_distinct(l),
        |        x -> len(list_filter(l, y -> y = x))))::DOUBLE / len(l)::DOUBLE, 6) AS top_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    // exact-integer ratios through one staged projection — flags never
    // compare drifting floats
    "text_gopher_rules" ->
      s"""WITH p AS (
         |  SELECT doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |         CAST(list_sum(list_transform(string_split(text, ' '), w -> len(w))) AS BIGINT) AS word_chars,
         |         CAST(len(text) AS BIGINT) AS n_chars,
         |         CAST(len(regexp_replace(text, '[A-Za-z0-9 .,]', '', 'g')) AS BIGINT) AS sym_chars,
         |         CAST(len(list_filter(string_split(text, ' '), t -> t IN ($enList))) AS BIGINT) AS stop_hits
         |  FROM documents)
         |SELECT doc_id, n_words,
         |       CAST(word_chars AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) AS mean_word_len,
         |       CAST(sym_chars AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) AS symbol_ratio,
         |       stop_hits,
         |       (n_words BETWEEN 50 AND 100000 AND
         |        CAST(word_chars AS DOUBLE) / CAST(greatest(n_words, 1) AS DOUBLE) BETWEEN 3.0 AND 10.0 AND
         |        CAST(sym_chars AS DOUBLE) / CAST(greatest(n_chars, 1) AS DOUBLE) <= 0.1 AND
         |        stop_hits >= 2) AS keep
         |FROM p ORDER BY doc_id""".stripMargin,
    // fixed-width token segments as the line unit, 60-bit md5 line
    // fingerprints, df over distinct (doc, fp) — mirrors textBoilerplate.
    // Segment indices come from a per-row unnest(range(...)) bounded by
    // each doc's own token count — no global cap to silently outgrow.
    "text_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |seg0 AS (
         |  SELECT doc_id, toks,
         |         unnest(range(0, (len(toks) - 1) // $LineW + 1)) AS i
         |  FROM t),
         |seg AS (
         |  SELECT doc_id,
         |         array_to_string(toks[(CAST(i AS INT)*$LineW+1):(CAST(i AS INT)*$LineW+$LineW)], ' ') AS seg
         |  FROM seg0),
         |f AS (SELECT doc_id, len(seg) AS seg_chars,
         |             CAST('0x' || substr(md5(seg), 1, 15) AS BIGINT) AS fp
         |      FROM seg),
         |b AS (SELECT fp, count(*) AS ndocs
         |      FROM (SELECT DISTINCT doc_id, fp FROM f) GROUP BY fp
         |      HAVING count(*) >= $LineDfCut)
         |SELECT f.doc_id,
         |       CAST(count(*) AS BIGINT) AS n_lines,
         |       CAST(sum(CASE WHEN b.ndocs IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dropped,
         |       round(CAST(sum(CASE WHEN b.ndocs IS NULL THEN seg_chars ELSE 0 END) AS DOUBLE) /
         |             CAST(greatest(sum(seg_chars), 1) AS DOUBLE), 6) AS kept_char_frac
         |FROM f LEFT JOIN b ON f.fp = b.fp
         |GROUP BY f.doc_id ORDER BY doc_id""".stripMargin,
    // same lineage; kept segments re-assemble via string_agg ORDER BY
    // seg_idx (the list-sort-join fold on the Spark side)
    "text_boilerplate_clean" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |seg0 AS (
         |  SELECT doc_id, toks,
         |         unnest(range(0, (len(toks) - 1) // $LineW + 1)) AS i
         |  FROM t),
         |seg AS (
         |  SELECT doc_id, CAST(i AS INT) AS seg_idx,
         |         array_to_string(toks[(CAST(i AS INT)*$LineW+1):(CAST(i AS INT)*$LineW+$LineW)], ' ') AS seg
         |  FROM seg0),
         |f AS (SELECT doc_id, seg_idx, seg,
         |             CAST('0x' || substr(md5(seg), 1, 15) AS BIGINT) AS fp
         |      FROM seg),
         |b AS (SELECT fp, count(*) AS ndocs
         |      FROM (SELECT DISTINCT doc_id, fp FROM f) GROUP BY fp
         |      HAVING count(*) >= $LineDfCut)
         |SELECT f.doc_id,
         |       CAST(sum(CASE WHEN b.ndocs IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_kept,
         |       coalesce(string_agg(CASE WHEN b.ndocs IS NULL THEN seg END, ' '
         |                           ORDER BY seg_idx), '') AS clean_text
         |FROM f LEFT JOIN b ON f.fp = b.fp
         |GROUP BY f.doc_id ORDER BY doc_id""".stripMargin,
    // unigram+bigram features, h32 on the md5-hex plane, the weight
    // table inlined from the shared fixture-loaded Scala value;
    // list_sum's left fold == the Spark aggregate() fold
    "text_classifier_score" ->
      s"""WITH wv AS (SELECT $wvListSql AS w),
         |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |ft AS (SELECT doc_id,
         |              list_concat(toks,
         |                [array_to_string(list_slice(toks, i, i + 1), ' ')
         |                 for i in range(1, len(toks))]) AS feats
         |       FROM t),
         |sc AS (SELECT doc_id, CAST(len(feats) AS BIGINT) AS n_feats,
         |              list_sum([w[CAST(${hx("f")} % $ClfBuckets AS INT) + 1]
         |                        for f in feats]) / len(feats) AS score
         |       FROM ft CROSS JOIN wv)
         |SELECT doc_id, n_feats, score,
         |       1.0 / (1.0 + exp(-$ClfScale * score)) AS keep_prob,
         |       score >= 0 AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,
    // classifier chain + gopher stats composed over one toks CTE, then
    // fixed-width buckets on the 1e-6-rounded probability (both engines
    // bucket identical doubles; same discipline as the greedy argmaxes)
    "text_calibration" ->
      s"""WITH wv AS (SELECT $wvListSql AS w),
         |t AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |ft AS (SELECT doc_id,
         |              list_concat(toks,
         |                [array_to_string(list_slice(toks, i, i + 1), ' ')
         |                 for i in range(1, len(toks))]) AS feats
         |       FROM t),
         |sc AS (SELECT doc_id,
         |              list_sum([w[CAST(${hx("f")} % $ClfBuckets AS INT) + 1]
         |                        for f in feats]) / len(feats) AS score
         |       FROM ft CROSS JOIN wv),
         |g AS (SELECT doc_id,
         |             CAST(len(toks) AS BIGINT) AS n_words,
         |             CAST(list_sum(list_transform(toks, w2 -> len(w2))) AS BIGINT) AS word_chars,
         |             CAST(len(text) AS BIGINT) AS n_chars,
         |             CAST(len(regexp_replace(text, '[A-Za-z0-9 .,]', '', 'g')) AS BIGINT) AS sym_chars,
         |             CAST(len(list_filter(toks, t2 -> t2 IN ($enList))) AS BIGINT) AS stop_hits
         |      FROM t),
         |d AS (SELECT round(1.0 / (1.0 + exp(-$ClfScale * sc.score)), 6) AS keep_prob,
         |             (g.n_words BETWEEN 50 AND 100000 AND
         |              CAST(g.word_chars AS DOUBLE) / CAST(greatest(g.n_words, 1) AS DOUBLE) BETWEEN 3.0 AND 10.0 AND
         |              CAST(g.sym_chars AS DOUBLE) / CAST(greatest(g.n_chars, 1) AS DOUBLE) <= 0.1 AND
         |              g.stop_hits >= 2) AS rule_keep
         |      FROM sc JOIN g ON sc.doc_id = g.doc_id)
         |SELECT least(CAST(floor(keep_prob * 10) AS INT), 9) AS bucket,
         |       CAST(count(1) AS BIGINT) AS n_docs,
         |       round(avg(keep_prob), 6) AS avg_keep_prob,
         |       round(avg(CASE WHEN rule_keep THEN 1.0 ELSE 0.0 END), 6) AS frac_rule_keep
         |FROM d GROUP BY 1 ORDER BY bucket""".stripMargin,
    // decorated text = the same pure doc_id fixture; counts on the
    // decorated text, redaction chain in the same order with 'g' flags
    "text_pii" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      val phone = "\\b\\d{3}-\\d{4}\\b"
      val key = "\\bsk-[A-Za-z0-9]{16,}"
      s"""WITH d AS (
         |  SELECT doc_id,
         |         text ||
         |         CASE WHEN doc_id % 7 = 0
         |              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |              ELSE '' END ||
         |         CASE WHEN doc_id % 11 = 0
         |              THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
         |                   CAST(doc_id % 256 AS VARCHAR)
         |              ELSE '' END ||
         |         CASE WHEN doc_id % 13 = 0
         |              THEN ' token sk-' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 20)
         |              ELSE '' END ||
         |         CASE WHEN doc_id % 17 = 0
         |              THEN ' ph ' || CAST(100 + doc_id % 900 AS VARCHAR) || '-' ||
         |                   CAST(1000 + doc_id % 9000 AS VARCHAR)
         |              ELSE '' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(t, '$email')) AS BIGINT) AS n_email,
         |       CAST(len(regexp_extract_all(t, '$ip')) AS BIGINT) AS n_ip,
         |       CAST(len(regexp_extract_all(t, '$phone')) AS BIGINT) AS n_phone,
         |       CAST(len(regexp_extract_all(t, '$key')) AS BIGINT) AS n_key,
         |       regexp_replace(
         |         regexp_replace(
         |           regexp_replace(
         |             regexp_replace(t, '$email', '<EMAIL>', 'g'),
         |             '$ip', '<IP>', 'g'),
         |           '$phone', '<PHONE>', 'g'),
         |         '$key', '<KEY>', 'g') AS redacted
         |FROM d ORDER BY doc_id""".stripMargin
    },
    // the three filter families' shared-scan flags, an 8-cell GROUP BY,
    // corpus fraction from a scalar total (== Spark's unbounded window
    // over the cells relation)
    // both orders read the SAME verified pair set; the order only changes
    // which pairs count (both-endpoints-kept for filter-first)
    "corpus_filter_order" ->
      s"""$pairsCore,
         |$filterFlagsCteSql,
         |dropa AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
         |keptf AS (SELECT doc_id FROM f WHERE gopher_keep),
         |keepa AS (SELECT d.doc_id, d.n_chars FROM documents d
         |          JOIN keptf k ON k.doc_id = d.doc_id
         |          WHERE d.doc_id NOT IN (SELECT doc_id FROM dropa)),
         |dropb AS (SELECT DISTINCT p.id_b AS doc_id FROM pairs p
         |          JOIN keptf ka ON ka.doc_id = p.id_a
         |          JOIN keptf kb ON kb.doc_id = p.id_b),
         |keepb AS (SELECT d.doc_id, d.n_chars FROM documents d
         |          JOIN keptf k ON k.doc_id = d.doc_id
         |          WHERE d.doc_id NOT IN (SELECT doc_id FROM dropb)),
         |ri AS (SELECT b.doc_id, b.n_chars FROM keepb b
         |       JOIN dropa a ON a.doc_id = b.doc_id)
         |SELECT 'dedup_then_filter' AS ord, CAST(count(*) AS BIGINT) AS n_final,
         |       CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_final FROM keepa
         |UNION ALL
         |SELECT 'filter_then_dedup', CAST(count(*) AS BIGINT),
         |       CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM keepb
         |UNION ALL
         |SELECT 'reintroduced_neardups', CAST(count(*) AS BIGINT),
         |       CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM ri
         |ORDER BY ord""".stripMargin,
    "text_filter_agreement" ->
      s"""WITH $filterFlagsCteSql
         |SELECT gopher_keep, clf_keep, quality_keep,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       round(CAST(count(*) AS DOUBLE) /
         |             CAST((SELECT count(*) FROM documents) AS DOUBLE), 6) AS frac
         |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    // the flags chain joined to the bigram-LM fluency score, 4-cell agg
    "text_filter_ppl" ->
      s"""WITH $filterFlagsCteSql,
         |lp AS ($bigramLpSql)
         |SELECT gopher_keep, clf_keep,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       round(avg(avg_logp), 6) AS avg_fluency
         |FROM f JOIN lp USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // one scan, |sources|-sized aggregate; quality/gopher exprs verbatim
    // from their own oracles so the profile can't drift from the flags
    "corpus_source_profile" ->
      s"""WITH p AS (
         |  SELECT source, lang,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |         $qualitySql AS quality,
         |         (CAST(len(string_split(text, ' ')) AS BIGINT) BETWEEN 50 AND 100000 AND
         |          CAST(list_sum(list_transform(string_split(text, ' '), x -> len(x))) AS DOUBLE) /
         |            CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE) BETWEEN 3.0 AND 10.0 AND
         |          CAST(len(regexp_replace(text, '[A-Za-z0-9 .,]', '', 'g')) AS DOUBLE) /
         |            CAST(greatest(len(text), 1) AS DOUBLE) <= 0.1 AND
         |          len(list_filter(string_split(text, ' '), x -> x IN ($enList))) >= 2) AS g_keep
         |  FROM documents)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_words) AS BIGINT) AS n_tokens,
         |       round(avg(quality), 6) AS avg_quality,
         |       round(CAST(sum(CASE WHEN g_keep THEN 1 ELSE 0 END) AS DOUBLE) /
         |             CAST(count(*) AS DOUBLE), 6) AS gopher_keep_frac,
         |       round(CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) /
         |             CAST(count(*) AS DOUBLE), 6) AS en_frac
         |FROM p GROUP BY source ORDER BY source""".stripMargin,
    // |langs|-row relation after one scan; α-weights and normalizations
    // the same closed-form crossing-point arithmetic, ROWS-framed running
    // sums over the identical (ratio, source) total order
    "corpus_waterfill" ->
      """WITH s AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS supply
        |  FROM documents GROUP BY source),
        |tot AS (SELECT sum(supply) AS total FROM s),
        |wgt AS (
        |  SELECT source, supply,
        |         pow(CAST(supply AS DOUBLE) / CAST(total AS DOUBLE), 3.0) /
        |         sum(pow(CAST(supply AS DOUBLE) / CAST(total AS DOUBLE), 3.0)) OVER () AS w
        |  FROM s CROSS JOIN tot),
        |r AS (SELECT *, CAST(supply AS DOUBLE) / w AS ratio FROM wgt),
        |o AS (SELECT *,
        |             row_number() OVER (ORDER BY ratio, source) AS k,
        |             sum(supply) OVER (ORDER BY ratio, source
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s_cum,
        |             sum(w) OVER (ORDER BY ratio, source
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w_cum
        |      FROM r),
        |b AS (SELECT 0.8 * CAST(total AS DOUBLE) AS budget FROM tot),
        |flags AS (
        |  SELECT o.*, budget,
        |         ratio * (1 - (w_cum - w)) <= budget - (s_cum - supply) AS sat
        |  FROM o CROSS JOIN b),
        |krow AS (SELECT s_cum, w_cum FROM flags WHERE sat ORDER BY k DESC LIMIT 1),
        |tl AS (
        |  SELECT coalesce(
        |    ((SELECT budget FROM b) - (SELECT s_cum FROM krow)) /
        |      (1 - (SELECT w_cum FROM krow)),
        |    (SELECT budget FROM b)) AS t)
        |SELECT source, supply, round(w, 6) AS target_w, sat AS saturated,
        |       round(CASE WHEN sat THEN CAST(supply AS DOUBLE) ELSE t * w END, 6)
        |         AS allocation,
        |       round(t, 6) AS water_level
        |FROM flags CROSS JOIN tl ORDER BY source""".stripMargin,
    // as scalar CTEs (== Spark's unbounded windows over the tiny relation)
    "corpus_alpha_mix" ->
      """WITH t AS (SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
        |           FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n) AS DOUBLE) AS tn FROM t),
        |sh AS (SELECT lang, n AS n_tokens, CAST(n AS DOUBLE) / tn AS share
        |       FROM t CROSS JOIN tot),
        |a AS (SELECT sum(pow(share, 0.3)) AS s03, sum(pow(share, 0.7)) AS s07 FROM sh)
        |SELECT lang, n_tokens, round(share, 6) AS share,
        |       round(pow(share, 0.3) / s03, 6) AS p_03,
        |       round(pow(share, 0.3) / s03 / share, 6) AS epochs_03,
        |       round(pow(share, 0.7) / s07, 6) AS p_07,
        |       round(pow(share, 0.7) / s07 / share, 6) AS epochs_07
        |FROM sh CROSS JOIN a ORDER BY lang""".stripMargin,
    // fixed-k winners by content-independent hash rank within language
    "sample_fixed_k" ->
      s"""SELECT doc_id, lang, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT doc_id, lang,
         |         row_number() OVER (PARTITION BY lang
         |           ORDER BY ${hx("CAST(doc_id AS VARCHAR)")} % 1000000, doc_id) AS rnk
         |  FROM documents)
         |WHERE rnk <= $FixedKPerLang ORDER BY doc_id""".stripMargin,
    // A-ES weighted sampling: rank by ln(u)/w (the pow-free monotone
    // form), key rounded at 1e-12, shared quality score as the weight
    "sample_weighted" ->
      s"""WITH q AS (SELECT doc_id, lang, $qualitySql AS wq FROM documents),
         |kd AS (SELECT doc_id, lang, wq,
         |         round(ln((${hx("'wsamp#' || CAST(doc_id AS VARCHAR)")} + 1) / 4294967296.0)
         |               / (wq + 0.01), 12) AS k
         |       FROM q)
         |SELECT doc_id, lang, wq AS weight, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT doc_id, lang, wq,
         |         row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS rnk
         |  FROM kd)
         |WHERE rnk <= $FixedKPerLang ORDER BY doc_id""".stripMargin,
    "text_entropy" ->
      """WITH ch AS (
        |  SELECT doc_id,
        |         unnest([substr(text, CAST(i AS INT), 1) for i in range(1, len(text) + 1)]) AS ch
        |  FROM documents),
        |c AS (SELECT doc_id, ch, count(1) AS cnt FROM ch GROUP BY doc_id, ch),
        |n AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_chars FROM c GROUP BY doc_id)
        |SELECT c.doc_id, n.n_chars,
        |       sum(-(CAST(cnt AS DOUBLE) / n_chars) *
        |           log2(CAST(cnt AS DOUBLE) / n_chars)) AS entropy_bits
        |FROM c JOIN n ON c.doc_id = n.doc_id
        |GROUP BY c.doc_id, n.n_chars ORDER BY c.doc_id""".stripMargin,
    "text_dup_ngrams" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS (SELECT doc_id, unnest($shinglesSql) AS sh
         |       FROM t WHERE len(toks) >= $ShingleK),
         |g AS (SELECT doc_id, sh, count(*) AS c FROM sh GROUP BY doc_id, sh)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
         |       round(sum(CASE WHEN c > 1 THEN c ELSE 0 END)::DOUBLE /
         |             sum(c)::DOUBLE, 6) AS dup_frac
         |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_novelty" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |sh AS (SELECT DISTINCT doc_id, sh FROM (
         |  SELECT doc_id, unnest($shinglesSql) AS sh
         |  FROM t WHERE len(toks) >= $ShingleK)),
         |f AS (SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |       CAST(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_novel,
         |       round(sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)::DOUBLE /
         |             count(*)::DOUBLE, 6) AS novelty
         |FROM sh JOIN f USING (sh)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "corpus_source_cap" ->
      s"""WITH q AS (SELECT doc_id, source, $qualitySql AS quality FROM documents),
         |r AS (SELECT doc_id, source, quality,
         |             row_number() OVER (PARTITION BY source
         |                                ORDER BY quality DESC, doc_id) AS src_rank
         |      FROM q)
         |SELECT doc_id, source, quality, src_rank, src_rank <= $SourceCapK AS kept
         |FROM r ORDER BY doc_id""".stripMargin,
    // the two-phase form must EXACTLY equal the kept set of the
    // single-window cap (partition pruning preserves ranks <= K)
    "corpus_source_cap2" ->
      s"""WITH q AS (SELECT doc_id, source, $qualitySql AS quality FROM documents),
         |r AS (SELECT doc_id, source, quality,
         |             row_number() OVER (PARTITION BY source
         |                                ORDER BY quality DESC, doc_id) AS src_rank
         |      FROM q)
         |SELECT doc_id, source, quality, src_rank
         |FROM r WHERE src_rank <= $SourceCapK ORDER BY doc_id""".stripMargin,
    "text_unigram_lp" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS tf FROM tok GROUP BY tok),
        |t AS (SELECT count(*) AS n_total FROM tok)
        |SELECT doc_id, avg(ln(tf::DOUBLE / n_total::DOUBLE)) AS avg_logp
        |FROM tok JOIN v USING (tok) CROSS JOIN t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "text_bigram_lp" -> s"$bigramLpSql ORDER BY doc_id",
    // interpolated Kneser-Ney: same bigram explode, continuation counts
    // from the bigram-type relation, identical arithmetic expression so
    // per-row terms match bit-for-bit; avg rides the gate's rtol
    "text_bigram_kn" ->
      """WITH toksrc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |bg AS (SELECT doc_id,
        |         unnest([array_to_string(list_slice(toks, i, i + 1), ' ')
        |                 for i in range(1, len(toks))]) AS bg
        |       FROM toksrc WHERE len(toks) >= 2),
        |c2 AS (SELECT bg, count(1) AS n2 FROM bg GROUP BY bg),
        |sp AS (SELECT bg, n2, split_part(bg, ' ', 1) AS w1,
        |              split_part(bg, ' ', 2) AS w2 FROM c2),
        |c1 AS (SELECT w1, CAST(sum(n2) AS BIGINT) AS n1,
        |              CAST(count(1) AS BIGINT) AS nf FROM sp GROUP BY w1),
        |cb AS (SELECT w2, CAST(count(1) AS BIGINT) AS nb FROM sp GROUP BY w2),
        |bt AS (SELECT CAST(count(1) AS DOUBLE) AS bt FROM c2)
        |SELECT doc_id, CAST(count(1) AS BIGINT) AS n_bigrams,
        |       avg(ln(greatest(n2 - 0.75, 0.0) / n1 + (0.75 * nf / n1) * (nb / bt)))
        |         AS avg_logp_kn
        |FROM bg g
        |JOIN sp ON sp.bg = g.bg
        |JOIN c1 ON c1.w1 = sp.w1
        |JOIN cb ON cb.w2 = sp.w2
        |CROSS JOIN bt
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // the bigram-LM score as a CTE, then an exact per-language tercile —
    // both engines implement SQL-standard ntile (remainder rows to the
    // leading buckets), and the ORDER BY key is avg_logp rounded to 9
    // decimals (drift-proof rank grain; doc_id tiebreaks)
    "text_perplexity_buckets" ->
      s"""WITH lp AS ($bigramLpSql)
         |SELECT d.doc_id, d.lang,
         |       ntile(3) OVER (PARTITION BY d.lang
         |                      ORDER BY round(lp.avg_logp, 9) DESC, d.doc_id)
         |         AS ppl_bucket
         |FROM documents d JOIN lp ON lp.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "text_kl_drift" ->
      """WITH tk AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |            FROM documents),
        |t AS (SELECT source, tok, count(1) AS tf_s FROM tk GROUP BY source, tok),
        |c AS (SELECT tok, CAST(sum(tf_s) AS DOUBLE) AS tf_c FROM t GROUP BY tok),
        |ns AS (SELECT source, CAST(sum(tf_s) AS DOUBLE) AS n_s FROM t GROUP BY source),
        |nc AS (SELECT CAST(sum(tf_s) AS DOUBLE) AS n_c FROM t)
        |SELECT t.source,
        |       sum((CAST(t.tf_s AS DOUBLE) / ns.n_s) *
        |           ln((CAST(t.tf_s AS DOUBLE) * nc.n_c) / (c.tf_c * ns.n_s))) AS kl,
        |       CAST(count(1) AS BIGINT) AS n_toks
        |FROM t JOIN c USING (tok) JOIN ns USING (source) CROSS JOIN nc
        |GROUP BY t.source ORDER BY source""".stripMargin,
    "corpus_dsir_weights" ->
      s"""WITH tk AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
         |            FROM documents),
         |tgt AS (SELECT tok, count(1) AS tf FROM tk
         |        WHERE source = '$DsirTarget' GROUP BY tok),
         |rawc AS (SELECT tok, count(1) AS tf FROM tk
         |         WHERE source <> '$DsirTarget' GROUP BY tok),
         |vsz AS (SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM tk),
         |nt AS (SELECT CAST(count(1) AS DOUBLE) AS n FROM tk
         |       WHERE source = '$DsirTarget'),
         |nr AS (SELECT CAST(count(1) AS DOUBLE) AS n FROM tk
         |       WHERE source <> '$DsirTarget'),
         |lr AS (SELECT d.tok,
         |              ln((CAST(coalesce(tgt.tf, 0) AS DOUBLE) + 1.0) / (nt.n + vsz.v)) -
         |              ln((CAST(coalesce(rawc.tf, 0) AS DOUBLE) + 1.0) / (nr.n + vsz.v)) AS lw
         |       FROM (SELECT DISTINCT tok FROM tk) d
         |       LEFT JOIN tgt ON d.tok = tgt.tok
         |       LEFT JOIN rawc ON d.tok = rawc.tok
         |       CROSS JOIN vsz CROSS JOIN nt CROSS JOIN nr)
         |SELECT t.doc_id, CAST(count(1) AS BIGINT) AS n_toks,
         |       sum(lr.lw) AS log_w,
         |       sum(lr.lw) / CAST(count(1) AS DOUBLE) AS log_w_tok
         |FROM tk t JOIN lr ON t.tok = lr.tok
         |WHERE t.source <> '$DsirTarget'
         |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin,
    "text_zipf" ->
      """WITH tf AS (SELECT tok, count(*) AS tf
        |            FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |            GROUP BY tok),
        |top AS (SELECT tok, tf FROM tf ORDER BY tf DESC, tok LIMIT 1000),
        |r AS (SELECT tf, row_number() OVER (ORDER BY tf DESC, tok) AS rnk FROM top)
        |SELECT round(regr_slope(ln(tf), ln(rnk)), 6) AS slope,
        |       round(regr_intercept(ln(tf), ln(rnk)), 6) AS intercept,
        |       CAST(count(*) AS BIGINT) AS n_tokens
        |FROM r""".stripMargin,
    "text_quality" ->
      s"""SELECT doc_id,
         |  round(len(regexp_replace(text, '[^A-Za-z ]', '', 'g'))::DOUBLE /
         |        greatest(len(text), 1)::DOUBLE, 6) AS alpha_ratio,
         |  round(len(list_filter(string_split(text, ' '), t -> t IN ($enList)))::DOUBLE /
         |        greatest(len(string_split(text, ' ')), 1)::DOUBLE, 6) AS stop_ratio,
         |  $qualitySql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_curate" ->
      s"""$pairsCore,
         |dup AS (SELECT DISTINCT id_b FROM pairs),
         |feat AS (
         |  SELECT doc_id, lang,
         |         $qualitySql AS quality,
         |         CASE WHEN greatest(en, de, fr, es) = 0 THEN 'und'
         |              WHEN en = greatest(en, de, fr, es) THEN 'en'
         |              WHEN de = greatest(en, de, fr, es) THEN 'de'
         |              WHEN fr = greatest(en, de, fr, es) THEN 'fr'
         |              ELSE 'es' END AS lang_pred
         |  FROM (
         |    SELECT doc_id, lang, text,
         |           len(list_filter(string_split(lower(text), ' '), t -> t IN ($enList))) AS en,
         |           len(list_filter(string_split(lower(text), ' '), t -> t IN ($deList))) AS de,
         |           len(list_filter(string_split(lower(text), ' '), t -> t IN ($frList))) AS fr,
         |           len(list_filter(string_split(lower(text), ' '), t -> t IN ($esList))) AS es
         |    FROM documents))
         |SELECT f.doc_id,
         |       dup.id_b IS NOT NULL AS is_neardup,
         |       f.quality < 0.5 AS low_quality,
         |       f.lang_pred <> f.lang AS lang_mismatch,
         |       (dup.id_b IS NULL AND f.quality >= 0.5 AND f.lang_pred = f.lang) AS keep
         |FROM feat f LEFT JOIN dup ON f.doc_id = dup.id_b
         |ORDER BY f.doc_id""".stripMargin)
}
