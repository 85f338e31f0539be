package graft.functions

import org.apache.spark.internal.Logging
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Text-analysis scalar functions for the LLM-data-pipeline extension
  * surface: tokenization, shingling, MinHash, SimHash, language ID,
  * quality scoring, fingerprinting.
  *
  * All functions are pure Catalyst expressions (built-in SQL functions +
  * higher-order functions) so they stay inside whole-stage codegen and
  * are exactly reproducible by the DuckDB oracle (same md5-based 32-bit
  * hash on both engines).
  */
object TextFunctions extends Logging {

  /** Portable 32-bit hash: first 8 hex chars of md5 as a non-negative
    * long. Identical in DuckDB via CAST('0x'||substr(md5(s),1,8) AS BIGINT).
    */
  def h32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast(LongType)

  /** Seeded variant for minhash permutations. */
  def h32(c: Column, seed: Column): Column =
    h32(concat(c, lit("#"), seed.cast("string")))

  /** Shuffle rank for training-shard layout — the corpus_shuffle
    * query's rank and the basis of [[shardId]], so a document's rank
    * and its shard cannot diverge.
    */
  def shardRank(key: Column): Column =
    h32(concat(lit("shuf#"), key.cast("string")))

  /** Deterministic training-shard id: [[shardRank]] mod nShards. */
  def shardId(key: Column, nShards: Int): Column =
    pmod(shardRank(key), lit(nShards)).cast(IntegerType)

  /** Whitespace tokenization (single-space corpus; keep it exact so the
    * oracle's string_split matches 1:1).
    */
  def tokens(text: Column): Column = split(text, " ")

  // ---- Bloom bitmask (shared by the text_bloom query and its oracle) ----
  val BloomBits = 1024   // filter size m (positions 0..m-1)
  val BloomHashes = 4    // k seeded h32 hashes per shingle

  /** The k seeded positions of one shingle hash — universal-hash mixes of
    * a single h32, so the whole probe costs one md5 per shingle however
    * many hash functions the filter uses. `bits` sizes the filter
    * (deployments size m to the corpus; text_bloom's oracle pins the
    * default geometry).
    */
  def bloomPositions(h: Column, bits: Int = BloomBits): Column =
    array((0 until BloomHashes).map(i =>
      pmod((lit(i + 1L) * h + lit(i.toLong)) % 1000000007L,
        lit(bits.toLong))): _*)

  /** 2^(p mod 32) exact as double for bits < 32 (the bitAt idiom). */
  def bloomBit(p: Column): Column =
    pow(lit(2.0), pmod(p, lit(32L))).cast("long")

  /** O(1) membership probe: array index + bit test against a dense
    * 32-bit-word bitmask (BloomBits/32 longs).
    */
  def bloomMember(bloomArr: Column, p: Column): Column =
    element_at(bloomArr, (p / 32).cast("int") + 1)
      .bitwiseAND(bloomBit(p)) =!= 0L

  /** Token count via regex word-ish matching — a cheap BPE-ish proxy:
    * runs of word chars or single non-space punctuation.
    */
  def tokenCountRegex(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0)))

  /** k-word shingles joined by a single space; empty if fewer than k tokens. */
  def wordShingles(toks: Column, k: Int): Column =
    graft.expressions.TextKernelExpressions.wordShinglesNative(toks, k)

  /** h32 of every element of a string array — native md5 loop (see
    * ArrayH32). Materialize this as its own projection column before
    * fanning out multiple consumers: Catalyst Columns are trees, not
    * DAGs, so passing `hashArray(...)` inline into an expression that
    * references it k times would evaluate the md5 pass k times per row
    * (CollapseProject keeps multiply-referenced non-cheap aliases in
    * their own Project, so a materialized column is computed once).
    */
  def hashArray(strs: Column): Column =
    graft.expressions.HashExpressions.h32ArrayNative(strs)

  /** Wide variant: first `bits` md5 bits per element (bits <= 60 keeps
    * the value positive in a signed 64-bit on both engines; for bits
    * divisible by 4 the oracle mirror is substr(md5, 1, bits/4)).
    */
  def hashArrayBits(strs: Column, bits: Int): Column =
    graft.expressions.HashExpressions.h32ArrayNative(strs, bits)

  /** MinHash signature from pre-hashed shingles (see hashArray): for each
    * of `numHashes` permutations, min over shingles of the universal-hash
    * mix ((seed+1)*h + seed) mod 1e9+7 — exact in int64 since h < 2^32 and
    * seed+1 <= numHashes. One md5 per shingle total (in hashArray), then
    * O(|shingles| * numHashes) integer ops; data-parallel, no shuffle.
    * Native codegen kernel — the HOF form re-evaluates its input once per
    * seed lambda after CollapseProject inlining (see HashExpressions).
    */
  def minhashFromHashes(hs: Column, numHashes: Int): Column =
    graft.expressions.HashExpressions.minhashNative(hs, numHashes)

  /** LSH band buckets from a minhash signature: hash each band of `rowsPerBand`
    * signature entries into a bucket id. Result: array<long> of length
    * numHashes/rowsPerBand; candidate pairs share (band_index, bucket).
    */
  def lshBandBuckets(signature: Column, rowsPerBand: Int): Column =
    transform(
      // Column `/` is double division; sequence() needs integral bounds.
      sequence(lit(0), (size(signature) / rowsPerBand).cast("int") - 1),
      b => h32(array_join(
        transform(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)), x => x.cast("string")),
        ",")))

  /** 32-bit SimHash from pre-hashed tokens (see hashArray): bit i of the
    * result is set iff sum over tokens of (+1 if bit i of the token hash
    * else -1) > 0. Native codegen kernel (one pass over the hashes).
    */
  def simhashFromHashes(hs: Column): Column =
    graft.expressions.HashExpressions.simhashNative(hs)

  /** Wide variant: `bits`-bit SimHash from `bits`-bit token hashes (see
    * [[hashArrayBits]]) — the Manku web-scale fingerprint width.
    */
  def simhashFromHashesBits(hs: Column, bits: Int): Column =
    graft.expressions.HashExpressions.simhashNative(hs, bits)

  /** Order-sensitive document fingerprint: sum of h32(token)*(position+1)
    * mod 1e9+7. Exact integer arithmetic => bit-identical across engines
    * and across summation orders. Tokens hashed via the native kernel.
    */
  def fingerprint(toks: Column): Column =
    aggregate(
      zip_with(hashArray(toks), sequence(lit(1), size(toks)), (h, i) => h * i.cast(LongType)),
      lit(0L),
      (acc, v) => acc + v) % 1000000007L

  /** Tiny deterministic stopword lists per language for the n-gram/stopword
    * language-ID heuristic. Kept minimal & public-knowledge.
    */
  val StopwordsEn: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for")
  val StopwordsDe: Seq[String] = Seq("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "sich", "auf")
  val StopwordsFr: Seq[String] = Seq("le", "la", "les", "et", "est", "une", "pas", "pour", "que", "dans")
  val StopwordsEs: Seq[String] = Seq("el", "la", "los", "y", "es", "una", "no", "por", "que", "en")

  def stopwordHits(toks: Column, words: Seq[String]): Column =
    graft.expressions.TextKernelExpressions.stopwordHitsNative(toks, words)

  /** Per-language stopword hit counts, for staging each count once per
    * row (see langIdFromHits). Order matches [[langIdFromHits]] params.
    */
  def langHits(toks: Column): Seq[(String, Column)] = Seq(
    "hits_en" -> stopwordHits(toks, StopwordsEn),
    "hits_de" -> stopwordHits(toks, StopwordsDe),
    "hits_fr" -> stopwordHits(toks, StopwordsFr),
    "hits_es" -> stopwordHits(toks, StopwordsEs))

  /** Language-ID heuristic over already-materialized hit counts (see
    * [[langHits]]): argmax of per-language stopword hits; 'und'
    * (undetermined) when no stopword matches at all. Deterministic
    * tie-break by fixed language order en>de>fr>es. Cheap attribute
    * comparisons, safe to inline anywhere.
    */
  def langIdFromHits(en: Column, de: Column, fr: Column, es: Column): Column = {
    val m = greatest(en, de, fr, es)
    when(m === 0, lit("und"))
      .when(en === m, lit("en"))
      .when(de === m, lit("de"))
      .when(fr === m, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Fasttext-style classifier surface, shared by the queries that score
    * with it (TextQueries.textClassifierScore, textCalibration and the
    * filter-agreement table) so their decisions cannot diverge. The
    * weight table is the trained-weight hand-off point: it is loaded at
    * PLAN TIME from `fixtures/classifier_weights.csv` (schema
    * `bucket INT 0..1023, weight DOUBLE`; path overridable via the
    * `GRAFT_CLASSIFIER_WEIGHTS` env var) and rides the plan as a bounded
    * literal (the PQ-codebook pattern) — swap the CSV for a real
    * fasttext export and batch, stream, and oracle all pick it up from
    * the one source of truth, same plan shape. When no file is present
    * (e.g. a bare checkout running against a different cwd) the loader
    * falls back to [[classifierWeightsFormula]], the deterministic
    * stand-in the committed CSV was generated from; a spec pins
    * CSV == formula so the fallback cannot silently diverge until a
    * genuinely trained table replaces the fixture (at which point that
    * spec is updated alongside).
    */
  val ClassifierBuckets = 1024

  /** The deterministic stand-in generator the committed fixture was
    * produced from: w(b) = ((b·2654435761) mod 1000003)/1000003 − 0.5,
    * integer-exact on both engines. Kept as the test fixture and the
    * no-file fallback.
    */
  lazy val classifierWeightsFormula: Seq[Double] =
    (0 until ClassifierBuckets).map(b =>
      (b.toLong * 2654435761L % 1000003L).toDouble / 1000003.0 - 0.5)

  /** Plan-time loader for the weight fixture. Driver-side file IO on a
    * 1024-row table — never a distributed read; the result is a plan
    * literal exactly like the PQ codebook.
    */
  private[graft] def loadClassifierWeights(path: java.nio.file.Path): Seq[Double] = {
    val lines = scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(path)).asScala.toSeq
    require(lines.headOption.contains("bucket,weight"),
      s"$path: expected header 'bucket,weight'")
    val rows = lines.tail.filter(_.nonEmpty).map { l =>
      val Array(b, w) = l.split(",", 2)
      (b.trim.toInt, w.trim.toDouble)
    }
    require(rows.size == ClassifierBuckets &&
      rows.map(_._1) == (0 until ClassifierBuckets),
      s"$path: expected buckets 0..${ClassifierBuckets - 1} in order, got ${rows.size} rows")
    rows.map(_._2)
  }

  lazy val classifierWeights: Seq[Double] = classifierWeightsAt(java.nio.file.Paths.get(
    sys.env.getOrElse("GRAFT_CLASSIFIER_WEIGHTS", "fixtures/classifier_weights.csv")))

  /** The weights file at `p`, or — with a WARN — [[classifierWeightsFormula]]
    * when `p` is not readable.
    */
  private[graft] def classifierWeightsAt(p: java.nio.file.Path): Seq[Double] =
    if (java.nio.file.Files.isReadable(p)) loadClassifierWeights(p)
    else {
      logWarning(s"graft: no readable classifier weights at ${p.toAbsolutePath} — " +
        "using classifierWeightsFormula, the stand-in the fixture was generated from")
      classifierWeightsFormula
    }

  /** Mean hashed-feature weight from a pre-hashed feature array (see
    * [[hashArray]]): the linear bag-of-ngrams score. Keep iff >= 0.
    * The score is a double left-fold of non-dyadic weights divided by
    * n_feats, so the keep decision is NOT drift-free in the abstract —
    * it is flip-proof only because the queries (textClassifierScore and
    * the tables built on it) and the oracle SQL fold the same weights in
    * the same array order. Do not reorder or tree-reduce this
    * summation without changing both together.
    */
  def classifierScoreFromHashes(hs: Column, nFeats: Column): Column =
    graft.expressions.TextKernelExpressions.classifierScoreNative(
      hs, classifierWeights.toArray) / nFeats

  /** PII regex classes, in redaction order, shared by the scan and the
    * redaction of TextQueries.textPii. Regex built-ins only — the whole
    * surface stays a codegen'd stateless projection.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ip" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\b\\d{3}-\\d{4}\\b",
    "key" -> "\\bsk-[A-Za-z0-9]{16,}")

  /** Replace every PII span with its typed placeholder, class by class
    * in [[PiiPatterns]] order.
    */
  def piiRedact(t: Column): Column =
    PiiPatterns.foldLeft(t) { case (c, (n, re)) =>
      regexp_replace(c, re, s"<${n.toUpperCase}>")
    }

  /** Per-class PII span counts (n_email, n_ip, n_phone, n_key), for
    * staging alongside the redaction.
    */
  def piiCounts(t: Column): Seq[(String, Column)] =
    PiiPatterns.map { case (n, re) =>
      s"n_$n" -> size(regexp_extract_all(t, lit(re), lit(0))).cast("long")
    }

  /** Gopher-rule keep conjunction (Rae et al. '21 subset) from
    * already-materialized parts — cheap comparisons, safe to inline.
    * Single source of the thresholds for every query that applies the
    * rules (TextQueries.textGopherRules and the calibration, per-source
    * health and filter-agreement tables), so they can never disagree on
    * a decision. Parts: word count, mean word length, symbol-char
    * ratio, stopword hits.
    */
  def gopherKeepFromParts(nWords: Column, meanWordLen: Column,
      symbolRatio: Column, stopHits: Column): Column =
    nWords.between(50L, 100000L) &&
      meanWordLen.between(3.0, 10.0) &&
      symbolRatio <= 0.1 &&
      stopHits >= 2L

  /** Quality score in [0,1] from already-materialized parts: blend of
    * length band, alpha ratio, stopword ratio — the standard cheap
    * pre-filter for LLM training corpora. Cheap arithmetic, safe to
    * inline. Parts: char count, alpha-char count, token count,
    * English-stopword hit count.
    */
  def qualityScoreFromParts(nChars: Column, alphaLen: Column,
      nToks: Column, stopHits: Column): Column = {
    val alphaRatio = alphaLen.cast("double") / greatest(nChars, lit(1)).cast("double")
    val stopRatio = stopHits.cast("double") / greatest(nToks, lit(1)).cast("double")
    val lengthScore = when(nChars >= 100 && nChars <= 10000, 1.0)
      .when(nChars >= 30, 0.5).otherwise(0.0)
    round((lengthScore + least(alphaRatio, lit(1.0)) + least(stopRatio * 5, lit(1.0))) / 3, 6)
  }
}
