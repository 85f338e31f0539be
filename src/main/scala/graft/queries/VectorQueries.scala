package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.VectorFunctions._

/** Similarity search over the `embeddings` table (ARRAY<FLOAT> of dim 64).
  *
  * Scale design: the query set is tiny and is broadcast — the corpus scan
  * is a single embarrassingly-parallel pass (no shuffle of the corpus).
  * Top-k per query uses a rank-window over (query_id) whose cardinality
  * equals |queries| × |corpus| rows *after* per-partition pre-filtering;
  * at real scale the per-partition top-k (TakeOrdered-style) or an
  * LSH/IVF bucket restriction (see `knn_lsh`) bounds the shuffle.
  */
object VectorQueries {

  private val K = 10
  private val NumQueries = 5

  private[graft] def emb(s: SparkSession, dir: String): DataFrame =
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("label"))

  /** The query ids: the first NumQueries vectors of corpus `e`. */
  private def queryIds(e: DataFrame): DataFrame =
    e.filter(col("vec_id") < NumQueries).select(col("vec_id").as("query_id"))

  /** Recall@K per query: the share of each query's exact top-K
    * (`brute`: query_id, neighbor_id) that the approximate search
    * `approx` (qi, ni) also returned — the overlap is a left-semi join,
    * and a query with no hit keeps its zero through the `queries` list
    * (query_id). */
  private def recallAtK(brute: DataFrame, approx: DataFrame, queries: DataFrame): DataFrame = {
    val overlap = brute
      .join(approx, col("query_id") === col("qi") && col("neighbor_id") === col("ni"),
        "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    queries
      .join(overlap, Seq("query_id"), "left_outer")
      .select(col("query_id"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") / K, 6).as("recall"))
      .orderBy("query_id")
  }

  /** A bounded result `out` (callers pass ≤ NumQueries rows per curve
    * point or a few dial rows) collected while the caches it reads are
    * live, as a local relation: the caller can then release them
    * deterministically instead of leaking them into the session. */
  private def detached(s: SparkSession, out: DataFrame): DataFrame = {
    val rows = out.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Per-label mean centroid relation (label, cv) — the label coarse
    * quantizer shared by the centroid-dist/silhouette/IVF/filtered
    * family: one shuffle on label, |labels| × dim output. A single
    * definition so tie/ordering semantics cannot drift between the
    * queries that must agree on it.
    */
  private def labelCentroids(e: DataFrame, out: String = "cv"): DataFrame =
    e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("label", "i").agg(avg("x").as("m"))
      .groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("i"), col("m")))),
          s0 => s0.getField("m")).as(out))

  /** Brute-force exact top-k cosine neighbors for the first NumQueries ids. */
  def knnBrute(s: SparkSession, dir: String): DataFrame = knnBruteFrom(emb(s, dir))

  private def knnBruteFrom(e: DataFrame): DataFrame = {
    val corpus = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    corpus.join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .orderBy("query_id", "rnk")
  }

  /** Centroid distance: mean vector per label, each vector's cosine to its
    * own label centroid — the IVF coarse-quantizer building block (exact,
    * aggregation-based; one shuffle on label).
    */
  def embCentroidDist(s: SparkSession, dir: String): DataFrame =
    centroidDistCore(s, dir).orderBy("vec_id")

  private def centroidDistCore(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // mean per dimension: aggregate arrays elementwise (labelCentroids)
    val centroids = labelCentroids(e)
    e.join(broadcast(centroids), "label")
      .select(col("vec_id"), col("label"),
        round(cosine(col("v"), col("cv")), 6).as("cos_to_centroid"))
  }

  /** Embedding outlier screen: vectors whose cosine to their OWN label
    * centroid is a low outlier within the label (z ≤ −3) — the
    * mis-embedded / mislabeled row filter a curation pass runs before
    * an index or a training mix trusts the embedding column
    * (pipe_anomaly's z-score screen on the vector plane). Composition:
    * [[embCentroidDist]]'s broadcast-centroid projection, a |labels|-row
    * stats aggregate broadcast back onto it, then per-row z as a pure
    * projection — the corpus is scanned once and never shuffles; z is
    * emitted unrounded under the gate's rtol and the −3 cut compares
    * values whose cross-engine drift is ~1e-12, so the row set is
    * stable.
    */
  def embOutliers(s: SparkSession, dir: String): DataFrame = {
    val d = centroidDistCore(s, dir)
    val stats = d.groupBy("label").agg(
      avg("cos_to_centroid").as("m"), stddev_pop("cos_to_centroid").as("sd"))
    d.join(broadcast(stats), "label")
      .select(col("vec_id"), col("label"), col("cos_to_centroid"),
        ((col("cos_to_centroid") - col("m")) /
          when(col("sd") === 0, lit(1.0)).otherwise(col("sd"))).as("z"))
      .filter(col("z") <= -3.0)
      .orderBy("vec_id")
  }

  /** Simplified (centroid-based) silhouette per cluster — the clustering
    * QUALITY number an IVF/SemDeDup deployment reads before trusting a
    * partition of the corpus: per vector a = cosine distance to its OWN
    * centroid, b = min distance to any OTHER centroid,
    * s = (b − a) / max(a, b) ∈ [−1, 1]; emitted per label as
    * mean silhouette + the count of negative-silhouette (likely
    * mis-clustered) vectors. The classic silhouette is O(n²) pairwise —
    * the centroid form is the one that exists at 100 TB: the |labels|-row
    * centroid relation collapses to ONE broadcast row of (label, cv)
    * structs, per-vector distances to all centroids are a `transform`
    * HOF over that array (pure projection, corpus never shuffles, no ×k
    * row fan-out), and the only aggregates are the |labels|-sized
    * centroid build and the |labels|-row result. Companions:
    * emb_ivf_balance reads list SIZES, this reads list SEPARATION.
    */
  def embSilhouette(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val centArr = labelCentroids(e).agg(
      array_sort(collect_list(struct(col("label").as("cl"), col("cv")))).as("cents"))
    val dists = e.join(broadcast(centArr), lit(true))
      .select(col("vec_id"), col("label"),
        transform(col("cents"), c => struct(
          c.getField("cl").as("cl"),
          (lit(1.0) - cosine(col("v"), c.getField("cv"))).as("d"))).as("ds"))
    val ab = dists.select(col("vec_id"), col("label"),
      element_at(filter(col("ds"), d => d.getField("cl") === col("label")), 1)
        .getField("d").as("a"),
      array_min(transform(filter(col("ds"), d => d.getField("cl") =!= col("label")),
        d => d.getField("d"))).as("b"))
    ab.select(col("label"),
        ((col("b") - col("a")) / greatest(col("a"), col("b"))).as("sil"))
      .groupBy("label").agg(
        count(lit(1)).as("n_vecs"),
        avg("sil").as("mean_sil"),
        sum(when(col("sil") < 0, 1L).otherwise(0L)).as("n_negative"))
      .orderBy("label")
  }

  /** k-means ELBOW curve — the nLists dial for the learned IVF quantizer,
    * measured instead of guessed: for k ∈ {2,4,8}, train the same
    * deterministic Lloyd chain the index uses ([[kmeansCentroids]],
    * seeds = first k vectors, two mean updates), assign the corpus
    * shuffle-free against the centroid literals, and emit the cosine
    * inertia Σ(1 − cos(v, centroid)) plus the largest-list share (the
    * skew companion — an elbow read alone can pick a k whose biggest
    * list still holds half the corpus). Where the elbow flattens is
    * where extra lists stop buying scan reduction (emb_ivf_balance then
    * reads the chosen k's balance, emb_silhouette its separation). Per
    * k the corpus cost is exactly the index-build cost: shuffle-free
    * assignment projections + one elementwise-mean aggregate per
    * iteration, centroids bounded control-plane literals throughout —
    * the sweep is 3× an index build, never a new shuffle shape. The
    * per-list partial inertia sums ride the gate's rtol; list counts
    * and shares are exact integers/ratios.
    */
  def embKmeansElbow(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).persist()
    try {
      // the three k-chains are independent — overlap them (guide §2.6);
      // results keep input order, output unchanged
      val rows = graft.functions.ScaleFunctions.inParallel(Seq(2, 4, 8)) { k =>
        val cent = kmeansCentroids(e, k, iters = 2)
        val stats = assignListsProjection(e, cent)
          .join(broadcast(centRelation(e, cent)), "list_id")
          .select(col("list_id"), (lit(1.0) - cosine(col("v"), col("cv"))).as("d"))
          .groupBy("list_id").agg(sum("d").as("di"), count(lit(1)).as("ni"))
          .agg(sum("di").as("inertia"),
            (max("ni").cast("double") / sum("ni")).as("max_list_frac"))
          .collect()(0)
        (k, stats.getDouble(0), stats.getDouble(1))
      }
      import s.implicits._
      rows.toDF("k", "inertia", "max_list_frac")
    } finally e.unpersist(false)
  }

  /** Int8 scalar quantization per vector — the memory-side lever for ANN
    * at 100 TB (4x-8x smaller vectors; IVF lists of int8 codes instead of
    * float). Pure projection, shuffle-free. Buckets use floor() (no
    * rounding ties); reconstruction at bucket midpoints; reports the
    * per-vector mean absolute reconstruction error. Constant vectors
    * (max == min) quantize to bucket 0 with zero error.
    */
  def embQuantize(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    // barrier: mn/mx are referenced ~8x in the error tree below; without
    // staging, CollapseProject re-scans the array per reference
    val staged = graft.functions.PipelineFunctions.stageBarrier(
      e, Seq(col("vec_id"), col("v")),
      "mn" -> array_min(col("v")), "mx" -> array_max(col("v")))
    val span = col("mx") - col("mn")
    val err = aggregate(
      transform(col("v"), x =>
        when(col("mx") === col("mn"), lit(0.0)).otherwise(
          abs(x - (col("mn") + (floor((x - col("mn")) * 255.0 / span) + 0.5) * span / 255.0)))),
      lit(0.0), (acc, d) => acc + d) / size(col("v"))
    // raw doubles, no round(): the compare gate uses float atol, and
    // Spark's exact-decimal round vs DuckDB's multiply-based round can
    // disagree at a .5 boundary even on bit-identical inputs
    staged.select(col("vec_id"), col("mn"), col("mx"), err.as("mean_abs_err"))
      .orderBy("vec_id")
  }

  /** Near-duplicate embedding pairs: cosine >= 0.99, EXACT result (same
    * rows as the all-pairs oracle) but pruned with a deterministic grid.
    *
    * Pruning math: round(cos,6) >= 0.99 admits cos >= 0.9899995, i.e. for
    * unit-normalized vectors ||ua-ub|| <= R = sqrt(2 - 2*0.9899995) ≈
    * 0.1414249. Per-coordinate, |ua_i - ub_i| <= ||ua-ub|| <= R, so with a
    * 2-D grid of cell width W >= R over (u0, u1) every qualifying pair
    * lands in the same or an adjacent cell in both axes — a key-partitioned
    * equi-join on the cell id (one side probes its 9 neighbor cells)
    * instead of the O(n²) cross join; extra coordinate bounds (u2, u3) cut
    * the surviving candidates before the exact cosine check. Scales as a
    * shuffle join on cell keys; at 100 TB swap the grid for the LSH/IVF
    * candidate generator (`knn_*` path) when approximate recall suffices.
    */
  def embNeardup(s: SparkSession, dir: String): DataFrame = {
    val W = 0.1415 // cell width, > R = 0.1414249 (rounding-adjusted radius)
    val e = emb(s, dir)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .filter(col("nrm") > 0) // zero vectors have NULL cosine: never qualify
      .withColumn("u0", element_at(col("v"), 1) / col("nrm"))
      .withColumn("u1", element_at(col("v"), 2) / col("nrm"))
      .withColumn("u2", element_at(col("v"), 3) / col("nrm"))
      .withColumn("u3", element_at(col("v"), 4) / col("nrm"))
      .withColumn("c0", floor(col("u0") / W).cast("long"))
      .withColumn("c1", floor(col("u1") / W).cast("long"))
    val probes = e.select(
      col("vec_id").as("id_a"), col("v").as("va"),
      col("u0").as("u0a"), col("u1").as("u1a"), col("u2").as("u2a"), col("u3").as("u3a"),
      explode(array((for (d0 <- -1 to 1; d1 <- -1 to 1)
        yield struct((col("c0") + d0).as("p0"), (col("c1") + d1).as("p1"))): _*)).as("p"))
      .select(col("id_a"), col("va"), col("u0a"), col("u1a"), col("u2a"), col("u3a"),
        col("p.p0").as("p0"), col("p.p1").as("p1"))
    val home = e.select(
      col("vec_id").as("id_b"), col("v").as("vb"),
      col("u0").as("u0b"), col("u1").as("u1b"), col("u2").as("u2b"), col("u3").as("u3b"),
      col("c0"), col("c1"))
    probes.join(home,
        col("p0") === col("c0") && col("p1") === col("c1") && col("id_a") < col("id_b"))
      .filter(
        abs(col("u0a") - col("u0b")) <= W && abs(col("u1a") - col("u1b")) <= W &&
        abs(col("u2a") - col("u2b")) <= W && abs(col("u3a") - col("u3b")) <= W)
      .select(col("id_a"), col("id_b"), round(cosine(col("va"), col("vb")), 6).as("cos"))
      .filter(col("cos") >= 0.99)
      .orderBy("id_a", "id_b")
  }

  /** IVF-style ANN top-k: coarse quantizer = per-label centroids (the
    * exact aggregation from embCentroidDist), probe the nprobe closest
    * centroids per query, exact search only within the probed inverted
    * lists. This is the 100 TB scale path for similarity search: the
    * corpus is partitioned by list id, a query touches nprobe/nlists of
    * the data, and the only broadcast is the (tiny) centroid table +
    * query set. Approximate by design; deterministic, so oracle-checked.
    */
  def knnIvf(s: SparkSession, dir: String): DataFrame = knnIvfFrom(emb(s, dir))

  private def knnIvfFrom(e: DataFrame, nProbe: Int = 2): DataFrame = {
    val NProbe = nProbe
    // centroids: one shuffle on label, tiny output (nlists x dim)
    val centroids = labelCentroids(e)
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    // probe assignment: |queries| x nlists rows, rank centroids per query
    val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("label"))
    val probed = queries.join(broadcast(centroids), lit(true))
      .select(col("query_id"), col("qv"), col("label"),
        cosine(col("qv"), col("cv")).as("ccos"))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= NProbe)
      .select(col("query_id"), col("qv"), col("label"))
    // exact search within probed lists only (label-partitioned join)
    val wK = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    probed.join(e.select(col("vec_id").as("neighbor_id"), col("v").as("cv2"), col("label")), "label")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv2")), 6).as("cos"))
      .withColumn("rnk", row_number().over(wK))
      .filter(col("rnk") <= K)
      .orderBy("query_id", "rnk")
  }

  /** Learned coarse quantizer: Lloyd k-means with DRIVER-RESIDENT
    * centroids — the production IVF shape (at 100 TB there is no label
    * column to piggyback on). A centroid table is nLists × dim doubles,
    * provably tiny, so it lives on the driver and enters each job as plan
    * LITERALS: per iteration the assignment is a shuffle-free argmax
    * projection ([[assignListsProjection]]), new centroids are one
    * two-level elementwise-mean aggregation, and the nLists-row collect
    * is control-plane (bounded, like the routing sink's distinct-ids) —
    * no corpus window and no corpus×centroid join anywhere. Deterministic
    * so it stays oracle-checkable: seeds are the first nLists vectors by
    * id, argmax ties break to the lowest list id, fixed iteration count.
    * At real scale the Lloyd loop runs over a corpus SAMPLE
    * (`sampleFraction` < 1: seeded, deterministic); only the final —
    * equally shuffle-free — assignment touches the full data.
    */
  private[graft] def kmeansCentroids(e: DataFrame, nLists: Int, iters: Int,
      sampleFraction: Double = 1.0): Seq[(Int, Seq[Double])] = {
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1], got $sampleFraction")
    // seeds stay the first nLists full-data vectors (a pushed-down range
    // filter) so the quantizer is identical across sample draws
    val train =
      if (sampleFraction >= 1.0) e
      else e.sample(withReplacement = false, sampleFraction, seed = 42L)
    def collectCent(df: DataFrame): Seq[(Int, Seq[Double])] =
      df.collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    var cent = collectCent(e.filter(col("vec_id") < nLists)
      .select(col("vec_id").cast("int").as("list_id"), col("v")))
    for (_ <- 1 to iters) {
      val updated = collectCent(assignListsProjection(train, cent)
        .select(col("list_id"), posexplode(col("v")).as(Seq("i", "x")))
        .groupBy("list_id", "i").agg(avg("x").as("m"))
        .groupBy("list_id").agg(
          transform(array_sort(collect_list(struct(col("i"), col("m")))), s0 => s0.getField("m")).as("cv")))
        .toMap
      // a list whose (sampled) members all reassigned elsewhere carries
      // its previous centroid forward — the quantizer must stay exactly
      // nLists wide, since downstream NProbe probing and the oracle both
      // assume it (with sampleFraction < 1 a small draw can empty a list)
      cent = cent.map { case (lid, cv) => lid -> updated.getOrElse(lid, cv) }
    }
    assert(cent.size == nLists, s"quantizer shrank: ${cent.size} of $nLists lists")
    cent
  }

  /** Centroid / code tables as SINGLE catalyst Literal nodes — the
    * jsonata stringArrayLit discipline (r17) applied to the vector
    * control plane: an `array(array(lit...))` of an 8×64 centroid table
    * is a 512-child CreateArray that every analyzer/optimizer rule and
    * each control-plane job's re-plan walks node by node; one Literal is
    * one node and one codegen references entry. Values are identical.
    */
  private def nestedArrayData(v: Any): Any = v match {
    case s: Seq[_] =>
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        s.map(nestedArrayData).toArray[Any])
    case x => x
  }
  private def nestedArrayLit(values: Seq[_], elemType: org.apache.spark.sql.types.DataType): Column =
    org.apache.spark.sql.graftbridge.Bridge.column(
      org.apache.spark.sql.catalyst.expressions.Literal(
        nestedArrayData(values),
        org.apache.spark.sql.types.ArrayType(elemType, containsNull = false)))
  private val DoubleArrT = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.DoubleType, containsNull = false)
  private val DoubleArr2T = org.apache.spark.sql.types.ArrayType(DoubleArrT,
    containsNull = false)

  /** Nearest-centroid assignment (argmax cosine; ties — or all-NULL
    * cosines, e.g. a zero vector — take the lowest list id) as a pure
    * shuffle-free PROJECTION: the centroids are plan literals, the
    * per-centroid cosine array is staged once behind a Generate barrier
    * (array_max + array_position would otherwise each re-derive all
    * nLists cosine kernels through CollapseProject), and the argmax is
    * array_position of the max — first hit wins, which is exactly
    * row_number over (ccos DESC NULLS LAST, list_id ASC) = 1.
    */
  private[graft] def assignListsProjection(
      e: DataFrame, cent: Seq[(Int, Seq[Double])]): DataFrame = {
    val centArr = nestedArrayLit(cent.map(_._2), DoubleArrT)
    val listIds = array(cent.map { case (lid, _) => lit(lid) }: _*)
    val staged = graft.functions.PipelineFunctions.stageBarrier(
      e, Seq(col("vec_id"), col("v")),
      "coss" -> transform(centArr, cv => cosine(col("v"), cv)))
    staged.select(col("vec_id"), col("v"),
      element_at(listIds,
        coalesce(array_position(col("coss"), array_max(col("coss"))), lit(1L)).cast("int"))
        .as("list_id"))
  }

  /** The driver-resident centroids as a (tiny) relation for the probe
    * join: explode of a literal array — a local plan node, no scan.
    */
  private def centRelation(e: DataFrame, cent: Seq[(Int, Seq[Double])]): DataFrame =
    e.sparkSession.range(1).select(explode(array(cent.map { case (lid, cv) =>
      struct(lit(lid).as("list_id"), array(cv.map(lit): _*).as("cv")) }: _*)).as("c"))
      .select(col("c.list_id").as("list_id"), col("c.cv").as("cv"))

  /** IVF top-k with LEARNED centroids (kmeansCentroids) instead of the
    * label coarse quantizer — same probe/search shape as knnIvf: corpus
    * partitioned by learned list id, a query touches NProbe/nLists of the
    * data, broadcasts only centroids + the query set.
    */
  def knnIvfKmeans(s: SparkSession, dir: String): DataFrame =
    knnIvfKmeansFrom(emb(s, dir))

  private[graft] def knnIvfKmeansFrom(e: DataFrame,
      sampleFraction: Double = 1.0): DataFrame = {
    val NProbe = 2
    // cache the corpus projection only for the duration of the (eager)
    // Lloyd collects; released before the final lazy plan is returned,
    // which re-scans the parquet exactly once
    e.persist()
    val cent =
      try kmeansCentroids(e, nLists = 8, iters = 2, sampleFraction)
      finally e.unpersist(false)
    val corpusLists = assignListsProjection(e, cent)
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv2"), col("list_id"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("list_id"))
    val probed = queries.join(broadcast(centRelation(e, cent)), lit(true))
      .select(col("query_id"), col("qv"), col("list_id"),
        cosine(col("qv"), col("cv")).as("ccos"))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= NProbe)
      .select(col("query_id"), col("qv"), col("list_id"))
    // probed is |queries| × NProbe rows — broadcast it so the corpus side
    // never shuffles for the candidate join; only the probed-list
    // candidates flow into the top-k rank window
    val wK = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probed).join(corpusLists, "list_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv2")), 6).as("cos"))
      .withColumn("rnk", row_number().over(wK))
      .filter(col("rnk") <= K)
      .orderBy("query_id", "rnk")
  }

  /** IVF list-size balance — the ANN scan-cost diagnostic read before
    * trusting an IVF index: a probe visits NProbe of nLists lists, so
    * the max/mean list-size ratio bounds worst-case query cost against
    * the balanced ideal (clustered corpora routinely skew 10×, and the
    * fix — more lists, or a re-trained quantizer — starts from this
    * table). Composition: the same learned coarse quantizer as
    * knn_ivf_kmeans ([[kmeansCentroids]] — driver-resident literals),
    * the shuffle-free assignment projection, then ONE nLists-group
    * aggregation; the load-factor denominator is a 1-row total broadcast
    * (control-plane sized), so the corpus is scanned once and never
    * shuffled.
    */
  def embIvfBalance(s: SparkSession, dir: String): DataFrame = {
    val NLists = 8
    val e = emb(s, dir).select(col("vec_id"), col("v"))
    e.persist()
    val cent =
      try kmeansCentroids(e, nLists = NLists, iters = 2)
      finally e.unpersist(false)
    val counts = assignListsProjection(e, cent)
      .groupBy("list_id").agg(count(lit(1)).as("n_vecs"))
    // the total is a window over the ≤ nLists-row counts relation (never
    // the corpus) — one scan, no second lineage re-deriving the assignment
    val wAll = Window.partitionBy(lit(1))
    counts
      .select(col("list_id"), col("n_vecs"),
        (col("n_vecs") * lit(NLists.toDouble) /
          sum("n_vecs").over(wAll).cast("double")).as("load_factor"))
      .orderBy("list_id")
  }

  private val DriftThreshold = 0.1

  /** Streaming-ANN daily ingest: assign an ingest batch (vec_id ≡ 9 mod
    * 10 — ids 0..7 stay in the old corpus so the kmeans seeds are the
    * same 8 vectors the full-corpus quantizer uses) against a FROZEN
    * coarse quantizer, and emit the per-list ingest stats plus the
    * retrain trigger — dedup_incremental's story ([[TextQueries
    * .dedupIncremental]]) on the vector side. The quantizer (kmeans on
    * the OLD corpus only) and the old per-dimension reference stats are
    * control-plane: collected once at build (the index already existed
    * before the batch arrived) and re-entering as plan literals, so the
    * RETURNED plan touches only the batch — a shuffle-free argmax
    * assignment projection, one 8-row broadcast for the quantization
    * cosine, an 8-group list aggregate, and a 64-group drift aggregate
    * whose reference means/stddevs are literal arrays. Work per day ∝
    * batch size, never index size — the incremental contract. The
    * retrain trigger is emb_drift's standardized mean shift, batch vs
    * frozen reference, thresholded at [[DriftThreshold]].
    */
  def knnIvfIncremental(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val old = e.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    old.persist()
    val (cent, oldStats) =
      try {
        val c = kmeansCentroids(old, nLists = 8, iters = 2)
        val st = old.select(posexplode(col("v")).as(Seq("i", "x")))
          .groupBy("i").agg(avg("x").as("m"), stddev_pop("x").as("sd"))
          .orderBy("i").collect()
        (c, st)
      } finally old.unpersist(false)
    val mOld = array(oldStats.map(r => lit(r.getDouble(1))): _*)
    val sdOld = array(oldStats.map(r => lit(r.getDouble(2))): _*)
    val batch = e.filter(pmod(col("vec_id"), lit(10)) === 9)
    val withCos = assignListsProjection(batch, cent)
      .join(broadcast(centRelation(e, cent)), "list_id")
      .select(col("list_id"), col("vec_id"), cosine(col("v"), col("cv")).as("qcos"))
    val listStats = withCos.groupBy("list_id")
      .agg(count(lit(1)).as("n_new"), round(avg("qcos"), 6).as("avg_cos"))
    val sdO = element_at(sdOld, col("i") + 1)
    val drift = batch.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(avg("x").as("m_new"), stddev_pop("x").as("sd_new"))
      .select((abs(col("m_new") - element_at(mOld, col("i") + 1)) /
        sqrt((sdO * sdO + col("sd_new") * col("sd_new")) / 2)).as("drift"))
      .agg(round(max("drift"), 6).as("max_dim_drift"))
    listStats.crossJoin(broadcast(drift))
      .select(col("list_id"), col("n_new"), col("avg_cos"), col("max_dim_drift"),
        (col("max_dim_drift") > DriftThreshold).as("retrain"))
      .orderBy("list_id")
  }

  /** Per-dimension z-score standardization (whitening-lite) — the
    * preprocessing pass run before PQ/LSH indexing so no dimension
    * dominates the distance. Two passes by construction: a 64-group
    * partial-aggregated stats pass (mean, population stddev per
    * dimension), then a projection with the 64-row stats table
    * broadcast onto the exploded corpus. Zero-variance dimensions pass
    * through centered (divide by 1). Output is (vec_id, i, z) rows —
    * scalar-only, so the driver's hash compare applies elementwise.
    */
  def embWhiten(s: SparkSession, dir: String): DataFrame = {
    val ex = emb(s, dir).select(col("vec_id"), posexplode(col("v")).as(Seq("i", "x")))
    val stats = ex.groupBy("i").agg(avg("x").as("m"), stddev_pop("x").as("sd"))
    ex.join(broadcast(stats), "i")
      .select(col("vec_id"), col("i"),
        round((col("x") - col("m")) /
          when(col("sd") === 0, lit(1.0)).otherwise(col("sd")), 6).as("z"))
      .orderBy("vec_id", "i")
  }

  /** Covariance matrix of the embedding corpus — the two-pass (centered)
    * outer-product aggregation underlying PCA, whitening, and OPQ rotation
    * learning. Per row the centered 64×64 outer product explodes to
    * (i, j, (x−mᵢ)(y−mⱼ)) cells; map-side partial aggregation reduces each
    * partition to 4096 cells BEFORE the shuffle, so the exchange carries
    * dim² × partitions rows whatever the corpus size — linear algebra as a
    * bounded aggregation, the only Spark-shaped way to do it at 100 TB
    * (the collected matrix is control-plane input to [[powerIteration]]).
    *
    * Why two-pass and not E[xy]−E[x]E[y]: the one-pass form subtracts two
    * nearly-equal numbers (these near-zero covariances are ~1e-4 of the
    * raw moments), so Spark's partition-order float summation vs a
    * sequential oracle diverges past the round(·,6) grain. Centered terms
    * are already O(cov)-sized; the order dependence stays far below the
    * grain. The means pass is a bounded control-plane collect (dim rows),
    * the same pattern as the kmeans centroid literals.
    */
  def embCov(s: SparkSession, dir: String): DataFrame = {
    // round(·,6) is kept (the unrounded sums carry ulp-level partition-order
    // drift that a bit-exact hash would see), but IEEE round can emit -0.0
    // on tiny negatives — DuckDB's does, Spark's doesn't — and a value hash
    // distinguishes the two zero bit patterns even though every tolerance
    // compare calls them equal. Normalize the sign of zero on BOTH sides
    // (oracle mirrors with CASE WHEN cov = 0 THEN 0.0).
    val r = round(col("cov"), 6)
    covCells(s, dir)
      .select(col("i"), col("j"),
        when(r === 0, lit(0.0)).otherwise(r).as("cov"))
      .orderBy("i", "j")
  }

  /** Unrounded centered covariance cells (i, j, cov) — shared by
    * [[embCov]] (which rounds for its oracle row) and [[embPca1]] (whose
    * driver-side eigensolve wants the continuous values: quantizing first
    * would inject 5e-7 jumps where the cross-engine disagreement is only
    * ~1e-15).
    */
  private def covCells(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val e = emb(s, dir)
    // pass 1: per-dimension means + row count, collected (dim rows) and
    // re-embedded as plan literals
    val stats = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(avg("x").as("m"), count(lit(1)).as("c"))
      .orderBy("i").collect()
    val n = stats.head.getLong(2).toDouble
    val mLit = array(stats.map(r => lit(r.getDouble(1))): _*)
    // pass 2: center per row, then the outer product staged behind a
    // Generate barrier (posexplode of the raw expression would trip
    // InferFiltersFromGenerate and re-derive it at the scan), then a
    // 4096-group partial-agg groupBy — NO self-join: a vec_id-keyed join
    // would shuffle the exploded corpus
    val centered = graft.functions.PipelineFunctions.stageBarrier(
      e, Seq(), "cv" -> zip_with(col("v"), mLit, (x, m) => x - m))
    val staged = graft.functions.PipelineFunctions.stageBarrier(
      centered, Seq(),
      "op" -> flatten(transform(col("cv"), xi => transform(col("cv"), xj => xi * xj))))
    staged.select(posexplode(col("op")).as(Seq("pos", "xy")))
      .select(floor(col("pos") / dim).cast("int").as("i"),
        pmod(col("pos"), lit(dim)).cast("int").as("j"), col("xy"))
      .groupBy("i", "j").agg(sum("xy").as("sxy"))
      .select(col("i"), col("j"), (col("sxy") / n).as("cov"))
  }

  private val PcaIters = 20

  /** First-principal-component projection — PCA end to end, in its three
    * scale-true pieces: (1) the data-plane covariance pass ([[covCells]]:
    * one scan, dim²-bounded shuffle), (2) a control-plane eigensolve on
    * the collected 64×64 matrix ([[powerIteration]], driver-side, fixed
    * 20 iterations), (3) a shuffle-free projection of every vector onto
    * the centered leading axis — the eigenvector and means re-enter the
    * plan as literals, so the scoring pass is embarrassingly parallel
    * whatever the corpus size. The oracle replays the same 20 power
    * iterations as generated CTEs over the same unrounded covariance;
    * the sequential-fold projection keeps cross-engine drift ~1e-13,
    * far inside the gate's 1e-9 atol (pc1 is emitted unrounded — see
    * text_unigram_lp precedent).
    */
  def embPca1(s: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val e = emb(s, dir)
    val covArr = Array.ofDim[Double](dim, dim)
    // bounded: dim x dim covariance cells (4096 rows), never corpus-sized
    covCells(s, dir).collect().foreach(r =>
      covArr(r.getInt(0))(r.getInt(1)) = r.getDouble(2))
    val pc = powerIteration(covArr, PcaIters)
    val means = e.select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i").agg(avg("x").as("m")).orderBy("i").collect().map(_.getDouble(1))
    val mLit = array(means.map(lit(_)): _*)
    val pcLit = array(pc.map(lit(_)): _*)
    val centered = zip_with(col("v"), mLit, (x, m) => x - m)
    val prods = zip_with(centered, pcLit, (x, w) => x * w)
    e.select(col("vec_id"),
      aggregate(prods, lit(0.0), (acc, p) => acc + p).as("pc1"))
      .orderBy("vec_id")
  }

  /** Per-dimension distribution-drift screen between two corpus halves
    * (vec_id parity as the deterministic old/new stand-in) — the check a
    * production embedding pipeline runs on every ingest before trusting
    * a frozen index/quantizer: |Δmean| over the pooled std per dimension.
    * One exploded pass, a 2×dim-group aggregate, and a dim-row self-join
    * AQE broadcasts — nothing corpus-sized shuffles twice. Stats are
    * emitted unrounded under the gate's atol (Welford agreement ~1e-15).
    */
  def embDrift(s: SparkSession, dir: String): DataFrame = {
    val ex = emb(s, dir)
      .select((col("vec_id") % 2 === 0).as("is_old"), posexplode(col("v")).as(Seq("i", "x")))
    val st = ex.groupBy("is_old", "i").agg(avg("x").as("m"), stddev_pop("x").as("sd"))
    val o = st.filter(col("is_old"))
      .select(col("i"), col("m").as("m_old"), col("sd").as("sd_old"))
    val n = st.filter(!col("is_old"))
      .select(col("i").as("i2"), col("m").as("m_new"), col("sd").as("sd_new"))
    o.join(n, col("i") === col("i2"))
      .select(col("i"), col("m_old"), col("m_new"),
        (abs(col("m_new") - col("m_old")) /
          sqrt((col("sd_old") * col("sd_old") + col("sd_new") * col("sd_new")) / 2))
          .as("drift"))
      .orderBy("i")
  }

  /** Driver-side power iteration on a collected (control-plane) covariance
    * matrix: the tiny-side half of PCA — the data-sized half is embCov.
    * Deterministic: fixed all-ones start (a basis vector could be an
    * eigenvector ORTHOGONAL to the dominant axis and never converge; the
    * ones vector overlaps every axis), fixed iteration count, sign
    * normalized so the first nonzero component is positive.
    */
  private[graft] def powerIteration(cov: Array[Array[Double]], iters: Int = 50): Array[Double] = {
    val d = cov.length
    var v = Array.fill(d)(1.0 / math.sqrt(d))
    for (_ <- 1 to iters) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * v(j)).sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      v = if (nrm == 0) w else w.map(_ / nrm)
    }
    val lead = v.find(math.abs(_) > 1e-12).getOrElse(1.0)
    if (lead < 0) v.map(-_) else v
  }

  /** SemDeDup-style semantic dedup: cluster with the learned Lloyd coarse
    * quantizer, then within each cluster drop every vector that pairs with
    * a lower vec_id at cosine >= CosMin (keep-first, like dedup_keep).
    *
    * Scale shape: this IS SemDeDup's cost model — pair generation is a
    * key-partitioned self-join on list_id (never a global cross join), so
    * the work is sum over clusters of (cluster size)²; production sizes
    * nLists so clusters stay ~1e3-1e4 vectors. Cluster assignment is the
    * shuffle-free argmax projection against driver-resident centroid
    * literals shared with knn_ivf_kmeans. CosMin is tuned to the synthetic
    * corpus (near-uniform random embeddings, max pairwise cos ~0.51 — a
    * production 0.99 threshold would fire on nothing); the semantics are
    * threshold-independent.
    */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val CosMin = 0.4
    val e = emb(s, dir)
    e.persist()
    val cent =
      try kmeansCentroids(e, nLists = 8, iters = 2)
      finally e.unpersist(false)
    val lists = assignListsProjection(e, cent)
    val a = lists.select(col("list_id"), col("vec_id").as("id_a"), col("v").as("va"))
    val b = lists.select(col("list_id"), col("vec_id").as("id_b"), col("v").as("vb"))
    val dropped = a.join(b, "list_id")
      .filter(col("id_a") < col("id_b") &&
        round(cosine(col("va"), col("vb")), 6) >= CosMin)
      .select(col("id_b")).distinct()
    lists.join(dropped, col("vec_id") === col("id_b"), "left_outer")
      .select(col("vec_id"), col("list_id"), col("id_b").isNull.as("keep"))
      .orderBy("vec_id")
  }

  /** ANN quality accounting: recall@K of the IVF index against the exact
    * brute-force neighbors, per query. The measurement every production
    * ANN deployment ships with — recall is THE dial that justifies the
    * nprobe/nlists cost trade (at 100 TB the brute pass runs on a sampled
    * query set; the IVF side is the production path). Pure composition:
    * both sides are the already-declared queries, the overlap is a
    * left-semi join on (query, neighbor), zeros kept via the query list.
    * The corpus projection is persisted once and feeds both lineages —
    * without it the brute and IVF sides each re-scan the parquet (at
    * scale this is the difference between one pass and three).
    */
  def knnRecall(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).persist()
    try {
      val brute = knnBruteFrom(e).select(col("query_id"), col("neighbor_id"))
      val ivf = knnIvfFrom(e)
        .select(col("query_id").as("qi"), col("neighbor_id").as("ni"))
      // the result is provably <= NumQueries rows: materialize it eagerly
      // while the shared corpus cache is live
      detached(s, recallAtK(brute, ivf, queryIds(e)))
    } finally e.unpersist(false)
  }

  /** Recall@K of the IVF-PQ search against exact brute force — the
    * quality dial that justifies the 64× code compression (nlists/nprobe/
    * M/K tuning all read off this number). Same composition shape as
    * [[knnRecall]]: one shared persisted corpus feeds both lineages, the
    * overlap is a left-semi join, zeros kept via the query list, and the
    * ≤ NumQueries result is materialized eagerly so the cache releases
    * deterministically.
    */
  def knnRecallPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v")).persist()
    try {
      val brute = knnBruteFrom(e).select(col("query_id"), col("neighbor_id"))
      val pq = knnIvfPqFrom(e)
        .select(col("query_id").as("qi"), col("neighbor_id").as("ni"))
      detached(s, recallAtK(brute, pq, queryIds(e)))
    } finally e.unpersist(false)
  }

  private val SweepMaxProbe = 4

  /** Recall@K as a FUNCTION of nprobe (1..SweepMaxProbe) — the tuning
    * CURVE behind knn_recall's single point: nprobe is the knob an IVF
    * deployment actually turns (each +1 probes one more list ≈ +1/nlists
    * of the corpus per query), and this emits the recall-vs-cost table
    * that decision reads. One persisted corpus feeds the brute ground
    * truth and all sweep points; the per-point hit counts are bounded
    * control-plane actions (≤ NumQueries·K rows each, the kmeans-loop
    * discipline), so the result is an exact 4-row relation from integer
    * hit counts.
    */
  def knnRecallSweep(s: SparkSession, dir: String): DataFrame = {
    // ONE distributed pass for all sweep points (r17, the
    // rerankRecallCurve rewrite): probe rank is computed once to
    // SweepMaxProbe, the probed-list candidates are scored once, and each
    // point's top-K membership is a conditional cumulative count over one
    // rank window (point p's candidate set = rows with prnk <= p; the
    // running count of such rows in (cos desc, neighbor_id) order is the
    // row's rank within that cut). The old form re-ran the centroid
    // aggregate, the candidate join and the brute ground truth per point.
    val e = emb(s, dir).persist()
    try {
      val brute = knnBruteFrom(e).select(col("query_id"), col("neighbor_id"))
      val centroids = labelCentroids(e)
      val queries = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("label"))
      val probed = queries.join(broadcast(centroids), lit(true))
        .select(col("query_id"), col("qv"), col("label"),
          cosine(col("qv"), col("cv")).as("ccos"))
        .withColumn("prnk", row_number().over(wProbe))
        .filter(col("prnk") <= SweepMaxProbe)
        .select(col("query_id"), col("qv"), col("label"), col("prnk"))
      val scored = broadcast(probed)
        .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("cv2"), col("label")),
          "label")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("prnk"),
          round(cosine(col("qv"), col("cv2")), 6).as("cos"))
      val marked = scored.join(broadcast(brute.withColumn("hit", lit(1))),
        Seq("query_id", "neighbor_id"), "left_outer")
      val wCum = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val points = (1 to SweepMaxProbe).toSeq
      val cums = points.map(p =>
        sum(when(col("prnk") <= p, 1L)).over(wCum).as(s"cum$p"))
      val ranked = marked.select(
        Seq(col("query_id"), col("prnk"), col("hit")) ++ cums: _*)
      val aggs = points.map(p =>
        sum(when(col("hit").isNotNull && col("prnk") <= p && col(s"cum$p") <= K, 1L)
          .otherwise(0L)).as(s"h$p"))
      val row = ranked.agg(aggs.head, aggs.tail: _*).collect()(0)
      import s.implicits._
      points.zipWithIndex
        .map { case (p, i) => (p, row.getLong(i).toDouble / (NumQueries * K)) }
        .toDF("nprobe", "recall")
    } finally e.unpersist(false)
  }

  /** Recall@K along the K AXIS — every other recall dial in the family
    * (nprobe, width, bits, tables, candidate depth) fixes K=10 and
    * varies the index; this fixes the index (IVF, nprobe=2) and varies
    * what the caller actually asks for: K ∈ {1, 5, 10}. The shape of
    * this curve is a deployment decision input — recall@1 ≪ recall@10
    * says the index finds the neighborhood but not the nearest point
    * (rerank before answering top-1); flat-in-K says errors are
    * misses of whole lists, not rank noise. ONE pass: both ranked
    * lineages (brute ground truth, IVF) join on (query, neighbor) and
    * every K point is a conditional count over that ≤ NumQueries·K-row
    * relation — no per-K jobs.
    */
  def knnRecallVsK(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).persist()
    try {
      val brute = knnBruteFrom(e)
        .select(col("query_id"), col("neighbor_id"), col("rnk").as("brnk"))
      val ivf = knnIvfFrom(e)
        .select(col("query_id"), col("neighbor_id"), col("rnk").as("irnk"))
      val j = brute.join(ivf, Seq("query_id", "neighbor_id"))
      val row = j.agg(
        sum(when(col("brnk") <= 1 && col("irnk") <= 1, 1L).otherwise(0L)).as("h1"),
        sum(when(col("brnk") <= 5 && col("irnk") <= 5, 1L).otherwise(0L)).as("h5"),
        sum(when(col("brnk") <= 10 && col("irnk") <= 10, 1L).otherwise(0L)).as("h10"))
        .collect()(0)
      import s.implicits._
      Seq(1, 5, 10).zip(Seq(row.getLong(0), row.getLong(1), row.getLong(2)))
        .map { case (k, h) => (k, h.toDouble / (NumQueries * k)) }
        .toDF("k", "recall")
    } finally e.unpersist(false)
  }

  private val FilterMod = 3

  /** FILTERED ANN — the production search shape nothing else in the
    * recall family measures: real vector queries carry a metadata
    * predicate ("only docs from this source / this license / after this
    * date"), and an IVF index built on geometry alone interacts with
    * that filter in one of two ways — post-filter the probed lists (what
    * this measures) or pre-filter into per-predicate indexes (a storage
    * multiplier). Per nprobe ∈ {1,2,4}: candidates = allowed vectors
    * (vec_id ≡ 0 mod [[FilterMod]], a predicate deliberately orthogonal
    * to the list geometry) inside the probed lists, exact-cosine top-K,
    * recall vs the FILTERED brute-force ground truth plus the candidate
    * volume actually scanned. The reading at sf0.01 — filtered recall
    * tracks the unfiltered sweep at each probe depth while candidates
    * shrink ~3× — is the evidence that post-filtering keeps the
    * geometry's recall when the predicate is independent of it; a
    * CORRELATED predicate is exactly when this table would sag and tell
    * a deployment to shard its index instead. Same scale discipline as
    * knn_recall_sweep: one persisted corpus feeds ground truth and every
    * sweep point, queries broadcast, corpus never shuffles, per-point
    * counts are bounded control-plane actions; ranks use cos rounded to
    * 6 with id tiebreak so cross-engine order is exact.
    */
  def knnFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).persist()
    try {
      val allowed = e.filter(pmod(col("vec_id"), lit(FilterMod)) === 0)
        .select(col("vec_id").as("neighbor_id"), col("v").as("cv"), col("label"))
      val queries = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val wK = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
      val gt = allowed.join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosine(col("qv"), col("cv")), 6).as("cos"))
        .withColumn("rnk", row_number().over(wK)).filter(col("rnk") <= K)
        .select(col("query_id"), col("neighbor_id"))
      val centroids = labelCentroids(e, out = "ccv")
      val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("label"))
      val points = Seq(1, 2, 4)
      // ONE distributed pass for all probe depths (r17, the
      // rerankRecallCurve rewrite): candidates are scored once to the max
      // probe depth; each point's candidate volume is a conditional count
      // and its top-K membership a conditional cumulative rank. The old
      // form ran a count job AND a rerank+semi-join job per point.
      val probeRank = queries.join(broadcast(centroids), lit(true))
        .select(col("query_id"), col("qv"), col("label"),
          round(cosine(col("qv"), col("ccv")), 6).as("ccos"))
        .withColumn("prnk", row_number().over(wProbe))
        .filter(col("prnk") <= points.max)
        .select(col("query_id"), col("qv"), col("label"), col("prnk"))
      val scored = broadcast(probeRank).join(allowed, "label")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("prnk"),
          round(cosine(col("qv"), col("cv")), 6).as("cos"))
      val marked = scored.join(broadcast(gt.withColumn("hit", lit(1))),
        Seq("query_id", "neighbor_id"), "left_outer")
      val wCum = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cums = points.map(p =>
        sum(when(col("prnk") <= p, 1L)).over(wCum).as(s"cum$p"))
      val ranked = marked.select(
        Seq(col("query_id"), col("prnk"), col("hit")) ++ cums: _*)
      val aggs = points.flatMap(p => Seq(
        sum(when(col("prnk") <= p, 1L).otherwise(0L)).as(s"n$p"),
        sum(when(col("hit").isNotNull && col("prnk") <= p && col(s"cum$p") <= K, 1L)
          .otherwise(0L)).as(s"h$p")))
      val row = ranked.agg(aggs.head, aggs.tail: _*).collect()(0)
      import s.implicits._
      points.zipWithIndex
        .map { case (p, i) =>
          (p, row.getLong(2 * i), row.getLong(2 * i + 1).toDouble / (NumQueries * K)) }
        .toDF("nprobe", "n_cand", "recall")
    } finally e.unpersist(false)
  }

  /** Recall@K of BINARY-quantized search (one sign bit per dimension —
    * 64 dims pack into a single long, a 32× compression over float32)
    * against full-precision brute force: the third axis of the
    * quantization family (int8: emb_quantize, PQ codes: emb_pq/knn_ivf
    * _pq, 1-bit: here) and the cheapest candidate generator a vector
    * store ships (Hamming distance is one xor+popcount per candidate).
    * Fingerprinting is a pure projection; the ranked search is the
    * knn_brute shape (corpus × broadcast 5-query sample, explicitly
    * bounded) with integer Hamming ranks — deterministic, no float in
    * the rank key; recall is an exact integer ratio.
    */
  def knnRecallBinary(s: SparkSession, dir: String): DataFrame = {
    // 63 sign bits (dims 1–63): the long's sign bit stays clear — the
    // same bits ≤ 63 contract as hammingPairs, and the DuckDB mirror's
    // BIGINT shift/sum stays in the positive half
    val Bits = 63
    val fp = aggregate(
      transform(sequence(lit(0), lit(Bits - 1)),
        i => when(element_at(col("v"), i + 1) > 0.0,
          pow(lit(2.0), i).cast("long")).otherwise(0L)),
      lit(0L), (a, x) => a.bitwiseOR(x))
    val e = emb(s, dir).select(col("vec_id"), col("v")).persist()
    try {
      val brute = knnBruteFrom(e).select(col("query_id"), col("neighbor_id"))
      val fps = e.select(col("vec_id"), fp.as("fp"))
      val queries = fps.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("fp").as("qfp"))
      val w = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
      val bin = fps.select(col("vec_id").as("neighbor_id"), col("fp"))
        .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          bit_count(col("fp").bitwiseXOR(col("qfp"))).cast("int").as("hamming"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= K)
        .select(col("query_id").as("qi"), col("neighbor_id").as("ni"))
      // bounded: one recall row per query, ≤ NumQueries rows
      detached(s, recallAtK(brute, bin, queryIds(e)))
    } finally e.unpersist(false)
  }

  private val TruncDim = 16

  /** Recall@K of brute-force search over the TRUNCATED embedding prefix
    * (first TruncDim of 64 dims) against full-width brute force — the
    * Matryoshka-representation storage dial (Kusupati et al.,
    * NeurIPS'22): a 4× smaller index answers the query, and this number
    * prices that compression in recall, completing the recall family
    * (IVF: knn_recall, PQ: knn_recall_pq, LSH: knn_recall_lsh, width:
    * here). Same composition shape as [[knnRecall]]: one shared
    * persisted corpus feeds both lineages (the truncated side is a pure
    * slice() projection of the same cache — no second scan), overlap is
    * a left-semi join, zeros kept via the query list, and the
    * ≤ NumQueries result materializes eagerly so the cache releases
    * deterministically.
    */
  def knnRecallTrunc(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v")).persist()
    try {
      val brute = knnBruteFrom(e).select(col("query_id"), col("neighbor_id"))
      val trunc = knnBruteFrom(e.select(col("vec_id"), slice(col("v"), 1, TruncDim).as("v")))
        .select(col("query_id").as("qi"), col("neighbor_id").as("ni"))
      detached(s, recallAtK(brute, trunc, queryIds(e)))
    } finally e.unpersist(false)
  }

  private val RerankDepths = Seq(50, 100, 200)

  /** Shared stage 2 of the two-stage searches: given ranked candidates
    * (query_id, neighbor_id, rnk), for each depth d rerank the rnk <= d
    * cut with EXACT full-width cosine to top-K and measure recall@K
    * against brute force — one (cand_k, recall) row per depth, the
    * knn_recall_sweep discipline (bounded per-point hit counts, an exact
    * integer-ratio result). Because the rerank orders by the same
    * rounded-cosine + neighbor_id key as the ground truth, a true
    * neighbor is recovered iff the generator put it inside the cut:
    * recall@K(d) equals candidate-set recall exactly, so the curve is a
    * pure measurement of the GENERATOR, with the rerank stage supplying
    * the exactness that makes that identity hold. Scale shape: the
    * corpus is projected (never shuffled) once per stage; candidates and
    * queries broadcast into the rerank, so stage-2 work is
    * candidate-sized — the contract that lets stage 1 shrink the index.
    */
  private def rerankRecallCurve(s: SparkSession, e: DataFrame, cand: DataFrame): DataFrame = {
    // ONE distributed pass for the whole curve (r17): the old form ran one
    // job per depth, each re-evaluating the brute ground truth AND the
    // candidate generator (for the PQ closure that is three extra ADC
    // passes over the corpus). Here the ≤ max-depth candidates are scored
    // exactly once, the ground truth joins in as a hit marker (brute is
    // (query, neighbor)-unique, so the left join cannot fan out), and each
    // depth's top-K membership falls out of a CONDITIONAL CUMULATIVE count
    // over one rank window: among rows sorted by (cos desc, neighbor_id),
    // the running count of rnk<=d rows at a row's position IS its
    // row_number within the depth-d cut — same set, no per-depth jobs.
    val brute = knnBruteFrom(e).select(col("query_id"), col("neighbor_id"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val scored = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
      .join(broadcast(cand.filter(col("rnk") <= RerankDepths.max)
        .select("query_id", "neighbor_id", "rnk")), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
    val marked = scored.join(broadcast(brute.withColumn("hit", lit(1))),
      Seq("query_id", "neighbor_id"), "left_outer")
    val wCum = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = RerankDepths.map(d =>
      sum(when(col("rnk") <= d, 1L)).over(wCum).as(s"cum$d"))
    val ranked = marked.select(
      Seq(col("query_id"), col("rnk"), col("hit")) ++ cums: _*)
    val aggs = RerankDepths.map(d =>
      sum(when(col("hit").isNotNull && col("rnk") <= d && col(s"cum$d") <= K, 1L)
        .otherwise(0L)).as(s"h$d"))
    val row = ranked.agg(aggs.head, aggs.tail: _*).collect()(0)
    import s.implicits._
    RerankDepths.zipWithIndex
      .map { case (d, i) => (d, row.getLong(i).toDouble / (NumQueries * K)) }
      .toDF("cand_k", "recall")
  }

  /** Matryoshka two-stage search (the closure [[knnRecallTrunc]]'s own
    * SURVEY note prescribes): the 4x-smaller [[TruncDim]]-prefix index
    * generates top-d candidates per query, a full-width exact rerank
    * cuts them to top-K, and the output prices the pipeline in recall@K
    * at each candidate depth d in [[RerankDepths]] — the dial a
    * prefix-indexed deployment turns. On THIS corpus the prefix is
    * weakly informative (iid synthetic dims: prefix cosine correlates
    * ~sqrt(TruncDim/64) with the full score), so the curve climbs slowly
    * (~0.48 @ 50 of 500 to ~0.86 @ 200) — the honest worst case. Trained
    * Matryoshka embeddings (Kusupati et al., NeurIPS'22) are optimized
    * so the prefix ranking concentrates the true neighbors at small d;
    * the query measures exactly that concentration, whatever the
    * embedding. Stage shape: candidate scoring reads only the
    * TruncDim-prefix projection of the corpus (the 4x storage shrink),
    * stage 2 is candidate-sized (see [[rerankRecallCurve]]).
    */
  def knnTruncRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v")).persist()
    try {
      val es = e.select(col("vec_id"), slice(col("v"), 1, TruncDim).as("sv"))
      val q16 = es.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("sv").as("qsv"))
      val wCand = Window.partitionBy("query_id")
        .orderBy(col("tcos").desc, col("neighbor_id"))
      val cand = es.select(col("vec_id").as("neighbor_id"), col("sv"))
        .join(broadcast(q16), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosine(col("qsv"), col("sv")), 6).as("tcos"))
        .withColumn("rnk", row_number().over(wCand))
        .filter(col("rnk") <= RerankDepths.max)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
      // rerankRecallCurve's per-depth counts are driver-side actions, so
      // the returned local relation is already materialized here
      rerankRecallCurve(s, e, cand)
    } finally e.unpersist(false)
  }

  /** Binary-prefilter two-stage search — the same closure for the 1-bit
    * axis ([[knnRecallBinary]]'s production shape): 63 sign bits per
    * vector (32x compression, one long), Hamming distance (xor+popcount,
    * integer-only rank key) generates top-d candidates, full-precision
    * cosine reranks to top-K, recall@K per depth against brute. The
    * fingerprint is the cheapest candidate generator a vector store
    * ships, and 63 sign bits carry more of the full-width ordering than
    * the 16-dim prefix does on this corpus — the two curves side by side
    * are the generator comparison a deployment reads before choosing its
    * first stage.
    */
  def knnBinaryRerank(s: SparkSession, dir: String): DataFrame = {
    val Bits = 63
    val fp = aggregate(
      transform(sequence(lit(0), lit(Bits - 1)),
        i => when(element_at(col("v"), i + 1) > 0.0,
          pow(lit(2.0), i).cast("long")).otherwise(0L)),
      lit(0L), (a, x) => a.bitwiseOR(x))
    val e = emb(s, dir).select(col("vec_id"), col("v")).persist()
    try {
      val fps = e.select(col("vec_id"), fp.as("fp"))
      val qf = fps.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("fp").as("qfp"))
      val wCand = Window.partitionBy("query_id")
        .orderBy(col("hamming"), col("neighbor_id"))
      val cand = fps.select(col("vec_id").as("neighbor_id"), col("fp"))
        .join(broadcast(qf), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          bit_count(col("fp").bitwiseXOR(col("qfp"))).cast("int").as("hamming"))
        .withColumn("rnk", row_number().over(wCand))
        .filter(col("rnk") <= RerankDepths.max)
        .select(col("query_id"), col("neighbor_id"), col("rnk"))
      rerankRecallCurve(s, e, cand)
    } finally e.unpersist(false)
  }

  /** Recall@K as a function of the number of LSH tables used (bands
    * 1..4 of the 16-bit hyperplane signature) — the multi-table LSH
    * tuning curve, completing the dial family (IVF: nprobe sweep,
    * width: trunc curve, bits: binary curve, dedup-LSH: bands sweep):
    * each extra table adds one more 4-bit band's bucket collisions to
    * the candidate set, buying recall with candidate volume — the
    * standard L-tables trade (Indyk–Motwani). One signature projection
    * feeds a band-carrying candidate relation; each sweep point filters
    * band < t, reranks exactly, and counts hits (knn_recall_sweep's
    * bounded-scalar discipline).
    */
  def knnLshSweep(s: SparkSession, dir: String): DataFrame = {
    val Bits = 16
    val BandBits = 4
    val e = emb(s, dir).select(col("vec_id"), col("v")).persist()
    try {
      val brute = knnBruteFrom(e).select(col("query_id"), col("neighbor_id"))
      val sig = e.withColumn("sig", hyperplaneSignature(col("v"), Bits, 64))
      def bands(df: DataFrame, idCol: String): DataFrame =
        df.select(col(idCol), col("sig"),
            explode(sequence(lit(0), lit(Bits / BandBits - 1))).as("band"))
          .select(col(idCol), col("band"),
            expr(s"shiftright(sig, band * $BandBits) % ${1 << BandBits}").as("bucket"))
      val corpusBands = bands(sig.select(col("vec_id"), col("sig")), "vec_id")
      val queryBands = bands(
        sig.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("query_id"), col("sig")), "query_id")
      val cand = corpusBands.join(broadcast(queryBands),
          corpusBands("band") === queryBands("band") &&
            corpusBands("bucket") === queryBands("bucket") &&
            col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          corpusBands("band").as("cband"))
      val queries = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      // ONE distributed pass for all table counts (r17, the
      // rerankRecallCurve rewrite): a pair is a candidate under t tables
      // iff its SMALLEST colliding band < t, so the per-t distinct
      // collapses to one min aggregate, candidates are scored once, and
      // each point's top-K membership is a conditional cumulative count
      // over one rank window. The old form re-ran the candidate join, the
      // exact rerank and the ground-truth semi-join per point.
      val candMin = cand.groupBy("query_id", "neighbor_id")
        .agg(min("cband").as("mband"))
      val scored = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
        .join(broadcast(candMin), "neighbor_id")
        .join(broadcast(queries), "query_id")
        .select(col("query_id"), col("neighbor_id"), col("mband"),
          round(cosine(col("qv"), col("cv")), 6).as("cos"))
      val marked = scored.join(broadcast(brute.withColumn("hit", lit(1))),
        Seq("query_id", "neighbor_id"), "left_outer")
      val wCum = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val points = (1 to Bits / BandBits).toSeq
      val cums = points.map(t =>
        sum(when(col("mband") < t, 1L)).over(wCum).as(s"cum$t"))
      val ranked = marked.select(
        Seq(col("query_id"), col("mband"), col("hit")) ++ cums: _*)
      val aggs = points.map(t =>
        sum(when(col("hit").isNotNull && col("mband") < t && col(s"cum$t") <= K, 1L)
          .otherwise(0L)).as(s"h$t"))
      val row = ranked.agg(aggs.head, aggs.tail: _*).collect()(0)
      import s.implicits._
      points.zipWithIndex
        .map { case (t, i) => (t, row.getLong(i).toDouble / (NumQueries * K)) }
        .toDF("n_tables", "recall")
    } finally e.unpersist(false)
  }

  /** Recall closure for [[knnIvfIncremental]] — the acceptance number
    * the emb_drift retrain trigger guards: does the FROZEN quantizer
    * still search well for vectors it never saw at train time? Lloyd
    * trains on the 90% "old" corpus only; everything (old + the new
    * batch) is assigned with the frozen centroids; the first NumQueries
    * NEW-batch vectors become the queries; IVF probes 2 of 8 lists with
    * exact rerank to top-K; recall@K is measured against full-corpus
    * brute force. While this number holds, incremental ingest keeps
    * assigning against the literals and nothing retrains; when
    * max_dim_drift trips, THIS is the number that would have sagged.
    * Same plan discipline as knn_ivf_kmeans: centroids are bounded plan
    * literals, probes broadcast, the corpus never shuffles.
    */
  def knnIvfIncrementalRecall(s: SparkSession, dir: String): DataFrame = {
    val NProbe = 2
    val e = emb(s, dir).select(col("vec_id"), col("v")).persist()
    try {
      val old = e.filter(pmod(col("vec_id"), lit(10)) =!= 9)
      val cent = kmeansCentroids(old, nLists = 8, iters = 2)
      val corpusLists = assignListsProjection(e, cent)
        .select(col("vec_id").as("neighbor_id"), col("v").as("cv2"), col("list_id"))
      val queries = e.filter(pmod(col("vec_id"), lit(10)) === 9 &&
          col("vec_id") < 10L * NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))
      val wB = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
      val brute = e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
        .join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosine(col("qv"), col("cv")), 6).as("cos"))
        .withColumn("rnk", row_number().over(wB))
        .filter(col("rnk") <= K)
        .select("query_id", "neighbor_id")
      val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("list_id"))
      // ccos rounds to the 6-decimal parity grain BEFORE ranking (as the
      // rerank stages do) so a near-tie between centroid cosines cannot
      // select different probe lists cross-engine
      val probed = queries.join(broadcast(centRelation(e, cent)), lit(true))
        .select(col("query_id"), col("qv"), col("list_id"),
          round(cosine(col("qv"), col("cv")), 6).as("ccos"))
        .withColumn("prnk", row_number().over(wProbe))
        .filter(col("prnk") <= NProbe)
        .select(col("query_id"), col("qv"), col("list_id"))
      val wK = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
      val ivf = broadcast(probed).join(corpusLists, "list_id")
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(cosine(col("qv"), col("cv2")), 6).as("cos"))
        .withColumn("rnk", row_number().over(wK))
        .filter(col("rnk") <= K)
        .select(col("query_id").as("qi"), col("neighbor_id").as("ni"))
      // bounded: one recall row per query, ≤ NumQueries rows
      detached(s, recallAtK(brute, ivf, queries.select("query_id")))
    } finally e.unpersist(false)
  }

  /** Cosine-threshold dial for [[dedupSemantic]] — the embedding-plane
    * analog of dedup_bands_sweep's S-curve: over the SAME list-bucketed
    * candidate pairs (IVF coarse quantizer, within-list pairs only —
    * never all-pairs), pair volume, distinct dropped docs, and the kept
    * corpus fraction at cos >= 0.4 / 0.6 / 0.8. Semantic dedup's only
    * free parameter is this threshold, and the table is what a curation
    * pass reads to pick it (too low eats paraphrases and topical
    * neighbors, too high keeps boilerplate rewrites). All three
    * thresholds are conditional sums over ONE pass of the pair relation
    * — no per-threshold jobs — and the reshape is a constant 3-row
    * stack, the corpus_dedup_funnel discipline.
    */
  def dedupSemanticSweep(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    e.persist()
    try {
    val cent = kmeansCentroids(e, nLists = 8, iters = 2)
    val lists = assignListsProjection(e, cent)
    val a = lists.select(col("list_id"), col("vec_id").as("id_a"), col("v").as("va"))
    val b = lists.select(col("list_id"), col("vec_id").as("id_b"), col("v").as("vb"))
    val pairs = a.join(b, "list_id")
      .filter(col("id_a") < col("id_b"))
      .select(col("id_b"), round(cosine(col("va"), col("vb")), 6).as("cos"))
    val thresholds = Seq("04" -> 0.4, "06" -> 0.6, "08" -> 0.8)
    val aggs = thresholds.flatMap { case (n, t) =>
      Seq(coalesce(sum(when(col("cos") >= t, 1L)), lit(0L)).as(s"p$n"),
        countDistinct(when(col("cos") >= t, col("id_b"))).as(s"d$n"))
    }
    val nv = lists.agg(count(lit(1)).as("n_vec"))
    val out = pairs.agg(aggs.head, aggs.tail: _*)
      .crossJoin(broadcast(nv))
      .selectExpr(
        """stack(3,
          |  CAST(0.4 AS DOUBLE), p04, d04,
          |  CAST(0.6 AS DOUBLE), p06, d06,
          |  CAST(0.8 AS DOUBLE), p08, d08) AS (cos_min, n_pairs, n_dropped)""".stripMargin,
        "n_vec")
      .select(col("cos_min"), col("n_pairs"), col("n_dropped"),
        round((col("n_vec") - col("n_dropped")).cast("double") /
          col("n_vec").cast("double"), 6).as("kept_frac"))
      .orderBy("cos_min")
    // bounded 3-row dial: evaluate while e is cached so the assignment
    // and pair passes reuse the cached scan, then release (the
    // knnIvfIncrementalRecall pattern)
    detached(s, out)
    } finally e.unpersist(false)
  }

  /** Random-hyperplane LSH index rows (vec_id, band, bucket): 16 sign
    * bits from literal hyperplanes, sliced into 4 bands of 4 bits — the
    * approximate ANN candidate structure (vectors sharing (band, bucket)
    * are angular-neighbor candidates; at 100 TB this replaces the exact
    * grid of emb_neardup when bounded recall is acceptable). Everything
    * is a per-row projection: no shuffle until the candidate join.
    */
  def embLshBuckets(s: SparkSession, dir: String): DataFrame = {
    val Bits = 16
    val BandBits = 4
    val e = emb(s, dir)
      .withColumn("sig", hyperplaneSignature(col("v"), Bits, 64))
    e.select(col("vec_id"), col("sig"),
        explode(sequence(lit(0), lit(Bits / BandBits - 1))).as("band"))
      // band b's bucket = 4-bit slice: (sig >> 4b) & 15 (SQL shiftright
      // accepts a column shift amount; the Scala wrapper does not)
      .select(col("vec_id"), col("band"),
        expr(s"shiftright(sig, band * $BandBits) % ${1 << BandBits}").as("bucket"))
      .orderBy("vec_id", "band")
  }

  /** ANN search THROUGH the hyperplane-LSH index (completes the family:
    * brute / IVF / IVF-kmeans / IVF-PQ / LSH): candidates are corpus
    * vectors sharing at least one 4-bit band bucket with the query's
    * 16-bit signature, reranked with exact cosine to top-K. The query
    * side (|Q| rows, 4 band rows each) broadcasts into both the
    * candidate join and the rerank, so the corpus is projected twice and
    * never shuffled; the only data-proportional shuffle is the candidate
    * distinct, whose size tracks bucket collisions (~n/2^BandBits per
    * band per query — widen Bits/BandBits for selectivity at scale, the
    * standard multi-table LSH tuning), never n·|Q|.
    */
  def knnLsh(s: SparkSession, dir: String): DataFrame = knnLshFrom(emb(s, dir))

  private def knnLshFrom(e0: DataFrame): DataFrame = {
    val Bits = 16
    val BandBits = 4
    val e = e0.withColumn("sig", hyperplaneSignature(col("v"), Bits, 64))
    def bands(df: DataFrame, idCol: String): DataFrame =
      df.select(col(idCol), col("sig"),
          explode(sequence(lit(0), lit(Bits / BandBits - 1))).as("band"))
        .select(col(idCol), col("band"),
          expr(s"shiftright(sig, band * $BandBits) % ${1 << BandBits}").as("bucket"))
    val corpusBands = bands(e.select(col("vec_id"), col("sig")), "vec_id")
    val queryBands = bands(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("sig")), "query_id")
    val cand = corpusBands.join(broadcast(queryBands),
        corpusBands("band") === queryBands("band") &&
          corpusBands("bucket") === queryBands("bucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wK = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    e.select(col("vec_id").as("neighbor_id"), col("v").as("cv"))
      .join(broadcast(cand), "neighbor_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qv"), col("cv")), 6).as("cos"))
      .withColumn("rnk", row_number().over(wK))
      .filter(col("rnk") <= K)
      .orderBy("query_id", "rnk")
  }

  /** Recall@K of the LSH search against exact brute force — the quality
    * dial for the Bits/BandBits trade, completing the recall triple
    * (knn_recall: IVF; knn_recall_pq: IVF-PQ; here: hyperplane LSH).
    * Same composition shape: one shared persisted corpus feeds both
    * lineages, overlap via left-semi join, zeros kept from the query
    * list, ≤ NumQueries rows materialized eagerly so the cache releases
    * deterministically.
    */
  def knnRecallLsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v")).persist()
    try {
      val brute = knnBruteFrom(e).select(col("query_id"), col("neighbor_id"))
      val lsh = knnLshFrom(e)
        .select(col("query_id").as("qi"), col("neighbor_id").as("ni"))
      detached(s, recallAtK(brute, lsh, queryIds(e)))
    } finally e.unpersist(false)
  }

  /** Maximum-inner-product top-k via the norm-augmentation reduction
    * (Bachrach et al., RecSys'14): append sqrt(M² − |x|²) to each corpus
    * vector (M = max corpus norm, a 1-row aggregate broadcast as a
    * scalar) and 0 to each query — then cosine on the augmented vectors
    * is ip/(M·|q|), strictly monotone in the inner product per query, so
    * COSINE-metric infrastructure (the LSH/IVF index family here) serves
    * IP-metric retrieval (recommender/retrieval scoring with
    * unnormalized embeddings) unchanged. Ranked through the augmented
    * cosine on purpose — the query exercises the reduction, and the
    * oracle replays the identical construction. Corpus side: one scan +
    * broadcast of the 1-row max, pure projection, no shuffle.
    */
  def embMips(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
    val m = e.agg(max(sqrt(dot(col("v"), col("v")))).as("mx"))
    val corpus = e.crossJoin(broadcast(m))
      .select(col("vec_id").as("neighbor_id"), col("v").as("cv"),
        // greatest(..., 0): mx*mx − dot can round a hair negative for
        // the max-norm row itself; both engines clamp identically
        concat(col("v"), array(sqrt(greatest(
          col("mx") * col("mx") - dot(col("v"), col("v")), lit(0.0))))).as("ca"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        concat(col("v"), array(lit(0.0))).as("qa"))
    val w = Window.partitionBy("query_id").orderBy(col("mips_score").desc, col("neighbor_id"))
    corpus.join(broadcast(queries), col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("qa"), col("ca")), 6).as("mips_score"),
        round(dot(col("qv"), col("cv")), 6).as("ip"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= K)
      .orderBy("query_id", "rnk")
  }

  // ---- Product quantization --------------------------------------------

  private val PqM = 8      // subspaces
  private val PqSubDim = 8 // dims per subspace (PqM * PqSubDim = 64)
  private val PqK = 16     // codes per subspace

  /** Squared L2 via the dot identity — dot(a,a) - 2·dot(a,b) + dot(b,b) —
    * NOT Σ(a-b)²: DuckDB's `list_dot_product` runs the identical
    * element-order accumulation, so oracle doubles match bit-for-bit
    * before the output rounding (the same trick cosSql relies on).
    */
  private def l2sq(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** Per-(vector, subspace) code assignment as a pure projection against
    * driver-resident centroid literals — the PQ analog of
    * [[assignListsProjection]]: subvector and distance array each staged
    * once behind a Generate barrier, argmin = array_position of the min
    * (first hit == lowest code id on ties). Output: vec_id, sub, sv,
    * code, dist. cent(sub) must be sorted by code id.
    */
  private def assignPqProjection(
      e: DataFrame, cent: Map[Int, Seq[(Int, Seq[Double])]]): DataFrame = {
    val centsLit = nestedArrayLit(
      (0 until PqM).map(s0 => cent(s0).map(_._2)), DoubleArr2T)
    val codesLit = nestedArrayLit(
      (0 until PqM).map(s0 => cent(s0).map(_._1)),
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false))
    val subbed = graft.functions.PipelineFunctions.stageBarrier(
      e.select(col("vec_id"),
        explode(sequence(lit(0), lit(PqM - 1))).as("sub"), col("v")),
      Seq(col("vec_id"), col("sub")),
      "sv" -> slice(col("v"), col("sub") * PqSubDim + 1, lit(PqSubDim)))
    val staged = graft.functions.PipelineFunctions.stageBarrier(
      subbed, Seq(col("vec_id"), col("sub"), col("sv")),
      "dists" -> transform(element_at(centsLit, col("sub") + 1), c => l2sq(col("sv"), c)))
    staged.select(col("vec_id"), col("sub"), col("sv"),
      element_at(element_at(codesLit, col("sub") + 1),
        coalesce(array_position(col("dists"), array_min(col("dists"))), lit(1L)).cast("int"))
        .as("code"),
      array_min(col("dists")).as("dist"))
  }

  /** Per-vector PQ code ARRAY (no explode): codes[s] = argmin-L2 code of
    * subvector s against `cent(s)` — one array expression, so the corpus
    * side of IVF-PQ stays a pure projection. Position→code mapping uses
    * the same sorted-by-code order as [[assignPqProjection]].
    */
  private def pqCodesArray(v: Column, cent: Map[Int, Seq[(Int, Seq[Double])]]): Column = {
    // UNROLLED, no higher-order functions (r18): transform/aggregate are
    // CodegenFallback — the former nested-transform form evaluated all
    // PqM·PqK l2sq kernels INTERPRETED per corpus row (~1.6 s for the
    // IVF-PQ corpus projection at sf0.1). Concrete per-sub/per-code
    // expressions stay inside whole-stage codegen; subexpression
    // elimination shares each sub's slice, and the centroid operands are
    // plan literals whose self-dot constant-folds.
    array((0 until PqM).map { s0 =>
      val sv = slice(v, s0 * PqSubDim + 1, PqSubDim)
      val dists = array(cent(s0).map { case (_, cv) =>
        l2sq(sv, nestedArrayLit(cv, org.apache.spark.sql.types.DoubleType))
      }: _*)
      val codesLit = array(cent(s0).map { case (c, _) => lit(c) }: _*)
      element_at(codesLit,
        coalesce(array_position(dists, array_min(dists)), lit(1L)).cast("int"))
    }: _*)
  }

  // (adcDist's inline Σ_s L2²(q_sub_s, codebook[s][codes[s]]) fold moved
  // into ivfPqAdcFrom as a staged per-query ADC lookup table — r18; the
  // ascending-sub left-fold accumulation order is preserved there.)

  /** Shared PQ codebook learning (seeds = first PqK vectors' subvectors,
    * one Lloyd step) — the eager control-plane half of [[embPq]]/
    * [[knnIvfPq]]. Caller persists `e`.
    */
  private def pqCodebook(e: DataFrame): Map[Int, Seq[(Int, Seq[Double])]] = {
    val seedRows = e.filter(col("vec_id") < PqK)
      .select(col("vec_id").cast("int"), col("v")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).sortBy(_._1).toSeq
    val seeds: Map[Int, Seq[(Int, Seq[Double])]] =
      (0 until PqM).map(s0 => s0 -> seedRows.map { case (id, v) =>
        id -> v.slice(s0 * PqSubDim, (s0 + 1) * PqSubDim) }).toMap
    assignPqProjection(e, seeds)
      .select(col("sub"), col("code"), posexplode(col("sv")).as(Seq("i", "x")))
      .groupBy("sub", "code", "i").agg(avg("x").as("m"))
      .groupBy("sub", "code").agg(
        transform(array_sort(collect_list(struct(col("i"), col("m")))),
          t => t.getField("m")).as("cv"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
      .groupBy(_._1).view.mapValues(_.map(t => t._2 -> t._3).sortBy(_._1).toSeq).toMap
  }

  /** Product quantization: split each 64-dim vector into 8 subvectors,
    * learn a 16-entry codebook per subspace (seeds = the first 16
    * vectors' subvectors, one Lloyd step), emit each vector's code and
    * squared reconstruction error per subspace. THE memory-compression
    * layer of production ANN (IVF-PQ): 64 doubles → 8 bytes. Same scale
    * shape as [[knnIvfKmeans]]: codebooks are control-plane literals
    * (PqM × PqK × PqSubDim doubles), every assignment is a shuffle-free
    * projection, the only exchange is the bounded codebook-mean
    * aggregation (≤ PqM·PqK·PqSubDim cells); at real scale the Lloyd
    * step runs on a sample exactly like kmeansCentroids.
    */
  def embPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v"))
    e.persist() // released after the (eager) codebook collects
    val c1 =
      try pqCodebook(e)
      finally e.unpersist(false)
    assignPqProjection(e, c1)
      .select(col("vec_id"), col("sub"), col("code"),
        round(col("dist"), 6).as("err"))
      .orderBy("vec_id", "sub")
  }

  /** IVF-PQ top-k: the full production ANN search — learned coarse
    * quantizer (Lloyd lists, [[kmeansCentroids]]) restricts each query to
    * NProbe lists; candidates are ranked by ADC against PQ codes instead
    * of raw vectors. The corpus representation the search touches is
    * (list_id, codes[8]) — at 100 TB that is the difference between
    * scanning 8-byte codes and 512-byte vectors. Plan shape: corpus side
    * is a pure projection (lists + codes against plan literals, no
    * shuffle); probe set broadcast; one rank window on query_id.
    * Deterministic end to end, so oracle-checked like knn_ivf_kmeans.
    */
  def knnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v"))
    e.persist() // released after the eager Lloyd + codebook collects
    try knnIvfPqFrom(e) finally e.unpersist(false)
  }

  /** Plan builder over a caller-managed corpus projection (the eager
    * Lloyd/codebook collects read `e`; persist around this call when the
    * corpus feeds other lineages too, e.g. [[knnRecallPq]]).
    */
  /** The full ADC candidate relation (query, neighbor, asymmetric
    * distance) of the IVF-PQ search — shared by [[knnIvfPqFrom]] (top-K
    * cut) and [[knnPqRerank]] (depth-d candidate generator).
    */
  private def ivfPqAdcFrom(e: DataFrame): DataFrame = {
    val NProbe = 2
    // the coarse quantizer's Lloyd chain and the PQ codebook chain are
    // INDEPENDENT control-plane job sequences over the same persisted
    // corpus — overlap them (guide §2.6; r18 phase diag: construct is
    // the whole cost of the PQ recall queries, exec is milliseconds)
    val Seq(listsA, codebookA) =
      graft.functions.ScaleFunctions.inParallel[Int, Any](Seq(0, 1)) {
        case 0 => kmeansCentroids(e, nLists = 8, iters = 2)
        case _ => pqCodebook(e)
      }
    val lists = listsA.asInstanceOf[Seq[(Int, Seq[Double])]]
    val codebook = codebookA.asInstanceOf[Map[Int, Seq[(Int, Seq[Double])]]]
    val corpus = assignListsProjection(e, lists)
      .select(col("vec_id").as("neighbor_id"), col("list_id"),
        pqCodesArray(col("v"), codebook).as("codes"))
    val queries = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val wProbe = Window.partitionBy("query_id").orderBy(col("ccos").desc, col("list_id"))
    // ADC LOOKUP TABLE (r18 — the distance-table form every PQ paper
    // ships): per PROBED QUERY ROW (|queries|·NProbe rows, broadcast),
    // stage dist(q_sub_s, codebook[s][c]) for every (s, c) once; each
    // candidate row then sums PqM array lookups instead of re-running
    // PqM l2sq kernels. Term values and the ascending-sub left fold are
    // unchanged, so the doubles are bit-identical to the inline form.
    val dtab = array((0 until PqM).map { s0 =>
      val m = codebook(s0).toMap
      array((0 until PqK).map { c =>
        l2sq(slice(col("qv"), s0 * PqSubDim + 1, PqSubDim),
          nestedArrayLit(m.getOrElse(c, Seq.fill(PqSubDim)(0.0)),
            org.apache.spark.sql.types.DoubleType))
      }: _*)
    }: _*)
    val probed = queries.join(broadcast(centRelation(e, lists)), lit(true))
      .select(col("query_id"), col("qv"), col("list_id"),
        cosine(col("qv"), col("cv")).as("ccos"))
      .withColumn("prnk", row_number().over(wProbe))
      .filter(col("prnk") <= NProbe)
      .select(col("query_id"), col("list_id"), dtab.as("dtab"))
    val adist = (0 until PqM).map(s0 =>
      element_at(element_at(col("dtab"), s0 + 1), element_at(col("codes"), s0 + 1) + 1))
      .foldLeft(lit(0.0))(_ + _)
    broadcast(probed).join(corpus, "list_id")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), adist.as("adist"))
  }

  private def knnIvfPqFrom(e: DataFrame): DataFrame = {
    val wK = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id"))
    ivfPqAdcFrom(e)
      .withColumn("rnk", row_number().over(wK))
      .filter(col("rnk") <= K)
      .select(col("query_id"), col("neighbor_id"), round(col("adist"), 6).as("adist"), col("rnk"))
      .orderBy("query_id", "rnk")
  }

  /** IVF-PQ two-stage search — the rerank closure the PQ recall dial
    * (knn_recall_pq) prescribes, completing the family with the trunc
    * and binary closures: stage 1 ranks candidates by 8-byte ADC codes
    * (the compressed index IS the candidate generator), stage 2 reranks
    * the top-d with exact full-precision cosine, recall@K per candidate
    * depth d. Because the rerank uses the ground truth's own rank key,
    * recall@K(d) equals candidate-set recall exactly — each curve point
    * measures how well ADC ordering concentrates true neighbors. Stage
    * shape: candidates come from the probed lists only (the IVF scan
    * bound), the rerank is candidate-sized, and the raw-vector corpus is
    * touched only to fetch the ≤d rerank rows per query — the
    * memory-hierarchy story of a PQ deployment (codes in RAM, raw
    * vectors fetched per candidate).
    */
  def knnPqRerank(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("v")).persist()
    try {
      val wA = Window.partitionBy("query_id").orderBy(col("adist").asc, col("neighbor_id"))
      val cand = ivfPqAdcFrom(e).withColumn("rnk", row_number().over(wA))
      // bounded: one (cand_k, recall) row per rerank depth
      detached(s, rerankRecallCurve(s, e, cand))
    } finally e.unpersist(false)
  }

  /** Maximal marginal relevance (MMR) — diversity-aware top-k selection
    * over the embedding column: greedily pick k=8 vectors maximizing
    * λ·sim(query, c) − (1−λ)·max_{s∈selected} sim(c, s) with λ=0.7, the
    * Carbonell–Goldstein re-ranking a retrieval or training-data
    * selection pass runs so the kept set COVERS the neighborhood instead
    * of stacking near-duplicates of the single best match. Architecture
    * for scale: the only corpus-sized work is the candidate-pool
    * extraction — a broadcast-query cosine projection into
    * TakeOrderedAndProject (top-N=32 by relevance; at 100 TB this is the
    * same one-pass scan shape as knn_brute, or any ANN variant's output
    * plugs in unchanged). The greedy itself is control-plane by
    * construction: the pool is ≤N rows BY THE PLAN (a user dial, like
    * nprobe), so its pairwise-sim matrix and the k passes are O(N²+kN)
    * on N-bounded data — collected once, like the k-means centroid and
    * PQ codebook control planes. Pairwise sims are computed by the same
    * native cosine kernel as the relevance leg (a self-join of the
    * collected pool re-parallelized locally), so both engines' greedy
    * walks identical 1e-6-quantized scores; ties break on vec_id.
    */
  def embMmr(s: SparkSession, dir: String): DataFrame = {
    // mu is spelled 0.3, NOT 1-lam: 1-0.7 is 0.30000000000000004 in
    // binary, and the oracle's literal 0.3 is not — the greedy argmax
    // must walk bit-identical scores in both engines
    val n = 32; val k = 8; val lam = 0.7; val mu = 0.3
    val e = emb(s, dir)
    val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
    val pool = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("id"), round(cosine(col("qv"), col("v")), 6).as("rel"),
        col("v"))
      .orderBy(col("rel").desc, col("id")).limit(n)
    // one corpus-side job: the N-bounded pool (ids, relevances, vectors)
    val rows = pool.collect()
    val ids = rows.map(_.getLong(0))
    val rel = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // pairwise sims via the SAME codegen kernel, over a local N-row frame
    import s.implicits._
    val local = s.createDataset(rows.map(r =>
      (r.getLong(0), r.getSeq[Double](2))).toSeq).toDF("id", "v")
    val sims = local.select(col("id").as("ia"), col("v").as("va"))
      .join(local.select(col("id").as("ib"), col("v").as("vb")), col("ia") =!= col("ib"))
      .select(col("ia"), col("ib"), round(cosine(col("va"), col("vb")), 6).as("sim"))
      // bounded: N(N-1) sims over the <= 32-row MMR pool
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // greedy over the N-bounded pool: k passes, O(kN) score updates
    val selected = collection.mutable.ArrayBuffer[(Long, Double, Double, Double)]()
    val remaining = collection.mutable.LinkedHashSet(ids: _*)
    while (selected.size < k && remaining.nonEmpty) {
      val scored = remaining.iterator.map { c =>
        val red =
          if (selected.isEmpty) 0.0
          else selected.iterator.map(sl => sims((c, sl._1))).max
        (c, rel(c), red, lam * rel(c) - mu * red)
      }
      val pick = scored.minBy { case (id0, _, _, sc) => (-sc, id0) }
      selected += pick
      remaining -= pick._1
    }
    val round6 = (x: Double) =>
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    selected.zipWithIndex.map { case ((id0, r0, red0, sc0), i) =>
      ((i + 1).toLong, id0, r0, round6(red0), round6(sc0))
    }.toSeq.toDF("step", "vec_id", "rel", "redundancy", "mmr_score")
      .orderBy("step")
  }

  /** Greedy k-center / farthest-point sampling — the coreset selector:
    * starting from a deterministic seed (vec_id 0), repeatedly pick the
    * vector FARTHEST (cosine distance, 1e-6-quantized) from everything
    * already selected. Each pick's min-distance IS the k-center coverage
    * radius before that pick, so the output is the radius-vs-k
    * convergence curve a coreset budget decision reads. Where
    * [[embMmr]] diversifies WITHIN a query's neighborhood (pool-bounded
    * control plane), this spans the WHOLE corpus, so the greedy stays
    * distributed: each of the k−1 rounds is one corpus scan — the
    * selected vectors enter the plan as k×dim literal arrays (the IVF
    * centroid pattern), min-distance is a `least` projection, and the
    * argmax is TakeOrderedAndProject — no shuffle, no corpus collect,
    * one row back per round (the BPE-argmax control-plane shape). At
    * 100 TB: k linear passes, each embarrassingly parallel; the known
    * refinement (carrying each row's running min-distance in a
    * persisted column to make rounds O(1) in k) trades a cache for the
    * recompute and keeps the same scan bound.
    */
  def embKcenter(s: SparkSession, dir: String): DataFrame = {
    val k = 8
    val e = emb(s, dir).select(col("vec_id"), col("v"))
    val seedV = e.filter(col("vec_id") === 0).select("v")
      .collect()(0).getSeq[Double](0)
    val selected = collection.mutable.ArrayBuffer[(Long, Seq[Double], Double)](
      (0L, seedV, 0.0))
    var exhausted = false // corpus smaller than k: stop with the shorter
    while (selected.size < k && !exhausted) { // curve, like the oracle's
      val dcols = selected.map { case (_, sv, _) => // CTE running dry
        round(lit(1.0) - cosine(col("v"), array(sv.map(lit): _*)), 6)
      }.toSeq
      val mind = if (dcols.size == 1) dcols.head else least(dcols: _*)
      e.filter(!col("vec_id").isin(selected.map(_._1).toSeq: _*))
        .select(col("vec_id"), col("v"), mind.as("min_dist"))
        .orderBy(col("min_dist").desc, col("vec_id")).limit(1)
        .collect().headOption match {
          case Some(p) =>
            selected += ((p.getLong(0), p.getSeq[Double](1), p.getDouble(2)))
          case None => exhausted = true
        }
    }
    import s.implicits._
    selected.zipWithIndex.map { case ((id0, _, d0), i) =>
      ((i + 1).toLong, id0, d0)
    }.toSeq.toDF("step", "vec_id", "min_dist").orderBy("step")
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_brute" -> knnBrute,
    "emb_mmr" -> embMmr,
    "emb_kcenter" -> embKcenter,
    "knn_ivf" -> knnIvf,
    "knn_ivf_kmeans" -> knnIvfKmeans,
    "knn_ivf_incremental" -> knnIvfIncremental,
    "knn_ivf_incremental_recall" -> knnIvfIncrementalRecall,
    "knn_recall" -> knnRecall,
    "emb_centroid_dist" -> embCentroidDist,
    "emb_outliers" -> embOutliers,
    "emb_silhouette" -> embSilhouette,
    "emb_kmeans_elbow" -> embKmeansElbow,
    "emb_neardup" -> embNeardup,
    "emb_lsh_buckets" -> embLshBuckets,
    "knn_lsh" -> knnLsh,
    "knn_recall_lsh" -> knnRecallLsh,
    "knn_lsh_sweep" -> knnLshSweep,
    "emb_mips" -> embMips,
    "emb_quantize" -> embQuantize,
    "emb_pq" -> embPq,
    "knn_ivf_pq" -> knnIvfPq,
    "knn_recall_pq" -> knnRecallPq,
    "knn_pq_rerank" -> knnPqRerank,
    "knn_recall_trunc" -> knnRecallTrunc,
    "knn_trunc_rerank" -> knnTruncRerank,
    "knn_recall_sweep" -> knnRecallSweep,
    "knn_recall_vs_k" -> knnRecallVsK,
    "knn_filtered" -> knnFiltered,
    "knn_recall_binary" -> knnRecallBinary,
    "knn_binary_rerank" -> knnBinaryRerank,
    "emb_ivf_balance" -> embIvfBalance,
    "dedup_semantic" -> dedupSemantic,
    "dedup_semantic_sweep" -> dedupSemanticSweep,
    "emb_whiten" -> embWhiten,
    "emb_cov" -> embCov,
    "emb_pca1" -> embPca1,
    "emb_drift" -> embDrift)

  private val cosSql =
    "list_dot_product(%s, %s) / (sqrt(list_dot_product(%s, %s)) * sqrt(list_dot_product(%s, %s)))"

  /** Shared WITH-chain for the IVF-PQ oracles, through the `adc` CTE:
    * knn_ivf_kmeans's coarse-quantizer CTEs (c0..c2, af) + emb_pq's
    * codebook CTEs (p0..p1, paf) + probe/candidates/ADC. ADC terms are
    * summed via list_sum over an ORDER BY sub list — the same
    * ascending-sub left fold as the Spark aggregate().
    */
  private lazy val ivfPqCteSql: String = {
    val d = "list_dot_product(%s, %s)"
    def l2(a: String, b: String) =
      s"${d.format(a, a)} - 2*${d.format(a, b)} + ${d.format(b, b)}"
    def assignCte(centCte: String): String =
      s"""SELECT vec_id, v, list_id FROM (
         |    SELECT e.vec_id, e.v, c.list_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${cosSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} DESC, c.list_id) AS rnk
         |    FROM e CROSS JOIN $centCte c) WHERE rnk = 1""".stripMargin
    def meanCte(assignCte: String): String =
      s"""SELECT list_id, list(m ORDER BY i) AS cv FROM (
         |    SELECT list_id, CAST(i AS INT) AS i, avg(v[i]) AS m
         |    FROM $assignCte CROSS JOIN range(1, 65) r(i)
         |    GROUP BY list_id, i) GROUP BY list_id""".stripMargin
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |c0 AS (SELECT CAST(vec_id AS INT) AS list_id, v AS cv FROM e WHERE vec_id < 8),
       |a1 AS (${assignCte("c0")}),
       |c1 AS (${meanCte("a1")}),
       |a2 AS (${assignCte("c1")}),
       |c2 AS (${meanCte("a2")}),
       |af AS (${assignCte("c2")}),
       |sub AS (SELECT vec_id, CAST(s AS INT) AS sub,
       |               v[CAST(s*$PqSubDim+1 AS INT) : CAST(s*$PqSubDim+$PqSubDim AS INT)] AS sv
       |        FROM e CROSS JOIN range($PqM) r(s)),
       |p0 AS (SELECT sub, CAST(vec_id AS INT) AS code, sv AS cv FROM sub WHERE vec_id < $PqK),
       |pa1 AS (SELECT vec_id, sub, sv, code FROM (
       |  SELECT s2.vec_id, s2.sub, s2.sv, c.code,
       |         row_number() OVER (PARTITION BY s2.vec_id, s2.sub
       |           ORDER BY ${l2("s2.sv", "c.cv")}, c.code) AS rnk
       |  FROM sub s2 JOIN p0 c ON c.sub = s2.sub) WHERE rnk = 1),
       |p1 AS (SELECT sub, code, list(m ORDER BY i) AS cv FROM (
       |  SELECT sub, code, CAST(i AS INT) AS i, avg(sv[i]) AS m
       |  FROM pa1 CROSS JOIN range(1, ${PqSubDim + 1}) r(i)
       |  GROUP BY sub, code, i) GROUP BY sub, code),
       |paf AS (SELECT vec_id, sub, code FROM (
       |  SELECT s2.vec_id, s2.sub, c.code,
       |         row_number() OVER (PARTITION BY s2.vec_id, s2.sub
       |           ORDER BY ${l2("s2.sv", "c.cv")}, c.code) AS rnk
       |  FROM sub s2 JOIN p1 c ON c.sub = s2.sub) WHERE rnk = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
       |qsub AS (SELECT query_id, CAST(s AS INT) AS sub,
       |                qv[CAST(s*$PqSubDim+1 AS INT) : CAST(s*$PqSubDim+$PqSubDim AS INT)] AS qsv
       |         FROM q CROSS JOIN range($PqM) r(s)),
       |probe AS (
       |  SELECT query_id, list_id,
       |         row_number() OVER (PARTITION BY query_id
       |           ORDER BY ${cosSql.format("qv", "cv", "qv", "qv", "cv", "cv")} DESC, list_id) AS prnk
       |  FROM q CROSS JOIN c2),
       |sel AS (SELECT query_id, list_id FROM probe WHERE prnk <= 2),
       |cand AS (SELECT sel.query_id, af.vec_id AS neighbor_id
       |         FROM sel JOIN af ON af.list_id = sel.list_id AND af.vec_id <> sel.query_id),
       |terms AS (SELECT cand.query_id, cand.neighbor_id, paf.sub,
       |                 ${l2("qsub.qsv", "p1.cv")} AS term
       |          FROM cand
       |          JOIN paf ON paf.vec_id = cand.neighbor_id
       |          JOIN p1 ON p1.sub = paf.sub AND p1.code = paf.code
       |          JOIN qsub ON qsub.query_id = cand.query_id AND qsub.sub = paf.sub),
       |adc AS (SELECT query_id, neighbor_id, list_sum(list(term ORDER BY sub)) AS adist
       |        FROM terms GROUP BY query_id, neighbor_id)""".stripMargin
  }

  /** Per-k Lloyd chain for the elbow oracle — the ivfPqCteSql coarse-
    * quantizer chain (seeds → assign → mean → assign → mean → final
    * assign) with k-suffixed CTE names so three k values coexist in one
    * WITH clause.
    */
  private def elbowChain(k: Int): String = {
    val x = s"_$k"
    def assignCte(centCte: String): String =
      s"""SELECT vec_id, v, list_id FROM (
         |    SELECT e.vec_id, e.v, c.list_id,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${cosSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} DESC, c.list_id) AS rnk
         |    FROM e CROSS JOIN $centCte c) WHERE rnk = 1""".stripMargin
    def meanCte(aCte: String): String =
      s"""SELECT list_id, list(m ORDER BY i) AS cv FROM (
         |    SELECT list_id, CAST(i AS INT) AS i, avg(v[i]) AS m
         |    FROM $aCte CROSS JOIN range(1, 65) r(i)
         |    GROUP BY list_id, i) GROUP BY list_id""".stripMargin
    s"""c0$x AS (SELECT CAST(vec_id AS INT) AS list_id, v AS cv FROM e WHERE vec_id < $k),
       |a1$x AS (${assignCte(s"c0$x")}),
       |c1$x AS (${meanCte(s"a1$x")}),
       |a2$x AS (${assignCte(s"c1$x")}),
       |c2$x AS (${meanCte(s"a2$x")}),
       |af$x AS (${assignCte(s"c2$x")}),
       |b$x AS (SELECT af.list_id,
       |               sum(1.0 - ${cosSql.format("af.v", "c.cv", "af.v", "af.v", "c.cv", "c.cv")}) AS di,
       |               CAST(count(*) AS BIGINT) AS ni
       |        FROM af$x af JOIN c2$x c ON c.list_id = af.list_id
       |        GROUP BY af.list_id),
       |s$x AS (SELECT CAST($k AS INT) AS k, sum(di) AS inertia,
       |               CAST(max(ni) AS DOUBLE) / sum(ni) AS max_list_frac FROM b$x)""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    // the same deterministic Lloyd chain as knn_ivf_kmeans replayed at
    // k=2/4/8; per-list inertia partials ride the gate's rtol, shares
    // are exact integer ratios
    "emb_kmeans_elbow" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |${elbowChain(2)},
         |${elbowChain(4)},
         |${elbowChain(8)}
         |SELECT * FROM s_2 UNION ALL SELECT * FROM s_4 UNION ALL SELECT * FROM s_8
         |ORDER BY k""".stripMargin,
    // mirrors embPq exactly: 8 subspaces × 16 codes, seeds = first 16
    // vectors' subvectors, one Lloyd step (argmin L2 via the dot
    // identity — same accumulation order as the Spark kernel — ties to
    // lowest code, elementwise-mean recompute), final assignment
    "emb_pq" -> {
      val d = "list_dot_product(%s, %s)"
      def l2(a: String, b: String) =
        s"${d.format(a, a)} - 2*${d.format(a, b)} + ${d.format(b, b)}"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sub AS (SELECT vec_id, CAST(s AS INT) AS sub,
         |               v[CAST(s*$PqSubDim+1 AS INT) : CAST(s*$PqSubDim+$PqSubDim AS INT)] AS sv
         |        FROM e CROSS JOIN range($PqM) r(s)),
         |c0 AS (SELECT sub, CAST(vec_id AS INT) AS code, sv AS cv FROM sub WHERE vec_id < $PqK),
         |a1 AS (SELECT vec_id, sub, sv, code FROM (
         |  SELECT s2.vec_id, s2.sub, s2.sv, c.code,
         |         row_number() OVER (PARTITION BY s2.vec_id, s2.sub
         |           ORDER BY ${l2("s2.sv", "c.cv")}, c.code) AS rnk
         |  FROM sub s2 JOIN c0 c ON c.sub = s2.sub) WHERE rnk = 1),
         |c1 AS (SELECT sub, code, list(m ORDER BY i) AS cv FROM (
         |  SELECT sub, code, CAST(i AS INT) AS i, avg(sv[i]) AS m
         |  FROM a1 CROSS JOIN range(1, ${PqSubDim + 1}) r(i)
         |  GROUP BY sub, code, i) GROUP BY sub, code)
         |SELECT vec_id, sub, code, err FROM (
         |  SELECT s2.vec_id, s2.sub, c.code,
         |         round(${l2("s2.sv", "c.cv")}, 6) AS err,
         |         row_number() OVER (PARTITION BY s2.vec_id, s2.sub
         |           ORDER BY ${l2("s2.sv", "c.cv")}, c.code) AS rnk
         |  FROM sub s2 JOIN c1 c ON c.sub = s2.sub) WHERE rnk = 1
         |ORDER BY vec_id, sub""".stripMargin
    },
    // composes the knn_ivf_kmeans coarse CTEs with the emb_pq codebook
    // CTEs (ivfPqCteSql)
    "knn_ivf_pq" ->
      s"""WITH $ivfPqCteSql
         |SELECT query_id, neighbor_id, round(adist, 6) AS adist, rnk FROM (
         |  SELECT query_id, neighbor_id, adist,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY adist, neighbor_id) AS rnk
         |  FROM adc) WHERE rnk <= $K ORDER BY query_id, rnk""".stripMargin,
    // the adc relation ranked to depth d, exact-cosine rerank points —
    // knn_trunc_rerank's oracle shape on the PQ candidate generator
    "knn_pq_rerank" -> {
      def point(d: Int): String =
        s"""SELECT $d AS cand_k,
           |       CAST((SELECT count(*)
           |             FROM brute b JOIN (
           |               SELECT query_id, neighbor_id FROM (
           |                 SELECT c.query_id, c.neighbor_id,
           |                        row_number() OVER (PARTITION BY c.query_id
           |                          ORDER BY round(${cosSql.format("q.qv", "e.v", "q.qv", "q.qv", "e.v", "e.v")}, 6) DESC,
           |                                   c.neighbor_id) AS rnk
           |                 FROM cnd c JOIN e ON e.vec_id = c.neighbor_id
           |                            JOIN q ON q.query_id = c.query_id
           |                 WHERE c.rnk <= $d) WHERE rnk <= $K) i
           |               ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id)
           |            AS DOUBLE) / ${NumQueries * K}.0 AS recall""".stripMargin
      s"""WITH $ivfPqCteSql,
         |cnd AS MATERIALIZED (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY adist, neighbor_id) AS rnk
         |  FROM adc),
         |bpairs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |brute AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM bpairs)
         |  WHERE rnk <= $K)
         |${Seq(50, 100, 200).map(point).mkString("\nUNION ALL\n")}
         |ORDER BY cand_k""".stripMargin
    },
    // the IVF-PQ top-k as a CTE vs the exact brute top-k (knn_recall's
    // composition shape)
    "knn_recall_pq" ->
      s"""WITH $ivfPqCteSql,
         |pqk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY adist, neighbor_id) AS rnk
         |  FROM adc) WHERE rnk <= $K),
         |bpairs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM bpairs)
         |  WHERE rnk <= $K),
         |hits AS (SELECT b.query_id, count(*) AS n_hit
         |         FROM brute b JOIN pqk p
         |           ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
         |         GROUP BY b.query_id)
         |SELECT q.query_id, round(coalesce(n_hit, 0) / $K.0, 6) AS recall
         |FROM (SELECT vec_id AS query_id FROM e WHERE vec_id < $NumQueries) q
         |LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin,
    "emb_quantize" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
        |                  list_min(CAST(embedding AS DOUBLE[])) AS mn,
        |                  list_max(CAST(embedding AS DOUBLE[])) AS mx
        |           FROM embeddings)
        |SELECT vec_id, mn, mx,
        |  list_sum(list_transform(v, x ->
        |    CASE WHEN mx = mn THEN 0.0
        |         ELSE abs(x - (mn + (floor((x - mn) * 255.0 / (mx - mn)) + 0.5)
        |                            * (mx - mn) / 255.0)) END))
        |        / len(v) AS mean_abs_err
        |FROM e ORDER BY vec_id""".stripMargin,
    "knn_brute" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |pairs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id)
         |SELECT query_id, neighbor_id, cos, rnk FROM (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM pairs)
         |WHERE rnk <= $K ORDER BY query_id, rnk""".stripMargin,
    // the same greedy, as a recursive CTE carrying the selected-id list;
    // argmax per step via LATERAL ORDER BY sc DESC, id LIMIT 1 over the
    // pool minus selected — identical 1e-6-quantized scores, same id
    // tie-break. CAST(0.0 AS DOUBLE) in the base case: a bare 0.0 types
    // the recursive column DECIMAL(2,1) and silently quantizes every
    // later redundancy.
    "emb_mmr" ->
      s"""WITH RECURSIVE
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |rel AS (SELECT e.vec_id AS id, round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS rel, v
         |        FROM e CROSS JOIN q WHERE e.vec_id <> 0
         |        ORDER BY rel DESC, id LIMIT 32),
         |sims AS (SELECT a.id AS ia, b.id AS ib, round(${cosSql.format("a.v", "b.v", "a.v", "a.v", "b.v", "b.v")}, 6) AS sim
         |         FROM rel a JOIN rel b ON a.id <> b.id),
         |base AS (SELECT id, rel FROM rel ORDER BY rel DESC, id LIMIT 1),
         |sel(step, id, rel, redundancy, mmr_score, sel_list) AS (
         |  SELECT 1, id, rel, CAST(0.0 AS DOUBLE), 0.7 * rel, [id] FROM base
         |  UNION ALL
         |  SELECT s.step + 1, p.id, p.rel, p.red, p.sc, list_append(s.sel_list, p.id)
         |  FROM sel s, LATERAL (
         |    SELECT id, rel, red, 0.7 * rel - 0.3 * red AS sc FROM (
         |      SELECT r.id, r.rel,
         |             coalesce((SELECT max(sim) FROM sims
         |                       WHERE sims.ia = r.id AND list_contains(s.sel_list, sims.ib)),
         |                      CAST(0.0 AS DOUBLE)) AS red
         |      FROM rel r WHERE NOT list_contains(s.sel_list, r.id))
         |    ORDER BY sc DESC, id LIMIT 1) p
         |  WHERE s.step < 8
         |)
         |SELECT CAST(step AS BIGINT) AS step, id AS vec_id, rel,
         |       round(redundancy, 6) AS redundancy, round(mmr_score, 6) AS mmr_score
         |FROM sel ORDER BY step""".stripMargin,
    // the same greedy FPS walk; min-dist per candidate computed on the
    // fly against the selected-id list's vectors (corpus × |selected|
    // cosines per step — bounded at sf, and the Spark side's scan shape)
    "emb_kcenter" ->
      s"""WITH RECURSIVE
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |sel(step, id, min_dist, sel_ids) AS (
         |  SELECT 1, CAST(0 AS BIGINT), CAST(0.0 AS DOUBLE), [CAST(0 AS BIGINT)]
         |  UNION ALL
         |  SELECT s.step + 1, p.id, p.md, list_append(s.sel_ids, p.id)
         |  FROM sel s, LATERAL (
         |    SELECT r.vec_id AS id,
         |           (SELECT min(round(1 - ${cosSql.format("r.v", "t.v", "r.v", "r.v", "t.v", "t.v")}, 6)) FROM e t
         |            WHERE list_contains(s.sel_ids, t.vec_id)) AS md
         |    FROM e r WHERE NOT list_contains(s.sel_ids, r.vec_id)
         |    ORDER BY md DESC, r.vec_id LIMIT 1) p
         |  WHERE s.step < 8)
         |SELECT CAST(step AS BIGINT) AS step, id AS vec_id, min_dist
         |FROM sel ORDER BY step""".stripMargin,
    "emb_centroid_dist" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT vec_id, label, CAST(i AS INT) AS i, v[i] AS x
         |       FROM e CROSS JOIN range(1, 65) r(i)),
         |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY i) AS cv FROM cm GROUP BY label)
         |SELECT vec_id, e.label,
         |       round(${cosSql.format("v", "cv", "v", "v", "cv", "cv")}, 6) AS cos_to_centroid
         |FROM e JOIN cent ON e.label = cent.label
         |ORDER BY vec_id""".stripMargin,
    // the emb_centroid_dist chain feeding a per-label z-score screen;
    // z unrounded under the gate's rtol, cut at -3 like pipe_anomaly
    "emb_outliers" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT vec_id, label, CAST(i AS INT) AS i, v[i] AS x
         |       FROM e CROSS JOIN range(1, 65) r(i)),
         |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY i) AS cv FROM cm GROUP BY label),
         |d AS (SELECT vec_id, e.label,
         |             round(${cosSql.format("v", "cv", "v", "v", "cv", "cv")}, 6) AS cos_to_centroid
         |      FROM e JOIN cent ON e.label = cent.label),
         |st AS (SELECT label, avg(cos_to_centroid) AS m,
         |              stddev_pop(cos_to_centroid) AS sd
         |       FROM d GROUP BY label)
         |SELECT vec_id, d.label, cos_to_centroid,
         |       (cos_to_centroid - m) / (CASE WHEN sd = 0 THEN 1.0 ELSE sd END) AS z
         |FROM d JOIN st ON d.label = st.label
         |WHERE (cos_to_centroid - m) / (CASE WHEN sd = 0 THEN 1.0 ELSE sd END) <= -3.0
         |ORDER BY vec_id""".stripMargin,
    // centroid-based silhouette: a = dist to own centroid, b = min dist
    // to other centroids, s = (b-a)/max(a,b); mean_sil unrounded under
    // the gate's rtol (addition order differs across engines)
    "emb_silhouette" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT vec_id, label, CAST(i AS INT) AS i, v[i] AS x
         |       FROM e CROSS JOIN range(1, 65) r(i)),
         |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
         |cent AS (SELECT label AS clabel, list(m ORDER BY i) AS cv FROM cm GROUP BY clabel),
         |d AS (SELECT e.vec_id, e.label, clabel,
         |             1.0 - ${cosSql.format("v", "cv", "v", "v", "cv", "cv")} AS dist
         |      FROM e CROSS JOIN cent),
         |p AS (SELECT vec_id, label,
         |             min(CASE WHEN clabel = label THEN dist END) AS a,
         |             min(CASE WHEN clabel <> label THEN dist END) AS b
         |      FROM d GROUP BY vec_id, label),
         |sil AS (SELECT label, (b - a) / greatest(a, b) AS sil FROM p)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs, avg(sil) AS mean_sil,
         |       CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative
         |FROM sil GROUP BY label
         |ORDER BY label""".stripMargin,
    // brute and IVF top-10 joined once, each K point a conditional count
    "knn_recall_vs_k" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT vec_id, label, CAST(i AS INT) AS i, v[i] AS x
         |       FROM e CROSS JOIN range(1, 65) r(i)),
         |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY i) AS cv FROM cm GROUP BY label),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |bp AS (SELECT query_id, e.vec_id AS neighbor_id,
         |              round(${cosSql.format("qv", "e.v", "qv", "qv", "e.v", "e.v")}, 6) AS cos
         |       FROM q JOIN e ON e.vec_id <> q.query_id),
         |brute AS (SELECT query_id, neighbor_id, rnk AS brnk FROM (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM bp) WHERE rnk <= $K),
         |probe AS (
         |  SELECT query_id, qv, label,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY ${cosSql.format("qv", "cv", "qv", "qv", "cv", "cv")} DESC, label) AS prnk
         |  FROM q CROSS JOIN cent),
         |sel AS (SELECT query_id, qv, label FROM probe WHERE prnk <= 2),
         |ip AS (SELECT sel.query_id, e.vec_id AS neighbor_id,
         |              round(${cosSql.format("qv", "e.v", "qv", "qv", "e.v", "e.v")}, 6) AS cos
         |       FROM sel JOIN e ON e.label = sel.label AND e.vec_id <> sel.query_id),
         |ivf AS (SELECT query_id, neighbor_id, rnk AS irnk FROM (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM ip) WHERE rnk <= $K),
         |j AS (SELECT brnk, irnk FROM brute JOIN ivf USING (query_id, neighbor_id))
         |SELECT 1 AS k,
         |       coalesce(sum(CASE WHEN brnk <= 1 AND irnk <= 1 THEN 1 END), 0)
         |         / ${NumQueries * 1}.0 AS recall FROM j
         |UNION ALL
         |SELECT 5, coalesce(sum(CASE WHEN brnk <= 5 AND irnk <= 5 THEN 1 END), 0)
         |          / ${NumQueries * 5}.0 FROM j
         |UNION ALL
         |SELECT 10, coalesce(sum(CASE WHEN brnk <= 10 AND irnk <= 10 THEN 1 END), 0)
         |           / ${NumQueries * 10}.0 FROM j
         |ORDER BY k""".stripMargin,
    // post-filtered IVF probe vs filtered brute ground truth per nprobe;
    // ranks on round(cos, 6) + id tiebreak on both engines, recall and
    // candidate counts are exact integers
    "knn_filtered" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT vec_id, label, CAST(i AS INT) AS i, v[i] AS x
         |       FROM e CROSS JOIN range(1, 65) r(i)),
         |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY i) AS cv FROM cm GROUP BY label),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |allowed AS (SELECT vec_id, label, v FROM e WHERE vec_id % $FilterMod = 0),
         |gt AS (SELECT query_id, neighbor_id FROM (
         |  SELECT q.query_id, a.vec_id AS neighbor_id,
         |         row_number() OVER (PARTITION BY q.query_id
         |           ORDER BY round(${cosSql.format("q.qv", "a.v", "q.qv", "q.qv", "a.v", "a.v")}, 6) DESC,
         |                    a.vec_id) AS rnk
         |  FROM q CROSS JOIN allowed a WHERE a.vec_id <> q.query_id) WHERE rnk <= $K),
         |probe AS (SELECT query_id, label,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY round(${cosSql.format("qv", "cv", "qv", "qv", "cv", "cv")}, 6) DESC,
         |                    label) AS prnk
         |  FROM q CROSS JOIN cent),
         |ps AS (SELECT CAST(p AS INT) AS p FROM (VALUES (1), (2), (4)) t(p)),
         |cand AS (SELECT ps.p, pr.query_id, a.vec_id AS neighbor_id,
         |                round(${cosSql.format("q.qv", "a.v", "q.qv", "q.qv", "a.v", "a.v")}, 6) AS c
         |  FROM ps JOIN probe pr ON pr.prnk <= ps.p
         |  JOIN allowed a ON a.label = pr.label
         |  JOIN q ON q.query_id = pr.query_id
         |  WHERE a.vec_id <> pr.query_id),
         |ranked AS (SELECT p, query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY p, query_id ORDER BY c DESC, neighbor_id) AS rnk
         |  FROM cand),
         |topk AS (SELECT p, query_id, neighbor_id FROM ranked WHERE rnk <= $K),
         |hits AS (SELECT p, count(*) AS n_hit FROM topk
         |         JOIN gt USING (query_id, neighbor_id) GROUP BY p),
         |nc AS (SELECT p, CAST(count(*) AS BIGINT) AS n_cand FROM cand GROUP BY p)
         |SELECT ps.p AS nprobe, coalesce(nc.n_cand, 0) AS n_cand,
         |       coalesce(hits.n_hit, 0) / ${NumQueries * K}.0 AS recall
         |FROM ps LEFT JOIN nc ON nc.p = ps.p LEFT JOIN hits ON hits.p = ps.p
         |ORDER BY nprobe""".stripMargin,
    "knn_ivf" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT vec_id, label, CAST(i AS INT) AS i, v[i] AS x
         |       FROM e CROSS JOIN range(1, 65) r(i)),
         |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY i) AS cv FROM cm GROUP BY label),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |probe AS (
         |  SELECT query_id, qv, label,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY ${cosSql.format("qv", "cv", "qv", "qv", "cv", "cv")} DESC, label) AS prnk
         |  FROM q CROSS JOIN cent),
         |sel AS (SELECT query_id, qv, label FROM probe WHERE prnk <= 2),
         |pairs AS (
         |  SELECT sel.query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "e.v", "qv", "qv", "e.v", "e.v")}, 6) AS cos
         |  FROM sel JOIN e ON e.label = sel.label AND e.vec_id <> sel.query_id)
         |SELECT query_id, neighbor_id, cos, rnk FROM (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM pairs)
         |WHERE rnk <= $K ORDER BY query_id, rnk""".stripMargin,
    // mirrors knnIvfKmeans exactly: seeds = vec_id < 8, two Lloyd
    // iterations (assignment = argmax cosine, ties to lowest list id —
    // expressed as the same row_number window the knn_ivf oracle uses;
    // recompute = elementwise mean), final assignment over all data,
    // then the knn_ivf probe/top-k shape against the learned lists
    "knn_ivf_kmeans" -> {
      def assignCte(centCte: String): String =
        s"""SELECT vec_id, v, list_id FROM (
           |    SELECT e.vec_id, e.v, c.list_id,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${cosSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} DESC, c.list_id) AS rnk
           |    FROM e CROSS JOIN $centCte c) WHERE rnk = 1""".stripMargin
      def meanCte(assignCte: String): String =
        s"""SELECT list_id, list(m ORDER BY i) AS cv FROM (
           |    SELECT list_id, CAST(i AS INT) AS i, avg(v[i]) AS m
           |    FROM $assignCte CROSS JOIN range(1, 65) r(i)
           |    GROUP BY list_id, i) GROUP BY list_id""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS INT) AS list_id, v AS cv FROM e WHERE vec_id < 8),
         |a1 AS (${assignCte("c0")}),
         |c1 AS (${meanCte("a1")}),
         |a2 AS (${assignCte("c1")}),
         |c2 AS (${meanCte("a2")}),
         |af AS (${assignCte("c2")}),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |probe AS (
         |  SELECT query_id, qv, list_id,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY ${cosSql.format("qv", "cv", "qv", "qv", "cv", "cv")} DESC, list_id) AS prnk
         |  FROM q CROSS JOIN c2),
         |sel AS (SELECT query_id, qv, list_id FROM probe WHERE prnk <= 2),
         |pairs AS (
         |  SELECT sel.query_id, af.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "af.v", "qv", "qv", "af.v", "af.v")}, 6) AS cos
         |  FROM sel JOIN af ON af.list_id = sel.list_id AND af.vec_id <> sel.query_id)
         |SELECT query_id, neighbor_id, cos, rnk FROM (
         |  SELECT query_id, neighbor_id, cos,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM pairs)
         |WHERE rnk <= $K ORDER BY query_id, rnk""".stripMargin
    },
    // mirrors knnIvfIncremental: quantizer trained on the OLD (vec_id %
    // 10 <> 9) corpus with the same seed/assign/mean chain as
    // knn_ivf_kmeans, batch assignment keeping its argmax cosine, then
    // list stats + the emb_drift-style standardized mean shift vs the
    // old-corpus reference stats
    "knn_ivf_incremental" -> {
      def assignCte(src: String, centCte: String): String =
        s"""SELECT vec_id, v, list_id FROM (
           |    SELECT e.vec_id, e.v, c.list_id,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${cosSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} DESC, c.list_id) AS rnk
           |    FROM $src e CROSS JOIN $centCte c) WHERE rnk = 1""".stripMargin
      def meanCte(assignCte: String): String =
        s"""SELECT list_id, list(m ORDER BY i) AS cv FROM (
           |    SELECT list_id, CAST(i AS INT) AS i, avg(v[i]) AS m
           |    FROM $assignCte CROSS JOIN range(1, 65) r(i)
           |    GROUP BY list_id, i) GROUP BY list_id""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |eo AS MATERIALIZED (SELECT * FROM e WHERE vec_id % 10 <> 9),
         |eb AS MATERIALIZED (SELECT * FROM e WHERE vec_id % 10 = 9),
         |c0 AS (SELECT CAST(vec_id AS INT) AS list_id, v AS cv FROM eo WHERE vec_id < 8),
         |a1 AS (${assignCte("eo", "c0")}),
         |c1 AS MATERIALIZED (${meanCte("a1")}),
         |a2 AS (${assignCte("eo", "c1")}),
         |c2 AS MATERIALIZED (${meanCte("a2")}),
         |ab AS MATERIALIZED (
         |  SELECT vec_id, list_id, ccos FROM (
         |    SELECT e.vec_id, c.list_id,
         |           ${cosSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} AS ccos,
         |           row_number() OVER (PARTITION BY e.vec_id
         |             ORDER BY ${cosSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} DESC, c.list_id) AS rnk
         |    FROM eb e CROSS JOIN c2 c) WHERE rnk = 1),
         |ls AS (SELECT list_id, count(*) AS n_new, round(avg(ccos), 6) AS avg_cos
         |       FROM ab GROUP BY list_id),
         |so AS (SELECT CAST(i AS INT) AS i, avg(v[CAST(i + 1 AS INT)]) AS m,
         |              stddev_pop(v[CAST(i + 1 AS INT)]) AS sd
         |       FROM eo CROSS JOIN range(64) r(i) GROUP BY i),
         |sb AS (SELECT CAST(i AS INT) AS i, avg(v[CAST(i + 1 AS INT)]) AS m,
         |              stddev_pop(v[CAST(i + 1 AS INT)]) AS sd
         |       FROM eb CROSS JOIN range(64) r(i) GROUP BY i),
         |dr AS (SELECT round(max(abs(sb.m - so.m) /
         |                        sqrt((so.sd * so.sd + sb.sd * sb.sd) / 2)), 6)
         |               AS max_dim_drift
         |       FROM so JOIN sb USING (i))
         |SELECT list_id, n_new, avg_cos, max_dim_drift,
         |       max_dim_drift > $DriftThreshold AS retrain
         |FROM ls CROSS JOIN dr ORDER BY list_id""".stripMargin
    },
    // mirrors embDrift: parity halves, per-dimension Welford stats,
    // unrounded under atol
    "emb_drift" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |ex AS (SELECT vec_id % 2 = 0 AS is_old, CAST(i AS INT) AS i,
        |              v[CAST(i + 1 AS INT)] AS x
        |       FROM e CROSS JOIN range(64) r(i)),
        |st AS (SELECT is_old, i, avg(x) AS m, stddev_pop(x) AS sd
        |       FROM ex GROUP BY is_old, i)
        |SELECT o.i, o.m AS m_old, n.m AS m_new,
        |       abs(n.m - o.m) / sqrt((o.sd * o.sd + n.sd * n.sd) / 2) AS drift
        |FROM st o JOIN st n ON o.i = n.i AND o.is_old AND NOT n.is_old
        |ORDER BY o.i""".stripMargin,
    // the Spark side's driver powerIteration replayed as generated CTEs:
    // same unrounded centered covariance, same 0.125 start, same 20
    // normalize-per-step iterations, same first-nonzero sign rule; the
    // projection is emitted unrounded so the ~1e-13 cross-engine drift
    // stays continuous (inside atol) instead of quantization-jumping
    "emb_pca1" -> {
      // MATERIALIZED is load-bearing: each v_k is referenced twice by
      // v_{k+1} (value + norm), so inlining expands the chain 2^k times —
      // at k=20 DuckDB re-opens the parquet a million times
      def iterCte(k: Int): String =
        s"""w$k AS MATERIALIZED (SELECT c.i AS i, sum(c.cov * p.x) AS w
           |        FROM cov c JOIN v${k - 1} p ON c.j = p.i GROUP BY c.i),
           |v$k AS MATERIALIZED (SELECT i, w / (SELECT sqrt(sum(w * w)) FROM w$k) AS x FROM w$k)""".stripMargin
      val iters = (1 to PcaIters).map(iterCte).mkString(",\n")
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |mean AS MATERIALIZED (
         |  SELECT CAST(i AS INT) AS i, avg(v[CAST(i + 1 AS INT)]) AS m
         |  FROM e CROSS JOIN range(64) r(i) GROUP BY i),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
         |cov AS MATERIALIZED (
         |  SELECT a.i AS i, b.i AS j,
         |         sum((v[a.i + 1] - a.m) * (v[b.i + 1] - b.m))
         |           / (SELECT n FROM n) AS cov
         |  FROM e CROSS JOIN mean a CROSS JOIN mean b
         |  GROUP BY a.i, b.i),
         |v0 AS (SELECT i, CAST(0.125 AS DOUBLE) AS x FROM mean),
         |$iters,
         |lv AS (SELECT x FROM v$PcaIters WHERE abs(x) > 1e-12 ORDER BY i LIMIT 1),
         |pc AS (SELECT i, CASE WHEN (SELECT x FROM lv) < 0 THEN -x ELSE x END AS x
         |       FROM v$PcaIters)
         |SELECT e.vec_id, sum((e.v[mean.i + 1] - mean.m) * pc.x) AS pc1
         |FROM e CROSS JOIN mean JOIN pc ON mean.i = pc.i
         |GROUP BY e.vec_id ORDER BY e.vec_id""".stripMargin
    },
    // centered two-pass like the Spark side: the one-pass E[xy]-E[x]E[y]
    // form cancels catastrophically (near-zero covariances) and its
    // partition-order float sum diverges from DuckDB's past round(.,6)
    "emb_cov" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |mean AS (
        |  SELECT CAST(i AS INT) AS i, avg(v[CAST(i + 1 AS INT)]) AS m
        |  FROM e CROSS JOIN range(64) r(i) GROUP BY i),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e)
        |SELECT i, j, CASE WHEN cov = 0 THEN 0.0 ELSE cov END AS cov
        |FROM (
        |  SELECT a.i AS i, b.i AS j,
        |         round(sum((v[a.i + 1] - a.m) * (v[b.i + 1] - b.m))
        |               / (SELECT n FROM n), 6) AS cov
        |  FROM e CROSS JOIN mean a CROSS JOIN mean b
        |  GROUP BY a.i, b.i)
        |ORDER BY i, j""".stripMargin,
    "emb_whiten" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(i - 1 AS INT) AS i, CAST(embedding AS DOUBLE[])[i] AS x
        |  FROM embeddings CROSS JOIN range(1, 65) r(i)),
        |st AS (SELECT i, avg(x) AS m, stddev_pop(x) AS sd FROM ex GROUP BY i)
        |SELECT vec_id, ex.i,
        |       round((x - m) / (CASE WHEN sd = 0 THEN 1.0 ELSE sd END), 6) AS z
        |FROM ex JOIN st ON ex.i = st.i
        |ORDER BY vec_id, ex.i""".stripMargin,
    // mirrors dedupSemantic: the knn_ivf_kmeans coarse CTE chain, then a
    // within-list self-join on rounded cosine with keep-first drops
    "dedup_semantic" -> {
      def assignCte(centCte: String): String =
        s"""SELECT vec_id, v, list_id FROM (
           |    SELECT e.vec_id, e.v, c.list_id,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${cosSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} DESC, c.list_id) AS rnk
           |    FROM e CROSS JOIN $centCte c) WHERE rnk = 1""".stripMargin
      def meanCte(assignCte: String): String =
        s"""SELECT list_id, list(m ORDER BY i) AS cv FROM (
           |    SELECT list_id, CAST(i AS INT) AS i, avg(v[i]) AS m
           |    FROM $assignCte CROSS JOIN range(1, 65) r(i)
           |    GROUP BY list_id, i) GROUP BY list_id""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS INT) AS list_id, v AS cv FROM e WHERE vec_id < 8),
         |a1 AS (${assignCte("c0")}),
         |c1 AS (${meanCte("a1")}),
         |a2 AS (${assignCte("c1")}),
         |c2 AS (${meanCte("a2")}),
         |af AS (${assignCte("c2")}),
         |dup AS (
         |  SELECT DISTINCT b.vec_id AS id_b
         |  FROM af a JOIN af b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
         |  WHERE round(${cosSql.format("a.v", "b.v", "a.v", "a.v", "b.v", "b.v")}, 6) >= 0.4)
         |SELECT af.vec_id, af.list_id, dup.id_b IS NULL AS keep
         |FROM af LEFT JOIN dup ON af.vec_id = dup.id_b
         |ORDER BY af.vec_id""".stripMargin
    },
    // knn_recall_lsh's chain with a band-carrying candidate relation;
    // per point t: distinct band<t candidates, exact rerank, hit count
    "knn_lsh_sweep" -> {
      def point(t: Int): String =
        s"""SELECT $t AS n_tables,
           |       CAST((SELECT count(*)
           |             FROM brute b JOIN (
           |               SELECT query_id, neighbor_id FROM (
           |                 SELECT c.query_id, c.neighbor_id,
           |                        row_number() OVER (PARTITION BY c.query_id
           |                          ORDER BY round(${cosSql.format("eq.v", "ec.v", "eq.v", "eq.v", "ec.v", "ec.v")}, 6) DESC,
           |                                   c.neighbor_id) AS rnk
           |                 FROM (SELECT DISTINCT query_id, neighbor_id
           |                       FROM candb WHERE cband < $t) c
           |                 JOIN e eq ON eq.vec_id = c.query_id
           |                 JOIN e ec ON ec.vec_id = c.neighbor_id) WHERE rnk <= $K) i
           |               ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id)
           |            AS DOUBLE) / ${NumQueries * K}.0 AS recall""".stripMargin
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (
         |  SELECT CAST(j AS INT) AS j,
         |         [CAST('0x' || substr(md5('p' || CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)
         |               AS BIGINT) / 4294967296.0 - 0.5
         |          for i in range(0, 64)] AS pv
         |  FROM range(0, 16) r(j)),
         |sig AS (
         |  SELECT vec_id,
         |         CAST(sum(CASE WHEN list_dot_product(v, pv) > 0
         |                       THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS s
         |  FROM e CROSS JOIN planes GROUP BY vec_id),
         |bands AS (
         |  SELECT vec_id, band, (s >> CAST(band * 4 AS INT)) % 16 AS bucket
         |  FROM sig CROSS JOIN range(0, 4) rb(band)),
         |candb AS MATERIALIZED (
         |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id, b.band AS cband
         |  FROM bands b JOIN bands q
         |    ON b.band = q.band AND b.bucket = q.bucket
         |  WHERE q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |bpairs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |brute AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM bpairs)
         |  WHERE rnk <= $K)
         |${(1 to 4).map(point).mkString("\nUNION ALL\n")}
         |ORDER BY n_tables""".stripMargin
    },
    // the kmeans chain TRAINED on the old 90% (a1/a2 assign eo), final
    // assignment over the full corpus, batch-vector queries, probe top-2
    // lists, exact rerank, recall vs full-corpus brute
    "knn_ivf_incremental_recall" -> {
      def assignCte(src: String, centCte: String): String =
        s"""SELECT vec_id, v, list_id FROM (
           |    SELECT e.vec_id, e.v, c.list_id,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${cosSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} DESC, c.list_id) AS rnk
           |    FROM $src e CROSS JOIN $centCte c) WHERE rnk = 1""".stripMargin
      def meanCte(assignCte: String): String =
        s"""SELECT list_id, list(m ORDER BY i) AS cv FROM (
           |    SELECT list_id, CAST(i AS INT) AS i, avg(v[i]) AS m
           |    FROM $assignCte CROSS JOIN range(1, 65) r(i)
           |    GROUP BY list_id, i) GROUP BY list_id""".stripMargin
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |eo AS (SELECT * FROM e WHERE vec_id % 10 <> 9),
         |c0 AS (SELECT CAST(vec_id AS INT) AS list_id, v AS cv FROM eo WHERE vec_id < 8),
         |a1 AS (${assignCte("eo", "c0")}),
         |c1 AS (${meanCte("a1")}),
         |a2 AS (${assignCte("eo", "c1")}),
         |c2 AS MATERIALIZED (${meanCte("a2")}),
         |af AS MATERIALIZED (${assignCte("e", "c2")}),
         |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
         |     WHERE vec_id % 10 = 9 AND vec_id < ${10 * NumQueries}),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, e.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) DESC,
         |                      e.vec_id) AS rnk
         |    FROM q JOIN e ON e.vec_id <> q.query_id)
         |  WHERE rnk <= $K),
         |probe AS (
         |  SELECT query_id, qv, list_id FROM (
         |    SELECT q.query_id, q.qv, c.list_id,
         |           row_number() OVER (PARTITION BY q.query_id
         |             ORDER BY round(${cosSql.format("q.qv", "c.cv", "q.qv", "q.qv", "c.cv", "c.cv")}, 6) DESC, c.list_id) AS prnk
         |    FROM q CROSS JOIN c2 c)
         |  WHERE prnk <= 2),
         |ivf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT p.query_id, a.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY p.query_id
         |             ORDER BY round(${cosSql.format("p.qv", "a.v", "p.qv", "p.qv", "a.v", "a.v")}, 6) DESC,
         |                      a.vec_id) AS rnk
         |    FROM probe p JOIN af a ON a.list_id = p.list_id AND a.vec_id <> p.query_id)
         |  WHERE rnk <= $K),
         |hits AS (SELECT b.query_id, count(*) AS n_hit
         |         FROM brute b JOIN ivf i
         |           ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |         GROUP BY b.query_id)
         |SELECT q.query_id, round(coalesce(n_hit, 0) / $K.0, 6) AS recall
         |FROM q LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin
    },
    // the dedup_semantic kmeans chain, ONE pass of the within-list pair
    // relation with per-threshold conditional aggregates, 3-row UNION
    "dedup_semantic_sweep" -> {
      def assignCte(centCte: String): String =
        s"""SELECT vec_id, v, list_id FROM (
           |    SELECT e.vec_id, e.v, c.list_id,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${cosSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} DESC, c.list_id) AS rnk
           |    FROM e CROSS JOIN $centCte c) WHERE rnk = 1""".stripMargin
      def meanCte(assignCte: String): String =
        s"""SELECT list_id, list(m ORDER BY i) AS cv FROM (
           |    SELECT list_id, CAST(i AS INT) AS i, avg(v[i]) AS m
           |    FROM $assignCte CROSS JOIN range(1, 65) r(i)
           |    GROUP BY list_id, i) GROUP BY list_id""".stripMargin
      def pointSql(n: String, t: Double): String =
        s"""SELECT CAST($t AS DOUBLE) AS cos_min, p$n AS n_pairs, d$n AS n_dropped,
           |       round(CAST(n_vec - d$n AS DOUBLE) / CAST(n_vec AS DOUBLE), 6) AS kept_frac
           |FROM ag CROSS JOIN nv""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS INT) AS list_id, v AS cv FROM e WHERE vec_id < 8),
         |a1 AS (${assignCte("c0")}),
         |c1 AS (${meanCte("a1")}),
         |a2 AS (${assignCte("c1")}),
         |c2 AS (${meanCte("a2")}),
         |af AS MATERIALIZED (${assignCte("c2")}),
         |pr AS (
         |  SELECT b.vec_id AS id_b,
         |         round(${cosSql.format("a.v", "b.v", "a.v", "a.v", "b.v", "b.v")}, 6) AS cos
         |  FROM af a JOIN af b ON a.list_id = b.list_id AND a.vec_id < b.vec_id),
         |nv AS (SELECT CAST(count(*) AS BIGINT) AS n_vec FROM af),
         |ag AS (SELECT
         |  CAST(coalesce(sum(CASE WHEN cos >= 0.4 THEN 1 END), 0) AS BIGINT) AS p04,
         |  CAST(count(DISTINCT CASE WHEN cos >= 0.4 THEN id_b END) AS BIGINT) AS d04,
         |  CAST(coalesce(sum(CASE WHEN cos >= 0.6 THEN 1 END), 0) AS BIGINT) AS p06,
         |  CAST(count(DISTINCT CASE WHEN cos >= 0.6 THEN id_b END) AS BIGINT) AS d06,
         |  CAST(coalesce(sum(CASE WHEN cos >= 0.8 THEN 1 END), 0) AS BIGINT) AS p08,
         |  CAST(count(DISTINCT CASE WHEN cos >= 0.8 THEN id_b END) AS BIGINT) AS d08
         | FROM pr)
         |${Seq("04" -> 0.4, "06" -> 0.6, "08" -> 0.8).map { case (n, t) => pointSql(n, t) }.mkString("\nUNION ALL\n")}
         |ORDER BY cos_min""".stripMargin
    },
    // sign-bit fingerprints via the mm_phash disjoint-power sum (63 bits
    // keeps the BIGINT positive), integer Hamming ranks, knn_recall's
    // overlap shape
    "knn_recall_binary" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |bpairs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM bpairs)
         |  WHERE rnk <= $K),
         |fps AS (
         |  SELECT vec_id,
         |    CAST(list_sum(list_transform(range(0, 63), i ->
         |      CASE WHEN v[CAST(i AS INT) + 1] > 0.0
         |           THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS fp
         |  FROM e),
         |qf AS (SELECT vec_id AS query_id, fp AS qfp FROM fps WHERE vec_id < $NumQueries),
         |bin AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT qf.query_id, fps.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY qf.query_id
         |             ORDER BY bit_count(xor(fps.fp, qf.qfp)), fps.vec_id) AS rnk
         |    FROM qf JOIN fps ON fps.vec_id <> qf.query_id)
         |  WHERE rnk <= $K),
         |hits AS (SELECT b.query_id, count(*) AS n_hit
         |         FROM brute b JOIN bin i
         |           ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
         |         GROUP BY b.query_id)
         |SELECT q.query_id, round(coalesce(n_hit, 0) / $K.0, 6) AS recall
         |FROM (SELECT vec_id AS query_id FROM e WHERE vec_id < $NumQueries) q
         |LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin,
    // knn_recall's chain with the probe depth swept 1..SweepMaxProbe:
    // shared MATERIALIZED ground truth + a prnk-carrying candidate
    // relation; each sweep point re-ranks the prnk<=p subset
    "knn_recall_sweep" -> {
      def point(p: Int): String =
        s"""SELECT $p AS nprobe,
           |       CAST((SELECT count(*)
           |             FROM brute b JOIN (
           |               SELECT query_id, neighbor_id FROM (
           |                 SELECT query_id, neighbor_id,
           |                        row_number() OVER (PARTITION BY query_id
           |                          ORDER BY cos DESC, neighbor_id) AS rnk
           |                 FROM cand WHERE prnk <= $p) WHERE rnk <= $K) i
           |               ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id)
           |            AS DOUBLE) / ${NumQueries * K}.0 AS recall""".stripMargin
      s"""WITH e AS MATERIALIZED (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT vec_id, label, CAST(i AS INT) AS i, v[i] AS x
         |       FROM e CROSS JOIN range(1, 65) r(i)),
         |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
         |cent AS MATERIALIZED (SELECT label, list(m ORDER BY i) AS cv FROM cm GROUP BY label),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |bpairs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |brute AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM bpairs)
         |  WHERE rnk <= $K),
         |probe AS (
         |  SELECT query_id, qv, label,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY ${cosSql.format("qv", "cv", "qv", "qv", "cv", "cv")} DESC, label) AS prnk
         |  FROM q CROSS JOIN cent),
         |cand AS MATERIALIZED (
         |  SELECT p.query_id, p.prnk, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("p.qv", "e.v", "p.qv", "p.qv", "e.v", "e.v")}, 6) AS cos
         |  FROM probe p JOIN e ON e.label = p.label AND e.vec_id <> p.query_id
         |  WHERE p.prnk <= $SweepMaxProbe)
         |${(1 to SweepMaxProbe).map(point).mkString("\nUNION ALL\n")}
         |ORDER BY nprobe""".stripMargin
    },
    // brute top-k over the TruncDim-prefix slice vs full-width brute
    // top-k — knn_recall's composition shape with the truncated side a
    // pure v[1:TruncDim] slice
    "knn_recall_trunc" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |bpairs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM bpairs)
         |  WHERE rnk <= $K),
         |es AS (SELECT vec_id, v[1:$TruncDim] AS sv FROM e),
         |qs AS (SELECT vec_id AS query_id, v[1:$TruncDim] AS qsv FROM e
         |       WHERE vec_id < $NumQueries),
         |tpairs AS (
         |  SELECT query_id, es.vec_id AS neighbor_id,
         |         round(${cosSql.format("qsv", "sv", "qsv", "qsv", "sv", "sv")}, 6) AS cos
         |  FROM qs JOIN es ON es.vec_id <> qs.query_id),
         |trunc AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM tpairs)
         |  WHERE rnk <= $K),
         |hits AS (SELECT b.query_id, count(*) AS n_hit
         |         FROM brute b JOIN trunc t
         |           ON t.query_id = b.query_id AND t.neighbor_id = b.neighbor_id
         |         GROUP BY b.query_id)
         |SELECT q.query_id, round(coalesce(n_hit, 0) / $K.0, 6) AS recall
         |FROM (SELECT vec_id AS query_id FROM e WHERE vec_id < $NumQueries) q
         |LEFT JOIN hits USING (query_id)
         |ORDER BY query_id""".stripMargin,
    // knn_recall_trunc's chain with a rnk-carrying candidate relation
    // (depth <= max RerankDepths) and, per depth point, a full-width
    // exact rerank over the rnk<=d cut before the @K overlap — the
    // knn_recall_sweep UNION ALL shape
    "knn_trunc_rerank" -> {
      def point(d: Int): String =
        s"""SELECT $d AS cand_k,
           |       CAST((SELECT count(*)
           |             FROM brute b JOIN (
           |               SELECT query_id, neighbor_id FROM (
           |                 SELECT c.query_id, c.neighbor_id,
           |                        row_number() OVER (PARTITION BY c.query_id
           |                          ORDER BY round(${cosSql.format("q.qv", "e.v", "q.qv", "q.qv", "e.v", "e.v")}, 6) DESC,
           |                                   c.neighbor_id) AS rnk
           |                 FROM cand c JOIN e ON e.vec_id = c.neighbor_id
           |                             JOIN q ON q.query_id = c.query_id
           |                 WHERE c.rnk <= $d) WHERE rnk <= $K) i
           |               ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id)
           |            AS DOUBLE) / ${NumQueries * K}.0 AS recall""".stripMargin
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |bpairs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |brute AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM bpairs)
         |  WHERE rnk <= $K),
         |es AS (SELECT vec_id, v[1:$TruncDim] AS sv FROM e),
         |qs AS (SELECT vec_id AS query_id, v[1:$TruncDim] AS qsv FROM e
         |       WHERE vec_id < $NumQueries),
         |tpairs AS (
         |  SELECT query_id, es.vec_id AS neighbor_id,
         |         round(${cosSql.format("qsv", "sv", "qsv", "qsv", "sv", "sv")}, 6) AS tcos
         |  FROM qs JOIN es ON es.vec_id <> qs.query_id),
         |cand AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, rnk FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY tcos DESC, neighbor_id) AS rnk
         |    FROM tpairs)
         |  WHERE rnk <= ${RerankDepths.max})
         |${RerankDepths.map(point).mkString("\nUNION ALL\n")}
         |ORDER BY cand_k""".stripMargin
    },
    // knn_recall_binary's chain with a rnk-carrying Hamming candidate
    // relation and the same per-depth full-precision rerank points
    "knn_binary_rerank" -> {
      def point(d: Int): String =
        s"""SELECT $d AS cand_k,
           |       CAST((SELECT count(*)
           |             FROM brute b JOIN (
           |               SELECT query_id, neighbor_id FROM (
           |                 SELECT c.query_id, c.neighbor_id,
           |                        row_number() OVER (PARTITION BY c.query_id
           |                          ORDER BY round(${cosSql.format("q.qv", "e.v", "q.qv", "q.qv", "e.v", "e.v")}, 6) DESC,
           |                                   c.neighbor_id) AS rnk
           |                 FROM cand c JOIN e ON e.vec_id = c.neighbor_id
           |                             JOIN q ON q.query_id = c.query_id
           |                 WHERE c.rnk <= $d) WHERE rnk <= $K) i
           |               ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id)
           |            AS DOUBLE) / ${NumQueries * K}.0 AS recall""".stripMargin
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |bpairs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |brute AS MATERIALIZED (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM bpairs)
         |  WHERE rnk <= $K),
         |fps AS (
         |  SELECT vec_id,
         |    CAST(list_sum(list_transform(range(0, 63), i ->
         |      CASE WHEN v[CAST(i AS INT) + 1] > 0.0
         |           THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END)) AS BIGINT) AS fp
         |  FROM e),
         |qf AS (SELECT vec_id AS query_id, fp AS qfp FROM fps WHERE vec_id < $NumQueries),
         |cand AS MATERIALIZED (
         |  SELECT query_id, neighbor_id, rnk FROM (
         |    SELECT qf.query_id, fps.vec_id AS neighbor_id,
         |           row_number() OVER (PARTITION BY qf.query_id
         |             ORDER BY bit_count(xor(fps.fp, qf.qfp)), fps.vec_id) AS rnk
         |    FROM qf JOIN fps ON fps.vec_id <> qf.query_id)
         |  WHERE rnk <= ${RerankDepths.max})
         |${RerankDepths.map(point).mkString("\nUNION ALL\n")}
         |ORDER BY cand_k""".stripMargin
    },
    // mirrors embIvfBalance: the knn_ivf_kmeans coarse-quantizer chain
    // (seeds = vec_id < 8, two Lloyd rounds, final assignment), then one
    // per-list count with the total as a scalar subquery
    "emb_ivf_balance" -> {
      def assignCte(centCte: String): String =
        s"""SELECT vec_id, v, list_id FROM (
           |    SELECT e.vec_id, e.v, c.list_id,
           |           row_number() OVER (PARTITION BY e.vec_id
           |             ORDER BY ${cosSql.format("e.v", "c.cv", "e.v", "e.v", "c.cv", "c.cv")} DESC, c.list_id) AS rnk
           |    FROM e CROSS JOIN $centCte c) WHERE rnk = 1""".stripMargin
      def meanCte(assignCte: String): String =
        s"""SELECT list_id, list(m ORDER BY i) AS cv FROM (
           |    SELECT list_id, CAST(i AS INT) AS i, avg(v[i]) AS m
           |    FROM $assignCte CROSS JOIN range(1, 65) r(i)
           |    GROUP BY list_id, i) GROUP BY list_id""".stripMargin
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS INT) AS list_id, v AS cv FROM e WHERE vec_id < 8),
         |a1 AS (${assignCte("c0")}),
         |c1 AS (${meanCte("a1")}),
         |a2 AS (${assignCte("c1")}),
         |c2 AS (${meanCte("a2")}),
         |af AS (${assignCte("c2")}),
         |cnt AS (SELECT list_id, count(*) AS n_vecs FROM af GROUP BY list_id)
         |SELECT list_id, CAST(n_vecs AS BIGINT) AS n_vecs,
         |       n_vecs * 8.0 / CAST((SELECT sum(n_vecs) FROM cnt) AS DOUBLE) AS load_factor
         |FROM cnt ORDER BY list_id""".stripMargin
    },
    "knn_recall" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |ex AS (SELECT vec_id, label, CAST(i AS INT) AS i, v[i] AS x
         |       FROM e CROSS JOIN range(1, 65) r(i)),
         |cm AS (SELECT label, i, avg(x) AS m FROM ex GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY i) AS cv FROM cm GROUP BY label),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |bpairs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM bpairs)
         |  WHERE rnk <= $K),
         |probe AS (
         |  SELECT query_id, qv, label,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY ${cosSql.format("qv", "cv", "qv", "qv", "cv", "cv")} DESC, label) AS prnk
         |  FROM q CROSS JOIN cent),
         |sel AS (SELECT query_id, qv, label FROM probe WHERE prnk <= 2),
         |ipairs AS (
         |  SELECT sel.query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "e.v", "qv", "qv", "e.v", "e.v")}, 6) AS cos
         |  FROM sel JOIN e ON e.label = sel.label AND e.vec_id <> sel.query_id),
         |ivf AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM ipairs)
         |  WHERE rnk <= $K),
         |hit AS (
         |  SELECT b.query_id, count(*) AS n
         |  FROM brute b JOIN ivf i
         |    ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         |  GROUP BY b.query_id)
         |SELECT qq.query_id, round(coalesce(hit.n, 0)::DOUBLE / $K, 6) AS recall
         |FROM (SELECT DISTINCT query_id FROM q) qq LEFT JOIN hit USING (query_id)
         |ORDER BY query_id""".stripMargin,
    "emb_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       round(${cosSql.format("a.v", "b.v", "a.v", "a.v", "b.v", "b.v")}, 6) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round(${cosSql.format("a.v", "b.v", "a.v", "a.v", "b.v", "b.v")}, 6) >= 0.99
         |ORDER BY id_a, id_b""".stripMargin,
    "emb_lsh_buckets" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (
         |  SELECT CAST(j AS INT) AS j,
         |         [CAST('0x' || substr(md5('p' || CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)
         |               AS BIGINT) / 4294967296.0 - 0.5
         |          for i in range(0, 64)] AS pv
         |  FROM range(0, 16) r(j)),
         |sig AS (
         |  SELECT vec_id,
         |         CAST(sum(CASE WHEN list_dot_product(v, pv) > 0
         |                       THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS s
         |  FROM e CROSS JOIN planes GROUP BY vec_id)
         |SELECT vec_id, CAST(band AS INT) AS band,
         |       CAST((s >> CAST(band * 4 AS INT)) % 16 AS BIGINT) AS bucket
         |FROM sig CROSS JOIN range(0, 4) rb(band)
         |ORDER BY vec_id, band""".stripMargin,
    "knn_recall_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (
         |  SELECT CAST(j AS INT) AS j,
         |         [CAST('0x' || substr(md5('p' || CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)
         |               AS BIGINT) / 4294967296.0 - 0.5
         |          for i in range(0, 64)] AS pv
         |  FROM range(0, 16) r(j)),
         |sig AS (
         |  SELECT vec_id,
         |         CAST(sum(CASE WHEN list_dot_product(v, pv) > 0
         |                       THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS s
         |  FROM e CROSS JOIN planes GROUP BY vec_id),
         |bands AS (
         |  SELECT vec_id, band, (s >> CAST(band * 4 AS INT)) % 16 AS bucket
         |  FROM sig CROSS JOIN range(0, 4) rb(band)),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM bands b JOIN bands q
         |    ON b.band = q.band AND b.bucket = q.bucket
         |  WHERE q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         round(${cosSql.format("eq.v", "ec.v", "eq.v", "eq.v", "ec.v", "ec.v")}, 6) AS cos
         |  FROM cand c
         |  JOIN e eq ON eq.vec_id = c.query_id
         |  JOIN e ec ON ec.vec_id = c.neighbor_id),
         |lshk AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS rnk
         |  FROM scored) WHERE rnk <= $K),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |bpairs AS (
         |  SELECT query_id, e.vec_id AS neighbor_id,
         |         round(${cosSql.format("qv", "v", "qv", "qv", "v", "v")}, 6) AS cos
         |  FROM q JOIN e ON e.vec_id <> q.query_id),
         |brute AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |           row_number() OVER (PARTITION BY query_id
         |                              ORDER BY cos DESC, neighbor_id) AS rnk
         |    FROM bpairs)
         |  WHERE rnk <= $K),
         |hit AS (
         |  SELECT b.query_id, count(*) AS n
         |  FROM brute b JOIN lshk l
         |    ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
         |  GROUP BY b.query_id)
         |SELECT qq.query_id, round(coalesce(hit.n, 0)::DOUBLE / $K, 6) AS recall
         |FROM (SELECT DISTINCT query_id FROM q) qq LEFT JOIN hit USING (query_id)
         |ORDER BY query_id""".stripMargin,
    "emb_mips" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |m AS (SELECT max(sqrt(list_dot_product(v, v))) AS mx FROM e),
         |c AS (SELECT vec_id AS neighbor_id, v AS cv,
         |             list_append(v, sqrt(greatest(mx * mx - list_dot_product(v, v), 0.0))) AS ca
         |      FROM e CROSS JOIN m),
         |q AS (SELECT vec_id AS query_id, v AS qv, list_append(v, 0.0) AS qa
         |      FROM e WHERE vec_id < $NumQueries),
         |s AS (SELECT query_id, neighbor_id,
         |             round(${cosSql.format("qa", "ca", "qa", "qa", "ca", "ca")}, 6) AS mips_score,
         |             round(list_dot_product(qv, cv), 6) AS ip
         |      FROM q JOIN c ON neighbor_id <> query_id)
         |SELECT query_id, neighbor_id, mips_score, ip, rnk FROM (
         |  SELECT query_id, neighbor_id, mips_score, ip,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |                            ORDER BY mips_score DESC, neighbor_id) AS INT) AS rnk
         |  FROM s)
         |WHERE rnk <= $K ORDER BY query_id, rnk""".stripMargin,
    "knn_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |planes AS (
         |  SELECT CAST(j AS INT) AS j,
         |         [CAST('0x' || substr(md5('p' || CAST(j AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 8)
         |               AS BIGINT) / 4294967296.0 - 0.5
         |          for i in range(0, 64)] AS pv
         |  FROM range(0, 16) r(j)),
         |sig AS (
         |  SELECT vec_id,
         |         CAST(sum(CASE WHEN list_dot_product(v, pv) > 0
         |                       THEN CAST(1 AS BIGINT) << j ELSE 0 END) AS BIGINT) AS s
         |  FROM e CROSS JOIN planes GROUP BY vec_id),
         |bands AS (
         |  SELECT vec_id, band, (s >> CAST(band * 4 AS INT)) % 16 AS bucket
         |  FROM sig CROSS JOIN range(0, 4) rb(band)),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS query_id, b.vec_id AS neighbor_id
         |  FROM bands b JOIN bands q
         |    ON b.band = q.band AND b.bucket = q.bucket
         |  WHERE q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
         |scored AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         round(${cosSql.format("eq.v", "ec.v", "eq.v", "eq.v", "ec.v", "ec.v")}, 6) AS cos
         |  FROM cand c
         |  JOIN e eq ON eq.vec_id = c.query_id
         |  JOIN e ec ON ec.vec_id = c.neighbor_id)
         |SELECT query_id, neighbor_id, cos, rnk FROM (
         |  SELECT query_id, neighbor_id, cos,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |                            ORDER BY cos DESC, neighbor_id) AS INT) AS rnk
         |  FROM scored)
         |WHERE rnk <= $K ORDER BY query_id, rnk""".stripMargin)
}
