package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation building blocks for 100 TB plans. AQE's skew-join
  * splitting handles sort-merge joins automatically; explicit salting is
  * the fallback for the cases AQE can't split (e.g. aggregation hotspots,
  * or hash joins where one key dominates both sides).
  */
object ScaleFunctions {

  /** Hamming-distance pair search over a bit-fingerprint column via
    * block bucketing (Manku, Jain & Sarma, WWW'07): split the `bits`-wide
    * fingerprint into `blocks` disjoint blocks; any two fingerprints
    * within Hamming distance `blocks − 1` share at least one identical
    * block (pigeonhole), so an equi-join on (block_index, block_value)
    * generates every qualifying pair exactly — candidates ∝ n²/2^(bits/
    * blocks) collisions, never n². Pairs are verified with the exact
    * popcount(xor) distance. Shared engine behind dedup_simhash_pairs
    * (SimHash) and mm_phash (dHash); any per-row long fingerprint works.
    *
    * `maxBucket` caps bucket size for candidate generation: the sf10
    * stretch measured the uncapped join's n²/2^blockBits tail going
    * superlinear at ~5×10⁵ rows (SCALE.md third decade) because the
    * largest buckets are low-entropy fingerprint mass that verifies to
    * ~zero pairs. With the cap, candidate volume is bounded by
    * n·maxBucket/2 per block; recall loses only pairs whose EVERY
    * matching block is hot (measured zero loss on this corpus at cap 8,
    * spec-pinned at cap 2 on a constructed hot bucket).
    *
    * @param fps (id, fingerprint) rows; `bits` ≤ 63, blocks | bits
    * @return (id_a, id_b, hamming) with id_a < id_b, hamming ≤ blocks−1
    */
  def hammingPairs(fps: DataFrame, idCol: String, fpCol: String,
      bits: Int, blocks: Int, maxBucket: Int = Int.MaxValue): DataFrame = {
    // bits ≤ 63 keeps the fingerprint in the non-negative half of a long:
    // a sign-extended shiftright on a negative 64-bit fingerprint would
    // produce block values outside [0, 2^blockBits) and void the
    // pigeonhole guarantee (scaladoc contract, now enforced)
    require(bits >= 1 && bits <= 63, s"bits ($bits) must be in [1, 63]")
    require(bits % blocks == 0, s"blocks ($blocks) must divide bits ($bits)")
    require(maxBucket >= 1, s"maxBucket ($maxBucket) must be positive")
    val blockBits = bits / blocks
    val mask = (1L << blockBits) - 1
    // posexplode over a FIXED-LENGTH array of per-block Column expressions:
    // pure Column API (no SQL-string interpolation of the caller's column
    // name), constant literal shift amounts, and InferFiltersFromGenerate's
    // size(...)>0 guard constant-folds on a statically-sized array
    val blockExprs = (0 until blocks).map(b =>
      shiftright(col(fpCol), b * blockBits).bitwiseAND(lit(mask)))
    val allBlocks = fps
      .select(col(idCol), posexplode(array(blockExprs: _*)).as(Seq("block", "bval")))
    // hot-bucket cap: a (block, value) bucket of size s generates s²/2
    // candidates, and past ~corpus-scale the biggest buckets are
    // low-entropy mass (constant regions, empty tails) that verifies to
    // ~zero true pairs — the n²/2^blockBits quadratic tail measured at
    // the sf10 decade (SCALE.md). Buckets above maxBucket are skipped
    // from candidate generation; a true pair is lost ONLY if every block
    // it matches on is hot (priced recall, spec-pinned). The size
    // relation is (block, value)-sized — vocabulary, not corpus.
    val blocksDf =
      if (maxBucket == Int.MaxValue) allBlocks
      else {
        val sizes = allBlocks.groupBy("block", "bval")
          .agg(count(lit(1)).as("g_bsz"))
          .filter(col("g_bsz") <= maxBucket)
        allBlocks.join(sizes, Seq("block", "bval")).drop("g_bsz")
      }
    val cand = blocksDf.as("a")
      .join(blocksDf.as("b"),
        col("a.block") === col("b.block") && col("a.bval") === col("b.bval") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    cand
      .join(fps.select(col(idCol).as("id_a"), col(fpCol).as("fp_a")), "id_a")
      .join(fps.select(col(idCol).as("id_b"), col(fpCol).as("fp_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int").as("hamming"))
      .filter(col("hamming") <= blocks - 1)
  }

  /** Salted equi-join for a skewed fact side: the fact gets a uniform
    * salt in [0, salts); the (small-ish but not broadcastable) build side
    * is replicated once per salt so every (key, salt) pair co-locates.
    * Shuffle volume: fact unchanged, build side x salts — bounded and
    * chosen by the caller. Result is identical to the unsalted join for
    * any salt assignment, so the non-deterministic salt is safe.
    */
  def saltedJoin(fact: DataFrame, build: DataFrame, key: String, salts: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      pmod(hash(monotonically_increasing_id()), lit(salts)))
    val saltedBuild = build.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedFact.join(saltedBuild, Seq(key, "_salt")).drop("_salt")
  }

  /** Connected components of the edge-incident nodes, by iterated
    * min-label propagation with pointer jumping ([[ccLoop]]) — the
    * transitive-closure primitive behind principled dedup (a duplicate
    * CLUSTER keeps exactly one representative, however long the chain
    * a->b->c that links it).
    *
    * `edges` is directed (src, dst) and symmetrized internally. Only
    * nodes in some edge are labelled — the dedup case, where nodes not in
    * any pair are singletons the loop must never carry. The incident node
    * set is derived from the PERSISTED symmetric edge set (distinct src
    * covers both endpoints), so an expensive edge lineage — e.g. the LSH
    * candidate chain — is materialized exactly once. Labels are the
    * component's minimum node id — deterministic.
    */
  def connectedComponentsIncident(edges: DataFrame, maxIters: Int = 25): DataFrame = {
    val sym = symmetrize(edges)
    ccLoop(sym, seedLabels(sym, sym.select(col("src").as("id")).distinct()), maxIters)
  }

  private def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist()

  /** Initial labels = min(self, neighbors): iteration 1's neighbor-min is
    * a plain aggregation when labels are still the identity, so fusing it
    * into the seed skips one full loop round — for pair-dominated dup
    * graphs (the common LSH case) the loop then converges in a single
    * observed-no-change iteration.
    */
  private def seedLabels(sym: DataFrame, nodes: DataFrame): DataFrame = {
    val nbrMin0 = sym.groupBy(col("src").as("id")).agg(min("dst").as("nlbl"))
    nodes.join(nbrMin0, Seq("id"), "left_outer")
      .select(col("id"), least(col("id"), coalesce(col("nlbl"), col("id"))).as("lbl"))
  }

  /** ONE CC iteration (neighbor-min + pointer jump), factored out of
    * [[ccLoop]] so the committed constituent-plan evidence
    * (graft.ConstituentDump → plans/rNN/) dumps the EXACT per-iteration
    * join shapes the loop executes — checkpointing otherwise truncates
    * them out of every published plan (the r16/r17 transparency gap).
    */
  private[graft] def ccStep(sym: DataFrame, labels: DataFrame): DataFrame = {
    // smallest label among each node's neighbors (aggregated BEFORE the
    // join back, so the labels side joins against |V| rows, not |E|)
    val nbrMin = sym.join(labels.withColumnRenamed("id", "src"), "src")
      .groupBy(col("dst").as("id")).agg(min("lbl").as("nlbl"))
    // carry the previous label through the step so convergence is a
    // filter over the (already checkpointed) result — the former
    // separate changed-count join+shuffle per iteration is gone
    val stepped = labels.join(nbrMin, Seq("id"), "left_outer")
      .select(col("id"), col("lbl").as("prev"),
        least(col("lbl"), coalesce(col("nlbl"), col("lbl"))).as("lbl"))
    // pointer jump: lbl <- lbl(lbl); lbl(x) <= x always, so the inner
    // join on stepped's own id set is total
    stepped.as("a")
      .join(stepped.select(col("id").as("p"), col("lbl").as("plbl")).as("b"),
        col("a.lbl") === col("p"))
      .select(col("a.id").as("id"), col("plbl").as("lbl"), col("a.prev").as("prev"))
  }

  /** The CC iteration loop. Scale shape: each iteration is two
    * key-partitioned shuffles over |V|+|E| rows (neighbor-min groupBy,
    * then a self-join that rewrites every label to its label's label).
    * Neighbor-min alone needs O(diameter) rounds; the pointer-jump halves
    * chain depth each round, giving O(log d) total. The loop is
    * control-plane: one count per iteration for convergence, and
    * `localCheckpoint` truncates the lineage so iteration N's plan does
    * not replay iterations 1..N-1 (a real cluster job would use a
    * reliable checkpoint dir instead — localCheckpoint trades
    * executor-loss recovery for speed).
    */
  private def ccLoop(sym: DataFrame, labels0: DataFrame, maxIters: Int): DataFrame = {
    // LAZY checkpoints throughout the loop (r18): the per-iteration
    // convergence count is the materializing action, so each round runs
    // ONE job instead of an eager checkpoint job plus the count
    var labels = labels0.localCheckpoint(false)
    // NOTE (r17): an explicit broadcast of the |V|-sized label sides was
    // A/B-measured SLOWER here (each iteration pays broadcast-build jobs
    // and the blocking collect; AQE already localizes these exchanges at
    // runtime from actual sizes) — the joins stay planner-chosen.
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      val jumped = ccStep(sym, labels).localCheckpoint(false)
      changed = jumped.filter(col("lbl") =!= col("prev")).count()
      labels = jumped.select("id", "lbl")
      iter += 1
    }
    sym.unpersist()
    labels
  }

  /** Run independent driver-composed chains CONCURRENTLY (guide §2.6 —
    * overlap independent jobs so the next chain's tasks back-fill the
    * executor while the current one drains): results return in input
    * order, so determinism is untouched. Spark's scheduler runs the
    * concurrent actions FIFO; cached-block locks dedupe shared persisted
    * inputs across the racing chains.
    */
  def inParallel[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.lengthCompare(1) <= 0) xs.map(f)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(xs.length, 4))
      try {
        import scala.jdk.CollectionConverters._
        pool.invokeAll(xs.map(x => new java.util.concurrent.Callable[B] {
          override def call(): B = f(x)
        }).asJava).asScala.toSeq.map { fut =>
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** Fixed-iteration damped PageRank over a directed edge set (src, dst)
    * — the other canonical iterative graph pass next to
    * [[connectedComponentsIncident]], with the same cost model: per
    * iteration, the |V|-row rank relation (pre-divided by out-degree, so the
    * per-edge division is never re-evaluated |E| times) joins the
    * persisted edge set BROADCAST while |V| fits the broadcast budget —
    * the edge set then never shuffles and the only exchange is the
    * partial-aggregated |V|-row contribution sum; past the budget
    * (|V| > the prBroadcastMaxNodes budget, checked against the loop's own
    * exact node count — a driver-side scalar, not an estimate) the join
    * degrades to the shuffled form, where a cluster that pre-partitions
    * edges by src still shuffles rank rows, never edges. Rank lineage is
    * localCheckpoint-truncated each step like the CC loop, so the
    * returned plan does not grow with `iters`. Output covers nodes
    * with at least one incoming edge; the standard uses (and the
    * graph_pagerank query) symmetrize first, making in/out node sets
    * equal. No dangling-mass redistribution — symmetric graphs have none.
    * Deterministic given the edge set: every term is a fixed expression;
    * float summation order contributes only ~1e-15 relative error.
    */
  /** Broadcast budget for the per-iteration rank relation: ~16 bytes per
    * (long, double) row puts 5e7 nodes around 800 MB framed — inside the
    * 8 GB / 512M-row broadcast hard cap with headroom. Overridable via
    * `spark.graft.pagerank.broadcastMaxNodes` for clusters with
    * smaller executors.
    */
  private def prBroadcastMaxNodes(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.pagerank.broadcastMaxNodes")
      .map(_.toLong).getOrElse(5000000L) // ~80 MB framed (r18, was 5e7:
      // a per-iteration broadcast rebuilt near the 8 GB hard cap OOMs
      // default-sized drivers long before the old budget bit — r17 ADVICE)

  def pageRank(edges: DataFrame, damping: Double = 0.85, iters: Int = 3): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    try {
      // ONE pass over the edges builds the |V|-row degree table, which
      // doubles as the node set (every node has an out-edge after
      // symmetrization) — this replaces both the degree-annotated edge
      // materialization (|E| rows persisted just to carry outdeg) and a
      // separate nodes distinct: 2 full |E| passes saved before the loop
      // lazy: deg.count() right below is the materializing action (r18)
      val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg")).localCheckpoint(false)
      val n = deg.count().toDouble
      var ranks = deg.select(col("src").as("node")).withColumn("pr", lit(1.0 / n))
      for (i <- 1 to iters) {
        val next = prStep(e, deg, ranks, n, damping,
          broadcastRanks = n <= prBroadcastMaxNodes(edges))
        // checkpoint every 3rd iteration and at the end (r18): each
        // iteration references the previous ranks exactly once, so a
        // ≤3-deep lineage stays linear while 3 eager materialization
        // jobs collapse into 1 — the returned plan is still truncated
        ranks = if (i % 3 == 0 || i == iters) next.localCheckpoint() else next
      }
      ranks
    } finally e.unpersist(false)
  }

  /** ONE PageRank iteration, factored out of [[pageRank]] for the same
    * constituent-plan evidence as [[ccStep]]: divide each node's rank by
    * its out-degree BEFORE the edge join (|V|-sized work; the per-edge
    * division computed the identical value |E| times), and BROADCAST the
    * |V|-row weight relation while it fits the budget so the edge set
    * never shuffles — per iteration the only exchange is the
    * partial-aggregated |V|-row contribution sum.
    */
  private[graft] def prStep(e: DataFrame, deg: DataFrame, ranks: DataFrame,
      n: Double, damping: Double, broadcastRanks: Boolean): DataFrame = {
    val w0 = ranks.join(deg, col("node") === deg("src"))
      .select(col("node").as("jsrc"), (col("pr") / col("outdeg")).as("contrib"))
    val w = if (broadcastRanks) broadcast(w0) else w0
    e.join(w, col("src") === col("jsrc"))
      .groupBy("dst").agg(sum("contrib").as("in_pr"))
      .select(col("dst").as("node"),
        (lit((1 - damping) / n) + lit(damping) * col("in_pr")).as("pr"))
  }
}
