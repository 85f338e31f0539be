package graft

import java.nio.file.Files
import graft.queries.VectorQueries

/** The driver's embeddings tables contain no cosine-0.99 near-dups, so the
  * grid-pruned embNeardup needs planted positives to prove recall: write a
  * synthetic embeddings.parquet with known near-duplicate pairs and check
  * the query returns exactly those pairs (the pruning must not lose any).
  */
class VectorQueriesSpec extends SparkTestBase {
  import spark.implicits._

  test("rerank recall curves: monotone in candidate depth, bounded, full-length") {
    // candidate sets nest as depth grows and the rerank is exact, so
    // recall@K(d) = |brute ∩ cand(d)| / (|Q|·K) is non-decreasing — a
    // theorem about the two-stage composition, pinned here for both
    // generator families
    Seq("knn_trunc_rerank", "knn_binary_rerank").foreach { q =>
      val rows = SparkEntry.queries(q)(spark, sf())
        .collect().map(r => (r.getInt(0), r.getDouble(1))).sortBy(_._1)
      assert(rows.map(_._1).toSeq == Seq(50, 100, 200), s"$q depths")
      assert(rows.forall { case (_, r) => r >= 0.0 && r <= 1.0 }, s"$q bounds")
      val recalls = rows.map(_._2).toSeq
      assert(recalls == recalls.sorted, s"$q monotonicity")
    }
  }

  test("embNeardup finds exactly the planted near-duplicate pairs") {
    val rng = new scala.util.Random(7)
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def randVec(): Array[Double] = unit(Array.fill(64)(rng.nextGaussian()))
    // near-dup of v: v + tiny noise -> cosine ~ 0.999
    def nearDup(v: Array[Double]): Array[Double] =
      unit(v.zip(Array.fill(64)(rng.nextGaussian() * 0.01)).map { case (x, e) => x + e })

    val base = (0 until 200).map(_ => randVec())
    // plant dups: vec 1000+i is a near-dup of vec i, for i in {3, 50, 117}
    val planted = Seq(3L, 50L, 117L)
    val rows =
      base.zipWithIndex.map { case (v, i) => (i.toLong, v.map(_.toFloat), i % 5) } ++
        planted.map(i => (1000L + i, nearDup(base(i.toInt)).map(_.toFloat), (i % 5).toInt))

    val dir = Files.createTempDirectory("graft_neardup").toString
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val got = VectorQueries.embNeardup(spark, dir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == planted.map(i => (i, 1000L + i)).toSet)
  }

  test("knnBrute returns k sorted neighbors per query with cos in [-1,1]") {
    val df = VectorQueries.knnBrute(spark, sf())
    val rows = df.collect()
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.values.forall(_.length == 10))
    byQuery.values.foreach { g =>
      val cs = g.sortBy(_.getInt(3)).map(_.getDouble(2)).toSeq
      assert(cs == cs.sorted.reverse) // descending by rank
      cs.foreach(c => assert(c >= -1.0 && c <= 1.0 + 1e-9))
    }
  }

  test("kmeans Lloyd-on-sample: deterministic, full coverage, full-data assignment") {
    val e = VectorQueries.emb(spark, sf())
    val a = VectorQueries.kmeansCentroids(e, nLists = 8, iters = 2, sampleFraction = 0.5)
    val b = VectorQueries.kmeansCentroids(e, nLists = 8, iters = 2, sampleFraction = 0.5)
    assert(a == b) // seeded sample -> same centroids every run
    assert(a.map(_._1) == (0 until 8)) // every list survived training
    assert(a.forall(_._2.length == 64))
    // training on a sample must differ from full-data training but the
    // seeds (first nLists full-data vectors) are shared
    val full = VectorQueries.kmeansCentroids(e, nLists = 8, iters = 2)
    assert(a != full)
    // the final assignment covers the FULL corpus regardless of fraction
    val assigned = VectorQueries.assignListsProjection(e, a)
    assert(assigned.count() == e.count())
    assert(assigned.filter($"list_id".isNull).count() == 0)
    // end-to-end: the sampled quantizer still yields k neighbors per query
    val topk = VectorQueries.knnIvfKmeansFrom(e, sampleFraction = 0.5)
    val byQuery = topk.collect().groupBy(_.getLong(0))
    assert(byQuery.nonEmpty && byQuery.values.forall(_.length == 10))
  }

  test("powerIteration recovers the dominant direction of an anisotropic cov") {
    // constructed covariance: diagonal with one dominant axis (7) plus a
    // correlated pair (2, 3) — the top eigenvector must align with axis 7
    val d = 16
    val cov = Array.tabulate(d, d)((i, j) =>
      if (i == j && i == 7) 5.0
      else if (i == j) 0.5
      else if ((i, j) == (2, 3) || (i, j) == (3, 2)) 0.2
      else 0.0)
    val pc = queries.VectorQueries.powerIteration(cov)
    assert(math.abs(pc(7)) > 0.99, pc.mkString(","))
    assert(math.sqrt(pc.map(x => x * x).sum) > 0.999) // unit norm
    // sign convention: first nonzero component positive -> deterministic
    val again = queries.VectorQueries.powerIteration(cov)
    assert(pc.sameElements(again))
  }
}
