package graft

import org.apache.spark.sql.functions._
import graft.functions.ScaleFunctions

class ScaleFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  // 90% of rows share one key — the classic hot-key shape
  private def skewed = (1 to 2000).map { i =>
    (if (i % 10 == 0) s"key_${i % 7}" else "hot_key", i.toDouble)
  }.toDF("k", "v")

  private def dim = Seq("hot_key" -> "H", "key_0" -> "A", "key_1" -> "B",
    "key_2" -> "C", "key_3" -> "D", "key_4" -> "E", "key_5" -> "F", "key_6" -> "G")
    .toDF("k", "label")

  test("hammingPairs finds exactly the brute-force Hamming<=blocks-1 pairs") {
    // deterministic pseudo-random 24-bit fingerprints + planted near-dups
    val rng = new scala.util.Random(42)
    val base = (0L until 60L).map(i => i -> (rng.nextLong().abs & 0xffffffL))
    val planted = Seq(
      100L -> (base(0)._2 ^ 1L),          // hamming 1 from id 0
      101L -> (base(1)._2 ^ 0x11L),       // hamming 2 from id 1
      102L -> (base(2)._2 ^ 0x111L),      // hamming 3 from id 2
      103L -> (base(3)._2 ^ 0x1111L))     // hamming 4 — must NOT pair with id 3
    val rows = base ++ planted
    val fps = rows.toDF("id", "fp")
    val got = ScaleFunctions.hammingPairs(fps, "id", "fp", bits = 24, blocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (ia, fa) <- rows; (ib, fb) <- rows if ia < ib
      h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
    } yield (ia, ib, h)).toSet
    assert(got == want)
    assert(want.contains((0L, 100L, 1)) && want.contains((2L, 102L, 3)))
    assert(!got.exists { case (a, b, _) => (a, b) == (3L, 103L) })
  }

  test("hammingPairs hot-bucket cap skips hot mass but keeps cross-block pairs") {
    // 40 IDENTICAL fingerprints — the low-entropy mass (constant regions,
    // empty payload tails) that drives the quadratic candidate tail —
    // plus one planted near-dup pair that shares the hot block-0 value
    // but also matches on its own cold block-2/3 buckets (size 2)
    val hotFp = (0x0BL << 18) | (0x0AL << 12)  // blocks [0, 0, 0x0A, 0x0B]
    val hot = (0L until 40L).map(i => i -> hotFp)
    val pairA = 200L -> 0x9A0000L              // blocks [0, 0, 0x20, 0x26]
    val pairB = 201L -> 0x9A0040L              // hamming 1; block 1 differs
    val rows = hot ++ Seq(pairA, pairB)
    val fps = rows.toDF("id", "fp")
    val uncapped = ScaleFunctions.hammingPairs(fps, "id", "fp", bits = 24, blocks = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = ScaleFunctions.hammingPairs(fps, "id", "fp", bits = 24, blocks = 4,
      maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // uncapped: all 780 hot-hot pairs + the planted pair
    assert(uncapped.size == 40 * 39 / 2 + 1 && uncapped.contains((200L, 201L)))
    // capped: the hot mass (whose every matching bucket exceeds the cap)
    // is skipped — the priced recall trade — while the planted pair
    // survives via its cold block-2/3 buckets
    assert(capped == Set((200L, 201L)))
  }

  test("saltedJoin returns exactly the plain join's rows") {
    val plain = skewed.join(dim, "k").groupBy("label")
      .agg(count(lit(1)).as("n"), round(sum("v"), 2).as("s"))
      .orderBy("label").collect().toSeq
    val salted = ScaleFunctions.saltedJoin(skewed, dim, "k", salts = 8)
      .groupBy("label")
      .agg(count(lit(1)).as("n"), round(sum("v"), 2).as("s"))
      .orderBy("label").collect().toSeq
    assert(salted == plain)
  }

  test("connectedComponents collapses a chain the pairwise rule cannot") {
    // path 0-1-2-...-9: only adjacent pairs are edges, yet all ten nodes
    // are one component — the transitive case dedup_keep approximates
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    val got = ScaleFunctions.connectedComponentsIncident(edges)
      .as[(Long, Long)].collect().toMap
    assert((0L to 9L).forall(got(_) == 0L))
    assert(got.size == 10) // one label per chain node, nothing else
  }

  test("connectedComponents labels multiple components with their minima") {
    // two triangles joined internally; edge direction mixed
    val edges = Seq((2L, 1L), (2L, 3L), (9L, 7L), (8L, 9L)).toDF("src", "dst")
    val got = ScaleFunctions.connectedComponentsIncident(edges)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L, 9L -> 7L))
  }

  test("pageRank matches a driver-side reference on a small symmetric graph") {
    // triangle 1-2-3 plus a pendant 4-1: uneven degrees so ranks differ
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = ScaleFunctions.pageRank(edges, damping = 0.85, iters = 3)
      .as[(Long, Double)].collect().toMap

    val adj = (und ++ und.map(_.swap)).groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    val n = adj.size.toDouble
    var pr = adj.keys.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to 3) {
      val contrib = collection.mutable.Map[Long, Double]().withDefaultValue(0.0)
      for ((u, vs) <- adj; v <- vs) contrib(v) += pr(u) / vs.size
      pr = adj.keys.map(v => v -> ((1 - 0.85) / n + 0.85 * contrib(v))).toMap
    }
    assert(got.keySet == pr.keySet)
    pr.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-9, s"node $k") }
    // no dangling nodes on a symmetric graph => rank mass is conserved
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
  }

  test("cappedBands: a hot LSH bucket is excluded, cold buckets survive intact") {
    import spark.implicits._
    // band 0 / bucket 7 holds 65 docs (> cap 64) — must vanish; the
    // 2-doc bucket and the 64-doc (== cap) bucket must survive untouched
    val rows =
      (1L to 65L).map(i => (i, 0, 7L)) ++
        Seq((100L, 1, 7L), (101L, 1, 7L)) ++
        (200L until 264L).map(i => (i, 2, 9L))
    val bands = rows.toDF("doc_id", "band", "bucket")
    val kept = graft.queries.TextQueries.cappedBands(bands)
      .groupBy("band", "bucket").count().as[(Int, Long, Long)].collect()
      .map { case (b, bk, n) => (b, bk) -> n }.toMap
    assert(!kept.contains((0, 7L)))      // hot bucket excluded
    assert(kept((1, 7L)) == 2L)          // same bucket VALUE in another band survives
    assert(kept((2, 9L)) == 64L)         // at-cap bucket survives
  }

  test("salt spreads the hot key across distinct salt values") {
    val saltCount = skewed
      .withColumn("_salt", pmod(hash(monotonically_increasing_id()), lit(8)))
      .filter(col("k") === "hot_key")
      .select(countDistinct("_salt")).as[Long].head()
    assert(saltCount > 1) // the hot key no longer lands in one partition
  }
}
