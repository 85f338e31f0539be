package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.HofReference._

class TextFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("ssjoin-prefix is complete: every LSH-verified near-dup pair is found") {
    // the exact prefix-filtered join must contain every pair the
    // probabilistic MinHash-LSH path verified at the same set domain and
    // threshold — LSH can only MISS pairs, never find one ssjoin lacks
    val sfDir = sf()
    val exact = graft.queries.TextQueries.dedupSsjoinPrefix(spark, sfDir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.queries.TextQueries.dedupMinhashPairs(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("j_shingle") >= 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), s"LSH found pairs ssjoin missed: ${lsh.diff(exact)}")
    assert(exact.nonEmpty)
  }

  test("wordShingles: k-grams joined by space; fewer than k tokens -> empty") {
    val df = Seq("a b c d", "a b").toDF("t")
      .select(wordShingles(tokens(col("t")), 3).as("s"))
    val got = df.as[Seq[String]].collect().toSeq
    assert(got(0) == Seq("a b c", "b c d"))
    assert(got(1) == Seq.empty)
  }

  test("minhashSignature is deterministic, has numHashes entries, and is") {
    val df = Seq("the quick brown fox jumps over the lazy dog").toDF("t")
      .select(minhashFromHashes(hashArray(wordShingles(tokens(col("t")), 3)), 16).as("sig"))
    val sig1 = df.as[Seq[Long]].head()
    val sig2 = df.as[Seq[Long]].head()
    assert(sig1.length == 16)
    assert(sig1 == sig2)
    assert(sig1.forall(v => v >= 0 && v < 1000000007L))
  }

  test("identical shingle sets give identical signatures; supersets give <= minima") {
    val df = Seq(("a b c d e", "a b c d e"), ("a b c d e", "a b c d e f")).toDF("t1", "t2")
      .select(
        minhashFromHashes(hashArray(wordShingles(tokens(col("t1")), 3)), 16).as("s1"),
        minhashFromHashes(hashArray(wordShingles(tokens(col("t2")), 3)), 16).as("s2"))
    val rows = df.as[(Seq[Long], Seq[Long])].collect()
    assert(rows(0)._1 == rows(0)._2)
    // t2's shingles are a superset -> each min can only stay or decrease
    assert(rows(1)._1.zip(rows(1)._2).forall { case (a, b) => b <= a })
  }

  test("lshBandBuckets: signature of 16 with 4 rows/band -> 4 buckets") {
    val df = Seq("w x y z a b c").toDF("t")
      .select(lshBandBuckets(
        minhashFromHashes(hashArray(wordShingles(tokens(col("t")), 3)), 16), 4).as("b"))
    assert(df.as[Seq[Long]].head().length == 4)
  }

  test("simhash32 is a 32-bit value, deterministic, equal for equal input") {
    val df = Seq(("hello world foo bar", "hello world foo bar")).toDF("t1", "t2")
      .select(simhashFromHashes(hashArray(tokens(col("t1")))).as("h1"),
        simhashFromHashes(hashArray(tokens(col("t2")))).as("h2"))
    val (h1, h2) = df.as[(Long, Long)].head()
    assert(h1 == h2)
    assert(h1 >= 0 && h1 < (1L << 32))
  }

  test("native h32 array kernel == HOF formulation (incl. unicode)") {
    val rows = Seq(Seq("hello", "wörld", "", "日本語", "a b c", "#f0"))
    val df = rows.map(Tuple1(_)).toDF("toks")
      .select(hashArray(col("toks")).as("n"), hashArrayHof(col("toks")).as("h"))
    df.as[(Seq[Long], Seq[Long])].collect().foreach { case (n, h) => assert(n == h) }
  }

  test("wide hash kernel: bits=60 == first 15 md5 hex chars; bits=32 == h32") {
    val toks = Seq("hello", "wörld", "日本語", "#f0", "x")
    val df = toks.map(Tuple1(_)).toDF("t")
      .select(
        element_at(hashArrayBits(array(col("t")), 60), 1).as("h60"),
        element_at(hashArrayBits(array(col("t")), 32), 1).as("h32n"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("ref60"),
        conv(substring(md5(col("t")), 1, 8), 16, 10).cast("long").as("ref32"))
    df.as[(Long, Long, Long, Long)].collect().foreach { case (h60, h32n, ref60, ref32) =>
      assert(h60 == ref60 && h60 >= 0 && h60 < (1L << 60))
      assert(h32n == ref32)
    }
    // wide simhash stays within its declared width
    val sh = toks.map(Tuple1(_)).toDF("t")
      .select(simhashFromHashesBits(hashArrayBits(tokens(col("t")), 60), 60).as("s"))
      .as[Long].collect()
    sh.foreach(s => assert(s >= 0 && s < (1L << 60)))
  }

  test("rolling hash kernel == naive per-window polynomial; empty below window") {
    import graft.expressions.HashExpressions.rollingHashNative
    val (w, b, m) = (4, 257L, 1000000007L)
    val texts = Seq("hello world rolling", "abcd", "abc", "", "ééé日本語 bytes")
    val rows = texts.map(Tuple1(_)).toDF("t")
      .select(col("t"), rollingHashNative(col("t").cast("binary"), w, b, m).as("hs"))
      .as[(String, Seq[Long])].collect()
    rows.foreach { case (t, hs) =>
      val bytes = t.getBytes("UTF-8").map(_ & 0xff)
      val want =
        if (bytes.length < w) Seq.empty
        else (0 to bytes.length - w).map { p =>
          (0 until w).foldLeft(0L)((acc, j) => (acc * b + bytes(p + j)) % m)
        }
      assert(hs == want, s"mismatch for '$t'")
    }
    assert(rows.find(_._1 == "abc").get._2.isEmpty)
    assert(rows.find(_._1 == "abcd").get._2.size == 1)
  }

  test("native minhash kernel == HOF formulation on random inputs") {
    val rng = new scala.util.Random(11)
    val rows = Seq.fill(30)(Seq.fill(rng.nextInt(50) + 1)(rng.alphanumeric.take(8).mkString))
    val df = rows.map(Tuple1(_)).toDF("toks")
      .select(hashArray(col("toks")).as("hs"))
      .select(minhashFromHashes(col("hs"), 16).as("n"), minhashFromHashesHof(col("hs"), 16).as("h"))
    df.as[(Seq[Long], Seq[Long])].collect().foreach { case (n, h) => assert(n == h) }
  }

  test("native simhash kernel == HOF formulation on random inputs") {
    val rng = new scala.util.Random(12)
    val rows = Seq.fill(30)(Seq.fill(rng.nextInt(50) + 1)(rng.alphanumeric.take(8).mkString))
    val df = rows.map(Tuple1(_)).toDF("toks")
      .select(hashArray(col("toks")).as("hs"))
      .select(simhashFromHashes(col("hs")).as("n"), simhashFromHashesHof(col("hs")).as("h"))
    df.as[(Long, Long)].collect().foreach { case (n, h) => assert(n == h) }
  }

  test("native word-shingle kernel == HOF formulation (short, empty, unicode, k edges)") {
    val rng = new scala.util.Random(13)
    val rows = Seq(Seq.empty[String], Seq("one"), Seq("a", "b"), Seq("a", "b", "c"),
      Seq("wör", "日本", "", "x y", "#f0")) ++
      Seq.fill(20)(Seq.fill(rng.nextInt(12))(rng.alphanumeric.take(5).mkString))
    for (k <- Seq(2, 3, 5)) {
      val df = rows.map(Tuple1(_)).toDF("toks")
        .select(wordShingles(col("toks"), k).as("n"), wordShinglesHof(col("toks"), k).as("h"))
      df.as[(Seq[String], Seq[String])].collect().foreach { case (n, h) =>
        assert(n == h, s"k=$k")
      }
    }
  }

  test("native stopword-hits kernel == HOF formulation") {
    val rng = new scala.util.Random(14)
    val vocab = StopwordsEn ++ Seq("zzz", "qqq", "", "Wör")
    val rows = Seq.fill(30)(Seq.fill(rng.nextInt(20))(vocab(rng.nextInt(vocab.size))))
    val df = rows.map(Tuple1(_)).toDF("toks")
      .select(stopwordHits(col("toks"), StopwordsEn).as("n"),
        stopwordHitsHof(col("toks"), StopwordsEn).as("h"))
    df.as[(Int, Int)].collect().foreach { case (n, h) => assert(n == h) }
  }

  test("native classifier-score kernel == HOF formulation (bit-identical doubles)") {
    val rng = new scala.util.Random(15)
    val rows = Seq.fill(30)(Seq.fill(rng.nextInt(40) + 1)(rng.alphanumeric.take(6).mkString))
    val df = rows.map(Tuple1(_)).toDF("toks")
      .select(hashArray(col("toks")).as("hs"), size(col("toks")).cast("long").as("nf"))
      .select(classifierScoreFromHashes(col("hs"), col("nf")).as("n"),
        classifierScoreFromHashesHof(col("hs"), col("nf")).as("h"))
    df.as[(Double, Double)].collect().foreach { case (n, h) =>
      assert(java.lang.Double.doubleToRawLongBits(n) ==
        java.lang.Double.doubleToRawLongBits(h))
    }
  }

  test("hamming32: near-identical token sets have small distance") {
    val df = Seq((
      "the quick brown fox jumps over the lazy dog again and again today",
      "the quick brown fox jumps over the lazy dog again and again tonight",
      "completely different words entirely unrelated to anything else here"
    )).toDF("a", "b", "c")
      .select(Seq("a", "b", "c").map(t => simhashFromHashes(hashArray(tokens(col(t)))).as(t)): _*)
      .select(
        bit_count(col("a").bitwiseXOR(col("b"))).as("near"),
        bit_count(col("a").bitwiseXOR(col("c"))).as("far"))
    val r = df.collect()(0)
    assert(r.getInt(0) < r.getInt(1))
  }

  test("fingerprint is order-sensitive and in [0, 1e9+7)") {
    val df = Seq(("a b c", "c b a")).toDF("t1", "t2")
      .select(fingerprint(tokens(col("t1"))).as("f1"), fingerprint(tokens(col("t2"))).as("f2"))
    val (f1, f2) = df.as[(Long, Long)].head()
    assert(f1 != f2)
    assert(f1 >= 0 && f1 < 1000000007L)
  }

  test("sampled dup ranges are contained in exact dup ranges (0-mod-p closure)") {
    import graft.queries.TextQueries
    val dir = sf()
    // exact plane: stride-1 all-window dup ranges on the shard
    val exact = TextQueries.textDupRangesExact(spark, dir)
      .select("doc_id", "span_start", "span_end").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(t => (t._2, t._3)).toSeq }
    // sampled plane restricted to the same shard (what dupRangeCoverage prices)
    val sampled = TextQueries.mergeDupIntervals(TextQueries.markCrossDocDups(
      TextQueries.rollingFpRows(spark, dir)
        .filter(col("doc_id") < 500)))
      .select("doc_id", "span_start", "span_end").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sampled.nonEmpty, "fixture must have sampled dup ranges")
    // fp ≡ 0 (mod p) depends only on window BYTES, so the sampled plane is
    // closed under duplication: every sampled dup interval must lie inside
    // one exact merged range
    sampled.foreach { case (d, s0, e0) =>
      val within = exact.getOrElse(d, Seq.empty[(Long, Long)])
        .exists { case (s1, e1) => s1 <= s0 && e0 <= e1 }
      assert(within, s"sampled range [$s0,$e0) of doc $d escapes the exact ranges")
    }
    // ... and the one-row coverage deliverable prices exactly that gap
    val cov = TextQueries.dupRangeCoverage(spark, dir).collect().head
    val (eb, sb) = (cov.getAs[Long]("exact_bytes"), cov.getAs[Long]("sampled_bytes"))
    assert(sb <= eb && cov.getAs[Long]("missed_bytes") == eb - sb)
    assert(cov.getAs[Double]("sampled_frac") >= 0.0 && cov.getAs[Double]("sampled_frac") <= 1.0)
  }

  test("langId picks the language with most stopword hits; und when none") {
    val df = Seq(
      "the cat sat on the mat and it is that for",
      "der hund ist nicht mit der katze auf das sofa",
      "le chat est dans la maison et les oiseaux pour",
      "xyzzy plugh qwerty").toDF("t")
      .select(tokens(lower(col("t"))).as("toks"))
    val hits = graft.functions.PipelineFunctions.stageBarrier(df, Seq.empty, langHits(col("toks")): _*)
    val langs = hits.select(
      langIdFromHits(col("hits_en"), col("hits_de"), col("hits_fr"), col("hits_es")).as("l"))
    assert(langs.as[String].collect().toSeq == Seq("en", "de", "fr", "und"))
  }

  test("qualityScore in [0,1]") {
    val df = Seq(
      "the quick brown fox jumps over the lazy dog and runs far away into the woods today with great speed and agility for a while",
      "x!", "").toDF("t")
      .select(qualityScoreFromParts(length(col("t")),
        length(regexp_replace(col("t"), "[^A-Za-z ]", "")),
        size(tokens(col("t"))), stopwordHits(tokens(col("t")), StopwordsEn)).as("q"))
    df.as[Double].collect().foreach(q => assert(q >= 0.0 && q <= 1.0))
  }

  test("tokenCountRegex counts word runs and single punctuation") {
    val df = Seq("hello, world! don't").toDF("t").select(tokenCountRegex(col("t")))
    // hello , world ! don ' t
    assert(df.as[Int].head() == 7)
  }

  test("classifier weights load from the fixture CSV and match the generator formula") {
    // the committed fixture is the stand-in-formula table; this pin keeps
    // batch/stream/oracle flip-proof across the file hand-off — when a
    // genuinely trained table replaces the fixture, update this spec with it
    val p = java.nio.file.Paths.get("fixtures/classifier_weights.csv")
    assert(java.nio.file.Files.isReadable(p), s"fixture missing: $p")
    val loaded = loadClassifierWeights(p)
    assert(loaded.size == ClassifierBuckets)
    assert(loaded == classifierWeightsFormula,
      "fixture CSV diverged from the formula it was generated from")
    // the live plan literal is the file-loaded value
    assert(classifierWeights == loaded)
  }

  test("classifier weight loader rejects malformed fixtures") {
    val tmp = java.nio.file.Files.createTempFile("weights", ".csv")
    try {
      java.nio.file.Files.writeString(tmp, "bucket,weight\n0,0.1\n2,0.2\n")
      intercept[IllegalArgumentException](loadClassifierWeights(tmp))
      java.nio.file.Files.writeString(tmp, "wrong,header\n")
      intercept[IllegalArgumentException](loadClassifierWeights(tmp))
    } finally java.nio.file.Files.delete(tmp)
  }

  test("classifier weights: a missing file falls back to the formula with a WARN; a readable one is loaded") {
    val dir = java.nio.file.Files.createTempDirectory("weights_dir")
    var weights: Seq[Double] = Nil
    val warns = warnsDuring(graft.functions.TextFunctions) {
      weights = classifierWeightsAt(dir.resolve("missing.csv"))
    }
    assert(weights == classifierWeightsFormula)
    assert(warns.size == 1 && warns.head.contains("no readable classifier weights"), warns)

    // a file whose weights differ from the formula's: the loader's values win
    val csv = dir.resolve("flat.csv")
    java.nio.file.Files.writeString(csv, "bucket,weight\n" +
      (0 until ClassifierBuckets).map(b => s"$b,0.25").mkString("\n") + "\n")
    val fixture = java.nio.file.Paths.get("fixtures/classifier_weights.csv")
    val quiet = warnsDuring(graft.functions.TextFunctions) {
      assert(classifierWeightsAt(csv) == Seq.fill(ClassifierBuckets)(0.25))
      assert(classifierWeightsAt(fixture) == loadClassifierWeights(fixture))
    }
    assert(quiet.isEmpty, quiet)
  }
}
