package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import graft.functions.PipelineFunctions._
import graft.functions.TextFunctions._
import graft.sources.mqtt.MqttCodec

/** Property-based tests (SURVEY §5.2): structural invariants over
  * ScalaCheck-generated inputs, evaluated in one Spark batch per property
  * (no scalatestplus bridge needed — deterministic seeded sampling).
  */
class PropertiesSpec extends SparkTestBase {
  import spark.implicits._

  private val seed = org.scalacheck.rng.Seed(42L)
  private def samples[A](g: Gen[A], n: Int): Seq[A] = {
    var s = seed
    (0 until n).flatMap { _ =>
      s = s.next
      g.apply(Gen.Parameters.default, s)
    }
  }

  private val segGen: Gen[String] = Gen.choose(0, 6).flatMap(n =>
    Gen.listOfN(n, Gen.alphaNumChar).map(_.mkString))
  private val topicGen: Gen[String] = for {
    lead <- Gen.oneOf("", "/")
    n <- Gen.choose(1, 6)
    segs <- Gen.listOfN(n, segGen)
  } yield lead + segs.mkString("/")

  test("truncate(t, k) is a prefix of t with at most k+1 segments; k<=0 is identity") {
    val cases = samples(Gen.zip(topicGen, Gen.choose(-2, 8)), 120)
    val got = cases.toDF("t", "k")
      .select(col("t"), col("k"), topicTruncate(col("t"), col("k")).as("out"))
      .as[(String, Int, String)].collect()
    assert(got.length == cases.length)
    got.foreach { case (t, k, out) =>
      assert(t.startsWith(out), s"t=$t k=$k out=$out")
      if (k > 0) assert(out.split("/", -1).length <= k + 1, s"t=$t k=$k out=$out")
      else assert(out == t, s"t=$t k=$k out=$out")
    }
  }

  test("streamIdTemplate: output is exactly template with $topic substituted") {
    val topics = samples(topicGen, 100)
    topics.toDF("t")
      .select(col("t"), streamIdTemplate("pre/$topic/post-$topic", col("t")).as("s"))
      .as[(String, String)].collect()
      .foreach { case (t, s) => assert(s == s"pre/$t/post-$t") }
  }

  test("safeParseJson is total: arbitrary strings parse or yield NULL, never throw") {
    val schema = StructType(Seq(StructField("k", IntegerType)))
    val payloads = samples(Gen.asciiPrintableStr.map(_.take(60)), 200) ++
      Seq("{", "}", "null", "3.14", "[1,2]", """{"k":1}""", "\"s\"", "")
    val rows = stageBarrier(payloads.toDF("p"), Seq(col("p")),
        "j" -> parseJsonLenient(col("p"), schema))
      .select(col("p"), when(parseOk(col("j")), parsedPayload(col("j"), schema)).as("v"))
      .collect()
    assert(rows.length == payloads.length) // every row evaluated without error
  }

  test("minhash signature entries only decrease when shingles are added") {
    val tokGen = Gen.listOfN(10, Gen.identifier.map(_.take(5)))
    val cases = samples(Gen.zip(tokGen, tokGen), 40)
    val rows = cases.map { case (base, extra) =>
      (base.mkString(" "), (base ++ extra).mkString(" ")) }
    rows.toDF("t1", "t2")
      .select(
        minhashFromHashes(hashArray(wordShingles(tokens(col("t1")), 3)), 8).as("s1"),
        minhashFromHashes(hashArray(wordShingles(tokens(col("t2")), 3)), 8).as("s2"))
      .as[(Seq[Long], Seq[Long])].collect()
      .foreach { case (s1, s2) =>
        s1.zip(s2).foreach { case (a, b) => assert(b <= a) }
      }
  }

  test("MQTT codec round-trips arbitrary publish topics and payloads") {
    val topicG = Gen.nonEmptyListOf(Gen.asciiPrintableChar).map(_.mkString.take(80))
    val payloadG = Gen.listOf(Gen.choose(Byte.MinValue, Byte.MaxValue)).map(_.toArray)
    samples(Gen.zip(topicG, payloadG), 100).foreach { case (topic, payload) =>
      val p = MqttCodec.Publish(topic, payload)
      MqttCodec.read(new java.io.ByteArrayInputStream(MqttCodec.encode(p))) match {
        case MqttCodec.Publish(t2, b2, _, _, _) =>
          assert(t2 == topic)
          assert(java.util.Arrays.equals(b2, payload))
        case other => fail(s"decoded $other")
      }
    }
  }

  test("topicMatches: every filter matches itself; '#' matches everything") {
    samples(topicGen, 100).foreach { t =>
      assert(MqttTestBroker.topicMatches(t, t))
      assert(MqttTestBroker.topicMatches("#", t))
    }
  }

  test("connectedComponents agrees with brute-force union-find on random graphs") {
    val edgeGen = for {
      n <- Gen.choose(2, 18) // node universe 0..n-1
      m <- Gen.choose(0, 24)
      es <- Gen.listOfN(m, Gen.zip(Gen.choose(0L, n - 1L), Gen.choose(0L, n - 1L)))
    } yield (n.toLong, es.filter { case (a, b) => a != b })
    samples(edgeGen, 12).foreach { case (n, es) =>
      // reference: naive union-find with min-root labels
      val parent = Array.tabulate(n.toInt)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) { val lo = math.min(ra, rb); parent(math.max(ra, rb)) = lo }
      }
      // the loop labels only edge-incident nodes
      val incident = es.flatMap { case (a, b) => Seq(a, b) }.distinct
      val expect = incident.map(i => i -> find(i.toInt).toLong).toMap
      val edges =
        if (es.isEmpty) Seq.empty[(Long, Long)].toDF("src", "dst")
        else es.toDF("src", "dst")
      val got = graft.functions.ScaleFunctions.connectedComponentsIncident(edges)
        .as[(Long, Long)].collect().toMap
      assert(got == expect, s"n=$n edges=$es")
    }
  }

  test("text_chunks invariants: full coverage, stride starts, budgeted length") {
    // chunk arithmetic must cover every token exactly (last chunk may be
    // short), with starts on the stride grid — checked on random lengths
    val lens = samples(Gen.choose(1, 300), 60)
    val docs = lens.zipWithIndex.map { case (n, i) =>
      (i.toLong, (0 until n).map(j => s"t$j").mkString(" ")) }
    val out = docs.toDF("doc_id", "text").as("d")
    val staged = out.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val n = size(col("toks"))
    val nc = when(n <= 50, lit(1)).otherwise(
      lit(1) + floor((n - 50 + 39) / lit(40)).cast("int"))
    val chunks = staged
      .select(col("doc_id"), col("toks"), explode(sequence(lit(0), nc - 1)).as("cid"))
      .select(col("doc_id"), col("cid"),
        slice(col("toks"), col("cid") * 40 + 1, lit(50)).as("ctoks"))
      .as[(Long, Int, Seq[String])].collect()
    val byDoc = chunks.groupBy(_._1)
    docs.foreach { case (id, text) =>
      val toks = text.split(" ").toSeq
      val cs = byDoc(id).sortBy(_._2)
      assert(cs.forall(_._3.nonEmpty)) // no empty chunk is ever emitted
      assert(cs.forall(_._3.length <= 50)) // budget respected
      // coverage: concatenating each chunk's NEW tokens (past the overlap)
      // reconstructs the document exactly
      val rebuilt = cs.head._3 ++ cs.tail.flatMap(_._3.drop(10))
      assert(rebuilt == toks, s"doc $id: ${toks.length} tokens")
    }
  }

  test("pack assignment matches a sequential fold; packs are contiguous") {
    // the windowed floor(cum_before/B) must equal what a single-threaded
    // scan over each shard in doc order would assign
    val B = 512L
    val docGen = Gen.zip(Gen.oneOf("en", "de"), Gen.choose(1, 400))
    val docs = samples(docGen, 80).zipWithIndex
      .map { case ((lang, n), i) => (i.toLong, lang, n.toLong) }
    val w = org.apache.spark.sql.expressions.Window.partitionBy("lang").orderBy("doc_id")
    val got = docs.toDF("doc_id", "lang", "n_toks")
      .withColumn("cum", sum("n_toks").over(w))
      .select(col("doc_id"), col("lang"),
        floor((col("cum") - col("n_toks")) / lit(B)).cast("long").as("pack_id"))
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    docs.groupBy(_._2).foreach { case (lang, ds) =>
      var cum = 0L
      ds.sortBy(_._1).foreach { case (id, _, n) =>
        assert(got(id) == (lang, cum / B), s"doc $id lang $lang cum $cum")
        cum += n
      }
    }
    // contiguity: within a shard, each pack covers a contiguous doc range
    docs.groupBy(_._2).foreach { case (_, ds) =>
      val packs = ds.sortBy(_._1).map(d => got(d._1)._2)
      assert(packs.sameElements(packs.sorted))
    }
  }

  test("piiRedact is idempotent and leaves PII-free text untouched") {
    // placeholders must not themselves match any PII class — otherwise a
    // second scrub pass (or a scrub after an upstream scrub) corrupts text
    val piiGen: Gen[String] = Gen.oneOf(
      Gen.alphaNumStr.map(s => s"plain $s text"),
      Gen.choose(0L, 99999L).map(i => s"mail u$i@example.com end"),
      Gen.choose(0L, 255L).map(i => s"ip 10.$i.0.$i end"),
      Gen.choose(100L, 999L).map(i => s"ph $i-${i * 7 % 9000 + 1000} end"),
      Gen.alphaNumStr.map(s => s"key sk-aaaabbbbccccdddd$s end"))
    val rows = samples(piiGen, 120).toDF("t")
    val once = rows.select(piiRedact(col("t")).as("r1"))
    val twice = once.select(col("r1"), piiRedact(col("r1")).as("r2"))
      .filter(col("r1") =!= col("r2"))
    assert(twice.count() == 0)
    // a text with no PII-shaped span passes through byte-identical
    val clean = rows.filter(!col("t").rlike("@|sk-|\\d"))
      .select(col("t"), piiRedact(col("t")).as("r"))
      .filter(col("t") =!= col("r"))
    assert(clean.count() == 0)
  }

  test("classifier score is bounded by the weight range; empty-proof") {
    // score = mean of weights in (-0.5, 0.5) => always inside that range
    val textGen: Gen[String] = Gen.choose(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("the", "a", "table", "scan", "fast", "x1"))
        .map(_.mkString(" ")))
    val rows = samples(textGen, 100).toDF("text")
    val staged = stageBarrier(rows, Seq(col("text")), "toks" -> tokens(col("text")))
    val feats = stageBarrier(staged, Seq.empty,
      "feats" -> concat(col("toks"), wordShingles(col("toks"), 2)))
    val scored = feats.select(
      classifierScoreFromHashes(hashArray(col("feats")), size(col("feats"))).as("s"))
    val out = scored.filter(col("s") < -0.5 || col("s") > 0.5)
    assert(out.count() == 0)
  }

  test("gopherKeepFromParts agrees with an independent Scala evaluation") {
    val docGen: Gen[(Int, Double, Double, Int)] = for {
      n <- Gen.choose(0, 200)
      mwl <- Gen.choose(0.0, 15.0)
      sym <- Gen.choose(0.0, 0.5)
      stop <- Gen.choose(0, 10)
    } yield (n, mwl, sym, stop)
    val rows = samples(docGen, 200)
    val df = rows.toDF("n", "mwl", "sym", "stop")
      .select(col("n").cast("long").as("n"), col("mwl"), col("sym"),
        col("stop").cast("long").as("stop"))
      .withColumn("keep",
        gopherKeepFromParts(col("n"), col("mwl"), col("sym"), col("stop")))
    val got = df.select("keep").collect().map(_.getBoolean(0)).toSeq
    val want = rows.map { case (n, mwl, sym, stop) =>
      n >= 50 && n <= 100000 && mwl >= 3.0 && mwl <= 10.0 &&
        sym <= 0.1 && stop >= 2
    }
    assert(got == want)
  }

  test("count-min estimates never undercount, even with forced collisions") {
    // width 8 << vocabulary so every row collides heavily; the min across
    // depth-4 rows must still bound every true count from ABOVE
    val W = 8; val D = 4
    val toks = samples(Gen.oneOf((1 to 40).map(i => s"tok$i")), 400)
    val df = toks.toDF("tok")
    val hashed = df
      .select(col("tok"), explode(sequence(lit(0), lit(D - 1))).as("r"))
      .select(col("tok"), col("r"), pmod(h32(col("tok"), col("r")), lit(W)).as("b"))
    val counters = hashed.groupBy("r", "b").agg(count(lit(1)).as("c"))
    val got = df.groupBy("tok").agg(count(lit(1)).as("n_true"))
      .select(col("tok"), col("n_true"), explode(sequence(lit(0), lit(D - 1))).as("r"))
      .select(col("tok"), col("n_true"), col("r"),
        pmod(h32(col("tok"), col("r")), lit(W)).as("b"))
      .join(counters, Seq("r", "b"))
      .groupBy("tok", "n_true").agg(min("c").as("n_est"))
      .as[(String, Long, Long)].collect()
    assert(got.nonEmpty)
    got.foreach { case (tok, nTrue, nEst) =>
      assert(nEst >= nTrue, s"$tok undercounted: est $nEst < true $nTrue")
    }
    // with width 8 and ~40 distinct tokens, collisions must actually occur
    assert(got.exists { case (_, nTrue, nEst) => nEst > nTrue })
  }

  test("hilbertKey == the classic xy2d transform on every cell; bijective; unit steps") {
    // independent reference: Wikipedia's xy2d, straight imperative port
    def xy2d(n: Int, x0: Int, y0: Int): Int = {
      var (x, y, d) = (x0, y0, 0)
      var s = n / 2
      while (s > 0) {
        val rx = if ((x & s) > 0) 1 else 0
        val ry = if ((y & s) > 0) 1 else 0
        d += s * s * ((3 * rx) ^ ry)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s /= 2
      }
      d
    }
    val cells = for (x <- 0 until 16; y <- 0 until 16) yield (x, y)
    val got = cells.toDF("x", "y")
      .select(col("x"), col("y"),
        graft.functions.ZorderLayout.hilbertKey(col("x"), col("y"), 4).as("h"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getInt(2))).toMap
    cells.foreach { case (x, y) =>
      assert(got((x, y)) == xy2d(16, x, y), s"cell ($x,$y)")
    }
    // bijection onto [0, 256) and the defining unit-step property:
    // consecutive indexes are grid-adjacent (Manhattan distance 1)
    val byD = got.toSeq.map { case ((x, y), h) => h -> (x, y) }.sortBy(_._1)
    assert(byD.map(_._1) == (0 until 256))
    byD.sliding(2).foreach { case Seq((_, (x1, y1)), (_, (x2, y2))) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1)
    }
  }

  test("fingerprint stays in [0, 1e9+7) for arbitrary token lists") {
    val tokG = Gen.listOfN(6, Gen.identifier.map(_.take(4)))
    val cases = samples(tokG, 40).map(_.mkString(" "))
    cases.toDF("t")
      .select(fingerprint(tokens(col("t"))).as("f"))
      .as[Long].collect()
      .foreach(f => assert(f >= 0 && f < 1000000007L))
  }

  test("bpeMergeFold == sequential greedy left-to-right non-overlapping merge") {
    // reference implementation of the BPE merge-application semantics
    def ref(xs: Seq[String], a: String, b: String): Seq[String] = {
      val out = scala.collection.mutable.Buffer[String]()
      var i = 0
      while (i < xs.length) {
        if (i + 1 < xs.length && xs(i) == a && xs(i + 1) == b) { out += (a + b); i += 2 }
        else { out += xs(i); i += 1 }
      }
      out.toSeq
    }
    // tiny alphabet so pair hits (incl. a==b runs like "aaaa") are dense
    val symG = Gen.oneOf("a", "b", "c", "ab")
    val caseG = for {
      n <- Gen.choose(0, 10)
      xs <- Gen.listOfN(n, symG)
      a <- symG
      b <- symG
    } yield (xs, a, b)
    val cases = samples(caseG, 150)
    val got = cases.zipWithIndex
      .map { case ((xs, a, b), i) => (i, xs, a, b) }
      .toDF("i", "s", "a", "b")
    // one fold per distinct (a, b) literal pair present in the sample
    val byPair = cases.map { case (_, a, b) => (a, b) }.distinct
    byPair.foreach { case (a, b) =>
      val res = got.filter(col("a") === a && col("b") === b)
        .select(col("i"), graft.queries.TextQueries.bpeMergeFold(col("s"), a, b).as("m"))
        .as[(Int, Seq[String])].collect().toMap
      res.foreach { case (i, m) =>
        val (xs, _, _) = cases(i)
        assert(m == ref(xs, a, b), s"xs=$xs a=$a b=$b got=$m exp=${ref(xs, a, b)}")
      }
    }
  }
}
