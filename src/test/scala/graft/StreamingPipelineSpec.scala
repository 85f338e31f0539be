package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming._

/** End-to-end Structured Streaming run of the reference pipeline over
  * MemoryStream envelopes (FIXTURES.md §A): parse-or-drop, JSONata
  * transform, truncation+templating, routed partitioned sink with
  * memoized ensure-stream, observe-based interval stats, dry-run mode.
  */
class StreamingPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("on", BooleanType),
    StructField("watts", DoubleType)))

  private def envelopes(ts: String, n: Int): Seq[(String, String, Timestamp)] = {
    val t = Timestamp.valueOf(ts)
    (0 until n).map { i =>
      val topic = s"/home/room${i % 2}/lamp"
      (topic, s"""{"on": true, "watts": ${i + 0.5}}""", t)
    }
  }

  test("streaming e2e: route, transform, memoized ensure, stats, second batch") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String, Timestamp)]
    val input = mem.toDF().toDF("topic", "payload", "arrival_ts")

    val cfg = GraftConfig(
      streamIdTemplate = "org/$topic/stream",
      truncateTopicLevels = 2,
      // tier-2 binding exercised through the whole streaming pipeline
      transform = Some("""($w := watts * 2; {"w2": $w, "state": on ? 'ON' : 'OFF'})"""),
      payloadSchema = schema,
      publicStreams = true)

    val outDir = Files.createTempDirectory("graft_sink").toString
    val ckDir = Files.createTempDirectory("graft_ck").toString
    val registryRoot = Files.createTempDirectory("graft_reg").toString
    val registry = new FsStreamRegistry(registryRoot)
    val sink = new RoutingSink(registry, new FsStreamPublisher(outDir), cfg)
    val stats = new StatsListener((_, _) => ())
    spark.streams.addListener(stats)

    try {
      val q = sink.attach(input.transform(df => GraftPipeline.plan(df, cfg))
          .observe("graft_stats",
            sum(when(col("valid"), 1L).otherwise(0L)).as("success"),
            sum(when(!col("valid"), 1L).otherwise(0L)).as("error"))
          .writeStream)
        .option("checkpointLocation", ckDir)
        .start()

      mem.addData(envelopes("2026-01-01 10:00:00", 4) :+
        (("/junk", "not json {", Timestamp.valueOf("2026-01-01 10:00:30"))): _*)
      q.processAllAvailable()

      // second batch, same stream ids -> ensure must NOT run again
      mem.addData(envelopes("2026-01-01 10:01:10", 4): _*)
      q.processAllAvailable()
      q.stop()
    } finally spark.streams.removeListener(stats)

    // routing: 2 distinct stream ids from truncated topics
    val out = spark.read.parquet(outDir)
    assert(out.select("stream_id").distinct().count() == 2)
    assert(out.count() == 8) // 8 valid records; malformed one dropped
    val ids = out.select("stream_id").distinct().as[String].collect().toSet
    assert(ids == Set("org//home/room0/stream", "org//home/room1/stream"))

    // transform applied
    val w2 = out.selectExpr("get_json_object(value_json, '$.w2')").as[String].collect()
    assert(w2.forall(_ != null))
    val states = out.selectExpr("get_json_object(value_json, '$.state')").as[String].collect().toSet
    assert(states == Set("ON"))

    // K1 memo: one ensure per distinct id across batches
    assert(sink.ensureCalls == 2)
    // K2 public grant marker
    assert(new java.io.File(registryRoot).listFiles().forall(d =>
      new java.io.File(d, "_public").exists()))

    // A1 stats: 8 success, 1 error accumulated; report() resets
    val (s, e) = stats.report()
    assert(s == 8 && e == 1)
    assert(stats.counts == ((0L, 0L)))
  }

  test("dry-run mode: no writes, no stream creation") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String, Timestamp)]
    val input = mem.toDF().toDF("topic", "payload", "arrival_ts")
    val cfg = GraftConfig(payloadSchema = schema, dryRun = true)
    val outDir = Files.createTempDirectory("graft_dry").toString
    val ckDir = Files.createTempDirectory("graft_dryck").toString
    val sink = new RoutingSink(new FsStreamRegistry(outDir + "/reg"),
      new FsStreamPublisher(outDir + "/data"), cfg)

    val q = sink.attach(input.transform(df => GraftPipeline.plan(df, cfg)).writeStream)
      .option("checkpointLocation", ckDir)
      .start()
    mem.addData(envelopes("2026-01-01 12:00:00", 3): _*)
    q.processAllAvailable()
    q.stop()

    assert(sink.ensureCalls == 0)
    assert(!new java.io.File(outDir + "/data").exists())
  }

  test("stream-id memo is LRU-bounded; eviction re-ensures idempotently") {
    val registryRoot = Files.createTempDirectory("graft_lru_reg").toString
    val outDir = Files.createTempDirectory("graft_lru_out").toString
    val cfg = GraftConfig(payloadSchema = schema)
    val sink = new RoutingSink(new FsStreamRegistry(registryRoot),
      new FsStreamPublisher(outDir), cfg, memoCap = 2)

    def batchFor(ids: String*) = ids.zipWithIndex.map { case (id, i) =>
      ("t", Timestamp.valueOf("2026-01-01 10:00:00"), true, s"""{"i":$i}""", id)
    }.toDF("topic", "arrival_ts", "valid", "value", "stream_id")

    sink.processBatch(batchFor("a", "b"), 0)
    assert(sink.ensureCalls == 2)
    sink.processBatch(batchFor("a", "b"), 1) // both resident: no new ensures
    assert(sink.ensureCalls == 2)
    sink.processBatch(batchFor("c"), 2) // cap 2: evicts the LRU entry
    assert(sink.ensureCalls == 3)
    // the evicted id re-ensures (idempotent: fs registry mkdirs no-ops)
    sink.processBatch(batchFor("a", "b", "c"), 3)
    assert(sink.ensureCalls > 3, "an evicted id must re-ensure on re-sight")
    // every id's registry entry exists exactly once despite re-ensures
    val dirs = new java.io.File(registryRoot).listFiles().map(_.getName).toSet
    assert(dirs == Set("a", "b", "c"))
  }

  test("stream-id overflow guard: fail throws, sample rotates, bad mode rejected") {
    def batchFor(ids: String*) = ids.zipWithIndex.map { case (id, i) =>
      ("t", Timestamp.valueOf("2026-01-01 10:00:00"), true, s"""{"i":$i}""", id)
    }.toDF("topic", "arrival_ts", "valid", "value", "stream_id")

    // a misconfigured mode is rejected at construction, not at batch time
    intercept[IllegalArgumentException](new RoutingSink(
      new FsStreamRegistry(Files.createTempDirectory("ofl_bad").toString),
      new FsStreamPublisher(Files.createTempDirectory("ofl_bad_out").toString),
      GraftConfig(payloadSchema = schema, streamIdOverflow = "Sample")))

    // fail mode (default): over-cap cardinality fails the batch loudly
    val failSink = new RoutingSink(
      new FsStreamRegistry(Files.createTempDirectory("ofl_fail").toString),
      new FsStreamPublisher(Files.createTempDirectory("ofl_fail_out").toString),
      GraftConfig(payloadSchema = schema, maxStreamIdsPerBatch = 1))
    intercept[IllegalStateException](failSink.processBatch(batchFor("a", "b"), 0))

    // sample mode: each batch ensures only cap ids, but the window is
    // batch-salted so sustained over-cap traffic cannot permanently
    // starve any id — across batches every id eventually gets ensured
    val regRoot = Files.createTempDirectory("ofl_sample_reg").toString
    val outDir = Files.createTempDirectory("ofl_sample_out").toString
    val sink = new RoutingSink(new FsStreamRegistry(regRoot),
      new FsStreamPublisher(outDir),
      GraftConfig(payloadSchema = schema, maxStreamIdsPerBatch = 1,
        streamIdOverflow = "sample", publicStreams = true))
    val batches = 24
    (0 until batches).foreach(b => sink.processBatch(batchFor("a", "b", "c"), b))
    val dirs = new java.io.File(regRoot).listFiles().map(_.getName).toSet
    assert(dirs == Set("a", "b", "c"),
      s"rotating sample must reach every id, got $dirs")
    // ... with the K2 public grant applied to each once ensured
    assert(new java.io.File(regRoot).listFiles().forall(d =>
      new java.io.File(d, "_public").exists()))
    // and publish was never gated on the sample: every record landed
    assert(spark.read.parquet(outDir).count() == batches * 3L)
  }

  test("replayed micro-batch does not duplicate published rows") {
    val outDir = Files.createTempDirectory("graft_replay_out").toString
    val regDir = Files.createTempDirectory("graft_replay_reg").toString
    val cfg = GraftConfig(payloadSchema = schema)
    val sink = new RoutingSink(new FsStreamRegistry(regDir),
      new FsStreamPublisher(outDir), cfg)
    val batch = Seq(
      ("t", Timestamp.valueOf("2026-01-01 10:00:00"), true, """{"x":1}""", "s1"),
      ("t", Timestamp.valueOf("2026-01-01 10:00:01"), true, """{"x":2}""", "s2"))
      .toDF("topic", "arrival_ts", "valid", "value", "stream_id")

    sink.processBatch(batch, 7)
    sink.processBatch(batch, 7) // foreachBatch at-least-once replay
    sink.processBatch(batch, 8) // a NEW batch still appends
    val out = spark.read.parquet(outDir)
    assert(out.filter(col("batch_id") === 7).count() == 2, "replay must overwrite, not append")
    assert(out.count() == 4)
    // small-files control: one parquet file per (stream, batch) partition
    val s1b7 = new java.io.File(outDir, "stream_id=s1/batch_id=7")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    assert(s1b7.length == 1, s"expected 1 file per (stream, batch), got ${s1b7.length}")
  }

  private val routedSchema = StructType(Seq(
    StructField("topic", StringType), StructField("arrival_ts", TimestampType),
    StructField("valid", BooleanType), StructField("value", StringType),
    StructField("stream_id", StringType)))

  /** A sink input of `rows` records over `routes` stream ids, planned as
    * exactly `partitions` partitions with no stage of its own (as a
    * micro-batch of the MQTT source is).
    */
  private def routedBatch(rows: Int, routes: Int, partitions: Int) = {
    val t = Timestamp.valueOf("2026-01-01 10:00:00")
    val data = (0 until rows).map(i =>
      org.apache.spark.sql.Row("t", t, i % 10 != 9, s"""{"i":$i}""", s"route-${i % routes}"))
    spark.createDataFrame(spark.sparkContext.parallelize(data, partitions), routedSchema)
  }

  /** One warm-up and one counted `processBatch` of `rows` records over 16
    * routes in `partitions` partitions: the counted batch's Spark jobs and
    * its parquet files per (stream, batch) directory.
    */
  private def countedBatch(rows: Int, partitions: Int): (Int, Map[String, Int]) = {
    val outDir = Files.createTempDirectory("graft_jobs_out").toString
    val sink = new RoutingSink(
      new FsStreamRegistry(Files.createTempDirectory("graft_jobs_reg").toString),
      new FsStreamPublisher(outDir), GraftConfig(payloadSchema = schema))
    sink.processBatch(routedBatch(rows, 16, partitions), 0) // first-use planning and codegen
    val batch = routedBatch(rows, 16, partitions)
    assert(batch.queryExecution.toRdd.getNumPartitions == partitions)
    val jobs = jobsRunBy(sink.processBatch(batch, 1))
    assert(spark.read.parquet(outDir).filter(col("batch_id") === 1).count() == rows - rows / 10)
    val files = new java.io.File(outDir).listFiles().filter(_.getName.startsWith("stream_id=")).map { d =>
      d.getName -> new java.io.File(d, "batch_id=1").listFiles().count(_.getName.endsWith(".parquet"))
    }.toMap
    (jobs, files)
  }

  test("sink job plan: a one-partition batch of 16 routes runs exactly 2 Spark jobs") {
    val (jobs, files) = countedBatch(90, 1)
    // the id sample (which fills the cache) and the write; no shuffle
    assert(jobs == 2)
    assert(files.size == 16 && files.values.forall(_ == 1),
      s"expected one file per (stream, batch), got $files")
  }

  test("sink job plan: a batch of several partitions runs at most 3 jobs, one file per (stream, batch)") {
    val (jobs, files) = countedBatch(200, 3)
    // the id sample, then the repartition shuffle and the write
    assert(jobs <= 3, s"expected at most 3 jobs, got $jobs")
    assert(files.size == 16 && files.values.forall(_ == 1),
      s"expected one file per (stream, batch), got $files")
  }

  test("id sample equals the salted-md5 ordered take of the distinct ids, NULL id included") {
    val rnd = new scala.util.Random(20261019L)
    val pool = Vector("a", "b", "route-7", "", "é", "日本/家", "x\u0000y") ++
      (0 until 40).map(i => s"org/home/room$i/stream")
    (0 until 24).foreach { trial =>
      val cap = 1 + rnd.nextInt(12)
      val batchId = if (trial % 5 == 0) -rnd.nextInt(1000).toLong else rnd.nextInt(1 << 20).toLong
      val width = 1 + rnd.nextInt(pool.size)
      val rows = rnd.nextInt(60)
      val withNull = trial % 3 == 0
      val ids = (0 until rows).map { _ =>
        if (withNull && rnd.nextInt(8) == 0) null else pool(rnd.nextInt(width))
      }
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(org.apache.spark.sql.Row(_)), 1 + rnd.nextInt(4)),
        StructType(Seq(StructField("stream_id", StringType))))
      val expected = df.select("stream_id").distinct()
        .orderBy(md5(concat_ws("\u0000", col("stream_id"), lit(batchId))))
        .limit(cap + 1).collect().map(_.getString(0)).toSeq
      val got = RoutingSink.sampleIds(df, cap, batchId).toSeq
      assert(got == expected, s"trial $trial: cap $cap, batch $batchId")
    }
  }

  test("ensure runs for every sampled id before the publish starts") {
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val registry = new StreamRegistry {
      override def ensure(streamId: String, publicRead: Boolean): Unit =
        events.add(s"ensure:$streamId")
    }
    val publisher = new StreamPublisher {
      override def publish(routed: DataFrame, batchId: Long): Unit =
        events.add(s"publish:$batchId:${routed.count()}")
    }
    val sink = new RoutingSink(registry, publisher, GraftConfig(payloadSchema = schema))
    sink.processBatch(routedBatch(40, 4, 2), 5)
    val seen = events.toArray(Array.empty[String]).toSeq
    assert(seen.last == "publish:5:36", seen)
    assert(seen.init.sorted == (0 until 4).map(i => s"ensure:route-$i"), seen)
  }

  test("fixed stream id short-circuits templating (single-stream mode)") {
    val input = Seq(("/a/b/c", """{"on":true,"watts":1.0}""", Timestamp.valueOf("2026-01-01 09:00:00")))
      .toDF("topic", "payload", "arrival_ts")
    val cfg = GraftConfig(fixedStreamId = Some("the-stream"), payloadSchema = schema)
    val routed = GraftPipeline.plan(input, cfg)
    assert(routed.select("stream_id").as[String].head() == "the-stream")
  }

  test("event-time windows with watermark drop late data (additive vs reference)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val counts = mem.toDF().toDF("k", "ts")
      .withWatermark("ts", "1 minute")
      .groupBy(window(col("ts"), "1 minute"), col("k"))
      .count()
      .select(col("window.start").as("ws"), col("k"), col("count"))
    val ck = Files.createTempDirectory("wm_ck").toString
    val q = counts.writeStream.format("memory").queryName("graft_wm")
      .outputMode("append").option("checkpointLocation", ck).start()

    mem.addData(("a", Timestamp.valueOf("2026-01-01 10:00:10")))
    q.processAllAvailable()
    mem.addData(("a", Timestamp.valueOf("2026-01-01 10:05:00"))) // watermark -> 10:04
    q.processAllAvailable()
    mem.addData(("a", Timestamp.valueOf("2026-01-01 10:00:30"))) // late: beyond watermark
    q.processAllAvailable()
    mem.addData(("a", Timestamp.valueOf("2026-01-01 10:10:00"))) // closes 10:05 window
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("graft_wm")
      .select("ws", "count").as[(Timestamp, Long)].collect().toMap
    // 10:00 window emitted with count 1 — the late 10:00:30 row was dropped
    assert(rows(Timestamp.valueOf("2026-01-01 10:00:00")) == 1L)
    assert(rows(Timestamp.valueOf("2026-01-01 10:05:00")) == 1L)
  }

  test("streaming exact dedup drops repeats within the watermark") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String, Timestamp)]
    val input = mem.toDF().toDF("topic", "payload", "arrival_ts")
    val cfg = GraftConfig(payloadSchema = schema)
    val deduped = GraftPipeline.dedupStream(
      GraftPipeline.plan(input, cfg), Seq("topic", "value"), "5 minutes")
    val ck = Files.createTempDirectory("dedup_ck").toString
    val q = deduped.writeStream.format("memory").queryName("graft_dedup")
      .outputMode("append").option("checkpointLocation", ck).start()

    val p = """{"on": true, "watts": 1.0}"""
    mem.addData(
      ("t", p, Timestamp.valueOf("2026-01-01 10:00:00")),
      ("t", p, Timestamp.valueOf("2026-01-01 10:00:30")), // dup within watermark
      ("t", """{"on": true, "watts": 2.0}""", Timestamp.valueOf("2026-01-01 10:00:40")))
    q.processAllAvailable()
    mem.addData(("t", p, Timestamp.valueOf("2026-01-01 10:01:00"))) // still a dup
    q.processAllAvailable()
    q.stop()

    assert(spark.table("graft_dedup").count() == 2) // 1.0-watts once + 2.0-watts
  }

  test("dedupStreamByContent: payload-identical records collapse within the horizon") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Timestamp)]
    val q = GraftPipeline.dedupStreamByContent(
      mem.toDF().toDF("body", "arrival_ts"), "body", watermark = "1 hour")
      .writeStream.format("memory").queryName("graft_dedup_stream")
      .outputMode("append").start()
    val t0 = 1700000000000L
    mem.addData(
      ("the quick brown fox", new Timestamp(t0)),
      ("the quick brown fox", new Timestamp(t0 + 1000)), // dup, same batch
      ("a different document", new Timestamp(t0 + 2000)))
    q.processAllAvailable()
    mem.addData(("the quick brown fox", new Timestamp(t0 + 3000))) // dup, later batch
    q.processAllAvailable()
    q.stop()
    val bodies = spark.table("graft_dedup_stream")
      .select("body").collect().map(_.getString(0)).toSeq
    assert(bodies.sorted == Seq("a different document", "the quick brown fox"))
  }
}
