package bridgebench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.StructType
import graft.MqttTestBroker
import graft.streaming._

/** The two bridge workloads: MQTT in, parse, JSONata transform, route,
  * publish to the parquet sink. The harness plays the producer (through
  * the broker) and wraps the sink's registry and publisher to time them;
  * the program sees only the generated messages.
  */
object Bridge {
  val Sites = 16
  val DevicesPerSite = 8
  val PayloadSchema: StructType = StructType.fromDDL("seq BIGINT, dev STRING, temp DOUBLE")
  val Transform = """{"seq": seq, "dev": $uppercase(dev), "level": temp > 30 ? "hot" : "ok", "t2": temp * 2 + 32}"""
  val OutputSchema = "seq BIGINT, dev STRING, level STRING, t2 DOUBLE"
  val DurableStream = "bench/durable"

  /** Open-loop send rate of bridge_fanout, in messages per second. */
  val FanoutRate = 200
  /** Backlog drained by bridge_durable, per second of --seconds. */
  val DurablePerSecond = 700
  /** Triggers the durable backlog is cut into (maxrecordsperbatch). */
  val DurableTriggers = 16
  /** Width of the windows latency_p99_ms is taken over. */
  val LatencyWindowS = 2L
  val SetupRepeats = 3
  val WarmupMessages = 32
  private val WarmupSeqBase = 1000000000L
  private val PreRollSeqBase = 2000000000L
  /** Traffic sent, untimed, between set-up and the measured window, so
    * the measured triggers run on warmed-up code: seconds of the open
    * loop, and messages of the durable backlog (about 8 triggers).
    */
  val PreRollS = 2
  val DurablePreRoll = 2800
  private val WaitCapMs = 60000L

  final case class Msg(seq: Long, topic: String, payload: Array[Byte], wellFormed: Boolean,
      site: Int, dev: Int, temp: Double) {
    def expectedValue: (String, String, Double) =
      (s"DEV$dev", if (temp > 30) "hot" else "ok", temp * 2 + 32)
  }

  /** The seeded message stream: topics `sensors/site<k>/dev<j>`, payload
    * values, and which 1 % of payloads are truncated (malformed) JSON.
    */
  def messages(seed: Long, n: Int, seqBase: Long, malformed: Boolean = true): Array[Msg] = {
    val rnd = new java.util.Random(seed)
    Array.tabulate(n) { i =>
      val seq = seqBase + i
      val site = rnd.nextInt(Sites)
      val dev = rnd.nextInt(DevicesPerSite)
      val temp = rnd.nextInt(500) / 10.0
      val ok = !malformed || rnd.nextInt(100) != 0
      val body = s"""{"seq":$seq,"dev":"dev$dev","temp":$temp}"""
      val text = if (ok) body else body.substring(0, body.length - 8)
      Msg(seq, s"sensors/site$site/dev$dev", text.getBytes(UTF_8), ok, site, dev, temp)
    }
  }

  def await(what: => String, capMs: Long = WaitCapMs)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + capMs * 1000000L
    while (!cond) {
      if (System.nanoTime() > deadline) throw new RunTimeout(s"timed out after ${capMs}ms waiting for $what")
      Thread.sleep(2)
    }
  }

  /** Times `publish` and remembers when each batch's call returned: the
    * end of every message latency.
    */
  final class TimedPublisher(inner: StreamPublisher, tracer: Tracer) extends StreamPublisher {
    val calls = new ConcurrentHashMap[Long, (Long, Long)]()
    override def publish(routed: DataFrame, batchId: Long): Unit = {
      val t0 = System.nanoTime()
      tracer.span("sink.publish", s"batch-$batchId", "sink.process_batch")(inner.publish(routed, batchId))
      calls.put(batchId, (t0, System.nanoTime()))
    }
  }

  final class TimedRegistry(inner: StreamRegistry, tracer: Tracer) extends StreamRegistry {
    val nanos = new AtomicLong()
    @volatile var batch = -1L
    override def ensure(streamId: String, publicRead: Boolean): Unit = {
      val t0 = System.nanoTime()
      tracer.span("sink.ensure", s"batch-$batch", "sink.process_batch")(inner.ensure(streamId, publicRead))
      nanos.addAndGet(System.nanoTime() - t0)
    }
  }

  /** One running bridge: its own broker, source, pipeline, sink and
    * directories.
    */
  final class Instance(spark: SparkSession, a: RunArgs, idx: Int, cfg: GraftConfig,
      sourceOptions: File => Map[String, String], tracer: Tracer, log: ProgressLog) {
    val dir = new File(a.work, s"bridge$idx")
    val outDir = new File(dir, "out")
    val broker = new MqttTestBroker()
    val publisher = new TimedPublisher(new FsStreamPublisher(outDir.getPath), tracer)
    val registry = new TimedRegistry(new FsStreamRegistry(new File(dir, "streams").getPath), tracer)
    val sink = new RoutingSink(registry, publisher, cfg)
    val stats = new StatsListener((_, _) => ())
    val processNanos = new ConcurrentHashMap[Long, Long]()
    var query: StreamingQuery = _

    def start(onProgress: StreamingQueryProgress => Unit): Unit = {
      val stream = spark.readStream.format("mqtt")
        .option("url", broker.url)
        .option("topics", "sensors/#")
        .options(sourceOptions(dir))
        .load()
      // the stats wiring of graft.GraftApp
      val routed = GraftPipeline.plan(stream, cfg)
        .observe("graft_stats",
          sum(when(col("valid"), 1L).otherwise(0L)).as("success"),
          sum(when(!col("valid"), 1L).otherwise(0L)).as("error"))
      query = routed.writeStream
        .foreachBatch((df: Dataset[Row], id: Long) => processBatch(df, id))
        .option("checkpointLocation", new File(dir, "checkpoint").getPath)
        .start()
      log.forwardTo(query.id, stats, onProgress)
    }

    private def processBatch(df: Dataset[Row], id: Long): Unit = {
      registry.batch = id
      val t0 = System.nanoTime()
      tracer.span("sink.process_batch", s"batch-$id", "engine.trigger")(sink.processBatch(df, id))
      processNanos.put(id, System.nanoTime() - t0)
    }

    def inputRows: Long = log.inputRows(query.id)

    def stop(): Unit = {
      try if (query != null) query.stop() finally broker.close()
    }
  }

  private def config(fixed: Option[String]): GraftConfig = GraftConfig(
    truncateTopicLevels = 1, transform = Some(Transform), payloadSchema = PayloadSchema,
    fixedStreamId = fixed)

  /** Brings a bridge up `SetupRepeats` times — start, subscribe, deliver a
    * warm-up burst to the sink — and keeps the last one running. Returns it
    * with the median bring-up time.
    */
  private def bringUp(spark: SparkSession, a: RunArgs, cfg: GraftConfig, opts: File => Map[String, String],
      tracer: Tracer, log: ProgressLog, onProgress: StreamingQueryProgress => Unit): (Instance, Double) = {
    var setups = Vector.empty[Double]
    var live: Instance = null
    for (i <- 1 to SetupRepeats) {
      val t0 = System.nanoTime()
      val inst = new Instance(spark, a, i, cfg, opts, tracer, log)
      try {
        inst.start(onProgress)
        await(s"the bridge to subscribe (setup $i)")(inst.broker.subscriberCount > 0)
        messages(a.seed + i, WarmupMessages, WarmupSeqBase + i * 1000L, malformed = false)
          .foreach(m => inst.broker.publishBytes(m.topic, m.payload))
        await(s"$WarmupMessages warm-up messages (setup $i), ${inst.inputRows} seen")(
          inst.inputRows >= WarmupMessages)
        setups :+= (System.nanoTime() - t0) / 1e9
      } catch { case t: Throwable => inst.stop(); throw t }
      if (i < SetupRepeats) inst.stop() else live = inst
    }
    (live, Stats.median(setups))
  }

  final case class Sunk(seq: Long, streamId: String, batchId: Long, dev: String, level: String, t2: Double)

  private def readSink(spark: SparkSession, inst: Instance): Seq[Sunk] =
    spark.read.parquet(inst.outDir.getPath)
      .select(col("stream_id"), col("batch_id").cast("long").as("batch_id"),
        from_json(col("value_json"), StructType.fromDDL(OutputSchema)).as("v"))
      .select("v.seq", "stream_id", "batch_id", "v.dev", "v.level", "v.t2")
      .collect().toSeq
      .map(r => Sunk(r.getLong(0), r.getString(1), r.getLong(2), r.getString(3), r.getString(4), r.getDouble(5)))

  /** Runs the shared measured phase: `produce` sends `msgs` and returns
    * each message's reference time (scheduled send for the open loop,
    * the burst start for the backlog). Output checks, latencies and layer
    * metrics follow, outside the timed region.
    */
  private def measure(spark: SparkSession, a: RunArgs, tracer: Tracer, exec: ExecCounters,
      fixedStream: Option[String], opts: File => Map[String, String], preRoll: Array[Msg], msgs: Array[Msg],
      exactlyOnce: Boolean)(
      produce: (Instance, AtomicLong, () => Unit) => (Array[Long], Array[Long])): (Map[String, Double], Outcome) = {
    val log = new ProgressLog
    spark.streams.addListener(log)
    val cfg = config(fixedStream)
    val sent = new AtomicLong()
    val backlogMax = new AtomicLong()
    @volatile var measuring = false
    val warmRows = WarmupMessages.toLong
    var inst: Instance = null
    val onProgress: StreamingQueryProgress => Unit = p =>
      if (measuring && inst != null) {
        val backlog = sent.get - (inst.inputRows - warmRows)
        backlogMax.accumulateAndGet(backlog, math.max)
      }
    val (instance, setupS) = bringUp(spark, a, cfg, opts, tracer, log, onProgress)
    inst = instance
    Main.note(f"bridge up, median set-up $setupS%.2fs")
    val expectedRows = warmRows + preRoll.length + msgs.length
    var due: Array[Long] = null
    var lagNs: Array[Long] = null
    var exec0 = exec.snapshot
    var gc0 = Probes.gcMs
    var t0 = System.nanoTime()
    // called by the producer when the pre-roll is over
    val begin = () => {
      exec0 = exec.snapshot
      gc0 = Probes.gcMs
      t0 = System.nanoTime()
      tracer.fromUs = Clock.toUs(t0)
    }
    var heapMb = 0.0
    try {
      measuring = true
      val (d, l) = produce(inst, sent, begin)
      due = d
      lagNs = l
      await(s"${msgs.length} messages; ${expectedRows - inst.inputRows} missing")(inst.inputRows >= expectedRows)
      measuring = false
      heapMb = Probes.heapUsedMb
    } finally inst.stop()
    Main.note("measured phase done")
    val wallS = (System.nanoTime() - t0) / 1e9
    val layers = Map.newBuilder[String, Double]
    layers ++= Probes.exec(exec0, exec.snapshot, wallS)
    layers += "jvm.gc_ms" -> (Probes.gcMs - gc0).toDouble
    layers += "jvm.heap_used_mb" -> heapMb

    // ---- output checks -------------------------------------------------
    val measuredBatches = inst.publisher.calls.asScala.filter { case (_, (s, _)) => s >= t0 }
    val sunk = readSink(spark, inst).filter(_.seq < WarmupSeqBase)
    val bySeq = sunk.groupBy(_.seq)
    var problems = Vector.empty[String]
    var failed = 0L
    // (window of the reference time, latency ms)
    var latMs = Vector.empty[(Long, Double)]
    msgs.foreach { m =>
      val got = bySeq.getOrElse(m.seq, Nil)
      val expectStream = fixedStream.getOrElse(s"sensors/site${m.site}")
      val bad =
        if (!m.wellFormed) got.nonEmpty
        else got.isEmpty || (exactlyOnce && got.size != 1) ||
          got.exists(s => s.streamId != expectStream || (s.dev, s.level, s.t2) != m.expectedValue)
      if (bad) {
        failed += 1
        if (problems.size < 5) problems :+= s"message ${m.seq}: expected " +
          (if (m.wellFormed) s"once under $expectStream with ${m.expectedValue}" else "no output") +
          s", got ${got.mkString("; ")}"
      } else if (got.nonEmpty) {
        val first = got.minBy(_.batchId)
        Option(inst.publisher.calls.get(first.batchId)).foreach { case (_, end) =>
          val ref = due(m.seq.toInt)
          latMs :+= (((ref - due(0)) / (LatencyWindowS * 1000000000L)), (end - ref) / 1e6)
        }
      }
    }
    val unexpected = bySeq.keySet.count(s => s < 0 || s >= msgs.length)
    if (unexpected > 0) { failed += unexpected; problems :+= s"$unexpected outputs with unknown seq" }
    val malformed = msgs.count(!_.wellFormed).toLong
    val wellFormed = msgs.length - malformed
    val (success, error) = inst.stats.counts
    if (error != malformed) problems :+= s"stats.error=$error, expected the $malformed malformed payloads"
    if (exactlyOnce && success != warmRows + preRoll.length + wellFormed)
      problems :+= s"stats.success=$success, expected ${warmRows + preRoll.length + wellFormed}"
    if (failed > 0) problems :+= s"$failed of ${msgs.length} messages failed the output check"

    // ---- end-to-end ----------------------------------------------------
    val lastReturn = if (measuredBatches.isEmpty) t0 else measuredBatches.values.map(_._2).max
    val firstRef = due.min
    val delivered = msgs.length - malformed - failed
    // p99 is taken per window of the schedule and the median reported:
    // one slow trigger sets a whole-run p99 on its own
    val windows = latMs.groupBy(_._1).values.map(w => Stats.quantile(w.map(_._2), 0.99)).toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.quantile(latMs.map(_._2), 0.5),
      "latency_p99_ms" -> Stats.median(windows),
      "throughput_ops_s" -> delivered / ((lastReturn - firstRef) / 1e9))

    // ---- per layer -----------------------------------------------------
    val triggers = log.progresses(inst.query.id)
      .filter(p => p.numInputRows > 0 && measuredBatches.contains(p.batchId))
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    val trigMs = triggers.map(dur(_, "triggerExecution"))
    val publishMs = measuredBatches.values.map { case (s, e) => (e - s) / 1e6 }.toSeq
    val processMs = measuredBatches.keys.flatMap(b => Option(inst.processNanos.get(b))).map(_ / 1e6).toSeq
    val routes = sunk.groupBy(_.batchId).values.map(_.map(_.streamId).distinct.size.toDouble).toSeq
    val dups = sunk.size - bySeq.size
    layers ++= Seq(
      "loadgen.lag_p99_ms" -> Stats.quantile(lagNs.toSeq.map(_ / 1e6), 0.99),
      "loadgen.backlog_max_msgs" -> backlogMax.get.toDouble,
      "source.latest_offset_ms" -> Stats.mean(triggers.map(dur(_, "latestOffset"))),
      "source.rows_per_trigger" -> Stats.mean(triggers.map(_.numInputRows.toDouble)),
      "engine.triggers" -> triggers.size.toDouble,
      "engine.trigger_ms_p50" -> Stats.quantile(trigMs, 0.5),
      "engine.trigger_ms_p99" -> Stats.quantile(trigMs, 0.99),
      "engine.query_planning_ms" -> Stats.mean(triggers.map(dur(_, "queryPlanning"))),
      "engine.wal_commit_ms" -> Stats.mean(triggers.map(dur(_, "walCommit"))),
      "engine.commit_offsets_ms" -> Stats.mean(triggers.map(dur(_, "commitOffsets"))),
      "engine.add_batch_ms" -> Stats.mean(triggers.map(dur(_, "addBatch"))),
      "sink.process_batch_ms" -> Stats.mean(processMs),
      "sink.ensure_ms" -> inst.registry.nanos.get / 1e6,
      "sink.ensure_calls" -> inst.sink.ensureCalls.toDouble,
      "sink.routes_per_batch" -> Stats.mean(routes),
      "sink.publish_ms" -> Stats.mean(publishMs),
      "sink.publish_share" -> (if (trigMs.sum > 0) publishMs.sum / trigMs.sum else 0.0),
      "sink.duplicates" -> dups.toDouble,
      "stats.success" -> success.toDouble,
      "stats.error" -> error.toDouble)
    if (!exactlyOnce && dups > 0) System.err.println(s"[bridgebench] sink.duplicates=$dups")
    if (a.trace) layers += "pipeline.eval_ms_per_10k" -> pipelineEval(spark, cfg, msgs)
    val (compiles, compileMs) = Probes.codegen
    layers += "codegen.compiles" -> compiles.toDouble
    layers += "codegen.compile_ms" -> compileMs
    spark.streams.removeListener(log)

    val triggerSpans = triggers.map { p =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
      Span("engine.trigger", s"batch-${p.batchId}", "", s, s + (dur(p, "triggerExecution") * 1000).toLong)
    }
    (layers.result(), Outcome(endToEnd, msgs.length, failed, problems, triggerSpans))
  }

  /** `GraftPipeline.plan` over a static frame of the same envelopes:
    * parse and transform cost without the source or the sink, in ms per
    * 10k messages (median of three after one warm-up).
    */
  private def pipelineEval(spark: SparkSession, cfg: GraftConfig, msgs: Array[Msg]): Double = {
    val ts = new java.sql.Timestamp(System.currentTimeMillis())
    val rows = msgs.toSeq.map(m => Row(m.topic, m.payload, ts))
    val env = spark.createDataFrame(spark.sparkContext.parallelize(rows, spark.sparkContext.defaultParallelism),
      GraftPipeline.envelopeSchema).cache()
    env.count()
    def once(): Double = {
      val t0 = System.nanoTime()
      GraftPipeline.plan(env, cfg).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e6
    }
    once()
    val ms = Stats.median(Seq.fill(3)(once()))
    env.unpersist()
    ms * 10000.0 / msgs.length
  }

  /** bridge_fanout: an open loop at [[FanoutRate]] messages/s over 16
    * routes, QoS 0. Latency runs from each message's scheduled send time
    * to the return of the publish call that wrote it.
    */
  def fanout(spark: SparkSession, a: RunArgs, tracer: Tracer, exec: ExecCounters): (Map[String, Double], Outcome) = {
    val pre = messages(a.seed + PreRollSeqBase, FanoutRate * PreRollS, PreRollSeqBase, malformed = false)
    val msgs = messages(a.seed, FanoutRate * a.seconds, 0L)
    measure(spark, a, tracer, exec, None, _ => Map.empty, pre, msgs, exactlyOnce = true) { (inst, sent, begin) =>
      // one schedule: the pre-roll, then the measured messages
      val all = pre ++ msgs
      val periodNs = 1000000000L / FanoutRate
      val start = System.nanoTime() + 20000000L
      val due = Array.tabulate(all.length)(i => start + i * periodNs)
      val lag = new Array[Long](all.length)
      val gen = new Thread(() => {
        var i = 0
        while (i < all.length) {
          var now = System.nanoTime()
          while (now < due(i)) { LockSupport.parkNanos(due(i) - now); now = System.nanoTime() }
          if (i == pre.length) begin()
          inst.broker.publishBytes(all(i).topic, all(i).payload)
          lag(i) = System.nanoTime() - due(i)
          sent.incrementAndGet()
          i += 1
        }
      }, "bridgebench-loadgen")
      gen.setDaemon(true)
      gen.start()
      gen.join((a.seconds + 30) * 1000L)
      if (gen.isAlive) throw new RunTimeout(s"load generator stalled after ${sent.get} of ${all.length} messages")
      (due.drop(pre.length), lag.drop(pre.length))
    }
  }

  /** bridge_durable: QoS 1 with the write-ahead log and one fixed stream
    * id. A backlog is published as fast as the broker takes it and drained
    * in [[DurableTriggers]] admission-capped triggers. Latency runs from
    * the first message of the burst to the return of the publish call that
    * wrote the message.
    */
  def durable(spark: SparkSession, a: RunArgs, tracer: Tracer, exec: ExecCounters): (Map[String, Double], Outcome) = {
    val n = DurablePerSecond * a.seconds
    val msgs = messages(a.seed, n, 0L)
    val opts = (dir: File) => Map("qos" -> "1", "waldir" -> new File(dir, "wal").getPath,
      "maxrecordsperbatch" -> ((n + DurableTriggers - 1) / DurableTriggers).toString)
    val pre = messages(a.seed + PreRollSeqBase, DurablePreRoll, PreRollSeqBase, malformed = false)
    measure(spark, a, tracer, exec, Some(DurableStream), opts, pre, msgs, exactlyOnce = false) { (inst, sent, begin) =>
      pre.foreach { m => inst.broker.publishBytes(m.topic, m.payload); sent.incrementAndGet() }
      await(s"the ${pre.length}-message pre-roll")(inst.inputRows >= WarmupMessages + pre.length)
      begin()
      val first = System.nanoTime()
      msgs.foreach { m => inst.broker.publishBytes(m.topic, m.payload); sent.incrementAndGet() }
      // a backlog's latency counts from the start of the burst, so p50
      // and p99 are the times until half and 99 % of it are committed
      (Array.fill(n)(first), new Array[Long](0))
    }
  }
}
