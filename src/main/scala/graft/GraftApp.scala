package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.streaming._

/** The bridge as a runnable CLI — the reference's own surface
  * (bin/mqtt-streamr.js:12-68): same options, same defaults, same
  * required set (--mqtt-url, --topic), running the full pipeline
  * MQTT source → parse → transform → route → partitioned sink with
  * interval stats and idle watchdog.
  *
  * Usage:
  *   runMain graft.GraftApp --mqtt-url tcp://host:1883 --topic 'a/+/c'
  *     [--topic 'b/#']... [--stream-id ID | --stream-id-template TPL]
  *     [--truncate-topic N] [--transform JSONATA] [--private-key KEY]
  *     [--payload-schema 'a INT, b STRING' | --infer-schema
  *      [--infer-sample N] [--infer-timeout SECS]] [--public] [--dry-run]
  *     [--verbose] [--log-interval SECS] [--reconnect-on-data-timeout SECS]
  *     [--max-stream-ids N] [--stream-id-overflow fail|sample]
  *     --out-dir DIR [--registry-dir DIR] [--checkpoint DIR] [--once]
  *
  * `--once` processes everything available then exits (for scripted runs
  * and tests); without it the query runs until terminated, with the
  * stats timer printing+resetting every log-interval like the reference.
  */
object GraftApp {

  case class AppArgs(
      cfg: GraftConfig,
      outDir: String,
      registryDir: String,
      checkpoint: String,
      once: Boolean,
      /** --publish-mqtt-url: publish routed records back out over MQTT
        * (topic = stream_id) instead of the parquet fan-out — the
        * reference's per-record remote publish (js:191-198).
        */
      publishMqttUrl: Option[String] = None)

  def parseArgs(args: Array[String]): AppArgs = {
    var cfg = GraftConfig()
    var topics = Vector.empty[String]
    var outDir = ""
    var registryDir = ""
    var checkpoint = ""
    var once = false
    var publishMqttUrl = Option.empty[String]
    var i = 0
    def next(): String = { i += 1; require(i < args.length, s"missing value for ${args(i - 1)}"); args(i) }
    while (i < args.length) {
      args(i) match {
        case "--mqtt-url" => cfg = cfg.copy(mqttUrl = next())
        case "--topic" => topics :+= next()
        case "--stream-id" => cfg = cfg.copy(fixedStreamId = Some(next()))
        case "--stream-id-template" => cfg = cfg.copy(streamIdTemplate = next())
        case "--truncate-topic" => cfg = cfg.copy(truncateTopicLevels = next().toInt)
        case "--transform" => cfg = cfg.copy(transform = Some(next()))
        case "--private-key" => cfg = cfg.copy(privateKey = Some(next()))
        case "--payload-schema" => cfg = cfg.copy(payloadSchema = StructType.fromDDL(next()))
        case "--infer-schema" => cfg = cfg.copy(inferSchema = true)
        case "--infer-sample" => cfg = cfg.copy(inferSampleSize = next().toInt)
        case "--infer-timeout" => cfg = cfg.copy(inferTimeoutSecs = next().toInt)
        case "--public" => cfg = cfg.copy(publicStreams = true)
        case "--dry-run" => cfg = cfg.copy(dryRun = true)
        case "--verbose" => cfg = cfg.copy(verbose = true)
        case "--log-interval" => cfg = cfg.copy(logIntervalSecs = next().toInt)
        case "--max-stream-ids" => cfg = cfg.copy(maxStreamIdsPerBatch = next().toInt)
        case "--stream-id-overflow" => cfg = cfg.copy(streamIdOverflow = next())
        case "--reconnect-on-data-timeout" => cfg = cfg.copy(dataTimeoutSecs = next().toInt)
        case "--out-dir" => outDir = next()
        case "--publish-mqtt-url" => publishMqttUrl = Some(next())
        case "--registry-dir" => registryDir = next()
        case "--checkpoint" => checkpoint = next()
        case "--once" => once = true
        case other => throw new IllegalArgumentException(s"unknown option $other")
      }
      i += 1
    }
    // required options, as in the reference (js:67); --private-key stays
    // OPTIONAL (documented divergence: the fs registry needs no auth);
    // when given, created streams record the derived principal
    require(cfg.mqttUrl.nonEmpty, "--mqtt-url is required")
    require(topics.nonEmpty, "--topic is required (repeatable)")
    require(outDir.nonEmpty, "--out-dir is required")
    require(Set("fail", "sample")(cfg.streamIdOverflow),
      s"--stream-id-overflow must be 'fail' or 'sample', got '${cfg.streamIdOverflow}'")
    require(cfg.maxStreamIdsPerBatch > 0, "--max-stream-ids must be positive")
    if (registryDir.isEmpty) registryDir = outDir + "/_streams"
    if (checkpoint.isEmpty) checkpoint =
      java.nio.file.Files.createTempDirectory("graft-ck").toString
    AppArgs(cfg.copy(topics = topics), outDir, registryDir, checkpoint, once,
      publishMqttUrl)
  }

  /** Sample up to `sampleSize` live payloads (or until `timeoutMillis`)
    * from the broker and infer the payload schema with Spark's JSON
    * inference (`spark.read.json` over the sample — the public API behind
    * schema_of_json, which also unions differing field sets across
    * records). The sampler is a plain driver-side subscriber; it
    * disconnects before the streaming source starts.
    */
  def inferPayloadSchema(spark: SparkSession, mqttUrl: String, topics: Seq[String],
      sampleSize: Int, timeoutMillis: Long): StructType = {
    val client = new graft.sources.mqtt.MqttClient(mqttUrl, topics,
      clientId = s"graft-infer-${java.util.UUID.randomUUID()}",
      dataTimeoutMillis = 0).start()
    val sample = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      require(client.awaitConnected(timeoutMillis),
        s"--infer-schema: could not connect to $mqttUrl within ${timeoutMillis}ms")
      val deadline = System.currentTimeMillis() + timeoutMillis
      while (sample.length < sampleSize && System.currentTimeMillis() < deadline) {
        client.poll(sampleSize - sample.length)
          .foreach(m => sample += new String(m.payload, java.nio.charset.StandardCharsets.UTF_8))
        if (sample.length < sampleSize) Thread.sleep(50)
      }
    } finally client.close()
    require(sample.nonEmpty,
      s"--infer-schema: no payloads arrived within ${timeoutMillis}ms — " +
        "publish sample traffic or pass --payload-schema")
    import spark.implicits._
    val inferred = spark.read.json(spark.createDataset(sample.toSeq)).schema
    // malformed sample records surface as a corrupt-record column; the
    // pipeline has its own drop-and-count path for those
    val cleaned = StructType(inferred.filterNot(_.name == "_corrupt_record"))
    require(cleaned.nonEmpty,
      s"--infer-schema: none of the ${sample.length} sampled payloads parsed " +
        "as JSON objects — check the producer or pass --payload-schema")
    cleaned
  }

  def main(args: Array[String]): Unit = {
    val app = parseArgs(args)
    val cfg = app.cfg
    // spark-submit injects spark.master; direct runMain gets local[*]
    val master = sys.props.get("spark.master")
      .orElse(sys.env.get("SPARK_MASTER")).getOrElse("local[*]")
    val spark = GraftSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      .appName("graft-mqtt-bridge")
      .master(master)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfgResolved =
      if (cfg.inferSchema && cfg.payloadSchema.isEmpty) {
        val inferred = inferPayloadSchema(spark, cfg.mqttUrl, cfg.topics,
          cfg.inferSampleSize, cfg.inferTimeoutSecs * 1000L)
        println(s"[graft] inferred payload schema: ${inferred.toDDL}")
        cfg.copy(payloadSchema = inferred)
      } else cfg

    val stream = spark.readStream.format("mqtt")
      .option("url", cfg.mqttUrl)
      .option("topics", cfg.topics.mkString(","))
      .option("dataTimeoutSecs", cfg.dataTimeoutSecs)
      .load()

    val routed = GraftPipeline.plan(stream, cfgResolved)
      .observe("graft_stats",
        sum(when(col("valid"), 1L).otherwise(0L)).as("success"),
        sum(when(!col("valid"), 1L).otherwise(0L)).as("error"))

    val registry = new FsStreamRegistry(app.registryDir,
      cfg.privateKey.map(FsStreamRegistry.principalOf))
    val publisher: StreamPublisher = app.publishMqttUrl match {
      case Some(u) => new MqttStreamPublisher(u, spark)
      case None => new FsStreamPublisher(app.outDir)
    }
    val sink = new RoutingSink(registry, publisher, cfgResolved)
    val stats = new StatsListener()
    spark.streams.addListener(stats)

    val query = sink.attach(routed.writeStream)
      .option("checkpointLocation", app.checkpoint)
      .start()

    if (app.once) {
      // drain until quiescent: a publish burst may still be in flight
      // between broker and driver buffer when the first drain finishes
      var stable = 0
      var last = (-1L, -1L)
      while (stable < 5) {
        query.processAllAvailable()
        val c = stats.counts
        if (c == last) stable += 1 else { stable = 0; last = c }
        Thread.sleep(200)
      }
      stats.report()
      query.stop()
      spark.streams.removeListener(stats)
      // no spark.stop(): the CLI JVM exits; under getOrCreate the session
      // may be shared (tests), and stopping it would break the sharer
    } else {
      // reference Logger: print + reset every interval (src/Logger.js:6,17-21)
      val timer = new java.util.Timer("graft-stats", true)
      timer.scheduleAtFixedRate(new java.util.TimerTask {
        override def run(): Unit = stats.report()
      }, cfg.logIntervalSecs * 1000L, cfg.logIntervalSecs * 1000L)
      query.awaitTermination()
    }
  }
}
