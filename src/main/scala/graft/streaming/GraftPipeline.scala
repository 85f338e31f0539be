package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.PipelineFunctions._
import graft.jsonata.JsonataCompiler

/** Engine configuration mirroring the reference's CLI surface
  * (bin/mqtt-streamr.js:12-68; option semantics README.md:17-87).
  * One field per reference option, same defaults.
  */
case class GraftConfig(
    mqttUrl: String = "",
    topics: Seq[String] = Seq("#"),
    /** --stream-id: fixed single-stream mode, disables templating (js:40-42,162-163) */
    fixedStreamId: Option[String] = None,
    /** --stream-id-template, `$topic` substituted (js:36-39,166) */
    streamIdTemplate: String = "$topic",
    /** --truncate-topic levels; <=0 = identity (js:43-47,99-106) */
    truncateTopicLevels: Int = 0,
    /** --transform: JSONata expression (js:48-51,108,157-159) */
    transform: Option[String] = None,
    /** schema of the JSON payloads (Spark is schema-first; `schema_of_json`
      * on a sample can infer this for exploration) */
    payloadSchema: StructType = StructType(Nil),
    /** --public: grant anonymous read on created streams (js:31-35,173-181) */
    publicStreams: Boolean = false,
    /** --dry-run: skip create+publish (js:62-66,164,192) */
    dryRun: Boolean = false,
    /** --verbose: log every routed record (js:26-30,187-189) */
    verbose: Boolean = false,
    /** --private-key: the reference's auth credential (js:22-25, required
      * js:67). The fs registry needs no auth, so it's optional here
      * (documented divergence); when given, the derived principal is
      * recorded on each created stream — the ownership analog.
      */
    privateKey: Option[String] = None,
    /** --infer-schema: sample live payloads at startup and infer
      * payloadSchema with Spark's JSON inference — closes the
      * schemaless-reference UX gap (a reference user never writes a
      * schema; js parses per message at run time). Sampling consumes a
      * startup window of the QoS-0 stream, like the reference missing
      * messages published before it connects.
      */
    inferSchema: Boolean = false,
    /** --infer-sample: payload count to sample for inference */
    inferSampleSize: Int = 64,
    /** --infer-timeout seconds: max wait for the sample window */
    inferTimeoutSecs: Int = 10,
    /** --log-interval seconds (js:52-56), default 60 */
    logIntervalSecs: Int = 60,
    /** --max-stream-ids: cap on per-batch DISTINCT stream ids collected
      * to the driver for the ensure step (extension surface, not a
      * reference option — the reference's module-scope memo at js:10 has
      * the same unbounded exposure). An adversarial or misconfigured
      * topic space (a per-message uuid in the stream-id template, say)
      * must degrade LOUDLY at the guard, not quietly on driver memory:
      * past the cap the batch fails (streamIdOverflow = "fail",
      * default) or ensures a batch-rotated sample of cap ids and logs
      * the overflow (streamIdOverflow = "sample"; publish still covers
      * every record, the sample window rotates with batchId so no id is
      * permanently starved of ensure(), and ensure() is idempotent).
      */
    maxStreamIdsPerBatch: Int = 100000,
    /** --stream-id-overflow: "fail" | "sample" (see maxStreamIdsPerBatch) */
    streamIdOverflow: String = "fail",
    /** --reconnect-on-data-timeout seconds, 0 disables (js:57-61) */
    dataTimeoutSecs: Int = 900)

/** The reference's per-message pipeline as one declarative DataFrame plan:
  * source envelope → JSON parse w/ drop-and-count (F1) → JSONata transform
  * (T1) → topic truncation (T2) + stream-id templating (T3) → routed
  * records. Works identically over a batch DataFrame or a streaming one
  * (readStream) — the plan is the same; Structured Streaming handles
  * incremental execution.
  */
object GraftPipeline {

  /** Envelope schema: the unit of data is (topic, raw payload BYTES,
    * arrival time) — bin/mqtt-streamr.js:144 plus the processing-time
    * clock (src/Logger.js:6). Payload stays binary at the source boundary
    * exactly as the reference's Buffer does; [[plan]] decodes it in-plan
    * and routes undecodable bytes into the F1 drop-and-count path.
    */
  val envelopeSchema: StructType = StructType(Seq(
    StructField("topic", StringType),
    StructField("payload", BinaryType),
    StructField("arrival_ts", TimestampType)))

  /** Full pipeline: input must have envelopeSchema columns. Output columns:
    * topic, arrival_ts, stream_id, valid (payload parsed ok), value
    * (transformed payload struct; null when invalid or transform yields
    * null). Invalid records are KEPT with valid=false so the stats layer
    * can count them (the reference logs+drops at js:149-155 and counts at
    * Logger.js:13-15); the sink drops them.
    */
  def plan(input0: DataFrame, cfg: GraftConfig): DataFrame = {
    require(cfg.transform.isEmpty || cfg.payloadSchema.nonEmpty,
      "a --transform needs a --payload-schema to resolve field references " +
        "(this engine is schema-first; the reference infers at run time)")
    // Binary envelopes (the MQTT source) are decoded here, in-plan: strict
    // UTF-8, NULL on malformed bytes, staged behind a Generate barrier so
    // the decode runs once per row however many consumers reference it.
    // A NULL payload fails JSON validity below => valid=false => the same
    // drop-and-count path as unparseable JSON (reference js:149-155).
    // String envelopes (batch tables, tests) pass through untouched.
    val input = input0.schema("payload").dataType match {
      case BinaryType => stageBarrier(input0,
        Seq(col("topic"), col("arrival_ts")),
        "payload" -> decodeUtf8Strict(col("payload")))
      case _ => input0
    }
    val streamId: Column = cfg.fixedStreamId match {
      case Some(id) => fixedStreamId(id) // constant-folds the whole derivation
      case None => streamIdTemplate(
        cfg.streamIdTemplate,
        topicTruncate(col("topic"), cfg.truncateTopicLevels))
    }
    if (cfg.payloadSchema.isEmpty) {
      // routing-only: no fields are read, so validity is a single variant
      // parse (JSON.parse acceptance incl. scalar roots, js:151) and the
      // record itself is carried as the raw payload string
      val valid = jsonIsValid(col("payload"))
      input.select(
        col("topic"), col("arrival_ts"),
        valid.as("valid"),
        when(valid, col("payload")).as("value"),
        streamId.as("stream_id"))
    } else {
      // single-parse barrier: `p` is an attribute here on out — validity,
      // the transform, and every field reference read the SAME parse
      // (the reference also parses exactly once, js:149-155)
      val staged = stageBarrier(input, Seq(col("topic"), col("arrival_ts")),
        "p" -> parseJsonLenient(col("payload"), cfg.payloadSchema))
      val valid = parseOk(col("p"))
      val value: Column = cfg.transform match {
        case Some(expr) => JsonataCompiler.compile(expr, col("p"), cfg.payloadSchema)
        case None => parsedPayload(col("p"), cfg.payloadSchema)
      }
      staged.select(
        col("topic"), col("arrival_ts"),
        valid.as("valid"),
        // malformed payloads never reach the transform in the reference
        // (parse returns at js:154); mask so value is NULL when invalid
        when(valid, value).as("value"),
        streamId.as("stream_id"))
    }
  }

  /** Streaming exact dedup: drop records whose key columns repeat within
    * the watermark horizon — the streaming form of dedup_exact (state
    * bounded by the watermark; at 100 TB the state store holds one entry
    * per distinct key seen inside the horizon, not per record).
    */
  def dedupStream(routed: DataFrame, keyCols: Seq[String],
      watermark: String = "10 minutes"): DataFrame =
    routed
      .withWatermark("arrival_ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Content-keyed streaming exact dedup — the batch dedup_exact as a
    * stream, layered on [[dedupStream]]: the dedup key is the md5
    * FINGERPRINT of the payload text, not the text itself, so a state row
    * costs 32 bytes + timestamp whatever the document size — at
    * 100 TB/day the state store holds the horizon's distinct-hash set,
    * never its text.
    */
  def dedupStreamByContent(routed: DataFrame, textCol: String,
      watermark: String = "10 minutes"): DataFrame =
    dedupStream(routed.withColumn("fp", md5(col(textCol))), Seq("fp"), watermark)
}
