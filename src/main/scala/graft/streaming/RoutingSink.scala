package graft.streaming

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StringType

/** Destination control-plane: get-or-create a named output stream and
  * optionally grant public read. The reference calls
  * client.getOrCreateStream + grantPermission once per distinct stream id,
  * memoized for the process lifetime (bin/mqtt-streamr.js:10,168-184).
  * Implementations are driver-side only. ensure() MUST be idempotent —
  * the memo in [[RoutingSink]] is a bounded LRU, so an id can be
  * re-ensured after eviction.
  */
trait StreamRegistry extends Serializable {
  def ensure(streamId: String, publicRead: Boolean): Unit
}

/** Stream registry writing one directory per stream (the parquet-backed
  * stand-in for the remote streaming service). Idempotent: mkdirs and
  * marker creation are no-ops when already present.
  *
  * `owner` is the authenticated principal derived from the reference's
  * --private-key credential (bin/mqtt-streamr.js:22-25,67): created
  * streams record it — the ownership analog of creating a stream under
  * an authenticated account.
  */
class FsStreamRegistry(root: String, owner: Option[String] = None) extends StreamRegistry {
  override def ensure(streamId: String, publicRead: Boolean): Unit = {
    val dir = new java.io.File(root, java.net.URLEncoder.encode(streamId, "UTF-8"))
    dir.mkdirs()
    owner.foreach { o =>
      val f = new java.io.File(dir, "_owner")
      if (!f.exists()) java.nio.file.Files.writeString(f.toPath, o)
    }
    if (publicRead) {
      // K2 — the "grant anonymous read" analog: a marker the sink layer
      // (or an object-store ACL in a real deployment) can act on
      new java.io.File(dir, "_public").createNewFile()
    }
  }
}

object FsStreamRegistry {
  /** Principal derivation: the public "address" of a private key,
    * modeled as a hex digest — never the key itself on disk.
    */
  def principalOf(privateKey: String): String = {
    val d = java.security.MessageDigest.getInstance("SHA-256")
      .digest(privateKey.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(16).map(b => f"$b%02x").mkString
  }
}

/** K3 — the publish step as an engine surface. The reference publishes
  * each record to a remote streaming service (bin/mqtt-streamr.js:191-198);
  * deployments plug their transport in here. foreachBatch delivery is
  * at-least-once, so implementations MUST be idempotent per batchId —
  * a replayed batch must not duplicate records downstream.
  */
trait StreamPublisher extends Serializable {
  /** Publish one micro-batch of routed records
    * (columns: topic, arrival_ts, value_json, stream_id).
    */
  def publish(routed: DataFrame, batchId: Long): Unit
}

/** Filesystem publisher: parquet fan-out partitioned by
  * (stream_id, batch_id). Including batchId in the partitioning and
  * writing with dynamic partition overwrite makes a replayed micro-batch
  * overwrite exactly its own partitions — idempotent under foreachBatch's
  * at-least-once replay, without touching other batches' output.
  *
  * Small-files control (SURVEY §7.4#2): without `coalescePerStream`, a
  * batch writes up to tasks × |stream ids| files; repartitioning on
  * stream_id first costs one bounded-by-batch shuffle and writes ONE file
  * per (stream, batch) — the right trade once id cardinality is real.
  * `maxRecordsPerFile` re-splits any hot stream's file so a skewed id
  * can't produce an unboundedly large file.
  *
  * The write resolves `file:` to [[NioLocalFileSystem]] through its own
  * options, which Spark copies into the job's Hadoop conf: the task
  * writers, the committer and the partition-overwrite renames then set
  * each mode bit in-process instead of forking `chmod` per directory,
  * file and `.crc` file (the dominant cost of a fan-out batch where
  * Hadoop has no native library). The output, its checksums and its
  * modes are the same; the session, its conf and the JVM-wide
  * FileSystem cache are untouched (the cache is bypassed for this job).
  *
  * `batch_id` is written from a string literal: the partition directory
  * (`batch_id=<n>`) and the value read back are the same, but a LongType
  * literal would be inlined into the generated code and recompile the
  * write plan every batch.
  */
class FsStreamPublisher(
    outDir: String,
    coalescePerStream: Boolean = true,
    maxRecordsPerFile: Long = 5000000L) extends StreamPublisher {
  override def publish(routed: DataFrame, batchId: Long): Unit = {
    val laidOut = if (coalescePerStream) routed.repartition(col("stream_id")) else routed
    laidOut
      .withColumn("batch_id", lit(batchId.toString))
      .write
      .partitionBy("stream_id", "batch_id")
      .option("fs.file.impl", classOf[NioLocalFileSystem].getName)
      .option("fs.file.impl.disable.cache", "true")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(outDir)
  }
}

/** K1/K2/K3/K4 — the routing sink. Per micro-batch (or per batch run):
  *   1. drop invalid records (the reference already logged+counted them);
  *   2. driver-side: distinct stream ids → ensure each exists via the
  *      registry, memoized like the reference's module-scope cache
  *      (bin/mqtt-streamr.js:10) but LRU-BOUNDED: an unbounded id space
  *      cannot grow driver memory without limit (SCALE.md). Eviction is
  *      safe because ensure() is idempotent — a re-sighted id just
  *      re-ensures.
  *   3. hand all records to the [[StreamPublisher]] (default: partitioned
  *      parquet fan-out, idempotent per batch).
  *
  * Scale notes: the ensure step moves |distinct new ids| strings to the
  * driver per batch — bounded by the id space, not the record count; the
  * data path never collects.
  */
class RoutingSink(
    registry: StreamRegistry,
    publisher: StreamPublisher,
    cfg: GraftConfig,
    memoCap: Int = 10000) extends Serializable {

  // reject a misconfigured overflow mode at construction, not mid-stream:
  // a typo ("Sample", "skip") must not silently become fail-mode crashes
  require(Set("fail", "sample")(cfg.streamIdOverflow),
    s"streamIdOverflow must be 'fail' or 'sample', got '${cfg.streamIdOverflow}'")
  require(cfg.maxStreamIdsPerBatch > 0, "maxStreamIdsPerBatch must be positive")

  def this(registry: StreamRegistry, outDir: String, cfg: GraftConfig) =
    this(registry, new FsStreamPublisher(outDir), cfg)

  // driver-side LRU memo (access-ordered): one ensure per distinct stream
  // id while it stays resident; re-ensure (idempotent) after eviction
  private val ensured = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, java.lang.Boolean](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Boolean]): Boolean =
        size() > memoCap
    })

  private val ensureCount = new AtomicLong(0L)

  /** Number of ensure() calls actually performed (for tests/metrics). */
  def ensureCalls: Long = ensureCount.get()

  def processBatch(batch: Dataset[Row], batchId: Long): Unit = {
    // Two actions consume this batch (distinct-ids collect, then the
    // partitioned write). Persist so the source isn't re-executed — which
    // would both redo the parse/transform work AND double-count the
    // pipeline's observe() metrics (CollectMetrics accumulates per
    // execution, not per batch).
    batch.persist()
    try doProcess(batch, batchId) finally batch.unpersist()
  }

  private def doProcess(batch: Dataset[Row], batchId: Long): Unit = {
    val routed = batch.filter(col("valid")).drop("valid")
    if (cfg.verbose) {
      // K4 verbose: log a bounded sample of routed records, never collect all
      routed.limit(20).collect().foreach(r => println(s"[graft][$batchId] $r"))
    }
    if (!cfg.dryRun) {
      val cap = cfg.maxStreamIdsPerBatch
      // sort+limit compiles to TakeOrderedAndProject — bounded driver
      // memory (cap+1 rows) whatever the id cardinality; the +1 row is
      // the overflow probe. The sort key is a batch-salted hash, NOT the
      // id itself: under sustained over-cap cardinality a fixed order
      // would starve the same tail ids of ensure() every batch (their
      // records still publish but never get _owner/_public markers);
      // salting with batchId rotates which ids make the window, so every
      // id is eventually ensured. Replay stays deterministic — the same
      // batchId yields the same sampled set.
      val ids = routed.select("stream_id").distinct()
        .orderBy(md5(concat_ws("\u0000", col("stream_id"), lit(batchId))))
        .limit(cap + 1).collect().map(_.getString(0))
      if (ids.length > cap) cfg.streamIdOverflow match {
        case "sample" =>
          System.err.println(s"[graft][$batchId] distinct stream ids exceed " +
            s"max-stream-ids=$cap; ensuring a rotating sample of $cap " +
            "(remaining ids ensure in later batches; check the stream-id " +
            "template)")
        case "fail" =>
          throw new IllegalStateException(s"batch $batchId: distinct stream " +
            s"ids exceed max-stream-ids=$cap — the stream-id template is " +
            "likely deriving ids from unbounded message content; fix the " +
            "template or set --stream-id-overflow sample")
      }
      ids.take(cap).foreach { id =>
        // get() touches the LRU access order; only a miss pays an ensure
        if (ensured.get(id) == null) {
          registry.ensure(id, cfg.publicStreams) // K1 + K2
          ensureCount.incrementAndGet()
          ensured.put(id, java.lang.Boolean.TRUE)
        }
      }
      // routing-only pipelines carry the raw payload string as `value`;
      // schema'd pipelines carry a struct — serialize those to JSON
      val valueJson =
        if (routed.schema("value").dataType == StringType) col("value")
        else to_json(col("value"))
      publisher.publish(
        routed.withColumn("value_json", valueJson).drop("value"), batchId)
    }
  }

  /** Attach as a foreachBatch streaming sink. */
  def attach(writer: DataStreamWriter[Row]): DataStreamWriter[Row] =
    writer.foreachBatch((df: Dataset[Row], id: Long) => processBatch(df, id))
}
