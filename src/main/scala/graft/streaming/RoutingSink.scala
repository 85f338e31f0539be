package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import java.util.concurrent.atomic.AtomicLong
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.{BasicWriteJobStatsTracker, FileFormatWriter}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import scala.jdk.CollectionConverters._

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
  * Job plan: the routed frame, `batch_id` included, is planned once, and
  * that physical plan both decides the layout and is written: one Spark
  * job, the write. A partitioned write sorts each task's rows by the
  * partition columns, so a task writes one file per (stream, batch) it
  * holds, and a frame planned as ONE partition (every MQTT trigger under
  * 2,000 rows) is written as it is, with no shuffle. A frame spread over
  * more partitions (or one whose plan runs its own stages, so its
  * partition count is not known before it runs) is first repartitioned
  * on stream_id — one bounded-by-batch shuffle, a second job — so a
  * stream's rows land in one task (SURVEY §7.4#2, small-files control);
  * without it the write would make up to tasks × |stream ids| files.
  * `maxRecordsPerFile` re-splits any hot stream's file so a
  * skewed id can't produce an unboundedly large file.
  *
  * The plan goes straight to Spark's file writer, as
  * `InsertIntoHadoopFsRelationCommand` runs a path-based dynamic
  * overwrite (same commit protocol, staging directory, parquet writer and
  * write statistics; the tree, modes, `.crc` files and footers equal a
  * `DataFrameWriter` write's), without planning a write command around
  * it.
  *
  * The task ships a lean Hadoop conf (`FsStreamPublisher.writeConf`):
  * the session's conf with the write's options, minus every entry whose
  * only source is a Hadoop `*-default.xml`. A task rebuilds its conf from
  * the shipped entries alone, without loading defaults, so a dropped
  * entry reads as the code default the default file repeats (but a kept
  * value that names a dropped entry in `${…}` would not expand); what a
  * site file, `spark.hadoop.*`, the SQL conf, the options or the parquet
  * writer set is kept. The task carries the conf twice (job conf and
  * write-statistics tracker), so the full conf — about 1,100 entries —
  * made deserializing it most of the task's launch cost.
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
    maxRecordsPerFile: Long = 5000000L) extends StreamPublisher {
  override def publish(routed: DataFrame, batchId: Long): Unit = {
    val batch = routed.withColumn("batch_id", lit(batchId.toString))
    val planned = batch.queryExecution
    val written =
      if (!onePartition(planned.executedPlan))
        batch.repartition(col("stream_id")).queryExecution
      else planned
    write(written)
  }

  private def write(qe: QueryExecution): Unit = {
    val session = qe.sparkSession
    val options = Map(
      "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
      "fs.file.impl.disable.cache" -> "true",
      "maxRecordsPerFile" -> maxRecordsPerFile.toString)
    val conf = FsStreamPublisher.writeConf(session, options)
    val path = new Path(outDir)
    val fs = path.getFileSystem(conf)
    val qualified = path.makeQualified(fs.getUri, fs.getWorkingDirectory)
    val jobId = UUID.randomUUID().toString
    val committer = FileCommitProtocol.instantiate(
      session.sessionState.conf.fileCommitProtocolClass, jobId, qualified.toString,
      dynamicPartitionOverwrite = true)
    // dynamic overwrite: tasks write under a staging directory that the
    // job commit renames over exactly the partitions it wrote
    val staging = FileCommitProtocol.getStagingDir(qualified.toString, jobId)
      .makeQualified(fs.getUri, fs.getWorkingDirectory)
    val plan = qe.executedPlan
    val partitionColumns = Seq("stream_id", "batch_id").map(n => plan.output.find(_.name == n).get)
    SQLExecution.withNewExecutionId(qe) {
      FileFormatWriter.write(
        sparkSession = session,
        plan = plan,
        fileFormat = new ParquetFileFormat,
        committer = committer,
        outputSpec = FileFormatWriter.OutputSpec(staging.toString, Map.empty, plan.output),
        hadoopConf = conf,
        partitionColumns = partitionColumns,
        bucketSpec = None,
        statsTrackers = Seq(new BasicWriteJobStatsTracker(
          new SerializableConfiguration(conf), BasicWriteJobStatsTracker.metrics)),
        options = options)
    }
    session.sharedState.cacheManager.recacheByPath(session, qualified, fs)
  }

  /** Whether `plan` runs as one partition. An adaptive plan counts as
    * more: its partition count is only known once its stages have run.
    */
  private def onePartition(plan: SparkPlan): Boolean = plan match {
    case _: AdaptiveSparkPlanExec => false
    case _ => plan.execute().getNumPartitions == 1
  }
}

object FsStreamPublisher {
  /** The Hadoop conf a write ships to its tasks:
    * `newHadoopConfWithOptions(options)` without the entries whose only
    * source is a Hadoop `*-default.xml`, in a conf that loads no
    * defaults (so a later `reloadConfiguration` cannot bring them back).
    * Kept entries keep their source.
    */
  private def writeConf(session: SparkSession, options: Map[String, String]): Configuration = {
    val full = session.sessionState.newHadoopConfWithOptions(options)
    val lean = new Configuration(false)
    full.iterator().asScala.foreach { e =>
      val sources = Option(full.getPropertySources(e.getKey)).getOrElse(Array.empty[String])
      val defaultOnly = sources.length == 1 && sources(0).endsWith("-default.xml")
      if (!defaultOnly) lean.set(e.getKey, e.getValue, sources.headOption.orNull)
    }
    lean
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
  * Job plan: two Spark jobs per batch of one partition (every MQTT
  * trigger under 2,000 rows). The first is one narrow pass over the
  * persisted batch that fills the cache and returns at most cap+1 stream
  * ids ([[RoutingSink.sampleIds]]); the second is the publisher's write,
  * which reads the cache. A batch of more partitions adds the
  * publisher's repartition shuffle as a third job.
  *
  * Scale notes: each task sends at most cap+1 id strings to the driver,
  * which holds at most 2 × (cap+1) while it merges them — bounded by the
  * cap, not by the id space or the record count; the data path never
  * collects.
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
    // Two jobs read this batch (the id sample, then the publisher's
    // write). Persist so the source isn't re-executed — which
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
      // at most cap+1 ids, ordered by a batch-salted hash; the +1 id is
      // the overflow probe. The sort key is NOT the id itself: under
      // sustained over-cap cardinality a fixed order would starve the
      // same tail ids of ensure() every batch (their records still
      // publish but never get _owner/_public markers); salting with
      // batchId rotates which ids make the window, so every id is
      // eventually ensured. Replay stays deterministic — the same
      // batchId yields the same sampled set.
      val ids = RoutingSink.sampleIds(routed, cap, batchId)
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

object RoutingSink {
  /** The distinct `stream_id`s of `routed` with the cap+1 smallest keys,
    * in key order. The key is the lower-case md5 hex of
    * `stream_id ␀ batchId`; a NULL id keys on the md5 of `batchId` alone,
    * as `md5(concat_ws(␀, stream_id, batchId))` does (concat_ws skips
    * NULLs).
    *
    * One narrow job: each task keeps only its own cap+1 smallest distinct
    * ids, and the driver merges the task results pairwise as they
    * arrive, so it holds at most 2 × (cap+1) ids at once — the bound of
    * `orderBy(key).limit(cap + 1)`, which needs an aggregate shuffle for
    * the `distinct` and a second job for the ordered take.
    */
  private[graft] def sampleIds(routed: DataFrame, cap: Int, batchId: Long): Array[String] = {
    val n = cap + 1
    val salt = batchId.toString
    routed.select("stream_id").queryExecution.toRdd
      .mapPartitions(rows => Iterator(smallestKeys(rows, n, salt)))
      .fold(Array.empty[(String, String)])(mergeSmallest(n))
      .map(_._2)
  }

  /** One task's (key, id) pairs: its n smallest-keyed distinct ids. */
  private def smallestKeys(rows: Iterator[InternalRow], n: Int,
      salt: String): Array[(String, String)] = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    val saltBytes = salt.getBytes(UTF_8)
    val hex = java.util.HexFormat.of()
    val byKey = new java.util.TreeMap[String, UTF8String]()
    val keyOf = new java.util.HashMap[UTF8String, String]()
    rows.foreach { r =>
      val id = if (r.isNullAt(0)) null else r.getUTF8String(0)
      // an id already kept is not hashed again
      if (!keyOf.containsKey(id)) {
        if (id != null) { md5.update(id.getBytes); md5.update(0: Byte) }
        val key = hex.formatHex(md5.digest(saltBytes))
        if (byKey.size < n || key < byKey.lastKey) {
          val kept = if (id == null) null else id.clone() // rows are reused
          byKey.put(key, kept)
          keyOf.put(kept, key)
          if (byKey.size > n) keyOf.remove(byKey.pollLastEntry().getValue)
        }
      }
    }
    byKey.entrySet.asScala.iterator
      .map(e => (e.getKey, Option(e.getValue).map(_.toString).orNull)).toArray
  }

  private def mergeSmallest(n: Int)(a: Array[(String, String)],
      b: Array[(String, String)]): Array[(String, String)] =
    (a ++ b).distinct.sortBy(_._1).take(n)
}
