package graft.sources.mqtt

import java.util
import org.apache.spark.internal.Logging
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** S1 — MQTT streaming source as a DataSource V2 MicroBatchStream:
  *
  *   spark.readStream.format("mqtt")
  *     .option("url", "tcp://host:1883")
  *     .option("topics", "a/+/c,b/#")        // wildcards per MQTT spec
  *     .load()                               // topic, payload, arrival_ts
  *
  * Mirrors the reference's subscription surface (bin/mqtt-streamr.js:
  * 119-139: connect, per-topic subscribe incl. +/# wildcards) with its
  * delivery guarantee BY DEFAULT (QoS 0 / at-most-once, fire-and-forget):
  * messages buffer on the driver between micro-batches and ship to
  * executors inside the planned partitions (the MemoryStream/rate-source
  * pattern — MQTT has no replayable log, so there is nothing an executor
  * could re-read; the reconnect-on-idle watchdog lives INSIDE the
  * client, SURVEY §7.4#4). Offsets are cumulative received counts;
  * commit() trims the buffer.
  *
  * AT-LEAST-ONCE upgrade (r13, SURVEY §7.4#3 — beyond the reference,
  * which is fire-and-forget by design): two independent options close
  * the two loss windows:
  *
  *   .option("qos", "1")      // broker→driver leg: QoS 1 subscribe;
  *                            // broker holds messages until PUBACK and
  *                            // redelivers (DUP) after reconnect
  *   .option("waldir", path)  // driver→checkpoint leg: every drained
  *                            // message is appended to an offset-
  *                            // stamped write-ahead segment BEFORE its
  *                            // offset is exposed to Spark; PUBACK is
  *                            // sent only AFTER the segment is on disk
  *                            // (ack-after-persist), and restart
  *                            // recovery reloads [committed, received)
  *                            // from the segments instead of re-basing
  *                            // past the lost messages
  *
  * With both set, a message is either still unacked at the broker or
  * durable in the WAL at every instant — at-least-once end to end
  * (segments are fsynced, file and directory, BEFORE the PUBACK, so the
  * claim covers OS/power crashes, not just process crashes).
  * Duplicates (broker redelivery, replayed micro-batches) are possible
  * by contract; the pipeline's dedup operators own them downstream.
  * commit(end) prunes fully-committed segments, so WAL size is bounded
  * by the uncommitted horizon (~one trigger's admission), not stream
  * length. Segments are written to a temp file and atomically renamed;
  * a torn write from a crash mid-append is invisible to recovery.
  *
  * THE COMPOSED EFFECTIVELY-ONCE CONTRACT: this source is deliberately
  * at-least-once; exactly-once output is the composition
  * `qos=1 + waldir → dedupStreamByContent → idempotent per-batch-id
  * publisher (FsStreamPublisher)`. EffectivelyOnceSpec pins it end to
  * end: DUP redelivery of every in-flight message + a crash before the
  * checkpoint commit (WAL replay at original offsets) + a sink-visible
  * foreachBatch replay together produce output identical to a
  * failure-free run.
  */
class MqttSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "mqtt"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    graft.streaming.GraftPipeline.envelopeSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MqttTable(schema, properties.asScala.map { case (k, v) => k.toLowerCase -> v }.toMap)
}

class MqttTable(schema: StructType, options: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"mqtt(${options.getOrElse("url", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new MqttMicroBatchStream(options)
      }
    }
}

case class MqttOffset(count: Long) extends Offset {
  override def json(): String = count.toString
}

case class MqttInputPartition(rows: Array[(String, Array[Byte], Long)]) extends InputPartition

class MqttMicroBatchStream(options: Map[String, String]) extends MicroBatchStream
    with Logging {
  private val url = options.getOrElse("url",
    throw new IllegalArgumentException("mqtt source requires option 'url'"))
  private val topics = options.getOrElse("topics", "#").split(",").map(_.trim).toSeq
  private val timeoutMs =
    options.get("datatimeoutsecs").map(_.toLong * 1000).getOrElse(900000L)
  // admission control: cap the records admitted per micro-batch so a
  // burst doesn't produce one giant batch (backlog drains over later
  // triggers). It does not bound what the driver buffers between
  // triggers: the client queue behind it is unbounded
  private val maxPerBatch =
    options.get("maxrecordsperbatch").map(_.toInt).getOrElse(Int.MaxValue)
  // batch parallelism: slice each admitted range into ~this many records
  // per task so one large drain doesn't serialize the downstream pipeline
  // into a single task
  private val targetPerPartition =
    math.max(1, options.get("targetrecordsperpartition").map(_.toInt).getOrElse(2000))
  private val qos = options.get("qos").map(_.toInt).getOrElse(0)
  private val walDir = options.get("waldir")

  // driver-side state: total received count = offset; buffer holds
  // [committedBase, received) pending messages
  private var client: MqttClient = _
  private val buffer = scala.collection.mutable.ArrayBuffer.empty[MqttMessage]
  private var committedBase = 0L
  private var received = 0L

  // AT-LEAST-ONCE restart recovery (construction time, before any drain):
  // adopt the WAL's surviving state as if the messages had just been
  // received — buffer holds [firstSegmentStart, lastSegmentEnd) at their
  // ORIGINAL offsets, so the checkpoint's restart batch re-reads the very
  // rows the crashed incarnation lost from memory. Segments are written
  // tmp-then-rename, so every listed segment is complete, and drains
  // write start=received, so concatenation in start order is contiguous.
  // If the checkpoint is somehow AHEAD of the WAL (crash between offset
  // commit and prune has the opposite, overlapping shape), rebase's
  // renumber turns the stale entries into replays — duplicates, never
  // loss, which is exactly the at-least-once contract.
  locally {
    val files = walFiles()
    if (files.nonEmpty) {
      committedBase = files.head._1
      files.foreach { case (_, _, f) => buffer ++= walReadSegment(f) }
      received = committedBase + buffer.length
    }
  }

  private def ensureClient(): MqttClient = synchronized {
    if (client == null) {
      // ack-after-persist only makes sense with a WAL; without one, the
      // client acks on receipt (the loss window shrinks to driver memory)
      client = new MqttClient(url, topics, dataTimeoutMillis = timeoutMs,
        subscribeQos = qos, autoAck = walDir.isEmpty).start()
      // no throw: the client keeps retrying in the background, as the
      // reference's client does; the warning makes a dead URL visible
      if (!client.awaitConnected()) {
        val cause = Option(client.lastCause.get())
          .map(e => s"${e.getClass.getName}: ${e.getMessage}").getOrElse("none recorded")
        logWarning(s"mqtt source: no connection to $url yet " +
          s"(last cause: $cause); still retrying")
      }
    }
    client
  }

  // ---- write-ahead segments (at-least-once, option "waldir") ------------
  // one file per drain: wal-<start offset, 20 digits>-<count>; contents:
  //   int count, then per message: UTF topic, int len, payload bytes,
  //   long arrivalMillis. Temp-write + atomic rename => no torn reads;
  //   count in the name lets commit-time pruning skip reading segments.

  private def walFiles(): Seq[(Long, Int, java.io.File)] =
    walDir.toSeq.flatMap { d =>
      val dir = new java.io.File(d)
      Option(dir.listFiles()).getOrElse(Array.empty).toSeq
        .filter(f => f.isFile && f.getName.startsWith("wal-"))
        .map { f =>
          val parts = f.getName.stripPrefix("wal-").split("-")
          (parts(0).toLong, parts(1).toInt, f)
        }
        .sortBy(_._1)
    }

  private def walWrite(start: Long, msgs: Seq[MqttMessage]): Unit =
    walDir.foreach { d =>
      val dir = new java.io.File(d)
      dir.mkdirs()
      val tmp = new java.io.File(dir, f".wal-$start%020d.tmp")
      val fos = new java.io.FileOutputStream(tmp)
      val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(fos))
      try {
        out.writeInt(msgs.length)
        msgs.foreach { m =>
          out.writeUTF(m.topic)
          out.writeInt(m.payload.length)
          out.write(m.payload)
          out.writeLong(m.arrivalMillis)
        }
        out.flush()
        // durable BEFORE the PUBACK: an acked message must survive an
        // OS/power crash, not just a process crash
        fos.getFD.sync()
      } finally out.close()
      val fin = new java.io.File(dir, f"wal-$start%020d-${msgs.length}%d")
      if (!tmp.renameTo(fin)) throw new java.io.IOException(s"wal rename failed: $fin")
      // the rename itself lives in the directory entry — fsync it too
      val dch = java.nio.channels.FileChannel.open(dir.toPath,
        java.nio.file.StandardOpenOption.READ)
      try dch.force(true) finally dch.close()
    }

  private def walReadSegment(f: java.io.File): Seq[MqttMessage] = {
    val in = new java.io.DataInputStream(
      new java.io.BufferedInputStream(new java.io.FileInputStream(f)))
    try {
      val n = in.readInt()
      (0 until n).map { _ =>
        val topic = in.readUTF()
        val len = in.readInt()
        val payload = new Array[Byte](len)
        in.readFully(payload)
        MqttMessage(topic, payload, in.readLong())
      }
    } finally in.close()
  }

  private def walPrune(committed: Long): Unit =
    walFiles().foreach { case (start, n, f) =>
      if (start + n <= committed) f.delete() // fully below the committed line
    }

  override def initialOffset(): Offset = MqttOffset(0)

  override def latestOffset(): Offset = synchronized {
    val drained = ensureClient().poll(maxPerBatch)
    if (drained.nonEmpty) {
      // WAL first: an offset is exposed to Spark only once its message
      // is durable; PUBACK only after that (ack-after-persist)
      walWrite(received, drained)
      buffer ++= drained
      received += drained.length
      if (walDir.isDefined && qos > 0)
        client.ack(drained.filter(_.qos > 0).map(_.packetId))
    }
    MqttOffset(received)
  }

  /** Restart re-base: a deserialized checkpoint offset strictly ahead of
    * this (fresh) instance's counters means we restarted — the messages
    * numbered [received, o) belong to the previous incarnation and are
    * gone at QoS 0. Shift both counters so pending buffered messages
    * renumber to [o, o + buffer.length): offsets stay monotonic in the
    * checkpoint log and nothing received after restart is silently
    * dropped by the slice in planInputPartitions. In-session offsets are
    * always <= received, so this never fires mid-stream.
    */
  private def rebase(o: Long): Unit = synchronized {
    if (o > received) {
      committedBase = o
      received = o + buffer.length
    }
  }

  override def deserializeOffset(json: String): Offset = {
    val o = json.toLong
    rebase(o)
    MqttOffset(o)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    synchronized {
      val s = start.asInstanceOf[MqttOffset].count
      rebase(s) // belt-and-braces if deserializeOffset was bypassed
      val e = end.asInstanceOf[MqttOffset].count
      // offsets before the committed base are gone (no replay at QoS 0)
      val from = math.max(s, committedBase)
      // payload ships as raw bytes (reference fidelity: the Buffer reaches
      // JSON.parse undecoded, bin/mqtt-streamr.js:144); the pipeline
      // decodes in-plan and drop-counts malformed UTF-8
      val rows = buffer.slice((from - committedBase).toInt, (e - committedBase).toInt)
        .map(m => (m.topic, m.payload, m.arrivalMillis * 1000L))
        .toArray
      // one task per ~targetPerPartition records: a large drained batch
      // fans out across executor threads instead of serializing the
      // whole downstream pipeline into a single task
      if (rows.length <= targetPerPartition) Array(MqttInputPartition(rows))
      else rows.grouped(targetPerPartition).map(MqttInputPartition(_)).toArray[InputPartition]
    }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => new PartitionReader[InternalRow] {
      private val rows = partition.asInstanceOf[MqttInputPartition].rows
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.length }
      override def get(): InternalRow = {
        val (topic, payload, micros) = rows(i)
        InternalRow(UTF8String.fromString(topic), payload, micros)
      }
      override def close(): Unit = ()
    }

  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[MqttOffset].count
    if (e > committedBase) {
      buffer.dropInPlace((e - committedBase).toInt)
      committedBase = e
      walPrune(e)
    }
  }

  override def stop(): Unit = synchronized {
    if (client != null) client.close()
  }
}
