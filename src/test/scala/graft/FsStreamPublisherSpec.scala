package graft

import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._

import graft.streaming.{FsStreamPublisher, NioLocalFileSystem}

/** The commit protocol Spark would use, recording the Hadoop conf each
  * write task received (key → its recorded sources).
  */
class ConfRecordingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def setupTask(taskContext: TaskAttemptContext): Unit = {
    val conf = taskContext.getConfiguration
    ConfRecordingCommitProtocol.seen.add(conf.iterator().asScala.map { e =>
      e.getKey -> Option(conf.getPropertySources(e.getKey)).map(_.toSeq).getOrElse(Nil)
    }.toMap)
    super.setupTask(taskContext)
  }
}

object ConfRecordingCommitProtocol {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Seq[String]]]()
}

/** The fan-out publisher's write path: [[NioLocalFileSystem]] lays out
  * the same tree with the same mode bits and checksums as Hadoop's stock
  * `file:` filesystem, without forking a process per file; every write
  * branch matches a stock `DataFrameWriter` write, footers included; the
  * task ships no Hadoop default-only conf entry; and the write plan does
  * not recompile per batch id.
  */
class FsStreamPublisherSpec extends SparkTestBase {
  import spark.implicits._

  private val Routes = 16

  /** One batch of routed records over `Routes` stream ids. */
  private def routed(rows: Int = 160): DataFrame =
    (0 until rows).map(i => ("t", new java.sql.Timestamp(1767261600000L + i),
      s"""{"i":$i}""", s"s${i % Routes}"))
      .toDF("topic", "arrival_ts", "value_json", "stream_id")

  private def mode(p: NioPath): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  /** Relative path (job UUIDs blanked) → mode, for every entry under `root`. */
  private def modes(root: String): Map[String, Int] = {
    val base = java.nio.file.Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base).map { p =>
      base.relativize(p).toString.replaceAll("[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID") -> mode(p)
    }.toMap
    finally walk.close()
  }

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** `frame` written by the stock `DataFrameWriter` as the publisher
    * writes it, through the JVM's cached stock LocalFileSystem.
    */
  private def stockWrite(frame: DataFrame, batchId: Long, maxRecordsPerFile: Long = 5000000L): String = {
    val ref = tmp("pub_stock")
    frame.withColumn("batch_id", lit(batchId.toString))
      .write.partitionBy("stream_id", "batch_id")
      .option("partitionOverwriteMode", "dynamic")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite").parquet(ref)
    ref
  }

  private def partitions(df: DataFrame): Int = df.queryExecution.toRdd.getNumPartitions

  private def parquetFiles(m: Map[String, Int]): Int = m.keys.count(_.endsWith(".parquet"))

  private def nioFs(): NioLocalFileSystem = {
    val fs = new NioLocalFileSystem
    fs.initialize(java.net.URI.create("file:///"), new Configuration())
    fs
  }

  test("a 16-route publish writes the tree, checksums and modes the stock filesystem writes") {
    val out = tmp("pub_nio")
    new FsStreamPublisher(out).publish(routed(), 3)
    // the same write as before through the JVM's cached stock LocalFileSystem
    val ref = tmp("pub_stock")
    routed().repartition(col("stream_id")).withColumn("batch_id", lit(3L))
      .write.partitionBy("stream_id", "batch_id")
      .option("partitionOverwriteMode", "dynamic").mode("overwrite").parquet(ref)

    val (got, want) = (modes(out), modes(ref))
    assert(got == want)
    assert(got.count { case (k, _) => k.endsWith(".parquet") } == Routes)
    assert(got.count { case (k, _) => k.endsWith(".parquet.crc") } == Routes)
    assert(got.collect { case (k, m) if k.endsWith(".crc") => m }.toSet == Set(0x1a4)) // 0644
    assert(got.collect { case (k, m) if Files.isDirectory(java.nio.file.Paths.get(out, k)) => m }
      .toSet == Set(0x1ed)) // 0755
    assert(spark.read.parquet(out).filter(col("batch_id") === 3).count() == 160)
  }

  test("explicit 0640 and 0750 permissions are applied in-process") {
    val fs = nioFs()
    try {
      val root = tmp("nio_perm")
      val dir = new Path(s"file://$root/d")
      assert(fs.mkdirs(dir, new FsPermission(Integer.parseInt("750", 8).toShort)))
      assert(mode(java.nio.file.Paths.get(root, "d")) == Integer.parseInt("750", 8))
      val file = new Path(dir, "f")
      fs.create(file).close()
      fs.setPermission(file, new FsPermission(Integer.parseInt("640", 8).toShort))
      assert(mode(java.nio.file.Paths.get(root, "d", "f")) == Integer.parseInt("640", 8))
      assert(fs.getFileStatus(file).getPermission.toShort == Integer.parseInt("640", 8))
    } finally fs.close()
  }

  test("a sticky-bit permission defers to Hadoop's own setPermission") {
    val fs = nioFs()
    try {
      val root = tmp("nio_sticky")
      // NIO cannot express the sticky bit: seeing it set proves the
      // RawLocalFileSystem path ran
      fs.setPermission(new Path(s"file://$root"),
        new FsPermission(Integer.parseInt("1755", 8).toShort))
      assert(mode(java.nio.file.Paths.get(root)) == Integer.parseInt("1755", 8))
    } finally fs.close()
  }

  test("publishing a 16-route batch starts no chmod or readlink process") {
    val out = tmp("pub_forks")
    val publisher = new FsStreamPublisher(out)
    val batch = routed()
    publisher.publish(batch, 1) // warm: class loading, codegen
    val rec = new jdk.jfr.Recording()
    val dump = Files.createTempFile("pub_forks", ".jfr")
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      publisher.publish(batch, 2)
      rec.stop()
      rec.dump(dump)
      val started = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala
        .map(_.getString("command"))
      val forks = started.filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
      assert(forks.size == 0, s"e.g. ${forks.take(3).mkString("; ")}")
    } finally {
      rec.close()
      Files.deleteIfExists(dump)
    }
    assert(spark.read.parquet(out).count() == 320)
  }

  test("a new batch id does not recompile the write plan") {
    val publisher = new FsStreamPublisher(tmp("pub_codegen"))
    val batch = routed()
    publisher.publish(batch, 10)
    val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    publisher.publish(batch, 11)
    assert(compiles.getCount - before == 0)
  }

  test("a one-partition frame is written unshuffled, as the stock writer writes it") {
    val frame = routed().coalesce(1)
    assert(partitions(frame) == 1)
    val out = tmp("pub_one")
    assert(jobsRunBy(new FsStreamPublisher(out).publish(frame, 4)) == 1) // the write alone
    val got = modes(out)
    assert(got == modes(stockWrite(frame, 4)))
    assert(parquetFiles(got) == Routes)
  }

  test("a frame of several partitions is repartitioned on stream_id, as the stock writer writes it") {
    val frame = routed().repartition(3, col("topic"), col("arrival_ts"))
    assert(partitions(frame) == 3)
    val out = tmp("pub_many")
    new FsStreamPublisher(out).publish(frame, 5)
    val got = modes(out)
    assert(got == modes(stockWrite(frame.repartition(col("stream_id")), 5)))
    assert(parquetFiles(got) == Routes) // one file per stream, not up to 3 × 16
  }

  test("maxRecordsPerFile splits a stream's file as the stock writer splits it") {
    val out = tmp("pub_split")
    new FsStreamPublisher(out, maxRecordsPerFile = 4).publish(routed(), 6)
    val got = modes(out)
    assert(got == modes(stockWrite(routed().repartition(col("stream_id")), 6, maxRecordsPerFile = 4)))
    assert(parquetFiles(got) == Routes * 3) // 10 rows a stream: 4 + 4 + 2
    assert(spark.read.parquet(out).count() == 160)
  }

  test("a 16-route publish writes the parquet footers the stock writer writes") {
    val out = tmp("pub_footer")
    new FsStreamPublisher(out).publish(routed(), 7)
    val ref = stockWrite(routed().repartition(col("stream_id")), 7)

    /** Relative file path (UUID blanked) → what its footer records. */
    def footers(root: String): Map[String, Seq[Any]] = {
      val conf = new Configuration()
      val base = java.nio.file.Paths.get(root)
      val walk = Files.walk(base)
      try walk.iterator().asScala.filter(_.toString.endsWith(".parquet")).map { p =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(p.toUri), conf))
        val footer = try reader.getFooter finally reader.close()
        val meta = footer.getFileMetaData
        val blocks = footer.getBlocks.asScala.toSeq.map { b =>
          (b.getRowCount, b.getColumns.asScala.toSeq.map { c =>
            (c.getPath.toDotString, c.getCodec, c.getEncodings.asScala.toSet)
          })
        }
        base.relativize(p).toString.replaceAll(
          "[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID") ->
          Seq(meta.getSchema, meta.getKeyValueMetaData.asScala.toMap, meta.getCreatedBy, blocks)
      }.toMap
      finally walk.close()
    }

    val (got, want) = (footers(out), footers(ref))
    assert(got.size == Routes)
    assert(got == want)
  }

  test("a publish ships its tasks no Hadoop conf entry that only a *-default.xml sets") {
    ConfRecordingCommitProtocol.seen.clear()
    withSQLConf("spark.sql.sources.commitProtocolClass" ->
        classOf[ConfRecordingCommitProtocol].getName) {
      new FsStreamPublisher(tmp("pub_conf")).publish(routed().coalesce(1), 8)
    }
    val confs = ConfRecordingCommitProtocol.seen.asScala.toSeq
    assert(confs.size == 1, "one write task")
    val conf = confs.head
    info(s"${conf.size} entries shipped")
    val defaultOnly = conf.collect {
      case (k, Seq(src)) if src.endsWith("-default.xml") => s"$k ($src)"
    }.toSeq
    val n = defaultOnly.size
    assert(n == 0, s"of ${conf.size}, e.g. ${defaultOnly.take(3).mkString(", ")}")
    // what the write itself sets is shipped
    assert(conf.contains("fs.file.impl") && conf.contains("maxRecordsPerFile"))
    assert(conf.contains("parquet.compression"))
    assert(conf.size < 100, s"${conf.size} entries")
  }
}
