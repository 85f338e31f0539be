package graft

import java.nio.file.{Files, Path => NioPath}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.{FsStreamPublisher, NioLocalFileSystem}

/** The fan-out publisher's write path: [[NioLocalFileSystem]] lays out
  * the same tree with the same mode bits and checksums as Hadoop's stock
  * `file:` filesystem, without forking a process per file, and the write
  * plan does not recompile per batch id.
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
}
