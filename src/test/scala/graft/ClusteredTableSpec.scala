package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.functions.{ClusteredTable, ZorderLayout}

/** The clustered-table maintenance contracts that q_cluster_ingest's
  * oracle can't see: crash-point idempotency of optimize, the
  * manifest's no-double-count guarantee while folded deltas are still
  * on disk, and vacuum's safety.
  */
class ClusteredTableSpec extends SparkTestBase {
  import spark.implicits._

  private def mk(rows: Seq[(Long, Int, Int)]) =
    rows.toDF("id", "d1", "d2")

  private def ids(root: String): Seq[Long] =
    ClusteredTable.read(spark, root).select("id").as[Long].collect().toSeq.sorted

  test("lifecycle: appends visible, optimize folds, late delta rides along") {
    val root = Files.createTempDirectory("ct_life").toString
    ClusteredTable.append(mk(Seq((1L, 0, 0), (2L, 3, 4))), root, "b0")
    ClusteredTable.append(mk(Seq((3L, 15, 11))), root, "b1")
    val v0 = ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(v0 == 0L)
    assert(ids(root) == Seq(1L, 2L, 3L))
    // base rows carry their zfile partition; no delta rows yet
    val t = ClusteredTable.read(spark, root)
    assert(t.filter(col("zfile") < 0).count() == 0)

    ClusteredTable.append(mk(Seq((4L, 7, 2))), root, "b2")
    assert(ids(root) == Seq(1L, 2L, 3L, 4L))
    // the late delta reads as the unclustered tail
    assert(ClusteredTable.read(spark, root)
      .filter(col("zfile") === -1).select("id").as[Long].collect().toSeq == Seq(4L))

    // a second optimize folds the tail; nothing to fold after that is a no-op
    val v1 = ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(v1 == 1L)
    assert(ids(root) == Seq(1L, 2L, 3L, 4L))
    assert(ClusteredTable.read(spark, root).filter(col("zfile") < 0).count() == 0)
    assert(ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) == 1L)
  }

  test("folded deltas still on disk are never double-counted; vacuum reclaims them") {
    val root = Files.createTempDirectory("ct_dc").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2))), root, "b0")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    // the folded delta directory is STILL present (no vacuum yet) —
    // the manifest must keep it out of the read
    assert(new java.io.File(root, "delta/d=b0").exists())
    assert(ids(root) == Seq(1L, 2L))
    ClusteredTable.append(mk(Seq((3L, 3, 3))), root, "b1")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(ids(root) == Seq(1L, 2L, 3L))
    val removed = ClusteredTable.vacuum(root)
    assert(removed == 3, s"2 folded deltas + 1 superseded base, got $removed")
    assert(ids(root) == Seq(1L, 2L, 3L)) // vacuum never changes results
    assert(!new java.io.File(root, "delta/d=b0").exists())
    assert(!new java.io.File(root, "base/v=0").exists())
  }

  test("optimize is idempotent from the torn-version crash point") {
    val root = Files.createTempDirectory("ct_crash").toString
    ClusteredTable.append(mk(Seq((1L, 4, 4), (2L, 8, 9))), root, "b0")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    ClusteredTable.append(mk(Seq((3L, 12, 6))), root, "b1")
    // simulate a crash mid-optimize: v=1's parquet landed but the
    // manifest (the visibility point) did not
    val torn = new java.io.File(root, "base/v=1")
    ZorderLayout.write(
      mk(Seq((1L, 4, 4), (2L, 8, 9), (3L, 12, 6))), Seq("d1", "d2"), 4, 16, torn.getPath)
    assert(!new java.io.File(torn, "_MANIFEST").exists())
    // torn version is invisible: reads still serve v=0 + the b1 delta
    assert(ids(root) == Seq(1L, 2L, 3L))
    assert(ClusteredTable.read(spark, root)
      .filter(col("zfile") === -1).count() == 1)
    // re-running optimize overwrites the torn version and completes it
    val v = ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(v == 1L)
    assert(ids(root) == Seq(1L, 2L, 3L))
    assert(ClusteredTable.read(spark, root).filter(col("zfile") < 0).count() == 0)
  }

  test("ingest replay: re-appending the same batch name overwrites, not duplicates") {
    val root = Files.createTempDirectory("ct_replay").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1))), root, "b0")
    ClusteredTable.append(mk(Seq((1L, 1, 1))), root, "b0") // at-least-once ingest
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(ids(root) == Seq(1L))
  }

  test("time travel: asOfVersion reads optimize #k's folded content, stable " +
      "under later ingest; vacuum bounds the horizon") {
    val root = Files.createTempDirectory("ct_tt").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2))), root, "b0")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0: {1,2}
    ClusteredTable.append(mk(Seq((3L, 3, 3))), root, "b1")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1: {1,2,3}
    ClusteredTable.append(mk(Seq((4L, 4, 4))), root, "b2")  // live tail
    def at(v: Long): Seq[Long] = ClusteredTable.read(spark, root, Some(v))
      .select("id").as[Long].collect().toSeq.sorted
    assert(at(0L) == Seq(1L, 2L))
    assert(at(1L) == Seq(1L, 2L, 3L))
    assert(ids(root) == Seq(1L, 2L, 3L, 4L)) // live read sees the tail
    // later ingest never changes a pinned snapshot
    ClusteredTable.append(mk(Seq((5L, 5, 5))), root, "b3")
    assert(at(0L) == Seq(1L, 2L))
    // vacuum reclaims superseded versions -> the horizon shrinks loudly
    ClusteredTable.vacuum(root)
    intercept[IllegalArgumentException] { at(0L) }
    assert(at(1L) == Seq(1L, 2L, 3L))
  }

  test("equality deletes: merge-on-read, sequence-aware resurrection, physical fold") {
    val root = Files.createTempDirectory("ct_dv").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2), (3L, 3, 3))), root, "00")
    ClusteredTable.delete(Seq(2L, 9L).toDF("id"), root, "01") // 9 never existed: no-op
    // merge-on-read: no optimize yet, the delete already hides id=2
    assert(ids(root) == Seq(1L, 3L))
    // a later append of the deleted key RESURRECTS it (delete outranks
    // only older data)
    ClusteredTable.append(mk(Seq((2L, 2, 2), (4L, 4, 4))), root, "02")
    assert(ids(root) == Seq(1L, 2L, 3L, 4L))
    // optimize applies the delete physically and retires the DV file
    val v0 = ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(v0 == 0L)
    assert(ids(root) == Seq(1L, 2L, 3L, 4L))
    // the folded base must contain the resurrected 2 exactly once and
    // the DV file must no longer be consulted (still on disk pre-vacuum)
    assert(new java.io.File(root, "dv/x=01").exists())
    assert(ClusteredTable.read(spark, root).filter(col("id") === 2L).count() == 1)
    // replayed delete (same name) is an overwrite, not a second delete
    ClusteredTable.delete(Seq(4L).toDF("id"), root, "03")
    ClusteredTable.delete(Seq(4L).toDF("id"), root, "03")
    assert(ids(root) == Seq(1L, 2L, 3L))
    // vacuum reclaims the folded DV, never the pending one
    ClusteredTable.vacuum(root)
    assert(!new java.io.File(root, "dv/x=01").exists())
    assert(new java.io.File(root, "dv/x=03").exists())
    assert(ids(root) == Seq(1L, 2L, 3L))
  }

  test("delete-only optimize folds: a pending DV with no pending delta still " +
      "produces a new physical version") {
    val root = Files.createTempDirectory("ct_dvonly").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2))), root, "00")
    assert(ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) == 0L)
    ClusteredTable.delete(Seq(1L).toDF("id"), root, "01")
    assert(ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) == 1L)
    assert(ids(root) == Seq(2L))
    // time travel still sees the pre-delete snapshot
    assert(ClusteredTable.read(spark, root, Some(0L))
      .select("id").as[Long].collect().toSeq.sorted == Seq(1L, 2L))
    // nothing left pending: optimize is a no-op again
    assert(ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) == 1L)
  }

  test("changefeed: net window diff with pre-image deletes; reconstruction " +
      "read(to) == read(from) + inserts - deletes; vacuum bounds the horizon") {
    val root = Files.createTempDirectory("ct_cf").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2), (7L, 7, 7))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    ClusteredTable.append(mk(Seq((3L, 3, 3), (14L, 9, 9))), root, "01")
    ClusteredTable.delete(Seq(7L, 14L, 99L).toDF("id"), root, "02")
    ClusteredTable.append(mk(Seq((14L, 9, 9), (4L, 4, 4))), root, "03") // 14 re-appended
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1
    val ch = ClusteredTable.changes(spark, root, 0L, 1L).cache()
    // inserts: 3 (b01, survives), 14+4 (b03, delete is older); b01's 14
    // nets out against x=02; 99 never existed -> no delete row
    assert(ch.filter(col("_change") === "insert")
      .select("id").as[Long].collect().toSeq.sorted == Seq(3L, 4L, 14L))
    // deletes: pre-image row of 7 from v=0 (full row, not just the key)
    val del = ch.filter(col("_change") === "delete").collect()
    assert(del.map(_.getAs[Long]("id")).toSeq == Seq(7L))
    assert(del.head.getAs[Int]("d1") == 7) // pre-image columns intact
    // reconstruction: read(0) + inserts - delete keys == read(1), rowwise
    val from = ClusteredTable.read(spark, root, Some(0L)).select("id", "d1", "d2")
    val ins = ch.filter(col("_change") === "insert").select("id", "d1", "d2")
    val delKeys = ch.filter(col("_change") === "delete").select("id")
    val rebuilt = from.join(delKeys, Seq("id"), "left_anti").unionByName(ins)
    val to = ClusteredTable.read(spark, root, Some(1L)).select("id", "d1", "d2")
    assert(rebuilt.exceptAll(to).count() == 0 && to.exceptAll(rebuilt).count() == 0)
    // same-version window is empty
    assert(ClusteredTable.changes(spark, root, 1L, 1L).count() == 0)
    // vacuum reclaims the superseded from-version (and the window
    // artifacts) -> the feed fails loudly, never returns a partial diff
    ClusteredTable.vacuum(root)
    intercept[IllegalArgumentException] { ClusteredTable.changes(spark, root, 0L, 1L).count() }
  }

  test("bloom index: point lookup prunes z-buckets, never loses a row, " +
      "absent keys return empty, and a stale index degrades to unpruned") {
    val root = Files.createTempDirectory("ct_bloom").toString
    // 64 rows spread over the full 16x12 grid -> 16 occupied z-buckets
    val rows = (0L until 64L).map(i => (i, (i % 16).toInt, (i % 12).toInt))
    ClusteredTable.append(mk(rows), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    ClusteredTable.buildIndex(spark, root, "id")
    ClusteredTable.append(mk(Seq((100L, 5, 5))), root, "01") // unfolded tail
    val total = ClusteredTable.read(spark, root)
      .filter(col("zfile") >= 0).select("zfile").distinct().count()
    val keys = Seq(7L, 100L)
    val cand = ClusteredTable.indexCandidates(spark, root, "id", keys)
    assert(cand.isDefined && cand.get.size < total,
      s"index must skip buckets: candidates=${cand} of $total")
    // exact results through the pruned path (tail key 100 rides the delta)
    assert(ClusteredTable.lookup(spark, root, "id", keys)
      .select("id").as[Long].collect().toSeq.sorted == Seq(7L, 100L))
    // a key that exists nowhere: bloom may false-positive a bucket, the
    // equality filter still returns empty
    assert(ClusteredTable.lookup(spark, root, "id", Seq(9999L)).count() == 0)
    // optimize folds the tail into v=1 -> the v=0 index does not apply;
    // lookup silently degrades to the unpruned (still correct) scan
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(ClusteredTable.indexCandidates(spark, root, "id", keys).isEmpty)
    assert(ClusteredTable.lookup(spark, root, "id", keys)
      .select("id").as[Long].collect().toSeq.sorted == Seq(7L, 100L))
    // rebuild on v=1: the folded key 100 is now index-served
    ClusteredTable.buildIndex(spark, root, "id")
    val c2 = ClusteredTable.indexCandidates(spark, root, "id", Seq(100L))
    assert(c2.isDefined && c2.get.nonEmpty)
    assert(ClusteredTable.lookup(spark, root, "id", Seq(100L))
      .select("id").as[Long].collect().toSeq == Seq(100L))
    // deletes compose: a deleted key stops appearing through the index path
    ClusteredTable.delete(Seq(Tuple1(7L)).toDF("id"), root, "02")
    assert(ClusteredTable.lookup(spark, root, "id", keys)
      .select("id").as[Long].collect().toSeq == Seq(100L))
  }

  test("schema evolution: a widened append reads with NULL back-fill, folds " +
      "permanently, and time travel keeps each version's own schema") {
    val root = Files.createTempDirectory("ct_evo").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0, old schema
    // the evolved batch carries a NEW column `lang`
    ClusteredTable.append(
      Seq((3L, 3, 3, "en"), (4L, 4, 4, "de")).toDF("id", "d1", "d2", "lang"), root, "01")
    // merge-on-read across the evolution boundary: old rows NULL-backfill
    val t = ClusteredTable.read(spark, root)
    assert(t.columns.contains("lang"))
    assert(t.filter(col("lang").isNull).select("id").as[Long].collect().toSeq.sorted
      == Seq(1L, 2L))
    assert(t.filter(col("lang") === "en").select("id").as[Long].collect().toSeq == Seq(3L))
    // optimize folds the widened schema into base v=1 for good
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    val v1 = ClusteredTable.read(spark, root)
    assert(v1.filter(col("zfile") < 0).count() == 0 && v1.columns.contains("lang"))
    assert(v1.filter(col("lang").isNotNull).count() == 2)
    // the changefeed window spans the evolution: inserts carry lang
    val cf = ClusteredTable.changes(spark, root, 0L, 1L)
    assert(cf.filter(col("_change") === "insert").select("lang").as[String]
      .collect().toSeq.sorted == Seq("de", "en"))
    // time travel: v=0 is pre-evolution and keeps its own (narrow) schema
    assert(!ClusteredTable.read(spark, root, Some(0L)).columns.contains("lang"))
    // deletes still apply across the boundary (key column never evolved)
    ClusteredTable.delete(Seq(Tuple1(1L)).toDF("id"), root, "02")
    assert(ids(root) == Seq(2L, 3L, 4L))
  }

  test("physical purge: delete + optimize + vacuum leaves no byte of the " +
      "purged rows anywhere under the table root") {
    val root = Files.createTempDirectory("ct_purge").toString
    val sentinel = "PURGEME-7f3a9c"
    def mkp(rows: Seq[(Long, Int, Int, String)]) = rows.toDF("id", "d1", "d2", "payload")
    ClusteredTable.append(mkp(Seq((1L, 1, 1, "keep-a"), (2L, 2, 2, sentinel))), root, "00")
    ClusteredTable.append(mkp(Seq((3L, 3, 3, sentinel + "-again"), (4L, 4, 4, "keep-b"))), root, "01")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // sentinel now in base v=0
    ClusteredTable.delete(Seq(Tuple1(2L), Tuple1(3L)).toDF("id"), root, "02")
    // hidden immediately, but bytes persist until fold + vacuum
    assert(ids(root) == Seq(1L, 4L))
    def bytesContain(needle: String): Boolean = {
      def walk(f: java.io.File): Iterator[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).iterator.flatMap(walk)
        else Iterator(f)
      val pat = needle.getBytes("UTF-8")
      walk(new java.io.File(root)).exists { f =>
        val bs = java.nio.file.Files.readAllBytes(f.toPath)
        bs.indexOfSlice(pat) >= 0
      }
    }
    assert(bytesContain(sentinel), "pre-purge: bytes must still be on disk (MOR)")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1 rewrites without them
    ClusteredTable.vacuum(root) // reclaims v=0, folded deltas, the DV
    assert(!bytesContain(sentinel),
      "post-purge: no file under the root may contain the purged payload")
    assert(ids(root) == Seq(1L, 4L)) // purge never disturbs surviving rows
  }

  test("tail(): each append surfaces exactly once; optimize + vacuum under a " +
      "live tail never duplicate or drop a row") {
    val root = Files.createTempDirectory("ct_tail").toString
    val ck = Files.createTempDirectory("ct_tail_ck").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2))), root, "00") // pre-start
    val q = ClusteredTable.tail(spark, root, mk(Seq((0L, 0, 0))).schema)
      .writeStream.format("memory").queryName("ct_tail_mem")
      .option("checkpointLocation", ck.toString).start()
    try {
      def seen: Seq[Long] = spark.sql("SELECT id FROM ct_tail_mem")
        .as[Long].collect().toSeq.sorted
      q.processAllAvailable()
      assert(seen == Seq(1L, 2L))
      ClusteredTable.append(mk(Seq((3L, 3, 3))), root, "01")
      q.processAllAvailable()
      assert(seen == Seq(1L, 2L, 3L))
      // fold everything into base/ and reclaim the delta files UNDER the
      // live tail: the glob never covers base/, the seen-file log covers
      // the removals — nothing re-surfaces, nothing is lost
      ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
      ClusteredTable.vacuum(root)
      ClusteredTable.append(mk(Seq((4L, 4, 4))), root, "02")
      q.processAllAvailable()
      assert(seen == Seq(1L, 2L, 3L, 4L))
      // the batch read still serves the folded + tail union unchanged
      assert(ids(root) == Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("changefeed drives incremental view maintenance: signed partials over " +
      "changes(v0,v1) roll the v0 view forward to the v1 view without a rescan") {
    // the composition changes()'s contract promises: a per-key
    // count/sum view (the RETRACTABLE aggregates — min/max would need
    // a rescan on delete, the classic IVM boundary) maintained from
    // the feed alone
    val root = Files.createTempDirectory("ct_ivm").toString
    ClusteredTable.append(mk(Seq((1L, 1, 10), (2L, 1, 20), (3L, 2, 30))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    ClusteredTable.append(mk(Seq((4L, 1, 40), (5L, 3, 50))), root, "01")
    ClusteredTable.delete(Seq(2L, 5L).toDF("id"), root, "02") // one base, one window row
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1
    def viewAt(v: Long) = ClusteredTable.read(spark, root, Some(v))
      .groupBy("d1").agg(count(lit(1)).as("n"), sum("d2").as("sq"))
    val signed = ClusteredTable.changes(spark, root, 0L, 1L)
      .groupBy("d1").agg(
        sum(when(col("_change") === "insert", 1L).otherwise(-1L)).as("dn"),
        sum(when(col("_change") === "insert", col("d2")).otherwise(-col("d2"))).as("dsq"))
    val rolled = viewAt(0L).join(signed, Seq("d1"), "full_outer")
      .select(col("d1"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("sq"), lit(0L)) + coalesce(col("dsq"), lit(0L))).as("sq"))
      .filter(col("n") > 0)
    val direct = viewAt(1L)
    assert(rolled.exceptAll(direct).count() == 0 && direct.exceptAll(rolled).count() == 0)
  }

  test("streaming ingest via sink(): batches land as deltas, replay is idempotent, " +
      "out-of-band optimize folds them") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = Files.createTempDirectory("ct_stream").toString
    val ck = Files.createTempDirectory("ct_stream_ck").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Int, Int)]
    val ingest = ClusteredTable.sink(root)
    val q = mem.toDF().toDF("id", "d1", "d2").writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, bid: Long) => ingest(df, bid))
      .option("checkpointLocation", ck).start()
    try {
      mem.addData((1L, 2, 3), (2L, 9, 9))
      q.processAllAvailable()
      mem.addData((3L, 14, 1))
      q.processAllAvailable()
      assert(ids(root) == Seq(1L, 2L, 3L))
      // at-least-once replay of batch 1 through the same sink fn
      ingest(mk(Seq((3L, 14, 1))), 1L)
      assert(ids(root) == Seq(1L, 2L, 3L))
      ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
      assert(ids(root) == Seq(1L, 2L, 3L))
      assert(ClusteredTable.read(spark, root).filter(col("zfile") < 0).count() == 0)
    } finally q.stop()
  }

  test("applyChanges: a replica converges window-by-window, including " +
      "delete-then-reinsert inside a window and deleting a prior window's insert") {
    val pRoot = Files.createTempDirectory("ct_cdc_p").toString
    val rRoot = Files.createTempDirectory("ct_cdc_r").toString
    // primary v=0: rows 1..6
    ClusteredTable.append(mk((1L to 6L).map(i => (i, i.toInt, 0))), pRoot, "00")
    ClusteredTable.optimize(spark, pRoot, Seq("d1", "d2"), 4, 16)
    // window 1: delete {2,3}, re-insert 3 AFTER the delete (resurrection),
    // insert 7 — net: -2, 3 replaced, +7
    ClusteredTable.delete(Seq(Tuple1(2L), Tuple1(3L)).toDF("id"), pRoot, "01")
    ClusteredTable.append(mk(Seq((3L, 3, 99), (7L, 7, 0))), pRoot, "02")
    ClusteredTable.optimize(spark, pRoot, Seq("d1", "d2"), 4, 16) // v=1
    // window 2: delete window-1's insert {7} and a v=0 survivor {1}
    ClusteredTable.delete(Seq(Tuple1(7L), Tuple1(1L)).toDF("id"), pRoot, "03")
    ClusteredTable.optimize(spark, pRoot, Seq("d1", "d2"), 4, 16) // v=2
    def snap(root: String, v: Option[Long] = None) =
      ClusteredTable.read(spark, root, v).select("id", "d1", "d2")
    // replica: seed at v=0, replay each window in order
    ClusteredTable.append(snap(pRoot, Some(0L)), rRoot, "00")
    ClusteredTable.optimize(spark, rRoot, Seq("d1", "d2"), 4, 16)
    ClusteredTable.applyChanges(
      ClusteredTable.changes(spark, pRoot, 0L, 1L), rRoot, "01", Seq("id"))
    assert(snap(rRoot).exceptAll(snap(pRoot, Some(1L))).count() == 0 &&
      snap(pRoot, Some(1L)).exceptAll(snap(rRoot)).count() == 0,
      "replica must equal primary@v1 after window 1 (resurrected row included)")
    // replica folds on its own cadence; convergence must survive it
    ClusteredTable.optimize(spark, rRoot, Seq("d1", "d2"), 4, 16)
    ClusteredTable.applyChanges(
      ClusteredTable.changes(spark, pRoot, 1L, 2L), rRoot, "02", Seq("id"))
    assert(snap(rRoot).exceptAll(snap(pRoot, Some(2L))).count() == 0 &&
      snap(pRoot, Some(2L)).exceptAll(snap(rRoot)).count() == 0,
      "replica must equal primary@v2 after window 2 (cross-window delete applied)")
    // replay of window 2 is idempotent
    ClusteredTable.applyChanges(
      ClusteredTable.changes(spark, pRoot, 1L, 2L), rRoot, "02", Seq("id"))
    assert(snap(rRoot).exceptAll(snap(pRoot, Some(2L))).count() == 0)
  }

  test("optimizeAuto: the file count tracks table growth (power-of-two, " +
      "domain-dividing) instead of rotting at its day-one value") {
    val root = Files.createTempDirectory("ct_auto").toString
    // 6 rows, target 2/file -> want 3 -> 4 files -> zSpan 64 -> zfile in 0..3
    ClusteredTable.append(mk(Seq((1L, 0, 0), (2L, 3, 4), (3L, 15, 11),
      (4L, 7, 2), (5L, 9, 9), (6L, 12, 5))), root, "00")
    ClusteredTable.optimizeAuto(spark, root, Seq("d1", "d2"), 4, targetRowsPerFile = 2L)
    val z1 = ClusteredTable.read(spark, root).select("zfile").as[Int].collect()
    assert(z1.length == 6 && z1.forall(z => z >= 0 && z < 4))
    // grow to 32 rows: want 16 -> 16 files -> zSpan 16; (15,11) has a
    // high Morton key, so buckets beyond the old 0..3 range must appear
    ClusteredTable.append(
      mk((7L to 32L).map(i => (i, (i % 16).toInt, ((i * 7) % 12).toInt))), root, "01")
    ClusteredTable.optimizeAuto(spark, root, Seq("d1", "d2"), 4, targetRowsPerFile = 2L)
    val z2 = ClusteredTable.read(spark, root).select("zfile").as[Int].collect()
    assert(z2.length == 32 && z2.forall(z => z >= 0 && z < 16))
    assert(z2.max > 3, "a grown table must spread past the day-one bucket range")
    assert(ids(root) == (1L to 32L))
  }

  test("retention-window vacuum: time travel AND changefeed keep working inside " +
      "the kept window; outside it both fail loudly") {
    val root = Files.createTempDirectory("ct_retain").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    ClusteredTable.append(mk(Seq((3L, 3, 3))), root, "01")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1
    ClusteredTable.append(mk(Seq((4L, 4, 4))), root, "02")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=2
    ClusteredTable.vacuum(root, keepVersions = 2)
    // inside the window: travel to v=1 and v=2, and the v1->v2 feed
    assert(ClusteredTable.read(spark, root, Some(1L)).count() == 3)
    assert(ClusteredTable.read(spark, root, Some(2L)).count() == 4)
    assert(ClusteredTable.changes(spark, root, 1L, 2L)
      .select("id").as[Long].collect().toSeq == Seq(4L))
    // outside it: v=0 is gone, loudly
    val e0 = intercept[IllegalArgumentException] {
      ClusteredTable.read(spark, root, Some(0L))
    }
    assert(e0.getMessage.contains("vacuumed"))
    // the aggressive default then collapses the window to the newest
    ClusteredTable.vacuum(root)
    assert(ClusteredTable.read(spark, root, Some(2L)).count() == 4)
    val e1 = intercept[Exception] {
      ClusteredTable.changes(spark, root, 1L, 2L).collect()
    }
    assert(e1.getMessage.contains("vacuumed"))
  }

  test("upsert: matched keys replaced (old image gone), unmatched inserted, " +
      "replay idempotent, fold preserves the merge, later append resurrects") {
    val root = Files.createTempDirectory("ct_upsert").toString
    // d2 doubles as a row "payload version" so replacement is observable
    ClusteredTable.append(mk(Seq((1L, 1, 10), (2L, 2, 10), (3L, 3, 10))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    // MERGE: update id=2 (new payload 20), insert id=4
    ClusteredTable.upsert(mk(Seq((2L, 2, 20), (4L, 4, 20))), root, "01", Seq("id"))
    def payloads() = ClusteredTable.read(spark, root)
      .select("id", "d2").as[(Long, Int)].collect().toSeq.sorted
    assert(payloads() == Seq((1L, 10), (2L, 20), (3L, 10), (4L, 20)),
      "matched key must carry ONLY its new image; unmatched key inserted")
    // at-least-once replay of the same upsert: both artifacts overwrite
    ClusteredTable.upsert(mk(Seq((2L, 2, 20), (4L, 4, 20))), root, "01", Seq("id"))
    assert(payloads() == Seq((1L, 10), (2L, 20), (3L, 10), (4L, 20)))
    // the fold applies the pair physically and the merge survives it
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(payloads() == Seq((1L, 10), (2L, 20), (3L, 10), (4L, 20)))
    assert(ClusteredTable.read(spark, root).filter(col("zfile") < 0).count() == 0)
    // a LATER plain append of a merged key outranks the upsert's delete
    ClusteredTable.append(mk(Seq((2L, 2, 30))), root, "02")
    assert(payloads().count(_._1 == 2L) == 2,
      "post-merge append must not be retired by the earlier upsert's tombstones")
  }

  test("optimize(reindex=...): the Bloom index follows the table across folds, " +
      "so point-lookup skipping never has a maintenance gap") {
    val root = Files.createTempDirectory("ct_reindex").toString
    ClusteredTable.append(
      mk((1L to 24L).map(i => (i, (i % 16).toInt, ((i * 5) % 12).toInt))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16, reindex = Seq("id"))
    assert(ClusteredTable.indexCandidates(spark, root, "id", Seq(7L)).isDefined,
      "the fold must leave an index on the new version")
    // a second fold absorbs new data; the index must follow to v=1 and
    // cover the newly folded keys
    ClusteredTable.append(mk(Seq((100L, 2, 2))), root, "01")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16, reindex = Seq("id"))
    val cand = ClusteredTable.indexCandidates(spark, root, "id", Seq(100L))
    assert(cand.isDefined, "the index must exist on the re-folded version")
    val hit = ClusteredTable.lookup(spark, root, "id", Seq(100L))
      .select("id").as[Long].collect().toSeq
    assert(hit == Seq(100L))
    // a no-op fold with reindex on an unindexed column backfills it
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16, reindex = Seq("d1"))
    assert(ClusteredTable.indexCandidates(spark, root, "d1", Seq(2L)).isDefined,
      "a no-op fold must still backfill a missing index")
  }

  test("vacuum reclaims only provably-dead staging orphans: a crashed fold's " +
      "staging for latest+1 survives until a later fold settles its race") {
    val root = Files.createTempDirectory("ct_stage").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    // a fold targeting v=1 crashed mid-staging: its orphan might still
    // be renamed by a live fold, so vacuum must NOT touch it
    val orphan = new java.io.File(root, "base/.staging-v=1-deadbeef")
    assert(orphan.mkdirs())
    ClusteredTable.vacuum(root)
    assert(orphan.exists(), "a possibly-live staging must survive vacuum")
    // once v=1 is claimed by a real fold, the orphan's race is settled
    ClusteredTable.append(mk(Seq((2L, 2, 2))), root, "01")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1
    ClusteredTable.vacuum(root)
    assert(!orphan.exists(), "a settled-race staging is garbage and must go")
    assert(ids(root) == Seq(1L, 2L))
  }

  test("upsert survives a maintenance fold interposed between its two writes: " +
      "tombstone-first means the replayed pair converges, never loses the key") {
    val root = Files.createTempDirectory("ct_upsert_fold").toString
    ClusteredTable.append(mk(Seq((1L, 1, 10), (2L, 2, 10))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    // crash half-way through upsert "01": the tombstone landed, the
    // delta did not — and an out-of-band fold runs before the replay
    ClusteredTable.delete(Seq(Tuple1(2L)).toDF("id"), root, "01")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // absorbs the tombstone
    // the at-least-once replay completes the pair
    ClusteredTable.upsert(mk(Seq((2L, 2, 20))), root, "01", Seq("id"))
    def payloads() = ClusteredTable.read(spark, root)
      .select("id", "d2").as[(Long, Int)].collect().toSeq.sorted
    assert(payloads() == Seq((1L, 10), (2L, 20)),
      "the matched key must carry exactly its new image after fold + replay")
    // and the merge survives the next fold too
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(payloads() == Seq((1L, 10), (2L, 20)))
  }

  test("envelope catalog: every fold publishes _envelopes inside the version; " +
      "it equals the recomputed per-bucket min/max and versions with the table") {
    val root = Files.createTempDirectory("ct_env").toString
    ClusteredTable.append(
      mk((1L to 40L).map(i => (i, (i % 16).toInt, ((i * 7) % 12).toInt))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    val cat = ClusteredTable.envelopes(spark, root, 0L, Seq("d1", "d2"))
    assert(cat.isDefined, "the fold must land a catalog")
    // the catalog IS the recomputed aggregate (fold-time == read-time here)
    val recomputed = ClusteredTable.read(spark, root).filter(col("zfile") >= 0)
      .groupBy("zfile").agg(
        min(col("d1").cast("long")).as("mn1"), max(col("d1").cast("long")).as("mx1"),
        min(col("d2").cast("long")).as("mn2"), max(col("d2").cast("long")).as("mx2"))
      .collect()
      .map(r => (r.getInt(0), Seq((r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4)))))
      .toSeq.sortBy(_._1)
    assert(cat.get.sortBy(_._1) == recomputed)
    // dimension mismatch reads as "no catalog", never as wrong bounds
    assert(ClusteredTable.envelopes(spark, root, 0L, Seq("d2", "d1")).isEmpty)
    // the catalog versions with the table: the next fold gets its own.
    // (0, 0) extends bucket 0's bounds, so the catalogs differ in VALUE —
    // the earlier (15, 11) row fell inside bucket 14's existing bounds
    // and only the aggregate's nondeterministic row order made the old
    // inequality pass; the footer-stats catalog (r18) is order-stable.
    ClusteredTable.append(mk(Seq((100L, 0, 0))), root, "01")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1
    val cat1 = ClusteredTable.envelopes(spark, root, 1L, Seq("d1", "d2"))
    assert(cat1.isDefined &&
      cat1.get.sortBy(_._1) != cat.get.sortBy(_._1),
      "v=1 must carry its own catalog")
    // and vacuum of the superseded version reclaims its catalog with it
    ClusteredTable.vacuum(root)
    assert(ClusteredTable.envelopes(spark, root, 0L, Seq("d1", "d2")).isEmpty)
  }

  test("envelope catalog: a string zone-map column past parquet's 4 KB " +
      "footer-statistics limit makes the footer read refuse; the aggregate " +
      "fallback lands the same bounds and warns once") {
    val root = Files.createTempDirectory("ct_env_refuse").toString
    // 3000-char values: every chunk's min + max reach parquet's 4096-byte
    // MAX_STATS_SIZE, so the writer records no min/max for `big`
    val rows = (1L to 40L).map(i =>
      (i, (i % 16).toInt, ((i * 7) % 12).toInt, f"$i%03d" + "x" * 3000))
    ClusteredTable.append(rows.toDF("id", "d1", "d2", "big"), root, "00")
    val warns = warnsDuring(ClusteredTable) {
      ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16, statsCols = Seq("big"))
    }
    // the refusal's cause is real: the folded footers carry no `big` bounds
    val parts = Files.walk(Paths.get(root, "base", "v=0")).iterator().asScala
      .filter(p => p.getFileName.toString.endsWith(".parquet") &&
        p.toString.contains("zfile=")).toSeq
    assert(parts.nonEmpty)
    parts.foreach { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), spark.sessionState.newHadoopConf())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == "big")
        .foreach(c => assert(!c.getStatistics.hasNonNullValue, s"$p kept min/max for big"))
      finally reader.close()
    }
    assert(warns.count(_.contains("footer statistics refused")) == 1, warns)
    // the fallback catalog equals the per-bucket min/max over the fold
    val truth = ClusteredTable.read(spark, root).groupBy("zfile").agg(
        min(col("d1").cast("long")), max(col("d1").cast("long")),
        min(col("d2").cast("long")), max(col("d2").cast("long")),
        min("big"), max("big"))
      .collect().map(r => r.getInt(0) -> r).toMap
    val env = ClusteredTable.envelopes(spark, root, 0L, Seq("d1", "d2")).get
    assert(env.toMap == truth.map { case (zf, r) =>
      zf -> Seq((r.getLong(1), r.getLong(2)), (r.getLong(3), r.getLong(4))) })
    val zm = ClusteredTable.zoneMaps[String](spark, root, 0L).apply("big")
    assert(zm.map { case (zf, mn, mx) => zf -> (mn, mx) }.toMap == truth.map { case (zf, r) =>
      zf -> (Some(r.getString(5)), Some(r.getString(6))) })
  }

  test("vacuum never reclaims base v=N while a staging targets N (the " +
      "resurrection guard): the version is deferred one pass, then goes") {
    val root = Files.createTempDirectory("ct_resur").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    ClusteredTable.append(mk(Seq((2L, 2, 2))), root, "01")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1 supersedes v=0
    // a lost fold's staging still targets v=0 (its race is settled —
    // but while it EXISTS, v=0 must stay, else the staging's rename
    // could resurrect stale content under a retired version number)
    val loser = new java.io.File(root, "base/.staging-v=0-deadbeef")
    assert(loser.mkdirs())
    ClusteredTable.vacuum(root)
    assert(!loser.exists(), "the settled-race staging itself is reclaimed")
    assert(new java.io.File(root, "base/v=0").exists(),
      "v=0 must survive the pass in which a staging still targeted it")
    // with the staging gone, the next pass reclaims the version
    ClusteredTable.vacuum(root)
    assert(!new java.io.File(root, "base/v=0").exists())
    assert(ids(root) == Seq(1L, 2L))
  }

  test("string-key bloom index: putString plane prunes buckets, lookupString " +
      "is exact, and a long-plane probe of a string index degrades to unpruned") {
    val root = Files.createTempDirectory("ct_bloomstr").toString
    val rows = (0L until 64L).map(i => (i, s"doc-$i", (i % 16).toInt, (i % 12).toInt))
    ClusteredTable.append(rows.toDF("id", "url", "d1", "d2"), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    ClusteredTable.buildIndex(spark, root, "url")
    val occupied = ClusteredTable.read(spark, root)
      .filter(col("zfile") >= 0).select("zfile").distinct().count()
    val cand = ClusteredTable.indexCandidates(spark, root, "url", Seq("doc-7"))
    assert(cand.isDefined && cand.get.size < occupied,
      s"string index must skip buckets: $cand of $occupied")
    assert(ClusteredTable.lookup(spark, root, "url", Seq("doc-7", "doc-63"))
      .select("id").as[Long].collect().toSeq.sorted == Seq(7L, 63L))
    assert(ClusteredTable.lookup(spark, root, "url", Seq("doc-nope")).count() == 0)
    // the wrong plane reads as NO index (degrade), never a missed bucket
    assert(ClusteredTable.indexCandidates(spark, root, "url", Seq(7L)).isEmpty)
  }

  test("claimed artifact writes: a durable artifact is never rewritten, and " +
      "two writers racing the same missing artifact publish exactly one winner") {
    val root = Files.createTempDirectory("ct_claim").toString
    assert(ClusteredTable.appendClaimed(mk(Seq((1L, 1, 1))), root, "00"))
    assert(!ClusteredTable.appendClaimed(mk(Seq((9L, 9, 9))), root, "00"),
      "a durable artifact must be skipped, not rewritten")
    assert(ids(root) == Seq(1L))
    // two threads race a still-missing artifact
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    (1 to 2).foreach { i =>
      pool.execute(() =>
        if (ClusteredTable.appendClaimed(mk(Seq((2L, i, i))), root, "01")) wins.incrementAndGet())
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(wins.get() == 1, s"exactly one claim must win, got ${wins.get()}")
    // the surviving artifact is ONE writer's complete output (1 row)
    assert(spark.read.parquet(s"$root/delta/d=01").count() == 1)
  }

  test("a claimed write that fails mid-write while the target is already " +
      "durable is a LOST RACE (false), not an error; with no durable target " +
      "the failure still propagates") {
    val root = Files.createTempDirectory("ct_claimlost").toString
    // the vacuum-gutted-staging shape: the write blows up, but by then a
    // racing tick has durably published the artifact — simulated by a df
    // whose evaluation publishes target/_SUCCESS and then fails
    val successFile = new java.io.File(root, "delta/d=00/_SUCCESS")
    val path = successFile.getAbsolutePath
    val selfPublishing = spark.range(1).as[Long].map { _ =>
      val f = new java.io.File(path)
      f.getParentFile.mkdirs()
      f.createNewFile()
      throw new RuntimeException("simulated mid-write failure")
      0L
    }.toDF("id")
    assert(!ClusteredTable.appendClaimed(selfPublishing, root, "00"),
      "a mid-write failure with a durable target is the lost race, not an error")
    // no staging debris survives the absorbed loss
    val stagings = Option(new java.io.File(root, "delta").listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith(".staging-"))
    assert(stagings.isEmpty, s"lost race must clean its staging: ${stagings.toSeq}")
    // and a genuine failure (no durable target) still propagates loudly
    val failing = spark.range(1).as[Long].map { _ =>
      throw new RuntimeException("genuine write failure")
      0L
    }.toDF("id")
    intercept[Exception] { ClusteredTable.appendClaimed(failing, root, "01") }
  }

  test("vacuum reclaims a compactTail staging orphan once its c= target is " +
      "durable; an orphan whose target never published survives") {
    val root = Files.createTempDirectory("ct_artstage").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1))), root, "01")
    ClusteredTable.append(mk(Seq((2L, 2, 2))), root, "02")
    assert(ClusteredTable.compactTail(spark, root) == 1) // publishes c=02
    // two crashed compactions: one raced the published c=02 (its claim
    // can only fail), one targets a c=05 no writer has published yet
    val settled = new java.io.File(root, "delta/.staging-c=02-deadbeef")
    val pending = new java.io.File(root, "delta/.staging-c=05-deadbeef")
    assert(settled.mkdirs() && pending.mkdirs())
    ClusteredTable.vacuum(root)
    assert(!settled.exists(), "a staging whose target is durable is garbage")
    assert(pending.exists(), "a staging whose target is not durable must survive")
    assert(ids(root) == Seq(1L, 2L))
  }

  test("history: one metadata row per retained version with the cumulative " +
      "artifact count; vacuum bounds it exactly like the travel horizon") {
    val root = Files.createTempDirectory("ct_hist").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    ClusteredTable.append(mk(Seq((2L, 2, 2))), root, "01")
    ClusteredTable.delete(Seq(Tuple1(1L)).toDF("id"), root, "02")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1
    def h = ClusteredTable.history(spark, root)
      .as[(Long, Long)].collect().toSeq.sortBy(_._1)
    assert(h == Seq((0L, 1L), (1L, 3L)),
      s"cumulative manifest sizes per version: $h")
    ClusteredTable.vacuum(root)
    assert(h == Seq((1L, 3L)), "vacuum bounds history like the travel horizon")
  }

  test("curve=hilbert folds through the whole lifecycle: zkey IS the Hilbert " +
      "index, and catalogs/lookup/MoR semantics are curve-agnostic") {
    val root = Files.createTempDirectory("ct_hilbert").toString
    val rows = (1L to 40L).map(i => (i, (i % 16).toInt, ((i * 7) % 12).toInt))
    ClusteredTable.append(mk(rows), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16, curve = "hilbert")
    val t = ClusteredTable.read(spark, root)
    // every stored zkey equals the recomputed Hilbert index
    assert(t.filter(col("zkey") =!=
      ZorderLayout.hilbertKey(col("d1"), col("d2"), 4)).count() == 0)
    assert(ids(root) == (1L to 40L))
    // the envelope catalog, MoR deletes and Bloom lookups key on the
    // bucket, not the curve
    assert(ClusteredTable.envelopes(spark, root, 0L, Seq("d1", "d2")).isDefined)
    ClusteredTable.delete(Seq(Tuple1(7L)).toDF("id"), root, "01")
    assert(ids(root) == (1L to 40L).filterNot(_ == 7L))
    ClusteredTable.buildIndex(spark, root, "id")
    assert(ClusteredTable.lookup(spark, root, "id", Seq(9L))
      .select("id").as[Long].collect().toSeq == Seq(9L))
    // an unknown curve is rejected loudly
    intercept[IllegalArgumentException] {
      ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16, curve = "peano")
    }
  }

  test("hot-bucket splitting: maxRecordsPerFile splits a skewed z-bucket into " +
      "multiple internally z-sorted files; rows, envelopes and pruning keys " +
      "are unaffected") {
    val root = Files.createTempDirectory("ct_skew").toString
    // every row lands in z-bucket 0 (d1, d2 in 0..3 -> morton key < 16)
    val rows = (1L to 30L).map(i => (i, (i % 4).toInt, ((i * 3) % 4).toInt))
    ClusteredTable.append(mk(rows), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16, maxRecordsPerFile = 10L)
    val vdir = new java.io.File(root, "base/v=0")
    val zdirs = Option(vdir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("zfile="))
    val files = zdirs.flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .filter(_.getName.endsWith(".parquet"))
    assert(zdirs.length == 1, "the skew must concentrate in one bucket")
    assert(files.length >= 3, s"a 30-row bucket at 10 rows/file must split: ${files.length}")
    // every piece is still internally z-sorted (tight footers per file)
    files.foreach { f =>
      val ks = spark.read.parquet(f.getPath).select("zkey").as[Int].collect().toSeq
      assert(ks == ks.sorted, s"each split file must stay z-sorted: $ks")
    }
    // rows and the fold-time catalog are unaffected by the file split
    assert(ids(root) == (1L to 30L))
    val cat = ClusteredTable.envelopes(spark, root, 0L, Seq("d1", "d2"))
    assert(cat.isDefined && cat.get.map(_._1) == Seq(0),
      "the envelope catalog keys on the bucket, not the file count")
  }

  test("minor compaction: a run of pending deltas merges into one artifact " +
      "with identical rows; a pending delete splits runs at its rank; fold, " +
      "changefeed, vacuum and the artifact ledger all stay exact") {
    val root = Files.createTempDirectory("ct_compact").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0: {1,2}
    ClusteredTable.append(mk(Seq((3L, 3, 3))), root, "01")
    ClusteredTable.append(mk(Seq((4L, 4, 4))), root, "02")
    ClusteredTable.delete(Seq(Tuple1(1L)).toDF("id"), root, "03")
    ClusteredTable.append(mk(Seq((5L, 5, 5), (1L, 1, 99))), root, "04") // 1 resurrects
    val before = ids(root)
    assert(before == Seq(1L, 2L, 3L, 4L, 5L))
    assert(ClusteredTable.tailParts(root) == Seq("d=01", "d=02", "d=04"))
    // the delete at rank 03 blocks extension past 02: run = [01, 02]
    assert(ClusteredTable.compactTail(spark, root) == 1)
    assert(ClusteredTable.tailParts(root) == Seq("c=02", "d=04"))
    assert(ids(root) == before, "compaction must not change a single row")
    // the resurrected image still outranks the delete; the compacted
    // rows still lose to it (rank 02 < 03 — last-member rank)
    assert(ClusteredTable.read(spark, root).filter(col("id") === 1L)
      .select("d2").as[Int].collect().toSeq == Seq(99))
    // replay is idempotent; absorbed originals are still on disk (the
    // poison fallback) but excluded from the read
    assert(ClusteredTable.compactTail(spark, root) == 0)
    assert(new java.io.File(root, "delta/d=01").exists())
    // vacuum does NOT reclaim absorbed-unfolded originals
    ClusteredTable.vacuum(root)
    assert(new java.io.File(root, "delta/d=01").exists())
    // the fold absorbs the compacted artifact + names its originals
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1
    assert(ids(root) == before)
    assert(ClusteredTable.read(spark, root).filter(col("zfile") < 0).count() == 0)
    // changefeed across the fold reads the compacted artifact ONCE —
    // inserts must not double the absorbed originals' rows
    val ch = ClusteredTable.changes(spark, root, 0L, 1L).cache()
    assert(ch.filter(col("_change") === "insert")
      .select("id").as[Long].collect().toSeq.sorted == Seq(1L, 3L, 4L, 5L))
    assert(ch.filter(col("_change") === "delete")
      .select("id").as[Long].collect().toSeq == Seq(1L))
    // vacuum now retires everything; the ledger keeps naming the
    // absorbed originals (the tail source depends on it)
    ClusteredTable.vacuum(root)
    assert(!new java.io.File(root, "delta/d=01").exists())
    assert(!new java.io.File(root, "delta/c=02").exists())
    assert(ClusteredTable.artifactNames(root).contains("d=01"))
    assert(ids(root) == before)
  }

  test("compaction across a schema-evolution boundary: the merged artifact " +
      "carries the union schema and NULL-backfills exactly like the reads " +
      "it replaces") {
    val root = Files.createTempDirectory("ct_compact_evo").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2))), root, "00")
    ClusteredTable.append(
      Seq((3L, 3, 3, "en")).toDF("id", "d1", "d2", "lang"), root, "01") // widened
    val before = ClusteredTable.read(spark, root)
      .select("id", "lang").as[(Long, Option[String])].collect().toSeq.sortBy(_._1)
    assert(ClusteredTable.compactTail(spark, root) == 1)
    assert(ClusteredTable.tailParts(root) == Seq("c=01"))
    val after = ClusteredTable.read(spark, root)
      .select("id", "lang").as[(Long, Option[String])].collect().toSeq.sortBy(_._1)
    assert(after == before && after ==
      Seq((1L, None), (2L, None), (3L, Some("en"))),
      s"evolution must ride through compaction unchanged: $after")
    // and the fold still lands the widened schema permanently
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(ClusteredTable.read(spark, root).columns.contains("lang"))
    assert(ids(root) == Seq(1L, 2L, 3L))
  }

  test("compaction respects the upsert boundary (equal-rank tombstone splits " +
      "the run) and a poisoned artifact is never read and gets reclaimed") {
    val root = Files.createTempDirectory("ct_compact2").toString
    ClusteredTable.append(mk(Seq((1L, 1, 10), (2L, 2, 10))), root, "00")
    ClusteredTable.append(mk(Seq((3L, 3, 10))), root, "01")
    ClusteredTable.upsert(mk(Seq((1L, 1, 20))), root, "02", Seq("id"))
    // x=02 ranks inside (00, 02] -> run stops at [00, 01]
    assert(ClusteredTable.compactTail(spark, root) == 1)
    assert(ClusteredTable.tailParts(root) == Seq("c=01", "d=02"))
    assert(ClusteredTable.read(spark, root)
      .select("id", "d2").as[(Long, Int)].collect().toSeq.sorted ==
      Seq((1L, 20), (2L, 10), (3L, 10)),
      "the upsert's replacement must survive compaction")
    // POISONING: a compacted artifact whose original was folded directly
    // (the fold-race shape) must be ignored by reads and reclaimed
    val r2 = Files.createTempDirectory("ct_poison").toString
    ClusteredTable.append(mk(Seq((10L, 1, 1), (20L, 2, 2))), r2, "00")
    ClusteredTable.optimize(spark, r2, Seq("d1", "d2"), 4, 16) // folds d=00
    ClusteredTable.append(mk(Seq((30L, 3, 3))), r2, "01")
    // craft the loser: c=00 claims to absorb the FOLDED d=00 (and d=01),
    // carrying a sentinel row that must never surface
    mk(Seq((99L, 9, 9))).write.mode("overwrite").parquet(s"$r2/delta/c=00")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$r2/delta/c=00/_ABSORBS"),
      "d=00\nd=01".getBytes("UTF-8"))
    assert(ids(r2) == Seq(10L, 20L, 30L),
      "a poisoned artifact must be invisible; its originals serve the read")
    assert(ClusteredTable.tailParts(r2) == Seq("d=01"))
    ClusteredTable.vacuum(r2)
    assert(!new java.io.File(r2, "delta/c=00").exists(),
      "vacuum must reclaim the poisoned artifact")
    assert(ids(r2) == Seq(10L, 20L, 30L))
  }

  test("optimize claims versions optimistically: racing maintainers commit " +
      "exactly one v=next each round, the loser rebases, no row lost or doubled") {
    val root = Files.createTempDirectory("ct_occ").toString
    ClusteredTable.append(mk((1L to 40L).map(i => (i, (i % 16).toInt, (i % 12).toInt))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    ClusteredTable.append(mk((41L to 60L).map(i => (i, (i % 16).toInt, (i % 12).toInt))), root, "01")
    // two maintainers race the same pending fold
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Either[Throwable, Long]]()
    (1 to 2).foreach { _ =>
      pool.execute(() =>
        results.add(
          try Right(ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16))
          catch { case e: Throwable => Left(e) }))
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    val rs = results.toArray(Array.empty[Either[Throwable, Long]]).toSeq
    assert(rs.forall(_.isRight), s"a racing optimize failed: $rs")
    // both maintainers landed (winner at v=1; loser either re-claimed a
    // later version or found nothing pending and returned the winner's)
    assert(rs.collect { case Right(v) => v }.max >= 1L)
    // the table is exactly the 60 rows, each once, fully folded
    assert(ids(root) == (1L to 60L))
    assert(ClusteredTable.read(spark, root).filter(col("zfile") < 0).count() == 0)
    // no staging orphan survives vacuum; reads unchanged after it
    ClusteredTable.vacuum(root)
    val staging = Option(new java.io.File(root, "base").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(".staging-v="))
    assert(staging.isEmpty)
    assert(ids(root) == (1L to 60L))
  }

  test("N-dim: mortonKeyN generalizes mortonKey (k=2 identical on the full " +
      "grid) and interleaves k=3 by the i*k+(k-1-j) bit formula") {
    // k=2 against the 2-D interleave written out: d1 on the odd bits, d2 on the even
    val grid = (for { a <- 0 until 16; b <- 0 until 16 } yield (a, b)).toDF("d1", "d2")
    val interleave2 = (0 until 4).map { i =>
      (shiftright(col("d1"), i) % 2) * lit(1 << (2 * i + 1)) +
        (shiftright(col("d2"), i) % 2) * lit(1 << (2 * i))
    }.reduce(_ + _)
    val allEq = grid.select(
      (ZorderLayout.mortonKey(Seq(col("d1"), col("d2")), 4) === interleave2).as("ok"))
      .agg(min(col("ok"))).as[Boolean].head()
    assert(allEq, "mortonKey(Seq(d1, d2)) must be bit-identical to the 2-D interleave")
    // k=3 against an independent Scala re-derivation of the formula
    def ref(ds: Seq[Int], bits: Int): Int =
      (for { i <- 0 until bits; j <- ds.indices }
        yield ((ds(j) >> i) & 1) << (i * ds.length + (ds.length - 1 - j))).sum
    val rows = Seq((1, 2, 3), (15, 0, 7), (4, 11, 9), (0, 0, 0), (15, 15, 15))
    val got = rows.toDF("a", "b", "c")
      .select(ZorderLayout.mortonKey(Seq(col("a"), col("b"), col("c")), 4).as("z"))
      .as[Int].collect().toSeq
    assert(got == rows.map { case (a, b, c) => ref(Seq(a, b, c), 4) },
      s"3-way interleave drifted from its formula: $got")
    // the exact-Int key-domain guard
    intercept[IllegalArgumentException] {
      ZorderLayout.mortonKey(Seq(col("a"), col("b"), col("c")), 11)
    }
  }

  test("N-dim fold: optimizeN on 3 dims publishes a 3-dim envelope catalog " +
      "that matches a recompute; hyper-box pruning never drops a row; the " +
      "2-D envelopes read serves the catalog's prefix; hilbert rejects k!=2") {
    val root = Files.createTempDirectory("ct_3d").toString
    val rows = (1L to 240L).map(i => (i, (i % 16).toInt, (i % 12).toInt, (i % 7).toInt))
    ClusteredTable.append(rows.toDF("id", "d1", "d2", "d3"), root, "00")
    val v = ClusteredTable.optimize(spark, root, Seq("d1", "d2", "d3"), 4, 16)
    val env = ClusteredTable.envelopes(spark, root, v, Seq("d1", "d2", "d3")).get
    // the catalog must agree with a direct per-bucket recompute
    val t = ClusteredTable.read(spark, root)
    val truth = t.groupBy("zfile")
      .agg(min("d1"), max("d1"), min("d2"), max("d2"), min("d3"), max("d3"))
      .collect().map(r => r.getInt(0) ->
        Seq((r.getInt(1).toLong, r.getInt(2).toLong),
          (r.getInt(3).toLong, r.getInt(4).toLong),
          (r.getInt(5).toLong, r.getInt(6).toLong))).toMap
    assert(env.toMap == truth, "the 3-dim catalog drifted from the data")
    // hyper-box prune: keep buckets intersecting on ALL THREE dims;
    // results equal the unpruned filter exactly
    val box = Seq((0L, 3L), (0L, 7L), (1L, 6L))
    val keep = env.collect {
      case (zf, e) if e.zip(box).forall {
          case ((mn, mx), (lo, hi)) => mx >= lo && mn <= hi } => zf
    }
    assert(keep.nonEmpty && keep.size < env.size,
      s"the 3-D box must actually prune: kept ${keep.size} of ${env.size}")
    def boxed(df: org.apache.spark.sql.DataFrame) = df
      .where(col("d1").between(0, 3) && col("d2").between(0, 7) &&
        col("d3").between(1, 6))
      .select("id").as[Long].collect().toSeq.sorted
    assert(boxed(t.where(col("zfile") === -1 || col("zfile").isin(keep: _*))) ==
      boxed(t), "pruning must only skip, never change, a result")
    // a 2-D reader on the 3-dim catalog: the matching PREFIX still serves
    val pre = ClusteredTable.envelopes(spark, root, v, Seq("d1", "d2"))
    assert(pre.isDefined && pre.get.map(_._1).sorted == env.map(_._1).sorted)
    // a dim-name mismatch refuses (the caller falls back / doesn't prune)
    assert(ClusteredTable.envelopes(spark, root, v, Seq("d2", "d1")).isEmpty)
    // hilbert stays 2-D and rejects loudly
    val r2 = Files.createTempDirectory("ct_3d_hil").toString
    ClusteredTable.append(rows.take(10).toDF("id", "d1", "d2", "d3"), r2, "00")
    intercept[IllegalArgumentException] {
      ClusteredTable.optimize(spark, r2, Seq("d1", "d2", "d3"), 4, 16,
        curve = "hilbert")
    }
  }

  test("re-clustering: successive folds may change the dimension set; each " +
      "version's catalog records its own dims, a mismatched read refuses " +
      "and falls back, results exact throughout") {
    val root = Files.createTempDirectory("ct_recluster").toString
    val rows = (1L to 120L).map(i =>
      (i, (i % 16).toInt, (i % 12).toInt, (i % 7).toInt))
    ClusteredTable.append(rows.take(60).toDF("id", "d1", "d2", "d3"), root, "00")
    val v0 = ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(ClusteredTable.envelopes(spark, root, v0, Seq("d1", "d2")).isDefined)
    ClusteredTable.append(rows.drop(60).toDF("id", "d1", "d2", "d3"), root, "01")
    // the workload changed: re-cluster on (d2, d3)
    val v1 = ClusteredTable.optimize(spark, root, Seq("d2", "d3"), 4, 16)
    assert(ClusteredTable.envelopes(spark, root, v1, Seq("d2", "d3")).isDefined)
    assert(ClusteredTable.envelopes(spark, root, v1, Seq("d1", "d2")).isEmpty,
      "a dim-name mismatch must refuse, not serve the wrong bounds")
    // a source still configured for the OLD dims falls back to the
    // snapshot recompute — a decision is still made, and it is sound
    val stale = new graft.sources.clustered.ClusteredRelation(
      spark.sqlContext, root, Seq("d1", "d2"), None)
    val filters: Array[org.apache.spark.sql.sources.Filter] = Array(
      org.apache.spark.sql.sources.LessThanOrEqual("d1", 3),
      org.apache.spark.sql.sources.LessThanOrEqual("d2", 5))
    val keep = stale.plannedBuckets(filters)
    assert(keep.isDefined, "fallback recompute must still decide")
    val t = ClusteredTable.read(spark, root)
    def boxed(df: org.apache.spark.sql.DataFrame) = df
      .where(col("d1") <= 3 && col("d2") <= 5)
      .select("id").as[Long].collect().toSeq.sorted
    assert(boxed(t.where(col("zfile") === -1 ||
      col("zfile").isin(keep.get: _*))) == boxed(t),
      "a stale-dims prune must only skip, never change")
    assert(ids(root) == (1L to 120L))
  }

  test("hierarchical size-tiered re-compaction: a second compaction absorbs " +
      "the first with flattened _ABSORBS; reads, changefeed and vacuum exact") {
    val root = Files.createTempDirectory("ct_tier").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0: {1}
    (2L to 5L).foreach(i => ClusteredTable.append(
      mk(Seq((i, (i % 16).toInt, (i % 12).toInt))), root, f"${i - 1}%02d"))
    assert(ClusteredTable.compactTail(spark, root) == 1)
    assert(ClusteredTable.tailParts(root) == Seq("c=04"))
    (6L to 9L).foreach(i => ClusteredTable.append(
      mk(Seq((i, (i % 16).toInt, (i % 12).toInt))), root, f"${i - 1}%02d"))
    // tier rule: c=04 (mass 4) <= 4 fresh deltas -> one nested artifact
    assert(ClusteredTable.compactTail(spark, root) == 1)
    assert(ClusteredTable.tailParts(root) == Seq("c=08"))
    val absorbs = scala.io.Source.fromFile(
      new java.io.File(root, "delta/c=08/_ABSORBS")).getLines().toSet
    assert(absorbs == (1 to 8).map(i => f"d=$i%02d").toSet + "c=04",
      s"flattened absorbs must name every original: $absorbs")
    assert(ids(root) == (1L to 9L), "nested compaction must not change rows")
    // the fold retires the whole hierarchy; the changefeed reads the TOP
    // artifact once — nested rows must not double
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1
    val ins = ClusteredTable.changes(spark, root, 0L, 1L)
      .filter(col("_change") === "insert").select("id").as[Long].collect().toSeq.sorted
    assert(ins == (2L to 9L), s"changefeed must read nested rows exactly once: $ins")
    ClusteredTable.vacuum(root)
    assert(ids(root) == (1L to 9L))
    assert(ClusteredTable.tailParts(root).isEmpty)
    assert(!new java.io.File(root, "delta/c=08").exists())
  }

  test("sorted compaction: sortDims clusters the merged artifact (one " +
      "globally-sorted file, tight row-group footers); rows unchanged") {
    val root = Files.createTempDirectory("ct_sortc").toString
    // deliberately dim-unsorted deltas
    ClusteredTable.append(mk(Seq((1L, 9, 1), (2L, 1, 2))), root, "00")
    ClusteredTable.append(mk(Seq((3L, 15, 3), (4L, 0, 4))), root, "01")
    ClusteredTable.append(mk(Seq((5L, 7, 5), (6L, 3, 6))), root, "02")
    assert(ClusteredTable.compactTail(spark, root, sortDims = Seq("d1", "d2")) == 1)
    assert(ClusteredTable.tailParts(root) == Seq("c=02"))
    assert(ids(root) == (1L to 6L), "sorting is physical layout only")
    val files = new java.io.File(root, "delta/c=02").listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(files.length == 1, "one coalesced deterministic sorted file")
    files.foreach { f =>
      val d1s = spark.read.parquet(f.getPath).select("d1").as[Int].collect().toSeq
      assert(d1s == d1s.sorted,
        s"the compacted artifact must be dim-sorted for tight footers: $d1s")
    }
  }

  test("auto-compaction cadence: a 50-delta streamed tail converges to at " +
      "most the threshold under live ingest, with O(log) rewrite tiers") {
    val root = Files.createTempDirectory("ct_cadence").toString
    val sink = ClusteredTable.sink(root, compactAtParts = 8)
    (0 until 50).foreach { b =>
      sink(mk(Seq((b.toLong, b % 16, b % 12))), b.toLong)
    }
    val parts = ClusteredTable.tailParts(root)
    assert(parts.size <= 8,
      s"the tail must converge under the cadence threshold: $parts")
    assert(parts.exists(_.startsWith("c=")), "compaction must have run")
    assert(ids(root) == (0L until 50L).toSeq, "no row lost or doubled")
    // maintenance closes normally over the compacted hierarchy
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    ClusteredTable.vacuum(root)
    assert(ids(root) == (0L until 50L).toSeq)
    assert(ClusteredTable.tailParts(root).isEmpty)
  }

  test("catalog caches never serve a rebuilt root's old _envelopes or " +
      "_ABSORBS, even when the rebuild lands within one mtime tick") {
    val root = Files.createTempDirectory("ct_rebuild").toString
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    def path(rel: String) = new org.apache.hadoop.fs.Path(s"$root/$rel")
    def mtime(rel: String) = fs.getFileStatus(path(rel)).getModificationTime
    def rebuild(): Unit = ClusteredTable.rmTree(new java.io.File(root))
    // _envelopes: v=0 re-folded with other bounds, _SUCCESS at the old mtime
    val envOk = "base/v=0/_envelopes/_SUCCESS"
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    assert(ClusteredTable.envelopes(spark, root, 0L, Seq("d1", "d2")).isDefined)
    val tEnv = mtime(envOk)
    rebuild()
    ClusteredTable.append(mk(Seq((5L, 7, 9))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    fs.setTimes(path(envOk), tEnv, -1)
    assert(mtime(envOk) == tEnv)
    assert(ClusteredTable.envelopes(spark, root, 0L, Seq("d1", "d2")).get
      .map(_._2) == Seq(Seq((7L, 7L), (9L, 9L))))
    // _ABSORBS: c=02 absorbs {d=01, d=02} after a fold of d=00, then,
    // rebuilt without the fold, {d=00, d=01, d=02} at the same mtime
    val absorbs = "delta/c=02/_ABSORBS"
    rebuild()
    ClusteredTable.append(mk(Seq((1L, 0, 0))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    (1 to 2).foreach(i => ClusteredTable.append(mk(Seq((i + 1L, i, i))), root, f"$i%02d"))
    assert(ClusteredTable.compactTail(spark, root) == 1)
    assert(ClusteredTable.tailParts(root) == Seq("c=02"))
    val tAbs = mtime(absorbs)
    rebuild()
    (0 to 2).foreach(i => ClusteredTable.append(mk(Seq((i + 1L, i, i))), root, f"$i%02d"))
    assert(ClusteredTable.compactTail(spark, root) == 1)
    fs.setTimes(path(absorbs), tAbs, -1)
    assert(mtime(absorbs) == tAbs)
    assert(ClusteredTable.tailParts(root) == Seq("c=02"))
    assert(ids(root) == Seq(1L, 2L, 3L))
  }
}
