package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThanOrEqual}

import graft.functions.ClusteredTable
import graft.sources.clustered.ClusteredRelation

/** The clustered table behind `spark.read.format("graft-clustered")`:
  * full merge-on-read equality with ClusteredTable.read, pushed-filter
  * pruning decisions pinned at the bucket level (not just row results),
  * Bloom point-lookup intersection, and the tail's immunity to pruning.
  */
class ClusteredSourceSpec extends SparkTestBase {
  import spark.implicits._

  private def mk(rows: Seq[(Long, Int, Int)]) =
    rows.toDF("id", "d1", "d2")

  private def build(): String = {
    val root = Files.createTempDirectory("csrc").toString
    ClusteredTable.append(mk(Seq((1L, 3, 4), (2L, 9, 2), (3L, 15, 11), (4L, 4, 3))), root, "00")
    ClusteredTable.append(mk(Seq((5L, 0, 0), (6L, 12, 7))), root, "01")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    ClusteredTable.append(mk(Seq((7L, 4, 4), (8L, 14, 1))), root, "02") // tail
    ClusteredTable.delete(Seq(Tuple1(2L)).toDF("id"), root, "03") // MoR
    root
  }

  private def src(root: String) = spark.read.format("graft-clustered")
    .option("root", root).option("dims", "d1,d2").load()

  test("source read equals ClusteredTable.read: base + tail + merge-on-read delete") {
    val root = build()
    val a = src(root).select("id", "d1", "d2").as[(Long, Int, Int)].collect().toSeq.sorted
    val b = ClusteredTable.read(spark, root)
      .select("id", "d1", "d2").as[(Long, Int, Int)].collect().toSeq.sorted
    assert(a == b && a.map(_._1) == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L),
      s"source must carry full MoR semantics: $a")
  }

  test("pushed box filters prune buckets inside the source; results stay exact " +
      "and the in-box tail row survives the prune") {
    val root = build()
    // the pruning DECISION, pinned directly: a (d1 in [3,5]) x (d2 in [2,5])
    // box must keep a strict subset of the occupied buckets
    val rel = new ClusteredRelation(spark.sqlContext, root, Seq("d1", "d2"), None)
    val keep = rel.plannedBuckets(Array(
      GreaterThanOrEqual("d1", 3), LessThanOrEqual("d1", 5),
      GreaterThanOrEqual("d2", 2), LessThanOrEqual("d2", 5))).get
    val occupied = ClusteredTable.read(spark, root)
      .filter(col("zfile") >= 0).select("zfile").distinct().count()
    assert(keep.nonEmpty && keep.size < occupied,
      s"box must skip buckets: kept $keep of $occupied")
    // the row RESULTS through the public API: exact, and the unfolded
    // tail row (7, d1=4, d2=4) appears even though it lives in no bucket
    val got = src(root).where(col("d1").between(3, 5) && col("d2").between(2, 5))
      .select("id").as[Long].collect().toSeq.sorted
    assert(got == Seq(1L, 4L, 7L), s"box read must be exact incl. the tail: $got")
    // the filter reached the source (v1 scan shows it as pushed)
    val plan = src(root).where(col("d1") >= 3 && col("d1") <= 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(d1,3)"),
      s"box predicate must reach the relation:\n$plan")
  }

  test("schema evolution rides through the source: a widened tail reads with " +
      "NULL backfill and box pruning stays exact") {
    val root = Files.createTempDirectory("csrc_evo").toString
    ClusteredTable.append(mk(Seq((1L, 3, 4), (2L, 15, 11))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    ClusteredTable.append(
      Seq((3L, 4, 3, "fresh")).toDF("id", "d1", "d2", "note"), root, "01")
    val df = src(root)
    assert(df.columns.contains("note"), "the widened column must surface")
    val got = df.where(col("d1").between(3, 5) && col("d2").between(2, 5))
      .select(col("id"), col("note"))
      .as[(Long, Option[String])].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, None), (3L, Some("fresh"))),
      s"pre-evolution rows NULL-backfill, the widened tail row survives the prune: $got")
  }

  test("the pure-SQL surface: CREATE TEMPORARY VIEW ... USING graft-clustered " +
      "serves SQL with the same pruned, merge-on-read semantics") {
    val root = build()
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW clustered_sql
      USING `graft-clustered`
      OPTIONS (root '$root', d1 'd1', d2 'd2')""")
    val got = spark.sql(
      """SELECT id FROM clustered_sql
        |WHERE d1 BETWEEN 3 AND 5 AND d2 BETWEEN 2 AND 5
        |ORDER BY id""".stripMargin).as[Long].collect().toSeq
    assert(got == Seq(1L, 4L, 7L),
      s"SQL over the source must equal the DataFrame path (MoR + tail + prune): $got")
    val n = spark.sql("SELECT count(*) AS n FROM clustered_sql").as[Long].head()
    assert(n == 7L, "empty-projection count(*) must work through buildScan")
  }

  test("the pruning decision is served from the fold-time _envelopes catalog: " +
      "it equals the recomputed decision, and corrupting every base data file " +
      "does not disturb it (zero data reads) while the fallback genuinely scans") {
    def mkRoot(): String = {
      val root = Files.createTempDirectory("csrc_cat").toString
      ClusteredTable.append(mk(Seq((1L, 3, 4), (2L, 9, 2), (3L, 15, 11), (4L, 4, 3),
        (5L, 0, 0), (6L, 12, 7))), root, "00")
      ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
      root
    }
    val box = Array[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("d1", 3), LessThanOrEqual("d1", 5),
      GreaterThanOrEqual("d2", 2), LessThanOrEqual("d2", 5))
    // catalog path (fresh fold always has _envelopes)
    val root = mkRoot()
    assert(ClusteredTable.envelopes(spark, root, 0L, Seq("d1", "d2")).isDefined)
    val rel = new ClusteredRelation(spark.sqlContext, root, Seq("d1", "d2"), None)
    val decided = rel.plannedBuckets(box).get
    // fallback path on a TWIN table with the catalog removed: the
    // recomputed decision must be identical
    val twin = mkRoot()
    ClusteredTable.rmTree(new java.io.File(twin, "base/v=0/_envelopes"))
    assert(ClusteredTable.envelopes(spark, twin, 0L, Seq("d1", "d2")).isEmpty)
    val relTwin = new ClusteredRelation(spark.sqlContext, twin, Seq("d1", "d2"), None)
    assert(relTwin.plannedBuckets(box).get == decided,
      "catalog and recomputed decisions must agree")
    // the metadata-plane pin: corrupt EVERY base data file — the
    // catalog-backed decision must not notice (it reads _envelopes
    // only), and the corruption is real (executing the scan fails)
    def walk(f: java.io.File): Iterator[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).iterator.flatMap(walk)
      else Iterator(f)
    walk(new java.io.File(root, "base/v=0"))
      .filter(f => f.getName.endsWith(".parquet") && f.getPath.contains("zfile="))
      .foreach(f => java.nio.file.Files.write(f.toPath, "garbage".getBytes("UTF-8")))
    assert(rel.plannedBuckets(box).get == decided,
      "the decision must be computable without touching a single data page")
    intercept[Exception] { ClusteredTable.read(spark, root).count() } // corruption is real
  }

  test("aggregate pushdown: an un-filtered COUNT/MIN/MAX compiles to a pushed, " +
      "footer-only scan; filters or pending merge-on-read deletes refuse it " +
      "and the values stay exact either way") {
    // clean lifecycle: base fold + unfolded delta tail, NO deletes
    val root = Files.createTempDirectory("csrc_agg").toString
    ClusteredTable.append(mk(Seq((1L, 3, 4), (2L, 9, 2), (3L, 15, 11))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    ClusteredTable.append(mk(Seq((4L, 4, 3), (5L, 0, 0))), root, "01") // tail
    val agg = src(root).agg(count(lit(1)).as("n"),
      min("d1").as("mn1"), max("d1").as("mx1"), max("id").as("mxid"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT"),
      s"expected a pushed aggregate:\n$plan")
    val row = agg.collect().head
    assert((row.getLong(0), row.getInt(1), row.getInt(2), row.getLong(3)) ==
      ((5L, 0, 15, 5L)), s"footer stats must equal the direct aggregate: $row")
    // a filter refuses the pushdown (footer stats can't subtract rows)
    val filtered = src(root).where(col("d1") >= 3).agg(count(lit(1)).as("n"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(filtered.head.getLong(0) == 4L) // ids 1,2,3 (base) + 4 (tail)
    // a pending equality delete refuses it (merge-on-read is the truth)
    val mor = build() // 8 appended rows, one pending delete -> 7 visible
    val morAgg = src(mor).agg(count(lit(1)).as("n"))
    assert(!morAgg.queryExecution.executedPlan.toString.contains("PushedAggregates"),
      "a pending DV must refuse footer counts")
    assert(morAgg.head.getLong(0) == 7L)
    // a non-integral MIN/MAX refuses (no silent string-stats ordering)
    val sroot = Files.createTempDirectory("csrc_aggs").toString
    ClusteredTable.append(Seq((1L, 1, 1, "b"), (2L, 2, 2, "a"))
      .toDF("id", "d1", "d2", "note"), sroot, "00")
    ClusteredTable.optimize(spark, sroot, Seq("d1", "d2"), 4, 16)
    val sAgg = src(sroot).agg(min("note").as("mn"))
    assert(!sAgg.queryExecution.executedPlan.toString.contains("PushedAggregates"))
    assert(sAgg.head.getString(0) == "a")
  }

  test("streaming tail under the same format string: each append surfaces " +
      "exactly once across optimize + vacuum, a checkpoint restart re-serves " +
      "nothing, and pushed filters apply to the streamed rows") {
    val root = Files.createTempDirectory("csrc_tail").toString
    val ck = Files.createTempDirectory("csrc_tail_ck").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 9, 2))), root, "00")
    // foreachBatch (checkpoint-recoverable, unlike the memory sink) into
    // a shared buffer: duplicates across the restart would be visible
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = spark.readStream.format("graft-clustered")
      .option("root", root).load()
      .where(col("d1") >= 1) // pushed into the tail reader (row 5 below is filtered)
      .selectExpr("id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.collect().foreach(r => got.add(r.getLong(0))); ()
      }
      .option("checkpointLocation", ck).start()
    def seen: Seq[Long] = got.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq.sorted
    val q = start()
    try {
      q.processAllAvailable()
      assert(seen == Seq(1L, 2L))
      ClusteredTable.append(mk(Seq((3L, 3, 3), (5L, 0, 0))), root, "01") // 5 has d1=0
      q.processAllAvailable()
      assert(seen == Seq(1L, 2L, 3L), "the pushed filter must drop d1=0 in the reader")
      // the full maintenance lifecycle under the live tail
      ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
      ClusteredTable.vacuum(root)
      ClusteredTable.append(mk(Seq((4L, 4, 4))), root, "02")
      q.processAllAvailable()
      assert(seen == Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
    // restart from the checkpoint: the name-watermark offset re-serves
    // nothing — only the post-restart append joins the buffer, once
    ClusteredTable.append(mk(Seq((6L, 6, 6))), root, "03")
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(seen == Seq(1L, 2L, 3L, 4L, 6L),
        s"restart must serve only the new append, exactly once: $seen")
    } finally q2.stop()
  }

  test("the connector square: batch write and streaming write under the same " +
      "format string — appends land as deltas, replay is idempotent, wrong " +
      "modes fail loudly, and the format read serves the folded result") {
    val root = Files.createTempDirectory("csrc_w").toString
    val ck = Files.createTempDirectory("csrc_w_ck").toString
    def ids: Seq[Long] = ClusteredTable.read(spark, root)
      .select("id").as[Long].collect().toSeq.sorted
    // batch write: mode must be append, name is the idempotence handle
    mk(Seq((1L, 1, 1), (2L, 2, 2))).write.format("graft-clustered")
      .option("root", root).option("name", "00").mode("append").save()
    assert(ids == Seq(1L, 2L))
    // replayed batch (same name) overwrites its own delta, no duplicates
    mk(Seq((1L, 1, 1), (2L, 2, 2))).write.format("graft-clustered")
      .option("root", root).option("name", "00").mode("append").save()
    assert(ids == Seq(1L, 2L))
    // non-append modes and a missing name are rejected, never reinterpreted
    intercept[Exception] {
      mk(Seq((9L, 9, 9))).write.format("graft-clustered")
        .option("root", root).option("name", "zz").mode("overwrite").save()
    }
    intercept[Exception] {
      mk(Seq((9L, 9, 9))).write.format("graft-clustered")
        .option("root", root).mode("append").save()
    }
    assert(ids == Seq(1L, 2L), "a rejected write must not land anything")
    // streaming write: micro-batches land as b<batchId> deltas
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Int, Int)]
    val q = mem.toDF().toDF("id", "d1", "d2").writeStream.format("graft-clustered")
      .option("root", root).option("checkpointLocation", ck).start()
    try {
      mem.addData((3L, 3, 3), (4L, 4, 4))
      q.processAllAvailable()
      assert(ids == Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
    // maintenance folds the mixed-provenance deltas; the format READ
    // serves the clustered result — the square closes
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    val back = spark.read.format("graft-clustered").option("root", root).load()
    assert(back.where(col("zfile") >= 0).select("id").as[Long].collect().toSeq.sorted
      == Seq(1L, 2L, 3L, 4L))
  }

  test("streaming tail fails LOUDLY — never silently skips — when an " +
      "unconsumed delta was folded and vacuumed before its batch committed") {
    val root = Files.createTempDirectory("csrc_loss").toString
    val ck = Files.createTempDirectory("csrc_loss_ck").toString
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def start() = spark.readStream.format("graft-clustered")
      .option("root", root).load().selectExpr("id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.collect().foreach(r => got.add(r.getLong(0))); ()
      }
      .option("checkpointLocation", ck).start()
    ClusteredTable.append(mk(Seq((1L, 1, 1))), root, "00")
    val q = start()
    try { q.processAllAvailable() } finally q.stop()
    assert(got.size() == 1)
    // an append the consumer never saw gets folded AND vacuumed away
    ClusteredTable.append(mk(Seq((2L, 2, 2))), root, "01")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    ClusteredTable.vacuum(root)
    ClusteredTable.append(mk(Seq((3L, 3, 3))), root, "02")
    val q2 = start()
    try {
      val e = intercept[Exception] { q2.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("vacuumed before this consumer")),
        s"data loss must surface loudly, got: $e")
    } finally q2.stop()
    assert(!got.contains(3L), "no batch may commit past the lost artifact")
  }

  test("streaming tail validates its schema loudly: a non-primitive column " +
      "is rejected at stream construction with guidance, not at decode time") {
    val root = Files.createTempDirectory("csrc_badtype").toString
    val ck = Files.createTempDirectory("csrc_badtype_ck").toString
    Seq((1L, Seq(1, 2))).toDF("id", "arr").write.mode("overwrite")
      .parquet(s"$root/delta/d=00")
    val q = spark.readStream.format("graft-clustered").option("root", root).load()
      .writeStream.format("memory").queryName("ct_badtype")
      .option("checkpointLocation", ck).start()
    try {
      val e = intercept[Exception] { q.processAllAvailable() }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(m => m.contains("primitive") && m.contains("tail")),
        s"expected the loud schema-validation error, got: $e")
    } finally q.stop()
  }

  test("aggregate pushdown under schema evolution: files that predate a " +
      "widened column contribute NULLs (skipped), COUNT(col) counts non-nulls") {
    val root = Files.createTempDirectory("csrc_aggevo").toString
    ClusteredTable.append(mk(Seq((1L, 3, 4), (2L, 9, 2))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // base predates `extra`
    ClusteredTable.append(
      Seq((3L, 4, 3, 7), (4L, 0, 0, 2)).toDF("id", "d1", "d2", "extra"), root, "01")
    val agg = src(root).agg(count(lit(1)).as("n"), count(col("extra")).as("n_extra"),
      min("extra").as("mn"), max("extra").as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT"), s"pushdown must engage:\n$plan")
    val r = agg.collect().head
    assert((r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)) == ((4L, 2L, 2, 7)),
      s"footer stats must respect NULL-backfill semantics: $r")
  }

  test("streaming tail rows present like the batch tail: zfile = -1, zkey NULL, " +
      "through the one shared table schema") {
    val root = Files.createTempDirectory("csrc_tail2").toString
    val ck = Files.createTempDirectory("csrc_tail2_ck").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // base exists -> schema has zkey/zfile
    ClusteredTable.append(mk(Seq((2L, 2, 2))), root, "01")
    val df = spark.readStream.format("graft-clustered").option("root", root).load()
    assert(df.columns.contains("zfile") && df.columns.contains("zkey"))
    val q = df.selectExpr("id", "zfile", "zkey")
      .writeStream.format("memory").queryName("ct_tail_zf")
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT id, zfile, zkey FROM ct_tail_zf ORDER BY id").collect()
      assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L),
        "folded-but-unvacuumed deltas are part of the feed, like tail()")
      assert(rows.forall(r => r.getInt(1) == -1 && r.isNullAt(2)),
        s"stream rows must present as the batch read's unfolded tail: ${rows.toSeq}")
    } finally q.stop()
  }

  test("a BRAND-NEW tail consumer starts on a table that has been folded AND " +
      "vacuumed: the initial offset is the reclaim horizon, so the stream " +
      "observes exactly the un-reclaimed delta namespace instead of dying " +
      "on the first batch") {
    val root = Files.createTempDirectory("csrc_fresh").toString
    val ck = Files.createTempDirectory("csrc_fresh_ck").toString
    // history: two deltas folded and reclaimed before any consumer existed
    ClusteredTable.append(mk(Seq((1L, 1, 1))), root, "00")
    ClusteredTable.append(mk(Seq((2L, 2, 2))), root, "01")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    ClusteredTable.vacuum(root) // reclaims d=00, d=01 (ledger still names them)
    ClusteredTable.append(mk(Seq((3L, 3, 3))), root, "02") // un-reclaimed tail
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft-clustered").option("root", root)
      .load().selectExpr("id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        df.collect().foreach(r => got.add(r.getLong(0))); ()
      }
      .option("checkpointLocation", ck).start()
    try {
      q.processAllAvailable() // pre-fix: IllegalStateException("vacuumed before…")
      val seen = got.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq.sorted
      assert(seen == Seq(3L),
        s"a fresh consumer observes the un-reclaimed namespace, exactly once: $seen")
      // and the loud-loss guard stays armed for REAL checkpointed ranges:
      // liveness continues normally after the horizon start
      ClusteredTable.append(mk(Seq((4L, 4, 4))), root, "03")
      q.processAllAvailable()
      val seen2 = got.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq.sorted
      assert(seen2 == Seq(3L, 4L))
    } finally q.stop()
  }

  test("admission control: maxfilespertrigger drains a deep delta backlog " +
      "across bounded micro-batches — no row lost or duplicated — and keeps " +
      "working across fold + vacuum mid-lifecycle") {
    val root = Files.createTempDirectory("csrc_adm").toString
    val ck = Files.createTempDirectory("csrc_adm_ck").toString
    (0 until 6).foreach(i =>
      ClusteredTable.append(mk(Seq((i.toLong, i, i))), root, f"$i%02d"))
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Seq[Long]]()
    def start() = spark.readStream.format("graft-clustered").option("root", root)
      .option("maxfilespertrigger", "2").load().selectExpr("id")
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batches.add(df.collect().map(_.getLong(0)).toSeq); ()
      }
      .option("checkpointLocation", ck).start()
    def all: Seq[Seq[Long]] = batches.toArray(Array.empty[Seq[Long]]).toSeq
    val q = start()
    try {
      q.processAllAvailable()
      val drained = all.filter(_.nonEmpty)
      assert(drained.flatten.sorted == (0L to 5L),
        s"the whole backlog must drain, exactly once: $all")
      assert(drained.size == 3 && drained.forall(_.size == 2),
        s"a 6-delta backlog at maxfilespertrigger=2 is three 2-delta batches: $drained")
    } finally q.stop()
    // maintenance mid-lifecycle, then a second backlog laid down while the
    // consumer is offline (so the drain shape is deterministic): the
    // restarted checkpoint drains it under the same admission bound
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    ClusteredTable.vacuum(root)
    (6 until 11).foreach(i =>
      ClusteredTable.append(mk(Seq((i.toLong, i % 16, i % 16))), root, f"$i%02d"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val after = all.filter(_.nonEmpty).drop(3)
      assert(after.flatten.sorted == (6L to 10L),
        s"post-maintenance backlog must drain exactly once: $after")
      assert(after.map(_.size) == Seq(2, 2, 1),
        s"5 new deltas at 2/trigger drain as 2+2+1: $after")
    } finally q2.stop()
  }

  test("a long-lived SQL temp view stays fresh: appends surface on the next " +
      "query and maintenance (fold + vacuum) never strands the view on a " +
      "reclaimed snapshot — resolution is per scan, not per relation") {
    val root = build()
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW clustered_live
      USING `graft-clustered`
      OPTIONS (root '$root', d1 'd1', d2 'd2')""")
    def ids: Seq[Long] =
      spark.sql("SELECT id FROM clustered_live ORDER BY id").as[Long].collect().toSeq
    assert(ids == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L)) // build(): 8 rows, id=2 deleted
    // an append AFTER the view resolved must surface (pre-fix: frozen snapshot)
    ClusteredTable.append(mk(Seq((9L, 5, 5))), root, "04")
    assert(ids == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L),
      "the view must see appends that land after CREATE VIEW")
    // fold + vacuum reclaim the version the view first read; the view must
    // re-resolve, not fail on missing files (pre-fix: FileNotFound)
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    ClusteredTable.vacuum(root)
    assert(ids == Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 9L),
      "the view must survive maintenance that reclaims its first snapshot")
  }

  test("a Bloom-indexed point lookup intersects the bucket decision; absent " +
      "index degrades to unpruned, results always exact") {
    val root = build()
    ClusteredTable.buildIndex(spark, root, "id")
    val rel = new ClusteredRelation(spark.sqlContext, root, Seq("d1", "d2"), Some("id"))
    val keep = rel.plannedBuckets(Array(EqualTo("id", 3L))).get
    val occupied = ClusteredTable.read(spark, root)
      .filter(col("zfile") >= 0).select("zfile").distinct().count()
    assert(keep.size < occupied, s"point lookup must skip buckets: $keep of $occupied")
    val got = spark.read.format("graft-clustered")
      .option("root", root).option("dims", "d1,d2").option("indexcol", "id")
      .load().where(col("id") === 3L)
      .select("id", "d1", "d2").as[(Long, Int, Int)].collect().toSeq
    assert(got == Seq((3L, 15, 11)))
    // no index for this column -> no bloom decision, still exact
    val rel2 = new ClusteredRelation(spark.sqlContext, root, Nil, Some("d2"))
    assert(rel2.plannedBuckets(Array(EqualTo("d2", 4))).isEmpty)
  }

  test("a string-plane Bloom index drives the source's point-lookup pruning " +
      "through option(indexcol) with a string literal") {
    val root = Files.createTempDirectory("csrc_bstr").toString
    ClusteredTable.append(
      (0L until 64L).map(i => (i, s"doc-$i", (i % 16).toInt, (i % 12).toInt))
        .toDF("id", "url", "d1", "d2"), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
    ClusteredTable.buildIndex(spark, root, "url")
    val rel = new ClusteredRelation(spark.sqlContext, root,
      Seq("d1", "d2"), Some("url"))
    val occupied = ClusteredTable.read(spark, root)
      .filter(col("zfile") >= 0).select("zfile").distinct().count()
    val keep = rel.plannedBuckets(Array(EqualTo("url", "doc-7"))).get
    assert(keep.nonEmpty && keep.size < occupied,
      s"string point lookup must skip buckets: $keep of $occupied")
    // and through the public API, row-exact
    val got = spark.read.format("graft-clustered")
      .option("root", root).option("dims", "d1,d2").option("indexcol", "url")
      .load().where(col("url") === "doc-7")
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(7L))
  }

  test("asofversion time-travels the source to a retained fold: pre-delete " +
      "membership, version-pinned envelope pruning, Bloom self-disabled, " +
      "and a vacuumed version fails loudly") {
    val root = Files.createTempDirectory("csrc_tt").toString
    ClusteredTable.append(
      mk(Seq((1L, 3, 4), (2L, 9, 2), (3L, 15, 11), (4L, 4, 3))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    ClusteredTable.delete(Seq(Tuple1(2L)).toDF("id"), root, "01")
    ClusteredTable.append(mk(Seq((5L, 0, 0))), root, "02")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1
    def at(v: String) = spark.read.format("graft-clustered")
      .option("root", root).option("dims", "d1,d2")
      .option("asofversion", v).load()
    assert(at("0").select("id").as[Long].collect().toSeq.sorted ==
      Seq(1L, 2L, 3L, 4L), "v0 predates the delete — id 2 must be visible")
    assert(at("1").select("id").as[Long].collect().toSeq.sorted ==
      Seq(1L, 3L, 4L, 5L), "v1 folded the delete and the late append")
    // a box read against the pinned fold stays exact (v0's own catalog)
    assert(at("0").where(col("d1").between(3, 5) && col("d2").between(2, 5))
      .select("id").as[Long].collect().toSeq.sorted == Seq(1L, 4L))
    // the Bloom index tracks the NEWEST fold; under time travel it must
    // self-disable (no decision), never prune the older layout wrong
    ClusteredTable.buildIndex(spark, root, "id")
    val rel = new ClusteredRelation(spark.sqlContext, root,
      Seq("d1", "d2"), Some("id"), Some(0L))
    assert(rel.plannedBuckets(Array(EqualTo("id", 1L))).isEmpty,
      "a point lookup on a time-travel scan must not consult the live index")
    // vacuum reclaims v=0 -> the pinned read fails loudly, never serves
    // a different snapshot
    ClusteredTable.vacuum(root)
    val e = intercept[Exception] { at("0").collect() }
    assert(e.getMessage != null && e.getMessage.contains("no complete base version"),
      s"expected the retention-horizon failure, got: $e")
  }

  test("zone maps prune on a filter-bounded column that is NOT clustered; " +
      "the catalog self-describes what is mapped; an unmapped column makes " +
      "no decision; results stay exact with the tail riding") {
    val root = Files.createTempDirectory("csrc_zm").toString
    // cluster on (d1, d2); stats-collect "ev", which CORRELATES with d2
    // (the event-time-under-entity-clustering case) without being a dim
    val rows = (1L to 200L).map(i =>
      (i, (i % 16).toInt, (i % 12).toInt, ((i % 12) * 100 + i % 50).toInt))
    ClusteredTable.append(rows.toDF("id", "d1", "d2", "ev"), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16,
      statsCols = Seq("ev"))
    ClusteredTable.append(
      Seq((201L, 3, 4, 410)).toDF("id", "d1", "d2", "ev"), root, "01") // in-range tail
    val rel = new ClusteredRelation(spark.sqlContext, root, Seq("d1", "d2"), None)
    val keep = rel.plannedBuckets(Array(
      GreaterThanOrEqual("ev", 400), LessThanOrEqual("ev", 499))).get
    val occupied = ClusteredTable.read(spark, root)
      .filter(col("zfile") >= 0).select("zfile").distinct().count()
    assert(keep.nonEmpty && keep.size < occupied,
      s"the zone map must skip buckets: kept $keep of $occupied")
    val got = spark.read.format("graft-clustered").option("root", root)
      .option("dims", "d1,d2").load()
      .where(col("ev").between(400, 499)).select("id").as[Long].collect().toSeq.sorted
    val want = ClusteredTable.read(spark, root)
      .where(col("ev").between(400, 499)).select("id").as[Long].collect().toSeq.sorted
    assert(got == want && got.contains(201L),
      s"zone-map pruning must only skip, never change: got ${got.size} rows")
    // a bounded filter on a column with NO zone map makes no decision
    assert(rel.plannedBuckets(Array(GreaterThanOrEqual("id", 100L))).isEmpty)
  }

  test("changefeed through the source: option strings serve changes() " +
      "exactly, filters evaluate above the diff, and a half-specified " +
      "window is rejected loudly") {
    val root = Files.createTempDirectory("csrc_cdf").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 2, 2))), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
    ClusteredTable.append(mk(Seq((3L, 3, 3))), root, "01")
    ClusteredTable.delete(Seq(Tuple1(1L)).toDF("id"), root, "02")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1
    def cdf = spark.read.format("graft-clustered").option("root", root)
      .option("changesfrom", "0").option("changesto", "1").load()
    val got = cdf.select("id", "_change").as[(Long, String)].collect().toSeq.sorted
    assert(got == Seq((1L, "delete"), (3L, "insert")), s"net diff wrong: $got")
    assert(got == ClusteredTable.changes(spark, root, 0L, 1L)
      .select("id", "_change").as[(Long, String)].collect().toSeq.sorted,
      "the option surface must equal the programmatic call")
    // a filter over the diff evaluates against the DIFF's rows (it is
    // declared unhandled by the scan builder, never pushed into a
    // snapshot scan that would answer from the wrong row set)
    assert(cdf.where(col("_change") === "insert")
      .select("id").as[Long].collect().toSeq == Seq(3L))
    val e = intercept[Exception] {
      spark.read.format("graft-clustered").option("root", root)
        .option("changesfrom", "0").load()
    }
    assert(e.getMessage.contains("BOTH changesfrom and changesto"), s"got: $e")
  }

  test("string zone maps: a month-string range prunes through the string " +
      "plane; numeric and string maps coexist on one catalog; results exact") {
    val root = Files.createTempDirectory("csrc_zms").toString
    val rows = (1L to 200L).map(i => (i, (i % 16).toInt, (i % 12).toInt,
      f"2024-${(i % 12) + 1}%02d", ((i % 12) * 100 + i % 50).toInt))
    ClusteredTable.append(rows.toDF("id", "d1", "d2", "ym", "ev"), root, "00")
    val v = ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16,
      statsCols = Seq("ev", "ym"))
    // each stats column lands on the plane of its own type
    assert(ClusteredTable.zoneMaps[Long](spark, root, v).keySet == Set("ev"))
    assert(ClusteredTable.zoneMaps[String](spark, root, v).keySet == Set("ym"))
    val rel = new ClusteredRelation(spark.sqlContext, root, Seq("d1", "d2"), None)
    val keep = rel.plannedBuckets(Array(
      GreaterThanOrEqual("ym", "2024-05"), LessThanOrEqual("ym", "2024-06"))).get
    val occupied = ClusteredTable.read(spark, root)
      .filter(col("zfile") >= 0).select("zfile").distinct().count()
    assert(keep.nonEmpty && keep.size < occupied,
      s"the string plane must skip buckets: kept $keep of $occupied")
    val got = spark.read.format("graft-clustered").option("root", root)
      .option("dims", "d1,d2").load()
      .where(col("ym") >= "2024-05" && col("ym") <= "2024-06")
      .select("id").as[Long].collect().toSeq.sorted
    val want = ClusteredTable.read(spark, root)
      .where(col("ym") >= "2024-05" && col("ym") <= "2024-06")
      .select("id").as[Long].collect().toSeq.sorted
    assert(got == want && got.nonEmpty,
      s"string zone-map pruning must only skip, never change: ${got.size} rows")
  }

  test("zone maps under schema evolution: an all-NULL bucket carries NULL " +
      "bounds and is conservatively kept; results stay exact") {
    val root = Files.createTempDirectory("csrc_zm_evo").toString
    // pre-evolution rows (no 'ev' column), landing in their own buckets
    ClusteredTable.append(
      (1L to 10L).map(i => (i, 15, 11)).toDF("id", "d1", "d2"), root, "00")
    // evolved rows with ev, clustered elsewhere
    ClusteredTable.append(
      (11L to 50L).map(i => (i, (i % 4).toInt, (i % 12).toInt, (i % 100).toInt))
        .toDF("id", "d1", "d2", "ev"), root, "01")
    val v = ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16,
      statsCols = Seq("ev"))
    val zm = ClusteredTable.zoneMaps[Long](spark, root, v).apply("ev")
    val nullBuckets = zm.collect { case (zf, None, None) => zf }
    assert(nullBuckets.nonEmpty, "the pre-evolution bucket must carry NULL bounds")
    val rel = new ClusteredRelation(spark.sqlContext, root, Seq("d1", "d2"), None)
    val keep = rel.plannedBuckets(Array(GreaterThanOrEqual("ev", 0))).get
    assert(nullBuckets.forall(keep.contains),
      "NULL bounds mean 'no bound' — the bucket must be kept, never pruned")
    val got = spark.read.format("graft-clustered").option("root", root)
      .option("dims", "d1,d2").load()
      .where(col("ev") >= 0).select("id").as[Long].collect().toSeq.sorted
    assert(got == (11L to 50L).toSeq,
      s"NULL-ev rows fail the filter; evolved rows all pass: got ${got.size}")
  }

  test("aggregate pushdown over a many-file snapshot exercises the parallel " +
      "footer walk and answers exactly (identical to the serial merge)") {
    val root = Files.createTempDirectory("csrc_par").toString
    // 24 delta artifacts -> well past the 8-file parallel threshold
    (0 until 24).foreach { b =>
      ClusteredTable.append(
        mk(Seq((b * 2L, b % 16, b % 12), (b * 2L + 1, (b + 3) % 16, b % 12))),
        root, f"$b%02d")
    }
    val agg = spark.read.format("graft-clustered").option("root", root).load()
      .agg(count(lit(1)).as("n"), min("id").as("mn"), max("id").as("mx"))
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregates: [COUNT"),
      s"footer-stats pushdown must engage on the many-file snapshot:\n$plan")
    assert(agg.as[(Long, Long, Long)].head() == ((48L, 0L, 47L)))
  }

  test("the dims option drives k-dim hyper-box pruning through the source; " +
      "results stay exact") {
    val root = Files.createTempDirectory("csrc_3d").toString
    ClusteredTable.append(
      (1L to 300L).map(i => (i, (i % 16).toInt, (i % 12).toInt, (i % 7).toInt))
        .toDF("id", "d1", "d2", "d3"), root, "00")
    ClusteredTable.optimize(spark, root, Seq("d1", "d2", "d3"), 4, 16)
    ClusteredTable.append(
      Seq((301L, 2, 5, 3)).toDF("id", "d1", "d2", "d3"), root, "01") // in-box tail
    // the DECISION, pinned via the dims-list constructor
    val rel = new ClusteredRelation(spark.sqlContext, root,
      Seq("d1", "d2", "d3"), None)
    val keep = rel.plannedBuckets(Array(
      LessThanOrEqual("d1", 3), LessThanOrEqual("d2", 7),
      GreaterThanOrEqual("d3", 1))).get
    val occupied = ClusteredTable.read(spark, root)
      .filter(col("zfile") >= 0).select("zfile").distinct().count()
    assert(keep.nonEmpty && keep.size < occupied,
      s"the 3-D box must skip buckets: kept $keep of $occupied")
    // the ROWS through the public option surface: exact, tail included
    val df = spark.read.format("graft-clustered")
      .option("root", root).option("dims", "d1,d2,d3").load()
      .where(col("d1") <= 3 && col("d2") <= 7 && col("d3") >= 1)
      .select("id").as[Long].collect().toSeq.sorted
    val want = ClusteredTable.read(spark, root)
      .where(col("d1") <= 3 && col("d2") <= 7 && col("d3") >= 1)
      .select("id").as[Long].collect().toSeq.sorted
    assert(df == want && df.contains(301L),
      s"k-dim pruning must only skip, never change: got ${df.size} rows")
  }
}
