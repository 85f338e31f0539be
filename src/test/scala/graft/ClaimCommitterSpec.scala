package graft

import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import graft.functions.{ClusteredTable, ConditionalPutClaimCommitter}

/** The OCC contract THROUGH THE CLAIM SEAM (r15 verdict ask #3): every
  * racing-maintainer and crash-safety guarantee the rename committer
  * provides must survive a committer whose materialization is
  * genuinely NON-ATOMIC (child-by-child moves, create-exclusive marker
  * decision) — the object-store shape — including a fault-injected
  * crash mid-materialization and its lease-based repair.
  */
class ClaimCommitterSpec extends SparkTestBase {
  import spark.implicits._

  private def mk(rows: Seq[(Long, Int, Int)]) =
    rows.toDF("id", "d1", "d2")

  private def ids(root: String): Seq[Long] =
    ClusteredTable.read(spark, root).select("id").as[Long].collect().toSeq.sorted

  /** The fault-injecting stub: non-atomic materialization with a
    * widened inter-move window, and an optional crash after the first
    * child lands — "rename" torn exactly where an object store tears.
    */
  private class TornCommitter(crashAfterFirstChild: Boolean,
      interMoveMs: Long = 0L) extends ConditionalPutClaimCommitter {
    override protected def materialize(fs: FileSystem, src: Path, dst: Path): Unit = {
      fs.mkdirs(dst)
      val children = fs.listStatus(src).toSeq.map(_.getPath)
      val gates = Seq("_SUCCESS", "_MANIFEST")
      val ordered = children.filterNot(c => gates.contains(c.getName)) ++
        gates.flatMap(g => children.find(_.getName == g))
      var moved = 0
      ordered.foreach { c =>
        if (crashAfterFirstChild && moved == 1)
          throw new java.io.IOException("injected crash mid-materialization")
        if (interMoveMs > 0) Thread.sleep(interMoveMs)
        if (!fs.rename(c, new Path(dst, c.getName)))
          throw new java.io.IOException(s"move failed: $c")
        moved += 1
      }
      fs.delete(src, true)
    }
  }

  private def withCommitter[T](c: graft.functions.ClaimCommitter)(body: => T): T = {
    ClusteredTable.committerOverride = Some(c)
    try body finally ClusteredTable.committerOverride = None
  }

  test("racing maintainers through the NON-ATOMIC conditional-put committer: " +
      "exactly one claim wins per version, the loser rebases, no row lost or " +
      "doubled, and the marker records the decision") {
    withCommitter(new TornCommitter(crashAfterFirstChild = false, interMoveMs = 25)) {
      val root = Files.createTempDirectory("cps_occ").toString
      ClusteredTable.append(mk((1L to 40L).map(i =>
        (i, (i % 16).toInt, (i % 12).toInt))), root, "00")
      ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
      ClusteredTable.append(mk((41L to 60L).map(i =>
        (i, (i % 16).toInt, (i % 12).toInt))), root, "01")
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
      assert(rs.forall(_.isRight), s"a racing optimize failed through the seam: $rs")
      assert(rs.collect { case Right(v) => v }.max >= 1L)
      assert(ids(root) == (1L to 60L),
        "no row lost or doubled through non-atomic claims")
      assert(ClusteredTable.read(spark, root).filter(col("zfile") < 0).count() == 0)
      // the claim decision is recorded: v=1's marker exists
      assert(new java.io.File(root, "base/.claim-v=1").isFile,
        "the conditional-put marker must record the winner")
      // maintenance keeps working through the seam
      ClusteredTable.vacuum(root)
      assert(ids(root) == (1L to 60L))
    }
  }

  test("a committer crash MID-MATERIALIZATION leaves a torn target that no " +
      "reader can see; recoverStaleClaims repairs it and a retried fold " +
      "publishes the version exactly") {
    val root = Files.createTempDirectory("cps_crash").toString
    ClusteredTable.append(mk(Seq((1L, 1, 1), (2L, 9, 2))), root, "00")
    withCommitter(new TornCommitter(crashAfterFirstChild = false)) {
      ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0, clean
    }
    ClusteredTable.append(mk(Seq((3L, 3, 3))), root, "01")
    // the crash: the v=1 claim wins its marker, moves one child, dies
    withCommitter(new TornCommitter(crashAfterFirstChild = true)) {
      intercept[Exception] {
        ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16)
      }
    }
    // torn target on disk, marker claimed — but READERS see the old state
    assert(new java.io.File(root, "base/.claim-v=1").isFile)
    assert(ClusteredTable.readVersioned(spark, root)._1.contains(0L),
      "a torn version must be invisible (completeness markers never landed)")
    assert(ids(root) == Seq(1L, 2L, 3L),
      "reads stay exact through the torn claim (v=0 + pending delta)")
    // a healthy maintainer cannot claim v=1 while the dead winner's marker
    // holds it (a live winner must never have its target cleared)…
    withCommitter(new TornCommitter(crashAfterFirstChild = false)) {
      intercept[Exception] {
        ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16, maxAttempts = 2)
      }
      // …until the LEASE expires: recover, retry, exact
      assert(ClusteredTable.recoverStaleClaims(root, olderThanMs = 0L) >= 1)
      assert(ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) == 1L)
    }
    assert(ids(root) == Seq(1L, 2L, 3L))
    assert(ClusteredTable.read(spark, root).filter(col("zfile") < 0).count() == 0)
    // recover with a live lease never touches young markers or complete targets
    assert(ClusteredTable.recoverStaleClaims(root, olderThanMs = 3600000L) == 0)
    assert(ClusteredTable.recoverStaleClaims(root, olderThanMs = 0L) == 0,
      "a complete target's marker is the permanent claim record, never reclaimed")
  }

  test("resurrection stays impossible through the seam: after vacuum reclaims " +
      "a superseded version, its permanent claim marker blocks any late " +
      "claimer of the retired version number") {
    withCommitter(new TornCommitter(crashAfterFirstChild = false)) {
      val root = Files.createTempDirectory("cps_res").toString
      ClusteredTable.append(mk(Seq((1L, 1, 1))), root, "00")
      ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=0
      ClusteredTable.append(mk(Seq((2L, 2, 2))), root, "01")
      ClusteredTable.optimize(spark, root, Seq("d1", "d2"), 4, 16) // v=1
      ClusteredTable.vacuum(root) // reclaims v=0's directory
      assert(!new java.io.File(root, "base/v=0").exists())
      // a late claimer of the retired number (a stale fold's rename under
      // non-atomic semantics) must lose to the permanent marker
      val fs = new Path(root).getFileSystem(
        spark.sessionState.newHadoopConf())
      val staleSrc = new Path(root, "base/.staging-v=0-stale")
      fs.mkdirs(staleSrc)
      val c = new TornCommitter(crashAfterFirstChild = false)
      assert(!c.claim(fs, staleSrc, new Path(root, "base/v=0")),
        "the retired version number must stay claimed forever")
      assert(!new java.io.File(root, "base/v=0").exists(),
        "the lost claim must not materialize anything")
      assert(ids(root) == Seq(1L, 2L))
    }
  }
}
