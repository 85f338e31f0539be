package graft.functions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CLUSTERED TABLE MAINTENANCE — the day-two problem after
  * [[ZorderLayout]] solves day one: new data keeps arriving, and a
  * layout that is only ever written once decays into a pile of
  * unclustered appends that no box predicate can skip. This is the
  * LSM shape every production lakehouse OPTIMIZE implements, reduced
  * to its mechanism on plain parquet:
  *
  *   - `append(df)` lands a delta directory untouched — ingest never
  *     pays a sort or shuffle (at 100 TB the ingest path must be a
  *     straight write; clustering on the hot path would couple ingest
  *     latency to layout quality);
  *   - `optimize()` folds the newest base version + every un-folded
  *     delta into base version K+1 via [[ZorderLayout.write]] (static
  *     z-buckets, z-sorted within each), then records WHICH deltas it
  *     folded in a manifest INSIDE the version directory;
  *   - `read()` returns newest-complete-base ∪ deltas-not-in-its-
  *     manifest: box predicates prune the base through its zfile
  *     partitions + tight footers, and pay full price only on the
  *     (small, recent) unfolded tail — the classic LSM read bill.
  *
  * STORAGE: the ledger runs on the Hadoop FileSystem API — every
  * listing, manifest read/write, claim rename, and reclaim goes
  * through `org.apache.hadoop.fs.{FileSystem, Path}` resolved from the
  * root's scheme, so a table root can be `file:///…` (the spec
  * fixtures), a bare local path, or `hdfs://…`, where directory rename
  * is atomic and the OCC contract below holds unchanged. On an object
  * store WITHOUT atomic rename (s3a and friends) the claim goes
  * through the CONDITIONAL-PUT committer instead ([[ClaimCommitter]] —
  * the r15 verdict's seam): the winner is decided by one
  * create-exclusive marker file (the if-none-match PUT every store
  * offers) and the target materializes non-atomically with the
  * completeness markers landing last, so readers gated on
  * `_SUCCESS`/`_MANIFEST` can never observe a torn artifact; selection
  * is automatic by scheme or forced via Hadoop conf
  * `graft.clustered.committer` (rename | put), and
  * [[recoverStaleClaims]] is the lease-based repair for a committer
  * that crashed mid-materialization. Everything else (plain
  * parquet reads/writes, underscore-invisible metadata dirs) is
  * object-store-clean as is. Filesystem credentials/config come from
  * the active SparkSession's Hadoop configuration when one exists.
  *
  * Crash safety without a transaction log: a version is visible only
  * when its `_MANIFEST` exists, and since the fold writes parquet +
  * manifest into a hidden staging directory and publishes both through
  * ONE atomic claim rename (see `optimize`'s OCC contract), a crash at
  * any point leaves either a never-visible staging orphan or a complete
  * version — nothing torn is ever visible. The same claim rename is
  * the table's optimistic-concurrency point: racing maintainers fold in
  * parallel, exactly one claims `v=<next>`, the loser re-folds against
  * the winner's state.
  * Deltas are never deleted by optimize itself — they become garbage
  * the moment a complete manifest names them, and `vacuum()` reclaims
  * them (plus staging orphans) at leisure. Re-running optimize after
  * any crash point is idempotent: it re-reads the same newest-complete
  * version and the same un-folded delta set, and rewrites the same
  * next version. Readers are never wrong, only (pre-vacuum) redundant
  * on disk, never in results.
  *
  * ENVELOPE CATALOG: each fold also lands `_envelopes/` inside the
  * version directory — one row per z-bucket with the fold-time min/max
  * of each clustered dimension (as long). It is written into the
  * STAGING directory before the claim, so data + manifest + catalog
  * publish through the same atomic rename and are consistent by
  * construction (one version, one catalog — the `_index/` argument).
  * Readers ([[envelopes]], the graft-clustered source) make the
  * pruning decision from this ≤numFiles-row artifact instead of
  * re-aggregating the base's clustered columns per scan — at 100 TB
  * that recompute is an O(table) bill per query, paid here once per
  * fold. Pending DVs only ever SHRINK true envelopes, so the fold-time
  * catalog is a sound over-approximation for the merge-on-read
  * snapshot; the unfolded delta tail is never pruned at all.
  *
  * MERGE (`upsert()`): WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT as
  * one paired artifact — the source lands as delta `d=<name>` and its
  * key set as delete `x=<name>`; equal sequence rank means the delete
  * retires every OLDER image of the keys but not its own new images.
  * An upsert costs two source-sized writes, rewrites nothing, and is
  * the write shape a changefeed consumer replays (see `changes`).
  *
  * MERGE-ON-READ DELETES (`delete()`): an equality-delete file — the
  * key set to remove, landed under `dv/x=<name>` as a plain parquet
  * write, no rewrite of any data file (at 100 TB a delete that
  * rewrites data files couples delete latency to table size; the
  * merge-on-read bill is an anti-join at read time, bounded by the
  * fold cadence). SEQUENCE SEMANTICS: artifact names must be
  * lexicographically monotonic across appends AND deletes (zero-padded
  * batch ids / ingest timestamps); a delete applies to the base and to
  * every delta with a SMALLER name — data appended after the delete is
  * untouched, so re-inserting a deleted key resurrects it (the Iceberg
  * v2 equality-delete sequence-number rule, on directory names).
  * `optimize()` applies pending deletes physically and retires them via
  * the same manifest; the unfolded-DV key sets stay small (bounded by
  * the fold cadence), so every read-side anti-join broadcasts. All
  * deletes on one table use the same key column set.
  *
  * CHANGEFEED (`changes(from, to)`): the net row-level diff between two
  * optimize versions, recomputed from the delta/DV artifacts the two
  * manifests disagree on — never a full-snapshot diff. Inserts are the
  * window's deltas minus the window deletes that outrank them; deletes
  * are the window DV keys that actually existed at `from`, emitted as
  * pre-image rows. Exact reconstruction holds (spec-pinned):
  * read(to) == read(from) ∪ inserts ∖ deletes. Like Delta CDF, the
  * feed reads retained artifacts — `vacuum()` bounds the horizon.
  *
  * SCHEMA EVOLUTION (add-column only): an append may carry a SUPERSET
  * of the table's columns; every union in read/optimize/changes is
  * `unionByName(allowMissingColumns = true)`, so pre-evolution rows
  * surface NULL in the new columns and the next optimize folds the
  * widened schema into the base permanently. Time travel returns each
  * version's own schema (a v=K read is exactly what K folded). Columns
  * are never dropped or retyped this way — rename/retype is a
  * rewrite, not an evolution. Delete-key columns must not evolve.
  *
  * PHYSICAL PURGE (the compliance contract merge-on-read defers): a
  * `delete()` hides rows immediately but the BYTES persist until
  * `optimize()` rewrites the base without them and `vacuum()` removes
  * the pre-delete artifacts — after that pair, no file under the table
  * root contains the purged rows (spec-pinned by byte-scan). At 100 TB
  * the purge bill is the optimize fold the table was paying anyway;
  * retention-driven purge = run delete, then fold on the compliance
  * deadline cadence. NOTE: time-travel versions and changefeed
  * pre-images are part of what vacuum must reclaim for a purge to be
  * total — the purge completes once the pre-delete versions fall out of
  * vacuum's retention window (`keepVersions`, default 1: immediate).
  */
object ClusteredTable extends Logging {

  /** Ledger I/O configuration: the active session's Hadoop conf (so
    * cluster filesystem settings and credentials apply) or a default
    * one for session-less maintenance calls (vacuum, watermark reads).
    * FileSystem instances are cached by (scheme, authority) underneath,
    * so resolving per call is cheap.
    */
  private def fsOf(p: Path): FileSystem =
    p.getFileSystem(SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf()).getOrElse(new Configuration()))

  private def baseRoot(root: String) = new Path(root, "base")
  private def deltaRoot(root: String) = new Path(root, "delta")
  private def dvRoot(root: String) = new Path(root, "dv")

  private def ls(fs: FileSystem, dir: Path): Seq[FileStatus] =
    try fs.listStatus(dir).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** Recursive local delete — a FIXTURE helper for specs and the
    * lifecycle queries that rebuild demo tables under java.io.tmpdir;
    * the table's own reclaim path is [[vacuum]] through the Hadoop API.
    */
  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
    f.delete()
  }

  /** The active [[ClaimCommitter]] — the seam every publish goes
    * through (see ClaimCommitter.scala). Selection: the spec override
    * if set, else the Hadoop conf key `graft.clustered.committer`
    * (`rename` | `put` | `auto`, default auto), else by scheme — object
    * stores without atomic directory rename get the conditional-put
    * committer, everything else the atomic-rename one.
    */
  @volatile private[graft] var committerOverride: Option[ClaimCommitter] = None

  private val putSchemes = Set("s3a", "s3", "s3n", "gs", "oss", "wasb", "wasbs", "cos")

  private def committerFor(fs: FileSystem, dst: Path): ClaimCommitter =
    committerOverride.getOrElse {
      val conf = fs.getConf
      conf.get("graft.clustered.committer", "auto") match {
        case "rename" => RenameClaimCommitter
        case "put" => new ConditionalPutClaimCommitter
        case _ =>
          val scheme = Option(fs.makeQualified(dst).toUri.getScheme).getOrElse("file")
          if (putSchemes.contains(scheme)) new ConditionalPutClaimCommitter
          else RenameClaimCommitter
      }
    }

  /** Atomic claim through the active committer: make `src` become
    * `dst`, returning true iff THIS call won — i.e. `dst` now durably
    * holds exactly `src`'s content (see [[ClaimCommitter]] for the
    * per-store mechanics and the visibility contract).
    */
  private def claimRename(fs: FileSystem, src: Path, dst: Path): Boolean =
    committerFor(fs, dst).claim(fs, src, dst)

  /** Whether `dst` is spoken for by a possibly-live in-progress claim
    * — the guard every "clear manifest-less garbage" rule must consult
    * before deleting an incomplete target (under non-atomic
    * materialization an incomplete target can belong to a live winner;
    * under atomic rename it can only be crash debris).
    */
  private def claimInProgress(fs: FileSystem, dst: Path): Boolean =
    committerFor(fs, dst).claimed(fs, dst)

  /** Lease-based recovery for the conditional-put committer's one
    * liveness hole: a winner that crashed mid-materialization leaves
    * its name marker-claimed but the target incomplete forever — later
    * claimers lose to the marker. Reclaims every `.claim-*` marker
    * under the table's namespaces older than `olderThanMs` whose
    * target never completed (version: `_SUCCESS` + `_MANIFEST`;
    * artifact: `_SUCCESS`; settled metadata: its `v` file), deleting
    * the partial target with it. Correctness is not at stake either
    * way (incomplete targets are invisible); the lease must exceed the
    * longest plausible materialization. No-op under the rename
    * committer (it leaves no markers). Returns markers reclaimed.
    */
  def recoverStaleClaims(root: String, olderThanMs: Long): Int = {
    val now = System.currentTimeMillis()
    def completeTarget(fs: FileSystem, target: Path): Boolean = {
      val n = target.getName
      if (n.startsWith("v="))
        fs.exists(new Path(target, "_MANIFEST")) && fs.exists(new Path(target, "_SUCCESS"))
      else if (n.startsWith("d=") || n.startsWith("x=") || n.startsWith("c="))
        fs.exists(new Path(target, "_SUCCESS"))
      else fs.exists(new Path(target, "v"))
    }
    Seq(new Path(root), baseRoot(root), deltaRoot(root), dvRoot(root)).map { dir =>
      val fs = fsOf(dir)
      ls(fs, dir)
        .filter(st => st.isFile && st.getPath.getName.startsWith(".claim-") &&
          now - st.getModificationTime > olderThanMs)
        .count { st =>
          val target = new Path(dir, st.getPath.getName.stripPrefix(".claim-"))
          if (completeTarget(fs, target)) false
          else {
            fs.delete(target, true)
            fs.delete(st.getPath, false)
            true
          }
        }
    }.sum
  }

  /** Complete base versions (have both parquet _SUCCESS and _MANIFEST),
    * ascending.
    */
  private def versions(root: String): Seq[(Long, Path)] = {
    val base = baseRoot(root)
    val fs = fsOf(base)
    ls(fs, base)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("v="))
      .filter(st => fs.exists(new Path(st.getPath, "_SUCCESS")) &&
        fs.exists(new Path(st.getPath, "_MANIFEST")))
      .map(st => (st.getPath.getName.stripPrefix("v=").toLong, st.getPath))
      .sortBy(_._1)
  }

  private def manifest(versionDir: Path): Set[String] = {
    val fs = fsOf(versionDir)
    val in = fs.open(new Path(versionDir, "_MANIFEST"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toSet
    finally in.close()
  }

  private def completeDirs(rootDir: Path, prefix: String): Seq[Path] = {
    val fs = fsOf(rootDir)
    ls(fs, rootDir)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix) &&
        fs.exists(new Path(st.getPath, "_SUCCESS")))
      .map(_.getPath)
      .sortBy(_.getName)
  }

  private def deltaDirs(root: String): Seq[Path] = completeDirs(deltaRoot(root), "d=")

  private def dvDirs(root: String): Seq[Path] = completeDirs(dvRoot(root), "x=")

  /** Complete minor-compaction artifacts (`c=<rank>` under delta/, see
    * [[compactTail]]) — must also carry their `_ABSORBS` list to count.
    */
  private def compactedDirs(root: String): Seq[Path] =
    completeDirs(deltaRoot(root), "c=")
      .filter(c => fsOf(c).exists(new Path(c, "_ABSORBS")))

  /** One publish of an artifact dir, from one listing of it: `marker`'s
    * mtime plus a part-file name, which carries the writing job's random
    * UUID — so a root rebuilt at the same path within one mtime tick
    * still reads as a new publish. None if `marker` is absent.
    */
  private def publishStamp(fs: FileSystem, dir: Path, marker: String): Option[String] = {
    val names = ls(fs, dir).map(st => st.getPath.getName -> st.getModificationTime)
    names.find(_._1 == marker).map(m =>
      s"${m._2}@${names.map(_._1).find(_.startsWith("part-")).getOrElse("")}")
  }

  /** Bounded cache of `_ABSORBS` contents keyed on file path + publish
    * stamp: the list publishes inside the artifact's claim and is
    * immutable after, so one read per publish suffices — the
    * auto-compaction sink used to re-open every active artifact's list
    * after EVERY micro-batch (tailParts) and compactTail re-read them
    * again for the size tiers (the r16 ADVICE finding); on an object
    * store each open is a round-trip.
    */
  private val absorbsCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (String, Set[String])](256, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (String, Set[String])]): Boolean = size() > 256
    })

  /** The `d=` artifact names a compacted artifact absorbed. */
  private def absorbsOf(c: Path): Set[String] = {
    val fs = fsOf(c)
    val f = new Path(c, "_ABSORBS")
    val stamp = publishStamp(fs, c, "_ABSORBS").orNull // absent: fs.open throws
    val hit = absorbsCache.get(f.toString)
    if (hit != null && hit._1 == stamp) hit._2
    else {
      val in = fs.open(f)
      val set =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toSet
        finally in.close()
      absorbsCache.put(f.toString, (stamp, set))
      set
    }
  }

  /** The un-folded delta-like artifacts one snapshot reads, ascending by
    * sequence rank: plain deltas that are neither folded nor absorbed by
    * an ACTIVE compacted artifact, plus the active compacted artifacts
    * themselves. ACTIVE means none of the artifact's absorbed originals
    * is folded — the POISONING rule that keeps reads exact when a fold
    * races a compaction: a fold that absorbed any original directly
    * makes the compacted artifact redundant-and-dangerous (its merged
    * rows partially overlap the base), so every reader judges
    * active/poisoned against the ONE manifest it already read and falls
    * back to the surviving originals; a poisoned artifact is never read
    * and never folded, and vacuum reclaims it. Absorbed originals are
    * kept on disk (vacuum leaves them) until a fold retires them through
    * the manifest — they are the poison fallback.
    */
  private def pendingDeltaLike(root: String, folded: Set[String]): Seq[Path] = {
    val active = compactedDirs(root)
      .filter(c => !folded.contains(c.getName))
      .filter(c => absorbsOf(c).forall(n => !folded.contains(n)))
    val absorbed = active.flatMap(absorbsOf).toSet
    // hierarchical compaction: a re-compacted artifact's _ABSORBS
    // flattens its members' lists, so an active artifact absorbed by a
    // LARGER active artifact is read through the larger one only (it
    // stays on disk as that artifact's poison fallback, same as a d=)
    (deltaDirs(root).filter(d => !folded.contains(d.getName) &&
      !absorbed.contains(d.getName)) ++
      active.filter(c => !absorbed.contains(c.getName)))
      .sortBy(p => seqOf(p.getName))
  }

  /** The sequence rank of an artifact: its name with the `d=` / `x=`
    * namespace prefix stripped, compared lexicographically. The caller
    * contract (scaladoc above) makes these monotonic across both kinds.
    */
  private def seqOf(dirName: String): String = dirName.dropWhile(_ != '=').drop(1)

  /** Anti-join `df` against each delete file's (small, broadcast) key
    * set. The key columns are the DV parquet's own schema.
    */
  private def applyDvs(s: SparkSession, df: DataFrame, dvs: Seq[Path]): DataFrame =
    dvs.foldLeft(df) { (acc, dv) =>
      val keys = s.read.parquet(dv.toString)
      acc.join(broadcast(keys), keys.columns.toSeq, "left_anti")
    }

  /** Land one ingest batch as delta `d=<name>` — a plain parquet write,
    * no clustering. `name` must be unique per batch (a batch id, an
    * ingest timestamp); re-writing the same name overwrites, which makes
    * replayed ingest batches idempotent the FsStreamPublisher way.
    */
  def append(df: DataFrame, root: String, name: String): Unit =
    df.write.mode("overwrite")
      .parquet(new Path(deltaRoot(root), s"d=$name").toString)

  /** Land an equality-delete file `x=<name>`: `keys` is the key set to
    * remove (one or more columns; the same key columns for every delete
    * on a table). Applies to the base and to deltas named BEFORE
    * `name`; later appends of the same key resurrect it. Re-writing the
    * same name overwrites — replayed deletes are idempotent like
    * replayed appends.
    */
  def delete(keys: DataFrame, root: String, name: String): Unit =
    keys.dropDuplicates().write.mode("overwrite")
      .parquet(new Path(dvRoot(root), s"x=$name").toString)

  /** Fold newest base + all un-folded deltas into the next z-ordered
    * base version, clustered on the integer dimensions `dims` (k ≥ 1,
    * via [[ZorderLayout.write]]; Morton generalizes to any k, hilbert
    * stays 2-D and rejects loudly otherwise). Returns the new version id
    * (or the current one if there was nothing to fold). Idempotent from
    * any crash point.
    *
    * The fold publishes a k-dim envelope catalog — per z-bucket, per-dim
    * min/max as `mn<i>`/`mx<i>` with the dimension name recorded as
    * `d<i>_col`; a reader asking for a prefix of the folded dims still
    * gets true bounds (see [[envelopes]]).
    *
    * ZONE MAPS (`statsCols`): additionally record per-bucket min/max
    * for columns that are NOT clustered dimensions — the Delta/Iceberg
    * file-stats idea at bucket grain. They ride the same catalog
    * artifact (`s<i>_col`/`s<i>_mn`/`s<i>_mx` columns, nullable bounds
    * for evolution-era buckets with only NULLs), publish under the same
    * claim, and let the source prune on ANY mapped column a filter
    * touches ([[zoneMaps]]) — useful exactly when a column correlates
    * with the layout without being clustered on (event time under an
    * entity-clustered layout is the canonical case). A zone map never
    * changes which rows qualify — only which buckets are read; an
    * uncorrelated column's maps simply keep every bucket.
    *
    * OPTIMISTIC CONCURRENCY (the Delta/Iceberg commit-protocol shape on
    * a filesystem): the fold writes into a HIDDEN staging directory —
    * parquet, then the envelope catalog, then the manifest, all INSIDE
    * it — and the version becomes visible only through one atomic
    * directory rename that CLAIMS `v=<next>`. Immediately before that
    * claim the fold RE-READS the ledger and aborts into a retry if any
    * version landed since it began (a stale fold must never rename:
    * after a vacuum of the winner's superseded version, a late rename
    * could otherwise resurrect a retired version number with stale
    * content — the r14 ADVICE finding). When two maintainers race,
    * exactly one claim wins; the loser discards its staging and
    * RE-FOLDS against the winner's table state (the winner may have
    * absorbed a different artifact set, so a blind re-claim at v+1
    * would be wrong — the retry re-reads manifests, the "rebase" step
    * of optimistic commit). A write failure inside a staging whose
    * target version turns out to be ALREADY CLAIMED is also treated as
    * a lost race, not an error — a concurrent vacuum may reclaim a
    * lost fold's staging mid-write (see [[vacuum]]), and the fold it
    * guts was going to lose its claim anyway. Concurrent
    * `append`/`delete` during a fold are always safe: the manifest
    * names exactly what was folded, so an artifact that landed
    * mid-fold simply stays pending. A crash at any point leaves either
    * a hidden staging orphan (never visible) or a completed version —
    * torn VISIBLE versions cannot occur.
    *
    * Why resurrection cannot occur: a staging is created promptly
    * after its fold reads the ledger, so any vacuum able to see
    * `v=<target>` as superseded runs AFTER the staging exists — and
    * vacuum never reclaims a base version while a staging still
    * targets it. A lost fold therefore either self-discards at the
    * pre-claim recheck, or finds `v=<target>` still present and fails
    * the rename. (See [[vacuum]] for the reclaim side.)
    *
    * NOTE: claim atomicity comes from the active [[ClaimCommitter]] —
    * the filesystem rename guarantee on local FS/HDFS, a
    * create-exclusive marker (conditional put) with markers-last
    * materialization on object stores without atomic rename.
    */
  def optimize(s: SparkSession, root: String, dims: Seq[String],
      bits: Int, numFiles: Int, maxAttempts: Int = 5,
      reindex: Seq[String] = Nil, maxRecordsPerFile: Long = 0L,
      curve: String = "morton", statsCols: Seq[String] = Nil): Long = {
    require(dims.nonEmpty, "optimize needs at least one clustered dimension")
    require(statsCols.forall(!dims.contains(_)),
      "statsCols duplicate clustered dimensions — their bounds are already enveloped")
    // `reindex` closes the index lifecycle operationally: a fresh fold
    // has no Bloom index until buildIndex runs, during which lookups
    // degrade to unpruned (correct, slow). Rebuilding as part of the
    // fold keeps point-lookup skipping continuous across maintenance.
    // The rebuild runs AFTER a version is settled (claimed by us, or
    // already current with nothing to fold) against the newest version;
    // buildIndex overwrites idempotently, so racing rebuilds converge.
    def reindexNow(v: Long): Long = {
      reindex.foreach(c => buildIndex(s, root, c))
      v
    }
    var attempt = 0
    while (attempt < maxAttempts) {
      attempt += 1
      val vs = versions(root)
      val current = vs.lastOption
      val folded = current.map { case (_, dir) => manifest(dir) }.getOrElse(Set.empty)
      val pending = pendingDeltaLike(root, folded)
      val pendingDv = dvDirs(root).filter(x => !folded.contains(x.getName))
      if (pending.isEmpty && pendingDv.isEmpty && current.isDefined) {
        // no-op fold: rebuild only indexes the current version LACKS
        // (a present index — either key plane — is already consistent
        // with this version)
        reindex.filterNot(c => hasIndex(root, c))
          .foreach(c => buildIndex(s, root, c))
        return current.get._1
      }
      // sequence-aware fold: every pending delete outranks the base; a
      // delta is trimmed only by deletes named after it
      val parts = current.map { case (_, dir) =>
          // drop the layout's own columns: the fold recomputes them
          applyDvs(s, s.read.parquet(dir.toString).drop("zkey", "zfile"), pendingDv)
        }.toSeq ++
        pending.map(d => applyDvs(s, s.read.parquet(d.toString),
          pendingDv.filter(x => seqOf(x.getName) > seqOf(d.getName))))
      if (parts.isEmpty) throw new IllegalStateException(
        s"optimize on an empty clustered table at $root (deletes but no data)")
      // allowMissingColumns = SCHEMA EVOLUTION: a delta appended with new
      // columns folds cleanly — pre-evolution rows take NULL in the new
      // columns (the Delta/Iceberg add-column rule). Columns are only ever
      // ADDED this way, never dropped: every part contributes its full
      // column set and the fold's schema is their union.
      val all = parts.reduce(_.unionByName(_, allowMissingColumns = true))
      val next = current.map(_._1 + 1).getOrElse(0L)
      val nextDir = new Path(baseRoot(root), s"v=$next")
      val fs = fsOf(nextDir)
      // an existing v=<next> WITHOUT a manifest is garbage no OCC writer
      // can have produced (a pre-staging crash, external tampering) —
      // clear it so the claim can land; a complete one means we lost a
      // race we hadn't even entered, and the claim below will say so.
      // UNLESS an in-progress claim owns the name (conditional-put
      // committer mid-materialization): then it is a live winner's
      // partial target, not garbage — leave it, we lose the claim.
      if (fs.exists(nextDir) && !fs.exists(new Path(nextDir, "_MANIFEST")) &&
          !claimInProgress(fs, nextDir))
        fs.delete(nextDir, true)
      val staging = new Path(baseRoot(root),
        s".staging-v=$next-${java.util.UUID.randomUUID().toString.take(8)}")
      val wrote = try {
        ZorderLayout.write(all, dims, bits, numFiles, staging.toString,
          maxRecordsPerFile, curve)
        // the ENVELOPE CATALOG: one ≤numFiles-row aggregate over the
        // staged parquet (column-pruned to zfile + the clustered
        // dims), landed inside staging so the claim rename publishes
        // data + catalog + manifest atomically. Bounds are stored as
        // long — a long-typed clustered dimension must not wrap.
        // Numbered per-dim columns (mn<i>/mx<i>/d<i>_col): at k=2 the
        // historical schema exactly; DuckDB-readable flat SQL at any k.
        // Zone-map columns (s<i>_mn/s<i>_mx/s<i>_col) ride the same
        // one-aggregate artifact — stats collection costs nothing extra
        // beyond the agg width.
        // a STRING stats column keeps its own type (binary-collated
        // min/max — the date-string / URL-prefix zone-map case);
        // everything else stores long. Readers dispatch on the
        // catalog column's parquet type. (Schema inference here is a
        // driver-side read of one footer — no job; one write staged
        // every file, so they share the schema.)
        val isStr = readHiddenDir(s, staging, dataFilesUnder(staging).take(1)).schema.fields
          .map(f => f.name -> (f.dataType == org.apache.spark.sql.types.StringType))
          .toMap.withDefaultValue(false)
        val envPath = new Path(staging, "_envelopes").toString
        val litCols = dims.zipWithIndex.map { case (c, i) => (s"d${i + 1}_col", c) } ++
          statsCols.zipWithIndex.map { case (c, i) => (s"s${i + 1}_col", c) }
        footerEnvelopes(s, staging, dims, statsCols, isStr) match {
          case Some(rows) =>
            // ENVELOPES FROM FOOTERS (r18): the staged files were just
            // written with exact column statistics in their footers, so
            // the catalog is a driver-side metadata read — the former
            // staged-parquet re-read + aggregate job (a full metadata+
            // column pass over the table per fold) is gone; only the
            // ≤numFiles-row local write remains.
            import org.apache.spark.sql.types._
            val fields = Seq(StructField("zfile_id", IntegerType)) ++
              dims.indices.flatMap(i => Seq(StructField(s"mn${i + 1}", LongType),
                StructField(s"mx${i + 1}", LongType))) ++
              statsCols.zipWithIndex.flatMap { case (c, i) =>
                val t = if (isStr(c)) StringType else LongType
                Seq(StructField(s"s${i + 1}_mn", t), StructField(s"s${i + 1}_mx", t))
              } ++
              litCols.map { case (n, _) => StructField(n, StringType) }
            import scala.jdk.CollectionConverters._
            val full = rows.map(r =>
              org.apache.spark.sql.Row.fromSeq(r ++ litCols.map(_._2)))
            s.createDataFrame(full.asJava, StructType(fields))
              .coalesce(1).write.mode("overwrite").parquet(envPath)
          case None =>
            // refusal fallback: the one-aggregate catalog build (a string
            // stats column past parquet's 4 KB footer-statistics limit)
            logWarning(s"graft-clustered: footer statistics refused for the " +
              s"envelope catalog of $staging — building it with an aggregate " +
              "job over the staged fold instead")
            val staged = readHiddenDir(s, staging, dataFilesUnder(staging))
            val envAggs = dims.zipWithIndex.flatMap { case (c, i) =>
              Seq(min(col(c).cast("long")).as(s"mn${i + 1}"),
                max(col(c).cast("long")).as(s"mx${i + 1}"))
            } ++ statsCols.zipWithIndex.flatMap { case (c, i) =>
              val base = if (isStr(c)) col(c) else col(c).cast("long")
              Seq(min(base).as(s"s${i + 1}_mn"), max(base).as(s"s${i + 1}_mx"))
            }
            litCols
              .foldLeft(
                staged.groupBy(col("zfile").cast("int").as("zfile_id"))
                  .agg(envAggs.head, envAggs.tail: _*)) { case (df, (n, c)) =>
                df.withColumn(n, lit(c))
              }
              .coalesce(1).write.mode("overwrite").parquet(envPath)
        }
        // the manifest names every delta AND delete file this version
        // absorbed; it lands INSIDE staging, so the claim rename is the
        // single visibility point for parquet + catalog + manifest
        // a folded compacted artifact retires its absorbed originals too
        // (they are already excluded from reads while it is active; naming
        // them makes vacuum reclaim them and keeps them retired even after
        // the compacted artifact itself is vacuumed)
        val names = (folded ++ pending.map(_.getName) ++
          pending.filter(_.getName.startsWith("c=")).flatMap(absorbsOf) ++
          pendingDv.map(_.getName)).toSeq.sorted
        val tmp = new Path(staging, "._manifest.tmp")
        val out = fs.create(tmp, true)
        try out.write(names.mkString("\n").getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, new Path(staging, "_MANIFEST")))
          throw new java.io.IOException(s"manifest rename failed in $staging")
        true
      } catch {
        case scala.util.control.NonFatal(e) =>
          fs.delete(staging, true) // don't leak a half-written staging
          // a vacuum racing a LOST fold may have gutted this staging
          // mid-write (its target version was already claimed, so its
          // reclaim is legal — see vacuum): if the ledger advanced past
          // our target, this failure IS the lost race, not an error
          if (versions(root).lastOption.exists(_._1 >= next)) false
          else throw e
      }
      if (wrote) {
        // pre-claim recheck (see the OCC contract above): rename only
        // if the ledger still reads exactly as this fold assumed
        if (versions(root).lastOption.map(_._1) == current.map(_._1) &&
            claimRename(fs, staging, nextDir))
          return reindexNow(next)
        // claim lost: a concurrent fold committed first — discard and
        // re-fold against the table state the winner left behind
        fs.delete(staging, true)
      }
    }
    throw new java.io.IOException(
      s"optimize at $root lost the version claim $maxAttempts times — " +
        "a faster maintainer keeps winning; raise maxAttempts or serialize maintainers")
  }

  /** Auto-sized fold: like [[optimize]], but the file count is derived
    * from the table's CURRENT size instead of pinned forever at write
    * time — the knob that otherwise quietly rots as a table grows (16
    * files chosen at day one means 6 TB files at 100 TB, no parallelism
    * and no skipping granularity; 4096 files chosen defensively means
    * a day-one table of empty splinters). Mechanism: one driver-side
    * row count over the fold inputs' parquet footers (zero Spark jobs),
    * then [[autoFileCount]]. Each fold re-derives the count, so the
    * layout tracks growth (and shrinkage after purges) with no operator
    * retuning; envelope catalogs, Bloom indexes and zfile pruning are
    * all per-version and follow along automatically. Deletes only
    * shrink the count, so ignoring pending DVs errs toward at most one
    * size step up. An unreadable footer fails the fold: the same files
    * are its input.
    */
  def optimizeAuto(s: SparkSession, root: String, dims: Seq[String],
      bits: Int, targetRowsPerFile: Long): Long = {
    require(targetRowsPerFile > 0, s"targetRowsPerFile must be positive")
    val vs = versions(root)
    val folded = vs.lastOption.map { case (_, dir) => manifest(dir) }.getOrElse(Set.empty)
    val rows = footerRowCount(s, vs.lastOption.map(_._2).toSeq ++ pendingDeltaLike(root, folded))
    optimize(s, root, dims, bits,
      autoFileCount(rows, targetRowsPerFile, bits, dims.length))
  }

  /** [[optimizeAuto]]'s sizing formula, exposed so its decision is
    * independently checkable (q_optimize_auto's oracle re-derives it in
    * SQL): the smallest power of two ≥ rows/targetRowsPerFile, clamped
    * to the k-dim z-domain [1, 2^(k·bits)] — powers of two always divide
    * the z-key domain, so the static-bucket invariant
    * [[ZorderLayout.write]] requires holds at every size.
    */
  def autoFileCount(rows: Long, targetRowsPerFile: Long, bits: Int, k: Int): Int = {
    require(targetRowsPerFile > 0, s"targetRowsPerFile must be positive")
    val maxFiles = 1 << (k * bits)
    val want = math.max(1L, (rows + targetRowsPerFile - 1) / targetRowsPerFile)
    math.min(maxFiles.toLong,
      java.lang.Long.highestOneBit(math.max(1L, 2 * want - 1))).toInt
  }

  /** MINOR COMPACTION — the LSM small-files operator for the ingest
    * tail: between folds, a high-cadence streaming sink lands THOUSANDS
    * of tiny delta directories, and every snapshot read pays one scan
    * branch per artifact (at 100 TB tail read amplification is the
    * small-file problem, not the base). `compactTail` merges runs of
    * pending deltas into single `c=<rank>` artifacts WITHOUT touching
    * the base or the fold cadence: one plain read + write sized by the
    * tail, published through the same claim-rename as everything else.
    *
    * SEQUENCE CORRECTNESS: a merged artifact takes the rank of its
    * LAST member (any rank inside `[first, last]` is equivalent — see
    * below — and last-rank keeps hierarchical re-compaction
    * collision-free), and a run is eligible only when no PENDING delete
    * ranks inside `(first, last]` — then for every delete x (pending
    * now, or landing later with a higher-than-everything rank), x
    * ranks either below every member or above every member, so x
    * outranks the merged artifact exactly when it outranks every
    * member, whatever in-span rank the artifact carries, and
    * merge-on-read trimming is unchanged. An upsert's equal-ranked
    * tombstone sits AT its delta's rank, i.e. inside `(first, last]`
    * of any run ending past it — such runs are split, never merged
    * wrong.
    *
    * HIERARCHICAL + SIZE-TIERED: runs are built over ALL pending
    * delta-like artifacts — plain `d=` deltas and earlier active `c=`
    * artifacts alike — so between folds the tail stays at O(log T)
    * artifacts instead of leaking one `c=` per compaction cycle (the
    * auto-compaction cadence in [[sink]] depends on this). A `c=`
    * joins a merge only when its mass (original-delta count) is no
    * larger than the newer mass accumulated to its right — the classic
    * size-tiered rule that bounds per-row rewrite count at O(log T)
    * between folds, where merge-everything would be O(T) (quadratic
    * total write amplification at streaming cadence). A `c=` member's
    * `_ABSORBS` flattens into the new artifact's list, so every
    * original `d=` stays named all the way up: poisoning, the fold
    * manifest, vacuum's fallback retention and the changefeed's skip
    * rule all keep working on original names.
    *
    * FOLD-RACE SAFETY (the poisoning rule, see [[vacuum]] and the
    * pendingDeltaLike scaladoc): compaction never deletes the absorbed
    * originals — readers judge, against the one manifest they read,
    * whether a compacted artifact is ACTIVE (no absorbed original
    * folded: read it, skip the originals) or POISONED (a racing fold
    * absorbed originals directly: skip it, read the surviving
    * originals). Either way every row is read exactly once at every
    * interleaving; a poisoned artifact is garbage vacuum reclaims, and
    * absorbed originals are reclaimed only after a fold retires them
    * through the manifest. Racing compactions settle on the claim
    * (same rank → one winner); replay is idempotent (a durable target
    * is skipped).
    *
    * The streaming tails ([[tail]], the graft-clustered stream) read
    * `d=` artifacts only — compaction is invisible to a consumer whose
    * offsets already passed the absorbed names, and shortens the
    * history a BRAND-NEW tail consumer can observe to the un-reclaimed
    * `d=` namespace, the same horizon vacuum already imposes.
    *
    * Returns the number of compacted artifacts published. `minRun`
    * bounds the smallest run worth merging.
    *
    * `sortDims` (optional): cluster each merged artifact on the table's
    * clustered dimensions while it is being rewritten ANYWAY — one
    * range partition + local sort on the tail-sized merge, no extra
    * read. The tail is never bucket-pruned (it has no zfile), but
    * parquet row-group min/max footers on a sorted artifact are tight,
    * so a box predicate skips row groups INSIDE the tail via ordinary
    * PushedFilters — at a streaming cadence the compacted artifacts
    * are most of the tail's bytes, so this closes the "unfolded tail
    * pays full price" read bill between folds for free. Pure physical
    * layout: row set, absorbs, ranks all unchanged.
    */
  def compactTail(s: SparkSession, root: String, minRun: Int = 2,
      sortDims: Seq[String] = Nil): Int = {
    require(minRun >= 2, s"minRun must be >= 2, got $minRun")
    val folded = versions(root).lastOption
      .map { case (_, dir) => manifest(dir) }.getOrElse(Set.empty)
    // HIERARCHICAL, SIZE-TIERED runs: candidates are everything a
    // snapshot currently unions — plain deltas AND active compacted
    // artifacts — so a tail that keeps growing under live ingest
    // re-compacts its own earlier compactions into ever-larger
    // artifacts and actually CONVERGES (d=-only runs would leak one c=
    // per compaction cycle until the next fold). A c= member's
    // _ABSORBS flattens into the new artifact's, so the poisoning rule
    // and the fold manifest keep naming the original d= artifacts;
    // ranks of PENDING deletes split segments exactly as before.
    val pendD = pendingDeltaLike(root, folded)
    val dvRanks = dvDirs(root).filterNot(x => folded.contains(x.getName))
      .map(x => seqOf(x.getName))
    def blocked(first: String, upto: String): Boolean =
      dvRanks.exists(r => r > first && r <= upto)
    // greedy maximal segments: extend while no pending delete ranks inside
    val segments = scala.collection.mutable.ArrayBuffer[Seq[Path]]()
    var i = 0
    while (i < pendD.length) {
      val first = seqOf(pendD(i).getName)
      var j = i
      while (j + 1 < pendD.length && !blocked(first, seqOf(pendD(j + 1).getName))) j += 1
      segments += pendD.slice(i, j + 1).toSeq
      i = j + 1
    }
    // the SIZE TIER decides which segment members actually merge: the
    // segment's plain-delta suffix always does (rank order puts every
    // c= before every d= — a delta that predates a compacted artifact
    // was either absorbed by it or delete-blocked into another
    // segment); a preceding c= joins only while its mass (original d=
    // count, the metadata-plane size proxy) is ≤ the mass accumulating
    // to its right. That is classic size-tiered compaction: every row
    // is rewritten O(log T) times between folds instead of the O(T)
    // a merge-everything rule costs — at a 100 TB ingest cadence the
    // difference between a bounded maintenance bill and quadratic
    // write amplification. Each merge keeps members CONTIGUOUS in
    // rank, so the no-delete-inside invariant carries over.
    def massOf(p: Path): Int =
      if (p.getName.startsWith("c=")) absorbsOf(p).count(_.startsWith("d="))
      else 1
    val runs = segments.flatMap { seg =>
      val (cs, ds) = seg.partition(_.getName.startsWith("c="))
      if (ds.isEmpty) None // c=-only segment: tiers never merge without new mass
      else {
        var members = ds
        var mass = ds.size
        cs.reverse.takeWhile { c =>
          val in = massOf(c) <= mass
          if (in) { members = c +: members; mass += massOf(c) }
          in
        }
        Some(members)
      }
    }
    var published = 0
    runs.filter(run => run.size >= minRun &&
        // a run ending in its own c= member would re-claim that very
        // name — unreachable under the tier rule (the last member is a
        // plain delta), kept as a guard: skip (idempotence, not error)
        s"c=${seqOf(run.last.getName)}" != run.last.getName).foreach { run =>
      // the merged artifact takes the rank of its LAST member: any rank
      // inside [first, last] preserves delete semantics (pending deletes
      // never rank inside a run — blocked; later deletes are named above
      // every member by the monotonicity contract — so a delete outranks
      // the merged artifact exactly when it outranks every member), and
      // last-rank naming keeps re-compaction collision-free — a run that
      // starts with an earlier c=<rank> artifact must not re-claim the
      // same name
      val target = new Path(deltaRoot(root), s"c=${seqOf(run.last.getName)}")
      val fs = fsOf(target)
      if (!fs.exists(new Path(target, "_SUCCESS"))) {
        // ONE multi-path scan, not an n-way union: a thousand-delta tail
        // (the very case compaction exists for) must not pay a
        // thousand-node plan to merge; mergeSchema gives the same
        // union-by-name + NULL-backfill semantics across an evolution
        // boundary in a single scan node
        val merged0 = s.read.option("mergeSchema", "true")
          .parquet(run.map(_.toString): _*)
        // sortDims: cluster the rewrite so row-group footers come out
        // tight (see the scaladoc). One coalesced globally-sorted file:
        // deterministic (no sampled range boundaries — the ZorderLayout
        // argument) and the artifact is tail-sized by construction; a
        // fold redistributes it soon after. Sorting columns a member
        // may predate (schema evolution) is fine, NULLs sort first.
        val merged =
          if (sortDims.isEmpty) merged0
          else merged0.coalesce(1).sortWithinPartitions(sortDims.map(col): _*)
        val staging = new Path(deltaRoot(root),
          s".staging-${target.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
        merged.write.mode("overwrite").parquet(staging.toString)
        // the absorption list rides INSIDE the claim: artifact + list
        // publish atomically, so active/poisoned is always decidable.
        // A c= member contributes its own name AND its flattened list —
        // every original d= stays named all the way up the hierarchy.
        val absorbs = run.flatMap(m =>
          if (m.getName.startsWith("c=")) absorbsOf(m) + m.getName
          else Set(m.getName)).toSet
        val out = fs.create(new Path(staging, "_ABSORBS"), true)
        try out.write(absorbs.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
        finally out.close()
        if (fs.exists(target) && !fs.exists(new Path(target, "_SUCCESS")) &&
            !claimInProgress(fs, target))
          fs.delete(target, true) // garbage no claim writer can have produced
        if (claimRename(fs, staging, target)) published += 1
        else fs.delete(staging, true)
      }
    }
    published
  }

  /** The delta-like artifact names a live snapshot currently unions
    * (pending plain deltas + active compacted artifacts), ascending by
    * rank — the observable q_compact_tail pins: compaction shrinks this
    * list without changing a single row.
    */
  private[graft] def tailParts(root: String): Seq[String] = {
    val folded = versions(root).lastOption
      .map { case (_, dir) => manifest(dir) }.getOrElse(Set.empty)
    pendingDeltaLike(root, folded).map(_.getName)
  }

  /** MERGE (upsert): for each source row, replace the live row with the
    * same key if one exists, else insert — `WHEN MATCHED UPDATE, WHEN
    * NOT MATCHED INSERT`, merge-on-read. Mechanism: the SOURCE lands as
    * delta `d=<name>` (the new images) and its KEY SET as equality-
    * delete `x=<name>` (the tombstones for the old images). The shared
    * sequence rank does the rest: the delete outranks the base and
    * every earlier delta (hiding the old images) but NOT its own paired
    * delta (equal rank — the new images survive), and later appends of
    * the same key outrank the delete (normal resurrection). No data
    * file is rewritten; the next `optimize` folds the pair physically.
    *
    * Contract: `source` must be key-unique on `keyCols` (the standard
    * MERGE precondition — multiple source images for one key would ALL
    * survive). Replay fills gaps, never overwrites: an artifact that is
    * already durable (`_SUCCESS`) is skipped, because an overwrite
    * transiently un-publishes it and a fold running in that window
    * would absorb the delta without its tombstone — after which the
    * re-published tombstone retires BOTH images of every matched key
    * (the folded base has no per-row sequence rank). Same guard, same
    * reason as applyChanges. A replayed upsert must carry the same
    * content for the same name — the idempotence contract every
    * artifact write here already assumes.
    * WRITE ORDER MATTERS and is TOMBSTONE-FIRST (same as applyChanges):
    * if the delta landed first, a fold interposing before the tombstone
    * would absorb the new images into the base — ERASING their sequence
    * rank — and the late tombstone would then retire BOTH images of
    * every matched key, a permanent loss. Tombstone-first is fold-safe
    * at every crash/interleave point: a fold that absorbs the tombstone
    * alone just retires the old images early, and the replayed (or
    * late-landing) delta still arrives as a pending artifact carrying
    * the new ones. The price is the transient between the two writes —
    * matched keys are HIDDEN (not duplicated) until the delta lands;
    * at-least-once replay completes the pair after any crash. Not
    * snapshot-isolated: a concurrent reader can observe that window.
    *
    * Scale: an upsert costs two plain writes sized by the SOURCE — at
    * 100 TB this is the whole point of merge-on-read MERGE (a
    * copy-on-write MERGE rewrites every data file the keys touch); the
    * read-side bill is the same broadcast anti-join every delete pays,
    * bounded by the fold cadence.
    */
  def upsert(source: DataFrame, root: String, name: String, keyCols: Seq[String]): Unit = {
    if (!durable(new Path(dvRoot(root), s"x=$name")))
      delete(source.select(keyCols.map(col): _*), root, name)
    if (!durable(new Path(deltaRoot(root), s"d=$name")))
      append(source, root, name)
  }

  private def durable(dir: Path): Boolean = fsOf(dir).exists(new Path(dir, "_SUCCESS"))

  /** CLAIMED artifact write — the concurrency-hardened sibling of
    * [[append]]/[[delete]] for writers that may race on one artifact
    * name (overlapping [[applyChanges]] replays): the batch is written
    * to a hidden sibling staging directory and published under its
    * final name through the same atomic claim rename optimize uses.
    * Two writers racing the same still-missing artifact therefore can
    * never interleave bytes under one path: exactly one claim wins, the
    * loser discards its staging and the surviving artifact is one
    * writer's complete output. An already-durable artifact is skipped
    * before any work (the fill-gaps contract). Returns true iff this
    * call published it.
    *
    * The deterministic-content contract still applies: all racers must
    * derive the same rows for the same name (true for changefeed
    * windows — the content is the source's retained artifacts), so
    * WHICH writer wins never matters.
    */
  def appendClaimed(df: DataFrame, root: String, name: String): Boolean =
    writeClaimed(df, new Path(deltaRoot(root), s"d=$name"))

  /** [[appendClaimed]] for equality-delete artifacts. */
  def deleteClaimed(keys: DataFrame, root: String, name: String): Boolean =
    writeClaimed(keys.dropDuplicates(), new Path(dvRoot(root), s"x=$name"))

  private def writeClaimed(df: DataFrame, target: Path): Boolean = {
    val fs = fsOf(target)
    if (fs.exists(new Path(target, "_SUCCESS"))) return false
    val staging = new Path(target.getParent,
      s".staging-${target.getName}-${java.util.UUID.randomUUID().toString.take(8)}")
    try df.write.mode("overwrite").parquet(staging.toString)
    catch {
      case scala.util.control.NonFatal(e) =>
        fs.delete(staging, true)
        // LOST-RACE TOLERANCE (r15 ADVICE): vacuum's staleArtStagings may
        // reclaim THIS staging mid-write once the target artifact is
        // durable (some other tick published it — this writer had lost
        // anyway). Re-check and absorb as the lost race instead of
        // propagating — a replayed applyChanges must not fail over a
        // benign outcome; the same tolerance optimize's fold path
        // applies to a gutted staging.
        if (fs.exists(new Path(target, "_SUCCESS"))) return false else throw e
    }
    // a half-published artifact (exists but not durable — a crashed
    // plain write) would block the claim forever: clear it first, the
    // same garbage rule optimize applies to a manifest-less v=<next>
    // (and the same live-winner guard: an in-progress claim is not ours
    // to clear)
    if (fs.exists(target) && !fs.exists(new Path(target, "_SUCCESS")) &&
        !claimInProgress(fs, target))
      fs.delete(target, true)
    if (claimRename(fs, staging, target)) true
    else { fs.delete(staging, true); false }
  }

  /** VERSION HISTORY — the DESCRIBE HISTORY surface: one row per
    * complete (un-vacuumed) base version with the CUMULATIVE artifact
    * count its manifest records. Pure metadata plane: one listing plus
    * one manifest read per retained version, never a data page — at
    * 100 TB this is how an operator audits the fold ledger (which
    * versions exist to travel to, how much each fold absorbed — the
    * per-version delta of n_artifacts) without touching the table.
    * Vacuum bounds the rows exactly as it bounds the travel horizon.
    */
  def history(s: SparkSession, root: String): DataFrame = {
    import s.implicits._
    versions(root).map { case (v, dir) => (v, manifest(dir).size.toLong) }
      .toDF("version", "n_artifacts")
  }

  /** Every artifact name the table currently accounts for: the newest
    * manifest's CUMULATIVE fold record plus the pending (unfolded)
    * artifact directories. Because manifests accumulate and survive
    * vacuum (they live inside the retained newest version), this set is
    * a durable, crash-consistent ledger of everything ever ingested —
    * the clustered tail source (ClusteredTailStream) tells reclaimed
    * delta names from lost ones with it instead of keeping side state
    * that could desynchronize.
    */
  def artifactNames(root: String): Set[String] = {
    val compacted = compactedDirs(root)
    versions(root).lastOption.map { case (_, d) => manifest(d) }.getOrElse(Set.empty) ++
      deltaDirs(root).map(_.getName) ++ dvDirs(root).map(_.getName) ++
      // a compacted artifact accounts for itself AND its absorbed
      // originals — the ledger must keep naming them after vacuum
      // reclaims the original directories (the tail source reads delta
      // names out of this set)
      compacted.map(_.getName) ++ compacted.flatMap(absorbsOf)
  }

  /** CDC APPLY — replay one changefeed window (the output of
    * `changes(from, to)` on a SOURCE table) onto THIS table: the feed's
    * delete pre-image keys land as tombstone `x=<name>0`, then its
    * insert rows as delta `d=<name>1` — ranked AFTER the tombstone, so
    * a key the window deleted-then-re-inserted resurrects on the
    * replica exactly as it did at the source. Apply windows in version
    * order under monotonically increasing names and a replica seeded at
    * the source's `from` snapshot converges to every `to` snapshot
    * (spec-pinned across multiple windows). Replay-safe by FILLING
    * GAPS, not overwriting: an artifact that already exists complete
    * (`_SUCCESS`) is SKIPPED — a window's content is deterministic (the
    * source's retained artifacts), so rewriting identical bytes buys
    * nothing and would transiently un-publish the artifact, a window in
    * which a replica fold racing an overlapping replay tick could
    * absorb the window's delta without its tombstone. Each artifact is
    * PUBLISHED THROUGH A CLAIM ([[appendClaimed]]): overlapping ticks
    * racing the same still-missing artifact resolve to one complete
    * winner, never interleaved bytes. A crash between the two writes
    * hides the window's deletes early; the replay completes the pair.
    *
    * Scale: this is log-shipping — the replica's write bill is the
    * window's churn, never the table; it composes with the replica's
    * own `optimize`/`vacuum` cadence like any other ingest.
    */
  def applyChanges(cdc: DataFrame, root: String, name: String, keyCols: Seq[String]): Unit = {
    deleteClaimed(cdc.filter(col("_change") === "delete").select(keyCols.map(col): _*),
      root, name + "0")
    appendClaimed(cdc.filter(col("_change") === "insert").drop("_change"), root, name + "1")
    ()
  }

  /** Snapshot read: newest complete base ∪ deltas its manifest does not
    * name. The base arrives with its `zfile` partition column (box
    * predicates prune it); deltas get zfile = -1 so the schema lines up
    * and a zfile filter never accidentally excludes unclustered rows.
    *
    * TIME TRAVEL: `asOfVersion = Some(k)` reads "the table as of
    * optimize #k" — base version k's folded content, with NO delta
    * tail. That snapshot is exact, deterministic, and stable forever
    * (a live read's delta tail keeps growing, so including "deltas not
    * in k's manifest" would make the same time-travel call return
    * different answers at different times). Old versions are retained
    * until vacuum, so the travel horizon is the vacuum cadence — the
    * Delta/Iceberg retention contract, on plain parquet.
    */
  def read(s: SparkSession, root: String, asOfVersion: Option[Long] = None): DataFrame =
    asOfVersion match {
      case Some(v) =>
        val dir = versions(root).find(_._1 == v).map(_._2)
          .getOrElse(throw new IllegalArgumentException(
            s"no complete base version v=$v at $root (vacuumed, torn, or never written)"))
        s.read.parquet(dir.toString)
      case None => readVersioned(s, root)._2
    }

  /** [[read]] with the resolved base version EXPOSED — the reader the
    * graft-clustered source uses so its pruning catalog
    * ([[envelopes]]) and its returned rows bind to the SAME fold:
    * bucket ids from one version applied to another's files silently
    * drop in-box rows, so the version must be resolved exactly once
    * per scan. The DataFrame is the live snapshot (this version's base
    * ∪ artifacts its manifest does not name — artifacts a concurrent
    * fold may meanwhile have folded into a NEWER version read
    * identically from their original directories until vacuum, which
    * retains everything the newest version still needs).
    */
  def readVersioned(s: SparkSession, root: String): (Option[Long], DataFrame) = {
    val vs = versions(root)
    val folded = vs.lastOption.map { case (_, dir) => manifest(dir) }.getOrElse(Set.empty)
    val pendingDv = dvDirs(root).filter(x => !folded.contains(x.getName))
    val base = vs.lastOption.map { case (_, dir) =>
      // every unfolded delete outranks the folded base content
      applyDvs(s, s.read.parquet(dir.toString), pendingDv)
    }
    val pending = pendingDeltaLike(root, folded)
    val deltas = pending.map { d =>
      val df = applyDvs(s, s.read.parquet(d.toString),
        pendingDv.filter(x => seqOf(x.getName) > seqOf(d.getName)))
      base match {
        case Some(b) =>
          df.withColumn("zkey", lit(null).cast(b.schema("zkey").dataType))
            .withColumn("zfile", lit(-1).cast(b.schema("zfile").dataType))
        case None => df
      }
    }
    val df = (base.toSeq ++ deltas) match {
      case Seq() => throw new IllegalStateException(s"empty clustered table at $root")
      // allowMissingColumns: a post-evolution delta tail reads alongside
      // a pre-evolution base — rows missing a column surface it as NULL
      case parts => parts.reduce(_.unionByName(_, allowMissingColumns = true))
    }
    (vs.lastOption.map(_._1), df)
  }

  /** Bounded process-wide cache of collected `_envelopes` catalogs keyed
    * on catalog path; the publish stamp in the value guards a re-created
    * root at the same path (fresh-lifecycle tests and bench queries
    * rmTree + rebuild) from serving stale rows. A claimed version's
    * catalog is immutable, so a (path, stamp) hit is exact.
    * Only positive reads cache — a not-yet-visible catalog (markers-last
    * materialization on an eventually-consistent store) must be re-probed.
    */
  private val envelopeCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String,
        (String, org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row])](
        64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String,
          (String, org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row])]): Boolean =
        size() > 64
    })

  /** The `_envelopes` catalog of one version dir, collected at most once
    * per publish: before this, a scan whose filters touched any
    * non-dim column read the same tiny parquet up to three times
    * (envelopes + both zone-map planes — the r16 ADVICE finding).
    */
  private def envelopeRows(s: SparkSession,
      dir: Path): Option[(org.apache.spark.sql.types.StructType, Seq[org.apache.spark.sql.Row])] = {
    val env = new Path(dir, "_envelopes")
    val stamp =
      try publishStamp(fsOf(env), env, "_SUCCESS")
      catch { case _: java.io.IOException => None }
    val key = env.toString
    stamp.map { st =>
      val hit = envelopeCache.get(key)
      if (hit != null && hit._1 == st) (hit._2, hit._3)
      else {
        val df = readHiddenDir(s, env, dataFilesUnder(env))
        val rows = df.collect().toSeq // ≤ numFiles rows
        envelopeCache.put(key, (st, df.schema, rows))
        (df.schema, rows)
      }
    }
  }

  /** The fold-time envelope catalog of base version `v`: one row per
    * z-bucket, `(zfile, per-dim (min, max))` with bounds as long, in the
    * order of `dims`. ≤numFiles rows read from one tiny parquet: the
    * metadata-plane read that replaces the per-scan O(table) aggregate
    * (r14's one `weak`). None if the version predates the catalog or
    * the recorded `d<i>_col` names disagree with `dims` at any position
    * — the caller must then fall back to recomputing (or not prune). A
    * catalog with MORE dimensions than asked still serves a matching
    * prefix: per-dim min/max are true bounds regardless of how many
    * further dimensions the fold interleaved, so pruning on a prefix is
    * sound, just less selective.
    */
  def envelopes(s: SparkSession, root: String, v: Long,
      dims: Seq[String]): Option[Seq[(Int, Seq[(Long, Long)])]] =
    versions(root).find(_._1 == v).flatMap { case (_, dir) =>
      envelopeRows(s, dir).flatMap { case (schema, rows) =>
        val names = schema.fieldNames.toSet
        val present = dims.indices.forall(i => names.contains(s"d${i + 1}_col"))
        if (!present) None
        else if (rows.exists(r => dims.zipWithIndex.exists { case (c, i) =>
            r.getAs[String](s"d${i + 1}_col") != c })) None
        else Some(rows.map(r => (r.getAs[Int]("zfile_id"),
          dims.indices.map(i => (r.getAs[Long](s"mn${i + 1}"),
            r.getAs[Long](s"mx${i + 1}"))))).toSeq)
      }
    }

  /** The ZONE MAPS of base version `v` (see [[optimize]]'s statsCols) on
    * one key plane, chosen by `T`: `zoneMaps[Long]` serves the integral
    * stats columns, `zoneMaps[String]` the string ones. For each mapped
    * column of that plane, per z-bucket (zfile, min, max) — None bounds
    * mean the bucket holds only NULLs for that column (schema
    * evolution), i.e. "no bound, keep". String bounds are
    * binary-collated (unsigned UTF-8 bytes — the ordering Spark's string
    * comparison and DuckDB's default collation share, so a pruning
    * decision made with it agrees with both engines). Columns and their
    * plane are self-described by the catalog (`s<i>_col` and the bound
    * column's parquet type), so readers discover what is mapped without
    * any out-of-band config; an empty map means the version collected
    * no stats on that plane. Same ≤numFiles-row metadata-plane read as
    * [[envelopes]].
    */
  def zoneMaps[T](s: SparkSession, root: String, v: Long)(
      implicit tag: scala.reflect.ClassTag[T]): Map[String, Seq[(Int, Option[T], Option[T])]] = {
    import org.apache.spark.sql.types.{DataType, LongType, StringType}
    val dt: DataType = tag.runtimeClass match {
      case c if c == java.lang.Long.TYPE => LongType
      case c if c == classOf[String] => StringType
      case c => throw new IllegalArgumentException(
        s"zoneMaps: no zone-map plane for ${c.getName} (Long or String)")
    }
    versions(root).find(_._1 == v).flatMap { case (_, dir) =>
      envelopeRows(s, dir).map { case (fields, rows) =>
        val idxs = fields.fieldNames.collect {
          case n if n.matches("s\\d+_col") &&
              fields(n.stripSuffix("_col") + "_mn").dataType == dt =>
            n.stripPrefix("s").stripSuffix("_col").toInt
        }.sorted
        idxs.flatMap { i =>
          rows.headOption.map { h =>
            h.getAs[String](s"s${i}_col") -> rows.map { r =>
              def bound(f: String): Option[T] = {
                val at = r.fieldIndex(f)
                if (r.isNullAt(at)) None else Some(r.get(at).asInstanceOf[T])
              }
              (r.getAs[Int]("zfile_id"), bound(s"s${i}_mn"), bound(s"s${i}_mx"))
            }.toSeq
          }
        }.toMap
      }
    }.getOrElse(Map.empty)
  }

  /** A cheap fingerprint of the ledger state one snapshot binds to:
    * newest version id + the pending delta-like and DV artifact names.
    * Two equal keys mean `readVersioned` would resolve the same
    * snapshot (artifact content is immutable once durable — the
    * idempotent-replay contract), so a reader may REUSE a previously
    * resolved snapshot; any append/fold/delete changes the key. Pure
    * metadata plane: three listings, no footer or data read.
    */
  private[graft] def snapshotKey(root: String): String = {
    val vs = versions(root)
    val folded = vs.lastOption.map { case (_, d) => manifest(d) }.getOrElse(Set.empty)
    val v = vs.lastOption.map(_._1).getOrElse(-1L)
    val pend = pendingDeltaLike(root, folded).map(_.getName)
    val dvs = dvDirs(root).filterNot(x => folded.contains(x.getName)).map(_.getName)
    s"v=$v|${pend.mkString(",")}|${dvs.mkString(",")}"
  }

  /** The complete delta artifacts of the table, as (sequence-name,
    * directory-path) ascending by name — the listing plane of the
    * graft-clustered STREAMING tail (ClusteredTailStream): offsets are
    * sequence names, batches are name ranges. Bounded by the vacuum
    * cadence like every delta listing here.
    */
  private[graft] def deltaArtifacts(root: String): Seq[(String, String)] =
    deltaDirs(root).map(d => (seqOf(d.getName), d.toString))

  /** The parquet DATA files one live snapshot comprises — the newest
    * base version's files plus every pending delta's — and whether any
    * equality-delete is pending. This is the FOOTER PLANE the
    * graft-clustered source's aggregate pushdown reads (COUNT/MIN/MAX
    * from block metadata, zero data pages): sound only when no DV is
    * pending, because a merge-on-read anti-join changes counts and can
    * remove extrema — the boolean lets the caller refuse. Metadata
    * dirs (`_envelopes`, `_index`, stagings) are skipped the way every
    * parquet reader skips underscore/dot paths.
    */
  private[graft] def snapshotDataFiles(root: String): (Seq[Path], Boolean) = {
    val vs = versions(root)
    val folded = vs.lastOption.map { case (_, d) => manifest(d) }.getOrElse(Set.empty)
    val pendingDv = dvDirs(root).exists(x => !folded.contains(x.getName))
    val dirs = vs.lastOption.map(_._2).toSeq ++ pendingDeltaLike(root, folded)
    (dirs.flatMap(dataFilesUnder), pendingDv)
  }

  /** The parquet dataset under `dir`, whose hidden name (`.staging-…`,
    * `_envelopes`) makes a read of the dir itself log Spark's "All paths
    * were ignored" warning: read through `files` under it instead, with
    * `dir` as the base path — the same schema and partition columns.
    */
  private def readHiddenDir(s: SparkSession, dir: Path, files: Seq[Path]): DataFrame =
    s.read.option("basePath", dir.toString).parquet(files.map(_.toString): _*)

  /** Recursive data-file listing under one artifact dir — parquet part
    * files only, skipping hidden (`_`/`.`) files and subtrees (the same
    * visibility rule Spark's file index applies, so a footer walk over
    * this list sees exactly the rows a scan of the dir would).
    */
  private def dataFilesUnder(d: Path): Seq[Path] = {
    val fs = fsOf(d)
    // the listing yields qualified paths: stop the walk at `d` qualified
    // alike, so a hidden name of `d` itself does not hide its files
    val top = fs.makeQualified(d).toString
    def hidden(p: Path): Boolean = {
      var cur = p.getParent
      var h = false
      while (cur != null && cur.toString != top && !h) {
        h = cur.getName.startsWith("_") || cur.getName.startsWith(".")
        cur = cur.getParent
      }
      h
    }
    val it = fs.listFiles(d, true)
    val buf = scala.collection.mutable.ArrayBuffer[Path]()
    while (it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      if (st.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".") && !hidden(st.getPath))
        buf += st.getPath
    }
    buf.toSeq
  }

  /** Exact row count of the data files under `dirs` from parquet footer
    * block counts alone — the metadata-plane replacement for a
    * count() job over freshly written artifacts (optimizeAuto's sizing
    * read). An unreadable footer throws: a count() job would read the
    * same footer.
    */
  private def footerRowCount(s: SparkSession, dirs: Seq[Path]): Long = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sessionState.newHadoopConf()
    def fileRows(f: Path): Long = {
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
      } finally reader.close()
    }
    // parallel walk (the FooterStats discipline): footer reads are
    // independent latency-bound I/O — a fold tail can hold dozens of
    // part files, and a serial walk measured SLOWER than the count()
    // job it replaces at 32 cores
    inFooterPool(dirs.flatMap(dataFilesUnder))(fileRows).sum
  }

  /** Run `f` over `xs` on a bounded pool (serial under 8 items); any
    * exception propagates to the caller unchanged in cause, wrapped
    * exceptions unwrapped so refusal catches stay uniform.
    */
  private def inFooterPool[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.length <= 8) xs.map(f)
    else {
      import java.util.concurrent.{Callable, Executors}
      val pool = Executors.newFixedThreadPool(
        math.min(32, math.max(2, Runtime.getRuntime.availableProcessors())))
      try {
        import scala.jdk.CollectionConverters._
        pool.invokeAll(xs.map(x => new Callable[B] {
          override def call(): B = f(x)
        }).asJava).asScala.toSeq.map { fut =>
          try fut.get()
          catch {
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          }
        }
      } finally pool.shutdown()
    }

  /** The envelope catalog rows of a freshly staged fold, from parquet
    * FOOTER STATISTICS alone — no data page is read and no Spark job
    * runs: per `zfile=K/` bucket dir, min/max of each clustered dim
    * (integral, exact) and each zone-map column (integral exact; string
    * bounds are parquet's unsigned-byte min/max, the same binary
    * collation the aggregate's min/max produced). Returns one value row
    * per bucket in the exact column order of [[optimize]]'s refusal
    * aggregate (zfile_id, mn/mx per dim, s_mn/s_mx per stats col). None
    * the moment any needed statistic is missing or unreadable — the
    * caller then runs that staged-read aggregate (the FooterStats
    * refusal contract; nullability: a stats column with no non-null
    * value in a bucket yields null bounds, exactly like the aggregate).
    * The input that makes it refuse: a string stats column whose min
    * and max together reach parquet's 4 KB statistics limit — the
    * writer then records no min/max at all for that chunk.
    */
  private def footerEnvelopes(s: SparkSession, staging: Path, dims: Seq[String],
      statsCols: Seq[String], isStr: String => Boolean): Option[Seq[Seq[Any]]] = try {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val fs = fsOf(staging)
    val buckets = fs.listStatus(staging)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("zfile="))
    if (buckets.isEmpty) return None
    val conf = s.sessionState.newHadoopConf()
    def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
      var i = 0
      while (i < a.length && i < b.length) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }
    val cols = dims ++ statsCols
    // parallel per-bucket walk — same reasoning as [[footerRowCount]]
    val rows = inFooterPool(buckets.toSeq) { b =>
      val zf = b.getPath.getName.stripPrefix("zfile=").toInt
      // per column: (nonNull, min, max) where min/max are Long or Array[Byte]
      val acc = scala.collection.mutable.Map[String, (Long, Option[Any], Option[Any])]()
      dataFilesUnder(b.getPath).foreach { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
        try reader.getFooter.getBlocks.asScala.foreach { blk =>
          val chunks = blk.getColumns.asScala.map(c => c.getPath.toDotString -> c).toMap
          cols.foreach { name =>
            chunks.get(name) match {
              case None => // column absent in this file: all-NULL (evolution)
              case Some(c) =>
                val st = c.getStatistics
                if (st == null || !st.isNumNullsSet)
                  throw new java.io.IOException(s"no stats for $name")
                val nonNull = blk.getRowCount - st.getNumNulls
                val mnmx: Option[(Any, Any)] =
                  if (!st.hasNonNullValue) {
                    if (nonNull > 0)
                      throw new java.io.IOException(s"stats dropped for $name")
                    None
                  } else if (isStr(name)) Some((
                    st.genericGetMin.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes,
                    st.genericGetMax.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes))
                  else Some((
                    st.genericGetMin.asInstanceOf[Number].longValue(),
                    st.genericGetMax.asInstanceOf[Number].longValue()))
                val prev = acc.getOrElse(name, (0L, None, None))
                def merge(a: Option[Any], b: Option[Any], takeMin: Boolean): Option[Any] =
                  (a, b) match {
                    case (None, x) => x
                    case (x, None) => x
                    case (Some(x: Array[Byte]), Some(y: Array[Byte])) =>
                      Some(if ((cmpBytes(x, y) <= 0) == takeMin) x else y)
                    case (Some(x: Long), Some(y: Long)) =>
                      Some(if ((x <= y) == takeMin) x else y)
                    case _ => throw new java.io.IOException(s"mixed stat types for $name")
                  }
                acc(name) = (prev._1 + nonNull,
                  merge(prev._2, mnmx.map(_._1), takeMin = true),
                  merge(prev._3, mnmx.map(_._2), takeMin = false))
            }
          }
        } finally reader.close()
      }
      // a clustered dim must have exact bounds in every bucket (dims are
      // the layout keys — all-NULL would mean a broken fold)
      dims.foreach { c =>
        if (acc.get(c).flatMap(_._2).isEmpty)
          throw new java.io.IOException(s"no dim bounds for $c in zfile=$zf")
      }
      def out(v: Option[Any]): Any = v match {
        case Some(b: Array[Byte]) => new String(b, java.nio.charset.StandardCharsets.UTF_8)
        case Some(l: Long) => l
        case _ => null
      }
      Seq[Any](zf) ++
        dims.flatMap(c => Seq(out(acc.get(c).flatMap(_._2)), out(acc.get(c).flatMap(_._3)))) ++
        statsCols.flatMap(c => Seq(out(acc.get(c).flatMap(_._2)), out(acc.get(c).flatMap(_._3))))
    }
    Some(rows.sortBy(_.head.asInstanceOf[Int]))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Streaming ingest hand-off: a foreachBatch function landing each
    * micro-batch as delta `d=b<batchId>`. foreachBatch is
    * at-least-once; the batch-id-derived name makes a replayed batch
    * overwrite its own delta (the FsStreamPublisher discipline), so the
    * table never double-ingests. optimize()/vacuum() run out-of-band on
    * whatever cadence the operator chooses — ingest never waits on
    * layout work.
    *
    * AUTO-COMPACTION CADENCE: `compactAtParts > 0` makes
    * the sink self-healing under high-cadence ingest — after landing a
    * micro-batch, if the pending tail holds at least `compactAtParts`
    * artifacts, [[compactTail]] runs inline before the next trigger.
    * The threshold bounds BOTH bills: snapshot reads never pay more
    * than ~compactAtParts scan branches for the tail, and the
    * compaction itself (one tail-sized read + write) runs once per
    * ~compactAtParts batches, so its amortized cost per batch is one
    * batch-sized write — the LSM write-amplification floor. Compaction
    * publishes through the ordinary claim, so a concurrent fold or a
    * second maintainer racing the sink settles exactly as always
    * (active/poisoned, one winner); a lost claim here is a no-op, not
    * an error. Out-of-band optimize()/vacuum() remain the fold plane —
    * this only keeps the un-folded tail from growing unboundedly
    * between folds.
    */
  def sink(root: String, compactAtParts: Int = 0,
      sortDims: Seq[String] = Nil): (DataFrame, Long) => Unit =
    (df: DataFrame, batchId: Long) => {
      append(df, root, f"b$batchId%012d")
      if (compactAtParts > 0 && tailParts(root).size >= compactAtParts)
        compactTail(df.sparkSession, root, sortDims = sortDims)
    }

  /** The table as a STREAM SOURCE: tail the append feed. A structured-
    * streaming file source globbed to the delta namespace — each
    * `append()`/`sink()` batch surfaces exactly once as its files land,
    * because optimize folds into `base/` (outside the glob) and vacuum
    * only ever REMOVES delta files, which a file source's seen-file log
    * ignores. So the maintenance lifecycle can run at any cadence under
    * a live tail without duplicating or dropping a row — the
    * exactly-once-per-append contract ClusteredTableSpec pins across
    * append → optimize → vacuum → append.
    *
    * This is the append feed only: equality deletes land under `dv/`
    * (outside the glob, invisible here) — a consumer that must also
    * retract reads `changes()` between optimize versions instead. At
    * scale the file listing is the only per-trigger cost; it scans the
    * UN-VACUUMED delta namespace, so the listing bill is bounded by the
    * vacuum cadence, not table size.
    */
  def tail(s: SparkSession, root: String, schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.readStream.schema(schema).format("parquet")
      .load(new Path(deltaRoot(root), "d=*").toString)

  private def indexDir(vdir: Path, keyCol: String) = new Path(vdir, s"_index/$keyCol")

  /** Whether the newest base version carries a complete Bloom index for
    * `keyCol` (either key plane) — the reindex-lifecycle presence test.
    */
  private def hasIndex(root: String, keyCol: String): Boolean =
    versions(root).lastOption.exists { case (_, dir) =>
      val idx = indexDir(dir, keyCol)
      fsOf(idx).exists(new Path(idx, "_SUCCESS"))
    }

  /** PER-FILE BLOOM SECONDARY INDEX — point-lookup file skipping on a
    * key the layout does NOT cluster. Z-order envelope pruning serves
    * box predicates on the clustered dimensions; a point predicate
    * on a high-cardinality foreign key (o_orderkey in a table clustered
    * on price × month) touches every file under min/max pruning,
    * because every file's envelope spans essentially the whole key
    * domain. A small Bloom filter PER z-bucket answers "might this
    * bucket contain key k" with false-positive rate `fpp`, so a point
    * lookup reads only the buckets that (probably) hold the key — the
    * parquet-bloom / Iceberg-puffin idea, as a table-level artifact.
    *
    * Mechanics: one pass over the newest base, projected to
    * (zfile, key) — a NARROW shuffle of just those two columns — builds
    * one `org.apache.spark.util.sketch.BloomFilter` per z-bucket
    * (streamed via mapGroups: no per-group buffering), sized by an
    * exact per-bucket count from a preceding ≤numFiles-row aggregate.
    * The serialized filters land as one tiny parquet under the version
    * directory's `_index/<col>/` (underscore-prefixed: invisible to
    * data reads), so the index VERSIONS WITH THE TABLE — vacuum of a
    * superseded base reclaims its index with it, and a fresh optimize
    * simply has no index until `buildIndex` runs again (lookup then
    * degrades to the unpruned scan, never to a wrong answer) — or pass
    * `optimize(..., reindex = Seq(col))` to rebuild as part of the fold
    * and keep point-lookup skipping continuous across maintenance.
    *
    * Scale: the index is numFiles rows × O(1.2·n/file · ln(1/fpp)/8)
    * bytes; lookup's driver cost is a ≤numFiles-row collect and a
    * bitset probe per (key, bucket); expected false-positive read
    * amplification for a k-key batch is ≤ files · (1-(1-fpp)^k).
    * Bloom bits are an OR over per-key bit sets (Murmur3, fixed seed):
    * insertion-order-independent, hence deterministic across runs and
    * partitionings. TWO KEY PLANES: integral columns hash through
    * putLong (the common surrogate-join-key case); STRING columns —
    * the common LLM-pipeline key: document ids, URLs, content hashes —
    * through putString (Murmur3 over UTF-8 bytes). The plane is chosen
    * from the column's type at build time and recorded in the index
    * (`kind`), so a key that plane cannot hash reads as "no index"
    * and degrades to the unpruned scan, never to a missed bucket.
    */
  def buildIndex(s: SparkSession, root: String, keyCol: String, fpp: Double = 0.01): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val (_, dir) = versions(root).lastOption.getOrElse(throw new IllegalStateException(
      s"buildIndex before the first optimize at $root — nothing to index"))
    val baseDf = s.read.parquet(dir.toString)
    val isString = baseDf.schema(keyCol).dataType ==
      org.apache.spark.sql.types.StringType
    val kind = if (isString) "string" else "long"
    val base = baseDf.select(col("zfile").cast("int").as("zf"),
      col(keyCol).cast(if (isString) "string" else "long").as("k"))
    val counts: Map[Int, Long] = base.groupBy("zf").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap // ≤ numFiles entries
    import s.implicits._
    def mk(zf: Int): BloomFilter =
      BloomFilter.create(math.max(1L, counts.getOrElse(zf, 1L)), fpp)
    def pack(zf: Int, bf: BloomFilter): (Int, Long, Array[Byte], String) = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      (zf, counts.getOrElse(zf, 0L), bos.toByteArray, kind)
    }
    val rows =
      if (isString)
        base.as[(Int, String)].groupByKey(_._1).mapGroups { (zf, it) =>
          val bf = mk(zf)
          it.foreach(kv => bf.putString(kv._2))
          pack(zf, bf)
        }
      else
        base.as[(Int, Long)].groupByKey(_._1).mapGroups { (zf, it) =>
          val bf = mk(zf)
          it.foreach(kv => bf.putLong(kv._2))
          pack(zf, bf)
        }
    rows.toDF("zfile_id", "n_rows", "bloom", "kind")
      .coalesce(1).write.mode("overwrite").parquet(indexDir(dir, keyCol).toString)
  }

  /** The newest base version's serialized per-bucket Bloom filters for
    * `keyCol` with the key plane `buildIndex` recorded in `kind` (a
    * pre-`kind` index (r14) is long-plane); None if there is no index.
    * ≤numFiles rows.
    */
  private def indexRows(s: SparkSession, root: String,
      keyCol: String): Option[(String, Seq[(Int, Array[Byte])])] =
    versions(root).lastOption.flatMap { case (_, dir) =>
      val idx = indexDir(dir, keyCol)
      if (!fsOf(idx).exists(new Path(idx, "_SUCCESS"))) None
      else {
        val df = s.read.parquet(idx.toString)
        // bounded: the distinct index-kind enum (one value per index)
        val kinds =
          if (!df.columns.contains("kind")) Seq("long")
          else df.select("kind").distinct().collect().map(_.getString(0)).toSeq
        if (kinds.size > 1) None
        else Some((kinds.headOption.getOrElse("long"),
          df.select("zfile_id", "bloom").collect() // ≤ numFiles rows
            .map(r => (r.getInt(0), r.getAs[Array[Byte]]("bloom"))).toSeq))
      }
    }

  /** An integral key widened to long (the long key plane and envelope
    * bounds); None for any other value. */
  private[graft] def asLong(v: Any): Option[Long] = v match {
    case i: Int => Some(i.toLong)
    case l: Long => Some(l)
    case s: Short => Some(s.toLong)
    case b: Byte => Some(b.toLong)
    case _ => None
  }

  /** The z-buckets a batch of point-lookup keys might live in, per the
    * newest base version's Bloom index. Each key is probed on the plane
    * the index recorded: the long plane takes Byte/Short/Int/Long keys,
    * the string plane String keys. None if that version has no index
    * for `keyCol` (not built, or built for a superseded version and
    * folded away) or any key is one the recorded plane cannot hash —
    * the caller must then scan unpruned: degrade, never miss a bucket.
    */
  def indexCandidates(s: SparkSession, root: String, keyCol: String,
      keys: Seq[Any]): Option[Seq[Int]] = {
    import org.apache.spark.util.sketch.BloomFilter
    indexRows(s, root, keyCol).flatMap { case (kind, rows) =>
      val probes: Seq[Option[BloomFilter => Boolean]] = keys.map {
        case k: String if kind == "string" => Some((bf: BloomFilter) => bf.mightContainString(k))
        case k if kind == "long" => asLong(k).map(l => (bf: BloomFilter) => bf.mightContainLong(l))
        case _ => None
      }
      if (probes.contains(None)) None
      else Some(rows.filter { case (_, bytes) =>
        val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
        probes.exists(_.get(bf))
      }.map(_._1).sorted)
    }
  }

  /** Point lookup through the Bloom index: the full merge-on-read
    * semantics of [[read]] (delta tail, unfolded deletes, schema
    * evolution), scanning only the index's candidate z-buckets plus the
    * always-scanned delta tail. A Bloom false positive costs a wasted
    * bucket scan, never a wrong row — the key equality filter runs
    * regardless; with no usable index this is exactly `read` + filter.
    */
  def lookup(s: SparkSession, root: String, keyCol: String, keys: Seq[Any]): DataFrame = {
    val t = read(s, root)
    val pruned = indexCandidates(s, root, keyCol, keys) match {
      case Some(c) => t.where(col("zfile") === -1 || col("zfile").isin(c: _*))
      case None => t
    }
    pruned.where(col(keyCol).isin(keys: _*))
  }

  /** Reclaim storage made redundant by the newest complete bases:
    * deltas their manifests name, and superseded base versions. Safe at
    * any time — readers only ever consult a retained complete version.
    * Returns the number of directories removed.
    *
    * Retention window: keep the newest `keepVersions` complete
    * bases, making the RETENTION CONTRACT real rather than
    * all-or-nothing — within the window, BOTH time travel
    * (`read(asOfVersion)`) and the changefeed (`changes(from, to)`)
    * keep working, because reclaim is computed against the OLDEST
    * RETAINED version's manifest: only artifacts that version had
    * already folded are redundant; artifacts folded by LATER retained
    * versions are exactly the retained changefeed windows and stay.
    * `keepVersions = 1` is the aggressive default (newest snapshot
    * only). This is the Delta/Iceberg `RETAIN n VERSIONS` shape; the
    * purge contract (scaladoc above) holds once the purged version
    * falls out of the window.
    *
    * STAGING RECLAIM AND THE RESURRECTION GUARD (r14 ADVICE): a
    * staging whose target version is already claimed belongs to a fold
    * that has LOST its race — its rename can only fail (the target
    * exists) or be aborted by optimize's pre-claim recheck — so
    * reclaiming it is safe even if its writer is still alive: the
    * reclaim costs that writer one retry, never a torn version (a
    * write failure inside a gutted staging is detected as a lost race,
    * see [[optimize]]). What vacuum must NEVER do is remove base
    * version v=N while any `.staging-v=N` still exists: with v=N gone,
    * that staging's rename would SUCCEED and resurrect a stale fold
    * under a retired version number — so such versions are deferred to
    * the pass after the staging itself is gone (reclaimed here, or
    * self-discarded by its fold). Stagings are created promptly after
    * their fold reads the ledger, so any vacuum able to see v=N as
    * superseded runs after the staging exists — the deferral is
    * therefore airtight, and a crashed fold's orphan delays one
    * version's reclaim by exactly one vacuum pass, never blocks it.
    */
  def vacuum(root: String, keepVersions: Int = 1): Int = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val base = baseRoot(root)
    val fs = fsOf(base)
    val vs = versions(root)
    val retained = vs.takeRight(keepVersions)
    val folded = retained.headOption.map { case (_, dir) => manifest(dir) }.getOrElse(Set.empty)
    val staleDeltas = deltaDirs(root).filter(d => folded.contains(d.getName))
    val staleDvs = dvDirs(root).filter(x => folded.contains(x.getName))
    // compacted artifacts: reclaim once FOLDED (their absorbs are in the
    // manifest with them) or POISONED (a racing fold absorbed one of
    // their originals directly — never readable again, see
    // pendingDeltaLike). ABSORBED ORIGINALS are deliberately NOT
    // reclaimed while only their compacted artifact names them: they
    // are the poison fallback; a fold retires them through the manifest
    // and THEN the folded rule above reclaims them.
    val staleCompacted = compactedDirs(root).filter(c =>
      folded.contains(c.getName) || absorbsOf(c).exists(folded.contains))
    val latest = vs.lastOption.map(_._1).getOrElse(-1L)
    val stagings = ls(fs, base)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".staging-v="))
      .map(_.getPath)
    def targetOf(p: Path): Option[Long] = scala.util.Try(
      p.getName.stripPrefix(".staging-v=").takeWhile(_ != '-').toLong).toOption
    // settled-race stagings: target already claimed -> the fold they
    // belong to can never rename successfully; reclaim is safe
    val staleStaging = stagings.filter(p => targetOf(p).exists(_ <= latest))
    // the resurrection guard: never reclaim v=N while a staging still
    // targets N (see scaladoc) — deferred to the next pass
    val stagingTargets = stagings.flatMap(targetOf).toSet
    val staleBases = vs.dropRight(keepVersions)
      .filter { case (v, _) => !stagingTargets.contains(v) }.map(_._2)
    // artifact stagings (`.staging-<artifact>-<uuid>` under delta/ and
    // dv/, from appendClaimed/deleteClaimed and compactTail): dead once
    // their target artifact is durably published — their claim can only
    // fail. A crashed writer's orphan whose target never published stays
    // — a replay or a later compaction may still publish it.
    val staleArtStagings =
      (ls(fs, deltaRoot(root)) ++ ls(fs, dvRoot(root)))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(".staging-"))
        .map(_.getPath)
        .filter { p =>
          val target = p.getName.stripPrefix(".staging-")
            .reverse.dropWhile(_ != '-').drop(1).reverse
          target.nonEmpty &&
            fs.exists(new Path(new Path(p.getParent, target), "_SUCCESS"))
        }
    (staleDeltas ++ staleDvs ++ staleBases ++ staleStaging ++ staleArtStagings ++
      staleCompacted)
      .foreach(p => fs.delete(p, true))
    staleDeltas.size + staleDvs.size + staleBases.size + staleStaging.size +
      staleArtStagings.size + staleCompacted.size
  }

  /** Net row-level changefeed between optimize versions `fromV` → `toV`
    * (both complete, artifacts retained — pre-vacuum): the table's
    * columns plus `_change` ∈ {insert, delete}. Inserts are the deltas
    * the two manifests disagree on, each trimmed by the window deletes
    * that outrank it; deletes are the window DV keys that existed at
    * `fromV`, emitted as PRE-IMAGE rows from the `fromV` snapshot. A
    * key inserted and deleted inside the window nets to nothing; a key
    * deleted and re-appended inside the window emits both rows.
    * Exact: read(toV) == read(fromV) ∪ inserts ∖ deletes (spec-pinned).
    *
    * Scale: reads ONLY the window's delta/DV artifacts plus the
    * `fromV` base for delete pre-images — never a two-snapshot diff
    * join; DV key sets broadcast. This is what an incremental view
    * maintainer or [[applyChanges]] consumes instead of rescanning the
    * table.
    */
  def changes(s: SparkSession, root: String, fromV: Long, toV: Long): DataFrame = {
    val vmap = versions(root).toMap
    def man(v: Long): Set[String] = vmap.get(v).map(manifest)
      .getOrElse(throw new IllegalArgumentException(
        s"no complete base version v=$v at $root (vacuumed, torn, or never written)"))
    val window = (man(toV) -- man(fromV)).toSeq.sorted
    def artifact(name: String): Path = {
      val f = if (name.startsWith("x=")) new Path(dvRoot(root), name)
        else new Path(deltaRoot(root), name) // d= and c= both live under delta/
      if (!fsOf(f).exists(new Path(f, "_SUCCESS"))) throw new IllegalStateException(
        s"changefeed artifact $name is gone (vacuumed) — changes($fromV, $toV) is past the retention horizon")
      f
    }
    // a fold that absorbed a COMPACTED artifact names both it and its
    // absorbed originals in the manifest — the feed reads the TOP
    // compacted artifact (one merged read) and must skip everything it
    // already contains (originals, and under hierarchical re-compaction
    // any smaller c= it absorbed), or every compacted row would double.
    // Absorbs are read from the window c= artifacts still on disk; a
    // window c= that is gone but absorbed by a surviving one is simply
    // covered — only a missing TOP artifact is past the horizon.
    val winCNames = window.filter(_.startsWith("c="))
    val absorbedInWin = winCNames
      .map(n => new Path(deltaRoot(root), n))
      .filter(p => fsOf(p).exists(new Path(p, "_ABSORBS")))
      .flatMap(absorbsOf).toSet
    val winC = winCNames.filterNot(absorbedInWin.contains).map(artifact)
    val winD = window.filter(n => n.startsWith("d=") && !absorbedInWin.contains(n))
      .map(artifact) ++ winC
    val winX = window.filter(_.startsWith("x=")).map(artifact)
    val inserts = winD.map { d =>
      applyDvs(s, s.read.parquet(d.toString),
        winX.filter(x => seqOf(x.getName) > seqOf(d.getName)))
        .withColumn("_change", lit("insert"))
    }
    val deletes = if (winX.isEmpty) Seq.empty else {
      val pre = read(s, root, Some(fromV)).drop("zkey", "zfile")
      val keys = winX.map(x => s.read.parquet(x.toString)).reduce(_ unionByName _)
      // (delete keys never evolve — same key column set for every delete)
      Seq(pre.join(broadcast(keys.dropDuplicates()), keys.columns.toSeq, "left_semi")
        .withColumn("_change", lit("delete")))
    }
    (inserts ++ deletes) match {
      case Seq() => read(s, root, Some(toV)).drop("zkey", "zfile")
        .withColumn("_change", lit("insert")).limit(0)
      // allowMissingColumns: an evolution window's inserts carry the new
      // columns; pre-image delete rows from the old snapshot take NULL
      case parts => parts.reduce(_.unionByName(_, allowMissingColumns = true))
    }
  }
}
