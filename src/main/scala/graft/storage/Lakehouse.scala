package graft.storage

import graft.model.Schemas
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types.StructType

/** Thin parquet table layer (no Delta/Iceberg jars in this env —
  * SURVEY.md §7.1). One directory per table under `root`.
  *
  * EVERY write — overwrite AND append — is a commit-protected version
  * directory `<table>/_v<N>/`, made visible by atomically creating a
  * single empty marker file inside it whose NAME encodes the commit kind:
  * `_GRAFT_COMMIT_FULL` (snapshot: shadows everything older) or
  * `_GRAFT_COMMIT_DELTA` (append: adds to the live set). Readers resolve
  * the live set = the latest committed FULL version plus every committed
  * DELTA after it (or all committed deltas, plus any pre-versioning
  * top-level files, when no full exists). A crash at ANY point before the
  * marker exists leaves the previous table state fully readable — the
  * miniature form of a Delta/Iceberg commit log. Marker existence is the
  * commit bit and its name the payload, so there is no window where a
  * half-written marker could be misread (an empty `_GRAFT_COMMIT` file
  * from the earlier protocol revision still reads as FULL).
  *
  * Full commits garbage-collect older versions afterwards; a crash during
  * GC only leaves shadowed dirs the next full commit removes. Day
  * partitioning (`partitionBy` inside each version dir) keeps lookback
  * partition pruning working at 100 TB: Spark treats each version root as
  * its own partition-discovery base.
  *
  * CONCURRENT WRITERS are safe for appends: version numbers are allocated
  * by CAS on an empty claim file (`_GRAFT_CLAIM_<N>` at the table root,
  * created exclusively — the commit arbiter, atomic on local disk and
  * HDFS; see [[atomicCreate]] for the object-store caveat; losers
  * re-list and retry), so N parallel `append`s to ONE table land as N
  * distinct committed versions and no commit is lost
  * (LakehouseSpec probes this with racing driver threads, and the q60
  * driver query counts rows across 8 concurrent commits).
  *
  * FULL-vs-append races are ALSO lossless (optimistic concurrency, the
  * moral equivalent of Delta's commit-conflict check): every full commit
  * records the READ BASIS its snapshot derives from (the max committed
  * version at snapshot-read time) and, after committing, REBASES any
  * delta that committed in (basis, fullVersion) — the dir is atomically
  * RENAMED above the full commit, markers / batch-id ledger / zone maps
  * moving wholesale, zero data IO — so a `delete`/`compact`/`overwrite`
  * racing an `append` keeps BOTH effects (q62; LakehouseSpec race
  * probes). The rebase-check window (a delta committing after the full
  * committer's final re-list) is closed from the OTHER side: an appender
  * that finds a full commit above its fresh delta renames itself above
  * it ([[ensureAboveFulls]]) — both renames are atomic and idempotent,
  * so no waiting, no timeouts, no lost commit. Two RACING FULL commits
  * are detected and fail loudly (IllegalStateException) — maintenance
  * jobs must serialize, the same single-maintainer contract as Delta's
  * OPTIMIZE. One consequence: in-flight (claimed-but-uncommitted)
  * version dirs are never garbage-collected inline — [[vacuum]] reclaims
  * genuine crash debris under the `gcGraceMs` horizon instead.
  *
  * @param retainSnapshots how many SUPERSEDED full snapshots each full
  *   commit keeps for time travel (plus the deltas between them, so every
  *   retained version can still resolve its snapshot base — retention is
  *   chain-aware, never a bare suffix of version numbers). 0 (default) =
  *   the original behavior: a full commit garbage-collects everything it
  *   shadows, and `readAt` only reaches the append chain since then.
  * @param gcGraceMs reader-vs-maintenance grace: a full commit's GC (and
  *   [[vacuum]]) only deletes shadowed version dirs whose last
  *   modification is at least this old, so a reader that resolved
  *   `dataPaths` just before a concurrent compact can still finish its
  *   scan — the moral equivalent of Delta's
  *   `deletedFileRetentionDuration`. 0 (default) = immediate GC, the
  *   single-maintainer behavior; deployments with concurrent readers set
  *   it above their longest query (and run [[vacuum]] as the standing
  *   cleanup job).
  */
final class Lakehouse(val spark: SparkSession, val root: String,
    val retainSnapshots: Int = 0, val gcGraceMs: Long = 0L) {
  require(retainSnapshots >= 0, s"retainSnapshots < 0: $retainSnapshots")
  require(gcGraceMs >= 0L, s"gcGraceMs < 0: $gcGraceMs")
  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(name: String): String = s"$root/$name"
  def exists(name: String): Boolean = fs.exists(new Path(tablePath(name)))

  // layout constants + listing primitives live in the companion's
  // [[Lakehouse.Protocol]] so the streaming source (LakehouseStream) can
  // tail the same commit log without a Lakehouse instance
  private val VersionPrefix = Lakehouse.Protocol.VersionPrefix
  private val ClaimPrefix = Lakehouse.Protocol.ClaimPrefix
  private val MarkerFull = Lakehouse.Protocol.MarkerFull
  private val MarkerDelta = Lakehouse.Protocol.MarkerDelta
  private val MarkerLegacy = Lakehouse.Protocol.MarkerLegacy
  // batch-id tombstones carried into full commits so exactly-once replay
  // detection survives compaction's GC of the delta dirs
  private val SeenPrefix = Lakehouse.Protocol.SeenPrefix
  // per-file min/max zone maps (parquet, inside the version dir — the
  // underscore prefix hides it from normal table scans)
  private val StatsDir = Lakehouse.Protocol.StatsDir
  // write-time change-data files (Delta's `_change_data` shape): the exact
  // row-level changes a FULL commit made, written inside the version dir
  // before its marker — part of the commit payload, so a crash can never
  // expose a feed without its snapshot or vice versa. Underscore-hidden
  // from normal table scans like the zone maps.
  private val CdfDir = Lakehouse.Protocol.CdfDir
  // merge-on-read equality-delete tombstones (Iceberg v2's shape):
  // key rows inside a DELTA commit that MASK matching rows of every
  // EARLIER version at read time — see [[deleteByKeys]]
  private val EqDelDir = Lakehouse.Protocol.EqDelDir
  private val ChangeTypeCol = "_change_type"
  private val CommitVersionCol = "_commit_version"

  /** (version, dir) for every `_v<N>` subdir of a table, committed or not. */
  private def versionDirs(dest: Path): Seq[(Long, Path)] =
    Lakehouse.Protocol.versionDirs(fs, dest)

  /** None = uncommitted; Some(true) = full snapshot; Some(false) = delta
    * (incl. batchId-suffixed exactly-once markers, `_GRAFT_COMMIT_DELTA_b<id>`).
    * A dir that vanishes between the caller's listing and this probe
    * (GC'd or rebase-renamed by a concurrent maintainer) reads as
    * uncommitted — invisible, exactly as if the listing had missed it.
    */
  private def commitKind(vdir: Path): Option[Boolean] =
    Lakehouse.Protocol.commitKind(fs, vdir)

  /** Every version dir (committed or not) from ONE root listing, with
    * its commit kind and marker facts answered from the newest
    * checkpoint where the dir's identity (mtime) still matches, probed
    * live (lazily, memoized — only the dirs a caller actually
    * classifies pay an RPC) otherwise — the feed readers' O(#commits)
    * per-dir RPCs become one cached state read + probes for the TAIL.
    * Detail (rewrite/DV/eq-del presence) is None when the checkpoint
    * cannot prove it (identity-only record below the last full, or
    * uncovered); callers keep their `fs.exists` probes as the
    * range-sized fallback.
    */
  private def commitFactsListing(
      dest: Path): Seq[Lakehouse.DirFacts] = {
    val facts = MetaCheckpoint.commitFacts(fs, dest,
      MetaCheckpoint.enabled(spark))
    Lakehouse.Protocol.versionDirStatuses(fs, dest).sortBy(_._1).map {
      case (v, st) =>
        facts.get(v) match {
          case Some(f) if f.dirMtime == st.getModificationTime =>
            new Lakehouse.DirFacts(v, st, () => Some(f.full), f.detail)
          case _ =>
            new Lakehouse.DirFacts(v, st,
              () => commitKind(st.getPath), None)
        }
    }
  }

  /** One version-dir listing → (live data roots oldest-first, snapshot
    * provenance). Maintenance ops resolve BOTH from the same listing —
    * the read basis and the snapshot's roots must agree, or a delta
    * committing between two separate listings would either double (in
    * the snapshot AND rebased above it) or vanish (in neither). The
    * provenance carries the EXACT committed set, not just its max: a
    * delta can claim a low number early and commit late, so
    * "version ≤ max committed" does NOT imply "was in the snapshot" —
    * GC'ing on that implication lost racing appends (StressCommit
    * caught it; see [[overwritePartitioned]]'s GC rule).
    */
  private def liveRootsAndBasis(
      name: String): (Seq[String], Lakehouse.ReadBasis) = {
    val dest = new Path(tablePath(name))
    // checkpoint-aware: commit kinds answer from the newest checkpoint
    // (mtime-validated) and only TAIL dirs pay a live probe — the
    // resolve was the last O(#commits) per-dir listing on the DML/read
    // path (the V2 scan's resolve already folded; StressCommit cost
    // showed this one at 1 listStatus per version per resolve)
    val committed = commitFactsListing(dest).flatMap(d =>
      d.kind.map(full => (d.v, d.path, full)))
    val basis = Lakehouse.ReadBasis(
      committed.map(_._1).maxOption.getOrElse(0L),
      committed.map(_._1).toSet)
    val lastFull = committed.lastIndexWhere(_._3)
    val roots =
      if (lastFull >= 0) committed.drop(lastFull).map(_._2.toString)
      else {
        val plain = fs.exists(dest) && fs.listStatus(dest).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        val deltas = committed.map(_._2.toString)
        if (plain || deltas.isEmpty) dest.toString +: deltas else deltas
      }
    (roots, basis)
  }

  /** The live data roots, oldest first: the latest committed full version
    * and every committed delta after it; with no full version, any
    * pre-versioning top-level files (underscore version dirs are invisible
    * to Spark's listing there) plus all committed deltas.
    */
  def dataPaths(name: String): Seq[String] = liveRootsAndBasis(name)._1

  /** Newest live root (the compaction/inspection target). */
  def dataPath(name: String): String = dataPaths(name).last

  /** Max `trans_dt_day=` partition value across the live data roots —
    * a metadata-only walk (ONE listStatus per live root, the same LIST
    * an object store serves), no data scan. The day-partition writer
    * ([[appendPartitionedByDay]]) renders the partition value as
    * `to_date(tsCol)` under the UTC-pinned session, so for an
    * APPEND-ONLY day-partitioned fact the max partition dir IS
    * `date_trunc('DAY', max(tsCol))`. Returns None — callers fall back
    * to the scan — whenever that equivalence is not provable from the
    * layout: a flat (unpartitioned) root, a row-level mask sidecar
    * (`_dv`/`_eqdel` could have emptied the newest day), a NULL-day or
    * non-date partition dir, or no partition dirs at all. At 100 TB
    * this replaces a full-history max() scan per mart build with
    * O(#roots) LIST calls.
    */
  def maxPartitionDay(name: String): Option[java.sql.Timestamp] = {
    if (!exists(name)) return None
    var maxDay: String = null
    for (r <- dataPaths(name)) {
      val sts =
        try fs.listStatus(new Path(r))
        catch { case _: java.io.FileNotFoundException => return None }
      for (st <- sts) {
        val n = st.getPath.getName
        if (st.isFile && n.endsWith(".parquet")) return None // flat layout
        if (n == Lakehouse.Protocol.DvDir || n == EqDelDir)
          return None // masks could hide the newest day's rows
        if (st.isDirectory && n.startsWith("trans_dt_day=")) {
          val v = n.substring("trans_dt_day=".length)
          // a NULL-day dir (`__HIVE_DEFAULT_PARTITION__`) or any value
          // that is not a plain date: the max is not provable here
          if (!v.matches("\\d{4}-\\d{2}-\\d{2}")) return None
          if (maxDay == null || v > maxDay) maxDay = v
        }
      }
    }
    // UTC midnight explicitly — the scan path's date_trunc runs under
    // the UTC-pinned session, and Timestamp.valueOf would parse in the
    // JVM default zone instead
    Option(maxDay).map(d => java.sql.Timestamp.from(
      java.time.LocalDate.parse(d)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant))
  }

  /** Committed versions, oldest first: (version, isFullSnapshot). */
  def versions(name: String): Seq[(Long, Boolean)] =
    versionDirs(new Path(tablePath(name))).sortBy(_._1).flatMap {
      case (v, p) => commitKind(p).map(v -> _)
    }

  /** Committed DELTA versions in `(fromVersion, toVersion]` that carry
    * merge-on-read equality-delete tombstones ([[deleteByKeys]]). Their
    * change-feed records are KEY-ONLY (non-key columns null) — consumers
    * that need full-row deletes (e.g. incremental aggregate maintenance,
    * [[graft.ops.MaterializedView]]) probe this to fail loudly instead
    * of silently under-subtracting. One listing, O(#versions) exists
    * checks — metadata-sized.
    */
  def equalityDeleteVersions(name: String, fromVersion: Long,
      toVersion: Long): Seq[Long] =
    commitFactsListing(new Path(tablePath(name)))
      .filter(d => d.v > fromVersion && d.v <= toVersion)
      .flatMap { d =>
        d.kind match {
          case Some(false) if d.detail.map(_.eqDel).getOrElse(
            fs.exists(new Path(d.path, EqDelDir))) => Some(d.v)
          case _ => None
        }
      }

  /** Commit history, oldest first: (version, isFullSnapshot, commit
    * time). The commit instant IS the marker file's creation — its
    * modification time survives even a rebase rename (renames move the
    * file, not its mtime), so a rebased delta keeps its original commit
    * time under its new version number. Same caveat as any
    * mtime-derived clock: it is the filesystem's, not the writer's.
    */
  def history(name: String): Seq[(Long, Boolean, Long)] = {
    val dest = new Path(tablePath(name))
    // commits the newest checkpoint covers answer from it (commit kind
    // + marker mtime recorded at build) — one state read instead of a
    // listing per dir, so `$history`/timestamp time travel stay O(tail)
    // on long chains. Same identity rule as resolve: a covered dir
    // whose mtime moved (impossible for a committed dir) or a version
    // the checkpoint missed falls back to the per-dir listing.
    val covered: Map[Long, (Boolean, Long, Long)] =
      if (!MetaCheckpoint.enabled(spark)) Map.empty
      else
        try MetaCheckpoint.loadLatest(fs, dest)
          .map(_.versions.filter(_.commitMs > 0L)
            .map(r => r.v -> ((r.full, r.dirMtime, r.commitMs))).toMap)
          .getOrElse(Map.empty)
        catch { case scala.util.control.NonFatal(_) => Map.empty }
    Lakehouse.Protocol.versionDirStatuses(fs, dest).sortBy(_._1).flatMap {
      case (v, st) =>
        covered.get(v) match {
          case Some((full, mt, cms))
            if st.getModificationTime == mt => Some((v, full, cms))
          case _ =>
            commitKind(st.getPath).map { full =>
              val mt = fs.listStatus(st.getPath).collect {
                case s if s.getPath.getName == MarkerFull ||
                  s.getPath.getName == MarkerLegacy ||
                  s.getPath.getName.startsWith(MarkerDelta) =>
                  s.getModificationTime
              }
              (v, full, mt.min)
            }
        }
    }
  }

  /** Timestamp time travel (`AS OF <timestamp>`): the table as of the
    * newest commit at or before `asOfMs` — resolved through [[history]]
    * then served by [[readAt]], inheriting its retention contract
    * (a timestamp older than the retained window throws, never silently
    * mis-resolves).
    */
  def readAsOf(name: String, asOfMs: Long): DataFrame = {
    val h = history(name).filter(_._3 <= asOfMs)
    require(h.nonEmpty, s"$name has no commit at or before $asOfMs")
    readAt(name, h.map(_._1).max)
  }

  /** RESTORE (rollback): re-commit the content of an earlier `version`
    * as a NEW full commit — the mistake-recovery path (bad batch, wrong
    * delete) that rolls the LIVE table back while the history keeps
    * moving forward (Delta's RESTORE semantics: a restore is itself a
    * commit, so it is audit-visible and itself restorable). Runs through
    * the same conflict-detected overwrite protocol: an append racing the
    * restore is rebased above it, two racing rewrites fail loudly. The
    * source version must still be inside the retained window (readAt's
    * contract — restoring from GC'd history throws). Records no change
    * feed: a rollback's row-level diff is against content the caller
    * chose to abandon; feed consumers re-seed past it (the same stance
    * Delta takes — RESTORE breaks CDF continuity).
    */
  def restore(name: String, version: Long): Unit = {
    val schema = Schemas.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name"))
    val full = readSchema(name, schema)
    val partCols = full.fieldNames.toSeq.diff(schema.fieldNames.toSeq)
    // basis from the current listing; the snapshot itself is the OLD
    // version's chain (still on disk — readAt throws otherwise), so a
    // delta committing during the rewrite rebases above the restore
    val (_, basis) = liveRootsAndBasis(name)
    val snap0 = readAt(name, version)
    // the day-partitioned fact re-derives its partition column exactly
    // as appendPartitionedByDay (readAt serves contract columns only)
    val snap =
      if (partCols == Seq("trans_dt_day"))
        snap0.withColumn("trans_dt_day", to_date(col("trans_date")))
      else snap0
    overwritePartitioned(name, snap, partCols, readBasis = Some(basis))
  }

  /** Time travel: the table as of commit `maxVersion` (inclusive) — the
    * latest full snapshot at or before it plus the deltas between. Only
    * reaches versions still on disk: the window is the append chain since
    * the last overwrite/compact plus, with `retainSnapshots` > 0, the
    * retained snapshot generations before it; anything older throws
    * (never silently resolves against a GC'd base).
    */
  def readAt(name: String, maxVersion: Long): DataFrame = {
    val schema = Schemas.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name"))
    val dest = new Path(tablePath(name))
    val committed = versionDirs(dest).sortBy(_._1)
      .flatMap { case (v, p) => commitKind(p).map(full => (v, p, full)) }
      .takeWhile(_._1 <= maxVersion)
    require(committed.nonEmpty,
      s"$name has no committed version <= $maxVersion")
    val lastFull = committed.lastIndexWhere(_._3)
    val versioned = (if (lastFull >= 0) committed.drop(lastFull) else committed)
      .map(_._2.toString)
    // pre-versioning top-level files are the base under every delta-only
    // chain, exactly as in dataPaths — readAt at the newest version must
    // agree with read()
    val roots =
      if (lastFull < 0 && fs.exists(dest) && fs.listStatus(dest).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }) dest.toString +: versioned
      else versioned
    // equality-delete masking applies WITHIN the selected chain: a
    // tombstone committed at v ≤ maxVersion masks earlier rows, one
    // committed after the as-of point doesn't exist yet
    val basis = Lakehouse.ReadBasis(committed.map(_._1).max,
      committed.map(_._1).toSet)
    scan(ctxOver(roots, basis), schema)
  }

  /** Change feed: the rows appended by the committed DELTA versions in
    * (fromVersion, toVersion] — the incremental-consumer API (downstream
    * jobs re-process only what changed since their last run, never the
    * full table). Append-only by construction: a FULL commit in the range
    * is a rewrite, not a delta, so it throws rather than silently
    * misreporting changes; versions GC'd by a later compaction also
    * throw (same never-misresolve stance as readAt).
    */
  def changesBetween(name: String, fromVersion: Long,
      toVersion: Long): DataFrame =
    changesBetween(name,
      Schemas.byName.getOrElse(name,
        throw new IllegalArgumentException(s"unknown table: $name")),
      fromVersion, toVersion)

  /** [[changesBetween]] with a caller-supplied contract schema
    * (unregistered versioned tables).
    */
  def changesBetween(name: String, schema: StructType, fromVersion: Long,
      toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val all = commitFactsListing(new Path(tablePath(name)))
    // completeness check against dirs PRESENT on disk, not committed
    // ones: an uncommitted dir is crash debris that contributed no rows
    // (a crashed append claims a version number forever — it must not
    // poison every later feed range), while a MISSING number means GC
    // folded that delta into a snapshot and the row-level feed is gone
    val present = all.map(_.v).toSet
    // a toVersion past the newest commit is a caller error, not GC — keep
    // the two failure modes distinguishable in the message
    val latest = if (all.isEmpty) -1L else all.map(_.v).max
    require(toVersion <= latest,
      s"$name toVersion $toVersion exceeds latest version $latest")
    ((fromVersion + 1) to toVersion).foreach(v => require(present(v),
      s"$name version $v is not on disk (GC'd) — " +
        "the change feed would be incomplete"))
    val range = all
      .filter(d => d.v > fromVersion && d.v <= toVersion)
      .flatMap(d => d.kind.map(full => (d.v, d.path, full, d.detail)))
      // a REWRITE commit (rewriteDeletes) appends nothing: its data
      // files are moved survivors of already-masked files, not new rows
      // — skip it entirely (before the DV-refusal below, which is about
      // genuine delete commits)
      .filterNot(t => t._4.map(_.rewrite).getOrElse(
        fs.exists(new Path(t._2, Lakehouse.Protocol.MarkerRewrite))))
    range.find(_._3).foreach { case (v, _, _, _) =>
      throw new IllegalArgumentException(
        s"$name version $v is a FULL rewrite — no row-level change feed " +
          "across snapshots")
    }
    // an equality-delete tombstone delta REMOVES rows — serving it as an
    // append would misreport; the typed feed (changeFeed) carries it
    range.find(t => t._4.map(_.eqDel).getOrElse(
        fs.exists(new Path(t._2, EqDelDir)))).foreach {
      case (v, _, _, _) =>
        throw new IllegalArgumentException(
          s"$name version $v is an equality-delete commit — not an " +
            "append; consume it through changeFeed")
    }
    // same for deletion vectors — and the typed feed refuses them too
    // (serving delete records would need the pre-image fetched by
    // position; compact first, or use the copy-on-write delete when a
    // change feed consumes the table)
    range.find(t => t._4.map(_.dv).getOrElse(
        fs.exists(new Path(t._2, Lakehouse.Protocol.DvDir))))
      .foreach { case (v, _, _, _) =>
        throw new IllegalArgumentException(
          s"$name version $v is a deletion-vector commit — not an append")
      }
    if (range.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else scan(ctxOver(range.map(_._2.toString), Lakehouse.ReadBasis(
      toVersion, range.map(_._1).toSet)), schema)
  }

  /** Read a table; absent or empty tables yield an empty DataFrame with the
    * registered schema, so first-run ETL needs no special-casing.
    */
  def read(name: String): DataFrame =
    read(name, Schemas.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name")))

  /** [[read]] with a caller-supplied contract schema, for versioned
    * tables outside the registered DWH model (e.g. a CDC current-state
    * table, [[graft.streaming.Streams.applyCdcBatch]]). Same live-chain
    * resolution; the explicit schema plays the registry's role.
    */
  def read(name: String, schema: StructType): DataFrame =
    readWithBasis(name, schema)._1

  /** [[read]] (explicit schema) plus the read basis from the SAME
    * listing — the entry point for maintenance jobs on unregistered
    * tables that rewrite what they read (e.g. AnnIndex.deleteVectors)
    * and must hand [[overwritePartitioned]] an exact `readBasis` for
    * its conflict detection (a basis captured by a separate listing
    * could double or drop a delta committing between the two).
    */
  def readWithBasis(name: String,
      schema: StructType): (DataFrame, Lakehouse.ReadBasis) =
    // explicit schema: an empty parquet dir or partition-discovery
    // columns must not change the contract
    if (exists(name)) readRootsWithBasis(name, schema)
    else
      (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
        Lakehouse.ReadBasis(0L, Set.empty))

  /** The live chain through [[scan]], plus the read basis from the SAME
    * listing — the maintenance-op entry point (see [[liveRootsAndBasis]]).
    */
  private def readRootsWithBasis(name: String,
      schema: StructType): (DataFrame, Lakehouse.ReadBasis) = {
    val ctx = maskedCtx(name)
    (scan(ctx, schema), ctx.basis)
  }

  /** Version number a live root's tombstones/sequencing key on (the
    * pre-versioning base root reads as 0 — everything masks it).
    */
  private def rootVersion(root: String): Long = {
    val n = new Path(root).getName
    if (n.startsWith(VersionPrefix)) n.drop(VersionPrefix.length).toLong
    else 0L
  }

  /** Sidecar index of a root's DV commit: data-file name → sidecar
    * path. One names-only listing; empty when the root has no DVs.
    * (The DV parquet next to the sidecars — (file, pos) rows — is the
    * audit/change-feed record; readers use only the sidecars.)
    */
  private def dvIndex(root: String): Map[String, String] =
    DvSidecar.index(fs, new Path(root, Lakehouse.Protocol.DvDir))

  /** A read context over explicit roots. Each root is walked ONCE
    * (Spark's hidden-name rule, recursive, keeping the dir names
    * between root and file — the `k=v` partition segments); that walk
    * is the only listing a read pays, and it flags the roots whose
    * tombstone refs (one footer schema read each, never the keys) and
    * DV indexes are then loaded.
    */
  private def ctxOver(roots: Seq[String],
      basis: Lakehouse.ReadBasis): Lakehouse.MaskedCtx = {
    val live = roots.map { r =>
      val files =
        Seq.newBuilder[(org.apache.hadoop.fs.FileStatus, Seq[String])]
      var dv, eqDel = false
      def walk(dir: Path, segs: Seq[String]): Unit =
        fs.listStatus(dir).foreach { st =>
          val n = st.getPath.getName
          if (segs.isEmpty && n == Lakehouse.Protocol.DvDir) dv = true
          else if (segs.isEmpty && n == EqDelDir) eqDel = true
          else if (!Lakehouse.hiddenName(n)) {
            if (st.isDirectory) walk(st.getPath, segs :+ n)
            else files += st -> segs
          }
        }
      walk(new Path(r), Nil)
      Lakehouse.LiveRoot(r, rootVersion(r), files.result(), dv, eqDel)
    }
    Lakehouse.MaskedCtx(live, basis,
      live.filter(_.eqDel).map { l =>
        val p = new Path(l.root, EqDelDir).toString
        (l.v, p, spark.read.parquet(p).columns.toSeq)
      },
      live.filter(_.dv).map(l => (l.v, dvIndex(l.root)))
        .filter(_._2.nonEmpty))
  }

  /** THE live-chain read planner (read, readWithPartitionColumns,
    * readAt, readBranch, the feeds, readBetween, rewriteDeletes and the
    * merge-on-read DML's masked read): ONE parquet relation over the
    * files `ctx` listed — no per-root DataSource resolution (glob,
    * existence probe, JobConf, InMemoryFileIndex listing). Partition
    * columns are the `k=v` dir keys the schema names; their values come
    * from an explicit spec built from the listed dirs, NULL for a file
    * without that dir (a flat root) or under `__HIVE_DEFAULT_PARTITION__`.
    *
    * Masks apply per FILE by the sequence rule: a tombstone key set or
    * a deletion vector committed at version v masks only files of roots
    * BELOW v, so rows re-inserted or updated after a delete survive.
    * [[graft.functions.EqDelSurvives]] and [[graft.functions.DvSurvives]]
    * key on the row's file PATH and open their sets executor-side — no
    * join, no shuffle, no broadcast.
    *
    * A deletion vector names a data file by its bare name, so a read
    * fails, instead of masking the wrong rows, where a name repeats
    * among the files an outstanding vector could mask — or, for a
    * `withPos` read (whose names a new vector carries), anywhere.
    *
    * `withPos` adds the rows' physical identity ([[Lakehouse.FileCol]],
    * [[Lakehouse.PosCol]]) and nothing else; `keep` restricts the scan
    * to the data files it accepts.
    */
  private def scan(ctx: Lakehouse.MaskedCtx, schema: StructType,
      withPos: Boolean = false,
      keep: Path => Boolean = _ => true): DataFrame = {
    val all = for {
      l <- ctx.live
      (st, segs) <- l.files
    } yield (l.v, st, segs)
    all.filter(f => withPos || ctx.dvs.exists(d =>
      d._1 > f._1 && d._2.contains(f._2.getPath.getName)))
      .groupBy(_._2.getPath.getName).find(_._2.size > 1).foreach {
        case (n, dup) => throw new IllegalStateException(
          s"data file name $n repeats in ${dup.map(_._2.getPath.getParent)
            .mkString(", ")}: a deletion vector naming it is ambiguous")
      }
    val files = all.filter(f => keep(f._2.getPath))
    val kv = (seg: String) => {
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(ExternalCatalogUtils.unescapePathName(seg.take(i)) ->
        seg.drop(i + 1))
    }
    val partCols = files.flatMap(_._3.flatMap(kv(_).map(_._1))).distinct
      .filter(schema.fieldNames.contains)
    val tz = spark.conf.get("spark.sql.session.timeZone")
    val parts = if (partCols.isEmpty) Nil else files
      .map(f => f._2.getPath.getParent -> f._3).distinctBy(_._1)
      .map { case (dir, segs) =>
        val vals = segs.flatMap(kv(_)).toMap
        (org.apache.spark.sql.catalyst.InternalRow.fromSeq(partCols.map(c =>
          vals.get(c).map(Lakehouse.partitionValue(_, schema(c).dataType,
            tz)).orNull)), dir)
      }
    val base = org.apache.spark.sql.GraftColumnBridge.listedParquet(spark,
      ctx.live.map(l => new Path(l.root)), files.map(_._2),
      StructType(schema.filterNot(f => partCols.contains(f.name))),
      StructType(partCols.map(schema(_))), parts)
    // keys as `_metadata.file_path` renders a path: its URI rebuilt from
    // the parts (URL-encoded; `file:/…`, where the listing has `file:///…`)
    val path = (st: org.apache.hadoop.fs.FileStatus) => {
      val u = st.getPath.toUri
      new java.net.URI(u.getScheme, u.getAuthority, u.getPath, null, null)
        .toString
    }
    val filePath = col("_metadata.file_path")
    val fileName = substring_index(filePath, "/", -1)
    val rowIndex = col("_metadata.row_index")
    val tombs = ctx.tombs.filter(t => files.exists(_._1 < t._1))
    val eqMasked = if (tombs.isEmpty) base else {
      val keys = tombs.flatMap(_._3).distinct
      val refs = tombs.map { case (v, dir, ks) =>
        graft.functions.EqDelSurvives.Ref(dir, StructType(ks.map { k =>
          require(schema.fieldNames.contains(k),
            s"eq-del key $k not in table schema")
          schema(k)
        }), ks.map(keys.indexOf), v)
      }
      base.filter(graft.functions.EqDelSurvives(keys.map(col), refs,
        filePath, files.map(f => path(f._2) -> f._1).toMap))
    }
    val dvIdx = files.flatMap { f =>
      val n = f._2.getPath.getName
      val sidecars = ctx.dvs.filter(_._1 > f._1).flatMap(_._2.get(n))
      if (sidecars.isEmpty) None else Some(path(f._2) -> sidecars)
    }.toMap
    val masked =
      if (dvIdx.isEmpty) eqMasked
      else eqMasked.filter(
        graft.functions.DvSurvives(filePath, rowIndex, dvIdx))
    masked.select(schema.fieldNames.map(col).toIndexedSeq ++ (
      if (!withPos) Nil
      else Seq(fileName.as(Lakehouse.FileCol),
        rowIndex.as(Lakehouse.PosCol))): _*)
  }

  /** Fact written via [[appendPartitionedByDay]] carries an extra
    * partition column; include it on read. Detected from the physical
    * layout, not assumed by table name — a versioned fact materialized
    * through plain [[append]] (q51/q52/q55/q56) is unpartitioned and
    * must read (and compact, and range-prune) as such. The partitioned
    * layout is the DEFAULT (the canonical ETL shape): a missing, empty,
    * or truncated fact keeps `trans_dt_day` so first-run mart builds
    * filter an empty frame instead of hitting an unresolved column;
    * only data files sitting DIRECTLY in the newest live root (the
    * layout plain append produces, and what any compaction of it
    * preserves) mark the table flat. One listStatus on one root — not a
    * per-root walk; at object-store scale this is a single LIST call.
    */
  private def readSchema(name: String, schema: StructType): StructType =
    layoutSchema(name, schema, exists(name) &&
      dataPaths(name).lastOption.exists(root =>
        fs.listStatus(new Path(root)).exists(st =>
          st.isFile && st.getPath.getName.endsWith(".parquet"))))

  /** [[readSchema]] given the layout probe's answer: `flat` = data files
    * sit directly in the newest live root (evaluated for the fact only).
    */
  private def layoutSchema(name: String, schema: StructType,
      flat: => Boolean): StructType =
    if (name != "fact_transactions" || flat) schema
    else schema.add("trans_dt_day", org.apache.spark.sql.types.DateType)

  /** Like [[read]] but keeps physical partition columns (e.g. the fact's
    * `trans_dt_day`) so callers can write partition-pruning predicates.
    * The layout probe answers from the listing the scan already holds —
    * no second resolve or root listing.
    */
  def readWithPartitionColumns(name: String): DataFrame = {
    val schema = Schemas.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name"))
    if (exists(name)) {
      val ctx = maskedCtx(name)
      scan(ctx, layoutSchema(name, schema, ctx.live.lastOption.exists(
        _.files.exists(f => f._2.isEmpty &&
          f._1.getPath.getName.endsWith(".parquet")))))
    } else
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        layoutSchema(name, schema, flat = false))
  }

  /** The storage seam every commit-atomicity assumption routes through
    * — see [[CommitIo]] for the full contract (CAS create, commit
    * marker, all-or-nothing rename, atomic replace) and what an
    * object-store implementation must provide for each.
    */
  private def commitIo: CommitIo = CommitIo(fs)

  /** CAS create via the [[CommitIo]] seam — the primitive version
    * allocation is built on; false = this writer lost the race.
    */
  private def atomicCreate(p: Path): Boolean = commitIo.casCreate(p)

  /** Version numbers carried by claim files at the table root. */
  private def claimedVersions(dest: Path): Seq[Long] =
    Lakehouse.Protocol.claimedVersions(fs, dest)

  /** CAS version allocation: compute next = max(existing dirs, existing
    * claims) + 1 and try to atomically create its claim file; exactly one
    * of any set of concurrent writers wins each number, losers re-list
    * and retry. Claim files persist until a later full commit's GC (they
    * also keep allocation monotonic for claimed-but-crashed writes that
    * never produced a dir). Bounded retries: with W concurrent writers a
    * loser needs at most W rounds, so hitting the cap means the
    * filesystem is lying about exclusivity — fail loudly, never risk two
    * writers sharing one version dir.
    */
  private def claimVersion(dest: Path): Long = {
    fs.mkdirs(dest) // claim files need the table dir to exist
    var attempts = 0
    while (attempts < 1000) {
      // ONE root listing serves both the version dirs and the claim
      // files — this loop ran two exists probes + two listings per
      // attempt before (4 RPCs per commit on an object store)
      val listing = try fs.listStatus(dest).toSeq
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      val next =
        (Lakehouse.Protocol.versionDirStatusesOf(listing).map(_._1) ++
          Lakehouse.Protocol.claimedVersionsOf(listing) ++
          // a shallow clone's local commits sequence ABOVE the pinned
          // source snapshot (same LOCAL listing — no source RPC)
          Lakehouse.Protocol.cloneRefOf(fs, listing)
            .flatMap(_._2.maxOption))
          .maxOption.getOrElse(0L) + 1L
      if (atomicCreate(new Path(dest, s"$ClaimPrefix$next"))) return next
      attempts += 1
    }
    throw new IllegalStateException(
      s"version claim CAS failed 1000 times under $dest — " +
        "exclusive create is not exclusive on this filesystem")
  }

  /** Write a new version dir and commit it by creating the named marker —
    * one atomic file-create; a `beforeCommit` test hook simulates a crash
    * in the window. The version number is claimed via [[claimVersion]],
    * so the dir is exclusively owned even under concurrent writers.
    */
  private def writeVersion(name: String, marker: String,
      beforeCommit: () => Unit,
      intentBasis: Option[Lakehouse.ReadBasis] = None)(
      write: String => Unit): Path = {
    val dest = new Path(tablePath(name))
    val next = claimVersion(dest)
    val vdir = new Path(dest, s"$VersionPrefix$next")
    // FULL-commit intent lands at CLAIM time, before any payload byte:
    // monotonic claims mean every merge-on-read delta that could commit
    // above this full claims later, so its conflict checks always see
    // the intent (see [[Lakehouse.Protocol.FullIntentPrefix]] — a
    // TABLE-ROOT file, because the snapshot's own mode("overwrite")
    // write deletes and re-creates the version dir, which would wipe an
    // in-dir marker for exactly the write window it must cover).
    // Deleted on a failed write and after the commit marker lands so an
    // aborted or finished full stops blocking deltas; a JVM death
    // leaves it, bounded by the freshness TTL.
    // the intent CARRIES the full's read basis: a racing delta whose
    // committed version is in it will be FOLDED by this snapshot, so
    // its post-check must not self-abort (see readFullIntentBasis); a
    // torn read degrades to "contains nothing" — the racer yields
    val intent = new Path(dest,
      s"${Lakehouse.Protocol.FullIntentPrefix}$next")
    if (marker == MarkerFull) {
      fs.mkdirs(vdir)
      // staged + renamed, NOT created in place: a racer reading a
      // half-visible intent would parse a digit-truncated version as a
      // valid-but-wrong basis and could tolerate a full that is blind
      // to it — the rename makes the content appear atomically (a
      // reader before the rename sees no intent at all, which is the
      // conservative side: it conflicts)
      val tmp = new Path(dest,
        s"._tmp_${Lakehouse.Protocol.FullIntentPrefix}$next")
      val out = fs.create(tmp, true)
      try out.write(intentBasis.map(_.committed.toSeq.sorted
        .mkString("\n")).getOrElse("").getBytes("UTF-8"))
      finally out.close()
      if (!commitIo.atomicRename(tmp, intent)) {
        fs.delete(tmp, false)
        throw new IllegalStateException(
          s"full-intent publish failed for $vdir")
      }
    }
    def dropIntent(): Unit =
      if (marker == MarkerFull)
        try fs.delete(intent, false)
        catch { case scala.util.control.NonFatal(_) => () }
    // Lakehouse-INTERNAL files write TIMESTAMP_MICROS instead of the
    // session's INT96 default: INT96 is deprecated and carries NO
    // parquet column statistics, which would force every commit with a
    // timestamp stats column back onto the scan-based manifest
    // (writeFooterStats). Scoped to commit-payload writes, not
    // session-wide — the driver's oracle compare reads RESULT dumps
    // through pandas, where an isAdjustedToUTC TIMESTAMP(MICROS)
    // surfaces tz-aware and hash-mismatches DuckDB's naive values;
    // table-internal bytes are never compared, only read back
    // (identically) by Spark. Reference-counted (Lakehouse.MicrosScope)
    // because commits run concurrently (streaming foreachBatch threads,
    // racing appends): a naive save/restore pair interleaved across two
    // threads restores the OVERRIDE as the "previous" value and leaks
    // it session-wide — which is exactly how 21 oracle dumps went
    // tz-aware before this was refcounted.
    Lakehouse.MicrosScope.enter(spark)
    try {
      try write(vdir.toString)
      finally Lakehouse.MicrosScope.exit(spark)
      beforeCommit()
    } catch {
      case e: Throwable =>
        // a FAILED full must not keep aborting merge-on-read deltas:
        // drop only the intent (the dir stays as ordinary crash debris,
        // invisible and vacuum's job — the crash-sim tests lean on that)
        dropIntent()
        throw e
    }
    commitIo.commitMarker(new Path(vdir, marker)) // the commit point
    // the committed marker supersedes the intent (conflict checks see
    // the full itself); a crash between the two lines leaves a stale
    // intent, bounded by the TTL and cleaned by the next full
    dropIntent()
    // auto-checkpoint: fold the chain's metadata into one snapshot file
    // every N commits so resolve reads checkpoint + tail instead of
    // O(#commits) dirs. Best-effort DERIVED state — a failure here can
    // never fail the commit, and readers fall back to the plain walk.
    try MetaCheckpoint.maybeCheckpoint(spark, fs,
      spark.sparkContext.hadoopConfiguration, dest)
    catch { case scala.util.control.NonFatal(_) => () }
    vdir
  }

  /** Fold the commit chain's metadata into one checkpoint file NOW
    * (`CALL graft.system.checkpoint` / operator API) — see
    * [[MetaCheckpoint]]. Returns false when the chain has an
    * unprovable shape (nothing written; reads are unaffected).
    */
  def checkpoint(name: String): Boolean =
    MetaCheckpoint.writeCheckpoint(spark, fs,
      spark.sparkContext.hadoopConfiguration,
      new Path(tablePath(name)))

  /** Atomic dir rename where a vanished source means "the other mover
    * won the race" (false) — the protocol's idempotent-mover contract.
    * Hadoop's local ChecksumFileSystem throws FileNotFoundException from
    * rename(missing, _) instead of returning false.
    */
  private def tryRename(src: Path, dst: Path): Boolean =
    commitIo.atomicRename(src, dst)

  /** Appender-side half of the optimistic-concurrency protocol: if a FULL
    * commit landed ABOVE this fresh delta's version (a maintenance job
    * whose snapshot predates us — our rows would be shadowed), atomically
    * rename the delta above it. Loops because another full can land while
    * we rename; terminates because fulls are rare and each round strictly
    * raises our version. A failed rename means the full committer's own
    * [[rebaseLateDeltas]] already moved us — equally live, stop.
    */
  private def ensureAboveFulls(dest: Path, vdir0: Path): Path = {
    var vdir = vdir0
    var v = vdir.getName.drop(VersionPrefix.length).toLong
    var moved = true
    while (moved) {
      val fullAbove = versionDirs(dest).exists { case (fv, p) =>
        fv > v && commitKind(p).contains(true)
      }
      moved = false
      if (fullAbove) {
        val m = claimVersion(dest)
        val target = new Path(dest, s"$VersionPrefix$m")
        if (tryRename(vdir, target)) { vdir = target; v = m; moved = true }
      }
    }
    vdir
  }

  /** Bounded wait for a racing mask delta's own post-marker self-abort
    * (it deletes its dir BEFORE acknowledging — see [[commitMoRDelta]]).
    * True = the dir vanished within the deadline; false = it persists
    * (its JVM died inside the commit window, or a
    * pre-conflict-detection writer) — the caller fails loudly.
    */
  private def awaitSelfAbort(p: Path, deadlineMs: Long = 30000L)
      : Boolean = {
    val start = System.nanoTime()
    val deadline = start + deadlineMs * 1000L * 1000L
    var gone = false
    var slept = false
    while (!gone && System.nanoTime() < deadline) {
      gone = !(try fs.exists(p)
        catch { case _: java.io.FileNotFoundException => true })
      if (!gone) { Thread.sleep(100L); slept = true }
    }
    // meter any pass that actually slept: a wait that clears inside the
    // deadline is SUCCESS and otherwise invisible in every artifact
    if (slept || !gone) ProtocolTelemetry.record("selfAbortWait",
      (System.nanoTime() - start) / 1000000L, timedOut = !gone)
    gone
  }

  /** A FRESH full-commit intent (root file) for an uncommitted version
    * outside `basis` — an in-flight snapshot write that a rewrite or
    * mask delta must not race (see
    * [[Lakehouse.Protocol.FullIntentPrefix]]). Freshness = max of the
    * intent file's and (when present) the claimed dir's mtime within
    * the TTL; a version that has since COMMITTED is excluded (its
    * leftover intent is superseded by the marker, which the callers'
    * own committed-dir scans already handle).
    */
  private def freshFullIntentOutside(dest: Path,
      basis: Lakehouse.ReadBasis,
      selfV: Option[Long] = None): Option[Long] = {
    val ttl = spark.conf.getOption("spark.graft.fullIntentTtlMs")
      .map(_.toLong).getOrElse(600000L)
    val now = System.currentTimeMillis()
    val listing = try fs.listStatus(dest).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val dirSt = Lakehouse.Protocol.versionDirStatusesOf(listing)
      .map { case (v, st) => v -> st }.toMap
    Lakehouse.Protocol.fullIntents(listing).collect {
      case (v, mt) if !basis.committed(v) &&
        !dirSt.get(v).exists(st => commitKind(st.getPath).isDefined) &&
        now - math.max(mt, dirSt.get(v)
          .map(_.getModificationTime).getOrElse(0L)) < ttl &&
        // a racer whose recorded basis contains the caller's own
        // committed version has FOLDED it — benign (see conflictingFull)
        !selfV.exists(sv =>
          Lakehouse.Protocol.readFullIntentBasis(fs, dest, v)
            .exists(_.contains(sv))) =>
        v
    }.minOption
  }

  /** Full-committer-side half: after committing a FULL at `fullV` whose
    * snapshot derives from the `basis` listing, any delta below `fullV`
    * that is committed but NOT in the basis's committed set raced the
    * rewrite and its rows are not in the snapshot — rename each above
    * the full (marker, batch-id ledger and zone maps move with the dir;
    * zero data IO), then re-ensure the target sits above any full a
    * racing maintainer may have stacked meanwhile. Membership in the
    * SET, not version comparison: a delta can claim a low number early
    * and commit late, landing below max-committed without ever being
    * readable by the snapshot. Re-lists until a pass finds nothing: a
    * delta committing after our last look self-rebases via
    * [[ensureAboveFulls]], so the two sides together leave no lost
    * commit. A late-committed FULL means two racing maintenance jobs —
    * one snapshot's changes WOULD be silently discarded, so fail loudly
    * instead (serialize maintenance; this is Delta's concurrent-OPTIMIZE
    * conflict, not a data race we can merge).
    */
  private def rebaseLateDeltas(dest: Path, basis: Lakehouse.ReadBasis,
      fullV: Long): Unit = {
    var again = true
    while (again) {
      val late = versionDirs(dest)
        .filter { case (v, _) => v < fullV && !basis.committed(v) }
        .flatMap { case (v, p) => commitKind(p).map(full => (v, p, full)) }
      late.find(_._3).foreach { case (v, _, _) =>
        throw new IllegalStateException(
          s"full commit _v$fullV raced concurrent full commit _v$v " +
            s"(read basis ${basis.maxCommitted}) under $dest — one " +
            "rewrite's changes would be lost; serialize maintenance " +
            "jobs and re-run")
      }
      again = late.nonEmpty
      // Clone-pin guard (round-11 advice): a clone created between this
      // full's basis listing and this rebase pass may have PINNED a late
      // delta — deleting (rewrite branch) or renaming (append branch) a
      // pinned dir would break the clone's `srcDirs == pinned` contract
      // permanently, after shallowClone's own post-pin verify already
      // passed. Re-read the pin set each sweep and fail LOUDLY instead,
      // like the two-racing-fulls case — same single-maintainer caveat.
      val clonePinnedNow =
        if (late.isEmpty) Set.empty[Long]
        else Lakehouse.Protocol.clonePinned(fs, dest)
      late.find(t => clonePinnedNow(t._1)).foreach { case (v, _, _) =>
        throw new IllegalStateException(
          s"full commit _v$fullV raced a shallow clone that pinned " +
            s"late delta _v$v under $dest — rebasing would break the " +
            "clone's pinned snapshot; drop the clone or re-run the " +
            "maintenance job after it")
      }
      late.foreach { case (lv, p, _) =>
        val isRewrite =
          try fs.exists(new Path(p, Lakehouse.Protocol.MarkerRewrite))
          catch { case _: java.io.FileNotFoundException => false }
        val hasDv = !isRewrite &&
          (try fs.exists(new Path(p, Lakehouse.Protocol.DvDir))
           catch { case _: java.io.FileNotFoundException => false })
        if (hasDv) {
          // a late MERGE-ON-READ delta can NEVER be rebased: its
          // positional DV names files this full's snapshot replaced —
          // renamed above the full, the masks become no-ops
          // (resurrected deletes, duplicated post-image duplicates).
          // The delta committer's own post-marker conflict check
          // ([[commitMoRDelta]]) sees this full and SELF-ABORTS by
          // deleting its dir before acknowledging — so wait for that,
          // bounded; a delta that persists means its JVM died inside
          // the commit window (or a pre-conflict-detection writer) and
          // needs an operator, not a silent resurrection.
          if (!awaitSelfAbort(p)) throw new IllegalStateException(
            s"full commit _v$fullV raced merge-on-read delta _v$lv " +
              s"under $dest and the delta did not self-abort — its " +
              "positional deletion vector cannot be rebased above a " +
              "rewrite; remove or re-apply the delta and re-run")
        } else if (isRewrite) {
          // a late REWRITE delta ([[rewriteDeletes]]) carries no logical
          // rows — its survivors re-express data this full's snapshot
          // already read through the masks. Rebasing it would DUPLICATE
          // those rows above the full; the correct resolution is to
          // drop it (the rewrite side reaches the same verdict when it
          // sees our full — whoever looks first discards it).
          fs.delete(p, true)
        } else {
          val m = claimVersion(dest)
          val target = new Path(dest, s"$VersionPrefix$m")
          // losing the rename race (source gone) is fine: the appender's
          // own ensureAboveFulls moved it — already live above some full
          if (tryRename(p, target)) ensureAboveFulls(dest, target)
        }
      }
    }
    // UPPER-side audit (defense in depth for the intent TTL corner): a
    // committed mask-bearing delta ABOVE fullV whose recorded basis
    // does not contain fullV never saw this snapshot — its positional
    // masks name files the rewrite replaced, and being above the full
    // it is served as live while masking nothing (resurrected deletes);
    // a REWRITE above fullV likewise re-expresses pre-full bytes the
    // snapshot already carries (duplicated rows). The intent protocol
    // prevents both (such a writer claimed after our intent and
    // self-aborts); reaching here means the intent went stale (a
    // >TTL-slow full) or the writer's post-check hasn't run yet.
    // A delta without a basis file predates basis recording: assume the
    // marker-based checks covered it (legacy behavior, not a new risk).
    versionDirs(dest).foreach { case (v, p) =>
      if (v > fullV && commitKind(p).contains(false)) {
        val isRewrite =
          try fs.exists(new Path(p, Lakehouse.Protocol.MarkerRewrite))
          catch { case _: java.io.FileNotFoundException => false }
        val hasDv = isRewrite ||
          (try fs.exists(new Path(p, Lakehouse.Protocol.DvDir))
           catch { case _: java.io.FileNotFoundException => false })
        if (hasDv) Lakehouse.Protocol.readBasisFile(fs, p).foreach { b =>
          if (!b.contains(fullV)) {
            if (isRewrite) {
              // dropping a rewrite is ALWAYS safe (no logical rows) and
              // is the resolution BOTH sides agree on — same verdict
              // its own racedBy check reaches when it sees our full
              fs.delete(p, true)
            } else {
              // the delta's own post-marker check sees our committed
              // full and self-aborts — it has not ACKNOWLEDGED until
              // that check passes, so wait for it (same bounded wait as
              // the lower-side loop) instead of paging an operator for
              // a self-healing race; a delta that persists means its
              // JVM died inside the commit window
              if (!awaitSelfAbort(p)) throw new IllegalStateException(
                s"full commit _v$fullV raced merge-on-read delta _v$v " +
                  s"whose read basis (max ${b.maxOption.getOrElse(-1L)}) " +
                  "predates the rewrite and it did not self-abort — its " +
                  "deletion vector names replaced files; restore the " +
                  "table to a version before the full or re-apply the " +
                  "delta")
            }
          }
        }
      }
    }
  }

  /** Zone maps: one row per data file with min/max of `statsCols`,
    * written INSIDE the version dir before its commit marker (stats are
    * part of the version payload — a crash between data and stats leaves
    * an uncommitted, invisible version). The manifest is the file-level
    * analogue of parquet's row-group statistics: [[readBetween]] prunes
    * whole files at plan time, before any footer is opened — at 100 TB
    * that's the difference between listing a manifest and scheduling a
    * task per file.
    */
  /** FOOTER-DERIVED zone maps (storage.FooterStats): min/max/null counts
    * decoded from the parquet metadata the write already produced — no
    * second pass over the data. At 100 TB this is the difference between
    * a footer open per file and re-reading the commit; per-commit it
    * also removes one whole Spark job. False = some file's footer stats
    * are missing or unproven — the caller drops to the scan path
    * wholesale (a wrong zone map silently loses rows; a slow one never
    * does).
    */
  private def writeFooterStats(vdir: String, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil): Boolean = {
    // derived bucket-id stats (`_gbk<n>_<col>`) have no footer column
    // to decode from — the scan-based path computes them
    if (statsCols.exists(c =>
      graft.sources.PartSpec.bucketOfStatName(c).isDefined)) return false
    val conf = spark.sparkContext.hadoopConfiguration
    val files = listDataFilesIn(new Path(vdir)).map(_.getPath)
    if (files.isEmpty) return false
    // blooms come from the SAME footers: parquet built its split-block
    // filters during the write (append sets the per-column writer
    // option), so the manifest step copies bitsets out of metadata —
    // the second data pass the scan path needed is gone for blooms too
    val blooms: Map[String, Map[String, Array[Byte]]] =
      if (bloomCols.isEmpty) Map.empty
      else FooterStats.collectBlooms(fs, conf, files, bloomCols) match {
        case None => return false
        case Some(b) => b
      }
    val (stats, types) =
      if (statsCols.isEmpty) (Seq.empty[FooterStats.FileStats], Nil)
      else FooterStats.collect(fs, conf, files, statsCols) match {
        case None => return false
        case Some(st) => st
      }
    // per-file ROW COUNTS ride the manifest (`rows`): the commit side
    // has every footer open right here, so the V2 scan's resolve never
    // re-opens them — at 1M files that removes the last O(#files)
    // plan-time RPC term (VERDICT r7 task 1a). Bloom-only commits get
    // counts from a dedicated footer pass (still commit-time).
    val rowsByFile: Map[String, Long] =
      if (stats.nonEmpty) stats.map(fst => fst.name -> fst.rows).toMap
      else FooterStats.rowCounts(fs, conf, files) match {
        case None => return false
        case Some(m) => m
      }
    import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField}
    val mSchema = StructType(StructField("file", StringType) +:
      StructField("rows", LongType) +:
      (types.flatMap { case (c, dt) => Seq(
        StructField(s"min_$c", dt), StructField(s"max_$c", dt),
        StructField(s"nulls_$c", LongType)) } ++
        bloomCols.map(c => StructField(s"bloom_$c", BinaryType)))
        .toIndexedSeq)
    val statsByFile = stats.map(fst => fst.name -> fst).toMap
    val rows: Seq[Row] = files.map { f =>
      val n = f.getName
      Row.fromSeq(n +: rowsByFile(n) +:
        (types.flatMap { case (c, _) =>
          val (mn, mx, nl) = statsByFile(n).cols(c); Seq(mn, mx, nl) } ++
          bloomCols.map(c => blooms(n)(c))))
    }
    // DRIVER-SIDE manifest write (no Spark job — the manifest is one
    // small file and a job costs ~150 ms of scheduler latency on every
    // commit); unproven shapes fall back to the Spark write
    if (!FooterStats.writeManifestFile(conf, new Path(s"$vdir/$StatsDir"),
        mSchema, rows)) {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(rows.asJava, mSchema).coalesce(1)
        .write.mode("overwrite").parquet(s"$vdir/$StatsDir")
    }
    true
  }

  private def writeStats(vdir: String, statsCols: Seq[String],
      bloomCols: Seq[String] = Nil): Unit =
    // footers first: stats decode from write-time metadata, blooms copy
    // parquet's own SBBFs; ANY gap falls the whole commit back to the
    // scan path (which builds Spark-sketch blooms — the probe
    // distinguishes the two blob formats per cell)
    if (statsCols.isEmpty && bloomCols.isEmpty) {
      // no stats configured: still persist a (file, rows) manifest —
      // driver-side, metadata-cost — so the V2 scan's resolve never
      // opens data-file footers for ANY graft table, not just
      // stats-covered ones (plan time must be O(#commits), never
      // O(#files), at 100 TB). Failure to decode a footer just skips
      // the manifest (resolve falls back to its own footer open).
      val conf = spark.sparkContext.hadoopConfiguration
      val files = listDataFilesIn(new Path(vdir)).map(_.getPath)
      if (files.nonEmpty)
        FooterStats.rowCounts(fs, conf, files).foreach { counts =>
          import org.apache.spark.sql.types.{LongType, StringType, StructField}
          val mSchema = StructType(Seq(StructField("file", StringType),
            StructField("rows", LongType)))
          FooterStats.writeManifestFile(conf,
            new Path(s"$vdir/$StatsDir"), mSchema,
            files.map(f => Row(f.getName, counts(f.getName))))
        }
    } else if ((statsCols.nonEmpty || bloomCols.nonEmpty) &&
      writeFooterStats(vdir, statsCols, bloomCols))
      Lakehouse.lastStatsFromFooters = true // test observability only
    else if (statsCols.nonEmpty || bloomCols.nonEmpty) {
      Lakehouse.lastStatsFromFooters = false
      // nulls_<c> backs the V2 scan's storage-partitioned-join proof
      // (a file is only "keyed" when min == max AND no row is null —
      // min/max alone are silent about nulls); costs nothing extra on
      // the same pruned pass
      // `rows` first (same manifest contract as the footer path): the
      // per-file count the scan's resolve serves instead of a footer open
      // `_gbk<n>_<col>` markers are DERIVED stats columns: the bucket
      // id of a bucket-partitioned table, computed from the raw column
      // with the same expression the write path routed by — a keyed
      // file then proves min == max on it and the scan reports the
      // bucket-grouped layout (PartSpec)
      def statExpr(c: String): org.apache.spark.sql.Column =
        graft.sources.PartSpec.bucketOfStatName(c) match {
          case Some(b) =>
            pmod(hash(col(b.col)), lit(b.n)).cast("int")
          case None => col(c)
        }
      val aggs = count(lit(1L)).as("rows") +: (statsCols.flatMap(c =>
        Seq(min(statExpr(c)).as(s"min_$c"), max(statExpr(c)).as(s"max_$c"),
          sum(when(statExpr(c).isNull, 1L).otherwise(0L))
            .as(s"nulls_$c"))) ++
        // per-file bloom filters (`graft.bloomColumns`): point-lookup
        // file skipping on columns the table is NOT clustered by —
        // min/max over an unsorted high-cardinality column spans the
        // domain and prunes nothing; a 50 KB bloom per file answers
        // `col = v` with no false negatives. Built with Spark's own
        // BloomFilterAggregate over xxhash64(col) — the exact pair the
        // runtime-filter machinery uses, probed driver-side at plan
        // time (LakehouseBatch.skipFiles).
        bloomCols.map { c =>
          import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
          import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
          org.apache.spark.sql.GraftColumnBridge.toColumn(
            new BloomFilterAggregate(
              new XxHash64(Seq(
                org.apache.spark.sql.GraftColumnBridge.toExpr(col(c)))),
              Literal(Lakehouse.BloomItems),
              Literal(Lakehouse.BloomBits)).toAggregateExpression())
            .as(s"bloom_$c")
        })
      // the extra pass reads ONLY the stats columns (column pruning on
      // the just-written, page-cache-warm parquet) — not a full re-read.
      // Extracting the same ranges from the parquet footers would avoid
      // even that, at the cost of hand-decoding typed statistics; the
      // pruned scan is the simpler trade at these column counts.
      // Keyed by file NAME (unique within a version dir), not absolute
      // path: the dir must stay relocatable — a staged CTAS/RTAS
      // generation is published by RENAME, and path-keyed rows would
      // silently orphan every zone map at publish.
      spark.read.parquet(vdir)
        .groupBy(substring_index(input_file_name(), "/", -1).as("file"))
        .agg(aggs.head, aggs.tail: _*)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$vdir/$StatsDir")
    }

  /** Crash-safe append: the batch lands as a committed DELTA version, so a
    * failure mid-write can never expose partial part-files to readers
    * (plain `mode("append")` into a shared dir would). `statsCols` adds a
    * zone-map manifest for [[readBetween]] pruning.
    */
  def append(name: String, df: DataFrame,
      beforeCommit: () => Unit = () => (),
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): Unit = {
    val vdir = writeVersion(name, MarkerDelta, beforeCommit) { p =>
      Lakehouse.withBloomOptions(df.write.mode("overwrite"), bloomCols)
        .parquet(p)
      writeStats(p, statsCols, bloomCols)
    }
    ensureAboveFulls(new Path(tablePath(name)), vdir)
  }

  /** Idempotent crash-safe append for streaming foreachBatch sinks: the
    * commit marker carries the micro-batch id, so a batch replayed after a
    * failure (foreachBatch's at-least-once contract) is recognized as
    * already committed and skipped — net effect: exactly-once appends into
    * the lakehouse, built from the same single-file commit point.
    *
    * Concurrency contract: the already-committed check is check-then-act,
    * so dedup assumes ONE writer per (table, batchId) at a time — exactly
    * what Structured Streaming guarantees (a query's batches are
    * sequential, and a restarted query resumes AFTER its predecessor
    * died). Writers of DIFFERENT batch ids race safely via the CAS
    * version claims like any other append.
    */
  def appendExactlyOnce(name: String, df: DataFrame, batchId: Long): Unit = {
    val dest = new Path(tablePath(name))
    val marker = s"${MarkerDelta}_b$batchId"
    val already = versionDirs(dest).exists { case (_, p) =>
      fs.exists(new Path(p, marker)) ||
        fs.exists(new Path(p, s"$SeenPrefix$batchId"))
    }
    if (!already) {
      val vdir = writeVersion(name, marker, () => ()) { p =>
        df.write.mode("overwrite").parquet(p)
        // (file, rows) manifest so V2 reads of streaming-fed catalog
        // tables plan without per-file footer opens (driver-side, ~ms)
        writeStats(p, Nil)
      }
      ensureAboveFulls(dest, vdir)
    }
  }

  /** Commit PRE-WRITTEN data files (executor-side staged parquet, the
    * V2 streaming write's task outputs) as one exactly-once DELTA: the
    * same batch-id marker dedup as [[appendExactlyOnce]], but the data
    * was already written by the tasks — the commit only RENAMES the
    * staged files into the claimed version dir (metadata-sized, no
    * data IO on the driver). A replayed epoch (at-least-once upstream)
    * is recognized as committed and its staged files are discarded.
    */
  def commitStagedFilesExactlyOnce(name: String, files: Seq[String],
      batchId: Long): Unit = {
    val dest = new Path(tablePath(name))
    val marker = s"${MarkerDelta}_b$batchId"
    val already = versionDirs(dest).exists { case (_, p) =>
      fs.exists(new Path(p, marker)) ||
        fs.exists(new Path(p, s"$SeenPrefix$batchId"))
    }
    if (already) {
      files.foreach(f => fs.delete(new Path(f), false))
      return
    }
    val vdir = writeVersion(name, marker, () => ()) { p =>
      val vpath = new Path(p)
      fs.mkdirs(vpath)
      files.foreach { f =>
        val src = new Path(f)
        require(fs.rename(src, new Path(vpath, src.getName)),
          s"staged-file move failed: $f")
      }
    }
    ensureAboveFulls(dest, vdir)
  }

  /** Crash-safe append with day partitioning (fact table). */
  def appendPartitionedByDay(name: String, df: DataFrame, tsCol: String): Unit = {
    val vdir = writeVersion(name, MarkerDelta, () => ()) { p =>
      df.withColumn("trans_dt_day", to_date(col(tsCol)))
        .write.mode("overwrite").partitionBy("trans_dt_day").parquet(p)
      distinctFileNames(p)
    }
    ensureAboveFulls(new Path(tablePath(name)), vdir)
  }

  /** Spark's partitioned writer restarts its file counter in each
    * partition dir, so one task writing several days leaves the SAME
    * file name in each of them. A deletion vector names its data file
    * by that bare name: renames every repeat (`<n>-<name>`), so each
    * name in the uncommitted root `p` is unique.
    */
  private def distinctFileNames(p: String): Unit =
    listDataFilesIn(new Path(p)).map(_.getPath).groupBy(_.getName).values
      .foreach(_.zipWithIndex.tail.foreach { case (f, i) =>
        require(fs.rename(f, new Path(f.getParent, s"$i-${f.getName}")),
          s"data-file rename failed: $f")
      })

  /** Crash-safe snapshot replace: a committed FULL version shadows every
    * older version and any pre-versioning top-level files, which are then
    * garbage-collected (post-commit; a crash there leaves shadowed dirs
    * the next full commit removes). The snapshot computation may read the
    * table being replaced — the old versions' files are untouched until
    * after the commit.
    */
  def overwrite(name: String, df: DataFrame,
      beforeCommit: () => Unit = () => ()): Unit =
    overwritePartitioned(name, df, Nil, beforeCommit)

  /** [[overwrite]] with a physical partitioning for the new snapshot
    * (compaction of the day-partitioned fact must not flatten it — the
    * partition column exists only as directory structure, so an
    * unpartitioned rewrite would read it back as NULL everywhere and
    * break every lookback filter).
    *
    * @param readBasis the snapshot provenance — the committed version
    *   set (from the ONE listing) the snapshot `df` was resolved
    *   against; maintenance ops (delete/compact) capture it WITH their
    *   read ([[readWithBasis]]). Committed dirs outside the set are
    *   rebased above the new full post-commit, never GC'd (see
    *   [[rebaseLateDeltas]] and the class doc's concurrency contract).
    *   None = a blind snapshot replace: the basis defaults to the
    *   committed set at entry, so appends racing even a plain overwrite
    *   land on top of the new snapshot instead of vanishing — Delta's
    *   append-vs-overwrite serialization order.
    */
  def overwritePartitioned(name: String, df: DataFrame,
      partitionCols: Seq[String],
      beforeCommit: () => Unit = () => (),
      statsCols: Seq[String] = Nil,
      readBasis: Option[Lakehouse.ReadBasis] = None,
      changeData: Option[DataFrame] = None,
      bloomCols: Seq[String] = Nil): Unit = {
    val dest = new Path(tablePath(name))
    val older = versionDirs(dest)
    // commit kinds resolved AT ENTRY: rebaseLateDeltas below renames
    // late dirs away, so a post-rebase commitKind on `older` would hit
    // missing paths
    val committedOlder = older.flatMap { case (v, p) =>
      commitKind(p).map(full => (v, p, full))
    }
    val basis = readBasis.getOrElse(Lakehouse.ReadBasis(
      committedOlder.map(_._1).maxOption.getOrElse(0L),
      committedOlder.map(_._1).toSet))
    // PRE-MARKER late-DV check: a merge-on-read delta that committed
    // after the basis listing but BEFORE this full's intent existed is
    // acknowledged and will never self-abort — committing this full
    // would silently void its positional masks. Detected here the full
    // aborts CLEANLY (its dir is still uncommitted and invisible; the
    // intent is dropped by writeVersion's failure path) instead of
    // throwing after a durable marker with the delta already shadowed.
    // Deltas that claimed AFTER our intent self-abort on seeing it, so
    // wait briefly before giving up on each.
    def lateDvDeltas(): Seq[Long] = versionDirs(dest)
      .filter { case (v, p) =>
        !basis.committed(v) && commitKind(p).contains(false) &&
          !(try fs.exists(new Path(p, Lakehouse.Protocol.MarkerRewrite))
            catch { case _: java.io.FileNotFoundException => false }) &&
          (try fs.exists(new Path(p, Lakehouse.Protocol.DvDir))
           catch { case _: java.io.FileNotFoundException => false })
      }.map(_._1)
    val preMarkerCheck: () => Unit = () => {
      val waitMs = spark.conf.getOption("spark.graft.fullRaceWaitMs")
        .map(_.toLong).getOrElse(10000L)
      val start = System.nanoTime()
      val deadline = start + waitMs * 1000 * 1000
      var late = lateDvDeltas()
      val waited = late.nonEmpty
      while (late.nonEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100L)
        late = lateDvDeltas()
      }
      if (waited) ProtocolTelemetry.record("fullRaceWait",
        (System.nanoTime() - start) / 1000000L, timedOut = late.nonEmpty)
      if (late.nonEmpty) throw new java.util.ConcurrentModificationException(
        s"full commit on $name raced acknowledged merge-on-read " +
          s"delta(s) ${late.map(v => s"_v$v").mkString(", ")} (read " +
          s"basis ${basis.maxCommitted}) — their deletion vectors name " +
          "files this snapshot replaces; re-run the maintenance job " +
          "against the new snapshot")
      beforeCommit()
    }
    val vdir = writeVersion(name, MarkerFull, preMarkerCheck,
      intentBasis = Some(basis)) { p =>
      val w = Lakehouse.withBloomOptions(df.write.mode("overwrite"),
        bloomCols)
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(p)
      if (partitionCols.nonEmpty) distinctFileNames(p)
      writeStats(p, statsCols, bloomCols)
      // the COMMITTED full records its basis too: a racing delta whose
      // post-check finds this full already committed (marker landed,
      // intent gone) proves "was I folded?" from the dir instead of
      // spuriously self-aborting and telling its caller to re-apply
      Lakehouse.Protocol.writeBasis(fs, new Path(p), basis)
      // change-data files land INSIDE the uncommitted version dir: the
      // feed is part of the commit payload (see [[changeFeed]]); an empty
      // frame still writes a dir — "this rewrite changed no rows"
      // (compaction) is a positive statement, distinct from "no feed
      // recorded" (a blind overwrite)
      changeData.foreach(_.write.mode("overwrite").parquet(s"$p/$CdfDir"))
      // carry exactly-once batch markers out of the dirs this commit
      // shadows (a streaming batch replayed after compaction must still
      // be recognized). Part of the PAYLOAD, before the marker: writing
      // them post-commit bumped the dir's mtime after the
      // auto-checkpoint recorded it, permanently failing the
      // checkpoint-facts identity check for the newest full of every
      // streaming-fed table. A dir already renamed away by a racing
      // self-rebase keeps its own marker.
      val seen = older.flatMap { case (_, op) =>
        if (!fs.exists(op)) Nil
        else fs.listStatus(op).map(_.getPath.getName).collect {
          case n if n.startsWith(s"${MarkerDelta}_b") =>
            n.stripPrefix(s"${MarkerDelta}_b")
          case n if n.startsWith(SeenPrefix) => n.stripPrefix(SeenPrefix)
        }
      }.distinct
      seen.foreach(id =>
        commitIo.commitMarker(new Path(p, s"$SeenPrefix$id")))
    }
    val fullV = vdir.getName.drop(VersionPrefix.length).toLong
    // conflict resolution BEFORE GC: late-committed deltas move above the
    // full (their dirs must still exist when we look)
    rebaseLateDeltas(dest, basis, fullV)
    // GC with retention: keep the newest `retainSnapshots` superseded FULL
    // commits plus every committed version at-or-after the oldest retained
    // full (the deltas those snapshots' readAt chains need). ONLY dirs in
    // the read basis's committed SET are candidates — exactly the
    // versions whose content the snapshot (or its retention history)
    // accounts for. Anything else is a concurrent writer: committed
    // outside the set → rebased, uncommitted → possibly a slow in-flight
    // append that will self-rebase on commit; genuine crash debris is
    // [[vacuum]]'s job, under its modification-time grace. (Set
    // membership, not `v <= maxCommitted`: a delta claiming a low number
    // early and committing late sits below the max without ever being
    // readable by the snapshot — GC'ing it lost racing appends until
    // StressCommit caught it.) With no superseded full yet but retention
    // on, the pre-full state (committed deltas + any pre-versioning
    // top-level files) IS the previous snapshot — keep it whole or
    // readAt would silently resolve a delta-only chain.
    val retainedFulls = committedOlder.filter(_._3).sortBy(-_._1)
      .take(retainSnapshots)
    val keepPreVersioningBase =
      retainSnapshots > 0 && committedOlder.forall(!_._3)
    val keep: Set[String] =
      if (keepPreVersioningBase) committedOlder.map(_._2.getName).toSet
      else retainedFulls.map(_._1).minOption match {
        case Some(cutoff) =>
          committedOlder.filter(_._1 >= cutoff).map(_._2.getName).toSet
        case None => Set.empty
      }
    // grace horizon: dirs a concurrent reader may still be scanning
    // (resolved dataPaths before this commit) survive until [[vacuum]]
    val horizon = System.currentTimeMillis() - gcGraceMs
    def oldEnough(p: Path): Boolean =
      fs.exists(p) &&
        (gcGraceMs == 0L || fs.getFileStatus(p).getModificationTime <= horizon)
    // clone safety, both directions: (a) a CLONE's full commit must
    // never delete SOURCE dirs its listing unioned in — only dirs
    // directly under THIS table move or die; (b) versions a live clone
    // of THIS table pins stay alive until the clone is dropped.
    val destPathStr = fs.makeQualified(dest).toUri.getPath
    def localDir(p: Path): Boolean = p.getParent != null &&
      p.getParent.toUri.getPath == destPathStr
    val clonePins = Lakehouse.Protocol.clonePinned(fs, dest)
    committedOlder.foreach { case (v, p, _) =>
      if (basis.committed(v) && !keep(p.getName) && localDir(p) &&
        !clonePins(v) && oldEnough(p))
        fs.delete(p, true)
    }
    if (!keepPreVersioningBase)
      fs.listStatus(dest).foreach { st =>
        val n = st.getPath.getName
        if (n != vdir.getName && !n.startsWith("_") && !n.startsWith(".") &&
          !n.startsWith(VersionPrefix) && oldEnough(st.getPath))
          fs.delete(st.getPath, true)
      }
    gcClaims(dest, keepBelow = versionDirs(dest).map(_._1).toSet)
  }

  /** Drop claim files numbered below the current max ON-DISK version dir.
    * A claim's only job is arbitration at allocation time; once a HIGHER
    * version dir exists, allocation monotonicity is carried by that dir
    * (next = max(dirs, claims) + 1), so every lower claim — dir present
    * or not — is pure metadata clutter and safe to drop even under an
    * in-flight writer (its number can never be re-issued while a higher
    * dir exists). Dropping claims whose dirs still exist is what keeps an
    * append-only table from accumulating one claim file per append
    * forever, growing every listStatus.
    */
  private def gcClaims(dest: Path, keepBelow: Set[Long]): Unit = {
    val maxDir = keepBelow.maxOption.getOrElse(0L)
    claimedVersions(dest)
      .filter(_ < maxDir)
      .foreach(v => fs.delete(new Path(dest, s"$ClaimPrefix$v"), false))
  }

  /** Row-level DELETE (the takedown/opt-out path an LLM training-data
    * pipeline needs as a first-class operator): copy-on-write FULL commit
    * of the surviving rows — physical partitioning preserved, zone maps
    * rewritten when `statsCols` is passed, crash-safe through the same
    * marker protocol as every commit, versioned so `readAt` (with
    * `retainSnapshots` > 0) still reaches the pre-delete snapshot for
    * audit while the live read serves only survivors.
    *
    * Copy-on-write is the right 100-TB default for bulk/compliance
    * deletes (the whole-table rewrite is one partition-parallel job and
    * leaves scans merge-free); high-frequency point deletes would want a
    * merge-on-read deletion-vector design instead — a different trade,
    * out of scope.
    */
  def delete(name: String, predicate: org.apache.spark.sql.Column,
      statsCols: Seq[String] = Nil,
      beforeCommit: () => Unit = () => (),
      cdf: Boolean = false): Unit = {
    val schema = Schemas.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name"))
    // physical partition columns (fact's trans_dt_day) survive the
    // rewrite as partition structure, exactly as in compact
    deleteImpl(name, readSchema(name, schema), schema.fieldNames.toSeq,
      predicate, statsCols, beforeCommit, cdf)
  }

  /** [[delete]] for versioned tables OUTSIDE the registered DWH model —
    * the caller-supplied contract schema plays the registry's role
    * (unpartitioned tables, like the schema-explicit [[compact]] and
    * [[merge]]).
    */
  def delete(name: String, schema: StructType,
      predicate: org.apache.spark.sql.Column, cdf: Boolean): Unit =
    delete(name, schema, predicate, cdf, Nil)

  /** [[delete]] (schema-explicit) that re-establishes a range-clustered
    * layout: the surviving rows re-cluster on `clusterCols` with their
    * zone maps rewritten, so partitioned catalog tables keep their
    * pruning through row-level DML.
    */
  def delete(name: String, schema: StructType,
      predicate: org.apache.spark.sql.Column, cdf: Boolean,
      clusterCols: Seq[String]): Unit =
    deleteImpl(name, schema, schema.fieldNames.toSeq, predicate,
      clusterStatNames(clusterCols), () => (), cdf, clusterCols)

  /** `clusterCols` entries on the rewrite paths are RENDERED partition
    * specs — a plain name (identity) or `bucket(n,col)`. Parsing here
    * lets a copy-on-write DELETE/UPDATE/MERGE re-route survivors by the
    * same bucket transform the INSERT path uses, so a bucket table's
    * storage-partitioned-join report SURVIVES row-level DML instead of
    * declining until the next insert/compact (the round-9 known limit).
    */
  private def clusterSpecsOf(renders: Seq[String])
      : Seq[graft.sources.PartSpec] =
    renders.map(graft.sources.PartSpec.parse)

  private def clusterFrame(df: DataFrame,
      renders: Seq[String]): DataFrame =
    Clustering.bySpecs(spark, df, clusterSpecsOf(renders))

  /** Zone-map stats for a clustered rewrite: identity columns by name,
    * bucket specs as their derived `_gbk<n>_<col>` column — the exact
    * mapping the INSERT path records, so the scan's key proof holds
    * across DML.
    */
  private def clusterStatNames(renders: Seq[String]): Seq[String] =
    graft.sources.PartSpec.statNames(clusterSpecsOf(renders))

  private def deleteImpl(name: String, full: StructType,
      contractCols: Seq[String], predicate: org.apache.spark.sql.Column,
      statsCols: Seq[String], beforeCommit: () => Unit,
      cdf: Boolean, clusterCols: Seq[String] = Nil): Unit = {
    val partCols = full.fieldNames.toSeq.diff(contractCols)
    // snapshot + read basis from ONE listing: deltas committing past this
    // point are not in `surviving` and get rebased post-commit
    val (raw, basis) =
      if (exists(name)) readRootsWithBasis(name, full)
      else (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], full),
        Lakehouse.ReadBasis(0L, Set.empty))
    val hit = coalesce(predicate.cast("boolean"), lit(false))
    // null predicate rows survive: DELETE removes rows WHERE the
    // predicate IS TRUE, the SQL contract (NULL is not TRUE)
    val surviving = raw.filter(!hit)
    // opt-in write-time CDC (Delta's enableChangeDataFeed): the removed
    // rows — the complement branch of the SAME snapshot read — recorded
    // inside the commit for [[changeFeed]] consumers. Costs one extra
    // scan restricted to the deleted subset, paid only when asked for.
    val removed =
      if (cdf) Some(raw.filter(hit)
        .select(contractCols.map(col).toIndexedSeq: _*)
        .withColumn(ChangeTypeCol, lit("delete")))
      else None
    // a key-clustered table's rewrite re-establishes the layout its
    // INSERT path maintains (zone-map partition pruning AND the
    // storage-partitioned-join key report must survive row-level DML,
    // not decay until the next compact)
    val out =
      if (clusterCols.isEmpty) surviving
      else clusterFrame(surviving, clusterCols)
    overwritePartitioned(name, out, partCols, beforeCommit,
      statsCols = statsCols, readBasis = Some(basis), changeData = removed)
  }

  /** Copy-on-write UPDATE — SQL `UPDATE t SET c = expr WHERE pred` as
    * ONE crash-safe FULL commit through the same conflict-detected
    * protocol as [[delete]] (an append racing the update is rebased
    * above it; two racing rewrites fail loudly). Rows where `predicate`
    * IS TRUE get each assignment applied (assignments may reference
    * other columns — all RHS evaluate against the PRE-update row, the
    * SQL standard's simultaneous-assignment rule, which falls out of a
    * single `select` over the snapshot); NULL/false-predicate rows pass
    * through byte-identical. Assignment values are cast to the contract
    * column types (INSERT coercion — an UPDATE must not fork the
    * physical schema mid-chain).
    *
    * Scale shape: one full scan + rewrite, no shuffle (the CASE WHEN
    * projection is codegen'd into the scan), plus one extra scan
    * restricted to the hit subset when `cdf = true` records
    * update_preimage/update_postimage rows for [[changeFeed]]. Right
    * for bulk backfills; high-frequency point updates want
    * [[deleteByKeys]]-style merge-on-read instead (same trade as
    * delete's doc).
    */
  def update(name: String, schema: StructType,
      predicate: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      cdf: Boolean = false,
      beforeCommit: () => Unit = () => (),
      clusterCols: Seq[String] = Nil,
      rowCheck: Option[org.apache.spark.sql.Column] = None): Unit = {
    require(assignments.nonEmpty, "UPDATE needs at least one assignment")
    assignments.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"assigned column $c is not a column of $name") }
    require(assignments.map(_._1).distinct.size == assignments.size,
      "duplicate assignment targets")
    val (raw, basis) =
      if (exists(name)) readRootsWithBasis(name, schema)
      else (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema),
        Lakehouse.ReadBasis(0L, Set.empty))
    val hit = coalesce(predicate.cast("boolean"), lit(false))
    val assignMap = assignments.toMap
    def applied(df: DataFrame, cond: org.apache.spark.sql.Column) =
      df.select(schema.fields.toIndexedSeq.map { f =>
        assignMap.get(f.name) match {
          case Some(v) =>
            when(cond, v.cast(f.dataType)).otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      }: _*)
    // enforced CHECK constraints validate the post-state single-pass:
    // the guard is an assert-backed filter that keeps every row and
    // throws on the first violation (the caller builds it — see
    // GraftDml.checkGuard), so a violating UPDATE aborts before any
    // commit instead of landing bad rows
    val out = rowCheck.foldLeft(applied(raw, hit))((df, g) => df.filter(g))
    val changes =
      if (!cdf) None
      else {
        val pre = raw.filter(hit)
          .withColumn(ChangeTypeCol, lit("update_preimage"))
        val post = applied(raw.filter(hit), lit(true))
          .withColumn(ChangeTypeCol, lit("update_postimage"))
        Some(pre.unionByName(post))
      }
    // same clustering contract as deleteImpl (see there)
    val clustered =
      if (clusterCols.isEmpty) out
      else clusterFrame(out, clusterCols)
    overwritePartitioned(name, clustered, Nil, beforeCommit,
      statsCols = clusterStatNames(clusterCols), readBasis = Some(basis),
      changeData = changes)
  }

  /** Merge-on-read POINT DELETE (Iceberg v2's equality deletes): the key
    * rows land as a tombstone set inside one committed DELTA — an O(keys)
    * metadata-sized write, no table rewrite — and every read masks
    * matching rows of EARLIER versions via a broadcast anti-join, while a
    * key re-inserted after its delete survives (the sequence-number
    * rule; a tombstone rebased above a racing FULL commit likewise masks
    * the snapshot that couldn't see it — both writers' effects compose).
    * The standing [[compact]] materializes the masks and retires the
    * tombstones, bounding read-time join depth.
    *
    * This is the high-frequency complement to [[delete]]'s copy-on-write:
    * per-takedown cost drops from O(table) to O(keys), read cost gains
    * one broadcast anti-join per outstanding tombstone set until the next
    * compaction — exactly Delta/Iceberg's deletion-vector trade, keyed on
    * values instead of row positions (position vectors need a stable
    * row-id scheme; equality deletes don't, and the takedown workload is
    * naturally keyed).
    *
    * Key columns = the tombstone frame's columns (must be a subset of the
    * contract; values are coerced to contract types and deduplicated).
    * Feed semantics: [[changesBetween]] refuses a tombstone delta (it is
    * not an append); [[changeFeed]] and the streaming source's CDF mode
    * serve the keys as `delete` records with non-key columns null — the
    * standard delete-by-key CDC shape.
    */
  def deleteByKeys(name: String, keys: DataFrame,
      beforeCommit: () => Unit = () => ()): Unit = {
    val schema = Schemas.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name"))
    deleteByKeys(name, schema, keys, beforeCommit)
  }

  /** [[deleteByKeys]] with an explicit contract schema (unregistered
    * tables).
    */
  def deleteByKeys(name: String, schema: StructType, keys: DataFrame,
      beforeCommit: () => Unit): Unit = {
    require(keys.columns.nonEmpty, "deleteByKeys needs key columns")
    keys.columns.foreach(c => require(schema.fieldNames.contains(c),
      s"tombstone key $c is not a column of $name"))
    // eq-del key sets load through the scalar row decoder — a STRUCT
    // key refuses here rather than mis-masking at read time
    keys.columns.foreach(c => require(!schema(c).dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType],
      s"tombstone key $c is a struct — equality deletes key on " +
        "scalar columns"))
    val conformed = keys
      .select(keys.columns.toIndexedSeq.map(c =>
        col(c).cast(schema(c).dataType).as(c)): _*)
      .distinct()
    val dest = new Path(tablePath(name))
    // per-file MATCHED counts (the `_dv_counts` pattern): one pruned
    // scan of the key columns through the EXISTING masks, so COUNT(*)
    // stays pushed with tombstones outstanding — count = Σ(rows − dv −
    // eq-matched) stays exact because every later mask reads through
    // this one (disjoint sets by construction). Live lower files with
    // zero matches get explicit 0 rows: at read time an ABSENT entry
    // means "unknown" (a rebase moved the tombstone above a rewrite)
    // and the pushdown declines rather than under-counting.
    // `spark.graft.eqDelCounts=false` restores the metadata-only
    // commit (and COUNT falls back to the scan, the pre-round-9 rule).
    val counted: Option[(Seq[(String, Long)], Lakehouse.ReadBasis)] =
      if (!spark.conf.getOption("spark.graft.eqDelCounts")
        .forall(_.toBoolean)) None
      else if (!exists(name)) Some((Nil,
        Lakehouse.ReadBasis(0L, Set.empty)))
      else {
        val ctx = maskedCtx(name)
        val masked = readMaskedWithPosOn(ctx, schema)
        val keyCols = keys.columns.toSeq
        val matched = masked
          .select((Lakehouse.FileCol +: keyCols).map(col): _*)
          .join(conformed, keyCols, "left_semi")
          .groupBy(col(Lakehouse.FileCol)).count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val allLive = ctx.live.flatMap(_.files)
          .map(_._1.getPath.getName)
        Some((allLive.map(n => n -> matched.getOrElse(n, 0L)), ctx.basis))
      }
    val vdir = writeVersion(name, MarkerDelta, beforeCommit) { p =>
      // a data-less delta: the tombstones are the whole payload, hidden
      // under the underscore dir so plain scans of the version see no rows
      conformed.write.mode("overwrite").parquet(s"$p/$EqDelDir")
      counted.foreach { case (cs, cBasis) =>
        val out = fs.create(new Path(s"$p/$EqDelDir",
          Lakehouse.Protocol.EqDelCountsFile), true)
        try out.write(cs.map { case (n, c) => s"$n\t$c" }
          .mkString("\n").getBytes("UTF-8"))
        finally out.close()
        // counts are only pairwise-sound against other masks recorded
        // from a basis that saw this one (or vice versa) — the scan's
        // pushdown gate proves that from the recorded basis
        Lakehouse.Protocol.writeBasis(fs, new Path(p), cBasis)
      }
    }
    val finalDir = ensureAboveFulls(dest, vdir)
    // a committed REWRITE delta ABOVE this tombstone re-expressed files
    // the value masks must keep covering: its survivors sit at a higher
    // version and escape the version-ordered mask (a rewrite BELOW us is
    // always fine — our masks cover its survivors). Claims are
    // monotonic, so any such rewrite claimed after us and its basis
    // cannot contain this tombstone; self-abort BEFORE acknowledging
    // (the caller re-runs against the new snapshot). The rewrite's own
    // post-check drops ITSELF when it sees us first — the two
    // post-marker checks each run after their own marker, so a racing
    // pair cannot both miss (the required interleaving is cyclic).
    val myV = finalDir.getName.drop(VersionPrefix.length).toLong
    val rewriteAbove = versionDirs(dest).find { case (v, p) =>
      v > myV && (try fs.exists(
        new Path(p, Lakehouse.Protocol.MarkerRewrite))
      catch { case _: java.io.FileNotFoundException => false })
    }
    rewriteAbove.foreach { case (v, _) =>
      fs.delete(finalDir, true)
      throw new java.util.ConcurrentModificationException(
        s"deleteByKeys on $name raced rewrite commit _v$v — the " +
          "rewrite's survivors would escape this tombstone; re-run " +
          "the delete against the new snapshot")
    }
  }

  /** Merge-on-read row-level DELETE via DELETION VECTORS — the
    * Delta/Iceberg-v3 positional-tombstone shape: instead of rewriting
    * surviving rows ([[delete]]'s copy-on-write), the matching rows'
    * (file, row-index) identities land as a data-less DELTA commit
    * (`_GRAFT_DV`), masked out by every reader ([[scan]] for
    * this class's scans and compaction, the V2 batch scan natively).
    * At 100 TB this turns a predicate delete from a table rewrite into
    * a metadata-sized commit; the next compaction MATERIALIZES the
    * vectors (its snapshot read is already masked) and drops them.
    *
    * Sequencing follows the equality-delete rule: the DV masks only
    * files in LOWER versions — rows appended after the delete can never
    * be masked by it. Rows with a NULL predicate survive (the SQL
    * DELETE contract). The identity pass reads only the predicate's
    * columns plus parquet metadata; the DV itself is
    * deleted-row-count-sized.
    */
  def deleteRowsMoR(name: String, schema: StructType,
      predicate: org.apache.spark.sql.Column,
      beforeCommit: () => Unit = () => ()): Unit = {
    require(exists(name), s"no such table: $name")
    // identity pass through the EXISTING masks: a position already dead
    // (earlier DV or eq-del tombstone) never re-enters a new vector, so
    // the per-file `_dv_counts` sums stay exact — the invariant the
    // COUNT(*) metadata pushdown depends on. The data-less delta commits
    // through [[commitMoRDelta]] (no post-images), which also gives the
    // DELETE the same FULL-rewrite conflict detection as UPDATE/MERGE.
    val ctx = maskedCtx(name)
    val masked = readMaskedWithPosOn(ctx, schema)
    val hit = coalesce(predicate.cast("boolean"), lit(false))
    val dv = masked.filter(hit)
      .select(col(Lakehouse.FileCol).as("file"),
        col(Lakehouse.PosCol).as("pos"))
    commitMoRDelta(name, dv, None, Nil, beforeCommit, ctx.basis,
      extremesSchema = Some(schema), morCtx = Some(ctx))
  }

  /** Merge-on-read UPDATE — the Iceberg MoR-update shape, ONE atomic
    * DELTA commit carrying both halves: the matched rows' POSITIONS as
    * a deletion vector (masking their pre-images in lower versions) and
    * their POST-IMAGES as this version's data files. The sequence rule
    * makes it correct with zero reader changes: a DV at version v masks
    * only files in LOWER versions, so the post-images written at v
    * itself escape their own commit's masks — exactly an update. A
    * crash anywhere in the window leaves an invisible uncommitted dir:
    * readers never see the delete without the insert or vice versa.
    *
    * Matched rows are read through the EXISTING masks (eq-del +
    * DV-survives, the same per-file filters [[scan]] applies):
    * updating an already-deleted row must not resurrect it as a
    * post-image. Rows with a NULL predicate are not matched (the SQL
    * UPDATE contract). Cost is a masked scan plus writes sized by the
    * MATCHED rows — never a table rewrite (that is [[update]], the
    * copy-on-write flavor).
    */
  def updateRowsMoR(name: String, schema: StructType,
      predicate: org.apache.spark.sql.Column,
      assignments: Seq[(String, org.apache.spark.sql.Column)],
      beforeCommit: () => Unit = () => (),
      statsCols: Seq[String] = Nil,
      clusterCols: Seq[String] = Nil,
      rowCheck: Option[org.apache.spark.sql.Column] = None): Unit = {
    require(exists(name), s"no such table: $name")
    assignments.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"UPDATE SET names unknown column $c of $name")
    }
    val ctx = maskedCtx(name)
    val maskedAll = readMaskedWithPosOn(ctx, schema)
    val hitPred = coalesce(predicate.cast("boolean"), lit(false))
    val matched = maskedAll.filter(hitPred)
    val updated0 = rowCheck.foldLeft(assignments.foldLeft(matched) {
      case (df, (c, e)) => df.withColumn(c, e)
    }.select(schema.fieldNames.map(col).toIndexedSeq: _*))(
      (df, g) => df.filter(g)) // CHECK guard: see update()
    // PARTITIONED BY tables keep the one-file-per-key clustering (and
    // its zone maps) on the post-image delta — same contract as the
    // INSERT path and the MoR MERGE branch
    val updated =
      if (clusterCols.isEmpty) updated0
      else clusterFrame(updated0, clusterCols)
    commitMoRDelta(name,
      matched.select(col(Lakehouse.FileCol).as("file"),
        col(Lakehouse.PosCol).as("pos")),
      Some(updated),
      if (clusterCols.nonEmpty) clusterStatNames(clusterCols)
      else statsCols,
      beforeCommit, ctx.basis,
      extremesSchema = Some(schema), morCtx = Some(ctx))
  }

  /** The LIVE rows of a table (every mask applied — eq-del tombstones
    * and DV survivorship, the same per-file filters [[scan]] uses)
    * with each row's PHYSICAL identity as extra columns
    * ([[Lakehouse.FileCol]], [[Lakehouse.PosCol]]) — what a
    * merge-on-read mutation needs to name its pre-images positionally.
    */
  private[graft] def readMaskedWithPos(name: String,
      schema: StructType): DataFrame =
    readMaskedWithPosBasis(name, schema)._1

  /** [[readMaskedWithPos]] plus the read basis of the SAME listing —
    * what a merge-on-read mutation hands [[commitMoRDelta]] so a FULL
    * commit racing the DML is detected instead of silently voiding the
    * delta's positional masks.
    */
  private[graft] def readMaskedWithPosBasis(name: String,
      schema: StructType,
      onlyFiles: Option[Set[String]] = None)
      : (DataFrame, Lakehouse.ReadBasis) = {
    val ctx = maskedCtx(name)
    (readMaskedWithPosOn(ctx, schema, onlyFiles), ctx.basis)
  }

  /** Resolve ONE masked-read context (live roots + their listing +
    * basis + tombstone and DV indexes) for a merge-on-read mutation to
    * share across its passes — the matched scan AND the post-mask
    * extremes scan read the same snapshot without paying the listing
    * walk twice (a duplicated resolve measured as a 1.4-2× regression
    * across the MoR DML pack).
    */
  private[graft] def maskedCtx(name: String): Lakehouse.MaskedCtx = {
    val (roots, basis) = liveRootsAndBasis(name)
    ctxOver(roots, basis)
  }

  /** [[readMaskedWithPosBasis]] over an already-resolved context — the
    * one-relation [[scan]] plus the two identity columns, zero listings.
    * `onlyFiles` (the DV-extremes pass) narrows the scan to the named
    * files.
    */
  private[graft] def readMaskedWithPosOn(ctx: Lakehouse.MaskedCtx,
      schema: StructType,
      onlyFiles: Option[Set[String]] = None): DataFrame = {
    require(!schema.fieldNames.contains(Lakehouse.FileCol) &&
      !schema.fieldNames.contains(Lakehouse.PosCol),
      s"reserved column name collision: ${Lakehouse.FileCol}/" +
        s"${Lakehouse.PosCol}")
    scan(ctx, schema, withPos = true,
      onlyFiles.fold((_: Path) => true)(names => p => names(p.getName)))
  }

  /** ONE atomic merge-on-read delta: `masks` (file STRING, pos BIGINT —
    * pre-image positions, typically from [[readMaskedWithPos]]) land as
    * this version's deletion vector and `newRows` (when present) as its
    * data files. The sequence rule keeps the new files outside their
    * own commit's masks, so readers serve exactly delete(pre-images) ∪
    * insert(newRows) with zero changes — the primitive under MoR
    * DELETE, UPDATE and MERGE. A crash anywhere leaves an invisible
    * uncommitted dir, never one half.
    *
    * CONFLICT DETECTION (basis-based, like the CoW path): a positional
    * DV is only valid against the exact files its snapshot read — a
    * FULL commit (compact / z-order / CoW rewrite) replacing them
    * would turn the masks into no-ops: resurrected deletes, duplicated
    * updates. Any committed FULL outside `basis` therefore ABORTS the
    * delta. Checked twice: immediately before the marker (clean abort
    * — the dir is uncommitted and invisible) and again after it (a
    * full's marker can land inside the first check's window; the
    * post-check self-deletes the just-committed dir before this call
    * ever acknowledges it, and the full committer's
    * [[rebaseLateDeltas]] waits for exactly that self-abort). A full
    * INSIDE the basis is always below our claimed version, so
    * `ensureAboveFulls` is obsolete here — and renaming a DV delta
    * above a full is precisely the corruption this protocol prevents.
    */
  private[graft] def commitMoRDelta(name: String, masks: DataFrame,
      newRows: Option[DataFrame], statsCols: Seq[String],
      beforeCommit: () => Unit,
      basis: Lakehouse.ReadBasis,
      extremesSchema: Option[StructType] = None,
      morCtx: Option[Lakehouse.MaskedCtx] = None,
      masksCollected: Option[Seq[(String, Long)]] = None): Unit = {
    val dest = new Path(tablePath(name))
    // Conflicts, all "outside the basis" (the snapshot this delta's
    // positional masks derive from):
    //  - a COMMITTED FULL: its snapshot replaced the files the DV names;
    //  - a COMMITTED REWRITE delta ([[rewriteDeletes]]): its survivors
    //    re-express those files under new names the DV cannot mask;
    //  - a FRESH FULL INTENT (root file, see FullIntentPrefix) for an
    //    uncommitted — or mid-write ABSENT — version: an in-flight
    //    full/compaction whose marker may land after this delta's
    //    post-check, the window both marker-based checks used to miss
    //    (v_delta > fullV ordering). Claims are monotonic, so the intent
    //    exists before any delta that could land above the full even
    //    claims; freshness (max of the intent file's and the version
    //    dir's mtime within spark.graft.fullIntentTtlMs — payload
    //    writes keep bumping the dir) stops crashed-full debris from
    //    blocking DML forever.
    // POST-marker runs pass this delta's own committed version: a
    // racer (committed full/rewrite, or in-flight intent) whose
    // RECORDED basis contains it has FOLDED this delta's masks — the
    // delta is correctly applied and must NOT self-abort (aborting
    // would delete masks the racer materialized while telling the
    // caller to re-apply them: a double-applied UPDATE on retry, the
    // corruption StressRace exposed). An absent/torn basis reads as
    // "contains nothing" — conservative, this side yields.
    def conflictingFull(selfV: Option[Long]): Option[Long] = {
      val ttl = spark.conf.getOption("spark.graft.fullIntentTtlMs")
        .map(_.toLong).getOrElse(600000L)
      val now = System.currentTimeMillis()
      val listing = try fs.listStatus(dest).toSeq
        catch { case _: java.io.FileNotFoundException => Seq.empty }
      val dirs = Lakehouse.Protocol.versionDirStatusesOf(listing)
      val intents = Lakehouse.Protocol.fullIntents(listing)
      def foldedUs(b: Option[Set[Long]]): Boolean =
        selfV.exists(v => b.exists(_.contains(v)))
      dirs.sortBy(_._1).find { case (v, st) =>
        !basis.committed(v) && (commitKind(st.getPath) match {
          case Some(true) =>
            !foldedUs(Lakehouse.Protocol.readBasisFile(fs, st.getPath))
          case Some(false) =>
            (try fs.exists(
              new Path(st.getPath, Lakehouse.Protocol.MarkerRewrite))
            catch { case _: java.io.FileNotFoundException => false }) &&
              !foldedUs(
                Lakehouse.Protocol.readBasisFile(fs, st.getPath))
          case None => intents.get(v).exists(mt =>
            now - math.max(mt, st.getModificationTime) < ttl) &&
            !foldedUs(
              Lakehouse.Protocol.readFullIntentBasis(fs, dest, v))
        })
      }.map(_._1).orElse {
        // an intent whose version dir is momentarily ABSENT: the
        // snapshot write's delete-and-recreate window — still in flight
        intents.collect { case (v, mt)
          if !basis.committed(v) && !dirs.exists(_._1 == v) &&
            now - mt < ttl &&
            !foldedUs(
              Lakehouse.Protocol.readFullIntentBasis(fs, dest, v)) => v
        }.minOption
      }
    }
    def abort(v: Long, vdir: Option[Path]): Nothing = {
      vdir.foreach(fs.delete(_, true))
      throw new java.util.ConcurrentModificationException(
        s"merge-on-read delta on $name raced FULL/REWRITE commit _v$v " +
          s"(read basis ${basis.maxCommitted}): the delta's deletion " +
          "vector names files the rewrite replaced (or is about to " +
          "replace) — re-run the DML against the new snapshot")
    }
    val vdir = writeVersion(name, MarkerDelta, () => {
      beforeCommit()
      // pre-marker: not yet committed, so no racer's basis can contain
      // us — any fresh conflict aborts
      conflictingFull(selfV = None).foreach(v => abort(v, None))
    }) { p =>
      newRows.foreach { rows =>
        rows.write.mode("overwrite").parquet(p)
        writeStats(p, statsCols)
      }
      val dvDir = s"$p/${Lakehouse.Protocol.DvDir}"
      // SMALL vectors (≤ spark.graft.dvDriverWriteMax positions — the
      // common DML shape) write entirely DRIVER-SIDE: the audit parquet
      // through the manifest writer and the sidecars + counts directly,
      // replacing two Spark jobs (~30 committer fs ops plus their
      // scheduling wall) with a handful of creates. The probe is a
      // LIMIT collect — for an over-limit vector it stops at max+1 rows
      // and the executor-side path re-evaluates `masks` (unbounded
      // scale, positions never transit the driver).
      val maxDriver = spark.conf.getOption("spark.graft.dvDriverWriteMax")
        .map(_.toInt).getOrElse(1 << 16)
      // a caller that already holds the (file, pos) pairs (the SCD
      // loads — their change frame is cached and probed for emptiness
      // anyway) skips the probe job entirely
      val probed: Seq[(String, Long)] = masksCollected.getOrElse {
        if (maxDriver <= 0) null
        else masks.select(col("file").cast("string"), col("pos").cast("long"))
          .limit(maxDriver + 1).collect().toSeq
          .map(r => (r.getString(0), r.getLong(1)))
      }
      if (probed != null && probed.length <= maxDriver) {
        val pairs = probed
        import org.apache.spark.sql.types.{LongType, StringType, StructField}
        val mSchema = StructType(Seq(StructField("file", StringType),
          StructField("pos", LongType)))
        if (!FooterStats.writeManifestFile(
            spark.sparkContext.hadoopConfiguration, new Path(dvDir),
            mSchema, pairs.map(t => Row(t._1, t._2))))
          masks.select(col("file"), col("pos"))
            .write.mode("overwrite").parquet(dvDir)
        DvSidecar.writeSidecarsDriverSide(fs, new Path(dvDir), pairs)
      } else {
        masks.select(col("file"), col("pos"))
          .write.mode("overwrite").parquet(dvDir)
        DvSidecar.writeSidecars(spark.read.parquet(dvDir), dvDir)
      }
      // the masks' read basis rides the commit: the scan's pushdown
      // gate proves pairwise mask disjointness from it, and the full
      // committer's rebase check detects a DV that landed above a full
      // it never saw (see [[Lakehouse.Protocol.BasisFile]])
      Lakehouse.Protocol.writeBasis(fs, new Path(p), basis)
      // post-mask extremes, BOUNDED BY THE DELETE and CALLER-FREE:
      // survivors = the affected files' rows through the EXISTING
      // masks, minus THIS commit's masks — which is the same statement
      // for DELETE, UPDATE and MERGE, so it derives here from the
      // just-written sidecars instead of per-caller closures. Affected
      // names come from the sidecar INDEX (one fs listing, zero Spark
      // jobs — re-evaluating `masks` would re-run the whole matched
      // scan, measured 2× on the MoR-update benchmark); the read scans
      // ONLY those files (explicit-path), never the table; the new
      // sidecars themselves supply the minus term (DvSurvives — the
      // commit is still uncommitted, so the plain masked read cannot
      // see it yet).
      // spark.graft.dvExtremes=false opts a write-heavy / compact-soon
      // table out entirely: MIN/MAX pushdown declines under its DVs
      // (never wrong, only slower) and each DML saves the survivors
      // pass — the containment lever for commit-protocol-bound DML.
      // Independently, a table with NO min/max zone-map manifest can
      // never serve the pushdown (coveredCols is empty with or without
      // extremes), so recording them is pure per-DML waste — skipped.
      val wantExtremes = spark.conf
        .getOption("spark.graft.dvExtremes").forall(_.toBoolean) &&
        morCtx.forall(c => anyMinMaxManifest(c.roots))
      if (wantExtremes) extremesSchema.foreach { sch =>
        val idx = DvSidecar.index(fs, new Path(dvDir))
        if (idx.nonEmpty) {
          // the caller's resolved context (when given) makes this pass
          // listing-free: same snapshot as the matched scan, only the
          // affected files' explicit paths are opened
          val base = morCtx match {
            case Some(c) => readMaskedWithPosOn(c, sch, Some(idx.keySet))
            case None => readMaskedWithPosBasis(name, sch,
              Some(idx.keySet))._1
          }
          val survivors = base
            .filter(graft.functions.DvSurvives(
              col(Lakehouse.FileCol), col(Lakehouse.PosCol),
              idx.map { case (n, sp) => n -> Seq(sp) }))
          writeDvExtremes(survivors, idx.keySet.toSeq.sorted, dvDir)
        }
      }
    }
    conflictingFull(selfV = Some(
      vdir.getName.drop(VersionPrefix.length).toLong))
      .foreach(v => abort(v, Some(vdir)))
  }

  /** Does any live root's zone-map manifest carry min_/max_ columns?
    * One manifest-footer schema read per root (driver-side,
    * tail-bounded — no data IO, no Spark job). Decides whether a MoR
    * mutation records post-mask extremes at all: with no min/max
    * manifest anywhere, the MIN/MAX pushdown can never fire
    * (coveredCols stays empty), so the extremes pass would burn one
    * Spark job per DML for nothing. Unknown shapes answer true — the
    * pass is only ever skipped when provably useless.
    */
  private def anyMinMaxManifest(roots: Seq[String]): Boolean =
    roots.exists { r =>
      try {
        val sp = new Path(r, StatsDir)
        fs.exists(sp) && fs.listStatus(sp).toSeq.map(_.getPath)
          .find(_.getName.endsWith(".parquet")).exists { f =>
            import scala.jdk.CollectionConverters._
            val pr = FooterStats.openReader(f,
              spark.sparkContext.hadoopConfiguration)
            try pr.getFileMetaData.getSchema.getFields.asScala
              .exists(_.getName.startsWith("min_"))
            finally pr.close()
          }
      } catch { case scala.util.control.NonFatal(_) => true }
    }

  /** POST-MASK extremes of the files this DV commit touches
    * (`_GRAFT_DV/_extremes`, one row per affected file): min/max per
    * zone-mappable column over the rows that SURVIVE every mask up to
    * and including this commit's. They make MIN/MAX aggregate pushdown
    * sound with deletion vectors outstanding — without them a masked
    * row could be the zone-map extreme, so any DV declined the
    * pushdown wholesale. An all-dead file gets a null-extremes row
    * (nothing survives: prunable, contributes nothing to a fold),
    * exactly the all-null-file convention of the stats manifests. The
    * V2 scan also PRUNES with these rows — post-delete ranges are
    * never wider than the manifest's, and later masks only shrink
    * them, so substituting the newest extremes is always conservative.
    * Best-effort: an unsupported shape writes nothing and the pushdown
    * simply declines (never wrong, only slower).
    */
  private def writeDvExtremes(survivors: DataFrame,
      affectedNames: Seq[String], dvDir: String): Unit =
    try {
      val fileC = Lakehouse.FileCol
      val dataCols = survivors.schema.fields.toSeq
        .filterNot(f =>
          f.name == Lakehouse.FileCol || f.name == Lakehouse.PosCol)
        .filter(f => MetaCheckpoint.tagOf(f.dataType).isDefined)
      if (dataCols.isEmpty) return
      val aggs = dataCols.flatMap(f => Seq(
        min(col(f.name)).as(s"min_${f.name}"),
        max(col(f.name)).as(s"max_${f.name}")))
      // `survivors` is already restricted to the affected files at the
      // source; collect is O(#affected files) — the dv index's own size
      val perFile = survivors
        .groupBy(col(fileC).as("file"))
        .agg(aggs.head, aggs.tail: _*)
        .collect().map(r => r.getString(0) -> r).toMap
      val schema = org.apache.spark.sql.types.StructType(
        org.apache.spark.sql.types.StructField("file",
          org.apache.spark.sql.types.StringType) +:
          dataCols.flatMap(f => Seq(
            org.apache.spark.sql.types.StructField(s"min_${f.name}",
              f.dataType),
            org.apache.spark.sql.types.StructField(s"max_${f.name}",
              f.dataType))))
      // an ALL-DEAD affected file still gets a row (null extremes =
      // nothing survives: prunable, contributes nothing to folds)
      val rows = affectedNames.map { n =>
        perFile.getOrElse(n, org.apache.spark.sql.Row.fromSeq(
          n +: Seq.fill(dataCols.length * 2)(null)))
      }
      FooterStats.writeManifestFile(
        spark.sparkContext.hadoopConfiguration,
        new Path(s"$dvDir/${Lakehouse.Protocol.DvExtremesDir}"),
        schema, rows)
      ()
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Data-file walk of one root (underscore dirs invisible, recursive). */
  private def listDataFilesIn(root: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (st.isDirectory) walk(st.getPath)
        else if (n.endsWith(".parquet")) out += st
      }
    }
    if (fs.exists(root)) walk(root)
    out.result()
  }

  /** PARTIAL compaction driven by delete density — Iceberg's
    * `rewrite_data_files` with a delete-file threshold, the maintenance
    * shape a 100 TB merge-on-read table actually runs: rewriting the
    * whole table to clear 1% of deletes re-pays 100 TB of IO, but a file
    * that is 60% tombstones taxes every read with masked scanning.
    * `rewriteDeletes` rewrites ONLY the data files whose deleted
    * fraction reaches `threshold`, in ONE crash-safe commit:
    *
    *  - SURVIVORS of the selected files land as this version's data
    *    files (read through the same mask semantics as any reader — DV
    *    runs plus eq-del tombstones with version > the file's root, so
    *    a rewrite also FOLDS applicable equality deletes into physical
    *    form for the files it touches);
    *  - the ORIGINALS get whole-file DV masks in the same commit (one
    *    36-byte run each — [[DvSidecar.writeWholeFileSidecars]]), so
    *    every existing reader is correct with ZERO changes: the
    *    sequence rule (a DV at version v masks lower-version roots)
    *    already hides them, and survivors at THIS version escape both
    *    the new masks and any older tombstone — exactly right, because
    *    those were applied during the rewrite;
    *  - [[Lakehouse.Protocol.RewrittenList]] names the replaced files so
    *    the V2 scan can skip them at PLAN time (zero tasks, zero IO)
    *    rather than scanning fully-masked bytes.
    *
    * Storage is reclaimed later (replaced files stay for time travel
    * until the next full commit's retention GC) — the rewrite buys READ
    * cost, the same split as Iceberg's rewrite vs expire-snapshots.
    *
    * Selection uses sidecar HEADERS plus one footer open per candidate
    * (metadata-sized; overlapping DV commits can overcount a file's
    * deleted total, which at worst rewrites a file slightly below the
    * threshold — never a correctness issue).
    *
    * Concurrency: a rewrite changes no logical rows, so unlike an
    * append it must NOT self-rebase above a racing FULL commit (its
    * survivors would duplicate rows the snapshot already carries).
    * Both halves of the protocol agree a raced rewrite is DISCARDED:
    * [[rebaseLateDeltas]] deletes (not renames) late rewrite deltas,
    * and this side drops its own commit when a full landed above it.
    *
    * Returns the replaced file names (empty = nothing crossed the
    * threshold; the commit is skipped entirely).
    */
  def rewriteDeletes(name: String, schema: StructType, threshold: Double,
      statsCols: Seq[String] = Nil,
      beforeCommit: () => Unit = () => ()): Seq[String] = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1]: $threshold")
    rewriteImpl(name, schema, threshold, None, statsCols, Nil,
      beforeCommit)
  }

  /** Bin-packing small-file compaction as a REWRITE commit (never a
    * FULL): files under `smallBytes` fold into ~`targetBytes` outputs
    * (per partition key when `clusterSpecs` name the table's layout),
    * committed through the SAME masked-rewrite protocol as
    * [[rewriteDeletes]] — whole-file DV sidecars kill the originals,
    * survivors materialize through every mask above them, and the
    * full/mask race checks apply unchanged. At 100 TB this is the ONLY
    * affordable standing compaction: a FULL rewrite prices the whole
    * table, a pack prices exactly the small-file debt. Selected files
    * that also carry deletions fold their masks in for free.
    */
  def packSmallFiles(name: String, schema: StructType,
      smallBytes: Long, targetBytes: Long,
      statsCols: Seq[String] = Nil,
      clusterSpecs: Seq[String] = Nil,
      beforeCommit: () => Unit = () => ()): Seq[String] = {
    require(smallBytes > 0 && targetBytes >= smallBytes,
      s"need 0 < smallBytes <= targetBytes: $smallBytes/$targetBytes")
    rewriteImpl(name, schema, /* never triggers */ 2.0,
      Some((smallBytes, targetBytes)), statsCols, clusterSpecs,
      beforeCommit)
  }

  private def rewriteImpl(name: String, schema: StructType,
      threshold: Double, packing: Option[(Long, Long)],
      statsCols: Seq[String], clusterSpecs: Seq[String],
      beforeCommit: () => Unit): Seq[String] = {
    require(exists(name), s"no such table: $name")
    val dest = new Path(tablePath(name))
    val ctx = maskedCtx(name)
    val (roots, rwBasis, dvs) = (ctx.roots, ctx.basis, ctx.dvs)
    if (dvs.isEmpty && packing.isEmpty) return Nil
    // per-DV-commit deleted counts from the `_dv_counts` index (header
    // reads only for legacy commits) — the selection loop below must
    // not pay a per-sidecar RPC per candidate file
    val dvCounts: Map[Long, Map[String, Long]] = ctx.live.flatMap { l =>
      dvs.find(_._1 == l.v).map { case (v, idx) => v ->
        DvSidecar.deletedCounts(fs,
          new Path(l.root, Lakehouse.Protocol.DvDir), idx)
      }
    }.toMap
    val conf = spark.sparkContext.hadoopConfiguration
    // files an EARLIER rewrite already replaced never qualify again —
    // their whole-file masks would select them every run and produce
    // empty re-rewrites forever
    val alreadyRewritten: Seq[(Long, Set[String])] = roots.flatMap { r =>
      val f = new Path(r, Lakehouse.Protocol.RewrittenList)
      if (!fs.exists(f)) None
      else {
        val in = fs.open(f)
        try Some((rootVersion(r),
          scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).toSet))
        finally in.close()
      }
    }
    // per-file row counts from the roots' manifests (one driver-side
    // read per root); the footer open survives only for legacy
    // manifests without a `rows` column. A spec-clustered PACK pulls
    // the clustering-key proof (min == max, no nulls) from the SAME
    // manifest read — the convergence filter below needs to know which
    // selected files actually share a key.
    val clusterKeyStats: Seq[String] =
      if (packing.isDefined && clusterSpecs.nonEmpty)
        graft.sources.PartSpec.statNames(
          clusterSpecs.map(graft.sources.PartSpec.parse))
      else Nil
    val keepCols: Set[String] = Set("file", "rows") ++
      clusterKeyStats.flatMap(c =>
        Seq(s"min_$c", s"max_$c", s"nulls_$c"))
    def renderKeyPart(v: Any): String = v match {
      case b: Array[Byte] => b.map("%02x".format(_)).mkString
      case x => String.valueOf(x)
    }
    // fileName → proven clustering-key fingerprint (absent = unproven)
    def provenKeys(cols: Seq[String], rws: Seq[Row]): Map[String, String] =
      if (clusterKeyStats.isEmpty) Map.empty
      else {
        val fi = cols.indexOf("file"); val ri = cols.indexOf("rows")
        rws.flatMap { row =>
          if (fi < 0 || ri < 0 || row.isNullAt(ri)) None
          else {
            val rows = row.getLong(ri)
            val parts = clusterKeyStats.map { c =>
              val (mi, xi, ni) = (cols.indexOf(s"min_$c"),
                cols.indexOf(s"max_$c"), cols.indexOf(s"nulls_$c"))
              if (mi < 0 || xi < 0 || ni < 0 || row.isNullAt(ni)) None
              else {
                val nulls = row.getLong(ni)
                if (nulls == rows) Some("\u0000NULL")
                else if (nulls == 0L && !row.isNullAt(mi) &&
                  !row.isNullAt(xi) &&
                  renderKeyPart(row.get(mi)) == renderKeyPart(row.get(xi)))
                  Some(renderKeyPart(row.get(mi)))
                else None
              }
            }
            if (parts.forall(_.isDefined))
              Some(row.getString(fi) -> parts.flatten.mkString("\u0001"))
            else None
          }
        }.toMap
      }
    val manByRoot: Map[String, (Map[String, Long], Map[String, String])] =
      roots.map { r =>
        val sp = new Path(r, StatsDir)
        val parts =
          if (!fs.exists(sp)) Nil
          else fs.listStatus(sp).toSeq.map(_.getPath)
            .filter(_.getName.endsWith(".parquet")).map(_.toString)
        val m =
          if (parts.isEmpty) (Map.empty[String, Long], Map.empty[String, String])
          else FooterStats.readManifest(conf, parts,
            c => !keepCols(c)) match {
            case Some((cols, rws)) if cols.contains("rows") =>
              (rws.flatMap { row =>
                val ri = row.fieldIndex("rows")
                if (row.isNullAt(ri)) None
                else Some(row.getString(row.fieldIndex("file")) ->
                  row.getLong(ri))
              }.toMap, provenKeys(cols, rws))
            case _ => (Map.empty[String, Long], Map.empty[String, String])
          }
        r -> m
      }.toMap
    val rowsByRoot: Map[String, Map[String, Long]] =
      manByRoot.view.mapValues(_._1).toMap
    // (root, rootVersion, path, rows, bytes, foldsMasks) per candidate
    val candidates: Seq[(String, Long, Path, Long, Long, Boolean)] = for {
      l <- ctx.live
      (r, rv) = (l.root, l.v)
      (st, _) <- l.files
      if !alreadyRewritten.exists { case (w, names) =>
        w > rv && names(st.getPath.getName) }
      applicable = dvs.filter(_._1 > rv)
        .filter(_._2.contains(st.getPath.getName))
      small = packing.exists(st.getLen < _._1)
      if applicable.nonEmpty || small
      rows = rowsByRoot(r).getOrElse(st.getPath.getName, {
        val pr = FooterStats.openReader(st.getPath, conf)
        try pr.getRecordCount finally pr.close()
      })
      if rows > 0
      deleted = math.min(rows, applicable.map { case (w, _) =>
        dvCounts(w).getOrElse(st.getPath.getName, 0L)
      }.sum)
      if deleted >= threshold * rows || small
    } yield (r, rv, st.getPath, rows, st.getLen, deleted > 0L)
    // CONVERGENCE on spec-clustered packs: Clustering.bySpecs emits one
    // file per key, so a per-key output below smallBytes re-qualifies
    // on every run — a standing pack job would re-copy the selection
    // forever with zero consolidation. A small file whose PROVEN key no
    // other selected file shares cannot fold with anything: drop it
    // unless it carries masked rows to fold in (those don't re-select —
    // the rewrite's output escapes the masks). Unproven keys (legacy
    // manifests) fold once; their outputs come back keyed.
    val selected: Seq[(String, Long, Path, Long, Long)] = {
      val kept =
        if (clusterKeyStats.isEmpty) candidates
        else {
          def keyOf(t: (String, Long, Path, Long, Long, Boolean)) =
            manByRoot(t._1)._2.get(t._3.getName)
          val groupSize: Map[String, Int] = candidates.flatMap(keyOf)
            .groupBy(identity).view.mapValues(_.size).toMap
          candidates.filter { t =>
            t._6 || (keyOf(t) match {
              case Some(k) => groupSize(k) >= 2
              case None => true
            })
          }
        }
      kept.map(t => (t._1, t._2, t._3, t._4, t._5))
    }
    if (selected.isEmpty) return Nil
    // packing one lone small file into one file is a permanent no-op
    // loop (its replacement stays small and re-selects forever) —
    // require actual folding unless the file folds masks (whose
    // re-expression escapes them, so it never re-selects)
    if (packing.isDefined && selected.size < 2 &&
      !candidates.exists(t => t._6 && selected.exists(_._3 == t._3)))
      return Nil
    val survivors = scan(ctx, schema, keep = selected.map(_._3).toSet)
    val replaced = selected.map(_._3.getName)
    val outFiles = packing match {
      case Some((_, target)) =>
        math.max(1, math.ceil(
          selected.map(_._5).sum.toDouble / target).toInt)
      case None => math.max(1, selected.size / 2)
    }
    val vdir = writeVersion(name, Lakehouse.Protocol.MarkerRewrite,
      () => {
        beforeCommit()
        // pre-marker: an in-flight full (fresh root intent outside our
        // basis) is about to replace the very originals this rewrite
        // re-expresses — abort cleanly while still uncommitted; the
        // post-marker check below covers an intent that lands later
        freshFullIntentOutside(dest, rwBasis).foreach { v =>
          throw new java.util.ConcurrentModificationException(
            s"rewriteDeletes on $name raced in-flight full commit " +
              s"_v$v (read basis ${rwBasis.maxCommitted}) — re-run " +
              "after the compaction lands")
        }
      }) { p =>
      // survivor shaping: a PACK of a spec-clustered table re-routes
      // by the table's partition specs (the one-file-per-key / bucket
      // layout and its zone maps SURVIVE packing — the SPJ key proof
      // included); otherwise coalesce toward the byte target (pack)
      // or the masked remainder (deletes rewrite)
      val shaped =
        if (clusterSpecs.nonEmpty)
          Clustering.bySpecs(spark, survivors,
            clusterSpecs.map(graft.sources.PartSpec.parse),
            Clustering.DefaultMaxKeys)
        else survivors.coalesce(outFiles)
      shaped.write.mode("overwrite").parquet(p)
      writeStats(p,
        if (clusterSpecs.nonEmpty)
          graft.sources.PartSpec.statNames(
            clusterSpecs.map(graft.sources.PartSpec.parse))
        else statsCols)
      DvSidecar.writeWholeFileSidecars(fs,
        new Path(p, Lakehouse.Protocol.DvDir),
        selected.map(t => (t._3.getName, t._4)))
      val out = fs.create(
        new Path(p, Lakehouse.Protocol.RewrittenList), true)
      try out.write(replaced.mkString("\n").getBytes("UTF-8"))
      finally out.close()
      // the rewrite's read basis rides the commit like any mask-bearing
      // delta's: the scan's pairwise pushdown gate needs it (the
      // whole-file sidecars enter maskVersions — without a basis the
      // gate would decline COUNT/MIN-MAX forever after a rewrite), and
      // rebaseLateDeltas' upper-side audit uses it to recognize a
      // rewrite that landed above a full it never saw
      Lakehouse.Protocol.writeBasis(fs, new Path(p), rwBasis)
    }
    // raced by a FULL commit OUTSIDE our basis (above us, or claimed
    // below us by an in-flight compaction that commits late): the
    // snapshot read the originals through their masks, so this commit's
    // content is redundant — and above a full it would DUPLICATE rows
    // the snapshot already carries. Drop it (the full committer's
    // rebaseLateDeltas does the same if it sees us first; either way
    // the rewrite simply didn't happen).
    // Raced by a MASK delta (DV or equality-delete) committed OUTSIDE
    // our basis: the survivors were materialized without that mask —
    // a DV's positions name the originals (which the rewrite's
    // whole-file masks already kill) but never the survivor copies, so
    // keeping this commit would resurrect the deleted rows; a
    // value-based tombstone below our version likewise never masks the
    // higher-version survivors. Self-drop is always safe (a rewrite
    // carries no logical rows), and the mask committer's own post-check
    // aborts on seeing US committed outside ITS basis — each side's
    // post-marker check runs after its own marker, so at least one of
    // any racing pair always detects the other (the four orderings
    // cannot all interleave the checks before the markers).
    val myV = rootVersion(vdir.toString)
    // a racer whose recorded basis contains myV read THROUGH this
    // rewrite (mask deltas masked its survivors; a full folded them) —
    // benign, keep the commit; anything blind to us self-drops. ONE
    // root listing serves both the committed-racer scan and the
    // in-flight-intent probe (two listings could also classify a
    // commit landing between them against different snapshots).
    def foldedUs(p: Path): Boolean =
      Lakehouse.Protocol.readBasisFile(fs, p).exists(_.contains(myV))
    val listing = try fs.listStatus(dest).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val ttl = spark.conf.getOption("spark.graft.fullIntentTtlMs")
      .map(_.toLong).getOrElse(600000L)
    val now = System.currentTimeMillis()
    val dirSt = Lakehouse.Protocol.versionDirStatusesOf(listing)
    val racedBy = dirSt.exists { case (v, st) =>
      commitKind(st.getPath) match {
        case Some(true) => !rwBasis.committed(v) && !foldedUs(st.getPath)
        case Some(false) if v != myV && !rwBasis.committed(v) =>
          (try fs.exists(new Path(st.getPath,
            Lakehouse.Protocol.DvDir)) ||
            fs.exists(new Path(st.getPath, EqDelDir))
          catch { case _: java.io.FileNotFoundException => false }) &&
            !foldedUs(st.getPath)
        case _ => false
      }
    } || {
      val dirMt = dirSt.map { case (v, st) => v -> st }.toMap
      Lakehouse.Protocol.fullIntents(listing).exists { case (v, mt) =>
        !rwBasis.committed(v) &&
          !dirMt.get(v).exists(st => commitKind(st.getPath).isDefined) &&
          now - math.max(mt, dirMt.get(v)
            .map(_.getModificationTime).getOrElse(0L)) < ttl &&
          !Lakehouse.Protocol.readFullIntentBasis(fs, dest, v)
            .exists(_.contains(myV))
      }
    }
    if (racedBy) { fs.delete(vdir, true); return Nil }
    replaced
  }

  /** [[rewriteDeletes]] for registered tables (unpartitioned layouts —
    * the merge-on-read DV surface; a partitioned fact compacts through
    * [[compact]]).
    */
  def rewriteDeletes(name: String, threshold: Double): Seq[String] = {
    val schema = Schemas.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name"))
    require(readSchema(name, schema) == schema,
      s"rewriteDeletes does not support partitioned table $name")
    rewriteDeletes(name, schema, threshold)
  }

  /** MERGE INTO (upsert): source rows REPLACE the target rows sharing
    * their `keyCols` tuple (WHEN MATCHED THEN UPDATE SET *) and rows with
    * no match are appended (WHEN NOT MATCHED THEN INSERT *) — the
    * Delta/Iceberg merge shape a CDC-fed table needs as a first-class
    * operator, executed as ONE copy-on-write FULL commit through the same
    * crash-safe, conflict-detected protocol as [[delete]] (an append
    * racing the merge is rebased above it, two racing merges fail
    * loudly).
    *
    * Contract notes, all falsified by LakehouseSpec + the q64 oracle:
    *  - the source must be key-unique — two source rows matching one
    *    target row make the update order undefined, so it throws
    *    (Delta's `multipleSourceRowMatchingTargetRow` error) at the cost
    *    of one aggregate over the source (the small side of a merge);
    *  - source columns are cast to the table's contract types (INSERT
    *    coercion — a widened source decimal must not fork the physical
    *    schema mid-chain);
    *  - NULL keys never equal anything (SQL join semantics), so
    *    null-keyed source rows always INSERT.
    *
    * Scale shape: one equi-join of target vs source on the keys (a
    * CDC-batch-sized source broadcasts; AQE picks the strategy) plus the
    * whole-table rewrite — the copy-on-write trade as [[delete]], right
    * for bulk periodic upserts; high-frequency trickle updates would
    * want merge-on-read deletion vectors instead (out of scope, same
    * stance as delete's doc). `cdf = true` additionally records
    * update_preimage / update_postimage / insert rows for [[changeFeed]]
    * (Delta's CDC row types), each a key-join branch of the same
    * snapshot read.
    */
  def merge(name: String, source: DataFrame, keyCols: Seq[String],
      statsCols: Seq[String] = Nil, cdf: Boolean = false,
      beforeCommit: () => Unit = () => ()): Unit = {
    val schema = Schemas.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name"))
    mergeImpl(name, readSchema(name, schema), schema.fieldNames.toSeq,
      source, keyCols, statsCols, cdf, beforeCommit)
  }

  /** [[merge]] for versioned tables OUTSIDE the registered DWH model —
    * the caller-supplied contract schema plays the registry's role
    * (unpartitioned tables, like the schema-explicit [[compact]]).
    */
  def merge(name: String, schema: StructType, source: DataFrame,
      keyCols: Seq[String]): Unit =
    merge(name, schema, source, keyCols, cdf = false)

  def merge(name: String, schema: StructType, source: DataFrame,
      keyCols: Seq[String], cdf: Boolean): Unit =
    mergeImpl(name, schema, schema.fieldNames.toSeq, source, keyCols,
      Nil, cdf, () => ())

  private def mergeImpl(name: String, full: StructType,
      contractCols: Seq[String], source: DataFrame, keyCols: Seq[String],
      statsCols: Seq[String], cdf: Boolean,
      beforeCommit: () => Unit): Unit = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    keyCols.foreach(k => require(contractCols.contains(k),
      s"merge key $k is not a column of $name"))
    val partCols = full.fieldNames.toSeq.diff(contractCols)
    // the day-partitioned fact derives its partition column exactly as
    // appendPartitionedByDay does; any other partitioned layout must
    // carry its partition columns in the source
    val src0 =
      if (partCols == Seq("trans_dt_day") &&
        !source.columns.contains("trans_dt_day"))
        source.withColumn("trans_dt_day", to_date(col("trans_date")))
      else source
    partCols.foreach(c => require(src0.columns.contains(c),
      s"merge source must carry partition column $c"))
    // INSERT coercion: conform source columns to the contract types so a
    // type-widened source cannot fork the physical schema
    val src = src0.select(full.fields.toIndexedSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    // key-uniqueness: one aggregate over the source (the small side)
    val dup = src.groupBy(keyCols.map(col).toIndexedSeq: _*)
      .count().filter(col("count") > 1).limit(1).count()
    require(dup == 0L,
      s"merge source has duplicate ${keyCols.mkString(",")} tuples — " +
        "multiple source rows would match one target row")
    // snapshot + read basis from ONE listing (concurrency contract)
    val (target, basis) =
      if (exists(name)) readRootsWithBasis(name, full)
      else (spark.createDataFrame(spark.sparkContext.emptyRDD[Row], full),
        Lakehouse.ReadBasis(0L, Set.empty))
    val srcKeys = src.select(keyCols.map(col).toIndexedSeq: _*)
    val merged = target.join(srcKeys, keyCols, "left_anti")
      .unionByName(src)
    val changes =
      if (!cdf) None
      else {
        val contract = contractCols.map(col).toIndexedSeq
        val pre = target.join(srcKeys, keyCols, "left_semi")
          .select(contract: _*)
          .withColumn(ChangeTypeCol, lit("update_preimage"))
        val tgtKeys = target.select(keyCols.map(col).toIndexedSeq: _*)
        val post = src.join(tgtKeys, keyCols, "left_semi")
          .select(contract: _*)
          .withColumn(ChangeTypeCol, lit("update_postimage"))
        val ins = src.join(tgtKeys, keyCols, "left_anti")
          .select(contract: _*)
          .withColumn(ChangeTypeCol, lit("insert"))
        Some(pre.unionByName(post).unionByName(ins))
      }
    overwritePartitioned(name, merged, partCols, beforeCommit,
      statsCols = statsCols, readBasis = Some(basis),
      changeData = changes)
  }

  /** Row-level change feed across commit kinds — the CDC read path
    * ([[changesBetween]] is the append-only fast path; this one also
    * crosses FULL commits). For each committed version in
    * (fromVersion, toVersion]:
    *
    *  - a DELTA contributes its rows as `insert`;
    *  - a FULL commit carrying change-data files ([[delete]] /
    *    [[merge]] with `cdf = true`; [[compact]] / [[compactZOrder]],
    *    whose recorded feed is empty — a rewrite with no logical change)
    *    contributes exactly those recorded rows;
    *  - a FULL commit WITHOUT a recorded feed (blind [[overwrite]], or a
    *    delete/merge run with `cdf = false`) throws — the row-level
    *    changes were never recorded and reconstructing them by diffing
    *    snapshots would need both sides retained; never misreport.
    *
    * Output = contract columns + `_change_type` + `_commit_version`
    * (Delta's CDF read schema minus the timestamp). Version presence
    * checks mirror [[changesBetween]]: a GC'd version in the range
    * throws rather than silently yielding a gap.
    */
  def changeFeed(name: String, fromVersion: Long, toVersion: Long,
      schema: StructType): DataFrame = {
    require(fromVersion <= toVersion,
      s"fromVersion $fromVersion > toVersion $toVersion")
    val cdfSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(ChangeTypeCol,
        org.apache.spark.sql.types.StringType))
    val outCols = (schema.fieldNames.toSeq :+ ChangeTypeCol :+
      CommitVersionCol).map(col)
    val all = commitFactsListing(new Path(tablePath(name)))
    val present = all.map(_.v).toSet
    val latest = if (all.isEmpty) -1L else all.map(_.v).max
    require(toVersion <= latest,
      s"$name toVersion $toVersion exceeds latest version $latest")
    ((fromVersion + 1) to toVersion).foreach(v => require(present(v),
      s"$name version $v is not on disk (GC'd) — " +
        "the change feed would be incomplete"))
    val range = all
      .filter(d => d.v > fromVersion && d.v <= toVersion)
      .flatMap(d => d.kind.map(full => (d.v, d.path, full, d.detail)))
      // a REWRITE commit (rewriteDeletes) changes no logical rows: its
      // whole-file masks hide rows whose deletes were ALREADY emitted by
      // the DV/eq-del commits that motivated it, and its survivors are
      // moved bytes, not inserts — the feed emits nothing for it (the
      // same stance as compaction's recorded-empty change data)
      .filterNot(t => t._4.map(_.rewrite).getOrElse(
        fs.exists(new Path(t._2, Lakehouse.Protocol.MarkerRewrite))))
    // a commit's own data files as inserts: the sequence rule applies
    // none of its own masks to them, so the planner masks nothing
    def inserts(v: Long, p: Path): DataFrame =
      scan(ctxOver(Seq(p.toString), Lakehouse.ReadBasis(v, Set(v))), schema)
        .withColumn(ChangeTypeCol, lit("insert"))
        .withColumn(CommitVersionCol, lit(v))
        .select(outCols: _*)
    val parts = range.map {
      case (v, p, _, det) if det.map(_.dv).getOrElse(
          fs.exists(new Path(p, Lakehouse.Protocol.DvDir))) =>
        // a deletion-vector commit names rows by POSITION — the feed
        // resolves positions → PRE-IMAGE rows at feed time: read ONLY
        // the affected files (driver resolves their names from the DV
        // dir listing, metadata-sized), attach the (file, row-index)
        // identity, inner-join the tombstone frame. Cost is bounded by
        // the DV size plus a scan of the affected files — never the
        // table — and the emitted delete records carry full pre-image
        // values (richer than eq-del's key-only records), which is
        // what signed-aggregate MV folds need.
        val dvDir = new Path(p, Lakehouse.Protocol.DvDir)
        val affected = DvSidecar.index(fs, dvDir).keySet
        val paths = (all.filter(_.v < v).map(_.path) :+
          new Path(tablePath(name))).flatMap(listDataFilesIn)
          .map(_.getPath).filter(f => affected(f.getName))
          .map(_.toString).distinct
        val deletes =
          if (paths.isEmpty) // empty delete: no affected files, no rows
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
              .withColumn(ChangeTypeCol, lit("delete"))
              .withColumn(CommitVersionCol, lit(v))
              .select(outCols: _*)
          else {
            val dv = spark.read.parquet(dvDir.toString)
              .select(col("file").as("__dv_f"), col("pos").as("__dv_p"))
            spark.read.schema(schema)
              .parquet(paths: _*)
              .select(col("*"),
                substring_index(col("_metadata.file_path"), "/", -1)
                  .as("__dv_f"),
                col("_metadata.row_index").as("__dv_p"))
              .join(dv, Seq("__dv_f", "__dv_p"), "inner")
              .drop("__dv_f", "__dv_p")
              .withColumn(ChangeTypeCol, lit("delete"))
              .withColumn(CommitVersionCol, lit(v))
              .select(outCols: _*)
          }
        // a MIXED commit (updateRowsMoR) also carries data files: its
        // post-images emit as inserts — update-as-CDC is the standard
        // delete(pre-image) + insert(post-image) pair, which is what
        // signed-aggregate MV folds consume
        deletes.unionByName(inserts(v, p))
      case (v, p, false, det) if det.map(_.eqDel).getOrElse(
          fs.exists(new Path(p, EqDelDir))) =>
        // equality-delete tombstones: the standard delete-by-key CDC
        // record — key columns carry the values, the rest null
        val keys = spark.read.parquet(new Path(p, EqDelDir).toString)
        keys.select(schema.fields.toIndexedSeq.map(f =>
            (if (keys.columns.contains(f.name)) col(f.name)
             else lit(null).cast(f.dataType)).as(f.name)): _*)
          .withColumn(ChangeTypeCol, lit("delete"))
          .withColumn(CommitVersionCol, lit(v))
          .select(outCols: _*)
      case (v, p, false, _) => inserts(v, p)
      case (v, p, true, _) =>
        val cdfPath = new Path(p, CdfDir)
        require(fs.exists(cdfPath),
          s"$name version $v is a FULL commit without recorded change " +
            "data (blind overwrite, or delete/merge with cdf=false) — " +
            "no row-level feed across it")
        spark.read.schema(cdfSchema).parquet(cdfPath.toString)
          .withColumn(CommitVersionCol, lit(v))
          .select(outCols: _*)
    }
    if (parts.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
        StructType(cdfSchema.fields :+
          org.apache.spark.sql.types.StructField(CommitVersionCol,
            org.apache.spark.sql.types.LongType)))
    else parts.reduce(_ unionByName _)
  }

  /** [[changeFeed]] for registered tables. */
  def changeFeed(name: String, fromVersion: Long,
      toVersion: Long): DataFrame =
    changeFeed(name, fromVersion, toVersion,
      Schemas.byName.getOrElse(name,
        throw new IllegalArgumentException(s"unknown table: $name")))

  /** Deferred GC (the standing cleanup job for deployments with
    * `gcGraceMs` > 0): delete shadowed version dirs — committed versions
    * below the retention window, crash debris, pre-versioning files under
    * a full commit — that are older than `gcGraceMs`. Only versions
    * strictly BELOW the newest full commit are candidates: anything at or
    * above it is live chain or an in-flight append, never touched. A
    * delta-only table has nothing shadowed and vacuums to a claim-GC
    * no-op. Vacuum is the ONLY reclaimer of uncommitted dirs (full
    * commits leave them alone — they may be slow in-flight appends that
    * will self-rebase at commit), so `gcGraceMs` must exceed the longest
    * write job as well as the longest read — the same retention-vs-
    * in-flight-writer contract as Delta's VACUUM.
    */
  /** SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE src`): `dst`
    * becomes a zero-copy reference to `src`'s committed snapshot —
    * optionally pinned at `VERSION AS OF asOf`. No data bytes move:
    * the clone's root carries a [[Lakehouse.Protocol.CloneFile]]
    * naming the source and the pinned committed-version set, and every
    * resolver unions those dirs with the clone's own
    * ([[Lakehouse.Protocol.versionDirStatuses]]). Local commits claim
    * numbers ABOVE the pin, so DML/compaction on the clone layer
    * exactly like commits on any table — and never touch the source
    * (the GC paths act on local dirs only). The source's root gains a
    * `_GRAFT_CLONE_PIN_<token>` file; its GC and vacuum keep the
    * pinned dirs alive until the clone is dropped.
    *
    * Concurrency: creation races a source-side FULL commit's GC on the
    * pin-write→verify window — the post-write verification fails
    * LOUDLY (pin dropped, clone removed) if any pinned dir vanished;
    * the same single-maintainer caveat as two racing fulls.
    */
  def shallowClone(src: String, dst: String,
      asOf: Option[Long] = None): Unit = {
    require(exists(src), s"no such table: $src")
    require(!exists(dst), s"table already exists: $dst")
    val srcDest = new Path(tablePath(src))
    val srcListing = fs.listStatus(srcDest).toSeq
    require(Lakehouse.Protocol.cloneRefOf(fs, srcListing).isEmpty,
      s"$src is itself a shallow clone — clone the original table")
    val committed = Lakehouse.Protocol.versionDirStatusesOf(srcListing)
      .sortBy(_._1)
      .flatMap { case (v, st) => commitKind(st.getPath).map(_ => v) }
      .filter(v => asOf.forall(v <= _))
    require(committed.nonEmpty, s"$src has no committed versions" +
      asOf.map(v => s" at or below _v$v").getOrElse(""))
    val pinned = committed.toSet
    val pinBody = pinned.toSeq.sorted.mkString(",")
    val dstDest = new Path(tablePath(dst))
    fs.mkdirs(dstDest)
    val token = java.util.UUID.randomUUID().toString.replace("-", "")
      .take(8)
    val pinFile = new Path(srcDest,
      s"${Lakehouse.Protocol.ClonePinPrefix}$token")
    // PIN first, then verify: a racing source GC that never saw the
    // pin may have deleted a pinned dir — detect and fail loudly
    commitIo.replace(pinFile,
      (s"clone=${fs.makeQualified(dstDest).toUri.getPath}\n" +
        s"pin=$pinBody\n").getBytes("UTF-8"))
    val still = Lakehouse.Protocol
      .versionDirStatusesOf(fs.listStatus(srcDest).toSeq)
      .map(_._1).toSet
    if (!pinned.subsetOf(still)) {
      try fs.delete(pinFile, false)
      catch { case scala.util.control.NonFatal(_) => () }
      fs.delete(dstDest, true)
      throw new java.util.ConcurrentModificationException(
        s"shallow clone of $src raced a full commit's GC " +
          s"(version(s) ${(pinned -- still).toSeq.sorted.mkString(",")} " +
          "vanished between the snapshot listing and the pin) — re-run")
    }
    commitIo.replace(new Path(dstDest, Lakehouse.Protocol.CloneFile),
      (s"src=${fs.makeQualified(srcDest).toUri.getPath}\n" +
        s"pin=$pinBody\n").getBytes("UTF-8"))
  }

  /** Drop the pin `cloneDir` holds on its source (the DROP TABLE path
    * for clones) — matched by the clone path recorded in each pin.
    */
  def releaseClonePins(cloneDir: Path): Unit = {
    val listing = try fs.listStatus(cloneDir).toSeq
      catch { case _: java.io.FileNotFoundException => return }
    Lakehouse.Protocol.cloneRefOf(fs, listing).foreach { case (src, _) =>
      val me = fs.makeQualified(cloneDir).toUri.getPath
      val srcPath = new Path(src)
      val pins = try fs.listStatus(srcPath).toSeq.filter(st =>
        st.isFile && st.getPath.getName
          .startsWith(Lakehouse.Protocol.ClonePinPrefix))
      catch { case _: java.io.FileNotFoundException => Nil }
      pins.foreach { st =>
        val mine = try {
          val in = fs.open(st.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .exists(_ == s"clone=$me")
          finally in.close()
        } catch { case scala.util.control.NonFatal(_) => false }
        if (mine)
          try fs.delete(st.getPath, false)
          catch { case scala.util.control.NonFatal(_) => () }
      }
    }
  }

  def vacuum(name: String): Unit = {
    val dest = new Path(tablePath(name))
    if (!fs.exists(dest)) return
    // V2 streaming-write staging debris: a crashed query's task files
    // under _staging/<queryId>/ are never committed and never cleaned
    // by an epoch commit/abort that didn't run — reclaim any staging
    // subtree idle past the grace (an ACTIVE query touches its epoch
    // dirs far more often than gcGraceMs)
    val horizon0 = System.currentTimeMillis() - gcGraceMs
    def newest(p: Path): Long = {
      val status = fs.getFileStatus(p)
      if (!status.isDirectory) status.getModificationTime
      else (status.getModificationTime +: fs.listStatus(p).toSeq.map(c =>
        if (c.isDirectory) newest(c.getPath)
        else c.getModificationTime)).max
    }
    val staging = new Path(dest, "_staging")
    if (fs.exists(staging)) {
      fs.listStatus(staging).foreach { st =>
        if (newest(st.getPath) <= horizon0) fs.delete(st.getPath, true)
      }
    }
    // stale full-commit intents: a crash between a full's marker and
    // its intent drop (or a full that died mid-write) leaves the root
    // intent file behind — the freshness TTL already stopped it
    // blocking DML, so past the grace it is pure listing clutter; an
    // intent whose version COMMITTED is superseded by the marker and
    // reclaimable immediately
    locally {
      val listing = fs.listStatus(dest).toSeq
      val dirSt = Lakehouse.Protocol.versionDirStatusesOf(listing).toMap
      Lakehouse.Protocol.fullIntents(listing).foreach { case (v, mt) =>
        val committedV = dirSt.get(v).exists(st =>
          commitKind(st.getPath).isDefined)
        val stale = math.max(mt, dirSt.get(v)
          .map(_.getModificationTime).getOrElse(0L)) <= horizon0
        if (committedV || stale)
          try fs.delete(new Path(dest,
            s"${Lakehouse.Protocol.FullIntentPrefix}$v"), false)
          catch { case _: java.io.FileNotFoundException => () }
      }
    }
    // orphaned clone pins: a crash between the pin write and the
    // clone's reference file leaves a pin protecting versions for a
    // clone that never materialized (or whose dir was removed by hand)
    // — reclaim once idle past the grace; a LIVE clone's reference
    // file exists from creation on, so its pin always survives
    fs.listStatus(dest).toSeq.filter(st => st.isFile &&
      st.getPath.getName.startsWith(Lakehouse.Protocol.ClonePinPrefix))
      .foreach { st =>
        if (st.getModificationTime <= horizon0) {
          val clonePath = try {
            val in = fs.open(st.getPath)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
              .find(_.startsWith("clone=")).map(_.drop(6))
            finally in.close()
          } catch { case scala.util.control.NonFatal(_) => None }
          val live = clonePath.exists(p =>
            try fs.exists(new Path(p, Lakehouse.Protocol.CloneFile))
            catch { case _: java.io.IOException => true })
          if (!live)
            try fs.delete(st.getPath, false)
            catch { case scala.util.control.NonFatal(_) => () }
        }
      }
    // crashed-CTAS debris: a `_stage_<name>_*` generation whose query
    // died before commit (no journal — commitStagedChanges never ran)
    // and a `_old_<name>_*` backup whose swap finished are siblings of
    // the table dir. Reclaim them once idle past the grace — an ACTIVE
    // CTAS is writing its staged dir far more often than gcGraceMs.
    // When a swap journal is present the state belongs to healSwap
    // (roll forward/back on next load) — vacuum keeps its hands off.
    val nsDir = dest.getParent
    if (!fs.exists(new Path(nsDir, s"_GRAFT_SWAP_$name"))) {
      // table names can be prefixes of each other (`fact`, `fact_extra`),
      // so a bare startsWith would let vacuum("fact") reclaim
      // `_stage_fact_extra_<tag>` — a SIBLING table's live staging.
      // The remainder after the prefix must be exactly the 8-hex-char
      // UUID tag commitStagedChanges stamps (no further underscore).
      def tagOf(n: String): Option[String] =
        Seq(s"_stage_${name}_", s"_old_${name}_")
          .collectFirst { case p if n.startsWith(p) => n.drop(p.length) }
          .filter(t => t.length == 8 && t.forall(c =>
            (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
      // a dir referenced by ANY swap journal in the namespace belongs to
      // healSwap, whatever table the journal names — never vacuum it
      val journaled: Set[String] = fs.listStatus(nsDir).toSeq
        .filter(_.getPath.getName.startsWith("_GRAFT_SWAP_"))
        .flatMap { j =>
          val props = Lakehouse.readPropsQuiet(fs, j.getPath)
          props.get("staged").toSeq ++ props.get("backup").toSeq
        }.toSet
      fs.listStatus(nsDir).foreach { st =>
        val n = st.getPath.getName
        if (tagOf(n).nonEmpty && !journaled(n) && st.isDirectory &&
          newest(st.getPath) <= horizon0)
          fs.delete(st.getPath, true)
      }
    }
    val all = versionDirs(dest).sortBy(_._1)
    val committed = all.flatMap { case (v, p) =>
      commitKind(p).map(full => (v, p, full))
    }
    val lastFull = committed.lastIndexWhere(_._3)
    if (lastFull < 0) {
      // delta-only chain: every version is live, but stale CLAIM files
      // are not — an append-only table (the streaming-sink shape) would
      // otherwise accumulate one claim per append forever, growing every
      // listStatus in claimVersion/dataPaths
      gcClaims(dest, keepBelow = all.map(_._1).toSet)
      return
    }
    val newestFullV = committed(lastFull)._1
    // same retention logic as a full commit's GC, against current state —
    // INCLUDING the pre-full special case: with retention on and no
    // superseded FULL among the shadowed versions, the pre-full state
    // (committed deltas + any pre-versioning top-level files) IS the
    // previous snapshot and must survive whole, or readAt would lose the
    // audit snapshot the full commit's own GC deliberately kept
    val shadowed = committed.take(lastFull)
    val keepPreVersioningBase =
      retainSnapshots > 0 && shadowed.forall(!_._3)
    val retainedFulls = shadowed.filter(_._3).sortBy(-_._1)
      .take(retainSnapshots)
    val keep: Set[Long] =
      if (keepPreVersioningBase) shadowed.map(_._1).toSet
      else retainedFulls.map(_._1).minOption match {
        case Some(cutoff) => shadowed.filter(_._1 >= cutoff).map(_._1).toSet
        case None => Set.empty
      }
    val horizon = System.currentTimeMillis() - gcGraceMs
    def oldEnough(p: Path): Boolean =
      fs.getFileStatus(p).getModificationTime <= horizon
    // write-audit-publish stages are deliberate, not crash debris —
    // only discardBranch reclaims them (class section above)
    def isStaged(p: Path): Boolean =
      try fs.listStatus(p).exists(
        _.getPath.getName.startsWith(BranchPrefix))
      catch { case _: java.io.FileNotFoundException => false }
    // clone safety (same contract as the full-commit GC): local dirs
    // only, and versions a live clone pins survive until it is dropped
    val destPathStr = fs.makeQualified(dest).toUri.getPath
    def localDir(p: Path): Boolean = p.getParent != null &&
      p.getParent.toUri.getPath == destPathStr
    val clonePins = Lakehouse.Protocol.clonePinned(fs, dest)
    all.foreach { case (v, p) =>
      if (v < newestFullV && !keep(v) && localDir(p) && !clonePins(v) &&
        oldEnough(p) && !isStaged(p))
        fs.delete(p, true)
    }
    if (!keepPreVersioningBase)
      fs.listStatus(dest).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".") && oldEnough(st.getPath))
          fs.delete(st.getPath, st.isDirectory)
      }
    gcClaims(dest, keepBelow = versionDirs(dest).map(_._1).toSet)
  }

  // ——— Write-audit-publish branches (Iceberg's WAP pattern) ———
  //
  // A STAGED version dir carries a `_GRAFT_BRANCH_<name>` marker instead
  // of a commit marker, so every reader's live-set resolution skips it
  // (uncommitted by commitKind's rule — the feature reuses the commit
  // bit, no new reader logic). Audit queries read base + branch
  // explicitly; publish atomically creates the REAL delta marker (the
  // same one-file commit point as any append, then the appender-side
  // above-fulls rebase — a maintenance rewrite racing the audit window
  // cannot shadow the published rows); discard deletes the staged dirs.
  // Vacuum leaves branch-marked dirs alone (they are deliberate stages,
  // not crash debris) — abandoned branches are reclaimed by an explicit
  // [[discardBranch]], the same lifecycle contract as Iceberg's WAP
  // branches. Zero data movement anywhere: stage writes once, publish
  // and discard touch only marker files.

  private val BranchPrefix = Lakehouse.Protocol.BranchPrefix

  private def branchMarker(branch: String): String = {
    require(branch.nonEmpty && branch.forall(c =>
      c.isLetterOrDigit || c == '-' || c == '_'),
      s"branch names are [A-Za-z0-9_-]+: '$branch'")
    s"$BranchPrefix$branch"
  }

  /** Stage `df` on `branch`: a version dir with data (+ optional zone
    * maps) and the branch marker — invisible to readers until
    * [[publishBranch]]. Returns the staged version number.
    */
  def stageBranch(name: String, branch: String, df: DataFrame,
      statsCols: Seq[String] = Nil): Long = {
    val vdir = writeVersion(name, branchMarker(branch), () => ()) { p =>
      df.write.mode("overwrite").parquet(p)
      writeStats(p, statsCols)
    }
    vdir.getName.drop(VersionPrefix.length).toLong
  }

  /** Versions currently staged (marker present, not yet committed) on
    * `branch`, oldest first.
    */
  def branchVersions(name: String, branch: String): Seq[Long] = {
    val m = branchMarker(branch)
    versionDirs(new Path(tablePath(name))).sortBy(_._1).collect {
      case (v, p) if fs.exists(new Path(p, m)) && commitKind(p).isEmpty => v
    }
  }

  /** The audit view: the live table plus `branch`'s staged rows — what
    * the table WILL serve after publish. The staged dirs union in as
    * extra roots; equality-delete masks of the live chain still apply.
    */
  def readBranch(name: String, branch: String,
      schema: StructType): DataFrame = {
    val m = branchMarker(branch)
    val staged = versionDirs(new Path(tablePath(name))).sortBy(_._1)
      .collect {
        case (_, p) if fs.exists(new Path(p, m)) && commitKind(p).isEmpty =>
          p.toString
      }
    val (live, basis) = liveRootsAndBasis(name)
    scan(ctxOver(live ++ staged, basis), schema)
  }

  /** Atomically publish `branch`: each staged dir gets the real DELTA
    * commit marker (one file create — the commit point), sheds its
    * branch marker, and rebases above any FULL commit that landed during
    * the audit window. Idempotent: a crash mid-publish re-runs to
    * completion (a dir already committed just sheds its marker).
    */
  def publishBranch(name: String, branch: String): Unit = {
    val dest = new Path(tablePath(name))
    val m = branchMarker(branch)
    versionDirs(dest).sortBy(_._1).foreach { case (_, p) =>
      val marker = new Path(p, m)
      if (fs.exists(marker)) {
        if (commitKind(p).isEmpty)
          commitIo.commitMarker(new Path(p, MarkerDelta))
        fs.delete(marker, false)
        ensureAboveFulls(dest, p)
      }
    }
  }

  /** Drop `branch`'s staged dirs (audit failed / branch abandoned). */
  def discardBranch(name: String, branch: String): Unit = {
    val m = branchMarker(branch)
    versionDirs(new Path(tablePath(name))).foreach { case (_, p) =>
      if (fs.exists(new Path(p, m)) && commitKind(p).isEmpty)
        fs.delete(p, true)
    }
  }

  /** Small-file compaction: fold the live version chain (one delta per
    * append) back into a single full snapshot with `numFiles` files, via
    * the crash-safe overwrite protocol. At cluster scale the open-file and
    * footer-read overhead of thousands of small files dominates scan time;
    * compaction is the standing maintenance job every lakehouse runs.
    */
  def compact(name: String, numFiles: Int, sortCols: Seq[String] = Nil): Unit = {
    val schema = Schemas.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name"))
    // physical partition columns (fact's trans_dt_day) must survive the
    // rewrite as partition structure, so read them and write them back
    compactImpl(name, readSchema(name, schema), schema.fieldNames.toSeq,
      numFiles, sortCols)
  }

  /** [[compact]] for versioned tables OUTSIDE the registered DWH model
    * (schema-evolved / CDC current-state tables): the caller-supplied
    * contract schema plays the registry's role. Reading a
    * mixed-generation chain through the WIDENED schema null-fills the
    * columns older files predate (the parquet missing-column contract),
    * so compaction ACROSS a schema-evolution boundary folds both
    * generations into one uniformly-wide snapshot — adding a column
    * stays a zero-IO metadata event until the next scheduled compaction
    * pays the rewrite it was already going to pay (q63). Unpartitioned
    * tables (partitioned layouts are registry-detected, [[readSchema]]).
    */
  def compact(name: String, schema: StructType, numFiles: Int,
      sortCols: Seq[String]): Unit =
    compactImpl(name, schema, schema.fieldNames.toSeq, numFiles, sortCols)

  /** Any FRESH, uncommitted full-rewrite intent outstanding on `name`?
    * The catalog's contract-changing DDL (DROP COLUMN) refuses while
    * one is live: the rewrite read its frame under the wide contract
    * and would carry the dropped bytes into its output (the other half
    * of the race — the rewrite aborting when the contract changed
    * under it — is the maintenance procedures' beforeCommit check).
    */
  def maintenanceIntentOutstanding(name: String): Boolean = {
    val dest = new Path(tablePath(name))
    val committed = versionDirs(dest).flatMap { case (v, p) =>
      commitKind(p).map(_ => v) }.toSet
    freshFullIntentOutside(dest, Lakehouse.ReadBasis(
      committed.maxOption.getOrElse(0L), committed)).isDefined
  }

  /** [[compact]] (schema-explicit) with `keyedCols` selecting the exact
    * one-file-per-key layout for `PARTITIONED BY` columns (see
    * [[Clustering.byPartitionKeys]]) instead of a sampled range split.
    */
  def compact(name: String, schema: StructType, numFiles: Int,
      sortCols: Seq[String], keyedCols: Boolean): Unit =
    compactImpl(name, schema, schema.fieldNames.toSeq, numFiles, sortCols,
      keyedCols)

  /** [[compact]] with a pre-marker hook — the catalog's maintenance
    * procedures pass their contract-fingerprint check here, so a DDL
    * racing the rewrite aborts it cleanly instead of the rewrite
    * committing stale-contract bytes.
    */
  def compact(name: String, schema: StructType, numFiles: Int,
      sortCols: Seq[String], keyedCols: Boolean,
      beforeCommit: () => Unit): Unit =
    compactImpl(name, schema, schema.fieldNames.toSeq, numFiles, sortCols,
      keyedCols, beforeCommit)

  private def compactImpl(name: String, full: StructType,
      contractCols: Seq[String], numFiles: Int,
      sortCols: Seq[String], keyedCols: Boolean = false,
      beforeCommit: () => Unit = () => ()): Unit = {
    // a standing maintenance job may tick before the table's first
    // append — nothing to fold is a no-op, not an error
    if (!exists(name)) return
    val partCols = full.fieldNames.toSeq.diff(contractCols)
    // snapshot + read basis from one listing (concurrency contract —
    // see class doc and overwritePartitioned's readBasis)
    val (raw, basis) = readRootsWithBasis(name, full)
    // clustering: RANGE-repartition on the sort key, then sort within each
    // file. Round-robin + local sort would tighten row-group stats but
    // leave every FILE spanning the whole key range — per-file zone maps
    // would never exclude anything. Range partitioning makes the files'
    // key ranges disjoint, so [[readBetween]] (and parquet row-group
    // skipping) prune maximally — the linear form of OPTIMIZE ZORDER.
    val clustered =
      if (sortCols.isEmpty) raw.repartition(numFiles)
      // keyedCols: `sortCols` are a catalog table's PARTITIONED BY
      // columns — re-establish the exact one-file-per-key layout (the
      // storage-partitioned-join report survives compaction) instead of
      // a sampled range split
      else if (keyedCols) clusterFrame(raw, sortCols)
      else raw.repartitionByRange(numFiles, sortCols.map(col): _*)
        .sortWithinPartitions(sortCols.map(col): _*)
    // sorted compaction gets a zone-map manifest for free — the stats
    // scan reads the files just written (for unpartitioned tables; a
    // partitioned rewrite keeps partition pruning as its skipping axis).
    // Keyed mode maps bucket specs to their derived `_gbk` stat column.
    val stats =
      if (partCols.nonEmpty) Nil
      else if (keyedCols) clusterStatNames(sortCols)
      else sortCols
    overwritePartitioned(name, clustered, partCols, beforeCommit,
      statsCols = stats,
      readBasis = Some(basis),
      changeData = Some(emptyChangeData(full, contractCols)))
  }

  /** An empty recorded change feed: compaction rewrites bytes but changes
    * no rows, and recording that (vs recording nothing) is what lets
    * [[changeFeed]] consumers stream THROUGH standing maintenance instead
    * of breaking on every compact.
    */
  private def emptyChangeData(full: StructType,
      contractCols: Seq[String]): DataFrame = {
    val cdfSchema = StructType(
      full.fields.filter(f => contractCols.contains(f.name)) :+
        org.apache.spark.sql.types.StructField(ChangeTypeCol,
          org.apache.spark.sql.types.StringType))
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], cdfSchema)
  }

  /** Z-order compaction: rewrite the table clustered along the Morton
    * curve of `zCols` (see [[ZOrder]]), with zone maps on every z column
    * — one layout that lets [[readBetween]] prune files for range
    * predicates on ANY of them, where `compact(sortCols)`'s linear order
    * only serves its leading column. Unpartitioned tables (a partitioned
    * table's skipping axis is its partition filter).
    */
  def compactZOrder(name: String, numFiles: Int, zCols: Seq[String],
      bits: Int = 8): Unit =
    compactZOrderAs(name, Schemas.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name")),
      numFiles, zCols, bits)

  /** [[compactZOrder]] with an explicit contract — the SQL procedure's
    * entry for catalog tables (their schema lives in `_GRAFT_SCHEMA`,
    * not the static [[Schemas.byName]] registry).
    */
  def compactZOrderAs(name: String, schema: StructType, numFiles: Int,
      zCols: Seq[String], bits: Int = 8,
      beforeCommit: () => Unit = () => ()): Unit = {
    require(readSchema(name, schema) == schema,
      s"compactZOrder does not support partitioned table $name")
    val (raw, basis) = readRootsWithBasis(name, schema)
    val clustered = ZOrder.withZkey(raw, zCols, "_zkey", bits)
      .repartitionByRange(numFiles, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey")
    overwritePartitioned(name, clustered, Nil, beforeCommit,
      statsCols = zCols,
      readBasis = Some(basis),
      changeData = Some(emptyChangeData(schema, schema.fieldNames.toSeq)))
  }

  /** Zone-map-pruned range read: rows of `name` with `colName` in
    * [lo, hi], reading ONLY the files whose manifest range intersects.
    * Exact — the residual filter still applies inside surviving files;
    * files without stats (older writes, all-NULL ranges are pruned since
    * NULL never matches a range) are read, never silently skipped.
    * Manifest pruning happens at plan time on the driver (a manifest is
    * one tiny parquet per version — reading it is the planning cost).
    * Unpartitioned tables only: partitioned tables' skipping axis is the
    * partition filter, and an explicit file list would bypass partition
    * discovery.
    */
  def readBetween(name: String, colName: String, lo: Any, hi: Any): DataFrame = {
    val schema = Schemas.byName.getOrElse(name,
      throw new IllegalArgumentException(s"unknown table: $name"))
    require(readSchema(name, schema) == schema,
      s"readBetween does not support partitioned table $name")
    val pred = col(colName) >= lit(lo) && col(colName) <= lit(hi)
    if (!exists(name))
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        .filter(pred)
    // row masks compose with file pruning: the planner applies them
    // AFTER the manifest cut (a masked row inside a surviving file must
    // still not serve); a root's None keeps all its files
    val ctx = maskedCtx(name)
    val kept: Seq[Option[Seq[String]]] = ctx.roots.map { root =>
      val statsPath = new Path(root, StatsDir)
      // the manifest dir itself is underscore-hidden, so it must be read
      // by its explicit part files (Spark's hidden-path filter only
      // checks the leaf name of given roots)
      val manifest: Seq[String] =
        if (!fs.exists(statsPath)) Nil
        else fs.listStatus(statsPath).toSeq.map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map(_.toString)
      // current manifests key by file NAME (dir-relocatable);
      // absolute-path rows are legacy manifests
      def toPath(f: String): String =
        if (f.contains("/")) f else new Path(root, f).toString
      // DRIVER-SIDE prune (FooterStats.readManifest + the V2 scan's
      // value comparator — millis-truncation on temporals only ever
      // over-keeps): the former spark.read job cost ~20 ms of scheduler
      // latency per root per call, on the ETL's hottest read path. Any
      // unproven shape or incomparable pair falls back to the job.
      val hconf = spark.sparkContext.hadoopConfiguration
      def sparkPrune(): Option[Seq[String]] = {
        val st = spark.read.parquet(manifest: _*)
        if (!st.columns.contains(s"min_$colName")) None
        else Some(st
          .filter(col(s"max_$colName") >= lit(lo) &&
            col(s"min_$colName") <= lit(hi))
          .select(col("file")).collect().map(_.getString(0))
          .map(toPath).toSeq)
      }
      val pruned: Option[Seq[String]] =
        if (manifest.isEmpty) None
        else FooterStats.readManifest(hconf, manifest,
          _.startsWith("bloom_")) match {
          case Some((cols, rows)) if cols.contains(s"min_$colName") =>
            try Some(rows.flatMap { r =>
              def v(n: String): Option[Any] = {
                val i = r.schema.fieldNames.indexOf(n)
                if (i < 0 || r.isNullAt(i)) None else Some(r.get(i))
              }
              val keep = (v(s"min_$colName"), v(s"max_$colName")) match {
                case (Some(mn), Some(mx)) =>
                  graft.sources.LakehouseBatch.compareValues(mx, lo) >= 0 &&
                    graft.sources.LakehouseBatch.compareValues(mn, hi) <= 0
                case _ => false // all-null file: never in a value range
              }
              if (keep) Some(toPath(r.getString(r.fieldIndex("file"))))
              else None
            })
            catch { case _: IllegalArgumentException => sparkPrune() }
          case Some(_) => None // manifest without this column's zone map
          case None => sparkPrune()
        }
      pruned
    }
    val keep: Set[Path] = ctx.live.zip(kept).flatMap { case (l, k) =>
      k.fold(l.files.map(_._1.getPath))(_.map(p =>
        new Path(p).makeQualified(fs.getUri, fs.getWorkingDirectory)))
    }.toSet
    scan(ctx, schema, keep = keep).filter(pred)
  }

  /** Bucketed write: pre-shuffles into `buckets` files per bucket key and
    * registers a catalog table, so later equi-joins/aggregations on `key`
    * between co-bucketed tables run WITHOUT an exchange — the lakehouse
    * analogue of the reference's `distributed by (key)` co-location
    * (DDL.sql:40,59; verified shuffle-free in BucketingSpec).
    */
  def writeBucketed(name: String, df: DataFrame, key: String,
      buckets: Int): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    df.write
      .bucketBy(buckets, key)
      .sortBy(key)
      .option("path", tablePath(name))
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(name)
  }

  def readTable(name: String): DataFrame = spark.table(name)

  /** TRUNCATE (ETL.sql:447): drop the data, keep the (virtual) table. */
  def truncate(name: String): Unit = {
    val dest = new Path(tablePath(name))
    if (fs.exists(dest)) fs.delete(dest, true)
  }

  def drop(name: String): Unit = truncate(name)
}

object Lakehouse {

  /** Physical-identity column names [[Lakehouse.readMaskedWithPos]]
    * appends (reserved — a contract column with either name is
    * rejected by the MoR mutation paths that join through them).
    */
  private[graft] val FileCol = "__graft_file"
  private[graft] val PosCol = "__graft_pos"

  /** One version dir's listing entry + commit facts. `kind` memoizes
    * its live probe, so only the dirs a caller actually classifies pay
    * an RPC — and checkpoint-covered dirs pay none.
    */
  private[graft] final class DirFacts(val v: Long,
      val st: org.apache.hadoop.fs.FileStatus,
      kindThunk: () => Option[Boolean],
      val detail: Option[MetaCheckpoint.CommitDetail]) {
    lazy val kind: Option[Boolean] = kindThunk()
    def path: Path = st.getPath
  }

  /** Best-effort java.util.Properties read (swap journals) — a journal
    * deleted or healed mid-read is absence, not an error.
    */
  private[graft] def readPropsQuiet(fs: FileSystem,
      src: Path): Map[String, String] =
    try {
      import scala.jdk.CollectionConverters._
      val in = fs.open(src)
      val jp = new java.util.Properties()
      try jp.load(in) finally in.close()
      jp.stringPropertyNames().asScala
        .map(k => k -> jp.getProperty(k)).toMap
    } catch { case _: java.io.IOException => Map.empty }

  /** Per-file bloom sizing (`graft.bloomColumns` manifests): 50k items
    * at 400k bits ≈ 3% fpp, 50 KB per (file, column) — a false positive
    * only costs reading one extra file, so modest sizing wins.
    */
  val BloomItems = 50000L
  val BloomBits = 400000L

  /** Ask the parquet WRITER to build split-block bloom filters for the
    * commit's `bloomCols` — the footer path ([[FooterStats.collectBlooms]])
    * then lifts them into the manifest with no second data pass. NDV
    * matches [[BloomItems]] so sizing stays comparable to the
    * scan-built sketches. Per-write options, never session state: a
    * concurrent commit without blooms is unaffected.
    */
  private[storage] def withBloomOptions(
      w: org.apache.spark.sql.DataFrameWriter[Row],
      bloomCols: Seq[String]): org.apache.spark.sql.DataFrameWriter[Row] =
    bloomCols.foldLeft(w)((w, c) => w
      .option(s"parquet.bloom.filter.enabled#$c", "true")
      .option(s"parquet.bloom.filter.expected.ndv#$c",
        BloomItems.toString))

  /** The commit-log layout constants and listing primitives, shared by
    * the [[Lakehouse]] class and the streaming source
    * ([[graft.sources.LakehouseStreamProvider]]) that tails a table's
    * commit log without holding a Lakehouse instance. Pure functions of
    * (fs, path) — no SparkSession, usable from any context.
    */
  private[graft] object Protocol {
    val VersionPrefix = "_v"
    val ClaimPrefix = "_GRAFT_CLAIM_"
    val MarkerFull = "_GRAFT_COMMIT_FULL"
    val MarkerDelta = "_GRAFT_COMMIT_DELTA"
    val MarkerLegacy = "_GRAFT_COMMIT" // pre-delta protocol = full
    val SeenPrefix = "_GRAFT_SEEN_b"
    val StatsDir = "_GRAFT_STATS"
    val CdfDir = "_GRAFT_CDF"
    val EqDelDir = "_GRAFT_EQDEL"
    val DvDir = "_GRAFT_DV" // deletion vectors: positional tombstones
    val BranchPrefix = "_GRAFT_BRANCH_" // staged (write-audit-publish) dirs
    // A REWRITE commit (rewriteDeletes): physically re-expresses files
    // whose deleted fraction crossed a threshold — survivors land as
    // this version's data files, the originals get whole-file DV masks
    // in the same commit, and `RewrittenList` names them. Classified as
    // a DELTA by commitKind (the marker extends MarkerDelta), so every
    // reader's version sequencing applies unchanged; feed/stream
    // consumers recognize the marker and emit NOTHING (a rewrite
    // changes no logical rows). Distinct name required: `_b<id>`
    // exactly-once parsing must not match it.
    val MarkerRewrite = s"${MarkerDelta}_REWRITE"
    /** Post-mask per-file extremes of a DV commit (inside DvDir). */
    val DvExtremesDir = "_extremes"
    /** Per-file matched-row counts of an equality-delete commit
      * ("name\tcount" lines inside EqDelDir) — the `_dv_counts`
      * pattern: keeps COUNT(*) pushed with tombstones outstanding.
      */
    val EqDelCountsFile = "_eq_counts"
    // Newline-separated data-file NAMES a rewrite commit replaced: the
    // V2 scan drops them from lower-version roots at plan time (zero
    // tasks, zero IO) instead of scanning fully-masked files.
    val RewrittenList = "_GRAFT_REWRITTEN"
    /** FULL-commit intent: a TABLE-ROOT file `_GRAFT_FULL_INTENT_<v>`
      * created at version-claim time, BEFORE the snapshot write begins,
      * deleted after the full's marker lands (or on a failed write). A
      * merge-on-read delta's or rewrite's conflict check treats a FRESH
      * intent for an uncommitted version outside its basis as a
      * conflict: the delta's positional DV (or the rewrite's survivor
      * re-expression) would name files the in-flight rewrite is about
      * to replace, and — because version claims are monotonic — any
      * delta that could land ABOVE the full claimed after the intent
      * existed, so its pre/post-marker checks always see it. This
      * closes the window where a delta commits above an in-flight full
      * and both sides' marker-based checks miss each other (delta
      * post-check before the full's marker, full's rebase scan only
      * below fullV).
      *
      * At the ROOT, not inside the claimed dir: the snapshot's own
      * `mode("overwrite")` payload write DELETES the version dir before
      * re-writing it, so an in-dir intent would vanish for exactly the
      * long write window it exists to cover (and the dir itself is
      * briefly absent — the root file stays visible throughout).
      *
      * Freshness (`spark.graft.fullIntentTtlMs`) bounds crash debris:
      * an abandoned intent stops blocking DML once both the intent
      * file's mtime and (when present) its version dir's mtime go
      * stale — payload writes keep bumping the dir, so a long-running
      * full stays fresh. A >TTL-stalled full loses the prevention and
      * falls back to the LOUD post-commit detection
      * ([[rebaseLateDeltas]]' basis check), never a silent one.
      */
    val FullIntentPrefix = "_GRAFT_FULL_INTENT_"

    /** The committed set an intent's full RESOLVED (its content, one
      * version per line — written at claim time, after the snapshot
      * listing). A racer whose own committed version appears in it is
      * FOLDED by the in-flight full (the snapshot read through its
      * masks), so it must NOT self-abort: aborting would delete masks
      * the full already materialized while telling the caller to
      * re-apply them — a double-apply on retry. None (unreadable /
      * torn) reads as "contains nothing": conservative, the racer
      * yields.
      */
    def readFullIntentBasis(fs: FileSystem, dest: Path,
        v: Long): Option[Set[Long]] = {
      val f = new Path(dest, s"$FullIntentPrefix$v")
      try {
        val in = fs.open(f)
        try Some(scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).map(_.toLong).toSet)
        finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Versions with a LIVE full intent at the root: (version → intent
      * file mtime), from one listing.
      */
    def fullIntents(listing: Seq[org.apache.hadoop.fs.FileStatus])
        : Map[Long, Long] =
      listing.collect {
        case st if st.isFile && {
          val suffix = st.getPath.getName.drop(FullIntentPrefix.length)
          st.getPath.getName.startsWith(FullIntentPrefix) &&
            suffix.nonEmpty && suffix.length <= 18 &&
            suffix.forall(_.isDigit)
        } =>
          (st.getPath.getName.drop(FullIntentPrefix.length).toLong,
            st.getModificationTime)
      }.toMap
    /** Committed-version set (one version per line) of the listing a
      * mask-bearing delta (DV / equality-delete) derived its masks from.
      * Read by the scan's aggregate-pushdown gate: pushed COUNT(*) =
      * Σ(rows − dv − eqMatched) and MIN/MAX-from-extremes are sound only
      * if every mask commit's identity scan read THROUGH every other
      * mask (pairwise: one of each pair's bases contains the other) —
      * two masks recorded concurrently can double-subtract a row or
      * resurrect a masked extreme, and per-file coverage checks cannot
      * see it. Also read by [[rebaseLateDeltas]] to detect a DV delta
      * that landed above a full it never saw.
      */
    val BasisFile = "_GRAFT_BASIS"

    /** Record a mask commit's read basis (sorted committed versions,
      * one per line) inside its version dir — part of the payload,
      * before the marker.
      */
    def writeBasis(fs: FileSystem, vdir: Path,
        basis: Lakehouse.ReadBasis): Unit = {
      val out = fs.create(new Path(vdir, BasisFile), true)
      try out.write(basis.committed.toSeq.sorted.mkString("\n")
        .getBytes("UTF-8"))
      finally out.close()
    }

    /** The recorded read basis of one version dir; None = not recorded
      * (legacy commit, or the writer opted out of counts).
      */
    def readBasisFile(fs: FileSystem, vdir: Path): Option[Set[Long]] = {
      val f = new Path(vdir, BasisFile)
      try {
        if (!fs.exists(f)) None
        else {
          val in = fs.open(f)
          try Some(scala.io.Source.fromInputStream(in, "UTF-8")
            .getLines().filter(_.nonEmpty).map(_.toLong).toSet)
          finally in.close()
        }
      } catch { case _: java.io.FileNotFoundException => None }
    }

    /** SHALLOW CLONE reference at a clone table's root (`_GRAFT_CLONE`,
      * written once at creation, immutable): `src=<absolute table
      * path>` and `pin=<comma-joined committed versions>`. A clone's
      * version listing is the UNION of the source's PINNED dirs and
      * its own local dirs ([[versionDirStatuses]]) — zero bytes
      * copied; local commits claim numbers ABOVE the pin so every
      * reader's version sequencing (fulls shadowing, mask
      * applicability, time travel) applies unchanged. The SOURCE root
      * carries one `_GRAFT_CLONE_PIN_<token>` file per live clone;
      * source-side GC and vacuum keep pinned dirs alive until the
      * clone is dropped (DROP TABLE on the clone releases its pin).
      * Mutating maintenance on the clone never touches source dirs —
      * the GC/vacuum/rewrite paths act on LOCAL dirs only.
      */
    val CloneFile = "_GRAFT_CLONE"
    val ClonePinPrefix = "_GRAFT_CLONE_PIN_"

    private val cloneRefCache = new java.util.concurrent
      .ConcurrentHashMap[String, (String, Set[Long])]()

    /** The clone reference of an ALREADY-FETCHED root listing; content
      * cached by (path, mtime, length) — the file is immutable after
      * creation. An unreadable reference fails LOUDLY: treating it as
      * absent would silently serve the clone as an empty table.
      */
    def cloneRefOf(fs: FileSystem,
        listing: Seq[org.apache.hadoop.fs.FileStatus])
        : Option[(String, Set[Long])] =
      listing.find(st => st.isFile && st.getPath.getName == CloneFile)
        .map { st =>
          val key = st.getPath.toUri.getPath +
            s"@${st.getModificationTime}:${st.getLen}"
          if (cloneRefCache.size > 64) cloneRefCache.clear()
          cloneRefCache.computeIfAbsent(key, _ => {
            val in = fs.open(st.getPath)
            val m = try scala.io.Source.fromInputStream(in, "UTF-8")
              .getLines().filter(_.contains('=')).map { l =>
                val i = l.indexOf('='); (l.take(i), l.drop(i + 1))
              }.toMap
            finally in.close()
            (m("src"), m("pin").split(",").filter(_.nonEmpty)
              .map(_.toLong).toSet)
          })
        }

    /** Every version a live clone of `dest` pins — the set this
      * table's GC and vacuum must keep alive. One root listing plus
      * one tiny read per pin file (pins are rare; paid only on FULL
      * commits and vacuum, never on appends).
      */
    def clonePinned(fs: FileSystem, dest: Path): Set[Long] =
      try fs.listStatus(dest).toSeq.filter(st => st.isFile &&
        st.getPath.getName.startsWith(ClonePinPrefix)).flatMap { st =>
          val in = fs.open(st.getPath)
          try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
            .filter(_.startsWith("pin=")).flatMap(_.drop(4).split(","))
            .filter(_.nonEmpty).map(_.toLong).toList
          finally in.close()
        }.toSet
      catch { case _: java.io.FileNotFoundException => Set.empty }

    /** (version, dir) for every `_v<N>` subdir, committed or not. */
    def versionDirs(fs: FileSystem, dest: Path): Seq[(Long, Path)] =
      versionDirStatuses(fs, dest).map { case (v, st) => (v, st.getPath) }

    /** [[versionDirs]] with the listing's full FileStatus — the dir
      * mtime is the checkpoint protocol's change detector (a commit
      * marker or any direct-child change bumps it; committed dirs are
      * otherwise immutable and only ever removed whole).
      */
    def versionDirStatuses(fs: FileSystem, dest: Path)
        : Seq[(Long, org.apache.hadoop.fs.FileStatus)] =
      // list-and-catch, not exists-then-list: one RPC per call.
      // A SHALLOW CLONE's listing is the union of the source's pinned
      // dirs and the clone's own — the ONE seam every resolver
      // (reads, DML, streaming, history, time travel) goes through.
      try {
        val listing = fs.listStatus(dest).toSeq
        val local = versionDirStatusesOf(listing)
        cloneRefOf(fs, listing) match {
          case None => local
          case Some((src, pinned)) =>
            val srcDirs =
              try versionDirStatusesOf(fs.listStatus(new Path(src)).toSeq)
                .filter { case (v, _) => pinned(v) }
              catch { case _: java.io.FileNotFoundException =>
                Seq.empty[(Long, org.apache.hadoop.fs.FileStatus)] }
            require(srcDirs.size == pinned.size,
              s"shallow clone $dest references version(s) " +
                s"${(pinned -- srcDirs.map(_._1)).toSeq.sorted
                  .mkString(",")} no longer present in $src — the " +
                "source was GC'd past the clone pin (pin file removed " +
                "by hand?)")
            (srcDirs ++ local).sortBy(_._1)
        }
      } catch { case _: java.io.FileNotFoundException => Seq.empty }

    /** [[versionDirStatuses]] over an ALREADY-FETCHED table-root
      * listing — the checkpoint paths reuse one listing for plain
      * files, version dirs and identity validation.
      */
    def versionDirStatusesOf(listing: Seq[org.apache.hadoop.fs.FileStatus])
        : Seq[(Long, org.apache.hadoop.fs.FileStatus)] =
      listing.collect {
        // suffix guards: nonEmpty (a stray dir named exactly "_v" must
        // not crash ""+toLong) and bounded length (Long overflow)
        case st if st.isDirectory && {
          val suffix = st.getPath.getName.drop(VersionPrefix.length)
          st.getPath.getName.startsWith(VersionPrefix) &&
            suffix.nonEmpty && suffix.length <= 18 &&
            suffix.forall(_.isDigit)
        } =>
          (st.getPath.getName.drop(VersionPrefix.length).toLong, st)
      }

    /** None = uncommitted; Some(true) = full snapshot; Some(false) =
      * delta. A dir vanishing between listing and probe reads as
      * uncommitted — invisible, exactly as if the listing had missed it.
      */
    def commitKind(fs: FileSystem, vdir: Path): Option[Boolean] =
      try {
        if (fs.exists(new Path(vdir, MarkerFull)) ||
          fs.exists(new Path(vdir, MarkerLegacy))) Some(true)
        else if (fs.listStatus(vdir).exists(
          _.getPath.getName.startsWith(MarkerDelta))) Some(false)
        else None
      } catch { case _: java.io.FileNotFoundException => None }

    /** Version numbers carried by claim files at the table root. */
    def claimedVersions(fs: FileSystem, dest: Path): Seq[Long] =
      try claimedVersionsOf(fs.listStatus(dest).toSeq)
      catch { case _: java.io.FileNotFoundException => Seq.empty }

    /** [[claimedVersions]] over an ALREADY-FETCHED root listing — the
      * claim loop reuses one listing for dirs AND claims.
      */
    def claimedVersionsOf(
        listing: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Long] =
      listing.collect {
        case st if st.isFile && {
          val suffix = st.getPath.getName.drop(ClaimPrefix.length)
          st.getPath.getName.startsWith(ClaimPrefix) &&
            suffix.nonEmpty && suffix.length <= 18 &&
            suffix.forall(_.isDigit)
        } => st.getPath.getName.drop(ClaimPrefix.length).toLong
      }
  }

  /** Which path produced the most recent stats manifest (true =
    * footer-derived, false = scan fallback) — TEST OBSERVABILITY ONLY
    * (FooterStatsSpec pins that the footer path actually engages; the
    * two paths are content-identical by design, so nothing else can
    * tell them apart).
    */
  @volatile private[graft] var lastStatsFromFooters: Boolean = false

  /** Reference-counted session-conf override for commit-payload writes
    * (see writeVersion): first enter saves the session value and sets
    * TIMESTAMP_MICROS, last exit restores — balanced under ANY
    * interleaving of concurrent commits, where a per-call save/restore
    * would capture the override as the previous value and leak it.
    */
  private[storage] object MicrosScope {
    private val Key = "spark.sql.parquet.outputTimestampType"
    private var depth = 0
    private var saved: Option[String] = None
    def enter(spark: SparkSession): Unit = synchronized {
      if (depth == 0) {
        saved = spark.conf.getOption(Key)
        spark.conf.set(Key, "TIMESTAMP_MICROS")
      }
      depth += 1
    }
    def exit(spark: SparkSession): Unit = synchronized {
      depth -= 1
      if (depth == 0) saved match {
        case Some(v) => spark.conf.set(Key, v)
        case None => spark.conf.unset(Key)
      }
    }
  }

  /** Snapshot provenance for a maintenance rewrite: the committed
    * version SET (and its max) at the one listing that resolved the
    * snapshot's roots ([[Lakehouse.readWithBasis]]). The set — not just
    * the max — is load-bearing: a writer can claim a low version number
    * early and commit it late, so a version below the max may still
    * postdate the snapshot; the commit protocol GC's exactly the set
    * members and rebases every other committed dir above the new full.
    */
  final case class ReadBasis(maxCommitted: Long, committed: Set[Long])

  /** One resolved masked-read snapshot, shared across a merge-on-read
    * mutation's passes (matched scan, post-mask extremes): live roots,
    * the basis of the SAME listing, the equality-delete tombstone refs
    * (version, dir, keyCols) and per-version DV indexes (version →
    * fileName → sidecarPath). Resolving this once per DML is both a
    * correctness anchor (every pass sees one snapshot) and the fix for
    * the duplicated-listing cost the r9 bench surfaced.
    */
  final case class MaskedCtx(live: Seq[LiveRoot], basis: ReadBasis,
      tombs: Seq[(Long, String, Seq[String])],
      dvs: Seq[(Long, Map[String, String])]) {
    def roots: Seq[String] = live.map(_.root)
  }

  /** One live root as the read planner lists it: the root, its version
    * (what the sequence rule compares mask versions against; the
    * pre-versioning base reads as 0), each data file with the dir names
    * between root and file, and whether the root carries a DV / an
    * equality-delete sidecar dir.
    */
  final case class LiveRoot(root: String, v: Long,
      files: Seq[(org.apache.hadoop.fs.FileStatus, Seq[String])],
      dv: Boolean, eqDel: Boolean)

  /** Spark's hidden-path rule for file-source listings: `_`-prefixed
    * names without `=`, dot files, and in-flight copies.
    */
  private[storage] def hiddenName(n: String): Boolean =
    (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
      n.endsWith("._COPYING_")

  /** A `k=v` dir's raw value as the partition column's internal value —
    * the discovery rule for a user-typed partition column: unescaped,
    * cast to the column type, `__HIVE_DEFAULT_PARTITION__` = NULL.
    */
  private[storage] def partitionValue(raw: String,
      dt: org.apache.spark.sql.types.DataType, tz: String): Any = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal}
    if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
    else Cast(Literal(ExternalCatalogUtils.unescapePathName(raw)), dt,
      Some(tz), EvalMode.TRY).eval()
  }
}
