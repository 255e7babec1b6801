package graft.sources

import graft.storage.Lakehouse.Protocol
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Structured-Streaming source that TAILS a lakehouse table's commit log —
  * the "table as a stream" production pattern (Delta's streaming source):
  * every committed DELTA version is a source increment, offsets are commit
  * versions, and a restarted query resumes from its checkpointed version.
  * Downstream exactly-once composes with `Lakehouse.appendExactlyOnce`
  * (the s09/s12 machinery), giving end-to-end exactly-once from a table
  * feed without any external queue.
  *
  * A full DataSource V2 implementation (`TableProvider` →
  * `SupportsRead` → `MicroBatchStream`), not a file-glob hack: Spark's
  * file stream source cannot see underscore-prefixed version dirs, and
  * globbing them would race half-written files — the commit MARKER is the
  * only correct visibility signal, which is exactly what this source
  * keys on (the same `Protocol.commitKind` the write path uses).
  *
  * Usage:
  * {{{
  * spark.readStream
  *   .format("graft.sources.LakehouseStreamProvider")
  *   .schema(contract)                      // or .option("schemaDDL", …)
  *   .option("maxVersionsPerTrigger", "1")  // admission control
  *   .load(lake.tablePath("events_feed"))
  * }}}
  *
  * Semantics and contracts (spec-pinned in LakehouseStreamSpec):
  *
  *  - **Offsets = commit versions.** A batch (start, end] reads the data
  *    files of every committed delta in the range. Version resolution is
  *    a driver-side manifest walk; file reads are one task per file —
  *    fully distributed, no driver collect.
  *  - **The head never jumps a pending writer.** `latestOffset` only
  *    advances past version N when every version ≤ N is committed;
  *    an uncommitted claim/dir younger than `inflightGraceMs` (default
  *    10 min) HOLDS the head (a slow in-flight appender whose commit
  *    must not be skipped — the CAS protocol means its number is already
  *    allocated), while older ones are treated as crash debris and
  *    stepped over, mirroring `changesBetween`'s stance.
  *  - **Maintenance composes.** A FULL commit in the range with a
  *    recorded EMPTY change feed (compaction / z-order) is skipped — the
  *    stream rides through standing maintenance. A FULL commit that
  *    changed rows (delete/merge) or recorded nothing (blind overwrite)
  *    throws: an append-shaped stream cannot represent it, and silently
  *    skipping would misreport the table. A version GC'd from under the
  *    stream (compaction without a grace window while the stream lagged)
  *    also throws — never a silent gap; deployments serving streams run
  *    `gcGraceMs` above their consumers' lag, same as the change feed.
  *  - **CDF mode** (`readChangeFeed=true`, Delta's streaming CDF): the
  *    schema carries a `_change_type` string column; deltas stream as
  *    `insert` rows and every FULL commit streams its RECORDED change
  *    rows (`delete` / `update_preimage` / `update_postimage` from
  *    `Lakehouse.delete`/`merge` with `cdf = true`) — row-level CDC from
  *    the table, no external queue. A `_commit_version` bigint column,
  *    in either mode, surfaces each row's commit lineage.
  *  - **Restart-safe.** Offsets serialize as the bare version number;
  *    `Trigger.AvailableNow` is supported natively (the end offset is
  *    pinned at query start, so a drain terminates even under concurrent
  *    appends).
  *
  * The per-file reader decodes parquet through parquet-hadoop's public
  * `GroupReadSupport` (on every Spark classpath) into `InternalRow` —
  * primitive types + strings/dates/timestamps (both INT64 µs/ms/ns and
  * legacy INT96), the contract surface of the versioned tables this
  * engine writes. Unsupported column types fail at plan time, not
  * mid-stream. Physical partition columns (directory-encoded) are not
  * surfaced — a streamed table carries its columns in the files, the
  * layout `Lakehouse.append` produces. (Production note: vectorized
  * decode would swap this reader for Spark's columnar parquet reader;
  * the source structure — offsets, admission control, commit-marker
  * visibility — is the load-bearing part.)
  */
class LakehouseStreamProvider extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val ddl = options.get("schemaDDL")
    require(ddl != null,
      "graft lakehouse stream needs a schema: .schema(...) or " +
        ".option(\"schemaDDL\", \"col TYPE, ...\")")
    StructType.fromDDL(ddl)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "graft lakehouse stream needs the table directory: .load(<path>)")
    // round 12: the Group decoder handles one-level structs (same
    // contract as the batch surface) — decodeGroupField recurses
    LakehouseStream.validateSchema(schema)
    new LakehouseStreamTable(path, schema)
  }
}

private[sources] class LakehouseStreamTable(path: String, tschema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graft_lakehouse_stream($path)"
  override def schema(): StructType = tschema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = tschema
      override def toMicroBatchStream(
          checkpointLocation: String): MicroBatchStream =
        new LakehouseMicroBatchStream(path, tschema, options)
    }
}

/** Version-number offset; serializes as the bare number. */
private[sources] case class VersionOffset(version: Long) extends Offset {
  override def json(): String = version.toString
}

private[sources] class LakehouseMicroBatchStream(tablePath: String,
    schema: StructType, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val startVersion = options.getLong("startVersion", 0L)
  private val maxVersions = options.getLong("maxVersionsPerTrigger", Long.MaxValue)
  private val inflightGraceMs = options.getLong("inflightGraceMs", 600000L)
  // CDF mode (Delta's readChangeFeed): deltas stream as `insert` rows
  // and every FULL commit streams its RECORDED change rows (delete /
  // update_preimage / update_postimage) — the schema must carry
  // `_change_type`, filled per-partition for delta files that predate it
  private val readChangeFeed = options.getBoolean("readChangeFeed", false)
  require(maxVersions > 0, s"maxVersionsPerTrigger must be > 0")
  require(!readChangeFeed ||
    schema.fieldNames.contains(LakehouseStream.ChangeTypeCol),
    s"readChangeFeed needs a ${LakehouseStream.ChangeTypeCol} STRING " +
      "column in the schema")

  // driver-side only (serialized work goes through the reader factory)
  @transient private lazy val hadoopConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration
  @transient private lazy val dest = new Path(tablePath)
  @transient private lazy val fs: FileSystem = dest.getFileSystem(hadoopConf)

  // Trigger.AvailableNow: the drain target, pinned at query start so the
  // run terminates even while writers keep appending
  @volatile private var availableNowCap: Option[Long] = None

  /** Commit facts the newest checkpoint answers (kind + marker
    * presence), keyed by version — every tick's per-dir
    * `commitKind`/marker probes collapse to one cached state read plus
    * probes for the TAIL above the checkpoint. Same identity rule as
    * the batch resolve: a fact applies only while the dir's mtime still
    * equals the recorded one; anything else probes live.
    */
  private def ckptFacts()
      : Map[Long, graft.storage.MetaCheckpoint.CommitFacts] =
    graft.storage.MetaCheckpoint.commitFacts(fs, dest,
      graft.storage.MetaCheckpoint.enabled(SparkSession.active))

  /** Largest N with every version ≤ N committed — modulo stale debris.
    * A fresh (< inflightGraceMs) uncommitted dir or bare claim below a
    * committed version HOLDS the head: its writer allocated the number
    * via CAS and will commit (or self-rebase); advancing past it would
    * skip its rows forever. Stale ones are crash debris and are stepped
    * over (changesBetween's stance — debris contributed no rows).
    */
  private def stableHead(): Long = {
    val now = System.currentTimeMillis()
    def fresh(p: Path): Boolean =
      try now - fs.getFileStatus(p).getModificationTime < inflightGraceMs
      catch { case _: java.io.FileNotFoundException => false }
    val facts = ckptFacts()
    val dirs = Protocol.versionDirStatuses(fs, dest)
    var committed = Set.empty[Long]
    var pending = Set.empty[Long]
    dirs.foreach { case (v, st) =>
      facts.get(v) match {
        case Some(f) if f.dirMtime == st.getModificationTime =>
          committed += v
        case _ => Protocol.commitKind(fs, st.getPath) match {
          case Some(_) => committed += v
          // the listing already carries the mtime — no second RPC
          case None =>
            if (now - st.getModificationTime < inflightGraceMs)
              pending += v
        }
      }
    }
    // a claim whose dir hasn't appeared yet (the window between CAS and
    // the writer's first file) also pends while fresh
    Protocol.claimedVersions(fs, dest).foreach { v =>
      if (!committed(v) && !pending(v) && !dirs.exists(_._1 == v) &&
        fresh(new Path(dest, s"${Protocol.ClaimPrefix}$v"))) pending += v
    }
    val maxCommitted = committed.maxOption.getOrElse(0L)
    val minPending = pending.minOption.getOrElse(Long.MaxValue)
    math.min(maxCommitted, minPending - 1)
  }

  override def initialOffset(): Offset = VersionOffset(startVersion)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new IllegalStateException(
      "latestOffset(Offset, ReadLimit) should be called (SupportsAdmissionControl)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[VersionOffset].version
    val head = availableNowCap match {
      case Some(cap) => cap // pinned at prepare time; never chase writers
      case None => stableHead()
    }
    val to =
      if (maxVersions == Long.MaxValue) head
      else math.min(head, from + maxVersions)
    VersionOffset(math.max(from, to))
  }

  override def reportLatestOffset(): Offset = VersionOffset(stableHead())

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(math.max(startVersion, stableHead()))

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] =
    LakehouseStream.changePartitions(fs, tablePath,
      start.asInstanceOf[VersionOffset].version,
      end.asInstanceOf[VersionOffset].version, readChangeFeed)
      .map(p => p: InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new LakehouseReaderFactory(schema)

  override def deserializeOffset(json: String): Offset =
    VersionOffset(json.toLong)

  override def commit(end: Offset): Unit = () // checkpoint carries state

  override def stop(): Unit = ()
}

/** One data file plus its commit lineage: `commitVersion` backs the
  * `_commit_version` metadata column, `fillChangeType` the constant
  * `_change_type` for files that predate the column (delta commits in
  * CDF mode; recorded change files carry their own).
  *
  * `partKey` (batch scans of partitioned catalog tables only) is the
  * file's single partition-key tuple as catalyst values — the
  * [[org.apache.spark.sql.connector.read.HasPartitionKey]] contract
  * behind storage-partitioned joins. It is only ever non-None when the
  * scan verified (from the zone-map manifest) that EVERY row in the
  * file carries exactly this key; Spark consults `partitionKey()` only
  * for scans that reported
  * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]],
  * which the batch scan does iff every planned file is keyed.
  */
private[sources] case class LakehouseFilePartition(file: String,
    commitVersion: Long, fillChangeType: Option[String],
    partKey: Option[InternalRow] = None,
    dvSidecars: Seq[String] = Nil,
    eqDels: Seq[EqDelRef] = Nil,
    dvEmitMasked: Boolean = false)
    extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = partKey.orNull
}

/** One applicable equality-delete tombstone set for a partition: the
  * committed `_GRAFT_EQDEL` dir plus the key columns (with table
  * contract types). The KEY VALUES never ride the descriptor — readers
  * load them executor-side through [[EqDelKeys]].
  */
private[sources] case class EqDelRef(dir: String, keySchema: StructType)

/** Executor-side, JVM-wide cache of equality-delete key sets: one
  * parquet read per (executor, tombstone dir), shared by every task.
  * Tombstone dirs are immutable once committed (compaction retires
  * them by deleting the whole version dir), so entries never go stale;
  * the map is bounded by the number of outstanding eq-del commits —
  * point-delete-sized by the deleteByKeys contract.
  *
  * Null-key tuples are dropped at load: the DataFrame path masks via
  * an anti-JOIN, where NULL never equals anything — a tombstone row
  * with a null key masks nothing, and a data row with a null key is
  * never masked (the probe side checks that).
  */
private[graft] object EqDelKeys {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Set[Seq[Any]]]()

  def load(dir: String, keySchema: StructType): Set[Seq[Any]] =
    cache.computeIfAbsent(dir, d => doLoad(d, keySchema))

  private def doLoad(dir: String, keySchema: StructType): Set[Seq[Any]] = {
    val conf = graft.storage.HadoopConfs.fresh()
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val out = Set.newBuilder[Seq[Any]]
    fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).foreach { f =>
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
            f)
          .withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null) {
            val gt = g.getType
            val vals: Seq[Any] = keySchema.fields.toSeq.map(fd =>
              LakehouseStream.decodeGroupField(g, gt, fd.name, fd.dataType))
            if (!vals.contains(null)) out += vals
            g = reader.read()
          }
        } finally reader.close()
      }
    out.result()
  }
}

private[sources] class LakehouseReaderFactory(schema: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LakehouseFilePartition]
    new LakehouseGroupReader(p, schema, filters)
  }
}

/** One-file parquet → InternalRow reader over parquet-hadoop's public
  * Group API. Row-at-a-time (see the class doc's vectorization note);
  * null detection via field repetition count; missing columns (schema
  * evolution — older files predate a widened contract) read as null.
  */
private[sources] class LakehouseGroupReader(
    partition: LakehouseFilePartition,
    schema: StructType,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
    extends PartitionReader[InternalRow] {

  // column projection + predicate pushdown INTO parquet: the requested
  // read schema narrows to the columns the scan needs (parquet then
  // never decodes the others — the column-pruning IO win), and the
  // translatable pushed filters become a parquet FilterPredicate
  // (row-group statistics skipping + record-level filtering inside the
  // file — the within-file analogue of the scan's zone-map file cut).
  // Both are computed per file against ITS footer schema: older files
  // may predate widened columns (schema evolution), and a predicate or
  // projection naming an absent column would make parquet throw rather
  // than null-fill.
  private val conf = graft.storage.HadoopConfs.fresh()
  private val fileSchema: org.apache.parquet.schema.MessageType = {
    val r = graft.storage.FooterStats.openReader(new Path(partition.file), conf)
    try r.getFileMetaData.getSchema finally r.close()
  }
  private val reader = {
    import scala.jdk.CollectionConverters._
    val present = schema.fields.filter(f => fileSchema.containsField(f.name))
    // equality-delete probing needs the KEY columns decoded even when
    // the query's projection pruned them — widen the parquet read
    // schema (emitted rows still carry only `schema`'s fields). A key
    // column ABSENT from the file decodes null → null never matches a
    // tombstone → the row correctly survives.
    val keyExtra = partition.eqDels.flatMap(_.keySchema.fields)
      .filter(f => fileSchema.containsField(f.name) &&
        !present.exists(_.name == f.name))
      .distinctBy(_.name)
    // empty projection (count-only scans) still needs ONE column to
    // drive row iteration — pick the file's first (cheapest to decode
    // would be nicer; first is deterministic)
    val types =
      if (present.nonEmpty || keyExtra.nonEmpty)
        (present.toSeq ++ keyExtra).map(f =>
          fileSchema.getType(fileSchema.getFieldIndex(f.name)))
      else Seq(fileSchema.getFields.get(0))
    conf.set(org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA,
      new org.apache.parquet.schema.MessageType(fileSchema.getName,
        types.asJava).toString)
    val presentNames = present.map(_.name).toSet
    val b = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new Path(partition.file))
      .withConf(conf)
    LakehouseStream.toParquetPredicate(filters, schema, presentNames,
      c => if (fileSchema.containsField(c))
        Some(fileSchema.getType(fileSchema.getFieldIndex(c))
          .asPrimitiveType().getPrimitiveTypeName)
      else None) match {
      case Some(p) => b.withFilter(
        org.apache.parquet.filter2.compat.FilterCompat.get(p)).build()
      case None => b.build()
    }
  }
  private var current: org.apache.parquet.example.data.Group = _

  // deletion-vector mask: physical row position within the file (the
  // factory disabled the FilterPredicate for DV files, so the counter
  // tracks `_metadata.row_index` exactly). The sidecars are opened
  // HERE, executor-side — the task pays O(this file's deleted runs),
  // the driver shipped only the paths
  private val dvRuns: graft.storage.DvSidecar.Runs =
    if (partition.dvSidecars.isEmpty) graft.storage.DvSidecar.EmptyRuns
    else graft.storage.DvSidecar.loadFor(conf, partition.dvSidecars)
  private var rowPos: Long = -1L

  // equality-delete masks: per applicable tombstone set, the key
  // columns and the loaded value set (executor-side, JVM-cached —
  // the driver shipped only dir + key schema). A row is masked when
  // its null-free key tuple is in any set.
  private val eqDelSets: Seq[(Array[(String, DataType)], Set[Seq[Any]])] =
    partition.eqDels.map { ref =>
      (ref.keySchema.fields.map(f => (f.name, f.dataType)),
        EqDelKeys.load(ref.dir, ref.keySchema))
    }

  private def eqDeleted(g: org.apache.parquet.example.data.Group): Boolean =
    eqDelSets.nonEmpty && {
      val gt = g.getType
      eqDelSets.exists { case (cols, keys) =>
        val vals: Seq[Any] = cols.toSeq.map { case (n, dt) =>
          LakehouseStream.decodeGroupField(g, gt, n, dt)
        }
        !vals.contains(null) && keys.contains(vals)
      }
    }

  override def next(): Boolean = {
    current = reader.read()
    rowPos += 1
    if (partition.dvEmitMasked) {
      // change-feed delete emission: serve ONLY the tombstoned
      // positions (the pre-image rows a DV commit removed)
      while (current != null && !dvRuns.contains(rowPos)) {
        current = reader.read()
        rowPos += 1
      }
    } else {
      while (current != null &&
        ((!dvRuns.isEmpty && dvRuns.contains(rowPos)) ||
          eqDeleted(current))) {
        current = reader.read()
        rowPos += 1
      }
    }
    current != null
  }

  override def get(): InternalRow = {
    val gt = current.getType
    val vals = schema.fields.map { f =>
      if (!gt.containsField(f.name)) f.name match {
        // commit-lineage metadata columns, filled from the partition
        // when the file predates them
        case LakehouseStream.ChangeTypeCol =>
          partition.fillChangeType.map(UTF8String.fromString).orNull
        case LakehouseStream.CommitVersionCol => partition.commitVersion
        case _ => null
      }
      else LakehouseStream.decodeGroupField(current, gt, f.name, f.dataType)
    }
    InternalRow.fromSeq(vals.toIndexedSeq)
  }

  override def close(): Unit = reader.close()
}

private[graft] object LakehouseStream {

  /** Stress/observability hook (StressCkpt): the admission head of a
    * table path exactly as the streaming source computes it per tick —
    * including the checkpoint-facts path — without standing up a query.
    */
  private[graft] def stableHeadOf(tablePath: String): Long =
    new LakehouseMicroBatchStream(tablePath,
      new org.apache.spark.sql.types.StructType(),
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap()))
      .reportLatestOffset().asInstanceOf[VersionOffset].version

  /** CDF / append partition classification for the committed range
    * (fromVersion, toVersion] — ONE implementation shared by the
    * micro-batch stream (per batch) and the BATCH change-feed scan
    * (`changesFrom`/`changesTo` read options). Covered commits classify
    * from checkpoint facts (kind + marker presence) under the same
    * mtime-identity rule as resolve; only the tail pays live probes.
    */
  private[sources] def changePartitions(fs: FileSystem,
      tablePath: String, from: Long, to: Long,
      readChangeFeed: Boolean): Seq[LakehouseFilePartition] = {
    val dest = new Path(tablePath)
    def listDataFiles(p: Path): Seq[String] = {
      val out = Seq.newBuilder[String]
      def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (!n.startsWith("_") && !n.startsWith(".")) {
          if (st.isDirectory) walk(st.getPath)
          else if (n.endsWith(".parquet")) out += st.getPath.toString
        }
      }
      walk(p)
      out.result()
    }
    val facts = graft.storage.MetaCheckpoint.commitFacts(fs, dest,
      graft.storage.MetaCheckpoint.enabled(SparkSession.active))
    val dirSt = Protocol.versionDirStatuses(fs, dest).toMap
    val dirs = dirSt.map { case (v, st) => v -> st.getPath }
    def factOf(fv: Long)
        : Option[graft.storage.MetaCheckpoint.CommitFacts] =
      facts.get(fv).filter(f => dirSt.get(fv)
        .exists(_.getModificationTime == f.dirMtime))
    def kindOf(fv: Long, p: Path): Option[Boolean] =
      factOf(fv).map(_.full).orElse(Protocol.commitKind(fs, p))
    def hasMark(fv: Long,
        sel: graft.storage.MetaCheckpoint.CommitDetail => Boolean,
        probe: => Boolean): Boolean =
      factOf(fv).flatMap(_.detail).map(sel).getOrElse(probe)
    val files = Seq.newBuilder[LakehouseFilePartition]
    ((from + 1) to to).foreach { v =>
      dirs.get(v) match {
        case None =>
          // missing number: crash debris (claimed, never written — skip)
          // unless a FULL commit above it exists, which means compaction
          // GC'd a delta the stream never consumed — data loss for the
          // feed, fail loudly (run gcGraceMs above the consumer lag)
          val gcd = dirs.exists { case (fv, p) =>
            fv > v && kindOf(fv, p).contains(true)
          }
          if (gcd) throw new IllegalStateException(
            s"$tablePath version $v was garbage-collected under the " +
              "stream (compaction outran the consumer) — the feed is " +
              "incomplete; re-seed the query or raise gcGraceMs")
        case Some(p) => kindOf(v, p) match {
          case None => // uncommitted debris inside the range: no rows
          case Some(false)
            if hasMark(v, _.rewrite,
              fs.exists(new Path(p, Protocol.MarkerRewrite))) =>
            // a REWRITE commit (rewriteDeletes) changes no logical rows:
            // its whole-file masks cover rows whose deletes prior DV/
            // eq-del commits already emitted, and its data files are
            // moved survivors, not inserts — both stream modes emit
            // nothing for it (the recorded-empty stance compaction takes)
          case Some(false) =>
            // a deletion-vector commit names rows by POSITION. In CDF
            // mode the feed resolves them to PRE-IMAGE delete records
            // at plan time using only metadata: one partition per
            // affected data file, carrying that file's sidecar path
            // with emit-masked-only mode — the reader serves exactly
            // the tombstoned rows, positions never touch the driver.
            // An append stream still cannot represent a delete.
            val dvDir = new Path(p, Protocol.DvDir)
            if (hasMark(v, _.dv, fs.exists(dvDir))) {
              if (!readChangeFeed) throw new IllegalStateException(
                s"$tablePath version $v is a deletion-vector commit — " +
                  "an append stream cannot represent positional " +
                  "deletes; stream with readChangeFeed=true")
              val idx = graft.storage.DvSidecar.index(fs, dvDir)
              if (idx.nonEmpty) {
                val lower: Map[String, String] =
                  ((dirs.filter(_._1 < v).values.toSeq :+ dest)
                    .filter(fs.exists(_))
                    .flatMap(listDataFiles))
                    .map(f => new Path(f).getName -> f).toMap
                files ++= idx.toSeq.map { case (dataName, sidecar) =>
                  val dataPath = lower.getOrElse(dataName,
                    throw new IllegalStateException(
                      s"$tablePath version $v tombstones unknown file " +
                        dataName))
                  LakehouseFilePartition(dataPath, v, Some("delete"),
                    dvSidecars = Seq(sidecar), dvEmitMasked = true)
                }
              }
            }
            val eqDel = new Path(p, Protocol.EqDelDir)
            if (hasMark(v, _.eqDel, fs.exists(eqDel))) {
              // equality-delete tombstones: key-only delete records in
              // CDF mode; an append stream cannot represent them
              if (!readChangeFeed) throw new IllegalStateException(
                s"$tablePath version $v is an equality-delete commit — " +
                  "an append stream cannot represent it; stream with " +
                  "readChangeFeed=true")
              files ++= fs.listStatus(eqDel)
                .filter(_.getPath.getName.endsWith(".parquet"))
                .map(st => LakehouseFilePartition(
                  st.getPath.toString, v, Some("delete")))
            }
            // delta files predate the change-type column: fill "insert"
            files ++= listDataFiles(p).map(f =>
              LakehouseFilePartition(f, v, Some("insert")))
          case Some(true) =>
            val cdf = new Path(p, Protocol.CdfDir)
            if (readChangeFeed) {
              // CDF mode serves the FULL commit's recorded change rows
              // verbatim (they carry their own _change_type); unrecorded
              // rewrites still fail loudly below
              if (!fs.exists(cdf)) throw new IllegalStateException(
                s"$tablePath version $v is a FULL commit without " +
                  "recorded change data (blind overwrite, or delete/" +
                  "merge with cdf=false) — no row-level feed across it")
              files ++= fs.listStatus(cdf)
                .filter(_.getPath.getName.endsWith(".parquet"))
                .map(st => LakehouseFilePartition(
                  st.getPath.toString, v, None))
            } else {
              // append mode rides through it ONLY if the recorded
              // change feed says "no logical change"
              val emptyFeed = fs.exists(cdf) &&
                parquetRowCount(fs,
                SparkSession.active.sparkContext.hadoopConfiguration, cdf) == 0L
              if (!emptyFeed) throw new IllegalStateException(
                s"$tablePath version $v is a FULL rewrite with row-level " +
                  "changes (delete/merge/overwrite) — an append stream " +
                  "cannot represent it; re-seed the query past it, or " +
                  "stream with readChangeFeed=true")
            }
        }
      }
    }
    files.result()
  }

  /** One parquet Group field → Catalyst value, by declared Spark type.
    * Shared by the partition reader's row materialization and the
    * executor-side equality-delete key loader — BOTH sides of an eq-del
    * probe must decode through the same path or value equality breaks
    * (e.g. String vs UTF8String, decimal scale variants).
    */
  def decodeGroupField(g: org.apache.parquet.example.data.Group,
      gt: org.apache.parquet.schema.GroupType, name: String,
      dt: DataType): Any = {
    if (!gt.containsField(name)) return null
    val idx = gt.getFieldIndex(name)
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def prim = gt.getType(idx).asPrimitiveType().getPrimitiveTypeName
    if (g.getFieldRepetitionCount(idx) == 0) null
    else dt match {
      // type WIDENING (ALTER COLUMN TYPE): files written before the
      // widen keep the narrow encoding — decode by the FILE's
      // primitive, emit the contract's type (mirrors the vectorized
      // reader's IntegerToLong/FloatToDouble/… updaters)
      case LongType if prim == INT32 => g.getInteger(idx, 0).toLong
      case LongType => g.getLong(idx, 0)
      case IntegerType => g.getInteger(idx, 0)
      case DoubleType if prim == FLOAT => g.getFloat(idx, 0).toDouble
      case DoubleType if prim == INT32 => g.getInteger(idx, 0).toDouble
      case DoubleType => g.getDouble(idx, 0)
      case FloatType => g.getFloat(idx, 0)
      case BooleanType => g.getBoolean(idx, 0)
      case StringType =>
        UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
      case DateType => g.getInteger(idx, 0) // days since epoch
      case TimestampType | TimestampNTZType =>
        LakehouseStream.decodeTimestampMicros(
          gt.getType(idx).asPrimitiveType(), g, idx)
      case dt2: DecimalType =>
        LakehouseStream.decodeDecimal(
          gt.getType(idx).asPrimitiveType(), g, idx, dt2)
      // one-level STRUCT (round-12: the streaming/CDF row surfaces no
      // longer refuse them): decode the nested Group field-by-field
      // through this same path, so nested ADD (absent → null) and
      // nested WIDEN (file-primitive-aware) behave exactly as they do
      // on the vectorized batch path
      case st: StructType =>
        val sub = g.getGroup(idx, 0)
        val subType = gt.getType(idx).asGroupType()
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          st.fields.map(f2 =>
            decodeGroupField(sub, subType, f2.name, f2.dataType)))
      case other => throw new UnsupportedOperationException(
        s"unreachable: $other passed validateSchema")
    }
  }

  /** Pushed V1 Filters → parquet FilterPredicate, restricted to the
    * conjuncts that translate soundly: comparisons/IN/IS-(NOT-)NULL on
    * long/int/double/float/boolean/string columns PRESENT in the file.
    * Decimal/timestamp/date stay post-scan (their parquet value
    * encodings vary by writer). Untranslatable conjuncts drop — safe,
    * because the scan keeps every pushed filter as a post-scan residual
    * (a parquet-level filter can only over-cut matching exactly, never
    * under-report: AND of a subset).
    */
  def toParquetPredicate(
      filters: Array[org.apache.spark.sql.sources.Filter],
      schema: StructType, presentCols: Set[String],
      filePrim: String =>
        Option[org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName] =
        _ => None)
      : Option[org.apache.parquet.filter2.predicate.FilterPredicate] = {
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.spark.sql.sources._

    def colType(c: String): Option[DataType] =
      if (!presentCols.contains(c)) None
      else schema.fields.find(_.name == c).map(_.dataType)
        .filter { dt =>
          // type WIDENING: a file written before ALTER COLUMN TYPE
          // carries the narrow physical encoding — a predicate typed by
          // the (wide) contract would make parquet throw. Translate
          // only when the file's primitive matches the contract's
          // expectation; otherwise the conjunct stays a post-scan
          // residual (exactness never depends on the parquet cut).
          val expected: Option[PrimitiveTypeName] = dt match {
            case LongType => Some(PrimitiveTypeName.INT64)
            case IntegerType => Some(PrimitiveTypeName.INT32)
            case DoubleType => Some(PrimitiveTypeName.DOUBLE)
            case FloatType => Some(PrimitiveTypeName.FLOAT)
            case StringType => Some(PrimitiveTypeName.BINARY)
            case BooleanType => Some(PrimitiveTypeName.BOOLEAN)
            case _ => None
          }
          (filePrim(c), expected) match {
            case (Some(actual), Some(exp)) => actual == exp
            case _ => true // unknown file layout: legacy call shape
          }
        }

    // comparison builder per supported physical type; None = untranslatable
    def cmp(c: String, v: Any,
        op: String): Option[FilterPredicate] = colType(c).flatMap { dt =>
      (dt, v) match {
        case (LongType, x: java.lang.Long) =>
          val col = FilterApi.longColumn(c)
          Some(op match {
            case "eq" => FilterApi.eq(col, x)
            case "gt" => FilterApi.gt(col, x)
            case "ge" => FilterApi.gtEq(col, x)
            case "lt" => FilterApi.lt(col, x)
            case "le" => FilterApi.ltEq(col, x)
          })
        case (IntegerType, x: java.lang.Integer) =>
          val col = FilterApi.intColumn(c)
          Some(op match {
            case "eq" => FilterApi.eq(col, x)
            case "gt" => FilterApi.gt(col, x)
            case "ge" => FilterApi.gtEq(col, x)
            case "lt" => FilterApi.lt(col, x)
            case "le" => FilterApi.ltEq(col, x)
          })
        case (DoubleType, x: java.lang.Double) =>
          val col = FilterApi.doubleColumn(c)
          Some(op match {
            case "eq" => FilterApi.eq(col, x)
            case "gt" => FilterApi.gt(col, x)
            case "ge" => FilterApi.gtEq(col, x)
            case "lt" => FilterApi.lt(col, x)
            case "le" => FilterApi.ltEq(col, x)
          })
        case (FloatType, x: java.lang.Float) =>
          val col = FilterApi.floatColumn(c)
          Some(op match {
            case "eq" => FilterApi.eq(col, x)
            case "gt" => FilterApi.gt(col, x)
            case "ge" => FilterApi.gtEq(col, x)
            case "lt" => FilterApi.lt(col, x)
            case "le" => FilterApi.ltEq(col, x)
          })
        case (StringType, x: String) =>
          val col = FilterApi.binaryColumn(c)
          val b = Binary.fromString(x)
          Some(op match {
            case "eq" => FilterApi.eq(col, b)
            case "gt" => FilterApi.gt(col, b)
            case "ge" => FilterApi.gtEq(col, b)
            case "lt" => FilterApi.lt(col, b)
            case "le" => FilterApi.ltEq(col, b)
          })
        case (BooleanType, x: java.lang.Boolean) if op == "eq" =>
          Some(FilterApi.eq(FilterApi.booleanColumn(c), x))
        case _ => None
      }
    }

    def nullTest(c: String, isNull: Boolean): Option[FilterPredicate] =
      colType(c).flatMap {
        case LongType => Some(if (isNull)
          FilterApi.eq(FilterApi.longColumn(c), null.asInstanceOf[java.lang.Long])
          else FilterApi.notEq(FilterApi.longColumn(c), null.asInstanceOf[java.lang.Long]))
        case IntegerType => Some(if (isNull)
          FilterApi.eq(FilterApi.intColumn(c), null.asInstanceOf[java.lang.Integer])
          else FilterApi.notEq(FilterApi.intColumn(c), null.asInstanceOf[java.lang.Integer]))
        case DoubleType => Some(if (isNull)
          FilterApi.eq(FilterApi.doubleColumn(c), null.asInstanceOf[java.lang.Double])
          else FilterApi.notEq(FilterApi.doubleColumn(c), null.asInstanceOf[java.lang.Double]))
        case StringType => Some(if (isNull)
          FilterApi.eq(FilterApi.binaryColumn(c), null.asInstanceOf[Binary])
          else FilterApi.notEq(FilterApi.binaryColumn(c), null.asInstanceOf[Binary]))
        case _ => None
      }

    def tr(f: Filter): Option[FilterPredicate] = f match {
      case EqualTo(c, v) => cmp(c, v, "eq")
      case GreaterThan(c, v) => cmp(c, v, "gt")
      case GreaterThanOrEqual(c, v) => cmp(c, v, "ge")
      case LessThan(c, v) => cmp(c, v, "lt")
      case LessThanOrEqual(c, v) => cmp(c, v, "le")
      case In(c, vs) =>
        val parts = vs.toSeq.filter(_ != null).map(v => cmp(c, v, "eq"))
        if (parts.isEmpty || parts.exists(_.isEmpty)) None
        else Some(parts.flatten.reduce(FilterApi.or))
      case IsNull(c) => nullTest(c, isNull = true)
      case IsNotNull(c) => nullTest(c, isNull = false)
      case And(l, r) => (tr(l), tr(r)) match {
        case (Some(a), Some(b)) => Some(FilterApi.and(a, b))
        case (a, b) => a.orElse(b) // AND may drop a side soundly
      }
      case Or(l, r) => for (a <- tr(l); b <- tr(r))
        yield FilterApi.or(a, b) // OR must translate whole or not at all
      case _ => None
    }

    val parts = filters.toSeq.flatMap(f => tr(f))
    parts.reduceOption(FilterApi.and)
  }

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  private val Supported: Set[DataType] = Set(LongType, IntegerType,
    DoubleType, FloatType, BooleanType, StringType, DateType,
    TimestampType, TimestampNTZType)

  /** Fail at plan time, not mid-stream, on column types the Group reader
    * doesn't decode.
    */
  def validateSchema(schema: StructType): Unit =
    validateSchema(schema, flatOnly = false)

  /** `flatOnly = true` is the ROW-DECODER surfaces' contract (the
    * streaming source and the change feed decode via the Group reader,
    * which reads scalars only); the batch/catalog surface also accepts
    * ONE level of StructType whose fields are all scalar — Spark's own
    * vectorized reader decodes those, and nested ADD/DROP field
    * evolution rides its per-file requested-schema clipping.
    */
  def validateSchema(schema: StructType, flatOnly: Boolean): Unit = {
    def scalar(dt: org.apache.spark.sql.types.DataType): Boolean =
      Supported.contains(dt) || dt.isInstanceOf[DecimalType]
    val bad = schema.fields.filterNot(f =>
      scalar(f.dataType) || (!flatOnly && (f.dataType match {
        case s: StructType =>
          s.fields.nonEmpty && s.fields.forall(g => scalar(g.dataType))
        case _ => false
      })))
    require(bad.isEmpty,
      s"graft lakehouse ${if (flatOnly) "stream/feed " else ""}supports " +
        s"${Supported.mkString(", ")}" +
        (if (flatOnly) "" else " and one-level structs of them") + "; " +
        s"unsupported: ${bad.map(f => s"${f.name}: ${f.dataType}").mkString(", ")}")
    // ':' and ',' are the rename mapping's delimiters ('physical:logical'
    // pairs, ','-joined in graft.renamedColumns) — a column name carrying
    // either would silently corrupt the persisted mapping of EVERY
    // renamed column on the next parse. Refused at CREATE/ADD/RENAME.
    val delim = schema.fields.filter(f =>
      f.name.exists(c => c == ':' || c == ','))
    require(delim.isEmpty,
      "column names may not contain ':' or ',' (rename-mapping " +
        s"delimiters): ${delim.map(f => s"`${f.name}`").mkString(", ")}")
  }

  /** Catalyst Decimal from any physical parquet decimal encoding Spark
    * writes: INT32/INT64 unscaled (precision ≤ 18) or
    * BINARY / FIXED_LEN_BYTE_ARRAY big-endian unscaled bytes (wider,
    * or legacy writer mode). The logical annotation's scale wins over
    * the requested type's, then the value is rescaled to the contract.
    */
  def decodeDecimal(pt: org.apache.parquet.schema.PrimitiveType,
      group: org.apache.parquet.example.data.Group, idx: Int,
      dt: DecimalType): org.apache.spark.sql.types.Decimal = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    val scale = pt.getLogicalTypeAnnotation match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
        d.getScale
      case _ => dt.scale
    }
    val unscaled: java.math.BigDecimal = pt.getPrimitiveTypeName match {
      case INT32 =>
        java.math.BigDecimal.valueOf(group.getInteger(idx, 0).toLong, scale)
      case INT64 =>
        java.math.BigDecimal.valueOf(group.getLong(idx, 0), scale)
      case BINARY | FIXED_LEN_BYTE_ARRAY =>
        new java.math.BigDecimal(
          new java.math.BigInteger(group.getBinary(idx, 0).getBytes), scale)
      case other => throw new UnsupportedOperationException(
        s"decimal stored as $other is not supported")
    }
    org.apache.spark.sql.types.Decimal(
      unscaled.setScale(dt.scale), dt.precision, dt.scale)
  }

  /** Epoch micros from either physical parquet timestamp encoding:
    * INT64 with a µs/ms/ns logical annotation, or legacy INT96
    * (little-endian nanos-of-day + Julian day — what Spark writes under
    * its default outputTimestampType on some versions).
    */
  def decodeTimestampMicros(pt: org.apache.parquet.schema.PrimitiveType,
      group: org.apache.parquet.example.data.Group, idx: Int): Long = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case INT64 =>
        val v = group.getLong(idx, 0)
        pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => v * 1000L
              case LogicalTypeAnnotation.TimeUnit.MICROS => v
              case LogicalTypeAnnotation.TimeUnit.NANOS => v / 1000L
            }
          case _ => v // bare INT64: assume micros
        }
      case INT96 =>
        val buf = java.nio.ByteBuffer
          .wrap(group.getInt96(idx, 0).getBytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        val julianDay = buf.getInt
        (julianDay - 2440588L) * 86400000000L + nanosOfDay / 1000L
      case other => throw new UnsupportedOperationException(
        s"timestamp stored as $other is not supported")
    }
  }

  /** Total record count of the parquet files under `dir`, from footers
    * only (no data pages) — how the source decides a maintenance
    * commit's recorded feed is empty.
    */
  def parquetRowCount(fs: FileSystem, conf: Configuration,
      dir: Path): Long =
    fs.listStatus(dir).filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val r = graft.storage.FooterStats.openReader(st.getPath, conf)
        try r.getRecordCount finally r.close()
      }.sum
}
