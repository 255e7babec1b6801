package graft.sources

import graft.storage.Lakehouse.Protocol
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.connector.expressions.{NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsPushDownAggregates, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util.OptionalLong

/** Batch DataSource V2 over a lakehouse table — the planning-layer
  * integration that makes the commit log a first-class Spark source:
  *
  * {{{
  * spark.read.format("graft.sources.LakehouseBatchProvider")
  *   .schema(contract).load(lake.tablePath("fact"))
  * }}}
  *
  * What the V2 surface buys (each visible in `.explain` and pinned in
  * LakehouseBatchSpec):
  *
  *  - **Snapshot isolation at plan time.** The live set (latest committed
  *    FULL + later committed DELTAs) is resolved ONCE, from commit
  *    markers — concurrent writers never tear a scan.
  *  - **Column pruning** ([[SupportsPushDownRequiredColumns]]): the scan
  *    schema narrows to what the query touches.
  *  - **Filter pushdown + zone-map file skipping**
  *    ([[SupportsPushDownFilters]]): comparison/equality/IN predicates on
  *    columns covered by the table's `_GRAFT_STATS` manifests prune WHOLE
  *    FILES at plan time (the manifest read is metadata-sized, the same
  *    file-cut `Lakehouse.readBetween` does by hand — here it falls out
  *    of every `WHERE` clause automatically). Pushed filters are also
  *    kept as post-scan filters: zone maps are file-granular, so rows
  *    still filter exactly.
  *  - **Complete aggregate pushdown** ([[SupportsPushDownAggregates]]):
  *    ungrouped COUNT(*) / MIN(col) / MAX(col) are answered WITHOUT
  *    reading any data — COUNT from parquet footers, MIN/MAX from the
  *    zone-map manifests (only when every live file is manifest-covered;
  *    otherwise the pushdown is declined and Spark aggregates normally).
  *    `SELECT count(*), min(ts), max(ts)` on a 100 TB table becomes a
  *    driver-side metadata walk.
  *  - **Statistics** ([[SupportsReportStatistics]]): sizeInBytes + row
  *    count from the live manifest/footers feed the optimizer's join
  *    planning — a lakehouse dim below the broadcast threshold
  *    auto-broadcasts, no hint needed.
  *
  * Contracts: merge-on-read equality-delete tombstones are served
  * natively — the driver ships (dir, key schema) per tombstone commit
  * and partition readers load the key sets executor-side (EqDelKeys),
  * dropping matching rows of lower-version files; aggregate pushdown
  * declines while tombstones are outstanding (footer counts would
  * over-report). Directory-encoded partition columns are not
  * surfaced (same as the streaming source — columns live in the files
  * for every `Lakehouse.append` layout). The per-file reader is
  * VECTORIZED (Spark's columnar decoder → ColumnarBatch → whole-stage
  * codegen; see [[LakehouseColumnarReaderFactory]]), with the shared
  * row-at-a-time Group decoder as the zero-column fallback — that row
  * path also carries the within-file parquet FilterPredicate cut.
  */
class LakehouseBatchProvider extends TableProvider {

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val ddl = options.get("schemaDDL")
    if (ddl != null) return StructType.fromDDL(ddl)
    // catalog-managed tables persist their contract (_GRAFT_SCHEMA) —
    // path-based reads of those need no explicit schema
    val path = options.get("path")
    if (path != null && path.nonEmpty) {
      val p = new Path(path, GraftCatalog.SchemaFile)
      val fs = p.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      if (fs.exists(p))
        // present the LOGICAL names: the schema file keeps physical
        // (pre-rename) names, the table's contract is what RENAME
        // COLUMN evolved it to
        return LakehouseBatch.renameFields(
          GraftCatalog.readSchema(fs, p),
          LakehouseBatchProvider.renamesAt(fs, path))
    }
    throw new IllegalArgumentException(
      "graft lakehouse batch needs a schema: .schema(...), " +
        ".option(\"schemaDDL\", ...), or a catalog table with a " +
        "persisted _GRAFT_SCHEMA")
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "graft lakehouse batch needs the table directory: .load(<path>)")
    LakehouseStream.validateSchema(schema)
    // `schema` arrives in LOGICAL names (inferred above, or the
    // caller's .schema(...)); a catalog dir with renamed columns maps
    // it back to the PHYSICAL names the engine operates in
    val fs = new Path(path).getFileSystem(
      SparkSession.active.sparkContext.hadoopConfiguration)
    val renames = LakehouseBatchProvider.renamesAt(fs, path)
    new LakehouseBatchTable(path,
      LakehouseBatch.physicalSchema(schema, GraftCatalog.invertRenames(renames)),
      renames = renames)
  }
}

private[sources] object LakehouseBatchProvider {
  /** physical→logical rename mapping persisted in the dir's props —
    * empty for non-catalog dirs and tables never renamed.
    */
  def renamesAt(fs: FileSystem, path: String): Map[String, String] = {
    val p = new Path(path, GraftCatalog.PropsFile)
    if (!fs.exists(p)) Map.empty
    else GraftCatalog.parseRenames(GraftCatalog.readProps(fs, p))
  }
}

private[sources] class LakehouseBatchTable(path: String, tschema: StructType,
    tableAsOf: Option[Long] = None, branch: Option[String] = None,
    renames: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_lakehouse($path)"
  /** `tschema` is PHYSICAL (file/manifest names); the presented schema
    * is LOGICAL — `renames` (physical→logical) differs only for
    * columns a `RENAME COLUMN` touched (see
    * [[GraftCatalog.RenamedColumnsProp]]).
    */
  override def schema(): StructType =
    LakehouseBatch.renameFields(tschema, renames)
  /** logical → physical, for the write/filter boundary. */
  protected final def l2p: Map[String, String] =
    GraftCatalog.invertRenames(renames)
  /** Partition (clustering) columns the scan may report as a
    * [[org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning]]
    * for storage-partitioned joins — overridden by the catalog table
    * with its `PARTITIONED BY` columns; path-based reads have none.
    */
  protected def scanPartitionCols: Seq[String] = Nil
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE)

  /** PATH-based V2 writes (Delta's `df.write.format(...).save(path)`
    * shape): `mode("append")` commits one delta, `mode("overwrite")`
    * one FULL snapshot — both through the same crash-safe commit
    * protocol as every other writer, so concurrent readers never tear
    * and concurrent appends rebase. A catalog-managed dir keeps its
    * persisted layout on THIS entry point too: partition/bucket specs
    * cluster the incoming rows and record their zone-map stats and
    * bloom columns exactly as `INSERT INTO` does, so file pruning and
    * the storage-partitioned-join key proof survive path writes
    * instead of silently degrading to unclustered files. A fresh
    * (non-catalog) dir needs the contract declared once via
    * `.option("schemaDDL", ...)`; the catalog write path
    * (GraftTable.newWriteBuilder) overrides this with its richer
    * builder (dynamic overwrite, streaming, auto-compact).
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(tableAsOf.isEmpty && branch.isEmpty,
      "cannot write through a time-travel/branch read handle")
    new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        // `writeStream.format(provider).start(path)` — the same
        // exactly-once staged-parquet epoch commit the catalog's
        // toTable sink uses (LakehouseStreamingWrite); append output
        // mode only, like that sink
        override def toStreaming: org.apache.spark.sql.connector.write
            .streaming.StreamingWrite = {
          require(!overwrite,
            "path streaming writes support APPEND output only")
          new LakehouseStreamingWrite(path,
            LakehouseBatch.physicalSchema(info.schema(), l2p),
            info.queryId())
        }
        override def toInsertableRelation: InsertableRelation =
          (data: org.apache.spark.sql.DataFrame, over: Boolean) => {
            val spark = SparkSession.active
            val dir = new Path(path)
            val fs = dir.getFileSystem(
              spark.sparkContext.hadoopConfiguration)
            val propsFile = new Path(dir, GraftCatalog.PropsFile)
            val props: Map[String, String] =
              if (fs.exists(propsFile)) GraftCatalog.readProps(fs, propsFile)
              else Map.empty
            val specs = props.get(GraftCatalog.PartitionProp)
              .map(PartSpec.parseList).getOrElse(Nil)
            val clustered =
              if (specs.isEmpty) data
              else graft.storage.Clustering.bySpecs(spark, data, specs,
                props.get(GraftCatalog.SpjMaxKeysProp).map(_.toInt)
                  .getOrElse(graft.storage.Clustering.DefaultMaxKeys))
            val stats = PartSpec.statNames(specs)
            val blooms = props.get(GraftCatalog.BloomColumnsProp)
              .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
              .getOrElse(Nil)
            val lake = new graft.storage.Lakehouse(spark,
              dir.getParent.toString)
            val t = dir.getName
            val phys = LakehouseBatch.toPhysicalDf(clustered, l2p)
            if (overwrite || over)
              lake.overwritePartitioned(t, phys, Nil,
                statsCols = stats, bloomCols = blooms)
            else lake.append(t, phys, statsCols = stats,
              bloomCols = blooms)
          }
      }
    }
  }
  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    // snapshot time travel: pin the live-set resolution at a committed
    // version (`readAt`'s semantics — throws past retention, never
    // silently mis-resolves). The options serve path-based reads
    // (Delta's `versionAsOf`/`timestampAsOf` reader-option shape); the
    // constructor pin serves SQL `VERSION/TIMESTAMP AS OF` via the
    // catalog's loadTable overloads. A timestamp resolves to the newest
    // commit whose marker instant is at or before it — the SAME rule as
    // the SQL path (Lakehouse.readAsOf), through the checkpoint-backed
    // history so the resolution stays O(tail) on long chains.
    val asOfV = Option(options.get("versionAsOf")).map(_.toLong)
    val asOfTs = Option(options.get("timestampAsOf"))
    require(asOfV.isEmpty || asOfTs.isEmpty,
      "versionAsOf and timestampAsOf are mutually exclusive — a read " +
        "names ONE as-of point")
    val asOf = asOfV
      .orElse(asOfTs.map(LakehouseBatchTable.resolveTimestampAsOf(path, _)))
      .orElse(tableAsOf)
    // write-audit-publish: `branch` widens the live set with the
    // branch's staged (uncommitted) dirs — the SQL audit view
    val br = Option(options.get("branch")).orElse(branch)
    // BATCH change-feed read (Delta's readChangeFeed shape):
    //   spark.read.format(...).schema(contract + _change_type STRING
    //     [+ _commit_version BIGINT])
    //     .option("changesFrom", n)[.option("changesTo", m)].load(path)
    // serves the row-level changes of the committed range (n, m] —
    // deltas as inserts, DV commits as pre-image deletes, equality
    // tombstones as key-only deletes, recorded FULL feeds verbatim —
    // through the same partition classification as the streaming CDF
    // source (one implementation, LakehouseStream.changePartitions).
    // Delta's exact spelling is accepted as an alias:
    //   .option("readChangeFeed", "true").option("startingVersion", n)
    //     [.option("endingVersion", m)]
    // with Delta's INCLUSIVE bounds — startingVersion n maps to the
    // native exclusive-start range (n-1, m]. Mixing the two vocabularies
    // in one read is refused (ambiguous bounds are worse than loud).
    val deltaStart = Option(options.get("startingVersion")).map(_.toLong)
    val deltaEnd = Option(options.get("endingVersion")).map(_.toLong)
    require(deltaStart.isEmpty ||
      java.lang.Boolean.parseBoolean(options.get("readChangeFeed")),
      "startingVersion needs readChangeFeed=true (Delta's CDF shape)")
    require(deltaStart.isDefined || deltaEnd.isEmpty,
      "endingVersion needs startingVersion")
    require(deltaStart.isEmpty || options.get("changesFrom") == null,
      "use ONE vocabulary: changesFrom/changesTo (exclusive start) or " +
        "readChangeFeed + startingVersion/endingVersion (inclusive)")
    val chFrom = Option(options.get("changesFrom")).map(_.toLong)
      .orElse(deltaStart.map(_ - 1L))
    val chTo = Option(options.get("changesTo")).map(_.toLong)
      .orElse(deltaEnd)
    // a dangling changesTo / readChangeFeed without a start must fail
    // LOUDLY: falling through to a snapshot scan would serve every
    // live row with a null _change_type to a consumer that asked for
    // changes
    require(chFrom.isDefined || options.get("changesTo") == null,
      "changesTo needs changesFrom — a change-feed read names its range")
    require(chFrom.isDefined || options.get("readChangeFeed") == null,
      "batch change-feed reads are addressed by range: use " +
        "option(\"changesFrom\", n) [+ option(\"changesTo\", m)] or " +
        "readChangeFeed=true + startingVersion [+ endingVersion]")
    if (chFrom.isDefined) {
      require(asOf.isEmpty && br.isEmpty,
        "changesFrom does not compose with versionAsOf/timestampAsOf/" +
          "branch — the " +
          "feed's range IS its time selector")
      // plan-time type gates, not executor crashes: the reader fills
      // _change_type with strings and _commit_version with longs
      val ct = tschema.fields.find(
        _.name == graft.sources.LakehouseStream.ChangeTypeCol)
      require(ct.exists(_.dataType == org.apache.spark.sql.types
        .StringType),
        s"a change-feed read needs a " +
          s"${graft.sources.LakehouseStream.ChangeTypeCol} STRING " +
          "column in the schema")
      tschema.fields.find(
        _.name == graft.sources.LakehouseStream.CommitVersionCol)
        .foreach(f => require(f.dataType == org.apache.spark.sql.types
          .LongType,
          s"${graft.sources.LakehouseStream.CommitVersionCol} must be " +
            "BIGINT"))
      // round 12: the feed's Group decoder handles one-level structs
      // (decodeGroupField recurses) — same contract as the batch scan
      LakehouseStream.validateSchema(tschema)
      new CdfBatchScan(path, tschema, chFrom.get, chTo, renames)
    } else
      new LakehouseScanBuilder(path, tschema, asOf, br, options,
        scanPartitionCols, renames)
  }
}

private[sources] object LakehouseBatchTable {

  /** `timestampAsOf` → commit version: the newest commit whose marker
    * instant is at or before the given time — [[graft.storage.Lakehouse
    * .readAsOf]]'s resolution rule, the SAME one SQL `TIMESTAMP AS OF`
    * uses (GraftCatalog.loadTable(ident, micros)), so the option and
    * the SQL clause can never disagree about which snapshot an instant
    * names. The value is epoch MILLIS when all-digits, otherwise a
    * timestamp string (`yyyy-MM-dd[ HH:mm:ss[.S]]` interpreted in the
    * session time zone, or ISO-8601 with an explicit offset) — Delta's
    * `timestampAsOf` option shape. History resolves through the
    * metadata checkpoint, so this is O(tail) on long commit chains.
    */
  def resolveTimestampAsOf(path: String, ts: String): Long = {
    val spark = SparkSession.active
    val ms = parseTsMs(spark, ts)
    val dest = new Path(path)
    val lake = new graft.storage.Lakehouse(spark, dest.getParent.toString)
    val vs = lake.history(dest.getName).filter(_._3 <= ms).map(_._1)
    require(vs.nonEmpty,
      s"$path has no commit at or before timestampAsOf=$ts " +
        "(before table creation, or past retention)")
    vs.max
  }

  private def parseTsMs(spark: SparkSession, ts: String): Long = {
    val t = ts.trim
    if (t.nonEmpty && t.forall(_.isDigit)) t.toLong
    else {
      // parse order: explicit offset wins; else the session time zone
      // (NOT the JVM default — on a non-UTC host that would shift the
      // as-of point by the host's offset, the q55 footgun)
      val zone = java.time.ZoneId.of(
        spark.sessionState.conf.sessionLocalTimeZone)
      val iso = t.replace(' ', 'T')
      val instant =
        try java.time.OffsetDateTime.parse(iso).toInstant
        catch {
          case _: java.time.format.DateTimeParseException =>
            try java.time.LocalDateTime.parse(iso).atZone(zone).toInstant
            catch {
              case _: java.time.format.DateTimeParseException =>
                try java.time.LocalDate.parse(t).atStartOfDay(zone)
                  .toInstant
                catch {
                  case _: java.time.format.DateTimeParseException =>
                    throw new IllegalArgumentException(
                      s"cannot parse timestampAsOf '$ts': use epoch " +
                        "millis, 'yyyy-MM-dd[ HH:mm:ss]', or ISO-8601")
                }
            }
        }
      instant.toEpochMilli
    }
  }
}

/** The BATCH change-data-feed scan (`changesFrom`/`changesTo` read
  * options): plans the stream source's CDF partitions over a fixed
  * committed range. `changesTo` defaults to the table's stable head
  * (every version at-or-below it committed — in-flight writers are
  * never jumped, same rule as the stream's admission control).
  * Completeness contract mirrors [[graft.storage.Lakehouse.changeFeed]]:
  * a range version GC'd with a FULL above it throws (never a silent
  * gap); an unrecorded FULL rewrite in range throws.
  */
private[sources] class CdfBatchScan(path: String, cdfSchema: StructType,
    from: Long, to: Option[Long],
    renames: Map[String, String] = Map.empty)
    extends ScanBuilder with Scan
    with org.apache.spark.sql.connector.read.Batch {
  override def build(): Scan = this
  // `cdfSchema` is PHYSICAL (feed files are written under physical
  // names); the presented schema relabels renamed columns — positional,
  // so the reader's batches bind unchanged
  override def readSchema(): StructType =
    LakehouseBatch.renameFields(cdfSchema, renames)
  override def toBatch: org.apache.spark.sql.connector.read.Batch = this
  override def description(): String =
    s"graft CDF batch $path ($from, ${to.getOrElse("head")}]"
  override def planInputPartitions(): Array[InputPartition] = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val dest = new org.apache.hadoop.fs.Path(path)
    val fs = dest.getFileSystem(conf)
    // an EXPLICIT changesTo must sit at-or-below the stable head: above
    // it the range covers versions that are in flight (a fresh claim
    // would be silently classified as debris — a permanent feed gap
    // once it commits) or nonexistent (the caller believes a range was
    // covered that wasn't). Loud, like changeFeed's latest-version
    // require. One head computation serves both the default and the
    // validation (plan-time, two root listings total — the stream pays
    // the same per tick).
    val head = LakehouseStream.stableHeadOf(path)
    to.foreach(t => require(t <= head,
      s"changesTo $t exceeds the stable head $head of $path — the " +
        "range would silently skip in-flight or nonexistent versions"))
    val toV = to.getOrElse(head)
    require(from <= toV,
      s"changesFrom $from exceeds changesTo/head $toV")
    LakehouseStream.changePartitions(fs, path, from, toV,
      readChangeFeed = true).map(p => p: InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new LakehouseReaderFactory(cdfSchema)
}

private[sources] class LakehouseScanBuilder(path: String, full: StructType,
    asOf: Option[Long], branch: Option[String] = None,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    partitionCols: Seq[String] = Nil,
    renames: Map[String, String] = Map.empty)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownAggregates {

  // `full` and everything below this builder is PHYSICAL; Spark binds
  // against the table's LOGICAL schema, so names arriving here
  // (pruned columns, filters, aggregate refs) translate l2p once and
  // presentation surfaces (readSchema, pushedFilters) translate back
  private val l2p: Map[String, String] = GraftCatalog.invertRenames(renames)

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  // complete aggregate pushdown: (output schema, precomputed row)
  private var aggResult: Option[(StructType, Seq[Any])] = None

  private lazy val meta = LakehouseBatch.resolve(path, asOf, branch)

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Spark hands back a subset of the table schema (possibly empty for
    // bare count paths that weren't pushed as aggregates)
    required = LakehouseBatch.physicalSchema(requiredSchema, l2p)

  /** Accept every filter as post-scan (zone maps are file-granular — the
    * row-level predicate must still run); record the manifest-usable
    * subset as pushed so skipping happens and explain shows it.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters
      .flatMap(LakehouseBatch.renameFilter(_, l2p))
      .filter(LakehouseBatch.usableForSkipping(_, meta.statsCols,
        meta.bloomCols))
    filters
  }

  override def pushedFilters(): Array[Filter] =
    pushed.flatMap(LakehouseBatch.renameFilter(_, renames))

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    aggResult.isDefined || tryPushAgg(aggregation, probeOnly = true)

  override def pushAggregation(aggregation: Aggregation): Boolean =
    tryPushAgg(aggregation, probeOnly = false)

  /** Ungrouped COUNT(*) / MIN / MAX over fully manifest-covered columns
    * → answer from metadata. Declined (false) in every other case,
    * including when row-level filters are present (Spark then plans its
    * own aggregate over the normal scan — correctness never depends on
    * the pushdown firing).
    */
  private def tryPushAgg(agg: Aggregation, probeOnly: Boolean): Boolean = {
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty) return false
    def columnOf(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    val wanted: Seq[Option[(StructField, String)]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar =>
          Some((StructField("count(*)", LongType, nullable = false), "count"))
        // min/max soundness needs every live file's EFFECTIVE stat row
        // (the post-mask `_extremes` row for a DV'd file, the manifest
        // row otherwise — meta.coveredCols encodes exactly that) to
        // carry min_c/max_c for THIS column; mere stats-row presence is
        // not enough: rows-only manifests would fold extremes over a
        // subset of the files and answer wrong
        // aggregate refs arrive LOGICAL; manifests/extremes are keyed
        // physical — translate for the coverage test and the fold spec,
        // keep the logical name in the output field for explain
        case m: Min => columnOf(m.column)
          .map(c => (c, LakehouseBatch.ciLookup(l2p, c).getOrElse(c)))
          .collect {
            case (c, p) if meta.coveredCols.contains(p) =>
              (StructField(s"min($c)", full(p).dataType), s"min:$p")
          }
        case m: Max => columnOf(m.column)
          .map(c => (c, LakehouseBatch.ciLookup(l2p, c).getOrElse(c)))
          .collect {
            case (c, p) if meta.coveredCols.contains(p) =>
              (StructField(s"max($c)", full(p).dataType), s"max:$p")
          }
        case _ => None
      }
    if (wanted.exists(_.isEmpty) || wanted.isEmpty) return false
    // PAIRWISE mask disjointness: COUNT = Σ(rows − dv − eqMatched) and
    // MIN/MAX-from-post-mask-extremes assume every mask commit's
    // identity scan read THROUGH every other mask. Two masks recorded
    // blind to each other (concurrent DELETEs racing) can each count or
    // survive the same row — per-file coverage checks cannot see it, so
    // the gate proves it from the commits' recorded read bases: for
    // each pair, one basis must contain the other's version. A mask
    // without a recorded basis proves nothing → decline when any other
    // mask is outstanding (single-mask tables are trivially disjoint).
    if (meta.maskVersions.size > 1) {
      val vs = meta.maskVersions.toSeq.sorted
      val ordered = vs.combinations(2).forall { case Seq(a, b) =>
        meta.maskBasis.get(b).exists(_.contains(a)) ||
          meta.maskBasis.get(a).exists(_.contains(b))
      }
      if (!ordered) return false
    }
    // equality-delete tombstones: COUNT(*) stays pushed when EVERY
    // tombstone commit recorded exact per-file matched counts covering
    // every lower-version live file — count = Σ(rows − dv − matched)
    // with all three sets disjoint by the masked-identity-pass rule.
    // An ABSENT entry means "unknown" (a rebase moved the tombstone
    // above a rewrite), never zero. MIN/MAX under tombstones stays
    // declined wholesale: the masked rows' extremes are unknowable
    // from metadata.
    if (meta.eqDels.nonEmpty) {
      if (wanted.flatten.exists(_._2 != "count")) return false
      val countsOk = meta.eqDels.forall { case (ev, _, _) =>
        meta.eqDelCounts.get(ev).exists { m =>
          meta.dataFiles.forall(f => f.version >= ev ||
            m.contains(new Path(f.path).getName))
        }
      }
      if (!countsOk) return false
    }
    if (probeOnly) return true
    val vals = LakehouseBatch.computeAgg(meta, wanted.flatten.map(_._2), full)
    aggResult = Some((StructType(wanted.flatten.map(_._1)), vals))
    true
  }

  override def build(): Scan =
    new LakehouseBatchScan(meta, required, pushed, aggResult,
      if (asOf.isEmpty && branch.isEmpty) Some((path, full, options))
      else None, partitionCols, full, renames)
}

private[sources] class LakehouseBatchScan(meta: LakehouseBatch.TableMeta,
    required: StructType, pushed: Array[Filter],
    aggResult: Option[(StructType, Seq[Any])],
    streamable: Option[(String, StructType, CaseInsensitiveStringMap)] = None,
    partitionCols: Seq[String] = Nil,
    tableSchema: StructType = new StructType(),
    renames: Map[String, String] = Map.empty)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeFiltering
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  // physical→logical for every name this scan SURFACES (readSchema,
  // runtime-filter attributes, CBO column stats); `required`/`pushed`/
  // `tableSchema` stay physical for the file readers and manifests
  private val p2l: Map[String, String] = renames
  private val lOf: String => String = n =>
    LakehouseBatch.ciLookup(p2l, n).getOrElse(n)

  import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}

  /** Storage-partitioned joins: per live file, the single partition-key
    * tuple every row in it provably carries — (external values for
    * distinctness, catalyst row for `HasPartitionKey`). Defined only
    * when EVERY live file is keyed: the zone-map manifest must cover
    * every `PARTITIONED BY` column with `min == max` and ZERO nulls
    * (`nulls_<c>`; manifests written before null counts existed
    * decline — correctness never depends on the report).
    *
    * The catalog INSERT path range-clusters batches on the partition
    * columns, and for partition-grade (low-cardinality) keys Spark's
    * range partitioner places one distinct value per output slice — so
    * committed files are naturally keyed. Two tables partitioned on
    * compatible keys then join with NO shuffle on either side
    * (`spark.sql.sources.v2.bucketing.enabled`): Spark groups the
    * splits by key and co-schedules matching groups — at 100 TB this
    * removes the single largest cost of a fact-fact join. Declining
    * (returning None → UnknownPartitioning) merely reverts to the
    * normal exchange plan.
    */
  private lazy val partSpecs: Seq[PartSpec] =
    partitionCols.map(PartSpec.parse)

  private lazy val keyedFiles
      : Option[Map[String, (Seq[Any], InternalRow)]] = {
    if (partSpecs.isEmpty || meta.dataFiles.isEmpty ||
        !PartSpec.statNames(partSpecs).forall(meta.statsCols.contains))
      None
    else {
      val convs = partSpecs.map {
        case IdentitySpec(c) => org.apache.spark.sql.catalyst
          .CatalystTypeConverters.createToCatalystConverter(
            tableSchema(c).dataType)
        // a bucket key IS its catalyst value (Int) — no conversion
        case _: BucketSpec => (x: Any) => x
      }
      val out = Map.newBuilder[String, (Seq[Any], InternalRow)]
      val allKeyed = meta.dataFiles.forall { fm =>
        fm.stats.exists { st =>
          def v(n: String): Option[Any] = {
            val i = st.schema.fieldNames.indexOf(n)
            if (i < 0 || st.isNullAt(i)) None else Some(st.get(i))
          }
          val key: Seq[Option[Any]] = partSpecs.map { spec =>
            val c = PartSpec.statName(spec)
            (v(s"min_$c"), v(s"max_$c"), v(s"nulls_$c"), spec) match {
              case ((Some(lo), Some(hi), Some(z), _))
                if lo == hi && z == 0L => Some(lo)
              // the derived bucket-id column is never null, so its
              // manifest rows may omit a meaningful nulls guard —
              // min == max alone proves the one-bucket-per-file claim
              case ((Some(lo), Some(hi), _, _: BucketSpec))
                if lo == hi => Some(lo)
              // the write path gives NULL partition keys a dedicated
              // slice: an all-null file is keyed by the null tuple
              case ((None, None, Some(z), _: IdentitySpec))
                if z == fm.rowCount => Some(null)
              case _ => None
            }
          }
          val ok = key.forall(_.isDefined)
          if (ok) {
            val ext = key.map(_.get)
            out += fm.path -> (ext, InternalRow.fromSeq(
              convs.zip(ext).map { case (cv, x) => cv(x) }))
          }
          ok
        }
      }
      if (!allKeyed) None
      else {
        val keyed = out.result()
        // SKEW GUARD: a co-scheduled key group runs as ONE task and AQE
        // cannot split it (OptimizeSkewedJoin works on shuffle reads,
        // not storage-partitioned groups) — at 100 TB one hot customer
        // melts the join. The per-group row totals are already in the
        // zone-map manifests, so when the hottest group exceeds BOTH an
        // absolute floor (`spark.graft.spjSkewMinRows` — tiny tables
        // never decline) and `spark.graft.spjSkewRatio` × the mean,
        // decline the key report: the plan reverts to a shuffle join
        // where AQE's skew splitting CAN act. Never a correctness
        // decision — only which exchange strategy runs.
        val conf = org.apache.spark.sql.SparkSession.active.conf
        val ratio = conf.getOption("spark.graft.spjSkewRatio")
          .map(_.toDouble).getOrElse(5.0)
        val minRows = conf.getOption("spark.graft.spjSkewMinRows")
          .map(_.toLong).getOrElse(4000000L)
        val rowsOf = meta.dataFiles.map(fm =>
          fm.path -> fm.rowCount).toMap
        val groups = keyed.toSeq.groupBy(_._2._1)
          .map { case (_, fs) => fs.map(f => rowsOf(f._1)).sum }
        val mx = if (groups.isEmpty) 0L else groups.max
        val mean = if (groups.isEmpty) 0.0
          else groups.sum.toDouble / groups.size
        if (mx >= minRows && mx > ratio * mean) None else Some(keyed)
      }
    }
  }

  override def outputPartitioning(): Partitioning = keyedFiles match {
    case Some(keys) if aggResult.isEmpty =>
      new KeyGroupedPartitioning(
        // LOGICAL names: the key expressions must resolve against this
        // scan's presented output (readSchema relabels p2l); the spec
        // props and `_gbk` stat names stay physical underneath
        partSpecs.map {
          case IdentitySpec(c) => Expressions.identity(lOf(c))
            : org.apache.spark.sql.connector.expressions.Expression
          case BucketSpec(n, c) => Expressions.bucket(n, lOf(c))
            : org.apache.spark.sql.connector.expressions.Expression
        }.toArray,
        keys.values.map(_._1).toSet.size)
    case _ => new UnknownPartitioning(0)
  }

  /** `spark.readStream.table("graft.ns.t")` — the SAME commit-log
    * tailing as the path-based LakehouseStreamProvider, reached by
    * catalog name (read options like maxVersionsPerTrigger /
    * readChangeFeed pass through). Refused for time-travel/branch
    * pins (a frozen snapshot has no stream).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream = {
    val (path, full, options) = streamable.getOrElse(throw new
      UnsupportedOperationException("streaming a VERSION/TIMESTAMP AS " +
        "OF snapshot or branch audit view is not allowed"))
    // round 12: the micro-batch Group decoder handles one-level
    // structs — same contract as the batch scan
    LakehouseStream.validateSchema(tableSchema)
    new LakehouseMicroBatchStream(path, full, options)
  }

  // join-driven runtime filters (dynamic file pruning): delivered by
  // the engine AFTER planning, before execution — typically the IN-set
  // of build-side join keys. Same zone-map cut as static pushdown.
  private var runtime: Array[Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] =
    // REAL columns only: derived bucket-id stats (`_gbk<n>_<col>`) are
    // zone-map-only names — advertising them would make DPP's ref
    // resolution fail against the scan output. Advertised LOGICAL
    // (they must resolve against the scan's presented output).
    meta.statsCols.filter(tableSchema.fieldNames.contains)
      .map(c => Expressions.column(lOf(c)): NamedReference).toArray

  override def filter(filters: Array[Filter]): Unit =
    // runtime filters arrive bound to the LOGICAL output — translate
    // into the physical space the zone maps live in
    runtime = filters
      .flatMap(LakehouseBatch.renameFilter(_, GraftCatalog.invertRenames(renames)))
      .filter(LakehouseBatch.usableForSkipping(_, meta.statsCols,
        meta.bloomCols))

  override def readSchema(): StructType =
    aggResult.map(_._1).getOrElse(
      LakehouseBatch.renameFields(required, p2l))

  override def toBatch: Batch = this

  override def description(): String = aggResult match {
    case Some((schema, _)) =>
      s"graft_lakehouse(${meta.path}) PushedAggregation: " +
        schema.fieldNames.mkString("[", ", ", "]")
    case None =>
      val files = plannedFiles
      s"graft_lakehouse(${meta.path}) files: ${files.length}/" +
        s"${meta.dataFiles.length}"
  }

  /** Zone-map cut: a file survives unless some pushed (or runtime)
    * filter proves no row in it can match. Driver-side over the
    * already-collected metadata — recomputing after a late runtime
    * filter costs no IO.
    */
  private def plannedFiles: Seq[LakehouseBatch.FileMeta] =
    LakehouseBatch.skipFiles(meta, pushed ++ runtime)

  override def planInputPartitions(): Array[InputPartition] =
    aggResult match {
      case Some((_, vals)) => Array(PrecomputedAggPartition(vals))
      case None => plannedFiles
        .map(f => LakehouseFilePartition(f.path, f.version, None,
          keyedFiles.flatMap(_.get(f.path)).map(_._2),
          f.dv.map(_.sidecars).getOrElse(Nil),
          // tombstone sets from HIGHER versions mask this file (the
          // sequence rule); key types resolve through the table
          // contract so both probe sides decode identically
          meta.eqDels.filter(_._1 > f.version).map { case (_, dir, ks) =>
            EqDelRef(dir, StructType(ks.map { k =>
              require(tableSchema.fieldNames.contains(k),
                s"eq-del key $k not in table schema of ${meta.path}")
              tableSchema(k)
            }))
          })
          : InputPartition).toArray
    }

  override def createReaderFactory(): PartitionReaderFactory =
    aggResult match {
      case Some((schema, _)) => new PrecomputedAggReaderFactory(schema)
      case None =>
        // both MoR delete flavors stay VECTORIZED: deletion vectors as
        // a per-batch selection remap, equality deletes as an in-batch
        // key probe against executor-loaded sets — neither ever
        // de-vectorizes a 100 TB table. Only a zero-column projection
        // takes the row fallback (factory doc).
        new LakehouseColumnarReaderFactory(required, pushed ++ runtime)
    }

  /** ANALYZE-computed column stats (`_GRAFT_COLSTATS`) for the CBO —
    * loaded once per scan; empty until `CALL graft.system.analyze`.
    */
  private lazy val colStats: java.util.Map[NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val out = new java.util.HashMap[NamedReference, ColumnStatistics]()
    val dir = new Path(meta.path)
    val spark = SparkSession.active
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    GraftCatalog.readColStats(fs, dir).filter { kv =>
      // STALENESS GUARD: the stats are stamped with the snapshot they
      // describe (rows__ / version__). A table that has grown or
      // shrunk past `spark.graft.statsStaleFactor` (default 4×) since
      // ANALYZE serves NO per-column stats — NDV/min/max from a
      // different table would mis-price selectivity and join order
      // (the stale-broadcast trap); rowCount/sizeInBytes stay live
      // from the snapshot itself either way. Within the band the
      // numbers are advisory-good (Iceberg/Delta serve stale stats the
      // same way).
      val factor = spark.conf
        .getOption("spark.graft.statsStaleFactor")
        .map(_.toDouble).getOrElse(4.0)
      val analyzed = kv.get("rows__").map(_.toLong)
      val current = meta.dataFiles.map(f =>
        f.rowCount - f.dv.map(_.deleted).getOrElse(0L)).sum
      analyzed.exists { a =>
        val lo = a / factor
        val hi = math.max(a, 1L) * factor
        factor <= 0 || (current >= lo && current <= hi)
      }
    }.foreach { kv =>
      required.fields.foreach { f =>
        def get(k: String): Option[String] = kv.get(s"${k}__${f.name}")
        if (get("ndv").isDefined) {
          // numeric min/max re-typed to the CATALYST value class of the
          // column (ColumnStat holds internal values — a Long where an
          // Integer belongs would poison the estimation math); other
          // types stay NDV/null-count only
          import org.apache.spark.sql.types._
          def typed(s: String): Option[Object] = f.dataType match {
            case LongType => Some(java.lang.Long.valueOf(s))
            case IntegerType => Some(java.lang.Integer.valueOf(s))
            case ShortType => Some(java.lang.Short.valueOf(s))
            case ByteType => Some(java.lang.Byte.valueOf(s))
            case DoubleType => Some(java.lang.Double.valueOf(s))
            case FloatType => Some(java.lang.Float.valueOf(s))
            case _: DecimalType =>
              Some(Decimal(new java.math.BigDecimal(s)))
            case _ => None
          }
          // keyed by the LOGICAL name: transformV2Stats matches these
          // references against the scan's output attributes by name
          out.put(Expressions.column(lOf(f.name)), new ColumnStatistics {
            override def distinctCount(): OptionalLong =
              OptionalLong.of(get("ndv").get.toLong)
            override def nullCount(): OptionalLong =
              get("nulls").map(v => OptionalLong.of(v.toLong))
                .getOrElse(OptionalLong.empty())
            override def min(): java.util.Optional[Object] =
              get("min").flatMap(typed).map(java.util.Optional.of[Object])
                .getOrElse(java.util.Optional.empty())
            override def max(): java.util.Optional[Object] =
              get("max").flatMap(typed).map(java.util.Optional.of[Object])
                .getOrElse(java.util.Optional.empty())
            override def avgLen(): OptionalLong =
              get("avglen").map(v => OptionalLong.of(v.toLong))
                .getOrElse(OptionalLong.empty())
            override def maxLen(): OptionalLong =
              get("maxlen").map(v => OptionalLong.of(v.toLong))
                .getOrElse(OptionalLong.empty())
            // equi-height histogram (`hist__<col>` =
            // "height|lo:hi:ndv;…") — transformV2Stats carries it into
            // the catalyst ColumnStat, where FilterEstimation prices
            // skewed equality/range predicates by the bins a value
            // spans instead of assuming uniformity over the NDV
            override def histogram(): java.util.Optional[
                org.apache.spark.sql.connector.read.colstats.Histogram] =
              get("hist").flatMap(LakehouseBatch.parseHistogram)
                .map(java.util.Optional.of[
                  org.apache.spark.sql.connector.read.colstats.Histogram])
                .getOrElse(java.util.Optional.empty())
          })
        }
      }
    }
    out
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong =
      OptionalLong.of(math.max(1L, plannedFiles.map(_.sizeBytes).sum))
    override def numRows(): OptionalLong =
      OptionalLong.of(plannedFiles.map(f =>
        f.rowCount - f.dv.map(_.deleted).getOrElse(0L)).sum)
    override def columnStats(): java.util.Map[NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
      colStats
  }
}

/** Batch-path reader factory: VECTORIZED columnar decode by default —
  * Spark's own VectorizedParquetRecordReader fills ColumnarBatches that
  * flow straight into whole-stage codegen through the engine's
  * ColumnarToRow (or stay columnar for operators that consume batches).
  * Column-at-a-time decode of thousands of values per call is the
  * single biggest scan-path lever at 100 TB; the row-at-a-time Group
  * decoder (shared with the streaming source) remains the fallback for
  * the one shape the vectorized entry can't serve: a ZERO-column
  * projection (bare count paths that weren't answered by the aggregate
  * pushdown), where the Group reader still iterates rows.
  *
  * Schema evolution and commit-lineage metadata ride the reader's
  * partition-column mechanism: per file, the requested columns narrow
  * to what the file HAS; the absent ones (widened contract columns →
  * null, `_change_type`/`_commit_version` → the partition's fill
  * values) are appended as constant vectors by `initBatch`, then a
  * column permutation restores the scan's declared order — zero
  * per-row work for either.
  *
  * Pushed filters don't reach parquet on this path (the vectorized
  * entry point reads whole files; zone maps already cut non-matching
  * FILES at plan time, and Spark re-applies every filter post-scan) —
  * the within-file FilterPredicate cut remains a property of the row
  * fallback. Vectorized-vs-filtered is the same trade Spark's own
  * parquet source makes with filter pushdown off.
  */
private[sources] class LakehouseColumnarReaderFactory(required: StructType,
    filters: Array[Filter])
    extends PartitionReaderFactory {

  // the decision is scan-wide (Spark refuses mixed partitions):
  // columnar unless the projection is ZERO-column (the vectorized
  // entry can't drive row iteration with no columns). Both MoR delete
  // flavors stay COLUMNAR — the vector reader remaps surviving
  // positions through a selection array per batch (DVs by position,
  // eq-dels by an in-batch key probe over a widened read schema).
  override def supportColumnarReads(partition: InputPartition): Boolean =
    required.nonEmpty

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LakehouseFilePartition]
    // a DV file must keep its physical positions aligned with
    // `_metadata.row_index` — the within-file FilterPredicate (which
    // silently drops rows and row groups) is disabled for it; Spark
    // re-applies every pushed filter post-scan, so results are exact
    new LakehouseGroupReader(p, required,
      if (p.dvSidecars.isEmpty) filters else Array.empty)
  }

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val p = partition.asInstanceOf[LakehouseFilePartition]
    new LakehouseVectorReader(p, required)
  }
}

private[sources] class LakehouseVectorReader(
    partition: LakehouseFilePartition, required: StructType)
    extends PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] {

  import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}

  private val fileFields: Set[String] = {
    val conf = graft.storage.HadoopConfs.fresh()
    val r = graft.storage.FooterStats.openReader(new Path(partition.file), conf)
    try {
      import scala.jdk.CollectionConverters._
      r.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
    } finally r.close()
  }
  private val present = required.fields.filter(f => fileFields(f.name))
  private val absent = required.fields.filterNot(f => fileFields(f.name))
  // equality-delete probing needs the KEY columns decoded even when the
  // projection pruned them — widen the read schema (the output batch
  // still exposes only `required`'s columns, via the wrapper below). A
  // key column ABSENT from the file decodes null → null never matches a
  // tombstone → that tombstone set is a no-op for this file (dropped
  // from the probes). Same contract as the row reader.
  private val keyOnly = partition.eqDels.flatMap(_.keySchema.fields)
    .filter(f => fileFields(f.name) && !present.exists(_.name == f.name))
    .distinctBy(_.name)

  private val reader = {
    // files are written by THIS engine on Spark 4 — proleptic Gregorian
    // throughout, so both rebase modes are CORRECTED (no legacy files
    // can exist in a graft table)
    val r = new org.apache.spark.sql.execution.datasources.parquet
      .VectorizedParquetRecordReader(null, "CORRECTED", "UTC",
        "CORRECTED", "UTC", /* useOffHeap */ false, /* capacity */ 4096)
    // the split-based initialize is the production entry (the
    // List<String> convenience hardcodes int96AsTimestamp=false and
    // breaks on INT96 timestamps, Spark's default write encoding);
    // conf carries the same keys ParquetFileFormat sets for its readers
    val conf = graft.storage.HadoopConfs.fresh()
    conf.set("parquet.read.support.class", "org.apache.spark.sql." +
      "execution.datasources.parquet.ParquetReadSupport")
    conf.set("org.apache.spark.sql.parquet.row.requested_schema",
      StructType(present ++ keyOnly).json)
    conf.setBoolean("spark.sql.parquet.binaryAsString", false)
    conf.setBoolean("spark.sql.parquet.int96AsTimestamp", true)
    conf.setBoolean("spark.sql.caseSensitive", false)
    conf.setBoolean("spark.sql.parquet.inferTimestampNTZ.enabled", true)
    conf.setBoolean("spark.sql.legacy.parquet.nanosAsLong", false)
    val fp = new Path(partition.file)
    val len = fp.getFileSystem(conf).getFileStatus(fp).getLen
    val split = new org.apache.hadoop.mapred.FileSplit(
      fp, 0, len, Array.empty[String])
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    r.initialize(split, ctx)
    val absentVals: Seq[Any] = absent.toSeq.map(_.name match {
      case LakehouseStream.ChangeTypeCol =>
        partition.fillChangeType
          .map(org.apache.spark.unsafe.types.UTF8String.fromString).orNull
      case LakehouseStream.CommitVersionCol => partition.commitVersion
      case _ => null // schema evolution: pre-widening file
    })
    r.initBatch(StructType(absent), InternalRow.fromSeq(absentVals))
    r.enableReturningBatches()
    r
  }

  // the reader's batch lays columns out as (present…, keyOnly…,
  // absent…); restore the scan's declared order (and hide the widened
  // key columns) with one permuted wrapper batch
  private val perm: Array[Int] = {
    val pos = (present ++ keyOnly ++ absent).map(_.name).zipWithIndex.toMap
    required.fields.map(f => pos(f.name))
  }
  // identity only when nothing was widened AND the order matches — a
  // raw batch with extra trailing key vectors must never escape
  private val permIsIdentity = keyOnly.isEmpty &&
    perm.zipWithIndex.forall { case (s, i) => s == i }
  private var wrapped: ColumnarBatch = _

  // deletion-vector mask on the VECTORIZED path: the sidecar runs load
  // executor-side (same as the row reader); per batch the surviving
  // in-batch indices fill `sel`, and a wrapper batch of
  // [[MaskedColumnVector]]s (built once — Spark's vectorized reader
  // reuses its vectors across batches) presents them densely. No
  // filter predicate reaches parquet on this path, so the running
  // position counter tracks `_metadata.row_index` exactly.
  private val dvRuns: graft.storage.DvSidecar.Runs =
    if (partition.dvSidecars.isEmpty) graft.storage.DvSidecar.EmptyRuns
    else graft.storage.DvSidecar.loadFor(graft.storage.HadoopConfs.fresh(),
      partition.dvSidecars)

  // equality-delete masks on the VECTORIZED path: per applicable
  // tombstone set, (raw-batch column index, type) accessors for its key
  // columns plus the executor-loaded value set (EqDelKeys — same JVM
  // cache as the row reader and EqDelSurvives). Values extract as
  // Catalyst internal types, which is what the sets hold.
  private val eqDelProbes: Seq[(Array[(Int, DataType)], Set[Seq[Any]])] = {
    val layout = (present ++ keyOnly).map(_.name)
    partition.eqDels.flatMap { ref =>
      val acc = ref.keySchema.fields.map(f =>
        (layout.indexOf(f.name), f.dataType))
      // any key column missing from the file → the set masks nothing
      // here (null never matches) — drop the probe entirely
      if (acc.exists(_._1 < 0)) None
      else Some((acc, EqDelKeys.load(ref.dir, ref.keySchema)))
    }
  }

  private def vecValue(b: ColumnarBatch, col: Int, dt: DataType,
      row: Int): Any = {
    val v = b.column(col)
    if (v.isNullAt(row)) null
    else dt match {
      case LongType | TimestampType | TimestampNTZType => v.getLong(row)
      case IntegerType | DateType => v.getInt(row)
      case StringType => v.getUTF8String(row)
      case DoubleType => v.getDouble(row)
      case FloatType => v.getFloat(row)
      case BooleanType => v.getBoolean(row)
      case d: DecimalType => v.getDecimal(row, d.precision, d.scale)
      case other => throw new UnsupportedOperationException(
        s"unreachable: eq-del key type $other passed validateSchema")
    }
  }

  private def eqDeleted(raw: ColumnarBatch, row: Int): Boolean =
    eqDelProbes.exists { case (acc, keys) =>
      val vals = new Array[Any](acc.length)
      var j = 0
      var anyNull = false
      while (j < acc.length && !anyNull) {
        val v = vecValue(raw, acc(j)._1, acc(j)._2, row)
        if (v == null) anyNull = true else vals(j) = v
        j += 1
      }
      !anyNull && keys.contains(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
    }

  private var filePos = 0L
  private val sel: Array[Int] =
    if (dvRuns.isEmpty && partition.eqDels.isEmpty) null
    else new Array[Int](4096)
  private var survivors = -1 // -1 = batch fully alive, no remap needed
  private var masked: ColumnarBatch = _

  override def next(): Boolean = {
    val has = reader.nextBatch()
    if (has && sel != null) {
      val raw = reader.resultBatch()
      val n = raw.numRows()
      var out = 0
      var i = 0
      while (i < n) {
        if ((dvRuns.isEmpty || !dvRuns.contains(filePos + i)) &&
          (eqDelProbes.isEmpty || !eqDeleted(raw, i))) {
          sel(out) = i; out += 1
        }
        i += 1
      }
      filePos += n
      survivors = if (out == n) -1 else out
    }
    has
  }

  private def ordered(b: ColumnarBatch): ColumnarBatch =
    if (permIsIdentity) b
    else {
      if (wrapped == null) {
        val cols = perm.map(i => b.column(i): ColumnVector)
        wrapped = new ColumnarBatch(cols)
      }
      wrapped.setNumRows(b.numRows())
      wrapped
    }

  override def get(): ColumnarBatch = {
    val b = ordered(reader.resultBatch())
    if (survivors < 0) b
    else {
      if (masked == null) {
        val cols = (0 until b.numCols())
          .map(j => new MaskedColumnVector(b.column(j), sel): ColumnVector)
        masked = new ColumnarBatch(cols.toArray)
      }
      masked.setNumRows(survivors)
      masked
    }
  }

  override def close(): Unit = reader.close()
}

/** SELECTION-VECTOR wrapper: presents the surviving subset of a base
  * [[ColumnVector]] under dense indices, so a deletion-vector mask
  * costs an int-array remap instead of forcing the whole scan onto the
  * row path (VERDICT r7 task 3 — one outstanding DV used to
  * de-vectorize a 100 TB table until compaction). `sel` is SHARED with
  * the reader, which refills it per batch (vectors are reused across
  * batches by Spark's vectorized parquet reader, so this wrapper is
  * built once per scan too). Children wrap lazily with the same `sel`
  * — `getStruct`'s final ColumnarRow probes children at the MASKED
  * index, which remaps here. `getArray`/`getMap` delegate whole: the
  * returned views reference the base child with base offsets, which
  * are self-contained. hasNull/numNulls over-report (they answer for
  * the base) — a safe direction for both.
  */
private[sources] class MaskedColumnVector(
    base: org.apache.spark.sql.vectorized.ColumnVector, sel: Array[Int])
    extends org.apache.spark.sql.vectorized.ColumnVector(base.dataType()) {
  import org.apache.spark.sql.vectorized.{ColumnarArray, ColumnarMap, ColumnVector}
  override def close(): Unit = () // base owned (and closed) by the reader
  override def hasNull: Boolean = base.hasNull
  override def numNulls(): Int = base.numNulls()
  override def isNullAt(i: Int): Boolean = base.isNullAt(sel(i))
  override def getBoolean(i: Int): Boolean = base.getBoolean(sel(i))
  override def getByte(i: Int): Byte = base.getByte(sel(i))
  override def getShort(i: Int): Short = base.getShort(sel(i))
  override def getInt(i: Int): Int = base.getInt(sel(i))
  override def getLong(i: Int): Long = base.getLong(sel(i))
  override def getFloat(i: Int): Float = base.getFloat(sel(i))
  override def getDouble(i: Int): Double = base.getDouble(sel(i))
  override def getArray(i: Int): ColumnarArray = base.getArray(sel(i))
  override def getMap(i: Int): ColumnarMap = base.getMap(sel(i))
  override def getDecimal(i: Int, p: Int, s: Int)
      : org.apache.spark.sql.types.Decimal = base.getDecimal(sel(i), p, s)
  override def getUTF8String(i: Int)
      : org.apache.spark.unsafe.types.UTF8String = base.getUTF8String(sel(i))
  override def getBinary(i: Int): Array[Byte] = base.getBinary(sel(i))
  private lazy val kids =
    new java.util.concurrent.ConcurrentHashMap[Integer, MaskedColumnVector]
  override def getChild(ordinal: Int): ColumnVector =
    kids.computeIfAbsent(ordinal,
      o => new MaskedColumnVector(base.getChild(o), sel))
}

/** One-row partition for completely-pushed aggregates: the values were
  * computed from metadata at plan time; the reader just emits them.
  */
private[sources] case class PrecomputedAggPartition(values: Seq[Any])
    extends InputPartition

private[sources] class PrecomputedAggReaderFactory(schema: StructType)
    extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val vals = partition.asInstanceOf[PrecomputedAggPartition].values
      private var served = false
      override def next(): Boolean = { val r = !served; served = true; r }
      override def get(): InternalRow = InternalRow.fromSeq(vals)
      override def close(): Unit = ()
    }
}

private[graft] object LakehouseBatch {

  /** One live data file + the metadata the planner needs. `rowCount`
    * from the parquet footer (no data pages); `stats` = zone-map row
    * (min_/max_ per covered column) when the file is manifest-covered.
    */
  final case class FileMeta(path: String, version: Long, sizeBytes: Long,
      rowCount: Long, stats: Option[org.apache.spark.sql.Row],
      dv: Option[DvRef] = None,
      dvStats: Option[org.apache.spark.sql.Row] = None)

  /** Deletion-vector reference of one data file: the applicable sidecar
    * PATHS (opened executor-side by the partition reader) and the exact
    * deleted-row count (from the sidecar headers — statistics only).
    */
  final case class DvRef(sidecars: Seq[String], deleted: Long)

  /** One DV commit as the planner sees it: version, file→sidecar path,
    * file→exact deleted count, and (when the commit recorded them)
    * file→POST-MASK extremes row — the `_extremes` manifest that keeps
    * MIN/MAX pushdown and zone-map pruning exact under outstanding
    * deletion vectors.
    */
  final case class DvCommit(v: Long, idx: Map[String, String],
      counts: Map[String, Long],
      extremes: Map[String, org.apache.spark.sql.Row] = Map.empty)

  final case class TableMeta(path: String, dataFiles: Seq[FileMeta],
      statsCols: Set[String], fullyCovered: Boolean,
      bloomCols: Set[String] = Set.empty,
      eqDels: Seq[(Long, String, Seq[String])] = Nil,
      bloomManifests: Map[Long, (Seq[String], Set[String])] = Map.empty,
      coveredCols: Set[String] = Set.empty,
      eqDelCounts: Map[Long, Map[String, Long]] = Map.empty,
      // mask-bearing commit versions (DV + equality-delete) and their
      // recorded read bases — the aggregate-pushdown gate proves
      // PAIRWISE mask disjointness from these (each pair: one basis
      // contains the other's version), declining when two masks were
      // recorded blind to each other (concurrent mutators would
      // double-subtract a row / resurrect a masked extreme)
      maskVersions: Set[Long] = Set.empty,
      maskBasis: Map[Long, Set[Long]] = Map.empty) {
    /** Per-snapshot accumulating cache of DECODED bloom probes, loaded
      * lazily by [[skipFiles]] — rides the TableMeta so the snapshot
      * cache keeps warm probes across queries. Never serialized.
      */
    @transient lazy val bloomCache = new BloomBlobCache
  }

  /** Lazily-loaded bloom blobs: the plan-time manifest collect PRUNES
    * `bloom_<col>` columns (a 50 KB blob per (file, column) would put
    * O(#files) driver heap behind every resolve — VERDICT r7 task 1b);
    * this cache fetches them on demand, per PROBED column and only for
    * files that SURVIVED the zone-map cut, through a column-pruned,
    * file-filtered read of the same manifest (parquet's columnar layout
    * makes each `bloom_<col>` chunk the per-column side manifest).
    * Blobs decode to probe closures at fetch; a miss caches as None
    * ("might contain"). Byte-bounded by `spark.graft.bloomCacheBytes`
    * (approximate, blob length at insert): exceeding the budget resets
    * the cache epoch rather than growing without bound.
    */
  final class BloomBlobCache {
    private val fetched = scala.collection.mutable.Map.empty[
      (Long, String),
      scala.collection.mutable.Map[String, Option[Any => Boolean]]]
    // per-(version, col) byte totals so an epoch reset can account for
    // EVERYTHING it retains (a group keeps blobs from earlier ensure
    // calls too — resetting to just the current batch's bytes would
    // under-report and let the cache exceed its budget)
    private val groupBytes =
      scala.collection.mutable.Map.empty[(Long, String), Long]
    private var approxBytes = 0L
    /** Test observability (StressMeta / spec): bytes currently held. */
    def bytes: Long = synchronized(approxBytes)

    /** Make sure every (file, col) pair is fetched; one column-pruned
      * manifest read per call covering all missing files of all probed
      * columns of this VERSION. `candidates` carries both the file NAME
      * and full-path keys (legacy manifests were path-keyed). The read
      * is DRIVER-SIDE (FooterStats.readManifest pruned to file + the
      * probed blob columns; non-candidate rows drop before decode) — a
      * Spark job per root per probe costs ~100 ms of scheduler latency,
      * which a 100-commit chain turns into a 10 s planning stall; the
      * job route survives only as the unproven-shape fallback.
      */
    def ensure(spark: SparkSession, version: Long, parts: Seq[String],
        cols: Set[String], candidates: Seq[String]): Unit = synchronized {
      val budget = spark.conf.getOption("spark.graft.bloomCacheBytes")
        .map(_.toLong).getOrElse(64L << 20)
      val need = cols.toSeq.sorted.map { c =>
        val m = fetched.getOrElseUpdate((version, c),
          scala.collection.mutable.Map.empty)
        (c, m, candidates.filterNot(m.contains))
      }.filter(_._3.nonEmpty)
      if (need.isEmpty) return
      val wanted = Set("file") ++ need.map(n => s"bloom_${n._1}")
      val candSet = candidates.toSet
      var batch = 0L
      def insert(name: String, c: String,
          m: scala.collection.mutable.Map[String, Option[Any => Boolean]],
          blob: Option[Array[Byte]]): Unit = {
        val b = blob.map(_.length.toLong + 64L).getOrElse(16L)
        batch += b
        groupBytes((version, c)) = groupBytes.getOrElse((version, c), 0L) + b
        m(name) = blob.map(decodeBloomBlob)
      }
      graft.storage.FooterStats.readManifest(
        spark.sparkContext.hadoopConfiguration, parts,
        c => !wanted(c)) match {
        case Some((_, rows)) =>
          rows.foreach { r =>
            val name = r.getString(r.fieldIndex("file"))
            if (candSet(name)) need.foreach { case (c, m, _) =>
              val i = r.schema.fieldNames.indexOf(s"bloom_$c")
              insert(name, c, m,
                if (i < 0 || r.isNullAt(i)) None
                else Some(r.getAs[Array[Byte]](i)))
            }
          }
        case None =>
          // fallback: one Spark job, candidate-filtered when small
          import org.apache.spark.sql.functions.{col => fcol}
          val missing = need.flatMap(_._3).distinct
          val base = spark.read.parquet(parts: _*)
            .select((fcol("file") +:
              need.map(n => fcol(s"bloom_${n._1}"))).toIndexedSeq: _*)
          val df = if (missing.size <= 10000) {
            base.filter(fcol("file").isin(missing.map(x => x: Any): _*))
          } else base
          df.collect().foreach { r =>
            val name = r.getString(0)
            need.zipWithIndex.foreach { case ((c, m, _), i) =>
              insert(name, c, m,
                if (r.isNullAt(i + 1)) None
                else Some(r.get(i + 1).asInstanceOf[Array[Byte]]))
            }
          }
      }
      // candidates absent from the result: cache the miss as "no blob"
      // so the probe answers might-contain and the fetch never repeats
      need.foreach { case (c, m, miss) =>
        miss.foreach { f =>
          if (!m.contains(f)) {
            m(f) = None
            batch += 16L
            groupBytes((version, c)) =
              groupBytes.getOrElse((version, c), 0L) + 16L
          }
        }
      }
      approxBytes += batch
      if (approxBytes > budget) {
        // epoch reset: drop everything but the groups just ensured —
        // bounded heap beats warm probes. The retained groups keep
        // blobs from EARLIER ensure calls too, so the new total is the
        // sum of their tracked bytes, not just this batch's.
        val keep = need.map(n => (version, n._1)).toSet
        fetched.filterInPlace { case (k, _) => keep(k) }
        groupBytes.filterInPlace { case (k, _) => keep(k) }
        approxBytes = groupBytes.values.sum
      }
    }

    def probe(version: Long, c: String, name: String,
        path: String): Option[Any => Boolean] = synchronized {
      fetched.get((version, c))
        .flatMap(m => m.get(name).orElse(m.get(path))).flatten
    }
  }

  /** One manifest blob → might-contain closure. Two formats share the
    * table (the magic word picks the decoder): parquet SBBFs lifted
    * from footers (FooterBloom framing — hashed with parquet's
    * plain-encoding xxhash64) or the scan path's Spark sketch (hashed
    * with Spark's XxHash64 over the Catalyst literal). Spark-sketch
    * probing is restricted to types whose Literal inference is
    * bit-identical to the column representation — a fractional type
    * whose inferred scale differed would hash differently and skip a
    * matching file (false negative = wrong results), so those probe as
    * "might match".
    */
  private def decodeBloomBlob(bytes: Array[Byte]): Any => Boolean = {
    def bloomSafe(v: Any): Boolean = v match {
      case _: java.lang.Integer | _: java.lang.Long | _: java.lang.Short |
        _: java.lang.Byte | _: java.lang.Boolean | _: String |
        _: java.sql.Date | _: java.sql.Timestamp | _: java.time.Instant |
        _: java.time.LocalDate => true
      case _ => false
    }
    graft.storage.FooterBloom.decode(bytes) match {
      case Some(filters) =>
        (v: Any) => graft.storage.FooterBloom.mightContain(filters, v)
      case None =>
        val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(bytes))
        (v: Any) => !bloomSafe(v) || {
          import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
          val h = new XxHash64(Seq(Literal(v)))
            .eval(null).asInstanceOf[Long]
          bf.mightContainLong(h)
        }
    }
  }

  /** Resolve the live set from commit markers (the same walk as
    * `Lakehouse.liveRootsAndBasis`), list its data files with footers +
    * zone maps. Driver-side, metadata-sized: one listing per root, one
    * footer open per file, one manifest read per root that has one.
    * Equality-delete tombstones reject at plan time (class doc).
    *
    * SNAPSHOT-KEYED CACHE: the walk's per-file constant (a footer open,
    * ~2 ms) and per-root manifest read (a Spark job, ~100 ms) are paid
    * once per SNAPSHOT, not once per query — at 100 TB a table is
    * O(100k) files and every interactive query would otherwise spend
    * seconds re-planning metadata that didn't change. The cache key is
    * a fingerprint of the commit log itself (every `_v*` dir's direct
    * entries: name + mtime + length), which is sound because a commit
    * dir is IMMUTABLE once its marker lands (writeVersion orders
    * payload → marker; stats/DV/eqdel/rewritten all precede the
    * marker): any new commit, vacuum, rewrite, branch stage, or a
    * recreated table at the same path (fresh mtimes + part-file UUIDs)
    * changes the fingerprint and misses. The fingerprint walk is one
    * flat listing per version dir — the part of resolve that was
    * already unavoidable — so a warm hit removes the footer/manifest
    * terms entirely (StressMeta pins warm ≪ cold). A result is cached
    * only if the fingerprint is UNCHANGED after the walk (a commit
    * racing resolve can't pin a torn snapshot under the old key).
    * `spark.graft.metaCacheEntries` sizes the LRU (0 disables).
    */
  def resolve(path: String, asOf: Option[Long] = None,
      branch: Option[String] = None): TableMeta = {
    val spark = SparkSession.active
    val conf = spark.sparkContext.hadoopConfiguration
    val dest = new Path(path)
    val fs = dest.getFileSystem(conf)
    require(fs.exists(dest), s"no such lakehouse table: $path")
    val maxEntries = spark.conf.getOption("spark.graft.metaCacheEntries")
      .map(_.toInt).getOrElse(64)
    if (maxEntries <= 0) return resolveUncached(spark, conf, fs, dest,
      path, asOf, branch)
    val maxBytes = spark.conf.getOption("spark.graft.metaCacheBytes")
      .map(_.toLong).getOrElse(256L << 20)
    // OPT-IN staleness window: even a warm hit pays one listing per
    // version dir to re-fingerprint the commit log — O(#commits) LIST
    // RPCs per query, the dominant warm-path term on an object store
    // with a long chain. `spark.graft.metaRefreshMs` > 0 trusts a
    // validated snapshot for that many ms (bounded staleness, the
    // HMS/Iceberg catalog-cache trade); the default 0 re-validates on
    // every resolve — snapshot isolation semantics are unchanged
    // unless explicitly relaxed.
    val refreshMs = spark.conf.getOption("spark.graft.metaRefreshMs")
      .map(_.toLong).getOrElse(0L)
    val key = (fs.makeQualified(dest).toString, asOf, branch)
    if (refreshMs > 0L) {
      metaCache.synchronized(Option(metaCache.get(key))).foreach {
        case (_, cached) =>
          val at = metaCacheCheckedAt.get(key)
          if (at != null &&
            (System.nanoTime() - at) / 1000000L < refreshMs) {
            metaCacheHits += 1
            return cached
          }
      }
    }
    val fp = snapshotFingerprint(fs, dest)
    metaCache.synchronized {
      metaCacheMax = maxEntries
      Option(metaCache.get(key))
    } match {
      case Some((`fp`, cached)) =>
        metaCacheHits += 1
        metaCacheCheckedAt.put(key, System.nanoTime())
        cached
      case _ =>
        val meta = resolveUncached(spark, conf, fs, dest, path, asOf,
          branch)
        if (snapshotFingerprint(fs, dest) == fp) {
          val sz = approxMetaBytes(meta)
          metaCache.synchronized {
            Option(metaCache.remove(key)).foreach { case (_, old) =>
              metaCacheBytesHeld -= approxMetaBytes(old)
            }
            // a snapshot larger than the whole budget is served but
            // never cached — it must not evict every other table
            if (sz <= maxBytes) {
              metaCache.put(key, (fp, meta))
              metaCacheCheckedAt.put(key, System.nanoTime())
              metaCacheBytesHeld += sz
              val it = metaCache.entrySet().iterator()
              while ((metaCache.size() > metaCacheMax ||
                metaCacheBytesHeld > maxBytes) && it.hasNext) {
                val e = it.next()
                if (e.getKey != key) {
                  metaCacheBytesHeld -= approxMetaBytes(e.getValue._2)
                  metaCacheCheckedAt.remove(e.getKey)
                  it.remove()
                }
              }
            }
          }
        }
        meta
    }
  }

  /** Last successful fingerprint validation per cache key (nanos) —
    * drives the optional `spark.graft.metaRefreshMs` trust window.
    */
  private val metaCacheCheckedAt = new java.util.concurrent.ConcurrentHashMap[
    (String, Option[Long], Option[String]), java.lang.Long]()

  /** LRU of resolved snapshots, keyed (qualified path, asOf, branch);
    * value = (commit-log fingerprint, meta). Access-ordered; bounded
    * BOTH by entry count and by approximate bytes (a TableMeta is
    * O(#files × manifest width) — a thousand-file table must not evict
    * everything else or blow the driver; `spark.graft.metaCacheBytes`).
    * Eviction happens manually in [[resolve]]'s put (removeEldestEntry
    * can only drop one), tracked via [[metaCacheBytesHeld]].
    */
  private val metaCache = new java.util.LinkedHashMap[
      (String, Option[Long], Option[String]), (String, TableMeta)](
      16, 0.75f, true)
  @volatile private var metaCacheMax = 64
  /** Test observability only (StressMeta / MetaCacheSpec). */
  @volatile private[graft] var metaCacheHits: Long = 0L
  /** Approximate bytes currently held (guarded by metaCache's lock). */
  private[graft] var metaCacheBytesHeld: Long = 0L

  /** Approximate driver-heap footprint of one resolved snapshot: per
    * file, path + FileMeta shell + the collected stats row (strings at
    * 2 B/char + boxing overhead; blobs never reach these rows — they
    * live in the byte-bounded bloomCache). Estimation, not accounting —
    * the bound exists to keep order-of-magnitude runaways out.
    */
  private[graft] def approxMetaBytes(meta: TableMeta): Long = {
    def rowBytes(r: org.apache.spark.sql.Row): Long = {
      var b = 48L
      var i = 0
      while (i < r.length) {
        b += (if (r.isNullAt(i)) 8L else r.get(i) match {
          case s: String => 48L + 2L * s.length
          case a: Array[Byte] => 48L + a.length
          case _ => 32L
        })
        i += 1
      }
      b
    }
    meta.dataFiles.foldLeft(256L) { (acc, f) =>
      acc + 120L + 2L * f.path.length +
        f.stats.map(rowBytes).getOrElse(0L) +
        f.dvStats.map(rowBytes).getOrElse(0L) +
        f.dv.map(d => 64L + d.sidecars.map(2L * _.length + 48L).sum)
          .getOrElse(0L)
    }
  }

  /** Digest of the commit log. Claim files and staging debris at the
    * TABLE root are excluded on purpose (they don't affect what
    * resolve serves).
    *
    * WITHOUT a checkpoint: every version dir's direct entries — one
    * flat listing per `_v*` dir (O(#commits) RPCs per warm hit).
    * WITH one: dirs the newest checkpoint covers AS COMMITTED digest
    * by (version, mtime, len) from the ONE parent listing — sound
    * because a committed dir is immutable (its inner content cannot
    * change without a direct-child create/delete bumping the dir
    * mtime, and GC only removes dirs whole, which drops the entry
    * from the parent listing) — while everything else (the tail, and
    * any dir uncommitted at checkpoint build) keeps the full inner
    * listing, so an in-flight commit's marker landing is always seen.
    * Warm validation is therefore O(tail), not O(#commits). The
    * checkpoint file list itself rides the digest: a new checkpoint
    * changes which dirs get the cheap treatment.
    */
  private def snapshotFingerprint(fs: FileSystem, dest: Path): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    // pre-versioning plain files at the table root serve as version-0
    // data on delta-only chains — they must invalidate too
    val rootList = try fs.listStatus(dest).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    rootList.filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName).foreach { st =>
      put(s"~${st.getPath.getName},${st.getModificationTime}," +
        s"${st.getLen}")
    }
    val ckptFiles = graft.storage.MetaCheckpoint.listCkptFiles(fs, dest)
    ckptFiles.foreach(st =>
      put(s"^${st.getPath.getName},${st.getLen}"))
    val coveredCommitted: Set[Long] =
      if (ckptFiles.isEmpty) Set.empty
      else
        try graft.storage.MetaCheckpoint.loadLatest(fs, dest)
          .map(_.committedVs).getOrElse(Set.empty)
        catch { case scala.util.control.NonFatal(_) => Set.empty }
    // full listings only where needed — RPCs, so bounded-parallel;
    // parMap preserves order, which keeps the digest deterministic
    val vdirs = Protocol.versionDirStatusesOf(rootList).sortBy(_._1)
    parMap(vdirs) { case (v, dst) =>
      if (coveredCommitted(v))
        s"|$v,${dst.getModificationTime},${dst.getLen}"
      else {
        val sb = new StringBuilder(s"|$v")
        try fs.listStatus(dst.getPath).sortBy(_.getPath.getName)
          .foreach { st =>
            sb ++= s";${st.getPath.getName},${st.getModificationTime}," +
              s"${st.getLen}"
          }
        catch { case _: java.io.FileNotFoundException => sb ++= ";gone" }
        sb.result()
      }
    }.foreach(put)
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }

  private def resolveUncached(spark: SparkSession, conf: Configuration,
      fs: FileSystem, dest: Path, path: String, asOf: Option[Long],
      branch: Option[String]): TableMeta = {
    // METADATA CHECKPOINT (task: plan time O(1) in chain length): the
    // hot path — a plain live read — resolves covered commits from ONE
    // checkpoint file instead of O(#commits) dir listings + manifest
    // reads; only the commit TAIL above the checkpoint is walked live.
    // The checkpoint is DERIVED state: any validation miss (a covered
    // dir changed, vanished without a full above, decode failure) falls
    // back to the plain walk — correctness never depends on it.
    // asOf/branch reads keep the plain walk (rare, audit-shaped).
    val viaCkpt =
      if (asOf.nonEmpty || branch.nonEmpty ||
        !spark.conf.getOption("spark.graft.useCheckpoint")
          .forall(_.toBoolean)) None
      else
        try graft.storage.MetaCheckpoint.loadLatest(fs, dest).flatMap(st =>
          resolveWithCheckpoint(spark, conf, fs, dest, path, st))
        catch { case scala.util.control.NonFatal(_) => None }
    viaCkpt.getOrElse(
      resolvePlain(spark, conf, fs, dest, path, asOf, branch))
  }

  /** Resolve against a loaded checkpoint: validate every covered dir's
    * identity from ONE parent listing, decode covered roots from the
    * checkpoint, walk only what it does not vouch for. None = the
    * checkpoint cannot prove the snapshot (fall back to the plain
    * walk) — never a wrong answer.
    */
  private def resolveWithCheckpoint(spark: SparkSession,
      conf: Configuration, fs: FileSystem, dest: Path, path: String,
      st: graft.storage.MetaCheckpoint.State): Option[TableMeta] = {
    import graft.storage.MetaCheckpoint
    val dirSt: Seq[(Long, org.apache.hadoop.fs.FileStatus)] =
      Protocol.versionDirStatuses(fs, dest)
    val present = dirSt.toMap
    val recs = st.versions
    // a committed dir whose mtime moved = something this protocol says
    // cannot happen (committed dirs are immutable; vacuum removes them
    // whole) — distrust the whole checkpoint
    if (recs.exists(r => present.get(r.v).exists(
      _.getModificationTime != r.dirMtime))) return None
    val recByV = recs.map(r => r.v -> r).toMap
    // dirs recorded UNCOMMITTED at build time are probed UNCONDITIONALLY
    // (one commitKind read each; the tail is small by construction): a
    // marker landing within the same mtime tick as the build's listing
    // would otherwise leave that committed version invisible to every
    // checkpointed resolve — and the snapshot-cache digest would cache
    // the stale TableMeta — until some later change bumps the dir mtime
    // (mtime granularity is millisecond on HDFS/local, coarser on some
    // filesystems).
    val probed: Seq[(Long, Path, Boolean)] = dirSt
      .filter { case (v, _) => !recByV.contains(v) }
      .sortBy(_._1)
      .flatMap { case (v, s) =>
        Protocol.commitKind(fs, s.getPath).map(full => (v, s.getPath, full))
      }
    val merged: Seq[(Long, Either[MetaCheckpoint.VersionRec, Path], Boolean)] =
      (recs.filter(r => present.contains(r.v))
        .map(r => (r.v,
          Left(r): Either[MetaCheckpoint.VersionRec, Path], r.full)) ++
        probed.map { case (v, p, full) =>
          (v, Right(p): Either[MetaCheckpoint.VersionRec, Path], full) })
        .sortBy(_._1)
    // a covered dir that disappeared (vacuum, rebase-rename) is fine
    // ONLY when a committed FULL sits above it — resolve would not
    // serve it anyway; otherwise the chain lost a live commit: stale
    val missing = recs.filterNot(r => present.contains(r.v))
    if (missing.exists(m =>
      !merged.exists { case (v, _, full) => full && v > m.v })) return None
    val lastFull = merged.lastIndexWhere(_._3)
    val live: Seq[(Long, Either[MetaCheckpoint.VersionRec, Path])] =
      if (lastFull >= 0) merged.drop(lastFull).map(t => (t._1, t._2))
      else {
        val plain = fs.listStatus(dest).exists { s =>
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        val all = merged.map(t => (t._1, t._2))
        if (plain || all.isEmpty)
          (0L, Right(dest): Either[MetaCheckpoint.VersionRec, Path]) +: all
        else all
      }
    // identity-only records (below the build-time last full) carry no
    // payload; if one ever lands in the live set the chain shape moved
    // in a way the checkpoint cannot serve
    if (live.exists { case (_, Left(r)) => !r.payload; case _ => false })
      return None
    val eqDels: Seq[(Long, String, Seq[String])] = live.flatMap {
      case (v, Left(r)) => r.eqDel.map { case (rel, cols) =>
        (v, new Path(dest, rel).toString, cols) }
      case (v, Right(p)) => eqDelOf(fs, conf, v, p)
    }
    val eqDelCounts: Map[Long, Map[String, Long]] = live.flatMap {
      case (v, Left(r)) => r.eqCounts.map(v -> _)
      case (v, Right(p)) =>
        eqDels.collectFirst { case (`v`, dir, _) =>
          eqDelCountsOf(fs, new Path(dir)).map(v -> _) }.flatten
    }.toMap
    val dvByVersion: Seq[DvCommit] =
      live.flatMap {
        case (v, Left(r)) =>
          if (r.dvIndex.isEmpty) None
          else Some(DvCommit(v, r.dvIndex.map { case (n, rel) =>
            n -> new Path(dest, rel).toString }, r.dvCounts,
            MetaCheckpoint.decodeDvExtremes(st, r)))
        case (v, Right(p)) => dvOf(fs, conf, v, p)
      }
    val walked = parMap(live.collect { case (v, Right(p)) => (v, p) }) {
      case (v, p) => walkRoot(spark, conf, fs, v, p)
    }
    val decoded = live.collect { case (_, Left(r)) =>
      MetaCheckpoint.toRootData(dest, st, r) }
    ckptServes.incrementAndGet()
    Some(foldRoots(path, (decoded ++ walked).sortBy(_.v), dvByVersion,
      eqDels, fs, conf, eqDelCounts))
  }

  /** Test observability: resolves served through a checkpoint (a
    * covered table must stop paying the O(#commits) walk).
    */
  private[graft] val ckptServes =
    new java.util.concurrent.atomic.AtomicLong

  private def resolvePlain(spark: SparkSession, conf: Configuration,
      fs: FileSystem, dest: Path, path: String, asOf: Option[Long],
      branch: Option[String]): TableMeta = {
    val committedAll = Protocol.versionDirs(fs, dest).sortBy(_._1).flatMap {
      case (v, p) => Protocol.commitKind(fs, p).map(full => (v, p, full))
    }
    // versionAsOf: truncate the commit log at the as-of point (readAt's
    // rule — a version older than the retained chain throws, never
    // silently resolves against a GC'd base)
    val committed = asOf match {
      case None => committedAll
      case Some(v) =>
        val upTo = committedAll.takeWhile(_._1 <= v)
        require(upTo.nonEmpty,
          s"$path has no committed version <= $v (past retention?)")
        upTo
    }
    val lastFull = committed.lastIndexWhere(_._3)
    val liveRoots: Seq[(Long, Path)] =
      if (lastFull >= 0) committed.drop(lastFull).map(t => (t._1, t._2))
      else {
        val deltas = committed.map(t => (t._1, t._2))
        val plain = fs.listStatus(dest).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }
        if (plain || deltas.isEmpty) (0L, dest) +: deltas else deltas
      }
    // the WAP audit view: the branch's staged dirs (branch marker, no
    // commit marker yet) union in as extra roots — exactly what the
    // table WILL serve after publish
    val staged: Seq[(Long, Path)] = branch match {
      case None => Nil
      case Some(b) =>
        val m = s"${Protocol.BranchPrefix}$b"
        Protocol.versionDirs(fs, dest).sortBy(_._1).collect {
          case (v, p) if fs.exists(new Path(p, m)) &&
            Protocol.commitKind(fs, p).isEmpty => (v, p)
        }
    }
    val roots = liveRoots ++ staged
    // equality-delete tombstones (deleteByKeys): served natively since
    // round 7 — the driver records (version, dir, key column names)
    // per tombstone commit (one footer open each, never the keys);
    // partition readers load the key sets executor-side (EqDelKeys)
    // and drop matching rows of LOWER-version files, the same
    // sequence rule as deletion vectors. Until then this path REFUSED
    // eq-del tables (compact-first), which made them unreadable
    // through SQL while Lakehouse.read served them fine.
    val eqDels: Seq[(Long, String, Seq[String])] =
      roots.flatMap { case (v, p) => eqDelOf(fs, conf, v, p) }
    val eqDelCounts: Map[Long, Map[String, Long]] =
      eqDels.flatMap { case (v, dir, _) =>
        eqDelCountsOf(fs, new Path(dir)).map(v -> _) }.toMap
    // deletion vectors ARE served natively (deleteRowsMoR): positional
    // tombstones apply per FILE at read time, no join stage needed. A
    // DV committed at version w masks (file, pos) rows of files in
    // LOWER versions — the eqdel sequence rule. The driver resolves
    // only the sidecar INDEX (one names-only listing per DV commit) —
    // positions stay in the per-file sidecars until a partition READER
    // opens the ones for its own file, so plan-time memory carries no
    // O(#deleted rows) term (the former `.collect()` here was exactly
    // that ceiling).
    // (version, name→sidecar path, name→deleted count) per DV commit:
    // counts come from the commit's `_dv_counts` index (one small read
    // per DV commit) — per-file header reads survive only for legacy
    // commits without one
    val dvByVersion: Seq[DvCommit] =
      roots.flatMap { case (v, p) => dvOf(fs, conf, v, p) }
    // ——— parallel metadata walk ———
    // The walk is pure IO: one listing + one manifest read per ROOT,
    // one footer open (+ DV header reads) per FILE. Both phases fan out
    // over a bounded driver pool, so plan-time wall clock tracks
    // #files / parallelism with a per-file constant of one footer open
    // — StressMeta pins the scaling at ×1/×10/×30. Two flat phases
    // (roots, then files), never nested futures on the shared pool.
    val rootDatas: Seq[RootData] = parMap(roots) { case (v, root) =>
      walkRoot(spark, conf, fs, v, root)
    }
    foldRoots(path, rootDatas, dvByVersion, eqDels, fs, conf,
      eqDelCounts)
  }

  /** Equality-delete tombstone of one root: (version, eqdel dir, key
    * column names) — key names come from one footer open; the key SETS
    * load executor-side (EqDelKeys).
    */
  private[graft] def eqDelOf(fs: FileSystem, conf: Configuration,
      v: Long, p: Path): Option[(Long, String, Seq[String])] = {
    val d = new Path(p, Protocol.EqDelDir)
    if (!fs.exists(d)) None
    else fs.listStatus(d).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).map { f =>
        import scala.jdk.CollectionConverters._
        val r = graft.storage.FooterStats.openReader(f, conf)
        val names =
          try r.getFileMetaData.getSchema.getFields.asScala
            .map(_.getName).toSeq
          finally r.close()
        (v, d.toString, names)
      }
  }

  /** Deletion-vector commit of one root. Counts come from the commit's
    * `_dv_counts` index (one small read per DV commit) — per-file
    * header reads survive only for legacy commits without one; the
    * post-mask extremes manifest loads driver-side the same way (also
    * one small read, absent on commits that declined to record it).
    */
  private[graft] def dvOf(fs: FileSystem, conf: Configuration, v: Long,
      p: Path): Option[DvCommit] = {
    val dvDir = new Path(p, Protocol.DvDir)
    val idx = graft.storage.DvSidecar.index(fs, dvDir)
    if (idx.isEmpty) None
    else {
      val exDir = new Path(dvDir, Protocol.DvExtremesDir)
      val extremes: Map[String, org.apache.spark.sql.Row] =
        if (!fs.exists(exDir)) Map.empty
        else {
          val parts = fs.listStatus(exDir).map(_.getPath)
            .filter(_.getName.endsWith(".parquet")).map(_.toString)
          graft.storage.FooterStats
            .readManifest(conf, parts.toIndexedSeq, _ => false) match {
            case Some((_, rows)) => rows.map(r =>
              r.getString(r.fieldIndex("file")) -> r).toMap
            case None => Map.empty // unreadable → pushdown declines
          }
        }
      Some(DvCommit(v, idx,
        graft.storage.DvSidecar.deletedCounts(fs, dvDir, idx), extremes))
    }
  }

  /** Matched-row counts of one equality-delete commit (`_eq_counts`,
    * "name\tcount" lines) — None on legacy commits or when the writer
    * opted out; callers then decline the COUNT pushdown.
    */
  private[graft] def eqDelCountsOf(fs: FileSystem,
      eqDelDir: Path): Option[Map[String, Long]] = {
    val f = new Path(eqDelDir,
      graft.storage.Lakehouse.Protocol.EqDelCountsFile)
    if (!fs.exists(f)) None
    else {
      val in = fs.open(f)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { l =>
          val t = l.lastIndexOf('\t')
          l.substring(0, t) -> l.substring(t + 1).toLong
        }.toMap)
      finally in.close()
    }
  }

  /** Per-root metadata the fold needs: the data files (path, size), the
    * zone-map rows, the manifest shape, the rewrite-replaced names.
    * `knownRows` pre-resolves per-file row counts (checkpoint decode) so
    * the fold never falls back to a footer open for covered roots.
    */
  private[graft] final case class RootData(v: Long, root: Path,
      files: Seq[(Path, Long)],
      statRows: Map[String, org.apache.spark.sql.Row],
      mStats: Set[String], mBlooms: Set[String],
      rewritten: Set[String], manifestParts: Seq[String] = Nil,
      knownRows: Map[String, Long] = Map.empty,
      basis: Option[Set[Long]] = None)

  /** Walk ONE root: list its data files, read its rewrite list and its
    * stats manifest (bloom blobs column-pruned out — they load lazily
    * via [[BloomBlobCache]]). The manifest read is DRIVER-SIDE
    * (FooterStats.readManifest): a manifest is one commit's file list,
    * and a Spark job per root would put ~20 ms of scheduler latency
    * behind every commit of a 1000-commit cold resolve; the job route
    * stays as the conservative fallback for unproven shapes.
    */
  private[graft] def walkRoot(spark: SparkSession, conf: Configuration,
      fs: FileSystem, v: Long, root: Path): RootData = {
    val dataPaths = listDataFiles(fs, root)
    // a REWRITE commit (rewriteDeletes) names the data files it
    // replaced — lower-version occurrences are dropped from the plan
    // (they are fully masked; scanning them is pure waste)
    val rewritten: Set[String] = {
      val f = new Path(root, Protocol.RewrittenList)
      if (!fs.exists(f)) Set.empty
      else {
        val in = fs.open(f)
        try scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().filter(_.nonEmpty).toSet
        finally in.close()
      }
    }
    val manifest = new Path(root, Protocol.StatsDir)
    var mStats = Set.empty[String]
    var mBlooms = Set.empty[String]
    var mParts = Seq.empty[String]
    val statRows: Map[String, org.apache.spark.sql.Row] =
      if (!fs.exists(manifest)) Map.empty
      else {
        val parts = fs.listStatus(manifest).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).map(_.toString)
        if (parts.isEmpty) Map.empty
        else {
          mParts = parts.toIndexedSeq
          val (cols, rows) = graft.storage.FooterStats.readManifest(
            conf, parts.toIndexedSeq, _.startsWith("bloom_")) match {
            case Some((cs, rs)) =>
              (cs, rs.map(r => r.getString(r.fieldIndex("file")) -> r))
            case None =>
              val df = spark.read.parquet(parts.toIndexedSeq: _*)
              val keep = df.columns.filterNot(_.startsWith("bloom_"))
              (df.columns.toSeq,
                df.select(keep.map(org.apache.spark.sql.functions.col)
                  .toIndexedSeq: _*)
                  .collect().toSeq.map(r =>
                    r.getString(r.fieldIndex("file")) -> r))
          }
          mStats = cols.collect {
            case c if c.startsWith("min_") => c.drop(4)
          }.toSet
          mBlooms = cols.collect {
            case c if c.startsWith("bloom_") => c.drop(6)
          }.toSet
          rows.toMap
        }
      }
    RootData(v, root, dataPaths.map(st => (st.getPath, st.getLen)),
      statRows, mStats, mBlooms, rewritten, mParts,
      basis = graft.storage.Lakehouse.Protocol.readBasisFile(fs, root))
  }

  /** Fold per-root metadata into the planner's [[TableMeta]]: drop
    * rewrite-replaced files, attach zone-map rows + row counts + DV
    * references per file, compute per-column min/max coverage.
    */
  private[graft] def foldRoots(path: String, rootDatas: Seq[RootData],
      dvByVersion: Seq[DvCommit],
      eqDels: Seq[(Long, String, Seq[String])],
      fs: FileSystem, conf: Configuration,
      eqDelCounts: Map[Long, Map[String, Long]] = Map.empty)
      : TableMeta = {
    val statsCols = rootDatas.flatMap(_.mStats).toSet
    val bloomCols = rootDatas.flatMap(_.mBlooms).toSet
    // files a HIGHER-version rewrite replaced plan no task at all: their
    // whole-file masks make every row dead, and the replaced-name list
    // turns that from a scan-and-drop into a plan-time skip (the point
    // of rewriteDeletes — post-rewrite serve cost is clean-file cost)
    val rewrittenByVersion: Seq[(Long, Set[String])] =
      rootDatas.filter(_.rewritten.nonEmpty).map(rm => (rm.v, rm.rewritten))
    val fileTasks: Seq[(RootData, Path, Long)] =
      rootDatas.flatMap(rm => rm.files
        .filterNot { case (p, _) => rewrittenByVersion.exists {
          case (w, names) => w > rm.v && names(p.getName) } }
        .map { case (p, len) => (rm, p, len) })
    val all: Seq[FileMeta] = parMap(fileTasks) { case (rm, p, len) =>
      // current manifests key by file NAME (dir-relocatable — a
      // staged CTAS/RTAS generation publishes by rename); the
      // path-keyed lookups serve legacy manifests
      val stat = rm.statRows.get(p.getName)
        .orElse(rm.statRows.get(p.toString))
        .orElse(rm.statRows.get(p.toUri.toString))
      // row count from the manifest's `rows` column (decoded from the
      // footers the COMMIT already had open — writeStats) — the footer
      // open here serves only legacy manifests and stats-less tables,
      // so a 1M-file covered table plans with ZERO per-file RPCs
      val rows = stat.flatMap { r =>
        val i = r.schema.fieldNames.indexOf("rows")
        if (i < 0 || r.isNullAt(i)) None else Some(r.getLong(i))
      }.orElse(rm.knownRows.get(p.getName))
        .getOrElse(footerRowCount(fs, conf, p))
      // a 0-row file (empty input to an append) plans no task, carries
      // no stats row, and must not defeat min/max coverage
      if (rows == 0L) None
      else {
        // every DV from a HIGHER version contributes its sidecar; the
        // commit-written counts index gives the exact deleted count
        // for scan statistics (a later DV never re-deletes an
        // already-masked position — deleteRowsMoR's identity pass
        // reads through the mask — so the sum is exact)
        val name = p.getName
        val dvRefs = dvByVersion.filter(_.v > rm.v)
          .flatMap { dc =>
            dc.idx.get(name).map(sp =>
              (dc.v, sp, dc.counts.getOrElse(name, 0L),
                dc.extremes.get(name)))
          }
        val dv =
          if (dvRefs.isEmpty) None
          else Some(DvRef(dvRefs.map(_._2), dvRefs.map(_._3).sum))
        // post-mask extremes from the HIGHEST DV naming this file: that
        // commit's survivors were read through every lower mask, so its
        // extremes are exact under all outstanding DVs (and only ever
        // conservative-wide under later eq-del tombstones — still sound
        // for pruning; the agg gate separately requires zero eq-dels)
        val dvStats = dvRefs.maxByOption(_._1).flatMap(_._4)
        Some(FileMeta(p.toString, rm.v, len, rows, stat, dv, dvStats))
      }
    }.flatten
    val covered = all.forall(_.stats.isDefined)
    // MIN/MAX pushdown eligibility is PER COLUMN: a rows-only manifest
    // (stats-less commit, streaming sink, MoR update default) yields
    // stat rows that carry `rows` but no min_/max_ columns — such a
    // file is "covered" for COUNT but proves nothing about extremes.
    // Folding extremes over only the files that happen to carry the
    // column would silently drop the true extreme, so a column is
    // eligible only when EVERY live file's EFFECTIVE stat row — the
    // post-mask extremes for a DV'd file (a masked row could be the
    // manifest extreme), the manifest row otherwise — carries both
    // min_c and max_c (a null VALUE is fine — all-null file).
    val coveredCols: Set[String] =
      if (!covered || all.isEmpty) Set.empty
      else statsCols.filter { c =>
        val (lo, hi) = (s"min_$c", s"max_$c")
        all.forall { f =>
          val eff = if (f.dv.isDefined) f.dvStats else f.stats
          eff.exists { r =>
            val fn = r.schema.fieldNames
            fn.contains(lo) && fn.contains(hi)
          }
        }
      }
    val bloomManifests = rootDatas.filter(_.mBlooms.nonEmpty)
      .map(rm => rm.v -> ((rm.manifestParts, rm.mBlooms))).toMap
    val maskVersions: Set[Long] =
      dvByVersion.map(_.v).toSet ++ eqDels.map(_._1)
    val maskBasis: Map[Long, Set[Long]] = rootDatas
      .filter(rm => maskVersions(rm.v))
      .flatMap(rm => rm.basis.map(rm.v -> _)).toMap
    TableMeta(path, all, statsCols, covered && all.nonEmpty, bloomCols,
      eqDels, bloomManifests, coveredCols, eqDelCounts, maskVersions,
      maskBasis)
  }

  /** Order-preserving bounded-parallel map over driver-side IO tasks.
    * A fresh pool per call (resolve is not a hot loop); failures
    * propagate as the first exception, matching the serial behavior.
    */
  private def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    graft.storage.DriverIo.parMap(xs)(f)

  private def listDataFiles(fs: FileSystem,
      root: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
    val out = Seq.newBuilder[org.apache.hadoop.fs.FileStatus]
    def walk(dir: Path): Unit = fs.listStatus(dir).foreach { st =>
      val n = st.getPath.getName
      if (!n.startsWith("_") && !n.startsWith(".")) {
        if (st.isDirectory) walk(st.getPath)
        else if (n.endsWith(".parquet")) out += st
      }
    }
    walk(root)
    out.result()
  }

  /** Test observability: plan-time data-file footer opens (the legacy
    * fallback — a manifest-covered table must resolve with ZERO).
    */
  private[graft] val footerOpens = new java.util.concurrent.atomic.AtomicLong

  private def footerRowCount(fs: FileSystem, conf: Configuration,
      p: Path): Long = {
    footerOpens.incrementAndGet()
    val r = graft.storage.FooterStats.openReader(p, conf)
    try r.getRecordCount finally r.close()
  }

  // ——— RENAME COLUMN boundary translation ———
  //
  // A renamed column keeps its PHYSICAL (creation) name in every
  // committed parquet file, zone-map manifest, bloom set,
  // equality-delete key set and metadata checkpoint — none of those
  // are rewritten by a rename, so every layer below the catalog
  // boundary stays in physical names and remains self-consistent. The
  // catalog presents the LOGICAL name; these helpers translate exactly
  // once at the scan/write boundary. All relabeling is POSITIONAL
  // (names only — types and order untouched), so no data moves.

  /** Relabel physical→logical for presentation (identity when the
    * mapping is empty — the overwhelmingly common case costs nothing).
    */
  def renameFields(schema: StructType,
      p2l: Map[String, String]): StructType =
    if (p2l.isEmpty) schema
    else StructType(schema.fields.map { f =>
      // NESTED rename entries are keyed `parent.child` in the SAME
      // direction as this map (physical-dotted for p2l, logical-dotted
      // for the inverted map) with the LEAF name as value — the parent
      // component is always this field's INPUT name
      val dt = f.dataType match {
        case st: StructType =>
          StructType(st.fields.map(g =>
            ciLookup(p2l, s"${f.name}.${g.name}")
              .map(l => g.copy(name = l)).getOrElse(g)))
        case other => other
      }
      val f2 = if (dt eq f.dataType) f else f.copy(dataType = dt)
      ciLookup(p2l, f.name).map(l => f2.copy(name = l)).getOrElse(f2)
    })

  /** Relabel a LOGICAL-named schema back to physical names. */
  def physicalSchema(schema: StructType,
      l2p: Map[String, String]): StructType = renameFields(schema, l2p)

  /** Rename a DataFrame's logical columns to their physical names
    * before a write — by NAME, not position, so it serves both
    * contract-ordered inserts and user-ordered path writes.
    */
  def toPhysicalDf(df: org.apache.spark.sql.DataFrame,
      l2p: Map[String, String]): org.apache.spark.sql.DataFrame =
    if (l2p.isEmpty) df
    else {
      // nested renames first: relabel a struct column's INNER fields
      // to their physical names via a same-type cast (struct casts
      // match by POSITION, so an identical-typed cast is a pure
      // relabel — no per-row conversion survives codegen)
      val base =
        if (!l2p.keysIterator.exists(_.indexOf('.') >= 0)) df
        else df.schema.fields.foldLeft(df) { (d, f) =>
          f.dataType match {
            case st: org.apache.spark.sql.types.StructType =>
              val phys = org.apache.spark.sql.types.StructType(
                st.fields.map(g =>
                  ciLookup(l2p, s"${f.name}.${g.name}")
                    .map(p => g.copy(name = p)).getOrElse(g)))
              if (phys == st) d
              else d.withColumn(f.name, d.col(f.name).cast(phys))
            case _ => d
          }
        }
      base.toDF(base.columns.toIndexedSeq.map(c =>
        ciLookup(l2p, c).getOrElse(c)): _*)
    }

  /** Case-insensitive map lookup (Spark's default resolution rule). */
  def ciLookup(m: Map[String, String], n: String): Option[String] =
    m.get(n).orElse(
      m.collectFirst { case (k, v) if k.equalsIgnoreCase(n) => v })

  /** Rewrite a pushed filter's attribute names through `ren` (l2p on
    * the way in, p2l for explain on the way out). None = a node shape
    * this translator doesn't know that REFERENCES a renamed column —
    * dropped from pushdown (Spark re-applies every filter post-scan,
    * so dropping only loses skipping, never rows).
    */
  /** `"height|lo:hi:ndv;…"` → a V2 Histogram; None on any malformed
    * cell (stats are advisory — never fail a scan over them).
    */
  def parseHistogram(s: String)
      : Option[org.apache.spark.sql.connector.read.colstats.Histogram] =
    try {
      val Array(h, binsStr) = s.split("\\|", 2)
      val parsed = binsStr.split(";").filter(_.nonEmpty).map { b =>
        val p = b.split(":", 3)
        val (bl, bh, bn) = (p(0).toDouble, p(1).toDouble, p(2).toLong)
        new org.apache.spark.sql.connector.read.colstats.HistogramBin {
          override def lo(): Double = bl
          override def hi(): Double = bh
          override def ndv(): Long = bn
        }
      }
      val hh = h.toDouble
      if (parsed.isEmpty) None
      else Some(new org.apache.spark.sql.connector.read.colstats.Histogram {
        override def height(): Double = hh
        override def bins(): Array[
          org.apache.spark.sql.connector.read.colstats.HistogramBin] =
          parsed.toArray
      })
    } catch { case scala.util.control.NonFatal(_) => None }

  def renameFilter(f: Filter,
      m: Map[String, String]): Option[Filter] = {
    // a dotted attribute (nested-field pushdown) translates each
    // component: the parent through its top-level entry, the leaf
    // through the dotted entry keyed in this map's own direction —
    // never the whole dotted string through a single lookup (nested
    // entries' values are LEAF names)
    def r(n: String): String = {
      val i = n.indexOf('.')
      if (i < 0) ciLookup(m, n).getOrElse(n)
      else {
        val (p, c) = (n.take(i), n.drop(i + 1))
        s"${ciLookup(m, p).getOrElse(p)}.${ciLookup(m, n).getOrElse(c)}"
      }
    }
    f match {
      case EqualTo(c, v) => Some(EqualTo(r(c), v))
      case EqualNullSafe(c, v) => Some(EqualNullSafe(r(c), v))
      case GreaterThan(c, v) => Some(GreaterThan(r(c), v))
      case GreaterThanOrEqual(c, v) => Some(GreaterThanOrEqual(r(c), v))
      case LessThan(c, v) => Some(LessThan(r(c), v))
      case LessThanOrEqual(c, v) => Some(LessThanOrEqual(r(c), v))
      case In(c, vs) => Some(In(r(c), vs))
      case IsNull(c) => Some(IsNull(r(c)))
      case IsNotNull(c) => Some(IsNotNull(r(c)))
      case StringStartsWith(c, v) => Some(StringStartsWith(r(c), v))
      case StringEndsWith(c, v) => Some(StringEndsWith(r(c), v))
      case StringContains(c, v) => Some(StringContains(r(c), v))
      case And(l, rt) => for (a <- renameFilter(l, m);
        b <- renameFilter(rt, m)) yield And(a, b)
      case Or(l, rt) => for (a <- renameFilter(l, m);
        b <- renameFilter(rt, m)) yield Or(a, b)
      case Not(x) => renameFilter(x, m).map(Not)
      case AlwaysTrue() => Some(f)
      case AlwaysFalse() => Some(f)
      case other =>
        // unknown node: keep it only if none of its references need
        // translation (then it's already correct in physical space)
        if (other.references.forall(n => ciLookup(m, n).isEmpty))
          Some(other)
        else None
    }
  }

  /** Is this filter usable for file skipping (zone-map-covered simple
    * comparison, or a bloom-covered point lookup)? Unusable filters
    * still run post-scan — they just don't cut files.
    */
  def usableForSkipping(f: Filter, statsCols: Set[String],
      bloomCols: Set[String] = Set.empty): Boolean =
    f match {
      case EqualTo(c, _) => statsCols.contains(c) || bloomCols.contains(c)
      case GreaterThan(c, _) => statsCols.contains(c)
      case GreaterThanOrEqual(c, _) => statsCols.contains(c)
      case LessThan(c, _) => statsCols.contains(c)
      case LessThanOrEqual(c, _) => statsCols.contains(c)
      case In(c, vs) =>
        (statsCols.contains(c) || bloomCols.contains(c)) && vs.nonEmpty
      case And(l, r) =>
        usableForSkipping(l, statsCols, bloomCols) ||
          usableForSkipping(r, statsCols, bloomCols)
      case _ => false
    }

  /** A file SURVIVES unless a pushed filter proves it empty of matches.
    * Semantics mirror parquet row-group pruning: min/max are over
    * non-null values, and comparisons against a null min/max (all-null
    * file) correctly prove non-match for every comparison predicate.
    * Files without stats rows always survive.
    */
  def skipFiles(meta: TableMeta, pushed: Array[Filter]): Seq[FileMeta] = {
    if (pushed.isEmpty ||
      (meta.statsCols.isEmpty && meta.bloomCols.isEmpty))
      return meta.dataFiles
    // TWO passes: (1) zone maps alone cut files from the collected
    // metadata — no IO; (2) only if a pushed filter actually PROBES a
    // bloom column, the blobs for (probed columns × pass-1 survivors)
    // load lazily through TableMeta.bloomCache and the full predicate
    // re-evaluates with real probes. Pass 1 treats every bloom as
    // "might contain", so pass 2 is exactly as precise as the old
    // eager-blob evaluation while the driver never holds unprobed
    // columns or cut files' blobs.
    def mightMatch(stats: org.apache.spark.sql.Row, f: Filter,
        bloomOf: String => Option[Any => Boolean]): Boolean = {
      // ABSENT vs NULL: meta.statsCols is the UNION across commits, so
      // a rows-only manifest (stats-less commit / streaming sink / MoR
      // update default) yields stat rows whose SCHEMA lacks min_/max_
      // for columns other commits do cover. Absent from the schema =
      // nothing is known about this file — keep it (same as no stats
      // row at all). Present-but-NULL = the manifest writer saw the
      // file and every value was null — prunable for any comparison.
      // Conflating the two silently drops matching rows.
      def has(c: String): Boolean =
        stats.schema.fieldNames.contains(s"min_$c")
      def mn(c: String): Option[Any] = get(stats, s"min_$c")
      def mx(c: String): Option[Any] = get(stats, s"max_$c")
      def cmp(a: Any, b: Any): Int = compareValues(a, b)
      def recur(f: Filter): Boolean = f match {
        case EqualTo(c, v)
          if meta.statsCols(c) || meta.bloomCols(c) =>
          val range = !(meta.statsCols(c) && has(c)) ||
            ((mn(c), mx(c)) match {
              case (Some(lo), Some(hi)) =>
                cmp(lo, v) <= 0 && cmp(hi, v) >= 0
              case _ => false // all-null file: c = v is never true
            })
          range && (!meta.bloomCols(c) || v == null ||
            bloomOf(c).forall(_(v)))
        case GreaterThan(c, v) if meta.statsCols(c) && has(c) =>
          mx(c).exists(hi => cmp(hi, v) > 0)
        case GreaterThanOrEqual(c, v) if meta.statsCols(c) && has(c) =>
          mx(c).exists(hi => cmp(hi, v) >= 0)
        case LessThan(c, v) if meta.statsCols(c) && has(c) =>
          mn(c).exists(lo => cmp(lo, v) < 0)
        case LessThanOrEqual(c, v) if meta.statsCols(c) && has(c) =>
          mn(c).exists(lo => cmp(lo, v) <= 0)
        case In(c, vs) if meta.statsCols(c) || meta.bloomCols(c) =>
          vs.exists(v => recur(EqualTo(c, v)))
        case And(l, r) => recur(l) && recur(r)
        case _ => true // not provable from stats — keep
      }
      recur(f)
    }
    val noBloom = (_: String) => None: Option[Any => Boolean]
    // EFFECTIVE row per file: a DV'd file prunes with its post-mask
    // extremes when the commit recorded them — never wider than the
    // manifest's range and only ever conservative under later masks,
    // so substitution is always sound (and strictly tighter after
    // deletes carved out a range)
    def effective(fm: FileMeta): Option[org.apache.spark.sql.Row] =
      fm.dvStats.orElse(fm.stats)
    val zoned = meta.dataFiles.filter { fm =>
      effective(fm).forall(st =>
        pushed.forall(f => mightMatch(st, f, noBloom)))
    }
    // which bloom columns do the filters actually probe?
    def probedCols(f: Filter): Set[String] = f match {
      case EqualTo(c, v) if meta.bloomCols(c) && v != null => Set(c)
      case In(c, vs) if meta.bloomCols(c) && vs.exists(_ != null) => Set(c)
      case And(l, r) => probedCols(l) ++ probedCols(r)
      case _ => Set.empty
    }
    val probed = pushed.flatMap(probedCols).toSet
    if (probed.isEmpty || meta.bloomManifests.isEmpty) return zoned
    val spark = SparkSession.active
    zoned.filter(_.stats.isDefined).groupBy(_.version).foreach {
      case (v, fms) =>
        meta.bloomManifests.get(v).foreach { case (parts, avail) =>
          val cols = probed intersect avail
          if (cols.nonEmpty && parts.nonEmpty)
            meta.bloomCache.ensure(spark, v, parts, cols,
              // both key forms: current manifests key by NAME, legacy
              // by absolute path
              fms.flatMap(fm => Seq(new Path(fm.path).getName, fm.path)))
        }
    }
    zoned.filter { fm =>
      val name = new Path(fm.path).getName
      def bloomOf(c: String): Option[Any => Boolean] =
        meta.bloomCache.probe(fm.version, c, name, fm.path)
      effective(fm).forall(st =>
        pushed.forall(f => mightMatch(st, f, bloomOf)))
    }
  }

  private def get(r: org.apache.spark.sql.Row, name: String): Option[Any] = {
    val i = r.schema.fieldNames.indexOf(name)
    if (i < 0 || r.isNullAt(i)) None else Some(r.get(i))
  }

  /** Total order across the value representations that meet here: the
    * manifest's JVM-typed min/max vs the pushed filter's literal.
    * Temporal types normalize through epoch millis; numerics through
    * BigDecimal — mirrors Catalyst's binary-comparison coercions for
    * the type combinations a same-column compare can produce.
    */
  private[graft] def compareValues(a: Any, b: Any): Int = {
    def millis(x: Any): Option[Long] = x match {
      case t: java.sql.Timestamp => Some(t.getTime)
      case d: java.sql.Date => Some(d.getTime)
      case t: java.time.Instant => Some(t.toEpochMilli)
      case d: java.time.LocalDate =>
        Some(d.toEpochDay * 86400000L)
      case t: java.time.LocalDateTime =>
        Some(t.toInstant(java.time.ZoneOffset.UTC).toEpochMilli)
      case _ => None
    }
    (millis(a), millis(b)) match {
      case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
      case _ => (a, b) match {
        case (x: String, y: String) => x.compareTo(y)
        case (x: Number, y: Number) => // incl. BigDecimal — exact compare
          new java.math.BigDecimal(x.toString)
            .compareTo(new java.math.BigDecimal(y.toString))
        case _ => throw new IllegalArgumentException(
          s"incomparable zone-map values: ${a.getClass} vs ${b.getClass}")
      }
    }
  }

  /** Evaluate the pushed aggregate from metadata: count from footers,
    * min/max by folding the per-file zone-map rows (already collected in
    * `meta`). Results convert to Catalyst internal values once here.
    */
  def computeAgg(meta: TableMeta, specs: Seq[String],
      full: StructType): Seq[Any] = {
    val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
    specs.map {
      case "count" => meta.dataFiles.map { f =>
        val name = new Path(f.path).getName
        // eq-del matched counts are exact AND disjoint from the DV
        // deleted set (each commit's scan reads through every earlier
        // mask); the pushdown gate verified coverage, so a missing
        // entry here can only mean "this tombstone is not above this
        // file" — zero by the sequence rule
        val eqMatched = meta.eqDels.filter(_._1 > f.version)
          .map { case (ev, _, _) =>
            meta.eqDelCounts.getOrElse(ev, Map.empty)
              .getOrElse(name, 0L)
          }.sum
        f.rowCount - f.dv.map(_.deleted).getOrElse(0L) - eqMatched
      }.sum
      case s =>
        val Array(kind, c) = s.split(":", 2)
        // EFFECTIVE stats: a DV'd file answers from its post-mask
        // extremes row (the gate guaranteed it exists for c)
        val vals = meta.dataFiles
          .flatMap(f => if (f.dv.isDefined) f.dvStats else f.stats)
          .flatMap(r => get(r, s"${kind}_$c"))
        val folded =
          if (vals.isEmpty) null
          else if (kind == "min") vals.reduce((a, b) =>
            if (compareValues(a, b) <= 0) a else b)
          else vals.reduce((a, b) => if (compareValues(a, b) >= 0) a else b)
        // type WIDENING: stats recorded before ALTER COLUMN TYPE hold
        // the narrow JVM type — widen before the Catalyst conversion
        // (whose converters are exact-typed). Decimal stays as-is:
        // widening preserves the scale and the converter re-scales.
        val widened = (folded, full(c).dataType) match {
          case (i: java.lang.Integer, LongType) =>
            java.lang.Long.valueOf(i.longValue)
          case (i: java.lang.Integer, DoubleType) =>
            java.lang.Double.valueOf(i.doubleValue)
          case (x: java.lang.Float, DoubleType) =>
            java.lang.Double.valueOf(x.doubleValue)
          case _ => folded
        }
        conv.createToCatalystConverter(full(c).dataType)(widened)
    }
  }
}
