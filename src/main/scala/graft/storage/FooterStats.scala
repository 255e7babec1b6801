package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.types._

/** Zone-map statistics decoded from PARQUET FOOTERS — the write path's
  * alternative to re-scanning a just-committed version for min/max/null
  * counts (what Iceberg/Delta do: per-file stats come from write-time
  * metadata, never a second read of the data). At 100 TB the difference
  * is a footer open per file versus re-reading the whole commit.
  *
  * The decode is CONSERVATIVE: if any requested column of any file lacks
  * trustworthy statistics (missing stats, unset null counts, INT96
  * timestamps, unsupported physical/logical shapes), the whole commit
  * returns None and the caller falls back to the scan-based manifest —
  * a wrong zone map silently drops files from query results, so partial
  * coverage is never patched together here.
  *
  * Values are decoded to the SAME Spark external types the scan-based
  * aggregate produced, so manifest consumers (readBetween pruning, the
  * V2 skipFiles, SPJ's min==max keying, `$partitions`) see identical
  * content. String bounds aggregate in unsigned-UTF8-byte order —
  * UTF8String's comparison — not Java's UTF-16 order.
  */
object FooterStats {

  /** Open a parquet footer reader with the CALLER's conf as its options.
    * `ParquetFileReader.open(InputFile)` alone builds a fresh
    * `HadoopParquetConfiguration` — a `new Configuration()` that
    * re-parses the Hadoop default resources — on every open.
    */
  def openReader(f: Path, conf: Configuration): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
      org.apache.parquet.HadoopReadOptions.builder(conf).build())

  /** Per-file decoded stats (file NAME → column → (min, max, nullCount))
    * plus each column's Spark type, derived from the parquet logical
    * types so the manifest carries the same types the scan-based
    * aggregate would have. None = fall back to the scan (empty commit,
    * column missing, untrustworthy or unsupported statistics anywhere).
    */
  def collect(fs: FileSystem, conf: Configuration, files: Seq[Path],
      cols: Seq[String]): Option[(Seq[FileStats], Seq[(String, DataType)])] = {
    if (files.isEmpty || cols.isEmpty) return None
    // footer opens are filesystem RPCs — bounded-parallel like the
    // scan's resolve walk, so a many-file commit's manifest step is
    // latency-of-one, not latency-times-files, on the driver
    val opened = DriverIo.parMap(files) { f =>
      try {
        val r = openReader(f, conf)
        try Some(r.getFooter) finally r.close()
      } catch { case _: Exception => None }
    }
    if (opened.exists(_.isEmpty)) return None
    val footers = opened.map(_.get)
    // column Spark types from the FIRST footer (one write job produced
    // every file, so they agree — a mismatch downstream falls back)
    val first = footers.head.getFileMetaData.getSchema
    val types: Seq[(String, DataType)] = cols.map { c =>
      val idx = first.getFields
      var found: PrimitiveType = null
      idx.forEach(t => if (t.getName == c && t.isPrimitive)
        found = t.asPrimitiveType())
      if (found == null) return None // partition-only or nested column
      sparkTypeOf(found) match {
        case Some(dt) => c -> dt
        case None => return None
      }
    }
    val out = files.zip(footers).map { case (f, footer) =>
      val blocks = footer.getBlocks
      val rowCount = {
        var n = 0L
        blocks.forEach(b => n += b.getRowCount)
        n
      }
      val perCol = types.map { case (c, dt) =>
        decodeColumn(footer, c, dt, rowCount) match {
          case Some(stat) => stat
          case None => return None
        }
      }
      FileStats(f.getName, rowCount, cols.zip(perCol).toMap)
    }
    Some((out, types))
  }

  final case class FileStats(name: String, rows: Long,
      cols: Map[String, (Any, Any, Long)])

  /** Footer row counts alone (file NAME → rows) — for manifests whose
    * commit has bloom columns but no zone-map columns, so [[collect]]
    * has nothing to decode yet the manifest still wants the `rows`
    * column (the V2 scan's resolve must never re-open footers a commit
    * already had open). None = any footer unreadable (caller falls back
    * to the scan path, same conservative rule as [[collect]]).
    */
  def rowCounts(fs: FileSystem, conf: Configuration,
      files: Seq[Path]): Option[Map[String, Long]] = {
    if (files.isEmpty) return None
    val opened = DriverIo.parMap(files) { f =>
      try {
        val r = openReader(f, conf)
        try Some(f.getName -> r.getRecordCount) finally r.close()
      } catch { case _: Exception => None }
    }
    if (opened.exists(_.isEmpty)) None
    else Some(opened.map(_.get).toMap)
  }

  /** Per-file Split-Block Bloom Filters read from the footers the write
    * already produced (`parquet.bloom.filter.enabled#<col>` on the
    * writer) — the bloom analogue of [[collect]]: no second data pass.
    * Returns file NAME → column → [[FooterBloom]]-framed blob (one SBBF
    * per row group), or None when ANY (file, row group, column) lacks a
    * filter — partial coverage falls back to the scan-built blooms,
    * same conservative rule as the stats decode.
    */
  def collectBlooms(fs: FileSystem, conf: Configuration, files: Seq[Path],
      cols: Seq[String]): Option[Map[String, Map[String, Array[Byte]]]] = {
    if (files.isEmpty || cols.isEmpty) return None
    // per-file closure opens the reader, lifts every column's SBBFs,
    // closes — one parallel task per file (IO-bound: footer + bloom
    // pages), same bounded pool as the stats decode
    def bloomsOf(f: Path): Option[(String, Map[String, Array[Byte]])] =
      try {
        val r = openReader(f, conf)
        try {
          val footer = r.getFooter
          val blocks = footer.getBlocks
          val perCol = cols.map { c =>
            val bitsets = Seq.newBuilder[Array[Byte]]
            var bi = 0
            while (bi < blocks.size()) {
              val block = blocks.get(bi)
              var found: org.apache.parquet.hadoop.metadata
                .ColumnChunkMetaData = null
              val it = block.getColumns.iterator()
              while (it.hasNext && found == null) {
                val cc = it.next()
                if (cc.getPath.size() == 1 && cc.getPath.toDotString == c)
                  found = cc
              }
              if (found == null) return None
              val bf = r.getBloomFilterDataReader(block)
                .readBloomFilter(found)
              if (bf == null) return None // column written without SBBF
              val bos = new java.io.ByteArrayOutputStream()
              bf.writeTo(bos)
              bitsets += bos.toByteArray
              bi += 1
            }
            c -> FooterBloom.encode(bitsets.result())
          }
          Some(f.getName -> perCol.toMap)
        } finally r.close()
      } catch { case _: Exception => None }
    val out = DriverIo.parMap(files)(bloomsOf)
    if (out.exists(_.isEmpty)) return None
    Some(out.map(_.get).toMap)
  }

  /** DRIVER-SIDE stats-manifest read — the plan-time replacement for a
    * `spark.read.parquet(manifest).collect()` job per commit root. A
    * manifest is one row per data file of ONE commit (small by
    * construction), yet the Spark-job route costs ~15-20 ms of
    * scheduler latency per root: on a 1000-commit table that is the
    * dominant cold-resolve term once footer opens are gone. This reads
    * the part files directly through parquet-hadoop's Group API,
    * column-pruned by `drop` (bloom blobs never decode), producing the
    * SAME externally-typed Rows a collect() would (strings, Long/Int,
    * java.sql.Timestamp/Date, java.math.BigDecimal) so every consumer
    * (zone-map cuts, SPJ keying, agg pushdown) sees identical values.
    *
    * Returns (ALL column names incl. dropped — bloom discovery needs
    * them, rows). None = any unproven shape (schema mismatch across
    * parts, nested/INT96/unknown types) — the caller falls back to the
    * Spark job, same conservative rule as the stats decode.
    */
  def readManifest(conf: Configuration, parts: Seq[String],
      drop: String => Boolean)
      : Option[(Seq[String], Seq[org.apache.spark.sql.Row])] = {
    import scala.jdk.CollectionConverters._
    import PrimitiveType.PrimitiveTypeName._
    if (parts.isEmpty) return None
    val schemas = parts.map { p =>
      val r = openReader(new Path(p), conf)
      try r.getFileMetaData.getSchema finally r.close()
    }
    val msg = schemas.head
    if (schemas.exists(_.toString != msg.toString)) return None
    val allCols = msg.getFields.asScala.map(_.getName).toSeq
    val kept = msg.getFields.asScala.filter(f => !drop(f.getName)).toSeq
    if (kept.exists(!_.isPrimitive)) return None
    val types: Seq[(String, PrimitiveType, DataType)] = kept.map { f =>
      val pt = f.asPrimitiveType()
      sparkTypeOf(pt) match {
        case Some(dt) => (f.getName, pt, dt)
        case None => return None
      }
    }
    val sparkSchema = StructType(types.map { case (n, _, dt) =>
      StructField(n, dt) })
    val reqMsg = new org.apache.parquet.schema.MessageType(
      msg.getName, kept.asJava)
    val rows = Seq.newBuilder[org.apache.spark.sql.Row]
    parts.foreach { p =>
      val rconf = new Configuration(conf)
      rconf.set(org.apache.parquet.hadoop.api.ReadSupport
        .PARQUET_READ_SCHEMA, reqMsg.toString)
      val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new Path(p))
        .withConf(rconf).build()
      try {
        var g = reader.read()
        while (g != null) {
          val gt = g.getType
          val vals: Array[Any] = types.map { case (n, pt, dt) =>
            val idx = gt.getFieldIndex(n)
            if (g.getFieldRepetitionCount(idx) == 0) null
            else {
              val raw: AnyRef = pt.getPrimitiveTypeName match {
                case INT64 => java.lang.Long.valueOf(g.getLong(idx, 0))
                case INT32 => java.lang.Integer.valueOf(g.getInteger(idx, 0))
                case DOUBLE => java.lang.Double.valueOf(g.getDouble(idx, 0))
                case FLOAT => java.lang.Float.valueOf(g.getFloat(idx, 0))
                case BOOLEAN =>
                  java.lang.Boolean.valueOf(g.getBoolean(idx, 0))
                case BINARY | FIXED_LEN_BYTE_ARRAY => g.getBinary(idx, 0)
                case _ => return None
              }
              convert(pt, dt, raw, raw) match {
                case Some((v, _)) => v
                case None => return None
              }
            }
          }.toArray
          rows += new org.apache.spark.sql.catalyst.expressions
            .GenericRowWithSchema(vals, sparkSchema)
          g = reader.read()
        }
      } finally reader.close()
    }
    Some((allCols, rows.result()))
  }

  /** DRIVER-SIDE stats-manifest write — the commit-side twin of
    * [[readManifest]]. A manifest is one small file, yet writing it
    * through `spark.createDataFrame(...).coalesce(1).write` costs a
    * Spark job's scheduler latency (~150 ms) on EVERY commit; this
    * writes the same parquet directly via parquet-hadoop's example
    * Group writer. Types mirror what Spark's writer produced under the
    * MicrosScope (strings, int/long, TIMESTAMP(MICROS, adjustedToUTC),
    * DATE, ≤18-precision decimals as INT64, binary blobs), so the read
    * side — readManifest, the spark.read fallback, readBetween — sees
    * identical content. False = a shape this writer does not vouch for
    * (wide decimals, exotic types) — the caller falls back to the
    * Spark-job write, same conservative rule as everything here.
    */
  def writeManifestFile(conf: Configuration, dir: Path,
      schema: StructType, rows: Seq[org.apache.spark.sql.Row]): Boolean = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L, Types}
    import PrimitiveType.PrimitiveTypeName._
    val fields: Seq[org.apache.parquet.schema.Type] = schema.fields.toSeq
      .map { f =>
        val b = f.dataType match {
          case StringType => Types.optional(BINARY).as(L.stringType())
          case LongType => Types.optional(INT64)
          case IntegerType => Types.optional(INT32)
          case ShortType => Types.optional(INT32).as(L.intType(16, true))
          case ByteType => Types.optional(INT32).as(L.intType(8, true))
          case BooleanType => Types.optional(BOOLEAN)
          case DoubleType => Types.optional(DOUBLE)
          case FloatType => Types.optional(FLOAT)
          case TimestampType =>
            Types.optional(INT64).as(L.timestampType(true,
              L.TimeUnit.MICROS))
          case DateType => Types.optional(INT32).as(L.dateType())
          case d: DecimalType if d.precision <= 18 =>
            Types.optional(INT64).as(L.decimalType(d.scale, d.precision))
          case BinaryType => Types.optional(BINARY)
          case _ => return false
        }
        b.named(f.name)
      }
    val msg = new org.apache.parquet.schema.MessageType("graft_stats",
      fields: _*)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val file = new Path(dir, "part-00000-graft-manifest.parquet")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(file, conf))
      .withConf(conf).withType(msg)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try {
      val factory =
        new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      rows.foreach { r =>
        val g = factory.newGroup()
        schema.fields.zipWithIndex.foreach { case (f, i) =>
          if (!r.isNullAt(i)) f.dataType match {
            case StringType => g.append(f.name, r.getString(i))
            case LongType => g.append(f.name, r.getLong(i))
            case IntegerType => g.append(f.name, r.getInt(i))
            case ShortType => g.append(f.name, r.getShort(i).toInt)
            case ByteType => g.append(f.name, r.getByte(i).toInt)
            case BooleanType => g.append(f.name, r.getBoolean(i))
            case DoubleType => g.append(f.name, r.getDouble(i))
            case FloatType => g.append(f.name, r.getFloat(i))
            case TimestampType =>
              val t = r.getAs[java.sql.Timestamp](i)
              g.append(f.name,
                Math.multiplyExact(Math.floorDiv(t.getTime, 1000L),
                  1000000L) + t.getNanos / 1000L)
            case DateType =>
              g.append(f.name,
                r.getAs[java.sql.Date](i).toLocalDate.toEpochDay.toInt)
            case d: DecimalType =>
              g.append(f.name, r.getAs[java.math.BigDecimal](i)
                .setScale(d.scale).unscaledValue().longValueExact())
            case BinaryType =>
              g.append(f.name, org.apache.parquet.io.api.Binary
                .fromConstantByteArray(r.getAs[Array[Byte]](i)))
            case _ => return false // unreachable: schema pre-validated
          }
        }
        writer.write(g)
      }
    } finally writer.close()
    true
  }

  /** Spark type implied by a parquet primitive + logical annotation —
    * the inverse of Spark's parquet writer for the types zone maps
    * cover. None = unsupported (INT96, nested, intervals, …).
    */
  private def sparkTypeOf(pt: PrimitiveType): Option[DataType] = {
    import PrimitiveType.PrimitiveTypeName._
    import LogicalTypeAnnotation._
    (pt.getPrimitiveTypeName, pt.getLogicalTypeAnnotation) match {
      case (INT64, null) => Some(LongType)
      case (INT64, a: DecimalLogicalTypeAnnotation) =>
        Some(DecimalType(a.getPrecision, a.getScale))
      case (INT64, _: TimestampLogicalTypeAnnotation) => Some(TimestampType)
      case (INT64, a: IntLogicalTypeAnnotation)
        if a.getBitWidth == 64 && a.isSigned => Some(LongType)
      case (INT32, null) => Some(IntegerType)
      case (INT32, _: DateLogicalTypeAnnotation) => Some(DateType)
      case (INT32, a: DecimalLogicalTypeAnnotation) =>
        Some(DecimalType(a.getPrecision, a.getScale))
      case (INT32, a: IntLogicalTypeAnnotation) if a.isSigned =>
        a.getBitWidth match {
          case 8 => Some(ByteType)
          case 16 => Some(ShortType)
          case 32 => Some(IntegerType)
          case _ => None
        }
      case (DOUBLE, _) => Some(DoubleType)
      case (FLOAT, _) => Some(FloatType)
      case (BOOLEAN, _) => Some(BooleanType)
      case (BINARY, _: StringLogicalTypeAnnotation) => Some(StringType)
      case (BINARY, a: DecimalLogicalTypeAnnotation) =>
        Some(DecimalType(a.getPrecision, a.getScale))
      case (BINARY, null) => Some(BinaryType) // manifest bloom blobs
      case (FIXED_LEN_BYTE_ARRAY, a: DecimalLogicalTypeAnnotation) =>
        Some(DecimalType(a.getPrecision, a.getScale))
      case _ => None
    }
  }

  /** One column across all row groups of one footer: (min, max, nulls)
    * in Spark external types, or None when untrustworthy.
    */
  private def decodeColumn(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata,
      name: String, dt: DataType, rowCount: Long): Option[(Any, Any, Long)] = {
    var nulls = 0L
    var min: Any = null
    var max: Any = null
    val blocks = footer.getBlocks
    var bi = 0
    while (bi < blocks.size()) {
      val block = blocks.get(bi)
      val col = {
        var found: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = null
        val it = block.getColumns.iterator()
        while (it.hasNext && found == null) {
          val c = it.next()
          if (c.getPath.size() == 1 && c.getPath.toDotString == name)
            found = c
        }
        found
      }
      if (col == null) return None
      val st = col.getStatistics
      if (st == null || st.isEmpty || !st.isNumNullsSet) return None
      nulls += st.getNumNulls
      if (st.hasNonNullValue) {
        val (lo, hi) = convert(col.getPrimitiveType, dt,
          st.genericGetMin.asInstanceOf[AnyRef],
          st.genericGetMax.asInstanceOf[AnyRef]) match {
          case Some(p) => p
          case None => return None
        }
        if (min == null || lt(dt, lo, min)) min = lo
        if (max == null || lt(dt, max, hi)) max = hi
      }
      bi += 1
    }
    // an all-null column yields (null, null, rowCount) — exactly what
    // the scan-based min/max aggregate produces
    Some((min, max, nulls))
  }

  /** `a < b` under the SAME ordering the scan-based aggregate used. */
  private def lt(dt: DataType, a: Any, b: Any): Boolean = dt match {
    case StringType => utf8Lt(a.asInstanceOf[String], b.asInstanceOf[String])
    case BinaryType => // unsigned lexicographic — Spark's binary ordering
      val x = a.asInstanceOf[Array[Byte]]; val y = b.asInstanceOf[Array[Byte]]
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val d = (x(i) & 0xff) - (y(i) & 0xff)
        if (d != 0) return d < 0
        i += 1
      }
      x.length < y.length
    case _: DecimalType =>
      a.asInstanceOf[java.math.BigDecimal]
        .compareTo(b.asInstanceOf[java.math.BigDecimal]) < 0
    case TimestampType =>
      a.asInstanceOf[java.sql.Timestamp]
        .compareTo(b.asInstanceOf[java.sql.Timestamp]) < 0
    case DateType =>
      a.asInstanceOf[java.sql.Date].compareTo(b.asInstanceOf[java.sql.Date]) < 0
    case _ =>
      // numeric primitives share java.lang.Comparable
      a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
  }

  /** Spark compares strings as unsigned UTF-8 bytes (UTF8String), not
    * UTF-16 code units — aggregate footer bounds the same way.
    */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val d = (x(i) & 0xff) - (y(i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    x.length < y.length
  }

  /** Physical parquet statistic values → Spark external values for `dt`.
    * None = shape this decoder does not vouch for (INT96, exotic
    * encodings) — the caller falls back to the scan.
    */
  private def convert(pt: PrimitiveType, dt: DataType, lo: AnyRef,
      hi: AnyRef): Option[((Any, Any))] = {
    import PrimitiveType.PrimitiveTypeName._
    def both(f: AnyRef => Any): Option[(Any, Any)] = Some((f(lo), f(hi)))
    (dt, pt.getPrimitiveTypeName) match {
      case (LongType, INT64) => both(_.asInstanceOf[java.lang.Long])
      case (IntegerType, INT32) => both(_.asInstanceOf[java.lang.Integer])
      case (ShortType, INT32) =>
        both(v => v.asInstanceOf[java.lang.Integer].shortValue())
      case (ByteType, INT32) =>
        both(v => v.asInstanceOf[java.lang.Integer].byteValue())
      // parquet bounds normalize signed zeros (-0.0 as min, +0.0 as max
      // — PARQUET-1222's valid-bound rule); Spark compares -0.0 == 0.0,
      // so collapsing to +0.0 keeps the bound valid AND byte-identical
      // to what the scan-based aggregate produced
      case (DoubleType, DOUBLE) => both { v =>
        val d = v.asInstanceOf[java.lang.Double]
        if (d == 0.0d) java.lang.Double.valueOf(0.0d) else d
      }
      case (FloatType, FLOAT) => both { v =>
        val f = v.asInstanceOf[java.lang.Float]
        if (f == 0.0f) java.lang.Float.valueOf(0.0f) else f
      }
      case (BooleanType, BOOLEAN) => both(_.asInstanceOf[java.lang.Boolean])
      case (StringType, BINARY)
        if pt.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        both(v => new String(
          v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes, "UTF-8"))
      case (BinaryType, BINARY) =>
        both(v => v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes)
      case (d: DecimalType, INT32) =>
        both(v => new java.math.BigDecimal(
          java.math.BigInteger.valueOf(
            v.asInstanceOf[java.lang.Integer].longValue()), d.scale))
      case (d: DecimalType, INT64) =>
        both(v => new java.math.BigDecimal(
          java.math.BigInteger.valueOf(v.asInstanceOf[java.lang.Long]),
          d.scale))
      case (d: DecimalType, ptn)
        if (ptn == FIXED_LEN_BYTE_ARRAY || ptn == BINARY) &&
          pt.getLogicalTypeAnnotation
            .isInstanceOf[LogicalTypeAnnotation.DecimalLogicalTypeAnnotation] =>
        both(v => new java.math.BigDecimal(
          new java.math.BigInteger(
            v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes),
          d.scale))
      case (TimestampType, INT64)
        if pt.getLogicalTypeAnnotation
          .isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] =>
        val ann = pt.getLogicalTypeAnnotation
          .asInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
        import LogicalTypeAnnotation.TimeUnit
        val toMicros: Long => Long = ann.getUnit match {
          case TimeUnit.MICROS => identity
          case TimeUnit.MILLIS => _ * 1000L
          case TimeUnit.NANOS => Math.floorDiv(_, 1000L)
        }
        both { v =>
          val us = toMicros(v.asInstanceOf[java.lang.Long])
          java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
            Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
        }
      case (DateType, INT32) =>
        both(v => java.sql.Date.valueOf(java.time.LocalDate
          .ofEpochDay(v.asInstanceOf[java.lang.Integer].longValue())))
      case _ => None // INT96 timestamps and anything else unproven
    }
  }
}
