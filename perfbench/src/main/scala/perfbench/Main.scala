package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.ReplayDump
import graft.etl.Etl
import graft.ingest.Ingest
import graft.mart.{Mart, MartStaging}
import graft.report.Summary
import graft.storage.{Lakehouse, ProtocolTelemetry}
import graft.tools.{CreateMeteredFs, MeteredFs}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.StructType

/** The JVM side of the warehouse benchmark (run.py starts it).
  *
  * It drives the engine's public layer calls the way the reference
  * operator does — per day `Ingest.loadDayFromParquet` →
  * `Etl.normalizeTransactions` → `Mart.addReportData`, then analyst reads
  * through `Lakehouse`, `MartStaging` and `Summary` — in one closed loop
  * on the calling thread, and writes every timing, check and trace figure
  * to one JSON file that run.py turns into metrics.
  *
  * Arguments are `key=value`: workload, feed (a TSV of day files with
  * their row and byte counts), ops (a TSV of the read ops to run, in
  * order), fixtures, work, out (the result file), spans (the span file),
  * trace, warmup, timed_from (the first timed day) and family (the mart
  * family, scd1 or scd2).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv =>
      val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val spark = graft.GraftSession.builder()
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try new Bench(spark, a).run()
    finally spark.stop()
  }
}

final case class FeedDay(path: String, rows: Long, bytes: Long)
final case class ReadOp(kind: String, a1: String, a2: String) {
  def key: String = Seq(kind, a1, a2).filter(_.nonEmpty).mkString("/")
}

/** A lake plus what the reads on it need: its family and, per landed
  * day, the wall clock right after that day's mart finished.
  */
final class LakeRun(val lake: Lakehouse, val family: MartStaging.ScdType) {
  val dayEndMs = mutable.ArrayBuffer.empty[Long]
  var inputBytes = 0L
  var reportV3: Option[Long] = None
  def familyName: String =
    if (family == MartStaging.Scd2Dims) "scd2" else "scd1"
}

final class Bench(spark: SparkSession, a: Map[String, String]) {
  private val workload = a("workload")
  private val work = a("work")
  private val trace = a("trace") == "1"
  private val feed = tsv(a("feed")).map(r => FeedDay(r(0), r(1).toLong, r(2).toLong))
  private val ops = tsv(a("ops")).map(r => ReadOp(r(0), r.lift(1).getOrElse(""),
    r.lift(2).getOrElse("")))
  private val fixtures = (1 to 4).map(d => s"${a("fixtures")}/day$d.parquet")

  private val Tables = graft.model.Schemas.byName.keys.toSeq.sorted

  private val spans = new SpanLog
  private val listener = new JobListener
  private var traced = false
  // timed calls: (seconds, transactions) per day, seconds per read
  private val days = mutable.ArrayBuffer.empty[(Double, Long)]
  private val reads = mutable.ArrayBuffer.empty[Double]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var attempted, failed = 0
  // first result per op, keyed under the family — later repeats must match
  // it, and it is dumped for the DuckDB comparison
  private val firstResult = mutable.LinkedHashMap.empty[String, (StructType, Array[Row], String)]
  private val stagingRows = mutable.Map.empty[String, Long]

  private def tsv(path: String): IndexedSeq[Array[String]] =
    Files.readAllLines(Paths.get(path)).asScala.toIndexedSeq
      .filter(_.nonEmpty).map(_.split("\t", -1))

  private def lake(name: String): Lakehouse =
    new Lakehouse(spark, s"$work/lakes/$name")

  private val family = a("family") match {
    case "scd2" => MartStaging.Scd2Dims
    case "scd1" => MartStaging.Scd1Dims
  }

  // ---- layers -------------------------------------------------------

  private def versionSet(l: Lakehouse): Set[(String, Long)] =
    Tables.filter(l.exists).flatMap(t => l.versions(t).map(v => t -> v._1)).toSet

  /** One call into a layer: a span when tracing, plus the version dirs
    * it committed (counted outside the span).
    */
  private def layer[A](name: String, label: String, l: Lakehouse)(body: => A): A =
    if (!traced) body
    else {
      val v0 = versionSet(l)
      val r = spans(name, label)(body)
      spans.annotate(name, Map("commits" -> (versionSet(l) -- v0).size.toDouble))
      r
    }

  private def spanIfTraced[A](name: String, label: String)(body: => A): A =
    if (traced) spans(name, label)(body) else body

  /** Heap still live after the run: the smallest of three full
    * collections half a second apart, so that Spark's context cleaner and
    * the asynchronous unpersists can drop what each one made unreachable
    * (with two, about one run in five still read 270 MB high).
    */
  private def liveHeapAfterGc(): Double =
    (1 to 3).map { i =>
      if (i > 1) Thread.sleep(500)
      System.gc()
      JvmTimes.postGcHeapMb
    }.min

  private def landDay(run: LakeRun, day: Int, f: FeedDay): Unit = {
    val l = run.lake
    val label = s"day$day"
    val timed = day >= timedFrom
    if (timed) markFirstTimed()
    attempted += 1
    val before = if (traced && l.exists("report")) l.read("report").count() else 0L
    val t0 = System.nanoTime()
    try {
      spanIfTraced("day", label) {
        layer("ingest", label, l)(Ingest.loadDayFromParquet(l, f.path))
        layer("etl", label, l)(Etl.normalizeTransactions(l))
        layer("mart", label, l)(Mart.addReportData(l, run.family, ReplayDump.FixedClock))
      }
    } catch {
      case NonFatal(e) => failed += 1; throw e
    }
    val secs = (System.nanoTime() - t0) / 1e9
    run.dayEndMs += System.currentTimeMillis()
    run.inputBytes += f.bytes
    if (timed) days += ((secs, f.rows))
    System.err.println(f"[perfbench] $label ${run.familyName} $secs%.2fs")
    if (traced)
      spans.annotate("mart", Map("rows_out" -> (l.read("report").count() - before).toDouble))
  }

  private def readOnce(run: LakeRun, op: ReadOp): (StructType, Array[Row]) = {
    val l = run.lake
    def show(df: org.apache.spark.sql.DataFrame) = (df.schema, df.collect())
    op.kind match {
      case "report_by_day" => show(Summary.fraudsByDay(l))
      case "client_history" =>
        show(l.read("dim_clients_hist").filter(col("client_id") === op.a1))
      case "card_day_txns" =>
        show(l.readWithPartitionColumns("fact_transactions").filter(
          col("card_num") === op.a1 && col("trans_dt_day") === lit(op.a2).cast("date")))
      case "dim_as_of" => show(l.readAsOf(op.a1, run.dayEndMs(op.a2.toInt - 1)))
      case "mart_staging" =>
        MartStaging.build(l, run.family).write.format("noop").mode("overwrite").save()
        (new StructType, Array.empty[Row])
    }
  }

  private def read(run: LakeRun, op: ReadOp, n: Int): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val (schema, rows) =
      try {
        spanIfTraced(s"read.${op.kind}", s"r$n/${op.key}")(readOnce(run, op))
      } catch { case NonFatal(e) => failed += 1; throw e }
    val secs = (System.nanoTime() - t0) / 1e9
    val out =
      if (op.kind != "mart_staging") rows.length.toLong
      else stagingRows.getOrElseUpdate(run.familyName,
        MartStaging.build(run.lake, run.family).count())
    if (traced) spans.annotate(s"read.${op.kind}", Map("rows_out" -> out.toDouble))
    reads += secs
    System.err.println(f"[perfbench] read ${op.key} $secs%.3fs rows=$out")
    val fp = rows.map(_.toString).sorted.mkString("\n")
    val key = s"${run.familyName}/${op.key}"
    firstResult.get(key) match {
      case None => firstResult(key) = (schema, rows, fp)
      case Some((_, _, fp0)) if fp0 != fp =>
        checks += ((s"repeat:$key", false, "result differs from its first run"))
      case _ =>
    }
  }

  /** Fixture days 1 and 4 (the churn day: SCD closes and updates) and one
    * round of reads on a throwaway lake, so the timed loop starts with
    * classes loaded, code generated and the JIT warm.
    */
  private def warmUp(): Unit = {
    val run = new LakeRun(lake("warmup"), family)
    Seq(fixtures(0), fixtures(3)).foreach { p =>
      Ingest.loadDayFromParquet(run.lake, p)
      Etl.normalizeTransactions(run.lake)
      Mart.addReportData(run.lake, run.family, ReplayDump.FixedClock)
      run.dayEndMs += System.currentTimeMillis()
    }
    Seq(ReadOp("report_by_day", "", ""), ReadOp("client_history", "x", ""),
      ReadOp("card_day_txns", "x", "2020-05-04"), ReadOp("dim_as_of", "dim_cards_hist", "1"),
      ReadOp("mart_staging", "", "")).foreach(readOnce(run, _))
  }

  // ---- the timed loop -----------------------------------------------

  private var timedRun: Option[LakeRun] = None
  // days before this one are landed untimed: the initial load of an empty
  // warehouse, which in a cold JVM mostly times the JIT
  private val timedFrom = a("timed_from").toInt
  private var firstTimedMs = 0L
  private def markFirstTimed(): Unit =
    if (firstTimedMs == 0L) firstTimedMs = System.currentTimeMillis()

  /** A fixed amount of work, whatever the speed: a fresh lake, every feed
    * day in order, then every read op of the ops file on that lake.
    */
  private def dayLoop(): Unit = {
    val run = new LakeRun(lake("timed"), family)
    timedRun = Some(run)
    feed.zipWithIndex.foreach { case (f, i) =>
      traced = trace && i + 1 >= timedFrom // untimed days are not traced either
      landDay(run, i + 1, f)
      if (i == 2) run.reportV3 = Some(run.lake.versions("report").last._1)
    }
    traced = trace
    ops.zipWithIndex.foreach { case (op, k) => read(run, op, k) }
  }

  // ---- checks and dumps (outside the timed region) -------------------

  private val PinnedDay3 = Map(
    graft.model.Strings.FraudCityHop -> 682L,
    graft.model.Strings.FraudExpiredContract -> 26L,
    graft.model.Strings.FraudExpiredPassport -> 20L,
    graft.model.Strings.FraudAmountGuessing -> 2L)

  /** The per-type report counts PipelineSpec pins for fixture days 1-3
    * (both families), and its 4-day scd2 report total.
    */
  private def pinnedChecks(run: LakeRun): Unit = if (workload == "fixture_days") {
    val l = run.lake
    val byType = l.readAt("report", run.reportV3.get).groupBy(col("fraud_type"))
      .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    checks += (("pinned_day3", byType == PinnedDay3, byType.toString))
    if (run.family == MartStaging.Scd2Dims) {
      val n = l.read("report").count()
      checks += (("pinned_day4_total", n == 1181L, n.toString))
    }
  }

  /** The timed lake, and every distinct read result. */
  private def dump(run: LakeRun): Seq[String] = {
    val dir = s"$work/dump/${run.familyName}"
    Tables.filter(run.lake.exists).foreach { t =>
      run.lake.read(t).write.mode("overwrite").parquet(s"$dir/$t")
    }
    val lake = s"""{"family":"${run.familyName}","dir":${Json.str(dir)},"days":${run.dayEndMs.size},""" +
      s""""staging_rows":${stagingRows.getOrElse(run.familyName, -1L)}}"""
    val results = firstResult.zipWithIndex.map { case ((key, (schema, rows, _)), i) =>
      val dir = s"$work/dump/reads/r$i"
      if (schema.nonEmpty)
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(dir)
      s"""{"key":${Json.str(key)},"dir":${Json.str(dir)}}"""
    }
    Seq(s""""lake":$lake""", s""""read_results":[${results.mkString(",")}]""")
  }

  /** (parquet files, bytes of all files) under a lake root. */
  private def dirStats(root: String): (Long, Long) = {
    val walk = Files.walk(Paths.get(root))
    try {
      val files = walk.iterator.asScala.filter(Files.isRegularFile(_)).toSeq
      (files.count(_.toString.endsWith(".parquet")).toLong, files.map(Files.size).sum)
    } finally walk.close()
  }

  // ---- trace figures ------------------------------------------------

  /** fs-op counts per layer call, from a second lake rooted at the metered
    * scheme: every feed day, counted from the first timed one as the spans
    * are, then each read op of the first round once.
    */
  private def meteredPass(): Map[String, Map[String, Double]] = {
    CreateMeteredFs.install(spark.sparkContext.hadoopConfiguration)
    val run = new LakeRun(new Lakehouse(spark, s"graftmeter://$work/lakes/metered"), family)
    val acc = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Double]]]
    def metered(name: String, keep: Boolean)(body: => Unit): Unit = {
      MeteredFs.reset()
      body
      val s = MeteredFs.snapshot().toMap
      def n(k: String) = s.getOrElse(k, 0L).toDouble
      if (keep) acc.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += Map(
        "fs_ops" -> s.values.sum.toDouble, "fs_create" -> n("create"),
        "fs_rename" -> n("rename"), "fs_list" -> n("listStatus"),
        "fs_status" -> n("getFileStatus"))
    }
    feed.zipWithIndex.foreach { case (f, i) =>
      val keep = i + 1 >= timedFrom
      metered("ingest", keep)(Ingest.loadDayFromParquet(run.lake, f.path))
      metered("etl", keep)(Etl.normalizeTransactions(run.lake))
      metered("mart", keep)(Mart.addReportData(run.lake, run.family, ReplayDump.FixedClock))
      run.dayEndMs += System.currentTimeMillis()
    }
    ops.take(5).foreach(op => metered(s"read.${op.kind}", keep = true)(readOnce(run, op)))
    acc.map { case (k, v) => k -> v.head.keys.map(m => m -> v.map(_(m)).sum / v.size).toMap }
      .toMap
  }

  /** Per-layer means per call (per day for ingest/etl/mart, per op for the
    * reads), storage totals for the last lake, and the span file.
    */
  private def traceFigures(timed: LakeRun, protocolWaitMs: Long,
      loopGc: Long, loopJit: Long): String = {
    listener.drain()
    val leaves = spans.spans.filter(_.name != "day")
    val fromSpark = listener.attribute(leaves)
    val metered = meteredPass()
    val out = mutable.LinkedHashMap.empty[String, Double]
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    leaves.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, ss) =>
      val per = ss.map { s =>
        fromSpark(s.id) ++ s.counts ++ Map("wall_s" -> s.wallMs / 1000.0,
          "gc_ms" -> s.gcMs.toDouble, "jit_ms" -> s.jitMs.toDouble)
      }
      val m = per.head.keys.map(k => k -> mean(per.map(_(k)))).toMap ++
        metered.getOrElse(name, Map.empty)
      val ratios = Map(
        "cores_busy" -> m("task_s") / math.max(m("wall_s"), 1e-9),
        "rows_read_per_row_out" -> m("records_read") / math.max(m.getOrElse("rows_out", 1.0), 1.0))
      (m ++ ratios).toSeq.sortBy(_._1).foreach { case (k, v) => out(s"$name.$k") = v }
    }
    val l = timed.lake
    val (files, bytes) = dirStats(l.root)
    out("storage.versions") = Tables.filter(l.exists).map(l.versions(_).size).sum.toDouble
    out("storage.files") = files.toDouble
    out("storage.bytes") = bytes.toDouble
    out("storage.protocol_wait_ms") = protocolWaitMs.toDouble
    out("jvm.gc_ms") = loopGc.toDouble
    out("jvm.jit_ms") = loopJit.toDouble
    val spanLines = spans.spans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""label":${Json.str(s.label)},"start_ms":${s.startMs},"end_ms":${s.endMs},""" +
        s""""self_ms":${spans.selfMs(s)},"gc_ms":${s.gcMs},"jit_ms":${s.jitMs}}"""
    }
    Files.write(Paths.get(a("spans")), (spanLines.mkString("\n") + "\n").getBytes("UTF-8"))
    s""""layers":{${out.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString(",")}}"""
  }

  // ---- run ----------------------------------------------------------

  def run(): Unit = {
    if (trace) spark.sparkContext.addSparkListener(listener)
    val wait0 = ProtocolTelemetry.totalWaitedMs()
    if (a("warmup") == "1") warmUp()
    System.gc()
    val (gc0, jit0) = (JvmTimes.gcMs, JvmTimes.jitMs)
    val error =
      try { dayLoop(); None }
      catch { case NonFatal(e) => e.printStackTrace(); Some(e.toString) }
    traced = false
    val (loopGc, loopJit) = (JvmTimes.gcMs - gc0, JvmTimes.jitMs - jit0)
    val heapMb = liveHeapAfterGc()
    val waited = ProtocolTelemetry.totalWaitedMs() - wait0
    System.err.println(f"[perfbench] loop ${(System.currentTimeMillis() - firstTimedMs) / 1000.0}%.1fs")
    val last = timedRun.filter(_ => error.isEmpty)
    val extra = last.toSeq.flatMap { run =>
      pinnedChecks(run)
      dump(run) ++ (if (trace) Seq(traceFigures(run, waited, loopGc, loopJit)) else Nil)
    }
    val fields = Seq(
      s""""error":${error.map(Json.str).getOrElse("null")}""",
      s""""setup_done_ms":$firstTimedMs""",
      s""""attempted":$attempted""", s""""failed":$failed""",
      s""""live_heap_mb":${Json.num(heapMb)}""",
      s""""stored_bytes":${last.map(r => dirStats(r.lake.root)._2).getOrElse(0L)}""",
      s""""input_bytes":${last.map(_.inputBytes).getOrElse(0L)}""",
      s""""default_parallelism":${spark.sparkContext.defaultParallelism}""",
      s""""max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576}""",
      s""""days":[${days.map { case (secs, rows) =>
        s"""{"secs":${Json.num(secs)},"rows":$rows}""" }.mkString(",")}]""",
      s""""reads":[${reads.map(Json.num).mkString(",")}]""",
      s""""checks":[${checks.map { case (n, ok, d) =>
        s"""{"name":${Json.str(n)},"ok":$ok,"detail":${Json.str(d)}}""" }.mkString(",")}]"""
    ) ++ extra
    Files.write(Paths.get(a("out")), s"{${fields.mkString(",")}}\n".getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
