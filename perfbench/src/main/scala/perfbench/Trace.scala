package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is the enclosing span's id (-1 at
  * the top); `label` names the day or read op it belongs to. Times are
  * epoch milliseconds, the clock Spark stamps its job events with.
  */
final case class Span(id: Int, parent: Int, name: String, label: String,
    startMs: Long, endMs: Long, gcMs: Long, jitMs: Long,
    counts: Map[String, Double]) {
  def wallMs: Long = endMs - startMs
}

/** JVM-wide GC and JIT time, read from the management beans. */
object JvmTimes {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private val jit = ManagementFactory.getCompilationMXBean

  def gcMs: Long = gcBeans.map(b => math.max(b.getCollectionTime, 0L)).sum
  def jitMs: Long = jit.getTotalCompilationTime

  /** Heap still in use right after the most recent collection, in MB. */
  def postGcHeapMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
}

/** Spans kept in memory while the benchmark runs, written once at the end.
  * The open-span stack belongs to the single benchmark thread.
  */
final class SpanLog {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var next = 0

  def spans: Seq[Span] = done.toSeq

  def apply[A](name: String, label: String)(body: => A): A = {
    val id = next
    next += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    val (gc0, jit0, t0) = (JvmTimes.gcMs, JvmTimes.jitMs,
      System.currentTimeMillis())
    try body
    finally {
      open.pop()
      done += Span(id, parent, name, label, t0, System.currentTimeMillis(),
        JvmTimes.gcMs - gc0, JvmTimes.jitMs - jit0, Map.empty)
    }
  }

  /** Adds counts to the most recently closed span called `name`. */
  def annotate(name: String, counts: Map[String, Double]): Unit = {
    val i = done.lastIndexWhere(_.name == name)
    done(i) = done(i).copy(counts = done(i).counts ++ counts)
  }

  /** A span's duration minus the part of it its child spans cover. */
  def selfMs(s: Span): Long = s.wallMs - Intervals.covered(
    done.iterator.filter(_.parent == s.id).map(c => (c.startMs, c.endMs))
      .toSeq, s.startMs, s.endMs)
}

object Intervals {
  /** Milliseconds of [lo, hi] covered by the union of `iv`. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > reach) { total += b - math.max(a, reach); reach = b }
      }
    total
  }
}

/** Spark job, stage and task events, kept raw and attributed to spans by
  * time after the run: a job belongs to the span its start falls in, and a
  * task to its stage's job.
  */
final class JobListener extends SparkListener {
  final case class Job(id: Int, startMs: Long, stages: Seq[Int])
  final case class TaskEnd(stage: Int, durationMs: Long, shuffleBytes: Long,
      spillBytes: Long, recordsRead: Long)

  val jobs = new ConcurrentLinkedQueue[Job]()
  val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val tasks = new ConcurrentLinkedQueue[TaskEnd]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.time, e.stageIds))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobEnds.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(TaskEnd(e.stageId, e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.inputMetrics.recordsRead))
    }

  /** Waits until every started job has ended and the event bus is quiet. */
  def drain(): Unit = {
    var seen = -1
    val deadline = System.currentTimeMillis() + 10000
    while (System.currentTimeMillis() < deadline &&
      (jobs.size != seen || jobs.asScala.exists(j => !jobEnds.containsKey(j.id)))) {
      seen = jobs.size
      Thread.sleep(200)
    }
  }

  /** Per-span Spark figures for the spans named in `leaves`. */
  def attribute(leaves: Seq[Span]): Map[Int, Map[String, Double]] = {
    val sorted = leaves.sortBy(_.startMs).toIndexedSeq
    def owner(ms: Long): Option[Span] =
      sorted.find(s => s.startMs <= ms && ms <= s.endMs)
    val jobOf = jobs.asScala.toSeq.flatMap(j => owner(j.startMs).map(j -> _))
    val stageSpan = jobOf.flatMap { case (j, s) => j.stages.map(_ -> s.id) }.toMap
    val taskBy = tasks.asScala.toSeq.groupBy(t => stageSpan.get(t.stage))
    leaves.map { s =>
      val js = jobOf.collect { case (j, o) if o.id == s.id => j }
      val iv = js.map(j => (j.startMs,
        Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(s.endMs)))
      val ts = taskBy.getOrElse(Some(s.id), Nil)
      s.id -> Map(
        "jobs" -> js.size.toDouble,
        "stages" -> js.map(_.stages.size).sum.toDouble,
        "tasks" -> ts.size.toDouble,
        "task_s" -> ts.map(_.durationMs).sum / 1000.0,
        "driver_gap_s" -> (s.wallMs - Intervals.covered(iv, s.startMs,
          s.endMs)) / 1000.0,
        "shuffle_mb" -> ts.map(_.shuffleBytes).sum / 1048576.0,
        "spill_mb" -> ts.map(_.spillBytes).sum / 1048576.0,
        "records_read" -> ts.map(_.recordsRead).sum.toDouble)
    }.toMap
  }
}
