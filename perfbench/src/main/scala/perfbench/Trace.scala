package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the program. One operation (a
  * request, a precompute cycle, a batch pass) is a root span; the calls it
  * makes are child spans. Spans stay in memory until the run ends, when a
  * traced run writes them out.
  *
  * While tracing, every Spark job carries its operation and span in local
  * properties, so the [[Probe]] can charge jobs to the exact request that
  * ran them even with several callers in flight.
  */
object Trace {
  final case class Span(id: Long, parent: Long, op: Long, kind: String, name: String, start: Long, end: Long)

  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  // (op id, op kind, current span id, its name) of the calling thread
  private val current = new ThreadLocal[(Long, String, Long, String)]

  val OpProp = "perfbench.op"
  val SpanProp = "perfbench.span"

  /** Point the job tags at the current session's context. */
  def bind(spark: SparkContext): Unit = sc = spark

  // span clocks are nanoTime; Spark's job events are epoch milliseconds
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def epochMs(nanos: Long): Double = epochMs0 + (nanos - nano0) / 1e6

  /** Run `f` as the root span of a new operation of kind `kind`. */
  def op[T](kind: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      current.set((id, kind, id, kind))
      sc.setLocalProperty(OpProp, id.toString)
      sc.setLocalProperty(SpanProp, kind)
      try timed(id, 0L, id, kind, kind)(f)
      finally { current.remove(); sc.setLocalProperty(OpProp, null); sc.setLocalProperty(SpanProp, null) }
    }

  /** The calling thread's operation id, 0 outside an operation. */
  def currentOp: Long = Option(current.get()).map(_._1).getOrElse(0L)

  /** Run `f` as a child span of the calling thread's current span. */
  def span[T](name: String)(f: => T): T = {
    val cur = current.get()
    if (!enabled || cur == null) f
    else {
      val (op, kind, parent, parentName) = cur
      val id = ids.incrementAndGet()
      current.set((op, kind, id, name))
      sc.setLocalProperty(SpanProp, name)
      try timed(id, parent, op, kind, name)(f)
      finally { current.set(cur); sc.setLocalProperty(SpanProp, parentName) }
    }
  }

  /** Write every span, one JSON object a line, times in epoch ms. */
  def write(f: Path): Unit = {
    val lines = spans.asScala.toSeq.sortBy(_.id).map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "op" -> s.op.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(epochMs(s.start)), "end_ms" -> Json.num(epochMs(s.end))))
    }
    Files.write(f, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  private def timed[T](id: Long, parent: Long, op: Long, kind: String, name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally spans.add(Span(id, parent, op, kind, name, t0, System.nanoTime()))
  }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total, reach = 0L
    reach = lo
    intervals.map { case (a, b) => (a max lo, b min hi) }.filter(i => i._2 > i._1).sortBy(_._1).foreach {
      case (a, b) =>
        if (b > reach) { total += b - (a max reach); reach = b }
    }
    total
  }

  /** Self time of every span: its duration minus the part of it that its
    * children cover. The root's self time is the operation's unattributed
    * time.
    */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val children = all.groupBy(_.parent)
    all.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> ((s.end - s.start) - covered(kids, s.start, s.end))
    }.toMap
  }
}

/** Spark-side counters for the traced run: a SparkListener for jobs,
  * stages and task metrics, a QueryExecutionListener for Catalyst's
  * planning phases. Codegen, GC and steal are read as deltas around the
  * window by [[Sentinels]] and [[Main]].
  */
final class Probe extends SparkListener with QueryExecutionListener {
  final class JobRec(val op: Long, val span: String, val submit: Long) {
    @volatile var end = 0L
    @volatile var firstTask = Long.MaxValue
    var stages, tasks = 0
    var taskMs, shuffleWrite, spill, recordsRead = 0L
  }
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val catalystNs = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(Trace.OpProp))).map(_.toLong).getOrElse(0L)
    val span = p.flatMap(x => Option(x.getProperty(Trace.SpanProp))).getOrElse("")
    jobs.put(e.jobId, new JobRec(op, span, e.time))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    job(e.stageInfo.stageId).foreach(j => j.synchronized(j.stages += 1))
  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    job(e.stageId).foreach(j => j.synchronized(j.firstTask = j.firstTask min e.taskInfo.launchTime))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = job(e.stageId).foreach { j =>
    val m = Option(e.taskMetrics)
    j.synchronized {
      j.tasks += 1
      j.taskMs += e.taskInfo.duration
      m.foreach { t =>
        j.shuffleWrite += t.shuffleWriteMetrics.bytesWritten
        j.spill += t.memoryBytesSpilled + t.diskBytesSpilled
        j.recordsRead += t.inputMetrics.recordsRead
      }
    }
  }
  private def job(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    catalystNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
