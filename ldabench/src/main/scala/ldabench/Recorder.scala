package ldabench

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.ldabench.BusAccess
import org.apache.spark.scheduler._

import scala.collection.mutable

/** Wraps each call into a library layer. */
trait Tracer {
  def span[T](name: String)(body: => T): T
}

/** Tracing off: the call runs bare. */
object Untraced extends Tracer {
  def span[T](name: String)(body: => T): T = body
}

/** One recorded call: wall-clock bounds in epoch milliseconds (the unit of
  * Spark's stage times) and nanoseconds for its own duration. */
final case class Span(id: Int, name: String, parent: Int, run: String,
    startMs: Long, endMs: Long, nanos: Long) {
  def wallS: Double = nanos / 1e9
}

/** Spark work attributed to a span and its children. */
final case class Counters(
    wallS: Double, jobs: Int, stages: Int, tasks: Long,
    cpuS: Double, runS: Double, gcS: Double, shuffleBytes: Long,
    failedTasks: Long, emptyTasks: Long, driverS: Double) {
  /** Executor CPU over the slots the span could have used. */
  def coreUtil(cores: Int): Double = if (wallS > 0) cpuS / (wallS * cores) else 0.0
  /** Share of task run time spent off-CPU. */
  def waitShare: Double = if (runS > 0) 1 - cpuS / runS else 0.0
}

/**
 * Span and counter recorder of the traced run. Each span tags the jobs it
 * submits with a local property; the listener maps every stage to the span
 * of the job that first lists it and accumulates the stage's task metrics.
 * Spans stay in memory; `finish` drains the listener bus (blocking until
 * every posted event is delivered, never a fixed sleep) before any
 * counter is read.
 */
final class Recorder(sc: SparkContext, runId: String) extends SparkListener with Tracer {
  import Recorder._

  private final class StageRec(val span: Int) {
    var done = false
    var name = ""
    var submitMs, completeMs = 0L
    var tasks = 0L
    var cpuNs, runMs, gcMs, shuffleBytes = 0L
    var failedTasks, emptyTasks = 0L
  }

  private val stageRecs = mutable.HashMap[Int, StageRec]()
  /** jobId → (span, call site, start ms, end ms). */
  private val jobs = mutable.HashMap[Int, (Int, String, Long, Long)]()
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var drained = false

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0)
    stack = id :: stack
    sc.setLocalProperty(SpanKey, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val nanos = System.nanoTime() - t0
      spans += Span(id, name, parent, runId, startMs, System.currentTimeMillis(), nanos)
      stack = stack.tail
      sc.setLocalProperty(SpanKey, if (parent == 0) null else parent.toString)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
      .map(_.toInt).getOrElse(0)
    // the result stage is created last, and its name is the job's call site
    val site = e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("unknown")
    jobs(e.jobId) = (span, site, e.time, e.time)
    e.stageIds.foreach(s => if (!stageRecs.contains(s)) stageRecs(s) = new StageRec(span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { case (s, site, t0, _) => jobs(e.jobId) = (s, site, t0, e.time) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageRecs.get(e.stageId).foreach { r =>
      if (e.reason != Success) r.failedTasks += 1
      val m = e.taskMetrics
      if (m != null && m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead == 0)
        r.emptyTasks += 1
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val r = stageRecs.getOrElseUpdate(info.stageId, new StageRec(0))
    r.done = true
    r.name = info.name
    r.submitMs = info.submissionTime.getOrElse(0L)
    r.completeMs = info.completionTime.getOrElse(r.submitMs)
    r.tasks = info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      r.cpuNs = m.executorCpuTime
      r.runMs = m.executorRunTime
      r.gcMs = m.jvmGCTime
      r.shuffleBytes = m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    }
  }

  /** Delivers every pending listener event; call before reading counters. */
  def finish(): Unit = {
    BusAccess.drain(sc, DrainTimeoutMs)
    drained = true
  }

  def droppedEvents: Long = BusAccess.droppedEvents(sc)

  def allSpans: Seq[Span] = spans.toSeq

  /** The most recent span of this name. */
  def last(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  /** Counters of the most recent span of this name, children included;
    * all zero when no such span ran. */
  def counters(name: String): Counters = last(name).map(counters).getOrElse(Zero)

  def counters(span: Span): Counters = synchronized {
    require(drained, "read counters only after finish()")
    val ids = subtree(span.id)
    val mine = stageRecs.values.filter(r => r.done && ids(r.span)).toSeq
    val busy = Recorder.coveredMs(
      stageRecs.values.filter(_.done).map(r => (r.submitMs, r.completeMs)).toSeq,
      span.startMs, span.endMs)
    Counters(
      wallS = span.wallS,
      jobs = jobs.values.count(j => ids(j._1)),
      stages = mine.size,
      tasks = mine.map(_.tasks).sum,
      cpuS = mine.map(_.cpuNs).sum / 1e9,
      runS = mine.map(_.runMs).sum / 1e3,
      gcS = mine.map(_.gcMs).sum / 1e3,
      shuffleBytes = mine.map(_.shuffleBytes).sum,
      failedTasks = mine.map(_.failedTasks).sum,
      emptyTasks = mine.map(_.emptyTasks).sum,
      driverS = math.max(0.0, span.wallS - busy / 1e3))
  }

  /** Per call site: (jobs, summed job wall seconds) over traced jobs. Line
    * numbers in call sites move with the code, so this is a breakdown,
    * not a metric. */
  def jobsByCallSite: Seq[(String, Int, Double)] = synchronized {
    jobs.values.filter(_._1 != 0).groupBy(_._2).toSeq
      .map { case (site, js) => (site, js.size, js.map(j => (j._4 - j._3) / 1e3).sum) }
      .sortBy(-_._3)
  }

  /** Every completed stage as a JSON object, for the run's stage file. */
  def stageLines: Seq[String] = synchronized {
    val spanName = spans.map(s => s.id -> s.name).toMap
    stageRecs.toSeq.filter(_._2.done).sortBy(_._1).map { case (id, r) =>
      Json.write(Json.obj("stage" -> id, "span" -> spanName.getOrElse(r.span, ""), "name" -> r.name,
        "tasks" -> r.tasks, "wall_s" -> (r.completeMs - r.submitMs) / 1e3, "cpu_s" -> r.cpuNs / 1e9,
        "run_s" -> r.runMs / 1e3, "shuffle_bytes" -> r.shuffleBytes))
    }
  }

  private def subtree(root: Int): Set[Int] = {
    val children = spans.groupBy(_.parent).view.mapValues(_.map(_.id)).toMap
    def walk(id: Int): Set[Int] = children.getOrElse(id, Nil).toSet.flatMap(walk) + id
    walk(root)
  }
}

object Recorder {
  val SpanKey = "ldabench.span"
  private val DrainTimeoutMs = 60000L

  val Zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)

  /** Milliseconds of [from, to] covered by the union of the intervals. */
  def coveredMs(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    covered
  }

  def register(sc: SparkContext, runId: String): Recorder = {
    val r = new Recorder(sc, runId)
    sc.addSparkListener(r)
    r
  }
}
