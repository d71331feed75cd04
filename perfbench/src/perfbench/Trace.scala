package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** One timed interval, in microseconds since the epoch. `op` is the id
  * of the root span of the operation the interval belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** Spark work attributed to one op, summed over its tasks. */
final class OpWork {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleBytes, recordsRead = 0L
}

/** In-memory span recorder. Disabled, every method just runs its body.
  * Enabled, each op is a root span whose Spark jobs carry the op and the
  * innermost open span through the client thread's local properties;
  * [[OpListener]] turns them into job spans and per-op work counts. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val epochUs = System.currentTimeMillis() * 1000
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs + (System.nanoTime() - nano0) / 1000

  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  def nextId(): Long = ids.incrementAndGet()
  // (span id, op id) of the open spans on this thread, innermost first
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  /** Runs `body` as a new op's root span. */
  def op[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId()
      sc.setJobGroup(s"op-$id", name)
      try enter(id, id, name, body)
      finally sc.clearJobGroup()
    }

  /** Runs `body` as a child of the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else enter(nextId(), open.get().headOption.fold(0L)(_._2), name, body)

  private def enter[T](id: Long, op: Long, name: String, body: => T): T = {
    val outer = open.get()
    val parent = outer.headOption.fold(0L)(_._1)
    open.set((id, op) :: outer)
    sc.setLocalProperty(SpanKey, s"$op:$id")
    val t0 = nowUs
    try body
    finally {
      spans.add(Span(id, parent, op, name, t0, nowUs))
      open.set(outer)
      sc.setLocalProperty(SpanKey, outer.headOption.map { case (s, o) => s"$o:$s" }.orNull)
    }
  }

  /** Adds the analysis / optimization / planning phases of an executed
    * query as children of the innermost open span. */
  def phases(qe: QueryExecution): Unit =
    if (on) open.get() match {
      case (parent, op) :: _ =>
        qe.tracker.phases.foreach { case (phase, s) =>
          spans.add(Span(nextId(), parent, op, s"spark.$phase",
            s.startTimeMs * 1000, s.endTimeMs * 1000))
        }
      case Nil =>
    }

  private[perfbench] val SpanKey = "perfbench.span"
}

/** Collects SQL execution spans, job spans and per-op task metrics for
  * a [[Tracer]]. A job of an SQL execution is a child of that
  * execution's span, so the execution's self time is the driver's work
  * while none of its jobs runs (adaptive re-planning, stage set-up,
  * result collection). */
final class OpListener(tracer: Tracer) extends SparkListener {
  val work = TrieMap.empty[Long, OpWork]
  private val stageOp = TrieMap.empty[Int, Long]
  private val jobs = TrieMap.empty[Int, (Long, Long, Long)] // op, parent, start
  private val execStart = TrieMap.empty[Long, Long]
  private val execSpan = TrieMap.empty[Long, (Long, Long, Long)] // span id, op, parent

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(tracer.SpanKey)))
      .foreach { v =>
        val Array(op, parent) = v.split(':').map(_.toLong)
        val exec = Option(e.properties.getProperty("spark.sql.execution.id"))
          .map(_.toLong).filter(execStart.contains)
        val jobParent = exec.fold(parent) { x =>
          execSpan.getOrElseUpdate(x, (tracer.nextId(), op, parent))._1
        }
        jobs(e.jobId) = (op, jobParent, e.time * 1000)
        e.stageIds.foreach(stageOp(_) = op)
        work.getOrElseUpdate(op, new OpWork).jobs += 1
      }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.remove(e.jobId).foreach { case (op, parent, start) =>
      tracer.spans.add(Span(tracer.nextId(), parent, op, "spark.job", start,
        e.time * 1000))
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStart(s.executionId) = s.time * 1000
    case x: SparkListenerSQLExecutionEnd =>
      for (start <- execStart.remove(x.executionId);
           (id, op, parent) <- execSpan.remove(x.executionId))
        tracer.spans.add(Span(id, parent, op, "spark.execution", start, x.time * 1000))
    case _ =>
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageOp.get(e.stageInfo.stageId).foreach(op =>
      work.getOrElseUpdate(op, new OpWork).stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val w = work.getOrElseUpdate(op, new OpWork)
      w.tasks += 1
      w.runMs += m.executorRunTime
      w.cpuNs += m.executorCpuTime
      w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      w.recordsRead += m.inputMetrics.recordsRead
    }
}

object Trace {

  /** Spark optimizes and plans a query inside the SQL execution that
    * `collect` starts, but the phase spans, recorded after the fact, get
    * the innermost open span as parent. Each phase span becomes a child
    * of the sibling SQL execution span whose interval contains it. */
  def nest(spans: Seq[Span]): Seq[Span] = {
    val execs = spans.filter(_.name == "spark.execution").groupBy(_.op)
    spans.map { s =>
      if (!Phases(s.name)) s
      else execs.getOrElse(s.op, Nil)
        .find(e => e.parent == s.parent && e.start <= s.start && s.end <= e.end)
        .fold(s)(e => s.copy(parent = e.id))
    }
  }

  val Phases = Set("spark.analysis", "spark.optimization", "spark.planning")

  /** Self time of every span: its duration minus the part of it that
    * its children's intervals cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map(s => s.id -> (s.dur - covered(s, kids.getOrElse(s.id, Nil)))).toMap
  }

  /** Time of each op root span not covered by a Spark job. */
  def outsideJobs(spans: Seq[Span]): Long = {
    val roots = spans.filter(s => s.id == s.op)
    val jobsByOp = spans.filter(_.name == "spark.job").groupBy(_.op)
    roots.map(r => r.dur - covered(r, jobsByOp.getOrElse(r.id, Nil))).sum
  }

  /** Length of the union of `inner`'s intervals, clipped to `outer`. */
  private def covered(outer: Span, inner: Seq[Span]): Long = {
    var total = 0L
    var (a0, b0) = (Long.MinValue, Long.MinValue)
    inner.map(c => (math.max(c.start, outer.start), math.min(c.end, outer.end)))
      .filter { case (a, b) => b > a }
      .sortBy(_._1).foreach { case (a, b) =>
      if (a > b0) { if (b0 > a0) total += b0 - a0; a0 = a; b0 = b }
      else b0 = math.max(b0, b)
    }
    if (b0 > a0) total += b0 - a0
    total
  }
}
