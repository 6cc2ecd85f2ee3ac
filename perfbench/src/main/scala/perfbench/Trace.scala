package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. Spans of one op share `op`;
  * `parent` is the enclosing span's id (0 for a top-level span).
  * `forced` marks a span whose body also forced the layer's lazy result
  * (a collect or count), so the layer's work is inside the span rather
  * than deferred to whichever later call first evaluates it. */
final case class Span(op: Long, id: Int, parent: Int, name: String,
                      startNs: Long, endNs: Long, forced: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans stay in memory until the run ends. Only ops
  * started with `traced = true` record spans; other ops run the same
  * code with no recording, which is what the overhead ratio compares. */
final class Tracer {
  val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  // per client thread: the traced op in progress (-1: none) and the
  // chain of open span ids
  private val curOp = ThreadLocal.withInitial[java.lang.Long](() => -1L)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)

  def inOp[T](op: Long, traced: Boolean)(body: => T): T = {
    curOp.set(if (traced) op else -1L)
    try body finally { curOp.set(-1L); open.set(Nil) }
  }

  def span[T](name: String, forced: Boolean = false)(body: => T): T = {
    val op = curOp.get()
    if (op < 0) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get().headOption.getOrElse(0)
      open.set(id :: open.get())
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(op, id, parent, name, t0, System.nanoTime(), forced))
        open.set(open.get().tail)
      }
    }
  }

  def ofOp(op: Long): Seq[Span] = spans.asScala.filter(_.op == op).toSeq
}

/** Spark's own counts, per op: a SparkListener for jobs, stages and
  * task metrics, and a QueryExecutionListener for Catalyst's planning
  * phases. Ops are told apart by a job tag (`perfbench-op-<id>`) that
  * the client thread holds while the op runs; a gate additionally tags
  * its jobs `perfbench-gate-<name>`. Events arrive asynchronously on
  * the listener bus, so totals are read only after [[drain]]. */
final class SparkCounters extends SparkListener with QueryExecutionListener {

  final class Stats {
    var jobs = 0
    var stages = 0
    var tasks = 0L
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
    var taskRunMs = 0L
    var taskCpuNs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var fetchWaitMs = 0L
    var spill = 0L
    var result = 0L
    var planMs = 0L
    val gateJobs = mutable.Map[String, Int]()
  }

  private val byOp = mutable.Map[Long, Stats]()
  private val jobOp = mutable.Map[Int, (Long, Long)]() // job -> (op, start ms)
  private val stageOp = mutable.Map[Int, Long]()
  private val execOp = mutable.Map[Long, Long]()
  // planning time of the execution whose end event is being delivered:
  // the session's ExecutionListenerBus hands it to onSuccess just before
  // this listener sees the same SparkListenerSQLExecutionEnd (both sit on
  // the shared listener queue, that bus first; see register)
  private var pendingPlanMs: Option[Long] = None
  val unpairedPlans = new AtomicLong(0)
  val events = new AtomicLong(0)

  private def opOfTags(tags: Iterable[String]): Option[Long] =
    tags.collectFirst { case t if t.startsWith(SparkCounters.OpTag) =>
      t.stripPrefix(SparkCounters.OpTag).toLong }

  private def stats(op: Long): Stats = byOp.getOrElseUpdate(op, new Stats)

  private def tagsOf(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events.incrementAndGet()
    val tags = tagsOf(e.properties)
    opOfTags(tags).foreach { op =>
      val s = stats(op)
      s.jobs += 1
      jobOp(e.jobId) = (op, e.time)
      e.stageIds.foreach(stageOp(_) = op)
      tags.filter(_.startsWith(SparkCounters.GateTag)).foreach { g =>
        val name = g.stripPrefix(SparkCounters.GateTag)
        s.gateJobs(name) = s.gateJobs.getOrElse(name, 0) + 1
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    events.incrementAndGet()
    jobOp.remove(e.jobId).foreach { case (op, t0) =>
      stats(op).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      events.incrementAndGet()
      stageOp.get(e.stageInfo.stageId).foreach(op => stats(op).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events.incrementAndGet()
    for (op <- stageOp.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats(op)
      s.tasks += 1
      s.taskRunMs += m.executorRunTime
      s.taskCpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.result += m.resultSize
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      events.incrementAndGet()
      opOfTags(s.jobTags).foreach(execOp(s.executionId) = _)
    }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      events.incrementAndGet()
      val op = execOp.remove(end.executionId)
      pendingPlanMs match {
        case Some(ms) => op.foreach(stats(_).planMs += ms)
        case None => if (op.nonEmpty) unpairedPlans.incrementAndGet()
      }
      pendingPlanMs = None
    }
    case _ =>
  }

  private def plan(qe: QueryExecution): Unit = synchronized {
    events.incrementAndGet()
    if (pendingPlanMs.nonEmpty) unpairedPlans.incrementAndGet()
    pendingPlanMs = Some(qe.tracker.phases.values.map(_.durationMs).sum)
  }
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plan(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    plan(qe)

  /** Wait until the listener bus has been quiet for a moment. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    var waited = 0
    while (quiet < 3 && waited < 100) {
      Thread.sleep(50); waited += 1
      val now = events.get()
      if (now == last) quiet += 1 else { quiet = 0; last = now }
    }
  }

  def of(op: Long): Stats = synchronized(byOp.getOrElse(op, new Stats))

  /** The QueryExecutionListener goes first: that creates the session's
    * ExecutionListenerBus ahead of this listener on the shared queue. */
  def register(spark: SparkSession): Unit = {
    spark.listenerManager.register(this)
    spark.sparkContext.addSparkListener(this)
  }
}

object SparkCounters {
  val OpTag = "perfbench-op-"
  val GateTag = "perfbench-gate-"

  /** Total length of the union of [start, end] intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }
}
