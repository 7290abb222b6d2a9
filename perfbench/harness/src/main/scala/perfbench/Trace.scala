package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. All spans of one operation share `trace`; `parent`
  * is the enclosing span's id (0 for an operation's root span). Times are
  * epoch nanoseconds so that Spark's millisecond phase stamps line up.
  */
final case class Span(trace: Long, id: Long, parent: Long, name: String,
    start: Long, end: Long)

/** Per-layer counters of one attribution bucket, by name: jobs, stages,
  * tasks, task times, bytes by kind, planning phase times, plan nodes.
  */
final class Counters {
  val v: mutable.Map[String, Long] = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
  def add(k: String, x: Long): Unit = v(k) += x
  def apply(k: String): Long = v(k)
  def addAll(c: Counters): Unit = c.v.foreach { case (k, x) => add(k, x) }
  def snapshot: Counters = { val c = new Counters; c.addAll(this); c }
  def minus(c: Counters): Counters = {
    val d = snapshot; c.v.foreach { case (k, x) => d.add(k, -x) }; d
  }
}

/** Span recorder plus the two Spark listeners the traced run registers.
  *
  * Operations run on the calling thread, which carries the operation's
  * trace id and current phase span as Spark local properties; Spark copies
  * them onto every job the operation starts (broadcast and subquery jobs
  * included), so the SparkListener attributes jobs, stages and tasks to the
  * operation and phase that caused them. Jobs without the properties
  * (output dumps for checking, serving warm-up) land in the `unattributed`
  * bucket. The QueryExecutionListener records each finished action's
  * planning phases and final plan; they go to the operation whose jobs ran
  * under the action's SQL execution id, or, for an action that ran no
  * attributed job, to the one operation whose interval contains it.
  */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val opIntervals = mutable.ArrayBuffer.empty[(Long, Long, Long)] // trace, start, end
  private val buckets = mutable.HashMap.empty[(Long, String), Counters]
  private val stageOwner = mutable.HashMap.empty[Int, (Long, String)]
  private val jobSpans = mutable.HashMap.empty[Int, (Long, Long, Long)] // trace, parent, start
  private val plans =
    mutable.ArrayBuffer.empty[(QueryExecution, Long, Counters, Seq[(String, Long, Long)])]
  private val execTrace = mutable.HashMap.empty[Long, Long] // SQL execution id -> trace
  private val qeExec = new java.util.IdentityHashMap[QueryExecution, java.lang.Long]
  // operation root spans, so planning phases can hang under them
  private val roots = mutable.HashMap.empty[Long, Long]
  val unattributed = new Counters

  def now: Long = System.currentTimeMillis() * 1000000L +
    (System.nanoTime() % 1000000L + 1000000L) % 1000000L

  def newId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = synchronized { spans += s }

  def counters(trace: Long, phase: String): Counters = synchronized {
    buckets.getOrElseUpdate((trace, phase), new Counters)
  }

  /** Run `body` with Spark work attributed to span `id`, phase `phase`. */
  def scoped[T](trace: Long, id: Long, phase: String)(body: => T): T = {
    val prev = (sc.getLocalProperty(Tracer.TraceKey), sc.getLocalProperty(Tracer.SpanKey))
    enter(trace, id, phase)
    try body
    finally {
      sc.setLocalProperty(Tracer.TraceKey, prev._1)
      sc.setLocalProperty(Tracer.SpanKey, prev._2)
    }
  }

  /** Attribute this thread's Spark work to span `id`, phase `phase`, from
    * now on.
    */
  def enter(trace: Long, id: Long, phase: String): Unit = {
    sc.setLocalProperty(Tracer.TraceKey, trace.toString)
    sc.setLocalProperty(Tracer.SpanKey, s"$id:$phase")
  }

  /** Run `body` as span `name` of operation `trace`, under `parent`. */
  def span[T](trace: Long, parent: Long, name: String)(body: => T): T = {
    val id = newId()
    val t0 = now
    try scoped(trace, id, name)(body)
    finally record(Span(trace, id, parent, name, t0, now))
  }

  def opInterval(trace: Long, root: Long, start: Long, end: Long): Unit = synchronized {
    opIntervals += ((trace, start, end))
    roots(trace) = root
  }

  val sparkListener: SparkListener = new SparkListener {
    private def owner(props: java.util.Properties): Option[(Long, Long, String)] =
      for {
        p <- Option(props)
        t <- Option(p.getProperty(Tracer.TraceKey))
        s <- Option(p.getProperty(Tracer.SpanKey))
      } yield {
        val Array(sid, phase) = s.split(":", 2)
        (t.toLong, sid.toLong, phase)
      }

    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      owner(e.properties) match {
        case Some((trace, sid, phase)) =>
          counters(trace, phase).add("jobs", 1)
          e.stageIds.foreach(stageOwner(_) = (trace, phase))
          jobSpans(e.jobId) = (trace, sid, e.time * 1000000L)
          Option(e.properties.getProperty(Tracer.ExecutionKey))
            .foreach(x => execTrace(x.toLong) = trace)
        case None =>
          unattributed.add("jobs", 1)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobSpans.remove(e.jobId).foreach { case (trace, parent, start) =>
        spans += Span(trace, newId(), parent, s"job ${e.jobId}", start, e.time * 1000000L)
      }
    }

    private def bucket(stageId: Int): Counters =
      stageOwner.get(stageId).map { case (t, p) => counters(t, p) }.getOrElse(unattributed)

    override def onOtherEvent(e: SparkListenerEvent): Unit =
      Internals.executionEnd(e).foreach { case (id, qe) =>
        Tracer.this.synchronized { qeExec.put(qe, id) }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized { bucket(e.stageInfo.stageId).add("stages", 1) }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val c = bucket(e.stageId)
      c.add("tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        c.add("task_run_ms", m.executorRunTime)
        c.add("task_cpu_ns", m.executorCpuTime)
        c.add("task_gc_ms", m.jvmGCTime)
        c.add("input_bytes", m.inputMetrics.bytesRead)
        c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        c.add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        c.add("result_bytes", m.resultSize)
        c.add("output_bytes", m.outputMetrics.bytesWritten)
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = new Counters
      val phases = qe.tracker.phases.toSeq.map { case (name, p) =>
        (name, p.startTimeMs, p.endTimeMs)
      }
      phases.foreach {
        case ("analysis", s, e) => c.add("analysis_ms", e - s)
        case ("optimization", s, e) => c.add("optimize_ms", e - s)
        case ("planning", s, e) => c.add("physical_ms", e - s)
        case _ =>
      }
      Tracer.countNodes(qe.executedPlan, c)
      Tracer.this.synchronized { plans += ((qe, System.currentTimeMillis(), c, phases)) }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Fold every finished action into the operation whose jobs it ran, or
    * else whose interval alone holds its planning start, and add its phases
    * as spans of that operation.
    */
  def attributePlans(): Unit = synchronized {
    plans.foreach { case (qe, doneMs, c, phases) =>
      val startMs = (phases.map(_._2) :+ doneMs).min
      lazy val holding = opIntervals.filter { case (_, s, e) =>
        s / 1000000L <= startMs && startMs <= e / 1000000L
      }
      Option(qeExec.get(qe)).flatMap(id => execTrace.get(id.longValue))
        .orElse(if (holding.size == 1) Some(holding.head._1) else None)
        .foreach { trace =>
          counters(trace, "qe").addAll(c)
          phases.foreach { case (name, s, e) =>
            spans += Span(trace, newId(), roots.getOrElse(trace, 0L), s"phase $name", s * 1000000L, e * 1000000L)
          }
        }
    }
    plans.clear()
    qeExec.clear()
  }

  def drain(): Unit = Internals.drainListeners(sc)

  /** Sum of every bucket of the given operations and phases. */
  def total(traces: Set[Long], phases: Set[String]): Counters = synchronized {
    val t = new Counters
    buckets.foreach { case ((trace, phase), c) =>
      if (traces(trace) && (phases.isEmpty || phases(phase))) t.addAll(c)
    }
    t
  }

  def spanList: Seq[Span] = synchronized { spans.toList }
}

object Tracer {
  val TraceKey = "perfbench.trace"
  val SpanKey = "perfbench.span"
  val ExecutionKey = "spark.sql.execution.id"

  /** Count exchanges and scans of a finished (AQE-final) plan, descending
    * into query stages, adaptive wrappers and subqueries.
    */
  def countNodes(plan: SparkPlan, c: Counters): Unit = {
    plan match {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => c.add("exchanges", 1)
      case _: FileSourceScanExec | _: BatchScanExec => c.add("scans", 1)
      case _ =>
    }
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _: ReusedExchangeExec => Nil // counted where it first ran
      case p => p.children ++ p.subqueries
    }
    inner.foreach(countNodes(_, c))
  }

  def codegenNs: Long = Internals.codegenCompileNs
}
