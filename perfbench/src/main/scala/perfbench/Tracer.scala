package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span (-1 at the
  * root); every span of a run carries the same run id. Times are
  * `System.nanoTime`. */
final case class Span(
    id: Int, name: String, label: String, parent: Int, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Spark work attributed to one span. */
final class Work {
  var jobs, tablesJobs, stages, tasks, failedTasks, files, codegenFallback = 0L
  var tablesNanos, planNanos, taskWaitMs = 0L
  var inputBytes, shuffleRead, shuffleWrite, spill = 0L
  val skews = mutable.ArrayBuffer.empty[Double]
}

/** Span recorder for a traced run. The span id is set as a local property
  * on the calling thread before each call, so Spark copies it into every job
  * the call submits; the listeners below read it back and add the job's
  * stages, tasks and metrics to that span. Query-execution events carry no
  * local properties, so a span drains the listener bus when it closes and
  * takes the events still unclaimed: the client is one thread, so those
  * belong to the innermost open span.
  *
  * With `traced = false` a span only runs its body: no property, no
  * listener, no drain. */
final class Tracer(val runId: String, val traced: Boolean) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  /** Intervals inside a span that Spark reports rather than the harness:
    * (span id, name, start ns, end ns), named `tables.job` or `plans`; span
    * id -1 for jobs that ran outside every span. */
  val inner = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  private val work = mutable.Map.empty[Int, Work]
  private var open = List.empty[Int]
  private var started = 0
  private var sc: SparkContext = _
  // wall-clock ms (Spark events) to nanoTime (spans)
  private val nanoBase = System.nanoTime()
  private val msBase = System.currentTimeMillis()
  private def nanoAt(ms: Long): Long = nanoBase + (ms - msBase) * 1000000L

  private val unclaimed = mutable.ArrayBuffer.empty[Planned]
  private val jobSpan = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val tablesJob = mutable.Set.empty[Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  /** Work per span id, after the last span has closed. */
  def works: Map[Int, Work] = synchronized(work.toMap)

  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (traced) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
    }
  }

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!traced) body
    else {
      if (open.isEmpty) {
        // executions that ran outside every span belong to none
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        synchronized(unclaimed.clear())
      }
      val id = started
      started += 1
      val parent = open.headOption.getOrElse(-1)
      val before = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      open = id :: open
      val t0 = System.nanoTime()
      var t1 = 0L
      try body
      finally {
        t1 = System.nanoTime()
        org.apache.spark.perfbench.ListenerBus.drain(sc)
        synchronized {
          val w = work.getOrElseUpdate(id, new Work)
          unclaimed.foreach { p =>
            w.planNanos += p.planNanos
            w.codegenFallback += p.fallback
            w.files += p.files
            p.phases.foreach { case (s, e) => inner += ((id, "plans", nanoAt(s), nanoAt(e))) }
          }
          unclaimed.clear()
        }
        open = open.tail
        sc.setLocalProperty(SpanKey, before)
        spans += Span(id, name, label, parent, t0, t1)
      }
    }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val id = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      jobSpan(e.jobId) = id
      jobStart(e.jobId) = e.time
      if (e.stageInfos.exists(_.name.contains("Tables.scala"))) tablesJob += e.jobId
      e.stageInfos.foreach(s => stageSpan(s.stageId) = id)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      val id = jobSpan.getOrElse(e.jobId, -1)
      val w = work.getOrElseUpdate(id, new Work)
      w.jobs += 1
      if (tablesJob.remove(e.jobId)) {
        val start = jobStart.getOrElse(e.jobId, e.time)
        w.tablesJobs += 1
        w.tablesNanos += (e.time - start) * 1000000L
        inner += ((id, "tables.job", nanoAt(start), nanoAt(e.time)))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stageSubmitted(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val sid = e.stageInfo.stageId
        val w = work.getOrElseUpdate(stageSpan.getOrElse(sid, -1), new Work)
        w.stages += 1
        stageTaskMs.remove(sid).filter(_.length >= 2).foreach { ms =>
          val sorted = ms.sorted
          val median = math.max(1L, sorted(sorted.length / 2))
          w.skews += sorted.last.toDouble / median
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val w = work.getOrElseUpdate(stageSpan.getOrElse(e.stageId, -1), new Work)
      w.tasks += 1
      if (!e.taskInfo.successful) w.failedTasks += 1
      stageSubmitted.get(e.stageId).foreach { s =>
        w.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        w.inputBytes += m.inputMetrics.bytesRead
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.spill += m.diskBytesSpilled
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values.toSeq
      val nodes = Tracer.finalPlanNodes(qe.executedPlan)
      val planned = Planned(
        phases.map(_.durationMs).sum * 1000000L,
        phases.map(p => (p.startTimeMs, p.endTimeMs)),
        nodes.count { case (p, inCodegen) => !inCodegen && Tracer.fellOutOfCodegen(p) }.toLong,
        nodes.flatMap(_._1.metrics.get("numFiles")).map(_.value).sum)
      Tracer.this.synchronized(unclaimed += planned)
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  private final case class Planned(
      planNanos: Long, phases: Seq[(Long, Long)], fallback: Long, files: Long)

  /** Every node of the plan as it ran, adaptive stages unwrapped, with
    * whether it sits inside a whole-stage-codegen subtree. */
  def finalPlanNodes(root: SparkPlan): Seq[(SparkPlan, Boolean)] = {
    val out = mutable.ArrayBuffer.empty[(SparkPlan, Boolean)]
    def walk(p: SparkPlan, inCodegen: Boolean): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen)
      case s: QueryStageExec => walk(s.plan, inCodegen)
      case w: WholeStageCodegenExec => walk(w.child, inCodegen = true)
      case _ =>
        out += ((p, inCodegen))
        // an InputAdapter ends the codegen subtree above it
        val below = inCodegen && p.nodeName != "InputAdapter"
        p.children.foreach(walk(_, below))
        p.subqueries.foreach(walk(_, inCodegen = false))
    }
    walk(root, inCodegen = false)
    out.toSeq
  }

  /** Operators that are neither stage plumbing (exchange, adaptive reader,
    * row/column conversion, subquery wrapper), nor a source, nor a write
    * node: outside a codegen subtree they run interpreted. */
  private val plumbing = Set(
    "InputAdapter", "ColumnarToRow", "RowToColumnar", "AQEShuffleRead",
    "ReusedExchange", "Subquery", "SubqueryBroadcast", "CommandResult")

  def fellOutOfCodegen(p: SparkPlan): Boolean = {
    val cls = p.getClass.getSimpleName
    p.children.nonEmpty &&
    !plumbing.contains(p.nodeName) &&
    !cls.contains("Exchange") &&
    !cls.endsWith("WriteExec") && !cls.startsWith("AppendData") &&
    !cls.startsWith("OverwriteByExpression") && !cls.contains("Command")
  }
}
