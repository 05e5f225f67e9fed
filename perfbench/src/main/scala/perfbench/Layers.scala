package perfbench

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext

/** Per-layer metrics of a traced run, from its spans and the Spark work
  * attributed to them. Span names are the layers the harness wraps:
  * `op` (one closed-loop operation), `operators` (building a `SparkEntry` query),
  * `tables` (`Tables.apply`), `car` (building a `CarAnalytics` endpoint),
  * `exec` (the `noop` write that forces a `SparkEntry` query), `api`
  * (`ApiEnvelope.read`, which forces an endpoint), `append` and `compact`. Two more
  * layers come from Spark's own reports inside those spans: `tables.job`
  * (jobs whose call site is `Tables.scala`) and `plans` (the planning
  * phases of each query execution). */
object Layers {

  /** Forcing actions: their time, jobs and task metrics are the `exec`
    * layer's. `sources.api_s`, `sources.append_s` and `sources.compact_s`
    * break the same spans down by call; they are parts of `exec.s`. */
  val forcing = Set("exec", "api", "append", "compact")
  val selfTimed = Seq("op", "operators", "tables", "car", "exec", "api", "append", "compact")

  def metrics(tracer: Tracer, loop: Loop): Map[String, Double] = {
    val works = tracer.works
    val byName = tracer.spans.groupBy(_.name).withDefaultValue(Seq.empty)
    def total(name: String): Double = byName(name).map(_.seconds).sum
    def workOf(names: Set[String]): Seq[Work] =
      tracer.spans.filter(s => names(s.name)).flatMap(s => works.get(s.id)).toSeq
    val all = works.filter(_._1 >= 0).values.toSeq
    val exec = workOf(forcing)
    val build = workOf(Set("operators"))
    val skews = exec.flatMap(_.skews)
    val appendTimes = byName("append").map(_.seconds).sorted
    val self = selfSeconds(tracer)
    def sum(ws: Seq[Work])(f: Work => Long): Double = ws.map(f).sum.toDouble
    Map(
      "tables.jobs" -> sum(all)(_.tablesJobs),
      "tables.s" -> sum(all)(_.tablesNanos) / 1e9,
      "operators.build_s" -> total("operators"),
      "operators.build_jobs" -> sum(build)(_.jobs),
      "plans.s" -> sum(all)(_.planNanos) / 1e9,
      "plans.codegen_fallback_ops" -> sum(all)(_.codegenFallback),
      "exec.s" -> forcing.toSeq.map(total).sum,
      "exec.jobs" -> sum(exec)(_.jobs),
      "exec.stages" -> sum(exec)(_.stages),
      "exec.tasks" -> sum(exec)(_.tasks),
      "exec.task_wait_s" -> sum(exec)(_.taskWaitMs) / 1e3,
      "exec.input_bytes" -> sum(exec)(_.inputBytes),
      "exec.files_read" -> sum(exec)(_.files),
      "exec.shuffle_read_bytes" -> sum(exec)(_.shuffleRead),
      "exec.shuffle_write_bytes" -> sum(exec)(_.shuffleWrite),
      "exec.spill_bytes" -> sum(exec)(_.spill),
      "exec.task_skew" -> (if (skews.isEmpty) 1.0 else skews.sum / skews.length),
      "exec.failed_tasks" -> sum(exec)(_.failedTasks),
      "sources.append_s" -> total("append"),
      "sources.append_p50_s" ->
        (if (appendTimes.isEmpty) 0.0 else appendTimes(appendTimes.length / 2)),
      "sources.compact_s" -> total("compact"),
      "sources.api_s" -> total("api"),
      "car.build_s" -> total("car"),
    ) ++ Seq("sources.files_written", "sources.bytes_written", "sources.files_before_compact",
      "sources.files_after_compact", "sources.api_rows", "sources.bytes_per_row")
      .map(k => k -> loop.counters(k)) ++
      self.map { case (name, s) => s"self.${name.replace('.', '_')}_s" -> s }
  }

  /** The `cache` layer: persisted RDDs, their bytes and checkpoint files
    * still held by the context. The harness counts them after the loop,
    * before anything is unpersisted or cleaned. */
  def cacheLeft(sc: SparkContext): Map[String, Double] = {
    val checkpointFiles = sc.getCheckpointDir.map { d =>
      val p = new Path(d)
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }.getOrElse(0L)
    Map(
      "cache.rdds_left" -> sc.getPersistentRDDs.size.toDouble,
      "cache.bytes_left" -> sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum.toDouble,
      "cache.checkpoint_files_left" -> checkpointFiles.toDouble)
  }

  /** Self time per layer: a span's duration minus the part of it that its
    * child spans, and the Spark-reported intervals inside it, cover. The
    * Spark-reported intervals are leaves. */
  def selfSeconds(tracer: Tracer): Seq[(String, Double)] = {
    val children = tracer.spans.groupBy(_.parent).withDefaultValue(Seq.empty)
    val inner = tracer.inner.groupBy(_._1).withDefaultValue(Seq.empty)
    val spanSelf = tracer.spans.map { s =>
      val covered = (children(s.id).map(c => (c.start, c.end)) ++
        inner(s.id).map(i => (i._3, i._4)))
        .map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var union = 0L
      var reach = Long.MinValue
      covered.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) union += b - from
        reach = math.max(reach, b)
      }
      s.name -> (s.end - s.start - union) / 1e9
    }
    val leafSelf = tracer.inner.filter(_._1 >= 0).map(i => i._2 -> (i._4 - i._3) / 1e9)
    val sums = (spanSelf ++ leafSelf).groupMapReduce(_._1)(_._2)(_ + _)
    (selfTimed ++ Seq("tables.job", "plans")).map(n => n -> sums.getOrElse(n, 0.0))
  }

  /** The spans as records for the trace file. */
  def spanRecords(tracer: Tracer): Seq[java.util.Map[String, Any]] =
    tracer.spans.toSeq.map(s => Map[String, Any](
      "id" -> s.id, "name" -> s.name, "label" -> s.label, "parent" -> s.parent,
      "run" -> tracer.runId, "start_ns" -> s.start, "end_ns" -> s.end).asJava)
}
