package graft.tools

import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.sources.ApiEnvelope.jsonString

/** Plan-shape SNAPSHOT for the regression gate (VERDICT r12 ask #2):
  * for each named contract query, record the STATIC physical plan's
  * structural counts — exchanges, sorts, join strategies, scans,
  * per-scan pruning facts, and the operators a `CodegenFallback`
  * expression keeps out of whole-stage codegen ([[codegenFallbacks]]) —
  * as deterministic JSON, diffable across commits by
  * tools/plan_shapes_compare.py.
  *
  * Why static (AQE off): the gate catches the `ext_roc_auc` class of
  * regression — an uncached subtree silently re-evaluated per consumer
  * shows up statically as "Exchange/scan count jumped" — and a static
  * plan is byte-deterministic, while AQE's runtime re-plan depends on
  * observed sizes. Exchange counts here are therefore the UPPER BOUND
  * the optimizer committed to before AQE trims; that is exactly the
  * number the gate must watch.
  *
  * Default query set: EVERY `SparkEntry.queries` key (VERDICT r15 ask
  * #4 — the gate's zero-regression claim must cover the whole contract
  * surface, not a curated subset; static capture is one plan build per
  * query, seconds each, so there is no cost reason to sample). Queries
  * that cannot produce a batch physical plan would go in [[Excluded]]
  * with a reason — currently none.
  *
  * Usage: runMain graft.tools.PlanShapes <sfDir> <out.json> [q1,q2,...]
  */
object PlanShapes {

  /** Contract queries with no static batch plan to snapshot (none
    * today — every `SparkEntry.queries` entry is a batch DataFrame;
    * streaming operators are spec-verified, not contract queries). */
  val Excluded: Set[String] = Set.empty

  def DefaultQueries: Seq[String] =
    (graft.SparkEntry.queries.keySet -- Excluded).toSeq.sorted

  /** Queries whose VALUE is runtime file/row-group skipping that a
    * static plan cannot see (VERDICT r14 ask #3: `ext_zorder_scan`
    * showed files_scanned 16/16 statically while the probe receipt
    * measured 16→2 two-predicate overlap). For these the tool ALSO
    * executes the plan and records each scan's post-execution metrics
    * — `rt_rows_read` (rows surviving parquet row-group min/max
    * skipping: THE z-order dividend) and `rt_files_read` — so a
    * layout regression fails the gate instead of hiding in a probe
    * log. Kept to the layout queries: executing the whole gated set
    * would turn a seconds-fast static tool into a second bench run. */
  val RuntimeGated: Set[String] =
    Set("ext_zorder_scan", "ext_partitioned_scan",
      "ext_bucket_pruned_lookup")

  /** GRAFT_PLANSHAPES_RT=all executes EVERY captured query so the
    * rt_rows_read/rt_files_read fields are populated for the whole
    * surface (VERDICT r16 ask #6) — one full-surface capture per round
    * close; the default stays the seconds-fast static tool with the
    * three layout queries executed. */
  private def rtAll: Boolean =
    sys.env.get("GRAFT_PLANSHAPES_RT").contains("all")

  final case class ScanFacts(
      partitionFilters: Seq[String], pushedFilters: String,
      partitionsSelected: Option[Int], filesScanned: Option[Long],
      filesTotal: Option[Long],
      bucketsSelected: Option[Int], bucketsTotal: Option[Int])

  /** Structural counts of one physical plan. Node identity is the
    * exec class simple name — stable across Spark minor versions. */
  def shape(plan: SparkPlan): Map[String, Int] = {
    val names = plan.collect { case n => n.getClass.getSimpleName }
    names.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  /** Every operator of `plan`, with adaptive and query-stage wrappers
    * unwrapped, so an AQE final plan is searched whole, and subqueries
    * searched too. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Operators that an expression keeps out of whole-stage codegen —
    * those holding a non-leaf `CodegenFallback` expression, Spark's
    * `CollapseCodegenStages` rule — each with the offending expression
    * classes, searched over [[nodes]]. */
  def codegenFallbacks(plan: SparkPlan): Seq[(String, Seq[String])] =
    nodes(plan).flatMap { op =>
      val exprs = op.expressions.flatMap(_.collect {
        case e: CodegenFallback if !e.isInstanceOf[LeafExpression] =>
          e.getClass.getSimpleName
      }).distinct.sorted
      if (exprs.isEmpty) None else Some(op.nodeName -> exprs)
    }

  /** File-scan leaves of `plan`, DESCENDING into cached subtrees
    * (ADVICE r17 #2): a persisted subtree's parquet scans sit under
    * `InMemoryTableScanExec.relation.cachedPlan` — invisible to a
    * plain `plan.collect`, which made
    * rt_rows_read/rt_files_read silently underreport exactly the
    * full-surface coverage rt=all was added for. The cached plan's
    * scans execute (and populate metrics) on the cache's first
    * materialization, which IS this tool's execution (cache cleared
    * per query). `shape()` deliberately stays shallow — the gate's
    * family counts keep their committed-baseline meaning. */
  def collectFileScans(plan: SparkPlan): Seq[FileSourceScanExec] =
    plan.collect {
      case s: FileSourceScanExec => Seq(s)
      case im: InMemoryTableScanExec =>
        collectFileScans(im.relation.cachedPlan)
    }.flatten

  def scanFacts(plan: SparkPlan): Seq[ScanFacts] =
    collectFileScans(plan).map { s =>
      val pf = s.partitionFilters.map(_.sql)
      val pushed = s.metadata.getOrElse("PushedFilters", "[]")
      // Bucket pruning (VERDICT r13 ask #2): optionalBucketSet is the
      // BitSet of bucket ids a point/IN predicate on the bucket column
      // selects; selectedPartitions does NOT reflect it (the file list
      // is filtered later, in createBucketedReadRDD), so files_scanned
      // must be recomputed through BucketingUtils.getBucketId.
      val bTotal = s.relation.bucketSpec.map(_.numBuckets)
      val bSel = s.optionalBucketSet.map(_.cardinality())
      val (sel, scanned, total) =
        try {
          val selected = s.selectedPartitions // post-pruning listing
          val all = s.relation.location.inputFiles.length.toLong
          val effective = s.optionalBucketSet match {
            case Some(bits) =>
              selected.toPartitionArray.map(_.urlEncodedPath).distinct
                .count { p =>
                  val name = p.substring(p.lastIndexOf('/') + 1)
                  org.apache.spark.sql.execution.datasources.BucketingUtils
                    .getBucketId(name)
                    .exists(b => bits.get(b.asInstanceOf[Int]))
                }.toLong
            case None => selected.totalNumberOfFiles
          }
          (Option(selected.partitionCount), Option(effective), Option(all))
        } catch {
          case _: Throwable =>
            (Option.empty[Int], Option.empty[Long], Option.empty[Long])
        }
      ScanFacts(pf, pushed, sel, scanned, total, bSel, bTotal)
    }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanShapes <sfDir> <out.json> [q1,q2,...]")
    val dir = args(0)
    val out = args(1)
    val names =
      if (args.length > 2) graft.SparkEntry.select(args(2))
      else DefaultQueries
    // the core count never affects plan shape (shuffle.partitions is
    // pinned); SPARK_GRAFT_CPUS only speeds up the rt=all full-surface
    // EXECUTION capture. AQE off: static gate — see scaladoc
    val spark = graft.Session.local(
      shufflePartitions = Some(32), adaptive = false)
    spark.sparkContext.setLogLevel("ERROR")

    // the structural families the gate watches, summed over exec classes
    val families = Seq(
      "exchanges" -> Seq("ShuffleExchangeExec"),
      "broadcasts" -> Seq("BroadcastExchangeExec"),
      "sorts" -> Seq("SortExec"),
      "smj" -> Seq("SortMergeJoinExec"),
      "bhj" -> Seq("BroadcastHashJoinExec"),
      "shj" -> Seq("ShuffledHashJoinExec"),
      "bnlj" -> Seq("BroadcastNestedLoopJoinExec"),
      "cartesian" -> Seq("CartesianProductExec"),
      "scans" -> Seq("FileSourceScanExec"),
      "aggregates" -> Seq("HashAggregateExec", "ObjectHashAggregateExec",
        "SortAggregateExec"),
      "windows" -> Seq("WindowExec", "WindowGroupLimitExec"),
      "generates" -> Seq("GenerateExec"))

    val entries = names.sorted.map { q =>
      val plan = graft.SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      val counts = shape(plan)
      val fam = families.map { case (label, classes) =>
        label -> classes.map(c => counts.getOrElse(c, 0)).sum
      }
      // runtime skipping profile (layout queries only): execute the
      // SAME plan instance so its scan nodes' SQL metrics populate,
      // then read rows/files actually produced per scan. AQE is off,
      // so executedPlan is final — no re-plan between the static
      // snapshot and this execution.
      val rtScans: Seq[(Long, Long)] =
        if (!rtAll && !RuntimeGated.contains(q)) Seq.empty
        else {
          plan.execute().count()
          // same traversal as scanFacts (cached subtrees included)
          // so the zip below stays index-aligned
          val rts = collectFileScans(plan).map { s =>
            (s.metrics.get("numOutputRows").map(_.value).getOrElse(-1L),
              s.metrics.get("numFiles").map(_.value).getOrElse(-1L))
          }
          // full-surface executions leave per-query artifacts
          // (persisted proxies, checkpoint blocks) — the Bench
          // hygiene sweep, so 278 executions don't tax each other
          graft.Session.release(spark)
          rts
        }
      val scans = scanFacts(plan).zipWithIndex.map { case (sf, i) =>
        val rt = rtScans.lift(i)
        val fields = Seq(
          "partition_filters" ->
            sf.partitionFilters.map(jsonString).mkString("[", ",", "]"),
          "pushed_filters" -> jsonString(sf.pushedFilters),
          "partitions_selected" ->
            sf.partitionsSelected.map(_.toString).getOrElse("null"),
          "files_scanned" ->
            sf.filesScanned.map(_.toString).getOrElse("null"),
          "files_total" ->
            sf.filesTotal.map(_.toString).getOrElse("null"),
          "buckets_selected" ->
            sf.bucketsSelected.map(_.toString).getOrElse("null"),
          "buckets_total" ->
            sf.bucketsTotal.map(_.toString).getOrElse("null"),
          "rt_rows_read" ->
            rt.map(_._1.toString).getOrElse("null"),
          "rt_files_read" ->
            rt.map(_._2.toString).getOrElse("null"))
        fields.map { case (k, v) => s"${jsonString(k)}: $v" }
          .mkString("{", ", ", "}")
      }
      val fallbacks = codegenFallbacks(plan).map { case (op, exprs) =>
        s"{${jsonString("op")}: ${jsonString(op)}, ${jsonString("exprs")}: " +
          exprs.map(jsonString).mkString("[", ", ", "]") + "}"
      }
      val body =
        (fam.map { case (k, v) => s"${jsonString(k)}: $v" } ++ Seq(
          s"${jsonString("scan_details")}: " + scans.mkString("[", ", ", "]"),
          s"${jsonString("codegen_fallback_ops")}: ${fallbacks.size}",
          s"${jsonString("codegen_fallback")}: " +
            fallbacks.mkString("[", ", ", "]"))).mkString(", ")
      s"  ${jsonString(q)}: {$body}"
    }
    val json = entries.mkString("{\n", ",\n", "\n}\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(out),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    println(s"[plan-shapes] wrote ${entries.size} query shapes to $out")
    spark.stop()
  }
}
