package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{CollectMetrics, LogicalPlan, Project, Repartition, Sort}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}
import graft.tools.PlanShapes

/** The one-partition sort the registry hands out ([[SmallSort]]): every
  * registry query that ends in a global sort gives the same schema and
  * the same rows in the same order as its raw `Query.build`, and a
  * rewritten one plans no range exchange. */
class SmallSortSpec extends AnyFunSuite with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def endsInGlobalSort(plan: LogicalPlan): Boolean = plan match {
    case p: Project => endsInGlobalSort(p.child)
    case s: Sort => s.global
    case _ => false
  }

  private def rewritten(df: DataFrame): Boolean = df.queryExecution.analyzed.exists {
    case Sort(_, true, Repartition(1, false, _), _) => true
    case _ => false
  }

  private def rangeExchanges(df: DataFrame): Int =
    PlanShapes.nodes(df.queryExecution.executedPlan).count {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }

  /** Whether the root global sort of `df`'s physical plan reads a
    * one-partition coalesce, not a range exchange. */
  private def sortsOnOnePartition(df: DataFrame): Boolean = {
    def input(p: SparkPlan): SparkPlan = p match {
      case i: InputAdapter => input(i.child)
      case _ => p
    }
    PlanShapes.nodes(df.queryExecution.executedPlan)
      .collectFirst { case s: SortExec if s.global => input(s.child) }
      .exists { case c: CoalesceExec => c.numPartitions == 1; case _ => false }
  }

  /** Observed metrics by name without the per-build sequence suffix. */
  private def observed(df: DataFrame): Seq[String] =
    df.queryExecution.observedMetrics.toSeq.map { case (name, row) =>
      name.replaceFirst("_\\d+$", "") + "=" + bitRow(row)
    }.sorted

  private final case class Outcome(name: String, rewritten: Boolean,
      sameSchema: Boolean, sameRows: Boolean, onePartition: Boolean,
      rawRangeExchanges: Int, rangeExchanges: Int,
      observes: Boolean, rawObserved: Seq[String], observed: Seq[String])

  /** Each registry query that ends in a global sort; a rewritten one
    * also run raw (a query left as it is runs its raw build). */
  private lazy val outcomes: Seq[Outcome] =
    SparkEntry.all.sortBy(_.name).flatMap { q =>
      val reg = SparkEntry.queries(q.name)(spark, sf)
      if (!rewritten(reg)) {
        if (!endsInGlobalSort(reg.queryExecution.analyzed)) None
        else Some(Outcome(q.name, rewritten = false, sameSchema = true, sameRows = true,
          onePartition = false, 0, 0, observes = false, Nil, Nil))
      } else {
        // run before the raw build: a build may rewrite its own fixture files
        val rows = reg.collect().toSeq
        val (one, ranges, metrics) =
          (sortsOnOnePartition(reg), rangeExchanges(reg), observed(reg))
        val raw = q.build(spark, sf)
        val rawRows = raw.collect().toSeq
        val out = Outcome(q.name, rewritten = true, reg.schema == raw.schema,
          rows.map(bitRow) == rawRows.map(bitRow), one, rangeExchanges(raw), ranges,
          reg.queryExecution.analyzed.exists(_.isInstanceOf[CollectMetrics]),
          observed(raw), metrics)
        graft.Session.release(spark)
        Some(out)
      }
    }

  test("a registry query that ends in a global sort gives its raw build's schema and rows in order") {
    val bad = outcomes.filterNot(o => o.sameSchema && o.sameRows).map(_.name)
    assert(bad.isEmpty, s"differs from its raw build: ${bad.mkString(", ")}")
  }

  test("a rewritten query's root sort reads one partition, not a range exchange") {
    val rewrites = outcomes.filter(_.rewritten)
    val ranged = rewrites.filterNot(o => o.onePartition && o.rangeExchanges == 0)
      .map(o => s"${o.name} ${o.rawRangeExchanges}->${o.rangeExchanges}")
    assert(ranged.isEmpty, s"root sort not on one partition: ${ranged.mkString(", ")}")
    val fell = rewrites.count(o => o.rangeExchanges == o.rawRangeExchanges - 1)
    info(s"${outcomes.size} queries end in a global sort, ${rewrites.size} rewritten, " +
      s"$fell of them lose a range exchange")
    assert(outcomes.size >= 200 && rewrites.size * 2 > outcomes.size,
      s"${rewrites.size} of ${outcomes.size}")
  }

  test("observed metrics come through the rebuilt frame") {
    val observing = outcomes.filter(o => o.rewritten && o.observes)
    assert(observing.nonEmpty, "no rewritten query observes a metric")
    info(s"observing: ${observing.map(_.name).mkString(", ")}")
    observing.foreach { o =>
      assert(o.observed.nonEmpty && o.observed == o.rawObserved,
        s"${o.name}: ${o.observed} vs raw ${o.rawObserved}")
    }
  }

  test("a threshold of -1, a stream, no root sort or one partition leave the frame as it is") {
    val g2 = SparkEntry.all.find(_.name == "g2_rollup").get.build
    // b6 sorts the output of a window without partition keys, which
    // already runs on one partition and plans no range exchange
    assert(!rewritten(SparkEntry.queries("b6_share_of_total")(spark, sf)))
    distributed {
      val raw = g2(spark, sf)
      assert(SmallSort(raw) eq raw)
      assert(!rewritten(SparkEntry.queries("g2_rollup")(spark, sf)))
      assert(!rewritten(SparkEntry.entry(spark)))
    }
    val limited = g2(spark, sf).limit(2)
    assert(SmallSort(limited) eq limited)
    val stream = spark.readStream.format("rate").load().orderBy("value")
    assert(SmallSort(stream) eq stream)
  }

  test("the flagship entry goes through the rewrite, which its join estimate keeps out") {
    // the join's size estimate is far above the 10 MB default
    val e = SparkEntry.entry(spark)
    assert(!rewritten(e))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "1g")
    val big = try SparkEntry.entry(spark) finally spark.conf.set(key, prev)
    assert(rewritten(big) && rangeExchanges(e) == 1 + rangeExchanges(big))
    assert(big.collect().map(bitRow).toSeq == e.collect().map(bitRow).toSeq)
  }
}
