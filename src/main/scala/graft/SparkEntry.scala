package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.plans.SmallSort
import graft.queries._
import graft.queries.Query.{t, xsum}

/** The query contract (SURVEY.md §7): the flagship `entry` and the
  * registry of contract queries. Each family file under `graft.queries`
  * re-expresses an operator from SURVEY.md §2 (reference backend/app.py,
  * utils.py, func.py) or an [EXT] pipeline operator over the TPC-H-ish
  * testdata tables, each entry paired with the ANSI SQL that checks it
  * in DuckDB ([[graft.queries.Query]] has the cross-engine parity
  * conventions).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * A join + aggregate slice: revenue per order priority, handed out
    * through [[SmallSort]] like every registry query. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    SmallSort(li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(xsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("priority"))
  }

  /** Every query of every family, in family order. Each call renders the
    * entries anew, so only [[oracleSql]] keeps the oracle text, and only
    * in a process that reads it (Verify), not in one that only runs
    * queries (Bench). */
  private[graft] def all: Seq[Query] = Seq(
    CoreQueries.all, RelationalQueries.all, LayoutQueries.all,
    ScdQueries.all, LinkageQueries.all, SketchQueries.all, TextQueries.all,
    TfIdfQueries.all, DedupQueries.all, SimilarityQueries.all,
    ClusteringQueries.all, GraphQueries.all, EventQueries.all,
    EvalQueries.all, ExperimentQueries.all, DriftQueries.all,
    PrivacyQueries.all, MultimodalQueries.all).flatten

  /** One entry per implemented operator from SURVEY.md §2 (+ joins/windows/
    * set-ops the reference lacks, + [EXT] pipeline ops). Each build is
    * handed out through [[SmallSort]], so a small result that ends in a
    * global sort sorts on one partition. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val qs = all
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"query registered twice: ${dup.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> ((s: SparkSession, dir: String) => SmallSort(q.build(s, dir)))).toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  lazy val oracleSql: Map[String, String] = all.map(q => q.name -> q.oracle).toMap

  /** The queries a comma-separated list names, in list order (blank
    * items skipped, repeats dropped). Fails before any Spark work on an
    * unknown name or a list that names nothing: a typo that selected
    * nothing would otherwise give a green run that checked nothing. */
  def select(names: String): Seq[String] = {
    val wanted = names.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
    val unknown = wanted.filterNot(queries.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.sorted.mkString(", ")}")
    require(wanted.nonEmpty, s"no query named in '$names'")
    wanted
  }
}
