package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** One shared local session for the whole test run. */
trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session

  /** Serial replay of the engines' md5-hex convention (Spark `md5`,
    * DuckDB `md5`): UTF-8 bytes → lowercase hex. Test-side reference
    * for every md5-ranked operator (shuffle shards, weighted sampling,
    * length batches). */
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** `body` with the broadcast threshold at -1, which sends every
    * operator with a driver finish down its distributed path
    * ([[graft.operators.Checkpointing.toDriverIfSmall]]). */
  def distributed[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try body finally spark.conf.set(key, prev)
  }

  /** A row in a comparable form: doubles by their bits. */
  def bitRow(row: Row): String = row.toSeq.map {
    case d: Double => s"d:${java.lang.Double.doubleToRawLongBits(d)}"
    case x => String.valueOf(x)
  }.mkString("|")

  /** Rows in a comparable form ([[bitRow]]), sorted. */
  def bitRows(rows: Seq[Row]): Seq[String] = rows.map(bitRow).sorted

  /** Builds an operator's frame twice — at the session's threshold, where
    * a small input takes the driver finish, and [[distributed]] — and
    * asserts the two have the same schema and rows (doubles bit for
    * bit). Unless `degenerate` (an empty input may plan to a local
    * relation on either path) it also asserts that the first took the
    * driver finish, whose result is a local relation. Returns the rows. */
  def onBothPaths(build: => DataFrame, degenerate: Boolean = false): Seq[Row] = {
    val driver = build
    val rows = driver.collect().toSeq
    val (schema, distRows) = distributed {
      val d = build
      (d.schema, d.collect().toSeq)
    }
    if (!degenerate) {
      assert(driver.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
        "a small input must take the driver finish")
    }
    assert(driver.schema == schema, s"${driver.schema} vs $schema")
    assert(bitRows(rows) == bitRows(distRows),
      s"driver ${rows.mkString(", ")} vs distributed ${distRows.mkString(", ")}")
    rows
  }
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(cores = 4, conf = Map(
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
