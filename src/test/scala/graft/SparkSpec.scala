package graft

import org.apache.spark.sql.SparkSession

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
}

object SparkSpec {
  lazy val session: SparkSession = Session.local(cores = 4, conf = Map(
    "spark.app.name" -> "graft-tests",
    "spark.sql.warehouse.dir" ->
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
}
