package graft.queries

import java.security.MessageDigest

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The registry folded from the family files: the same 278 names and,
  * per name, the same oracle text as the two-map registry it replaced.
  * `oracle_digests.tsv` holds each oracle's SHA-256 as rendered by that
  * registry, taken after stripping each line's leading whitespace (so a
  * shared SQL builder may indent differently) and with the per-process
  * fixture root replaced by `<fixtures>`. */
class RegistrySpec extends AnyFunSuite {

  private val recorded: Map[String, String] = {
    val src = Source.fromResource("graft/queries/oracle_digests.tsv", getClass.getClassLoader)
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(name, digest) = l.split("\t")
      name -> digest
    }.toMap
    finally src.close()
  }

  private def digest(sql: String): String = {
    val text = sql.replace(Query.fixtureRoot, "<fixtures>")
      .split("\n", -1).map(_.replaceFirst("^[ \t]+", "")).mkString("\n")
    MessageDigest.getInstance("SHA-256").digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("the registry holds the recorded 278 query names, each with an oracle") {
    assert(recorded.size == 278)
    assert(SparkEntry.queries.keySet == recorded.keySet)
    assert(SparkEntry.oracleSql.keySet == recorded.keySet)
  }

  test("every oracle renders the recorded text") {
    val changed = recorded.toSeq.sorted.collect {
      case (name, d) if digest(SparkEntry.oracleSql(name)) != d => name
    }
    assert(changed.isEmpty, s"oracle text changed: ${changed.mkString(", ")}")
  }

  test("the registry is built once, not on every read") {
    assert(SparkEntry.queries eq SparkEntry.queries)
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql)
  }

  test("select returns the named queries in list order") {
    assert(SparkEntry.select("b4_group_sum, a1_scan_project,,b4_group_sum") ==
      Seq("b4_group_sum", "a1_scan_project"))
  }

  test("select fails on an unknown name or on a list naming nothing") {
    val unknown = intercept[IllegalArgumentException](
      SparkEntry.select("a1_scan_project,a1_scan_projcet,zz"))
    assert(unknown.getMessage.contains("unknown query name(s): a1_scan_projcet, zz"))
    intercept[IllegalArgumentException](SparkEntry.select(" , "))
  }
}
