package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.sum

import graft.Tables

/** One contract query: its name, its Spark build over a testdata
  * directory, and the ANSI SQL that DuckDB runs on the same parquet
  * tables to check it. A family file under `graft.queries`
  * writes each entry once, so no query exists without its oracle;
  * [[graft.SparkEntry]] folds the families into the registry.
  *
  * Conventions for cross-engine hash parity:
  *  - every result carries a total ORDER BY with tie-breaker keys
  *    (SURVEY.md §7.4 — the reference's dict-order outputs are
  *    nondeterministic; ours must not be);
  *  - integer outputs are cast to BIGINT on both sides;
  *  - sums/averages of doubles go through exact DECIMAL accumulation
  *    (order-independent) and are cast back to double — plain double
  *    sums differ in the last ulps between Spark's partial-aggregate
  *    tree and DuckDB's serial fold;
  *  - timestamps are emitted as formatted UTC strings.
  *
  * The hash-based LSH ops (MinHash/SimHash/hyperplane buckets) use hash
  * primitives DuckDB does not have, so their oracles replay the engine's
  * decisions (planes, seeds, band keys) as literals; ScalaTest also
  * checks them against brute-force ground truth on small fixtures. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object Query {

  /** Opens a testdata table (see [[graft.Tables]]). */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Exact, engine-reproducible sum of a double column (see the scaladoc
    * above). */
  def xsum(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  /** Fixture root for queries that materialize their own parquet (the
    * layout scans and the multimodal relational spine). Per-PROCESS by
    * default so concurrent Verify/Bench runs never race on a shared /tmp
    * path — the oracle SQL embeds the same resolved path (builds and
    * oracles are rendered in the same JVM, so Verify's oracle_sql.json
    * always points at the files this process wrote). Override with
    * SPARK_GRAFT_FIXTURE_DIR if the oracle runs on another host. */
  lazy val fixtureRoot: String =
    sys.env.getOrElse("SPARK_GRAFT_FIXTURE_DIR",
      s"/tmp/graft_fixtures_pid${ProcessHandle.current().pid()}")
}
