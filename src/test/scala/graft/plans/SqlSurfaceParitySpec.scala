package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions.{col, expr, lit, map}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.expressions.{GraftFunctions => GF}

/** SQL-surface parity (r10 verdict ask #6): the registered-function
  * surface in [[GraftExtensions.registrations]] grew by hand each round
  * and drifted when new expressions landed (`cdc_chunks` shipped one
  * commit after its expression). This spec makes the drift a FAILURE:
  *
  *  1. it enumerates every concrete Catalyst `Expression` class in
  *     `graft.functions.expressions` off the classpath and demands each
  *     is either SQL-registered or on the explicit exemption list
  *     (expressions parameterized by driver-built non-scalar constants
  *     — hyperplane matrices, PQ codebooks, serialized bloom filters —
  *     have no SQL-literal spelling BY DESIGN);
  *  2. it round-trips every registered function through `spark.sql`
  *     against its Column-API twin on one fixture (null, empty,
  *     unicode rows included) and demands bit-identical results — so a
  *     registration whose SQL argument plumbing diverges from the
  *     Column path cannot land silently either.
  *
  * A future expression therefore fails this spec until it is wired
  * through BOTH surfaces (or deliberately exempted here, a reviewable
  * one-line diff).
  */
class SqlSurfaceParitySpec extends AnyFunSuite with SparkSpec {

  /** Column-API-only by design: parameters are driver-built arrays /
    * blobs with no SQL-literal spelling (a hyperplane matrix or PQ
    * codebook travels to executors via the expression tree, not a SQL
    * string). */
  private val sqlExempt: Set[String] = Set(
    "HyperplaneBands", "HyperplaneBandsLong", "HyperplaneSigns",
    "BloomMightContain", "PqCodes", "PqLut")
    .map("graft.functions.expressions." + _)

  private def concreteExpressionClasses(): Set[String] = {
    import scala.jdk.CollectionConverters._
    val pkg = "graft/functions/expressions"
    val urls = getClass.getClassLoader.getResources(pkg).asScala.toSeq
    val names = urls.flatMap { url =>
      val dir = new java.io.File(url.toURI)
      Option(dir.listFiles()).toSeq.flatten
        .map(_.getName)
        .filter(n => n.endsWith(".class") && !n.contains("$"))
        .map(n => pkg.replace('/', '.') + "." + n.stripSuffix(".class"))
    }
    names.map(Class.forName(_, false, getClass.getClassLoader))
      .filter(c => classOf[Expression].isAssignableFrom(c))
      .filterNot(c => java.lang.reflect.Modifier.isAbstract(c.getModifiers))
      .map(_.getName).toSet
  }

  test("every concrete Expression is SQL-registered or explicitly exempt") {
    val onDisk = concreteExpressionClasses()
    assert(onDisk.nonEmpty, "classpath enumeration must find the expressions")
    val registered = GraftExtensions.registrations.map(_._2.getClassName).toSet
    val unregistered = onDisk -- registered -- sqlExempt
    assert(unregistered.isEmpty,
      s"expressions missing from GraftExtensions.registrations (register " +
        s"them or exempt them here, with the reason): $unregistered")
    val staleExempt = sqlExempt -- onDisk
    assert(staleExempt.isEmpty, s"exemptions for deleted classes: $staleExempt")
    val both = sqlExempt & registered
    assert(both.isEmpty, s"exempt AND registered is contradictory: $both")
  }

  // One SQL spelling + Column twin per registered function, evaluated
  // over the shared fixture. Keys are checked against registrations, so
  // a new registration without a parity row fails loudly.
  private def parityCases: Map[String, (String, Column)] = Map(
    "simhash64" -> ("simhash64(t)", GF.simhash64(col("t"))),
    "cosine_sim" -> ("cosine_sim(v, w)", GF.cosine_sim(col("v"), col("w"))),
    "ngram_jaccard" -> ("ngram_jaccard(t, u, 3)",
      GF.ngram_jaccard(col("t"), col("u"), 3)),
    "minhash_sig" -> ("minhash_sig(t, 5, 16, 42L)",
      GF.minhash_sig(col("t"), 5, 16, 42L)),
    "rolling_hash" -> ("rolling_hash(t)", GF.rolling_hash(col("t"))),
    "word_ngrams" -> ("word_ngrams(t, 2)", GF.word_ngrams(col("t"), 2)),
    "winnowed_fingerprints" -> ("winnowed_fingerprints(t, 4, 3)",
      GF.winnowed_fingerprints(col("t"), 4, 3)),
    "zorder2" -> ("zorder2(x, y, 8)", GF.zorder2(col("x"), col("y"), 8)),
    "cdc_chunks" -> ("cdc_chunks(t, 16, 4)", GF.cdc_chunks(col("t"), 16, 4)),
    "token_match_count" -> ("token_match_count(t, array('the', 'fox'))",
      GF.token_match_count(col("t"), Seq("the", "fox"))),
    "script_counts" -> ("script_counts(t)", GF.script_counts(col("t"))),
    "mtld_factors" -> ("mtld_factors(t)", GF.mtld_factors(col("t"))),
    "map_value_sum" -> ("map_value_sum(map('a', CAST(x AS INT), 'b', CAST(y AS INT)), true)",
      GF.map_value_sum(map(lit("a"), col("x").cast("int"), lit("b"), col("y").cast("int")),
        skipNulls = true)))

  test("every registered SQL function round-trips against its Column twin") {
    import spark.implicits._
    GraftExtensions.register(spark)
    val registeredNames = GraftExtensions.registrations.map(_._1).toSet
    assert(parityCases.keySet == registeredNames,
      s"parity fixture out of sync with registrations: " +
        s"missing=${registeredNames -- parityCases.keySet} " +
        s"stale=${parityCases.keySet -- registeredNames}")
    val fixture = Seq(
      (Option("the quick brown fox jumps over the lazy dog"),
        Option("the quick brown fox jumps over a lazy cat"),
        Array(1.0f, 2.0f, 3.0f), Array(3.0f, 2.0f, 1.0f), 5L, 9L),
      (Option(""), Option("x"), Array(0.0f, 0.0f, 0.0f),
        Array(1.0f, 0.0f, 0.0f), 0L, 255L),
      (Option("héllo wörld 你好 the fox"), Option("héllo wörld"),
        Array(-1.5f, 2.5f, 0.5f), Array(0.25f, -4.0f, 8.0f), 12345L, 1L),
      (None, None, Array(1.0f, 1.0f, 1.0f), Array(1.0f, 1.0f, 1.0f),
        7L, 7L)).toDF("t", "u", "v", "w", "x", "y")
    parityCases.toSeq.sortBy(_._1).foreach { case (name, (sql, twin)) =>
      val viaSql = fixture.select(expr(sql).as("r")).collect().map(_.toString)
      val viaCol = fixture.select(twin.as("r")).collect().map(_.toString)
      assert(viaSql.toSeq == viaCol.toSeq,
        s"$name: SQL surface diverges from the Column API")
    }
  }
}
