package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.DoubleType

import graft.functions.expressions.{CdcChunks, CosineSim, MapValueSum, MinHashSig, MtldFactors, NgramJaccard, RollingHash, ScriptCounts, SimHash64, TokenMatchCount, WinnowedFingerprints, WordNgrams, ZOrder2}

/** Optimizer rule: self-similarity is the identity — `ngram_jaccard(x,
  * x, n)` folds to 1.0 at plan time, so a self-join pipeline (dedup
  * against itself, diagonal of a similarity matrix) never builds
  * shingle sets. The fold is semantics-preserving: a nullable input
  * rewrites to `IF(x IS NULL, NULL, 1.0)` so NULL rows stay NULL, and
  * `cosine_sim(x, x)` is deliberately NOT folded — a zero-norm vector
  * evaluates to NaN (0/0), which a constant 1.0 would silently mask.
  * A small domain rewrite, but it demonstrates the injectOptimizerRule
  * surface and composes with Catalyst's own constant folding. */
object FoldSelfSimilarity extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformAllExpressions {
      case NgramJaccard(a, b, _) if a.deterministic && a.semanticEquals(b) =>
        if (a.nullable) If(IsNull(a), Literal(null, DoubleType), Literal(1.0, DoubleType))
        else Literal(1.0, DoubleType)
    }
}

/** SparkSessionExtensions entry point: registers the engine's custom
  * expressions as SQL functions, so `spark.sql("SELECT simhash64(text)
  * …")` works exactly like the Column API. Install with
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)
  * // or: .config("spark.sql.extensions", "graft.plans.GraftExtensions")
  * }}}
  *
  * or retro-fit an existing session with `GraftExtensions.register`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.registrations.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
    e.injectOptimizerRule(_ => FoldSelfSimilarity)
  }
}

object GraftExtensions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Long, _) => v
    case Literal(v: Int, _)  => v.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be a long literal, got $other")
  }

  private def boolArg(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be a boolean literal, got $other")
  }

  private def stringSeqArg(e: Expression, what: String): Seq[String] = e match {
    // array('a','b') arrives as CreateArray during analysis; a
    // pre-folded constant arrives as an ArrayData literal
    case org.apache.spark.sql.catalyst.expressions.CreateArray(children, _) =>
      children.map {
        case Literal(s, org.apache.spark.sql.types.StringType) if s != null =>
          s.toString
        case other => throw new IllegalArgumentException(
          s"$what must be an array of string literals, got element $other")
      }
    case Literal(data: org.apache.spark.sql.catalyst.util.ArrayData,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, _)) =>
      (0 until data.numElements()).map(i => data.getUTF8String(i).toString)
    case other => throw new IllegalArgumentException(
      s"$what must be an array of string literals, got $other")
  }

  val registrations: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("simhash64",
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args.head)),
    ("cosine_sim",
      new ExpressionInfo(classOf[CosineSim].getName, "cosine_sim"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))),
    ("ngram_jaccard",
      new ExpressionInfo(classOf[NgramJaccard].getName, "ngram_jaccard"),
      (args: Seq[Expression]) =>
        NgramJaccard(args(0), args(1), intArg(args(2), "shingleN"))),
    ("minhash_sig",
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => MinHashSig(
        args.head,
        intArg(args(1), "shingleN"),
        intArg(args(2), "numHashes"),
        longArg(args(3), "seed"))),
    ("rolling_hash",
      new ExpressionInfo(classOf[RollingHash].getName, "rolling_hash"),
      (args: Seq[Expression]) => RollingHash(args.head)),
    ("word_ngrams",
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (args: Seq[Expression]) => WordNgrams(args.head, intArg(args(1), "n"))),
    ("winnowed_fingerprints",
      new ExpressionInfo(classOf[WinnowedFingerprints].getName, "winnowed_fingerprints"),
      (args: Seq[Expression]) => WinnowedFingerprints(
        args.head, intArg(args(1), "k"), intArg(args(2), "modP"))),
    ("zorder2",
      new ExpressionInfo(classOf[ZOrder2].getName, "zorder2"),
      (args: Seq[Expression]) => ZOrder2(args(0), args(1), intArg(args(2), "bits"))),
    ("cdc_chunks",
      new ExpressionInfo(classOf[CdcChunks].getName, "cdc_chunks"),
      (args: Seq[Expression]) => CdcChunks(
        args.head, intArg(args(1), "k"), intArg(args(2), "modB"))),
    ("token_match_count",
      new ExpressionInfo(classOf[TokenMatchCount].getName, "token_match_count"),
      (args: Seq[Expression]) => TokenMatchCount(
        args.head, stringSeqArg(args(1), "words"))),
    ("script_counts",
      new ExpressionInfo(classOf[ScriptCounts].getName, "script_counts"),
      (args: Seq[Expression]) => ScriptCounts(args.head)),
    ("mtld_factors",
      new ExpressionInfo(classOf[MtldFactors].getName, "mtld_factors"),
      (args: Seq[Expression]) => MtldFactors(args.head)),
    ("map_value_sum",
      new ExpressionInfo(classOf[MapValueSum].getName, "map_value_sum"),
      (args: Seq[Expression]) => MapValueSum(args(0), boolArg(args(1), "skipNulls"))))

  /** Retro-fit registration into an already-built session. */
  def register(spark: SparkSession): Unit = {
    val registry: FunctionRegistry = spark.sessionState.functionRegistry
    registrations.foreach { case (name, info, builder) =>
      registry.registerFunction(FunctionIdentifier(name), info, builder)
    }
  }
}
