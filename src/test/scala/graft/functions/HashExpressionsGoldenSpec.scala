package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.expressions.GraftFunctions._

/** Edge-case goldens for the hand-written hash/similarity expressions:
  * empty text, text shorter than the window, surrogate pairs, U+2003 /
  * U+001F / U+0130, float vs double vectors, a zero vector and a dot
  * product of exactly 0. The expected strings were recorded from the
  * expressions before their loops were shared, so any drift in a kernel
  * (accumulation order, modular step, normalization, token skipping,
  * rounding) shows up as a changed golden. */
class HashExpressionsGoldenSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val texts = Seq(
    "",
    "ab",
    "a\uD83D\uDE00b\uD83D\uDE00c",
    "\u2003Hello  World",
    "abc\u001Fdef",
    "\u0130stanbul",
    "  the quick  fox jumps over the lazy dog  ")

  // 4 planes over dim 4; plane 0 · (1, 1, 0, 0) is exactly 0
  private val planes = Array(
    Array(1.0, -1.0, 0.5, 0.0),
    Array(0.0, 1.0, 1.0, -2.0),
    Array(-0.25, 0.5, -1.0, 1.0),
    Array(0.3, 0.3, 0.3, 0.3))

  // m = 2 subspaces × ksub = 2 centroids × dsub = 2
  private val cb = Array(
    Array(Array(0.1, 0.2), Array(-0.5, 0.0000005)),
    Array(Array(1.0, 1.0), Array(0.0, -0.3)))

  private val vecs = Seq(
    Seq(0.0, 0.0, 0.0, 0.0),
    Seq(1.0, 1.0, 0.0, 0.0),
    Seq(0.1, -0.2, 0.3, -0.4),
    Seq(1.5, 2.5),
    Seq.empty[Double],
    Seq(Double.PositiveInfinity, 1.0, Double.NaN, 0.0))

  private def render(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Double.toString(d)
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case x => x.toString
  }

  private def goldens(df: DataFrame, cols: (String, Column)*): Seq[String] = {
    val rows = df.select(cols.map(_._2): _*).collect()
    for ((name, j) <- cols.map(_._1).zipWithIndex; (r, i) <- rows.zipWithIndex)
      yield s"$name/$i=${render(r.get(j))}"
  }

  private def check(got: Seq[String], want: Seq[String]): Unit =
    assert(got == want,
      "\nactual goldens:\n" + got.map(g => "\"" + escape(g) + "\",").mkString("\n"))

  private def escape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' || c > '~' => f"\\u${c.toInt}%04X"
    case c => c.toString
  }

  test("text expressions: empty, short, surrogate, whitespace and U+0130 inputs") {
    // u: a partial-overlap partner for each text, for ngram_jaccard
    val partners = Seq("", "abc", "a\uD83D\uDE00b", "hello  world!", "ABC def", "istanbul",
      "the quick fox")
    val df = texts.zip(partners).toDF("t", "u")
    val t = col("t")
    check(goldens(df,
      "minhash_sig" -> minhash_sig(t, 3, 4, 7L),
      "simhash64" -> simhash64(t),
      "ngram_jaccard" -> ngram_jaccard(t, col("u"), 3),
      "rolling_hash" -> rolling_hash(t),
      "token_match_count" -> token_match_count(t, Seq("the", "fox", "ab", "")),
      "winnowed_k2_p1" -> winnowed_fingerprints(t, 2, 1),
      "winnowed_k3_p2" -> winnowed_fingerprints(t, 3, 2),
      "cdc_k2_b2" -> cdc_chunks(t, 2, 2),
      "cdc_k3_b1" -> cdc_chunks(t, 3, 1)),
      TextGoldens)
  }

  test("vector expressions: float vs double, zero vector, dot exactly 0, non-finite") {
    val dbl = vecs.map(v => (v, v.reverse)).toDF("v", "w")
    val flt = vecs.map(v => (v.map(_.toFloat), v.reverse.map(_.toFloat))).toDF("v", "w")
    def exprs(tag: String) = Seq(
      s"cosine_sim_$tag" -> cosine_sim(col("v"), col("w")),
      s"hyperplane_bands_$tag" -> hyperplane_bands(col("v"), planes, 2),
      s"hyperplane_bands_long_$tag" -> hyperplane_bands_long(col("v"), planes, 2),
      s"hyperplane_signs_$tag" -> hyperplane_signs(col("v"), planes))
    // PQ reads m·dsub elements, so it sees only the full-width vectors
    def pq(df: DataFrame, tag: String) = goldens(df.filter(size(col("v")) === 4),
      s"pq_codes_$tag" -> pq_codes(col("v"), cb),
      s"pq_lut_$tag" -> pq_lut(col("v"), cb))
    check(goldens(dbl, exprs("double"): _*) ++ goldens(flt, exprs("float"): _*) ++
      pq(dbl, "double") ++ pq(flt, "float"),
      VectorGoldens)
  }

  test("each expression loop family is written once under src/main") {
    import scala.jdk.CollectionConverters._
    val families = Seq(
      "rolling k-window update" -> """Prime\)\s*\*\s*31""".r,
      "hyperplane sign-bit fold" -> """\bdot\b[^=]*>=\s*0""".r,
      "float/double element read" -> """getDouble\([^)]*\)\s*else""".r,
      "code-point array" -> """codePointCount\(""".r,
      "char-shingle window" -> """fnv1a\([^)]*math\.min""".r,
      "skip-empty token scan" -> """if\s*\(i > start\)""".r)
    val root = java.nio.file.Paths.get("src/main")
    assert(java.nio.file.Files.isDirectory(root))
    val files = java.nio.file.Files.walk(root)
    val sources =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    // code lines only: scaladoc/comments and stripMargin SQL text skipped
    val code = sources.flatMap { p =>
      java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (l, i) if !Seq("*", "//", "/**", "|").exists(l.trim.startsWith) =>
          (s"$p:${i + 1}", l)
      }
    }
    for ((family, re) <- families) {
      val sites = code.collect { case (at, l) if re.findFirstIn(l).isDefined => at }
      assert(sites.size == 1, s"$family written ${sites.size} times:\n${sites.mkString("\n")}")
    }
  }

  private val TextGoldens = Seq(
    "minhash_sig/0=[425895653,169316552,534193471,557626937]",
    "minhash_sig/1=[291412139,590544135,669540676,632835166]",
    "minhash_sig/2=[207280743,353220132,277649361,289579523]",
    "minhash_sig/3=[41049872,347954045,84551316,182222977]",
    "minhash_sig/4=[86324826,138510805,430214651,77422833]",
    "minhash_sig/5=[92383663,75888196,136805632,256858219]",
    "minhash_sig/6=[54982304,28883242,2112330,13243305]",
    "simhash64/0=0",
    "simhash64/1=620445648566982762",
    "simhash64/2=4883226943645107341",
    "simhash64/3=292971770938951683",
    "simhash64/4=-4460250178783198136",
    "simhash64/5=2879597496717178791",
    "simhash64/6=4802958265202106732",
    "ngram_jaccard/0=1.0",
    "ngram_jaccard/1=0.0",
    "ngram_jaccard/2=0.4",
    "ngram_jaccard/3=0.9",
    "ngram_jaccard/4=1.0",
    "ngram_jaccard/5=1.0",
    "ngram_jaccard/6=0.3333333333333333",
    "rolling_hash/0=0",
    "rolling_hash/1=3105",
    "rolling_hash/2=922160657",
    "rolling_hash/3=735799380",
    "rolling_hash/4=985964672",
    "rolling_hash/5=311491752",
    "rolling_hash/6=511678872",
    "token_match_count/0=0",
    "token_match_count/1=1",
    "token_match_count/2=0",
    "token_match_count/3=0",
    "token_match_count/4=0",
    "token_match_count/5=0",
    "token_match_count/6=3",
    "winnowed_k2_p1/0=[]",
    "winnowed_k2_p1/1=[3105]",
    "winnowed_k2_p1/2=[131519,3983970,131550,3983971]",
    "winnowed_k2_p1/3=[254117,2333,3239,3456,3459,3473,1024,1079,2808,3555,3642,3448]",
    "winnowed_k2_p1/4=[3105,3137,3100,1061,3201,3233]",
    "winnowed_k2_p1/5=[9539,3681,3693,3117,3508,3155,3735]",
    "winnowed_k2_p1/6=[1024,1108,3700,3325,3163,1105,3620,3732,3354,3176,3349,1024,1094,3273,3561,3752,1098,3403,3736,3491,3587,3597,1103,3559,3759,3245,3566,1108,3700,3325,3163,1100,3445,3129,3903,3783,1092,3211,3544,3225,1024]",
    "winnowed_k3_p2/0=[]",
    "winnowed_k3_p2/1=[]",
    "winnowed_k3_p2/2=[123631582]",
    "winnowed_k3_p2/3=[7877728,33560,87162,113002]",
    "winnowed_k3_p2/4=[96354,97278,96200,32992]",
    "winnowed_k3_p2/5=[114208]",
    "winnowed_k3_p2/6=[31860,34452,98166,34372,98488,31846,116418,105602,115928,108336,111618,110430,110662,34452,97120,99644,109896]",
    "cdc_k2_b2/0=[]",
    "cdc_k2_b2/1=[(1,1,2,3105)]",
    "cdc_k2_b2/2=[(1,1,3,4077187),(2,4,1,128512),(3,5,1,99)]",
    "cdc_k2_b2/3=[(1,1,5,570500015),(2,6,3,107695),(3,9,2,2808),(4,11,2,3642),(5,13,1,100)]",
    "cdc_k2_b2/4=[(1,1,4,2987005),(2,5,3,99333)]",
    "cdc_k2_b2/5=[(1,1,6,813019244),(2,7,2,3735)]",
    "cdc_k2_b2/6=[(1,1,2,1024),(2,3,1,116),(3,4,1,104),(4,5,4,3043263),(5,9,1,105),(6,10,1,99),(7,11,1,107),(8,12,2,1024),(9,14,1,102),(10,15,3,110423),(11,18,1,106),(12,19,2,3736),(13,21,8,497941087),(14,29,1,116),(15,30,1,104),(16,31,3,98161),(17,34,5,93333412),(18,39,2,3544),(19,41,2,1024)]",
    "cdc_k3_b1/0=[]",
    "cdc_k3_b1/1=[(1,1,2,3105)]",
    "cdc_k3_b1/2=[(1,1,3,4077187),(2,4,1,128512),(3,5,1,99)]",
    "cdc_k3_b1/3=[(1,1,3,7877728),(2,4,1,108),(3,5,1,108),(4,6,1,111),(5,7,1,32),(6,8,1,32),(7,9,1,87),(8,10,1,111),(9,11,1,114),(10,12,1,108),(11,13,1,100)]",
    "cdc_k3_b1/4=[(1,1,3,96354),(2,4,1,31),(3,5,1,100),(4,6,1,101),(5,7,1,102)]",
    "cdc_k3_b1/5=[(1,1,3,295825),(2,4,1,97),(3,5,1,110),(4,6,1,98),(5,7,1,117),(6,8,1,108)]",
    "cdc_k3_b1/6=[(1,1,3,31860),(2,4,1,104),(3,5,1,101),(4,6,1,32),(5,7,1,113),(6,8,1,117),(7,9,1,105),(8,10,1,99),(9,11,1,107),(10,12,1,32),(11,13,1,32),(12,14,1,102),(13,15,1,111),(14,16,1,120),(15,17,1,32),(16,18,1,106),(17,19,1,117),(18,20,1,109),(19,21,1,112),(20,22,1,115),(21,23,1,32),(22,24,1,111),(23,25,1,118),(24,26,1,101),(25,27,1,114),(26,28,1,32),(27,29,1,116),(28,30,1,104),(29,31,1,101),(30,32,1,32),(31,33,1,108),(32,34,1,97),(33,35,1,122),(34,36,1,121),(35,37,1,32),(36,38,1,100),(37,39,1,111),(38,40,1,103),(39,41,1,32),(40,42,1,32)]")

  private val VectorGoldens = Seq(
    "cosine_sim_double/0=NaN",
    "cosine_sim_double/1=0.0",
    "cosine_sim_double/2=-0.6666666666666665",
    "cosine_sim_double/3=0.8823529411764706",
    "cosine_sim_double/4=NaN",
    "cosine_sim_double/5=NaN",
    "hyperplane_bands_double/0=[0:11,1:11]",
    "hyperplane_bands_double/1=[0:11,1:11]",
    "hyperplane_bands_double/2=[0:11,1:00]",
    "hyperplane_bands_double/3=[0:01,1:11]",
    "hyperplane_bands_double/4=[0:11,1:11]",
    "hyperplane_bands_double/5=[0:00,1:00]",
    "hyperplane_bands_long_double/0=[3,4294967299]",
    "hyperplane_bands_long_double/1=[3,4294967299]",
    "hyperplane_bands_long_double/2=[3,4294967296]",
    "hyperplane_bands_long_double/3=[1,4294967299]",
    "hyperplane_bands_long_double/4=[3,4294967299]",
    "hyperplane_bands_long_double/5=[0,4294967296]",
    "hyperplane_signs_double/0=15",
    "hyperplane_signs_double/1=15",
    "hyperplane_signs_double/2=3",
    "hyperplane_signs_double/3=14",
    "hyperplane_signs_double/4=15",
    "hyperplane_signs_double/5=0",
    "cosine_sim_float/0=NaN",
    "cosine_sim_float/1=0.0",
    "cosine_sim_float/2=-0.6666666666666664",
    "cosine_sim_float/3=0.8823529411764706",
    "cosine_sim_float/4=NaN",
    "cosine_sim_float/5=NaN",
    "hyperplane_bands_float/0=[0:11,1:11]",
    "hyperplane_bands_float/1=[0:11,1:11]",
    "hyperplane_bands_float/2=[0:11,1:00]",
    "hyperplane_bands_float/3=[0:01,1:11]",
    "hyperplane_bands_float/4=[0:11,1:11]",
    "hyperplane_bands_float/5=[0:00,1:00]",
    "hyperplane_bands_long_float/0=[3,4294967299]",
    "hyperplane_bands_long_float/1=[3,4294967299]",
    "hyperplane_bands_long_float/2=[3,4294967296]",
    "hyperplane_bands_long_float/3=[1,4294967299]",
    "hyperplane_bands_long_float/4=[3,4294967299]",
    "hyperplane_bands_long_float/5=[0,4294967296]",
    "hyperplane_signs_float/0=15",
    "hyperplane_signs_float/1=15",
    "hyperplane_signs_float/2=3",
    "hyperplane_signs_float/3=14",
    "hyperplane_signs_float/4=15",
    "hyperplane_signs_float/5=0",
    "pq_codes_double/0=[0,1]",
    "pq_codes_double/1=[0,1]",
    "pq_codes_double/2=[0,1]",
    "pq_codes_double/3=[0,0]",
    "pq_lut_double/0=[0.0,0.0,0.0,0.0]",
    "pq_lut_double/1=[0.3,-0.5,0.0,0.0]",
    "pq_lut_double/2=[-0.03,-0.05,-0.1,0.12]",
    "pq_lut_double/3=[Infinity,-Infinity,NaN,NaN]",
    "pq_codes_float/0=[0,1]",
    "pq_codes_float/1=[0,1]",
    "pq_codes_float/2=[0,1]",
    "pq_codes_float/3=[0,0]",
    "pq_lut_float/0=[0.0,0.0,0.0,0.0]",
    "pq_lut_float/1=[0.3,-0.5,0.0,0.0]",
    "pq_lut_float/2=[-0.03,-0.05,-0.1,0.12]",
    "pq_lut_float/3=[Infinity,-Infinity,NaN,NaN]")
}
