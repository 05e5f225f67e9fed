package graft.functions.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import scala.util.Random

/** Custom Catalyst expressions for the hot hash/similarity paths.
  *
  * Composed higher-order-function formulations of these hashes
  * (transform/aggregate over shingle arrays) evaluate interpreted: k
  * hash permutations × hundreds of shingles per row cost tens of
  * milliseconds each. These expressions compute the same shape in one
  * tight JVM loop per row — typically 100-1000× faster —
  * which is the difference between a pipeline that scans 100 TB and one
  * that stalls on CPU. They are deterministic, null-safe, and
  * partition-order independent, so plans using them stay reproducible.
  *
  * Each loop family is written once, as a primitive-typed kernel in
  * this object; an expression keeps only its own output format:
  *  - vector reads and dots: [[HashExpressions.elem]] (the float/double
  *    element read), [[HashExpressions.dot]] (left-to-right dot over a
  *    slice — hyperplanes and [[PqLut]]) and [[HashExpressions.signBits]]
  *    (the hyperplane sign-bit fold of [[HyperplaneBands]],
  *    [[HyperplaneBandsLong]] and [[HyperplaneSigns]]);
  *  - the code-point polynomial Σ c·31^j mod [[HashExpressions.Prime]]:
  *    [[HashExpressions.codePoints]], [[HashExpressions.polyHash]] (the
  *    plain fold) and [[HashExpressions.windowHashes]] (the rolling
  *    k-window update) — [[RollingHash]], [[WinnowedFingerprints]],
  *    [[CdcChunks]];
  *  - char shingles: [[HashExpressions.shingleHashes]] (normalize, then
  *    FNV-1a per n-char window) — [[MinHashSig]], [[NgramJaccard]] and,
  *    through [[HashExpressions.shingleJaccard]], the driver-side band
  *    calibration in `Dedup`;
  *  - single-space tokens with empties skipped:
  *    [[HashExpressions.foreachToken]] — [[SimHash64]],
  *    [[TokenMatchCount]] ([[WordNgrams]] keeps empty tokens, so it
  *    scans on its own);
  *  - Spark's `round(x, 6)` with non-finite passthrough:
  *    [[HashExpressions.round6]] — [[PqCodes]], [[PqLut]],
  *    `Similarity.pqTopK`'s codebook norms and `Similarity.mmrDiversify`'s
  *    driver-side cosines.
  * Codegen, where it pays, is then one `doGenCode` per family.
  *
  * (CodegenFallback: the per-row call is virtual, but the loop body is
  * compiled Scala — the interpretation overhead that mattered is gone.
  * [[CosineSim]] alone also implements doGenCode: it runs
  * |corpus|×|probes| times inside similarity scans, where even the
  * boxed per-row eval call is worth eliminating.)
  */
object HashExpressions {

  private[expressions] val Prime = 1000000007L

  /** 64-bit FNV-1a over the UTF-16 CODE UNITS of a char window (charAt,
    * not UTF-8 bytes) — cheap, stable, and chosen deliberately: the
    * DuckDB oracles replay this hash with character-indexed ascii()/
    * substr(), so engine and oracle agree exactly for Basic-Multilingual-
    * Plane text (one code unit per character). Supplementary-plane
    * characters (emoji, CJK extensions) split into surrogate pairs here
    * but count as one character in SQL — the BMP-only equivalence
    * contract is stated next to each replaying oracle. */
  @inline private[expressions] def fnv1a(s: String, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  private[expressions] def normalize(text: String): String = {
    val sb = new java.lang.StringBuilder(text.length)
    var i = 0
    var lastSpace = true
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isWhitespace(c)) {
        if (!lastSpace) { sb.append(' '); lastSpace = true }
      } else {
        sb.append(Character.toLowerCase(c)); lastSpace = false
      }
      i += 1
    }
    var end = sb.length
    if (end > 0 && sb.charAt(end - 1) == ' ') end -= 1
    sb.substring(0, end)
  }

  /** FNV-1a hash of every n-char window of the normalized text, in
    * order, duplicates kept; text shorter than n is one window. */
  private[expressions] def shingleHashes(text: String, n: Int): Array[Long] = {
    val norm = normalize(text)
    val out = new Array[Long](math.max(1, norm.length - n + 1))
    var i = 0
    while (i < out.length) {
      out(i) = fnv1a(norm, i, math.min(i + n, norm.length))
      i += 1
    }
    out
  }

  private def shingleSet(text: String, n: Int): java.util.HashSet[Long] = {
    val hs = shingleHashes(text, n)
    val out = new java.util.HashSet[Long]()
    var i = 0
    while (i < hs.length) { out.add(hs(i)); i += 1 }
    out
  }

  /** Exact n-gram Jaccard |A∩B|/|A∪B| of the two texts' shingle sets —
    * [[NgramJaccard]]'s value, also callable on the driver. */
  private[graft] def shingleJaccard(a: String, b: String, n: Int): Double = {
    val sa = shingleSet(a, n)
    val sb = shingleSet(b, n)
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    inter.toDouble / (sa.size() + sb.size() - inter)
  }

  /** Calls f(from, until) for every non-empty token of s split on the
    * single space character. */
  private[expressions] def foreachToken(s: String)(f: (Int, Int) => Unit): Unit = {
    var start = 0
    var i = 0
    val len = s.length
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > start) f(start, i)
        start = i + 1
      }
      i += 1
    }
  }

  /** The Unicode code points of text (not UTF-16 units), widened to
    * long — windows count CODE POINTS, mirroring ord()/substr character
    * semantics in SQL engines. */
  private[expressions] def codePoints(text: String): Array[Long] = {
    val cps = new Array[Long](text.codePointCount(0, text.length))
    var i = 0
    var n = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      cps(n) = cp.toLong
      n += 1
      i += Character.charCount(cp)
    }
    cps
  }

  /** Σ cps(j)·31^(until-1-j) mod Prime over cps[from, until): the
    * left-to-right fold h = (h·31 + c) mod Prime. */
  private[expressions] def polyHash(cps: Array[Long], from: Int, until: Int): Long = {
    var h = 0L
    var j = from
    while (j < until) { h = (h * 31L + cps(j)) % Prime; j += 1 }
    h
  }

  /** [[polyHash]] of every k-wide window of cps, in order (empty when
    * |cps| < k): one O(len) rolling pass that subtracts the outgoing
    * code point's 31^(k-1) term, shifts and adds the incoming one. Every
    * intermediate stays below 2^51. */
  private[expressions] def windowHashes(cps: Array[Long], k: Int): Array[Long] = {
    val n = cps.length
    if (n < k) return Array.emptyLongArray
    var pow = 1L // 31^(k-1) mod Prime
    var e = 0
    while (e < k - 1) { pow = pow * 31L % Prime; e += 1 }
    val out = new Array[Long](n - k + 1)
    var h = polyHash(cps, 0, k)
    out(0) = h
    var s = 1
    while (s <= n - k) {
      val dropped = cps(s - 1) * pow % Prime
      h = ((h - dropped + Prime) * 31L + cps(s + k - 1)) % Prime
      out(s) = h
      s += 1
    }
    out
  }

  /** Whether an array column holds doubles (else floats). array<double>
    * inputs must read via getDouble — getFloat on a double array returns
    * garbage. */
  private[expressions] def isDoubleArray(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == DoubleType

  /** Element i of a float or double array, widened to double. */
  @inline private[expressions] def elem(v: ArrayData, isDouble: Boolean, i: Int): Double =
    if (isDouble) v.getDouble(i) else v.getFloat(i).toDouble

  /** Σ v(off + d)·w(d) over d < len, accumulated left to right from 0.0. */
  @inline private[expressions] def dot(
      v: ArrayData, isDouble: Boolean, off: Int, w: Array[Double], len: Int): Double = {
    var s = 0.0
    var d = 0
    while (d < len) { s += elem(v, isDouble, off + d) * w(d); d += 1 }
    s
  }

  /** Sign bit of v under each hyperplane: bits(p) ⇔ v·planes(p) >= 0,
    * the dot taken over the shorter of v and the plane. */
  private[expressions] def signBits(
      v: ArrayData, isDouble: Boolean, planes: Array[Array[Double]]): Array[Boolean] = {
    val n = v.numElements()
    val bits = new Array[Boolean](planes.length)
    var p = 0
    while (p < planes.length) {
      val plane = planes(p)
      bits(p) = dot(v, isDouble, 0, plane, math.min(n, plane.length)) >= 0
      p += 1
    }
    bits
  }

  /** Spark's `round(x, 6)` for a double — the scala-BigDecimal HALF_UP
    * path of Catalyst's Round — except that NaN/±Inf pass through
    * (BigDecimal throws on them): one garbage embedding must not fail a
    * whole scan or index build; non-finite values flow through argmin
    * and ADC comparisons as worst-distance values. */
  private[graft] def round6(x: Double): Double =
    if (!java.lang.Double.isFinite(x)) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}

/** MinHash signature of a text column: normalize → distinct char
  * n-gram shingles → k universal-hash minima. One pass per row. */
case class MinHashSig(child: Expression, shingleN: Int, numHashes: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  import HashExpressions._

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val coeffs: Array[(Long, Long)] = {
    val rnd = new Random(seed)
    Array.fill(numHashes)((1L + rnd.nextInt((Prime - 1).toInt),
      rnd.nextInt(Prime.toInt).toLong))
  }

  override def nullSafeEval(input: Any): Any = {
    val hs = shingleHashes(input.asInstanceOf[UTF8String].toString, shingleN)
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val seen = new java.util.HashSet[Long]()
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      if (seen.add(h)) {
        val hm = ((h % Prime) + Prime) % Prime
        var j = 0
        while (j < numHashes) {
          val v = (coeffs(j)._1 * hm + coeffs(j)._2) % Prime
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** 64-bit SimHash of a text column: normalize → whitespace tokens →
  * per-bit majority vote of token hashes, packed into one long. */
case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {
  import HashExpressions._

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val norm = normalize(input.asInstanceOf[UTF8String].toString)
    val votes = new Array[Int](64)
    foreachToken(norm) { (from, until) =>
      val h = fnv1a(norm, from, until)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(out)
  }

  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** Cosine similarity of two float-array columns, computed in double with
  * the SAME left-to-right accumulation order as the higher-order
  * `aggregate` fold (and DuckDB's serial list_sum) — results are
  * bit-identical to the composed form, just ~100× cheaper.
  *
  * Unlike the other expressions here this one implements `doGenCode`
  * (not CodegenFallback): it sits in the innermost loop of every
  * similarity scan — brute-force top-k scores it |corpus|×|probes|
  * times — so it's the one place the per-row boxed `eval` call and the
  * InternalRow round-trip are worth eliminating. The generated loop is
  * the same arithmetic in the same order as [[nullSafeEval]]. */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  import HashExpressions._

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  @transient private lazy val leftIsDouble = isDoubleArray(left)
  @transient private lazy val rightIsDouble = isDoubleArray(right)

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = elem(x, leftIsDouble, i)
      val yi = elem(y, rightIsDouble, i)
      dot += xi * yi
      nx += xi * xi
      ny += yi * yi
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      val getX = if (leftIsDouble) s"$a.getDouble($i)" else s"(double) $a.getFloat($i)"
      val getY = if (rightIsDouble) s"$b.getDouble($i)" else s"(double) $b.getFloat($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |double $nx = 0.0;
         |double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = $getX;
         |  double $yi = $getY;
         |  $dot += $xi * $yi;
         |  $nx += $xi * $xi;
         |  $ny += $yi * $yi;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSim =
    copy(left = newLeft, right = newRight)
}

/** Exact n-gram Jaccard of two text columns in one JVM pass: both
  * normalized shingle sets are built as hash sets and |A∩B|/|A∪B|
  * computed directly. Matches the composed shingles/array_intersect
  * formulation exactly (modulo 2^-64 hash collisions); used as the
  * verify stage of MinHash-LSH, where the interpreted form cost ~8 ms
  * per candidate pair. */
case class NgramJaccard(left: Expression, right: Expression, shingleN: Int)
    extends BinaryExpression with CodegenFallback {
  import HashExpressions._

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any = java.lang.Double.valueOf(
    shingleJaccard(a.asInstanceOf[UTF8String].toString, b.asInstanceOf[UTF8String].toString,
      shingleN))

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramJaccard =
    copy(left = newLeft, right = newRight)
}

/** Polynomial (Rabin-Karp) rolling fingerprint of a text column:
  * h = fold over Unicode code points of (h * 31 + cp) mod P, P =
  * 1000000007. The 31-bit prime keeps every intermediate product inside
  * 63 bits (Spark 4 ANSI mode errors on Long overflow), and iterating
  * CODE POINTS (not UTF-16 units) makes the hash byte-layout independent
  * — the same fold any engine can reproduce over ord()/codepoint
  * primitives. One JVM pass per row; reference semantics source:
  * content-addressed dedup fingerprints over Hive rows
  * (/root/reference/backend/utils.py:87-110 formats rows to stable
  * strings before insert — same "canonical string → key" idea). */
case class RollingHash(child: Expression) extends UnaryExpression with CodegenFallback {
  import HashExpressions._

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val cps = codePoints(input.asInstanceOf[UTF8String].toString)
    java.lang.Long.valueOf(polyHash(cps, 0, cps.length))
  }

  override protected def withNewChildInternal(c: Expression): RollingHash =
    copy(child = c)
}

/** Count of whitespace-split tokens that belong to a fixed word set —
  * the language-ID / stopword primitive, one pass per row. Splits on the
  * single space character, mirroring split(text, ' '). */
case class TokenMatchCount(child: Expression, words: Seq[String])
    extends UnaryExpression with CodegenFallback {
  import HashExpressions.foreachToken

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  @transient private lazy val set: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    words.foreach(s.add)
    s
  }

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    var count = 0
    foreachToken(text) { (from, until) =>
      if (set.contains(text.substring(from, until))) count += 1
    }
    java.lang.Integer.valueOf(count)
  }

  override protected def withNewChildInternal(c: Expression): TokenMatchCount =
    copy(child = c)
}

/** Random-hyperplane LSH band keys for a float-vector column: sign bits
  * of `planes` dot products, grouped into `bands` strings of
  * "band:bits". One JVM pass replaces nPlanes interpreted fold
  * expressions. Plane layout matches Similarity.hyperplanes(seed). */
case class HyperplaneBands(child: Expression, planes: Array[Array[Double]], bands: Int)
    extends UnaryExpression with CodegenFallback {
  import HashExpressions._

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val isDouble = isDoubleArray(child)

  override def nullSafeEval(input: Any): Any = {
    val bits = signBits(input.asInstanceOf[ArrayData], isDouble, planes)
    val perBand = planes.length / bands
    val out = new Array[UTF8String](bands)
    var b = 0
    while (b < bands) {
      val sb = new java.lang.StringBuilder(perBand + 4)
      sb.append(b).append(':')
      var j = 0
      while (j < perBand) {
        sb.append(if (bits(b * perBand + j)) '1' else '0'); j += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneBands =
    copy(child = c)
}

/** [[HyperplaneBands]] with LONG bucket keys: (band << 32) | bandBits —
  * for the high-band-count near-dup path, where the bucket column is
  * shuffled and hash-joined bands·n times and an 8-byte fixed-width key
  * beats an ~18-byte UTF8 string on every hop (hashing, sort, exchange
  * bytes). Separate expression rather than a flag so the string variant
  * stays bit-stable for the queries whose DuckDB oracles replay its
  * bucket text end-to-end (ext_ann_lsh). Requires ≤ 32 bits per band
  * and ≤ 2³¹ bands. */
case class HyperplaneBandsLong(child: Expression, planes: Array[Array[Double]], bands: Int)
    extends UnaryExpression with CodegenFallback {
  import HashExpressions._
  require(bands >= 1 && planes.length % bands == 0,
    s"planes (${planes.length}) must divide evenly into $bands bands")
  require(planes.length / bands <= 32, "band bits must fit an Int")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val isDouble = isDoubleArray(child)

  override def nullSafeEval(input: Any): Any = {
    val bits = signBits(input.asInstanceOf[ArrayData], isDouble, planes)
    val perBand = planes.length / bands
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      var key = 0L
      var j = 0
      while (j < perBand) {
        key = (key << 1) | (if (bits(b * perBand + j)) 1L else 0L); j += 1
      }
      out(b) = (b.toLong << 32) | key
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneBandsLong =
    copy(child = c)
}

/** Sign bits of a vector under up to 64 hyperplanes, packed into ONE
  * long (bit p set ⇔ dot(v, planes(p)) >= 0). The compact signature for
  * estimate-then-verify over embedding candidates: agreement fraction =
  * (nPlanes − bit_count(xor(a, b))) / nPlanes estimates the angle, so a
  * cheap (id, long) join can cull background pairs before vectors are
  * rehydrated for the exact cosine. Same dot-fold as [[HyperplaneBands]]. */
case class HyperplaneSigns(child: Expression, planes: Array[Array[Double]])
    extends UnaryExpression with CodegenFallback {
  import HashExpressions._
  require(planes.length <= 64, "HyperplaneSigns packs into one long")

  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  @transient private lazy val isDouble = isDoubleArray(child)

  override def nullSafeEval(input: Any): Any = {
    val bits = signBits(input.asInstanceOf[ArrayData], isDouble, planes)
    var sig = 0L
    var p = 0
    while (p < bits.length) {
      if (bits(p)) sig |= (1L << p)
      p += 1
    }
    sig
  }

  override protected def withNewChildInternal(c: Expression): HyperplaneSigns =
    copy(child = c)
}

/** Word n-grams of a single-space-tokenized text column: the map-side
  * primitive behind decontamination and repetition analysis. Emits the
  * array of all `n`-token windows joined by ' ' (empty array when the
  * text has fewer than `n` tokens). Split semantics mirror
  * `split(text, ' ')` / DuckDB `string_split(text, ' ')` exactly —
  * consecutive spaces yield empty tokens — so a DuckDB oracle can
  * reproduce the output string-for-string. One pass per row; no
  * interpreted HOF, no re-evaluated split (the CollapseProject trap
  * that made the composed formulation quadratic — see SCALE.md). */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    // token start offsets (split on single space, keeping empties)
    val starts = new java.util.ArrayList[Integer]()
    starts.add(0)
    var i = 0
    while (i < text.length) {
      if (text.charAt(i) == ' ') starts.add(i + 1)
      i += 1
    }
    val nTok = starts.size()
    if (nTok < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[UTF8String](nTok - n + 1)
    var k = 0
    while (k <= nTok - n) {
      val from = starts.get(k)
      val until =
        if (k + n < nTok) starts.get(k + n) - 1 else text.length
      out(k) = UTF8String.fromString(text.substring(from, until))
      k += 1
    }
    new GenericArrayData(out.asInstanceOf[Array[Any]])
  }

  override protected def withNewChildInternal(c: Expression): WordNgrams =
    copy(child = c)
}

/** Winnowed substring fingerprints: Rabin-Karp hashes of every k-codepoint
  * window (same polynomial as RollingHash: Σ c·31^j mod 1e9+7), sampled by
  * the 0-mod-p rule (keep h where h % modP == 0) — the MOSS/winnowing
  * family's content-defined selection (Schleimer et al., SIGMOD'03;
  * "0 mod p" per Broder/Manber). Selection depends only on CONTENT, so two
  * documents sharing any sufficiently long substring share its sampled
  * fingerprints regardless of alignment — the substring-level dup signal
  * that token n-gram MinHash misses.
  *
  * One O(len) rolling pass per row (subtract the outgoing codepoint's
  * 31^(k-1) term, shift, add incoming) — not O(len·k) rehashing. All
  * arithmetic stays far inside 63 bits (max |term| < 2^51). Emits window
  * hashes in order, duplicates included (callers distinct at the
  * DataFrame level); docs shorter than k codepoints yield an empty
  * array. */
case class WinnowedFingerprints(child: Expression, k: Int, modP: Int)
    extends UnaryExpression with CodegenFallback {
  import HashExpressions._
  require(k >= 2, s"window must be >= 2 codepoints, got $k")
  require(modP >= 1, s"modP must be >= 1, got $modP")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val hs = windowHashes(codePoints(input.asInstanceOf[UTF8String].toString), k)
    val out = new java.util.ArrayList[Any](hs.length)
    var s = 0
    while (s < hs.length) {
      if (hs(s) % modP == 0) out.add(java.lang.Long.valueOf(hs(s)))
      s += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): WinnowedFingerprints =
    copy(child = c)
}

/** Content-defined chunking (the rsync/LBFS family): cut a document
  * after every k-codepoint window whose rolling hash (the
  * [[RollingHash]] polynomial, Σ c·31^j mod 1e9+7) is ≡ 0 mod `modB` —
  * so chunk boundaries depend only on LOCAL content, and an insertion
  * re-chunks one neighborhood instead of shifting every downstream
  * fixed-width chunk (the failure mode of offset-based chunking for
  * storage/corpus dedup). Expected chunk length ≈ modB codepoints.
  *
  * Determinism/portability: the window slides continuously (cuts do
  * not reset it), every intermediate stays < 2^51, and both the
  * boundary rule and each chunk's content hash are the same polynomial
  * a SQL engine replays over ord()/substr primitives. No min/max chunk
  * clamps — they'd be extra state for the oracle to mirror; degenerate
  * short chunks are valid output. A cut falling exactly at the end of
  * the text opens no empty chunk; docs shorter than k codepoints are
  * one whole-doc chunk; empty text yields an empty array.
  *
  * One O(len) pass per row. Output: array of (idx, start, len, hash) —
  * idx/start 1-based, start/len in codepoints, hash the chunk-content
  * polynomial. */
case class CdcChunks(child: Expression, k: Int, modB: Int)
    extends UnaryExpression with CodegenFallback {
  import HashExpressions._
  require(k >= 2, s"window must be >= 2 codepoints, got $k")
  require(modB >= 1, s"modB must be >= 1, got $modB")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("idx", LongType, nullable = false),
      StructField("start", LongType, nullable = false),
      StructField("len", LongType, nullable = false),
      StructField("hash", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val cps = codePoints(input.asInstanceOf[UTF8String].toString)
    val n = cps.length
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    // cut positions: 0-based index of the LAST codepoint of a 0-mod-B
    // window, excluding a cut at the very end (it would open an empty
    // chunk)
    val hs = windowHashes(cps, k)
    val cuts = new java.util.ArrayList[Int]()
    var s = 0
    while (s < hs.length) {
      if (hs(s) % modB == 0 && s + k - 1 < n - 1) cuts.add(s + k - 1)
      s += 1
    }
    val out = new java.util.ArrayList[Any](cuts.size + 1)
    var start = 0 // 0-based chunk start
    var idx = 1L
    var c = 0
    while (c <= cuts.size) {
      val end = if (c < cuts.size) cuts.get(c) else n - 1 // inclusive
      out.add(InternalRow(idx, (start + 1).toLong, (end - start + 1).toLong,
        polyHash(cps, start, end + 1)))
      idx += 1
      start = end + 1
      c += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(c: Expression): CdcChunks =
    copy(child = c)
}

/** Bloom-filter membership probe against a pre-built, serialized
  * `org.apache.spark.util.sketch.BloomFilter` — the map-side cull that
  * replaces an exact broadcast hash set when the small side of a
  * semi-join stops being small (a 10^8-element string set is gigabytes;
  * its 1 %-fpp bloom is ~120 MB). The filter bytes ride the task binary
  * (plan serialization is itself a broadcast) and deserialize once per
  * task via the transient lazy val, so per-row work is just the probe.
  *
  * Probes the UTF-8 bytes of the string directly
  * (`UTF8String.getBytes`): the sketch library defines
  * `putString(s) ≡ putBinary(s.getBytes(UTF_8))`, so a filter built
  * from a string column with `df.stat.bloomFilter` answers byte-probe
  * queries without materializing a java.lang.String per row.
  *
  * May return false-positive `true` (fpp-bounded), never a false
  * negative — callers MUST re-verify survivors exactly (a semi-join)
  * when the answer has to be exact; see TextPipeline.contaminationBloom
  * for the pattern. */
case class BloomMightContain(child: Expression, bloomBytes: Array[Byte])
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  @transient private lazy val filter =
    org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bloomBytes))

  override def nullSafeEval(input: Any): Any =
    filter.mightContainBinary(input.asInstanceOf[UTF8String].getBytes)

  override protected def withNewChildInternal(c: Expression): BloomMightContain =
    copy(child = c)
}

/** Bit-interleaved Z-order value of two non-negative long columns —
  * the multi-column data-layout key: sorting files by z(a, b) clusters
  * BOTH dimensions, so parquet min/max statistics prune point/range
  * predicates on either column (Delta's OPTIMIZE ZORDER, as one plain
  * expression). Each input contributes its low `bits` bits (≤ 31),
  * interleaved a₀b₀a₁b₁…; inputs are masked, so out-of-range values
  * degrade to coarser clustering, never to an error. */
case class ZOrder2(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression with CodegenFallback {
  require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")

  override def dataType: DataType = LongType
  override def nullable: Boolean = left.nullable || right.nullable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[Long] & ((1L << bits) - 1)
    val y = b.asInstanceOf[Long] & ((1L << bits) - 1)
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    java.lang.Long.valueOf(z)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2 =
    copy(left = newLeft, right = newRight)
}

/** Product-quantization code assignment: per subspace j, the ordinal of
  * the codebook centroid minimizing the 6dp-ROUNDED L2² distance to the
  * vector's j-th slice (first minimum wins — the array_sort(struct)
  * argmin's tie-break). Bit-identical to the declarative
  * aggregate/transform formulation it replaces (left-to-right 0.0-seeded
  * folds, scala-BigDecimal HALF_UP rounding — the exact code path of
  * Spark's own Round for DoubleType) but a tight JVM loop per row:
  * higher-order lambdas evaluate INTERPRETED per element, which at
  * corpus × m × ksub × dsub volume was the measured cost of the whole
  * PQ query (SCALE.md, interpreted-expression trap). */
case class PqCodes(child: Expression, cb: Array[Array[Array[Double]]])
    extends UnaryExpression with CodegenFallback {
  import HashExpressions._
  require(cb.nonEmpty && cb.head.nonEmpty && cb.head.head.nonEmpty,
    "PQ codebook must be m x ksub x dsub, all non-empty")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val isDouble = isDoubleArray(child)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val m = cb.length
    val dsub = cb(0)(0).length
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val base = j * dsub
      val cents = cb(j)
      var best = -1
      var bestD = 0.0
      var i = 0
      while (i < cents.length) {
        val c = cents(i)
        var s = 0.0
        var d = 0
        while (d < dsub) {
          val x = elem(v, isDouble, base + d) - c(d)
          s += x * x
          d += 1
        }
        val r = round6(s)
        if (best < 0 || r < bestD) { best = i; bestD = r }
        i += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): PqCodes =
    copy(child = c)
}

/** The per-probe ADC lookup table: rounded subspace dots laid out
  * [j·ksub + i]. Same arithmetic contract as [[PqCodes]]. */
case class PqLut(child: Expression, cb: Array[Array[Array[Double]]])
    extends UnaryExpression with CodegenFallback {
  import HashExpressions._
  require(cb.nonEmpty && cb.head.nonEmpty && cb.head.head.nonEmpty,
    "PQ codebook must be m x ksub x dsub, all non-empty")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val isDouble = isDoubleArray(child)

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val m = cb.length
    val k = cb(0).length
    val dsub = cb(0)(0).length
    val out = new Array[Double](m * k)
    var j = 0
    while (j < m) {
      val base = j * dsub
      val cents = cb(j)
      var i = 0
      while (i < k) {
        out(j * k + i) = round6(dot(v, isDouble, base, cents(i), dsub))
        i += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): PqLut =
    copy(child = c)
}

/** Column-level constructors. */
/** Single-pass Unicode script profile of a text column: one loop over
  * the UTF-16 units counting [non-whitespace, Latin letters, ASCII
  * digits, Cyrillic U+0400–04FF, CJK U+4E00–9FFF, Arabic U+0600–06FF]
  * — the six counts `TextPipeline.scriptMix` needs, which as built-ins
  * cost SIX independent `regexp_replace` passes over every document
  * (measured 26.6 s at the 104× replica; this expression: see
  * bench/script_mix_expr receipt). Whitespace is the RE2 `\s` set
  * `[\t\n\f\r ]` (NO vertical tab — RE2 and Java regex disagree on
  * U+000B, and the DuckDB oracle is RE2), and counting advances per
  * Unicode CODEPOINT (a surrogate pair counts once), exactly matching
  * the oracle's regexp_replace/length(), which is codepoint-length.
  *
  * doGenCode (not CodegenFallback): the loop lives in a static helper
  * compiled once; generated code is one call per row, no boxed eval,
  * whole-stage codegen stays fused. */
case class ScriptCounts(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ScriptCounts.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.ScriptCounts.count($c)")

  override protected def withNewChildInternal(
      newChild: Expression): ScriptCounts = copy(child = newChild)
}

object ScriptCounts {
  /** The one-pass counter the interpreted and generated paths share. */
  def count(s: UTF8String): ArrayData = {
    val str = s.toString
    var nc = 0L; var lat = 0L; var dig = 0L
    var cyr = 0L; var cjk = 0L; var ara = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' ||
        cp == '\f' || cp == '\r'
      if (!isWs) nc += 1L
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) lat += 1L
      else if (cp >= '0' && cp <= '9') dig += 1L
      else if (cp >= 'Ѐ' && cp <= 'ӿ') cyr += 1L
      else if (cp >= '一' && cp <= '鿿') cjk += 1L
      else if (cp >= '؀' && cp <= 'ۿ') ara += 1L
      i += Character.charCount(cp)
    }
    new GenericArrayData(Array(nc, lat, dig, cyr, cjk, ara))
  }
}

/** One-pass MTLD walk (McCarthy & Jarvis '10) over a text column:
  * lowercases with Spark's own `UTF8String.toLowerCase` (bit-identical
  * to `lower()`), tokenizes by [a-z] runs (≡ `split(lower(t),
  * '[^a-z]+')` with empties dropped), and runs the forward and
  * reversed factor-counting recurrences with a reusable HashSet.
  * Returns [n_tokens, factors_fwd, factors_bwd] as doubles. The
  * `aggregate()` HOF formulation is semantically identical but
  * evaluates interpreted per token (HOF lambdas do not codegen) and
  * allocates a fresh segment array per step — measured 12.7 s at the
  * 104× replica vs this expression (bench/bench_r16_mtld_* vs
  * bench_r16_mtldexpr_*).
  *
  * doGenCode (not CodegenFallback): one static call per row, no boxed
  * eval, whole-stage codegen stays fused. */
case class MtldFactors(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MtldFactors.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.expressions.MtldFactors.compute($c)")

  override protected def withNewChildInternal(
      newChild: Expression): MtldFactors = copy(child = newChild)
}

object MtldFactors {
  /** The shared interpreted/generated path. */
  def compute(s: UTF8String): ArrayData = {
    val str = s.toLowerCase.toString
    val toks = new java.util.ArrayList[String]()
    var i = 0
    val n = str.length
    while (i < n) {
      if (str.charAt(i) >= 'a' && str.charAt(i) <= 'z') {
        var j = i + 1
        while (j < n && str.charAt(j) >= 'a' && str.charAt(j) <= 'z') j += 1
        toks.add(str.substring(i, j))
        i = j
      } else i += 1
    }
    val k = toks.size
    def walk(reversed: Boolean): Double = {
      var f = 0.0
      val seg = new java.util.HashSet[String]()
      var segN = 0
      var p = 0
      while (p < k) {
        seg.add(toks.get(if (reversed) k - 1 - p else p))
        segN += 1
        if (seg.size.toDouble / segN.toDouble < 0.72) {
          f += 1.0; seg.clear(); segN = 0
        }
        p += 1
      }
      if (segN > 0)
        f += (1.0 - seg.size.toDouble / segN.toDouble) / (1.0 - 0.72)
      f
    }
    new GenericArrayData(Array(k.toDouble, walk(false), walk(true)))
  }
}

/** Σ of a `map<_, int>` column's values as a long — the per-row
  * registrations of the car_data surface.
  *  - `skipNulls = false` is `aggregate(map_values(coalesce(m, map())),
  *    0L, (acc, x) -> acc + CAST(x AS BIGINT))`: a null map sums to 0,
  *    any null value makes the sum null.
  *  - `skipNulls = true` sums the non-null values and is null when there
  *    are none (null or empty map included), so its `sum` over rows is
  *    the `sum` of the exploded values.
  *
  * doGenCode (not CodegenFallback): the `aggregate` lambda evaluates
  * interpreted and keeps its whole operator out of whole-stage codegen;
  * this is one static call per row, like [[ScriptCounts]]. */
case class MapValueSum(child: Expression, skipNulls: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case MapType(_, IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"map_value_sum needs a map with int values, got ${other.catalogString}")
  }

  override def eval(input: InternalRow): Any = {
    val m = child.eval(input)
    if (m == null) { if (skipNulls) null else 0L }
    else {
      val s = MapValueSum.sum(m.asInstanceOf[MapData], skipNulls)
      if (s == MapValueSum.NoSum) null else s
    }
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |boolean ${ev.isNull} = $skipNulls;
      |long ${ev.value} = 0L;
      |if (!${c.isNull}) {
      |  ${ev.value} = graft.functions.expressions.MapValueSum.sum(${c.value}, $skipNulls);
      |  ${ev.isNull} = ${ev.value} == ${MapValueSum.NoSum}L;
      |}""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): MapValueSum = copy(child = newChild)
}

object MapValueSum {
  /** The null result. Never a real sum: fewer than 2^31 int values sum
    * strictly inside (−2^62, 2^62). */
  final val NoSum = Long.MinValue

  /** The kernel the interpreted and generated paths share. */
  def sum(m: MapData, skipNulls: Boolean): Long = {
    val vs = m.valueArray()
    val n = vs.numElements()
    var s = 0L
    var seen = false
    var i = 0
    while (i < n) {
      if (!vs.isNullAt(i)) { s += vs.getInt(i); seen = true }
      else if (!skipNulls) return NoSum
      i += 1
    }
    if (skipNulls && !seen) NoSum else s
  }
}

object GraftFunctions {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  def map_value_sum(m: Column, skipNulls: Boolean): Column =
    column(MapValueSum(expression(m), skipNulls))

  def minhash_sig(text: Column, shingleN: Int, numHashes: Int, seed: Long): Column =
    column(MinHashSig(expression(text), shingleN, numHashes, seed))

  def simhash64(text: Column): Column = column(SimHash64(expression(text)))

  def cosine_sim(a: Column, b: Column): Column =
    column(CosineSim(expression(a), expression(b)))

  def ngram_jaccard(a: Column, b: Column, shingleN: Int): Column =
    column(NgramJaccard(expression(a), expression(b), shingleN))

  def token_match_count(text: Column, words: Seq[String]): Column =
    column(TokenMatchCount(expression(text), words))

  def rolling_hash(text: Column): Column = column(RollingHash(expression(text)))

  def word_ngrams(text: Column, n: Int): Column =
    column(WordNgrams(expression(text), n))

  def script_counts(text: Column): Column =
    column(ScriptCounts(expression(text)))

  def mtld_factors(text: Column): Column =
    column(MtldFactors(expression(text)))

  def winnowed_fingerprints(text: Column, k: Int, modP: Int): Column =
    column(WinnowedFingerprints(expression(text), k, modP))

  def cdc_chunks(text: Column, k: Int, modB: Int): Column =
    column(CdcChunks(expression(text), k, modB))

  def hyperplane_bands(vec: Column, planes: Array[Array[Double]], bands: Int): Column =
    column(HyperplaneBands(expression(vec), planes, bands))

  def hyperplane_bands_long(vec: Column, planes: Array[Array[Double]], bands: Int): Column =
    column(HyperplaneBandsLong(expression(vec), planes, bands))

  def hyperplane_signs(vec: Column, planes: Array[Array[Double]]): Column =
    column(HyperplaneSigns(expression(vec), planes))

  def zorder2(a: Column, b: Column, bits: Int = 21): Column =
    column(ZOrder2(expression(a), expression(b), bits))

  def bloom_might_contain(c: Column, serializedBloom: Array[Byte]): Column =
    column(BloomMightContain(expression(c), serializedBloom))

  def pq_codes(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    column(PqCodes(expression(vec), cb))

  def pq_lut(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    column(PqLut(expression(vec), cb))
}
