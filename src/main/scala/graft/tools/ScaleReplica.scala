package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: build an N× volume replica of a testdata scale-factor dir
  * (for scaling-receipt bench runs beyond the largest shipped SF; see
  * SCALE.md). NOT part of the engine — a measurement harness.
  *
  * Each copy i gets its keys shifted by i × 1e9 so referential joins
  * still resolve (orders↔lineitem↔customer etc. stay consistent within
  * a copy and never collide across copies). Content columns are made
  * DISTINCT per copy — documents get a per-copy substitution cipher
  * (26 rotations, then affine maps: 312 total) and embeddings a
  * per-copy array rotation composed with a global sign flip (126
  * variants) — so near-dup/LSH workloads scale like a bigger corpus
  * (linearly more clusters), not like one corpus duplicated N times
  * (quadratically more candidate pairs, which would measure the DATA
  * construction, not the engine). Factors ≤ 26 reproduce the r3–r10
  * receipts bit-for-bit; the affine/sign-flip extension (r10 ask #4)
  * unlocks ~100× receipts.
  *
  * Usage: runMain graft.tools.ScaleReplica <srcDir> <destDir> <factor>
  */
object ScaleReplica {

  private val Stride = 1000000000L

  private val Az = "abcdefghijklmnopqrstuvwxyz"
  // multipliers coprime with 26, excluding 1 (the rotation block)
  private val AffineA = Seq(3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Per-copy text cipher alphabet (r10 verdict ask #4: push the
    * replica scheme past 26×). Copies 0..25 are the original rotations
    * j → j + i (copy 0 = identity), so every existing ≤26× receipt is
    * reproduced bit-for-bit; copies ≥ 26 move to full AFFINE maps
    * j → a·j + b (mod 26) with a coprime to 26 — 11 more blocks of 26,
    * i.e. 312 content-distinct ciphers. Two distinct affine maps agree
    * on at most gcd(a₁−a₂, 26) ≤ 2 letters, so cross-copy texts stay
    * unrelated: near-dup workloads see factor× more CLUSTERS, never
    * the same corpus repeated. */
  private def cipherAlphabet(i: Int): String = {
    val (a, b) = if (i < 26) (1, i) else (AffineA((i / 26) - 1), i % 26)
    (0 until 26).map(j => Az((a * j + b) % 26)).mkString
  }

  private def shifted(df: DataFrame, copy: Int, keys: Seq[String]): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(copy * Stride)))

  private def replicate(
      spark: SparkSession, src: String, dest: String, name: String,
      factor: Int)(perCopy: (DataFrame, Int) => DataFrame): Unit = {
    val base = spark.read.parquet(s"$src/$name.parquet") // raw: no ts rebuild
    val out = (0 until factor).map(i => perCopy(base, i)).reduce(_ unionByName _)
    out.write.mode("overwrite").parquet(s"$dest/$name.parquet")
  }

  def main(args: Array[String]): Unit = {
    val Array(src, dest, factorStr) = args.take(3)
    val factor = factorStr.toInt
    // Content distinctness bounds (each copy needs a UNIQUE transform,
    // or copies repeat content and reintroduce the quadratic-pair
    // artifact this tool exists to avoid): texts support 312 affine
    // ciphers (cipherAlphabet), embeddings 126 rotation×negation
    // variants + identity (63 offsets × ±1) — embeddings bind at 127.
    // 104 ≈ the ask-#4 "~100×" target with headroom below the bound.
    require(factor >= 1 && factor <= 126,
      s"factor must be in [1, 126] to keep per-copy content distinct (got $factor)")
    val spark = graft.Session.local()
    spark.sparkContext.setLogLevel("WARN")

    // dimension tables: copy once, unshifted
    Seq("region", "nation").foreach(n =>
      replicate(spark, src, dest, n, 1)((df, _) => df))

    replicate(spark, src, dest, "customer", factor)((df, i) =>
      shifted(df, i, Seq("c_custkey")))
    replicate(spark, src, dest, "orders", factor)((df, i) =>
      shifted(df, i, Seq("o_orderkey", "o_custkey")))
    replicate(spark, src, dest, "lineitem", factor)((df, i) =>
      shifted(df, i, Seq("l_orderkey", "l_partkey", "l_suppkey")))
    // part names get the same per-copy cipher as documents (below):
    // fuzzy-join workloads must see factor× more DISTINCT dirty keys,
    // not the same 64 names at factor× multiplicity — which would
    // measure the replica's construction (quadratic match expansion),
    // not the engine
    replicate(spark, src, dest, "part", factor)((df, i) =>
      shifted(df, i, Seq("p_partkey"))
        .withColumn("p_name", translate(col("p_name"), Az, cipherAlphabet(i))))
    replicate(spark, src, dest, "supplier", factor)((df, i) =>
      shifted(df, i, Seq("s_suppkey")))
    // events.ts stays nanos-long (raw read) so graft.Tables rebuilds it
    // identically on the replica
    replicate(spark, src, dest, "events", factor)((df, i) =>
      shifted(df, i, Seq("event_id", "user_id")))

    // documents: per-copy lowercase substitution cipher — shingle/token
    // structure is preserved (lengths, whitespace, punctuation) but
    // cross-copy texts are unrelated, so LSH sees factor× more clusters
    // (rotations for copies < 26, affine maps beyond — cipherAlphabet)
    replicate(spark, src, dest, "documents", factor) { (df, i) =>
      shifted(df, i, Seq("doc_id"))
        .withColumn("text", translate(col("text"), Az, cipherAlphabet(i)))
    }

    // embeddings: per-copy array rotation, composed with a GLOBAL sign
    // flip for copies past the 63 rotation offsets — both transforms
    // preserve norms and within-copy pairwise cosines exactly
    // ((−x)·(−y) = x·y), and a negated rotation is maximally far
    // (cos = −1) from its un-negated twin, so cross-copy vectors stay
    // unrelated for every similarity operator
    replicate(spark, src, dest, "embeddings", factor) { (df, i) =>
      val d = shifted(df, i, Seq("vec_id"))
      if (i == 0) d
      else {
        // copy i ≥ 1 → (offset, negate) = (((i−1) mod 63) + 1, (i−1)/63):
        // identical to the old scheme for i ≤ 63, distinct for i ≤ 126
        val off = lit(((i - 1) % 63) + 1)
        val negate = (i - 1) / 63 >= 1
        val dim = size(col("embedding"))
        val rotated = concat(
          slice(col("embedding"), off + 1, dim),
          slice(col("embedding"), lit(1), off))
        d.withColumn("embedding",
          if (negate) transform(rotated, x => -x) else rotated)
      }
    }

    println(s"replica written: $dest (${factor}x $src)")
    spark.stop()
  }
}
