package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.functions.expressions.GraftFunctions

class TextPipelineSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("word_ngrams emits all n-token windows, split-compatible") {
    val df = Seq(
      ("a b c d", 1L),
      ("a b", 2L),          // fewer tokens than n → empty
      ("x  y", 3L),         // double space → empty middle token, like split
      ("solo", 4L))
      .toDF("text", "id")
    val got = df
      .select(col("id"), GraftFunctions.word_ngrams(col("text"), 3).as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got(1L) == Seq("a b c", "b c d"))
    assert(got(2L) == Seq.empty)
    assert(got(3L) == Seq("x  y")) // tokens: ["x", "", "y"]
    assert(got(4L) == Seq.empty)
    // parity with the composed split() formulation
    val viaSplit = df.select(col("id"), split(col("text"), " ").as("ts"))
      .select(col("id"), expr(
        // sequence(1, 0) steps BACKWARDS in Spark, so guard short docs
        "case when size(ts) >= 3 then transform(sequence(1, size(ts) - 2), " +
          "i -> concat_ws(' ', slice(ts, i, 3))) else array() end").as("g"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got == viaSplit)
  }

  test("contamination counts distinct shared n-grams, keeps clean docs") {
    val eval = Seq((100L, "the quick brown fox jumps")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "we saw the quick brown fox jumps high"), // 2 shared 5-grams... distinct windows
      (2L, "completely different words entirely here now"),
      (3L, "tiny"))
      .toDF("doc_id", "text")
    val got = TextPipeline.contamination(
      corpus, eval, col("doc_id"), col("text"), 5)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // doc 1 contains the eval doc's single 5-gram "the quick brown fox jumps"
    assert(got(1L) == (1L, true))
    assert(got(2L) == (0L, false))
    assert(got(3L) == (0L, false)) // < 5 tokens, still present with 0
  }

  test("contaminationBloom on an empty eval set equals contamination") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over lazy dogs"),
      (2L, "tiny")).toDF("doc_id", "text")
    val eval = spark.range(0).selectExpr("id as doc_id", "cast(id as string) text")
    val exact = TextPipeline.contamination(
      corpus, eval, col("doc_id"), col("text"), 5)
    val bloomed = TextPipeline.contaminationBloom(
      corpus, eval, col("doc_id"), col("text"), 5,
      expectedGrams = 1024, fpp = 0.01)
    assert(bloomed.orderBy("doc_id").collect().toSeq ==
      exact.orderBy("doc_id").collect().toSeq)
    assert(exact.where(col("contaminated")).isEmpty)
  }

  test("contaminationBloom is bit-identical to the exact path and culls") {
    // corpus big enough that bloom false positives are plausible and
    // the cull is measurable: 200 docs of distinct filler + 3 planted
    // overlaps against a 2-doc eval set
    val eval = Seq(
      (97L * 1, "the quick brown fox jumps over lazy dogs"),
      (97L * 2, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val filler = (1L to 200L).filter(_ % 97 != 0).map(i =>
      (i, s"filler doc $i with unique words w${i}a w${i}b w${i}c w${i}d w${i}e"))
    val planted = Seq(
      (301L, "he saw the quick brown fox jumps over lazy walls"),
      (302L, "please pack my box with five dozen liquor jugs now"),
      (303L, "the quick brown fox jumps right past pack my box with five dozen"))
    val corpus = (filler ++ planted).toDF("doc_id", "text")

    val exact = TextPipeline.contamination(
      corpus, eval, col("doc_id"), col("text"), 5)
    val bloomed = TextPipeline.contaminationBloom(
      corpus, eval, col("doc_id"), col("text"), 5,
      expectedGrams = 1024, fpp = 0.01)
    // bit-identical: no false negatives from the bloom, no false
    // positives past the verify join
    assert(exact.exceptAll(bloomed).isEmpty && bloomed.exceptAll(exact).isEmpty)
    val byId = bloomed.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(byId(301L)._2 && byId(302L)._2 && byId(303L)._2)
    assert(byId(1L) == (0L, false))

    // the map-side cull is real: far fewer corpus grams survive the
    // bloom than exist (filler grams are unique, so ~all of them miss)
    val evalGrams = eval
      .select(explode(GraftFunctions.word_ngrams(col("text"), 5)).as("gram"))
      .distinct()
    val bytes = TextPipeline.gramBloom(evalGrams, 1024, 0.01)
    val corpusGrams = corpus.select(
      explode(GraftFunctions.word_ngrams(col("text"), 5)).as("gram"))
    val total = corpusGrams.count()
    val survived = corpusGrams
      .where(GraftFunctions.bloom_might_contain(col("gram"), bytes)).count()
    assert(survived < total / 10,
      s"bloom should cull most grams: $survived of $total survived")

    // membership semantics of the expression itself: every eval gram
    // probes true (no false negatives, guaranteed)
    val members = evalGrams
      .where(GraftFunctions.bloom_might_contain(col("gram"), bytes)).count()
    assert(members == evalGrams.count())
  }

  test("heavyHitters equals the naive full groupBy, any partitioning") {
    // 3 hot tokens + a long unique tail; n = 60 + 940 = 1000 tokens,
    // k = 50 → threshold 20: "alpha"(30) and "beta"(21) qualify,
    // "gamma"(9) and every tail token do not
    val words =
      Seq.fill(30)("alpha") ++ Seq.fill(21)("beta") ++ Seq.fill(9)("gamma") ++
        (1 to 940).map(i => s"tail$i")
    def run(numParts: Int, shuffled: Boolean): Map[String, Long] = {
      val ws = if (shuffled) new scala.util.Random(7).shuffle(words) else words
      val docs = ws.grouped(10).map(_.mkString(" ")).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }.toSeq
        .toDF("doc_id", "text").repartition(numParts)
      TextPipeline.heavyHitters(docs, col("text"), 50)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val want = Map("alpha" -> 30L, "beta" -> 21L)
    // the MG summaries differ per partitioning; the output must not
    assert(run(1, shuffled = false) == want)
    assert(run(7, shuffled = false) == want)
    assert(run(7, shuffled = true) == want)
    assert(run(32, shuffled = true) == want)
  }

  test("heavyHitters never shuffles the raw token stream") {
    val docs = (1L to 50L)
      .map(i => (i, s"common common rare$i words here"))
      .toDF("doc_id", "text")
    val plan = TextPipeline.heavyHitters(docs, col("text"), 10)
      .queryExecution.executedPlan.toString
    // the verify join against candidates must be broadcast, and the
    // only aggregation shuffle sits above a partial aggregate
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate join should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no token-keyed shuffle join allowed:\n$plan")
  }

  test("piiScrub redacts emails and phones and counts matches") {
    val df = Seq(
      (1L, "mail me at a.b@test.org or b@x.io today"),
      (2L, "call 555-1234 and 555-9876"),
      (3L, "nothing here"))
      .toDF("doc_id", "text")
    val got = TextPipeline.piiScrub(df, col("text"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("scrubbed"))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    assert(got(1L) == (2L, 0L, "mail me at <EMAIL> or <EMAIL> today"))
    assert(got(2L) == (0L, 2L, "call <PHONE> and <PHONE>"))
    assert(got(3L) == (0L, 0L, "nothing here"))
  }

  test("repetitionMetrics matches hand-computed bigram fractions") {
    val df = Seq(
      (1L, "a a a a"),      // bigrams: "a a" x3 → top 1.0, dup 2/3
      (2L, "a b c d"),      // 3 distinct bigrams → top 1/3, dup 0
      (3L, "x"))            // no bigrams → NULL fractions
      .toDF("doc_id", "text")
    val rows = TextPipeline.repetitionMetrics(df, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getLong(1) == 3L && rows(1L).getLong(2) == 1L)
    assert(rows(1L).getDouble(3) == 1.0)
    assert(math.abs(rows(1L).getDouble(4) - 2.0 / 3.0) < 1e-15)
    assert(rows(2L).getDouble(3) == 1.0 / 3.0)
    assert(rows(2L).getDouble(4) == 0.0)
    assert(rows(3L).getLong(1) == 0L && rows(3L).isNullAt(3) && rows(3L).isNullAt(4))
  }

  test("bm25 ranks higher tf above lower at equal length, penalizes length") {
    val df = Seq(
      (1L, "spark spark spark pad"),
      (2L, "spark pad pad pad"),
      (3L, "spark pad pad pad pad pad pad pad pad pad pad pad pad pad pad pad"),
      (4L, "no match here at all"))
      .toDF("doc_id", "text")
    val got = TextPipeline.bm25(df, col("doc_id"), col("text"), Seq("spark"), 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val score = got.toMap
    assert(!score.contains(4L), "non-matching doc must not appear")
    assert(score(1L) > score(2L), "higher tf wins at equal length")
    assert(score(2L) > score(3L), "longer doc with same tf is penalized")
    assert(got.map(_._1).toSeq == got.sortBy { case (id, s) => (-s, id) }.map(_._1).toSeq)
  }

  test("contamination broadcasts the eval grams, never a cartesian") {
    val eval = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val corpus = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n"))
      .toDF("doc_id", "text")
    val plan = TextPipeline.contamination(
      corpus, eval, col("doc_id"), col("text"), 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "eval n-gram set must join as a broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("bm25 plan broadcasts df and corpus stats, never a cartesian") {
    val df = Seq((1L, "spark pad"), (2L, "join pad")).toDF("doc_id", "text")
    val plan = TextPipeline.bm25(df, col("doc_id"), col("text"),
      Seq("spark", "join"), 10).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"))
  }

  test("qualityDecileBuckets partitions the corpus into ordered buckets") {
    // 400 docs with smoothly varying quality (token count drives the
    // length term); sampleMod=2 keeps the cutoff sample dense
    val docs = (1L to 400L)
      .map(i => (i, Seq.fill(1 + (i % 100).toInt)("the word").mkString(" ")))
      .toDF("doc_id", "text")
    val rows = TextPipeline.qualityDecileBuckets(
      docs, col("doc_id"), col("text"), sampleMod = 2)
      .orderBy("bucket").collect()
    assert(rows.map(_.getLong(1)).sum == 400L, "every doc lands in a bucket")
    assert(rows.length >= 5, "quality spread must fill most deciles")
    // bucket ranges are ordered and non-overlapping
    val ordered = rows.map(r =>
      (r.getLong(0), r.getDouble(2), r.getDouble(3)))
    ordered.sliding(2).foreach {
      case Array((_, _, maxLo), (_, minHi, _)) => assert(maxLo <= minHi)
      case _ => ()
    }
  }

  test("domainMixWeights: weights sum to 1 and flatten the mixture") {
    val df = (Seq.fill(90)("en") ++ Seq.fill(9)("de") ++ Seq("yo"))
      .zipWithIndex.map { case (l, i) => (i.toLong, l) }
      .toDF("doc_id", "lang")
    val rows = TextPipeline.domainMixWeights(df, Seq(col("lang")))
      .collect().map(r => r.getString(0) -> (r.getLong(1),
        r.getAs[Double]("share"), r.getAs[Double]("weight"))).toMap
    val wsum = rows.values.map(_._3).sum
    assert(math.abs(wsum - 1.0) < 1e-9)
    // α=0.5 flattening: rare languages get weight > share, dominant < share
    assert(rows("yo")._3 > rows("yo")._2)
    assert(rows("de")._3 > rows("de")._2)
    assert(rows("en")._3 < rows("en")._2)
    // order between languages preserved
    assert(rows("en")._3 > rows("de")._3 && rows("de")._3 > rows("yo")._3)
  }

  test("hashSplit: deterministic, stable under corpus growth, ratio sane") {
    val docs = (1L to 1000L).map(i => Tuple1(i)).toDF("doc_id")
    val got = TextPipeline.hashSplit(docs, col("doc_id"), 14)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // matches a driver-side md5 nibble computation exactly
    got.foreach { case (i, s) =>
      val nibble = java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8")).head
      val want = if (((nibble >> 4) & 0xF) < 14) "train" else "val"
      assert(s == want, s"doc $i")
    }
    // growth stability: the first 100 docs keep their split in a bigger corpus
    val bigger = TextPipeline.hashSplit(
      (1L to 5000L).map(i => Tuple1(i)).toDF("doc_id"), col("doc_id"), 14)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    (1L to 100L).foreach(i => assert(bigger(i) == got(i)))
    // 14/16 = 87.5% expected; binomial 3σ ≈ 3% at n=1000
    val frac = got.values.count(_ == "train").toDouble / got.size
    assert(math.abs(frac - 0.875) < 0.05, s"train frac $frac")
  }

  test("sampleToQuota keeps exactly quota rows per cell, deterministically") {
    val docs = (1L to 20L).map(i => (i, if (i <= 12) "en" else "zh"))
      .toDF("doc_id", "lang")
    val quotas = Seq(("en", 3L), ("zh", 99L)).toDF("lang", "quota")
    val got = TextPipeline.sampleToQuota(
      docs, col("doc_id"), Seq(col("lang")), quotas)
      .select("doc_id", "lang").as[(Long, String)].collect().sorted
    // en downsampled to 3; zh quota exceeds cell size → all 8 kept
    assert(got.count(_._2 == "en") == 3)
    assert(got.count(_._2 == "zh") == 8)
    // deterministic: the kept en ids are the 3 smallest by md5(id) rank
    val wantEn = (1L to 12L).sortBy(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString).take(3).toSet
    assert(got.filter(_._2 == "en").map(_._1).toSet == wantEn)
    // run-to-run stability
    val again = TextPipeline.sampleToQuota(
      docs, col("doc_id"), Seq(col("lang")), quotas)
      .select("doc_id", "lang").as[(Long, String)].collect().sorted
    assert(again.toSeq == got.toSeq)
  }

  test("tokenScrub drops stopwords and short tokens, keeps order") {
    val docs = Seq(
      (1L, "The cat and the big dog"),
      (2L, "a of an it"), // everything scrubbed
      (3L, "keep--all,, these! words")).toDF("doc_id", "text")
    val got = TextPipeline.tokenScrub(
      docs, col("doc_id"), col("text"), Seq("the", "and"), minLen = 3)
      .as[(Long, String, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, "cat big dog", 3L, 3L),
      (2L, "", 0L, 4L),
      (3L, "keep all these words", 4L, 0L)))
  }

  test("booleanSearch: AND semantics, tf summed, term filter before shuffle") {
    val docs = Seq(
      (1L, "spark joins Spark and streams"), // spark×2, joins, streams(≠stream)
      (2L, "spark stream"),                  // both terms
      (3L, "stream stream stream"),          // missing spark
      (4L, "spark stream spark stream"),     // both, tf 2+2
      (5L, "nothing relevant")).toDF("doc_id", "text")
    val got = TextPipeline.booleanSearch(
      docs, col("doc_id"), col("text"), Seq("spark", "stream"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((2L, 2L, 2L), (4L, 2L, 4L)))
    // single-term degenerates to a contains-scan with tf
    val one = TextPipeline.booleanSearch(
      docs, col("doc_id"), col("text"), Seq("spark"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(one == Seq((1L, 1L, 2L), (2L, 1L, 1L), (4L, 1L, 2L)))
  }

  test("shuffleShards: total coverage, dense positions, deterministic, shard=md5 prefix") {
    val docs = (0L until 500L).toDF("doc_id")
    val got = TextPipeline.shuffleShards(docs, col("doc_id"), hexDigits = 1)
      .as[(Long, String, Long)].collect()
    // every doc exactly once
    assert(got.length == 500 && got.map(_._1).distinct.length == 500)
    // positions dense 1..n within each shard
    got.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // shard is the md5 prefix of the id (engine-portable contract)
    val md = java.security.MessageDigest.getInstance("MD5")
    got.foreach { case (id, shard, _) =>
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(shard == hex.substring(0, 1))
    }
    // a second run reproduces the exact assignment (seed-free determinism)
    val again = TextPipeline.shuffleShards(docs, col("doc_id"), hexDigits = 1)
      .as[(Long, String, Long)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
    // shuffle actually decorrelates ingest order: within a shard,
    // consecutive positions are not consecutive ids
    val oneShard = got.filter(_._2 == got.head._2).sortBy(_._3).map(_._1)
    assert(oneShard.sliding(2).count(p => p(1) == p(0) + 1) < oneShard.length / 4)
  }

  test("chunkWithOverlap covers every character with the stated overlap") {
    val text = ('a' to 'z').mkString * 10 // 260 chars
    val df = Seq((1L, text), (2L, "short"), (3L, "")).toDF("doc_id", "text")
    val got = TextPipeline.chunkWithOverlap(
      df, col("doc_id"), col("text"), size = 100, stride = 60)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(5)))
    val d1 = got.filter(_._1 == 1L).sortBy(_._2)
    // 260 chars, stride 60 → last_idx = 259 div 60 = 4 → 5 chunks
    assert(d1.length == 5)
    assert(d1.map(_._3).toSeq == Seq(1L, 61L, 121L, 181L, 241L))
    // full chunks are `size` long; the tail runs short of the doc end
    assert(d1.map(_._4).toSeq == Seq(100L, 100L, 100L, 80L, 20L))
    // chunk content is the exact substring — overlap = size − stride
    d1.foreach { case (_, _, start, len, chunk) =>
      assert(chunk == text.substring(start.toInt - 1, start.toInt - 1 + len.toInt))
    }
    // reassembly: dropping each chunk's overlap prefix reconstructs the doc
    val rebuilt = d1.head._5 + d1.tail.map(_._5.drop(100 - 60)).mkString
    assert(rebuilt == text)
    // short doc → one chunk; empty doc still yields one (empty) chunk
    assert(got.count(_._1 == 2L) == 1 && got.find(_._1 == 2L).get._5 == "short")
    val d3 = got.filter(_._1 == 3L)
    assert(d3.length == 1 && d3.head._4 == 0L && d3.head._5 == "")
  }

  test("bpePairCounts counts adjacent in-word symbol pairs, never across words") {
    val docs = Seq("aab ab", "ba b", "aab").toDF("text")
    val rows = TextPipeline.bpePairCounts(docs, col("text"), topK = 10)
      .collect()
    val got = rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // words: aab, ab, ba, b, aab → pairs: (a,a)x2, (a,b)x3, (b,a)x1;
    // the word boundary between "aab" and "ab" contributes no (b,a);
    // single-char words contribute nothing
    assert(got == Map(("a", "a") -> 2L, ("a", "b") -> 3L, ("b", "a") -> 1L))
    // output order is count desc
    val ordered = rows.map(_.getLong(2)).toSeq
    assert(ordered == ordered.sorted.reverse)
  }

  test("skipgramLift window pairs against hand-computed truth; w=1 == bigram") {
    val df = Seq("a b c d", "a c").toDF("text")
    // window=2 pairs: doc1 d=1: (a,b)(b,c)(c,d); d=2: (a,c)(b,d);
    // doc2 d=1: (a,c) → (a,c) x2, n_bi = (3+2) + 1 = 6, n_uni = 6
    val got = TextPipeline.skipgramLift(df, col("text"), window = 2,
      minCount = 2L, topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(got.keySet == Set(("a", "c")))
    val (nAb, nA, nB, lift) = got(("a", "c"))
    assert((nAb, nA, nB) == (2L, 2L, 2L))
    // lift = (2/6) * (6/2) * (6/2) = 3.0
    assert(math.abs(lift - 3.0) < 1e-9)
    // window=1 must equal bigramLift exactly
    val corpus = Seq("new york is big", "i love new york", "new york wins",
      "big is big is big").toDF("text")
    val viaSkip = TextPipeline.skipgramLift(corpus, col("text"), window = 1,
      minCount = 2L, topK = 10).collect().map(_.toSeq).toSeq
    val viaBigram = TextPipeline.bigramLift(corpus, col("text"),
      minCount = 2L, topK = 10).collect().map(_.toSeq).toSeq
    assert(viaSkip == viaBigram)
  }

  test("sourceOverlapMatrix counts distinct shared n-grams per source pair") {
    val docs = Seq(
      ("A", "the quick brown fox jumps over"), // grams: "the..jumps", "quick..over"
      ("B", "the quick brown fox jumps high"), // shares "the quick brown fox jumps"
      ("C", "the quick brown fox jumps over"), // shares both A-grams, one B-gram
      ("A", "the quick brown fox jumps high"), // dup of a B gram inside A
      ("B", "totally different words here now exist"),
      ("C", null.asInstanceOf[String]))
      .toDF("source", "text")
    val got = TextPipeline.sourceOverlapMatrix(
      docs, col("text"), col("source"), n = 5)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // distinct grams: A = {t..j, q..o, q..h}, B = {t..j, q..h, tot..}, C = {t..j, q..o}
    // A∩B = {t..j, q..h} = 2; A∩C = {t..j, q..o} = 2; B∩C = {t..j} = 1
    assert(got == Map(("A", "B") -> 2L, ("A", "C") -> 2L, ("B", "C") -> 1L))
  }

  test("weightedSystematicSample matches the serial grid reference, any shards") {
    val docs = (1L to 300L).map(i => (i, (i * 13 % 40 + 1))).toSeq
    val quota = 40L
    // serial reference: md5-order, global cumsum, grid crossings
    val ordered = docs.sortBy { case (i, _) => (md5hex(i.toString), i) }
    val total = docs.map(_._2).sum
    var cum = 0L
    val expected = ordered.flatMap { case (i, w) =>
      val prev = cum; cum += w
      if (cum * quota / total > prev * quota / total) Some(i -> w) else None
    }.sortBy(_._1)
    val df = docs.toDF("doc_id", "wt")
    def run(hex: Int) = TextPipeline.weightedSystematicSample(
      df, col("doc_id"), col("wt"), quota, hexDigits = hex)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val got = run(2)
    assert(got == expected)
    // shard-count independence: the offset decomposition is exact
    assert(run(1) == got && run(3) == got)
    // max weight (40) < total/quota → exactly quota picks
    assert(got.length == quota)
    // a heavyweight doc spanning several grid points is always picked, once
    val heavy = docs.toSeq :+ (9999L, total / 10)
    val hGot = TextPipeline.weightedSystematicSample(
      heavy.toDF("doc_id", "wt"), col("doc_id"), col("wt"), quota)
      .collect().map(_.getLong(0))
    assert(hGot.count(_ == 9999L) == 1)
  }

  test("bigramLift counts pairs and scores lift against hand-computed truth") {
    // corpus: "new york" appears 3× and always adjacently; filler tokens
    // appear often but never as a repeated pair
    val df = Seq(
      "new york is big",
      "i love new york",
      "new york wins",
      "big is big is big").toDF("text")
    val got = TextPipeline.bigramLift(df, col("text"), minCount = 2L, topK = 10)
      .collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // totals: 16 unigram tokens, 12 bigrams
    val (nAb, nA, nB, lift) = got(("new", "york"))
    assert((nAb, nA, nB) == (3L, 3L, 3L))
    // lift = (3/12) * (16/3) * (16/3) = 7.111111…
    assert(math.abs(lift - 7.111111) < 1e-6)
    val (bAb, bA, _, bLift) = got(("is", "big"))
    assert(bAb == 3L && bA == 3L)
    assert(bLift < lift) // "big" is common solo → weaker association
    // pairs below minCount are cut
    assert(!got.contains(("york", "is")))
  }

  // ── serial BPE reference: plain-Scala fold over a word-count map,
  //    same greedy-left-to-right merge and same (n desc, a, b) tie-break
  private def serialMerge(s: Vector[String], a: String, b: String): Vector[String] =
    s.foldLeft(Vector.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
      else acc :+ x
    }

  private def serialBpe(
      wordFreq: Map[String, Long], numMerges: Int, minPair: Long
  ): Seq[(Long, String, String, Long)] = {
    var words = wordFreq.collect {
      case (w, f) if w.length >= 2 => w.map(_.toString).toVector -> f
    }.toMap
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var stop = false
    for (r <- 1 to numMerges if !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, f) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += f
      val best = counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.headOption
      best match {
        case Some(((a, b), n)) if n >= minPair =>
          out += ((r.toLong, a, b, n))
          words = words.map { case (syms, f) => serialMerge(syms, a, b) -> f }
        case _ => stop = true
      }
    }
    out.toSeq
  }

  test("bpeTrain equals the serial reference merge-for-merge") {
    // the classic BPE demo corpus: "est"/"low" families with skewed freqs
    val docs = Seq(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest").toDF("text")
    val wordFreq = Map(
      "low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val want = serialBpe(wordFreq, numMerges = 8, minPair = 2L)
    val got = TextPipeline.bpeTrain(docs, col("text"), numMerges = 8,
        minPairCount = 2L)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got == want)
    assert(got.head._4 == 9L) // (e,s): newest 6 + widest 3 — the BPE classic
  }

  test("bpeTrain stops early when no pair reaches minPairCount") {
    val docs = Seq("ab cd ef").toDF("text") // every pair has count 1
    val got = TextPipeline.bpeTrain(docs, col("text"), numMerges = 5,
      minPairCount = 2L)
    assert(got.isEmpty)
  }

  test("bpeApply segments with trained merges in one map-side chain") {
    val docs = Seq(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest").toDF("text")
    val model = TextPipeline.bpeTrain(docs, col("text"), numMerges = 8,
        minPairCount = 2L)
      .as[(Long, String, String, Long)].collect().toSeq
      .sortBy(_._1).map(m => (m._2, m._3))
    val words = Seq("newest", "lowest", "low").toDF("w")
    val got = words
      .select(col("w"), TextPipeline.bpeApply(col("w"), model).as("syms"))
      .as[(String, Seq[String])].collect().toMap
    // serial replay of the same merge list
    def applySerial(w: String) = model.foldLeft(w.map(_.toString).toVector) {
      case (acc, (a, b)) => serialMerge(acc, a, b)
    }
    Seq("newest", "lowest", "low").foreach { w =>
      assert(got(w) == applySerial(w), s"word $w")
    }
    // trained on this corpus, "newest" must collapse to few units and
    // every segmentation must concatenate back to the word
    assert(got("newest").size <= 3)
    got.foreach { case (w, syms) => assert(syms.mkString == w) }
  }

  test("ngramNovelty: first doc fully novel, copies score zero, short docs null") {
    val docs = Seq(
      (1L, "a b c d e f"),        // grams: "a b c", "b c d", ... all first here
      (2L, "a b c d e f"),        // exact copy → every gram owned by doc 1
      (3L, "x y z a b c"),        // one shared gram ("a b c"), three... wait n=3
      (4L, "p q")                 // too short for a 3-gram → null novelty
    ).toDF("doc_id", "text")
    val got = TextPipeline.ngramNovelty(docs, col("doc_id"), col("text"), n = 3)
      .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
    assert(got(0) == ((1L, 4L, 4L, Some(1.0))))
    assert(got(1) == ((2L, 4L, 0L, Some(0.0))))
    // doc 3 grams: "x y z","y z a","z a b","a b c" — only "a b c" is owned
    // by doc 1, the other three are first seen here
    assert(got(2) == ((3L, 4L, 3L, Some(0.75))))
    assert(got(3) == ((4L, 0L, 0L, None)))
  }

  test("ngramNovelty fuzz: matches a serial min-id ownership reference") {
    val rnd = new scala.util.Random(727L)
    val vocab = Array("a", "b", "c", "d")
    (1 to 3).foreach { trial =>
      val docs = (1L to 25L).map { i =>
        (i, Seq.fill(2 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val gramsOf = docs.map { case (id, text) =>
        val ts = text.split(" ")
        id -> ts.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.toMap
      val owner = gramsOf.toSeq.flatMap { case (id, gs) => gs.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      val want = docs.map { case (id, _) =>
        val gs = gramsOf(id)
        val novel = gs.count(g => owner(g) == id)
        (id, gs.size.toLong, novel.toLong,
          if (gs.isEmpty) None else Some(novel.toDouble / gs.size))
      }
      val got = TextPipeline.ngramNovelty(
        docs.toDF("doc_id", "text"), col("doc_id"), col("text"), n = 3)
        .as[(Long, Long, Long, Option[Double])].collect().sortBy(_._1).toSeq
      assert(got == want, s"trial $trial")
    }
  }

  test("leakageFreeSplit: every cluster member lands in ONE split, singletons match hashSplit") {
    // two 3-doc near-dup chains + isolated docs; pairs link the chains
    val docs = (1L to 10L).map(i => (i, s"doc body $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L), (8L, 9L)).toDF("id_a", "id_b")
    val got = TextPipeline.leakageFreeSplit(
      docs, col("doc_id"), pairs, col("id_a"), col("id_b"))
      .as[(Long, Long, String)].collect().toSeq.sortBy(_._1)
    // cluster membership: {1,2,3} -> 1, {7,8,9} -> 7, rest singleton
    val byCluster = got.groupBy(_._2)
    assert(byCluster(1L).map(_._1).toSet == Set(1L, 2L, 3L))
    assert(byCluster(7L).map(_._1).toSet == Set(7L, 8L, 9L))
    byCluster.values.foreach { members =>
      assert(members.map(_._3).distinct.length == 1,
        s"cluster ${members.head._2} straddles the split")
    }
    // singletons: identical decision to the plain doc-hash split
    val plain = TextPipeline.hashSplit(docs, col("doc_id"), 14)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    got.filter(r => !Set(1L, 2L, 3L, 7L, 8L, 9L).contains(r._1))
      .foreach(r => assert(r._3 == plain(r._1)))
  }

  test("tokenEntropy: uniform beats skewed; single-token cell pins zeros") {
    val docs = Seq(
      ("en", "w", "aa bb cc dd"),
      ("en", "x", "aa aa aa bb"),
      ("fr", "y", "zz zz zz")).toDF("lang", "source", "text")
    val got = TextPipeline
      .tokenEntropy(docs, Seq(col("lang"), col("source")), col("text"))
      .as[(String, String, Long, Long, Double, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    def d6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    // engine-mirroring reference: per-term decimal quantization, decimal sum
    val hUniform = (d6(-0.25 * math.log(0.25)) * 4).toDouble
    val hSkew = (d6(-0.75 * math.log(0.75)) + d6(-0.25 * math.log(0.25))).toDouble
    assert(hUniform > hSkew, "fixture sanity")
    val nUniform = BigDecimal(hUniform / d6(math.log(4.0)).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val nSkew = BigDecimal(hSkew / d6(math.log(2.0)).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(("en", "w")) == ((4L, 4L, hUniform, nUniform)))
    assert(got(("en", "x")) == ((4L, 2L, hSkew, nSkew)))
    assert(got(("fr", "y")) == ((3L, 1L, 0.0, 0.0)))
  }

  test("collapseTokenRuns: runs collapse, non-adjacent repeats survive") {
    val docs = Seq(
      (1L, "click here click here"), // non-adjacent: untouched
      (2L, "the the the end"),
      (3L, "a a b b b a"),
      (4L, "solo"),
      (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = TextPipeline
      .collapseTokenRuns(docs, col("doc_id"), col("text"))
      .as[(Long, Option[String], Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((Some("click here click here"), 4L, 0L)))
    assert(got(2L) == ((Some("the end"), 4L, 2L)))
    assert(got(3L) == ((Some("a b a"), 6L, 3L)))
    assert(got(4L) == ((Some("solo"), 1L, 0L)))
    assert(got(5L) == ((None, 0L, 0L)), "null text passes through")
  }

  test("dsirWeights: target-like docs score positive, off-target negative") {
    val corpus = Seq(
      (1L, "foo foo foo baz"), // mostly target-distribution tokens
      (2L, "bar bar bar bar"), // corpus-only tokens
      (3L, "foo bar")).toDF("doc_id", "text")
    val target = Seq(Tuple1("foo baz foo foo")).toDF("text")
    // alpha small vs the toy token counts — the default 1.0 assumes
    // corpus-scale buckets where counts >> alpha
    val got = TextPipeline.dsirWeights(
      corpus, target, col("doc_id"), col("text"), alpha = 0.01)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L)._1 == 4 && got(2L)._1 == 4 && got(3L)._1 == 2)
    assert(got(1L)._2 > 0, s"target-like doc must score positive: ${got(1L)}")
    assert(got(2L)._2 < 0, s"off-target doc must score negative: ${got(2L)}")
    assert(got(1L)._2 > got(3L)._2 && got(3L)._2 > got(2L)._2,
      "scores order by target-token share")
  }

  test("dsirWeights: target == corpus scores every doc ~0 (ratio of equals)") {
    val corpus = Seq((1L, "alpha beta"), (2L, "gamma delta epsilon"))
      .toDF("doc_id", "text")
    val got = TextPipeline.dsirWeights(
      corpus, corpus, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect()
    assert(got.forall(_._3 == 0.0),
      s"identical distributions -> ln(1) = 0 per bucket: ${got.toSeq}")
  }

  test("lmScore: hand-computed add-one bigram likelihoods; short docs absent") {
    // corpus "a b a" / "b a" / "c": model c("a b")=1 c("b a")=2,
    // contexts c(a)=1 c(b)=2, V={a,b}=2 (tokens in bigrams; the
    // gram-less single-token doc3 contributes nothing)
    // P(b|a) = 2/3, P(a|b) = 3/4
    val docs = Seq((1L, "a b a"), (2L, "b a"), (3L, "c"))
      .toDF("doc_id", "text")
    val got = TextPipeline.lmScore(docs, col("doc_id"), col("text"))
      .as[(Long, Long, Double)].collect()
    assert(got.map(_._1).toSeq == Seq(1L, 2L), "doc3 has no bigrams")
    val t23 = BigDecimal(math.log(2.0 / 3.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val t34 = BigDecimal(math.log(3.0 / 4.0))
      .setScale(9, BigDecimal.RoundingMode.HALF_UP)
    assert(got(0) == ((1L, 2L, (t23 + t34).toDouble / 2.0)))
    assert(got(1) == ((2L, 1L, t34.toDouble / 1.0)))
  }

  test("readabilityScore: hand-computed Flesch, bands, empty/null handling") {
    // "The cat sat. The dog ran!" -> 6 words, 2 sentence runs, 6 vowel
    // groups: flesch = 206.835 - 1.015*(6/2) - 84.6*(6/6) = 119.19
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"),
      (2L, ""),
      (3L, null.asInstanceOf[String]),
      (4L, Array.fill(150)("word").mkString(" "))) // 150 words, 1 "sentence"
      .toDF("doc_id", "text")
    val got = TextPipeline.readabilityScore(docs, col("doc_id"), col("text"))
      .orderBy("doc_id")
      .as[(Long, Long, Long, Long, Option[Double], String)].collect()
    val r1 = got(0)
    assert(r1._2 == 6 && r1._3 == 2 && r1._4 == 6)
    assert(r1._5.contains(119.19) && r1._6 == "easy", s"got $r1")
    // empty and null text: 0 words, null score, band "empty", emitted
    assert(got(1)._2 == 0 && got(1)._5.isEmpty && got(1)._6 == "empty")
    assert(got(2)._2 == 0 && got(2)._5.isEmpty && got(2)._6 == "empty")
    // 150 unpunctuated words: 206.835 - 1.015*150 - 84.6*(150/150) < 0
    assert(got(3)._3 == 1, "no punctuation -> one long sentence")
    assert(got(3)._5.exists(_ < 0) && got(3)._6 == "very_hard")
  }

  test("evalCoverage: full / half / no-gram eval docs against a small corpus") {
    val corpus = Seq(
      (10L, "a b c d e tail words here"),
      (11L, "x1 x2 x3 x4 x5"),
      (12L, "unrelated content entirely different tokens")
    ).toDF("doc_id", "text")
    val eval = Seq(
      (1L, "x1 x2 x3 x4 x5"),   // its single 5-gram is in corpus doc 11
      (2L, "a b c d e f"),       // "a b c d e" covered, "b c d e f" not
      (3L, "too short")          // no 5-gram at all
    ).toDF("doc_id", "text")
    val got = TextPipeline.evalCoverage(corpus, eval, col("doc_id"),
      col("text"), 5).orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect()
    assert(got(0) == ((1L, 1L, 1L, Some(1.0))))
    assert(got(1) == ((2L, 2L, 1L, Some(0.5))))
    assert(got(2) == ((3L, 0L, 0L, None)),
      "gram-less eval docs keep their row with NULL coverage")
    // determinism
    val again = TextPipeline.evalCoverage(corpus, eval, col("doc_id"),
      col("text"), 5).orderBy("doc_id").collect().toSeq
    assert(got.length == again.length)
  }

  test("temporalSplit: day-quantile cutoff, cutoff day is train, null ts undated") {
    val day = 86400000L
    val base = 1699999200000L
    val rows = (0 until 10).map(di =>
      (di.toLong, new java.sql.Timestamp(base + di * day))) :+
      ((99L, null.asInstanceOf[java.sql.Timestamp]))
    val got = TextPipeline.temporalSplit(rows.toDF("id", "ts"), col("ts"),
      trainFrac = 0.8)
      .select("id", "split").as[(Long, String)].collect().toMap
    // 10 dated rows, one per day: ceil(8) reached on the 8th day (di 7)
    assert((0L to 7L).forall(got(_) == "train"), s"got $got")
    assert(got(8L) == "test" && got(9L) == "test")
    assert(got(99L) == "undated", "null ts must be loud, not train/test")
    // mass concentrated on one day: the day completing the mass is train
    val heavy = (1 to 5).map(i => (i.toLong, new java.sql.Timestamp(base))) ++
      (6 to 10).map(i => (i.toLong, new java.sql.Timestamp(base + day)))
    val h = TextPipeline.temporalSplit(heavy.toDF("id", "ts"), col("ts"),
      trainFrac = 0.5)
      .select("id", "split").as[(Long, String)].collect().toMap
    assert((1 to 5).forall(i => h(i.toLong) == "train"))
    assert((6 to 10).forall(i => h(i.toLong) == "test"))
  }

  test("tokenizerCoverage: OOV against the built vocab, token-less docs NULL rate") {
    val docs = Seq(
      (1L, "aa bb aa"), (2L, "aa cc"), (3L, ""),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    // minCount=2 keeps only "aa" (freq 3); bb/cc are OOV
    val got = TextPipeline.tokenizerCoverage(docs, col("doc_id"),
      col("text"), minCount = 2L, maxSize = 10)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Option[Double])].collect()
    assert(got(0) == ((1L, 3L, 1L, Some(BigDecimal(1.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))))
    assert(got(1) == ((2L, 2L, 1L, Some(0.5))))
    assert(got(2) == ((3L, 0L, 0L, None)), "empty text: 0 tokens, NULL rate")
    assert(got(3) == ((4L, 0L, 0L, None)), "null text kept via the spine")
  }

  test("urlDedupGroups: case/port/utm/fragment/slash variants collapse") {
    val docs = Seq(
      (1L, "https://Example.COM:443/a/?utm_source=x#f"),
      (2L, "HTTPS://example.com/a"),
      (3L, "http://h.com:80/p?utm_a=1&id=2"),
      (4L, "https://example.com/b"))
      .toDF("doc_id", "url")
    val got = TextPipeline.urlDedupGroups(docs, col("doc_id"), col("url"))
      .as[(String, Long, Long)].collect()
    assert(got.toSet == Set(
      ("https://example.com/a", 2L, 1L),
      ("http://h.com/p?id=2", 1L, 3L),
      ("https://example.com/b", 1L, 4L)), s"got ${got.toSeq}")
  }

  test("greedyCoverageSelect: greedy picks by marginal coverage; ties to lower id") {
    val docs = Seq(
      (1L, "a b c d"),     // 4 tokens — picked first
      (2L, "a b c"),       // fully inside doc 1 → gain 0 after pick 1
      (3L, "e f"),         // 2 new
      (4L, "d e"),         // after picks 1,3: nothing new
      (5L, "g"),           // 1 new
      (6L, "g"))           // duplicate of 5 → gain 0
      .toDF("doc_id", "text")
    val got = TextPipeline.greedyCoverageSelect(
      docs, col("doc_id"), col("text"), select = 6)
      .as[(Long, Long, Long, Long)].collect()
    // greedy: 1 (+4), 3 (+2), 5 (+1) — then coverage saturates: STOP,
    // no arbitrary gain-0 picks
    assert(got.toSeq == Seq(
      (1L, 1L, 4L, 4L), (2L, 3L, 2L, 6L), (3L, 5L, 1L, 7L)),
      s"got ${got.toSeq}")
    // distributed path agrees exactly
    val dist = TextPipeline.greedyCoverageSelect(
      docs, col("doc_id"), col("text"), select = 6, driverPoolLimit = 0L)
      .as[(Long, Long, Long, Long)].collect()
    assert(dist.toSeq == got.toSeq)
    // ties: docs 10 and 11 both add 2 — lower id wins
    val tie = Seq((11L, "x y"), (10L, "p q")).toDF("doc_id", "text")
    val t1 = TextPipeline.greedyCoverageSelect(
      tie, col("doc_id"), col("text"), select = 1)
      .as[(Long, Long, Long, Long)].collect()
    assert(t1.head._2 == 10L)
  }

  test("urlDedupGroups: non-default ports kept; utm_ strip is boundary-anchored") {
    // ADVICE r12: (a) 'http://host:443' is a REAL non-default port — it
    // must not collapse into 'http://host' (and https://host:80 likewise);
    // (b) 'utm_' inside ANOTHER parameter's name ('?xutm_a=1&b=2') must
    // survive — the old unanchored pattern ate the real param after it.
    val docs = Seq(
      (1L, "http://h.com:443/p"),           // non-default port: distinct
      (2L, "http://h.com/p"),
      (3L, "https://h.com:80/p"),           // non-default port: distinct
      (4L, "https://h.com/q?xutm_a=1&b=2"), // xutm_ is NOT a utm_ param
      (5L, "https://h.com/q?utm_a=1&utm_b=2&b=2"), // both utm params drop
      (6L, "https://h.com/r?utm_a=1&utm_b=2")) // all-utm query → bare path
      .toDF("doc_id", "url")
    val got = TextPipeline.urlDedupGroups(docs, col("doc_id"), col("url"))
      .as[(String, Long, Long)].collect()
    assert(got.toSet == Set(
      ("http://h.com:443/p", 1L, 1L),
      ("http://h.com/p", 1L, 2L),
      ("https://h.com:80/p", 1L, 3L),
      ("https://h.com/q?xutm_a=1&b=2", 1L, 4L),
      ("https://h.com/q?b=2", 1L, 5L),
      ("https://h.com/r", 1L, 6L)), s"got ${got.toSeq}")
  }

  test("qualityRuleScreen: per-rule attribution — each bad doc fails exactly its rule") {
    val docs = Seq(
      (1L, Some("the quick brown fox jumps over a lazy dog of doom")), // clean
      (2L, Some("too short of a")), // 4 words → r_len only
      (3L, Some("the ####### $$$$$ of %%%%% @@@@@ !!!!! stuff here ok")), // symbols
      (4L, Some("the 12345 67890 11111 22222 33333 44444 55555 66666 of")), // alpha
      (5L, Some("zzz yyy xxx www vvv uuu ttt sss")), // no stopwords
      (6L, Some("the antidisestablishmentarian incomprehensibilities of " +
        "extraordinarily hyperconscientiousness manifestations " +
        "internationalization")), // mean word len > 12
      (7L, None)) // null text: kept, keep=false
      .toDF("doc_id", "text")
    val got = TextPipeline.qualityRuleScreen(docs, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
    def flags(i: Int) = (1 to 5).map(j =>
      got(i).getAs[Boolean](got(i).fieldIndex("r_len") + j - 1))
    assert(got(0).getAs[Boolean]("keep"), s"clean doc must pass: ${got(0)}")
    assert(flags(1) == Seq(false, true, true, true, true), s"got ${got(1)}")
    assert(!got(2).getAs[Boolean]("r_symbol") && got(2).getAs[Boolean]("r_len"))
    assert(!got(3).getAs[Boolean]("r_alpha"), s"got ${got(3)}")
    assert(!got(4).getAs[Boolean]("r_stop") && got(4).getAs[Boolean]("r_alpha"))
    assert(!got(5).getAs[Boolean]("r_wordlen"), s"got ${got(5)}")
    assert((1 to 6).forall(i => !got(i).getAs[Boolean]("keep")))
    // NULL text: row present, zero words, NULL readouts, all-false keep
    assert(got(6).getAs[Long]("n_words") == 0L)
    assert(got(6).isNullAt(got(6).fieldIndex("mean_word_len")))
    assert(!got(6).getAs[Boolean]("keep"))
  }

  // ── boilerplateShingles ────────────────────────────────────────────

  test("boilerplateShingles: df counts docs once, thresholds and order hold") {
    val docs = Seq(
      // trigram repeated WITHIN doc 1: df contribution stays 1
      (1L, "s", "the cookie banner x the cookie banner"),
      (2L, "s", "y the cookie banner z"),
      (3L, "s", "nothing shared here at all"),
      (4L, "t", "unrelated source text entirely")) // keeps its own n_docs
      .toDF("doc_id", "source", "text")
    val got = TextPipeline.boilerplateShingles(
      docs, col("text"), col("source"), n = 3, minDf = 2L, minRatio = 0.5)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(got == Seq(("s", "the cookie banner", 2L, 3L, 0.666667)))
  }

  test("boilerplateShingles: ratio gate scales with corpus size") {
    // same df=2 template, but 10 docs in the source → ratio 0.2 < 0.5
    val docs = ((1L to 2L).map(i => (i, "s", "a b c filler")) ++
      (3L to 10L).map(i => (i, "s", s"unique$i words here")))
      .toDF("doc_id", "source", "text")
    val kept = TextPipeline.boilerplateShingles(
      docs, col("text"), col("source"), n = 3, minDf = 2L, minRatio = 0.5)
      .count()
    assert(kept == 0, "a fixed absolute df must NOT survive the ratio gate")
    val loose = TextPipeline.boilerplateShingles(
      docs, col("text"), col("source"), n = 3, minDf = 2L, minRatio = 0.1)
      .as[(String, String, Long, Long, Double)].collect().toSeq
    assert(loose.map(_._2).sorted == Seq("a b c", "b c filler"))
  }

  test("scriptMix: planted multi-script shares, whitespace excluded, " +
      "null text and null group handled") {
    val docs = Seq(
      (Some("x"), Some("abc 123")), // 6 non-ws: 3 latin, 3 digit
      // 3 cyrillic + 2 CJK + 1 arabic = 6 non-ws chars
      (Some("y"), Some("где 中文 ش")),
      (Some("z"), None), // null text: 0 chars, NULL shares
      (None, Some("!!"))) // null group -> '__null__', 2 'other' chars
      .toDF("src", "text")
    val got = TextPipeline.scriptMix(docs, col("src"), col("text"))
      .collect().map(r => r.getAs[String]("group_key") -> r).toMap
    val x = got("x")
    assert(x.getAs[Long]("n_chars") == 6L)
    assert(x.getAs[Double]("latin_share") == 0.5)
    assert(x.getAs[Double]("digit_share") == 0.5)
    assert(x.getAs[Double]("other_share") == 0.0)
    val y = got("y")
    assert(y.getAs[Long]("n_chars") == 6L)
    assert(y.getAs[Double]("cyrillic_share") == 0.5)
    assert(y.getAs[Double]("cjk_share") == 0.333333)
    assert(y.getAs[Double]("arabic_share") == 0.166667)
    assert(y.getAs[Double]("latin_share") == 0.0)
    val z = got("z")
    assert(z.getAs[Long]("n_docs") == 1L && z.getAs[Long]("n_chars") == 0L)
    assert(z.isNullAt(z.fieldIndex("latin_share")))
    val nul = got("__null__")
    assert(nul.getAs[Long]("n_chars") == 2L)
    assert(nul.getAs[Double]("other_share") == 1.0)
  }

  test("mtld: hand-walked factor counting; all-distinct walk is undefined") {
    // "a b a b a b a b": TTR hits 2/3 < 0.72 at positions 3 and 6 (two
    // full factors), tail TTR = 1 adds nothing -> 8 / 2 = 4.0 both ways
    val docs = Seq(
      (1L, "a b a b a b a b"),
      (2L, "one two three four"), // all distinct: factors 0 -> NULL
      (3L, "x x x")) // factor at pos 2, tail TTR 1 -> 3 / 1 = 3.0
      .toDF("doc_id", "text")
    val got = TextPipeline.mtld(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(got(1L).getAs[Double]("mtld_fwd") == 4.0)
    assert(got(1L).getAs[Double]("mtld_bwd") == 4.0)
    assert(got(1L).getAs[Double]("mtld") == 4.0)
    assert(got(2L).getAs[Long]("n_tokens") == 4L)
    assert(got(2L).isNullAt(got(2L).fieldIndex("mtld_fwd")))
    assert(got(2L).isNullAt(got(2L).fieldIndex("mtld")))
    assert(got(3L).getAs[Double]("mtld") == 3.0)
  }

  test("scriptMix: RE2/codepoint oracle semantics — vertical tab is NOT " +
      "whitespace, a non-BMP emoji counts once") {
    // DuckDB's regexp_replace is RE2: \s = [\t\n\f\r ] WITHOUT U+000B,
    // and length() is codepoints, so 'a<VT>b<emoji>' has 4 chars —
    // a, VT, b, U+1F642 (one, not two surrogate halves)
    val docs = Seq(("v", "a\u000Bb\ud83d\ude42")).toDF("src", "text")
    val got = TextPipeline.scriptMix(docs, col("src"), col("text"))
      .collect().head
    assert(got.getAs[Long]("n_chars") == 4L)
    assert(got.getAs[Double]("latin_share") == 0.5)
    assert(got.getAs[Double]("other_share") == 0.5)
  }
}
