package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Session, SparkSpec}

/** The [[Checkpointing]] release contract: no operator leaves a
  * CacheManager entry behind, and [[graft.Session.release]] frees every
  * cut an operator's returned frame still holds. */
class ReleaseContractSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  // ids 3, 6, 9 and 12 share one text: every near-dup operator finds pairs
  private def docs: DataFrame = (1 to 12).map { i =>
    (i.toLong, if (i % 3 == 0) "the quick brown fox jumps over the lazy dog"
      else s"document $i has its own words ${"w" * i}")
  }.toDF("id", "text")

  private def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000L)

  private def skew = Relational.keySkewProfile(
    Seq("a", "a", "a", "b", "b", "c").toDF("k"), col("k"))
  private def lag = Events.conversionLag((1 to 5).flatMap(u => Seq(
    (u.toLong, "click", ts(0)), (u.toLong, "purchase", ts(u * 10L))))
    .toDF("user_id", "event_type", "ts"))

  // every operator that materializes an intermediate its result reads;
  // an operator with a driver finish runs on both paths
  private val operators: Seq[(String, () => DataFrame)] = Seq(
    "keySkewProfile" -> (() => skew),
    "keySkewProfile, distributed" -> (() => distributed(skew)),
    "conversionLag" -> (() => lag),
    "conversionLag, distributed" -> (() => distributed(lag)),
    "conformalCoverage" -> (() => Eval.conformalCoverage(
      (1 to 20).map(i => (s"g${i % 2}", i.toDouble)).toDF("g", "y"),
      (1 to 10).map(i => (s"g${i % 2}", i.toDouble)).toDF("g", "y"),
      col("g"), col("y"))),
    "semDedupPairs" -> (() => Clustering.semDedupPairs(
      (1 to 12).map(i => (i.toLong, Seq(i % 4 + 1.0, 1.0, 0.0)))
        .toDF("id", "vec"), col("id"), col("vec"), k = 2, maxIters = 2)),
    "minhashNearDupPairs" -> (() => Dedup.minhashNearDupPairs(
      docs, col("id"), col("text"))),
    "incrementalNearDup" -> (() => Dedup.incrementalNearDup(
      docs, docs, col("id"), col("text"), col("id"), col("text"))),
    "neardupThresholdSweep" -> (() => Dedup.neardupThresholdSweep(
      docs, col("id"), col("text"))),
    "autoSkewJoin" -> (() => Partitioning.autoSkewJoin(
      (1L to 200L).map(i => (i % 5, i)).toDF("k", "lv"),
      (0L to 4L).map(i => (i, s"r$i")).toDF("rk", "rv"),
      "k", "rk", saltSource = col("lv"))._1))

  for ((name, run) <- operators) {
    test(s"$name leaves no CacheManager entry; release frees its cuts") {
      Session.release(spark)
      val results = (1 to 3).map { _ =>
        val rows = run().collect().map(_.toString).sorted.toSeq
        assert(spark.sharedState.cacheManager.isEmpty,
          s"$name left a CacheManager entry")
        rows
      }
      assert(results.head.nonEmpty && results.forall(_ == results.head))
      Session.release(spark)
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    }
  }
}
