package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** [EXT] In-engine quality-classifier training: batch gradient-descent
  * logistic regression over engine-computed text features — the
  * fastText-style "train a quality filter on labeled good/bad documents,
  * then score the whole corpus" step of an LLM data pipeline (CCNet,
  * GPT-3's WebText classifier). The reference has no ML surface; this is
  * a pure [EXT] 100 TB-pipeline component.
  *
  * Why hand-rolled gradient descent instead of a library: the point is
  * that TRAINING ITSELF is just the engine's aggregate — per iteration
  * ONE distributed pass computes the full-batch gradient as dim+1
  * decimal sums (map-side partial aggregation: the shuffle carries one
  * (dim+1)-vector per task, the driver holds only the weight vector).
  * No parameter server, no per-row driver traffic, no RDD loops; at
  * 100 TB each epoch is a columnar scan of the feature table.
  *
  * Determinism: each row's gradient contribution is quantized to
  * DECIMAL(28,12) BEFORE the sum (the repo's xsum discipline), so the
  * fit is partition-order independent — two runs on any cluster layout
  * produce bit-identical weights (asserted in QualityModelSpec).
  *
  * The feature table is cut once up front: the loop is
  * inherently sequential and every iteration re-reads the SAME
  * materialized features instead of replaying the feature expressions —
  * the same lineage-cut discipline as Dedup.clusters / bpeTrain.
  *
  * Features should be roughly unit-scaled by the caller (standard GD
  * conditioning); `lr` is the plain step size, `l2` optional ridge.
  */
object QualityModel {

  /** A fitted model: `weights(0)` is the bias, `weights(i)` the i-th
    * feature's coefficient; `losses` the per-iteration mean log-loss
    * trajectory (length = iters actually run). */
  final case class LogRegModel(weights: Array[Double], losses: Array[Double]) {
    /** Map-side scoring expression: P(label=1 | features) for the same
      * feature columns the model was trained on — a pure codegen'd
      * arithmetic chain, zero shuffle over any corpus size. */
    def scoreCol(features: Seq[Column]): Column = {
      require(features.length + 1 == weights.length,
        s"model has ${weights.length - 1} features, got ${features.length}")
      val margin = features.zipWithIndex.foldLeft(lit(weights(0))) {
        case (acc, (f, i)) => acc + f.cast("double") * lit(weights(i + 1))
      }
      lit(1.0) / (lit(1.0) + exp(-margin))
    }
  }

  /** Fit by full-batch gradient descent: `iters` passes, each ONE
    * distributed aggregate. `label` must be 0/1. */
  def trainLogReg(
      data: DataFrame,
      features: Seq[Column],
      label: Column,
      iters: Int = 30,
      lr: Double = 1.0,
      l2: Double = 0.0): LogRegModel = {
    require(features.nonEmpty, "at least one feature column required")
    require(iters >= 1 && iters <= 1000, s"iters must be in [1, 1000], got $iters")
    val dim = features.length
    // materialize (y, x1..xd) once; every epoch scans this, not the
    // upstream feature expressions
    val cols = label.cast("double").as("y") +:
      features.zipWithIndex.map { case (f, i) => f.cast("double").as(s"x$i") }
    val train = Checkpointing.cut(data.select(cols: _*))
    val n = train.count().toDouble
    require(n > 0, "empty training set")

    val w = Array.fill(dim + 1)(0.0)
    val losses = Array.newBuilder[Double]
    // Per-row quantized contribution: order-independent decimal sums.
    // CROSS-ENGINE discipline (r10, the ext_quality_model oracle): the
    // sigmoid is quantized to 9 decimals BEFORE the error — a 1-ulp
    // exp() divergence between engines only flips the rounded value
    // when the true p sits within ~1e-16 of a 0.5e-9 boundary — and
    // every per-row product is round(·, 12) BEFORE the decimal cast,
    // because casting an ARBITRARY double at scale 12 is
    // engine-ambiguous (Spark rounds the shortest round-trip
    // representation, DuckDB the exact binary value — the
    // randomProject scaladoc's measured 13th-15th-digit trap), while a
    // round-then-cast recovers the identical 12-decimal value on both.
    def q(c: Column): Column = round(c, 12).cast("decimal(28,12)")
    (1 to iters).foreach { _ =>
      val margin = (0 until dim).foldLeft(lit(w(0))) {
        case (acc, i) => acc + col(s"x$i") * lit(w(i + 1))
      }
      val p = round(lit(1.0) / (lit(1.0) + exp(-margin)), 9)
      val err = p - col("y")
      // one aggregate: bias gradient, d feature gradients, log-loss
      val aggs =
        sum(q(err)).as("g0") +:
          (0 until dim).map(i => sum(q(err * col(s"x$i"))).as(s"g${i + 1}")) :+
          sum(q(-(col("y") * log(greatest(p, lit(1e-12))) +
            (lit(1.0) - col("y")) *
              log(greatest(lit(1.0) - p, lit(1e-12)))))).as("loss")
      val row = train.agg(aggs.head, aggs.tail: _*).collect().head
      (0 to dim).foreach { j =>
        val reg = if (j == 0) 0.0 else l2 * w(j) // bias is not penalized
        val g = row.getDecimal(j).doubleValue() / n + reg
        w(j) = w(j) - lr * g
      }
      losses += row.getDecimal(dim + 1).doubleValue() / n
    }
    LogRegModel(w, losses.result())
  }
}
