package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** The one way an operator materializes an intermediate that its
  * returned frame still reads: an eager lineage cut. Iterative
  * operators (PageRank, label propagation, BPE training, connected
  * components) cut their state every round, or N chained iterations
  * re-derive the whole prefix per reference (the r8 plan-duplication
  * lesson); one-shot operators cut a table that several branches of
  * their plan consume, so it is computed once.
  *
  * The storage substrate follows the deployment, not the call: with a
  * checkpoint directory on the context (a cluster sets
  * `spark.checkpoint.dir`) the cut is `Dataset.checkpoint` and survives
  * executor loss; without one it is `localCheckpoint` — executor-local
  * blocks with no lineage, so a lost executor fails the job and the
  * restart contract is "rerun the operator" (every operator here is
  * deterministic). Both truncate lineage identically, so plan shape and
  * results are the same under either (pinned by GraphSpec).
  *
  * To the driver when small: [[toDriverIfSmall]] returns a frame's rows
  * only when Spark itself would broadcast the frame ([[broadcastable]]:
  * its optimized plan's size estimate is at most
  * `spark.sql.autoBroadcastJoinThreshold`) and the collect stays under
  * [[rowCap]]; the same test decides [[graft.plans.SmallSort]]. An
  * operator whose state is that small finishes on the driver from one
  * collect and returns a local relation, instead of running its
  * distributed rounds (a dozen or more Spark jobs over a few thousand
  * rows). Above the bound, or at a threshold of -1, the operator takes
  * its distributed path with its cuts unchanged. A frame that is
  * already a local relation is held on the driver, so [[cut]] returns
  * it as it is.
  *
  * Release contract: a cut registers nothing in the CacheManager. Its
  * blocks are held only by the frame that reads them, so the context
  * cleaner frees them once that frame is unreachable and
  * [[graft.Session.release]] frees them at once. A persist an operator
  * needs only while it runs is unpersisted in a `finally` before the
  * operator returns; no operator leaves a CacheManager entry behind.
  * Durable checkpoint files stay on disk unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints` is on.
  */
object Checkpointing {

  /** Materialize `df` now and return a lineage-free reference to it. */
  def cut(df: DataFrame): DataFrame =
    if (df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) df
    else if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)

  /** The most rows a driver finish collects under a broadcast threshold
    * of `threshold` bytes: as many 16-byte rows (one 8-byte field and
    * the null-bit word of an `UnsafeRow`, the narrowest row a collect
    * carries) as the threshold holds — 655,360 at the 10 MB default. It
    * catches an estimate that was too low (an explode, a join). */
  def rowCap(threshold: Long): Int =
    math.min(threshold / 16, Int.MaxValue - 1L).toInt

  /** Whether Spark would broadcast a relation of `plan`'s size, the
    * test its join planning makes: the size estimate of `plan` (an
    * optimized plan) is at most `spark.sql.autoBroadcastJoinThreshold`,
    * and a threshold of -1 says never. `plan` is only evaluated when
    * the threshold is not -1. */
  def broadcastable(plan: => LogicalPlan, conf: SQLConf): Boolean = {
    val threshold = conf.autoBroadcastJoinThreshold
    threshold >= 0 && plan.stats.sizeInBytes <= threshold
  }

  /** The rows of `df` on the driver, in one Spark job, when Spark would
    * broadcast `df` (the same size test as its join planning) and there
    * are at most [[rowCap]] of them; otherwise `None` and the caller
    * takes its distributed path. Each task returns at most cap + 1 rows,
    * so an estimate that was too low cannot flood the driver. Rows are
    * Catalyst internal rows, in `df`'s column order. */
  def toDriverIfSmall(df: DataFrame): Option[Array[InternalRow]] = {
    val conf = df.sparkSession.sessionState.conf
    if (!broadcastable(df.queryExecution.optimizedPlan, conf)) None
    else {
      val cap = rowCap(conf.autoBroadcastJoinThreshold)
      val rows = df.queryExecution.toRdd
        .mapPartitions(_.take(cap + 1).map(_.copy())).collect()
      if (rows.length > cap) None else Some(rows)
    }
  }

  /** Whether a driver finish may group or join on a key of type `dt`:
    * the driver compares internal key values with `==`, which is
    * Spark's grouping equality for these types. Floating-point keys
    * (Spark normalizes -0.0 and NaN), binary, complex and non-binary
    * collated string keys stay on the distributed path. */
  def driverKeyable(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        DateType | TimestampType | TimestampNTZType | NullType |
        _: DecimalType => true
    case StringType => true // equals the UTF8_BINARY collation only
    case _ => false
  }
}
