package graft.operators

import org.apache.spark.sql.DataFrame

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
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(true)
    else df.localCheckpoint(true)
}
