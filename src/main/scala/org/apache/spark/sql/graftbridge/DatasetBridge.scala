package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Bridge into Spark's package-private `Dataset.ofRows`, the one way to
  * turn a rewritten logical plan back into a DataFrame (the same
  * private[sql] pattern as [[ColumnBridge]]). */
object DatasetBridge {
  def ofRows(spark: classic.SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark, plan)
}
