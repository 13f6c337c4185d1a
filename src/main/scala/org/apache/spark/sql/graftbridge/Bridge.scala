package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ⇄ Expression bridge. Spark 4 made the conversion helpers
  * `private[sql]` (Connect split); libraries building native Catalyst
  * expressions reach them from inside the `org.apache.spark.sql`
  * namespace — the standard pattern for Spark-native extensions.
  */
object Bridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  /** Session-aware conversion: runs the classic ColumnNode →
    * Expression converter, so `functions._` Columns (which build lazy
    * ColumnNodes in Spark 4) become real catalyst trees the analyzer
    * can resolve — required when injecting Column-API compositions
    * into the FunctionRegistry. */
  def toExpr(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` went
    * `private[sql]` with the Connect split) — the construction seam for
    * custom logical nodes like `graft.plans.AsOfJoinPlan`. */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** `df` as one leaf logical node (`LogicalRDD`, the leaf
    * `Dataset.checkpoint` returns, without the checkpoint) over the RDD
    * its executed plan produces. Building the RDD runs the plan's
    * adaptive query stages (its shuffle-map stages); the result stage
    * runs on the leaf's first action. The lineage stays in the RDD, so
    * a lost partition is recomputed, and nothing is stored. The schema,
    * nullability included, is `df.schema`. (`internalCreateDataFrame`
    * went `private[sql]` with the Connect split.) */
  def asLeaf(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema)

  /** Drain the Spark listener bus (`private[spark]` in core) — lets
    * tests make listener-based assertions deterministic instead of
    * sleeping. Bounded wait: a wedged listener should fail the test
    * with a diagnosable timeout, not hang the suite forever. */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000)
}
