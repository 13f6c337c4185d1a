package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{classic, Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** The engine's one door into Spark's `private[sql]` surface. Spark 4
  * made the Column ⇄ Expression helpers, `Dataset.ofRows` and
  * `internalCreateDataFrame` `private[sql]` (Connect split); libraries
  * building native Catalyst expressions and plans reach them from
  * inside the `org.apache.spark.sql` namespace — the standard pattern
  * for Spark-native extensions.
  */
object Bridge {
  def toExpr(c: Column): Expression = ExpressionUtils.expression(c)
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)

  private def classicOf(spark: SparkSession): classic.SparkSession =
    spark.asInstanceOf[classic.SparkSession]

  /** Session-aware conversion: runs the classic ColumnNode →
    * Expression converter, so `functions._` Columns (which build lazy
    * ColumnNodes in Spark 4) become real catalyst trees the analyzer
    * can resolve — required when injecting Column-API compositions
    * into the FunctionRegistry. */
  def toExpr(spark: SparkSession, c: Column): Expression =
    classicOf(spark).expression(c)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` went
    * `private[sql]` with the Connect split) — the construction seam for
    * custom logical nodes like `graft.plans.AsOfJoinPlan`, and the way
    * a frame's analyzed plan moves into another session of the same
    * SparkContext ([[graft.ops.Graph.pageRank]]'s sized session; cached
    * inputs still hit, the cache manager is shared state). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(classicOf(spark), plan)

  /** `schema` with every field nullable, nested ones too — what a file
    * source makes of the schema it is given. */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** `df` as one leaf logical node (`LogicalRDD`, the leaf
    * `Dataset.checkpoint` returns, without the checkpoint) over the RDD
    * its executed plan produces. Building the RDD runs the plan's
    * adaptive query stages (its shuffle-map stages); the result stage
    * runs on the leaf's first action. The lineage stays in the RDD, so
    * a lost partition is recomputed, and nothing is stored. The schema,
    * nullability included, is `df.schema`. (`internalCreateDataFrame`
    * went `private[sql]` with the Connect split.) */
  def asLeaf(df: DataFrame): DataFrame =
    classicOf(df.sparkSession).internalCreateDataFrame(df.queryExecution.toRdd, df.schema)

  /** `rdd`, which holds the rows of `origin`'s executed plan, as the
    * leaf `Dataset.checkpoint` returns: a `LogicalRDD` carrying
    * `origin`'s output attributes, output partitioning and ordering,
    * statistics and constraints, so joins over it keep their broadcast
    * and shuffle reuse. */
  def fromDataset(rdd: RDD[InternalRow], origin: DataFrame): DataFrame = {
    val ds = origin.asInstanceOf[classic.Dataset[_]]
    classic.Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, ds.isStreaming))
  }

  /** `rdd` as a STREAMING-tagged DataFrame of `schema`: a V1 streaming
    * `Source.getBatch` must return one (`MicroBatchExecution` asserts
    * `isStreaming`), and `internalCreateDataFrame` is its only
    * constructor. */
  def streaming(spark: SparkSession, rdd: RDD[InternalRow], schema: StructType): DataFrame =
    classicOf(spark).internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** Drain the Spark listener bus (`private[spark]` in core) — lets
    * tests make listener-based assertions deterministic instead of
    * sleeping. Bounded wait: a wedged listener should fail the test
    * with a diagnosable timeout, not hang the suite forever. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000)
}
