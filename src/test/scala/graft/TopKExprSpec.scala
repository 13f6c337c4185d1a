package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.expr.TopKExpr

class TopKExprSpec extends SparkSpec {
  import spark.implicits._

  private def windowTop3 = {
    val orders = Tables.orders(spark, sf0001)
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn").cast("long"),
        col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rn")
  }

  private def explodeTopK(df: org.apache.spark.sql.DataFrame) = df
    .select(col("o_custkey"), posexplode(col("topk")))
    .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rn"),
      col("col.id").as("o_orderkey"), col("col.score").as("o_totalprice"))
    .orderBy("o_custkey", "rn")

  test("native top_k equals the window row_number formulation") {
    val orders = Tables.orders(spark, sf0001)
    val native = explodeTopK(
      orders.groupBy(col("o_custkey"))
        .agg(TopKExpr.topK(col("o_orderkey"), col("o_totalprice"), 3).as("topk")))
    assert(native.collect().toSeq == windowTop3.collect().toSeq)
  }

  test("SQL top_k(id, score, k) matches the Column API, with int/decimal casts") {
    Tables.orders(spark, sf0001).createOrReplaceTempView("topk_orders")
    val sql = explodeTopK(spark.sql(
      """SELECT o_custkey, top_k(o_orderkey, o_totalprice, 3) AS topk
        |FROM topk_orders GROUP BY o_custkey""".stripMargin))
    assert(sql.collect().toSeq == windowTop3.collect().toSeq)
    // INT id / DECIMAL score inputs are cast to the canonical types
    val cast = spark.sql(
      """SELECT top_k(CAST(1 AS INT), CAST(2.5 AS DECIMAL(5,2)), 2) AS topk
        |FROM (SELECT 1)""".stripMargin).collect().head
    assert(cast.getSeq[org.apache.spark.sql.Row](0).head.getLong(0) == 1L)
  }

  test("ties break on id ascending; buffer bounded at k; nulls skipped") {
    val data = Seq(
      (Some(3L), Some(5.0)), (Some(1L), Some(5.0)), (Some(2L), Some(5.0)),
      (Some(4L), Some(1.0)), (None, Some(9.0)), (Some(9L), None))
      .toDF("id", "score")
    val top = data.agg(TopKExpr.topK(col("id"), col("score"), 2).as("topk"))
      .select(explode(col("topk")))
      .select("col.id", "col.score").as[(Long, Double)].collect().toSeq
    assert(top == Seq((1L, 5.0), (2L, 5.0)))
  }

  test("plan is object hash aggregate, not a window sort of all rows") {
    val orders = Tables.orders(spark, sf0001)
    val plan = orders.groupBy(col("o_custkey"))
      .agg(TopKExpr.topK(col("o_orderkey"), col("o_totalprice"), 3).as("topk"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
    assert(!plan.contains("Window"))
  }

  test("merge across partitions: skewed single group over many partitions") {
    val df = spark.range(0, 10000).repartition(8)
      .select(col("id"), (col("id") % 7).cast("double").as("score"))
    val top = df.agg(TopKExpr.topK(col("id"), col("score"), 3).as("topk"))
      .select(explode(col("topk"))).select("col.id", "col.score")
      .as[(Long, Double)].collect().toSeq
    // score 6.0 at ids 6, 13, 20 — smallest ids win ties
    assert(top == Seq((6L, 6.0), (13L, 6.0), (20L, 6.0)))
  }
}
