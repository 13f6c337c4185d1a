package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.plans.TopKCollectStrategy

/** [[graft.plans.TakeOrderedAndProjectCollectExec]] against Spark's
  * `TakeOrderedAndProjectExec`: the same root top-k, collected in the
  * engine session and in a fresh session without the strategy, gives
  * the same rows in the same order. Sampled with fixed scalacheck seeds
  * over ties, null and NaN keys, both directions, nulls first and last,
  * `k` at and past the row count, empty partitions and aliased
  * projections. Every sort ends on a unique id, so the answer is fixed:
  * rows tied on the whole sort key are full duplicates, since Spark's
  * choice among other rows tied at the limit depends on task order. */
class TopKCollectSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("a", IntegerType),
    StructField("b", DoubleType),
    StructField("s", StringType)))

  private val rowGen: Gen[(Option[Int], Option[Double], String)] = for {
    a <- Gen.option(Gen.choose(0, 3))
    b <- Gen.option(Gen.oneOf(Double.NaN, Double.NegativeInfinity, -1.5, 0.0, 2.25,
      Double.PositiveInfinity))
    s <- Gen.oneOf("x", "y", "zz")
  } yield (a, b, s)

  private case class Case(
      rows: Seq[Row], slices: Int, k: Int, orders: Seq[(String, Int)], project: Boolean)

  // 0–40 rows (some duplicated whole), 1–8 slices (empty ones when
  // slices > rows), k from 0 to past the row count, a sort over
  // 1–2 of a/b in one of four direction/null-placement modes each
  private val caseGen: Gen[Case] = for {
    n <- Gen.choose(0, 40)
    raw <- Gen.listOfN(n, rowGen)
    dups <- Gen.choose(0, 4)
    slices <- Gen.choose(1, 8)
    k <- Gen.choose(0, n + 3)
    keys <- Gen.oneOf(Seq("a"), Seq("b"), Seq("a", "b"), Seq("b", "a"))
    modes <- Gen.listOfN(keys.size, Gen.choose(0, 3))
    project <- Gen.oneOf(true, false)
  } yield {
    val rows = raw.zipWithIndex.map { case ((a, b, s), i) =>
      Row(i, a.map(Int.box).orNull, b.map(Double.box).orNull, s)
    }
    Case(rows ++ rows.take(dups), slices, k, keys.zip(modes), project)
  }

  private def sortCol(name: String, mode: Int): Column = mode match {
    case 0 => col(name).asc_nulls_first
    case 1 => col(name).asc_nulls_last
    case 2 => col(name).desc_nulls_first
    case _ => col(name).desc_nulls_last
  }

  private def query(s: SparkSession, c: Case): DataFrame = {
    val df = s.createDataFrame(s.sparkContext.parallelize(c.rows, c.slices), schema)
    val sorted = df.orderBy(c.orders.map { case (n, m) => sortCol(n, m) } :+ col("id"): _*)
    val shaped =
      if (c.project) sorted.select(col("id"), (col("a") * 10).as("a10"), col("s").as("label"),
        col("b"))
      else sorted
    shaped.limit(c.k)
  }

  /** A session on the same context without the strategy: Spark's own
    * planning of the same query. */
  private lazy val reference: SparkSession = {
    val s = spark.newSession()
    assert(!s.experimental.extraStrategies.contains(TopKCollectStrategy))
    s
  }

  private def executed(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("the graft exec equals TakeOrderedAndProjectExec row for row over seeded cases") {
    val cases = (0 until 60).flatMap(i => caseGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(cases.size == 60)
    assert(cases.exists(c => c.k >= c.rows.size && c.rows.nonEmpty), "k past the row count")
    assert(cases.exists(c => c.slices > c.rows.size), "empty partitions")
    cases.zipWithIndex.foreach { case (c, i) =>
      val got = query(spark, c)
      val want = query(reference, c)
      if (c.k > 0) {
        assert(executed(got).contains("TakeOrderedAndProjectCollect"), s"case $i:\n${executed(got)}")
        assert(!executed(want).contains("TakeOrderedAndProjectCollect") &&
          executed(want).contains("TakeOrderedAndProject"), s"case $i:\n${executed(want)}")
      }
      assert(got.collect().toSeq == want.collect().toSeq, s"case $i: $c")
    }
  }

  test("a child sorted within partitions, toLocalIterator and one job per collect") {
    val c = caseGen.apply(Gen.Parameters.default, Seed(1000L)).get.copy(k = 7, slices = 3)
    val base = query(spark, c).collect().toSeq
    assert(query(spark, c).toLocalIterator().asScala.toSeq == base)

    // an in-memory child that already reports the sort order
    val df = spark.createDataFrame(spark.sparkContext.parallelize(c.rows, 3), schema)
    val order = Seq(col("a").asc_nulls_first, col("id"))
    val cached = df.sortWithinPartitions(order: _*).persist()
    try {
      val topK = cached.orderBy(order: _*).limit(5)
      val want = reference.createDataFrame(reference.sparkContext.parallelize(c.rows, 3), schema)
        .orderBy(order: _*).limit(5).collect().toSeq
      assert(topK.collect().toSeq == want)

      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      Bridge.drainListenerBus(spark)
      spark.sparkContext.addSparkListener(listener)
      try {
        assert(topK.collect().toSeq == want)
        Bridge.drainListenerBus(spark)
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(jobs.get == 1, s"${jobs.get} jobs")
    } finally cached.unpersist()
  }

  test("registered top-k queries collect what Spark's exec returns for the same plan") {
    // toLocalIterator runs the same physical plan through doExecute,
    // i.e. Spark's TakeOrderedAndProjectExec; every registered top-k
    // orders totally, as its oracle requires
    val topK = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sf0001)
      if (executed(df).contains("TakeOrderedAndProjectCollect")) Some(name -> df) else None
    }
    assert(topK.size >= 10, topK.map(_._1))
    topK.foreach { case (name, df) =>
      assert(df.collect().toSeq == df.toLocalIterator().asScala.toSeq, name)
    }
  }

  test("a scalar subquery's top-k plans as the graft exec and answers as Spark's") {
    // Spark plans a subquery under a ReturnAnswer too; a scalar one is
    // taken with executeTake, i.e. through doExecute
    val q = "SELECT id, (SELECT v FROM (SELECT id AS v, id % 7 AS m FROM range(0, 50, 1, 4)) " +
      "ORDER BY m DESC, v LIMIT 1) AS top FROM range(3)"
    val got = spark.sql(q)
    val rows = got.collect().toSeq
    assert(executed(got).contains("TakeOrderedAndProjectCollect"), executed(got))
    val want = reference.sql(q)
    assert(rows == want.collect().toSeq && rows == (0L until 3L).map(Row(_, 6L)))
    assert(!executed(want).contains("TakeOrderedAndProjectCollect"), executed(want))
  }

  test("LIMIT with OFFSET stays with Spark's TakeOrderedAndProjectExec") {
    val df = spark.range(0, 50, 1, 4).select(col("id"), (col("id") % 7).as("m"))
    val sorted = (0L until 50L).map(i => Row(i, i % 7))
      .sortBy(r => (r.getLong(1), r.getLong(0)))
    for ((q, want) <- Seq(
        df.orderBy(col("m"), col("id")).limit(10).offset(3) -> sorted.slice(3, 10),
        df.orderBy(col("m"), col("id")).offset(3).limit(10) -> sorted.slice(3, 13))) {
      val plan = executed(q)
      assert(plan.contains("TakeOrderedAndProject(") && !plan.contains("TakeOrderedAndProjectCollect"),
        plan)
      assert(q.collect().toSeq == want)
    }
  }
}
