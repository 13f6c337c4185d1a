package graft

import org.apache.spark.sql.SparkSession

/** [[GraftExtensions]] — the config-only deployment path: a session
  * constructed with `spark.sql.extensions=graft.GraftExtensions` (no
  * driver-side `register` call) must expose the full SQL surface, and
  * the injected functions must live in the base registry (surviving
  * `newSession()`, which drops temp functions).
  */
class GraftExtensionsSpec extends SparkSpec {

  test("config-injected session exposes the SQL surface without register calls") {
    val base = spark // force TestSpark init first (shares the SparkContext)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // `.config("spark.sql.extensions", ...)` cannot take effect when
      // the JVM's SparkContext already exists (Spark warns and ignores
      // it), so the spec enters through builder.withExtensions — the
      // same injection path the config string resolves to on a fresh
      // cluster (SparkSession.applyExtensions instantiates the class
      // and calls exactly this apply).
      val injected = SparkSession.builder()
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
      assert(injected ne base, "fixture: must construct a NEW session")

      def drive(s: SparkSession): Unit = {
        assert(s.sql("SELECT dot_product(array(1.0, 2.0), array(3.0, 4.0))")
          .head.getDouble(0) == 11.0)
        assert(s.sql("SELECT qsketch_quantile(qsketch(v, 16), 0.5) FROM VALUES (1.0), (2.0), (3.0) AS t(v)")
          .head.getDouble(0) == 2.0)
        assert(s.sql("SELECT mask_pii('mail me at a@b.com')")
          .head.getString(0).contains("<EMAIL>"))
        val chunks = s.sql(
          "SELECT c.chunk FROM (SELECT 'abcdef' AS t) " +
            "LATERAL VIEW split_text(t, 3, 1) c AS idx, chunk")
          .collect().map(_.getString(0)).toSeq
        assert(chunks.nonEmpty && chunks.head == "abc")
      }
      drive(injected)
      // base-registry injection: the surface survives newSession()
      drive(injected.newSession())

      // whole-operator injection: an AsOfJoinPlan node planned WITHOUT
      // the per-session install — only the injected planner strategy
      // can turn it into AsOfJoinExec
      assert(!injected.experimental.extraStrategies.contains(graft.plans.AsOfJoinStrategy),
        "fixture: the session-local install path must stay untouched here")
      import injected.implicits._
      val l = Seq((1L, 7L, 100L), (2L, 8L, 50L)).toDF("id", "k", "lts")
      val r = Seq((7L, 90L), (7L, 95L)).toDF("k", "rts")
      val got = graft.plans.AsOfJoin
        .buildPlan(l, r, Seq("k"), "lts", "rts", "left_outer", None)
        .select("id", "rts").collect()
        .map(row => (row.getLong(0), if (row.isNullAt(1)) None else Some(row.getLong(1))))
        .toSet
      assert(got === Set((1L, Some(95L)), (2L, None)))

      // the injected top-k strategy plans a collected ORDER BY + LIMIT
      assert(!injected.experimental.extraStrategies.contains(graft.plans.TopKCollectStrategy))
      val top = injected.range(0, 20, 1, 3).orderBy(org.apache.spark.sql.functions.col("id").desc)
        .limit(3)
      assert(top.queryExecution.executedPlan.toString.contains("TakeOrderedAndProjectCollect"))
      assert(top.as[Long].collect().toSeq == Seq(19L, 18L, 17L))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
