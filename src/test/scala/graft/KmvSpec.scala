package graft

import org.apache.spark.sql.functions._

import graft.expr.{KmvExpr, KmvState}

/** [[graft.expr.KmvAgg]] family — exact set algebra and a canonical
  * (partition-invariant) serialized form while the sketch retains its
  * complete distinct set; the standard KMV estimators with a bounded
  * relative error past saturation.
  */
class KmvSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic 64-bit mix (splitmix64 finalizer) — a stand-in for
    * xxhash64 that the test can compute driver-side. */
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  test("state: exact regime holds the full distinct set, any insert order") {
    val xs = Seq(5L, 1L, 3L, 3L, 9L, 1L, 7L, 3L, Long.MinValue, -1L, 0L)
    for (perm <- Seq(xs, xs.reverse, xs.sorted, xs.sortBy(-_))) {
      val st = new KmvState(16)
      perm.foreach(st.insert)
      assert(!st.saturated)
      assert(st.size == xs.distinct.size)
      assert(st.distinctEstimate == xs.distinct.size.toDouble)
      assert(st.sortedValues.toSeq ==
        xs.distinct.sortBy(h => h ^ Long.MinValue), s"perm=$perm")
    }
  }

  test("state: canonical bytes under any partitioning and merge tree, both regimes") {
    val n = 5000
    val hashes = (0 until n).map(i => mix(i.toLong))
    for (k <- Seq(8192 /* exact regime */, 256 /* saturated */)) {
      val direct = new KmvState(k)
      hashes.foreach(direct.insert)
      // left-deep merge of 7 shuffled partitions
      val parts = hashes.zipWithIndex.groupBy(_._2 % 7).values.map(_.map(_._1)).toSeq
      val merged = parts.map { p =>
        val s = new KmvState(k); p.reverse.foreach(s.insert); s
      }.reduce((a, b) => a.mergeWith(b))
      assert(merged.serialized.toSeq == direct.serialized.toSeq, s"k=$k")
      // serde roundtrip preserves the canonical form
      assert(KmvState.deserialize(direct.serialized).serialized.toSeq ==
        direct.serialized.toSeq, s"k=$k")
      assert(direct.saturated == (k < n), s"k=$k")
    }
  }

  test("state: saturated estimate is within the documented ~1/sqrt(k-2) error band") {
    val k = 1024
    for (n <- Seq(50000, 200000)) {
      val st = new KmvState(k)
      (0 until n).foreach(i => st.insert(mix(i.toLong + 7777)))
      assert(st.saturated)
      val est = st.distinctEstimate
      val rel = math.abs(est - n) / n
      // 3 standard errors of the (k-1)/u_k estimator
      assert(rel < 3.0 / math.sqrt(k - 2.0), s"n=$n est=$est rel=$rel")
    }
  }

  test("state: pairStats exact regime equals brute-force set algebra") {
    val a = (0 until 400).map(i => mix(i.toLong)).toSet
    val b = (200 until 700).map(i => mix(i.toLong)).toSet
    val sa = new KmvState(1024); a.foreach(sa.insert)
    val sb = new KmvState(1024); b.foreach(sb.insert)
    val (inter, union, jacc, exact) = KmvState.pairStats(sa.serialized, sb.serialized)
    assert(exact)
    assert(inter == (a & b).size.toDouble)
    assert(union == (a | b).size.toDouble)
    assert(jacc == (a & b).size.toDouble / (a | b).size)
  }

  test("state: pairStats saturated estimates land near truth") {
    val k = 2048
    val a = (0 until 60000).map(i => mix(i.toLong))
    val b = (30000 until 90000).map(i => mix(i.toLong))
    val sa = new KmvState(k); a.foreach(sa.insert)
    val sb = new KmvState(k); b.foreach(sb.insert)
    val (inter, union, jacc, exact) = KmvState.pairStats(sa.serialized, sb.serialized)
    assert(!exact)
    // truth: |A∩B| = 30000, |A∪B| = 90000, J = 1/3
    assert(math.abs(jacc - 1.0 / 3) < 0.05, s"jacc=$jacc")
    assert(math.abs(union - 90000) / 90000 < 0.15, s"union=$union")
    assert(math.abs(inter - 30000) / 30000 < 0.2, s"inter=$inter")
  }

  test("state: merge adopts the smaller capacity and taints accordingly") {
    val big = new KmvState(64)
    (0 until 60).foreach(i => big.insert(mix(i.toLong)))
    val small = new KmvState(16)
    (100 until 110).foreach(i => small.insert(mix(i.toLong)))
    val m = KmvState.deserialize(big.serialized).mergeWith(small)
    assert(m.k == 16)
    assert(m.size == 16)
    assert(m.saturated) // 70 distinct seen, only 16 retained
    // retained must be the unsigned-smallest 16 of the union
    val want = ((0 until 60).map(i => mix(i.toLong)) ++ (100 until 110).map(i => mix(i.toLong)))
      .distinct.sortBy(h => h ^ Long.MinValue).take(16)
    assert(m.sortedValues.toSeq == want)
  }

  test("sql surface: kmv_agg / kmv_merge / scalars, partition-invariant") {
    val df = (0 until 1000).map(i => (i % 3, s"tok${i % 250}")).toDF("g", "tok")
    df.createOrReplaceTempView("kmv_in")
    for (parts <- Seq(1, 7)) {
      spark.range(0).count() // no-op fence
      df.repartition(parts).createOrReplaceTempView("kmv_in")
      val rows = spark.sql(
        """SELECT g, kmv_n(sk) AS n, kmv_exact(sk) AS ex, kmv_distinct(sk) AS d
          |FROM (SELECT g, kmv_agg(xxhash64(tok), 1024) AS sk
          |      FROM kmv_in GROUP BY g)
          |ORDER BY g""".stripMargin).collect()
      // tokens tok0..tok249 cycle over g = i%3: each group sees a
      // deterministic subset; group 0 sees i ∈ {0,3,..} → tok(i%250)
      val expect = (0 until 3).map(g =>
        (0 until 1000).filter(_ % 3 == g).map(i => s"tok${i % 250}").distinct.size)
      rows.zipWithIndex.foreach { case (r, g) =>
        assert(r.getLong(1) == expect(g), s"g=$g")
        assert(r.getBoolean(2))
        assert(r.getDouble(3) == expect(g).toDouble)
      }
      // two-level: per-group sketches kmv_merge'd == one global sketch
      val merged = spark.sql(
        """SELECT kmv_n(kmv_merge(sk)) AS n FROM
          |(SELECT g, kmv_agg(xxhash64(tok), 1024) AS sk FROM kmv_in GROUP BY g)""".stripMargin)
        .head().getLong(0)
      assert(merged == 250, s"parts=$parts")
    }
  }

  test("sql surface: pairwise overlap scalars against DataFrame set ops") {
    val a = (0 until 300).map(i => s"w$i")
    val b = (150 until 500).map(i => s"w$i")
    (a.map(("a", _)) ++ b.map(("b", _))).toDF("side", "tok")
      .createOrReplaceTempView("kmv_pair_in")
    val r = spark.sql(
      """SELECT kmv_intersect(sa, sb) AS i, kmv_union_n(sa, sb) AS u,
        |       kmv_jaccard(sa, sb) AS j,
        |       kmv_exact(sa) AND kmv_exact(sb) AS ex
        |FROM (SELECT
        |  kmv_agg(CASE WHEN side = 'a' THEN xxhash64(tok) END, 4096) AS sa,
        |  kmv_agg(CASE WHEN side = 'b' THEN xxhash64(tok) END, 4096) AS sb
        |  FROM kmv_pair_in)""".stripMargin).head()
    assert(r.getBoolean(3))
    assert(r.getDouble(0) == 150.0)
    assert(r.getDouble(1) == 500.0)
    assert(r.getDouble(2) == 150.0 / 500.0)
  }

  test("plan: kmv_agg aggregates under ObjectHashAggregateExec with a partial map side") {
    val df = (0 until 100).map(i => (i % 2, i.toLong)).toDF("g", "h")
    df.createOrReplaceTempView("kmv_plan_in")
    val q = spark.sql("SELECT g, kmv_agg(h, 64) FROM kmv_plan_in GROUP BY g")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_kmv_agg"), plan)
  }

  test("analysis: non-foldable k is rejected at analysis time") {
    spark.range(5).selectExpr("id AS g", "id AS h").createOrReplaceTempView("kmv_bad_in")
    val e = intercept[Exception] {
      spark.sql("SELECT kmv_agg(h, g) FROM kmv_bad_in").collect()
    }
    assert(e.getMessage.contains("constant"), e.getMessage)
  }

  test("serde: truncated or garbage bytes fail loudly, never corrupt silently") {
    val good = {
      val st = new KmvState(16); (1L to 10L).foreach(i => st.insert(mix(i))); st.serialized
    }
    // a truncated buffer must throw (BufferUnderflow), not yield a
    // plausible-but-wrong sketch
    intercept[Exception] { KmvState.deserialize(good.take(good.length - 3)) }
    intercept[Exception] { KmvState.deserialize(Array[Byte](1, 2)) }
    // roundtrip of the good bytes stays canonical
    assert(KmvState.deserialize(good).serialized.toSeq == good.toSeq)
  }

  test("nulls: null hashes are skipped; empty group yields an empty exact sketch") {
    Seq((1, Some(5L)), (1, None), (2, None)).toDF("g", "h")
      .createOrReplaceTempView("kmv_null_in")
    val rows = spark.sql(
      """SELECT g, kmv_n(kmv_agg(h, 16)) AS n, kmv_exact(kmv_agg(h, 16)) AS ex
        |FROM kmv_null_in GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(rows(0).getLong(1) == 1 && rows(0).getBoolean(2))
    assert(rows(1).getLong(1) == 0 && rows(1).getBoolean(2))
  }
}
