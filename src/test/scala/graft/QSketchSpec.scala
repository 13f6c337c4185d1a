package graft

import org.apache.spark.sql.functions._

import graft.expr.{QSketchState, QuantileSketchExpr}

/** [[graft.expr.QSketchAgg]] family — exact discrete quantiles and a
  * canonical (partition-invariant) serialized form while distinct
  * values stay within capacity; exact total mass and a bounded,
  * observed-value graceful degrade past it.
  */
class QSketchSpec extends SparkSpec {
  import spark.implicits._

  /** Exact discrete quantile reference: smallest value whose
    * cumulative count reaches max(1, ceil(q*n)). */
  private def exactQuantile(xs: Seq[Double], q: Double): Double = {
    val sorted = xs.sorted
    val rank = math.max(1L, math.ceil(q * xs.size).toLong)
    sorted((rank - 1).toInt)
  }

  test("state: exact regime quantiles match the rank rule, any insert order") {
    val xs = Seq(5.0, 1.0, 3.0, 3.0, 9.0, 1.0, 7.0, 3.0)
    for (perm <- Seq(xs, xs.reverse, xs.sortBy(identity), xs.sortBy(-_))) {
      val st = new QSketchState(16)
      perm.foreach(st.insert(_, 1L))
      assert(st.total == xs.size)
      for (q <- Seq(0.0, 0.1, 0.25, 0.5, 0.75, 0.9, 1.0))
        assert(st.quantile(q) == exactQuantile(xs, q), s"q=$q perm=$perm")
    }
  }

  test("state: merge is an exact multiset sum with canonical bytes in the exact regime") {
    val left = Seq(1.0, 2.0, 2.0, 8.0)
    val right = Seq(2.0, 3.0, 8.0, 8.0)
    val a = new QSketchState(16); left.foreach(a.insert(_, 1L))
    val b = new QSketchState(16); right.foreach(b.insert(_, 1L))
    val ab = QSketchState.deserialize(a.serialized).mergeWith(b)
    // one sketch fed everything in a different order must serialize identically
    val direct = new QSketchState(16)
    (right ++ left).foreach(direct.insert(_, 1L))
    assert(ab.serialized.toSeq == direct.serialized.toSeq,
      "canonical form must not depend on merge vs direct insertion order")
    for (q <- Seq(0.25, 0.5, 0.75))
      assert(ab.quantile(q) == exactQuantile(left ++ right, q))
  }

  test("state: serialization roundtrips") {
    val st = new QSketchState(8)
    Seq(4.0, 4.0, 1.0, 2.5).foreach(st.insert(_, 1L))
    val back = QSketchState.deserialize(st.serialized)
    assert(back.k == 8 && back.n == 3 && back.total == 4)
    assert(back.serialized.toSeq == st.serialized.toSeq)
  }

  test("state: past capacity, mass stays exact and ranks degrade boundedly to observed values") {
    val k = 16
    val n = 4000
    // deterministic LCG so the test is reproducible without RNG APIs
    var seed = 987654321L
    val xs = (1 to n).map { _ =>
      seed = seed * 6364136223846793005L + 1442695040888963407L
      ((seed >>> 33) % 100000L).toDouble
    }
    val st = new QSketchState(k)
    xs.foreach(st.insert(_, 1L))
    assert(st.n <= k, "bin count must stay bounded")
    assert(st.total == n, "total mass is never approximated")
    val sorted = xs.sorted
    for (q <- Seq(0.1, 0.25, 0.5, 0.75, 0.9)) {
      val est = st.quantile(q)
      assert(xs.contains(est), s"q=$q estimate $est must be an observed value")
      // rank error ≤ the collapsed mass around the query point; with k
      // bins over n uniform values a generous 4n/k bound must hold
      val target = math.max(1L, math.ceil(q * n).toLong)
      val lo = sorted.count(_ < est) + 1 // best rank est could occupy
      val hi = sorted.count(_ <= est) // worst rank
      val err = math.min(math.abs(lo - target), math.abs(hi - target))
      assert(err <= 4.0 * n / k,
        s"q=$q rank error $err exceeds 4n/k=${4.0 * n / k}")
    }
  }

  test("DataFrame: grouped sketch quantiles are exact and partition-invariant") {
    val rows = (1L to 500L).map(i => ("g" + (i % 3), (i % 40).toDouble))
    val expected = rows.groupBy(_._1).map { case (g, vs) =>
      (g, exactQuantile(vs.map(_._2), 0.5))
    }
    for (parts <- Seq(1, 3, 7)) {
      val df = rows.toDF("grp", "v").repartition(parts)
      val out = df.groupBy("grp")
        .agg(QuantileSketchExpr.qsketch(col("v"), 64).as("qs"))
        .select(col("grp"),
          QuantileSketchExpr.qsketchQuantile(col("qs"), 0.5).as("p50"),
          QuantileSketchExpr.qsketchN(col("qs")).as("n"))
        .as[(String, Double, Long)].collect()
        .map { case (g, p, n) => (g, p, n) }.toSet
      assert(out.map { case (g, p, _) => (g, p) } == expected.toSet, s"parts=$parts")
      assert(out.forall { case (g, _, n) => n == rows.count(_._1 == g) })
    }
    // exact-regime sketch BYTES must also be partition-invariant
    val bytes = Seq(1, 7).map { parts =>
      rows.toDF("grp", "v").repartition(parts)
        .groupBy("grp").agg(QuantileSketchExpr.qsketch(col("v"), 64).as("qs"))
        .select("grp", "qs").as[(String, Array[Byte])].collect()
        .map { case (g, b) => (g, b.toSeq) }.toMap
    }
    assert(bytes(0) == bytes(1), "canonical serialized form must not depend on partitioning")
  }

  test("plan: qsketch aggregates map-side under ObjectHashAggregate") {
    // the scale contract: partial sketches combine BEFORE the exchange,
    // so the shuffle carries one ≤(8+16k)-byte buffer per group per
    // partition instead of rows — the hll_sketch_agg plan shape
    val df = (1L to 200L).map(i => ("g" + (i % 3), (i % 40).toDouble)).toDF("grp", "v")
      .groupBy("grp").agg(QuantileSketchExpr.qsketch(col("v"), 64).as("qs"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"expected ObjectHashAggregate:\n$plan")
    assert(plan.contains("partial_qsketch"), s"expected map-side partials:\n$plan")
  }

  test("SQL: the registered qsketch family works end-to-end") {
    (1L to 100L).map(i => ("g", i % 10)).toDF("grp", "v")
      .createOrReplaceTempView("qsk_in")
    val row = spark.sql(
      """SELECT grp, qsketch_quantile(qsketch(v, 32), 0.5) AS p50,
        |       qsketch_n(qsketch(v, 32)) AS n
        |FROM qsk_in GROUP BY grp""".stripMargin).head
    assert(row.getDouble(1) == 4.0) // 100 values over 0..9: rank 50 → value 4
    assert(row.getLong(2) == 100L)
    // merge path: per-partition sketches unioned equal one global sketch
    val merged = spark.sql(
      """SELECT qsketch_quantile(qsketch_merge(qs), 0.5) AS p50 FROM (
        |  SELECT grp, qsketch(v, 32) AS qs FROM qsk_in GROUP BY grp, v % 3)""".stripMargin)
      .head.getDouble(0)
    assert(merged == 4.0)
  }

  test("SQL: non-constant k / q are rejected at analysis time, not executor time") {
    // ADVICE r8: a column passed where a literal belongs must fail with
    // the intended message during analysis, not surface as a confusing
    // executor-side eval-with-no-row error
    (1L to 10L).map(i => ("g", i % 5)).toDF("grp", "v")
      .createOrReplaceTempView("qsk_bad")
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT qsketch(v, v) FROM qsk_bad GROUP BY grp").collect()
    }
    assert(e1.getMessage.contains("constant"), e1.getMessage)
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql(
        """SELECT qsketch_quantile(qs, CAST(n AS DOUBLE)) FROM (
          |  SELECT qsketch(v, 8) AS qs, count(1) AS n FROM qsk_bad GROUP BY grp)"""
          .stripMargin).collect()
    }
    assert(e2.getMessage.contains("constant"), e2.getMessage)
  }

  test("qsketch_ks: exact-regime KS equals the classical two-sample statistic") {
    // classical reference: max CDF gap over the union of sample points
    def classicalKs(a: Seq[Double], b: Seq[Double]): Double = {
      val pts = (a ++ b).distinct.sorted
      pts.map { v =>
        math.abs(a.count(_ <= v).toDouble / a.size - b.count(_ <= v).toDouble / b.size)
      }.max
    }
    def sketchOf(xs: Seq[Double]): QSketchState = {
      val st = new QSketchState(64); xs.foreach(st.insert(_, 1L)); st
    }
    def ksOf(a: Seq[Double], b: Seq[Double]): Double = {
      import org.apache.spark.sql.catalyst.expressions.Literal
      graft.expr.QSketchKs(
        Literal(sketchOf(a).serialized), Literal(sketchOf(b).serialized))
        .eval(null).asInstanceOf[Double]
    }
    val a = Seq(1.0, 2.0, 2.0, 3.0, 5.0, 8.0, 8.0, 9.0)
    val b = Seq(2.0, 4.0, 4.0, 6.0, 7.0, 7.0, 9.0, 11.0, 12.0)
    assert(ksOf(a, b) == classicalKs(a, b))
    assert(ksOf(a, a) == 0.0, "identical samples → KS 0")
    assert(ksOf(Seq(1.0, 2.0), Seq(10.0, 11.0)) == 1.0, "disjoint ranges → KS 1")
    // asymmetric sizes, interleaved values
    val c = (1 to 100).map(_.toDouble * 0.5)
    val dd = (1 to 37).map(i => i.toDouble * 1.4 + 0.2)
    assert(ksOf(c, dd) == classicalKs(c, dd))
  }

  test("SQL: qsketch_ks over grouped sketches; shifted groups drift, identical do not") {
    val rows = (0 until 600).map { i =>
      val side = i < 300 // first/second half — residues stay uniform per side
      // group "same": both sides draw i%10; group "shift": second side +4
      Seq(("same", side, (i % 10).toDouble),
        ("shift", side, ((i % 10) + (if (side) 0 else 4)).toDouble))
    }.flatten
    rows.toDF("grp", "side", "v").createOrReplaceTempView("ks_in")
    val got = spark.sql(
      """SELECT grp, qsketch_ks(
        |    qsketch(CASE WHEN side THEN v END, 64),
        |    qsketch(CASE WHEN NOT side THEN v END, 64)) AS ks
        |FROM ks_in GROUP BY grp ORDER BY grp""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("same") == 0.0, s"identical distributions must give KS 0: $got")
    assert(got("shift") == 0.4, s"a +4 shift over 10 uniform points is KS 0.4: $got")
  }
}
