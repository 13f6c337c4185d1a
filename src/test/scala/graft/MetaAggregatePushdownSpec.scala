package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.MergeTable

/** Connector aggregate pushdown ([[graft.plans.GraftMetaAggregate]]):
  * ungrouped COUNT(*)/COUNT(col)/MIN/MAX over a `graft` relation must
  * collapse to a LocalRelation answered from the zone sidecar — ZERO
  * data-scan nodes in the optimized plan — and must NOT fire (falling
  * back to an exact scan) for filters, grouping, DISTINCT, non-numeric
  * columns, expression-wrapped aggregates, or a pending merge-on-read
  * ledger.
  */
class MetaAggregatePushdownSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-metaagg").toString

  private def hasScan(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Scan GraftRelation")

  test("COUNT/MIN/MAX over a graft table answer from metadata: no scan node") {
    val dir = tmpDir()
    val base = (0L until 1000L).map(i =>
      (i, if (i % 10 == 0) null else java.lang.Long.valueOf(i % 97), i / 10.0))
      .toDF("id", "x", "score")
    MergeTable.create(spark, dir, base, "id", nBuckets = 4)
    MergeTable.merge(spark, dir,
      Seq((5L, java.lang.Long.valueOf(500L), 199.5)).toDF("id", "x", "score"), "id")
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("magg")

    val q = spark.sql(
      """SELECT COUNT(*) AS n, COUNT(x) AS nx, MIN(x) AS mn, MAX(x) AS mx,
        |       MIN(score) AS smn, MAX(score) AS smx
        |FROM magg""".stripMargin)
    assert(!hasScan(q), "metadata aggregates must not scan data files:\n" +
      q.queryExecution.executedPlan)
    assert(q.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    val row = q.as[(Long, Long, Long, Long, Double, Double)].head()
    assert(row == ((1000L, 900L, 0L, 500L, 0.0, 199.5)),
      s"the metadata answer must equal the scan answer: $row")

    // and it matches a genuine scan bit for bit
    val scan = MergeTable.read(spark, dir)
      .agg(count(lit(1)), count($"x"), min($"x"), max($"x"),
        min($"score"), max($"score"))
      .as[(Long, Long, Long, Long, Double, Double)].head()
    assert(row == scan)
  }

  test("guards: filter/grouping/distinct/string/expr aggregates fall back to an exact scan") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 200L).map(i => (i, i % 7, s"s$i")).toDF("id", "x", "name"),
      "id", nBuckets = 2)
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("magg2")

    // x = id % 7 → every file's x-zone is [0, 6], so no file decides
    // x > 3 and the hybrid path declines (nothing to save) — exact scan
    val filtered = spark.sql("SELECT COUNT(*) AS n FROM magg2 WHERE x > 3")
    assert(hasScan(filtered), "an all-boundary filtered aggregate must scan")
    assert(filtered.as[Long].head() == (0L until 200L).count(_ % 7 > 3))

    val grouped = spark.sql("SELECT x, COUNT(*) AS n FROM magg2 GROUP BY x")
    assert(hasScan(grouped), "a grouped aggregate must scan")
    assert(grouped.count() == 7)

    val distinct = spark.sql("SELECT COUNT(DISTINCT x) AS n FROM magg2")
    assert(distinct.as[Long].head() == 7)

    // short string values → exact zone bounds (format 5) → the string
    // MIN pushes down too now (round 17); the dedicated string test
    // covers the truncated/boundary cases
    val str = spark.sql("SELECT MIN(name) AS mn FROM magg2")
    assert(str.as[String].head() == "s0")

    val expr = spark.sql("SELECT COUNT(*) + 1 AS n FROM magg2")
    assert(expr.as[Long].head() == 201L)

    // a pending merge-on-read ledger blocks the metadata path (counts
    // would include deleted rows) — exact scan instead
    MergeTable.deleteKeys(spark, dir, Seq(1L, 2L).toDF("id"), "id")
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("magg2")
    val underDv = spark.sql("SELECT COUNT(*) AS n FROM magg2")
    assert(hasScan(underDv), "a pending ledger must force the scan path")
    assert(underDv.as[Long].head() == 198L)
  }

  test("filtered COUNT(*): a filter every file decides answers without any scan") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 1000L).map(i => (i, i % 100)).toDF("id", "x"), "id", nBuckets = 4)
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("fcnt")

    // every file's id-zone lies inside [0, 1000) → all FullyIn
    val allIn = spark.sql(
      "SELECT COUNT(*) AS n FROM fcnt WHERE id >= 0 AND id < 1000")
    assert(!hasScan(allIn), "a fully-decided filter must not scan:\n" +
      allIn.queryExecution.executedPlan)
    assert(allIn.as[Long].head() == 1000L)

    // every file's id-zone lies below 5000 → all FullyOut, count 0
    val allOut = spark.sql("SELECT COUNT(*) AS n FROM fcnt WHERE id > 5000")
    assert(!hasScan(allOut))
    assert(allOut.as[Long].head() == 0L)
  }

  test("filtered COUNT(*): hybrid — only boundary files scan, the rest counts from metadata") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 4000L).map(i => (i, i / 4)).toDF("id", "x"), "id", nBuckets = 2)
    // range-lay the files by x so zones are near-disjoint → most files
    // fully decide and one or two straddle the cut
    val v = MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 4)
    val nFiles = MergeTable.fileIndex(spark, dir, v).values.flatten.size
    spark.read.format("graft")
      .option("path", dir).option("version", v.toString).load()
      .createOrReplaceTempView("hyb")

    val q = spark.sql("SELECT COUNT(*) AS n FROM hyb WHERE x < 437")
    assert(q.queryExecution.optimizedPlan.toString
      .contains("__graft_boundary_count"),
      "the hybrid rewrite must fire:\n" + q.queryExecution.optimizedPlan)
    assert(q.as[Long].head() == (0L until 4000L).count(_ / 4 < 437))
    // the subset scan touched strictly fewer files than the table holds
    val (_, subsetTotal) = graft.sources.GraftRelation.lastPruned
    assert(subsetTotal < nFiles,
      s"the boundary subset ($subsetTotal) must be smaller than the table ($nFiles)")

    // string conjunct: equality on a constant-per-file column decides
    val dir2 = tmpDir()
    MergeTable.create(spark, dir2,
      (0L until 600L).map(i => (i, if (i < 300) "en" else "fr"))
        .toDF("id", "lang"), "id", nBuckets = 2)
    spark.read.format("graft").option("path", dir2).load()
      .createOrReplaceTempView("hyb2")
    val mixed = spark.sql(
      "SELECT COUNT(*) AS n FROM hyb2 WHERE lang = 'en' AND id < 250")
    assert(mixed.as[Long].head() == 250L)
    // and the answer always equals the plain scan's
    assert(mixed.as[Long].head() ==
      MergeTable.read(spark, dir2)
        .where($"lang" === "en" && $"id" < 250).count())
  }

  test("filtered COUNT(*): Or / In / IsNull trees decide per file") {
    val dir = tmpDir()
    // k is CONSTANT (every file's zone is the point [7,7] — the
    // deterministic FullyIn shape for membership); id covers [0,900)
    MergeTable.create(spark, dir,
      (0L until 900L).map { i =>
        val lang = if (i < 300) "en" else if (i < 600) "fr" else "de"
        (i, 7L, lang, if (i % 3 == 0) null else java.lang.Long.valueOf(i))
      }.toDF("id", "k", "lang", "opt"), "id", nBuckets = 2)
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("tree")

    def expectNoScan(sql: String, want: Long): Unit = {
      val q = spark.sql(sql)
      assert(!hasScan(q), s"must decide from metadata: $sql\n" +
        q.queryExecution.executedPlan)
      assert(q.as[Long].head() == want, sql)
    }
    // Or: one FullyIn disjunct decides the whole tree per file
    expectNoScan(
      "SELECT COUNT(*) AS n FROM tree WHERE id < 5000 OR id > 9000", 900L)
    // Or of two all-miss ranges: FullyOut everywhere, zero from metadata
    expectNoScan(
      "SELECT COUNT(*) AS n FROM tree WHERE id > 5000 OR id < -5", 0L)
    // In on the constant column: zmin == zmax == 7 ∈ list → FullyIn
    expectNoScan("SELECT COUNT(*) AS n FROM tree WHERE k IN (7, 9)", 900L)
    // In all-miss → FullyOut everywhere
    expectNoScan("SELECT COUNT(*) AS n FROM tree WHERE k IN (8, 9)", 0L)
    // big list → the optimizer converts In to InSet; same decisions
    val big = (100 to 114).mkString(", ")
    expectNoScan(s"SELECT COUNT(*) AS n FROM tree WHERE k IN (7, $big)", 900L)
    // every path must match the exact scan, decidable or not
    val mixed = spark.sql(
      "SELECT COUNT(*) AS n FROM tree WHERE (lang IN ('en', 'de') OR id >= 300) AND id < 450")
    assert(mixed.as[Long].head() ==
      MergeTable.read(spark, dir)
        .where(($"lang".isin("en", "de") || $"id" >= 300) && $"id" < 450).count())
    // IsNull: every file mixes null and non-null opt rows → boundary
    // everywhere → falls back to the exact scan
    val nulls = spark.sql("SELECT COUNT(*) AS n FROM tree WHERE opt IS NULL")
    assert(nulls.as[Long].head() == 300L)
    // IsNull on a never-null column: nullCount 0 → FullyOut, no scan
    expectNoScan("SELECT COUNT(*) AS n FROM tree WHERE id IS NULL", 0L)

    // filtered COUNT(col): FullyIn files contribute rows − nullCount
    // (exact from the sidecar) — id%3==0 rows have null opt
    val nn = spark.sql(
      "SELECT COUNT(opt) AS n, COUNT(*) AS n_all FROM tree WHERE id < 5000")
    assert(!hasScan(nn), "COUNT(col) under a decided filter must not scan:\n" +
      nn.queryExecution.executedPlan)
    assert(nn.as[(Long, Long)].head() == ((600L, 900L)))
    // and through the hybrid (boundary) path it matches the exact scan
    val nnHyb = spark.sql(
      "SELECT COUNT(opt) AS n FROM tree WHERE id >= 300 AND id < 750")
    assert(nnHyb.as[Long].head() ==
      MergeTable.read(spark, dir)
        .where($"id" >= 300 && $"id" < 750).agg(count($"opt"))
        .as[Long].head())
  }

  test("grouped counts: constant-group files answer from metadata, mixed files merge through a scan") {
    val dir = tmpDir()
    // lang runs align with the id-bucketing? No — hash buckets mix ids,
    // so make lang FILE-constant the honest way: cluster by it
    MergeTable.create(spark, dir,
      (0L until 900L).map { i =>
        val lang = if (i < 300) "en" else if (i < 600) "fr" else "de"
        (i, lang, if (i % 4 == 0) null else java.lang.Long.valueOf(i))
      }.toDF("id", "lang", "opt"), "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "lang", filesPerBucket = 3)
    spark.read.format("graft")
      .option("path", dir).option("version", v.toString).load()
      .createOrReplaceTempView("grp")

    val q = spark.sql(
      "SELECT lang, COUNT(*) AS n, COUNT(opt) AS n_opt FROM grp GROUP BY lang")
    val got = q.as[(String, Long, Long)].collect().toSet
    val want = MergeTable.read(spark, dir, v)
      .groupBy($"lang").agg(count(lit(1)).as("n"), count($"opt").as("n_opt"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == want && want.toSeq.map(_._2).sum == 900L)
    // the rewrite fired: either no scan at all, or a boundary subset
    // strictly smaller than the table
    val plan = q.queryExecution.executedPlan.toString
    val nFiles = MergeTable.fileIndex(spark, dir, v).values.flatten.size
    if (plan.contains("Scan GraftRelation")) {
      assert(q.queryExecution.optimizedPlan.toString
        .contains("__graft_boundary_gcnt0"), "the grouped hybrid must fire")
      assert(graft.sources.GraftRelation.lastPruned._2 < nFiles,
        "the grouped boundary subset must be smaller than the table")
    }

    // filtered + grouped: decided filter slabs compose with group
    // constancy; answer must equal the exact twin regardless of path
    val fq = spark.sql(
      "SELECT lang, COUNT(*) AS n FROM grp WHERE id < 450 GROUP BY lang")
    assert(fq.as[(String, Long)].collect().toSet ==
      MergeTable.read(spark, dir, v).where($"id" < 450)
        .groupBy($"lang").agg(count(lit(1)).as("n"))
        .as[(String, Long)].collect().toSet)

    // all-null group files form the SQL NULL group from metadata
    val dir2 = tmpDir()
    MergeTable.create(spark, dir2,
      (0L until 400L).map(i =>
        (i, if (i < 200) null else "x")).toDF("id", "tag"), "id", nBuckets = 2)
    val v2 = MergeTable.clusterBy(spark, dir2, "tag", filesPerBucket = 2)
    spark.read.format("graft")
      .option("path", dir2).option("version", v2.toString).load()
      .createOrReplaceTempView("grp2")
    val nq = spark.sql("SELECT tag, COUNT(*) AS n FROM grp2 GROUP BY tag")
    assert(nq.as[(Option[String], Long)].collect().toSet ==
      Set((None: Option[String], 200L), (Some("x"), 200L)))
  }

  test("filtered MIN/MAX ride the FullyIn/Boundary lattice: zone extremes + boundary scan, exact") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 4000L).map(i => (i, i / 4, (i % 1000) / 8.0))
        .toDF("id", "x", "score"), "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 4)
    spark.read.format("graft")
      .option("path", dir).option("version", v.toString).load()
      .createOrReplaceTempView("mmx")

    // boundary files straddle the cut; FullyIn files answer MIN/MAX
    // from zone extremes (exact: every row of a FullyIn file passes)
    val q = spark.sql(
      """SELECT COUNT(*) AS n, MIN(x) AS mnx, MAX(x) AS mxx,
        |       MIN(score) AS mns, MAX(score) AS mxs
        |FROM mmx WHERE x < 437""".stripMargin)
    assert(q.queryExecution.optimizedPlan.toString
      .contains("__graft_boundary_count"),
      "the hybrid rewrite must fire:\n" + q.queryExecution.optimizedPlan)
    val got = q.as[(Long, Long, Long, Double, Double)].head()
    val want = MergeTable.read(spark, dir, v).where($"x" < 437)
      .agg(count(lit(1)), min($"x"), max($"x"), min($"score"), max($"score"))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(got == want, s"hybrid MIN/MAX must equal the scan: $got vs $want")

    // a fully-decided filter collapses MIN/MAX to zero scan nodes
    val allIn = spark.sql(
      "SELECT MIN(x) AS mn, MAX(x) AS mx FROM mmx WHERE x >= 0")
    assert(!hasScan(allIn), "fully-decided filtered MIN/MAX must not scan:\n" +
      allIn.queryExecution.executedPlan)
    assert(allIn.as[(Long, Long)].head() == ((0L, 999L)))

    // all-out: MIN/MAX of an empty set is NULL, still no scan
    val allOut = spark.sql(
      "SELECT MIN(x) AS mn, COUNT(*) AS n FROM mmx WHERE x > 99999")
    assert(!hasScan(allOut))
    val (mnNull, nZero) = allOut.as[(Option[Long], Long)].head()
    assert(mnNull.isEmpty && nZero == 0L)
  }

  test("grouped MIN/MAX: group-constant files answer from zone extremes, mixed files merge through the scan") {
    val dir = tmpDir()
    // lang runs of 300 rows → after clusterBy(lang) most files are
    // lang-constant; n spans a distinct range per lang so a wrong
    // attribution breaks MIN/MAX, not just counts
    val base = (0L until 1200L).map { i =>
      val lang = Seq("de", "en", "fr", "ru")((i / 300L).toInt)
      (i, lang, (i / 300L) * 1000L + i % 300L,
        if (i % 97 == 0) null else java.lang.Double.valueOf((i % 50) / 2.0))
    }.toDF("id", "lang", "n", "d")
    MergeTable.create(spark, dir, base, "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "lang", filesPerBucket = 3)
    spark.read.format("graft")
      .option("path", dir).option("version", v.toString).load()
      .createOrReplaceTempView("gmmx")

    val q = spark.sql(
      """SELECT lang, COUNT(*) AS cnt, MIN(n) AS mn, MAX(n) AS mx,
        |       MAX(d) AS mxd, COUNT(d) AS nd
        |FROM gmmx GROUP BY lang ORDER BY lang""".stripMargin)
    val got = q.as[(String, Long, Long, Long, Double, Long)].collect().toSeq
    val want = MergeTable.read(spark, dir, v).groupBy("lang")
      .agg(count(lit(1)), min($"n"), max($"n"), max($"d"), count($"d"))
      .orderBy("lang")
      .as[(String, Long, Long, Long, Double, Long)].collect().toSeq
    assert(got == want, s"grouped MIN/MAX must equal the scan:\n$got\n$want")
    // the rewrite fired (metadata groups merged through the union) —
    // or collapsed entirely when every file is lang-constant
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_meta_gcnt") || !hasScan(q),
      s"the grouped rewrite must fire:\n$plan")
  }

  test("multi-key grouped pushdown: clusterByCols makes (lang, source) file-constant, counts and extremes merge exactly") {
    val dir = tmpDir()
    val base = (0L until 2400L).map { i =>
      val lang = Seq("de", "en", "fr")((i % 3L).toInt)
      val source = Seq("web", "wiki", "book", "code")((i % 4L).toInt)
      (i, lang, source, (i % 3L) * 10000L + (i % 4L) * 1000L + i % 500L)
    }.toDF("id", "lang", "source", "n")
    MergeTable.create(spark, dir, base, "id", nBuckets = 2)
    val v = MergeTable.clusterByCols(spark, dir, Seq("lang", "source"),
      filesPerBucket = 8)
    // the lexicographic layout preserved content exactly
    assert(MergeTable.read(spark, dir, v).count() == 2400L)
    spark.read.format("graft")
      .option("path", dir).option("version", v.toString).load()
      .createOrReplaceTempView("gls")

    val q = spark.sql(
      """SELECT lang, source, COUNT(*) AS n_docs, MIN(n) AS mn, MAX(n) AS mx
        |FROM gls GROUP BY lang, source ORDER BY lang, source""".stripMargin)
    val got = q.as[(String, String, Long, Long, Long)].collect().toSeq
    val want = MergeTable.read(spark, dir, v).groupBy("lang", "source")
      .agg(count(lit(1)), min($"n"), max($"n")).orderBy("lang", "source")
      .as[(String, String, Long, Long, Long)].collect().toSeq
    assert(got == want, s"multi-key grouped pushdown must equal the scan:\n$got\n$want")
    assert(got.size == 12)
    // the rewrite fired: metadata groups merged through the union, or
    // (with every file pair-constant) the whole plan collapsed
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_meta_gcnt") || !hasScan(q),
      s"the multi-key grouped rewrite must fire:\n$plan")

    // filtered multi-key composes: range conjunct + two group keys
    val qf = spark.sql(
      """SELECT lang, source, COUNT(*) AS n_docs FROM gls
        |WHERE n >= 10000 GROUP BY lang, source ORDER BY lang, source""".stripMargin)
    val gotF = qf.as[(String, String, Long)].collect().toSeq
    val wantF = MergeTable.read(spark, dir, v).where($"n" >= 10000L)
      .groupBy("lang", "source").agg(count(lit(1))).orderBy("lang", "source")
      .as[(String, String, Long)].collect().toSeq
    assert(gotF == wantF)
  }

  test("COUNT(DISTINCT col): constant files contribute their value, spanning files scan, nulls and strings exact") {
    val dir = tmpDir()
    // lang runs cluster into constant files; d is numeric with planted
    // nulls and an all-null run; id spans every file (never constant)
    val base = (0L until 2000L).map { i =>
      val lang = Seq("de", "en", "fr", "ru", "xx")((i / 400L).toInt)
      (i, lang, if (i < 400) null else java.lang.Long.valueOf(i / 400L))
    }.toDF("id", "lang", "d")
    MergeTable.create(spark, dir, base, "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "lang", filesPerBucket = 4)
    spark.read.format("graft")
      .option("path", dir).option("version", v.toString).load()
      .createOrReplaceTempView("dct")

    // string distinct over the clustered column: most files constant
    val q = spark.sql("SELECT COUNT(DISTINCT lang) AS n FROM dct")
    assert(q.as[Long].head() == 5L)
    val plan = q.queryExecution.optimizedPlan.toString
    assert(plan.contains("__graft_meta_dval") || !hasScan(q),
      s"the distinct pushdown must fire:\n$plan")

    // numeric distinct with nulls (ignored) and an all-null run
    val qd = spark.sql("SELECT COUNT(DISTINCT d) AS n FROM dct")
    assert(qd.as[Long].head() ==
      MergeTable.read(spark, dir, v).select("d").distinct()
        .filter($"d".isNotNull).count())

    // filtered distinct composes with the lattice
    val qf = spark.sql(
      "SELECT COUNT(DISTINCT lang) AS n FROM dct WHERE id < 800")
    assert(qf.as[Long].head() == 2L)

    // a never-constant column falls back to an exact scan, same answer
    val qs = spark.sql("SELECT COUNT(DISTINCT id) AS n FROM dct")
    assert(qs.as[Long].head() == 2000L)
  }

  test("ledger-aware hybrid: pending merge-on-read deletes keep the pushdown, only ledgered buckets scan") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 4000L).map(i => (i, i / 4)).toDF("id", "x"), "id", nBuckets = 8)
    val nFiles = MergeTable.fileIndex(spark, dir).values.flatten.size
    // ledger-delete a handful of keys (no data rewrite — the Iceberg
    // equality-delete shape); their buckets' files must scan, every
    // other bucket still answers from metadata
    MergeTable.deleteKeys(spark, dir, Seq(10L, 20L).toDF("id"), "id")
    val dvBuckets = MergeTable.pendingDeletes(spark, dir).map(_.bucket).toSet
    assert(dvBuckets.nonEmpty && dvBuckets.size < 8)
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("ledg")

    // round 13 fell back to a FULL scan under any pending ledger; the
    // rewrite must now fire with only the ledgered buckets' files in
    // the boundary subset
    val q = spark.sql("SELECT COUNT(*) AS n, COUNT(x) AS nx FROM ledg")
    assert(q.queryExecution.optimizedPlan.toString
      .contains("__graft_boundary_count"),
      "the ledger-aware hybrid must fire:\n" + q.queryExecution.optimizedPlan)
    assert(q.as[(Long, Long)].head() == ((3998L, 3998L)),
      "the count must be LOGICAL (deletes applied)")
    val (_, subsetTotal) = graft.sources.GraftRelation.lastPruned
    assert(subsetTotal < nFiles,
      s"only ledgered buckets may scan: $subsetTotal of $nFiles files")

    // filtered + ledgered composes: deleted key 10 sits inside x < 100
    val qf = spark.sql("SELECT COUNT(*) AS n FROM ledg WHERE x < 100")
    assert(qf.as[Long].head() ==
      MergeTable.read(spark, dir).where($"x" < 100).count())

    // grouped + ledgered composes too
    val dir2 = tmpDir()
    MergeTable.create(spark, dir2,
      (0L until 600L).map(i => (i, if (i < 300) "en" else "fr"))
        .toDF("id", "lang"), "id", nBuckets = 4)
    MergeTable.deleteKeys(spark, dir2, Seq(5L).toDF("id"), "id")
    spark.read.format("graft").option("path", dir2).load()
      .createOrReplaceTempView("ledg2")
    val qg = spark.sql(
      "SELECT lang, COUNT(*) AS n FROM ledg2 GROUP BY lang ORDER BY lang")
    val gotG = qg.as[(String, Long)].collect().toSeq
    val wantG = MergeTable.read(spark, dir2).groupBy("lang").count()
      .orderBy("lang").as[(String, Long)].collect().toSeq
    assert(gotG == wantG, s"grouped ledger-aware counts: $gotG vs $wantG")
  }

  test("hybrid boundary scan stays on the relation's pinned version while the table advances") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 4000L).map(i => (i, i / 4)).toDF("id", "x"), "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 4)
    // relation constructed WITHOUT a version option: it pins v = latest
    // AT CONSTRUCTION; a temp view holds that exact relation alive
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("pinhyb")
    val want = (0L until 4000L).count(_ / 4 < 437).toLong

    // the table advances UNDER the view: a merge rewrites both buckets,
    // so every file of the pinned version is absent from the new head
    MergeTable.merge(spark, dir,
      (0L until 50L).map(i => (i, 9999L)).toDF("id", "x"), "id")
    assert(MergeTable.latestVersion(spark, dir) > v)

    // round 13's subset copy re-resolved "latest": the pinned version's
    // boundary rel-paths matched nothing in the new head, the boundary
    // scan silently contributed ZERO, and the count undercounted. The
    // subset must pin version = rel.v (round-14 ADVICE).
    val q = spark.sql("SELECT COUNT(*) AS n FROM pinhyb WHERE x < 437")
    assert(q.queryExecution.optimizedPlan.toString
      .contains("__graft_boundary_count"),
      "the hybrid rewrite must fire:\n" + q.queryExecution.optimizedPlan)
    assert(q.as[Long].head() == want,
      "the hybrid count must answer entirely from the pinned version")
  }

  test("SUM/AVG answer from format-4 sum lines: no scan node, scan-exact") {
    val dir = tmpDir()
    val base = (0L until 1000L).map(i =>
      (i, if (i % 10 == 0) null else java.lang.Long.valueOf(i % 97),
        i.toInt % 31))
      .toDF("id", "x", "y")
    MergeTable.create(spark, dir, base, "id", nBuckets = 4)
    MergeTable.merge(spark, dir,
      Seq((5L, java.lang.Long.valueOf(500L), 7)).toDF("id", "x", "y"), "id")
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("msum")

    val q = spark.sql(
      """SELECT SUM(x) AS sx, AVG(x) AS ax, SUM(y) AS sy, AVG(y) AS ay,
        |       COUNT(*) AS n
        |FROM msum""".stripMargin)
    assert(!hasScan(q), "sum/avg over a format-4 table must not scan:\n" +
      q.queryExecution.executedPlan)
    assert(q.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    val got = q.as[(Long, Double, Long, Double, Long)].head()
    val want = MergeTable.read(spark, dir)
      .agg(sum($"x"), avg($"x"), sum($"y"), avg($"y"), count(lit(1)))
      .as[(Long, Double, Long, Double, Long)].head()
    assert(got == want, s"metadata sums must equal the scan: $got vs $want")

    // double input is NEVER pushed (fp sums are order-dependent)
    val dir2 = tmpDir()
    MergeTable.create(spark, dir2,
      (0L until 100L).map(i => (i, i / 10.0)).toDF("id", "d"), "id",
      nBuckets = 2)
    val dq = spark.read.format("graft").option("path", dir2).load()
      .agg(sum($"d").as("sd"))
    assert(hasScan(dq), "double SUM must fall back to the scan")

    // an all-null sum column yields SQL NULL from metadata
    val dir3 = tmpDir()
    MergeTable.create(spark, dir3,
      (0L until 100L).map(i => (i, null: java.lang.Long)).toDF("id", "z"),
      "id", nBuckets = 2)
    val nq = spark.read.format("graft").option("path", dir3).load()
      .agg(sum($"z").as("sz"), avg($"z").as("az"))
    assert(!hasScan(nq))
    val r = nq.collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1), s"all-null SUM/AVG must be NULL: $r")
  }

  test("SUM/AVG hybrid: filtered and grouped merges stay scan-exact on a clustered layout") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 4000L).map { i =>
        val lang = if (i < 1500) "en" else if (i < 3000) "fr" else "de"
        (i, i / 4, lang,
          if (i % 5 == 0) null else java.lang.Long.valueOf(i % 113))
      }.toDF("id", "x", "lang", "opt"), "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 4)
    spark.read.format("graft")
      .option("path", dir).option("version", v.toString).load()
      .createOrReplaceTempView("hsum")

    // filtered: boundary files merge their exact sums with metadata
    val fq = spark.sql(
      """SELECT COUNT(*) AS n, SUM(x) AS sx, AVG(x) AS ax,
        |       SUM(opt) AS so, AVG(opt) AS ao
        |FROM hsum WHERE x < 437""".stripMargin)
    assert(fq.queryExecution.optimizedPlan.toString
      .contains("__graft_boundary_"),
      "the hybrid sum rewrite must fire:\n" + fq.queryExecution.optimizedPlan)
    val gotF = fq.as[(Long, Long, Double, Long, Double)].head()
    val wantF = MergeTable.read(spark, dir, v).where($"x" < 437)
      .agg(count(lit(1)), sum($"x"), avg($"x"), sum($"opt"), avg($"opt"))
      .as[(Long, Long, Double, Long, Double)].head()
    assert(gotF == wantF, s"filtered hybrid sums: $gotF vs $wantF")

    // grouped: lang-clustered files attribute their sum lines per group
    val v2 = MergeTable.clusterBy(spark, dir, "lang", filesPerBucket = 3)
    spark.read.format("graft")
      .option("path", dir).option("version", v2.toString).load()
      .createOrReplaceTempView("gsum")
    val gq = spark.sql(
      """SELECT lang, SUM(x) AS sx, AVG(opt) AS ao, COUNT(*) AS n
        |FROM gsum GROUP BY lang ORDER BY lang""".stripMargin)
    val gotG = gq.as[(String, Long, Double, Long)].collect().toSeq
    val wantG = MergeTable.read(spark, dir, v2)
      .groupBy($"lang").agg(sum($"x").as("sx"), avg($"opt").as("ao"),
        count(lit(1)).as("n"))
      .orderBy($"lang").as[(String, Long, Double, Long)].collect().toSeq
    assert(gotG == wantG, s"grouped sums: $gotG vs $wantG")

    // a pending merge-on-read ledger: sums ride the same ledgered-
    // bucket Boundary forcing as counts — deleted rows' sums never
    // leak in from the sidecar
    MergeTable.deleteKeys(spark, dir, Seq(10L, 3500L).toDF("id"), "id")
    val lq = spark.read.format("graft").option("path", dir).load()
      .agg(sum($"x").as("sx"), avg($"x").as("ax"), count(lit(1)).as("n"))
    val gotL = lq.as[(Long, Double, Long)].head()
    val wantL = MergeTable.read(spark, dir)
      .agg(sum($"x"), avg($"x"), count(lit(1)))
      .as[(Long, Double, Long)].head()
    assert(gotL == wantL, s"ledgered sums: $gotL vs $wantL")
  }

  test("degrade: a sidecar without sum lines (pre-format-4) falls back to the scan") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 500L).map(i => (i, i % 53)).toDF("id", "x"), "id",
      nBuckets = 2)
    // simulate a pre-format-4 sidecar: strip every #sum line in place
    val zones = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".zones"))
    assert(zones.nonEmpty)
    zones.foreach { f =>
      val kept = scala.io.Source.fromFile(f).getLines()
        .filterNot(_.split("\t")(1).endsWith("#sum")).mkString("\n") + "\n"
      java.nio.file.Files.write(f.toPath, kept.getBytes("UTF-8"))
      // the raw rewrite invalidates Hadoop's ChecksumFileSystem sidecar
      new java.io.File(f.getParentFile, s".${f.getName}.crc").delete()
    }
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("nosum")
    val q = spark.sql("SELECT SUM(x) AS sx FROM nosum")
    assert(hasScan(q), "sum without sidecar sum lines must scan:\n" +
      q.queryExecution.executedPlan)
    assert(q.as[Long].head() ==
      (0L until 500L).map(_ % 53).sum)
    // counts keep their zero-scan path — the degrade is sum-local
    val cq = spark.sql("SELECT COUNT(*) AS n FROM nosum")
    assert(!hasScan(cq), "COUNT must still answer from metadata")
    assert(cq.as[Long].head() == 500L)
  }

  test("COUNT(*) alone over a partially-ledgered table: zero-column boundary scan (round-14 ADVICE)") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 800L).map(i => (i, i % 13)).toDF("id", "x"), "id",
      nBuckets = 8)
    // one deleted key ledgers exactly one bucket; COUNT(*) with no
    // other aggregate projects ZERO columns into the boundary subset
    MergeTable.deleteKeys(spark, dir, Seq(42L).toDF("id"), "id")
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("zcol")
    val q = spark.sql("SELECT COUNT(*) AS n FROM zcol")
    assert(q.queryExecution.optimizedPlan.toString
      .contains("__graft_boundary_count"),
      "the ledger-aware hybrid must fire:\n" + q.queryExecution.optimizedPlan)
    assert(q.as[Long].head() == 799L)
    // the boundary subset is the ledgered bucket only
    val nFiles = MergeTable.fileIndex(spark, dir).values.flatten.size
    assert(graft.sources.GraftRelation.lastPruned._2 < nFiles,
      "only the ledgered bucket's files may scan")
  }

  test("MIN/MAX over timestamp and date columns answer from metadata; wrapped aliases push down (round 16)") {
    val dir = tmpDir()
    // engine session default (Graft.registerAll): parquet timestamps
    // write as INT64 MICROS, so footer stats are the epoch values
    val base = spark.range(0, 600).select(
      col("id"),
      expr("timestamp_micros(1704067200000000L + id * 3600000000L)").as("ts"),
      expr("date_add(DATE'2024-01-01', cast(id % 200 as int))").as("d"),
      // every 10th ts is null: the fold must skip nulls like SQL
      expr("case when id % 10 = 0 then null else " +
        "timestamp_micros(1704067200000000L + id * 60000000L) end").as("ts2"))
    MergeTable.create(spark, dir, base, "id", nBuckets = 4)
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("mts")

    val q = spark.sql(
      """SELECT MIN(ts) AS mn, MAX(ts) AS mx, MIN(d) AS dmn, MAX(d) AS dmx,
        |       MIN(ts2) AS t2mn, MAX(ts2) AS t2mx, COUNT(ts2) AS nts2
        |FROM mts""".stripMargin)
    assert(!hasScan(q), "date/timestamp MIN/MAX must answer from metadata:\n" +
      q.queryExecution.executedPlan)
    assert(q.queryExecution.optimizedPlan.toString.contains("LocalRelation"))
    val scan = MergeTable.read(spark, dir).agg(
      min($"ts"), max($"ts"), min($"d"), max($"d"),
      min($"ts2"), max($"ts2"), count($"ts2"))
    assert(q.collect().toSeq == scan.collect().toSeq,
      "the metadata answer must equal the scan answer")

    // the epoch-projection form REAL queries use — the optimizer
    // collapses unix_micros INTO the aggregate, so the rewrite must see
    // through deterministic wrappers (round 16)
    val wrapped = spark.sql(
      """SELECT unix_micros(MIN(ts)) AS mn_us, unix_micros(MAX(ts)) AS mx_us,
        |       MAX(id) - MIN(id) AS spread
        |FROM mts""".stripMargin)
    assert(!hasScan(wrapped), "wrapped aggregates must still push down:\n" +
      wrapped.queryExecution.executedPlan)
    val (mnUs, mxUs, spread) = wrapped.as[(Long, Long, Long)].head()
    assert(mnUs == 1704067200000000L && spread == 599L)
    assert(mxUs == 1704067200000000L + 599L * 3600000000L)

    // ts-range WHERE lattice: a cut inside the range leaves only
    // boundary files scanning, and values stay exact
    val v = MergeTable.clusterBy(spark, dir, "ts", filesPerBucket = 4)
    spark.read.format("graft")
      .option("path", dir).option("version", v.toString).load()
      .createOrReplaceTempView("mts2")
    val cut = spark.sql(
      """SELECT COUNT(*) AS n FROM mts2
        |WHERE ts >= TIMESTAMP'2024-01-11 00:00:00'""".stripMargin)
    assert(cut.as[Long].head() == 600L - 240L,
      "the ts-range hybrid count must be exact")
    val nFiles = MergeTable.fileIndex(spark, dir, v).values.flatten.size
    assert(graft.sources.GraftRelation.lastPruned._2 < nFiles,
      "only ts-boundary files may scan under the clustered layout")
  }

  test("time-derived grouped pushdown: GROUP BY day/week truncations decide from endpoint zones; cyclic extractors refuse (round 16)") {
    val dir = tmpDir()
    // 40 days of hourly rows, ts-clustered: files span ~3 days, so
    // CAST(ts AS DATE) groups straddle but date_trunc('week') runs are
    // mostly file-constant
    MergeTable.create(spark, dir,
      spark.range(0, 960).select(col("id"),
        expr("timestamp_micros(1704067200000000L + id * 3600000000L)").as("ts"),
        (col("id") % 7).as("x")),
      "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "ts", filesPerBucket = 6)
    spark.read.format("graft")
      .option("path", dir).option("version", v.toString).load()
      .createOrReplaceTempView("gday")

    val byDay = spark.sql(
      """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n, MIN(x) AS mnx
        |FROM gday GROUP BY 1 ORDER BY day""".stripMargin)
    val byDayScan = MergeTable.read(spark, dir, v)
      .groupBy(to_date($"ts").as("day"))
      .agg(count(lit(1)).as("n"), min($"x").as("mnx")).orderBy("day")
    assert(byDay.collect().toSeq == byDayScan.collect().toSeq,
      "grouped-by-day must equal the scan")

    val byWeek = spark.sql(
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week, COUNT(*) AS n
        |FROM gday GROUP BY 1 ORDER BY week""".stripMargin)
    assert(byWeek.queryExecution.optimizedPlan.toString
      .contains("__graft_meta_gcnt") ||
      byWeek.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
      "the weekly histogram must carry a metadata branch:\n" +
        byWeek.queryExecution.optimizedPlan)
    val byWeekScan = MergeTable.read(spark, dir, v)
      .groupBy(date_trunc("week", $"ts").cast("date").as("week"))
      .agg(count(lit(1)).as("n")).orderBy("week")
    assert(byWeek.collect().toSeq == byWeekScan.collect().toSeq,
      "grouped-by-week must equal the scan")
    // only week-straddling files scan
    val nFiles = MergeTable.fileIndex(spark, dir, v).values.flatten.size
    assert(graft.sources.GraftRelation.lastPruned._2 < nFiles,
      "only week-boundary files may scan")

    // CYCLIC extractor: hour(ts) endpoint equality would NOT prove
    // constancy (a file spanning 24h has equal endpoint hours) — the
    // shape must refuse the metadata path and stay scan-exact
    val byHour = spark.sql(
      """SELECT hour(ts) AS h, COUNT(*) AS n FROM gday
        |GROUP BY 1 ORDER BY h""".stripMargin)
    assert(!byHour.queryExecution.optimizedPlan.toString
      .contains("__graft_meta_gcnt"),
      "cyclic extractors must never take the metadata path")
    assert(byHour.count() == 24)
  }

  test("string MIN/MAX: exact zone bounds answer from metadata; truncated bounds force the boundary scan (round 17)") {
    // short values everywhere: every file's str zone stores the value
    // itself (exactness markers set) → zero-scan LocalRelation
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 500L).map(i => (i, f"u$i%03d", if (i % 9 == 0) null else s"l${i % 5}"))
        .toDF("id", "url", "lang"),
      "id", nBuckets = 4)
    spark.read.format("graft").option("path", dir).load()
      .createOrReplaceTempView("mstr")
    val q = spark.sql(
      "SELECT MIN(url) AS mnu, MAX(url) AS mxu, MIN(lang) AS mnl, MAX(lang) AS mxl FROM mstr")
    assert(!hasScan(q), "exact string zones must answer from metadata:\n" +
      q.queryExecution.executedPlan)
    assert(q.as[(String, String, String, String)].head() ==
      (("u000", "u499", "l0", "l4")))

    // long values (> the 16-codepoint zone bound) in SOME files: those
    // files' bounds are inexact → they scan, short-value files still
    // fold, and the merged answer equals the full scan
    val dir2 = tmpDir()
    MergeTable.create(spark, dir2,
      (0L until 600L).map { i =>
        val s = if (i >= 580) s"zzzz-long-value-${"x" * 30}-$i"
          else f"v$i%03d"
        (i, s)
      }.toDF("id", "s"),
      "id", nBuckets = 2)
    val v2 = MergeTable.clusterBy(spark, dir2, "id", filesPerBucket = 4)
    spark.read.format("graft")
      .option("path", dir2).option("version", v2.toString).load()
      .createOrReplaceTempView("mstr2")
    val q2 = spark.sql("SELECT MIN(s) AS mn, MAX(s) AS mx FROM mstr2")
    val want = MergeTable.read(spark, dir2, v2)
      .agg(min($"s"), max($"s")).as[(String, String)].head()
    assert(q2.as[(String, String)].head() == want,
      "the hybrid string answer must equal the scan")
    assert(want._2.startsWith("zzzz-long-value-"),
      "the true max must be one of the truncation-length values")
    if (hasScan(q2)) {
      val nFiles = MergeTable.fileIndex(spark, dir2, v2).values.flatten.size
      assert(graft.sources.GraftRelation.lastPruned._2 < nFiles,
        "only inexact-bound files may scan")
    }

    // grouped: MIN/MAX(url) per lang over a lang-clustered layout
    val dir3 = tmpDir()
    MergeTable.create(spark, dir3,
      (0L until 600L).map { i =>
        val lang = if (i < 200) "de" else if (i < 400) "en" else "fr"
        (i, lang, f"u$i%03d")
      }.toDF("id", "lang", "url"),
      "id", nBuckets = 2)
    val v3 = MergeTable.clusterBy(spark, dir3, "lang", filesPerBucket = 3)
    spark.read.format("graft")
      .option("path", dir3).option("version", v3.toString).load()
      .createOrReplaceTempView("mstr3")
    val g = spark.sql(
      "SELECT lang, MIN(url) AS mn, MAX(url) AS mx, COUNT(*) AS n FROM mstr3 GROUP BY lang")
    val gWant = MergeTable.read(spark, dir3, v3)
      .groupBy($"lang").agg(min($"url").as("mn"), max($"url").as("mx"),
        count(lit(1)).as("n"))
    assert(g.collect().toSet == gWant.collect().toSet,
      "grouped string extremes must equal the scan")
  }

  test("grouped wrapped aliases: per-week SUM/MAX(ts) pushes through scalar wrappers (round 17)") {
    val dir = tmpDir()
    // 40 days hourly, ts-clustered — the events_meta_sum_per_week shape:
    // GROUP BY a monotone week floor, slots carry unix_micros(MAX(ts))
    // and a SUM, both inside scalar wrappers the optimizer collapsed
    MergeTable.create(spark, dir,
      spark.range(0, 960).select(col("id"),
        expr("timestamp_micros(1704067200000000L + id * 3600000000L)").as("ts"),
        (col("id") % 11).as("w")),
      "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "ts", filesPerBucket = 6)
    spark.read.format("graft")
      .option("path", dir).option("version", v.toString).load()
      .createOrReplaceTempView("gweek")
    val q = spark.sql(
      """SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |  SUM(w) AS sw, unix_micros(MAX(ts)) AS mx_us,
        |  MAX(id) - MIN(id) AS spread
        |FROM gweek GROUP BY 1 ORDER BY week""".stripMargin)
    assert(q.queryExecution.optimizedPlan.toString.contains("__graft_meta_g") ||
      q.queryExecution.optimizedPlan.toString.contains("LocalRelation"),
      "the wrapped grouped aggregate must carry a metadata branch:\n" +
        q.queryExecution.optimizedPlan)
    val want = MergeTable.read(spark, dir, v)
      .groupBy(date_trunc("week", $"ts").cast("date").as("week"))
      .agg(sum($"w").as("sw"), unix_micros(max($"ts")).as("mx_us"),
        (max($"id") - min($"id")).as("spread"))
      .orderBy("week")
    assert(q.collect().toSeq == want.collect().toSeq,
      "wrapped grouped metadata answers must equal the scan")
  }

  test("time-derived keys over session-zoned timestamps refuse non-fixed-offset zones (round 17)") {
    // a zone with DST transitions makes instant->local truncation
    // non-monotone (a historical midnight rollback maps later instants
    // into an earlier day), so equal truncated endpoints no longer
    // prove file-constancy — the metadata path must refuse and the
    // answer must come from the (session-zone-correct) scan
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      spark.range(0, 480).select(col("id"),
        expr("timestamp_micros(1704067200000000L + id * 3600000000L)").as("ts")),
      "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "ts", filesPerBucket = 6)
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Sao_Paulo")
      spark.read.format("graft")
        .option("path", dir).option("version", v.toString).load()
        .createOrReplaceTempView("gtz")
      val q = spark.sql(
        """SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
          |FROM gtz GROUP BY 1 ORDER BY day""".stripMargin)
      assert(!q.queryExecution.optimizedPlan.toString.contains("__graft_meta_g"),
        "derived keys over session-zoned ts must refuse a transition-ful zone")
      val want = MergeTable.read(spark, dir, v)
        .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("n"))
        .orderBy("day")
      assert(q.collect().toSeq == want.collect().toSeq)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("time travel: the pushed answer comes from the relation's pinned version") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 100L).map(i => (i, i)).toDF("id", "x"), "id", nBuckets = 2)
    MergeTable.merge(spark, dir,
      Seq((200L, 999L)).toDF("id", "x"), "id")

    val v1 = spark.read.format("graft")
      .option("path", dir).option("version", "1").load()
      .agg(count(lit(1)).as("n"), max($"x").as("mx"))
    assert(!hasScan(v1))
    assert(v1.as[(Long, Long)].head() == ((100L, 99L)))

    val v2 = spark.read.format("graft").option("path", dir).load()
      .agg(count(lit(1)).as("n"), max($"x").as("mx"))
    assert(v2.as[(Long, Long)].head() == ((101L, 999L)))
  }
}
