package graft

import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.pipeline.MergeTable

/** Seeded fuzz of the hybrid filtered-count pushdown
  * ([[graft.plans.GraftMetaAggregate]] `decideExpr`): random
  * And/Or/In/InSet/IsNull/range trees over a hostile table — NULLs,
  * NaN-poisoned double zones, supplementary-plane strings, strings
  * past the 16-code-point zone truncation, a constant column, and
  * unsupported leaves forcing fallback — must produce EXACTLY the
  * count the same predicate yields over the raw engine read. The
  * decider sums FullyIn files from metadata and scans only Boundary
  * files, so any divergence is a file wrongly decided (an over- or
  * under-count Spark cannot repair). A trial counter pins that the
  * metadata path actually fires under fuzz rather than staying
  * trivially exact by always falling back.
  */
class MetaCountFuzzSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-cntfuzz").toString

  test("random filter-tree fuzz: hybrid COUNT ≡ exact scan COUNT") {
    val rnd = new Random(131)
    val dir = tmpDir()
    // string domain: multi-plane ordering hazards plus values past the
    // 16-cp zone truncation sharing prefixes (truncated bounds must
    // stay BOUNDS, never exact values)
    val langs = Seq("de", "en", "früh", "中文", "a", "😀x",
      "prefixprefixprefix-aaaa", "prefixprefixprefix-zzzz", null)
    val base = (0L until 3000L).map { i =>
      (i,
        if (i % 89 == 0) null else java.lang.Long.valueOf(i / 3),
        langs((i % 9).toInt),
        7L,
        if (i % 41 == 0) Double.NaN else (i % 250) / 2.0,
        if (i % 5 == 0) null else java.lang.Long.valueOf(i % 100))
    }.toDF("id", "a", "lang", "k", "d", "o")
    MergeTable.create(spark, dir, base, "id", nBuckets = 4)
    val v = MergeTable.clusterBy(spark, dir, "a", filesPerBucket = 4)

    val engine = MergeTable.read(spark, dir, v)
    val source = spark.read.format("graft")
      .option("path", dir).option("version", v.toString).load()

    def leaf(): Column = rnd.nextInt(14) match {
      case 0 => col("a") === rnd.nextLong(1100)
      case 1 => col("a") > rnd.nextLong(1100)
      case 2 => col("a") <= rnd.nextLong(1100)
      case 3 => col("a") >= rnd.nextLong(1100) // often FullyIn/FullyOut slabs
      case 4 => col("a").isin(Seq.fill(3)(rnd.nextLong(1100)): _*)
      // 16 elements → the optimizer converts In to InSet
      case 5 => col("a").isin(Seq.fill(16)(rnd.nextLong(1100)): _*)
      case 6 => col("lang") === langs(rnd.nextInt(8))
      case 7 => col("lang").isin(Seq.fill(2)(langs(rnd.nextInt(8))): _*)
      case 8 => col("lang").isNull
      case 9 => col("o").isNotNull
      case 10 => col("k").isin(7L, 9L) // constant column: FullyIn shape
      case 11 => col("d") > rnd.nextDouble() * 130 // NaN-poisoned zones
      case 12 => col("id") < rnd.nextLong(3500)
      case 13 => col("lang").contains("e") // outside the algebra → fallback
    }

    def pred(depth: Int): Column =
      if (depth == 0 || rnd.nextInt(3) == 0) leaf()
      else if (rnd.nextInt(2) == 0) pred(depth - 1) && pred(depth - 1)
      else pred(depth - 1) || pred(depth - 1)

    var metaTrials = 0
    for (trial <- 1 to 60) {
      val p = pred(if (trial % 2 == 0) 3 else 2)
      val q = source.filter(p).agg(count(lit(1)).as("n"))
      val want = engine.filter(p).count()
      val got = q.as[Long].head()
      assert(got == want,
        s"trial $trial diverged on predicate $p: got $got, want $want")
      val plan = q.queryExecution.optimizedPlan.toString
      if (plan.contains("__graft_boundary_count") ||
          !q.queryExecution.executedPlan.toString.contains("Scan GraftRelation"))
        metaTrials += 1
    }
    // the metadata decisions must actually fire under fuzz, not stay
    // trivially exact by always declining
    assert(metaTrials > 10,
      s"expected a non-trivial share of fuzzed counts to use metadata, got $metaTrials/60")

    // grouped trials: COUNT(*) + COUNT(o) GROUP BY a random column
    // under a random filter — the grouped lattice (constant-group
    // metadata attribution + Union merge with the boundary scan) must
    // match the exact grouped scan row for row
    for (trial <- 1 to 25) {
      val gcol = Seq("lang", "k", "a")(rnd.nextInt(3))
      val p = pred(2)
      val got = source.filter(p).groupBy(col(gcol))
        .agg(count(lit(1)).as("n"), count(col("o")).as("n_o"))
        .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2)))
        .toSet
      val want = engine.filter(p).groupBy(col(gcol))
        .agg(count(lit(1)).as("n"), count(col("o")).as("n_o"))
        .collect().map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2)))
        .toSet
      assert(got == want,
        s"grouped trial $trial diverged on GROUP BY $gcol, predicate $p")
    }
  }

  test("time-derived grouping fuzz: day/week/month/hour truncations ≡ exact scan over hostile ts layouts (round 16)") {
    val rnd = new Random(461)
    // hostile shape: irregular gaps (bursts + quiet stretches), exact
    // midnight boundary values, a null stripe, rows out of ts order
    // before clustering
    for (trial <- 1 to 6) {
      val dir = tmpDir()
      val n = 1500 + rnd.nextInt(1000)
      val gapScale = 1 + rnd.nextInt(5)
      val base = spark.range(0, n).select(
        col("id"),
        expr(s"""case when id % 97 = 0 then null else
          timestamp_micros(1704067200000000L
            + (id * id % 977) * ${gapScale}L * 3600000000L
            + (id % 24) * 3600000000L) end""").as("ts"),
        (col("id") % 13).as("x"))
      MergeTable.create(spark, dir, base, "id", nBuckets = 2)
      val v = MergeTable.clusterBy(spark, dir, "ts", filesPerBucket = 5)
      spark.read.format("graft")
        .option("path", dir).option("version", v.toString).load()
        .createOrReplaceTempView("tsfz")
      // day/week/month/year are monotone (may push); hour/minute are
      // CYCLIC extractors (must refuse the metadata path) — both sides
      // must equal the raw-engine answer either way
      val shapes = Seq(
        "CAST(ts AS DATE)",
        "CAST(date_trunc('week', ts) AS DATE)",
        "date_trunc('month', ts)",
        "date_trunc('hour', ts)",
        "hour(ts)")
      val g = shapes(rnd.nextInt(shapes.size))
      val got = spark.sql(
        s"""SELECT $g AS gk, COUNT(*) AS n, COUNT(x) AS nx, MIN(x) AS mnx
           |FROM tsfz GROUP BY 1 ORDER BY gk""".stripMargin)
        .collect().toSeq
      MergeTable.read(spark, dir, v).createOrReplaceTempView("tsfz_raw")
      val want = spark.sql(
        s"""SELECT $g AS gk, COUNT(*) AS n, COUNT(x) AS nx, MIN(x) AS mnx
           |FROM tsfz_raw GROUP BY 1 ORDER BY gk""".stripMargin)
        .collect().toSeq
      assert(got == want, s"ts-grouping trial $trial diverged on GROUP BY $g")
    }
  }
}
