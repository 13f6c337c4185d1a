package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.MergeTable

/** Zone-pruned global top-k + bare-LIMIT file pruning
  * ([[graft.plans.GraftTopK]]): `ORDER BY c LIMIT k` over a clustered
  * graft table must scan only the files the k-th bound admits (the
  * Sort/Limit stay above — Spark still plans TakeOrderedAndProject),
  * bare `LIMIT k` must serve from the fewest clean files, and every
  * rewritten answer must equal the unpruned scan's. */
class GraftTopKSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-topk").toString

  private def filesOf(dir: String, v: Int = -1): Int =
    MergeTable.fileIndex(spark, dir, v).values.flatten.size

  private def rel(dir: String, v: Int = -1): DataFrame = {
    val r = spark.read.format("graft").option("path", dir)
    (if (v > 0) r.option("version", v.toString) else r).load()
  }

  test("ORDER BY DESC LIMIT: only tail files scan, result equals the full sort") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 4000L).map(i => (i, i / 2, s"d$i")).toDF("id", "x", "tag"),
      "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 6)
    val n = filesOf(dir, v)

    val q = rel(dir, v).orderBy($"x".desc, $"id").limit(10)
    val got = q.as[(Long, Long, String)].collect().toSeq
    val want = MergeTable.read(spark, dir, v)
      .orderBy($"x".desc, $"id").limit(10)
      .as[(Long, Long, String)].collect().toSeq
    assert(got == want, s"pruned top-k must equal the full sort")
    assert(q.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"),
      "the sort+limit must still plan as TakeOrderedAndProject:\n" +
        q.queryExecution.executedPlan)
    val (_, total) = graft.sources.GraftRelation.lastPruned
    assert(total < n, s"top-k must scan a file subset ($total of $n)")
  }

  test("ORDER BY ASC LIMIT (nulls-first default) and explicit null orderings stay scan-exact") {
    val dir = tmpDir()
    // x null on a stripe of rows — exercises the null-prefix math
    MergeTable.create(spark, dir,
      (0L until 3000L).map(i =>
        (i, if (i % 17 == 0) null else java.lang.Long.valueOf(i / 2)))
        .toDF("id", "x"),
      "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 5)

    for (order <- Seq($"x".asc, $"x".asc_nulls_last, $"x".desc,
        $"x".desc_nulls_first)) {
      val got = rel(dir, v).orderBy(order, $"id").limit(7)
        .select($"id").as[Long].collect().toSeq
      val want = MergeTable.read(spark, dir, v).orderBy(order, $"id")
        .limit(7).select($"id").as[Long].collect().toSeq
      assert(got == want, s"order $order must be scan-exact")
    }
    // the no-null ascending case prunes (null-free → prefix quota = k)
    val dir2 = tmpDir()
    MergeTable.create(spark, dir2,
      (0L until 4000L).map(i => (i, i / 2)).toDF("id", "x"), "id",
      nBuckets = 2)
    val v2 = MergeTable.clusterBy(spark, dir2, "x", filesPerBucket = 6)
    val q = rel(dir2, v2).orderBy($"x".asc, $"id").limit(10)
    assert(q.as[(Long, Long)].collect().toSeq ==
      MergeTable.read(spark, dir2, v2).orderBy($"x".asc, $"id").limit(10)
        .as[(Long, Long)].collect().toSeq)
    val (_, total2) = graft.sources.GraftRelation.lastPruned
    assert(total2 < filesOf(dir2, v2), "ascending top-k must prune too")
  }

  test("pending delete ledger: top-k refuses over-pruning and stays exact") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 2000L).map(i => (i, i / 2)).toDF("id", "x"), "id",
      nBuckets = 4)
    val v = MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 4)
    // delete the current TOP rows — the pruned scan must still find
    // the post-delete top-k (ledgered buckets always stay in the scan)
    MergeTable.deleteKeys(spark, dir,
      (1990L until 2000L).toDF("id"), "id")
    val got = rel(dir).orderBy($"x".desc, $"id").limit(5)
      .as[(Long, Long)].collect().toSeq
    val want = MergeTable.read(spark, dir).orderBy($"x".desc, $"id")
      .limit(5).as[(Long, Long)].collect().toSeq
    assert(got == want, "top-k under a pending ledger must be scan-exact")
  }

  test("bare LIMIT serves from the fewest clean files") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 4000L).map(i => (i, i % 100)).toDF("id", "x"), "id",
      nBuckets = 4)
    val n = filesOf(dir)
    val q = rel(dir).limit(25)
    assert(q.count() == 25L)
    val (_, total) = graft.sources.GraftRelation.lastPruned
    assert(total < n, s"a bare LIMIT must scan a file subset ($total of $n)")

    // k past the table size: every row still arrives
    assert(rel(dir).limit(10000).count() == 4000L)

    // a sorted limit must NEVER take the bare-limit path: the answer
    // is the global top rows, not any rows
    val sorted = rel(dir).orderBy($"id".desc).limit(3)
      .as[(Long, Long)].collect().toSeq
    assert(sorted == Seq((3999L, 99L), (3998L, 98L), (3997L, 97L)))
  }

  test("WHERE + ORDER BY LIMIT compose: the filter lattice and the k-th bound prune together") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 4000L).map { i =>
        val lang = if (i % 3 == 0) "en" else "fr"
        (i, i / 4, lang)
      }.toDF("id", "x", "lang"), "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 6)
    val n = filesOf(dir, v)

    // range filter + top-k: FullyOut slabs leave the scan, the
    // threshold forms over FullyIn files only
    val q = rel(dir, v).where($"x" >= 100 && $"x" < 800)
      .orderBy($"x".desc, $"id").limit(10)
    val got = q.as[(Long, Long, String)].collect().toSeq
    val want = MergeTable.read(spark, dir, v)
      .where($"x" >= 100 && $"x" < 800).orderBy($"x".desc, $"id").limit(10)
      .as[(Long, Long, String)].collect().toSeq
    assert(got == want, "filtered top-k must equal the full evaluation")
    val (_, total) = graft.sources.GraftRelation.lastPruned
    assert(total < n, s"filtered top-k must scan a subset ($total of $n)")

    // a filter on ANOTHER column (boundary everywhere at this layout):
    // result stays exact, files conservatively kept
    val q2 = rel(dir, v).where($"lang" === "en")
      .orderBy($"x".desc, $"id").limit(5)
    assert(q2.as[(Long, Long, String)].collect().toSeq ==
      MergeTable.read(spark, dir, v).where($"lang" === "en")
        .orderBy($"x".desc, $"id").limit(5)
        .as[(Long, Long, String)].collect().toSeq)

    // filtered bare LIMIT: the quota forms over FullyIn files only
    val q3 = rel(dir, v).where($"x" >= 200 && $"x" < 900).limit(20)
    assert(q3.count() == 20L)
    assert(q3.collect().forall { r =>
      val x = r.getLong(1); x >= 200 && x < 900 })
    val (_, total3) = graft.sources.GraftRelation.lastPruned
    assert(total3 < n, s"filtered limit must scan a subset ($total3 of $n)")

    // an all-out filter under a limit yields zero rows, zero files
    assert(rel(dir, v).where($"x" > 99999).orderBy($"x".desc).limit(3)
      .count() == 0L)
  }

  test("ties at the k-th bound survive: strict exclusion only") {
    val dir = tmpDir()
    // heavy duplication: x has long runs of equal values, so the k-th
    // bound is always a tie spanning file boundaries
    MergeTable.create(spark, dir,
      (0L until 3000L).map(i => (i, i / 300)).toDF("id", "x"), "id",
      nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 5)
    for (k <- Seq(1, 10, 299, 300, 301)) {
      val got = rel(dir, v).orderBy($"x".desc, $"id").limit(k)
        .as[(Long, Long)].collect().toSeq
      val want = MergeTable.read(spark, dir, v).orderBy($"x".desc, $"id")
        .limit(k).as[(Long, Long)].collect().toSeq
      assert(got == want, s"k=$k over tied runs must be scan-exact")
    }
  }

  test("string sort column: truncated bounds only weaken the threshold, never lose a row") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 2000L).map(i => (i, f"key-$i%06d-" + "pad" * 10))
        .toDF("id", "s"),
      "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "s", filesPerBucket = 5)
    val got = rel(dir, v).orderBy($"s".desc, $"id").limit(8)
      .select($"id").as[Long].collect().toSeq
    val want = MergeTable.read(spark, dir, v).orderBy($"s".desc, $"id")
      .limit(8).select($"id").as[Long].collect().toSeq
    assert(got == want, "string top-k must be scan-exact under truncation")
  }

  test("multi-key fold: ORDER BY lang, n on a clusterByCols layout prunes strictly below the single-key fold (round 16)") {
    val dir = tmpDir()
    // four long first-key runs: the single-key fold can only exclude
    // OTHER languages (every 'aa' file ties the threshold), while the
    // lexicographic tuple fold also excludes the 'aa' files whose
    // second-key runs sit past the k-th bound
    val langs = Seq("aa", "bb", "cc", "dd")
    MergeTable.create(spark, dir,
      (0L until 4000L).map(i => (i, langs((i / 1000L).toInt), i % 1000))
        .toDF("id", "lang", "n"),
      "id", nBuckets = 2)
    val v = MergeTable.clusterByCols(spark, dir, Seq("lang", "n"),
      filesPerBucket = 16)
    val nFiles = filesOf(dir, v)
    val perLang = nFiles / langs.size

    val q = rel(dir, v).orderBy($"lang".asc, $"n".asc, $"id").limit(10)
    val got = q.as[(Long, String, Long)].collect().toSeq
    val want = MergeTable.read(spark, dir, v)
      .orderBy($"lang".asc, $"n".asc, $"id").limit(10)
      .as[(Long, String, Long)].collect().toSeq
    assert(got == want, "multi-key pruned top-k must equal the full sort")
    val (_, total) = graft.sources.GraftRelation.lastPruned
    assert(total < perLang,
      s"the tuple fold must beat the single-key fold's floor of one " +
        s"whole first-key run ($total vs $perLang of $nFiles)")

    // mixed directions stay exact too
    val mixed = rel(dir, v).orderBy($"lang".desc, $"n".asc, $"id").limit(10)
      .as[(Long, String, Long)].collect().toSeq
    val mixedWant = MergeTable.read(spark, dir, v)
      .orderBy($"lang".desc, $"n".asc, $"id").limit(10)
      .as[(Long, String, Long)].collect().toSeq
    assert(mixed == mixedWant, "mixed-direction multi-key must be scan-exact")
  }

  test("timestamp sort column: ORDER BY ts DESC LIMIT prunes to the tail slab (round 16)") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      spark.range(0, 4000).select(col("id"),
        expr("timestamp_micros(1704067200000000L + id * 60000000L)").as("ts")),
      "id", nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "ts", filesPerBucket = 6)
    val n = filesOf(dir, v)
    val q = rel(dir, v).orderBy($"ts".desc, $"id").limit(10)
    val got = q.select($"id").as[Long].collect().toSeq
    val want = MergeTable.read(spark, dir, v).orderBy($"ts".desc, $"id")
      .limit(10).select($"id").as[Long].collect().toSeq
    assert(got == want, "ts top-k must be scan-exact")
    val (_, total) = graft.sources.GraftRelation.lastPruned
    assert(total < n, s"ts top-k must scan a file subset ($total of $n)")
  }

  test("a LocalLimit below the GlobalLimit refuses the rewrite (round-15 ADVICE)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit}
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 2000L).map(i => (i, i / 2)).toDF("id", "x"), "id",
      nBuckets = 2)
    val v = MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 5)
    val base = rel(dir, v).queryExecution.analyzed
    // GlobalLimit(10, LocalLimit(3, …)): the unpruned plan returns
    // min(10, Σ per-partition min(3, rows)) rows — pruning to the
    // fewest files reaching 10 could return different rows. Refuse.
    val short = GlobalLimit(Literal(10), LocalLimit(Literal(3), base))
    assert(graft.plans.GraftTopK(short) == short,
      "m < k must leave the plan unchanged")
    assert(!graft.plans.GraftTopK.prunableShape(short))
    // the covered shape (m == k) still rewrites on the same table
    val covered = GlobalLimit(Literal(10), LocalLimit(Literal(10), base))
    assert(graft.plans.GraftTopK(covered) != covered,
      "m == k must still prune")
  }
}
