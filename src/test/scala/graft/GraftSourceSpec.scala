package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{FileBlooms, MergeTable}
import graft.sources.GraftRelation

/** The `graft` DataSource ([[graft.sources.GraftSource]]): MergeTables
  * readable through plain `format("graft")` / SQL with the planner's
  * own pushed filters driving zone/string-zone/Bloom file skipping,
  * merge-on-read deletes applied, time travel via option, and
  * create/append writes mapping to create/MERGE.
  */
class GraftSourceSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-source").toString

  private def load(dir: String, version: Int = -1): DataFrame = {
    val r = spark.read.format("graft").option("path", dir)
    (if (version > 0) r.option("version", version.toString) else r).load()
  }

  test("format(\"graft\") reads ≡ MergeTable.read; time travel; MoR deletes applied") {
    val dir = tmpDir()
    val base = (0L until 500L).map(i => (i, s"n$i", (i % 7).toDouble))
      .toDF("id", "name", "score")
    MergeTable.create(spark, dir, base, "id", nBuckets = 4)
    MergeTable.merge(spark, dir,
      Seq((1L, "upd", 99.0, false), (2L, "", 0.0, true))
        .toDF("id", "name", "score", "_del"),
      "id", deleteCol = Some("_del"))
    MergeTable.deleteKeys(spark, dir, Seq(3L, 4L).toDF("id"), "id")

    def rows(df: DataFrame) =
      df.select("id", "name", "score").as[(Long, String, Double)]
        .collect().toSet
    assert(rows(load(dir)) == rows(MergeTable.read(spark, dir)))
    assert(rows(load(dir)).map(_._1).intersect(Set(2L, 3L, 4L)).isEmpty)
    assert(rows(load(dir, version = 1)) == rows(MergeTable.read(spark, dir, 1)))
    // schema matches, column pruning works
    assert(load(dir).schema == MergeTable.read(spark, dir).schema)
    assert(load(dir).select("name").where(col("name") === "upd")
      .as[String].collect().toSeq == Seq("upd"))
  }

  test("planner-pushed range predicate prunes files on a clustered layout, exactly") {
    val dir = tmpDir()
    val base = (0L until 6000L).map(i => (i, i % 6 match {
      case 0 => "de"; case 1 => "en"; case 2 => "es"
      case 3 => "fr"; case 4 => "it"; case _ => "pt"
    }, i)).toDF("id", "lang", "x")
    MergeTable.create(spark, dir, base, "id", nBuckets = 4)
    MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 4)

    val got = load(dir).where(col("x") >= 100 && col("x") <= 400)
      .select("id").as[Long].collect().toSet
    assert(got == (100L to 400L).toSet)
    val (kept, total) = GraftRelation.lastPruned
    assert(total >= 16 && kept < total / 2,
      s"range scan should skip most files on a clustered layout: $kept/$total")

    // string equality prunes via string zones after a lang clustering
    MergeTable.clusterBy(spark, dir, "lang", filesPerBucket = 4)
    val langs = load(dir).where(col("lang") === "de")
      .select("id").as[Long].collect().toSet
    assert(langs == (0L until 6000L).filter(_ % 6 == 0).toSet)
    val (k2, t2) = GraftRelation.lastPruned
    assert(k2 < t2 / 2, s"string equality should prune: $k2/$t2")

    // a DISJUNCTION prunes too — per-disjunct union of kept files
    // (round-13: Or trees yield evidence instead of degrading to a
    // full keep), and stays exact
    val or = load(dir)
      .where(col("lang") === "de" || col("x") === 1L)
      .select("id").as[Long].collect().toSet
    assert(or == (0L until 6000L).filter(i => i % 6 == 0 || i == 1L).toSet)

    // a pure range-Or on the clustered column skips everything outside
    // both windows
    MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 4)
    val twoWin = load(dir)
      .where((col("x") >= 100L && col("x") <= 200L) ||
        (col("x") >= 5000L && col("x") <= 5100L))
      .select("id").as[Long].collect().toSet
    assert(twoWin == ((100L to 200L) ++ (5000L to 5100L)).toSet)
    val (k3, t3) = GraftRelation.lastPruned
    // each window hits ~1 range-slice per bucket, so roughly half the
    // files survive on this 4-bucket layout — the point is that the Or
    // yields evidence at all (pre-round-13 this was a full keep)
    assert(k3 < t3 * 2 / 3, s"a two-window Or should prune files: $k3/$t3")
  }

  test("null probes prune on sidecar null counts; supplementary-plane IN lists stay exact") {
    val dir = tmpDir()
    // y is null exactly on the low-x half — after clustering by x the
    // null mass is localized, so both null probes have skippable files
    val base = (0L until 4000L).map { i =>
      (i, i, if (i < 2000) null else java.lang.Long.valueOf(i),
        // lang mixes a supplementary-plane string (U+1F600 — a
        // surrogate PAIR, leading unit 0xD83D) with a private-use BMP
        // char (U+E000): Java's UTF-16 code-unit order puts U+E000
        // ABOVE the emoji while code-point order puts it BELOW —
        // exactly the inversion that used to flip the IN-list [lo, hi]
        if (i % 3 == 0) "\ud83d\ude00x" else if (i % 3 == 1) "\ue000a" else "zz")
    }.toDF("id", "x", "y", "lang")
    MergeTable.create(spark, dir, base, "id", nBuckets = 4)
    MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 4)

    val nulls = load(dir).where(col("y").isNull).select("id").as[Long].collect().toSet
    assert(nulls == (0L until 2000L).toSet)
    val (k1, t1) = GraftRelation.lastPruned
    assert(k1 < t1, s"IS NULL should skip zero-null files: $k1/$t1")

    // row-returning probe (a bare COUNT is now answered by the hybrid
    // metadata rule and may never reach the scan): relation-level
    // IsNotNull pruning must skip the all-null files
    val nonNulls = load(dir).where(col("y").isNotNull)
      .select("id").as[Long].collect().toSet
    assert(nonNulls == (2000L until 4000L).toSet)
    val (k2, t2) = GraftRelation.lastPruned
    assert(k2 < t2, s"IS NOT NULL should skip all-null files: $k2/$t2")

    // and the COUNT twin scans at most the null-boundary files: the
    // hybrid rule decides all-null files FullyOut and zero-null files
    // FullyIn from the sidecar alone
    val cnt = load(dir).where(col("y").isNotNull).agg(count(lit(1)).as("n"))
    assert(cnt.as[Long].head() == 2000L)
    val nFiles = graft.pipeline.MergeTable
      .fileIndex(spark, dir).values.flatten.size
    val scanned =
      if (cnt.queryExecution.executedPlan.toString.contains("Scan GraftRelation"))
        GraftRelation.lastPruned._2
      else 0
    assert(scanned < nFiles,
      s"the hybrid count must not scan the whole table: $scanned/$nFiles")

    // localize lang so some files hold ONLY the U+E000 value — under
    // UTF-16 bound selection those files' zones sat "above" the
    // inverted [lo, hi] and were wrongly pruned (silent row loss)
    MergeTable.clusterBy(spark, dir, "lang", filesPerBucket = 4)
    val mixed = load(dir)
      .where(col("lang").isin("\ue000a", "\ud83d\ude00x"))
      .select("id").as[Long].collect().toSet
    assert(mixed == (0L until 4000L).filter(_ % 3 != 2).toSet,
      "supplementary-plane IN bounds must not invert and drop rows")
    val (k4, t4) = GraftRelation.lastPruned
    assert(k4 < t4, s"the clustered IN probe should still prune: $k4/$t4")
  }

  test("predOf never negates an inexact translation (Not over a half-translated And)") {
    import org.apache.spark.sql.sources.{AlwaysFalse, And => FAnd, EqualTo => FEq, Not => FNot}
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 100L).map(i => (i, i % 10)).toDF("id", "x"), "id", nBuckets = 2)
    val rel = graft.sources.GraftRelation(spark.sqlContext, dir, -1)

    // AlwaysFalse is untranslatable; the half-translated And is WEAKER
    // than the original, so negating it would be stricter — predOf must
    // refuse rather than push NOT(x = 1)
    val notAnd = FNot(FAnd(FEq("x", 1L), AlwaysFalse))
    assert(rel.predOf(notAnd).isEmpty,
      "Not over an inexact child must not translate")
    // positive-context half-And still translates, marked inexact
    val halfAnd = rel.predOf(FAnd(FEq("x", 1L), AlwaysFalse))
    assert(halfAnd.exists(!_._2), "half an And is usable but inexact")
    // a fully-translated Not stays exact
    assert(rel.predOf(FNot(FEq("x", 1L))).exists(_._2))

    // end-to-end: NOT(x = 1 AND false) ≡ TRUE — the scan must return
    // every row (the old orElse fallback pushed NOT(x = 1) and lost
    // the x = 1 rows below Spark's re-application)
    val got = rel.buildScan(Array("id"), Array(notAnd))
      .collect().map(_.getLong(0)).toSet
    assert(got == (0L until 100L).toSet,
      s"an inexact negation must not drop rows in the scan: ${got.size}/100")
  }

  test("sink replay dedup: a re-delivered batch id leaves the version chain unchanged") {
    val dir = tmpDir()
    // txnAppId scopes the cursor (outside a live streaming query there
    // is no queryId thread-property) — the Delta idempotent-write shape
    val sink = new graft.sources.GraftSource().createSink(
      spark.sqlContext, Map("path" -> dir, "key" -> "id", "buckets" -> "2",
        "txnAppId" -> "replay-test-q"),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Update())

    sink.addBatch(0L, Seq((1L, "a"), (2L, "b")).toDF("id", "name"))
    assert(MergeTable.versions(spark, dir) == Seq(1))
    assert(MergeTable.lastSinkBatch(spark, dir).contains(0L))

    // batch 0 re-delivered (crash between commit and checkpoint):
    // NO new version, even with different content in the replay
    sink.addBatch(0L, Seq((9L, "ghost")).toDF("id", "name"))
    assert(MergeTable.versions(spark, dir) == Seq(1),
      "a replayed batch must not re-commit")

    sink.addBatch(1L, Seq((1L, "a2")).toDF("id", "name"))
    assert(MergeTable.versions(spark, dir) == Seq(1, 2))
    sink.addBatch(1L, Seq((1L, "a3")).toDF("id", "name"))
    assert(MergeTable.versions(spark, dir) == Seq(1, 2))
    assert(MergeTable.read(spark, dir).select("id", "name")
      .as[(Long, String)].collect().toSet == Set((1L, "a2"), (2L, "b")))

    // the cursor survives admin ops (carried like the layout intent)
    MergeTable.compact(spark, dir)
    assert(MergeTable.lastSinkBatch(spark, dir).contains(1L))
    sink.addBatch(1L, Seq((1L, "a4")).toDF("id", "name"))
    assert(MergeTable.latestVersion(spark, dir) == 3,
      "replay after compaction must still dedup")
  }

  test("sink replay cursor is scoped to the writing query: a fresh query's batch 0 merges instead of being swallowed") {
    val dir = tmpDir()
    def sinkFor(app: String) = new graft.sources.GraftSource().createSink(
      spark.sqlContext, Map("path" -> dir, "key" -> "id", "buckets" -> "2",
        "txnAppId" -> app),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Update())

    // query A commits batches 0..5 (cursor = (5, A))
    val a = sinkFor("query-A")
    a.addBatch(0L, Seq((1L, "a0")).toDF("id", "name"))
    a.addBatch(5L, Seq((2L, "a5")).toDF("id", "name"))
    assert(MergeTable.lastSinkTxn(spark, dir)
      .contains((5L, Some("query-A"))))

    // a NEW query (fresh checkpoint) restarts batch ids at 0 — the
    // round-13 unscoped cursor silently dropped every batch here; the
    // scoped cursor must MERGE it (this was silent data loss)
    val b = sinkFor("query-B")
    b.addBatch(0L, Seq((3L, "b0")).toDF("id", "name"))
    assert(MergeTable.read(spark, dir).where(col("id") === 3L).count() == 1L,
      "a new query's batch 0 must not be swallowed by the old cursor")
    assert(MergeTable.lastSinkTxn(spark, dir)
      .contains((0L, Some("query-B"))))

    // B's own replay of batch 0 now dedups against B's cursor
    val vB = MergeTable.latestVersion(spark, dir)
    b.addBatch(0L, Seq((3L, "ghost")).toDF("id", "name"))
    assert(MergeTable.latestVersion(spark, dir) == vB,
      "the same query's replayed batch must still dedup")

    // A restarting from ITS checkpoint replays batch 5 — but the head
    // cursor is B's now, so A's replay re-merges (content-idempotent,
    // the safe direction: never lose data to an aliased cursor)
    a.addBatch(5L, Seq((2L, "a5")).toDF("id", "name"))
    assert(MergeTable.read(spark, dir).where(col("id") === 2L)
      .select("name").as[String].head() == "a5")

    // an unscopable batch (no txnAppId, no streaming thread) NEVER
    // suppresses: a legacy/unknowable writer re-merges rather than
    // risking a silent drop
    val anon = new graft.sources.GraftSource().createSink(
      spark.sqlContext, Map("path" -> dir, "key" -> "id", "buckets" -> "2"),
      Seq.empty, org.apache.spark.sql.streaming.OutputMode.Update())
    val vPre = MergeTable.latestVersion(spark, dir)
    anon.addBatch(0L, Seq((4L, "anon")).toDF("id", "name"))
    assert(MergeTable.latestVersion(spark, dir) == vPre + 1,
      "an unscopable batch must merge, never silently skip")
    assert(MergeTable.read(spark, dir).where(col("id") === 4L).count() == 1L)
  }

  test("Bloom sidecar point lookup prunes through SQL; one-sided ranges stay exact") {
    val dir = tmpDir()
    val base = (0L until 4000L).map(i => (i, s"key$i", i))
      .toDF("id", "name", "x")
    MergeTable.create(spark, dir, base, "id", nBuckets = 8)
    FileBlooms.build(spark, dir, "name")
    val got = load(dir).where(col("name").isin("key7", "key4001"))
      .select("id").as[Long].collect().toSet
    assert(got == Set(7L))
    val (kept, total) = GraftRelation.lastPruned
    assert(kept < total, s"bloom probe should skip files: $kept/$total")

    // one-sided ranges: numeric prunes the bounded side on a clustered
    // layout; string `>` deliberately does not prune (no string max)
    MergeTable.clusterBy(spark, dir, "x", filesPerBucket = 2)
    val hi = load(dir).where(col("x") > 3900L).select("id").as[Long].collect().toSet
    assert(hi == (3901L until 4000L).toSet)
    val (k2, t2) = GraftRelation.lastPruned
    assert(k2 < t2, s"one-sided numeric range should prune: $k2/$t2")
    val s = load(dir).where(col("name") > "key8").count()
    assert(s == base.where(col("name") > "key8").count())
  }

  test("sizeInBytes is real: a small graft dimension broadcasts in a join") {
    val dir = tmpDir()
    MergeTable.create(spark,
      dir, (0L until 50L).map(i => (i, s"d$i")).toDF("id", "dname"),
      "id", nBuckets = 2)
    val fact = (0L until 10000L).map(i => (i % 50, i)).toDF("id", "x")
    val plan = fact.join(load(dir), Seq("id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"a tiny graft table must broadcast:\n$plan")
    assert(load(dir).where(col("id") < 5).count() == 5L)
  }

  test("change data feed as a relation: CDC between versions from plain SQL") {
    val dir = tmpDir()
    MergeTable.create(spark, dir,
      (0L until 50L).map(i => (i, i)).toDF("id", "v"), "id", nBuckets = 4)
    MergeTable.merge(spark, dir,
      Seq((1L, 99L, false), (2L, 2L, true), (100L, 100L, false))
        .toDF("id", "v", "_del"), "id", deleteCol = Some("_del"))
    MergeTable.deleteKeys(spark, dir, Seq(3L).toDF("id"), "id")
    spark.sql(s"""CREATE OR REPLACE TEMPORARY VIEW gchanges USING graft
      OPTIONS (path '$dir', changesFrom '1', key 'id')""")
    val got = spark.sql("SELECT _change, id, v FROM gchanges")
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(("update", 1L, 99L), ("delete", 2L, 2L),
      ("insert", 100L, 100L), ("delete", 3L, 3L)),
      s"CDC through SQL must include the ledger delete: $got")
  }

  test("writeStream.format(\"graft\"): micro-batches MERGE into the table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = tmpDir()
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    val in = MemoryStream[(Long, String, Boolean)]
    val q = in.toDF().toDF("id", "name", "_del")
      .writeStream.format("graft")
      .option("path", dir).option("key", "id").option("buckets", "4")
      .option("deleteCol", "_del")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).outputMode("update")
    in.addData((1L, "a", false), (2L, "b", false))
    q.start().awaitTermination()
    in.addData((1L, "a2", false), (2L, "", true), (3L, "c", false))
    q.start().awaitTermination()
    val got = MergeTable.read(spark, dir)
      .select("id", "name").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a2"), (3L, "c")),
      s"streamed CDC batches must converge the table: $got")
  }

  test("SQL DDL: CREATE TEMPORARY VIEW USING graft; writes: create + MERGE append") {
    val dir = tmpDir()
    (0L until 100L).map(i => (i, i * 2)).toDF("id", "v")
      .write.format("graft").option("path", dir).option("key", "id")
      .option("buckets", "4").save()
    assert(MergeTable.bucketCount(spark, dir) == 4)

    // append = MERGE upsert
    Seq((1L, 999L), (100L, 200L)).toDF("id", "v")
      .write.format("graft").option("path", dir).option("key", "id")
      .mode("append").save()
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW gsrc USING graft OPTIONS (path '$dir')")
    val got = spark.sql("SELECT v FROM gsrc WHERE id IN (1, 100)")
      .as[Long].collect().toSet
    assert(got == Set(999L, 200L))
    assert(spark.sql("SELECT count(*) FROM gsrc").as[Long].head() == 101L)

    // overwrite refuses loudly
    val e = intercept[UnsupportedOperationException] {
      Seq((1L, 1L)).toDF("id", "v").write.format("graft")
        .option("path", dir).option("key", "id").mode("overwrite").save()
    }
    assert(e.getMessage.contains("Overwrite"))
  }
}
