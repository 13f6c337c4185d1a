package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ops.TextSearch
import graft.pipeline.{MergeTable, TrigramRefresh}

/** [[graft.pipeline.TrigramRefresh.publish]] — the read-optimized
  * standing deployment: the maintained index re-laid-out bucketed by
  * TRIGRAM, so a substring search's `tg IN (...)` filter bucket-prunes
  * the posting scan (`SelectedBucketsCount: k out of n` with k < n in
  * the physical plan) while returning exactly the contains-scan rows.
  * This is the plan evidence behind SCALE.md's "bucket-pruned scan of
  * |query| trigram partitions" claim for the standing substring index. */
class TrigramPublishSpec extends SparkSpec {
  import spark.implicits._

  test("published index bucket-prunes the posting scan and matches the contains scan") {
    val root = Files.createTempDirectory("graft-tg-pub")
    val (corpus, idx) = (s"$root/corpus", s"$root/idx")
    val docs = (1L to 400L).map { i =>
      val tail = if (i % 7 == 0) " needle in here" else " plain filler text"
      (i, s"document body number $i$tail")
    }.toDF("doc_id", "text")
    MergeTable.create(spark, corpus, docs, "doc_id", nBuckets = 4)
    TrigramRefresh().build(spark, corpus, idx, version = 1)

    val table = "graft_tg_pub_spec"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      TrigramRefresh.publish(spark, idx, table, s"$root/pub", nBuckets = 16)
      val postings = spark.table(table)
      val search = TextSearch.substringSearch(
        MergeTable.read(spark, corpus), postings, "needle")

      // the pruned scan: only the buckets holding the pattern's trigram
      // posting lists are read (≤ |distinct trigrams| = 4 of 16 here)
      val plan = search.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(plan)
        .getOrElse(fail(s"no bucket pruning in plan:\n$plan"))
      assert(sel.group(2).toInt == 16, plan)
      assert(sel.group(1).toInt <= 4,
        s"expected <= 4 selected buckets for a 4-trigram pattern, " +
          s"got ${sel.group(1)}:\n$plan")

      // and pruning loses nothing: search ≡ contains scan
      val got = search.as[Long].collect().toSet
      val want = docs.filter(col("text").contains("needle"))
        .select("doc_id").as[Long].collect().toSet
      assert(got == want && want.nonEmpty)
    } finally spark.sql(s"DROP TABLE IF EXISTS graft_tg_pub_spec")
  }

  test("the published replica rides the CDC stream: search stays ≡ contains scan after every batch") {
    import graft.streaming.{CorpusViews, StreamingIngest}
    val root = Files.createTempDirectory("graft-tg-stream")
    val (corpus, idx) = (s"$root/corpus", s"$root/idx")
    val landing = s"$root/landing"; new java.io.File(landing).mkdirs()
    val table = "graft_tg_pub_stream"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      MergeTable.create(spark, corpus, Seq(
          (1L, "alpha needle body"), (2L, "plain body"), (3L, "gamma texts"))
        .toDF("doc_id", "text"), "doc_id", nBuckets = 4)
      val art = CorpusViews.TrigramIndex(idx,
        publish = Some(CorpusViews.TrigramPublishPolicy(table, s"$root/pub", nBuckets = 8)))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id LONG, text STRING, _del BOOLEAN")
      def stream() = StreamingIngest.startMergeUpsertMaintained(
        spark, landing, corpus, "doc_id", schema, s"$root/ckpt", Seq(art),
        deleteCol = Some("_del")).awaitTermination(60000)
      def check(): Unit = {
        // the publish refreshed ITS (micro-batch-cloned) session; a
        // reader session drops its own cached relation — the standard
        // Spark contract after any external overwrite of a table
        spark.catalog.refreshTable(table)
        val docs = MergeTable.read(spark, corpus)
        val got = TextSearch.substringSearch(docs, spark.table(table), "needle")
          .as[Long].collect().toSet
        val want = docs.filter(col("text").contains("needle"))
          .select("doc_id").as[Long].collect().toSet
        assert(got == want, s"published replica stale or wrong: $got vs $want")
      }
      // batch 1: new doc with the needle, rewrite 2 to ALSO contain it
      Files.writeString(java.nio.file.Paths.get(landing, "b1.json"),
        """{"doc_id":4,"text":"fresh needle arrival","_del":false}
          |{"doc_id":2,"text":"now a needle here","_del":false}""".stripMargin)
      stream(); check()
      // batch 2: delete doc 1 — its needle must leave the replica
      Files.writeString(java.nio.file.Paths.get(landing, "b2.json"),
        """{"doc_id":1,"text":"","_del":true}""")
      stream(); check()
      assert(!TextSearch.substringSearch(
          MergeTable.read(spark, corpus), spark.table(table), "needle")
        .as[Long].collect().toSet.contains(1L))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }
}
