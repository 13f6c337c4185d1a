package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup
import graft.pipeline.{BandsRefresh, MergeTable}

/** [[BandsRefresh]] — the standing MinHash band index must equal a
  * from-scratch rebuild after any corpus transition (rewrites below
  * the shingle length, deletes, inserts), its index-only pair query
  * must equal [[Dedup.minHashPairs]] over the corpus it reflects, and
  * the admission gate must flag near-dup arrivals against the index
  * without corpus access.
  */
class BandsRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, String) = {
    val d = java.nio.file.Files.createTempDirectory("graft-bands")
    d.toFile.deleteOnExit()
    (d.resolve("corpus").toString, d.resolve("bands").toString)
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy cat today"), // near-dup of 1
    (3L, "pack my box with five dozen liquor jugs right now"),
    (4L, "a completely different body of text with no overlap here"),
    (5L, "the quick brown fox jumps over the lazy dog today")) // exact dup of 1

  private def indexRows(bandsDir: String): Set[(Long, Int, String)] =
    MergeTable.read(spark, bandsDir)
      .select("doc_id", "band_idx", "band_hash")
      .as[(Long, Int, String)].collect().toSet

  private def rebuildRows(corpusDir: String): Set[(Long, Int, String)] =
    BandsRefresh.bandsOf(MergeTable.read(spark, corpusDir))
      .select("doc_id", "band_idx", "band_hash")
      .as[(Long, Int, String)].collect().toSet

  test("refresh equals rebuild across rewrite-below-shingle-length, delete and insert") {
    val (corpus, bands) = freshDirs()
    MergeTable.create(spark, corpus, docs.toDF("doc_id", "text"), "doc_id", nBuckets = 4)
    BandsRefresh().build(spark, corpus, bands, nBuckets = 4)
    assert(indexRows(bands) == rebuildRows(corpus))
    assert(indexRows(bands).map(_._1) == Set(1L, 2L, 3L, 4L, 5L))

    // v2: doc 3 rewritten BELOW the 3-token shingle length (whole band
    // set must leave with zero replacements), doc 4 deleted, doc 6
    // inserted as a near-dup of 1, doc 1 rewritten to new content
    MergeTable.merge(spark, corpus, Seq(
      (3L, "tiny text", false),
      (4L, "", true),
      (6L, "the quick brown fox jumps over the lazy dog tonight", false),
      (1L, "fully rewritten content that resembles nothing prior at all", false))
      .toDF("doc_id", "text", "_del"),
      "doc_id", deleteCol = Some("_del"), validate = false)
    BandsRefresh().refresh(spark, corpus, bands, 1, 2)

    val rows = indexRows(bands)
    assert(rows == rebuildRows(corpus),
      "maintained band index must equal a from-scratch rebuild")
    assert(!rows.exists(_._1 == 3L), "sub-shingle rewrite must clear the doc's bands")
    assert(!rows.exists(_._1 == 4L), "deleted doc's bands must leave")
    assert(rows.exists(_._1 == 6L))
  }

  test("scoredPairs from the maintained index equals minHashPairs over the corpus") {
    val (corpus, bands) = freshDirs()
    MergeTable.create(spark, corpus, docs.toDF("doc_id", "text"), "doc_id", nBuckets = 4)
    BandsRefresh().build(spark, corpus, bands, nBuckets = 4)
    MergeTable.merge(spark, corpus, Seq(
      (6L, "the quick brown fox jumps over the lazy dog tonight", false))
      .toDF("doc_id", "text", "_del"),
      "doc_id", deleteCol = Some("_del"), validate = false)
    BandsRefresh().refresh(spark, corpus, bands, 1, 2)

    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.as[(Long, Long, Double)].collect().toSet
    val fromIndex = pairs(
      BandsRefresh.scoredPairs(spark, bands, threshold = 0.2))
    val fromCorpus = pairs(
      Dedup.minHashPairs(MergeTable.read(spark, corpus), threshold = 0.2))
    assert(fromIndex == fromCorpus,
      s"index pairs $fromIndex != corpus pairs $fromCorpus")
    assert(fromIndex.exists { case (a, b, e) => a == 1L && b == 5L && e == 1.0 },
      "the exact-dup pair must score 1.0")
    assert(fromIndex.exists { case (a, b, _) => (a, b) == (1L, 2L) || (a, b) == (2L, 5L) },
      "a near-dup pair must surface")
  }

  test("nearDupsAgainstIndex flags arrivals without corpus access; novel docs pass") {
    val (corpus, bands) = freshDirs()
    MergeTable.create(spark, corpus, docs.toDF("doc_id", "text"), "doc_id", nBuckets = 4)
    BandsRefresh().build(spark, corpus, bands, nBuckets = 4)

    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog today"), // dup of 1/5
      (102L, "entirely novel arrival about completely fresh subject matter"))
      .toDF("doc_id", "text")
    val hits = BandsRefresh.nearDupsAgainstIndex(
        spark, bands, batch, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(hits.exists { case (n, c, e) => n == 101L && (c == 1L || c == 5L) && e == 1.0 },
      s"exact-dup arrival must match its corpus twins: $hits")
    assert(!hits.exists(_._1 == 102L), s"novel arrival must not match: $hits")
    // the admission decision: anti-join on flagged id_new
    val admitted = batch.join(
        hits.toSeq.toDF("id_new", "id_corpus", "e").select(col("id_new").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(102L))
  }

  test("BandIndex Maintained artifact advances through the same refresh path") {
    val (corpus, bands) = freshDirs()
    MergeTable.create(spark, corpus, docs.toDF("doc_id", "text"), "doc_id", nBuckets = 4)
    val art = graft.streaming.CorpusViews.BandIndex(bands)
    assert(art.version(spark).isEmpty)
    art.advance(spark, corpus, 1)
    assert(art.version(spark).contains(1))
    assert(indexRows(bands) == rebuildRows(corpus))

    MergeTable.merge(spark, corpus, Seq(
      (2L, "short", false), (7L, "brand new seven word document body for the index", false))
      .toDF("doc_id", "text", "_del"),
      "doc_id", deleteCol = Some("_del"), validate = false)
    art.advance(spark, corpus, 2)
    assert(art.version(spark).contains(2))
    assert(indexRows(bands) == rebuildRows(corpus))
    art.advance(spark, corpus, 2) // no-op on reflected version
    assert(art.version(spark).contains(2))
  }
}
