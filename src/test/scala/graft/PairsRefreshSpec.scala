package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{BandsRefresh, MergeTable, PairsRefresh}

/** [[PairsRefresh]] — the standing SCORED pair table must equal a
  * from-scratch [[BandsRefresh.scoredPairs]] over the index at the new
  * version after any corpus transition: pairs GAINED by an edit or
  * insert, pairs LOST when an endpoint is rewritten below the shingle
  * length or deleted, and pairs between unchanged docs carried forward
  * untouched — across a CHAIN of refreshes. */
class PairsRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def freshDirs(): (String, String, String) = {
    val d = java.nio.file.Files.createTempDirectory("graft-pairs")
    d.toFile.deleteOnExit()
    (d.resolve("corpus").toString, d.resolve("bands").toString,
      d.resolve("pairs").toString)
  }

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy cat today"), // near-dup of 1
    (3L, "pack my box with five dozen liquor jugs right now"),
    (4L, "a completely different body of text with no overlap here"),
    (5L, "the quick brown fox jumps over the lazy dog today")) // exact dup of 1

  private val threshold = 0.2

  private def tableRows(pairsDir: String): Set[(Long, Long, Double)] =
    MergeTable.read(spark, pairsDir)
      .select("id_a", "id_b", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet

  private def scratchRows(bandsDir: String): Set[(Long, Long, Double)] =
    BandsRefresh.scoredPairs(spark, bandsDir, threshold)
      .as[(Long, Long, Double)].collect().toSet

  test("maintained pairs equal a from-scratch score after gains, losses and deletes — chained") {
    val (corpus, bands, pairs) = freshDirs()
    MergeTable.create(spark, corpus, docs.toDF("doc_id", "text"), "doc_id",
      nBuckets = 2)
    BandsRefresh().build(spark, corpus, bands)
    PairsRefresh.build(spark, bands, pairs, threshold)
    assert(tableRows(pairs) == scratchRows(bands), "the v1 build seeds exactly")
    assert(tableRows(pairs).exists { case (a, b, _) => a == 1L && b == 2L },
      "the near-dup pair must be standing")

    // v2: rewrite doc 2 to an unrelated text (pair 1-2 must LEAVE),
    // insert doc 6 as a clone of 3 (pair 3-6 must APPEAR), delete 5
    // (pairs 1-5 / 2-5 must leave)
    MergeTable.merge(spark, corpus,
      Seq(
        (2L, "entirely new content sharing nothing with anything else", false),
        (6L, "pack my box with five dozen liquor jugs right now", false),
        (5L, "", true))
        .toDF("doc_id", "text", "_del"),
      "doc_id", deleteCol = Some("_del"), validate = false)
    BandsRefresh().refresh(spark, corpus, bands, 1, 2)
    PairsRefresh.refresh(spark, corpus, bands, pairs, 1, 2, threshold)
    val got2 = tableRows(pairs)
    assert(got2 == scratchRows(bands),
      s"maintained v2 must equal from-scratch: $got2")
    assert(!got2.exists { case (a, b, _) => Set(a, b).contains(5L) },
      "a deleted doc's pairs must leave")
    assert(!got2.exists { case (a, b, _) => a == 1L && b == 2L },
      "a rewritten endpoint's pair must leave")
    assert(got2.exists { case (a, b, _) => a == 3L && b == 6L },
      "an inserted clone's pair must appear")

    // v3: re-insert 5 as a clone of 4 — a NEW pair among previously
    // untouched docs, everything else carried
    MergeTable.merge(spark, corpus,
      Seq((5L, "a completely different body of text with no overlap here"))
        .toDF("doc_id", "text"), "doc_id")
    BandsRefresh().refresh(spark, corpus, bands, 2, 3)
    PairsRefresh.refresh(spark, corpus, bands, pairs, 2, 3, threshold)
    val got3 = tableRows(pairs)
    assert(got3 == scratchRows(bands),
      "a chained refresh must still equal from-scratch")
    assert(got3.exists { case (a, b, _) => a == 4L && b == 5L },
      "the re-inserted clone's pair must appear")
  }

  test("a no-op transition leaves the pair set identical and touches no pair") {
    val (corpus, bands, pairs) = freshDirs()
    MergeTable.create(spark, corpus, docs.toDF("doc_id", "text"), "doc_id",
      nBuckets = 2)
    BandsRefresh().build(spark, corpus, bands)
    PairsRefresh.build(spark, bands, pairs, threshold)
    val before = tableRows(pairs)
    // merge a doc whose content is unchanged: its bucket churns but
    // every score is recomputed to the same value
    MergeTable.merge(spark, corpus,
      Seq((3L, "pack my box with five dozen liquor jugs right now"))
        .toDF("doc_id", "text"), "doc_id")
    BandsRefresh().refresh(spark, corpus, bands, 1, 2)
    PairsRefresh.refresh(spark, corpus, bands, pairs, 1, 2, threshold)
    assert(tableRows(pairs) == before,
      "an identical rewrite must leave the pair set unchanged")
  }
}
