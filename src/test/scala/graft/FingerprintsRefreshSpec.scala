package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{FingerprintsRefresh, MergeTable}
import graft.ops.Winnow

/** [[FingerprintsRefresh]] — the incrementally-maintained passage-
  * fingerprint index must be row-identical to a from-scratch winnow of
  * the new corpus version: rewritten documents' vanished passages
  * deleted, deleted documents fully gone, new documents fingerprinted,
  * untouched documents untouched, and a document rewritten below the
  * fingerprintable length (< k+w−1 chars) leaves the index entirely.
  */
class FingerprintsRefreshSpec extends SparkSpec {
  import spark.implicits._

  // small k/w so short test strings fingerprint: min length k+w-1 = 7
  private val K = 4
  private val W = 4

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-fps-$tag")
    d.toFile.deleteOnExit()
    d.resolve("t").toString
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id").cast("long"), col("fp").cast("long"))
      .as[(Long, Long)].collect().toSet

  private def rebuilt(corpus: String): Set[(Long, Long)] =
    rowsOf(Winnow.fingerprintsScan(
      MergeTable.read(spark, corpus), "text", "doc_id", K, W))

  test("refresh equals a from-scratch rebuild across rewrite, delete, insert and shrink") {
    val corpus = freshDir("c")
    val index = freshDir("i")
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "a completely different document body here"),
      (4L, "untouched text stays untouched forever")).toDF("doc_id", "text")
    MergeTable.create(spark, corpus, docs, "doc_id", nBuckets = 4)
    FingerprintsRefresh(k = K, w = W).build(spark, corpus, index)
    assert(rowsOf(MergeTable.read(spark, index)) == rebuilt(corpus))

    // rewrite 1 (different passages), delete 2, insert 5,
    // shrink 3 below the k+w-1=7 fingerprintable length
    MergeTable.merge(spark, corpus, Seq(
      (1L, "an entirely new body of text for document one", false),
      (2L, "", true),
      (3L, "tiny", false),
      (5L, "brand new arrival with plenty of characters", false)
    ).toDF("doc_id", "text", "_del"), "doc_id", deleteCol = Some("_del"))
    FingerprintsRefresh(k = K, w = W).refresh(spark, corpus, index, 1, 2)

    val got = rowsOf(MergeTable.read(spark, index))
    assert(got == rebuilt(corpus))
    assert(!got.exists(_._1 == 2L), "deleted doc must leave the index")
    assert(!got.exists(_._1 == 3L), "doc shrunk below k+w-1 must leave the index")
    assert(got.exists(_._1 == 5L), "inserted doc must be fingerprinted")
    assert(got.exists(_._1 == 4L), "untouched doc must stay")

    // chained second transition off the INCREMENTAL state
    MergeTable.merge(spark, corpus, Seq(
      (3L, "grown back to a fingerprintable length again", false),
      (5L, "", true)
    ).toDF("doc_id", "text", "_del"), "doc_id", deleteCol = Some("_del"))
    FingerprintsRefresh(k = K, w = W).refresh(spark, corpus, index, 2, 3)
    assert(rowsOf(MergeTable.read(spark, index)) == rebuilt(corpus))
  }

  test("a value-identical corpus re-merge leaves the index row-identical") {
    val corpus = freshDir("c2")
    val index = freshDir("i2")
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    MergeTable.create(spark, corpus, docs, "doc_id", nBuckets = 2)
    FingerprintsRefresh(k = K, w = W).build(spark, corpus, index)
    val before = rowsOf(MergeTable.read(spark, index))
    MergeTable.merge(spark, corpus,
      Seq((1L, "alpha beta gamma delta", false)).toDF("doc_id", "text", "_del"),
      "doc_id", deleteCol = Some("_del"))
    FingerprintsRefresh(k = K, w = W).refresh(spark, corpus, index, 1, 2)
    assert(rowsOf(MergeTable.read(spark, index)) == before)
  }
}
