package graft

import org.apache.spark.sql.functions._

import graft.pipeline.{MergeTable, PostingsRefresh}
import graft.ops.TextSearch

/** [[PostingsRefresh]] — the incrementally-maintained postings table
  * must be row-identical to a from-scratch build of the new corpus
  * version: rewritten documents' stale terms deleted, deleted
  * documents fully gone, new documents fully indexed, untouched
  * documents untouched.
  */
class PostingsRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft-postings-$tag")
    d.toFile.deleteOnExit()
    d.resolve("t").toString
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String, Long)] =
    df.select(col("doc_id").cast("long"), col("dl").cast("long"),
        col("term"), col("tf").cast("long"))
      .as[(Long, Long, String, Long)].collect().toSet

  test("refresh equals a from-scratch rebuild across rewrite, delete and insert") {
    val corpus = freshDir("c")
    val postings = freshDir("p")
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "dogs chase cats all day"),
      (3L, "a completely different document"),
      (4L, "untouched text stays untouched")).toDF("doc_id", "text")
    MergeTable.create(spark, corpus, docs, "doc_id", nBuckets = 4)
    PostingsRefresh().build(spark, corpus, postings)
    assert(rowsOf(MergeTable.read(spark, postings)) ==
      rowsOf(TextSearch.postings(docs)))

    // rewrite 1 (drops 'cat'/'mat', keeps 'the'), delete 2, insert 5
    MergeTable.merge(spark, corpus, Seq(
      (1L, "the bird flew over the house", false),
      (2L, "", true),
      (5L, "brand new arrival", false)).toDF("doc_id", "text", "_del"),
      "doc_id", deleteCol = Some("_del"))
    PostingsRefresh().refresh(spark, corpus, postings, 1, 2)

    val got = rowsOf(MergeTable.read(spark, postings))
    val want = rowsOf(TextSearch.postings(MergeTable.read(spark, corpus)))
    assert(got == want)
    val terms = got.map(_._3)
    assert(!got.exists(_._1 == 2L), "deleted doc must leave the index")
    assert(!got.exists(r => r._1 == 1L && (r._3 == "cat" || r._3 == "mat")),
      "rewritten doc's stale terms must leave the index")
    assert(got.exists(r => r._1 == 5L && r._3 == "arrival"))
    assert(terms.contains("untouched"))
  }

  test("a value-identical corpus re-merge leaves postings row-identical") {
    val corpus = freshDir("c2")
    val postings = freshDir("p2")
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma")).toDF("doc_id", "text")
    MergeTable.create(spark, corpus, docs, "doc_id", nBuckets = 2)
    PostingsRefresh().build(spark, corpus, postings)
    val before = rowsOf(MergeTable.read(spark, postings))
    MergeTable.merge(spark, corpus,
      Seq((1L, "alpha beta", false)).toDF("doc_id", "text", "_del"),
      "doc_id", deleteCol = Some("_del"))
    PostingsRefresh().refresh(spark, corpus, postings, 1, 2)
    assert(rowsOf(MergeTable.read(spark, postings)) == before)
  }
}
