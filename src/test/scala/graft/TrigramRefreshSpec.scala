package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.pipeline.{MergeTable, TrigramRefresh}

/** [[graft.pipeline.TrigramRefresh]] — the maintained substring index
  * equals a from-scratch rebuild across rewrites, deletes and inserts
  * (the FingerprintsRefresh discipline applied to char trigrams). */
class TrigramRefreshSpec extends SparkSpec {
  import spark.implicits._

  private def rows(dir: String): Set[(Long, String)] =
    MergeTable.read(spark, dir).select(col("doc_id").cast("long"), col("tg"))
      .as[(Long, String)].collect().toSet

  test("refresh equals rebuild; rewritten and deleted docs' postings leave exactly") {
    val root = Files.createTempDirectory("graft-tg-ivm")
    val (corpus, idx) = (s"$root/corpus", s"$root/idx")
    MergeTable.create(spark, corpus, Seq(
        (1L, "abcdef"), (2L, "xyz|pipe"), (3L, "to be deleted"), (4L, "ok"))
      .toDF("doc_id", "text"), "doc_id", nBuckets = 4)
    TrigramRefresh().build(spark, corpus, idx, version = 1)
    assert(rows(idx).filter(_._1 == 1L).map(_._2) ==
      Set("abc", "bcd", "cde", "def"))
    assert(rows(idx).contains((2L, "z|p")), "separator chars must index cleanly")
    assert(!rows(idx).exists(_._1 == 4L), "sub-3-char text has no trigrams")

    // v2: rewrite 1 (overlapping trigrams), delete 3, insert 5
    MergeTable.merge(spark, corpus, Seq(
        (1L, "cdefgh", false), (3L, "", true), (5L, "brand new", false))
      .toDF("doc_id", "text", "_del"), "doc_id", deleteCol = Some("_del"),
      validate = false)
    TrigramRefresh().refresh(spark, corpus, idx, 1, 2)

    val fresh = s"$root/fresh"
    TrigramRefresh().build(spark, corpus, fresh, version = 2)
    assert(rows(idx) == rows(fresh), "refresh must equal rebuild")
    assert(!rows(idx).exists(_._1 == 3L), "deleted doc's postings must leave")
    assert(rows(idx).filter(_._1 == 1L).map(_._2) ==
      Set("cde", "def", "efg", "fgh"),
      "rewrite keeps shared trigrams, drops vanished, adds new")
  }
}
