package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.TextSearch

/** The standing character-trigram substring index
  * ([[TextSearch.trigramPostings]]) over a [[MergeTable]] corpus as a
  * [[KeyedIndex]] — the substring-search sibling of [[PostingsRefresh]]
  * (token postings) and [[FingerprintsRefresh]] (winnowed
  * fingerprints). Rows `(pk = doc_id|hex(trigram), doc_id, tg)`: the
  * trigram is hex-encoded in the key because it may contain any
  * character, including the separator. `doc_substring_incremental`
  * proves search-over-the-maintained-index ≡ a contains scan of the
  * merged corpus cross-engine.
  */
object TrigramRefresh {

  def apply(textCol: String = "text"): KeyedIndex =
    KeyedIndex(docs => TextSearch.trigramPostings(docs, textCol).select(
      concat_ws("|", col("doc_id"), hex(encode(col("tg"), "UTF-8"))).as("pk"),
      col("doc_id"), col("tg")))

  /** Publish the READ-optimized standing deployment of the maintained
    * index: the current (doc_id, tg) rows re-laid-out bucketed+sorted
    * BY TRIGRAM into an external bucketed table at `path`, registered
    * in the session catalog as `table`. A substring search's
    * `tg IN (<pattern's trigrams>)` filter then BUCKET-PRUNES the scan
    * to only the hash buckets holding those posting lists — the plan
    * shows `SelectedBucketsCount: k out of nBuckets` — so query cost
    * is ∝ the pattern's posting lists, not the index size (the pg_trgm
    * standing shape SCALE.md claims; `TrigramPublishSpec` pins the
    * pruned scan, `doc_substring_standing` oracles the semantics).
    *
    * Division of labor: the [[MergeTable]] stays bucketed by `pk`
    * (doc_id|trigram) — the WRITE-optimized side, where a refresh
    * touches only changed-KEY buckets; `publish` is one full-index
    * re-layout pass run at whatever cadence the read-freshness SLA
    * needs (the classic LSM flush / read-replica split). */
  def publish(
      spark: SparkSession, tgDir: String, table: String, path: String,
      nBuckets: Int = 16, version: Int = -1): Unit = {
    MergeTable.read(spark, tgDir, version)
      .select("doc_id", "tg")
      .write.mode("overwrite")
      .option("path", path)
      .bucketBy(nBuckets, "tg").sortBy("tg")
      .saveAsTable(table)
    // a REpublish overwrites the path — drop the session's cached file
    // listing or readers keep resolving the previous layout's files
    spark.catalog.refreshTable(table)
  }
}
