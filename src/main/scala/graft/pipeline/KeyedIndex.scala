package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A standing KEYED index over a [[MergeTable]] corpus — the keyed
  * sibling of [[BucketedView]], and the one delta algorithm behind
  * [[PostingsRefresh]] (BM25 postings), [[FingerprintsRefresh]]
  * (winnowed passages), [[TrigramRefresh]] (char trigrams) and
  * [[BandsRefresh]] (MinHash bands): after a corpus merge, re-derive
  * index rows ONLY for the changed documents and merge them into the
  * index table, instead of re-deriving the whole corpus.
  *
  * `derive` maps corpus rows (keyed `doc_id`) to index rows carrying a
  * string `pk` that is UNIQUE within any document set (each family
  * composes it as `doc_id|<row key>`). It must be row-local per
  * document — it runs identically over the whole corpus on [[build]]
  * and over changed documents on [[refresh]], which is what keeps the
  * two equal. `rowsPerPartition` sizes the refresh's exchanges (see
  * [[graft.ops.SizedSession]]): CPU-heavy derives (minhash signing,
  * winnowing) pass `CpuHeavyRowsPerPartition` so the dominant stage
  * tracks compute, not shuffle volume.
  *
  * Mechanics: [[MergeTable.rowDeltas]] yields changed documents'
  * pre-images (−1) and post-images (+1) from changed buckets only.
  * Post-images derive into the new rows (upserts); pre-images derive
  * into the OLD rows, and those whose `pk` has no new counterpart
  * become deletions — a rewritten document's vanished rows and a
  * deleted document's whole row set leave the index exactly, including
  * a rewrite whose derive emits zero rows. Both sides merge in one
  * call ([[KeyedIndex.commit]]).
  *
  * 100 TB cost: derive ∝ changed documents' text; the index merge
  * touches only buckets containing affected keys. The result is
  * row-identical to a from-scratch [[build]] at the new version
  * (`KeyedIndexSpec` checks it over random transitions; each family's
  * registered query has a DuckDB oracle over the logically-merged
  * corpus).
  */
final case class KeyedIndex(
    derive: DataFrame => DataFrame,
    rowsPerPartition: Long = graft.ops.SizedSession.RefreshRowsPerPartition) {

  /** Create the standing index MergeTable from corpus `version`. */
  def build(
      spark: SparkSession, corpusDir: String, indexDir: String,
      version: Int = -1, nBuckets: Int = 16): Unit =
    MergeTable.create(spark, indexDir,
      derive(MergeTable.read(spark, corpusDir, version)), "pk", nBuckets)

  /** Advance the index across a corpus version transition. Returns the
    * committed index version. */
  def refresh(
      spark: SparkSession, corpusDir: String, indexDir: String,
      fromVersion: Int, toVersion: Int): Int = {
    // delta-sized shuffles in an ISOLATED session, so the caller's conf
    // is untouched — a micro-commit refresh stops scheduling ~1,000
    // session-width tasks
    val s = graft.ops.SizedSession.forDelta(
      spark, corpusDir, fromVersion, toVersion, rowsPerPartition)
    val deltas = MergeTable.rowDeltas(
      s, corpusDir, fromVersion, toVersion, "doc_id")
    def side(sign: Int) =
      derive(deltas.filter(col("_sign") === sign).drop("_sign"))
    KeyedIndex.commit(s, indexDir, side(1), side(-1))
  }
}

object KeyedIndex {

  /** Commit one keyed batch to the index at `dir`: every `ups` row
    * upserts, every `stale` row whose `pk` is absent from `ups` deletes.
    * `stale` must carry `ups`'s columns. Returns the committed version.
    *
    * The merge skips its uniqueness pre-check (`validate = false`):
    * `pk` is unique within each side (the `derive` contract, or a
    * distinct pair set), and the delete side is anti-joined against the
    * upsert side, so every key occurs at most once in the batch. */
  def commit(s: SparkSession, dir: String, ups: DataFrame, stale: DataFrame): Int = {
    val cols = ups.columns.toSeq.map(col)
    val dels = stale.join(ups.select("pk"), Seq("pk"), "left_anti")
      .select(cols :+ lit(true).as("_del"): _*)
    MergeTable.merge(s, dir,
      ups.select(cols :+ lit(false).as("_del"): _*).unionByName(dels), "pk",
      deleteCol = Some("_del"), validate = false)
  }
}
