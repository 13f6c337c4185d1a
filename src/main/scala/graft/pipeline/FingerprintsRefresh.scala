package graft.pipeline

import org.apache.spark.sql.functions._

import graft.ops.Winnow

/** The standing winnowed passage-fingerprint index
  * ([[Winnow.fingerprintsScan]]) over a [[MergeTable]] corpus as a
  * [[KeyedIndex]] — the passage-dedup sibling of [[PostingsRefresh]].
  * Rows `(pk = doc_id|fp, doc_id, fp)`; `pk` is unique per document set
  * because the scan emits a distinct fp set per document. A document
  * rewritten below the k+w−1 fingerprintable length contributes zero
  * upserts, so its pre-image rows all delete.
  *
  * Hashing is the scan-local O(L) rolling hash (no per-character
  * shuffle), CPU-heavy enough that the refresh sizes its width by
  * compute ([[graft.ops.SizedSession.CpuHeavyRowsPerPartition]]). With
  * the index fresh, the duplicate-passage ratio
  * ([[Winnow.dupPassageStats]]'s n_shared/n_fp) is a groupBy over the
  * index — no corpus rescan at query time.
  */
object FingerprintsRefresh {

  def apply(textCol: String = "text", k: Int = 16, w: Int = 8): KeyedIndex =
    KeyedIndex(
      docs => Winnow.fingerprintsScan(docs, textCol, "doc_id", k, w).select(
        concat_ws("|", col("doc_id"), col("fp")).as("pk"),
        col("doc_id"), col("fp")),
      graft.ops.SizedSession.CpuHeavyRowsPerPartition)
}
