package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.TextSearch

/** The standing BM25 postings index ([[TextSearch.postings]]) over a
  * [[MergeTable]] corpus as a [[KeyedIndex]] — the keyword-retrieval
  * sibling of [[IndexRefresh]] (vector index). Rows
  * `(pk = doc_id|term, doc_id, dl, term, tf)`; `pk` is unique per
  * document set because postings group by (doc, term). A deleted or
  * rewritten document's stale terms leave the index exactly.
  * `(N, avgdl)` for BM25 scoring are count/sum aggregates — maintain
  * them with [[IncrementalStats]] over the same delta feed.
  */
object PostingsRefresh {

  def apply(textCol: String = "text"): KeyedIndex =
    KeyedIndex(docs => TextSearch.postings(docs, textCol).select(
      concat_ws("|", col("doc_id"), col("term")).as("pk"),
      col("doc_id"), col("dl").cast("long").as("dl"),
      col("term"), col("tf")))
}
