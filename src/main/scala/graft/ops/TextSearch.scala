package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text relevance search: BM25 scoring over an inverted postings
  * view, plus reciprocal-rank fusion for hybrid (keyword + vector)
  * retrieval — the retrieval side of an LLM data pipeline (curation
  * queries like "pull the docs about X", and the hybrid
  * search shape every RAG stack runs: BM25 list ⊕ ANN list → RRF).
  * The reference's search surface is vector-only
  * (`scripts/test.out.py:14-19`); BM25+RRF is part of this engine's
  * north-star extension surface.
  *
  * Scale design (100 TB):
  *  - the ad-hoc [[bm25]] path filters postings to the query's terms
  *    BEFORE any shuffle — only matching (doc, term) rows move, never
  *    the vocabulary;
  *  - corpus stats (N, avgdl) reduce to ONE row and broadcast; document
  *    frequencies reduce to ≤|query| rows and broadcast — no shuffle
  *    join touches the big side;
  *  - for a standing corpus, materialize [[postings]] once (bucketed by
  *    term) and bm25 becomes a bucket-pruned scan of |query| term
  *    partitions;
  *  - top-k goes through `orderBy(...).limit(k)`, which a collect
  *    plans as [[graft.plans.TakeOrderedAndProjectCollectExec]]
  *    (per-partition heaps, no global sort);
  *  - RRF fuses pre-truncated top-n lists, so the fusion window is
  *    O(n·lists), independent of corpus size.
  *
  * Determinism: per-term BM25 weights and per-list RRF contributions
  * are fixed-pointed (`round(w · 10^s)` as long) before the per-doc
  * sum, so the sum is an integer reduction — order-independent across
  * partitions AND engines, which is what lets `doc_bm25_top10` /
  * `doc_hybrid_rrf_top10` carry hash-compared DuckDB oracles.
  */
object TextSearch {

  /** Tokenizer shared with the text-analysis family: lowercase, split
    * on non-alphanumeric runs, drop empties. DuckDB twin:
    * `list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> len(x) > 0)`. */
  def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0)

  /** Full inverted postings view: one row per (doc, term) with term
    * frequency and document length. This is the materialize-me-once
    * shape for a standing corpus: write it out bucketed by `term` and
    * every subsequent query is a bucket-pruned scan. */
  def postings(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))

  /** BM25 scores for every document matching at least one query term:
    * `(doc_id, score)` with
    * `score = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`
    * and `idf = ln(1 + (N − df + 0.5)/(df + 0.5))` (the Robertson/
    * Lucene non-negative form). Each term's weight is fixed-pointed at
    * `scale` decimal digits before the per-doc sum (see object doc).
    *
    * One wide scan computes doc lengths and the filtered postings; the
    * only data-sized shuffle is the (doc, term in query) aggregation. */
  def bm25(
      df: DataFrame,
      query: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
      textCol: String = "text",
      idCol: String = "doc_id",
      scale: Int = 4): DataFrame = {
    require(query.nonEmpty, "bm25: empty query")
    val tokd = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("toks"))
    // stats reduce to one broadcast row — dl is re-derived from the same
    // projection, so Catalyst shares the scan subplan
    val lens = tokd.select(col("doc_id"), size(col("toks")).as("dl"))
    val stats = lens.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    // term filter sits between the explode and the aggregation: only
    // query-term postings ever enter a shuffle
    val tfs = tokd
      .select(col("doc_id"), size(col("toks")).as("dl"), explode(col("toks")).as("term"))
      .filter(col("term").isin(query: _*))
      .groupBy("doc_id", "dl", "term")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tfs.groupBy("term").agg(count(lit(1)).as("df"))
    val fp = math.pow(10, scale)
    tfs
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("w",
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .withColumn("w_fp", round(col("w") * fp, 0).cast("long"))
      .groupBy("doc_id")
      .agg((sum(col("w_fp")) / fp).as("score"))
  }

  /** Top-k BM25: a collect plans it as
    * [[graft.plans.TakeOrderedAndProjectCollectExec]]. Ties break on
    * doc id for a deterministic, oracle-stable list. */
  def bm25TopK(
      df: DataFrame,
      query: Seq[String],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    bm25(df, query, k1, b, textCol, idCol)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)

  /** Truncate a `(id, score)` result to its top `n` and attach the
    * 1-based rank. The unpartitioned window runs AFTER the limit, so it
    * sees ≤ n rows — bounded regardless of corpus size. */
  def rankTopN(df: DataFrame, n: Int, idCol: String = "doc_id"): DataFrame =
    df.orderBy(col("score").desc, col(idCol)).limit(n)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("score").desc, col(idCol))))

  /** Reciprocal-rank fusion over pre-ranked lists (each `(id, rank)`
    * from [[rankTopN]]): `rrf(d) = Σ_lists 1/(kConst + rank_list(d))`,
    * each contribution fixed-pointed at 9 digits before the integer
    * sum (order-independent across any number of lists). Documents
    * missing from a list simply contribute nothing — standard RRF. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String = "doc_id", kConst: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no lists")
    lists
      .map(_.select(col(idCol),
        round(lit(1e9) / (lit(kConst) + col("rank")), 0).cast("long").as("c_fp")))
      .reduce(_ unionAll _)
      .groupBy(idCol)
      .agg((sum(col("c_fp")) / 1e9).as("rrf_score"))
  }

  /** Character-trigram postings — the pg_trgm shape: SUBSTRING search
    * (`LIKE '%pattern%'`) accelerated by an inverted index where token
    * postings can't help (patterns cross token boundaries, match
    * punctuation, or are sub-token). One row per (doc, distinct char
    * 3-gram); scan-local to build, bucket-by-trigram to persist, and —
    * like the BM25 postings — maintainable incrementally from the
    * change feed (re-trigram changed docs only). Raw-byte case: the
    * index matches `contains()` semantics exactly. */
  def trigramPostings(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    // Typed JIT'd slide, one pass per document. The round-≤17 form —
    // `array_distinct(transform(sequence(1, L-2), i -> substring(t, i, 3)))`
    // — ran INTERPRETED (higher-order functions don't codegen): ~3
    // expression dispatches plus an interpreted array_distinct probe
    // per position, the dominant CPU of every substring-index build
    // and refresh. The UDF slides over CODE POINTS (`new String(cps,
    // i, 3)`), matching Spark's code-point `substring` exactly, and
    // keeps first-occurrence order like array_distinct, so the emitted
    // (doc_id, tg) rows are identical. Texts shorter than 3 code
    // points emit nothing (the old CASE guard).
    val tgList = udf { (text: String) =>
      if (text == null) Array.empty[String]
      else {
        val cps = text.codePoints.toArray
        if (cps.length < 3) Array.empty[String]
        else {
          val seen = new java.util.LinkedHashSet[String]()
          var i = 0
          while (i + 3 <= cps.length) {
            seen.add(new String(cps, i, 3))
            i += 1
          }
          seen.toArray(new Array[String](seen.size))
        }
      }
    }
    df.select(col(idCol).as("doc_id"), explode(tgList(col(textCol))).as("tg"))
  }

  /** Index-accelerated substring search: a document can contain
    * `pattern` only if it contains EVERY trigram of the pattern — the
    * postings filtered to those trigrams (an `isin` the scan prunes
    * on) and grouped with a full-count HAVING yield a candidate
    * SUPERSET, and one `contains()` verify over the candidates makes
    * it exact. For patterns shorter than 3 chars the filter is
    * vacuous (no trigrams) and the search degrades to the scan —
    * callers should route those to the scan path explicitly.
    *
    * At 100 TB the win is the standing index: a `%pattern%` scan
    * reads the corpus; this reads the pattern's (few, selective)
    * trigram posting lists plus the candidates' text. */
  def substringSearch(
      corpus: DataFrame, postings: DataFrame, pattern: String,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(pattern.length >= 3,
      "substringSearch: pattern shorter than 3 chars — use a plain contains scan")
    val pats = pattern.sliding(3).toSeq.distinct
    val candidates = postings
      .filter(col("tg").isin(pats: _*))
      .groupBy("doc_id")
      .agg(countDistinct(col("tg")).as("__n"))
      .filter(col("__n") === pats.length)
      .select("doc_id")
    corpus.join(candidates, corpus(idCol) === candidates("doc_id"), "left_semi")
      .filter(col(textCol).contains(pattern))
      .select(col(idCol))
  }
}
