package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Incremental maintenance of a standing MinHash band-bucket index over
  * a [[MergeTable]] corpus — the NEAR-dup sibling of the exact-dedup
  * ingest gate (`StreamingIngest.startDeduped`, whose state is an
  * exact content hash) and of [[FingerprintsRefresh]] (winnowed
  * passages): the banded-LSH state [[Dedup.minHashPairs]] computes from
  * scratch per run, kept fresh across corpus merges so near-duplicate
  * queries and admission checks never rescan the corpus.
  *
  * Index rows: `(pk = doc_id|band_idx, doc_id, band_idx, band_hash)` —
  * exactly `bands` rows per shingle-able document. The band key is the
  * band's `rowsPerBand` minhash slot VALUES (comma-joined, the
  * [[Dedup.minHashPairs]] convention), which makes the index
  * self-contained: the full signature is recoverable from a document's
  * band rows, so candidate generation AND the matching-slot
  * est-Jaccard confirm both run off the index alone.
  *
  * As a [[KeyedIndex]] (`pk` is unique per document set: one row per
  * (doc, band)), a document rewritten below the shingle length n
  * contributes zero upserts, so its whole band set leaves the index —
  * the hardest delete case, exercised by the scaffold's
  * 'updated:'||lang rewrites. Signing is CPU-heavy, so the refresh
  * sizes its width by compute
  * ([[graft.ops.SizedSession.CpuHeavyRowsPerPartition]]).
  *
  * 100 TB cost: shingling/signing ∝ changed documents' text; the index
  * merge touches only buckets containing affected keys; pair queries
  * join band buckets (sub-quadratic, no crossJoin — `PlanGuardSpec`'s
  * invariant family). The registered query's DuckDB oracle recomputes
  * the whole signature/band/score algebra over the logically-merged
  * corpus — incremental index == full rebuild cross-engine.
  */
object BandsRefresh {

  val defaultBands = 8
  val defaultRowsPerBand = 4

  def apply(
      textCol: String = "text", n: Int = 3, bands: Int = defaultBands,
      rowsPerBand: Int = defaultRowsPerBand): KeyedIndex =
    KeyedIndex(bandsOf(_, textCol, "doc_id", n, bands, rowsPerBand),
      graft.ops.SizedSession.CpuHeavyRowsPerPartition)

  /** Band rows of a document set: shingle → minhash signature → one
    * row per (doc, band) with the band's slot values as the key.
    * Mirrors [[Dedup.minHashPairs]]'s banding exactly (including the
    * materialization barriers that keep CollapseProject from inlining
    * the shingling into every signature lambda). */
  def bandsOf(
      docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3, bands: Int = defaultBands,
      rowsPerBand: Int = defaultRowsPerBand): DataFrame = {
    val numHashes = bands * rowsPerBand
    docs
      .select(col(idCol).as("doc_id"),
        Dedup.minhashSignatureOfText(col(textCol), n, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      // barrier: signature computed exactly once — without it,
      // CollapseProject inlines the signing UDF into every one of the
      // `bands` banding lambdas (the Dedup.minHashPairs hazard). The
      // shuffle carries 32 longs per doc, never the shingle set.
      .repartition(col("doc_id"))
      .select(col("doc_id"),
        posexplode(
          transform(sequence(lit(0), lit(bands - 1)),
            b => concat_ws(",",
              transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
                _.cast("string")))))
          .as(Seq("band_idx", "band_hash")))
      .select(
        concat_ws("|", col("doc_id"), col("band_idx")).as("pk"),
        col("doc_id"), col("band_idx"), col("band_hash"))
  }

  /** Matching-slot counts between two band-hash columns of the SAME
    * band_idx — the per-band contribution to est-Jaccard, recovered
    * from the stored slot values (shared with [[PairsRefresh]], whose
    * delta re-score must be bit-identical to [[scoredPairs]]). */
  private[pipeline] def bandMatches(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(
      zip_with(split(a, ","), split(b, ","),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)

  /** Near-dup pairs from the STANDING index alone — candidate pairs
    * share a band bucket (sub-quadratic join on `(band_idx,
    * band_hash)`), scored by the matching-slot signature fraction
    * reconstructed from the stored band values. Row-identical to
    * [[Dedup.minHashPairs]] over the corpus the index reflects
    * (spec-pinned), with zero corpus access. */
  def scoredPairs(
      spark: SparkSession, bandsDir: String, threshold: Double = 0.5,
      bands: Int = defaultBands,
      rowsPerBand: Int = defaultRowsPerBand, version: Int = -1): DataFrame = {
    val idx = MergeTable.read(spark, bandsDir, version)
      .select("doc_id", "band_idx", "band_hash")
    val a = idx.toDF("id_a", "band_idx", "band_hash")
    val b = idx.toDF("id_b", "band_idx", "band_hash")
    val candidates = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val byBandA = idx.toDF("id_a", "band_idx", "hash_a")
    val byBandB = idx.toDF("id_b", "band_idx", "hash_b")
    candidates
      .join(byBandA, "id_a")
      .join(byBandB, Seq("id_b", "band_idx"))
      .groupBy("id_a", "id_b")
      .agg((sum(bandMatches(col("hash_a"), col("hash_b")))
        .cast("double") / (bands * rowsPerBand)).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** The near-dup ADMISSION gate at corpus scale: candidate matches of
    * an incoming batch against the standing index, without touching
    * the corpus. The batch's band rows (computed inline — the batch is
    * small) join the index's band buckets; matches are scored by the
    * same reconstructed signature fraction. Returns one row per
    * (batch doc, corpus doc) pair at or above `threshold` — callers
    * anti-join their batch on `id_new` to drop near-dup arrivals, the
    * banded complement of `startDeduped`'s exact content-hash gate. */
  def nearDupsAgainstIndex(
      spark: SparkSession, bandsDir: String, batch: DataFrame,
      textCol: String = "text", idCol: String = "doc_id",
      threshold: Double = 0.5, n: Int = 3, bands: Int = defaultBands,
      rowsPerBand: Int = defaultRowsPerBand): DataFrame = {
    val newBands = bandsOf(batch, textCol, idCol, n, bands, rowsPerBand)
      .select(col("doc_id").as("id_new"), col("band_idx"),
        col("band_hash"))
    val idx = MergeTable.read(spark, bandsDir)
      .select(col("doc_id").as("id_corpus"), col("band_idx"), col("band_hash"))
    val candidates = newBands.join(idx, Seq("band_idx", "band_hash"))
      .select("id_new", "id_corpus").distinct()
    val byBandNew = newBands.select(col("id_new"), col("band_idx"),
      col("band_hash").as("hash_new"))
    val byBandIdx = idx.select(col("id_corpus"), col("band_idx"),
      col("band_hash").as("hash_corpus"))
    candidates
      .join(byBandNew, "id_new")
      .join(byBandIdx, Seq("id_corpus", "band_idx"))
      .groupBy("id_new", "id_corpus")
      .agg((sum(bandMatches(col("hash_new"), col("hash_corpus")))
        .cast("double") / (bands * rowsPerBand)).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .select("id_new", "id_corpus", "est_jaccard")
  }
}
