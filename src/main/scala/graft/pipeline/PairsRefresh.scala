package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental maintenance of the SCORED near-dup pair set over a
  * [[MergeTable]] corpus — the top of the banded-LSH stack as a
  * STANDING artifact: [[BandsRefresh]] keeps the (doc, band, key)
  * index fresh per merge, but `scoredPairs` still re-joined the WHOLE
  * index per query — O(index), the last refresh-family member whose
  * per-transition cost did not scale with the delta. This table closes
  * that: pairs keyed `pk = id_a|id_b` with their matching-slot
  * est-Jaccard, maintained through a corpus version transition by
  *
  *  1. STALE side: every standing pair with ≥1 CHANGED endpoint
  *     (updated / deleted / rewritten docs) deletes by key — one
  *     semi-join pass over the PAIRS table (∝ standing pairs, itself
  *     ≪ corpus), never a corpus access;
  *  2. FRESH side: candidates with ≥1 changed endpoint re-generate by
  *     probing the changed docs' band rows against the REFRESHED
  *     index's band buckets (the [[BandsRefresh.nearDupsAgainstIndex]]
  *     admission shape — probe ∝ changed docs) and re-score with the
  *     identical matching-slot fraction;
  *  3. every pair between two UNCHANGED docs carries forward untouched
  *     (its score depends only on its endpoints' band rows, which the
  *     index refresh left byte-identical).
  *
  * One [[KeyedIndex.commit]] commits both sides. The maintained table
  * is row-identical to [[BandsRefresh.scoredPairs]] over the index at
  * the new version (spec-pinned in `PairsRefreshSpec`), and the
  * registered query's DuckDB oracle recomputes the whole
  * signature/band/score algebra over the logically-merged corpus —
  * maintained pairs == full rebuild cross-engine.
  *
  * 100 TB cost: delete pass ∝ standing pairs; candidate probe ∝
  * changed docs' band rows × their bucket occupancy (the LSH
  * guarantee); score join ∝ touched candidates. A micro-commit
  * refreshes the pair set for the cost of its own neighborhood — the
  * "which documents near-duplicate each other, right now" monitor a
  * training pipeline keeps standing next to the corpus.
  */
object PairsRefresh {

  private val Cols = Seq("pk", "id_a", "id_b", "est_jaccard")

  private def shaped(p: DataFrame): DataFrame =
    p.select(
      concat_ws("|", col("id_a"), col("id_b")).as("pk"),
      col("id_a"), col("id_b"), col("est_jaccard"))

  /** Create the standing pairs MergeTable from the band index at
    * `bandsVersion` (pin it: the shared scaffold index may already
    * have advanced past the corpus version this build should see). */
  def build(
      spark: SparkSession, bandsDir: String, pairsDir: String,
      threshold: Double = 0.5, bands: Int = BandsRefresh.defaultBands,
      rowsPerBand: Int = BandsRefresh.defaultRowsPerBand,
      bandsVersion: Int = -1, nBuckets: Int = 8): Unit =
    MergeTable.create(spark, pairsDir,
      shaped(BandsRefresh.scoredPairs(
        spark, bandsDir, threshold, bands, rowsPerBand, bandsVersion)),
      "pk", nBuckets)

  /** Advance the pairs table across the corpus transition `fromVersion
    * → toVersion`. PRECONDITION: `bandsDir` has already been refreshed
    * to reflect corpus `toVersion` (a [[BandsRefresh]] refresh) — the
    * fresh side scores from that index alone. Returns the committed
    * pairs version. */
  def refresh(
      spark: SparkSession, corpusDir: String, bandsDir: String,
      pairsDir: String, fromVersion: Int, toVersion: Int,
      threshold: Double = 0.5, bands: Int = BandsRefresh.defaultBands,
      rowsPerBand: Int = BandsRefresh.defaultRowsPerBand): Int = {
    // delta-sized exchanges, caller session untouched (the refresh
    // family's standard entry)
    val s = graft.ops.SizedSession.forDelta(
      spark, corpusDir, fromVersion, toVersion)
    // probes the pairs table twice + the index once
    val changed = graft.ops.Checkpointing.shared(MergeTable
      .rowDeltas(s, corpusDir, fromVersion, toVersion, "doc_id")
      .select("doc_id").distinct())

    // stale: standing pairs touching a changed doc — delete by pk.
    // One pass over the pairs table; deletes of keys the fresh side
    // re-adds are anti-joined away by the commit.
    val standing = MergeTable.read(s, pairsDir).select(Cols.map(col): _*)
    val stale = standing
      .join(changed.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_semi")
      .unionByName(standing
        .join(changed.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_semi"))
      .dropDuplicates("pk") // a both-endpoints-changed pair hits twice

    // fresh: candidates with >=1 changed endpoint, from the refreshed
    // index — changed docs' band rows probe the full index's buckets
    // (sub-quadratic, the LSH contract), then the full band vectors of
    // both endpoints reconstruct the est-Jaccard EXACTLY as
    // scoredPairs does (shared bandMatches)
    val idx = MergeTable.read(s, bandsDir)
      .select("doc_id", "band_idx", "band_hash")
    val chgBands = idx.join(changed, Seq("doc_id"), "left_semi")
    val candidates = chgBands.toDF("id_a", "band_idx", "band_hash")
      .join(idx.toDF("id_b", "band_idx", "band_hash"),
        Seq("band_idx", "band_hash"))
      .filter(col("id_a") =!= col("id_b"))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
      .distinct()
    val byA = idx.toDF("id_a", "band_idx", "hash_a")
    val byB = idx.toDF("id_b", "band_idx", "hash_b")
    val fresh = candidates
      .join(byA, "id_a")
      .join(byB, Seq("id_b", "band_idx"))
      .groupBy("id_a", "id_b")
      .agg((sum(BandsRefresh.bandMatches(col("hash_a"), col("hash_b")))
        .cast("double") / (bands * rowsPerBand)).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)

    // delete rows keep the standing values (schema-aligned with the
    // upsert side); keys the fresh side re-adds are upserts, not
    // delete+insert pairs
    KeyedIndex.commit(s, pairsDir, shaped(fresh), stale)
  }
}
