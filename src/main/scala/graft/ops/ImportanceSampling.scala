package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style importance resampling (Xie et al., "Data Selection for
  * Language Models via Importance Resampling", NeurIPS 2023): score
  * every document by how much more likely its hashed-n-gram bag is
  * under a *target* distribution (e.g. the English slice, a quality
  * gate, a curated corpus) than under the raw-corpus distribution,
  * then draw k documents without replacement with probability
  * proportional to that importance weight (Gumbel-top-k).
  *
  * All arithmetic that crosses a reduction is fixed-point integer:
  * per-bucket log-weights and the per-document Gumbel perturbation are
  * rounded to 10^-6 *before* the per-doc sums, so the final key is an
  * exact BIGINT — deterministic under any partitioning, and replayable
  * step-for-step by the DuckDB oracle (`doc_dsir_sample`). Randomness
  * is md5-derived from the document id (the house [[Sampling]] rule:
  * no `rand()`, a re-run ships the same corpus).
  *
  * 100 TB shape: the bucket profile is bounded by `buckets` rows
  * (default 4096) regardless of corpus size — its pass aggregates
  * occurrences straight to bucket grain (≤ buckets map-side-combined
  * keys on the wire) and the folded weight table broadcasts back. The
  * scoring pass rides two bounded shuffles: the (id, bucket) feature
  * pre-aggregation (keys ≤ docs×buckets, compressed map-side) and the
  * per-doc weight reduction. Selection is a global top-k — a
  * TakeOrderedAndProject (per-partition heaps; collected, the graft
  * `TakeOrderedAndProjectCollectExec`), not a global sort.
  * Driver state is the bounded profile only.
  */
object ImportanceSampling {

  val defaultBuckets = 4096
  /** Fixed-point scale: log-weights keep 6 decimal digits. */
  private val fp = 1e6
  /** 2^52 — md5 13-hex-char prefix range; exact in a double. */
  private val hashRange = 4503599627370496.0
  /** ln(10), shared with the oracle SQL as an interpolated literal. */
  val ln10: Double = math.log(10.0)

  /** First 13 hex chars of md5 as an exact 52-bit non-negative long. */
  private def md5Long(c: Column): Column =
    conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  /** One row per hashed n-gram occurrence: `(id, is_t, bucket)`.
    * Unigrams + space-joined adjacent bigrams (the DSIR paper's
    * feature space). */
  private[graft] def occurrences(
      df: DataFrame,
      targetPred: Column,
      textCol: String,
      idCol: String,
      buckets: Int): DataFrame = {
    val toks = TextSearch.tokens(col(textCol))
    val bigrams = when(size(col("__toks")) >= 2,
      zip_with(
        slice(col("__toks"), lit(1), size(col("__toks")) - 1),
        slice(col("__toks"), lit(2), size(col("__toks")) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol).as("id"), targetPred.as("is_t"), toks.as("__toks"))
      .select(col("id"), col("is_t"),
        explode(concat(col("__toks"), bigrams)).as("gram"))
      .select(col("id"), col("is_t"),
        pmod(md5Long(col("gram")), lit(buckets.toLong)).as("bucket"))
  }

  /** Hashed unigram+bigram features: one row per (id, flag, bucket)
    * with occurrence count `c`. */
  def features(
      df: DataFrame,
      targetPred: Column,
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = defaultBuckets): DataFrame =
    occurrences(df, targetPred, textCol, idCol, buckets)
      .groupBy("id", "is_t", "bucket")
      .agg(count(lit(1)).as("c"))

  /** Per-document fixed-point log-importance weight
    * `(id, n_feat, logw)` with
    * `logw = Σ_b c_b·round(10^6·log10((cnt_t(b)+1)/(cnt_r(b)+1)))
    *         + n_feat·round(10^6·log10((tot_r+B)/(tot_t+B)))`
    * — add-one smoothed bucket n-gram models of the target slice vs
    * the raw corpus, with the constant smoothing denominators
    * decomposed out of the wide join exactly like
    * [[TextAnalysis.charTrigramLm]]. Positive = more target-like. */
  def weights(
      df: DataFrame,
      targetPred: Column,
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = defaultBuckets): DataFrame = {
    // Pass 1 — the bucket models, aggregated STRAIGHT to bucket grain
    // (≤ `buckets` map-side-combined keys ride the shuffle, not
    // docs×buckets). The profile is bounded by `buckets` rows no matter
    // the corpus size, so it is collected (the same constant-size-
    // collect class as the IVF centers sidecar) and the per-bucket
    // fixed-point weights + the global smoothing constant fold on the
    // driver. Without this, profile/totals/scoring are three separate
    // lineage branches over the same explode — three corpus scans
    // where two suffice.
    val prof = occurrences(df, targetPred, textCol, idCol, buckets)
      .groupBy("bucket").agg(
        count(lit(1)).as("cnt_r"),
        sum(when(col("is_t"), 1L).otherwise(0L)).as("cnt_t"))
      .collect()
    // HALF_UP, not math.round (= floor(x+0.5)): the weights are
    // negative, and Spark's round()/DuckDB's round() both round half
    // AWAY from zero — the driver fold must use the same convention
    def halfUp(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    def w(cntT: Long, cntR: Long): Long =
      halfUp((math.log10(cntT + 1.0) - math.log10(cntR + 1.0)) * fp)
    val (totR, totT) =
      prof.foldLeft((0L, 0L)) { case ((r, t), row) =>
        (r + row.getLong(1), t + row.getLong(2)) }
    val kk = halfUp(
      (math.log10(totR.toDouble + buckets) - math.log10(totT.toDouble + buckets)) * fp)
    val spark = df.sparkSession
    import spark.implicits._
    val profW = prof.map(r => (r.getLong(0), w(r.getLong(2), r.getLong(1))))
      .toSeq.toDF("bucket", "wgt")
    // Pass 2 — score every document against the broadcast weight table.
    // Documents with NO extractable n-grams (e.g. non-[a-z0-9] scripts)
    // produce no feature rows; the left join from the id column keeps
    // them at logw = 0 (empty product ⇒ importance ratio 1) so a
    // uniform or off-feature draw can still select them instead of
    // silently excluding them.
    val scored = features(df, targetPred, textCol, idCol, buckets)
      .join(broadcast(profW), Seq("bucket"))
      .groupBy("id")
      .agg(sum(col("c")).cast("long").as("n_feat"),
        sum(col("c") * col("wgt")).as("__sumw"))
    df.select(col(idCol))
      .join(scored.withColumnRenamed("id", "__sid"),
        col(idCol) === col("__sid"), "left")
      .select(col(idCol),
        coalesce(col("n_feat"), lit(0L)).as("n_feat"),
        coalesce(col("__sumw") + col("n_feat") * lit(kk), lit(0L)).as("logw"))
  }

  /** Gumbel-top-k draw of `k` documents with probability proportional
    * to the importance weight: key = logw + Gumbel(0,1)/ln(10), both
    * in fixed-point log10 units, perturbation md5-seeded by id.
    * Returns `(idCol, n_feat, dsir_key)` in key-descending order. */
  def sample(
      df: DataFrame,
      targetPred: Column,
      k: Int,
      textCol: String = "text",
      idCol: String = "doc_id",
      buckets: Int = defaultBuckets): DataFrame = {
    require(k > 0)
    val u = (md5Long(concat(lit("dsir|"), col(idCol).cast("string")))
      .cast("double") + 0.5) / hashRange
    // ln(10) as a Scala-folded constant: Double.toString round-trips, so
    // the oracle interpolates the bit-identical literal (see ln10Sql)
    val gum = round(-log(-log(u)) / ImportanceSampling.ln10 * fp).cast("long")
    weights(df, targetPred, textCol, idCol, buckets)
      .select(col(idCol), col("n_feat"),
        (col("logw") + gum).as("dsir_key"))
      .orderBy(col("dsir_key").desc, col(idCol))
      .limit(k)
  }
}
