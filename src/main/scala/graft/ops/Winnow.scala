package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Substring-level duplicate-passage detection via winnowing
  * (Schleimer/Wilkerson/Aiken, SIGMOD 2003 — the MOSS fingerprint).
  * Whole-document hashing ([[Dedup.exact]], [[TextAnalysis.fingerprint]])
  * misses the dominant duplication mode in web-scale corpora: distinct
  * pages sharing boilerplate or quoted passages. Passage-level dedup
  * (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
  * Better") needs a position-local fingerprint; winnowing guarantees
  * any shared run of ≥ k+w−1 characters yields at least one identical
  * selected fingerprint in both documents, at an expected density of
  * 2/(w+1) of positions.
  *
  * All arithmetic is exact integer math so a DuckDB oracle can replay
  * it bit for bit: the k-gram hash is the base-31 polynomial fold of
  * character ordinals modulo 2³¹ (every intermediate < 2⁵³, no BIGINT
  * overflow under ANSI mode in either engine), and winnowing is a
  * plain windowed min — no floats anywhere.
  *
  * HISTORY — why there are two implementations and neither hashes
  * inside an array lambda: the round-6 version computed the per-position
  * hash with `ascii(t.substr(i+j, 1))` inside a `transform` lambda,
  * relying on CollapseProject to keep the regex-normalized `t` a
  * single-evaluation attribute. At runtime it did not hold: the
  * `regexp_replace` was inlined under the higher-order function and
  * re-executed per character access, compounding to ~O(L³·k) — one task
  * burned 500+ s on 500 short documents and the query never terminated.
  * Both shapes below keep every regex and every hash step OUTSIDE
  * higher-order-function lambdas; `PlanGuardSpec` pins this for all
  * registered text queries.
  *
  * Two implementations, identical results (asserted in `WinnowSpec`):
  *
  *   - [[fingerprints]] — posexplode char ordinals, hash and winnow via
  *     window functions partitioned by document (the oracle's own SQL
  *     shape). One shuffle of (id, pos, ord) rows; structurally immune
  *     to lambda inlining because Generate and Window are optimizer
  *     barriers. Per-position state is scalar, never an array lambda.
  *   - [[fingerprintsScan]] — the 100 TB path: a typed per-row rolling
  *     hash (O(L) per document, exact modular update) that emits only
  *     the selected fingerprints. SCAN-LOCAL: nothing shuffles until
  *     the ~2/(w+1)-density fingerprint set leaves the scan, so shuffle
  *     volume is a small fraction of corpus size instead of one row per
  *     character. Plain JVM loop — no interpreter re-evaluation hazard
  *     by construction.
  */
object Winnow {

  /** Power-of-two modulus: `%` of a non-negative BIGINT is exact and
    * identical in Spark and DuckDB. */
  val Mod: Long = 1L << 31

  /** Character ordinals of the normalized text as one (id, p, ord) row
    * per position, 0-based and contiguous. `split(t, "")` with Spark's
    * limit=-1 keeps a trailing empty element ("abc" → [a, b, c, ""]);
    * it is dropped by the `c != ""` filter BEFORE hashing — left in, it
    * would fabricate a phantom ord=0 tail position and corrupt the last
    * k−1 k-gram hashes. The normalization expression sits in Generate's
    * input, evaluated once per document row. */
  private def charOrds(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // Exchange BEFORE the character explode, via the conditional
    // explicit-width repair: the window functions below need
    // clustering by the id anyway, so *some* exchange is mandatory —
    // placing it on the un-exploded document rows means the shuffle
    // moves one row per DOCUMENT instead of one row per CHARACTER
    // (guide §2.3), and the explode + hash + winnow then run in the
    // window's own stage with no further exchange
    // (hashpartitioning(id, slots) satisfies the window's required
    // distribution). Round ≤17 exploded at SCAN parallelism — a
    // report-scale corpus is one split, so the whole explode ran on
    // one core (measured: a 2.5 s single-task job at sf0.1). The width
    // must be EXPLICIT (ScanWidth.widen): a keyless-width
    // `repartition(col)` is AQE-coalesced by BYTES — doc rows are KBs
    // while the post-explode work is CPU-dense per byte, so AQE
    // collapsed it right back to one partition. At scale the scan is
    // already wide and widen is a no-op (the window then plans its
    // usual exchange).
    ScanWidth.widen(df.select(col(idCol), col(textCol)), col(idCol))
      .select(col(idCol),
        posexplode(split(Dedup.normalizedText(col(textCol)), "")).as(Seq("p", "c")))
      .where(col("c") =!= "")
      .select(col(idCol), col("p"), ascii(col("c")).cast("long").as("ord"))

  /** Winnowed fingerprint set, window shape: for every k-gram (the
    * base-31 mod-2³¹ fold of `k` consecutive ordinals) take the min per
    * trailing window of `w` hashes — full windows only — then distinct:
    * one row per selected `(id, fp)`. Documents with fewer than `w`
    * k-grams (length < k+w−1) contribute no fingerprints.
    *
    * Plan: scan → Generate(posexplode) → one Exchange on the id, then
    * two Window ops over the same sort (`lead` offsets gathering the
    * k−1 following ordinals; min of the w trailing hashes). The k-gram
    * hash is a nested Horner chain `((o₀·31+o₁)·31+o₂)… % 2³¹` over
    * the lead columns — pure codegen'd integer arithmetic (every
    * intermediate < 2³⁶). Round 17 shipped this node as
    * `collect_list` over a k-row frame plus an interpreted `aggregate`
    * lambda: one array allocation and 16 interpreted dispatches per
    * CHARACTER, measured ~19 task-CPU-s at sf0.1 for doc_dup_passages
    * — the Horner chain removes both (guide: expressions/codegen).
    * `lead(ord, k−1) IS NOT NULL` replaces `size(gram) === k`: both
    * keep exactly the positions with a full k-gram. */
  def fingerprints(
      df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      k: Int = 16, w: Int = 8): DataFrame = {
    require(k >= 2 && k <= 64, "k-gram width out of range")
    require(w >= 1, "window must be positive")
    val byPos = Window.partitionBy(idCol).orderBy("p")
    val ords: Seq[Column] = col("ord") +:
      (1 until k).map(j => lead(col("ord"), j).over(byPos))
    val horner = ords.foldLeft(lit(0L): Column)((h, o) => (h * 31L + o) % Mod)
    charOrds(df, textCol, idCol)
      .withColumn("hv", horner)
      .where(col("hv").isNotNull)
      // k-gram positions are contiguous (0-based p), so the trailing
      // row frame over them matches the oracle's ROWS w-1 PRECEDING;
      // p >= w-1 excludes partial windows exactly like its `i >= w`.
      .withColumn("fp", min("hv").over(byPos.rowsBetween(-(w - 1), Window.currentRow)))
      .where(col("p") >= w - 1)
      .select(col(idCol), col("fp")).distinct()
  }

  /** Scan-local twin of [[fingerprints]] (identical output): per-row
    * rolling k-gram hash in a typed flatMap. The leading ordinal is
    * removed with an exact modular update — h·31 − ord·31^(k−1)·31 +
    * next, all mod 2³¹ — so each document costs O(L·w) integer ops
    * (O(L) hashing + the w-wide winnow min) with no per-position
    * re-hash. Emits only the selected distinct fingerprints; at 100 TB
    * this is the variant to run — the shuffle carries ~2/(w+1) of
    * positions instead of every character.
    *
    * Typed flatMap (not an expression) is deliberate: a sequential
    * rolling fold carries state across positions, which Catalyst array
    * lambdas cannot express without O(L²) accumulator copies, and the
    * round-6 hang showed expression-shape hashing is one optimizer
    * decision away from pathology. Requires a BIGINT id column
    * (documents.doc_id is int64). */
  def fingerprintsScan(
      df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      k: Int = 16, w: Int = 8): DataFrame = {
    require(k >= 2 && k <= 64, "k-gram width out of range")
    require(w >= 1, "window must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val mod = Mod
    // 31^(k-1) mod 2^31 — multiplier of the leading ordinal in the fold
    val pk = (1 until k).foldLeft(1L)((a, _) => (a * 31L) % mod)
    df.select(col(idCol).cast("long").as("_1"),
        Dedup.normalizedText(col(textCol)).as("_2"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = if (text == null) "" else text
        val cps = t.codePoints.toArray
        val n = cps.length - (k - 1)
        if (n < w) Iterator.empty[(Long, Long)]
        else {
          val hs = new Array[Long](n)
          var h = 0L
          var j = 0
          while (j < k) { h = (h * 31L + cps(j)) % mod; j += 1 }
          hs(0) = h
          var i = 1
          while (i < n) {
            val stripped = (h - (cps(i - 1) * pk) % mod + mod) % mod
            h = (stripped * 31L + cps(i + k - 1)) % mod
            hs(i) = h
            i += 1
          }
          val out = new java.util.LinkedHashSet[Long]()
          var s = w - 1
          while (s < n) {
            var m = Long.MaxValue
            var q = s - w + 1
            while (q <= s) { if (hs(q) < m) m = hs(q); q += 1 }
            out.add(m)
            s += 1
          }
          val it = out.iterator()
          new Iterator[(Long, Long)] {
            def hasNext = it.hasNext
            def next() = (id, it.next())
          }
        }
      }
      .toDF(idCol, "fp")
  }

  /** Per-document duplicate-passage signal: `n_fp` selected
    * fingerprints and `n_shared` of them that occur in ≥ 2 distinct
    * documents — `n_shared / n_fp` is the duplicate-passage ratio used
    * as a filter threshold. Every input document appears in the output
    * (zero counts for documents too short to fingerprint).
    *
    * `scanLocal = true` routes through [[fingerprintsScan]] (the 100 TB
    * shape); default uses the window shape the DuckDB oracle replays. */
  def dupPassageStats(
      df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      k: Int = 16, w: Int = 8, scanLocal: Boolean = false): DataFrame = {
    // The fingerprint set feeds THREE consumers (the per-fp frequency
    // count, the per-doc join side, and through it the reassembly).
    // The window shape's exchange sits BEFORE the explode, so exchange
    // reuse alone would not share the explode+hash work between them.
    val fps = Checkpointing.shared(
      if (scanLocal) fingerprintsScan(df, textCol, idCol, k, w)
      else fingerprints(df, textCol, idCol, k, w))
    val counts = fps.groupBy("fp").agg(countDistinct(col(idCol)).as("nd"))
    val perDoc = fps.join(counts, "fp")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fp"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
    df.select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
  }
}
