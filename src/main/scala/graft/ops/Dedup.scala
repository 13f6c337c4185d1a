package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines —
  * part of the engine's north-star surface (absent from the reference,
  * which ingests a single document; mandated by BASELINE.json).
  *
  * Scale design notes (100 TB):
  *  - exact dedup shuffles on a 16-byte content hash, never on raw text;
  *  - near-dup paths are **banded LSH** (candidates meet only inside a
  *    band bucket) — an all-pairs crossJoin never appears in any plan;
  *  - shingle explosion is bounded per document; the self-join on
  *    `(shingle)` hits only documents sharing a shingle and the
  *    band-bucket variants cut that to sub-quadratic.
  */
object Dedup {

  /** Normalized text used as the dedup key: lowercase, collapse
    * whitespace, trim. */
  def normalizedText(c: Column): Column =
    trim(regexp_replace(lower(c), "\\s+", " "))

  /** [[normalizedText]] preceded by Unicode NFC — byte-distinct but
    * equal-rendering text (precomposed vs combining accents) collapses
    * to one dedup key ([[graft.expr.NormalizeUnicode]], codegen'd; the
    * C4/CCNet normalize-before-hash step). Opt-in so existing hash
    * oracles keep their exact byte semantics; `TextNormSpec` +
    * `DedupSpec` pin the collapse. */
  def normalizedTextNfc(c: Column): Column =
    normalizedText(graft.expr.TextNormExpr.nfc(c))

  /** [[exact]] with the NFC key — the production default for a corpus
    * that saw more than one text encoder. */
  def exactNfc(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy(col(idCol))
    df.withColumn("content_hash", md5(normalizedTextNfc(col(textCol))))
      .withColumn("is_dup", row_number().over(w) > 1)
  }

  /** Exact dedup: keep the lowest-id row per identical (normalized) text.
    * Shuffles on `md5(text)` — constant-width key regardless of document
    * size. Returns the input columns plus `content_hash` and `is_dup`. */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy("content_hash").orderBy(col(idCol))
    df.withColumn("content_hash", md5(normalizedText(col(textCol))))
      .withColumn("is_dup", row_number().over(w) > 1)
  }

  /** Word n-gram shingle set (distinct) of a text column: lowercase,
    * whitespace-tokenize, sliding n-grams joined with single spaces.
    * Implemented as a typed UDF (JIT-compiled sliding window) — the
    * expression form (`transform` + `slice` + `array_join` per token)
    * runs interpreted and dominated the dedup bench. Locale pinned to
    * ROOT so lowercasing matches Spark's own locale-independent
    * `lower`. */
  def shingles(c: Column, n: Int = 3): Column = {
    val f = udf { (text: String) =>
      if (text == null) Seq.empty[String]
      else {
        val toks = text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
        if (toks.length < n) Seq.empty[String]
        else toks.iterator.sliding(n).withPartial(false)
          .map(_.mkString(" ")).toSeq.distinct
      }
    }
    f(c)
  }

  /** Fused shingle→hash kernel: the DISTINCT n-gram shingles of a text
    * column as their 64-bit `xxhash64` values (seed 42 — bit-identical
    * to Spark's `xxhash64(shingle)` on the same string; pinned in
    * `DedupSpec`), computed in one JIT'd pass. Replaces the
    * shingle-array materialization + `repartition` barrier +
    * `explode` + Catalyst `xxhash64` chain everywhere only the HASHES
    * are consumed: the barrier then shuffles 8 bytes per shingle
    * instead of the shingle strings (guide §2.3), and the tokenize /
    * slide / hash run fused without an intermediate Seq[String].
    * Empty/short texts yield an empty array (the rows the old
    * `size(sh) > 0` filter dropped). */
  def shingleHashes(c: Column, n: Int = 3): Column = {
    val f = udf { (text: String) =>
      if (text == null) Array.empty[Long]
      else {
        val toks = text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
        if (toks.length < n) Array.empty[Long]
        else {
          val seen = new java.util.HashSet[String]()
          val out = new scala.collection.mutable.ArrayBuilder.ofLong()
          val sb = new java.lang.StringBuilder()
          var i = 0
          while (i + n <= toks.length) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(toks(i + j))
              j += 1
            }
            val s = sb.toString
            if (seen.add(s)) {
              val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
              out += org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
                b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
            }
            i += 1
          }
          out.result()
        }
      }
    }
    f(c)
  }

  /** Near-duplicate pairs by n-gram Jaccard similarity ≥ `threshold`.
    * Exact (not approximate): explode distinct shingles, self-join on the
    * shingle (only co-shingled docs meet), count the intersection, and
    * compute |A∩B| / (|A|+|B|-|A∩B|). At 100 TB, run [[minHashPairs]]
    * first and use this as the verification pass on candidates.
    * Returns `(id_a, id_b, jaccard)` with `id_a < id_b`. */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    // join on the shingle's 64-bit hash — an 8-byte shuffle key instead
    // of the trigram string (distinct-per-doc shingles, so a hash
    // collision would need two distinct trigrams colliding in the same
    // doc pair: ~(n_shingles²/2^64), negligible). The fused
    // [[shingleHashes]] kernel computes the hashes in one pass, so the
    // barrier shuffles long arrays, never the shingle strings; the two
    // join sides below share its exchange (ReuseExchange).
    val sh = df
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("hs"))
      .repartition(col("id")) // barrier: hash once, not per join side
      .withColumn("n_sh", size(col("hs")))
      .filter(col("n_sh") > 0)
    val ex = sh.select(col("id"), col("n_sh"), explode(col("hs")).as("s"))
    val a = ex.toDF("id_a", "n_a", "s")
    val b = ex.toDF("id_b", "n_b", "s")
    a.join(b, Seq("s"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b", "n_a", "n_b")
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard",
        col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Train→eval contamination detection: for each eval document, the
    * fraction of its distinct n-gram shingles that appear ANYWHERE in
    * the train corpus (containment, not pairwise Jaccard — an eval doc
    * stitched together from several train docs is still contaminated).
    * Returns `(idCol, containment)` for eval docs at or above
    * `threshold` (applied to the 4-dp-rounded value for oracle-stable
    * decision boundaries).
    *
    * Scale shape: the train side reduces to DISTINCT 8-byte shingle
    * hashes once (no per-pair work, no doc×doc join); the eval side
    * joins against that set and aggregates per doc. At 100 TB the
    * train shingle set is the big-but-bounded side and the join
    * shuffles hashes only — text never moves. */
  def contamination(
      train: DataFrame,
      evalDf: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    def sideHashes(df: DataFrame) = df
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("hs"))
      .repartition(col("id")) // barrier: hash once (size + explode both read hs)
      .withColumn("n_sh", size(col("hs")))
      .filter(col("n_sh") > 0)
      .select(col("id"), col("n_sh"), explode(col("hs")).as("s"))
    // train side needs only the distinct hash set — no per-doc counts,
    // no repartition barrier (shingle arrays never shuffle; the only
    // exchange is the 8-byte-hash distinct)
    val trainSet = train
      .select(explode(shingleHashes(col(textCol), n)).as("s"))
      .distinct()
    sideHashes(evalDf)
      .join(trainSet, Seq("s"))
      .groupBy("id", "n_sh")
      .agg(count(lit(1)).as("m"))
      .withColumn("containment",
        round(col("m").cast("double") / col("n_sh").cast("double"), 4))
      .filter(col("containment") >= threshold)
      .select(col("id").as(idCol), col("containment"))
  }

  /** Bloom-filter tier of [[contamination]] — the zero-probe-shuffle
    * 100 TB formulation. The train corpus reduces to ONE Bloom sketch
    * (`bloom_agg`: map-side partial sketches OR-merged up the
    * aggregation tree, so only fixed-size bit arrays ever cross the
    * wire), the sketch ships to executors inside the probe expression,
    * and the eval side aggregates containment locally — the probe is a
    * filter, not a join, so there is NO shuffle against the train side
    * at all. Compare [[contamination]], whose train side is a distinct
    * 8-byte-hash set the eval side must join against: correct, but the
    * train set rides the cluster; here it is ~`1.44·log2(1/fpp)` bits
    * per item, ~3.6 MB per billion shingles at fpp=1e-6... per 2^22
    * expected items it is ~15 MB — page-cache-resident at any corpus
    * size you'd screen against.
    *
    * Bloom semantics make the screen conservative: no false negatives
    * (a contaminated doc can never be missed), ≤ fpp false positives
    * per probed shingle (a clean doc's containment can only round UP) —
    * exactly the failure direction decontamination wants. The sketch
    * bytes are deterministic for a given train set (insertion-order-
    * and partitioning-independent; asserted in `BloomExprSpec`). */
  def contaminationBloom(
      train: DataFrame,
      evalDf: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3,
      threshold: Double = 0.5,
      expectedItems: Long = 1L << 22,
      fpp: Double = 1e-6): DataFrame = {
    import graft.expr.BloomExpr
    val trainHashes = train
      .select(explode(shingleHashes(col(textCol), n)).as("s"))
    // the only driver-side collect: the constant-size sketch itself
    val sketch = trainHashes
      .agg(BloomExpr.bloomAgg(col("s"), expectedItems, fpp).as("bf"))
      .head().getAs[Array[Byte]](0)
    evalDf
      .select(col(idCol).as("id"), shingleHashes(col(textCol), n).as("hs"))
      .repartition(col("id")) // barrier: hash once (see ngramJaccardPairs)
      .withColumn("n_sh", size(col("hs")))
      .filter(col("n_sh") > 0)
      .select(col("id"), col("n_sh"), explode(col("hs")).as("s"))
      .filter(BloomExpr.bloomMightContain(sketch, col("s")))
      .groupBy("id", "n_sh")
      .agg(count(lit(1)).as("m"))
      .withColumn("containment",
        round(col("m").cast("double") / col("n_sh").cast("double"), 4))
      .filter(col("containment") >= threshold)
      .select(col("id").as(idCol), col("containment"))
  }

  /** MinHash signature: for each of `numHashes` permutations, the
    * minimum permuted hash over the shingle set. Implemented as a typed
    * UDF with a JIT-compiled hot loop — the pure-expression form
    * (`transform(seq, i -> array_min(transform(sh, s -> xxhash64(s, i))))`)
    * runs interpreted at ~4 lambda dispatches per hash and was measured
    * 10× slower at sf0.1. Deterministic AND engine-neutral: the base
    * 64-bit hash per shingle is the big-endian first 8 bytes of
    * `md5(shingle)` (same convention as [[simhash]] — any SQL engine's
    * `md5` yields the same value), then `numHashes` universal-hash
    * permutations `(2i+1) * h + i * φ64` of that base with two's-
    * complement wraparound — one digest per shingle regardless of
    * signature width, and every downstream value is replayable in a
    * DuckDB CTE (which is what gives `dedup_minhash_lsh` a hash-compared
    * oracle instead of a rows-only check). md5 costs ~2× an xxhash64
    * base; at 100 TB swap the base hash for xxhash64 if oracle parity
    * is not needed — the signature/banding algebra is unchanged. */
  def minhashSignature(shinglesCol: Column, numHashes: Int = 32): Column = {
    val f = udf { (sh: Seq[String]) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val sig = Array.fill(numHashes)(Long.MaxValue)
      sh.foreach { s =>
        val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var j = 0
        while (j < 8) { h = (h << 8) | (d(j) & 0xffL); j += 1 }
        var i = 0
        while (i < numHashes) {
          // odd multiplier + seed-indexed offset: a distinct affine
          // permutation of the base hash per signature slot
          val p = h * (2 * i + 1) + i * 0x9e3779b97f4a7c15L
          if (p < sig(i)) sig(i) = p
          i += 1
        }
      }
      sig
    }
    f(shinglesCol)
  }

  /** Fused shingle→MinHash signature straight from the text column:
    * one JIT'd pass that tokenizes, slides the n-gram window, hashes
    * each FIRST-SEEN shingle (md5 → big-endian first 8 bytes, the
    * [[minhashSignature]] convention) and folds all `numHashes`
    * permutation lanes in the same loop. Returns null for documents
    * with fewer than `n` tokens (the rows [[shingles]]+`size(sh) > 0`
    * dropped).
    *
    * Value-identical to `minhashSignature(shingles(c, n), numHashes)`
    * — MinHash is a min, so the seen-set only avoids re-digesting
    * duplicate shingles, never changes a lane — but skips the
    * intermediate: the round-≤17 pipeline materialized the distinct
    * shingle ARRAY per document and shuffled it through a
    * `repartition(id)` barrier (needed to stop CollapseProject from
    * inlining the shingling into every downstream lambda) before a
    * second UDF signed it. Fusing removes the array materialization,
    * one UDF boundary, and — at the [[minHashPairs]]/BandsRefresh call
    * sites — the shingle-array SHUFFLE: the barrier now moves a
    * 32-slot long array per document instead of the document's whole
    * shingle set (guide §2.3: shuffle keys and sketches, not
    * payloads). */
  def minhashSignatureOfText(c: Column, n: Int = 3, numHashes: Int = 32): Column = {
    val f = udf { (text: String) =>
      if (text == null) null
      else {
        val toks = text.toLowerCase(java.util.Locale.ROOT).trim.split("\\s+")
        if (toks.length < n) null
        else {
          val md = java.security.MessageDigest.getInstance("MD5")
          val seen = new java.util.HashSet[String]()
          val sig = Array.fill(numHashes)(Long.MaxValue)
          val sb = new java.lang.StringBuilder()
          var i = 0
          while (i + n <= toks.length) {
            sb.setLength(0)
            var j = 0
            while (j < n) {
              if (j > 0) sb.append(' ')
              sb.append(toks(i + j))
              j += 1
            }
            val s = sb.toString
            if (seen.add(s)) {
              val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              var h = 0L
              var b = 0
              while (b < 8) { h = (h << 8) | (d(b) & 0xffL); b += 1 }
              var q = 0
              while (q < numHashes) {
                val p = h * (2 * q + 1) + q * 0x9e3779b97f4a7c15L
                if (p < sig(q)) sig(q) = p
                q += 1
              }
            }
            i += 1
          }
          sig
        }
      }
    }
    f(c)
  }

  /** Banded-LSH near-dup candidate pairs via MinHash: signature split
    * into `bands` bands of `rows` hashes; documents sharing any band
    * bucket become a candidate pair; candidates are then scored by
    * estimated Jaccard (matching signature fraction). This is the scale
    * path: the join key is `(band_idx, band_hash)` — sub-quadratic, no
    * crossJoin in the plan.
    *
    * The `repartition` after the shingle projection is a deliberate
    * materialization barrier: without it CollapseProject inlines the
    * shingling expression into every one of the `numHashes` signature
    * lambdas and the banding hashes, multiplying the tokenization work
    * ~40× (measured: 60s → 3s at sf0.01). */
  def minHashPairs(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      n: Int = 3,
      bands: Int = 8,
      rowsPerBand: Int = 4,
      threshold: Double = 0.5): DataFrame = {
    val numHashes = bands * rowsPerBand
    val sig = df
      .select(col(idCol).as("id"),
        minhashSignatureOfText(col(textCol), n, numHashes).as("sig"))
      .filter(col("sig").isNotNull)
      .repartition(col("id")) // barrier: signature computed exactly once
      // (shared by banding and both score-side join-backs; the shuffle
      // carries 32 longs per doc, never the shingle set)
    // band join and dedup carry only (id, band) — the 32-wide signature
    // arrays never enter the pair shuffle; they're joined back onto the
    // (small) candidate set afterwards. The band key is the band's slot
    // values themselves (comma-joined), not a murmur hash of them:
    // collision-free, so "same bucket" means EXACTLY "all rowsPerBand
    // minhashes equal" — the semantics a SQL oracle can replay. The key
    // is ~rowsPerBand×20 bytes on the wire; at 100 TB wrap it in
    // xxhash64(...) to shuffle 8 bytes at a 2^-64 false-candidate risk.
    val banded = sig.select(
      col("id"),
      posexplode(
        transform(sequence(lit(0), lit(bands - 1)),
          b => concat_ws(",",
            transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
              _.cast("string")))))
        .as(Seq("band_idx", "band_hash")))
    val a = banded.toDF("id_a", "band_idx", "band_hash")
    val b = banded.toDF("id_b", "band_idx", "band_hash")
    val candidates = a.join(b, Seq("band_idx", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    candidates
      .join(sig.toDF("id_a", "sig_a"), "id_a")
      .join(sig.toDF("id_b", "sig_b"), "id_b")
      .withColumn("est_jaccard",
        aggregate(
          zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** 64-bit SimHash of the token set: each token votes its hash bits
    * (+1 for a set bit, −1 for unset); the sign of each bit-sum forms the
    * fingerprint. Near-dups have small Hamming distance.
    *
    * Single pass over the tokens: one JIT'd loop folds every token's
    * ±1 bit votes into a 64-wide accumulator (a 64-term per-bit
    * formulation would re-tokenize the text 64 times).
    *
    * The per-token 64-bit hash is the big-endian first 8 bytes of
    * `md5(token)` — engine-neutral arithmetic (any SQL engine's `md5`
    * yields the same hex), which is what lets `dedup_simhash` carry a
    * DuckDB hash-compared oracle instead of a rows-only check. Empty
    * tokens are dropped, so null/blank text fingerprints to 0. */
  def simhash(c: Column): Column = {
    val f = udf { (text: String) =>
      if (text == null) 0L
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        val toks = text.toLowerCase(java.util.Locale.ROOT).trim
          .split("\\s+").filter(_.nonEmpty)
        val votes = new Array[Int](64)
        toks.foreach { t =>
          val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var h = 0L
          var i = 0
          while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        var fp = 0L
        var b = 0
        while (b < 64) { if (votes(b) > 0) fp |= (1L << b); b += 1 }
        fp
      }
    }
    f(c)
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** EXACT near-dup pairs among 64-bit fingerprints: all (id_a < id_b)
    * with `hamming64 <= maxHamming`, found without an all-pairs join.
    *
    * Pigeonhole banding, not probabilistic LSH: the 64 bits split into
    * `maxHamming + 1` disjoint bands, and a pair within the bound has
    * too few differing bits to touch every band — it agrees EXACTLY on
    * at least one, so the band-equality self-join is a lossless
    * candidate generator (zero false negatives, unlike minhash/simhash
    * banding) and the `hamming64` post-filter makes the result exact.
    * The same trick powers PDQ/photoDNA-scale image-hash sweeps.
    *
    * 100 TB shape: the shuffle carries (band_idx, band_key) — 12 bytes
    * per row per band — and candidates meet only inside equal-band
    * buckets: sub-quadratic everywhere fingerprints are spread, exact
    * everywhere. Null fingerprints (undecodable assets) never pair. */
  def fingerprintPairs64(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64, s"maxHamming out of range: $maxHamming")
    val bands = maxHamming + 1
    val bandKeys: Seq[Column] = (0 until bands).map { i =>
      val start = i * 64 / bands
      val width = (i + 1) * 64 / bands - start
      if (width == 64) col("h")
      else shiftrightunsigned(col("h"), start).bitwiseAND(lit((1L << width) - 1L))
    }
    val banded = df
      .select(col(idCol).as("id"), col(hashCol).cast("long").as("h"))
      .filter(col("h").isNotNull)
      .select(col("id"), col("h"),
        posexplode(array(bandKeys: _*)).as(Seq("band_idx", "band_key")))
    val a = banded.toDF("id_a", "h_a", "band_idx", "band_key")
    val b = banded.toDF("id_b", "h_b", "band_idx", "band_key")
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "h_a", "h_b").distinct()
      .select(col("id_a"), col("id_b"),
        hamming64(col("h_a"), col("h_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Connected components over near-dup pairs — label propagation with
    * a driver-side convergence loop (the standard Spark formulation;
    * GraphX does the same under the hood). Each vertex adopts the
    * minimum component id among itself and its neighbors until no label
    * changes. Returns `(id, comp)`.
    *
    * Iterations needed = graph diameter; near-dup clusters are shallow
    * (a dup of a dup of a dup…), so the default cap is generous — and
    * EXHAUSTING it now fails loudly instead of returning silently
    * under-merged components (the one failure mode worse than a slow
    * job). For graphs whose diameter is NOT bounded — entity-
    * resolution chains, link graphs — use
    * [[connectedComponentsAlternating]], which converges in O(log n)
    * rounds regardless of diameter. */
  def connectedComponents(
      pairs: DataFrame, maxIter: Int = 15,
      maxDriverEdges: Long = DriverCcMaxEdges): DataFrame = {
    // `pairs` may be an expensive LSH plan, and every round reads the
    // edge list
    val edges = Checkpointing.shared(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))))
    val driverCc = driverUnionFind(edges, maxDriverEdges)
    if (driverCc.isDefined) return driverCc.get
    var labels = Checkpointing.shared(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")))
    var changed = true
    var i = 0
    while (changed && i < maxIter) {
      val prop = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("comp"))
      // truncated: the plan would double each round; lazily, so the
      // change-detection count below writes it in the same job
      val next = Checkpointing.truncateLazy(labels.unionAll(prop)
        .groupBy("id").agg(min("comp").as("comp")), None)
      changed = next.join(labels.withColumnRenamed("comp", "old_comp"), "id")
        .filter(col("comp") =!= col("old_comp"))
        .limit(1).count() > 0
      labels = next
      i += 1
    }
    require(!changed,
      s"connectedComponents did not converge in $maxIter rounds — the pair " +
        "graph's diameter exceeds the cap; raise maxIter or use " +
        "connectedComponentsAlternating (O(log n) rounds at any diameter)")
    labels
  }

  /** Edge-count bound under which connected components folds on the
    * DRIVER instead of iterating distributed rounds. 4 Mi edges ≈
    * ≤ 128 MB of boxed endpoints — the bounded-sidecar collect budget
    * [[graft.pipeline.OverlapStats.overlapPairs]] and the IVF
    * codebooks already use. The distributed fixpoint costs 6–8
    * SEQUENTIAL shuffle stages PER ROUND for O(log n) rounds — tens of
    * scheduler round-trips that dwarf the compute when the pair graph
    * is small. And the pair graph IS small by construction at every
    * scale: banded LSH emits near-dup candidates (a bounded fraction
    * of the corpus), and the IVM refresh path localizes to affected
    * components. A 100 TB corpus whose DEDUP PAIR GRAPH exceeds 4 Mi
    * edges genuinely needs the distributed rounds — that path is
    * unchanged. */
  private[graft] val DriverCcMaxEdges: Long = 4L * 1024 * 1024

  /** Driver union-find over a (src, dst) edge list, if it is within
    * [[DriverCcMaxEdges]] (`edges` MUST be computed once — the count
    * and collect would otherwise run the pair plan twice). Returns the
    * same `(id, comp = min member id)` frame as the distributed
    * fixpoints: one row per node appearing in any edge, component
    * representative = minimum id under the id type's natural order
    * (the `least`/`min` order the distributed paths use).
    * Path-compressed + size-united: O(E α(E)). */
  private def driverUnionFind(
      edges: DataFrame, maxEdges: Long): Option[DataFrame] = {
    if (edges.count() > maxEdges) return None
    val spark = edges.sparkSession
    val rows = edges.collect()
    // dense int ids for the union-find arrays; ids stay comparable via
    // their natural (Comparable) order — Long, String, … all qualify
    val index = new java.util.HashMap[Any, Int]()
    val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
    def idx(v: Any): Int =
      if (index.containsKey(v)) index.get(v)
      else { index.put(v, vals.length); vals += v; vals.length - 1 }
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    val rank = scala.collection.mutable.ArrayBuffer.empty[Byte]
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val (a, b) = (idx(r.get(0)), idx(r.get(1)))
      while (parent.length < vals.length) {
        parent += parent.length; rank += 0
      }
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (rank(ra) < rank(rb)) parent(ra) = rb
        else if (rank(ra) > rank(rb)) parent(rb) = ra
        else { parent(rb) = ra; rank(ra) = (rank(ra) + 1).toByte }
      }
    }
    def cmp(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
    // component representative = MIN member value (not the union-find
    // root, which is rank-chosen)
    val minOf = new java.util.HashMap[Int, Any]()
    vals.indices.foreach { i =>
      val root = find(i)
      val cur = minOf.get(root)
      if (cur == null || cmp(vals(i), cur) < 0) minOf.put(root, vals(i))
    }
    val idType = edges.schema.head.dataType
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType, nullable = true),
      org.apache.spark.sql.types.StructField("comp", idType, nullable = true)))
    val out = vals.indices.map { i =>
      org.apache.spark.sql.Row(vals(i), minOf.get(find(i)))
    }
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(out, 1), schema))
  }

  /** Connected components by ALTERNATING star contraction (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC 2014) —
    * the scale path for graphs whose diameter is not small:
    * convergence in O(log n) ROUNDS REGARDLESS OF DIAMETER, where
    * label propagation needs diameter rounds (a 10⁶-node chain: ~20
    * rounds vs 10⁶).
    *
    * Each round: LARGE-STAR hangs every neighbor larger than `u` onto
    * the minimum of `u`'s closed neighborhood; SMALL-STAR hangs the
    * not-larger neighbors (and `u` itself) onto that minimum. Both are
    * one self-grouping aggregation over the edge list — no driver
    * state beyond the convergence check. The fixpoint is a star per
    * component rooted at its minimum id; output matches
    * [[connectedComponents]] row-for-row (`DedupClusterSpec` pins
    * equality on random graphs and the chain case). */
  def connectedComponentsAlternating(
      pairs: DataFrame, maxRounds: Int = 40,
      maxDriverEdges: Long = DriverCcMaxEdges): DataFrame = {
    def star(edges: DataFrame, large: Boolean): DataFrame = {
      // closed-neighborhood minimum per node, then re-hang the chosen
      // side of the neighborhood onto it
      val nbrs = edges.unionAll(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val m = nbrs.groupBy("src").agg(min(col("dst")).as("__mn"))
        .select(col("src"), least(col("__mn"), col("src")).as("m"))
      val side =
        if (large) nbrs.filter(col("dst") > col("src"))
        else nbrs.filter(col("dst") <= col("src"))
          .unionAll(nbrs.select(col("src"), col("src").as("dst")).distinct())
      side.join(m, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    var edges = Checkpointing.shared(pairs
      .select(greatest(col("id_a"), col("id_b")).as("src"),
        least(col("id_a"), col("id_b")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct())
    val driverCc = driverUnionFind(edges, maxDriverEdges)
    if (driverCc.isDefined) return driverCc.get
    var converged = false
    var r = 0
    while (!converged && r < maxRounds) {
      // truncated: the plan would grow each round; lazily, so the
      // convergence count below writes it in the same job
      val next = Checkpointing.truncateLazy(
        star(star(edges, large = true), large = false), None)
      // fixpoint: the (canonicalized) edge set stopped changing
      converged = next.exceptAll(edges).unionAll(edges.exceptAll(next))
        .limit(1).count() == 0
      edges = next
      r += 1
    }
    require(converged,
      s"alternating star contraction did not converge in $maxRounds rounds")
    // stars: src (non-root) -> dst (root); roots appear only as dst
    val members = edges.select(col("src").as("id"), col("dst").as("comp"))
    val roots = edges.select(col("dst").as("id")).distinct()
      .join(members.select(col("id")), Seq("id"), "left_anti")
      .withColumn("comp", col("id"))
    members.unionAll(roots)
  }

  /** Cluster-level dedup: given docs and their near-dup pairs, keep one
    * representative (minimum id) per connected component; singletons
    * (docs in no pair) always survive. */
  def dropNearDups(df: DataFrame, pairs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs)
    val losers = comps.filter(col("id") =!= col("comp")).select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware survivorship: per near-dup component keep the row
    * with the HIGHEST `scoreCol` (ties to lowest id) — the policy real
    * curation runs, where dropping by min-id can discard the clean
    * copy and keep the boilerplate-wrapped one. Singletons survive
    * untouched. Deterministic for any score type with a total order;
    * use an integer-valued score when a cross-engine oracle replays
    * the choice (float score ties would be engine-dependent only if
    * the score itself were computed differently — the tie-break on id
    * keeps even equal scores deterministic). One aggregation over the
    * component assignment — no extra corpus pass beyond
    * [[connectedComponents]]. */
  def dropNearDupsBy(
      df: DataFrame, pairs: DataFrame, scoreCol: String,
      idCol: String = "doc_id"): DataFrame = {
    val comps = connectedComponents(pairs)
    val scored = df.select(col(idCol).as("id"), col(scoreCol).as("__score"))
      .join(comps, Seq("id")) // only clustered rows — singletons bypass
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("comp"))
      .orderBy(col("__score").desc, col("id").asc)
    val losers = scored
      .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Exact-dedup convenience: drop all but the lowest-id row per
    * identical normalized text. */
  def dropExactDups(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    exact(df, textCol, idCol).filter(!col("is_dup"))
      .drop("content_hash", "is_dup")

  /** Near-dup pairs by embedding cosine ≥ `threshold`, banded by
    * hyperplane signs (sign-LSH): vectors agreeing on a `bandBits`-bit
    * sign pattern land in the same bucket; exact cosine is computed only
    * inside buckets.
    *
    * The hyperplanes are ±1-valued — the SimHash construction, a valid
    * sign-LSH family — with signs derived engine-neutrally from md5:
    * component `j` of plane `p` is bit `j mod 64` of the big-endian
    * first 8 bytes of `md5("plane-<p>-<j/64>")`. Signs are computed on
    * the RAW vector (`sign⟨v,plane⟩` is scale-invariant, so no
    * normalization pass), and candidates are scored with plain cosine —
    * the same arithmetic as the exact all-pairs twin. md5-replayable
    * planes + shared scoring are what give `emb_neardup_lsh` a DuckDB
    * hash-compared oracle instead of a rows-only check. */
  def embeddingNearDupPairs(
      df: DataFrame,
      embCol: String = "embedding",
      idCol: String = "vec_id",
      dim: Int = 64,
      bandBits: Int = 8,
      numBands: Int = 4,
      threshold: Double = 0.9): DataFrame = {
    import graft.index.VectorIndex
    val md = java.security.MessageDigest.getInstance("MD5")
    def planeBlock(p: Int, blk: Int): Long = {
      val d = md.digest(s"plane-$p-$blk".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
      h
    }
    val planes: Array[Array[Double]] =
      Array.tabulate(numBands * bandBits) { p =>
        Array.tabulate(dim) { j =>
          if (((planeBlock(p, j / 64) >>> (j % 64)) & 1L) == 1L) 1.0 else -1.0
        }
      }
    val signBit: Array[Column] = planes.map { pl =>
      (VectorIndex.dot(col("e"), graft.expr.VectorExpressions.queryVector(pl)) >= 0).cast("int")
    }
    val bandKeys = (0 until numBands).map { b =>
      concat_ws("", signBit.slice(b * bandBits, (b + 1) * bandBits): _*)
    }
    val vecs = df
      .select(col(idCol).as("id"), transform(col(embCol), _.cast("double")).as("e"))
      .repartition(col("id")) // barrier: cast once, shared by banding and scoring
    val banded = vecs.select(col("id"),
      posexplode(array(bandKeys: _*)).as(Seq("band_idx", "band_key")))
    // candidate dedup on bare ids; vectors join back after (they never
    // ride the pair shuffle)
    val a = banded.select(col("id").as("id_a"), col("band_idx"), col("band_key"))
    val b = banded.select(col("id").as("id_b"), col("band_idx"), col("band_key"))
    a.join(b, Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(vecs.toDF("id_a", "e_a"), "id_a")
      .join(vecs.toDF("id_b", "e_b"), "id_b")
      .withColumn("cos", VectorIndex.cosine(col("e_a"), col("e_b")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Corpus-level duplicated-passage removal — the C4 rule (Raffel et
    * al. 2020, §2.2: "we discarded any three-sentence span occurring
    * more than once") re-expressed over fixed-width token windows,
    * since this corpus has no sentence boundaries: segment each
    * document's normalized token stream into consecutive
    * non-overlapping `segTokens`-token passages, count how many
    * DISTINCT documents each passage text occurs in, and drop every
    * passage appearing in `maxDocs`-or-more documents (license
    * headers, navigation chrome, template spam). Returns one row per
    * document that has ≥1 token:
    * `(idCol, n_segs, n_dropped, clean_text)` — `clean_text` re-joins
    * the surviving passages in order ("" when everything was
    * boilerplate).
    *
    * 100 TB shape: three shuffles, each on a bounded key — (doc, seg)
    * for the order-safe passage concat, the 16-byte passage md5 for
    * the corpus-frequency count (map-side combined, one row per
    * distinct passage), and the doc id for reassembly. No all-pairs
    * anywhere; the boilerplate-frequency side is broadcast-sized
    * whenever boilerplate is rare. The `array_sort(collect_list(...))`
    * concats are mandatory for determinism after a shuffle (same
    * argument as [[Sectionize]]). Passage identity is exact text
    * equality (md5 key), so the `doc_passage_dedup` DuckDB oracle
    * replays it bit-for-bit.
    */
  def stripDuplicatePassages(
      df: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      segTokens: Int = 10,
      maxDocs: Int = 2): DataFrame = {
    require(segTokens > 0, "segTokens must be positive")
    require(maxDocs > 1, "maxDocs < 2 would drop every passage")
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
    val words = df
      .select(col(idCol).as("id"), posexplode(toks).as(Seq("pos", "word")))
    val segs = words
      .groupBy(col("id"), floor(col("pos") / segTokens).cast("int").as("seg"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("word")))),
          x => x.getField("word")), " ").as("seg_text"))
      .withColumn("seg_hash", md5(col("seg_text")))
    val freq = segs.groupBy("seg_hash")
      .agg(countDistinct(col("id")).as("n_docs"))
    val kept = segs.join(freq, "seg_hash").filter(col("n_docs") < maxDocs)
    val perDoc = segs.groupBy("id").agg(count(lit(1)).as("n_segs"))
    val keptAgg = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("seg"), col("seg_text")))),
          x => x.getField("seg_text")), " ").as("clean_text"))
    perDoc.join(keptAgg, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_segs"),
        (col("n_segs") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }
}
