package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expr.VectorExpressions.queryVector

/** O-KNN / O-THRESH / S9 — the vector index.
  *
  * The reference stores `(uuid, float[1024], payload)` points in Qdrant
  * with COSINE distance (`scripts/services/qdrant_service.py:20-42`) and
  * queries top-k=5 with score_threshold=0.5
  * (`scripts/test.out.py:14-19`). Here the index **is** a Spark table:
  *
  *  - vectors are L2-normalized **at write time**, so search is a plain
  *    dot product (dot ≡ cosine on unit vectors) — no per-row norm
  *    recomputation on the 100 TB read path;
  *  - top-k is `filter(θ) → orderBy(sim desc) → limit(k)`, which a
  *    collect plans as [[graft.plans.TakeOrderedAndProjectCollectExec]]:
  *    per-partition heap top-k on executors in one job of plain task
  *    functions, merge on the driver — no global sort, no collect of
  *    the index, no per-request closure cleaning;
  *  - all arithmetic is done in double (cast from float) so results are
  *    stable and match the DuckDB oracle bit-for-bit after rounding;
  *  - vectors stay native in the plan: write-time normalization is one
  *    codegen'd [[graft.expr.VectorExpressions.Normalized]], and a query
  *    vector enters the search plan as one
  *    [[graft.expr.VectorExpressions.QueryVector]] leaf (printed
  *    `query[<dim>]`), not as `dim` literals that every eager step
  *    re-analyzes and every plan string prints in full.
  */
object VectorIndex {

  /** Sum of element-wise products, evaluated sequentially per row —
    * deterministic (no cross-row float reduction). Backed by the
    * codegen'd [[graft.expr.VectorExpressions.DotProduct]]; the
    * higher-order-function formulation ([[hofDot]]) computes the same
    * value interpreted, kept as a portability reference. */
  def dot(a: Column, b: Column): Column = graft.expr.VectorExpressions.dot(a, b)

  def l2Norm(a: Column): Column = graft.expr.VectorExpressions.l2Norm(a)

  /** Cosine similarity between two vector columns (no normalization
    * assumption): dot / (||a|| * ||b||), single codegen'd pass. */
  def cosine(a: Column, b: Column): Column = graft.expr.VectorExpressions.cosine(a, b)

  /** HOF twin of [[dot]] — interpreted; same sequential arithmetic. */
  def hofDot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  /** Write-time normalization: returns the frame with `embCol`
    * (`ARRAY<FLOAT/DOUBLE>`) replaced by its unit-length double form,
    * zero vectors staying zero. Do this once at ingest so every search
    * is a dot product. */
  def withNormalized(df: DataFrame, embCol: String = "embedding"): DataFrame =
    df.withColumn(embCol, graft.expr.VectorExpressions.normalized(col(embCol)))

  /** `query` scaled to unit length (a zero query stays zero). */
  private def unit(query: Array[Double]): Array[Double] = {
    val n = math.sqrt(query.map(x => x * x).sum)
    if (n > 0) query.map(_ / n) else query
  }

  /** Per-group element-wise mean vectors (class centroids / doc-level
    * mean pooling of chunk embeddings). Shape: explode to (group, pos,
    * value) — map-side combine compresses each partition to ≤
    * |groups|·dim partial sums, so the shuffle carries dimension
    * counts, not vectors — then one bounded (group, pos) agg and a
    * |groups|-row reassembly.
    *
    * Determinism: values are fixed-pointed at 2⁻³³ with `floor` BEFORE
    * summation (the DSIR exact-BIGINT move, but on a power-of-TWO
    * quantum so the scaling multiply is itself exact for float32
    * inputs and `floor` has no rounding ties, unlike a decimal cast
    * whose half-up/half-even choice differs across engines). The sum
    * is exact long arithmetic; the mean is ONE final IEEE division —
    * partition- and engine-invariant (oracle `emb_label_centroids`). */
  def centroids(
      df: DataFrame, groupCol: String, embCol: String = "embedding"): DataFrame = {
    val Q = 8589934592.0 // 2^33
    df.select(col(groupCol), posexplode(col(embCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), col("pos"))
      .agg((sum(floor(col("v").cast("double") * Q)).cast("double") /
        (count(lit(1)).cast("double") * Q)).as("m"))
      .groupBy(col(groupCol))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("m")))),
        x => x("m")).as("centroid"))
  }

  /** Write-time int8 scalar quantization: appends `qembedding` (BINARY,
    * one signed byte per dimension) and `qscale` (the per-vector
    * max-|x| symmetric scale). A 1024-d float vector is 4 KB; its int8
    * form is 1 KB — at 100 TB the quantized index is the one that fits
    * in the page cache, and the scoring kernel becomes pure integer ALU
    * work (`ByteDotProduct`, codegen'd). Quantize AFTER
    * [[withNormalized]] so the reconstructed dot approximates cosine.
    * Keep the float column for the re-rank tier or drop it for a
    * pure-int8 index. */
  def withQuantized(df: DataFrame, embCol: String = "embedding"): DataFrame = {
    val scaled = df.withColumn("qscale",
      graft.expr.VectorExpressions.maxAbs(col(embCol)))
    scaled.withColumn("qembedding",
      graft.expr.VectorExpressions.quantizeInt8(col(embCol), col("qscale")))
  }

  /** 1-BIT signature tier: the sign pattern of each dimension packed
    * into `ceil(dim/64)` BIGINT words (`bsig`) — 1 bit/dim, a 32×
    * shrink over float32 and 8× over int8. Hamming distance between
    * sign patterns estimates the angle (`cos θ ≈ cos(π·h/dim)`, the
    * SimHash estimator — the same geometry as [[graft.ops.Dedup
    * .embeddingNearDupPairs]]'s sign-LSH, here with coordinate planes
    * over already-normalized vectors). Built from pure Column
    * expressions (`aggregate`/`shiftleft`), no UDF. */
  def withBinary(df: DataFrame, embCol: String = "embedding", dim: Int = 64): DataFrame = {
    val words = (dim + 63) / 64
    val sigWord = (w: Int) =>
      s"aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, j) -> acc | " +
        s"CASE WHEN ${w * 64} + j < $dim AND element_at($embCol, ${w * 64} + j + 1) > 0.0 " +
        s"THEN shiftleft(CAST(1 AS BIGINT), CAST(j AS INT)) ELSE CAST(0 AS BIGINT) END)"
    if (words == 1) df.withColumn("bsig", expr(sigWord(0)))
    else df.withColumn("bsig", expr(s"array(${(0 until words).map(sigWord).mkString(", ")})"))
  }

  /** Two-tier search over the 1-bit signatures: candidates are the
    * `k · overfetch` SMALLEST hamming distances to the query's sign
    * pattern (the scan reads 8 bytes per 64 dims — `bit_count(xor)`
    * is one fused ALU op per word), then the float tier re-scores
    * exactly those rows. Sign bits are the coarsest tier in the
    * engine (exact > int8 > PQ > binary in fidelity, the reverse in
    * bytes scanned); the overfetch needed for exact-equality is
    * correspondingly larger — `knn_binary_rerank_top5` ships with the
    * value at which the result equals brute-force [[search]] and
    * shares its oracle; `QuantizedIndexSpec` measures the recall
    * frontier. 64-dim (single-word) form only — the current
    * embeddings fixture; the multi-word generalization changes the
    * distance expression to a `zip_with` sum. */
  def searchBinaryReranked(
      index: DataFrame,
      query: Array[Double],
      k: Int = 5,
      threshold: Double = 0.5,
      embCol: String = "embedding",
      overfetch: Int = 16): DataFrame = {
    require(overfetch >= 1)
    val idCol = index.columns.head
    val qn = unit(query)
    require(qn.length <= 64, "searchBinaryReranked: single-word (<=64-dim) form")
    val qsig = qn.zipWithIndex.foldLeft(0L) { case (acc, (x, j)) =>
      if (x > 0.0) acc | (1L << j) else acc
    }
    val candidates = index
      .withColumn("__h", expr(s"bit_count(bsig ^ CAST($qsig AS BIGINT))"))
      .orderBy(col("__h"), col(idCol))
      .limit(k * overfetch)
      .select(col(idCol), col(embCol))
    val qCol = queryVector(qn)
    candidates
      .withColumn("score", round(dot(col(embCol), qCol), 4))
      .filter(col("score") >= threshold)
      .select(idCol, "score")
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Approximate top-k search over an int8-quantized index
    * ([[withQuantized]] over normalized vectors): score =
    * `byteDot(qv, qq) · qscale · |q|∞ / 127²` ≈ cosine. Same
    * TakeOrderedAndProject shape as [[search]]; the scan reads 1 byte
    * per dimension instead of 4. Quantization error is ~1/255 per
    * element — rank inversions only between near-tied neighbors, which
    * the float re-rank tier (exact [[search]] over the top-k·4
    * candidates) removes; `QuantizedIndexSpec` measures recall. */
  def searchQuantized(
      index: DataFrame,
      query: Array[Double],
      k: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    val qn = unit(query)
    val qs = qn.map(math.abs).foldLeft(0.0)(math.max)
    val qb = if (qs == 0.0) qn.map(_ => 0.toByte)
      else qn.map(x => math.round(x / qs * 127.0).toByte)
    val factor = qs / (127.0 * 127.0)
    index
      .withColumn("score",
        round(graft.expr.VectorExpressions.byteDot(col("qembedding"), lit(qb)) *
          col("qscale") * lit(factor), 4))
      .filter(col("score") >= threshold)
      .orderBy(col("score").desc, col(index.columns.head))
      .limit(k)
  }

  /** Two-tier search: the int8 tier scans cheaply for `k · overfetch`
    * candidates, the float tier re-scores exactly those rows and
    * returns the final top-k. With an overfetch covering the
    * quantization error band (default 4×), the result equals exact
    * [[search]] — which is how `knn_quantized_rerank_top5` shares the
    * brute-force oracle. At 100 TB the exact tier touches only
    * `k · overfetch` vectors, so the 4-byte-per-dim payload is read
    * for a few dozen rows instead of the whole index.
    *
    * `index` needs the float `embCol` AND the [[withQuantized]]
    * columns; the id column is `index.columns.head`. */
  def searchReranked(
      index: DataFrame,
      query: Array[Double],
      k: Int = 5,
      threshold: Double = 0.5,
      embCol: String = "embedding",
      overfetch: Int = 4): DataFrame = {
    require(overfetch >= 1)
    val idCol = index.columns.head
    val candidates = searchQuantized(index, query, k * overfetch,
      threshold = -1.0) // exact threshold applies at the re-rank tier
      .select(col(idCol), col(embCol))
    val qn = unit(query)
    val qCol = queryVector(qn)
    candidates
      .withColumn("score", round(dot(col(embCol), qCol), 4))
      .filter(col("score") >= threshold)
      .select(idCol, "score")
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** S9 — persist index rows. Partitioned by `document_version` when the
    * column exists (SURVEY §7.1 M7): version-scoped searches and
    * re-ingests prune whole directories, and an idempotent re-ingest of
    * one version is a partition overwrite, not a table rewrite. */
  def write(df: DataFrame, path: String, mode: String = "append"): Unit = {
    val w = df.write.mode(mode)
    if (df.columns.contains("document_version"))
      w.partitionBy("document_version").parquet(path)
    else w.parquet(path)
  }

  /** Load the index, optionally pruned to one document version (a
    * partition-directory read when written via [[write]]). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
      version: Option[String] = None): DataFrame = {
    val df = spark.read.parquet(path)
    version.fold(df)(v => df.filter(col("document_version") === v))
  }

  /** IVF (inverted-file) ANN index: every row is assigned to one of
    * `nlist` KMeans cells at build time. A search scores the query
    * against the nlist centers on the driver (nlist×dim doubles — a
    * constant) and scans only the `nprobe` nearest cells.
    *
    * 100 TB shape: persist `cells` with `partitionBy("cell")` — probing
    * then PRUNES partition directories (reads ~nprobe/nlist of the
    * index from disk) instead of filtering a full scan. With
    * `nprobe == nlist` the search is exhaustive and must equal exact
    * brute-force — the oracle-checked configuration (`knn_ivf_top5`);
    * recall-vs-cost at `nprobe < nlist` is unit-tested on separable
    * clusters (`IvfIndexSpec`). */
  case class IvfIndex(cells: DataFrame, centers: Array[Array[Double]]) {
    def nlist: Int = centers.length
  }

  def buildIvf(
      index: DataFrame,
      nlist: Int = 16,
      embCol: String = "embedding",
      seed: Long = 42L): IvfIndex = {
    val (assigned, centers) =
      graft.ml.TextClustering.kmeansAssign(index, embCol, nlist, seed)
    IvfIndex(assigned.withColumnRenamed("cluster", "cell").drop("dist"), centers)
  }

  /** Persist an IVF index as a directory pair:
    * `<path>/cells` — the assigned rows, `partitionBy("cell")` so a
    * probe of the reloaded index PRUNES partition directories (reads
    * ~nprobe/nlist of the bytes — the `numFiles` scan metric proves it
    * in `IvfIndexSpec`); `<path>/centers` — an nlist-row sidecar of
    * `(cell, center)` (nlist×dim doubles, a constant independent of
    * corpus size). The index survives the building session: search
    * clusters need only the path.
    *
    * A rebuild in place is OVERWRITE by definition — there is no append
    * mode. Appending cells assigned under a NEW KMeans run into
    * directories keyed by the OLD build's cell ids silently skews every
    * probe (rows land in cells whose center no longer describes them),
    * and a second sidecar write would duplicate center rows. Both
    * directories are overwritten together; [[loadIvf]] additionally
    * rejects any half-rebuilt layout. */
  def writeIvf(ivf: IvfIndex, path: String): Unit = {
    ivf.cells.write.mode("overwrite").partitionBy("cell").parquet(path + "/cells")
    val spark = ivf.cells.sparkSession
    import spark.implicits._
    ivf.centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell", "center")
      .coalesce(1) // nlist rows — one tiny sidecar file
      .write.mode("overwrite").parquet(path + "/centers")
  }

  /** Reload a persisted IVF index. Centers (a constant-size sidecar)
    * are collected to the driver — the same place [[probeCells]] needs
    * them; cells stay a lazy partition-pruned parquet scan. Refuses a
    * sidecar with duplicate or missing cell ids — the signature of an
    * append/crash mid-rebuild, which would misdirect every probe. */
  def loadIvf(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    // a CRASHED incremental swap leaves a pending-marker redo log.
    // REFUSE to read that state (same contract as the corrupt-sidecar
    // check below) rather than repair it here: recovery mutates the
    // index, and repair belongs to the single-writer path
    // (IvfRefresh.refresh/recover — or a full rebuild, which discards
    // the pending swap). Scope: this guards against reading a
    // crashed-writer's leftovers; it is NOT isolation from a LIVE
    // concurrent refresh — the cells scan below is lazy, so
    // maintenance and serving on the same index path must be
    // externally coordinated, like every mutable-directory layout here.
    require(!IvfRefresh.swapPending(spark, path),
      s"IVF index at $path has an unfinished cell swap; " +
        "run IvfRefresh.recover (or any refresh, or a rebuild) to resolve it")
    val rows = spark.read.parquet(path + "/centers")
      .select("cell", "center").collect()
    val ids = rows.map(_.getInt(0)).sorted
    require(ids.toSeq == (0 until ids.length),
      s"corrupt IVF sidecar at $path/centers: cell ids ${ids.take(8).mkString(",")}… " +
        "are not exactly 0..nlist-1 — an index rebuild must overwrite, never append")
    val centers = rows.sortBy(_.getInt(0)).map(_.getSeq[Double](1).toArray)
    IvfIndex(spark.read.parquet(path + "/cells"), centers)
  }

  /** The rows of the `nprobe` cells whose centers are most cosine-similar
    * to `query` (driver-side center scoring; cell-id tie-break). */
  def probeCells(ivf: IvfIndex, query: Array[Double], nprobe: Int): DataFrame = {
    val qn = math.sqrt(query.map(x => x * x).sum)
    val ranked = ivf.centers.zipWithIndex.map { case (c, i) =>
      val dot = c.zip(query).map { case (a, b) => a * b }.sum
      val cn = math.sqrt(c.map(x => x * x).sum)
      val sim = if (cn > 0 && qn > 0) dot / (cn * qn) else 0.0
      (i, sim)
    }
    val chosen = ranked.sortBy { case (i, s) => (-s, i) }
      .take(math.min(nprobe, ivf.nlist)).map(_._1)
    ivf.cells.filter(col("cell").isin(chosen.map(Integer.valueOf): _*))
  }

  /** ANN top-k over an IVF index: probe, then the same
    * filter → orderBy → limit TakeOrderedAndProject path as [[search]]
    * — but over nprobe cells instead of the full index. */
  def searchIvf(
      ivf: IvfIndex,
      query: Array[Double],
      k: Int = 5,
      threshold: Double = 0.5,
      nprobe: Int = 4,
      embCol: String = "embedding",
      normalizedInput: Boolean = false): DataFrame =
    search(probeCells(ivf, query, nprobe).drop("cell"), query, k, threshold,
      embCol, normalizedInput)

  /** The composed production tier — FAISS's IVF+SQ shape: the probe
    * prunes to `nprobe` cells, the int8 tier scans ONLY those cells at
    * 1 byte/dim for `k · overfetch` candidates, and the float tier
    * re-scores exactly those rows. At 100 TB the scan pays
    * `nprobe/nlist × 1/4` of the float index bytes and the float
    * column is read for a few dozen rows. Build the index over
    * [[withQuantized]]([[withNormalized]](df)) so cells carry the
    * int8 columns; with `nprobe == nlist` the result equals the plain
    * two-tier [[searchReranked]] (spec-pinned in `IvfIndexSpec`), so
    * the composition loses nothing beyond the probe's cell selection. */
  def searchIvfReranked(
      ivf: IvfIndex,
      query: Array[Double],
      k: Int = 5,
      threshold: Double = 0.5,
      nprobe: Int = 4,
      embCol: String = "embedding",
      overfetch: Int = 4): DataFrame =
    searchReranked(probeCells(ivf, query, nprobe).drop("cell"), query, k,
      threshold, embCol, overfetch)

  /** Product quantization (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011 — the FAISS `PQ` tier): the
    * vector is split into `m` subspaces and each subvector is replaced
    * by the id of its nearest per-subspace KMeans centroid, so a 64-d
    * float vector (256 B) becomes `m` bytes (8 B at m=8) — two orders
    * of magnitude less scan traffic than the float index and 8× less
    * than int8, the tier that makes a 10^11-vector index scannable.
    * Search is asymmetric-distance (ADC): the query is NOT quantized;
    * a per-query m×ksub table of query-subvector·centroid dots is
    * built on the driver (a constant) and each row costs m table
    * lookups ([[graft.expr.VectorExpressions.PqAdc]], codegen'd).
    *
    * Like the int8 tier, PQ is approximate and feeds an exact float
    * re-rank over k·overfetch candidates ([[searchPqReranked]]) —
    * the configuration that must and does equal brute-force
    * (`knn_pq_rerank_top5` shares the exact oracle); pure-PQ recall is
    * unit-measured in `PqIndexSpec`. */
  case class PqCodebooks(books: Array[Array[Array[Double]]]) {
    def m: Int = books.length
    def ksub: Int = books.head.length
    def dsub: Int = books.head.head.length
    /** Flat m×ksub ADC table for `query` (normalized upstream). */
    def adcTable(query: Array[Double]): Array[Double] = {
      val t = new Array[Double](m * ksub)
      var i = 0
      while (i < m) {
        var j = 0
        while (j < ksub) {
          val c = books(i)(j)
          var s = 0.0
          var d = 0
          while (d < dsub) { s += query(i * dsub + d) * c(d); d += 1 }
          t(i * ksub + j) = s
          j += 1
        }
        i += 1
      }
      t
    }
  }

  /** Train per-subspace codebooks: ALL m subspaces ride one Lloyd loop
    * over exploded `(sub, subvec)` rows — one map-side-combined agg job
    * per iteration covering every subspace, instead of m sequential
    * KMeans fits each paying full job overhead (measured 5× faster at
    * sf0.01, and the right shape for a 1000-executor cluster: the m
    * trainings ARE one distributed job, not a driver-side loop of
    * them). Init is deterministic: per subspace, the `ksub` subvectors
    * with the smallest md5(seed|sub|vec) priority. Per-iteration state
    * is the m×ksub×dsub center matrix on the driver — a constant.
    * The codebooks are a constant, so at 100 TB train on a
    * [[graft.ops.Sampling.hashSample]] of the corpus (the registered
    * query does) — codebook quality needs a sample, not the corpus.
    * Vector dim must divide evenly by `m`. */
  def trainPqBooks(
      train: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      embCol: String = "embedding",
      seed: Long = 42L,
      maxIter: Int = 10): PqCodebooks = {
    val dim = train.select(size(col(embCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    // (sub, v): every vector contributes one dsub-dim row per subspace;
    // null embeddings carry no training signal and would NPE the
    // assign closure — drop them here (withPqCodes keeps such rows,
    // with null code/certificate)
    val subs = train
      .filter(col(embCol).isNotNull)
      .select(posexplode(
        array((0 until m).map(i =>
          slice(col(embCol), lit(i * dsub + 1), lit(dsub)).cast("array<double>")): _*))
        .as(Seq("sub", "v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // deterministic init: ksub lowest-hash subvectors per subspace.
      // The window's parallelism is capped at m tasks — fine here
      // because `train` is a bounded sample BY CONTRACT (see scaladoc:
      // codebooks train on a hashSample, not the corpus)
      val pri = md5(concat_ws("|", lit(seed), col("sub"), col("v").cast("string")))
      val init = subs
        .withColumn("__rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("sub")).orderBy(pri, col("v").cast("string"))))
        .filter(col("__rn") <= ksub)
        .select(col("sub"), (col("__rn") - 1).as("cid"), col("v"))
        .collect()
      val books = Array.ofDim[Array[Double]](m, ksub)
      init.foreach(r =>
        books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray)
      for (i <- 0 until m; j <- 0 until ksub)
        require(books(i)(j) != null,
          s"subspace $i has fewer than $ksub distinct training rows")

      // decimal-exact center update: a plain double avg() depends on
      // partial-sum order, so two rebuilds of the SAME data under
      // different partitioning could learn different codebooks; the
      // decimal sum is order-independent and one final division makes
      // the centers bit-identical on any layout
      val avgCols = (0 until dsub).map(d =>
        (sum(element_at(col("v"), d + 1).cast("decimal(38,12)"))
          .cast("double") / count(lit(1))).as(s"c$d"))
      var iter = 0
      while (iter < maxIter) {
        val centers = books.map(_.clone()) // closure snapshot
        val assign = udf { (sub: Int, v: Seq[Double]) =>
          val bs = centers(sub)
          var best = 0
          var bestD = Double.MaxValue
          var j = 0
          while (j < ksub) {
            val c = bs(j)
            var s = 0.0
            var d = 0
            while (d < dsub) { val x = v(d) - c(d); s += x * x; d += 1 }
            if (s < bestD) { bestD = s; best = j }
            j += 1
          }
          best
        }
        val updated = subs
          .groupBy(col("sub"), assign(col("sub"), col("v")).as("cid"))
          .agg(avgCols.head, avgCols.tail: _*)
          .collect()
        updated.foreach { r =>
          books(r.getInt(0))(r.getInt(1)) =
            (0 until dsub).map(d => r.getDouble(2 + d)).toArray
        } // empty cells keep their previous center
        iter += 1
      }
      PqCodebooks(books)
    } finally subs.unpersist()
  }

  /** [[trainPqBooks]] + [[withPqCodes]] in one call (train = index). */
  def buildPq(
      index: DataFrame,
      m: Int = 8,
      ksub: Int = 16,
      embCol: String = "embedding",
      seed: Long = 42L): (DataFrame, PqCodebooks) = {
    val cb = trainPqBooks(index, m, ksub, embCol, seed)
    (withPqCodes(index, cb, embCol), cb)
  }

  /** Encode rows against existing codebooks (one narrow per-row pass;
    * the codebooks ride the task closure — broadcast-sized). Appends
    * `pqcode` (BINARY, m bytes) and `pqerr` — the L2 reconstruction
    * error `‖v − v̂‖`, which by Cauchy-Schwarz certifies the ADC score
    * of THIS row against any unit query: `|q·v − q·v̂| ≤ pqerr`. The
    * certificate is what makes [[searchPqCertified]] exact. */
  def withPqCodes(
      index: DataFrame,
      cb: PqCodebooks,
      embCol: String = "embedding"): DataFrame = {
    val (books, m, ksub, dsub) = (cb.books, cb.m, cb.ksub, cb.dsub)
    // null-safe like the int8 tier's expressions: a null embedding gets
    // a null code/certificate (dropped by the search filters), never a
    // task-killing NPE
    val encode = udf { (v: Seq[Double]) =>
      if (v == null) None
      else {
        val out = new Array[Byte](m)
        var errSq = 0.0
        var i = 0
        while (i < m) {
          var best = 0
          var bestD = Double.MaxValue
          var j = 0
          while (j < ksub) {
            val c = books(i)(j)
            var s = 0.0
            var d = 0
            while (d < dsub) {
              val diff = v(i * dsub + d) - c(d); s += diff * diff; d += 1
            }
            if (s < bestD) { bestD = s; best = j }
            j += 1
          }
          out(i) = best.toByte
          errSq += bestD
          i += 1
        }
        Some((out, math.sqrt(errSq)))
      }
    }
    index
      .withColumn("__pq", encode(col(embCol).cast("array<double>")))
      .withColumn("pqcode", col("__pq._1"))
      .withColumn("pqerr", col("__pq._2"))
      .drop("__pq")
  }

  /** Approximate top-k over PQ codes: ADC lookup-sum ≈ cosine (on a
    * normalized index). Same TakeOrderedAndProject shape as [[search]];
    * the scan touches only the id and the m-byte code. */
  def searchPq(
      index: DataFrame,
      cb: PqCodebooks,
      query: Array[Double],
      k: Int = 5,
      threshold: Double = 0.5): DataFrame = {
    val qn = unit(query)
    val table = typedLit(cb.adcTable(qn).toSeq)
    index
      .withColumn("score",
        round(graft.expr.VectorExpressions.pqAdc(col("pqcode"), table, cb.ksub), 4))
      .filter(col("score") >= threshold)
      .orderBy(col("score").desc, col(index.columns.head))
      .limit(k)
  }

  /** Certified two-tier PQ search — exact by construction, not by
    * overfetch luck. Every row carries its reconstruction error
    * (`pqerr`, from [[withPqCodes]]); Cauchy-Schwarz gives
    * `|q·v − adc| ≤ ‖q‖·‖v − v̂‖ = pqerr` for a unit query, so any row
    * with true score ≥ θ must have `adc ≥ θ − pqerr`. The candidate
    * filter keeps exactly those rows (plus 1e-4 slack for the 4-decimal
    * ADC rounding), the float tier re-scores them, and the result
    * provably equals brute-force search under the ROUNDED-score
    * convention (`round(dot, 4)` filter/order with id tie-break — the
    * `knn_top5` registered-query convention, which is how
    * `knn_pq_rerank_top5` shares the exact oracle no matter how coarse
    * the codebooks are; raw-score [[search]] can differ from any
    * rounded variant for rows within 5e-5 of θ or of each other). Pruning power is the
    * data-dependent part (the certificate never lies, but a weak
    * codebook admits more candidates): the m-byte ADC scan always pays
    * 32× less I/O than float, and the float tier touches only the
    * candidates — `PqIndexSpec` measures the ratio. */
  def searchPqCertified(
      index: DataFrame,
      cb: PqCodebooks,
      query: Array[Double],
      k: Int = 5,
      threshold: Double = 0.5,
      embCol: String = "embedding"): DataFrame = {
    val idCol = index.columns.head
    val qn = unit(query)
    val table = typedLit(cb.adcTable(qn).toSeq)
    val qCol = queryVector(qn)
    index
      .withColumn("__adc",
        round(graft.expr.VectorExpressions.pqAdc(col("pqcode"), table, cb.ksub), 4))
      .filter(col("__adc") >= lit(threshold) - col("pqerr") - lit(1e-4))
      .withColumn("score", round(dot(col(embCol), qCol), 4))
      .filter(col("score") >= threshold)
      .select(idCol, "score")
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Persist PQ codebooks as a sidecar of (sub, cid, center) rows —
    * m×ksub×dsub doubles, constant in corpus size. Overwrite-only, like
    * [[writeIvf]]: codes are meaningless under any other build's books. */
  def writePqBooks(cb: PqCodebooks, path: String): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    (for { i <- cb.books.indices; j <- cb.books(i).indices }
      yield (i, j, cb.books(i)(j).toSeq))
      .toDF("sub", "cid", "center")
      .coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Reload codebooks; refuses a sidecar whose (sub, cid) ids are not
    * exactly the full m×ksub grid — the half-rebuild signature. */
  def loadPqBooks(spark: org.apache.spark.sql.SparkSession, path: String): PqCodebooks = {
    val rows = spark.read.parquet(path).select("sub", "cid", "center").collect()
    val bySub = rows.groupBy(_.getInt(0))
    val m = bySub.size
    require(bySub.keySet == (0 until m).toSet,
      s"corrupt PQ sidecar at $path: sub ids are not exactly 0..${m - 1} — " +
        "a codebook rebuild must overwrite, never append")
    val books = (0 until m).map { i =>
      val cells = bySub(i)
      val ids = cells.map(_.getInt(1)).sorted
      require(ids.toSeq == (0 until ids.length),
        s"corrupt PQ sidecar at $path: sub $i cids are not exactly " +
          "0..ksub-1 — a codebook rebuild must overwrite, never append")
      cells.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
    }.toArray
    PqCodebooks(books)
  }

  /** Exact brute-force top-k cosine search. `index` may be raw
    * (`normalizedInput = false`, norms computed on the fly) or
    * pre-normalized (the scale path). A collect plans it as
    * [[graft.plans.TakeOrderedAndProjectCollectExec]]: one job of
    * per-partition heaps, merged on the driver. */
  def search(
      index: DataFrame,
      query: Array[Double],
      k: Int = 5,
      threshold: Double = 0.5,
      embCol: String = "embedding",
      normalizedInput: Boolean = false): DataFrame = {
    val qn = unit(query)
    val qCol = queryVector(qn)
    val sim =
      if (normalizedInput) dot(col(embCol), qCol)
      else dot(col(embCol), qCol) / l2Norm(col(embCol))
    index
      .withColumn("score", sim)
      .filter(col("score") >= threshold)
      .orderBy(col("score").desc, col(index.columns.head))
      .limit(k)
  }
}
