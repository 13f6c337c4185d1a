package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.VectorIndex

/** Recall/cost frontier of the ANN tiers (VERDICT r8 ask #5): measures
  * recall@k vs exact brute force AND wall seconds for every search
  * tier — exact, IVF at nprobe ∈ {1,2,4,8}, int8 ADC, PQ ADC, the
  * int8+float two-tier re-rank, and the certified PQ re-rank — over a
  * panel of query vectors drawn from the embeddings table. The oracle
  * gate pins correctness at exhaustive settings and `IvfRefreshSpec`
  * pins nprobe=1 behavior on separable clusters; this probe publishes
  * the MIDDLE of the trade — what each approximation actually buys and
  * costs on the benchmark corpus — into SCALE.md.
  *
  * Documented production settings (spec-pinned in `RecallProbeSpec` at
  * recall@5 ≥ 0.95): `rerank_int8` (two-tier, equals exact given the
  * overfetch band — `knn_quantized_rerank_top5` shares the exact
  * oracle) and `ivf@4` (nprobe=4 of nlist=16 — reads ~1/4 of the
  * cells).
  *
  * Usage: `sbt "runMain graft.RecallProbe [sfDir ...]"` — defaults to
  * sf0.01 and sf0.1; prints one markdown table per sf (for SCALE.md)
  * plus one JSON line for tooling.
  */
object RecallProbe {

  final case class Tier(name: String, recall: Double, sec: Double)

  /** One search panel: `nQueries` query vectors (lowest vec_ids), the
    * rest of the table as the index. Per tier: mean recall@k vs the
    * exact top-k of the SAME rounded-score/id-tie convention, and the
    * wall seconds of the panel's searches (min of two passes — the
    * [[SteadyState]] stall discipline at probe granularity). */
  def frontier(
      spark: SparkSession, sfDir: String,
      k: Int = 5, nQueries: Int = 16): Seq[Tier] = {
    val emb = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val queries: Seq[(Long, Array[Double])] = emb
      .orderBy("vec_id").limit(nQueries)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    val qIds = queries.map(_._1).toSet
    val index = emb.filter(!col("vec_id").isin(qIds.toSeq.map(java.lang.Long.valueOf): _*))

    // tier index artifacts, built once (cached: the probe measures
    // SEARCH cost per tier, not build cost — builds are one-time and
    // reported separately by their own maintained-artifact benches)
    val float = index.persist()
    val normalized = VectorIndex.withNormalized(index).persist()
    val int8 = VectorIndex.withQuantized(normalized)
      .select("vec_id", "embedding", "qembedding", "qscale").persist()
    val binary = VectorIndex.withBinary(normalized)
      .select("vec_id", "embedding", "bsig").persist()
    val ivf = {
      val b = VectorIndex.buildIvf(index, nlist = 16)
      b.copy(cells = b.cells.persist())
    }
    // the composed FAISS IVF+SQ shape: quantized cells + exact re-rank
    val ivfQ = {
      val b = VectorIndex.buildIvf(int8, nlist = 16)
      b.copy(cells = b.cells.persist())
    }
    val (pqIdx0, books) = VectorIndex.buildPq(normalized, m = 8, ksub = 16)
    val pqIdx = pqIdx0.select("vec_id", "embedding", "pqcode", "pqerr").persist()
    Seq(float, normalized, int8, binary, ivf.cells, ivfQ.cells, pqIdx)
      .foreach(_.count()) // materialize

    def ids(df: DataFrame): Seq[Long] =
      df.select("vec_id").collect().map(_.getLong(0)).toSeq

    // the registered-query convention: ROUNDED score (4 dp) with id
    // tie-break — the same boundary the oracle gate checks and the
    // certified re-rank provably equals; an unrounded baseline would
    // count sub-5e-5 tie flips as recall loss
    def exactRounded(q: Array[Double]): DataFrame = {
      val nrm = math.sqrt(q.map(x => x * x).sum)
      val qn = if (nrm > 0) q.map(_ / nrm) else q
      val qCol = graft.expr.VectorExpressions.queryVector(qn)
      float
        .withColumn("score",
          round(VectorIndex.dot(col("embedding"), qCol) /
            VectorIndex.l2Norm(col("embedding")), 4))
        .orderBy(col("score").desc, col("vec_id"))
        .limit(k)
    }

    val exactTop: Map[Long, Seq[Long]] = queries.map { case (qid, q) =>
      qid -> ids(exactRounded(q))
    }.toMap

    def measure(name: String)(searchOne: Array[Double] => DataFrame): Tier = {
      def panel(): (Double, Double) = {
        val t0 = System.nanoTime()
        val got = queries.map { case (qid, q) => qid -> ids(searchOne(q)) }
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = got.map { case (qid, g) =>
          g.toSet.intersect(exactTop(qid).toSet).size.toDouble / k
        }.sum / queries.size
        (recall, sec)
      }
      val (r1, s1) = panel()
      val (r2, s2) = panel() // second pass: min wall, recall must agree
      require(r1 == r2, s"$name: recall not deterministic ($r1 vs $r2)")
      Tier(name, r1, math.min(s1, s2))
    }

    val tiers = Seq(
      measure("exact")(exactRounded),
      measure("ivf@1")(q =>
        VectorIndex.searchIvf(ivf, q, k = k, threshold = -1.0, nprobe = 1)),
      measure("ivf@2")(q =>
        VectorIndex.searchIvf(ivf, q, k = k, threshold = -1.0, nprobe = 2)),
      measure("ivf@4")(q =>
        VectorIndex.searchIvf(ivf, q, k = k, threshold = -1.0, nprobe = 4)),
      measure("ivf@8")(q =>
        VectorIndex.searchIvf(ivf, q, k = k, threshold = -1.0, nprobe = 8)),
      measure("int8")(q =>
        VectorIndex.searchQuantized(int8, q, k = k, threshold = -1.0)),
      measure("pq_adc")(q =>
        VectorIndex.searchPq(pqIdx, books, q, k = k, threshold = -1.0)),
      measure("rerank_int8")(q =>
        VectorIndex.searchReranked(int8, q, k = k, threshold = -1.0, overfetch = 4)),
      measure("rerank_binary")(q =>
        VectorIndex.searchBinaryReranked(binary, q, k = k, threshold = -1.0, overfetch = 64)),
      measure("rerank_pq_cert")(q =>
        VectorIndex.searchPqCertified(pqIdx, books, q, k = k, threshold = -1.0)),
      measure("ivf4_int8_rerank")(q =>
        VectorIndex.searchIvfReranked(ivfQ, q, k = k, threshold = -1.0, nprobe = 4)))

    Seq(float, normalized, int8, binary, ivf.cells, ivfQ.cells, pqIdx)
      .foreach(_.unpersist())
    tiers
  }

  def main(args: Array[String]): Unit = {
    val sfDirs =
      (if (args.nonEmpty) args.toSeq
       else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1"))
        .filter(d => new java.io.File(d).isDirectory)
    require(sfDirs.nonEmpty, "no sf dirs found")
    val spark = Graft.session()
    try {
      val all = sfDirs.map { d =>
        val tiers = frontier(spark, d)
        println(s"\n### recall@5 vs panel wall seconds — ${d.split('/').last}\n")
        println("| tier | recall@5 | panel sec |")
        println("|---|---|---|")
        tiers.foreach(t => println(f"| ${t.name} | ${t.recall}%.3f | ${t.sec}%.2f |"))
        d -> tiers
      }
      val json = all.map { case (d, tiers) =>
        val fields = tiers.map(t =>
          s""""${t.name}":{"recall":${t.recall},"sec":${t.sec}}""").mkString(",")
        s""""${d.split('/').last}":{$fields}"""
      }.mkString("{", ",", "}")
      println("\n" + json)
    } finally spark.stop()
  }
}
