package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.embed.HashingEmbedder
import graft.index.VectorIndex
import graft.ingest.DocxReader
import graft.ops.TextSearch
import graft.pipeline.Extract

/** The reference's question path: a closed loop of questions from one
  * client against an index built from Word manuals.
  *
  * Setup: DOCX manuals → `Extract.ingest` (700/200 chunks, hashing
  * embeddings, unit-normalized rows) → persisted index, built three
  * times over. Each request is the
  * reference's query (`scripts/test.out.py`): embed the question, then
  * exact cosine top-5 at threshold 0.5 (`VectorIndex.search`). Every
  * result is checked against a brute-force cosine top-5 the benchmark
  * computes itself.
  *
  * The traced run also measures the hybrid request (exact and BM25
  * top-5 fused by `rrfFuse`, which the reference does not have) against
  * an oracle of its own, builds the IVF tier (build time, search
  * latency, recall against brute force), makes one [[CurationPass]]
  * over the manuals and times the text kernels, so the ingest, curation
  * and kernel layers are measured on the same text. */
object RagQuery extends Workload {
  private val K = 5
  private val Threshold = 0.5
  private val NProbe = 4
  private val SetupBuilds = 3
  private val HybridRequests = 12

  def run(r: Run): Unit = {
    val spark = r.spark
    val in = r.args.inputs
    val questions = Inputs.lines(s"$in/questions.txt")
    val embedder = HashingEmbedder()

    val (index, n) = r.setup(SetupBuilds) { _ =>
      val index = Extract.ingest(DocxReader.read(spark, s"$in/docx")).persist()
      (index, index.count())
    } { case (index, _) => index.unpersist(blocking = true) }
    r.log(s"index: $n rows")

    val vectors: Array[(String, Array[Double])] = index.select("id", "embedding").collect()
      .map(row => (row.getString(0), row.getSeq[Double](1).toArray))
    val perturb = sys.props.get("perfbench.perturb").contains("1")
    var searchBuildNs = 0L
    var searchBuilds = 0L
    var exactResults = 0L
    var exactSearches = 0L

    r.loop(r.args.seconds, warmupCycles = 45, Seq("exact")) { (i, _) =>
      val text = questions(i % questions.size)
      val q = r.spans.span("embed")(embedder.embed(text).map(_.toDouble))
      val got = r.spans.span("index") {
        val t0 = System.nanoTime()
        val df = VectorIndex.search(index, q, K, Threshold)
        searchBuildNs += System.nanoTime() - t0
        searchBuilds += 1
        df.select("id", "score").collect()
      }.map(row => (row.getString(0), row.getDouble(1)))
      exactSearches += 1
      exactResults += got.length
      () => {
        val shown = if (perturb) got.reverse else got
        val want = bruteForce(vectors, q)
        r.check("rag_query.exact_top5", sameTopK(shown, want),
          s"question $i: got ${shown.mkString(",")} want ${want.mkString(",")}")
      }
    }

    r.check("rag_query.index_rows", n > 0, "empty index")
    val longest = index.agg(max(length(col("text")))).head().getInt(0)
    r.check("rag_query.chunk_size_le_700", longest <= 700, s"longest chunk $longest")
    val worstNorm = vectors.map { case (_, e) => math.abs(math.sqrt(e.map(x => x * x).sum) - 1) }.max
    r.check("rag_query.embeddings_unit_norm", worstNorm < 1e-6, s"max |norm - 1| = $worstNorm")

    if (r.args.trace) {
      r.metric("index.search_build_ms", searchBuildNs / 1e6 / math.max(1, searchBuilds))
      r.metric("index.rows_examined_per_result", n.toDouble * exactSearches / math.max(1, exactResults))
      val chunkTexts = index.select("text").collect().map(_.getString(0))
      r.metric("embed.ns_per_char", Kernels.embedNsPerChar(embedder, chunkTexts))
      r.layerMetrics(Seq("embed", "index"))
      hybrid(r, index, vectors, questions.takeRight(HybridRequests), embedder)
      ivfTier(r, index, vectors, questions.distinct.take(10).map(t => embedder.embed(t).map(_.toDouble)))
      // the layers a request does not reach: DOCX ingest, the curation
      // chain and the text kernels, once over the same manuals
      CurationPass.run(r, s"$in/docx", s"${r.args.work}/curated")
      Kernels.nsPerChar(CurationPass.sections(r, s"$in/docx"))
        .foreach { case (k, v) => r.metric(s"ops.kernel.$k.ns_per_char", v) }
    }
    index.unpersist()
  }

  /** The hybrid request, exact cosine top-5 and BM25 top-5 fused by
    * reciprocal rank: its median latency over a few questions (the first
    * one, cold, left out), each result checked against [[hybridOracle]]. */
  private def hybrid(r: Run, index: DataFrame, vectors: Array[(String, Array[Double])],
      questions: Seq[String], embedder: HashingEmbedder): Unit = {
    val docs = index.select(col("id").as("doc_id"), col("text")).persist()
    val texts = docs.collect().map(row => (row.getString(0), row.getString(1)))
    val ms = questions.zipWithIndex.map { case (text, i) =>
      val q = embedder.embed(text).map(_.toDouble)
      val terms = Inputs.terms(text)
      val (got, s) = r.time {
        val vec = TextSearch.rankTopN(
          VectorIndex.search(index, q, K, Threshold).select(col("id").as("doc_id"), col("score")), K)
        TextSearch.rrfFuse(Seq(vec, TextSearch.rankTopN(TextSearch.bm25(docs, terms), K)))
          .orderBy(col("rrf_score").desc, col("doc_id")).limit(K).collect()
          .map(row => (row.getString(0), row.getDouble(1))).toSeq
      }
      val want = hybridOracle(bruteForce(vectors, q), Bm25.topK(texts, terms, K))
      r.check("rag_query.hybrid_top5", got == want,
        s"question $i: got ${got.mkString(",")} want ${want.mkString(",")}")
      s * 1000
    }
    r.metric("text.hybrid_ms", Stats.median(ms.drop(1)))
    docs.unpersist()
  }

  /** Reciprocal-rank fusion of two ranked top-k lists, computed the way
    * the engine defines it: each list contributes round(1e9 / (60 +
    * rank)) to a document, the sum over 1e9 is its score; ordered by
    * score, then id. */
  def hybridOracle(vec: Seq[(String, Double)], bm25: Seq[(String, Double)]): Seq[(String, Double)] =
    Seq(vec, bm25)
      .flatMap(_.zipWithIndex.map { case ((id, _), i) => id -> math.round(1e9 / (60 + i + 1)) })
      .groupMapReduce(_._1)(_._2)(_ + _).toSeq
      .map { case (id, fp) => (id, fp / 1e9) }
      .sortBy { case (id, s) => (-s, id) }.take(K)

  /** The IVF tier over the same index: build time, search latency and
    * recall of its top-5 against brute force (deterministic). */
  private def ivfTier(r: Run, index: DataFrame, vectors: Array[(String, Array[Double])],
      queries: Seq[Array[Double]]): Unit = {
    val (ivf, buildS) = r.time {
      val ivf = VectorIndex.buildIvf(index, nlist = 16)
      ivf.cells.persist().count()
      ivf
    }
    r.metric("index.ivf_build_s", buildS)
    val runs = queries.map { q =>
      val (got, s) = r.time(VectorIndex.searchIvf(ivf, q, K, Threshold, NProbe)
        .select("id").collect().map(_.getString(0)).toSet)
      val want = bruteForce(vectors, q).map(_._1).toSet
      (if (want.isEmpty) 1.0 else (got intersect want).size.toDouble / want.size, s)
    }
    r.metric("index.ivf_recall_at_5", runs.map(_._1).sum / runs.size)
    r.metric("index.ivf_search_ms", Stats.median(runs.drop(1).map(_._2 * 1000)))
    ivf.cells.unpersist()
  }

  /** Exact cosine top-k over the collected vectors, computed the way the
    * engine defines it: dot(e, q/|q|) / |e|, kept at ≥ threshold,
    * ordered by score then id. */
  def bruteForce(vectors: Array[(String, Array[Double])], q: Array[Double]): Seq[(String, Double)] = {
    val qn = {
      val n = math.sqrt(q.map(x => x * x).sum)
      if (n > 0) q.map(_ / n) else q
    }
    vectors.iterator.map { case (id, e) =>
      var dot = 0.0
      var ss = 0.0
      var j = 0
      while (j < e.length) { dot += e(j) * qn(j); ss += e(j) * e(j); j += 1 }
      (id, dot / math.sqrt(ss))
    }.filter(_._2 >= Threshold).toSeq
      .sortBy { case (id, s) => (-s, id) }.take(K)
  }

  /** Same ids in the same order; positions whose scores tie to 1e-9 may
    * swap, since floating-point sums can order exact ties either way. */
  def sameTopK(got: Seq[(String, Double)], want: Seq[(String, Double)]): Boolean =
    got.size == want.size && got.zip(want).forall { case ((gi, gs), (wi, ws)) =>
      gi == wi || math.abs(gs - ws) < 1e-9 }
}
