package graft

import org.apache.spark.sql.functions._

import graft.embed.{Embedder, HashingEmbedder}
import graft.index.VectorIndex

/** O-EMB contract (embedder_service.py:4-9): fixed dim, pad/truncate,
  * determinism; plus the mapPartitions column path. */
class EmbedderSpec extends SparkSpec {
  import spark.implicits._

  private val emb = HashingEmbedder(1024)

  test("output length is always exactly dim") {
    Seq("", "a", "hello world", "x " * 5000).foreach { t =>
      assert(emb.padTruncate(emb.embed(t)).length == 1024)
    }
  }

  test("deterministic: same text, same vector") {
    val a = emb.embed("the quick brown fox")
    val b = emb.embed("the quick brown fox")
    assert(a.sameElements(b))
  }

  test("non-empty text embeds to a unit vector") {
    val v = emb.embed("some meaningful text here")
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
  }

  test("empty text embeds to the zero vector") {
    assert(emb.embed("").forall(_ == 0f))
  }

  test("different texts differ") {
    assert(!emb.embed("alpha beta").sameElements(emb.embed("gamma delta")))
  }

  test("padTruncate pads short and truncates long") {
    val e4 = HashingEmbedder(4)
    assert(e4.padTruncate(Array(1f, 2f)).toSeq == Seq(1f, 2f, 0f, 0f))
    assert(e4.padTruncate(Array(1f, 2f, 3f, 4f, 5f)).toSeq == Seq(1f, 2f, 3f, 4f))
  }

  test("embedColumn preserves columns and appends ARRAY<FLOAT> of dim") {
    val df = Seq((1L, "hello world"), (2L, "spark engine")).toDF("doc_id", "text")
    val out = Embedder.embedColumn(df, "text", HashingEmbedder(64))
    assert(out.columns.toSeq == Seq("doc_id", "text", "embedding"))
    val rows = out.select(col("doc_id"), size(col("embedding"))).as[(Long, Int)].collect().toMap
    assert(rows == Map(1L -> 64, 2L -> 64))
  }

  test("self-retrieval: a chunk's own vector is its rank-1 hit at θ=0.5") {
    val texts = Seq(
      (1L, "the installation procedure for the mobile client"),
      (2L, "network configuration of the server component"),
      (3L, "troubleshooting database connection errors"))
    val df = Embedder.embedColumn(texts.toDF("doc_id", "text"), "text", HashingEmbedder(256))
    val index = VectorIndex.withNormalized(df)
    texts.foreach { case (id, text) =>
      val q = HashingEmbedder(256).embed(text).map(_.toDouble)
      val top = VectorIndex.search(index, q, k = 1, threshold = 0.5, normalizedInput = true)
        .select("doc_id").as[Long].collect()
      assert(top.headOption.contains(id), s"doc $id did not self-retrieve")
    }
  }

  test("knn search plans as TakeOrderedAndProject (no global sort)") {
    val df = Embedder.embedColumn(
      (1L to 50L).map(i => (i, s"document number $i content")).toDF("doc_id", "text"),
      "text", HashingEmbedder(64))
    val index = VectorIndex.withNormalized(df)
    val q = HashingEmbedder(64).embed("document number 7 content").map(_.toDouble)
    val top = VectorIndex.search(index, q, k = 5, threshold = 0.0, normalizedInput = true)
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"unexpected plan:\n$plan")
    assert(globalSortsAndGathers(top).isEmpty, s"global sort or gather in:\n$plan")
  }
}
