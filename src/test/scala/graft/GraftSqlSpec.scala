package graft

/** The plain-SQL surface: registered tables + custom functions through
  * `spark.sql` only. */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  test("registered tables and functions answer pure SQL end-to-end") {
    Graft.registerTables(spark, sf0001)

    val rev = spark.sql(
      """SELECT r_name, COUNT(*) AS n
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin)
      .as[(String, Long)].collect()
    assert(rev.length == 5 && rev.map(_._2).sum == 6000)

    val knn = spark.sql(
      """SELECT v.vec_id,
        |  cosine_similarity(v.embedding, q.embedding) AS score
        |FROM embeddings v
        |JOIN embeddings q ON q.vec_id = 0 AND v.vec_id <> 0
        |ORDER BY score DESC, v.vec_id LIMIT 3""".stripMargin)
      .as[(Long, Double)].collect()
    assert(knn.length == 3)
    assert(knn.map(_._2).toSeq == knn.map(_._2).sortBy(-_).toSeq)

    val chunks = spark.sql(
      """SELECT doc_id, COUNT(*) AS n_chunks
        |FROM documents
        |LATERAL VIEW split_text(text, 200, 50) c AS chunk_idx, chunk
        |WHERE doc_id < 10 GROUP BY doc_id ORDER BY doc_id""".stripMargin)
      .as[(Long, Long)].collect()
    assert(chunks.nonEmpty && chunks.forall(_._2 >= 1))

    val events = spark.sql(
      "SELECT COUNT(*) FROM events WHERE ts >= TIMESTAMP '2024-01-01'")
      .as[Long].head()
    assert(events == 1000L)
  }

  test("curation functions answer pure SQL, same trees as the Column API") {
    Graft.registerTables(spark, sf0001)

    val masked = spark.sql(
      "SELECT mask_pii('mail a@b.co at 10.1.1.1 via https://x.y')").head().getString(0)
    assert(masked == "mail <EMAIL> at <IP> via <URL>")

    val sanitized = spark.sql(
      """SELECT sanitize_text('keep me\nall rights reserved\nvisit https://x.y')""")
      .head().getString(0)
    assert(sanitized == "keep me\nvisit <URL>")

    // SQL results equal the Column-API results row-for-row
    import org.apache.spark.sql.functions._
    val sqlScores = spark.sql(
      """SELECT doc_id, quality_score(text) AS q, token_count(text) AS n,
        |  fingerprint(text) AS fp, lang_id(text).lang AS pl,
        |  hash_priority(doc_id) AS hp
        |FROM documents ORDER BY doc_id""".stripMargin).collect()
    val apiScores = Tables.documents(spark, sf0001).select(
      col("doc_id"),
      graft.ops.TextAnalysis.qualityScore(col("text")).as("q"),
      graft.ops.TextAnalysis.tokenCount(col("text")).as("n"),
      graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"),
      graft.ops.TextAnalysis.langId(col("text")).getField("lang").as("pl"),
      graft.ops.Sampling.hashPriority(col("doc_id")).as("hp"))
      .orderBy("doc_id").collect()
    assert(sqlScores.toSeq == apiScores.toSeq)

    val z = spark.sql("SELECT z_value(5, 3)").head().getLong(0)
    assert(z == 27L) // matches LayoutSpec's interleave fixture

    val h = spark.sql("SELECT hilbert_value(3, 4)").head().getLong(0)
    assert(h == graft.expr.Spatial.hilbert(3, 4, 16), "SQL ≡ kernel")

    // wrong arity is an analysis-time error, not a silent truncation
    intercept[Exception](spark.sql("SELECT token_count()").collect())
    intercept[Exception](spark.sql("SELECT mask_pii('a', 'b')").collect())
    intercept[Exception](spark.sql("SELECT z_value(1)").collect())
    intercept[Exception](spark.sql("SELECT hilbert_value(1)").collect())
  }
}
