package graft

import org.apache.spark.sql.functions._

import graft.expr.BloomExpr
import graft.ops.Dedup

/** Bloom sketch aggregate + probe: determinism under repartitioning,
  * the no-false-negative guarantee, the fpp ceiling, the SQL surface,
  * and the contaminationBloom ⊇ exact-contamination containment
  * property. */
class BloomExprSpec extends SparkSpec {
  import spark.implicits._

  private def hashes(n: Int, seed: Int) =
    (0 until n).map(i => s"item-$seed-$i").toDF("s")
      .select(xxhash64($"s").as("h"))

  test("sketch bytes are identical under any partitioning (order-free OR-merge)") {
    val df = hashes(5000, 1)
    def build(parts: Int) = df.repartition(parts)
      .agg(BloomExpr.bloomAgg($"h", 10000L, 0.001).as("bf"))
      .head().getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(build(1), build(8)))
  }

  test("no false negatives; false-positive rate stays near fpp") {
    val in = hashes(5000, 2)
    val bf = in.agg(BloomExpr.bloomAgg($"h", 5000L, 0.01).as("bf"))
      .head().getAs[Array[Byte]](0)
    val misses = in.filter(!BloomExpr.bloomMightContain(bf, $"h")).count()
    assert(misses === 0, "a Bloom filter must never false-negative")
    val absent = hashes(10000, 99) // disjoint item space
    val fps = absent.filter(BloomExpr.bloomMightContain(bf, $"h")).count()
    assert(fps < 300, s"fpp blow-out: $fps/10000 at nominal 0.01")
  }

  test("bloom_agg / bloom_might_contain work from plain SQL") {
    hashes(100, 3).createOrReplaceTempView("bloom_in")
    val bf = spark.sql(
      "SELECT bloom_agg(h, 1000, 0.001) AS bf FROM bloom_in")
      .head().getAs[Array[Byte]](0)
    val hex = bf.map("%02x".format(_)).mkString
    val hits = spark.sql(
      s"SELECT count(*) FROM bloom_in WHERE bloom_might_contain(unhex('$hex'), h)")
      .head().getLong(0)
    assert(hits === 100)
  }

  test("contaminationBloom contains the exact-contamination result and never under-reports") {
    val train = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs")).toDF("doc_id", "text")
    val eval = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // fully contained
      (11L, "pack my box with something else entirely now"), // partial
      (12L, "completely unrelated words appear here only")   // clean
    ).toDF("doc_id", "text")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val exact = toMap(Dedup.contamination(train, eval, threshold = 0.0))
    val bloom = toMap(Dedup.contaminationBloom(train, eval, threshold = 0.0,
      expectedItems = 1000L, fpp = 1e-6))
    assert(bloom.keySet === exact.keySet)
    exact.foreach { case (id, c) => assert(bloom(id) >= c, s"under-report for doc $id") }
    assert(bloom(10L) === 1.0)
    // tiny fpp on a tiny corpus: the sketch is effectively exact
    assert(bloom === exact)
  }

  test("a literal sketch prints as its size, not as hex, and probes the same") {
    // a range scan, so the probe is planned, not folded into a local relation
    val in = spark.range(4000).select(xxhash64($"id").as("h"))
    val bf = in.filter($"h" % 2 === 0).agg(BloomExpr.bloomAgg($"h", 100000L, 0.01).as("bf"))
      .head().getAs[Array[Byte]](0)
    assert(bf.length > 100000)
    val probed = in.filter(BloomExpr.bloomMightContain(bf, $"h"))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains(s"bloom_might_contain(sketch[${bf.length} bytes], "), plan)
    assert(plan.length < 2000, s"plan string is ${plan.length} characters")
    val formatted = probed.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.length < 4000, s"formatted plan is ${formatted.length} characters")
    val members = in.filter($"h" % 2 === 0).count()
    val hits = probed.count()
    assert(hits >= members && hits < members + 100, s"$hits hits for $members members")
  }
}
