package graft

import org.apache.spark.sql.functions._

import graft.ops.ImportanceSampling

class ImportanceSamplingSpec extends SparkSpec {
  import spark.implicits._

  // disjoint vocabularies: target docs speak only "alpha…" words,
  // non-target docs only "zulu…" words — so every target n-gram bucket
  // has cnt_t == cnt_r (weight 0) and every non-target bucket has
  // cnt_t == 0 (weight < 0), making the expected ordering provable
  private lazy val corpus = (
    (1 to 20).map(i => (i.toLong, s"alpha beta gamma delta alpha beta idx$i", "t")) ++
    (21 to 40).map(i => (i.toLong, s"zulu yankee xray whiskey zulu yankee idx$i", "r"))
  ).toDF("doc_id", "text", "grp")

  test("weights separate target-like from off-target documents") {
    val w = ImportanceSampling.weights(corpus, col("grp") === "t")
      .select(col("doc_id"), col("logw")).as[(Long, Long)].collect().toMap
    val (t, r) = (1L to 20L).map(w) -> (21L to 40L).map(w)
    // every target doc must outscore every off-target doc: target
    // buckets contribute 0 each plus the positive per-gram smoothing
    // constant; off-target buckets contribute strictly negative
    assert(t.min > r.max, s"target min ${t.min} vs off-target max ${r.max}")
    assert(r.max < 0, "off-target docs must have negative log-weight")
  }

  test("sample is deterministic and importance-biased") {
    val pick = ImportanceSampling.sample(corpus, col("grp") === "t", k = 15)
    assert(pick.columns.toSeq == Seq("doc_id", "n_feat", "dsir_key"))
    val ids = pick.select("doc_id").as[Long].collect()
    assert(ids.length == 15)
    val again = ImportanceSampling.sample(corpus, col("grp") === "t", k = 15)
      .select("doc_id").as[Long].collect()
    assert(ids.sameElements(again), "md5-seeded draw must be reproducible")
    // importance bias: with disjoint vocabularies the weight gap is so
    // large that the Gumbel noise cannot promote an off-target doc
    // above a target doc unless weights are close — assert the sample
    // is mostly target docs
    val nTarget = ids.count(_ <= 20L)
    assert(nTarget >= 12, s"expected a target-dominated sample, got $nTarget/15")
  }

  test("keys are exact integers, stable under repartitioning") {
    val base = ImportanceSampling.weights(corpus, col("grp") === "t")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    val shuffled = ImportanceSampling.weights(
      corpus.repartition(7, col("doc_id")), col("grp") === "t")
      .orderBy("doc_id").as[(Long, Long, Long)].collect()
    assert(base.sameElements(shuffled),
      "fixed-point sums must not depend on partitioning")
  }

  test("registered doc_dsir_sample runs with the contract shape") {
    val out = SparkEntry.queries("doc_dsir_sample")(spark, sf0001)
    assert(out.columns.toSeq == Seq("doc_id", "n_feat", "dsir_key"))
    assert(out.count() > 0)
  }

  test("selection plans as TakeOrderedAndProject, profile join broadcasts") {
    val sample = ImportanceSampling.sample(corpus, col("grp") === "t", k = 5)
    val plan = sample.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    assert(globalSortsAndGathers(sample).isEmpty, s"global sort or gather in:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      "bounded profile/constant must broadcast")
  }
}
