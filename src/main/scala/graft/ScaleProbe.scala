package graft

/** Scaling-slope probe (VERDICT r4 ask #3): runs the headline query
  * pairs at sf0.001 / sf0.01 / sf0.1 and prints one JSON line with
  * best-of-3 seconds per (query, sf) plus the fitted log-log slope per
  * decade. The slope is the empirical scaling exponent — `t ∝ sf^slope`
  * — so ~1.0 is linear, ~2.0 is quadratic (all-pairs), and values well
  * below 1 mean fixed per-query overhead still dominates at that size.
  *
  * The interesting pairs, each "scale path vs its exact/naive twin":
  *   q30_grouped_topk (native top_k agg)  vs q07_window_topn (window sort)
  *   dedup_minhash_lsh (banded LSH)       vs dedup_ngram_jaccard (exact self-join)
  *   emb_neardup_lsh (sign-LSH bands)     vs emb_neardup_exact (all-pairs)
  *   knn_ivf_top5 (cell-pruned, incl. build) vs knn_top5 (brute force)
  *   knn_quantized_top5 (int8 tier)       vs knn_norm_top5 (float brute)
  * plus linear anchors q02_agg_lineitem, dedup_exact, doc_tokens.
  *
  * Usage: `sbt "runMain graft.ScaleProbe [query ...]"`; results feed the
  * measured-slopes table in SCALE.md.
  */
object ScaleProbe {
  val defaultQueries: Seq[String] = Seq(
    "q30_grouped_topk", "q07_window_topn",
    "dedup_minhash_lsh", "dedup_ngram_jaccard",
    "emb_neardup_lsh", "emb_neardup_exact",
    "knn_ivf_top5", "knn_top5",
    "knn_quantized_top5", "knn_norm_top5",
    "q02_agg_lineitem", "dedup_exact", "doc_tokens")

  def main(args: Array[String]): Unit = {
    val names = if (args.nonEmpty) args.toSeq else defaultQueries
    // optional fourth decade: an sf1-equivalent dir synthesized by
    // [[Amplify]] (documents/events/embeddings only — probing a
    // relational query against it is a loud missing-file error)
    val sf1Dir = sys.env.get("SPARK_GRAFT_SF1_DIR")
      .filter(d => new java.io.File(d).isDirectory)
    val sfDirs = (Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1").filter(d => new java.io.File(d).isDirectory)
      ++ sf1Dir)
    require(sfDirs.nonEmpty, "no sf dirs found under /root/testdata")
    val qs = SparkEntry.select(names).toMap
    val spark = Graft.session()

    try {
      Warmup.run(spark, sfDirs.head)

      // times(query)(sfDir) = best-of-3 seconds (SteadyState.runsOf shares
      // the Bench measurement policy: min over runs, re-run failures keep
      // the successful timings)
      val times = scala.collection.mutable.LinkedHashMap.empty[String, Seq[(String, Double)]]
      names.foreach { name =>
        val fn = qs(name)
        val perSf = sfDirs.map { dir =>
          val runs = SteadyState.runsOf(() => SteadyState.timeOnce(fn(spark, dir)), 3)
          System.err.println(f"[probe] $name%-24s $dir%-24s best=${runs.min}%.3f all=${runs.map(r => f"$r%.2f").mkString(",")}")
          dir -> runs.min
        }
        times(name) = perSf
      }

      def slope(t1: Double, t2: Double): Double = math.log10(t2 / t1) // per 10× data
      val json = times.map { case (name, perSf) =>
        val ts = perSf.map(_._2)
        val slopes =
          if (ts.size >= 3) s""","slope_001_01":${slope(ts(0), ts(1))},"slope_01_1":${slope(ts(1), ts(2))}"""
          else ""
        val sf1Slope = // the decade past sf0.1, when an Amplify dir was probed
          if (ts.size == 4) s""","slope_1_10":${slope(ts(2), ts(3))}"""
          else ""
        val sfFields = perSf.map { case (d, t) => s""""${d.split('/').last}":$t""" }.mkString(",")
        s""""$name":{$sfFields$slopes$sf1Slope}"""
      }.mkString("{", ",", "}")
      println(json)
    } finally spark.stop()
  }
}
