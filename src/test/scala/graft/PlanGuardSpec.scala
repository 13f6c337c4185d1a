package graft

/** Scale-regression guard: builds the physical plan of EVERY registered
  * query and asserts the properties that must survive a 100× scale-up —
  * no cartesian/nested-loop join sneaks in outside the documented
  * tiny-side cases, and the flagship scan keeps its pushdown. A new
  * query that accidentally plans an all-pairs join fails here before it
  * ever reaches the driver.
  */
class PlanGuardSpec extends SparkSpec {

  /** Queries whose plans legitimately join against a TINY unpartitioned
    * side (broadcast nested-loop / cartesian of ≤25 rows or single-row
    * aggregates) — each documented at its query site. */
  private val tinySideJoins = Set(
    "q15_range_join",        // 4-row band dimension, broadcast
    "q19_fuzzy_levenshtein", // 25-name broadcast dim, all-pairs by intent
    "dedup_simhash",         // single-row broadcast threshold params
    "emb_neardup_exact",     // documented all-pairs oracle-verification twin
    "q28_bag_set_ops",       // crossJoin of three single-row aggregates
    "doc_bm25_top10",        // single-row (N, avgdl) corpus-stats broadcast
    "doc_hybrid_rrf_top10",  // same single-row stats broadcast via bm25
    "doc_trigram_lm",        // single-row smoothing-vocab V broadcast
    "table_drift",           // single-row (ta, tb) totals broadcast
    "events_freq_cms",       // per-event-type sketch rows × broadcast 20-row probe set
    "doc_freq_incremental",  // per-source sketch rows × broadcast 64-row probe set
    "doc_card_incremental",  // crossJoin of two single-row cell-fold aggregates
    "doc_keywords_tfidf")    // single-row corpus-N broadcast onto the df side
  // doc_dsir_sample is deliberately NOT exempt: its smoothing constant
  // folds into a projection literal, so any cartesian/BNLJ appearing in
  // its plan is a regression this guard must catch

  test("no unplanned cartesian or nested-loop join in any registered query") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
        val bad = plan.contains("CartesianProduct") ||
          plan.contains("BroadcastNestedLoopJoin")
        if (bad && !tinySideJoins(name)) Some(name) else None
    }
    assert(offenders.isEmpty, s"unexpected cartesian/BNLJ in: $offenders")
  }

  test("the flagship scan keeps filter pushdown and column pruning") {
    val q01 = SparkEntry.queries("q01_filter_scan")(spark, sf0001)
    val formatted = q01.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("l_quantity"), "filter must reach the scan")
    assert(formatted.contains("ReadSchema"))
    // 5 projected columns of the 16-column lineitem reach ReadSchema
    val read = formatted.linesIterator.find(_.contains("ReadSchema")).get
    assert(read.count(_ == ',') <= 5, s"over-wide scan: $read")
  }

  test("no regex/trim evaluates inside a higher-order-function lambda in any query") {
    // Round-6 postmortem: winnowing hashed k-grams with ascii/substr in a
    // transform lambda over a regex-normalized alias; CollapseProject
    // inlined the regexp_replace UNDER the lambda, re-executing it per
    // element access — ~O(L³·k), the query never terminated, and one
    // hang zeroed the whole round's artifacts. This guard walks the
    // OPTIMIZED plan (where inlining decisions have landed) of every
    // registered query and flags any regex/trim inside a lambda body —
    // arguments are fine (evaluated once per row); lambda bodies
    // re-evaluate per element.
    import org.apache.spark.sql.catalyst.expressions._
    def offendersIn(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[String] = {
      val out = scala.collection.mutable.Buffer.empty[String]
      plan.foreach { node =>
        node.expressions.foreach { root =>
          root.foreach {
            case h: HigherOrderFunction =>
              h.functions.foreach { f =>
                f.foreach {
                  case e @ (_: RegExpReplace | _: RegExpExtract | _: StringTrim |
                            _: StringSplit | _: Like | _: RLike)
                      // regex OVER the lambda variable is legitimate
                      // per-element work (e.g. filter(arr, x -> x rlike p));
                      // the hazard is a LOOP-INVARIANT expensive subtree —
                      // no lambda variable anywhere below it — re-derived
                      // on every element instead of hoisted to the row
                      if !e.exists(_.isInstanceOf[NamedLambdaVariable]) =>
                    out += s"${e.prettyName} under ${h.prettyName} lambda"
                  case _ =>
                }
              }
            case _ =>
          }
        }
      }
      out.toSeq
    }
    // negative control: the round-6 pathological shape MUST be flagged,
    // proving the guard has teeth (and fails if the Winnow fix reverts).
    // The inlining is NOT CollapseProject (it declines — the alias is
    // referenced twice): it is InferFiltersFromGenerate inferring
    // `size(fps) > 0` from the explode, then PushDownPredicates
    // substituting the aliases while pushing that filter below the
    // projections — the pushed Filter carries the regex inside the
    // transform lambda, re-executed per element. The explode is
    // therefore essential to the control.
    import org.apache.spark.sql.functions._
    def pathological = {
      val src = Tables.documents(spark, sf0001)
      val t = trim(regexp_replace(lower(col("text")), "\\s+", " "))
      src
        .select(col("doc_id"), t.as("t"))
        .select(col("doc_id"), transform(sequence(lit(1), length(col("t")) - 15),
          i => ascii(col("t").substr(i, lit(1))).cast("long")).as("h"))
        .select(col("doc_id"), explode(col("h")).as("hv"))
    }
    // the control must see the UNREPAIRED optimizer: strip the engine's
    // HoistLambdaInvariants rule (the shared test session is an engine
    // session, so Graft.registerAll installed it) for the duration of
    // the teeth check — HoistLambdaInvariantsSpec owns the
    // with-rule assertions
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ == graft.plans.HoistLambdaInvariants)
    try
      assert(offendersIn(pathological.queryExecution.optimizedPlan).nonEmpty,
        "guard lost its teeth: the known-bad shape was not flagged")
    finally spark.experimental.extraOptimizations = saved

    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      offendersIn(fn(spark, sf0001).queryExecution.optimizedPlan)
        .map(o => s"$name: $o")
    }
    assert(offenders.isEmpty, s"interpreted re-evaluation hazard:\n${offenders.mkString("\n")}")
  }

  test("every oracled query output is driver-sortable scalar columns only") {
    // Round-10 postmortem: doc_quarantine registered an ARRAY<STRING>
    // output column; the builder's local comparer stringifies values so
    // it passed both sfs locally, but the DRIVER's comparer row-sorts
    // with pandas, which cannot hash numpy arrays — the row went red
    // only in the acceptance artifact. This lint walks every registered
    // query that carries an oracle (rows-only queries are never sorted
    // by the driver) and rejects any Array/Map/Struct-typed output
    // column at the suite gate instead.
    import org.apache.spark.sql.types._
    def complex(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StructType => true
      case _ => false
    }
    def complexCols(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.schema.fields.collect {
        case f if complex(f.dataType) =>
          s"${f.name}: ${f.dataType.simpleString}"
      }.toSeq
    // teeth: a planted array-valued output must be flagged
    import org.apache.spark.sql.functions._
    val planted = Tables.documents(spark, sf0001)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    assert(complexCols(planted).nonEmpty,
      "guard lost its teeth: planted array output not flagged")

    val oracled = SparkEntry.oracleSql.keySet
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) if oracled(name) =>
        complexCols(fn(spark, sf0001)).map(c => s"$name.$c")
      case _ => Nil
    }
    assert(offenders.isEmpty,
      s"non-scalar output would break the driver's pandas row-sort:\n" +
        offenders.mkString("\n"))
  }

  test("top-k queries plan as TakeOrderedAndProject (no global sort)") {
    Seq("q09_topk", "knn_top5", "knn_norm_top5").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), s"$name: $plan")
    }
  }
}
