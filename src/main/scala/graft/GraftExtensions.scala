package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's complete SQL function surface as one builder list —
  * the single source both registration paths consume:
  *
  *  - [[Graft.registerAll]] / each object's `register(spark)` install
  *    them as session temp functions (driver-side library use);
  *  - [[GraftExtensions]] injects them at session construction, so a
  *    cluster that only controls configuration — thrift server, SQL
  *    gateway, `spark-submit` of third-party jobs — gets the full
  *    surface with `--conf spark.sql.extensions=graft.GraftExtensions`
  *    and no driver code at all.
  */
object GraftFunctions {

  /** name → catalyst builder for every registered function: vector
    * algebra, grouped top-k, Bloom sketch, heavy hitters, Unicode
    * normalization, quantile sketches, the split_text generator, and
    * the curation surface. */
  val all: Seq[(String, Seq[Expression] => Expression)] =
    graft.expr.VectorExpressions.functions ++
      graft.expr.TopKExpr.functions ++
      graft.expr.BloomExpr.functions ++
      graft.expr.HeavyHittersExpr.functions ++
      graft.expr.TextNormExpr.functions ++
      graft.expr.QuantileSketchExpr.functions ++
      graft.expr.KmvExpr.functions ++
      graft.expr.CmsExpr.functions ++
      graft.expr.BlocklistExpr.functions ++
      graft.expr.SplitTextGen.functions ++
      graft.ops.CurationFunctions.functions

  /** Install builders as session temp functions (the `register` path). */
  def registerTemp(
      spark: SparkSession,
      fns: Seq[(String, Seq[Expression] => Expression)]): Unit =
    fns.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "scala_udf")
    }
}

/** Config-time injection of the engine's SQL surface —
  * `--conf spark.sql.extensions=graft.GraftExtensions` (or
  * `SparkSession.builder().withExtensions(new GraftExtensions)`). The
  * Spark-sanctioned mechanism for libraries extending SQL without
  * driver code; injected functions live in the session's base registry,
  * so they survive `newSession()` (temp functions do not). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction(
        (FunctionIdentifier(name),
          new ExpressionInfo(classOf[GraftExtensions].getName, name),
          builder))
    }
    // whole-operator extension: the native as-of join's planner
    // strategy (graft.plans.AsOfJoinStrategy) — config-only clusters
    // can plan AsOfJoinPlan nodes without any driver-side install
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // a collected root ORDER BY + LIMIT without RDD.takeOrdered's
    // per-request closure cleaning (graft.plans.TopKCollectStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.TopKCollectStrategy)
    // metadata-only COUNT/MIN/MAX/SUM/AVG over graft tables answer from
    // the zone sidecar with zero data scan (exactness-preserving,
    // rewrite-or-leave — see GraftMetaAggregate)
    ext.injectOptimizerRule(_ => graft.plans.GraftMetaAggregate)
    // ORDER BY + LIMIT zone-pruned top-k and bare-LIMIT file pruning
    ext.injectOptimizerRule(_ => graft.plans.GraftTopK)
    // The hoist must run after EVERY batch that can re-inline a
    // projection into a lambda. Pre-CBO alone is not enough: the later
    // RewriteSubquery batch re-runs CollapseProject, which inlines the
    // hoisted (non-cheap, referenced-once) alias straight back into the
    // lambda body — spec-proven in HoistLambdaInvariantsSpec. The only
    // seam after that batch is experimental.extraOptimizations (the
    // optimizer's final batch), which is per-session state, not an
    // extensions injection — so the rule BUILDER, which receives the
    // session while its state is being built, installs it there. The
    // pre-CBO pass itself is kept: harmless, and it repairs plans even
    // if a future Spark version reorders the tail batches.
    ext.injectPreCBORule { session =>
      // the builder re-runs on every optimizer construction, possibly
      // from concurrent query threads — guard the read-modify-write of
      // the shared session state (the contains check keeps it idempotent)
      session.experimental.synchronized {
        if (!session.experimental.extraOptimizations.contains(graft.plans.HoistLambdaInvariants))
          session.experimental.extraOptimizations =
            session.experimental.extraOptimizations :+ graft.plans.HoistLambdaInvariants
      }
      graft.plans.HoistLambdaInvariants
    }
  }
}
