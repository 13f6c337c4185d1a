package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM): the engine
  * session itself, so every suite runs with the engine's static confs,
  * SQL functions and optimizer rules regardless of suite order. */
object TestSpark {
  lazy val spark: SparkSession = Graft.session(4)
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf0001 = "/root/testdata/sf0.001"

  /** The global sorts and single-partition exchanges of `df`'s physical
    * plan (AQE's initial plan): what a per-partition top-k must not
    * have. */
  def globalSortsAndGathers(df: DataFrame): Seq[SparkPlan] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    plan.collect {
      case s: SortExec if s.global => s
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }
  }
}
