package graft

import org.apache.spark.sql.SparkSession
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
}
