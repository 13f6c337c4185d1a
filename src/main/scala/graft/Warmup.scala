package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** JVM/codegen warmup: this environment pays a very large first-query
  * cost (Janino compilation + JIT + Hadoop committer init — measured at
  * 200s+ for the first real job, sub-second after). Running a few tiny
  * jobs through the same machinery first keeps per-query timings honest
  * in Bench and Verify. A failed warmup is logged and swallowed: it
  * only shifts first-use cost into the first timed query.
  */
object Warmup {
  def run(spark: SparkSession, sfDir: String): Unit =
    try warm(spark, sfDir)
    catch { case NonFatal(e) => System.err.println(s"[warmup] failed: ${e.getMessage}") }

  private def warm(spark: SparkSession, sfDir: String): Unit = {
    val t0 = System.nanoTime()
    val nation = spark.read.parquet(s"$sfDir/nation.parquet")
    val region = spark.read.parquet(s"$sfDir/region.parquet")
    // codegen agg + broadcast join + window + sort
    nation.join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("r_name").orderBy("n_name")))
      .groupBy("r_name").agg(count(lit(1)), max("rn"))
      .orderBy("r_name")
      .write.mode("overwrite").format("noop").save()
    // higher-order functions + generator + parquet write committer
    val tmpDir = java.nio.file.Files.createTempDirectory("graft-warmup")
    try {
      nation
        .withColumn("toks", filter(split(lower(col("n_name")), "_"), x => length(x) > 0))
        .select(col("n_nationkey"), posexplode(col("toks")))
        .write.mode("overwrite").parquet(s"$tmpDir/w")
    } finally deleteRecursively(tmpDir)
    // ScalaUDF path + aggregate/zip_with/transform interpreters + the
    // ignoreNulls window frame — each pays a large first-use cost here
    val idf = udf((s: String) => s.length)
    nation
      .withColumn("u", idf(col("n_name")))
      .withColumn("sh", transform(sequence(lit(0), lit(3)), i => xxhash64(col("n_name"), i)))
      .withColumn("agg", aggregate(col("sh"), lit(0L), (a, x) => a.bitwiseXOR(x)))
      .withColumn("z", aggregate(
        zip_with(col("sh"), col("sh"), (x, y) => x.bitwiseXOR(y)),
        lit(0L), (a, x) => a.bitwiseXOR(x)))
      .withColumn("lastnn", last(when(col("n_nationkey") % 2 === 0, col("n_nationkey")), ignoreNulls = true)
        .over(Window.partitionBy(col("n_regionkey")).orderBy("n_nationkey")
          .rowsBetween(Window.unboundedPreceding, -1)))
      .write.mode("overwrite").format("noop").save()
    // custom codegen expressions (cosine/dot/quantize/byte-dot) first-use
    nation
      .withColumn("v", array(lit(0.6), lit(0.8)))
      .withColumn("s", graft.expr.VectorExpressions.maxAbs(col("v")))
      .withColumn("q", graft.expr.VectorExpressions.quantizeInt8(col("v"), col("s")))
      .withColumn("bd", graft.expr.VectorExpressions.byteDot(col("q"), col("q")))
      .withColumn("cs", graft.expr.VectorExpressions.cosine(col("v"), col("v")))
      .withColumn("adc", graft.expr.VectorExpressions.pqAdc(
        lit(Array[Byte](0, 1)), typedLit(Seq(0.1, 0.2, 0.3, 0.4)), 2))
      .write.mode("overwrite").format("noop").save()
    // ObjectHashAggregate (collect_list) + session_window first-use
    nation
      .groupBy("n_regionkey")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("n_nationkey"), col("n_name")))),
        x => x.getField("n_name")), " ").as("names"))
      .write.mode("overwrite").format("noop").save()
    nation
      .withColumn("ts", expr("timestamp_micros(CAST(n_nationkey AS LONG) * 1000000)"))
      .groupBy(session_window(col("ts"), "2 seconds"))
      .agg(count(lit(1)))
      .write.mode("overwrite").format("noop").save()
    System.err.println(f"[warmup] done in ${(System.nanoTime() - t0) / 1e9}%.1fs")
  }

  private def deleteRecursively(root: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, Path}
    import java.util.Comparator
    if (Files.exists(root)) {
      val walk = Files.walk(root)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
