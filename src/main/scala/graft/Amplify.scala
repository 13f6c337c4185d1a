package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× amplification of the sf0.1 testdata into a
  * scratch dir — the "one decade past sf0.1" evidence base (VERDICT r8
  * ask #3): every 100 TB claim previously rested on slopes fitted over
  * sf0.001→sf0.1, i.e. 100× of tiny; this synthesizes an sf1-equivalent
  * for the three tables the scale-headline queries read (`documents`,
  * `events`, `embeddings`) so the slopes get a fourth, decade-larger
  * point.
  *
  * Amplification is clone-with-perturbation, replica r ∈ 0..9, chosen
  * so each replica PRESERVES the original's internal structure while
  * replicas stay distinct from each other — "10× more data of the same
  * shape", not "every row suddenly has 9 near-duplicates" (verbatim
  * clones would inflate duplicate-pair counts quadratically and fake a
  * superlinear slope in the dedup family):
  *
  *  - `documents`: doc_id offset by r·10^9; TEXT letters Caesar-shifted
  *    by r (digits/punctuation/whitespace untouched), so token length
  *    distribution, n-gram shape, winnowing density, and WITHIN-replica
  *    near-dup structure are identical per replica, while cross-replica
  *    text shares no shingles. Vocabulary grows ~10× — which is what
  *    real 10× web-scale growth does.
  *  - `events`: event ids/user offsets by r·10^9; timestamps shifted by
  *    r × (span + 1 hour), so the stream covers 10× the windows at the
  *    original density (watermark state per window unchanged — the
  *    bounded-state claim under test).
  *  - `embeddings`: vec_id offset by r·10^9; dimensions circularly
  *    rotated by 6·r (norm- and structure-preserving), so each replica
  *    carries the original cluster geometry in a different orientation
  *    — total cluster count ×10 at fixed nlist, the realistic hard case
  *    for IVF maintenance.
  *
  * Everything is a pure column expression over the sf0.1 parquet — no
  * RNG, so re-running writes byte-stable content. Other tables are not
  * amplified (the scale-headline queries do not read them); probing a
  * relational query against the amplified dir is a usage error the
  * missing file makes loud.
  *
  * Usage: `sbt "runMain graft.Amplify [srcDir [dstDir [factor]]]"`;
  * default dst is `<java.io.tmpdir>/graft-sf1`. ScaleProbe picks the
  * dir up via `SPARK_GRAFT_SF1_DIR`.
  */
object Amplify {

  private val IdOffset = 1000000000L

  /** Caesar-shift letters by r (case-preserving); leaves every other
    * character class alone. Pure SQL translate so the perturbation is
    * a codegen'd column expression, not a UDF. */
  private def shiftText(c: org.apache.spark.sql.Column, r: Int): org.apache.spark.sql.Column = {
    if (r == 0) c
    else {
      val lower = "abcdefghijklmnopqrstuvwxyz"
      val upper = lower.toUpperCase
      val sl = lower.drop(r % 26) + lower.take(r % 26)
      val su = upper.drop(r % 26) + upper.take(r % 26)
      translate(c, lower + upper, sl + su)
    }
  }

  def amplifyDocuments(spark: SparkSession, src: String, factor: Int): DataFrame =
    (0 until factor).map { r =>
      val d = spark.read.parquet(s"$src/documents.parquet")
      d.withColumn("doc_id", col("doc_id") + lit(r * IdOffset))
        .withColumn("text", shiftText(col("text"), r))
    }.reduce(_ unionByName _)

  def amplifyEvents(spark: SparkSession, src: String, factor: Int): DataFrame = {
    // through the schema-normalizing loader (ts → session-zoned micros
    // TIMESTAMP), so the amplified file reads back through the same
    // loader's no-op branch
    val base = Tables.events(spark, src)
    val span = base.agg(
      (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("span"))
      .head.getLong(0)
    val step = span + 3600L * 1000000L // original span + 1 h of clearance
    val idCols = base.columns.filter(c =>
      c.endsWith("_id") && base.schema(c).dataType ==
        org.apache.spark.sql.types.LongType)
    (0 until factor).map { r =>
      val shifted = base.withColumn("ts",
        timestamp_micros(unix_micros(col("ts")) + lit(r * step)))
      idCols.foldLeft(shifted)((df, c) =>
        df.withColumn(c, col(c) + lit(r * IdOffset)))
    }.reduce(_ unionByName _)
  }

  def amplifyEmbeddings(spark: SparkSession, src: String, factor: Int): DataFrame =
    (0 until factor).map { r =>
      val d = spark.read.parquet(s"$src/embeddings.parquet")
      val dim = d.select(size(col("embedding"))).head.getInt(0)
      val rot = (6 * r) % dim
      val rotated =
        if (rot == 0) col("embedding")
        else concat(slice(col("embedding"), rot + 1, dim - rot),
          slice(col("embedding"), 1, rot))
      d.withColumn("vec_id", col("vec_id") + lit(r * IdOffset))
        .withColumn("embedding", rotated)
    }.reduce(_ unionByName _)

  def run(spark: SparkSession, src: String, dst: String, factor: Int = 10): Unit = {
    amplifyDocuments(spark, src, factor)
      .repartition(32).write.mode("overwrite").parquet(s"$dst/documents.parquet")
    amplifyEvents(spark, src, factor)
      .repartition(32).write.mode("overwrite").parquet(s"$dst/events.parquet")
    amplifyEmbeddings(spark, src, factor)
      .repartition(8).write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse(
      new java.io.File(sys.props("java.io.tmpdir"), "graft-sf1").toString)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Graft.session()
    try {
      run(spark, src, dst, factor)
      println(s"""{"amplified":"$dst","src":"$src","factor":$factor}""")
    } finally spark.stop()
  }
}
