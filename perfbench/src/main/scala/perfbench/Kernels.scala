package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.embed.Embedder
import graft.ops.{ChunkText, Dedup, TextAnalysis, TextSearch, Winnow}

/** Single-threaded cost of the engine's JIT-compiled text kernels, in
  * nanoseconds per input character: each kernel runs over the given
  * texts as one task (one input partition, one shuffle partition), once
  * to warm up and then timed, to a noop sink. */
object Kernels {
  private def viaColumn(f: Column => Column): DataFrame => DataFrame =
    df => df.select(f(col("text")))

  val all: Seq[(String, DataFrame => DataFrame)] = Seq(
    "shingle_hashes" -> viaColumn(c => Dedup.shingleHashes(c)),
    "minhash_sig" -> viaColumn(c => Dedup.minhashSignatureOfText(c)),
    "winnow_scan" -> (df => Winnow.fingerprintsScan(df)),
    "trigram_postings" -> (df => TextSearch.trigramPostings(df)),
    "char_trigram_lm" -> (df => TextAnalysis.charTrigramLm(df.withColumn("lang", lit("en")))),
    "lang_id" -> viaColumn(c => TextAnalysis.langId(c)),
    "chunk" -> viaColumn(c => ChunkText.chunksCol(c, 700, 200)))

  /** `docs` has `doc_id` and `text`; returns kernel name → ns/char. */
  def nsPerChar(docs: DataFrame): Seq[(String, Double)] = {
    val spark = docs.sparkSession
    val one = docs.coalesce(1).persist()
    val chars = one.agg(sum(length(col("text")))).head().getLong(0).toDouble
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    try all.map { case (name, k) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        k(one).write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0).toDouble
      }
      once()
      name -> math.min(once(), once()) / chars
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      one.unpersist()
    }
  }

  /** The hashing embedder on the driver thread, ns per input character. */
  def embedNsPerChar(embedder: Embedder, texts: Seq[String]): Double = {
    texts.foreach(embedder.embed)
    val t0 = System.nanoTime()
    texts.foreach(embedder.embed)
    (System.nanoTime() - t0).toDouble / math.max(1L, texts.map(_.length.toLong).sum)
  }
}
