package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.pipeline.{KeyedIndex, MergeTable}

/** [[KeyedIndex]] itself, independent of any text kernel: over random
  * insert/update/delete histories of a small corpus, a refreshed index
  * equals a from-scratch build at the new version, row for row. The
  * toy derive splits text into words and keys `doc_id|word` with a
  * per-document count, so a rewrite can change a kept key's value,
  * drop keys, or (empty text) derive zero rows. Sampled with fixed
  * scalacheck seeds (the offline pattern of LayoutPropertySpec). */
class KeyedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val words = KeyedIndex(docs => docs
    .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    .filter(length(col("w")) > 0)
    .groupBy("doc_id", "w").agg(count(lit(1)).as("n"))
    .select(concat_ws("|", col("doc_id"), col("w")).as("pk"),
      col("doc_id"), col("w"), col("n")))

  // 0–4 words, so a rewrite can derive zero rows
  private val text: Gen[String] =
    Gen.choose(0, 4).flatMap(Gen.listOfN(_, Gen.oneOf("a", "b", "c", "d")))
      .map(_.mkString(" "))

  // one version's batch: per doc id, Some(text) upserts, None deletes
  private val batch: Gen[Map[Long, Option[String]]] =
    Gen.nonEmptyMap(Gen.zip(Gen.choose(0L, 7L),
      Gen.frequency(2 -> text.map(Option(_)), 1 -> Gen.const(None))))

  private case class History(
      init: Map[Long, String], batches: List[Map[Long, Option[String]]])

  private val history: Gen[History] = for {
    init <- Gen.nonEmptyMap(Gen.zip(Gen.choose(0L, 7L), text))
    n <- Gen.choose(1, 3)
    batches <- Gen.listOfN(n, batch)
  } yield History(init, batches)

  private def rows(df: DataFrame): Seq[(String, Long, String, Long)] =
    df.select(col("pk"), col("doc_id"), col("w"), col("n"))
      .as[(String, Long, String, Long)].collect().toSeq.sorted

  /** The derive evaluated on the driver over the live documents. */
  private def model(live: Map[Long, String]): Seq[(String, Long, String, Long)] =
    live.toSeq.flatMap { case (id, t) =>
      t.split(" ").filter(_.nonEmpty).groupBy(identity)
        .map { case (w, ws) => (s"$id|$w", id, w, ws.length.toLong) }
    }.sorted

  test("refresh equals a from-scratch build over random insert/update/delete histories") {
    val samples = (0 until 12).flatMap(i =>
      history.apply(Gen.Parameters.default, Seed(i.toLong)))
    assert(samples.nonEmpty)
    // even samples refresh version by version, odd ones in one span
    samples.zipWithIndex.foreach { case (h, i) =>
      val root = Files.createTempDirectory("graft-keyed").toString
      val corpus = s"$root/corpus"
      MergeTable.create(spark, corpus, h.init.toSeq.toDF("doc_id", "text"),
        "doc_id", nBuckets = 4)
      // replay the batches; deletes of absent ids drop out, and a batch
      // left empty commits no version
      var live = h.init
      val states = h.batches.flatMap { b =>
        val ups = b.collect { case (id, Some(t)) => (id, t, false) }
        val dels = b.collect { case (id, None) if live.contains(id) => (id, live(id), true) }
        if (ups.isEmpty && dels.isEmpty) None
        else {
          val v = MergeTable.merge(spark, corpus,
            (ups ++ dels).toSeq.toDF("doc_id", "text", "_del"), "doc_id",
            deleteCol = Some("_del"))
          live = live -- dels.map(_._1) ++ ups.map(u => u._1 -> u._2)
          Some(v -> live)
        }
      }
      val idx = s"$root/idx"
      words.build(spark, corpus, idx, version = 1, nBuckets = 4)
      assert(rows(MergeTable.read(spark, idx)) == model(h.init))
      val checked = if (i % 2 == 0) states else states.lastOption.toList
      checked.foldLeft(1) { case (from, (to, expected)) =>
        words.refresh(spark, corpus, idx, from, to)
        val fresh = s"$root/fresh_v$to"
        words.build(spark, corpus, fresh, version = to, nBuckets = 4)
        val rebuilt = rows(MergeTable.read(spark, fresh))
        assert(rows(MergeTable.read(spark, idx)) == rebuilt,
          s"refresh v$from->v$to must equal a build at v$to (history $h)")
        assert(rebuilt == model(expected), s"build at v$to must reflect $expected")
        to
      }
    }
  }
}
