package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.MergeTable
import graft.streaming.{CorpusViews, StreamingIngest}

/** Maintained-family per-batch latency budget (VERDICT r9 ask #1):
  * the CDC upsert loop refreshes FOURTEEN standing text-corpus
  * artifacts per batch (stats cells, quantile cells, BM25 postings,
  * winnowed fingerprints, RAG chunk index, MinHash bands, NB
  * classifier model, KMV overlap cells, near-dup clusters, trigram
  * postings, CMS frequency cells, per-file Bloom point-lookup sidecar,
  * dataset-card cells, table-profile cells — the [[CorpusViews]] set;
  * the IVF cell lists are the embedding-corpus sibling, probed by
  * `IvfRefreshSpec`/ScaleProbe), but per-view
  * evidence alone doesn't show what ONE batch costs end-to-end or
  * that it stays ∝ delta as the corpus grows. This main measures the
  * WHOLE loop — merge + all the advances + vacuum retention — at two
  * delta sizes × two corpus sizes (sf0.1 and the Amplify sf1-eq
  * decade when `SPARK_GRAFT_SF1_DIR` is set), through the real
  * streaming path ([[StreamingIngest.startMergeUpsertMaintained]],
  * one AvailableNow cycle per batch), and prints one JSON line plus
  * the markdown rows for SCALE.md. Per-artifact decomposition lands
  * on stderr via the `[maintain]` advance log.
  *
  * Delta shape per batch: 40% rewrites, 20% deletes, 40% inserts —
  * the mixed-change regime every refresh family handles.
  *
  * Usage: `SPARK_GRAFT_SF1_DIR=/tmp/graft-sf1 sbt "runMain
  * graft.MaintainedProbe [deltaSmall deltaLarge]"`.
  */
object MaintainedProbe {

  private def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** The full text-corpus maintained set rooted under `root`. */
  private def artifacts(root: String): Seq[graft.streaming.Maintained] = Seq(
    CorpusViews.StatsView(s"$root/stats", "lang", "n_chars"),
    CorpusViews.QuantileView(s"$root/quant", "lang", "n_chars"),
    CorpusViews.PostingsIndex(s"$root/postings"),
    CorpusViews.FingerprintIndex(s"$root/fps"),
    CorpusViews.RagIndex(s"$root/rag"),
    CorpusViews.BandIndex(s"$root/bands"),
    CorpusViews.ClassifierModel(s"$root/clf", col("lang").isin("en", "fr")),
    CorpusViews.OverlapView(s"$root/overlap"),
    CorpusViews.ClustersView(s"$root/clusters"),
    CorpusViews.TrigramIndex(s"$root/trigrams"),
    CorpusViews.FreqView(s"$root/freq", "lang", "n_chars"),
    CorpusViews.BloomIndex(s"$root/corpus", "text"),
    CorpusViews.CardView(s"$root/card",
      filter(split(lower(col("text")), "[^a-z0-9]+"), t => length(t) > 0)),
    CorpusViews.ProfileView(s"$root/prof",
      Seq("doc_id", "text", "lang", "n_chars")))

  /** Mixed delta over the corpus's CURRENT state: rewrites and deletes
    * pick the lowest live doc_ids from `offset` on (disjoint across
    * batches), inserts mint fresh ids above any live one. Returned as
    * JSON lines for the landing dir (bounded: d rows). */
  private def deltaJson(
      spark: SparkSession, corpusDir: String, d: Int, salt: Int): String = {
    import spark.implicits._
    val nUp = d * 2 / 5; val nDel = d / 5; val nIns = d - nUp - nDel
    val cur = MergeTable.read(spark, corpusDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val picked = cur.orderBy("doc_id").limit(nUp + nDel)
      .as[(Long, String, Long)].collect()
    val maxId = cur.agg(max("doc_id")).as[Long].head()
    def body(id: Long): String =
      s"fresh body $salt for $id " + ("token stream over shared vocab " * 8)
    val ups = picked.take(nUp).map { case (id, lang, nc) =>
      val t = body(id)
      s"""{"doc_id":$id,"text":"$t","lang":"$lang","n_chars":${t.length},"_del":false}"""
    }
    val dels = picked.drop(nUp).map { case (id, lang, _) =>
      s"""{"doc_id":$id,"text":"","lang":"$lang","n_chars":0,"_del":true}"""
    }
    val ins = (1 to nIns).map { i =>
      val id = maxId + salt.toLong * 1000000 + i
      val t = body(id)
      s"""{"doc_id":$id,"text":"$t","lang":"xx","n_chars":${t.length},"_del":false}"""
    }
    (ups ++ dels ++ ins).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    val deltas = if (args.length >= 2) Seq(args(0).toInt, args(1).toInt)
      else Seq(50, 500)
    val spark = Graft.session()

    val corpora = Seq("/root/testdata/sf0.1") ++
      sys.env.get("SPARK_GRAFT_SF1_DIR")
        .filter(dir => new java.io.File(dir).isDirectory)
    try {
      Warmup.run(spark, corpora.head)

      val pid = ProcessHandle.current().pid()
      val rows = corpora.map { srcDir =>
        val docs = Tables.documents(spark, srcDir)
          .select(col("doc_id"), col("text"), col("lang"), col("n_chars"))
        val nDocs = docs.count()
        val root = new java.io.File(
          sys.props("java.io.tmpdir"), s"graft-mprobe-$pid-${srcDir.hashCode.toHexString}")
        if (root.exists()) { def del(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(del)); f.delete(); () }
          del(root) }
        root.mkdirs()
        val corpusDir = s"$root/corpus"
        val landing = s"$root/landing"; new java.io.File(landing).mkdirs()
        val ckpt = s"$root/ckpt"
        MergeTable.create(spark, corpusDir, docs, "doc_id", nBuckets = 16)
        val maintain = artifacts(root.toString)
        val (_, buildSec) = time {
          maintain.foreach(_.advance(spark, corpusDir, 1))
        }
        System.err.println(f"[probe] $srcDir n=$nDocs build=$buildSec%.1fs")
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id LONG, text STRING, lang STRING, n_chars LONG, _del BOOLEAN")
        val batchSecs = deltas.zipWithIndex.map { case (d, i) =>
          java.nio.file.Files.writeString(
            java.nio.file.Paths.get(landing, s"b$i.json"),
            deltaJson(spark, corpusDir, d, salt = i + 1))
          val (_, sec) = time {
            StreamingIngest.startMergeUpsertMaintained(spark, landing,
              corpusDir, "doc_id", schema, ckpt, maintain,
              deleteCol = Some("_del"), retainVersions = Some(2))
              .awaitTermination(600000)
          }
          System.err.println(f"[probe] $srcDir delta=$d batch=$sec%.1fs")
          d -> sec
        }
        (srcDir, nDocs, buildSec, batchSecs)
      }

      val json = rows.map { case (dir, n, b, bs) =>
        s"""{"corpus":"$dir","n_docs":$n,"build_sec":$b,"batches":{${
          bs.map { case (d, s) => s""""$d":$s""" }.mkString(",")}}}"""
      }.mkString("[", ",", "]")
      println(s"""{"metric":"maintained_batch","deltas":[${deltas.mkString(",")}],"rows":$json}""")
      println("| corpus | docs | build (14 artifacts) | batch Δ=" +
        deltas.head + " | batch Δ=" + deltas(1) + " |")
      println("|---|---|---|---|---|")
      rows.foreach { case (dir, n, b, bs) =>
        println(f"| $dir | $n | $b%.1f s | ${bs.head._2}%.1f s | ${bs(1)._2}%.1f s |")
      }
    } finally spark.stop()
  }
}
