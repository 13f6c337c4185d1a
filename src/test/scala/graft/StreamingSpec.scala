package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.embed.HashingEmbedder
import graft.index.VectorIndex
import graft.streaming.{CorpusViews, Maintained, StreamingIngest}

/** ST1: streaming file ingest via foreachBatch reuses the batch pipeline;
  * ST2 semantics (event-time windows) are oracle-checked as batch queries
  * q17/q18. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("streaming ingest: landed text files end up as searchable index rows") {
    val landing = Files.createTempDirectory("graft-landing").toString
    val index = Files.createTempDirectory("graft-index").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft-ckpt").toString

    Files.writeString(java.nio.file.Paths.get(landing, "doc_a.txt"),
      "the mobile client installation guide with many words " * 30)
    Files.writeString(java.nio.file.Paths.get(landing, "doc_b.txt"),
      "server network configuration reference manual " * 30)

    val q = StreamingIngest.start(spark, landing, index, ckpt, HashingEmbedder(128))
    q.awaitTermination(60000)

    val idx = spark.read.parquet(index)
    assert(idx.columns.toSeq ==
      Seq("id", "doc_id", "chunk_idx", "chunk_text", "embedding"))
    val docs = idx.select("doc_id").distinct().as[String].collect().toSet
    assert(docs == Set("doc_a.txt", "doc_b.txt"))
    // chunked: each doc produced multiple ≤700-char chunks
    assert(idx.count() > 2)
    assert(idx.select(max(length(col("chunk_text")))).as[Int].head() <= 700)
    // vectors are unit-normalized at write time
    val norms = idx.select(VectorIndex.l2Norm(col("embedding"))).as[Double].collect()
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-9))

    // search finds the right document
    val query = HashingEmbedder(128).embed("mobile client installation").map(_.toDouble)
    val top = VectorIndex.search(idx, query, k = 1, threshold = 0.0, normalizedInput = true)
      .select("doc_id").as[String].head()
    assert(top == "doc_a.txt")
  }

  test("incremental dedup ingest: re-landed and renamed content is a no-op") {
    val landing = Files.createTempDirectory("graft-landing-d").toString
    val corpus = Files.createTempDirectory("graft-corpus-d").toString + "/c"
    val index = Files.createTempDirectory("graft-index-d").toString + "/idx"
    // one checkpoint across both starts: corpus, index and checkpoint
    // form a unit (batch ids key the idempotent subdir writes)
    val ckpt = Files.createTempDirectory("graft-ckpt-d").toString

    val textA = "alpha document body with sufficient words " * 20
    val textB = "beta document body with different words " * 20
    val textC = "gamma document body entirely new content " * 20
    Files.writeString(java.nio.file.Paths.get(landing, "a.txt"), textA)
    Files.writeString(java.nio.file.Paths.get(landing, "b.txt"), textB)
    // same content as a.txt under a different name: intra-batch dup
    Files.writeString(java.nio.file.Paths.get(landing, "a_copy.txt"), textA)

    StreamingIngest.startDeduped(spark, landing, corpus, index, ckpt,
      HashingEmbedder(64)).awaitTermination(60000)

    val c1 = spark.read.parquet(corpus)
    assert(c1.count() == 2, "one of the two identical docs must survive")
    assert(c1.select("content_hash").distinct().count() == 2)

    // second delivery: b.txt re-landed under a new name (cross-batch
    // dup) plus one genuinely new doc
    Files.writeString(java.nio.file.Paths.get(landing, "b_again.txt"), textB)
    Files.writeString(java.nio.file.Paths.get(landing, "c.txt"), textC)
    StreamingIngest.startDeduped(spark, landing, corpus, index, ckpt,
      HashingEmbedder(64)).awaitTermination(60000)

    val c2 = spark.read.parquet(corpus)
    assert(c2.select("content_hash").distinct().count() == 3,
      "only the new content may enter the corpus")
    assert(c2.count() == 3, s"corpus rows: ${c2.count()}")
    // the index grew only by the new doc's chunks
    val idxDocs = spark.read.parquet(index)
      .select("doc_id").distinct().as[String].collect().toSet
    assert(idxDocs.intersect(Set("b_again.txt")).isEmpty,
      "re-delivered content must not re-index")
    assert(idxDocs.contains("c.txt"))
  }

  test("dedup ingest crash-retry: a half-finished batch rewrites, no loss") {
    val landing = Files.createTempDirectory("graft-landing-r").toString
    val corpus = Files.createTempDirectory("graft-corpus-r").toString + "/c"
    val index = Files.createTempDirectory("graft-index-r").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft-ckpt-r").toString

    val textA = "alpha retry document with plenty of words " * 20
    val textB = "beta retry document with other words " * 20
    Files.writeString(java.nio.file.Paths.get(landing, "a.txt"), textA)
    Files.writeString(java.nio.file.Paths.get(landing, "b.txt"), textB)

    // simulate a crashed first attempt of batch 0: the corpus subdir
    // was written (even partially — here only doc a) but the index
    // write never happened and the checkpoint never committed
    Seq(("a.txt", graft.ops.Dedup.exact(
        Seq(("a.txt", textA)).toDF("doc_id", "text"))
        .select("content_hash").as[String].head(), textA))
      .toDF("doc_id", "content_hash", "text")
      .write.parquet(s"$corpus/batch_id=0")
    assert(spark.read.parquet(corpus).count() == 1)

    // the retry (fresh checkpoint → this IS batch 0 again) must not
    // treat its own crashed leftovers as already-ingested
    StreamingIngest.startDeduped(spark, landing, corpus, index, ckpt,
      HashingEmbedder(64)).awaitTermination(60000)

    val c = spark.read.parquet(corpus)
    assert(c.count() == 2, s"both docs must survive the retry: ${c.count()}")
    assert(c.select("content_hash").distinct().count() == 2)
    val idxDocs = spark.read.parquet(index)
      .select("doc_id").distinct().as[String].collect().toSet
    assert(idxDocs == Set("a.txt", "b.txt"),
      s"index must cover the whole batch after retry: $idxDocs")
  }

  test("streaming DOCX ingest: landed .docx parses, sectionizes, embeds, indexes") {
    val landing = Files.createTempDirectory("graft-landing3").toString
    val index = Files.createTempDirectory("graft-index3").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft-ckpt3").toString

    // minimal but real OOXML package, heading written the way Word does
    // (lowercase internal style name, resolved via styles.xml)
    val stylesXml =
      """<?xml version="1.0"?>
        |<w:styles xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
        |  <w:style w:styleId="H1"><w:name w:val="heading 1"/></w:style>
        |</w:styles>""".stripMargin
    val documentXml =
      s"""<?xml version="1.0"?>
         |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
         |<w:body>
         |<w:p><w:pPr><w:pStyle w:val="H1"/></w:pPr><w:r><w:t>Install</w:t></w:r></w:p>
         |<w:p><w:r><w:t>${"mobile client setup steps " * 40}</w:t></w:r></w:p>
         |</w:body></w:document>""".stripMargin
    val bos = new java.io.ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    Seq("word/document.xml" -> documentXml, "word/styles.xml" -> stylesXml).foreach {
      case (n, c) =>
        z.putNextEntry(new java.util.zip.ZipEntry(n))
        z.write(c.getBytes("UTF-8")); z.closeEntry()
    }
    z.close()
    Files.write(java.nio.file.Paths.get(landing, "guide.docx"), bos.toByteArray)
    // the extension gate (app.py:17-29): non-docx files never enter
    Files.writeString(java.nio.file.Paths.get(landing, "ignored.txt"), "not a docx")

    StreamingIngest.startDocx(spark, landing, index, ckpt,
      HashingEmbedder(64), version = "15.0").awaitTermination(120000)

    val idx = spark.read.parquet(index)
    assert(idx.count() > 1) // long section → multiple chunks
    assert(idx.select("document_name").distinct().as[String].collect().toSeq
      == Seq("guide.docx"))
    assert(idx.select("paragraph_name").distinct().as[String].collect().toSeq
      == Seq("Install"))
    assert(idx.select("document_version").distinct().as[String].head() == "15.0")
    val norms = idx.select(VectorIndex.l2Norm(col("embedding"))).as[Double].collect()
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-9))
  }

  test("streaming ingest is incremental: a second start picks up only new files") {
    val landing = Files.createTempDirectory("graft-landing2").toString
    val index = Files.createTempDirectory("graft-index2").toString + "/idx"
    val ckpt = Files.createTempDirectory("graft-ckpt2").toString

    Files.writeString(java.nio.file.Paths.get(landing, "one.txt"), "first document")
    StreamingIngest.start(spark, landing, index, ckpt, HashingEmbedder(32))
      .awaitTermination(60000)
    val n1 = spark.read.parquet(index).count()

    Files.writeString(java.nio.file.Paths.get(landing, "two.txt"), "second document")
    StreamingIngest.start(spark, landing, index, ckpt, HashingEmbedder(32))
      .awaitTermination(60000)
    val idx = spark.read.parquet(index)
    assert(idx.count() == n1 + 1)
    assert(idx.select("doc_id").distinct().count() == 2)
  }

  test("streaming CDC upsert: change files converge the MergeTable to latest state") {
    import org.apache.spark.sql.types._
    import graft.pipeline.MergeTable
    val landing = Files.createTempDirectory("graft-cdc-landing").toString
    val table = Files.createTempDirectory("graft-cdc-table").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("ver", LongType), StructField("_del", BooleanType)))

    // the table schema carries data columns only; the _del flag is
    // change-record metadata and never lands in the table
    MergeTable.create(spark,
      table, Seq((1L, "one", 0L), (2L, "two", 0L))
        .toDF("id", "name", "ver"), "id", nBuckets = 4)

    // batch 1: two files CONFLICT on key 1 (ver 2 must win), key 3 inserts
    Files.writeString(java.nio.file.Paths.get(landing, "c1.json"),
      """{"id":1,"name":"one-v1","ver":1,"_del":false}
        |{"id":3,"name":"three","ver":1,"_del":false}""".stripMargin)
    Files.writeString(java.nio.file.Paths.get(landing, "c2.json"),
      """{"id":1,"name":"one-v2","ver":2,"_del":false}""")
    StreamingIngest.startMergeUpsert(spark, landing, table, "id", schema, ckpt,
      deleteCol = Some("_del"), versionCol = Some("ver"))
      .awaitTermination(60000)
    def state(): Map[Long, String] =
      MergeTable.read(spark, table).select("id", "name")
        .as[(Long, String)].collect().toMap
    assert(state() == Map(1L -> "one-v2", 2L -> "two", 3L -> "three"))

    // batch 2 (second start, same checkpoint — only the new file): delete key 2
    Files.writeString(java.nio.file.Paths.get(landing, "c3.json"),
      """{"id":2,"name":"","ver":3,"_del":true}""")
    StreamingIngest.startMergeUpsert(spark, landing, table, "id", schema, ckpt,
      deleteCol = Some("_del"), versionCol = Some("ver"))
      .awaitTermination(60000)
    assert(state() == Map(1L -> "one-v2", 3L -> "three"))
  }

  test("CDC expectations gate: violating change records quarantine, never touch the table") {
    import org.apache.spark.sql.types._
    import graft.pipeline.MergeTable
    import graft.ops.Expectations.{Check, NotNull}
    val landing = Files.createTempDirectory("graft-gate-landing").toString
    val table = Files.createTempDirectory("graft-gate-table").toString + "/t"
    val q = Files.createTempDirectory("graft-gate-q").toString + "/quarantine"
    val ckpt = Files.createTempDirectory("graft-gate-ckpt").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("ver", LongType), StructField("_del", BooleanType)))
    MergeTable.create(spark,
      table, Seq((1L, "one", 0L)).toDF("id", "name", "ver"), "id", nBuckets = 4)
    val rules = Seq(
      NotNull("name"),
      Check("id_positive", col("id") > 0L))

    def run(): Unit = StreamingIngest.startMergeUpsert(
      spark, landing, table, "id", schema, ckpt,
      deleteCol = Some("_del"), versionCol = Some("ver"),
      expectations = rules, quarantineDir = Some(q))
      .awaitTermination(60000)

    // batch 1: one clean insert, two violators (negative id; null name)
    Files.writeString(java.nio.file.Paths.get(landing, "g1.json"),
      """{"id":3,"name":"three","ver":1,"_del":false}
        |{"id":-7,"name":"neg","ver":1,"_del":false}
        |{"id":4,"name":null,"ver":1,"_del":false}""".stripMargin)
    run()
    def state(): Map[Long, String] =
      MergeTable.read(spark, table).select("id", "name")
        .as[(Long, String)].collect().toMap
    assert(state() == Map(1L -> "one", 3L -> "three"),
      "violators must not reach the table")
    val quarantined = spark.read.parquet(q)
      .select(col("id"), col("violated"))
      .as[(Long, Seq[String])].collect().toMap
    assert(quarantined == Map(
      -7L -> Seq("id_positive"), 4L -> Seq("not_null:name")))

    // batch 2, same checkpoint: a clean update converges; a malformed
    // DELETE (null name) is a corrupt instruction — quarantined, so
    // key 1 survives
    Files.writeString(java.nio.file.Paths.get(landing, "g2.json"),
      """{"id":3,"name":"three-v2","ver":2,"_del":false}
        |{"id":1,"name":null,"ver":2,"_del":true}""".stripMargin)
    run()
    assert(state() == Map(1L -> "one", 3L -> "three-v2"))
    assert(spark.read.parquet(q).count() == 3)
  }

  test("watermarked streaming dedup drops in-window re-deliveries, state survives restart") {
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-wmdedup")
    val (landing, out, ckpt) = (s"$root/landing", s"$root/out", s"$root/ckpt")
    new java.io.File(landing).mkdirs()
    def land(name: String, rows: String*): Unit =
      Files.writeString(java.nio.file.Paths.get(landing, name), rows.mkString("\n"))
    def row(id: String, sec: Int, text: String) =
      s"""{"doc_id":"$id","event_time":"2024-01-01T00:0${sec / 60}:${f"${sec % 60}%02d"}Z","text":"$text"}"""

    // first run: A, its same-content re-delivery 30s later, and B
    land("f1.json",
      row("a1", 0, "alpha content"),
      row("a2", 30, "alpha  content"), // whitespace variant → same hash
      row("b1", 45, "beta content"))
    StreamingIngest.startDedupedWindowed(spark, landing, out, ckpt)
      .awaitTermination(60000)
    val r1 = spark.read.parquet(out).select("doc_id").as[String].collect().toSet
    assert(r1 == Set("a1", "b1"), s"in-window duplicate must drop: $r1")

    // second run, same checkpoint: ANOTHER alpha re-delivery (still in
    // window) plus a new doc — the state store must survive the restart
    land("f2.json",
      row("a3", 90, "alpha content"),
      row("c1", 120, "gamma content"))
    StreamingIngest.startDedupedWindowed(spark, landing, out, ckpt)
      .awaitTermination(60000)
    val r2 = spark.read.parquet(out).select("doc_id").as[String].collect().toSet
    assert(r2 == Set("a1", "b1", "c1"),
      s"cross-restart duplicate must drop, new content must pass: $r2")
  }

  test("CDC upsert with maintained views: stats, postings and fingerprints equal batch rebuilds") {
    import org.apache.spark.sql.types._
    import graft.pipeline.{IncrementalStats, MergeTable}
    import graft.ops.{TextSearch, Winnow}
    val root = Files.createTempDirectory("graft-cdc-ivm")
    val (landing, ckpt) = (s"$root/landing", s"$root/ckpt")
    val (table, views) = (s"$root/table/t", s"$root/views")
    val (postings, fps) = (s"$root/postings", s"$root/fps")
    new java.io.File(landing).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("grp", StringType),
      StructField("v", LongType), StructField("text", StringType),
      StructField("_del", BooleanType)))

    MergeTable.create(spark, table, Seq(
      (1L, "a", 10L, "the quick brown fox jumps over the dog"),
      (2L, "a", 20L, "pack my box with five dozen liquor jugs"),
      (3L, "b", 30L, "a completely different document body"))
      .toDF("doc_id", "grp", "v", "text"), "doc_id", nBuckets = 4)

    val statsView = CorpusViews.StatsView(views, "grp", "v")
    val quantView = CorpusViews.QuantileView(s"$root/qviews", "grp", "v")
    val ragIdx = CorpusViews.RagIndex(s"$root/rag")
    val bandIdx = CorpusViews.BandIndex(s"$root/bands")
    val clfPred = col("grp") === "a"
    val clfModel = CorpusViews.ClassifierModel(s"$root/clf", clfPred, buckets = 64)
    val ovView = CorpusViews.OverlapView(s"$root/oviews")
    val ccView = CorpusViews.ClustersView(s"$root/cclusters")
    val tgView = CorpusViews.TrigramIndex(s"$root/trigrams")
    val fqView = CorpusViews.FreqView(s"$root/fviews", "grp", "v", w = 64, d = 3)
    val bloomIdx = CorpusViews.BloomIndex(table, "text")
    val cardToks = filter(split(lower(col("text")), "[^a-z0-9]+"),
      t => length(t) > 0)
    val cardView = CorpusViews.CardView(s"$root/card", cardToks, langCol = "grp")
    val profView = CorpusViews.ProfileView(s"$root/prof",
      Seq("doc_id", "grp", "v", "text"))
    val maintain = Seq(statsView, quantView,
      CorpusViews.PostingsIndex(postings),
      CorpusViews.FingerprintIndex(fps), ragIdx, bandIdx, clfModel, ovView,
      ccView, tgView, fqView, bloomIdx, cardView, profView)
    // every advance's `[maintain] <View>` stderr line must name the
    // view's own family, in maintenance order: the CDC benchmark parses
    // per-view advance times from these labels, so a shared adapter
    // printing a generic class name would silently break that parse
    val families = Seq("StatsView", "QuantileView", "PostingsIndex",
      "FingerprintIndex", "RagIndex", "BandIndex", "ClassifierModel",
      "OverlapView", "ClustersView", "TrigramIndex", "FreqView",
      "BloomIndex", "CardView", "ProfileView")
    def stream(): Unit = {
      val original = System.err
      val captured = new java.io.ByteArrayOutputStream
      System.setErr(new java.io.PrintStream(new java.io.OutputStream {
        override def write(b: Int): Unit = { original.write(b); captured.write(b) }
        override def flush(): Unit = original.flush()
      }, true, "UTF-8"))
      try
        StreamingIngest.startMergeUpsertMaintained(spark, landing, table,
          "doc_id", schema, ckpt, maintain, deleteCol = Some("_del"),
          retainVersions = Some(2))
          .awaitTermination(60000)
      finally System.setErr(original)
      val labels = captured.toString("UTF-8").linesIterator
        .filter(_.startsWith("[maintain]")).map(_.split("\\s+")(1)).toSeq
      assert(labels.distinct == families,
        s"[maintain] lines must name every view's family in order: $labels")
    }

    def statsNow(): Map[String, (Long, Long)] =
      statsView.latest(spark)
        .select("grp", "n", "total").as[(String, Long, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def batchStats(): Map[String, (Long, Long)] =
      IncrementalStats.compute(MergeTable.read(spark, table), "grp", "v")
        .select("grp", "n", "total").as[(String, Long, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def postingsRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String, Long)] =
      df.select(col("doc_id").cast("long"), col("dl").cast("long"),
        col("term"), col("tf").cast("long"))
        .as[(Long, Long, String, Long)].collect().toSet
    def fpRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select(col("doc_id").cast("long"), col("fp").cast("long"))
        .as[(Long, Long)].collect().toSet
    def quantNow(): Map[String, (Long, Double)] =
      quantView.latest(spark, Seq(0.5))
        .select("grp", "n", "p50").as[(String, Long, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def batchQuant(): Map[String, (Long, Double)] =
      graft.pipeline.QuantileStats.quantiles(
          graft.pipeline.QuantileStats.compute(spark, table, "grp", "v"),
          "grp", Seq(0.5))
        .select("grp", "n", "p50").as[(String, Long, Double)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def ragRows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, String)] =
      df.select(col("id").cast("string"), col("doc_id").cast("long"),
        col("chunk_text"))
        .as[(String, Long, String)].collect().toSet
    def bandRows(df: org.apache.spark.sql.DataFrame): Set[(Long, Int, String)] =
      df.select(col("doc_id").cast("long"), col("band_idx").cast("int"),
        col("band_hash"))
        .as[(Long, Int, String)].collect().toSet
    def allEqualBatch(): Unit = {
      assert(statsNow() == batchStats())
      assert(quantNow() == batchQuant(),
        "maintained quantile cells must equal a batch rebuild")
      assert(postingsRows(MergeTable.read(spark, postings)) ==
        postingsRows(TextSearch.postings(MergeTable.read(spark, table))))
      assert(fpRows(MergeTable.read(spark, fps)) ==
        fpRows(Winnow.fingerprintsScan(MergeTable.read(spark, table))))
      assert(ragRows(MergeTable.read(spark, s"$root/rag")) ==
        ragRows(StreamingIngest.ingestBatch(
          MergeTable.read(spark, table).select("doc_id", "text"))),
        "maintained RAG index must equal a full re-chunk+re-embed")
      assert(bandRows(MergeTable.read(spark, s"$root/bands")) ==
        bandRows(graft.pipeline.BandsRefresh.bandsOf(MergeTable.read(spark, table))),
        "maintained band index must equal a full re-shingle+re-sign")
      assert(clfModel.latest(spark) ==
        graft.ops.QualityClassifier.train(
          MergeTable.read(spark, table), clfPred, buckets = 64),
        "maintained classifier model must equal a full retrain")
      def ovRows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long, Long, Double, Boolean)] =
        df.as[(String, String, Long, Long, Double, Boolean)].collect().toSeq
      assert(ovRows(ovView.latest(spark)) ==
        ovRows(graft.pipeline.OverlapStats.overlapPairs(
          graft.pipeline.OverlapStats.merged(
            graft.pipeline.OverlapStats.compute(spark, table)))),
        "maintained overlap cells must equal a batch rebuild")
      val ccFresh = java.nio.file.Files.createTempDirectory("graft-cc-batch").toString
      graft.pipeline.ClustersRefresh.build(spark, table, ccFresh,
        version = graft.pipeline.MergeTable.latestVersion(spark, table))
      assert(ccView.survivors(spark, table).as[Long].collect().toSet ==
        graft.pipeline.ClustersRefresh.survivors(spark, table, ccFresh,
          graft.pipeline.MergeTable.latestVersion(spark, table))
          .as[Long].collect().toSet,
        "maintained clusters must equal a batch rebuild")
      def tgRows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
        df.select(col("doc_id").cast("long"), col("tg"))
          .as[(Long, String)].collect().toSet
      assert(tgRows(MergeTable.read(spark, s"$root/trigrams")) ==
        tgRows(graft.ops.TextSearch.trigramPostings(MergeTable.read(spark, table))),
        "maintained trigram index must equal a full re-trigram")
      def fqBytes(df: org.apache.spark.sql.DataFrame): Map[String, Seq[Byte]] =
        df.select(col("grp"), col("sk"))
          .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
      assert(fqBytes(fqView.latest(spark)) ==
        fqBytes(graft.pipeline.FreqStats.merged(
          graft.pipeline.FreqStats.compute(spark, table, "grp", "v", w = 64, d = 3),
          "grp")),
        "maintained CMS cells must equal a batch rebuild, byte-for-byte")
      def cardRows(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Long)] =
        df.as[(String, String, Long)].collect().toSeq
      assert(cardRows(cardView.latest(spark)) ==
        cardRows(graft.pipeline.CorpusCard.card(
          MergeTable.read(spark, table), cardToks, langCol = "grp")),
        "maintained dataset card must equal a from-scratch card")
      def profRows(df: org.apache.spark.sql.DataFrame): Set[(String, String, Double)] =
        df.as[(String, String, Double)].collect().toSet
      assert(profRows(profView.latest(spark)) ==
        profRows(graft.ops.Profile.profile(
            MergeTable.read(spark, table).select("doc_id", "grp", "v", "text"))
          .filter(col("metric") =!= "n_distinct")),
        "maintained profile must equal a from-scratch profile minus n_distinct")
      // maintained bloom sidecar: every CURRENT text is findable
      // through the pruned point lookup, and the lookup equals the
      // plain filter (superset pass exact after every CDC batch)
      val vNow = MergeTable.latestVersion(spark, table)
      assert(bloomIdx.version(spark).contains(vNow),
        "bloom sidecar must reflect the corpus head")
      val texts = MergeTable.read(spark, table)
        .select("doc_id", "text").as[(Long, String)].collect()
      val probeTexts = texts.map(_._2).distinct.toSeq
      val viaBloom = graft.pipeline.FileBlooms
        .readWhereEq(spark, table, "text", probeTexts, vNow)
        .select("doc_id").as[Long].collect().toSet
      assert(viaBloom == texts.map(_._1).toSet,
        "bloom-pruned lookup must find every live doc by its text")
    }

    // batch 1: update 2 (group move a→b, text rewrite), insert 4 (new group c)
    Files.writeString(java.nio.file.Paths.get(landing, "c1.json"),
      """{"doc_id":2,"grp":"b","v":25,"text":"an entirely new body of text for document two","_del":false}
        |{"doc_id":4,"grp":"c","v":40,"text":"brand new arrival with plenty of characters to fingerprint","_del":false}""".stripMargin)
    stream()
    allEqualBatch()
    assert(statsNow() == Map("a" -> ((1L, 10L)), "b" -> ((2L, 55L)),
      "c" -> ((1L, 40L))))

    // batch 2, second start off the same checkpoint: delete 4 (empties
    // group c and evicts its index rows), update 1 in place — every
    // artifact must advance off its PERSISTED state, not a recompute
    Files.writeString(java.nio.file.Paths.get(landing, "c2.json"),
      """{"doc_id":4,"grp":"c","v":0,"text":"","_del":true}
        |{"doc_id":1,"grp":"a","v":11,"text":"the quick brown fox jumps over the dog","_del":false}""".stripMargin)
    stream()
    allEqualBatch()

    // retention under the loop (retainVersions = 2): after the second
    // batch the corpus is at v3 and vacuum ran inside the stream —
    // v1 is reclaimed, v2/v3 retained. Maintained answers are
    // untouched (allEqualBatch above ran on the vacuumed table),
    // time travel to the RETAINED v2 still works, and a read of the
    // reclaimed v1 fails loudly, never wrongly.
    assert(MergeTable.versions(spark, table) == Seq(2, 3),
      s"retainVersions=2 must leave exactly v2,v3: ${MergeTable.versions(spark, table)}")
    assert(MergeTable.read(spark, table, version = 2)
      .select("doc_id").as[Long].collect().nonEmpty,
      "time travel to a retained version must keep working after vacuum")
    intercept[Exception](MergeTable.read(spark, table, version = 1).collect())

    assert(!statsNow().contains("c"), "emptied group must drop out")
    assert(!quantNow().contains("c"), "emptied group must drop out of quantiles")
    assert(!postingsRows(MergeTable.read(spark, postings)).exists(_._1 == 4L),
      "deleted doc must leave the postings index")
    assert(!ragRows(MergeTable.read(spark, s"$root/rag")).exists(_._2 == 4L),
      "deleted doc's chunks must leave the RAG index")

    // right-to-be-forgotten propagation: the audit proves the deleted
    // doc is gone from EVERY standing artifact, not just the corpus
    val audit = graft.ops.Privacy.forgottenAudit(Seq(4L), Seq(
        ("corpus", MergeTable.read(spark, table), "doc_id"),
        ("postings", MergeTable.read(spark, postings), "doc_id"),
        ("fingerprints", MergeTable.read(spark, fps), "doc_id"),
        ("rag", MergeTable.read(spark, s"$root/rag"), "doc_id"),
        ("bands", MergeTable.read(spark, s"$root/bands"), "doc_id"),
        ("trigrams", MergeTable.read(spark, s"$root/trigrams"), "doc_id")))
      .as[(String, Long)].collect()
    assert(audit.length == 6 && audit.forall(_._2 == 0L),
      s"a deleted doc must leave every maintained artifact: ${audit.toSeq}")

    // artifacts advanced incrementally: frozen view versions + cursors
    val frozen = new java.io.File(views).listFiles().map(_.getName).toSet
    assert(frozen.exists(_.startsWith("v")), s"frozen views missing: $frozen")
    val cursors = new java.io.File(postings).listFiles().map(_.getName)
      .filter(_.startsWith("_corpus_v")).toSet
    assert(cursors.nonEmpty, "postings cursor missing")

    // retention: prune to the cursor version only — older frozen dirs
    // go, the maintained answer is untouched, and the view still
    // advances incrementally afterwards
    val dropped = statsView.prune(spark, keep = 1)
    assert(dropped.nonEmpty, "two advances must leave something to prune")
    val left = new java.io.File(views).listFiles().map(_.getName)
      .filter(_.startsWith("v")).toSet
    assert(left.size == 1, s"prune(keep=1) must leave one frozen version: $left")
    assert(statsNow() == batchStats(), "prune must not change the answer")
    Files.writeString(java.nio.file.Paths.get(landing, "c3.json"),
      """{"doc_id":5,"grp":"a","v":7,"text":"one more arrival after pruning","_del":false}""")
    stream()
    allEqualBatch()
    // the retention horizon slides with the stream: still exactly 2
    assert(MergeTable.versions(spark, table) == Seq(3, 4),
      s"horizon must slide to v3,v4: ${MergeTable.versions(spark, table)}")

    // right-to-be-forgotten as ONE ACTION: a single Maintained.forget
    // call deletes the key from the corpus, advances all twelve
    // artifacts, and returns the all-zero audit — erasure as an
    // operation, not a hand-rolled per-artifact loop
    val audit2 = Maintained.forget(spark, table, "doc_id", Seq(5L),
        maintain, Seq(
          ("postings", () => MergeTable.read(spark, postings), "doc_id"),
          ("fingerprints", () => MergeTable.read(spark, fps), "doc_id"),
          ("rag", () => MergeTable.read(spark, s"$root/rag"), "doc_id"),
          ("bands", () => MergeTable.read(spark, s"$root/bands"), "doc_id"),
          ("trigrams", () => MergeTable.read(spark, s"$root/trigrams"), "doc_id")))
      .as[(String, Long)].collect()
    assert(audit2.length == 6 && audit2.forall(_._2 == 0L),
      s"forget() must leave zero residual everywhere: ${audit2.toSeq}")
    assert(!statsNow().keySet.contains("z") && statsNow() == batchStats(),
      "aggregates must reflect the erasure")
    allEqualBatch() // every artifact equals a batch rebuild post-forget
    // erasure is idempotent: forgetting an absent id is a no-op with a
    // clean audit, not an error
    val audit3 = Maintained.forget(spark, table, "doc_id", Seq(5L), maintain)
      .as[(String, Long)].collect()
    assert(audit3.toSeq == Seq(("corpus", 0L)))
    // and the stream keeps working off the same checkpoint afterwards
    Files.writeString(java.nio.file.Paths.get(landing, "c4.json"),
      """{"doc_id":6,"grp":"b","v":9,"text":"arrival after an out-of-band erasure","_del":false}""")
    stream()
    allEqualBatch()

    // merge-on-read erasure: the SAME one-call contract with the delete
    // committed as a ledger (zero data rewrite — asserted) — reads stop
    // returning the doc immediately, the dv-aware change feed advances
    // every artifact, the audit is all-zero, and the stream continues
    val filesBefore = MergeTable.fileIndex(spark, table)
    val audit4 = Maintained.forget(spark, table, "doc_id", Seq(6L),
        maintain, Seq(
          ("postings", () => MergeTable.read(spark, postings), "doc_id"),
          ("rag", () => MergeTable.read(spark, s"$root/rag"), "doc_id")),
        mergeOnRead = true)
      .as[(String, Long)].collect()
    assert(audit4.length == 3 && audit4.forall(_._2 == 0L),
      s"MoR forget must leave zero residual: ${audit4.toSeq}")
    assert(MergeTable.fileIndex(spark, table) == filesBefore,
      "MoR forget must not rewrite any data file")
    assert(MergeTable.pendingDeletes(spark, table).nonEmpty,
      "MoR forget must leave a pending ledger")
    assert(!statsNow().keySet.contains("z") && statsNow() == batchStats(),
      "aggregates must reflect the ledger erasure")
    allEqualBatch()
    Files.writeString(java.nio.file.Paths.get(landing, "c5.json"),
      """{"doc_id":7,"grp":"a","v":3,"text":"arrival after a ledger erasure","_del":false}""")
    stream()
    allEqualBatch()
  }

  test("aggregate-rule CDC gate: a key-breaking batch halts the stream before any artifact advances") {
    import org.apache.spark.sql.types._
    import graft.pipeline.MergeTable
    val root = Files.createTempDirectory("graft-cdc-agg")
    val (landing, ckpt) = (s"$root/landing", s"$root/ckpt")
    val (table, views) = (s"$root/table/t", s"$root/views")
    new java.io.File(landing).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("grp", StringType),
      StructField("v", LongType), StructField("_del", BooleanType)))
    MergeTable.create(spark, table,
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("doc_id", "grp", "v"),
      "doc_id", nBuckets = 4)
    val statsView = CorpusViews.StatsView(views, "grp", "v")
    def stream() = StreamingIngest.startMergeUpsertMaintained(
      spark, landing, table, "doc_id", schema, ckpt, Seq(statsView),
      deleteCol = Some("_del"),
      aggregateExpectations = Seq(graft.ops.Expectations.Unique(Seq("v"))))
      .awaitTermination(60000)

    // clean batch: v stays a key — gate passes, the artifact advances
    Files.writeString(java.nio.file.Paths.get(landing, "a1.json"),
      """{"doc_id":3,"grp":"a","v":30,"_del":false}""")
    stream()
    assert(statsView.version(spark).contains(2))

    // key-breaking batch: doc 4 reuses v=30 — each record is row-clean
    // (no quarantinable violation), but the POST-merge table breaks
    // unique:v; the loud gate must halt the stream BEFORE the
    // maintained view advances
    Files.writeString(java.nio.file.Paths.get(landing, "a2.json"),
      """{"doc_id":4,"grp":"b","v":30,"_del":false}""")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](stream())
    val chain = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain.contains("unique:v"), chain)
    assert(statsView.version(spark).contains(2),
      "no artifact may advance past a violated key constraint")
    // the offending version itself stays time-travelable for diagnosis
    assert(MergeTable.latestVersion(spark, table) == 3)

    // the FK arm of the same gate: a fresh loop whose grp values must
    // exist in a dimension — a record referencing an unknown group is
    // row-clean but breaks referential integrity post-merge
    val root2 = Files.createTempDirectory("graft-cdc-fk")
    val (landing2, ckpt2) = (s"$root2/landing", s"$root2/ckpt")
    val table2 = s"$root2/table/t"
    new java.io.File(landing2).mkdirs()
    val dim = Seq("a", "b").toDF("g")
    MergeTable.create(spark, table2,
      Seq((1L, "a", 10L)).toDF("doc_id", "grp", "v"), "doc_id", nBuckets = 2)
    def stream2() = StreamingIngest.startMergeUpsertMaintained(
      spark, landing2, table2, "doc_id", schema, ckpt2, Nil,
      deleteCol = Some("_del"), retainVersions = Some(2),
      aggregateExpectations = Seq(
        graft.ops.Expectations.ForeignKey(Seq("grp"), dim, Seq("g"))))
      .awaitTermination(60000)
    Files.writeString(java.nio.file.Paths.get(landing2, "f1.json"),
      """{"doc_id":2,"grp":"b","v":20,"_del":false}""")
    stream2() // known group: passes
    Files.writeString(java.nio.file.Paths.get(landing2, "f2.json"),
      """{"doc_id":3,"grp":"zz","v":30,"_del":false}""")
    val e2 = intercept[org.apache.spark.sql.streaming.StreamingQueryException](stream2())
    val chain2 = Iterator.iterate(e2: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(chain2.contains("fk:grp"), chain2)

    // crash-looping supervisor: every restart re-merges the violating
    // batch and commits another violating version — the gate must
    // vacuum to the retention bound BEFORE it throws, so retries hold
    // the version chain at the bound instead of growing it per attempt
    (1 to 2).foreach { _ =>
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](stream2())
    }
    assert(MergeTable.versions(spark, table2).size == 2,
      s"retries must not grow the chain: ${MergeTable.versions(spark, table2)}")
  }

  test("CDC upsert with maintained IVF: incremental advance, then a drifted wave retrains in-stream") {
    import org.apache.spark.sql.types._
    import graft.pipeline.MergeTable
    import graft.index.{IvfRefresh, VectorIndex}
    val root = Files.createTempDirectory("graft-cdc-ivf")
    val (landing, ckpt) = (s"$root/landing", s"$root/ckpt")
    val (table, ivfDir) = (s"$root/table/t", s"$root/ivf")
    new java.io.File(landing).mkdirs()
    val dim = 8
    def emb(group: Int, i: Long): Seq[Double] = {
      val b = Array.fill(dim)(0.05)
      b(group) = 1.0
      b(4 + (i % 4).toInt) += 0.01 * ((i % 7) + 1)
      b.toSeq
    }
    // a tight cluster straddling the frozen c0/c1 Voronoi boundary
    def drift(i: Long): Seq[Double] = {
      val b = Array.fill(dim)(0.05)
      b(0) = 0.75 + ((i % 5) - 2) * 0.01
      b(1) = 0.75
      b(4 + (i % 4).toInt) += 0.01 * ((i % 7) + 1)
      b.toSeq
    }
    MergeTable.create(spark,
      table, (1L to 160L).map(i => (i, emb((i % 4).toInt, i)))
        .toDF("vec_id", "embedding"), "vec_id", nBuckets = 8)

    val art = CorpusViews.IvfCellLists(ivfDir, nlist = 4)
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(DoubleType)),
      StructField("_del", BooleanType)))
    def stream() =
      StreamingIngest.startMergeUpsertMaintained(spark, landing, table,
        "vec_id", schema, ckpt, Seq(art), deleteCol = Some("_del"))
        .awaitTermination(60000)
    def line(id: Long, e: Seq[Double], del: Boolean): String =
      s"""{"vec_id":$id,"embedding":[${e.mkString(",")}],"_del":$del}"""
    def cells(): Map[Long, Int] =
      spark.read.parquet(s"$ivfDir/cells").select("vec_id", "cell")
        .as[(Long, Int)].collect().toMap
    def reassign(): Map[Long, Int] = {
      val centers = VectorIndex.loadIvf(spark, ivfDir).centers
      IvfRefresh.assignToCenters(
          MergeTable.read(spark, table).select("vec_id", "embedding"), centers)
        .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    }

    // batch 1: builds the index at v1 (first advance trains centers)
    Files.writeString(java.nio.file.Paths.get(landing, "v1.json"),
      line(161L, emb(2, 161L), del = false))
    stream()
    assert(art.version(spark).contains(2)) // create=v1, first batch merges to v2
    val centers0 = VectorIndex.loadIvf(spark, ivfDir).centers.map(_.toSeq).toSeq
    assert(cells() == reassign())

    // batch 2: proportional edits — incremental cell maintenance, NO retrain
    Files.writeString(java.nio.file.Paths.get(landing, "v2.json"),
      ((1L to 8L).map(i => line(i, emb(((i + 1) % 4).toInt, i), del = false)) :+
        line(20L, emb(0, 20L), del = true)).mkString("\n"))
    stream()
    assert(cells() == reassign(),
      "streamed maintenance must equal a full reassignment under the frozen centers")
    assert(VectorIndex.loadIvf(spark, ivfDir).centers.map(_.toSeq).toSeq == centers0,
      "a proportional wave must not trip the retrain")

    // batch 3: dense drifted wave — occupancy PSI trips, centers retrain
    // IN-STREAM, and the index equals a from-scratch rebuild at the new
    // corpus version under the NEW centers
    Files.writeString(java.nio.file.Paths.get(landing, "v3.json"),
      (2001L to 2320L).map(i => line(i, drift(i), del = false)).mkString("\n"))
    stream()
    val centersAfter = VectorIndex.loadIvf(spark, ivfDir).centers.map(_.toSeq).toSeq
    assert(centersAfter != centers0,
      "the drifted wave must have retrained the centers in-stream")
    assert(cells() == reassign(),
      "post-retrain cells must equal reassignment under the retrained centers")
  }

  test("in-stream auto-maintenance: ledger debt past the threshold purges mid-stream; views stay exact") {
    import org.apache.spark.sql.types._
    import graft.pipeline.{IncrementalStats, MergeTable}
    val root = Files.createTempDirectory("graft-cdc-automnt")
    val (landing, ckpt) = (s"$root/landing", s"$root/ckpt")
    val (table, views) = (s"$root/table/t", s"$root/views")
    new java.io.File(landing).mkdirs()
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("grp", StringType),
      StructField("v", LongType), StructField("_del", BooleanType)))
    MergeTable.create(spark, table,
      (0L until 60L).map(i => (i, if (i % 2 == 0) "a" else "b", i))
        .toDF("doc_id", "grp", "v"), "doc_id", nBuckets = 4)
    val statsView = CorpusViews.StatsView(views, "grp", "v")
    def stream() = StreamingIngest.startMergeUpsertMaintained(
      spark, landing, table, "doc_id", schema, ckpt, Seq(statsView),
      deleteCol = Some("_del"),
      autoMaintainEvery = 1, maxPendingDeleteKeys = 5)
      .awaitTermination(60000)
    def viewNow(): Map[String, (Long, Long)] =
      statsView.latest(spark).select("grp", "n", "total")
        .as[(String, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    def recompute(): Map[String, (Long, Long)] =
      IncrementalStats.compute(MergeTable.read(spark, table), "grp", "v")
        .select("grp", "n", "total").as[(String, Long, Long)]
        .collect().map(r => r._1 -> ((r._2, r._3))).toMap

    // batch 0: plain upsert — no ledger debt, maintenance is a no-op
    Files.writeString(java.nio.file.Paths.get(landing, "b1.json"),
      """{"doc_id":100,"grp":"a","v":100,"_del":false}""")
    stream()
    assert(viewNow() == recompute())
    val versionsAfterB1 = MergeTable.versions(spark, table).size

    // out-of-band merge-on-read deletes push the ledger well past the
    // threshold (20 keys > 5, spread over every bucket, so it stays
    // crossed even after the next merge materializes its own bucket) —
    // a batch operator never runs maintain()
    MergeTable.deleteKeys(spark, table,
      spark.range(20).select((col("id") * 2L).as("doc_id")), "doc_id")
    assert(MergeTable.pendingDeletes(spark, table).nonEmpty)

    // next micro-batch: merge, artifacts advance, and the ADVISOR'S
    // in-stream purge clears the debt — no operator intervention
    Files.writeString(java.nio.file.Paths.get(landing, "b2.json"),
      """{"doc_id":101,"grp":"b","v":101,"_del":false}""")
    stream()
    assert(MergeTable.pendingDeletes(spark, table).isEmpty,
      "the in-stream purge must clear the pending ledger")
    val ops = MergeTable.history(spark, table)
      .select("op").as[String].collect().toSeq
    assert(ops.count(_ == "compact_buckets") >= 1,
      s"the purge must appear in the table history: $ops")
    assert(MergeTable.versions(spark, table).size > versionsAfterB1 + 1,
      "the purge must be its own committed version after the merge")

    // the maintained family is exact across the in-stream maintenance
    assert(viewNow() == recompute(),
      "maintained stats must equal a batch rebuild across the purge")
    val ids = MergeTable.read(spark, table).select("doc_id")
      .as[Long].collect().toSet
    val want = ((0L until 60L).toSet -- (0L until 40L by 2)) ++ Set(100L, 101L)
    assert(ids == want, "purged deletes must stay deleted, upserts present")
  }
}
