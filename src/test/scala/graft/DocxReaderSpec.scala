package graft

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.embed.{Embedder, HashingEmbedder}
import graft.index.VectorIndex
import graft.ingest.DocxReader
import graft.ops.{ChunkText, Functions}
import graft.pipeline.Extract

/** S1 + the §3.2 extractor path on a synthetic in-memory DOCX package. */
class DocxReaderSpec extends SparkSpec {
  import spark.implicits._

  private def docx(entries: (String, String)*): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new ZipOutputStream(bos)
    entries.foreach { case (name, content) =>
      z.putNextEntry(new ZipEntry(name))
      z.write(content.getBytes("UTF-8"))
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  private val stylesXml =
    """<?xml version="1.0"?>
      |<w:styles xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
      |  <w:style w:styleId="H1"><w:name w:val="Heading 1"/></w:style>
      |  <w:style w:styleId="Cap"><w:name w:val="Caption"/></w:style>
      |  <w:style w:styleId="Norm"><w:name w:val="Normal"/></w:style>
      |</w:styles>""".stripMargin

  private def p(style: String, text: String, blip: String = null): String = {
    val pr = if (style != null) s"""<w:pPr><w:pStyle w:val="$style"/></w:pPr>""" else ""
    val drawing = if (blip != null)
      s"""<w:drawing><a:blip xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"
         | xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"
         | r:embed="$blip"/></w:drawing>""".stripMargin
    else ""
    s"""<w:p>$pr<w:r><w:t>$text</w:t>$drawing</w:r></w:p>"""
  }

  private val documentXml =
    s"""<?xml version="1.0"?>
       |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
       |<w:body>
       |${p("Norm", "preamble text before any heading")}
       |${p("H1", "Installation")}
       |${p("Norm", "step one")}
       |${p("Norm", "step two")}
       |${p("Cap", "Figure 1 - architecture")}
       |${p("Norm", "", "rId7")}
       |${p("H1", "Configuration")}
       |${p("Cap", "Table 1 - parameters")}
       |<w:tbl>
       |  <w:tr><w:tc><w:p><w:r><w:t>name</w:t></w:r></w:p></w:tc>
       |        <w:tc><w:p><w:r><w:t>va  lue</w:t></w:r></w:p></w:tc></w:tr>
       |  <w:tr><w:tc><w:p><w:r><w:t>port</w:t></w:r></w:p></w:tc>
       |        <w:tc><w:p><w:r><w:t>8080</w:t></w:r></w:p></w:tc></w:tr>
       |</w:tbl>
       |${p("Norm", "closing remarks")}
       |</w:body>
       |</w:document>""".stripMargin

  private val relsXml =
    """<?xml version="1.0"?>
      |<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
      |  <Relationship Id="rId7" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/image" Target="media/image1.png"/>
      |</Relationships>""".stripMargin

  private val pkg = docx(
    "word/document.xml" -> documentXml,
    "word/styles.xml" -> stylesXml,
    "word/_rels/document.xml.rels" -> relsXml,
    "word/media/image1.png" -> "PNGBYTES")

  test("parseBytes: blocks in document order, styles resolved, tables cellized") {
    val blocks = DocxReader.parseBytes("manual.docx", pkg)
    assert(blocks.map(_.kind) ==
      Seq("para", "para", "para", "para", "para", "para", "para", "para", "table", "para"))
    assert(blocks(1).style == "Heading 1" && blocks(1).text == "Installation")
    assert(blocks(4).style == "Caption")
    assert(blocks(5).image_rel_ids == Seq("rId7"))
    assert(blocks(8).table_cells == Seq(Seq("name", "va  lue"), Seq("port", "8080")))
    assert(blocks.map(_.seq) == (0L until 10L))
  }

  test("media extraction resolves relationship targets to bytes") {
    val media = DocxReader.mediaBytes("manual.docx", pkg)
    assert(media.map(m => (m.rel_id, m.target)) == Seq(("rId7", "media/image1.png")))
    assert(new String(media.head.bytes) == "PNGBYTES")
  }

  test("end-to-end extractor: sections, assets, table rows") {
    val blocks = DocxReader.parseBytes("manual.docx", pkg).toDS().toDF().cache()

    val secs = Extract.sections(blocks)
      .select("title", "text").as[(String, String)].collect().toMap
    assert(secs == Map(
      "Installation" -> "step one step two Figure 1 - architecture",
      "Configuration" -> "Table 1 - parameters closing remarks"))

    val assets = Extract.assets(blocks)
      .select("caption", "kind", "filename").as[(String, String, String)]
      .collect().toSet
    assert(assets == Set(
      ("Figure 1 - architecture", "figure", "Figure_1_-_architecture.png"),
      ("Table 1 - parameters", "table", "Table_1_-_parameters.csv")))

    val cells = Extract.tableRows(blocks)
      .select("row_idx", "col_idx", "cell").as[(Int, Int, String)].collect().toSet
    assert(cells == Set((0, 0, "name"), (0, 1, "va lue"), (1, 0, "port"), (1, 1, "8080")))
  }

  test("assetsWithMedia resolves figure extension from the media target") {
    val gifPkg = docx(
      "word/document.xml" -> documentXml,
      "word/styles.xml" -> stylesXml,
      "word/_rels/document.xml.rels" ->
        relsXml.replace("media/image1.png", "media/image1.gif"),
      "word/media/image1.gif" -> "GIFBYTES")
    val blocks = DocxReader.parseBytes("m.docx", gifPkg).toDS().toDF()
    val media = DocxReader.mediaBytes("m.docx", gifPkg).toDS().toDF()
    val got = graft.pipeline.Extract.assetsWithMedia(blocks, media)
      .select("kind", "filename").as[(String, String)].collect().toSet
    assert(got == Set(
      ("figure", "Figure_1_-_architecture.gif"),
      ("table", "Table_1_-_parameters.csv")))
  }

  test("gridSpan-merged cells repeat across their span (python-docx parity)") {
    val doc =
      s"""<?xml version="1.0"?>
         |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
         |<w:body>
         |<w:tbl>
         |  <w:tr><w:tc><w:tcPr><w:gridSpan w:val="2"/></w:tcPr>
         |          <w:p><w:r><w:t>wide</w:t></w:r></w:p></w:tc>
         |        <w:tc><w:p><w:r><w:t>x</w:t></w:r></w:p></w:tc></w:tr>
         |</w:tbl>
         |</w:body></w:document>""".stripMargin
    val blocks = DocxReader.parseBytes("g.docx", docx("word/document.xml" -> doc))
    assert(blocks.head.table_cells == Seq(Seq("wide", "wide", "x")))
  }

  test("vMerge continuation cells repeat the merge-origin content (python-docx parity)") {
    val doc =
      s"""<?xml version="1.0"?>
         |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
         |<w:body>
         |<w:tbl>
         |  <w:tr><w:tc><w:tcPr><w:vMerge w:val="restart"/></w:tcPr>
         |          <w:p><w:r><w:t>merged</w:t></w:r></w:p></w:tc>
         |        <w:tc><w:p><w:r><w:t>a1</w:t></w:r></w:p></w:tc></w:tr>
         |  <w:tr><w:tc><w:tcPr><w:vMerge/></w:tcPr><w:p/></w:tc>
         |        <w:tc><w:p><w:r><w:t>a2</w:t></w:r></w:p></w:tc></w:tr>
         |  <w:tr><w:tc><w:tcPr><w:vMerge w:val="continue"/></w:tcPr><w:p/></w:tc>
         |        <w:tc><w:p><w:r><w:t>a3</w:t></w:r></w:p></w:tc></w:tr>
         |  <w:tr><w:tc><w:p><w:r><w:t>fresh</w:t></w:r></w:p></w:tc>
         |        <w:tc><w:p><w:r><w:t>a4</w:t></w:r></w:p></w:tc></w:tr>
         |</w:tbl>
         |</w:body></w:document>""".stripMargin
    val blocks = DocxReader.parseBytes("v.docx", docx("word/document.xml" -> doc))
    assert(blocks.head.table_cells == Seq(
      Seq("merged", "a1"), Seq("merged", "a2"), Seq("merged", "a3"), Seq("fresh", "a4")))
  }

  test("vMerge interacts with gridSpan: a spanned origin repeats into both columns") {
    val doc =
      s"""<?xml version="1.0"?>
         |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main">
         |<w:body>
         |<w:tbl>
         |  <w:tr><w:tc><w:tcPr><w:gridSpan w:val="2"/><w:vMerge w:val="restart"/></w:tcPr>
         |          <w:p><w:r><w:t>wide</w:t></w:r></w:p></w:tc>
         |        <w:tc><w:p><w:r><w:t>b1</w:t></w:r></w:p></w:tc></w:tr>
         |  <w:tr><w:tc><w:tcPr><w:gridSpan w:val="2"/><w:vMerge/></w:tcPr><w:p/></w:tc>
         |        <w:tc><w:p><w:r><w:t>b2</w:t></w:r></w:p></w:tc></w:tr>
         |</w:tbl>
         |</w:body></w:document>""".stripMargin
    val blocks = DocxReader.parseBytes("vg.docx", docx("word/document.xml" -> doc))
    assert(blocks.head.table_cells == Seq(
      Seq("wide", "wide", "b1"), Seq("wide", "wide", "b2")))
  }

  test("lenient parse: corrupt packages yield zero blocks, not task failure") {
    val corrupt = Array[Byte](0x50, 0x4b, 3, 4, 99, 99, 99) // truncated zip
    assert(DocxReader.parseBytesLenient("bad.docx", corrupt).isEmpty)
    assert(DocxReader.mediaBytesLenient("bad.docx", corrupt).isEmpty)
    val badXml = docx("word/document.xml" -> "<w:document not closed")
    assert(DocxReader.parseBytesLenient("badxml.docx", badXml).isEmpty)
    // and the distributed read path survives a corrupt file in the corpus
    val dir = java.nio.file.Files.createTempDirectory("graft-corrupt")
    java.nio.file.Files.write(dir.resolve("good.docx"), pkg)
    java.nio.file.Files.write(dir.resolve("bad.docx"), corrupt)
    val blocks = DocxReader.read(spark, dir.toString)
    assert(blocks.select("doc_id").distinct().as[String].collect().toSeq
      == Seq("good.docx"))
    assert(blocks.count() == 10)
  }

  test("ingest produces denormalized, unit-normalized index rows") {
    val blocks = DocxReader.parseBytes("manual.docx", pkg).toDS().toDF()
    val idx = Extract.ingest(blocks, version = "15.0",
      embedder = graft.embed.HashingEmbedder(64))
    val rows = idx.collect()
    assert(rows.nonEmpty)
    assert(idx.columns.toSeq == Seq(
      "id", "embedding", "text", "paragraph_name", "document_name", "document_version"))
    val names = idx.select("paragraph_name").distinct().as[String].collect().toSet
    assert(names == Set("Installation", "Configuration"))
    assert(idx.select("document_version").distinct().as[String].head() == "15.0")
  }

  /** The ingest as the composed DOCX → sections → chunks → embed plan,
    * built from the same public steps `Extract.ingest` runs. */
  private def composedIngest(blocks: DataFrame, version: String, embedder: HashingEmbedder) = {
    val chunked = ChunkText.explodeChunks(Extract.sections(blocks), "text")
      .select(col("doc_id"), col("sec_id"), col("title"), col("chunk_idx"),
        Functions.embedKey(col("title"), col("chunk_text")).as("embed_text"),
        col("chunk_text"))
    VectorIndex.withNormalized(Embedder.embedColumn(chunked, "embed_text", embedder))
      .select(
        Functions.contentId(col("doc_id"), col("sec_id"), col("chunk_idx")).as("id"),
        col("embedding"), col("chunk_text").as("text"), col("title").as("paragraph_name"),
        col("doc_id").as("document_name"), lit(version).as("document_version"))
  }

  test("ingest is one plan leaf with the composed plan's rows and schema") {
    val blocks = DocxReader.parseBytes("manual.docx", pkg).toDS().toDF()
    val idx = Extract.ingest(blocks, version = "15.0", embedder = HashingEmbedder(64))
    val analyzed = idx.queryExecution.analyzed
    assert(analyzed.children.isEmpty, analyzed.treeString)
    val composed = composedIngest(blocks, "15.0", HashingEmbedder(64))
    assert(idx.schema == composed.schema)
    assert(idx.collect().toSeq == composed.collect().toSeq)
  }

  test("a search over the persisted ingest explains at a size that ignores the ingest plan") {
    // the same manual under 1 and 12 names, the latter as a 12-way union
    val one = DocxReader.parseBytes("manual.docx", pkg).toDS().toDF()
    val twelve = (1 to 12).map(i => DocxReader.parseBytes(s"manual$i.docx", pkg).toDS().toDF())
      .reduce(_ union _)
    val q = HashingEmbedder(64).embed("configure the server").map(_.toDouble)
    val sizes = Seq(one, twelve).map { blocks =>
      val idx = Extract.ingest(blocks, embedder = HashingEmbedder(64)).persist()
      try {
        val search = VectorIndex.search(idx, q, k = 5, threshold = 0.0)
        assert(search.collect().nonEmpty)
        search.queryExecution.explainString(FormattedMode).length
      } finally idx.unpersist(blocking = true)
    }
    assert(sizes.forall(_ < 4000), s"formatted explain sizes $sizes")
    assert(math.abs(sizes(0) - sizes(1)) < 40, s"formatted explain sizes $sizes")
  }

  test("after unpersist, a second action on the ingest recomputes it") {
    val blocks = DocxReader.parseBytes("manual.docx", pkg).toDS().toDF()
    val idx = Extract.ingest(blocks, embedder = HashingEmbedder(64)).persist()
    val first = idx.collect().toSeq
    idx.unpersist(blocking = true)
    assert(idx.collect().toSeq == first)
    assert(idx.count() == first.size)
  }
}
