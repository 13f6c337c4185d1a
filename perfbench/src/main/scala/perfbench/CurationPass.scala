package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.index.VectorIndex
import graft.ingest.DocxReader
import graft.pipeline.{Curate, Extract}

/** One pass of the reference's ingest path behind the curation chain:
  * `DocxReader.read` → `Extract.sections` → `Curate.run` (sanitize,
  * quality, language, exact and near dedup, 700/200 chunks, embeddings)
  * → `VectorIndex.write`. It runs once in a traced run, for the
  * per-layer figures of `ingest` and `pipeline.curate`, and its output
  * is checked against its `Curate.Report`. */
object CurationPass {
  /** The stages of `Curate.run` under the default `Curate.Config`, in
    * call order. Each ends in the `count()` of its output; the disabled
    * stages issue no count. The input count before them falls into the
    * first stage (over a persisted, counted input it runs no job). */
  private val CurateStages = Seq("quality", "lang", "exact", "near_dup", "chunk_embed")
  private val CountSite = """count at Curate\.scala:(\d+)""".r.unanchored

  /** Sections of every manual under `docxDir` as `(doc_id, text)`, with
    * a numeric id per (file, section) as the curation chain expects. */
  def sections(r: Run, docxDir: String): DataFrame =
    Extract.sections(DocxReader.read(r.spark, docxDir))
      .select(xxhash64(col("doc_id"), col("sec_id")).as("doc_id"), col("text"))

  def run(r: Run, docxDir: String, out: String): Unit = {
    val (secs, ingestS) = r.time {
      val s = sections(r, docxDir).persist()
      s.count()
      s
    }
    r.metric("ingest.busy_s", ingestS)
    r.metric("ingest.mb_per_s", Inputs.bytesUnder(docxDir) / 1048576.0 / ingestS)
    val w0 = System.currentTimeMillis()
    val ((index, report), curateS) = r.time(Curate.run(secs))
    val w1 = System.currentTimeMillis()
    r.metric("pipeline.curate.total_s", curateS)
    val (_, writeS) = r.time(VectorIndex.write(index, out))
    r.metric("pipeline.index_write_s", writeS)
    index.unpersist()
    secs.unpersist()
    stageSeconds(r, w0, w1).foreach { case (k, v) => r.metric(s"pipeline.curate.${k}_s", v) }
    r.metric("pipeline.curate.keep_ratio", report.afterKAnon.toDouble / report.input)
    val counts = Seq(report.input, report.afterPassage, report.afterQuality,
      report.afterRepetition, report.afterEntropy, report.afterLm, report.afterLang,
      report.afterExact, report.afterNearDup, report.afterClassifier, report.afterDsir,
      report.afterKAnon)
    r.check("curation.report_monotone",
      counts.zip(counts.tail).forall { case (a, b) => b <= a } && report.afterKAnon > 0,
      report.toString)
    checkIndex(r, out, report.chunks)
  }

  /** Seconds of each Curate stage. A count may run as several jobs
    * (adaptive execution adds map-stage jobs), so each count call site is
    * one boundary, at the end of its last job; a stage runs from the
    * previous boundary to its own. Nothing is reported when the count
    * sites do not match [[CurateStages]], and `run.py` then reports the
    * stage metrics as missing. */
  private def stageSeconds(r: Run, from: Long, to: Long): Seq[(String, Double)] = {
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(r.spark)
    val ends = r.listener.map(_.snapshot.jobs).getOrElse(Vector.empty)
      .filter { case (s, e, _) => s >= from && e <= to && e > 0 }
      .flatMap { case (_, e, site) => CountSite.findFirstMatchIn(site).map(m => m.group(1) -> e) }
      .groupMapReduce(_._1)(_._2)(math.max).values.toSeq.sorted
    if (ends.size != CurateStages.size && ends.size != CurateStages.size + 1) {
      r.log(s"curation: ${ends.size} count sites, expected ${CurateStages.size}")
      Nil
    } else {
      // an input count, when it ran a job, is not a boundary
      val bounds = from +: ends.takeRight(CurateStages.size)
      CurateStages.zip(bounds.zip(bounds.tail).map { case (a, b) => (b - a) / 1e3 })
    }
  }

  /** The written index against the report: one row per reported chunk,
    * chunks of at most 700 characters overlapping by at most 200, and
    * unit-norm embeddings. */
  private def checkIndex(r: Run, out: String, chunks: Long): Unit = {
    val idx = r.spark.read.parquet(out)
    val rows = idx.count()
    r.check("curation.index_rows_equal_report_chunks", rows == chunks,
      s"$rows rows on disk, reports say $chunks")
    val stats = idx.agg(
      max(length(col("chunk_text"))),
      max(abs(sqrt(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x.cast("double") * x.cast("double"))) - lit(1.0)))).head()
    r.check("curation.chunk_size_le_700", stats.getInt(0) <= 700, s"max chunk ${stats.getInt(0)}")
    r.check("curation.embeddings_unit_norm", stats.getDouble(1) < 1e-3,
      s"max |norm - 1| = ${stats.getDouble(1)}")
    val byDoc = idx.select("doc_id", "chunk_idx", "chunk_text").collect()
      .groupBy(_.getString(0)).values
      .map(_.sortBy(_.getInt(1)).map(_.getString(2)))
    val worst = byDoc.flatMap(cs => cs.zip(cs.drop(1)).map { case (a, b) => overlap(a, b) })
      .maxOption.getOrElse(0)
    r.check("curation.chunk_overlap_le_200", worst <= 200, s"max overlap $worst")
  }

  /** Longest suffix of `a` that is also a prefix of `b`. */
  private def overlap(a: String, b: String): Int =
    (math.min(a.length, b.length) to 1 by -1).find(k => a.endsWith(b.substring(0, k))).getOrElse(0)
}
