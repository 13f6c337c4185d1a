package perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.pipeline.{FileBlooms, MergeTable}
import graft.streaming.{CorpusViews, Maintained, StreamingIngest}

/** Reads of a corpus table with standing views.
  *
  * Setup: a 16-bucket `MergeTable` corpus with two standing views, the
  * per-language stats cells (`StatsView`) and the per-file Bloom sidecar
  * (`BloomIndex`).
  *
  * Each operation is one read, in a fixed rotation: a
  * `FileBlooms.readWhereEq` point lookup by text, a key lookup, an
  * `ORDER BY … LIMIT 5` and a metadata aggregate over `format("graft")`
  * (the engine's top-k and zone-answer rules), and the maintained
  * stats. Each result is checked against a snapshot of the table.
  *
  * A traced run then lands one change batch (40% rewrites, 20% deletes,
  * 40% inserts) as JSON and applies it with
  * `StreamingIngest.startMergeUpsertMaintained`, which merges, advances
  * both views and vacuums old versions, for the per-layer figures of the
  * write path; after it the stats must equal a from-scratch build and
  * the live row count must match the delta arithmetic. Last, it runs one
  * relational query per family ([[SqlFamilies]]).
  *
  * The five reads have equal shares, and `op_cpu_ms` is the geometric
  * mean of their per-kind costs: no caller in the repository issues a
  * read mix to take shares from, so each read path weighs the same. */
object TableRead extends Workload {
  val ViewNames = Seq("StatsView", "BloomIndex")
  private val Kinds = Seq("bloom_lookup", "key_lookup", "top5", "meta_agg", "stats")
  private val SetupBuilds = 3

  def run(r: Run): Unit = {
    val spark = r.spark
    val in = r.args.inputs
    val work = r.args.work
    val meta = Inputs.props(s"$in/deltas.properties")
    val liveAfter = meta("live_after").split(",").map(_.toLong)
    val probes = Inputs.lines(s"$in/probes.txt")
    val deltaFiles = Inputs.lines(s"$in/deltas.txt")
    val landing = s"$work/landing"
    Files.createDirectories(Paths.get(landing))
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING, lang STRING, n_chars LONG, _del BOOLEAN")
    val advances = new AdvanceLog

    // each build is a fresh table with its views in a directory of its own
    val (base, stats, maintained) = r.setup(SetupBuilds) { b =>
      val base = s"$work/build$b"
      val stats = CorpusViews.StatsView(s"$base/views/stats", "lang", "n_chars")
      val maintained: Seq[Maintained] = Seq(stats, CorpusViews.BloomIndex(s"$base/corpus", "text"))
      MergeTable.create(spark, s"$base/corpus",
        spark.read.parquet(s"$in/documents.parquet"), "doc_id", nBuckets = 16)
      maintained.foreach(_.advance(spark, s"$base/corpus", 1))
      (base, stats, maintained)
    } { _ => () }
    val corpus = s"$base/corpus"

    /** Land change batch `b` and apply it; returns its wall seconds. */
    def applyBatch(b: Int): Double = r.time {
      Files.copy(Paths.get(in, "deltas", deltaFiles(b)), Paths.get(landing, deltaFiles(b)))
      StreamingIngest.startMergeUpsertMaintained(spark, landing, corpus, "doc_id", schema,
        s"$work/checkpoint", maintained, deleteCol = Some("_del"),
        retainVersions = Some(2), autoMaintainEvery = 2)
        .awaitTermination(170000)
    }._2

    val table = () => spark.read.format("graft").load(corpus)
    val snapshot: Array[Row] = MergeTable.read(spark, corpus)
      .select("doc_id", "text", "lang", "n_chars").collect()
    r.check("table.row_count", snapshot.length == meta("docs").toLong,
      s"${snapshot.length} rows, ${meta("docs")} written")
    val byId = snapshot.map(row => row.getLong(0) -> row).toMap
    val ids = snapshot.map(_.getLong(0)).sorted
    val textOf = snapshot.map(_.getString(1))
    val top5 = snapshot.sortBy(row => (-row.getLong(3), row.getLong(0))).take(5).map(_.getLong(0)).toSeq
    val lookups = mutable.ArrayBuffer.empty[(Int, Int)]

    r.loop(r.args.seconds, warmupCycles = 12, Kinds) { (i, kind) =>
      kind match {
        case "bloom_lookup" =>
          val probe = textOf((i * 7919) % textOf.length)
          val got = r.spans.span("pipeline")(
            FileBlooms.readWhereEq(spark, corpus, "text", Seq(probe)).collect())
          () => {
            val (kept, total) = FileBlooms.prunedFilesEq(spark, corpus, "text", Seq(probe))
            lookups += ((kept.size, total))
            val want = textOf.count(_ == probe)
            r.check("table.bloom_lookup",
              got.length == want && got.forall(_.getAs[String]("text") == probe),
              s"${got.length} rows, the table has $want")
          }
        case "key_lookup" =>
          val id = ids((i * 104729) % ids.length)
          val got = r.spans.span("pipeline")(
            table().filter(col("doc_id") === id).select("doc_id", "text").collect())
          () => r.check("table.key_lookup",
            got.length == 1 && got.head.getString(1) == byId(id).getString(1), s"doc $id: ${got.length} rows")
        case "top5" =>
          val got = r.spans.span("plans")(table().orderBy(col("n_chars").desc, col("doc_id"))
            .limit(5).select("doc_id").collect().map(_.getLong(0)).toSeq)
          () => r.check("table.top5", got == top5, s"got $got want $top5")
        case "meta_agg" =>
          val got = r.spans.span("plans")(table()
            .agg(count(lit(1)), min("doc_id"), max("doc_id")).collect().head)
          () => r.check("table.meta_agg",
            got.getLong(0) == ids.length && got.getLong(1) == ids.head && got.getLong(2) == ids.last,
            s"got $got")
        case _ =>
          val got = r.spans.span("streaming")(stats.latest(spark).collect())
          () => r.check("table.stats_rows", got.length == snapshot.map(_.getString(2)).distinct.length,
            s"${got.length} stats rows")
      }
    }
    r.metric("pipeline.lookup_files_read_ratio",
      lookups.map(_._1).sum.toDouble / math.max(1, lookups.map(_._2).sum))
    val liveBytes = snapshot.map(row => row.getString(1).length + row.getString(2).length + 16L).sum
    val stored = Inputs.bytesUnder(corpus) + Inputs.bytesUnder(s"$base/views")
    r.metric("pipeline.stored_bytes_per_live_byte", stored.toDouble / liveBytes)

    if (r.args.trace) {
      r.layerMetrics(Seq("pipeline", "plans", "streaming"))
      // one change batch, traced, for the write path's layers
      val listener = r.listener.get
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      val before = listener.snapshot
      advances.install()
      val s = try applyBatch(0) finally advances.uninstall()
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      val d = listener.snapshot.minus(before)
      val perView = advances.lastBatch
      ViewNames.foreach(n => r.metric(s"streaming.view.$n.advance_s", perView.getOrElse(n, 0.0)))
      r.metric("cdc.batch_s", s)
      r.metric("cdc.delta_rows_per_s", meta("batch_rows").toLong / s)
      r.metric("pipeline.commit_s", s - perView.values.sum)
      r.metric("cdc.batch_jobs", d.jobs.size.toDouble)
      r.metric("pipeline.write_amp",
        d.writtenBytes.toDouble / Files.size(Paths.get(in, "deltas", deltaFiles(0))))
      val live = MergeTable.read(spark, corpus).count()
      r.check("cdc.row_count", live == liveAfter(0), s"$live live rows, deltas say ${liveAfter(0)}")
      checkStats(r, stats, corpus)
      val hits = probes.map(p => FileBlooms.readWhereEq(spark, corpus, "text", Seq(p)).count())
      r.check("cdc.inserted_rows_found", hits.forall(_ == 1), s"lookups found ${hits.mkString(",")}")
      SqlFamilies.run(r, s"$in/sql", Inputs.lines(s"$in/sql_order.txt"), s"$work/sql")
    }
  }

  /** The maintained stats equal a from-scratch build over the corpus's
    * current version. */
  private def checkStats(r: Run, stats: CorpusViews.StatsView, corpus: String): Unit = {
    val v = MergeTable.latestVersion(r.spark, corpus)
    val fresh = CorpusViews.StatsView(s"${r.args.work}/fresh/stats", "lang", "n_chars")
    fresh.advance(r.spark, corpus, v)
    val kept = stats.latest(r.spark)
    val rebuilt = fresh.latest(r.spark)
    val extra = kept.exceptAll(rebuilt).count()
    val missing = rebuilt.exceptAll(kept).count()
    r.check("cdc.stats_equal_rebuild", extra == 0 && missing == 0,
      s"$extra rows only in the maintained view, $missing only in the rebuild")
  }

  /** Collects the per-view advance times `Maintained.advance` prints on
    * stderr (`[maintain] <View> <from>-><to> <s>s`), passing every line
    * through unchanged. */
  private final class AdvanceLog {
    private val secs = mutable.LinkedHashMap.empty[String, Double]
    private val original = System.err
    private val Line = """\[maintain\]\s+(\S+)\s+\S+\s+([0-9.]+)s""".r.unanchored

    private val tee = new PrintStream(new OutputStream {
      private val buf = new java.io.ByteArrayOutputStream
      override def write(b: Int): Unit = {
        original.write(b)
        if (b == '\n') {
          buf.toString("UTF-8") match {
            case Line(view, s) => secs.synchronized(secs(view) = s.toDouble)
            case _ =>
          }
          buf.reset()
        } else buf.write(b)
      }
      override def flush(): Unit = original.flush()
    }, true, "UTF-8")

    def install(): Unit = System.setErr(tee)
    def uninstall(): Unit = System.setErr(original)
    /** Latest advance seconds of each view. */
    def lastBatch: Map[String, Double] = secs.synchronized(secs.toMap)
  }
}
