package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

import graft.pipeline.{BandsRefresh, FingerprintsRefresh, IncrementalStats, KeyedIndex, OverlapStats, PostingsRefresh, TrigramRefresh}

/** Standing derived artifacts a streaming corpus keeps fresh — the
  * maintenance side of [[StreamingIngest.startMergeUpsertMaintained]].
  * Each instance owns one artifact (a stats cell view, a keyed index, a
  * model), remembers the corpus version it reflects, and advances
  * incrementally when the stream commits a new one. Every view routes
  * through its batch IVM family — [[KeyedIndex]] for the keyed indexes
  * (postings, fingerprints, trigrams, bands), the bucketed-cell views
  * ([[IncrementalStats]], [[graft.pipeline.BucketedView]], …) for the
  * frozen cell artifacts — so streamed maintenance and batch
  * maintenance are the same audited code path; the streaming layer
  * only supplies the version cursor.
  *
  * Crash contract shared by all: the version cursor is persisted AFTER
  * the artifact write, so a crash in between leaves the cursor behind
  * and the next advance spans both corpus transitions (bucket pruning
  * composes across version ranges); a batch retried after its merge
  * committed re-merges content-identically and `advance` no-ops on an
  * already-reflected version.
  */
sealed trait Maintained {

  /** Corpus version the artifact currently reflects, if built. */
  def version(spark: SparkSession): Option[Int]

  /** Bring the artifact from [[version]] to corpus version `to`
    * (build from scratch on first call, no-op if already there).
    * Per-advance wall time lands on stderr (`[maintain] ...`), so any
    * batch's whole-loop cost decomposes to its per-artifact lines —
    * the observability behind the SCALE.md maintained-batch budget. */
  final def advance(spark: SparkSession, corpusDir: String, to: Int): Unit =
    version(spark) match {
      case Some(p) if p >= to => ()
      case from =>
        val t0 = System.nanoTime()
        doAdvance(spark, corpusDir, from, to)
        System.err.println(f"[maintain] ${getClass.getSimpleName}%-18s " +
          f"${from.map(_.toString).getOrElse("build")}->$to " +
          f"${(System.nanoTime() - t0) / 1e9}%.2fs")
    }

  protected def doAdvance(
      spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit
}

object Maintained {

  /** Right-to-be-forgotten as ONE ACTION — the GDPR/CCPA erasure
    * obligation over a corpus AND its standing derived artifacts
    * (indexes, postings, chunk stores, fingerprints): one call issues
    * the [[graft.pipeline.MergeTable]] delete, advances every
    * registered [[Maintained]] artifact to the post-delete version
    * (each ∝ delta, the family's maintenance contract), and returns
    * the [[graft.ops.Privacy.forgottenAudit]] proving the ids are gone
    * everywhere — the compliant result is all-zero `residual`s.
    *
    * `audited` supplies the id-bearing artifact frames as THUNKS so
    * they are constructed AFTER the advances (an index read before its
    * refresh would audit the stale version); the corpus itself is
    * audited automatically as the first row. Aggregate-only artifacts
    * (stats cells, sketches, classifier models) hold no per-id rows
    * and have nothing to audit — they still advance, so their
    * aggregates stop counting the erased rows.
    *
    * Ids already absent from the corpus are fine (erasure is
    * idempotent); a forget of only-absent ids skips the merge but
    * still advances laggard artifacts and audits.
    *
    * `mergeOnRead = true` commits the corpus delete as a
    * [[graft.pipeline.MergeTable.deleteKeys]] ledger instead of a CoW
    * merge — the erasure COMMIT then costs O(ids) with zero data
    * rewrite (at 100 TB: kilobytes, not a bucket rewrite), reads stop
    * returning the rows immediately, the dv-aware change feed hands
    * every maintained artifact the same delete pre-images, and the
    * physical purge defers to routine maintenance
    * ([[graft.pipeline.MergeTable.advise]] tracks the ledger debt).
    * NOTE the erased bytes stay on disk until that purge plus a
    * [[graft.pipeline.MergeTable.vacuum]] pass clears the horizon —
    * pick the mode by which clock the obligation runs on. */
  def forget(
      spark: SparkSession, corpusDir: String, keyCol: String, ids: Seq[Any],
      artifacts: Seq[Maintained],
      audited: Seq[(String, () => DataFrame, String)] = Nil,
      mergeOnRead: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.{Row => SqlRow}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import graft.pipeline.MergeTable
    require(ids.nonEmpty, "no ids to forget")
    require(ids.length <= 10000,
      s"${ids.length} ids — erasure batches are human-scale; loop larger ones")
    val v = if (mergeOnRead) {
      // no table read at all: the ids go down as a delete ledger
      // (deleteKeys casts them to the table's key type)
      val keys = spark.createDataFrame(
        spark.sparkContext.parallelize(ids.map(i => SqlRow(i.toString)), 1),
        StructType(Seq(StructField(keyCol, StringType))))
      MergeTable.deleteKeys(spark, corpusDir, keys, keyCol)
    } else {
      // the delete batch is the table's OWN live rows for those keys —
      // full schema, so the merge needs no schema knowledge here
      val live = MergeTable.read(spark, corpusDir)
        .filter(col(keyCol).isin(ids: _*))
        .withColumn("__forget", lit(true))
      if (live.isEmpty) MergeTable.latestVersion(spark, corpusDir)
      else MergeTable.merge(spark, corpusDir, live, keyCol,
        deleteCol = Some("__forget"))
    }
    artifacts.foreach(_.advance(spark, corpusDir, v))
    graft.ops.Privacy.forgottenAudit(ids,
      ("corpus", MergeTable.read(spark, corpusDir), keyCol) +:
        audited.map { case (name, mk, idCol) => (name, mk(), idCol) })
  }
}

object CorpusViews {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Version cursor as empty `_corpus_v<N>` marker files (creation is
    * atomic; read takes the max, so a crash can only leave the cursor
    * BEHIND the artifact — re-advancing is idempotent). */
  private val CursorPrefix = "_corpus_v"

  private def cursorVersion(name: String): Option[Int] =
    if (name.matches(CursorPrefix + "\\d+")) Some(name.drop(CursorPrefix.length).toInt)
    else None

  private def readCursor(spark: SparkSession, dir: String): Option[Int] = {
    val p = new Path(dir)
    val f = fs(spark, dir)
    if (!f.exists(p)) None
    else f.listStatus(p).toSeq.map(_.getPath.getName)
      .flatMap(cursorVersion).maxOption
  }

  private def writeCursor(spark: SparkSession, dir: String, v: Int): Unit = {
    val f = fs(spark, dir)
    f.create(new Path(s"$dir/$CursorPrefix$v"), true).close()
    // retention: older markers are dead weight (read takes the max, and
    // a crash between create-new and delete-old still reads v). One
    // empty file per corpus version would otherwise accumulate forever.
    f.listStatus(new Path(dir)).toSeq.map(_.getPath)
      .filter(p => cursorVersion(p.getName).exists(_ < v))
      .foreach(p => f.delete(p, false))
  }

  /** Shared shape of the artifacts whose cursor is a `_corpus_v<N>`
    * marker inside `indexDir`: [[step]] builds (`from = None`) or
    * refreshes the artifact, then the cursor advances. */
  sealed trait CursorIndex extends Maintained {
    def indexDir: String

    protected def step(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit

    final def version(spark: SparkSession): Option[Int] = readCursor(spark, indexDir)

    protected final def doAdvance(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit = {
      step(spark, corpusDir, from, to)
      writeCursor(spark, indexDir, to)
    }
  }

  /** A [[CursorIndex]] over a [[KeyedIndex]] at `indexDir`, built from
    * the corpus on first advance. */
  sealed trait KeyedView extends CursorIndex {
    protected def keyed: KeyedIndex

    protected def step(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit =
      from match {
        case None => keyed.build(spark, corpusDir, indexDir, version = to)
        case Some(p) => keyed.refresh(spark, corpusDir, indexDir, p, to)
      }
  }

  /** Shared shape of the frozen-cell-parquet artifacts ([[StatsView]],
    * [[QuantileView]]): one `viewDir/v<N>` directory per reflected
    * corpus version, cursor = the newest complete (`_SUCCESS`-bearing)
    * one. Old frozen versions are time-travel state, not required for
    * maintenance (refresh reads only the NEWEST), so [[prune]] applies
    * a retention count — without it a long-lived stream accumulates
    * one directory per corpus version forever. */
  sealed trait FrozenCellView extends Maintained {
    def viewDir: String

    final def version(spark: SparkSession): Option[Int] = versions(spark).maxOption

    protected final def versions(spark: SparkSession): Seq[Int] = {
      val p = new Path(viewDir)
      val f = fs(spark, viewDir)
      if (!f.exists(p)) Seq.empty
      else f.listStatus(p).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }
        .filter(v => f.exists(new Path(s"$viewDir/v$v/_SUCCESS")))
    }

    /** Delete all but the newest `keep` frozen versions; returns the
      * dropped version numbers. Never drops the cursor version, so a
      * pruned view keeps advancing incrementally. */
    final def prune(spark: SparkSession, keep: Int = 2): Seq[Int] = {
      require(keep >= 1, "must keep at least the cursor version")
      val dropped = versions(spark).sorted.dropRight(keep)
      val f = fs(spark, viewDir)
      dropped.foreach(v => f.delete(new Path(s"$viewDir/v$v"), true))
      dropped
    }
  }

  /** Per-`groupCol` (count, sum of `valueCol`) cell view, frozen to
    * `viewDir/v<N>` parquet per reflected corpus version. */
  final case class StatsView(
      viewDir: String, groupCol: String, valueCol: String) extends FrozenCellView {

    protected def doAdvance(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit = {
      val view = from match {
        case Some(p) =>
          IncrementalStats.refreshView(spark, corpusDir,
            spark.read.parquet(s"$viewDir/v$p"), groupCol, valueCol, p, to)
        case None =>
          IncrementalStats.view(spark, corpusDir, groupCol, valueCol, version = to)
      }
      view.write.mode("overwrite").parquet(s"$viewDir/v$to")
    }

    /** The maintained stats at the newest frozen version:
      * (groupCol, n, total) — no corpus scan. */
    def latest(spark: SparkSession): DataFrame = {
      val vs = versions(spark)
      require(vs.nonEmpty, s"no maintained view under $viewDir")
      IncrementalStats.finalizeStats(
        spark.read.parquet(s"$viewDir/v${vs.max}"), groupCol)
    }
  }

  /** Standing BM25 postings index ([[PostingsRefresh]]) at `indexDir`. */
  final case class PostingsIndex(
      indexDir: String, textCol: String = "text") extends KeyedView {
    protected def keyed: KeyedIndex = PostingsRefresh(textCol)
  }

  /** Per-`groupCol` quantile-sketch cell view
    * ([[graft.pipeline.QuantileStats]]) frozen to `viewDir/v<N>`
    * parquet per reflected corpus version — [[StatsView]]'s shape for
    * the order-statistics family. */
  final case class QuantileView(
      viewDir: String, groupCol: String, valueCol: String,
      k: Int = 256) extends FrozenCellView {

    protected def doAdvance(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit = {
      val view = from match {
        case Some(p) =>
          graft.pipeline.QuantileStats.refresh(spark, corpusDir,
            spark.read.parquet(s"$viewDir/v$p"), groupCol, valueCol, p, to, k)
        case None =>
          graft.pipeline.QuantileStats.compute(
            spark, corpusDir, groupCol, valueCol, version = to, k = k)
      }
      view.write.mode("overwrite").parquet(s"$viewDir/v$to")
    }

    /** Maintained quantiles at the newest frozen version — no corpus
      * scan. */
    def latest(spark: SparkSession, qs: Seq[Double]): DataFrame = {
      val vs = versions(spark)
      require(vs.nonEmpty, s"no maintained view under $viewDir")
      graft.pipeline.QuantileStats.quantiles(
        spark.read.parquet(s"$viewDir/v${vs.max}"), groupCol, qs)
    }
  }

  /** Per-split KMV overlap cell view ([[graft.pipeline.OverlapStats]])
    * frozen to `viewDir/v<N>` parquet per reflected corpus version —
    * the standing train/val/test contamination monitor: after every
    * ingest batch the leak audit costs the changed buckets' re-sketch
    * plus three sketch merges, never a token-set join. */
  final case class OverlapView(
      viewDir: String, groupCol: String = "split",
      k: Int = 32768) extends FrozenCellView {

    protected def doAdvance(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit = {
      val view = from match {
        case Some(p) =>
          OverlapStats.refresh(spark, corpusDir,
            spark.read.parquet(s"$viewDir/v$p"), groupCol, p, to, k)
        case None =>
          OverlapStats.compute(spark, corpusDir, groupCol, version = to, k = k)
      }
      view.write.mode("overwrite").parquet(s"$viewDir/v$to")
    }

    /** The maintained pairwise audit at the newest frozen version —
      * sketch merges + driver-side set algebra, no corpus scan. */
    def latest(spark: SparkSession): DataFrame = {
      val vs = versions(spark)
      require(vs.nonEmpty, s"no maintained view under $viewDir")
      OverlapStats.overlapPairs(OverlapStats.merged(
        spark.read.parquet(s"$viewDir/v${vs.max}"), groupCol))
    }
  }

  /** Maintained DATASET CARD ([[graft.pipeline.CorpusCard]]): the
    * release deliverable kept always-current like the rest of the
    * family. Two cell frames per frozen version — per-(bucket, lang)
    * scalar cells and the per-(bucket, normalized-text-hash)
    * duplication ledger — maintained with touched-bucket cost via
    * [[graft.pipeline.BucketedView]]; [[latest]] assembles the exact
    * same `(section, metric, value)` BIGINT card a from-scratch
    * [[graft.pipeline.CorpusCard.card]] produces (`CorpusCardSpec`
    * pins bit-equality), without scanning any text. `tokens` is the
    * tokenizer column, fixed at construction so every advance and the
    * from-scratch twin tokenize identically. */
  final case class CardView(
      viewDir: String,
      tokens: org.apache.spark.sql.Column,
      langCol: String = "lang") extends FrozenCellView {
    import graft.pipeline.{BucketedView, CorpusCard}

    protected def doAdvance(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit = {
      val (lang, dup) = from match {
        case Some(p) => (
          BucketedView.refresh(spark, corpusDir,
            spark.read.parquet(s"$viewDir/v$p/lang"), "l",
            CorpusCard.langPartials(tokens), p, to,
            CorpusCard.deriveLang(langCol)),
          BucketedView.refresh(spark, corpusDir,
            spark.read.parquet(s"$viewDir/v$p/dup"), "h",
            CorpusCard.dupPartials, p, to, CorpusCard.deriveDup))
        case None => (
          BucketedView.compute(spark, corpusDir, "l",
            CorpusCard.langPartials(tokens), to,
            CorpusCard.deriveLang(langCol)),
          BucketedView.compute(spark, corpusDir, "h",
            CorpusCard.dupPartials, to, CorpusCard.deriveDup))
      }
      lang.write.mode("overwrite").parquet(s"$viewDir/v$to/lang")
      dup.write.mode("overwrite").parquet(s"$viewDir/v$to/dup")
      // the version-complete marker comes LAST: versions() only counts
      // a frozen v<N> once both cell frames landed
      fs(spark, viewDir).create(new Path(s"$viewDir/v$to/_SUCCESS"), true).close()
    }

    /** The maintained card at the newest frozen version — cell folds
      * only, no corpus scan. */
    def latest(spark: SparkSession): DataFrame = {
      val vs = versions(spark)
      require(vs.nonEmpty, s"no maintained card under $viewDir")
      CorpusCard.cardFromCells(
        spark.read.parquet(s"$viewDir/v${vs.max}/lang"),
        spark.read.parquet(s"$viewDir/v${vs.max}/dup"))
    }
  }

  /** Maintained TABLE PROFILE ([[graft.ops.Profile]] minus exact
    * n_distinct — the one metric with no bounded cell decomposition;
    * Delta's column-stats choice too): per-bucket cells carrying every
    * other metric's partials, refreshed with touched-bucket cost and
    * folded by [[latest]] into the same long `(col_name, metric,
    * value)` report a from-scratch profile produces, bit-for-bit on
    * the shared metrics — the always-current "what is in this table"
    * view next to the dataset card. `cols` fixes the profiled columns
    * (resolved against the corpus schema at advance time). */
  final case class ProfileView(
      viewDir: String, cols: Seq[String]) extends FrozenCellView {
    import graft.pipeline.{BucketedView, MergeTable}
    import graft.ops.Profile

    protected def doAdvance(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit = {
      val fields = MergeTable.read(spark, corpusDir, to).schema.fields
        .filter(f => cols.contains(f.name)).toSeq
        .sortBy(f => cols.indexOf(f.name))
      require(fields.map(_.name) == cols,
        s"profiled columns missing from corpus: ${cols.diff(fields.map(_.name))}")
      val partials = Profile.cellPartials(fields)
      val derive: DataFrame => DataFrame =
        _.withColumn("g", org.apache.spark.sql.functions.lit(1))
      val view = from match {
        case Some(p) =>
          BucketedView.refresh(spark, corpusDir,
            spark.read.parquet(s"$viewDir/v$p"), "g", partials, p, to, derive)
        case None =>
          BucketedView.compute(spark, corpusDir, "g", partials, to, derive)
      }
      view.write.mode("overwrite").parquet(s"$viewDir/v$to")
    }

    /** The maintained profile at the newest frozen version — one fold
      * over cell state, no corpus scan. */
    def latest(spark: SparkSession): DataFrame = {
      val vs = versions(spark)
      require(vs.nonEmpty, s"no maintained profile under $viewDir")
      Profile.profileFromCells(
        spark.read.parquet(s"$viewDir/v${vs.max}").drop("bucket", "g"))
    }
  }

  /** Read-replica publication policy for [[TrigramIndex]]: after an
    * advance reflecting corpus version `v` with `v % every == 0`, the
    * maintained (write-optimized, pk-bucketed) index is re-laid-out
    * via [[TrigramRefresh.publish]] into the bucketed-BY-TRIGRAM
    * catalog table `table` (data at `path`) that substring searches
    * bucket-prune against. The replica lags the maintained index by
    * at most `every − 1` corpus versions — the freshness/refresh-cost
    * dial every read-replica deployment exposes. */
  final case class TrigramPublishPolicy(
      table: String, path: String, nBuckets: Int = 16, every: Int = 1) {
    require(every >= 1, s"publish cadence must be >= 1, got $every")
  }

  /** Per-group CMS frequency cell view ([[graft.pipeline.FreqStats]])
    * frozen to `viewDir/v<N>` parquet per reflected corpus version —
    * the standing "how often does key X appear per group, right now"
    * monitor: after every ingest batch any key's frequency estimate
    * costs the changed buckets' re-sketch plus one bounded merge and
    * a scalar probe, never a key-grouped corpus scan. */
  final case class FreqView(
      viewDir: String, groupCol: String, keyCol: String,
      w: Int = 256, d: Int = 4) extends FrozenCellView {

    protected def doAdvance(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit = {
      val view = from match {
        case Some(p) =>
          graft.pipeline.FreqStats.refresh(spark, corpusDir,
            spark.read.parquet(s"$viewDir/v$p"), groupCol, keyCol, p, to, w, d)
        case None =>
          graft.pipeline.FreqStats.compute(
            spark, corpusDir, groupCol, keyCol, version = to, w = w, d = d)
      }
      view.write.mode("overwrite").parquet(s"$viewDir/v$to")
    }

    /** The maintained per-group merged sketches at the newest frozen
      * version: (groupCol, sk) — probe with `CmsExpr.cmsQuery`. */
    def latest(spark: SparkSession): DataFrame = {
      val vs = versions(spark)
      require(vs.nonEmpty, s"no maintained view under $viewDir")
      graft.pipeline.FreqStats.merged(
        spark.read.parquet(s"$viewDir/v${vs.max}"), groupCol)
    }
  }

  /** Standing trigram substring index ([[TrigramRefresh]]) at
    * `indexDir`, built from the corpus on first advance — the
    * `%pattern%` lookups of [[graft.ops.TextSearch.substringSearch]]
    * stay fresh against the CDC stream. With a [[TrigramPublishPolicy]]
    * the read-optimized bucketed-by-trigram table republishes on the
    * policy's cadence, so the WHOLE serving path (maintained index →
    * published layout → bucket-pruned search) rides the stream
    * (`TrigramPublishSpec` pins it). */
  final case class TrigramIndex(
      indexDir: String, textCol: String = "text",
      publish: Option[TrigramPublishPolicy] = None) extends KeyedView {
    protected def keyed: KeyedIndex = TrigramRefresh(textCol)

    override protected def step(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit = {
      super.step(spark, corpusDir, from, to)
      publish.filter(to % _.every == 0).foreach { pol =>
        TrigramRefresh.publish(spark, indexDir, pol.table, pol.path, pol.nBuckets)
      }
    }
  }

  /** Standing near-dup cluster view ([[graft.pipeline.ClustersRefresh]])
    * — connected components over the similarity-pair graph kept fresh
    * against the CDC stream: inserts can merge standing clusters,
    * deletes/rewrites can split them, and each advance re-runs the
    * fixpoint on affected components only. `ClustersRefresh` manages
    * its own crash-safe `v<N>/_DONE` versions, so this adapter is just
    * the [[Maintained]] protocol glue. */
  final case class ClustersView(
      clustersDir: String, threshold: Double = 0.2) extends Maintained {

    def version(spark: SparkSession): Option[Int] =
      graft.pipeline.ClustersRefresh.version(spark, clustersDir)

    protected def doAdvance(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit =
      from match {
        case None =>
          graft.pipeline.ClustersRefresh.build(
            spark, corpusDir, clustersDir, version = to, threshold)
        case Some(p) =>
          graft.pipeline.ClustersRefresh.refresh(
            spark, corpusDir, clustersDir, p, to, threshold)
      }

    /** Maintained survivor set at the newest complete version. */
    def survivors(spark: SparkSession, corpusDir: String): DataFrame = {
      val v = version(spark).getOrElse(
        throw new IllegalStateException(s"no maintained clusters under $clustersDir"))
      graft.pipeline.ClustersRefresh.survivors(spark, corpusDir, clustersDir, v)
    }
  }

  /** Standing NB quality-classifier MODEL ([[graft.pipeline
    * .ClassifierRefresh]]) — the IVM family applied to a model: both
    * sufficient-statistics views (feature cells + prior cells) frozen
    * under `viewDir/v<N>/{features,priors}` per reflected corpus
    * version, the completion marker written only after BOTH (a crash
    * between leaves the version invisible and the next advance redoes
    * it). `latest` folds the newest frozen cells into the model — the
    * production [[graft.pipeline.Curate]] filter stays fresh against a
    * streaming corpus for the cost of the changed buckets. */
  final case class ClassifierModel(
      viewDir: String, posPred: org.apache.spark.sql.Column,
      textCol: String = "text", buckets: Int = 256) extends FrozenCellView {

    protected def doAdvance(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit = {
      val (f, p) = from match {
        case Some(pv) =>
          (graft.pipeline.ClassifierRefresh.refreshFeatureView(spark, corpusDir,
            spark.read.parquet(s"$viewDir/v$pv/features"), posPred, pv, to,
            textCol, buckets),
            graft.pipeline.ClassifierRefresh.refreshPriorView(spark, corpusDir,
              spark.read.parquet(s"$viewDir/v$pv/priors"), posPred, pv, to))
        case None =>
          (graft.pipeline.ClassifierRefresh.featureView(spark, corpusDir,
            posPred, textCol, buckets, to),
            graft.pipeline.ClassifierRefresh.priorView(spark, corpusDir,
              posPred, to))
      }
      f.write.mode("overwrite").parquet(s"$viewDir/v$to/features")
      p.write.mode("overwrite").parquet(s"$viewDir/v$to/priors")
      // completion marker AFTER both cell writes — versions() only
      // trusts _SUCCESS-bearing directories
      fs(spark, viewDir).create(new Path(s"$viewDir/v$to/_SUCCESS"), true).close()
    }

    /** The maintained model at the newest frozen version — folds the
      * bounded cell state, no corpus scan. */
    def latest(spark: SparkSession): graft.ops.QualityClassifier.NbModel = {
      val vs = versions(spark)
      require(vs.nonEmpty, s"no maintained model under $viewDir")
      graft.pipeline.ClassifierRefresh.model(
        spark.read.parquet(s"$viewDir/v${vs.max}/features"),
        spark.read.parquet(s"$viewDir/v${vs.max}/priors"), buckets)
    }
  }

  /** Standing RAG chunk+embedding index ([[graft.pipeline.IndexRefresh]])
    * at `indexDir` — the reference's continuous vector-index upsert
    * loop as a Maintained artifact: corpus edits re-chunk + re-embed
    * CHANGED docs only. */
  final case class RagIndex(
      indexDir: String,
      embedder: graft.embed.Embedder = graft.embed.HashingEmbedder())
    extends CursorIndex {

    protected def step(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit =
      from match {
        case None =>
          graft.pipeline.IndexRefresh.build(
            spark, corpusDir, indexDir, embedder, version = to)
        case Some(p) =>
          graft.pipeline.IndexRefresh.refresh(spark, corpusDir, indexDir, p, to, embedder)
      }
  }

  /** Standing frozen-centroid IVF cell lists
    * ([[graft.index.IvfRefresh]]) at `indexPath` over an EMBEDDING
    * corpus (keyed rows carrying `embCol`). First advance trains the
    * centers and builds; later advances rewrite only the affected cell
    * directories — then run the CLOSED retrain loop
    * ([[graft.index.IvfRefresh.retrainIfDrifted]]): when occupancy-PSI
    * vs the training-time baseline exceeds `retrainPsi`, the centers
    * are retrained in place at the just-reflected corpus version, so a
    * drifting streamed corpus recovers recall without operator
    * intervention (`StreamingSpec`/`IvfRefreshSpec` pin the recovery).
    * Set `retrainPsi = Double.PositiveInfinity` to opt out. */
  final case class IvfCellLists(
      indexPath: String, nlist: Int = 16,
      keyCol: String = "vec_id", embCol: String = "embedding",
      retrainPsi: Double = 0.2)
    extends CursorIndex {

    def indexDir: String = indexPath

    protected def step(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit =
      from match {
        case None =>
          graft.index.IvfRefresh.build(spark, corpusDir, indexPath,
            nlist = nlist, keyCol = keyCol, embCol = embCol, version = to)
        case Some(p) =>
          graft.index.IvfRefresh.refresh(
            spark, corpusDir, indexPath, p, to, keyCol, embCol)
          if (!retrainPsi.isPosInfinity) {
            val (psi, retrained) = graft.index.IvfRefresh.retrainIfDrifted(
              spark, corpusDir, indexPath, to, keyCol, embCol, retrainPsi)
            if (retrained)
              System.err.println(
                f"[ivf] occupancy PSI $psi%.3f > $retrainPsi%.3f at v$to — retrained centers")
          }
      }
  }

  /** Standing MinHash band-bucket near-dup index
    * ([[BandsRefresh]]) at `indexDir` — keeps the banded-LSH dedup
    * state fresh across the stream so near-dup queries
    * ([[BandsRefresh.scoredPairs]]) and admission checks
    * ([[BandsRefresh.nearDupsAgainstIndex]]) never rescan the corpus. */
  final case class BandIndex(
      indexDir: String, textCol: String = "text",
      n: Int = 3, bands: Int = BandsRefresh.defaultBands,
      rowsPerBand: Int = BandsRefresh.defaultRowsPerBand) extends KeyedView {
    protected def keyed: KeyedIndex = BandsRefresh(textCol, n, bands, rowsPerBand)
  }

  /** Standing winnowed passage-fingerprint index
    * ([[FingerprintsRefresh]]) at `indexDir`. */
  final case class FingerprintIndex(
      indexDir: String, textCol: String = "text",
      k: Int = 16, w: Int = 8) extends KeyedView {
    protected def keyed: KeyedIndex = FingerprintsRefresh(textCol, k, w)
  }

  /** Standing per-file Bloom point-lookup sidecar
    * ([[graft.pipeline.FileBlooms]]) over `column` of the corpus
    * ITSELF — unlike the other artifacts this one lives next to the
    * corpus manifests, so the sidecar's own `_v<N>.blooms.<col>` stamp
    * IS the version cursor (no separate marker to fall out of sync).
    * The sidecar is written to a temp path and RENAMED into place
    * ([[graft.pipeline.FileBlooms]]), so its presence really does mean
    * complete — a crash mid-write leaves only a temp file the cursor
    * ignores, and the next advance redoes the whole version. A missing
    * sketch line degrades to keep-the-file — never a wrong skip.
    * Refresh sketches only
    * the files the merge wrote ([[graft.pipeline.FileBlooms.refresh]]
    * carries the rest by reference), so per-batch cost ∝ delta like
    * the rest of the family. */
  final case class BloomIndex(dir: String, column: String)
      extends Maintained {

    def version(spark: SparkSession): Option[Int] = {
      val f = fs(spark, dir)
      val p = new Path(dir)
      if (!f.exists(p)) None
      else f.listStatus(p).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("_v") &&
            n.endsWith(s".blooms.$column") =>
          n.stripPrefix("_v").stripSuffix(s".blooms.$column") }
        .collect { case s if s.nonEmpty && s.forall(_.isDigit) => s.toInt }
        .maxOption
    }

    protected def doAdvance(
        spark: SparkSession, corpusDir: String, from: Option[Int], to: Int): Unit = {
      require(corpusDir == dir,
        s"BloomIndex of $dir advanced against a different corpus $corpusDir")
      from match {
        case None =>
          graft.pipeline.FileBlooms.build(spark, dir, column, version = to); ()
        case Some(p) =>
          graft.pipeline.FileBlooms.refresh(spark, dir, column, p, to)
      }
    }
  }
}
