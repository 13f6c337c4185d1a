package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.pipeline.{MergeTable, ZoneMaps}

/** The `graft` Spark DataSource: [[MergeTable]]s as first-class
  * planner-visible tables, so plain `spark.read.format("graft")` /
  * `CREATE TABLE ... USING graft` SQL gets the lakehouse read path —
  * zone-map range pruning, string-zone pruning, Bloom-sidecar point
  * pruning, merge-on-read delete application and time travel — with
  * the FILE SKIPPING DRIVEN BY THE PLANNER'S OWN PUSHED FILTERS
  * instead of a side API. The V1 connector surface
  * ([[PrunedFilteredScan]]) is deliberate: Spark hands the relation
  * the query's conjunctive predicates and required columns, this
  * relation turns them into sidecar pruning decisions (each a strict
  * SUPERSET pass — a skipped file provably holds no qualifying row),
  * and declares every filter unhandled so Spark re-applies the exact
  * semantics above the scan. Correctness therefore never depends on
  * the translation: an untranslatable predicate simply prunes less.
  * Each relation reads one [[MergeTable.Snapshot]] of its version, so a
  * query parses the manifest once and loads each sidecar at most once.
  *
  * Options: `path` (table root, required), `version` (time travel,
  * default latest); `changesFrom`/`changesTo` (+ `key`) switch the
  * relation to the CHANGE DATA FEED between two versions (`_change` +
  * row image — CDC as a plain SQL-visible table). Writes:
  * `ErrorIfExists`/`Ignore` create (options `key`, `buckets`);
  * `Append` is MERGE upsert on `key`; `Overwrite` refuses loudly (a
  * lakehouse table's history is the point — use the MergeTable API
  * deliberately). `writeStream.format("graft")` maps each micro-batch
  * to the same MERGE (option `deleteCol` for CDC-style batches) —
  * retried batches re-merge idempotently, the MergeTable contract.
  *
  * Replay dedup is SCOPED to the writing query (the Delta
  * idempotent-write shape, txnAppId + txnVersion): the committed
  * cursor records (batchId, appId) where appId is the streaming
  * query's checkpoint-stable `queryId` (override with the sink option
  * `txnAppId`). A restarted query (same checkpoint → same queryId)
  * skips its already-committed batches without re-merging; a NEW query
  * (fresh checkpoint restarts batchIds at 0) never matches the old
  * cursor, so its batches MERGE normally instead of being silently
  * swallowed. Legacy unscoped cursors never suppress — a replayed
  * batch re-merges, which is content-idempotent.
  */
class GraftSource extends RelationProvider with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      throw new IllegalArgumentException("graft source needs a 'path' option"))

  /** The recorded merge key (manifest `#mergekey`), overridable with
    * the `key` option — the change feed's join column. */
  private def keyOf(
      spark: org.apache.spark.sql.SparkSession,
      parameters: Map[String, String], dir: String): String =
    parameters.get("key")
      .orElse(graft.pipeline.MergeTable.mergeKey(spark, dir))
      .getOrElse(throw new IllegalArgumentException(
        s"$dir records no merge key — pass the 'key' option"))

  // ---- streaming SOURCE: readStream.format("graft") tails the version
  // chain (offsets = versions; snapshot + change feed) — see
  // [[graft.streaming.GraftStreamSource]]
  override def sourceSchema(
      sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : (String, StructType) =
    (shortName(), graft.streaming.GraftStreamSource.feedSchema(
      sqlContext.sparkSession, pathOf(parameters)))

  override def createSource(
      sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val dir = pathOf(parameters)
    new graft.streaming.GraftStreamSource(sqlContext, dir,
      keyOf(sqlContext.sparkSession, parameters, dir),
      includeSnapshot = parameters.get("snapshot").forall(_.toBoolean),
      maxVersionsPerBatch = parameters.get("maxVersionsPerBatch").map(_.toInt),
      maxBytesPerBatch = parameters.get("maxBytesPerBatch").map(_.toLong),
      // the engine-provided per-source checkpoint subdir: where the
      // snapshot=false stream-start base version persists across
      // restarts (recovery of an uncommitted batch 0 must see the
      // ORIGINAL base, not a re-derived head — round-15 ADVICE)
      metadataPath = Some(metadataPath))
  }

  override def createRelation(
      sqlContext: SQLContext, parameters: Map[String, String]): BaseRelation =
    parameters.get("changesFrom") match {
      case Some(from) =>
        val key = parameters.getOrElse("key", throw new IllegalArgumentException(
          "the change feed needs the merge 'key' option"))
        GraftChangesRelation(sqlContext, pathOf(parameters), from.toInt,
          parameters.get("changesTo").map(_.toInt).getOrElse(-1), key)
      case None =>
        GraftRelation(sqlContext, pathOf(parameters),
          parameters.get("version").map(_.toInt).getOrElse(-1))
    }

  override def createSink(
      sqlContext: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val dir = pathOf(parameters)
    val key = parameters.getOrElse("key",
      throw new IllegalArgumentException("graft sink needs a 'key' option"))
    val buckets = parameters.get("buckets").map(_.toInt).getOrElse(16)
    val deleteCol = parameters.get("deleteCol")
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        val spark = data.sparkSession
        // the cursor's scope: an explicit txnAppId option, else the
        // query's checkpoint-stable id (StreamExecution publishes it
        // as a thread-local property on the micro-batch thread)
        val app = parameters.get("txnAppId").orElse(Option(
          spark.sparkContext.getLocalProperty("sql.streaming.queryId")))
        // replay dedup: the committed (batchId, appId) cursor rides the
        // manifest chain ([[MergeTable.lastSinkTxn]]) — a retried or
        // restarted micro-batch of the SAME query whose id is already
        // committed returns WITHOUT merging (version chain unchanged).
        // Suppression demands an app match: batch ids restart at 0
        // under a fresh checkpoint, so an unscoped cursor would
        // silently drop a new query's every batch (round-14 ADVICE);
        // a legacy cursor (no recorded app) or an unknowable current
        // app never suppresses — the merge is content-idempotent.
        val exists = MergeTable.versions(spark, dir).nonEmpty
        if (exists && app.isDefined &&
            MergeTable.lastSinkTxn(spark, dir).exists { case (b, a) =>
              a == app && b >= batchId })
          return
        // decouple from the streaming plan (the standard sink move —
        // a streaming-tagged Dataset refuses batch actions, and the
        // merge below reads the target table): take the executed
        // micro-batch's internal rows and rebuild a batch DataFrame
        val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
          org.apache.spark.sql.catalyst.encoders.RowEncoder
            .encoderFor(data.schema)).resolveAndBind()
        val rowRdd = data.queryExecution.toRdd.mapPartitions { it =>
          val de = enc.createDeserializer()
          it.map(ir => de(ir.copy()))
        }
        val batch = spark.createDataFrame(rowRdd, data.schema)
        if (!exists) {
          val insert = deleteCol.fold(batch)(dc =>
            batch.filter(!col(dc)).drop(dc))
          MergeTable.create(spark, dir, insert, key, buckets,
            sinkBatch = Some(batchId), sinkApp = app)
        } else {
          MergeTable.merge(spark, dir, batch, key, deleteCol = deleteCol,
            sinkBatch = Some(batchId), sinkApp = app)
          ()
        }
      }
    }
  }

  override def createRelation(
      sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val dir = pathOf(parameters)
    def key = parameters.getOrElse("key",
      throw new IllegalArgumentException("graft writes need a 'key' option"))
    val exists = MergeTable.versions(spark, dir).nonEmpty
    mode match {
      case SaveMode.ErrorIfExists | SaveMode.Ignore if exists =>
        if (mode == SaveMode.ErrorIfExists)
          throw new IllegalStateException(s"$dir already is a MergeTable")
      case SaveMode.ErrorIfExists | SaveMode.Ignore =>
        MergeTable.create(spark, dir, data, key,
          parameters.get("buckets").map(_.toInt).getOrElse(16))
      case SaveMode.Append =>
        require(exists, s"$dir is not a MergeTable — create it first")
        MergeTable.merge(spark, dir, data, key)
      case SaveMode.Overwrite =>
        throw new UnsupportedOperationException(
          "graft refuses Overwrite — version history is the table's " +
            "contract; use the MergeTable API deliberately")
    }
    createRelation(sqlContext, parameters)
  }
}

/** The change data feed as a relation: `_change` (insert/update/
  * delete) + the row image between two committed versions — CDC
  * consumable from plain SQL. Cost tracks changed buckets (the
  * [[MergeTable.changes]] contract), ledger-only delete commits
  * included. */
private[sources] case class GraftChangesRelation(
    sqlContext: SQLContext, dir: String, fromVersion: Int, toVersion: Int,
    keyCol: String) extends BaseRelation with TableScan {

  private val spark = sqlContext.sparkSession
  private val to =
    if (toVersion > 0) toVersion else MergeTable.latestVersion(spark, dir)

  private def feed: DataFrame =
    MergeTable.changes(spark, dir, fromVersion, to, keyCol)

  override val schema: StructType = feed.schema

  override def buildScan(): RDD[Row] = feed.rdd
}

object GraftRelation {
  /** Exposed pruning evidence of the most recent [[GraftRelation]]
    * scan in this JVM: (files kept, files total). Plan-shape specs read
    * it; nothing in the engine does. */
  @volatile var lastPruned: (Int, Int) = (0, 0)

  /** The whole of `version` (≤ 0: the latest, resolved here once) of
    * the table at `dir`. */
  private[graft] def apply(
      sqlContext: SQLContext, dir: String, version: Int): GraftRelation =
    GraftRelation(sqlContext, dir, version, None)(
      MergeTable.snapshot(sqlContext.sparkSession, dir, version))
}

/** A version of a graft table, read through its [[MergeTable.Snapshot]]
  * — built once, where the version is resolved, so a concurrent commit
  * never splits a query between two versions, and the sizing, the
  * pruning, the plan rules ([[graft.plans.GraftTopK]],
  * [[graft.plans.GraftMetaAggregate]]) and the scan all answer from the
  * one parsed manifest and its sidecars. `only`: restrict the relation
  * to a rel-path subset of the version's files ([[subset]]) — the seam
  * the plan rules use to scan ONLY the files their metadata pass could
  * not decide. None (everything user-facing) = the whole version. */
private[graft] case class GraftRelation(
    sqlContext: SQLContext, dir: String, version: Int,
    only: Option[Seq[String]])(private[graft] val snapshot: MergeTable.Snapshot)
  extends BaseRelation with PrunedFilteredScan {

  private val spark = sqlContext.sparkSession
  private[graft] def v: Int = snapshot.version

  /** This version restricted to `kept`, sharing the snapshot. */
  private[graft] def subset(kept: Seq[String]): GraftRelation =
    GraftRelation(sqlContext, dir, v, Some(kept))(snapshot)

  override val schema: StructType = snapshot.schema

  // real table bytes from the manifest's files — the default is
  // "assume huge", which would bar a small graft dimension table from
  // ever broadcasting in a join. LAZY (computed once, only if the
  // planner asks — not per relation instantiation), one listStatus per
  // bucket directory instead of a getFileStatus per file (O(dirs)
  // driver RPCs, not O(files)), and a missing file (a clone whose
  // source was vacuumed) degrades to the default size instead of
  // failing a query at plan time that might prune that file away.
  override lazy val sizeInBytes: Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val abs = snapshot.files.map(rel => MergeTable.absPath(dir, rel))
    val byDir = abs.groupBy(p => p.substring(0, p.lastIndexOf('/')))
    try {
      byDir.iterator.map { case (d, files) =>
        val want = files.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
        val dp = new org.apache.hadoop.fs.Path(d)
        val listed = dp.getFileSystem(conf).listStatus(dp)
          .filter(st => want.contains(st.getPath.getName))
        if (listed.length != want.size)
          throw new java.io.FileNotFoundException(s"missing data files under $d")
        listed.map(_.getLen).sum
      }.sum
    } catch { case _: java.io.IOException => super.sizeInBytes }
  }

  // every filter is re-applied by Spark above the scan — pruning below
  // is a superset pass, so exactness never depends on translation
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType |
         _: FloatType | _: DoubleType | _: DecimalType => true
    case _ => false
  }

  private def toBig(a: Any): Option[BigDecimal] = a match {
    case n: Byte => Some(BigDecimal(n.toInt))
    case n: Short => Some(BigDecimal(n.toInt))
    case n: Int => Some(BigDecimal(n))
    case n: Long => Some(BigDecimal(n))
    case n: Float => Some(BigDecimal(n.toDouble))
    case n: Double => Some(BigDecimal(n))
    case n: java.math.BigDecimal => Some(BigDecimal(n))
    case n: BigDecimal => Some(n)
    case _ => None
  }

  private def numCol(c: String) =
    schema.fieldNames.contains(c) && isNumeric(schema(c).dataType)
  private def strCol(c: String) =
    schema.fieldNames.contains(c) && schema(c).dataType == StringType

  // String bound selection must use CODE-POINT order ([[ZoneMaps
  // .cpCompare]] — the order the zone intersection test compares in),
  // NOT Java's UTF-16 code-unit order: an IN list mixing supplementary-
  // plane strings (emoji) with [U+E000, U+FFFF] strings would otherwise
  // yield an inverted [lo, hi] and wrongly prune matching files.
  private val cpOrdering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = ZoneMaps.cpCompare(a, b)
  }

  private type Keep = String => Boolean
  private def zoneNum(c: String, lo: BigDecimal, hi: BigDecimal): Keep =
    snapshot.keep(MergeTable.NumBound(c, lo, hi))
  private def zoneStr(c: String, lo: String, hi: String): Keep =
    snapshot.keep(MergeTable.StrBound(c, lo, hi))
  private def zoneNull(c: String, isNull: Boolean): Keep =
    snapshot.keep(MergeTable.NullBound(c, isNull))
  private def bloom(c: String, xs: Seq[Any]): Keep =
    snapshot.keep(MergeTable.EqBound(c, xs.distinct))
  private def both(x: Keep, y: Keep): Keep = r => x(r) && y(r)

  /** The keep function one pushed filter yields against the version's
    * sidecars — None = no evidence (keep everything). The superset
    * contract holds COMPOSITIONALLY: every leaf keeps all files with a
    * possibly-matching row, `And` keeps a file both sides keep (a
    * matching row satisfies both), `Or` one either side keeps (a
    * matching row satisfies one side, whose evidence keeps its file) —
    * so disjunctive predicates prune too, instead of degrading to a
    * full keep. `Not` yields no evidence (the complement of a superset
    * proves nothing); Spark re-applies every filter exactly above the
    * scan regardless. */
  private def filesFor(f: Filter): Option[Keep] = f match {
    case EqualTo(c, x) if numCol(c) && toBig(x).isDefined =>
      val b = toBig(x).get
      Some(both(zoneNum(c, b, b), bloom(c, Seq(x))))
    case EqualTo(c, x: String) if strCol(c) =>
      Some(both(zoneStr(c, x, x), bloom(c, Seq(x))))
    case In(c, xs) if numCol(c) && xs.nonEmpty && xs.forall(toBig(_).isDefined) =>
      val bs = xs.toSeq.map(toBig(_).get)
      Some(both(zoneNum(c, bs.min, bs.max), bloom(c, xs.toSeq)))
    case In(c, xs) if strCol(c) && xs.nonEmpty && xs.forall(_.isInstanceOf[String]) =>
      val ss = xs.toSeq.map(_.asInstanceOf[String])
      Some(both(zoneStr(c, ss.min(cpOrdering), ss.max(cpOrdering)),
        bloom(c, xs.toSeq)))
    case GreaterThan(c, x) if numCol(c) && toBig(x).isDefined =>
      Some(zoneNum(c, toBig(x).get, MaxBig))
    case GreaterThanOrEqual(c, x) if numCol(c) && toBig(x).isDefined =>
      Some(zoneNum(c, toBig(x).get, MaxBig))
    case LessThan(c, x) if numCol(c) && toBig(x).isDefined =>
      Some(zoneNum(c, MinBig, toBig(x).get))
    case LessThanOrEqual(c, x) if numCol(c) && toBig(x).isDefined =>
      Some(zoneNum(c, MinBig, toBig(x).get))
    // one-sided string uppers: "" is a TRUE string minimum, so `< x`
    // prunes exactly; there is no finite string maximum (UTF-8 order
    // puts supplementary planes above ￿), so `> x` does not prune
    case LessThan(c, x: String) if strCol(c) => Some(zoneStr(c, "", x))
    case LessThanOrEqual(c, x: String) if strCol(c) => Some(zoneStr(c, "", x))
    // null probes prune on the sidecar's exact per-file null counts: a
    // zero-null file cannot match IS NULL, an all-null file cannot
    // match IS NOT NULL
    case IsNull(c) if schema.fieldNames.contains(c) =>
      Some(zoneNull(c, isNull = true))
    case IsNotNull(c) if schema.fieldNames.contains(c) =>
      Some(zoneNull(c, isNull = false))
    case And(a, b) =>
      (filesFor(a), filesFor(b)) match {
        case (Some(x), Some(y)) => Some(both(x, y))
        case (x, y) => x.orElse(y) // half an AND still bounds the files
      }
    case Or(a, b) =>
      for (x <- filesFor(a); y <- filesFor(b)) yield (r: String) => x(r) || y(r)
    // Not / StringContains / ... — no pruning evidence; Spark applies
    // them exactly above the scan
    case _ => None
  }

  // one-sided numeric sentinels: beyond 1e999 the decimal→double
  // coercion inside prunedFiles goes infinite, which DISABLES double-
  // zone pruning for that bound (exact — doubles reach 1.8e308) while
  // long zones (max ~9.2e18) still prune on the bounded side
  private val MaxBig = BigDecimal("1e999")
  private val MinBig = BigDecimal("-1e999")

  override def buildScan(
      requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val all = only.fold(snapshot.files)(o => snapshot.files.filter(o.toSet))
    val keeps = filters.flatMap(filesFor)
    val kept = all.filter(r => keeps.forall(_(r)))
    GraftRelation.lastPruned = (kept.size, all.size)
    // push the translatable conjunction into the inner parquet scan
    // (row-group/footer skipping) — Spark still re-applies everything
    val pred = filters.flatMap(predOf(_).map(_._1)).reduceOption(_ && _)
    snapshot.scan(kept, pred).select(requiredColumns.map(col).toSeq: _*).rdd
  }

  /** Column form of a pushed filter, when one exists, paired with its
    * EXACTNESS. The Column is always IMPLIED BY the original filter
    * (weaker-or-equal — safe to apply in a positive context, where
    * dropping only provably-non-matching rows is sound); `exact = true`
    * means it is equivalent. The distinction is what keeps negation
    * sound: a partially-translated `And` (one conjunct dropped) is
    * weaker than the original, and negating a WEAKER predicate yields a
    * STRICTER one — `NOT(a AND b) → NOT a` would drop rows the original
    * keeps, below the level where Spark's exact re-application can
    * restore them. So `Not` composes only over exact translations, and
    * any composition with an inexact child is itself marked inexact. */
  private[graft] def predOf(f: Filter): Option[(Column, Boolean)] = f match {
    case EqualTo(c, x) => Some((col(c) === x, true))
    case EqualNullSafe(c, x) => Some((col(c) <=> x, true))
    case GreaterThan(c, x) => Some((col(c) > x, true))
    case GreaterThanOrEqual(c, x) => Some((col(c) >= x, true))
    case LessThan(c, x) => Some((col(c) < x, true))
    case LessThanOrEqual(c, x) => Some((col(c) <= x, true))
    case In(c, xs) => Some((col(c).isin(xs.toSeq: _*), true))
    case IsNull(c) => Some((col(c).isNull, true))
    case IsNotNull(c) => Some((col(c).isNotNull, true))
    case StringStartsWith(c, x) => Some((col(c).startsWith(x), true))
    case StringEndsWith(c, x) => Some((col(c).endsWith(x), true))
    case StringContains(c, x) => Some((col(c).contains(x), true))
    case And(a, b) =>
      (predOf(a), predOf(b)) match {
        case (Some((x, ex)), Some((y, ey))) => Some((x && y, ex && ey))
        case (Some((x, _)), None) => Some((x, false)) // weaker: b dropped
        case (None, Some((y, _))) => Some((y, false))
        case _ => None
      }
    case Or(a, b) =>
      // Or of weaker children is still weaker (implied by the original)
      for ((x, ex) <- predOf(a); (y, ey) <- predOf(b))
        yield (x || y, ex && ey)
    case Not(a) => predOf(a).collect { case (x, true) => (!x, true) }
    case _ => None
  }
}
