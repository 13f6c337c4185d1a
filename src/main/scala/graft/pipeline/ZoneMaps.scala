package graft.pipeline

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** Per-file numeric ZONE MAPS (min / max / null presence) for
  * [[MergeTable]] versions — the data-skipping index every lakehouse
  * keeps (Delta/Iceberg file stats; Moerkotte's "small materialized
  * aggregates", VLDB'98): a value-range predicate can skip every file
  * whose [min, max] cannot intersect it, BEFORE any scan task runs.
  *
  * Stats come from PARQUET FOOTERS, not a data rescan: the writer
  * already computed per-rowgroup min/max; harvesting reads a few KB of
  * footer per file, distributed (one task per file batch), and the
  * driver holds one line per file × numeric column — O(files), the
  * same order as the manifest itself.
  *
  * Sidecar `_v<N>.zones` next to the version's manifest, text lines
  * `relpath TAB col TAB kind TAB min TAB max TAB hasNulls TAB
  * nullCount` (kind ∈ long|double; min/max empty for an all-null
  * file; one `#rows` pseudo-line per file carries its row count;
  * legacy 6-field lines parse with nullCount unknown). Non-numeric
  * columns carry no line and are simply never skipped on. The sidecar
  * is written BEFORE the manifest commit (a crash in between leaves an
  * orphan zones file, never a manifest without zones... and a missing
  * sidecar only degrades to harvest-at-read, never to a wrong answer).
  *
  * Incremental discipline ([[MergeTable.merge]]): carried-forward
  * files COPY their previous zone lines by reference; only the files
  * the merge actually wrote get a footer harvest — sidecar refresh
  * cost ∝ delta, the house IVM rule applied to statistics.
  *
  * Zone maps prune only where the layout clusters the column —
  * see [[MergeTable.clusterBy]], which range-lays each bucket by a
  * chosen column exactly so that narrow predicates skip most files
  * (`ZoneMapSpec` pins kept ≪ total and result equality).
  */
object ZoneMaps {

  /** One file×column zone. For numeric kinds min/max are the exact
    * decimal strings of the footer stats (BigDecimal-comparable
    * without precision loss — a long > 2^53 would corrupt through a
    * double). For kind `str` (UTF8-annotated BINARY) they are BOUNDS,
    * not exact values — truncated to [[StrBoundCp]] code points with
    * the upper bound incremented at the truncation point (the
    * Parquet/Iceberg convention), `min == null` meaning all-null and
    * `max == null` (with min non-null) meaning increment overflowed →
    * unbounded above. `nullCount` is the exact per-file null count
    * when every rowgroup recorded one, −1 (unknown) otherwise — the
    * extra statistic that turns zones into a METADATA-ONLY aggregate
    * source ([[MergeTable.metaAggregate]]): COUNT(col) = rows −
    * nullCount needs no scan when it's known. Legacy 6-field sidecar
    * lines parse with nullCount = −1, so old versions degrade to a
    * footer re-harvest, never a wrong answer. */
  final case class Zone(
      kind: String, min: String, max: String, hasNulls: Boolean,
      nullCount: Long = -1L,
      minExact: Boolean = true, maxExact: Boolean = true) {
    def allNull: Boolean = if (kind == "str") min == null else min.isEmpty
    /** Could a row of this file satisfy `col ∈ [lo, hi]`? */
    def mightIntersect(lo: BigDecimal, hi: BigDecimal): Boolean =
      !allNull && BigDecimal(min) <= hi && BigDecimal(max) >= lo
    /** Could a row of this file satisfy `col ∈ [lo, hi]` in CODE-POINT
      * order — which IS Spark's `UTF8String` order, parquet's UTF8
      * stat order and DuckDB's binary collation, and is NOT Java
      * `String.compareTo` (UTF-16 code units misorder supplementary
      * characters against `[U+E000, U+FFFF]`). */
    def mightIntersectStr(lo: String, hi: String): Boolean =
      kind == "str" && !allNull && cpCompare(min, hi) <= 0 &&
        (max == null || cpCompare(max, lo) >= 0)
  }

  /** Sidecar format: 3 = written by harvests whose all-null claims are
    * PROVEN (missing min/max is trusted only when the block's null
    * count equals its row count — parquet-java drops double/float
    * stats for NaN-bearing blocks and binary stats for oversized
    * values while the block holds real rows). Format-2 sidecars
    * predate that proof, so their all-null double/str zones cannot be
    * trusted and are dropped on read (degrade to re-harvest /
    * unprunable, never a wrong answer) — the same precedent as
    * format-1, whose headerless `long` lines predate the logical-type
    * poisoning fix and are dropped too. See [[read]].
    *
    * 4 = adds per-file EXACT SUM lines for integral columns (kind
    * `sum`, keyed `col#sum` — see [[sumKey]]), computed by a
    * delta-proportional data pass at WRITE time ([[exactSums]]): the
    * statistic parquet footers do not carry but SUM/AVG aggregate
    * pushdown needs ([[graft.plans.GraftMetaAggregate]] — `SELECT
    * lang, SUM(n_tokens)` is the single most common corpus-accounting
    * query). Old-format sidecars simply carry no sum lines, so their
    * files degrade to the boundary scan, never a wrong answer — the
    * same trust ladder as formats 1→3 (nothing to DISTRUST here: a
    * line that cannot exist needs no dropping).
    *
    * 5 = str zone lines carry per-bound EXACTNESS markers (an 8th
    * field `me` of two 0/1 flags, min then max): a bound is exact when
    * the harvest's own [[StrBoundCp]] truncation did NOT fire, i.e.
    * the stored string IS a value the file holds — the precondition
    * for MIN(strcol)/MAX(strcol) aggregate pushdown (a truncated
    * prefix is a valid PRUNING bound but not a value; folding it into
    * a MIN would fabricate an answer). Str lines from format ≤ 4
    * sidecars read back with both flags FALSE — the bound stays
    * usable for pruning, the aggregate degrades to the boundary scan,
    * never a wrong answer. Trust boundary: parquet footer statistics
    * are exact under the default writer config
    * (`parquet.statistics.truncate.length` = MAX_INT; oversized
    * binary stats are DROPPED, not truncated, which poisons the
    * column here) — a writer explicitly configured to truncate footer
    * stats is outside this format's claims, like any foreign-written
    * file. */
  val FormatVersion = 5

  /** Sidecar key of column `c`'s exact per-file sum — `#` cannot
    * appear in a parquet column path (the [[RowsKey]] precedent), so
    * the key never collides with a real column's zone line. The Zone
    * under it has kind `sum`, min = max = the exact decimal sum of the
    * file's non-null values ("" when the file has none — SQL SUM's
    * NULL), and nullCount = the column's exact per-file null count
    * (with [[RowsKey]] this makes COUNT/SUM/AVG jointly decidable from
    * the one line family). */
  def sumKey(c: String): String = c + "#sum"

  /** String zones are truncated to this many CODE POINTS — bounded
    * sidecar lines no matter how long the column's values run (the
    * `text` column is whole documents). */
  val StrBoundCp = 16

  // sidecar field sentinels for str zones: esc() turns every real
  // value's '%' into "%25", so no escaped real value can collide
  private val StrNone = "%none" // all-null file (in-memory: min = null)
  private val StrInf = "%inf"   // unbounded upper (in-memory: max = null)

  /** Code-point lexicographic compare — equals UTF-8 byte order for
    * valid strings, the order Spark, parquet stats and DuckDB share. */
  private[graft] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  /** Truncate to [[StrBoundCp]] code points — a PREFIX sorts ≤ the
    * full string, so this is always a valid lower bound. */
  private[graft] def truncLower(s: String): String =
    if (s.codePointCount(0, s.length) <= StrBoundCp) s
    else s.substring(0, s.offsetByCodePoints(0, StrBoundCp))

  /** Truncated UPPER bound: when the value fits, the value itself
    * (exact); otherwise the [[StrBoundCp]]-prefix with its last
    * incrementable code point bumped (skipping the surrogate gap) and
    * the tail dropped — strictly greater than every string sharing the
    * prefix. None when every prefix code point is already U+10FFFF
    * (no finite bound exists → unbounded above). */
  private[graft] def truncUpper(s: String): Option[String] = {
    if (s.codePointCount(0, s.length) <= StrBoundCp) return Some(s)
    val cps = s.codePoints().limit(StrBoundCp).toArray
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) < Character.MAX_CODE_POINT) {
        val next = cps(i) + 1
        cps(i) =
          if (next >= Character.MIN_SURROGATE.toInt &&
            next <= Character.MAX_SURROGATE.toInt) 0xE000
          else next
        return Some(new String(cps, 0, i + 1))
      }
      i -= 1
    }
    None
  }

  // %-escape the characters that would corrupt the TAB/newline line
  // format; '%' itself is always followed by '2' in escaped output, so
  // the "%none"/"%inf" sentinels can never collide with a real value
  private def esc(s: String): String =
    s.replace("%", "%25").replace("\t", "%09")
      .replace("\n", "%0A").replace("\r", "%0D")
  private def unesc(s: String): String =
    s.replace("%0D", "\r").replace("%0A", "\n")
      .replace("%09", "\t").replace("%25", "%")

  /** Reserved pseudo-column carrying the per-file ROW COUNT (footer
    * block counts summed) — `#` cannot appear in a parquet column
    * path, so it never collides with a real column. Stored as a Zone
    * with kind `count` and min = max = the row count. */
  val RowsKey = "#rows"

  /** The file's row count, when its zones carry one (new-format
    * sidecars and fresh harvests always do; legacy sidecars don't). */
  def rowCount(cols: Map[String, Zone]): Option[Long] =
    cols.get(RowsKey).map(_.min.toLong)

  private def zonesPath(dir: String, v: Int) = new Path(s"$dir/_v$v.zones")

  /** Commits touching at most this many files harvest their footers on
    * the DRIVER thread instead of scheduling a distributed job: a
    * footer is a few KB of metadata I/O (the same class of work as the
    * manifest read the driver already does — Delta/Iceberg read commit
    * stats driver-side too), and at micro-commit scale the job's
    * scheduling latency (~100-300 ms) dwarfs the reads. Larger commits
    * keep the distributed path — cost stays ∝ delta either way. */
  private val DriverHarvestMaxFiles = 32

  /** Harvest footer stats for `relPaths` of `dir` — one footer open
    * per file, numeric leaf columns only; driver-local under
    * [[DriverHarvestMaxFiles]], distributed beyond.
    *
    * The driver-local path fans the footer opens across a small thread
    * pool: the round-17 version read them SEQUENTIALLY, which on this
    * host's slow backing store serialized 17–32 open+read latencies
    * into every micro-commit (the round-17 verdict flagged
    * doc_merge_upsert +37% banked with exactly this window). I/O-bound
    * work with per-file isolation — threads change latency, never the
    * folded result. */
  def harvest(
      spark: SparkSession, dir: String, relPaths: Seq[String])
      : Map[String, Map[String, Zone]] = {
    if (relPaths.isEmpty) return Map.empty
    val conf = new SerializableConfiguration(spark.sparkContext.hadoopConfiguration)
    if (relPaths.size <= DriverHarvestMaxFiles) {
      if (relPaths.size == 1) Map(harvestOne(dir, relPaths.head, conf))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(relPaths.size, 8))
        try {
          relPaths.map { rel =>
            pool.submit(new java.util.concurrent.Callable[(String, Map[String, Zone])] {
              def call(): (String, Map[String, Zone]) = harvestOne(dir, rel, conf)
            })
          }.map(_.get()).toMap
        } finally pool.shutdown()
      }
    } else {
      val tasks = math.max(1, math.min(relPaths.size, 64))
      spark.sparkContext.parallelize(relPaths, tasks)
        .map(rel => harvestOne(dir, rel, conf)).collect().toMap
    }
  }

  /** The per-file footer fold shared by the driver-local and
    * distributed harvest paths (serializable: called inside an RDD map). */
  private def harvestOne(
      dir: String, rel: String, conf: SerializableConfiguration)
      : (String, Map[String, Zone]) = {
      val in = HadoopInputFile.fromPath(
        new Path(MergeTable.absPath(dir, rel)), conf.value)
      val r = ParquetFileReader.open(in)
      try {
        // fold rowgroup stats up to one (min, max, hasNulls, nullCount)
        // per column; a column with any unparseable rowgroup
        // (NaN-bearing float stats are writer-dependent) is POISONED —
        // no zone, never a mis-prune. nullCount stays exact only while
        // every rowgroup reports one (−1 from any block → −1 total).
        val acc = scala.collection.mutable.LinkedHashMap
          .empty[String, (String, BigDecimal, BigDecimal, Boolean, Boolean, Long)]
        // string columns fold separately (code-point order, not decimal)
        val accS = scala.collection.mutable.LinkedHashMap
          .empty[String, (String, String, Boolean, Boolean, Long)]
        val poisoned = scala.collection.mutable.HashSet.empty[String]
        // files written under the LEGACY (Julian) datetime rebase carry
        // footer stats in the rebased calendar while Spark reads
        // proleptic-Gregorian values — their date/timestamp stats must
        // never become zones (ancient dates would mis-prune). Spark
        // marks such files explicitly.
        val legacyRebase = r.getFooter.getFileMetaData.getKeyValueMetaData
          .containsKey("org.apache.spark.legacyDateTime")
        var fileRows = 0L
        r.getFooter.getBlocks.asScala.foreach { blk =>
          fileRows += blk.getRowCount
          blk.getColumns.asScala.foreach { cc =>
            // footer stats are PHYSICAL values: for an INT32/INT64 whose
            // logical annotation is decimal/date/time/timestamp/unsigned
            // they are raw unscaled (or wrongly-ordered, for unsigned)
            // numbers, while predicates and metaAggregate speak LOGICAL
            // values — poison any annotated int column that is not a
            // plain signed int, so it is never skipped on and never
            // reported (never a wrong answer; the column just doesn't
            // prune). FLOAT/DOUBLE carry no value-changing annotations.
            val logical = cc.getPrimitiveType.getLogicalTypeAnnotation
            val plainSignedInt = logical == null || (logical match {
              case i: org.apache.parquet.schema.LogicalTypeAnnotation
                    .IntLogicalTypeAnnotation => i.isSigned
              case _ => false
            })
            // DATE and TIMESTAMP(MILLIS|MICROS) zones (round 16): their
            // physical stats ARE the epoch numbers Spark's internal
            // values use (INT32 days; INT64 instants), so the column
            // harvests as an ordinary "long" zone — normalized to
            // MICROS (Spark's internal timestamp unit; millis scale
            // exactly ×1000). NANOS stays poisoned: flooring to micros
            // would turn an exact value into a bound, and the
            // MIN/MAX-from-metadata contract needs exact values.
            // INT96 timestamps (Spark's legacy default) carry Binary
            // stats and fall through to poison as before — the engine
            // writes MICROS (see Graft.registerAll).
            val tsScale: Long = logical match {
              case t: org.apache.parquet.schema.LogicalTypeAnnotation
                    .TimestampLogicalTypeAnnotation => t.getUnit match {
                case org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimeUnit.MILLIS => 1000L
                case org.apache.parquet.schema.LogicalTypeAnnotation
                      .TimeUnit.MICROS => 1L
                case _ => 0L // NANOS: poison
              }
              case _ => 1L
            }
            val isDate = logical.isInstanceOf[org.apache.parquet.schema
              .LogicalTypeAnnotation.DateLogicalTypeAnnotation]
            val kind = cc.getPrimitiveType.getPrimitiveTypeName match {
              case PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64
                  if plainSignedInt => "long"
              case PrimitiveTypeName.INT32 if isDate && !legacyRebase => "long"
              case PrimitiveTypeName.INT64
                  if logical.isInstanceOf[org.apache.parquet.schema
                    .LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] &&
                    tsScale > 0L && !legacyRebase => "long"
              case PrimitiveTypeName.FLOAT | PrimitiveTypeName.DOUBLE => "double"
              case PrimitiveTypeName.BINARY
                  if logical.isInstanceOf[org.apache.parquet.schema
                    .LogicalTypeAnnotation.StringLogicalTypeAnnotation] => "str"
              case _ => null
            }
            val numScale: BigDecimal =
              if (logical.isInstanceOf[org.apache.parquet.schema
                .LogicalTypeAnnotation.TimestampLogicalTypeAnnotation] &&
                tsScale > 0L) BigDecimal(tsScale)
              else BigDecimal(1)
            val st = cc.getStatistics
            val name = if (cc.getPath == null) null else cc.getPath.toDotString
            if (kind == null && name != null) poisoned += name
            else if (st == null || st.isEmpty) poisoned += name
            else if (kind == "str") {
              // decode stats as UTF-8; a lossy decode (invalid bytes in
              // a string-annotated column) poisons rather than risking
              // replacement-character reordering. Footer string stats
              // may already be writer-truncated BOUNDS, which is fine —
              // zones treat them as bounds, never exact values.
              def dec(v: Any): String = {
                val bytes = v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
                val s = new String(bytes, StandardCharsets.UTF_8)
                if (java.util.Arrays.equals(
                  s.getBytes(StandardCharsets.UTF_8), bytes)) s
                else null
              }
              val blkNulls = st.getNumNulls
              val nulls = blkNulls != 0
              // same unprovable-absence guard as the numeric fold:
              // writers may drop binary min/max (e.g. oversized values)
              // while the block holds real rows — only an exact full
              // null count is evidence of all-null
              val parsed =
                if (!st.hasNonNullValue) {
                  if (blkNulls == blk.getRowCount)
                    Some((null: String, null: String))
                  else None
                }
                else {
                  val mn = dec(st.genericGetMin)
                  val mx = dec(st.genericGetMax)
                  if (mn == null || mx == null) None else Some((mn, mx))
                }
              parsed match {
                case None => poisoned += name
                case Some((mn, mx)) =>
                  val nonNull = mn != null
                  accS.get(name) match {
                    case None =>
                      accS(name) = (mn, mx, nulls, nonNull, blkNulls)
                    case Some((omn, omx, on, ov, onc)) =>
                      accS(name) = (
                        if (!nonNull) omn
                        else if (!ov || cpCompare(mn, omn) < 0) mn else omn,
                        if (!nonNull) omx
                        else if (!ov || cpCompare(mx, omx) > 0) mx else omx,
                        on || nulls, ov || nonNull,
                        if (onc < 0 || blkNulls < 0) -1L else onc + blkNulls)
                  }
              }
            }
            else {
              val blkNulls = st.getNumNulls // -1 = writer didn't record
              val nulls = blkNulls != 0     // -1 (unknown) counts as "may have"
              // min/max unset is only "all null" when the null count
              // PROVES it (== block rows): parquet-java drops
              // double/float min/max for NaN-bearing blocks that are
              // full of real rows — trusting the absence would mark a
              // live file all-null and every range scan would silently
              // skip it. Unprovable absence poisons the column instead
              // (no zone → no pruning → never a wrong row).
              val parsed =
                if (!st.hasNonNullValue) {
                  if (blkNulls == blk.getRowCount)
                    Some((null: BigDecimal, null: BigDecimal))
                  else None
                }
                else
                  try Some((BigDecimal(st.genericGetMin.toString) * numScale,
                    BigDecimal(st.genericGetMax.toString) * numScale))
                  catch { case _: NumberFormatException => None }
              parsed match {
                case None => poisoned += name
                case Some((mn, mx)) =>
                  val nonNull = mn != null
                  acc.get(name) match {
                    case None =>
                      acc(name) = (kind, mn, mx, nulls, nonNull, blkNulls)
                    case Some((k, omn, omx, on, ov, onc)) =>
                      acc(name) = (k,
                        if (!nonNull) omn else if (!ov) mn else omn.min(mn),
                        if (!nonNull) omx else if (!ov) mx else omx.max(mx),
                        on || nulls, ov || nonNull,
                        if (onc < 0 || blkNulls < 0) -1L else onc + blkNulls)
                  }
              }
            }
          }
        }
        val cols = (acc -- poisoned).toMap.map {
          case (c, (k, mn, mx, nulls, nonNull, nc)) =>
            c -> Zone(k,
              if (nonNull) mn.bigDecimal.toPlainString else "",
              if (nonNull) mx.bigDecimal.toPlainString else "", nulls, nc)
        }
        val strCols = (accS -- poisoned).toMap.map {
          case (c, (mn, mx, nulls, nonNull, nc)) =>
            // a bound is EXACT when our truncation did not fire — the
            // stored string is then a value the file holds, so it may
            // fold into a MIN/MAX aggregate, not just prune
            c -> Zone("str",
              if (nonNull) truncLower(mn) else null,
              if (nonNull) truncUpper(mx).orNull else null, nulls, nc,
              minExact =
                nonNull && mn.codePointCount(0, mn.length) <= StrBoundCp,
              maxExact =
                nonNull && mx.codePointCount(0, mx.length) <= StrBoundCp)
        }
        rel -> (cols ++ strCols + (RowsKey ->
          Zone("count", fileRows.toString, fileRows.toString, false, 0L)))
      } finally r.close()
  }

  /** EXACT per-file sums of the top-level INTEGRAL columns of
    * `relPaths` — ONE distributed aggregation job over just those
    * files (`groupBy(input_file_name)`), sums accumulated in
    * DECIMAL(38,0) so no per-file fold can overflow and the stored
    * string is exact. Integral only, deliberately: float/double sums
    * are order-dependent (fp addition is non-associative), so a
    * metadata fold could not reproduce what a scan returns bit-for-bit.
    *
    * Called from the WRITE path only (cost ∝ the commit's delta files,
    * the sidecar IVM discipline) — read-time fallbacks ([[forVersion]])
    * stay footer-only metadata I/O, so a file without a sum line
    * degrades to the aggregate rewrite's boundary scan, never to a
    * surprise data pass at query time. */
  private[graft] def exactSums(
      spark: SparkSession, dir: String, relPaths: Seq[String])
      : Map[String, Map[String, Zone]] = {
    if (relPaths.isEmpty) return Map.empty
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, sum}
    import org.apache.spark.sql.types.{ByteType, DecimalType, IntegerType, LongType, ShortType}
    val abs = relPaths.map(r => MergeTable.absPath(dir, r))
    val df = spark.read.parquet(abs: _*)
    val intCols = df.schema.fields.collect {
      case f if f.dataType == LongType || f.dataType == IntegerType ||
        f.dataType == ShortType || f.dataType == ByteType => f.name
    }.toSeq
    if (intCols.isEmpty) return Map.empty
    val aggs = intCols.zipWithIndex.flatMap { case (c, i) => Seq(
      sum(col(c).cast(DecimalType(38, 0))).as(s"__s$i"),
      count(col(c)).as(s"__n$i"))
    }
    val rows = df.groupBy(input_file_name().as("__file"))
      .agg(count(lit(1)).as("__rows"), aggs: _*)
      .collect()
    // input_file_name yields the task-side URI string; match on the
    // URI PATH so scheme/authority rendering differences can't orphan
    // a file's sums (an unmatched row is dropped — degrade, not wrong)
    val relByPath = relPaths.map { r =>
      new Path(MergeTable.absPath(dir, r)).toUri.getPath -> r
    }.toMap
    rows.toSeq.flatMap { row =>
      val p = try new java.net.URI(row.getString(0)).getPath
        catch { case _: java.net.URISyntaxException => row.getString(0) }
      relByPath.get(p).map { rel =>
        val n = row.getLong(1)
        rel -> intCols.zipWithIndex.map { case (c, i) =>
          val s = row.getDecimal(2 + 2 * i)
          val nn = row.getLong(3 + 2 * i)
          val str = if (s == null) "" else s.toPlainString
          sumKey(c) -> Zone("sum", str, str, nn < n, n - nn)
        }.toMap
      }
    }.toMap
  }

  /** Write the sidecar for version `v`: `newFiles` get harvested,
    * `carried` (file → zones read from a previous sidecar) copy by
    * reference. Call BEFORE the manifest commit. */
  def write(
      spark: SparkSession, dir: String, v: Int,
      newFiles: Seq[String],
      carried: Map[String, Map[String, Zone]] = Map.empty): Unit = {
    // sum failure degrades (files stay boundary-scannable) — a
    // statistics pass must never fail a commit
    val sums =
      try exactSums(spark, dir, newFiles)
      catch {
        case e: Exception =>
          System.err.println(s"[zones] exact-sum pass failed for $dir " +
            s"v$v (${e.getClass.getSimpleName}: ${e.getMessage}) — " +
            "sum lines omitted, SUM/AVG pushdown degrades to scan")
          Map.empty[String, Map[String, Zone]]
      }
    val all = carried ++ harvest(spark, dir, newFiles).map {
      case (rel, cols) => rel -> (cols ++ sums.getOrElse(rel, Map.empty))
    }
    val body = (s"#format\t$FormatVersion" +:
      all.toSeq.sortBy(_._1).flatMap { case (rel, cols) =>
        cols.toSeq.sortBy(_._1).map { case (c, z) =>
          if (z.kind == "str") {
            val mn = if (z.min == null) StrNone else esc(z.min)
            val mx = if (z.max == null) StrInf else esc(z.max)
            val me = (if (z.minExact) "1" else "0") +
              (if (z.maxExact) "1" else "0")
            s"$rel\t$c\t${z.kind}\t$mn\t$mx\t${z.hasNulls}\t${z.nullCount}\t$me"
          } else
            s"$rel\t$c\t${z.kind}\t${z.min}\t${z.max}\t${z.hasNulls}\t${z.nullCount}"
        }
      }).mkString("", "\n", "\n")
    // temp + rename: the sidecar's PRESENCE is a completeness signal
    // (maintained indexes use it as a version cursor), so a crash
    // mid-write must leave no half-file at the final path
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fin = zonesPath(dir, v)
    val tmp = new Path(s"$dir/._v$v.zones.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    f.delete(fin, false)
    require(f.rename(tmp, fin), s"rename $tmp -> $fin failed")
  }

  /** Read version `v`'s sidecar; None when absent (pre-zones version —
    * callers fall back to [[harvest]]). */
  def read(
      spark: SparkSession, dir: String, v: Int)
      : Option[Map[String, Map[String, Zone]]] = {
    val f = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val p = zonesPath(dir, v)
    if (!f.exists(p)) None
    else {
      val lines = MergeTable.readText(f, p).split("\n").toSeq.filter(_.nonEmpty)
      // "#format\t<N>" header (format 2+: str zones, %-escaped fields,
      // poisoning-safe long zones). A headerless sidecar predates the
      // logical-type poisoning fix, so its `long` lines may hold RAW
      // PHYSICAL values for decimal/date/timestamp columns — drop them
      // (those columns degrade to unprunable/re-harvest, never a
      // mis-prune); `double`/`count` lines were always logical-safe.
      val fmt = lines.headOption
        .filter(_.startsWith("#format\t"))
        .map(_.split("\t")(1).toInt).getOrElse(1)
      val zoneLines = lines.filterNot(_.startsWith("#format\t"))
      Some(zoneLines.map { l =>
        val a = l.split("\t", -1)
        require(a.length >= 6 && a.length <= 8, s"corrupt zones line: $l")
        // 6 fields = legacy (pre-nullCount) sidecar → nullCount unknown
        val nc = if (a.length >= 7) a(6).toLong else -1L
        if (a(2) == "str") {
          val mn = if (a(3) == StrNone) null else unesc(a(3))
          val mx = if (a(4) == StrInf || a(4) == StrNone) null else unesc(a(4))
          // format 5 str lines carry the exactness pair; older formats
          // read back inexact (pruning unaffected, min/max pushdown
          // degrades to the boundary scan)
          val (me, xe) =
            if (a.length == 8 && fmt >= 5) (a(7)(0) == '1', a(7)(1) == '1')
            else (false, false)
          (a(0), a(1), Zone(a(2), mn, mx, a(5).toBoolean, nc, me, xe))
        } else
          (a(0), a(1), Zone(a(2), a(3), a(4), a(5).toBoolean, nc))
      }.filterNot(r => fmt < 2 && r._3.kind == "long")
        // format < 3: all-null claims predate the proven-absence
        // harvest (NaN-bearing double blocks / oversized-binary str
        // blocks can read as all-null) — drop them so range scans,
        // null probes and metadata aggregates degrade to re-harvest
        // or keep-the-file instead of silently skipping live rows
        .filterNot(r => fmt < 3 && r._3.kind != "count" && r._3.allNull)
        .groupBy(_._1).map { case (rel, rows) =>
          rel -> rows.map(r => r._2 -> r._3).toMap
        })
    }
  }

  /** Zones of version `v`, restricted to `relPaths` — sidecar when
    * present, footer harvest otherwise. */
  def forVersion(
      spark: SparkSession, dir: String, v: Int, relPaths: Seq[String])
      : Map[String, Map[String, Zone]] =
    read(spark, dir, v) match {
      case Some(m) =>
        val wanted = relPaths.toSet
        val missing = relPaths.filterNot(m.contains)
        m.filter { case (rel, _) => wanted.contains(rel) } ++
          harvest(spark, dir, missing)
      case None => harvest(spark, dir, relPaths)
    }
}
