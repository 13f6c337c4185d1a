package graft.pipeline

import java.nio.charset.StandardCharsets
import java.util.Base64

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.DataType

import graft.expr.BloomExpr

/** Per-file BLOOM FILTER sidecars for [[MergeTable]] versions — the
  * data-skipping index for EQUALITY lookups that [[ZoneMaps]] cannot
  * serve: point/`IN` predicates on high-cardinality or string columns,
  * where a [min, max] zone of a hash-laid file spans everything and
  * prunes nothing (the Delta Lake "bloom filter index" move).
  *
  * One constant-size Bloom sketch per (file, indexed column), built in
  * ONE distributed column-pruned pass (rows grouped by
  * `input_file_name`, values folded through the engine's own mergeable
  * [[graft.expr.BloomExpr]] aggregate — only sketch bytes cross the
  * wire). A probe for `col IN (v₁…vₙ)` then skips every file whose
  * sketch rejects ALL probe values, BEFORE any scan task launches.
  * False positives only cost a read; a false negative is impossible, so
  * pruning is a superset pass and [[readWhereEq]]-style consumers stay
  * exact under any layout. Files without a sketch (a
  * pre-index version, a column added later) are never skipped — absence
  * of evidence never prunes, the [[ZoneMaps]] rule.
  *
  * Sidecar `_v<N>.blooms.<col>` next to the version's manifest, text
  * lines `relpath TAB base64(sketch)`. At fpp 0.01 a 10⁶-row file
  * carries a ~1.2 MB sketch; the driver holds O(files) of them only
  * while deciding the skip — the same order as the manifest itself.
  *
  * Incremental discipline: [[refresh]] copies carried-forward files'
  * sketch lines BY REFERENCE from the previous sidecar and scans only
  * the files the merge actually wrote — index maintenance ∝ delta,
  * the house IVM rule applied to statistics (ZoneMaps' contract; the
  * spec pins byte-identical carried lines).
  *
  * Unlike zone maps (free from parquet footers), a Bloom index costs
  * one pass over the indexed column — so it is OPT-IN per column via
  * [[build]], not auto-written by every merge (Delta's design for the
  * same reason).
  */
object FileBlooms {

  private def sidecarPath(dir: String, v: Int, column: String): Path = {
    require(column.matches("[A-Za-z0-9_]+"), s"unindexable column name: $column")
    new Path(s"$dir/_v$v.blooms.$column")
  }

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Build the sidecar for `column` at `version` (default: latest).
    * `fpp` is the per-file false-positive budget at the file's actual
    * row count: sketches are sized to the version's LARGEST file (one
    * cheap column-pruned count pass first), so smaller files only come
    * in under budget. Returns the indexed version. */
  def build(
      spark: SparkSession, dir: String, column: String,
      fpp: Double = 0.01, version: Int = -1): Int = {
    val v = if (version > 0) version else MergeTable.latestVersion(spark, dir)
    val rel = MergeTable.fileIndex(spark, dir, v).values.flatten.toSeq.sorted
    writeSidecar(spark, dir, v, column, fpp, newRel = rel, carried = Map.empty)
    v
  }

  /** Advance the index across a merge: carried-forward files (present
    * in BOTH `fromVersion`'s sidecar and `toVersion`'s manifest) copy
    * their sketch lines by reference; only `toVersion`'s new files get
    * the build pass. */
  def refresh(
      spark: SparkSession, dir: String, column: String,
      fromVersion: Int, toVersion: Int, fpp: Double = 0.01): Unit = {
    val prior = read(spark, dir, column, fromVersion).getOrElse(
      throw new IllegalStateException(
        s"no bloom sidecar for $column at v$fromVersion of $dir — build() first"))
    val rel = MergeTable.fileIndex(spark, dir, toVersion).values.flatten.toSet
    val carried = prior.filter { case (r, _) => rel.contains(r) }
    val fresh = (rel -- carried.keySet).toSeq.sorted
    writeSidecar(spark, dir, toVersion, column, fpp, fresh, carried)
  }

  private def writeSidecar(
      spark: SparkSession, dir: String, v: Int, column: String, fpp: Double,
      newRel: Seq[String], carried: Map[String, Array[Byte]]): Unit = {
    val built: Map[String, Array[Byte]] =
      if (newRel.isEmpty) Map.empty
      else {
        val rows = MergeTable.readRel(spark, dir, newRel)
          .select(input_file_name().as("__f"),
            xxhash64(col(column)).as("__h"))
        // capacity = the largest file's row count: bloom_agg sizes all
        // groups from one literal, and an UNDERsized sketch silently
        // exceeds fpp (never wrong, but worth a budget the spec can pin)
        val cap = math.max(64L,
          rows.groupBy(col("__f")).count().agg(max(col("count"))).head().getLong(0))
        val perFile = rows.groupBy(col("__f"))
          .agg(BloomExpr.bloomAgg(col("__h"), cap, fpp).as("bf"))
          .collect()
        perFile.map { r =>
          val abs = r.getString(0)
          // input_file_name is a URI; the manifest speaks dir-relative
          val relPath = newRel.find(p => abs.endsWith(p)).getOrElse(
            throw new IllegalStateException(s"scanned file $abs not in manifest"))
          relPath -> r.getAs[Array[Byte]](1)
        }.toMap
      }
    val all = carried ++ built
    val body = all.toSeq.sortBy(_._1).map { case (r, bytes) =>
      s"$r\t${Base64.getEncoder.encodeToString(bytes)}"
    }.mkString("", "\n", "\n")
    // temp + rename: maintained BloomIndex uses this sidecar's PRESENCE
    // as its version cursor, so a crash mid-write must never leave a
    // torn file at the final path (it would make version() report the
    // version complete and poison every later read)
    val f = fs(spark, dir)
    val fin = sidecarPath(dir, v, column)
    val tmp = new Path(s"$dir/._v$v.blooms.$column.tmp")
    val out = f.create(tmp, true)
    try out.write(body.getBytes(StandardCharsets.UTF_8)) finally out.close()
    f.delete(fin, false)
    require(f.rename(tmp, fin), s"rename $tmp -> $fin failed")
  }

  /** Columns with a bloom sidecar at (`dir`, `v`). */
  def indexedColumns(spark: SparkSession, dir: String, v: Int): Seq[String] = {
    val f = fs(spark, dir)
    val d = new Path(dir)
    if (!f.exists(d)) Seq.empty
    else f.listStatus(d).toSeq.map(_.getPath.getName)
      .collect { case n if n.startsWith(s"_v$v.blooms.") =>
        n.stripPrefix(s"_v$v.blooms.") }
      .sorted
  }

  /** Carry EVERY bloom sidecar of (`src`, `v`) into (`dst`, `dstV`),
    * re-keying each file line through `rekey` — the shallow-clone move:
    * a sketch describes a FILE's contents, and the clone borrows the
    * files themselves, so the sketches carry byte-identical (zero
    * column passes; point lookups on a fresh clone prune exactly like
    * on the source). Returns the carried columns. */
  def carryAll(
      spark: SparkSession, src: String, v: Int, dst: String, dstV: Int,
      rekey: String => String): Seq[String] = {
    val cols = indexedColumns(spark, src, v)
    cols.foreach { c =>
      val lines = read(spark, src, c, v).getOrElse(Map.empty)
        .map { case (rel, bytes) => rekey(rel) -> bytes }
      writeSidecar(spark, dst, dstV, c, fpp = 0.01,
        newRel = Seq.empty, carried = lines)
    }
    cols
  }

  /** The sidecar for (`column`, `v`); None when absent (unindexed —
    * callers keep every file). */
  def read(
      spark: SparkSession, dir: String, column: String, v: Int)
      : Option[Map[String, Array[Byte]]] = {
    val f = fs(spark, dir)
    val p = sidecarPath(dir, v, column)
    if (!f.exists(p)) None
    else Some(MergeTable.readText(f, p).split("\n").toSeq.filter(_.nonEmpty).map { l =>
      val a = l.split("\t", -1)
      require(a.length == 2, s"corrupt blooms line: ${l.take(80)}")
      a(0) -> Base64.getDecoder.decode(a(1))
    }.toMap)
  }

  /** The file-skipping decision for `column IN (values)` at `version`:
    * (files kept, total files). A file survives when its sketch might
    * contain ANY probe value — or when it has no sketch. */
  def prunedFilesEq(
      spark: SparkSession, dir: String, column: String, values: Seq[Any],
      version: Int = -1): (Seq[String], Int) =
    MergeTable.snapshot(spark, dir, version).pruned(MergeTable.EqBound(column, values))

  /** The keep function of `column IN (values)` against `s`'s sidecar
    * (keep-all while the column is unindexed). */
  private[pipeline] def keepEq(
      s: MergeTable.Snapshot, column: String, values: Seq[Any]): String => Boolean =
    s.blooms(column) match {
      case None => _ => true
      case Some(sketches) =>
        val dt = s.schema(column).dataType
        val probe = values.map(probeHash(_, dt))
        r => sketches.get(r).forall(bf => probe.exists(bf.mightContainLong))
    }

  /** A probe value's sketch hash, evaluated on the driver through the
    * SAME expression the build used — `xxhash64` of the value cast to
    * the column's table type `dt`, in the session time zone — so engine
    * and sidecar can never disagree on a hash. */
  private[graft] def probeHash(v: Any, dt: DataType): Long =
    new XxHash64(Seq(Cast(Literal(v), dt, Some(SQLConf.get.sessionLocalTimeZone))))
      .eval().asInstanceOf[Long]

  /** Bloom-pruned equality scan: read only the files whose sketch
    * might hold one of `values`, then apply the exact predicate —
    * exact under any layout or sidecar presence (the
    * [[MergeTable.readWhereBounds]] contract for point lookups). */
  def readWhereEq(
      spark: SparkSession, dir: String, column: String, values: Seq[Any],
      version: Int = -1): DataFrame =
    MergeTable.readWhereBounds(spark, dir, Seq(MergeTable.EqBound(column, values)), version)
}
