package graft.ops

import org.apache.spark.sql.SparkSession

/** Delta-sized shuffle widths WITHOUT session-conf mutation (round-16
  * verdict ask #3 + the round-15 ADVICE on pageRank's conf scope).
  *
  * The IVM refresh family's unit of work is a version transition whose
  * row volume is known (or metadata-boundable) up front, yet every
  * `groupBy`/`join` exchange inside it plans at the SESSION's
  * `spark.sql.shuffle.partitions` — at sf0.1 that schedules ~1,000
  * near-empty tasks per refresh (32 partitions × ~30 small jobs), and
  * on a 2,000-partition production session a micro-commit refresh
  * would schedule millions. Tasks must scale with data, not with the
  * session a query happens to run on.
  *
  * pageRank (round 14) solved this by mutating the session conf inside
  * a try/finally — correct for the bench's single-writer sessions, but
  * a CONCURRENT query on the same session during the scope plans at
  * the clamped width (round-15 ADVICE). This helper instead hands back
  * an ISOLATED session (`newSession`: same SparkContext, same shared
  * state — caches carry — fresh conf) with the width pre-set, so the
  * caller's session is never touched.
  *
  * Carried vs not: optimizer/planner EXTENSIONS carry into a new
  * session (they live on the SparkSession constructor); SQL-REGISTERED
  * functions do not (fresh `FunctionRegistry`) — sized bodies must
  * stay on the Column/`functions._`/`expr` built-in surface, which the
  * whole refresh family does.
  */
object SizedSession {

  /** Rows one shuffle partition of narrow derived rows comfortably
    * holds. Sized for the refresh family's worst explode factor (a
    * document row fans out into up to ~10^3 trigram/posting rows of
    * tens of bytes): 8 Ki input rows ≈ ≤8 M derived rows ≈ a few
    * hundred MB per partition. [[graft.ops.Graph.RowsPerPartition]]
    * stays separate (4 Mi) — edge rows don't explode. */
  val RefreshRowsPerPartition: Long = 8L * 1024

  /** Rows per partition for CPU-HEAVY derives (minhash signing ≈ 32
    * hash passes over every shingle; winnowing ≈ a rolling-hash scan
    * of the whole text): width must track COMPUTE, not shuffle volume,
    * or a medium delta runs its dominant stage on 2 of 32 cores
    * (measured round 17: the 8 Ki volume sizing halved BandsRefresh
    * throughput at 4 cores). 512 rows/partition keeps a ~10 Ki-row
    * delta at ~20-way parallelism while a true micro-commit still
    * collapses to one task. */
  val CpuHeavyRowsPerPartition: Long = 512L

  /** The width `rows` rows deserve on this session: ceil(rows/rpp),
    * clamped to [1, session default] — a genuinely large delta keeps
    * full parallelism, a micro-commit gets 1. */
  def widthFor(spark: SparkSession, rows: Long, rowsPerPartition: Long): Int = {
    val sessionParts = sessionWidth(spark)
    math.max(1L, math.min(sessionParts.toLong,
      (rows + rowsPerPartition - 1) / rowsPerPartition)).toInt
  }

  private def sessionWidth(spark: SparkSession): Int =
    spark.conf.getOption("spark.sql.shuffle.partitions").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** Sized sessions are CACHED and REUSED per (parent, width, confs) —
    * one `newSession()` per distinct width, not per refresh call. This
    * is not an allocation nicety: Spark 4 gives every session its own
    * EXECUTOR-SIDE artifact state, i.e. its own classloader, and the
    * whole-stage-codegen compile cache is keyed by
    * `(ClassLoader weakref, source)` (see `CodeGenerator.cache`). A
    * fresh session per refresh therefore guaranteed a codegen-cache
    * MISS for every task-side compile of every refresh execution —
    * measured: ~40 Janino compiles ≈ 650 ms PER EXECUTION of each IVM
    * query, with every task of the compiling stage blocked on the
    * cache's load lock (the round-17 "degraded JVM" taskSum ≫ CPU
    * signature). Reusing the session reuses the classloader and the
    * compiled classes. Sessions are never conf-mutated after creation
    * (confs are part of the cache key), so sharing is safe. The cache
    * is keyed WEAKLY on the parent instance (a child holds no reference
    * to its parent), so a parent's children are freed with it. */
  private val cached =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.Map[(Int, Map[String, String]), SparkSession]]()

  /** An isolated session whose shuffle width is sized for `rows`.
    * Returns the CALLER's session unchanged when the sized width
    * already equals the session width (no isolation overhead), or when
    * `rows` is unknown (None — legacy sidecars without row counts):
    * unknown volume must never silently under-parallelize.
    *
    * `newSession` means a FRESH SessionState: the caller's runtime
    * confs don't carry on their own, so a sized refresh writing
    * timestamps would silently revert to INT96 output and
    * ANSI/timezone-sensitive expressions could diverge from the
    * caller's semantics (round-16 ADVICE). Every runtime-modifiable
    * conf of the caller is therefore copied into the sized session,
    * except the shuffle width — overriding it is the whole point.
    * `extraConfs` are applied on top at creation and participate in the
    * reuse key — callers must NOT mutate the returned session's conf. */
  def forRows(
      spark: SparkSession, rows: Option[Long],
      rowsPerPartition: Long = RefreshRowsPerPartition,
      extraConfs: Map[String, String] = Map.empty): SparkSession =
    rows match {
      case None => spark
      case Some(r) =>
        val p = widthFor(spark, r, rowsPerPartition)
        if (p >= sessionWidth(spark) && extraConfs.isEmpty) spark
        else {
          val carried = spark.conf.getAll.filter { case (k, _) =>
            k != "spark.sql.shuffle.partitions" && spark.conf.isModifiable(k)
          }
          // NOTE (round 18): defaulting AQE OFF here was tried and
          // REVERTED — the refresh family got slightly slower
          // (doc_neardup_incremental 2.9 → 3.5 s), because AQE's
          // runtime coalescing still compacts the merge path's
          // intermediate shuffles below the sized width. Callers that
          // genuinely want it off (pageRank's clamped tiny graph) pass
          // it via extraConfs.
          val confs = carried ++ extraConfs
          cached.synchronized {
            val children = cached.computeIfAbsent(spark,
              _ => scala.collection.mutable.HashMap.empty)
            children.getOrElseUpdate((p, confs), {
              val s = spark.newSession()
              confs.foreach { case (k, v) => s.conf.set(k, v) }
              s.conf.set("spark.sql.shuffle.partitions", p.toString)
              s
            })
          }
        }
    }

  /** [[forRows]] sized by the metadata-only changed-bucket row bound
    * of a MergeTable version transition — the refresh family's
    * standard entry point: zero data I/O to size, caller session
    * untouched. */
  def forDelta(
      spark: SparkSession, dir: String, fromVersion: Int, toVersion: Int,
      rowsPerPartition: Long = RefreshRowsPerPartition): SparkSession =
    forRows(spark,
      graft.pipeline.MergeTable.changedRowsBound(
        spark, dir, fromVersion, toVersion),
      rowsPerPartition)
}
