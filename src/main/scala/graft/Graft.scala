package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: session construction with the engine's
  * recommended settings, and SQL registration of the custom functions.
  */
object Graft {

  /** Register the engine's SQL surface on an existing session:
    * `split_text` (LATERAL VIEW generator), `dot_product`, `l2_norm`,
    * `cosine_similarity` (codegen expressions), and the curation
    * functions (`mask_pii`, `sanitize_text`, `quality_score`,
    * `lang_id`, `token_count`, `fingerprint`, `hash_priority`,
    * `z_value`, …) — see `graft.ops.CurationFunctions`. */
  def registerAll(spark: SparkSession): SparkSession = {
    GraftFunctions.registerTemp(spark, GraftFunctions.all)
    // the lambda-invariant hoist runs in the "User Provided Optimizers"
    // batch — after the pushdown/inlining batches whose rewrites create
    // the shape it repairs (see HoistLambdaInvariants; the extensions
    // path injects the same rule as a pre-CBO rule)
    if (!spark.experimental.extraOptimizations.contains(graft.plans.HoistLambdaInvariants))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.HoistLambdaInvariants
    // metadata-only COUNT/MIN/MAX over graft tables collapse to their
    // zone-sidecar answer (zero data scan) — see GraftMetaAggregate
    if (!spark.experimental.extraOptimizations.contains(graft.plans.GraftMetaAggregate))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.GraftMetaAggregate
    // ORDER BY + LIMIT over graft tables scans only the files the
    // k-th bound admits; bare LIMIT serves from the fewest clean files
    if (!spark.experimental.extraOptimizations.contains(graft.plans.GraftTopK))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.GraftTopK
    // a collected root ORDER BY + LIMIT runs as one job of plain task
    // functions, not RDD.takeOrdered's cleaned closures
    if (!spark.experimental.extraStrategies.contains(graft.plans.TopKCollectStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.TopKCollectStrategy
    // MergeTable reads hand Spark EXPLICIT file lists (manifest-named,
    // typically 16-64 paths). Below this threshold Spark stats the
    // paths on the driver; above it, it schedules a distributed
    // file-listing JOB whose scheduling latency (~100-300 ms) dwarfs
    // the per-path getFileStatus (~0.1 ms local, ~1-5 ms object store)
    // at these counts. 128 keeps every manifest-sized read driver-side
    // while genuinely large directory trees (1000s of paths — e.g. a
    // user pointing spark.read at a raw lake prefix) still distribute.
    // registerAll IS the engine's session setup (as with
    // outputTimestampType below) — a caller can set it back afterwards.
    spark.conf.set(
      "spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
    // the engine writes timestamps as INT64 MICROS, not Spark's legacy
    // INT96 default (round 16): INT96 is deprecated, carries NO usable
    // footer statistics (Binary blobs), and would leave every
    // event-time column outside the zone sidecar — MIN(ts)/MAX(ts)
    // pushdown, ts-range file pruning and ORDER BY ts LIMIT k all need
    // the micros stats. registerAll IS the engine's session setup; a
    // caller who needs INT96 interop can set it back afterwards.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    spark
  }

  /** Whole-stage-codegen compile cache size ([[staticConfigs]]): Spark's
    * default keeps only 100 generated classes. An engine session runs
    * hundreds of distinct plan shapes (this repo's own suite: 182
    * queries × ~10 codegen units), so the default cache thrashes and
    * stages RECOMPILE on every execution — a recompile is a ~100-500 ms
    * Janino pass during which EVERY task of the stage blocks on the
    * cache's load lock (measured: 16-task refresh jobs with taskSum ≈
    * 16 × compile wait at ~10% CPU; round-17 BASELINE.md correlated the
    * same churn with its degraded-JVM rows). 4096 entries ≈ tens of MB
    * of class metadata — cheap next to the recompiles. */
  val CodegenCacheMaxEntries = 4096

  /** STATIC confs every graft session should be built with (static =
    * only settable at session construction; `registerAll` cannot apply
    * them to a live session). [[session]] builds with them. */
  val staticConfigs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> CodegenCacheMaxEntries.toString,
    // Embedding the codegen-stage id in the generated CLASS NAME (a
    // debuggability default) makes byte-identical stages compile to
    // DIFFERENT sources whenever a stage lands at a different position
    // in a re-planned query (AQE re-optimizes per execution; the IVM
    // refresh family re-plans per version transition) — every such
    // stage misses the compile cache and pays a fresh ~100-500 ms
    // Janino pass with all its tasks blocked. Stable class names make
    // re-executions cache-hit; stage ids remain visible in the plan
    // and metrics either way. (Builder-level so `newSession()` sized
    // sessions inherit it.)
    "spark.sql.codegen.useIdInClassName" -> "false")

  /** Register every testdata table of a scale-factor directory as a
    * temp view, giving the full `spark.sql` surface over the corpus
    * (the events view comes pre-converted from nanos). */
  def registerTables(spark: SparkSession, sfDir: String): SparkSession = {
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    spark
  }

  /** Local cores an engine session runs on: `SPARK_GRAFT_CPUS` when
    * set, else every available processor. */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Build a session tuned for this engine: AQE on (runtime coalescing
    * + skew-join splitting), runtime bloom-filter join pruning on (a
    * selective dim predicate prunes the fact side before its shuffle —
    * engagement proven in `AdaptiveExecSpec`), shuffle width matched to
    * local cores, UTC timezone (oracle parity), functions registered.
    * `cores` maps to `local[cores]` for local runs; on a cluster pass a
    * master URL via `spark.master` externally and use [[registerAll]]
    * instead. */
  def session(cores: Int = Graft.cores): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(staticConfigs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    registerAll(s)
  }
}
