package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Formatted physical plans of registered queries, in two modes over
  * one engine session:
  *
  *  - `PlanDump <sfDir> <out.md>` writes the curated PLANS.md narrative
  *    over [[Headline]] — the evidence that scans prune/push, dims
  *    broadcast, top-k avoids global sorts, and LSH avoids cartesian
  *    products. PLANS.md is generated against the sf0.01 testdata.
  *  - `PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>` writes one file
  *    per named query, `<outDir>/<query>_<suffix>.txt`, holding the
  *    `.explain("formatted")` string, [[stable]] — the optimization-round
  *    evidence trail (`plans/r<N>/<query>_{before,after}.txt`), so
  *    before/after pairs can be generated from two checkouts.
  */
object PlanDump {
  val Headline = Seq(
    "q01_filter_scan"  -> "filter + projection pushdown into the parquet scan",
    "q04_join_star"    -> "star join: all dimensions broadcast, no fact shuffle",
    "q09_topk"         -> "global top-k as TakeOrderedAndProjectCollect: per-partition heaps in one job, no full sort",
    "knn_top5"         -> "vector search: codegen cosine + TakeOrderedAndProjectCollect",
    "dedup_minhash_lsh" -> "banded LSH: band-bucket join, no CartesianProduct",
    "q17_tumbling_window" -> "event-time window agg with partial aggregation",
    "q30_grouped_topk"  -> "typed top-k Aggregator: bounded map-side buffers, no window sort of the fact",
    "q31_sessionize"    -> "gap sessionization: one user_id shuffle feeds both window passes and the final agg",
    "doc_sample_hash"   -> "deterministic hash sampling: scan-local filter, zero shuffles before the sample",
    "doc_pii_scrub"     -> "PII masking: single projection over the scan, codegen'd regexp chain, no UDF",
    "dedup_contamination" -> "contamination: train side reduced to distinct hashes, no doc-pair space",
    "knn_quantized_rerank_top5" -> "two-tier ANN: int8 byte-dot scan feeds a k*overfetch exact re-rank",
    "q37_asof_native" -> "native as-of join: AsOfJoinExec merge pass, one exchange+sort per side, no window buffering",
    "split_overlap_kmv" -> "KMV overlap audit: ObjectHashAggregate partial sketches per split, tiny broadcast self-join of 3 sketch rows, no token-set join",
    "doc_substring_search" -> "trigram substring index: isin-filtered posting scan + HAVING-count candidates + contains verify, no full-corpus LIKE scan",
    "doc_substring_standing" -> "PUBLISHED standing substring index: bucketed-by-trigram catalog table, tg IN (...) bucket-prunes the posting scan (SelectedBucketsCount < total)",
    "q44_bloom_join" -> "bloom-prefiltered star join: dim-key sketch probe filters the fact scan BELOW the join, before its shuffle",
    "q42_pit_features" -> "point-in-time feature enrichment: two chained AsOfJoin merge passes, no window buffering, staleness folded into the second",
    "doc_bloomskip_scan" -> "bloom point lookup: the parquet scan's file list is sidecar-pruned BEFORE planning — the scan node reads only the probes' candidate files, the IN predicate pushes into it",
    "doc_k_anonymity" -> "k-anonymity gate: map-side-combined combination profile, data rows stream through a BroadcastHashJoin — no row shuffle",
    "doc_expectations" -> "expectations report: every row+unique rule folds into ONE aggregation over ONE scan; each FK rule is one anti-join against broadcast distinct dim keys",
    "doc_keywords_tfidf" -> "TF-IDF keywords: map-side-combined (doc,term) counts, term-keyed df join, per-doc top-k window — only (doc,term,score) triples shuffle, never text",
    "doc_corpus_card" -> "dataset card: ALL scalar metrics (volume/length/dup/quality) in ONE map-side-combined agg over one scan, language mix as one bounded group-by",
    "doc_zorder_scan" -> "z-order clustered scan: the scan's file list is zone-pruned on BOTH clustered columns before planning; the conjunctive predicate pushes into the surviving files",
    "doc_sql_pruned_scan" -> "the graft DataSource: a RowDataSourceScan whose PushedFilters drove zone/string-zone file skipping inside the relation — the lakehouse read path reached from plain SQL",
    "doc_dv_delete" -> "merge-on-read delete read: the pending-ledger anti-join (broadcast, key-only build side) above the data scan — zero data files were rewritten by the delete commit",
    "doc_table_history" -> "DESCRIBE HISTORY: a parallelized constant — the whole answer came from manifests + zone sidecars on the driver, zero table scan nodes",
    "doc_card_incremental" -> "incremental dataset card: cell-state folds only — the scans read the two frozen cell frames and the touched buckets, never the whole corpus",
    "doc_profile_incremental" -> "incremental table profile: one fold over maintained metric cells; the only corpus read is the changed-bucket rebuild",
    "doc_meta_agg_sql" -> "SQL aggregate pushdown: the whole COUNT/MIN/MAX query collapsed to a LocalRelation answered from the zone sidecar — zero scan nodes",
    "doc_meta_count_hybrid" -> "hybrid filtered count: files fully inside the range counted from metadata (a literal in the plan), ONLY the straddling boundary files scanned through the subset-scoped relation",
    "doc_meta_count_or" -> "disjunctive hybrid count: the Or lattice decides per file per disjunct; boundary-cut files scan, the decided mass never generates a task",
    "doc_meta_count_by_lang" -> "grouped metadata counts: lang-constant files attribute their sidecar row counts per group; only run-boundary files scan, merged by one Union + re-aggregation",
    "doc_meta_minmax_by_lang" -> "grouped metadata MIN/MAX (round 14): group-constant files contribute zone extremes exactly; mixed files merge through the Union re-aggregation",
    "doc_meta_minmax_filtered" -> "filtered MIN/MAX over the FullyIn/Boundary lattice (round 14): zone extremes fold into Least/Greatest literals around the boundary files' exact scan",
    "doc_meta_count_ledger" -> "ledger-aware hybrid count (round 14): a live merge-on-read ledger confines the scan to the ledgered buckets' files; every other bucket counts from metadata",
    "doc_meta_count_by_lang_source" -> "multi-key grouped metadata aggregate (round 14): files constant in BOTH group columns (the clusterByCols lexicographic layout) answer from the sidecar; only run-boundary files scan through the Union merge",
    "doc_meta_distinct_sources" -> "COUNT(DISTINCT) pushdown (round 14): constant files contribute their single sidecar value; only value-spanning / filter-boundary files scan their distinct values into the Union + distinct COUNT merge",
    "doc_meta_sum" -> "SUM/AVG pushdown (round 15): the whole query collapsed to a LocalRelation answered from the sidecar's format-4 exact per-file sum lines — zero scan nodes",
    "doc_meta_sum_filtered" -> "filtered SUM/AVG hybrid (round 15): FullyIn files fold their exact sum lines into literals; only the range-straddling boundary files scan, AVG merges as (sum_meta+sum_scan)/(count_meta+count_scan)",
    "doc_meta_sum_by_lang" -> "grouped SUM/AVG (round 15): lang-constant files attribute their exact sum lines per group; run-boundary files scan and one Union re-aggregation SUMs the partial sums",
    "doc_topk_pruned" -> "zone-pruned global top-k (round 15): ORDER BY n_chars DESC LIMIT 10 scans only the files the running 10th bound admits; TakeOrderedAndProjectCollect over the subset, no full-corpus sort",
    "events_meta_ts_minmax" -> "timestamp metadata ladder (round 16): MIN(ts)/MAX(ts)/COUNT over the ts-clustered events table collapse to a LocalRelation — epoch-micros zones answer the span audit with zero scan, unix_micros wrappers evaluated in the rewrite",
    "events_topk_recent" -> "ts-ordered top-k (round 16): ORDER BY ts DESC LIMIT 10 reads only the files whose ts-zone max reaches the 10th bound — the recency query touches the tail slab, not the table",
    "events_meta_per_week" -> "time-derived grouped pushdown (round 16): GROUP BY CAST(date_trunc('week', ts) AS DATE) — week-constant files contribute counts from the sidecar (monotone floors make endpoint equality prove constancy), only week-straddling files scan through the Union's boundary branch",
    "doc_topk_multikey" -> "multi-key lexicographic top-k (round 16): ORDER BY lang, n_chars DESC LIMIT 10 composes BOTH columns' zones on the (lang, n_chars) clusterByCols layout — the tuple fold excludes first-language files past the k-th bound that the single-key fold must keep")

  /** The plan the session runs `name` under, as `.explain("formatted")`
    * prints it (scan details: PushedFilters/ReadSchema), [[stable]]. */
  private def plan(spark: SparkSession, sfDir: String, name: String): String =
    stable(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode))

  /** What changes between JVMs at one commit, masked so two dumps of one
    * commit are byte-identical and a diff between commits shows only
    * plan changes: expression ids (`#12` → `#x`, as Spark's
    * `PlanStabilitySuite` masks them), exchange `plan_id`s, RDD ids,
    * object identity hashes (`SQLContext@3d4d0260`), the process id
    * in IVM temp paths (`graft-ivm-<pid>-…`) and the write-job UUID in
    * parquet file names. */
  private def stable(plan: String): String = Masks.foldLeft(plan) { case (s, (re, to)) =>
    re.replaceAllIn(s, to)
  }

  private val Masks = Seq(
    "#\\d+".r -> "#x",
    "plan_id=\\d+".r -> "plan_id=x",
    "RDD\\[\\d+\\]".r -> "RDD[x]",
    "(?<=[A-Za-z0-9_$])@[0-9a-f]{4,8}\\b".r -> "@x",
    "graft-ivm-\\d+-".r -> "graft-ivm-<pid>-",
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r -> "<uuid>")

  private def narrative(spark: SparkSession, sfDir: String, out: String): Unit = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of headline queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` against `$sfDir`. What to look for\n")
    sb.append("per plan is noted above each block.\n")
    Headline.foreach { case (name, note) =>
      sb.append(s"\n## $name\n\n$note\n\n```\n")
      sb.append(plan(spark, sfDir, name).linesIterator.take(80).mkString("\n"))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"[plans] wrote $out")
  }

  private def perQuery(
      spark: SparkSession, sfDir: String, outDir: String, suffix: String,
      names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan(spark, sfDir, name))
      println(s"[plandump] $outDir/${name}_$suffix.txt")
    }
  }

  def main(args: Array[String]): Unit = {
    val dump: SparkSession => Unit = args match {
      case Array(sfDir, outDir, suffix, names) =>
        perQuery(_, sfDir, outDir, suffix, names.split(",").map(_.trim).filter(_.nonEmpty))
      case Array(sfDir, out) => narrative(_, sfDir, out)
      case _ => sys.error(
        "usage: PlanDump <sfDir> <out.md> | PlanDump <sfDir> <outDir> <suffix> <q1,q2,...>")
    }
    val spark = Graft.session()
    try dump(spark) finally spark.stop()
  }
}
