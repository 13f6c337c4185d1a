package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Checkpointing, Dedup}

/** Incremental near-duplicate CLUSTER maintenance — connected
  * components over the similarity-pair graph as a standing view,
  * refreshed through a corpus version transition without recomputing
  * the world. The missing top of the incremental dedup stack: the
  * band index ([[BandsRefresh]]) maintains candidate PAIRS; this
  * maintains the CLUSTERS (and hence the survivor set) they imply.
  *
  * Why this is the hard IVM case: connected components is a GLOBAL
  * fixpoint — an inserted document can MERGE two standing clusters,
  * and a deleted/rewritten document can SPLIT one (its edges vanish;
  * nothing "subtracts" a merge). Signed-delta IVM cannot express
  * either. The refresh instead localizes the fixpoint:
  *
  *  1. delta docs = pre+post images of [[MergeTable.rowDeltas]];
  *  2. new pairs = exact-Jaccard pairs between changed docs and the
  *     ENTIRE v2 corpus — computed by a shingle-keyed join whose
  *     probe side is only the changed docs (never all-pairs; at
  *     100 TB swap in the maintained band index as the candidate
  *     source — same contract, LSH-candidates instead of exact);
  *  3. edge set v2 = old edges with NO changed endpoint + new pairs;
  *  4. affected components = every v1 component containing a changed
  *     doc or a new-pair endpoint. Because an edge can only exist
  *     WITHIN a component, the subgraph of affected components is
  *     closed under edges — label propagation re-runs on that
  *     subgraph ONLY, splits included (a dissolved component's
  *     members simply drop out of the stored assignment);
  *  5. every other component carries forward untouched.
  *
  * Refresh cost ∝ (changed docs' shingle postings) + (size of
  * affected components) — never corpus size. State: the clustered-doc
  * assignment `(id, comp)` (comp = min member id; singletons
  * implicit) and the edge list, frozen per version under
  * `clustersDir/v<N>/{assign,edges}` with a `_DONE` marker written
  * last (a crash between writes leaves the version invisible and the
  * next refresh redoes it — the ClassifierModel two-artifact rule).
  *
  * Duplicate-HEAVY corpora note: verbatim clones should be collapsed
  * by exact-hash dedup BEFORE near-dup clustering (the C4 stage
  * order) — a k-clone clique otherwise costs O(k²) edges in any
  * pair-graph formulation, this one included.
  */
object ClustersRefresh {

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())

  /** Newest complete (`_DONE`-bearing) version, if any. */
  def version(spark: SparkSession, clustersDir: String): Option[Int] = {
    val p = new Path(clustersDir)
    val f = fs(spark, clustersDir)
    if (!f.exists(p)) None
    else f.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.matches("v\\d+") => s.drop(1).toInt }
      .filter(v => f.exists(new Path(s"$clustersDir/v$v/_DONE")))
      .maxOption
  }

  def readAssign(spark: SparkSession, clustersDir: String, v: Int): DataFrame =
    spark.read.parquet(s"$clustersDir/v$v/assign")

  def readEdges(spark: SparkSession, clustersDir: String, v: Int): DataFrame =
    spark.read.parquet(s"$clustersDir/v$v/edges")

  private def writeVersion(
      spark: SparkSession, clustersDir: String, v: Int,
      assign: DataFrame, edges: DataFrame): Unit = {
    // USING-column joins move the join key first — pin the artifact
    // column order so every version's files share one schema
    assign.select("id", "comp")
      .write.mode("overwrite").parquet(s"$clustersDir/v$v/assign")
    edges.select("id_a", "id_b")
      .write.mode("overwrite").parquet(s"$clustersDir/v$v/edges")
    fs(spark, clustersDir).create(new Path(s"$clustersDir/v$v/_DONE"), true).close()
  }

  /** Full build at `version`: exact-Jaccard pair graph + CC. The CC
    * runs by alternating star contraction — a standing corpus has no
    * diameter bound (boilerplate chains link arbitrarily long paths),
    * and label propagation's round count is the diameter, where the
    * contraction converges in O(log n) rounds regardless (output
    * pinned row-equal in `DedupClusterSpec`). */
  def build(
      spark: SparkSession, corpusDir: String, clustersDir: String,
      version: Int, threshold: Double = 0.2): Unit = {
    val corpus = MergeTable.read(spark, corpusDir, version)
    val pairs = Dedup.ngramJaccardPairs(corpus, threshold = threshold)
      .select("id_a", "id_b")
    val assign = Dedup.connectedComponentsAlternating(pairs)
    writeVersion(spark, clustersDir, version, assign, pairs)
  }

  /** Exact-Jaccard pairs between `changedIds` docs and the whole
    * corpus — the shingle-keyed join probes only changed docs'
    * shingles, and each unordered pair is counted exactly once (the
    * both-changed orientation rule). */
  private[graft] def restrictedPairs(
      corpus: DataFrame, changedIds: DataFrame, threshold: Double): DataFrame = {
    val sh = corpus
      .select(col("doc_id").as("id"), Dedup.shingleHashes(col("text"), 3).as("hs"))
      .withColumn("n_sh", size(col("hs")))
      .filter(col("n_sh") > 0)
    val ex = sh.select(col("id"), col("n_sh"), explode(col("hs")).as("s"))
    // no broadcast hint: a small delta broadcasts via AQE on its own,
    // and a bulk-load delta (where "changed" is most of the corpus)
    // must be allowed to shuffle instead of OOMing the driver
    val chg = changedIds.select(col("doc_id").as("id"))
      .withColumn("__chg", lit(true))
    val a = ex.join(chg, Seq("id"), "left_semi")
      .toDF("id_a", "n_a", "s")
    val b = ex.join(chg, Seq("id"), "left_outer")
      .select(col("id").as("id_b"), col("n_sh").as("n_b"), col("s"),
        coalesce(col("__chg"), lit(false)).as("chg_b"))
    a.join(b, Seq("s"))
      // once per unordered pair: both-changed pairs via id_a < id_b;
      // changed-vs-unchanged pairs via the changed probe side only
      .filter(col("id_a") < col("id_b") ||
        (col("id_a") > col("id_b") && !col("chg_b")))
      .select(least(col("id_a"), col("id_b")).as("pa"),
        greatest(col("id_a"), col("id_b")).as("pb"),
        col("n_a"), col("n_b"))
      .groupBy("pa", "pb", "n_a", "n_b")
      .agg(count(lit(1)).as("common"))
      .filter(col("common").cast("double") /
        (col("n_a") + col("n_b") - col("common")).cast("double") >= threshold)
      .select(col("pa").as("id_a"), col("pb").as("id_b"))
  }

  /** Maintain the clusters from `fromVersion` to `toVersion`. Equals
    * a fresh [[build]] at `toVersion` (spec-pinned), splits and merges
    * included. */
  def refresh(
      spark: SparkSession, corpusDir: String, clustersDir: String,
      fromVersion: Int, toVersion: Int, threshold: Double = 0.2): Unit = {
    // delta-sized shuffles (round-16 ask #1): refresh cost ∝ changed
    // docs + affected components, so every exchange below — shingle
    // join, edge anti-joins, the localized CC fixpoint's iterations —
    // plans at a width sized by the transition's metadata row bound in
    // an ISOLATED session. The shingle join's corpus-side probe also
    // rides this width; that is safe exactly because restrictedPairs
    // is the exact-pair twin — the 100 TB path swaps in the maintained
    // band index as the candidate source (class doc, step 2).
    val s = graft.ops.SizedSession.forDelta(
      spark, corpusDir, fromVersion, toVersion)
    val oldAssign = readAssign(s, clustersDir, fromVersion)
    val oldEdges = readEdges(s, clustersDir, fromVersion)
    // both are read by three joins below, and neither plan is free
    val changedIds = Checkpointing.shared(MergeTable
      .rowDeltas(s, corpusDir, fromVersion, toVersion, "doc_id")
      .select("doc_id").distinct())

    val corpus2 = MergeTable.read(s, corpusDir, toVersion)
    val newPairs =
      Checkpointing.shared(restrictedPairs(corpus2, changedIds, threshold))

    val keptEdges = oldEdges
      .join(changedIds.withColumnRenamed("doc_id", "id_a"), Seq("id_a"), "left_anti")
      .join(changedIds.withColumnRenamed("doc_id", "id_b"), Seq("id_b"), "left_anti")
    val edges2 = keptEdges.unionByName(newPairs).distinct()

    // components needing a re-fixpoint: contain a changed doc or a
    // new-pair endpoint
    val touched = changedIds.select(col("doc_id").as("id"))
      .unionByName(newPairs.select(col("id_a").as("id")))
      .unionByName(newPairs.select(col("id_b").as("id")))
      .distinct()
    val affected = oldAssign.join(touched, Seq("id"), "left_semi")
      .select("comp").distinct()
    val members = oldAssign.join(affected, Seq("comp"), "left_semi").select("id")
    val subIds = members.unionByName(touched).distinct()

    // edges are intra-component, so filtering on ONE endpoint captures
    // the whole affected subgraph (new pairs' endpoints are in subIds
    // by construction)
    val subEdges = edges2
      .join(subIds.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
      .unionByName(edges2
        .join(subIds.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi"))
      .distinct()
    // alternating contraction here too: an affected component is small
    // RELATIVE TO THE CORPUS but its internal diameter is unbounded
    val subAssign = Dedup.connectedComponentsAlternating(subEdges)

    val carried = oldAssign.join(affected, Seq("comp"), "left_anti")
    writeVersion(s, clustersDir, toVersion,
      carried.unionByName(subAssign), edges2)
  }

  /** Survivor set at `version`: one representative (min id) per
    * cluster + every singleton. */
  def survivors(
      spark: SparkSession, corpusDir: String, clustersDir: String,
      version: Int): DataFrame = {
    val losers = readAssign(spark, clustersDir, version)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as("doc_id"))
    MergeTable.read(spark, corpusDir, version)
      .join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id")
  }
}
