package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{PipelineQueries, RelationalQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (SURVEY.md §2): the relational
  * pack over the TPC-H-ish tables and the pipeline/north-star pack
  * (vector search, dedup family, text analysis, document operators).
  * `oracleSql` carries a DuckDB-equivalent for every SQL-expressible
  * query — including the md5-based MinHash-LSH and SimHash paths;
  * engine-native ops (hash embedder, recursive chunker, sign-LSH
  * banding, HLL sketches, KMeans) are registered without an oracle and
  * covered by unit/property tests instead.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's own flagship path: cosine top-k vector search
    * (k=5, threshold 0.5 — `scripts/test.out.py:14-19`). */
  def entry(spark: SparkSession): DataFrame =
    queries("knn_top5")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.defs ++ PipelineQueries.defs

  /** The registered `(name, fn)` pairs for `names`, sorted by name, or
    * all of them when `names` is empty. Fails before any query runs if
    * a name is not registered. */
  def select(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val qs = queries
    val unknown = names.filterNot(qs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    (if (names.isEmpty) qs.toSeq else names.distinct.map(n => n -> qs(n)))
      .sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ PipelineQueries.oracles
}
