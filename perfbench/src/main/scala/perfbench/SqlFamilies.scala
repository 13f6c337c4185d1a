package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** One query of `SparkEntry.queries` per relational family, run once in
  * a traced run over the small seeded tables, for the per-layer figures
  * of the relational layer (`plans` rules and the join operators in
  * `ops`).
  *
  * The queries run in the seed's order, twice: the first pass writes
  * each result as Parquet (with its DuckDB oracle SQL beside it, for
  * `run.py` to compare the way `tools/compare.py` does) and pays the
  * cold planning and codegen; the second pass is timed, to a noop sink. */
object SqlFamilies {
  /** family → query */
  val Families: Seq[(String, String)] = Seq(
    "scan_agg" -> "q02_agg_lineitem",
    "joins" -> "q03_join_broadcast",
    "windows" -> "q07_window_topn",
    "asof" -> "q37_asof_native",
    "range" -> "q34_interval_overlap_join",
    "sketches" -> "q33_heavy_hitters",
    "set_ops" -> "q10_set_ops")

  def run(r: Run, tables: String, order: Seq[String], out: String): Unit = {
    val byFamily = Families.toMap
    val queries = order.map(f => f -> byFamily(f))
    Files.createDirectories(Paths.get(out))
    queries.foreach { case (_, q) =>
      SparkEntry.queries(q)(r.spark, tables).coalesce(1).write.parquet(s"$out/$q")
    }
    val oracles = queries.map { case (_, q) => q -> Json.str(SparkEntry.oracleSql(q)) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json.obj(oracles: _*))
    queries.foreach { case (f, q) =>
      val (_, s) = r.time(SparkEntry.queries(q)(r.spark, tables).write.format("noop")
        .mode("overwrite").save())
      r.metric(s"sql_suite.family.${f}_ms", s * 1000)
    }
  }
}
