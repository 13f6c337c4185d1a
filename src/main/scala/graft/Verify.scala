package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
      .foreach(deleteRecursively)
    f.delete(); ()
  }

  def main(args: Array[String]): Unit = {
    // driver contract: exactly (sfDir, outDir); extra names are a
    // builder-local filter for iterating on a single query
    val Array(sfDir, outDir, only @ _*) = args
    val selected = SparkEntry.select(only)
    val spark = Graft.session()
    new java.io.File(outDir).mkdirs()
    Warmup.run(spark, sfDir)
    // Per-query watchdog (round-6 lesson: ONE non-terminating query
    // zeroed the whole round's correctness artifact). A timed-out query
    // gets its job group cancelled and a red line; everyone else's row
    // survives. 120 s default dwarfs the slowest healthy query (~10 s
    // at sf0.01 incl. write) but bounds any pathology.
    val perQuerySec = Watchdog.timeoutSec(default = 120L)
    var nOk, nFail = 0
    val t0All = System.nanoTime()
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      Watchdog.bounded(spark, s"verify-$name", perQuerySec) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      } match {
        case Right(_) =>
          nOk += 1
          System.err.println(f"[verify] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1fs")
        case Left(err) =>
          nFail += 1
          // a cancelled overwrite can leave a partial (or stale
          // prior-run) $outDir/$name that the DuckDB compare would read
          // as this query's output — remove it so a failed query has
          // NO output directory at all
          deleteRecursively(new java.io.File(s"$outDir/$name"))
          System.err.println(s"[verify] $name failed: $err")
      }
    }
    // wall-time total: the correctness artifact doubles as a coarse
    // bench cross-check if the round's BENCH artifact is ever lost
    System.err.println(
      f"[verify] total ${(System.nanoTime() - t0All) / 1e9}%.1fs, $nOk ok, $nFail failed")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
