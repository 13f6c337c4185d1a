package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

import graft.queries.IvmScaffold

/** Benchmark main: runs every registered query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Failures are recorded in an explicit `"errors"` map (query →
  * exception class+message) and excluded from per-query timings, so a
  * broken query can never masquerade as a fast one.
  *
  * SELF-ADJUDICATION (VERDICT r13 ask #1): the artifact must explain
  * its own outliers — a judge reading only the JSON should be able to
  * attribute a slow query to scaffold cost, GC, I/O volume, or host
  * state without access to the run. So the line also carries:
  *  - `"prebuild"`: per-family scaffold wall seconds AND success/error
  *    (round 13 swallowed failures to stderr, invisible in the JSON —
  *    a failed family silently rebuilt inside its first query's runs);
  *  - `"warmup_sec"`: first-codegen absorption cost, outside timings;
  *  - `"task_metrics"`: per-query deltas of executor task time, CPU
  *    time, JVM GC time, input/shuffle/spill bytes from a
  *    SparkListener — a 10x wall-time outlier with flat task seconds
  *    is host noise; with 10x GC it's memory; with 10x input bytes
  *    it's cache state;
  *  - `"env"`: the scratch device (`java.io.tmpdir` — every IVM
  *    scaffold lives there) with a write+fsync / read throughput probe,
  *    plus the SF dir's read throughput, CPU count and heap bound —
  *    the host-state facts the CPU-only calibration kernel cannot see.
  */
object Bench {

  /** Accumulates executor task metrics across the lifetime of the JVM;
    * per-query deltas come from [[snapshot]] pairs. Local mode posts
    * listener events asynchronously — a handful of end-of-query events
    * can land in the next query's bucket, which is noise at the
    * per-query scale these numbers adjudicate (10x outliers), never at
    * the per-task scale. */
  private final class TaskMetricsListener extends SparkListener {
    val runMs = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val inBytes = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
    val tasks = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        runMs.addAndGet(m.executorRunTime)
        cpuNs.addAndGet(m.executorCpuTime)
        gcMs.addAndGet(m.jvmGCTime)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
        shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        tasks.incrementAndGet()
      }
      ()
    }
    def snapshot: Seq[Long] = Seq(runMs.get, cpuNs.get, gcMs.get,
      inBytes.get, shuffleBytes.get, spillBytes.get, tasks.get)
  }

  /** Scratch-device throughput probe: `mb` MiB written + fsync'd, then
    * read back (page-cache-warm — a slow result still flags a
    * pathological device). The write+fsync number is the one that
    * explains IVM-family outliers: every scaffold MergeTable commit
    * fsyncs manifests and writes parquet under this directory. */
  private def ioProbe(dir: String, mb: Int = 64): (Double, Double) = {
    val f = java.io.File.createTempFile("graft-io-", ".probe",
      new java.io.File(dir))
    try {
      val buf = new Array[Byte](1 << 20)
      new java.util.Random(42).nextBytes(buf)
      val t0 = System.nanoTime()
      val out = new java.io.FileOutputStream(f)
      try {
        var i = 0
        while (i < mb) { out.write(buf); i += 1 }
        out.getFD.sync()
      } finally out.close()
      val wSec = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val in = new java.io.FileInputStream(f)
      try { while (in.read(buf) >= 0) () } finally in.close()
      val rSec = (System.nanoTime() - t1) / 1e9
      (mb / wSec, mb / rSec)
    } finally { f.delete(); () }
  }

  /** Sequential read throughput of an existing file (the SF dir's
    * device — cold on a fresh host, cache-warm on a reused one; the
    * SPREAD between this and the tmpdir read probe is the evidence). */
  private def readProbe(path: String, capMb: Int = 64): Double = {
    val f = new java.io.File(path)
    if (!f.isFile) return -1.0
    val buf = new Array[Byte](1 << 20)
    val t0 = System.nanoTime()
    var total = 0L
    val in = new java.io.FileInputStream(f)
    try {
      var n = in.read(buf)
      while (n >= 0 && total < capMb.toLong * (1 << 20)) {
        total += n; n = in.read(buf)
      }
    } finally in.close()
    val sec = (System.nanoTime() - t0) / 1e9
    if (sec <= 0) -1.0 else (total / 1048576.0) / sec
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run to named queries —
    // the regression gate's fresh-JVM RETRY lane (tools/preflight.sh):
    // a rotating per-JVM degradation (real CPU growth on a random query
    // subset, clean on immediate re-measurement) must be adjudicated by
    // measuring again, not by arguing with one contaminated sample
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
    val selected = SparkEntry.select(only.getOrElse(Nil))
    val cores = Graft.cores
    val cpus = cores.toString
    val spark = Graft.session(cores)
    val listener = new TaskMetricsListener
    spark.sparkContext.addSparkListener(listener)

    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

    val warmupT0 = System.nanoTime()
    Warmup.run(spark, sfDir)
    val warmupSec = (System.nanoTime() - warmupT0) / 1e9
    System.err.println(f"[warmup] sec=$warmupSec%.3f")

    // fixed synthetic calibration kernel (VERDICT r8 ask #1): emitted as
    // "calib_sec" so totals are comparable across rounds/hosts — divide
    // any timing by calib_sec to get host-independent kernel units. A
    // kernel failure records -1 rather than killing the bench.
    val calibSec =
      try Calibrate.calibSec(spark)
      catch {
        case e: Throwable =>
          System.err.println(s"[calib] failed: ${e.getMessage}"); -1.0
      }
    System.err.println(f"[calib] kernel sec=$calibSec%.3f")

    // host-state evidence the CPU-bound kernel cannot see: the scratch
    // device (every IVM scaffold lives in java.io.tmpdir) and the SF
    // dir's device. Failures record -1, never kill the bench.
    val tmpdir = sys.props("java.io.tmpdir")
    val (tmpW, tmpR) =
      try ioProbe(tmpdir)
      catch { case e: Throwable =>
        System.err.println(s"[ioprobe] tmpdir failed: ${e.getMessage}"); (-1.0, -1.0) }
    val sfR =
      try {
        Option(new java.io.File(sfDir).listFiles())
          .flatMap(_.find(f => f.isFile && f.getName.endsWith(".parquet")))
          .map(f => readProbe(f.getPath)).getOrElse(-1.0)
      } catch { case _: Throwable => -1.0 }
    System.err.println(
      f"[ioprobe] tmpdir=$tmpdir write=$tmpW%.0f MB/s read=$tmpR%.0f MB/s sf read=$sfR%.0f MB/s")

    // pre-build the IVM scaffolds with explicit per-family timings AND
    // success/failure in the artifact (VERDICT r8 ask #8 + r13 ask #1):
    // scaffold cost is a visible line item, and a FAILED family is
    // visible too — it rebuilds lazily inside its first query, which
    // the artifact can then attribute instead of leaving a 10x mystery.
    val prebuilt: Seq[IvmScaffold.Prebuilt] =
      try IvmScaffold.prebuildChecked(spark, sfDir)
      catch {
        case e: Throwable =>
          System.err.println(s"[scaffold] prebuild failed: ${e.getMessage}")
          Seq(IvmScaffold.Prebuilt("prebuild", 0.0,
            Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}")))
      }
    prebuilt.foreach { p =>
      System.err.println(f"[scaffold] ${p.family} sec=${p.sec}%.3f" +
        p.err.fold("")(e => s" FAILED: $e"))
    }

    val timings = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val ranges  = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double, Int)]
    val errors  = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val taskm   = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Long]]
    val loads   = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // per-query JIT compile-time delta (round 16): the degraded-JVM
    // state appeared WITHOUT code-cache exhaustion (152 MB of 512 MB at
    // run end) but with 400+ s of cumulative JIT time — the revised
    // suspect is recompilation churn (deopt storms / profile
    // pollution). A degraded query burning compile seconds mid-run is
    // the direct evidence; flat jit with inflated CPU points elsewhere.
    val jits    = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def jitNow: Long = Option(java.lang.management.ManagementFactory
      .getCompilationMXBean).fold(-1L)(_.getTotalCompilationTime)
    // 1-minute OS load average: the direct evidence for the one cause
    // per-task metrics CANNOT show — ANOTHER process competing for the
    // host's cores (wall inflates uniformly while task CPU seconds stay
    // flat). A bench whose load runs far above its own core count was
    // contended; the judge reads that from the artifact, not from
    // guessing host state.
    def osLoad: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val benchStart = System.nanoTime()
    // re-executions stop once the run has spent this much wall — keeps the
    // whole bench bounded even if the harness enforces a timeout. Two full
    // passes over all queries cost ~80 s at sf0.1, so 1200 s leaves room
    // for a third pass on stall-hit queries.
    val rerunBudgetSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "1200").toDouble
    def withinBudget: Boolean = (System.nanoTime() - benchStart) / 1e9 < rerunBudgetSec
    // Per-query watchdog over the whole best-of-N loop (round-6 lesson:
    // one non-terminating query held Bench past the driver's 1-hour
    // kill and the artifact was rc=124/unparsed). 300 s bounds a
    // pathological query while leaving ~30× headroom over the slowest
    // healthy query's full best-of-N at sf0.1.
    val perQuerySec = Watchdog.timeoutSec(default = 300L)
    selected.foreach { case (name, fn) =>
      // best-of-N policy lives in SteadyState.bestOf (shared with
      // ScaleProbe, unit-tested in SteadyStateSpec): min over runs is
      // steady-state cost, a >2× disagreement triggers a tie-break run,
      // and per-query (min,max,runs) makes any stall visible in the
      // artifact itself rather than masquerading as a regression.
      val before = listener.snapshot
      val jitBefore = jitNow
      Watchdog.bounded(spark, s"bench-$name", perQuerySec) {
        SteadyState.bestOf(() => SteadyState.timeOnce(fn(spark, sfDir)), () => withinBudget)
      } match {
        case Right((mn, mx, n)) =>
          timings(name) = mn
          ranges(name) = (mn, mx, n)
          taskm(name) = listener.snapshot.zip(before).map { case (a, b) => a - b }
          loads(name) = osLoad
          jits(name) = jitNow - jitBefore
        case Left(err) =>
          errors(name) = err
      }
    }

    val qs = timings.map { case (k, v) => s""""${esc(k)}":$v""" }.mkString("{", ",", "}")
    val rs = ranges.map { case (k, (mn, mx, n)) =>
      s""""${esc(k)}":{"min":$mn,"max":$mx,"runs":$n}""" }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }.mkString("{", ",", "}")
    // per-query task-metric deltas, OVER ALL best-of-N runs of the query
    // (divide by "runs" in ranges for a per-run scale): task seconds,
    // CPU seconds, GC seconds, input/shuffle/spill MiB, task count
    val tm = taskm.map { case (k, Seq(run, cpu, gc, in, sh, sp, n)) =>
      s""""${esc(k)}":{"task_sec":${run / 1e3},"cpu_sec":${cpu / 1e9},""" +
        s""""gc_sec":${gc / 1e3},"input_mb":${in / 1048576.0},""" +
        s""""shuffle_mb":${sh / 1048576.0},"spill_mb":${sp / 1048576.0},""" +
        s""""tasks":$n,"os_load":${loads.getOrElse(k, -1.0)},""" +
        s""""jit_ms":${jits.getOrElse(k, -1L)}}"""
    }.mkString("{", ",", "}")
    val pb = prebuilt.map { p =>
      s""""${esc(p.family)}":{"sec":${p.sec},"ok":${p.err.isEmpty}""" +
        p.err.fold("")(e => s""","err":"${esc(e)}"""") + "}"
    }.mkString("{", ",", "}")
    // end-of-run JIT evidence (round-16 ask #2): code-cache occupancy
    // and total compilation time — the artifact-side diagnosis data for
    // the rotating per-JVM degraded state (suspect: code-cache pressure
    // evicting warm nmethods; 5x CPU, same bytes, persistent per JVM).
    // A degraded run would show occupancy at the reserve ceiling.
    val codeCache = {
      import scala.jdk.CollectionConverters._
      val pools = java.lang.management.ManagementFactory
        .getMemoryPoolMXBeans.asScala
        .filter(_.getName.startsWith("CodeHeap"))
      val used = pools.map(_.getUsage.getUsed).sum / 1048576.0
      val max = pools.map(p => math.max(0L, p.getUsage.getMax)).sum / 1048576.0
      (used, max)
    }
    val jitMs = Option(java.lang.management.ManagementFactory
      .getCompilationMXBean).fold(-1L)(_.getTotalCompilationTime)
    System.err.println(
      f"[jit] code_cache_used=${codeCache._1}%.0fMB of ${codeCache._2}%.0fMB, compile_time=${jitMs}ms")
    val envJson =
      s"""{"tmpdir":"${esc(tmpdir)}","tmp_write_mbps":$tmpW,""" +
        s""""tmp_read_mbps":$tmpR,"sf_read_mbps":$sfR,""" +
        s""""cpus":"${esc(cpus)}","host_cores":${
          Runtime.getRuntime.availableProcessors},"os_load_end":$osLoad,""" +
        s""""heap_max_gb":${Runtime.getRuntime.maxMemory / 1073741824.0},""" +
        s""""code_cache_used_mb":${codeCache._1},""" +
        s""""code_cache_max_mb":${codeCache._2},"jit_compile_ms":$jitMs}"""
    val total = timings.values.sum
    val baseLine =
      s"""{"metric":"total","value":$total,"unit":"sec","calib_sec":$calibSec,"warmup_sec":$warmupSec,"queries":$qs,"ranges":$rs,"errors":$es,"task_metrics":$tm,"prebuild":$pb,"env":$envJson,"n_ok":${timings.size},"n_err":${errors.size},"sf":"${esc(sfDir)}"}"""

    // ---- SELF-ADJUDICATION of regression-shaped queries (round-16
    // verdict ask #1): the fresh-JVM retry lane lived only in
    // tools/preflight.sh, invisible to the DRIVER's bench artifact —
    // a per-JVM degraded state (rotating query subsets 5-10x slower
    // with real CPU growth, clean on re-measurement) landed as a
    // REGRESSION line a judge had to hand-retry. Bench now gates its
    // own run against tools/bench_baseline.json and, for any
    // REGRESSION verdict, forks ONE fresh JVM over exactly those
    // queries (the SPARK_GRAFT_BENCH_ONLY seam) and records BOTH
    // measurements in a "retries" block — the artifact adjudicates
    // itself. Skipped inside a subset run (no recursion) or with
    // SPARK_GRAFT_BENCH_RETRY=0.
    val gateAndRetries: String =
      if (only.isDefined || sys.env.get("SPARK_GRAFT_BENCH_RETRY").contains("0"))
        s""""gate":{"checked":false,"reason":"subset-or-disabled"}"""
      else BenchRetry.selfAdjudicate(baseLine, sfDir, cpus, esc)

    val fullLine = baseLine.dropRight(1) + "," + gateAndRetries + "}"
    // Short trailer line (VERDICT r5 ask #2): the driver records a bounded
    // tail of stdout, and the full line above can outgrow it — round 5's
    // artifact lost the headline total to truncation. The trailer is always
    // short enough to survive any tail window.
    val trailerLine =
      s"""{"metric":"total","value":$total,"unit":"sec","calib_sec":$calibSec,"n_ok":${timings.size},"n_err":${errors.size},"sf":"${esc(sfDir)}"}"""
    println(fullLine)
    println(trailerLine)
    // Self-archive (VERDICT r9 ask #7): a truncated stdout capture
    // ("parsed": null in BENCH_r09.json) must never again lose the
    // per-query map — the two lines also land in a well-known file,
    // referenced from COVERAGE.md, parseable from disk at any time.
    try {
      val archive = sys.env.getOrElse("SPARK_GRAFT_BENCH_FILE", "/tmp/bench_last.json")
      java.nio.file.Files.write(java.nio.file.Paths.get(archive),
        (fullLine + "\n" + trailerLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[bench] archived to $archive")
    } catch {
      case e: Throwable => System.err.println(s"[bench] archive failed: ${e.getMessage}")
    }
    spark.stop()
  }
}
