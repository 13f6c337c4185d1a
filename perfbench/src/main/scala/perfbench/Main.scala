package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * `perfbench.Main --workload <name> --inputs <dir> --work <dir>
  *   --seconds <s> --trace <0|1> --out <file>`
  *
  * Inputs are generated from the seed before this process starts
  * (`perfbench/gen.py`); this process only reads them. It prints its
  * progress on stderr and writes one JSON document to `--out`: every
  * metric it measured, the operation counts, the correctness checks
  * and an environment block. `perfbench/run.py` turns that into the
  * benchmark's result line. */
object Main {

  final case class Args(
      workload: String, inputs: String, work: String, seconds: Double,
      trace: Boolean, out: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("inputs"), m("work"), m("seconds").toDouble,
      m.get("trace").contains("1"), m("out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val load0 = loadAverage
    val jiffies0 = cpuJiffies
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = graft.Graft.session(cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, args)
    val workload: Workload = args.workload match {
      case "rag_query" => RagQuery
      case "table_read" => TableRead
      case other => sys.error(s"unknown workload $other")
    }
    var error: Option[String] = None
    try workload.run(run)
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    }
    val heapMb = retainedHeapMb()
    run.metric("retained_heap_mb", heapMb)
    run.metric("spark.session_start_s", sessionS)
    val env = Map(
      "nproc" -> cores.toString,
      "jdk" -> System.getProperty("java.runtime.version"),
      "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "spark" -> spark.version,
      "load_avg_start" -> f"$load0%.2f",
      "load_avg_end" -> f"$loadAverage%.2f",
      "host_probe_ms" -> f"${Stats.median(run.probeMs.toSeq)}%.3f",
      "cpu_steal_pct" -> f"${stealPct(jiffies0, cpuJiffies)}%.1f")
    val checks = run.checks.toSeq
    // an operation that threw also fails the run: its output was never checked
    val correct = error.isEmpty && run.failed == 0 && checks.nonEmpty && checks.forall(_._2)
    val json = Json.obj(
      "workload" -> Json.str(args.workload),
      "correct" -> correct.toString,
      "error" -> error.map(Json.str).getOrElse("null"),
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "samples" -> run.latMs.size.toString,
      "timed_s" -> Json.num(run.timedS),
      "latencies_ms" -> Json.arr(run.latMs.toSeq.map(Json.num): _*),
      "cpu_ms" -> Json.obj(run.cpuMsByKind.toSeq.map { case (k, v) =>
        k -> Json.arr(v.toSeq.map(Json.num): _*) }: _*),
      "metrics" -> Json.obj(run.metrics.toSeq.map { case (k, v) => k -> Json.num(v) }: _*),
      "checks" -> Json.arr(checks.map { case (n, ok, d) =>
        Json.obj("name" -> Json.str(n), "ok" -> ok.toString, "detail" -> Json.str(d)) }: _*),
      "env" -> Json.obj(env.toSeq.map { case (k, v) => k -> Json.str(v) }: _*))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args.out), json)
    spark.stop()
    System.exit(0)
  }

  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of each live Java thread: the driver, Spark's task
    * and service threads. Unlike the process CPU time, which the JVM
    * reads in 10 ms clock ticks, it has nanosecond resolution; it leaves
    * out the JVM's own GC and compiler threads. */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.iterator.zip(threads.getThreadCpuTime(ids).iterator).filter(_._2 >= 0).toMap
  }

  /** Java-thread CPU nanoseconds spent since `before` was read (threads
    * that ended in between are not counted). */
  def threadCpuNsSince(before: Map[Long, Long]): Long =
    threadCpuNs().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum

  private val probeData = {
    var x = 88172645463325252L
    Array.fill(1 << 15) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x }
  }

  /** Thread CPU milliseconds of a fixed task, sorting a copy of a fixed
    * pseudo-random array: a probe of the host's speed, taken after every
    * timed operation. A host whose other guests contend for the same
    * cores reads slower. */
  def probeCpuMs(): Double = {
    val t0 = threads.getCurrentThreadCpuTime
    java.util.Arrays.sort(probeData.clone())
    (threads.getCurrentThreadCpuTime - t0) / 1e6
  }

  /** (steal, total) jiffies of all CPUs from `/proc/stat`, or zeros
    * where the host has none. */
  private def cpuJiffies: (Long, Long) =
    try {
      val f = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").slice(1, 9).map(_.toLong)
      (f(7), f.sum)
    } catch { case NonFatal(_) => (0L, 0L) }

  /** Share of all CPU time the hypervisor gave to other guests between
    * two readings: a run that shows much of it ran on a busy host. */
  private def stealPct(from: (Long, Long), to: (Long, Long)): Double =
    100.0 * (to._1 - from._1) / math.max(1L, to._2 - from._2)

  private def loadAverage: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  /** Heap in use after full collections: what the workload keeps alive
    * (the least of several readings, so a background allocation between
    * a collection and its reading does not count). */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}

/** One workload: set up, run the closed loop, check the outputs. */
trait Workload {
  def run(r: Run): Unit
}

/** State of one benchmark run: timing samples, operation counts,
  * checks, metrics and (when traced) spans and engine counters. */
final class Run(val spark: SparkSession, val args: Main.Args) {

  /** Spans and the engine listener switch on for the traced phase only. */
  val spans = new Spans
  var listener: Option[EngineListener] = None

  val latMs = mutable.ArrayBuffer.empty[Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  val metrics = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0
  var failed = 0
  var timedS = 0.0
  /** wall-clock interval of every timed operation, epoch ms */
  val opIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def metric(name: String, v: Double): Unit = metrics(name) = v

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val d = if (ok) "" else detail
    if (!ok) log(s"CHECK FAILED $name: $d")
    checks += ((name, ok, d))
  }

  /** Builds the workload's state `times` times over, each from scratch
    * on the same inputs, releasing every build but the last, which the
    * loop then uses. `setup_s` is the median build time, so the one cold
    * build (class loading, JIT) does not decide it. */
  def setup[A](times: Int)(build: Int => A)(release: A => Unit): A = {
    val builds = (0 until times).map { i =>
      val (a, s) = time(build(i))
      log(f"setup build $i: $s%.2fs")
      if (i < times - 1) release(a)
      (a, s)
    }
    metric("setup_s", Stats.median(builds.map(_._2)))
    metric("setup_cold_s", builds.head._2)
    builds.last._1
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Closed loop with one client: run `op(i, kind)` back to back, the
    * kinds in the fixed order of `kinds`, in whole cycles, until the
    * operations have taken `seconds` in total. Whole cycles keep the
    * operation mix of every run the same. Each op returns the check of
    * its own output, which runs outside the timed region. An op that
    * throws counts as failed, adds no sample and fails the run.
    *
    * The first `warmupCycles` cycles run before timing starts (plans,
    * codegen, caches and the JIT warm up); their time is `warmup_s`.
    *
    * A traced run first runs an untraced phase of half the length, then
    * switches spans and the engine listener on for a full-length traced
    * phase; the latency ratio of the two is the tracing overhead. */
  def loop(seconds: Double, warmupCycles: Int, kinds: Seq[String])(
      op: (Int, String) => (() => Unit)): Unit = {
    val warmup = warmupCycles * kinds.size
    val (_, warmupS) = time((0 until warmup).foreach(i => op(i, kinds(i % kinds.size))()))
    warmupOps = warmup
    metric("warmup_s", warmupS)
    log(f"warm-up done in $warmupS%.2fs")
    if (args.trace) {
      phase(seconds / 2, kinds, op)
      val untracedP50 = Stats.median(latMs.toSeq)
      spans.on = true
      listener = Some(EngineListener.install(spark))
      val before = snapshot(listener.get)
      val c0 = Codegen.compiles
      val cms0 = Codegen.compileMs
      phase(seconds, kinds, op)
      engineMetrics(snapshot(listener.get).minus(before), c0, cms0)
      metric("trace.overhead_pct", 100.0 * (Stats.median(latMs.toSeq) / untracedP50 - 1))
    } else phase(seconds, kinds, op)
    metric("latency_p50_ms", Stats.median(latMs.toSeq))
    // the highest percentile with at least ten samples beyond it
    val tailQ = math.max(0.5, 1.0 - 10.0 / math.max(1, latMs.size))
    metric("latency_tail_ms", Stats.quantile(latMs.toSeq, tailQ))
    metric("latency_tail_q", tailQ)
    metric("op_samples", latMs.size.toDouble)
    metric("ops_per_s", latMs.size / timedS)
    // each kind's median, so a few outlying operations do not move it;
    // the geometric mean over kinds weighs every kind of operation
    // alike, whatever its cost
    val medians = cpuMsByKind.values.map(v => Stats.median(v.toSeq)).filter(_ > 0)
    val cpuMs = math.exp(medians.map(math.log).sum / math.max(1, medians.size))
    metric("op_cpu_ms", cpuMs)
    // the same cost in units of the host probe measured between the
    // operations, so a period in which the host runs slower for every
    // program reads the same
    metric("op_cpu_probes", cpuMs / Stats.median(probeMs.toSeq))
    metric("op_cpu_mean_ms", cpuMsByKind.values.flatten.sum / math.max(1, latMs.size))
  }

  private var opsInPhase = 0
  /** Java-thread CPU milliseconds of each successful operation of the phase, by kind */
  val cpuMsByKind = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var warmupOps = 0
  /** host probe after each timed operation */
  val probeMs = mutable.ArrayBuffer.empty[Double]

  private def phase(seconds: Double, kinds: Seq[String], op: (Int, String) => (() => Unit)): Unit = {
    latMs.clear(); opIntervals.clear(); timedS = 0.0; opsInPhase = 0; cpuMsByKind.clear(); probeMs.clear()
    while (timedS < seconds || opsInPhase % kinds.size != 0) {
      val i = warmupOps + attempted
      val kind = kinds(i % kinds.size)
      attempted += 1
      opsInPhase += 1
      val w0 = System.currentTimeMillis()
      val c0 = Main.threadCpuNs()
      val t0 = System.nanoTime()
      val post = try Some(spans.span("op")(op(i, kind))) catch {
        case NonFatal(e) =>
          failed += 1
          log(s"op $i failed: $e")
          None
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val cpuMs = Main.threadCpuNsSince(c0) / 1e6
      opIntervals += ((w0, System.currentTimeMillis()))
      timedS += dt
      post.foreach { p =>
        latMs += dt * 1000
        cpuMsByKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += cpuMs
        p()
      }
      probeMs += Main.probeCpuMs()
    }
  }

  private def snapshot(l: EngineListener): EngineListener.Reading = {
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
    l.snapshot
  }

  /** Per-layer figures of Spark's own layers over the timed loop. */
  private def engineMetrics(d: EngineListener.Reading, c0: Long, cms0: Double): Unit = {
    val ops = math.max(1, opsInPhase).toDouble
    metric("catalyst.analysis_ms", d.phaseMs.getOrElse("analysis", 0.0) / ops)
    metric("catalyst.optimization_ms", d.phaseMs.getOrElse("optimization", 0.0) / ops)
    metric("catalyst.planning_ms", d.phaseMs.getOrElse("planning", 0.0) / ops)
    metric("scheduler.jobs_per_op", d.jobs.size / ops)
    metric("scheduler.stages_per_op", d.stages / ops)
    metric("scheduler.tasks_per_op", d.tasks / ops)
    val gapMs = opIntervals.map { case (s, e) => EngineListener.uncoveredMs(s, e, d.jobs) }.sum
    metric("scheduler.driver_gap_ms_per_op", gapMs / ops)
    metric("exec.task_cpu_s", d.cpuNs / 1e9)
    metric("exec.task_wall_s", d.runMs / 1e3)
    metric("exec.gc_s", d.gcMs / 1e3)
    metric("exec.input_mb", d.inputBytes / 1048576.0)
    metric("exec.shuffle_mb", d.shuffleBytes / 1048576.0)
    metric("exec.spill_mb", d.spillBytes / 1048576.0)
    metric("exec.codegen_compiles", (Codegen.compiles - c0).toDouble)
    metric("exec.codegen_compile_ms", Codegen.compileMs - cms0)
    metric("exec.output_mb", d.writtenBytes / 1048576.0)
  }

  /** Record each layer's self time over the traced run, and the share
    * of the timed wall time the layer spans account for. */
  def layerMetrics(layers: Seq[String]): Unit = if (args.trace) {
    val self = spans.selfSeconds
    layers.foreach(l => metric(s"$l.self_s", self.getOrElse(l, 0.0)))
    // the loop's own bookkeeping is the "op" span's self time
    val covered = layers.map(l => self.getOrElse(l, 0.0)).sum
    metric("trace.coverage_pct", 100.0 * covered / math.max(timedS, 1e-9))
  }
}

object Stats {
  /** Linear-interpolated quantile (the inclusive method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: String*): String = xs.mkString("[", ",", "]")
}
