package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into each engine layer.
  *
  * With tracing off `span` only runs its body, so the measured run pays
  * nothing. With tracing on each span records its duration, and its
  * self time (duration minus the time its child spans cover) is added
  * to its layer. Spans nest on the single driver thread that makes the
  * calls; they are kept in memory and summarised at the end. */
final class Spans {
  var on = false
  private val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  // child time accumulated by each open span, innermost last
  private val open = mutable.Stack.empty[Array[Long]]

  def span[A](layer: String)(body: => A): A =
    if (!on) body
    else {
      val t0 = System.nanoTime()
      open.push(Array(0L))
      try body
      finally {
        val dur = System.nanoTime() - t0
        val children = open.pop()(0)
        self(layer) += (dur - children) / 1e9
        if (open.nonEmpty) open.top(0) += dur
      }
    }

  def selfSeconds: Map[String, Double] = self.toMap
}

/** Job, stage and task accounting plus Catalyst phase times, from a
  * listener the benchmark owns. Installed only in the traced run. */
final class EngineListener extends SparkListener with QueryExecutionListener {
  final case class Job(start: Long, var end: Long, callSite: String)

  val jobs = mutable.ArrayBuffer.empty[Job]
  private val byId = mutable.HashMap.empty[Int, Job]
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var writtenBytes = 0L
  val phaseMs = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage is named after the job's call site, "count at X.scala:N"
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val j = Job(e.time, -1L, site)
    jobs += j
    byId(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      writtenBytes += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    qe.tracker.phases.foreach { case (phase, s) => phaseMs(phase) += s.durationMs.toDouble }
  }

  /** Everything counted so far, as one immutable reading. */
  def snapshot: EngineListener.Reading = synchronized {
    EngineListener.Reading(jobs.map(j => (j.start, j.end, j.callSite)).toVector,
      stages, tasks, cpuNs, runMs, gcMs, inputBytes, shuffleBytes, spillBytes,
      writtenBytes, phaseMs.toMap)
  }
}

object EngineListener {
  final case class Reading(
      jobs: Vector[(Long, Long, String)], stages: Long, tasks: Long, cpuNs: Long,
      runMs: Long, gcMs: Long, inputBytes: Long, shuffleBytes: Long, spillBytes: Long,
      writtenBytes: Long, phaseMs: Map[String, Double]) {

    /** Counts accumulated between `before` and this reading. */
    def minus(before: Reading): Reading = Reading(
      jobs.drop(before.jobs.size), stages - before.stages, tasks - before.tasks,
      cpuNs - before.cpuNs, runMs - before.runMs, gcMs - before.gcMs,
      inputBytes - before.inputBytes, shuffleBytes - before.shuffleBytes,
      spillBytes - before.spillBytes, writtenBytes - before.writtenBytes,
      phaseMs.map { case (k, v) => k -> (v - before.phaseMs.getOrElse(k, 0.0)) })
  }

  def install(spark: SparkSession): EngineListener = {
    val l = new EngineListener
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }

  /** Milliseconds of `[from, to]` covered by no job interval: the
    * driver-side time of an operation (planning, result handling,
    * commit bookkeeping) as opposed to time a job was running. */
  def uncoveredMs(from: Long, to: Long, jobs: Seq[(Long, Long, String)]): Long = {
    val iv = jobs.map { case (s, e, _) => (math.max(s, from), math.min(if (e < 0) to else e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    (to - from) - covered
  }
}

/** Whole-stage codegen compile count and time, read from Spark's
  * process-wide codegen metrics. */
object Codegen {
  import org.apache.spark.metrics.source.CodegenMetrics
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def compileMs: Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    h.getSnapshot.getMean * h.getCount
  }
}
