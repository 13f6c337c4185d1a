package graft

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-JOB breakdown of a single registered query — the measurement
  * tool guide §1 asks for before touching anything: a query whose wall
  * far exceeds CPU/cores is either a sequential mini-job swarm (many
  * short jobs whose scheduling latency dominates) or a few
  * low-parallelism stages; this prints which, per query, for one
  * profiled run. Job counts of one query vary by ±1 between JVMs
  * (AQE's asynchronous query-stage jobs), so compare several runs per
  * side.
  *
  * `sbt "runMain graft.QueryProfiler /root/testdata/sf0.1 q1,q2"` —
  * cores from [[Graft.cores]]. First execution of each query is
  * untimed (scaffold build + codegen absorption), the second is the
  * profiled one, matching Bench's steady-state policy.
  */
object QueryProfiler {

  private final class JobTrace extends SparkListener {
    case class Job(id: Int, desc: String, t0: Long, var t1: Long = -1L,
                   var tasks: Int = 0, var taskMs: Long = 0L,
                   var cpuMs: Long = 0L, var maxTaskMs: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageToJob = mutable.HashMap.empty[Int, Int]
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val desc = props
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .filter(_.nonEmpty)
        // stage names carry the action's callsite ("parquet at X.scala:N")
        .getOrElse(e.stageInfos.map(_.name).distinct.mkString(" | "))
      jobs(e.jobId) = Job(e.jobId, desc, e.time)
      e.stageIds.foreach(s => stageToJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageToJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.cpuMs += m.executorCpuTime / 1000000L
          j.maxTaskMs = math.max(j.maxTaskMs, m.executorRunTime)
        }
      }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq("doc_card_incremental"))
    val fns = SparkEntry.select(names).toMap
    val spark = Graft.session()
    Warmup.run(spark, sfDir)

    names.foreach { name =>
      val fn = fns(name)
      // run 1: scaffold + codegen, untimed
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      // run 2: profiled
      val tr = new JobTrace
      spark.sparkContext.addSparkListener(tr)
      // Janino compile counter: a steady-state run should compile ~0
      // new classes — a non-zero delta here is codegen-cache churn
      // (each compile blocks every task of its stage for 100-500 ms)
      val cg = org.apache.spark.metrics.source.CodegenMetrics
      val compiles0 = cg.METRIC_COMPILATION_TIME.getCount
      val cgMean0 = cg.METRIC_COMPILATION_TIME.getSnapshot.getMean * compiles0
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = cg.METRIC_COMPILATION_TIME.getCount - compiles0
      // approximate compile-time delta from the histogram (reservoir
      // mean × count — indicative, not exact)
      val cgMs = cg.METRIC_COMPILATION_TIME.getSnapshot.getMean *
        cg.METRIC_COMPILATION_TIME.getCount - cgMean0
      // listener events post asynchronously — drain the bus so the last
      // job's task ends land in this query's trace
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(tr)
      val jobs = tr.jobs.values.toSeq
      val jobWall = jobs.map(j => math.max(0L, j.t1 - j.t0)).sum / 1e3
      println(f"%n=== $name: wall=$wall%.3fs jobs=${jobs.size} " +
        f"sum(job wall)=$jobWall%.3fs (gap=${wall - jobWall}%.3fs driver/planning) " +
        f"codegen-compiles=$compiles (~${cgMs}%.0f ms) ===")
      jobs.foreach { j =>
        val w = math.max(0L, j.t1 - j.t0) / 1e3
        val d = if (j.desc.length > 70) j.desc.take(67) + "..." else j.desc
        println(f"  job ${j.id}%4d ${w}%7.3fs tasks=${j.tasks}%5d " +
          f"taskSum=${j.taskMs / 1e3}%8.3fs cpu=${j.cpuMs / 1e3}%8.3fs " +
          f"maxTask=${j.maxTaskMs / 1e3}%7.3fs  $d")
      }
    }
    spark.stop()
  }
}
