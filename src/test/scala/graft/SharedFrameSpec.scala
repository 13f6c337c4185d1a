package graft

import scala.jdk.CollectionConverters._

import graft.ops.Checkpointing
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.classic.{SparkSession => ClassicSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftbridge.Bridge

/** [[graft.ops.Checkpointing.shared]]: a subplan several consumers read
  * is computed once, keeps its lineage, and loses none of its SQL
  * metric updates however the heap is collected. */
class SharedFrameSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("shared subplans lose no SQL metric updates across GC") {
    val store = spark.asInstanceOf[ClassicSession].sharedState.statusStore
    // attach after the session exists: starting a session may reload
    // the logging configuration and drop the appender
    val lost = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "lost-accumulators", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lost.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger("org.apache.spark.scheduler.DAGScheduler")
      .asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    // collect the heap throughout, so no build or stage outlives a GC
    @volatile var running = true
    val gc = new Thread(() => while (running) { System.gc(); Thread.sleep(20) })
    gc.setDaemon(true)
    gc.start()
    try {
      for ((name, q) <- SparkEntry.select(
          Seq("doc_dsir_sample", "doc_dup_passages", "doc_dup_passages_scan"))) {
        System.gc()
        val df = q(spark, sf0001)
        assert(df.collect().nonEmpty, name)
        Bridge.drainListenerBus(spark)
        // every metric of the executed plan is still registered, and
        // the collect's execution holds the rows each scan read
        val metrics = collectWithSubqueries(df.queryExecution.executedPlan) {
          case p => p.metrics.values
        }.flatten
        assert(metrics.nonEmpty, name)
        metrics.foreach { m =>
          assert(m.isRegistered, s"$name: ${m.name} lost")
        }
        val exec = store.executionsList().maxBy(_.executionId)
        val values = store.executionMetrics(exec.executionId)
        val scans = store.planGraph(exec.executionId).allNodes
          .filter(_.name.startsWith("Scan "))
        assert(scans.nonEmpty, name)
        scans.foreach { n =>
          val rows = n.metrics.find(_.name == "number of output rows")
          assert(rows.exists(m => values.contains(m.accumulatorId)),
            s"$name: ${n.name} (node ${n.id}) reported no output rows")
        }
      }
    } finally {
      running = false
      logger.removeAppender(appender)
    }
    val errors = lost.asScala.filter(_.contains("Failed to update accumulator"))
    assert(errors.isEmpty, errors.take(3).mkString("\n"))
  }

  test("shared: rows equal localCheckpoint's, and an unpersisted frame recomputes") {
    val df = spark.range(0, 2000, 1, 7)
      .select(($"id" % 13).as("k"), ($"id" * 3).as("v"))
      .repartition(5, $"k")
    val shared = Checkpointing.shared(df)
    val want = df.localCheckpoint().collect().sortBy(r => (r.getLong(0), r.getLong(1)))
    def rows() = shared.collect().sortBy(r => (r.getLong(0), r.getLong(1)))
    val blocks = shared.queryExecution.analyzed.collectFirst {
      case l: LogicalRDD => l.rdd
    }.get
    assert(blocks.getNumPartitions == 5)
    assert(rows().sameElements(want))
    assert(spark.sparkContext.getPersistentRDDs.contains(blocks.id))
    // drop the blocks: the lineage is still there, so the next action
    // computes the same rows again
    blocks.unpersist(blocking = true)
    assert(rows().sameElements(want))
  }
}
