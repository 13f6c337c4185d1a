package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Test-harness inverse of [[Bridge.streaming]]: a `Source.getBatch`
  * result refuses batch execution (`UnsupportedOperationChecker`), so a
  * spec that drives `getBatch` directly — outside
  * `MicroBatchExecution` — unwraps the streaming `LogicalRDD` back into
  * a batch frame to count/collect it. */
object StreamingFrames {

  def asBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    df.queryExecution.analyzed match {
      case l: LogicalRDD =>
        spark.internalCreateDataFrame(l.rdd, df.schema, isStreaming = false)
      case other => throw new IllegalArgumentException(
        s"not a streaming-frame plan: ${other.getClass.getName}")
    }
  }
}
