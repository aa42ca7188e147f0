package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.datasources.LogicalRelation

/** Turns a batch read into the frame a v1 streaming `Source.getBatch` must
  * return: its relations marked `isStreaming` and tagged with the source,
  * rebuilt with `classic.Dataset.ofRows`, which is what Spark's
  * `FileStreamSource` does. `ofRows` is `private[sql]`.
  */
object GraftStream {
  def batchOf(frame: DataFrame, source: SparkDataStream): DataFrame = {
    val ds = frame.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession, ds.logicalPlan.transform {
      case r: LogicalRelation => r.copy(isStreaming = true, stream = Some(source))
      case r: LocalRelation => r.copy(isStreaming = true, stream = Some(source))
    })
  }
}
