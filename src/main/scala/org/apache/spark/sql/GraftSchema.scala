package org.apache.spark.sql

import org.apache.spark.sql.types.StructType

/** `StructType.asNullable`, which is `private[spark]`: the form in which
  * Spark's file sources hand a written schema back to a reader.
  */
object GraftSchema {
  def asNullable(schema: StructType): StructType = schema.asNullable
}
