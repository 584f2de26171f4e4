package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.StructType

/** `StructType.asNullable` is `private[spark]`; a file-source relation
  * applies it to every data schema, inferred or user-specified. */
object SchemaBridge {
  def asNullable(s: StructType): StructType = s.asNullable
}
