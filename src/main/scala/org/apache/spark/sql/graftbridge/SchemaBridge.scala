package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.types.StructType

/** The `private[sql]` schema rules a parquet read applies, for a caller that
  * declares the schema instead of inferring it. Same pattern as
  * [[ColumnBridge]].
  */
object SchemaBridge {

  /** The schema a parquet read of data written as `s` reports: every field,
    * array element and map value nullable.
    */
  def asNullable(s: StructType): StructType = s.asNullable

  /** Parquet schema merging's union of `a` and `b`: `a`'s fields first, then
    * the fields only `b` has, nested structs merged the same way.
    */
  def merge(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)
}
