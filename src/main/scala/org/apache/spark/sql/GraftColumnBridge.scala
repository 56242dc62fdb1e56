package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's private[sql] Expression <-> Column conversion so the
  * engine can plan its native Catalyst kernels (graft.functions.*) through
  * the public Column API. Classic (non-Connect) sessions only, which is all
  * this engine targets. */
object GraftColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `schema` with every field, array element and map value nullable:
    * how the parquet reader reports a schema that was written. */
  def asNullable(schema: StructType): StructType = schema.asNullable
}
