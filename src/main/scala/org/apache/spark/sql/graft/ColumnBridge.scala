package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ExpressionUtils, SparkSession}

/** Column ↔ Expression bridge. Spark 4 routes Column through the
  * connect-compatible ColumnNode layer and marks the classic-backend
  * converters `private[sql]`; this shim (in the sql package tree — the
  * conventional extension point, NOT a fork) re-exports the two
  * conversions the graft custom expressions need, and the row-RDD
  * frame constructor [[graft.util.Cut.flat]] builds its leaf with.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A frame whose plan is one `LogicalRDD` reading `rdd` itself, with
    * `like`'s schema, default statistics and no partitioning — what
    * `createDataFrame(rdd, schema)` builds, minus its Row round trip,
    * which would put a fresh RDD between the leaf and `rdd`. */
  def rddFrame(like: DataFrame, rdd: RDD[InternalRow]): DataFrame =
    like.sparkSession.asInstanceOf[SparkSession]
      .internalCreateDataFrame(rdd, like.schema)
}
