package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the `private[sql]` Column ⇄ Expression conversions —
  * the standard bridge pattern for libraries that ship native Catalyst
  * expressions (the public API offers no constructor for a Column over a
  * custom Expression).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** The cache manager's `private[sql]` entry count (public: `isEmpty`). */
object CacheBridge {
  def entries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
