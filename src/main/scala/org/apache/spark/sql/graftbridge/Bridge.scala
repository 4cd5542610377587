package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ catalyst Expression bridge. Spark 4 made these conversions
  * `private[sql]` (Column wraps a ColumnNode); extension libraries reach
  * them from an `org.apache.spark.sql` subpackage — the standard
  * technique used by open-source Spark extension projects.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Final executed physical plan of a streaming query's LAST completed
    * micro-batch (`StreamingQueryWrapper`/`lastExecution` are
    * `private[sql]`) — for plan audits over the streaming topology, e.g.
    * asserting the category branch stays UDF-free.
    */
  def lastExecutedPlan(
      q: org.apache.spark.sql.streaming.StreamingQuery): org.apache.spark.sql.execution.SparkPlan =
    q match {
      case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
        val exec = w.streamingQuery.lastExecution
        require(exec != null,
          "streaming query has not completed a micro-batch yet — call " +
            "processAllAvailable() (or wait for a trigger) before lastExecutedPlan")
        exec.executedPlan
      case other =>
        throw new IllegalArgumentException(s"not a wrapped streaming query: ${other.getClass}")
    }

  /** Number of entries in the session's `CacheManager` (the count is
    * `private[sql]`) — for leak audits that compare it before and after.
    */
  def cachedEntries(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries

  /** Register a temp SQL function on an existing session (the
    * functionRegistry is also `private[sql]`).
    */
  def registerTempFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
