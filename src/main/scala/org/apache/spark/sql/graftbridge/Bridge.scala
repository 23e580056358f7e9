package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Expression <-> Column bridge. Spark 4 made the Catalyst constructor of
  * `Column` private[sql] (columns now wrap `ColumnNode`s); extension
  * libraries that define native Catalyst expressions bridge through the
  * classic converter, which requires living under the org.apache.spark.sql
  * package — the established pattern for Spark-native extension libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * private[sql]) — the injection point for custom logical operators
    * (e.g. the native as-of join node).
    */
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  ): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      plan
    )

  /** Run `f` with SQL conf `key` set to `value` for the CALLING THREAD
    * only: a clone of the session's conf becomes this thread's
    * `SQLConf.get` (which consults the thread's existing conf before the
    * active session's), so planning on this thread sees `value` while
    * every other thread — and `spark.conf` — keeps the session's setting.
    * Threads started inside `f` and executor tasks do not inherit it.
    */
  def withThreadConf[T](spark: org.apache.spark.sql.SparkSession, key: String, value: String)(f: => T): T = {
    val conf = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.conf.clone()
    conf.setConfString(key, value)
    org.apache.spark.sql.internal.SQLConf.withExistingConf(conf)(f)
  }

  /** The analyzed logical plan of a DataFrame (`queryExecution` is
    * classic-API surface in Spark 4).
    */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution
      .analyzed
}
