package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to the classic Column <-> Expression conversions, which are
  * `private[sql]` in Spark 4.x. Lives in the Spark SQL package solely to
  * re-export the conversions our Catalyst expressions and the sketch-op
  * seal need; no Spark internals are modified.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** A session clone sharing the SparkContext, catalog state and — the
    * part the sketch ops rely on — the CacheManager (persisted relations
    * stay visible), with its OWN SQLConf: conf overrides on the clone are
    * invisible to the parent session and every other query on it.
    */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Re-bind a logical plan to (a clone of) a session — the classic
    * `Dataset.ofRows`, `private[sql]` in Spark 4.x.
    */
  def ofRows(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)

  /** The session's Hadoop configuration with its SQL settings laid over
    * it, as a file scan reads with.
    */
  def newHadoopConf(s: SparkSession): org.apache.hadoop.conf.Configuration =
    s.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
}
