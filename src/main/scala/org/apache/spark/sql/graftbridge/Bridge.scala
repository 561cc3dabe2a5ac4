package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made Column<->Expression conversion `private[sql]`
  * (org.apache.spark.sql.classic.ExpressionUtils). This bridge lives in a
  * subpackage of org.apache.spark.sql purely to re-export those two
  * conversions (and session cloning) to the graft engine; no Spark
  * internals are modified.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a LogicalPlan (classic Dataset.ofRows is private[sql]). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Analyzed LogicalPlan of a DataFrame. */
  def analyzed(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** A child of `spark` (classic cloneSession is `private[sql]`): the same
    * SparkContext and shared state, its own SQL conf — a copy of
    * `spark`'s runtime confs with `confs` set on top. Setting them on the
    * child leaves `spark`'s conf as it was. */
  def childSession(spark: org.apache.spark.sql.SparkSession,
                   confs: (String, String)*): org.apache.spark.sql.SparkSession = {
    val child = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    confs.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }
}
