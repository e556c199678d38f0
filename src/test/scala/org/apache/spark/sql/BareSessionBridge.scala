package org.apache.spark.sql

import org.apache.spark.SparkContext

/** Test access to a session built WITHOUT graft's extensions on a
  * running SparkContext — the state a cluster session is in when
  * `spark.sql.extensions` does not name graft.GraftExtensions.
  */
object BareSessionBridge {
  def session(sc: SparkContext): SparkSession = new classic.SparkSession(sc)

  /** Plan `df`'s logical plan in `spark`, whatever session built it. */
  def executedPlanIn(spark: SparkSession, df: Dataset[_]): String =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan).queryExecution.executedPlan.toString
}
