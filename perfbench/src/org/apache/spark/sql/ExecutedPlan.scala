package org.apache.spark.sql

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The final physical plan of a finished SQL execution. The event's
  * query execution is `private[sql]`, hence the package. */
object ExecutedPlan {
  def of(e: SparkListenerSQLExecutionEnd): Option[SparkPlan] =
    Option(e.qe).map(_.executedPlan)
}
