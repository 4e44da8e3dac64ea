package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an end event carries is `private[sql]`; the
  * benchmark reads its planning phases (`qe.tracker`) from it. */
object SqlEvents {
  def planningMs(e: SparkListenerSQLExecutionEnd): Option[Long] =
    Option(e.qe).map(_.tracker.phases.values.map(_.durationMs).sum)
}
