package org.apache.spark

/** Counts what a task reads in its input metrics, as Spark's own file
  * readers do (the metrics' setters are internal to Spark, hence the
  * package).
  */
object TaskInputMetrics {

  /** Add `records` and `bytes` to the input read by `context`'s task. */
  def add(context: TaskContext, records: Long, bytes: Long): Unit = {
    val m = context.taskMetrics().inputMetrics
    m.incRecordsRead(records)
    m.incBytesRead(bytes)
  }
}
