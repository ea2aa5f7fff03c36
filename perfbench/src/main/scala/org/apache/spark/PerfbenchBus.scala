package org.apache.spark

/** The listener bus and the job-group property key are internal to Spark;
  * the traced run needs both to charge Spark work to its spans. */
object PerfbenchBus {
  /** Waits until the listener bus has delivered every queued event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID
}
