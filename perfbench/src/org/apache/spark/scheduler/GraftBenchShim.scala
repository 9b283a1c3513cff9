package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The two scheduler internals the benchmark reads. Both are
  * package-private in Spark, so this object lives in Spark's package. */
object GraftBenchShim {

  /** Jobs submitted so far in this SparkContext. Read synchronously on
    * the client thread, so per-operation job counts need no listener. */
  def jobsSubmitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs

  /** Block until every posted listener event has been delivered, so a
    * listener's totals are complete when a cycle's figures are read. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
