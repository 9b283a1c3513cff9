package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Exact Spark job counts for a block of code. Listener events arrive
  * asynchronously but in order, so a marked sentinel job before the
  * block and another after it bracket exactly the block's job starts —
  * no sleep, no missed or stray events. */
object JobCount {
  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = s"graft-jobcount-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    @volatile var gate = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.job.description") == tag)) gate.countDown()
        else jobs.incrementAndGet()
    }
    def sentinel(): Unit = {
      val prior = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(prior)
      assert(gate.await(60, TimeUnit.SECONDS), "listener bus stalled")
    }
    sc.addSparkListener(listener)
    try {
      sentinel()
      jobs.set(0)
      gate = new CountDownLatch(1)
      val out = body
      sentinel()
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
