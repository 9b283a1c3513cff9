package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Exact Spark job counts for a block of code. Listener events arrive
  * asynchronously but in order, so a marked sentinel job before the
  * block and another after it bracket exactly the block's job starts —
  * no sleep, no missed or stray events. */
object JobCount {
  def of[T](spark: SparkSession)(body: => T): (T, Int) = {
    val (out, descriptions) = described(spark)(body)
    (out, descriptions.size)
  }

  /** The block's jobs, as their `spark.job.description` ("" where
    * unset), in start order. */
  def described[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val tag = s"graft-jobcount-${java.util.UUID.randomUUID}"
    val jobs = new ConcurrentLinkedQueue[String]
    @volatile var gate = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val d = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (d == tag) gate.countDown() else jobs.add(d)
      }
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
      jobs.clear()
      gate = new CountDownLatch(1)
      val out = body
      sentinel()
      (out, jobs.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
