package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query job/stage/task profile: counts Spark jobs, stages, tasks
  * and sums task time while a query runs, separating "many tiny jobs"
  * driver overhead from real executor compute (optimization guide §1:
  * measure first, decide where the time goes).
  *
  * `runMain graft.ProfQ <q1,q2,...> <sfDir>`
  */
object ProfQ {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",")
    val sfDir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var taskTimeMs = 0L
    @volatile var shuffleReadB = 0L
    @volatile var shuffleWriteB = 0L
    val jobDone = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double, String, String)]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(s: SparkListenerStageCompleted)
          : Unit = synchronized {
        stages += 1
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          taskTimeMs += m.executorRunTime
          shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        }
        val wallS = (for {
          a <- s.stageInfo.completionTime
          b <- s.stageInfo.submissionTime
        } yield (a - b) / 1e3).getOrElse(0.0)
        // attribute the stage to the first graft frame in its call-site
        // stack (the short name is just the action verb — useless when
        // every commit-machinery job is an async Dataset action)
        val site = s.stageInfo.details.linesIterator
          .find(l => l.contains("graft.") && !l.contains("ProfQ"))
          .map(_.trim.replaceAll("^at ", ""))
          .getOrElse(s.stageInfo.name.takeWhile(_ != '+').trim)
        val runS =
          if (m != null) m.executorRunTime / 1e3 else 0.0
        val detail = f"tasks=${s.stageInfo.numTasks} " +
          f"in=${if (m != null) m.inputMetrics.bytesRead / 1e6 else 0.0}%.1fMB " +
          f"out=${if (m != null) m.outputMetrics.bytesWritten / 1e6 else 0.0}%.1fMB " +
          f"sr=${if (m != null) m.shuffleReadMetrics.totalBytesRead / 1e6 else 0.0}%.1fMB " +
          s.stageInfo.rddInfos.map(_.name).mkString("|").take(120)
        jobDone.add((wallS, runS, site, detail))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        synchronized { tasks += 1 }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { n =>
      for (i <- 1 to 2) {
        jobs = 0; stages = 0; tasks = 0; taskTimeMs = 0
        shuffleReadB = 0; shuffleWriteB = 0
        jobDone.clear()
        val t0 = System.nanoTime()
        val rows = SparkEntry.queries(n)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        // every event of the run reaches the counters before they print
        org.apache.spark.sql.graft.ListenerBus.drain(spark)
        println(f"[profq] $n run$i wall=$wall%.3f s rows=$rows " +
          f"jobs=$jobs stages=$stages tasks=$tasks " +
          f"taskTime=${taskTimeMs / 1e3}%.2f s " +
          f"shufR=${shuffleReadB / 1e6}%.1f MB " +
          f"shufW=${shuffleWriteB / 1e6}%.1f MB")
        if (i == 2) {
          import scala.jdk.CollectionConverters._
          val bySite = jobDone.asScala.toSeq.groupBy(_._3)
            .map { case (s, xs) =>
              (xs.map(_._1).sum, xs.map(_._2).sum, xs.size, s) }
            .toSeq.sortBy(-_._1).take(12)
          bySite.foreach { case (t, rt, cnt, s) =>
            println(
              f"[profq]   $t%7.2f s  run=$rt%7.2f s  n=$cnt%-4d $s") }
          // and the heaviest individual stages by executor run time
          jobDone.asScala.toSeq.sortBy(-_._2).take(10).foreach {
            case (w, rt, site, nm) =>
              println(f"[profq]   stage run=$rt%7.2f s wall=$w%5.2f s" +
                f"  $nm  [$site]")
          }
        }
      }
    }
    spark.stop()
  }
}
