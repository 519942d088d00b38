package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts what a block of driver code runs on Spark. */
object SparkJobs {

  /** (jobs, shuffle records written, shuffle bytes written) of `run`.
    * Listener events arrive asynchronously but in order, so the end of a
    * later marker job means every job and task of `run` was counted. */
  def measured(spark: SparkSession)(run: => Unit): (Int, Long, Long) = {
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) {
          val w = e.taskMetrics.shuffleWriteMetrics
          records.addAndGet(w.recordsWritten)
          bytes.addAndGet(w.bytesWritten)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      run
      val group = s"marker-${System.nanoTime()}"
      sc.setJobGroup(group, "listener marker")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val marker = sc.statusTracker.getJobIdsForGroup(group).head
      val deadline = System.nanoTime() + 30e9.toLong
      while (!ended.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(ended.contains(marker), "listener never saw the marker job")
      (jobs.size - 1, records.get, bytes.get)
    } finally sc.removeSparkListener(listener)
  }
}
