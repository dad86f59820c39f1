package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What a block of driver code makes Spark do: the jobs it starts, the
  * stages those jobs hold and the input records their tasks read. Only
  * work submitted from the calling thread counts — the block runs under a
  * fresh job group, which SQL executions and their AQE stage jobs inherit —
  * so jobs of other threads sharing the session never leak in. A marker job closes the block: the
  * listener bus delivers events in order, so once the marker's end
  * arrives, every event of the block has been seen. */
object SparkProbe {

  final case class Usage(jobs: Int, stages: Int, recordsRead: Long)

  def measure[T](spark: SparkSession)(body: => T): (T, Usage) = {
    val sc = spark.sparkContext
    val group = s"probe-${UUID.randomUUID()}"
    val marker = s"$group-end"
    val jobs = new AtomicInteger
    val records = new AtomicLong
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val markerJob = new AtomicInteger(-1)
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) {
          if (e.properties.getProperty("spark.job.description") == marker)
            markerJob.set(e.jobId)
          else {
            jobs.incrementAndGet()
            e.stageIds.foreach(stages.add)
          }
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == markerJob.get) closed.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "SparkProbe.measure")
      val result = try body finally {
        sc.setJobDescription(marker)
        sc.parallelize(Seq(1), 1).count()
        sc.clearJobGroup()
      }
      assert(closed.await(60, TimeUnit.SECONDS), "listener never saw the marker job end")
      (result, Usage(jobs.get, stages.size, records.get))
    } finally sc.removeSparkListener(listener)
  }
}
