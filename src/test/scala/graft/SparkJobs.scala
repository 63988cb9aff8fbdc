package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts. */
object SparkJobs {

  /** Runs `f` and returns its result with the number of Spark jobs it
    * started on this thread, counted by a job group unique to this call,
    * so jobs of suites running alongside are not counted.
    */
  def count[A](spark: SparkSession)(f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"job-budget-${UUID.randomUUID()}"
    val fence = s"$group-fence"
    val jobs = new AtomicInteger
    val fenceSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`fence`) => fenceSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job budget")
      val r = try f finally sc.clearJobGroup()
      // the listener bus delivers events in order: once the fence job's
      // start arrives, every job of `f` has been counted
      sc.setJobGroup(fence, "job budget fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenceSeen.await(60, TimeUnit.SECONDS), "listener events did not arrive")
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
