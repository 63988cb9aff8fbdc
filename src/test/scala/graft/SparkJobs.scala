package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts and describes the Spark jobs a block of driver code starts. */
object SparkJobs {

  /** Runs `f` and returns its result with the number of Spark jobs it
    * started on this thread, counted by a job group unique to this call,
    * so jobs of suites running alongside are not counted.
    */
  def count[A](spark: SparkSession)(f: => A): (A, Int) = {
    val (r, started) = jobs(spark)(f)
    (r, started.size)
  }

  /** Runs `f` and returns its result with the number of tasks of the
    * result stage of each Spark job it started on this thread, in order.
    */
  def resultTasks[A](spark: SparkSession)(f: => A): (A, Seq[Int]) = {
    val (r, started) = jobs(spark)(f)
    (r, started.map(_.stageInfos.maxBy(_.stageId).numTasks))
  }

  /** Runs `f` and returns its result with the `spark.job.description` of
    * each Spark job it started on this thread, in order (null for none).
    */
  def descriptions[A](spark: SparkSession)(f: => A): (A, Seq[String]) = {
    val (r, started) = jobs(spark)(f)
    (r, started.map(e => Option(e.properties).map(_.getProperty("spark.job.description")).orNull))
  }

  /** Runs `f` and returns its result with the start events of the Spark
    * jobs it started on this thread (see [[count]]).
    */
  def jobs[A](spark: SparkSession)(f: => A): (A, Seq[SparkListenerJobStart]) = {
    val sc = spark.sparkContext
    val group = s"job-budget-${UUID.randomUUID()}"
    val fence = s"$group-fence"
    val jobs = new ConcurrentLinkedQueue[SparkListenerJobStart]
    val fenceSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))) match {
          case Some(`group`) => jobs.add(e)
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
      (r, jobs.asScala.toSeq.sortBy(_.jobId))
    } finally sc.removeSparkListener(listener)
  }
}
