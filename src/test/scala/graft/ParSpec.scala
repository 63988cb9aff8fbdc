package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.JobExecutionStatus

/** `Par` legs: they run in their submitter's Spark job group, never in
  * its SQL execution, never deadlock when they wait on legs, cancel their
  * running siblings' jobs on a failure and rethrow it only once those
  * siblings finished.
  */
class ParSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("SparkJobs.count counts the job a leg on a pool thread starts") {
    val sc = spark.sparkContext
    val started = new CountDownLatch(1)
    val (thread, jobs) = SparkJobs.count(spark) {
      val leg = Par.leg(spark) {
        started.countDown()
        sc.parallelize(1 to 10, 2).count()
        Thread.currentThread().getName
      }
      assert(started.await(60, TimeUnit.SECONDS))
      Par.join(leg)
    }
    assert(thread.startsWith("graft-par-"), s"leg ran on $thread")
    assert(jobs == 1)
  }

  test("a leg does not run inside its submitter's SQL execution") {
    val sc = spark.sparkContext
    sc.setLocalProperty("spark.sql.execution.id", "42")
    try assert(Par.join(Par.leg(spark)(sc.getLocalProperty("spark.sql.execution.id"))) == null)
    finally sc.setLocalProperty("spark.sql.execution.id", null)
  }

  test("legs waiting on legs finish") {
    @volatile var sum = -1
    val t = new Thread(() => {
      val outer = (1 to 12).map { i =>
        Par.leg(spark) {
          Par.await((1 to 12).map(j => Par.leg(spark) { Thread.sleep(2); i * j })).sum
        }
      }
      sum = Par.await(outer).sum
    })
    t.setDaemon(true)
    t.start()
    t.join(TimeUnit.SECONDS.toMillis(60))
    assert(!t.isAlive, "nested legs did not finish within 60 s")
    assert(sum == 78 * 78)
  }

  test("a failure is rethrown once the running siblings finished") {
    val siblingStarted = new CountDownLatch(1)
    val siblingDone = new AtomicBoolean(false)
    val failing = Par.leg[Int](spark) {
      siblingStarted.await(60, TimeUnit.SECONDS)
      throw new IllegalStateException("leg failed")
    }
    val sibling = Par.leg[Int](spark) {
      siblingStarted.countDown()
      Thread.sleep(200)
      siblingDone.set(true)
      1
    }
    val e = intercept[IllegalStateException](Par.await(Seq(failing, sibling)))
    assert(e.getMessage == "leg failed")
    assert(siblingDone.get, "the failure was rethrown before its sibling finished")
  }

  test("a failure cancels the Spark job of a running sibling") {
    val sc = spark.sparkContext
    val (tasks, taskMs) = (64, 500L)
    // the sibling's job alone takes at least this long on the session's cores
    val jobMs = tasks * taskMs / sc.defaultParallelism
    val group = s"par-cancel-${UUID.randomUUID()}"
    def inGroup = sc.statusTracker.getJobIdsForGroup(group)
    sc.setJobGroup(group, "par cancel")
    val (e, ms, slow) = try {
      val slow = Par.leg(spark) {
        sc.parallelize(1 to tasks, tasks).map { i => Thread.sleep(taskMs); i }.count()
      }
      val failing = Par.leg[Long](spark) {
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
        while (inGroup.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
        throw new IllegalStateException("leg failed")
      }
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](Par.await(Seq(slow, failing)))
      (e, TimeUnit.NANOSECONDS.toMillis(System.nanoTime() - t0), slow)
    } finally sc.clearJobGroup()
    assert(e.getMessage == "leg failed", "the sibling's cancellation was rethrown")
    assert(ms < jobMs / 2, s"await took $ms ms; the sibling's job needs at least $jobMs ms")
    val cancelled = slow.value.get.failed.map(_.getMessage).getOrElse("")
    assert(cancelled.toLowerCase.contains("cancel"), s"the sibling ended with: $cancelled")
    // the status store lags the scheduler: once it has seen a job started
    // after the failure end, it has seen every job of the group end
    val fence = s"$group-fence"
    sc.setJobGroup(fence, "fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (!sc.statusTracker.getJobIdsForGroup(fence).exists(id =>
        sc.statusTracker.getJobInfo(id).exists(_.status == JobExecutionStatus.SUCCEEDED))) {
      assert(System.nanoTime() < deadline, "the fence job never showed as done")
      Thread.sleep(10)
    }
    assert(inGroup.nonEmpty)
    val running = sc.statusTracker.getActiveJobIds.filter(inGroup.contains)
    assert(running.isEmpty, s"jobs ${running.mkString(",")} still run")
  }
}
