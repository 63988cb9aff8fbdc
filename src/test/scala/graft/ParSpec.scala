package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** `Par` legs: they run in their submitter's Spark job group, never in
  * its SQL execution, never deadlock when they wait on legs, and rethrow
  * a failure only once their running siblings finished.
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
}
