package graft

import java.util.concurrent.{Executors, ThreadFactory}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Concurrency and parallelism helpers shared by every operator: legs of
  * independent Spark actions on one pool, and the scan spread of small
  * inputs.
  */
object Par {

  /** One cached daemon pool for every leg: it grows while legs wait on
    * legs, so nesting never deadlocks it. Its threads do not inherit the
    * creating thread's Spark local properties (an inherited job group
    * would stick to the thread); each leg sets its submitter's instead.
    * Concurrency never changes results: callers only overlap actions with
    * no data dependency.
    */
  private lazy val pool = ExecutionContext.fromExecutorService(
    Executors.newCachedThreadPool(new ThreadFactory {
      private val n = new AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(null, r, s"graft-par-${n.getAndIncrement()}", 0L, false)
        t.setDaemon(true); t
      }
    }))

  /** Local properties a leg takes from its submitter, so its jobs count in
    * the submitter's job group and carry its description and job tags, and
    * those it clears: each of its actions is a new SQL execution, not part
    * of one running on the submitter.
    */
  private val Inherited = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel", "spark.job.tags")
  private val Cleared = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")

  /** A leg's own job tag, which its nested legs inherit, and whether an
    * [[await]] cancelled it.
    */
  private final class Tag(sc: SparkContext, val name: String) {
    @volatile var cancelled = false
    def cancel(): Unit = { cancelled = true; sc.cancelJobsWithTag(name, "a sibling leg failed") }
  }
  private val tags = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[Future[_], Tag]())
  private val tagIds = new AtomicLong(0)

  /** Start `f` as a leg of an operation: an independent Spark action (an
    * artifact write, a driver collect of an unrelated dimension, a build
    * stage) on the pool, its jobs tagged with the leg's own job tag.
    */
  def leg[A](spark: SparkSession)(f: => A): Future[A] = {
    val sc = spark.sparkContext
    val props = Inherited.map(k => k -> sc.getLocalProperty(k)) ++ Cleared.map(_ -> null)
    val tag = new Tag(sc, s"graft-leg-${tagIds.getAndIncrement()}")
    val leg = Future {
      val saved = props.map { case (k, _) => k -> sc.getLocalProperty(k) }
      props.foreach { case (k, v) => sc.setLocalProperty(k, v) }
      sc.addJobTag(tag.name)
      try f finally saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
    }(pool)
    tags.put(leg, tag)
    leg
  }

  /** Wait for every leg and return their results in order. The first
    * failure cancels the Spark jobs of every unfinished leg (by its job
    * tag); once every leg has finished, the first failure in leg order of
    * a leg that was not cancelled is rethrown, never a sibling's
    * cancellation.
    */
  def await[A](legs: Seq[Future[A]]): Seq[A] = {
    val failed = new AtomicBoolean(false)
    legs.foreach(_.failed.foreach { _ =>
      if (failed.compareAndSet(false, true))
        legs.filterNot(_.isCompleted).flatMap(l => Option(tags.get(l))).foreach(_.cancel())
    }(ExecutionContext.parasitic))
    legs.foreach(Await.ready(_, Duration.Inf))
    val failures = legs.flatMap(l => l.value.get.failed.toOption
      .map(_ -> Option(tags.get(l)).exists(_.cancelled)))
    failures.find(!_._2).orElse(failures.headOption).foreach(f => throw f._1)
    legs.map(_.value.get.get)
  }

  /** The result of one leg, once it has finished; its failure is rethrown. */
  def join[A](leg: Future[A]): A = Await.result(leg, Duration.Inf)

  /** `f` with `description` as the `spark.job.description` of the jobs it
    * starts on this thread (and in the legs it starts), restored after.
    */
  def described[A](spark: SparkSession, description: String)(f: => A): A = {
    val sc = spark.sparkContext
    val saved = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(description)
    try f finally sc.setJobDescription(saved)
  }

  /** Run `fs` as concurrent legs and wait for all of them ([[await]]). */
  def all[A](spark: SparkSession)(fs: (() => A)*): Seq[A] =
    await(fs.map(f => leg(spark)(f())))

  /** Scale-adaptive parallelism spread for narrow CPU-heavy operators
    * (guide §2.2/§6, round 8).
    *
    * A small corpus stored as one parquet file plans as ONE scan task
    * (`spark.sql.files.maxPartitionBytes` = 128 MB, and a single row group
    * cannot split), so per-row regex/hash/tokenize work runs on one core
    * of a 32-core session — the extraction-heavy operators were measured
    * spending most of their wall time inside that single task. When the
    * input is estimated SMALLER than one scan split (logical-plan
    * statistics — file sizes for parquet scans; no physical planning, no
    * job), a round-robin repartition (a sub-MB Exchange here) unlocks
    * every core; any input big enough to plan multiple scan tasks — every
    * real corpus at scale — passes through untouched, so no shuffle is
    * ever added to a large scan. An UNKNOWN size estimates huge and is
    * likewise untouched (the safe direction). Use on row-wise operators
    * only: their output is partition-invariant, so results are unchanged
    * by construction.
    */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxPart = spark.sessionState.conf.filesMaxPartitionBytes
    val plan = df.queryExecution.optimizedPlan
    // FILE-source leaves only: their size statistics are the actual file
    // bytes, so "smaller than one scan split" is a fact. Generated /
    // in-memory / checkpointed sources estimate garbage (a synthetic
    // 200k-doc corpus estimated ~8 B/row and would have been shuffled
    // whole) and already carry their creator's chosen parallelism —
    // never touched.
    val allFileLeaves = plan.collectLeaves().forall {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.isInstanceOf[
          org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      case _ => false
    }
    if (target > 1 && allFileLeaves &&
        plan.stats.sizeInBytes < BigInt(maxPart))
      df.repartition(target)
    else df
  }
}
