package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}

/** The layers a traced run reports, named after the engine's modules. */
object Layers {
  val all: Seq[String] = Seq(
    "extract",
    "index.tf", "index.docs", "index.dict", "index.postings", "index.blocks",
    "index.stats", "index.cache",
    "checkpoint.fingerprint", "checkpoint.manifest", "checkpoint.units",
    "query.analyze", "query.wand", "query.urls", "query.filter", "query.lines",
    "query.batch",
    "regex.literals", "regex.dict", "regex.candidates", "regex.verify")
  val Unattributed = "unattributed"
}

/** What a timed op does; attribution rules and the owner of the driver
  * time before the op's first job depend on it.
  */
sealed abstract class OpKind(val name: String, val leadLayer: Option[String]) {
  def builds: Boolean = false
}
object OpKind {
  case object Build extends OpKind("build", None) { override def builds = true }
  case object Resume extends OpKind("resume", None) { override def builds = true }
  case object Cache extends OpKind("cache", Some("index.cache"))
  case object Query extends OpKind("query", Some("query.analyze"))
  case object Filtered extends OpKind("filtered", Some("query.analyze"))
  case object Lines extends OpKind("lines", Some("query.analyze"))
  case object Batch extends OpKind("batch", Some("query.analyze"))
  case object Regex extends OpKind("regex", Some("regex.literals"))
}

/** Totals of one layer over the traced ops of a run. */
final class LayerTotals {
  var wallMs = 0.0
  var jobs = 0L
  var cpuMs = 0.0
  var rowsIn = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** One Spark job as the listener saw it. */
final class JobRec(val id: Int, val start: Long, val execId: Long,
    val stageSite: String) {
  @volatile var end: Long = -1L
  var cpuNs = 0L
  var inputRows = 0L
  var scanRows = 0L
  var shuffleRows = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Attributes every Spark job of a timed op to a layer from outside the
  * engine, and splits the op's wall time across layers.
  *
  * A job maps to its SQL execution (`spark.sql.execution.id`), and the
  * execution to the index table it writes or, failing that, the tables it
  * scans — read from the physical plan posted with
  * [[SparkListenerSQLExecutionStart]]. Jobs with no known table fall back
  * to the first `graft.*` frame of the execution's (or stage's) call site.
  *
  * Wall time: each instant of an op is shared equally by the layers with a
  * job running at that instant; driver time with no job running goes to
  * the next job's layer (its planning), the op kind's lead layer before
  * the first job, and the last job's layer after it. The layer times of an
  * op therefore add up to the op's wall time.
  *
  * The listener bus is asynchronous and not public, so [[settle]] runs a
  * marker job and waits until the listener has seen it end and has seen
  * as many job ends as job starts before any totals are read.
  */
final class Tracer(sc: SparkContext, roots: () => Map[String, String])
    extends SparkListener {
  import Tracer._

  private val started = new AtomicInteger
  private val ended = new AtomicInteger
  private val fencesSeen = new AtomicInteger
  private var fencesRun = 0
  private val jobs = new ConcurrentHashMap[Int, JobRec]
  private val stageJob = new ConcurrentHashMap[Int, JobRec]
  private val plans = new ConcurrentHashMap[Long, (String, String)]
  /** Accumulator ids of the "number of output rows" metric of scan nodes. */
  private val scanRowAccs = ConcurrentHashMap.newKeySet[Long]()

  val totals: Map[String, LayerTotals] =
    (Layers.all :+ Layers.Unattributed).map(_ -> new LayerTotals).toMap
  val opJobs = mutable.Map[String, Long]().withDefaultValue(0L)
  val opDriverMs = mutable.Map[String, Double]().withDefaultValue(0.0)
  val opCount = mutable.Map[String, Long]().withDefaultValue(0L)

  def attach(): Unit = sc.addSparkListener(this)
  def detach(): Unit = sc.removeSparkListener(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      plans.put(s.executionId, (s.physicalPlanDescription, s.details))
      addScanAccs(s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate => addScanAccs(u.sparkPlanInfo)
    case _ =>
  }

  private def addScanAccs(p: SparkPlanInfo): Unit = {
    if (p.nodeName.contains("Scan"))
      p.metrics.filter(_.name == "number of output rows")
        .foreach(m => scanRowAccs.add(m.accumulatorId))
    p.children.foreach(addScanAccs)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    if (props.exists(p => p.getProperty(DescKey) == FenceDesc)) return
    val exec = props.flatMap(p => Option(p.getProperty(ExecKey)))
      .map(_.toLong).getOrElse(-1L)
    val site = e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")
    val j = new JobRec(e.jobId, e.time, exec, site)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
    started.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.cpuNs += m.executorCpuTime
      j.inputRows += m.inputMetrics.recordsRead
      j.shuffleRows += m.shuffleReadMetrics.recordsRead
      e.taskInfo.accumulables.foreach { acc =>
        if (scanRowAccs.contains(acc.id)) acc.update.foreach {
          case n: java.lang.Long => j.scanRows += n
          case _ =>
        }
      }
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      j.spillBytes += m.diskBytesSpilled
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j == null) fencesSeen.incrementAndGet()
    else { j.end = e.time; ended.incrementAndGet() }
  }

  /** Block until every event posted before this call has been delivered. */
  def settle(): Unit = {
    fencesRun += 1
    sc.setLocalProperty(DescKey, FenceDesc)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(DescKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (fencesSeen.get() < fencesRun || ended.get() != started.get()) {
      require(System.nanoTime() < deadline, "listener events did not settle")
      Thread.sleep(2)
    }
  }

  /** Account the jobs of one traced op that ran over [t0, t1] (epoch ms). */
  def finishOp(kind: OpKind, t0: Long, t1: Long): Unit = {
    settle()
    val all = jobs.values().asScala.toVector
    all.foreach { j => jobs.remove(j.id) }
    stageJob.clear()
    val mine = all.filter(j => j.start >= t0 && j.start <= t1).sortBy(_.id)
    var afterBlocks = false
    val tagged = mine.map { j =>
      val (layer, scansBlocks) = layerOf(kind, j, afterBlocks)
      afterBlocks ||= scansBlocks
      System.err.println(s"[trace] op=${kind.name} job=${j.id} layer=$layer")
      val t = totals(layer)
      t.jobs += 1; t.cpuMs += j.cpuNs / 1e6
      // rows the job's scans produced (SQL jobs; cached scans count rows,
      // not cached batches) or read from files (other jobs), plus the
      // shuffle rows it read
      t.rowsIn += (if (j.execId >= 0) j.scanRows else j.inputRows) + j.shuffleRows
      t.shuffleBytes += j.shuffleBytes; t.spillBytes += j.spillBytes
      (j, layer)
    }
    val wall = splitWall(kind, tagged, t0, t1)
    wall.foreach { case (l, ms) => totals(l).wallMs += ms }
    val opMs = (t1 - t0).toDouble
    val busy = busyMs(mine, t0, t1)
    System.err.println(s"[trace-op] ${kind.name} wall_ms=${t1 - t0} " +
      s"jobs=${mine.size} busy_ms=$busy " +
      wall.toSeq.sortBy(-_._2).map { case (l, ms) => f"$l=$ms%.0f" }.mkString(" "))
    opJobs(kind.name) += mine.size
    opDriverMs(kind.name) += opMs - busy
    opCount(kind.name) += 1
  }

  private def clip(j: JobRec, t0: Long, t1: Long): (Long, Long) =
    (math.max(j.start, t0), math.min(if (j.end < 0) t1 else j.end, t1))

  /** Wall time of [t0, t1] covered by at least one job. */
  private def busyMs(js: Seq[JobRec], t0: Long, t1: Long): Double = {
    var covered = 0L
    var reach = t0
    js.map(clip(_, t0, t1)).sortBy(_._1).foreach { case (a, b) =>
      val s = math.max(a, reach)
      if (b > s) { covered += b - s; reach = b }
    }
    covered.toDouble
  }

  private def splitWall(kind: OpKind, tagged: Seq[(JobRec, String)],
      t0: Long, t1: Long): Map[String, Double] = {
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    if (tagged.isEmpty) {
      out(kind.leadLayer.getOrElse(Layers.Unattributed)) += (t1 - t0).toDouble
      return out.toMap
    }
    val spans = tagged.map { case (j, l) => val (a, b) = clip(j, t0, t1); (a, b, l) }
    val cuts = (spans.flatMap(s => Seq(s._1, s._2)) ++ Seq(t0, t1))
      .filter(t => t >= t0 && t <= t1).distinct.sorted
    val firstStart = spans.map(_._1).min
    cuts.zip(cuts.tail).foreach { case (a, b) =>
      val active = spans.filter(s => s._1 <= a && s._2 >= b && s._2 > s._1)
        .map(_._3).distinct
      val dt = (b - a).toDouble
      if (active.nonEmpty) active.foreach(l => out(l) += dt / active.size)
      else {
        val next = spans.filter(_._1 >= b).sortBy(_._1).headOption
        val owner =
          if (b <= firstStart) kind.leadLayer.getOrElse(next.get._3)
          else next.map(_._3).getOrElse(spans.maxBy(_._2)._3)
        out(owner) += dt
      }
    }
    out.toMap
  }

  /** The layer of one job, and whether it scans the blocks table. */
  private def layerOf(kind: OpKind, j: JobRec, afterBlocks: Boolean): (String, Boolean) = {
    val (plan, site) = Option(plans.get(j.execId)).getOrElse(("", j.stageSite))
    val t = tablesOf(plan)
    val scansBlocks = t.scans.contains("blocks")
    val byTable: Option[String] = t.write match {
      case Some(w) => writeLayer(w, t.writePath)
      case None if kind == OpKind.Cache => Some("index.cache")
      case None if t.scans.contains("manifest") => Some("checkpoint.manifest")
      case None if kind == OpKind.Regex =>
        if (t.scans.contains("pages")) Some("regex.verify")
        else if (t.scans.exists(Set("postings", "blocks"))) Some("regex.candidates")
        else if (t.scans.exists(_.startsWith("terms"))) Some("regex.dict")
        else if (t.scans.contains("docs")) Some("query.urls")
        else None
      case None if scansBlocks =>
        Some(if (kind == OpKind.Batch) "query.batch" else "query.wand")
      case None if t.scans.contains("pages") => Some("query.lines")
      case None if t.scans.contains("docs") =>
        if (plan.contains("RLIKE") || plan.contains("rlike")) Some("query.filter")
        else if (kind.builds && !plan.contains(" IN (")) Some("index.stats")
        else if (kind == OpKind.Filtered && !afterBlocks) Some("query.filter")
        else Some("query.urls")
      case None if t.scans.exists(_.startsWith("terms")) =>
        Some(if (kind.builds) "index.dict" else "query.analyze")
      case None if t.scans.contains("postings") =>
        Some(if (kind.builds) "index.blocks" else "query.wand")
      case None if t.scans.contains("tf") && kind.builds => Some("index.docs")
      case None if t.scans.contains("corpus") =>
        Some(if (kind == OpKind.Resume) "checkpoint.fingerprint" else "extract")
      case None => None
    }
    (byTable.orElse(frameLayer(kind, site)).getOrElse(Layers.Unattributed), scansBlocks)
  }

  private def writeLayer(table: String, path: String): Option[String] = table match {
    case "pages" => Some("extract")
    case "tf" | "docs_raw" =>
      Some(if (path.contains("slice=")) "checkpoint.units" else "index.tf")
    case "docs" => Some("index.docs")
    case "postings" => Some("index.postings")
    case "blocks" | "blocks_enc" | "blocks_meta" => Some("index.blocks")
    case "stats" => Some("index.stats")
    case "manifest" => Some("checkpoint.manifest")
    case t if t.startsWith("terms") => Some("index.dict")
    case _ => None
  }

  case class Tables(write: Option[String], writePath: String, scans: Set[String])

  /** Index tables (first path segment under a known root) a plan touches. */
  private def tablesOf(plan: String): Tables = {
    if (plan.isEmpty) return Tables(None, "", Set.empty)
    val rs = roots()
    def tableAt(s: String): Option[(String, String)] = rs.iterator.flatMap {
      case (root, name) =>
        val i = s.indexOf(root + "/")
        if (i < 0) None
        else if (name == "corpus") Some(("corpus", root))
        else {
          val rest = s.substring(i + root.length + 1)
          val seg = rest.takeWhile(c => c != '/' && c != ',' && c != ']' &&
            c != ' ' && c != ')')
          Some((seg, rest.takeWhile(c => c != ',' && c != ']' && c != ' ')))
        }
    }.toSeq.headOption
    var write: Option[(String, String)] = None
    val scans = mutable.Set[String]()
    var inWrite = false
    plan.split("\n").foreach { line =>
      if (line.startsWith("(") || line.startsWith("Execute ") ||
          line.contains("+- ") || line.startsWith("*"))
        inWrite = line.contains("InsertIntoHadoopFsRelationCommand") ||
          line.contains("CreateDataSourceTableAsSelectCommand")
      if (inWrite && write.isEmpty) write = tableAt(line)
      if (line.contains("Location:") || line.contains("FileScan") ||
          line.contains("Scan parquet"))
        tableAt(line).foreach(t => scans += t._1)
      // the bucketed blocks table is also scanned by its catalog name
      if (line.contains("graft_blocks_") && !inWrite) scans += "blocks"
    }
    Tables(write.map(_._1), write.map(_._2).getOrElse(""), scans.toSet)
  }

  /** Fallback: the first `graft.*` frame of a call site; a job started by
    * the harness itself inside an op lists the input corpus.
    */
  private def frameLayer(kind: OpKind, site: String): Option[String] =
    site.split("\n").map(_.trim)
      .find(f => f.startsWith("graft.") || f.startsWith("perfbench.")).map { f =>
      if (f.startsWith("perfbench."))
        if (kind == OpKind.Resume) "checkpoint.fingerprint" else "extract"
      else if (f.startsWith("graft.checkpoint."))
        if (f.contains("manifest") || f.contains("commit")) "checkpoint.manifest"
        else "checkpoint.units"
      else if (f.startsWith("graft.extract.")) "extract"
      else if (f.startsWith("graft.index.PostingBlocks")) "index.blocks"
      else if (f.startsWith("graft.index.BuiltIndex"))
        if (kind == OpKind.Cache) "index.cache" else "query.analyze"
      else if (f.contains("Terms") || f.contains("Dictionary")) "index.dict"
      else if (f.contains("buildFromTf")) "index.docs"
      else if (f.startsWith("graft.index.")) "index.tf"
      else if (f.startsWith("graft.query.RegexQuery")) "regex.candidates"
      else if (f.startsWith("graft.query.")) "query.wand"
      else Layers.Unattributed
    }
}

object Tracer {
  val ExecKey = "spark.sql.execution.id"
  val DescKey = "spark.job.description"
  val FenceDesc = "perfbench-fence"
}
