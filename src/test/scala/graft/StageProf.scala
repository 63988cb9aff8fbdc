package graft
import org.apache.spark.sql.functions._
import graft.checkpoint.CheckpointedBuild
import graft.index.IndexBuilder

/** Per-stage build times: one batch build over the scaling corpus, then
  * the wall time each stage unit recorded in the build's manifest.
  * Stages overlap (see BuildSpine), so the per-stage times can sum past
  * the build's wall time.
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 8
    val n = if (args.length > 1) args(1).toLong else 200000L
    val spark = org.apache.spark.sql.SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = java.nio.file.Files.createTempDirectory("graft-sprof").toString
    // the scaling corpus cache is keyed by workload version since round 7
    // (a generator change + preserved cache silently fed the OLD corpus)
    val corpus = s"${System.getProperty("java.io.tmpdir")}/graft-scale-corpus-" +
      s"$n-${ScalingBench.WorkloadVersion}"
    val raw = spark.read.parquet(corpus)
    val t0 = System.nanoTime()
    IndexBuilder.build(spark, IndexBuilder.extractPages(raw), out, numBuckets = 64)
    println(f"[sprof:$cores] TOTAL ${(System.nanoTime() - t0) / 1e9}%.1fs")
    CheckpointedBuild.manifest(spark, out)
      .groupBy("stage").agg(sum("wall_ms").as("ms"), min("committed_at").as("at"))
      .orderBy("at").collect().foreach { r =>
        println(f"[sprof:$cores] ${r.getString(0)} ${r.getLong(1) / 1e3}%.1fs")
      }
    spark.stop()
    ScalingBench.deleteRecursively(out)
  }
}
