package org.apache.spark

import org.apache.spark.rdd.{RDD, ZippedPartitionsRDD2}
import org.apache.spark.util.IndylambdaScalaClosures

/** Test access to Spark's closure cleaner and to the function a
  * `zipPartitions` RDD applies (both internal to Spark, hence the
  * package).
  */
object SparkClosures {

  /** Spark's own closure test, the first check of the closure cleaner
    * that `SparkContext.clean` runs: a `$anonfun$` class or a serializable
    * Scala lambda. The cleaner parses the bytecode of the class that
    * declares such an `f`; for anything else it returns at once.
    */
  def isClosure(f: AnyRef): Boolean =
    f.getClass.getName.contains("$anonfun$") ||
      IndylambdaScalaClosures.getSerializationProxy(f).isDefined

  /** The function `rdd`, an RDD made by `zipPartitions` with one other
    * RDD, applies to each pair of partitions.
    */
  def zipFunction(rdd: RDD[_]): AnyRef = rdd match {
    case z: ZippedPartitionsRDD2[_, _, _] => z.f
    case other => throw new IllegalArgumentException(s"not a two-RDD zip: $other")
  }
}
