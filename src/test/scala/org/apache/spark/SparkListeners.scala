package org.apache.spark

import scala.reflect.ClassTag

import org.apache.spark.scheduler.SparkListenerInterface

/** Test access to the listeners registered on a SparkContext (its
  * listener bus is internal to Spark, hence the package).
  */
object SparkListeners {

  /** The listeners of class `T` registered on `sc`. */
  def ofClass[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
