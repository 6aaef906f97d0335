package org.apache.spark.scheduler

import scala.reflect.ClassTag

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus of a context. */
object TestListenerBus {
  /** Posts `e` as the context would, and returns once every listener has
    * handled it. */
  def post(sc: SparkContext, e: SparkListenerEvent): Unit = {
    sc.listenerBus.post(e)
    sc.listenerBus.waitUntilEmpty()
  }

  def listenersOf[T <: SparkListenerInterface: ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
