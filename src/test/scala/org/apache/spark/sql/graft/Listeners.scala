package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** Listener-bus access for specs (`listenerBus` is `private[spark]`). */
object Listeners {

  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
