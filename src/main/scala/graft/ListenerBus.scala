// Package-injected shim: SparkContext.listenerBus is private[spark].
package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event queued on `sc`'s listener bus (say, a
  * finished job's task ends) has reached the registered listeners. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
