package org.apache.spark

/** Test-only: listener events (job starts, query-execution callbacks)
  * are delivered asynchronously; `waitUntilEmpty` is `private[spark]`.
  * Specs that assert on what a listener saw drain the bus first.
  */
object GraftListenerTestHook {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
