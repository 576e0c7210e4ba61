package org.apache.spark

/** Test-scope bridge to the `private[spark]` listener bus.
  *
  * Listener delivery (QueryExecutionListener callbacks included) is
  * asynchronous; `waitUntilEmpty` blocks until every event posted so
  * far has reached every listener, so a test can assert on what its
  * listeners captured without polling.
  */
object GraftListenerBusBridge {
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
