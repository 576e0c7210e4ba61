package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * traced span's job and stage records are complete when it is read.
  * `listenerBus` is package-private to Spark, hence this package.
  */
object PlatbenchBus {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
