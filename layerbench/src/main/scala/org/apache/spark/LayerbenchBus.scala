package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so an operation's task and progress events are counted before
  * its metrics are read.
  */
object LayerbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
