package org.apache.spark

/** The listener bus's drain is package-private; the traced run needs it to
  * close a pass only after every job, stage and progress event of that
  * pass has reached the listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
