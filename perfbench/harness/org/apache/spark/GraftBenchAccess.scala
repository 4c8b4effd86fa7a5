package org.apache.spark

/** The one scheduler internal the harness needs: waiting until the
  * listener bus has delivered every queued event, so a traced pass is
  * complete before its listeners are detached.
  */
object GraftBenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
