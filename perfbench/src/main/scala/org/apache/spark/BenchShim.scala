package org.apache.spark

/** The one `private[spark]` call the traced run needs: wait until the
  * listener bus has delivered every event posted so far, so that the
  * job, task and query-execution events of a request are attributed
  * to that request before the next one starts.
  */
object BenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
