package org.apache.spark

/** Access to `private[spark]` scheduler state the traced run needs. Lives in
  * this package for access only; it changes no Spark behaviour.
  */
object BenchBridge {

  /** Blocks until every listener has handled every event posted so far, so
    * the events of one request are attributed before the next one starts.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
