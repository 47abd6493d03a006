package org.apache.spark

/** Bridge into SparkContext's package-private listener bus.
  *
  * Bench attributes per-query executor CPU / GC time by snapshotting a
  * SparkListener's counters before and after each query. Listener
  * events are delivered asynchronously, so without a drain the tail of
  * one query's task-end events would be charged to the next query.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`; this one-call
  * shim exposes it the same way GraftBridge exposes the Column
  * converters.
  */
object GraftSparkBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
