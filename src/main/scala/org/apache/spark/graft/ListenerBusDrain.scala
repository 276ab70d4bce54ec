package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The repo's one Spark-package accessor: deterministic drain of the
  * async listener bus, so a measurement tool reading task-metric
  * counters (e.g. the bytes-read listener behind
  * `bench/layout_probe_r9_sf1.json`)
  * observes every task-end event of the job it just ran instead of
  * racing a fixed settle sleep on a loaded box. `SparkContext
  * .listenerBus` is `private[spark]` — this forwarder is the documented
  * way out (the same device Spark's own tests use), kept to exactly one
  * read-only call.
  */
object ListenerBusDrain {
  /** Block until every queued listener event is dispatched, or
    * `timeoutMs` passes (TimeoutException) — callers decide whether a
    * timeout invalidates their measurement.
    */
  @throws[java.util.concurrent.TimeoutException]
  def drain(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
