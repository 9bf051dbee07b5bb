package org.apache.spark

/** Access shim for `private[spark]` test helpers the plan audit needs —
  * the same package-placement technique Spark's own test utilities use
  * (e.g. `org.apache.spark.sql.test`). Listener events are delivered
  * asynchronously on the shared listener bus, so [[graft.PlanAudit]] and
  * [[graft.Bench]] drain the bus after each query before attributing
  * captured executions and jobs to it — without this, a slow delivery
  * could attribute one query's internal execution to the next.
  */
object GraftBusBridge {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext, timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
