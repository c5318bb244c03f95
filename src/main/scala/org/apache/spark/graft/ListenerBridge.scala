package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Minimal bridge to `private[spark]` listener-bus draining — the
  * [[graft.Ledger]] reads jobs and task metrics off an ASYNC listener,
  * so a run's record is only complete after the bus has delivered
  * every event of the just-finished query (same in-package
  * access pattern as [[org.apache.spark.sql.graft.Bridge]]). */
object ListenerBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
