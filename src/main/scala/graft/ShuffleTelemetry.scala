package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Per-query shuffle-byte telemetry (VERDICT r9 #6 / r10 #5): the plan
  * lints catch SHAPE regressions (a new exchange, a lost broadcast),
  * but nothing caught a multi-× shuffle-BYTE regression behind an
  * unchanged plan shape — a wider key, a lost early projection, a
  * fatter aggregation buffer. This listener accumulates task-level
  * shuffle read/write bytes; [[Bench]] snapshots it around every query
  * (into the stderr detail and the `SPARK_GRAFT_BENCH_OUT` artifact), and
  * ShuffleDriftSpec pins a representative query set against committed
  * sf0.001 byte counts with a 2× band.
  *
  * Counters are process-wide totals off the async listener bus; a
  * consistent per-query delta requires running queries sequentially
  * and draining the bus before each snapshot — [[snapshot]] does the
  * drain. That is exactly the bench/spec shape (one query at a time),
  * not a concurrent-session profiler. */
final class ShuffleTelemetry extends SparkListener {
  private[graft] val read = new AtomicLong
  private[graft] val written = new AtomicLong
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      read.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

object ShuffleTelemetry {
  // keyed by SparkContext, not SparkSession (r11 ADVICE): task metrics
  // are context-wide, so two sessions sharing one context would each
  // install a listener seeing ALL tasks and double-count deltas; one
  // listener per context is both correct and the natural lifetime (it
  // dies with the context — contexts are few and long-lived per JVM,
  // so the strong-ref map never accumulates)
  private val installed =
    new ConcurrentHashMap[org.apache.spark.SparkContext, ShuffleTelemetry]()

  /** The context's telemetry listener, installing it on first use. */
  def on(spark: SparkSession): ShuffleTelemetry =
    installed.computeIfAbsent(spark.sparkContext, { sc =>
      val t = new ShuffleTelemetry
      sc.addSparkListener(t)
      t
    })

  /** Drain the listener bus and return cumulative (read, written)
    * shuffle bytes; subtract two snapshots for a per-query delta. */
  def snapshot(spark: SparkSession): (Long, Long) = {
    val t = on(spark)
    org.apache.spark.graft.ListenerBridge.drainListenerBus(spark.sparkContext)
    (t.read.get(), t.written.get())
  }

  /** Measure a thunk's shuffle traffic: returns (result, readBytes,
    * writtenBytes). Sequential use only — see the class note. */
  def measure[T](spark: SparkSession)(f: => T): (T, Long, Long) = {
    val (r0, w0) = snapshot(spark)
    val out = f
    val (r1, w1) = snapshot(spark)
    (out, r1 - r0, w1 - w0)
  }
}
