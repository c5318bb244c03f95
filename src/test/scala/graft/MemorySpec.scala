package graft

import org.apache.spark.SparkEnv
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The Tungsten memory layer of the GraftSession test session: 1 MB
  * pages (`Confs.tuned`), so a small hash aggregate reserves about one
  * page per task instead of heap / cores / 16 (16 MB or more on any
  * heap of 2 g or more, 64 MB on a 7 g, 4-core JVM). */
class MemorySpec extends SparkSpecBase with AdaptiveSparkPlanHelper {

  test("Tungsten pages are 1 MB") {
    spark // SparkEnv exists once the shared session is built
    assert(SparkEnv.get.memoryManager.pageSizeBytes == (1L << 20))
  }

  test("a 2,000-row string-key hash aggregate peaks within 4 MiB") {
    var plan: Option[QueryExecution] = None
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plan = Some(qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      spark.range(0, 2000, 1, 1)
        .select(concat(lit("key_"), (col("id") % 200).cast("string")).as("k"), col("id"))
        .groupBy(col("k")).agg(count(col("id")).as("n"))
        .write.format("noop").mode("overwrite").save()
      ListenerBridge.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    val peaks = collect(plan.get.executedPlan) { case h: HashAggregateExec =>
      h.metrics("peakMemory").value
    }
    assert(peaks.nonEmpty, plan.get.executedPlan.toString)
    info(s"HashAggregate peak memory bytes: $peaks")
    assert(peaks.forall(_ <= (4L << 20)), s"HashAggregate peak memory bytes: $peaks")
  }
}
