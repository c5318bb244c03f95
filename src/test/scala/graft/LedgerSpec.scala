package graft

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

object LedgerSpec {
  /** Three tiny queries whose jobs start from three kinds of thread. */
  val tinyQueries: Seq[(String, GraftSession.Query)] = Seq(
    // an eager job at construct time, then a shuffle aggregate
    "tiny_agg" -> ((s, _) => {
      val n = s.range(10).count()
      s.range(100 + n).groupBy((col("id") % 3).as("k")).count()
    }),
    // the broadcast runs its job from another thread
    "tiny_join" -> ((s, _) => s.range(50).join(broadcast(s.range(10)), "id")),
    // and a streaming query's micro-batches from the stream's own thread
    "tiny_stream" -> ((s, _) => {
      val feed = java.nio.file.Files.createTempDirectory("jobs_feed").toString
      s.range(10).write.mode("overwrite").parquet(feed)
      s.readStream.schema(s.read.parquet(feed).schema).parquet(feed)
        .writeStream.format("memory").queryName("tiny_stream")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
        .awaitTermination()
      s.table("tiny_stream")
    }))

  /** Runs `body` with a listener that sees every job and task of the context. */
  def watching[T](spark: SparkSession)(body: Everything => T): T = {
    val (sc, all) = (spark.sparkContext, new Everything(spark.sparkContext))
    ListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(all)
    try body(all) finally sc.removeSparkListener(all)
  }

  final class Everything(sc: SparkContext) extends SparkListener {
    private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLongArray(2) // shuffle read, write
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      bytes.addAndGet(0, m.shuffleReadMetrics.totalBytesRead)
      bytes.addAndGet(1, m.shuffleWriteMetrics.bytesWritten)
    }
    /** The ids of every job started so far, in order. */
    def jobIds: Seq[Int] = { ListenerBridge.drainListenerBus(sc); jobs.asScala.toSeq.sorted }
  }
}

/** A [[Ledger]] record holds exactly the jobs and shuffle bytes that a
  * plain listener on the whole context sees over the same run. */
class LedgerSpec extends SparkSpecBase {
  import LedgerSpec.{tinyQueries, watching}

  private def query(name: String) = tinyQueries.toMap.apply(name)(spark, sfDir)

  test("one run's record holds every job and shuffle byte it started, the construct-time jobs eager") {
    watching(spark) { all =>
      var constructJobs = Set.empty[Int]
      val (out, run) = try Ledger.noop(spark, "mixed") {
        query("tiny_agg") // a construct-time count()
        query("tiny_stream") // an AvailableNow memory-sink drain
        constructJobs = all.jobIds.toSet
        query("tiny_join") // a broadcast join, run by the noop write
      } finally spark.catalog.dropTempView("tiny_stream")
      out.toTry.get
      val detail = run.lines.mkString("\n")
      assert(run.jobs.map(_.id) == all.jobIds && run.unlabelled == 0, detail)
      assert(run.jobs.filter(_.eager).map(_.id).toSet == constructJobs, detail)
      assert(run.eager == constructJobs.size && run.eager > 2 && run.jobs.size > run.eager, detail)
      // tiny_agg's groupBy moves shuffle bytes, every one of them the run's
      assert(run.shuffleRead > 0 && run.shuffleWrite > 0, detail)
      assert((run.shuffleRead, run.shuffleWrite) == (all.bytes.get(0), all.bytes.get(1)), detail)
    }
  }
}
