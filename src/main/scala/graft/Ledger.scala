package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One record per query run: the Spark jobs a query started while it
  * was built (eager) and while it ran, each with its seconds, stage task
  * counts and callsite, and the run's shuffle bytes. [[run]] labels the
  * run's jobs with a local property, which the threads Spark starts jobs
  * from inherit (a broadcast's exchange thread, a streaming query's
  * micro-batch thread), and a task counts toward the run whose job first
  * submitted its stage: a record holds its own jobs, not a delta of
  * process-wide counters. A job that starts during the run without an
  * open run's label counts as `unlabelled` in every open run. One
  * listener per `SparkContext`, installed on first use. */
object Ledger {

  /** One Spark job of a run; `start` and `end` in epoch millis. */
  final case class Job(id: Int, start: Long, end: Long, tasks: Seq[Int], site: String, eager: Boolean) {
    def sec: Double = (end - start) / 1e3
  }

  /** One query run: its wall seconds (build and run), its jobs, its
    * shuffle bytes and the jobs that escaped every run's label. */
  final case class Run(label: String, sec: Double, jobs: Seq[Job], shuffleRead: Long,
                       shuffleWrite: Long, unlabelled: Int) {
    def eager: Int = jobs.count(_.eager)

    /** One `[prof-job]` line per job, then the `[prof-total]` line: the
      * Spark UI's Jobs page with the UI off. */
    def lines: Seq[String] = jobs.map { j =>
      f"[prof-job] ${j.id}%4d ${j.sec}%8.3fs  $label  [${j.tasks.mkString("+")} tasks] ${j.site}"
    } :+ (f"[prof-total] $label $sec%.3fs" +
      (if (unlabelled > 0) s" ($unlabelled unlabelled jobs)" else ""))
  }

  // the run's token (not the job description: a micro-batch thread
  // inherits local properties but sets its own description), and a
  // flag set while the query is built
  private val RunProperty = "graft.ledger.run"
  private val EagerProperty = "graft.ledger.eager"

  private final class Listener extends SparkListener {
    // open runs, and each stage's run, by token
    private val open = mutable.Map[String, Run]()
    private val stages = mutable.Map[Int, String]()

    private def update(token: String)(f: Run => Run): Unit =
      open.get(token).foreach(r => open(token) = f(r))

    def begin(token: String, label: String): Unit =
      synchronized { open(token) = Run(label, 0, Vector.empty, 0, 0, 0) }

    def end(token: String, sec: Double): Run = synchronized {
      stages.filterInPlace((_, t) => t != token)
      open.remove(token).get.copy(sec = sec)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      prop(RunProperty).filter(open.contains) match {
        case Some(token) =>
          e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = token)
          val job = Job(e.jobId, e.time, e.time, e.stageInfos.map(_.numTasks),
            e.stageInfos.lastOption.map(_.name).getOrElse("?"), prop(EagerProperty).isDefined)
          update(token)(r => r.copy(jobs = r.jobs :+ job))
        case None => open.keys.toSeq.foreach(update(_)(r => r.copy(unlabelled = r.unlabelled + 1)))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      open.keys.toSeq.foreach(update(_)(r =>
        r.copy(jobs = r.jobs.map(j => if (j.id == e.jobId) j.copy(end = e.time) else j))))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      Option(e.taskMetrics).foreach(m => stages.get(e.stageId).foreach(update(_)(r => r.copy(
        shuffleRead = r.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
        shuffleWrite = r.shuffleWrite + m.shuffleWriteMetrics.bytesWritten))))
    }
  }

  private val installed = new ConcurrentHashMap[SparkContext, Listener]()
  private val runs = new AtomicLong

  private def on(sc: SparkContext): Listener =
    installed.computeIfAbsent(sc, { sc =>
      val l = new Listener
      sc.addSparkListener(l)
      l
    })

  /** Builds the query and applies `act` to the frame, and returns what
    * `act` returned (or the first throwable of either step) with the
    * run's record, taken once the listener bus has delivered every job
    * of the run. Jobs started by `build` are eager. The seconds cover
    * build and `act`, not the bus drains around them. */
  def run[T](spark: SparkSession, label: String)(build: => DataFrame)(
      act: DataFrame => T): (Either[Throwable, T], Run) = {
    val sc = spark.sparkContext
    val ledger = on(sc)
    val token = s"${runs.incrementAndGet()} $label"
    ListenerBridge.drainListenerBus(sc)
    ledger.begin(token, label)
    val t0 = System.nanoTime()
    val out =
      try {
        sc.setLocalProperty(RunProperty, token)
        sc.setLocalProperty(EagerProperty, "true")
        val df = build
        sc.setLocalProperty(EagerProperty, null)
        Right(act(df))
      } catch { case t: Throwable => Left(t) }
      finally {
        sc.setLocalProperty(RunProperty, null)
        sc.setLocalProperty(EagerProperty, null)
      }
    val sec = (System.nanoTime() - t0) / 1e9
    ListenerBridge.drainListenerBus(sc)
    (out, ledger.end(token, sec))
  }

  /** [[run]] into the noop sink: the query fully evaluated. */
  def noop(spark: SparkSession, label: String)(build: => DataFrame): (Either[Throwable, Unit], Run) =
    run(spark, label)(build)(_.write.format("noop").mode("overwrite").save())
}
