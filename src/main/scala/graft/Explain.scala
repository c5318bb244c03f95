package graft

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev tool: what the bench session plans and runs, per selected query
  * (`SPARK_GRAFT_ONLY`, `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS` as for
  * every main — see [[GraftSession]]). Plans are built without the final
  * action; query constructors may still run their eager prep.
  *
  *   dev/run_main.sh graft.Explain census
  *     one line per query: exchanges, join strategies, SortAggregates,
  *     codegen stages, and the Spark jobs started while the query was
  *     built (`eager`); `!!` flags cartesians and SortAggregates
  *   dev/run_main.sh graft.Explain plan [outDir suffix]
  *     `explain("formatted")` to stdout, or to `outDir/<query>_<suffix>.txt`
  *   dev/run_main.sh graft.Explain jobs
  *     runs each query into the noop sink (`SPARK_GRAFT_REPEAT` times)
  *     and prints one line per Spark job: the query run it belongs to,
  *     duration, stage task counts and the callsite — the Spark UI's
  *     Jobs page with the UI off
  */
object Explain {

  /** Operator counts in one executed plan, in census-line order. */
  final case class Census(counts: Seq[(String, Int)]) {
    def apply(key: String): Int = counts.collectFirst { case (`key`, v) => v }.getOrElse(0)
    def warnings: Seq[String] = Seq("cart" -> "CARTESIAN", "sortAgg" -> "SORT_AGG")
      .collect { case (k, w) if apply(k) > 0 => w }
    def line: String = {
      val flags = counts.collect { case (k, v) if v > 0 => s"$k=$v" }.mkString(" ")
      flags + (if (warnings.nonEmpty) "   !! " + warnings.mkString(",") else "")
    }
  }

  def census(plan: SparkPlan): Census = {
    val text = plan.toString
    def c(op: String) = op.r.findAllIn(text).size
    Census(Seq(
      "xch" -> c("Exchange hashpartitioning"),
      "bhj" -> c("BroadcastHashJoin"),
      "smj" -> c("SortMergeJoin"),
      "bnlj" -> c("BroadcastNestedLoopJoin"),
      "cart" -> c("CartesianProduct"),
      "sortAgg" -> c("SortAggregate"),
      "wsc" -> c("WholeStageCodegen"),
    ))
  }

  /** The census of the plan `build` returns, plus `eager`: the Spark
    * jobs started while building it, which the returned plan does not
    * show (the bus is drained before and after, as in [[runLabelled]]). */
  def built(spark: SparkSession)(build: => DataFrame): Census = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(counter)
    val df = try build finally {
      ListenerBridge.drainListenerBus(sc)
      sc.removeSparkListener(counter)
    }
    val c = census(df.queryExecution.executedPlan)
    c.copy(counts = c.counts :+ ("eager" -> jobs.get))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.build()
    args.toList match {
      case List("census") =>
        spark.sparkContext.setLogLevel("ERROR")
        GraftSession.eachQuery(spark, "census") { (name, fn) =>
          val c = built(spark)(fn(spark, sfDir))
          println(f"[audit] $name%-28s ${c.line}")
        }
      case "plan" :: out if out.isEmpty || out.size == 2 =>
        spark.sparkContext.setLogLevel("ERROR")
        out.headOption.foreach(dir => new java.io.File(dir).mkdirs())
        GraftSession.eachQuery(spark, "plan") { (name, fn) =>
          val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
          out match {
            case List(dir, suffix) =>
              Files.write(Paths.get(s"$dir/${name}_$suffix.txt"),
                txt.getBytes(StandardCharsets.UTF_8))
            case _ => println(s"==== $name ====\n$txt")
          }
        }
      case List("jobs") =>
        spark.sparkContext.addSparkListener(new JobLog(System.err.println))
        GraftSession.eachQuery(spark, "jobs") { (name, fn) =>
          runLabelled(spark, name, fn, sfDir, GraftSession.repeat)(System.err.println)
        }
      case _ =>
        System.err.println("usage: graft.Explain census | plan [outDir suffix] | jobs")
    }
    spark.stop()
  }

  /** The local property [[JobLog]] labels a job with. Not the job
    * description: a streaming query's micro-batch thread inherits the
    * caller's local properties but sets its own description. */
  private val RunProperty = "graft.explain.run"

  /** Runs query `name` into the noop sink `repeat` times, each run
    * (construct and execute) labelled `"<name> run <i>"` in
    * [[RunProperty]], and logs the run's total once the listener bus
    * has delivered every job of it. */
  def runLabelled(spark: SparkSession, name: String, fn: GraftSession.Query, sfDir: String,
                  repeat: Int)(log: String => Unit): Unit = {
    val sc = spark.sparkContext
    (1 to repeat).foreach { i =>
      val t0 = System.nanoTime()
      sc.setLocalProperty(RunProperty, s"$name run $i")
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      finally sc.setLocalProperty(RunProperty, null)
      val dt = (System.nanoTime() - t0) / 1e9
      ListenerBridge.drainListenerBus(sc)
      log(f"[prof-total] $name run $i $dt%.3fs")
    }
  }

  /** Logs every Spark job: the query run it belongs to
    * ([[RunProperty]]), duration, stage task counts and the result
    * stage's callsite (the "X at file:line" the UI shows). */
  final class JobLog(log: String => Unit) extends SparkListener {
    private val started = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val run = Option(js.properties).flatMap(p => Option(p.getProperty(RunProperty)))
        .getOrElse("?")
      val site = js.stageInfos.lastOption.map(_.name).getOrElse("?")
      val shape = js.stageInfos.map(_.numTasks).mkString("+")
      started.put(js.jobId, (System.nanoTime(), s"$run  [$shape tasks] $site"))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(started.remove(je.jobId)).foreach { case (t0, label) =>
        log(f"[prof-job] ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%8.3fs  $label")
      }
  }
}
