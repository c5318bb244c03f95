package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Records what happens below the harness's op calls, through Spark's
  * public listener hooks only: jobs and stages with their task metrics,
  * SQL executions, the planning phases, physical-plan census and write
  * statistics of each query execution, and streaming micro-batches. Everything is kept in
  * memory and serialised once when the run ends. All times are epoch ms. */
final class Tracer(spark: SparkSession, memoMarker: String) {
  private final class StageAgg(val id: Int, val attempt: Int) {
    var submitted = 0.0; var completed = 0.0; var tasks = 0L
    var taskSum = 0.0; var runMs = 0.0; var cpuNs = 0.0; var gcMs = 0.0
    var peakMem = 0L; var shWriteB = 0L; var shWriteNs = 0.0; var shReadB = 0L
    var fetchWaitMs = 0.0; var spillB = 0L; var inB = 0L; var inRows = 0L; var outB = 0L
  }
  private val jobs = mutable.LinkedHashMap[Int, Array[Double]]()
  private val jobStages = mutable.Map[Int, Seq[Int]]()
  private val stages = mutable.LinkedHashMap[(Int, Int), StageAgg]()
  private val sqlTimes = mutable.Map[Long, Array[Double]]()
  private val qes = mutable.ArrayBuffer[String]()
  private val batches = mutable.ArrayBuffer[String]()
  private val starts = mutable.ArrayBuffer[String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      jobs(e.jobId) = Array(e.time.toDouble, Double.NaN)
      jobStages(e.jobId) = e.stageIds
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_(1) = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      val s = stage(i.stageId, i.attemptNumber())
      s.submitted = i.submissionTime.getOrElse(0L).toDouble
      s.completed = i.completionTime.getOrElse(0L).toDouble
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val s = stage(e.stageId, e.stageAttemptId)
      s.tasks += 1
      s.taskSum += e.taskInfo.duration.toDouble
      val m = e.taskMetrics
      if (m != null) {
        s.runMs += m.executorRunTime; s.cpuNs += m.executorCpuTime; s.gcMs += m.jvmGCTime
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
        s.shWriteB += m.shuffleWriteMetrics.bytesWritten
        s.shWriteNs += m.shuffleWriteMetrics.writeTime
        s.shReadB += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillB += m.diskBytesSpilled
        s.inB += m.inputMetrics.bytesRead; s.inRows += m.inputMetrics.recordsRead
        s.outB += m.outputMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        sqlTimes(s.executionId) = Array(s.time.toDouble, Double.NaN) }
      case s: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        sqlTimes.get(s.executionId).foreach(_(1) = s.time.toDouble) }
      case _ =>
    }
  }

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((id, attempt), new StageAgg(id, attempt))

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, ok = false)
  }

  private def record(qe: QueryExecution, ok: Boolean): Unit = {
    val plan = qe.executedPlan
    val nodes = Tracer.nodes(plan)
    var writePath = ""; var files = 0L; var taskCommitMs = 0L; var jobCommitMs = 0L
    nodes.foreach {
      case w: DataWritingCommandExec =>
        w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => writePath = i.outputPath.toString
          case _ =>
        }
        val m = w.cmd.metrics
        files += m.get("numFiles").map(_.value).getOrElse(0L)
        taskCommitMs += m.get("taskCommitTime").map(_.value).getOrElse(0L)
        jobCommitMs += m.get("jobCommitTime").map(_.value).getOrElse(0L)
      case _ =>
    }
    val kind =
      if (writePath.nonEmpty && writePath.contains(memoMarker)) "memo"
      else if (writePath.nonEmpty) "write" else "query"
    val phases = qe.tracker.phases.map { case (k, p) =>
      s"${Json.str(k)}:[${p.startTimeMs},${p.endTimeMs}]" }.mkString("{", ",", "}")
    val census = Json.obj(
      "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
      "sort_aggregates" -> nodes.count(_.isInstanceOf[SortAggregateExec]),
      "smj_joins" -> nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      "bhj_joins" -> nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      "non_codegen_nodes" -> Tracer.nonCodegen(plan))
    val rec = Json.obj("kind" -> kind, "ok" -> ok, "phases" -> Json.Raw(phases),
      "census" -> Json.Raw(census), "files" -> files, "task_commit_ms" -> taskCommitMs,
      "job_commit_ms" -> jobCommitMs)
    synchronized { qes += rec }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized {
        starts += Json.obj("name" -> Option(e.name).getOrElse(""), "id" -> e.id.toString,
          "time" -> java.time.Instant.parse(e.timestamp).toEpochMilli)
      }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val rec = Json.obj("name" -> Option(p.name).getOrElse(""), "id" -> p.id.toString,
        "batch" -> p.batchId, "start" -> start, "end" -> (start + dur("triggerExecution")),
        "rows" -> p.numInputRows, "add_batch_ms" -> dur("addBatch"),
        "wal_commit_ms" -> dur("walCommit"), "commit_offsets_ms" -> dur("commitOffsets"),
        "query_planning_ms" -> dur("queryPlanning"),
        "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum)
      Tracer.this.synchronized { batches += rec }
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def toJson: String = synchronized {
    val js = jobs.map { case (id, t) =>
      Json.obj("id" -> id, "start" -> t(0), "end" -> t(1),
        "stages" -> Json.Raw(jobStages.getOrElse(id, Nil).mkString("[", ",", "]")))
    }
    val ss = stages.values.map { s =>
      Json.obj("id" -> s.id, "attempt" -> s.attempt, "start" -> s.submitted, "end" -> s.completed,
        "tasks" -> s.tasks, "task_ms" -> s.taskSum, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "gc_ms" -> s.gcMs, "peak_mem_b" -> s.peakMem, "shuffle_write_b" -> s.shWriteB,
        "shuffle_write_ns" -> s.shWriteNs, "shuffle_read_b" -> s.shReadB,
        "fetch_wait_ms" -> s.fetchWaitMs, "spill_b" -> s.spillB, "input_b" -> s.inB,
        "input_rows" -> s.inRows, "output_b" -> s.outB)
    }
    val sql = sqlTimes.map { case (id, t) => Json.obj("id" -> id, "start" -> t(0), "end" -> t(1)) }
    Json.obj("jobs" -> Json.Raw(js.mkString("[", ",", "]")),
      "stages" -> Json.Raw(ss.mkString("[", ",", "]")),
      "sql" -> Json.Raw(sql.mkString("[", ",", "]")),
      "qes" -> Json.Raw(qes.mkString("[", ",", "]")),
      "batches" -> Json.Raw(batches.mkString("[", ",", "]")),
      "stream_starts" -> Json.Raw(starts.mkString("[", ",", "]")))
  }
}

object Tracer {
  private def children(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case r: ReusedExchangeExec => Nil
    case _ => p.children ++ p.subqueries
  }

  /** Every physical node, looking through adaptive plans, query stages
    * and subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: children(p).flatMap(nodes)

  private val structural = Seq("AdaptiveSparkPlan", "QueryStage", "InputAdapter",
    "WholeStageCodegen", "ColumnarToRow", "RowToColumnar", "CommandResult", "DataWritingCommand",
    "WriteFiles", "AppendData", "OverwriteByExpression", "ReusedExchange", "ReusedSubquery",
    "Subquery")

  /** Operators that run outside whole-stage codegen, exchanges and
    * plan-structure wrappers excluded. */
  def nonCodegen(p: SparkPlan): Int = {
    def walk(n: SparkPlan, inCodegen: Boolean): Int = {
      val here = n match {
        case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 0
        case _ if inCodegen => 0
        case _ if structural.exists(n.nodeName.contains) => 0
        case _ if n.getClass.getSimpleName.startsWith("Adaptive") => 0
        case _ => 1
      }
      val childIn = n match {
        case _: WholeStageCodegenExec => true
        case _ if n.nodeName == "InputAdapter" => false
        case _: AdaptiveSparkPlanExec | _: QueryStageExec => false
        case _ => inCodegen
      }
      here + children(n).map(walk(_, childIn)).sum
    }
    walk(p, inCodegen = false)
  }
}
