package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, SortMergeJoinExec}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Dev tool: what the bench session plans and runs, per selected query
  * (`SPARK_GRAFT_ONLY`, `SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS` as for
  * every main — see [[GraftSession]]). Plans are built without the final
  * action; query constructors may still run their eager prep.
  *
  *   dev/run_main.sh graft.Explain census
  *     one line per query: hash exchanges, join strategies and
  *     SortAggregates, counted over the plan's nodes (see [[nodes]]),
  *     and the Spark jobs started while the query was built (`eager`);
  *     `!!` flags cartesians and SortAggregates
  *   dev/run_main.sh graft.Explain plan [outDir suffix]
  *     `explain("formatted")` to stdout, or to `outDir/<query>_<suffix>.txt`
  *   dev/run_main.sh graft.Explain jobs
  *     runs each query once into the noop sink and prints its
  *     [[Ledger]] record, one line per Spark job: the query it belongs
  *     to, duration, stage task counts and the callsite — the Spark
  *     UI's Jobs page with the UI off — and a total line that also
  *     counts the jobs started during the run under no run's label
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

  /** Every physical node of `plan`: through adaptive plans (their
    * current plan), query stages and subqueries, not into a reused
    * exchange (perfbench's `Tracer.nodes` rule), and into the cached
    * plan behind each in-memory scan, once per scan. */
  def nodes(plan: SparkPlan): Seq[SparkPlan] = plan +: (plan match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _: ReusedExchangeExec => Nil
    case m: InMemoryTableScanExec => m.subqueries :+ m.relation.cachedPlan
    case p => p.children ++ p.subqueries
  }).flatMap(nodes)

  def census(plan: SparkPlan): Census = {
    val all = nodes(plan)
    def c(pf: PartialFunction[SparkPlan, Unit]) = all.count(pf.isDefinedAt)
    Census(Seq(
      "xch" -> c { case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => },
      "bhj" -> c { case _: BroadcastHashJoinExec => },
      "smj" -> c { case _: SortMergeJoinExec => },
      "bnlj" -> c { case _: BroadcastNestedLoopJoinExec => },
      "cart" -> c { case _: CartesianProductExec => },
      "sortAgg" -> c { case _: SortAggregateExec => },
    ))
  }

  /** The census of the plan `build` returns, plus `eager`: the Spark
    * jobs started while building it, which the returned plan does not
    * show. */
  def built(spark: SparkSession, name: String)(build: => DataFrame): Census = {
    val (out, run) = Ledger.run(spark, name)(build)(df => census(df.queryExecution.executedPlan))
    val c = out.toTry.get
    c.copy(counts = c.counts :+ ("eager" -> run.eager))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val spark = GraftSession.build()
    args.toList match {
      case List("census") =>
        spark.sparkContext.setLogLevel("ERROR")
        GraftSession.eachQuery(spark, "census") { (name, fn) =>
          val c = built(spark, name)(fn(spark, sfDir))
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
        GraftSession.eachQuery(spark, "jobs") { (name, fn) =>
          val (out, run) = Ledger.noop(spark, name)(fn(spark, sfDir))
          run.lines.foreach(System.err.println)
          out.toTry.get
        }
      case _ =>
        System.err.println("usage: graft.Explain census | plan [outDir suffix] | jobs")
    }
    spark.stop()
  }
}
