package graft

import org.apache.spark.sql.functions._

/** `graft.Explain census` on the test session at sf0.001: the census
  * counts what the executed plan holds, and the pinned shapes match
  * `plans/r14/plan_census_after.txt`. */
class ExplainSpec extends SparkSpecBase {

  private def censusOf(name: String): Explain.Census =
    try Explain.census(SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan)
    finally GraftSession.release(spark)

  test("census: j1 broadcasts its dim join, d1 hash-aggregates") {
    val j1 = censusOf("j1_dim_join_distinct")
    assert(j1("bhj") >= 1 && !j1.warnings.contains("CARTESIAN"), j1.line)
    val d1 = censusOf("d1_classify_aggregate")
    assert(!d1.warnings.contains("SORT_AGG"), d1.line)
  }

  test("census flags a SortAggregate and a cartesian (negative control)") {
    import spark.implicits._
    val df = Seq(("a", 1.0, 1L)).toDF("g", "v", "id")
    val sortAgg = Explain.census(
      df.groupBy($"g").agg(max(struct($"v", $"id"))).queryExecution.executedPlan)
    assert(sortAgg("sortAgg") > 0 && sortAgg.warnings == Seq("SORT_AGG"), sortAgg.line)
    // with broadcasts off a condition-less join can only plan as a cartesian
    val cart = Confs.withSessionConf(spark, "spark.sql.autoBroadcastJoinThreshold", "-1") {
      Explain.census(df.crossJoin(df.select($"g".as("g2"))).queryExecution.executedPlan)
    }
    assert(cart.warnings.contains("CARTESIAN"), cart.line)
  }
}
