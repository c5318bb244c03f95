package graft

import org.apache.spark.sql.functions._

/** `graft.Explain` on the test session at sf0.001: the census counts
  * what the executed plan holds and the jobs a query starts while it is
  * built, and the pinned shapes match `plans/census_sf0.01.txt` (the
  * census at sf0.01); `jobs` prints each run's [[Ledger]] record, every
  * job labelled with the query run it belongs to. */
class ExplainSpec extends SparkSpecBase {

  private def censusOf(name: String): Explain.Census =
    try Explain.built(spark, name)(SparkEntry.queries(name)(spark, sfDir))
    finally GraftSession.release(spark)

  test("census: j1 broadcasts its dim join, d1 hash-aggregates") {
    val j1 = censusOf("j1_dim_join_distinct")
    assert(j1("bhj") >= 1 && !j1.warnings.contains("CARTESIAN"), j1.line)
    val d1 = censusOf("d1_classify_aggregate")
    assert(!d1.warnings.contains("SORT_AGG"), d1.line)
  }

  test("census: eager counts the jobs a query starts while it is built") {
    // pagerank's loop runs at construct time; the plan it returns is a scan
    val pr = censusOf("graph_pagerank")
    assert(pr("eager") > 0 && pr.line.contains(s"eager=${pr("eager")}"), pr.line)
    val j1 = censusOf("j1_dim_join_distinct")
    assert(j1("eager") == 0 && !j1.line.contains("eager"), j1.line)
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

  test("census counts a cached frame's plan once per reference") {
    // a materialized cached frame prints its adaptive plan twice (final
    // and initial); a node walk sees each reference's plan once
    val agg = Materialize.cached(spark.range(100).groupBy((col("id") % 7).as("k")).count())
    try {
      val c = Explain.census(agg.union(agg).queryExecution.executedPlan)
      assert(c("xch") == 2, c.line)
    } finally GraftSession.release(spark)
  }

  test("jobs: every job line names the query run it belongs to") {
    val runs = try LedgerSpec.tinyQueries.flatMap { case (name, fn) =>
      (1 to 2).map { i =>
        LedgerSpec.watching(spark) { all =>
          val (out, run) = Ledger.noop(spark, s"$name run $i")(fn(spark, sfDir))
          out.toTry.get
          // the record holds every job the whole context started over the run
          assert(run.jobs.map(_.id) == all.jobIds && run.unlabelled == 0, run.lines.mkString("\n"))
          run
        }
      }
    } finally spark.catalog.dropTempView("tiny_stream")
    val logged = runs.flatMap(_.lines).mkString("\n")
    // every run has jobs, each job line names its run, and the record's
    // last line is the run's total
    runs.foreach { run =>
      val (jobs, total) = (run.lines.init, run.lines.last)
      assert(jobs.nonEmpty && jobs.forall(_.startsWith("[prof-job]")), logged)
      assert(jobs.forall(_.contains(s"  ${run.label}  ")), logged)
      assert(total == f"[prof-total] ${run.label} ${run.sec}%.3fs", logged)
    }
  }
}
