package graft

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** `graft.Explain` on the test session at sf0.001: the census counts
  * what the executed plan holds and the jobs a query starts while it is
  * built, and the pinned shapes match `plans/census_sf0.01.txt` (the
  * census at sf0.01); `jobs` labels every job with the query run it
  * belongs to. */
class ExplainSpec extends SparkSpecBase {

  private def censusOf(name: String): Explain.Census =
    try Explain.built(spark)(SparkEntry.queries(name)(spark, sfDir))
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

  test("jobs: every job line names the query run it belongs to") {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobLog = new Explain.JobLog(lines.add(_))
    val queries: Seq[(String, GraftSession.Query)] = Seq(
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
    spark.sparkContext.addSparkListener(jobLog)
    try queries.foreach { case (name, fn) =>
      Explain.runLabelled(spark, name, fn, sfDir, repeat = 2)(lines.add(_))
    } finally {
      spark.sparkContext.removeSparkListener(jobLog)
      spark.catalog.dropTempView("tiny_stream")
    }
    val logged = lines.asScala.toSeq
    val (totals, jobs) = logged.partition(_.startsWith("[prof-total]"))
    val runs = totals.map(_.split(" ").slice(1, 4).mkString(" "))
    assert(runs == queries.flatMap(q => Seq(s"${q._1} run 1", s"${q._1} run 2")),
      logged.mkString("\n"))
    // a run's jobs are logged before its total line, and name that run
    val runOfJob = jobs.map(j => runs(logged.takeWhile(_ != j).count(_.startsWith("[prof-total]"))))
    jobs.zip(runOfJob).foreach { case (j, run) => assert(j.contains(s"  $run  "), logged.mkString("\n")) }
    assert(runOfJob.distinct == runs, logged.mkString("\n"))
  }
}
