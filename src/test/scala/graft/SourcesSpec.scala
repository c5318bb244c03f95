package graft

import graft.queries.{ScaleQueries, SourceQueries, StreamingQueries}
import org.apache.spark.sql.functions.{col, count, length, max, min}
import org.apache.spark.sql.types._

class SourcesSpec extends SparkSpecBase {

  test("every source/streaming/scale query runs non-empty on the smoke SF") {
    (SourceQueries.queries ++ StreamingQueries.queries ++ ScaleQueries.queries)
      .foreach { case (name, fn) =>
        val n = fn(spark, sfDir).count()
        assert(n > 0, s"$name returned 0 rows")
      }
  }

  test("s5 manifest sees exactly one file per shard with full key coverage") {
    val m = SourceQueries.s5IngestManifest(spark, sfDir).collect()
    assert(m.length == 4, s"expected 4 shards, got ${m.length}")
    assert(m.forall(_.getAs[Long]("n_files") == 1L),
      "sharded stage must land one file per shard (repartition on the shard key)")
    val total = m.map(_.getAs[Long]("n_rows")).sum
    assert(total == Tables.orders(spark, sfDir).count())
  }

  test("u1 multi-dir read is ONE scan with correct per-file attribution") {
    val df = SourceQueries.u1UnionAll(spark, sfDir)
    assert(df.select("src").distinct().collect().map(_.getString(0)).toSet ==
      Set("baseline", "update1"))
    // the path-list read must plan a single relation scan — the Spark
    // form of ordered file concat — not a Union of two scans
    val plan = df.queryExecution.optimizedPlan
    assert(plan.collectLeaves().size == 1,
      s"expected 1 scan leaf, got:\n$plan")
    assert(!plan.toString.contains("Union"), s"unexpected Union:\n$plan")
  }

  test("TSV scan tolerates a malformed short row (the smiles.txt edge case)") {
    // SURVEY §5: data/reference/smiles.txt carries one malformed
    // single-field row — the scan must not abort the job on it.
    val dir = "/tmp/graft_sources/malformed_tsv"
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/data.tsv"),
      "name\tsmiles\nmetformin\tCN(C)C(=N)NC(=N)N\nmalformedonly\nrotenone\tCC(=C)C1CC2=C(O1)C=CC3=C2OC4COC5=CC(=C(C=C5C4C3=O)OC)OC\n")
    val schema = StructType(Seq(
      StructField("name", StringType), StructField("smiles", StringType)))
    val permissive = spark.read.option("sep", "\t").option("header", "true")
      .schema(schema).csv(dir)
    // PERMISSIVE (default): the short row survives with a null column
    assert(permissive.count() == 3)
    assert(permissive.filter(org.apache.spark.sql.functions.col("smiles").isNull).count() == 1)
    // DROPMALFORMED: the engine-side "skip bad rows" policy drops it.
    // collect(), not count(): count() prunes every column so the parser
    // never sees the short row and DROPMALFORMED silently no-ops — a
    // real Spark CSV pitfall worth pinning here.
    val dropped = spark.read.option("sep", "\t").option("header", "true")
      .option("mode", "DROPMALFORMED").schema(schema).csv(dir)
    assert(dropped.collect().length == 2)
  }

  test("s14 ungrouped count/min/max is pushed into the DSv2 reader") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scansOf(plan: SparkPlan): Seq[String] = {
      val root = plan match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
      root.collect { case b: BatchScanExec => b.scan.description() }
    }
    val df = graft.queries.SourceQueries.s14AggPushdown(spark, sfDir)
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.exists(s => s.contains("pushedAggs=count_star,min_value,max_value,max_len")
        && s.contains("pushedPrefix=s")),
      s"aggregation (with composed prefix filter) did not reach the reader: $scans")
    // the pushed result must equal the unpushed replay over the same files
    val staged = spark.read.text(graft.ScratchDirs.of("sources", sfDir, "linelist_aggpush"))
      .filter(col("value").startsWith("s"))
    val expect = staged.agg(count(col("value")), min(col("value")), max(col("value")),
      max(length(col("value"))).cast("long")).collect()(0)
    assert(df.collect()(0) == expect, "pushed aggregate diverges from row-scan replay")
  }

  test("pushed COUNT over an all-empty directory returns 0, matching the row-scan path") {
    // zero non-empty files -> zero partitions would reach the final
    // aggregate, whose Sum-rewrite of the pushed partial COUNT returns
    // NULL over zero rows; the sentinel partition must yield 0 instead
    val dir = java.nio.file.Files.createTempDirectory("linelist_empty")
    java.nio.file.Files.createFile(dir.resolve("part-000.txt")) // zero-length
    val df = spark.read.format("graft.sources.LineListSource")
      .load(dir.toString)
      .agg(count(col("value")).as("n"))
    val n = df.collect()(0)
    assert(!n.isNullAt(0) && n.getLong(0) == 0L,
      s"pushed count over empty dir: $n (expected 0, not NULL)")
  }

  test("s12 custom DSv2 source pushes the prefix filter and prunes columns") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scansOf(plan: SparkPlan): Seq[String] = {
      val root = plan match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
      root.collect { case b: BatchScanExec => b.scan.description() }
    }
    val df = graft.queries.SourceQueries.s12CustomSource(spark, sfDir)
    val scans = scansOf(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a DSv2 BatchScan in the plan")
    assert(scans.exists(_.contains("pushedPrefix=s")),
      s"prefix filter did not reach the reader: $scans")
    // value-only projection prunes the derived len column at the source
    val pruned = spark.read.format("graft.sources.LineListSource")
      .option("path", graft.ScratchDirs.of("sources", sfDir, "linelist_v2"))
      .load().select("value")
    val prunedScans = scansOf(pruned.queryExecution.executedPlan)
    assert(prunedScans.exists(_.endsWith("columns=value")),
      s"len not pruned from the reader: $prunedScans")
    // semantics: parity with the direct exists-form over documents
    val expect = Tables.documents(spark, sfDir)
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("v"))
      .filter("v <> '' AND v LIKE 's%'")
      .select("v").distinct().count()
    assert(df.collect().map(_.getLong(1)).sum == expect)
  }

  test("s13 custom sink commits exactly the visible part files (no temp leakage)") {
    val row = graft.queries.SourceQueries.s13CustomSink(spark, sfDir).collect().head
    assert(row.getLong(0) > 0)
    val dir = new java.io.File(graft.ScratchDirs.of("sources", sfDir, "linelist_sink"))
    val names = dir.listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
    assert(names.nonEmpty && names.forall(_.startsWith("part-")),
      s"uncommitted or foreign files in sink dir: $names")
    // 3 write partitions → exactly 3 committed parts
    assert(names.size == 3, s"expected 3 committed parts: $names")
  }

  test("s13 custom sink commit fails, naming the path, when a part name is taken") {
    val out = java.nio.file.Files.createTempDirectory("linelist_taken")
    val taken = java.nio.file.Files.createDirectories(out.resolve("part-00000"))
    java.nio.file.Files.writeString(taken.resolve("keep"), "x")
    val err = intercept[Exception] {
      spark.range(3).select(col("id").cast("string").as("value"))
        .select(col("value"), length(col("value")).cast("int").as("len")).coalesce(1)
        .write.format("graft.sources.LineListSource")
        .option("path", out.toString).mode("append").save()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).toSeq
    assert(msgs.exists(m => m != null && m.contains(s"$taken")), msgs.mkString(" | "))
    // the part did not land inside the taken directory
    assert(taken.toFile.list().toSeq == Seq("keep"))
  }

  test("t10 streaming connector drains in maxFilesPerTrigger-bounded microbatches") {
    import org.apache.spark.sql.functions._
    val out = graft.ScratchDirs.of("sources", sfDir, "linelist_batched")
    Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("value"))
      .filter(col("value") =!= "").distinct()
      .repartition(3).write.mode("overwrite").text(out)
    val q = spark.readStream.format("graft.sources.LineListSource")
      .option("path", out).option("maxFilesPerTrigger", "1").load()
      .writeStream.format("memory").queryName("t10_batched_spec")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val dataBatches = q.recentProgress.count(_.numInputRows > 0)
    assert(dataBatches == 3, s"expected 3 one-file microbatches, got $dataBatches " +
      q.recentProgress.map(p => s"batch${p.batchId}=${p.numInputRows}").mkString(","))
    // and nothing was lost or duplicated across the slices
    val drained = spark.table("t10_batched_spec").count()
    val expect = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("v"))
      .filter("v <> ''").distinct().count()
    assert(drained == expect)
  }

  test("t10 streaming connector resumes from its checkpoint without reprocessing") {
    import org.apache.spark.sql.functions._
    val base = graft.ScratchDirs.clear(graft.ScratchDirs.of("sources", sfDir, "linelist_resume"))
    val data = s"$base/data"
    val ckpt = s"$base/ckpt"
    new java.io.File(data).mkdirs()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$data/part-00000"), "alpha\nbeta\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$data/part-00001"), "gamma\n")
    val sink = s"$base/sink"
    def drain(): Unit = {
      val q = spark.readStream.format("graft.sources.LineListSource")
        .option("path", data).load().select(col("value"))
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ckpt).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    drain()
    val run1 = spark.read.parquet(sink).collect().map(_.getString(0)).sorted
    assert(run1.toSeq == Seq("alpha", "beta", "gamma"))
    // a new file lands; the restarted query must process ONLY it —
    // the offset round-trips through deserializeOffset on recovery,
    // and the exactly-once file sink appends the delta exactly once
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$data/part-00002"), "delta\n")
    drain()
    val run2 = spark.read.parquet(sink).collect().map(_.getString(0)).sorted
    assert(run2.toSeq == Seq("alpha", "beta", "delta", "gamma"),
      s"resume reprocessed or lost rows: ${run2.toSeq}")
  }

  test("s11 schema evolution: both vintages flow through one mergeSchema scan") {
    val rows = graft.queries.SourceQueries.s11SchemaEvolution(spark, sfDir).collect()
    val statuses = rows.map(_.getString(0)).toSet
    assert(statuses.contains("PRE_EVOLUTION"), s"batch-1 rows lost: $statuses")
    assert((statuses - "PRE_EVOLUTION").nonEmpty, s"batch-2 rows lost: $statuses")
    // batch-1 count == orders with key % 3 == 0
    val o = Tables.orders(spark, sfDir)
    val pre = rows.filter(_.getString(0) == "PRE_EVOLUTION").map(_.getLong(1)).sum
    assert(pre == o.filter(org.apache.spark.sql.functions.col("o_orderkey") % 3 === 0).count())
  }
}
