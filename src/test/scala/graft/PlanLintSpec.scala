package graft

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.types.{ArrayType, MapType, StructType}

/** Plan lint over the WHOLE registered query surface: sweeps every
  * `SparkEntry.queries` entry and rejects plan shapes that break the
  * engine's scale promises. A future query that quietly reaches for a
  * UDF fails here, not in a 100 TB profile.
  *
  * Building each query executes its staging side effects (feed copies,
  * bucketed writes, streaming drains) at the smoke SF — that is the
  * point: the lint sees the exact plan the driver runs.
  */
object PlanLintSpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.catalyst.plans.logical._
  import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

  private val factNames = Set("documents", "embeddings", "lineitem", "orders", "events")

  private def isFactScan(p: LogicalPlan): Boolean = p match {
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => fs.location.rootPaths.exists { rp =>
        factNames.exists(n => rp.toString.endsWith(s"/$n.parquet"))
      }
      case _ => false
    }
    case _ => false
  }

  // true iff a fact scan is reachable without passing a cardinality
  // reducer (Filter / Aggregate / Limit) on the way down
  private def bareFact(p: LogicalPlan): Boolean = p match {
    case _: Filter | _: Aggregate | _: GlobalLimit | _: LocalLimit => false
    case _ if isFactScan(p) => true
    case _ => p.children.exists(bareFact)
  }

  /** True iff the analyzed plan carries a broadcast hint whose subtree
    * reaches a fact-table scan unreduced — the 100 TB OOM/ship-the-corpus
    * shape the r5 verdict flagged in annLshNearDup. */
  def hasFactBroadcast(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectWithSubqueries {
      case ResolvedHint(child, hints) if hints.strategy.contains(BROADCAST) && bareFact(child) => true
    }.nonEmpty

  /** True iff the executed plan contains a partitioned-layout file scan
    * with NO partition filters while a Filter above it references one
    * of that scan's partition columns — slice intent that failed to
    * prune, so the scan reads every partition and re-filters row-wise
    * (at 100 TB: the whole layout off disk for one day/shard/bucket).
    * Full reads WITHOUT a partition predicate are sanctioned (epoch
    * verification sweeps legitimately read all partitions), and a
    * predicate that DID reach `partitionFilters` (static or dynamic
    * pruning) is the desired shape. Evaluate with AQE off so the
    * physical tree is directly traversable. */
  def hasUnprunedPartitionedScan(df: DataFrame): Boolean = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
    val plan = df.queryExecution.executedPlan
    val exposed = plan.collect {
      case s: FileSourceScanExec
          if s.relation.partitionSchema.nonEmpty && s.partitionFilters.isEmpty =>
        val pcols = s.relation.partitionSchema.fieldNames.toSet
        s.output.filter(a => pcols.contains(a.name))
    }.flatten
    exposed.nonEmpty && {
      val ids = exposed.map(_.exprId).toSet
      plan.collect { case f: FilterExec => f.condition.references }
        .exists(_.exists(a => ids.contains(a.exprId)))
    }
  }

  /** True iff the optimized plan contains a Window with an EMPTY
    * partition spec whose input reaches a fact-table scan unreduced —
    * Spark plans that as a single-partition Exchange ("moving all data
    * to a single partition"), the other 100 TB cliff. Global windows
    * over REDUCED inputs (an aggregate's bucket offsets, a dim-sized
    * date spine) are sanctioned and stay green via [[bareFact]]. */
  def hasGlobalWindowOverFact(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case w: Window if w.partitionSpec.isEmpty && bareFact(w.child) => true
    }.nonEmpty
}

class PlanLintSpec extends SparkSpecBase {
  import org.apache.spark.sql.DataFrame

  /** Every registered query built once, in name order, for all the
    * AQE-on lints: its executed plan (and so its analyzed and optimized
    * plans and its schema) is computed before [[GraftSession.release]]
    * frees its cached frames, which would otherwise accumulate across
    * the sweep. Each entry also lists the persistent RDDs that appeared
    * while the query was built and outlived its release. */
  private lazy val sweep: Seq[(String, DataFrame, Seq[String])] = {
    val sc = spark.sparkContext
    var persisted = sc.getPersistentRDDs.keySet.toSet
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.queryExecution.executedPlan
      GraftSession.release(spark)
      val now = sc.getPersistentRDDs
      val left = now.collect { case (id, rdd) if !persisted(id) => rdd.toString }.toSeq
      persisted = now.keySet.toSet
      (name, df, left)
    }
  }
  private def built: Seq[(String, DataFrame)] = sweep.map(q => q._1 -> q._2)

  private def offending(lint: DataFrame => Boolean): Seq[String] =
    built.collect { case (name, df) if lint(df) => name }

  test("no registered query leaves a persistent RDD after GraftSession.release") {
    // release frees the catalog cache only: an RDD persisted around
    // Materialize, or a cut that was never unpersisted, outlives it
    val offenders = sweep.collect { case (name, _, left) if left.nonEmpty =>
      s"$name (${left.mkString(", ")})" }
    assert(offenders.isEmpty, s"persistent RDDs left after release by: ${offenders.mkString("; ")}")
  }

  test("no ScalaUDF in any registered query's optimized plan") {
    val offenders = offending(_.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists {
      case _: ScalaUDF => true
      case _ => false
    })))
    assert(offenders.isEmpty,
      s"UDF found in: $offenders — use a codegen'd Expression (graft.expr) instead")
  }

  test("no unfenced cartesian product in any registered query's physical plan") {
    // crossJoin against a BROADCAST side plans BroadcastNestedLoopJoin
    // (the big side streams, fine at scale); a CartesianProductExec
    // means BOTH sides shuffle into an O(N*M) join — only acceptable
    // inside the explicitly row-capped exact baselines.
    val fenced = Set("ann_neardup_pairs") // hard row cap asserted in its own spec
    val offenders = offending(_.queryExecution.executedPlan.exists {
      case _: org.apache.spark.sql.execution.joins.CartesianProductExec => true
      case _ => false
    }).filterNot(fenced)
    assert(offenders.isEmpty,
      s"CartesianProduct in: $offenders — broadcast the small side or bucket-join")
  }

  test("no broadcast hint over an unreduced fact-table scan in any registered query") {
    // broadcast(dim) is the engine's bread and butter; broadcast(FACT) is
    // the 100 TB cliff (r5 verdict: annLshNearDup's verify join broadcast
    // the whole embeddings table). Heuristic: a broadcast-hinted subtree
    // may touch a fact table only through a cardinality REDUCER — a
    // Filter (query slices like vec_id < 5), an Aggregate (centroids,
    // df counts, stats singletons), or a Limit. A bare
    // scan→project→repartition chain under a broadcast hint would ship
    // the corpus to every executor at scale, so it fails here.
    val offenders = offending(PlanLintSpec.hasFactBroadcast)
    assert(offenders.isEmpty,
      s"broadcast over unreduced fact scan in: $offenders — use an id-keyed shuffle join " +
      "(DedupQueries.verifyAgainst shape) or reduce the side before broadcasting")
  }

  test("fact-broadcast detector fires on a bare fact broadcast (negative control)") {
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sfDir)
    // the exact shape the r5 verdict flagged: candidate ids joined
    // against a broadcast of the FULL embeddings table
    val cand = e.select(col("vec_id")).limit(10)
    val badPlan = cand.join(broadcast(e), Seq("vec_id"))
    assert(PlanLintSpec.hasFactBroadcast(badPlan),
      "detector must flag broadcast(full fact table)")
    // the sanctioned shapes stay green: filtered query slice + aggregate
    val q = e.filter(col("vec_id") < 5)
    assert(!PlanLintSpec.hasFactBroadcast(e.crossJoin(broadcast(q))))
    val stats = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
    assert(!PlanLintSpec.hasFactBroadcast(e.join(broadcast(stats), "label")))
  }

  test("no partition-less window over an unreduced fact scan in any registered query") {
    // Window.orderBy with no partitionBy plans Exchange SinglePartition:
    // every row of the input funnels through ONE task. Over a dim-sized
    // or pre-aggregated input that is the correct (and cheap) global
    // ranking; over a raw fact scan it is the cliff where one executor
    // sorts the corpus. The two sanctioned global windows (shingle
    // bucket offsets, the events date spine) sit over aggregates and
    // pass via the bareFact reducer rule.
    val offenders = offending(PlanLintSpec.hasGlobalWindowOverFact)
    assert(offenders.isEmpty,
      s"global window over unreduced fact scan in: $offenders — partition the window " +
      "(or reduce its input) so the sort distributes")
  }

  test("global-window detector fires on an unpartitioned fact window (negative control)") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val d = Tables.documents(spark, sfDir)
    // the cliff shape: global row_number over the raw corpus
    val bad = d.withColumn("rn", row_number().over(W.orderBy(col("doc_id"))))
    assert(PlanLintSpec.hasGlobalWindowOverFact(bad),
      "detector must flag an unpartitioned window over a bare fact scan")
    // sanctioned shapes stay green: partitioned window over the fact,
    // and a global window over an aggregate-reduced input
    val part = d.withColumn("rn", row_number().over(W.partitionBy(col("lang")).orderBy(col("doc_id"))))
    assert(!PlanLintSpec.hasGlobalWindowOverFact(part))
    val agg = d.groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(W.orderBy(col("n"))))
    assert(!PlanLintSpec.hasGlobalWindowOverFact(agg))
  }

  test("no unpruned partitioned scan in any registered query's physical plan") {
    // fourth cliff class: a query that builds/reads a partitioned
    // layout (t15's IVF index, t18's delivery, k_partitioned_prune's
    // dated release) and slices it must push the slice into the scan's
    // partition filters — reading every partition and re-filtering is
    // the read-the-release-for-one-day shape. AQE off so the executed
    // plan is a plain traversable tree (same convention as the
    // exchange-bytes spec).
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
        val bad = PlanLintSpec.hasUnprunedPartitionedScan(fn(spark, sfDir))
        GraftSession.release(spark)
        if (bad) Some(name) else None
      }
      assert(offenders.isEmpty,
        s"unpruned partitioned scan in: $offenders — the partition predicate must reach " +
        "the FileScan's PartitionFilters (don't filter above a pushdown barrier)")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("partition-prune detector fires when the predicate misses the scan (negative control)") {
    import org.apache.spark.sql.functions._
    val dir = ScratchDirs.dir("spec", "prunelint")
    Tables.documents(spark, sfDir)
      .withColumn("bucket", (col("doc_id") % 4).cast("int"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$dir/part_docs")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val rd = spark.read.parquet(s"$dir/part_docs")
      // a Limit is a pushdown barrier: the scan reads ALL buckets and the
      // bucket predicate degrades to a row filter — the cliff shape
      val bad = rd.limit(1000000).filter(col("bucket") === 2)
      assert(PlanLintSpec.hasUnprunedPartitionedScan(bad),
        "detector must flag a partition predicate stuck above a barrier")
      // sanctioned: the same predicate reaching PartitionFilters
      assert(!PlanLintSpec.hasUnprunedPartitionedScan(rd.filter(col("bucket") === 2)))
      // sanctioned: a full-layout read with no partition predicate
      assert(!PlanLintSpec.hasUnprunedPartitionedScan(
        rd.groupBy(col("lang")).agg(count(lit(1)).as("n"))))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("no nested types (array/map/struct) in any registered query's result schema") {
    // The driver's pandas row-compare hashes every cell; ndarray/dict cells
    // are unhashable and crash the oracle harness (round-3 ta_inverted_index).
    // Convention: results ship scalars only — join collections to strings.
    val offenders = built.flatMap { case (name, df) =>
      val bad = df.schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
                  f.dataType.isInstanceOf[MapType] ||
                  f.dataType.isInstanceOf[StructType] => f.name
      }
      if (bad.nonEmpty) Some(s"$name(${bad.mkString(",")})") else None
    }
    assert(offenders.isEmpty,
      s"nested result columns in: $offenders — array_join/to_json to a scalar before returning")
  }
}
