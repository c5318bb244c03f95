package graft

import org.apache.spark.sql.SparkSession

/** Scoped session-conf override: set, run, restore (or unset if the
  * key was never set). Used wherever a query tunes a setting for one
  * bounded phase — loop shuffle width sized to edge volume, stateful
  * drains' state-store count, the RocksDB provider for
  * transformWithState — so the session the driver shares across every
  * registered query always comes back as it was. */
object Confs {
  def withSessionConf[T](spark: SparkSession, key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** The most common override: shuffle width sized to a phase's actual
    * data volume (e.g. a graph loop shuffling only near-dup edges). */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T =
    withSessionConf(spark, "spark.sql.shuffle.partitions", n.toString)(body)

  /** Engine tuning every session gets through [[GraftSession.build]]
    * — r14 optimization round, guide §2.2 + §6:
    *
    *  - SIZE-BASED AQE partition coalescing. With the default
    *    `parallelismFirst=true` AQE refuses to coalesce a post-shuffle
    *    stage below the session's default parallelism, so every reduce
    *    stage over KB-scale shuffle data still schedules 32 tasks —
    *    measured at 0.1-0.2 s of pure scheduling per stage across the
    *    multi-job queries (t22: 58 jobs/run, most of them [1+32]-task
    *    shapes over <1 MB of shuffle bytes). `parallelismFirst=false`
    *    makes AQE honor `advisoryPartitionSizeInBytes` (the
    *    documented-recommended setting; Spark's own doc calls the
    *    parallelism-first default a compromise "to avoid perf
    *    regression when enabling AQE"). Scale story: the advisory size
    *    is the parameter (env `SPARK_GRAFT_ADVISORY_PARTITION`,
    *    default Spark's 64m; a 100 TB deployment raises it to 256m per
    *    guide §9) — partition COUNT then derives from data volume at
    *    every scale instead of from the local core count. Stages whose
    *    cost is CPU-per-row rather than bytes keep their explicit
    *    `repartition(n, col)` pins (chem seeds, graph loops), which
    *    AQE never coalesces.
    *
    *  - FileOutputCommitter v2: commit each task's files straight into
    *    the destination on task commit instead of sequentially renaming
    *    every task directory in the single-threaded job commit. The
    *    bench surface publishes dozens of scratch parquet/bucketed/
    *    partitioned artifacts per run (versioned republish epochs,
    *    shard deliveries, feed staging); v1's driver-side rename loop
    *    was 0.2-0.5 s per partitioned write (t19's four per-batch
    *    deliveries). Correctness trade is the documented one — a
    *    mid-job failure can leave partial files — which these
    *    atomically-swapped scratch versions (write to a fresh vN dir,
    *    readers open only after success) already tolerate by design. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION", "64m"))
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
}
