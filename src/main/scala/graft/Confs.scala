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
    *    is the parameter (left at Spark's 64m default; a 100 TB
    *    deployment raises it to 256m per guide §9) — partition COUNT
    *    then derives from data volume at every scale instead of from
    *    the local core count. Stages whose cost is CPU-per-row rather
    *    than bytes keep their explicit `repartition(n, col)` pins (chem
    *    seeds, graph loops), which AQE never coalesces.
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
    *    readers open only after success) already tolerate by design.
    *
    *  - 1 MB Tungsten pages (`spark.buffer.pageSize`, Spark's floor).
    *    Spark otherwise sizes a page from heap / cores / 16, so on a
    *    7 g, 4-core JVM every hash aggregate, sorter and broadcast
    *    `UnsafeHashedRelation` takes whole 64 MB `long[]` pages (32 MB
    *    or more on a 48 g, 32-core driver), over KB-scale data. perfbench
    *    corpus_dedup (4 cores, 7 g heap, traced, seed 41) read
    *    375/106/393/399/404 MB of old gen after its first/check/warm
    *    passes with the derived 64 MB pages and 108/131/142/147/153 MB
    *    with 1 MB pages; `exec.peak_mem_mb`, the largest task's peak
    *    execution memory, went 322 -> 7.2 MB. The one limit this adds:
    *    a task's page table holds 8192 pages, so one task's Tungsten
    *    memory is capped at 8 GB, three orders of magnitude above that
    *    peak; a 4-core sf0.1 `graft.Bench` runs every query without
    *    error. */
  def tuned(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
    .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    .config("spark.buffer.pageSize", "1m")
}
