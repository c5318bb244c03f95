package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a `SparkSession` is built, and the one place the run
  * knobs are read. Every main (Bench, Verify, Explain, the test probes)
  * and the shared test session go through [[build]], so a plan printed
  * by `graft.Explain` or pinned by a spec is the plan the bench runs.
  *
  *  - `SPARK_GRAFT_CPUS`: `local[n]` and `n` shuffle partitions
  *    (default: every available processor).
  *  - `SPARK_GRAFT_SF_DIR`: the data dir mains read (default sf0.1).
  *  - `SPARK_GRAFT_ONLY=q1,q2`: restrict a run to the named queries.
  */
object GraftSession {
  type Query = (SparkSession, String) => DataFrame

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  val sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private val only: Option[Set[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)

  /** `Confs.tuned` on `local[cores]` with one shuffle partition per core. */
  def build(cores: Int = cpus): SparkSession = {
    val spark = Confs.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores))
      // the events ts normalization (NTZ-layout parquet → session-TZ
      // timestamp) must be an identity on the stored micros, and window
      // alignment must match the oracle's
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 245 queries × several codegen'd stages each overflow the default
      // 100-entry generated-class cache; eviction then causes Janino
      // recompile storms mid-run (jstack: threads blocked in
      // GeneratedClass.generate) that land on arbitrary queries
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // shuffle/spill scratch on the RAM-backed tmpfs (see ScratchDirs)
      .config("spark.local.dir", ScratchDirs.dir("spark_local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The registry sorted by name, filtered by `SPARK_GRAFT_ONLY`. */
  def selected: Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

  /** Runs `body` on each [[selected]] query; a failure is logged as
    * `[tag] name failed: cause` on stderr, and the query's cached blocks
    * are [[release]]d after it either way. */
  def eachQuery(spark: SparkSession, tag: String)(body: (String, Query) => Unit): Unit =
    selected.foreach { case (name, fn) =>
      try body(name, fn)
      catch { case t: Throwable =>
        System.err.println(s"[$tag] $name failed: ${t.getMessage}")
      } finally release(spark)
    }

  /** Drops every block a query left behind; piled up across a session
    * they age it and skew the later queries. It frees the frames a
    * query made with [[Materialize.cached]] (catalog-cache entries);
    * the other forms of the [[Materialize]] policy hold no blocks past
    * their query. */
  def release(spark: SparkSession): Unit = spark.catalog.clearCache()

  /** Warm the JVM/codegen/parquet-reader paths once so the first timed
    * query doesn't absorb session startup: exercise the GENERIC
    * operator shapes (scan, shuffle agg, broadcast join, window, sort)
    * on the 25-row `nation` table — compiles the shared generated-code
    * infrastructure without touching fact data or the measured queries. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    spark.range(1000).select(sum(col("id")))
      .write.format("noop").mode("overwrite").save()
    val n = Tables.nation(spark, sfDir)
    n.write.format("noop").mode("overwrite").save()
    n.groupBy(col("n_regionkey")).agg(count(lit(1)), collect_list(col("n_name")))
      .write.format("noop").mode("overwrite").save()
    n.join(broadcast(n.select(col("n_regionkey").as("rk")).distinct()),
        col("n_regionkey") === col("rk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
      .orderBy(col("rn")).limit(5)
      .write.format("noop").mode("overwrite").save()
    // streaming INFRASTRUCTURE warmup (r14 optimization): the first
    // measured t-query otherwise absorbs the one-time cost of the
    // micro-batch engine's class loading, the offset/commit WAL
    // machinery, and the RocksDB state-store provider's JNI library
    // load. Two rows through a stateful drain touch all of it without
    // touching any measured query's data or expressions — the same
    // session-startup principle as the generic batch shapes above.
    locally {
      val wbase = ScratchDirs.clear(ScratchDirs.dir("warmup_stream"))
      val wfeed = s"$wbase/feed"; val wckpt = s"$wbase/ckpt"
      spark.range(2).select(col("id")).write.mode("overwrite").parquet(wfeed)
      Confs.withSessionConf(spark,
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        Confs.withShufflePartitions(spark, 2) {
          val q = spark.readStream
            .schema(org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("id",
                org.apache.spark.sql.types.LongType))))
            .parquet(wfeed)
            .groupBy(col("id")).agg(count(lit(1)))
            .writeStream.format("memory").queryName("warmup_stream")
            .option("checkpointLocation", wckpt)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
        }
      }
      spark.sql("DROP TABLE IF EXISTS warmup_stream")
    }
    // force CollationAwareUTF8String.<clinit>: Spark 4 builds its ICU
    // case-mapping tables lazily on the first NON-ASCII case op,
    // a 20-30 s one-time cost that otherwise lands on whichever
    // measured query's data first trips it (jstack: one RUNNABLE
    // thread in com.ibm.icu CaseMapImpl.toTitle for the whole stall,
    // under CollationAwareUTF8String.<clinit>)
    spark.range(1).select(
        lower(lit("Étude")), upper(lit("ß")), initcap(lit("élan")))
      .write.format("noop").mode("overwrite").save()
  }
}
