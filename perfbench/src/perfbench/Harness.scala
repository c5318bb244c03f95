package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.{Confs, ScratchDirs, SparkEntry}

/** Benchmark harness. Calls registered queries from outside the program
  * (`SparkEntry.queries(name)(spark, dir)` into the `noop` sink, as
  * `graft.Bench` does) and writes raw samples as JSON; statistics are
  * computed by `perfbench/run.py`.
  *
  * Arguments are `key=value`:
  *   input    generated input tables; every pass reads a fresh copy
  *   work     per-run scratch directory (pass copies, check outputs)
  *   ops      comma-separated query names, run in this order
  *   seconds  warm passes run until this many seconds have passed
  *   trace    1 = record spans and counters, time kernels
  *   cpus     local[cpus] and shuffle partitions
  *   out      report path
  *
  * Run order: set-up; the first pass (fresh session, fresh inputs);
  * a check pass that writes every op's output for the oracle check,
  * outside the timed region; then warm passes, at least two. With
  * tracing, warm passes alternate untraced and traced (untraced, traced,
  * untraced at least), so the report carries the tracing overhead. */
object Harness {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * millisecond timestamps of listener events. */
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS(): Double = osBean.getProcessCpuTime / 1e9

  private def oldGenMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed / 1048576.0).getOrElse(0.0)

  /** (compilations, compile ms) so far. Compile time is a sampled
    * histogram; its values are exact until the reservoir fills. */
  private def compileStats(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    (n, if (n <= snap.size) snap.getValues.sum.toDouble else snap.getMean * n)
  }

  private def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
  }

  private def sizeMb(f: File): Double =
    if (!f.exists) 0.0
    else Files.walk(f.toPath).iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => Files.size(p)).sum / 1048576.0

  private def copyInputs(from: String, to: String): Unit = {
    val dst = Paths.get(to)
    Files.createDirectories(dst)
    Files.list(Paths.get(from)).iterator.asScala.foreach { p =>
      Files.copy(p, dst.resolve(p.getFileName), StandardCopyOption.COPY_ATTRIBUTES)
    }
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val input = a("input")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val b0 = now()
    val spark = Confs.tuned(SparkSession.builder()
      .master(s"local[${a("cpus")}]")
      .config("spark.sql.shuffle.partitions", a("cpus")))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", ScratchDirs.dir("spark_local"))
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val b1 = now()
    Warmup.run(spark, input)
    val b2 = now()
    val setup = Json.obj("jvm_start" -> jvmStart, "build_s" -> (b1 - b0) / 1e3,
      "warmup_s" -> (b2 - b1) / 1e3, "setup_s" -> (b2 - jvmStart) / 1e3)
    Files.writeString(Paths.get(a("out")), s"""{"setup":$setup,${measure(spark, a).drop(1)}""")
    spark.stop()
  }

  private def measure(spark: SparkSession, a: Map[String, String]): String = {
    val input = a("input"); val work = a("work")
    val ops = a("ops").split(",").toSeq
    val trace = a("trace") == "1"
    val registry = SparkEntry.queries
    val checkDir = s"$work/check"
    val tracer = new Tracer(spark, s"${ScratchDirs.root}/memo/")
    val failures = mutable.LinkedHashMap[String, String]()
    var passNo = 0

    def pass(kind: String, traced: Boolean, check: Boolean): String = {
      val dir = s"$work/in_${passNo}_${java.util.UUID.randomUUID().toString.take(8)}"
      passNo += 1
      copyInputs(input, dir)
      if (traced) tracer.register()
      var cacheLeft = 0.0
      val opJson = ops.zipWithIndex.map { case (op, i) =>
        val (c0, ms0) = compileStats()
        val cpu0 = cpuS()
        val t0 = now()
        var t1 = Double.NaN
        var df: DataFrame = null
        var error = ""
        try {
          df = registry(op)(spark, dir)
          t1 = now()
          df.write.format("noop").mode("overwrite").save()
        } catch { case NonFatal(e) => error = s"${e.getClass.getName}: ${e.getMessage}" }
        val t2 = now()
        val cpu1 = cpuS()
        val (c1, ms1) = compileStats()
        if (check && error.isEmpty) {
          try df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$op")
          catch { case NonFatal(e) => error = s"check write: ${e.getClass.getName}: ${e.getMessage}" }
        }
        if (error.nonEmpty) {
          failures.getOrElseUpdate(op, error)
          System.err.println(s"[perfbench] $op failed: $error")
        }
        cacheLeft += spark.sparkContext.getRDDStorageInfo
          .map(r => r.memSize + r.diskSize).sum / 1048576.0
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        // as graft.Bench does: lets the ContextCleaner reclaim shuffle
        // files of finished ops mid-pass
        if (i % 8 == 7) System.gc()
        Json.obj("name" -> op, "start" -> t0, "construct_end" -> (if (t1.isNaN) t2 else t1),
          "end" -> t2, "ok" -> error.isEmpty, "cpu_s" -> (cpu1 - cpu0),
          "compiles" -> (c1 - c0), "compile_ms" -> (ms1 - ms0))
      }
      if (traced) tracer.unregister()
      val memo = new File(ScratchDirs.root, "memo")
      val artifacts = Option(memo.listFiles()).toSeq.flatten
        .flatMap(t => Option(t.listFiles()).toSeq.flatten)
        .flatMap(k => Option(k.listFiles()).toSeq.flatten).size
      val memoMb = sizeMb(memo)
      System.gc()
      val heap = oldGenMb()
      rm(new File(dir))
      Option(new File(ScratchDirs.root).listFiles()).toSeq.flatten
        .filterNot(_.getName == "spark_local").foreach(rm)
      Json.obj("kind" -> kind, "traced" -> traced, "heap_mb" -> heap,
        "memo_mb" -> memoMb, "memo_artifacts" -> artifacts, "cache_left_mb" -> cacheLeft,
        "ops" -> Json.Raw(opJson.mkString("[", ",", "]")))
    }

    val passes = mutable.ArrayBuffer(pass("first", traced = trace, check = false))
    // the untimed check pass is also the second execution of every op, so
    // warm passes start with the JIT mostly settled
    passes += pass("check", traced = false, check = true)
    val minWarm = if (trace) 3 else 2
    val w0 = now()
    var i = 0
    while (i < minWarm || now() - w0 < a("seconds").toDouble * 1e3) {
      passes += pass("warm", traced = trace && i % 2 == 1, check = false)
      i += 1
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => ops.contains(k) }
    Json.obj(
      "passes" -> Json.Raw(passes.mkString("[", ",", "]")),
      "failures" -> failures,
      "oracle" -> oracle,
      "check_dir" -> checkDir,
      "trace" -> Json.Raw(if (trace) tracer.toJson else "null"),
      "kernels" -> (if (trace) Kernels.rates(spark, input) else Map.empty[String, Double]))
  }
}

/** The session warm-up `graft.Bench` runs before its first timed query:
  * the generic operator shapes on the small `nation` table, a
  * two-row stateful streaming drain on the RocksDB state store, and
  * the ICU case-mapping tables. */
object Warmup {
  def run(spark: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    spark.range(1000).select(sum(col("id")))
      .write.format("noop").mode("overwrite").save()
    val n = spark.read.parquet(s"$dir/nation.parquet")
    n.write.format("noop").mode("overwrite").save()
    n.groupBy(col("n_regionkey")).agg(count(lit(1)), collect_list(col("n_name")))
      .write.format("noop").mode("overwrite").save()
    n.join(broadcast(n.select(col("n_regionkey").as("rk")).distinct()),
        col("n_regionkey") === col("rk"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("n_regionkey").orderBy("n_nationkey")))
      .orderBy(col("rn")).limit(5)
      .write.format("noop").mode("overwrite").save()
    val wbase = ScratchDirs.dir("warmup_stream")
    val wfeed = s"$wbase/feed"; val wckpt = s"$wbase/ckpt"
    spark.range(2).select(col("id")).write.mode("overwrite").parquet(wfeed)
    Confs.withSessionConf(spark,
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      Confs.withShufflePartitions(spark, 2) {
        spark.readStream
          .schema(org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))
          .parquet(wfeed)
          .groupBy(col("id")).agg(count(lit(1)))
          .writeStream.format("memory").queryName("warmup_stream")
          .option("checkpointLocation", wckpt)
          .outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
    }
    spark.sql("DROP TABLE IF EXISTS warmup_stream")
    spark.range(1).select(lower(lit("Étude")), upper(lit("ß")), initcap(lit("élan")))
      .write.format("noop").mode("overwrite").save()
  }
}

/** Single-thread rows/s of the custom kernels, called directly on rows
  * drawn from the workload's inputs (collected outside the timing). The
  * chemistry kernels are called below `Chem`'s per-JVM result memo, so
  * repeated sweeps time the computation, not memo hits. */
object Kernels {
  @volatile private var sink = 0L

  /** Rows per second over at least `minMs` of repeated sweeps, after one
    * untimed sweep for JIT warm-up. */
  def rate(rows: Int, minMs: Double = 300)(f: Int => Long): Double = {
    var acc = 0L
    var i = 0
    while (i < rows) { acc += f(i); i += 1 }
    val t0 = System.nanoTime()
    var n = 0L
    while ((System.nanoTime() - t0) / 1e6 < minMs) {
      var j = 0
      while (j < rows) { acc += f(j); j += 1 }
      n += rows
    }
    val dt = (System.nanoTime() - t0) / 1e9
    sink += acc
    n / dt
  }

  def rates(spark: SparkSession, dir: String): Map[String, Double] = {
    import graft.chem.Chem
    import graft.expr.{AhoCorasick, BitSimKernels, StringSim, TextHash, TextNorm}
    val seeds = spark.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey").cast("long").as("seed")).limit(500)
    val smiles = (0 to 2).flatMap { v =>
      seeds.select(graft.expr.chemfunctions.mol_from_seed(col("seed"), lit(v)))
        .collect().map(_.getString(0))
    }.toArray
    val fps: Array[ArrayData] =
      smiles.map(s => UnsafeArrayData.fromPrimitiveArray(Chem.morganFp(s)): ArrayData)
    val texts = spark.read.parquet(s"$dir/documents.parquet").select(col("text"))
      .limit(2000).collect().map(_.getString(0))
    val tokens: Array[ArrayData] = texts.map(t =>
      new GenericArrayData(t.split(" ").map(w => UTF8String.fromString(w): Any)): ArrayData)
    val names = spark.read.parquet(s"$dir/part.parquet").select(col("p_name"))
      .limit(2000).collect().map(_.getString(0))
    val uNames = names.map(UTF8String.fromString)
    val ac = new AhoCorasick(graft.queries.TextQueries.antiPatterns)
    Map(
      "chem_canonical_rps" -> rate(smiles.length)(i =>
        Chem.canonicalGraph(Chem.normalize(Chem.parse(smiles(i)))).length),
      "morgan_fp_rps" -> rate(smiles.length)(i =>
        Chem.morganFpGraph(Chem.normalize(Chem.parse(smiles(i)))).length),
      "tanimoto_rps" -> rate(fps.length)(i =>
        java.lang.Double.doubleToLongBits(BitSimKernels.tanimoto(fps(i), fps((i + 1) % fps.length)))),
      "aho_corasick_rps" -> rate(texts.length)(i => if (ac.matchesAny(texts(i))) 1L else 0L),
      "compound_norm_rps" -> rate(names.length)(i => TextNorm.normalizeCompound(names(i)).length),
      "wordgram_rps" -> rate(tokens.length)(i => TextHash.wordGramPoly61(tokens(i), 3).numElements()),
      "simhash_rps" -> rate(tokens.length)(i => TextHash.simhash64(tokens(i))),
      "jaro_winkler_rps" -> rate(uNames.length)(i => java.lang.Double.doubleToLongBits(
        StringSim.jaroWinkler(uNames(i), uNames((i + 1) % uNames.length)))))
  }
}
