package graft.queries

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.{Materialize, ScratchDirs, Tables}
import graft.streaming.StreamOps

/** Streaming pack (SURVEY §2.9): the incremental layer driven through
  * the REAL Structured Streaming path and oracle-checked. The query
  * reads `events` through `readStream` (T1 file-feed source), runs the
  * shared event-time tumbling aggregation, and drains the backlog with
  * `Trigger.AvailableNow` into a memory sink — the reference's
  * "process what's there, then stop" batch-increment semantics
  * (download_raw.sh:30-31). The result is the SAME relation the batch
  * `win_tumbling_hour` query computes, so the DuckDB oracle checks the
  * streaming engine end-to-end: source schema handling (ns→µs
  * timestamps), watermark plumbing, incremental state, and sink.
  *
  * Scale notes: at 100 TB/day the identical plan runs continuously with
  * `maxFilesPerTrigger` bounding per-batch work and the watermark
  * bounding window state; AvailableNow here just drains to the end.
  */
object StreamingQueries {

  /** Stage a parquet table into a stream-feed dir (made if absent),
    * handling BOTH shipped layouts: the harness's single-file testdata
    * tables AND a Spark-written DIRECTORY of part files (ScaleCorpus's
    * 10× corpora). A naive Files.copy of a directory copies only the
    * empty directory entry, and the feed silently goes blank — the t7
    * drain guard caught exactly that on the first streaming scale arm
    * (r13). Part files keep their sorted order under a name prefix so
    * multi-part corpora become a deterministic multi-batch feed (the
    * realistic at-scale ingest shape: maxFilesPerTrigger batches). */
  private def stageTable(dir: String, table: String, feedDir: String): Unit = {
    val src = java.nio.file.Paths.get(s"$dir/$table")
    val feed = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feedDir))
    // clear THIS table's previously staged files first (r13 ADVICE): a
    // corpus rebuilt at the same path with fewer part files (or
    // switched between single-file and directory layout) would
    // otherwise leave stale NNNN_-prefixed copies in the feed, which
    // the drain would ingest as extra rows. Other tables' staged files
    // in a shared feed dir are left alone.
    Option(feed.toFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName == table || f.getName.matches(s"\\d{4}_${java.util.regex.Pattern.quote(table)}"))
      .foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
    if (java.nio.file.Files.isDirectory(src)) {
      val parts = src.toFile.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          feed.resolve(f"${i}%04d_$table"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    } else
      java.nio.file.Files.copy(src, feed.resolve(table),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** The staged feed files a drain is expected to consume (FileStream
    * sources skip hidden/metadata names, so the expectation does too). */
  private def stagedFileNames(feed: String): Set[String] =
    Option(new java.io.File(feed).listFiles()).getOrElse(Array.empty[java.io.File])
      .map(_.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_") && !n.endsWith(".crc"))
      .toSet

  /** Feed files recorded in the checkpoint's file-source log for
    * batches with a COMMIT entry — the committed-offset view of what a
    * drain actually consumed. Unlike the progress metric's
    * numInputRows it is plan-independent (a self-join that scans the
    * feed once per side, a kernel that scans the arriving batch twice,
    * or an exchange-reuse re-plan never changes it) and needs no Spark
    * job. Reads the two driver-local metadata logs directly:
    * `sources/0/<batchId>` lists the files a batch ingests (JSON
    * entries, `.compact` files absorb earlier ones), `commits/<batchId>`
    * marks the batch fully processed. */
  private def committedFeedFiles(ckpt: String): Set[String] = {
    def logFiles(d: String): Array[java.io.File] =
      Option(new java.io.File(s"$ckpt/$d").listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(_.getName.matches("[0-9]+(\\.compact)?"))
    // commits can be compacted too (spark.sql.streaming.minBatchesToRetain
    // + compact interval), so strip the suffix before the numeric parse —
    // a bare .toLong would throw on "9.compact"
    val committed = logFiles("commits").map(_.getName.stripSuffix(".compact").toLong)
    if (committed.isEmpty) return Set.empty
    val maxCommitted = committed.max
    val pathRe = java.util.regex.Pattern.compile("\"path\":\"([^\"]+)\"")
    logFiles("sources/0")
      .filter(_.getName.stripSuffix(".compact").toLong <= maxCommitted)
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try {
          val m = pathRe.matcher(src.mkString)
          val b = Array.newBuilder[String]
          while (m.find()) b += m.group(1).split('/').last
          b.result()
        } finally src.close()
      }.toSet
  }

  /** Attempts a [[drain]] makes before it fails. */
  private val DrainAttempts = 3

  /** Run an AvailableNow drain and check that it consumed the whole
    * staged feed: every file staged under `feed` must appear in the
    * committed source log of `ckpt` ([[committedFeedFiles]]). Observed
    * about once in ten full-sweep drains: a query completed
    * "successfully" having ingested 2 of its 4 staged files — the
    * source's start-time snapshot missed files — which downstream is
    * indistinguishable from a correctness bug. The cause is not known,
    * so a short drain is retried, up to [[DrainAttempts]] times. Every
    * attempt starts from an EMPTY checkpoint, and `start` resets its
    * own sink (a memory sink re-registers its table empty): the memory
    * sink refuses checkpoint recovery in append and update mode, so a
    * fresh restart is the one retry that is valid for every sink. The
    * staged set is read after each attempt, so an attempt may stage its
    * own feed (t14 ships it in two halves). */
  private[graft] def drain(feed: String, ckpt: String, what: String)
                          (start: => StreamingQuery): Unit = {
    @annotation.tailrec
    def attempt(n: Int): Unit = {
      ScratchDirs.clear(ckpt)
      start.awaitTermination()
      val staged = stagedFileNames(feed)
      require(staged.nonEmpty, s"$what has no staged feed files under $feed")
      val missing = (staged -- committedFeedFiles(ckpt)).toSeq.sorted
      if (missing.nonEmpty) {
        val msg = s"$what left ${missing.size} of ${staged.size} staged files " +
          s"uncommitted after $n of $DrainAttempts attempts: ${missing.take(5).mkString(", ")}"
        require(n < DrainAttempts, msg)
        System.err.println(s"[graft] $msg — retrying from an empty checkpoint")
        attempt(n + 1)
      }
    }
    attempt(1)
  }

  /** Shuffle width of the stateful drains. The per-microbatch cost of
    * a stateful query scales with the state store count = shuffle
    * partitions at query start (each partition commits its own store
    * files every batch — a stream-stream join keeps FOUR stores per
    * partition). The drained backlog is small relative to the
    * session's 32-partition batch tuning, so stateful drains run at 8
    * through [[graft.Confs.withShufflePartitions]], which restores the
    * setting afterwards. The width is capped at the context's default
    * parallelism (its core count), so every stateful stage runs in one
    * task wave: a 4-core host otherwise ran 8 store commits per stage in
    * two waves, each partition's commit a fixed per-batch cost. At
    * 100 TB the knob goes the other way — state partitioning is sized
    * at FIRST start and pinned by the checkpoint. */
  private def statePartitions(spark: SparkSession): Int =
    math.min(8, spark.sparkContext.defaultParallelism)

  /** [[drain]] `frame` from `feed` into the memory table of query
    * `name` over `dir`, on that query's own scratch checkpoint, and
    * return the table. */
  private def drainToMemory(spark: SparkSession, dir: String, feed: String, name: String,
                            mode: String)(frame: DataFrame): DataFrame = {
    val qname = s"${name}_${ScratchDirs.tag(dir)}"
    val ckpt = ScratchDirs.of("stream", dir, "checkpoints", name)
    graft.Confs.withShufflePartitions(spark, statePartitions(spark)) {
      drain(feed, ckpt, qname) {
        frame.writeStream.format("memory").queryName(qname).outputMode(mode)
          .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      }
    }
    spark.table(qname)
  }

  /** Idempotent per-batch parquet publish for `foreachBatch` sinks: the
    * batch lands under an `ingest_batch=<id>` partition, so a batch
    * replayed after a crash between the sink write and the offset
    * commit REPLACES its own partition instead of double-appending —
    * the exactly-once half a blind `mode("append")` cannot give. Every
    * file operation goes through the Hadoop `FileSystem` of `out`, so a
    * publish works on any scheme, not only local disk.
    *
    * UNPARTITIONED publishes write DIRECTLY into the batch's own
    * `ingest_batch=<id>` directory with plain overwrite (r14
    * optimization): replacing the whole destination dir is exactly the
    * replace-own-partition semantics, without the dynamic-overwrite
    * staging write + driver-side per-partition rename commit that cost
    * 0.1-0.3 s per micro-batch. The read-back is unchanged — the
    * directory name IS the `ingest_batch` partition column. Publishes
    * WITH extra partition columns (t15's cluster, t18/t19's shard)
    * keep the caller's partitioning as the top-level layout (t15's
    * cluster-dir locality is spec-asserted), which one-dir overwrite
    * cannot express: the batch is written ONCE into a dot-prefixed
    * staging dir, then each partition dir MOVES to
    * `<out>/<part>/ingest_batch=<id>` with concurrent renames, the
    * target deleted first so a replay replaces exactly its own output.
    * This skips the dynamic committer's serial driver-side
    * per-partition rename loop (~0.1-0.3 s per micro-batch across
    * t15/t18/t19's 4-batch drains).
    *
    * A publish is complete once its marker
    * `<out>/_published/ingest_batch=<id>` exists: the marker is deleted
    * first and written after the last move, and a failed rename
    * throws. Partition discovery skips the underscore-prefixed marker
    * dir, so readers of `out` never see it. */
  private[graft] def publishBatch(batch: DataFrame, batchId: Long, out: String,
                                  partitionCols: Seq[String] = Nil): Unit = {
    val outPath = new Path(out)
    val fs = outPath.getFileSystem(batch.sparkSession.sparkContext.hadoopConfiguration)
    val leaf = s"ingest_batch=$batchId"
    val marker = new Path(outPath, s"_published/$leaf")
    fs.delete(marker, false) // a replayed batch counts as partial until it ends
    if (partitionCols.isEmpty)
      batch.write.mode("overwrite").parquet(new Path(outPath, leaf).toString)
    else {
      val stage = new Path(outPath, s".stage_$leaf")
      fs.delete(stage, true)
      batch.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(stage.toString)
      // (staged partition dir, its partition dir names under the staging root)
      def leaves(d: Path, rel: Seq[String], depth: Int): Seq[(Path, Seq[String])] =
        if (depth == 0) Seq(d -> rel)
        else fs.listStatus(d).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.contains("="))
          .flatMap(st => leaves(st.getPath, rel :+ st.getPath.getName, depth - 1))
      import scala.jdk.CollectionConverters._
      leaves(stage, Nil, partitionCols.size).asJava.parallelStream().forEach { l =>
        val (src, rel) = l
        val dst = (rel :+ leaf).foldLeft(outPath)(new Path(_, _))
        fs.delete(dst, true)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(src, dst))
          throw new java.io.IOException(s"publish of batch $batchId: rename $src -> $dst failed")
      }
      fs.delete(stage, true)
    }
    fs.create(marker, true).close()
  }

  /** Stage `events.parquet` into a drop-folder (the T1 file feed is a
    * DIRECTORY of arriving files — baseline + updatefiles) and open it
    * as a streaming source with the file's raw schema (long nanos OR
    * µs timestamp — both shipped layouts, see [[Tables.normalizeTs]]),
    * its `ts` normalized to the µs TimestampType the event-time
    * operators need. Returns the feed dir and the stream. */
  private def stagedEventFeed(spark: SparkSession, dir: String): (String, DataFrame) = {
    val feed = ScratchDirs.of("stream", dir, "events_feed")
    stageTable(dir, "events.parquet", feed)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Tables.read(spark, dir, "events")
    val stream = StreamOps.fileFeed(spark, feed, raw, maxFilesPerTrigger = 1)
    (feed, stream.withColumn("ts", Tables.normalizeTs(stream.schema("ts").dataType)))
  }

  def t1StreamTumbling(spark: SparkSession, dir: String): DataFrame = {
    val (feed, stream) = stagedEventFeed(spark, dir)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
    drainToMemory(spark, dir, feed, "t1_stream_tumbling", "complete")(agg)
  }

  /** T2: key-level streaming dedup with watermark-bounded state — the
    * streaming form of the reference's resume-from-output key skip
    * (run_gpt_filter.py:81-95,236-246). The feed drains in one
    * AvailableNow batch here, so `dropDuplicatesWithinWatermark` is an
    * exact distinct over the backlog and the projection to the key
    * columns makes the result deterministic (WHICH physical row
    * survives per key is arrival-order-dependent; the key set is not).
    * At 100 TB/day the same plan runs continuously: state is one entry
    * per key inside the watermark horizon, evicted as event time
    * advances. */
  def t2StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val (feed, stream) = stagedEventFeed(spark, dir)
    val deduped = StreamOps.dedupByKeys(stream, Seq("user_id", "event_type"), "ts", "24 hours")
      .select(col("user_id"), col("event_type"))
    drainToMemory(spark, dir, feed, "t2_stream_dedup", "append")(deduped)
  }

  /** Custom per-key state (north-star `mapGroupsWithState`): running
    * per-user count + latest event (explicit (ts, event_id) tiebreak),
    * driven through the file-feed source in update mode. The stream's
    * ts is normalized to an epoch-µs LONG before the stateful op —
    * state logic compares plain longs on the hot path, at the same µs
    * resolution the oracle's `ORDER BY ts DESC` sees, for either
    * shipped parquet layout. */
  def t4StreamStateful(spark: SparkSession, dir: String): DataFrame = {
    val (feed, stream) = stagedEventFeed(spark, dir)
    val agg = StreamOps.statefulUserAgg(spark, stream.withColumn("ts", unix_micros(col("ts"))))
      .select(col("user_id"), col("n_events"),
        col("last_event_id"), col("last_type"))
    drainToMemory(spark, dir, feed, "t4_stream_stateful", "update")(agg)
  }

  /** Stream-stream interval join (north-star Structured Streaming
    * surface): clicks joined to same-user purchases that land within
    * 30 minutes, both sides watermarked so the join state is bounded —
    * Spark buffers each side only until the watermark passes the
    * interval's upper bound, then evicts (without the time bound the
    * state would grow with the full history at 100 TB/day). Inner join
    * in append mode drains exactly once per matched pair. Both inputs
    * are branches of the SAME file-feed source — the planner scans the
    * feed once per microbatch and the self-join is two stateful sides.
    */
  def t5StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val (feed, stream) = stagedEventFeed(spark, dir)
    val clicks = stream.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    val joined = clicks.join(purchases,
        expr("c_user = p_user AND purchase_ts >= click_ts AND " +
             "purchase_ts <= click_ts + interval 30 minutes"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"))
    drainToMemory(spark, dir, feed, "t5_stream_stream_join", "append")(joined)
  }

  /** Session windows through the REAL streaming path (net-new): the
    * stateful-window case tumbling (t1) doesn't cover — session extent
    * is data-dependent, so the state store must MERGE adjacent windows
    * as events arrive. Same 30-min gap as the batch `win_sessionize`;
    * complete mode + AvailableNow drains every session (append mode
    * would hold back sessions inside the final watermark horizon).
    * Boundary semantics: session_window splits at gap >= 30 min
    * (exclusive window end) where the islands oracle splits at > — the
    * harness data has no exact-30:00 gaps (checked at all three SFs),
    * so the two definitions coincide on every oracle row. */
  def t6StreamSession(spark: SparkSession, dir: String): DataFrame = {
    val (feed, stream) = stagedEventFeed(spark, dir)
    val agg = StreamOps.sessionCounts(stream, "30 minutes", "1 hour")
    drainToMemory(spark, dir, feed, "t6_stream_session", "complete")(agg)
  }

  /** Stream–STATIC broadcast join (the enrichment-dimension pattern the
    * pack lacked: t5 is stream-stream): every microbatch joins against
    * a small static dimension with NO join state at all — the dim is
    * broadcast per batch, the stream side never buffers for it, which
    * is exactly how a 100 TB/day feed picks up slowly-changing
    * reference data. Downstream the weighted windowed aggregate runs
    * append-mode with watermark-closed windows (the bounded-sink
    * continuous form; cutoff replayed by the oracle like
    * [[t1StreamTumblingAppend]]). The dim is a LITERAL policy table so
    * the DuckDB twin can inline it as VALUES. */
  def t9StreamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Seq(
      ("click", "engagement", 1.0), ("view", "engagement", 0.5),
      ("purchase", "revenue", 5.0), ("signup", "acquisition", 3.0),
      ("error", "ops", 0.0)).toDF("event_type", "category", "weight")
    val (feed, stream) = stagedEventFeed(spark, dir)
    val agg = stream.join(broadcast(dim), "event_type")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("category"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value") * col("weight")), 6).as("wsum"))
      .select(col("w.start").as("window_start"), col("category"),
        col("n_events"), col("wsum"))
    drainToMemory(spark, dir, feed, "t9_stream_static", "append")(agg)
  }

  /** t10: streaming read through the CUSTOM DSv2 connector
    * ([[graft.sources.LineListSource]]'s `MicroBatchStream`): the
    * staged term list drains through `maxFilesPerTrigger=1` bounded
    * microbatches (file-count offsets, `SupportsTriggerAvailableNow`
    * pinning the drain target), rows append straight to the sink —
    * no aggregation state at all — and the per-letter rollup runs as
    * a BATCH query over the drained table. The oracle replays the
    * terms from `documents` directly; equality proves the incremental
    * file-slice batches covered the listing exactly once. */
  def t10CustomSourceStream(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("streaming", dir, "linelist_stream")
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("value"))
      .filter(col("value") =!= "").distinct()
      .repartition(3).write.mode("overwrite").text(out)
    val stream = spark.readStream.format("graft.sources.LineListSource")
      .option("path", out).option("maxFilesPerTrigger", "1").load()
    val qname = "t10_custom_stream_" + ScratchDirs.tag(dir)
    val q = stream.select(col("value"), col("len"))
      .writeStream.format("memory").queryName(qname)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the source's offset is a count of consumed files and it pins its
    // own AvailableNow target, so a complete drain ends exactly at the
    // staged file count; it has no file log for [[drain]] to check
    val staged = stagedFileNames(out).size
    val end = Option(q.lastProgress).flatMap(_.sources.headOption).map(_.endOffset)
    require(end.contains(staged.toString),
      s"$qname ended at file offset ${end.getOrElse("none")} of $staged staged files")
    spark.table(qname)
      .groupBy(substring(col("value"), 1, 1).as("letter"))
      .agg(count(lit(1)).as("n_terms"), max(col("len")).cast("long").as("max_len"))
  }

  /** t1's APPEND-MODE twin — the continuous 100 TB form: only
    * watermark-CLOSED windows reach the sink, each exactly once, so
    * sink volume tracks closed windows (complete mode re-emits the
    * whole aggregate state every trigger — fine for a bounded drain,
    * unviable continuously). The trailing no-data microbatch flushes
    * windows closed by the final watermark; windows still inside the
    * horizon are held back BY DESIGN, and the oracle applies the same
    * cutoff: window_end <= max(ts) − 1h, with the watermark's
    * millisecond floor replicated exactly. */
  def t1StreamTumblingAppend(spark: SparkSession, dir: String): DataFrame = {
    val (feed, stream) = stagedEventFeed(spark, dir)
    val agg = stream
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
    drainToMemory(spark, dir, feed, "t1_stream_tumbling_append", "append")(agg)
  }

  /** t6's APPEND-MODE twin (see [[t1StreamTumblingAppend]]): emits a
    * session exactly once, when the watermark passes its end (last
    * event + gap) and no further merge is possible — the bounded-state
    * bounded-sink continuous form. Oracle = the islands relation
    * restricted to sessions whose end clears the final watermark. */
  def t6StreamSessionAppend(spark: SparkSession, dir: String): DataFrame = {
    val (feed, stream) = stagedEventFeed(spark, dir)
    val agg = StreamOps.sessionCounts(stream, "30 minutes", "1 hour")
    drainToMemory(spark, dir, feed, "t6_stream_session_append", "append")(agg)
  }

  /** STREAMING MinHash-LSH dedup (net-new): continuous near-dup
    * detection for an arriving corpus — the incremental form of
    * `dedup_minhash_lsh`. Documents stream through the projection-only
    * banding (shingle→signature→band keys, all stateless per row);
    * `flatMapGroupsWithState` keeps per-bucket id lists and emits each
    * candidate pair exactly once as the later document arrives; the
    * exact Jaccard verify runs batch-side over the candidates. Because
    * banding is bit-identical to the batch pipeline and the bucket
    * state reproduces the band self-join incrementally, the drained
    * result EQUALS the batch LSH relation — so the SAME DuckDB oracle
    * checks the whole streaming path. At 100 TB/day this is the shape
    * that avoids re-joining the full corpus per increment: each new doc
    * touches only its 8 buckets.
    *
    * The drain runs no trailing no-data micro-batch. Such a batch only
    * advances the watermark to fire timeouts and evict state, and under
    * the constant ingest timestamp below no timeout can fire, so it
    * would only commit every state store once more, for no output. */
  def t7StreamLshDedup(spark: SparkSession, dir: String): DataFrame = {
    val feed = ScratchDirs.of("stream", dir, "docs_feed")
    stageTable(dir, "documents.parquet", feed)
    val raw = Tables.documentsUnpinned(spark, dir)
    // drain in ≤4 micro-batches regardless of the corpus's part-file
    // count: a multi-part 10× corpus at maxFilesPerTrigger=1 would pay
    // one ~2.4 s state-commit floor PER FILE (32 commits dominated the
    // first streaming scale arm), measuring file layout instead of
    // data volume — while a single mega-batch would stop exercising
    // the cross-batch bucket state this query exists to drive
    val nFeedFiles = new java.io.File(feed).listFiles().count(_.getName.endsWith(".parquet"))
    val stream = StreamOps.fileFeed(spark, feed, raw,
      maxFilesPerTrigger = math.max(1, (nFeedFiles + 3) / 4))
    // constant ingest timestamp: the TTL machinery is armed (watermark,
    // per-bucket timeouts) but can never fire inside the drain, so the
    // drained result still equals the batch band join / its oracle —
    // see the retention contract on StreamOps.lshCandidatePairs
    val banded = DedupQueries.streamBandedDocs(stream)
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
    val pairs = StreamOps.lshCandidatePairs(spark, banded, failOnHotBucket = true)
      .toDF("id_a", "id_b")
    val drained = graft.Confs.withSessionConf(spark,
        "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      drainToMemory(spark, dir, feed, "t7_stream_lsh_dedup", "append")(pairs)
    }
    DedupQueries.verifyPairs(spark, dir, drained)
  }

  /** T3: idempotent re-publish — the busiest day's summary is written
    * to its dated partition TWICE (wipe + rewrite, finalize_realease
    * .py:105-113); the read-back proves replace-not-duplicate. The
    * one-row collect picks the partition date — the dynamic-overwrite
    * key, not data movement. */
  def t3Republish(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val day = ev.agg(max(to_date(col("ts")))).collect()(0).getDate(0).toString
    val summary = ev.filter(to_date(col("ts")) === lit(day))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
    val out = ScratchDirs.of("stream", dir, "republish")
    StreamOps.republish(summary, out, day)
    StreamOps.republish(summary, out, day) // second publish must replace, not append
    spark.read.parquet(s"$out/date=$day")
  }

  /** T8 (net-new): streaming upsert MATERIALIZATION — `foreachBatch`
    * read-modify-write of a keyed state table, the pattern behind every
    * "streaming CDC into a serving table" pipeline (t3 republishes a
    * partition wholesale; this maintains per-key state across batches).
    * Each microbatch pre-aggregates to one row per key (count + argmax
    * struct), full-outer merges with the current table, and atomically
    * replaces it (the merge is materialized before the overwrite —
    * Spark cannot overwrite a directory it is still lazily reading).
    * The final table is INDEPENDENT of how files were batched: counts add and the
    * lexicographic (ts, event_id) max is associative — which is exactly
    * what makes the DuckDB replay possible. */
  def t8StreamMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val feed = ScratchDirs.of("stream", dir, "upsert_feed")
    val state = ScratchDirs.of("stream", dir, "upsert_state")
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    // ROUND-ROBIN staging (not user-hashed): keys must span batches or
    // the read-modify-write merge below would never see an existing row
    // for a key and the cross-batch path would go untested
    ev.repartition(4).write.mode("overwrite").parquet(feed)
    val ckpt = ScratchDirs.of("stream", dir, "upsert_checkpoint")
    val stream = StreamOps.fileFeed(spark, feed, ev, maxFilesPerTrigger = 1)
    graft.Confs.withShufflePartitions(spark, statePartitions(spark)) {
      drain(feed, ckpt, "t8_stream_merge_upsert") {
        ScratchDirs.clear(state) // each attempt merges into an empty table
        stream.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          val sp = batch.sparkSession
          val delta = batch.groupBy(col("user_id")).agg(
            count(lit(1)).as("n_events"),
            max(struct(col("ts"), col("event_id"), col("event_type"))).as("last"))
          val current =
            if (new java.io.File(state).exists()) sp.read.parquet(state)
            else sp.emptyDataFrame.select(lit(0L).as("user_id"), lit(0L).as("n_events"),
              lit(null).cast(delta.schema("last").dataType).as("last")).limit(0)
          val merged = current.select(col("user_id"), col("n_events").as("cn"), col("last").as("cl"))
            .join(delta.select(col("user_id"), col("n_events").as("dn"), col("last").as("dl")),
              Seq("user_id"), "full_outer")
            .select(col("user_id"),
              (coalesce(col("cn"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_events"),
              when(col("cl").isNull, col("dl"))
                .when(col("dl").isNull, col("cl"))
                .when(col("dl") > col("cl"), col("dl")).otherwise(col("cl")).as("last"))
          // materialized BEFORE overwriting the input of the lazy read
          Materialize.scoped(merged)(_.write.mode("overwrite").parquet(state))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      }
    }
    spark.read.parquet(state).select(col("user_id"), col("n_events"),
      col("last.ts").as("last_ts"), col("last.event_id").as("last_event_id"),
      col("last.event_type").as("last_type"))
  }

  /** T11: the `transformWithState` arbitrary-state API (the successor
    * of t4's `flatMapGroupsWithState`) driven end-to-end against the
    * RocksDB state store — see [[StreamOps.userProfiles]]. The feed is
    * staged ROUND-ROBIN across four files drained one per microbatch —
    * deliberately NOT hashed by user, so every key's rows are spread
    * over several batches and the profile provably carries typed state
    * ACROSS batches (a user-hashed staging would give each key exactly
    * one batch and never read persisted state). Update mode emits a
    * row per touched key per batch; because each field is monotone,
    * the final state is recovered with one max(struct) — the same
    * relation the oracle computes directly. */
  def t11TransformWithState(spark: SparkSession, dir: String): DataFrame = {
    val (feed, stream) = stagedTwsFeed(spark, dir)
    val drained = StreamOps.withRocksDBStateStore(spark) {
      drainToMemory(spark, dir, feed, "t11_tws", "update")(
        StreamOps.userProfiles(spark, stream).toDF())
    }
    drained.groupBy(col("user_id"))
      // hash-aggregable tuple max (≡ max(struct(...)), r15) — all fields
      // monotone per key, so the lexicographic max is the final state
      .agg(graft.expr.tupleagg.max_tuple(
        col("n_events"), col("n_types"), col("max_value")).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        col("s.n_types").as("n_types"),
        round(col("s.max_value"), 6).as("max_value"))
  }

  /** One shared staged feed for the transformWithState pair (t11/t12):
    * the (user_id, event_type, value) projection of events, written
    * ROUND-ROBIN into four files so every key spans multiple
    * microbatches under `maxFilesPerTrigger=1`. Staged once per dir
    * per invocation (idempotent overwrite); both consumers read the
    * same files. Returns the feed dir and the stream. */
  private def stagedTwsFeed(spark: SparkSession, dir: String): (String, DataFrame) = {
    val feed = ScratchDirs.of("stream", dir, "tws_feed")
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"))
    ev.repartition(4).write.mode("overwrite").parquet(feed)
    (feed, StreamOps.fileFeed(spark, feed, ev, maxFilesPerTrigger = 1))
  }

  /** T12: warm-started streaming state (`StatefulProcessorWithInitial
    * State`) — the backfill + incremental migration pattern. The
    * bootstrap is a deterministic per-user offset derived from the
    * SAME event set the stream drains (so every warm key provably
    * streams, see [[StreamOps.warmStartTotals]]), and the oracle
    * replays bootstrap + stream as one closed-form aggregate: count
    * plus the offset formula, max against the offset's floor value.
    * The round-robin staged feed (shared with t11) spreads every key
    * over several microbatches, so the INCREMENTAL path — state read
    * back from a prior input batch, not just from the initial seeding
    * — is exercised end-to-end, and the monotone count picks the
    * final emission. */
  def t12WarmStartState(spark: SparkSession, dir: String): DataFrame = {
    val (feed, stream) = stagedTwsFeed(spark, dir)
    // the "historical backfill": a deterministic per-user bootstrap the
    // oracle can replay in closed form (1000·(uid mod 3) + uid events
    // seen "before" the stream; running max floored at uid mod 7)
    val initial = Tables.events(spark, dir).select(col("user_id")).distinct()
      .select(col("user_id"),
        (lit(1000) * pmod(col("user_id"), lit(3)) + col("user_id")).as("n_events"),
        pmod(col("user_id"), lit(7)).cast("double").as("max_value"))
    val drained = StreamOps.withRocksDBStateStore(spark) {
      drainToMemory(spark, dir, feed, "t12_warm", "update")(
        StreamOps.warmStartTotals(spark, stream, initial).toDF())
    }
    drained.groupBy(col("user_id"))
      // hash-aggregable tuple max (≡ max(struct(...)), r15)
      .agg(graft.expr.tupleagg.max_tuple(col("n_events"), col("max_value")).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        round(col("s.max_value"), 6).as("max_value"))
  }

  /** t13: the engine's own mergeable Misra–Gries aggregate
    * ([[graft.expr.MisraGries]]) driven THROUGH Structured Streaming —
    * one expression serving batch and stream is the unified-engine
    * payoff: the summary buffer serializes into the aggregation state
    * store and merges across microbatches (the round-robin feed
    * guarantees every key spans several). With the counter budget
    * above the key cardinality (16 > |event types|) MG degenerates to
    * EXACT counts whatever the merge order, so the streamed sketch is
    * hash-checkable against the batch replay; at vocabulary scale the
    * same expression is the bounded-memory approximate form
    * ([[SketchQueries.sketchMgHeavyTokens]]'s batch query). */
  def t13StreamFrequentItems(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.mgfunctions.misra_gries
    val (feed, stream) = stagedTwsFeed(spark, dir)
    val drained = drainToMemory(spark, dir, feed, "t13_mg", "complete")(
      stream.groupBy().agg(misra_gries(col("event_type"), 16).as("sk")))
    drained.select(explode(col("sk")).as("e"))
      .select(col("e.term").as("event_type"), col("e.est").as("n_events"))
  }

  /** T14: checkpoint RECOVERY end-to-end — the durability contract
    * every production pipeline actually relies on, which the rest of
    * the pack (single AvailableNow drains) never exercised. The feed
    * is staged in two halves and drained by TWO separate streaming
    * queries over ONE checkpoint location: session 1 consumes half the
    * files and stops (the crash stand-in), session 2 starts from the
    * same checkpoint, restores the file-source offsets AND the RocksDB
    * `transformWithState` state, and drains only the new files. The
    * oracle is the single-run batch replay (t11's relation), so the
    * hash check proves exactly-once across the restart both ways: lost
    * state would undercount (session 2 would restart keys from zero),
    * lost offsets would overcount (files 1–2 replayed into restored
    * state). Update mode emits monotone per-key rows into per-session
    * foreachBatch parquet sinks (the memory sink refuses checkpoint
    * recovery); the final state is one max(struct) over BOTH sessions'
    * output, exactly as t11. */
  def t14CheckpointRecovery(spark: SparkSession, dir: String): DataFrame = {
    // fresh stage per invocation
    val base = ScratchDirs.clear(ScratchDirs.of("stream", dir, "ckpt_recovery"))
    val stage = s"$base/stage"; val feed = s"$base/feed"; val ckpt = s"$base/checkpoint"
    val out1 = s"$base/out_p1"; val out2 = s"$base/out_p2"
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("value"))
    // ROUND-ROBIN staging (see stagedTwsFeed): keys span both halves,
    // so session 2 provably READS BACK restored state, not fresh state
    ev.repartition(4).write.mode("overwrite").parquet(stage)
    val parts = new java.io.File(stage).listFiles()
      .map(_.getName).filter(n => n.startsWith("part-") && !n.endsWith(".crc")).sorted
    def ship(names: Array[String]): Unit = names.foreach { n =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$stage/$n"), java.nio.file.Paths.get(s"$feed/$n"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val (firstHalf, secondHalf) = parts.splitAt(parts.length / 2)
    // the memory sink refuses checkpoint recovery, so each session's
    // update-mode emissions land in a per-session parquet dir via
    // foreachBatch — the recoverable-sink shape production uses, made
    // replay-idempotent by batch-keyed partitions
    def session(out: String): StreamingQuery =
      StreamOps.userProfiles(spark, StreamOps.fileFeed(spark, feed, ev, maxFilesPerTrigger = 1))
        .toDF().writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
          publishBatch(batch.toDF(), bid, out)
        }
        .outputMode("update").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    StreamOps.withRocksDBStateStore(spark) {
      graft.Confs.withShufflePartitions(spark, statePartitions(spark)) {
        // one attempt is the whole restart scenario, so a retry re-runs
        // both sessions from an empty checkpoint and feed
        drain(feed, ckpt, "t14_checkpoint_recovery") {
          Seq(feed, out1, out2).foreach(ScratchDirs.clear)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(feed))
          ship(firstHalf)
          session(out1).awaitTermination() // session 1: half the feed, then stop
          ship(secondHalf)
          session(out2) // session 2: same checkpoint, new files only
        }
      }
    }
    // a session whose drain landed zero micro-batches (documented
    // partial-snapshot flake) writes no parquet dir at all — read each
    // side back guarded, with the other side's schema as the fallback
    def sessionOut(p: String): DataFrame =
      if (new java.io.File(p).exists()) spark.read.parquet(p)
        .select(col("user_id"), col("n_events"), col("n_types"), col("max_value"))
      else spark.range(0).select(col("id").as("user_id"), lit(0L).as("n_events"),
        lit(0L).as("n_types"), lit(0.0).as("max_value"))
    sessionOut(out1).unionByName(sessionOut(out2))
      .groupBy(col("user_id"))
      // hash-aggregable tuple max (≡ max(struct(...)), r15)
      .agg(graft.expr.tupleagg.max_tuple(
        col("n_events"), col("n_types"), col("max_value")).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        col("s.n_types").as("n_types"),
        round(col("s.max_value"), 6).as("max_value"))
  }

  /** T15 (net-new): streaming ANN index maintenance — the streaming twin
    * of [[SimilarityQueries.annIvfAppend]]'s frozen-quantizer append path
    * (the reference's incremental feed, download_raw.sh:19-39, applied to
    * the vector index). The coarse quantizer is trained ONCE on the base
    * slice (vec_id % 5 != 0 — same build as `ann_ivf_append`: vec_id % 8
    * seed, one Lloyd step, 9-dp-pinned centroids) and frozen; the corpus
    * then arrives as a 4-file feed and every micro-batch is assigned to
    * its nearest centroid by a pure literal-argmax PROJECTION — no state
    * store, no shuffle inside the stream — and appended to a
    * cluster-partitioned parquet index in `foreachBatch`.
    *
    * This is the production 100 TB ingest shape: index writes are
    * partition-local appends (each batch touches only the cluster
    * directories it lands in), searches prune by the partition column
    * (`ann_ivf_partitioned`'s PartitionFilters), and the frozen quantizer
    * retrains only on measured drift (`ann_ivf_drift`). The result reads
    * the index BACK from the partitioned layout and reports per-cluster
    * stats; the exact-integer `id_sum` pins exactly-once delivery across
    * micro-batches — a lost or replayed batch breaks the sum before it
    * breaks the count. */
  def t15StreamIvfIngest(spark: SparkSession, dir: String): DataFrame = {
    // fresh feed + index + checkpoint per run
    val base = ScratchDirs.clear(ScratchDirs.of("stream", dir, "ivf_ingest"))
    val feed = s"$base/feed"; val index = s"$base/index"; val ckpt = s"$base/checkpoint"
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val (_, cents) = graft.ops.Similarity.ivfIndex(
      e.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", k = 8, iters = 1)
    // model-parameter transfer (8 × dim doubles), then a literal argmax —
    // the assignment carries NO join and no aggregation into the stream
    val assign = graft.ops.Similarity.nearestCluster(cents, col("embedding"))
    e.repartition(4).write.mode("overwrite").parquet(feed)
    val stream = StreamOps.fileFeed(spark, feed, e, maxFilesPerTrigger = 1)
    drain(feed, ckpt, "t15_stream_ivf_ingest") {
      ScratchDirs.clear(index)
      stream.withColumn("cluster", assign)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
          // cluster stays the TOP-LEVEL partition (the searchable prune
          // layout); the nested ingest_batch key makes replays overwrite
          // their own leaf dirs instead of double-appending
          publishBatch(batch.toDF(), bid, index, partitionCols = Seq("cluster"))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    spark.read.parquet(index)
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_id"),
        max(col("vec_id")).as("max_id"), sum(col("vec_id")).as("id_sum"))
  }

  /** T16 (net-new): streaming set-containment against a stored index —
    * the streaming twin of [[DedupQueries.dedupContainmentIncremental]]
    * and the partner of t15's index maintenance: t15 keeps the index
    * fresh, t16 answers "is this arriving doc an excerpt of the stored
    * corpus?" per ingest micro-batch. The STORED side is built once and
    * persisted, exactly the artifacts a production index keeps: the
    * container postings (even-id docs, full shingles), the exact
    * shingle sets for the verify, and the global document-frequency
    * table that orders prefixes rarest-first. Each micro-batch of raw
    * delta docs (odd ids) computes its own shingles from text, joins
    * only its PREFIX shingles against the postings, exact-verifies the
    * candidates, and appends the confirmed pairs via foreachBatch.
    * Per-delta-doc independence makes the union over micro-batches
    * equal the one-shot batch relation — so the streamed result shares
    * `dedup_containment_incremental`'s full DuckDB oracle. Index
    * LIFECYCLE: the stored postings/df tables follow the epoch
    * merge+expire retention cycle DRIVEN end-to-end by
    * [[t22PostingsRetention]] (postings expire doc-granularly, df is
    * rebuilt from the survivors at each republish so rarest-first
    * ordering tracks the live index); this drain probes one frozen
    * version, as a production reader would. */
  def t16StreamContainment(spark: SparkSession, dir: String): DataFrame = {
    // fresh feed + out + checkpoint per run
    val base = ScratchDirs.clear(ScratchDirs.of("stream", dir, "containment_stream"))
    val feed = s"$base/feed"; val out = s"$base/out"; val ckpt = s"$base/checkpoint"
    // the stored index artifacts, session-memoized (shared with the
    // batch incremental query — see DedupQueries.containmentIndex) and
    // cached in memory across this drain's micro-batches
    val (dfreqRaw, containersRaw, stored) = DedupQueries.containmentIndex(spark, dir)
    val delta = Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
    delta.repartition(4).write.mode("overwrite").parquet(feed)
    val stream = StreamOps.fileFeed(spark, feed, delta, maxFilesPerTrigger = 1)
    Materialize.scoped(dfreqRaw) { dfreq =>
      Materialize.scoped(containersRaw) { containers =>
        drain(feed, ckpt, "t16_stream_containment") {
          ScratchDirs.clear(out)
          stream.writeStream
            .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
              publishBatch(
                DedupQueries.containmentOfDelta(
                    DedupQueries.shingleDocs(batch.toDF()), dfreq, containers, stored)
                  .select(col("id_a").as("new_doc"), col("id_b").as("container_doc"),
                    col("containment")),
                bid, out)
            }
            .option("checkpointLocation", ckpt)
            .trigger(Trigger.AvailableNow()).start()
        }
      }
    }
    spark.read.parquet(out)
      .select(col("new_doc"), col("container_doc"), col("containment"))
  }

  /** T17 — streaming canonical-form compound dedup (the chem pack's
    * production ingest shape: D2 meets T1's complete-mode aggregation).
    * Rendered SMILES arrive in three micro-batch files, ONE PER
    * RENDERING VARIANT — every molecule's renderings are deliberately
    * split across batch boundaries, so collapsing them requires the
    * canonicalization to agree across batches and the aggregation
    * state to survive them. Each row canonicalizes in the scan stage
    * (codegen'd [[graft.expr.CanonicalSmiles]]); one streaming
    * aggregation keyed on the canonical form maintains
    * (cluster_rep, counts). Reuses d2_smiles_canonical's oracle
    * VERBATIM — batching-invariance, exactly like t16 reuses the batch
    * containment oracle. */
  def t17StreamCanonicalDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.chemfunctions._
    val rendered = graft.Tables.part(spark, dir)
      .select(col("p_partkey").cast("long").as("seed"))
      .select(col("seed"), explode(array(lit(0), lit(1), lit(2))).as("variant"))
      .select(col("seed"), col("variant"),
        mol_from_seed(col("seed"), col("variant")).as("smiles"))
    val feed = java.nio.file.Paths.get(ScratchDirs.of("stream", dir, "chem_feed"))
    java.nio.file.Files.createDirectories(feed)
    // ONE variant-partitioned write instead of three sequential
    // coalesce(1) passes (r14 optimization): each filtered pass re-ran
    // the mol_from_seed kernel single-task (coalesce(1) collapses the
    // whole post-shuffle stage), so staging paid 3 serial kernel scans;
    // hash-partitioning by variant runs the kernel once, one task per
    // variant, and still leaves exactly one part file per variant dir
    // (a variant's rows all share one partition). Batch contents are
    // identical — (seed, smiles) rows of one rendering per file.
    val stage = ScratchDirs.of("stream", dir, "chem_stage")
    rendered.repartition(3, col("variant"))
      .write.mode("overwrite").partitionBy("variant").parquet(stage)
    for (v <- 0 to 2) {
      val partFile = new java.io.File(s"$stage/variant=$v").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .sortBy(_.getName).head
      java.nio.file.Files.copy(partFile.toPath, feed.resolve(s"batch_$v.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val stream = StreamOps.fileFeed(spark,
      feed.toString, rendered.select(col("seed"), col("smiles")), maxFilesPerTrigger = 1)
    val agg = stream
      .select(canonical_smiles(col("smiles")).as("canon"), col("seed"))
      .groupBy(col("canon"))
      .agg(min(col("seed")).as("cluster_rep"), count(lit(1)).as("n_renderings"))
      .select(col("cluster_rep"),
        (col("n_renderings") / 3).cast("long").as("n_mols"), col("n_renderings"))
    drainToMemory(spark, dir, feed.toString, "t17_chem", "complete")(agg).select(col("cluster_rep"), col("n_mols"), col("n_renderings"))
  }

  /** T18 — streaming shard-delivery ingest: the streaming twin of
    * [[CurationQueries.xShardIncremental]] and the delivery-side
    * partner of t15's index maintenance (t15 keeps the ANN index
    * fresh; t18 keeps the TRAINING EPOCH fresh as new documents
    * arrive). The delta lands as a 4-file feed; each micro-batch
    * assigns its docs to shards by the same seeded-md5 arithmetic the
    * batch epoch used — a pure PROJECTION, no state store, no shuffle
    * inside the stream — and appends to a shard-partitioned delivery
    * layout in `foreachBatch` (each batch touches only the shard
    * directories it lands in, the t15 partition-local append shape).
    * Within-shard POSITIONS are assigned at finalize time, when the
    * accumulated delivery is read back through the shared
    * [[CurationQueries.shardAppendOf]] kernel — realistic (a shard
    * writer fixes order when it seals the shard file) and what makes
    * the streamed result batching-invariant: shard/key assignment is
    * per-doc independent, so the union over any micro-batch split
    * equals the one-shot batch relation and t18 shares
    * `x_shard_incremental`'s DuckDB oracle verbatim. The exact-integer
    * digests pin exactly-once delivery: a lost or replayed batch
    * breaks `epoch_digest` before it breaks any count. */
  def t18StreamShardAppend(spark: SparkSession, dir: String): DataFrame = {
    // fresh feed + delivery + checkpoint per run
    val base = ScratchDirs.clear(ScratchDirs.of("stream", dir, "shard_append"))
    val feed = s"$base/feed"; val delivery = s"$base/delivery"; val ckpt = s"$base/checkpoint"
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    val delta = docs.filter(col("doc_id") % 2 === 1)
    delta.repartition(4).write.mode("overwrite").parquet(feed)
    val stream = StreamOps.fileFeed(spark, feed, delta, maxFilesPerTrigger = 1)
    drain(feed, ckpt, "t18_stream_shard_append") {
      ScratchDirs.clear(delivery)
      stream
        .select(col("doc_id"), CurationQueries.releaseShardId.as("shard_id"))
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
          publishBatch(batch.toDF(), bid, delivery, partitionCols = Seq("shard_id"))
        }
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
    }
    CurationQueries.shardAppendOf(
      docs.filter(col("doc_id") % 2 === 0),
      spark.read.parquet(delivery).select(col("doc_id")))
  }

  /** T19 — streaming RELEASE capstone: [[CurationQueries.e2eShardRelease]]'s
    * three stages (quality gate → keep-best dedup collapse → seeded
    * shard delivery) composed in ONE streaming query — the streaming
    * twin of the release job, proving the delivery path end-to-end
    * under micro-batching. The corpus arrives as a 4-file feed; each
    * micro-batch (1) drops sub-[[CurationQueries.ReleaseMinChars]]
    * docs in-stream, (2) anti-joins the RELEASE-CUT dedup index — the
    * static frame of cluster members that are not their cluster's
    * keeper, exactly how a production release pins its dedup decisions
    * to an index cut while documents keep streaming — and (3) assigns
    * shards by the seeded-md5 projection and appends partition-locally
    * (the t18 `foreachBatch` shape; a stream-static LEFT ANTI join
    * keeps no watermark state, so the stream stays stateless).
    * Finalize seals the shards: positions assigned over the
    * accumulated delivery in (k, doc_id) order. Every per-doc decision
    * is independent given the static index, so the streamed union over
    * any micro-batch split equals the one-shot batch relation and t19
    * shares `e2e_shard_release`'s DuckDB oracle VERBATIM; the
    * exact-integer `order_digest` pins exactly-once delivery across
    * the drain (see [[drain]]). */
  def t19StreamRelease(spark: SparkSession, dir: String): DataFrame = {
    // fresh feed + delivery + checkpoint per run
    val base = ScratchDirs.clear(ScratchDirs.of("stream", dir, "release"))
    val feed = s"$base/feed"; val delivery = s"$base/delivery"; val ckpt = s"$base/checkpoint"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    docs.repartition(4).write.mode("overwrite").parquet(feed)
    val stream = StreamOps.fileFeed(spark, feed, docs, maxFilesPerTrigger = 1)
    // release-cut dedup index (STATIC, shared with the batch capstone
    // via CurationQueries.releaseDropList): PERSISTED — stream-static
    // joins re-evaluate the static plan per micro-batch, and the drop
    // list's tail is a full keep-best pipeline (corpus quality scan +
    // labels join + cluster collapse) that must not run once per batch
    Materialize.scoped(CurationQueries.releaseDropList(spark, dir)) { dropped =>
      drain(feed, ckpt, "t19_stream_release") {
        ScratchDirs.clear(delivery)
        stream
          .filter(col("n_chars") >= CurationQueries.ReleaseMinChars)
          .join(dropped, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("n_chars"),
            CurationQueries.releaseShardId.as("shard_id"))
          .writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
            publishBatch(batch.toDF(), bid, delivery, partitionCols = Seq("shard_id"))
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      }
    }
    // seal the shards over the accumulated delivery with the SHARED
    // batch-capstone kernel — the two paths answer to one oracle, so
    // the seal must be structurally one function, not a copy
    CurationQueries.sealRelease(
      spark.read.parquet(delivery).select(col("doc_id"), col("n_chars")))
  }

  /** T20 — streaming exact-substring dedup against a stored gram
    * index: the streaming twin of
    * [[DedupQueries.dedupSubstringIncremental]] and the
    * text-granularity partner of t16 (t16 asks "is this doc an excerpt
    * of the corpus?" at the document level; t20 marks WHICH ≥K-token
    * spans of each arriving doc the corpus already contains). The
    * STORED side is exactly the artifact a production pipeline keeps
    * between epochs: the distinct 60-bit gram hashes of the even-id
    * index corpus — 8 bytes per distinct gram, built once, persisted
    * and cached across the drain's micro-batches. Each micro-batch of
    * raw delta docs (odd ids) computes its own gram occurrences from
    * text, semi-joins the index set, merges marked positions into
    * spans and appends the per-doc removal accounting via
    * `foreachBatch`. Index LIFECYCLE: over an endless feed this stored
    * gram set is kept bounded by the epoch merge+expire cycle of
    * [[t21IndexRetention]] / [[graft.ops.IndexRetention]] (entries
    * unseen for the retention horizon leave at the next republish);
    * the drain here probes one frozen version, as a reader would.
    * Every per-doc result is a pure function of
    * (doc, index) — [[DedupQueries.substringIncrementalOfDelta]] is
    * shared verbatim with the batch query — so the union over any
    * micro-batch split equals the one-shot relation and t20 shares
    * `dedup_substring_incremental`'s DuckDB oracle verbatim. */
  def t20StreamSubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    // fresh feed + out + checkpoint per run
    val base = ScratchDirs.clear(ScratchDirs.of("stream", dir, "substr_stream"))
    val feed = s"$base/feed"; val out = s"$base/out"; val ckpt = s"$base/checkpoint"
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val delta = docs.filter(col("doc_id") % 2 === 1)
    delta.repartition(4).write.mode("overwrite").parquet(feed)
    val stream = StreamOps.fileFeed(spark, feed, delta, maxFilesPerTrigger = 1)
    val index = DedupQueries.substrIndexGrams(docs.filter(col("doc_id") % 2 === 0))
    Materialize.scoped(index) { indexGrams =>
      drain(feed, ckpt, "t20_stream_substring_dedup") {
        ScratchDirs.clear(out)
        stream.writeStream
          .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
            publishBatch(
              DedupQueries.substringIncrementalOfDelta(batch.toDF(), indexGrams),
              bid, out)
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
      }
    }
    spark.read.parquet(out)
      .select(col("doc_id"), col("n_dup_spans"), col("dup_tokens"),
        col("total_tokens"), col("dup_frac"))
  }

  /** T21 — retention/compaction epochs for the persisted index
    * artifacts (the missing lifecycle piece behind t16/t20: their
    * stored gram/postings tables otherwise grow monotonically over an
    * endless feed). The corpus arrives in 4 ingest epochs
    * (epoch = doc_id % 4 — deterministic, standing in for the ingest
    * date partition); each epoch's distinct gram hashes merge into the
    * stored index through [[graft.ops.IndexRetention.mergeAndExpire]]
    * with a 2-epoch retention horizon, and every epoch REWRITES the
    * index as a new parquet version (the atomic-swap publish shape of
    * x_shard_merge) — so the run exercises the real rolling
    * merge→expire→republish cycle, not a closed-form shortcut. Output
    * is the final index's per-epoch census plus the total expired
    * count; the DuckDB oracle checks it against the closed form the
    * rolling recurrence provably equals (per-gram max epoch within the
    * retention window). Boundedness under a longer feed is pinned in
    * StreamOpsSpec. */
  def t21IndexRetention(spark: SparkSession, dir: String): DataFrame = {
    val epochs = IndexEpochs
    val keep = IndexRetentionKeep
    val base = ScratchDirs.clear(ScratchDirs.of("stream", dir, "gram_index_retention"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    var stored: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("h", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("last_seen_epoch", org.apache.spark.sql.types.LongType))))
    (0 until epochs).foreach { e =>
      val delta = DedupQueries
        .substrIndexGrams(docs.filter(pmod(col("doc_id"), lit(epochs)) === e))
        .withColumn("last_seen_epoch", lit(e.toLong))
      val merged = graft.ops.IndexRetention.mergeAndExpire(stored, delta, e, keep)
      val v = s"$base/v$e"
      merged.write.mode("overwrite").parquet(v) // versioned republish
      stored = spark.read.parquet(v)
    }
    // two 1-row scalars (bounded driver reads): final size + all-time
    // size. All-time grams = distinct h over the UNION OF THE COMMITTED
    // VERSIONS — every gram is present in (at least) the version of its
    // last-seen epoch, so this equals the full-corpus re-gram exactly
    // while reading 8-byte keys from the 4 version parquets instead of
    // re-scanning and re-hashing every document's text (r14
    // optimization: the re-gram pass was the query's largest single
    // job; at 100 TB the gap widens — version metadata vs corpus text)
    val allTime = (0 until epochs).map(e => spark.read.parquet(s"$base/v$e"))
      .reduce(_ unionByName _).select(col("h")).distinct().count()
    val expired = allTime - stored.count()
    stored.groupBy(col("last_seen_epoch"))
      .agg(count(lit(1)).as("n_grams"))
      .withColumn("n_expired", lit(expired))
      .orderBy(col("last_seen_epoch"))
  }

  /** Retention horizon (epochs) for [[t21IndexRetention]] /
    * [[t22PostingsRetention]] — mirrored into their oracles' closed
    * forms. */
  val IndexRetentionKeep = 2

  /** Ingest-epoch count for the retention queries (epoch = doc_id %
    * [[IndexEpochs]]) — ONE constant interpolated into both the Spark
    * loops and the DuckDB closed forms, so query and oracle cannot
    * desynchronize on the epoch modulus (r11 ADVICE: t21 carried it as
    * a local `val 4` plus hard-coded `% 4` literals in the oracle). */
  val IndexEpochs = 4

  /** T22 — the TWO-TABLE retention cycle for t16's containment index
    * (VERDICT r11 #3: t21 drives t20's single gram set; the container
    * postings have a coherence partner — the shingle→df table that
    * orders rarest-first prefixes — that must be REFRESHED from the
    * surviving postings at each republish, or prefix ordering drifts
    * ever further from the live index). The corpus arrives in
    * [[IndexEpochs]] ingest epochs (epoch = doc_id % [[IndexEpochs]]);
    * each epoch merges its docs' (id_b, shingle) postings through
    * [[graft.ops.IndexRetention.mergeAndExpire]] keyed by the FULL
    * posting (doc-granular expiry: a doc unseen for
    * [[IndexRetentionKeep]] epochs leaves the index with all its
    * postings), then REBUILDS df from the survivors and republishes
    * BOTH tables as a new parquet version — the atomic-swap pair a
    * production containment index actually stores. Output is one row
    * per epoch version: posting/df-entry counts plus the sum over that
    * version's docs of their rarest-first PREFIX df mass (prefix length
    * per [[graft.queries.DedupQueries.ContainmentThreshold]], the exact
    * quantity the candidate join fans out on) — computed from the
    * version's OWN df table, so a stale-df implementation (df built
    * once, never refreshed) hash-mismatches the closed form at every
    * epoch after the first expiry. Oracle: docs arrive exactly once, so
    * version e holds exactly the docs with epoch in (e-keep, e] and df
    * is the per-shingle doc count over those — the closed form the
    * rolling recurrence provably equals. At 100 TB both tables are
    * bucketed by shingle, the merge agg is exchange-free on the stored
    * side, and the df rebuild is one partial agg over the survivors. */
  def t22PostingsRetention(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.DedupQueries.ContainmentThreshold
    val keep = IndexRetentionKeep
    val base = ScratchDirs.clear(ScratchDirs.of("stream", dir, "postings_retention"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    var stored: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id_b", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("shingle", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("last_seen_epoch", org.apache.spark.sql.types.LongType))))
    val perEpoch = (0 until IndexEpochs).map { e =>
      val delta = graft.queries.DedupQueries
        .shingleDocs(docs.filter(pmod(col("doc_id"), lit(IndexEpochs)) === e))
        .select(col("doc_id").as("id_b"), explode(col("hs")).as("shingle"),
          lit(e.toLong).as("last_seen_epoch"))
      val merged = graft.ops.IndexRetention.mergeAndExpire(
        stored, delta, e, keep, keyCols = Seq("id_b", "shingle"))
      val v = s"$base/v$e"
      merged.write.mode("overwrite").parquet(s"$v/postings") // versioned republish...
      val postings = spark.read.parquet(s"$v/postings")
      val dfTbl = postings.groupBy(col("shingle")) // ...with df REBUILT from the survivors
        .agg(count(lit(1)).as("df"))
      dfTbl.write.mode("overwrite").parquet(s"$v/df")
      stored = postings
      // this version's census: prefix mass from the version's OWN df
      val dfRead = spark.read.parquet(s"$v/df")
      val perDoc = postings.join(dfRead, "shingle")
        .groupBy(col("id_b"))
        .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("ds"))
        .select(col("id_b"), size(col("ds")).as("sz"),
          transform(col("ds"), _.getField("df")).as("dfs"))
        .select(col("id_b"), col("sz"),
          aggregate(
            slice(col("dfs"), lit(1),
              (col("sz") - ceil(col("sz") * lit(ContainmentThreshold)).cast("int")) + 1),
            lit(0L), (a, x) => a + x).as("prefix_df_sum"))
      // n_postings folded into the perDoc pass: Σ_id_b sz IS the posting
      // count, so the separate full postings re-scan branch goes away
      // (r14 optimization: one less scan+agg branch per epoch)
      perDoc.agg(sum(col("prefix_df_sum")).as("prefix_df_total"),
          coalesce(sum(col("sz")), lit(0)).cast("long").as("n_postings"))
        .crossJoin(dfRead.agg(count(lit(1)).as("n_df_shingles")))
        .select(lit(e.toLong).as("epoch"), col("n_postings"),
          col("n_df_shingles"), col("prefix_df_total"))
    }
    perEpoch.reduce(_ unionByName _).orderBy(col("epoch"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "t22_postings_retention" -> (t22PostingsRetention _),
    "t21_index_retention" -> (t21IndexRetention _),
    "t20_stream_substring_dedup" -> (t20StreamSubstringDedup _),
    "t19_stream_release" -> (t19StreamRelease _),
    "t18_stream_shard_append" -> (t18StreamShardAppend _),
    "t17_stream_canonical_dedup" -> (t17StreamCanonicalDedup _),
    "t16_stream_containment" -> (t16StreamContainment _),
    "t15_stream_ivf_ingest" -> (t15StreamIvfIngest _),
    "t14_checkpoint_recovery" -> (t14CheckpointRecovery _),
    "t13_stream_frequent_items" -> (t13StreamFrequentItems _),
    "t12_warm_start_state" -> (t12WarmStartState _),
    "t11_transform_with_state" -> (t11TransformWithState _),
    "t8_stream_merge_upsert" -> (t8StreamMergeUpsert _),
    "t1_stream_tumbling" -> (t1StreamTumbling _),
    "t1_stream_tumbling_append" -> (t1StreamTumblingAppend _),
    "t9_stream_static_join" -> (t9StreamStaticJoin _),
    "t10_custom_source_stream" -> (t10CustomSourceStream _),
    "t6_stream_session_append"  -> (t6StreamSessionAppend _),
    "t2_stream_dedup"    -> (t2StreamDedup _),
    "t3_republish"       -> (t3Republish _),
    "t4_stream_stateful" -> (t4StreamStateful _),
    "t5_stream_stream_join" -> (t5StreamStreamJoin _),
    "t6_stream_session"  -> (t6StreamSession _),
    "t7_stream_lsh_dedup" -> (t7StreamLshDedup _),
  )

  val oracle: Map[String, String] = Map(
    // the rolling merge→expire recurrence provably equals the
    // closed-form "per-gram max epoch within the retention window":
    // an entry survives epoch e iff last_seen > e - keep, so after the
    // final epoch E the index holds exactly the grams seen in epochs
    // > E - keep, stamped with their max such epoch (re-arrivals
    // resurrect expired grams; survivors carry their refreshed stamp)
    "t21_index_retention" -> {
      val last = IndexEpochs - 1 - IndexRetentionKeep // oldest retained epoch - 1
      s"${DedupQueries.substrOccCtes}, " +
      "gall AS (SELECT DISTINCT gram FROM occ), " +
      s"gr AS (SELECT gram, max(doc_id % $IndexEpochs) AS last_seen_epoch FROM occ " +
      s"WHERE doc_id % $IndexEpochs > $last GROUP BY gram) " +
      "SELECT last_seen_epoch, count(*) AS n_grams, " +
      "(SELECT count(*) FROM gall) - (SELECT count(*) FROM gr) AS n_expired " +
      "FROM gr GROUP BY 1 ORDER BY 1"
    },
    // docs arrive exactly once (epoch = doc_id % IndexEpochs), so
    // version e holds exactly the docs with epoch in (e-keep, e]; df is
    // the per-shingle doc count over THOSE docs, and the prefix mass is
    // the rarest-first (df, shingle) order under the live df — the
    // closed form the rolling merge→expire→rebuild-df recurrence equals
    "t22_postings_retention" -> {
      import graft.queries.DedupQueries.ContainmentThreshold
      DedupQueries.hashedShingleCte +
      s", ep AS (SELECT unnest(generate_series(0, ${IndexEpochs - 1})) AS epoch)" +
      s", surv AS (SELECT e.epoch, s.doc_id, s.hs FROM ep e JOIN sh s " +
      s"ON s.doc_id % $IndexEpochs <= e.epoch " +
      s"AND s.doc_id % $IndexEpochs > e.epoch - $IndexRetentionKeep)" +
      ", occ2 AS (SELECT epoch, doc_id, unnest(hs) AS shingle, len(hs) AS sz FROM surv)" +
      ", dfq AS (SELECT epoch, shingle, count(*) AS df FROM occ2 GROUP BY epoch, shingle)" +
      ", rk AS (SELECT o.epoch, o.doc_id, o.sz, d.df, " +
      "row_number() OVER (PARTITION BY o.epoch, o.doc_id ORDER BY d.df, o.shingle) AS rn " +
      "FROM occ2 o JOIN dfq d ON o.epoch = d.epoch AND o.shingle = d.shingle)" +
      ", pd AS (SELECT epoch, doc_id, sum(CASE WHEN " +
      s"rn <= sz - CAST(ceil(sz * $ContainmentThreshold) AS INT) + 1 " +
      "THEN df ELSE 0 END) AS pdsum FROM rk GROUP BY epoch, doc_id)" +
      ", np AS (SELECT epoch, count(*) AS n_postings FROM occ2 GROUP BY epoch)" +
      ", nd AS (SELECT epoch, count(*) AS n_df_shingles FROM dfq GROUP BY epoch)" +
      ", pdt AS (SELECT epoch, CAST(sum(pdsum) AS BIGINT) AS prefix_df_total " +
      "FROM pd GROUP BY epoch) " +
      "SELECT epoch, n_postings, n_df_shingles, prefix_df_total " +
      "FROM np JOIN nd USING (epoch) JOIN pdt USING (epoch) ORDER BY epoch"
    },
    // per-doc marks are a pure function of (doc, stored gram index), so
    // the streamed union shares the batch incremental replay verbatim
    "t20_stream_substring_dedup" -> DedupQueries.oracle("dedup_substring_incremental"),
    // every per-doc release decision is independent given the static
    // release-cut index, so the streamed capstone shares the batch
    // capstone's replay verbatim
    "t19_stream_release" -> CurationQueries.oracle("e2e_shard_release"),
    // shard/key assignment is per-doc independent, so the streamed
    // delivery shares the batch append replay verbatim
    "t18_stream_shard_append" -> CurationQueries.oracle("x_shard_incremental"),
    // batching-invariant by per-delta-doc independence, so the streamed
    // union shares the batch incremental-containment replay verbatim
    "t17_stream_canonical_dedup" -> ChemQueries.oracle("d2_smiles_canonical"),
    "t16_stream_containment" -> DedupQueries.oracle("dedup_containment_incremental"),
    // the frozen-quantizer assignment replayed batch-wise in SQL (the
    // ivf_append CTEs); integer sums make exactly-once checkable exactly
    "t15_stream_ivf_ingest" -> SimilarityQueries.ivfIngestCountsSql,
    // counter budget exceeds the key cardinality, so the streamed MG
    // summary is exact regardless of microbatch merge order
    "t13_stream_frequent_items" ->
      "SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type",
    // batching-independent by construction (monotone fields + final
    // max), so the replay is the direct per-user aggregate
    "t11_transform_with_state" ->
      ("SELECT user_id, count(*) AS n_events, " +
       "count(DISTINCT event_type) AS n_types, " +
       "round(max(value), 6) AS max_value FROM events GROUP BY user_id"),
    // the restart must land on the single-run relation exactly: lost
    // state undercounts, replayed offsets overcount — either fails here
    "t14_checkpoint_recovery" ->
      ("SELECT user_id, count(*) AS n_events, " +
       "count(DISTINCT event_type) AS n_types, " +
       "round(max(value), 6) AS max_value FROM events GROUP BY user_id"),
    // warm start replayed in closed form: streamed count on top of the
    // bootstrap offset; running max floored at the bootstrap value
    "t12_warm_start_state" ->
      ("SELECT user_id, count(*) + 1000 * (user_id % 3) + user_id AS n_events, " +
       "round(greatest(max(value), CAST(user_id % 7 AS DOUBLE)), 6) AS max_value " +
       "FROM events GROUP BY user_id"),
    // the materialized upsert table must equal the batch "latest state
    // per key": counts add across batches, (ts, event_id) argmax is
    // associative, so the replay ignores batching entirely
    "t8_stream_merge_upsert" ->
      ("WITH lastrow AS (SELECT user_id, ts, event_id, event_type, " +
       "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn FROM events), " +
       "cnt AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) " +
       "SELECT c.user_id, c.n_events, l.ts AS last_ts, l.event_id AS last_event_id, " +
       "l.event_type AS last_type FROM cnt c JOIN lastrow l USING (user_id) WHERE l.rn = 1"),
    "t1_stream_tumbling" ->
      ("SELECT date_trunc('hour', ts) AS window_start, event_type, " +
       "count(*) AS n_events, round(sum(value), 6) AS sum_value FROM events " +
       "GROUP BY window_start, event_type"),
    // append-mode twins: the batch relation restricted to windows /
    // sessions CLOSED by the final watermark. Spark tracks event-time
    // stats in MILLISECONDS, so the watermark is (max ts floored to ms)
    // − 1 h — the floor is replicated exactly via epoch_us // 1000.
    "t10_custom_source_stream" ->
      ("SELECT substr(value, 1, 1) AS letter, count(*) AS n_terms, " +
       "max(length(value))::BIGINT AS max_len " +
       "FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS value FROM documents) " +
       "WHERE value <> '' GROUP BY letter"),
    "t9_stream_static_join" ->
      ("WITH dim(event_type, category, weight) AS (VALUES " +
       "('click', 'engagement', 1.0), ('view', 'engagement', 0.5), " +
       "('purchase', 'revenue', 5.0), ('signup', 'acquisition', 3.0), " +
       "('error', 'ops', 0.0)), " +
       "w AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 3600000000 AS wm_us FROM events) " +
       "SELECT date_trunc('hour', e.ts) AS window_start, d.category, " +
       "count(*) AS n_events, round(sum(e.value * d.weight::DOUBLE), 6) AS wsum " +
       "FROM events e JOIN dim d USING (event_type), w " +
       "GROUP BY window_start, d.category, wm_us " +
       "HAVING epoch_us(window_start + INTERVAL 1 HOUR) <= wm_us"),
    "t1_stream_tumbling_append" ->
      ("WITH w AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 3600000000 AS wm_us FROM events) " +
       "SELECT date_trunc('hour', ts) AS window_start, event_type, " +
       "count(*) AS n_events, round(sum(value), 6) AS sum_value FROM events, w " +
       "GROUP BY window_start, event_type, wm_us " +
       "HAVING epoch_us(window_start + INTERVAL 1 HOUR) <= wm_us"),
    "t6_stream_session_append" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER w IS NULL " +
       "OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
       "grp AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id " +
       "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM flagged), " +
       "wm AS (SELECT (epoch_us(max(ts)) // 1000) * 1000 - 3600000000 AS wm_us FROM events) " +
       "SELECT session_start, user_id, n_events FROM (" +
       "SELECT min(ts) AS session_start, user_id, count(*) AS n_events, " +
       "epoch_us(max(ts) + INTERVAL 30 MINUTE) AS end_us " +
       "FROM grp GROUP BY user_id, sid), wm WHERE end_us <= wm_us"),
    // the streaming LSH path drains to the SAME relation as the batch
    // pipeline (identical banding + exact verify), so it shares the
    // full minhash replay oracle
    "t7_stream_lsh_dedup" -> graft.queries.DedupQueries.minhashLshSql,
    "t2_stream_dedup" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "t3_republish" ->
      ("SELECT event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value " +
       "FROM events WHERE ts::DATE = (SELECT max(ts::DATE) FROM events) " +
       "GROUP BY event_type"),
    "t4_stream_stateful" ->
      ("WITH ranked AS (SELECT user_id, event_id, event_type, " +
       "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
       "FROM events), counts AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id) " +
       "SELECT c.user_id, c.n_events, r.event_id AS last_event_id, r.event_type AS last_type " +
       "FROM counts c JOIN ranked r ON c.user_id = r.user_id AND r.rn = 1"),
    "t5_stream_stream_join" ->
      ("SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id " +
       "FROM events c JOIN events p ON c.user_id = p.user_id " +
       "AND c.event_type = 'click' AND p.event_type = 'purchase' " +
       "AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"),
    "t6_stream_session" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER w IS NULL " +
       "OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS new_s " +
       "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
       "grp AS (SELECT user_id, ts, sum(new_s) OVER (PARTITION BY user_id " +
       "ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM flagged) " +
       "SELECT min(ts) AS session_start, user_id, count(*) AS n_events " +
       "FROM grp GROUP BY user_id, sid"),
  )
}
