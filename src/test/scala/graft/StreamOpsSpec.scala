package graft

import java.nio.file.Files
import java.sql.Timestamp
import graft.streaming.StreamOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double, event_id: Long)

/** Structured-Streaming behavior of the incremental layer — driven with
  * MemoryStream (deterministic batches, no timers). */
class StreamOpsSpec extends SparkSpecBase {

  private def t(minute: Int): Timestamp = Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  test("T1 file feed: incremental parquet ingestion reaches batch parity") {
    val src = Files.createTempDirectory("feed").toString
    val out = s"stream_feed_${System.nanoTime()}"
    val events = Tables.events(spark, sfDir)
    events.limit(100).write.parquet(s"$src/drop1")
    // two "updatefiles" land later, as in the reference's daily feed
    events.limit(150).write.mode("append").parquet(s"$src/drop2")
    val q = StreamOps.fileFeed(spark, s"$src/*", events, maxFilesPerTrigger = 2)
      .groupBy().agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName(out)
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val n = spark.table(out).collect().head.getLong(0)
    assert(n == 250, s"streamed $n of 250 rows")
  }

  test("T2 watermarked dedup drops re-delivered keys across batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = s"stream_dedup_${System.nanoTime()}"
    val q = StreamOps.dedupByKey(mem.toDF(), "event_id", "ts", "1 hour")
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    mem.addData(Ev(t(0), 1, "click", 1.0, 100), Ev(t(1), 1, "click", 1.0, 101))
    q.processAllAvailable()
    // re-delivery of 101 plus a fresh 102
    mem.addData(Ev(t(2), 1, "click", 1.0, 101), Ev(t(3), 1, "view", 2.0, 102))
    q.processAllAvailable()
    val ids = spark.table(out).select("event_id").collect().map(_.getLong(0)).sorted
    q.stop()
    assert(ids.toSeq == Seq(100L, 101L, 102L), s"got ${ids.toSeq}")
  }

  test("tumbling window agg emits finalized windows once the watermark passes") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = s"stream_tumble_${System.nanoTime()}"
    val q = StreamOps.tumblingCounts(mem.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    mem.addData(Ev(t(1), 1, "click", 1.0, 1), Ev(t(4), 2, "click", 1.0, 2))
    q.processAllAvailable()
    // advance event time far enough to close the 10:00 window
    mem.addData(Ev(t(31), 1, "click", 1.0, 3))
    q.processAllAvailable()
    val rows = spark.table(out)
      .select(col("window_start").cast("string"), col("event_type"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    q.stop()
    assert(rows.contains(("2024-01-01 10:00:00", "click", 2L)), rows.mkString(";"))
  }

  test("session windows merge events within the gap, split across it") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = s"stream_sess_${System.nanoTime()}"
    val q = StreamOps.sessionCounts(mem.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    // user 7: events at 10:00,10:05 (one session), then 10:30 (new session)
    mem.addData(Ev(t(0), 7, "click", 1.0, 1), Ev(t(5), 7, "click", 1.0, 2),
      Ev(t(30), 7, "click", 1.0, 3))
    q.processAllAvailable()
    mem.addData(Ev(t(59), 7, "click", 1.0, 4)) // push watermark past both
    q.processAllAvailable()
    val sessions = spark.table(out)
      .select(col("session_start").cast("string"), col("n_events"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    q.stop()
    assert(sessions.contains(("2024-01-01 10:00:00", 2L)), sessions.toString)
    assert(sessions.contains(("2024-01-01 10:30:00", 1L)), sessions.toString)
  }

  test("streaming LSH dedup over TWO file drops equals the batch relation") {
    import java.nio.file.{Files => JFiles, Paths}
    // stage the corpus as two separate arrivals: cross-half pairs can
    // only surface in batch 2, from bucket STATE carried across batches
    val feed = JFiles.createTempDirectory("lsh_feed")
    val docs = Tables.documents(spark, sfDir)
    Seq(0, 1).foreach { half =>
      val tmp = JFiles.createTempDirectory(s"lsh_half$half")
      docs.filter(col("doc_id") % 2 === half)
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      JFiles.move(part.toPath, Paths.get(feed.toString, s"drop_$half.parquet"))
    }
    val stream = StreamOps.fileFeed(spark, feed.toString, docs, maxFilesPerTrigger = 1)
    val q = StreamOps.lshCandidatePairs(spark,
        graft.queries.DedupQueries.streamBandedDocs(stream)
          .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp")))
      .toDF("id_a", "id_b")
      .writeStream.format("memory").queryName("lsh_two_drops")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = graft.queries.DedupQueries
      .verifyPairs(spark, sfDir, spark.table("lsh_two_drops"))
    val batch = graft.queries.DedupQueries.dedupMinhashLsh(spark, sfDir)
    assert(streamed.count() > 0, "no pairs drained")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "two-drop streaming LSH diverges from the batch relation")
  }

  test("LSH bucket state honors the TTL retention contract: idle buckets evict, state row count drops") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(day: Int): Timestamp = Timestamp.valueOf(f"2024-01-0$day 00:00:00")
    val mem = MemoryStream[(Long, Long, Timestamp)]
    val out = s"lsh_ttl_${System.nanoTime()}"
    val q = StreamOps.lshCandidatePairs(spark,
        mem.toDF().toDF("band_val", "doc_id", "ts"), ttl = "1 day")
      .toDF("id_a", "id_b")
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    // batch 1, day 1: bucket 100 sees docs 1,2 -> pair (1,2)
    mem.addData((100L, 1L, ts(1)), (100L, 2L, ts(1)))
    q.processAllAvailable()
    // batch 2, day 4: activity only in bucket 200; the watermark
    // advances to day 3, past bucket 100's (day 1 + 1 day) timeout
    mem.addData((200L, 7L, ts(4)))
    q.processAllAvailable()
    // batch 3 lets the timeout FIRE (timeouts run when a later batch
    // executes with the advanced watermark), evicting bucket 100
    mem.addData((200L, 8L, ts(4)))
    q.processAllAvailable()
    val stateRows = q.lastProgress.stateOperators(0).numRowsTotal
    // batch 4, day 4: doc 3 lands in the EVICTED bucket 100 — the
    // day-1 ids are beyond the dedup horizon, so no (1,3)/(2,3) pair
    mem.addData((100L, 3L, ts(4)))
    q.processAllAvailable()
    val pairs = spark.table(out).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(pairs.contains((1L, 2L)), s"within-horizon pair lost: $pairs")
    assert(pairs == Set((1L, 2L), (7L, 8L)),
      s"pairs across an evicted bucket must not surface: $pairs")
    assert(stateRows == 1L,
      s"idle bucket should have evicted (expected 1 live state row, got $stateRows)")
  }

  test("LSH bucket TTL re-arms from the LIFETIME max event time: an out-of-order batch cannot shrink the horizon") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    def ts(day: Int, hour: Int = 0): Timestamp =
      Timestamp.valueOf(f"2024-01-0$day $hour%02d:00:00")
    val mem = MemoryStream[(Long, Long, Timestamp)]
    val out = s"lsh_ooo_${System.nanoTime()}"
    val q = StreamOps.lshCandidatePairs(spark,
        mem.toDF().toDF("band_val", "doc_id", "ts"), ttl = "2 days")
      .toDF("id_a", "id_b")
      .writeStream.format("memory").queryName(out).outputMode("append").start()
    // batch 1: bucket 100 newest doc at day 5 -> horizon = day 5 + 2d = day 7
    mem.addData((100L, 1L, ts(5)))
    q.processAllAvailable()
    // batch 2: OUT-OF-ORDER row (day 4 — older than the bucket's newest,
    // still above the day-3 watermark that the 2-day delay admits).
    // A current-batch-max re-arm would move the timeout BACK to day 6.
    mem.addData((100L, 2L, ts(4)))
    q.processAllAvailable()
    // batch 3+4: advance the watermark to day 6 12:00 — past the bogus
    // day-6 timeout, short of the contractual day-7 one — then let
    // timeouts fire (they run on the batch AFTER the watermark moves)
    mem.addData((200L, 7L, ts(8, 12)))
    q.processAllAvailable()
    mem.addData((200L, 8L, ts(8, 12)))
    q.processAllAvailable()
    // batch 5: doc 3 joins bucket 100, inside the documented horizon —
    // the within-horizon pairs (1,3)/(2,3) must surface
    mem.addData((100L, 3L, ts(8, 12)))
    q.processAllAvailable()
    val pairs = spark.table(out).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(pairs == Set((1L, 2L), (7L, 8L), (1L, 3L), (2L, 3L)),
      s"out-of-order batch shrank the eviction horizon: $pairs")
  }

  test("index retention: merge+expire keeps the stored index bounded across a multi-epoch feed") {
    import spark.implicits._
    val keep = 2
    // gram 1 is refreshed EVERY epoch; gram 100+e is unique to epoch e —
    // the shape of an endless feed with a hot core and a churning tail
    var stored = Seq.empty[(Long, Long)].toDF("h", "last_seen_epoch")
    (0 until 6).foreach { e =>
      val delta = Seq((1L, e.toLong), ((100 + e).toLong, e.toLong)).toDF("h", "last_seen_epoch")
      val rows = graft.ops.IndexRetention.mergeAndExpire(stored, delta, e, keep)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      // BOUNDED: at most (live grams of the last `keep` epochs) survive —
      // never the monotone all-epochs union the t16/t20 artifacts had
      assert(rows.length <= 2 * keep,
        s"epoch $e: stored index grew past the retention window: ${rows.toSeq}")
      stored = rows.toSeq.toDF("h", "last_seen_epoch")
    }
    val fin = stored.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the refreshed gram survives with its LATEST stamp; epoch-unique
    // grams older than the horizon are gone
    assert(fin == Set((1L, 5L), (105L, 5L), (104L, 4L)),
      s"retention window content wrong: $fin")
  }

  test("postings retention (t22 kernel): doc-granular expiry keeps postings bounded; df over survivors tracks the live index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val keep = 2
    // doc 1 re-arrives EVERY epoch (hot core, alternating one shingle);
    // doc 100+e is unique to its epoch (churning tail); shingle 7 is
    // shared by everyone — the df staleness probe
    var stored = Seq.empty[(Long, Long, Long)].toDF("id_b", "shingle", "last_seen_epoch")
    (0 until 6).foreach { e =>
      val delta = Seq(
        (1L, 7L, e.toLong), (1L, 10L + (e % 2).toLong, e.toLong),
        (100L + e.toLong, 7L, e.toLong), (100L + e.toLong, 1000L + e.toLong, e.toLong))
        .toDF("id_b", "shingle", "last_seen_epoch")
      stored = graft.ops.IndexRetention.mergeAndExpire(stored, delta, e, keep,
        keyCols = Seq("id_b", "shingle")).localCheckpoint()
      // BOUNDED: the hot doc's live postings (≤3) + the last `keep`
      // epochs' tail docs (2 postings each) — never the all-epochs union
      assert(stored.count() <= 3 + 2 * keep,
        s"epoch $e: postings grew past the retention window")
    }
    // df REBUILT from survivors counts live docs only: doc 1 + the two
    // in-window tail docs; the stale all-time count would be 7
    val df7 = stored.filter(col("shingle") === 7).count()
    assert(df7 == 1 + keep,
      s"df(shared shingle) over survivors must be live docs only, got $df7")
    // doc-granular expiry: an expired doc leaves with ALL its postings
    assert(stored.filter(col("id_b") === 100L).count() == 0,
      "epoch-0 tail doc should have expired whole")
  }

  test("T8 upsert materialization equals the batch latest-state table") {
    import org.apache.spark.sql.functions._
    val got = graft.queries.StreamingQueries.t8StreamMergeUpsert(spark, sfDir)
    // the feed really was multi-file → the merge ran across >1 microbatch
    val tag = sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val feedFiles = new java.io.File(graft.ScratchDirs.dir("stream", tag, "upsert_feed"))
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(feedFiles >= 4, s"feed should be sharded, got $feedFiles files")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val batch = Tables.events(spark, sfDir)
      .withColumn("rn", row_number().over(w))
      .withColumn("n_events", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("n_events"), col("ts").as("last_ts"),
        col("event_id").as("last_event_id"), col("event_type").as("last_type"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "incremental upsert state diverges from batch latest-state")
  }

  test("T3 republish is idempotent per date partition") {
    val out = Files.createTempDirectory("repub").toString
    val df = Tables.events(spark, sfDir).limit(10)
    StreamOps.republish(df, out, "2026-08-12")
    StreamOps.republish(df, out, "2026-08-12") // re-run same day
    assert(spark.read.parquet(s"$out/date=2026-08-12").count() == 10)
  }

  /** [[graft.queries.StreamingQueries.drain]] a 4-file feed of ids
    * 0..39 into a fresh memory sink. An attempt `n` with `short(n)`
    * reads only part-00000: the partial snapshot the drain guards
    * against. Returns the attempts made and the sink's sorted ids. */
  private def drainFourFiles(short: Int => Boolean): (Int, scala.util.Try[Seq[Long]]) = {
    val feed = Files.createTempDirectory("drain_feed").toString
    spark.range(40).repartition(4).write.mode("overwrite").parquet(feed)
    val ckpt = Files.createTempDirectory("drain_ckpt").toString
    val out = s"stream_drain_${System.nanoTime()}"
    val schemaFrom = spark.read.parquet(feed)
    var attempts = 0
    val ids = scala.util.Try {
      graft.queries.StreamingQueries.drain(feed, ckpt, out) {
        attempts += 1
        val src = if (short(attempts)) s"$feed/part-00000-*" else feed
        StreamOps.fileFeed(spark, src, schemaFrom, maxFilesPerTrigger = 1)
          .writeStream.format("memory").queryName(out).outputMode("append")
          .option("checkpointLocation", ckpt).trigger(Trigger.AvailableNow()).start()
      }
      spark.table(out).collect().map(_.getLong(0)).sorted.toSeq
    }
    (attempts, ids)
  }

  test("drain: a short first attempt reruns from an empty checkpoint, each row once") {
    val (attempts, ids) = drainFourFiles(_ == 1)
    assert(attempts == 2, s"expected one retry, got $attempts attempts")
    assert(ids.get == (0L until 40L), s"sink holds ${ids.get}")
  }

  test("drain: a feed that never drains fully fails after 3 attempts, naming a missing file") {
    val (attempts, ids) = drainFourFiles(_ => true)
    assert(attempts == 3, s"expected 3 attempts, got $attempts")
    val err = ids.failed.get
    assert(err.isInstanceOf[IllegalArgumentException] &&
      err.getMessage.contains("after 3 of 3 attempts") &&
      err.getMessage.contains("part-00001-"), err.toString)
  }
}
