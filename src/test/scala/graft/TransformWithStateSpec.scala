package graft

import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** T11 `transformWithState`: the typed-state processor against the
  * RocksDB store, with an explicit cross-microbatch proof — a key that
  * appears in BOTH staged files must emit once per batch with a
  * growing monotone counter, which is only possible if ValueState/
  * MapState persisted between batches. */
class TransformWithStateSpec extends SparkSpecBase {
  import spark.implicits._

  test("typed state persists across microbatches (RocksDB store)") {
    val dir = java.nio.file.Files.createTempDirectory("tws").toString
    val batch1 = Seq((1L, "click", 1.0), (1L, "view", 2.0), (2L, "click", 5.0))
      .toDF("user_id", "event_type", "value")
    val batch2 = Seq((1L, "click", 9.0), (2L, "purchase", 4.0))
      .toDF("user_id", "event_type", "value")
    batch1.coalesce(1).write.parquet(s"$dir/f1")
    // distinct dirs read as one feed; maxFilesPerTrigger=1 → 2 batches
    batch2.coalesce(1).write.parquet(s"$dir/f2")
    val feedDir = java.nio.file.Files.createTempDirectory("tws_feed")
    def stage(sub: String, n: String): Unit = {
      val f = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(f.toPath, feedDir.resolve(n))
    }
    stage("f1", "a.parquet"); stage("f2", "b.parquet")
    StreamOps.withRocksDBStateStore(spark) {
      val stream = StreamOps.fileFeed(spark, feedDir.toString, batch1, maxFilesPerTrigger = 1)
      val q = StreamOps.userProfiles(spark, stream).toDF()
        .writeStream.format("memory").queryName("tws_spec")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val rows = spark.table("tws_spec").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // user 1 in both files → one emission per batch, counter grew: the
    // second emission can only know about the first batch via state
    val u1 = rows.filter(_._1 == 1L).sortBy(_._2)
    assert(u1.length == 2, s"expected 2 emissions for user 1, got: ${u1.toSeq}")
    // strictly growing counter ending at the 3-event total: the second
    // batch's emission can only reach 3 by reading persisted state
    // (file arrival order is not pinned, so only monotonicity and the
    // final state are asserted)
    assert(u1.map(_._2).toSeq.sliding(2).forall(p => p(0) < p(1)), u1.toSeq.toString)
    assert(u1.last._2 == 3L, u1.toSeq.toString)
    // MapState distinct-type set also crossed the batch boundary
    assert(u1.last._3 == 2L, s"user 1 saw 2 distinct types: ${u1.toSeq}")
    assert(u1.last._4 == 9.0)
    val u2 = rows.filter(_._1 == 2L).sortBy(_._2)
    assert(u2.map(t => (t._2, t._3)).toSeq == Seq((1L, 1L), (2L, 2L)), u2.toSeq.toString)
  }

  test("initial state seeds the processor before the first input row") {
    val feedDir = java.nio.file.Files.createTempDirectory("warm_feed")
    Seq((1L, "click", 3.0), (1L, "view", 7.0), (9L, "click", 2.0))
      .toDF("user_id", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(feedDir.toString + "/b")
    val schemaFrom = spark.read.parquet(feedDir.toString + "/b")
    // user 1 warm-starts at 100 events / max 50; user 9 has NO bootstrap
    val initial = Seq((1L, 100L, 50.0)).toDF("user_id", "n_events", "max_value")
    StreamOps.withRocksDBStateStore(spark) {
      val stream = StreamOps.fileFeed(spark, feedDir.toString + "/b", schemaFrom)
      val q = StreamOps.warmStartTotals(spark, stream, initial).toDF()
        .writeStream.format("memory").queryName("warm_spec")
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    val byUser = spark.table("warm_spec").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(byUser(1L) == ((102L, 50.0)), s"warm state must pre-seed: $byUser")
    assert(byUser(9L) == ((1L, 2.0)), s"cold key starts from zero: $byUser")
  }

  test("t13: the MG aggregate streamed across microbatches equals exact batch counts") {
    val got = graft.queries.StreamingQueries.t13StreamFrequentItems(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // counter budget (16) > |event types| => streamed summary is exact,
    // proving the buffer serialized/merged through the state store
    // without loss across the 4-file round-robin drain
    assert(got == want, s"streamed MG diverges from batch: $got vs $want")
  }

  test("t14: state and offsets survive a restart from the checkpoint") {
    val got = graft.queries.StreamingQueries.t14CheckpointRecovery(spark, sfDir)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("event_type")).as("t"),
        round(max(col("value")), 6).as("m"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // equality across the restart is the whole proof: lost RocksDB state
    // undercounts (session 2 restarts keys from zero), lost file-source
    // offsets overcount (session 1's files replayed into restored state)
    assert(got.toSeq == want.toSeq)
    // and the two sessions genuinely split the work: session 1's sink
    // alone must NOT reach the final count for every key (it saw only
    // half the feed), i.e. session 2 contributed the rest from state
    val p1 = graft.ScratchDirs.of("stream", sfDir, "ckpt_recovery", "out_p1")
    val p1Max = spark.read.parquet(p1)
      .groupBy(col("user_id")).agg(max(col("n_events")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val finalN = got.map(t => t._1 -> t._2).toMap
    assert(p1Max.exists { case (u, n) => n < finalN(u) },
      "session 1 already held every final count — the restart proved nothing")
  }

  test("t11 query equals the direct batch aggregate") {
    val got = graft.queries.StreamingQueries.t11TransformWithState(spark, sfDir)
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = Tables.events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("event_type")).as("t"),
        round(max(col("value")), 6).as("m"))
      .orderBy("user_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == want.toSeq)
  }
}
