package graft

import org.apache.spark.sql.functions._
import graft.queries.{ScaleQueries, StreamingQueries}

/** Bloom-pruned semi-join + stream-stream interval join: value parity
  * with the un-pruned / batch forms, and the plan shape that makes the
  * bloom variant a scale win (the probe sits fact-side, before the
  * shuffle). */
class ScaleStreamSpec extends SparkSpecBase {

  test("bloom_semi_join equals the exact semi-join and probes fact-side") {
    val df = ScaleQueries.bloomSemiJoin(spark, sfDir)
    // the bloom probe must appear in the plan (scan-side pruning), built
    // from ONE dim-side aggregate shipped as a scalar subquery
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"), s"bloom probe missing from plan:\n$plan")
    val exact = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir).filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
    assert(df.exceptAll(exact).isEmpty && exact.exceptAll(df).isEmpty,
      "bloom-pruned result diverges from exact semi-join")
  }

  test("t19 streaming release equals the batch capstone (batching invariance)") {
    // quality gate + keep-best collapse + seeded delivery under
    // micro-batching must reproduce e2e_shard_release EXACTLY — same
    // shards, counts, char totals, and permutation digests
    val streamed = StreamingQueries.t19StreamRelease(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val batch = graft.queries.CurationQueries.e2eShardRelease(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch,
      s"streamed release diverged from the batch capstone:\n$streamed\nvs\n$batch")
  }

  test("k_compaction collapses the file count and preserves content") {
    val df = ScaleQueries.kCompaction(spark, sfDir)
    val rows = df.collect()
    assert(rows.nonEmpty)
    def parquets(p: String) =
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
    val nIn = parquets(graft.ScratchDirs.of("compact_in", sfDir))
    val nOut = parquets(graft.ScratchDirs.of("compact_out", sfDir))
    assert(nIn == 64, s"fragmented landing should have 64 shards, got $nIn")
    assert(nOut * 8 <= nIn, s"compaction too weak: $nIn -> $nOut files")
    // content equality against the canonical table
    val direct = Tables.events(spark, sfDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
    assert(df.exceptAll(direct).isEmpty && direct.exceptAll(df).isEmpty)
  }

  test("k_partitioned_prune prunes partitions at planning time") {
    val df = ScaleQueries.partitionedPrune(spark, sfDir)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)].*", "$1").nonEmpty,
      s"scan has no partition filters:\n$scan")
    // the date filter must NOT appear as a post-scan data filter —
    // pruning happens before IO, not per-row
    assert(!scan.contains("PushedFilters: [IsNotNull(event_date)"),
      "event_date leaked into data filters instead of partition pruning")
  }

  test("k_dpp_join prunes fact partitions dynamically from the dim filter") {
    val df = ScaleQueries.dppJoin(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // the fact scan must carry a runtime partition filter fed by the
    // broadcast dim — that's the whole point of the operator
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic pruning in the fact scan:\n$plan")
    val direct = Tables.events(spark, sfDir)
      .withColumn("event_date", to_date(col("ts")))
      .filter(col("event_date") >= date_sub(
        lit(Tables.events(spark, sfDir).agg(max(to_date(col("ts")))).collect()(0).getDate(0)), 1))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
    assert(df.exceptAll(direct).isEmpty && direct.exceptAll(df).isEmpty,
      "DPP join diverges from the direct date-filtered aggregate")
  }

  test("salted_skew_join matches the direct join and takes the shuffle path") {
    val salted = ScaleQueries.saltedSkewJoin(spark, sfDir)
    // the salt must not silently degrade to a broadcast join — the whole
    // point is spreading a hot key across shuffle reducers
    val plan = salted.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
      s"salted join fell back to broadcast:\n$plan")
    val direct = Tables.lineitem(spark, sfDir)
      .join(Tables.orders(spark, sfDir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
    assert(salted.exceptAll(direct).isEmpty && direct.exceptAll(salted).isEmpty,
      "salted join diverges from direct join")
  }

  test("z-order layout prunes files on the SECOND dimension where linear cannot") {
    val zdir = ScaleQueries.writeZorder(spark, sfDir)
    // linear comparison layout: same file count, clustered by orderkey only
    val ldir = graft.ScratchDirs.of("zorder_linear", sfDir)
    Tables.lineitem(spark, sfDir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_returnflag"), col("l_quantity"))
      .repartitionByRange(16, col("l_orderkey"))
      .sortWithinPartitions(col("l_orderkey"))
      .write.mode("overwrite").parquet(ldir)
    val maxPk = Tables.lineitem(spark, sfDir)
      .agg(max(col("l_partkey"))).collect()(0).getLong(0)
    val (lo, hi) = (maxPk / 8, maxPk / 4) // a partkey-ONLY predicate
    // per-file min/max of l_partkey — the stats a parquet footer carries;
    // a file can be skipped iff its range misses the predicate
    def overlapping(dir: String): (Int, Int) = {
      val files = new java.io.File(dir).listFiles()
        .filter(f => f.getName.endsWith(".parquet") && f.length > 0)
      val hit = files.count { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min(col("l_partkey")), max(col("l_partkey"))).collect()(0)
        r.getLong(0) <= hi && r.getLong(1) >= lo
      }
      (hit, files.length)
    }
    val (linHit, linTotal) = overlapping(ldir)
    val (zHit, zTotal) = overlapping(zdir)
    // linear-by-orderkey files each span ~the full partkey domain: zero
    // skipping power on the second dimension
    assert(linHit == linTotal, s"linear layout unexpectedly pruned: $linHit/$linTotal")
    // z-order confines the predicate to the curve band that crosses it
    assert(zHit * 2 <= zTotal,
      s"z-order should prune >=half the files on a partkey predicate: $zHit/$zTotal")
  }

  test("inc_partial_rollup merges partials to the same totals as raw facts") {
    val rolled = ScaleQueries.incPartialRollup(spark, sfDir)
    val direct = Tables.events(spark, sfDir)
      .groupBy(date_trunc("month", to_date(col("ts"))).cast("date").as("month"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(28,10)")), 6).cast("double").as("sum_value"))
    assert(rolled.exceptAll(direct).isEmpty && direct.exceptAll(rolled).isEmpty,
      "partial-merge rollup diverges from direct aggregation")
  }

  test("t1 append mode emits exactly the complete-mode windows the watermark closed") {
    val complete = StreamingQueries.t1StreamTumbling(spark, sfDir)
    val append = StreamingQueries.t1StreamTumblingAppend(spark, sfDir)
    assert(append.count() > 0, "append mode drained nothing")
    // append ⊂ complete, and what's missing is only the open horizon:
    // every held-back window must end after max(ts) − 1 h
    assert(append.exceptAll(complete).isEmpty, "append emitted a row complete mode lacks")
    val horizon = Tables.events(spark, sfDir)
      .agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime - 3600L * 1000
    val held = complete.exceptAll(append)
      .select(min(col("window_start").cast("timestamp"))).collect()(0)
    assert(held.isNullAt(0) ||
      held.getTimestamp(0).getTime + 3600L * 1000 > horizon,
      "a watermark-closed window was held back from the append sink")
  }

  test("t9 stream-static join keeps the dim stateless and matches the batch relation") {
    val streamed = StreamingQueries.t9StreamStaticJoin(spark, sfDir)
    assert(streamed.count() > 0, "stream-static join drained nothing")
    // batch replay of the same dim join + windowed agg, watermark-cut
    import spark.implicits._
    val dim = Seq(
      ("click", "engagement", 1.0), ("view", "engagement", 0.5),
      ("purchase", "revenue", 5.0), ("signup", "acquisition", 3.0),
      ("error", "ops", 0.0)).toDF("event_type", "category", "weight")
    val ev = Tables.events(spark, sfDir)
    val horizonMs = ev.agg(max(col("ts"))).collect()(0).getTimestamp(0).getTime - 3600L * 1000
    val batch = ev.join(broadcast(dim), "event_type")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("category"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value") * col("weight")), 6).as("wsum"))
      .filter(col("w.end").cast("timestamp").cast("long") * 1000 <= horizonMs)
      .select(col("w.start").as("window_start"), col("category"),
        col("n_events"), col("wsum"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "stream-static result diverges from the batch relation")
  }

  test("t6 streaming sessions match the batch session-window relation") {
    val streamed = StreamingQueries.t6StreamSession(spark, sfDir)
    val batch = Tables.events(spark, sfDir)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").as("session_start"), col("user_id"), col("n_events"))
    assert(streamed.count() > 0, "no sessions drained")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed sessions diverge from the batch session_window")
  }

  test("t15 streaming IVF ingest equals the batch assignment and lands partitioned") {
    val got = StreamingQueries.t15StreamIvfIngest(spark, sfDir)
      .orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // batch recompute through the SAME frozen-quantizer build: equality
    // across the 4-file micro-batched feed is the exactly-once proof —
    // a lost batch breaks n/id_sum, a replayed one breaks id_sum first
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val (_, cents) = graft.ops.Similarity.ivfIndex(
      e.filter(col("vec_id") % 5 =!= 0), "vec_id", "embedding", k = 8, iters = 1)
    val want = e.withColumn("cluster",
        graft.ops.Similarity.nearestCluster(cents, col("embedding")))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_id"),
        max(col("vec_id")).as("max_id"), sum(col("vec_id")).as("id_sum"))
      .orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == want.toSeq,
      s"streamed index diverges from batch assignment: ${got.toSeq} vs ${want.toSeq}")
    // the index must land as a cluster-partitioned layout (the searchable
    // shape ann_ivf_partitioned prunes on) written across >= 4 micro-batches
    val idxDir = graft.ScratchDirs.of("stream", sfDir, "ivf_ingest", "index")
    val idx = new java.io.File(idxDir)
    assert(idx.listFiles().exists(f => f.isDirectory && f.getName.startsWith("cluster=")),
      "index is not partitioned by cluster")
    // and a probe against the streamed index must PRUNE on the partition
    // column before IO — the ingest output is the searchable shape, not
    // just a directory layout
    val probe = spark.read.parquet(idxDir).filter(col("cluster") === 3)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") &&
      scan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)].*", "$1").nonEmpty,
      s"probe of the streamed index has no partition filters:\n$scan")
    val offsets = new java.io.File(
      graft.ScratchDirs.of("stream", sfDir, "ivf_ingest", "checkpoint", "offsets"))
    assert(offsets.listFiles().count(!_.getName.endsWith(".crc")) >= 4,
      "feed should drain in >= 4 micro-batches")
  }

  test("t16 streaming containment equals the batch incremental relation") {
    val streamed = StreamingQueries.t16StreamContainment(spark, sfDir)
    val batch = graft.queries.DedupQueries.dedupContainmentIncremental(spark, sfDir)
    assert(streamed.count() > 0, "no containment pairs drained")
    // per-delta-doc independence: the union over the 4 micro-batches
    // must equal the one-shot batch join exactly (pairs AND scores)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed containment diverges from the batch incremental relation")
    val offsets = new java.io.File(
      graft.ScratchDirs.of("stream", sfDir, "containment_stream", "checkpoint", "offsets"))
    assert(offsets.listFiles().count(!_.getName.endsWith(".crc")) >= 4,
      "delta should drain in >= 4 micro-batches")
  }

  test("t17 streaming canonical dedup equals the batch d2 partition") {
    val streamed = StreamingQueries.t17StreamCanonicalDedup(spark, sfDir)
    val batch = graft.queries.ChemQueries.d2SmilesCanonical(spark, sfDir)
    assert(streamed.count() > 0, "no canonical clusters drained")
    // each molecule's three renderings arrive in three DIFFERENT
    // micro-batches, so cluster counts only close if canonicalization
    // agrees across batches and the aggregation state survives them
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed canonical partition diverges from batch d2")
  }

  test("t5 stream-stream join reaches batch interval-join parity") {
    val streamed = StreamingQueries.t5StreamStreamJoin(spark, sfDir)
    val ev = Tables.events(spark, sfDir)
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"), col("ts").as("cts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"), col("ts").as("pts"))
    val batch = c.join(p, expr(
        "cu = pu AND pts >= cts AND pts <= cts + interval 30 minutes"))
      .select(col("cu").as("user_id"), col("click_id"), col("purchase_id"))
    assert(streamed.count() > 0, "stream-stream join produced no pairs")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed pairs diverge from batch interval join")
  }
}
