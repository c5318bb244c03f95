package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Physical-layout pack: the shuffle-elimination techniques that only
  * pay off at scale, exercised small so their plan shape is asserted
  * and their results oracle-checked.
  *
  * Bucketing is THE co-located-join tool at 100 TB: both fact tables
  * are written bucketed (and sorted) by the join key, so a repeated
  * orderkey join needs neither exchange nor sort — each task zips
  * bucket i of both sides. The one-time bucketed write amortizes over
  * every downstream join/aggregation on that key (the reference's
  * pipeline joins on pmid at three separate stages, which is exactly
  * this access pattern).
  */
object ScaleQueries {

  /** Bucketed co-located join: orders ⋈ lineitem on orderkey with both
    * sides bucketed by the key — the spec asserts the physical plan has
    * NO Exchange. The `merge` hint pins sort-merge join so the
    * zero-shuffle property comes from bucketing, not from a broadcast
    * fallback at this small SF. */
  def bucketedColocatedJoin(spark: SparkSession, dir: String): DataFrame = {
    val suffix = graft.ScratchDirs.tag(dir)
    val base = graft.ScratchDirs.of("bucketed", dir)
    val ordersT = s"orders_bkt_$suffix"
    val lineitemT = s"lineitem_bkt_$suffix"
    // repartition on the bucket key first: the write then runs one task
    // per bucket (hash-aligned with bucketBy) instead of single-file
    // tasks each sorting and emitting all 8 buckets
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .repartition(8, col("o_orderkey"))
      .write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$base/orders").saveAsTable(ordersT)
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .repartition(8, col("l_orderkey"))
      .write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$base/lineitem").saveAsTable(lineitemT)
    spark.table(lineitemT)
      .hint("merge")
      .join(spark.table(ordersT), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
  }

  /** Two-phase SALTED aggregation (net-new): the standard defense when
    * a groupBy key is heavily skewed — e.g. counting per event_type
    * when one type dominates the stream. Phase 1 aggregates on
    * (key, salt) so the hot key's partials spread over `Salts`
    * reducers; phase 2 combines the per-salt partials on the now-tiny
    * keyspace. Every aggregate here must be decomposable
    * (count→sum, sum→sum, max→max); the result is bit-identical to the
    * direct groupBy, which is exactly what the oracle checks. At this
    * SF the direct plan is fine — the query pins the TECHNIQUE's
    * correctness so the 100 TB form is a constant change. */
  def saltedSkewAgg(spark: SparkSession, dir: String): DataFrame = {
    val Salts = 16
    val salted = Tables.events(spark, dir)
      .withColumn("salt", pmod(col("event_id"), lit(Salts)))
      .groupBy(col("event_type"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("psum"), max(col("value")).as("pmax"))
    salted.groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n_events"),
        round(sum(col("psum")), 6).as("sum_value"),
        round(max(col("pmax")), 6).as("max_value"))
  }

  /** SALTED skew join (net-new): the join-side counterpart of
    * [[saltedSkewAgg]] — when one join key dominates the fact side, the
    * single reducer owning it becomes the stage's straggler. Replicate
    * the (small) build side `Salts` times, salt the fact side by a
    * fact-local column, and join on (key, salt): the hot key's rows
    * spread over `Salts` reducers. Bit-identical to the direct join —
    * the oracle runs the unsalted form. (AQE's skew-join split handles
    * MODERATE skew post-hoc; explicit salting is the tool when one key
    * exceeds a single executor's memory.) */
  def saltedSkewJoin(spark: SparkSession, dir: String): DataFrame = {
    val Salts = 8
    val fact = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        pmod(col("l_linenumber"), lit(Salts)).as("salt"))
      // EXPLICIT reducer-width pin on the salted key (r14 optimization,
      // guide §2.5 + the Confs.tuned policy that CPU-per-row stages keep
      // explicit repartition pins): the whole point of the salt is
      // spreading the hot key across reducers, but this stage's cost is
      // CPU per joined row, not bytes — size-based AQE coalescing saw
      // ~MBs of shuffle and merged the salted spread back into ONE task
      // (measured 0.62 → 1.7 s after Confs.tuned landed). A user
      // repartition with an explicit count is never coalesced, and the
      // join reuses its partitioning (same keys, same width — no second
      // fact-side exchange). defaultParallelism keeps the width
      // scale-adaptive: cores locally, executor slots on a cluster.
      .repartition(spark.sparkContext.defaultParallelism,
        col("l_orderkey"), col("salt"))
    val dim = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("salt", explode(sequence(lit(0), lit(Salts - 1))))
    // disable the broadcast fallback so the salted SHUFFLE path is what
    // actually executes (a broadcast join has no skewed reducer to fix)
    fact.join(dim.hint("shuffle_hash"),
        fact("l_orderkey") === dim("o_orderkey") && fact("salt") === dim("salt"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
  }

  /** Incremental partial-aggregate rollup (net-new): the
    * materialized-view maintenance pattern every periodic 100 TB
    * aggregation needs — facts aggregate ONCE into per-day partials
    * (decomposable: count/sum), land partitioned by day, and coarser
    * rollups (monthly here) read ONLY the partial table, never
    * rescanning raw facts. A new day appends one partition and the
    * monthly refresh cost tracks the partial table's size (~|days ×
    * types|), not the fact volume. The oracle aggregates the raw facts
    * directly — pinning that merging partials loses nothing. */
  def incPartialRollup(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.ScratchDirs.of("partials", dir)
    // partials carry value as DECIMAL, not DOUBLE: decimal addition is
    // exact and associative, so the partial-merge total is bit-equal to
    // a direct aggregate no matter how rows split across partitions —
    // double partials would re-order FP summation and could flake the
    // 6-dp rounding against the oracle. The per-row double→decimal
    // quantization (10 dp) is identical in both engines (a double can
    // never sit exactly on a decimal half, so conversion ties can't
    // occur).
    Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("pn"),
        sum(col("value").cast("decimal(28,10)")).as("psum"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    spark.read.parquet(out)
      .groupBy(date_trunc("month", col("day")).cast("date").as("month"), col("event_type"))
      .agg(sum(col("pn")).as("n_events"),
        round(sum(col("psum")), 6).cast("double").as("sum_value"))
  }

  /** Bloom-pruned semi-join (net-new): the J2 semi-join scale path when
    * the dimension key set is too large to inline as literals and the
    * planner won't broadcast it. A Bloom filter over the dim keys is
    * built with ONE aggregate (Spark's own runtime-filter bloom,
    * surfaced as `bloom_filter_agg`), ships to every fact task as a
    * scalar subquery, and prunes the fact SCAN-side before the shuffle
    * — at 100 TB this drops the shuffled volume to the semi-join's
    * selectivity. Bloom false positives are removed by the exact
    * semi-join on the survivors, so the result is bit-identical to the
    * plain semi-join the oracle runs. (Spark's AQE injects this rewrite
    * itself when stats justify it; the explicit form pins the
    * technique and works on any plan.) */
  def bloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.Functions.register(spark) // session-scoped, idempotent
    val sfx = graft.ScratchDirs.tag(dir)
    Tables.lineitem(spark, dir).createOrReplaceTempView(s"lineitem_bloom_$sfx")
    Tables.orders(spark, dir).createOrReplaceTempView(s"orders_bloom_$sfx")
    spark.sql(s"""
      WITH pruned AS (
        SELECT l_orderkey, l_returnflag, l_extendedprice
        FROM lineitem_bloom_$sfx
        WHERE bloom_might_contain(
          (SELECT bloom_filter_agg(xxhash64(o_orderkey), 150000L, 1200000L)
           FROM orders_bloom_$sfx WHERE o_orderstatus = 'F'),
          xxhash64(l_orderkey)))
      SELECT l_returnflag, count(*) AS n_items,
             round(sum(l_extendedprice), 2) AS sum_price
      FROM pruned
      WHERE l_orderkey IN
        (SELECT o_orderkey FROM orders_bloom_$sfx WHERE o_orderstatus = 'F')
      GROUP BY l_returnflag""")
  }

  /** CDC MERGE/upsert (net-new): the incremental-maintenance operator
    * every periodically-refreshed 100 TB table needs — apply a change
    * set (inserts + updates + deletes) to a snapshot in ONE pass: full
    * outer join on the key, delete rows dropped, change rows taking the
    * new values, untouched rows passing through. One shuffle on the
    * merge key; at scale pair it with partition-overwrite of only the
    * touched partitions (the T3 pattern) so the rewrite cost tracks the
    * delta, not the snapshot. The change set here is derived
    * deterministically from the snapshot itself so the oracle can
    * reproduce it: key%13→delete, else key%7→update, key%11→insert
    * under a shifted key. */
  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val snap = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val upd = snap.filter(col("o_orderkey") % 13 === 0 || col("o_orderkey") % 7 === 0)
      .select(col("o_orderkey").as("k"),
        when(col("o_orderkey") % 13 === 0, lit("D")).otherwise(lit("U")).as("op"),
        round(col("o_totalprice") + 100, 2).as("new_price"))
    val ins = snap.filter(col("o_orderkey") % 11 === 0)
      // floor-truncate, not round: halving can land exactly on .xx5
      // doubles where Spark's and DuckDB's round() disagree; floor of
      // the same IEEE double is identical everywhere
      .select((col("o_orderkey") + 10000000L).as("k"), lit("I").as("op"),
        (floor(col("o_totalprice") * 0.5 * 100) / 100).as("new_price"))
    snap.join(upd.unionByName(ins), col("o_orderkey") === col("k"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(coalesce(col("k"), col("o_orderkey")).as("o_orderkey"),
        when(col("op").isin("U", "I"), col("new_price"))
          .otherwise(round(col("o_totalprice"), 2)).as("totalprice"),
        coalesce(col("op"), lit("K")).as("src"))
  }

  /** Date-partitioned sink + partition-pruned scan (net-new): the
    * standard 100 TB layout — facts land partitioned by event date, and
    * a date-ranged read touches only the matching partition dirs (the
    * spec asserts non-empty PartitionFilters on the scan, i.e. pruning
    * happens at planning, before any file IO). The reference's dated
    * release dirs (P2) are this layout's publication edge. */
  def partitionedPrune(spark: SparkSession, dir: String): DataFrame = {
    val out = graft.ScratchDirs.of("partitioned", dir)
    val ev = Tables.events(spark, dir).withColumn("event_date", to_date(col("ts")))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    val maxDay = ev.agg(max(col("event_date"))).collect()(0).getDate(0)
    val lo = java.sql.Date.valueOf(maxDay.toLocalDate.minusDays(2))
    spark.read.parquet(out)
      .filter(col("event_date") >= lit(lo))
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
  }

  /** Dynamic partition pruning (net-new): the RUNTIME counterpart of
    * [[partitionedPrune]]'s static pruning — when the partition-column
    * restriction only exists on the OTHER side of a join (a filtered
    * dimension), Spark broadcasts the dim, evaluates the join keys, and
    * injects them as a partition filter into the fact scan before its
    * file IO. At 100 TB this is the difference between scanning two
    * date partitions and scanning the table: the classic star-schema
    * date-dim restriction. Both sides land as parquet (DPP applies to
    * file-source scans); the spec asserts `dynamicpruning` in the
    * fact scan's partition filters. */
  def dppJoin(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.ScratchDirs.of("dpp", dir)
    val ev = Tables.events(spark, dir).withColumn("event_date", to_date(col("ts")))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(s"$base/facts")
    // date dimension with a deterministic "recent" flag — the filter
    // that DPP pushes across the join lives HERE, not on the fact
    ev.groupBy(col("event_date"))
      .agg(count(lit(1)).as("n_day"))
      .withColumn("is_recent", col("event_date") >= date_sub(max(col("event_date"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()), 1))
      .write.mode("overwrite").parquet(s"$base/dates")
    val facts = spark.read.parquet(s"$base/facts")
    // the comparison predicate matters: Spark's PartitionPruning rule
    // only injects the runtime filter when the dim side carries a
    // "likely selective" predicate (BinaryComparison/In/Like — a bare
    // boolean attribute does NOT qualify, observed: no dynamicpruning
    // in the scan with `filter(col("is_recent"))` alone)
    val dates = spark.read.parquet(s"$base/dates")
      .filter(col("is_recent") && col("n_day") >= 1)
      .select(col("event_date"))
    facts.join(broadcast(dates), "event_date")
      .groupBy(col("event_date"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 6).as("sum_value"))
  }

  /** 16-bit Morton (Z-order) interleave of two 8-bit bucket ordinals —
    * pure Column arithmetic, codegen'd. Bucket ordinals must be RANGE
    * monotone in their source columns so range predicates map to
    * z-value ranges. */
  private[graft] def morton8(bx: org.apache.spark.sql.Column,
                             by: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (0 until 8).map { j =>
      shiftright(bx, j).bitwiseAND(lit(1L)) * lit(1L << (2 * j)) +
        shiftright(by, j).bitwiseAND(lit(1L)) * lit(1L << (2 * j + 1))
    }.reduce(_ + _)

  /** Z-ORDER clustered layout (net-new): multi-dimensional data
    * clustering — the lakehouse OPTIMIZE ZORDER technique. A linear
    * sort gives min/max file-skipping power on ONE column; writing in
    * Morton-curve order clusters BOTH dimensions, so parquet footer
    * stats prune files for predicates on either column (or both). The
    * staged table is range-partitioned + sorted by the z-value (the
    * write-side clustering); the graded read filters on both key
    * ranges and aggregates — results are layout-independent (the
    * oracle ignores layout), while the SPEC measures the thing the
    * layout is for: under a partkey-only predicate the z-ordered
    * layout's overlapping-file count must be a fraction of the
    * linear layout's (which overlaps every file). At 100 TB this is
    * the difference between scanning a band of the curve and scanning
    * the whole table. Bucket scaling uses the key MAXIMA — two tiny
    * scalar aggregates, the same model-parameter transfer as k-means
    * centroids. */
  def kZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val (maxOk, maxPk) = keyMaxima(spark, dir)
    val out = writeZorder(spark, dir, maxOk, maxPk)
    spark.read.parquet(out)
      .filter(col("l_orderkey").between(maxOk / 4, maxOk / 2) &&
        col("l_partkey").between(maxPk / 4, maxPk / 2))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  private def keyMaxima(spark: SparkSession, dir: String): (Long, Long) = {
    val r = Tables.lineitem(spark, dir)
      .agg(max(col("l_orderkey")), max(col("l_partkey"))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Stage lineitem z-ordered by (orderkey, partkey); returns the path. */
  private[graft] def writeZorder(spark: SparkSession, dir: String): String = {
    val (maxOk, maxPk) = keyMaxima(spark, dir)
    writeZorder(spark, dir, maxOk, maxPk)
  }

  /** Maxima-supplied form — the query path computes them once and
    * shares them with the read-side filter (one corpus scan, not two). */
  private def writeZorder(spark: SparkSession, dir: String,
                          maxOk: Long, maxPk: Long): String = {
    val out = graft.ScratchDirs.of("zorder", dir)
    val bx = least(lit(255L), col("l_orderkey") * 256L / lit(maxOk + 1)).cast("long")
    val by = least(lit(255L), col("l_partkey") * 256L / lit(maxPk + 1)).cast("long")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_returnflag"), col("l_quantity"))
      .withColumn("z", morton8(bx, by))
      .repartitionByRange(16, col("z"))
      .sortWithinPartitions(col("z"))
      .drop("z")
      .write.mode("overwrite").parquet(out)
    out
  }

  /** Small-files compaction (net-new): the maintenance pass every
    * long-lived 100 TB table needs — a fragmented landing layout (64
    * shard files here) rewritten into row-budgeted files via ONE
    * repartition, then proven equivalent through the compacted scan.
    * File-count collapse is spec-asserted; content equality is
    * oracle-checked (the aggregate below reads the COMPACTED files).
    * At scale this is the same op keyed per partition-dir, with the
    * row budget from target_file_bytes / avg_row_bytes. */
  def kCompaction(spark: SparkSession, dir: String): DataFrame = {
    val frag = graft.ScratchDirs.of("compact_in", dir)
    val out = graft.ScratchDirs.of("compact_out", dir)
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.repartition(64).write.mode("overwrite").parquet(frag)       // fragmented landing
    val fragged = spark.read.parquet(frag)
    val nRows = fragged.count()
    val targetFiles = math.max(1, (nRows / 50000L).toInt)          // ~50k-row file budget
    fragged.repartition(targetFiles).write.mode("overwrite").parquet(out)
    spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"))
  }

  /** CDC snapshot DIFF — the generator side of change-data-capture
    * (the feed [[mergeUpsert]] consumes): classify every key of two
    * table versions as insert / delete / update / unchanged via ONE
    * full-outer join on the key, and emit per-class counts plus a
    * value checksum. The two versions are derived deterministically
    * from orders (v2 gains the %7 keys, loses the %5 slice, reprices
    * the %3 slice) so the oracle replays them exactly. At 100 TB both
    * snapshots are key-partitioned parquet: the full-outer join is the
    * ONE co-partitioned exchange pair and the class aggregate is
    * 4 rows — nothing else moves. */
  def cdcSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"), round(col("o_totalprice"), 2).as("p"))
    val v1 = base.filter(col("k") % 7 =!= 0)
    val v2 = base.filter(col("k") % 5 =!= 3)
      .select(col("k"),
        when(col("k") % 3 === 0, round(col("p") + lit(1.5), 2)).otherwise(col("p")).as("p2"))
    val op = when(col("p").isNull, "insert")
      .when(col("p2").isNull, "delete")
      .when(col("p") =!= col("p2"), "update")
      .otherwise("unchanged")
    v1.join(v2, Seq("k"), "full_outer")
      .select(op.as("op"), coalesce(col("p2"), col("p")).as("v"))
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("v")), 2).as("checksum"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_snapshot_diff" -> (cdcSnapshotDiff _),
    "k_compaction"            -> (kCompaction _),
    "k_zorder_layout"         -> (kZorderLayout _),
    "k_dpp_join"              -> (dppJoin _),
    "bucketed_colocated_join" -> (bucketedColocatedJoin _),
    "salted_skew_agg"         -> (saltedSkewAgg _),
    "salted_skew_join"        -> (saltedSkewJoin _),
    "inc_partial_rollup"      -> (incPartialRollup _),
    "bloom_semi_join"         -> (bloomSemiJoin _),
    "merge_upsert"            -> (mergeUpsert _),
    "k_partitioned_prune"     -> (partitionedPrune _),
  )

  private val duckCdcDiff =
    ("WITH base AS (SELECT o_orderkey AS k, round(o_totalprice, 2) AS p FROM orders), " +
     "v1 AS (SELECT k, p FROM base WHERE k % 7 <> 0), " +
     "v2 AS (SELECT k, CASE WHEN k % 3 = 0 THEN round(p + 1.5, 2) ELSE p END AS p2 " +
     "FROM base WHERE k % 5 <> 3), " +
     "d AS (SELECT coalesce(v1.k, v2.k) AS k, p, p2 FROM v1 FULL OUTER JOIN v2 USING (k)) " +
     "SELECT (CASE WHEN p IS NULL THEN 'insert' WHEN p2 IS NULL THEN 'delete' " +
     "WHEN p <> p2 THEN 'update' ELSE 'unchanged' END) AS op, " +
     "count(*) AS n_rows, round(sum(coalesce(p2, p)), 2) AS checksum " +
     "FROM d GROUP BY op")

  val oracle: Map[String, String] = Map(
    "cdc_snapshot_diff" -> duckCdcDiff,
    // compaction must be content-preserving: the oracle is the same
    // aggregate over the CANONICAL table the fragmented copy came from
    "k_compaction" ->
      ("SELECT event_type, count(*) AS n_events, round(sum(value), 2) AS sum_value, " +
       "min(event_id) AS min_id, max(event_id) AS max_id FROM events GROUP BY event_type"),
    // layout-independent relation; // = DuckDB integer division, same
    // truncation as the Scala Long division on the Spark side
    "k_zorder_layout" ->
      ("SELECT l_returnflag, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty " +
       "FROM lineitem, (SELECT max(l_orderkey) AS mo, max(l_partkey) AS mp FROM lineitem) m " +
       "WHERE l_orderkey BETWEEN mo // 4 AND mo // 2 AND l_partkey BETWEEN mp // 4 AND mp // 2 " +
       "GROUP BY l_returnflag"),
    "bucketed_colocated_join" ->
      ("SELECT o_orderpriority, count(*) AS n_items, " +
       "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "GROUP BY o_orderpriority"),
    "salted_skew_agg" ->
      ("SELECT event_type, count(*) AS n_events, round(sum(value), 6) AS sum_value, " +
       "round(max(value), 6) AS max_value FROM events GROUP BY event_type"),
    "salted_skew_join" ->
      ("SELECT o_orderpriority, count(*) AS n_items, " +
       "round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue " +
       "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
       "GROUP BY o_orderpriority"),
    "inc_partial_rollup" ->
      ("SELECT CAST(date_trunc('month', ts::DATE) AS DATE) AS month, event_type, " +
       "count(*) AS n_events, round(sum(value::DECIMAL(28,10)), 6)::DOUBLE AS sum_value FROM events " +
       "GROUP BY month, event_type"),
    "bloom_semi_join" ->
      ("SELECT l_returnflag, count(*) AS n_items, round(sum(l_extendedprice), 2) AS sum_price " +
       "FROM lineitem WHERE l_orderkey IN " +
       "(SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') " +
       "GROUP BY l_returnflag"),
    "merge_upsert" ->
      ("WITH changes AS (" +
       "SELECT o_orderkey AS k, CASE WHEN o_orderkey % 13 = 0 THEN 'D' ELSE 'U' END AS op, " +
       "round(o_totalprice + 100, 2) AS new_price FROM orders " +
       "WHERE o_orderkey % 13 = 0 OR o_orderkey % 7 = 0 " +
       "UNION ALL " +
       "SELECT o_orderkey + 10000000, 'I', floor(o_totalprice * 0.5 * 100) / 100 FROM orders " +
       "WHERE o_orderkey % 11 = 0) " +
       "SELECT coalesce(c.k, s.o_orderkey) AS o_orderkey, " +
       "CASE WHEN c.op IN ('U','I') THEN c.new_price ELSE round(s.o_totalprice, 2) END AS totalprice, " +
       "coalesce(c.op, 'K') AS src " +
       "FROM orders s FULL OUTER JOIN changes c ON s.o_orderkey = c.k " +
       "WHERE coalesce(c.op, '') <> 'D'"),
    "k_partitioned_prune" ->
      ("SELECT ts::DATE AS event_date, event_type, count(*) AS n_events, " +
       "round(sum(value), 6) AS sum_value FROM events " +
       "WHERE ts::DATE >= (SELECT max(ts::DATE) - INTERVAL 2 DAY FROM events) " +
       "GROUP BY event_date, event_type"),
    "k_dpp_join" ->
      ("SELECT ts::DATE AS event_date, event_type, count(*) AS n_events, " +
       "round(sum(value), 6) AS sum_value FROM events " +
       "WHERE ts::DATE >= (SELECT max(ts::DATE) - INTERVAL 1 DAY FROM events) " +
       "GROUP BY event_date, event_type"),
  )
}
