package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{ByteStatsDecoder, Multimodal, Provenance}

/** Multimodal + provenance pack: binary-payload plumbing (batched
  * decode, frame sampling) and CHECK-constraint validation — the
  * payloads are `documents.text` bytes treated as opaque media, so the
  * oracle can recompute every feature from the text side while Spark
  * runs the real binary path.
  */
object MultimodalQueries {

  val FrameBytes = 100

  /** Batched decode → feature vector per media item (stub kernel,
    * real mapPartitions batch shape). The vector is projected to scalar
    * columns at the sink: array-typed result columns are not hashable
    * by the driver's row-compare harness. */
  def mmDecodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    Multimodal.decodeFeatures(spark, media, "doc_id", "payload", new ByteStatsDecoder)
      .toDF()
      .select(col("doc_id"),
        element_at(col("features"), 1).as("f_len"),
        element_at(col("features"), 2).as("f_vowels"),
        element_at(col("features"), 3).as("f_head"))
  }

  /** Frame sampling over binary payloads: frame index, byte length,
    * head byte — all computed on the binary column. */
  def mmFrameSample(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    Multimodal.frameSample(media, "doc_id", "payload", FrameBytes)
      .select(col("doc_id"), col("frame_idx"),
        length(col("frame")).cast("long").as("frame_len"),
        ascii(col("frame").cast("string")).cast("long").as("head_byte"))
  }

  val ResizeBytes = 256

  /** Resize (crop) over binary payloads: clamp each payload to a fixed
    * byte budget — the media analogue of image resize with the codec
    * stubbed (the real kernel would decode→scale→re-encode through the
    * same batched-binary plumbing as [[mmDecodeFeatures]]). Pure
    * codegen'd substr/length on the binary column; scalar outputs so
    * the driver can hash-compare. NOTE: the oracle recomputes these
    * BYTE quantities with VARCHAR functions, which agree only because
    * the harness corpus is ASCII (same standing assumption as
    * mm_frame_sample — a non-ASCII corpus needs a byte-exact oracle
    * via octet_length/BLOB substr). */
  def mmResize(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val resized = col("payload").substr(lit(1), lit(ResizeBytes))
    media.select(col("doc_id"),
      length(col("payload")).cast("long").as("orig_len"),
      length(resized).cast("long").as("resized_len"),
      ascii(resized.cast("string")).cast("long").as("head_byte"),
      ascii(col("payload").substr(least(length(col("payload")), lit(ResizeBytes)).cast("int"), lit(1))
        .cast("string")).cast("long").as("tail_byte"))
  }

  /** P1: provenance sidecar round-trip — write an artifact through
    * `writeWithProvenance` (observe-counted rows + content sha256 +
    * step/params in `_provenance.json`), then surface the sidecar's
    * claims as a row the oracle can recompute: the artifact name, the
    * recorded row count, and a boolean that the recorded count matches
    * a re-read of the data (the sha256 is layout-specific, so the
    * VERIFIABLE provenance claims are what the oracle checks). */
  def p1Provenance(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count => fcount}
    val out = graft.ScratchDirs.of("provenance", dir, "orders_summary")
    val artifact = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority"))
      .agg(fcount(lit(1)).as("n_orders"))
    Provenance.writeWithProvenance(artifact, out, "p1_orders_summary",
      Map("source" -> "orders", "group" -> "o_orderpriority"))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(out, "_provenance.json")))
    val recorded = spark.read.json(
      spark.createDataset(Seq(json))(org.apache.spark.sql.Encoders.STRING))
      .select(col("step"), col("rows").cast("long").as("recorded_rows"))
    val actual = Tables.parquet(spark, out).agg(fcount(lit(1)).as("actual_rows"))
    recorded.crossJoin(actual)
      .select(col("step"), col("recorded_rows"),
        (col("recorded_rows") === col("actual_rows")).as("rows_match"))
  }

  /** P3: CHECK-constraint violation counts over orders — one
    * conditional-sum pass, unpivoted. */
  def p3ConstraintCheck(spark: SparkSession, dir: String): DataFrame =
    Provenance.constraintViolations(Tables.orders(spark, dir), Seq(
      "totalprice_positive" -> (col("o_totalprice") > 0),
      "status_enum" -> col("o_orderstatus").isin("O", "F", "P"),
      "orderkey_not_null" -> col("o_orderkey").isNotNull,
      "date_in_range" -> (year(col("o_orderdate")) >= 1990)))

  /** Column profiling (the Deequ/Glue-profiler artifact: per-column
    * null count, exact distinct cardinality, numeric/string min-max)
    * over a pinned lineitem column set, emitted as one row per column.
    * Two passes, both hash aggregates:
    *   1. counts + min/max for every column in ONE plain agg (no
    *      distinct, so no Expand — pure codegen'd partial-merge);
    *   2. distinct cardinalities via unpivot → (column, value) pairs →
    *      two-level groupBy, where the map-side partial collapses each
    *      partition to its distinct pairs BEFORE the shuffle.
    * This replaces the natural multi-countDistinct single agg, whose
    * Expand amplifies every row ×4 through a SORT aggregate — measured
    * 3× slower at sf0.1 and strictly worse at 100 TB (the shuffle would
    * carry amplified rows, vs. per-partition distinct pairs here). The
    * unpivot casts values to string ONLY for distinct-counting (an
    * injective mapping, so the counts are identical); the published
    * extrema ride the typed pass — no cross-type formatting in results.
    * At 100 TB the exact distincts swap for HLL sketches
    * ([[SketchQueries]] has the mergeable form); exact is kept here so
    * the oracle can replay values bit-for-bit. */
  def p4ProfileColumns(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    def num(c: String) = Seq(
      count(col(c)).as(s"nn_$c"),
      round(min(col(c)), 6).as(s"mn_$c"), round(max(col(c)), 6).as(s"mx_$c"))
    def str(c: String) = Seq(
      count(col(c)).as(s"nn_$c"), min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c"))
    val aggs = Seq(count(lit(1)).as("n_rows")) ++
      num("l_quantity") ++ num("l_discount") ++
      str("l_returnflag") ++ str("l_linestatus")
    val a = l.agg(aggs.head, aggs.tail: _*)
    val nd = l.select(explode(array(
        struct(lit("l_quantity").as("c"), col("l_quantity").cast("string").as("v")),
        struct(lit("l_discount").as("c"), col("l_discount").cast("string").as("v")),
        struct(lit("l_returnflag").as("c"), col("l_returnflag").as("v")),
        struct(lit("l_linestatus").as("c"), col("l_linestatus").as("v")))).as("p"))
      .filter(col("p.v").isNotNull)
      .groupBy(col("p.c").as("column_name"), col("p.v"))
      .agg(count(lit(1)))
      .groupBy(col("column_name")).agg(count(lit(1)).as("n_distinct"))
    def rowOf(c: String, numeric: Boolean) = struct(
      lit(c).as("column_name"),
      (col("n_rows") - col(s"nn_$c")).as("n_nulls"),
      (if (numeric) col(s"mn_$c") else lit(null).cast("double")).as("min_num"),
      (if (numeric) col(s"mx_$c") else lit(null).cast("double")).as("max_num"),
      (if (numeric) lit(null).cast("string") else col(s"mn_$c")).as("min_str"),
      (if (numeric) lit(null).cast("string") else col(s"mx_$c")).as("max_str"))
    a.select(col("n_rows"), explode(array(
        rowOf("l_quantity", numeric = true), rowOf("l_discount", numeric = true),
        rowOf("l_returnflag", numeric = false), rowOf("l_linestatus", numeric = false)))
      .as("p"))
      .select(col("p.column_name"), col("n_rows"), col("p.n_nulls"),
        col("p.min_num"), col("p.max_num"), col("p.min_str"), col("p.max_str"))
      // LEFT join + coalesce: an all-NULL column produces no distinct
      // (column, value) group at all, and an inner join would silently
      // drop its profile row — precisely the row a profiler must keep
      // (n_nulls = n_rows, n_distinct = 0)
      .join(broadcast(nd), Seq("column_name"), "left")
      .select(col("column_name"), col("n_rows"), col("n_nulls"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        col("min_num"), col("max_num"),
        col("min_str"), col("max_str"))
  }

  /** 12 chunks × 5 bits over the 60-bit signature: pairs at hamming
    * ≤ [[MmPhashMaxHamming]] = chunks − 1 agree on ≥ 1 whole chunk
    * (pigeonhole), so the bucketed candidate set is complete. */
  val MmPhashChunks = 12
  val MmPhashMaxHamming = 11

  /** Multimodal near-dup via a block-average perceptual hash — the
    * media-dedup stage of a multimodal training pipeline (aHash over
    * the opaque payload bytes; a real image pipeline swaps the byte
    * stream for decoded luma through the same plumbing). Signature:
    * [[graft.expr.BlockHash60]], one codegen'd pass per payload.
    * Candidate generation is the pigeonhole chunk bucketing proven by
    * [[DedupQueries.dedupSimhash]] — equi-join on (chunk_idx,
    * chunk_val), then the exact hamming verify on candidates only —
    * never the N²/2 cross product. The oracle replays signature,
    * bucketing shortcut and hamming from the text side (ASCII-corpus
    * assumption, as mm_resize). */
  def mmPhashNeardup(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.hashfunctions.block_hash60
    // read by the candidate branch and both verify joins
    val s = graft.Materialize.cached(Tables.documents(spark, dir)
      .filter(length(col("text")) >= 60)
      .select(col("doc_id"), block_hash60(col("text").cast("binary")).as("h")))
    val chunkExprs = (0 until MmPhashChunks).map(i =>
      shiftrightunsigned(col("h"), i * 5).bitwiseAND(lit(0x1FL)))
    val chunks = s.select(col("doc_id"),
      posexplode(array(chunkExprs: _*)).as(Seq("chunk_idx", "chunk_val")))
    val a = chunks.select(col("chunk_idx"), col("chunk_val"), col("doc_id").as("id_a"))
    val b = chunks.select(col("chunk_idx"), col("chunk_val"), col("doc_id").as("id_b"))
    val cand = a.join(b, Seq("chunk_idx", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(s.select(col("doc_id").as("id_a"), col("h").as("h_a")), "id_a")
      .join(s.select(col("doc_id").as("id_b"), col("h").as("h_b")), "id_b")
      .withColumn("hamming", bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .filter(col("hamming") <= MmPhashMaxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** P5 (net-new): join/partition-key SKEW profile — the diagnostic a
    * pipeline runs BEFORE choosing salting keys (the remediation the
    * engine's `salted_skew_agg`/`salted_skew_join` queries implement).
    * Per candidate key column: row count, key cardinality, and the
    * row-share of the heaviest key and heaviest 10 keys. One
    * (column, key) partial-aggregated shuffle per profiled stream;
    * the top-10 mass comes from the bounded-heap `topk_pairs`
    * aggregate — O(columns·10) state, never a per-column sort, and no
    * driver-side pass. Shares are exact (integer-valued doubles), so
    * the oracle replays them bit-for-bit. */
  def p5SkewProfile(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.topkpairs.topk_pairs
    def keyed(df: DataFrame, name: String, c: org.apache.spark.sql.Column) =
      df.select(lit(name).as("column_name"), c.cast("string").as("k"))
    val u = keyed(Tables.lineitem(spark, dir), "lineitem.l_suppkey", col("l_suppkey"))
      .unionAll(keyed(Tables.lineitem(spark, dir), "lineitem.l_returnflag", col("l_returnflag")))
      .unionAll(keyed(Tables.orders(spark, dir), "orders.o_custkey", col("o_custkey")))
      .unionAll(keyed(Tables.events(spark, dir), "events.user_id", col("user_id")))
      .unionAll(keyed(Tables.events(spark, dir), "events.event_type", col("event_type")))
    u.groupBy(col("column_name"), col("k")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("column_name"))
      .agg(sum(col("cnt")).as("n_rows"), count(lit(1)).as("n_keys"),
        max(col("cnt")).as("top1_n"),
        topk_pairs(col("cnt").cast("double"), xxhash64(col("k")), 10).as("top"))
      .select(col("column_name"), col("n_rows"), col("n_keys"),
        round(col("top1_n").cast("double") / col("n_rows"), 6).as("top1_share"),
        round(aggregate(transform(col("top"), p => p.getField("score")),
          lit(0.0), (a, x) => a + x) / col("n_rows"), 6).as("top10_share"))
  }

  val VadFrameBytes = 50

  /** Audio VAD-style segmentation over binary payloads (net-new): the
    * voice-activity-detection shape — frame the payload, score each
    * frame's "energy", mark frames above threshold, and coalesce the
    * voiced frames into maximal RUNS (the speech segments a training
    * pipeline clips out of long audio). The per-frame scorer here is
    * the pack's honest stub (vowel-byte density standing in for PCM
    * RMS energy — no audio codecs in this environment; a real
    * deployment swaps the scorer, the segmentation algebra is
    * unchanged). Frames come from the same codegen'd binary
    * frame-explode as [[mmFrameSample]]; runs use the islands trick
    * (frame_idx − row_number is constant within a consecutive run), a
    * per-media-item window bounded by frames-per-item — never a
    * corpus-wide sort. */
  def mmAudioVad(spark: SparkSession, dir: String): DataFrame = {
    val media = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val frames = Multimodal.frameSample(media, "doc_id", "payload", VadFrameBytes)
      .select(col("doc_id"), col("frame_idx"), col("frame").cast("string").as("fs"))
      .withColumn("flen", length(col("fs")).cast("long"))
      .withColumn("vowels",
        (col("flen") - length(regexp_replace(col("fs"), "[aeiou]", ""))).cast("long"))
      .withColumn("voiced", col("vowels") * 3 >= col("flen"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    val runs = frames.filter(col("voiced"))
      .withColumn("grp", col("frame_idx") - row_number().over(w))
      .groupBy(col("doc_id"), col("grp")).agg(count(lit(1)).as("run_len"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segments"), max(col("run_len")).as("longest_run"),
        sum(col("run_len")).as("n_voiced"))
    frames.groupBy(col("doc_id")).agg(count(lit(1)).as("n_frames"))
      .join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"),
        coalesce(col("n_voiced"), lit(0L)).as("n_voiced"),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("longest_run"), lit(0L)).as("longest_run"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_audio_vad"       -> (mmAudioVad _),
    "p5_skew_profile"    -> (p5SkewProfile _),
    "p4_profile_columns" -> (p4ProfileColumns _),
    "mm_decode_features" -> (mmDecodeFeatures _),
    "mm_frame_sample"    -> (mmFrameSample _),
    "mm_resize"          -> (mmResize _),
    "mm_phash_neardup"   -> (mmPhashNeardup _),
    "p1_provenance"      -> (p1Provenance _),
    "p3_constraint_check" -> (p3ConstraintCheck _),
  )

  private val duckProfile = {
    def num(c: String) =
      (s"SELECT '$c' AS column_name, count(*) AS n_rows, " +
       s"count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct, " +
       s"round(min($c), 6) AS min_num, round(max($c), 6) AS max_num, " +
       "NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str FROM lineitem")
    def str(c: String) =
      (s"SELECT '$c' AS column_name, count(*) AS n_rows, " +
       s"count(*) - count($c) AS n_nulls, count(DISTINCT $c) AS n_distinct, " +
       "NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num, " +
       s"min($c) AS min_str, max($c) AS max_str FROM lineitem")
    Seq(num("l_quantity"), num("l_discount"),
      str("l_returnflag"), str("l_linestatus")).mkString(" UNION ALL ")
  }

  val oracle: Map[String, String] = Map(
    // VARCHAR replay of the binary VAD path (ASCII-corpus assumption,
    // same standing note as mm_frame_sample/mm_resize)
    "mm_audio_vad" ->
      (s"WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents), " +
       s"fr AS (SELECT doc_id, i AS frame_idx, substr(text, (i * $VadFrameBytes + 1)::INT, $VadFrameBytes) AS fs " +
       s"FROM (SELECT doc_id, text, unnest(generate_series(0, greatest(ceil(L / $VadFrameBytes.0)::BIGINT, 1) - 1)) AS i FROM d)), " +
       "v AS (SELECT doc_id, frame_idx, length(fs)::BIGINT AS flen, " +
       "(length(fs) - length(regexp_replace(fs, '[aeiou]', '', 'g')))::BIGINT AS vowels FROM fr), " +
       "vo AS (SELECT doc_id, frame_idx FROM v WHERE vowels * 3 >= flen), " +
       "g AS (SELECT doc_id, frame_idx - row_number() OVER (PARTITION BY doc_id ORDER BY frame_idx) AS grp FROM vo), " +
       "r AS (SELECT doc_id, grp, count(*) AS run_len FROM g GROUP BY 1, 2), " +
       "agg AS (SELECT doc_id, count(*) AS n_segments, max(run_len) AS longest_run, " +
       "sum(run_len)::BIGINT AS n_voiced FROM r GROUP BY 1), " +
       "nf AS (SELECT doc_id, count(*) AS n_frames FROM fr GROUP BY 1) " +
       "SELECT nf.doc_id, nf.n_frames, coalesce(agg.n_voiced, 0)::BIGINT AS n_voiced, " +
       "coalesce(agg.n_segments, 0)::BIGINT AS n_segments, " +
       "coalesce(agg.longest_run, 0)::BIGINT AS longest_run " +
       "FROM nf LEFT JOIN agg ON nf.doc_id = agg.doc_id"),
    "p5_skew_profile" ->
      ("WITH u AS (" +
       "SELECT 'lineitem.l_suppkey' AS column_name, l_suppkey::VARCHAR AS k FROM lineitem " +
       "UNION ALL SELECT 'lineitem.l_returnflag', l_returnflag FROM lineitem " +
       "UNION ALL SELECT 'orders.o_custkey', o_custkey::VARCHAR FROM orders " +
       "UNION ALL SELECT 'events.user_id', user_id::VARCHAR FROM events " +
       "UNION ALL SELECT 'events.event_type', event_type FROM events), " +
       "c AS (SELECT column_name, k, count(*) AS cnt FROM u GROUP BY 1, 2), " +
       "r AS (SELECT column_name, cnt, row_number() OVER (" +
       "PARTITION BY column_name ORDER BY cnt DESC) AS rn FROM c), " +
       "a AS (SELECT column_name, sum(cnt)::BIGINT AS n_rows, count(*) AS n_keys, " +
       "max(cnt) AS top1_n FROM c GROUP BY 1), " +
       "t AS (SELECT column_name, sum(cnt)::BIGINT AS top10_n FROM r WHERE rn <= 10 GROUP BY 1) " +
       "SELECT a.column_name, a.n_rows, a.n_keys, " +
       "round(a.top1_n::DOUBLE / a.n_rows, 6) AS top1_share, " +
       "round(t.top10_n::DOUBLE / a.n_rows, 6) AS top10_share " +
       "FROM a JOIN t USING (column_name)"),
    // all-pairs replay of the perceptual-hash signature (byte = unicode
    // code point under the ASCII-corpus assumption): block slice
    // [i·L/60+1 .. (i+1)·L/60] 1-based inclusive == the kernel's
    // [i·L/60, (i+1)·L/60) 0-based half-open
    "mm_phash_neardup" ->
      ("WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents WHERE length(text) >= 60), " +
       "codes AS (SELECT doc_id, L, list_transform(range(1, L+1), j -> unicode(text[j])) AS cs FROM d), " +
       "blocks AS (SELECT doc_id, list_sum(cs)::DOUBLE / L AS gavg, " +
       "list_transform(range(0, 60), i -> " +
       "list_sum(cs[(i*L//60 + 1):((i+1)*L//60)])::DOUBLE / greatest((i+1)*L//60 - i*L//60, 1)) AS bavgs " +
       "FROM codes), " +
       "sig AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), i -> " +
       "CASE WHEN bavgs[i+1] > gavg THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS h FROM blocks) " +
       "SELECT id_a, id_b, hamming FROM (" +
       "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
       "bit_count(xor(a.h, b.h))::BIGINT AS hamming FROM sig a, sig b WHERE a.doc_id < b.doc_id) " +
       s"WHERE hamming <= $MmPhashMaxHamming"),
    "p4_profile_columns" -> duckProfile,
    "mm_decode_features" ->
      ("SELECT doc_id, length(text)::BIGINT AS f_len, " +
       "(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')))::BIGINT AS f_vowels, " +
       "ascii(substr(text, 1, 1))::BIGINT AS f_head FROM documents"),
    "mm_resize" ->
      ("SELECT doc_id, length(text)::BIGINT AS orig_len, " +
       "least(length(text), 256)::BIGINT AS resized_len, " +
       "ascii(substr(text, 1, 1))::BIGINT AS head_byte, " +
       "ascii(substr(text, least(length(text), 256)::INT, 1))::BIGINT AS tail_byte " +
       "FROM documents"),
    "p1_provenance" ->
      ("SELECT 'p1_orders_summary' AS step, " +
       "count(DISTINCT o_orderpriority)::BIGINT AS recorded_rows, " +
       "TRUE AS rows_match FROM orders"),
    "mm_frame_sample" ->
      ("SELECT doc_id, (f - 1)::BIGINT AS frame_idx, " +
       "length(substr(text, ((f - 1) * 100 + 1)::INT, 100))::BIGINT AS frame_len, " +
       "ascii(substr(text, ((f - 1) * 100 + 1)::INT, 1))::BIGINT AS head_byte FROM (" +
       "SELECT doc_id, text, unnest(generate_series(1, " +
       "greatest(CAST(ceil(length(text) / 100.0) AS BIGINT), 1))) AS f FROM documents)"),
    "p3_constraint_check" ->
      ("SELECT 'totalprice_positive' AS rule, count(*) FILTER (NOT (o_totalprice > 0)) AS n_violations FROM orders " +
       "UNION ALL SELECT 'status_enum', count(*) FILTER (NOT (o_orderstatus IN ('O','F','P'))) FROM orders " +
       "UNION ALL SELECT 'orderkey_not_null', count(*) FILTER (o_orderkey IS NULL) FROM orders " +
       "UNION ALL SELECT 'date_in_range', count(*) FILTER (NOT (year(o_orderdate) >= 1990)) FROM orders"),
  )
}
