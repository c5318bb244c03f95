package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{ScratchDirs, Tables}

/** Sources & sinks pack (SURVEY §2.1): the reference's scan/sink
  * surface exercised as oracle-checkable roundtrips — gzipped TSV
  * (S1/K1), XML record parsing with the 3-way date coalesce (S2),
  * line-list text artifacts (S4/K3), and key-level resume (S7).
  *
  * Roundtrips write to a per-SF temp dir then read back through the
  * real source path, so the serializer AND the parser sit in the
  * oracle-compared path. At 100 TB the TSV path is exactly S1's
  * caveat: gzip text is unsplittable — one task per file — so the
  * engine re-encodes to parquet at the ingestion edge (this pack is
  * that edge).
  */
object SourceQueries {

  /** S1+K1: TSV-with-header write (gzip) → schema'd TSV scan. */
  def s1TsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("sources", dir, "lineitem_tsv")
    // partitioned gzip output: gzip text is unsplittable, so ONE file
    // would serialize both the write and the read-back on single tasks
    // (the round-1 shape; worst observed 24 s) — many files keep both
    // directions parallel, which is also the only workable layout at
    // 100 TB (SURVEY §2.1 S1 scale note)
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey"), col("l_returnflag"), col("l_quantity"))
      .repartition(spark.sparkContext.defaultParallelism, col("l_orderkey"))
      .write.mode("overwrite")
      .option("sep", "\t").option("header", "true").option("compression", "gzip")
      .csv(out)
    val schema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
      StructField("l_returnflag", StringType), StructField("l_quantity", DoubleType)))
    spark.read.option("sep", "\t").option("header", "true").schema(schema).csv(out)
  }

  /** JSONL roundtrip (net-new): the training-data interchange format —
    * documents written as gzipped JSON-lines, read back with an
    * EXPLICIT schema (never inferSchema at scale: inference is a full
    * extra pass and can drift run-to-run), then aggregated per lang.
    * Same unsplittable-gzip caveat as S1 → partitioned output keeps
    * both directions parallel. Writer and parser both sit in the
    * oracle-compared path. */
  def s8JsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("sources", dir, "documents_jsonl")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      .write.mode("overwrite").option("compression", "gzip").json(out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("n_chars", LongType), StructField("text", StringType)))
    spark.read.schema(schema).json(out)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_len"))
  }

  /** ORC roundtrip (net-new): the second columnar format a complete
    * engine speaks; predicate pushdown and column pruning apply on the
    * read-back exactly as with parquet. */
  def s9OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("sources", dir, "lineitem_orc")
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
      .write.mode("overwrite").orc(out)
    spark.read.orc(out)
      .filter(col("l_quantity") >= 25)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
  }

  /** Malformed-record quarantine (net-new): PERMISSIVE parse with a
    * corrupt-record column — the ingest-edge operator every large feed
    * needs (drop nothing silently, quarantine unparseable rows for
    * inspection). A TSV feed is written with a deterministic corruption
    * (every 13th key gets a non-numeric price), read back with an
    * explicit schema + `_corrupt_record`, and summarized into good/bad
    * counts and the good-side total — so the parser's error channel
    * itself is the oracle-compared behavior. DROPMALFORMED would
    * silently shrink the row count; PERMISSIVE + quarantine keeps the
    * feed auditable. */
  def s10PermissiveBadRecords(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("sources", dir, "orders_bad_tsv")
    Tables.orders(spark, dir)
      .select(concat(col("o_orderkey"), lit("\t"),
        when(col("o_orderkey") % 13 === 0, lit("notanumber"))
          .otherwise(round(col("o_totalprice"), 2).cast("string"))).as("value"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("o_orderkey", LongType), StructField("price", DoubleType),
      StructField("_corrupt_record", StringType)))
    spark.read.option("sep", "\t").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema).csv(out)
      .agg(sum(col("_corrupt_record").isNull.cast("long")).as("n_good"),
        sum(col("_corrupt_record").isNotNull.cast("long")).as("n_quarantined"),
        round(sum(when(col("_corrupt_record").isNull, col("price"))), 2).as("sum_good_price"))
  }

  /** S2: XML article records → parsed extraction with the reference's
    * 3-way date coalesce (process_pubmed.sh:50-54: first non-null of
    * three XPath alternatives). XML is BUILT from `orders` rows, parsed
    * back with `from_xml`; the oracle computes the same fields
    * relationally — so the XML serializer+parser round-trip is what is
    * being checked. */
  def s2XmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val year = substring(col("o_orderdate").cast("string"), 1, 4)
    // one of three date slots populated, by key — like PubMed's
    // ArticleDate | JournalIssue PubDate | MedlineDate alternatives
    val xml = concat(
      lit("<article><id>"), col("o_orderkey"), lit("</id>"),
      when(col("o_orderkey") % 3 === 0, concat(lit("<adate>"), year, lit("</adate>")))
        .when(col("o_orderkey") % 3 === 1, concat(lit("<jdate>"), year, lit("</jdate>")))
        .otherwise(concat(lit("<mdate>"), year, lit("</mdate>"))),
      lit("<prio>"), col("o_orderpriority"), lit("</prio></article>"))
    val schema = "struct<id:long,adate:string,jdate:string,mdate:string,prio:string>"
    o.select(from_xml(xml, lit(schema)).as("a"))
      .select(col("a.id").as("order_id"),
        coalesce(col("a.adate"), col("a.jdate"), col("a.mdate")).cast("int").as("pub_year"),
        col("a.prio").as("priority"))
  }

  /** S4+K3: sorted-unique line-list text sink → line scan (the
    * mesh-tag artifact shape: one value per line). */
  def s4LineListRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("sources", dir, "types_txt")
    Tables.part(spark, dir)
      .select(concat(lit("TYPE:"), col("p_type")).as("value"))
      .distinct().orderBy(col("value"))
      .coalesce(1).write.mode("overwrite").text(out)
    spark.read.text(out)
      .select(regexp_replace(col("value"), "^TYPE:", "").as("p_type"))
  }

  /** K4 — per-file sink + concat publish (process_pubmed.sh:147-151:
    * each worker writes its own part file, the publish step `cat`s
    * them into ONE artifact in worker order). The Spark-native
    * equivalent: a range-partitioned, within-partition-sorted text
    * write (part files in filename order ARE global order — the
    * parallel-write half stays fully distributed), then a driver-side
    * FileSystem stream-stitch of the part files (bounded by file
    * COUNT, one buffered byte-copy per part; no row ever materializes
    * on the driver). The read-back pairs each line with its position
    * in the published file, so the oracle (row_number over the sorted
    * projection) checks the CONCAT ORDER end-to-end, not just the line
    * set.
    *
    * SCALE NOTE — two publish shapes, choose by artifact size. This
    * shape (stitch to ONE file) is the faithful mapping of the
    * reference's `cat`, and its cost bound is explicit: the full
    * artifact BYTE volume transits one driver-side copy loop (no rows,
    * constant memory, but driver-NIC-bound — fine for the
    * reference-sized exports this models, wrong for a 100 TB corpus).
    * At corpus scale, publish the range-partitioned sorted part files
    * AS the artifact (filename order IS global order, so consumers
    * stream `part-00000, part-00001, …` as if concatenated) and
    * concat, if ever, at the download edge — the write stays fully
    * distributed and no byte ever crosses the driver. */
  def k4FileConcatPublish(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val outDir = ScratchDirs.of("sources", dir, "k4_parts")
    Tables.supplier(spark, dir)
      .select(col("s_name").as("value"))
      .repartitionByRange(4, col("value"))
      .sortWithinPartitions("value")
      .write.mode("overwrite").text(outDir)
    val fs = new Path(outDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new Path(outDir))
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val single = new Path(ScratchDirs.of("sources", dir, "k4_published", "all.txt"))
    val out = fs.create(single, true)
    try parts.foreach { p =>
      val in = fs.open(p.getPath)
      try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      finally in.close()
    } finally out.close()
    val lines = spark.read.text(single.toString)
    // zipWithIndex over the single-file scan: split order == byte order
    // == published line order, so rn is the file position
    val bySession = lines.sparkSession
    import bySession.implicits._
    lines.rdd.zipWithIndex
      .map { case (r, i) => (i + 1, r.getString(0)) }
      .toDF("rn", "s_name")
  }

  /** S3: MeSH-style nested XML scan (process_mesh.py:85-111) — records
    * carrying a repeated child list (`HeadingMappedToList`), parsed to
    * an array column, `*`-prefix stripped (process_mesh.py:36,107),
    * exploded, and mapping-joined against a kept-descriptor dimension
    * (SCR kept iff ANY mapped DUI is kept; one representative name from
    * the kept side — process_mesh.py:144-161). XML is BUILT from `part`
    * rows and parsed back with `from_xml`, so the nested-array parse
    * path is what is oracle-checked; the dimension (nation) is tiny and
    * broadcast — the fact side never shuffles before the final per-key
    * aggregation. */
  def s3XmlNestedMapping(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
    // two mapped entries per record, first one *-prefixed — like an SCR
    // whose HeadingMappedTo DUIs may carry the leading asterisk
    val xml = concat(
      lit("<scr><ui>"), col("p_partkey"), lit("</ui><mapped><m>*N"),
      pmod(col("p_partkey"), lit(25)), lit("</m><m>N"),
      pmod(col("p_size"), lit(25)), lit("</m></mapped></scr>"))
    val schema = "struct<ui:long,mapped:struct<m:array<string>>>"
    val mapped = p.select(from_xml(xml, lit(schema)).as("r"))
      .select(col("r.ui").as("scr_ui"), explode(col("r.mapped.m")).as("raw"))
      .select(col("scr_ui"), regexp_replace(col("raw"), "^\\*", "").as("code"))
      .distinct()
    val dim = Tables.nation(spark, dir).select(
      concat(lit("N"), col("n_nationkey")).as("code"),
      col("n_name").as("name"),
      (col("n_regionkey") <= 1).as("kept"))
    mapped.join(broadcast(dim), Seq("code"))
      .groupBy(col("scr_ui"))
      .agg(max(when(col("kept"), 1).otherwise(0)).as("any_kept"),
        min(when(col("kept"), col("name"))).as("rep_name"))
      .filter(col("any_kept") === 1)
      .select(col("scr_ui"), col("rep_name"))
  }

  /** S5: source-side ingestion manifest (download_raw.sh:19-39,
    * finalize_realease.py:741-798 capture a per-input-file release
    * manifest — listing, counts, checksums — before processing). The
    * feed is staged as a sharded directory; the manifest query then
    * reads it back and derives, PER INPUT FILE, the row count, key
    * range, file count, and an order-independent content signature
    * (bit_xor of per-row poly61 digests — xor is commutative, never
    * overflows, and scales to any row count where a modular SUM would
    * wrap). File identity comes from the scan's own `_metadata`
    * column, so the manifest is computed at the source, not trusted
    * from the producer — the other half of the P1 provenance story. */
  def s5IngestManifest(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("sources", dir, "ingest_feed")
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), (col("o_orderkey") % 4).as("shard"))
      // explicit repartition on the shard key: each shard lives in
      // exactly one task, so each partition dir gets exactly one file —
      // the manifest's n_files is then itself an oracle-checked value
      .repartition(4, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(out)
    spark.read.parquet(out)
      .select(col("o_orderkey"), col("o_orderstatus"), col("shard"),
        col("_metadata.file_path").as("path"))
      .withColumn("digest",
        graft.expr.hashfunctions.poly61(concat_ws("|", col("o_orderkey"), col("o_orderstatus"))))
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(countDistinct(col("path")).as("n_files"),
        count(lit(1)).as("n_rows"),
        expr("bit_xor(digest)").as("content_sig"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))
  }

  /** U1: ordered multi-file concatenation (process_pubmed.sh:147-151 —
    * baseline + updatefiles concatenated into one stream). Two slices
    * are staged as SEPARATE directories and read back as ONE scan over
    * the path LIST — Spark's native form of the reference's `cat f1
    * f2`: a single FileScan whose partitions preserve per-file
    * provenance via `_metadata`, with no shuffle added by the union.
    * The aggregate pins both that all rows arrive and that each row's
    * source file is attributed correctly. */
  def u1UnionAll(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("sources", dir, "union_feed")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"), col("l_quantity"))
    li.filter(col("l_linenumber") <= 4).write.mode("overwrite").parquet(s"$out/baseline")
    li.filter(col("l_linenumber") > 4).write.mode("overwrite").parquet(s"$out/update1")
    spark.read.parquet(s"$out/baseline", s"$out/update1")
      .withColumn("src",
        regexp_extract(col("_metadata.file_path"), "union_feed/([a-z0-9]+)/", 1))
      .groupBy(col("src"), col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"), round(sum(col("l_quantity")), 2).as("sum_qty"))
  }

  /** S7/T2: key-level resume — anti-join the input against the
    * already-done key set, then summarize remaining work. */
  def s7ResumeAnti(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val done = o.filter(col("o_orderkey") % 7 === 0).select(col("o_orderkey"))
    o.join(done, Seq("o_orderkey"), "left_anti")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_remaining"))
  }

  /** Schema evolution (net-new): a long-lived ingestion layout where a
    * later batch ADDS a column. Batch 1 writes (o_orderkey,
    * o_totalprice); batch 2 appends files that also carry
    * o_orderstatus; a single `mergeSchema` read reconciles them —
    * batch-1 rows surface NULL for the added column, and the aggregate
    * proves both vintages flow through one scan. At 100 TB this is the
    * standard additive-evolution path (the footer-schema union is
    * planning-time work; no data rewrite). */
  def s11SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("sources", dir, "orders_evolved")
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderkey") % 3 === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(out)
    o.filter(col("o_orderkey") % 3 === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("append").parquet(out)
    spark.read.option("mergeSchema", "true").parquet(out)
      .groupBy(coalesce(col("o_orderstatus"), lit("PRE_EVOLUTION")).as("status"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
  }

  /** S12: the line-list artifact read through the CUSTOM DataSource V2
    * connector ([[graft.sources.LineListSource]]) — prefix predicate
    * and column set pushed INTO the reader (spec asserts both off the
    * BatchScan node), one partition per staged file. The corpus's
    * distinct term list is staged as two text files, read back via the
    * connector with a `startsWith("s")` pushdown, and aggregated per
    * 2-char prefix; the oracle replays the whole thing from
    * `documents` directly (the staging is deterministic). */
  def s12CustomSource(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("sources", dir, "linelist_v2")
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("value"))
      .filter(col("value") =!= "").distinct().orderBy(col("value"))
      .coalesce(2).write.mode("overwrite").text(out)
    spark.read.format("graft.sources.LineListSource").option("path", out).load()
      .filter(col("value").startsWith("s"))
      .groupBy(substring(col("value"), 1, 2).as("pfx"))
      .agg(count(lit(1)).as("n_terms"), min(col("value")).as("first_term"),
        max(col("len")).cast("long").as("max_len"))
  }

  /** S14: aggregation pushed INTO the custom connector
    * ([[graft.sources.LineListSource]] `SupportsPushDownAggregates`):
    * the ungrouped COUNT/MIN/MAX — composed with the pushed `s`-prefix
    * filter — collapses to one partial-stats row per staged file
    * computed inside the reader, and Spark's final aggregate merges
    * those. The spec asserts `pushedAggs` off the BatchScan; the
    * oracle replays the stats from `documents` directly. At 100 TB
    * this is the parquet-footer-stats shape for a footerless format:
    * the scan moves file-count rows, not line-count rows. */
  def s14AggPushdown(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("sources", dir, "linelist_aggpush")
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("value"))
      .filter(col("value") =!= "").distinct().orderBy(col("value"))
      .coalesce(2).write.mode("overwrite").text(out)
    spark.read.format("graft.sources.LineListSource").option("path", out).load()
      .filter(col("value").startsWith("s"))
      .agg(count(col("value")).as("n_terms"),
        min(col("value")).as("first_term"), max(col("value")).as("last_term"),
        max(col("len")).cast("long").as("max_len"))
  }

  /** S13: round-trip through the connector's WRITE side — the distinct
    * term list goes out via the custom `BatchWrite` (per-task temp
    * files, driver-side rename commit — the real two-phase protocol)
    * and comes back through the custom scan; the aggregate must equal
    * the oracle's direct replay, which proves the sink published
    * exactly one visible copy of every row (no temp leakage, no loss). */
  def s13CustomSink(spark: SparkSession, dir: String): DataFrame = {
    val out = ScratchDirs.of("sources", dir, "linelist_sink")
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("value"))
      .filter(col("value") =!= "").distinct()
      .select(col("value"), length(col("value")).cast("int").as("len"))
      .repartition(3)
      .write.format("graft.sources.LineListSource")
      .option("path", out).mode("overwrite").save()
    spark.read.format("graft.sources.LineListSource").option("path", out).load()
      .agg(count(lit(1)).as("n_terms"),
        min(col("value")).as("first_term"), max(col("value")).as("last_term"),
        sum(col("len")).as("sum_len"))
  }

  /** K2: Excel sink → read-back verification (closes the one sink the
    * pack had documented out-of-engine). The distributed plan shrinks
    * `part` to a per-brand report (the reference's final Excel emit is
    * exactly such a report, finalize_realease.py:584-587), the
    * [[graft.sources.Xlsx]] writer ships it as a real OOXML .xlsx —
    * including the X17 HYPERLINK column as true formula cells — and
    * the read-back must equal the oracle's direct replay, proving the
    * sink round-trips values, types, unicode, and formulas. */
  def k2ExcelRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Xlsx
    val report = Tables.part(spark, dir)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"),
        round(avg(col("p_retailprice")), 3).as("avg_price"))
      .withColumn("link", concat(
        lit("=HYPERLINK(\"https://example.org/brand/"), col("p_brand"),
        lit("\",\""), col("p_brand"), lit("\")")))
      .orderBy(col("p_brand"))
    val out = ScratchDirs.of("sources", dir, "k2_excel", "report.xlsx")
    Xlsx.write(report, out, formulaColumns = Set("link"))
    Xlsx.read(spark, out).select(
      col("p_brand"),
      col("n_parts").cast("long").as("n_parts"),
      col("avg_price").cast("double").as("avg_price"),
      col("link"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k4_file_concat_publish" -> (k4FileConcatPublish _),
    "k2_excel_roundtrip" -> (k2ExcelRoundtrip _),
    "s13_custom_sink" -> (s13CustomSink _),
    "s12_custom_source" -> (s12CustomSource _),
    "s14_agg_pushdown" -> (s14AggPushdown _),
    "s11_schema_evolution" -> (s11SchemaEvolution _),
    "s1_tsv_roundtrip"       -> (s1TsvRoundtrip _),
    "s2_xml_extract"         -> (s2XmlExtract _),
    "s3_xml_nested_mapping"  -> (s3XmlNestedMapping _),
    "s4_line_list_roundtrip" -> (s4LineListRoundtrip _),
    "s5_ingest_manifest"     -> (s5IngestManifest _),
    "s7_resume_anti"         -> (s7ResumeAnti _),
    "u1_union_all"           -> (u1UnionAll _),
    "s8_jsonl_roundtrip"     -> (s8JsonlRoundtrip _),
    "s9_orc_roundtrip"       -> (s9OrcRoundtrip _),
    "s10_permissive_badrecords" -> (s10PermissiveBadRecords _),
  )

  val oracle: Map[String, String] = Map(
    "k4_file_concat_publish" ->
      ("SELECT CAST(row_number() OVER (ORDER BY s_name) AS BIGINT) AS rn, s_name " +
       "FROM supplier"),
    "k2_excel_roundtrip" ->
      ("SELECT p_brand, count(*) AS n_parts, round(avg(p_retailprice), 3) AS avg_price, " +
       "'=HYPERLINK(\"https://example.org/brand/' || p_brand || '\",\"' || p_brand || '\")' AS link " +
       "FROM part GROUP BY p_brand"),
    "s13_custom_sink" ->
      ("SELECT count(*) AS n_terms, min(value) AS first_term, max(value) AS last_term, " +
       "sum(length(value))::BIGINT AS sum_len " +
       "FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS value FROM documents) " +
       "WHERE value <> ''"),
    "s14_agg_pushdown" ->
      ("SELECT count(*)::BIGINT AS n_terms, min(value) AS first_term, " +
       "max(value) AS last_term, max(length(value))::BIGINT AS max_len " +
       "FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS value FROM documents) " +
       "WHERE value <> '' AND starts_with(value, 's')"),
    "s12_custom_source" ->
      ("SELECT substr(value, 1, 2) AS pfx, count(*) AS n_terms, " +
       "min(value) AS first_term, max(length(value))::BIGINT AS max_len " +
       "FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS value FROM documents) " +
       "WHERE value <> '' AND starts_with(value, 's') GROUP BY pfx"),
    "s1_tsv_roundtrip" ->
      "SELECT l_orderkey, l_partkey, l_returnflag, l_quantity FROM lineitem",
    "s2_xml_extract" ->
      ("SELECT o_orderkey AS order_id, CAST(substr(CAST(o_orderdate AS VARCHAR), 1, 4) AS INT) " +
       "AS pub_year, o_orderpriority AS priority FROM orders"),
    "s3_xml_nested_mapping" ->
      ("WITH m AS (SELECT p_partkey AS scr_ui, '*N' || (p_partkey % 25) AS raw FROM part " +
       "UNION ALL SELECT p_partkey, 'N' || (p_size % 25) FROM part), " +
       "c AS (SELECT DISTINCT scr_ui, regexp_replace(raw, '^\\*', '') AS code FROM m), " +
       "d AS (SELECT 'N' || n_nationkey AS code, n_name AS name, n_regionkey <= 1 AS kept FROM nation) " +
       "SELECT scr_ui, min(CASE WHEN kept THEN name END) AS rep_name " +
       "FROM c JOIN d USING (code) GROUP BY scr_ui HAVING max(CASE WHEN kept THEN 1 ELSE 0 END) = 1"),
    "s4_line_list_roundtrip" ->
      "SELECT DISTINCT p_type FROM part",
    "s5_ingest_manifest" ->
      ("SELECT o_orderkey % 4 AS shard, 1::BIGINT AS n_files, count(*) AS n_rows, " +
       s"bit_xor(${graft.expr.hashfunctions.duckPoly61("(o_orderkey::VARCHAR || '|' || o_orderstatus)")}) AS content_sig, " +
       "min(o_orderkey) AS min_key, max(o_orderkey) AS max_key " +
       "FROM orders GROUP BY shard"),
    "u1_union_all" ->
      ("SELECT src, l_returnflag, count(*) AS n_rows, round(sum(l_quantity), 2) AS sum_qty " +
       "FROM (SELECT 'baseline' AS src, l_returnflag, l_quantity FROM lineitem WHERE l_linenumber <= 4 " +
       "UNION ALL SELECT 'update1', l_returnflag, l_quantity FROM lineitem WHERE l_linenumber > 4) " +
       "GROUP BY src, l_returnflag"),
    "s7_resume_anti" ->
      ("SELECT o_orderstatus, count(*) AS n_remaining FROM orders " +
       "WHERE o_orderkey % 7 != 0 GROUP BY o_orderstatus"),
    "s8_jsonl_roundtrip" ->
      ("SELECT lang, count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars, " +
       "sum(length(text))::BIGINT AS sum_len FROM documents GROUP BY lang"),
    "s9_orc_roundtrip" ->
      ("SELECT l_returnflag, count(*) AS n_items, round(sum(l_extendedprice), 2) AS sum_price " +
       "FROM lineitem WHERE l_quantity >= 25 GROUP BY l_returnflag"),
    "s11_schema_evolution" ->
      ("SELECT (CASE WHEN o_orderkey % 3 = 1 THEN o_orderstatus ELSE 'PRE_EVOLUTION' END) AS status, " +
       "count(*) AS n_orders, round(sum(o_totalprice), 2) AS sum_price " +
       "FROM orders WHERE o_orderkey % 3 IN (0, 1) GROUP BY status"),
    "s10_permissive_badrecords" ->
      ("SELECT sum((o_orderkey % 13 != 0)::BIGINT)::BIGINT AS n_good, " +
       "sum((o_orderkey % 13 = 0)::BIGINT)::BIGINT AS n_quarantined, " +
       "round(sum(CASE WHEN o_orderkey % 13 != 0 THEN round(o_totalprice, 2) END), 2) AS sum_good_price " +
       "FROM orders"),
  )
}
