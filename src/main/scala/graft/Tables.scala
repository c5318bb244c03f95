package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterSchema

/** Loaders for the harness parquet tables (TESTDATA.md / FIXTURES.md §B).
  *
  * Every table read, and every [[SessionMemo]] artifact read back, is a
  * plain parquet scan through [[parquet]], so Catalyst handles column
  * pruning and predicate pushdown into the scan — at 100 TB the same
  * code path benefits from row-group skipping and (on a real cluster)
  * locality-aware split scheduling. Never cache here: callers decide
  * materialization.
  *
  * The schema comes from one footer read on the driver, not from
  * Spark's schema inference: `spark.read.parquet(path)` reads footers
  * inside a Spark job (`ParquetFileFormat.mergeSchemasInParallel`) even
  * for one file with `mergeSchema=false`, and at sf0.01 those jobs were
  * 23 of release_pipeline's 31 construct-time jobs per pass, ~25-30 ms
  * each on a 4-core machine. [[parquet]] reads the file's footer (for a
  * directory, that of its first data part file by name: inference with
  * `mergeSchema=false` also reads one part and assumes the rest match)
  * and converts it with Spark's own `readSchema` under the session conf,
  * so `nanosAsLong` and both `events.ts` layouts resolve exactly as
  * inference resolves them, and plans are unchanged.
  */
object Tables {
  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  /** `spark.read.parquet(path)` with the schema read from the footer on
    * the driver (see the object doc): starts no Spark job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(FooterSchema.of(spark, path)).parquet(path)

  def read(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, path(dir, name))

  /** Fact-table scan, redistributed across cores when the file layout
    * under-parallelizes the read. Parquet splits at row-group
    * boundaries; the harness tables are written as ONE row group per
    * file, so every scan otherwise collapses to a single task and all
    * scan-side expression work (shingling, JSON parse, regex) runs
    * serially — jstack on the aged bench showed exactly one RUNNABLE
    * executor thread. The production analogue is the standard explicit
    * redistribution after an unsplittable source (gzip text, tiny-file
    * dumps); on well-written multi-row-group data the same code keeps
    * the exchange but its cost stays one narrow pass, and filters still
    * push through Repartition into the scan (PushDownPredicates).
    * HASH partitioning on the table key (not round-robin) skips the
    * sort-before-repartition pass and lets a downstream groupBy/join on
    * the same key reuse the exchange. Applied ONLY where every consumer
    * does expensive per-row scan work (documents: shingling/cleaning/
    * tokenizing; embeddings: vector math) — relational tables are left
    * alone because their queries' first groupBy/join exchange already
    * parallelizes, and an unconditional repartition would just stack a
    * second shuffle under it (WindowQueriesSpec asserts exactly that).
    * CPU-heavy consumers of other tables opt in at the query site
    * (e.g. the JSON-parse scan over events). Dimensions broadcast. */
  private def fact(spark: SparkSession, dir: String, name: String,
                   key: String): DataFrame = {
    val df = read(spark, dir, name)
    df.repartition(spark.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col(key))
  }

  def region(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = read(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = read(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = read(spark, dir, "lineitem")
  /** `events.ts` has shipped in two parquet layouts: TIMESTAMP(NANOS)
    * (read as long nanos via the nanosAsLong legacy conf, then floor-
    * truncated to µs — same as DuckDB's ns→µs read) and TIMESTAMP(MICROS)
    * isAdjustedToUTC=false (read as TIMESTAMP_NTZ). Both are normalized
    * here to a session-TZ `TimestampType` carrying the raw parquet µs as
    * its internal micros (sessions pin UTC, so the NTZ cast is an
    * identity on the stored value), giving every downstream window/
    * event-time op ONE schema regardless of which layout the data
    * arrived in. Conversion is a codegen'd projection; pruning/pushdown
    * on the other columns is unaffected. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = read(spark, dir, "events")
    df.withColumn("ts", normalizeTs(df.schema("ts").dataType))
  }

  /** ts-column normalization shared by the batch loader and the
    * streaming feed ([[graft.queries.StreamingQueries]]): any shipped
    * layout → TimestampType whose internal micros equal the raw parquet
    * value (nanos floor-divided). */
  def normalizeTs(dt: org.apache.spark.sql.types.DataType): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    dt match {
      case LongType      => timestamp_micros(expr("ts div 1000"))
      case TimestampType => col("ts")
      case _             => col("ts").cast(TimestampType) // TIMESTAMP_NTZ layout
    }
  }
  /** Events redistributed for CPU-heavy scan consumers (JSON parse) —
    * see `fact` for when this is worth a shuffle. */
  def eventsRedistributed(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).repartition(spark.sparkContext.defaultParallelism,
      org.apache.spark.sql.functions.col("event_id"))
  def documents(spark: SparkSession, dir: String): DataFrame = fact(spark, dir, "documents", "doc_id")
  /** Un-redistributed documents scan for consumers whose scan-side work
    * is a TRIVIAL per-row projection (one hash/digest per row, no
    * shingling or tokenizing): for them the [[fact]] repartition shuffles
    * the whole text column to parallelize microseconds of CPU, and the
    * query's own first exchange — carrying only small partial-aggregate
    * or key rows — already parallelizes everything downstream. At scale
    * a multi-split table parallelizes the scan itself; at the harness's
    * one-row-group files the scan-side hash is the cheap part by three
    * orders of magnitude (r15, the 8-vs-32-core inversion diagnosis). */
  def documentsUnpinned(spark: SparkSession, dir: String): DataFrame = read(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = fact(spark, dir, "embeddings", "vec_id")
}
