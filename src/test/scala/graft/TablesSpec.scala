package graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** [[Tables.parquet]] reads a schema from one footer on the driver: it
  * must resolve every layout the harness reads to the schema
  * `spark.read.parquet` infers, and start no Spark job doing it. */
class TablesSpec extends SparkSpecBase {

  private def inferred(path: String) = spark.read.parquet(path).schema

  private def nanosAsLong[T](v: String)(body: => T): T =
    Confs.withSessionConf(spark, "spark.sql.legacy.parquet.nanosAsLong", v)(body)

  private def jobsStartedBy(build: => DataFrame): Int = {
    val (out, run) = Ledger.run(spark, "tables")(build)(_ => ())
    out.toTry.get
    run.eager
  }

  test("every harness table resolves to the inferred schema, nanosAsLong on and off") {
    val tables = new java.io.File(sfDir).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    assert(tables.contains("events") && tables.size == 10, tables)
    Seq("true", "false").foreach { v =>
      nanosAsLong(v) {
        tables.foreach { t =>
          assert(Tables.read(spark, sfDir, t).schema == inferred(Tables.path(sfDir, t)),
            s"$t, nanosAsLong=$v")
        }
      }
    }
  }

  test("a Spark-written part-file directory and a SessionMemo artifact resolve to the inferred schema") {
    val dir = java.nio.file.Files.createTempDirectory("tables_parts").toString + "/t.parquet"
    spark.range(40).select(col("id"), (col("id") % 3).cast("int").as("k"),
        array(col("id"), col("id") + 1).as("arr"),
        struct(col("id").as("a"), lit("x").as("b")).as("st"),
        map(lit("m"), col("id")).as("mp"),
        timestamp_micros(col("id")).as("ts"),
        timestamp_micros(col("id")).cast("timestamp_ntz").as("ntz"),
        (col("id") / 7).cast("decimal(12,3)").as("dec"))
      .repartition(3).write.parquet(dir)
    assert(new java.io.File(dir).list().count(_.startsWith("part-")) == 3)
    assert(Tables.parquet(spark, dir).schema == inferred(dir))

    val memo = SessionMemo.parquet(spark, "tables_spec", sfDir)(
      Tables.nation(spark, sfDir).groupBy(col("n_regionkey"))
        .agg(collect_list(col("n_name")).as("names"), count(lit(1)).as("n")))
    val artifact = new Path(memo.inputFiles.head).getParent.toString
    assert(memo.schema == inferred(artifact))
  }

  test("building a table frame starts no Spark job; spark.read.parquet starts one") {
    assert(jobsStartedBy(Tables.lineitem(spark, sfDir)) == 0)
    assert(jobsStartedBy(spark.read.parquet(Tables.path(sfDir, "lineitem"))) == 1)
  }

  test("a TIMESTAMP(NANOS) events file resolves as inference does, and Tables.events normalizes it") {
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 event_id; " +
        "required int64 ts (TIMESTAMP(NANOS,true)); required binary event_type (STRING); }")
    val dir = java.nio.file.Files.createTempDirectory("events_nanos").toString
    val nanos = Seq(1L -> 1717243200123456789L, 2L -> 1717246800000000999L)
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(Tables.path(dir, "events")), new Configuration()))
      .withType(schema).build()
    val rows = new SimpleGroupFactory(schema)
    try nanos.foreach { case (id, ns) =>
      writer.write(rows.newGroup().append("event_id", id).append("ts", ns).append("event_type", "click"))
    } finally writer.close()

    nanosAsLong("true") {
      val ev = Tables.read(spark, dir, "events")
      assert(ev.schema == inferred(Tables.path(dir, "events")))
      assert(ev.schema("ts").dataType == LongType)
      val normalized = Tables.events(spark, dir)
      assert(normalized.schema("ts").dataType == TimestampType)
      val micros = normalized.select(col("event_id"), unix_micros(col("ts")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1).toSeq
      assert(micros == nanos.map { case (id, ns) => id -> Math.floorDiv(ns, 1000L) })
    }
    // without the legacy conf neither path can surface the column
    nanosAsLong("false") {
      Seq[() => Any](() => Tables.read(spark, dir, "events"),
          () => inferred(Tables.path(dir, "events"))).foreach { read =>
        val e = intercept[Exception](read())
        val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(messages.exists(m => m != null && m.contains("TIMESTAMP(NANOS,true)")), e)
      }
    }
  }
}
