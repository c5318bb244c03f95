package graft

import org.apache.spark.sql.functions._
import graft.expr.tupleagg.{max_tuple, min_tuple}

/** Pins `max_tuple`/`min_tuple` (graft.expr.TupleExtremum) to the
  * `max(struct(...))`/`min(struct(...))` semantics they replace at the
  * r15 call sites, AND to the plan property the rewrite exists for:
  * the aggregate must plan as a HashAggregate (primitive buffer slots),
  * not the SortAggregate the struct-buffered Max/Min force. */
class TupleExtremumSpec extends SparkSpecBase {

  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("max_tuple == max(struct): values, names, ties, negatives") {
    val df = Seq(
      ("a", 5.0, 10L), ("a", 5.0, 12L), ("a", 3.0, 99L),
      ("b", -1.0, 7L), ("b", -1.0, 3L),
      ("c", 0.0, 0L)
    ).toDF("g", "v", "id")
    val viaStruct = df.groupBy($"g")
      .agg(max(struct($"v", $"id")).as("m"))
      .select($"g", $"m.v", $"m.id")
    val viaTuple = df.groupBy($"g")
      .agg(max_tuple($"v", $"id").as("m"))
      .select($"g", $"m.v", $"m.id")
    assert(viaTuple.collect().toSet === viaStruct.collect().toSet)
  }

  test("min_tuple == min(struct) with alias field names") {
    val df = Seq((1L, 4), (1L, 2), (2L, 9), (1L, 7)).toDF("doc_id", "pos")
    val viaStruct = df.groupBy(lit(1))
      .agg(min(struct($"doc_id", ($"pos" + 1).as("p1"))).as("f"))
      .select($"f.doc_id", $"f.p1")
    val viaTuple = df.groupBy(lit(1))
      .agg(min_tuple($"doc_id", ($"pos" + 1).as("p1")).as("f"))
      .select($"f.doc_id", $"f.p1")
    assert(viaTuple.collect().toSeq === viaStruct.collect().toSeq)
  }

  test("an unaliased computed field fails, naming its position and column") {
    val computed = $"pos" + 1
    val e = intercept[IllegalArgumentException](min_tuple($"doc_id", computed))
    assert(e.getMessage.contains(s"argument 2 ($computed)") && e.getMessage.contains("alias"),
      e.getMessage)
  }

  test("NaN ranks largest and equal to itself — Spark struct-order parity") {
    val df = Seq(("g", Double.NaN, 1L), ("g", 100.0, 2L), ("g", Double.NaN, 0L))
      .toDF("g", "v", "id")
    val viaStruct = df.groupBy($"g").agg(max(struct($"v", $"id")).as("m"))
      .select($"m.id").as[Long].collect()
    val viaTuple = df.groupBy($"g").agg(max_tuple($"v", $"id").as("m"))
      .select($"m.id").as[Long].collect()
    assert(viaTuple.toSeq === viaStruct.toSeq) // NaN wins, tie -> id=1
  }

  test("plans as HashAggregate where max(struct) plans as SortAggregate") {
    val df = Seq(("a", 1.0, 1L)).toDF("g", "v", "id")
    val structPlan = plan(df.groupBy($"g").agg(max(struct($"v", $"id"))))
    val tuplePlan = plan(df.groupBy($"g").agg(max_tuple($"v", $"id")))
    assert(structPlan.contains("SortAggregate"),
      s"precondition changed — struct max no longer sort-based:\n$structPlan")
    assert(tuplePlan.contains("HashAggregate") && !tuplePlan.contains("SortAggregate"),
      s"max_tuple must hash-aggregate:\n$tuplePlan")
  }

  test("empty group via filter-to-empty yields null (global agg)") {
    val df = Seq((1.0, 1L)).toDF("v", "id").filter($"v" > 100)
    val r = df.agg(max_tuple($"v", $"id").as("m")).select($"m").collect()
    assert(r.length === 1 && r.head.isNullAt(0))
  }
}
