package graft

import graft.expr._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.unsafe.types.UTF8String

/** SQL surface of the library's custom expressions, registered into
  * an existing session (`Functions.register`) or through
  * `spark.sql.extensions=graft.plans.GraftExtensions` at session build
  * (which also installs the MultiContains optimizer rule). Registered:
  * every static-call kernel in [[graft.expr.Kernels]], the hand-written
  * `dot_product`, `block_hash60`, `multi_contains_any` and
  * `bpe_apply_merges`, the `topk_mean` and `topk_pairs` aggregates, and
  * Spark's bloom-filter pair. Not registered: the MisraGries heavy-hitter
  * aggregate and `max_tuple` / `min_tuple`, which are column-API only.
  * Builders take SQL literals for the non-column parameters (pattern
  * lists, k).
  */
object Functions {

  private def str(e: Expression): String = e.eval() match {
    case s: UTF8String => s.toString
    case s: String => s
    case other => other.toString
  }
  private def int(e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => other.toString.toInt
  }

  /** name → builder over analyzed argument expressions. Aggregate
    * builders return the raw AggregateFunction; the analyzer wraps it. */
  val builders: Seq[(String, Seq[Expression] => Expression)] =
    Kernels.all.map(k => k.name -> (k.expr _)) ++ Seq(
    "dot_product"         -> (e => DotProduct(e(0), e(1))),
    "block_hash60"        -> (e => BlockHash60(e.head)),
    "multi_contains_any"  -> (e => MultiContainsAny(e.head, e.tail.map(str))),
    // bpe_apply_merges(word, a1, b1, a2, b2, ...): the whole ordered
    // merge table in one call — pairs as alternating literals
    "bpe_apply_merges"    -> (e => {
      val pairs = e.tail.map(str).grouped(2).map(p => (p(0), p(1))).toSeq
      BpeApplyMerges(e.head, pairs.map(_._1), pairs.map(_._2))
    }),
    "topk_mean"           -> (e => TopKMean(e(0), int(e(1)))),
    "topk_pairs"          -> (e => TopKPairs(e(0), e(1), int(e(2)))),
    // Spark's internal runtime-filter bloom pair, surfaced as SQL
    // functions: build a bloom over the dim keys (one aggregate), probe
    // it scan-side on the fact (scalar-subquery broadcast) — the J2
    // semi-join scale path when the key set outgrows a literal IN list.
    "bloom_filter_agg" -> (e =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(e(0), e(1), e(2))),
    "bloom_might_contain" -> (e =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(e(0), e(1))),
  )

  /** Register all functions into an existing session (temp functions,
    * session-scoped). */
  def register(spark: SparkSession): Unit =
    builders.foreach { case (name, b) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, b, "scala_udf")
    }
}
