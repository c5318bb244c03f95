package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType}

/** `block_hash60(payload)` — block-average perceptual hash of a binary
  * payload (kernel and rationale in [[TextHash.blockHash60]]). Payloads
  * shorter than 60 bytes cannot fill the 60 blocks and evaluate to
  * NULL (rather than a degenerate signature that would alias unrelated
  * short payloads into hamming-0 "near-dups"). */
case class BlockHash60(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"block_hash60 requires binary, got ${other.catalogString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[Array[Byte]]
    if (b.length < 60) null else TextHash.blockHash60(b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |if ($c.length < 60) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.expr.TextHash.blockHash60($c);
         |}
       """.stripMargin)

  override protected def withNewChildInternal(newChild: Expression): BlockHash60 = copy(newChild)
  override def prettyName: String = "block_hash60"
}

object hashfunctions {
  /** SimHash64 — 64-bit near-dup fingerprint of a token array (SURVEY §7
    * dedup north-star; kernel in [[TextHash.simhash64]]). */
  def simhash64(c: Column): Column = Kernels.SimHash64(c)
  def block_hash60(c: Column): Column = Bridge.column(BlockHash60(Bridge.expression(c)))
  /** `poly61(s)` — the oracle-expressible polynomial string hash (kernel
    * and rationale in [[TextHash.poly61]]): the hash under every
    * driver-checkable dedup/fingerprint pipeline. */
  def poly61(c: Column): Column = Kernels.PolyHash61(c)
  /** `word_gram_poly61(tokens, n)` — fused n-gram hashing (kernel and
    * rationale in [[TextHash.wordGramPoly61]]): one pass per row, no
    * gram-string materialization, no per-element lambda. */
  def word_gram_poly61(c: Column, n: Int): Column = Kernels.WordGramPoly61(c, lit(n))

  /** DuckDB twin of [[TextHash.poly61]] over a SQL string expression
    * `g`. The expression is substituted FOUR times (two folds × two
    * uses each), so it is re-evaluated per substitution: callers may
    * pass any PURE, DETERMINISTIC expression (column refs, substr,
    * concatenations — as duckCdc and ta_repetition_quality do), never
    * anything volatile or stateful. Lambda vars are `pa`/`pc`/`pi` to
    * avoid capturing outer lambda names. */
  def duckPoly61(g: String): String =
    (s"(list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, length($g)), pi -> unicode($g[pi]))), " +
     "(pa, pc) -> (pa * 131 + pc) % 1000000007) * 998244353 + " +
     s"list_reduce(list_prepend(0::BIGINT, list_transform(generate_series(1, length($g)), pi -> unicode($g[pi]))), " +
     "(pa, pc) -> (pa * 137 + pc) % 998244353))")
}
