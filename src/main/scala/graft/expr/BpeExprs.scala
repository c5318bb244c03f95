package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The whole-merge-table BPE tokenization kernel (VERDICT r12 #3).
  *
  * Before r13, `bpe_apply` replayed the learned merge table as
  * |merges| chained `withColumn` folds — plan depth, analysis time,
  * and codegen size all LINEAR in vocabulary size, i.e. a plan that
  * would not even compile at a production 30k-merge vocab. This kernel
  * applies the ENTIRE ordered merge list to a word inside one codegen'd
  * expression: plan depth is constant in |merges|, and the merge table
  * rides into generated code as one reference object.
  *
  * Semantics are EXACTLY the per-merge left fold the DuckDB oracle
  * replays with `list_reduce` (TextAnalysisQueries.bpeMergeFold): start
  * from single characters; for each merge (a,b) in rank order, one
  * greedy left-to-right non-overlapping pass replaces a last-emitted
  * symbol `a` followed by `b` with `ab`, whole-symbol boundaries only.
  */
object BpeKernel {
  /** Apply ordered merges to a word; returns the space-joined symbol
    * representation. `abs(i)` is the precomputed `as(i)+bs(i)` — a pair
    * can only fire if its concatenation occurs in the raw word, so the
    * O(symbols) pass is skipped for merges that can't apply (at a big
    * merge table, most of them — the same trick as tokenizers' alphabet
    * prefilter, done with one memcmp-backed indexOf per merge). */
  def applyAll(word: UTF8String, as: Array[String], bs: Array[String],
      abs: Array[String]): UTF8String = {
    val w = word.toString
    var n = w.length
    if (n == 0) return word
    val syms = new Array[String](n)
    var i = 0
    while (i < n) { syms(i) = String.valueOf(w.charAt(i)); i += 1 }
    var m = 0
    while (m < as.length) {
      if (w.contains(abs(m))) {
        val a = as(m); val b = bs(m); val ab = abs(m)
        var out = 0; var j = 0
        while (j < n) {
          val s = syms(j)
          if (out > 0 && s == b && syms(out - 1) == a) syms(out - 1) = ab
          else { syms(out) = s; out += 1 }
          j += 1
        }
        n = out
      }
      m += 1
    }
    val sb = new java.lang.StringBuilder(w.length * 2)
    i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(syms(i))
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}

/** One ordered merge table, the per-instance reference object that
  * generated code calls (`abs` precomputed once per table). */
final class BpeMerges(as: Array[String], bs: Array[String]) extends Serializable {
  private val abs = as.lazyZip(bs).map(_ + _)
  def apply(word: UTF8String): UTF8String = BpeKernel.applyAll(word, as, bs, abs)
}

/** `bpe_apply_merges(word)` with the learned merge table baked in as
  * literals (driver-bounded: the merge table is ≤|vocab| rows and
  * already collected by the learn step). Seq params keep case-class
  * equality semantic (arrays would compare by reference and break
  * plan canonicalization); the hot path uses the cached table. */
case class BpeApplyMerges(child: Expression, pairsA: Seq[String], pairsB: Seq[String])
    extends UnaryExpression {
  require(pairsA.length == pairsB.length, "merge pair lists must align")

  @transient private lazy val merges = new BpeMerges(pairsA.toArray, pairsB.toArray)

  override def dataType: DataType = StringType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def nullSafeEval(input: Any): Any = merges(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("bpe", merges, classOf[BpeMerges].getName)
    defineCodeGen(ctx, ev, c => s"$m.apply($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApplyMerges =
    copy(child = newChild)
  override def prettyName: String = "bpe_apply_merges"
}

object BpeExprs {
  /** Column entry point: tokenize `word` with the ordered merge list. */
  def bpe_apply_merges(word: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeApplyMerges(Bridge.expression(word),
      merges.map(_._1), merges.map(_._2)))
}
