package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** Hash-aggregable lexicographic tuple extremum — the DeclarativeAggregate
  * twin of `max(struct(a, b, ...))` / `min(struct(...))` for tuples of
  * FIXED-WIDTH fields (ints/longs/doubles/booleans/dates).
  *
  * Why it exists: Spark's `Max`/`Min` keep the whole struct in the
  * aggregation buffer, and a struct is not an UnsafeRow-mutable type, so
  * every `max(struct(...))` plans as a SortAggregate — the partial
  * aggregate SORTS each task's full input by the grouping key before
  * folding (and falls outside whole-stage codegen's fast hash path). With
  * one primitive buffer slot per tuple field (plus a `seen` flag) the
  * buffer is fully mutable, Spark plans a HashAggregate, and the partial
  * fold is a per-row codegen'd compare-and-swap — no per-task sort, same
  * map-side combine. At corpus scale (the substring-dedup keeper pick
  * aggregates every token position of every document) that removes an
  * O(N log N) sort from the hot scan stage.
  *
  * Semantics are IDENTICAL to `max(struct(fields...))`: the comparison is
  * delegated to Spark's own struct ordering (`GreaterThan`/`LessThan` over
  * `CreateStruct`), so field-by-field lexicographic order, null-smallest
  * and NaN-largest all match bit-for-bit; the result struct carries the
  * same field names (captured from the columns at construction), so
  * `.getField` consumers are unchanged. Like `max(struct(...))` over a
  * `CreateStruct` input, the tuple itself is never null (fields may be).
  *
  * Overflow-free at any id width (unlike packing (a, b) into one long —
  * see DedupQueries.substrMarked's scaladoc for why packed keys corrupt
  * keeper selection at production ids): fields keep their own slots.
  */
case class TupleExtremum(fields: Seq[Expression], names: Seq[String], isMax: Boolean)
  extends DeclarativeAggregate {

  override def children: Seq[Expression] = fields
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(names.zip(fields).map {
    case (n, f) => StructField(n, f.dataType, nullable = true)
  })

  private lazy val seen = AttributeReference("seen", BooleanType, nullable = false)()
  private lazy val slots = fields.zipWithIndex.map { case (f, i) =>
    AttributeReference(s"v$i", f.dataType)()
  }

  override lazy val aggBufferAttributes: Seq[AttributeReference] = seen +: slots

  override lazy val initialValues: Seq[Expression] =
    Literal(false) +: fields.map(f => Literal.create(null, f.dataType))

  // candidate tuple `a` beats incumbent `b` under the requested extremum —
  // Spark's own struct ordering does the lexicographic/null/NaN work.
  // Both sides use the same positional field names: comparison operands
  // must be sameType, and struct sameType includes field names.
  private def cmpStruct(xs: Seq[Expression]): Expression =
    CreateNamedStruct(xs.zipWithIndex.flatMap { case (x, i) => Seq(Literal(s"c$i"), x) })
  private def beats(a: Seq[Expression], b: Seq[Expression]): Expression =
    if (isMax) GreaterThan(cmpStruct(a), cmpStruct(b))
    else LessThan(cmpStruct(a), cmpStruct(b))

  override lazy val updateExpressions: Seq[Expression] = {
    val take = Or(Not(seen), beats(fields, slots))
    Literal(true) +: slots.zip(fields).map { case (s, f) => If(take, f, s) }
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val takeRight = And(seen.right, Or(Not(seen.left), beats(slots.map(_.right), slots.map(_.left))))
    Or(seen.left, seen.right) +: slots.map(s => If(takeRight, s.right, s.left))
  }

  override lazy val evaluateExpression: Expression =
    If(seen, CreateNamedStruct(names.zip(slots).flatMap {
      case (n, s) => Seq(Literal(n), s)
    }), Literal.create(null, dataType))

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TupleExtremum =
    copy(fields = c)
  override def prettyName: String = if (isMax) "max_tuple" else "min_tuple"
}

object tupleagg {
  /** `max_tuple(a, b, ...)` ≡ `max(struct(a, b, ...))`, planned as a
    * HashAggregate (primitive fields only — a string/array field silently
    * de-optimizes the buffer back to SortAggregate territory; keep those
    * on `max(struct(...))`). Field names follow the columns/aliases; an
    * unaliased computed field is rejected, since it has no name to carry. */
  def max_tuple(fields: Column*): Column = make(fields, isMax = true)

  /** `min_tuple(a, b, ...)` ≡ `min(struct(a, b, ...))` — see [[max_tuple]]. */
  def min_tuple(fields: Column*): Column = make(fields, isMax = false)

  private def make(fields: Seq[Column], isMax: Boolean): Column = {
    // field names come from the COLUMN node (alias / attribute name) —
    // Bridge.expression returns a lazy ColumnNodeExpression wrapper, so
    // the catalyst NamedExpression shape is not visible pre-analysis
    val names = fields.zipWithIndex.map { case (c, i) =>
      Bridge.columnName(c).getOrElse(throw new IllegalArgumentException(
        s"${if (isMax) "max_tuple" else "min_tuple"}: argument ${i + 1} ($c) " +
          "has no field name; alias it, e.g. (expr).as(\"name\")"))
    }
    Bridge.column(TupleExtremum(fields.map(Bridge.expression), names, isMax)
      .toAggregateExpression())
  }
}
