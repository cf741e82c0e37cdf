package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.dsl.expressions._
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.types._

/** Arg-extreme over a lexicographic (key1, key2, value) triple, returning
  * the VALUE — the `min(struct(k1, k2, v)).v` / `max(struct(k1, k2, v)).v`
  * order-statistic idiom (OHLC open/close picks) with a FLAT aggregation
  * buffer.
  *
  * Why it exists: `min(struct(...))` carries a struct-typed buffer,
  * which HashAggregateExec cannot hold in its UnsafeRow hash map, so
  * Spark plans a SortAggregate. In label propagation (r20) that was a
  * Sort on BOTH sides of every round's exchange for what is
  * conceptually a two-long comparison; in OHLC bars (r21) a Sort UNDER
  * the partial aggregate — over the FULL input (every event row, at
  * 100 TB the fact table) rather than the grouped output
  * (plans/r21/misc_ohlc_bars_before.txt: Sort(4) + SortAggregate(5)
  * directly over the scan). The measured r20 workarounds lost: a
  * max-then-min two-phase rewrite costs an extra checkpoint + join per
  * round (LPA 3.37 → 4.54 s), and packing (-count, label) into one long
  * caps the label range. This DeclarativeAggregate keeps
  * (bk1, bk2, bv, seen) as four mutable primitive slots —
  * hash-aggregable, whole-stage-codegen'd, map-side combinable. A
  * two-field argmin `min(struct(k, v)).v` is `argminValue(k, v, v)`: the
  * (k, v, v) triple orders exactly like the (k, v) pair.
  *
  * Semantics match min/max(struct(k1, k2, v)).v for NULL-FREE input: full
  * three-field lexicographic comparison (value participates in the
  * tie-break, exactly like the struct), ties resolving to the
  * first-compared smaller (min) / larger (max) triple. NULL contract
  * (deliberate): rows with a NULL key or value are SKIPPED, where
  * struct-min would rank a null field first — callers must guarantee
  * non-null inputs or accept the difference (the oracle gates every call
  * site at three SFs). Empty/all-null groups evaluate to NULL.
  *
  * Types: any mutable-primitive-backed atomic type per slot (LONG, INT,
  * TIMESTAMP, DATE, DOUBLE, FLOAT, SHORT, BYTE, BOOLEAN) — the
  * comparison is the type's own ordering; a STRING slot would lose the
  * flat-buffer property, which is the whole point, so it is rejected at
  * analysis. */
case class ArgExtremePairValue(key1: Expression, key2: Expression,
                               value: Expression, reverse: Boolean)
    extends DeclarativeAggregate with TernaryLike[Expression]
    with ExpectsInputTypes {

  override def first: Expression = key1
  override def second: Expression = key2
  override def third: Expression = value

  // def, not val: TypeCollection is not Serializable, and a stored field
  // would ride the expression into task closures
  private def slotTypes = TypeCollection(LongType, IntegerType,
    TimestampType, DateType, DoubleType, FloatType, ShortType, ByteType,
    BooleanType)
  override def inputTypes: Seq[AbstractDataType] =
    Seq(slotTypes, slotTypes, slotTypes)
  override def dataType: DataType = value.dataType
  override def nullable: Boolean = true

  private lazy val bk1 =
    AttributeReference("bk1", key1.dataType, nullable = false)()
  private lazy val bk2 =
    AttributeReference("bk2", key2.dataType, nullable = false)()
  private lazy val bv =
    AttributeReference("bv", value.dataType, nullable = false)()
  private lazy val seen =
    AttributeReference("seen", BooleanType, nullable = false)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    Seq(bk1, bk2, bv, seen)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal.default(key1.dataType), Literal.default(key2.dataType),
    Literal.default(value.dataType), Literal(false))

  // lexicographic "strictly more extreme than the buffer" — flipped
  // per-field for the max variant
  private def beats(ak1: Expression, ak2: Expression, av: Expression,
                    ck1: Expression, ck2: Expression,
                    cv: Expression): Expression = {
    def lt(a: Expression, b: Expression): Expression =
      if (reverse) a > b else a < b
    lt(ak1, ck1) || (ak1 === ck1 &&
      (lt(ak2, ck2) || (ak2 === ck2 && lt(av, cv))))
  }

  override lazy val updateExpressions: Seq[Expression] = {
    val valid = IsNotNull(key1) && IsNotNull(key2) && IsNotNull(value)
    val take = valid && (!seen || beats(key1, key2, value, bk1, bk2, bv))
    Seq(If(take, key1, bk1), If(take, key2, bk2), If(take, value, bv),
      seen || valid)
  }

  override lazy val mergeExpressions: Seq[Expression] = {
    val rBetter = seen.right && (!seen.left ||
      beats(bk1.right, bk2.right, bv.right, bk1.left, bk2.left, bv.left))
    Seq(If(rBetter, bk1.right, bk1.left),
      If(rBetter, bk2.right, bk2.left),
      If(rBetter, bv.right, bv.left),
      seen.left || seen.right)
  }

  override lazy val evaluateExpression: Expression =
    If(seen, bv, Literal(null, value.dataType))

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): ArgExtremePairValue =
    copy(key1 = newFirst, key2 = newSecond, value = newThird)
}

object ArgExtremePairValue {
  /** The value of the row MINIMIZING (key1, key2, value) lexicographic —
    * `min(struct(key1, key2, value)).value` with a flat buffer. NULL
    * contract: rows with a NULL key or value are IGNORED (an empty or
    * all-null group evaluates to NULL) — NOT a drop-in for struct-min on
    * nullable inputs, where a null field ranks FIRST. */
  def argminValue(key1: Column, key2: Column, value: Column): Column =
    bridge.column(ArgExtremePairValue(bridge.expression(key1),
      bridge.expression(key2), bridge.expression(value),
      reverse = false).toAggregateExpression())

  /** The value of the row MAXIMIZING (key1, key2, value) lexicographic —
    * `max(struct(key1, key2, value)).value` with a flat buffer. */
  def argmaxValue(key1: Column, key2: Column, value: Column): Column =
    bridge.column(ArgExtremePairValue(bridge.expression(key1),
      bridge.expression(key2), bridge.expression(value),
      reverse = true).toAggregateExpression())
}
