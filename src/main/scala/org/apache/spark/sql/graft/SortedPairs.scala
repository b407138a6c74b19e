/*
 * Lives under org.apache.spark.sql.* because the expression-integration API
 * it builds on (ExpressionUtils.column / AbstractDataType in ExpectsInputTypes)
 * is private[sql] — the established pattern for third-party native
 * expressions (see CosineSim.scala).
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionDescription, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/**
 * Native kernel for the in-row pair expansion behind every basket/graph
 * pair stream ([[graft.operators.Graph.itemPairs]]): a SORTED
 * distinct-element `array<long>` becomes the array of all i < j pairs
 * `array<struct<u: long, v: long>>` — exactly the output of the HOF chain
 * `flatten(transform(items, (x, i) -> transform(slice(items, i + 2, n),
 * y -> struct(x, y))))`, which Catalyst interprets PER ELEMENT
 * (CodegenFallback lambdas) while also allocating a slice per outer
 * element. One compiled two-index loop builds the n·(n−1)/2 structs with
 * no lambda dispatch and no intermediate slices; output order is the same
 * (u ascending, then v) so the swap is bit-invisible to every consumer.
 * EXACT by construction — values are copied, not computed; a spec pins
 * element-for-element equality against the HOF form on random arrays.
 *
 * CodegenFallback is deliberate: the output is an allocation-dominated
 * array-of-structs either way, so the win is removing the interpreted
 * lambda machinery, not codegen of the loop itself (the eval IS the
 * compiled loop).
 */
@ExpressionDescription(
  usage = "_FUNC_(arr) - all i < j pairs of a sorted array as structs (u, v).")
case class SortedPairs(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {

  // ImplicitCastInputTypes (not bare ExpectsInputTypes): an array<int> /
  // array<smallint> input coerces to array<long> at analysis instead of
  // failing — the HOF chain this kernel replaced accepted any orderable
  // element type. Non-numeric element types (string) still fail analysis;
  // Graph.itemPairs routes those to the element-equal HOF fallback.
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("u", LongType, nullable = false),
      StructField("v", LongType, nullable = false))),
    containsNull = false)

  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any = {
    val xs = input.asInstanceOf[ArrayData]
    val n = xs.numElements()
    // size in Long first: n >= 46341 overflows Int in n*(n-1)/2 and the
    // old form crashed with a bare NegativeArraySizeException
    val sizeL = n.toLong * (n - 1) / 2
    if (sizeL > Int.MaxValue) {
      throw new IllegalArgumentException(
        s"SortedPairs: group of $n items expands to $sizeL pairs " +
          "(> Int.MaxValue) — hub groups must be capped upstream before " +
          "the quadratic pair expansion, as with any pair-emitting form")
    }
    val out = new Array[Any](sizeL.toInt)
    var k = 0
    var i = 0
    while (i < n) {
      val u = xs.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](u, xs.getLong(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): SortedPairs =
    copy(child = c)
}

object SortedPairs {
  /** Column form — usable without any registry. */
  def of(a: Column): Column =
    ExpressionUtils.column(SortedPairs(ExpressionUtils.expression(a)))
}
