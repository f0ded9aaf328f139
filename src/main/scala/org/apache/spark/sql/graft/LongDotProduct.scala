package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product over two array<bigint> or two array<int>
  * columns, accumulating in LONG — FloatDotProduct's exact-integer
  * sibling. It is the per-pair kernel of the product-quantization
  * stack (ProductQuantizer: every fit/encode/ADC candidate pair pays
  * one of these over micro-unit longs; the interpreted HOF chain
  * measured ~5x the whole-query time at 8M pairs) and of every int8
  * probe (Similarity.dotQ8 over array<int>), where the lambda-based
  * form ran two interpreted `transform`s per candidate pair.
  * Both sides must share the element type; int elements are widened
  * to long before the multiply. Integer addition is
  * associative-exact, so unlike the float/double variant there is no
  * operation-order subtlety at all — any engine summing the same
  * products gets the same BIGINT. Overflow is the caller's contract
  * (micro-unit inputs: |x| <= 1e6, safe to ~1e6 elements; int8: far
  * beyond any real dim), identical to DuckDB's BIGINT arithmetic.
  * Null element / length mismatch yield null — the zip_with/aggregate
  * chain's behavior, same contract as FloatDotProduct. */
case class LongDotProduct(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(l, _), ArrayType(r, _))
          if l == r && (l == LongType || l == IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"long_dot needs two array<bigint> or two array<int>, got " +
          s"${l.catalogString} and ${r.catalogString}")
    }

  private def intElements: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == IntegerType

  override def dataType: DataType = LongType
  override def prettyName: String = "long_dot"

  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    val ints = intElements
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += (if (ints) x.getInt(i).toLong * y.getInt(i)
              else x.getLong(i) * y.getLong(i))
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val get = if (intElements) "getInt" else "getLong"
      s"""
         |if ($a.numElements() != $b.numElements()) { ${ev.isNull} = true; }
         |else {
         |  final int $n = $a.numElements();
         |  long $acc = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (long) $a.$get($i) * (long) $b.$get($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $acc; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDotProduct =
    copy(left = newLeft, right = newRight)
}
