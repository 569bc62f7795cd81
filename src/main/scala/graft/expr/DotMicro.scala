package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** Exact integer micro-dot over two float vectors:
  * `Σ floor(x_i · y_i · 1e6)` as a long — the oracle-able similarity
  * [[graft.queries.LlmKnn.qHardNegatives]] ranks by (floor of an identical
  * IEEE double product is engine-independent, and the long sum is
  * order-independent, SURVEY.md §5.3).
  *
  * Why an Expression and not `aggregate(zip_with(...))`: higher-order
  * functions evaluate their lambda per element OUTSIDE whole-stage codegen
  * (interpreted dispatch + boxing per product), which makes the per-pair
  * dot the hot loop of any mining pass over anchors × corpus. `doGenCode`
  * emits one tight primitive loop inside the codegen stage, bit-identical
  * to the HOF form (same promotions, same `Math.floor`, same sequential
  * long adds) — LlmSpec pins the bit-equality.
  *
  * Null handling: null array → null (nullSafeEval); element nulls are not
  * expected on embedding columns and read as 0-slots upstream of this
  * expression's contract, matching the HOF form's behavior. */
case class DotMicro(left: Expression, right: Expression)
  extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "dot_micro requires two array<float> arguments, got " +
        s"${left.dataType.catalogString} and ${right.dataType.catalogString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_micro"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += math.floor(x.getFloat(i).toDouble * y.getFloat(i).toDouble * 1e6).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) java.lang.Math.floor(
         |    (double) $a.getFloat($i) * (double) $b.getFloat($i) * 1.0E6);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
