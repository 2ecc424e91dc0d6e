package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Fused dot product over two double arrays as a native Catalyst
  * expression with whole-stage codegen (§2.10 expr_custom).
  *
  * The composable formulation — aggregate(zip_with(a, b, *), 0.0, +) —
  * allocates an intermediate array and runs interpreted lambdas per
  * element. This expression compiles to a tight primitive loop (no
  * allocation, no virtual calls). Semantics match the composed form
  * exactly: sequential left-to-right double accumulation, so oracle
  * parity is unchanged. Null if either side is null; over the shorter
  * length when the lengths differ. The exact all-pairs tier
  * (`SimilarityOps.cosineTopK`, `nearDupPairs`) does not build pair rows
  * for this expression: its kernel, `graft.api.ExactCosine`, runs the
  * same accumulation over one flat array.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val xs = a.asInstanceOf[ArrayData]
    val ys = b.asInstanceOf[ArrayData]
    val n = math.min(xs.numElements(), ys.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += xs.getDouble(i) * ys.getDouble(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object DotProduct {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column API: dot(a, b) over ArrayType(DoubleType) columns. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))
}
