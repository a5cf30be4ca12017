package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Codegen'd matrix–vector dot products: `left` is a dense
  * `array<double>` vector of dimension d, `right` a ROW-MAJOR flattened
  * k×d matrix (typically a literal — a centroid or hyperplane bank);
  * the result is the length-k `array<double>` of row dots. One
  * expression, one tight nested loop inside whole-stage codegen.
  *
  * Why this exists (measured; SCALE.md, "IVF-assisted SemDeDup
  * assignment"): computing k per-row dots against k separate literal
  * vectors either goes through a higher-order-function lambda
  * (interpreted per element — ~5× slower than the codegen'd work it
  * replaces) or through k independent
  * [[DotProduct]] columns, whose generated code at k ≈ 70 literal
  * 64-dim arrays blows past JIT/codegen method limits and falls back
  * to interpretation wholesale. A single expression with the matrix as
  * ONE flat literal keeps the loop primitive at any k.
  *
  * Semantics match k [[DotProduct]]s element for element: the inner
  * summation is the same left-to-right fold (bit-identical, oracle-
  * replayable); NULL if either input is null, if d = 0, if the matrix
  * length is not a multiple of d, or if any touched element is null.
  */
case class MatVecDots(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val m = b.asInstanceOf[ArrayData]
    val d = x.numElements()
    if (d == 0 || m.numElements() % d != 0) return null
    val k = m.numElements() / d
    val out = new Array[Double](k)
    var r = 0
    while (r < k) {
      var sum = 0.0
      var i = 0
      while (i < d) {
        if (x.isNullAt(i) || m.isNullAt(r * d + i)) return null
        sum += x.getDouble(i) * m.getDouble(r * d + i)
        i += 1
      }
      out(r) = sum
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val d = ctx.freshName("d")
      val k = ctx.freshName("k")
      val r = ctx.freshName("r")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      val bad = ctx.freshName("bad")
      val arr = ctx.freshName("arr")
      s"""
         |int $d = $a.numElements();
         |if ($d == 0 || $b.numElements() % $d != 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $k = $b.numElements() / $d;
         |  double[] $arr = new double[$k];
         |  boolean $bad = false;
         |  for (int $r = 0; $r < $k && !$bad; $r++) {
         |    double $sum = 0.0;
         |    for (int $i = 0; $i < $d && !$bad; $i++) {
         |      if ($a.isNullAt($i) || $b.isNullAt($r * $d + $i)) { $bad = true; }
         |      else { $sum += $a.getDouble($i) * $b.getDouble($r * $d + $i); }
         |    }
         |    $arr[$r] = $sum;
         |  }
         |  if ($bad) { ${ev.isNull} = true; }
         |  else { ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($arr); }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_matvec_dots"
}
