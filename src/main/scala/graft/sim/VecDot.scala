package graft.sim

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** A native codegen'd fold over two array<float> / array<double>: a
  * sequential left fold in double precision, acc += term(a[i], b[i])
  * with each element widened to double, in index order — one tight
  * loop inside whole-stage codegen, no allocation. Each subclass
  * supplies only its term, once for the interpreted path ([[term]])
  * and once as Java ([[termCode]]).
  *
  * Malformed-input semantics (identical in interpreted and codegen
  * paths — the registered corpora never produce either case, so
  * oracle parity is unaffected):
  *  - LENGTH MISMATCH → NULL. A silent min-length truncation would
  *    yield plausible-but-wrong scores on a dimension-drifted corpus;
  *    DuckDB raises on mismatched lists, so a NULL here surfaces the
  *    same malformation conspicuously instead of diverging quietly.
  *  - NULL ELEMENT → contributes 0 (what UnsafeArrayData codegen
  *    reads); the interpreted path guards explicitly so both paths
  *    agree instead of NPE-ing on the generic-array fallback.
  */
abstract class VecFold extends BinaryExpression {

  /** The fold's term for one pair of elements. */
  protected def term(l: Double, r: Double): Double

  /** Java statements adding the term of doubles `l` and `r` to `acc`. */
  protected def termCode(ctx: CodegenContext, acc: String, l: String, r: String): String

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true // mismatched lengths yield NULL

  private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs array<float|double>, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements()) return null
    val n = x.numElements()
    def get(d: ArrayData, fl: Boolean, j: Int): Double =
      if (d.isNullAt(j)) 0.0
      else if (fl) d.getFloat(j).toDouble else d.getDouble(j)
    val lf = isFloat(left); val rf = isFloat(right)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += term(get(x, lf, i), get(y, rf, i)); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double l$i = $a.isNullAt($i) ? 0.0 : (double)$a.$lGet($i);
         |    double r$i = $b.isNullAt($i) ? 0.0 : (double)$b.$rGet($i);
         |    ${termCode(ctx, acc, s"l$i", s"r$i")}
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }
}

/** Native codegen'd dot product over array<float> / array<double>: the
  * [[VecFold]] of acc += (double)a[i] * (double)b[i] — exactly the fold
  * DuckDB's `list_dot_product(CAST(x AS DOUBLE[]), ...)` evaluates, so
  * oracle comparisons are bit-identical.
  *
  * Exists because the composable form
  * `aggregate(zip_with(a, b, ...), 0D, ...)` allocates an intermediate
  * array per pair and boxes through the higher-order-function
  * machinery — at candidate-pair volume (every ANN/near-dup join) that
  * overhead dominates the actual math by ~50×. This is the "custom
  * Expression for the hot path" escape hatch.
  */
case class VecDot(left: Expression, right: Expression) extends VecFold {
  override def prettyName: String = "vec_dot"
  override protected def term(l: Double, r: Double): Double = l * r
  override protected def termCode(ctx: CodegenContext, acc: String, l: String, r: String): String =
    s"$acc += $l * $r;"
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}
