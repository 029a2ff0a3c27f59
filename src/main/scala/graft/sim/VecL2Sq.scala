package graft.sim

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext

/** Native codegen'd squared L2 distance over array<float|double> —
  * [[VecDot]]'s sibling for the distance hot paths (PQ code
  * assignment encodes the FULL corpus m times per search).
  *
  * The [[VecFold]] of acc += ((double)a[i] − (double)b[i])², term by
  * term in index order — EXACTLY the
  * `aggregate(zip_with(a, b, (x, y) -> (x−y)·(x−y)), 0D, +)` fold it
  * replaces and the DuckDB list-comprehension mirror evaluates, so
  * every oracle comparison stays bit-identical (the expanded form
  * a·a − 2a·b + b·b would NOT be: different IEEE rounding on
  * near-ties would flip argmin code assignments and with them whole
  * Lloyd training trajectories).
  *
  * Exists for the same reason as VecDot: the composable HOF form
  * allocates an intermediate array and boxes per pair — at
  * corpus×codebook volume that overhead dominates the math. */
case class VecL2Sq(left: Expression, right: Expression) extends VecFold {
  override def prettyName: String = "vec_l2sq"
  override protected def term(l: Double, r: Double): Double = {
    val diff = l - r
    diff * diff
  }
  override protected def termCode(ctx: CodegenContext, acc: String, l: String, r: String): String = {
    val diff = ctx.freshName("diff")
    s"""double $diff = $l - $r;
       |    $acc += $diff * $diff;""".stripMargin
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecL2Sq =
    copy(left = newLeft, right = newRight)
}
