package graft.core

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A comparison constant bound as a codegen PARAMETER: evaluates to
  * exactly `lit`, but its generated code reads the value from the
  * class's reference array into a field once per class instance
  * instead of splicing it into the Java source.
  *
  * Why: a Get, range scan or multi-get differs from the previous one
  * only in its key, and whole-stage codegen inlines primitive literals
  * (`o_orderkey == 4001L`) — every new key was new source text, a
  * codegen-cache miss and ~2 Janino compiles per read. With the key a
  * parameter the source is key-independent and one compiled class
  * serves every key.
  *
  * A case class over the literal itself (not a child, so no rule can
  * rewrite it): equality is Literal's, NaN included, so `sameResult`
  * and exchange reuse tell two keys apart exactly as before.
  * `toString`/`sql` render as the literal, so plan dumps read the
  * same; `eval` returns the value for the interpreted fallback. Not
  * foldable: no later rule may fold it back.
  */
case class ParamLit(lit: Literal) extends LeafExpression {
  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val jt = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", lit.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(jt, "param", v => s"$v = $ref.${jt}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** The physical rule that binds [[ParamLit]]s: in every `FilterExec`
  * condition, the non-null primitive literal operands of a comparison
  * (`=`, `<=>`, `<`, `<=`, `>`, `>=`) and the members of an `In` list.
  *
  * Runs after the columnar transitions, i.e. before
  * CollapseCodegenStages on both the AQE and the non-AQE path. Only the
  * FilterExec condition changes: the scan's pushed filters keep the
  * real literal, so parquet row-group and page pruning is untouched.
  * Literals in any other position stay — some expressions (`rand`'s
  * seed, `round`'s scale) require a foldable Literal argument. */
object ParamLits extends ColumnarRule {
  private val primitive: Set[DataType] = Set(LongType, IntegerType, DateType,
    TimestampType, DoubleType, FloatType, ShortType, ByteType, BooleanType)

  private def bind(e: Expression): Expression = e match {
    case l @ Literal(v, dt) if v != null && primitive(dt) => ParamLit(l)
    case other => other
  }

  private val bindOperands: PartialFunction[Expression, Expression] = {
    case c: BinaryComparison => c.withNewChildren(c.children.map(bind))
    case in: In => in.copy(list = in.list.map(bind))
  }

  private object BindFilterParams extends Rule[SparkPlan] {
    override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
      case f: FilterExec => f.copy(condition = f.condition.transformUp(bindOperands))
    }
  }

  override def postColumnarTransitions: Rule[SparkPlan] = BindFilterParams
}
