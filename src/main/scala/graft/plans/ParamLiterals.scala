package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** A non-null primitive literal whose generated code does not contain its
  * value.
  *
  * Spark's `Literal` pastes int, long, double, date and timestamp values into
  * the generated Java, and the codegen cache is keyed by that source text, so
  * every new request parameter (a slug, a cursor's order value) compiles new
  * classes. This expression registers its value in the `references` array
  * and reads it into a class field once per instance: the generated Java is
  * the same for every value of one type, and a request shape compiles once.
  *
  * Plans print it exactly as the `Literal` it replaces (`toString` and `sql`
  * delegate), so explain output and plan pins do not change.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  require(value != null && ParamLiteral.supports(dataType), s"ParamLiteral($value, $dataType)")

  private def literal: Literal = Literal(value, dataType)

  override def nullable: Boolean = false
  override def foldable: Boolean = true
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}

object ParamLiteral {
  /** The types whose `Literal` codegen inlines the value (strings and
    * decimals already go through `references`). */
  def supports(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}

/** Swaps request-parameter literals for [[ParamLiteral]]s in `FilterExec`
  * conditions, where a literal is a direct child of a `BinaryComparison` or
  * an `In`: the comparisons `find(slug)`, `where(...)` and keyset cursors
  * compile to. Scan nodes keep their `Literal`s, so pushed filters and
  * row-group pruning do not change.
  *
  * Runs as a pre-columnar-transition rule: `ApplyColumnarRulesAndInsertTransitions`
  * runs just before `CollapseCodegenStages` both in the plain preparation
  * rules (plans with no exchange, such as page probes) and on every
  * adaptive query stage.
  */
object ParameterizeFilterLiterals extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case f: FilterExec =>
      val cond = f.condition.transformUp {
        case c: BinaryComparison => c.mapChildren(param)
        case in: In              => in.mapChildren(param)
      }
      if (cond.fastEquals(f.condition)) f else f.copy(condition = cond)
  }

  private def param(e: Expression): Expression = e match {
    case Literal(v, dt) if v != null && ParamLiteral.supports(dt) => ParamLiteral(v, dt)
    case other => other
  }

  /** The injection point ([[GraftExtensions]] registers it by `injectColumnar`). */
  object AsColumnarRule extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = ParameterizeFilterLiterals
  }
}
