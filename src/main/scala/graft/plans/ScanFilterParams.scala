package graft.plans

import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, DynamicPruning, Expression, In, LeafExpression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, EmptyBlock, ExprCode, FalseLiteral, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation, DataSourceV2Strategy}
import org.apache.spark.sql.types._

/** A non-null constant whose generated code reads it from the generated
  * class's `references` array into a field once per instance, where a
  * [[Literal]] of the same type is inlined into the Java source
  * (`Literal.doGenCode`). Two plans that differ only in such constants
  * therefore generate the same source and share one compiled class in
  * the JVM-wide codegen cache. Prints exactly as its literal does, so
  * explain output is unchanged.
  */
case class ParamLiteral(value: Any, dataType: DataType) extends LeafExpression {
  private def literal = Literal(value, dataType)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $ref.${javaType}Value();")
    ev.copy(code = EmptyBlock, isNull = FalseLiteral, value = JavaCode.global(field, dataType))
  }
}

/** Plans a residual filter over a [[graft.sources.GraftScan]] (and a
  * projection right above it) exactly as `DataSourceV2Strategy` does,
  * then turns the inlined constants of that filter into [[ParamLiteral]]s.
  * A sliced store read's filter (`ts >= a AND ts <= b`) then compiles
  * once per plan shape instead of once per slice, on the driver and in
  * the task. Injected by [[graft.GraftExtensions]].
  *
  * A planner strategy and not an optimizer rule: injected optimizer
  * rules run before filters are pushed into the scan, so a rewrite there
  * would keep the ts bounds from pruning files and row groups. Only a
  * literal that is a direct operand of a comparison or an `In` list is
  * replaced, so arguments that must stay foldable (`round`'s scale)
  * keep their literals. Conditions with a subquery or a dynamic pruning
  * filter are left to Spark's strategy.
  */
case class ScanFilterParamStrategy(session: SparkSession) extends SparkStrategy {
  private lazy val v2 = new DataSourceV2Strategy(session.asInstanceOf[classic.SparkSession])

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(_, f: Filter) if overGraftScan(f) => parameterized(plan)
    case f: Filter if overGraftScan(f) => parameterized(plan)
    case _ => Nil
  }

  private def overGraftScan(f: Filter): Boolean = f.child match {
    case r: DataSourceV2ScanRelation =>
      r.scan.isInstanceOf[graft.sources.GraftScan] && !f.condition.exists {
        case _: DynamicPruning | _: SubqueryExpression => true
        case _ => false
      }
    case _ => false
  }

  private def parameterized(plan: LogicalPlan): Seq[SparkPlan] =
    v2(plan).map(_.transformUp {
      case f @ FilterExec(cond, _: BatchScanExec) =>
        f.copy(condition = ScanFilterParamStrategy.parameterize(cond))
    })
}

object ScanFilterParamStrategy {
  // the types whose literals `Literal.doGenCode` writes into the source
  private val inlined: Set[DataType] = Set(BooleanType, ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  private def param(e: Expression): Expression = e match {
    case Literal(v, t) if v != null && inlined(t) => ParamLiteral(v, t)
    case other => other
  }

  def parameterize(cond: Expression): Expression = cond.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    case i: In => i.withNewChildren(i.children.map(param))
  }
}
