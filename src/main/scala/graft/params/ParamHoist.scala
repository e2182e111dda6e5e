package graft.params

import org.apache.spark.sql.{GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryComparison, Expression, In, LeafExpression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, JavaCode}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.types._

/** Keeps statement parameters out of generated code.
  *
  * `sql"… WHERE l_orderkey = $k"` inlines each value as a SQL literal, and
  * Spark's codegen spells primitive literals into the Java source
  * (`value == 37376L`). Spark caches compiled classes by their source, so
  * every new value compiled a new class. This rewrite replaces such
  * literals in physical [[FilterExec]] conditions with [[ParamLiteral]],
  * which reads the value from the generated class's `references` array:
  * one statement shape, one compiled class, whatever its parameters.
  *
  * Scope: non-null Byte/Short/Int/Long/Float/Double/Date/Timestamp/
  * TimestampNTZ literals that are a direct operand of a comparison
  * (`=`, `<>`, `<`, `<=`, `>`, `>=`, `<=>`) or an element of an `IN` list.
  * Strings and decimals already go through `references`. Scan nodes keep
  * their own `dataFilters`/`partitionFilters`, so manifest bounds, bloom
  * skipping and parquet pushdown still see real [[Literal]]s.
  */
object ParamHoist {

  /** Apply the rewrite to every batch query the session plans from now on. */
  def install(spark: SparkSession): Unit =
    GraftPlanBridge.addPhysicalRewrite(spark, hoistFilters)

  private val hoistFilters: SparkPlan => SparkPlan = _.transform {
    case f: FilterExec => f.copy(condition = hoist(f.condition))
  }

  /** `condition` with its comparison and IN-list literals hoisted. */
  def hoist(condition: Expression): Expression = condition.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    case in: In              => in.copy(list = in.list.map(param))
  }

  private val primitive: Set[DataType] = Set(ByteType, ShortType, IntegerType,
    LongType, FloatType, DoubleType, DateType, TimestampType, TimestampNTZType)

  private def param(e: Expression): Expression = e match {
    case l: Literal if l.value != null && primitive(l.dataType) => ParamLiteral(l)
    case other => other
  }
}

/** A non-null primitive literal whose generated code reads the value into
  * a field once, when the generated class initialises, instead of writing
  * it into the source. Renders exactly like the wrapped [[Literal]], so
  * plan text and EXPLAIN are unchanged.
  */
final case class ParamLiteral(literal: Literal) extends LeafExpression {
  override def dataType: DataType = literal.dataType
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any = literal.value
  override def toString: String = literal.toString
  override def sql: String = literal.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val boxed = ctx.addReferenceObj("param", literal.value, CodeGenerator.boxedType(dataType))
    val field = ctx.addMutableState(javaType, "param", v => s"$v = $boxed.${javaType}Value();")
    ExprCode.forNonNullValue(JavaCode.global(field, dataType))
  }
}
