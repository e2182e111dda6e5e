package graft

import org.apache.spark.sql.catalyst.analysis.PersistedView
import org.apache.spark.sql.catalyst.expressions.{NullsLast, SortOrder}
import org.apache.spark.sql.catalyst.parser.SqlBaseParser
import org.apache.spark.sql.catalyst.parser.SqlBaseParser.{CreateViewContext, PrimitiveDataTypeContext, SortItemContext}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{SparkSqlAstBuilder, SparkSqlParser}
import org.apache.spark.sql.execution.command.CreateViewCommand
import org.apache.spark.sql.types.{DataType, StringType}

/** The facade's one SQL parser: Spark's session parser (variable
  * substitution and Spark's commands included) with three Trino dialect
  * rules read from the parse tree.
  *   - A sort item without a NULLS clause sorts NULLS LAST in either
  *     direction (Trino docs, SELECT; Spark puts NULLs first on ASC).
  *     This holds for ORDER BY, window specs and WITHIN GROUP alike.
  *   - `"…"` is a delimited identifier, not a string literal.
  *   - `VARCHAR`, `CHAR` and `CHARACTER` without a length are strings.
  * The host session's parser is not replaced; a temp view created
  * through the facade therefore keeps its plan, not its text.
  */
private[graft] object TrinoSqlParser extends SparkSqlParser {

  override val astBuilder: SparkSqlAstBuilder = new SparkSqlAstBuilder {
    override def visitSortItem(ctx: SortItemContext): SortOrder = {
      val order = super.visitSortItem(ctx)
      if (ctx.nullOrder == null) order.copy(nullOrdering = NullsLast) else order
    }

    override def visitPrimitiveDataType(ctx: PrimitiveDataTypeContext): DataType = {
      val t = ctx.primitiveType.nonTrivialPrimitiveType
      if (t != null && t.length == null &&
          (t.VARCHAR != null || t.CHAR != null || t.CHARACTER != null)) StringType
      else super.visitPrimitiveDataType(ctx)
    }

    // Spark keeps a temp view's SQL text and re-parses it with the host
    // parser on every read, which would drop the rules above: keep the
    // analyzed plan instead, as a DataFrame's temp view does
    override def visitCreateView(ctx: CreateViewContext): LogicalPlan =
      super.visitCreateView(ctx) match {
        case c: CreateViewCommand if c.viewType != PersistedView => c.copy(originalText = None)
        case other => other
      }
  }

  // set after AbstractParser.configureParser has applied the session conf
  override protected def parse[T](command: String)(toResult: SqlBaseParser => T): T =
    super.parse(command) { parser =>
      parser.double_quoted_identifiers = true
      toResult(parser)
    }
}
