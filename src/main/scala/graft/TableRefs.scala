package graft

import java.util.Locale

import org.apache.spark.sql.catalyst.analysis.{RelationTimeTravel, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, SubqueryAlias, SupervisingCommand, UnresolvedWith}

/** Table references in a PARSED statement — the one place that decides
  * which relation names a statement reads, shared by the query path
  * (bind each to a snapshot-catalog DataFrame) and the materialized-view
  * analysis (which tables a definition records, which shape it has).
  */
private[graft] object TableRefs {

  /** Parse Trino-dialect SQL with the facade's [[TrinoSqlParser]], after
    * an unquoted metadata-table name `t$kind` has been backtick-quoted
    * whole: Spark's lexer does not take `$` in a bare identifier. String
    * literals, quoted identifiers and comments pass through unchanged.
    */
  def parse(sql: String): LogicalPlan =
    TrinoSqlParser.parsePlan(pieces(sql).map {
      case (text, None) => bareMetadataName.replaceAllIn(text,
        m => java.util.regex.Matcher.quoteReplacement(s"`${m.matched}`"))
      case (text, _) => text
    }.mkString)

  private val bareMetadataName = """(?<![\w$])[A-Za-z_]\w*\$\w+""".r

  /** The spans `[start, end)` of `sql` that no text pass may rewrite,
    * with the character that opens each: string literals (`'`), quoted
    * identifiers (`"`, backtick) and comments (`-`, `/`). A doubled
    * quote is an escaped one, and a backslash escapes inside a string
    * literal; an unterminated span runs to the end of the text.
    */
  private[graft] def quotedSpans(sql: String): Seq[(Int, Int, Char)] = {
    val spans = Seq.newBuilder[(Int, Int, Char)]
    def closing(open: Int, q: Char): Int = {
      var j = open + 1
      while (j < sql.length) {
        val ch = sql.charAt(j)
        if (ch == '\\' && q == '\'') j += 2
        else if (ch != q) j += 1
        else if (j + 1 < sql.length && sql.charAt(j + 1) == q) j += 2
        else return j + 1
      }
      sql.length
    }
    def upTo(close: String, from: Int): Int = sql.indexOf(close, from) match {
      case -1 => sql.length
      case at => at + close.length
    }
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      val end =
        if (c == '\'' || c == '"' || c == '`') math.min(closing(i, c), sql.length)
        else if (sql.startsWith("--", i)) upTo("\n", i)
        else if (sql.startsWith("/*", i)) upTo("*/", i + 2)
        else -1
      if (end < 0) i += 1 else { spans += ((i, end, c)); i = end }
    }
    spans.result()
  }

  /** `sql` cut at the [[quotedSpans]]: each span with its opening
    * character, each run of text between spans with None. The pieces
    * concatenate back to `sql`.
    */
  def pieces(sql: String): Seq[(String, Option[Char])] = {
    val out = Seq.newBuilder[(String, Option[Char])]
    var at = 0
    for ((start, end, kind) <- quotedSpans(sql)) {
      if (start > at) out += ((sql.substring(at, start), None))
      out += ((sql.substring(start, end), Some(kind)))
      at = end
    }
    if (at < sql.length) out += ((sql.substring(at), None))
    out.result()
  }

  /** (schema, table) a relation name refers to: a bare `t` under the
    * session schema, `sch.t`, or `cat.sch.t` with the catalog qualifier
    * dropped (one catalog backs this engine). None for other shapes.
    */
  def schemaTable(parts: Seq[String], sessionSchema: String): Option[(String, String)] =
    parts match {
      case Seq(t)       => Some((sessionSchema, t))
      case Seq(s, t)    => Some((s, t))
      case Seq(_, s, t) => Some((s, t))
      case _            => None
    }

  /** Replace every table reference of `plan` — an [[UnresolvedRelation]],
    * or a [[RelationTimeTravel]] over one — with `f(reference)`. Visits
    * CTE definitions, subquery expressions and the plan a command
    * supervises (EXPLAIN's); skips names bound by an enclosing WITH, which
    * are the CTE's rows, not a table. A CTE sees the CTEs defined before
    * it (and itself, under WITH RECURSIVE).
    */
  def mapRelations(plan: LogicalPlan)(f: LogicalPlan => LogicalPlan): LogicalPlan = {
    def bound(r: UnresolvedRelation, ctes: Set[String]): Boolean =
      r.multipartIdentifier match {
        case Seq(n) => ctes.contains(n.toLowerCase(Locale.ROOT))
        case _      => false
      }
    def walk(p: LogicalPlan, ctes: Set[String]): LogicalPlan = p match {
      case w: UnresolvedWith =>
        var names = ctes
        val defs = w.cteRelations.map { case (n, body, depth) =>
          val key = n.toLowerCase(Locale.ROOT)
          val seen = if (w.allowRecursion) names + key else names
          names += key
          (n, walk(body, seen).asInstanceOf[SubqueryAlias], depth)
        }
        w.copy(child = walk(w.child, names), cteRelations = defs)
      case c: SupervisingCommand => c.withTransformedSupervisedPlan(walk(_, ctes))
      case r: UnresolvedRelation => if (bound(r, ctes)) r else f(r)
      case t @ RelationTimeTravel(r: UnresolvedRelation, _, _) =>
        if (bound(r, ctes)) t else f(t)
      case _ =>
        p.mapChildren(walk(_, ctes)).transformExpressions {
          case s: SubqueryExpression => s.withNewPlan(walk(s.plan, ctes))
        }
    }
    walk(plan, Set.empty)
  }

  /** The table references [[mapRelations]] visits, in plan order. */
  def relations(plan: LogicalPlan): Seq[LogicalPlan] = {
    val refs = Seq.newBuilder[LogicalPlan]
    mapRelations(plan) { r => refs += r; r }
    refs.result()
  }
}
