package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedFunction, UnresolvedRelation, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, Literal, SubqueryExpression, UnresolvedWindowExpression, WindowExpression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, Project, SubqueryAlias}

/** Incremental-maintainability analysis for a materialized view's
  * defining SQL (the Trino REFRESH surface stays `REFRESH MATERIALIZED
  * VIEW` — incrementality is an execution strategy, not syntax, matching
  * Trino's own incremental-when-append-only Iceberg MV refresh,
  * https://trino.io/docs/current/connector/iceberg.html#materialized-views).
  *
  * The question answered here is purely SYNTACTIC, on Spark's PARSED
  * (unresolved) plan: is the definition a shape whose result over
  * `old ∪ delta` is derivable from (result over old, result over delta)
  * when every source commit since the last refresh was append-only?
  *
  * Two shapes qualify:
  *
  *   - [[MvProjectShape]] — select-project-filter over the single source
  *     (row-wise, deterministic, no aggregates): new source rows map to
  *     new MV rows, so the refresh is ONE APPEND COMMIT of the projected
  *     delta — O(|delta|) whatever the table size.
  *   - [[MvAggShape]] — a single GROUP BY (or global) aggregate whose
  *     measures are all decomposable (count/sum/min/max — each merges
  *     with itself under append-only inserts): run the definition over
  *     the delta, then re-aggregate `materialized ∪ delta-partial` by the
  *     key columns — O(|MV| + |delta|), never a source re-scan.
  *
  * Either shape may sit over a TREE of INNER (or cross) joins of the
  * recorded sources instead of a bare table — the fact ⋈ dim1 ⋈ dim2
  * star is the common MV shape: inner join is monotone under
  * append-only inserts, and the new join rows decompose exactly by the
  * telescoping identity
  * `Δ(S1 ⋈ … ⋈ SN) = ⋃_i  S1_old ⋈ … ⋈ S(i-1)_old ⋈ ΔSi ⋈ S(i+1)_new ⋈ … ⋈ SN_new`
  * (legs disjoint by the FIRST source whose row is new) — the engine
  * replays the definition once per non-empty leg. Outer joins do NOT
  * qualify: a new B-row can retract an old unmatched-A output row,
  * which no append can express.
  *
  * Everything else (outer/semi joins, DISTINCT, windows, subqueries,
  * percentile, self-references, CTEs, non-deterministic functions)
  * returns None and the caller falls back to the full-recompute
  * refresh. The analysis is deliberately conservative: a miss costs a
  * recompute, a false positive would corrupt the view.
  */
private[graft] object MvIncremental {

  sealed trait Shape
  /** Row-wise projection (optionally filtered): refresh = append delta. */
  case object MvProjectShape extends Shape
  /** Aggregate: positional output classification — `outputs(i)` says how
    * the i-th MV column merges (group key, or a decomposable measure).
    */
  final case class MvAggShape(outputs: Seq[MvOut]) extends Shape

  sealed trait MvOut
  case object MvKey extends MvOut
  /** fn ∈ count|sum|min|max: count merges by SUM, the rest by themselves. */
  final case class MvMerge(fn: String) extends MvOut
  /** avg: NOT self-mergeable — decomposed into hidden sum+count partial
    * columns (`__mv_s_i`, `__mv_c_i`, i = output position) that the
    * storage table carries alongside the visible value and the engine
    * conceals on reads; the merge re-sums both partials and re-divides.
    * The hidden sum accumulates over `CAST(arg AS DOUBLE)` — the same
    * accumulator type Spark's own Average uses for non-decimal inputs —
    * so merge-then-divide reproduces a recompute bit-for-bit whenever
    * the sums are exactly representable; decimal-typed avg outputs are
    * rejected at refresh time (different division/rounding semantics).
    */
  case object MvAvg extends MvOut

  /** Functions whose value depends on more than their arguments — a
    * definition using one would materialize different rows per run, so
    * replaying it over a delta is meaningless.
    */
  private val nonDeterministic = Set(
    "rand", "randn", "random", "uuid", "shuffle",
    "monotonically_increasing_id", "input_file_name",
    "now", "current_timestamp", "localtimestamp", "current_date",
    "current_timezone", "unix_timestamp", "current_user", "session_user")

  private val mergeable = Set("count", "sum", "min", "max")

  /** Classify `sql` for incremental refresh against the recorded source
    * set (one table, or several for the join shape). `sessionSchema`
    * resolves bare names the way the engine's binding does
    * ([[TableRefs]]). None = not incrementally maintainable; refresh must
    * recompute.
    */
  def classify(spark: SparkSession, sql: String,
               sources: Set[(String, String)],
               sessionSchema: String): Option[Shape] = {
    val plan =
      try TableRefs.parse(sql)
      catch { case _: Exception => return None }

    // each recorded source referenced EXACTLY once — a self-join
    // (sources map still size 1, two relation nodes) must NOT run over
    // the delta, a third table means an unclassified shape, and a
    // time-travel read pins a state no delta advances
    val named = TableRefs.relations(plan).map {
      case r: UnresolvedRelation =>
        TableRefs.schemaTable(r.multipartIdentifier, sessionSchema).getOrElse(return None)
      case _ => return None
    }
    if (named.size != sources.size || named.toSet != sources) return None

    if (!expressionsSafe(spark, plan)) return None

    def fromOk(child: LogicalPlan): Boolean =
      if (sources.size == 1) sourceOnly(child)
      else joinTreeSources(child) == sources.size

    plan match {
      case Aggregate(grouping, aggExprs, child, _) if fromOk(child) =>
        classifyAggregate(spark, grouping, aggExprs)
      case Project(projList, child) if fromOk(child) =>
        // the parser leaves a GROUP-BY-less aggregate (`SELECT count(*)
        // FROM t`) as a Project — the Aggregate node only appears during
        // analysis, so an agg function here means GLOBAL aggregate, and
        // treating it as row-wise would be corrupting
        if (projList.exists(e => containsAggFunction(spark, e)))
          classifyAggregate(spark, Nil, projList)
        else if (projList.exists { case _: UnresolvedStar => true; case _ => false })
          Some(MvProjectShape) // SELECT * [WHERE …]: row-wise by definition
        else Some(MvProjectShape)
      case _ => None
    }
  }

  /** Run a definition whose table references the engine has already
    * bound (each source is a DataFrame's plan under its name) with the
    * hidden sum/count partials of its [[MvAvg]] outputs appended to the
    * aggregate's output list:
    * `sum(CAST(arg AS DOUBLE)) AS __mv_s_i, count(arg) AS __mv_c_i`
    * (FILTER clause preserved on both). Plan surgery instead of SQL-text
    * rewriting: nothing re-quotes or re-parses user expressions, and the
    * whole tree analyzes as one ordinary Dataset. None when the plan does
    * not analyze or an avg output is not the Alias(avg(..)) shape
    * classify admitted — callers fall back to full recompute.
    */
  def replayAugmented(spark: SparkSession, bound: LogicalPlan,
                      outputs: Seq[MvOut]): Option[org.apache.spark.sql.DataFrame] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.DoubleType
    def hiddenFor(aggs: Seq[Expression]): Option[Seq[Expression]] = {
      if (aggs.size != outputs.size) return None
      val hs = aggs.zip(outputs).zipWithIndex.collect {
        case ((a, MvAvg), i) =>
          val fn = a match {
            case Alias(f: UnresolvedFunction, _) => Some(f)
            case UnresolvedAlias(f: UnresolvedFunction, _) => Some(f)
            case _ => None
          }
          fn.map(f => Seq(
            Alias(f.copy(nameParts = Seq("sum"),
              arguments = Seq(Cast(f.arguments.head, DoubleType))), s"__mv_s_$i")(),
            Alias(f.copy(nameParts = Seq("count")), s"__mv_c_$i")()))
      }
      if (hs.exists(_.isEmpty)) None else Some(hs.flatten.flatten)
    }
    val hasAvg = outputs.contains(MvAvg)
    val augmented =
      if (!hasAvg) bound
      else bound match {
        case a @ Aggregate(_, aggs, _, _) =>
          hiddenFor(aggs) match {
            case Some(h) => a.copy(aggregateExpressions =
              (aggs ++ h).map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedExpression]))
            case None => return None
          }
        case p @ Project(projList, _) =>
          hiddenFor(projList) match {
            case Some(h) => p.copy(projectList =
              (projList ++ h).map(_.asInstanceOf[org.apache.spark.sql.catalyst.expressions.NamedExpression]))
            case None => return None
          }
        case _ => return None
      }
    try Some(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, augmented))
    catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** Top-level equi-join key pairs of the two-source join shape: for
    * each conjunct `x.c1 = y.c2` whose qualifiers unambiguously name the
    * two sources, the ((source, column), (source, column)) pair. The
    * refresh uses these to prune the FULL-side scan of a join-leg replay
    * down to the delta's key values (a 5-row dim append must not re-scan
    * a 100 TB fact in full — the pushed IN filter reaches the manifest
    * bounds tier and skips fact files wholesale). Extraction is
    * conservative: two-part attribute names only, each qualifier
    * matching exactly one side's alias/table set; anything ambiguous
    * contributes no pair (pruning is an optimization — a missed pair
    * just keeps the full scan).
    */
  def equiJoinKeys(sql: String, sources: Set[(String, String)], sessionSchema: String)
      : Seq[(((String, String), String), ((String, String), String))] = {
    import org.apache.spark.sql.catalyst.expressions.{And, EqualTo}
    val plan =
      try TableRefs.parse(sql)
      catch { case _: Exception => return Nil }
    def stOf(r: UnresolvedRelation): Option[(String, String)] =
      TableRefs.schemaTable(r.multipartIdentifier, sessionSchema)
    // qualifier → source, from every alias sitting DIRECTLY over one
    // bare source plus each table's own name; a name claimed by two
    // different sources is ambiguous and resolves nothing
    def srcUnder(p: LogicalPlan): Option[(String, String)] = p match {
      case r: UnresolvedRelation => stOf(r).filter(sources.contains)
      case SubqueryAlias(_, child) => srcUnder(child)
      case Filter(_, child) => srcUnder(child)
      case _ => None
    }
    def aliasPairs(p: LogicalPlan): Seq[(String, (String, String))] = p match {
      case sa: SubqueryAlias =>
        srcUnder(sa.child).toSeq.map(st =>
          sa.alias.toLowerCase(java.util.Locale.ROOT) -> st) ++
          aliasPairs(sa.child)
      case r: UnresolvedRelation =>
        stOf(r).filter(sources.contains).toSeq.map(st =>
          st._2.toLowerCase(java.util.Locale.ROOT) -> st)
      case other => other.children.flatMap(aliasPairs)
    }
    val byName: Map[String, (String, String)] = aliasPairs(plan)
      .groupBy(_._1).collect {
        case (n, ps) if ps.map(_._2).distinct.size == 1 => n -> ps.head._2
      }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case x => Seq(x)
    }
    plan.collect { case j: Join if j.joinType == Inner => j }.flatMap { j =>
      j.condition.toSeq.flatMap(conjuncts).flatMap {
        case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
            if a.nameParts.length == 2 && b.nameParts.length == 2 =>
          val qa = a.nameParts.head.toLowerCase(java.util.Locale.ROOT)
          val qb = b.nameParts.head.toLowerCase(java.util.Locale.ROOT)
          (byName.get(qa), byName.get(qb)) match {
            case (Some(sa), Some(sb)) if sa != sb =>
              Some(((sa, a.nameParts.last), (sb, b.nameParts.last)))
            case _ => None
          }
        case _ => None
      }
    }.distinct
  }

  /** child is the bare source: UnresolvedRelation, optionally aliased
    * and/or under ONE row-wise Filter. Anything else (joins, generators,
    * nested queries) disqualifies.
    */
  private def sourceOnly(plan: LogicalPlan): Boolean = plan match {
    case _: UnresolvedRelation => true
    case SubqueryAlias(_, child) => sourceOnly(child)
    case Filter(_, child) => sourceOnly(child)
    case _ => false
  }

  /** Number of bare sources under `plan` when it is a TREE of inner (or
    * cross — both monotone) joins over bare sources, optionally aliased
    * and/or under row-wise Filters; 0 when any node disqualifies. USING
    * / NATURAL joins parse to a different JoinType and stay excluded;
    * so does every outer/semi/anti flavor (non-monotone under appends).
    */
  private def joinTreeSources(plan: LogicalPlan): Int = plan match {
    case p if sourceOnly(p) => 1
    case j: Join if j.joinType == Inner || j.joinType == Cross =>
      val l = joinTreeSources(j.left)
      val r = joinTreeSources(j.right)
      if (l == 0 || r == 0) 0 else l + r
    case SubqueryAlias(_, child) => joinTreeSources(child)
    case Filter(_, child) => joinTreeSources(child)
    case _ => 0
  }

  /** No subqueries, no window expressions, no non-deterministic or
    * unregistered functions anywhere in ANY node's expressions
    * (`plan.expressions` alone is per-node — a Filter's condition below
    * the root Project would go unchecked).
    */
  private def expressionsSafe(spark: SparkSession, plan: LogicalPlan): Boolean =
    plan.flatMap(_.expressions).forall(_.collectFirst {
      case _: SubqueryExpression => ()
      case _: WindowExpression => ()
      case _: UnresolvedWindowExpression => ()
      case f: UnresolvedFunction
        if nonDeterministic.contains(fnName(f)) || fnGroup(spark, f).isEmpty => ()
    }.isEmpty)

  private def fnName(f: UnresolvedFunction): String =
    f.nameParts.last.toLowerCase(java.util.Locale.ROOT)

  /** Registry group of a parsed function call ("agg_funcs",
    * "window_funcs", …) — the public FunctionRegistry metadata Spark's
    * own docs generator uses; None for names the session can't resolve.
    */
  private def fnGroup(spark: SparkSession, f: UnresolvedFunction): Option[String] =
    try Option(spark.sessionState.catalog
        .lookupFunctionInfo(FunctionIdentifier(fnName(f))).getGroup)
    catch { case _: Exception => None }

  private def isAggFunction(spark: SparkSession, f: UnresolvedFunction): Boolean =
    fnGroup(spark, f).contains("agg_funcs")

  private def containsAggFunction(spark: SparkSession, e: Expression): Boolean =
    e.collectFirst {
      case f: UnresolvedFunction if isAggFunction(spark, f) => ()
    }.nonEmpty

  /** Aggregate eligibility: every output is a plain grouping attribute or
    * an alias of a mergeable non-DISTINCT aggregate call, and every
    * grouping expression is itself one of the key outputs (by attribute
    * name or GROUP-BY ordinal) — otherwise the merge re-aggregation could
    * not reconstruct the groups from the materialized rows.
    */
  private def classifyAggregate(spark: SparkSession,
                                grouping: Seq[Expression],
                                aggExprs: Seq[Expression]): Option[Shape] = {
    val outs: Seq[Option[MvOut]] = aggExprs.map {
      case _: UnresolvedAttribute => Some(MvKey)
      case Alias(_: UnresolvedAttribute, _) => Some(MvKey)
      case Alias(f: UnresolvedFunction, _) => classifyAgg(spark, f)
      case UnresolvedAlias(f: UnresolvedFunction, _) => classifyAgg(spark, f)
      case _ => None
    }
    if (outs.exists(_.isEmpty)) return None
    val outputs = outs.flatten

    // names the key outputs answer to: the source column AND any alias
    val keyNames: Set[String] = aggExprs.zip(outputs).collect {
      case (a: UnresolvedAttribute, MvKey) => Seq(attrName(a))
      case (Alias(a: UnresolvedAttribute, name), MvKey) =>
        Seq(attrName(a), name.toLowerCase(java.util.Locale.ROOT))
    }.flatten.toSet
    val groupingCovered = grouping.forall {
      case a: UnresolvedAttribute => keyNames.contains(attrName(a))
      case o: org.apache.spark.sql.catalyst.analysis.UnresolvedOrdinal =>
        o.ordinal >= 1 && o.ordinal <= outputs.size && outputs(o.ordinal - 1) == MvKey
      case Literal(i: Int, _) => // GROUP BY <ordinal>, pre-4.x parser shape
        i >= 1 && i <= outputs.size && outputs(i - 1) == MvKey
      case _ => false
    }
    if (groupingCovered) Some(MvAggShape(outputs)) else None
  }

  private def attrName(a: UnresolvedAttribute): String =
    a.nameParts.last.toLowerCase(java.util.Locale.ROOT)

  /** A measure merges iff it is count/sum/min/max, non-DISTINCT. A
    * FILTER clause is delta-safe: the definition replay applies it to
    * the delta rows, and both union sides of the merge are already
    * post-filter aggregates, so the merge needs no re-application (the
    * filter expression itself passed [[expressionsSafe]] — it is part
    * of the UnresolvedFunction's expression tree). DISTINCT is not
    * decomposable (an element may occur on both sides).
    */
  private def classifyAgg(spark: SparkSession, f: UnresolvedFunction): Option[MvOut] = {
    val n = fnName(f)
    if (mergeable.contains(n) && !f.isDistinct && isAggFunction(spark, f))
      Some(MvMerge(n))
    else if (n == "avg" && !f.isDistinct && f.arguments.size == 1 &&
        isAggFunction(spark, f))
      Some(MvAvg)
    else None
  }
}
