package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ReturnAnswer}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Minimal plan↔Dataset shims for the facade's plan-level table binding
  * (`GraftEngine.query`) and the incremental-MV plan surgery
  * ([[graft.MvIncremental.replayAugmented]]): `Dataset.ofRows` and the
  * analyzed plan accessor are `private[sql]`, so the two one-liners live
  * in this package — the same extension-point pattern as
  * [[GraftScanBridge]]. Attribute-backed columns and the session's
  * planner are `private[sql]` too, hence [[columnsOf]], [[column]] (the
  * facade's DML predicates, SET values and MERGE expressions) and
  * [[addPhysicalRewrite]].
  */
object GraftPlanBridge {

  /** Execute an arbitrary logical plan as a DataFrame. */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A DataFrame's ANALYZED plan — the stable subtree to graft under an
    * unresolved parent (resolution descends past resolved nodes).
    */
  def planOf(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  /** A DataFrame's result columns by position. Each refers to its
    * attribute directly, so a name that holds a dot or repeats still
    * resolves to exactly that column.
    */
  def columnsOf(df: DataFrame): IndexedSeq[Column] =
    df.asInstanceOf[classic.Dataset[Row]].logicalPlan.output.map(column).toIndexedSeq

  /** A Column over a parsed (or bound) Catalyst expression, as written:
    * it resolves against whichever plan it is attached to.
    */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Apply `rewrite` to every batch physical plan the session's planner
    * produces, whichever strategy planned each node. Installed at most
    * once per session and rewrite (compared by reference). Spark plans
    * every query root as a [[ReturnAnswer]] — first execution, each
    * subquery and each adaptive re-plan alike — so a strategy that
    * claims the root, plans it with the other strategies and rewrites
    * the finished tree sees all of them. Streaming roots are left alone:
    * their planner adds stateful strategies the session planner lacks.
    */
  def addPhysicalRewrite(spark: SparkSession, rewrite: SparkPlan => SparkPlan): Unit = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val methods = session.experimental
    methods.synchronized {
      val installed = methods.extraStrategies.exists {
        case r: RewriteRoots => r.rewrite eq rewrite
        case _               => false
      }
      if (!installed)
        methods.extraStrategies = new RewriteRoots(session, rewrite) +: methods.extraStrategies
    }
  }

  private final class RewriteRoots(session: classic.SparkSession,
                                   val rewrite: SparkPlan => SparkPlan) extends SparkStrategy {
    // roots this thread is planning: the nested planner call must pass
    // its own root on to the other strategies instead of recursing
    private val planning = ThreadLocal.withInitial[List[LogicalPlan]](() => Nil)

    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case root: ReturnAnswer if !root.isStreaming && !planning.get.exists(_ eq root) =>
        val outer = planning.get
        planning.set(root :: outer)
        try rewrite(session.sessionState.planner.plan(root).next()) :: Nil
        finally planning.set(outer)
      case _ => Nil
    }
  }
}
