package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** A physical plan prepared once and run again with new parameters, as a
  * one-node logical leaf. A query that repeats one shape with new values
  * pays Spark's per-query driver work (building the DataFrame, analysis,
  * optimization, physical planning) once: every later query binds its
  * values into the prepared plan's expression fields ([[bind]]) and runs
  * a DataFrame over the leaf ([[toDF]]), which analyzes, optimizes and
  * plans as one node. The parameters must be expression fields that leave
  * the generated code text alone (an `addReferenceObj`), so the compiled
  * classes are cache hits too.
  *
  * `plan` is an executable final plan: [[PreparedPlan.of]] takes it from a
  * query's AQE-unwrapped final plan, and only when it holds no exchange,
  * query stage or subquery, so no prepared plan carries another query's
  * materialized results. `planStats` are that query's optimized-plan
  * statistics, so a join over the leaf plans as it would over the query.
  * The leaf shows `plan` as its inner child, as [[PreparedPlanExec]]
  * does, so `explain`, `QueryRun`'s captured plans and the plan audits
  * see the whole tree. */
final case class PreparedPlan(output: Seq[Attribute], plan: SparkPlan,
    planStats: Statistics) extends LeafNode with MultiInstanceRelation {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(plan)
  override def computeStats(): Statistics = planStats
  override def newInstance(): PreparedPlan =
    copy(output = output.map(_.newInstance()))
  override def simpleString(maxFields: Int): String =
    s"PreparedPlan ${truncatedString(output, "[", ", ", "]", maxFields)}"

  /** This plan with `rule` applied to the expressions of a copy of
    * `plan`. Every node is copied, not only those above a changed
    * expression: whole-stage code generation records each node's
    * consumer on the node itself (`CodegenSupport.parent`), so a node
    * shared by two bound trees that generate code at once could emit
    * the other tree's values. The output gets fresh ids, so two
    * bindings can meet in one query. */
  def bind(rule: PartialFunction[Expression, Expression]): PreparedPlan =
    PreparedPlan(output.map(_.newInstance()),
      plan.clone().transformAllExpressions(rule), planStats)

  /** A DataFrame that runs `plan`. Each action on it is a query
    * execution of its own, with its own execution id. Adds
    * [[PreparedPlanStrategy]] to the session if absent. */
  def toDF(spark: SparkSession): DataFrame = {
    if (!spark.experimental.extraStrategies.contains(PreparedPlanStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ PreparedPlanStrategy
    org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark, this)
  }
}

object PreparedPlan {

  /** `df`'s final physical plan prepared for reuse, or None when it holds
    * an exchange, a query stage or a subquery. Plans `df`: its executed
    * plan is kept, so an action on `df` afterwards plans nothing again.
    * Under AQE the plan is finalized here, without running anything,
    * which only an exchange-free plan allows; the final plan is what an
    * action on `df` runs. AQE reports a final plan to the SQL UI once,
    * and here there is no execution to report it to, so the UI shows
    * that action's initial plan. */
  def of(df: DataFrame): Option[PreparedPlan] = {
    val qe = df.queryExecution
    val plan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec =>
        // before an action, `executedPlan` is AQE's initial plan, with
        // every exchange the plan will run
        if (standalone(a.executedPlan)) Some(a.finalPhysicalPlan) else None
      case p => Some(p)
    }
    val stats = qe.optimizedPlan.stats
    plan.filter(standalone).map(p => PreparedPlan(
      qe.analyzed.output.map(_.newInstance()), p,
      Statistics(stats.sizeInBytes, stats.rowCount)))
  }

  /** No exchange, query stage or subquery anywhere in `plan`. */
  private def standalone(plan: SparkPlan): Boolean = !plan.exists {
    case _: Exchange | _: ReusedExchangeExec | _: QueryStageExec |
        _: AdaptiveSparkPlanExec => true
    case p => p.subqueries.nonEmpty
  }
}

/** Runs a [[PreparedPlan]]'s bound plan: a leaf that delegates every way
  * of executing to it, so a collect is the bound plan's own collect (one
  * Spark job for a top-k), and shows it as its inner child. */
final case class PreparedPlanExec(output: Seq[Attribute], plan: SparkPlan)
    extends LeafExecNode {

  override def innerChildren: Seq[QueryPlan[_]] = Seq(plan)
  override def simpleString(maxFields: Int): String =
    s"PreparedPlan ${truncatedString(output, "[", ", ", "]", maxFields)}"

  protected override def doExecute(): RDD[InternalRow] = plan.execute()
  override def executeCollect(): Array[InternalRow] = plan.executeCollect()
  override def executeTake(n: Int): Array[InternalRow] = plan.executeTake(n)
  override def executeTail(n: Int): Array[InternalRow] = plan.executeTail(n)
}

/** Plans a [[PreparedPlan]] leaf as its [[PreparedPlanExec]]. */
object PreparedPlanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: PreparedPlan => PreparedPlanExec(p.output, p.plan) :: Nil
    case _ => Nil
  }
}
