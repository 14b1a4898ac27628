package org.apache.spark.sql.execution

import org.apache.spark.sql.{classic, Dataset}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

/** A query execution that plans adaptively only when its plan has a
  * shuffle for AQE to re-plan. The plan is first prepared without AQE,
  * exchanges inserted. AQE's partition coalescing, skew splits and join
  * demotion all read shuffle statistics, so when that plan (subqueries
  * included) holds no [[ShuffleExchangeLike]] it is the plan that runs,
  * and the adaptive event loop with its per-stage plan updates is
  * skipped. Otherwise the execution plans as any other does: adaptively
  * when the session enables AQE. No session setting is read or written
  * here, so every other setting governs the plan either way. Lives in
  * Spark's package for the static preparation rules. */
private[execution] class ShuffleGatedExecution(
    session: classic.SparkSession, analyzed: LogicalPlan)
    extends QueryExecution(session, analyzed) {

  private lazy val gated: SparkPlan = {
    assertOptimized()
    val static = executePhase(QueryPlanningTracker.PLANNING) {
      QueryExecution.prepareForExecution(
        QueryExecution.preparations(sparkSession, None, subquery = false),
        sparkPlan.clone())
    }
    if (static.collectWithSubqueries { case e: ShuffleExchangeLike => e }
        .nonEmpty) super.executedPlan
    else { tracker.setReadyForExecution(); static }
  }

  override def executedPlan: SparkPlan = gated
}

object ShuffleGatedExecution {

  /** `ds`'s analyzed plan, to be executed by a [[ShuffleGatedExecution]]
    * in `ds`'s own session. */
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val c = ds.asInstanceOf[classic.Dataset[T]]
    new classic.Dataset[T](
      new ShuffleGatedExecution(c.sparkSession, c.queryExecution.analyzed),
      c.encoder)
  }
}
