package org.apache.spark.sql.execution.graft

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

/** Visibility bridge into physical planning (`QueryExecution.createSparkPlan`,
  * `preparations` and `prepareForExecution` are `private[execution]`), in
  * the pattern of [[org.apache.spark.graft.ListenerBridge]].
  *
  * [[replanner]] holds a query's optimized logical plan and runs the two
  * steps of `QueryExecution.executedPlan` on it again at every call, so each
  * returned plan has its own exchanges, reuse targets, DPP broadcasts and
  * subquery futures: executing it can never read a result an earlier plan
  * computed. `subquery = false` keeps `ReuseExchangeAndSubquery`, without
  * which the shared-exchange plans would compute their shared exchange twice.
  * No adaptive rule is passed: the re-planned plan is the non-adaptive one
  * whatever `spark.sql.adaptive.enabled` says (the bench session has AQE
  * off).
  */
object PlanBridge {
  /** Forces `qe`'s analysis and optimization now; every call of the returned
    * function plans the held optimized plan afresh. */
  def replanner(qe: QueryExecution): () => SparkPlan = {
    val session = qe.sparkSession
    val optimized = qe.optimizedPlan
    () => session.withActive {
      val planned =
        QueryExecution.createSparkPlan(session.sessionState.planner, optimized.clone())
      QueryExecution.prepareForExecution(
        QueryExecution.preparations(session, None, subquery = false), planned)
    }
  }
}
