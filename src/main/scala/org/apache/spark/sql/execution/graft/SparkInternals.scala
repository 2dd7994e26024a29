package org.apache.spark.sql.execution.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}

/** The Spark internals graft uses past the public API, in one place.
  * Each member is `private[sql]` or `private[execution]` in Spark, so
  * this object sits inside `org.apache.spark.sql.execution`; it only
  * delegates and modifies or shadows nothing.
  *
  * The candidate sweep ([[graft.planopt.Candidates.sweep]], shared by
  * the learned planner and labeling) plans candidates on session
  * clones, so a sweep never writes the live session's conf, and plans
  * every candidate, the session-native one included, from an
  * already-optimized tree the way `QueryExecution` does without
  * re-running analysis and optimization. Labeling executes a
  * candidate's join-order variant as a DataFrame. */
object SparkInternals {

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** A DataFrame over an already-built logical plan (`Dataset.ofRows`). */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(classic(spark), plan)

  /** A session sharing `spark`'s SparkContext and catalog with a copy
    * of its conf, temp views and functions: conf set on the clone never
    * reaches `spark`. */
  def cloneSession(spark: SparkSession): SparkSession = classic(spark).cloneSession()

  /** Run `body` with `spark` as this thread's active session, so
    * `SQLConf.get` inside Catalyst reads `spark`'s conf. */
  def withActive[T](spark: SparkSession)(body: => T): T = spark.withActive(body)

  /** Physical planning of an optimized plan, as `QueryExecution.sparkPlan`
    * does it: the first plan of `spark`'s planner, before preparations.
    * Planning caches statistics on `optimized`'s nodes; pass a clone
    * when other threads plan the same tree. */
  def createSparkPlan(spark: SparkSession, optimized: LogicalPlan): SparkPlan =
    QueryExecution.createSparkPlan(classic(spark).sessionState.planner, optimized)

  /** `QueryExecution.executedPlan` of a physical plan with AQE off:
    * `spark`'s preparations (subqueries, exchanges, codegen stages). */
  def prepareForExecution(spark: SparkSession, plan: SparkPlan): SparkPlan =
    QueryExecution.prepareForExecution(
      QueryExecution.preparations(classic(spark), None, subquery = false), plan)
}
