/*
 * Lives under org.apache.spark.sql ONLY to reach the sql-private
 * `SparkSession.withActive` and `Dataset.ofRows` — the bridge pattern for
 * building a DataFrame straight from a logical plan, with no SQL text and
 * no session catalog entry in between.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.CTESubstitution
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset

object PlanBridge {
  /** Spark's own CTE substitution over a parsed plan: every CTE reference
    * becomes a `CTERelationRef`, so each `UnresolvedRelation` left names
    * a relation outside the query. Runs under the session's conf (the
    * rule reads the CTE precedence policy). */
  def substituteCtes(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    spark.withActive(CTESubstitution(plan))

  /** Analyze `plan` in `spark` and wrap it as a DataFrame. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(castToImpl(spark), plan)
}
