/*
 * Lives under org.apache.spark.sql ONLY to reach the sql-private
 * `SparkSession.withActive`, `Dataset.ofRows`, the session's `SQLConf`
 * and `StructType.merge` — the bridge pattern for building a DataFrame
 * straight from a logical plan or a file relation, with no SQL text and
 * no session catalog entry in between.
 */
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.CTESubstitution
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

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

  /** The session's SQL conf. */
  def sqlConf(spark: SparkSession): SQLConf = castToImpl(spark).sessionState.conf

  /** Spark's parquet schema merge (`mergeSchema=true`) over per-file
    * schemas, in the order given; None when there are none. */
  def mergeSchemas(spark: SparkSession, schemas: Seq[StructType]): Option[StructType] = {
    val caseSensitive = sqlConf(spark).caseSensitiveAnalysis
    schemas.reduceOption(_.merge(_, caseSensitive))
  }

  /** A parquet scan of `index` as a DataFrame: the relation
    * `spark.read.options(options).parquet(…)` resolves to, with
    * `dataSchema` given instead of inferred (the same nullability). */
  def parquetRelation(spark: SparkSession, index: FileIndex, dataSchema: StructType,
      options: Map[String, String]): DataFrame =
    Dataset.ofRows(castToImpl(spark), LogicalRelation(HadoopFsRelation(index,
      index.partitionSchema, dataSchema.asNullable, None, new ParquetFileFormat, options)(spark)))
}
