package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal package-placed bridge to the `private[sql]` plan-to-Dataset
  * constructor — the standard pattern for libraries that contribute
  * custom logical operators (a `Dataset` can only be built from a
  * `LogicalPlan` via `Dataset.ofRows`, which Spark scopes to its own
  * package). Nothing else from the internal surface is exposed. */
object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A batch frame re-presented as a STREAMING micro-batch with exactly
    * `schema` — the v1 `Source.getBatch` contract (the Kafka source's
    * `internalCreateDataFrame(rdd, schema, isStreaming = true)` shape).
    * Row computation stays lazy (the RDD plans when the batch runs);
    * what this pins is the presented schema: batches assembled from
    * different commit types would otherwise leak different NULLABILITY
    * into the state store's key schema and hard-fail a restart. */
  def asStreamingBatch(spark: SparkSession, df: DataFrame,
                       schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, schema, isStreaming = true)

  /** The inverse direction for a streaming SINK's `addBatch` input: the
    * engine hands a frame whose plan is streaming-internal; re-present
    * its rows as a plain batch frame so ordinary writers (a txlog
    * append's stage/commit path) can plan against it. */
  def asBatch(spark: SparkSession, df: DataFrame): DataFrame =
    spark.asInstanceOf[classic.SparkSession]
      .internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
        isStreaming = false)

  /** Catalyst expression → Column, directly — how every graft Column
    * front door builds its native expression. A registry round-trip
    * (`createOrReplaceTempFunction` + `call_function`) would rewrite a
    * session-global name on every call: a builder closing over one
    * call's driver metadata (e.g. a PQ codebook) could be bound by a
    * concurrent call, and each re-registration logs a warning. Direct
    * construction has no shared name to race on. */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    classic.ExpressionUtils.column(e)

  /** Column → catalyst expression (the inverse bridge). */
  def expression(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    classic.ExpressionUtils.expression(c)
}
