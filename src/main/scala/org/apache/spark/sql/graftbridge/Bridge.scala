package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access bridge: `Column ⇄ Expression` conversion lives in
  * `private[sql]` scope in Spark 4 (`classic.ExpressionUtils`). This object
  * sits under `org.apache.spark.sql` so graft's custom Catalyst
  * expressions (graft.functions.*) can be exposed as public `Column`s —
  * the same technique third-party Spark extension libraries use.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a logical plan as a DataFrame (`classic.Dataset.ofRows` is
    * private[sql]) — the V1 streaming Source needs it to hand
    * micro-batches back as `LogicalRelation(isStreaming = true)`,
    * exactly like Spark's own FileStreamSource.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Translate DataSource V2 `Predicate`s to V1 `Filter`s (Spark's own
    * converter, `internal.connector.PredicateUtils`, is private[sql]).
    * None when any predicate has no V1 equivalent — the caller must
    * then refuse the pushdown / metadata operation.
    */
  def v2ToV1Filters(
      predicates: Array[org.apache.spark.sql.connector.expressions
        .filter.Predicate])
      : Option[Array[org.apache.spark.sql.sources.Filter]] = {
    val converted = predicates.map(
      org.apache.spark.sql.internal.connector.PredicateUtils.toV1)
    if (converted.forall(_.isDefined)) Some(converted.map(_.get))
    else None
  }

  /** `StructType.merge` (private[sql]): the schema fold Spark's
    * `mergeSchema` inference job runs over part-file footers — fields
    * of `a` first, `b`'s new fields appended, nested structs merged,
    * conflicting types refused.
    */
  def mergeSchemas(a: org.apache.spark.sql.types.StructType,
                   b: org.apache.spark.sql.types.StructType,
                   caseSensitive: Boolean)
      : org.apache.spark.sql.types.StructType =
    a.merge(b, caseSensitive)

  /** `StructType.asNullable` (private[spark]): every field, nested ones
    * included, made nullable — what a file relation reports as its
    * schema whatever the footers declare.
    */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    s.asNullable

  /** Drain the listener bus (`SparkContext.listenerBus` is
    * private[spark]) so diagnostic listeners (tools.StageCountProbe)
    * read deterministic counts instead of racing async delivery.
    */
  def waitListenerBusEmpty(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
