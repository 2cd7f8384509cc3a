package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SessionState

/** Minimal bridge into Spark's `private[sql]` surface (Spark 4 split the
  * user-facing `Column` from catalyst `Expression`; the converters live in
  * `org.apache.spark.sql.classic.ExpressionUtils`, which is private[sql]).
  * Kept to one-liners so the engine's dependence on internals is
  * auditable in one place.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def sessionState(s: SparkSession): SessionState =
    org.apache.spark.sql.classic.ClassicConversions.castToImpl(s).sessionState
  /** `stmt` parsed by Spark's parser under `s`'s conf, as `s.sql` parses. */
  def parsePlan(s: SparkSession, stmt: String)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val impl = org.apache.spark.sql.classic.ClassicConversions.castToImpl(s)
    impl.withActive(impl.sessionState.sqlParser.parsePlan(stmt))
  }
  def ofRows(s: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      org.apache.spark.sql.classic.ClassicConversions.castToImpl(s), plan)
  /** Block until every event posted so far reached every listener
    * (`LiveListenerBus` is private[spark]). */
  def drainListeners(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()
}
