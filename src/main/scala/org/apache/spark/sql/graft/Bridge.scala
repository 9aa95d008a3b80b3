package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.classic.ExpressionUtils

/** Spark 4 made `Column` implementation-agnostic (ColumnNode); the
  * classic Expression bridge is package-private. This shim exposes the
  * two conversions the kernel expressions
  * (`graft.functions.expressions.SketchExpressions`) need to become
  * Columns, the one way the library scopes session conf
  * ([[scoped]] + [[rebind]]), and driver-built relations
  * ([[localLongs]]). */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Block until the listener bus has delivered all posted events (it is
    * asynchronous; `private[spark]`) — the bench's per-sample task
    * accounting reads listener-accumulated metrics right after a job. */
  def drainListeners(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** A child of `s` whose own `SQLConf` carries `conf` on top of `s`'s
    * current values — the only place the library sets session conf.
    * The child shares `s`'s SparkContext and cache manager and copies
    * its temp views and registered functions, so work built on the child
    * runs under `conf` whenever it executes while nothing on `s` changes
    * (no restore, no window in which a query on `s` sees the scoped
    * values). Cloning copies session state and runs no job, so a child
    * per call is cheap. Bring a plan into the child with [[rebind]]. */
  def scoped(s: SparkSession, conf: (String, String)*): SparkSession = {
    val child = s.asInstanceOf[classic.SparkSession].cloneSession()
    conf.foreach { case (k, v) => child.conf.set(k, v) }
    child
  }

  /** `df`'s logical plan as a DataFrame of session `s`: it executes under
    * `s`'s conf. Plans from different sessions of one SparkContext mix
    * freely (joins, unions), and cached or checkpointed data is shared. */
  def rebind(s: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].logicalPlan)

  /** A local relation of non-null `LongType` columns named `names` over
    * driver-built `rows` — no external `Row` per record, and the planner
    * sees its exact size (16 B per row for two columns). */
  def localLongs(s: SparkSession, names: Seq[String], rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      LocalRelation(names.map(AttributeReference(_, LongType, nullable = false)()), rows))
}
