package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters, the
  * standard pattern for libraries adding custom Catalyst expressions (Spark 4
  * moved `Column` onto ColumnNode, so `new Column(expr)` no longer exists; the
  * sanctioned converters live in `classic.ExpressionUtils`, package-private to
  * `org.apache.spark.sql`). Used by `graft.functions` and by corpus-plane
  * expression-level kernels (e.g. `Classifier.intDiv`). Also the way into
  * the SQL status store and the listener bus for `graft.tools.Diagnose`. */
object GraftExpressionBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-bind an analyzed plan to another session of the same SparkContext
    * (`classic.Dataset.ofRows` is package-private). Used to run a query under
    * session-isolated SQL confs without mutating the caller's session. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `localCheckpoint()` with the origin plan's STATISTICS severed.
    *
    * A checkpointed Dataset's `LogicalRDD` leaf carries the ORIGIN plan's
    * statistics snapshot, and Catalyst's size-only join estimate MULTIPLIES
    * child sizes — so an iterate-in-rounds pipeline that self-joins each
    * round's checkpoint (pointer doubling, Pregel-style closures) squares
    * `sizeInBytes` every round. The BigInteger doubles its BIT COUNT per
    * round; by round ~20 the planner is multiplying hundred-megabit numbers
    * inside `visitJoin` and the DRIVER, not the cluster, is the bottleneck
    * (caught live on the r16 packing skew ladder: one core, minutes per
    * plan). Severing the origin stats resets each round's leaf to
    * `defaultSizeInBytes`, which keeps every per-round plan's estimate a
    * bounded product. The RDD, schema, partitioning, and ordering are the
    * checkpoint's own; only the statistics (and origin constraints) drop. */
  def localCheckpointNoStats(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint()
    ck.queryExecution.analyzed match {
      case lr: execution.LogicalRDD =>
        classic.Dataset.ofRows(
          ck.sparkSession.asInstanceOf[classic.SparkSession],
          new execution.LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
            lr.outputOrdering, lr.isStreaming, lr.stream)(
            ck.sparkSession.asInstanceOf[classic.SparkSession], None, None))
      case _ => ck
    }
  }

  /** The store the UI's SQL tab reads: each execution's final plan graph and
    * its metrics rendered as the tab shows them (`SharedState` is
    * package-private). */
  def sqlStatusStore(spark: SparkSession): execution.ui.SQLAppStatusStore =
    spark.asInstanceOf[classic.SparkSession].sharedState.statusStore

  /** Block until every listener has handled every event posted so far. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
