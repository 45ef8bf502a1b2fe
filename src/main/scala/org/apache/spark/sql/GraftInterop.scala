package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Interop shim: a few Spark internals needed to build a function library
  * (Column <-> Expression bridging, the input-type ADT) are `private[sql]`
  * in Spark 4. Aliasing them from inside the package is the standard way
  * third-party Catalyst extensions (connectors, Sedona-style libs) bind.
  */
object GraftInterop {
  type AbsType = org.apache.spark.sql.types.AbstractDataType

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `localCheckpoint` (eager by default) with a bounded size estimate.
    *
    * Spark 4's `Dataset.localCheckpoint` carries the ORIGINAL plan's
    * statistics onto the `LogicalRDD` leaf
    * (`LogicalRDD.rewriteStatsAndConstraints`). This wrapper checkpoints,
    * then rebuilds that leaf with `sizeInBytes` capped (default 1 TiB);
    * row counts and correctness are unaffected. Why iterative operators
    * need the cap: [[graft.ops.Iterate.pin]].
    */
  def localCheckpointCappedStats(df: Dataset[Row],
      capBytes: Long = 1L << 40, eager: Boolean = true): DataFrame = {
    val ck = df.localCheckpoint(eager)
    ck.queryExecution.logical match {
      case lr: execution.LogicalRDD if lr.computeStats().sizeInBytes > BigInt(capBytes) =>
        val spark = ck.sparkSession.asInstanceOf[classic.SparkSession]
        val trimmed = lr.copy(lr.output, lr.rdd, lr.outputPartitioning,
          lr.outputOrdering, lr.isStreaming, lr.stream)(spark,
          Some(catalyst.plans.logical.Statistics(BigInt(capBytes))), None)
        classic.Dataset.ofRows(spark, trimmed)
      case _ => ck
    }
  }
}
