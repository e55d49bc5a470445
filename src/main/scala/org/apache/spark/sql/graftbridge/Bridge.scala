package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal accessor for the private[sql] Expression<->Column adapters, so
  * graft's custom Catalyst expressions (e.g. graft.functions.DotProduct)
  * can be exposed as ordinary Columns. Lives inside the sql package
  * namespace purely for visibility; contains no engine logic.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a resolved LogicalPlan (Dataset.ofRows is
    * private[sql]) — lets graft build queries over custom logical nodes.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The frame `read` builds, planned in a clone of `spark` whose SQL
    * conf differs only by `conf`, and returned as a frame of `spark`.
    * A file relation keeps the session it was read in, and scan planning
    * sizes its splits from that session's conf alone
    * (`FilePartition.maxSplitBytes`, which has no per-read option). So
    * the scan sees `conf`, while everything else, the caller's conf and
    * its listeners included, stays with `spark`.
    */
  def readWithConf(spark: org.apache.spark.sql.SparkSession, conf: Map[String, String])(
      read: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val clone = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()
    conf.foreach { case (k, v) => clone.sessionState.conf.setConfString(k, v) }
    ofRows(spark, read(clone).queryExecution.analyzed)
  }

  /** Unpersist the blocks behind the SINGLE localCheckpoint leaf in
    * `df`'s plan. For iterative fixpoints that re-checkpoint a frame
    * per round: once round N+1 is eagerly materialized, round N's
    * blocks are dead weight in unified storage memory (the accumulation
    * class the bench's clearState logs document) — release them instead
    * of waiting for GC-driven cleanup. The CALLER must guarantee
    * nothing will read the released frame again: a localCheckpoint's
    * lineage is truncated, so its data is unrecoverable after this.
    *
    * The plan must be exactly one LogicalRDD leaf (optionally under
    * projections/filters) — a frame whose plan embeds ANY other leaf
    * (e.g. a still-live edges checkpoint joined in before
    * re-checkpointing) is rejected loudly rather than having its
    * unrelated, unrecoverable checkpoint destroyed mid-fixpoint
    * (ADVICE r10).
    */
  def releaseCheckpoints(df: org.apache.spark.sql.DataFrame): Unit = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    leaves match {
      case Seq(lr: org.apache.spark.sql.execution.LogicalRDD) =>
        lr.rdd.unpersist(blocking = false)
      case other => throw new IllegalArgumentException(
        "releaseCheckpoints expects a plan with exactly one LogicalRDD " +
          s"leaf (a superseded checkpoint); got ${other.size} leaves: " +
          other.map(_.getClass.getSimpleName).mkString(", "))
    }
  }
}
