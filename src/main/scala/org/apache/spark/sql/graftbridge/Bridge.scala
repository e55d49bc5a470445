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

  /** Re-host a checkpointed LogicalRDD leaf with the HashPartitioning
    * its data PROVABLY has. `repartition(n, keys).localCheckpoint`
    * loses the partitioning under AQE (the adaptive plan's partitioning
    * isn't final when Dataset.checkpoint captures it — measured
    * UnknownPartitioning(0) on 4.1.2), so iterative operators re-shuffle
    * their edge frame every round. The caller GUARANTEES the frame was
    * materialized by a user-numPartitions repartition on exactly
    * `keyCols` — REPARTITION_BY_NUM shuffles are never coalesced or
    * skew-split by AQE, so the physical layout IS murmur3(keys) % n;
    * claiming anything else would silently corrupt co-partitioned
    * joins, hence the loud structural checks. The original leaf's
    * stats and constraints are CARRIED OVER — dropping them (first
    * attempt) made the leaf size as defaultSizeInBytes, which silently
    * turned every downstream broadcast over the operator's output into
    * a sort-merge join and regressed the CC family ~2x at sf0.1.
    */
  def claimHashPartitioned(df: org.apache.spark.sql.DataFrame,
                           numParts: Int,
                           keyCols: Seq[String])
  : org.apache.spark.sql.DataFrame = {
    val spark =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        require(lr.rdd.getNumPartitions == numParts,
          s"claimHashPartitioned: checkpoint has ${lr.rdd.getNumPartitions} " +
            s"partitions, caller claims $numParts — the materializing " +
            "repartition must use the same explicit numPartitions")
        val attrs = keyCols.map(n => lr.output.find(_.name == n).getOrElse(
          throw new IllegalArgumentException(
            s"claimHashPartitioned: no column '$n' in " +
              lr.output.map(_.name).mkString(","))))
        val part = org.apache.spark.sql.catalyst.plans.physical
          .HashPartitioning(attrs, numParts)
        org.apache.spark.sql.classic.Dataset.ofRows(spark,
          new org.apache.spark.sql.execution.LogicalRDD(
            lr.output, lr.rdd, part, Nil, lr.isStreaming, lr.stream)(
            spark, Some(lr.computeStats()), Some(lr.constraints)))
      case other => throw new IllegalStateException(
        "claimHashPartitioned expects a checkpointed LogicalRDD leaf, " +
          s"got ${other.getClass.getSimpleName}")
    }
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
