package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{coalesce, lit, sum}
import org.apache.spark.sql.graftbridge.Bridge

/** The loop under the checkpointed iterative operators (connected
  * components, PageRank, label propagation, k-core, k-means).
  *
  * Round `r` (from 0) builds `step(prev, r)` over the previous round's
  * state (`init` for round 0) and materializes it with ONE eager
  * localCheckpoint: the lineage never grows, so Catalyst never
  * re-optimizes the accumulated trajectory.
  * A step may run several propagation rounds of its own before the
  * checkpoint (CC and label propagation run two). The step's output is
  * the next state as it stands, so a column that only the `changed`
  * predicate reads stays in it: the step reads `prev` by column name
  * and the caller projects the result. (Dropping such a column here
  * broke CC on Spark 4.1: with its state a bare (v, c) checkpoint leaf
  * under a Union, the optimizer's Union constraint rewrite failed with
  * "key not found".)
  *
  * Stopping:
  *  - without `changed`, exactly `maxRounds` rounds run;
  *  - with `changed`, a per-row predicate over the step's output, the
  *    loop ends after the first round where no row satisfies it. The
  *    count is an `observe` aggregate read during the round's own
  *    checkpoint job, so convergence costs no extra action. A loop still
  *    changing after `maxRounds` rounds fails with an error naming `tag`
  *    and the cap: a wrong answer must never pass for a fixpoint.
  * `observed` aggregates ride the same observe; the last round's values
  * come back in [[Result.metrics]] under their aliases (and `changed`).
  *
  * Release: once round `r` >= 1 is materialized, the state round
  * `r - 1` produced is unpersisted instead of its blocks waiting for GC;
  * nothing else can read it, because the loop made it. `init` belongs
  * to the caller and is never released: it may be a lazy frame that
  * round 0's checkpoint materializes (CC, label propagation, k-core,
  * k-means) or project a checkpoint that every round still reads
  * (PageRank's degree frame).
  */
private[graft] object Fixpoint {

  final case class Result(frame: DataFrame, metrics: Map[String, Any])

  def iterate(tag: String, init: DataFrame, maxRounds: Int,
      changed: Option[Column] = None, observed: Seq[Column] = Nil)(
      step: (DataFrame, Int) => DataFrame): Result = {
    val aggs = changed.map(c =>
      coalesce(sum(c.cast("long")), lit(0L)).as("changed")).toSeq ++ observed
    var cur = init
    var metrics = Map.empty[String, Any]
    var left = 1L
    var round = 0
    while (round < maxRounds && (changed.isEmpty || left > 0)) {
      val obs = aggs.headOption.map(_ => Observation(s"${tag}_changed_$round"))
      val built = step(cur, round)
      val state = obs.fold(built)(o => built.observe(o, aggs.head, aggs.tail: _*))
      val ck = state.localCheckpoint(eager = true)
      obs.foreach(o => metrics = o.get)
      if (changed.isDefined) left = metrics("changed").asInstanceOf[Long]
      if (round > 0) Bridge.releaseCheckpoints(cur)
      cur = ck
      round += 1
    }
    require(changed.isEmpty || left == 0,
      s"$tag failed to converge in $maxRounds rounds")
    Result(cur, metrics)
  }
}
