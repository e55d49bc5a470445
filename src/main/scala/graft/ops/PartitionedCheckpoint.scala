package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.Bridge

/** Eager localCheckpoint of an iterative operator's edge frame, with
  * OPTIONALLY preserved hash-partitioning.
  *
  * `df.repartition(key).localCheckpoint(eager = true)` under AQE yields
  * a LogicalRDD with UnknownPartitioning (measured on 4.1.2: the
  * adaptive plan's partitioning isn't final when the checkpoint
  * captures it), so every ROUND of an iterative graph operator
  * re-exchanges the edge list even though it was shuffled into place
  * once — O(rounds x E) shuffle traffic at scale. The preserved-layout
  * path materializes with an EXPLICIT-numPartitions repartition on the
  * keys — REPARTITION_BY_NUM is never coalesced or skew-split by AQE,
  * so the physical layout is murmur3(keys) % n by construction — then
  * stamps that known HashPartitioning onto the checkpoint's LogicalRDD
  * (Bridge.claimHashPartitioned, which also requires the partition
  * count to match). Round-plan proof: with the plain checkpoint the
  * per-round join shows `Exchange hashpartitioning(key)` over the
  * checkpointed scan; with the claim the scan feeds the join directly
  * and only the node-grain side exchanges.
  *
  * CONFIG-GATED like graphHint, and for the symmetric reason: at bench
  * scale these edge frames are few-MB / few-thousand-row objects, and
  * the measured winner there is the OPPOSITE plan — AQE coalesces each
  * round to a handful of tasks and broadcast-promotes the node frame,
  * while a statically-claimed 32-way layout fights that with per-task
  * scheduling overhead on every stage of every round (measured at
  * sf0.1 with the claim forced on: q64 2.4 -> ~4.1 s, q121 7.4 ->
  * ~13.9 s; a child-session AQE-off variant and a shuffle_hash-hinted
  * variant measured the same or worse — see PLANS.md round-10). A
  * cluster whose edge list outgrows both the broadcast and the
  * single-digit-task regime sets `graft.graph_edge_prepartition=true`
  * and gets the shuffle-once layout; the default keeps the
  * small-regime plan AQE picks at runtime — the decision a real
  * cluster should make from measured sizes, not a hardcoded layout.
  * PartitionedCheckpointSpec pins BOTH shapes and their result
  * equality.
  */
object PartitionedCheckpoint {

  /** REPARTITION_BY_NUM on `keys` at `spark.sql.shuffle.partitions` —
    * the r15 §4 recipe for exchanges whose OUTPUT explodes past what
    * AQE's input-byte cost model can see (exploding self-joins), and
    * for layouts a downstream aggregate/join reuses. The explicit
    * partition count makes the exchange exempt from AQE coalescing by
    * contract; the count itself is the cluster-scaled conf, never a
    * local constant. Factored here (ADVICE r15) from the three
    * hand-copied sites in DedupOps/WarehouseOps.
    */
  private[graft] def repartitionByConf(df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(n, keys: _*)
  }

  /** Plan-evidence hook (VERDICT r15 #1): when `graft.dump_round_plans`
    * is set to a directory, write ONE round's `.explain("formatted")`
    * from INSIDE an iterative operator's loop (first round only — the
    * file-exists check makes later rounds no-ops) so the per-round plan
    * shape is a committed artifact instead of a by-construction claim.
    * Unset (the default, and always in the bench/driver path) this is
    * one conf lookup per checkpoint.
    */
  private[graft] def dumpRoundPlan(df: DataFrame, tag: String): Unit =
    df.sparkSession.conf.getOption("graft.dump_round_plans").foreach { d =>
      val p = java.nio.file.Paths.get(d, s"$tag.txt")
      if (!java.nio.file.Files.exists(p)) {
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.writeString(p, df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
    }

  private[graft] def enabled(df: DataFrame): Boolean =
    graft.Levers.bool(df.sparkSession, "graft.graph_edge_prepartition",
      default = false)

  private[graft] def byKeys(df: DataFrame, keyCols: String*): DataFrame =
    if (enabled(df)) {
      val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
      val ck = df.repartition(n, keyCols.map(col): _*)
        .localCheckpoint(eager = true)
      Bridge.claimHashPartitioned(ck, n, keyCols)
    } else {
      df.repartition(keyCols.map(col): _*).localCheckpoint(eager = true)
    }
}
