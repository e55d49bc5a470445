package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Eager localCheckpoint of an iterative operator's edge frame.
  *
  * `df.repartition(key).localCheckpoint(eager = true)` under AQE yields
  * a LogicalRDD with UnknownPartitioning (measured on 4.1.2: the
  * adaptive plan's partitioning isn't final when the checkpoint
  * captures it), so every round of an iterative graph operator
  * re-exchanges the edge list even though it was shuffled into place
  * once. PartitionedCheckpointSpec pins that fact: a Spark that starts
  * preserving the partitioning fails it.
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

  private[graft] def byKeys(df: DataFrame, keyCols: String*): DataFrame =
    df.repartition(keyCols.map(col): _*).localCheckpoint(eager = true)
}
