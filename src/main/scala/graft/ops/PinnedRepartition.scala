package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** The repartition the catalog pins by hand. */
object PinnedRepartition {

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
      keys: Column*): DataFrame = {
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(n, keys: _*)
  }
}
