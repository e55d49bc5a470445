package graft

import org.apache.spark.sql.functions._
import graft.ops.PartitionedCheckpoint

/** Pins the fact PartitionedCheckpoint documents: under AQE a
  * `repartition(key).localCheckpoint` leaf carries UnknownPartitioning,
  * so each round of an iterative operator re-exchanges its edge frame.
  * A Spark that starts preserving the partitioning through
  * localCheckpoint fails these tests — the signal that the per-round
  * edge exchange could go.
  */
class PartitionedCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private val edges =
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (5L, 5L))

  test("flag off: leaf stays AQE-owned (unknown partitioning)") {
    val ck = PartitionedCheckpoint.byKeys(edges.toDF("a", "b"), "a")
    val leaf = ck.queryExecution.optimizedPlan
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    assert(leaf.outputPartitioning.toString.contains("UnknownPartitioning"),
      s"expected AQE-owned layout, got ${leaf.outputPartitioning}")
  }

  test("flag off: the round join pays the per-round edge exchange it accepts") {
    // Pin that the exchange is actually THERE (broadcast disabled so
    // the shuffle join can't hide it): a future Spark that preserves
    // partitioning through localCheckpoint fails this test (VERDICT
    // r10 #7).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val ck = PartitionedCheckpoint.byKeys(edges.toDF("a", "b"), "a")
      val lbl = ck.select(col("a").as("nd")).distinct()
        .select(col("nd"), col("nd").as("l")).localCheckpoint(eager = true)
      val round = ck.join(lbl, col("a") === col("nd"))
        .groupBy(col("b")).agg(min("l").as("nl"))
      val plan = round.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(_.contains("Exchange hashpartitioning(a#")),
        "NO edge-side exchange — Spark now preserves partitioning " +
          s"through localCheckpoint:\n$plan")
    } finally spark.conf.set(key, prev)
  }
}
