package graft

import org.apache.spark.sql.functions._

/** Pins that under AQE a `repartition(key).localCheckpoint` leaf
  * carries UnknownPartitioning, so each round of an iterative operator
  * re-exchanges its checkpointed edge frame whatever layout it was
  * written in. That is why the operators checkpoint their edges without
  * a pre-shuffle. A failure here means Spark now keeps the layout
  * through localCheckpoint, so a pre-checkpoint repartition would pay
  * again: it would save each round's edge exchange.
  */
class PartitionedCheckpointSpec extends SparkSpec {
  import spark.implicits._

  private val edges =
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (5L, 5L))

  private def repartitionedCheckpoint =
    edges.toDF("a", "b").repartition(col("a")).localCheckpoint(eager = true)

  test("a repartitioned checkpoint has unknown layout") {
    val leaf = repartitionedCheckpoint.queryExecution.optimizedPlan
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    assert(leaf.outputPartitioning.toString.contains("UnknownPartitioning"),
      s"expected AQE-owned layout, got ${leaf.outputPartitioning}")
  }

  test("a round join re-exchanges the checkpointed edges") {
    // Pin that the exchange is actually THERE (broadcast disabled so
    // the shuffle join can't hide it).
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val ck = repartitionedCheckpoint
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
