package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.Fixpoint

/** The shared loop driver under the iterative operators: its cap error
  * and its release of the superseded rounds it made itself, never of
  * the caller's `init`.
  */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  private def xs(n: Int) =
    spark.range(n).select(col("id").as("x")).localCheckpoint(eager = true)

  test("a loop still changing at its cap fails naming the tag and the cap") {
    var rounds = 0
    val e = intercept[IllegalArgumentException] {
      Fixpoint.iterate("never_settles", xs(4), 3, changed = Some(lit(true))) {
        (cur, _) =>
          rounds += 1
          cur.select((col("x") + 1).as("x"))
      }
    }
    assert(e.getMessage.contains("never_settles failed to converge in 3 rounds"),
      e.getMessage)
    assert(rounds == 3)
  }

  /** Whether the checkpoint behind `df` (its only leaf) is persisted. */
  private def persisted(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves() match {
      case Seq(lr: LogicalRDD) => lr.rdd.getStorageLevel != StorageLevel.NONE
      case other => fail(s"not a checkpoint: $other")
    }

  test("superseded rounds are released: 6 rounds keep no more checkpoints than 2") {
    // Every state the loop saw, `init` first and the result last, and
    // whether its checkpoint is still persisted. The step holds on to
    // each state it reads, so nothing here depends on GC.
    def states(rounds: Int): Seq[Boolean] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val out = Fixpoint.iterate("release_probe", xs(100), rounds) {
        (cur, _) =>
          seen += cur
          cur.select((col("x") + 1).as("x"))
      }.frame
      assert(out.agg(sum("x")).as[Long].head() == 4950L + 100L * rounds)
      (seen.toSeq :+ out).map(persisted)
    }
    val two = states(2).count(identity)
    val six = states(6).count(identity)
    assert(six <= two, s"6 rounds keep $six checkpoints, 2 rounds keep $two")
    // the caller's `init` stays, every intermediate round goes, the
    // result stays
    assert(states(6) == true +: Seq.fill(5)(false) :+ true)
  }

  test("an init that projects a live checkpoint keeps it through the loop") {
    // PageRank's shape: `init` projects a checkpoint that every round
    // joins again, so releasing `init` would destroy data still read.
    val deg = spark.range(50)
      .select(col("id").as("v"), (col("id") % 3 + 1).as("deg"))
      .localCheckpoint(eager = true)
    val init = deg.select(col("v"), lit(0L).as("r"))
    val out = Fixpoint.iterate("live_init_probe", init, 4) { (cur, _) =>
      cur.join(deg, "v").select(col("v"), (col("r") + col("deg")).as("r"))
    }.frame
    assert(persisted(deg))
    assert(out.agg(sum("r")).as[Long].head() ==
      4L * (0 until 50).map(_ % 3 + 1).sum)
  }
}
