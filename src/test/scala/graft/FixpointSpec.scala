package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.Fixpoint

/** The shared loop driver under the iterative operators: its cap error
  * and its release of superseded rounds.
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

  test("superseded rounds are released: 6 rounds keep no more checkpoints than 2") {
    // Every state the loop produced, `init` first and the result last,
    // and whether its checkpoint is still persisted. The step holds on
    // to each state it reads, so nothing here depends on GC.
    def persisted(rounds: Int, release: Boolean): Seq[Boolean] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      val out = Fixpoint.iterate("release_probe", xs(100), rounds,
          release = release) { (cur, _) =>
        seen += cur
        cur.select((col("x") + 1).as("x"))
      }.frame
      assert(out.agg(sum("x")).as[Long].head() == 4950L + 100L * rounds)
      (seen.toSeq :+ out).map(_.queryExecution.analyzed.collectLeaves() match {
        case Seq(lr: LogicalRDD) => lr.rdd.getStorageLevel != StorageLevel.NONE
        case other => fail(s"not a checkpoint: $other")
      })
    }
    val two = persisted(2, release = true).count(identity)
    val six = persisted(6, release = true).count(identity)
    assert(six <= two, s"6 rounds keep $six checkpoints, 2 rounds keep $two")
    assert(persisted(6, release = true) == Seq.fill(6)(false) :+ true)
    // without `release` the driver releases nothing, `init` included
    assert(persisted(2, release = false) == Seq(true, true, true))
  }
}
