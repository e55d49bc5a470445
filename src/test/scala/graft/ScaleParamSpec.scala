package graft

import org.apache.spark.sql.functions._
import graft.ops.{DedupOps, TrainDataOps}

/** The scale constants (q27's tile count B, q101's k) move with cluster
  * size; these specs pin the SEMANTIC invariants that let them move
  * without re-validating the operators: tiling must return the
  * identical pair set at any B, and k-means must keep its cell
  * invariants at any k.
  */
class ScaleParamSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def normed = {
    val e = graft.ops.TestData.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    e.select(col("vec_id"), col("v"),
      graft.functions.VectorFunctions.l2norm(col("v")).as("nrm"))
  }

  test("tiled near-dup pair set is IDENTICAL for B in {1, 3, 5, 8}") {
    // B=1 is the degenerate single-tile case — the naive all-pairs
    // reference the tiling must reproduce exactly (same pairs AND the
    // same bit-exact cosine: the tile key never touches the arithmetic).
    val n = normed
    def pairs(b: Int): Map[(Long, Long), Double] =
      DedupOps.tiledNearDupPairs(n, b, 0.3)
        .as[(Long, Long, Double)].collect()
        .map(r => (r._1, r._2) -> r._3).toMap
    val ref = pairs(1)
    assert(ref.nonEmpty, "degenerate B=1 run found no pairs at all")
    Seq(3, 5, 8).foreach { b =>
      val got = pairs(b)
      assert(got == ref, s"pair set at B=$b diverged from B=1: " +
        s"${got.size} vs ${ref.size} pairs")
    }
  }

  test("tiling emits every unordered pair exactly once (no threshold)") {
    // With the threshold disabled, N vectors must yield exactly
    // N*(N-1)/2 rows at every B — double-counted diagonals or dropped
    // cross-tiles change the count even when the thresholded set hides
    // them.
    val n = normed.limit(40).localCheckpoint(true)
    val cnt = n.count()
    val want = cnt * (cnt - 1) / 2
    Seq(1, 3, 5, 8).foreach { b =>
      val got = DedupOps.tiledNearDupPairs(n, b, -2.0).count()
      assert(got == want, s"B=$b emitted $got pairs, want $want")
    }
  }

  test("k-means cell invariants hold at k in {3, 5, 8}") {
    val points = graft.ops.TestData.table(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    Seq(3, 5, 8).foreach { k =>
      val cent = TrainDataOps.kmeansCentroids(points, k)
      val cents = cent.as[(Int, Seq[Double])].collect().toMap
      assert(cents.size == k, s"k=$k produced ${cents.size} centroids")
      assert(cents.keySet == (0 until k).toSet)
      val assigned = TrainDataOps.kmeansAssign(points, cent)
        .as[(Long, Seq[Double], Int, Double)].collect()
      assert(assigned.map(_._1).distinct.length == assigned.length,
        "a point was assigned to more than one cell")
      // Every assignment is the true argmin over the k centroids with
      // ties to the lowest cid (replayed here in plain Scala with the
      // same left-fold order).
      assigned.foreach { case (id, v, cid, dist2) =>
        val d2 = (0 until k).map { c =>
          c -> v.zip(cents(c)).foldLeft(0.0) {
            case (a, (x, y)) => a + (x - y) * (x - y) }
        }
        val best = d2.minBy { case (c, d) => (d, c) }
        assert(best._1 == cid && best._2 == dist2,
          s"k=$k vec $id: got ($cid, $dist2), want $best")
      }
    }
  }

  test("k-means seeds survive duplicate head vectors (VERDICT r4 #6)") {
    // A corpus whose FIRST TWO vectors are identical: first-k init would
    // seed two coincident centroids and collapse their cells. The
    // distinct-by-value hash-spread seeds must still yield k DISTINCT
    // seed vectors and k populated, non-degenerate cells.
    val k = 4
    val base = (0 until 40).map { i =>
      val v = Seq.tabulate(8)(d => ((i * 7 + d * 3) % 11 - 5).toDouble)
      (i.toLong, v)
    }
    val dupHead = base.updated(1, (1L, base.head._2)) // vec 1 == vec 0
    val points = dupHead.toDF("vec_id", "v")
    val seeds = TrainDataOps.kmeansSeeds(points, k)
      .as[(Int, Seq[Double])].collect()
    assert(seeds.map(_._1).toSet == (0 until k).toSet)
    assert(seeds.map(_._2).distinct.length == k,
      s"seed vectors not distinct: ${seeds.toSeq}")
    val cent = TrainDataOps.kmeansCentroids(points, k)
    val cells = TrainDataOps.kmeansAssign(points, cent)
      .groupBy("cid").count().as[(Int, Long)].collect().toMap
    assert(cells.values.sum == 40)
    // no collapsed (empty) cell and no cell owning the whole corpus
    assert(cells.size == k, s"expected $k populated cells, got $cells")
    assert(cells.values.max < 40, s"degenerate clustering: $cells")
  }
}
