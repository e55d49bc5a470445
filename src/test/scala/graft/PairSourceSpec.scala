package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.DedupOps

/** Joint properties of the two near-dup pair sources (VERDICT r4 #1/#5),
  * on a GENERATED corpus with known near-dup structure:
  *
  *  - docs come in (2b, 2b+1) near-dup pairs differing in exactly one
  *    word (jaccard ~0.82 hub-free / 0.625 with hub — both comfortably
  *    above the 0.5 threshold, so NO pair's keep/drop decision rides
  *    the hub shingle);
  *  - the "hub" variant appends the same 3-word boilerplate tail to
  *    every doc, injecting one shingle with df = N (the license-header /
  *    navigation-chrome shape that makes the exact join's Sum df^2 cost
  *    quadratic in a single key at 100 TB).
  */
class PairSourceSpec extends SparkSpec {
  import spark.implicits._

  private val NDocs = 60 // 30 near-dup pairs

  /** doc 2b and 2b+1 share 11 of 12 base words (one substitution). */
  private def corpus(withHub: Boolean): DataFrame = {
    val rows = (0 until NDocs).map { i =>
      val base = i / 2
      val words = Seq.tabulate(12)(j => s"w${base}_$j")
      val txt = if (i % 2 == 1) words.init :+ s"alt$base" else words
      val full = if (withHub) txt ++ Seq("common", "hub", "tail") else txt
      (i.toLong, full.mkString(" "))
    }
    rows.toDF("doc_id", "text")
  }

  private def keepSet(kl: DataFrame): Set[Long] =
    kl.where(col("keep") === 1).select("doc_id").as[Long].collect().toSet

  private def dropSet(kl: DataFrame): Set[Long] =
    kl.where(col("keep") === 0).select("doc_id").as[Long].collect().toSet

  test("exact keep-list finds every constructed near-dup on both corpora") {
    Seq(false, true).foreach { hub =>
      val kl = DedupOps.keepList(corpus(hub), "exact")
      // every odd doc is a near-dup of its even partner -> dropped
      assert(dropSet(kl) == (0 until NDocs).filter(_ % 2 == 1)
        .map(_.toLong).toSet, s"withHub=$hub")
    }
  }

  test("LSH keep-list: dropped set is a subset of exact's with recall >= 0.8") {
    // lsh pairs are exact-rescored candidates, hence a SUBSET of the
    // exact pair set: any doc LSH drops, exact must drop too (precision
    // 1.0 by construction — assert it anyway), and the md5-affine hash
    // family is deterministic, so recall is a stable number, not a
    // flaky one. At jaccard ~0.625, 8 bands x 2 rows give ~0.98
    // per-pair candidate probability.
    val docs = corpus(withHub = true)
    val exactDrop = dropSet(DedupOps.keepList(docs, "exact"))
    val lshDrop = dropSet(DedupOps.keepList(docs, "lsh"))
    assert(lshDrop.subsetOf(exactDrop),
      s"LSH dropped non-duplicates: ${lshDrop -- exactDrop}")
    val recall = lshDrop.size.toDouble / exactDrop.size
    info(f"LSH keep-list recall: $recall%.3f (${lshDrop.size}/${exactDrop.size})")
    assert(recall >= 0.8, f"LSH keep-list recall $recall%.3f below bound")
  }

  test("an unknown pair source is rejected") {
    val e = intercept[IllegalArgumentException] {
      DedupOps.nearDupPairs(corpus(withHub = true), "bogus").count()
    }
    assert(e.getMessage.contains("unknown pair source 'bogus'"))
  }

  test("q151 prefix filtering loses no pair at the 0.5 threshold") {
    // recall-completeness of the PPJoin candidate source: the
    // prefix-filtered pair set must EQUAL the full shingle self-join's
    // pair set at jaccard >= 0.5 — on the real fixture corpus, where
    // the prefix join touches far fewer tokens.
    val sf = "/root/testdata/sf0.001"
    val full = DedupOps
      .jaccardPairs(graft.ops.TestData.table(spark, sf, "documents"))
      .where(col("jaccard") >= 0.5)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    val pref = SparkEntry.queries("q151_prefix_filter_join")(spark, sf)
      .select("d1", "d2").as[(Long, Long)].collect().toSet
    assert(pref == full,
      s"missing: ${(full -- pref).take(5)}; extra: ${(pref -- full).take(5)}")
    assert(pref.nonEmpty, "fixture corpus must contain near-dup pairs")
  }

  test("q196 one-sided prefix probe loses no containment pair at 3/4") {
    // recall-completeness of the asymmetric candidate source: the
    // probe-prefix join's qualifying (da, db) set must EQUAL the
    // brute-force set derived from the FULL shingle self-join — both
    // directions of every unordered pair judged against its own side's
    // set size. Also pins the threshold algebra: 4*inter >= 3*na with
    // integer inter/na, never a float ratio.
    val sf = "/root/testdata/sf0.001"
    val docs = graft.ops.TestData.table(spark, sf, "documents")
    val pairs = DedupOps.jaccardPairs(docs)
      .select("d1", "d2", "inter").as[(Long, Long, Long)].collect()
    val n = DedupOps.shingles(docs).groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    val brute = pairs.flatMap { case (d1, d2, inter) =>
      Seq((d1, d2, n(d1)), (d2, d1, n(d2))).collect {
        case (a, b, na) if 4 * inter >= 3 * na => (a, b)
      }
    }.toSet
    val got = SparkEntry.queries("q196_containment_pairs")(spark, sf)
      .select("da", "db").as[(Long, Long)].collect().toSet
    assert(got == brute,
      s"missing: ${(brute -- got).take(5)}; extra: ${(got -- brute).take(5)}")
    assert(got.nonEmpty, "fixture corpus must contain containment pairs")
    // (at sf0.001 the planted near-dups are size-balanced, so pairs may
    // all be mutual — the asymmetric direction is covered by the brute
    // equality above, which judges each direction against its own side)
    info(s"one-directional pairs: ${got.count(p => !got.contains(p.swap))}" +
      s" of ${got.size}")
  }
}
