package graft

import org.apache.spark.sql.functions._

/** Behavioral laws for the round-7 continuation catalog (q217-q252).
  * The DuckDB oracle pins exact values; these pin the SEMANTIC
  * contracts that must hold on ANY corpus — conservation, monotonicity,
  * bounds, and the structural invariants the operators' scale
  * arguments rest on.
  */
class LateCatalogLawSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("q229 systematic resample draws exactly 100 copies in total") {
    // the floor-difference identity telescopes: sum over ALL docs of
    // floor(C_i*n/W) - floor(C_{i-1}*n/W) = floor(W*n/W) - 0 = n
    val total = run("q229_systematic_resample")
      .agg(sum("n_copies")).as[Long].head()
    assert(total == 100L, s"draw conservation broken: $total")
  }

  test("q217/q225 governance audits conserve the record count") {
    val n = graft.ops.TestData.bankFrame(spark, sf).count()
    val k = run("q217_k_anonymity").agg(sum("n_records")).as[Long].head()
    val l = run("q225_l_diversity").agg(sum("n_records")).as[Long].head()
    assert(k == n && l == n, s"records: bank=$n k-anon=$k l-div=$l")
  }

  test("q224 stickiness is a valid ratio and WAU dominates DAU") {
    run("q224_rolling_actives")
      .select("dau", "wau").as[(Long, Long)].collect()
      .foreach { case (dau, wau) =>
        assert(wau >= dau && dau >= 1, s"dau=$dau wau=$wau")
      }
  }

  test("q221 CUSUM deviations telescope to zero on the last month") {
    val last = run("q221_cusum_changepoint")
      .orderBy(col("m").desc).select("dev").as[Long].head()
    assert(last == 0L, s"n*cum_n - n*T must be 0, got $last")
  }

  test("q234 triples obey A-priori monotonicity vs their sub-pairs") {
    // support(p1,p2,p3) <= min over sub-pairs of support(pair),
    // recomputed here from raw baskets
    val li = graft.ops.TestData.table(spark, sf, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val pairCnt = li.as("a").join(li.as("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("c"))
      .as[(Long, Long, Long)].collect()
      .map { case (u, v, c) => (u, v) -> c }.toMap
    run("q234_frequent_triples")
      .select("p1", "p2", "p3", "orders_cnt")
      .as[(Long, Long, Long, Long)].collect()
      .foreach { case (p1, p2, p3, c) =>
        val bound = Seq((p1, p2), (p1, p3), (p2, p3)).map(pairCnt).min
        assert(c <= bound, s"triple ($p1,$p2,$p3)=$c > min pair $bound")
      }
  }

  test("q234 early A-priori prune equals the post-join prune") {
    // The shipped shape semi-joins (p1, p2) against the frequent-pair
    // list BEFORE extending with the third item (ProbeQ234Prune in
    // PLANS.md, probe code at commit 9916828:
    // Catalyst does not push a left-semi below the basket join, so the
    // placement is load-bearing for the C(width, 3) bound). This pins
    // that the placement is a pure optimization: the naive shape that
    // generates every a<b<c triple first and prunes after must produce
    // the identical (p1, p2, p3, orders_cnt) multiset. At sf0.001 the
    // post-support-cut set is empty (the oracle's 12 rows appear at
    // sf0.01), so this law runs at sf0.01 and asserts non-emptiness —
    // a vacuous equality would pin nothing.
    val sfq = "/root/testdata/sf0.01"
    val li = graft.ops.TestData.table(spark, sfq, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val fi = li.groupBy("p").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select("p")
    val liF = li.join(fi, "p").select("o", "p")
    val fp = liF.alias("a").join(liF.alias("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("c")).where(col("c") >= 2)
      .select("u", "v")
    val naive = liF.alias("a")
      .join(liF.alias("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .join(liF.alias("c"),
        col("b.o") === col("c.o") && col("b.p") < col("c.p"))
      .select(col("a.p").as("p1"), col("b.p").as("p2"),
        col("c.p").as("p3"))
      .join(fp.select(col("u").as("p1"), col("v").as("p2")),
        Seq("p1", "p2"), "left_semi")
      .join(fp.select(col("u").as("p1"), col("v").as("p3")),
        Seq("p1", "p3"), "left_semi")
      .join(fp.select(col("u").as("p2"), col("v").as("p3")),
        Seq("p2", "p3"), "left_semi")
      .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("orders_cnt"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val shipped = SparkEntry.queries("q234_frequent_triples")(spark, sfq)
      .select("p1", "p2", "p3", "orders_cnt")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(shipped.nonEmpty, "law is vacuous: no frequent triples")
    // The query keeps only orders_cnt >= 2 and the top-20 rank; apply
    // the same cut to the naive frame before comparing. The rank cut
    // must not bite (else set equality would compare different grains).
    assert(naive.count(_._4 >= 2) <= 20,
      "testdata grew past the top-20 rank; compare ranked frames instead")
    assert(shipped == naive.filter(_._4 >= 2),
      s"placement changed the triple multiset: ${shipped.size} vs " +
        s"${naive.count(_._4 >= 2)}")
  }

  test("q252 rendezvous growth moves keys ONLY onto the new shard") {
    // the HRW invariant its minimal-movement claim rests on: adding
    // shard 8 can only steal keys whose new argmax IS shard 8 — every
    // pre-existing shard's moved count must be zero
    val rows = run("q252_rendezvous_sharding")
      .select("shard", "n_moved").as[(Int, Long)].collect().toMap
    (0 to 7).foreach(sd =>
      assert(rows(sd) == 0L, s"shard $sd lost keys to a non-new shard"))
    assert(rows(8) == rows(-1), "all moved keys must land on shard 8")
  }

  test("q241 KS stats are valid distances and a self-vs-rest zero exists") {
    val stats = run("q241_ks_drift").select("ks_num", "ks_den")
      .as[(Long, Long)].collect()
    stats.foreach { case (num, den) =>
      assert(num >= 0 && num <= den, s"ks=$num/$den out of [0,1]")
    }
  }

  test("q236 assortativity lands in [-1, 1]") {
    val r = run("q236_degree_assortativity")
      .select("assortativity").as[Option[Double]].head()
    r.foreach(v => assert(v >= -1.0 && v <= 1.0, s"r=$v"))
  }

  test("q250 drawdown is nonnegative and the high-water mark is monotone") {
    val rows = run("q250_revenue_drawdown")
      .select("hwm", "drawdown").as[(Long, Long)].collect()
    rows.foreach { case (_, dd) => assert(dd >= 0) }
    val hwms = rows.map(_._1).toSeq
    assert(hwms.zip(hwms.drop(1)).forall { case (a, b) => a <= b },
      "hwm not monotone")
  }

  test("q223 eval metrics are consistent bounds") {
    val (nq, hits, recall, mrr60, mrr, nr1) =
      run("q223_ann_recall_eval")
        .as[(Long, Long, Double, Long, Double, Long)].head()
    assert(hits <= nq * 5 && recall >= 0.0 && recall <= 1.0)
    assert(mrr60 <= nq * 60 && mrr >= 0.0 && mrr <= 1.0)
    assert(nr1 <= nq)
    // a rank-1 hit contributes exactly 60; MRR60 >= 60 * n_rank1
    assert(mrr60 >= nr1 * 60)
  }

  test("q247 shares-of-parent sum to 10000 bps within flooring slack") {
    // integer-floor bps per nation lose < 1 bp each; per region the
    // sum must land in (10000 - nations, 10000]
    run("q247_share_of_parent")
      .groupBy("r_name")
      .agg(count(lit(1)).as("n"), sum("of_region_bps").as("s"))
      .as[(String, Long, Long)].collect()
      .foreach { case (r, n, sum) =>
        assert(sum <= 10000 && sum > 10000 - n, s"$r: $sum bps over $n")
      }
  }
}
