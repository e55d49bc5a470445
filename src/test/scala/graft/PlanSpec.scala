package graft

import org.apache.spark.sql.functions._
import graft.ops.TestData

/** Physical-plan shape assertions — the 100 TB posture checks: filters
  * reach the parquet scan, small dims broadcast, hot paths stay inside
  * whole-stage codegen, narrow pipelines don't shuffle.
  */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def executed(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val df = TestData.table(spark, sf, "lineitem")
      .where(col("l_quantity") > 30)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]"),
      s"missing pushdown in:\n$plan")
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"missing column pruning in:\n$plan")
  }

  test("regional revenue joins broadcast the dimension tables") {
    val plan = executed("q32_regional_revenue")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }

  test("cosine top-k broadcasts the query side (no shuffle of candidates)") {
    val plan = executed("q28_cosine_topk")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), s"query side not broadcast:\n$plan")
    assert(plan.contains("graft_dot"), s"custom dot expr not in plan:\n$plan")
  }

  test("embedding near-dup is a tiled equi-join, not a nested loop") {
    // q27's exact O(N^2) comparisons must arrive via the tile-key hash
    // join (bounded per-task memory, B(B+1)/2-way parallel), never a
    // BroadcastNestedLoopJoin over the whole corpus (VERDICT r2 #3).
    val plan = executed("q27_dedup_embedding")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"nested-loop join in:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no equi-join on the tile key in:\n$plan")
  }

  test("q105 LSH keep-list: candidate generation and rescore are equi-joins") {
    // The hub-shingle-proof pair source must never degrade to a nested
    // loop: band candidates join on the (band, bucket) key and the
    // rescore joins candidates to shingles on doc_id/shingle keys.
    val docs = TestData.table(spark, sf, "documents")
    val plan = graft.ops.DedupOps.nearDupPairs(docs, "lsh")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"nested-loop join in:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no equi-join in the LSH pair source:\n$plan")
  }

  test("q83 LSH rescore joins candidates on the bucket key") {
    val plan = executed("q83_neardup_lsh_rescore")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"nested-loop join in:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no equi-join on the bucket in:\n$plan")
  }

  test("flagship pipeline has zero exchanges and stays in one codegen stage") {
    val res = graft.pipeline.BankingPipeline.fromTyped(
      TestData.bankFrame(spark, sf))
    val plan = res.processed.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
    // "*(1)" prefixes = every operator fused into codegen stage 1
    assert(plan.contains("*(1) Project") && !plan.contains("*(2)"),
      s"not a single fused codegen stage:\n$plan")
  }

  test("pricing summary uses partial aggregation before the shuffle") {
    val plan = executed("q31_pricing_summary")
    // two HashAggregate nodes (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size >= 1, plan)
  }

  test("parse stage parses each line exactly once (fused custom expression)") {
    // The one-scan write's rows and the processed split share the parse;
    // only error-row branches parse again, for the message.
    import graft.pipeline.BankingPipeline
    val parsed = graft.etl.Parse(
      TestData.bankFrame(spark, sf).selectExpr("cast(id as string) as value"))
    val staged = BankingPipeline.stagesAfterParse(parsed,
      graft.schema.Thresholds.MinValidAge, graft.schema.Thresholds.MaxValidAge)
    Seq("parse" -> parsed, "one scan" -> BankingPipeline.sinkRows(staged),
      "processed" -> BankingPipeline.split(staged).processed).foreach { case (name, df) =>
      val optimized = df.queryExecution.optimizedPlan.toString
      assert("graft_parse_bank_line".r.findAllIn(optimized).size == 1,
        s"$name: parse duplicated:\n$optimized")
      assert(!optimized.contains("from_csv"), name)
    }
  }

  test("top-k queries run on TopKPerGroup, not a full-shuffle window") {
    // q28/q30/q93/q54 rank with the custom operator: partial k-heaps
    // ahead of the exchange make shuffle volume answer-proportional.
    // The residual rnk window must reuse the final phase's clustering
    // (one hashpartitioning exchange total on the scored side).
    Seq("q28_cosine_topk", "q30_ann_lsh_topk", "q93_hard_negatives",
      "q54_tfidf_topterms").foreach { name =>
      val plan = executed(name)
      assert(plan.contains("TopKPerGroupPartial") &&
        plan.contains("TopKPerGroupFinal"),
        s"$name not on the custom top-k operator:\n$plan")
    }
  }

  test("k-means assignment is a narrow argmin — no window, no N x k shuffle") {
    // The Lloyd trajectory materializes via eager localCheckpoints, so
    // the executed plan of q101 is the FINAL assignment pass: it must
    // fold over the broadcast centroid array in a projection — never
    // expand N x k rows into a Window exchange-sort (VERDICT r3 #3).
    val plan = executed("q101_kmeans")
    assert(!plan.contains("Window"), s"window argmin crept back in:\n$plan")
    // The ONLY exchange allowed is the single range partitioning from
    // the output orderBy — an N x k expansion would add more. (The old
    // `!contains(range) || contains(Sort)` form was vacuous: orderBy
    // always plants a Sort, so it could never fail.)
    assert("Exchange rangepartitioning".r.findAllIn(plan).size == 1,
      s"expected exactly the output orderBy's range exchange:\n$plan")
    // no hashpartitioning of points anywhere in the assignment
    assert(!plan.contains("Exchange hashpartitioning"),
      s"assignment shuffles points:\n$plan")
  }

  test("q106 repetition removal is a narrow projection (only the output sort exchanges)") {
    val plan = executed("q106_repeat_removal")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"within-doc cleaning should never shuffle:\n$plan")
    assert("Exchange rangepartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q107 semantic decontam folds over the broadcast benchmark (no corpus shuffle)") {
    // The q101-argmin shape: benchmark collapses to one broadcast array
    // row; the corpus side must not hash-exchange (no N x |bench|
    // expansion feeding a re-aggregation).
    val plan = executed("q107_semantic_decontam")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"corpus side shuffled:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"benchmark not broadcast:\n$plan")
  }

  test("as-of join is a single shuffle by key (no range explosion)") {
    val plan = executed("q36_asof_join")
    // one exchange for the user_id window; the final orderBy adds range
    // partitioning but no extra hash shuffle of the join inputs
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q113 SCD2 build is ONE customer shuffle end to end") {
    // lag window, island running sum, run aggregation, and the lead
    // window must all ride the same hashpartitioning(o_custkey) —
    // HashPartitioning(custkey) satisfies the (custkey, island)
    // clustering, so history depth never adds exchanges.
    val plan = executed("q113_scd2_history")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert("Exchange rangepartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q114 gap-fill explodes the aggregated span, not the event stream") {
    val plan = executed("q114_resample_fill")
    // the sequence() Generate must sit ABOVE an aggregation (per-user
    // span), never directly over the events scan
    val gen = plan.indexOf("Generate explode(sequence")
    assert(gen >= 0, s"no sequence explode in:\n$plan")
    assert(plan.substring(gen).contains("HashAggregate"),
      s"explode feeds from a raw scan, not the aggregated span:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 3, plan)
  }

  test("q118 PageRank rounds truncate to a checkpoint scan") {
    // per-round localCheckpoint keeps each executed tree referencing
    // the pre-partitioned edges exactly once (attribute dedup would
    // otherwise drop the checkpoint partitioning and re-exchange edges
    // every round); the final plan is just the last round's checkpoint
    // plus the output sort.
    val plan = executed("q118_pagerank")
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert("Exchange rangepartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q119 PQ search shuffles only the top-k survivors") {
    // encode + distance-table lookups are all broadcast joins; the one
    // hash exchange is TopKPerGroup's k-heap survivor transfer.
    val plan = executed("q119_pq_adc_topk")
    assert(plan.contains("TopKPerGroupPartial") &&
      plan.contains("TopKPerGroupFinal"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert(plan.contains("BroadcastExchange"), plan)
  }

  test("q274 rerank join is shuffle-partitioned with NO broadcast of either side") {
    // The broadcast-free shape's whole point: the probed-query x cells
    // join must be a ShuffledHashJoin on cid (SHUFFLE_HASH hint beats
    // autoBroadcastJoinThreshold), never a broadcast of the query panel
    // — the production case this models has a corpus-scale query set.
    // The centroid assignment steps DO keep their BroadcastNestedLoop
    // crossJoins: each builds from a ONE-ROW collect_list(struct)
    // aggregate (the k-row centroid frame folded into a single array
    // cell), which is broadcastable at any corpus size. So the pin is:
    // shuffled-hash rerank present, no broadcast EQUI-join anywhere
    // (that's what the rerank would degrade to), and every nested-loop
    // join is the Cross-against-one-row-aggregate pattern.
    val plan = executed("q274_ann_shuffle_rerank")
    assert(plan.contains("ShuffledHashJoin"),
      s"rerank join not shuffle-partitioned:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"a broadcast equi-join leaked into the rerank:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"unpartitioned cartesian in the rerank:\n$plan")
    // Build side and join type matched as separate tokens (ADVICE r9):
    // the exact "BuildRight, Cross" field order is one-line formatting a
    // Spark upgrade could reshuffle without changing the plan shape.
    val bnlj = plan.split("\n").filter(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj.forall(l => l.contains("BuildRight") && l.contains("Cross")),
      s"a nested-loop join beyond the one-row centroid crossJoins:\n$plan")
  }

  test("q110 map-back join is keyed on the 120-bit fingerprint, not text") {
    // the exact-collapse result (checkpointed, so it appears as the
    // ExistingRDD scan) re-joins documents on (fp1, fp2) — the join
    // moves/broadcasts 16-byte keys; document text only travels the
    // narrow reps branch (joined on doc_id). The collapse groupBy
    // itself runs inside the eager checkpoint, pinned by the
    // fingerprint grouping in DedupOps.
    val plan = executed("q110_full_dedup")
    assert("Join \\[fp1#\\d+L, fp2#\\d+L\\]".r.findAllIn(plan).nonEmpty, plan)
    assert(!plan.linesIterator.filter(_.contains("Exchange"))
      .exists(_.contains("text#")),
      s"an exchange still carries text:\n$plan")
  }

  test("q121 candidates equi-join on hashed deletion variants (no quadratic block)") {
    // candidate generation joins on the variant hash with the
    // (nation, segment) conjunct; Levenshtein never appears inside a
    // nested-loop join condition. Asserted on the candidate stage
    // directly: the full query executes its CC loop eagerly, so the
    // final plan truncates at the checkpoint scan.
    val c = TestData.table(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment"))
    val v = graft.ops.ExtendedOps.deletionVariants(c, "c_name",
      Seq("c_custkey", "c_nationkey", "c_mktsegment"))
    val cand = v.as("a").hint("shuffle_hash").join(v.as("b"),
        col("a.vh") === col("b.vh") &&
          col("a.c_nationkey") === col("b.c_nationkey") &&
          col("a.c_mktsegment") === col("b.c_mktsegment") &&
          col("a.c_custkey") < col("b.c_custkey"))
      .select(col("a.c_custkey").as("d1"), col("b.c_custkey").as("d2"))
      .distinct()
    val plan = cand.queryExecution.executedPlan.toString
    assert("Join \\[vh#".r.findAllIn(plan).nonEmpty, plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // r11: the self-join rides SHUFFLE_HASH — both sides are the same
    // materialized frame, so sort-merge's two full sorts buy no
    // ordering anyone uses (measured 4.5 -> 3.5 s candidate stage,
    // full q121 6.6-7.5 -> 5.2-5.8 s at sf0.1).
    assert(plan.contains("ShuffledHashJoin"),
      s"q121 candidate join is not shuffled-hash:\n$plan")
  }

  test("q121 variant generation is one shuffle-free expression stage") {
    // r12 adoption (graft_del_variants): the deletion neighborhood is
    // hashed + deduped IN-ROW and exploded once — the plan must carry
    // the custom expression and NO Exchange before the explode (the
    // old pipeline paid a corpus-wide distinct shuffle of 2.6M variant
    // rows whose only effect was within-entity dedup).
    val c = TestData.table(spark, sf, "customer")
      .select(col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_mktsegment"))
    val plan = graft.ops.ExtendedOps.deletionVariants(c, "c_name",
        Seq("c_custkey", "c_nationkey", "c_mktsegment"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_del_variants"),
      s"custom variant expression not in plan:\n$plan")
    assert(!plan.contains("Exchange"),
      s"variant generation shuffles (the shape the r12 adoption removed):\n$plan")
  }

  test("q234's frequent-pair semi-join sits BELOW the third basket join") {
    // The r14 A-priori placement (ProbeQ234Prune in PLANS.md, probe
    // code at commit 9916828): the (p1, p2)
    // left-semi must gate the third basket join's input, not prune
    // after the full a<b<c fanout. Catalyst does not move it either
    // way, so the logical shape is load-bearing — this pins it: some
    // inner join in the optimized plan must carry a LeftSemi join in
    // its LEFT subtree (the pruned ab frame being extended).
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
    val plan = SparkEntry.queries("q234_frequent_triples")(spark, sf)
      .queryExecution.optimizedPlan
    val earlyPruned = plan.collect {
      case j: LJoin if j.joinType == Inner =>
        j.left.collectFirst {
          case s: LJoin if s.joinType == LeftSemi => true
        }.isDefined
    }.exists(identity)
    assert(earlyPruned,
      s"no inner join extends a semi-pruned left side in:\n$plan")
  }

  test("q158 similarity scores via the sorted-intersect expression") {
    // r12 adoption: the per-edge common-neighbor count must run through
    // graft_sorted_inter_count (allocation-free two-pointer merge), not
    // the builtin's per-row hash set (A/B 4.73 -> 2.09 s at sf0.1).
    val plan = executed("q158_neighbor_similarity")
    assert(plan.contains("graft_sorted_inter_count"),
      s"sorted-intersect expression not in q158 plan:\n$plan")
  }

  test("hashed shingles and signatures are shuffle-free maps (r13 adoption)") {
    // The per-row expressions must keep their structural wins: the
    // hashed-shingle frame is select + explode over graft_shingle_hashes
    // with ZERO exchanges (the corpus-wide distinct it replaced paid a
    // full shuffle), and the signature frame is a pure projection over
    // graft_minhash_sig — no Generate, no aggregate, no exchange.
    val docs = TestData.table(spark, sf, "documents")
    val shPlan = graft.ops.DedupOps.hashedShingles(docs)
      .queryExecution.executedPlan.toString
    assert(!shPlan.contains("Exchange"),
      s"exchange in the hashed-shingle frame:\n$shPlan")
    assert(shPlan.contains("graft_shingle_hashes"),
      s"scalar shingle expression not in:\n$shPlan")
    val sigPlan = graft.ops.DedupOps.docSignatures(docs)
      .queryExecution.executedPlan.toString
    assert(!sigPlan.contains("Exchange") && !sigPlan.contains("Generate") &&
      !sigPlan.contains("HashAggregate"),
      s"signature frame is not a pure map:\n$sigPlan")
    assert(sigPlan.contains("graft_minhash_sig"),
      s"scalar signature expression not in:\n$sigPlan")
  }

  test("q139 exact side verifies via sorted-intersect arrays (r13 adoption)") {
    // The calibration's exact Jaccard must come from the array-grain
    // sorted merge, not a candidate x shingle equi-join + count
    // exchange (ProbeArrayGrain2: wins every block; PLANS.md, probe
    // code at commit 9916828).
    val plan = executed("q139_minhash_calibration")
    assert(plan.contains("graft_sorted_inter_count"),
      s"sorted-intersect expression not in q139 plan:\n$plan")
  }

  test("q132 audit joins every FK target broadcast — no fact-side shuffle join") {
    val plan = executed("q132_dq_audit")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join in:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"a dimension join shuffled the fact table:\n$plan")
  }

  test("q133/q137 top-N runs as TakeOrdered, never a full global sort") {
    Seq("q133_skew_profile", "q137_inverted_index").foreach { q =>
      val plan = executed(q)
      assert(plan.contains("TakeOrderedAndProject"),
        s"$q: limit not fused into TakeOrdered:\n$plan")
    }
  }

  test("q134 concurrency sweep never creates a single-partition window") {
    // the classic interval-sweep trap is ORDER BY t over everything;
    // the hour-partitioned sweep must keep every window keyed.
    val plan = executed("q134_peak_concurrency")
    assert(!plan.contains("Exchange SinglePartition"),
      s"a total-order exchange appeared:\n$plan")
  }

  test("q135 trigrams reuse ONE user-key exchange for both lead windows") {
    val plan = executed("q135_event_trigrams")
    val userExchanges = "Exchange hashpartitioning\\(user_id"
      .r.findAllIn(plan).size
    assert(userExchanges == 1,
      s"expected 1 user_id exchange, found $userExchanges in:\n$plan")
  }

  test("q138 overlap pair join shuffles hashed longs, never shingle text") {
    val plan = executed("q138_source_overlap")
    val exchanges = plan.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(exchanges.nonEmpty)
    assert(!exchanges.exists(l => l.contains("text#") || l.contains("sh#")),
      s"an exchange carries raw text:\n${exchanges.mkString("\n")}")
  }

  test("q140 histogram aggregates partially before its one fact shuffle") {
    val plan = executed("q140_hist_quantiles")
    assert(plan.contains("partial_count"),
      s"histogram not map-side combined:\n$plan")
  }

  test("q142 anomaly scan is ONE user-key exchange end to end") {
    // the explicit repartition(user_id) must feed the (user, hour)
    // aggregation AND all three per-user moment windows — one
    // hashpartitioning total, q113's shared-exchange discipline.
    val plan = executed("q142_rate_anomaly")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q143 drift scans events twice, shuffles only post-aggregates") {
    // bounds scan + counts scan, nothing else: the totals window runs
    // over the <= |event_type|-row aggregate, so the counts subtree is
    // not duplicated, and the one hash exchange carries type rows.
    val plan = executed("q143_snapshot_drift")
    assert("FileScan parquet".r.findAllIn(plan).size == 2, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    assert("BroadcastExchange".r.findAllIn(plan).size == 1, plan)
  }

  test("q144 lateness audit rides one user exchange into the band agg") {
    val plan = executed("q144_lateness_audit")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      plan)
  }

  test("q151 prefix join stays equi-keyed; no nested-loop candidates") {
    // the candidate self-join and both rescore joins must be hash/sort
    // equi-joins on the shingle hash — a BroadcastNestedLoopJoin here
    // would mean the prefix filter degenerated to a cross product.
    val plan = executed("q151_prefix_filter_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q196 one-sided containment probe stays equi-keyed") {
    // the probe-prefix x full-index join and both verify joins must be
    // hash/sort equi-joins on the shingle hash / doc ids — a nested
    // loop here means the prefix filter degenerated to a cross product.
    val plan = executed("q196_containment_pairs")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q199 IVF search: centroids broadcast, ranking through TopKPerGroup") {
    // both rankings (IVF candidates and the exact audit) run the
    // map-side k-heap operator, the centroid array and query panel
    // arrive by broadcast, and nothing plans as a cross product over
    // the corpus.
    val plan = executed("q199_ivf_topk")
    assert(plan.contains("TopKPerGroupPartial") &&
      plan.contains("TopKPerGroupFinal"), plan)
    assert(plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q200 DSIR scoring: ratio table broadcast, bounded exchanges") {
    // the 256-row ratio table must reach the corpus word stream by
    // broadcast; the only hash exchanges are the bucket aggregation
    // (256-key, map-side collapsed) and the per-doc sum.
    val plan = executed("q200_dsir_weights")
    assert(plan.contains("BroadcastHashJoin"),
      s"ratio table not broadcast:\n$plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q129 adjacency joins are broadcasts") {
    // Both closing joins are broadcast hash joins over the adjacency
    // checkpoint.
    val on = executed("q129_triangle_count")
    assert("BroadcastHashJoin".r.findAllIn(on).size >= 2,
      s"adjacency not broadcast:\n$on")
  }

  test("q152 peel round broadcasts the survivor list") {
    // The final q152 plan truncates at the last checkpoint, so the
    // shape is pinned on one peeling round directly.
    import graft.ops.WarehouseOps
    val pairs = WarehouseOps.coPurchasePairs(spark, sf)
    val edges = pairs.select(col("u").as("a"), col("v").as("b"))
      .unionAll(pairs.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint(eager = true)
    val deg = edges.groupBy("a").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = true)
    val on = WarehouseOps.kcorePeel(edges, deg, 3)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(on).size == 2,
      s"survivor list not broadcast into both semi-joins:\n$on")
    assert(!on.contains("Exchange hashpartitioning"),
      s"a broadcast round must filter edges in place, not re-shuffle:\n$on")
  }

  test("q152 k-core rounds truncate to a checkpoint scan") {
    // q118's discipline: each peeling round is checkpointed, so the
    // final plan reads the last round's blocks — no join tower, no
    // re-derived lineage.
    val plan = executed("q152_kcore")
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("Scan ExistingRDD"), plan)
  }

  test("q156 exact-calibration side adds no third corpus scan") {
    // the sketch state is checkpointed (64 x |types| rows), so the
    // final plan reads ExistingRDD for both sketch branches; the only
    // parquet scans are the two exact-count calibration aggregates.
    val plan = executed("q156_kmv_distinct")
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert("FileScan parquet".r.findAllIn(plan).size == 2, plan)
  }

  test("q156/q157 bottom-k runs on TopKPerGroup (answer-proportional shuffle)") {
    // q157's final plan keeps the TopK nodes visible; q156's sketch is
    // inside an eager checkpoint, so its shape is pinned on the stage
    // built directly.
    val p157 = executed("q157_weighted_sample")
    assert(p157.contains("TopKPerGroupPartial") &&
      p157.contains("TopKPerGroupFinal"), p157)
    assert("Exchange hashpartitioning".r.findAllIn(p157).size == 1,
      s"rank window must reuse the TopK exchange:\n$p157")
    val h = TestData.table(spark, sf, "events")
      .select(col("event_type"),
        graft.ops.DedupOps.md5Long60(col("user_id").cast("string")).as("h"))
      .distinct()
    val sketch = graft.plans.TopKPerGroup(
      h, Seq("event_type"), Seq(("h", false)), 64)
    val p156 = sketch.queryExecution.executedPlan.toString
    assert(p156.contains("TopKPerGroupPartial") &&
      p156.contains("TopKPerGroupFinal"), p156)
  }

  test("q158 similarity joins are broadcasts over checkpointed graph frames") {
    val on = executed("q158_neighbor_similarity")
    assert(!on.contains("BroadcastNestedLoopJoin") &&
      !on.contains("CartesianProduct"), on)
    assert("BroadcastHashJoin".r.findAllIn(on).size >= 2, on)
  }

  test("q159 ranks ride chunked scans; leaderboard cut is TopKPerGroup") {
    // r8 re-plan (ScaleLintSpec class): the three signal ranks use
    // OrderStat.scanRank — every per-row window partitions by
    // (source, chunk), never by source alone over the doc grain — and
    // the top-10 cut runs on the answer-proportional TopKPerGroup
    // operator instead of a source-partitioned rank window
    val df = SparkEntry.queries("q159_quality_ensemble")(spark, sf)
    // collect() does not traverse the AdaptiveSparkPlanExec boundary
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    assert(plan.toString.contains("TopKPerGroup"), plan)
    // every PER-ROW rank window partitions by (source, chunk), never
    // by source alone over the doc grain; the remaining source-only
    // windows are the three scanRank offsets (over the bounded
    // chunk-count aggregate) and the 10-row survivor rank —
    // ScaleLintSpec enforces the corpus-scale law itself catalog-wide
    val winParts = plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.flatMap(_.references.map(_.name)).distinct
    }
    val chunked = winParts.count(p => p.contains("source") &&
      p.exists(_.startsWith("__ck")))
    assert(chunked == 3, s"windows: $winParts\n$plan")
  }

  test("q161 IVM audit reads the raw grain exactly twice") {
    // one grouped-states pass + the independent recompute; the day
    // bounds are a checkpointed one-row frame (broadcast ExistingRDD),
    // and the base/delta states come from ONE aggregation, not one scan
    // per partition side.
    val plan = executed("q161_ivm_audit")
    assert("FileScan parquet".r.findAllIn(plan).size == 2, plan)
    assert("BroadcastExchange".r.findAllIn(plan).size >= 1, plan)
    assert(plan.contains("Scan ExistingRDD"), plan)
  }

  test("q162 bitmap intersection joins words equi-keyed; totals broadcast") {
    val plan = executed("q162_bitmap_overlap")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    // word frames are checkpointed state (ExistingRDD), totals broadcast
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
  }

  test("q164 span corruption is a zero-shuffle narrow projection") {
    val plan = executed("q164_span_corruption")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"masking must not shuffle the corpus:\n$plan")
    assert("Exchange rangepartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q163 Hamming candidates join equi-keyed on (band, value)") {
    // the signature frame is checkpointed state; the candidate join
    // must be a hash/sort equi-join on the band key, never a nested
    // loop, and no text column reaches any exchange
    val plan = executed("q163_simhash_hamming")
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(!plan.linesIterator.filter(_.contains("Exchange"))
      .exists(_.contains("text#")), s"an exchange carries text:\n$plan")
  }

  test("q160 CDC compaction rides one user exchange end to end") {
    val plan = executed("q160_cdc_net_state")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      plan)
  }

  test("q154 rolling quota rides one user exchange end to end") {
    // the RANGE window and the per-user aggregate share one
    // hashpartitioning(user_id)
    val plan = executed("q154_rolling_quota")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      plan)
  }

  test("q153 all 16 EWMA lags ride ONE window over one user exchange") {
    val plan = executed("q153_ewma_activity")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      plan)
    assert("\\bWindow\\b".r.findAllIn(plan).size == 1,
      s"16 lags must share a single Window node:\n$plan")
  }

  test("q172 three chained funnel windows + user agg share ONE user exchange") {
    // the aggregate-join-back formulation would exchange events three
    // times; the chained-window shape must keep it to one
    val plan = executed("q172_window_funnel")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      plan)
  }

  test("q171 transition matrix: one user window exchange, bounded tail") {
    val plan = executed("q171_markov_transitions")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      plan)
  }

  test("q218 lexical diversity shuffles NOTHING but the output sort") {
    // the run-length fold replaces explode->groupBy(doc, word); the only
    // exchange allowed is the rangepartitioning for the ordered output
    val plan = executed("q218_lexical_diversity")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"per-token shuffle crept back in:\n$plan")
    assert("Exchange rangepartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q222 path trigrams ride one user window exchange") {
    // the two leads share one window; the path rollup is map-combined
    // into a bounded (|types|^3) frame before its exchange
    val plan = executed("q222_event_paths")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      plan)
  }

  test("q219 embedding audit is one map-side pass + bounded rollup") {
    val plan = executed("q219_embedding_audit")
    assert(plan.contains("graft_dot"), s"norm2 not codegen'd:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("q223 ANN eval: final plan joins only checkpointed top-5 frames") {
    // the scorings run once each behind localCheckpoints (the q28/q30
    // pins cover their broadcast + TopKPerGroup shapes); the eval plan
    // itself must only join the <= 5|Q|-row survivors — seeing a
    // TopKPerGroup or a cosine scorer here means a checkpoint was
    // dropped and a scoring pass re-runs per consumer
    val plan = executed("q223_ann_recall_eval")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("TopKPerGroup"),
      s"scoring re-runs inside the eval plan:\n$plan")
    assert(!plan.contains("graft_dot"),
      s"cosine scorer re-runs inside the eval plan:\n$plan")
  }

  test("q229 resample: corpus prefix sum rides a bucket-partitioned window") {
    // the running sum over documents must be partitioned by the bucket
    // key (distributed prefix sum); only the TINY bucket-offset frame
    // may use an unpartitioned window
    val plan = executed("q229_systematic_resample")
    assert(plan.contains("], [bkt#") || plan.contains(", [bkt], "),
      s"within-bucket window not partitioned by bkt:\n$plan")
  }

  test("q243 local-supply: dims broadcast, facts equi-joined, no cartesian") {
    val plan = executed("q243_local_supply_share")
    assert(plan.contains("BroadcastHashJoin"), s"dims not broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q247 share-of-parent scans the fact table exactly once") {
    // the window-over-aggregate shape must not re-scan lineitem for
    // the parent denominators (the three-grouped-queries formulation
    // would scan it three times)
    val plan = executed("q247_share_of_parent")
    assert("lineitem\\.parquet".r.findAllIn(plan).size == 1,
      s"fact table scanned more than once:\n$plan")
  }

  test("q252 rendezvous audit: projection + bounded rollup, no sort-merge join") {
    val plan = executed("q252_rendezvous_sharding")
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-sized join crept into the audit:\n$plan")
  }

  test("q259 session handoff rides ONE user exchange through all windows") {
    // hashpartitioning(user_id) satisfies the (user_id, sess) window's
    // clustering (subset rule), so sessionize + per-session flags +
    // cross-session lead must not re-exchange
    val plan = executed("q259_session_handoff")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(plan).size == 1,
      plan)
  }

  test("q224 rolling actives: hash aggregates only, no window state") {
    // exact sliding distinct must come from the x7 fanout of the
    // COLLAPSED user-day frame — any Window node means someone tried
    // per-event distinct-over-frame, which doesn't distribute
    val plan = executed("q224_rolling_actives")
    assert(!plan.contains("Window"), s"window state crept in:\n$plan")
    assert(plan.contains("HashAggregate"), plan)
  }
}
