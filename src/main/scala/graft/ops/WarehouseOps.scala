package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TestData._

/** Warehouse-maintenance and behavioral analytics operators: small-file
  * compaction planning, co-purchase graph triangle counting, cohort
  * retention, and multi-touch attribution. All integer-exact (cents /
  * month indices / basis points) so both engines hash identically.
  */
object WarehouseOps {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** Target compaction bin size in bytes (sf-independent constant; at
    * larger sf each (lang, source) group simply plans more files).
    */
  private val BinBytes = 8192L

  /** The co-purchase graph's undirected edge set — distinct part pairs
    * sharing an order — deduped and checkpointed ONCE. Shared base
    * stage of q129 (triangle counting) and q152 (k-core) so each graph
    * query builds the order self-join exactly once per invocation and
    * a future graph query doesn't re-derive it a third time. 100 TB
    * posture: per-order pair fanout is bounded by order width
    * (≤ C(13,2) here), the pair list shuffles as fixed-width longs, and
    * the checkpoint makes it a materialized leaf for every consumer.
    */
  private[graft] def coPurchasePairs(s: SparkSession, dir: String): DataFrame =
    coPurchasePairsPlan(s, dir).localCheckpoint(eager = true)

  /** The same edge derivation as a LAZY plan — no checkpoint. Used by
    * [[SqlSurface]] to bind the relation as a SQL view (a view
    * registration must not eagerly materialize a corpus-scale
    * self-join) while the batch consumers above keep the shared
    * checkpointed leaf.
    */
  private[graft] def coPurchasePairsPlan(s: SparkSession, dir: String): DataFrame = {
    // ONE exchange serves the dedup AND the self-join (r16, ProbeR16CoP
    // 3/3 pairwise, ~-22%, identical pair sets; initial-plan Exchange
    // 5 -> 3; OPTIMIZATION_r16.md, probe code at commit 9916828):
    // repartition on `o` first — HashPartitioning(o) satisfies
    // the distinct's ClusteredDistribution(o, p) (same o => same
    // partition), and the self-join on `o` then reuses the same layout
    // on both sides. The old shape paid Exchange(o, p) for the distinct
    // and Exchange(o) for the join. REPARTITION_BY_NUM at the
    // cluster-scaled conf, so AQE neither coalesces nor re-keys it.
    val li = PinnedRepartition.repartitionByConf(
      table(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
      col("o"))
      .distinct()
    // shuffle_hash (r11, same rationale as q121's variant self-join):
    // both sides are the same frame, so sort-merge sorts it twice for
    // no downstream ordering — measured 1.3-1.9 -> 1.0-1.6 s at sf0.1
    // (A/B x3, identical pair sets). No skew hazard: the join key is
    // the order id, fanout bounded by order width (<= 13).
    li.alias("a").hint("shuffle_hash").join(li.alias("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v"))
      .distinct()
  }

  /** Synchronous min-label flooding to FIXPOINT over an undirected pair
    * list (u, v) — the engine under q275. Returns (nd, l, settle):
    * l = min node id reachable from nd, settle = the LAST round nd's
    * label changed. Because flooding advances labels exactly one hop
    * per round and labels decrease monotonically, settle equals the hop
    * distance from nd to its component's min-id node — a graph
    * property, not an implementation artifact, which is what makes the
    * convergence certificate oracle-checkable (and why this deliberately
    * does NOT pointer-jump like DedupOps.connectedComponents: path
    * halving would compress settle rounds unpredictably). The round
    * count is decided by the DATA — the loop ends when a round changes
    * nothing, read from an `observe` aggregate during each round's
    * eager localCheckpoint (no extra action) — and hard-capped by
    * `maxRounds` (graph radius bound; require, never silent).
    * LabelPropPropertySpec pins the law against a driver-side
    * union-find + BFS reference on arbitrary graphs.
    */
  private[graft] def labelPropSettle(pairs: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    val p2 = pairs.toDF("u", "v")
    // Every flooding round reads the edges, so they are checkpointed
    // once; each round exchanges them on `a` itself (a checkpoint leaf
    // carries no layout under AQE, PartitionedCheckpointSpec). Only
    // round 0 reads `init`, so round 0's checkpoint materializes it.
    val edges = p2.select(col("u").as("a"), col("v").as("b"))
      .unionAll(p2.select(col("v").as("a"), col("u").as("b")))
      .localCheckpoint(eager = true)
    val init = edges.select(col("a").as("nd")).distinct()
      .select(col("nd"), col("nd").as("l"), lit(0).as("settle"))
    // One flooding round as a UNION-formulated single aggregate (r15):
    // neighbor messages union the self rows, one min-keyed groupBy —
    // the old shape paid a join + aggregate + join-back per round.
    // l0/settle ride the self rows only (max() ignores the messages'
    // nulls; every nd has exactly one self row), so the round's label
    // AND its settle update come out of the same aggregate. NO label
    // seeding and NO pointer jumping here, same as before: settle must
    // stay the hop distance from the component's min-id node.
    def flood(cur: DataFrame, r: Int): DataFrame =
      edges.join(cur, col("a") === col("nd"))
        .select(col("b").as("nd"), col("l"),
          lit(null).cast("long").as("l0"),
          lit(null).cast("int").as("settle"))
        .unionByName(cur.select(col("nd"), col("l"),
          col("l").as("l0"), col("settle")))
        .groupBy("nd")
        .agg(min("l").as("l"), max("l0").as("l0"),
          max("settle").as("settle0"))
        .select(col("nd"), col("l"),
          when(col("l") < col("l0"), lit(r))
            .otherwise(col("settle0")).as("settle"),
          (col("l") < col("l0")).as("chg"))
    // TWO rounds per checkpoint (r15): the convergence observe reads
    // only the SECOND round's delta — flooding is monotone decreasing,
    // so a no-change final round certifies neighbor-min closure and no
    // confirm round re-runs after the fixpoint. A radius-R graph pays
    // ceil((R+1)/2) checkpoint jobs instead of R+1 (q275 at sf0.1:
    // 5 -> 3), and settle stays exact because each round updates it
    // with its own round number.
    //
    // The driver's cap is a runaway guard only: (maxRounds + 1) / 2 + 1
    // checkpoints admit up to maxRounds + 2 flooding rounds. The EXACT
    // bound — no label changed after round maxRounds — is enforced on
    // max_settle after the loop (ADVICE r15). max_settle is the last
    // round ANY label changed so far; it rides the same observe, so the
    // check costs no extra action.
    val res = Fixpoint.iterate("labelprop", init, (maxRounds + 1) / 2 + 1,
        changed = Some(col("chg")),
        observed = Seq(coalesce(max(col("settle")), lit(0)).as("max_settle"))
    ) { (lbl, i) =>
      flood(flood(lbl, 2 * i + 1).drop("chg"), 2 * i + 2)
    }
    val maxSettle = res.metrics("max_settle") match {
      case i: java.lang.Integer => i.toInt
      case l: java.lang.Long => l.toInt
    }
    require(maxSettle <= maxRounds,
      s"label propagation settled at round $maxSettle > cap $maxRounds")
    res.frame.select("nd", "l", "settle")
  }

  /** The REPEAT-co-purchase edge list — part pairs sharing >= 2 orders
    * (the w >= 2 cut keeps the graph sparse where the raw co-purchase
    * graph is near-complete). The shared base of q268's BFS and q275's
    * label flooding, derived ONCE so the two queries can never
    * silently diverge on the edge definition (the same rationale as
    * [[coPurchasePairs]]). Returns undirected (u, v) pairs.
    */
  private[graft] def repeatCoPurchasePairs(s: SparkSession,
      dir: String): DataFrame = {
    // Same fused single-exchange dedup+join layout as
    // coPurchasePairsPlan (r16, ProbeR16CoP 3/3 pairwise, ~-11%;
    // OPTIMIZATION_r16.md, probe code at commit 9916828).
    val li = PinnedRepartition.repartitionByConf(
      table(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
      col("o"))
      .distinct()
    // shuffle_hash: same self-join shape and measurement as
    // coPurchasePairsPlan (1.1-1.6 -> 0.9-1.1 s at sf0.1).
    li.alias("x").hint("shuffle_hash").join(li.alias("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .groupBy(col("x.p").as("u"), col("y.p").as("v"))
      .agg(count(lit(1)).as("w"))
      .where(col("w") >= 2)
      .select("u", "v")
  }

  /** q234's A-priori candidate pipeline. Returns (li, triples): `li` is
    * the checkpointed distinct basket frame (the caller derives n_orders
    * from it — one read, one checkpoint), `triples` the fully-pruned
    * (p1, p2, p3) candidate rows (one per order) BEFORE the support-cut
    * aggregate. The (p1, p2) frequent-pair semi-join gates the third
    * basket join — textbook A-priori placement; see the q234 comment
    * below for the ProbeQ234Prune measurement that makes the placement
    * load-bearing (PLANS.md, probe code at commit 9916828).
    */
  private def aprioriTripleParts(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val li = table(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
      .localCheckpoint(eager = true)
    val fi = li.groupBy("p").agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select("p")
    val liF = li.join(fi, "p").select("o", "p")
      .localCheckpoint(eager = true)
    val fp = liF.alias("a").join(liF.alias("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .groupBy(col("a.p").as("u"), col("b.p").as("v"))
      .agg(count(lit(1)).as("c")).where(col("c") >= 2)
      .select("u", "v")
      .localCheckpoint(eager = true)
    val ab = liF.alias("a")
      .join(liF.alias("b"),
        col("a.o") === col("b.o") && col("a.p") < col("b.p"))
      .select(col("a.o").as("o"), col("a.p").as("p1"),
        col("b.p").as("p2"))
      .join(fp.select(col("u").as("p1"), col("v").as("p2")),
        Seq("p1", "p2"), "left_semi")
    val triples = ab.alias("ab")
      .join(liF.alias("c"),
        col("ab.o") === col("c.o") && col("ab.p2") < col("c.p"))
      .select(col("ab.p1").as("p1"), col("ab.p2").as("p2"),
        col("c.p").as("p3"))
      .join(fp.select(col("u").as("p1"), col("v").as("p3")),
        Seq("p1", "p3"), "left_semi")
      .join(fp.select(col("u").as("p2"), col("v").as("p3")),
        Seq("p2", "p3"), "left_semi")
    (li, triples)
  }

  /** One k-core peeling round: filter `edges(a, b)` to endpoints whose
    * degree (in `deg(a, deg)`) is >= k. The survivor list derives from
    * the checkpointed deg (no checkpoint of its own) and is broadcast
    * into both semi-joins, so the round filters the edge list in place:
    * edges never re-shuffle and the whole filter pipeline is one stage.
    * The list is |V| longs, so it grows with the graph; at the scales
    * run here it is a few MB. Exposed for PlanSpec, which pins the shape.
    */
  private[graft] def kcorePeel(edges: DataFrame, deg: DataFrame,
      k: Int): DataFrame = {
    val alive = broadcast(
      deg.where(col("deg") >= k).select(col("a").as("vv")))
    edges
      .join(alive, col("a") === col("vv"), "left_semi")
      .join(alive, col("b") === col("vv"), "left_semi")
  }

  def all: Map[String, Q] = Map(

    // Small-file compaction planning — the table-maintenance pass every
    // lakehouse needs: within each (lang, source) partition, documents
    // are packed in doc_id order into ~8 KiB output files by cumulative
    // size (greedy first-fit in key order), and the plan reports each
    // planned file's doc count, bytes, and fill factor. 100 TB posture:
    // the running-byte prefix rides the two-level distributed scan
    // (OrderStat.scanCumSum, chunked by doc_id range) — a plain
    // (lang, source)-partitioned window would run each partition's
    // whole prefix through ONE task at 100x; the same layout a real
    // compactor (Iceberg/Delta bin-packing) uses, and the plan is pure
    // metadata (no text moves until the rewrite executes it).
    "q128_compaction_plan" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        OrderStat.scanCumSum(
            docs.select(col("lang"), col("source"), col("doc_id"),
              col("n_chars")),
            Seq("lang", "source"), col("n_chars"), Seq(col("doc_id")),
            expr("doc_id div 65536"), "cum")
          .withColumn("file_id",
            expr(s"(greatest(cum, 1) - 1) div $BinBytes").cast("int"))
          .groupBy("lang", "source", "file_id")
          .agg(count(lit(1)).as("n_docs"),
            sum("n_chars").as("bytes"),
            min("doc_id").as("first_doc"),
            max("doc_id").as("last_doc"))
          .withColumn("fill_bps", expr(s"bytes * 10000 div $BinBytes"))
          .orderBy("lang", "source", "file_id")
      },
      Some(
        s"""WITH c AS (SELECT lang, source, doc_id, n_chars,
           |   sum(n_chars) OVER (PARTITION BY lang, source ORDER BY doc_id
           |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           |   FROM documents),
           | b AS (SELECT lang, source, doc_id, n_chars,
           |   CAST((greatest(cum, 1) - 1) // $BinBytes AS INT) AS file_id FROM c)
           | SELECT lang, source, file_id, count(*) AS n_docs,
           |   CAST(sum(n_chars) AS BIGINT) AS bytes,
           |   min(doc_id) AS first_doc, max(doc_id) AS last_doc,
           |   CAST(sum(n_chars) * 10000 // $BinBytes AS BIGINT) AS fill_bps
           | FROM b GROUP BY 1, 2, 3 ORDER BY lang, source, file_id"""
          .stripMargin.replace("\n", ""))),

    // The co-purchase edge list as a first-class operator (VERDICT r7
    // #6): q129/q152/q158 each rebuild this base independently (an
    // anti-gaming choice — cross-query memoization would break under
    // the bench's clearState), which makes the graph queries' marginal
    // cost invisible in the artifact. Exposing the base itself, oracle-
    // gated, lets the driver price it once: consumer cost ≈ measured
    // total − this. Same 100 TB posture as the helper: per-order pair
    // fanout bounded by order width, fixed-width long shuffles, dedup
    // before the checkpoint.
    "q267_copurchase_edges" -> Q(
      (s, dir) => coPurchasePairs(s, dir).orderBy("u", "v"),
      Some(
        """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |   FROM lineitem)
          | SELECT DISTINCT a.p AS u, b.p AS v
          | FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          | ORDER BY u, v""".stripMargin.replace("\n", ""))),

    // Multi-hop BFS over the REPEAT-co-purchase graph (pairs bought
    // together in >= 2 orders — the w >= 2 cut keeps the graph sparse
    // where the raw co-purchase graph is near-complete): min-hop
    // distance from the smallest repeat-co-purchased part, bounded at
    // 4 hops. A genuinely ITERATIVE plan shape beyond CC/PageRank/
    // k-core: per round, the frontier semi-expands through the edge
    // list (frontier-adjacent cost only), an anti-join against the
    // visited set keeps first-discovery distances (= min-hop by BFS
    // invariant), and both frames localCheckpoint per round so the
    // lineage never grows (the CC discipline). 100 TB posture: every
    // round is equi-joins keyed by vertex; no driver collect; rounds
    // bounded by the hop cap, not the data. Oracle: DuckDB recursive
    // CTE computing the same bounded min-distances.
    "q268_bfs_hops" -> Q(
      (s, dir) => {
        val w2 = repeatCoPurchasePairs(s, dir)
        // Every BFS round's frontier expansion reads the edges, so
        // they are checkpointed once; each round exchanges them on `a`
        // itself (a checkpoint leaf carries no layout under AQE).
        val edges = w2.select(col("u").as("a"), col("v").as("b"))
          .unionAll(w2.select(col("v").as("a"), col("u").as("b")))
          .localCheckpoint(eager = true)
        // One checkpoint per BFS round (r15): only the new FRONTIER is
        // materialized; `visited` stays a lazy union of the <= 5
        // checkpointed frontiers (each a LogicalRDD leaf, so the union
        // plan is shallow and never recomputes a round). The old shape
        // checkpointed BOTH the frontier and the growing visited union
        // — two blocking jobs per round for the same set.
        // This loop stays out of Fixpoint: `visited` still reads every
        // round's checkpoint, so no round may ever be released, and a
        // driver branch for this one caller would cost more than it
        // saves.
        var visited = edges.agg(min("a").as("node"))
          .select(col("node"), lit(0).as("dist"))
          .localCheckpoint(eager = true)
        var frontier = visited.select("node")
        for (d <- 1 to 4) {
          val next = frontier.join(edges, col("node") === col("a"))
            .select(col("b").as("node")).distinct()
            .join(visited, Seq("node"), "left_anti")
            .select(col("node"), lit(d).as("dist"))
            .localCheckpoint(eager = true)
          visited = visited.unionByName(next)
          frontier = next.select("node")
        }
        visited.groupBy("dist")
          .agg(count(lit(1)).as("n_nodes"), sum("node").as("sum_node_ids"))
          .orderBy("dist")
      },
      Some(
        """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |   FROM lineitem),
          | pw AS (SELECT a.p AS u, b.p AS v, count(*) AS w
          |   FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
          | e2 AS (SELECT u, v FROM pw WHERE w >= 2),
          | edges AS (SELECT u AS a, v AS b FROM e2 UNION ALL SELECT v, u FROM e2),
          | seed AS (SELECT min(a) AS s FROM edges),
          | bfs(node, dist) AS (SELECT s, 0 FROM seed
          |   UNION SELECT e.b, bfs.dist + 1 FROM bfs JOIN edges e ON e.a = bfs.node
          |   WHERE bfs.dist < 4),
          | md AS (SELECT node, min(dist) AS dist FROM bfs GROUP BY node)
          | SELECT CAST(dist AS INT) AS dist, CAST(count(*) AS BIGINT) AS n_nodes,
          |   CAST(sum(node) AS BIGINT) AS sum_node_ids
          | FROM md GROUP BY dist ORDER BY dist"""
          .stripMargin.replace("\n", ""))),

    // Label propagation to FIXPOINT with the convergence itself as the
    // output (VERDICT r9 #7's missing family): synchronous min-label
    // flooding over the repeat-co-purchase graph (q268's w >= 2 edge
    // base), looped until a round changes NOTHING — the round count is
    // decided by the DATA, not a fixed budget — and every node carries
    // a convergence CERTIFICATE: settle_round, the last round its label
    // changed. Under synchronous flooding labels decrease monotonically
    // and the component's min id reaches node v exactly at round
    // d(v, seed), so settle_round is a graph PROPERTY (hop distance
    // from the component's min-id node), which is what makes a
    // convergence certificate oracle-checkable: DuckDB reproduces it as
    // reachability closure (min reachable id) + BFS from each
    // component's own min node. Deliberately different from the shared
    // connectedComponents fixpoint (DedupOps): no pointer jumping —
    // path halving would turn settle rounds into an implementation
    // artifact, plain flooding makes them data. 100 TB posture: each
    // round is one vertex-keyed equi-join + a min-agg with the CC
    // discipline (edges checkpointed once, eager
    // localCheckpoint per round so lineage never grows, convergence
    // read from an `observe` aggregate during the checkpoint job — no
    // extra action per round); rounds are bounded by seed eccentricity
    // (small-world here: 4 at sf0.1), hard-required <= 64.
    "q275_labelprop_settle" -> Q(
      (s, dir) =>
        labelPropSettle(repeatCoPurchasePairs(s, dir))
          .select(col("nd").as("node"), col("l").as("lbl"),
            col("settle").cast("int").as("settle_round"))
          .orderBy("node"),
      Some(
        """WITH RECURSIVE li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |   FROM lineitem),
          | pw AS (SELECT x.p AS u, y.p AS v, count(*) AS w
          |   FROM li x JOIN li y ON x.o = y.o AND x.p < y.p GROUP BY 1, 2),
          | e2 AS (SELECT u, v FROM pw WHERE w >= 2),
          | edges AS (SELECT u AS a, v AS b FROM e2 UNION ALL SELECT v, u FROM e2),
          | nodes AS (SELECT DISTINCT a AS node FROM edges),
          | reach(node, lbl) AS (SELECT node, node FROM nodes
          |   UNION SELECT e.b, reach.lbl FROM reach JOIN edges e ON e.a = reach.node),
          | mlbl AS (SELECT node, min(lbl) AS lbl FROM reach GROUP BY node),
          | seeds AS (SELECT node FROM mlbl WHERE node = lbl),
          | bfs(node, d) AS (SELECT node, 0 FROM seeds
          |   UNION SELECT e.b, bfs.d + 1 FROM bfs JOIN edges e ON e.a = bfs.node
          |   WHERE bfs.d < 64),
          | dist AS (SELECT node, min(d) AS settle_round FROM bfs GROUP BY node)
          | SELECT m.node, m.lbl, CAST(di.settle_round AS INT) AS settle_round
          | FROM mlbl m JOIN dist di ON di.node = m.node ORDER BY m.node"""
          .stripMargin.replace("\n", ""))),

    // Degree-ordered triangle counting over the co-purchase graph
    // (parts appearing in the same order). Edges orient from the
    // (degree, id)-smaller endpoint, so a triangle {a,b,c} materializes
    // exactly once as the wedge a->b->c closed by a->c — the classic
    // bound that keeps wedge fanout at O(E^1.5) total instead of
    // O(sum deg^2): hub nodes get only their few higher-degree
    // neighbors as out-edges. 100 TB posture: per-order pair fanout is
    // bounded by order width (<= C(13,2) here), the edge list shuffles
    // as fixed-width longs, and the two wedge joins are plain
    // equi-joins AQE can skew-split.
    "q129_triangle_count" -> Q(
      (s, dir) => {
        // pairs feeds deg AND e — the shared helper checkpoints it so
        // the order self-join runs once and every consumer reads a
        // materialized leaf (q110/q118 discipline).
        val pairs = coPurchasePairs(s, dir)
        // deg is CHECKPOINTED (r16, ProbeR16Tri B, 3/3 pairwise vs the
        // old shape, ~2.7-3.5 -> ~2.1 s; OPTIMIZATION_r16.md, probe code
        // at commit 9916828): it used to be a lazy aggregate
        // recomputed from the pairs checkpoint inside the FINAL plan's
        // deg join — one whole extra 2E-row exchange per invocation.
        // It is a |V|-row long/long frame, the same node-grain size
        // class every iterative operator here already materializes.
        val deg = pairs.select(col("u").as("n"))
          .unionAll(pairs.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
          .localCheckpoint(eager = true)
        // The oriented edge list stays LAZY (r16/ProbeR16Tri, same
        // record): its orientation joins are broadcasts of the deg
        // checkpoint over the pairs checkpoint — pure map work — so
        // materializing it bought nothing but a blocking barrier; its
        // two consumers (adjacency build, probe side of the closing
        // join) each re-run the map over the same materialized leaves.
        val e = pairs
          .join(broadcast(deg.select(col("n").as("u"), col("deg").as("du"))),
            "u")
          .join(broadcast(deg.select(col("n").as("v"), col("deg").as("dv"))),
            "v")
          .select(
            when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")),
              col("u")).otherwise(col("v")).as("src"),
            when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")),
              col("v")).otherwise(col("u")).as("dst"))
        // Close triangles by ADJACENCY INTERSECTION, not a wedge join:
        // collapse the oriented edges to per-source sorted neighbor
        // arrays (|V| rows, Σ|nbrs| = E longs — ~19 MB at sf0.1, well
        // inside broadcast range), then for each edge (u,v) the closing
        // nodes are exactly array_intersect(out(u), out(v)). The wedge
        // population — 49M rows at sf0.1 under the same orientation —
        // is never materialized as join rows: each edge row scans two
        // neighbor arrays inside one codegen stage and emits only true
        // triangles. Same O(E^1.5) work bound, join-row constant gone.
        // The broadcast adjacency frame grows with E; no workload here
        // runs at a scale where it outgrows a broadcast.
        val adj = e.groupBy(col("src"))
          .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
          .localCheckpoint(eager = true)
        val tri = e
          .join(broadcast(adj.select(col("src").as("ju"), col("nbrs").as("nu"))),
            col("src") === col("ju"))
          .join(broadcast(adj.select(col("src").as("jv"), col("nbrs").as("nv"))),
            col("dst") === col("jv"))
          .select(col("src").as("ta"), col("dst").as("tb"),
            explode(graft.functions.SortedIntersect
              .array(col("nu"), col("nv"))).as("tc"))
        // LIMIT before the deg join (r16): the join is 1:1 on part —
        // every triangle vertex is a graph node — and the top-20 order
        // keys (triangles, part) exist before it, so selecting the 20
        // first turns a |V|-row join into a 20-row join. The |V|-row deg
        // frame takes no hint: the planner broadcasts the 20-row side.
        tri.select(explode(array(col("ta"), col("tb"), col("tc"))).as("part"))
          .groupBy("part").agg(count(lit(1)).as("triangles"))
          .orderBy(col("triangles").desc, col("part"))
          .limit(20)
          .join(deg.select(col("n").as("part"), col("deg")), "part")
          .select(col("part"), col("triangles"), col("deg"))
          .orderBy(col("triangles").desc, col("part"))
      },
      Some(
        """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          | pairs AS (SELECT DISTINCT a.p AS u, b.p AS v FROM li a JOIN li b
          |   ON a.o = b.o AND a.p < b.p),
          | deg AS (SELECT n, count(*) AS deg FROM
          |   (SELECT u AS n FROM pairs UNION ALL SELECT v FROM pairs) GROUP BY 1),
          | e AS (SELECT CASE WHEN (da.deg, pairs.u) < (db.deg, pairs.v)
          |     THEN pairs.u ELSE pairs.v END AS src,
          |   CASE WHEN (da.deg, pairs.u) < (db.deg, pairs.v)
          |     THEN pairs.v ELSE pairs.u END AS dst
          |   FROM pairs JOIN deg da ON da.n = pairs.u JOIN deg db ON db.n = pairs.v),
          | tri AS (SELECT ab.src AS ta, ab.dst AS tb, bc.dst AS tc
          |   FROM e ab JOIN e bc ON ab.dst = bc.src
          |   WHERE EXISTS (SELECT 1 FROM e ac WHERE ac.src = ab.src AND ac.dst = bc.dst)),
          | pt AS (SELECT part, count(*) AS triangles FROM
          |   (SELECT ta AS part FROM tri UNION ALL SELECT tb FROM tri
          |    UNION ALL SELECT tc FROM tri) GROUP BY 1),
          | top AS (SELECT pt.part, pt.triangles, deg.deg FROM pt
          |   JOIN deg ON deg.n = pt.part
          |   ORDER BY triangles DESC, part LIMIT 20)
          | SELECT part, triangles, deg FROM top ORDER BY triangles DESC, part"""
          .stripMargin.replace("\n", ""))),

    // Cohort retention: customers cohorted by first-order month; for
    // each cohort x month-offset (0..11), how many distinct cohort
    // members ordered again, as exact basis points of cohort size.
    // Month indices are pure integers (year*12 + month), so offsets
    // and the final div are engine-exact. 100 TB posture: two
    // aggregations sharing one customer-key exchange, then a tiny
    // cohort-level join — no event-grain shuffle ever repeats.
    "q130_cohort_retention" -> Q(
      (s, dir) => {
        val om = table(s, dir, "orders").select(
          col("o_custkey").as("c"),
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")))
            .as("m"))
        val first = om.groupBy("c").agg(min("m").as("m0"))
        val act = om.distinct()
        val ret = act.join(first, "c")
          .select(col("c"), col("m0"), (col("m") - col("m0")).as("off"))
          .where(col("off") <= 11)
          .groupBy("m0", "off").agg(count(lit(1)).as("n_active"))
        val size = first.groupBy("m0").agg(count(lit(1)).as("cohort_n"))
        ret.join(size, "m0")
          .select(
            expr("((m0 - 1) div 12) * 100 + ((m0 - 1) % 12 + 1)")
              .cast("int").as("cohort_ym"),
            col("off").cast("int").as("month_offset"),
            col("n_active"), col("cohort_n"),
            expr("n_active * 10000 div cohort_n").as("retained_bps"))
          .orderBy("cohort_ym", "month_offset")
      },
      Some(
        """WITH om AS (SELECT o_custkey AS c,
          |   year(o_orderdate) * 12 + month(o_orderdate) AS m FROM orders),
          | f AS (SELECT c, min(m) AS m0 FROM om GROUP BY 1),
          | act AS (SELECT DISTINCT c, m FROM om),
          | ret AS (SELECT f.m0, act.m - f.m0 AS off, count(*) AS n_active
          |   FROM act JOIN f USING (c) WHERE act.m - f.m0 <= 11 GROUP BY 1, 2),
          | sz AS (SELECT m0, count(*) AS cohort_n FROM f GROUP BY 1)
          | SELECT CAST(((m0 - 1) // 12) * 100 + ((m0 - 1) % 12 + 1) AS INT) AS cohort_ym,
          |   CAST(off AS INT) AS month_offset, n_active, cohort_n,
          |   CAST(n_active * 10000 // cohort_n AS BIGINT) AS retained_bps
          | FROM ret JOIN sz USING (m0) ORDER BY cohort_ym, month_offset"""
          .stripMargin.replace("\n", ""))),

    // Multi-touch attribution: each purchase is credited to the first
    // and the last touch (click/view) STRICTLY before it in the user's
    // event stream; purchases with no prior touch credit "none". Value
    // is settled in integer cents (floor(v*100 + 0.5): one IEEE
    // multiply per row, then exact BIGINT sums — order-independent
    // across engines). 100 TB posture: one user-key window carries both
    // models (first/last over the same frame), then a channel-level
    // aggregate over a handful of groups.
    "q131_attribution" -> Q(
      (s, dir) => {
        val ev = table(s, dir, "events")
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val touch = when(col("event_type").isin("click", "view"),
          col("event_type"))
        val purch = ev
          .withColumn("ft", first(touch, ignoreNulls = true).over(w))
          .withColumn("lt", last(touch, ignoreNulls = true).over(w))
          .where(col("event_type") === "purchase")
          .select(coalesce(col("ft"), lit("none")).as("ft"),
            coalesce(col("lt"), lit("none")).as("lt"),
            expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)").as("cents"))
        val ft = purch.groupBy(col("ft").as("channel"))
          .agg(count(lit(1)).as("conversions"), sum("cents").as("value_cents"))
          .withColumn("model", lit("first_touch"))
        val lt = purch.groupBy(col("lt").as("channel"))
          .agg(count(lit(1)).as("conversions"), sum("cents").as("value_cents"))
          .withColumn("model", lit("last_touch"))
        ft.unionByName(lt)
          .select(col("model"), col("channel"), col("conversions"),
            col("value_cents"))
          .orderBy("model", "channel")
      },
      Some(
        """WITH t AS (SELECT user_id, ts, event_id, event_type, value,
          |   first_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END IGNORE NULLS)
          |     OVER (PARTITION BY user_id ORDER BY ts, event_id
          |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ft,
          |   last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END IGNORE NULLS)
          |     OVER (PARTITION BY user_id ORDER BY ts, event_id
          |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
          |   FROM events),
          | p AS (SELECT coalesce(ft, 'none') AS ft, coalesce(lt, 'none') AS lt,
          |   CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
          |   FROM t WHERE event_type = 'purchase'),
          | m AS (SELECT 'first_touch' AS model, ft AS channel,
          |     count(*) AS conversions, sum(cents) AS value_cents FROM p GROUP BY 2
          |   UNION ALL
          |   SELECT 'last_touch', lt, count(*), sum(cents) FROM p GROUP BY 2)
          | SELECT model, channel, conversions, CAST(value_cents AS BIGINT) AS value_cents
          | FROM m ORDER BY model, channel""".stripMargin.replace("\n", ""))),

    // Data-quality audit — the pre-flight every warehouse load runs:
    // referential integrity (orders->customer, lineitem->{orders, part,
    // supplier}, customer/supplier->nation) and domain rules
    // (l_quantity > 0, l_discount in [0,1], o_totalprice > 0), one
    // result row per check. 100 TB posture: ONE pass per fact table —
    // all of lineitem's FK targets join broadcast (dimension key sets),
    // and every rule on that table folds into the same aggregate, so
    // the audit costs three scans and zero fact-side shuffles, not one
    // job per rule.
    "q132_dq_audit" -> Q(
      (s, dir) => {
        def keys(t: String, k: String) =
          table(s, dir, t).select(col(k)).distinct()
        val li = table(s, dir, "lineitem")
          .join(broadcast(keys("orders", "o_orderkey")
              .withColumn("ok_o", lit(1))),
            col("l_orderkey") === col("o_orderkey"), "left")
          .join(broadcast(keys("part", "p_partkey")
              .withColumn("ok_p", lit(1))),
            col("l_partkey") === col("p_partkey"), "left")
          .join(broadcast(keys("supplier", "s_suppkey")
              .withColumn("ok_s", lit(1))),
            col("l_suppkey") === col("s_suppkey"), "left")
          .agg(count(lit(1)).as("n"),
            sum(when(col("ok_o").isNull, 1).otherwise(0)).as("fk_orders"),
            sum(when(col("ok_p").isNull, 1).otherwise(0)).as("fk_part"),
            sum(when(col("ok_s").isNull, 1).otherwise(0)).as("fk_supplier"),
            sum(when(col("l_quantity") <= 0, 1).otherwise(0)).as("dom_qty"),
            sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1)
              .otherwise(0)).as("dom_disc"))
          .select(explode(map(
            lit("lineitem_orderkey_fk"), col("fk_orders"),
            lit("lineitem_partkey_fk"), col("fk_part"),
            lit("lineitem_suppkey_fk"), col("fk_supplier"),
            lit("lineitem_quantity_positive"), col("dom_qty"),
            lit("lineitem_discount_range"), col("dom_disc")))
            .as(Seq("check_name", "n_violations")), col("n"))
        val o = table(s, dir, "orders")
          .join(broadcast(keys("customer", "c_custkey")
              .withColumn("ok_c", lit(1))),
            col("o_custkey") === col("c_custkey"), "left")
          .agg(count(lit(1)).as("n"),
            sum(when(col("ok_c").isNull, 1).otherwise(0)).as("fk_cust"),
            sum(when(col("o_totalprice") <= 0, 1).otherwise(0)).as("dom_tp"))
          .select(explode(map(
            lit("orders_custkey_fk"), col("fk_cust"),
            lit("orders_totalprice_positive"), col("dom_tp")))
            .as(Seq("check_name", "n_violations")), col("n"))
        def dimNation(t: String, k: String, name: String) =
          table(s, dir, t)
            .join(broadcast(keys("nation", "n_nationkey")
                .withColumn("ok_n", lit(1))),
              col(k) === col("n_nationkey"), "left")
            .agg(count(lit(1)).as("n"),
              sum(when(col("ok_n").isNull, 1).otherwise(0)).as("v"))
            .select(lit(name).as("check_name"), col("v").as("n_violations"),
              col("n"))
        li.unionByName(o)
          .unionByName(dimNation("customer", "c_nationkey",
            "customer_nationkey_fk"))
          .unionByName(dimNation("supplier", "s_nationkey",
            "supplier_nationkey_fk"))
          .select(col("check_name"), col("n").as("n_rows"),
            col("n_violations").cast("long").as("n_violations"),
            expr("n_violations * 10000 div n").as("violation_bps"))
          .orderBy("check_name")
      },
      Some(
        """WITH li AS (SELECT count(*) AS n,
          |   sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS fk_orders,
          |   sum(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END) AS fk_part,
          |   sum(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END) AS fk_supplier,
          |   sum(CASE WHEN l.l_quantity <= 0 THEN 1 ELSE 0 END) AS dom_qty,
          |   sum(CASE WHEN l.l_discount < 0 OR l.l_discount > 1 THEN 1 ELSE 0 END) AS dom_disc
          |   FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
          |   LEFT JOIN part p ON l.l_partkey = p.p_partkey
          |   LEFT JOIN supplier s ON l.l_suppkey = s.s_suppkey),
          | o AS (SELECT count(*) AS n,
          |   sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS fk_cust,
          |   sum(CASE WHEN o.o_totalprice <= 0 THEN 1 ELSE 0 END) AS dom_tp
          |   FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey),
          | cn AS (SELECT count(*) AS n,
          |   sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS v
          |   FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey),
          | sn AS (SELECT count(*) AS n,
          |   sum(CASE WHEN n.n_nationkey IS NULL THEN 1 ELSE 0 END) AS v
          |   FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey),
          | rows_(check_name, n_rows, n_violations) AS (
          |   SELECT 'lineitem_orderkey_fk', n, fk_orders FROM li
          |   UNION ALL SELECT 'lineitem_partkey_fk', n, fk_part FROM li
          |   UNION ALL SELECT 'lineitem_suppkey_fk', n, fk_supplier FROM li
          |   UNION ALL SELECT 'lineitem_quantity_positive', n, dom_qty FROM li
          |   UNION ALL SELECT 'lineitem_discount_range', n, dom_disc FROM li
          |   UNION ALL SELECT 'orders_custkey_fk', n, fk_cust FROM o
          |   UNION ALL SELECT 'orders_totalprice_positive', n, dom_tp FROM o
          |   UNION ALL SELECT 'customer_nationkey_fk', n, v FROM cn
          |   UNION ALL SELECT 'supplier_nationkey_fk', n, v FROM sn)
          | SELECT check_name, n_rows, CAST(n_violations AS BIGINT) AS n_violations,
          |   CAST(n_violations * 10000 // n_rows AS BIGINT) AS violation_bps
          | FROM rows_ ORDER BY check_name""".stripMargin.replace("\n", ""))),

    // Sequential pattern mining over user event streams: every
    // consecutive event-type trigram (per user, (ts, event_id) order),
    // ranked by global frequency with the distinct-user reach of each
    // pattern — the funnel-discovery primitive (which 3-step paths
    // actually happen) that complements q79's fixed funnel. 100 TB
    // posture: ONE user-key exchange serves both lead() windows, the
    // trigram aggregate is map-side combinable over a tiny pattern
    // domain (|types|^3), and reach rides the same aggregate via an
    // exact distinct over (pattern, user) pre-collapse.
    "q135_event_trigrams" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
        val tri = table(s, dir, "events")
          .select(col("user_id"), col("event_type").as("t1"),
            lead(col("event_type"), 1).over(w).as("t2"),
            lead(col("event_type"), 2).over(w).as("t3"))
          .where(col("t2").isNotNull && col("t3").isNotNull)
          .select(col("user_id"),
            concat_ws(">", col("t1"), col("t2"), col("t3")).as("pattern"))
        tri.groupBy("pattern")
          .agg(count(lit(1)).as("occurrences"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("occurrences").desc, col("pattern"))
          .limit(20)
          .select(col("pattern"), col("occurrences"), col("n_users"))
          .orderBy(col("occurrences").desc, col("pattern"))
      },
      Some(
        """WITH t AS (SELECT user_id, event_type AS t1,
          |   lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
          |   lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
          |   FROM events),
          | tri AS (SELECT user_id, t1 || '>' || t2 || '>' || t3 AS pattern
          |   FROM t WHERE t2 IS NOT NULL AND t3 IS NOT NULL),
          | top AS (SELECT pattern, count(*) AS occurrences,
          |   count(DISTINCT user_id) AS n_users FROM tri GROUP BY 1
          |   ORDER BY occurrences DESC, pattern LIMIT 20)
          | SELECT pattern, occurrences, n_users FROM top
          | ORDER BY occurrences DESC, pattern""".stripMargin.replace("\n", ""))),

    // Join-key skew profile — the pre-flight that decides whether a
    // shuffle needs salting or AQE skew-split: per-key counts for
    // lineitem.l_partkey, reduced to the top-10 heaviest keys each
    // annotated with corpus-level concentration stats (key count, total
    // rows, max/avg ratio x100, each key's share in bps). All integer-
    // exact. 100 TB posture: the per-key count is ONE map-side-
    // combinable aggregate over the natural key (the same exchange the
    // production join would make anyway), the stats reduce the per-key
    // frame to one broadcast row, and top-10 is a TakeOrdered — no
    // second fact-table pass, no full sort.
    "q133_skew_profile" -> Q(
      (s, dir) => {
        val cnt = table(s, dir, "lineitem")
          .groupBy(col("l_partkey").as("key"))
          .agg(count(lit(1)).as("cnt"))
        val stats = cnt.agg(count(lit(1)).as("n_keys"),
          sum("cnt").as("total_rows"), max("cnt").as("max_cnt"))
        cnt.crossJoin(broadcast(stats))
          .orderBy(col("cnt").desc, col("key"))
          .limit(10)
          .select(col("key"), col("cnt"), col("n_keys"), col("total_rows"),
            expr("max_cnt * 100 * n_keys div total_rows")
              .as("max_over_avg_x100"),
            expr("cnt * 10000 div total_rows").as("share_bps"))
          .orderBy(col("cnt").desc, col("key"))
      },
      Some(
        """WITH c AS (SELECT l_partkey AS key, count(*) AS cnt
          |   FROM lineitem GROUP BY 1),
          | st AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS total_rows,
          |   max(cnt) AS max_cnt FROM c),
          | top AS (SELECT c.key, c.cnt, st.n_keys, st.total_rows,
          |   CAST(st.max_cnt * 100 * st.n_keys // st.total_rows AS BIGINT) AS max_over_avg_x100,
          |   CAST(c.cnt * 10000 // st.total_rows AS BIGINT) AS share_bps
          |   FROM c CROSS JOIN st ORDER BY c.cnt DESC, c.key LIMIT 10)
          | SELECT key, cnt, n_keys, total_rows, max_over_avg_x100, share_bps
          | FROM top ORDER BY cnt DESC, key""".stripMargin.replace("\n", ""))),

    // Z-order layout planning: each lineitem row gets a 16-bit Morton
    // code interleaving 8-bit buckets of (l_partkey, l_suppkey), rows
    // are binned into 64 equal z-ranges ("files"), and the plan reports
    // each file's row count and per-dimension bucket spans with the
    // covered rectangle area in bps of the full 256x256 domain — the
    // locality metric that shows why a z-sorted layout serves BOTH
    // part- and supplier-predicates (each file covers a compact ~32x32
    // rectangle instead of a full-width stripe). The interleave is 16
    // codegen'd shift/mask terms, exact in both engines. 100 TB
    // posture: the z-value is a per-row projection; binning is ONE
    // aggregate by file id — the real rewrite would range-partition by
    // z with these same bounds, so the plan is also its shuffle spec.
    "q136_zorder_layout" -> Q(
      (s, dir) => {
        val interleave = (0 until 8).map(i =>
          s"(shiftleft(cast(shiftright(px, $i) & 1 as bigint), ${2 * i})" +
            s" + shiftleft(cast(shiftright(sx, $i) & 1 as bigint), ${2 * i + 1}))")
          .mkString(" + ")
        table(s, dir, "lineitem")
          .select((col("l_partkey") % 256).cast("int").as("px"),
            (col("l_suppkey") % 256).cast("int").as("sx"))
          .withColumn("z", expr(interleave))
          .withColumn("file_id", expr("z div 1024").cast("int"))
          .groupBy("file_id")
          .agg(count(lit(1)).as("n_rows"),
            min("px").as("px_min"), max("px").as("px_max"),
            min("sx").as("sx_min"), max("sx").as("sx_max"))
          .withColumn("rect_bps", expr(
            "(px_max - px_min + 1) * (sx_max - sx_min + 1) * 10000 div 65536"))
          .orderBy("file_id")
      },
      Some {
        val interleave = (0 until 8).map(i =>
          s"(((px >> $i) & 1)::BIGINT << ${2 * i}" +
            s") + (((sx >> $i) & 1)::BIGINT << ${2 * i + 1})")
          .mkString(" + ")
        s"""WITH b AS (SELECT CAST(l_partkey % 256 AS INT) AS px,
          |   CAST(l_suppkey % 256 AS INT) AS sx FROM lineitem),
          | z AS (SELECT px, sx, $interleave AS z FROM b),
          | f AS (SELECT px, sx, CAST(z // 1024 AS INT) AS file_id FROM z)
          | SELECT file_id, count(*) AS n_rows,
          |   min(px) AS px_min, max(px) AS px_max,
          |   min(sx) AS sx_min, max(sx) AS sx_max,
          |   CAST((max(px) - min(px) + 1) * (max(sx) - min(sx) + 1) * 10000 // 65536 AS BIGINT) AS rect_bps
          | FROM f GROUP BY 1 ORDER BY file_id""".stripMargin.replace("\n", "")
      }),

    // Peak concurrent sessions per hour — capacity-planning sweep over
    // the 5-minute-gap sessions of q50: each session is an interval
    // [start, end] in whole epoch seconds; per hour we take the
    // carried-in active count (sessions begun earlier and still open)
    // plus the max prefix of a +1/-1 boundary sweep ordered (t, +1
    // first — a session ending the instant another starts counts as
    // concurrent). 100 TB posture: the global sweep is PARTITIONED by
    // hour (the classic single-ordering trap avoided): per-session hour
    // fanout is bounded by session length, every window is per-hour,
    // and carried-in counts come from the same exploded frame — no
    // total-order window anywhere.
    "q134_peak_concurrency" -> Q(
      (s, dir) => {
        val wu = Window.partitionBy("user_id").orderBy("t")
        val sess = table(s, dir, "events")
          .select(col("user_id"), unix_timestamp(col("ts")).as("t"))
          .withColumn("prev", lag(col("t"), 1).over(wu))
          .withColumn("new_s",
            when(col("prev").isNull || col("t") - col("prev") >= 300, 1)
              .otherwise(0))
          .withColumn("sid", sum("new_s").over(
            wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sid")
          .agg(min("t").as("st"), max("t").as("en"))
        val sh = sess.select(col("st"), col("en"),
          explode(sequence(expr("st div 3600"), expr("en div 3600")))
            .as("hr"))
        val base = sh.groupBy("hr")
          .agg(count(lit(1)).as("n_overlapping"),
            sum(when(col("st") < col("hr") * 3600, 1).otherwise(0))
              .as("base_active"))
        val evts = sh.where(expr("st div 3600") === col("hr"))
          .select(col("hr"), col("st").as("t"), lit(1).as("delta"))
          .unionAll(sh.where(expr("en div 3600") === col("hr"))
            .select(col("hr"), col("en").as("t"), lit(-1).as("delta")))
        val wh = Window.partitionBy("hr")
          .orderBy(col("t"), col("delta").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val peaks = evts.withColumn("run", sum("delta").over(wh))
          .groupBy("hr").agg(max("run").as("max_run"))
        base.join(peaks, Seq("hr"), "left")
          .select((col("hr") * 3600).as("hour_epoch"), col("n_overlapping"),
            col("base_active"),
            (col("base_active") +
              greatest(coalesce(col("max_run"), lit(0L)), lit(0L)))
              .as("peak_concurrency"))
          .orderBy("hour_epoch")
      },
      Some(
        """WITH e AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t FROM events),
          | o AS (SELECT user_id, t,
          |   CASE WHEN lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
          |     OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) >= 300
          |   THEN 1 ELSE 0 END AS new_s FROM e),
          | g AS (SELECT user_id, t, sum(new_s) OVER (PARTITION BY user_id ORDER BY t
          |   ROWS UNBOUNDED PRECEDING) AS sid FROM o),
          | sess AS (SELECT user_id, sid, min(t) AS st, max(t) AS en FROM g GROUP BY 1, 2),
          | sh AS (SELECT st, en, unnest(generate_series(st // 3600, en // 3600)) AS hr FROM sess),
          | base AS (SELECT hr, count(*) AS n_overlapping,
          |   sum(CASE WHEN st < hr * 3600 THEN 1 ELSE 0 END) AS base_active FROM sh GROUP BY 1),
          | ev2 AS (SELECT hr, st AS t, 1 AS delta FROM sh WHERE st // 3600 = hr
          |   UNION ALL SELECT hr, en, -1 FROM sh WHERE en // 3600 = hr),
          | run AS (SELECT hr, sum(delta) OVER (PARTITION BY hr ORDER BY t, delta DESC
          |   ROWS UNBOUNDED PRECEDING) AS run FROM ev2),
          | pk AS (SELECT hr, max(run) AS max_run FROM run GROUP BY 1)
          | SELECT hr * 3600 AS hour_epoch, n_overlapping,
          |   CAST(base_active AS BIGINT) AS base_active,
          |   CAST(base_active + greatest(coalesce(max_run, 0), 0) AS BIGINT) AS peak_concurrency
          | FROM base LEFT JOIN pk USING (hr) ORDER BY hour_epoch"""
          .stripMargin.replace("\n", ""))),

    // Inverted-index postings for the 100 highest-df terms: per term,
    // document frequency, total term frequency, the first 10 doc_ids of
    // the sorted posting list, and an order-independent checksum over
    // the FULL posting (sum of distinct doc_ids) standing in for the
    // list a real index would write. 100 TB posture: per-group state is
    // bounded — the head is selected by a per-term row_number BEFORE
    // any collect (never collect-then-slice, which would buffer a
    // stopword's full posting), df/tf/checksum are plain combinable
    // aggregates, and top-100 is a TakeOrdered.
    // Rolling-quota audit: for each event, the count of that user's
    // events in the trailing 3600-second window (RANGE frame on epoch
    // seconds — the frame is TIME, not row count, so burst density is
    // measured correctly through quiet gaps), then per user the peak
    // rolling rate and how many events landed in an already-occupied
    // hour window (quota 1/hour — sized to this corpus's ~0.1/hour
    // per-user base rate so the flag isolates genuine bursts) —
    // the rate-limiter post-mortem every ingestion edge runs. Integer
    // end-to-end. 100 TB posture: ONE user-key exchange carries the
    // range window and the per-user aggregate (q113's shared-exchange
    // discipline).
    "q154_rolling_quota" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts_s")
          .rangeBetween(-3599L, Window.currentRow)
        table(s, dir, "events")
          .select(col("user_id"),
            expr("unix_micros(ts) div 1000000").as("ts_s"))
          .withColumn("rolling_1h", count(lit(1)).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            max("rolling_1h").as("peak_1h_rate"),
            sum(when(col("rolling_1h") > 1, 1L).otherwise(0L))
              .as("n_over_quota"))
          .withColumn("over_quota_bps",
            expr("n_over_quota * 10000 div n_events"))
          .orderBy("user_id")
      },
      Some(
        """WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS ts_s FROM events),
          | r AS (SELECT user_id,
          |     count(*) OVER (PARTITION BY user_id ORDER BY ts_s
          |       RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS rolling_1h
          |   FROM e)
          | SELECT user_id, count(*) AS n_events,
          |   CAST(max(rolling_1h) AS BIGINT) AS peak_1h_rate,
          |   CAST(sum(CASE WHEN rolling_1h > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_over_quota,
          |   CAST(sum(CASE WHEN rolling_1h > 1 THEN 1 ELSE 0 END) * 10000
          |     // count(*) AS BIGINT) AS over_quota_bps
          | FROM r GROUP BY 1 ORDER BY user_id""".stripMargin
          .replace("\n", ""))),

    // Consistent-hash reshard plan: the q150 corpus moves from 16 to 20
    // hash shards; the plan reports, per (old, new) shard cell, how
    // many docs move and the corpus-wide moved share in basis points —
    // the cost estimate a storage layer wants BEFORE committing a
    // topology change. With plain mod-sharding a doc stays only when
    // h % 16 == h % 20, i.e. on 16 of the lcm(16,20)=80 residues, so
    // the expected moved share is 1 - 16/80 = 80%; the report makes
    // that cost visible
    // against the ~20% a consistent-hash ring would move — and the
    // motion matrix shows exactly which cells pay it. 100 TB posture:
    // one map-side-combinable aggregate over a narrow projection; the
    // matrix is <= 16x20 rows.
    "q155_reshard_plan" -> Q(
      (s, dir) => {
        val h = DedupOps.md5Long60(col("doc_id").cast("string"))
        val cells = table(s, dir, "documents")
          .select((h % 16).cast("int").as("old_shard"),
            (h % 20).cast("int").as("new_shard"))
          .groupBy("old_shard", "new_shard")
          .agg(count(lit(1)).as("n_docs"))
        val tot = Window.partitionBy(lit(0)).rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)
        cells
          .withColumn("is_moved",
            (col("old_shard") =!= col("new_shard")).cast("int"))
          .withColumn("moved_docs",
            sum(when(col("old_shard") =!= col("new_shard"), col("n_docs"))
              .otherwise(0L)).over(tot))
          .withColumn("total_docs", sum("n_docs").over(tot))
          .select(col("old_shard"), col("new_shard"), col("n_docs"),
            col("is_moved"),
            expr("moved_docs * 10000 div total_docs").as("moved_bps"))
          .orderBy("old_shard", "new_shard")
      },
      Some(
        """WITH c AS (SELECT
          |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 16 AS INT) AS old_shard,
          |   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 20 AS INT) AS new_shard
          | FROM documents),
          | g AS (SELECT old_shard, new_shard, count(*) AS n_docs FROM c GROUP BY 1, 2)
          | SELECT old_shard, new_shard, n_docs,
          |   CAST(old_shard <> new_shard AS INT) AS is_moved,
          |   CAST(sum(CASE WHEN old_shard <> new_shard THEN n_docs ELSE 0 END) OVER ()
          |     * 10000 // sum(n_docs) OVER () AS BIGINT) AS moved_bps
          | FROM g ORDER BY old_shard, new_shard""".stripMargin
          .replace("\n", ""))),

    // k-core decomposition (k=3) of the co-purchase graph by iterative
    // peeling: drop every vertex with degree < 3, recompute degrees,
    // repeat — 4 rounds, each checkpointed so no round replays the
    // earlier ones (lineage truncation keeps the loop's plan flat),
    // with the oracle unrolling the same 4 rounds as chained CTEs.
    // 4 rounds reaches the fixpoint on the gate corpora — the spec
    // asserts a 5th round changes nothing, so every surviving
    // vertex has core degree >= 3. The k-core is the standard
    // "dense-enough neighborhood" filter before community detection or
    // embedding training on a 100 TB interaction graph: each round is
    // two semi-joins + one count per vertex, all equi-partitioned.
    "q152_kcore" -> Q(
      (s, dir) => {
        val pairs0 = coPurchasePairs(s, dir)
        val edges0 = pairs0.select(col("u").as("a"), col("v").as("b"))
          .unionAll(pairs0.select(col("v").as("a"), col("u").as("b")))
          .localCheckpoint(eager = true)
        // Only round 0 reads deg0; round 0's checkpoint materializes it.
        val deg0 = edges0.groupBy("a").agg(count(lit(1)).as("deg"))
        // FLAT peeling (r15): every round filters the ONE checkpointed
        // edge list by the current alive set instead of threading a
        // lazily nested semi-join chain — alive shrinks monotonically
        // (deg only decreases), so e0 filtered by alive_r IS round r's
        // edge set, and round r no longer recomputes rounds 1..r-1
        // (the old lazy chain made round r's degree aggregate replay r
        // semi-join layers: 1+2+3+4 = 10 passes over e0 where this
        // shape pays exactly 4). Same kcorePeel operator, same
        // 4-round fixpoint, identical d4 output.
        val deg = Fixpoint.iterate("kcore", deg0, 4) {
          (d, _) => kcorePeel(edges0, d, 3)
            .groupBy("a").agg(count(lit(1)).as("deg"))
        }.frame
        deg.select(col("a").as("part"), col("deg").as("core_deg"))
          .orderBy("part")
      },
      Some {
        val rounds = (1 to 4).map(r =>
          s"e$r AS (SELECT e.a, e.b FROM e${r - 1} e" +
            s" JOIN d${r - 1} da ON da.a = e.a AND da.deg >= 3" +
            s" JOIN d${r - 1} db ON db.a = e.b AND db.deg >= 3), " +
            s"d$r AS (SELECT a, count(*) AS deg FROM e$r GROUP BY 1)")
          .mkString(", ")
        s"""WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          | pr AS (SELECT DISTINCT a.p AS u, b.p AS v FROM li a JOIN li b
          |   ON a.o = b.o AND a.p < b.p),
          | e0 AS (SELECT u AS a, v AS b FROM pr UNION ALL SELECT v, u FROM pr),
          | d0 AS (SELECT a, count(*) AS deg FROM e0 GROUP BY 1),
          | $rounds
          | SELECT a AS part, deg AS core_deg FROM d4 ORDER BY part"""
          .stripMargin.replace("\n", "")
      }),

    // Truncated exponential moving average, INTEGER-EXACT: with
    // alpha = 1/2, ewma_t = sum_{i=0..15} x_{t-i} / 2^(i+1); scaling by
    // 2^16 makes every term a whole number (x in cents times a power of
    // two), so the gated column is a BIGINT with no float accumulation
    // anywhere — the q113/q122 discipline applied to the one smoothing
    // statistic every monitoring pipeline wants. The 16-step truncation
    // bounds both the error (2^-16 of the tail) and the window frame.
    // 100 TB posture: ONE user-key exchange; all 16 lags ride a single
    // window spec over (ts, event_id).
    "q153_ewma_activity" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_s"), col("event_id"))
        val ewma = (0 until 16).map(i =>
            coalesce(lag(col("cents"), i).over(w), lit(0L)) *
              lit(1L << (15 - i)))
          .reduce(_ + _)
        table(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts) div 1000000").as("ts_s"),
            expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
          .withColumn("ewma_x65536", ewma)
          .orderBy("user_id", "ts_s", "event_id")
      },
      Some {
        val terms = (0 until 16).map(i =>
          s"coalesce(lag(cents, $i) OVER (PARTITION BY user_id ORDER BY ts_s, event_id), 0) * ${1L << (15 - i)}")
          .mkString(" + ")
        s"""WITH e AS (SELECT user_id, event_id,
          |   epoch_us(ts) // 1000000 AS ts_s,
          |   CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
          |   FROM events)
          | SELECT user_id, event_id, ts_s, cents,
          |   CAST($terms AS BIGINT) AS ewma_x65536
          | FROM e ORDER BY user_id, ts_s, event_id""".stripMargin
          .replace("\n", "")
      }),

    // Zone-map effectiveness pre-flight: replay q136's z-order file
    // layout (64 files, per-file px/sx min-max zone maps), then sweep
    // 16 point probes `px = p` and report, per probe, how many files
    // the zone maps CANNOT skip, how many rows those files hold, the
    // skip rates in basis points, and the probe's exact selectivity —
    // the report that decides whether a z-order rewrite pays for
    // itself before anyone rewrites 100 TB. Posture: the file-stat
    // frame IS metadata (64 rows) — the probe sweep is a broadcast
    // nested-loop over it; the only fact-table work is the one binned
    // groupBy(px) for exact selectivities (256 rows, map-side
    // combinable).
    "q146_zone_skip_stats" -> Q(
      (s, dir) => {
        val interleave = (0 until 8).map(i =>
          s"(shiftleft(cast(shiftright(px, $i) & 1 as bigint), ${2 * i})" +
            s" + shiftleft(cast(shiftright(sx, $i) & 1 as bigint), ${2 * i + 1}))")
          .mkString(" + ")
        val binned = table(s, dir, "lineitem")
          .select((col("l_partkey") % 256).cast("int").as("px"),
            (col("l_suppkey") % 256).cast("int").as("sx"))
        val files = binned
          .withColumn("z", expr(interleave))
          .withColumn("file_id", expr("z div 1024").cast("int"))
          .groupBy("file_id")
          .agg(count(lit(1)).as("n_rows"),
            min("px").as("px_min"), max("px").as("px_max"))
          // 64-row stat frame feeds the probe join AND the totals —
          // checkpoint so the lineitem binning scan runs once for both
          .localCheckpoint(eager = true)
        val byPx = binned.groupBy("px")
          .agg(count(lit(1)).as("exact_rows"))
        val probes = s.range(0, 256, 16)
          .select(col("id").cast("int").as("p"))
        val tots = files.agg(count(lit(1)).as("n_files"),
          sum("n_rows").as("rows_total"))
        probes
          .join(broadcast(files),
            col("px_min") <= col("p") && col("p") <= col("px_max"), "left")
          .groupBy("p")
          .agg(count(col("file_id")).as("n_files_scanned"),
            coalesce(sum("n_rows"), lit(0L)).as("n_rows_scanned"))
          .join(broadcast(byPx), col("p") === col("px"), "left")
          .crossJoin(broadcast(tots))
          .select(col("p"), col("n_files_scanned"), col("n_rows_scanned"),
            expr("(n_files - n_files_scanned) * 10000 div n_files")
              .as("files_skip_bps"),
            expr("(rows_total - n_rows_scanned) * 10000 div rows_total")
              .as("rows_skip_bps"),
            coalesce(col("exact_rows"), lit(0L)).as("exact_rows"))
          .orderBy("p")
      },
      Some {
        val interleave = (0 until 8).map(i =>
          s"(((px >> $i) & 1)::BIGINT << ${2 * i}" +
            s") + (((sx >> $i) & 1)::BIGINT << ${2 * i + 1})")
          .mkString(" + ")
        s"""WITH b AS (SELECT CAST(l_partkey % 256 AS INT) AS px,
          |   CAST(l_suppkey % 256 AS INT) AS sx FROM lineitem),
          | f AS (SELECT CAST(($interleave) // 1024 AS INT) AS file_id,
          |   count(*) AS n_rows, min(px) AS px_min, max(px) AS px_max
          |   FROM b GROUP BY 1),
          | e AS (SELECT px, count(*) AS exact_rows FROM b GROUP BY 1),
          | p AS (SELECT CAST(unnest(generate_series(0, 255, 16)) AS INT) AS p),
          | t AS (SELECT count(*) AS n_files, CAST(sum(n_rows) AS BIGINT) AS rows_total FROM f),
          | sc AS (SELECT p.p, count(f.file_id) AS n_files_scanned,
          |   CAST(coalesce(sum(f.n_rows), 0) AS BIGINT) AS n_rows_scanned
          |   FROM p LEFT JOIN f ON f.px_min <= p.p AND p.p <= f.px_max GROUP BY 1)
          | SELECT sc.p, sc.n_files_scanned, sc.n_rows_scanned,
          |   CAST((t.n_files - sc.n_files_scanned) * 10000 // t.n_files AS BIGINT) AS files_skip_bps,
          |   CAST((t.rows_total - sc.n_rows_scanned) * 10000 // t.rows_total AS BIGINT) AS rows_skip_bps,
          |   CAST(coalesce(e.exact_rows, 0) AS BIGINT) AS exact_rows
          | FROM sc LEFT JOIN e ON sc.p = e.px CROSS JOIN t ORDER BY p"""
          .stripMargin.replace("\n", "")
      }),

    // posting_head is rendered as a comma-joined STRING, not an
    // ArrayType column: the driver's oracle harness compares frames via
    // pandas, which cannot sort/hash ndarray cells (q76 hit the same
    // wall and set the concat_ws precedent). Sort happens on the LONGs
    // (numeric order), then each element casts to string — never
    // sort-after-cast, which would order "10" before "2".
    "q137_inverted_index" -> Q(
      (s, dir) => {
        val tok = table(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .where(col("term") =!= "")
        val dist = tok.select("term", "doc_id").distinct()
        val wr = Window.partitionBy("term").orderBy("doc_id")
        val heads = dist.withColumn("rn", row_number().over(wr))
          .where(col("rn") <= 10)
          .groupBy("term")
          .agg(expr(
            "array_join(transform(sort_array(collect_list(doc_id)), " +
              "x -> cast(x as string)), ',')").as("posting_head"))
        val stats = dist.groupBy("term")
          .agg(count(lit(1)).as("df"), sum("doc_id").as("posting_checksum"))
        val tf = tok.groupBy("term").agg(count(lit(1)).as("tf"))
        stats.join(tf, "term").join(heads, "term")
          .orderBy(col("df").desc, col("term"))
          .limit(100)
          .select(col("term"), col("df"), col("tf"),
            col("posting_checksum"), col("posting_head"))
          .orderBy(col("df").desc, col("term"))
      },
      Some(
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          |   FROM documents),
          | tk AS (SELECT doc_id, term FROM tok WHERE term <> ''),
          | dist AS (SELECT DISTINCT term, doc_id FROM tk),
          | hd AS (SELECT term, array_to_string(list(doc_id ORDER BY doc_id), ',') AS posting_head FROM
          |   (SELECT term, doc_id, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
          |    FROM dist) WHERE rn <= 10 GROUP BY term),
          | st AS (SELECT term, count(*) AS df,
          |   CAST(sum(doc_id) AS BIGINT) AS posting_checksum FROM dist GROUP BY term),
          | tf AS (SELECT term, count(*) AS tf FROM tk GROUP BY term),
          | top AS (SELECT st.term, st.df, tf.tf, st.posting_checksum, hd.posting_head
          |   FROM st JOIN tf USING (term) JOIN hd USING (term)
          |   ORDER BY st.df DESC, st.term LIMIT 100)
          | SELECT term, df, tf, posting_checksum, posting_head FROM top
          | ORDER BY df DESC, term""".stripMargin.replace("\n", ""))),

    // Posting-list compression pre-flight: the delta-gap bitwidth
    // histogram that sizes q137's inverted index BEFORE choosing a
    // codec (varint/PForDelta budgets are a direct read-off). Per
    // (term, doc_id) posting in doc_id order, the delta gap is
    // doc_id - lag(doc_id) (first posting stored as doc_id + 1, so
    // every gap is >= 1), and its bitwidth is length(bin(gap)) — the
    // exact integer bit count in both engines. Rows out: one per
    // bitwidth with gap count, total encoded bits, and the share of
    // the encoded size in bps — flat-64 comparison is n_gaps * 64.
    // One distinct + one term-key window; frames after the histogram
    // collapse are <= 64 rows.
    "q202_posting_gap_bits" -> Q(
      (s, dir) => {
        val dist = table(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .where(col("term") =!= "")
          .select("term", "doc_id").distinct()
        val wr = Window.partitionBy("term").orderBy("doc_id")
        val gaps = dist
          .select(col("term"),
            coalesce(col("doc_id") - lag("doc_id", 1).over(wr),
              col("doc_id") + 1).as("g"))
          .select(expr("length(bin(g))").cast("bigint").as("bitwidth"))
        val hist = gaps.groupBy("bitwidth")
          .agg(count(lit(1)).as("n_gaps"))
          .select(col("bitwidth"), col("n_gaps"),
            (col("bitwidth") * col("n_gaps")).as("bits"))
        val tot = hist.agg(sum("bits").as("tb"))
        hist.crossJoin(tot)
          .select(col("bitwidth"), col("n_gaps"), col("bits"),
            expr("bits * 10000 div tb").as("bits_share_bps"))
          .orderBy("bitwidth")
      },
      Some(
        """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
          |   FROM documents),
          | dist AS (SELECT DISTINCT term, doc_id FROM tok WHERE term <> ''),
          | gaps AS (SELECT CAST(length(bin(coalesce(doc_id - lag(doc_id) OVER
          |     (PARTITION BY term ORDER BY doc_id), doc_id + 1))) AS BIGINT) AS bitwidth
          |   FROM dist),
          | hist AS (SELECT bitwidth, CAST(count(*) AS BIGINT) AS n_gaps,
          |     CAST(bitwidth * count(*) AS BIGINT) AS bits
          |   FROM gaps GROUP BY bitwidth),
          | tot AS (SELECT CAST(sum(bits) AS BIGINT) AS tb FROM hist)
          | SELECT bitwidth, n_gaps, bits,
          |   CAST(bits * 10000 // tb AS BIGINT) AS bits_share_bps
          | FROM hist CROSS JOIN tot ORDER BY bitwidth"""
          .stripMargin.replace("\n", ""))),

    // Cross-source content-overlap matrix — the provenance diagnostic a
    // curation pipeline runs before mixing corpora: for every source
    // pair, how many distinct word-3-gram shingles they share, with
    // containment in bps of the smaller source's shingle set (the
    // "does source B re-host source A" signal exact-duplicate checks
    // miss). 100 TB posture: shingles are collapsed to 60-bit hashes
    // BEFORE the distinct (fixed-width shuffle, never strings), the
    // pair join is an equi-join on the shingle whose per-key fanout is
    // bounded by the SOURCE COUNT (<= 20 here, never corpus size), and
    // the matrix domain is C(|sources|, 2) — map-side combinable.
    "q138_source_overlap" -> Q(
      (s, dir) => {
        val ss = table(s, dir, "documents")
          .select(col("source"), split(col("text"), " ").as("w"))
          .where(size(col("w")) >= 3)
          .select(col("source"), explode(expr(
            "transform(sequence(1, size(w) - 2), " +
              "i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', element_at(w, i + 2)))"))
            .as("sh"))
          .select(col("source"), DedupOps.md5Long60(col("sh")).as("h"))
          .distinct()
          .localCheckpoint(eager = true)
        val cnt = ss.groupBy("source").agg(count(lit(1)).as("n"))
        // Checkpoint once (the distinct fed both join sides and cnt —
        // three recomputes of the shingle scan) and REPARTITION_BY_NUM
        // on the join key before the exploding self-join, as in
        // jaccardPairsFromHashed (r15).
        val ssP = PinnedRepartition.repartitionByConf(ss, col("h"))
        val shared = ssP.as("a")
          .join(ssP.as("b"),
            col("a.h") === col("b.h") && col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
          .agg(count(lit(1)).as("shared_shingles"))
        shared
          .join(broadcast(cnt.select(col("source").as("src_a"),
            col("n").as("n_a"))), "src_a")
          .join(broadcast(cnt.select(col("source").as("src_b"),
            col("n").as("n_b"))), "src_b")
          .select(col("src_a"), col("src_b"), col("shared_shingles"),
            col("n_a"), col("n_b"),
            expr("shared_shingles * 10000 div least(n_a, n_b)")
              .as("containment_bps"))
          .orderBy(col("shared_shingles").desc, col("src_a"), col("src_b"))
      },
      Some(
        """WITH s0 AS (SELECT source, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
          | i0 AS (SELECT source, w, unnest(generate_series(1, len(w) - 2)) AS i FROM s0),
          | ss AS (SELECT DISTINCT source, ('0x' || substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 15))::BIGINT AS h FROM i0),
          | cnt AS (SELECT source, count(*) AS n FROM ss GROUP BY 1),
          | sh AS (SELECT a.source AS src_a, b.source AS src_b, count(*) AS shared_shingles
          |   FROM ss a JOIN ss b ON a.h = b.h AND a.source < b.source GROUP BY 1, 2)
          | SELECT sh.src_a, sh.src_b, sh.shared_shingles, ca.n AS n_a, cb.n AS n_b,
          |   CAST(sh.shared_shingles * 10000 // least(ca.n, cb.n) AS BIGINT) AS containment_bps
          | FROM sh JOIN cnt ca ON sh.src_a = ca.source
          | JOIN cnt cb ON sh.src_b = cb.source
          | ORDER BY shared_shingles DESC, src_a, src_b"""
          .stripMargin.replace("\n", ""))),

    // Mergeable-histogram quantiles — the sketch-shaped alternative to
    // q48's exact median: per order priority, bucket o_totalprice into
    // $10k-wide bins (a histogram any partition can build locally and
    // any reducer can merge by addition), then read p50/p90/p99 as the
    // lower bound of the first bucket whose cumulative count crosses
    // the rank — exact integers end to end, so the approximation is in
    // the DEFINITION (bucket resolution), not the engine. 100 TB
    // posture: the histogram is the only fact-table aggregate
    // (map-side combinable, |priorities| x |buckets| cells); the
    // quantile read-out runs on that tiny frame under one
    // priority-key window.
    "q140_hist_quantiles" -> Q(
      (s, dir) => {
        val hist = table(s, dir, "orders")
          .select(col("o_orderpriority"),
            floor(col("o_totalprice").cast("double") / 10000.0)
              .cast("long").as("bucket"))
          .groupBy("o_orderpriority", "bucket")
          .agg(count(lit(1)).as("cnt"))
        val wc = Window.partitionBy("o_orderpriority").orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = Window.partitionBy("o_orderpriority")
        val cum = hist
          .withColumn("cum", sum("cnt").over(wc))
          .withColumn("n", sum("cnt").over(wn))
        def pick(q: Int) =
          min(when(col("cum") * 100 >= col("n") * q, col("bucket") * 10000L))
            .as(s"p${q}_lo")
        cum.groupBy("o_orderpriority")
          .agg(max("n").as("n_orders"), count(lit(1)).as("n_buckets"),
            pick(50), pick(90), pick(99))
          .orderBy("o_orderpriority")
      },
      Some(
        """WITH h AS (SELECT o_orderpriority,
          |   CAST(floor(CAST(o_totalprice AS DOUBLE) / 10000.0) AS BIGINT) AS bucket,
          |   count(*) AS cnt FROM orders GROUP BY 1, 2),
          | c AS (SELECT o_orderpriority, bucket, cnt,
          |   sum(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bucket
          |     ROWS UNBOUNDED PRECEDING) AS cum,
          |   sum(cnt) OVER (PARTITION BY o_orderpriority) AS n FROM h)
          | SELECT o_orderpriority, CAST(max(n) AS BIGINT) AS n_orders,
          |   count(*) AS n_buckets,
          |   CAST(min(CASE WHEN cum * 100 >= n * 50 THEN bucket * 10000 END) AS BIGINT) AS p50_lo,
          |   CAST(min(CASE WHEN cum * 100 >= n * 90 THEN bucket * 10000 END) AS BIGINT) AS p90_lo,
          |   CAST(min(CASE WHEN cum * 100 >= n * 99 THEN bucket * 10000 END) AS BIGINT) AS p99_lo
          | FROM c GROUP BY 1 ORDER BY o_orderpriority"""
          .stripMargin.replace("\n", ""))),

    // Neighborhood-similarity top-20 over the co-purchase graph: for
    // each EDGE (u, v), the Jaccard of the two endpoints' full neighbor
    // sets — the "are these two parts substitutes or complements"
    // signal a recommender reads off an interaction graph. Restricting
    // the score to adjacent pairs bounds the work at E scores (the
    // all-pairs variant is the wedge explosion q129 exists to avoid);
    // common neighbors come from array_intersect over the same
    // per-node sorted adjacency arrays as q129 — one codegen stage per
    // edge row, no three-way join. Degree floor >= 3 keeps the
    // leaderboard off trivial degree-1 ties. Both adjacency joins are
    // broadcasts, as in q129; the third consumer of the shared
    // coPurchasePairs base stage.
    "q158_neighbor_similarity" -> Q(
      (s, dir) => {
        val pairs = coPurchasePairs(s, dir)
        val e = pairs.select(col("u").as("a"), col("v").as("b"))
          .unionAll(pairs.select(col("v").as("a"), col("u").as("b")))
        val adj = e.groupBy(col("a"))
          .agg(sort_array(collect_list(col("b"))).as("nbrs"),
            count(lit(1)).as("deg"))
          .localCheckpoint(eager = true)
        pairs
          .join(broadcast(adj.select(col("a").as("ju"),
            col("nbrs").as("nu"), col("deg").as("du"))), col("u") === col("ju"))
          .join(broadcast(adj.select(col("a").as("jv"),
            col("nbrs").as("nv"), col("deg").as("dv"))), col("v") === col("jv"))
          .where(col("du") >= 3 && col("dv") >= 3)
          .select(col("u"), col("v"), col("du"), col("dv"),
            graft.functions.SortedIntersect
              .interCountBig(col("nu"), col("nv")).as("common"))
          .where(col("common") >= 1)
          .withColumn("jaccard_bps",
            expr("common * 10000 div (du + dv - common)"))
          .orderBy(col("jaccard_bps").desc, col("u"), col("v"))
          .limit(20)
          .select("u", "v", "du", "dv", "common", "jaccard_bps")
          .orderBy(col("jaccard_bps").desc, col("u"), col("v"))
      },
      Some(
        """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          | pr AS (SELECT DISTINCT a.p AS u, b.p AS v FROM li a JOIN li b
          |   ON a.o = b.o AND a.p < b.p),
          | e AS (SELECT u AS a, v AS b FROM pr UNION ALL SELECT v, u FROM pr),
          | d AS (SELECT a, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
          | inter AS (SELECT pr.u, pr.v, CAST(count(*) AS BIGINT) AS common
          |   FROM pr JOIN e eu ON eu.a = pr.u JOIN e ev ON ev.a = pr.v AND ev.b = eu.b
          |   GROUP BY 1, 2),
          | j AS (SELECT i.u, i.v, du.deg AS du, dv.deg AS dv, i.common,
          |     CAST(i.common * 10000 // (du.deg + dv.deg - i.common) AS BIGINT) AS jaccard_bps
          |   FROM inter i JOIN d du ON du.a = i.u JOIN d dv ON dv.a = i.v
          |   WHERE du.deg >= 3 AND dv.deg >= 3)
          | SELECT u, v, du, dv, common, jaccard_bps FROM j
          | ORDER BY jaccard_bps DESC, u, v LIMIT 20"""
          .stripMargin.replace("\n", ""))),

    // Changelog compaction (CDC net effect): treat the event stream as
    // a keyed change log — event_type 'error' is a tombstone (DELETE),
    // everything else an UPSERT carrying the row's new value — and
    // materialize the net state: one row per user whose LAST change is
    // an upsert, with the surviving value, the change count, and how
    // many tombstones the history absorbed. This is the merge-on-read
    // compaction every CDC lake table (Hudi/Iceberg/Delta-style) runs;
    // last-writer-wins is decided by (ts, event_id) so replays are
    // deterministic. Values ride as integer cents. 100 TB posture: ONE
    // user-key exchange carries the last-writer window and the per-user
    // counts (q113's shared-exchange discipline); the corpus never
    // shuffles twice and deleted keys drop before the output sort.
    "q160_cdc_net_state" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts_s").desc, col("event_id").desc)
        table(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            expr("unix_micros(ts) div 1000000").as("ts_s"),
            expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"),
            when(col("event_type") === "error", lit(1))
              .otherwise(lit(0)).as("is_delete"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n_changes", count(lit(1)).over(
            Window.partitionBy("user_id")))
          .withColumn("n_deletes", sum("is_delete").over(
            Window.partitionBy("user_id")))
          .where(col("rn") === 1 && col("is_delete") === 0)
          .select(col("user_id"), col("event_id").as("last_event_id"),
            col("ts_s").as("last_ts_s"), col("cents").as("last_cents"),
            col("n_changes"), col("n_deletes"))
          .orderBy("user_id")
      },
      Some(
        """WITH c AS (SELECT user_id, event_id,
          |     epoch_us(ts) // 1000000 AS ts_s,
          |     CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
          |     CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_delete
          |   FROM events),
          | r AS (SELECT *,
          |     row_number() OVER (PARTITION BY user_id ORDER BY ts_s DESC, event_id DESC) AS rn,
          |     CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_changes,
          |     CAST(sum(is_delete) OVER (PARTITION BY user_id) AS BIGINT) AS n_deletes
          |   FROM c)
          | SELECT user_id, event_id AS last_event_id, ts_s AS last_ts_s,
          |   cents AS last_cents, n_changes, n_deletes
          | FROM r WHERE rn = 1 AND is_delete = 0 ORDER BY user_id"""
          .stripMargin.replace("\n", ""))),

    // Incremental view maintenance audit: the event log splits at its
    // day midpoint into BASE (the materialized aggregate a warehouse
    // already holds) and DELTA (the new partition); per (event_type,
    // day) the maintained view is merge(base_state, delta_state) where
    // the state is the classic summable pair (n, sum_cents), and the
    // audit emits the merged view alongside a full recompute with
    // per-row match flags — the certification run an IVM rollout does
    // before trusting merges over recomputes. All integer (cents).
    // 100 TB posture: this is THE pattern that makes daily aggregation
    // affordable — the delta pass touches only the new partition plus
    // the compact state (day-partition pruning does the rest), never
    // the full history; states merge associatively so any partitioning
    // (or any number of executors) combines to the same answer.
    "q161_ivm_audit" -> Q(
      (s, dir) => {
        val ev = table(s, dir, "events")
          .select(col("event_type"),
            expr("unix_micros(ts) div 86400000000").as("day"),
            expr("cast(floor(value * 100 + 0.5) as bigint)").as("cents"))
        // one-row bounds frame, checkpointed: `tagged` has two consumers
        // (states pass + recompute pass) and an uncheckpointed bounds agg
        // would re-scan the corpus once per consumer
        val mid = ev.agg(expr("(min(day) + max(day)) div 2").as("mid"))
          .localCheckpoint(eager = true)
        val tagged = ev.crossJoin(broadcast(mid))
          .select(col("event_type"), col("day"), col("cents"),
            (col("day") <= col("mid")).as("is_base"))
        // the two partial states (base view + delta batch) come from ONE
        // grouped pass — (event_type, day, is_base) — then merge by the
        // associative combine; the recompute side deliberately re-reads
        // the RAW grain so the audit compares two independent dataflows,
        // not one subtree with itself.
        val states = tagged.groupBy("event_type", "day", "is_base")
          .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
        val merged = states
          .groupBy("event_type", "day")
          .agg(sum("n").as("n_merged"), sum("sum_cents").as("cents_merged"))
        val full = tagged.groupBy("event_type", "day")
          .agg(count(lit(1)).as("n_full"), sum("cents").as("cents_full"))
        merged.join(full, Seq("event_type", "day"))
          .select(col("event_type"), col("day"),
            col("n_merged"), col("cents_merged"),
            (col("n_merged") === col("n_full")).cast("int").as("n_match"),
            (col("cents_merged") === col("cents_full")).cast("int")
              .as("cents_match"))
          .orderBy("event_type", "day")
      },
      Some(
        """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
          |     CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
          | b AS (SELECT (min(day) + max(day)) // 2 AS mid FROM e),
          | t AS (SELECT event_type, day, cents, day <= b.mid AS is_base
          |   FROM e CROSS JOIN b),
          | sb AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
          |     CAST(sum(cents) AS BIGINT) AS sum_cents FROM t WHERE is_base GROUP BY 1, 2),
          | sd AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
          |     CAST(sum(cents) AS BIGINT) AS sum_cents FROM t WHERE NOT is_base GROUP BY 1, 2),
          | m AS (SELECT event_type, day, CAST(sum(n) AS BIGINT) AS n_merged,
          |     CAST(sum(sum_cents) AS BIGINT) AS cents_merged
          |   FROM (SELECT * FROM sb UNION ALL SELECT * FROM sd) GROUP BY 1, 2),
          | f AS (SELECT event_type, day, CAST(count(*) AS BIGINT) AS n_full,
          |     CAST(sum(cents) AS BIGINT) AS cents_full FROM t GROUP BY 1, 2)
          | SELECT m.event_type, m.day, m.n_merged, m.cents_merged,
          |   CAST(m.n_merged = f.n_full AS INT) AS n_match,
          |   CAST(m.cents_merged = f.cents_full AS INT) AS cents_match
          | FROM m JOIN f USING (event_type, day)
          | ORDER BY event_type, day""".stripMargin.replace("\n", ""))),

    // Market-basket association rules over the co-purchase graph: for
    // every part pair sharing >= 2 orders, support / confidence in each
    // direction / lift, top 20 by lift. Unlike coPurchasePairs (the
    // globally-DEDUPED edge set q129/q152/q158 share) this needs the
    // per-order pair COUNT, so it builds its own (order, u, v) frame —
    // same bounded per-order fanout (<= C(width, 2)), map-side
    // combinable counts. Item supports join back equi-keyed (the item
    // frame is dimension-sized; AQE broadcasts it at gate SF, shuffles
    // at catalog scale), the order total rides a broadcast 1-row frame,
    // and the rank window sorts only the thresholded rule frame. lift =
    // (pair * N) / (cnt_u * cnt_v): exact BIGINT products (< 2^53),
    // one IEEE division — bit-identical cross-engine, so the lift-desc
    // rank order agrees.
    "q174_assoc_rules" -> Q(
      (s, dir) => {
        // Fused single-exchange dedup (r16, ProbeR16Cf 3/3 pairwise,
        // 1.5-1.7 -> 1.2-1.5 s; OPTIMIZATION_r16.md, probe code at
        // commit 9916828): repartition(conf, o) + distinct, NO
        // checkpoint — the one pinned exchange is reused by both
        // self-join sides (the checkpointed frame carried no
        // partitioning, so the join re-exchanged BOTH sides and the
        // materialization was a barrier). The same change was probed
        // on q179 (1/3, wash — its per-item rank window reshuffles
        // everything anyway) and q234 (1/3 — its basket frame fans
        // into three heavier self-joins where the checkpoint still
        // pays) and left alone there.
        val li = PinnedRepartition.repartitionByConf(
          table(s, dir, "lineitem")
            .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
          col("o"))
          .distinct()
        val pairCnt = li.alias("a").join(li.alias("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("u"), col("b.p").as("v"))
          .agg(count(lit(1)).as("pair_orders"))
          .where(col("pair_orders") >= 2)
        val itemCnt = li.groupBy(col("p")).agg(count(lit(1)).as("item_orders"))
        val nOrders = li.select("o").distinct()
          .agg(count(lit(1)).as("n_orders"))
        val rules = pairCnt
          .join(itemCnt.select(col("p").as("u"), col("item_orders").as("cnt_u")), "u")
          .join(itemCnt.select(col("p").as("v"), col("item_orders").as("cnt_v")), "v")
          .crossJoin(broadcast(nOrders))
          .select(col("u"), col("v"), col("pair_orders"), col("cnt_u"),
            col("cnt_v"),
            (col("pair_orders").cast("double") / col("n_orders").cast("double"))
              .as("support"),
            (col("pair_orders").cast("double") / col("cnt_u").cast("double"))
              .as("conf_u_v"),
            (col("pair_orders").cast("double") / col("cnt_v").cast("double"))
              .as("conf_v_u"),
            ((col("pair_orders") * col("n_orders")).cast("double") /
              (col("cnt_u") * col("cnt_v")).cast("double")).as("lift"))
        rules.withColumn("rank", row_number().over(
            Window.orderBy(col("lift").desc, col("u"), col("v"))))
          .where(col("rank") <= 20)
          .select(col("rank"), col("u"), col("v"), col("pair_orders"),
            col("cnt_u"), col("cnt_v"), col("support"), col("conf_u_v"),
            col("conf_v_u"), col("lift"))
          .orderBy("rank")
      },
      Some(
        """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          | pc AS (SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS pair_orders
          |   FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          |   GROUP BY 1, 2 HAVING count(*) >= 2),
          | ic AS (SELECT p, CAST(count(*) AS BIGINT) AS item_orders FROM li GROUP BY p),
          | n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM li),
          | rules AS (SELECT u, v, pair_orders, cu.item_orders AS cnt_u,
          |     cv.item_orders AS cnt_v,
          |     CAST(pair_orders AS DOUBLE) / CAST(n_orders AS DOUBLE) AS support,
          |     CAST(pair_orders AS DOUBLE) / CAST(cu.item_orders AS DOUBLE) AS conf_u_v,
          |     CAST(pair_orders AS DOUBLE) / CAST(cv.item_orders AS DOUBLE) AS conf_v_u,
          |     CAST(pair_orders * n_orders AS DOUBLE) /
          |       CAST(cu.item_orders * cv.item_orders AS DOUBLE) AS lift
          |   FROM pc JOIN ic cu ON pc.u = cu.p JOIN ic cv ON pc.v = cv.p, n),
          | rk AS (SELECT CAST(row_number() OVER (ORDER BY lift DESC, u, v) AS INT) AS rank, *
          |   FROM rules)
          | SELECT rank, u, v, pair_orders, cnt_u, cnt_v, support, conf_u_v,
          |   conf_v_u, lift
          | FROM rk WHERE rank <= 20 ORDER BY rank""".stripMargin.replace("\n", ""))),

    // Item-item collaborative filtering: top-3 neighbors per part by
    // co-occurrence cosine pair / (sqrt(cnt_i) * sqrt(cnt_j)). sqrt is
    // IEEE-correctly-rounded in BOTH engines (the one libm-adjacent
    // function that IS in the exactness toolbox), so scores hash-match
    // like q174's lift. Pairs are emitted in both directions so the
    // rank window partitions by item — per-item work, no global sort.
    "q179_item_cf" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
          .distinct()
          .localCheckpoint(eager = true)
        val pairCnt = li.alias("a").join(li.alias("b"),
            col("a.o") === col("b.o") && col("a.p") < col("b.p"))
          .groupBy(col("a.p").as("u"), col("b.p").as("v"))
          .agg(count(lit(1)).as("pair_orders"))
          .where(col("pair_orders") >= 2)
        val both = pairCnt.unionByName(pairCnt.select(
          col("v").as("u"), col("u").as("v"), col("pair_orders")))
        val itemCnt = li.groupBy(col("p")).agg(count(lit(1)).as("cnt"))
        val scored = both
          .join(itemCnt.select(col("p").as("u"), col("cnt").as("cnt_u")), "u")
          .join(itemCnt.select(col("p").as("v"), col("cnt").as("cnt_v")), "v")
          .select(col("u").as("item"), col("v").as("neighbor"),
            col("pair_orders"),
            (col("pair_orders").cast("double") /
              (sqrt(col("cnt_u").cast("double")) *
                sqrt(col("cnt_v").cast("double")))).as("cosine"))
        scored.withColumn("rank", row_number().over(
            Window.partitionBy("item")
              .orderBy(col("cosine").desc, col("neighbor"))))
          .where(col("rank") <= 3)
          .select(col("item"), col("rank"), col("neighbor"),
            col("pair_orders"), col("cosine"))
          .orderBy("item", "rank")
      },
      Some(
        """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          | pc AS (SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS pair_orders
          |   FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
          |   GROUP BY 1, 2 HAVING count(*) >= 2),
          | bd AS (SELECT u, v, pair_orders FROM pc
          |   UNION ALL SELECT v, u, pair_orders FROM pc),
          | ic AS (SELECT p, CAST(count(*) AS BIGINT) AS cnt FROM li GROUP BY p),
          | sc AS (SELECT b.u AS item, b.v AS neighbor, b.pair_orders,
          |     CAST(b.pair_orders AS DOUBLE) /
          |       (sqrt(CAST(cu.cnt AS DOUBLE)) * sqrt(CAST(cv.cnt AS DOUBLE))) AS cosine
          |   FROM bd b JOIN ic cu ON b.u = cu.p JOIN ic cv ON b.v = cv.p),
          | rk AS (SELECT item, CAST(row_number() OVER (PARTITION BY item
          |     ORDER BY cosine DESC, neighbor) AS INT) AS rank,
          |     neighbor, pair_orders, cosine FROM sc)
          | SELECT item, rank, neighbor, pair_orders, cosine
          | FROM rk WHERE rank <= 3 ORDER BY item, rank"""
          .stripMargin.replace("\n", ""))),

    // Referential-integrity audit: orphan counts for every FK edge of
    // the star schema (lineitem->orders/part/supplier, orders->
    // customer). Each edge is one left-anti join on the key — shuffle
    // joins AQE can plan freely; the audit output is 4 rows. A healthy
    // warehouse reads all-zero orphans; the query is the ASSERTION, so
    // zero rows matching is the green path, and orphan_bps floors
    // through integer arithmetic (both engines on the same BIGINT).
    "q183_fk_audit" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val ords = table(s, dir, "orders")
        // fully declarative: each edge is two lazy aggregates combined
        // by a 1-row cross join — no eager count() on the driver, so
        // the whole audit is ONE Spark job of independent branches
        def edge(name: String, fact: DataFrame, key: String,
                 dim: DataFrame, dimKey: String): DataFrame = {
          val tot = fact.agg(count(lit(1)).as("fact_rows"))
          val orph = fact.select(col(key))
            .join(dim.select(col(dimKey).as(key)), Seq(key), "left_anti")
            .agg(count(lit(1)).as("orphan_rows"))
          tot.crossJoin(orph).select(lit(name).as("fk_edge"),
            col("fact_rows"), col("orphan_rows"),
            expr("orphan_rows * 10000 div greatest(fact_rows, 1)")
              .as("orphan_bps"))
        }
        edge("lineitem.orderkey", li, "l_orderkey", ords, "o_orderkey")
          .unionByName(edge("lineitem.partkey", li, "l_partkey",
            table(s, dir, "part"), "p_partkey"))
          .unionByName(edge("lineitem.suppkey", li, "l_suppkey",
            table(s, dir, "supplier"), "s_suppkey"))
          .unionByName(edge("orders.custkey", ords, "o_custkey",
            table(s, dir, "customer"), "c_custkey"))
          .orderBy("fk_edge")
      },
      Some(
        """WITH e1 AS (SELECT 'lineitem.orderkey' AS fk_edge,
          |     (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS fact_rows,
          |     (SELECT CAST(count(*) AS BIGINT) FROM lineitem
          |        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) AS orphan_rows),
          | e2 AS (SELECT 'lineitem.partkey',
          |     (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
          |     (SELECT CAST(count(*) AS BIGINT) FROM lineitem
          |        WHERE l_partkey NOT IN (SELECT p_partkey FROM part))),
          | e3 AS (SELECT 'lineitem.suppkey',
          |     (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
          |     (SELECT CAST(count(*) AS BIGINT) FROM lineitem
          |        WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))),
          | e4 AS (SELECT 'orders.custkey',
          |     (SELECT CAST(count(*) AS BIGINT) FROM orders),
          |     (SELECT CAST(count(*) AS BIGINT) FROM orders
          |        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))),
          | u AS (SELECT * FROM e1 UNION ALL SELECT * FROM e2
          |   UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4)
          | SELECT fk_edge, fact_rows, orphan_rows,
          |   orphan_rows * 10000 // greatest(fact_rows, 1) AS orphan_bps
          | FROM u ORDER BY fk_edge"""
          .stripMargin.replace("\n", ""))),

    // Deletion-impact (right-to-be-forgotten) cascade plan: given a
    // deletion cohort (customers with custkey % 97 = 0 — the stand-in
    // for an erasure request list), report the blast radius per table
    // BEFORE running the deletes: direct customer rows, their orders,
    // the lineitems under those orders (two-hop cascade via orderkey),
    // and matching event streams. Every hop is a LEFT SEMI join on the
    // parent key set — the key list grows with the corpus, so nothing
    // assumes broadcastability, and each branch collapses to one count
    // map-side. The output is the 4-row compliance checklist an
    // operator signs off on (rows affected + share in bps per table).
    "q204_deletion_impact" -> Q(
      (s, dir) => {
        val del = table(s, dir, "customer")
          .where(pmod(col("c_custkey"), lit(97)) === 0)
          .select(col("c_custkey").as("k"))
        val orders = table(s, dir, "orders")
        val affOrders = orders.join(del, col("o_custkey") === col("k"),
          "left_semi")
        def row(name: String, total: DataFrame, affected: DataFrame) =
          affected.agg(count(lit(1)).as("rows_affected"))
            .crossJoin(total.agg(count(lit(1)).as("rows_total")))
            .select(lit(name).as("table_name"), col("rows_total"),
              col("rows_affected"),
              expr("rows_affected * 10000 div rows_total")
                .as("share_bps"))
        val li = table(s, dir, "lineitem")
        val ev = table(s, dir, "events")
        row("customer", table(s, dir, "customer"),
            table(s, dir, "customer").join(del,
              col("c_custkey") === col("k"), "left_semi"))
          .unionByName(row("orders", orders, affOrders))
          .unionByName(row("lineitem", li,
            li.join(affOrders.select(col("o_orderkey").as("ok")),
              col("l_orderkey") === col("ok"), "left_semi")))
          .unionByName(row("events", ev,
            ev.join(del, col("user_id") === col("k"), "left_semi")))
          .orderBy("table_name")
      },
      Some(
        """WITH del AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
          | ao AS (SELECT * FROM orders WHERE o_custkey IN (SELECT k FROM del)),
          | u AS (
          |   SELECT 'customer' AS table_name,
          |     (SELECT count(*) FROM customer) AS rows_total,
          |     (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT k FROM del)) AS rows_affected
          |   UNION ALL SELECT 'orders', (SELECT count(*) FROM orders),
          |     (SELECT count(*) FROM ao)
          |   UNION ALL SELECT 'lineitem', (SELECT count(*) FROM lineitem),
          |     (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM ao))
          |   UNION ALL SELECT 'events', (SELECT count(*) FROM events),
          |     (SELECT count(*) FROM events WHERE user_id IN (SELECT k FROM del)))
          | SELECT table_name, CAST(rows_total AS BIGINT) AS rows_total,
          |   CAST(rows_affected AS BIGINT) AS rows_affected,
          |   CAST(rows_affected * 10000 // rows_total AS BIGINT) AS share_bps
          | FROM u ORDER BY table_name"""
          .stripMargin.replace("\n", ""))),

    // Candidate-key discovery audit: exact distinct-count per column of
    // the orders table, uniqueness ratio in bps, and an is_key verdict
    // — the profiling pass that finds join keys and dedup keys in an
    // unfamiliar table (q132 checks DECLARED constraints; this
    // DISCOVERS them). All five exact distincts ride one aggregation
    // (Spark plans multi-distinct via a single expand), the 1-row
    // moment frame is checkpointed, and the 5-row report derives from
    // it without re-scanning.
    "q211_key_uniqueness" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val m = o.agg(count(lit(1)).as("n_rows"),
            countDistinct(col("o_orderkey")).as("d_orderkey"),
            countDistinct(col("o_custkey")).as("d_custkey"),
            countDistinct(to_date(col("o_orderdate"))).as("d_orderdate"),
            countDistinct(col("o_orderpriority")).as("d_priority"),
            countDistinct(col("o_orderstatus")).as("d_status"))
          .localCheckpoint(eager = true)
        Seq(("o_orderkey", "d_orderkey"), ("o_custkey", "d_custkey"),
          ("o_orderdate", "d_orderdate"),
          ("o_orderpriority", "d_priority"),
          ("o_orderstatus", "d_status")).map { case (cn, dn) =>
          m.select(lit(cn).as("column_name"), col("n_rows"),
            col(dn).as("n_distinct"),
            expr(s"$dn * 10000 div n_rows").as("uniqueness_bps"),
            (col(dn) === col("n_rows")).cast("int").as("is_key"))
        }.reduce(_ unionByName _).orderBy("column_name")
      },
      Some(
        """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
          |   CAST(count(DISTINCT o_orderkey) AS BIGINT) AS d_orderkey,
          |   CAST(count(DISTINCT o_custkey) AS BIGINT) AS d_custkey,
          |   CAST(count(DISTINCT CAST(o_orderdate AS DATE)) AS BIGINT) AS d_orderdate,
          |   CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS d_priority,
          |   CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS d_status
          |   FROM orders),
          | u AS (
          |   SELECT 'o_orderkey' AS column_name, n_rows, d_orderkey AS n_distinct FROM m
          |   UNION ALL SELECT 'o_custkey', n_rows, d_custkey FROM m
          |   UNION ALL SELECT 'o_orderdate', n_rows, d_orderdate FROM m
          |   UNION ALL SELECT 'o_orderpriority', n_rows, d_priority FROM m
          |   UNION ALL SELECT 'o_orderstatus', n_rows, d_status FROM m)
          | SELECT column_name, n_rows, n_distinct,
          |   CAST(n_distinct * 10000 // n_rows AS BIGINT) AS uniqueness_bps,
          |   CAST(n_distinct = n_rows AS INT) AS is_key
          | FROM u ORDER BY column_name"""
          .stripMargin.replace("\n", ""))),

    // Header/detail reconciliation: o_totalprice vs the lineitem-derived
    // charge sum(extendedprice * (1-discount) * (1+tax)) — the audit
    // every warehouse runs when two pipelines load the same business
    // fact. All money moves in cents (per-line double product floored
    // ONCE — the same expression tree on both engines — then exact
    // BIGINT sums), so diff buckets are bit-decided. One orderkey
    // shuffle join (headers against the pre-aggregated detail frame,
    // partial agg map-side); headers with no detail surface as their
    // own bucket instead of vanishing into an inner join.
    "q227_order_reconciliation" -> Q(
      (s, dir) => {
        val detail = table(s, dir, "lineitem")
          .select(col("l_orderkey"),
            expr("CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)")
              .as("line_cents"))
          .groupBy("l_orderkey").agg(sum("line_cents").as("detail_cents"))
        val recon = table(s, dir, "orders")
          .select(col("o_orderkey"),
            expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
              .as("header_cents"))
          .join(detail, col("o_orderkey") === col("l_orderkey"), "left")
          .select(col("header_cents"), col("detail_cents"),
            when(col("detail_cents").isNull, "no_detail")
              .when(col("header_cents") === col("detail_cents"), "exact")
              .when(abs(col("header_cents") - col("detail_cents")) <= 100,
                "within_1_unit")
              .otherwise("mismatch").as("bucket"),
            coalesce(abs(col("header_cents") - col("detail_cents")),
              lit(0L)).as("abs_diff"))
        recon.groupBy("bucket")
          .agg(count(lit(1)).as("n_orders"),
            sum("abs_diff").as("sum_abs_diff_cents"),
            max("abs_diff").as("max_abs_diff_cents"))
          .orderBy("bucket")
      },
      Some(
        """WITH d AS (SELECT l_orderkey,
          |     CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100 + 0.5) AS BIGINT)) AS BIGINT) AS detail_cents
          |   FROM lineitem GROUP BY l_orderkey),
          | r AS (SELECT CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS header_cents,
          |     d.detail_cents,
          |     CASE WHEN d.detail_cents IS NULL THEN 'no_detail'
          |       WHEN CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) = d.detail_cents THEN 'exact'
          |       WHEN abs(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) - d.detail_cents) <= 100 THEN 'within_1_unit'
          |       ELSE 'mismatch' END AS bucket,
          |     coalesce(abs(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) - d.detail_cents), 0) AS abs_diff
          |   FROM orders o LEFT JOIN d ON o.o_orderkey = d.l_orderkey)
          | SELECT bucket, CAST(count(*) AS BIGINT) AS n_orders,
          |   CAST(sum(abs_diff) AS BIGINT) AS sum_abs_diff_cents,
          |   CAST(max(abs_diff) AS BIGINT) AS max_abs_diff_cents
          | FROM r GROUP BY bucket ORDER BY bucket"""
          .stripMargin.replace("\n", ""))),

    // Frequent 3-itemsets, A-priori pruned: the basket self-join runs
    // only over items that survive the item-support cut, and the
    // (p1, p2) frequent-pair semi-join sits BETWEEN the pair join and
    // the third-item extension — textbook A-priori candidate
    // generation, so the dominant fanout is Σ_orders |frequent pairs
    // in the order| instead of C(width, 3). The placement is
    // load-bearing: Catalyst does NOT push a left-semi below the
    // third basket join here (ProbeQ234Prune: canonicalized plans
    // differ; PLANS.md, probe code at commit 9916828), so a post-join
    // semi would materialize every a<b<c
    // triple first — fatal on wide baskets at 100 TB. At sf0.1 the
    // two placements are a measured wash (best 1.94 vs 1.97 s,
    // identical pre-cut candidate counts); the early prune is adopted
    // for the structural bound, not a local win. The remaining
    // (p1, p3)/(p2, p3) semis run after extension as before. The
    // basket frame and frequent-pair list are checkpointed once and
    // fan into all consumers; every join is equi-keyed.
    "q234_frequent_triples" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val (li, cand) = aprioriTripleParts(s, dir)
        val nOrders = li.select("o").distinct()
          .agg(count(lit(1)).as("n_orders"))
        val triples = cand
          .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("orders_cnt"))
          .where(col("orders_cnt") >= 2)
        triples.crossJoin(broadcast(nOrders))
          .withColumn("rank", row_number().over(Window.orderBy(
            col("orders_cnt").desc, col("p1"), col("p2"), col("p3"))))
          .where(col("rank") <= 20)
          .select(col("rank"), col("p1"), col("p2"), col("p3"),
            col("orders_cnt"),
            (col("orders_cnt").cast("double") /
              col("n_orders").cast("double")).as("support"))
          .orderBy("rank")
      },
      Some(
        """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          | fi AS (SELECT p FROM (SELECT p, count(*) AS c FROM li GROUP BY p) WHERE c >= 2),
          | lf AS (SELECT li.o, li.p FROM li JOIN fi USING (p)),
          | fp AS (SELECT u, v FROM (SELECT a.p AS u, b.p AS v, count(*) AS c
          |     FROM lf a JOIN lf b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)
          |   WHERE c >= 2),
          | no AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM li),
          | tr AS (SELECT a.p AS p1, b.p AS p2, c.p AS p3,
          |     CAST(count(*) AS BIGINT) AS orders_cnt
          |   FROM lf a JOIN lf b ON a.o = b.o AND a.p < b.p
          |     JOIN lf c ON b.o = c.o AND b.p < c.p
          |   WHERE EXISTS (SELECT 1 FROM fp WHERE fp.u = a.p AND fp.v = b.p)
          |     AND EXISTS (SELECT 1 FROM fp WHERE fp.u = a.p AND fp.v = c.p)
          |     AND EXISTS (SELECT 1 FROM fp WHERE fp.u = b.p AND fp.v = c.p)
          |   GROUP BY 1, 2, 3 HAVING count(*) >= 2),
          | r AS (SELECT *, CAST(row_number() OVER (ORDER BY orders_cnt DESC, p1, p2, p3) AS INT) AS rank
          |   FROM tr)
          | SELECT rank, p1, p2, p3, orders_cnt,
          |   CAST(orders_cnt AS DOUBLE) / CAST(no.n_orders AS DOUBLE) AS support
          | FROM r, no WHERE rank <= 20 ORDER BY rank"""
          .stripMargin.replace("\n", ""))),

    // Open-order aging WIP report: age buckets (days since order,
    // anchored to the corpus max date) by order priority, with per-
    // priority shares in exact bps. One map-combinable rollup over a
    // scan that prunes to the open-status partition; the matrix is
    // bounded by |priorities| x 4.
    "q235_order_aging" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val o = table(s, dir, "orders")
          .select(col("o_orderpriority").as("priority"),
            col("o_orderstatus").as("st"),
            to_date(col("o_orderdate")).as("d"))
        val anchor = o.agg(max("d").as("dmax"))
        val open = o.where(col("st") === "O")
          .crossJoin(broadcast(anchor))
          .select(col("priority"), datediff(col("dmax"), col("d"))
            .as("age"))
          .select(col("priority"),
            when(col("age") <= 30, "a_0_30")
              .when(col("age") <= 90, "b_31_90")
              .when(col("age") <= 365, "c_91_365")
              .otherwise("d_over_365").as("age_bucket"))
        val cells = open.groupBy("priority", "age_bucket")
          .agg(count(lit(1)).as("n_orders"))
        cells
          .withColumn("prio_total", sum("n_orders").over(
            Window.partitionBy("priority")
              .rowsBetween(Window.unboundedPreceding,
                Window.unboundedFollowing)))
          .select(col("priority"), col("age_bucket"), col("n_orders"),
            col("prio_total"),
            expr("n_orders * 10000 div prio_total").as("share_bps"))
          .orderBy("priority", "age_bucket")
      },
      Some(
        """WITH a AS (SELECT max(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
          | open AS (SELECT o_orderpriority AS priority,
          |     CASE WHEN (a.dmax - CAST(o_orderdate AS DATE)) <= 30 THEN 'a_0_30'
          |       WHEN (a.dmax - CAST(o_orderdate AS DATE)) <= 90 THEN 'b_31_90'
          |       WHEN (a.dmax - CAST(o_orderdate AS DATE)) <= 365 THEN 'c_91_365'
          |       ELSE 'd_over_365' END AS age_bucket
          |   FROM orders, a WHERE o_orderstatus = 'O'),
          | cells AS (SELECT priority, age_bucket,
          |     CAST(count(*) AS BIGINT) AS n_orders FROM open GROUP BY 1, 2)
          | SELECT priority, age_bucket, n_orders,
          |   CAST(sum(n_orders) OVER (PARTITION BY priority) AS BIGINT) AS prio_total,
          |   CAST(n_orders * 10000 // sum(n_orders) OVER (PARTITION BY priority) AS BIGINT) AS share_bps
          | FROM cells ORDER BY priority, age_bucket"""
          .stripMargin.replace("\n", ""))),

    // Degree assortativity of the co-purchase graph: Pearson
    // correlation of endpoint degrees over the symmetrized edge list —
    // do hub parts co-occur with hubs (r > 0) or with the long tail
    // (r < 0)? Fourth consumer of the shared checkpointed
    // coPurchasePairs base. The symmetrization is algebraic (du+dv /
    // du^2+dv^2 / 2*du*dv per undirected edge), so one pass over edges
    // builds exact BIGINT moments; the correlation is one double
    // expression over the 1-row moment frame.
    "q236_degree_assortativity" -> Q(
      (s, dir) => {
        val edges = coPurchasePairs(s, dir)
        val deg = edges.select(col("u").as("n"))
          .unionAll(edges.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        val m = edges
          .join(deg.select(col("n").as("u"), col("deg").as("du")), "u")
          .join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
          .agg(count(lit(1)).as("n_und"),
            sum(col("du") + col("dv")).as("sx"),
            sum(col("du") * col("du") + col("dv") * col("dv")).as("sxx"),
            sum(col("du") * col("dv") * 2).as("sxy"))
        m.select((col("n_und") * 2).as("n_edges"), col("sx"), col("sxx"),
            col("sxy"),
            when(col("n_und") * 2 * col("sxx") - col("sx") * col("sx") === 0,
              lit(null).cast("double"))
              .otherwise(
                (col("n_und") * 2 * col("sxy") - col("sx") * col("sx"))
                  .cast("double") /
                (col("n_und") * 2 * col("sxx") - col("sx") * col("sx"))
                  .cast("double")).as("assortativity"))
      },
      Some(
        """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          | e AS (SELECT DISTINCT a.p AS u, b.p AS v
          |   FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
          | d AS (SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
          |     SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e)
          |   GROUP BY n),
          | m AS (SELECT CAST(count(*) AS BIGINT) AS n_und,
          |     CAST(sum(du.deg + dv.deg) AS BIGINT) AS sx,
          |     CAST(sum(du.deg * du.deg + dv.deg * dv.deg) AS BIGINT) AS sxx,
          |     CAST(sum(du.deg * dv.deg * 2) AS BIGINT) AS sxy
          |   FROM e JOIN d du ON e.u = du.n JOIN d dv ON e.v = dv.n)
          | SELECT n_und * 2 AS n_edges, sx, sxx, sxy,
          |   CASE WHEN n_und * 2 * sxx - sx * sx = 0 THEN NULL
          |     ELSE CAST(n_und * 2 * sxy - sx * sx AS DOUBLE)
          |       / CAST(n_und * 2 * sxx - sx * sx AS DOUBLE) END AS assortativity
          | FROM m""".stripMargin.replace("\n", ""))),

    // ABC-XYZ inventory matrix: revenue concentration (q181's
    // cumulative-share ABC) crossed with demand VARIABILITY — XYZ from
    // the coefficient of variation of weekly unit demand, decided in
    // EXACT integers: cv^2 <= t  <=>  W*sxx - sx^2 <= t*sx^2, so the
    // X/Y/Z cut (t = 1/4, 1) never touches a float. Zero-demand weeks
    // count (W is the corpus week span; absent rows contribute zero to
    // both moments), which is what makes sporadic movers land in Z.
    // Two part-key rollups; the ABC cumulative rides
    // OrderStat.scanCumSum chunked by inverted revenue cents (the part
    // frame GROWS with the corpus — global-window lint r15, same
    // re-plan as q181) and the grand total is a one-row broadcast;
    // output is the 3x3 planning matrix.
    "q240_abc_xyz" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .select(col("l_partkey"),
            to_date(col("l_shipdate")).as("d"),
            col("l_quantity").cast("bigint").as("units"),
            expr("CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT)")
              .as("rev_cents"))
        val anchor = li.agg(min("d").as("d0"), max("d").as("d1"))
        val weekly = li.crossJoin(broadcast(anchor))
          .select(col("l_partkey"),
            expr("datediff(d, d0) div 7").as("wk"),
            col("units"), col("rev_cents"),
            (expr("datediff(d1, d0) div 7") + 1).as("n_weeks"))
          .groupBy("l_partkey", "wk", "n_weeks")
          .agg(sum("units").as("u"), sum("rev_cents").as("rc"))
        val perPart = weekly.groupBy("l_partkey", "n_weeks")
          .agg(sum("u").as("sx"), sum(col("u") * col("u")).as("sxx"),
            sum("rc").as("rev"))
        val tot = perPart.agg(sum("rev").as("tot"))
        OrderStat.scanCumSum(perPart, Seq.empty, col("rev"),
            Seq(col("rev").desc, col("l_partkey")),
            expr("(-rev) div 1048576"), "cum")
          .crossJoin(broadcast(tot))
          .select(col("l_partkey"), col("sx"), col("sxx"),
            col("n_weeks"), col("rev"),
            when((col("cum") * 100) <= (col("tot") * 80), "A")
              .when((col("cum") * 100) <= (col("tot") * 95), "B")
              .otherwise("C").as("abc"),
            when((col("n_weeks") * col("sxx") - col("sx") * col("sx")) * 4
              <= col("sx") * col("sx"), "X")
              .when(col("n_weeks") * col("sxx") - col("sx") * col("sx")
                <= col("sx") * col("sx"), "Y")
              .otherwise("Z").as("xyz"))
          .groupBy("abc", "xyz")
          .agg(count(lit(1)).as("n_parts"), sum("rev").as("rev_cents"),
            sum("sx").as("units"))
          .orderBy("abc", "xyz")
      },
      Some(
        """WITH li AS (SELECT l_partkey, CAST(l_shipdate AS DATE) AS d,
          |     CAST(l_quantity AS BIGINT) AS units,
          |     CAST(floor(l_extendedprice * (1 - l_discount) * 100 + 0.5) AS BIGINT) AS rev_cents
          |   FROM lineitem),
          | a AS (SELECT min(d) AS d0, max(d) AS d1 FROM li),
          | wk AS (SELECT l_partkey, CAST((li.d - a.d0) // 7 AS BIGINT) AS wk,
          |     CAST((a.d1 - a.d0) // 7 + 1 AS BIGINT) AS n_weeks,
          |     CAST(sum(units) AS BIGINT) AS u,
          |     CAST(sum(rev_cents) AS BIGINT) AS rc
          |   FROM li, a GROUP BY 1, 2, 3),
          | pp AS (SELECT l_partkey, n_weeks, CAST(sum(u) AS BIGINT) AS sx,
          |     CAST(sum(u * u) AS BIGINT) AS sxx,
          |     CAST(sum(rc) AS BIGINT) AS rev
          |   FROM wk GROUP BY 1, 2),
          | c AS (SELECT *, CAST(sum(rev) OVER (ORDER BY rev DESC, l_partkey) AS BIGINT) AS cum,
          |     CAST(sum(rev) OVER () AS BIGINT) AS tot FROM pp),
          | k AS (SELECT l_partkey, sx, sxx, n_weeks, rev,
          |     CASE WHEN cum * 100 <= tot * 80 THEN 'A'
          |       WHEN cum * 100 <= tot * 95 THEN 'B' ELSE 'C' END AS abc,
          |     CASE WHEN (n_weeks * sxx - sx * sx) * 4 <= sx * sx THEN 'X'
          |       WHEN n_weeks * sxx - sx * sx <= sx * sx THEN 'Y'
          |       ELSE 'Z' END AS xyz
          |   FROM c)
          | SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts,
          |   CAST(sum(rev) AS BIGINT) AS rev_cents,
          |   CAST(sum(sx) AS BIGINT) AS units
          | FROM k GROUP BY abc, xyz ORDER BY abc, xyz"""
          .stripMargin.replace("\n", ""))),

    // Column-encoding advisor: per lineitem column, NDV + byte mass ->
    // dictionary-vs-plain size estimate (dict = distinct values' bytes
    // + 2-byte codes; plain = raw bytes), the stats a layout tool reads
    // before rewriting 100 TB of parquet. ONE multi-aggregate pass over
    // the fact table (q211's discipline — no per-column scans), a
    // bounded unpivot, and an integer-exact recommendation.
    "q245_encoding_advisor" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
        val m = li.agg(
          count(lit(1)).as("n"),
          countDistinct(col("l_returnflag")).as("d_rf"),
          sum(length(col("l_returnflag"))).cast("bigint").as("b_rf"),
          countDistinct(col("l_linestatus")).as("d_ls"),
          sum(length(col("l_linestatus"))).cast("bigint").as("b_ls"),
          countDistinct(col("l_partkey")).as("d_pk"),
          countDistinct(col("l_quantity")).as("d_qty"))
        def strRow(nm: String, d: String, b: String) = m.select(
          lit(nm).as("column_name"), col("n").as("n_rows"),
          col(d).as("ndv"), col(b).as("plain_bytes"),
          // dict payload ~= one representative value per distinct
          // (avg width = plain/n) + a 2-byte code per row
          (col(d) * expr(s"$b div n") + col("n") * 2)
            .as("dict_bytes_est"))
        def numRow(nm: String, d: String) = m.select(
          lit(nm).as("column_name"), col("n").as("n_rows"),
          col(d).as("ndv"), (col("n") * 8).as("plain_bytes"),
          (col(d) * 8 + col("n") * 2).as("dict_bytes_est"))
        strRow("l_returnflag", "d_rf", "b_rf")
          .unionByName(strRow("l_linestatus", "d_ls", "b_ls"))
          .unionByName(numRow("l_partkey", "d_pk"))
          .unionByName(numRow("l_quantity", "d_qty"))
          .select(col("column_name"), col("n_rows"), col("ndv"),
            col("plain_bytes"), col("dict_bytes_est"),
            when(col("dict_bytes_est") < col("plain_bytes"), "dictionary")
              .otherwise("plain").as("encoding"))
          .orderBy("column_name")
      },
      Some(
        """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |     CAST(count(DISTINCT l_returnflag) AS BIGINT) AS d_rf,
          |     CAST(sum(length(l_returnflag)) AS BIGINT) AS b_rf,
          |     CAST(count(DISTINCT l_linestatus) AS BIGINT) AS d_ls,
          |     CAST(sum(length(l_linestatus)) AS BIGINT) AS b_ls,
          |     CAST(count(DISTINCT l_partkey) AS BIGINT) AS d_pk,
          |     CAST(count(DISTINCT l_quantity) AS BIGINT) AS d_qty
          |   FROM lineitem),
          | u AS (
          |   SELECT 'l_returnflag' AS column_name, n AS n_rows, d_rf AS ndv,
          |     b_rf AS plain_bytes, d_rf * (b_rf // n) + n * 2 AS dict_bytes_est FROM m
          |   UNION ALL SELECT 'l_linestatus', n, d_ls, b_ls,
          |     d_ls * (b_ls // n) + n * 2 FROM m
          |   UNION ALL SELECT 'l_partkey', n, d_pk, n * 8,
          |     d_pk * 8 + n * 2 FROM m
          |   UNION ALL SELECT 'l_quantity', n, d_qty, n * 8,
          |     d_qty * 8 + n * 2 FROM m)
          | SELECT column_name, n_rows, ndv, plain_bytes, dict_bytes_est,
          |   CASE WHEN dict_bytes_est < plain_bytes THEN 'dictionary'
          |     ELSE 'plain' END AS encoding
          | FROM u ORDER BY column_name"""
          .stripMargin.replace("\n", ""))),

    // Basket-fanout audit: the order-width histogram plus the EXACT
    // pair/triple fanout — sum C(w,2) and C(w,3) — that the graph
    // (q129/q152/q158) and itemset (q234) queries' self-joins
    // materialize. This is the cost model behind their scale claims,
    // measured from the data instead of asserted in comments: a planner
    // reads this before deciding whether the 3-way basket join is
    // affordable at the next scale-up. One orderkey rollup; integer
    // binomials per width row.
    "q248_basket_fanout_audit" -> Q(
      (s, dir) => {
        val widths = table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey")).distinct()
          .groupBy("l_orderkey").agg(count(lit(1)).as("w"))
          .groupBy("w").agg(count(lit(1)).as("n_orders"))
        widths
          .select(col("w"), col("n_orders"),
            (col("n_orders") * expr("w * (w - 1) div 2")).as("pair_rows"),
            (col("n_orders") * expr("w * (w - 1) * (w - 2) div 6"))
              .as("triple_rows"))
          .orderBy("w")
      },
      Some(
        """WITH b AS (SELECT l_orderkey, CAST(count(DISTINCT l_partkey) AS BIGINT) AS w
          |   FROM lineitem GROUP BY l_orderkey),
          | h AS (SELECT w, CAST(count(*) AS BIGINT) AS n_orders FROM b GROUP BY w)
          | SELECT w, n_orders,
          |   n_orders * (w * (w - 1) // 2) AS pair_rows,
          |   n_orders * (w * (w - 1) * (w - 2) // 6) AS triple_rows
          | FROM h ORDER BY w"""
          .stripMargin.replace("\n", ""))),

    // Rendezvous (highest-random-weight) sharding audit — the
    // minimal-movement counterpart of q155's mod-resharding: each doc
    // goes to argmax over shards of md5(doc, shard), so growing 8 -> 9
    // shards moves ONLY the keys whose new shard wins the argmax
    // (expected 1/9 ≈ 1111 bps), where mod 16 -> 20 moved 80%. The
    // audit measures per-shard balance under both widths and the moved
    // share — all from md5-60 weights both engines compute
    // identically. Per-doc work is a bounded 9-way argmax projection
    // (codegen'd greatest/CASE chain); one bounded rollup.
    "q252_rendezvous_sharding" -> Q(
      (s, dir) => {
        def weight(shard: Int) = graft.ops.DedupOps.md5Long60(
          concat(col("doc_id").cast("string"), lit(s":s$shard")))
        def argmax(n: Int): org.apache.spark.sql.Column = {
          val w = (0 until n).map(weight)
          val m = greatest(w: _*)
          (0 until n).foldRight(lit(-1): org.apache.spark.sql.Column) {
            case (i, acc) => when(w(i) === m, lit(i)).otherwise(acc)
          }
        }
        val assigned = table(s, dir, "documents")
          .select(col("doc_id"), argmax(8).as("s8"), argmax(9).as("s9"))
        val moved = assigned
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L))
              .as("n_moved"))
          .select(lit(-1).cast("int").as("shard"), col("n_docs"),
            col("n_moved"),
            expr("n_moved * 10000 div n_docs").as("bps"))
        val perShard = assigned.groupBy(col("s9").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("s8") =!= col("s9"), 1L).otherwise(0L))
              .as("n_moved"))
          .crossJoin(broadcast(assigned.agg(count(lit(1)).as("tot"))))
          .select(col("shard").cast("int").as("shard"), col("n_docs"),
            col("n_moved"), expr("n_docs * 10000 div tot").as("bps"))
        moved.unionByName(perShard).orderBy("shard")
      },
      Some {
        val ws = (0 until 9).map(i =>
          s"('0x' || substr(md5(doc_id::VARCHAR || ':s$i'), 1, 15))::BIGINT AS w$i")
          .mkString(", ")
        def caseArgmax(n: Int, nm: String) = "CASE" + (0 until n).map(i =>
          s" WHEN w$i = greatest(${(0 until n).map("w" + _).mkString(", ")}) THEN $i")
          .mkString + s" END AS $nm"
        s"WITH w AS (SELECT doc_id, $ws FROM documents), " +
          s"a AS (SELECT doc_id, ${caseArgmax(8, "s8")}, ${caseArgmax(9, "s9")} FROM w), " +
          "mv AS (SELECT CAST(-1 AS INT) AS shard, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved FROM a), " +
          "t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM a), " +
          "ps AS (SELECT CAST(s9 AS INT) AS shard, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(sum(CASE WHEN s8 <> s9 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved FROM a GROUP BY s9) " +
          "SELECT shard, n_docs, n_moved, CAST(n_moved * 10000 // n_docs AS BIGINT) AS bps FROM mv " +
          "UNION ALL SELECT ps.shard, ps.n_docs, ps.n_moved, " +
          "CAST(ps.n_docs * 10000 // t.tot AS BIGINT) FROM ps, t ORDER BY shard"
      }),

    // TTL retention sweep: rows and payload bytes a T-day time-to-live
    // would keep, for T in {30, 90, 180, 365} — ONE conditional-sum
    // pass over the event log (q237's sweep discipline: never one scan
    // per policy), anchored to the corpus max timestamp. The sheet a
    // retention policy decision reads before any data actually
    // expires. Bytes = the props payload length, exact integers
    // throughout.
    "q256_ttl_sweep" -> Q(
      (s, dir) => {
        val ev = table(s, dir, "events")
          .select(expr("unix_micros(ts)").as("tus"),
            length(col("props")).cast("bigint").as("bytes"))
        val anchored = ev.crossJoin(broadcast(
          ev.agg(max("tus").as("tmax"))))
          .select(expr("(tmax - tus) div 86400000000").as("age_days"),
            col("bytes"))
        val agg = anchored.agg(
          count(lit(1)).as("n"), sum("bytes").as("b"),
          sum(when(col("age_days") < 30, 1L).otherwise(0L)).as("n30"),
          sum(when(col("age_days") < 30, col("bytes")).otherwise(0L))
            .as("b30"),
          sum(when(col("age_days") < 90, 1L).otherwise(0L)).as("n90"),
          sum(when(col("age_days") < 90, col("bytes")).otherwise(0L))
            .as("b90"),
          sum(when(col("age_days") < 180, 1L).otherwise(0L)).as("n180"),
          sum(when(col("age_days") < 180, col("bytes")).otherwise(0L))
            .as("b180"),
          sum(when(col("age_days") < 365, 1L).otherwise(0L)).as("n365"),
          sum(when(col("age_days") < 365, col("bytes")).otherwise(0L))
            .as("b365"))
        def row(t: Int, nc: String, bc: String) = agg.select(
          lit(t).cast("int").as("ttl_days"), col("n").as("total_rows"),
          col(nc).as("kept_rows"), col(bc).as("kept_bytes"),
          expr(s"$nc * 10000 div n").as("kept_bps"))
        row(30, "n30", "b30").unionByName(row(90, "n90", "b90"))
          .unionByName(row(180, "n180", "b180"))
          .unionByName(row(365, "n365", "b365"))
          .orderBy("ttl_days")
      },
      Some(
        """WITH ev AS (SELECT epoch_us(ts) AS tus,
          |     CAST(length(props) AS BIGINT) AS bytes FROM events),
          | t AS (SELECT max(tus) AS tmax FROM ev),
          | a AS (SELECT (t.tmax - ev.tus) // 86400000000 AS age_days,
          |     ev.bytes FROM ev, t),
          | g AS (SELECT CAST(count(*) AS BIGINT) AS n,
          |     CAST(sum(CASE WHEN age_days < 30 THEN 1 ELSE 0 END) AS BIGINT) AS n30,
          |     CAST(sum(CASE WHEN age_days < 30 THEN bytes ELSE 0 END) AS BIGINT) AS b30,
          |     CAST(sum(CASE WHEN age_days < 90 THEN 1 ELSE 0 END) AS BIGINT) AS n90,
          |     CAST(sum(CASE WHEN age_days < 90 THEN bytes ELSE 0 END) AS BIGINT) AS b90,
          |     CAST(sum(CASE WHEN age_days < 180 THEN 1 ELSE 0 END) AS BIGINT) AS n180,
          |     CAST(sum(CASE WHEN age_days < 180 THEN bytes ELSE 0 END) AS BIGINT) AS b180,
          |     CAST(sum(CASE WHEN age_days < 365 THEN 1 ELSE 0 END) AS BIGINT) AS n365,
          |     CAST(sum(CASE WHEN age_days < 365 THEN bytes ELSE 0 END) AS BIGINT) AS b365
          |   FROM a)
          | SELECT CAST(30 AS INT) AS ttl_days, n AS total_rows, n30 AS kept_rows,
          |   b30 AS kept_bytes, CAST(n30 * 10000 // n AS BIGINT) AS kept_bps FROM g
          | UNION ALL SELECT CAST(90 AS INT), n, n90, b90, CAST(n90 * 10000 // n AS BIGINT) FROM g
          | UNION ALL SELECT CAST(180 AS INT), n, n180, b180, CAST(n180 * 10000 // n AS BIGINT) FROM g
          | UNION ALL SELECT CAST(365 AS INT), n, n365, b365, CAST(n365 * 10000 // n AS BIGINT) FROM g
          | ORDER BY ttl_days"""
          .stripMargin.replace("\n", ""))),

    // Exact median WITHOUT a global sort — the two-pass bucket-search
    // pattern that computes an exact order statistic over 10^12 rows
    // where sort-based median dies: pass 1 histograms order totals
    // into 2^20-cent buckets (map-combinable; bounded frame), the
    // cumulative count locates the bucket holding the target rank,
    // and pass 2 sorts ONLY inside that bucket (1/buckets of the
    // data; at 100 TB you recurse the same two passes instead). The
    // oracle computes the same lower median by brute-force order
    // statistics, pinning the pattern's exactness.
    "q257_two_pass_median" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cents = table(s, dir, "orders")
          .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("c"), expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) div 1048576")
            .as("bkt"))
        val hist = cents.groupBy("bkt").agg(count(lit(1)).as("bc"))
        val n = cents.agg(count(lit(1)).as("n"))
        val located = hist
          .withColumn("cum", sum("bc").over(Window.orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .crossJoin(broadcast(n))
          .withColumn("target", expr("(n + 1) div 2"))
          .where(col("cum") >= col("target") &&
            col("cum") - col("bc") < col("target"))
          .select(col("bkt").as("med_bkt"),
            (col("target") - (col("cum") - col("bc"))).as("rank_in_bkt"),
            col("n"))
        cents.join(broadcast(located), col("bkt") === col("med_bkt"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("bkt").orderBy("c")))
          .where(col("rn") === col("rank_in_bkt"))
          .select(col("n").as("n_orders"), col("med_bkt"),
            col("rank_in_bkt"), col("c").as("median_cents"))
      },
      Some(
        """WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
          |   FROM orders),
          | n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
          | r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM c),
          | med AS (SELECT r.c AS median_cents FROM r, n WHERE r.rn = (n.n + 1) // 2),
          | bk AS (SELECT median_cents // 1048576 AS med_bkt, median_cents FROM med),
          | rk AS (SELECT CAST(count(*) AS BIGINT) AS below FROM c, bk
          |   WHERE c.c // 1048576 < bk.med_bkt)
          | SELECT n.n AS n_orders, CAST(bk.med_bkt AS BIGINT) AS med_bkt,
          |   CAST((n.n + 1) // 2 - rk.below AS BIGINT) AS rank_in_bkt,
          |   bk.median_cents
          | FROM n, bk, rk""".stripMargin.replace("\n", ""))),

    // The RECURSION q257's comment promises: at 100 TB one bucket
    // level may still leave the located bucket too big for a single
    // sort, so the bucket search recurses — level 1 histograms
    // 2^20-cent buckets and locates the one holding rank (n+1) div 2,
    // level 2 re-histograms ONLY that bucket at 2^10-cent granularity
    // and re-locates, and the final element rank runs over a <=1024-
    // cent slice. Each level's histogram is map-combinable and its
    // locate window rides a domain-bounded frame; the element window's
    // input shrinks geometrically per level (recurse further for more
    // levels — the shape is level-invariant). Oracle: brute-force
    // order statistics pin the exact element AND both located buckets.
    "q271_recursive_median" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cents = table(s, dir, "orders")
          .select(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
            .as("c"))
          .localCheckpoint(eager = true)
        val n = cents.agg(count(lit(1)).as("n"))
        def cum(h: DataFrame, bkt: String, cnt: String) =
          h.withColumn("cum", sum(cnt).over(Window.orderBy(bkt)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        val loc1 = cum(cents.groupBy(expr("c div 1048576").as("b1"))
            .agg(count(lit(1)).as("bc")), "b1", "bc")
          .crossJoin(broadcast(n))
          .withColumn("t", expr("(n + 1) div 2"))
          .where(col("cum") >= col("t") &&
            col("cum") - col("bc") < col("t"))
          .select(col("b1").as("l1_bkt"),
            (col("t") - (col("cum") - col("bc"))).as("r1"), col("n"))
        val in1 = cents.join(broadcast(loc1),
          expr("c div 1048576") === col("l1_bkt"))
        val loc2 = cum(in1.groupBy(expr("c div 1024").as("b2"))
            .agg(count(lit(1)).as("bc2")), "b2", "bc2")
          .crossJoin(broadcast(loc1))
          .where(col("cum") >= col("r1") &&
            col("cum") - col("bc2") < col("r1"))
          .select(col("l1_bkt").as("f1"), col("b2").as("l2_bkt"),
            (col("r1") - (col("cum") - col("bc2"))).as("r2"),
            col("n").as("n2"))
        in1.select("c").join(broadcast(loc2),
            expr("c div 1024") === col("l2_bkt"))
          .withColumn("rn", row_number().over(Window.orderBy("c")))
          .where(col("rn") === col("r2"))
          .select(col("n2").as("n_orders"), col("f1").as("l1_bkt"),
            col("l2_bkt"), col("c").as("median_cents"))
      },
      Some(
        """WITH c AS (SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
          |   FROM orders),
          | n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
          | r AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM c),
          | med AS (SELECT r.c AS median_cents FROM r, n WHERE r.rn = (n.n + 1) // 2)
          | SELECT n.n AS n_orders, CAST(median_cents // 1048576 AS BIGINT) AS l1_bkt,
          |   CAST(median_cents // 1024 AS BIGINT) AS l2_bkt, median_cents
          | FROM med, n""".stripMargin.replace("\n", ""))),

    // Merkle-style anti-entropy repair plan: two replicas of the event
    // log (B simulates loss: every 1009th event absent) compared by
    // RANGE DIGESTS — 256 event-id ranges, each summarized as
    // (count, bit_xor of id-salted md5-60) — so the replicas exchange
    // 256 rows instead of the full key set, and only DIRTY ranges
    // drill down to missing keys. The two-level check a 100 TB
    // replica repair runs nightly; both digests are order-independent
    // (XOR) and engine-exact.
    "q258_merkle_repair" -> Q(
      (s, dir) => {
        val ids = table(s, dir, "events").select(col("event_id"))
        val span = ids.agg(max("event_id").as("mx"))
        def ranged(df: org.apache.spark.sql.DataFrame) = df
          .crossJoin(broadcast(span))
          .select(expr("event_id * 256 div (mx + 1)").as("rng"),
            col("event_id"))
        val a = ranged(ids)
          .groupBy("rng")
          .agg(count(lit(1)).as("n_a"),
            bit_xor(graft.ops.DedupOps.md5Long60(
              col("event_id").cast("string"))).as("dig_a"))
        val b = ranged(ids.where(col("event_id") % 1009 =!= 0))
          .groupBy("rng")
          .agg(count(lit(1)).as("n_b"),
            bit_xor(graft.ops.DedupOps.md5Long60(
              col("event_id").cast("string"))).as("dig_b"))
        val dirty = a.join(b, Seq("rng"), "left")
          .where(col("dig_b").isNull || col("dig_a") =!= col("dig_b") ||
            col("n_a") =!= col("n_b"))
          .select(col("rng"), col("n_a"),
            coalesce(col("n_b"), lit(0L)).as("n_b"))
        // drill-down: missing keys, but ONLY inside dirty ranges
        val missing = ranged(ids.where(col("event_id") % 1009 === 0))
          .join(dirty.select("rng"), Seq("rng"), "left_semi")
          .groupBy("rng").agg(count(lit(1)).as("n_missing"),
            min("event_id").as("first_missing"))
        dirty.join(missing, Seq("rng"), "left")
          .select(col("rng"), col("n_a"), col("n_b"),
            coalesce(col("n_missing"), lit(0L)).as("n_missing"),
            col("first_missing"))
          .orderBy("rng")
      },
      Some(
        """WITH ids AS (SELECT event_id FROM events),
          | s AS (SELECT max(event_id) AS mx FROM ids),
          | ra AS (SELECT event_id * 256 // (s.mx + 1) AS rng, event_id FROM ids, s),
          | a AS (SELECT rng, CAST(count(*) AS BIGINT) AS n_a,
          |     bit_xor(('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT) AS dig_a
          |   FROM ra GROUP BY rng),
          | rb AS (SELECT rng, event_id FROM ra WHERE event_id % 1009 <> 0),
          | b AS (SELECT rng, CAST(count(*) AS BIGINT) AS n_b,
          |     bit_xor(('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT) AS dig_b
          |   FROM rb GROUP BY rng),
          | dirty AS (SELECT a.rng, a.n_a, coalesce(b.n_b, 0) AS n_b
          |   FROM a LEFT JOIN b USING (rng)
          |   WHERE b.dig_b IS NULL OR a.dig_a <> b.dig_b OR a.n_a <> b.n_b),
          | mi AS (SELECT ra.rng, CAST(count(*) AS BIGINT) AS n_missing,
          |     CAST(min(ra.event_id) AS BIGINT) AS first_missing
          |   FROM ra WHERE ra.event_id % 1009 = 0
          |     AND EXISTS (SELECT 1 FROM dirty d WHERE d.rng = ra.rng)
          |   GROUP BY ra.rng)
          | SELECT d.rng, d.n_a, d.n_b, coalesce(mi.n_missing, 0) AS n_missing,
          |   mi.first_missing
          | FROM dirty d LEFT JOIN mi USING (rng) ORDER BY d.rng"""
          .stripMargin.replace("\n", ""))),

    // Parquet row-group sizing advisor: per table, the measured
    // logical row width (strings by length, numerics/timestamps at 8
    // bytes) -> rows per 128 MB row group and files at a 1 GB target —
    // the knob sheet behind spark.sql.files.maxPartitionBytes tuning
    // at 100 TB (row groups sized from GUESSED widths are how scans
    // end up with 10x-skewed task sizes). One aggregate per table,
    // bounded union; all integer arithmetic.
    "q260_rowgroup_advisor" -> Q(
      (s, dir) => {
        def advise(name: String, width: org.apache.spark.sql.Column,
            df: org.apache.spark.sql.DataFrame) = df
          .agg(count(lit(1)).as("n_rows"),
            sum(width.cast("bigint")).as("total_bytes"))
          .select(lit(name).as("table_name"), col("n_rows"),
            col("total_bytes"),
            expr("total_bytes div n_rows").as("bytes_per_row"),
            expr("134217728 div greatest(total_bytes div n_rows, 1)")
              .as("rows_per_128mb_group"),
            expr("greatest(total_bytes div 1073741824, 1)")
              .as("files_at_1gb"))
        val li = advise("lineitem",
          lit(8 * 9) + length(col("l_returnflag")) +
            length(col("l_linestatus")),
          table(s, dir, "lineitem"))
        val o = advise("orders",
          lit(8 * 3) + length(col("o_orderstatus")) +
            length(col("o_orderpriority")),
          table(s, dir, "orders"))
        val c = advise("customer",
          lit(8 * 3) + length(col("c_name")) + length(col("c_mktsegment")),
          table(s, dir, "customer"))
        val d = advise("documents",
          lit(8 * 2) + length(col("text")) + length(col("lang")) +
            length(col("source")),
          table(s, dir, "documents"))
        val e = advise("events",
          lit(8 * 4) + length(col("event_type")) + length(col("props")),
          table(s, dir, "events"))
        li.unionByName(o).unionByName(c).unionByName(d).unionByName(e)
          .orderBy("table_name")
      },
      Some(
        """WITH a AS (
          |   SELECT 'lineitem' AS table_name, CAST(count(*) AS BIGINT) AS n_rows,
          |     CAST(sum(72 + length(l_returnflag) + length(l_linestatus)) AS BIGINT) AS total_bytes
          |   FROM lineitem
          |   UNION ALL SELECT 'orders', CAST(count(*) AS BIGINT),
          |     CAST(sum(24 + length(o_orderstatus) + length(o_orderpriority)) AS BIGINT) FROM orders
          |   UNION ALL SELECT 'customer', CAST(count(*) AS BIGINT),
          |     CAST(sum(24 + length(c_name) + length(c_mktsegment)) AS BIGINT) FROM customer
          |   UNION ALL SELECT 'documents', CAST(count(*) AS BIGINT),
          |     CAST(sum(16 + length(text) + length(lang) + length(source)) AS BIGINT) FROM documents
          |   UNION ALL SELECT 'events', CAST(count(*) AS BIGINT),
          |     CAST(sum(32 + length(event_type) + length(props)) AS BIGINT) FROM events)
          | SELECT table_name, n_rows, total_bytes,
          |   CAST(total_bytes // n_rows AS BIGINT) AS bytes_per_row,
          |   CAST(134217728 // greatest(total_bytes // n_rows, 1) AS BIGINT) AS rows_per_128mb_group,
          |   CAST(greatest(total_bytes // 1073741824, 1) AS BIGINT) AS files_at_1gb
          | FROM a ORDER BY table_name"""
          .stripMargin.replace("\n", ""))),

    // Consistent-hash ring balance audit (8 nodes x 16 vnodes):
    // completes the sharding triptych — q155 mod (80% motion), q252
    // rendezvous (1/9 motion, O(nodes) per key), and the ring, which
    // buys O(log vnodes) lookups at the price of balance variance
    // that only vnode count tames. The 128 vnode positions collapse
    // to ONE sorted-array row, broadcast; each key resolves its
    // successor with a codegen'd filter-then-min over the array
    // (wraparound to the ring minimum) — no 128x row fanout, no join.
    // Output: per-node key share and the min/max imbalance, all
    // integer.
    "q261_consistent_hash_ring" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val vnodes = s.range(0, 128)
          .select(expr("id div 16").as("node"), (col("id") % 16).as("vn"))
          .select(col("node"),
            graft.ops.DedupOps.md5Long60(
              concat(col("node").cast("string"), lit("#"),
                col("vn").cast("string"))).as("pos"))
        // (pos, node) packed into one BIGINT (pos < 2^60, node < 8 ->
        // pos*8+node < 2^63): plain scalar-array min works on both
        // engines, with pos ties broken by node deterministically
        val ring = vnodes
          .agg(sort_array(collect_list(col("pos") * 8 + col("node")))
            .as("ring"))
        val keyed = table(s, dir, "documents")
          .select(graft.ops.DedupOps.md5Long60(
            col("doc_id").cast("string")).as("h"))
          .crossJoin(broadcast(ring))
          // successor vnode: first ring entry at/after h, else wrap to
          // the ring's first entry
          .select(expr(
            """coalesce(
              |  array_min(filter(ring, r -> r >= h * 8)),
              |  array_min(ring)) % 8""".stripMargin.replace("\n", ""))
            .as("node"))
        val counts = keyed.groupBy("node")
          .agg(count(lit(1)).as("n_keys"))
        val ext = counts.agg(max("n_keys").as("mx"), min("n_keys").as("mn"),
          sum("n_keys").as("tot"))
        counts.crossJoin(broadcast(ext))
          .select(col("node").cast("int").as("node"), col("n_keys"),
            expr("n_keys * 10000 div tot").as("share_bps"),
            expr("mx * 100 div mn").as("imbalance_pct"))
          .orderBy("node")
      },
      Some {
        val vn = (0 until 8).flatMap(n => (0 until 16).map(v =>
          s"($n, ('0x' || substr(md5('$n#$v'), 1, 15))::BIGINT)"))
          .mkString(", ")
        s"WITH vno AS (SELECT * FROM (VALUES $vn) t(node, pos)), " +
          "ring AS (SELECT list_sort(list(pos * 8 + node)) AS ring FROM vno), " +
          "k AS (SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT AS h FROM documents), " +
          "asn AS (SELECT coalesce(list_min(list_filter(ring, r -> r >= h * 8)), list_min(ring)) % 8 AS node " +
          "FROM k, ring), " +
          "c AS (SELECT node, CAST(count(*) AS BIGINT) AS n_keys FROM asn GROUP BY node), " +
          "e AS (SELECT CAST(max(n_keys) AS BIGINT) AS mx, CAST(min(n_keys) AS BIGINT) AS mn, " +
          "CAST(sum(n_keys) AS BIGINT) AS tot FROM c) " +
          "SELECT CAST(c.node AS INT) AS node, c.n_keys, " +
          "CAST(c.n_keys * 10000 // e.tot AS BIGINT) AS share_bps, " +
          "CAST(e.mx * 100 // e.mn AS BIGINT) AS imbalance_pct " +
          "FROM c, e ORDER BY node"
      })
  )
}
