package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import TestData._

/** Deduplication operators for a training-data pipeline: exact (hash
  * groupBy), n-gram Jaccard (shingle self-join), MinHash+LSH banding,
  * SimHash, and embedding-cosine near-dup.
  *
  * Scale notes (100 TB posture):
  *  - exact dedup is a single hash aggregation on the dedup key — Spark's
  *    partial aggregation makes the map side collapse duplicates before
  *    the shuffle;
  *  - Jaccard/MinHash candidate generation only ever joins on shingle /
  *    band-bucket keys, never all-pairs; skewed hub shingles would be the
  *    bottleneck at scale and are handled by AQE skew-join splitting;
  *  - signatures are fixed-width (16 hashes / 32 bits), so the shuffle
  *    payload per doc is O(1), not O(len).
  */
object DedupOps {

  /** Raw (non-distinct) word 3-gram shingles per document — the single
    * source of tokenization truth for both the string-keyed and
    * hash-keyed variants (and mirrored by the oracle CTEs).
    */
  private def rawShingles(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 2), " +
          "i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ', element_at(w, i + 2)))"))
        .as("s"))

  /** Distinct word 3-gram shingles per document (spec-facing; the
    * min-hash paths feed [[rawShingles]] directly since the per-bucket
    * min is duplicate-insensitive and the distinct would shuffle full
    * strings for nothing).
    */
  private[graft] def shingles(docs: DataFrame): DataFrame =
    rawShingles(docs).distinct()

  private val NumHashes = 16
  private val BandSize = 4 // 4 bands x 4 rows

  /** (d1, d2, inter, jaccard) candidate pairs over md5-60-bit hashed
    * word-3-gram shingles (shared by q24 ranking and q64 clustering).
    * Blocking via the shingle self-join — never all-pairs.
    */
  /** The shared 60-bit hash bridge: leading 15 hex chars of md5 as a
    * positive BIGINT — identical in DuckDB as
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`, so every operator keyed
    * on it stays oracle-exact while shuffling fixed-width longs.
    */
  private[graft] def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Distinct 60-bit-hashed shingles per doc, computed PER ROW by the
    * scalar [[graft.functions.ShingleHashArray]] expression and then
    * exploded. Shared by the Jaccard pair join, decontamination, and
    * the composed curation pipeline. Row-identical to the explode ->
    * md5 -> distinct() pipeline (the law's oracle in PropertySpec), but
    * with zero exchanges: doc_id is unique in every caller's frame, so
    * that corpus-wide distinct's only effect was within-document dedup
    * — an in-row sort — while shuffling the corpus's whole shingle
    * volume.
    */
  private[graft] def hashedShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.ShingleHashes.hashesCol(col("text"))).as("s"))

  /** (doc_id, arr): each document's sorted-distinct hashed-shingle
    * ARRAY, the grain [[hashedShingles]] explodes from. Queries that
    * need per-doc arrays or counts downstream checkpoint THIS frame and
    * derive the exploded view from it — size(arr) and the array join
    * are then plain maps where the exploded grain paid a groupBy
    * exchange each for count and collect_list.
    */
  private[graft] def docShingleArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.ShingleHashes.hashesCol(col("text")).as("arr"))
      .where(col("arr").isNotNull)

  /** (doc_id, fp1, fp2): the 120-bit md5 exact-dedup fingerprint (two
    * 60-bit halves) — the SINGLE definition of "byte-identical text"
    * for the engine. Shared by q110's full-dedup composition and the
    * `exact_canonical` SQL view (ADVICE r11: the view inlined a copy;
    * a future fingerprint change would have silently diverged them).
    * The collapse groupBy and every map-back join downstream shuffle
    * (long, long) keys instead of document bytes — at 100 TB that is
    * kilobyte texts twice vs 16-byte keys; 120 bits keeps accidental
    * collision astronomically unlikely (birthday bound ~2^60 docs)
    * while staying byte-exact vs the GROUP BY text oracle.
    */
  private[graft] def docFingerprints(docs: DataFrame): DataFrame =
    docs
      .withColumn("h", md5(col("text")))
      .select(col("doc_id"),
        conv(substring(col("h"), 1, 15), 16, 10).cast("long").as("fp1"),
        conv(substring(col("h"), 16, 15), 16, 10).cast("long").as("fp2"))

  /** Exact-collapse over [[docFingerprints]]: one row per distinct
    * fingerprint with the min-doc_id representative as `repCol`.
    */
  private[graft] def exactCollapse(fp: DataFrame, repCol: String): DataFrame =
    fp.groupBy("fp1", "fp2").agg(min("doc_id").as(repCol))

  /** Tile count for q27's exact O(N^2) pair join: each vector fans into
    * O(B) tile keys and each task compares one (N/B) x (N/B) tile, so B
    * spreads the quadratic FLOPs over B(B+1)/2 tasks. 8 suits local[32];
    * a 1000-executor deployment raises it so tiles stay cache-sized. Any
    * B >= 1 yields the identical pair set (ScaleParamSpec pins B in
    * {1, 3, 5, 8}).
    */
  private val TileCount = 8

  /** Exact cosine near-dup pairs above `threshold` via a TILED
    * self-join: block g = vec_id mod B; side A owns tiles (g, j) for
    * j >= g, side B owns (i, g) for i <= g, so every unordered
    * cross-block pair meets in exactly one tile with one orientation,
    * and same-block pairs meet on the diagonal deduped by the id
    * tiebreaker. The join is a hash EQUI-join on the tile key — each
    * task compares one bounded tile in memory instead of one
    * BroadcastNestedLoopJoin owning all N^2 FLOPs.
    */
  private[graft] def tiledNearDupPairs(n: DataFrame, b: Int,
                                       threshold: Double): DataFrame = {
    require(b >= 1, s"tile count must be >= 1, got $b")
    val g = pmod(col("vec_id"), lit(b)).cast("int")
    val sideA = n.withColumn("g", g).select(col("vec_id"), col("v"),
      col("nrm"), col("g"), explode(expr(
        s"transform(sequence(g, ${b - 1}), j -> struct(g AS i, j AS j))"))
        .as("tile"))
    val sideB = n.withColumn("g", g).select(col("vec_id"), col("v"),
      col("nrm"), col("g"), explode(expr(
        s"transform(sequence(0, g), i -> struct(i AS i, g AS j))"))
        .as("tile"))
    val cos = SimilarityOps.cosine(
      col("a.v"), col("b.v"), col("a.nrm"), col("b.nrm"))
    sideA.as("a").join(sideB.as("b"),
        col("a.tile") === col("b.tile") &&
          (col("a.g") =!= col("b.g") ||
            col("a.vec_id") < col("b.vec_id")))
      .select(
        least(col("a.vec_id"), col("b.vec_id")).as("v1"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("v2"),
        cos.as("cosine"))
      .where(col("cosine") > threshold)
  }

  private[graft] def jaccardPairs(docs: DataFrame): DataFrame =
    // sh is referenced 3x (both join sides + counts). Materialization
    // choice re-measured at sf0.1 (round 3): eager localCheckpoint wins
    // (q24 2.7 s -> 1.3 s) where persist() LOSES to lazy recompute
    // (3.5 s vs 2.7 s — the columnar cache write + lost optimizer stats
    // turned the signature joins into sort-merge). The checkpoint keeps
    // plain row blocks, costs one job, and truncates the plan the three
    // consumers re-optimize. Array grain was probed here too
    // (ProbeArrayGrain2; PLANS.md, probe code at commit 9916828):
    // checkpointing the per-doc ARRAYS and deriving the join sides by
    // explode re-pays the explode once per side and
    // LOSES 1-7% to the pre-exploded checkpoint — the count exchange it
    // removes is cheaper than the double re-explode. Exploded grain
    // stands for this source; array grain is for consumers that need
    // per-doc arrays/counts downstream (q139/q151/q196/LSH rescore).
    jaccardPairsFromHashed(hashedShingles(docs).localCheckpoint(eager = true))

  /** Pair generation over an already-materialized hashed-shingle frame
    * (callers that reuse the frame checkpoint it once themselves).
    */
  private[graft] def jaccardPairsFromHashed(sh: DataFrame): DataFrame = {
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    // REPARTITION_BY_NUM on the join key before the self-join (r15):
    // the join's INPUT is a few MB of fixed-width longs, so AQE's
    // byte-based reducer coalescing serializes it onto 1-4 tasks —
    // but its OUTPUT explodes Sum df^2 per key, work the input-byte
    // cost model cannot see (guide §8: use what you know that the
    // optimizer does not). Pinning the exchange at
    // spark.sql.shuffle.partitions (the cluster-scaled conf, exempt
    // from AQE coalescing by contract) spreads the explosion across
    // the configured parallelism: ProbeR15Par 3/3 pairwise, 1.22 ->
    // 0.97 s at sf0.1, identical pair sets (PLANS.md,
    // OPTIMIZATION_r15.md; probe code at commit 9916828). At corpus
    // scale the exchange is above the coalescing floor anyway, so the pin is
    // neutral there. (The same treatment on coPurchasePairs' order
    // self-join was probed and REJECTED 0/3 — its per-key fanout is
    // bounded by order width, no explosion to spread.)
    val shP = PinnedRepartition.repartitionByConf(sh, col("s"))
    val pairs = shP.as("a").join(shP.as("b"),
      col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(cnt.as("ca"), col("d1") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("d2") === col("cb.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        (col("inter") * lit(1.0) /
          (col("ca.n") + col("cb.n") - col("inter"))).as("jaccard"))
  }

  /** Connected components by iterative min-label propagation with a
    * path-halving pointer jump, looped to fixpoint. `edges` is (d1, d2)
    * DIRECTED pairs; both directions are generated here. Returns
    * (v, component) where component = min doc_id reachable.
    *
    * localCheckpoint (not persist) each round: persist caches data but
    * the logical plan still GROWS per round and Catalyst re-optimizes
    * the whole accumulated lineage every iteration — measured 60s+ at
    * sf0.1 before truncation, ~3s after. Two rounds per convergence
    * check halves the count() actions; pointer jumping (on the second
    * round of each iteration) keeps rounds-to-converge O(log diameter)
    * at half the jump-join cost. The loop stays PARTITIONED
    * throughout — every round is joins + a min-agg hash-partitioned by
    * v / d1, exactly the shape that runs on a 1000-executor cluster;
    * AQE coalesces the tiny contracted graph's partitions at this SF
    * without serializing the plan onto one core.
    */
  private[graft] def connectedComponents(pairs: DataFrame): DataFrame = {
    // Every propagation round reads the edges: materialize them once,
    // so no round re-runs the pair pipeline behind them (persist() kept
    // the lineage and re-optimized it every round; at sf0.1 the
    // checkpoint, measured with a pre-shuffle, cut q64 from 6.4 s to
    // ~3.5 s). A checkpoint leaf carries no layout under AQE
    // (PartitionedCheckpointSpec), so each round exchanges the edges on
    // d2 itself and a pre-shuffle here would be thrown away.
    val edges = pairs.toDF("d1", "d2").unionByName(
        pairs.toDF("d2", "d1").select(col("d1"), col("d2")))
      .localCheckpoint(eager = true)
    // SEEDED init (round 15): c0(v) = min(v, min direct neighbor) — the
    // first flooding round fused into the init aggregate. The old
    // `select(d1).distinct` paid the same single exchange to produce
    // c = v; the min-aggregate costs the same exchange and starts every
    // label one hop ahead, so shallow graphs (the near-dup clusters the
    // dedup family feeds in) converge a whole iteration earlier
    // (ProbeR15CC: q64's graph 2 iters -> 1; OPTIMIZATION_r15.md,
    // probe code at commit 9916828). Only round 0 reads it, so it stays
    // lazy and round 0's checkpoint materializes it.
    val init = edges.groupBy(col("d1").as("v"))
      .agg(least(min(col("d2")), col("d1")).as("c"))
      .select(col("v"), col("c"))
    // `cL` carries the label ENTERING a step's final round, so the
    // convergence observe reads the LAST ROUND's delta during the
    // checkpoint job: a no-change final round certifies neighbor-min
    // closure (propagate and jump are both monotone decreasing, so an
    // unchanged composition means propagation alone was a no-op) — the
    // fixpoint needs no confirm iteration re-run. Capped at 12 steps.
    Fixpoint.iterate("cc", init, 12,
        changed = Some(col("c") =!= col("cL"))) {
      (prev, _) =>
        val comp = prev.select("v", "c")
        // Two flooding rounds per checkpoint; each round is ONE
        // keyed aggregate over (neighbor messages UNION self rows) —
        // the r15 union formulation drops the old per-round left-join
        // (message frame -> groupBy -> join-back was 2 joins + 1
        // aggregate; this is 1 join + 1 aggregate for the same labels,
        // measured q121's CC 2.50 -> 1.99 s alone, ProbeR15CC C;
        // OPTIMIZATION_r15.md, probe code at commit 9916828).
        // The SECOND round also path-halves (pointer jump). Jumping
        // every other round keeps the O(log d) chain guard at half the
        // per-round join cost (ProbeR15CC2 H: q121 1.99 -> 1.68 s,
        // identical labels, OPTIMIZATION_r15.md, probe code at commit
        // 9916828; flooding-only needs O(d) rounds and loses at depth —
        // 6 iters vs 4 on q121's graph — so the jump stays).
        val round1 = edges.join(comp, col("d2") === col("v"))
          .select(col("d1").as("v"), col("c"))
          .unionByName(comp.select(col("v"), col("c")))
          .groupBy("v").agg(min("c").as("c"))
        val prop2 = edges.join(round1, col("d2") === col("v"))
          .select(col("d1").as("v"), col("c"),
            lit(null).cast("long").as("cL"))
          .unionByName(round1.select(col("v"), col("c"),
            col("c").as("cL")))
          .groupBy("v")
          .agg(min("c").as("c"), max("cL").as("cL"))
        prop2.as("p").join(
            prop2.select(col("v").as("jv"), col("c").as("jc")),
            col("p.c") === col("jv"), "left")
          .select(col("p.v").as("v"),
            least(col("p.c"), coalesce(col("jc"), col("p.c"))).as("c"),
            col("p.cL").as("cL"))
    }.frame.select("v", "c")
  }

  /** PageRank over an undirected pair graph, FIXED-POINT BIGINT
    * arithmetic so the trajectory is exactly replayable by the DuckDB
    * oracle (like q101's k-means): ranks are integers scaled by 1e12,
    * every division floors, damping 0.85 is the rational 85/100 — no
    * float accumulation anywhere, so iteration order cannot matter.
    *
    * Distribution shape (the join-based PageRank that runs on a
    * 1000-executor cluster): edges are materialized ONCE, because every
    * round reads them; each round exchanges them on src for the
    * contribution join (a checkpoint leaf carries no layout under AQE,
    * PartitionedCheckpointSpec) and shuffles the rank transfer
    * (groupBy dst). The symmetric graph has no dangling nodes (deg >= 1
    * by construction), so no dangling-mass term. One scalar (node
    * count) comes to the driver, as in q64.
    */
  private[graft] def pageRank(pairs: DataFrame, iters: Int): DataFrame = {
    val scale = 1000000000000L
    val edges = pairs.toDF("d1", "d2").unionByName(
      pairs.toDF("d2", "d1").select(col("d1"), col("d2")))
      .toDF("src", "dst")
      .localCheckpoint(eager = true)
    // deg is ALSO checkpointed, because every round reads it, and each
    // round's ranks are checkpointed by the loop: without them, round
    // r's tree would re-derive deg and replay rounds 0..r-1 over the
    // edges (lineage truncation, the q64/q101 pattern).
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .localCheckpoint(eager = true)
    val n = deg.count()
    require(n > 0, "pagerank on an empty graph")
    val base = 15L * scale / (100L * n)
    // `init` projects the live deg checkpoint that every round reads;
    // the loop never releases its `init`.
    val init = deg.select(col("src").as("v"), lit(scale / n).as("r"),
      col("deg"))
    val ranks = Fixpoint.iterate("pagerank", init, iters) { (cur, _) =>
      // Union-formulated round (r15, the CC/labelprop message-aggregate
      // rewrite): contribution messages UNION per-vertex deg rows ->
      // ONE aggregate carrying both the damped sum and the degree —
      // drops the old per-round deg join-back. Row set unchanged:
      // every vertex of the symmetric graph has deg >= 1 and receives
      // >= 1 contribution (ProbeR15PR: identical output, 2/3 pairwise,
      // avg 1.42 -> 1.06 s on q118's graph at sf0.1; OPTIMIZATION_r15.md,
      // probe code at commit 9916828).
      val msgs = edges.join(cur, edges("src") === cur("v"))
        .select(col("dst").as("v"), expr("r div deg").as("c"),
          lit(null).cast("long").as("dg"))
        .unionByName(deg.select(col("src").as("v"),
          lit(null).cast("long").as("c"), col("deg").as("dg")))
      // coalesce (ADVICE r15): the symmetric graph guarantees every
      // deg >= 1 vertex receives >= 1 contribution, so sum("c") is
      // never null today — but that invariant lives in the graph
      // construction, not this aggregate. If it ever breaks, an
      // isolated-in-degree vertex now degrades to the base rank
      // instead of a silently null rank.
      msgs.groupBy("v")
        .agg(coalesce(sum("c"), lit(0L)).as("m"), max("dg").as("deg"))
        .select(col("v"), (lit(base) + expr("(85 * m) div 100")).as("r"),
          col("deg"))
    }.frame
    ranks.select(col("v").as("doc_id"), col("deg"), col("r").as("rank_fp"))
  }

  /** The shingle/count/pair CTE chain shared by the q24 and q64 oracles
    * (DuckDB twin of [[jaccardPairs]]), parameterized on the base table
    * so q110 can run it over exact-dedup representatives.
    */
  private[graft] def jaccardCteOn(tbl: String): String =
    s"""s0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM $tbl WHERE len(string_split(text, ' ')) >= 3),
       | i0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM s0),
       | sh0 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM i0),
       | sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS s FROM sh0),
       | cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       | p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
       |   FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)"""
      .stripMargin.replace("\n", "")

  private[graft] val jaccardCte = jaccardCteOn("documents")

  /** Per-document MinHash signatures (ARRAY<BIGINT> of NumHashes
    * seeded-hash minima) straight from the text column, via the scalar
    * [[graft.functions.MinHashSignature]] expression — bit-identical to
    * the [[graft.functions.MinHashAgg]] aggregate over the doc's raw
    * shingles (the law's oracle in PropertySpec) but a pure map: no
    * shingle Generate, no per-group aggregate state, no exchange
    * (doc_id is unique, so an aggregate's partial aggregation could
    * never combine anything anyway). At corpus scale the signature
    * stage is embarrassingly parallel; the only shuffle left in LSH is
    * the band-bucket join itself.
    */
  private[graft] def docSignatures(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.MinHashSig.sigCol(col("text"), NumHashes).as("sig"))
      .where(col("sig").isNotNull)

  /** (doc_id, sig) per-document TF-weighted SimHash signatures over the
    * leading `bits` bits of md5(word), via the scalar
    * [[graft.functions.SimHashSignature]] expression — a pure map,
    * bit-identical to the explode -> groupBy(doc_id) -> bit-majority
    * aggregate (the law's oracle in PropertySpec). Shared by q26
    * (bits=32) and q163 (bits=60).
    */
  private[graft] def simhashSignatures(docs: DataFrame,
                                       bits: Int): DataFrame = {
    // 32 and 60 are the widths the law and its oracle cover (the oracle
    // picks its word hash by width: md5 head-32 vs md5Long60). Any
    // other width is a loud error, not an unverified signature
    // (ADVICE r13).
    require(bits == 32 || bits == 60,
      s"simhashSignatures supports bits = 32 or 60, got $bits")
    docs.select(col("doc_id"),
      graft.functions.SimHashSig.sigCol(col("text"), bits).as("sig"))
      // Null-text docs must vanish, matching the exploded aggregate
      // (whose explode of split(NULL) emits no rows) and the DuckDB
      // oracle — the scalar expression is null exactly when text is
      // null, so this filter is a no-op on non-null corpora (ADVICE r13).
      .where(col("sig").isNotNull)
  }

  /** Band-bucket candidate pairs from minhash signatures: band key =
    * (band index, that band's signature slice), candidates = pairs
    * sharing >= 1 bucket. The join is an equi-join on the bucket —
    * bucket sizes bound the work, so a ubiquitous shingle (which moves
    * at most one of the 16 min-hashes) can never produce a
    * single-key quadratic blowup the way the exact shingle join can.
    */
  private[graft] def bandedCandidates(sig: DataFrame,
                                      bandSize: Int): DataFrame = {
    require(bandSize >= 1 && NumHashes % bandSize == 0,
      s"band size must divide $NumHashes, got $bandSize")
    val bandCols = (0 until NumHashes / bandSize).map { b =>
      struct(lit(b).as("band"),
        slice(col("sig"), b * bandSize + 1, bandSize).as("bucket"))
    }
    val banded = sig.select(col("doc_id"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bucket"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Band width for the LSH PAIR SOURCE (8 bands x 2 rows): at jaccard
    * 0.5 a pair shares a 2-row band with prob 0.25, so candidate recall
    * is 1 - (1 - 0.25)^8 ~ 0.90 — tuned for dedup at threshold 0.5,
    * where q25's 4x4 banding (recall ~0.23 at s=0.5) is tuned for
    * high-similarity retrieval. False positives cost only rescore work,
    * never correctness: every candidate is re-scored with EXACT Jaccard.
    */
  private val LshBandSize = 2

  /** Prefix-filter (PPJoin-family) candidate pairs over a hashed-
    * shingle frame: under the global rarest-first (df, s) token order,
    * any pair with Jaccard >= 0.5 must collide within each side's first
    * floor(|S|/2)+1 tokens, so only prefix tokens enter the self-join.
    * Extracted from q151 so the growth sweep can measure the candidate
    * count — the one structural growth law of the family that was an
    * argument, not a curve (VERDICT r11 #4).
    */
  private[graft] def prefixFilterCandidates(sh: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
    val pre = sh.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id").orderBy("df", "s")))
      .join(cnt, "doc_id")
      .where(col("rk") <= expr("n div 2 + 1"))
      .select(col("doc_id"), col("s"))
    pre.as("a").join(pre.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** Array-grain exact-Jaccard rescore: candidates join the per-doc
    * sorted-array frame once per side and the intersection is the
    * codegen'd sorted merge — where the exploded-grain rescore it
    * replaces paid a candidate x shingles/doc equi-join plus a groupBy
    * exchange (plus a count aggregate for the denominators), this
    * touches the same elements inside one stage (q151's verify shape).
    * Scores are identical; the one frame difference — a candidate pair
    * with an EMPTY intersection keeps its inter=0 row here where the
    * exploded join dropped it — is erased by every caller's
    * jaccard >= threshold filter (threshold > 0).
    */
  private[graft] def rescoreJaccardArrays(cand: DataFrame,
                                          da: DataFrame): DataFrame =
    cand
      .join(da.select(col("doc_id").as("d1"), col("arr").as("sa")), "d1")
      .join(da.select(col("doc_id").as("d2"), col("arr").as("sb")), "d2")
      .select(col("d1"), col("d2"),
        graft.functions.SortedIntersect
          .interCountBig(col("sa"), col("sb")).as("inter"),
        size(col("sa")).cast("long").as("na"),
        size(col("sb")).cast("long").as("nb"))
      .select(col("d1"), col("d2"), col("inter"),
        (col("inter") * lit(1.0) /
          (col("na") + col("nb") - col("inter"))).as("jaccard"))

  /** (d1, d2) pairs with (exact) jaccard >= threshold, produced by
    * `source`: "exact" = the blocked shingle self-join — every true
    * pair, cost Sum df^2; "lsh" = q25's minhash band buckets + exact
    * rescore — cost ∝ candidates,
    * recall ~0.90 at threshold 0.5, hub-shingle-proof. `shOpt` lets callers share an already-checkpointed
    * hashed-shingle frame (the exact source's grain; the LSH source
    * builds its own array frame — ProbeArrayGrain2 in PLANS.md, code at
    * commit 9916828, measured why the two sources want different grains).
    */
  private[graft] def nearDupPairs(docs: DataFrame, source: String,
                                  shOpt: Option[DataFrame] = None,
                                  threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0, s"threshold must be > 0, got $threshold")
    lazy val sh = shOpt.getOrElse(
      hashedShingles(docs).localCheckpoint(eager = true))
    val scored = source match {
      case "exact" => jaccardPairsFromHashed(sh)
      // Signatures per-row from text (no shingle Generate, no exchange);
      // min-hash is duplicate-insensitive so no distinct is needed
      // either. Rescore at array grain: counts are size(arr), the
      // intersection is the sorted merge — no candidate x shingle join.
      case "lsh" => rescoreJaccardArrays(
        bandedCandidates(docSignatures(docs), LshBandSize),
        docShingleArrays(docs).localCheckpoint(eager = true))
      case other => throw new IllegalArgumentException(
        s"unknown pair source '$other' (expected exact | lsh)")
    }
    scored.where(col("jaccard") >= threshold).select("d1", "d2")
  }

  /** The keep-list composition (pairs -> components -> canonical id)
    * shared by q85/q110 (exact source) and q105 (LSH source).
    */
  private[graft] def keepList(docs: DataFrame, source: String): DataFrame = {
    val comp = connectedComponents(nearDupPairs(docs, source))
    docs.select("doc_id")
      .join(comp, col("doc_id") === col("v"), "left")
      .select(col("doc_id"),
        coalesce(col("c"), col("doc_id")).as("canonical_id"))
      .withColumn("keep",
        (col("doc_id") === col("canonical_id")).cast("int"))
      .orderBy("doc_id")
  }

  def all: Map[String, Q] = Map(

    // Exact dedup on full text: canonical id + multiplicity per group.
    "q22_dedup_exact" -> Q(
      (s, dir) => table(s, dir, "documents")
        .groupBy("text")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
        .select("doc_id", "n_copies")
        .orderBy("doc_id"),
      Some(
        """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
          | FROM documents GROUP BY text ORDER BY doc_id""".stripMargin
          .replace("\n", ""))),

    // Exact dedup on a composite key with first-occurrence selection
    // (deterministic dropDuplicates) over the events stream.
    "q23_dedup_events" -> Q(
      (s, dir) => table(s, dir, "events")
        .groupBy("user_id", "event_type")
        .agg(min("event_id").as("first_event_id"), count(lit(1)).as("n"))
        .orderBy("user_id", "event_type"),
      Some(
        """SELECT user_id, event_type, min(event_id) AS first_event_id,
          | count(*) AS n FROM events GROUP BY user_id, event_type
          | ORDER BY user_id, event_type""".stripMargin.replace("\n", ""))),

    // Exact word-3-gram Jaccard: top-20 most similar pairs. Candidate
    // pairs come from the shingle self-join (blocking), never all-pairs.
    // The join/dedup key is the md5-derived 60-bit shingle hash, not the
    // ~25-byte shingle string: fixed-width longs shrink the shuffle and
    // the join probes, and because BOTH engines derive the identical
    // hash, intersection counts (even under a collision) stay equal —
    // the oracle remains exact.
    // Prefix-filtering set-similarity join (PPJoin-family, Xiao et al.
    // 2008): the EXACT-recall candidate reducer that complements the
    // minhash-LSH path (probabilistic) and the raw shingle self-join
    // (quadratic on hub shingles). Under a global rarest-first token
    // order (df, then token), any pair with Jaccard >= 0.5 MUST share a
    // token within each side's first floor(|S|/2)+1 tokens — so only
    // prefix tokens enter the self-join, and df ranks the prefix toward
    // the rarest tokens, exactly the ones with small join fanout.
    // Verification is candidate-restricted and the threshold test is
    // integer-exact (2*inter >= union). 100 TB posture: the join's
    // per-key cost is df^2 over PREFIX tokens only — high-df tokens are
    // systematically pushed out of prefixes, defusing the hub-shingle
    // bomb deterministically rather than probabilistically; candidate
    // volume measured at sf0.1 in PLANS.md. Recall-completeness vs the
    // full shingle join is law-tested in PipelineObsSpec.
    "q151_prefix_filter_join" -> Q(
      (s, dir) => {
        // Array grain at the source: checkpoint the per-doc sorted
        // array frame ONCE; the exploded view (for the prefix filter),
        // the per-doc counts (size), and the verify arrays are all
        // plain maps over it — the old exploded grain paid a groupBy
        // exchange each for count and collect_list.
        val da = docShingleArrays(table(s, dir, "documents"))
          .localCheckpoint(eager = true)
        val sh = da.select(col("doc_id"), explode(col("arr")).as("s"))
        val cnt = da.select(col("doc_id"),
          size(col("arr")).cast("long").as("n"))
        val cand = prefixFilterCandidates(sh)
          .localCheckpoint(eager = true)
        // verify by ARRAY INTERSECTION (q129's trick), not a 3-way join:
        // cand x per-doc shingles would materialize ~21M join rows at
        // sf0.1; intersecting the two sorted per-doc shingle arrays
        // inside one codegen stage touches the same elements with no
        // join-row explosion.
        val arrs = da
        val inter = cand
          .join(arrs.select(col("doc_id").as("d1"), col("arr").as("sa")),
            "d1")
          .join(arrs.select(col("doc_id").as("d2"), col("arr").as("sb")),
            "d2")
          .select(col("d1"), col("d2"),
            graft.functions.SortedIntersect
              .interCountBig(col("sa"), col("sb")).as("inter"))
        inter
          .join(cnt.as("ca"), col("d1") === col("ca.doc_id"))
          .join(cnt.as("cb"), col("d2") === col("cb.doc_id"))
          .withColumn("union_n", col("ca.n") + col("cb.n") - col("inter"))
          .where(col("inter") * 2 >= col("union_n"))
          .select(col("d1"), col("d2"), col("inter"),
            expr("inter * 10000 div union_n").as("jaccard_bps"))
          .orderBy("d1", "d2")
      },
      Some(
        s"""WITH $jaccardCte,
           | dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
           | rk AS (SELECT sh.doc_id, sh.s, cnt.n,
           |     row_number() OVER (PARTITION BY sh.doc_id ORDER BY dfq.df, sh.s) AS rk
           |   FROM sh JOIN dfq USING (s) JOIN cnt USING (doc_id)),
           | pre AS (SELECT doc_id, s FROM rk WHERE rk <= n // 2 + 1),
           | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
           |   FROM pre a JOIN pre b ON a.s = b.s AND a.doc_id < b.doc_id),
           | it AS (SELECT c.d1, c.d2, count(*) AS inter FROM cand c
           |   JOIN sh x ON x.doc_id = c.d1
           |   JOIN sh y ON y.doc_id = c.d2 AND y.s = x.s GROUP BY 1, 2)
           | SELECT it.d1, it.d2, it.inter,
           |   CAST(it.inter * 10000 // (ca.n + cb.n - it.inter) AS BIGINT) AS jaccard_bps
           | FROM it JOIN cnt ca ON it.d1 = ca.doc_id
           |   JOIN cnt cb ON it.d2 = cb.doc_id
           | WHERE 2 * it.inter >= ca.n + cb.n - it.inter
           | ORDER BY d1, d2""".stripMargin.replace("\n", ""))),

    // CONTAINMENT (asymmetric) similarity join: (da, db) pairs where at
    // least 3/4 of da's distinct shingles also occur in db — the
    // quote/excerpt relation symmetric Jaccard misses (a 100-word
    // excerpt inside a 10k-word page has jaccard ~0.01 but containment
    // ~1.0; q148's winnowing catches shared RUNS, this catches shared
    // SETS under paraphrase-reordering). Candidate generation is the
    // ONE-SIDED prefix filter: under the global rarest-first (df, s)
    // token order, if none of da's first floor(n_a/4)+1 tokens occur in
    // db then inter <= n_a - floor(n_a/4) - 1 = ceil(3*n_a/4) - 1, so
    // every qualifying pair collides on a probe-prefix token —
    // recall-exact while only the rarest quarter of each doc ever
    // probes the index. Join volume is sum(df) over prefix tokens (hub
    // shingles sort out of every prefix); verification is the sorted-
    // array intersection (q151's shape), never a 3-way join. At 100 TB
    // the full-shingle index side partitions by hash and the probe
    // carries ~n/4 of the corpus shingle volume.
    "q196_containment_pairs" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // Array grain at the source (q151's shape): counts and verify
        // arrays are maps over the checkpointed array frame.
        val da = docShingleArrays(table(s, dir, "documents"))
          .localCheckpoint(eager = true)
        val sh = da.select(col("doc_id"), explode(col("arr")).as("s"))
        val cnt = da.select(col("doc_id"),
          size(col("arr")).cast("long").as("n"))
        val dfreq = sh.groupBy("s").agg(count(lit(1)).as("df"))
        val pre = sh.join(dfreq, "s")
          .withColumn("rk", row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "s")))
          .join(cnt, "doc_id")
          .where(col("rk") <= expr("n div 4 + 1"))
          .select(col("doc_id"), col("s"))
        val cand = pre.as("a").join(sh.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") =!= col("b.doc_id"))
          .select(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
          .distinct()
          .localCheckpoint(eager = true)
        // size pre-filter before the array verify: containment needs
        // inter >= 3/4*na and inter <= nb, so 4*nb >= 3*na — sound to
        // drop undersized containers on long keys before any shingle
        // array moves (measured at sf0.1: 391k -> 284k pairs)
        val sized = cand
          .join(cnt.select(col("doc_id").as("da"), col("n").as("pna")), "da")
          .join(cnt.select(col("doc_id").as("db"), col("n").as("pnb")), "db")
          .where(col("pnb") * 4 >= col("pna") * 3)
          .select("da", "db")
        sized
          .join(da.select(col("doc_id").as("da"), col("arr").as("sa")),
            "da")
          .join(da.select(col("doc_id").as("db"), col("arr").as("sb")),
            "db")
          .select(col("da"), col("db"),
            size(col("sa")).cast("bigint").as("na"),
            size(col("sb")).cast("bigint").as("nb"),
            graft.functions.SortedIntersect
              .interCountBig(col("sa"), col("sb")).as("inter"))
          .where(col("inter") * 4 >= col("na") * 3)
          .select(col("da"), col("db"), col("na"), col("nb"), col("inter"),
            expr("inter * 10000 div na").as("containment_bps"))
          .orderBy("da", "db")
      },
      Some(
        s"""WITH $jaccardCte,
           | dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY 1),
           | rk AS (SELECT sh.doc_id, sh.s, cnt.n,
           |     row_number() OVER (PARTITION BY sh.doc_id ORDER BY dfq.df, sh.s) AS rk
           |   FROM sh JOIN dfq USING (s) JOIN cnt USING (doc_id)),
           | pre AS (SELECT doc_id, s FROM rk WHERE rk <= n // 4 + 1),
           | cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
           |   FROM pre a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id),
           | it AS (SELECT c.da, c.db, count(*) AS inter FROM cand c
           |   JOIN sh x ON x.doc_id = c.da
           |   JOIN sh y ON y.doc_id = c.db AND y.s = x.s GROUP BY 1, 2)
           | SELECT it.da, it.db, ca.n AS na, cb.n AS nb, it.inter,
           |   CAST(it.inter * 10000 // ca.n AS BIGINT) AS containment_bps
           | FROM it JOIN cnt ca ON it.da = ca.doc_id
           |   JOIN cnt cb ON it.db = cb.doc_id
           | WHERE 4 * it.inter >= 3 * ca.n
           | ORDER BY da, db""".stripMargin.replace("\n", ""))),

    // Golden-record SURVIVORSHIP — the merge step after dedup: q85
    // only picks which doc survives; this builds the merged record a
    // warehouse actually keeps. Per near-dup cluster (q64's jaccard >=
    // 0.5 components) the survivor rules are: representative = min
    // doc_id (stable keep-first), best text = longest member (max
    // n_chars, tie min doc_id — the completeness rule), provenance =
    // distinct source count, lang = modal value with deterministic
    // ties (count desc, then lang). The member attributes join the
    // cluster map on doc_id; every rule is a window/aggregate over the
    // SAME cluster key, so the best-row rank and survivor aggregate
    // reuse one exchange, and the modal-lang rank runs over the
    // collapsed (cluster, lang) aggregate — cluster-sized frames,
    // never corpus-sized.
    "q198_golden_record" -> Q(
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val jp = jaccardPairs(table(s, dir, "documents"))
          .where(col("jaccard") >= 0.5).select("d1", "d2")
        val cc = connectedComponents(jp)
          .select(col("v").as("doc_id"), col("c").as("cluster_id"))
        val m = cc.join(table(s, dir, "documents")
            .select(col("doc_id"), col("source"), col("lang"),
              col("n_chars")), "doc_id")
          .localCheckpoint(eager = true)
        val best = m.withColumn("brk", row_number().over(
            Window.partitionBy("cluster_id")
              .orderBy(col("n_chars").desc, col("doc_id"))))
          .where(col("brk") === 1)
          .select(col("cluster_id"), col("doc_id").as("best_doc_id"),
            col("n_chars").as("best_n_chars"))
        val a = m.groupBy("cluster_id").agg(count(lit(1)).as("n_members"),
          min("doc_id").as("rep_doc_id"),
          countDistinct("source").as("n_sources"))
        val ml = m.groupBy("cluster_id", "lang").agg(count(lit(1)).as("c"))
          .withColumn("lrk", row_number().over(
            Window.partitionBy("cluster_id")
              .orderBy(col("c").desc, col("lang"))))
          .where(col("lrk") === 1)
          .select(col("cluster_id"), col("lang").as("modal_lang"))
        a.join(best, "cluster_id").join(ml, "cluster_id")
          .select(col("cluster_id"), col("rep_doc_id"), col("n_members"),
            col("n_sources"), col("best_doc_id"), col("best_n_chars"),
            col("modal_lang"))
          .orderBy("rep_doc_id")
      },
      Some(
        s"""WITH RECURSIVE $jaccardCte,
           | jp AS (SELECT p.d1, p.d2 FROM p
           |   JOIN cnt ca ON p.d1 = ca.doc_id JOIN cnt cb ON p.d2 = cb.doc_id
           |   WHERE p.inter * 1.0 / (ca.n + cb.n - p.inter) >= 0.5),
           | edges AS (SELECT d1 AS a, d2 AS b FROM jp UNION ALL SELECT d2, d1 FROM jp),
           | nodes AS (SELECT DISTINCT a AS v FROM edges),
           | reach(v, m) AS (SELECT v, v FROM nodes
           |   UNION SELECT e.a, r.m FROM edges e JOIN reach r ON r.v = e.b),
           | cm AS (SELECT r.v AS doc_id, min(r.m) AS cluster_id FROM reach r GROUP BY r.v),
           | mm AS (SELECT cm.cluster_id, d.doc_id, d.source, d.lang, d.n_chars
           |   FROM cm JOIN documents d ON d.doc_id = cm.doc_id),
           | best AS (SELECT cluster_id, doc_id AS best_doc_id, n_chars AS best_n_chars,
           |     row_number() OVER (PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS brk
           |   FROM mm),
           | a AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members,
           |     min(doc_id) AS rep_doc_id,
           |     CAST(count(DISTINCT source) AS BIGINT) AS n_sources
           |   FROM mm GROUP BY cluster_id),
           | lc AS (SELECT cluster_id, lang, count(*) AS c FROM mm GROUP BY cluster_id, lang),
           | ml AS (SELECT cluster_id, lang AS modal_lang,
           |     row_number() OVER (PARTITION BY cluster_id ORDER BY c DESC, lang) AS lrk
           |   FROM lc)
           | SELECT a.cluster_id, a.rep_doc_id, a.n_members, a.n_sources,
           |   b.best_doc_id, b.best_n_chars, ml.modal_lang
           | FROM a JOIN best b ON b.cluster_id = a.cluster_id AND b.brk = 1
           |   JOIN ml ON ml.cluster_id = a.cluster_id AND ml.lrk = 1
           | ORDER BY rep_doc_id""".stripMargin.replace("\n", ""))),

    "q24_jaccard_pairs" -> Q(
      (s, dir) => jaccardPairs(table(s, dir, "documents"))
        .orderBy(desc("jaccard"), col("d1"), col("d2"))
        .limit(20),
      Some(
        s"""WITH $jaccardCte
           | SELECT p.d1, p.d2, p.inter, p.inter * 1.0 / (ca.n + cb.n - p.inter) AS jaccard
           | FROM p JOIN cnt ca ON p.d1 = ca.doc_id JOIN cnt cb ON p.d2 = cb.doc_id
           | ORDER BY jaccard DESC, d1, d2 LIMIT 20""".stripMargin
          .replace("\n", ""))),

    // MULTI-WAY set-similarity join (VERDICT r7 #8's "new plan shape"):
    // triples of documents MUTUALLY sharing >= 3 distinct shingles —
    // pairwise similarity does not imply mutual similarity, so the
    // operator closes triangles over the similarity-pair graph. Plan
    // shape: the pair list comes from the shared-shingle equi-join
    // (same bucketed generation as q24) and the 3-way closure joins the
    // thresholded EDGE LIST against itself
    // twice — answer-proportional work over the sparse post-threshold
    // graph, never a doc-grain 3-way join (which would be O(N^3) at
    // the corpus grain). Integer intersection counts only — exact
    // cross-engine.
    "q269_similar_triples" -> Q(
      (s, dir) => {
        val sh = hashedShingles(table(s, dir, "documents"))
          .localCheckpoint(eager = true)
        // Same REPARTITION_BY_NUM-before-the-exploding-self-join as
        // jaccardPairsFromHashed (r15) — see the comment there.
        val shP = PinnedRepartition.repartitionByConf(sh, col("s"))
        val e = shP.as("a").join(shP.as("b"),
            col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .agg(count(lit(1)).as("inter"))
          .where(col("inter") >= 3)
          .localCheckpoint(eager = true)
        e.as("e1")
          .join(e.as("e2"), col("e2.d1") === col("e1.d2"))
          .join(e.as("e3"), col("e3.d1") === col("e1.d1") &&
            col("e3.d2") === col("e2.d2"))
          .select(col("e1.d1").as("d1"), col("e1.d2").as("d2"),
            col("e2.d2").as("d3"), col("e1.inter").as("i12"),
            col("e3.inter").as("i13"), col("e2.inter").as("i23"))
          .orderBy("d1", "d2", "d3")
      },
      Some(
        s"""WITH $jaccardCte,
           | e AS (SELECT d1, d2, inter FROM p WHERE inter >= 3)
           | SELECT e1.d1 AS d1, e1.d2 AS d2, e2.d2 AS d3,
           |   e1.inter AS i12, e3.inter AS i13, e2.inter AS i23
           | FROM e e1 JOIN e e2 ON e2.d1 = e1.d2
           |   JOIN e e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
           | ORDER BY d1, d2, d3""".stripMargin.replace("\n", ""))),

    // Near-dup clustering: connected components over the jaccard >= 0.5
    // pair graph via iterative min-label propagation with pointer
    // jumping (join + min-agg per round, partitioned by vertex
    // throughout, looped to fixpoint; only the per-round CHANGED count —
    // one long — ever reaches the driver). The returned frame reads the
    // final round's localCheckpoint blocks, so it stays valid after the
    // edge cache is released and nothing is collected.
    // Oracle: DuckDB recursive CTE computing min reachable id.
    "q64_dup_clusters" -> Q(
      (s, dir) => {
        val jp = jaccardPairs(table(s, dir, "documents"))
          .where(col("jaccard") >= 0.5).select("d1", "d2")
        connectedComponents(jp)
          .select(col("v").as("doc_id"), col("c").as("cluster_id"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH RECURSIVE $jaccardCte,
           | jp AS (SELECT p.d1, p.d2 FROM p
           |   JOIN cnt ca ON p.d1 = ca.doc_id JOIN cnt cb ON p.d2 = cb.doc_id
           |   WHERE p.inter * 1.0 / (ca.n + cb.n - p.inter) >= 0.5),
           | edges AS (SELECT d1 AS a, d2 AS b FROM jp UNION ALL SELECT d2, d1 FROM jp),
           | nodes AS (SELECT DISTINCT a AS v FROM edges),
           | reach(v, m) AS (SELECT v, v FROM nodes
           |   UNION SELECT e.a, r.m FROM edges e JOIN reach r ON r.v = e.b)
           | SELECT v AS doc_id, min(m) AS cluster_id FROM reach GROUP BY v
           | ORDER BY doc_id""".stripMargin.replace("\n", ""))),

    // The complete near-dup REMOVAL operator: pair detection (q24's
    // blocked Jaccard) -> clustering (q64's distributed components) ->
    // keep-list (cluster representative = min doc_id; singletons keep
    // themselves). This is the operator a training-data pipeline
    // actually runs — q24/q64 expose its stages.
    // Exact pair source (the blocked shingle self-join — every true
    // pair, cost Sum df^2); the LSH source has its own entry, q105.
    "q85_dedup_keeplist" -> Q(
      (s, dir) => keepList(table(s, dir, "documents"), "exact"),
      Some(
        s"""WITH RECURSIVE $jaccardCte,
           | jp AS (SELECT p.d1, p.d2 FROM p
           |   JOIN cnt ca ON p.d1 = ca.doc_id JOIN cnt cb ON p.d2 = cb.doc_id
           |   WHERE p.inter * 1.0 / (ca.n + cb.n - p.inter) >= 0.5),
           | edges AS (SELECT d1 AS a, d2 AS b FROM jp UNION ALL SELECT d2, d1 FROM jp),
           | nodes AS (SELECT DISTINCT a AS v FROM edges),
           | reach(v, m) AS (SELECT v, v FROM nodes
           |   UNION SELECT e.a, r.m FROM edges e JOIN reach r ON r.v = e.b),
           | comp AS (SELECT v, min(m) AS c FROM reach GROUP BY v)
           | SELECT d.doc_id, coalesce(comp.c, d.doc_id) AS canonical_id,
           |   CAST(d.doc_id = coalesce(comp.c, d.doc_id) AS INT) AS keep
           | FROM documents d LEFT JOIN comp ON d.doc_id = comp.v
           | ORDER BY d.doc_id""".stripMargin.replace("\n", ""))),

    // The LSH-sourced keep-list — q85's scale path as a FIRST-CLASS
    // catalog entry with its own full oracle: minhash band-bucket
    // candidates (8 bands x 2 rows; recall ~0.90 at jaccard 0.5) ->
    // exact-Jaccard rescore of candidates only -> components ->
    // keep-list. Cost is candidates x shingles/doc, immune to the
    // hub-shingle Sum df^2 blowup; the whole path is deterministic
    // (md5-affine hash family), so DuckDB replays EVERY stage —
    // signatures, buckets, candidate set, rescore, clustering — and the
    // hash gate checks the LSH path end-to-end, not just its recall.
    "q105_keeplist_lsh" -> Q(
      (s, dir) => keepList(table(s, dir, "documents"), "lsh"),
      Some {
        import graft.functions.MinHashAgg.{As, Bs, P}
        val abValues = (0 until NumHashes)
          .map(j => s"($j, ${As(j)}, ${Bs(j)})").mkString(", ")
        val bandValues = (0 until NumHashes / LshBandSize)
          .map(b => s"($b)").mkString(", ")
        s"""WITH RECURSIVE s0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
           | i0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM s0),
           | sh0 AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM i0),
           | shs AS (SELECT DISTINCT doc_id, s FROM sh0),
           | hx AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x FROM shs),
           | ab AS (SELECT * FROM (VALUES $abValues) t(j, a, b)),
           | hj AS (SELECT doc_id, j, min((a * x + b) % $P) AS h FROM hx CROSS JOIN ab GROUP BY doc_id, j),
           | sig AS (SELECT doc_id, list(h ORDER BY j) AS sig FROM hj GROUP BY doc_id),
           | band AS (SELECT doc_id, bnd, sig[bnd * $LshBandSize + 1 : bnd * $LshBandSize + $LshBandSize] AS bucket
           |   FROM sig CROSS JOIN (VALUES $bandValues) t(bnd)),
           | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM band a
           |   JOIN band b ON a.bnd = b.bnd AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           | sh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS s FROM sh0),
           | cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
           | inter AS (SELECT c.d1, c.d2, count(*) AS inter FROM cand c
           |   JOIN sh a ON a.doc_id = c.d1 JOIN sh b ON b.doc_id = c.d2 AND b.s = a.s
           |   GROUP BY c.d1, c.d2),
           | jp AS (SELECT i.d1, i.d2 FROM inter i
           |   JOIN cnt ca ON i.d1 = ca.doc_id JOIN cnt cb ON i.d2 = cb.doc_id
           |   WHERE i.inter * 1.0 / (ca.n + cb.n - i.inter) >= 0.5),
           | edges AS (SELECT d1 AS a, d2 AS b FROM jp UNION ALL SELECT d2, d1 FROM jp),
           | nodes AS (SELECT DISTINCT a AS v FROM edges),
           | reach(v, m) AS (SELECT v, v FROM nodes
           |   UNION SELECT e.a, r.m FROM edges e JOIN reach r ON r.v = e.b),
           | comp AS (SELECT v, min(m) AS c FROM reach GROUP BY v)
           | SELECT d.doc_id, coalesce(comp.c, d.doc_id) AS canonical_id,
           |   CAST(d.doc_id = coalesce(comp.c, d.doc_id) AS INT) AS keep
           | FROM documents d LEFT JOIN comp ON d.doc_id = comp.v
           | ORDER BY d.doc_id""".stripMargin.replace("\n", "")
      }),

    // The FULL production dedup composition: exact dedup FIRST (collapse
    // identical texts to their min-id representative), near-dup
    // keep-list over the REPRESENTATIVES only, then expand the verdict
    // back over all documents. Running exact-collapse first is what a
    // 100 TB pipeline actually does — it shrinks the quadratic near-dup
    // problem to unique texts and, for the LSH source, bounds band-
    // bucket skew (a million exact copies would otherwise share every
    // bucket; after collapse a bucket's size tracks genuinely-similar
    // UNIQUE docs, whose pairs the answer needs anyway). Exact pair
    // source, like q85/q96.
    "q110_full_dedup" -> Q(
      (s, dir) => {
        // Exact-collapse keyed on the shared 120-bit fingerprint
        // ([[docFingerprints]] — single definition with the
        // exact_canonical SQL view), NOT raw text: shuffles 16-byte
        // keys, never document bytes.
        val docs = table(s, dir, "documents")
        val fp = docFingerprints(docs)
        // ex feeds BOTH the reps branch and the final expansion join —
        // checkpoint it eagerly so the corpus-wide collapse shuffle
        // (the heaviest exchange here) runs once, not once per consumer.
        val ex = exactCollapse(fp, "rep_id")
          .localCheckpoint(eager = true)
        val reps = docs.as("d")
          .join(ex.as("e"), col("d.doc_id") === col("e.rep_id"))
          .select(col("d.doc_id"), col("d.text"))
        val nd = keepList(reps, "exact")
          .select(col("doc_id").as("rep_id"), col("canonical_id"))
        fp.select(col("doc_id"), col("fp1"), col("fp2"))
          .join(ex, Seq("fp1", "fp2"))
          .join(nd, "rep_id")
          .select(col("doc_id"), col("rep_id"), col("canonical_id"),
            (col("doc_id") === col("canonical_id")).cast("int").as("keep"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH RECURSIVE ex AS (SELECT text, min(doc_id) AS rep_id FROM documents GROUP BY text),
           | reps AS (SELECT rep_id AS doc_id, text FROM ex),
           | ${jaccardCteOn("reps")},
           | jp AS (SELECT p.d1, p.d2 FROM p
           |   JOIN cnt ca ON p.d1 = ca.doc_id JOIN cnt cb ON p.d2 = cb.doc_id
           |   WHERE p.inter * 1.0 / (ca.n + cb.n - p.inter) >= 0.5),
           | edges AS (SELECT d1 AS a, d2 AS b FROM jp UNION ALL SELECT d2, d1 FROM jp),
           | nodes AS (SELECT DISTINCT a AS v FROM edges),
           | reach(v, m) AS (SELECT v, v FROM nodes
           |   UNION SELECT e.a, r.m FROM edges e JOIN reach r ON r.v = e.b),
           | comp AS (SELECT v, min(m) AS c FROM reach GROUP BY v),
           | nd AS (SELECT r.doc_id AS rep_id, coalesce(comp.c, r.doc_id) AS canonical_id
           |   FROM reps r LEFT JOIN comp ON r.doc_id = comp.v),
           | mm AS (SELECT d.doc_id, e.rep_id FROM documents d JOIN ex e USING (text))
           | SELECT mm.doc_id, mm.rep_id, nd.canonical_id,
           |   CAST(mm.doc_id = nd.canonical_id AS INT) AS keep
           | FROM mm JOIN nd USING (rep_id) ORDER BY mm.doc_id"""
          .stripMargin.replace("\n", ""))),

    // PageRank (3 iterations, damping 0.85) over the near-dup pair
    // graph — centrality within duplicate clusters identifies the
    // "canonical-est" representative (the doc most near-dup'd by
    // others), a better keep-list policy than min-id when duplicates
    // differ in quality. Fixed-point BIGINT trajectory (see pageRank)
    // so the oracle replays all three iterations exactly, unrolled as
    // chained CTEs (no recursion needed for a fixed depth).
    "q118_pagerank" -> Q(
      (s, dir) => {
        val jp = jaccardPairs(table(s, dir, "documents"))
          .where(col("jaccard") >= 0.5).select("d1", "d2")
        pageRank(jp, iters = 3).orderBy("doc_id")
      },
      Some {
        def round(prev: String, out: String): String =
          s""" $out AS (SELECT e.dst AS v, CAST(b.base + (85 * sum($prev.r // d.deg)) // 100 AS BIGINT) AS r
             |   FROM edges e JOIN $prev ON $prev.v = e.src
             |   JOIN deg d ON d.src = e.src CROSS JOIN b
             |   GROUP BY e.dst, b.base)""".stripMargin
        s"""WITH $jaccardCte,
           | jp AS (SELECT p.d1, p.d2 FROM p
           |   JOIN cnt ca ON p.d1 = ca.doc_id JOIN cnt cb ON p.d2 = cb.doc_id
           |   WHERE p.inter * 1.0 / (ca.n + cb.n - p.inter) >= 0.5),
           | edges AS (SELECT d1 AS src, d2 AS dst FROM jp UNION ALL SELECT d2, d1 FROM jp),
           | deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           | nn AS (SELECT count(*) AS n FROM deg),
           | b AS (SELECT (15 * 1000000000000) // (100 * nn.n) AS base FROM nn),
           | r0 AS (SELECT deg.src AS v, 1000000000000 // nn.n AS r FROM deg CROSS JOIN nn),
           |${round("r0", "r1")},
           |${round("r1", "r2")},
           |${round("r2", "r3")}
           | SELECT r3.v AS doc_id, d.deg, r3.r AS rank_fp
           | FROM r3 JOIN deg d ON d.src = r3.v ORDER BY doc_id"""
          .stripMargin.replace("\n", "")
      }),

    // Benchmark decontamination: flag corpus docs sharing any word-3-gram
    // with a held-out benchmark set (doc_id % 97 == 0 here) — the
    // train/test-leak guard every training-data pipeline needs. The
    // benchmark shingle set is DISTINCT + broadcast (benchmark suites are
    // tiny next to the corpus), so the check is one broadcast hash join
    // over the corpus shingles + a count per doc — no shuffle of the
    // corpus side beyond the per-doc aggregation.
    "q86_decontaminate" -> Q(
      (s, dir) => {
        val sh = hashedShingles(table(s, dir, "documents"))
        val bench = sh.where(col("doc_id") % 97 === 0)
          .select("s").distinct()
        sh.where(col("doc_id") % 97 =!= 0)
          .join(broadcast(bench), "s")
          .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $jaccardCte,
           | bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0)
           | SELECT sh.doc_id, count(*) AS n_overlap
           | FROM sh JOIN bench USING (s) WHERE sh.doc_id % 97 <> 0
           | GROUP BY sh.doc_id ORDER BY doc_id""".stripMargin
          .replace("\n", ""))),

    // MinHash + LSH banding: 16 hashes, 4 bands of 4 rows; candidate
    // pairs share >=1 band bucket; est_sim = signature agreement rate.
    // Bucket key = the band's 4-element signature slice itself (array
    // equi-join) — no second hash, and the DuckDB oracle replays the
    // whole md5-affine hash family exactly (constants interpolated from
    // MinHashAgg.As/Bs).
    "q25_minhash_lsh" -> Q(
      (s, dir) => {
        val sig = docSignatures(table(s, dir, "documents"))
        val cand = bandedCandidates(sig, BandSize)
        val agree = aggregate(
          zip_with(col("sa.sig"), col("sb.sig"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x)
        cand
          .join(sig.as("sa"), col("d1") === col("sa.doc_id"))
          .join(sig.as("sb"), col("d2") === col("sb.doc_id"))
          .select(col("d1"), col("d2"),
            (agree * lit(1.0) / lit(NumHashes)).as("est_sim"))
          .orderBy(desc("est_sim"), col("d1"), col("d2"))
          .limit(200)
      },
      Some {
        import graft.functions.MinHashAgg.{As, Bs, P}
        val abValues = (0 until NumHashes)
          .map(j => s"($j, ${As(j)}, ${Bs(j)})").mkString(", ")
        val bandValues = (0 until NumHashes / BandSize)
          .map(b => s"($b)").mkString(", ")
        s"""WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
           | i0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM s0),
           | sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM i0),
           | hx AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x FROM sh),
           | ab AS (SELECT * FROM (VALUES $abValues) t(j, a, b)),
           | hj AS (SELECT doc_id, j, min((a * x + b) % $P) AS h FROM hx CROSS JOIN ab GROUP BY doc_id, j),
           | sig AS (SELECT doc_id, list(h ORDER BY j) AS sig FROM hj GROUP BY doc_id),
           | band AS (SELECT doc_id, bnd, sig[bnd * $BandSize + 1 : bnd * $BandSize + $BandSize] AS bucket
           |   FROM sig CROSS JOIN (VALUES $bandValues) t(bnd)),
           | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM band a
           |   JOIN band b ON a.bnd = b.bnd AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           | sim AS (SELECT d1, d2,
           |   list_reduce(list_transform(list_zip(sa.sig, sb.sig), p -> CASE WHEN p[1] = p[2] THEN 1 ELSE 0 END), (x, y) -> x + y) * 1.0 / $NumHashes AS est_sim
           |   FROM cand JOIN sig sa ON d1 = sa.doc_id JOIN sig sb ON d2 = sb.doc_id)
           | SELECT d1, d2, est_sim FROM sim
           | ORDER BY est_sim DESC, d1, d2 LIMIT 200""".stripMargin
          .replace("\n", "")
      }),

    // MinHash calibration — the measurement that justifies trusting a
    // sketch at 100 TB: for every LSH candidate pair, compare the
    // 16-hash signature's similarity ESTIMATE against the EXACT shingle
    // Jaccard, and report the error distribution in 10%-wide buckets
    // (pair count, mean estimated vs mean true similarity, worst
    // error). All ratios are integer bps with a fixed denominator, so
    // both engines hash identically. 100 TB posture: the exact side is
    // computed ONLY for candidate pairs (bounded by banding, never
    // all-pairs); the per-pair intersection is an equi-join on hashed
    // shingles whose volume is sum over candidates of one doc's
    // shingle count; the report collapses to <= 11 buckets map-side.
    "q139_minhash_calibration" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val sig = docSignatures(docs).localCheckpoint()
        val cand = bandedCandidates(sig, BandSize)
        // Exact side at array grain: per-candidate intersection is the
        // codegen'd sorted merge over the per-doc arrays, denominators
        // are size(arr) — no candidate x shingle join, no count
        // exchange (the left-join + coalesce(inter, 0) the exploded
        // grain needed for empty intersections is gone too: the merge
        // yields 0 directly).
        val da = docShingleArrays(docs).localCheckpoint()
        val agree = aggregate(
          zip_with(col("sa.sig"), col("sb.sig"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x)
        val scored = cand
          .join(sig.as("sa"), col("d1") === col("sa.doc_id"))
          .join(sig.as("sb"), col("d2") === col("sb.doc_id"))
          .join(da.select(col("doc_id").as("d1"), col("arr").as("aa")),
            "d1")
          .join(da.select(col("doc_id").as("d2"), col("arr").as("ab")),
            "d2")
          .select(agree.as("agree"),
            graft.functions.SortedIntersect
              .interCountBig(col("aa"), col("ab")).as("inter"),
            (size(col("aa")) + size(col("ab"))).cast("long").as("nn"))
          .select(col("agree"), col("inter"),
            (col("nn") - col("inter")).as("uni"))
          .select(
            expr(s"abs(agree * uni - $NumHashes * inter) * 10000" +
              s" div ($NumHashes * uni)").as("err_bps"),
            expr(s"agree * 10000 div $NumHashes").as("est_bps"),
            expr("inter * 10000 div uni").as("exact_bps"))
        scored
          .withColumn("err_bucket", expr("err_bps div 1000"))
          .groupBy("err_bucket")
          .agg(count(lit(1)).as("n_pairs"),
            expr("sum(est_bps) div count(1)").as("avg_est_bps"),
            expr("sum(exact_bps) div count(1)").as("avg_exact_bps"),
            max("err_bps").as("max_err_bps"))
          .orderBy("err_bucket")
      },
      Some {
        import graft.functions.MinHashAgg.{As, Bs, P}
        val abValues = (0 until NumHashes)
          .map(j => s"($j, ${As(j)}, ${Bs(j)})").mkString(", ")
        val bandValues = (0 until NumHashes / BandSize)
          .map(b => s"($b)").mkString(", ")
        s"""WITH s0 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text, ' ')) >= 3),
           | i0 AS (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i FROM s0),
           | shr AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s FROM i0),
           | hx AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x FROM shr),
           | ab AS (SELECT * FROM (VALUES $abValues) t(j, a, b)),
           | hj AS (SELECT doc_id, j, min((a * x + b) % $P) AS h FROM hx CROSS JOIN ab GROUP BY doc_id, j),
           | sg AS (SELECT doc_id, list(h ORDER BY j) AS sig FROM hj GROUP BY doc_id),
           | band AS (SELECT doc_id, bnd, sig[bnd * $BandSize + 1 : bnd * $BandSize + $BandSize] AS bucket
           |   FROM sg CROSS JOIN (VALUES $bandValues) t(bnd)),
           | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2 FROM band a
           |   JOIN band b ON a.bnd = b.bnd AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
           | h60 AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS s FROM shr),
           | cnt AS (SELECT doc_id, count(*) AS n FROM h60 GROUP BY doc_id),
           | p AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
           |   FROM h60 a JOIN h60 b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
           | agr AS (SELECT d1, d2,
           |   list_reduce(list_transform(list_zip(sa.sig, sb.sig), q -> CASE WHEN q[1] = q[2] THEN 1 ELSE 0 END), (x, y) -> x + y) AS agree
           |   FROM cand JOIN sg sa ON d1 = sa.doc_id JOIN sg sb ON d2 = sb.doc_id),
           | sc AS (SELECT agree, coalesce(p.inter, 0) AS inter,
           |   ca.n + cb.n - coalesce(p.inter, 0) AS uni
           |   FROM agr JOIN cnt ca ON agr.d1 = ca.doc_id JOIN cnt cb ON agr.d2 = cb.doc_id
           |   LEFT JOIN p ON agr.d1 = p.d1 AND agr.d2 = p.d2),
           | e AS (SELECT abs(agree * uni - $NumHashes * inter) * 10000 // ($NumHashes * uni) AS err_bps,
           |   agree * 10000 // $NumHashes AS est_bps, inter * 10000 // uni AS exact_bps FROM sc)
           | SELECT CAST(err_bps // 1000 AS BIGINT) AS err_bucket, count(*) AS n_pairs,
           |   CAST(sum(est_bps) // count(*) AS BIGINT) AS avg_est_bps,
           |   CAST(sum(exact_bps) // count(*) AS BIGINT) AS avg_exact_bps,
           |   CAST(max(err_bps) AS BIGINT) AS max_err_bps
           | FROM e GROUP BY 1 ORDER BY err_bucket""".stripMargin
          .replace("\n", "")
      }),

    // SimHash: 32-bit signature from term-frequency-weighted word hashes.
    // Word hash = leading 32 bits of md5 — cross-engine reproducible, so
    // the signature is oracle-checked bit-for-bit (unlike xxhash64).
    "q26_simhash" -> Q(
      (s, dir) => simhashSignatures(table(s, dir, "documents"), 32)
        .select(col("doc_id"), col("sig").as("simhash"))
        .orderBy("doc_id"),
      Some(
        """WITH wh AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 8))::BIGINT AS h
          |   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
          | bs AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
          |   FROM wh CROSS JOIN range(32) t(j) GROUP BY doc_id, j)
          | SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
          | FROM bs GROUP BY doc_id ORDER BY doc_id""".stripMargin
          .replace("\n", ""))),

    // SimHash near-dup PAIRS at scale: 60-bit TF-weighted signature
    // (md5-60 word hashes, one bit-majority per position), candidates
    // from the PIGEONHOLE band split — any pair within Hamming distance
    // 3 differs in at most 3 of the 4 fifteen-bit bands, so an equi-join
    // on (band, band_value) finds EVERY such pair (exact recall, the
    // Hamming-space analog of q121's FastSS argument) — then the
    // verifier keeps bit_count(xor) <= 3. Sixty bits (not q26's
    // 32-bit gate signature) is what makes the banding usable: 15-bit
    // bands give 32k buckets each, so bucket occupancy — and the
    // within-bucket quadratic — shrinks with the hash width, where
    // 8-bit bands of a 32-bit signature would funnel the corpus into
    // 256 hub buckets. 100 TB posture: the signature frame is
    // fixed-width state checkpointed once; the candidate join is
    // equi-keyed on (band, value); verification is one codegen'd
    // popcount per candidate, no text travels anywhere.
    "q163_simhash_hamming" -> Q(
      (s, dir) => {
        val sig = simhashSignatures(table(s, dir, "documents"), 60)
          .localCheckpoint(eager = true)
        val bands = sig.select(col("doc_id"), col("sig"),
          explode(expr(
            "transform(sequence(0, 3), b -> named_struct(" +
              "'band', b, 'bv', shiftright(sig, 15 * b) % 32768))"))
            .as("bb"))
          .select(col("doc_id"), col("sig"),
            col("bb.band").as("band"), col("bb.bv").as("bv"))
        bands.as("a").join(bands.as("b"),
            col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
              col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
            col("a.sig").as("s1"), col("b.sig").as("s2"))
          .distinct()
          .select(col("d1"), col("d2"),
            expr("bit_count(s1 ^ s2)").cast("bigint").as("hamming"))
          .where(col("hamming") <= 3)
          .orderBy("d1", "d2")
      },
      Some(
        """WITH wh AS (SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
          |   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)),
          | bs AS (SELECT doc_id, j, sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
          |   FROM wh CROSS JOIN range(60) t(j) GROUP BY doc_id, j),
          | sig AS (SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS sig
          |   FROM bs GROUP BY doc_id),
          | bands AS (SELECT doc_id, sig, j AS band, (sig >> (15 * j)) % 32768 AS bv
          |   FROM sig CROSS JOIN range(4) t(j)),
          | cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
          |     a.sig AS s1, b.sig AS s2
          |   FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
          |     AND a.doc_id < b.doc_id)
          | SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS BIGINT) AS hamming
          | FROM cand WHERE bit_count(xor(s1, s2)) <= 3 ORDER BY d1, d2"""
          .stripMargin.replace("\n", ""))),

    // Embedding-cosine near-dup pairs (threshold 0.3 on this synthetic
    // data). Exact double arithmetic with the same fold order as the
    // DuckDB oracle, so scores compare bit-for-bit.
    //
    // Why EXACT must compare O(N^2) pairs here: the corpus is
    // near-uniform on the sphere (measured at sf0.01: max pair cosine
    // ~0.6, ~2500 pairs within ±0.05 of the 0.3 threshold), so no
    // sign-LSH banding both prunes and keeps recall — a pair at
    // cos 0.3 agrees with a random hyperplane only 59.7% of the time.
    // The scale answer is therefore a TILED self-join: block ids fan
    // each vector into B(B+1)/2 tile keys, the join is a hash EQUI-join
    // on the tile, and each task compares one (N/B) x (N/B) tile in
    // bounded memory — same exact output, but the quadratic FLOPs are
    // spread over B(B+1)/2 parallel tasks instead of one
    // BroadcastNestedLoopJoin (and B scales with the cluster). The
    // approximate scale path (LSH candidates + exact rescore) is q83.
    "q27_dedup_embedding" -> Q(
      (s, dir) => {
        val n = table(s, dir, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
          .select(col("vec_id"), col("v"),
            graft.functions.VectorFunctions.l2norm(col("v")).as("nrm"))
        tiledNearDupPairs(n, TileCount, 0.3).orderBy("v1", "v2")
      },
      Some(
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          | n AS (SELECT vec_id, v,
          |   sqrt(list_reduce(list_transform(v, x -> x * x), (a, b) -> a + b)) AS nrm FROM e),
          | p AS (SELECT a.vec_id AS v1, b.vec_id AS v2,
          |   list_reduce(list_transform(list_zip(a.v, b.v), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)
          |     / (a.nrm * b.nrm) AS cosine
          |   FROM n a JOIN n b ON a.vec_id < b.vec_id)
          | SELECT v1, v2, cosine FROM p WHERE cosine > 0.3 ORDER BY v1, v2"""
          .stripMargin.replace("\n", ""))),

    // Duplicate-influx rate per ingest batch (doc_id deciles standing
    // in for crawl batches): how many of a batch's docs are exact dups
    // of PRIOR batches — the direction an incremental-crawl dedup
    // cares about (dups WITHIN a batch are cheap to kill; dups of
    // history require the fingerprint index). One fingerprint rollup
    // (min doc_id -> first batch), one map-back join on the
    // fingerprint, bounded 10-row output; shares exact bps.
    "q262_dup_influx" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
          .select(col("doc_id"), TextOps.normalizedFp.as("fp"))
        val span = docs.agg((max("doc_id") + 1).as("mx"))
        val batched = docs.crossJoin(broadcast(span))
          .select(col("doc_id"), col("fp"),
            expr("doc_id * 10 div mx").as("batch"))
        val firstBatch = batched.groupBy("fp")
          .agg(min("batch").as("first_batch"))
        batched.join(firstBatch, "fp")
          .select(col("batch"),
            when(col("batch") > col("first_batch"), 1L).otherwise(0L)
              .as("dup_of_prior"))
          .groupBy("batch")
          .agg(count(lit(1)).as("n_docs"),
            sum("dup_of_prior").as("n_dup_of_prior"))
          .select(col("batch"), col("n_docs"), col("n_dup_of_prior"),
            expr("n_dup_of_prior * 10000 div n_docs").as("influx_bps"))
          .orderBy("batch")
      },
      Some(
        """WITH d AS (SELECT doc_id,
          |     md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
          |   FROM documents),
          | s AS (SELECT max(doc_id) + 1 AS mx FROM d),
          | b AS (SELECT doc_id, fp, doc_id * 10 // s.mx AS batch FROM d, s),
          | f AS (SELECT fp, CAST(min(batch) AS BIGINT) AS first_batch
          |   FROM b GROUP BY fp)
          | SELECT b.batch, CAST(count(*) AS BIGINT) AS n_docs,
          |   CAST(sum(CASE WHEN b.batch > f.first_batch THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_of_prior,
          |   CAST(sum(CASE WHEN b.batch > f.first_batch THEN 1 ELSE 0 END) * 10000 // count(*) AS BIGINT) AS influx_bps
          | FROM b JOIN f USING (fp) GROUP BY b.batch ORDER BY b.batch"""
          .stripMargin.replace("\n", "")))
  )
}
