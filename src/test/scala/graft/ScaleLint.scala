package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions._

/** Shared scale-lint vocabulary for ScaleLintSpec (the catalog-wide
  * law) and ScaleLintMeasureSpec (the allowlist's measured bound).
  *
  * `boundedDomainCols` is the union of two sources (VERDICT r9 #6):
  *  - a HAND list of the alias names queries derive from bounded
  *    columns (`pri`, `et`, `src`, ...) — aliases only exist in plans,
  *    so no data scan can discover them;
  *  - a DERIVED set computed from the testdata itself: a column whose
  *    distinct-value count at sf0.01 is both small (<= 256) and not
  *    materially above its sf0.001 count (<= 1.5x) is domain-bounded —
  *    its cardinality is fixed by the value domain, not by N. This is
  *    what closes the r9 maintenance hazard: a NEW testdata enum is
  *    picked up by measurement instead of waiting for a hand-list edit.
  */
object ScaleLint {

  /** Alias names used in query plans for bounded-domain source columns,
    * plus source columns absent from the current testdata (kept so the
    * lint stays correct if they return). Derived-from-data names join
    * this set at first use.
    */
  val handAliasCols: Set[String] = Set(
    // events
    "event_type", "et", "src", "dst", "ends_with", "resumes_with",
    // orders / lineitem enums
    "o_orderpriority", "pri", "priority", "o_orderstatus", "status",
    "l_returnflag", "l_linestatus", "l_shipmode", "l_shipinstruct",
    // dimensions with fixed row counts
    "r_name", "n_name", "region", "nation",
    // part / customer enums
    "p_brand", "p_mfgr", "p_container", "c_mktsegment", "mktsegment",
    // documents enums (20 sources / handful of langs at every SF)
    "source", "lang", "segment")

  private val sfSmall = "/root/testdata/sf0.001"
  private val sfMid = "/root/testdata/sf0.01"

  /** Distinct counts per scalar column of every testdata table at the
    * two gate SFs; a column is domain-bounded when its distinct count
    * is small AND does not grow with the corpus. Computed once per JVM.
    */
  @volatile private var derivedCache: Option[Set[String]] = None
  def derivedBoundedCols(spark: SparkSession): Set[String] =
    derivedCache.getOrElse {
      val tables = Option(new java.io.File(sfSmall).listFiles()).toSeq
        .flatten.map(_.getName).filter(_.endsWith(".parquet")).sorted
      val perCol: Seq[(String, Long, Long)] = tables.flatMap { t =>
        def counts(dir: String): Map[String, Long] = {
          val df = spark.read.parquet(s"$dir/$t")
          val scalarCols = df.schema.fields.collect {
            case f if !f.dataType.typeName.matches(
              "array|map|struct|binary") => f.name
          }
          if (scalarCols.isEmpty) Map.empty
          else {
            val row = df.agg(
              count_distinct(col(scalarCols.head)),
              scalarCols.tail.map(c => count_distinct(col(c))): _*).head()
            scalarCols.zipWithIndex
              .map { case (c, i) => c -> row.getLong(i) }.toMap
          }
        }
        val small = counts(sfSmall)
        val mid = counts(sfMid)
        small.keys.map(c => (c, small(c), mid.getOrElse(c, Long.MaxValue)))
      }
      val derived = perCol.collect {
        case (c, dSmall, dMid)
          if dMid <= 256 && dMid <= math.ceil(dSmall * 1.5).toLong =>
          c.toLowerCase
      }.toSet
      derivedCache = Some(derived)
      derived
    }

  def boundedDomainCols(spark: SparkSession): Set[String] =
    handAliasCols ++ derivedBoundedCols(spark)

  /** Allowlisted offender signatures ("query[window-key]"): windows the
    * strict join rule flags but whose input frame is PROVABLY not
    * corpus-grain — every entry is the pass-2 element rank of a
    * two-pass bucket locate, whose window input is the located bucket's
    * slice behind a broadcast filter-join. The lint cannot tell a
    * reducing filter-join from an expanding one (ADVICE r8), so each
    * entry's justification is now MEASURED, not just written down:
    * ScaleLintMeasureSpec counts every allowlisted window's actual
    * input rows at sf0.001 and sf0.01 and asserts the located-slice
    * bound (VERDICT r9 #1). Keyed by the full offender signature, NOT
    * the query name, so other windows in the same query stay linted.
    */
  val allow: Map[String, String] = Map(
    "q48_median_order_value[pri]" ->
      "pass-2 rank over the located 1024-cent bucket (broadcast locate-filter)",
    "q56_grouped_p90[et]" ->
      "pass-2 rank over the located bucket (broadcast locate-filter)",
    "q115_mad_outliers[o_orderpriority]" ->
      "OrderStat.locateRank pass-2 over the located bucket (x2: med + MAD)",
    "q187_weighted_median[n_name]" ->
      "weighted pass-2 over the located balance bucket (broadcast locate-filter)",
    "q271_recursive_median[<global>]" ->
      "level-2 element rank over a <=1024-cent slice (two broadcast locates)")

  def constantKey(w: Window, bounded: Set[String]): Boolean = {
    val refs = w.partitionSpec.flatMap(_.references.map(_.name.toLowerCase))
    refs.forall(bounded.contains)
  }

  def reduced(p: LogicalPlan): Boolean = p match {
    case _: Aggregate | _: Deduplicate | _: GlobalLimit | _: LocalLimit => true
    case _: graft.plans.TopKPerGroupNode => true // k rows per group
    // Multi-branch nodes: every branch must be reduced — an Aggregate
    // on one side of a join (or one arm of a union) says nothing about
    // the corpus-grain rows flowing through the other (ADVICE r8).
    case j: Join => reduced(j.left) && reduced(j.right)
    case u: Union => u.children.forall(reduced)
    // Except's output grain is its LEFT child alone (the right side only
    // subtracts rows), so reduction must hold on the left — the generic
    // children.exists fallthrough would let a reduced RIGHT side pass,
    // the same one-branch-proves-nothing flaw fixed for joins (ADVICE
    // r9). Intersect emits at most min(left, right), so one reduced
    // branch genuinely bounds the output — but require both anyway,
    // conservatively, like Join; no catalog query loses its pass.
    case e: Except => reduced(e.left)
    case i: Intersect => reduced(i.left) && reduced(i.right)
    case other => other.children.exists(reduced)
  }

  def signatureKey(w: Window): String =
    if (w.partitionSpec.isEmpty) "<global>"
    else w.partitionSpec.flatMap(_.references.map(_.name))
      .distinct.mkString(",")

  /** The lint's flagged set for one query plan: every Window whose
    * partition key is drawn solely from the bounded-domain set and
    * whose subtree contains no reducing operator on every branch.
    */
  def flagged(name: String, plan: LogicalPlan, bounded: Set[String])
  : Seq[(String, Window)] =
    plan.collect {
      case w: Window if constantKey(w, bounded) && !reduced(w.child) =>
        (s"$name[${signatureKey(w)}]", w)
    }

  /** The lint's single notion of "small": the row count under which a
    * LITERAL frame (LocalRelation, limit) counts as provably O(1). One
    * shared constant for every boundedRows leaf (ADVICE r14 #4: the
    * previous split — LocalRelation <= 8 vs limit <= 100000 — spanned
    * five orders of magnitude, so "provably O(1)" meant different
    * things per node type). 1024 covers every literal in the catalog
    * (largest shipped limit is 200) while still bounding the join
    * multiplier a "bounded" side may impose at scale; allowlist
    * entries reference the same scale.
    */
  val SmallRows = 1024L

  /** True when the subtree provably emits O(1) rows regardless of
    * corpus size: a global aggregate (one row), a literal relation, a
    * literal LIMIT, or compositions of those. This is what makes a
    * condition-less join harmless — `corpus x scalar` is a map, while
    * `corpus x corpus` is the N^2 the cartesian lint exists to catch.
    */
  def boundedRows(p: LogicalPlan): Boolean = p match {
    case a: Aggregate => a.groupingExpressions.isEmpty
    case l: LocalRelation => l.data.length <= SmallRows
    case _: OneRowRelation => true
    case _: Range => true // literal element count (spark.range(k))
    // Limits are bounded only when the literal is actually small — a
    // limit(10_000_000) is not O(1) (r14 review).
    case g: GlobalLimit => g.maxRows.exists(_ <= SmallRows)
    case l: LocalLimit => l.maxRows.exists(_ <= SmallRows)
    // Row-MULTIPLYING unary nodes must not ride the pass-through: an
    // explode over a global collect_list re-emits corpus-many rows
    // from a one-row frame (r14 review). Expand multiplies by a
    // literal projection count, so bounded-in stays bounded-out.
    case _: Generate => false
    case e: Expand => boundedRows(e.child)
    case j: Join => boundedRows(j.left) && boundedRows(j.right)
    case other if other.children.nonEmpty =>
      other match {
        case _: Union => other.children.forall(boundedRows)
        // Unary pass-throughs (Project/Filter/SubqueryAlias/Sort/...)
        case u if u.children.size == 1 => boundedRows(u.children.head)
        case _ => false
      }
    case _ => false
  }

  /** True when the subtree's output GRAIN is provably bounded by value
    * domains rather than corpus size: O(1)-row frames (boundedRows),
    * aggregates/dedups whose every grouping key is drawn from the
    * bounded-domain column set, and grain-preserving compositions of
    * those. This is the notch `reduced` cannot see (VERDICT r14 #4):
    * `reduced` is a signature match that accepts ANY Aggregate, but an
    * Aggregate grouped by a corpus-grain key (doc_id, user_id) emits
    * corpus-many rows — fine under a corpus-partitioned window, fatal
    * under a GLOBAL one, where every row funnels through one task.
    */
  def boundedGrain(p: LogicalPlan, bounded: Set[String]): Boolean = p match {
    case _ if boundedRows(p) => true
    case a: Aggregate => a.groupingExpressions.forall(
      _.references.map(_.name.toLowerCase).forall(bounded.contains))
    case d: Deduplicate => d.keys.forall(
      _.references.map(_.name.toLowerCase).forall(bounded.contains))
    // Bounded x bounded stays bounded (domain product); corpus on
    // either side makes the join corpus-grain.
    case j: Join =>
      boundedGrain(j.left, bounded) && boundedGrain(j.right, bounded)
    case u: Union => u.children.forall(boundedGrain(_, bounded))
    // Row multipliers: Generate re-expands (possibly corpus-many
    // elements from a collected array); Expand multiplies by a literal
    // projection count, so bounded-in stays bounded-out.
    case _: Generate => false
    case e: Expand => boundedGrain(e.child, bounded)
    case o if o.children.size == 1 => boundedGrain(o.children.head, bounded)
    case _ => false
  }

  /** The OrderStat two-level scan's internal chunk/bucket aliases,
    * bounded BY CONTRACT rather than by data: OrderStat's chunk-key
    * contract (OrderStat.scala header) requires an integer COARSENING
    * OF A VALUE DOMAIN (cents div 2^k, price-cent buckets, inverted
    * score bands) — never a corpus key — so the Aggregate-by-chunk
    * offset frame each scan's global window runs over is domain-
    * bounded. Admitted only inside the GLOBAL-window grain test (a
    * per-chunk window partitioned by __ck is corpus-partitioned work
    * and needs no exemption); the contract itself is what callers are
    * trusted on, same trust model as the hand alias list.
    */
  val chunkContractCols: Set[String] = Set("__ck", "__bkt")

  /** Allowlisted global-window offender signatures ("query[<global>]"
    * reusing signatureKey): windows with NO partition spec whose input
    * the grain test cannot prove bounded, but which IS bounded by a
    * value domain, the calendar span, or query config — each entry's
    * justification is backed by a MEASURED input bound in
    * globalWindowBound (same discipline as cartesianBound). Inputs
    * measured by ProbeGlobalWindow at sf0.001/sf0.01 (PLANS.md; probe
    * code at commit 9916828).
    */
  val globalWindowAllow: Map[String, String] = Map(
    "q141_filter_funnel[<global>]" ->
      "per-stage drop ladder — rows = the query's literal filter list (5)",
    "q155_reshard_plan[<global>]" ->
      "shard-residue frame, config-bounded (lcm(16,20) = 80 residues)",
    "q166_decile_lift[<global>]" ->
      "fixed score-band frame (duration div 120 -> 10 bands)",
    "q168_zipf_slope[<global>]" ->
      "floor(log2 rank) ladder — log-bounded in vocabulary (31)",
    "q169_heaps_curve[<global>]" ->
      "dyadic corpus-prefix buckets — log-bounded in docs (9)",
    "q192_seasonal_index[<global>]" -> "12 calendar months",
    "q197_acf_daily[<global>]" ->
      "gap-filled daily calendar, span-bounded (~2.4k days)",
    "q201_weekday_seasonality[<global>]" ->
      "gap-filled daily calendar, span-bounded (~2.4k days)",
    "q216_decayed_value[<global>]" ->
      "30-day half-life age bands over the order-date span (20)",
    "q221_cusum_changepoint[<global>]" ->
      "monthly revenue series, span-bounded (~80 months)",
    "q229_systematic_resample[<global>]" ->
      "resample-grid offset frame, config-bounded (measured flat: 8)",
    "q233_rolling_correlation[<global>]" ->
      "14-day rolling moment frame over the shared-activity day span",
    "q244_volume_outliers[<global>]" ->
      "daily volume series over the events span (30 days)",
    "q246_hourweek_heatmap[<global>]" -> "hour-of-week grid (<= 168)",
    "q250_revenue_drawdown[<global>]" ->
      "daily revenue calendar — saturates at the order-date span",
    "q257_two_pass_median[<global>]" ->
      "2^20-cent bucket histogram (value-domain-bounded)")

  /** Max input rows allowed for each allowlisted global window,
    * asserted at sf0.001 AND sf0.01 by ScaleLintSpec (a corpus-growing
    * input blows the bound at the larger SF). Bounds are 2-4x the
    * measured sf0.01 inputs.
    */
  val globalWindowBound: Map[String, Long] = Map(
    "q141_filter_funnel[<global>]" -> 64L,
    "q155_reshard_plan[<global>]" -> 256L,
    "q166_decile_lift[<global>]" -> 16L,
    "q168_zipf_slope[<global>]" -> 64L,
    "q169_heaps_curve[<global>]" -> 32L,
    "q192_seasonal_index[<global>]" -> 16L,
    "q197_acf_daily[<global>]" -> 4096L,
    "q201_weekday_seasonality[<global>]" -> 4096L,
    "q216_decayed_value[<global>]" -> 64L,
    "q221_cusum_changepoint[<global>]" -> 256L,
    "q229_systematic_resample[<global>]" -> 32L,
    "q233_rolling_correlation[<global>]" -> 64L,
    "q244_volume_outliers[<global>]" -> 64L,
    "q246_hourweek_heatmap[<global>]" -> 256L,
    "q250_revenue_drawdown[<global>]" -> 4096L,
    "q257_two_pass_median[<global>]" -> 128L)

  /** Catalog-wide GLOBAL-window grain lint (VERDICT r14 #4): every
    * Window with an empty partition spec whose input frame is not
    * provably bounded-grain funnels the whole frame through ONE task's
    * sort at any scale. The constant-key window lint (`flagged`)
    * accepts ANY Aggregate as reduction, so a global window over a
    * corpus-keyed Aggregate (per-part revenue, per-customer rank —
    * dimension-sized but corpus-GROWING) passed it; this closes that
    * gap. Offender sigs already in `allow` are exempt here: those are
    * located bucket slices measured by ScaleLintMeasureSpec under the
    * STRONGER share-plus-growth discipline.
    */
  def globalWindowFlagged(name: String, plan: LogicalPlan,
                          bounded: Set[String]): Seq[(String, Window)] =
    plan.collect {
      case w: Window if w.partitionSpec.isEmpty &&
          !boundedGrain(w.child, bounded ++ chunkContractCols) =>
        (s"$name[${signatureKey(w)}]", w)
    }

  /** Catalog-wide cartesian lint: every condition-less inner/cross
    * join where NEITHER side is provably O(1) rows is a corpus x
    * corpus product — the plan shape that cannot ship at any scale.
    */
  def cartesianFlagged(name: String, plan: LogicalPlan)
  : Seq[(String, Join)] =
    plan.collect {
      case j: Join if j.condition.isEmpty &&
          (j.joinType == org.apache.spark.sql.catalyst.plans.Inner ||
            j.joinType == org.apache.spark.sql.catalyst.plans.Cross) &&
          !boundedRows(j.left) && !boundedRows(j.right) =>
        (name, j)
    }

  /** Cartesians the structural predicate cannot prove bounded but whose
    * small side is bounded by DATA or CONFIG, not the corpus. Every
    * entry except q199 carries a measured bound (below) asserted at two
    * SFs by ScaleLintSpec, so the justification is a measurement, not
    * prose (the window-allowlist discipline, VERDICT r9 #1).
    */
  val cartesianAllow: Map[String, String] = Map(
    "q40_ann_ivf_topk" ->
      "bench/seed side is `vec_id < 16` — 16 rows at every SF (literal key predicate)",
    "q119_pq_adc_topk" ->
      "checkpointed PQ codebook — rows fixed by the operator's k, not the corpus",
    "q161_ivm_audit" ->
      "checkpointed one-row day-midpoint bounds frame",
    "q241_ks_drift" ->
      "KS grid: ~20-source enum x token-length domain, both value-bounded",
    "q251_discount_lift" ->
      "one-row disc_pct=0 base from the 11-value discount-band aggregate",
    "q199_ivf_topk" ->
      ("the EXACT-RECALL AUDIT is quadratic by construction (the query's " +
        "contract; the oracle states the same CROSS JOIN) — the scale " +
        "path is the IVF probe itself, and q274 is the broadcast-free " +
        "production shape"))

  /** Max rows allowed on the SMALLER side of each allowlisted
    * cartesian, asserted at sf0.001 AND sf0.01 (a corpus-growing side
    * would blow through the bound at the larger SF). q199 is absent:
    * its audit side is a 1/250 corpus sample by design.
    */
  val cartesianBound: Map[String, Long] = Map(
    "q40_ann_ivf_topk" -> 16L,
    "q119_pq_adc_topk" -> 256L,
    "q161_ivm_audit" -> 1L,
    "q241_ks_drift" -> 64L,
    "q251_discount_lift" -> 1L)

  /** (shuffle, broadcast) exchange counts of a query's pre-execution
    * physical plan — the AQE initial plan, before any runtime re-plan
    * or exchange reuse. Counts only the main plan tree (subquery plans
    * hang off expressions, not children; the catalog's scalar anchors
    * are crossJoin(broadcast(agg)), which IS in the tree). Every
    * shuffle here is a real cluster-wide data movement at 100 TB, so
    * the per-query count is the single cheapest structural cost model
    * of the whole catalog — pinned by the exchange ledger
    * (`exchange_ledger.tsv` + the ScaleLintSpec ratchet) so a
    * refactor that silently grows one fails loudly.
    */
  def exchangeCounts(qe: org.apache.spark.sql.execution.QueryExecution)
  : (Int, Int) = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{
      BroadcastExchangeLike, ShuffleExchangeLike}
    val root = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (root.collect { case e: ShuffleExchangeLike => e }.size,
      root.collect { case e: BroadcastExchangeLike => e }.size)
  }
}
