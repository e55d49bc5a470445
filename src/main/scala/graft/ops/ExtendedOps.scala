package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import TestData._

/** Round-2 catalog extensions: semi-structured (JSON) projection, event
  * sequence analytics (lag/lead gaps, running totals), doc-term ranking
  * (TF-IDF top terms), and grouped order-statistics quantiles.
  *
  * Scale notes (100 TB posture):
  *  - JSON extraction is a codegen'd per-row projection (no shuffle);
  *  - the sequence queries shuffle once by their window key (user /
  *    customer) — the same partitioning serves lag, gap aggregation, and
  *    running totals, and at cluster scale would be a bucketed layout;
  *  - TF-IDF's document-frequency side is a tiny term dimension joined
  *    back broadcast-style; the doc-term frame shuffles once by term;
  *  - running totals use integer cents so the window sum is exact and
  *    order-independent across engines (double window sums are not:
  *    DuckDB evaluates windowed aggregates with a segment tree, Spark
  *    sequentially — float association would diverge).
  */
object ExtendedOps {

  def all: Map[String, Q] = base ++ warehouseOps

  /** The FastSS deletion neighborhood as a DataFrame: one row per
    * (carry..., vh) where vh ranges over the xxhash64 values of every
    * string reachable from `name` by deleting at most 2 characters —
    * 1 + L + C(L,2) variants for length L, ~170 for typical short
    * entity names (for long text the LSH/winnowing family in DedupOps
    * is the right tool).
    *
    * Since round 12 the default path is ONE codegen'd expression
    * (`graft_del_variants`, DeletionVariants.scala): the whole
    * neighborhood is hashed straight out of a byte scratch buffer —
    * no variant string is ever materialized — deduped IN-ROW, and
    * exploded once. That removes the two Generate+substring+concat
    * stages AND the corpus-wide `.distinct()` shuffle of the previous
    * form, whose only effect was within-entity dedup: `carry` must
    * include a row-unique key (every caller carries the entity key),
    * so cross-row duplicates cannot exist. Hash VALUES are
    * bit-identical to the old form (same xxhash64 seed over the same
    * variant bytes; PropertySpec's law checks every neighborhood
    * against a plain enumeration hashed by the builtin xxhash64), so
    * candidate sets are unchanged; measurements in PLANS.md.
    *
    * Hashing is xxhash64, not the md5-60-bit bridge: the variant hash
    * never reaches the oracle (DuckDB verifies with the full quadratic
    * Levenshtein), identical variant strings still collide by
    * construction, and a stray 64-bit collision only ADDS a candidate
    * the verifier discards — so the cheapest codegen'd hash wins.
    */
  private[graft] def deletionVariants(rows: DataFrame, name: String,
      carry: Seq[String]): DataFrame =
    rows.select(carry.map(col) :+ explode(graft.functions.DeletionVariants
      .hashesCol(col(name))).as("vh"): _*)

  private def base: Map[String, Q] = Map(

    // Semi-structured projection: JSON property extraction + grouped
    // integer stats. from_json with an explicit schema (not
    // get_json_object) so the parse is a single typed struct read.
    "q52_json_props" -> Q(
      (s, dir) => table(s, dir, "events")
        .select(col("event_type"),
          from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), min("k").as("min_k"),
          max("k").as("max_k"), sum(col("k").cast("long")).as("sum_k"))
        .orderBy("event_type"),
      Some(
        """SELECT event_type, count(*) AS n,
          | min(TRY_CAST(props->>'k' AS INT)) AS min_k,
          | max(TRY_CAST(props->>'k' AS INT)) AS max_k,
          | CAST(sum(TRY_CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k
          | FROM events GROUP BY event_type ORDER BY event_type"""
          .stripMargin.replace("\n", ""))),

    // Per-user inter-event gaps via lag(): one shuffle by user_id serves
    // both the lag window and the final aggregation.
    "q53_user_gaps" -> Q(
      (s, dir) => {
        // Ordering by floored epoch (not raw ts) keeps the per-user gap
        // sequence identical to the oracle's: both sequences are sorted
        // multisets of the same second values.
        val w = Window.partitionBy("user_id").orderBy("es", "event_id")
        table(s, dir, "events")
          .select(col("user_id"), col("event_id"),
            unix_timestamp(col("ts")).as("es"))
          .withColumn("gap", col("es") - lag("es", 1).over(w))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            max("gap").as("max_gap_s"),
            sum("gap").as("total_span_s"))
          .orderBy("user_id")
      },
      Some(
        """WITH e AS (SELECT user_id, event_id,
          |   CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
          | g AS (SELECT user_id,
          |   es - lag(es, 1) OVER (PARTITION BY user_id ORDER BY es, event_id) AS gap
          |   FROM e)
          | SELECT user_id, count(*) AS n_events, max(gap) AS max_gap_s,
          |   CAST(sum(gap) AS BIGINT) AS total_span_s
          | FROM g GROUP BY user_id ORDER BY user_id""".stripMargin
          .replace("\n", ""))),

    // TF-IDF top-3 terms per document. Linear idf (N/df instead of
    // ln(N/df)): rational arithmetic over small integers is bit-identical
    // across engines, where libm ln() is not guaranteed to be; the
    // ranking structure (doc-term tf, term df, per-doc top-k window) is
    // the operator under test.
    "q54_tfidf_topterms" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val nDocs = docs.select(countDistinct("doc_id").as("n_docs"))
        val terms = docs.select(col("doc_id"),
          explode(split(col("text"), " ")).as("term"))
        val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val scored = tf.join(df, "term").crossJoin(broadcast(nDocs))
          .select(col("doc_id"), col("term"),
            (col("tf").cast("double") * col("n_docs") / col("df"))
              .as("score"))
        // Per-doc top-3 via TopKPerGroup: the partial phase reduces each
        // map task's doc-term rows to 3-heaps before the exchange, so
        // shuffle volume is answer-proportional (3 x docs) instead of
        // every (doc, term) score. rnk is recovered by a window over the
        // 3 survivors — clustered by doc_id already, no second exchange.
        graft.plans.TopKPerGroup(scored, Seq("doc_id"),
            Seq(("score", true), ("term", false)), 3)
          .withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
            .orderBy(desc("score"), col("term"))))
          .select("doc_id", "rnk", "term", "score")
          .orderBy("doc_id", "rnk")
      },
      Some(
        """WITH terms AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
          | tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
          | df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
          | nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
          | sc AS (SELECT tf.doc_id, tf.term,
          |   CAST(tf.tf AS DOUBLE) * nd.n_docs / df.df AS score
          |   FROM tf JOIN df USING (term) CROSS JOIN nd),
          | r AS (SELECT doc_id, term, score,
          |   CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rnk FROM sc)
          | SELECT doc_id, rnk, term, score FROM r WHERE rnk <= 3
          | ORDER BY doc_id, rnk""".stripMargin.replace("\n", ""))),

    // Running revenue per customer in integer cents: exact, associative,
    // and engine-order-independent (see scale notes).
    "q55_running_revenue" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .withColumn("running_cents", sum("cents").over(w))
          .select(col("o_custkey"), col("o_orderkey"),
            (col("running_cents") / 100.0).as("running_revenue"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some(
        """WITH c AS (SELECT o_custkey, o_orderkey, o_orderdate,
          |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
          | r AS (SELECT o_custkey, o_orderkey,
          |   sum(cents) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |     ROWS UNBOUNDED PRECEDING) AS running_cents FROM c)
          | SELECT o_custkey, o_orderkey, running_cents / 100.0 AS running_revenue
          | FROM r ORDER BY o_custkey, o_orderkey""".stripMargin
          .replace("\n", ""))),

    // Deterministic hash sampling: keep ~10% of documents by an md5
    // bucket of the key. Unlike rand()-based sampling this is
    // reproducible across runs, engines, and partitionings — the only
    // sampling that composes with incremental reruns at 100 TB — and it
    // is a pure codegen'd filter (no shuffle, pushes to the scan).
    "q59_hash_sample" -> Q(
      (s, dir) => table(s, dir, "documents")
        .where(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 10 === 0)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id"),
      Some(
        """SELECT doc_id, lang, source FROM documents
          | WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 10 = 0
          | ORDER BY doc_id""".stripMargin.replace("\n", ""))),

    // Stratified deterministic sampling: per-stratum rates (downsample
    // the dominant language harder) off the same md5 bucket — the
    // training-data rebalancing primitive.
    "q62_stratified_sample" -> Q(
      (s, dir) => {
        val bucket = conv(substring(md5(col("doc_id").cast("string")), 1, 8),
          16, 10).cast("long") % 100
        val rate = when(col("lang") === "en", 10).otherwise(50)
        table(s, dir, "documents")
          .where(bucket < rate)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("first_doc"))
          .orderBy("lang")
      },
      Some(
        """SELECT lang, count(*) AS n_sampled, min(doc_id) AS first_doc
          | FROM documents
          | WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
          |   < CASE WHEN lang = 'en' THEN 10 ELSE 50 END
          | GROUP BY lang ORDER BY lang""".stripMargin.replace("\n", ""))),

    // Global frequent terms: the vocabulary head (top-20 by count). The
    // two-level aggregate (partial per partition, final after one
    // shuffle) is the exact-count shape; q51's sketches are the
    // fixed-memory alternative when the vocabulary itself won't fit.
    "q60_top_terms" -> Q(
      (s, dir) => table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("term"))
        .limit(20),
      Some(
        """SELECT term, count(*) AS n
          | FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)
          | GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin
          .replace("\n", ""))),

    // Single-pass dataset profiling: row count, null counts, distincts,
    // extrema — the data-quality summary a pipeline gate runs before
    // training. One aggregation, no per-column passes.
    "q61_profile_events" -> Q(
      (s, dir) => table(s, dir, "events")
        .agg(count(lit(1)).as("n_rows"),
          count(col("value")).as("value_non_null"),
          countDistinct(col("user_id")).as("distinct_users"),
          countDistinct(col("event_type")).as("distinct_types"),
          min(unix_timestamp(col("ts"))).as("min_ts_epoch"),
          max(unix_timestamp(col("ts"))).as("max_ts_epoch"),
          min("value").as("min_value"), max("value").as("max_value")),
      Some(
        """SELECT count(*) AS n_rows, count(value) AS value_non_null,
          | count(DISTINCT user_id) AS distinct_users,
          | count(DISTINCT event_type) AS distinct_types,
          | min(CAST(floor(epoch(ts)) AS BIGINT)) AS min_ts_epoch,
          | max(CAST(floor(epoch(ts)) AS BIGINT)) AS max_ts_epoch,
          | min(value) AS min_value, max(value) AS max_value
          | FROM events""".stripMargin.replace("\n", ""))),

    // Incremental upsert (MERGE): a refreshed batch overlays the base
    // store, newest-priority-wins per key via one window over the union
    // — the batch-incremental ingestion shape (same single shuffle by
    // key regardless of batch:base ratio). Integer-cents checksum keeps
    // the verification exact.
    "q63_upsert_merge" -> Q(
      (s, dir) => {
        val ev = table(s, dir, "events")
        val base = ev.where(col("event_id") % 5 =!= 0)
          .select(col("event_id"), col("event_type"), col("value"),
            lit(0).as("prio"))
        val batch = ev.where(col("event_id") % 3 === 0)
          .select(col("event_id"), col("event_type"),
            (col("value") * 2).as("value"), lit(1).as("prio"))
        val w = Window.partitionBy("event_id").orderBy(desc("prio"))
        base.unionByName(batch)
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("value_cents"))
          .orderBy("event_type")
      },
      Some(
        """WITH base AS (SELECT event_id, event_type, value, 0 AS prio
          |   FROM events WHERE event_id % 5 <> 0),
          | batch AS (SELECT event_id, event_type, value * 2 AS value, 1 AS prio
          |   FROM events WHERE event_id % 3 = 0),
          | u AS (SELECT * FROM base UNION ALL SELECT * FROM batch),
          | r AS (SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY prio DESC) AS rn FROM u)
          | SELECT event_type, count(*) AS n,
          |   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
          | FROM r WHERE rn = 1 GROUP BY event_type ORDER BY event_type"""
          .stripMargin.replace("\n", ""))),

    // Per-label embedding centroids via posexplode + grouped sums of
    // micro-scaled integers: element sums are exact and
    // accumulation-order-independent (double sums are neither), so the
    // derived centroid doubles compare bit-for-bit. The (label, pos)
    // aggregation is one shuffle of fixed-width rows — the distributed
    // shape for computing per-class means over billions of vectors.
    "q65_label_centroids" -> Q(
      (s, dir) => table(s, dir, "embeddings")
        .select(col("label"), posexplode(col("embedding"))
          .as(Seq("pos0", "x")))
        .select(col("label"), (col("pos0") + 1).cast("long").as("pos"),
          round(col("x").cast("double") * 1e6).cast("long").as("sx"))
        .where(col("pos") <= 8)
        .groupBy("label", "pos")
        .agg(count(lit(1)).as("n"), sum("sx").as("sum_micro"))
        .select(col("label"), col("pos"), col("n"),
          (col("sum_micro") / (col("n") * 1e6)).as("centroid"))
        .orderBy("label", "pos"),
      Some(
        """WITH u AS (SELECT label, unnest(embedding) AS x,
          |   generate_subscripts(embedding, 1) AS pos FROM embeddings),
          | g AS (SELECT label, pos, count(*) AS n,
          |   CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS BIGINT) AS sum_micro
          |   FROM u WHERE pos <= 8 GROUP BY label, pos)
          | SELECT label, pos, n, sum_micro / (n * 1e6) AS centroid
          | FROM g ORDER BY label, pos""".stripMargin.replace("\n", ""))),

    // Salt-replicated skew join: the fact side's hot keys (5 event
    // types over 100k+ rows) would pile onto 5 reducers in a plain
    // shuffled join; salting the fact side and replicating the dim side
    // x16 spreads each hot key over 16 reducers. The salt is internal
    // (any deterministic or random spread works) — results equal the
    // plain join, which is the oracle.
    "q66_salted_join" -> Q(
      (s, dir) => {
        val ev = table(s, dir, "events")
        // max (not avg): exact and accumulation-order-independent, so
        // the threshold compare can't flip on a last-ulp difference.
        val dim = ev.groupBy("event_type")
          .agg(max("value").as("type_max"))
        val salts = 16
        val dimRep = dim.crossJoin(
          s.range(0, salts).select(col("id").cast("int").as("_salt")))
        val salted = ev.select(col("event_id"), col("event_type"),
          col("value"), pmod(hash(col("event_id")), lit(salts)).as("_salt"))
        salted.join(dimRep, Seq("event_type", "_salt"))
          .where(col("value") > col("type_max") * 0.9)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_above"))
          .orderBy("event_type")
      },
      Some(
        """WITH dim AS (SELECT event_type, max(value) AS type_max
          |   FROM events GROUP BY event_type)
          | SELECT e.event_type, count(*) AS n_above
          | FROM events e JOIN dim USING (event_type)
          | WHERE e.value > dim.type_max * 0.9
          | GROUP BY e.event_type ORDER BY e.event_type""".stripMargin
          .replace("\n", ""))),

    // ntile quartiles: per-priority price-quartile populations with the
    // exact cents-sum per bucket — the distribution-profiling window op.
    // ntile(4) over the constant-cardinality priority key would sort
    // N/5 rows in one task at 100x, so the rank comes from the
    // distributed two-level scan (OrderStat.scanRank: chunked by
    // 1024-cent bucket, offsets over the bounded chunk frame) and the
    // SQL-standard ntile bucket is recovered arithmetically from
    // (rank, n) — boundaries identical to both engines' ntile.
    "q70_ntile_quartiles" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
          .select(col("o_orderpriority").as("pri"), col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("c"))
        val n = o.groupBy("pri").agg(count(lit(1)).as("n"))
        OrderStat.scanRank(o, Seq("pri"),
            Seq(col("c"), col("o_orderkey")), expr("c div 1024"), "rn")
          .join(broadcast(n), "pri")
          .withColumn("quartile", OrderStat.ntileOf(col("rn"), col("n"), 4))
          .groupBy(col("pri").as("o_orderpriority"), col("quartile"))
          .agg(count(lit(1)).as("n"), sum("c").as("bucket_cents"))
          .orderBy("o_orderpriority", "quartile")
      },
      Some(
        """WITH r AS (SELECT o_orderpriority, o_totalprice,
          |   ntile(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS quartile
          | FROM orders)
          | SELECT o_orderpriority, CAST(quartile AS INT) AS quartile, count(*) AS n,
          |   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS bucket_cents
          | FROM r GROUP BY o_orderpriority, quartile
          | ORDER BY o_orderpriority, quartile""".stripMargin
          .replace("\n", ""))),

    // Calendar rollup: revenue by month (date_trunc), exact cents.
    "q71_monthly_revenue" -> Q(
      (s, dir) => table(s, dir, "orders")
        .groupBy(unix_timestamp(date_trunc("month", col("o_orderdate")))
          .as("month_epoch"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long"))
            .as("revenue_cents"))
        .orderBy("month_epoch"),
      Some(
        """SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_epoch,
          | count(*) AS n,
          | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
          | FROM orders GROUP BY 1 ORDER BY month_epoch""".stripMargin
          .replace("\n", ""))),

    // Six-table star join across the full schema: revenue cents by
    // region and part brand for high-priority orders. Every dimension
    // is broadcast (they are tiny relative to lineitem at any scale
    // factor); only the fact table streams through — the canonical
    // star-schema plan shape.
    "q72_star_join" -> Q(
      (s, dir) => {
        val li = table(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
            round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
              .cast("long").as("rev_cents"))
        val ord = table(s, dir, "orders")
          .where(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey", "o_custkey")
        val res = li
          .join(broadcast(ord), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(table(s, dir, "part")
            .select("p_partkey", "p_brand")),
            col("l_partkey") === col("p_partkey"))
          .join(broadcast(table(s, dir, "supplier")
            .select("s_suppkey", "s_nationkey")),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(table(s, dir, "nation")
            .select("n_nationkey", "n_regionkey")),
            col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(table(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
        res.groupBy("r_name", "p_brand")
          .agg(count(lit(1)).as("n_lines"),
            sum("rev_cents").as("revenue_cents"))
          .orderBy("r_name", "p_brand")
      },
      Some(
        """SELECT r_name, p_brand, count(*) AS n_lines,
          | CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
          | FROM lineitem
          | JOIN orders ON l_orderkey = o_orderkey AND o_orderpriority = '1-URGENT'
          | JOIN part ON l_partkey = p_partkey
          | JOIN supplier ON l_suppkey = s_suppkey
          | JOIN nation ON s_nationkey = n_nationkey
          | JOIN region ON n_regionkey = r_regionkey
          | GROUP BY r_name, p_brand ORDER BY r_name, p_brand""".stripMargin
          .replace("\n", ""))),

    // Correlated scalar subquery — Catalyst decorrelates it into an
    // aggregate + join (no per-row re-execution, unlike the reference's
    // record-at-a-time model). Integer-cents threshold with integer
    // div: DuckDB CAST(double AS BIGINT) rounds where Spark truncates,
    // so the cutoff must never pass through a double.
    "q73_correlated_subquery" -> Q(
      (s, dir) => {
        table(s, dir, "orders").createOrReplaceTempView("orders_corr")
        s.sql(
          """SELECT o.o_orderpriority, count(*) AS n_top
            |FROM orders_corr o
            |WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) > (
            |  SELECT (max(CAST(round(i.o_totalprice * 100) AS BIGINT)) * 8) div 10
            |  FROM orders_corr i WHERE i.o_custkey = o.o_custkey)
            |GROUP BY o.o_orderpriority
            |ORDER BY o.o_orderpriority""".stripMargin)
      },
      Some(
        """SELECT o.o_orderpriority, count(*) AS n_top
          | FROM orders o
          | WHERE CAST(round(o.o_totalprice * 100) AS BIGINT) > (
          |   SELECT (max(CAST(round(i.o_totalprice * 100) AS BIGINT)) * 8) // 10
          |   FROM orders i WHERE i.o_custkey = o.o_custkey)
          | GROUP BY o.o_orderpriority
          | ORDER BY o.o_orderpriority""".stripMargin.replace("\n", ""))),

    // Ordered array aggregation: each user's first three events as a
    // joined string — collect, sort by (time, id) inside the array
    // (deterministic without a pre-shuffle sort), slice, project. The
    // nested-collection shape for building per-entity sequence features.
    "q76_first_events_array" -> Q(
      (s, dir) => table(s, dir, "events")
        .select(col("user_id"),
          struct(unix_timestamp(col("ts")).as("es"),
            col("event_id")).as("e"))
        .groupBy("user_id")
        .agg(concat_ws(",",
          slice(expr("transform(array_sort(collect_list(e)), x -> cast(x.event_id as string))"),
            1, 3)).as("first3"))
        .orderBy("user_id"),
      Some(
        """SELECT user_id,
          | array_to_string((list(event_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id))[1:3], ',') AS first3
          | FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
          .replace("\n", ""))),

    // Canonicalization: keep the best document per normalized-text
    // fingerprint group (longest original, tie lowest id) — the final
    // step of the dedup pipeline (detect -> cluster -> canonicalize).
    // One shuffle by fingerprint; quality ranking inside the window.
    "q74_dedup_canonical" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("fp")
          .orderBy(desc("n_chars"), col("doc_id"))
        table(s, dir, "documents")
          .select(col("doc_id"), col("n_chars"),
            md5(regexp_replace(lower(col("text")), "[^a-z ]", "")
              .cast("binary")).as("fp"))
          .withColumn("rn", row_number().over(w))
          .withColumn("group_size",
            count(lit(1)).over(Window.partitionBy("fp")))
          .where(col("rn") === 1)
          .select(col("doc_id").as("kept_doc"), col("group_size"))
          .orderBy("kept_doc")
      },
      Some(
        """WITH f AS (SELECT doc_id, n_chars,
          |   md5(regexp_replace(lower(text), '[^a-z ]', '', 'g')) AS fp
          |   FROM documents),
          | r AS (SELECT doc_id, fp,
          |   row_number() OVER (PARTITION BY fp ORDER BY n_chars DESC, doc_id) AS rn,
          |   count(*) OVER (PARTITION BY fp) AS group_size FROM f)
          | SELECT doc_id AS kept_doc, group_size FROM r WHERE rn = 1
          | ORDER BY kept_doc""".stripMargin.replace("\n", ""))),

    // FULL OUTER join: daily click vs purchase activity, absent sides
    // zero-filled — the reconciliation join shape (each side keeps rows
    // the other lacks). coalesce on the join key after the outer join.
    "q75_full_outer_days" -> Q(
      (s, dir) => {
        val ev = table(s, dir, "events")
        def daily(t: String, n: String) = ev.where(col("event_type") === t)
          .groupBy(unix_timestamp(date_trunc("day", col("ts")))
            .as(s"${n}_day"))
          .agg(count(lit(1)).as(n))
        val c = daily("click", "clicks")
        val p = daily("purchase", "purchases")
        c.join(p, col("clicks_day") === col("purchases_day"), "full_outer")
          .select(
            coalesce(col("clicks_day"), col("purchases_day")).as("day_epoch"),
            coalesce(col("clicks"), lit(0L)).as("clicks"),
            coalesce(col("purchases"), lit(0L)).as("purchases"))
          .orderBy("day_epoch")
      },
      Some(
        """WITH c AS (SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS d, count(*) AS clicks
          |   FROM events WHERE event_type = 'click' GROUP BY 1),
          | p AS (SELECT CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS d, count(*) AS purchases
          |   FROM events WHERE event_type = 'purchase' GROUP BY 1)
          | SELECT coalesce(c.d, p.d) AS day_epoch,
          |   coalesce(clicks, 0) AS clicks, coalesce(purchases, 0) AS purchases
          | FROM c FULL OUTER JOIN p ON c.d = p.d
          | ORDER BY day_epoch""".stripMargin.replace("\n", ""))),

    // RANGE-frame window: trailing-30-day revenue per customer at each
    // order — the frame is defined by the VALUE range (all peers of a
    // timestamp included), not row position, so it is deterministic
    // under ties without a tiebreaker; integer cents keep it exact.
    "q77_trailing_revenue" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey").orderBy("es")
          .rangeBetween(-30L * 86400, 0)
        table(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            unix_timestamp(col("o_orderdate")).as("es"),
            round(col("o_totalprice") * 100).cast("long").as("cents"))
          .withColumn("trailing_cents", sum("cents").over(w))
          .select("o_custkey", "o_orderkey", "trailing_cents")
          .orderBy("o_custkey", "o_orderkey")
      },
      Some(
        """WITH c AS (SELECT o_custkey, o_orderkey,
          |   CAST(floor(epoch(o_orderdate)) AS BIGINT) AS es,
          |   CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
          | SELECT o_custkey, o_orderkey,
          |   CAST(sum(cents) OVER (PARTITION BY o_custkey ORDER BY es
          |     RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS BIGINT) AS trailing_cents
          | FROM c ORDER BY o_custkey, o_orderkey""".stripMargin
          .replace("\n", ""))),

    // Fuzzy matching: Levenshtein distance over the source-name
    // dimension's pairs (blocked to the tiny distinct dimension first —
    // never edit-distance over raw rows).
    "q78_levenshtein_sources" -> Q(
      (s, dir) => {
        val src = table(s, dir, "documents").select("source").distinct()
        src.as("a").join(src.as("b"),
          col("a.source") < col("b.source"))
          .select(col("a.source").as("s1"), col("b.source").as("s2"),
            levenshtein(col("a.source"), col("b.source")).as("dist"))
          .where(col("dist") <= 2)
          .orderBy("s1", "s2")
      },
      Some(
        """WITH s AS (SELECT DISTINCT source FROM documents)
          | SELECT a.source AS s1, b.source AS s2,
          |   CAST(levenshtein(a.source, b.source) AS INT) AS dist
          | FROM s a JOIN s b ON a.source < b.source
          | WHERE levenshtein(a.source, b.source) <= 2
          | ORDER BY s1, s2""".stripMargin.replace("\n", ""))),

    // Session funnel: per user, how many 5-minute-gap sessions convert
    // (contain a click at-or-before a purchase). Gaps-and-islands
    // session ids (lag + running sum over floored epochs — the exact
    // structure of q50's oracle), then one aggregate per session and
    // one per user; a single shuffle by user serves every step.
    "q79_session_funnel" -> Q(
      (s, dir) => {
        val byUser = Window.partitionBy("user_id").orderBy("es", "event_id")
        val sessions = table(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_timestamp(col("ts")).as("es"))
          .withColumn("new_session",
            when(col("es") - lag("es", 1).over(byUser) >= 300 ||
              lag("es", 1).over(byUser).isNull, 1).otherwise(0))
          .withColumn("sid", sum("new_session").over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sid")
          .agg(min(when(col("event_type") === "click", col("es")))
              .as("first_click"),
            max(when(col("event_type") === "purchase", col("es")))
              .as("last_purchase"))
        sessions
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            count(when(col("first_click").isNotNull &&
              col("last_purchase").isNotNull &&
              col("first_click") <= col("last_purchase"), 1))
              .as("n_converted"))
          .orderBy("user_id")
      },
      Some(
        """WITH e AS (SELECT user_id, event_id, event_type,
          |   CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
          | o AS (SELECT *, CASE WHEN es - lag(es) OVER w >= 300
          |     OR lag(es) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
          |   FROM e WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)),
          | g AS (SELECT *, sum(new_session) OVER
          |     (PARTITION BY user_id ORDER BY es, event_id ROWS UNBOUNDED PRECEDING) AS sid
          |   FROM o),
          | sess AS (SELECT user_id, sid,
          |   min(CASE WHEN event_type = 'click' THEN es END) AS first_click,
          |   max(CASE WHEN event_type = 'purchase' THEN es END) AS last_purchase
          |   FROM g GROUP BY user_id, sid)
          | SELECT user_id, count(*) AS n_sessions,
          |   count(CASE WHEN first_click IS NOT NULL AND last_purchase IS NOT NULL
          |     AND first_click <= last_purchase THEN 1 END) AS n_converted
          | FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin
          .replace("\n", ""))),

    // int8 embedding quantization: per-vector max-abs scale (an exact,
    // order-independent reduction) then symmetric round-to-int8 — the
    // storage-compression step of an embedding pipeline. Checksum of
    // the quantized codes pins every element.
    "q80_quantize_embeddings" -> Q(
      (s, dir) => table(s, dir, "embeddings")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("v"))
        .select(col("vec_id"),
          expr("array_max(transform(v, x -> abs(x)))").as("scale"),
          col("v"))
        .select(col("vec_id"), col("scale"),
          expr("""aggregate(
            transform(v, x -> CASE WHEN scale = 0D THEN 0L
              ELSE cast(round(x / scale * 127) as long) END),
            0L, (a, x) -> a + x)""").as("code_sum"))
        .orderBy("vec_id"),
      Some(
        """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
          | sc AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS scale FROM e)
          | SELECT vec_id, scale,
          |   CAST(list_reduce(list_transform(v, x -> CASE WHEN scale = 0 THEN 0
          |     ELSE CAST(round(x / scale * 127) AS BIGINT) END), (a, x) -> a + x) AS BIGINT) AS code_sum
          | FROM sc ORDER BY vec_id""".stripMargin.replace("\n", ""))),

    // percent_rank decile filter: orders in the top price decile of
    // their priority class — the rational (rank-1)/(n-1) form is exact
    // in both engines. The rank rides the distributed scan (q70's
    // shape) instead of a constant-key window; pr is then the SAME
    // (rank-1)/(n-1) IEEE division percent_rank computes, so the 0.9
    // cut is bit-identical (n > 1 guard mirrors percent_rank's
    // single-row special case pr = 0).
    "q81_top_decile" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
          .select(col("o_orderpriority").as("pri"), col("o_orderkey"),
            round(col("o_totalprice") * 100).cast("long").as("c"))
        val n = o.groupBy("pri").agg(count(lit(1)).as("n"))
        OrderStat.scanRank(o, Seq("pri"),
            Seq(col("c"), col("o_orderkey")), expr("c div 1024"), "rn")
          .join(broadcast(n), "pri")
          .withColumn("pr", (col("rn") - 1).cast("double") /
            (col("n") - 1).cast("double"))
          .where(col("n") > 1 && col("pr") >= 0.9)
          .groupBy(col("pri").as("o_orderpriority"))
          .agg(count(lit(1)).as("n_top"), sum("c").as("top_cents"))
          .orderBy("o_orderpriority")
      },
      Some(
        """WITH r AS (SELECT o_orderpriority, o_totalprice,
          |   percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS pr
          | FROM orders)
          | SELECT o_orderpriority, count(*) AS n_top,
          |   CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS top_cents
          | FROM r WHERE pr >= 0.9 GROUP BY o_orderpriority
          | ORDER BY o_orderpriority""".stripMargin.replace("\n", ""))),

    // Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    // match each other — the join surface for dimensions with an
    // explicit "unknown" bucket. NULLIF manufactures the null keys from
    // a real column so the semantics are exercised on live data.
    "q82_null_safe_join" -> Q(
      (s, dir) => {
        val ev = table(s, dir, "events")
          .select(col("event_id"),
            nullif(col("event_type"), lit("view")).as("k"))
        val dim = table(s, dir, "events")
          .select(nullif(col("event_type"), lit("view")).as("k"))
          .distinct()
          .withColumn("label",
            coalesce(concat(lit("type:"), col("k")), lit("unknown")))
        ev.join(dim, ev("k") <=> dim("k"))
          .groupBy("label")
          .agg(count(lit(1)).as("n"))
          .orderBy("label")
      },
      Some(
        """WITH e AS (SELECT event_id, NULLIF(event_type, 'view') AS k FROM events),
          | d AS (SELECT k, coalesce('type:' || k, 'unknown') AS label
          |   FROM (SELECT DISTINCT NULLIF(event_type, 'view') AS k FROM events))
          | SELECT d.label, count(*) AS n
          | FROM e JOIN d ON e.k IS NOT DISTINCT FROM d.k
          | GROUP BY d.label ORDER BY d.label""".stripMargin
          .replace("\n", ""))),

    // Grouped exact discrete p90 WITHOUT sorting the group (q48's
    // two-pass bucket search generalized beyond the median): the
    // event_type key has constant cardinality, so a row_number()
    // window would funnel a corpus-sized group through ONE task at
    // 100x. Pass 1 histograms floor(value*100) buckets map-combinably
    // (bounded by the VALUE DOMAIN ~49k buckets, not N; floor is
    // monotone so bucket order respects value order), the per-type
    // cumulative locates the bucket holding rank ceil(n*0.9), and
    // pass 2 ranks only that bucket's rows (one cent of value range)
    // via a broadcast semi-filter. The result is an actual data
    // element, so it compares exactly — no interpolation semantics to
    // reconcile across engines.
    "q56_grouped_p90" -> Q(
      (s, dir) => {
        val vals = table(s, dir, "events")
          .select(col("event_type").as("et"), col("value"))
          .withColumn("bkt", expr("CAST(floor(value * 100) AS BIGINT)"))
        val hist = vals.groupBy("et", "bkt")
          .agg(count(lit(1)).as("bc"))
        val located = hist
          .withColumn("cum", sum("bc").over(Window.partitionBy("et")
            .orderBy("bkt")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("n", sum("bc").over(Window.partitionBy("et")))
          .withColumn("target", ceil(col("n") * 0.9).cast("int"))
          .where(col("cum") >= col("target") &&
            col("cum") - col("bc") < col("target"))
          .select(col("et").as("let"), col("bkt").as("p90_bkt"),
            (col("target") - (col("cum") - col("bc"))).as("rank_in_bkt"))
        vals.join(broadcast(located),
            col("et") === col("let") && col("bkt") === col("p90_bkt"))
          .withColumn("rn", row_number().over(
            Window.partitionBy("et").orderBy("value")))
          .where(col("rn") === col("rank_in_bkt"))
          .select(col("et").as("event_type"), col("value").as("p90_value"))
          .orderBy("event_type")
      },
      Some(
        """WITH r AS (SELECT event_type, value, event_id,
          |   row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
          |   count(*) OVER (PARTITION BY event_type) AS cnt
          | FROM events)
          | SELECT event_type, value AS p90_value FROM r
          | WHERE rn = CAST(ceil(cnt * 0.9) AS INT)
          | ORDER BY event_type""".stripMargin.replace("\n", ""))),

    // Context-window sequence packing: concatenate each source shard's
    // docs in doc_id order and chunk into 256-token windows — the
    // pretraining batch-packing primitive. Partitioned by source so the
    // prefix sum is a per-shard window, not a global single-partition
    // sort (at cluster scale shards are the natural packing unit; a
    // global order would serialize). spans_boundary marks docs split
    // across windows. Integer arithmetic only — exact cross-engine.
    "q87_pack_sequences" -> Q(
      (s, dir) => {
        val t = table(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("bigint").as("n_tokens"))
        // the per-shard token prefix sum rides the two-level
        // distributed scan (chunked by doc_id range) — a plain
        // source-partitioned window would run each shard's whole
        // prefix through one task at 100x
        OrderStat.scanCumSum(t, Seq("source"), col("n_tokens"),
            Seq(col("doc_id")), expr("doc_id div 65536"), "cum_inc")
          .withColumn("off", col("cum_inc") - col("n_tokens"))
          .select(col("doc_id"), col("source"), col("n_tokens"),
            expr("off div 256").as("window_id"),
            (col("off") % 256).as("window_offset"),
            (col("off") % 256 + col("n_tokens") > 256).cast("int")
              .as("spans_boundary"))
          .orderBy("doc_id")
      },
      Some(
        """WITH t AS (SELECT doc_id, source,
          |   len(string_split(text, ' ')) AS n_tokens FROM documents),
          | c AS (SELECT doc_id, source, n_tokens,
          |   CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off FROM t)
          | SELECT doc_id, source, n_tokens, off // 256 AS window_id,
          |   off % 256 AS window_offset,
          |   CAST(off % 256 + n_tokens > 256 AS INT) AS spans_boundary
          | FROM c ORDER BY doc_id""".stripMargin.replace("\n", ""))),

    // Temperature-scaled source mixing (alpha = 0.5): per-language keep
    // probability min(1, sqrt(min_count / count)) flattens the language
    // distribution, then a deterministic md5-uniform draw selects docs —
    // the corpus-rebalancing step of a multilingual training mix.
    // alpha = 0.5 deliberately: IEEE sqrt and division are correctly
    // rounded in both engines, so p_keep (and therefore every keep
    // decision) is bit-identical cross-engine, where pow(x, 0.7) would
    // be libm-dependent. The lang dimension is tiny -> broadcast.
    "q88_temperature_mix" -> Q(
      (s, dir) => {
        val docs = table(s, dir, "documents")
        val p = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .withColumn("min_n", min("n_docs").over(Window.partitionBy()))
          .select(col("lang"), col("n_docs"),
            least(lit(1.0), sqrt(col("min_n").cast("double")) /
              sqrt(col("n_docs").cast("double"))).as("p_keep"))
        docs.join(broadcast(p), "lang")
          .select(col("lang"), col("n_docs"), col("p_keep"),
            when(conv(substring(md5(col("doc_id").cast("string")), 1, 8),
              16, 10).cast("long").cast("double") <
              col("p_keep") * lit(4294967296.0), 1L).otherwise(0L)
              .as("keep"))
          .groupBy("lang").agg(
            max("n_docs").as("n_docs"),
            max("p_keep").as("p_keep"),
            sum("keep").as("n_kept"))
          .orderBy("lang")
      },
      Some(
        """WITH cnt AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
          | p AS (SELECT lang, n_docs,
          |   least(1.0, sqrt(CAST((SELECT min(n_docs) FROM cnt) AS DOUBLE))
          |     / sqrt(CAST(n_docs AS DOUBLE))) AS p_keep FROM cnt),
          | k AS (SELECT d.doc_id, p.lang, p.n_docs, p.p_keep,
          |   CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE)
          |     < p.p_keep * 4294967296.0 THEN 1 ELSE 0 END AS keep
          |   FROM documents d JOIN p USING (lang))
          | SELECT lang, max(n_docs) AS n_docs, max(p_keep) AS p_keep,
          |   CAST(sum(keep) AS BIGINT) AS n_kept
          | FROM k GROUP BY lang ORDER BY lang""".stripMargin
          .replace("\n", "")))
  )

  /** Warehouse / time-series extensions (round 5): SCD type-2 history
    * build, gap-filled resampling with forward fill, and robust
    * (median/MAD) outlier detection.
    *
    * Scale notes (100 TB posture):
    *  - q113 is the classic gaps-and-islands collapse: ONE exchange by
    *    customer serves both windows (lag/running-sum and the lead over
    *    runs) AND the run aggregation — HashPartitioning(custkey)
    *    satisfies the (custkey, island) clustering, so the whole SCD2
    *    build is a single shuffle regardless of history depth;
    *  - q114 generates the hourly grid per entity with sequence() AFTER
    *    aggregating to (user, hour) — the explode multiplies the small
    *    per-user span table, never the raw event stream, and the
    *    forward-fill window rides the same user partitioning;
    *  - q115 computes median and MAD as DISCRETE order statistics
    *    (lower-median row via row_number, as q48) — no interpolation, so
    *    the doubles that cross the hash gate are actual data values;
    *    the two tiny per-group statistics frames join back broadcast.
    */
  private def warehouseOps: Map[String, Q] = Map(

    // SCD type-2: collapse each customer's consecutive equal-priority
    // order runs into validity intervals [valid_from, valid_to), open
    // (-1) for the current run. Gaps-and-islands: change-flag via lag,
    // island id via running sum, one window partitioning throughout.
    "q113_scd2_history" -> Q(
      (s, dir) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        val marked = table(s, dir, "orders")
          .withColumn("chg",
            when(lag("o_orderpriority", 1).over(w) ===
              col("o_orderpriority"), 0L).otherwise(1L))
          .withColumn("island", sum("chg").over(w))
        val runs = marked
          .groupBy(col("o_custkey"), col("island"),
            col("o_orderpriority").as("priority"))
          .agg(min(unix_timestamp(col("o_orderdate"))).as("valid_from"),
            count(lit(1)).as("n_orders"))
        val w2 = Window.partitionBy("o_custkey").orderBy("island")
        runs
          .withColumn("valid_to",
            coalesce(lead("valid_from", 1).over(w2), lit(-1L)))
          .withColumn("is_current",
            (col("valid_to") === -1L).cast("int"))
          .select(col("o_custkey"), col("priority"), col("valid_from"),
            col("valid_to"), col("is_current"), col("n_orders"))
          .orderBy("o_custkey", "valid_from", "priority")
      },
      Some(
        """WITH m AS (SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
          |   CASE WHEN lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) = o_orderpriority
          |     THEN 0 ELSE 1 END AS chg
          |   FROM orders),
          | i AS (SELECT *, sum(chg) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island FROM m),
          | r AS (SELECT o_custkey, island, o_orderpriority AS priority,
          |     CAST(min(epoch(o_orderdate)) AS BIGINT) AS valid_from,
          |     count(*) AS n_orders
          |   FROM i GROUP BY o_custkey, island, o_orderpriority)
          | SELECT o_custkey, priority, valid_from,
          |   coalesce(lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island), -1) AS valid_to,
          |   CASE WHEN lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY island) IS NULL
          |     THEN 1 ELSE 0 END AS is_current,
          |   n_orders
          | FROM r ORDER BY o_custkey, valid_from, priority""".stripMargin
          .replace("\n", ""))),

    // Gap-filled hourly resample per user: aggregate to (user, hour),
    // explode the per-user hour span, left-join the actuals back, and
    // forward-fill the last observed hourly sum. DECIMAL sums so the
    // filled values are exact cross-engine.
    "q114_resample_fill" -> Q(
      (s, dir) => {
        val hourly = table(s, dir, "events")
          .groupBy(col("user_id"),
            unix_timestamp(date_trunc("hour", col("ts"))).as("h"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast(DecimalType(18, 4))).as("vsum"))
        val grid = hourly.groupBy("user_id")
          .agg(min("h").as("h0"), max("h").as("h1"))
          .select(col("user_id"),
            explode(sequence(col("h0"), col("h1"), lit(3600L))).as("h"))
        val wF = Window.partitionBy("user_id").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        grid.join(hourly, Seq("user_id", "h"), "left")
          .select(col("user_id"), col("h").as("hour_epoch"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            col("n_events").isNull.cast("int").as("is_gap"),
            last("vsum", ignoreNulls = true).over(wF)
              .cast(DecimalType(18, 4)).cast("double").as("value_ffill"))
          .orderBy("user_id", "hour_epoch")
      },
      Some(
        """WITH hourly AS (SELECT user_id,
          |     CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS h,
          |     count(*) AS n_events,
          |     sum(CAST(value AS DECIMAL(18,4))) AS vsum
          |   FROM events GROUP BY 1, 2),
          | span AS (SELECT user_id, min(h) AS h0, max(h) AS h1 FROM hourly GROUP BY 1),
          | grid AS (SELECT user_id, unnest(generate_series(h0, h1, 3600)) AS h FROM span)
          | SELECT g.user_id, g.h AS hour_epoch,
          |   CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
          |   CASE WHEN n_events IS NULL THEN 1 ELSE 0 END AS is_gap,
          |   CAST(CAST(last_value(vsum IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.h
          |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(18,4)) AS DOUBLE) AS value_ffill
          | FROM grid g LEFT JOIN hourly ON g.user_id = hourly.user_id AND g.h = hourly.h
          | ORDER BY g.user_id, hour_epoch""".stripMargin
          .replace("\n", ""))),

    // Robust outlier detection: per-priority lower-median + MAD (median
    // absolute deviation), flag |x - med| > 3 * MAD. Both statistics are
    // discrete order statistics (data values, not interpolations) so the
    // output doubles hash-match; the per-group stats broadcast back.
    // Both medians ride OrderStat.locateRank (the grouped q257 two-pass
    // bucket search) — a priority-partitioned row_number would sort N/5
    // rows in one task at 100x; the bucket histograms are bounded by
    // the cents domain instead.
    "q115_mad_outliers" -> Q(
      (s, dir) => {
        val orders = table(s, dir, "orders")
        def medTarget(n: Column) =
          floor((n + 1).cast("double") / 2.0).cast("long")
        val med = OrderStat.locateRank(orders, Seq("o_orderpriority"),
          col("o_totalprice"),
          expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) div 1024"),
          medTarget, "med")
        val dev = orders.join(broadcast(med), "o_orderpriority")
          .withColumn("adev", abs(col("o_totalprice") - col("med")))
        val mad = OrderStat.locateRank(dev, Seq("o_orderpriority"),
          col("adev"),
          expr("CAST(floor(adev * 100 + 0.5) AS BIGINT) div 1024"),
          medTarget, "mad")
        dev.join(broadcast(mad), "o_orderpriority")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            max("med").as("med"), max("mad").as("mad"),
            sum(when(col("adev") > lit(3.0) * col("mad"), 1L)
              .otherwise(0L)).as("n_outliers"),
            max("adev").as("max_abs_dev"))
          .orderBy("o_orderpriority")
      },
      Some(
        """WITH med AS (SELECT o_orderpriority, o_totalprice AS med FROM (
          |     SELECT o_orderpriority, o_totalprice,
          |       row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
          |       count(*) OVER (PARTITION BY o_orderpriority) AS cnt
          |     FROM orders) WHERE rn = (cnt + 1) // 2),
          | dev AS (SELECT o.o_orderpriority, o.o_orderkey, o.o_totalprice, med.med,
          |     abs(o.o_totalprice - med.med) AS adev
          |   FROM orders o JOIN med USING (o_orderpriority)),
          | mad AS (SELECT o_orderpriority, adev AS mad FROM (
          |     SELECT o_orderpriority, adev, o_orderkey,
          |       row_number() OVER (PARTITION BY o_orderpriority ORDER BY adev, o_orderkey) AS rn,
          |       count(*) OVER (PARTITION BY o_orderpriority) AS cnt
          |     FROM dev) WHERE rn = (cnt + 1) // 2)
          | SELECT o_orderpriority, count(*) AS n, max(med) AS med, max(mad) AS mad,
          |   CAST(sum(CASE WHEN adev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
          |   max(adev) AS max_abs_dev
          | FROM dev JOIN mad USING (o_orderpriority)
          | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
          .replace("\n", ""))),

    // Entity resolution: recall-complete fuzzy candidate pairs ->
    // Levenshtein <= 2 verification -> connected components ->
    // canonical entity id + cluster size. Candidates come from
    // DELETION-NEIGHBORHOOD blocking (the FastSS / SymSpell family,
    // Bocek et al. 2007): if ed(s,t) <= 2 then s and t share at least
    // one string in their <=2-deletion neighborhoods (delete the edited
    // positions from each side of the alignment), so an equi-join on
    // hashed deletion variants finds EVERY true pair — unlike the r5
    // (nation,segment) equi-block, whose ~125 constant blocks each grow
    // O(N) and whose candidate pairs grow O(N^2/125). Variant-key
    // cardinality grows with N, so block sizes stay bounded at 100x
    // scale; a shared variant implies the names are already within
    // edit distance ~4, so candidates track true-pair density, not N^2.
    // The (nation, segment) conjunct stays in the join key (it is part
    // of the match semantics) and levenshtein(a,b) <= 2 remains the
    // verifier, so the final pair set — and the oracle — are unchanged.
    "q121_entity_resolution" -> Q(
      (s, dir) => {
        val c = table(s, dir, "customer")
          .select(col("c_custkey"), col("c_name"),
            col("c_nationkey"), col("c_mktsegment"))
        // Materialize the variant table ONCE: the self-join otherwise
        // re-evaluates the deletion-neighborhood generation on both
        // sides (measured ~2x the whole candidate stage at sf0.1). Same
        // checkpoint-the-expensive-leaf discipline as q110/q118.
        // The variant frame is SLIM — (vh, block keys, custkey), no
        // c_name (VERDICT r11 #5, adopted on a ProbeQ121Slim A/B x3 win
        // at sf0.1: B < A in all three alternating pairs, best 3.15 ->
        // 2.99 s, identical 32,527-pair sets; PLANS.md, probe code at
        // commit 9916828): the corpus-scale variant
        // self-join — the heaviest shuffle here — sheds ~18 name bytes
        // of ~48 per row on BOTH sides, and the name fetch moves to the
        // candidate grain. This supersedes the r6 verify-inside-join
        // finding, which predates the pre-verify distinct: dedup'ing
        // multi-variant candidate collisions BEFORE fetching names means
        // the name joins and the Levenshtein verify each touch a
        // candidate pair once. 100 TB posture: the name joins key on
        // custkey against the customer base (~1% of the variant frame's
        // rows) and their volume is candidate-proportional, while the
        // big self-join's shuffle bytes drop ~40%.
        val variants = deletionVariants(c, "c_name",
            Seq("c_custkey", "c_nationkey", "c_mktsegment"))
          .localCheckpoint(eager = true)
        // shuffle_hash: both sides are the same materialized variant
        // frame, so sort-merge pays two full sorts of it per query for
        // no ordering anyone downstream uses — measured 4.5 -> 3.5 s
        // on the candidate stage at sf0.1 (r11, A/B x3, identical
        // pair sets). 100 TB posture matches q274's rerank: the build
        // side is one hash bucket's partition of the variant frame and
        // partition count scales with the cluster, so the in-memory
        // build stays bounded exactly when the shuffle itself does.
        val cand = variants.as("a").hint("shuffle_hash")
          .join(variants.as("b"),
            col("a.vh") === col("b.vh") &&
              col("a.c_nationkey") === col("b.c_nationkey") &&
              col("a.c_mktsegment") === col("b.c_mktsegment") &&
              col("a.c_custkey") < col("b.c_custkey"))
          .select(col("a.c_custkey").as("d1"), col("b.c_custkey").as("d2"))
          .distinct()
        // levenshtein(a, b, 2) is Spark's bounded edit distance: -1 once
        // the distance passes 2, so `>= 0` is levenshtein(a, b) <= 2.
        // No broadcast hint on the name fetch: the optimizer broadcasts
        // the 15k-row customer frame at bench SFs, and at corpus scale
        // the same plan degrades gracefully to a candidate-proportional
        // shuffled join instead of an impossible broadcast.
        val names = c.select(col("c_custkey"), col("c_name"))
        val pairs = cand
          .join(names.select(col("c_custkey").as("d1"),
            col("c_name").as("n1")), "d1")
          .join(names.select(col("c_custkey").as("d2"),
            col("c_name").as("n2")), "d2")
          .where(levenshtein(col("n1"), col("n2"), 2) >= 0)
          .select(col("d1"), col("d2"))
        val comp = DedupOps.connectedComponents(pairs)
          .select(col("v"), col("c"))
        c.join(comp, col("c_custkey") === col("v"), "left")
          .select(col("c_custkey"),
            coalesce(col("c"), col("c_custkey")).as("entity_id"))
          .withColumn("cluster_size",
            count(lit(1)).over(Window.partitionBy("entity_id")))
          .orderBy("c_custkey")
      },
      Some(
        """WITH RECURSIVE cand AS (SELECT a.c_custkey AS d1, b.c_custkey AS d2
          |   FROM customer a JOIN customer b
          |   ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
          |     AND a.c_custkey < b.c_custkey
          |     AND levenshtein(a.c_name, b.c_name) <= 2),
          | edges AS (SELECT d1 AS a, d2 AS b FROM cand UNION ALL SELECT d2, d1 FROM cand),
          | nodes AS (SELECT DISTINCT a AS v FROM edges),
          | reach(v, m) AS (SELECT v, v FROM nodes
          |   UNION SELECT e.a, r.m FROM edges e JOIN reach r ON r.v = e.b),
          | comp AS (SELECT v, min(m) AS c FROM reach GROUP BY v),
          | ent AS (SELECT c_custkey, coalesce(comp.c, c_custkey) AS entity_id
          |   FROM customer LEFT JOIN comp ON c_custkey = comp.v)
          | SELECT c_custkey, entity_id,
          |   count(*) OVER (PARTITION BY entity_id) AS cluster_size
          | FROM ent ORDER BY c_custkey""".stripMargin.replace("\n", ""))),

    // Grouped OLS trend: least-squares slope/intercept of order value
    // over time per priority, from EXACT integer sums — x is days
    // centered on the group minimum, y is whole-dollar integers (bounded so n*Sxy
    // keeps int64 headroom at sf0.1 — measured 2.7e19 with cents, 
    // 7x under the limit in dollars), so every
    // accumulated moment (Sx, Sy, Sxy, Sxx) is a BIGINT (order-
    // independent); the closed-form numerator/denominator stay integer
    // and only the final divisions run in IEEE (int64->double
    // conversion is correctly rounded in both engines). Magnitudes are
    // bounded by centering; at larger SFs the moments would move to
    // DECIMAL(38) with the same shape.
    "q122_trend_ols" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
          .select(col("o_orderpriority"),
            expr("unix_timestamp(o_orderdate) div 86400").as("day"),
            expr("cast(round(o_totalprice) as bigint)").as("dollars"))
        val mins = o.groupBy("o_orderpriority")
          .agg(min("day").as("day0"))
        o.join(broadcast(mins), "o_orderpriority")
          .select(col("o_orderpriority"),
            (col("day") - col("day0")).as("x"), col("dollars").as("y"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .select(col("o_orderpriority"), col("n"),
            (col("n") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
            (col("n") * col("sxx") - col("sx") * col("sx")).as("slope_den"))
          .withColumn("slope_dollars_per_day",
            col("slope_num").cast("double") / col("slope_den").cast("double"))
          .orderBy("o_orderpriority")
      },
      Some(
        """WITH o AS (SELECT o_orderpriority,
          |     CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day,
          |     CAST(round(o_totalprice) AS BIGINT) AS dollars
          |   FROM orders),
          | m AS (SELECT o_orderpriority, min(day) AS day0 FROM o GROUP BY 1),
          | xy AS (SELECT o.o_orderpriority, o.day - m.day0 AS x, o.dollars AS y
          |   FROM o JOIN m USING (o_orderpriority)),
          | s AS (SELECT o_orderpriority, count(*) AS n,
          |     CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
          |     CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
          |   FROM xy GROUP BY 1)
          | SELECT o_orderpriority, n,
          |   n * sxy - sx * sy AS slope_num,
          |   n * sxx - sx * sx AS slope_den,
          |   CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_dollars_per_day
          | FROM s ORDER BY o_orderpriority""".stripMargin
          .replace("\n", ""))),

    // Equi-width value histogram per priority: 10 buckets between the
    // group min/max (bounds broadcast back), integer bucket index from
    // one deterministic double expression. Distribution profiling —
    // the per-group shape a warehouse checks before choosing join/sort
    // strategies.
    "q123_value_histogram" -> Q(
      (s, dir) => {
        val o = table(s, dir, "orders")
        val bounds = o.groupBy("o_orderpriority")
          .agg(min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
        o.join(broadcast(bounds), "o_orderpriority")
          .select(col("o_orderpriority"),
            least(lit(9), floor((col("o_totalprice") - col("lo")) * lit(10.0) /
              (col("hi") - col("lo"))).cast("int")).as("bucket"))
          .groupBy("o_orderpriority", "bucket")
          .agg(count(lit(1)).as("n"))
          .orderBy("o_orderpriority", "bucket")
      },
      Some(
        """WITH b AS (SELECT o_orderpriority, min(o_totalprice) AS lo,
          |     max(o_totalprice) AS hi FROM orders GROUP BY 1)
          | SELECT o.o_orderpriority,
          |   CAST(least(9, CAST(floor((o.o_totalprice - b.lo) * 10.0 / (b.hi - b.lo)) AS INT)) AS INT) AS bucket,
          |   count(*) AS n
          | FROM orders o JOIN b USING (o_orderpriority)
          | GROUP BY 1, 2 ORDER BY o_orderpriority, bucket""".stripMargin
          .replace("\n", ""))),

    // Deterministic HyperLogLog (m=256 registers, p=8) per event type —
    // the sketch q51 only bounds, here built register-by-register from
    // the md5-60-bit hash bridge so DuckDB replays the ENTIRE sketch:
    // index = h mod 256, rho = leading-zero rank of the remaining 52
    // bits (integer-exact via length(bin(x)) in both engines), register
    // state = max(rho), and the harmonic sum is kept as an exact BIGINT
    // (sum of 1 << (53 - M), empties contributing 1 << 53) so the only
    // IEEE step is the final constant/BIGINT division — the q116/q122
    // exactness pattern applied to a sketch. 100 TB posture: registers
    // max-combine map-side, the shuffle carries at most m rows per
    // group, and the sketch state is mergeable across any partitioning
    // — the same layout a 1000-executor rollup would use.
    "q124_hll_registers" -> Q(
      (s, dir) => {
        val ev = table(s, dir, "events")
        val h = conv(substring(md5(col("user_id").cast("string")), 1, 15),
          16, 10).cast("long")
        val rest = expr("shiftright(h, 8)")
        val regs = ev.select(col("event_type"), h.as("h"))
          .select(col("event_type"), (col("h") % 256).as("idx"),
            when(rest === 0, lit(53))
              .otherwise(lit(53) - length(bin(rest))).as("rho"))
          .groupBy("event_type", "idx").agg(max("rho").as("m_reg"))
        val sums = regs.groupBy("event_type").agg(
          sum(expr("shiftleft(cast(1 as bigint), cast(53 - m_reg as int))"))
            .as("s_used"),
          count(lit(1)).as("used"))
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_users"))
        val sTotal = col("s_used") +
          (lit(256L) - col("used")) * lit(1L << 53)
        val raw = lit(HllNumerator) / sTotal.cast("double")
        val v = (lit(256L) - col("used")).cast("int")
        // linear-counting branch (n << m): m * ln(m/V), taken from the
        // SHARED literal table so neither engine evaluates ln at query
        // time — the branch predicate compares the bit-identical raw
        // estimate, so both engines always take the same arm.
        val lut = array(HllLinearCount.map(lit): _*)
        val est = when(v > 0 && raw <= lit(640.0), element_at(lut, v))
          .otherwise(raw)
        exact.join(sums, "event_type")
          .select(col("event_type"), col("exact_users"),
            sTotal.cast("long").as("hll_sum_scaled"),
            v.as("empty_registers"),
            raw.as("hll_raw"),
            est.as("hll_estimate"),
            (abs(est - col("exact_users").cast("double")) <=
              lit(0.1625) * col("exact_users").cast("double"))
              .cast("int").as("within_2p5_rsd"))
          .orderBy("event_type")
      },
      Some {
        // CAST('…' AS DOUBLE): a bare decimal literal parses as DECIMAL
        // in DuckDB, and DECIMAL->DOUBLE double-rounds (the scaled
        // mantissa exceeds 2^53), landing 1 ulp off Spark's lit().
        // String->double is strtod — correctly rounded, bit-identical.
        val lutValues = HllLinearCount.zipWithIndex
          .map { case (lc, i) => s"(${i + 1}, CAST('$lc' AS DOUBLE))" }
          .mkString(", ")
        s"""WITH h AS (SELECT event_type, ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM events),
          | r AS (SELECT event_type, h % 256 AS idx,
          |   CASE WHEN (h >> 8) = 0 THEN 53 ELSE 53 - length(bin(h >> 8)) END AS rho FROM h),
          | m AS (SELECT event_type, idx, max(rho) AS m_reg FROM r GROUP BY 1, 2),
          | s AS (SELECT event_type, CAST(sum(1::BIGINT << CAST(53 - m_reg AS INT)) AS BIGINT) AS s_used,
          |   count(*) AS used FROM m GROUP BY 1),
          | e AS (SELECT event_type, count(DISTINCT user_id) AS exact_users FROM events GROUP BY 1),
          | lut(v, lc) AS (SELECT * FROM (VALUES $lutValues)),
          | t AS (SELECT e.event_type, e.exact_users,
          |   CAST(s.s_used + (256 - s.used) * (1::BIGINT << 53) AS BIGINT) AS hll_sum_scaled,
          |   CAST(256 - s.used AS INT) AS empty_registers FROM e JOIN s USING (event_type)),
          | t2 AS (SELECT t.*, $HllNumerator / CAST(hll_sum_scaled AS DOUBLE) AS hll_raw,
          |   CASE WHEN empty_registers > 0 AND $HllNumerator / CAST(hll_sum_scaled AS DOUBLE) <= 640.0
          |     THEN lut.lc ELSE $HllNumerator / CAST(hll_sum_scaled AS DOUBLE) END AS hll_estimate
          |   FROM t LEFT JOIN lut ON lut.v = t.empty_registers)
          | SELECT event_type, exact_users, hll_sum_scaled, empty_registers, hll_raw, hll_estimate,
          |   CAST(abs(hll_estimate - CAST(exact_users AS DOUBLE))
          |     <= 0.1625 * CAST(exact_users AS DOUBLE) AS INT) AS within_2p5_rsd
          | FROM t2 ORDER BY event_type""".stripMargin.replace("\n", "")
      })
  )

  /** alpha_256 * 256^2 * 2^53: the HLL estimate's constant numerator
    * (alpha_m = 0.7213 / (1 + 1.079/m) for m >= 128, Flajolet et al.
    * 2007). Computed once in IEEE and embedded in BOTH engines' plans
    * via its exact decimal rendering, so the estimate division is
    * bit-identical.
    */
  private val HllNumerator: Double =
    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 9007199254740992.0

  /** m * ln(m / V) for V = 1..256 — the HLL linear-counting estimates,
    * evaluated ONCE here and embedded as the same literal table in both
    * the Spark plan and the DuckDB oracle: ln is the one function whose
    * last bit is not guaranteed identical across libm implementations,
    * so neither engine is allowed to compute it.
    */
  private val HllLinearCount: Seq[Double] =
    (1 to 256).map(v => 256.0 * math.log(256.0 / v))
}
