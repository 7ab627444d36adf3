package graft.operators

import graft.{GQuery, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Relational generalizations of the reference's state lookups (SURVEY §2.3-2.5):
  * every reference "join" is a hash-map probe against folded state; here they are
  * declared as equi/semi/anti joins over the TPC-H-ish testbed so Catalyst plans
  * hash joins (broadcast for dimension sides) and the DuckDB oracle checks values.
  *
  * Scale posture (100 TB): fact tables (lineitem, orders, events) are only ever
  * shuffled on their join/group keys; dimension tables (region, nation, supplier,
  * customer, part) are broadcast — never shuffle the big side on a small join.
  */
object RelationalOps {

  /** TPC-H Q1-shaped pricing summary — the canonical scan→hash-agg pipeline.
    * One shuffle on the 6-value group key; partial aggregation map-side.
    * Every metric is EXACT integer arithmetic: quantities are integral,
    * prices scale per-row to e2/e4 cents before summing (each summand
    * terminates, so the sum is exact under any partial-aggregation
    * order — `round(sum(double), 2)` could flip its last digit between
    * engines once groups are large enough for summation order to move
    * the last ulp), and the averages are integer floor-divisions of
    * those exact sums. e4 cent sums stay inside BIGINT up to ~$10¹⁴ per
    * group; a deployment beyond that widens the same shape to
    * DECIMAL(38,0).
    *
    * The non-finite guard bound is SCALE-DEPENDENT: the guarded value is
    * multiplied before the floor, and Spark's floor(double) returns
    * BIGINT — for any post-multiplication value past ~9.2e18 it silently
    * saturates at Long.MaxValue under non-ANSI semantics (the
    * surrounding TRY_CAST never sees an overflowing double), while
    * DuckDB's floor stays DOUBLE and its TRY_CAST nulls — a latent
    * engine divergence band if one fixed bound were reused across
    * scales. So ×100 summands guard at 9.0e16, ×10000 at 9.0e14, and
    * ×1000000 at 9.0e12: in every case bound × scale = 9.0e18 <
    * Long.MaxValue, and both engines null exactly the same rows.
    */
  val q1Agg = GQuery(
    "q1_agg",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          expr("CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)").as("sum_qty"),
          sum(expr("TRY_CAST(floor(CASE WHEN isnan(l_extendedprice) OR abs(l_extendedprice) >= 9.0e16 THEN NULL ELSE l_extendedprice END * 100 + 0.5) AS BIGINT)"))
            .as("sum_base_price_e2"),
          sum(expr("TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)"))
            .as("sum_disc_price_e4"),
          expr("CAST(sum(CAST(l_quantity AS BIGINT)) * 10000 div count(1) AS BIGINT)")
            .as("avg_qty_e4"),
          expr("CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_discount) OR abs(l_discount) >= 9.0e16 THEN NULL ELSE l_discount END * 100 + 0.5) AS BIGINT)) * 100 div count(1) AS BIGINT)")
            .as("avg_disc_e4"),
          count(lit(1)).as("count_order")),
    oracle = Some(
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice) OR abs(l_extendedprice) >= 9.0e16 THEN NULL ELSE l_extendedprice END * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_price_e2,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_disc_price_e4,
        |       CAST(CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) * 10000 // count(*) AS BIGINT) AS avg_qty_e4,
        |       CAST(CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_discount) OR abs(l_discount) >= 9.0e16 THEN NULL ELSE l_discount END * 100 + 0.5) AS BIGINT)) AS BIGINT) * 100 // count(*) AS BIGINT) AS avg_disc_e4,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    bench = true)

  /** J-hash: fact⋈fact equi-join (orders⋈customer is fact⋈dim here, but keyed
    * at customer granularity). Shuffle only on o_custkey; customer broadcasts.
    */
  val joinHashEqui = GQuery(
    "join_hash_equi",
    (s, d) =>
      Tables.orders(s, d)
        .join(broadcast(Tables.customer(s, d)),
              col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
             sum(expr("TRY_CAST(floor(CASE WHEN isnan(o_totalprice) OR abs(o_totalprice) >= 9.0e16 THEN NULL ELSE o_totalprice END * 100 + 0.5) AS BIGINT)"))
               .as("total_spend_e2")),
    oracle = Some(
      """SELECT c_custkey, c_name, c_mktsegment, count(*) AS n_orders,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(o_totalprice) OR abs(o_totalprice) >= 9.0e16 THEN NULL ELSE o_totalprice END * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_spend_e2
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name, c_mktsegment""".stripMargin),
    bench = true)

  /** J-broadcast: 3-way star join — lineitem⋈supplier⋈nation, revenue per
    * nation. Both dimension sides broadcast: zero shuffles of lineitem before
    * the final group-by.
    */
  val joinBroadcast = GQuery(
    "join_broadcast",
    (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.supplier(s, d)),
              col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, d)),
              col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(expr(
               "TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)"))
               .as("revenue_e4"),
             count(lit(1)).as("n_items")),
    oracle = Some(
      """SELECT n_name,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),
    bench = true)

  /** J-semi: customers WITH orders (F8 existence-guard idiom, event.go:118-121).
    * left_semi — no row multiplication, customer side streams once.
    */
  val joinSemi = GQuery(
    "join_semi",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 450000.0),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name", "c_nationkey"),
    oracle = Some(
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)""".stripMargin))

  /** J-anti: customers WITHOUT orders (F5 occupancy-rejection idiom,
    * event.go:38-41 — "cell must be free" = anti-join against state).
    */
  val joinAnti = GQuery(
    "join_anti",
    (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_totalprice") > 450000.0),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal"),
    oracle = Some(
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000.0)""".stripMargin))

  /** J6-shaped left outer join: every customer with their (possibly absent)
    * order count — the score-display join (game.go:300-312) where players
    * without scores still render.
    */
  val joinLeftDisplay = GQuery(
    "join_left_display",
    (s, d) => {
      val counts = Tables.orders(s, d)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      Tables.customer(s, d)
        .join(counts, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
                coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    },
    oracle = Some(
      """SELECT c_custkey, c_name, coalesce(n_orders, 0) AS n_orders
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
        |) ON c_custkey = o_custkey""".stripMargin))

  /** 2-stage agg + having-style filter: order-priority counts for high-value
    * orders (pushdown check: the o_totalprice predicate reaches the scan).
    */
  val aggPriorityCount = GQuery(
    "agg_priority_count",
    (s, d) =>
      Tables.orders(s, d)
        .filter(col("o_totalprice") > 1000.0)
        .groupBy("o_orderpriority")
        // exact average at e2: integer floor-division of the per-row-
        // scaled cent sum — round(avg(double), 2) is the cross-engine-
        // unsafe form for terminating inputs
        .agg(count(lit(1)).as("n"),
             expr("CAST(sum(TRY_CAST(floor(CASE WHEN isnan(o_totalprice) OR abs(o_totalprice) >= 9.0e16 THEN NULL ELSE o_totalprice END * 100 + 0.5) AS BIGINT)) div count(1) AS BIGINT)")
               .as("avg_price_e2")),
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS n,
        |       CAST(CAST(sum(TRY_CAST(floor(CASE WHEN isnan(o_totalprice) OR abs(o_totalprice) >= 9.0e16 THEN NULL ELSE o_totalprice END * 100 + 0.5) AS BIGINT)) AS BIGINT) // count(*) AS BIGINT) AS avg_price_e2
        |FROM orders WHERE o_totalprice > 1000.0
        |GROUP BY o_orderpriority""".stripMargin))

  /** A6: distinct — distinct (returnflag, linestatus) combos
    * (ReplaceDistinctWithAggregate; obstacle-set dedup analog, game.go:217-223).
    */
  val aggDistinctCells = GQuery(
    "agg_distinct_cells",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_returnflag"), col("l_linestatus"))
        .distinct(),
    oracle = Some(
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"))

  /** W5: set ops — union/except over customer-key sets (obstacle list build,
    * game.go:213-238: candidates ∪ candidates − spawn-cross).
    */
  val setopObstacleBuild = GQuery(
    "setop_obstacle_build",
    (s, d) => {
      val buyers = Tables.orders(s, d).select(col("o_custkey").as("k")).distinct()
      val bigSpenders = Tables.orders(s, d)
        .filter(col("o_totalprice") > 50000.0)
        .select(col("o_custkey").as("k")).distinct()
      val machine = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey").as("k"))
      buyers.union(bigSpenders).distinct().except(machine)
    },
    oracle = Some(
      """SELECT k FROM (
        |  SELECT DISTINCT o_custkey AS k FROM orders
        |  UNION
        |  SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice > 50000.0
        |) EXCEPT SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'MACHINERY'""".stripMargin))

  /** Correlated-style per-group threshold: parts above their type's average
    * retail price — aggregate-then-rejoin (broadcast of the per-type averages).
    */
  val aggAboveTypeAvg = GQuery(
    "agg_above_type_avg",
    (s, d) => {
      val byType = Tables.part(s, d)
        .groupBy("p_type").agg(avg(col("p_retailprice")).as("type_avg"))
      Tables.part(s, d)
        .join(broadcast(byType), Seq("p_type"))
        .filter(col("p_retailprice") > col("type_avg"))
        .select(col("p_partkey"), col("p_name"),
                round(col("p_retailprice"), 2).as("price"))
    },
    oracle = Some(
      """SELECT p_partkey, p_name, round(p_retailprice, 2) AS price
        |FROM part p JOIN (
        |  SELECT p_type, avg(p_retailprice) AS type_avg FROM part GROUP BY p_type
        |) t ON p.p_type = t.p_type
        |WHERE p_retailprice > type_avg""".stripMargin))

  /** Skew pattern: two-stage salted aggregation. The events table has only 5
    * event_type values — at 100 TB each key is a hot partition. Stage 1
    * spreads each key over 16 salt buckets (map-side + 80-group shuffle);
    * stage 2 merges the 80 partials. Results are identical to the direct
    * group-by (the oracle), but no single reducer ever sees a whole key.
    */
  val aggSaltedSkew = GQuery(
    "agg_salted_skew",
    (s, d) =>
      Tables.events(s, d)
        .withColumn("salt", col("event_id") % 16)
        .groupBy("event_type", "salt")
        .agg(count(lit(1)).as("pn"),
          sum(expr("TRY_CAST(floor(CASE WHEN isnan(value) OR abs(value) >= 9.0e16 THEN NULL ELSE value END * 100 + 0.5) AS BIGINT)")).as("pv"))
        .groupBy("event_type")
        .agg(sum(col("pn")).as("n"), sum(col("pv")).as("sum_value_e2")),
    oracle = Some(
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(value) OR abs(value) >= 9.0e16 THEN NULL ELSE value END * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_e2
        |FROM events GROUP BY event_type""".stripMargin))

  /** W5 completion: intersect — customers that are both MACHINERY-segment
    * and big spenders (set semantics, dedup included).
    */
  val setopIntersect = GQuery(
    "setop_intersect",
    (s, d) => {
      val machinery = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey").as("k"))
      val bigSpenders = Tables.orders(s, d)
        .filter(col("o_totalprice") > 300000.0)
        .select(col("o_custkey").as("k"))
      machinery.intersect(bigSpenders)
    },
    oracle = Some(
      """SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'MACHINERY'
        |INTERSECT
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 300000.0""".stripMargin))

  /** Pivot: per-user event-type count matrix — one row per user, one column
    * per event type (fixed column list so the plan is a single pass, no
    * distinct-values pre-query).
    */
  val aggPivot = GQuery(
    "agg_pivot",
    (s, d) =>
      Tables.events(s, d)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        // fill ONLY the pivoted count columns: a bare na.fill(0L) would
        // also rewrite a NULL user_id KEY to user 0, fabricating a second
        // user-0 row (caught by the hostile events tail's null-user row)
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))
        .select(col("user_id"), col("click").as("n_click"),
          col("view").as("n_view"), col("purchase").as("n_purchase"),
          col("signup").as("n_signup"), col("error").as("n_error")),
    oracle = Some(
      """SELECT user_id,
        |       count(*) FILTER (event_type = 'click') AS n_click,
        |       count(*) FILTER (event_type = 'view') AS n_view,
        |       count(*) FILTER (event_type = 'purchase') AS n_purchase,
        |       count(*) FILTER (event_type = 'signup') AS n_signup,
        |       count(*) FILTER (event_type = 'error') AS n_error
        |FROM events GROUP BY user_id""".stripMargin))

  /** Exact interpolated percentiles per return flag (Spark `percentile` and
    * DuckDB `quantile_cont` share the continuous-interpolation definition).
    */
  /** Non-finite values carry no rank information and diverge the
    * interpolation grid between engines (one NaN row shifts every rank
    * above it) — nulled out PER COLUMN with the same text on both sides,
    * so both percentile/quantile_cont skip exactly those rows
    * (the [[ExactSql.ValueFinite]] contract, column-local). */
  private def finiteOrNull(c: String) =
    s"CASE WHEN isnan($c) OR abs($c) >= 9.0e16 THEN NULL ELSE $c END"

  val aggPercentiles = GQuery(
    "agg_percentiles",
    (s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          round(expr(s"percentile(${finiteOrNull("l_quantity")}, 0.5)"), 4)
            .as("p50_qty"),
          round(expr(s"percentile(${finiteOrNull("l_quantity")}, 0.9)"), 4)
            .as("p90_qty"),
          round(expr(
            s"percentile(${finiteOrNull("l_extendedprice")}, 0.99)"), 4)
            .as("p99_price")),
    oracle = Some(
      s"""SELECT l_returnflag,
        |       round(quantile_cont(${finiteOrNull("l_quantity")}, 0.5), 4) AS p50_qty,
        |       round(quantile_cont(${finiteOrNull("l_quantity")}, 0.9), 4) AS p90_qty,
        |       round(quantile_cont(${finiteOrNull("l_extendedprice")}, 0.99), 4) AS p99_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin))

  /** Range-join bucket width in µs (24 h) — equal to the interval length so
    * every probe interval spans at most 2 buckets.
    */
  final val RangeBucketUs = 86400000000L

  /** Big×big point-in-interval join, bucketized — the scale technique for
    * range joins Spark has no native optimization for: a naive
    * `a JOIN b ON b.ts BETWEEN a.ts - W AND a.ts` plans as
    * BroadcastNestedLoopJoin (quadratic per user at 100 TB). Instead both
    * sides get an equi-joinable time-bucket key of width W: the build side
    * keeps its own bucket, the probe side expands to the only 2 buckets its
    * interval can touch (bucket width = interval length), the join runs as a
    * plain shuffled hash join on (user_id, bucket), and the exact range
    * predicate filters the ≤2× candidate fan-out. Per-pair uniqueness is
    * structural — each build row carries exactly one bucket. The query:
    * for every purchase, how many clicks by the same user in the preceding
    * 24 h (attribution lookback).
    */
  /** The bucketized core, reusable on any (event_id, user_id, tu) probe
    * frame × (user_id, btu) build frame — shared by the registered query
    * and the scale smoke. Returns one row per probe with its in-window
    * build count.
    */
  private[graft] def recentCountBucketed(
      probesIn: org.apache.spark.sql.DataFrame,
      buildIn: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val build = buildIn.select(col("user_id"), col("btu"),
      expr(s"btu div $RangeBucketUs").as("bkt"))
    val probes = probesIn.select(col("event_id"), col("user_id"), col("tu"),
      explode(array(expr(s"tu div $RangeBucketUs"),
        expr(s"tu div $RangeBucketUs - 1"))).as("bkt"))
    val matched = probes.join(build, Seq("user_id", "bkt"))
      .filter(col("btu") >= col("tu") - RangeBucketUs && col("btu") < col("tu"))
      .groupBy("event_id").agg(count(lit(1)).as("n_recent_clicks"))
    probesIn.join(matched, Seq("event_id"), "left")
      .select(col("event_id"),
        coalesce(col("n_recent_clicks"), lit(0L)).as("n_recent_clicks"))
  }

  val joinRangeBucketed = GQuery(
    "join_range_bucketed",
    (s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"),
          unix_micros(col("ts")).as("tu"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("tu"))
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("tu").as("btu"))
      recentCountBucketed(purchases, clicks)
    },
    oracle = Some(
      s"""WITH rj_a AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS tu FROM events
         |  WHERE event_type = 'purchase'),
         |rj_b AS (
         |  SELECT user_id, epoch_us(ts) AS tu FROM events
         |  WHERE event_type = 'click')
         |SELECT a.event_id, count(b.tu) AS n_recent_clicks
         |FROM rj_a a LEFT JOIN rj_b b ON b.user_id = a.user_id
         |  AND b.tu >= a.tu - $RangeBucketUs AND b.tu < a.tu
         |GROUP BY a.event_id""".stripMargin),
    bench = true)

  /** Interval-overlap bucket width in days — equal to the maximum interval
    * length (l_quantity ≤ 50) so every interval covers at most 2 buckets.
    */
  final val OverlapBucketDays = 50L

  /** Interval×interval OVERLAP join, bucketized — the generalization of
    * [[recentCountBucketed]] from point-in-interval to interval-vs-interval
    * (`a.s <= b.e AND b.s <= a.e`), which Spark would otherwise plan as a
    * nested-loop per key. Technique: with bucket width B ≥ max interval
    * length, an interval [s, e] covers at most the 2 buckets
    * {s div B, e div B}; both sides expand to their covered buckets and the
    * join runs as a plain shuffled hash join on (key, bucket) with the exact
    * overlap predicate on the ≤4× candidate fan-out. Per-pair uniqueness is
    * structural, not a distinct: an overlapping pair is counted only in the
    * bucket containing `greatest(s_a, s_b)` — a point that lies in BOTH
    * intervals (overlap ⇒ max(s) ≤ min(e)), so its bucket is in both sides'
    * covered sets, and it names exactly one bucket. No dedup shuffle, no
    * all-pairs scan; candidate count per (key, bucket) is bounded by the
    * bucket's occupancy, exactly like the LSH family's capped buckets.
    *
    * Input frame: (key, id, s, e) with `e - s <= B`. Pairing is by `id_a <
    * id_b`; if ids collide across rows (the synthetic testbed's
    * (orderkey, linenumber) is not unique), semantics are row-level
    * multiset — each qualifying ROW pair still crosses exactly once, which
    * is precisely what the row-level SQL oracle computes.
    * Shared by the registered query and the parity spec.
    */
  private[graft] def overlapPairsBucketed(
      items: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val B = OverlapBucketDays
    val bkts = items.select(col("key"), col("id"), col("s"), col("e"),
      explode(array_distinct(
        array(expr(s"s div $B"), expr(s"e div $B")))).as("bkt"))
    val a = bkts.select(col("key"), col("bkt"), col("id").as("id_a"),
      col("s").as("s_a"), col("e").as("e_a"))
    val b = bkts.select(col("key"), col("bkt"), col("id").as("id_b"),
      col("s").as("s_b"), col("e").as("e_b"))
    // SHUFFLE_HASH, not broadcast: auto-broadcast would pick BHJ here (the
    // exploded side estimates small at test sf), leaving the probe side on
    // the parquet scan's split count — near-serial candidate generation on
    // a single-file input, and a corpus-sized broadcast at real scale. The
    // co-partitioned shuffled hash join on (key, bkt) is 8× faster warm at
    // sf0.1 and is the only shape that survives 100 TB.
    //
    // r20 audit note (VERDICT item 6): the "3 exchanges" plan pin
    // double-counts what executes — the two sides' (key, bkt) exchange
    // subtrees are CANONICALLY IDENTICAL (the renames sit above the
    // exchange), so AQE's runtime stage cache computes the shuffle once
    // and reuses it; a measured self-join-on-one-alias restructure moved
    // neither wall nor task counts (1.4-1.9 s, 5 jobs, 38 tasks both
    // ways) and was dropped because RewriteOverlapJoin's
    // already-bucketized guard does not recognize the aliased shape
    // (GraftExtensionsSpec pins that guard).
    a.hint("shuffle_hash").join(b, Seq("key", "bkt"))
      .filter(col("id_a") < col("id_b") &&
        col("s_a") <= col("e_b") && col("s_b") <= col("e_a") &&
        col("bkt") === expr(s"greatest(s_a, s_b) div $B"))
  }

  /** The query: per-supplier concurrent-shipment pairs — shipment i active
    * over [l_shipdate, l_shipdate + l_quantity days]; count pairs of
    * shipments from the same supplier whose active windows overlap. The
    * oracle computes the same count with the naive overlap join (fine at
    * oracle scale; the engine plan is the one that survives 100 TB).
    */
  /** The lineitem interval frame (key, id, s, e) consumed by
    * `join_interval_overlap` AND by tools/ExplainOverlap — one definition
    * so the profiling probe can never drift from the registered query. */
  private[graft] def lineitemIntervals(
      s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d).select(
      col("l_suppkey").as("key"),
      (col("l_orderkey") * 8 + col("l_linenumber")).as("id"),
      datediff(col("l_shipdate"), lit("1970-01-01")).cast("long").as("s"),
      (datediff(col("l_shipdate"), lit("1970-01-01")) +
        col("l_quantity").cast("int")).cast("long").as("e"))
      // the operator's declared domain, enforced instead of assumed: a
      // well-formed interval has both endpoints and s ≤ e, and the
      // 2-bucket expansion is only exhaustive for lengths ≤ B (width =
      // max legal l_quantity). Hostile rows (NULL shipdate/quantity,
      // negative quantity ⇒ inverted interval, 10⁶ quantity ⇒ 20,000×
      // over-length) are excluded IDENTICALLY on both engines — the
      // round-13 hostile tail showed the naive oracle still pair-counts
      // inverted/over-length intervals the bucketed join structurally
      // cannot see (62-pair silent undercount)
      .filter(col("s").isNotNull && col("e").isNotNull &&
        col("s") <= col("e") &&
        col("e") - col("s") <= lit(OverlapBucketDays))

  val joinIntervalOverlap = GQuery(
    "join_interval_overlap",
    (s, d) => {
      overlapPairsBucketed(lineitemIntervals(s, d))
        .groupBy("key")
        .agg(count(lit(1)).as("n_overlap_pairs"))
        .select(col("key").as("s_suppkey"), col("n_overlap_pairs"))
    },
    oracle = Some(
      """WITH iv AS (
        |  SELECT l_suppkey AS key, l_orderkey * 8 + l_linenumber AS id,
        |         (CAST(l_shipdate AS DATE) - DATE '1970-01-01') AS s,
        |         (CAST(l_shipdate AS DATE) - DATE '1970-01-01')
        |           + CAST(l_quantity AS INTEGER) AS e
        |  FROM lineitem),
        |wf AS (SELECT * FROM iv
        |       WHERE s IS NOT NULL AND e IS NOT NULL AND s <= e
        |         AND e - s <= 50)
        |SELECT a.key AS s_suppkey, count(*) AS n_overlap_pairs
        |FROM wf a JOIN wf b ON a.key = b.key AND a.id < b.id
        |  AND a.s <= b.e AND b.s <= a.e
        |GROUP BY a.key""".stripMargin),
    bench = true)

  /** TPC-H Q5 shape: six-table star-snowflake join (region → nation →
    * supplier/customer → orders → lineitem) with a region filter and a
    * one-year date slice, revenue per nation. The point is the PLAN:
    * Catalyst reorders the join chain, broadcasts every dimension
    * (region/nation/supplier/customer), pushes the date filter to the
    * orders scan — statistics-driven: at testbed scale every join
    * broadcasts (one exchange, the final agg); at 100 TB orders exceeds
    * the threshold and lineitem⋈orders becomes the one co-keyed
    * shuffle. The canonical warehouse join the 3-way `join_broadcast`
    * generalizes to depth 6.
    * Revenue is the per-row-scaled e4 integer sum (each summand
    * terminates at 4 decimals — the earlier `round(sum, 2)` wrongly
    * assumed the sum was non-terminating and was exactly the
    * round()-unsafe regime at large groups).
    */
  val q5RegionRevenue = GQuery(
    "q5_region_revenue",
    (s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
        .filter(expr("o_orderdate >= TIMESTAMP '1996-01-01'") &&
          expr("o_orderdate < TIMESTAMP '1997-01-01'"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, d),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d), col("n_regionkey") === col("r_regionkey"))
        .filter(col("r_name") === "ASIA")
        .groupBy("n_name")
        // per-row e4 scaling, like every revenue aggregate here: each
        // summand terminates at 4 decimals, so the integer sum is exact
        // at any group size (round(sum, 2) could flip its 3rd decimal
        // between engines once partial-sum order matters)
        .agg(sum(expr(
          "TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)"))
          .as("revenue_e4"))
    },
    oracle = Some(
      """SELECT n_name,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin),
    bench = true)

  /** Q:q3_shipping_priority — TPC-H Q3 over the testbed star schema:
    * unshipped-revenue top-10 for one market segment at a date cutoff.
    * Plan shape: the segment filter prunes customer BEFORE its join (a
    * quarter of the table, still broadcast-sized against orders), the
    * date predicates push into the orders/lineitem scans, the big join is
    * the l_orderkey ⋈ o_orderkey co-keyed shuffle, and the top-10 is
    * TakeOrderedAndProject — no global sort. Revenue is emitted as a
    * scaled integer (floor(sum·10⁴ + 0.5)): the summands
    * l_extendedprice·(1−l_discount) terminate at 4 decimals, exactly the
    * regime where round(…, 2) is cross-engine-unsafe (HALF_UP vs
    * nearbyint on a terminating digit-5), while +0.5-then-floor absorbs
    * the float error of either engine's summation order. The sort key is
    * the SAME scaled integer, so the top-10 row set cannot disagree.
    */
  val q3ShippingPriority = GQuery(
    "q3_shipping_priority",
    (s, d) => {
      Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .filter(expr("o_orderdate < TIMESTAMP '1998-06-15'"))
        .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
        .filter(expr("l_shipdate > TIMESTAMP '1998-06-15'"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(expr(
          "CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT)")
          .as("revenue_e4"))
        .orderBy(desc("revenue_e4"), asc("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), col("revenue_e4"),
          expr("unix_timestamp(o_orderdate)").as("o_date_epoch"),
          col("o_orderpriority"))
    },
    oracle = Some(
      """SELECT l_orderkey,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date_epoch, o_orderpriority
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-06-15'
        |  AND l_shipdate > TIMESTAMP '1998-06-15'
        |GROUP BY 1, 3, 4
        |ORDER BY revenue_e4 DESC, l_orderkey
        |LIMIT 10""".stripMargin),
    bench = true)

  /** Q:q18_large_orders — TPC-H Q18 (large-volume customers): orders
    * whose total lineitem quantity exceeds 300, with their customer.
    * The textbook formulation is an IN-subquery with HAVING; the Spark
    * plan replaces it with a single self-aggregate of the fact table —
    * groupBy(l_orderkey) with map-side partial sums, the HAVING as a
    * post-agg filter, and the filtered (tiny: the >300 tail) aggregate
    * joined back to orders on the SAME key the aggregate just shuffled
    * on, so AQE broadcasts the survivors and lineitem is scanned ONCE
    * (the naive plan scans it twice: once for the subquery, once for the
    * outer sum). customer joins last, against the already-tiny result.
    * sum(l_quantity) is a sum of integer-valued doubles (≤ 458 here,
    * ≤ ~10⁶ at any plausible order size) — exact in double on both
    * engines, emitted CAST AS BIGINT; o_totalprice is a pass-through
    * stored column (no arithmetic), so the double hash-compares
    * bit-for-bit. Top-100 by (o_totalprice DESC, o_date_epoch,
    * o_orderkey) — the trailing key makes the row set deterministic —
    * via TakeOrderedAndProject, no global sort.
    */
  val q18LargeOrders = GQuery(
    "q18_large_orders",
    (s, d) => {
      val big = Tables.lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(expr("CAST(sum(l_quantity) AS BIGINT)").as("total_qty"))
        .filter(col("total_qty") > 300L)
      Tables.orders(s, d)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          expr("unix_timestamp(o_orderdate)").as("o_date_epoch"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(desc("o_totalprice"), asc("o_date_epoch"), asc("o_orderkey"))
        .limit(100)
    },
    oracle = Some(
      """SELECT c_name, c_custkey, o_orderkey,
        |       CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date_epoch,
        |       o_totalprice, total_qty
        |FROM (SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS total_qty
        |      FROM lineitem GROUP BY 1 HAVING total_qty > 300) big
        |JOIN orders ON o_orderkey = big.l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_date_epoch, o_orderkey
        |LIMIT 100""".stripMargin),
    bench = true)

  /** Q:q10_returned_items — TPC-H Q10 (returned-item reporting): top-20
    * customers by revenue lost to returns in one quarter. Plan shape: the
    * quarter predicate pushes into the orders scan and the returnflag
    * predicate into lineitem BEFORE their co-keyed l_orderkey ⋈ o_orderkey
    * shuffle (both scans read only their join/agg columns); the revenue
    * aggregate groups by o_custkey — at most one row per buying customer —
    * and only THAT reduced frame joins customer and nation (nation
    * broadcast; customer⋈agg co-keyed on custkey). Revenue uses the same
    * scaled-integer emission as Q3 (floor(sum·10⁴ + 0.5): 4-decimal-
    * terminating summands are the round()-unsafe regime), and the top-20
    * sorts on (revenue_e4 DESC, c_custkey) so the row set is deterministic
    * — TakeOrderedAndProject, no global sort. c_acctbal is a pass-through
    * stored double (no arithmetic), bit-identical across engines.
    */
  val q10ReturnedItems = GQuery(
    "q10_returned_items",
    (s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(col("l_returnflag") === "R")
        .join(
          Tables.orders(s, d).filter(expr(
            "o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(expr(
          "CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT)")
          .as("revenue_e4"))
      rev
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .orderBy(desc("revenue_e4"), asc("c_custkey"))
        .limit(20)
        .select(col("c_custkey"), col("c_name"), col("revenue_e4"),
          col("c_acctbal"), col("n_name"))
    },
    oracle = Some(
      """SELECT c_custkey, c_name,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |       c_acctbal, n_name
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue_e4 DESC, c_custkey
        |LIMIT 20""".stripMargin),
    bench = true)

  /** Q:q12_shipmode_priority — TPC-H Q12 (shipping modes and order
    * priority) over the testbed star schema. The textbook query counts,
    * per ship mode in a two-mode set, how many late-delivered lines
    * (receipt after commit, ship before commit, receipt inside one year)
    * belong to high- vs low-priority orders. This testbed's lineitem
    * carries neither l_shipmode nor l_commitdate/l_receiptdate, so per
    * the family's standing adaptation rule (keep the correlation
    * STRUCTURE, swap only unavailable columns — SURVEY §2.9): the
    * two-of-N mode filter becomes l_returnflag IN ('A','R') (two of the
    * three flag values), the lateness chain becomes the one date
    * ordering the columns support (l_shipdate ≥ o_orderdate + 60 days —
    * a cross-table lateness predicate, like the original's
    * commit-vs-receipt ordering), and the one-year receipt window
    * becomes the 1997 ship-date window. The aggregate is the original's
    * verbatim: a conditional two-column count splitting each group on
    * o_orderpriority ∈ {1-URGENT, 2-HIGH}.
    *
    * Plan shape: the flag + ship-date-window predicates push into the
    * lineitem scan (PushedFilters; the window alone cuts the fact scan
    * to one year), orders scans only (o_orderkey, o_orderpriority,
    * o_orderdate), the join is the co-keyed l_orderkey ⋈ o_orderkey
    * shuffle, the cross-table lateness predicate applies at the join,
    * and the two conditional sums partial-aggregate map-side into a
    * ≤3-row result — no sort beyond the 3-row output ORDER BY. Counts
    * are exact BIGINTs; no float arithmetic anywhere, so the hash
    * cannot drift.
    */
  val q12ShipmodePriority = GQuery(
    "q12_shipmode_priority",
    (s, d) => {
      Tables.lineitem(s, d)
        .filter(col("l_returnflag").isin("A", "R"))
        .filter(expr(
          "l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .filter(expr("l_shipdate >= o_orderdate + INTERVAL 60 DAYS"))
        .groupBy(col("l_returnflag").as("ship_class"))
        .agg(
          expr(
            "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)")
            .as("high_line_count"),
          expr(
            "CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)")
            .as("low_line_count"))
        .orderBy("ship_class")
    },
    oracle = Some(
      """SELECT l_returnflag AS ship_class,
        |       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag IN ('A','R')
        |  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
        |  AND l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),
    bench = true)

  /** Nation set for [[q7VolumeShipping]] — three nations (the textbook
    * query's two give an empty result on the sf0.001 smoke testbed, which
    * would make every in-repo check vacuous; the N-nation trade matrix is
    * the same plan shape with 6 directions instead of 2). */
  final val Q7Nations: Seq[String] = Seq("NATION_1", "NATION_2", "NATION_3")

  /** Q:q7_volume_shipping — TPC-H Q7 (volume shipping): trade revenue
    * between [[Q7Nations]] by direction and ship year. Plan shape: the
    * nation predicate applies to the |nations|-row dim FIRST, and the
    * nation-filtered supplier/customer sides (|nations|/25 of each table)
    * join the facts already reduced — supplier broadcastable at any scale
    * that matters, customer joined co-keyed on o_custkey AFTER the
    * lineitem⋈orders shuffle so only the date-windowed fact rows reach
    * it. The asymmetric-direction filter (supp ≠ cust nation) runs on the
    * tiny post-join frame. Revenue is the Q3/Q10 scaled-integer emission;
    * the year is emitted BIGINT on both engines.
    */
  val q7VolumeShipping = GQuery(
    "q7_volume_shipping",
    (s, d) => {
      val nat = Tables.nation(s, d)
        .filter(col("n_name").isin(Q7Nations: _*))
      val sup = Tables.supplier(s, d)
        .join(broadcast(nat.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .select("s_suppkey", "supp_nation")
      val cus = Tables.customer(s, d)
        .join(broadcast(nat.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("cnk"))
        .select("c_custkey", "cust_nation")
      Tables.lineitem(s, d)
        .filter(expr(
          "l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1999-01-01'"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(expr(
          "CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT)")
          .as("revenue_e4"))
    },
    oracle = Some(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |       CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  AND cn.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
        |  AND sn.n_name <> cn.n_name
        |  AND l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1999-01-01'
        |GROUP BY 1, 2, 3""".stripMargin),
    bench = true)

  /** Price-bucket width for [[skylinePareto]]: testbed retail prices span
    * [900, 1000), so width 10 gives ~10 buckets; at scale the width is a
    * tuning knob — per-bucket row count is what must stay reducer-sized.
    */
  final val SkylinePriceBucket = 10.0

  /** Q:skyline_pareto — 2-D skyline (Pareto frontier) over `part`: the
    * parts no other part beats on BOTH axes (lower-or-equal price AND
    * larger-or-equal size, strict on at least one). The naive formulation
    * is a quadratic dominance anti-join; the distributed plan exploits
    * that 2-D dominance decomposes along a price sort:
    *
    *   1. group by price → per-price max size (one co-keyed shuffle; the
    *      frame has one row per distinct price),
    *   2. bucket prices into fixed-width ranges; per-bucket running max of
    *      size over strictly-lower prices (a window PER BUCKET — bounded
    *      partitions, not one global sort),
    *   3. cross-bucket prefix max over the tiny bucket-stats frame
    *      (#buckets rows — a driver-free broadcast join), strictly-earlier
    *      buckets ⇒ strictly lower prices by construction.
    *
    * A part is dominated iff a same-price part has strictly larger size,
    * OR any strictly-lower-price part (same bucket via the running max,
    * earlier bucket via the prefix) has size ≥ its own. Equal (price,
    * size) duplicates are mutually non-dominating and all survive —
    * matching the NOT EXISTS oracle's strictness exactly. Total cost: two
    * keyed shuffles + one broadcast; no O(n²) pair join anywhere.
    */
  /** Dominance is undefined for a part with a NULL or non-finite measure
    * (a NULL price satisfies no comparison, so the NOT-EXISTS oracle
    * would keep EVERY such row while the window pipeline's NULL grouping
    * does something else entirely — the hostile part tail exposed the
    * drift). Both formulations share this domain filter verbatim. */
  private val SkylineDomain =
    "p_retailprice IS NOT NULL AND NOT isnan(p_retailprice) " +
      "AND abs(p_retailprice) < 9.0e16 AND p_size IS NOT NULL"

  def skyline(parts: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val pts = parts
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
        .where(SkylineDomain)
        .withColumn("bkt",
          floor(col("p_retailprice") / lit(SkylinePriceBucket)).cast("long"))
      // one row per distinct price: its max size, bucketed
      val byPrice = pts.groupBy("bkt", "p_retailprice")
        .agg(max("p_size").as("price_max_size"))
      // within-bucket: max size over strictly-lower prices (rows preceding
      // on the one-row-per-price frame = strictly lower prices)
      val wInBkt = Window.partitionBy("bkt").orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
      val withPrev = byPrice.withColumn("prev_max_in_bkt",
        max("price_max_size").over(wInBkt))
      // cross-bucket: prefix max over the tiny bucket-stats frame
      val wBkts = Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bktPrefix = byPrice.groupBy("bkt")
        .agg(max("price_max_size").as("bmax"))
        .withColumn("prefix_max", max("bmax").over(wBkts))
        .select("bkt", "prefix_max")
      pts
        .join(withPrev, Seq("bkt", "p_retailprice"))
        .join(broadcast(bktPrefix), Seq("bkt"))
        .filter(
          col("p_size") === col("price_max_size") && // same price, none larger
            (col("prev_max_in_bkt").isNull ||
              col("prev_max_in_bkt") < col("p_size")) &&
            (col("prefix_max").isNull || col("prefix_max") < col("p_size")))
        .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
  }

  val skylinePareto = GQuery(
    "skyline_pareto",
    (s, d) => skyline(Tables.part(s, d)),
    oracle = Some(
      s"""WITH pw AS (
        |  SELECT p_partkey, p_retailprice, p_size FROM part
        |  WHERE $SkylineDomain)
        |SELECT p_partkey, p_retailprice, p_size
        |FROM pw p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pw q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))""".stripMargin))

  // dq_referential's two halves (below): a per-relationship key frame
  // and the one final aggregate over all of them.
  // r19: each relationship contributes its TAGGED full-outer key frame
  // and the four 1-row reductions collapse into ONE final aggregate
  // over the union, keyed by the relationship tag — partial aggregation
  // reduces every partition to ≤ 4 rows map-side, so the tag-keyed
  // shuffle moves a handful of partials at any scale while four
  // separate final-aggregate stages (and the union of their 1-row
  // results) disappear from the schedule.
  // r20 (guide §2.4): the two per-side aggregates + co-keyed full-outer
  // join become ONE union + groupBy per relationship — the tagged union
  // shuffles one set of map-side-combined (k, c, p) partials where the
  // join shape paid two partial exchanges and a sort-merge. NULL keys
  // need the join's non-matching semantics, not the groupBy's
  // nulls-group-together: the NULL-key group explodes into a
  // child-only row (those children are all orphans) and a parent-only
  // row (those parents all childless), exactly what the full-outer
  // join produced as two unmatched sides. A zero count maps to NULL so
  // the downstream conditional aggregate reads unchanged; a NULL-key
  // side with no rows emits nothing (the join had no such row either).
  private[graft] def dqKeyed(name: String,
      child: org.apache.spark.sql.DataFrame, ck: String,
      parent: org.apache.spark.sql.DataFrame, pk: String) = {
    val u = child.select(col(ck).as("k"), lit(1L).as("c"), lit(0L).as("p"))
      .union(parent.select(col(pk).as("k"), lit(0L).as("c"), lit(1L).as("p")))
    val nn = (n: org.apache.spark.sql.Column) => when(n > 0, n)
    u.groupBy("k").agg(sum("c").as("cn"), sum("p").as("pn"))
      .select(explode(when(col("k").isNotNull,
          array(struct(nn(col("cn")).as("n_c"), nn(col("pn")).as("n_p"))))
        .otherwise(array(
          struct(nn(col("cn")).as("n_c"),
            lit(null).cast("long").as("n_p")),
          struct(lit(null).cast("long").as("n_c"),
            nn(col("pn")).as("n_p"))))).as("s"))
      .filter(col("s.n_c").isNotNull || col("s.n_p").isNotNull)
      .select(lit(name).as("relationship"),
        col("s.n_c").as("n_c"), col("s.n_p").as("n_p"))
  }
  private[graft] def dqAudit(frames: Seq[org.apache.spark.sql.DataFrame]) =
    frames.reduce(_ union _)
      .groupBy("relationship")
      .agg(
        sum(coalesce(col("n_c"), lit(0L))).as("n_child"),
        sum(when(col("n_p").isNull, col("n_c")).otherwise(lit(0L)))
          .as("n_orphans"),
        sum(coalesce(col("n_p"), lit(0L))).as("n_parent"),
        sum(when(col("n_c").isNull, col("n_p")).otherwise(lit(0L)))
          .as("n_childless"))

  /** Q:dq_referential — the warehouse data-quality audit: for each
    * foreign-key relationship, child/parent cardinalities, orphaned
    * children (FK without a parent — 0 on a consistent feed; the alert
    * column), and childless parents (dimension rows no fact references —
    * legitimately nonzero, the "dead inventory" readout). Each
    * relationship is ONE scan per table: both sides pre-aggregate to
    * (key, multiplicity) — map-side combinable, the shuffle carries
    * distinct keys — then a co-keyed full-outer join feeds a single
    * conditional aggregate producing all four counts (the naive
    * independent-subtree formulation re-scans the child three times,
    * which at 100 TB is the whole cost). Relationships union into one
    * audit frame; nothing quadratic, nothing driver-side.
    */
  val dqReferential: GQuery = {
    def duckAudit(name: String, c: String, ck: String,
        p: String, pk: String) =
      s"""SELECT '$name' AS relationship,
         |  (SELECT count(*) FROM $c) AS n_child,
         |  (SELECT count(*) FROM $c WHERE NOT EXISTS
         |     (SELECT 1 FROM $p WHERE $pk = $ck)) AS n_orphans,
         |  (SELECT count(*) FROM $p) AS n_parent,
         |  (SELECT count(*) FROM $p WHERE NOT EXISTS
         |     (SELECT 1 FROM $c WHERE $ck = $pk)) AS n_childless""".stripMargin
    val rels = Seq(
      ("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      ("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      ("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      ("orders->customer", "orders", "o_custkey", "customer", "c_custkey"))
    GQuery(
      "dq_referential",
      (s, d) => dqAudit(rels.map { case (name, c, ck, p, pk) =>
        dqKeyed(name, Tables.table(s, d, c), ck, Tables.table(s, d, p), pk)
      }),
      oracle = Some(rels.map { case (name, c, ck, p, pk) =>
        duckAudit(name, c, ck, p, pk)
      }.mkString("", "\nUNION ALL\n", "")))
  }

  /** Q:dq_pk_uniqueness — the primary-key audit completing the dq
    * family (referential integrity → [[dqReferential]], value domains →
    * AnalyticsOps.dqValueDomain): per entity table, total rows, distinct
    * keys, duplicated keys, and the surplus rows a dedup would drop. An
    * at-least-once ingest WILL deliver duplicates (the hostile corpus
    * carries one, so this audit is non-vacuous in the gate) and every
    * keyed operator downstream assumes the key is unique — this is the
    * monitor that says when that assumption broke. ONE map-side-
    * combinable aggregate per table over just the key column (pruned
    * scan), then a 1-row reduction each; unioned audit frame, nothing
    * driver-side.
    */
  val dqPkUniqueness: GQuery = {
    val tables = Seq(
      ("events", "event_id"), ("documents", "doc_id"), ("embeddings", "vec_id"))
    GQuery(
      "dq_pk_uniqueness",
      (s, d) => tables.map { case (t, k) =>
        Tables.table(s, d, t)
          .groupBy(col(k).as("k")).agg(count(lit(1)).as("n"))
          .agg(
            sum(col("n")).as("n_rows"),
            count(lit(1)).as("n_keys"),
            sum(when(col("n") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
            sum(when(col("n") > 1, col("n") - 1).otherwise(0L))
              .as("n_surplus_rows"))
          .select(lit(t).as("table_name"), col("n_rows"), col("n_keys"),
            col("n_dup_keys"), col("n_surplus_rows"))
      }.reduce(_ union _),
      oracle = Some(tables.map { case (t, k) =>
        s"""SELECT '$t' AS table_name,
           |       CAST(sum(n) AS BIGINT) AS n_rows,
           |       count(*) AS n_keys,
           |       count(*) FILTER (n > 1) AS n_dup_keys,
           |       CAST(coalesce(sum(n - 1) FILTER (n > 1), 0) AS BIGINT)
           |         AS n_surplus_rows
           |FROM (SELECT $k, count(*) AS n FROM $t GROUP BY $k)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "")))
  }

  /** Q:dq_null_profile — the per-column null-rate monitor completing the
    * dq family (referential → value domain → key uniqueness → null
    * profile): for each audited (table, column), row count, null count,
    * and the null rate as a scaled integer (e6, floor division — the
    * round()-unsafe-regime contract). ONE scan per table on the engine
    * side: a single conditional aggregate computes every column's null
    * count, then a row-local `stack` unpivots to (column, n_null) rows —
    * the audit cost at 100 TB is one pass over each fact table, not one
    * per column. Non-vacuous in the hostile gate, whose tails plant NULLs
    * in every one of these columns.
    */
  val dqNullProfile: GQuery = {
    val tables: Seq[(String, (org.apache.spark.sql.SparkSession, String) => DataFrame, Seq[String])] = Seq(
      ("customer", (s, d) => Tables.customer(s, d),
        Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")),
      ("orders", (s, d) => Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")),
      ("lineitem", (s, d) => Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
          "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus",
          "l_shipdate")),
      ("events", (s, d) => Tables.events(s, d),
        Seq("event_id", "ts", "user_id", "event_type", "value", "props")))
    GQuery(
      "dq_null_profile",
      (s, d) => tables.map { case (t, load, cols) =>
        val agged = load(s, d).agg(
          count(lit(1)).as("n_rows"),
          cols.map(c => sum(when(col(c).isNull, 1L).otherwise(0L))
            .as(s"nn_$c")): _*)
        val stackArgs = cols.map(c => s"'$c', nn_$c").mkString(", ")
        agged.select(
          lit(t).as("table_name"),
          expr(s"stack(${cols.size}, $stackArgs) AS (column_name, n_null)"),
          col("n_rows"))
          .select(col("table_name"), col("column_name"), col("n_rows"),
            col("n_null"),
            expr("CAST(n_null * 1000000 div n_rows AS BIGINT)")
              .as("null_rate_e6"))
      }.reduce(_ union _),
      oracle = Some(tables.flatMap { case (t, _, cols) =>
        cols.map { c =>
          s"""SELECT '$t' AS table_name, '$c' AS column_name,
             |       count(*) AS n_rows,
             |       CAST(count(*) - count($c) AS BIGINT) AS n_null,
             |       CAST((count(*) - count($c)) * 1000000 // count(*) AS BIGINT)
             |         AS null_rate_e6
             |FROM $t""".stripMargin
        }
      }.mkString("", "\nUNION ALL\n", "")))
  }

  /** Q:q14_promo_share — TPC-H Q14 (promotion effect) as a monthly
    * series: revenue from promoted part types vs total, per ship month.
    * The textbook emits the percentage; here BOTH legs are scaled-integer
    * sums (the ratio is a terminating decimal — the round()-unsafe
    * regime — so the division stays with the consumer, same contract as
    * `trend_slope_moments`). Plan shape: lineitem⋈part is the one join —
    * part broadcasts at testbed scale and stays co-keyed on partkey
    * beyond the threshold; the promo flag is a row-local CASE inside ONE
    * conditional aggregate, not two scans.
    */
  val q14PromoShare = GQuery(
    "q14_promo_share",
    (s, d) => {
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .groupBy(expr("unix_timestamp(trunc(l_shipdate, 'month'))")
          .as("month_epoch"))
        .agg(
          expr("""CAST(sum(CASE WHEN p_type = 'ECONOMY'
                 THEN TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)
                 ELSE 0 END) AS BIGINT)""").as("promo_rev_e4"),
          expr("""CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5)
                 AS BIGINT)) AS BIGINT)""").as("total_rev_e4"))
    },
    oracle = Some(
      """SELECT CAST(floor(epoch(date_trunc('month', l_shipdate))) AS BIGINT) AS month_epoch,
        |       CAST(sum(CASE WHEN p_type = 'ECONOMY'
        |            THEN TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)
        |            ELSE 0 END) AS BIGINT) AS promo_rev_e4,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5)
        |            AS BIGINT)) AS BIGINT) AS total_rev_e4
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""".stripMargin),
    bench = true)

  /** Q:reshape_unpivot — the melt/UNPIVOT reshape: lineitem's four
    * metric columns to (key, metric, val) rows, the inverse of
    * `agg_pivot`. Row-local `stack` inside whole-stage codegen — ZERO
    * exchanges at any scale (the plan-inventory contrast case to every
    * shuffling query); values are pass-through stored doubles, so the 4×
    * row blowup hash-compares bit-for-bit against the oracle's UNION ALL
    * replay.
    */
  val reshapeUnpivot = GQuery(
    "reshape_unpivot",
    (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("""stack(4, 'quantity', l_quantity,
                 'extendedprice', l_extendedprice,
                 'discount', l_discount,
                 'tax', l_tax) AS (metric, val)""")),
    oracle = Some(
      """SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS val FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem""".stripMargin))

  /** Q:window_ntile_quartiles — equal-frequency bucketing: customers
    * split into account-balance quartiles WITHIN their nation (ntile —
    * deterministic under the (acctbal, custkey) total order; both
    * engines share the same remainder-to-early-buckets definition), then
    * one rollup row per (nation, quartile) with the bucket's population
    * and balance range. The window partitions by nation — bounded
    * partitions (a nation's customers), the usual per-group sequential
    * bound — and the rollup is map-side combinable. The quartile
    * BOUNDARIES this emits are what a range-partitioner or an
    * equi-depth histogram builder consumes.
    */
  val windowNtileQuartiles = GQuery(
    "window_ntile_quartiles",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, d)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .groupBy(col("c_nationkey").cast("long").as("nationkey"),
          col("quartile"))
        .agg(count(lit(1)).as("n"),
          min("c_acctbal").as("min_bal"), max("c_acctbal").as("max_bal"))
    },
    oracle = Some(
      """WITH q AS (SELECT c_nationkey, c_acctbal,
        |                 ntile(4) OVER (PARTITION BY c_nationkey
        |                                ORDER BY c_acctbal NULLS FIRST,
        |                                         c_custkey NULLS FIRST) AS quartile
        |          FROM customer)
        |SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |       CAST(quartile AS BIGINT) AS quartile, count(*) AS n,
        |       min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal
        |FROM q GROUP BY 1, 2""".stripMargin))

  /** Q:skew_report — the operational readout behind every salting /
    * AQE-skew decision: the hottest join keys of the fact table with
    * their absolute counts and corpus share (ppm — integer division on
    * positive operands, cross-engine-safe). One map-side-combinable key
    * count; the total rides a broadcast 1-row aggregate; top-20 via
    * TakeOrderedAndProject under a (count DESC, key) total order. This
    * is the query you run BEFORE choosing `agg_salted_skew`'s salt
    * factor — at 100 TB it is how skew is discovered at all.
    */
  val skewReport = GQuery(
    "skew_report",
    (s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey").as("key"))
        .agg(count(lit(1)).as("n"))
      val total = Tables.lineitem(s, d).agg(count(lit(1)).as("total"))
      counts.crossJoin(broadcast(total))
        .select(col("key"), col("n"),
          expr("n * 1000000 div total").as("share_ppm"))
        .orderBy(desc("n"), asc("key"))
        .limit(20)
    },
    oracle = Some(
      """SELECT l_orderkey AS key, count(*) AS n,
        |       count(*) * 1000000 // (SELECT count(*) FROM lineitem)
        |         AS share_ppm
        |FROM lineitem
        |GROUP BY 1 ORDER BY n DESC, key LIMIT 20""".stripMargin))

  /** Q:q19_disjunctive_revenue — TPC-H Q19 (discounted revenue): the
    * disjunctive-predicate stress case — three OR'd conjunction groups
    * mixing part attributes (brand, size) with lineitem attributes
    * (quantity), which defeats naive single-column pushdown. The
    * Spark-first shape: the part-only disjunction residue
    * (brand₁∧size-range₁ ∨ …) prunes the BUILD side before the join
    * (Catalyst derives it from the join-condition OR), the full mixed
    * predicate evaluates as the join condition, and revenue aggregates
    * to one scaled-integer row. One join, one 1-row aggregate — the
    * query is a predicate-evaluation benchmark, not a shuffle one.
    */
  val q19DisjunctiveRevenue = GQuery(
    "q19_disjunctive_revenue",
    (s, d) => {
      val cond = expr(
        """(p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
          |   AND l_quantity >= 1 AND l_quantity <= 20)
          |OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25
          |   AND l_quantity >= 10 AND l_quantity <= 40)
          |OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
          |   AND l_quantity >= 25 AND l_quantity <= 50)""".stripMargin)
      Tables.lineitem(s, d)
        .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
        .filter(cond)
        .agg(expr(
          "CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT)")
          .as("revenue_e4"),
          count(lit(1)).as("n_lines"))
    },
    oracle = Some(
      """SELECT CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4,
        |       count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity >= 1 AND l_quantity <= 20)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25
        |       AND l_quantity >= 10 AND l_quantity <= 40)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
        |       AND l_quantity >= 25 AND l_quantity <= 50)""".stripMargin))

  /** Q:q2_min_cost_supplier — TPC-H Q2 (minimum-cost supplier): for each
    * part in a type/size slice, the region supplier(s) offering it at
    * the minimum cost — the classic correlated scalar-MIN subquery.
    * Adapted to this testbed: the part-supplier relation is the DISTINCT
    * (l_partkey, l_suppkey) link mined from lineitem (no partsupp
    * table), and s_acctbal stands in for ps_supplycost. Decorrelated:
    * the region-filtered supplier dimension broadcasts onto the link,
    * and the per-part minimum comes from ONE partkey window over the
    * part-filtered frame — no second link scan, no aggregate-join-back
    * (the part filter commutes with the min: it selects WHICH parts,
    * never which of a part's suppliers). The min-equality probe compares
    * stored doubles bit-for-bit — both engines read the identical
    * parquet values and no arithmetic touches them. Ties all surface,
    * exactly like the textbook's `= (SELECT min…)`.
    */
  val q2MinCostSupplier = GQuery(
    "q2_min_cost_supplier",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val link = Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey").distinct()
      val es = Tables.supplier(s, d)
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .join(Tables.region(s, d).filter(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
      val parts = Tables.part(s, d)
        .filter(col("p_type") === "STANDARD" && col("p_size") <= 10)
        .select("p_partkey", "p_name")
      val w = Window.partitionBy("l_partkey")
      link
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(es), col("l_suppkey") === col("s_suppkey"))
        .withColumn("min_bal", min("s_acctbal").over(w))
        .filter(col("s_acctbal") === col("min_bal"))
        .select(col("p_partkey"), col("p_name"), col("s_name"),
          col("n_name"), col("s_acctbal"))
        .orderBy("p_partkey", "s_name")
    },
    oracle = Some(
      """WITH link AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |es AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |       FROM supplier
        |       JOIN nation ON s_nationkey = n_nationkey
        |       JOIN region ON n_regionkey = r_regionkey
        |       WHERE r_name = 'EUROPE')
        |SELECT p_partkey, p_name, s_name, n_name, s_acctbal
        |FROM link
        |JOIN es ON l_suppkey = s_suppkey
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_type = 'STANDARD' AND p_size <= 10
        |  AND s_acctbal = (SELECT min(s2.s_acctbal)
        |                   FROM link l2 JOIN es s2 ON l2.l_suppkey = s2.s_suppkey
        |                   WHERE l2.l_partkey = link.l_partkey)
        |ORDER BY p_partkey, s_name""".stripMargin),
    bench = true)

  /** Q:q8_market_share — TPC-H Q8 (national market share): one supplier
    * nation's share of a region's yearly revenue for one part type. The
    * share-of-total shape: BOTH sums (nation volume and total volume)
    * come from the SAME aggregated frame — the nation condition folds
    * into a conditional sum, so the query needs no self-join and no
    * second pass. Part/nation/region dimensions broadcast; the only
    * data-sized shuffles are lineitem⋈orders (co-keyed) and
    * orders⋈customer. Revenue is the per-row-scaled e4 integer; the
    * share is e6 integer floor-division of exact sums, so the ratio —
    * the part of Q8 that is float-fragile in the textbook form —
    * hash-matches.
    */
  val q8MarketShare = GQuery(
    "q8_market_share",
    (s, d) => {
      val revE4 =
        expr("TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)")
      val cust = Tables.customer(s, d)
        .join(broadcast(Tables.nation(s, d)
          .join(Tables.region(s, d).filter(col("r_name") === "AMERICA"),
            col("n_regionkey") === col("r_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val supp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("sn_name"))),
          col("s_nationkey") === col("sn_key"))
        .select("s_suppkey", "sn_name")
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_type") === "ECONOMY").select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .select(expr("CAST(year(o_orderdate) AS BIGINT)").as("o_year"),
          revE4.as("rev_e4"), col("sn_name"))
        .groupBy("o_year")
        .agg(
          sum(when(col("sn_name") === "NATION_3", col("rev_e4")).otherwise(0L))
            .as("nation_e4"),
          sum(col("rev_e4")).as("total_e4"))
        .select(col("o_year"),
          // 128-bit intermediate (decimal in Spark, HUGEINT in DuckDB):
          // nation_e4 · 10⁶ would overflow BIGINT once a year slice
          // carries ≳ $1B of matching revenue — exactly the scale this
          // query is for
          expr("CAST(CAST(nation_e4 AS DECIMAL(38,0)) * 1000000 div total_e4 AS BIGINT)")
            .as("mkt_share_e6"),
          col("nation_e4"), col("total_e4"))
        .orderBy("o_year")
    },
    oracle = Some(
      """WITH base AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT) AS rev_e4,
        |         sn.n_name AS sn_name
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation cn ON c_nationkey = cn.n_nationkey
        |  JOIN region ON cn.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation sn ON s_nationkey = sn.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY')
        |SELECT o_year,
        |       CAST(CAST(sum(CASE WHEN sn_name = 'NATION_3' THEN rev_e4 ELSE 0 END) AS HUGEINT)
        |            * 1000000
        |            // CAST(sum(rev_e4) AS BIGINT) AS BIGINT) AS mkt_share_e6,
        |       CAST(sum(CASE WHEN sn_name = 'NATION_3' THEN rev_e4 ELSE 0 END) AS BIGINT) AS nation_e4,
        |       CAST(sum(rev_e4) AS BIGINT) AS total_e4
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true)

  /** Q:q9_product_profit — TPC-H Q9 (product-type profit): net amount
    * per (supplier nation, order year) for parts whose name matches a
    * pattern. Adapted: with no partsupp cost column, the amount is the
    * net-of-tax discounted price — price·(1−discount)·(1−tax), three
    * 2-decimal factors, so each row terminates at 6 decimals and the
    * per-row e6 integer is exact. The name LIKE filter reduces part
    * BEFORE its broadcast; lineitem⋈orders is the one co-keyed
    * data-sized shuffle; the (25 nations × 7 years)-row aggregate
    * combines map-side.
    */
  val q9ProductProfit = GQuery(
    "q9_product_profit",
    (s, d) => {
      val amtE6 = expr(
        "TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount) * (1 - l_tax)) OR abs(l_extendedprice * (1 - l_discount) * (1 - l_tax)) >= 9.0e12 THEN NULL ELSE l_extendedprice * (1 - l_discount) * (1 - l_tax) END * 1000000 + 0.5) AS BIGINT)")
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d)
          .filter(col("p_name").like("%gear%")).select("p_partkey")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, d).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, d)
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .select("s_suppkey", "n_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name"),
          expr("CAST(year(o_orderdate) AS BIGINT)").as("o_year"))
        .agg(sum(amtE6).as("profit_e6"))
        .orderBy(asc("n_name"), desc("o_year"))
    },
    oracle = Some(
      """SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount) * (1 - l_tax)) OR abs(l_extendedprice * (1 - l_discount) * (1 - l_tax)) >= 9.0e12 THEN NULL ELSE l_extendedprice * (1 - l_discount) * (1 - l_tax) END * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS profit_e6
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2
        |ORDER BY n_name, o_year DESC""".stripMargin),
    bench = true)

  /** Q:q11_important_parts — TPC-H Q11 (important stock): parts whose
    * value from one nation's suppliers exceeds a fraction of that
    * nation's total — the HAVING-against-global-scalar classic. The
    * per-part aggregate is declared twice (probe + global total) and
    * AQE exchange-stage reuse collapses them to ONE lineitem scan, the
    * q15 discipline; the 1-row total broadcasts back and the threshold
    * is integer cross-multiplication (value_e4 · 1000 > total_e4) on
    * exact e4 sums — no float fraction is ever formed.
    */
  val q11ImportantParts = GQuery(
    "q11_important_parts",
    (s, d) => {
      val natSupp = Tables.supplier(s, d)
        .join(broadcast(Tables.nation(s, d)
          .filter(col("n_name") === "NATION_7")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val v = Tables.lineitem(s, d)
        .join(broadcast(natSupp), col("l_suppkey") === col("s_suppkey"), "left_semi")
        .filter(col("l_partkey").isNotNull) // canonical parity for stage reuse
        .groupBy("l_partkey")
        .agg(sum(expr(
          "TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)"))
          .as("value_e4"))
      val tot = v.agg(sum("value_e4").as("total_e4"))
      v.join(broadcast(tot))
        .filter(col("value_e4") * lit(1000L) > col("total_e4"))
        .select("l_partkey", "value_e4")
        .orderBy(desc("value_e4"), asc("l_partkey"))
    },
    oracle = Some(
      """WITH v AS (
        |  SELECT l_partkey,
        |         CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS value_e4
        |  FROM lineitem
        |  WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
        |                      JOIN nation ON s_nationkey = n_nationkey
        |                      WHERE n_name = 'NATION_7')
        |  GROUP BY 1)
        |SELECT l_partkey, value_e4
        |FROM v
        |WHERE value_e4 * 1000 > (SELECT CAST(sum(value_e4) AS BIGINT) FROM v)
        |ORDER BY value_e4 DESC, l_partkey""".stripMargin),
    bench = true,
    // the 1/1000 importance threshold is fixed (TPC-H scales Q11's
    // fraction by 1/SF; a fixed fraction keeps the oracle text stable
    // across testbeds) — at sf0.001 the single NATION_7 supplier slice
    // has no part crossing it. 238 rows at the sf0.01 driver gate,
    // where the non-vacuity contract is enforced.
    smokeMinRows = Some(0L))

  /** Q:q16_supplier_part_counts — TPC-H Q16 (parts/supplier
    * relationship): distinct supplier counts per (brand, type, size)
    * slice, excluding one brand, one type and flagged suppliers. The
    * part-supplier relation is the distinct lineitem link (as in Q2);
    * the NOT IN complaint-supplier subquery (adapted: negative account
    * balance) is a LEFT ANTI join against a broadcast handful of keys.
    * countDistinct here is EXACT and bounded — the distinct set per
    * (brand, type, size) can never exceed the supplier dimension, so
    * the expand-shuffle stays key-bounded at any corpus size.
    */
  val q16SupplierPartCounts = GQuery(
    "q16_supplier_part_counts",
    (s, d) => {
      val flagged = Tables.supplier(s, d)
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      val parts = Tables.part(s, d)
        .filter(col("p_brand") =!= "Brand#23" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      // r19: no pre-distinct on the link — count(DISTINCT l_suppkey)
      // dedupes (part, supplier) repetition itself, so the former
      // full-link distinct exchange was pure cost; the broadcast part
      // filter and supplier anti-join now prune rows BEFORE the only
      // remaining shuffle (the aggregate's map-side-distinct expand),
      // guide §2.3/§2.4. Result identical by definition of the agg.
      Tables.lineitem(s, d)
        .select("l_partkey", "l_suppkey")
        .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
        .join(broadcast(flagged), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("l_suppkey").as("supplier_cnt"))
        .orderBy(desc("supplier_cnt"), asc("p_brand"), asc("p_type"), asc("p_size"))
    },
    oracle = Some(
      """SELECT p_brand, p_type, p_size,
        |       count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) link
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#23' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),
    bench = true)

  /** Q:q20_excess_shipments — TPC-H Q20 (excess-stock suppliers,
    * adapted): suppliers who shipped more than 10% of some
    * prefix-named part's total shipped quantity. The textbook nests an
    * aggregate subquery inside an IN inside an IN; decorrelated, the
    * per-(part, supplier) quantities reduce ONCE (partkey-prefixed
    * shuffle), the per-part total is a window over that reduced frame,
    * the 10% test is integer cross-multiplication over integral
    * quantities, and the surviving supplier keys semi-join the supplier
    * dimension. Single lineitem scan, every subsequent frame
    * key-bounded.
    */
  /** The Q20 decorrelation core over explicit frames (the property-test
    * seam): the distinct suppliers shipping > 10% of some selected
    * part's total quantity. See [[q20ExcessShipments]].
    */
  private[graft] def excessShipmentsCore(
      lineitem: DataFrame, pp: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spq = lineitem
      .join(broadcast(pp), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(expr("CAST(l_quantity AS BIGINT)")).as("q"))
    val w = Window.partitionBy("l_partkey")
    spq
      .withColumn("t", sum("q").over(w))
      .filter(lit(10L) * col("q") > col("t"))
      .select("l_suppkey").distinct()
  }

  val q20ExcessShipments = GQuery(
    "q20_excess_shipments",
    (s, d) => {
      val pp = Tables.part(s, d)
        .filter(col("p_name").like("small%")).select("p_partkey")
      Tables.supplier(s, d)
        .join(excessShipmentsCore(Tables.lineitem(s, d), pp),
          col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", "s_acctbal")
        .orderBy("s_suppkey")
    },
    oracle = Some(
      """WITH pp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
        |spq AS (SELECT l_partkey, l_suppkey, CAST(sum(l_quantity) AS BIGINT) AS q
        |        FROM lineitem JOIN pp ON p_partkey = l_partkey
        |        GROUP BY 1, 2),
        |tot AS (SELECT l_partkey, CAST(sum(q) AS BIGINT) AS t FROM spq GROUP BY 1)
        |SELECT s_suppkey, s_name, s_acctbal
        |FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM spq JOIN tot USING (l_partkey)
        |                    WHERE 10 * q > t)
        |ORDER BY s_suppkey""".stripMargin),
    bench = true)

  /** Q:q4_order_priority — TPC-H Q4 (order priority checking): orders per
    * priority in one quarter having at least one late lineitem. The
    * correlated EXISTS is a LEFT SEMI join with a mixed equi + non-equi
    * condition: the equi key (orderkey) carries the join, the lateness
    * predicate (l_shipdate > o_orderdate + 90 days — this testbed's
    * receipt/commit-date adaptation, as in Q21) rides along as a residual
    * filter, and semi semantics deduplicate multi-late orders WITHOUT an
    * aggregate. Quarter predicate pushed into the orders scan; lineitem
    * projected to two columns. The final groupBy is over ≤ 5 priorities —
    * partials combine map-side, 5 rows cross the shuffle.
    */
  val q4OrderPriority = GQuery(
    "q4_order_priority",
    (s, d) => {
      val o = Tables.orders(s, d).filter(expr(
        "o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-04-01'"))
      val l = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      o.join(l,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > expr("o_orderdate + INTERVAL 90 DAY"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    },
    oracle = Some(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin),
    bench = true)

  /** Q:q6_forecast_revenue — TPC-H Q6 (forecasting revenue change): the
    * pure scan-throughput classic — one filter + one global aggregate,
    * no join, no shuffle beyond the 1-row final combine. All three
    * predicates push into the parquet scan (shipdate range as min/max
    * stats pruning, discount band, quantity cap), and the scan reads
    * exactly four columns. Revenue is the per-row-scaled e4 integer
    * (2-dec price × 2-dec discount terminates at 4 decimals) summed
    * exactly. At 100 TB this query IS the scan benchmark: its cost is
    * bytes-after-pruning, nothing else.
    */
  val q6ForecastRevenue = GQuery(
    "q6_forecast_revenue",
    (s, d) =>
      Tables.lineitem(s, d)
        .filter(expr(
          """l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
            |AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin))
        .agg(
          count(lit(1)).as("n_items"),
          sum(expr("TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * l_discount) OR abs(l_extendedprice * l_discount) >= 9.0e14 THEN NULL ELSE l_extendedprice * l_discount END * 10000 + 0.5) AS BIGINT)"))
            .as("revenue_e4")),
    oracle = Some(
      """SELECT count(*) AS n_items,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * l_discount) OR abs(l_extendedprice * l_discount) >= 9.0e14 THEN NULL ELSE l_extendedprice * l_discount END * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS revenue_e4
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),
    bench = true)

  /** Q:q13_customer_distribution — TPC-H Q13 (customer order-count
    * distribution): how many customers placed 0, 1, 2… qualifying
    * orders. The LEFT OUTER join is load-bearing — zero-order customers
    * must survive to the histogram's 0 bucket, so the filter
    * (priority ≠ 1-URGENT, this testbed's stand-in for the comment
    * NOT LIKE) must live IN THE JOIN CONDITION, not a WHERE (a where
    * would turn the outer join inner and drop the 0 bucket). Two
    * aggregates: per-customer count (custkey-keyed shuffle co-located
    * with the join), then the tiny count-of-counts histogram. count()
    * over the null-extended column counts matches only — exactly the
    * textbook count(o_orderkey).
    */
  val q13CustomerDistribution = GQuery(
    "q13_customer_distribution",
    (s, d) => {
      val o = Tables.orders(s, d)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select("o_custkey", "o_orderkey")
      Tables.customer(s, d)
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count"))
    },
    oracle = Some(
      """SELECT c_count, count(*) AS custdist
        |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
        |      FROM customer LEFT OUTER JOIN orders
        |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |      GROUP BY 1)
        |GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),
    bench = true)

  /** Q:q15_top_supplier — TPC-H Q15 (top supplier): supplier(s) whose
    * quarter revenue equals the maximum over all suppliers. The textbook
    * view-plus-scalar-subquery reads the revenue aggregate twice; the
    * Spark plan declares it twice and lets EXCHANGE REUSE collapse them —
    * the partial-aggregate shuffle is canonically identical in both
    * subtrees, so the physical plan scans lineitem ONCE and feeds both
    * the max reduction and the equality probe from the same shuffle files
    * (PlanSpec asserts the ReusedExchange). The 1-row max broadcasts back
    * (the accepted 1-row cross pattern); revenue is the exact e4 integer,
    * so the famously float-fragile `revenue = max(revenue)` equality is
    * bit-safe cross-engine. supplier joins the ≥1-row survivors last.
    */
  val q15TopSupplier = GQuery(
    "q15_top_supplier",
    (s, d) => {
      val rev = Tables.lineitem(s, d)
        .filter(expr(
          "l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'"))
        // explicit so BOTH consumers of this aggregate see the identical
        // subtree: the equality probe's join infers isnotnull(l_suppkey)
        // onto its copy, and a canonical mismatch here would defeat the
        // exchange-stage reuse the single-scan plan depends on
        .filter(col("l_suppkey").isNotNull)
        .groupBy("l_suppkey")
        // per-ROW e4 scaling before the sum (each summand terminates at 4
        // decimals, so the integer is exact at any group size and under
        // any partial-aggregation order) — scaling AFTER a double sum
        // can flip the floored integer on very large groups, and this
        // query COMPARES these values for equality
        .agg(sum(expr(
          "TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)"))
          .as("total_revenue_e4"))
      val maxRev = rev.agg(max("total_revenue_e4").as("max_rev"))
      rev.join(broadcast(maxRev))
        .filter(col("total_revenue_e4") === col("max_rev"))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_e4"))
        .orderBy("s_suppkey")
    },
    oracle = Some(
      """WITH rev AS (
        |  SELECT l_suppkey,
        |         CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice * (1 - l_discount)) OR abs(l_extendedprice * (1 - l_discount)) >= 9.0e14 THEN NULL ELSE l_extendedprice * (1 - l_discount) END * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS total_revenue_e4
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue_e4
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue_e4 = (SELECT max(total_revenue_e4) FROM rev)
        |ORDER BY s_suppkey""".stripMargin),
    bench = true)

  /** Q:q17_small_quantity_revenue — TPC-H Q17 (small-quantity-order
    * revenue): revenue from brand lineitems whose quantity is below 20%
    * of that part's average quantity — the classic correlated
    * scalar-AVG subquery. Decorrelated: brand parts reduce lineitem
    * first (partkey join), then BOTH per-part statistics the correlation
    * needs (count, quantity sum) come from one partkey-keyed window over
    * the already-reduced frame — no second lineitem scan, no
    * aggregate-join-back. The threshold test is exact integer
    * cross-multiplication: qty < 0.2·(sum/n) ⟺ 5·qty·n < sum
    * (quantities are integral, so no float average is ever formed). The
    * yearly average divides the exact e2 sum by 7 — positive operands,
    * so Spark's truncating div and DuckDB's flooring // agree.
    */
  /** The Q17 decorrelation core over explicit frames (the property-test
    * seam): the below-20%-of-part-average lineitem rows as
    * (l_partkey, qty, price_e2). See [[q17SmallQuantityRevenue]].
    */
  private[graft] def smallQuantityCore(
      lineitem: DataFrame, brandParts: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val j = lineitem
      .join(brandParts, col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"),
        expr("CAST(l_quantity AS BIGINT)").as("qty"),
        expr("TRY_CAST(floor(CASE WHEN isnan(l_extendedprice) OR abs(l_extendedprice) >= 9.0e16 THEN NULL ELSE l_extendedprice END * 100 + 0.5) AS BIGINT)").as("price_e2"))
    val w = Window.partitionBy("l_partkey")
    j.withColumn("n", count(lit(1)).over(w))
      .withColumn("sq", sum("qty").over(w))
      .filter(lit(5L) * col("qty") * col("n") < col("sq"))
      .select("l_partkey", "qty", "price_e2")
  }

  val q17SmallQuantityRevenue = GQuery(
    "q17_small_quantity_revenue",
    (s, d) => {
      val brandParts = Tables.part(s, d)
        .filter(col("p_brand") === "Brand#23").select("p_partkey")
      smallQuantityCore(Tables.lineitem(s, d), brandParts)
        .agg(count(lit(1)).as("n_items"),
          expr("CAST(sum(price_e2) div 7 AS BIGINT)").as("avg_yearly_e2"))
    },
    oracle = Some(
      """SELECT CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(CAST(sum(TRY_CAST(floor(CASE WHEN isnan(l_extendedprice) OR abs(l_extendedprice) >= 9.0e16 THEN NULL ELSE l_extendedprice END * 100 + 0.5) AS BIGINT)) AS BIGINT) // 7 AS BIGINT) AS avg_yearly_e2
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND 5 * CAST(l_quantity AS BIGINT)
        |        * (SELECT count(*) FROM lineitem l2
        |           WHERE l2.l_partkey = lineitem.l_partkey)
        |      < (SELECT CAST(sum(l_quantity) AS BIGINT) FROM lineitem l2
        |         WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin),
    bench = true)

  /** Q:q21_suppliers_kept_waiting — TPC-H Q21 (suppliers who kept orders
    * waiting), the classic correlated EXISTS + NOT-EXISTS-with-aggregate
    * decorrelation test. Adapted to this testbed's columns: "late" means
    * l_shipdate > o_orderdate + 120 days (no receipt/commit dates here);
    * the correlation structure is the textbook one — count, per supplier,
    * the late lineitems in finished ('F') multi-supplier orders where that
    * supplier was the ONLY late one (EXISTS another supplier in the order;
    * NOT EXISTS another LATE supplier).
    *
    * The naive plan scans lineitem three times (l1, l2, l3). Decorrelated
    * Spark plan scans it ONCE: join orders co-keyed on orderkey (status
    * filter pushed into the orders scan), reduce to (orderkey, suppkey)
    * grain with a per-supplier late-row count — at most one row per
    * supplier per order crosses that shuffle — then both correlated
    * subqueries collapse into window aggregates over the already-reduced
    * grain: n_supp = count over the order (EXISTS l2 ⟺ n_supp > 1) and
    * n_late_supp = count of late suppliers (NOT EXISTS late l3 ⟺
    * n_late_supp = 1, given this supplier is late). numwait per supplier
    * row-counts the qualifying late lineitems, exactly the EXISTS
    * formulation's l1 cardinality. supplier joins last, against the
    * already-tiny qualifying frame. All integers; top-20 total-ordered by
    * (numwait DESC, s_name).
    */
  /** The Q21 decorrelation core over explicit frames (the property-test
    * seam): qualifying (l_orderkey, l_suppkey, late_rows) rows — the
    * supplier was late on a finished multi-supplier order on which no
    * OTHER supplier was late. See [[q21SuppliersKeptWaiting]].
    */
  private[graft] def keptWaitingCore(
      lineitem: DataFrame, orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fact = lineitem
      .join(orders.filter(col("o_orderstatus") === "F"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_shipdate") > expr("o_orderdate + INTERVAL 120 DAY"))
          .cast("int").as("late"))
    val grain = fact.groupBy("l_orderkey", "l_suppkey")
      .agg(sum("late").as("late_rows"))
    val w = Window.partitionBy("l_orderkey")
    grain
      .withColumn("n_supp", count(lit(1)).over(w))
      .withColumn("n_late_supp",
        sum((col("late_rows") > 0).cast("int")).over(w))
      .filter(col("late_rows") > 0 && col("n_supp") > 1 &&
        col("n_late_supp") === 1)
      .select("l_orderkey", "l_suppkey", "late_rows")
  }

  val q21SuppliersKeptWaiting = GQuery(
    "q21_suppliers_kept_waiting",
    (s, d) => {
      keptWaitingCore(Tables.lineitem(s, d), Tables.orders(s, d))
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(sum("late_rows").as("numwait"))
        .orderBy(desc("numwait"), asc("s_name"))
        .limit(20)
    },
    oracle = Some(
      """WITH l1 AS (
        |  SELECT l.l_orderkey, l.l_suppkey
        |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  WHERE o.o_orderstatus = 'F'
        |    AND l.l_shipdate > o.o_orderdate + INTERVAL 120 DAY)
        |SELECT s_name, count(*) AS numwait
        |FROM l1
        |JOIN supplier ON l1.l_suppkey = s_suppkey
        |WHERE EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (
        |    SELECT 1
        |    FROM lineitem l3 JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
        |    WHERE l3.l_orderkey = l1.l_orderkey
        |      AND l3.l_suppkey <> l1.l_suppkey
        |      AND o3.o_orderstatus = 'F'
        |      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 120 DAY)
        |GROUP BY 1
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin),
    bench = true)

  /** Q:q22_global_sales_opportunity — TPC-H Q22 (global sales
    * opportunity): per-country count and total balance of
    * above-average-balance customers with no recent orders. Adapted:
    * country comes from nation (this testbed has no phone column) and
    * "has not placed orders" is scoped to the trailing two years so the
    * anti-join is non-trivial on a testbed where every customer has SOME
    * order.
    *
    * Decorrelation: the scalar AVG subquery becomes a broadcast 1-row
    * aggregate crossed into the customer frame (the accepted 1-row
    * BroadcastNestedLoop pattern — no driver action, no second shuffle),
    * and the correlated NOT EXISTS becomes a LEFT ANTI join against the
    * date-filtered orders projection (filter pushed into the scan, only
    * o_custkey crosses the shuffle). The above-average test is EXACT
    * integer cross-multiplication — bal_e2 · n_pos > sum_e2 over
    * per-row-scaled balances — instead of comparing against a float
    * average whose last-ulp value depends on each engine's summation
    * order (bal_e2 ≤ 10⁶ and n_pos ≤ 10⁹ at 100 TB keep the product
    * well inside BIGINT). totacctbal sums the same exact per-row e2
    * integers, map-side combinable.
    */
  val q22GlobalSalesOpportunity = GQuery(
    "q22_global_sales_opportunity",
    (s, d) => {
      val balE2 = expr("TRY_CAST(floor(CASE WHEN isnan(c_acctbal) OR abs(c_acctbal) >= 9.0e16 THEN NULL ELSE c_acctbal END * 100 + 0.5) AS BIGINT)")
      val pos = Tables.customer(s, d)
        .filter(col("c_acctbal") > 0)
        .agg(sum(balE2).as("sum_e2"), count(lit(1)).as("n_pos"))
      Tables.customer(s, d)
        .join(broadcast(pos))
        .filter(balE2 * col("n_pos") > col("sum_e2"))
        .join(
          Tables.orders(s, d)
            .filter(col("o_orderdate") >= lit("1999-08-01").cast("timestamp"))
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("numcust"), sum(balE2).as("totacctbal_e2"))
        .orderBy("n_name")
    },
    oracle = Some(
      """WITH pos AS (
        |  SELECT sum(TRY_CAST(floor(CASE WHEN isnan(c_acctbal) OR abs(c_acctbal) >= 9.0e16 THEN NULL ELSE c_acctbal END * 100 + 0.5) AS BIGINT)) AS sum_e2,
        |         count(*) AS n_pos
        |  FROM customer WHERE c_acctbal > 0)
        |SELECT n_name, count(*) AS numcust,
        |       CAST(sum(TRY_CAST(floor(CASE WHEN isnan(c_acctbal) OR abs(c_acctbal) >= 9.0e16 THEN NULL ELSE c_acctbal END * 100 + 0.5) AS BIGINT)) AS BIGINT) AS totacctbal_e2
        |FROM customer
        |CROSS JOIN pos
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE TRY_CAST(floor(CASE WHEN isnan(c_acctbal) OR abs(c_acctbal) >= 9.0e16 THEN NULL ELSE c_acctbal END * 100 + 0.5) AS BIGINT) * n_pos > sum_e2
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderdate >= TIMESTAMP '1999-08-01')
        |GROUP BY 1
        |ORDER BY 1""".stripMargin),
    bench = true)

  val queries: Seq[GQuery] = Seq(
    q1Agg, joinHashEqui, joinBroadcast, joinSemi, joinAnti, joinLeftDisplay,
    aggPriorityCount, aggDistinctCells, setopObstacleBuild, aggAboveTypeAvg,
    aggSaltedSkew, setopIntersect, aggPivot, aggPercentiles, joinRangeBucketed,
    joinIntervalOverlap, q5RegionRevenue, q3ShippingPriority, q18LargeOrders,
    q10ReturnedItems, q12ShipmodePriority, skylinePareto, q7VolumeShipping,
    dqReferential,
    dqPkUniqueness, dqNullProfile, q14PromoShare, reshapeUnpivot, windowNtileQuartiles,
    skewReport,
    q19DisjunctiveRevenue, q21SuppliersKeptWaiting, q22GlobalSalesOpportunity,
    q4OrderPriority, q6ForecastRevenue, q13CustomerDistribution,
    q15TopSupplier, q17SmallQuantityRevenue, q2MinCostSupplier,
    q8MarketShare, q9ProductProfit, q11ImportantParts,
    q16SupplierPartCounts, q20ExcessShipments)
}
