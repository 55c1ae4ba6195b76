package graft.ops

import graft.{Local, Tables}
import graft.functions.GeoMean
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.4 — aggregation operators.
  *
  * Scale posture: every groupBy here is a `HashAggregate` with a partial
  * (map-side) phase, so the shuffle carries one row per (partition, group),
  * not per input row — the only formulation that works at 100 TB. Money sums
  * ride as exact long cents (Det.moneySum): order-independent AND cheaper to
  * aggregate than doubles. `collect_list` is the one op that cannot partial-
  * aggregate (ObjectHashAggregate); its group cardinality (custkey) bounds
  * state. `q_agg_approx_distinct` is the scale path for COUNT(DISTINCT) —
  * HLL sketches merge associatively, no expand-shuffle.
  *
  * Accepted residual D1 risk (documented per ADVICE r1): `q_agg_stats`
  * (STDDEV_SAMP/VAR_SAMP/CORR) and `q_agg_custom` (EXP(AVG(LN))) round
  * order-dependent double aggregates to 4 decimals; Spark's partial-
  * aggregate tree vs DuckDB's sequential fold can differ in the low bits
  * and would flip a value sitting exactly on a 1e-4 rounding boundary.
  * There is no exact integer encoding for these without abandoning the
  * built-in aggregates the contract demonstrates; the risk has measured
  * zero flips across all sf tiers in rounds 1–2.
  */
object Aggregations extends OpModule {

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 analog: the canonical partial+final hash aggregation.
    "q_agg_q1" -> ((s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= to_timestamp(lit("2000-09-02")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"), // integral doubles: exact
          Det.moneySum(col("l_extendedprice")).as("sum_base_cents"),
          Det.moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_cents"),
          // avg over integral doubles: partial sums are exact (< 2^53), so
          // round(avg) is already order-independent
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          // l_discount is NOT integral — AVG(double) partial sums are order-
          // dependent in the low bits; derive from an exact e4-unit sum
          // instead (same op sequence as the oracle → bit-identical)
          round(sum(round(col("l_discount") * 10000).cast("long")) / lit(10000.0)
                / count(lit(1)), 4).as("avg_disc"),
          count(lit(1)).as("cnt"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    "q_agg_global" -> ((s, d) =>
      Tables.orders(s, d)
        .agg(count(lit(1)).as("cnt"),
             Det.moneySum(col("o_totalprice")).as("sum_price_cents"),
             // derived from the exact cents sum, not AVG(double) (D1)
             round(Det.moneySum(col("o_totalprice")) / lit(100.0)
                   / count(lit(1)), 4).as("avg_price"),
             min(col("o_orderdate")).as("first_date"),
             max(col("o_orderdate")).as("last_date"))),

    "q_agg_having" -> ((s, d) =>
      Tables.customer(s, d)
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_cust"))
        .filter(col("n_cust") > 3)
        .orderBy(col("c_nationkey"))),

    // Mixed distinct + plain aggregates in one pass (Expand-based rewrite).
    "q_agg_distinct" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_cust"),
             count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderpriority"))),

    "q_agg_rollup" -> ((s, d) =>
      Tables.nation(s, d)
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(grouping(col("r_name")).cast("int").as("g_r"),
             grouping(col("n_name")).cast("int").as("g_n"),
             count(lit(1)).as("n"))
        .select(col("r_name"), col("n_name"), col("g_r"), col("g_n"), col("n"))
        .orderBy(col("g_r"), col("g_n"),
                 col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)),

    "q_agg_cube" -> ((s, d) =>
      Tables.lineitem(s, d)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping(col("l_returnflag")).cast("int").as("g_r"),
             grouping(col("l_linestatus")).cast("int").as("g_l"),
             count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .select(col("l_returnflag"), col("l_linestatus"),
                col("g_r"), col("g_l"), col("n"), col("sum_qty"))
        .orderBy(col("g_r"), col("g_l"),
                 col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // Explicit grouping sets — SQL-only surface in Spark.
    "q_agg_gsets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gsets_v")
      s.sql("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
              |FROM orders_gsets_v
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    }),

    "q_agg_stats" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
             round(var_samp(col("l_quantity")), 4).as("var_qty"),
             round(corr(col("l_extendedprice"), col("l_quantity")), 4).as("corr_pq"),
             min(col("l_quantity")).as("min_q"),
             max(col("l_quantity")).as("max_q"))
        .orderBy(col("l_returnflag"))),

    // Exact interpolated percentiles (not approx — oracle must hash-match).
    "q_agg_percentile" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
             round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
        .orderBy(col("o_orderpriority"))),

    // Per-group ordered list; collect order is nondeterministic → sort_array
    // (D3). The list ships as a CSV string: raw array columns crash the
    // driver's pandas row-sort (unhashable ndarray), same comparator-proofing
    // as DATE→ISO-string.
    "q_agg_collect" -> ((s, d) =>
      Tables.orders(s, d)
        .where(col("o_totalprice") > 200000)
        .groupBy(col("o_custkey"))
        .agg(expr("array_join(transform(sort_array(collect_list(o_orderkey)), x -> cast(x as string)), ',')")
          .as("order_keys"))
        .orderBy(col("o_custkey"))),

    // HLL sketch — merges associatively, the 100 TB COUNT(DISTINCT) path.
    // Oracle-promoted in round 2 as a PROPERTY check: Spark's sketch value
    // itself can't hash-match DuckDB (different HLL), so the output carries
    // the exact distinct count plus a within-5% flag for the sketch; the
    // oracle asserts the flag is TRUE per group. The sketch is deterministic
    // for fixed data, so this is a stable gate that now actually checks the
    // estimate's accuracy instead of just the row count. rsd is pinned to
    // 0.02 — the 0.05 default means a TYPICAL error of 5%, and indeed missed
    // the 5% bound at sf0.1 (6.7% dev); at 0.02 the measured deviation is
    // ≤ 0.4% at every tier, 12× inside the bound.
    "q_agg_approx_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
             countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
                (abs(col("approx_users") - col("exact_users"))
                  <= col("exact_users") * 0.05).as("within_5pct"))
        .orderBy(col("event_type"))),

    // Equi-width histogram binning (width_bucket) — the data-profiling
    // staple; bucket ids are exact ints so the oracle is drift-free.
    "q_agg_histogram" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(expr("width_bucket(o_totalprice, 0, 600000, 12)").as("bucket"))
        .agg(count(lit(1)).as("n"),
             Det.moneySum(col("o_totalprice")).as("sum_cents"))
        .orderBy(col("bucket"))),

    // arg-min/arg-max: which order, not how much. Ties on price are broken
    // by folding the unique orderkey into the ordering key (D3) — cents fit
    // ~5e7, ×1e7 + orderkey stays far under 2^63.
    "q_agg_minmax_by" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(expr("max_by(o_orderkey, cast(round(o_totalprice * 100) as bigint) * 10000000 + o_orderkey)").as("max_order"),
             expr("min_by(o_orderkey, cast(round(o_totalprice * 100) as bigint) * 10000000 + o_orderkey)").as("min_order"),
             count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))),

    // ANSI FILTER clause on aggregates — per-predicate partial aggregation
    // in one pass (the alternative, N self-joins, is N scans at 100 TB).
    "q_agg_filter_clause" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_filter_v")
      s.sql("""SELECT o_orderstatus,
              |  COUNT(*) AS n_all,
              |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
              |  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
              |    FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent_cents,
              |  COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big
              |FROM orders_filter_v GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
    }),

    // Custom typed UDAF (Aggregator) — geometric mean of event values.
    "q_agg_custom" -> ((s, d) => {
      val geo = udaf(GeoMean)
      Tables.events(s, d)
        .where(col("value") > 0)
        .groupBy(col("event_type"))
        .agg(round(geo(col("value")), 4).as("geo_value"))
        .orderBy(col("event_type"))
    }),

    // Approximate quantile with its accuracy contract made checkable (the
    // q_agg_approx_distinct pattern applied to percentile_approx): the
    // sketch's median must land within rank ±5% of the true median inside
    // each group — the flag, not the raw sketch value, rides the hash gate,
    // so the oracle is engine-independent. At 100 TB the sketch is the only
    // viable path (exact percentile needs a per-group sort); this pins its
    // error bound so a silent regression of the sketch fails correctness.
    "q_agg_approx_quantile" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderpriority"), Det.cents(col("o_totalprice")).as("c"))
      val appr = o.groupBy(col("o_orderpriority"))
        .agg(expr("percentile_approx(c, 0.5D, 100)").as("am"))
      val pr = o.withColumn("pr", percent_rank().over(
        Window.partitionBy(col("o_orderpriority")).orderBy(col("c"))))
      val bounds = pr.join(appr, "o_orderpriority").where(col("c") === col("am"))
        .groupBy(col("o_orderpriority"))
        .agg(min(col("pr")).as("lo"), max(col("pr")).as("hi"))
      appr.join(bounds, "o_orderpriority")
        .select(col("o_orderpriority"),
                (col("lo") <= 0.55 && col("hi") >= 0.45).as("within_rank_5pct"))
        .orderBy(col("o_orderpriority"))
    }),

    // Deterministic mode (most frequent order month per priority) plus
    // listagg (Spark 4) of the distinct statuses. The built-in mode()
    // returns an ARBITRARY value among ties — a cross-engine nondeterminism
    // trap under distributed aggregation — so the mode rides the
    // count-window idiom with an explicit (count DESC, value ASC) tie-break
    // that both engines honor. listagg needs DISTINCT + WITHIN GROUP
    // ordering for the same reason (bag order is partition-dependent).
    "q_agg_mode" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_mode_v")
      s.sql("""WITH mc AS (
              |  SELECT o_orderpriority, month(o_orderdate) AS m, COUNT(*) AS c
              |  FROM orders_mode_v GROUP BY o_orderpriority, month(o_orderdate)),
              |md AS (
              |  SELECT o_orderpriority, m AS mode_month, c AS mode_n FROM (
              |    SELECT o_orderpriority, m, c,
              |      ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              |                         ORDER BY c DESC, m) AS rn
              |    FROM mc) t WHERE rn = 1),
              |la AS (
              |  SELECT o_orderpriority,
              |    listagg(DISTINCT o_orderstatus, ',')
              |      WITHIN GROUP (ORDER BY o_orderstatus) AS statuses
              |  FROM orders_mode_v GROUP BY o_orderpriority)
              |SELECT md.o_orderpriority, md.mode_month, md.mode_n, la.statuses
              |FROM md JOIN la ON md.o_orderpriority = la.o_orderpriority
              |ORDER BY md.o_orderpriority""".stripMargin)
    }),

    // Mergeable HLL sketches (Apache DataSketches, Spark 4 built-ins) — the
    // 100 TB incremental-distinct pattern: per-partition sketches persist as
    // binary state and MERGE associatively (hll_union_agg), so daily distinct
    // counts roll up into monthly/total ones without re-reading raw data
    // (contrast q_incr_agg, which can only merge algebraic aggregates).
    // The contract pinned per group is the approx_count_distinct-style
    // error bound on BOTH paths: the direct sketch and the two-level
    // union of daily sketches each land within 5% of exact. NOT pinned:
    // estimate equality between the two paths — it holds in sparse mode
    // (small cardinality, where the sketch is exact) but a dense-mode
    // union goes through HLL_8 internally and can differ from the direct
    // sketch in the low bits (caught by the sf0.1 full-tier sweep when
    // this op originally asserted equality). The flags ride the hash
    // gate; the sketch binary never leaves the engine.
    // EXACT distinct counting via 62-bit integer bitmaps (the roaring-
    // bitmap pattern in pure SQL types): user ids bucket into 62-bit words
    // (word = id div 62, bit = id mod 62 — 62 keeps the shifted bit
    // positive in both engines), BIT_OR collapses each word map-side, and
    // popcounts sum to the exact distinct count. Two hash aggregations,
    // both partial-aggregable; the word layer carries ≤ |ids|/62 rows per
    // group — the exact-at-scale alternative when HLL's ±2% (above) is not
    // acceptable (billing, dedup ledgers). count(DISTINCT) rides beside it
    // as the audit and the equality flag is pinned by the oracle.
    "q_agg_bitmap" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_type").as("et"), col("user_id"))
      val words = ev
        .groupBy(col("et"), expr("user_id div 62").as("wk"))
        .agg(expr("bit_or(shiftleft(1L, cast(user_id % 62 as int)))").as("w"))
      val bm = words.groupBy(col("et"))
        .agg(sum(bit_count(col("w"))).as("n_bitmap"))
      val exact = ev.groupBy(col("et"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      bm.join(exact, "et")
        .select(col("et"), col("n_bitmap"), col("n_exact"),
                (col("n_bitmap") === col("n_exact")).as("agree"))
        .orderBy(col("et"))
    }),

    "q_agg_hll_sketch" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id"),
                date_trunc("day", col("ts")).as("day"))
      // level 1: one sketch per (event_type, day) — the "partition state"
      val daily = ev.groupBy(col("event_type"), col("day"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
      // level 2: merge daily sketches per event_type
      val merged = daily.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est_merged"))
      val direct = ev.groupBy(col("event_type"))
        .agg(expr("hll_sketch_estimate(hll_sketch_agg(user_id, 12))").as("est_direct"),
             countDistinct(col("user_id")).as("exact_users"))
      direct.join(merged, "event_type")
        .select(col("event_type"), col("exact_users"),
                (abs(col("est_merged") - col("exact_users"))
                  <= col("exact_users") * 0.05).as("merged_within_5pct"),
                (abs(col("est_direct") - col("exact_users"))
                  <= col("exact_users") * 0.05).as("within_5pct"))
        .orderBy(col("event_type"))
    }),

    // GROUP BY ALL / ORDER BY ALL (Spark 4 ≡ DuckDB): every non-aggregate
    // select item becomes a grouping key — the drift-proof spelling for
    // wide reporting queries (adding a dimension column can't silently
    // fall out of the GROUP BY).
    "q_group_by_all" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("li_gball_v")
      s.sql("""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
              |  SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
              |FROM li_gball_v GROUP BY ALL ORDER BY ALL""".stripMargin)
    }),

    // Boolean aggregates + conditional counting — the audit-rule primitives
    // (bool_and = "all rows satisfy", count_if = "how many violate").
    "q_agg_bool" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(expr("bool_and(o_totalprice > 1000)").as("all_over_1k"),
             expr("bool_or(o_orderstatus = 'F')").as("any_finished"),
             expr("every(o_custkey >= 0)").as("keys_nonneg"),
             expr("count_if(o_totalprice > 200000)").as("n_big"),
             count(lit(1)).as("n"))
        .orderBy(col("o_orderpriority"))),

    // Contingency table via DataFrameStatFunctions.crosstab — the
    // categorical-profiling verb (one pivot-style aggregation under the
    // hood). Pivot columns are selected explicitly and re-aliased: crosstab
    // emits one column per observed value, so a fixed projection keeps the
    // schema stable for the gate (same rule as q_pivot's explicit list).
    "q_agg_crosstab" -> ((s, d) =>
      Tables.orders(s, d).stat.crosstab("o_orderstatus", "o_orderpriority")
        .select(col("o_orderstatus_o_orderpriority").as("status"),
                col("1-URGENT").as("p1"), col("2-HIGH").as("p2"),
                col("3-MEDIUM").as("p3"), col("4-NOT SPECIFIED").as("p4"),
                col("5-LOW").as("p5"))
        .orderBy(col("status"))),

    // 2-D histogram (price × quantity heat grid): both bucket ids are exact
    // width_bucket ints, so the grid is drift-free; one hash aggregation,
    // the profiling/viz companion to q_agg_histogram.
    "q_agg_hist2d" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(expr("width_bucket(l_extendedprice, 0, 120000, 10)").as("price_b"),
                 expr("width_bucket(l_quantity, 0, 50, 5)").as("qty_b"))
        .agg(count(lit(1)).as("n"),
             Det.moneySum(col("l_extendedprice")).as("cents"))
        .orderBy(col("price_b"), col("qty_b"))),

    // Simple linear regression (price-per-quantity trend per return flag)
    // from EXACT integer moments: x = quantity (integer-valued), y = price
    // in cents. n, Σx, Σy, Σxy, Σx² are order-independent long sums, so the
    // derived slope/intercept/r² are computed from bit-identical inputs on
    // both engines (the only doubles are final divisions of exact integers).
    // The built-in regr_slope/regr_intercept (streaming covariance — the
    // scale path: one pass, no materialized moments) is cross-checked
    // against the exact formula within 1e-6 and rides as a flag.
    // Long-overflow note for 100 TB: Σxy here tops out ~3e14 at sf0.1;
    // beyond ~sf100 the moment sums must ride DECIMAL(38,0) instead of
    // BIGINT (both engines sum decimals exactly).
    "q_agg_regr" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
                col("l_quantity").cast("long").as("x"),
                Det.cents(col("l_extendedprice")).as("y"))
        .createOrReplaceTempView("li_regr_v")
      s.sql("""SELECT l_returnflag, n,
              |  CAST(ROUND(1e6 * slope) AS BIGINT) AS slope_e6,
              |  CAST(ROUND(1e6 * (syd - slope * sxd) / nd) AS BIGINT) AS icept_e6,
              |  (abs(rs - slope) <= 1e-7 * abs(slope)) AS builtin_close
              |FROM (
              |  SELECT l_returnflag, n, nd, sxd, syd,
              |    (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope, rs
              |  FROM (
              |    SELECT l_returnflag, COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS nd,
              |      CAST(SUM(x) AS DOUBLE) AS sxd, CAST(SUM(y) AS DOUBLE) AS syd,
              |      CAST(SUM(x*y) AS DOUBLE) AS sxyd, CAST(SUM(x*x) AS DOUBLE) AS sxxd,
              |      regr_slope(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rs
              |    FROM li_regr_v GROUP BY l_returnflag) a) b
              |ORDER BY l_returnflag""".stripMargin)
    }),

    // Pairwise Pearson correlation matrix (feature-selection / redundancy
    // audit) over four lineitem measures, per return flag — the q_agg_regr
    // technique widened to all C(4,2) pairs: every moment (Σx, Σx², Σxy) is
    // an exact order-independent long sum in integer units (qty, whole
    // dollars, discount/tax 1e-4), ONE hash aggregation produces all 14
    // moments, and the 6 correlations derive from bit-identical doubles on
    // both engines (ROUND 1e6). NULLIF guards zero variance. Scale: one
    // partial→final agg over 3 groups, then a 6-way stack of constant
    // width — the moment matrix approach is O(cols²) state per group and
    // one pass over the data no matter the corpus size; beyond ~sf100 the
    // moment sums ride DECIMAL(38,0) (q_agg_regr's overflow note).
    "q_corr_matrix" -> ((s, d) => {
      Tables.lineitem(s, d)
        .select(col("l_returnflag"),
                col("l_quantity").cast("long").as("x1"),
                expr("cast(round(l_extendedprice * 100) as bigint) div 100").as("x2"),
                round(col("l_discount") * 10000).cast("long").as("x3"),
                round(col("l_tax") * 10000).cast("long").as("x4"))
        .createOrReplaceTempView("li_corr_v")
      s.sql("""SELECT l_returnflag, pair, n,
              |  CAST(ROUND(1e6 * (nd * sxy - sx * sy) /
              |    NULLIF(SQRT((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 0.0))
              |    AS BIGINT) AS corr_e6
              |FROM (
              |  SELECT l_returnflag, n, nd, stack(6,
              |    'qty_price', s1, q1, s2, q2, c12,
              |    'qty_disc',  s1, q1, s3, q3, c13,
              |    'qty_tax',   s1, q1, s4, q4, c14,
              |    'price_disc', s2, q2, s3, q3, c23,
              |    'price_tax',  s2, q2, s4, q4, c24,
              |    'disc_tax',   s3, q3, s4, q4, c34) AS (pair, sx, sxx, sy, syy, sxy)
              |  FROM (
              |    SELECT l_returnflag, COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS nd,
              |      CAST(SUM(x1) AS DOUBLE) AS s1, CAST(SUM(x1*x1) AS DOUBLE) AS q1,
              |      CAST(SUM(x2) AS DOUBLE) AS s2, CAST(SUM(x2*x2) AS DOUBLE) AS q2,
              |      CAST(SUM(x3) AS DOUBLE) AS s3, CAST(SUM(x3*x3) AS DOUBLE) AS q3,
              |      CAST(SUM(x4) AS DOUBLE) AS s4, CAST(SUM(x4*x4) AS DOUBLE) AS q4,
              |      CAST(SUM(x1*x2) AS DOUBLE) AS c12, CAST(SUM(x1*x3) AS DOUBLE) AS c13,
              |      CAST(SUM(x1*x4) AS DOUBLE) AS c14, CAST(SUM(x2*x3) AS DOUBLE) AS c23,
              |      CAST(SUM(x2*x4) AS DOUBLE) AS c24, CAST(SUM(x3*x4) AS DOUBLE) AS c34
              |    FROM li_corr_v GROUP BY l_returnflag) m) p
              |ORDER BY l_returnflag, pair""".stripMargin)
    }),

    // Gini concentration of customer spend per nation (the inequality
    // audit behind revenue-concentration dashboards): per-customer exact
    // cents totals, ranked ascending within nation (amount, custkey — D3),
    // G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n from exact integer sums through one
    // identical double expression (ROUND 1e6). The rank window partitions
    // by nation (25 keys here); a 100 TB cardinality on the partition key
    // would ride the DistRank composite rank instead — the arithmetic is
    // unchanged. Σi·x bounds: rank ≤ customers/nation, x exact cents —
    // ~3.6e16 at 100× this tier, inside BIGINT.
    "q_gini" -> ((s, d) => {
      val spend = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(Det.moneySum(col("o_totalprice")).as("x"))
      val cust = Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey"))
      val nat = Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))
      val base = spend.join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("o_custkey").as("ck"), col("x"))
      val w = Window.partitionBy(col("n_name")).orderBy(col("x"), col("ck"))
      base.withColumn("i", row_number().over(w))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
             sum(col("i") * col("x")).as("six"))
        .select(col("n_name"), col("n"),
          expr("""cast(round(1e6 * ((2.0 * six) / (cast(n as double) * sx)
                |  - (n + 1.0) / n)) as bigint)""".stripMargin).as("gini_e6"))
        .orderBy(col("n_name"))
    }),

    // t-digest quantile sketch (functions/TDigest.scala — the second custom
    // TypedImperativeAggregate beside graft_topk): per event type, the
    // digest estimates [p50, p95] while shuffling O(δ) centroids per group
    // instead of sorting the rows — the distributed-quantile primitive at
    // 100 TB. Oracle pattern = q_agg_approx_distinct: centroid boundaries
    // depend on merge order, so the output pins the EXACT value-at-rank
    // quantiles plus a flag asserting the digest's rank error ≤ 2.5% of n
    // (theory at δ=100: ≪1%); DuckDB emits the same exacts + TRUE. The
    // rank test brackets the estimate between strict/inclusive ranks so a
    // value atom heavier than the tolerance cannot fail a perfect
    // estimate. All flag arithmetic is integer (40·rank vs 20n/38n ± n).
    "q_tdigest" -> ((s, d) => {
      graft.functions.TDigest.register(s)
      val ev = Tables.events(s, d)
        .select(col("event_type"), Det.cents(col("value")).as("c"))
      val dig = ev.groupBy(col("event_type"))
        .agg(expr("graft_tdigest(cast(c as double))").as("est"))
        .select(col("event_type"), col("est").getItem(0).as("e50"),
                col("est").getItem(1).as("e95"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("c"))
      val wAll = Window.partitionBy(col("event_type"))
      val exact = ev.withColumn("r", row_number().over(w))
        .withColumn("n", count(lit(1)).over(wAll))
        .groupBy(col("event_type"))
        .agg(max(col("n")).as("n"),
             max(when(col("r") === expr("(n + 1) div 2"), col("c"))).as("p50_cents"),
             max(when(col("r") === expr("(19 * n + 19) div 20"), col("c"))).as("p95_cents"))
      val ranks = ev.join(broadcast(dig), "event_type")
        .groupBy(col("event_type"))
        .agg(sum(when(col("c") < col("e50"), 1L).otherwise(0L)).as("lo50"),
             sum(when(col("c") <= col("e50"), 1L).otherwise(0L)).as("hi50"),
             sum(when(col("c") < col("e95"), 1L).otherwise(0L)).as("lo95"),
             sum(when(col("c") <= col("e95"), 1L).otherwise(0L)).as("hi95"))
      exact.join(ranks, "event_type")
        .select(col("event_type"), col("n"), col("p50_cents"), col("p95_cents"),
          ((col("hi50") * 40 >= col("n") * 19) && (col("lo50") * 40 <= col("n") * 21) &&
           (col("hi95") * 40 >= col("n") * 37) && (col("lo95") * 40 <= col("n") * 39))
            .as("td_ok"))
        .orderBy(col("event_type"))
    }),

    // t-digest under ROLLUP — sketch MERGEABILITY made visible: the same
    // graft_tdigest aggregate runs once through Expand and its partial
    // digests merge into every grouping level (leaf, per-flag, grand
    // total), which is exactly how a 100 TB percentile dashboard rolls up
    // (merge O(δ) centroids per level, never re-scan rows). Exact ×2
    // medians per level ride Spark's interpolating percentile AGGREGATE
    // (DuckDB quantile_cont twin — same p50 interpolation; no windows, no
    // single-task sort); the digest estimate carries the 2.5% rank-bracket
    // flag, audited per level over the manual 3-level expansion of the
    // row set (a row belongs to 3 rollup groups). COST HONESTY: the exact
    // med2 column is the ORACLE-VALUE mechanism, and its percentile buffer
    // is O(group) — at the grand-total level that is the whole table in
    // one buffer, which is exactly what the digest beside it exists to
    // avoid at 100 TB; production reads the digest (bracket-audited here)
    // and drops the exact column.
    "q_tdigest_rollup" -> ((s, d) => {
      graft.functions.TDigest.register(s)
      val ev = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("rf"), col("l_linestatus").as("ls"),
                Det.cents(col("l_extendedprice")).as("c"))
      val dig = ev.rollup(col("rf"), col("ls"))
        .agg(count(lit(1)).as("n"),
             expr("graft_tdigest(cast(c as double))").getItem(0).as("e50"),
             (expr("percentile(c, 0.5)") * 2).cast("long").as("med2_cents"))
        .select(coalesce(col("rf"), lit("ALL")).as("rf2"),
                coalesce(col("ls"), lit("ALL")).as("ls2"),
                col("n"), col("e50"), col("med2_cents"))
      val ev3 = ev.select(col("rf").as("rf2"), col("ls").as("ls2"), col("c"))
        .unionAll(ev.select(col("rf"), lit("ALL"), col("c")))
        .unionAll(ev.select(lit("ALL"), lit("ALL"), col("c")))
      val ranks = ev3.join(broadcast(dig.select(col("rf2"), col("ls2"), col("e50"))),
                           Seq("rf2", "ls2"))
        .groupBy(col("rf2"), col("ls2"))
        .agg(sum(when(col("c") < col("e50"), 1L).otherwise(0L)).as("lo50"),
             sum(when(col("c") <= col("e50"), 1L).otherwise(0L)).as("hi50"))
      dig.join(ranks, Seq("rf2", "ls2"))
        .select(col("rf2"), col("ls2"), col("n"), col("med2_cents"),
          ((col("hi50") * 40 >= col("n") * 19) &&
           (col("lo50") * 40 <= col("n") * 21)).as("td_ok"))
        .orderBy(col("rf2"), col("ls2"))
    }),

    // Bootstrap confidence interval for the mean, the "online bootstrap"
    // way a distributed engine actually runs it: instead of materializing B
    // resamples, every row draws B=32 deterministic Poisson(1) weights from
    // an md5 of (key, b) — the multinomial-resample approximation (Owen &
    // Eckles' Poisson bootstrap) — and each resample mean is a weighted
    // aggregate. ONE pass over a 32× row fan-out, map-side combinable to 32
    // groups; the CI is value-at-rank 2/31 of the 32 means (~93.75% CI).
    // Determinism: weights come from integer md5 thresholds at the
    // Poisson(1) CDF (e⁻¹-spaced, frozen as literals both sides — the
    // q_sample_hash idiom), means round once at 1e-2 cents from exact
    // long sums, rank ties break on b.
    "q_bootstrap_ci" -> ((s, d) => {
      val x = Tables.orders(s, d)
        .select(col("o_orderkey"), Det.cents(col("o_totalprice")).as("x"))
      val rep = x.select(col("o_orderkey"), col("x"),
          explode(expr("sequence(1, 32)")).as("b"))
        .withColumn("u", conv(substring(md5(concat(
          col("o_orderkey").cast("string"), lit(":"), col("b").cast("string"))),
          1, 8), 16, 10).cast("long"))
        .withColumn("w",
          when(col("u") < 1580030169L, 0L).when(col("u") < 3160060338L, 1L)
            .when(col("u") < 3950075422L, 2L).when(col("u") < 4213413783L, 3L)
            .otherwise(4L))
      val means = rep.groupBy(col("b"))
        .agg(sum(col("w")).as("sw"), sum(col("w") * col("x")).as("swx"))
        .select(col("b"), expr("cast(round(1e2 * swx / sw) as bigint)").as("mean_e2"))
      // 32-row aggregate — the single-partition window sits above it
      val wr = Window.orderBy(col("mean_e2"), col("b"))
      val ci = means.withColumn("rn", row_number().over(wr))
        .agg(count(lit(1)).as("n_resamples"),
             max(when(col("rn") === 2, col("mean_e2"))).as("ci_lo_e2"),
             max(when(col("rn") === 31, col("mean_e2"))).as("ci_hi_e2"))
      x.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
        .select(col("n"), expr("cast(round(1e2 * sx / n) as bigint)").as("mean_e2"))
        .crossJoin(broadcast(ci))
        .select(col("n"), col("mean_e2"), col("n_resamples"),
                col("ci_lo_e2"), col("ci_hi_e2"))
    }),

    // Eager aggregation (aggregate pushdown below joins) — the classic
    // manual rewrite Catalyst does NOT perform: revenue per nation
    // computed by pre-aggregating lineitem to per-ORDER totals BEFORE the
    // orders join, then to per-CUSTOMER totals before the customer join.
    // Each shuffle carries an already-shrunk key space (orders ≈
    // lineitem/4, customers ≈ orders/10) instead of dragging every
    // lineitem row through three joins to a 25-row aggregate — at 100 TB
    // the difference between shuffling the fact table twice and shuffling
    // two aggregates. The oracle is the NAIVE join-then-aggregate form,
    // so the hash gate proves the rewrite is semantics-preserving.
    "q_agg_pushdown" -> ((s, d) => {
      val perOrder = Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"))
        .agg(Det.moneySum(col("l_extendedprice")).as("ord_cents"))
      val perCust = perOrder
        .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey")),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_custkey"))
        .agg(sum(col("ord_cents")).as("cust_cents"), count(lit(1)).as("n_orders"))
      perCust
        .join(Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
              col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"))
        .agg(sum(col("cust_cents")).as("rev_cents"), sum(col("n_orders")).as("n_orders"))
        .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"), col("n_name"))),
              col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("rev_cents"), col("n_orders"))
        .orderBy(col("n_name"))
    }),

    // Several COUNT(DISTINCT ...) over different columns in ONE query —
    // planned through ExpandExec (each input row fans out once per
    // distinct-aggregate with a grouping-id, then two aggregation rounds
    // dedup and count). The one plan shape the aggregation family didn't
    // exercise; still fully map-side-combinable after the expand.
    "q_agg_multi_distinct" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
             countDistinct(col("l_suppkey")).as("n_supps"),
             countDistinct(col("l_partkey"), col("l_suppkey")).as("n_ps"),
             count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))),

    // Equi-HEIGHT histogram (the CBO-statistics companion to
    // q_agg_histogram's equi-width binning): 10 exact-quantile buckets via
    // the DistRank histogram rank — no global sort, no sampled boundaries
    // — with the per-bucket (count, lo, hi, NDV) a cost-based optimizer
    // stores. Equal heights mean every bucket carries the same selectivity
    // resolution, which is why real engines collect THIS shape.
    "q_hist_equiheight" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), Det.cents(col("o_totalprice")).as("c"))
      DistRank.withGlobalRank(o, col("c"), col("o_orderkey"), 10000L, "r", "n")
        .withColumn("bucket", DistRank.ntileFromRank("r", "n", 10))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), min(col("c")).as("lo_c"),
             max(col("c")).as("hi_c"), countDistinct(col("c")).as("ndv"))
        .orderBy(col("bucket"))
    }),

    // The NAIVE countDistinct declaration, executed under the
    // graft.plans.DistinctToBitmap OPTIMIZER RULE (conf-scoped,
    // q_join_range_auto's materialize-inside-scope pattern): the engine —
    // not the query author — rewrites the distinct count into the
    // q_agg_bitmap word-bitmap aggregation, whose first shuffle carries
    // one long per 62 adjacent values instead of every distinct
    // (group, value) pair. The oracle is the plain COUNT(DISTINCT), so any
    // value the rewrite loses or double-counts is a correctness bug;
    // DistinctToBitmapSpec asserts the bitmap shape is actually in the
    // optimized plan and pins default-off / mixed-aggregate no-ops.
    "q_agg_distinct_auto" -> ((s, d) => {
      graft.GraftSession.withConf(s)("spark.graft.rewrite.distinctBitmap" -> "true") {
        Local(Tables.events(s, d)
          .groupBy(col("event_type"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy(col("event_type")), 16).toDF(s)
      }
    }),
  )

  override def oracles: Map[String, String] = Map(
    "q_agg_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |  CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 100) AS BIGINT)) AS BIGINT) AS sum_disc_cents,
        |  ROUND(AVG(l_quantity), 4) AS avg_qty,
        |  ROUND(SUM(CAST(ROUND(l_discount * 10000) AS BIGINT)) / 10000.0 / COUNT(*), 4) AS avg_disc,
        |  COUNT(*) AS cnt
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_global" ->
      """SELECT COUNT(*) AS cnt,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  ROUND(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 / COUNT(*), 4) AS avg_price,
        |  MIN(o_orderdate) AS first_date,
        |  MAX(o_orderdate) AS last_date
        |FROM orders""".stripMargin,

    "q_agg_having" ->
      """SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
        |GROUP BY c_nationkey HAVING COUNT(*) > 3
        |ORDER BY c_nationkey""".stripMargin,

    "q_agg_distinct" ->
      """SELECT o_orderpriority,
        |  COUNT(DISTINCT o_custkey) AS n_cust, COUNT(*) AS n_orders
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_agg_rollup" ->
      """SELECT r_name, n_name,
        |  CAST(GROUPING(r_name) AS INTEGER) AS g_r,
        |  CAST(GROUPING(n_name) AS INTEGER) AS g_n,
        |  COUNT(*) AS n
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY g_r, g_n, r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,

    "q_agg_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag) AS INTEGER) AS g_r,
        |  CAST(GROUPING(l_linestatus) AS INTEGER) AS g_l,
        |  COUNT(*) AS n, SUM(l_quantity) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_r, g_l, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_agg_gsets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag,
        |  ROUND(STDDEV_SAMP(l_quantity), 4) AS sd_qty,
        |  ROUND(VAR_SAMP(l_quantity), 4) AS var_qty,
        |  ROUND(CORR(l_extendedprice, l_quantity), 4) AS corr_pq,
        |  MIN(l_quantity) AS min_q, MAX(l_quantity) AS max_q
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_percentile" ->
      """SELECT o_orderpriority,
        |  ROUND(QUANTILE_CONT(o_totalprice, 0.5), 4) AS p50,
        |  ROUND(QUANTILE_CONT(o_totalprice, 0.9), 4) AS p90
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_agg_collect" ->
      """SELECT o_custkey, ARRAY_TO_STRING(LIST_SORT(LIST(o_orderkey)), ',') AS order_keys
        |FROM orders WHERE o_totalprice > 200000
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // DuckDB has no WIDTH_BUCKET — explicit arithmetic binning. Safe against
    // float-edge drift because prices are cents-quantized: a value is either
    // exactly on a 50000.00 boundary (exact in double on both formulations)
    // or ≥ 0.01 away from it.
    "q_agg_histogram" ->
      """SELECT CASE WHEN o_totalprice < 0 THEN 0
        |            WHEN o_totalprice >= 600000 THEN 13
        |            ELSE CAST(FLOOR(o_totalprice / 50000) AS BIGINT) + 1 END AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_agg_minmax_by" ->
      """SELECT o_orderpriority,
        |  ARG_MAX(o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS max_order,
        |  ARG_MIN(o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) * 10000000 + o_orderkey) AS min_order,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_agg_filter_clause" ->
      """SELECT o_orderstatus,
        |  COUNT(*) AS n_all,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
        |  CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))
        |    FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS urgent_cents,
        |  COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_agg_approx_distinct" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_agg_custom" ->
      """SELECT event_type, ROUND(EXP(AVG(LN(value))), 4) AS geo_value
        |FROM events WHERE value > 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // The property (rank bound holds) is the oracle, not the sketch value.
    "q_agg_approx_quantile" ->
      """SELECT DISTINCT o_orderpriority, TRUE AS within_rank_5pct
        |FROM orders ORDER BY o_orderpriority""".stripMargin,

    // DuckDB's listagg spelling is string_agg(... ORDER BY ...); month()
    // returns BIGINT there vs Spark's INT — cast pinned.
    "q_agg_mode" ->
      """WITH mc AS (
        |  SELECT o_orderpriority, CAST(month(o_orderdate) AS INTEGER) AS m, COUNT(*) AS c
        |  FROM orders GROUP BY o_orderpriority, month(o_orderdate)),
        |md AS (
        |  SELECT o_orderpriority, m AS mode_month, c AS mode_n FROM (
        |    SELECT o_orderpriority, m, c,
        |      ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                         ORDER BY c DESC, m) AS rn
        |    FROM mc) t WHERE rn = 1),
        |la AS (
        |  SELECT o_orderpriority,
        |    string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses
        |  FROM orders GROUP BY o_orderpriority)
        |SELECT md.o_orderpriority, md.mode_month, md.mode_n, la.statuses
        |FROM md JOIN la ON md.o_orderpriority = la.o_orderpriority
        |ORDER BY md.o_orderpriority""".stripMargin,

    "q_agg_bitmap" ->
      """WITH w AS (
        |  SELECT event_type AS et, user_id // 62 AS wk,
        |         BIT_OR(1::BIGINT << CAST(user_id % 62 AS INTEGER)) AS w
        |  FROM events GROUP BY event_type, user_id // 62),
        |bm AS (
        |  SELECT et, CAST(SUM(BIT_COUNT(w)) AS BIGINT) AS n_bitmap
        |  FROM w GROUP BY et),
        |ex AS (
        |  SELECT event_type AS et, COUNT(DISTINCT user_id) AS n_exact
        |  FROM events GROUP BY event_type)
        |SELECT bm.et, bm.n_bitmap, ex.n_exact, bm.n_bitmap = ex.n_exact AS agree
        |FROM bm JOIN ex ON bm.et = ex.et ORDER BY bm.et""".stripMargin,

    // DuckDB has no DataSketches HLL — the properties (error bounds on the
    // direct AND the two-level-merged estimate), not the sketch values,
    // ride the hash gate (q_agg_approx_distinct pattern).
    "q_agg_hll_sketch" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS merged_within_5pct, TRUE AS within_5pct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin,

    "q_agg_bool" ->
      """SELECT o_orderpriority,
        |  BOOL_AND(o_totalprice > 1000) AS all_over_1k,
        |  BOOL_OR(o_orderstatus = 'F') AS any_finished,
        |  BOOL_AND(o_custkey >= 0) AS keys_nonneg,
        |  COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big,
        |  COUNT(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_agg_crosstab" ->
      """SELECT o_orderstatus AS status,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS p1,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS p2,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS p3,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY o_orderstatus ORDER BY status""".stripMargin,

    // DuckDB lacks WIDTH_BUCKET (q_agg_histogram precedent) — explicit
    // arithmetic with the same clamp semantics.
    "q_agg_hist2d" ->
      """SELECT
        |  CAST(CASE WHEN l_extendedprice < 0 THEN 0
        |            WHEN l_extendedprice >= 120000 THEN 11
        |            ELSE FLOOR(l_extendedprice / 12000) + 1 END AS BIGINT) AS price_b,
        |  CAST(CASE WHEN l_quantity < 0 THEN 0
        |            WHEN l_quantity >= 50 THEN 6
        |            ELSE FLOOR(l_quantity / 10) + 1 END AS BIGINT) AS qty_b,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem
        |GROUP BY 1, 2 ORDER BY price_b, qty_b""".stripMargin,

    // Mirrors the Spark formula exactly: all moments are exact integer sums
    // (DuckDB sums BIGINT into HUGEINT — also exact) cast to double only at
    // the final divisions, so both engines round identical doubles.
    "q_agg_regr" ->
      """WITH src AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x,
        |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem),
        |a AS (
        |  SELECT l_returnflag, COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS nd,
        |    CAST(SUM(x) AS DOUBLE) AS sxd, CAST(SUM(y) AS DOUBLE) AS syd,
        |    CAST(SUM(x*y) AS DOUBLE) AS sxyd, CAST(SUM(x*x) AS DOUBLE) AS sxxd,
        |    REGR_SLOPE(CAST(y AS DOUBLE), CAST(x AS DOUBLE)) AS rs
        |  FROM src GROUP BY l_returnflag),
        |b AS (
        |  SELECT l_returnflag, n, nd, sxd, syd,
        |    (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) AS slope, rs
        |  FROM a)
        |SELECT l_returnflag, n,
        |  CAST(ROUND(1e6 * slope) AS BIGINT) AS slope_e6,
        |  CAST(ROUND(1e6 * (syd - slope * sxd) / nd) AS BIGINT) AS icept_e6,
        |  (ABS(rs - slope) <= 1e-7 * ABS(slope)) AS builtin_close
        |FROM b ORDER BY l_returnflag""".stripMargin,

    "q_corr_matrix" ->
      """WITH src AS (
        |  SELECT l_returnflag, CAST(l_quantity AS BIGINT) AS x1,
        |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) // 100 AS x2,
        |    CAST(ROUND(l_discount * 10000) AS BIGINT) AS x3,
        |    CAST(ROUND(l_tax * 10000) AS BIGINT) AS x4
        |  FROM lineitem),
        |m AS (
        |  SELECT l_returnflag, COUNT(*) AS n, CAST(COUNT(*) AS DOUBLE) AS nd,
        |    CAST(SUM(x1) AS DOUBLE) AS s1, CAST(SUM(x1*x1) AS DOUBLE) AS q1,
        |    CAST(SUM(x2) AS DOUBLE) AS s2, CAST(SUM(x2*x2) AS DOUBLE) AS q2,
        |    CAST(SUM(x3) AS DOUBLE) AS s3, CAST(SUM(x3*x3) AS DOUBLE) AS q3,
        |    CAST(SUM(x4) AS DOUBLE) AS s4, CAST(SUM(x4*x4) AS DOUBLE) AS q4,
        |    CAST(SUM(x1*x2) AS DOUBLE) AS c12, CAST(SUM(x1*x3) AS DOUBLE) AS c13,
        |    CAST(SUM(x1*x4) AS DOUBLE) AS c14, CAST(SUM(x2*x3) AS DOUBLE) AS c23,
        |    CAST(SUM(x2*x4) AS DOUBLE) AS c24, CAST(SUM(x3*x4) AS DOUBLE) AS c34
        |  FROM src GROUP BY l_returnflag),
        |p AS (
        |  SELECT l_returnflag, n, nd, 'qty_price' AS pair, s1 AS sx, q1 AS sxx, s2 AS sy, q2 AS syy, c12 AS sxy FROM m
        |  UNION ALL SELECT l_returnflag, n, nd, 'qty_disc', s1, q1, s3, q3, c13 FROM m
        |  UNION ALL SELECT l_returnflag, n, nd, 'qty_tax', s1, q1, s4, q4, c14 FROM m
        |  UNION ALL SELECT l_returnflag, n, nd, 'price_disc', s2, q2, s3, q3, c23 FROM m
        |  UNION ALL SELECT l_returnflag, n, nd, 'price_tax', s2, q2, s4, q4, c24 FROM m
        |  UNION ALL SELECT l_returnflag, n, nd, 'disc_tax', s3, q3, s4, q4, c34 FROM m)
        |SELECT l_returnflag, pair, n,
        |  CAST(ROUND(1e6 * (nd * sxy - sx * sy) /
        |    NULLIF(SQRT((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 0.0))
        |    AS BIGINT) AS corr_e6
        |FROM p ORDER BY l_returnflag, pair""".stripMargin,

    "q_gini" ->
      """WITH spend AS (
        |  SELECT o_custkey AS ck,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM orders GROUP BY o_custkey),
        |base AS (
        |  SELECT n.n_name, spend.ck, spend.x
        |  FROM spend JOIN customer c ON spend.ck = c.c_custkey
        |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
        |r AS (
        |  SELECT n_name, x,
        |    ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY x, ck) AS i
        |  FROM base),
        |a AS (
        |  SELECT n_name, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(i * x) AS BIGINT) AS six
        |  FROM r GROUP BY n_name)
        |SELECT n_name, n,
        |  CAST(ROUND(1e6 * ((2.0 * six) / (CAST(n AS DOUBLE) * sx)
        |    - (n + 1.0) / n)) AS BIGINT) AS gini_e6
        |FROM a ORDER BY n_name""".stripMargin,

    "q_tdigest" ->
      """WITH e AS (
        |  SELECT event_type, CAST(ROUND(value * 100) AS BIGINT) AS c FROM events),
        |r AS (
        |  SELECT event_type, c,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n
        |  FROM e)
        |SELECT event_type, MAX(n) AS n,
        |  MAX(CASE WHEN r = (n + 1) // 2 THEN c END) AS p50_cents,
        |  MAX(CASE WHEN r = (19 * n + 19) // 20 THEN c END) AS p95_cents,
        |  TRUE AS td_ok
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    // quantile_cont = Spark's interpolating percentile; ×2 keeps the even-
    // count midpoint integer. td_ok mirrors as TRUE — the flag's failure
    // mode is Spark-side (a diverging digest), the same q_tdigest pattern.
    "q_tdigest_rollup" ->
      """WITH e AS (
        |  SELECT l_returnflag AS rf, l_linestatus AS ls,
        |         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |e3 AS (
        |  SELECT rf AS rf2, ls AS ls2, c FROM e
        |  UNION ALL SELECT rf, 'ALL', c FROM e
        |  UNION ALL SELECT 'ALL', 'ALL', c FROM e)
        |SELECT rf2, ls2, COUNT(*) AS n,
        |  CAST(QUANTILE_CONT(c, 0.5) * 2 AS BIGINT) AS med2_cents,
        |  TRUE AS td_ok
        |FROM e3 GROUP BY rf2, ls2 ORDER BY rf2, ls2""".stripMargin,

    "q_bootstrap_ci" ->
      """WITH x AS (
        |  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x
        |  FROM orders),
        |rep AS (
        |  SELECT b, x.x,
        |    CAST(('0x' || SUBSTR(md5(CAST(o_orderkey AS VARCHAR) || ':'
        |      || CAST(b AS VARCHAR)), 1, 8)) AS BIGINT) AS u
        |  FROM x, (SELECT UNNEST(GENERATE_SERIES(1, 32)) AS b)),
        |w AS (
        |  SELECT b, x,
        |    CASE WHEN u < 1580030169 THEN 0 WHEN u < 3160060338 THEN 1
        |         WHEN u < 3950075422 THEN 2 WHEN u < 4213413783 THEN 3
        |         ELSE 4 END AS w
        |  FROM rep),
        |means AS (
        |  SELECT b, CAST(ROUND(1e2 * CAST(SUM(w * x) AS BIGINT)
        |    / CAST(SUM(w) AS BIGINT)) AS BIGINT) AS mean_e2
        |  FROM w GROUP BY b),
        |rk AS (
        |  SELECT b, mean_e2, ROW_NUMBER() OVER (ORDER BY mean_e2, b) AS rn
        |  FROM means),
        |ci AS (
        |  SELECT COUNT(*) AS n_resamples,
        |    MAX(CASE WHEN rn = 2 THEN mean_e2 END) AS ci_lo_e2,
        |    MAX(CASE WHEN rn = 31 THEN mean_e2 END) AS ci_hi_e2
        |  FROM rk),
        |o AS (
        |  SELECT COUNT(*) AS n,
        |    CAST(ROUND(1e2 * CAST(SUM(x) AS BIGINT) / COUNT(*)) AS BIGINT) AS mean_e2
        |  FROM x)
        |SELECT o.n, o.mean_e2, ci.n_resamples, ci.ci_lo_e2, ci.ci_hi_e2
        |FROM o, ci""".stripMargin,

    // the NAIVE join-then-aggregate form — pins the eager rewrite exactly
    "q_agg_pushdown" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
        |  CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_agg_multi_distinct" ->
      """WITH ps AS (
        |  SELECT l_returnflag, COUNT(*) AS n_ps FROM (
        |    SELECT DISTINCT l_returnflag, l_partkey, l_suppkey FROM lineitem)
        |  GROUP BY l_returnflag)
        |SELECT l.l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  CAST(MAX(ps.n_ps) AS BIGINT) AS n_ps,
        |  COUNT(*) AS n
        |FROM lineitem l JOIN ps ON l.l_returnflag = ps.l_returnflag
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,

    "q_hist_equiheight" ->
      """WITH o AS (
        |  SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |b AS (
        |  SELECT c,
        |    CAST(NTILE(10) OVER (ORDER BY c, o_orderkey) AS INT) AS bucket
        |  FROM o)
        |SELECT bucket, COUNT(*) AS n, MIN(c) AS lo_c, MAX(c) AS hi_c,
        |  COUNT(DISTINCT c) AS ndv
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_agg_distinct_auto" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
  )
}
