package graft.ops

import graft.{Local, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.8 (batch twins) + §2.3 time joins — tumbling/sliding windows,
  * sessionization (gaps-and-islands), interval range join, as-of join.
  *
  * Scale posture:
  * - Tumble/slide use `window()` which is a plain projection + hash agg —
  *   one shuffle on (window, keys); slide emits its overlap factor (4×) in
  *   the map phase, which partial aggregation absorbs before the shuffle.
  * - Sessionization and as-of ride a single shuffle on `user_id` and a
  *   per-partition ordered walk (WindowExec) — the canonical distributed
  *   formulation; no self-join, no driver loops.
  * - The range join keeps the equi conjunct (`user_id`) so the planner
  *   hash-partitions; the time predicate is a post-join filter within each
  *   key group. At 100 TB with few hot users, the next lever is bucketing
  *   both sides into coarse time buckets (join on (user, bucket) ∪ (user,
  *   bucket+1)) to bound per-task pair counts — documented, not needed at
  *   harness SFs.
  * - As-of join is the union+last_value idiom: tag both sides, one shuffle
  *   on the key, `last(value, ignoreNulls)` over (ts, side) — equivalent to
  *   DuckDB's native ASOF LEFT JOIN (ties: click at exactly p.ts counts,
  *   side ordering makes it inclusive; duplicate click timestamps pre-merged
  *   deterministically with max(event_id)).
  */
object TimeSeries extends OpModule {

  private val us30min = 1800000000L // 30 min in µs

  /** Gaps-and-islands sessionization of any (user_id, event_id, ts) frame:
    * one shuffle on user_id, per-partition ordered walk. Exposed for
    * property tests over generated streams (SessionPropertiesSpec). */
  def sessionize(events: DataFrame, gapUs: Long = us30min): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val us = unix_micros(col("ts"))
    events
      .select(col("user_id"), col("event_id"), col("ts"),
              when(lag(us, 1).over(w).isNull || (us - lag(us, 1).over(w)) > gapUs, 1)
                .otherwise(0).as("brk"))
      .withColumn("sess", sum(col("brk")).over(wRun))
      .groupBy(col("user_id"), col("sess"))
      .agg(count(lit(1)).as("n_events"),
           (max(unix_micros(col("ts"))) - min(unix_micros(col("ts")))).as("len_us"),
           min(col("event_id")).as("first_event"))
      .orderBy(col("user_id"), col("sess"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_tumble_batch" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("val_cents"))
        .select(col("w.start").cast("timestamp_ntz").as("hstart"),
                col("event_type"), col("n"), col("val_cents"))
        .orderBy(col("hstart"), col("event_type"))),

    "q_slide_batch" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
        .agg(count(lit(1)).as("n"), Det.moneySum(col("value")).as("val_cents"))
        .select(col("w.start").cast("timestamp_ntz").as("wstart"),
                col("n"), col("val_cents"))
        .orderBy(col("wstart"))),

    // Gaps-and-islands sessionization, 30-min inactivity gap.
    "q_session_batch" -> ((s, d) => sessionize(Tables.events(s, d))),

    // Native session_window in BATCH mode — same operator the streaming
    // s_session_win runs, no watermark, so ALL sessions emit. (The
    // gaps-and-islands twin above is the hand-rolled formulation; this is
    // the built-in.) Session interval is [start, last+gap): a row at
    // exactly last+30min starts a new session.
    // Spark 4 DYNAMIC-GAP session windows: session_window with a PER-EVENT
    // gap expression (purchases hold a session open 60 min, everything else
    // 30) — the data-dependent sessionization fixed-gap windows can't
    // express. Each event claims [ts, ts+gap); claims merge while they
    // overlap (half-open: an event AT the running max end starts a new
    // session), so the oracle is the q_interval_merge running-max-end rule
    // with a variable interval length, and the reported session end is the
    // merged max(ts+gap) — both pinned in exact epoch-µs.
    "q_session_dynamic" -> ((s, d) => {
      // NB string durations, not INTERVAL literals: the dynamic-gap API
      // requires CalendarIntervalType and ANSI INTERVAL yields DayTime
      val gap = when(col("event_type") === "purchase", lit("60 minutes"))
        .otherwise(lit("30 minutes"))
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
                col("w.start").cast("timestamp_ntz").as("sess_start"),
                col("w.end").cast("timestamp_ntz").as("sess_end"),
                col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))
    }),

    "q_session_native" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("w.start").cast("timestamp_ntz").as("sess_start"),
                col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))),

    // Interval-union coverage (merge overlapping intervals): each event
    // claims [ts, ts+30min); per user, overlapping-or-touching claims merge
    // into islands and the query reports island count + total covered
    // seconds — the utilization/SLA-coverage primitive (distinct from
    // sessionization: islands merge on INTERVAL overlap, not event gaps, so
    // a long interval bridges events a 30-min gap rule would split). A row
    // starts a new island iff its start exceeds the running max END of all
    // PRIOR rows (the unbounded-preceding max frame) — one user_id shuffle,
    // frame scan O(1) per row, exact epoch-µs integers (D2).
    "q_interval_merge" -> ((s, d) => {
      val wPrev = Window.partitionBy(col("user_id"))
        .orderBy(col("st"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy(col("user_id"))
        .orderBy(col("st"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"),
                unix_micros(col("ts")).as("st"),
                (unix_micros(col("ts")) + us30min).as("en"))
        .withColumn("prev_en", max(col("en")).over(wPrev))
        .withColumn("brk",
          when(col("prev_en").isNull || col("st") > col("prev_en"), 1).otherwise(0))
        .withColumn("isl", sum(col("brk")).over(wRun))
        .groupBy(col("user_id"), col("isl"))
        .agg(min(col("st")).as("s0"), max(col("en")).as("e1"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_islands"),
             expr("sum(e1 - s0) div 1000000").as("covered_sec"))
        .orderBy(col("user_id"))
    }),

    // Seasonal-naive forecast BACKTEST — the model-selection loop a
    // forecasting pipeline runs before committing to a model: hold out the
    // last 7 days, "predict" each held-out (type, day) with the value 7
    // days earlier (seasonal naive) and 1 day earlier (naive), and score
    // both by MAE. Forecast lookup is a CALENDAR self-join on (type,
    // day−k), not a lag-k-rows window — a missing day would silently shift
    // a row-based lag onto the wrong date. Counts are exact longs; MAE is
    // an integer-cents-style ×100 division. One aggregate + two
    // broadcast-sized self-joins on the 150-row daily rollup.
    "q_backtest_snaive" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
                 date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
      val maxDay = daily.agg(max(col("day")).as("mx"))
      val sn = daily.select(col("event_type").as("et7"), col("day").as("d7"),
                            col("n").as("f_sn"))
      val nv = daily.select(col("event_type").as("et1"), col("day").as("d1"),
                            col("n").as("f_nv"))
      daily.crossJoin(broadcast(maxDay))
        .where(datediff(col("mx"), col("day")) < 7)
        .join(broadcast(sn), col("et7") === col("event_type") &&
                             col("d7") === date_sub(col("day"), 7))
        .join(broadcast(nv), col("et1") === col("event_type") &&
                             col("d1") === date_sub(col("day"), 1))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"),
             expr("sum(abs(n - f_sn)) * 100 div count(1)").as("mae_snaive_e2"),
             expr("sum(abs(n - f_nv)) * 100 div count(1)").as("mae_naive_e2"))
        .withColumn("snaive_wins", col("mae_snaive_e2") < col("mae_naive_e2"))
        .orderBy(col("event_type"))
    }),

    // First-order Markov transition matrix of the per-user event sequence
    // — P(next type | current type) with exact pair counts and 1e-4
    // probabilities. One lead() on the user_id shuffle feeds one pair
    // aggregate; the per-row normalizer is a WINDOW over the 25-row matrix
    // (a groupBy+join would re-plan — and re-shuffle — the whole
    // lead-window branch a second time; measured 5 exchanges → 3).
    "q_markov_transitions" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")), col("event_id"))
      val wTot = Window.partitionBy(col("cur"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_type").as("cur"),
                lead(col("event_type"), 1).over(w).as("nxt"))
        .where(col("nxt").isNotNull)
        .groupBy(col("cur"), col("nxt")).agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(wTot))
        .select(col("cur"), col("nxt"), col("n"),
                expr("n * 10000 div total").as("p_e4"))
        .orderBy(col("cur"), col("nxt"))
    }),

    // Sequence-pattern matching over sessions (MATCH_RECOGNIZE-lite): each
    // 30-min session materializes its event-type path as a bounded string
    // (one initial per event, (ts, event_id)-ordered) and a regex detects
    // the view→clicks→purchase streak `vc+p`. Honest semantics: the path
    // is session-bounded, so the "pattern over a stream" problem reduces
    // to a per-group string build + one regexp — all inside two
    // aggregations on the same user_id shuffle sessionization already
    // pays. The per-session collect is bounded by session length (the same
    // bound any MATCH_RECOGNIZE engine needs for its NFA state).
    "q_seq_pattern" -> ((s, d) => {
      val us = unix_micros(col("ts"))
      val w = Window.partitionBy(col("user_id")).orderBy(us, col("event_id"))
      val wRun = Window.partitionBy(col("user_id")).orderBy(us, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("ts"),
                substring(col("event_type"), 1, 1).as("ini"),
                when(lag(us, 1).over(w).isNull || (us - lag(us, 1).over(w)) > us30min, 1)
                  .otherwise(0).as("brk"))
        .withColumn("sess", sum(col("brk")).over(wRun))
        .withColumn("us", us)
        .groupBy(col("user_id"), col("sess"))
        .agg(expr("""concat_ws('', transform(
             |  array_sort(collect_list(struct(us, event_id, ini))),
             |  x -> x.ini))""".stripMargin).as("path"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
             sum(when(col("path").rlike("vc+p"), 1L).otherwise(0L)).as("n_match"))
        .orderBy(col("user_id"))
    }),

    // Interval self-join: pairs of events of one user within 10 minutes.
    "q_join_range" -> ((s, d) => {
      val e = Tables.events(s, d)
      val a = e.select(col("user_id"), col("ts").as("ts_a"), col("event_id").as("id_a"))
      val b = e.select(col("user_id").as("uid_b"), col("ts").as("ts_b"), col("event_id").as("id_b"))
      a.join(b, col("user_id") === col("uid_b") &&
                col("ts_b") > col("ts_a") &&
                col("ts_b") <= col("ts_a") + expr("INTERVAL 10 MINUTES"))
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // The 100 TB formulation of the same interval join (the §7 "hard part"
    // q_join_range's comment promises): both sides get a coarse 10-minute
    // time bucket; the left side probes (bucket, bucket+1), turning the join
    // into a pure EQUI join on (user_id, bucket) — hash-partitionable, with
    // per-task pair counts bounded by bucket population instead of a user's
    // full history. The exact interval predicate filters the candidates.
    // Output is identical to q_join_range (the oracle pins the equivalence).
    "q_join_range_bucketed" -> ((s, d) => {
      val bucketUs = 600000000L // 10 min — equals the join window
      val e = Tables.events(s, d)
      val a = e.select(col("user_id"), col("ts").as("ts_a"), col("event_id").as("id_a"))
        .withColumn("bkt", explode(array(
          (unix_micros(col("ts_a")) / bucketUs).cast("long"),
          (unix_micros(col("ts_a")) / bucketUs).cast("long") + 1)))
      val b = e.select(col("user_id").as("uid_b"), col("ts").as("ts_b"), col("event_id").as("id_b"))
        .withColumn("bkt_b", (unix_micros(col("ts_b")) / bucketUs).cast("long"))
      a.join(b, col("user_id") === col("uid_b") && col("bkt") === col("bkt_b"))
        .where(col("ts_b") > col("ts_a") &&
               col("ts_b") <= col("ts_a") + expr("INTERVAL 10 MINUTES"))
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // The SAME naive interval-join declaration as q_join_range, executed
    // under the graft.plans.IntervalJoinBucketing OPTIMIZER RULE (conf-
    // scoped, q_runtime_filter's materialize-inside-scope pattern): the
    // engine — not the query author — rewrites the plan into the bucketed
    // equi join that q_join_range_bucketed hand-writes. The oracle is
    // q_join_range's SQL verbatim, so any row the rewrite adds or drops is
    // a correctness bug; PlanAuditSpec asserts the rewrite actually fired
    // (Generate/explode in the optimized plan, (key, bucket) equi join).
    "q_join_range_auto" -> ((s, d) => {
      graft.GraftSession.withConf(s)("spark.graft.rewrite.intervalJoin" -> "true") {
        // the pair list is data-sized: 143 rows at sf0.01, about 14,300
        // per unit of scale, so this bound trips near sf70
        Local(queries("q_join_range")(s, d), 1000000).toDF(s)
      }
    }),

    // As-of: each purchase matched to the user's latest click at-or-before it.
    "q_join_asof" -> ((s, d) => {
      val e = Tables.events(s, d)
      // Pre-merge duplicate click timestamps so the as-of pick is total (D3).
      val clicks = e.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id"), col("ts"), col("click_id"),
                lit(null).cast("long").as("p_id"), lit(0).as("side"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(null).cast("long").as("click_id"),
                col("event_id").as("p_id"), lit(1).as("side"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("side"), col("p_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.unionByName(purchases)
        .withColumn("last_click", last(col("click_id"), ignoreNulls = true).over(w))
        .where(col("p_id").isNotNull)
        .select(col("p_id"), col("last_click").as("click_id"))
        .orderBy(col("p_id"))
    }),

    // The SAME as-of contract as q_join_asof, executed by the graft-native
    // MERGE AS-OF physical operator (plans/AsOfJoin.scala — custom logical
    // node + hint-marker analysis rule + planner strategy + AsOfJoinExec,
    // all through the public extension point). The oracle is q_join_asof's
    // DuckDB `ASOF LEFT JOIN` verbatim, so the hash gate pins the custom
    // operator ≡ the window formulation ≡ DuckDB's native as-of. The plan
    // replaces the union-both-sides window shuffle with two co-partitioned
    // sorted sides and an O(1)-state forward merge; AsOfJoinSpec asserts
    // the AsOfJoinExec node is actually in the executed plan.
    "q_join_asof_native" -> ((s, d) => {
      val e = Tables.events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id").as("uid_r"), col("ts").as("ts_r"), col("click_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id").as("uid_l"), col("ts").as("ts_l"),
                col("event_id").as("p_id"))
      graft.plans.AsOf.joinBackward(purchases, clicks,
          Seq((col("uid_l"), col("uid_r"))), col("ts_l"), col("ts_r"))
        .select(col("p_id"), col("click_id"))
        .orderBy(col("p_id"))
    }),

    // q_join_asof_tol's 2 h staleness contract through the NATIVE merge
    // exec: the tolerance rides the hint condition (`r.ts > l.ts - I`) into
    // AsOfJoinExec as an O(1) candidate filter — no interval fan-out, no
    // rank stage, the exact same two-shuffle merge plan as
    // q_join_asof_native. The oracle is q_join_asof_tol's SQL verbatim, so
    // the hash gate pins native-tolerance ≡ bounded-interval-join
    // formulation ≡ DuckDB.
    "q_join_asof_tol_native" -> ((s, d) => {
      val e = Tables.events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id").as("uid_r"), col("ts").as("ts_r"), col("click_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id").as("uid_l"), col("ts").as("ts_l"),
                col("event_id").as("p_id"))
      graft.plans.AsOf.joinBackwardTol(purchases, clicks,
          Seq((col("uid_l"), col("uid_r"))), col("ts_l"), col("ts_r"),
          expr("INTERVAL 2 HOURS"))
        .select(col("p_id"), col("click_id"))
        .orderBy(col("p_id"))
    }),

    // INTERVAL-OVERLAP join — both sides are intervals (vs q_join_range's
    // point-in-interval): view attention windows [ts, ts+5m] against
    // purchase consideration windows [ts−10m, ts] per user. Closed-interval
    // overlap (s_a <= e_b AND s_b <= e_a). Scale form: each side explodes
    // the W=10min buckets its interval COVERS (sequence over floor-div —
    // bounded fan-out: ≤2 buckets at these widths), the join is pure equi
    // on (user, bucket), the exact predicate prunes false candidates, and
    // DISTINCT collapses pairs that share several buckets. Same family as
    // the IntervalJoinBucketing rewrite but two-sided — candidate work is
    // bounded by bucket population, never per-user history².
    "q_join_interval_overlap" -> ((s, d) => {
      val W = 600000000L
      val e = Tables.events(s, d)
      val v = e.where(col("event_type") === "view")
        .select(col("event_id").as("id_v"), col("user_id").as("uid_v"),
                unix_micros(col("ts")).as("s_v"),
                (unix_micros(col("ts")) + 300000000L).as("e_v"))
        .withColumn("bkt", explode(expr(s"sequence(s_v div $W, e_v div $W)")))
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("id_p"), col("user_id").as("uid_p"),
                (unix_micros(col("ts")) - 600000000L).as("s_p"),
                unix_micros(col("ts")).as("e_p"))
        .withColumn("bkt_p", explode(expr(s"sequence(s_p div $W, e_p div $W)")))
      v.join(p, col("uid_v") === col("uid_p") && col("bkt") === col("bkt_p") &&
             col("s_v") <= col("e_p") && col("s_p") <= col("e_v"))
        .select(col("id_v"), col("id_p")).distinct()
        .orderBy(col("id_v"), col("id_p"))
    }),

    // Multi-touch conversion attribution: each purchase's value splits
    // across the clicks in its 30-minute lookback (linear attribution,
    // last-touch carries the integer remainder so per-purchase credit sums
    // EXACTLY to its cents), purchases with no touch credit a "direct"
    // channel (-1). Channel = props.k mod 5 (the JSON payload as campaign
    // source). The touch join is the bounded-interval shape the
    // IntervalJoinBucketing rule rewrites at scale; the credit split rides
    // one count window + one row_number window on the same purchase key.
    "q_conv_attr" -> ((s, d) => {
      val e = Tables.events(s, d)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id").as("uid"),
                col("ts").as("p_ts"), Det.cents(col("value")).as("cents"))
      val c = e.where(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("cuid"),
                col("ts").as("c_ts"),
                pmod(get_json_object(col("props"), "$.k").cast("long"), lit(5L)).as("channel"))
      val touched = p.join(c, col("uid") === col("cuid") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") > col("p_ts") - expr("INTERVAL 30 MINUTES"))
      val w = Window.partitionBy(col("p_id"))
      val wOrd = Window.partitionBy(col("p_id"))
        .orderBy(col("c_ts").desc, col("c_id").desc)
      val credits = touched
        .withColumn("n", count(lit(1)).over(w))
        .withColumn("rn", row_number().over(wOrd))
        .select(col("channel"), col("p_id"),
          expr("cents div n + IF(rn = 1, cents % n, 0L)").as("credit"))
      val direct = p
        .join(touched.select(col("p_id")), Seq("p_id"), "left_anti")
        .select(lit(-1L).as("channel"), col("p_id"), col("cents").as("credit"))
      credits.unionByName(direct)
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_touches"), sum(col("credit")).as("credit_cents"))
        .orderBy(col("channel"))
    }),

    // FORWARD as-of (next click at-or-after each purchase) through the SAME
    // custom merge operator as q_join_asof_native: backward-inclusive as-of
    // on NEGATED epoch-µs keys is exactly forward-inclusive as-of on the
    // original timeline (max(-c) ≤ -p ⇔ min(c) ≥ p), so one physical
    // operator serves both directions — the reuse argument for building the
    // operator once instead of per-direction window plans. Oracle is
    // DuckDB's native forward ASOF (p.ts <= cl.ts).
    "q_join_asof_fwd" -> ((s, d) => {
      val e = Tables.events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
        .select(col("user_id").as("uid_r"),
                (-unix_micros(col("ts"))).as("nts_r"), col("click_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id").as("uid_l"), (-unix_micros(col("ts"))).as("nts_l"),
                col("event_id").as("p_id"))
      graft.plans.AsOf.joinBackward(purchases, clicks,
          Seq((col("uid_l"), col("uid_r"))), col("nts_l"), col("nts_r"))
        .select(col("p_id"), col("click_id"))
        .orderBy(col("p_id"))
    }),

    // ClickHouse-style windowFunnel: per user, the maximum IN-ORDER funnel
    // depth view→click→purchase completed within 1 hour of the view, under
    // GREEDY earliest-next matching (c* = first click after the view, p* =
    // first purchase after THAT click — not any purchase after any click).
    // Both stage joins are the bounded-interval equi+range shape (the
    // IntervalJoinBucketing family), each collapsed by a min-aggregation on
    // the view key before the next stage, so candidate fan-out never
    // multiplies across stages. Output: depth histogram over users.
    "q_window_funnel" -> ((s, d) => {
      val e = Tables.events(s, d)
      val v = e.where(col("event_type") === "view")
        .select(col("user_id").as("u"), col("event_id").as("vid"), col("ts").as("vts"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"))
      val vc = v.join(c, col("u") === col("cu") &&
            col("cts") > col("vts") &&
            col("cts") <= col("vts") + expr("INTERVAL 1 HOUR"), "left")
        .groupBy(col("u"), col("vid"), col("vts"))
        .agg(min(col("cts")).as("c1"))
      val p = e.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"))
      val depth = vc.join(p, col("u") === col("pu") &&
            col("pts") > col("c1") &&
            col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"), "left")
        .groupBy(col("u"), col("vid"), col("c1"))
        .agg(max(when(col("pts").isNotNull, 1).otherwise(0)).as("has_p"))
        .select(col("u"),
          (lit(1) + when(col("c1").isNotNull, 1).otherwise(0) + col("has_p")).as("dp"))
      depth.groupBy(col("u")).agg(max(col("dp")).as("depth"))
        .groupBy(col("depth")).agg(count(lit(1)).as("n_users"))
        .orderBy(col("depth"))
    }),

    // M4 downsampling (Jugel et al.) — THE visual-fidelity-preserving
    // series reduction: per (event_type, time bucket) keep min, max, first,
    // last. 64 equal-width buckets over the global span (1-row broadcast
    // bounds); first/last ride two row_number windows over the SAME
    // (series, bucket) partitioning (one shuffle), values are exact cents.
    // Embarrassingly parallel — each bucket aggregates independently, which
    // is why M4 (and not sequential LTTB) is the 100 TB downsampler.
    "q_m4_downsample" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type").as("et"), unix_micros(col("ts")).as("us"),
                Det.cents(col("value")).as("cents"), col("event_id"))
      val bounds = ev.agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
      val bucketed = ev.crossJoin(broadcast(bounds))
        .withColumn("b", least(lit(63L), expr("(us - t0) * 64 div (t1 - t0 + 1)")))
      val w = Window.partitionBy(col("et"), col("b"))
      val ra = row_number().over(w.orderBy(col("us"), col("event_id")))
      val rd = row_number().over(w.orderBy(col("us").desc, col("event_id").desc))
      bucketed.withColumn("ra", ra).withColumn("rd", rd)
        .groupBy(col("et"), col("b"))
        .agg(count(lit(1)).as("n"), min(col("cents")).as("lo"), max(col("cents")).as("hi"),
             max(when(col("ra") === 1, col("cents"))).as("first_c"),
             max(when(col("rd") === 1, col("cents"))).as("last_c"))
        .orderBy(col("et"), col("b"))
    }),

    // Calendar densification via a recursive CTE (Spark 4 WITH RECURSIVE,
    // UNION ALL — the only recursion shape Spark supports): generate the 12
    // month indexes of 1995 and left-join monthly order totals so empty
    // months surface as explicit zero rows (a missing month is otherwise
    // silently absent from a report). The recursion materializes 12 rows;
    // the fact side stays one filtered hash aggregation — gap-filling never
    // rescans the fact table per calendar row.
    "q_calendar_fill" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_cal_v")
      s.sql("""WITH RECURSIVE m(k) AS (
              |  SELECT 1 UNION ALL SELECT k + 1 FROM m WHERE k < 12),
              |agg AS (
              |  SELECT month(o_orderdate) AS k, COUNT(*) AS n_orders,
              |         SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS rev_cents
              |  FROM orders_cal_v
              |  WHERE year(o_orderdate) = 1995
              |  GROUP BY month(o_orderdate))
              |SELECT m.k AS month, COALESCE(agg.n_orders, 0) AS n_orders,
              |       COALESCE(agg.rev_cents, 0) AS rev_cents
              |FROM m LEFT JOIN agg ON m.k = agg.k
              |ORDER BY month""".stripMargin)
    }),

    // Ordered conversion funnel view → click → purchase per user: each
    // stage's timestamp is the earliest event STRICTLY AFTER the previous
    // stage (not merely the earliest of its type — the ordering is the
    // funnel). All three stage columns ride ONE shuffle on user_id: they
    // are chained min-over-partition windows on the same key, which reuse
    // the first window's HashPartitioning (the §10.2 plan-shape finding),
    // then collapse to one row per user and a single global roll-up.
    // Stage latency sums ride exact epoch-µs integer arithmetic (D2: both
    // engines see identical µs timestamps).
    "q_funnel" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
      val staged = Tables.events(s, d)
        .withColumn("t0", min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t1", min(when(col("event_type") === "click" && col("ts") > col("t0"), col("ts"))).over(w))
        .withColumn("t2", min(when(col("event_type") === "purchase" && col("ts") > col("t1"), col("ts"))).over(w))
        .groupBy(col("user_id"))
        .agg(max(col("t0")).as("t0"), max(col("t1")).as("t1"), max(col("t2")).as("t2"))
      staged.agg(
        count(col("t0")).as("n_view"),
        count(col("t1")).as("n_click"),
        count(col("t2")).as("n_purchase"),
        sum(unix_micros(col("t1")) - unix_micros(col("t0"))).as("view_click_us"),
        sum(unix_micros(col("t2")) - unix_micros(col("t1"))).as("click_purchase_us"))
    }),

    // Month-over-month growth: the reporting primitive layered on lag().
    // Growth rides in basis points as ROUND of a double computed from exact
    // integer cents — the delta can be NEGATIVE, where integer division
    // diverges (Spark `div` truncates toward zero, DuckDB `//` floors; the
    // q_win_gapfill dialect rule). First month per group has no baseline →
    // NULL, preserved explicitly.
    "q_mom_growth" -> ((s, d) => {
      val monthly = Tables.orders(s, d)
        .groupBy(col("o_orderpriority").as("p"),
                 date_trunc("month", col("o_orderdate")).cast("timestamp_ntz").as("m"))
        .agg(Det.moneySum(col("o_totalprice")).as("cents"))
      val w = Window.partitionBy(col("p")).orderBy(col("m"))
      monthly
        .withColumn("prev", lag(col("cents"), 1).over(w))
        .select(col("p"), col("m"), col("cents"),
                // nullif guard: a zero-cents baseline month must yield NULL
                // like a missing one (Spark would cast the Infinity to
                // Long.MaxValue where DuckDB errors — latent divergence).
                expr("cast(round((cents - prev) * 10000.0 / nullif(prev, 0)) as bigint)").as("growth_bp"))
        .orderBy(col("p"), col("m"))
    }),

    // Multi-granularity time rollup in ONE pass: hour/day/week aggregates
    // via GROUPING SETS over pre-projected bucket columns — one scan and
    // one (expanded) aggregation instead of three scans at 100 TB. The
    // grain column disambiguates rows; GROUPING() drives it (never "is the
    // column null" — a legitimately-null bucket would lie).
    "q_time_rollup_multi" -> ((s, d) => {
      Tables.events(s, d)
        .select(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("h"),
                date_trunc("day", col("ts")).cast("timestamp_ntz").as("dy"),
                date_trunc("week", col("ts")).cast("timestamp_ntz").as("wk"),
                col("value"))
        .createOrReplaceTempView("ev_grain_v")
      s.sql("""SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
              |            WHEN GROUPING(dy) = 0 THEN 'day'
              |            ELSE 'week' END AS grain,
              |  COALESCE(h, dy, wk) AS bucket,
              |  COUNT(*) AS n,
              |  SUM(CAST(ROUND(value * 100) AS BIGINT)) AS val_cents
              |FROM ev_grain_v
              |GROUP BY GROUPING SETS ((h), (dy), (wk))
              |ORDER BY grain, bucket""".stripMargin)
    }),

    // Top user-journey trigrams: consecutive event-type 3-step paths per
    // user (lead-window n-grams over the per-user ordered walk — ONE
    // user_id shuffle, same partitioning family as funnel/sessionize),
    // ranked globally. The "what do users do next" primitive of event
    // analytics. Ties broken lexicographically (D3).
    "q_uniq_paths" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("e2", lead(col("event_type"), 1).over(w))
        .withColumn("e3", lead(col("event_type"), 2).over(w))
        .where(col("e3").isNotNull)
        .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(10)
    }),

    // RFM segmentation: per-customer recency (days since last order),
    // frequency (order count), monetary (cents sum) → quartile codes over
    // tie-broken total orders (D3: o_custkey folded into every ordering).
    // Exact NTILE(4) needs each customer's position in three total orders;
    // instead of three global single-partition ntile windows, each
    // dimension rides DistRank's rank-by-histogram (bucketed shuffle +
    // tiny broadcast offset table) and the quartile comes from the
    // integer NTILE formula — the same exact semantics, but every
    // full-frame window is bucket-partitioned, so the formulation
    // survives billions of customers. Descending dimensions (freq, cents)
    // rank on the negated value with the same o_custkey tie-break.
    "q_rfm" -> ((s, d) => {
      val per = Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate").cast("date")).as("last_d"),
             count(lit(1)).as("freq"),
             Det.moneySum(col("o_totalprice")).as("cents"))
        .withColumn("rec_days", datediff(lit("1999-01-01").cast("date"), col("last_d")))
      // Bucket widths are domain-scaled: rec_days spans ~2500 days (÷64),
      // freq tens of orders (÷1), cents up to ~1e9 per customer (÷1e7).
      // Each dimension ranks the SAME flat `per` frame independently (a
      // nested fold would re-derive every prior level inside each
      // histogram lineage — measured 11 scans in the plan vs 3 quartile
      // joins here; the shared `per` exchange is reused across all).
      val ranked = Seq[(String, org.apache.spark.sql.Column, Long)](
        ("r", col("rec_days"), 64L),
        ("f", -col("freq"), 1L),
        ("m", -col("cents"), 10000000L))
        .map { case (dim, value, width) =>
          DistRank.withGlobalRank(per, value, col("o_custkey"), width,
                                  s"${dim}_rk", s"${dim}_n")
            .select(col("o_custkey"),
                    DistRank.ntileFromRank(s"${dim}_rk", s"${dim}_n", 4).as(dim))
        }
      val rfm = ranked.reduce(_.join(_, "o_custkey"))
        .join(per.select(col("o_custkey"), col("cents")), "o_custkey")
      rfm.groupBy(col("r"), col("f"), col("m"))
        .agg(count(lit(1)).as("n_cust"), sum(col("cents")).as("seg_cents"))
        .orderBy(col("r"), col("f"), col("m"))
    }),

    // Nearest-event as-of join (both directions — q_join_asof is backward
    // only): each purchase links to the temporally closest click by the
    // same user, ties to the earlier (backward) side. Scalable form: ONE
    // shuffle on user_id, two directional IGNORE-NULLS window walks over
    // the tagged union (never the per-pair cross join the oracle uses —
    // that is O(clicks × purchases) per user). Tie contract (D3): equal
    // distance → backward; equal ts among backward clicks → highest
    // event_id (last in walk order), among forward → lowest.
    "q_asof_nearest" -> ((s, d) => {
      val tagged = Tables.events(s, d)
        .where(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"),
                when(col("event_type") === "click", 0).otherwise(1).as("typ"))
      val ord = Seq(col("ts"), col("typ"), col("event_id"))
      val wB = Window.partitionBy(col("user_id")).orderBy(ord: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wF = Window.partitionBy(col("user_id")).orderBy(ord: _*)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val clickStruct = when(col("typ") === 0,
        struct(col("ts").as("t"), col("event_id").as("i")))
      tagged
        .withColumn("bwd", last(clickStruct, ignoreNulls = true).over(wB))
        .withColumn("fwd", first(clickStruct, ignoreNulls = true).over(wF))
        .where(col("typ") === 1)
        .withColumn("db", unix_micros(col("ts")) - unix_micros(col("bwd.t")))
        .withColumn("df", unix_micros(col("fwd.t")) - unix_micros(col("ts")))
        .withColumn("pick_b",
          col("bwd").isNotNull && (col("fwd").isNull || col("db") <= col("df")))
        .select(
          col("event_id").as("p_id"),
          when(col("pick_b"), col("bwd.i")).otherwise(col("fwd.i")).as("nearest_click"),
          when(col("pick_b"), col("db")).otherwise(col("df")).as("dist_us"),
          when(col("bwd").isNull && col("fwd").isNull, lit(null).cast("string"))
            .otherwise(when(col("pick_b"), "b").otherwise("f")).as("side"))
        .orderBy(col("p_id"))
    }),

    // Time-series densification + linear interpolation: the hourly series
    // per event_type gets explicit rows for silent hours (generated from
    // each type's own min/max hour — no calendar table needed) and missing
    // values linearly interpolated between the neighboring observed hours.
    // Neighbor discovery is two IGNORE-NULLS window walks over ONE
    // event_type shuffle; the interpolation itself is ROUND of a double
    // computed from exact integers (identical on both engines — integer
    // `div` is unusable here because Spark truncates while DuckDB floors,
    // which diverges on negative deltas). Edge hours with only one
    // neighbor clamp to it.
    // Kaplan–Meier survival over user lifetimes — the churn/retention
    // estimator (survival analysis joins the family beside cohort
    // retention's raw matrix). Lifetime = days between a user's first and
    // last event; users last seen within 7 days of the corpus end are
    // CENSORED (still alive — they leave the risk set without a churn
    // event, the right-censoring KM exists for). Output = the KM table at
    // churn days: d_t (churns), n_t (at risk = lifetime ≥ t), and
    // cumulative LOG-survival ln S(t) = Σ [ln(n−d) − ln(n)] in 1e-8
    // integer units — per-term rounding before the integer cumulative sum
    // (the q_domain_kl discipline; emitting log S avoids exp(), whose
    // libm rounding is not pinned cross-engine). Degenerate full-churn
    // days (n_t = d_t, ln 0) are excluded identically on both sides.
    // Scale: one user-level aggregation of the fact table; the KM table
    // itself is calendar-bounded (≤ observed lifetime days), so the two
    // global windows run over ~30 aggregate rows (the sanctioned
    // Exchange-SinglePartition-above-aggregate shape).
    "q_survival_km" -> ((s, d) => {
      val life = Tables.events(s, d).groupBy(col("user_id"))
        .agg(min(expr("unix_micros(ts)")).as("f"), max(expr("unix_micros(ts)")).as("l"))
      val g = life.agg(max(col("l")).as("gmax"))
      val lc = life.crossJoin(broadcast(g))
        .select(expr("(l - f) div 86400000000").as("t"),
                (col("l") < col("gmax") - lit(7L * 86400000000L)).as("churned"))
      val dd = lc.where(col("churned")).groupBy(col("t")).agg(count(lit(1)).as("d_t"))
      val hist = lc.groupBy(col("t")).agg(count(lit(1)).as("c_t"))
      val riskW = Window.orderBy(col("t").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val risk = hist.withColumn("n_t", sum(col("c_t")).over(riskW))
      val ev = risk.join(dd, "t").where(col("n_t") > col("d_t"))
        .withColumn("term_e8",
          round(lit(1e8) * (log(col("n_t") - col("d_t")) - log(col("n_t"))))
            .cast("bigint"))
      val cumW = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("log_s_e8", sum(col("term_e8")).over(cumW))
        .select(col("t"), col("d_t"), col("n_t"), col("log_s_e8"))
        .orderBy(col("t"))
    }),

    // Classical additive seasonal decomposition (STL-lite) of the daily
    // event-count series per type: trend = 7-day centered moving average,
    // seasonal = day-of-week mean of the detrended series, residual =
    // value − trend − seasonal. Determinism engineering: days ride as
    // epoch-day INTEGERS (no date dialect), the 7-day trend stays ×7
    // integer (t7), detrended values stay ×7 integer (7·cnt − t7), and the
    // two divisions (by 7; by 7·n_dow) are single IEEE ops on exact-integer
    // operands — half-up spelled FLOOR(x+0.5) because a dow mean CAN land
    // on an exact .5. resid_e4 = cnt·1e4 − trend_e4 − seas_e4 is then pure
    // integer arithmetic on already-pinned components. Scale: one day-level
    // aggregation of the fact table; everything after is calendar-bounded
    // (types × days), so the decomposition costs one groupBy no matter the
    // corpus size; the window is O(7) per row. Edge days without a full
    // 7-day window are excluded (centered MA is undefined there).
    "q_stl_decomp" -> ((s, d) => {
      // calendar-bounded (types × days) and referenced by spine + dense —
      // materialize once or the fact scan re-plans per branch (4 static
      // scans measured; round-10 shared-subplan rule)
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
                 expr("unix_micros(date_trunc('day', ts)) div 86400000000").as("dd"))
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint(true)
      val spine = daily.groupBy(col("event_type"))
        .agg(min(col("dd")).as("d0"), max(col("dd")).as("d1"))
        .select(col("event_type"), explode(expr("sequence(d0, d1)")).as("dd"))
      val dense = spine.join(daily, Seq("event_type", "dd"), "left")
        .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      val w = Window.partitionBy(col("event_type")).orderBy(col("dd"))
        .rowsBetween(-3, 3)
      val tr = dense
        .withColumn("t7", sum(col("cnt")).over(w))
        .withColumn("n7", count(lit(1)).over(w))
        .where(col("n7") === 7)
        .withColumn("detr7", col("cnt") * 7 - col("t7"))
        .withColumn("dow", col("dd") % 7)
      val seas = tr.groupBy(col("event_type"), col("dow"))
        .agg(sum(col("detr7")).as("sdetr"), count(lit(1)).as("ndow"))
        .select(col("event_type"), col("dow"),
          floor((col("sdetr") * 10000).cast("double")
              / (col("ndow") * 7).cast("double") + 0.5)
            .cast("bigint").as("seas_e4"))
      tr.join(seas, Seq("event_type", "dow"))
        .withColumn("trend_e4",
          floor((col("t7") * 10000).cast("double") / lit(7.0) + 0.5).cast("bigint"))
        .select(col("event_type"), col("dd").as("d"), col("cnt"),
                col("trend_e4"), col("seas_e4"),
                (col("cnt") * 10000 - col("trend_e4") - col("seas_e4")).as("resid_e4"))
        .orderBy(col("event_type"), col("d"))
    }),

    "q_win_gapfill" -> ((s, d) => {
      val hourly = Tables.events(s, d)
        .groupBy(col("event_type"),
                 expr("unix_micros(date_trunc('hour', ts)) div 3600000000").as("h"))
        .agg(Det.moneySum(col("value")).as("cents"))
      val spine = hourly.groupBy(col("event_type"))
        .agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(col("event_type"), explode(expr("sequence(h0, h1)")).as("h"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val joined = spine.join(hourly, Seq("event_type", "h"), "left")
        .withColumn("pv", last(col("cents"), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("ph", last(when(col("cents").isNotNull, col("h")), ignoreNulls = true)
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("nv", first(col("cents"), ignoreNulls = true)
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
        .withColumn("nh", first(when(col("cents").isNotNull, col("h")), ignoreNulls = true)
          .over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      joined.select(
        col("event_type"), col("h"),
        coalesce(
          col("cents"),
          expr("cast(round(pv + (nv - pv) * cast(h - ph as double) / (nh - ph)) as bigint)"),
          col("pv"), col("nv")).as("cents_filled"),
        col("cents").isNull.as("is_interp"))
        .orderBy(col("event_type"), col("h"))
    }),

    // Weekly cohort retention: cohort = ISO week of a user's first activity;
    // cell (cohort, k) counts users active again k weeks later. Two hash
    // aggregations and a join, all clustered on user_id before the final
    // small (cohort, k) roll-up — the shape that holds when users × weeks
    // is billions of rows.
    "q_cohort_retention" -> ((s, d) => {
      val act = Tables.events(s, d)
        .select(col("user_id"), date_trunc("week", col("ts")).cast("date").as("w"))
        .distinct()
      val cohort = act.groupBy(col("user_id")).agg(min(col("w")).as("cw"))
      act.join(cohort, "user_id")
        .groupBy(col("cw"), expr("datediff(w, cw) div 7").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .select(col("cw").cast("string").as("cohort_week"),
                col("week_offset").cast("int").as("week_offset"), col("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    }),

    // Time-weighted average per user: each reading holds until the next
    // one, so its weight is the segment duration (sensor/price telemetry
    // semantics, where plain AVG over-counts bursts). One lead() window on
    // the user_id shuffle — the sessionize/funnel partitioning family — then
    // a partial→final integer aggregation. Determinism: value rides as
    // exact cents, duration as exact epoch-ms (D2), and the average is ONE
    // integer floor division of two exact sums (both positive — the
    // Spark-div-vs-DuckDB-// sign divergence can't bite).
    "q_time_weighted" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("next_us", lead(unix_micros(col("ts")), 1).over(w))
        .where(col("next_us").isNotNull)
        .withColumn("dur_ms", expr("(next_us - unix_micros(ts)) div 1000"))
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_seg"),
             sum(Det.cents(col("value")) * col("dur_ms")).as("wsum"),
             sum(col("dur_ms")).as("dsum"))
        .where(col("dsum") > 0)
        .select(col("user_id"), col("n_seg"),
                expr("wsum div dsum").as("twa_cents"))
        .orderBy(col("user_id"))
    }),

    // Integer EWMA (α = 1/2, truncated at 8 taps) over each user's most
    // recent events: weight 2^(8-rank) over denominator 255, so the whole
    // smoother is exact long arithmetic — both engines walk the identical
    // value, unlike a float pow(0.5, k) recurrence whose accumulation
    // order differs. Rides the same single user_id window shuffle; the
    // rank ≤ 8 cap bounds per-user state regardless of history length
    // (at 100 TB the tail of a user's history is pruned by the rank
    // filter right after the window, never carried into the aggregate).
    "q_ewma" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").desc, col("event_id").desc)
      Tables.events(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 8)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_used"),
             sum(Det.cents(col("value")) * expr("shiftleft(1L, 8 - rn)")).as("wsum"),
             sum(expr("shiftleft(1L, 8 - rn)")).as("den"))
        .select(col("user_id"), col("n_used"),
                expr("wsum div den").as("ewma_cents"))
        .orderBy(col("user_id"))
    }),

    // Two-proportion A/B test (experimentation readout): traffic split into
    // deterministic arms by user_id parity; the tested proportion is
    // purchase events over all events per arm (a user-level "≥1 purchase"
    // conversion saturates to p=1 at these densities — 67 events/user —
    // and zeroes the pooled variance). The z statistic derives from four
    // EXACT integer counts through the identical pooled-variance double
    // formula on both engines (ROUND 1e6 — the q_agg_regr discipline);
    // NULLIF returns NULL rather than an ANSI divide-by-zero if a future
    // dataset saturates anyway. One map-side-combinable count aggregation
    // on a 2-value key, then a 2-row pivot — nothing else shuffles at any
    // scale.
    "q_abtest" -> ((s, d) => {
      Tables.events(s, d)
        .groupBy(expr("pmod(user_id, 2)").as("arm"))
        .agg(count(lit(1)).as("n"),
             sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"))
        .createOrReplaceTempView("ab_v")
      s.sql("""SELECT n0, x0, n1, x1,
              |  CAST(ROUND(1e6 * (CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1) /
              |    NULLIF(SQRT((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
              |      * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
              |      * (1.0 / n0 + 1.0 / n1)), 0.0)) AS BIGINT) AS z_e6
              |FROM (SELECT
              |  MAX(CASE WHEN arm = 0 THEN n END) AS n0,
              |  MAX(CASE WHEN arm = 0 THEN x END) AS x0,
              |  MAX(CASE WHEN arm = 1 THEN n END) AS n1,
              |  MAX(CASE WHEN arm = 1 THEN x END) AS x1
              |FROM ab_v) t""".stripMargin)
    }),

    // Hour-of-day seasonality profile per event type: count per (type,
    // hour) plus the deviation from the type's uniform rate in 1e-4 units
    // (dev = n·24/total − 1). Two hash aggregations, the per-type totals
    // broadcast back — integer-only, scale-free.
    "q_seasonality" -> ((s, d) => {
      val cnt = Tables.events(s, d)
        .select(col("event_type"), hour(col("ts")).as("hr"))
        .groupBy(col("event_type"), col("hr")).agg(count(lit(1)).as("n"))
      val tot = cnt.groupBy(col("event_type")).agg(sum(col("n")).as("tot"))
      cnt.join(broadcast(tot), "event_type")
        .withColumn("dev_e4", expr("n * 24 * 10000 div tot - 10000"))
        .select(col("event_type"), col("hr"), col("n"), col("dev_e4"))
        .orderBy(col("event_type"), col("hr"))
    }),

    // Population stability index (the drift monitor between a reference and
    // a current window — "did the value distribution shift?"): events split
    // into time halves at the midpoint of the observed span, values binned
    // into 11 fixed-edge buckets (width 10, overflow ≥100), PSI =
    // Σ (pᵃ−pᵇ)·ln(pᵃ/pᵇ) with Laplace (+1) smoothing so empty bins
    // contribute identically on both engines. Each bin's contribution is
    // one fixed double expression over exact integer counts, rounded to
    // 1e-8 before the integer sum (the q_domain_kl accumulation
    // discipline). The bin grid is generated (types × 11), so the window
    // comparison never depends on which bins happen to be occupied. Two
    // count aggregations + broadcast joins; bins are fixed-edge, so at
    // 100 TB this is one pass per window over a map-side-combinable key.
    "q_psi_drift" -> ((s, d) => {
      val e = Tables.events(s, d)
        .select(col("event_type"), col("value"), unix_micros(col("ts")).as("us"))
      val rng = e.agg(min(col("us")).as("mn"), max(col("us")).as("mx"))
      val binned = e.crossJoin(broadcast(rng))
        .withColumn("half",
          when(col("us") * 2 < col("mn") + col("mx"), lit("a")).otherwise(lit("b")))
        .withColumn("bin", least(floor(col("value") / 10).cast("int"), lit(10)) + 1)
      // round-10 localCheckpoint: cnt (≤ types×2×11 rows) is read three
      // times — without it each read re-scans the fact table
      val cnt = binned.groupBy(col("event_type"), col("half"), col("bin"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint(true)
      val grid = cnt.select(col("event_type")).distinct()
        .crossJoin(s.range(1, 12).select(col("id").cast("int").as("bin")))
      val ca = cnt.where(col("half") === "a")
        .select(col("event_type"), col("bin"), col("c").as("c_a"))
      val cb = cnt.where(col("half") === "b")
        .select(col("event_type"), col("bin"), col("c").as("c_b"))
      val j = grid.join(ca, Seq("event_type", "bin"), "left")
        .join(cb, Seq("event_type", "bin"), "left")
        .select(col("event_type"), col("bin"),
                coalesce(col("c_a"), lit(0L)).as("c_a"),
                coalesce(col("c_b"), lit(0L)).as("c_b"))
      val tots = j.groupBy(col("event_type"))
        .agg(sum(col("c_a")).as("na"), sum(col("c_b")).as("nb"))
      j.join(broadcast(tots), "event_type")
        .withColumn("contrib_e8", expr(
          """cast(round(1e8 *
            |  ((cast(c_a + 1 as double) / (na + 11)) - (cast(c_b + 1 as double) / (nb + 11)))
            |  * ln((cast(c_a + 1 as double) / (na + 11))
            |       / (cast(c_b + 1 as double) / (nb + 11)))) as bigint)""".stripMargin))
        .groupBy(col("event_type"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
             sum(col("contrib_e8")).as("psi_e8"))
        .orderBy(col("event_type"))
    }),

    // Autocorrelation function: Pearson r of each type's daily event-count
    // series against itself at lags 1–3 — the seasonality detector behind
    // q_seasonality's fixed hourly profile (a high ACF at lag 7 says
    // "weekly cycle" without assuming one). Shapes: the corpus collapses
    // to a (type, day) aggregate FIRST (map-side combinable, the only
    // corpus-sized pass); the lag windows and the moment aggregation run
    // over that day-grain table, whose size is bounded by the calendar,
    // not the corpus. One stack() pairs all three lags from one window
    // pass. Determinism: counts are exact longs, all five moments sum as
    // integers, and the final r evaluates ONE shared double expression
    // (ROUND 1e6, NULLIF zero-variance guard) — the q_corr_matrix recipe
    // on a self-lagged series.
    "q_acf" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
                 date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .select(col("event_type"), col("c"),
                lag(col("c"), 1).over(w).as("l1"),
                lag(col("c"), 2).over(w).as("l2"),
                lag(col("c"), 3).over(w).as("l3"))
        .select(col("event_type"), col("c").as("x"),
                expr("stack(3, 1, l1, 2, l2, 3, l3) as (lag_k, y)"))
        .where(col("y").isNotNull)
        .groupBy(col("event_type"), col("lag_k"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
             sum(col("x") * col("y")).as("sxy"),
             sum(col("x") * col("x")).as("sxx"),
             sum(col("y") * col("y")).as("syy"))
        .select(col("event_type"), col("lag_k"), col("n").as("n_pairs"),
          expr("""cast(round(1e6 * (n * sxy - sx * sy) /
                |  nullif(sqrt(cast(n * sxx - sx * sx as double))
                |    * sqrt(cast(n * syy - sy * sy as double)), 0.0)) as bigint)"""
            .stripMargin).as("acf_e6"))
        .orderBy(col("event_type"), col("lag_k"))
    }),

    // CUSUM changepoint detection: for each type's daily spend series, the
    // day t maximizing |Σ_{i≤t}(x_i − x̄)| — the classic single-changepoint
    // locator. Everything stays integer: n·prefix_t − t·total is the
    // cumulative deviation scaled by n (same argmax, no division), so both
    // engines agree bit-for-bit and ties break to the earliest day via the
    // rank window. Shapes: corpus → (type, day) cents aggregate (the only
    // data-sized pass), prefix + rank windows over the calendar-bounded
    // day table, totals via a broadcast per-type aggregate.
    "q_cusum" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
                 date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(Det.moneySum(col("value")).as("x"))
      val tot = daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("total"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val dev = daily.join(broadcast(tot), "event_type")
        .withColumn("t", row_number().over(w))
        .withColumn("pre", sum(col("x")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("s_abs", abs(col("n") * col("pre") - col("t") * col("total")))
      val wR = Window.partitionBy(col("event_type"))
        .orderBy(col("s_abs").desc, col("day"))
      dev.withColumn("rk", row_number().over(wR)).where(col("rk") === 1)
        .select(col("event_type"), col("n").as("n_days"),
                // timestamp_ntz, not DATE: raw DATE columns hit the pandas
                // object-vs-datetime64 comparator drift (check.py warns)
                col("day").cast("timestamp_ntz").as("cp_day"),
                col("s_abs").as("s_max"))
        .orderBy(col("event_type"))
    }),

    // Theil–Sen robust trend: the median of all pairwise day-to-day slopes
    // of the daily spend series — 29% breakdown point vs OLS's zero (one
    // corrupted day can drag q_agg_regr's slope arbitrarily; not this
    // one's). The pair expansion runs over the (type, day) AGGREGATE —
    // days² is calendar-bounded, corpus-independent — never the raw
    // events. Slopes are single divisions of exact longs (epoch-day
    // denominators handle gaps); the median is value-at-rank ⌈n/2⌉ with a
    // (slope, i, j) total order, then ONE round at 1e4 — no double
    // accumulation anywhere.
    "q_theil_sen" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"),
                 datediff(date_trunc("day", col("ts")).cast("date"),
                          lit("1970-01-01").cast("date")).as("t"))
        .agg(Det.moneySum(col("value")).as("x"))
      val a = daily.select(col("event_type"), col("t").as("ti"), col("x").as("xi"))
      val b = daily.select(col("event_type"), col("t").as("tj"), col("x").as("xj"))
      val slopes = a.join(b, Seq("event_type")).where(col("ti") < col("tj"))
        .select(col("event_type"), col("ti"), col("tj"),
          ((col("xj") - col("xi")).cast("double") / (col("tj") - col("ti"))).as("sl"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("sl"), col("ti"), col("tj"))
      val wAll = Window.partitionBy(col("event_type"))
      slopes.withColumn("r", row_number().over(w))
        .withColumn("np", count(lit(1)).over(wAll))
        .where(col("r") === expr("(np + 1) div 2"))
        .select(col("event_type"), col("np").as("n_pairs"),
                expr("cast(round(1e4 * sl) as bigint)").as("slope_e4"))
        .orderBy(col("event_type"))
    }),

    // As-of join WITH TOLERANCE: each purchase takes the latest click ≤ 2 h
    // before it, else null — the form production feature-stores actually
    // run, because unbounded as-of state ("the last click EVER") never
    // ages out, while a tolerance bound is exactly what makes streaming
    // state and interval-bucketed batch plans finite. Formulated as the
    // bounded interval join (the IntervalJoinBucketing rewrite family —
    // same shape the optimizer rule auto-buckets) + rank-1 per purchase +
    // a left join to keep no-click purchases. Duplicate click timestamps
    // pre-merge per (user, ts) like q_join_asof so the pick is total (D3).
    "q_join_asof_tol" -> ((s, d) => {
      val e = Tables.events(s, d)
      val clicks = e.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("click_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"), col("event_id").as("p_id"))
      val w = Window.partitionBy(col("p_id"))
        .orderBy(col("ts").desc, col("click_id").desc)
      val best = purchases.join(clicks, Seq("user_id"))
        .where(col("ts") <= col("pts") &&
               col("ts") > col("pts") - expr("INTERVAL 2 HOURS"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("p_id"), col("click_id"))
      purchases.join(best, Seq("p_id"), "left")
        .select(col("p_id"), col("click_id"))
        .orderBy(col("p_id"))
    }),

    // Time-to-convert distribution: for every view with a purchase inside
    // the next hour (q_window_funnel's first stage — bounded interval join
    // collapsed by min-agg), the exact p50/p90 of the conversion delay in
    // seconds. The latency-percentile readout beside q_funnel's count
    // readout. Global value-at-rank rides DistRank (no single-partition
    // sort of the pair table); delays are exact integer seconds.
    "q_funnel_ttc" -> ((s, d) => {
      val e = Tables.events(s, d)
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("vts"), col("event_id").as("v_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"))
      val pairs = views.join(purchases, Seq("user_id"))
        .where(col("pts") > col("vts") &&
               col("pts") <= col("vts") + expr("INTERVAL 1 HOUR"))
        .groupBy(col("v_id"))
        .agg(min(col("pts")).as("first_p"), max(col("vts")).as("vts"))
        .select(col("v_id"),
          expr("(unix_micros(first_p) - unix_micros(vts)) div 1000000").as("delta_s"))
      val ranked = DistRank.withGlobalRank(pairs, col("delta_s"), col("v_id"),
        60L, "gr_r2", "gr_n2")
      ranked
        .agg(max(col("gr_n2")).as("n_pairs"),
             max(when(col("gr_r2") === expr("(gr_n2 + 1) div 2"), col("delta_s")))
               .as("p50_s"),
             max(when(col("gr_r2") === expr("(9 * gr_n2 + 9) div 10"), col("delta_s")))
               .as("p90_s"))
    }),
  )

  override def oracles: Map[String, String] = Map(
    "q_tumble_batch" ->
      """SELECT DATE_TRUNC('hour', ts) AS hstart, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS val_cents
        |FROM events
        |GROUP BY DATE_TRUNC('hour', ts), event_type
        |ORDER BY hstart, event_type""".stripMargin,

    "q_slide_batch" ->
      """SELECT wstart, COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS val_cents
        |FROM (SELECT TIME_BUCKET(INTERVAL 15 MINUTE, ts)
        |             - (k * INTERVAL 15 MINUTE) AS wstart, value
        |      FROM events
        |      CROSS JOIN (SELECT UNNEST([0,1,2,3]) AS k) ks) t
        |GROUP BY wstart
        |ORDER BY wstart""".stripMargin,

    "q_backtest_snaive" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
        |         COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT MAX(day) AS mx FROM daily),
        |t AS (
        |  SELECT d.event_type, d.day, d.n, s.n AS f_sn, v.n AS f_nv
        |  FROM daily d
        |  JOIN daily s ON s.event_type = d.event_type
        |               AND s.day = d.day - INTERVAL 7 DAY
        |  JOIN daily v ON v.event_type = d.event_type
        |               AND v.day = d.day - INTERVAL 1 DAY
        |  WHERE (SELECT mx FROM mx) - d.day < 7)
        |SELECT event_type, COUNT(*) AS n_days,
        |  CAST(SUM(ABS(n - f_sn)) * 100 // COUNT(*) AS BIGINT) AS mae_snaive_e2,
        |  CAST(SUM(ABS(n - f_nv)) * 100 // COUNT(*) AS BIGINT) AS mae_naive_e2,
        |  SUM(ABS(n - f_sn)) * 100 // COUNT(*)
        |    < SUM(ABS(n - f_nv)) * 100 // COUNT(*) AS snaive_wins
        |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_markov_transitions" ->
      """WITH seq AS (
        |  SELECT event_type AS cur,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY EPOCH_US(ts), event_id) AS nxt
        |  FROM events),
        |pairs AS (
        |  SELECT cur, nxt, COUNT(*) AS n FROM seq
        |  WHERE nxt IS NOT NULL GROUP BY cur, nxt),
        |tot AS (SELECT cur, CAST(SUM(n) AS BIGINT) AS total FROM pairs GROUP BY cur)
        |SELECT pairs.cur, pairs.nxt, pairs.n,
        |  pairs.n * 10000 // tot.total AS p_e4
        |FROM pairs JOIN tot ON pairs.cur = tot.cur
        |ORDER BY pairs.cur, pairs.nxt""".stripMargin,

    "q_seq_pattern" ->
      """WITH g AS (
        |  SELECT user_id, event_id, EPOCH_US(ts) AS us,
        |    SUBSTR(event_type, 1, 1) AS ini,
        |    CASE WHEN LAG(EPOCH_US(ts)) OVER w IS NULL
        |           OR EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY EPOCH_US(ts), event_id)),
        |sg AS (
        |  SELECT user_id, event_id, us, ini,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
        |  FROM g),
        |p AS (
        |  SELECT user_id, sess,
        |    STRING_AGG(ini, '' ORDER BY us, event_id) AS path
        |  FROM sg GROUP BY user_id, sess)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(CASE WHEN REGEXP_MATCHES(path, 'vc+p') THEN 1 ELSE 0 END) AS BIGINT) AS n_match
        |FROM p GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_interval_merge" ->
      """WITH iv AS (
        |  SELECT user_id, event_id, EPOCH_US(ts) AS st,
        |         EPOCH_US(ts) + 1800000000 AS en
        |  FROM events),
        |mk AS (
        |  SELECT user_id, event_id, st, en,
        |    CASE WHEN MAX(en) OVER wp IS NULL OR st > MAX(en) OVER wp
        |         THEN 1 ELSE 0 END AS brk
        |  FROM iv
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY st, event_id
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |isl AS (
        |  SELECT user_id, st, en,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY st, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        |  FROM mk),
        |agg AS (
        |  SELECT user_id, isl, MIN(st) AS s0, MAX(en) AS e1
        |  FROM isl GROUP BY user_id, isl)
        |SELECT user_id, COUNT(*) AS n_islands,
        |  CAST(SUM(e1 - s0) // 1000000 AS BIGINT) AS covered_sec
        |FROM agg GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_session_batch" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, EPOCH_US(ts) AS us,
        |    CASE WHEN LAG(EPOCH_US(ts)) OVER w IS NULL
        |           OR EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w > 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), s AS (
        |  SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
        |  FROM g
        |)
        |SELECT user_id, sess, COUNT(*) AS n_events,
        |  MAX(us) - MIN(us) AS len_us, MIN(event_id) AS first_event
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, sess""".stripMargin,

    "q_session_native" ->
      """WITH e AS (SELECT user_id, DATE_TRUNC('microseconds', ts) AS ts FROM events),
        |g AS (
        |  SELECT user_id, ts,
        |    CASE WHEN LAG(EPOCH_US(ts)) OVER w IS NULL
        |           OR EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), s AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM g
        |)
        |SELECT user_id, MIN(ts) AS sess_start, COUNT(*) AS n_events
        |FROM s GROUP BY user_id, sess
        |ORDER BY user_id, sess_start""".stripMargin,

    "q_join_range" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |ORDER BY id_a, id_b""".stripMargin,

    // Same oracle as q_join_range: the optimizer rewrite is execution-side
    // only, so any row it adds or drops is a correctness bug.
    "q_join_range_auto" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |ORDER BY id_a, id_b""".stripMargin,

    // Same oracle as q_join_range: the bucketing is a pure execution-side
    // rewrite, so any row it adds or drops is a correctness bug.
    "q_join_range_bucketed" ->
      """SELECT a.event_id AS id_a, b.event_id AS id_b
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
        |ORDER BY id_a, id_b""".stripMargin,

    "q_join_asof" ->
      """WITH cl AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        |), p AS (
        |  SELECT user_id, ts, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.p_id, cl.click_id
        |FROM p ASOF LEFT JOIN cl
        |  ON p.user_id = cl.user_id AND p.ts >= cl.ts
        |ORDER BY p.p_id""".stripMargin,

    // Same oracle as q_join_asof: the native merge operator is an
    // execution-side replacement, so any divergence is a correctness bug.
    "q_join_asof_native" ->
      """WITH cl AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        |), p AS (
        |  SELECT user_id, ts, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.p_id, cl.click_id
        |FROM p ASOF LEFT JOIN cl
        |  ON p.user_id = cl.user_id AND p.ts >= cl.ts
        |ORDER BY p.p_id""".stripMargin,

    // Naive overlap join — the bucketed candidates + DISTINCT on the Spark
    // side must reproduce exactly the closed-interval overlap pairs.
    "q_join_interval_overlap" ->
      """WITH v AS (
        |  SELECT event_id AS id_v, user_id, ts AS s, ts + INTERVAL 5 MINUTE AS e
        |  FROM events WHERE event_type = 'view'),
        |p AS (
        |  SELECT event_id AS id_p, user_id, ts - INTERVAL 10 MINUTE AS s, ts AS e
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.id_v, p.id_p
        |FROM v JOIN p ON v.user_id = p.user_id AND v.s <= p.e AND p.s <= v.e
        |ORDER BY id_v, id_p""".stripMargin,

    // `//` and `%` agree with Spark div/% here (credits are non-negative);
    // last-touch remainder keeps per-purchase credit exactly = cents.
    "q_conv_attr" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id AS uid, ts AS p_ts,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS c_id, user_id AS cuid, ts AS c_ts,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 AS channel
        |  FROM events WHERE event_type = 'click'),
        |t AS (
        |  SELECT p.p_id, p.cents, c.c_id, c.c_ts, c.channel
        |  FROM p JOIN c ON p.uid = c.cuid AND c.c_ts <= p.p_ts
        |                AND c.c_ts > p.p_ts - INTERVAL 30 MINUTE),
        |cr AS (
        |  SELECT channel, p_id,
        |         cents // n + CASE WHEN rn = 1 THEN cents % n ELSE 0 END AS credit
        |  FROM (SELECT *, COUNT(*) OVER (PARTITION BY p_id) AS n,
        |               ROW_NUMBER() OVER (PARTITION BY p_id
        |                                  ORDER BY c_ts DESC, c_id DESC) AS rn
        |        FROM t)),
        |direct AS (
        |  SELECT CAST(-1 AS BIGINT) AS channel, p_id, cents AS credit FROM p
        |  WHERE p_id NOT IN (SELECT p_id FROM t)),
        |u AS (SELECT * FROM cr UNION ALL SELECT * FROM direct)
        |SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_touches,
        |       CAST(SUM(credit) AS BIGINT) AS credit_cents
        |FROM u GROUP BY channel ORDER BY channel""".stripMargin,

    // DuckDB's forward ASOF (p.ts <= cl.ts picks the smallest cl.ts ≥ p.ts)
    // pins the negated-key reuse of the custom merge operator.
    "q_join_asof_fwd" ->
      """WITH cl AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
        |), p AS (
        |  SELECT user_id, ts, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.p_id, cl.click_id
        |FROM p ASOF LEFT JOIN cl
        |  ON p.user_id = cl.user_id AND p.ts <= cl.ts
        |ORDER BY p.p_id""".stripMargin,

    "q_window_funnel" ->
      """WITH v AS (
        |  SELECT user_id AS u, event_id AS vid, ts AS vts
        |  FROM events WHERE event_type = 'view'),
        |c AS (SELECT user_id AS cu, ts AS cts FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS pu, ts AS pts FROM events WHERE event_type = 'purchase'),
        |vc AS (
        |  SELECT v.u, v.vid, v.vts, MIN(c.cts) AS c1
        |  FROM v LEFT JOIN c ON v.u = c.cu AND c.cts > v.vts
        |                     AND c.cts <= v.vts + INTERVAL 1 HOUR
        |  GROUP BY v.u, v.vid, v.vts),
        |dp AS (
        |  SELECT vc.u,
        |         1 + CASE WHEN vc.c1 IS NOT NULL THEN 1 ELSE 0 END
        |           + MAX(CASE WHEN p.pts IS NOT NULL THEN 1 ELSE 0 END) AS dp
        |  FROM vc LEFT JOIN p ON vc.u = p.pu AND p.pts > vc.c1
        |                      AND p.pts <= vc.vts + INTERVAL 1 HOUR
        |  GROUP BY vc.u, vc.vid, vc.c1),
        |du AS (SELECT u, MAX(dp) AS depth FROM dp GROUP BY u)
        |SELECT CAST(depth AS INTEGER) AS depth, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM du GROUP BY depth ORDER BY depth""".stripMargin,

    "q_m4_downsample" ->
      """WITH ev AS (
        |  SELECT event_type AS et, epoch_us(ts) AS us,
        |         CAST(ROUND(value * 100) AS BIGINT) AS cents, event_id
        |  FROM events),
        |bounds AS (SELECT MIN(us) AS t0, MAX(us) AS t1 FROM ev),
        |bk AS (
        |  SELECT et, us, cents, event_id,
        |         LEAST(63, (us - t0) * 64 // (t1 - t0 + 1)) AS b
        |  FROM ev, bounds),
        |rk AS (
        |  SELECT et, b, cents,
        |         ROW_NUMBER() OVER (PARTITION BY et, b ORDER BY us, event_id) AS ra,
        |         ROW_NUMBER() OVER (PARTITION BY et, b ORDER BY us DESC, event_id DESC) AS rd
        |  FROM bk)
        |SELECT et, b, CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(cents) AS lo, MAX(cents) AS hi,
        |       MAX(CASE WHEN ra = 1 THEN cents END) AS first_c,
        |       MAX(CASE WHEN rd = 1 THEN cents END) AS last_c
        |FROM rk GROUP BY et, b ORDER BY et, b""".stripMargin,

    "q_calendar_fill" ->
      """WITH RECURSIVE m(k) AS (
        |  SELECT 1 UNION ALL SELECT k + 1 FROM m WHERE k < 12),
        |agg AS (
        |  SELECT CAST(month(o_orderdate) AS INTEGER) AS k, COUNT(*) AS n_orders,
        |         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM orders
        |  WHERE year(o_orderdate) = 1995
        |  GROUP BY month(o_orderdate))
        |SELECT m.k AS month, COALESCE(agg.n_orders, 0) AS n_orders,
        |       COALESCE(agg.rev_cents, 0) AS rev_cents
        |FROM m LEFT JOIN agg ON m.k = agg.k
        |ORDER BY month""".stripMargin,

    // Stage-k timestamps chain on the stage-(k-1) result, so the oracle
    // builds them as successive joined MIN aggregations (strictly-after
    // filter mirrors the Spark `ts > t_prev` window condition; a NULL
    // previous stage excludes the user from later stages on both sides).
    "q_funnel" ->
      """WITH a AS (
        |  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t0
        |  FROM events GROUP BY user_id),
        |b AS (
        |  SELECT e.user_id, MIN(e.ts) AS t1
        |  FROM events e JOIN a ON e.user_id = a.user_id
        |  WHERE e.event_type = 'click' AND a.t0 IS NOT NULL AND e.ts > a.t0
        |  GROUP BY e.user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2
        |  FROM events e JOIN b ON e.user_id = b.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > b.t1
        |  GROUP BY e.user_id)
        |SELECT
        |  (SELECT COUNT(*) FROM a WHERE t0 IS NOT NULL) AS n_view,
        |  (SELECT COUNT(*) FROM b) AS n_click,
        |  (SELECT COUNT(*) FROM c) AS n_purchase,
        |  (SELECT CAST(SUM(EPOCH_US(b.t1) - EPOCH_US(a.t0)) AS BIGINT)
        |   FROM b JOIN a ON b.user_id = a.user_id) AS view_click_us,
        |  (SELECT CAST(SUM(EPOCH_US(c.t2) - EPOCH_US(b.t1)) AS BIGINT)
        |   FROM c JOIN b ON c.user_id = b.user_id) AS click_purchase_us""".stripMargin,

    "q_mom_growth" ->
      """WITH monthly AS (
        |  SELECT o_orderpriority AS p, DATE_TRUNC('month', o_orderdate) AS m,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1, 2)
        |SELECT p, m, cents,
        |  CAST(ROUND((cents - LAG(cents, 1) OVER (PARTITION BY p ORDER BY m)) * 10000.0
        |       / NULLIF(LAG(cents, 1) OVER (PARTITION BY p ORDER BY m), 0)) AS BIGINT) AS growth_bp
        |FROM monthly ORDER BY p, m""".stripMargin,

    // DuckDB GROUPING SETS ≡ Spark's; grain string keys the row. The week
    // bucket must survive COALESCE ordering (h, dy, wk nulls per set).
    "q_time_rollup_multi" ->
      """WITH g AS (
        |  SELECT DATE_TRUNC('hour', ts) AS h, DATE_TRUNC('day', ts) AS dy,
        |         DATE_TRUNC('week', ts) AS wk, value
        |  FROM events)
        |SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
        |            WHEN GROUPING(dy) = 0 THEN 'day'
        |            ELSE 'week' END AS grain,
        |  COALESCE(h, dy, wk) AS bucket,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS val_cents
        |FROM g
        |GROUP BY GROUPING SETS ((h), (dy), (wk))
        |ORDER BY grain, bucket""".stripMargin,

    "q_uniq_paths" ->
      """WITH s AS (
        |  SELECT user_id, event_type,
        |    LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
        |    LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
        |  FROM events)
        |SELECT event_type || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
        |FROM s WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,

    "q_rfm" ->
      """WITH per AS (
        |  SELECT o_custkey, MAX(CAST(o_orderdate AS DATE)) AS last_d, COUNT(*) AS freq,
        |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |t AS (
        |  SELECT cents,
        |    NTILE(4) OVER (ORDER BY DATEDIFF('day', last_d, DATE '1999-01-01'), o_custkey) AS r,
        |    NTILE(4) OVER (ORDER BY freq DESC, o_custkey) AS f,
        |    NTILE(4) OVER (ORDER BY cents DESC, o_custkey) AS m
        |  FROM per)
        |SELECT CAST(r AS INTEGER) AS r, CAST(f AS INTEGER) AS f, CAST(m AS INTEGER) AS m,
        |  COUNT(*) AS n_cust, CAST(SUM(cents) AS BIGINT) AS seg_cents
        |FROM t GROUP BY r, f, m ORDER BY r, f, m""".stripMargin,

    // Brute-force per-user pair ranking — O(clicks × purchases) per user is
    // fine as an oracle, never as the engine formulation.
    "q_asof_nearest" ->
      """WITH p AS (SELECT user_id, ts AS tp, event_id AS pid
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT user_id AS uc, ts AS tc, event_id AS cid
        |      FROM events WHERE event_type = 'click'),
        |r AS (SELECT p.pid, c.cid,
        |        CAST(ABS(EPOCH_US(c.tc) - EPOCH_US(p.tp)) AS BIGINT) AS dist_us,
        |        CASE WHEN c.tc <= p.tp THEN 'b' ELSE 'f' END AS side,
        |        ROW_NUMBER() OVER (PARTITION BY p.pid ORDER BY
        |          ABS(EPOCH_US(c.tc) - EPOCH_US(p.tp)),
        |          CASE WHEN c.tc <= p.tp THEN 0 ELSE 1 END,
        |          CASE WHEN c.tc <= p.tp THEN -c.cid ELSE c.cid END) AS rn
        |      FROM p JOIN c ON p.user_id = c.uc)
        |SELECT p.pid AS p_id, r.cid AS nearest_click, r.dist_us, r.side
        |FROM p LEFT JOIN (SELECT * FROM r WHERE rn = 1) r ON p.pid = r.pid
        |ORDER BY p_id""".stripMargin,

    // variable-length interval merge: running max end, half-open break
    "q_session_dynamic" ->
      """WITH e AS (
        |  SELECT user_id, EPOCH_US(ts) AS s,
        |    EPOCH_US(ts) + CASE WHEN event_type = 'purchase'
        |                        THEN 3600000000 ELSE 1800000000 END AS en
        |  FROM events),
        |m AS (
        |  SELECT user_id, s, en,
        |    MAX(en) OVER (PARTITION BY user_id ORDER BY s, en
        |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM e),
        |g AS (
        |  SELECT user_id, s, en,
        |    CASE WHEN pmax IS NULL OR s >= pmax THEN 1 ELSE 0 END AS brk
        |  FROM m),
        |isl AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY s, en
        |            ROWS UNBOUNDED PRECEDING) AS island
        |  FROM g)
        |SELECT user_id,
        |  MAKE_TIMESTAMP(MIN(s)) AS sess_start,
        |  MAKE_TIMESTAMP(MAX(en)) AS sess_end,
        |  COUNT(*) AS n_events
        |FROM isl GROUP BY user_id, island
        |ORDER BY user_id, sess_start""".stripMargin,

    // identical lifetimes, censoring cutoff, risk sets, and 1e-8 log terms
    "q_survival_km" ->
      """WITH life AS (
        |  SELECT user_id, MIN(EPOCH_US(ts)) AS f, MAX(EPOCH_US(ts)) AS l
        |  FROM events GROUP BY user_id),
        |g AS (SELECT MAX(l) AS gmax FROM life),
        |lc AS (SELECT (l - f) // 86400000000 AS t,
        |              (l < gmax - 604800000000) AS churned
        |       FROM life, g),
        |d AS (SELECT t, COUNT(*) AS d_t FROM lc WHERE churned GROUP BY t),
        |hist AS (SELECT t, COUNT(*) AS c_t FROM lc GROUP BY t),
        |risk AS (SELECT t, CAST(SUM(c_t) OVER (ORDER BY t DESC
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_t FROM hist),
        |ev AS (SELECT risk.t, d.d_t, risk.n_t,
        |    CAST(ROUND(1e8 * (LN(n_t - d_t) - LN(n_t))) AS BIGINT) AS term_e8
        |  FROM risk JOIN d ON risk.t = d.t WHERE n_t > d_t)
        |SELECT t, d_t, n_t,
        |  CAST(SUM(term_e8) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT) AS log_s_e8
        |FROM ev ORDER BY t""".stripMargin,

    // identical trajectory: epoch-day integers, ×7 integer trend, one
    // FLOOR(x+0.5) division per component, integer residual
    "q_stl_decomp" ->
      """WITH daily AS (
        |  SELECT event_type, EPOCH_US(DATE_TRUNC('day', ts)) // 86400000000 AS dd,
        |    COUNT(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type, UNNEST(GENERATE_SERIES(MIN(dd), MAX(dd))) AS dd
        |  FROM daily GROUP BY event_type),
        |dense AS (
        |  SELECT s.event_type, s.dd, COALESCE(daily.cnt, 0) AS cnt
        |  FROM spine s LEFT JOIN daily
        |    ON s.event_type = daily.event_type AND s.dd = daily.dd),
        |tr AS (
        |  SELECT event_type, dd, cnt,
        |    SUM(cnt) OVER w AS t7, COUNT(*) OVER w AS n7
        |  FROM dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY dd
        |               ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
        |tf AS (
        |  SELECT event_type, dd, cnt, CAST(t7 AS BIGINT) AS t7, dd % 7 AS dow
        |  FROM tr WHERE n7 = 7),
        |seas AS (
        |  SELECT event_type, dow,
        |    CAST(FLOOR(CAST(CAST(SUM(cnt * 7 - t7) AS BIGINT) * 10000 AS DOUBLE)
        |      / CAST(COUNT(*) * 7 AS DOUBLE) + 0.5) AS BIGINT) AS seas_e4
        |  FROM tf GROUP BY event_type, dow)
        |SELECT tf.event_type, CAST(tf.dd AS BIGINT) AS d, tf.cnt,
        |  CAST(FLOOR(CAST(t7 * 10000 AS DOUBLE) / 7.0 + 0.5) AS BIGINT) AS trend_e4,
        |  seas.seas_e4,
        |  tf.cnt * 10000
        |    - CAST(FLOOR(CAST(t7 * 10000 AS DOUBLE) / 7.0 + 0.5) AS BIGINT)
        |    - seas.seas_e4 AS resid_e4
        |FROM tf JOIN seas ON tf.event_type = seas.event_type AND tf.dow = seas.dow
        |ORDER BY tf.event_type, d""".stripMargin,

    "q_win_gapfill" ->
      """WITH hourly AS (
        |  SELECT event_type, EPOCH_US(DATE_TRUNC('hour', ts)) // 3600000000 AS h,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2),
        |spine AS (
        |  SELECT event_type, UNNEST(GENERATE_SERIES(MIN(h), MAX(h))) AS h
        |  FROM hourly GROUP BY event_type),
        |j AS (
        |  SELECT s.event_type, s.h, hourly.cents,
        |    LAST_VALUE(cents IGNORE NULLS) OVER (PARTITION BY s.event_type ORDER BY s.h
        |      ROWS UNBOUNDED PRECEDING) AS pv,
        |    LAST_VALUE(CASE WHEN cents IS NOT NULL THEN s.h END IGNORE NULLS)
        |      OVER (PARTITION BY s.event_type ORDER BY s.h
        |      ROWS UNBOUNDED PRECEDING) AS ph,
        |    FIRST_VALUE(cents IGNORE NULLS) OVER (PARTITION BY s.event_type ORDER BY s.h
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |    FIRST_VALUE(CASE WHEN cents IS NOT NULL THEN s.h END IGNORE NULLS)
        |      OVER (PARTITION BY s.event_type ORDER BY s.h
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
        |  FROM spine s LEFT JOIN hourly
        |    ON s.event_type = hourly.event_type AND s.h = hourly.h)
        |SELECT event_type, CAST(h AS BIGINT) AS h,
        |  COALESCE(cents,
        |    CAST(ROUND(pv + (nv - pv) * CAST(h - ph AS DOUBLE) / (nh - ph)) AS BIGINT),
        |    pv, nv) AS cents_filled,
        |  (cents IS NULL) AS is_interp
        |FROM j ORDER BY event_type, h""".stripMargin,

    "q_cohort_retention" ->
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(DATE_TRUNC('week', ts) AS DATE) AS w
        |  FROM events),
        |coh AS (SELECT user_id, MIN(w) AS cw FROM act GROUP BY user_id)
        |SELECT CAST(cw AS VARCHAR) AS cohort_week,
        |  CAST(DATEDIFF('day', cw, w) // 7 AS INTEGER) AS week_offset,
        |  COUNT(DISTINCT act.user_id) AS n_users
        |FROM act JOIN coh ON act.user_id = coh.user_id
        |GROUP BY cw, DATEDIFF('day', cw, w) // 7
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q_time_weighted" ->
      """WITH seg AS (
        |  SELECT user_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |    (LEAD(EPOCH_US(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      - EPOCH_US(ts)) // 1000 AS dur_ms
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_seg,
        |  CAST(SUM(cents * dur_ms) // SUM(dur_ms) AS BIGINT) AS twa_cents
        |FROM seg WHERE dur_ms IS NOT NULL
        |GROUP BY user_id HAVING SUM(dur_ms) > 0
        |ORDER BY user_id""".stripMargin,

    "q_ewma" ->
      """WITH r AS (
        |  SELECT user_id,
        |    CAST(ROUND(value * 100) AS BIGINT) AS cents,
        |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, COUNT(*) AS n_used,
        |  CAST(SUM(cents * (1::BIGINT << (8 - rn)))
        |    // SUM(1::BIGINT << (8 - rn)) AS BIGINT) AS ewma_cents
        |FROM r WHERE rn <= 8
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,

    "q_abtest" ->
      """WITH a AS (
        |  SELECT user_id % 2 AS arm, COUNT(*) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x
        |  FROM events GROUP BY user_id % 2),
        |p AS (SELECT
        |  MAX(CASE WHEN arm = 0 THEN n END) AS n0,
        |  MAX(CASE WHEN arm = 0 THEN x END) AS x0,
        |  MAX(CASE WHEN arm = 1 THEN n END) AS n1,
        |  MAX(CASE WHEN arm = 1 THEN x END) AS x1
        |FROM a)
        |SELECT n0, x0, n1, x1,
        |  CAST(ROUND(1e6 * (CAST(x0 AS DOUBLE) / n0 - CAST(x1 AS DOUBLE) / n1) /
        |    NULLIF(SQRT((CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
        |      * (1.0 - CAST(x0 + x1 AS DOUBLE) / (n0 + n1))
        |      * (1.0 / n0 + 1.0 / n1)), 0.0)) AS BIGINT) AS z_e6
        |FROM p""".stripMargin,

    "q_seasonality" ->
      """WITH cnt AS (
        |  SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hr,
        |         COUNT(*) AS n
        |  FROM events GROUP BY event_type, EXTRACT(HOUR FROM ts)),
        |tot AS (SELECT event_type, CAST(SUM(n) AS BIGINT) AS tot
        |        FROM cnt GROUP BY event_type)
        |SELECT cnt.event_type, hr, n, n * 24 * 10000 // tot - 10000 AS dev_e4
        |FROM cnt JOIN tot ON cnt.event_type = tot.event_type
        |ORDER BY cnt.event_type, hr""".stripMargin,

    "q_psi_drift" ->
      """WITH e AS (
        |  SELECT event_type, value, EPOCH_US(ts) AS us FROM events),
        |rng AS (SELECT MIN(us) AS mn, MAX(us) AS mx FROM e),
        |binned AS (
        |  SELECT event_type,
        |    CASE WHEN us * 2 < mn + mx THEN 'a' ELSE 'b' END AS half,
        |    LEAST(CAST(FLOOR(value / 10) AS INTEGER), 10) + 1 AS bin
        |  FROM e, rng),
        |cnt AS (SELECT event_type, half, bin, COUNT(*) AS c
        |        FROM binned GROUP BY event_type, half, bin),
        |grid AS (
        |  SELECT t.event_type, g.bin FROM (SELECT DISTINCT event_type FROM cnt) t
        |  CROSS JOIN (SELECT CAST(UNNEST(GENERATE_SERIES(1, 11)) AS INTEGER) AS bin) g),
        |j AS (
        |  SELECT grid.event_type, grid.bin,
        |    COALESCE(ca.c, 0) AS c_a, COALESCE(cb.c, 0) AS c_b
        |  FROM grid
        |  LEFT JOIN (SELECT event_type, bin, c FROM cnt WHERE half = 'a') ca
        |    ON grid.event_type = ca.event_type AND grid.bin = ca.bin
        |  LEFT JOIN (SELECT event_type, bin, c FROM cnt WHERE half = 'b') cb
        |    ON grid.event_type = cb.event_type AND grid.bin = cb.bin),
        |tots AS (SELECT event_type, CAST(SUM(c_a) AS BIGINT) AS na,
        |                CAST(SUM(c_b) AS BIGINT) AS nb
        |         FROM j GROUP BY event_type),
        |contrib AS (
        |  SELECT j.event_type, na, nb,
        |    CAST(ROUND(1e8 *
        |      ((CAST(c_a + 1 AS DOUBLE) / (na + 11)) - (CAST(c_b + 1 AS DOUBLE) / (nb + 11)))
        |      * LN((CAST(c_a + 1 AS DOUBLE) / (na + 11))
        |           / (CAST(c_b + 1 AS DOUBLE) / (nb + 11)))) AS BIGINT) AS ce
        |  FROM j JOIN tots ON j.event_type = tots.event_type)
        |SELECT event_type, MAX(na) AS n_a, MAX(nb) AS n_b,
        |  CAST(SUM(ce) AS BIGINT) AS psi_e8
        |FROM contrib GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_acf" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
        |         COUNT(*) AS c
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, c,
        |    LAG(c, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |    LAG(c, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2,
        |    LAG(c, 3) OVER (PARTITION BY event_type ORDER BY day) AS l3
        |  FROM daily),
        |st AS (
        |  SELECT event_type, 1 AS lag_k, c AS x, l1 AS y FROM l
        |  UNION ALL SELECT event_type, 2, c, l2 FROM l
        |  UNION ALL SELECT event_type, 3, c, l3 FROM l),
        |m AS (
        |  SELECT event_type, lag_k, COUNT(*) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy,
        |    CAST(SUM(x * x) AS BIGINT) AS sxx,
        |    CAST(SUM(y * y) AS BIGINT) AS syy
        |  FROM st WHERE y IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, CAST(lag_k AS INTEGER) AS lag_k, n AS n_pairs,
        |  CAST(ROUND(1e6 * (n * sxy - sx * sy) /
        |    NULLIF(SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
        |      * SQRT(CAST(n * syy - sy * sy AS DOUBLE)), 0.0)) AS BIGINT) AS acf_e6
        |FROM m ORDER BY event_type, lag_k""".stripMargin,

    "q_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS total
        |  FROM daily GROUP BY 1),
        |dev AS (
        |  SELECT daily.event_type, day, n,
        |    ABS(n * CAST(SUM(x) OVER (PARTITION BY daily.event_type ORDER BY day
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |        - ROW_NUMBER() OVER (PARTITION BY daily.event_type ORDER BY day)
        |          * total) AS s_abs
        |  FROM daily JOIN tot ON daily.event_type = tot.event_type),
        |rk AS (
        |  SELECT event_type, n, day, s_abs,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY s_abs DESC, day) AS rk
        |  FROM dev)
        |SELECT event_type, n AS n_days, CAST(day AS TIMESTAMP) AS cp_day,
        |  s_abs AS s_max
        |FROM rk WHERE rk = 1 ORDER BY event_type""".stripMargin,

    "q_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(DATE_TRUNC('day', ts) AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |    CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |sl AS (
        |  SELECT a.event_type, a.t AS ti, b.t AS tj,
        |    CAST(b.x - a.x AS DOUBLE) / (b.t - a.t) AS sl
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.t < b.t),
        |r AS (
        |  SELECT event_type, sl,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY sl, ti, tj) AS r,
        |    COUNT(*) OVER (PARTITION BY event_type) AS np
        |  FROM sl)
        |SELECT event_type, np AS n_pairs,
        |  CAST(ROUND(1e4 * sl) AS BIGINT) AS slope_e4
        |FROM r WHERE r = (np + 1) // 2 ORDER BY event_type""".stripMargin,

    "q_join_asof_tol" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (
        |  SELECT user_id, ts AS pts, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.p_id, c.click_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.p_id
        |                       ORDER BY c.ts DESC, c.click_id DESC) AS rn
        |  FROM p JOIN clicks c
        |    ON p.user_id = c.user_id
        |   AND c.ts <= p.pts AND c.ts > p.pts - INTERVAL 2 HOUR),
        |best AS (SELECT p_id, click_id FROM j WHERE rn = 1)
        |SELECT p.p_id, best.click_id
        |FROM p LEFT JOIN best ON p.p_id = best.p_id
        |ORDER BY p.p_id""".stripMargin,

    "q_funnel_ttc" ->
      """WITH v AS (
        |  SELECT user_id, ts AS vts, event_id AS v_id
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
        |pairs AS (
        |  SELECT v.v_id,
        |    (EPOCH_US(MIN(p.pts)) - EPOCH_US(MAX(v.vts))) // 1000000 AS delta_s
        |  FROM v JOIN p ON v.user_id = p.user_id
        |   AND p.pts > v.vts AND p.pts <= v.vts + INTERVAL 1 HOUR
        |  GROUP BY v.v_id),
        |r AS (
        |  SELECT delta_s, v_id,
        |    ROW_NUMBER() OVER (ORDER BY delta_s, v_id) AS r,
        |    COUNT(*) OVER () AS n
        |  FROM pairs)
        |SELECT MAX(n) AS n_pairs,
        |  MAX(CASE WHEN r = (n + 1) // 2 THEN delta_s END) AS p50_s,
        |  MAX(CASE WHEN r = (9 * n + 9) // 10 THEN delta_s END) AS p90_s
        |FROM r""".stripMargin,

    // q_join_asof_tol's oracle verbatim — native tolerance exec ≡ the
    // bounded-interval-join formulation ≡ DuckDB
    "q_join_asof_tol_native" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, MAX(event_id) AS click_id
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (
        |  SELECT user_id, ts AS pts, event_id AS p_id
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT p.p_id, c.click_id,
        |    ROW_NUMBER() OVER (PARTITION BY p.p_id
        |                       ORDER BY c.ts DESC, c.click_id DESC) AS rn
        |  FROM p JOIN clicks c
        |    ON p.user_id = c.user_id
        |   AND c.ts <= p.pts AND c.ts > p.pts - INTERVAL 2 HOUR),
        |best AS (SELECT p_id, click_id FROM j WHERE rn = 1)
        |SELECT p.p_id, best.click_id
        |FROM p LEFT JOIN best ON p.p_id = best.p_id
        |ORDER BY p.p_id""".stripMargin,
  )
}
