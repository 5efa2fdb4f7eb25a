package graft
package entries

import graft.operators.Joins
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Event-analytics entries: as-of, range and interval joins, funnels, retention and paths. */
object EventJoins {
  val entries: Seq[Entry] = Seq(
    // J7 interval-overlap join: per-user-day activity spans × per-type-day
    // spans — every overlapping pair found via the binned join (bin = 6 h,
    // each pair emitted exactly once by its overlap's first bin, no
    // distinct stage), then rolled up per type-day. Closed intervals;
    // overlap seconds from the exact micros sum
    Entry("j7_interval_overlap", (s, d) => {
      val ev = EventStream.withEventTime(events(s, d))
      val w = ev.select(col("user_id"), col("event_type"),
        to_date(col("ts")).cast("string").as("day"),
        unix_micros(col("ts")).as("us"))
      val a = w.groupBy("user_id", "day")
        .agg(min("us").as("a_start"), max("us").as("a_end"))
        .select(concat_ws(":", col("user_id"), col("day")).as("a_id"),
          col("a_start"), col("a_end"))
      val b = w.groupBy("event_type", "day")
        .agg(min("us").as("b_start"), max("us").as("b_end"))
        .select(concat_ws(":", col("event_type"), col("day")).as("b_id"),
          col("b_start"), col("b_end"))
      Joins.intervalOverlapPairs(a, b, binMicros = 21600000000L)
        .groupBy("b_id").agg(count(lit(1)).as("n_pairs"),
          round(sum(col("ov_micros")) / 1e6, 3).as("overlap_sec"))
        .orderBy("b_id")
    },
      // j7: the naive inequality join over the same derived interval
      // tables — the engine's binned join must reproduce it exactly
      "WITH w AS (SELECT user_id, event_type, " +
        "(ts::TIMESTAMP::DATE)::VARCHAR AS day, epoch_us(ts::TIMESTAMP) AS us FROM events), " +
        "a AS (SELECT user_id::VARCHAR || ':' || day AS a_id, " +
        "min(us) AS a_start, max(us) AS a_end FROM w GROUP BY user_id, day), " +
        "b AS (SELECT event_type || ':' || day AS b_id, " +
        "min(us) AS b_start, max(us) AS b_end FROM w GROUP BY event_type, day), " +
        "p AS (SELECT b_id, least(a_end, b_end) - greatest(a_start, b_start) AS ov " +
        "FROM a JOIN b ON a_start <= b_end AND b_start <= a_end) " +
        "SELECT b_id, count(*) AS n_pairs, round(sum(ov) / 1e6, 3) AS overlap_sec " +
        "FROM p GROUP BY 1 ORDER BY 1"),

    // J8 interpolated as-of align: each purchase gets the user's view
    // VALUE linearly interpolated at the purchase timestamp between the
    // bracketing views (constant extrapolation at the ends, null when the
    // user has no views) — the continuous-signal feature-generation
    // primitive, one union-tag sort, no join operator
    Entry("j8_interpolated_align", (s, d) => {
      val ev = EventStream.withEventTime(events(s, d))
      val left = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      Joins.interpolateAsOf(left, right, Seq("user_id"), "ts", "ts",
          rightTie = "event_id", valueCol = "value")
        .select(col("event_id"), col("user_id"),
          round(col("value_interp"), 6).as("value_interp"))
        .orderBy("event_id")
    },
      // j8: the union-tag merge mirrored with DuckDB's IGNORE NULLS
      // windows; the interpolation CASE repeats the engine's exact double
      // formula so both engines agree bit-for-bit
      "WITH ev AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type, value FROM events), " +
        "r AS (SELECT user_id, ts, 0 AS side, event_id AS tie, epoch_us(ts) AS rus, " +
        "value::DOUBLE AS rv, NULL::BIGINT AS event_id FROM ev WHERE event_type = 'view'), " +
        "l AS (SELECT user_id, ts, 1 AS side, 9223372036854775807 AS tie, NULL::BIGINT AS rus, " +
        "NULL::DOUBLE AS rv, event_id FROM ev WHERE event_type = 'purchase'), " +
        "u AS (SELECT * FROM r UNION ALL SELECT * FROM l), " +
        "m AS (SELECT user_id, ts, side, event_id, " +
        "last_value(rus IGNORE NULLS) OVER w AS tb, last_value(rv IGNORE NULLS) OVER w AS vb, " +
        "lead(rus, 1 IGNORE NULLS) OVER w2 AS tf, lead(rv, 1 IGNORE NULLS) OVER w2 AS vf " +
        "FROM u WINDOW " +
        "w AS (PARTITION BY user_id ORDER BY ts, side, tie ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "w2 AS (PARTITION BY user_id ORDER BY ts, side, tie)) " +
        "SELECT event_id, user_id, round(CASE " +
        "WHEN tb IS NULL AND tf IS NULL THEN NULL " +
        "WHEN tb IS NULL THEN vf WHEN tf IS NULL THEN vb " +
        "ELSE vb + (vf - vb) * (epoch_us(ts) - tb) / (tf - tb) END, 6) AS value_interp " +
        "FROM m WHERE side = 1 ORDER BY event_id"),

    // J9 ordered funnel: view → click → purchase conversion with a 3-day
    // window anchored at the user's first view — one user-keyed sort
    // serves the whole qualified-step chain; exact per-step user counts
    // + step-over-step fractions, value-based (never row-order)
    // qualification so both engines agree on every boundary event
    Entry("j9_funnel", (s, d) =>
      graft.operators.EventAnalytics.funnel(
        EventStream.withEventTime(events(s, d)),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        horizonMicros = 3L * 86400 * 1000000),
      // j9: the same layered qualified-running-min windows (each layer a
      // CTE — DuckDB windows can't nest), same value-based qualification
      // and 3-day anchor horizon; count(col) counts non-null reaches
      funnelSql +
        "c AS (SELECT count(q0) AS n0, count(q1) AS n1, count(q2) AS n2 FROM pu), " +
        "x AS (SELECT 1::BIGINT AS step, 'view' AS event_type, n0 AS n_users FROM c " +
        "UNION ALL SELECT 2, 'click', n1 FROM c UNION ALL SELECT 3, 'purchase', n2 FROM c) " +
        "SELECT step, event_type, n_users, " +
        "round(n_users / lag(n_users) OVER (ORDER BY step), 6) AS frac_of_prev " +
        "FROM x ORDER BY step"),

    // J12 funnel conversion-latency percentiles: per step transition, the
    // p50/p90 of converting users' time-to-convert — riding j9's single
    // user sort; EXACT interpolated percentiles here (the value-checked
    // gate form), approx_percentile the at-scale default
    Entry("j12_funnel_latency", (s, d) =>
      graft.operators.EventAnalytics.funnelLatency(
        EventStream.withEventTime(events(s, d)),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        horizonMicros = 3L * 86400 * 1000000, exactPercentiles = true),
      // j12: the j9 qualification chain extended with per-transition
      // latency quantiles — quantile_cont is DuckDB's exact interpolated
      // percentile, the same rank rule as Spark's `percentile` (the t14
      // parity)
      funnelSql +
        "lat AS (SELECT 2::BIGINT AS step, 'click' AS event_type, q1 - q0 AS lat " +
        "FROM pu WHERE q1 IS NOT NULL " +
        "UNION ALL SELECT 3, 'purchase', q2 - q1 FROM pu WHERE q2 IS NOT NULL) " +
        "SELECT step, event_type, count(*)::BIGINT AS n_converted, " +
        "round(quantile_cont(lat, 0.5), 4) AS p50_us, " +
        "round(quantile_cont(lat, 0.9), 4) AS p90_us " +
        "FROM lat GROUP BY 1, 2 ORDER BY 1"),

    // J13 U-shaped multi-touch attribution: every purchase splits credit
    // across its 1-hour window's clicks — first/last 40%, middle 20%
    // spread — in EXACT integer micros summing to exactly 1e6 per
    // conversion (interior floor division, remainder on the LAST touch:
    // a documented audit rule, never a float split)
    Entry("j13_multitouch", (s, d) =>
      graft.operators.EventAnalytics.multiTouchAttribution(
          events(s, d),
          lookbackMicros = 3600000000L)
        .orderBy("purchase_id", "pos"),
      // j13: same window join + position/count windows + the identical
      // integer credit cases — remainder on the last touch in both
      "WITH t AS (SELECT event_id AS click_id, user_id, epoch_us(ts::TIMESTAMP) AS t_us " +
        "FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT event_id AS purchase_id, user_id, epoch_us(ts::TIMESTAMP) AS p_us " +
        "FROM events WHERE event_type = 'purchase'), " +
        "j AS (SELECT purchase_id, click_id, t_us FROM p JOIN t USING (user_id) " +
        "WHERE t_us <= p_us AND t_us > p_us - 3600000000), " +
        "b AS (SELECT purchase_id, click_id, " +
        "row_number() OVER (PARTITION BY purchase_id ORDER BY t_us, click_id) AS pos, " +
        "count(*) OVER (PARTITION BY purchase_id) AS n_touch FROM j) " +
        "SELECT purchase_id, click_id, pos::BIGINT AS pos, n_touch::BIGINT AS n_touch, " +
        "(CASE WHEN n_touch = 1 THEN 1000000 WHEN n_touch = 2 THEN 500000 " +
        "WHEN pos = 1 THEN 400000 " +
        "WHEN pos = n_touch THEN 400000 + 200000 % (n_touch - 2) " +
        "ELSE (200000 - 200000 % (n_touch - 2)) // (n_touch - 2) END)::BIGINT AS credit_micros " +
        "FROM b ORDER BY purchase_id, pos"),

    // J14 item-item co-occurrence neighbors ("people also viewed") —
    // item-based CF over the view events' implicit feedback: binary-
    // incidence cosine from exact set counts, user-keyed self-join with
    // the bot-tail cap, top-3 per item with neighbor ties
    Entry("j14_item_neighbors", (s, d) =>
      graft.operators.EventAnalytics.itemNeighbors(
          events(s, d),
          regexp_extract(col("props"), "(\\d+)", 1))
        .orderBy("item", "rank"),
      // j14: the same capped set-semantics co-occurrence chain — distinct
      // (user, item), bot cap, pair counts, binary-incidence cosine,
      // per-item top-3 with neighbor ties
      cappedViewsSql("WITH") +
        "deg AS (SELECT item, count(*)::BIGINT AS n FROM c GROUP BY 1), " +
        "pr AS (SELECT a.item AS item, b.item AS neighbor, count(*)::BIGINT AS n_ab " +
        "FROM c a JOIN c b ON a.user_id = b.user_id AND a.item <> b.item GROUP BY 1, 2), " +
        "sc AS (SELECT pr.item, pr.neighbor, pr.n_ab, " +
        "round(pr.n_ab / sqrt(da.n * db.n), 6) AS cos " +
        "FROM pr JOIN deg da ON da.item = pr.item JOIN deg db ON db.item = pr.neighbor), " +
        "r AS (SELECT item, row_number() OVER (PARTITION BY item ORDER BY cos DESC, neighbor) AS rank, " +
        "neighbor, n_ab, cos FROM sc) " +
        "SELECT item, rank::BIGINT AS rank, neighbor, n_ab, cos FROM r " +
        "WHERE rank <= 3 ORDER BY item, rank"),

    // J17 A/B experiment readout: Knuth-hash variant split, exact per-
    // variant user/converter counts, exact-micros rates, pooled two-
    // proportion z round-4 with the significance flag off the ROUNDED
    // value — one user aggregate + a 2-row tally, no joins
    Entry("j17_ab_readout", (s, d) =>
      graft.operators.EventAnalytics.abReadout(
        events(s, d)),
      // j17: the same Knuth split, exact tallies, and the identical
      // fixed-shape z expression over exact integers
      "WITH u AS (SELECT user_id, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np " +
        "FROM events GROUP BY 1), " +
        "w AS (SELECT ((user_id * 2654435761) % 4294967296) % 2 AS v, " +
        "CASE WHEN np >= 14 THEN 1 ELSE 0 END AS conv FROM u), " +
        "t AS (SELECT sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a, " +
        "sum(CASE WHEN v = 0 THEN conv ELSE 0 END)::BIGINT AS k_a, " +
        "sum(CASE WHEN v = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b, " +
        "sum(CASE WHEN v = 1 THEN conv ELSE 0 END)::BIGINT AS k_b FROM w), " +
        "sv AS (SELECT *, (k_a + k_b)::DOUBLE / (n_a + n_b) * " +
        "(1.0 - (k_a + k_b)::DOUBLE / (n_a + n_b)) * " +
        "(1.0 / n_a + 1.0 / n_b) AS sq FROM t), " +
        "zc AS (SELECT *, CASE WHEN sq > 0 THEN " +
        "round((k_a::DOUBLE / n_a - k_b::DOUBLE / n_b) / sqrt(sq), 4) END AS z FROM sv) " +
        "SELECT n_a, k_a, n_b, k_b, ((k_a * 1000000) // n_a)::BIGINT AS rate_a_micros, " +
        "((k_b * 1000000) // n_b)::BIGINT AS rate_b_micros, z, " +
        "CASE WHEN z IS NOT NULL THEN abs(z) > 1.96 END AS significant " +
        "FROM zc"),

    // J16 top converting paths: gap-sessionized ordered event-type
    // sequences (30-min boundary, 12-step prefix cap), top-20 by session
    // count with path ties — one user shuffle + sort serves the session
    // split AND the ordered collect; the journey report one-hop j15 can't
    Entry("j16_top_paths", (s, d) =>
      graft.operators.EventAnalytics.topPaths(
        events(s, d)),
      // j16: the same gap split (strict >), running-sum session ids, and
      // ordered string_agg — boundary/order semantics identical
      topPathsSql("",
        "p AS (SELECT user_id, sess, string_agg(event_type, '>' ORDER BY pos) AS path " +
        "FROM s3 WHERE pos <= 12 GROUP BY 1, 2) ")),

    // J19 bounce rate by session entry action: 1-event sessions over
    // sessions starting with each type — the j16 gap discipline, one
    // user sort, exact floor-div micros
    Entry("j19_bounce_rate", (s, d) =>
      graft.operators.EventAnalytics.bounceRate(
        EventStream.withEventTime(events(s, d))),
      // j19: the identical gap sessionization, rank-1 entry pick, and
      // floor-div bounce micros
      eventsUsSql +
        "s0 AS (SELECT *, CASE WHEN us - lag(us) OVER " +
        "(PARTITION BY user_id ORDER BY us, event_id) > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_s FROM e), " +
        "s AS (SELECT *, sum(new_s) OVER " +
        "(PARTITION BY user_id ORDER BY us, event_id) AS sess FROM s0), " +
        "r AS (SELECT user_id, sess, event_type, " +
        "row_number() OVER (PARTITION BY user_id, sess ORDER BY us, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY user_id, sess) AS n FROM s), " +
        "p AS (SELECT event_type AS entry_type, n FROM r WHERE rn = 1) " +
        "SELECT entry_type, count(*)::BIGINT AS n_sessions, " +
        "sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)::BIGINT AS n_bounces, " +
        "((sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) * 1000000) // count(*))::BIGINT AS bounce_e6 " +
        "FROM p GROUP BY entry_type ORDER BY entry_type"),

    // J18 dwell-time profile: per-event-type time-to-next-action within
    // the 30-min session boundary — exact lower median/p90/max micros by
    // the c11 order-statistic rank rule; session-final events drop
    Entry("j18_dwell_times", (s, d) =>
      graft.operators.EventAnalytics.dwellTimes(
        EventStream.withEventTime(events(s, d))),
      // j18: same user-timeline lead, same strict session boundary, same
      // (n+1)-rule order-statistic ranks over exact dwell micros
      eventsUsSql +
        "dw AS (SELECT event_type, lead(us) OVER " +
        "(PARTITION BY user_id ORDER BY us, event_id) - us AS dwell_us FROM e), " +
        "f AS (SELECT event_type, dwell_us FROM dw " +
        "WHERE dwell_us IS NOT NULL AND dwell_us <= 1800000000), " +
        "r AS (SELECT event_type, dwell_us, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY dwell_us) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM f) " +
        "SELECT event_type, max(n)::BIGINT AS n, " +
        "max(CASE WHEN rn = (n + 1) // 2 THEN dwell_us END)::BIGINT AS med_dwell_us, " +
        "max(CASE WHEN rn = (9 * n + 9) // 10 THEN dwell_us END)::BIGINT AS p90_dwell_us, " +
        "max(dwell_us)::BIGINT AS max_dwell_us " +
        "FROM r GROUP BY event_type ORDER BY event_type"),

    // J22 exit actions: the LAST event of every non-converter (first
    // view, no purchase inside the 24 h anchored window — unbounded
    // windows are degenerate on a long corpus), histogram with floor-div
    // micros shares — the abandonment-diagnosis report
    Entry("j22_exit_actions", (s, d) =>
      graft.operators.EventAnalytics.exitActions(
        EventStream.withEventTime(events(s, d))),
      // j22: same anchor rule (NOT IN = the anti-join), same
      // (us, event_id)-max exit, same floor-div shares
      eventsUsSql +
        "v AS (SELECT user_id, min(us) AS tv FROM e WHERE event_type = 'view' GROUP BY 1), " +
        "conv AS (SELECT DISTINCT e.user_id FROM e JOIN v USING (user_id) " +
        "WHERE e.event_type = 'purchase' AND e.us >= v.tv AND e.us <= v.tv + 86400000000), " +
        "nc AS (SELECT user_id FROM v WHERE user_id NOT IN (SELECT user_id FROM conv)), " +
        "r AS (SELECT e.user_id, e.event_type, row_number() OVER " +
        "(PARTITION BY e.user_id ORDER BY us DESC, event_id DESC) AS rn " +
        "FROM e JOIN nc USING (user_id)), " +
        "x AS (SELECT event_type AS exit_type, count(*)::BIGINT AS n_users " +
        "FROM r WHERE rn = 1 GROUP BY 1), " +
        "t AS (SELECT sum(n_users)::BIGINT AS tot FROM x) " +
        "SELECT exit_type, n_users, ((n_users * 1000000) // tot)::BIGINT AS share_e6 " +
        "FROM x, t ORDER BY n_users DESC, exit_type"),

    // J23 stickiness: DAU over trailing-28-day MAU per spine day — the
    // habit metric; events collapse once to distinct (day, user) pairs,
    // the broadcast spine range-join bounds the window expansion, zero
    // days stay visible, empty-window days null (never 0)
    Entry("j23_stickiness", (s, d) =>
      graft.operators.EventAnalytics.stickiness(
        EventStream.withEventTime(events(s, d))),
      // j23/e37: same distinct (day, user) pairs, same densified spine
      // and trailing-28-day range join, floor-div micros, empty-window
      // null — shared verbatim with the streamed set-log fold
      stickinessSql),

    // J21 hourly session concurrency: sessions LIVE per clock hour —
    // the capacity load curve; shared gap chain, bin-exploded interval
    // counting (no global running-sum window), one per-hour aggregate
    Entry("j21_concurrency", (s, d) =>
      graft.operators.EventAnalytics.sessionConcurrency(
        EventStream.withEventTime(events(s, d))),
      // j21: same gap chain, same hour-bucket explode and per-hour count
      "WITH e AS (SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us FROM events), " +
        sessionsSql +
        "sp AS (SELECT user_id, sess, min(us) AS st, max(us) AS en FROM s2 GROUP BY 1, 2), " +
        "h AS (SELECT unnest(generate_series(st // 3600000000, en // 3600000000)) AS h FROM sp) " +
        "SELECT make_timestamp(h * 3600000000) AS hour, count(*)::BIGINT AS n_sessions " +
        "FROM h GROUP BY 1 ORDER BY 1"),

    // J20 time-to-convert: first view → first at-or-after purchase lag
    // per acquisition-week cohort, exact lower median/p90 micros by the
    // c11 rank rule — conversion velocity the j12 cohort way
    Entry("j20_time_to_convert", (s, d) =>
      graft.operators.EventAnalytics.timeToConvert(
        EventStream.withEventTime(events(s, d))),
      // j20: same first-view anchor, at-or-after purchase floor, Monday
      // date_trunc week on both engines, (n+1)-rule order statistics
      "WITH e AS (SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events), " +
        "v AS (SELECT user_id, min(us) AS tv FROM e WHERE event_type = 'view' GROUP BY 1), " +
        "p AS (SELECT e.user_id, min(e.us) AS tp, min(v.tv) AS tv FROM e JOIN v USING (user_id) " +
        "WHERE e.event_type = 'purchase' AND e.us >= v.tv GROUP BY 1), " +
        "l AS (SELECT user_id, date_trunc('week', make_timestamp(tv))::DATE::VARCHAR AS cohort_week, " +
        "(tp - tv)::BIGINT AS lag_us FROM p), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY cohort_week ORDER BY lag_us, user_id) AS rn, " +
        "count(*) OVER (PARTITION BY cohort_week) AS n FROM l) " +
        "SELECT cohort_week, max(n)::BIGINT AS n_users, " +
        "max(CASE WHEN rn = (n + 1) // 2 THEN lag_us END)::BIGINT AS med_lag_us, " +
        "max(CASE WHEN rn = (9 * n + 9) // 10 THEN lag_us END)::BIGINT AS p90_lag_us " +
        "FROM r GROUP BY 1 ORDER BY 1"),

    // J15 first-order Markov transition matrix: adjacent event-type pairs
    // per user timeline (ts, event_id order), exact integer-micros row
    // probabilities via floor division — one user shuffle + sort, then a
    // |types|²-row aggregate with a broadcast totals join
    Entry("j15_markov_transitions", (s, d) =>
      graft.operators.EventAnalytics.transitionMatrix(
        events(s, d)),
      // j15: the same lead() pairing over (user; ts, event_id) and the
      // same integer floor division — DuckDB // on positives ≡ Spark DIV
      markovSql),

    // J11 time-weighted average: per-user TWAP of the view-value signal
    // under step-function hold — exact decimal v·Δt products summed
    // order-free, one double division at the end; single-observation
    // users report null (no span)
    Entry("j11_twap", (s, d) => {
      val views = EventStream.withEventTime(events(s, d))
        .where(col("event_type") === "view")
      Joins.timeWeightedAvg(views, Seq("user_id"), "ts", "value",
          tieCol = "event_id")
        .orderBy("user_id")
    },
      // j11: the same lead-held integral — exact decimal v*dt sum, one
      // double division; the event_id tie pins the hold order at equal
      // timestamps on both engines
      "WITH v AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id, value " +
        "FROM events WHERE event_type = 'view'), " +
        "w AS (SELECT user_id, us, value, " +
        "lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt FROM v), " +
        "g AS (SELECT user_id, count(*) AS n_obs, " +
        "sum(CASE WHEN nxt IS NOT NULL THEN value::DECIMAL(18,6) * (nxt - us) END) AS num, " +
        "max(us) - min(us) AS dur FROM w GROUP BY 1) " +
        "SELECT user_id, n_obs, " +
        "CASE WHEN dur > 0 THEN round(num::DOUBLE / dur, 6) END AS twap " +
        "FROM g ORDER BY user_id"),

    // J10 exact retention-cohort matrix: first-seen-week cohorts × week
    // offsets with exact distinct actives and cohort fractions — the
    // exact audited grid beside x18's sketch retention; two user-keyed
    // shuffles, everything else metadata-scale
    Entry("j10_retention_cohorts", (s, d) =>
      graft.operators.EventAnalytics.retentionCohorts(
        EventStream.withEventTime(events(s, d)),
        "user_id", "ts", maxOffsetWeeks = 4),
      // j10: the same grid from DuckDB's week truncation (both engines
      // start ISO weeks on Monday); integer week arithmetic, exact
      // distincts, one division
      "WITH a AS (SELECT DISTINCT user_id AS u, " +
        "date_trunc('week', ts::TIMESTAMP)::DATE AS active_week FROM events), " +
        "f AS (SELECT u, min(active_week) AS cohort_week FROM a GROUP BY 1), " +
        "m AS (SELECT cohort_week, (active_week - cohort_week) // 7 AS offset_weeks, " +
        "count(DISTINCT u) AS n_active FROM a JOIN f USING (u) " +
        "WHERE (active_week - cohort_week) // 7 <= 4 GROUP BY 1, 2), " +
        "s AS (SELECT cohort_week, offset_weeks, n_active, " +
        "max(CASE WHEN offset_weeks = 0 THEN n_active END) " +
        "OVER (PARTITION BY cohort_week) AS cohort_size FROM m) " +
        "SELECT cohort_week::VARCHAR AS cohort_week, offset_weeks, n_active, " +
        "round(n_active / cohort_size, 6) AS frac_of_cohort " +
        "FROM s ORDER BY cohort_week, offset_weeks"),

    // As-of join: every purchase event attributed to the same user's most
    // recent click at-or-before it (LEFT: unattributed purchases keep null
    // click columns). Union-tag merge, held to DuckDB's native ASOF LEFT
    // JOIN. Tie closure differs in mechanism, agrees in result: the engine
    // resolves equal-(user, ts) clicks to max event_id via asOf's tie rule;
    // the ORACLE pre-collapses clicks to max(event_id) per (user, ts)
    // because ASOF's own tie choice is unspecified.
    Entry("j1_asof_join", (s, d) =>
      clickPurchaseAsOf(s, d, toleranceMicros = Long.MaxValue),
      // ts::TIMESTAMP floors the parquet ns timestamps to µs, matching the
      // engine's timestamp_micros(ts div 1000) normalization. Clicks
      // collapse to max event_id per (user, ts) so the ASOF tie is
      // deterministic in both engines.
      asOfClickSql("c.click_ts, c.click_id")),

    // NEAREST-neighbor temporal align: each purchase to its user's CLOSEST
    // click in either direction within ±30 min (ties → backward, the as-of
    // convention; equal-ts tie rules mirrored in the oracle's CASE sign
    // trick). Same single co-partitioned sort as j1 — the forward
    // candidate is a second window over the same ordering
    Entry("j6_nearest_align", (s, d) => {
      val (purchases, clicks) = purchasesAndClicks(s, d)
      Joins.nearestAsOf(purchases, clicks, Seq("user_id"),
          "purchase_ts", "click_ts", "click_id", toleranceMicros = 1800000000L)
        .orderBy("purchase_id")
    },
      // j6: nearest click either direction within ±30 min — candidates
      // ranked (|Δ| asc, backward-first on ties, then max click_id among
      // equal-ts backward / min among equal-ts forward: the CASE sign trick
      // mirrors the operator's (ts, side, tie) window order exactly)
      "WITH clicks AS (SELECT user_id, ts::TIMESTAMP AS click_ts, " +
        "event_id AS click_id FROM events WHERE event_type = 'click'), " +
        "purch AS (SELECT event_id AS purchase_id, user_id, ts::TIMESTAMP AS purchase_ts " +
        "FROM events WHERE event_type = 'purchase'), " +
        "cand AS (SELECT p.purchase_id, c.click_ts, c.click_id, " +
        "abs(epoch_us(c.click_ts) - epoch_us(p.purchase_ts)) AS d, " +
        "(c.click_ts > p.purchase_ts) AS fwd " +
        "FROM purch p JOIN clicks c USING (user_id) " +
        "WHERE abs(epoch_us(c.click_ts) - epoch_us(p.purchase_ts)) <= 1800000000), " +
        "r AS (SELECT *, row_number() OVER (PARTITION BY purchase_id " +
        "ORDER BY d, fwd, CASE WHEN fwd THEN click_id ELSE -click_id END) AS rn FROM cand) " +
        "SELECT p.purchase_id, p.user_id, p.purchase_ts, r.click_ts, r.click_id " +
        "FROM purch p LEFT JOIN r ON r.purchase_id = p.purchase_id AND r.rn = 1 " +
        "ORDER BY p.purchase_id"),

    // As-of with bounded lookback: same attribution, but a click older
    // than 30 min before the purchase no longer matches (nulls instead).
    // Tolerance is a post-window filter — the nearest prior click is the
    // ONLY candidate, so if it is too old every other one is too; the
    // oracle applies the same CASE to DuckDB's unbounded ASOF result.
    Entry("j4_asof_tolerance", (s, d) =>
      clickPurchaseAsOf(s, d, toleranceMicros = 30L * 60 * 1000000L),
      asOfClickSql(
        "CASE WHEN c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE THEN c.click_ts END AS click_ts, " +
        "CASE WHEN c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE THEN c.click_id END AS click_id")),

    // Range join, pair form: unordered event pairs within 2 s of each other
    // (micro-burst detection). Epsilon-binned candidate generation — never
    // all-pairs — held to DuckDB's unrestricted inequality self-join.
    Entry("j2_range_pairs", (s, d) => {
      val ev = EventStream.withEventTime(events(s, d))
      Joins.timeProximityPairs(ev, "event_id", "ts", 2000000L)
        .orderBy("a_id", "b_id")
    },
      "SELECT a.event_id AS a_id, b.event_id AS b_id, " +
        "abs(epoch_us(a.ts::TIMESTAMP) - epoch_us(b.ts::TIMESTAMP)) AS gap_us " +
        "FROM events a JOIN events b ON a.event_id < b.event_id " +
        "AND abs(epoch_us(a.ts::TIMESTAMP) - epoch_us(b.ts::TIMESTAMP)) <= 2000000 " +
        "ORDER BY a_id, b_id"),

    // Range join, point-in-interval form: global shipping activity inside
    // each flagship order's 7-day window (no equi key — the pure-range
    // case). Bin-exploded equi-join vs DuckDB's raw inequality join.
    // sum(l_quantity) is exact: quantities are integer-valued doubles.
    Entry("j3_interval_activity", (s, d) => {
      // cast: o_orderdate reads as TIMESTAMP_NTZ from the driver's
      // timezone-less parquet; UTC session cast preserves the wall-clock
      // and keeps win_start's output type TIMESTAMP (stable vs oracle)
      val flagship = s.read.parquet(s"$d/orders.parquet")
        .where(col("o_totalprice") > 495000)
        .select(col("o_orderkey"), col("o_orderdate").cast("timestamp").as("win_start"),
          (col("o_orderdate").cast("timestamp") + expr("INTERVAL 7 DAYS")).as("win_end"))
      val shipments = s.read.parquet(s"$d/lineitem.parquet")
        .select("l_orderkey", "l_quantity", "l_shipdate")
      Joins.intervalJoin(shipments, "l_shipdate",
          flagship, "win_start", "win_end", 7L * 24 * 3600 * 1000000L)
        .groupBy("o_orderkey", "win_start")
        .agg(count(lit(1)).as("n_ship"), sum("l_quantity").as("qty"))
        .orderBy("o_orderkey")
    },
      "WITH flagship AS (SELECT o_orderkey, o_orderdate AS win_start, " +
        "o_orderdate + INTERVAL 7 DAY AS win_end FROM orders WHERE o_totalprice > 495000) " +
        "SELECT f.o_orderkey, f.win_start, count(*) AS n_ship, sum(l.l_quantity) AS qty " +
        "FROM flagship f JOIN lineitem l " +
        "ON l.l_shipdate >= f.win_start AND l.l_shipdate < f.win_end " +
        "GROUP BY 1, 2 ORDER BY 1"),

    // J5 skew-salted equi-join: lineitem ⋈ part on partkey with the probe
    // side salted 8 ways (deterministic salt from the line identity) —
    // result held to the PLAIN-join oracle, proving salting is semantics-
    // preserving; the per-brand rollup keeps the gate result small
    Entry("j5_salted_join", (s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      val pt = s.read.parquet(s"$d/part.parquet")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Joins.saltedEquiJoin(li, pt, "l_partkey", 8,
          col("l_orderkey") * 10 + col("l_linenumber"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy("p_brand")
    },
      // j5: the salted join must equal the PLAIN join — the oracle knows
      // nothing about salt
      "SELECT p_brand, count(*) AS cnt, round(sum(l_quantity), 2) AS qty " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY 1 ORDER BY 1")
  )
}
