package graft
package entries

import graft.streaming.EventStream
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Data-quality check entries: profiles, constraints, drift tests and data cards. */
object Checks {
  val entries: Seq[Entry] = Seq(
    // C19 FUNCTIONAL-DEPENDENCY check: three declared dependencies —
    // id→title (a real key, 0 violations), category→format and
    // orgUUID→isPublic (believed taxonomies that branch) — melted
    // through ONE explode into a single two-level aggregate; violation
    // share in DECIMAL floor-div ppm, dependent NULLs not a branch
    Entry("c19_fd_check", (s, d) =>
      graft.operators.Quality.fdCheck(Corpus.metadata(s, d).toDF(), Seq(
        "id" -> "title", "category" -> "format", "orgUUID" -> "isPublic")),
      // c19: the same three dependencies melted by UNION ALL, identical
      // two-level distinct-branch aggregate, HUGEINT floor-div ppm
      fdCheckSql),

    // C18 BENFORD first-digit profile: the forensic fabricated-data
    // screen on recordCount — observed vs log10(1+1/d) literal-micros
    // shares per leading digit, signed deviation; exact integers, one
    // 9-bucket aggregate + a literal spine, missing digits 0-count
    Entry("c18_benford", (s, d) =>
      graft.operators.Quality.benfordProfile(
        Corpus.metadata(s, d).toDF(), "recordCount"),
      // c18: leading decimal char per positive value, the identical
      // literal Benford micros table (zipped unnests), HUGEINT-widened
      // floor-div shares, 9-row spine left join
      benfordSql),

    // C13 catalog freshness: newest record per category and staleness in
    // whole days vs the corpus high-water mark (never wall-clock now() —
    // the report must be deterministic over identical data); c5 watches
    // volume, this watches recency
    Entry("c13_freshness", (s, d) =>
      graft.operators.Quality.freshnessReport(
        Corpus.metadata(s, d), "category", "creationTime", maxStaleDays = 3),
      // c13: same per-group max + corpus high-water mark, exact day diffs
      freshnessSql),

    // C1 data-quality column profile: completeness / cardinality / bounds
    // for four columns of the documents table in ONE aggregate pass (exact
    // distincts — the Expand form; the Expand-free HLL twin is spec-pinned
    // within its rsd in QualitySpec, the t12 exact/sketch discipline)
    Entry("c1_column_profile", (s, d) =>
      graft.operators.Quality.columnProfile(docs(s, d),
        Seq("text", "lang", "source", "n_chars")).orderBy("column"),
      // c1: per-column profile recomputed column by column (the engine does
      // all four in ONE pass; the oracle's union is free to be naive)
      Seq("text", "lang", "source", "n_chars").map(c =>
        s"SELECT '$c' AS \"column\", count(*) AS n_rows, " +
        s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls, " +
        s"round(1.0 - sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS completeness, " +
        s"count(DISTINCT $c)::BIGINT AS n_distinct, " +
        s"min($c)::VARCHAR AS min_value, max($c)::VARCHAR AS max_value " +
        "FROM documents").mkString("", " UNION ALL ", " ORDER BY \"column\"")),

    // C2 constraint suite: named assertions as violation counts, one scan.
    // quantity_le_30 and the (orderkey, linenumber) uniqueness check FAIL
    // on this corpus by construction — the gate proves violations are
    // counted, not just that green suites stay green
    Entry("c2_constraint_checks", (s, d) =>
      graft.operators.Quality.constraintChecks(
        lineitemWide(s, d),
        rowChecks = Seq(
          "quantity_in_range" -> (col("l_quantity") < 1 || col("l_quantity") > 50),
          "quantity_le_30" -> (col("l_quantity") > 30),
          "discount_in_range" -> (col("l_discount") < 0 || col("l_discount") > 0.1),
          "shipdate_not_null" -> col("l_shipdate").isNull,
          "returnflag_domain" -> !col("l_returnflag").isin("A", "N", "R")),
        uniqueKeys = Seq(
          "orderkey_linenumber_unique" -> Seq("l_orderkey", "l_linenumber")))
        .orderBy("check"),
      // c2: each named assertion recomputed as a conditional count; the
      // uniqueness check is the distinct-excess on the composite key
      (Seq(
        "quantity_in_range" -> "l_quantity < 1 OR l_quantity > 50",
        "quantity_le_30" -> "l_quantity > 30",
        "discount_in_range" -> "l_discount < 0 OR l_discount > 0.1",
        "shipdate_not_null" -> "l_shipdate IS NULL",
        "returnflag_domain" -> "l_returnflag NOT IN ('A','N','R')").map {
          case (n, p) =>
            s"SELECT '$n' AS \"check\", count(*) AS n_rows, " +
            s"sum(CASE WHEN $p THEN 1 ELSE 0 END)::BIGINT AS n_violations, " +
            s"sum(CASE WHEN $p THEN 1 ELSE 0 END) = 0 AS pass FROM lineitem"
        } :+ ("SELECT 'orderkey_linenumber_unique' AS \"check\", count(*) AS n_rows, " +
          "(count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT AS n_violations, " +
          "count(*) = count(DISTINCT (l_orderkey, l_linenumber)) AS pass FROM lineitem"))
        .mkString("", " UNION ALL ", " ORDER BY \"check\"")),

    // C3 referential integrity: FK orphan detection, ids-only anti-joins.
    // The lineitem→orders side is PLANTED with three orphan keys (both
    // engines fabricate the same -1/-2/-3 rows) so the detector's nonzero
    // path is exercised; orders→customer is organic and clean
    Entry("c3_referential_integrity", (s, d) => {
      val li = lineitemWide(s, d).select("l_orderkey")
        .unionByName(s.range(1, 4).select((-col("id")).as("l_orderkey")))
      graft.operators.Quality.refIntegrity(li, "l_orderkey",
          s.read.parquet(s"$d/orders.parquet"), "o_orderkey", "lineitem_orders")
        .unionByName(graft.operators.Quality.refIntegrity(
          s.read.parquet(s"$d/orders.parquet"), "o_custkey",
          s.read.parquet(s"$d/customer.parquet"), "c_custkey", "orders_customer"))
        .orderBy("fk")
    },
      // c3: anti-join orphan counts; the -1/-2/-3 planted keys match the
      // engine's fabricated rows (DuckDB's ANTI JOIN keeps null-key rows,
      // the same never-joins-counts-as-orphan rule the engine applies)
      "WITH li AS (SELECT l_orderkey FROM lineitem " +
        "UNION ALL SELECT -range FROM range(1, 4)) " +
        "SELECT 'lineitem_orders' AS fk, (SELECT count(*) FROM li) AS n_child, " +
        "(SELECT count(*) FROM li ANTI JOIN orders ON l_orderkey = o_orderkey) AS n_orphans, " +
        "(SELECT count(*) FROM li ANTI JOIN orders ON l_orderkey = o_orderkey) = 0 AS pass " +
        "UNION ALL " +
        "SELECT 'orders_customer' AS fk, (SELECT count(*) FROM orders) AS n_child, " +
        "(SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey) AS n_orphans, " +
        "(SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey) = 0 AS pass " +
        "ORDER BY fk"),

    // C4 join-key skew profile: the top-5 heaviest events.user_id keys with
    // n_keys / avg / exact-p99 / skew ratio — the pre-join diagnosis that
    // decides whether j5's salting is needed. Combine-safe stats aggregate
    // over the persisted per-key table, broadcast back as one row — no
    // single-partition window (the per-key table is corpus-cardinality-
    // sized for exactly the keys worth diagnosing). Exact percentile is
    // the gate contract; the at-scale default is the sketch twin
    Entry("c4_key_skew_profile", (s, d) =>
      graft.operators.Quality.keySkewProfile(
        EventStream.withEventTime(events(s, d)),
        "user_id", topK = 5, exactP99 = true),
      // c4: per-key counts + distribution stats; quantile_cont equals the
      // engine's exact percentile on integer counts (the t14 rule)
      "WITH k AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1), " +
        "stats AS (SELECT count(*) AS n_keys, round(avg(cnt), 6) AS avg_cnt, " +
        "round(quantile_cont(cnt, 0.99), 6) AS p99_cnt, max(cnt) AS maxc FROM k) " +
        "SELECT key, cnt, n_keys, avg_cnt, p99_cnt, " +
        "round(maxc / avg_cnt, 6) AS skew_ratio " +
        "FROM k, stats ORDER BY cnt DESC, key LIMIT 5"),

    // C5 ingest-volume drift: per-day counts vs the trailing 7-day mean —
    // the feed-collapse/double-delivery monitor. Deviation is one exact
    // integer product divided once (no stddev, no divided average), so
    // both engines agree bit-for-bit. One mid-range day is PLANTED empty
    // (both engines drop the same calendar day) so the densified day axis
    // is exercised: the dead day must surface as cnt 0, dev −1, flagged
    Entry("c5_volume_drift", (s, d) =>
      graft.operators.Quality.volumeDrift(
        EventStream.withEventTime(events(s, d))
          .where(to_date(col("ts")) =!= "2024-01-10"), "ts"),
      // c5: the trailing-window deviation recomputed with the same exact
      // integer-product form over the same DENSIFIED calendar spine (the
      // planted-empty day appears as cnt 0, dev -1, flagged); first-history
      // day has null dev, false flag
      "WITH daily AS (SELECT ts::TIMESTAMP::DATE AS day, count(*) AS cnt " +
        "FROM events WHERE ts::TIMESTAMP::DATE <> DATE '2024-01-10' GROUP BY 1), " +
        "spine AS (SELECT unnest(generate_series((SELECT min(day) FROM daily), " +
        "(SELECT max(day) FROM daily), INTERVAL 1 DAY))::DATE AS day), " +
        "dense AS (SELECT s.day, coalesce(d.cnt, 0) AS cnt " +
        "FROM spine s LEFT JOIN daily d USING (day)), " +
        "w AS (SELECT day::VARCHAR AS day, cnt, sum(cnt) OVER win AS win_sum, " +
        "count(*) OVER win AS win_n FROM dense " +
        "WINDOW win AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)) " +
        "SELECT day, cnt, win_n AS win_days, " +
        "CASE WHEN win_n > 0 AND win_sum > 0 THEN round(cnt * win_n / win_sum - 1.0, 6) END AS dev_frac, " +
        "coalesce(CASE WHEN win_n > 0 AND win_sum > 0 THEN " +
        "abs(round(cnt * win_n / win_sum - 1.0, 6)) > 0.5 END, false) AS flagged " +
        "FROM w ORDER BY day"),

    // C10 SEASONAL volume baseline: per-day counts vs the trailing
    // same-WEEKDAY 4-week mean — the weekly-cycle-aware twin of c5 (a
    // flat trailing window flags every weekend of a cyclic feed). Same
    // exact-integer deviation discipline, window over 7 weekday
    // partitions of the densified metadata-scale spine; early days carry
    // partial windows (win_weeks 0..4) — "no prior" reports null, not 0
    Entry("c10_seasonal_volume", (s, d) =>
      graft.operators.Quality.seasonalVolume(
        EventStream.withEventTime(events(s, d)), "ts"),
      // c10: the same densified spine windowed PER WEEKDAY — isodow ≡
      // Spark's weekday+1 (both pin Monday=1; the engines' default
      // dayofweek disagree on Sunday), same exact-integer deviation
      seasonalVolumeSql),

    // C14 CHANGEPOINT gate: two-sided integer CUSUM over the daily spine —
    // the persistent-small-shift detector the level (c5), cycle (c10) and
    // distribution (c6/c8/c9) gates all miss; textbook max(0, S+d−k)
    // recurrence in closed window form (running sum − running min), slack
    // 2% of the daily mean, threshold one mean day's accumulated excess
    Entry("c14_cusum_shift", (s, d) =>
      graft.operators.Quality.cusumShift(
        EventStream.withEventTime(events(s, d)), "ts"),
      // c14: closed-form CUSUM replay over the same spine
      cusumShiftSql),

    // C11 robust outlier gate: per-priority lower-median and MAD of the
    // order value in exact integer cents, outliers past 1.5·MAD by
    // cross-multiplied integer compare — the z-score replacement a single
    // corrupt row can't drag. Exact order-statistic audit beside the
    // KLL sketch twin (c1/x17)
    Entry("c11_mad_outliers", (s, d) =>
      graft.operators.Quality.madOutliers(
        s.read.parquet(s"$d/orders.parquet"), "o_orderpriority", "o_totalprice"),
      // c11: the same lower medians as (n+1)//2 order statistics in exact
      // cents, the same cross-multiplied dev·10 > MAD·15 outlier test —
      // row_number ties among equal cents don't matter because only the
      // rank-k VALUE is read
      "WITH x AS (SELECT o_orderpriority AS grp, " +
        "CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders), " +
        "r AS (SELECT grp, cents, row_number() OVER (PARTITION BY grp ORDER BY cents) AS rn, " +
        "count(*) OVER (PARTITION BY grp) AS n FROM x), " +
        "m AS (SELECT grp, max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS med_cents, " +
        "max(n) AS n FROM r GROUP BY grp), " +
        "d AS (SELECT r.grp, abs(r.cents - m.med_cents) AS dev, m.med_cents, m.n " +
        "FROM r JOIN m USING (grp)), " +
        "r2 AS (SELECT grp, dev, med_cents, n, " +
        "row_number() OVER (PARTITION BY grp ORDER BY dev) AS rn2 FROM d), " +
        "mad AS (SELECT grp, max(CASE WHEN rn2 = (n + 1) // 2 THEN dev END) AS mad_cents " +
        "FROM r2 GROUP BY grp) " +
        "SELECT d.grp, max(d.n)::BIGINT AS n, max(d.med_cents)::BIGINT AS med_cents, " +
        "max(mad.mad_cents)::BIGINT AS mad_cents, " +
        "sum(CASE WHEN d.dev * 10 > mad.mad_cents * 15 THEN 1 ELSE 0 END)::BIGINT AS n_outliers " +
        "FROM d JOIN mad USING (grp) GROUP BY d.grp ORDER BY d.grp"),

    // C7 per-source DATA CARD: volume, exact mean quality, Gopher pass
    // rate (the t24 predicates — shared columns, cannot drift), exact-dup
    // rate (the d1 canonical rule) — one narrow map, one md5 shuffle,
    // a |sources|-row aggregate; every stat an exact integer
    Entry("c7_data_card", (s, d) =>
      graft.operators.Quality.dataCard(docs(s, d)),
      // c7: the card recomputed naively — same rules, same md5 canonical
      // dup test, same HALF_UP integer means/rates
      T + microsCte("q") +
        ", gr AS (SELECT d.doc_id, d.source, len(t)::BIGINT AS n, " +
        "len(array_to_string(t, ''))::BIGINT AS sl, " +
        "((len(text) - len(replace(text, '#', ''))) " +
        "+ (len(text) - len(replace(text, '...', ''))) // 3)::BIGINT AS sym, " +
        "len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::BIGINT AS na, " +
        "len(list_filter(['the','be','to','of','and','that','have','with'], " +
        "s -> list_contains(t, s)))::BIGINT AS nr, md5(text) AS h " +
        "FROM toks JOIN documents d USING (doc_id)) " +
        ", b AS (SELECT gr.doc_id, source, n AS n_tok, q.micros AS qm, " +
        "((n >= 50 AND n <= 100000) AND (sl >= 3 * n AND sl <= 10 * n) " +
        "AND (10 * sym <= n) AND (5 * na >= 4 * n) AND (nr >= 2)) AS gp, h " +
        "FROM gr JOIN q ON q.doc_id = gr.doc_id) " +
        ", canon AS (SELECT h, min(doc_id) AS hmin FROM b GROUP BY 1) " +
        ", f AS (SELECT source, n_tok, qm, " +
        "CASE WHEN gp THEN 1 ELSE 0 END AS gpi, " +
        "CASE WHEN b.doc_id <> hmin THEN 1 ELSE 0 END AS dup " +
        "FROM b JOIN canon USING (h)) " +
        ", agg AS (SELECT source, count(*)::BIGINT AS n_docs, " +
        "sum(n_tok)::BIGINT AS n_tokens, sum(qm)::BIGINT AS sq, " +
        "sum(gpi)::BIGINT AS sgp, sum(dup)::BIGINT AS sdup FROM f GROUP BY 1) " +
        "SELECT source, n_docs, n_tokens, " +
        "((sq + n_docs // 2) // n_docs)::BIGINT AS mean_quality_micros, " +
        "((1000000 * sgp + n_docs // 2) // n_docs)::BIGINT AS gopher_pass_micros, " +
        "((1000000 * sdup + n_docs // 2) // n_docs)::BIGINT AS exact_dup_micros " +
        "FROM agg ORDER BY source"),

    // C6 quality-DISTRIBUTION drift between two corpus snapshots: decile
    // histograms of the quality micros side by side (densified bucket
    // spine — the c5 rule), exact integer fractions and drift; v2 derived
    // from documents under the p10 snapshot rules (deletes, [rev2] text
    // edits that move quality mass, inserts)
    Entry("c6_quality_drift", (s, d) => {
      val base = docs(s, d)
      graft.operators.Quality.qualityDrift(base, revisedDocs(base))
    },
      // c6: both sides' decile histograms recomputed naively over the
      // same derived v2, densified over a 0..9 spine, same HALF_UP
      // integer fractions
      revisedDocsSql + " " +
        microsFor("documents", "q1") + microsFor("v2", "q2") +
        qualityBucketsSql +
        "SELECT bucket, n_v1, n_v2, " +
        "((1000000 * n_v1 + t1 // 2) // t1)::BIGINT AS f1_micros, " +
        "((1000000 * n_v2 + t2 // 2) // t2)::BIGINT AS f2_micros, " +
        "abs(((1000000 * n_v1 + t1 // 2) // t1) - ((1000000 * n_v2 + t2 // 2) // t2))::BIGINT AS drift_micros " +
        "FROM m, t ORDER BY bucket"),

    // C16 value-entropy profile: per-column Shannon entropy in exact
    // quantized-term micros — the balance statistic cardinality alone
    // can't see (uniform vs 99%-one-value profile identically in c2);
    // one melt-explode, one (column, value) aggregate
    Entry("c16_value_entropy", (s, d) =>
      graft.operators.Quality.valueEntropy(Corpus.metadata(s, d),
        Seq("category", "format", "orgUUID", "isPublic")),
      // c16: same melt, same per-term round-half-up micros quantization
      // before the order-free sum, same floor division
      M + ", m AS (SELECT unnest(['category','format','isPublic','orgUUID']) AS col, " +
        "unnest([category, format, isPublic::VARCHAR, orgUUID]) AS val FROM meta), " +
        "c AS (SELECT col, val, count(*)::BIGINT AS n FROM m GROUP BY 1, 2), " +
        "nt AS (SELECT col, sum(n)::BIGINT AS nr FROM c GROUP BY 1), " +
        "terms AS (SELECT c.col, c.n, " +
        "round(c.n * ln(nt.nr / c.n::DOUBLE) * 1000000, 0)::BIGINT AS e " +
        "FROM c JOIN nt USING (col)), " +
        "f AS (SELECT col, count(*)::BIGINT AS n_distinct, sum(e)::BIGINT AS s FROM terms GROUP BY 1) " +
        "SELECT f.col AS \"column\", nt.nr AS n_rows, f.n_distinct, " +
        "(f.s // nt.nr)::BIGINT AS entropy_e6 " +
        "FROM f JOIN nt USING (col) ORDER BY 1"),

    // C17 CHI-SQUARED categorical drift: the composition test for columns
    // PSI (binned numeric) and KS (ordered) can't gate — category churn
    // between snapshots (id%13 rows re-categorized into cat0, id%17 rows
    // dropped) in exact cleared-denominator integer micros, per-category
    // terms localizing which value moved
    Entry("c17_chi2_drift", (s, d) => {
      val m = Corpus.metadata(s, d)
      graft.operators.Quality.chiSquareDrift(m, recategorized(m), "category")
    },
      // c17: see chi2DriftSql — shared verbatim with the streamed fold
      chi2DriftSql),

    // C15 correlation drift: did the quality↔length RELATIONSHIP move
    // between snapshots — the axis the per-margin gates (c6/c8/c9) miss;
    // g4's exact DECIMAL moments per side, one round-6 ratio each,
    // drift over the rounded values; same p10-rule v2 derivation as c6
    Entry("c15_correlation_drift", (s, d) => {
      val base = docs(s, d)
      graft.operators.Quality.correlationDrift(base, revisedDocs(base))
    },
      // c15: see corrDriftSql — shared verbatim with the streamed fold
      corrDriftSql),

    // C8 POPULATION STABILITY INDEX — c6's bucket table folded to the
    // industry single-number drift alarm (0.1/0.25 published thresholds),
    // Laplace-smoothed so vacated buckets penalize finitely; same
    // snapshots as c6, level derived from the rounded value
    Entry("c8_psi_drift", (s, d) => {
      val base = docs(s, d)
      graft.operators.Quality.psiDrift(base, revisedDocs(base))
    },
      // c8: the same bucket fractions folded to the smoothed PSI; level
      // from the ROUNDED value (never an ulp-straddling compare)
      revisedDocsSql + " " +
        microsFor("documents", "q1") + microsFor("v2", "q2") +
        psiSql),

    // C9 two-sample KOLMOGOROV–SMIRNOV — the binning-free CDF-gap drift
    // stat beside c8's PSI: view-event values, first half-month vs the
    // rest; the max gap runs on EXACT integer cross-count numerators
    // (distributed bucketed prefix sum, no global sort), one floor
    // division to micros at the end
    Entry("c9_ks_drift", (s, d) => {
      val ev = events(s, d)
        .where(col("event_type") === "view")
      val split = lit("2024-01-15").cast("timestamp")
      graft.operators.Quality.ksDrift(
        ev.where(col("ts") < split), ev.where(col("ts") >= split))
    },
      // c9: the same ECDF gap via the naive global window — the engine's
      // bucketed prefix sum must be value-invisible; // on positives ≡
      // Spark's decimal floor division
      "WITH u AS (SELECT value AS v, 1 AS ca, 0 AS cb FROM events " +
        "WHERE event_type = 'view' AND ts < TIMESTAMP '2024-01-15 00:00:00' " +
        "UNION ALL SELECT value, 0, 1 FROM events " +
        "WHERE event_type = 'view' AND ts >= TIMESTAMP '2024-01-15 00:00:00'), " +
        "g AS (SELECT v, sum(ca)::BIGINT AS ca, sum(cb)::BIGINT AS cb " +
        "FROM u WHERE v IS NOT NULL GROUP BY 1), " +
        "t AS (SELECT sum(ca)::BIGINT AS n_a, sum(cb)::BIGINT AS n_b FROM g), " +
        "c AS (SELECT sum(ca) OVER (ORDER BY v) AS cum_a, " +
        "sum(cb) OVER (ORDER BY v) AS cum_b FROM g) " +
        "SELECT n_a, n_b, max(abs(cum_a * n_b - cum_b * n_a))::BIGINT AS d_num, " +
        "((max(abs(cum_a * n_b - cum_b * n_a)) * 1000000) // (n_a * n_b))::BIGINT AS ks_micros " +
        "FROM c, t GROUP BY n_a, n_b")
  )
}
