package graft
package entries

import graft.GraftSession.scratch
import graft.compile.QueryCompiler
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Query-error, export, file-format round-trip, physical-layout and sketch-rollup entries. */
object Formats {
  val entries: Seq[Entry] = Seq(
    // X1 DSL parser: malformed JSON → InvalidQuery
    Entry("x1_dsl_error", (s, d) =>
      queryError(s)(QueryCompiler.parse("{not json")),
      "SELECT 'InvalidQuery' AS error"),

    // X2 full export scan: snapshot → parquet → read back
    Entry("x2_export", (s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000100"))
      val out = GraftSession.scratchDir("graft-export").toString + "/exported"
      st.export(out)
      s.read.parquet(out).select(col("id"), col("category"), col("title")).orderBy("id")
    },
      M + "SELECT id, category, title FROM meta WHERE id BETWEEN '000001' AND '000100' ORDER BY id"),

    // X3 JSONL round-trip: the documents corpus written as newline-delimited
    // JSON (distributed sink) and read back with an explicit schema — full
    // column fidelity proven against the original parquet (text by md5)
    Entry("x3_jsonl_roundtrip", (s, d) => {
      val src = docs(s, d)
      val out = scratch("x3-jsonl") + "/docs" // overwrite-reuse: no per-call leak
      graft.sources.Jsonl.write(src, out)
      docRows(graft.sources.Jsonl.read(s, out, src.schema))
    },
      docRowsSql("")),

    // X4 CSV round-trip: documents written as quoted CSV and read back with
    // an explicit schema — escaping fidelity proven against the original
    Entry("x4_csv_roundtrip", (s, d) => {
      val src = docs(s, d)
      val out = scratch("x4-csv") + "/docs" // overwrite-reuse: no per-call leak
      graft.sources.Csv.write(src, out)
      docRows(graft.sources.Csv.read(s, out, src.schema))
    },
      docRowsSql("")),

    // X8 ORC round-trip: documents written as ORC (distributed columnar
    // sink) and read back with the explicit schema as a projection
    // contract — column fidelity proven against the original parquet
    Entry("x8_orc_roundtrip", (s, d) => {
      val src = docs(s, d)
      val out = scratch("x8-orc") + "/docs" // overwrite-reuse: no per-call leak
      graft.sources.Orc.write(src, out)
      docRows(graft.sources.Orc.read(s, out, src.schema))
    },
      docRowsSql("")),

    // X9 schema evolution: the documents table written as two GENERATIONS
    // — gen-0 predates the n_chars column, gen-1 carries it — read back as
    // one table via footer-merged schema (mergeSchema), gen-0 rows
    // null-filled: the add-a-column migration without rewriting history
    Entry("x9_schema_evolution", (s, d) => {
      val src = docs(s, d)
      val root = scratch("x9-evolve") // overwrite-reuse: no per-call leak
      src.where(col("doc_id") % 2 === 0).select("doc_id", "lang", "source")
        .write.mode("overwrite").parquet(s"$root/gen0")
      src.where(col("doc_id") % 2 === 1).select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$root/gen1")
      graft.sources.SchemaEvolution.readMerged(s, s"$root/gen0", s"$root/gen1")
        .orderBy("doc_id")
    },
      // x9: gen-0 rows (even ids) predate n_chars → null after the merge
      "SELECT doc_id, lang, source, " +
        "CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars " +
        "FROM documents ORDER BY doc_id"),

    // X11 range-sorted layout: events range-partitioned + sorted on ts so
    // every file/row group carries tight min/max footer stats; the
    // hour-range read prunes via PushedFilters (plan-pinned in
    // PlanAuditSpec) — the sub-directory pruning tier. Oracle = the same
    // range aggregate straight off the original table
    Entry("x11_sorted_scan", (s, d) => {
      val out = scratch("x11-sorted") + "/events" // overwrite-reuse: no per-call leak
      val ev = EventStream.withEventTime(events(s, d))
      graft.sources.SortedLayout.write(ev, "ts", out, files = 16)
      typeTotals(graft.sources.SortedLayout.readRange(s, out, "ts",
          lit("2024-01-15 00:00:00").cast("timestamp"),
          lit("2024-01-15 06:00:00").cast("timestamp")))
    },
      // x11: the layout rewrite must not change the range aggregate
      typeTotalsSql("WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-15 00:00:00' " +
        "AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 06:00:00' ")),

    // X12 bloom-filtered layout: documents hash-distributed on doc_id with
    // a parquet bloom filter per row group — the point-lookup pruning tier
    // for keys the data is NOT sorted or partitioned by (min/max stats
    // span the whole domain by construction; the blooms reject the
    // non-matching row groups — spec-demonstrated from the footers, and
    // the pushed IN predicate is plan-pinned). Oracle = the same point
    // lookup straight off the original table
    Entry("x12_bloom_lookup", (s, d) => {
      val out = scratch("x12-bloom") + "/docs" // overwrite-reuse: no per-call leak
      graft.sources.BloomLayout.write(docs(s, d), "doc_id", out,
        files = 16, expectedNdv = 1000L)
      docRows(graft.sources.BloomLayout.lookup(s, out, "doc_id", Seq(7L, 123L, 321L)))
    },
      // x12: the bloom layout changes physical pruning only — the point
      // lookup returns exactly the original table's matching rows
      docRowsSql("WHERE doc_id IN (7, 123, 321) ")),

    // X13 Z-order clustered layout: events Morton-clustered on
    // (ts, user_id) so BOTH dimensions carry tight row-group stats — the
    // multi-dimension pruning tier above x11's single sort column (a
    // user_id predicate prunes nothing on a ts-sorted layout,
    // spec-demonstrated from the footers). The 2-D box read pushes all
    // four bounds (plan-pinned). Oracle = the same box aggregate straight
    // off the original table
    Entry("x13_zorder_scan", (s, d) => {
      val out = scratch("x13-zorder") + "/events" // overwrite-reuse: no per-call leak
      val ev = EventStream.withEventTime(events(s, d))
      graft.sources.ZOrderLayout.write(ev, "ts", "user_id", out, files = 16)
      typeTotals(graft.sources.ZOrderLayout.readBox(s, out,
          "ts", lit("2024-01-10 00:00:00").cast("timestamp"),
          lit("2024-01-16 00:00:00").cast("timestamp"),
          "user_id", lit(0L), lit(30L)))
    },
      // x13: the z-order rewrite must not change the 2-D box aggregate
      typeTotalsSql("WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-10 00:00:00' " +
        "AND ts::TIMESTAMP < TIMESTAMP '2024-01-16 00:00:00' " +
        "AND user_id >= 0 AND user_id < 30 ")),

    // X10 small-file compaction: the corpus deliberately shattered into 64
    // files, then rewritten to ~target-sized files (count measured from
    // input bytes). Row fidelity is the oracle gate; the file-count
    // contract (64 → ceil(bytes/target)) is spec-pinned
    Entry("x10_compaction", (s, d) => {
      val root = scratch("x10-compact") // overwrite-reuse: no per-call leak
      docs(s, d).repartition(64).write.mode("overwrite").parquet(s"$root/small")
      graft.sources.Compaction.compact(s, s"$root/small", s"$root/compacted", 1L << 20)
      docRows(s.read.parquet(s"$root/compacted"))
    },
      // x10: compaction changes physical layout only — rows are identical
      docRowsSql("")),

    // X16 mergeable-sketch rollup: the corpus folds ONCE into per-day HLL
    // sketch rows (KB each), then ANY date range answers by union-merging
    // the selected days' sketches — never rescanning events. The entry
    // gates the sketch estimate against the EXACT distinct cross-engine
    // (within 5%; deterministic, so the gate is stable), alongside the
    // exact count both engines compute from raw rows
    Entry("x16_sketch_range_distinct", (s, d) => {
      val ev = EventStream.withEventTime(events(s, d))
      val dir = scratch("x16-sketches") // per-process fixed dir: no per-run leak
      graft.operators.SketchRollup.dailyDistinctSketches(ev, "ts", "user_id")
        .write.mode("overwrite").parquet(dir)
      rangeDistinctCheck(ev, s.read.parquet(dir))
    },
      // x16: the oracle computes the EXACT distinct from raw rows and
      // asserts the engine's sketch estimate landed within the tolerance
      // (the engine side emits est_ok; a drifting sketch breaks the hash)
      rangeDistinctSql),

    // X17 mergeable QUANTILE rollup — x16's discipline applied to KLL
    // doubles sketches: per-day sketch rows, any range answers by merging
    // the selected days. KLL's guarantee is on RANK and its compaction is
    // randomized, so the gate computes the EXACT rank of each estimated
    // quantile against the raw rows and asserts it within 3pp of target
    // (k=400 bound ≈0.9%); the exact interpolated percentiles (the t14
    // rank rule, value-identical cross-engine) ride alongside. The merged
    // sketch's n IS deterministic and must equal the exact row count
    Entry("x17_sketch_quantile_rollup", (s, d) => {
      val ev = EventStream.withEventTime(events(s, d))
      val dir = scratch("x17-kll")
      graft.operators.SketchRollup.dailyQuantileSketches(ev, "ts", "value")
        .write.mode("overwrite").parquet(dir)
      val est = graft.operators.SketchRollup.rangeQuantileEstimate(
        s.read.parquet(dir), "2024-01-05", "2024-01-15", Seq(0.5, 0.95))
      val in = ev.where(col("ts") >= lit("2024-01-05") && col("ts") < lit("2024-01-15"))
        .select("value")
      val exact = in.agg(count(lit(1)).as("n_rows"),
        round(expr("percentile(value, 0.5)"), 6).as("exact_p50"),
        round(expr("percentile(value, 0.95)"), 6).as("exact_p95"))
      val ranks = in.crossJoin(est).agg(
        avg(when(col("value") <= col("est_q50"), 1.0).otherwise(0.0)).as("r50"),
        avg(when(col("value") <= col("est_q95"), 1.0).otherwise(0.0)).as("r95"))
      exact.crossJoin(est).crossJoin(ranks)
        .select(col("n_rows"), col("exact_p50"), col("exact_p95"),
          (col("n") === col("n_rows")).as("n_ok"),
          (abs(col("r50") - 0.5) <= 0.03).as("p50_ok"),
          (abs(col("r95") - 0.95) <= 0.03).as("p95_ok"))
    },
      // x17: exact interpolated percentiles (the t14 rank rule — value-
      // identical cross-engine) + literal-true gates; the engine side's
      // booleans hold the randomized KLL estimate to its rank bound
      "SELECT count(*) AS n_rows, " +
        "round(quantile_cont(value, 0.5), 6) AS exact_p50, " +
        "round(quantile_cont(value, 0.95), 6) AS exact_p95, " +
        "true AS n_ok, true AS p50_ok, true AS p95_ok " +
        "FROM events WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-05 00:00:00' " +
        "AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 00:00:00'"),

    // X18 theta-sketch retention — the set-operation tier HLL cannot do:
    // per-day theta sketches union-merge into two range sketches, then
    // intersection (retained users) and difference (churned) come from the
    // sketch rows alone. Gated against the EXACT intersection/difference
    // cross-engine (5%; at this corpus's per-range distincts the sketches
    // are below the 4096-entry estimation threshold, i.e. exact mode)
    Entry("x18_theta_retention", (s, d) => {
      val ev = EventStream.withEventTime(events(s, d))
      val dir = scratch("x18-theta")
      graft.operators.SketchRollup.dailyThetaSketches(ev, "ts", "user_id")
        .write.mode("overwrite").parquet(dir)
      val est = graft.operators.SketchRollup.rangeRetentionEstimate(
        s.read.parquet(dir), "2024-01-01", "2024-01-11", "2024-01-15", "2024-01-25")
      def users(from: String, to: String) =
        ev.where(col("ts") >= lit(from) && col("ts") < lit(to))
          .select("user_id").distinct()
      val a = users("2024-01-01", "2024-01-11")
      val b = users("2024-01-15", "2024-01-25")
      val exact = a.agg(count(lit(1)).as("exact_a")).crossJoin(
          b.agg(count(lit(1)).as("exact_b")))
        .crossJoin(a.join(b, Seq("user_id"), "left_semi")
          .agg(count(lit(1)).as("exact_retained")))
        .crossJoin(a.join(b, Seq("user_id"), "left_anti")
          .agg(count(lit(1)).as("exact_churned")))
      exact.crossJoin(est).select(
        col("exact_a"), col("exact_b"), col("exact_retained"), col("exact_churned"),
        (abs(col("est_retained") - col("exact_retained")) <=
          greatest(col("exact_retained") * 0.05, lit(1.0))).as("ret_ok"),
        (abs(col("est_churned") - col("exact_churned")) <=
          greatest(col("exact_churned") * 0.05, lit(1.0))).as("churn_ok"))
    },
      // x18: exact per-range distincts and their intersection/difference
      // from raw rows; the engine's theta estimates must land within 5%
      "WITH a AS (SELECT DISTINCT user_id FROM events " +
        "WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-01 00:00:00' " +
        "AND ts::TIMESTAMP < TIMESTAMP '2024-01-11 00:00:00'), " +
        "b AS (SELECT DISTINCT user_id FROM events " +
        "WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-15 00:00:00' " +
        "AND ts::TIMESTAMP < TIMESTAMP '2024-01-25 00:00:00') " +
        "SELECT (SELECT count(*) FROM a) AS exact_a, " +
        "(SELECT count(*) FROM b) AS exact_b, " +
        "(SELECT count(*) FROM (SELECT user_id FROM a INTERSECT SELECT user_id FROM b)) AS exact_retained, " +
        "(SELECT count(*) FROM (SELECT user_id FROM a EXCEPT SELECT user_id FROM b)) AS exact_churned, " +
        "true AS ret_ok, true AS churn_ok"),

    // X19 mergeable HEAVY-HITTERS rollup — the fourth summary tier beside
    // x16 distincts / x17 quantiles / x18 set-ops: per-day exact top-m
    // candidate counts + a per-day residual ceiling (a deterministic
    // SpaceSaving-style summary with an error certificate), any range's
    // top-k answered from |days|·m candidate rows, corpus never rescanned.
    // m = 2048 ≥ the per-day key cardinality at every SF, so bounds
    // collapse to exact counts (every row `guaranteed`) and the oracle
    // value-checks the counts; the pruned tier's bound/certificate
    // semantics are spec-pinned in OperatorsSpec
    Entry("x19_topk_rollup", (s, d) => {
      val ev = EventStream.withEventTime(events(s, d))
      val dir = scratch("x19-topk")
      graft.operators.SketchRollup.dailyTopKCandidates(ev, "ts", "user_id", m = 2048)
        .write.mode("overwrite").parquet(dir)
      rangeTop10(s.read.parquet(dir))
    },
      // x19: at gate m the rollup is exact, so the oracle is the exact
      // range top-k with the same deterministic tie-break (count desc,
      // key asc); bounds collapse onto the count and `guaranteed` is
      // literal true
      topkRollupSql),

    Entry("x5_bucketed_join", (s, d) => {
      // fixed per-entry dir, NOT createTempDirectory: the harness invokes
      // each entry several times (bench warm-up + passes, verify) and a
      // fresh full-table copy per call would leak disk; overwrite reuses it
      val wh = scratch("x5-bucketed")
      // prune to the join/agg columns BEFORE the layout write — the bucketed
      // copy is a purpose-built join artifact, not a second full table
      graft.sources.Bucketed.writeTable(
        s.read.parquet(s"$d/orders.parquet").select("o_orderkey", "o_orderpriority"),
        "x5_orders", "o_orderkey", 16, s"$wh/orders")
      graft.sources.Bucketed.writeTable(
        s.read.parquet(s"$d/lineitem.parquet").select("l_orderkey", "l_quantity"),
        "x5_lineitem", "l_orderkey", 16, s"$wh/lineitem")
      graft.sources.Bucketed.join(s, "x5_orders", "x5_lineitem",
          "o_orderkey", "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("qty"))
        .orderBy("o_orderpriority")
    },
      "SELECT o_orderpriority, count(*) AS n_items, sum(l_quantity) AS qty " +
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
        "GROUP BY 1 ORDER BY 1"),

    // X14 runtime bloom-filtered join: the selective-dim ⋈ giant-fact
    // shuffle join with Catalyst's runtime row-level filter — a
    // bloom_filter_agg over the filtered orders keys injects a
    // might_contain predicate onto the lineitem scan, dropping
    // never-joining fact rows BEFORE the shuffle (plan-pinned). Session
    // clone pins the 100 TB plan shape (no broadcast at test scale);
    // oracle = the plain SQL join
    Entry("x14_runtime_filter_join", (s, d) =>
      graft.operators.Joins.withRuntimeBloomJoin(s) { bf =>
        graft.operators.Joins.runtimeFilteredFactJoin(bf,
            s"$d/lineitem.parquet", s"$d/orders.parquet",
            "l_orderkey", "o_orderkey",
            col("o_orderpriority") === "1-URGENT")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("qty"))
          .orderBy("o_orderpriority")
      },
      // x14: the runtime filter is a pure optimization — results equal the
      // plain selective join
      "SELECT o_orderpriority, count(*) AS n_items, sum(l_quantity) AS qty " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "WHERE o_orderpriority = '1-URGENT' GROUP BY 1 ORDER BY 1"),

    // X7 dirty-corpus quarantine: documents round-tripped through JSONL
    // with 3 injected malformed lines; the PERMISSIVE read surfaces them
    // as quarantined rows instead of failing the job. The no-op doc_id
    // filter keeps a data column referenced — Spark disallows queries
    // referencing ONLY the corrupt-record column of a live JSON scan, and
    // a cache() workaround would pin the whole corpus in storage memory
    Entry("x7_jsonl_quarantine", (s, d) => {
      val src = docs(s, d)
      val dir = scratch("x7-jsonl")
      graft.sources.Jsonl.write(src, dir) // overwrite clears prior bad file
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "part-badlines.json"),
        java.util.Arrays.asList("{\"doc_id\": oops", "not json at all", "[1, 2"))
      graft.sources.Jsonl.readWithQuarantine(s, dir, src.schema)
        .where(col("doc_id").isNotNull || col("_corrupt_record").isNotNull)
        .select(when(col("_corrupt_record").isNull, "clean")
          .otherwise("quarantined").as("kind"))
        .groupBy("kind").agg(count(lit(1)).as("cnt"))
        .orderBy("kind")
    },
      "SELECT 'clean' AS kind, count(*) AS cnt FROM documents " +
        "UNION ALL SELECT 'quarantined' AS kind, 3 AS cnt ORDER BY kind"),

    // X6 date-partitioned layout: events re-written partitionBy(day), then
    // a one-day aggregate whose day predicate is a PARTITION filter (prunes
    // directories at planning time — the time-series scan discipline at
    // 100 TB; plan pinned in JoinsSpec). Oracle = same aggregate over the
    // raw table.
    Entry("x6_partitioned_scan", (s, d) => {
      // fixed per-entry dir (see x5): repeated invocations overwrite
      val out = scratch("x6-bydate") + "/events"
      val ev = EventStream.withEventTime(events(s, d))
      graft.sources.DatePartitioned.writeByDay(ev, "ts", out)
      graft.sources.DatePartitioned.readDay(s, out, "2024-01-15")
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
    },
      "SELECT event_type, count(*) AS cnt FROM events " +
        "WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-15 00:00:00' " +
        "AND ts::TIMESTAMP < TIMESTAMP '2024-01-16 00:00:00' " +
        "GROUP BY 1 ORDER BY 1"),

    // X15 in-place day refresh: the date-partitioned events table has ONE
    // day re-materialized (2024-01-15's values doubled — a backfill
    // correction) via dynamic partition overwrite; only that day's
    // directory is replaced (untouched-days-byte-identical is spec-pinned).
    // The oracle recomputes the whole corrected table from the raw events,
    // so the read-back gates both the correction and every other day's
    // survival
    Entry("x15_day_refresh", (s, d) => {
      val out = scratch("x15-bydate") + "/events"
      val ev = EventStream.withEventTime(events(s, d))
      graft.sources.DatePartitioned.writeByDay(ev, "ts", out)
      val corrected = ev.where(to_date(col("ts")) === lit("2024-01-15"))
        .withColumn("value", col("value") * 2)
      graft.sources.DatePartitioned.refreshDays(corrected, "ts", out)
      s.read.parquet(out)
        .groupBy(col("event_date").cast("string").as("event_date"))
        // the e1 rule: sum doubles via DECIMAL (order-independent, so any
        // partitioning and any engine agree), cast back for the report
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 4).as("sum_value"))
        .orderBy("event_date")
    },
      // x15: the whole corrected table recomputed from raw events — the
      // refreshed day carries doubled values, every other day original
      // the e1 rule: the per-row double (doubled or not) casts to DECIMAL
      // before the sum, so accumulation is order-independent on both engines
      "SELECT (ts::TIMESTAMP::DATE)::VARCHAR AS event_date, count(*) AS cnt, " +
        "round(sum((CASE WHEN ts::TIMESTAMP::DATE = DATE '2024-01-15' " +
        "THEN value * 2 ELSE value END)::DECIMAL(18,6))::DOUBLE, 4) AS sum_value " +
        "FROM events GROUP BY 1 ORDER BY 1")
  )
}
