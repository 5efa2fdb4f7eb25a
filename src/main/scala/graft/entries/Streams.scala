package graft
package entries

import graft.GraftSession.scratch
import graft.compile.QueryCompiler
import graft.model.MetadataEntry
import graft.operators.{Similarity, TextAnalysis}
import graft.store.MetadataStore
import graft.streaming.EventStream
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Event and streaming entries: windowed folds, stream joins, ingest and log compaction. */
object Streams {
  val entries: Seq[Entry] = Seq(
    // E15 streaming IDF maintenance: the q8 statistic kept current by an
    // APPEND-ONLY ingest stream — four staged corpus files become four
    // micro-batches, each landing its own (term, d_df, d_n) delta rows in
    // a batch directory (idempotent replay by overwrite); the read side
    // folds base stats + delta log in any order and must hash-match a
    // fresh recompute over the base ∪ appended corpus
    // E28 STREAMING PSI: the c8 drift alarm kept current by ingest —
    // per-batch quality-bucket counts land as an idempotent sum log, the
    // order-free re-sum rebuilds the streamed corpus's deciles, and PSI
    // folds against the FROZEN reference corpus; must equal the batch
    // psiDrift over reference vs the full streamed corpus
    Entry("e28_stream_psi", (s, d) => {
      val ds = docs(s, d)
      val ref = ds.where(col("doc_id") % 2 === 0)
      val src = staged("e28-src")(ds.where(col("doc_id") % 2 =!= 0).repartition(4).write.parquet(_))
      val deltas = scratch("e28-deltas")
      EventStream.streamQualityBucketFold(s, src, deltas)
      val counts2 = EventStream.readDeltaLog(s, deltas)
        .groupBy("bucket").agg(sum("d_n").as("n"))
      graft.operators.Quality.psiFromCounts(
        graft.operators.Quality.qualityBucketCounts(ref), counts2)
    },
      // e28: the stream-folded bucket counts are an exact integer re-sum,
      // so PSI against the frozen reference equals the batch recompute —
      // the c8 fold with q1 = even docs (reference), q2 = odd (streamed)
      "WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0), " +
        "str AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 <> 0) " +
        microsFor("ref", "q1") + microsFor("str", "q2") +
        psiSql),

    // E29 STREAMING Markov-transition fold: j15's matrix maintained by
    // ingest — per-batch within-batch pair counts + per-user (first,
    // last) boundary summaries land as idempotent batch directories over
    // a TIME-RANGE-split landing dir; the fold recovers the batch-
    // boundary transitions via one lead() over each user's bounds rows
    // and must EQUAL the batch-free j15 recompute (same oracle verbatim)
    Entry("e29_stream_transitions", (s, d) => {
      val src = staged("e29-src")(
        events(s, d)
          .repartitionByRange(4, col("ts"), col("event_id"))
          .write.parquet(_))
      val deltas = scratch("e29-deltas")
      EventStream.streamTransitionFold(s, src, deltas)
      EventStream.foldTransitionLog(s, deltas)
    },
      // e29: the stream-folded matrix must equal the batch-free recompute
      markovSql),

    // E32 STREAMING freshness fold: c13's recency statistic kept current
    // by ingest — the fold family's third mergeable class (MAX log,
    // beside the sum and set logs): per-batch (grp, count, newest-day)
    // partials re-sum/re-max order-free, the report runs through the
    // SHARED freshnessFromGroupMax — stream ≡ batch, c13's oracle VERBATIM
    Entry("e32_stream_freshness", (s, d) => {
      val src = staged("e32-src")(Corpus.metadata(s, d).repartition(4).write.parquet(_))
      val deltas = scratch("e32-deltas")
      EventStream.streamFreshnessFold(s, src, deltas, "category", "creationTime")
      graft.operators.Quality.freshnessFromGroupMax(
        EventStream.readDeltaLog(s, deltas)
          .groupBy("grp").agg(sum("d_n").as("n"), max("max_day").as("max_day")),
        maxStaleDays = 3)
    },
      // e32: the streamed (sum, max) fold must rebuild c13's per-group
      // table exactly — same oracle verbatim (max is order-free AND
      // duplicate-delivery-immune; replay idempotent by batch overwrite)
      freshnessSql),

    // E31 STREAMING co-view fold: the g-family's edge substrate kept
    // current by ingest — per-batch distinct (user, item) pairs land as
    // an idempotent SET log (union is order-free and duplicate-immune),
    // the read-side distinct-union rebuilds the exact batch ui table,
    // and PageRank runs through the SHARED coviewEdgesFromPairs stage —
    // stream ≡ batch by construction, g1's oracle VERBATIM
    Entry("e31_stream_coview", (s, d) => {
      val src = staged("e31-src")(events(s, d).repartition(4).write.parquet(_))
      val deltas = scratch("e31-deltas")
      EventStream.streamCoviewFold(s, src, deltas)
      graft.operators.Graph.pageRank(
        graft.operators.Graph.coviewEdgesFromPairs(
          EventStream.readDeltaLog(s, deltas)
            .select("user_id", "item").distinct()))
    },
      // e31: the streamed set fold must rebuild g1's edge table exactly —
      // same oracle verbatim (distinct-union order-free, replay
      // idempotent by batch-directory overwrite)
      pagerankSql),

    // E30 STREAMING seasonal-volume fold: c10's daily-count statistic
    // kept current by ingest — per-batch per-day counts land as an
    // idempotent sum log (maxFilesPerTrigger=1 forces the real
    // multi-batch path), the order-free integer re-sum rebuilds the
    // daily table, and the report runs through the SAME
    // seasonalVolumeFromDaily code as the batch entry — stream ≡ batch
    // by construction, c10's oracle verbatim
    Entry("e30_stream_seasonal", (s, d) => {
      val src = staged("e30-src")(events(s, d).repartition(4).write.parquet(_))
      val deltas = scratch("e30-deltas")
      EventStream.streamDailyCountFold(s, src, deltas)
      graft.operators.Quality.seasonalVolumeFromDaily(
        EventStream.readDeltaLog(s, deltas)
          .groupBy("day").agg(sum("d_n").as("cnt")))
    },
      // e30: the streamed fold must rebuild c10's daily table exactly —
      // same oracle verbatim (order-free integer sums; replay idempotent
      // by batch-directory overwrite)
      seasonalVolumeSql),

    // E34 STREAMING changepoint gate: c14's CUSUM fed by the SAME
    // streamed daily-count sum log as e30 (one log, two monitors) — the
    // order-free integer re-sum rebuilds the daily table and the report
    // runs through the SHARED cusumShiftFromDaily, so stream ≡ batch by
    // construction and the oracle is c14's VERBATIM
    Entry("e34_stream_cusum", (s, d) => {
      val src = staged("e34-src")(events(s, d).repartition(4).write.parquet(_))
      val deltas = scratch("e34-deltas")
      EventStream.streamDailyCountFold(s, src, deltas)
      graft.operators.Quality.cusumShiftFromDaily(
        EventStream.readDeltaLog(s, deltas)
          .groupBy("day").agg(sum("d_n").as("cnt")))
    },
      // e34: the streamed daily-count fold rebuilds the identical daily
      // table, so the batch CUSUM oracle applies verbatim
      cusumShiftSql),

    // E35 STREAMING correlation-drift gate: c15's per-side moments are
    // Σ-mergeable, so each side lands per-batch (n, Σx, Σy, Σx², Σy²,
    // Σxy) DECIMAL deltas via the e15/e27 sum-log discipline; the
    // order-free re-sum rebuilds both moment rows and the SHARED
    // correlationReportFromMoments makes stream ≡ batch by construction
    // — the oracle is c15's VERBATIM, no corpus rescan anywhere
    Entry("e35_stream_corr_drift", (s, d) => {
      val base = docs(s, d)
      val v2 = revisedDocs(base)
      val src1 = staged("e35-src1")(base.repartition(4).write.parquet(_))
      val src2 = staged("e35-src2")(v2.repartition(4).write.parquet(_))
      val del1 = scratch("e35-deltas1"); val del2 = scratch("e35-deltas2")
      EventStream.streamMomentsFold(s, src1, del1)
      EventStream.streamMomentsFold(s, src2, del2)
      graft.operators.Quality.correlationReportFromMoments(
        EventStream.foldMoments(s, del1), EventStream.foldMoments(s, del2))
    },
      // e35: the STREAMED moments fold must equal the batch gate exactly
      corrDriftSql),

    // E24 STREAMING DSIR raw-model fold: the p19 statistic kept current by
    // ingest — per-batch (feat, d_rc) counts over the FROZEN target
    // vocabulary land in idempotent batch directories (maxFilesPerTrigger=1
    // forces the real multi-batch path), the order-free integer re-sum
    // rebuilds the raw model, and the selection through the folded model
    // must EQUAL the batch-free p19 answer — same oracle, verbatim
    Entry("e24_stream_dsir_fold", (s, d) => {
      val ds = docs(s, d)
      val src = staged("e24-src")(ds.repartition(4).write.parquet(_))
      val deltas = scratch("e24-deltas")
      val vocab = graft.operators.Pipeline
        .dsirVocab(ds.where(col("lang") === "en"), 256)
      // the frozen feature list: ≤256 strings, a codebook-scale snapshot
      val feats = vocab.select("feat").collect().map(_.getString(0)).toSeq
      EventStream.streamDsirRawFold(s, src, deltas, feats)
      val rawCnt = EventStream.readDeltaLog(s, deltas)
        .groupBy("feat").agg(sum("d_rc").as("rc"))
      val lr = graft.operators.Pipeline.dsirLogRatio(vocab, rawCnt, 256)
      graft.operators.Pipeline.dsirTopKFromWeights(
        graft.operators.Pipeline.dsirScoreWith(
          ds, graft.operators.Pipeline.docTokenCounts(ds), lr), 50)
        .orderBy("rank")
    },
      // e24: the stream-folded raw model is an EXACT integer re-sum of the
      // batch count deltas, so the selection through it must equal the
      // batch-free p19 answer — the same oracle, verbatim
      dsirSampleSql),

    Entry("e15_stream_idf_fold", (s, d) => {
      val (stats0, deltas) = streamedIdfDeltas(s, d, "e15")
      QueryCompiler.idfStatsWithDeltas(stats0,
          s.read.parquet(s"$deltas/batches"))
        .orderBy("term")
    },
      // e15: a fresh doc-frequency recompute over base ∪ appended ids —
      // the stream's folded delta log must land on it exactly
      M + ", cur AS (SELECT dataSample FROM meta WHERE id <= '000090'), " +
        redWidgetDfSql),

    // E22 STREAMING SCD2 history maintenance: the s21 persisted-history
    // advance driven by an ingest stream — each micro-batch commits its
    // net entries to the versioned store and rewrites ONLY the changed
    // ids' buckets of the on-disk history (maxFilesPerTrigger=1 forces
    // the real multi-batch path; staged slices carry increasing mtimes so
    // batch order is pinned). Gated: the maintained on-disk table must
    // row-equal a fresh history() rebuild of the log the stream produced.
    Entry("e22_stream_history_fold", (s, d) => {
      import s.implicits._
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000051", "000070")) // v1
      val hist = scratch("e22-hist") + "/h"
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(hist))
      MetadataStore.writeHistory(st.history(), 8, hist)
      val src = staged("e22-src") { dir =>
        val srcPath = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        def stage(i: Int, ds: Dataset[MetadataEntry]): Unit = {
          val tmp = scratch(s"e22-stage-$i")
          ds.coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = graft.util.FsUtil.listDir(java.nio.file.Paths.get(tmp))(
            _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head)
          val dst = srcPath.resolve(f"slice-$i%03d.parquet")
          java.nio.file.Files.copy(part, dst)
          // pin batch order under BOTH file-source orderings (mtime, path)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 60000L))
        }
        stage(1, corpusEntries(s, d, "000061", "000080")
          .map(e => e.copy(title = "u-" + e.title)))
        stage(2, corpusEntries(s, d, "000051", "000055")
          .map(e => e.copy(title = "w-" + e.title)))
      }
      EventStream.streamHistoryMaintenance(s, src, st, hist, 8)(
        b => b.as(Encoders.product[MetadataEntry]))
      val disk = historyRows(s.read.parquet(hist))
      val rebuilt = historyRows(st.history())
      // both exceptAll directions counted in ONE job (r18: the gate is the
      // same set equality; two sequential counts paid planning + job twice)
      val drift = disk.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(disk)).count()
      require(drift == 0, s"maintained history diverged from rebuild: $drift rows")
      disk.orderBy("id", "valid_from")
    },
      // e22: base slice 51-70 at v1 (bulk load); batch v2 updates 61-80
      // (closing 61-70's base intervals), batch v3 updates 51-55
      M + "SELECT id, title, CAST(1 AS BIGINT) AS valid_from, " +
        "CAST(CASE WHEN id <= '000055' THEN 3 WHEN id >= '000061' THEN 2 END AS BIGINT) AS valid_to " +
        "FROM meta WHERE id BETWEEN '000051' AND '000070' " +
        "UNION ALL SELECT id, 'u-' || title, 2, NULL FROM meta WHERE id BETWEEN '000061' AND '000080' " +
        "UNION ALL SELECT id, 'w-' || title, 3, NULL FROM meta WHERE id BETWEEN '000051' AND '000055' " +
        "ORDER BY id, valid_from"),

    // E23 STREAMING takedown queue: compliance notices drained
    // continuously against the delivered export — one purge per
    // micro-batch, per-batch cost = that batch's touched shards.
    // Exactly-once from the OPERATION's idempotence (re-purging purged
    // ids removes zero), not from sink bookkeeping; notice batches are
    // disjoint id sets so the final state is also ORDER-free — no mtime
    // pinning needed, unlike e22. Gated on the exact total removed.
    Entry("e23_stream_takedown", (s, d) => {
      import s.implicits._
      val out = scratch("e23-export") + "/corpus"
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(out))
      graft.operators.Pipeline.shardExport(docs(s, d), out, shards = 8)
      val ids = docs(s, d).select("doc_id").orderBy("doc_id")
        .limit(5).as[Long].collect().toSeq
      val ndir = staged("e23-notices") { dir =>
        val nPath = java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
        def stage(i: Int, batch: Seq[Long]): Unit = {
          val tmp = scratch(s"e23-stage-$i")
          batch.toDF("doc_id").coalesce(1).write.mode("overwrite").parquet(tmp)
          val part = graft.util.FsUtil.listDir(java.nio.file.Paths.get(tmp))(
            _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head)
          java.nio.file.Files.copy(part, nPath.resolve(f"notice-$i%03d.parquet"))
          ()
        }
        stage(1, ids.take(3))
        stage(2, ids.drop(3))
      }
      val n = EventStream.streamTakedownQueue(s, ndir, out, 8)
      require(n == 5L, s"expected 5 documents removed across the notice stream, got $n")
      s.read.parquet(out)
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
      // e23: the corpus minus the five lowest doc_ids, whatever the
      // notice batch boundaries or replay schedule
      "SELECT doc_id, ((doc_id * 2654435761) % 4294967296) % 8 AS shard, " +
        "md5(text) AS text_md5 FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5) " +
        "ORDER BY doc_id"),

    // E19 STREAMING classifier-count maintenance: e15's append-only
    // delta fold on the training state — per-batch (token, pc, nc)
    // deltas land idempotently, the read-side fold must equal a
    // from-scratch retrain over base ∪ appended (t20's oracle over the
    // whole corpus); no state store — the log IS the state
    Entry("e19_stream_classifier_fold", (s, d) => {
      val deltas = scratch("e19-deltas")
      val ds = docs(s, d)
      val src = staged("e19-src")(ds.where(col("doc_id") >= 300).repartition(4).write.parquet(_))
      val base = TextAnalysis.classifierCounts(ds.where(col("doc_id") < 300))
      EventStream.streamClassifierDeltaFold(s, src, deltas)
      TextAnalysis.classifierWeights(
          TextAnalysis.classifierCountsWithDeltas(base,
            EventStream.readDeltaLog(s, deltas)))
        .orderBy(abs(col("weight_micros")).desc, col("token"))
    },
      // e19: the streamed fold must equal the from-scratch retrain over
      // the whole corpus — t20's oracle verbatim
      classifierWeightsSql),

    // E27 CLASSIFIER-LOG compaction: the generic per-key sum-log fold
    // (compactSumLog) pointed at the (token, pc, nc) count log — aged
    // batches collapse into batch=-1, horizon advanced, and the retrained
    // weights must be IDENTICAL (exact long sums, fold hash-invariant);
    // e19's from-scratch oracle verbatim
    Entry("e27_classifier_log_compaction", (s, d) => {
      val deltas = scratch("e27-deltas")
      val ds = docs(s, d)
      val src = staged("e27-src")(ds.where(col("doc_id") >= 300).repartition(4).write.parquet(_))
      val base = TextAnalysis.classifierCounts(ds.where(col("doc_id") < 300))
      EventStream.streamClassifierDeltaFold(s, src, deltas)
      EventStream.compactSumLog(s, deltas, upToBatch = 2L,
        Seq("token"), Seq("pc", "nc"))
      TextAnalysis.classifierWeights(
          TextAnalysis.classifierCountsWithDeltas(base,
            EventStream.readDeltaLog(s, deltas)))
        .orderBy(abs(col("weight_micros")).desc, col("token"))
    },
      // e27: compaction is invisible to the statistic — same from-scratch
      // retrain oracle as e19
      classifierWeightsSql),

    // E18 STREAMING classifier scoring: train offline / score ONLINE —
    // frozen weight map broadcast into a stateless per-batch transform
    // (no state store, no watermark), exactly-once by batch-directory
    // overwrite (the e15 discipline); the streamed output must equal the
    // batch scorer row-for-row (t21's oracle)
    Entry("e18_stream_classifier", (s, d) => {
      val out = scratch("e18-out")
      val src = staged("e18-src")(docs(s, d).repartition(4).write.parquet(_))
      val w = TextAnalysis.trainQualityClassifier(docs(s, d)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      EventStream.streamClassifierScore(s, src, out, w)
      s.read.parquet(s"$out/batches")
        .select("doc_id", "score_micros", "predicted_hq").orderBy("doc_id")
    },
      // e18: the streamed scoring must equal the batch scorer — t21's
      // oracle verbatim
      classifierScoreSql),

    // E17 STREAMING funnel: j9's real-time sibling — per-user step events
    // buffer in watermark-bounded state and finalize EXACTLY (the batch
    // qualification chain replayed over the buffered window) once the
    // watermark passes anchor + horizon; trailing users stay in state and
    // the oracle encodes the cutoff ms-exact. Same report shape as j9
    Entry("e17_stream_funnel", (s, d) => {
      val steps = Seq("view", "click", "purchase")
      val users = EventStream.backfillFunnelUsers(s, s"$d/events.parquet",
        steps, horizonMicros = 3L * 86400 * 1000000)
      val counts = users.agg(
        sum(when(col("steps_reached") >= 1, 1L).otherwise(0L)).as("n0"),
        steps.indices.drop(1).map(i =>
          sum(when(col("steps_reached") >= i + 1, 1L).otherwise(0L)).as(s"n$i")): _*)
      val stepStructs = array(steps.zipWithIndex.map { case (t, i) =>
        struct(lit(i + 1L).as("step"), lit(t).as("event_type"),
          col(s"n$i").as("n_users"))
      }: _*)
      val wStep = org.apache.spark.sql.expressions.Window.orderBy("step")
      counts.select(explode(stepStructs).as("s"))
        .select(col("s.step").as("step"), col("s.event_type").as("event_type"),
          col("s.n_users").as("n_users"))
        .withColumn("frac_of_prev",
          round(col("n_users") / lag(col("n_users"), 1).over(wStep), 6))
        .orderBy("step")
    },
      // e17: the j9 chain restricted to users whose funnel FINALIZED —
      // anchor + horizon strictly below the final watermark (max step-
      // event time, ms-floored, minus the 1h delay), the exact emission
      // rule of the streaming operator
      funnelSql +
        "wm AS (SELECT max(us // 1000) - 3600000 AS w FROM e), " +
        "fin AS (SELECT pu.* FROM pu, wm " +
        "WHERE q0 IS NOT NULL AND w > (q0 + 259200000000) // 1000), " +
        "c AS (SELECT count(q0) AS n0, count(q1) AS n1, count(q2) AS n2 FROM fin), " +
        "x AS (SELECT 1::BIGINT AS step, 'view' AS event_type, n0 AS n_users FROM c " +
        "UNION ALL SELECT 2, 'click', n1 FROM c UNION ALL SELECT 3, 'purchase', n2 FROM c) " +
        "SELECT step, event_type, n_users, " +
        "round(n_users / lag(n_users) OVER (ORDER BY step), 6) AS frac_of_prev " +
        "FROM x ORDER BY step"),

    // E16 IDF delta-log COMPACTION: e15's per-micro-batch delta
    // directories accrete forever; the compactor folds aged batches into
    // ONE reserved `batch=-1` segment (exact long sums — the compacted
    // fold must hash-match the uncompacted fold AND a fresh recompute,
    // which is this oracle) and advances a horizon marker that keeps
    // REPLAY idempotent: a re-delivered compacted batch recreates its
    // directory and the horizon-aware reader ignores it (spec-pinned in
    // StreamingMultimodalSpec, including a staged stale replay and a
    // second no-op compaction pass)
    Entry("e16_idf_log_compaction", (s, d) => {
      val (stats0, deltas) = streamedIdfDeltas(s, d, "e16")
      EventStream.compactIdfDeltaLog(s, deltas, upToBatch = 2L)
      QueryCompiler.idfStatsWithDeltas(stats0,
          EventStream.readDeltaLog(s, deltas))
        .orderBy("term")
    },
      // e16: the SAME fresh recompute as e15 — compaction must be
      // invisible to the folded statistic
      M + ", cur AS (SELECT dataSample FROM meta WHERE id <= '000090'), " +
        redWidgetDfSql),

    // E38 STREAMING norm profile: one partial row per batch carrying ALL
    // THREE mergeable classes at once (count/sum re-SUM, extremes
    // re-MIN/MAX); the shared normReport over the folded log equals the
    // batch v27 — its oracle VERBATIM
    Entry("e38_stream_norm_profile", (s, d) => {
      val src = staged("e38-src")(emb(s, d).repartition(4).write.parquet(_))
      val deltas = scratch("e38-deltas")
      EventStream.streamNormFold(s, src, deltas)
      graft.operators.Similarity.normReport(
        EventStream.readDeltaLog(s, deltas)
          .select("n_vecs", "n_dims", "n_zero", "n_off_unit",
            "min_n2", "max_n2", "sum_n2"))
    },
      // e38: the streamed fold must equal the batch profile exactly
      normProfileSql),

    // E42 STREAMED MERGE feed: s28's three-arm CDC script delivered as a
    // micro-batch stream — each batch one atomic mixed-op merge commit,
    // exactly-once from the operation's content-idempotence (the e23
    // argument), disjoint-id batches commute; final state must equal
    // the batch merge — s28's oracle VERBATIM
    Entry("e42_stream_merge", (s, d) => {
      val st = loadedStore(s, d) // v1
      val feed = mergeScript(s, d)
      val src = scratch("e42-src")
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(src))
      graft.util.FsUtil.deleteRecursively(
        java.nio.file.Paths.get(src).resolveSibling("_merge_checkpoint"))
      feed.repartition(3).write.parquet(src)
      EventStream.streamMergeFeed(s, src, st)
      st.current.toDF()
        .select(col("id"), col("title"), col("dataSample"))
        .orderBy("id")
    },
      // e42: the same script delivered as a micro-batch CDC stream must
      // converge on the identical state — s28's oracle verbatim
      mergeSql),

    // E41 STREAMED FD fold: c19's dependency audit maintained by ingest
    // — per-batch DISTINCT (fd, det, dep) triples as a SET log (the e31
    // union argument), shared report stage insensitive to cross-batch
    // duplicates, so stream ≡ batch with no read-side distinct; c19's
    // oracle applies VERBATIM
    Entry("e41_stream_fd", (s, d) => {
      val src = staged("e41-src")(
        Corpus.metadata(s, d)
          .select(col("id"), col("title"), col("category"), col("format"),
            col("orgUUID"), col("isPublic"))
          .repartition(4).write.parquet(_))
      val deltas = scratch("e41-deltas")
      EventStream.streamFdFold(s, src, deltas,
        Seq("id" -> "title", "category" -> "format", "orgUUID" -> "isPublic"))
      graft.operators.Quality.fdReportFromTriples(
        EventStream.readDeltaLog(s, deltas).select("fd", "det", "dep"))
    },
      // e41: the streamed distinct-triple set log re-aggregates to
      // exactly the batch report — c19's oracle verbatim
      fdCheckSql),

    // E40 STREAMED Benford fold: c18's digit profile maintained by
    // ingest — per-batch ≤9-row keyed sum log (compactSumLog applies
    // verbatim), shared report stage so stream ≡ batch; c18's oracle
    // applies VERBATIM to the folded report
    Entry("e40_stream_benford", (s, d) => {
      val src = staged("e40-src")(
        Corpus.metadata(s, d).select(col("id"), col("recordCount"))
          .repartition(4).write.parquet(_))
      val deltas = scratch("e40-deltas")
      EventStream.streamBenfordFold(s, src, deltas, "recordCount")
      graft.operators.Quality.benfordFromCounts(
        EventStream.readDeltaLog(s, deltas).select("digit", "n_obs"))
    },
      // e40: the streamed per-digit sum log re-sums to exactly the
      // batch counts, so c18's oracle applies verbatim
      benfordSql),

    // E39 STREAMED encoding-health fold: t32's corpus gate maintained by
    // ingest — per-batch 1-row integer partials (the flag bit is batch-
    // local, so even it merges), idempotent batch dirs, read-side report
    // ≡ the batch aggregate by shared stage; same planted damage as t32
    // so the fold has live positives
    Entry("e39_stream_encoding", (s, d) => {
      val src = staged("e39-src")(plantedEncodingDocs(s, d).repartition(4).write.parquet(_))
      val deltas = scratch("e39-deltas")
      EventStream.streamEncodingFold(s, src, deltas)
      graft.operators.TextAnalysis.encodingReport(
        EventStream.readDeltaLog(s, deltas)
          .select("n_docs", "n_flagged", "n_chars", "n_replacement",
            "n_control", "n_mojibake"))
    },
      // e39: the identical planted damage and regex classes as t32,
      // aggregated to the corpus report — the stream-folded totals must
      // re-sum to exactly this; HUGEINT-widened corpus ppm
      encodingCountsSql + ", " +
        "f AS (SELECT *, CASE WHEN n_chars > 0 THEN " +
        "((n_replacement + n_control + n_mojibake) * 1000000) // n_chars END AS bad_ppm FROM c) " +
        "SELECT count(*)::BIGINT AS n_docs, " +
        "sum(CASE WHEN coalesce(bad_ppm > 1000, false) THEN 1 ELSE 0 END)::BIGINT AS n_flagged, " +
        "sum(n_chars)::BIGINT AS n_chars, sum(n_replacement)::BIGINT AS n_replacement, " +
        "sum(n_control)::BIGINT AS n_control, sum(n_mojibake)::BIGINT AS n_mojibake, " +
        "CASE WHEN sum(n_chars) > 0 THEN ((sum(n_replacement) + sum(n_control) + sum(n_mojibake))::HUGEINT " +
        "* 1000000 // sum(n_chars)) END::BIGINT AS bad_ppm FROM f"),

    // Streaming: event-time windowed aggregation through the streaming
    // engine (AvailableNow backfill). Sums are exact decimals internally;
    // the contract surface casts to DOUBLE so Spark's DECIMAL(28,6) and
    // DuckDB's DECIMAL(38,6) reprs can't hash-diverge (same value, same
    // IEEE bits after the cast).
    Entry("e1_stream_window_counts", (s, d) =>
      EventStream.backfillWindowedCounts(s, s"$d/events.parquet")
        .select(col("window_start"), col("event_type"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("window_start", "event_type"),
      windowCountsSql),

    // Streaming over a JSONL event feed: the e1 aggregation ingesting
    // line-delimited JSON (the live-tail file-source shape) — must produce
    // bit-identical windows to the parquet path (same oracle as e1)
    Entry("e6_stream_jsonl_counts", (s, d) =>
      EventStream.backfillWindowedCountsJsonl(s, s"$d/events.parquet")
        .select(col("window_start"), col("event_type"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("window_start", "event_type"),
      // e6 must reproduce e1 exactly from the JSONL staging of the same events
      windowCountsSql),

    // E10 incremental ingest across invocations: the landing-directory
    // pattern — half the events land, a checkpointed AvailableNow run
    // commits them; the other half arrive, a SECOND run with the same
    // checkpoint processes only the new files (per-run input counts
    // spec-pinned; the oracle gates the union). Exactly-once sink via the
    // parquet _spark_metadata log
    Entry("e10_incremental_ingest", (s, d) => {
      val root = scratch("e10-incr")
      // fresh landing/checkpoint/sink per call: the checkpoint IS the
      // cross-run state under test, so each harness invocation must
      // replay both arrivals from scratch to be deterministic
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(root))
      val ev = events(s, d)
      ev.where(col("event_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$root/landing")
      EventStream.incrementalIngest(s, s"$root/landing", s"$root/sink", s"$root/ckpt")
      ev.where(col("event_id") % 2 === 1)
        .write.mode("append").parquet(s"$root/landing")
      EventStream.incrementalIngest(s, s"$root/landing", s"$root/sink", s"$root/ckpt")
      s.read.parquet(s"$root/sink")
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy("event_id")
    },
      // e10: two checkpointed arrivals reconstruct exactly the full table
      // (ts::TIMESTAMP floors ns to µs, matching the ingest normalization)
      "SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value " +
        "FROM events ORDER BY event_id"),

    // Streaming: EXACT distinct users per hour window (the DAU primitive)
    // as two chained stateful stages under one watermark — streaming dedup
    // on (window, user) then the windowed count (exact distinct aggregation
    // is unsupported in a streaming agg; this is the standard exact
    // decomposition). Append emission: the oracle keeps windows whose end
    // precedes the final watermark (max event time − 1 h), the e7/e9
    // cutoff-encoding discipline
    Entry("e12_window_unique_users", (s, d) =>
      EventStream.backfillWindowedUniqueUsers(s, s"$d/events.parquet")
        .orderBy("window_start"),
      // e12: append-mode emission keeps windows whose END the final
      // watermark (max event time − the 1 h delay) has passed
      "WITH mx AS (SELECT max(ts) AS m FROM events), " +
        "agg AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, " +
        "count(DISTINCT user_id) AS unique_users FROM events GROUP BY 1) " +
        "SELECT window_start, unique_users FROM agg, mx " +
        "WHERE window_start + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR " +
        "ORDER BY window_start"),

    // Streaming × similarity: the planted batch STREAMS into the persisted
    // IVF index (one frozen-codebook ivfAppend per micro-batch;
    // maxFilesPerTrigger=1 over a 4-file landing dir forces 4 real
    // batches). Assignment is a pure per-row function, so batching cannot
    // change the index — the post-stream partial-probe search is held to
    // the same exact-cosine oracle as v8's monolithic append
    // E25 STREAMING DEDUP-INDEX ingest: the d9 signature index kept
    // current by the stream — per-batch signatures land as idempotent
    // batch directories (base at batch=-1), and the incremental pair
    // check then runs from SIGNATURES ALONE on both sides (no text
    // re-read anywhere); same expected pairs as d9, same honest
    // text-recomputing oracle
    Entry("e25_stream_dedup_ingest", (s, d) =>
      indexedIncrementalPairs(s, streamedSignatureIndex(s, d, "e25")),
      // e25: the stream-maintained signature index must answer the SAME
      // incremental dedup as d9 — identical expected pairs, identical
      // honest text-recomputing oracle
      incrementalDedupSql),

    // E26 SIGNATURE-LOG compaction: the e16/e21 lifecycle discipline on
    // the third log type — aged batch directories fold into the batch=-1
    // segment by PLAIN UNION (row concatenation, trivially order-free),
    // horizon marker advanced; the compacted index must answer the SAME
    // incremental dedup (row-identical by construction), same oracle
    Entry("e26_sig_log_compaction", (s, d) => {
      val dir = streamedSignatureIndex(s, d, "e26")
      EventStream.compactSignatureIndexLog(s, dir, upToBatch = 2L)
      indexedIncrementalPairs(s, dir)
    },
      // e26: compaction is a physical row-identical rewrite — the folded
      // index answers the same pairs
      incrementalDedupSql),

    Entry("e11_stream_index_ingest", (s, d) => {
      val all = plantedTopKEmb(s, d)
      val base = all.where(col("vec_id") < 200000L)
      val batch = all.where(col("vec_id") >= 200000L)
      val cents = Similarity.ivfCentroids(base, 32)
      val dir = scratch("e11-ivfidx")
      val landing = scratch("e11-landing")
      writeCellIndex(Similarity.ivfIndex(base, cents), dir) // static overwrite resets the scratch index
      batch.repartition(4).write.mode("overwrite").parquet(landing)
      EventStream.streamIngestToIndex(s, landing, cents, dir)
      indexedTop10(s, d, dir, cents)
    },
      // e11: the STREAMED append (per-micro-batch ivfAppend) must recall
      // the same exact top-10 — batching cannot change pure per-row
      // assignment
      plantedTopkSql),

    // E36 STREAMING chi-squared gate: c17's contingency counts are pure
    // per-key sums, so each snapshot side lands per-batch (category, d_n)
    // deltas via the e15/e27 sum-log discipline; the order-free re-sums
    // FULL-OUTER align into the contingency table and the SHARED
    // chiSquareFromCells makes stream ≡ batch — c17's oracle VERBATIM
    Entry("e36_stream_chi2", (s, d) => {
      val m = Corpus.metadata(s, d)
      val v2 = recategorized(m)
      val src1 = staged("e36-src1")(m.repartition(4).write.parquet(_))
      val src2 = staged("e36-src2")(v2.repartition(4).write.parquet(_))
      val del1 = scratch("e36-deltas1"); val del2 = scratch("e36-deltas2")
      EventStream.streamCategoryCountFold(s, src1, del1, "category")
      EventStream.streamCategoryCountFold(s, src2, del2, "category")
      graft.operators.Quality.chiSquareFromCells(
        EventStream.foldContingency(s, del1, del2))
    },
      // e36: the STREAMED contingency fold must equal the batch gate
      chi2DriftSql),

    // E13 streaming VALIDATED ingest: the c2 constraint gate applied
    // in-flight — each micro-batch splits on the violation predicate,
    // good rows to the sink, violators to quarantine (never silently
    // dropped). Violations are PLANTED (every 97th event's value
    // corrupted negative, every 101st NULLED — the predicate evaluates
    // to null on those rows and the null-safe split must quarantine
    // them, not lose them; both engines derive the same set); replay-
    // safe via per-batch-directory overwrite; maxFilesPerTrigger=1
    // forces the real multi-batch path. Gated on counts + the good-side
    // value sum
    Entry("e13_validated_ingest", (s, d) => {
      val out = scratch("e13-out")
      val src = staged("e13-src")(
        events(s, d)
          .withColumn("value",
            when(col("event_id") % 101 === 0, lit(null))
              .when(col("event_id") % 97 === 0, -col("value") - 1)
              .otherwise(col("value")))
          .write.parquet(_))
      val (nGood, nQuar) = EventStream.validatedIngest(s, src, out,
        bad = col("value") < 0)
      val goodSum = s.read.parquet(s"$out/good")
        .agg(round(sum(col("value").cast("decimal(18,6)")), 4)
          .cast("double").as("sum_good_value"))
      goodSum.select(lit(nGood).as("n_good"), lit(nQuar).as("n_quarantined"),
        col("sum_good_value"))
    },
      // e13: the same planted corruption derived in SQL (nulls first —
      // a 97·101 multiple is nulled, not negated); a null value is NOT
      // `>= 0`, so it counts quarantined, mirroring the engine's
      // null-safe split; good/quarantine counts and the good-side
      // decimal value sum must match the rows the stream actually landed
      "WITH c AS (SELECT CASE WHEN event_id % 101 = 0 THEN NULL " +
        "WHEN event_id % 97 = 0 THEN -value - 1 " +
        "ELSE value END AS value FROM events) " +
        "SELECT sum(CASE WHEN value >= 0 THEN 1 ELSE 0 END)::BIGINT AS n_good, " +
        "sum(CASE WHEN value >= 0 THEN 0 ELSE 1 END)::BIGINT AS n_quarantined, " +
        "round(sum(CASE WHEN value >= 0 THEN value::DECIMAL(18,6) END), 4)::DOUBLE " +
        "AS sum_good_value FROM c"),

    // E37 STREAMING stickiness: the (day, user) substrate as a SET log —
    // per-batch distinct pairs land idempotently (union is order-free and
    // duplicate-immune, the e31 argument), the distinct-union rebuilds
    // the exact pair table, and the SHARED stickinessFromPairs report
    // makes stream ≡ batch — j23's oracle VERBATIM
    Entry("e37_stream_stickiness", (s, d) => {
      val src = staged("e37-src")(events(s, d).repartition(4).write.parquet(_))
      val deltas = scratch("e37-deltas")
      EventStream.streamDayUserFold(s, src, deltas)
      graft.operators.EventAnalytics.stickinessFromPairs(
        EventStream.readDeltaLog(s, deltas).select("day", "user_id").distinct())
    },
      stickinessSql),

    // E14 streaming sketch-rollup maintenance: the x16 fold kept current
    // by the stream — each micro-batch lands per-day HLL partials in its
    // own batch directory (idempotent replay), the rollup is a log that
    // range queries union-merge on read. The staged source is the corpus
    // DOUBLED across four files (multi-batch path + duplicate delivery:
    // HLL union must not care), gated against the EXACT distinct of the
    // original events
    Entry("e14_stream_sketch_fold", (s, d) => {
      val rollup = scratch("e14-rollup")
      val src = staged("e14-src") { dir =>
        val ev0 = events(s, d)
        ev0.unionByName(ev0).repartition(4).write.parquet(dir)
      }
      EventStream.streamSketchFold(s, src, rollup)
      rangeDistinctCheck(EventStream.withEventTime(events(s, d)),
        s.read.parquet(s"$rollup/days"))
    },
      // e14: the x16 gate over the streaming-maintained rollup — exact
      // distinct from raw rows, sketch estimate within tolerance
      rangeDistinctSql),

    // E20 STREAMING heavy-hitters maintenance — the x19 rollup kept
    // current by the ingest stream (the e14/e15 symmetry for the fourth
    // summary tier): per-batch exact (day, key) count deltas land in
    // idempotent batch directories; the read side re-sums the log in any
    // order — batches OVERLAP days here (repartitioned source), so the
    // fold is genuinely exercised — and prunes once over complete
    // counts; at gate m the range top-k equals the exact oracle (same
    // query as x19)
    Entry("e20_stream_topk_fold", (s, d) => {
      val log = scratch("e20-log")
      val src = staged("e20-src")(events(s, d).repartition(4).write.parquet(_))
      EventStream.streamTopKCountFold(s, src, log)
      rangeTop10(graft.operators.SketchRollup.candidatesFromCountLog(
        EventStream.readDeltaLog(s, log), m = 2048))
    },
      // e20/e21: the streamed count-delta log (raw, and compacted) re-sums
      // to the same exact counts, so the oracle is x19's query verbatim
      topkRollupSql),

    // E21 count-log compaction — the e16 discipline on the e20 log: fold
    // aged batch directories (+ the existing compact segment) into ONE
    // batch=-1 segment by the plain re-sum, sweep them, advance the
    // horizon so stale replays are ignored; the compacted fold must equal
    // the same exact top-k the uncompacted log (e20) and the raw corpus
    // (x19) produce
    Entry("e21_topk_log_compaction", (s, d) => {
      val log = scratch("e21-log")
      val src = staged("e21-src")(events(s, d).repartition(4).write.parquet(_))
      EventStream.streamTopKCountFold(s, src, log)
      EventStream.compactTopKCountLog(s, log, upToBatch = 2L)
      rangeTop10(graft.operators.SketchRollup.candidatesFromCountLog(
        EventStream.readDeltaLog(s, log), m = 2048))
    },
      topkRollupSql),

    // Streaming custom state: gap sessionization via flatMapGroupsWithState,
    // watermark-gated emission (trailing open sessions stay in state)
    Entry("e2_sessionize", (s, d) =>
      EventStream.backfillSessions(s, s"$d/events.parquet")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("sum_value").cast("double").as("sum_value"))
        .orderBy("user_id", "session_start"),
      // ts::TIMESTAMP floors the parquet ns timestamps to µs, matching the
      // engine's timestamp_micros(ts/1000) normalization
      "WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts, round(value, 6)::DECIMAL(18,6) AS v FROM events), " +
        "b AS (SELECT user_id, ts, v, CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > 21600000 THEN 1 ELSE 0 END AS brk " +
        "FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "s AS (SELECT user_id, ts, v, sum(brk) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM b), " +
        "agg AS (SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end, " +
        "count(*) AS n_events, sum(v) AS sum_value FROM s GROUP BY 1, 2), " +
        "wm AS (SELECT epoch_ms(max(ts)) - 3600000 AS wm FROM ev) " +
        "SELECT user_id, session_start, session_end, n_events, sum_value::DOUBLE AS sum_value " +
        "FROM agg, wm WHERE epoch_ms(session_end) + 21600000 <= wm " +
        "ORDER BY user_id, session_start"),

    // E33 streaming top-paths: j16's session-path mining kept current BY
    // INGEST — per-user event buffers re-split at the strict-gap boundary
    // each batch (out-of-order exact), sessions emit once the watermark
    // passes last+gap, the report rides the SHARED path aggregation —
    // stream ≡ batch j16 with the e2-style watermark cutoff
    Entry("e33_stream_paths", (s, d) =>
      graft.operators.EventAnalytics.topPathsFromSessionPaths(
        EventStream.backfillSessionPaths(s, s"$d/events.parquet")),
      // e33: j16's chain VERBATIM plus the e2-style watermark cutoff —
      // only sessions whose last event + gap lies strictly below the
      // final watermark (max event ms − 1 h delay) are final and counted
      topPathsSql("wm AS (SELECT max(us // 1000) - 3600000 AS w FROM e), ",
        "ends AS (SELECT user_id, sess, max(us) AS last_us FROM s2 GROUP BY 1, 2), " +
        "p AS (SELECT s3.user_id, s3.sess, string_agg(event_type, '>' ORDER BY pos) AS path " +
        "FROM s3 JOIN ends USING (user_id, sess) CROSS JOIN wm " +
        "WHERE pos <= 12 AND (last_us + 1800000000) // 1000 < wm.w GROUP BY 1, 2) ")),

    // Streaming built-in state: the SAME sessionization via the native
    // session_window operator — inclusive gap merge at µs grain (an event
    // exactly `gap` later still merges, spec-pinned) and watermark-passes-
    // window-end emission, both encoded µs-exact in its own oracle (the
    // custom e2 operator compares at FLOORED-ms grain; with sub-ms event
    // times the twins differ inside the sub-ms boundary band, so each
    // stays independently oracle-checked)
    Entry("e9_native_sessions", (s, d) =>
      EventStream.backfillNativeSessions(s, s"$d/events.parquet")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("sum_value").cast("double").as("sum_value"))
        .orderBy("user_id", "session_start"),
      // e9: native session_window semantics — µs-exact INCLUSIVE gap merge
      // (sessions merge while the break is <= gap; spec-pinned at the exact
      // boundary) and µs-exact emission against the ms-quantized watermark
      // (sub-ms event times are the norm in this corpus, so e2's ms-floored
      // comparisons would be wrong here and vice versa)
      "WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts, round(value, 6)::DECIMAL(18,6) AS v FROM events), " +
        "b AS (SELECT user_id, ts, v, CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER w) > 21600000000 THEN 1 ELSE 0 END AS brk " +
        "FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
        "s AS (SELECT user_id, ts, v, sum(brk) OVER (PARTITION BY user_id ORDER BY ts " +
        "ROWS UNBOUNDED PRECEDING) AS sid FROM b), " +
        "agg AS (SELECT user_id, sid, min(ts) AS session_start, max(ts) AS session_end, " +
        "count(*) AS n_events, sum(v) AS sum_value FROM s GROUP BY 1, 2), " +
        "wm AS (SELECT (epoch_ms(max(ts)) - 3600000) * 1000 AS wm_us FROM ev) " +
        "SELECT user_id, session_start, session_end, n_events, sum_value::DOUBLE AS sum_value " +
        "FROM agg, wm WHERE epoch_us(session_end) + 21600000000 <= wm_us " +
        "ORDER BY user_id, session_start"),

    // Streaming exact dedup: every event delivered twice; the operator must
    // reconstruct exactly the original table (bounded state via
    // dropDuplicatesWithinWatermark)
    Entry("e3_stream_dedup", (s, d) =>
      EventStream.backfillStreamDedup(s, s"$d/events.parquet")
        .select(col("event_id"), col("event_type"),
          col("value").cast("decimal(18,6)").cast("double").as("value"))
        .orderBy("event_id"),
      "SELECT event_id, event_type, (value::DECIMAL(18,6))::DOUBLE AS value " +
        "FROM events ORDER BY event_id"),

    // Streaming stream-static enrichment: broadcast dim join inside the
    // micro-batch, then the windowed aggregate (complete-mode backfill)
    Entry("e4_enriched_counts", (s, d) =>
      EventStream.backfillEnrichedCounts(s, s"$d/events.parquet")
        .select(col("window_start"), col("tier"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("window_start", "tier"),
      // the dim is user_id → 'tier' || (user_id % 3), derived from the same
      // event log, so the inner join keeps every event
      "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, " +
        "'tier' || (user_id % 3)::VARCHAR AS tier, count(*) AS cnt, " +
        "sum(value::DECIMAL(18,6))::DOUBLE AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"),

    // Streaming stream-stream interval join: click→purchase attribution
    // within the hour, per user (watermark-bounded state both sides)
    Entry("e5_stream_join", (s, d) =>
      EventStream.backfillAttribution(s, s"$d/events.parquet")
        .select(col("click_id"), col("purchase_id"), col("user_id"))
        .orderBy("click_id", "purchase_id"),
      "SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id " +
        "FROM events a JOIN events b ON a.user_id = b.user_id " +
        "AND a.event_type = 'click' AND b.event_type = 'purchase' " +
        "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR " +
        "ORDER BY click_id, purchase_id"),

    // Streaming stream-stream LEFT OUTER interval join: matched pairs as
    // e5, plus null-joined rows for clicks the watermark has proven
    // unmatchable. The oracle mirrors the emission rule: an unmatched
    // click emits iff click_ts + horizon < final watermark (max ts − 1 h).
    Entry("e7_attribution_outer", (s, d) =>
      EventStream.backfillAttributionOuter(s, s"$d/events.parquet")
        .select(col("click_id"), col("purchase_id"), col("user_id"))
        .orderBy("click_id", "purchase_id"),
      "WITH ev AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type FROM events), " +
        "c AS (SELECT event_id AS click_id, user_id, ts AS click_ts FROM ev WHERE event_type = 'click'), " +
        "p AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts FROM ev WHERE event_type = 'purchase'), " +
        "j AS (SELECT c.click_id, p.purchase_id, c.user_id FROM c JOIN p ON c.user_id = p.user_id " +
        "AND p.purchase_ts >= c.click_ts AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR), " +
        // the global watermark is the MIN over the two sides' per-column
        // watermarks (each defined after its event_type filter)
        "wm AS (SELECT least((SELECT max(click_ts) FROM c), (SELECT max(purchase_ts) FROM p)) - INTERVAL 1 HOUR AS wm) " +
        "SELECT * FROM j UNION ALL " +
        "SELECT c.click_id, NULL::BIGINT AS purchase_id, c.user_id FROM c, wm " +
        "WHERE c.click_ts + INTERVAL 1 HOUR < wm.wm " +
        "AND NOT EXISTS (SELECT 1 FROM j WHERE j.click_id = c.click_id) " +
        "ORDER BY click_id, purchase_id"),

    // E8 streaming catalog ingest: events stream into the versioned store
    // via foreachBatch — each micro-batch collapses distributedly to its
    // net change set (latest event per user, ties by event_id) and commits
    // ONE delta; the registered result is the store's resolved final state,
    // held to a latest-per-key SQL oracle over the same events
    Entry("e8_stream_store_ingest", (s, d) => {
      val store = freshStore(s)
      EventStream.streamIngestToStore(s, s"$d/events.parquet", store) { batch =>
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
        batch.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
          .select(
            format_string("%06d", col("user_id")).as("id"),
            col("event_type").as("category"),
            lit(null).cast("timestamp").as("creationTime"), // store clock fills
            when(length(col("props")) > 0, col("props")).otherwise("none").as("dataSample"),
            lit("json").as("format"),
            (col("user_id") % 2 === 0).as("isPublic"),
            concat(lit("org"), (col("user_id") % 5).cast("string")).as("orgUUID"),
            col("event_id").as("recordCount"),
            col("user_id").as("size"),
            lit("http://src.example.com/events").as("sourceUri"),
            concat(lit("http://data.example.com/u/"), col("user_id").cast("string")).as("targetUri"),
            concat(lit("evt-"), col("event_id").cast("string")).as("title"),
            lit(null).cast("string").as("storeType"))
          .as(Encoders.product[MetadataEntry])
      }
      store.current
        .select(col("id"), col("category"), col("recordCount").as("record_count"),
          col("size"), col("isPublic").as("is_public"),
          col("orgUUID").as("org_uuid"), col("title"))
        .orderBy("id")
    },
      // e8: the store's final state = the latest event per user (ties by
      // event_id), projected through the same entry mapping
      // ts::TIMESTAMP floors ns→µs like the engine's withEventTime (same
      // rule as j1 below); printf never truncates wide ids (lpad would)
      "WITH latest AS (SELECT *, row_number() OVER (PARTITION BY user_id " +
        "ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rn FROM events) " +
        "SELECT printf('%06d', user_id) AS id, event_type AS category, " +
        "event_id AS record_count, user_id AS size, user_id % 2 = 0 AS is_public, " +
        "'org' || (user_id % 5)::VARCHAR AS org_uuid, 'evt-' || event_id::VARCHAR AS title " +
        "FROM latest WHERE rn = 1 ORDER BY id")
  )
}
