package graft
package entries

import graft.GraftSession.scratch
import graft.operators.{Dedup, TextAnalysis}
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Pretraining-corpus pipeline entries: filtering, sampling, mixing, packing, sharding and takedowns. */
object Pretraining {
  val entries: Seq[Entry] = Seq(
    // Composed pre-training pipeline: language gate + quality gate +
    // fuzzy-dedup survivors, one narrow gate stage + the blocked dedup leg
    Entry("p1_pretrain_corpus", (s, d) =>
      graft.operators.Pipeline.pretrainCorpus(docs(s, d)).orderBy("doc_id"),
      {
        JaccardCte +
          s", sc AS (SELECT doc_id, $langScores FROM toks) " +
          ", lang AS (SELECT doc_id, CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en' " +
          "WHEN es >= de AND es >= fr AND es > 0 THEN 'es' WHEN de >= fr AND de > 0 THEN 'de' " +
          "WHEN fr > 0 THEN 'fr' ELSE 'unknown' END AS predicted_lang FROM sc) " +
          qualCte("qual") +
          ", surv AS (SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT b_id FROM jac WHERE jaccard >= 0.8)) " +
          "SELECT d.doc_id, predicted_lang, quality FROM documents d JOIN lang USING(doc_id) " +
          "JOIN qual USING(doc_id) JOIN surv USING(doc_id) " +
          "WHERE predicted_lang = 'en' AND quality >= 0.4::DOUBLE ORDER BY doc_id"
      }),

    // Pipeline: deterministic train/val/test split (Knuth multiplicative
    // hash — reprocessing-stable, engine-portable integer arithmetic)
    Entry("p2_hash_split", (s, d) =>
      graft.operators.Pipeline.hashSplit(docs(s, d)).orderBy("doc_id"),
      "SELECT doc_id, CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split " +
        "FROM (SELECT doc_id, ((doc_id * 2654435761) % 4294967296) % 100 AS b FROM documents) " +
        "ORDER BY doc_id"),

    // Pipeline: eval-set decontamination — doc_id % 97 == 0 plays the eval
    // benchmark; every remaining training doc is scored by distinct shared
    // 5-grams (the planted near-dup groups guarantee non-trivial hits
    // whenever an eval doc has a near-duplicate in the training split)
    Entry("p3_decontaminate", (s, d) => {
      val dd = docs(s, d)
      graft.operators.Pipeline.contamination(
        dd.where(col("doc_id") % 97 =!= 0), dd.where(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    },
      T + ", ng AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
        "range(1, len(t)-3), i -> array_to_string(t[i:i+4], ' ')))) AS ng FROM toks) " +
        ", ev AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 97 = 0) " +
        ", shared AS (SELECT g.doc_id, count(*) AS n_shared FROM ng g JOIN ev USING (ng) " +
        "WHERE g.doc_id % 97 <> 0 GROUP BY 1) " +
        "SELECT d.doc_id, coalesce(s.n_shared, 0) AS n_shared, " +
        "coalesce(s.n_shared, 0) > 0 AS contaminated " +
        "FROM documents d LEFT JOIN shared s USING (doc_id) " +
        "WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id"),

    // Pipeline: token-budget curation — top 25% of docs by quality score,
    // ties by doc_id (rank-based: no interpolated quantile threshold)
    Entry("p4_quality_sample", (s, d) =>
      graft.operators.Pipeline.qualitySample(docs(s, d)).orderBy("doc_id"),
      T + qualCte("qual") +
        "SELECT doc_id, quality FROM qual " +
        "QUALIFY row_number() OVER (ORDER BY quality DESC, doc_id) <= (SELECT ceil(count(*) * 0.25) FROM qual) " +
        "ORDER BY doc_id"),

    // Pipeline: shard-local sequence packing (concatenate-and-chunk pack
    // assignment, the pretraining batch discipline; per-shard window only)
    Entry("p5_pack_sequences", (s, d) =>
      graft.operators.Pipeline.packSequences(docs(s, d)).orderBy("doc_id"),
      T + ", c AS (SELECT doc_id, doc_id % 32 AS shard, len(t)::BIGINT AS n_tokens FROM toks) " +
        ", o AS (SELECT doc_id, shard, n_tokens, " +
        "(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS start_offset FROM c) " +
        "SELECT doc_id, shard, n_tokens, start_offset, " +
        "(shard * 1000000 + start_offset // 512)::BIGINT AS pack_id FROM o ORDER BY doc_id"),

    // Pipeline: packing v2 — shard-local FIRST-FIT-DECREASING into fixed
    // 512-token bins: documents stay WHOLE (vs p5's chunk splits), waste
    // is eaten near-optimally (FFD ≤ 11/9·OPT bins); deterministic
    // (len desc, doc_id) scan per shard, honest sequential flatMapGroups
    Entry("p22_pack_ffd", (s, d) =>
      graft.operators.Pipeline.packFirstFitDecreasing(docs(s, d)),
      // p22: the FFD scan replayed EXACTLY as a recursive CTE over the
      // (len desc, doc_id) rank order — state is each shard's bin-load
      // LIST, one rank consumed per recursion step across all shards in
      // parallel; list_position finds the first fitting bin (coalesce/=0
      // is the not-found branch: this build returns 0, others NULL)
      {
        val P = "coalesce(list_position(list_transform(st.loads, x -> x + d.n <= 512), true), 0)"
        "WITH RECURSIVE toks AS (SELECT doc_id, " +
          "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t " +
          "FROM documents), " +
          "c AS (SELECT doc_id, doc_id % 32 AS shard, least(len(t), 512)::BIGINT AS n FROM toks), " +
          "ranked AS (SELECT doc_id, shard, n, " +
          "row_number() OVER (PARTITION BY shard ORDER BY n DESC, doc_id) AS r FROM c), " +
          "st(shard, r, loads, doc_id, n, bin) AS (" +
          "SELECT shard, r, [n], doc_id, n, 0::BIGINT FROM ranked WHERE r = 1 " +
          "UNION ALL " +
          "SELECT d.shard, d.r, " +
          s"CASE WHEN $P = 0 THEN list_concat(st.loads, [d.n]) " +
          s"ELSE list_concat(list_concat(st.loads[1:$P - 1], [st.loads[$P] + d.n]), st.loads[$P + 1:]) END, " +
          "d.doc_id, d.n, " +
          s"CASE WHEN $P = 0 THEN len(st.loads)::BIGINT ELSE ($P - 1)::BIGINT END " +
          "FROM st JOIN ranked d ON d.shard = st.shard AND d.r = st.r + 1) " +
          "SELECT doc_id, shard::BIGINT AS shard, n AS n_tokens, bin, " +
          "(shard * 1000000 + bin)::BIGINT AS bin_id FROM st ORDER BY doc_id"
      }),

    // Pipeline: CCNet perplexity bucketing — head/middle/tail at the
    // 33rd/67th cross-entropy percentile THRESHOLDS (value semantics, no
    // global sort); 1-row threshold broadcast, narrow bucketing map
    Entry("p15_perplexity_buckets", (s, d) =>
      graft.operators.Pipeline.perplexityBuckets(docs(s, d)).orderBy("doc_id"),
      // p15: t16's chain to scores, quantile_cont thresholds (the same
      // rank = q·(n−1) interpolation), value-threshold CASE
      T + ", bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg FROM toks), " +
        "bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2), " +
        "corpus AS (SELECT bg, sum(c) AS bcnt, string_split(bg, ' ')[1] AS w1 FROM bc GROUP BY bg), " +
        "pfx AS (SELECT w1, sum(bcnt) AS pc FROM corpus GROUP BY 1), " +
        "sc AS (SELECT doc_id, round(sum(c * -ln(bcnt::DOUBLE / pc)) / sum(c), 4) AS xent2 " +
        "FROM bc JOIN corpus USING (bg) JOIN pfx USING (w1) GROUP BY doc_id), " +
        "b AS (SELECT round(quantile_cont(xent2, 0.3333333333333333), 6) AS b_lo, " +
        "round(quantile_cont(xent2, 0.6666666666666666), 6) AS b_hi FROM sc) " +
        "SELECT doc_id, xent2, CASE WHEN xent2 <= b_lo THEN 'head' " +
        "WHEN xent2 <= b_hi THEN 'middle' ELSE 'tail' END AS bucket " +
        "FROM sc, b ORDER BY doc_id"),

    // Pipeline: seeded deterministic epoch shuffle — every document's
    // (shard, pos) for an epoch is a pure function of (doc_id, seed)
    // through engine-portable integer hashing, so training order differs
    // per epoch yet replays bit-identically; the oracle recomputes the
    // full permutation independently
    Entry("p16_epoch_shuffle", (s, d) =>
      graft.operators.Pipeline.epochOrder(docs(s, d), shards = 8, seed = 3L)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos"),
      "WITH h AS (SELECT doc_id, " +
        "((doc_id + 3 * 1000003) * 2654435761) % 4294967296 AS hv FROM documents) " +
        "SELECT doc_id, hv % 8 AS shard, " +
        "row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos " +
        "FROM h ORDER BY shard, pos"),

    // P21 mixture epoch plan: tokens-per-source and EPOCHS required to
    // hit a 50/30/20 mix at a 10k-token budget — the data-constrained-
    // scaling check; floor-div micros, unlisted sources visible at
    // weight 0, over-4-epoch sources flagged
    Entry("p21_epoch_plan", (s, d) =>
      graft.operators.Pipeline.mixtureEpochPlan(docs(s, d),
        Map("src0" -> 500000L, "src1" -> 300000L, "src2" -> 200000L),
        budgetTokens = 10000L),
      // p21: the same availability aggregate, CASE-literal weights, and
      // floor-div plan arithmetic
      // full-outer against the spec VALUES so a spec'd-but-absent source
      // surfaces (the engine's documented headline case), and over_cap's
      // null fallback mirrors the engine's planned > 0
      "WITH a AS (SELECT source, " +
        "sum(len(regexp_extract_all(text, '[^ \\t\\n\\r]+')))::BIGINT AS avail_tokens " +
        "FROM documents GROUP BY 1), " +
        "spec AS (SELECT * FROM (VALUES ('src0'), ('src1'), ('src2')) s(source)), " +
        "u AS (SELECT coalesce(a.source, spec.source) AS source, " +
        "coalesce(a.avail_tokens, 0)::BIGINT AS avail_tokens " +
        "FROM a FULL OUTER JOIN spec ON a.source = spec.source), " +
        "w AS (SELECT source, avail_tokens, CASE source WHEN 'src0' THEN 500000 " +
        "WHEN 'src1' THEN 300000 WHEN 'src2' THEN 200000 ELSE 0 END::BIGINT AS weight_e6 " +
        "FROM u), " +
        "p AS (SELECT *, (weight_e6 * 10000) // 1000000 AS planned_tokens FROM w) " +
        "SELECT source, avail_tokens, weight_e6, planned_tokens::BIGINT AS planned_tokens, " +
        "(CASE WHEN avail_tokens > 0 THEN (planned_tokens * 1000000) // avail_tokens END)::BIGINT AS epochs_e6, " +
        "coalesce(CASE WHEN avail_tokens > 0 THEN (planned_tokens * 1000000) // avail_tokens END > 4000000, " +
        "planned_tokens > 0) AS over_cap " +
        "FROM p ORDER BY source"),

    // P23 temperature-resampled mixture weights (α = 1/2, the mT5/XLM-R
    // up-sampling recipe): sampling share ∝ √n via exact integer square
    // root (float seed corrected ±1 — libm perfect-square rounding can't
    // diverge engines), boost over natural share in floor-div micros —
    // the derived-weights complement feeding p21's epoch planner
    Entry("p23_temperature_mix", (s, d) =>
      graft.operators.Pipeline.temperatureMixWeights(docs(s, d)),
      // p23: the identical exact-isqrt weights (float seed, ±1 integer
      // correction), HUGEINT-widened floor-div shares, null boost when
      // the natural share floors to 0
      "WITH c AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1), " +
        "q AS (SELECT source, n_docs, CAST(floor(sqrt(n_docs::DOUBLE)) AS BIGINT) AS s0 FROM c), " +
        "w AS (SELECT source, n_docs, " +
        "CASE WHEN (s0 + 1) * (s0 + 1) <= n_docs THEN s0 + 1 " +
        "WHEN s0 * s0 > n_docs THEN s0 - 1 ELSE s0 END AS w_sqrt FROM q), " +
        "t AS (SELECT sum(w_sqrt)::HUGEINT AS wsum, sum(n_docs)::HUGEINT AS nsum FROM w) " +
        "SELECT source, n_docs, w_sqrt, " +
        "((w_sqrt::HUGEINT * 1000000) // wsum)::BIGINT AS share_e6, " +
        "((n_docs::HUGEINT * 1000000) // nsum)::BIGINT AS natural_share_e6, " +
        "CASE WHEN ((n_docs::HUGEINT * 1000000) // nsum) > 0 THEN " +
        "((((w_sqrt::HUGEINT * 1000000) // wsum) * 1000000) // ((n_docs::HUGEINT * 1000000) // nsum))::BIGINT END AS boost_e6 " +
        "FROM w, t ORDER BY source"),

    // P20 padding-efficiency audit of power-of-two length-bucketed
    // batching — tokens-on-the-floor per bucket cap, exact integers, one
    // codegen'd narrow pass + a |caps|-row aggregate
    Entry("p20_padding_efficiency", (s, d) =>
      graft.operators.Pipeline.paddingEfficiency(docs(s, d)),
      // p20: same whitespace token count, same CASE-chain cap assignment,
      // same clipped sums and floor-divided efficiency micros
      "WITH t AS (SELECT len(regexp_extract_all(text, '[^ \\t\\n\\r]+'))::BIGINT AS toks " +
        "FROM documents), " +
        "b AS (SELECT CASE WHEN toks <= 16 THEN 16 WHEN toks <= 32 THEN 32 " +
        "WHEN toks <= 64 THEN 64 ELSE 128 END::BIGINT AS cap, " +
        "least(toks, 128) AS tk FROM t) " +
        "SELECT cap, count(*)::BIGINT AS n_docs, sum(tk)::BIGINT AS sum_tokens, " +
        "(count(*) * cap)::BIGINT AS padded, " +
        "(count(*) * cap - sum(tk))::BIGINT AS waste, " +
        "((sum(tk) * 1000000) // (count(*) * cap))::BIGINT AS eff_e6 " +
        "FROM b GROUP BY cap ORDER BY cap"),

    // Pipeline: DSIR data selection (Xie et al. 2023) — the top-50 raw docs
    // by importance log-weight toward the English slice as target, explicit
    // 256-token target vocabulary, Laplace-smoothed unigram feature models
    // on both sides; the oracle re-derives vocabulary, both models, and the
    // per-doc log-ratio fold independently
    Entry("p19_dsir_sample", (s, d) => {
      val ds = docs(s, d)
      graft.operators.Pipeline
        .dsirTopK(ds, ds.where(col("lang") === "en"), n = 50, vocabSize = 256)
        .orderBy("rank")
    },
      dsirSampleSql),

    // P24 SELECTION-AGREEMENT audit: DSIR (p19) vs classifier (p14)
    // scored on ONE corpus — exact-integer Spearman ρ over the two
    // tie-broken rank permutations (floor-div micros, Σd² DECIMAL-
    // widened), top-50 overlap count, and the disagreement slice (docs
    // exactly one selector ships, both ranks + both raw scores); ranks
    // by the distributed bucketed prefix sum, never a global sort —
    // the audit that says when the two published methods diverge
    Entry("p24_selection_agreement", (s, d) => {
      val ds = docs(s, d)
      graft.operators.Pipeline.selectionAgreement(ds,
        ds.where(col("lang") === "en"), k = 50)
    },
      // p24: both score chains re-derived verbatim (p14's classifier
      // score, p19's DSIR logw), ranked by the same tie-broken total
      // orders, exact HUGEINT Spearman + overlap, XOR slice; tc/vocab/j
      // multiply-referenced → MATERIALIZED (the t31 rule)
      classifierScoreCte +
        ", sc2 AS (SELECT d.doc_id, coalesce(s, 0)::BIGINT AS score_micros " +
        "FROM documents d LEFT JOIN sc USING (doc_id)) " +
        ", tc AS MATERIALIZED (SELECT doc_id, tok, count(*) AS c " +
        "FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2) " +
        ", tgt AS (SELECT tok, sum(c) AS tc FROM tc JOIN documents USING (doc_id) " +
        "WHERE lang = 'en' GROUP BY 1) " +
        ", vocab AS MATERIALIZED (SELECT tok, tc FROM tgt ORDER BY tc DESC, tok LIMIT 256) " +
        ", rawc AS (SELECT tok, sum(c) AS rc FROM tc JOIN vocab USING (tok) GROUP BY 1) " +
        ", tt AS (SELECT sum(tc)::DOUBLE AS s FROM vocab) " +
        ", rt AS (SELECT sum(rc)::DOUBLE AS s FROM rawc) " +
        ", lr AS (SELECT tok, ln((tc + 1)::DOUBLE / (tt.s + 256)) - " +
        "ln((rc + 1)::DOUBLE / (rt.s + 256)) AS lw " +
        "FROM vocab JOIN rawc USING (tok), tt, rt) " +
        ", dsc AS (SELECT d.doc_id, round(coalesce(sum(u.c * u.lw), 0), 4) AS logw " +
        "FROM documents d LEFT JOIN " +
        "(SELECT tc.doc_id, tc.c, lr.lw FROM tc JOIN lr USING (tok)) u " +
        "ON d.doc_id = u.doc_id GROUP BY 1) " +
        ", dsr AS (SELECT doc_id, logw, " +
        "row_number() OVER (ORDER BY logw DESC, doc_id) AS dsir_rank FROM dsc) " +
        ", csr AS (SELECT doc_id, score_micros, " +
        "row_number() OVER (ORDER BY score_micros DESC, doc_id) AS clf_rank FROM sc2) " +
        ", j AS MATERIALIZED (SELECT dsr.doc_id, logw, score_micros, dsir_rank, clf_rank " +
        "FROM dsr JOIN csr USING (doc_id)) " +
        ", summ AS (SELECT count(*)::HUGEINT AS n, " +
        "sum((dsir_rank - clf_rank) * (dsir_rank - clf_rank))::HUGEINT AS sd2, " +
        "sum(CASE WHEN dsir_rank <= 50 AND clf_rank <= 50 THEN 1 ELSE 0 END)::BIGINT AS overlap_n FROM j) " +
        "SELECT doc_id, CASE WHEN dsir_rank <= 50 THEN 'dsir_only' ELSE 'clf_only' END AS side, " +
        "dsir_rank::BIGINT AS dsir_rank, clf_rank::BIGINT AS clf_rank, logw, score_micros, " +
        "(1000000 - (6 * sd2 * 1000000) // (n * n * n - n))::BIGINT AS rho_e6, overlap_n " +
        "FROM j, summ WHERE (dsir_rank <= 50) <> (clf_rank <= 50) " +
        "ORDER BY side, doc_id"),

    // Pipeline: temperature-sampled domain mixing (XLM-R α=0.5 shape) —
    // tempered shares from exact token counts via IEEE-exact sqrt +
    // integer-quantized normalization; Knuth-coin selection, broadcast
    // fractions, the corpus never shuffles
    Entry("p13_temperature_mix", (s, d) =>
      graft.operators.Pipeline.temperatureMix(docs(s, d)).orderBy("doc_id"),
      // p13: the tempered-share selection recomputed naively — sqrt of the
      // natural share, floor-quantized to e-12 units, normalized, same coin
      sourceKeepSql(
        "w AS (SELECT source, src_tok, corpus_tok, " +
        "floor(sqrt(src_tok::DOUBLE / corpus_tok) * 1e12)::BIGINT AS q FROM bysrc, tot), " +
        "qt AS (SELECT sum(q)::DOUBLE AS q_tot FROM w), " +
        "frac AS (SELECT source, least(1.0, 0.5 * corpus_tok * " +
        "(q::DOUBLE / q_tot) / src_tok) AS kf FROM w, qt) ")),

    // Pipeline: quality-WEIGHTED downsampling (GPT-3 curation shape) —
    // keep-probability = quality, decided by an exact integer coin-vs-
    // micros compare; narrow per-row map, no shuffle, no sampling state
    Entry("p12_weighted_sample", (s, d) =>
      graft.operators.Pipeline.weightedSample(docs(s, d)).orderBy("doc_id"),
      // p12: the same Knuth coin as p2/p8, but compared to the per-doc
      // quality MICROS integer — exact integer vs integer on both engines
      T + microsCte("q") +
        "SELECT doc_id, micros / 1000000.0 AS quality FROM q " +
        "WHERE ((doc_id * 2654435761) % 4294967296) % 1000000 < micros " +
        "ORDER BY doc_id"),

    // Pipeline: the LEARNED-model composition of p12 — keep-probability
    // min-max linear in the t20/t21 classifier score (the actual GPT-3
    // recipe shape), exact integer normalization, 2-long broadcast stat
    Entry("p14_classifier_sample", (s, d) => {
      val ds = docs(s, d)
      graft.operators.Pipeline.classifierWeightedSample(ds,
        TextAnalysis.trainQualityClassifier(ds)).orderBy("doc_id")
    },
      // p14: the classifier score recomputed from scratch (the t21 chain),
      // min-max normalized to keep-micros by the same integer HALF_UP
      // division, same coin
      classifierScoreCte +
        ", sc2 AS (SELECT d.doc_id, coalesce(s, 0)::BIGINT AS score_micros " +
        "FROM documents d LEFT JOIN sc USING (doc_id)) " +
        ", b AS (SELECT min(score_micros) AS lo, max(score_micros) AS hi FROM sc2) " +
        ", k AS (SELECT doc_id, score_micros, CASE WHEN hi = lo THEN 1000000 " +
        "ELSE (1000000 * (score_micros - lo) + (hi - lo) // 2) // (hi - lo) " +
        "END::BIGINT AS keep_micros FROM sc2, b) " +
        "SELECT doc_id, score_micros, keep_micros FROM k " +
        "WHERE ((doc_id * 2654435761) % 4294967296) % 1000000 < keep_micros " +
        "ORDER BY doc_id"),

    // Pipeline: per-language quota curation (data mixing) — top 50 docs per
    // detected language by quality, ties by doc_id
    Entry("p6_stratified_sample", (s, d) =>
      graft.operators.Pipeline.stratifiedSample(docs(s, d)).orderBy("doc_id"),
      T + s", sc AS (SELECT doc_id, $langScores FROM toks) " +
        ", lang AS (SELECT doc_id, CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en' " +
        "WHEN es >= de AND es >= fr AND es > 0 THEN 'es' WHEN de >= fr AND de > 0 THEN 'de' " +
        "WHEN fr > 0 THEN 'fr' ELSE 'unknown' END AS lang FROM sc) " +
        qualCte("qual") +
        ", ranked AS (SELECT l.doc_id, lang, quality, " +
        "row_number() OVER (PARTITION BY lang ORDER BY quality DESC, l.doc_id)::BIGINT AS rank " +
        "FROM lang l JOIN qual USING (doc_id)) " +
        "SELECT doc_id, lang, quality, rank FROM ranked WHERE rank <= 50 ORDER BY doc_id"),

    // Pipeline: domain-mixture curation — sources reweighted to a linear
    // share recipe (src k gets share (k+1)/210) against half the corpus's
    // token budget, selection by the engine-portable Knuth hash
    Entry("p8_domain_mix", (s, d) => {
      val dd = docs(s, d)
      val shares = dd.select(col("source")).distinct()
        .select(col("source"),
          ((substring(col("source"), 4, 10).cast("int") + 1) / lit(210.0)).as("share"))
      graft.operators.Pipeline.domainMix(dd, shares, budgetFrac = 0.5)
        .orderBy("doc_id")
    },
      // p8: same Knuth-hash selection as p2, fractions from the per-source
      // token totals and the linear share recipe (src k → (k+1)/210)
      sourceKeepSql(
        "frac AS (SELECT source, least(1.0, 0.5 * corpus_tok * " +
        "((substr(source, 4)::INT + 1) / 210.0) / src_tok) AS kf FROM bysrc, tot) ")),

    // Pipeline: deterministic sharded EXPORT — the delivery step. The
    // corpus is written as 8 one-file shard directories (Knuth-hash
    // assignment, doc_id order inside each file, _manifest side-table) and
    // read BACK for the oracle compare: every document present exactly
    // once, in its recomputable shard, text fidelity by md5 — the full
    // roundtrip gate over the export (shape/balance/determinism are
    // spec-pinned)
    Entry("p9_shard_export", (s, d) => {
      val out = scratch("p9-export") + "/corpus" // overwrite-reuse: no per-call leak
      graft.operators.Pipeline.shardExport(docs(s, d), out, shards = 8)
      s.read.parquet(out)
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
      // p9: the export roundtrip — every document exactly once, shard
      // recomputed by the same portable Knuth-hash formula, text by md5
      "SELECT doc_id, ((doc_id * 2654435761) % 4294967296) % 8 AS shard, " +
        "md5(text) AS text_md5 FROM documents ORDER BY doc_id"),

    // P17 corpus takedown — compliance on the DELIVERED export: the three
    // doomed doc_ids vanish from the sharded corpus with only their
    // shards rewritten (touched set computed from the ids alone — shard
    // assignment is a pure doc_id function) and the _manifest kept
    // consistent. Gated: exact purge count, no-op re-purge, manifest
    // row-count agreement with the purged data.
    Entry("p17_corpus_takedown", (s, d) => {
      import s.implicits._
      val out = scratch("p17-export") + "/corpus"
      // purge MUTATES the layout: rebuild from the source corpus each run
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(out))
      graft.operators.Pipeline.shardExport(docs(s, d), out, shards = 8)
      val doomed = docs(s, d).select("doc_id").orderBy("doc_id")
        .limit(3).as[Long].collect().toSeq
      val n = graft.operators.Pipeline.purgeShardExport(s, out, doomed, 8)
      require(n == 3L, s"expected 3 purged docs, got $n")
      require(graft.operators.Pipeline.purgeShardExport(s, out, doomed, 8) == 0L,
        "re-purge must be a no-op")
      val got = s.read.parquet(out)
      val manDocs = s.read.parquet(s"$out/_manifest")
        .agg(sum(col("n_docs"))).head.getLong(0)
      require(manDocs == got.count(),
        s"manifest n_docs $manDocs != purged corpus ${got.count()}")
      got.select(col("doc_id"), col("shard").cast("long").as("shard"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
      // p17: the delivered corpus minus the three lowest doc_ids
      "SELECT doc_id, ((doc_id * 2654435761) % 4294967296) % 8 AS shard, " +
        "md5(text) AS text_md5 FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 3) " +
        "ORDER BY doc_id"),

    // P18 MASS revocation — p17 by PREDICATE instead of id list: every
    // document of the (lexicographically first) source withdrawn from the
    // delivered export. The doomed set is described, not enumerated — one
    // column-pruned discovery pass finds the touched shards, the rewrite
    // costs the touched slice; null-evaluating rows survive (erasure only
    // on proof). Gated: exact purge count and a no-op re-run.
    Entry("p18_source_revocation", (s, d) => {
      import s.implicits._
      val out = scratch("p18-export") + "/corpus"
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(out))
      graft.operators.Pipeline.shardExport(docs(s, d), out, shards = 8)
      val src0 = docs(s, d).agg(min(col("source"))).as[String].head()
      val expect = docs(s, d).where(col("source") === src0).count()
      val n = graft.operators.Pipeline.purgeShardExportWhere(
        s, out, col("source") === src0, 8)
      require(n == expect, s"expected $expect revoked docs of '$src0', got $n")
      require(graft.operators.Pipeline.purgeShardExportWhere(
          s, out, col("source") === src0, 8) == 0L,
        "re-revocation must be a no-op")
      s.read.parquet(out)
        .select(col("doc_id"), col("source"), md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    },
      // p18: the corpus minus the first source — IS DISTINCT FROM keeps
      // any null-source row, matching the null-survives erasure rule
      "SELECT doc_id, source, md5(text) AS text_md5 FROM documents " +
        "WHERE source IS DISTINCT FROM (SELECT min(source) FROM documents) " +
        "ORDER BY doc_id"),

    // Pipeline × dedup composition: collapse each near-dup cluster to its
    // HIGHEST-QUALITY member (ties doc_id) — the realistic canonical rule
    // for corpus builds. Same cluster closure as d6 (jaccard + planted
    // chains); argmax is a WindowGroupLimit row_number ≤ 1
    Entry("p7_quality_survivors", (s, d) => {
      val dd = docs(s, d)
      graft.operators.Pipeline.bestQualitySurvivors(dd,
          Dedup.jaccardPairs(dd).select("a_id", "b_id").unionByName(chainPairs(dd)))
        .orderBy("cluster_rep")
    },
      // p7: per-cluster argmax by quality (ties doc_id) over the same
      // cluster closure; quality formula identical to t3's
      clusterCte +
        qualCte("q") +
        ", best AS (SELECT mem.doc_id, cluster_rep, quality, " +
        "row_number() OVER (PARTITION BY cluster_rep ORDER BY quality DESC, mem.doc_id) AS rn " +
        "FROM mem JOIN q ON q.doc_id = mem.doc_id) " +
        "SELECT doc_id, cluster_rep, quality FROM best WHERE rn = 1 ORDER BY cluster_rep"),

    // P11 document chunking: 64-token windows, 16-token overlap — the
    // RAG/long-context window primitive; one codegen'd pass, no shuffle,
    // chunk identity by md5 so the gate stays metadata-width
    Entry("p11_chunk_docs", (s, d) =>
      graft.operators.Pipeline.chunkDocs(docs(s, d), chunkSize = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id"),
      // p11: chunk boundaries recomputed with the same integer
      // arithmetic; chunk content gated by md5 of the sliced window
      T + ", ch AS (SELECT doc_id, t, " +
        "unnest(range(0, 1 + CAST(floor(greatest(len(t) - 16 - 1, 0) / 48.0) AS BIGINT))) AS i " +
        "FROM toks WHERE len(t) > 0) " +
        "SELECT doc_id, i AS chunk_id, " +
        "least(64, len(t) - i * 48)::BIGINT AS n_tokens, " +
        "md5(array_to_string(t[i * 48 + 1 : i * 48 + 64], ' ')) AS chunk_hash " +
        "FROM ch ORDER BY doc_id, chunk_id"),

    // P10 corpus snapshot diff: v2 derived from the documents table by
    // shared deterministic rules (drop %17, revise %13, add %19 under new
    // ids), then the diff classifies every id via scan-side md5 — the join
    // carries (id, hash, length) rows, never text. Output: four class
    // rows with doc/char totals
    Entry("p10_snapshot_diff", (s, d) => {
      val base = docs(s, d)
      val v2 = revisedDocs(base)
      graft.operators.Pipeline.snapshotDiff(
          base.select("doc_id", "text"), v2, "doc_id", Seq("text"))
        .orderBy("change")
    },
      // p10: v2 rebuilt under the same deterministic rules, then a naive
      // full-outer md5 diff — class counts must match the engine's
      // hash-join diff exactly
      revisedDocsSql + ", " +
        "o AS (SELECT doc_id, md5(len(text)::VARCHAR || ':' || text) AS h, len(text) AS l FROM documents), " +
        "n AS (SELECT doc_id, md5(len(text)::VARCHAR || ':' || text) AS h, len(text) AS l FROM v2), " +
        "j AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added' " +
        "WHEN n.doc_id IS NULL THEN 'removed' " +
        "WHEN o.h <> n.h THEN 'changed' ELSE 'unchanged' END AS change, " +
        "coalesce(n.l, o.l) AS chars FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id) " +
        "SELECT change, count(*) AS n_docs, sum(chars)::BIGINT AS n_chars " +
        "FROM j GROUP BY 1 ORDER BY 1")
  )
}
