package graft
package entries

import graft.GraftSession.scratch
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Embedding entries: exact and approximate top-k, index maintenance, MMR, PCA and drift. */
object Vectors {
  val entries: Seq[Entry] = Seq(
    // Similarity: brute-force cosine top-10 for query vectors vec_id < 5
    Entry("v1_cosine_topk", (s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), 10)
        .orderBy("q_id", "rank")
    },
      exactTopkSql),

    // Similarity: SRP-LSH bucketed top-10 over the planted neighborhood
    // corpus — each query's true top-10 is its 10 plants (organic cos ≤
    // 0.40 ≪ planted 0.999+), so the bucketed operator must recall every
    // plant and exact-rerank them to match v1's exact-cosine oracle SQL
    Entry("v2_lsh_topk", (s, d) => {
      val e = emb(s, d)
      Similarity.lshTopK(plantedTopKEmb(s, d), e.where(col("vec_id") < 5), 10)
        .orderBy("q_id", "rank")
    },
      // v2/v6: exact cosine top-10 over the planted neighborhood corpus —
      // each query's true top-10 is its 10 plants (organic cos ≤ 0.40), so
      // the SRP-bucketed search AND the partial-probe IVF search must both
      // recall and exact-rerank all of them
      plantedTopkSql),

    // Similarity: IVF centroid-bucketed top-k. Registered at full probe
    // (nprobe = nlist), where IVF degrades exactly to brute force — so the
    // bucketed plan itself is held to the exact-cosine DuckDB oracle;
    // partial-probe recall is OperatorsSpec territory
    Entry("v4_ivf_topk", (s, d) => {
      val e = emb(s, d)
      Similarity.ivfTopK(e, e.where(col("vec_id") < 5), 10, nlist = 32, nprobe = 32)
        .orderBy("q_id", "rank")
    },
      // v4 at full probe must equal exact brute force — same oracle as v1
      exactTopkSql),

    // Similarity: IVF at PARTIAL probe (nprobe 8 of 32 — the production
    // config) over the planted neighborhood corpus: each query's true
    // top-10 sits ≈ on the query vector itself, so its plants share the
    // query's nearest cell and a partial probe must still return the exact
    // answer — the approximate path held to the exact-cosine oracle
    // V25 measured range-search recall at partial probe (the v11
    // discipline on v24): pinned knob→recall curve behind the same SF
    // fingerprint guard — for range search, loss = in-radius neighbors
    // in unprobed cells, exactly what a caller sizing nprobe pays
    Entry("v25_range_recall", (s, d) =>
      pinnedRecall(s, emb(s, d), "label", 50002270L)(measuredRangeRecall(s, d)),
      // v25: the pinned partial-probe range recalls (554 exact in-radius
      // pairs over 50 organic queries at cos >= 0.25) behind the v11
      // fingerprint guard — moderate-cosine neighbors scatter across
      // cells, so range recall tracks probed-cell coverage much more
      // steeply than planted top-k does (0.38/0.55/0.78 at 4/8/16 of 32)
      pinnedRecallSql("embeddings", "label", 50002270L, Seq(
        "('range_nprobe16', 431::BIGINT, 554::BIGINT, 0.778::DOUBLE)",
        "('range_nprobe4', 211::BIGINT, 554::BIGINT, 0.3809::DOUBLE)",
        "('range_nprobe8', 305::BIGINT, 554::BIGINT, 0.5505::DOUBLE)"))),

    // V24 RANGE (radius) search over the persisted IVF index: every
    // corpus vector with round-6 cosine >= 0.25 of each query — result
    // sizes legitimately vary per query (6..14 here), the shape top-k
    // truncates or pads. Registered at FULL probe (nprobe = nlist) so
    // the indexed plan is held to the exact brute-force range oracle
    // (the v4 discipline); partial-probe boundary recall is spec territory
    Entry("v24_range_search", (s, d) => {
      val e = emb(s, d)
      val cents = Similarity.ivfCentroids(e, 32)
      val dir = scratch("v24-ivfidx")
      writeCellIndex(Similarity.ivfIndex(e, cents), dir)
      Similarity.rangeSearchIndexed(s.read.parquet(dir), cents,
          e.where(col("vec_id") < 5), minCos = 0.25, nprobe = 32)
        .orderBy(col("q_id"), col("cos").desc, col("vec_id"))
    },
      // v24: full probe degrades the indexed range search to the exact
      // brute-force radius scan — same round-6 cosine, same >= 0.25 gate
      "WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5) " +
        s"SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos " +
        "FROM embeddings e, q WHERE e.vec_id <> q_id " +
        s"AND ${cosSql("q_emb", "e.embedding")} >= 0.25 " +
        "ORDER BY q_id, cos DESC, e.vec_id"),

    // Similarity: IVF against the PERSISTED cell-partitioned index — the
    // "index once at ingest, query many" path (v6's probe math over an
    // index read back from parquet; assignments and norms never
    // recomputed, probed cells prune partition directories). Same planted
    // geometry ⇒ same exact-cosine oracle as v6
    Entry("v7_ivf_indexed", (s, d) => {
      val corpus = plantedTopKEmb(s, d)
      val cents = Similarity.ivfCentroids(corpus, 32)
      val dir = scratch("v7-ivfidx") // per-process fixed dir: no per-run leak
      writeCellIndex(Similarity.ivfIndex(corpus, cents), dir)
      indexedTop10(s, d, dir, cents)
    },
      plantedTopkSql),

    // Similarity: INCREMENTAL IVF maintenance — index the organic corpus,
    // freeze the codebook, then append the planted batch against it (the
    // live-ingest path: assignment is a pure per-row function, so append ≡
    // rebuild, spec-pinned). The exact top-10 per query is entirely in the
    // appended batch, so the oracle holds recall THROUGH the append
    Entry("v8_ivf_append", (s, d) => {
      val all = plantedTopKEmb(s, d)
      val base = all.where(col("vec_id") < 200000L)
      val batch = all.where(col("vec_id") >= 200000L)
      val cents = Similarity.ivfCentroids(base, 32)
      val dir = scratch("v8-ivfidx")
      writeCellIndex(Similarity.ivfIndex(base, cents), dir)
      Similarity.ivfAppend(batch, cents, dir)
      indexedTop10(s, d, dir, cents)
    },
      // v8: append ≡ rebuild (pure per-row assignment), so the incremental
      // index must recall the same exact top-10 — every true neighbor
      // arrived via the APPEND, making recall-through-append the gate
      plantedTopkSql),

    // V20 MMR DIVERSIFIED RERANK: greedy maximal-marginal-relevance over
    // each query's exact top-20 shortlist (λ=0.7, k=5) — the oracle
    // re-runs the same greedy unrolled to 5 chained SQL steps over the
    // same round-6 cosines, so selection, order, AND objective values are
    // all value-checked (no pins)
    Entry("v20_mmr_rerank", (s, d) => {
      val e = emb(s, d)
      Similarity.mmrTopK(e, e.where(col("vec_id") < 5), k = 5, fetch = 20)
        .orderBy("q_id", "rank")
    },
      mmrRerankSql),

    // V21 MMR OVER THE IVF TIER: the v20 rerank fed by the partial-probe
    // IVF shortlist instead of brute force — the at-scale composition made
    // real. On the planted geometry the nprobe=8 shortlist is provably the
    // exact top-10 (the v6 gate), so the oracle stays fully value-checked
    // through the approximate tier.
    Entry("v21_mmr_ivf", (s, d) => {
      val corpus = plantedTopKEmb(s, d)
      val sl = Similarity.ivfTopK(corpus, emb(s, d).where(col("vec_id") < 5),
        10, nlist = 32, nprobe = 8)
      Similarity.mmrRerank(corpus, sl, k = 5).orderBy("q_id", "rank")
    },
      mmrIvfSql),

    // V22 EMBEDDING DIMENSION CORRELATION: the representation-collapse
    // diagnostic — top-20 most linearly dependent dimension pairs by
    // |Pearson corr|, every moment an exact integer-micros DECIMAL sum,
    // one exchange reused by both self-join sides, one final float ratio
    // of exact integers round-6 (the j14 cosine discipline)
    Entry("v22_dim_correlation", (s, d) =>
      Similarity.dimensionCorrelation(emb(s, d)),
      // v22: the same integer-micros moments (parallel unnest zips the
      // position range with the values), HUGEINT sums ≡ decimal(38,0),
      // the identical exact-integer variance filter and round-6 ratio
      "WITH q AS (SELECT vec_id, unnest(range(1, len(embedding) + 1))::BIGINT AS j, " +
        "round(unnest(embedding)::DOUBLE * 1000000, 0)::BIGINT AS i FROM embeddings), " +
        "m AS (SELECT a.j AS dim_a, b.j AS dim_b, count(*)::HUGEINT AS n, " +
        "sum(a.i)::HUGEINT AS sa, sum(b.i)::HUGEINT AS sb, " +
        "sum(a.i * a.i)::HUGEINT AS saa, sum(b.i * b.i)::HUGEINT AS sbb, " +
        "sum(a.i * b.i)::HUGEINT AS sab " +
        "FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.j < b.j GROUP BY 1, 2) " +
        "SELECT dim_a, dim_b, " +
        "round((n * sab - sa * sb)::DOUBLE / " +
        "sqrt((n * saa - sa * sa)::DOUBLE * (n * sbb - sb * sb)::DOUBLE), 6) AS corr " +
        "FROM m WHERE (n * saa - sa * sa) > 0 AND (n * sbb - sb * sb) > 0 " +
        "ORDER BY abs(corr) DESC, dim_a, dim_b LIMIT 20"),

    // V27 embedding NORM profile: squared-norm distribution in exact
    // quantized micros² (1e12 = unit), zero-vector count (the silent
    // cosine-NaN factory), ±10% off-unit count (mixed-normalization
    // detector); one aggregate-HOF pass, no explode, no shuffle
    Entry("v27_norm_profile", (s, d) =>
      graft.operators.Similarity.normProfile(emb(s, d)),
      // v27: the same quantize-first Σq² per vector (DOUBLE[] before the
      // round — the v26 rule), HUGEINT corpus sum, floor-div mean
      normProfileSql),

    // V26 embedding drift between corpus versions: per-dim mean shift in
    // exact quantized micros (sign-factored floor means — component sums
    // go negative), top-10 shifted dims; v2 = p10-rule churn + a planted
    // +0.25 shift on dim 4 for vec_id % 7 == 0 — the re-versioned-encoder
    // regression gate
    Entry("v26_embedding_drift", (s, d) => {
      val base = emb(s, d)
      val e = col("embedding").cast("array<double>")
      val v2 = base.where(pmod(col("vec_id"), lit(11L)) =!= 0)
        .select(col("vec_id"),
          when(pmod(col("vec_id"), lit(7L)) === 0,
            concat(slice(e, 1, 3),
              array(element_at(e, 4) + lit(0.25)),
              slice(e, 5, 1000000)))
            .otherwise(e).as("embedding"))
      Similarity.embeddingDrift(base, v2)
    },
      // v26: same double-cast, same planted derivation, same quantized
      // sums and sign-factored floor means (o30's portable form)
      "WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), " +
        "v2 AS (SELECT vec_id, CASE WHEN vec_id % 7 = 0 THEN " +
        "e[1:3] || [e[4] + 0.25] || e[5:] ELSE e END AS e " +
        "FROM b WHERE vec_id % 11 <> 0), " +
        "q1 AS (SELECT unnest(range(1, len(e) + 1))::BIGINT AS dim, " +
        "round(unnest(e) * 1000000, 0)::BIGINT AS q FROM b), " +
        "q2 AS (SELECT unnest(range(1, len(e) + 1))::BIGINT AS dim, " +
        "round(unnest(e) * 1000000, 0)::BIGINT AS q FROM v2), " +
        "m1 AS (SELECT dim, count(*)::BIGINT AS n_1, sum(q)::BIGINT AS s FROM q1 GROUP BY 1), " +
        "m2 AS (SELECT dim, count(*)::BIGINT AS n_2, sum(q)::BIGINT AS s FROM q2 GROUP BY 1), " +
        "f AS (SELECT dim, coalesce(n_1, 0) AS n_1, " +
        "(CASE WHEN m1.s >= 0 THEN m1.s // n_1 ELSE -((-m1.s) // n_1) END)::BIGINT AS mean1_e6, " +
        "coalesce(n_2, 0) AS n_2, " +
        "(CASE WHEN m2.s >= 0 THEN m2.s // n_2 ELSE -((-m2.s) // n_2) END)::BIGINT AS mean2_e6 " +
        "FROM m1 FULL OUTER JOIN m2 USING (dim)) " +
        "SELECT dim, n_1, mean1_e6, n_2, mean2_e6, " +
        "(mean2_e6 - mean1_e6)::BIGINT AS shift_e6 FROM f " +
        "ORDER BY abs(mean2_e6 - mean1_e6) DESC NULLS FIRST, dim LIMIT 10"),

    // V23 PCA TOP-COMPONENT PROJECTION: exact integer-micros moments →
    // collected d²-row statistic → 12 driver-side power-iteration steps
    // (the Lloyd's-codebook shape) → distributed centered projection as
    // a narrow literal-vector HOF; oracle replays the same recurrence as
    // chained CTEs over the same exact moments, round-4 output
    Entry("v23_pca_project", (s, d) =>
      Similarity.pcaProject(emb(s, d)),
      // v23: the identical exact-moments → power-iteration → projection
      // chain unrolled in SQL
      pcaProjectSql),

    // V19 k-NN LABEL PROPAGATION: every unlabeled vector takes the
    // majority label of its 5 nearest seeds by exact cosine (seed tier:
    // vec_id < 30, label = id % 3) — the seed set enters the plan as
    // broadcast literals, so the whole labeling is ONE narrow scan-bound
    // projection: no join, no shuffle, no window; ties (cos, then votes)
    // resolve by seed id / smallest label on both engines
    Entry("v19_knn_labels", (s, d) => {
      val embAll = emb(s, d)
      val seeds = embAll.where(col("vec_id") < 30)
        .select(col("vec_id"), pmod(col("vec_id"), lit(3L)).as("label"),
          col("embedding"))
      Similarity.knnLabelPropagation(embAll.where(col("vec_id") >= 30), seeds)
        .orderBy("vec_id")
    },
      // v19: the propagation recomputed naively — every (target, seed)
      // cosine, rank (cos desc, seed id), top-5 votes, argmax with ties
      // to the smallest label
      "WITH seeds AS (SELECT vec_id AS sid, vec_id % 3 AS lab, " +
        "embedding AS semb FROM embeddings WHERE vec_id < 30), " +
        "tgt AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 30), " +
        s"p AS (SELECT vec_id, sid, lab, ${cosSql("semb", "embedding")} AS cos " +
        "FROM tgt, seeds), " +
        "r AS (SELECT vec_id, lab, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY cos DESC, sid) AS rk FROM p), " +
        "v AS (SELECT vec_id, lab, count(*) AS c FROM r WHERE rk <= 5 GROUP BY 1, 2), " +
        "best AS (SELECT vec_id, lab, c, row_number() OVER " +
        "(PARTITION BY vec_id ORDER BY c DESC, lab) AS rb FROM v) " +
        "SELECT vec_id, lab::BIGINT AS label, c::BIGINT AS votes " +
        "FROM best WHERE rb = 1 ORDER BY vec_id"),

    // V18 index small-file compaction: the accretion half of index
    // lifecycle (v14 covers deletes) — four append batches land files per
    // touched cell, then ONLY over-threshold cells rewrite to one file
    // each (cold cells byte-identical, spec-pinned); the compacted index
    // must still recall the exact planted top-10 through the same probe
    Entry("v18_index_compaction", (s, d) => {
      val all = plantedTopKEmb(s, d)
      val base = all.where(col("vec_id") < 200000L)
      val batch = all.where(col("vec_id") >= 200000L)
      val cents = Similarity.ivfCentroids(base, 32)
      val dir = scratch("v18-ivfidx")
      writeCellIndex(Similarity.ivfIndex(base, cents), dir)
      (0 until 4).foreach { i =>
        Similarity.ivfAppend(batch.where(pmod(col("vec_id"), lit(4)) === i), cents, dir)
      }
      Similarity.ivfCompactSmallFiles(s, dir, maxFilesPerCell = 2)
      indexedTop10(s, d, dir, cents)
    },
      // v18: compaction is a row-identical physical rewrite, so the
      // bin-packed index must recall the same exact top-10 as v8's
      // accreted layout
      plantedTopkSql),

    // Similarity: PRODUCT-QUANTIZED two-phase search — ADC shortlist over
    // the m-byte-per-vector compressed index, exact re-rank of shortlist
    // rows only (the memory-compression ANN tier). The planted top-10 must
    // survive BOTH the lossy quantization and the shortlist cut, so the
    // exact-cosine oracle gates compression fidelity end-to-end
    Entry("v9_pq_topk", (s, d) =>
      Similarity.pqTopK(plantedTopKEmb(s, d), emb(s, d).where(col("vec_id") < 5), 10)
        .orderBy("q_id", "rank"),
      // v9: the PQ shortlist must recall the planted top-10 through the
      // lossy codes; the exact re-rank then reproduces the exact answer
      plantedTopkSql),

    // V17 scalar-quantized (SQ8) search: the 4×-compression / no-codebook
    // quantization tier (PQ's sibling) — per-vector affine byte codes,
    // ADC shortlist over reconstructions, shared exact re-rank; held to
    // the same exact-top-k oracle as v9 through the lossy codes
    Entry("v17_sq_topk", (s, d) =>
      Similarity.sqTopK(plantedTopKEmb(s, d), emb(s, d).where(col("vec_id") < 5), 10)
        .orderBy("q_id", "rank"),
      plantedTopkSql),

    Entry("v6_ivf_partial", (s, d) => {
      val e = emb(s, d)
      Similarity.ivfTopK(plantedTopKEmb(s, d), e.where(col("vec_id") < 5), 10,
          nlist = 32, nprobe = 8)
        .orderBy("q_id", "rank")
    },
      plantedTopkSql),

    // Similarity: IVF with a LLOYD-REFINED codebook — deterministic decimal
    // k-means (fixed iterations, order-independent exact sums) over the
    // hash-sampled seed, frozen after refinement, then the same persisted-
    // index partial-probe search as v7. Same planted geometry ⇒ same
    // exact-cosine oracle: refinement must not lose plant recall
    // (OperatorsSpec additionally pins that it improves cell-occupancy
    // balance on the organic corpus — the reason the operator exists)
    Entry("v10_ivf_lloyd", (s, d) => {
      val corpus = plantedTopKEmb(s, d)
      val cents = Similarity.lloydRefine(corpus, Similarity.ivfCentroids(corpus, 32))
      val dir = scratch("v10-ivfidx")
      writeCellIndex(Similarity.ivfIndex(corpus, cents), dir)
      indexedTop10(s, d, dir, cents)
    },
      // v10: Lloyd refinement moves centroids but the plants still sit on
      // the query vectors, so the refined partial probe must return the
      // same exact answer
      plantedTopkSql),

    // Similarity: composed IVF-PQ — the billion-vector production
    // architecture (coarse cells prune WHERE to look via partition-pruned
    // directories, PQ codes compress WHAT is stored to m bytes/row; raw
    // vectors fetched for the shortlist only). The planted top-10 must
    // survive the cell cut AND the lossy quantization AND the shortlist
    // cut, so the same exact-cosine oracle gates the whole composition
    Entry("v12_ivfpq_topk", (s, d) => {
      val corpus = plantedTopKEmb(s, d)
      val cents = Similarity.ivfCentroids(corpus, 32)
      val books = Similarity.pqCodebooks(corpus, 8, 64)
      val dir = scratch("v12-ivfpqidx") // per-process fixed dir: no per-run leak
      writeCellIndex(Similarity.ivfPqIndex(corpus, cents, books), dir)
      Similarity.ivfPqTopKIndexed(s.read.parquet(dir), cents, books, corpus,
          emb(s, d).where(col("vec_id") < 5), 10, nprobe = 8, shortlistSize = 150)
        .orderBy("q_id", "rank")
    },
      // v12: the IVF-PQ composition must recall the planted top-10 through
      // the partial probe AND the lossy codes AND the shortlist — then the
      // exact re-rank reproduces the exact answer
      plantedTopkSql),

    // Similarity: CROSS-CORPUS linkage — top-1 nearest B-vector for every
    // one of 50 A-vectors where NEITHER side broadcasts (the corpus×corpus
    // alignment regime): both sides co-partition on the shared codebook's
    // cell key, candidates score cell-locally. A-rows are ε-perturbed
    // copies of B-rows, so each one's exact argmax is its source — the
    // oracle holds the cell-join recall AND the exact cosine to the full
    // exact answer
    Entry("v15_cross_corpus", (s, d) => {
      val b = emb(s, d).select(col("vec_id"), col("embedding"))
      val a = b.where(col("vec_id") < 50)
        .select((col("vec_id") + 500000L).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) + lit(0.1f)).cast("float")),
            slice(col("embedding"), 2, 63)).as("embedding"))
      // codebook sized to the corpus (the production nlist ~ √n rule, here
      // n/50 clamped to [4, 32]): 32 cells over sf0.001's 200 vectors
      // would leave ~6 rows/cell — too sparse for the probes=2 straddle
      // model to absorb an ε-perturbation; at sf0.01+ this is the same 32
      // as always (the pinned geometry is unchanged where pins exist)
      val nlist = math.max(4L, math.min(32L, b.count() / 50)).toInt
      Similarity.crossCorpusTopK(a, b, Similarity.ivfCentroids(b, nlist), k = 1)
        .orderBy("a_id")
    },
      // v15: the cell-join linkage must return each perturbed A-row's
      // exact argmax over the FULL corpus (its source row)
      "WITH aa AS (SELECT vec_id + 500000 AS a_id, " +
        "list_prepend((embedding[1] + 0.1::FLOAT)::FLOAT, embedding[2:64]) AS a_emb " +
        "FROM embeddings WHERE vec_id < 50) " +
        s", s AS (SELECT a_id, b.vec_id AS b_id, ${cosSql("a_emb", "b.embedding")} AS cos " +
        "FROM aa, embeddings b) " +
        ", r AS (SELECT a_id, row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rank, b_id, cos FROM s) " +
        "SELECT a_id, rank::BIGINT AS rank, b_id, cos FROM r WHERE rank <= 1 ORDER BY a_id"),

    // Similarity: INDEX DELETION — tombstone the odd-j plants, then
    // PHYSICALLY compact (touched-cell dynamic-partition rewrite) and
    // search the compacted index. Each query's remaining exact top-5 is
    // its five even-j plants, so the oracle holds the whole delete →
    // compact → search lifecycle to the exact-cosine answer over the
    // remaining corpus (masked-read ≡ compacted ≡ rebuild is spec-pinned)
    Entry("v14_index_delete", (s, d) => {
      val corpus = plantedTopKEmb(s, d)
      val cents = Similarity.ivfCentroids(corpus, 32)
      val dir = scratch("v14-ivfidx") // per-process fixed dir: no per-run leak
      writeCellIndex(Similarity.ivfIndex(corpus, cents), dir) // static overwrite also clears stale tombstones
      Similarity.ivfDelete(
        corpus.where(col("vec_id") >= 200000L &&
          pmod(col("vec_id") - 200000L, lit(2L)) === 1L).select("vec_id"), dir)
      Similarity.ivfCompact(s, dir)
      Similarity.ivfTopKIndexed(Similarity.ivfReadIndex(s, dir), cents,
          emb(s, d).where(col("vec_id") < 5), 5, nprobe = 8)
        .orderBy("q_id", "rank")
    },
      // v14: deletion lifecycle — tombstone, physically compact, search;
      // the result must equal a rebuild over the remaining corpus
      deletedTopkSql),

    // Similarity: PRE-FILTERED ANN — top-k under a metadata predicate
    // (label = 0), the filtered-retrieval shape every production vector
    // store serves. The predicate is applied to the cell-partitioned index
    // SCAN (pre-filter: candidates are matching rows only, so recall is
    // independent of filter selectivity — the post-filter alternative
    // under-fills at selective predicates, spec-demonstrated), composing
    // with dynamic cell pruning as a pushed-down parquet filter
    // (plan-pinned). Each query's label-0 exact top-5 is its five even-j
    // plants, so the filtered partial probe is held to the exact filtered
    // DuckDB oracle
    Entry("v13_filtered_ann", (s, d) => {
      val corpus = plantedLabeledEmb(s, d)
      val cents = Similarity.ivfCentroids(corpus, 32)
      val dir = scratch("v13-ivfidx") // per-process fixed dir: no per-run leak
      writeCellIndex(Similarity.ivfIndex(corpus, cents), dir)
      Similarity.ivfFilteredTopKIndexed(s.read.parquet(dir), cents,
          emb(s, d).where(col("vec_id") < 5), 5, nprobe = 8, col("label") === 0)
        .orderBy("q_id", "rank")
    },
      filteredTopkSql),

    // Similarity: PRE-FILTERED search over the composed IVF-PQ index —
    // v13's predicate pushdown riding v12's compressed architecture, the
    // production shape for filtered semantic retrieval at 100 TB. The
    // label column is CARRIED on the index rows (a byte next to the m code
    // bytes), so the predicate pre-filters the ADC scan itself: dynamic
    // cell pruning + pushed parquet filter compose on one scan
    // (plan-pinned), candidates are label-0 rows only, and the exact
    // re-rank fetches raw vectors for the filtered shortlist alone. Same
    // labeled planted geometry ⇒ the filtered partial probe over lossy
    // codes is held to the exact filtered DuckDB answer
    Entry("v16_filtered_ivfpq", (s, d) => {
      val corpus = plantedLabeledEmb(s, d)
      val cents = Similarity.ivfCentroids(corpus, 32)
      val books = Similarity.pqCodebooks(corpus, 8, 64)
      val dir = scratch("v16-ivfpqidx") // per-process fixed dir: no per-run leak
      writeCellIndex(Similarity.ivfPqIndex(corpus, cents, books, carry = Seq("label")), dir)
      Similarity.ivfPqFilteredTopKIndexed(s.read.parquet(dir), cents, books,
          corpus, emb(s, d).where(col("vec_id") < 5), 5, nprobe = 8,
          shortlistSize = 150, col("label") === 0)
        .orderBy("q_id", "rank")
    },
      // v16 must recover the SAME exact filtered answer through the lossy
      // IVF-PQ path (plants survive cell cut + quantization + shortlist)
      filteredTopkSql),

    // Similarity: MEASURED recall@10 of every approximate ANN path against
    // the exact scan, on ORGANIC geometry (no plants — the real
    // neighborhood structure the planted oracles deliberately sidestep,
    // where approximate paths legitimately drop neighbors). hits/total are
    // exact integers and every path is hash-deterministic, so the
    // measurement reproduces bit-for-bit; the oracle pins the sf0.01
    // values — the recall knobs (bands, nprobe, shortlist) carry measured
    // numbers instead of scaladoc claims
    // SF fingerprint guard on BOTH sides: the pinned recalls describe
    // sf0.01's organic geometry only — at any other SF the oracle emits
    // a PIN_STALE marker, and the engine mirrors it (same row, fp in the
    // total column) instead of measuring against stale pins
    Entry("v11_ann_recall", (s, d) =>
      pinnedRecall(s, emb(s, d), "label", 50002270L)(measuredRecall(s, d)),
      // v11: measured recall@10 pinned at sf0.01 — every path is
      // hash-deterministic, so these integers reproduce bit-for-bit
      // (values measured by running the registered entry; see the entry
      // comment for why organic geometry is the point). The pins are valid
      // ONLY for sf0.01's embeddings table, so they are guarded by an exact
      // integer content fingerprint (count + sum(label): 2270 at sf0.01,
      // 2268 at sf0.001, 9063 at sf0.1) — run against any other SF the
      // oracle emits a single PIN_STALE marker row instead of the pinned
      // values, making "the pin is SF-keyed" the visible diff rather than
      // a silent false engine failure
      // ::BIGINT on the fingerprint: sum() is HUGEINT in DuckDB, and the
      // stale branch would otherwise coerce the whole total column to
      // HUGEINT — a schema mismatch against Spark's LongType even when
      // every value matches
      pinnedRecallSql("embeddings", "label", 50002270L, Seq(
        "('ivf_lloyd_nprobe16', 420::BIGINT, 500::BIGINT, 0.84::DOUBLE)",
        "('ivf_lloyd_nprobe8', 329::BIGINT, 500::BIGINT, 0.658::DOUBLE)",
        "('ivf_nprobe16', 386::BIGINT, 500::BIGINT, 0.772::DOUBLE)",
        "('ivf_nprobe8', 275::BIGINT, 500::BIGINT, 0.55::DOUBLE)",
        "('ivfpq_np16_m8x64_sl150', 382::BIGINT, 500::BIGINT, 0.764::DOUBLE)",
        "('ivfpq_np20_m8x64_sl150', 427::BIGINT, 500::BIGINT, 0.854::DOUBLE)",
        "('lsh_16x4', 192::BIGINT, 500::BIGINT, 0.384::DOUBLE)",
        "('lsh_24x8', 425::BIGINT, 500::BIGINT, 0.85::DOUBLE)",
        "('pq_m8x32_sl50', 320::BIGINT, 500::BIGINT, 0.64::DOUBLE)",
        "('pq_m8x64_sl150', 474::BIGINT, 500::BIGINT, 0.948::DOUBLE)",
        "('sq_sl50', 500::BIGINT, 500::BIGINT, 1.0::DOUBLE)"))),

    // Similarity: embedding-cosine near-dup pairs over the planted corpus —
    // exact answer = the 20 planted pairs, so the SRP-LSH blocking is held
    // to an all-pairs DuckDB oracle (recall must be 100% at cos ≈ 0.995)
    Entry("v3_embedding_neardup", (s, d) =>
      Similarity.cosineNearDupPairs(plantedEmb(s, d)).orderBy("a_id", "b_id"),
      embeddingDupSql),

    // Similarity × dedup composition: embedding near-dup pairs → connected-
    // component collapse — the image/audio dedup pipeline shape (detect
    // near-identical payloads by embedding, keep one canonical per cluster)
    Entry("v5_embedding_dedup", (s, d) => {
      val e = plantedEmb(s, d)
      Dedup.dupClusters(e.select(col("vec_id").as("doc_id")),
          Similarity.cosineNearDupPairs(e).select(col("a_id"), col("b_id")))
        .orderBy("doc_id")
    },
      // v5: CC collapse over the exact planted pair graph (star shapes, but
      // the oracle closure is the same recursive reachability as d6)
      "WITH RECURSIVE " + PlantedPairCte.stripPrefix("WITH ") +
        ", jp AS (SELECT a_id, b_id FROM p WHERE cos >= 0.95) " +
        ", e AS (SELECT a_id AS u, b_id AS v FROM jp UNION SELECT b_id, a_id FROM jp) " +
        ", reach(u, v) AS (SELECT u, v FROM e UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u) " +
        ", lbl AS (SELECT u AS doc_id, least(u, min(v)) AS rep FROM reach GROUP BY u) " +
        "SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS cluster_rep, " +
        "coalesce(l.rep, d.doc_id) = d.doc_id AS is_canonical " +
        "FROM (SELECT vec_id AS doc_id FROM corpus) d LEFT JOIN lbl l USING (doc_id) " +
        "ORDER BY d.doc_id")
  )
}
