package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table
  * (vec_id, embedding: array<float>, label).
  *
  * Two tiers, per the standard ANN playbook:
  *  - brute-force cosine top-k: exact baseline. The query set is broadcast
  *    (it is always small relative to the corpus), so the scan side never
  *    shuffles — a single narrow pass over 100 TB of vectors with the top-k
  *    kept per query by a partial TakeOrdered.
  *  - LSH-bucketed (random hyperplane / SRP) top-k: sub-linear scale path.
  *    Vectors hash to a b-bit sign signature against deterministic
  *    pseudo-random hyperplanes; candidates are vectors agreeing with the
  *    query on any band of the signature; exact cosine re-ranks candidates.
  *
  * All arithmetic is double-precision and left-to-right, so scores are
  * bit-deterministic; ties (at 6-decimal granularity) break by vec_id.
  */
object Similarity {

  /** Left-to-right double dot product of two float-array columns — a native
    * codegen expression ([[graft.functions.DotProductExpr]]), bit-identical
    * to `aggregate(zip_with(a, b, (x, y) => x.double * y.double), 0.0, +)`
    * but a single JVM loop instead of an interpreted HOF tree walk per pair.
    */
  def dot(a: Column, b: Column): Column = graft.functions.VectorHash.dotCol(a, b)

  /** Native L2 norm ([[graft.functions.VecNormExpr]]), same contract. */
  def norm(a: Column): Column = graft.functions.VectorHash.normCol(a)

  /** Cosine similarity from precomputed norms, dot / (na * nb), rounded to
    * 6 decimals (the comparison granularity — keeps cross-engine float
    * summation noise out of orderings); callers materialize each vector's
    * norm once instead of twice per candidate pair.
    */
  def cosineWithNorms(a: Column, b: Column, na: Column, nb: Column): Column =
    round(dot(a, b) / (na * nb), 6)

  // ------------------------------------------------------- brute-force top-k

  /** Exact cosine top-k: for each query vector, the k nearest corpus vectors
    * (self-matches excluded). `queries` is broadcast; ranking is
    * (cosine desc, vec_id asc) for determinism.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      norm(col("embedding")).as("q_nrm")))
    val scored = corpus.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
      .join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineWithNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("cos"))
  }

  // --------------------------------------------------------- SRP-LSH top-k

  /** b-bit sign-random-projection signature of an embedding column. The
    * hyperplane family is deterministic pseudo-random — component (p, d) is
    * pmod(xxhash64(p, d), 10^5)/10^5 − 0.5, reproducible on any cluster with
    * no RNG state to ship. Native kernel: [[graft.functions.SrpSigExpr]].
    */
  def srpSignature(emb: Column, bits: Int): Column =
    graft.functions.VectorHash.srpSigCol(emb, bits)

  /** LSH-bucketed approximate top-k: candidates = corpus vectors sharing at
    * least one signature band with the query; exact cosine re-ranks the
    * candidates. Recall rises with bands (more independent chances to
    * collide), candidate volume with 2^-r per band (r = bits/bands) — both
    * independent of |corpus|·|queries|. Defaults are the r10-tuned knobs:
    * 24 bits / 8 bands (3-bit keys) measures recall@10 = 0.85 on organic
    * sf0.01 geometry vs 0.384 for the old 16/4 (v11_ann_recall pins both —
    * organic top-10 neighbors sit at moderate cosine, so short bands with
    * many tables is the right end of the S-curve; high-threshold near-dup
    * blocking wants the opposite, see [[cosineNearDupPairs]]).
    */
  /** The shared SRP preparation stage of [[lshTopK]] and
    * [[cosineNearDupPairs]]: (id, embedding, norm, signature) materialized
    * behind a shuffle barrier (see Dedup.minhashPairs for why). One shuffle
    * serves every downstream read via ReuseExchange: the band explode AND
    * the post-dedup vector re-joins.
    */
  private def withSigNorm(df: DataFrame, idCol: String, embCol: String,
                          nrmCol: String, bits: Int): DataFrame =
    df.select(col("vec_id").as(idCol), col("embedding").as(embCol),
        norm(col("embedding")).as(nrmCol),
        srpSignature(col("embedding"), bits).as("sig"))
      .repartition(col(idCol))

  /** Exploded (id, band, key) rows — ids ONLY. Candidate generation and
    * pair dedup ship two longs per row; embeddings re-join after the dedup
    * (a vector would otherwise ride the shuffle once per band collision).
    */
  private def bandedKeys(prepared: DataFrame, idCol: String,
                         bits: Int, bands: Int): DataFrame = {
    val r = bits / bands
    prepared.select(col(idCol),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), xxhash64(slice(col("sig"), b * r + 1, lit(r))).as("key"))))
          .as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))
  }

  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              bits: Int = 24, bands: Int = 8): DataFrame = {
    val prep = withSigNorm(corpus, "vec_id", "embedding", "nrm", bits)
    val qprep = withSigNorm(queries, "q_id", "q_emb", "q_nrm", bits)
    val candIds = bandedKeys(prep, "vec_id", bits, bands)
      .join(broadcast(bandedKeys(qprep, "q_id", bits, bands)), Seq("band", "key"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .dropDuplicates("q_id", "vec_id")
    val cands = candIds
      .join(prep.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
      .join(broadcast(qprep.select(col("q_id"), col("q_emb"), col("q_nrm"))), "q_id")
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)
    cands.select(col("q_id"), col("vec_id"),
        cosineWithNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("cos"))
  }

  // ------------------------------------------------------------- IVF top-k

  /** Deterministic coarse-quantizer codebook: the `nlist` corpus vectors with
    * the lowest xxhash64(vec_id) — a uniform hash-sample, reproducible on any
    * cluster. Collected to the driver as a plan-time stats snapshot (nlist ×
    * dim floats — the IDF-weights pattern; on a cluster this is what a
    * broadcast variable carries). On clustered (non-uniform) corpora pass
    * the sample through [[lloydRefine]] — its decimal-sum accumulation
    * keeps the refined codebook just as bit-deterministic.
    */
  def ivfCentroids(corpus: DataFrame, nlist: Int): Seq[Seq[Float]] =
    corpus.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(nlist)
      .select(col("embedding"))
      .collect().map(_.getSeq[Float](0).toSeq).toSeq

  /** Fixed-iteration Lloyd (k-means) refinement of a coarse-quantizer
    * codebook, deterministic the way the hash-sample seed is: per-cell
    * means accumulate in DECIMAL(38,16), whose addition is EXACT and
    * therefore order-independent — no float-summation order dependence,
    * so every iteration yields bit-identical centroids on any cluster
    * layout or partition count. Assignment uses the same native
    * cosine-nearest kernel probing uses ([[graft.functions.IvfProbeExpr]]);
    * since probe similarity is cosine (scale-invariant), the un-normalized
    * decimal mean is a valid spherical-k-means centroid. The refined
    * codebook is FROZEN thereafter — [[ivfAppend]]'s append ≡ rebuild
    * contract carries over unchanged.
    *
    * Why refine at all: a hash-sampled codebook is only balanced when the
    * corpus is uniform; real embedding corpora are clustered, so seeded
    * cells go hot (occupancy skew) and partial probes lose recall exactly
    * where the data is densest. Lloyd iterations move centroids toward
    * occupancy balance ([[cellOccupancy]] measures it; the spec pins the
    * improvement on the organic embeddings table).
    *
    * Plan per iteration (iters is small and fixed — the offline re-train
    * path, not a per-query cost): one narrow assignment map, a posexplode
    * to (cell, dim, x), and ONE map-side-combining aggregate keyed
    * (cell, dim) — shuffle volume is nlist × dim × partitions rows,
    * independent of corpus size; the nlist × dim result lands on the
    * driver as the usual broadcast-able codebook snapshot. Empty cells
    * keep their previous centroid (standard Lloyd fallback).
    */
  /** Dimension contract (r18, from the r17 advice): the per-dim aggregate
    * emits one decimal(38,16) sum column per embedding dimension — right
    * for the catalog's embedding widths (tens to a few hundred dims);
    * past ~1k dims the aggregate row grows past codegen's comfortable
    * width and the means should be chunked into grouped aggregates.
    * Vectors are fixed-width by the embeddings-table contract (shorter
    * vectors would null-pad element_at and bias the count).
    */
  def lloydRefine(corpus: DataFrame, seed: Seq[Seq[Float]], iters: Int = 4): Seq[Seq[Float]] = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val dim = seed.headOption.map(_.size).getOrElse(0)
    if (dim == 0) return seed // empty codebook: nothing to refine
    // scan-parallelism guard (r18, the o6 scanWide argument): each Lloyd
    // iteration is its own job over `corpus`, and the sf embeddings lay out
    // as 2 parquet row groups — the nlist×dim probe ran at 2 tasks per
    // iteration (~0.3 s each in the v10 profile). At real scale the scan
    // has thousands of splits and this is a no-op by construction.
    val pts = graft.util.Spread.scanWide(corpus, col("vec_id"))
    var cents = seed
    for (_ <- 0 until iters) {
      // ONE map-side-combining aggregate per iteration, WITHOUT a Generate
      // (r17): the former posexplode-to-(cell,dim,x) shape let the
      // optimizer hoist the nearest-centroid probe ABOVE the explode, so
      // the nlist×dim dot-product scan ran once per exploded row — d×
      // overcomputed (measured: 1.9 s vs 0.33 s for the assignment scan at
      // sf0.1). Per-dim aggregate columns keep the probe once per VECTOR
      // and the decimal sum/count/divide chain is expression-for-
      // expression the one the exploded groupBy ran — decimal addition is
      // exact and order-free, so every mean is bit-identical. The nlist-row
      // × dim-column result IS the codebook snapshot, collected directly.
      val assigned = pts.select(
        element_at(graft.functions.VectorHash.ivfProbeCol(col("embedding"), cents, 1), 1)
          .as("cell"),
        col("embedding"))
      val meanCols = (0 until dim).map(j =>
        (sum(element_at(col("embedding"), j + 1).cast("decimal(38,16)")) / count(lit(1)))
          .cast("float").as(s"m$j"))
      val rows = assigned.groupBy("cell")
        .agg(meanCols.head, meanCols.tail: _*)
        .collect()
      val means = rows.map(r => r.getInt(0) -> (0 until dim).map(j => r.getFloat(j + 1))).toMap
      cents = cents.indices.map(i =>
        means.get(i).map(m => (0 until dim).map(m)).getOrElse(cents(i)))
    }
    cents
  }

  /** Per-cell occupancy of an IVF index — the balance statistic that bounds
    * partial-probe cost at scale (a hot cell is scanned by every query that
    * probes it). One map-side-combining count per cell.
    */
  def cellOccupancy(index: DataFrame): DataFrame =
    index.groupBy("cell").agg(count(lit(1)).as("n"))

  /** IVF (inverted-file) approximate top-k — the centroid-bucketed scale
    * path, same plan shape as [[lshTopK]] with learned cells instead of hash
    * buckets: every corpus vector lands in its nearest centroid's cell (one
    * narrow native-expression map — at 100 TB this assignment is computed
    * once at ingest and the table is bucketed by cell); each query probes its
    * `nprobe` nearest cells; candidates re-rank by exact cosine. Probing all
    * cells (nprobe = nlist) degrades gracefully to exact brute force —
    * spec-asserted. Default nprobe=16 is the r10-tuned knob: measured
    * recall@10 on organic sf0.01 geometry is 0.772 (hash codebook) / 0.84
    * (Lloyd-refined) vs 0.55 / 0.658 at nprobe=8 (v11_ann_recall pins all
    * four) — organic neighbors straddle cell boundaries, so probe breadth
    * buys recall linearly in scanned-cell cost until the Lloyd balance
    * caps the per-cell bill.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 32, nprobe: Int = 16): DataFrame = {
    val cents = ivfCentroids(corpus, nlist)
    ivfTopKIndexed(ivfIndex(corpus, cents), cents, queries, k, nprobe)
  }

  /** The persisted half of IVF search: (vec_id, embedding, nrm, cell) with
    * each vector assigned to its nearest codebook centroid — computed ONCE
    * at ingest (one narrow native-expression map) and written
    * `partitionBy("cell")`, so query probes prune to their cells' partition
    * directories instead of scanning the corpus.
    *
    * Any OTHER columns on `corpus` (labels, source tags, timestamps — the
    * attribute payload of a real vector store) ride into the index
    * unchanged, which is what makes pre-filtered search
    * ([[ivfFilteredTopKIndexed]]) a plain pushed-down predicate instead of
    * a corpus re-join.
    */
  def ivfIndex(corpus: DataFrame, cents: Seq[Seq[Float]]): DataFrame = {
    val meta = corpus.columns.filterNot(Set("vec_id", "embedding")).map(col).toSeq
    corpus.select(Seq(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      element_at(graft.functions.VectorHash.ivfProbeCol(col("embedding"), cents, 1), 1)
        .as("cell")) ++ meta: _*)
  }

  /** Incremental IVF index maintenance: assign a NEW batch of vectors
    * against the index's FROZEN codebook and append the rows to the
    * existing cell-partitioned layout — the ingest path of a live ANN
    * index (re-clustering on every arrival would invalidate persisted cell
    * directories; production IVF systems freeze the coarse quantizer and
    * re-train offline when drift warrants a rebuild).
    *
    * Equivalence guarantee: the appended index is ROW-IDENTICAL to a full
    * [[ivfIndex]] rebuild over base ∪ batch with the same codebook,
    * because cell assignment is a pure per-row function of
    * (embedding, codebook) — no state, no cross-row dependence. Probe
    * results over the appended index therefore equal the rebuilt index's
    * exactly (spec-pinned, and the v8 oracle holds the composed search to
    * the exact-cosine answer). Appended files land INSIDE the existing
    * `cell=` directories, so partition-directory pruning keeps working
    * unchanged.
    *
    * At 100 TB: the append touches only the new batch (one narrow
    * assignment map + one partitioned write) — the existing index is never
    * read, rewritten, or shuffled.
    */
  def ivfAppend(batch: DataFrame, cents: Seq[Seq[Float]], indexDir: String): Unit =
    ivfIndex(batch, cents).write.mode("append").partitionBy("cell").parquet(indexDir)

  /** Query an ALREADY-indexed corpus ([[ivfIndex]], typically read back
    * from its cell-partitioned parquet): cell assignments and norms are
    * never recomputed — the index contributes persisted columns only, and
    * the broadcast query probe's cell equi-join lets dynamic partition
    * pruning skip every unprobed cell directory. Same probe/re-rank math
    * as [[ivfTopK]] (which delegates here), so full-probe degradation to
    * exact brute force carries over.
    */
  def ivfTopKIndexed(index: DataFrame, cents: Seq[Seq[Float]],
                     queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val q = broadcast(queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"),
        explode(graft.functions.VectorHash.ivfProbeCol(col("embedding"), cents, nprobe)).as("cell")))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)
    index.join(q, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineWithNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("cos"))
  }

  /** RANGE (radius) similarity search over the persisted IVF index — ALL
    * corpus vectors within a cosine threshold of each query, not a fixed
    * top-k: the retrieval shape behind "every chunk relevant enough to
    * cite" (RAG score floors), near-duplicate audits of a specific doc,
    * and recall-oriented candidate generation where k is unknowable a
    * priori (a query may legitimately have 0 or 10 000 in-radius
    * neighbors — a top-k API either truncates or pads them).
    *
    * Same probe plumbing as [[ivfTopKIndexed]]: the broadcast query probe
    * explodes to `nprobe` cells, the cell equi-join lets dynamic partition
    * pruning skip every unprobed cell directory, and each (query, corpus)
    * pair is scored at most once because an indexed row lives in exactly
    * ONE cell. The threshold test reads the ROUND-6 cosine (the c4
    * rounded-gate rule), so engines can't disagree at the boundary. No
    * window, no sort in the operator — in-radius result sets are unordered
    * by contract (callers order or count as they see fit), so the plan is
    * scan → broadcast-join → filter, nothing else.
    *
    * Registered at FULL probe (nprobe = nlist), where this degrades to the
    * exact brute-force range scan and is held to the exact-cosine oracle
    * (the v4 discipline); partial-probe recall — which for RANGE search
    * means boundary-straddling neighbors of ill-centered queries — is spec
    * territory.
    */
  def rangeSearchIndexed(index: DataFrame, cents: Seq[Seq[Float]],
                         queries: DataFrame, minCos: Double,
                         nprobe: Int): DataFrame = {
    val q = broadcast(queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"),
        explode(graft.functions.VectorHash.ivfProbeCol(col("embedding"), cents, nprobe)).as("cell")))
    index.join(q, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineWithNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
      .where(col("cos") >= minCos)
  }

  /** PRE-FILTERED ANN over the persisted IVF index — vector search under a
    * metadata predicate (label equality, source whitelist, time range …),
    * the shape every production retrieval system needs ("nearest neighbors
    * among documents the caller may read / in this language / after this
    * date").
    *
    * Two textbook strategies exist:
    *  - POST-filter: search top-k, then drop non-matching hits. Breaks at
    *    selective predicates — if the filter keeps fraction f of the
    *    corpus, an unfiltered top-k retains ≈ f·k matching rows, so the
    *    caller either under-fills or re-searches with k/f (unbounded as
    *    f → 0). The spec demonstrates the under-fill concretely.
    *  - PRE-filter (this operator): the predicate is applied to the INDEX
    *    SCAN itself, before ranking. Candidates are matching rows only, so
    *    k results come back whenever the probed cells hold ≥ k matches —
    *    recall is independent of filter selectivity.
    *
    * On the cell-partitioned parquet index the predicate composes with
    * both existing pruning tiers for free: dynamic partition pruning skips
    * unprobed cell directories, THEN the pushed-down predicate (plan-pinned
    * in PlanAuditSpec) skips row groups via footer stats/dictionaries
    * within the surviving cells — the filter costs a column read, never a
    * join. At 100 TB this is the difference between "ANN plus a corpus
    * re-join per query" and "ANN whose scan simply reads fewer rows".
    */
  def ivfFilteredTopKIndexed(index: DataFrame, cents: Seq[Seq[Float]],
                             queries: DataFrame, k: Int, nprobe: Int,
                             pred: Column): DataFrame =
    ivfTopKIndexed(index.where(pred), cents, queries, k, nprobe)

  /** Cross-corpus ANN linkage — top-k nearest B-vectors for EVERY A-vector
    * when NEITHER side fits a broadcast (aligning two embedding corpora:
    * entity linkage, cross-source dedup, retrieval-index migration). The
    * broadcast-probe searches above all assume a driver-sized query set;
    * this is the other regime, and it is a JOIN problem: both sides assign
    * to the SAME frozen codebook (A explodes to `probes` cells to absorb
    * boundary straddles, B lands in its one home cell), the cell equi-join
    * co-partitions both corpora on the cell key, candidates are scored
    * cell-locally, and a per-A top-k window finishes.
    *
    * Plan shape at 100 TB × 100 TB: one shuffle of each corpus on the cell
    * key (B rows travel once, A rows `probes`×), no broadcast, no
    * cartesian — candidate volume is Σ_cell |A_cell|·|B_cell|, bounded by
    * cell balance (the Lloyd-refined codebook's occupancy statistic is
    * exactly what caps the hottest cell's bill; salt a pathological hot
    * cell like j5 if occupancy says so). The scored pair stream dedups on
    * (a_id, b_id) ids+score only — 24 B rows — before the ranking window.
    * Recall: an A-row's true neighbor is found when they share a probed
    * cell — the d14/SemDeDup agreement model (multi-probe closes single
    * straddles; the v15 oracle holds the planted geometry to the exact
    * argmax).
    */
  def crossCorpusTopK(a: DataFrame, b: DataFrame, cents: Seq[Seq[Float]],
                      k: Int, probes: Int = 2): DataFrame = {
    val aCelled = a.select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
      norm(col("embedding")).as("a_nrm"),
      explode(graft.functions.VectorHash.ivfProbeCol(col("embedding"), cents, probes))
        .as("cell"))
    val bCelled = b.select(col("vec_id").as("b_id"), col("embedding").as("b_emb"),
      norm(col("embedding")).as("b_nrm"),
      element_at(graft.functions.VectorHash.ivfProbeCol(col("embedding"), cents, 1), 1)
        .as("cell"))
    val w = Window.partitionBy("a_id").orderBy(col("cos").desc, col("b_id").asc)
    aCelled.join(bCelled, Seq("cell"))
      .select(col("a_id"), col("b_id"),
        cosineWithNorms(col("a_emb"), col("b_emb"), col("a_nrm"), col("b_nrm")).as("cos"))
      .dropDuplicates("a_id", "b_id") // multi-probe duplicates a pair per shared cell
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("a_id"), col("rank").cast("long").as("rank"), col("b_id"), col("cos"))
  }

  // ------------------------------------------------------- index deletion

  /** DELETE from the persisted IVF index — the lifecycle operation a live
    * vector store cannot avoid (unlearned documents, GDPR erasure, source
    * retractions). In-place removal from a cell-partitioned parquet layout
    * would rewrite whole cell directories per request, so deletion is
    * SPLIT the way every log-structured index splits it:
    *
    *  - [[ivfDelete]]: O(|ids|) — append the ids to a tombstone side-table
    *    under `_tombstones/` INSIDE the index directory. Underscore-prefixed
    *    paths are invisible to Spark's file listing (the `_spark_metadata`
    *    convention), so a plain `read.parquet(indexDir)` still sees only
    *    index rows and every existing reader stays correct-by-masking via
    *    [[ivfReadIndex]].
    *  - [[ivfReadIndex]]: the masked read — tombstones are metadata-scale
    *    (ids only), so they broadcast and the mask is a left-anti hash join
    *    on the scan, never a shuffle of the index.
    *  - [[ivfCompact]]: physical reclamation, rewriting ONLY the cell
    *    directories that actually hold tombstoned rows (dynamic partition
    *    overwrite); untouched cells — at 100 TB, almost all of them — are
    *    never read, rewritten, or shuffled. Search results are IDENTICAL
    *    before and after compaction (masked ≡ compacted ≡ a full rebuild
    *    without the deleted rows, because the mask and the rewrite drop
    *    exactly the same rows — spec-pinned; the v14 oracle holds the
    *    post-compaction search to the exact-cosine answer over the
    *    remaining corpus).
    *
    * Single-writer maintenance op, like [[graft.sources.Compaction]] — run
    * it from the index's maintenance schedule, not concurrently with
    * appends.
    */
  def ivfDelete(ids: DataFrame, indexDir: String): Unit =
    ids.select(col("vec_id").cast("long"))
      .write.mode("append").parquet(s"$indexDir/_tombstones")

  /** The tombstone-masked index read: index rows minus tombstoned ids.
    * Falls back to a plain read when no tombstones exist, so the masked
    * path costs nothing until a delete has happened.
    */
  def ivfReadIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val idx = spark.read.parquet(indexDir)
    val tomb = java.nio.file.Paths.get(indexDir, "_tombstones")
    if (!java.nio.file.Files.isDirectory(tomb)) idx
    else idx.join(broadcast(spark.read.parquet(tomb.toString).select("vec_id")),
      Seq("vec_id"), "left_anti")
  }

  /** Physically remove tombstoned rows, touched cells only. Returns the
    * number of cell directories rewritten (0 when nothing is tombstoned).
    *
    * Mechanics: survivors of the touched cells are staged to a scratch
    * directory (Spark refuses to overwrite a path it is reading — the
    * staging write is also the crash barrier: the index dir mutates only
    * after survivors are durable), then written back with per-write
    * `partitionOverwriteMode=dynamic`, which replaces exactly the
    * partitions present in the staged data. A touched cell whose every row
    * died appears in no output partition, so its directory is dropped
    * explicitly. The tombstone table is cleared last — a crash anywhere
    * earlier leaves tombstones in place and the masked read still correct.
    */
  def ivfCompact(spark: SparkSession, indexDir: String): Int = {
    val tombPath = java.nio.file.Paths.get(indexDir, "_tombstones")
    if (!java.nio.file.Files.isDirectory(tombPath)) return 0
    val tomb = broadcast(spark.read.parquet(tombPath.toString).select("vec_id").distinct())
    val idx = spark.read.parquet(indexDir)
    val touched = idx.join(tomb, "vec_id")
      .select("cell").distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) { // stale tombstones (ids already compacted away)
      graft.util.FsUtil.deleteRecursively(tombPath)
      return 0
    }
    val staging = s"$indexDir-compact-stage"
    try {
      idx.where(col("cell").isin(touched.map(Integer.valueOf): _*))
        .join(tomb, Seq("vec_id"), "left_anti")
        .write.mode("overwrite").parquet(staging)
      val staged = spark.read.parquet(staging)
      staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(indexDir)
      val survivorCells = staged.select("cell").distinct().collect().map(_.getInt(0)).toSet
      touched.filterNot(survivorCells).foreach { c =>
        graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(indexDir, s"cell=$c"))
      }
      graft.util.FsUtil.deleteRecursively(tombPath)
    } finally graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(staging))
    touched.length
  }

  /** Small-file compaction for the APPEND path — the other half of index
    * maintenance beside [[ivfCompact]]'s tombstone reclamation: [[ivfAppend]]
    * and the streaming ingest (e11) land one file per batch per touched
    * cell, so a cell's file count grows with ingest history and the file
    * COUNT (listing, footer reads, a task per file) starts to dominate
    * probe cost long before the bytes do (the
    * [[graft.sources.Compaction]] x10 rationale, applied to the index's
    * `cell=` layout). Rewrites ONLY cells whose data-file count exceeds
    * `maxFilesPerCell`, each into exactly ONE file (hash repartition on
    * the cell key + dynamic partition overwrite); untouched cells — at
    * 100 TB, the cold majority — are never read, rewritten, or shuffled,
    * and their files stay byte-identical. Search results are IDENTICAL
    * before and after (row-identical rewrite — spec-pinned, and the v18
    * oracle holds the post-compaction search to the exact-cosine answer).
    *
    * Same crash discipline as [[ivfCompact]]: survivors stage to a
    * scratch directory before the index mutates, so a crash BEFORE the
    * final overwrite leaves the accreted-but-correct layout in place; a
    * crash DURING the final overwrite can leave touched cells partially
    * rewritten, and the staging directory (deleted only after success)
    * remains as the recovery source — replay the overwrite from it ONLY
    * if staging carries its `_SUCCESS` marker (a marker-less staging is
    * itself a partial write from a crash during the STAGING job; the
    * index is still untouched then — delete the partial staging and
    * rerun the compaction instead).
    * Single-writer maintenance op — run from the index's maintenance
    * schedule, not concurrently with appends. Returns the number of cell
    * directories rewritten.
    */
  def ivfCompactSmallFiles(spark: SparkSession, indexDir: String,
                           maxFilesPerCell: Int = 4): Int = {
    require(maxFilesPerCell >= 1, s"maxFilesPerCell must be >= 1: $maxFilesPerCell")
    val root = java.nio.file.Paths.get(indexDir)
    def dataFiles(p: java.nio.file.Path): Int =
      graft.util.FsUtil.listDir(p)(_.count(_.getFileName.toString.endsWith(".parquet")))
    val touched = graft.util.FsUtil.listDir(root)(_.filter { p =>
        p.getFileName.toString.startsWith("cell=") &&
          java.nio.file.Files.isDirectory(p)
      }.toSeq)
      .filter(dataFiles(_) > maxFilesPerCell)
      .map(_.getFileName.toString.stripPrefix("cell=").toInt).sorted
    if (touched.isEmpty) return 0
    val staging = s"$indexDir-compact-stage"
    spark.read.parquet(indexDir)
      .where(col("cell").isin(touched.map(Integer.valueOf): _*))
      // one hash partition per cell value → exactly ONE output file per
      // rewritten cell directory under partitionBy (all of a cell's rows
      // land in one task; a task writes one file per cell it holds)
      .repartition(col("cell"))
      .write.mode("overwrite").parquet(staging)
    spark.read.parquet(staging)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(indexDir)
    // The staging copy is deleted only AFTER the index-mutating write
    // committed: a crash BEFORE that write leaves the accreted-but-correct
    // layout untouched, and a crash DURING it can leave a touched cell
    // partially rewritten — in which case the staging directory (if it
    // carries _SUCCESS; see the scaladoc's recovery rule) IS the recovery
    // path (re-run the final write from it), so it must survive the
    // failure rather than vanish in a finally.
    graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(staging))
    touched.length
  }

  // -------------------------------------------------- product quantization

  /** Deterministic per-subspace PQ codebooks: `codesPerSub` corpus vectors
    * hash-sampled exactly like [[ivfCentroids]] (lowest xxhash64(vec_id) —
    * reproducible on any cluster, no k-means float-order dependence), each
    * sliced into `m` equal subspaces. Returned as m × codesPerSub × dsub —
    * the broadcast-able statistic (m·codesPerSub·dsub floats ≈ the size of
    * `codesPerSub` vectors, regardless of corpus size).
    */
  def pqCodebooks(corpus: DataFrame, m: Int, codesPerSub: Int): Seq[Seq[Seq[Float]]] = {
    val rows = corpus.select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(codesPerSub)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toSeq).toSeq
    val dim = rows.head.size
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    (0 until m).map(j => rows.map(_.slice(j * dsub, (j + 1) * dsub)))
  }

  /** The compressed PQ index: `(vec_id, codes)` where codes(j) is the
    * nearest subspace-j codebook entry for the vector's j-th slice (the
    * same native nearest-centroid kernel IVF probing uses, run per slice).
    * At rest this is m small ints per vector — the memory-compression tier
    * a 100 TB embedding corpus needs: the full-precision vectors stay in
    * cold storage and are fetched only for re-ranking shortlists.
    */
  def pqEncode(corpus: DataFrame, books: Seq[Seq[Seq[Float]]]): DataFrame = {
    val dsub = books.head.head.size
    val codes = array(books.indices.map(j =>
      element_at(graft.functions.VectorHash.ivfProbeCol(
        slice(col("embedding"), j * dsub + 1, dsub), books(j), 1), 1)): _*)
    corpus.select(col("vec_id"), codes.as("codes"))
  }

  /** Reconstructed (decompressed) vector from a codes column: concatenation
    * of the referenced codebook entries. The codebooks ride in as a nested
    * array literal — on a cluster, broadcast once per query batch.
    */
  private def pqRecon(codes: Column, books: Seq[Seq[Seq[Float]]]): Column =
    flatten(array(books.indices.map(j =>
      element_at(typedLit(books(j)), element_at(codes, j + 1).cast("int") + 1)): _*))

  /** Two-phase PQ search over a compressed index: (1) asymmetric-distance
    * shortlist — each query scores every index row against its
    * RECONSTRUCTION (query side broadcast, scan side never shuffles; the
    * shortlist window ships (q_id, vec_id, adc) only — 24 bytes/row), then
    * (2) exact cosine re-rank fetches full-precision vectors for shortlist
    * rows alone. Correct top-k whenever the shortlist recalls the true
    * top-k; `shortlistSize` is the recall knob (the v9 oracle holds the
    * composed search to the EXACT answer on the planted geometry).
    */
  def pqTopKIndexed(index: DataFrame, books: Seq[Seq[Seq[Float]]],
                    corpus: DataFrame, queries: DataFrame, k: Int,
                    shortlistSize: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_nrm")))
    val approx = index
      .withColumn("r_emb", pqRecon(col("codes"), books))
      .withColumn("r_nrm", norm(col("r_emb")))
      .join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineWithNorms(col("q_emb"), col("r_emb"), col("q_nrm"), col("r_nrm")).as("adc"))
    val ws = Window.partitionBy("q_id").orderBy(col("adc").desc, col("vec_id").asc)
    val shortlist = approx.withColumn("srank", row_number().over(ws))
      .where(col("srank") <= shortlistSize)
      .select(col("q_id"), col("vec_id"))
    exactRerank(shortlist, corpus, q, k)
  }

  /** Exact-cosine re-rank of an (q_id, vec_id) shortlist: fetch the raw
    * vectors for shortlist rows alone, score against the broadcast query
    * side, keep top-k. Shared by every two-phase search (PQ, IVF-PQ) —
    * the cost is shortlist-bounded, never corpus-bounded.
    */
  private def exactRerank(shortlist: DataFrame, corpus: DataFrame,
                          q: DataFrame, k: Int): DataFrame = {
    val exact = shortlist
      .join(corpus.select(col("vec_id"), col("embedding"),
        norm(col("embedding")).as("nrm")), "vec_id")
      .join(broadcast(q.select(col("q_id"), col("q_emb"), col("q_nrm")).distinct()), "q_id")
      .select(col("q_id"), col("vec_id"),
        cosineWithNorms(col("q_emb"), col("embedding"), col("q_nrm"), col("nrm")).as("cos"))
    val w = Window.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"), col("vec_id"), col("cos"))
  }

  /** One-call PQ search: build codebooks, encode, search. Defaults are the
    * r10-tuned knobs: 64 codes/subspace halves per-slice quantization error
    * vs 32 and shortlist 150 gives the exact re-rank three times the slack —
    * measured recall@10 = 0.948 on organic sf0.01 geometry vs 0.64 for
    * m8x32/sl50 (v11_ann_recall pins both). Cost: codes stay m bytes/row,
    * ADC reconstruction doubles its codebook lookups, re-rank fetches 150
    * full vectors per query — still shortlist-bounded, never corpus-bounded.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, codesPerSub: Int = 64, shortlistSize: Int = 150): DataFrame = {
    val books = pqCodebooks(corpus, m, codesPerSub)
    pqTopKIndexed(pqEncode(corpus, books), books, corpus, queries, k, shortlistSize)
  }

  // -------------------------------------------------------------------- SQ

  /** SCALAR-quantized (SQ8) index — the lighter-compression/higher-
    * fidelity sibling of PQ: each vector is affine-quantized to one byte
    * per dimension against its OWN [min, max] range (`x̂ᵢ = lo + codeᵢ·
    * scale`), so the index is d bytes + two floats per row — 4×
    * smaller than float32 — with no codebook to train, no sampled
    * statistic, and reconstruction error bounded by scale/2 per
    * dimension. The FAISS SQ8 tier, where PQ's m-byte codes are the
    * deeper-compression tier; both share the same two-phase search.
    * Encoding is a pure per-row projection (whole-stage codegen, no
    * shuffle, no driver statistic): `(vec_id, lo, scale, codes)` with
    * codes stored as signed tinyint (value − 128).
    */
  def sqEncode(corpus: DataFrame): DataFrame = {
    val lo = array_min(col("embedding"))
    val hi = array_max(col("embedding"))
    val scale = greatest(hi - lo, lit(1e-12)) / 255.0
    corpus.select(col("vec_id"),
      lo.cast("float").as("lo"), scale.cast("float").as("scale"),
      transform(col("embedding"), x =>
        (least(greatest(round((x - lo) / scale), lit(0.0)), lit(255.0)) - 128)
          .cast("tinyint")).as("codes"))
  }

  /** Reconstructed vector from an SQ row — a per-row lambda over the byte
    * codes, no codebook lookup at all (the reason SQ decode is cheaper
    * than PQ's ADC reconstruction). */
  private def sqRecon(codes: Column, lo: Column, scale: Column): Column =
    transform(codes, c => (lo + (c.cast("int") + 128) * scale).cast("float"))

  /** Two-phase SQ search over a compressed index: approximate-distance
    * shortlist against the reconstructions (query side broadcast, scan
    * side never shuffles), then the shared exact-cosine re-rank fetches
    * full-precision vectors for shortlist rows alone ([[pqTopKIndexed]]'s
    * contract — correct top-k whenever the shortlist recalls it, and SQ8's
    * per-dimension error is small enough that a modest shortlist does).
    */
  def sqTopKIndexed(index: DataFrame, corpus: DataFrame, queries: DataFrame,
                    k: Int, shortlistSize: Int): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("q_id"),
      col("embedding").as("q_emb"), norm(col("embedding")).as("q_nrm")))
    val approx = index
      .withColumn("r_emb", sqRecon(col("codes"), col("lo"), col("scale")))
      .withColumn("r_nrm", norm(col("r_emb")))
      .join(q, col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cosineWithNorms(col("q_emb"), col("r_emb"), col("q_nrm"), col("r_nrm")).as("adc"))
    val ws = Window.partitionBy("q_id").orderBy(col("adc").desc, col("vec_id").asc)
    val shortlist = approx.withColumn("srank", row_number().over(ws))
      .where(col("srank") <= shortlistSize)
      .select(col("q_id"), col("vec_id"))
    exactRerank(shortlist, corpus, q, k)
  }

  /** One-call SQ8 search: encode, search. Shortlist 50 is ample slack for
    * SQ8's sub-percent reconstruction error (the v17 oracle holds the
    * composed search to the EXACT answer on the planted geometry). */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             shortlistSize: Int = 50): DataFrame =
    sqTopKIndexed(sqEncode(corpus), corpus, queries, k, shortlistSize)

  // ----------------------------------------------------------------- IVF-PQ

  /** The composed IVF-PQ index — the production architecture for
    * billion-vector ANN (coarse quantizer prunes WHERE to look, product
    * quantizer compresses WHAT is stored): `(vec_id, codes, cell)` with
    * cell from the coarse codebook and codes from the subspace codebooks,
    * written `partitionBy("cell")`. The hot index is m bytes of codes + an
    * id per row — raw embeddings appear nowhere in it (spec-pinned); they
    * stay in the cold corpus table and are fetched only for shortlist
    * re-ranking. At 100 TB of vectors the index is ~100s of GB — cache-able
    * on a modest cluster while the corpus stays on disk.
    */
  def ivfPqIndex(corpus: DataFrame, cents: Seq[Seq[Float]],
                 books: Seq[Seq[Seq[Float]]], carry: Seq[String] = Nil): DataFrame = {
    val dsub = books.head.head.size
    val codes = array(books.indices.map(j =>
      element_at(graft.functions.VectorHash.ivfProbeCol(
        slice(col("embedding"), j * dsub + 1, dsub), books(j), 1), 1)): _*)
    // `carry` columns ride the index rows so metadata predicates can
    // pre-filter the compressed scan itself ([[ivfPqFilteredTopKIndexed]])
    // — a few bytes per row next to the m code bytes, vs a corpus re-join
    // per query
    corpus.select(col("vec_id") +: carry.map(col) :+ codes.as("codes") :+
      element_at(graft.functions.VectorHash.ivfProbeCol(col("embedding"), cents, 1), 1)
        .as("cell"): _*)
  }

  /** Three-phase IVF-PQ search over the composed index: (1) the broadcast
    * query side explodes to its nprobe nearest cells and the cell equi-join
    * prunes the index scan to probed cell directories (dynamic partition
    * pruning, plan-pinned); (2) ADC — each surviving code row scores
    * against its reconstruction, per-query shortlist kept; (3) exact
    * cosine re-rank fetches raw vectors for shortlist rows alone. Cost at
    * scale: (nprobe/nlist) of the COMPRESSED index scanned per query, then
    * shortlist-bounded raw fetches — both knobs (nprobe, shortlistSize)
    * carry measured recall in v11_ann_recall; nprobe = nlist AND
    * shortlistSize = |corpus| degrades exactly to brute force
    * (spec-pinned).
    */
  def ivfPqTopKIndexed(index: DataFrame, cents: Seq[Seq[Float]],
                       books: Seq[Seq[Seq[Float]]], corpus: DataFrame,
                       queries: DataFrame, k: Int, nprobe: Int,
                       shortlistSize: Int): DataFrame = {
    val q = broadcast(queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_nrm"),
        explode(graft.functions.VectorHash.ivfProbeCol(col("embedding"), cents, nprobe)).as("cell")))
    val approx = index.join(q, Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .withColumn("r_emb", pqRecon(col("codes"), books))
      .withColumn("r_nrm", norm(col("r_emb")))
      .select(col("q_id"), col("vec_id"),
        cosineWithNorms(col("q_emb"), col("r_emb"), col("q_nrm"), col("r_nrm")).as("adc"))
    val ws = Window.partitionBy("q_id").orderBy(col("adc").desc, col("vec_id").asc)
    val shortlist = approx.withColumn("srank", row_number().over(ws))
      .where(col("srank") <= shortlistSize)
      .select(col("q_id"), col("vec_id"))
    exactRerank(shortlist, corpus, q, k)
  }

  /** PRE-FILTERED search over the composed IVF-PQ index — the production
    * query shape for filtered semantic retrieval at 100 TB ("nearest
    * neighbors among rows this caller may read"). The metadata predicate
    * applies to the COMPRESSED index scan itself (the index must have been
    * built with the predicate's columns in `carry`), composing with both
    * existing pruning tiers exactly as [[ivfFilteredTopKIndexed]]: dynamic
    * partition pruning skips unprobed cell directories, the pushed-down
    * predicate skips row groups within surviving cells (both plan-pinned).
    * ADC candidates are matching rows only, so recall is independent of
    * filter selectivity (the pre- vs post-filter argument on
    * [[ivfFilteredTopKIndexed]] applies verbatim), and the exact re-rank
    * fetches raw vectors for the already-filtered shortlist alone.
    */
  def ivfPqFilteredTopKIndexed(index: DataFrame, cents: Seq[Seq[Float]],
                               books: Seq[Seq[Seq[Float]]], corpus: DataFrame,
                               queries: DataFrame, k: Int, nprobe: Int,
                               shortlistSize: Int, pred: Column): DataFrame =
    ivfPqTopKIndexed(index.where(pred), cents, books, corpus, queries, k,
      nprobe, shortlistSize)

  // ------------------------------------------------- embedding near-dup pairs

  /** SemDeDup-style semantic near-duplicate pairs blocked by the IVF cell
    * structure (Abbas et al.: cluster the embedding space, dedup within
    * clusters): every vector lands in its `probes` nearest coarse cells
    * (multi-probe assignment — an ε-close pair can straddle one cell
    * boundary, so probing 2 cells makes a miss require disagreement on
    * BOTH; spec-pinned on a constructed straddling pair), candidates are
    * vectors sharing a cell, exact cosine verifies. Output contract is
    * identical to [[cosineNearDupPairs]] — what changes is the blocking
    * structure, and that is the 100 TB point: the cells come from the SAME
    * frozen codebook the search index uses, so dedup rides the persisted
    * cell-partitioned index instead of running a second banding pass over
    * the corpus — candidate generation is cell-local (each cell's pair
    * join reads one partition directory), and the cell assignment column
    * ALREADY EXISTS on the index rows at rest. Like the paper's method,
    * recall is bounded by cluster-boundary agreement, not guaranteed by an
    * S-curve — the trade for reusing the index structure.
    */
  def semanticNearDupPairs(emb: DataFrame, cents: Seq[Seq[Float]],
                           threshold: Double = 0.95, probes: Int = 2): DataFrame = {
    val prep = emb.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"))
    val celled = prep.select(col("vec_id"),
      explode(graft.functions.VectorHash.ivfProbeCol(col("embedding"), cents, probes))
        .as("cell"))
    // ids-only candidate shuffle, then the vectors re-join — same discipline
    // as the banded path below
    celled.as("a").join(celled.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
      .join(prep.select(col("vec_id").as("a_id"), col("embedding").as("ea"), col("nrm").as("na")), "a_id")
      .join(prep.select(col("vec_id").as("b_id"), col("embedding").as("eb"), col("nrm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        cosineWithNorms(col("ea"), col("eb"), col("na"), col("nb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** Embedding-cosine near-duplicate pairs: all pairs above a cosine
    * threshold, blocked through the SRP signature (vectors within a small
    * angle agree on most sign bits, so near-dups collide on ≥1 band with
    * high probability). Never an all-pairs cross join.
    */
  def cosineNearDupPairs(emb: DataFrame, threshold: Double = 0.95,
                         bits: Int = 24, bands: Int = 4): DataFrame = {
    // 6-bit band keys: 64 buckets/band cuts candidate pairs ~6× vs 4-bit
    // keys while band-collision probability for cos ≥ 0.95 pairs stays
    // ≈ 0.53/band → ≥ 95% recall over 4 bands (SRP S-curve).
    val prep = withSigNorm(emb, "vec_id", "embedding", "nrm", bits)
    val banded = bandedKeys(prep, "vec_id", bits, bands)
    // ids-only pair dedup, then the embeddings re-join from `prep` — the
    // candidate shuffle carries 16 bytes/row, not two 64-float vectors
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_id"), col("b.vec_id").as("b_id"))
      .dropDuplicates("a_id", "b_id")
      .join(prep.select(col("vec_id").as("a_id"), col("embedding").as("ea"), col("nrm").as("na")), "a_id")
      .join(prep.select(col("vec_id").as("b_id"), col("embedding").as("eb"), col("nrm").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"),
        cosineWithNorms(col("ea"), col("eb"), col("na"), col("nb")).as("cos"))
      .where(col("cos") >= threshold)
  }

  /** SEMANTIC decontamination — p3's n-gram eval-leakage gate lifted to
    * embedding space (the SemDeDup-era recipe: paraphrased or templated
    * eval items that share no 5-gram still sit next to their source in
    * embedding space): every training vector whose cosine against ANY
    * eval vector reaches `threshold` is flagged with its best-matching
    * eval item. The eval set is bounded by contract (it is the held-out
    * benchmark) and enters the plan as literals — per-eval cosine via the
    * same native kernels as v1, top-1 by the v1 (cos desc, id asc) tie
    * rule — so the whole sweep is ONE narrow scan-bound projection over
    * the training corpus: no join, no shuffle (the v19 plan shape).
    * Output: (vec_id, eval_id, cos) for flagged rows only.
    */
  def semanticContamination(train: DataFrame, evalVecs: DataFrame,
                            threshold: Double = 0.95): DataFrame = {
    val ev = evalVecs.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toIndexedSeq))
    require(ev.nonEmpty, "semanticContamination needs a non-empty eval set")
    val nrm = norm(col("embedding"))
    val entries = ev.map { case (eid, vec) =>
      val v = typedLit(vec)
      struct(
        (-cosineWithNorms(v, col("embedding"), norm(v), nrm)).as("neg"),
        lit(eid).as("eid"))
    }
    val best = sort_array(array(entries.toIndexedSeq: _*)).getItem(0)
    train.select(col("vec_id"),
        best.getField("eid").as("eval_id"),
        (-best.getField("neg")).as("cos"))
      .where(col("cos") >= threshold)
  }

  // ------------------------------------------------- k-NN label propagation

  /** Semi-supervised LABEL PROPAGATION: assign every corpus vector the
    * majority label of its k nearest labeled SEEDS by exact cosine —
    * the classic few-labels → whole-corpus labeling step of a
    * training-data pipeline (topic/domain/safety tags from a small
    * curated set).
    *
    * The seed set is bounded by assumption (it is the hand-labeled set),
    * so it collects driver-side (the broadcast-stats pattern) and enters
    * the plan as LITERALS: per seed one cosine column (the same native
    * dot/norm kernels as v1, so scores are bit-identical to the
    * brute-force path), packed as (−cos, seed_id, label) structs whose
    * ascending `sort_array` is exactly (cosine desc, seed_id asc) — the
    * v1 tie rule — then sliced to k and majority-voted with ties to the
    * SMALLEST label. Everything is one narrow per-row projection: NO
    * join, NO shuffle, NO window — the corpus is labeled in a single
    * scan-bound pass on any number of executors. For seed sets too large
    * to broadcast as literals, label via the IVF index instead
    * ([[ivfSearch]] per seed-class centroid); this operator is the exact
    * small-seed tier.
    *
    * `seeds`: (vec_id, label, embedding) rows; k must not exceed the
    * seed count. Output: (vec_id, label, votes).
    */
  def knnLabelPropagation(corpus: DataFrame, seeds: DataFrame,
                          k: Int = 5): DataFrame = {
    val sd = seeds.select(col("vec_id"), col("label"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).toIndexedSeq))
    require(sd.nonEmpty, "knnLabelPropagation needs at least one seed")
    require(k >= 1 && k <= sd.length,
      s"k=$k must be in [1, ${sd.length}] (the seed count)")
    val labels = sd.map(_._2).distinct.sorted
    val nrm = norm(col("embedding"))
    val entries = sd.map { case (sid, lab, vec) =>
      val v = typedLit(vec)
      struct(
        (-cosineWithNorms(v, col("embedding"), norm(v), nrm)).as("neg"),
        lit(sid).as("sid"), lit(lab).as("lab"))
    }
    val topExpr = slice(sort_array(array(entries.toIndexedSeq: _*)), 1, k)
    // `top` MUST be a materialized column, not an inline expression: the
    // vote/argmax tree below references it ~2·|labels|+ times, and outside
    // whole-stage-codegen CSE each reference would re-score and re-sort all
    // |seeds| candidates — measured ~10× overcompute per row (r17). The
    // Spread exchange doubles as the materialization barrier (CollapseProject
    // cannot inline across it) and parallelizes the scoring scan, which the
    // caller's deterministic ORDER BY additionally evaluates twice
    // (range-partitioning sample + real pass — both now read the exchange).
    val scored = graft.util.Spread.byKey(
      corpus.select(col("vec_id"), topExpr.as("top")), col("vec_id"))
    val top = col("top")
    val voteOf: Map[Long, Column] = labels.map(l =>
      l -> size(filter(top, x => x.getField("lab") === l)).cast("long")).toMap
    // argmax with ties to the smallest label: strictly-greater replaces
    val (predLab, predVotes) = labels.tail.foldLeft(
      (lit(labels.head), voteOf(labels.head))) {
      case ((bl, bc), l) =>
        (when(voteOf(l) > bc, lit(l)).otherwise(bl),
          when(voteOf(l) > bc, voteOf(l)).otherwise(bc))
    }
    scored.select(col("vec_id"), predLab.as("label"), predVotes.as("votes"))
  }

  // ------------------------------------------------ MMR diversified top-k

  /** Maximal Marginal Relevance diversified top-k (Carbonell & Goldstein
    * 1998, public) — the retrieval tail that trades raw relevance for
    * coverage: greedily pick k results from a fetch-size relevance
    * shortlist, each pick maximizing
    *
    *   λ · cos(q, c) − (1 − λ) · max_{s ∈ selected} cos(c, s)
    *
    * (first pick = pure relevance: the penalty term is empty). The dedup
    * instinct applied at SERVE time: near-duplicate hits waste shortlist
    * slots, and MMR suppresses them without dropping them from the index.
    *
    * Execution shape: the shortlist is [[bruteForceTopK]] (swap in the
    * IVF tier at scale — the rerank is shortlist-only either way); the
    * candidate–candidate cosines are computed DISTRIBUTED by the same
    * round-6 kernel as the relevance leg (a fetch²-per-query self-join,
    * bounded by construction); the greedy selection then folds each
    * query's ≤ fetch² pair rows in one `flatMapGroups` — per-group state
    * is O(fetch²) REGARDLESS of corpus size, the one genuinely
    * sequential piece (each pick depends on the previous), and it
    * parallelizes across queries. Nothing touches the driver.
    *
    * Determinism: relevance and pair similarities are the round-6
    * cosines, i.e. exact multiples of 10⁻⁶ — so the objective is carried
    * in EXACT INTEGER 10⁻⁷ units (λ·rel − (1−λ)·pen with λ a multiple of
    * 0.1 is a multiple of 10⁻⁷; the decimal-micros discipline applied to
    * the rerank objective): a float rounding never decides a pick, and
    * λ·(6-decimal) values landing exactly on 7th-decimal half-boundaries
    * — which they do constantly — cannot diverge across engines. Ties
    * break on vec_id asc. Output (q_id, rank, vec_id, mmr_e7 long),
    * rank 1..k.
    */
  def mmrTopK(corpus: DataFrame, queries: DataFrame, k: Int = 5,
              fetch: Int = 20, lambda: Double = 0.7): DataFrame = {
    require(k >= 1 && k <= fetch, s"k=$k must be in [1, fetch=$fetch]")
    mmrRerank(corpus, bruteForceTopK(corpus, queries, fetch), k, lambda)
  }

  /** The rerank half over ANY (q_id, vec_id, cos) shortlist — this is what
    * "swap in the IVF tier at scale" means concretely: feed
    * [[ivfTopK]]/[[ivfTopKIndexed]] output here and the greedy, the pair
    * join, and the integer objective are unchanged (the v21 entry proves
    * the composition on the planted geometry, where the partial-probe IVF
    * shortlist is exactly the true top-k and the oracle stays exact).
    */
  def mmrRerank(corpus: DataFrame, shortlist: DataFrame, k: Int,
                lambda: Double = 0.7): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val lam10 = math.round(lambda * 10)
    require(lam10 >= 0 && lam10 <= 10 && math.abs(lambda * 10 - lam10) < 1e-9,
      s"lambda=$lambda must be a multiple of 0.1 (exact-integer objective)")
    val sl = shortlist.select(col("q_id"), col("vec_id"), col("cos"))
    val withEmb = sl
      .join(corpus.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(col("q_id"), col("vec_id"), col("cos"), col("embedding"),
        norm(col("embedding")).as("nrm"))
      .repartition(col("q_id")) // barrier: materialize norms once per row
    // LEFT join: a query whose shortlist has a single candidate produces
    // no candidate-candidate pair, but its shortlist row must still reach
    // the fold (else the lone candidate vanishes instead of ranking 1 —
    // the k>=1 contract). The null b-side is just a relevance carrier.
    val pairs = withEmb.as("a").join(withEmb.as("b"),
        col("a.q_id") === col("b.q_id") && col("a.vec_id") =!= col("b.vec_id"),
        "left")
      .select(col("a.q_id").as("q_id"), col("a.vec_id").as("a_id"),
        col("a.cos").as("rel"), col("b.vec_id").as("b_id"),
        cosineWithNorms(col("a.embedding"), col("b.embedding"),
          col("a.nrm"), col("b.nrm")).as("sim"))
    val spark = corpus.sparkSession
    import spark.implicits._
    pairs.select("q_id", "a_id", "rel", "b_id", "sim")
      .as[(Long, Long, Double, Option[Long], Option[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (q, it) =>
        val rows = it.toVector
        // round-6 doubles → exact integer micros (|err| ≪ 0.5 before round)
        val rel: Map[Long, Long] =
          rows.groupBy(_._2).map { case (id, rs) =>
            id -> math.round(rs.head._3 * 1e6) }
        val sim: Map[(Long, Long), Long] =
          rows.collect { case (_, a, _, Some(b), Some(s)) =>
            (a, b) -> math.round(s * 1e6) }.toMap
        var selected = Vector.empty[(Long, Long)]
        var remaining = rel.keySet
        while (selected.size < k && remaining.nonEmpty) {
          val best = remaining.iterator.map { c =>
            val pen =
              if (selected.isEmpty) 0L
              else selected.iterator.map(s => sim((c, s._1))).max
            (c, lam10 * rel(c) - (10 - lam10) * pen) // exact 1e-7 units
          }.minBy { case (id, obj) => (-obj, id) }
          selected :+= best
          remaining -= best._1
        }
        selected.zipWithIndex.map { case ((id, obj), i) =>
          (q, (i + 1).toLong, id, obj)
        }
      }
      .toDF("q_id", "rank", "vec_id", "mmr_e7")
  }

  /** EMBEDDING-SPACE DIAGNOSTICS: the top-k most linearly dependent
    * dimension pairs by |Pearson correlation| — the collapse detector a
    * training pipeline runs on an embedding column before trusting it
    * (highly correlated dimensions mean the effective dimensionality is
    * lower than the nominal one; the classic representation-collapse
    * smell, and the statistic PCA/whitening decisions read).
    *
    * Determinism — the integer-moments discipline: each float quantizes
    * to round-half-up integer micros FIRST (float·10⁶ is computed
    * identically by both engines; `round` is half-away-from-zero in
    * both), then every moment (Σi, Σi², Σiᵢ·iⱼ, n) is an EXACT
    * integer sum in DECIMAL(38,0) (order-free, overflow-proof past the
    * long window — the fracMicros rule), and the one float step is the
    * final textbook ratio
    *
    *   corr = (n·s_ab − s_a·s_b) / √((n·s_aa − s_a²)·(n·s_bb − s_b²))
    *
    * of exact integers — identical doubles from identical integers, then
    * round-6 (the j14 cosine precedent). Zero-variance dimensions are
    * filtered on the EXACT integer variance numerator, never on a float.
    *
    * Scale shape: ONE exchange of the exploded (vec_id, dim, micros)
    * rows, REUSED by both sides of the self-join (identical subplans →
    * ReusedExchange); the per-row d²/2 pair expansion happens after the
    * shuffle and immediately partial-aggregates to the d²/2-row moments
    * table map-side — nothing wider than d² rows ever crosses the wire
    * after that, and the top-k is a TakeOrdered over metadata.
    */
  def dimensionCorrelation(embeddings: DataFrame, topK: Int = 20): DataFrame = {
    require(topK >= 1, s"topK must be positive, got $topK")
    val dec = "decimal(38,0)"
    // Join-free moment generation (r17): the former q⋈q self-join on vec_id
    // shuffled every quantized component twice just to pair dimensions that
    // already sit side by side in one row's array. Both generates below are
    // NARROW — the only exchange left is the d²-group partial aggregate,
    // whose map-side combine ships ≤ d²·partitions rows regardless of corpus
    // size. Row multiset reaching the aggregate is identical to the join's
    // (every (dim_a < dim_b) pair of each vector exactly once), so the exact
    // decimal sums — and the result — are unchanged.
    val moments = quantizedPairRows(embeddings, diagonal = false)
      .groupBy(col("ja").as("dim_a"), col("jb").as("dim_b"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("ia").cast(dec)).as("sa"),
        sum(col("ib").cast(dec)).as("sb"),
        sum((col("ia") * col("ia")).cast(dec)).as("saa"),
        sum((col("ib") * col("ib")).cast(dec)).as("sbb"),
        sum((col("ia") * col("ib")).cast(dec)).as("sab"))
    val num = col("n") * col("sab") - col("sa") * col("sb")
    val da = col("n") * col("saa") - col("sa") * col("sa")
    val db = col("n") * col("sbb") - col("sb") * col("sb")
    moments
      .where(da > 0 && db > 0)
      .select(col("dim_a"), col("dim_b"),
        round(num.cast("double") /
          sqrt(da.cast("double") * db.cast("double")), 6).as("corr"))
      .orderBy(abs(col("corr")).desc, col("dim_a"), col("dim_b"))
      .limit(topK)
  }

  /** EMBEDDING DRIFT between corpus versions — per-dimension mean shift,
    * the representation-regression gate run when an embedding model or
    * featurizer is re-versioned (the c6/c15 snapshot discipline applied
    * to the vector space: a re-trained encoder that quietly re-centers
    * one dimension shifts every downstream ANN distance while each
    * corpus's own recall numbers still look fine). Reports the top-k
    * most-shifted dimensions.
    *
    * The v22 quantization discipline makes it exact: components quantize
    * to round-half-up integer micros FIRST, sums are exact longs, and
    * the per-dim mean is a SIGN-FACTORED floor division (component sums
    * go negative; sign(s)·(|s| div n) is the engine-portable form — the
    * o30 lesson). Shift = mean₂ − mean₁ in micros, exact long
    * subtraction. Plan: one posexplode + |dims|-row map-side-combining
    * aggregate per side, a dims-scale join — the corpus never shuffles
    * beyond its per-dim partials. Output: `(dim, n_1, mean1_e6, n_2,
    * mean2_e6, shift_e6)`, top-k by (|shift| desc, dim).
    */
  def embeddingDrift(v1: DataFrame, v2: DataFrame, k: Int = 10): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    def side(df: DataFrame, n: String, mean: String): DataFrame =
      df.select(posexplode(col("embedding")))
        .select((col("pos") + 1).cast("long").as("dim"),
          round(col("col").cast("double") * 1e6, 0).cast("long").as("q"))
        .groupBy("dim")
        .agg(count(lit(1)).as(n), sum("q").as("__s"))
        .withColumn(mean,
          expr(s"CASE WHEN __s >= 0 THEN __s DIV $n ELSE -((-__s) DIV $n) END"))
        .drop("__s")
    // FULL OUTER on dim: a dimension present in only one version (a
    // re-versioned encoder that changed dimensionality — the exact
    // regression this gate exists for) must SURFACE as drift, not vanish
    // from an inner join. Missing side: n = 0, mean NULL, shift NULL —
    // ranked FIRST (nulls_first) so the dimensionality change heads the
    // report.
    side(v1, "n_1", "mean1_e6")
      .join(side(v2, "n_2", "mean2_e6"), Seq("dim"), "full_outer")
      .na.fill(0L, Seq("n_1", "n_2"))
      .withColumn("shift_e6", col("mean2_e6") - col("mean1_e6"))
      .orderBy(abs(col("shift_e6")).desc_nulls_first, col("dim"))
      .limit(k)
  }

  /** PCA TOP-COMPONENT PROJECTION — distributed principal-direction
    * scoring, the Lloyd's-codebook execution shape applied to PCA: the
    * covariance is reduced to EXACT integer-micros moments in one
    * pair-expanded aggregate (the [[dimensionCorrelation]] machinery,
    * diagonal included), the d(d+1)/2-row moment table is COLLECTED
    * (broadcast-stats: d² is metadata no matter how many rows built it),
    * the dominant eigenvector comes from `iters` fixed power-iteration
    * steps driver-side (v⁰ = e₁, normalize each step — subword-nmt-style
    * driver-local iteration over a collected statistic, the t19
    * precedent), and the per-row centered projection (x − μ)·v runs
    * distributed as a narrow scan-bound HOF with the vectors as literals
    * — no join, no shuffle, TakeOrdered top-k.
    *
    * Cross-engine: moments are exact integers; C and μ derive from them
    * by fixed-shape double arithmetic; the oracle replays the SAME
    * power recurrence as chained CTEs over the SAME exact moments. The
    * engines' only divergence is float summation ORDER inside matvec /
    * norm / projection — relative 1e-15-per-step noise on a normalized
    * vector, absorbed by the round-4 output (the t11 rule, stressed by
    * 12 extra steps and measured stable in the spec's recomputation).
    */
  /** (ja, jb, ia, ib) rows: for every vector, every ordered dimension pair
    * ja < jb (or ja <= jb with `diagonal`) with the round-half-up integer-
    * micros quantized components — the moment-table row source shared by
    * [[dimensionCorrelation]] and [[pcaProject]]. Produced WITHOUT a self-
    * join (r17): quantize the array once per row (narrow), posexplode to the
    * left element, then posexplode the array's tail slice for the right —
    * two chained generators, no exchange anywhere. The old q⋈q-on-vec_id
    * formulation shuffled all |corpus|·d quantized rows twice (both join
    * sides) before the d²-group aggregate; this ships nothing until the
    * aggregate's map-side combine, which is the only shuffle left and is
    * d²-bounded. Same row multiset, so downstream exact-integer sums are
    * bit-identical.
    */
  private def quantizedPairRows(embeddings: DataFrame, diagonal: Boolean): DataFrame = {
    val tailFrom = if (diagonal) col("p") + 1 else col("p") + 2
    embeddings
      .select(col("vec_id"), col("embedding"))
      // spread the corpus BEFORE the d²-per-row expansion: each input row
      // fans out to ~d²/2 pair rows plus the moment partials, so the narrow
      // (vec_id, embedding) shuffle here is ~d²× cheaper than the work it
      // parallelizes. The partition count is pinned to defaultParallelism
      // (cluster cores — scale-adaptive, not a constant): AQE's coalescing
      // sizes partitions by SHUFFLED bytes and would fold this kB-scale
      // exchange into one partition, serializing the d²-heavy stage it
      // feeds (measured: 3.9 s single-task vs 0.5 s spread at sf0.1/32).
      .repartition(embeddings.sparkSession.sparkContext.defaultParallelism,
        col("vec_id"))
      .select(col("vec_id"),
        transform(col("embedding"),
          x => round(x.cast("double") * 1e6, 0).cast("long")).as("qa"))
      .select(col("vec_id"), col("qa"), posexplode(col("qa")).as(Seq("p", "ia")))
      .select((col("p") + 1).cast("long").as("ja"), col("ia"),
        posexplode(slice(col("qa"), tailFrom, greatest(size(col("qa")) - tailFrom + 1, lit(0))))
          .as(Seq("t", "ib")))
      .select(col("ja"), (col("ja") + col("t") + lit(if (diagonal) 0 else 1)).cast("long").as("jb"),
        col("ia"), col("ib"))
  }

  def pcaProject(embeddings: DataFrame, iters: Int = 12,
                 topK: Int = 50): DataFrame = {
    require(iters >= 1 && topK >= 1, s"iters=$iters, topK=$topK must be positive")
    val dec = "decimal(38,0)"
    // Same join-free moment generation as [[dimensionCorrelation]] (r17),
    // diagonal included: identical row multiset to the former a⋈b (ja <= jb)
    // join, so the collected exact-integer moments are unchanged.
    val mom = quantizedPairRows(embeddings, diagonal = true)
      .groupBy(col("ja").cast("int").as("ja"), col("jb").cast("int").as("jb"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("ia").cast(dec)).as("sa"),
        sum(col("ib").cast(dec)).as("sb"),
        sum((col("ia") * col("ib")).cast(dec)).as("sab"))
      .select(col("ja"), col("jb"),
        col("n").cast("double").as("nd"),
        col("sa").cast("double").as("sad"),
        (col("n") * col("sab") - col("sa") * col("sb"))
          .cast("double").as("num"))
      .collect()
    val d = mom.map(_.getInt(0)).max
    val n = mom.head.getDouble(2)
    val c = Array.ofDim[Double](d, d)
    val mu = new Array[Double](d)
    mom.foreach { r =>
      val (ja, jb) = (r.getInt(0) - 1, r.getInt(1) - 1)
      val cov = r.getDouble(4) / (n * n * 1.0e12)
      c(ja)(jb) = cov
      c(jb)(ja) = cov
      if (ja == jb) mu(ja) = r.getDouble(3) / (n * 1000000.0)
    }
    var v = Array.tabulate(d)(j => if (j == 0) 1.0 else 0.0)
    (1 to iters).foreach { _ =>
      val w = Array.tabulate(d)(r => {
        var s = 0.0; var k = 0
        while (k < d) { s += c(r)(k) * v(k); k += 1 }; s
      })
      var nn = 0.0; var k = 0
      while (k < d) { nn += w(k) * w(k); k += 1 }
      val nrm = math.sqrt(nn)
      v = w.map(_ / nrm)
    }
    val muLit = typedLit(mu.toSeq)
    val vLit = typedLit(v.toSeq)
    val centered = zip_with(col("embedding").cast("array<double>"), muLit,
      (x, m) => x - m)
    val terms = zip_with(centered, vLit, (y, w) => y * w)
    val proj = aggregate(terms, lit(0.0), (acc, y) => acc + y)
    embeddings
      .select(col("vec_id"), round(proj, 4).as("proj"))
      .orderBy(col("proj").desc, col("vec_id"))
      .limit(topK)
  }

  /** Embedding NORM profile — the scale-sanity audit run before any
    * similarity work ships: squared-norm distribution (quantize-first
    * integer micros — the v22 discipline: components round-half-up to
    * micros FIRST, the per-vector Σq² is an exact long, corpus sums
    * DECIMAL-widened), zero-vector count (a zero norm breaks every
    * cosine downstream — the silent NaN factory), and the count outside
    * a ±10% unit-norm band (a mixed-normalization corpus — half unit,
    * half raw — ruins dot-for-cosine shortcuts; this is the gate that
    * sees the mix). norm² deliberately, never norm: the square root
    * would re-introduce a float on the comparison path, and the band
    * test is monotone in the square.
    *
    * Plan: ONE narrow codegen'd aggregate-HOF pass (no explode, no
    * shuffle beyond the 1-row partials). Output: `(n_vecs, n_dims,
    * n_zero, n_off_unit, min_norm2_u, max_norm2_u, mean_norm2_u)` in
    * micros² units (1e12 = unit norm).
    */
  def normProfile(embeddings: DataFrame): DataFrame =
    normReport(normPartials(embeddings))

  /** One combine-safe partial row of the norm statistics — every column
    * mergeable (counts and the DECIMAL Σ re-SUM, extremes re-MIN/MAX),
    * so the STREAMED fold (e38) lands one of these per micro-batch and
    * [[normReport]] over the folded rows equals the batch profile by
    * construction — the first log whose row mixes all three mergeable
    * classes (sum + min + max) at once.
    */
  def normPartials(embeddings: DataFrame): DataFrame = {
    // double-widened BEFORE the round: float·10⁶ rounds differently than
    // the oracle's DOUBLE[] arithmetic at the half boundary (the v26 rule)
    val n2 = expr("aggregate(CAST(embedding AS ARRAY<DOUBLE>), 0L, (acc, x) -> " +
      "acc + CAST(round(x * 1000000) AS BIGINT) * CAST(round(x * 1000000) AS BIGINT))")
    embeddings.select(n2.as("n2"), size(col("embedding")).cast("long").as("nd"))
      .agg(count(lit(1)).as("n_vecs"),
        max("nd").as("n_dims"),
        sum(when(col("n2") === 0L, 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("n2") < 810000000000L || col("n2") > 1210000000000L, 1L)
          .otherwise(0L)).as("n_off_unit"),
        min("n2").as("min_n2"),
        max("n2").as("max_n2"),
        sum(expr("CAST(n2 AS DECIMAL(38,0))")).as("sum_n2"))
  }

  /** Merge [[normPartials]] rows (one, or a folded log's many) into the
    * report row — the shared stage that makes stream ≡ batch. */
  def normReport(partials: DataFrame): DataFrame =
    partials.agg(
      coalesce(sum("n_vecs"), lit(0L)).as("n_vecs"),
      max("n_dims").as("n_dims"),
      coalesce(sum("n_zero"), lit(0L)).as("n_zero"),
      coalesce(sum("n_off_unit"), lit(0L)).as("n_off_unit"),
      min("min_n2").as("min_norm2_u"),
      max("max_n2").as("max_norm2_u"),
      expr("CAST(sum(CAST(sum_n2 AS DECIMAL(38,0))) DIV sum(n_vecs) AS BIGINT)")
        .as("mean_norm2_u"))
}
