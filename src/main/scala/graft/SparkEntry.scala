package graft

import graft.GraftSession.scratch
import graft.compile.QueryCompiler
import graft.exec.SearchExecutor
import graft.model.{AclContext, DataSetFiltering, InvalidQueryException, MetadataEntry}
import graft.operators.{Dedup, Joins, Multimodal, Relational, Similarity, TextAnalysis}
import graft.streaming.EventStream
import graft.store.MetadataStore
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry (+ oracle SQL) per implemented
  * operator from SURVEY.md §2. All catalog operators run over the
  * deterministic metadata corpus derived from the driver's `part` table
  * ([[Corpus]]); the oracle SQL prefixes [[Corpus.metaSql]] so DuckDB
  * computes the identical corpus.
  */
object SparkEntry {

  private val admin = AclContext(Nil, isAdmin = true)
  private val M = Corpus.metaSql

  /** DuckDB equivalent of Analyzers.standardTokens (ASCII corpus). */
  private def stdToks(c: String): String =
    s"list_filter(string_split_regex(lower($c), '[^a-z0-9]+'), x -> x <> '')"

  /** DuckDB equivalent of Analyzers.uriTokens. */
  private def uriToks(c: String): String =
    s"list_filter(string_split_regex(lower($c), '[^a-z]+'), x -> x <> '' AND x NOT IN ('http','https','ftp','www','com'))"

  /** Compile DSL + ACL, run the two-branch executor, return the hits branch
    * (ordered by score desc, id — deterministic).
    */
  private def hits(spark: SparkSession, sfDir: String, dsl: String, acl: AclContext): DataFrame = {
    val cq = QueryCompiler.compile(QueryCompiler.parse(dsl), acl)
    SearchExecutor.hitsBranch(SearchExecutor.baseBranch(Corpus.metadata(spark, sfDir), cq), cq)
  }

  /** Unpaged variant: splice a huge size into the DSL so the hits branch
    * returns every matching row, still deterministically ordered.
    */
  private def all(dsl: String): String = {
    val inner = dsl.trim.stripPrefix("{").stripSuffix("}").trim
    if (inner.isEmpty) """{"size":10000000}"""
    else s"""{"size":10000000,$inner}"""
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    hits(spark, "/root/testdata/sf0.001", """{"query":"red","size":100}""", admin)

  private def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")

  /** Store-op harness: fixed clock (determinism) + fresh temp-dir store. */
  private val storeClock: () => java.sql.Timestamp =
    () => java.sql.Timestamp.valueOf("2020-01-01 00:00:00")

  private def freshStore(s: SparkSession): MetadataStore =
    new MetadataStore(s,
      java.nio.file.Files.createTempDirectory("graft-verify-store").toString, storeClock)

  /** Corpus rows in a zero-padded id range, as typed entries. */
  private def corpusEntries(s: SparkSession, d: String, lo: String, hi: String): Dataset[MetadataEntry] =
    Corpus.metadata(s, d).where(col("id").between(lo, hi))
      .as(Encoders.product[MetadataEntry])

  private def badEntry(id: String, targetUri: String): MetadataEntry =
    MetadataEntry(id, "catx", java.sql.Timestamp.valueOf("2015-01-01 00:00:00"),
      "sample", "csv", isPublic = true, "org1", 1L, 1L,
      "http://data.example.com/x", targetUri, "bad entry")

  private def emb(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/embeddings.parquet")

  /** lineitem with the r17 scan-parallelism guard: the sf tables are laid
    * out as a few parquet row groups, which caps every downstream stage of
    * the compute-heavy OLAP pipelines (joins, Expand, decimal aggregates
    * all run inside the scan stage once dims broadcast) at 2-3 tasks; at
    * real scale the guard is a no-op (see util.Spread.scanWide). Keyed on
    * l_orderkey — the fact key the order-grain joins use. Filters still
    * push into the scan (predicates push through RepartitionByExpression).
    */
  private def lineitemWide(s: SparkSession, d: String): DataFrame =
    graft.util.Spread.scanWide(
      s.read.parquet(s"$d/lineitem.parquet"), col("l_orderkey"))

  /** Shared j1/j4 harness: purchases as-of-joined to the same user's most
    * recent prior click, output (purchase_id, user_id, purchase_ts,
    * click_ts, click_id) ordered by purchase id.
    */
  private def clickPurchaseAsOf(s: SparkSession, d: String,
                                toleranceMicros: Long): DataFrame = {
    val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    Joins.asOf(purchases, clicks, Seq("user_id"),
        "purchase_ts", "click_ts", "click_id", toleranceMicros)
      .orderBy("purchase_id")
  }

  /** Planted near-dup CHAINS for the connected-component oracle: doc→doc+1
    * edges for doc_id % 50 < 3, giving disjoint 4-node paths (k, k+1, k+2,
    * k+3). A path's endpoints are linked only transitively — the shape that
    * separates true connected components from one-round min-propagation.
    */
  private def chainPairs(docs: DataFrame): DataFrame =
    docs.as("a").join(docs.as("b"), col("b.doc_id") === col("a.doc_id") + 1)
      .where(col("a.doc_id") % 50 < 3)
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))

  /** documents plus truncated near-copies — the d3 planted corpus. Every
    * doc_id % 20 == 7 doc reappears at doc_id+300000 keeping its first
    * ⌈98%⌉ tokens, so the copy's exact shingle Jaccard vs its source is
    * closed-form computable in DuckDB (measured ∈ [0.97, 1.0] at sf0.01).
    * The registered decision threshold is 0.6, the center of the corpus's
    * measured Jaccard GAP: at every SF, candidate pairs score either
    * ≤ 0.14 (organic background) or ≥ 0.80 (near-dups — sf0.1 has one pair
    * at exactly 0.800, which a 0.8 threshold would coin-flip on), so the
    * MinHash estimate (k=64: σ ≤ 0.04) sits ≥ 3.5σ from the boundary on
    * every pair and the banded-LSH operator's full pair set is held to the
    * exact-Jaccard oracle at any scale factor.
    */
  private def plantedTruncDocs(s: SparkSession, d: String): DataFrame =
    plantedSliceDocs(s, d, residue = 7, offset = 300000L, frac = 0.98)

  /** documents plus 25%-PREFIX excerpts of every doc_id % 20 == 13 doc
    * (offset +400000) — the d7 planted corpus. An excerpt's shingles are a
    * subset of its source's, so its containment is exactly 1.0 while its
    * Jaccard is ≈0.25 — the asymmetric-duplication case (quotes, leads,
    * truncated mirrors) that containment dedup exists to catch and Jaccard
    * provably misses at any threshold ≥ 0.5.
    */
  private def plantedPrefixDocs(s: SparkSession, d: String): DataFrame =
    plantedSliceDocs(s, d, residue = 13, offset = 400000L, frac = 0.25)

  /** Shared plant-a-sliced-copy builder: documents plus the first
    * ⌈frac·tokens⌉ tokens of every doc_id % 20 == residue doc, re-joined
    * as text under doc_id + offset. [[slicedDocsCte]] is its DuckDB twin —
    * keep the two in lockstep.
    */
  private def plantedSliceDocs(s: SparkSession, d: String, residue: Int,
                               offset: Long, frac: Double): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val t = graft.analyzers.Analyzers.standardTokens(col("text"))
    base.unionByName(
      base.where(col("doc_id") % 20 === residue)
        .select((col("doc_id") + offset).as("doc_id"),
          array_join(slice(t, lit(1), ceil(size(t) * frac).cast("int")), " ").as("text")))
  }

  /** documents plus token-REVERSED copies — the d4 planted corpus. SimHash
    * is a function of the token multiset (order-free ±1 votes), so a
    * reversed copy's signature is bit-identical to its source's: Hamming 0,
    * deterministically, for any hash function — the planted (x, x+300000)
    * pairs are in the answer at every scale factor. The registered entry
    * restricts its REPORT to that planted window (b_id = a_id + 300000 —
    * organic ids are < 300000, so no other pair can land in it) because the
    * unrestricted Hamming-0 set is not SQL-predictable: organic docs with
    * near-proportional token-frequency profiles (the corpus's repetitive
    * docs — e.g. a 93-token and a 60-token doc over a shared vocabulary at
    * sf0.1) can tie all 64 vote margins by hash luck, which no oracle can
    * enumerate. General nonzero-Hamming behavior is spec territory
    * (DedupPropertySpec / OperatorsSpec).
    */
  private def plantedPermDocs(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val t = graft.analyzers.Analyzers.standardTokens(col("text"))
    base.unionByName(
      base.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 300000L).as("doc_id"),
          array_join(reverse(t), " ").as("text")))
  }

  /** documents re-shaped into LINE-structured pages — the d8 planted
    * corpus. Every doc keeps its body as line 1 and gains boilerplate
    * footers: a newsletter plug on doc_id % 3 == 0 (~1/3 of the corpus)
    * and a copyright line on doc_id % 2 == 0 (~1/2) — both far above any
    * document-frequency threshold, while organic body lines are unique to
    * their document at every SF (no exact text dups in the corpus, per d1).
    * The boilerplate/body separation is therefore closed-form in SQL.
    */
  private def plantedLineDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      concat_ws("\n", col("text"),
        when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter for updates")),
        when(col("doc_id") % 2 === 0, lit("copyright example corp all rights reserved")))
        .as("text"))

  /** documents with a shared 12-token boilerplate tail appended to every
    * 7th doc — the d10 planted corpus. The tail's five interior 8-token
    * windows repeat across ~n/7 documents (occurrence count far above the
    * ≥2 cut) while windows straddling the splice point carry doc-specific
    * prefix tokens, so each planted doc reports a maximal span covering at
    * least the tail; any ORGANIC ≥8-token corpus repeats are legitimate
    * output too — the oracle runs the identical pipeline, so the full
    * span set is closed-form at every SF.
    */
  private def plantedSpanDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" the quick brown fox jumps over the lazy dog again and again")))
        .otherwise(col("text")).as("text"))

  /** Embeddings plus a planted 10-deep neighborhood per query vector — the
    * v2 oracle geometry. Each query q (vec_id < 5) gets copies at
    * q*100+j+200000 (j = 1..10) with dim 0 shifted by j/256 (exact in
    * float): cosines land in [0.99923, 0.99999], distinct at 6 decimals,
    * while the organic corpus never exceeds cos 0.40 to any query — so the
    * exact top-10 is the 10 plants and SRP-LSH (16 bits, 4 bands) misses a
    * plant with probability < 1e-5 per band set. The single float add
    * reproduces bit-identically in DuckDB (the v3 pattern).
    */
  private def plantedTopKEmb(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    e.unionByName(
      e.where(col("vec_id") < 5)
        .select(col("vec_id"), explode(sequence(lit(1), lit(10))).as("j"), col("embedding"))
        .select((col("vec_id") * 100L + col("j") + 200000L).as("vec_id"),
          concat(
            array((element_at(col("embedding"), 1) + (col("j") / lit(256.0)).cast("float")).cast("float")),
            slice(col("embedding"), 2, 63)).as("embedding")))
  }

  /** [[plantedTopKEmb]] carrying metadata labels — the v13 filtered-search
    * geometry. Organic rows keep the table's real `label`; plant j carries
    * label j % 2, so each query has exactly five label-0 plants
    * (j = 2, 4, 6, 8, 10, cosine decreasing in j). The label-0 exact top-5
    * is therefore precisely those plants (organic cosines never exceed
    * 0.40), all inside the query's probed cells — the pre-filtered partial
    * probe is held to the exact filtered answer.
    */
  private def plantedLabeledEmb(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    e.select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(
        e.where(col("vec_id") < 5)
          .select(col("vec_id"), explode(sequence(lit(1), lit(10))).as("j"), col("embedding"))
          .select((col("vec_id") * 100L + col("j") + 200000L).as("vec_id"),
            concat(
              array((element_at(col("embedding"), 1) + (col("j") / lit(256.0)).cast("float")).cast("float")),
              slice(col("embedding"), 2, 63)).as("embedding"),
            (col("j") % 2).cast("int").as("label")))
  }

  /** Embeddings plus deterministic planted near-duplicates: the first 20
    * vectors re-inserted under vec_id+100000 with dim 0 shifted by +0.1f
    * (cos ≈ 0.995 on unit vectors). The organic corpus's max pairwise cosine
    * is ~0.51, so the exact near-dup answer is precisely the 20 planted
    * pairs — which makes the LSH-blocked operator oracle-checkable. Float
    * arithmetic (single IEEE add) reproduces bit-identically in DuckDB.
    */
  private def plantedEmb(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).select(col("vec_id"), col("embedding"))
    val planted = e.where(col("vec_id") < 20)
      .select((col("vec_id") + 100000L).as("vec_id"),
        concat(
          array((element_at(col("embedding"), 1) + lit(0.1f)).cast("float")),
          slice(col("embedding"), 2, 63)).as("embedding"))
    e.unionByName(planted)
  }

  /** The stub media corpus plus perceptual near-duplicates — the m4
    * planted corpus: every media_id % 20 == 7 row reappears at +300000
    * with its LAST payload byte's low bit flipped. The 29-bit gradient
    * pHash only compares byte 15 in two positions (bit 14: b14>b15,
    * bit 28: b13>b15), so a plant sits at Hamming ≤ 2 from its source —
    * inside the operator's default ball, with recall guaranteed by the
    * pigeonhole banding. Organic Hamming ≤ 2 coincidences are legitimate
    * output; the oracle recomputes the identical hash in SQL, so the
    * full pair graph is closed-form at every SF.
    */
  private def plantedMedia(s: SparkSession, d: String): DataFrame = {
    val m = Multimodal.mediaFromDocuments(docs(s, d))
    val hx = lower(hex(col("payload")))
    val flippedLast = lpad(lower(hex(
      conv(substring(hx, 31, 2), 16, 10).cast("int").bitwiseXOR(lit(1)))), 2, "0")
    m.unionByName(
      m.where(col("media_id") % 20 === 7)
        .select((col("media_id") + 300000L).as("media_id"), col("kind"),
          to_binary(concat(substring(hx, 1, 30), flippedLast), lit("hex")).as("payload"),
          col("width"), col("height"), col("format")))
  }

  /** v25: measured recall of PARTIAL-probe range search vs the full-probe
    * exact radius scan (the v11 discipline applied to v24) — for RANGE
    * search, partial-probe loss is precisely the in-radius neighbors
    * living in cells the query didn't probe, so the knob→recall curve is
    * the capacity-planning evidence a caller sizing nprobe needs. Ground
    * truth collects once (|queries|·avg-in-radius pairs — codebook-scale)
    * and re-enters each leg as a broadcast local relation.
    */
  private def measuredRangeRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d)
    val q = e.where(col("vec_id") < 50)
    val cents = Similarity.ivfCentroids(e, 32)
    val idx = Similarity.ivfIndex(e, cents)
    val tau = 0.25
    val exactPairs = Similarity.rangeSearchIndexed(idx, cents, q, tau, nprobe = 32)
      .select(col("q_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = broadcast(exactPairs.toDF("q_id", "vec_id"))
    val total = exactPairs.size.toLong
    def leg(name: String, nprobe: Int): DataFrame =
      Similarity.rangeSearchIndexed(idx, cents, q, tau, nprobe)
        .select("q_id", "vec_id")
        .join(exact, Seq("q_id", "vec_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(name).as("method"), col("hits"), lit(total).as("total"),
          round(col("hits") / lit(total.toDouble), 4).as("recall"))
    leg("range_nprobe4", 4)
      .unionByName(leg("range_nprobe8", 8))
      .unionByName(leg("range_nprobe16", 16))
      .orderBy("method")
  }

  /** The v11 measurement body: recall@10 of every approximate path vs the
    * exact scan on sf0.01's organic geometry (see the registration comment;
    * only runs when the SF fingerprint matches the pinned corpus).
    */
  private def measuredRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = emb(s, d)
      val q = e.where(col("vec_id") < 50)
      // The exact top-10 ground truth is |q|·10 (q_id, vec_id) pairs — a
      // driver-side statistic the size of a codebook snapshot, so it
      // collects once and re-enters each leg as a broadcast local relation
      // (no session-lifetime cache pinned per invocation)
      val exactPairs = Similarity.bruteForceTopK(e, q, 10)
        .select(col("q_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val exact = broadcast(exactPairs.toDF("q_id", "vec_id"))
      val total = exactPairs.size.toLong
      def leg(name: String, approx: DataFrame): DataFrame =
        approx.select("q_id", "vec_id")
          .join(exact, Seq("q_id", "vec_id"), "left_semi")
          .agg(count(lit(1)).as("hits"))
          .select(lit(name).as("method"), col("hits"), lit(total).as("total"),
            round(col("hits") / lit(total.toDouble), 4).as("recall"))
      // Each method carries its r8 baseline knob AND the r10-tuned knob —
      // the measured knob→recall curve on organic geometry (see scaladoc
      // on lshTopK/ivfTopKIndexed/pqTopK for why each knob moves recall)
      leg("lsh_16x4", Similarity.lshTopK(e, q, 10, bits = 16, bands = 4))
        .unionByName(leg("lsh_24x8", Similarity.lshTopK(e, q, 10)))
        .unionByName(leg("ivf_nprobe8",
          Similarity.ivfTopK(e, q, 10, nlist = 32, nprobe = 8)))
        .unionByName(leg("ivf_nprobe16",
          Similarity.ivfTopK(e, q, 10, nlist = 32, nprobe = 16)))
        .unionByName({
          // one Lloyd refinement (the offline re-train cost) feeds both probes
          val cents = Similarity.lloydRefine(e, Similarity.ivfCentroids(e, 32))
          val idx = Similarity.ivfIndex(e, cents)
          leg("ivf_lloyd_nprobe8",
              Similarity.ivfTopKIndexed(idx, cents, q, 10, nprobe = 8))
            .unionByName(leg("ivf_lloyd_nprobe16",
              Similarity.ivfTopKIndexed(idx, cents, q, 10, nprobe = 16)))
        })
        .unionByName(leg("pq_m8x32_sl50",
          Similarity.pqTopK(e, q, 10, m = 8, codesPerSub = 32, shortlistSize = 50)))
        .unionByName(leg("pq_m8x64_sl150", Similarity.pqTopK(e, q, 10)))
        .unionByName(leg("sq_sl50", Similarity.sqTopK(e, q, 10)))
        .unionByName({
          // one codebook + index build (the offline cost) feeds both
          // probe knobs — the r8-era default (16) and the r11-tuned 20
          val cents = Similarity.ivfCentroids(e, 32)
          val books = Similarity.pqCodebooks(e, 8, 64)
          val idx = Similarity.ivfPqIndex(e, cents, books)
          leg("ivfpq_np16_m8x64_sl150",
              Similarity.ivfPqTopKIndexed(idx, cents, books, e, q, 10, 16, 150))
            .unionByName(leg("ivfpq_np20_m8x64_sl150",
              Similarity.ivfPqTopKIndexed(idx, cents, books, e, q, 10, 20, 150)))
        })
        .orderBy("method")
  }

  /** The d16 measurement body: recall of every production dedup path vs the
    * EXACT Jaccard pair set (Dedup.exactJaccardPairs — no df cap, no
    * minShared cut, exact for any positive threshold) on sf0.01's organic
    * corpus. The truth set is a gate-scale statistic (tens of pairs), so it
    * collects once and re-enters each leg as a broadcast local relation —
    * the v11 pattern applied to dedup. The simhash leg is measured against
    * the SAME Jaccard truth it does not directly target (it thresholds
    * Hamming distance of token-frequency sketches): its number documents
    * the cross-method gap, not a defect.
    */
  private def measuredDedupRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ds = docs(s, d)
    val truthPairs = graft.operators.Dedup.exactJaccardPairs(ds)
      .select(col("a_id"), col("b_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val truth = broadcast(truthPairs.toDF("a_id", "b_id"))
    val total = truthPairs.size.toLong
    def leg(name: String, approx: DataFrame): DataFrame =
      approx.select("a_id", "b_id")
        .join(truth, Seq("a_id", "b_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(name).as("method"), col("hits"), lit(total).as("total"),
          round(col("hits") / lit(total.toDouble), 4).as("recall"))
    leg("blocked_exact_df20_ms3", graft.operators.Dedup.jaccardPairs(ds))
      .unionByName(leg("minhash_16x4", graft.operators.Dedup.minhashPairs(ds)))
      .unionByName(leg("minhash_8x8",
        graft.operators.Dedup.minhashPairs(ds, bands = 8)))
      .unionByName(leg("simhash_h3", graft.operators.Dedup.simhashPairs(ds)))
      .orderBy("method")
  }

  // ------------------------------------------------------------------------
  // queries + oracleSql: keys must match; output column names must match the
  // oracle's aliases exactly (driver sorts columns by name before hashing).
  // ------------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1 equality filter (single-value term)
    "f1_equality" -> ((s, d) =>
      hits(s, d, all("""{"filters":[{"category":["cat3"]}]}"""), admin)
        .select(col("id"), col("category"))),

    // F2 set-membership filter (terms)
    "f2_set_membership" -> ((s, d) =>
      hits(s, d, all("""{"filters":[{"format":["csv","avro"]}]}"""), admin)
        .select(col("id"), col("format"))),

    // F3 closed time range (inclusive both ends)
    "f3_time_range" -> ((s, d) =>
      hits(s, d, all("""{"filters":[{"creationTime":["2015-03-01 00:00:00","2015-06-01 00:00:00"]}]}"""), admin)
        .select(col("id"), date_format(col("creationTime"), "yyyy-MM-dd").as("creation_date"))),

    // F3 open range: -1 elides the lower bound
    "f3_open_range" -> ((s, d) =>
      hits(s, d, all("""{"filters":[{"creationTime":["-1","2015-02-01 00:00:00"]}]}"""), admin)
        .select(col("id"), date_format(col("creationTime"), "yyyy-MM-dd").as("creation_date"))),

    // F4 conjunction of three filters
    "f4_conjunction" -> ((s, d) =>
      hits(s, d, all("""{"filters":[{"category":["cat2"]},{"isPublic":[true]},{"format":["csv","avro"]}]}"""), admin)
        .select(col("id"), col("category"), col("format"), col("isPublic").as("is_public"))),

    // F5 ACL OR-group, default mode: (orgUUID ∈ orgs) OR isPublic
    "f5_acl_default" -> ((s, d) =>
      hits(s, d, all("{}"), AclContext(Seq("org1"), isAdmin = false))
        .select(col("id"), col("orgUUID").as("org_uuid"), col("isPublic").as("is_public"))),

    // F5 onlyPrivate mode: orgUUID ∈ orgs AND NOT isPublic
    "f5_only_private" -> ((s, d) =>
      hits(s, d, all("{}"),
        AclContext(Seq("org1", "org2"), isAdmin = false, DataSetFiltering.OnlyPrivate))
        .select(col("id"), col("orgUUID").as("org_uuid"), col("isPublic").as("is_public"))),

    // F5 onlyPublic mode: isPublic only
    "f5_only_public" -> ((s, d) =>
      hits(s, d, all("{}"),
        AclContext(Seq("org1"), isAdmin = false, DataSetFiltering.OnlyPublic))
        .select(col("id"), col("isPublic").as("is_public"))),

    // F6 whitelist: illegal filter field → InvalidQuery (the reference's 400)
    "f6_whitelist_reject" -> ((s, d) => {
      import s.implicits._
      val err =
        try { hits(s, d, """{"filters":[{"badField":["x"]}]}""", admin); "NO_ERROR" }
        catch { case _: InvalidQueryException => "InvalidQuery" }
      Seq(err).toDF("error")
    }),

    // F7 stemmed title term-filter: the reference's title field is
    // english-analyzed, so {"title":["rings"]} matches stored token `ring`
    "f7_title_stemmed" -> ((s, d) =>
      hits(s, d, all("""{"filters":[{"title":["rings"]}]}"""), admin)
        .select(col("id"), col("title"))),

    // Q4 (M6) IDF-weighted scoring: corpus df snapshot → weighted sample clause
    "q4_idf_score" -> ((s, d) => {
      val meta = Corpus.metadata(s, d)
      val (n, dfs) = QueryCompiler.idfWeights(meta, Seq("red", "widget"))
      meta.withColumn("score", round(QueryCompiler.scoreColumnIdf("red widget", n, dfs), 6))
        .where(col("score") > 0).select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id"))
    }),

    // Q5 TF·IDF: q4's IDF weighting with SUBLINEAR term frequency
    // (ln(1+tf)·idf — ES 2.1 default-similarity ordering on repeated
    // terms). TPC-H p_name draws 5 DISTINCT colors, so tf would be 0/1
    // everywhere; docs with id % 5 == 0 get their dataSample doubled (both
    // engines derive the same corpus) and must order ABOVE single-match
    // docs — the ordering TF exists to produce, pinned by the oracle
    "q5_tf_score" -> ((s, d) => {
      val meta = Corpus.metadata(s, d).withColumn("dataSample",
        when(col("id").cast("int") % 5 === 0,
          concat(col("dataSample"), lit(" "), col("dataSample")))
          .otherwise(col("dataSample")))
      val (n, dfs) = QueryCompiler.idfWeights(meta, Seq("red", "widget"))
      meta.withColumn("score", round(QueryCompiler.scoreColumnTfIdf("red widget", n, dfs), 6))
        .where(col("score") > 0).select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id"))
    }),

    // X1 DSL parser: malformed JSON → InvalidQuery
    "x1_dsl_error" -> ((s, d) => {
      import s.implicits._
      val err =
        try { QueryCompiler.parse("{not json"); "NO_ERROR" }
        catch { case _: InvalidQueryException => "InvalidQuery" }
      Seq(err).toDF("error")
    }),

    // Q1 scored text query, single term hitting title(3) + dataSample(2)
    "q1_text_score" -> ((s, d) =>
      hits(s, d, all("""{"query":"red"}"""), admin)
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score"))),

    // Q1 uri clause: term only reachable through the uri_analyzer tokens
    "q1_uri_clause" -> ((s, d) =>
      hits(s, d, all("""{"query":"economy"}"""), admin)
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score"))),

    // Q1 multi-term: coordination fraction on dataSample/sourceUri
    "q1_multiterm" -> ((s, d) =>
      hits(s, d, all("""{"query":"red widget"}"""), admin)
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score"))),

    // Q2+Q3 ranking + explicit pagination (from=5, size=10)
    "q2_pagination" -> ((s, d) =>
      hits(s, d, """{"query":"red","from":5,"size":10}""", admin)
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score"))),

    // Q3 default page size (ES default 10, from 0)
    "q3_default_page" -> ((s, d) =>
      hits(s, d, """{"query":"red"}""", admin)
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score"))),

    // A1 category facet: top-100 buckets by count
    "a1_facet_categories" -> ((s, d) => {
      val cq = QueryCompiler.compile(QueryCompiler.parse("{}"), admin)
      SearchExecutor.facetBranch(
        SearchExecutor.baseBranch(Corpus.metadata(s, d), cq), "category", SearchExecutor.CategoryFacetSize)
        .select(col("category"), col("count").as("cnt"))
    }),

    // A2 format facet: top-10 buckets
    "a2_facet_formats" -> ((s, d) => {
      val cq = QueryCompiler.compile(QueryCompiler.parse("{}"), admin)
      SearchExecutor.facetBranch(
        SearchExecutor.baseBranch(Corpus.metadata(s, d), cq), "format", SearchExecutor.FormatFacetSize)
        .select(col("format"), col("count").as("cnt"))
    }),

    // A3 post-filter segregation: the format filter restricts hits but NOT
    // this facet; ACL does restrict it
    "a3_facet_segregation" -> ((s, d) => {
      val cq = QueryCompiler.compile(
        QueryCompiler.parse("""{"filters":[{"format":["csv"]}]}"""),
        AclContext(Seq("org1"), isAdmin = false))
      SearchExecutor.facetBranch(
        SearchExecutor.baseBranch(Corpus.metadata(s, d), cq), "category", SearchExecutor.CategoryFacetSize)
        .select(col("category"), col("count").as("cnt"))
    }),

    // A4 total = count of the POST-filtered set (ES hits.total semantics)
    "a4_total_count" -> ((s, d) => {
      import s.implicits._
      val cq = QueryCompiler.compile(
        QueryCompiler.parse("""{"filters":[{"format":["csv"]}]}"""),
        AclContext(Seq("org1"), isAdmin = false))
      val base = SearchExecutor.baseBranch(Corpus.metadata(s, d), cq)
      Seq(base.where(cq.postFilter).count()).toDF("total")
    }),

    // A5 date-histogram facet (ES date_histogram): entry counts per
    // creationTime month — the time-axis companion of the term facets
    "a5_date_histogram" -> ((s, d) =>
      SearchExecutor.dateHistogram(Corpus.metadata(s, d))
        .select(col("bucket"), col("cnt"))),

    // A11 TERMS × DATE-HISTOGRAM (ES terms + date_histogram sub-agg):
    // top-5 categories by doc count, each with its monthly entry
    // counts — the a8 broadcast-bucket split over the calendar grid;
    // null timestamps land in a NULLS FIRST calendar bucket
    "a11_bucket_date_histogram" -> ((s, d) =>
      SearchExecutor.bucketDateHistogram(Corpus.metadata(s, d))),

    // A7 significant terms (ES significant-terms lineage): dataSample
    // terms over-represented in the cat3 slice vs the whole corpus —
    // lift in exact DECIMAL-widened micros, one conditional-aggregate
    // pass, top-10 TakeOrdered
    "a7_significant_terms" -> ((s, d) =>
      SearchExecutor.significantTerms(Corpus.metadata(s, d),
        col("category") === "cat3")),

    // A8 TOP-HITS per facet bucket (ES terms + top_hits sub-aggregation):
    // each category of the scored 'red' stream with its best 3 hits —
    // buckets in terms-agg (count desc, key) order, per-bucket hits by
    // (score desc, id); tiny bucket aggregate broadcast onto q13's
    // partial-WindowGroupLimit rank cut (never a count-over-window,
    // which would defeat the group-limit pushdown)
    "a8_top_hits" -> ((s, d) => {
      val cq = QueryCompiler.compile(QueryCompiler.parse("""{"query":"red"}"""), admin)
      SearchExecutor.topHitsFacet(
        SearchExecutor.baseBranch(Corpus.metadata(s, d), cq),
        "category", numBuckets = 5, hitsPerBucket = 3)
    }),

    // A9 FILTERS aggregation (ES filters agg): five NAMED arbitrary-
    // predicate buckets — format, visibility, recency, org, size —
    // counted in ONE conditional-aggregate pass (the o24 rule; never a
    // job per filter), non-exclusive ES semantics, unpivoted to rows by
    // a literal-array explode
    "a9_filters_agg" -> ((s, d) =>
      SearchExecutor.filtersAgg(Corpus.metadata(s, d), Seq(
        "fmt_csv" -> (col("format") === "csv"),
        "is_public" -> col("isPublic"),
        "since_2015h2" -> (col("creationTime") >= lit("2015-07-01 00:00:00").cast("timestamp")),
        "org1" -> (col("orgUUID") === "org1"),
        "big" -> (col("recordCount") >= 500000L)))),

    // A6 composite facet (ES composite-aggregation lineage): (category,
    // format) bucket counts ordered BY KEY with after-key pagination —
    // page 2 from after ("cat2","csv"): a key-range scan, so pages never
    // overlap/skip and page k+1 costs page 1
    "a6_composite_facet" -> ((s, d) =>
      SearchExecutor.compositeFacet(Corpus.metadata(s, d),
        Seq("category", "format"), pageSize = 8,
        after = Some(Seq("cat2", "csv")))),

    // C19 FUNCTIONAL-DEPENDENCY check: three declared dependencies —
    // id→title (a real key, 0 violations), category→format and
    // orgUUID→isPublic (believed taxonomies that branch) — melted
    // through ONE explode into a single two-level aggregate; violation
    // share in DECIMAL floor-div ppm, dependent NULLs not a branch
    "c19_fd_check" -> ((s, d) =>
      graft.operators.Quality.fdCheck(Corpus.metadata(s, d).toDF(), Seq(
        "id" -> "title", "category" -> "format", "orgUUID" -> "isPublic"))),

    // A10 RARE-TERMS aggregation (ES rare_terms): the long-tail dual of
    // the top-N facet — title terms with document frequency ≤ 2, rarest
    // first; where typos and mis-tags live, structurally invisible to
    // a1. The synthetic corpus has a deliberately uniform vocabulary
    // (min title df ≈ 227 at sf0.01 — no organic tail), so one-off tags
    // are PLANTED on id % 37 == 0 (the t32 live-positives pattern)
    "a10_rare_terms" -> ((s, d) => {
      val planted = Corpus.metadata(s, d).toDF()
        .withColumn("title",
          when(col("id").cast("long") % 37 === 0,
            concat(col("title"), lit(" tg"), col("id")))
            .otherwise(col("title")))
      SearchExecutor.rareTerms(planted)
    }),

    // C18 BENFORD first-digit profile: the forensic fabricated-data
    // screen on recordCount — observed vs log10(1+1/d) literal-micros
    // shares per leading digit, signed deviation; exact integers, one
    // 9-bucket aggregate + a literal spine, missing digits 0-count
    "c18_benford" -> ((s, d) =>
      graft.operators.Quality.benfordProfile(
        Corpus.metadata(s, d).toDF(), "recordCount")),

    // C13 catalog freshness: newest record per category and staleness in
    // whole days vs the corpus high-water mark (never wall-clock now() —
    // the report must be deterministic over identical data); c5 watches
    // volume, this watches recency
    "c13_freshness" -> ((s, d) =>
      graft.operators.Quality.freshnessReport(
        Corpus.metadata(s, d), "category", "creationTime", maxStaleDays = 3)),

    // Q12 minimum_should_match (ES lineage): "red widget gear" with
    // m=2 — docs hitting ≥2 distinct terms qualify, ranked by the
    // unchanged q1 3/2/1 score; the precision dial between OR and AND
    "q12_min_should_match" -> ((s, d) =>
      SearchExecutor.minShouldMatchSearch(Corpus.metadata(s, d),
        "red widget gear", minMatch = 2)),

    // Q13 FIELD COLLAPSING (ES collapse + inner_hits): best hit per
    // category with each category's own top-3, groups ordered by their
    // top hit's score — partial WindowGroupLimit below the exchange, the
    // o5 top-k-per-group shape on the scored search stream
    "q13_collapse" -> ((s, d) => {
      val cq = QueryCompiler.compile(QueryCompiler.parse("""{"query":"red"}"""), admin)
      SearchExecutor.collapseHits(
        SearchExecutor.baseBranch(Corpus.metadata(s, d), cq),
        "category", innerK = 3)
    }),

    // Q15 SEARCH-AFTER deep pagination (ES search_after): page 3 of the
    // 'red' results via the (score, id) keyset cursor of row 20 — a
    // predicate + TakeOrdered, no offset skip-scan; equals the offset
    // page by the total order (the oracle IS the offset form)
    "q15_search_after" -> ((s, d) => {
      val cq = QueryCompiler.compile(QueryCompiler.parse("""{"query":"red"}"""), admin)
      val base = SearchExecutor.baseBranch(Corpus.metadata(s, d), cq)
      val cursor = base.orderBy(col(SearchExecutor.ScoreCol).desc, col("id").asc)
        .limit(20).orderBy(col(SearchExecutor.ScoreCol).asc, col("id").desc)
        .select(col(SearchExecutor.ScoreCol), col("id")).head() // row 20: ≤ page-scale collect
      SearchExecutor.searchAfter(base, cursor.getDouble(0), cursor.getString(1))
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score"))
    }),

    // Q16 HIGHLIGHTING: matched-term snippets over the paged 'red widget'
    // hits — TOKEN-space offsets under the scoring analyzers (the q10
    // symmetry rule), first-occurrence position per (hit, field), ±2
    // token fragment with the match <em>-wrapped; exact integers, the
    // oracle replays the token/offset arithmetic verbatim
    "q16_highlight" -> ((s, d) =>
      SearchExecutor.highlight(
        hits(s, d, """{"query":"red widget","size":20}""", admin),
        terms = graft.analyzers.Analyzers.standardTokensScala("red widget"))),

    // Q14 MORE-LIKE-THIS (ES more_like_this): the seed doc's interesting
    // terms — ranked by the INTEGER (tf desc, df asc, term) order, never
    // float tf·idf (a libm ulp could swap the selection) — build the OR
    // query, rest of the corpus ranked by round-6 IDF overlap, seed
    // excluded; broadcast-scale stats, one narrow pass + TakeOrdered
    "q14_more_like_this" -> ((s, d) =>
      SearchExecutor.moreLikeThis(Corpus.metadata(s, d), "000042")),

    // Q6 prefix autocomplete (ES completion-suggester shape): top-5 title
    // terms starting with "b", ranked by corpus frequency, term ties
    "q6_autocomplete" -> ((s, d) =>
      SearchExecutor.autocomplete(Corpus.metadata(s, d), prefix = "b")),

    // Q11 BM25 (Okapi) scoring — the modern lineage default (ES 5+): the
    // forward twin of q4/q5's ES 2.x parity scoring, same maintainable
    // df/N statistic plus one avgdl aggregate, one narrow scoring pass
    "q11_bm25" -> ((s, d) =>
      SearchExecutor.bm25Search(Corpus.metadata(s, d), Seq("red", "widget"))),

    // Q10 PHRASE query (match_phrase, slop 0): adjacent in-order terms,
    // ranked by exact phrase occurrences; analyzer symmetry exercised by
    // querying with punctuation/case the tokenizer must strip
    "q10_phrase_search" -> ((s, d) =>
      SearchExecutor.phraseSearch(Corpus.metadata(s, d), "Red, PLATE!")),

    // Q19 MATCH-PHRASE-PREFIX (ES match_phrase_prefix): the search-as-
    // you-type query — "red pla" must already hit "red plate": leading
    // terms exact and adjacent, last term a PREFIX of the final-position
    // token; ranked by occurrence count like q10, analyzer symmetry on
    // the typed phrase
    "q19_phrase_prefix" -> ((s, d) =>
      SearchExecutor.phrasePrefixSearch(Corpus.metadata(s, d), "red pla")),

    // Q7 spelling suggestion ("did you mean") — SymSpell deletion-blocked
    // edit-distance-1 candidates over the title dictionary, exact
    // levenshtein verifying only the key collisions; 'hod' resolves to
    // {hot, rod} ranked by corpus frequency. Oracle = the full-scan
    // levenshtein DuckDB computes, so blocking recall is value-gated
    "q7_spell_suggest" -> ((s, d) =>
      SearchExecutor.spellSuggest(Corpus.metadata(s, d), term = "hod")),

    // Q18 FUNCTION-SCORE with linear recency decay: relevance (matched-
    // term share micros over 'red widget') × a clamped linear ramp from
    // origin 2015-12-31 (1/2 at 180 d, 0 at 360 d) — exact integers end
    // to end, the ES decay lineage with the one decay shape that needs
    // no libm; negative pre-clamp numerators absorbed by the clamp
    "q18_decay_search" -> ((s, d) =>
      SearchExecutor.decaySearch(Corpus.metadata(s, d), "red widget",
        origin = "2015-12-31", scaleDays = 180)),

    // Q17 FUZZY match query (ES match + fuzziness AUTO): docs whose title
    // holds a token within edit distance 1 of the typo 'rad' — BOTH 'red'
    // and 'rod' match at distance 1, so multi-term accumulation is live;
    // SymSpell deletion blocking generalized to d, exact levenshtein on
    // collisions only, score = Σ (d+1−dist) over distinct matched tokens.
    // Oracle is the UNBLOCKED full-scan levenshtein — blocking recall is
    // value-gated (the q7 rule)
    "q17_fuzzy_search" -> ((s, d) =>
      SearchExecutor.fuzzySearch(Corpus.metadata(s, d), term = "rad")),

    // ------------------------- store ops (S1-S7, X2) -----------------------

    // S1 index scan: resolved current table off the versioned store
    "s1_store_scan" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050"))
      st.current.toDF().select(col("id")).orderBy("id")
    }),

    // S2 point lookup by id (404 = empty result is covered in specs)
    "s2_point_lookup" -> ((s, d) => {
      import s.implicits._
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050"))
      st.get("000005").toSeq.toDS().select(col("id"), col("title"))
    }),

    // S3 upsert (batch form: ONE delta commit for the 10-entry load) +
    // S4 partial update + S5 delete + compaction, read back
    "s3_s4_s5_roundtrip" -> ((s, d) => {
      val st = freshStore(s)
      st.upsertAll(corpusEntries(s, d, "000001", "000010").collect().toSeq)
      st.partialUpdate("000002", Map("title" -> "patched"))
      st.delete("000003")
      st.compact()
      st.current.toDF()
        .select(col("id"), col("category"), col("title"),
          col("recordCount").as("record_count"))
        .orderBy("id")
    }),

    // S14 compare-and-set upsert: the lost-update guard. Script: load five
    // entries; CAS with expect-absent on an existing id rejects; CAS with
    // a wrong version rejects; CAS with the read version applies; CAS
    // create on a new id applies; replaying the FIRST token after the
    // successful CAS rejects (the lost update the guard exists for). The
    // five outcomes ride as constant columns so any misbehavior breaks
    // the hash; the resolved table proves exactly one patch landed
    "s14_cas_upsert" -> ((s, d) => {
      val st = freshStore(s)
      val base = corpusEntries(s, d, "000001", "000005").collect().toSeq
      st.upsertAll(base)
      val e2 = base.find(_.id == "000002").get
      val r1 = st.upsertIf(e2.copy(title = "stale-create"), None)
      val r2 = st.upsertIf(e2.copy(title = "wrong-version"), Some(999L))
      val tok = st.versionOf("000002")
      val r3 = st.upsertIf(e2.copy(title = "cas-patched"), tok)
      val r4 = st.upsertIf(base.head.copy(id = "zcas01"), None)
      val r5 = st.upsertIf(e2.copy(title = "lost-update"), tok)
      st.current.toDF().select(col("id"), col("title"))
        .withColumn("cas_stale_create", lit(r1))
        .withColumn("cas_wrong_version", lit(r2))
        .withColumn("cas_applied", lit(r3))
        .withColumn("cas_created", lit(r4))
        .withColumn("cas_lost_update", lit(r5))
        .orderBy("id")
    }),

    // S6 bulk load with per-row error isolation
    "s6_bulk_isolation" -> ((s, d) => {
      import s.implicits._
      val st = freshStore(s)
      val bad = Seq(badEntry("zbad1", "not_a_uri"), badEntry("zbad2", "http://")).toDS()
      val rejected = st.bulkLoad(corpusEntries(s, d, "000001", "000100").unionByName(bad))
      rejected.toDF().select(col("id"), lit("rejected").as("status"))
        .unionByName(st.current.toDF().select(col("id"), lit("loaded").as("status")))
        .orderBy("id")
    }),

    // S7 drop table, then the store keeps working
    "s7_drop_reload" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050"))
      st.drop()
      corpusEntries(s, d, "000001", "000001").collect().foreach(st.upsert)
      st.current.toDF().select(col("id"), col("title")).orderBy("id")
    }),

    // S13 retention vacuum: mutate → compact → mutate, then vacuum history
    // below the retained window. The entry REQUIRES the pre-compaction
    // segments (v1, v2) to be physically deleted — failing that errors the
    // entry — and the oracle gates that the resolved current table is
    // unaffected by the deletion (spec additionally pins the disk shrink
    // and the below-floor throw)
    "s13_retention_vacuum" -> ((s, d) => {
      val st = freshStore(s)
      st.upsertAll(corpusEntries(s, d, "000001", "000050").collect().toSeq) // v1
      st.partialUpdate("000010", Map("title" -> "patched"))                 // v2
      st.compact()                                                          // v3: base
      st.delete("000020")                                                   // v4
      val removed = st.vacuum(keepVersions = 2) // anchor base-3; v1+v2 history drops
      require(removed == Seq(1L, 2L),
        s"vacuum should delete segments 1 and 2, deleted: $removed")
      st.current.toDF().select(col("id"), col("title")).orderBy("id")
    }),

    // S9 time travel: read the table as of an older committed version —
    // mutations after the snapshot version are invisible
    "s9_time_travel" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // version 1
      st.delete("000010")
      st.partialUpdate("000020", Map("title" -> "mutated-later"))
      st.compact()
      st.currentAt(1L).toDF().select(col("id"), col("title")).orderBy("id") // pre-mutation snapshot
    }),

    // S24 VERSION DIFF: row-level "what changed between catalog
    // snapshots" via time travel — added/removed/changed classified by
    // length-prefixed full-row hash, reading THROUGH a compaction (a
    // base restatement is a logical no-op and must not surface); ids +
    // hashes + titles only cross the full-outer join, never payloads
    "s24_version_diff" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // version 1
      st.partialUpdate("000010", Map("title" -> "changed-title"))
      st.delete("000020")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      st.compact() // the diff must NOT see the restatement as changes
      st.versionDiff(1L)
    }),

    // S10 change feed: CDC read of the delta log after the initial bulk
    // load (version 1) — an update, a delete, and an insert surface as net
    // row-level changes; the untouched 49 rows do NOT appear
    "s10_changefeed" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // commits version 1
      st.partialUpdate("000010", Map("title" -> "changed-title"))
      st.delete("000020")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      st.changesBetween(1L)
        .select(col("id"), col("change_op").as("op"), col("title"))
        .orderBy("id")
    }),

    // S11 CDC apply: the consumer half of the change feed — a replica
    // snapshot at version 1 advanced by the feed must equal the source's
    // current table (update applied, delete dropped, insert added)
    "s11_cdc_apply" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // commits version 1
      val snapshot = st.currentAt(1L).toDF()
      st.partialUpdate("000010", Map("title" -> "cdc-title"))
      st.delete("000020")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      MetadataStore.applyChanges(snapshot, st.changesBetween(1L))
        .select(col("id"), col("title")).orderBy("id")
    }),

    // S25 replica reconciliation: per-bucket order-free fingerprint sums
    // of the CDC-advanced replica — portable 60-bit md5 fingerprints,
    // fp-mod bucketing (never an engine-private hash), DECIMAL sum folded
    // mod 2^62 to a pinned BIGINT; oracle = the same checksum over the
    // independently reconstructed expected state
    "s25_replica_checksum" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // commits version 1
      val snapshot = st.currentAt(1L).toDF()
      st.partialUpdate("000010", Map("title" -> "cdc-title"))
      st.delete("000020")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      MetadataStore.stateChecksum(
        MetadataStore.applyChanges(snapshot, st.changesBetween(1L)))
    }),

    // S12 incremental aggregate maintenance: the materialized per-category
    // summary advanced by the change feed alone — a category MOVE
    // (retract old group, add new), a delete, and an insert, with
    // unchanged groups carried from the old aggregate and pre-images
    // fetched by pushed id-set point lookup (never a base re-aggregation).
    // Oracle = a fresh aggregate over the mutated final state
    "s12_incremental_agg" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // commits version 1
      val snapshot = st.currentAt(1L).toDF()
      val aggOld = MetadataStore.categoryStats(snapshot)
      st.partialUpdate("000010", Map("category" -> "catx")) // group move
      st.delete("000020")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      MetadataStore.maintainCategoryStats(aggOld, snapshot, st.changesBetween(1L))
        .orderBy("category")
    }),

    // S15 incremental JOIN-view maintenance: the materialized orders ⋈
    // customer view advanced by its change window alone — a delete, an
    // insert, an A-side JOIN-KEY MOVE (order 13 re-homed to customer 5)
    // and a fanned-out B-side update (customer 3's nation, 12 dependent
    // rows); affected-slice fold, literal-predicate pruning, no full
    // recompute. Oracle = a fresh join over the mutated tables
    "s15_incremental_join_view" -> ((s, d) => {
      val ord0 = s.read.parquet(s"$d/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cust0 = s.read.parquet(s"$d/customer.parquet")
        .select("c_custkey", "c_nationkey")
      val view0 = ord0.join(cust0, col("o_custkey") === col("c_custkey"))
      val ordNew = ord0.where(col("o_orderkey") =!= 7)
        .withColumn("o_custkey",
          when(col("o_orderkey") === 13, 5L).otherwise(col("o_custkey")))
        .unionByName(s.range(1).select(lit(-1L).as("o_orderkey"),
          lit(1L).as("o_custkey"), lit(0.0).as("o_totalprice")))
      val custNew = cust0.withColumn("c_nationkey",
        when(col("c_custkey") === 3, 99L).otherwise(col("c_nationkey")))
      graft.operators.ViewMaintenance.maintainJoinView(view0, ordNew, custNew,
          "o_orderkey", "o_custkey", "c_custkey",
          changedAIds = Seq(7L, -1L, 13L), changedBKeys = Seq(3L))
        .orderBy("o_orderkey")
    }),

    // S16 store-feed-driven JOIN-view maintenance: the s15 fold COMPOSED
    // with the s10 change feed — the feed itself supplies the changed-id
    // window (no caller bookkeeping), so one CDC read now maintains both
    // the aggregate view (s12) and the join view; includes a join-key
    // MOVE to a category absent from the dim (the row honestly leaves
    // the inner-join view) and a fanned-out dim-side label change
    "s16_store_view_feed" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // commits version 1
      val snap = st.currentAt(1L).toDF().select("id", "category", "recordCount")
      val dim0 = snap.select("category").distinct()
        .select(col("category").as("d_category"),
          concat(lit("lbl-"), col("category")).as("label"))
      val view0 = snap.join(dim0, col("category") === col("d_category"))
      st.partialUpdate("000010", Map("category" -> "catx")) // key MOVE, off-dim
      st.delete("000020")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      // the feed's id projection IS the change window — a DataFrame fed
      // straight into the fold's broadcast semi/anti probes, never
      // collected into a literal list (the form that survives a window
      // that grows with the corpus)
      val changedIds = st.changesBetween(1L).select("id")
      val aNew = st.current.toDF().select("id", "category", "recordCount")
      val dim1 = dim0.withColumn("label",
        when(col("d_category") === "cat2", lit("lbl2-cat2")).otherwise(col("label")))
      graft.operators.ViewMaintenance.maintainJoinView(view0, aNew, dim1,
          "id", "category", "d_category", changedIds,
          dim1.where(col("d_category") === "cat2").select("d_category"))
        .select(col("id"), col("category"), col("recordCount"), col("label"))
        .orderBy("id")
    }),

    // S17 PERSISTED join-view maintenance — the WRITE path of s15: the
    // orders ⋈ customer view lives ON DISK partitioned by a 16-way hash
    // bucket of the join key, and one maintenance cycle (a delete, an
    // insert, an A-side key MOVE, a fanned-out B-side update) advances it
    // IN PLACE via dynamic partition overwrite — only the buckets the
    // changes touch are rewritten; cold buckets' files stay byte-identical
    // (spec-pinned in ViewMaintenanceSpec). Oracle = a fresh join over the
    // mutated tables, read back from the on-disk view
    "s17_persisted_join_view" -> ((s, d) => {
      val out = scratch("s17-view") + "/view"
      val ord0 = s.read.parquet(s"$d/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cust0 = s.read.parquet(s"$d/customer.parquet")
        .select("c_custkey", "c_nationkey")
      graft.operators.ViewMaintenance.writeJoinView(
        ord0.join(cust0, col("o_custkey") === col("c_custkey")), "o_custkey", 16, out)
      // mutated columns cast back to the SOURCE schema: the on-disk view's
      // cold files keep their original parquet types, so a literal-widened
      // column (99L → long) in rewritten buckets would mix types per file
      val ordNew = ord0.where(col("o_orderkey") =!= 7)
        .withColumn("o_custkey",
          when(col("o_orderkey") === 13, 5L).otherwise(col("o_custkey"))
            .cast(ord0.schema("o_custkey").dataType))
        .unionByName(s.range(1).select(
          lit(-1L).cast(ord0.schema("o_orderkey").dataType).as("o_orderkey"),
          lit(1L).cast(ord0.schema("o_custkey").dataType).as("o_custkey"),
          lit(0.0).cast(ord0.schema("o_totalprice").dataType).as("o_totalprice")))
      val custNew = cust0.withColumn("c_nationkey",
        when(col("c_custkey") === 3, 99L).otherwise(col("c_nationkey"))
          .cast(cust0.schema("c_nationkey").dataType))
      import s.implicits._
      graft.operators.ViewMaintenance.refreshJoinViewPartitions(s, out,
        ordNew, custNew, "o_orderkey", "o_custkey", "c_custkey",
        Seq(7L, -1L, 13L).toDF("o_orderkey"), Seq(3L).toDF("c_custkey"),
        nBuckets = 16)
      s.read.parquet(out)
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_custkey", "c_nationkey")
        .orderBy("o_orderkey")
    }),

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
    "e28_stream_psi" -> ((s, d) => {
      val ds = docs(s, d)
      val ref = ds.where(col("doc_id") % 2 === 0)
      val src = scratch("e28-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        ds.where(col("doc_id") % 2 =!= 0).repartition(4).write.parquet(src)
      val deltas = scratch("e28-deltas")
      EventStream.streamQualityBucketFold(s, src, deltas)
      val counts2 = EventStream.readDeltaLog(s, deltas)
        .groupBy("bucket").agg(sum("d_n").as("n"))
      graft.operators.Quality.psiFromCounts(
        graft.operators.Quality.qualityBucketCounts(ref), counts2)
    }),

    // E29 STREAMING Markov-transition fold: j15's matrix maintained by
    // ingest — per-batch within-batch pair counts + per-user (first,
    // last) boundary summaries land as idempotent batch directories over
    // a TIME-RANGE-split landing dir; the fold recovers the batch-
    // boundary transitions via one lead() over each user's bounds rows
    // and must EQUAL the batch-free j15 recompute (same oracle verbatim)
    "e29_stream_transitions" -> ((s, d) => {
      val src = scratch("e29-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        s.read.parquet(s"$d/events.parquet")
          .repartitionByRange(4, col("ts"), col("event_id"))
          .write.parquet(src)
      val deltas = scratch("e29-deltas")
      EventStream.streamTransitionFold(s, src, deltas)
      EventStream.foldTransitionLog(s, deltas)
    }),

    // E32 STREAMING freshness fold: c13's recency statistic kept current
    // by ingest — the fold family's third mergeable class (MAX log,
    // beside the sum and set logs): per-batch (grp, count, newest-day)
    // partials re-sum/re-max order-free, the report runs through the
    // SHARED freshnessFromGroupMax — stream ≡ batch, c13's oracle VERBATIM
    "e32_stream_freshness" -> ((s, d) => {
      val src = scratch("e32-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        Corpus.metadata(s, d).repartition(4).write.parquet(src)
      val deltas = scratch("e32-deltas")
      EventStream.streamFreshnessFold(s, src, deltas, "category", "creationTime")
      graft.operators.Quality.freshnessFromGroupMax(
        EventStream.readDeltaLog(s, deltas)
          .groupBy("grp").agg(sum("d_n").as("n"), max("max_day").as("max_day")),
        maxStaleDays = 3)
    }),

    // E31 STREAMING co-view fold: the g-family's edge substrate kept
    // current by ingest — per-batch distinct (user, item) pairs land as
    // an idempotent SET log (union is order-free and duplicate-immune),
    // the read-side distinct-union rebuilds the exact batch ui table,
    // and PageRank runs through the SHARED coviewEdgesFromPairs stage —
    // stream ≡ batch by construction, g1's oracle VERBATIM
    "e31_stream_coview" -> ((s, d) => {
      val src = scratch("e31-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        s.read.parquet(s"$d/events.parquet").repartition(4).write.parquet(src)
      val deltas = scratch("e31-deltas")
      EventStream.streamCoviewFold(s, src, deltas)
      graft.operators.Graph.pageRank(
        graft.operators.Graph.coviewEdgesFromPairs(
          EventStream.readDeltaLog(s, deltas)
            .select("user_id", "item").distinct()))
    }),

    // E30 STREAMING seasonal-volume fold: c10's daily-count statistic
    // kept current by ingest — per-batch per-day counts land as an
    // idempotent sum log (maxFilesPerTrigger=1 forces the real
    // multi-batch path), the order-free integer re-sum rebuilds the
    // daily table, and the report runs through the SAME
    // seasonalVolumeFromDaily code as the batch entry — stream ≡ batch
    // by construction, c10's oracle verbatim
    "e30_stream_seasonal" -> ((s, d) => {
      val src = scratch("e30-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        s.read.parquet(s"$d/events.parquet").repartition(4).write.parquet(src)
      val deltas = scratch("e30-deltas")
      EventStream.streamDailyCountFold(s, src, deltas)
      graft.operators.Quality.seasonalVolumeFromDaily(
        EventStream.readDeltaLog(s, deltas)
          .groupBy("day").agg(sum("d_n").as("cnt")))
    }),

    // E34 STREAMING changepoint gate: c14's CUSUM fed by the SAME
    // streamed daily-count sum log as e30 (one log, two monitors) — the
    // order-free integer re-sum rebuilds the daily table and the report
    // runs through the SHARED cusumShiftFromDaily, so stream ≡ batch by
    // construction and the oracle is c14's VERBATIM
    "e34_stream_cusum" -> ((s, d) => {
      val src = scratch("e34-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        s.read.parquet(s"$d/events.parquet").repartition(4).write.parquet(src)
      val deltas = scratch("e34-deltas")
      EventStream.streamDailyCountFold(s, src, deltas)
      graft.operators.Quality.cusumShiftFromDaily(
        EventStream.readDeltaLog(s, deltas)
          .groupBy("day").agg(sum("d_n").as("cnt")))
    }),

    // E35 STREAMING correlation-drift gate: c15's per-side moments are
    // Σ-mergeable, so each side lands per-batch (n, Σx, Σy, Σx², Σy²,
    // Σxy) DECIMAL deltas via the e15/e27 sum-log discipline; the
    // order-free re-sum rebuilds both moment rows and the SHARED
    // correlationReportFromMoments makes stream ≡ batch by construction
    // — the oracle is c15's VERBATIM, no corpus rescan anywhere
    "e35_stream_corr_drift" -> ((s, d) => {
      val base = docs(s, d)
      val v2 = base.where(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.where(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id")).as("text")))
      val src1 = scratch("e35-src1"); val src2 = scratch("e35-src2")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src1)))
        base.repartition(4).write.parquet(src1)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src2)))
        v2.repartition(4).write.parquet(src2)
      val del1 = scratch("e35-deltas1"); val del2 = scratch("e35-deltas2")
      EventStream.streamMomentsFold(s, src1, del1)
      EventStream.streamMomentsFold(s, src2, del2)
      graft.operators.Quality.correlationReportFromMoments(
        EventStream.foldMoments(s, del1), EventStream.foldMoments(s, del2))
    }),

    // E24 STREAMING DSIR raw-model fold: the p19 statistic kept current by
    // ingest — per-batch (feat, d_rc) counts over the FROZEN target
    // vocabulary land in idempotent batch directories (maxFilesPerTrigger=1
    // forces the real multi-batch path), the order-free integer re-sum
    // rebuilds the raw model, and the selection through the folded model
    // must EQUAL the batch-free p19 answer — same oracle, verbatim
    "e24_stream_dsir_fold" -> ((s, d) => {
      val ds = docs(s, d)
      val src = scratch("e24-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        ds.repartition(4).write.parquet(src)
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
    }),

    "e15_stream_idf_fold" -> ((s, d) => {
      val src = scratch("e15-src")
      val deltas = scratch("e15-deltas")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src))) {
        Corpus.metadata(s, d).where(col("id").between("000051", "000090"))
          .select("id", "dataSample").repartition(4).write.parquet(src)
      }
      val base = Corpus.metadata(s, d).where(col("id") <= "000050")
      val stats0 = QueryCompiler.idfStatsTable(base, Seq("red", "widget"))
      EventStream.streamIdfDeltaFold(s, src, deltas, Seq("red", "widget"))
      QueryCompiler.idfStatsWithDeltas(stats0,
          s.read.parquet(s"$deltas/batches"))
        .orderBy("term")
    }),

    // E22 STREAMING SCD2 history maintenance: the s21 persisted-history
    // advance driven by an ingest stream — each micro-batch commits its
    // net entries to the versioned store and rewrites ONLY the changed
    // ids' buckets of the on-disk history (maxFilesPerTrigger=1 forces
    // the real multi-batch path; staged slices carry increasing mtimes so
    // batch order is pinned). Gated: the maintained on-disk table must
    // row-equal a fresh history() rebuild of the log the stream produced.
    "e22_stream_history_fold" -> ((s, d) => {
      import s.implicits._
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000051", "000070")) // v1
      val hist = scratch("e22-hist") + "/h"
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(hist))
      MetadataStore.writeHistory(st.history(), 8, hist)
      val src = scratch("e22-src")
      val srcPath = java.nio.file.Paths.get(src)
      if (!java.nio.file.Files.exists(srcPath)) {
        java.nio.file.Files.createDirectories(srcPath)
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
      val disk = s.read.parquet(hist)
        .select(col("id"), col("title"), col("valid_from"), col("valid_to"))
      val rebuilt = st.history()
        .select(col("id"), col("title"), col("valid_from"), col("valid_to"))
      // both exceptAll directions counted in ONE job (r18: the gate is the
      // same set equality; two sequential counts paid planning + job twice)
      val drift = disk.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(disk)).count()
      require(drift == 0, s"maintained history diverged from rebuild: $drift rows")
      disk.orderBy("id", "valid_from")
    }),

    // E23 STREAMING takedown queue: compliance notices drained
    // continuously against the delivered export — one purge per
    // micro-batch, per-batch cost = that batch's touched shards.
    // Exactly-once from the OPERATION's idempotence (re-purging purged
    // ids removes zero), not from sink bookkeeping; notice batches are
    // disjoint id sets so the final state is also ORDER-free — no mtime
    // pinning needed, unlike e22. Gated on the exact total removed.
    "e23_stream_takedown" -> ((s, d) => {
      import s.implicits._
      val out = scratch("e23-export") + "/corpus"
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(out))
      graft.operators.Pipeline.shardExport(docs(s, d), out, shards = 8)
      val ids = docs(s, d).select("doc_id").orderBy("doc_id")
        .limit(5).as[Long].collect().toSeq
      val ndir = scratch("e23-notices")
      val nPath = java.nio.file.Paths.get(ndir)
      if (!java.nio.file.Files.exists(nPath)) {
        java.nio.file.Files.createDirectories(nPath)
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
    }),

    // E19 STREAMING classifier-count maintenance: e15's append-only
    // delta fold on the training state — per-batch (token, pc, nc)
    // deltas land idempotently, the read-side fold must equal a
    // from-scratch retrain over base ∪ appended (t20's oracle over the
    // whole corpus); no state store — the log IS the state
    "e19_stream_classifier_fold" -> ((s, d) => {
      val src = scratch("e19-src")
      val deltas = scratch("e19-deltas")
      val ds = docs(s, d)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src))) {
        ds.where(col("doc_id") >= 300).repartition(4).write.parquet(src)
      }
      val base = TextAnalysis.classifierCounts(ds.where(col("doc_id") < 300))
      EventStream.streamClassifierDeltaFold(s, src, deltas)
      TextAnalysis.classifierWeights(
          TextAnalysis.classifierCountsWithDeltas(base,
            EventStream.readDeltaLog(s, deltas)))
        .orderBy(abs(col("weight_micros")).desc, col("token"))
    }),

    // E27 CLASSIFIER-LOG compaction: the generic per-key sum-log fold
    // (compactSumLog) pointed at the (token, pc, nc) count log — aged
    // batches collapse into batch=-1, horizon advanced, and the retrained
    // weights must be IDENTICAL (exact long sums, fold hash-invariant);
    // e19's from-scratch oracle verbatim
    "e27_classifier_log_compaction" -> ((s, d) => {
      val src = scratch("e27-src")
      val deltas = scratch("e27-deltas")
      val ds = docs(s, d)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src))) {
        ds.where(col("doc_id") >= 300).repartition(4).write.parquet(src)
      }
      val base = TextAnalysis.classifierCounts(ds.where(col("doc_id") < 300))
      EventStream.streamClassifierDeltaFold(s, src, deltas)
      EventStream.compactSumLog(s, deltas, upToBatch = 2L,
        Seq("token"), Seq("pc", "nc"))
      TextAnalysis.classifierWeights(
          TextAnalysis.classifierCountsWithDeltas(base,
            EventStream.readDeltaLog(s, deltas)))
        .orderBy(abs(col("weight_micros")).desc, col("token"))
    }),

    // E18 STREAMING classifier scoring: train offline / score ONLINE —
    // frozen weight map broadcast into a stateless per-batch transform
    // (no state store, no watermark), exactly-once by batch-directory
    // overwrite (the e15 discipline); the streamed output must equal the
    // batch scorer row-for-row (t21's oracle)
    "e18_stream_classifier" -> ((s, d) => {
      val src = scratch("e18-src")
      val out = scratch("e18-out")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src))) {
        docs(s, d).repartition(4).write.parquet(src)
      }
      val w = TextAnalysis.trainQualityClassifier(docs(s, d)).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      EventStream.streamClassifierScore(s, src, out, w)
      s.read.parquet(s"$out/batches")
        .select("doc_id", "score_micros", "predicted_hq").orderBy("doc_id")
    }),

    // E17 STREAMING funnel: j9's real-time sibling — per-user step events
    // buffer in watermark-bounded state and finalize EXACTLY (the batch
    // qualification chain replayed over the buffered window) once the
    // watermark passes anchor + horizon; trailing users stay in state and
    // the oracle encodes the cutoff ms-exact. Same report shape as j9
    "e17_stream_funnel" -> ((s, d) => {
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
    }),

    // E16 IDF delta-log COMPACTION: e15's per-micro-batch delta
    // directories accrete forever; the compactor folds aged batches into
    // ONE reserved `batch=-1` segment (exact long sums — the compacted
    // fold must hash-match the uncompacted fold AND a fresh recompute,
    // which is this oracle) and advances a horizon marker that keeps
    // REPLAY idempotent: a re-delivered compacted batch recreates its
    // directory and the horizon-aware reader ignores it (spec-pinned in
    // StreamingMultimodalSpec, including a staged stale replay and a
    // second no-op compaction pass)
    "e16_idf_log_compaction" -> ((s, d) => {
      val src = scratch("e16-src")
      val deltas = scratch("e16-deltas")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src))) {
        Corpus.metadata(s, d).where(col("id").between("000051", "000090"))
          .select("id", "dataSample").repartition(4).write.parquet(src)
      }
      val base = Corpus.metadata(s, d).where(col("id") <= "000050")
      val stats0 = QueryCompiler.idfStatsTable(base, Seq("red", "widget"))
      EventStream.streamIdfDeltaFold(s, src, deltas, Seq("red", "widget"))
      EventStream.compactIdfDeltaLog(s, deltas, upToBatch = 2L)
      QueryCompiler.idfStatsWithDeltas(stats0,
          EventStream.readIdfDeltaLog(s, deltas))
        .orderBy("term")
    }),

    // Q8 incremental IDF maintenance: the text-scoring statistic (q4/q5's
    // per-term doc frequencies) advanced by the s10 change feed alone —
    // cost ∝ |changes|, never a corpus re-scan, the way ES re-computes
    // IDF continuously as documents index. Scripted cycle: an update that
    // ADDS a 'red' membership, a delete that retracts its memberships, an
    // insert; the maintained (term, df, n_docs) table must hash-match a
    // fresh recompute over the mutated corpus (the oracle recomputes)
    "q8_idf_maintenance" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // commits version 1
      val snapshot = st.currentAt(1L).toDF()
      val stats1 = QueryCompiler.idfStatsTable(snapshot, Seq("red", "widget"))
      st.partialUpdate("000010", Map("dataSample" -> "maintained red red stream"))
      st.delete("000020")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      QueryCompiler.maintainIdfStats(stats1, snapshot, st.changesBetween(1L),
          Seq("red", "widget"))
        .orderBy("term")
    }),

    // Q9 HYBRID search — lexical ∪ vector retrieval fused by Reciprocal
    // Rank Fusion (k=60, the Cormack/Elasticsearch constant): the text arm
    // ranks by exact term frequency of 'data' over the standard tokens,
    // the vector arm is v1's exact-cosine top-20 for query vec 0, and the
    // fused score is 1/(60+r_text) + 1/(60+r_vec) with absent-arm terms
    // contributing 0. Scale shape: each arm ends in a TakeOrdered top-k,
    // so the rank windows see k rows, never the corpus, and the fusion
    // join is k×k-bounded; at 100 TB the vector arm swaps to the indexed
    // IVF probe (v7) with the fusion unchanged.
    "q9_hybrid_rrf" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        graft.analyzers.Analyzers.standardTokens(col("text")).as("t"))
      val tf = toks.select(col("doc_id"),
          size(filter(col("t"), x => x === "data")).cast("long").as("tf"))
        .where(col("tf") > 0)
        .orderBy(col("tf").desc, col("doc_id")).limit(20) // TakeOrdered arm
      val tRank = tf.withColumn("t_rank", // ≤20-row window, corpus never enters
          row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("tf").desc, col("doc_id"))))
        .select("doc_id", "t_rank")
      val e = emb(s, d)
      val vRank = Similarity.bruteForceTopK(e, e.where(col("vec_id") === 0), 20)
        .select(col("vec_id").as("doc_id"), col("rank").as("v_rank"))
      tRank.join(vRank, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("t_rank")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("v_rank")), lit(0.0))).as("rrf"))
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window.orderBy(col("rrf").desc, col("doc_id")))
            .cast("long"))
        .where(col("rank") <= 10)
        .select(col("rank"), col("doc_id"), col("rrf"))
        .orderBy("rank")
    }),

    // SCD2 history build: the type-2 dimension the delta log already paid
    // for — one row per committed row IMAGE with its half-open
    // [valid_from, valid_to) version interval, valid_to null while live.
    // Scripted life cycle: two successive title revisions (three images
    // for 000010), a delete that CLOSES 000020's interval without opening
    // one, a re-create that opens a fresh interval for the same id, and a
    // plain insert; the 47 untouched rows surface once, open-ended
    "s18_scd2_history" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // delta v1
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // v2
      st.delete("000020")                                  // v3
      st.partialUpdate("000010", Map("title" -> "rev-c"))  // v4
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert) // v5
      val reborn = corpusEntries(s, d, "000020", "000020").collect().head
        .copy(title = "reborn")
      st.upsert(reborn)                                    // v6
      st.history()
        .select(col("id"), col("title"), col("valid_from"), col("valid_to"))
        .orderBy("id", "valid_from")
    }),

    // Incremental SCD2 maintenance — the s12/s15 change-feed discipline on
    // the HISTORY table itself: a materialized history advanced
    // version-by-version by the feed alone (close the changed id's open
    // interval, open the upsert's new one; unchanged ids broadcast-probe
    // through untouched) must be bit-identical to a fresh log rebuild —
    // cost ∝ changes, the log never rescanned
    "s20_history_maintenance" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // v1
      var hist = st.history() // materialized base at v1
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // v2
      st.delete("000020")                                  // v3
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert) // v4
      for (v <- 2L to 4L)
        hist = MetadataStore.maintainHistory(hist, st.changesBetween(v - 1, v))
      hist.select(col("id"), col("title"), col("valid_from"), col("valid_to"))
        .orderBy("id", "valid_from")
    }),

    // Persisted SCD2 history advanced IN PLACE — s20's write path: the
    // history lives on disk bucketed by id-hash, each change window
    // rewrites ONLY the changed ids' buckets via dynamic partition
    // overwrite (touched set computed from the FEED alone — id keys every
    // interval, so no old-home probe), cold buckets byte-identical
    // (spec-pinned), replay idempotent. The on-disk table after three
    // advances must equal a fresh log rebuild.
    "s21_persisted_history" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // v1
      val path = scratch("s21-hist") + "/h"
      MetadataStore.writeHistory(st.history(), 8, path)
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // v2
      st.delete("000020")                                  // v3
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert) // v4
      for (v <- 2L to 4L)
        MetadataStore.refreshHistoryPartitions(s, path, st.changesBetween(v - 1, v), 8)
      s.read.parquet(path)
        .select(col("id"), col("title"), col("valid_from"), col("valid_to"))
        .orderBy("id", "valid_from")
    }),

    // Takedown on the persisted history — the right-to-be-forgotten op:
    // physically ERASE every interval of the named ids (000010 carries
    // TWO images after its revision; 000030 one), touching only their
    // buckets; a delete (000020) stays CLOSED-but-readable, which is the
    // semantic difference this entry pins. Gated: the purge reports
    // exactly the erased row count and a re-run erases zero.
    "s22_history_takedown" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // v1
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // v2
      st.delete("000020")                                  // v3
      val path = scratch("s22-hist") + "/h"
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(path))
      MetadataStore.writeHistory(st.history(), 8, path)
      val n = MetadataStore.purgeHistoryIds(s, path, Seq("000010", "000030"), 8)
      require(n == 3L, s"expected 3 erased intervals (2 of 000010 + 1 of 000030), got $n")
      val again = MetadataStore.purgeHistoryIds(s, path, Seq("000010", "000030"), 8)
      require(again == 0L, s"re-purge must be a no-op, erased $again")
      s.read.parquet(path)
        .select(col("id"), col("title"), col("valid_from"), col("valid_to"))
        .orderBy("id", "valid_from")
    }),

    // LOG redaction — the takedown's deepest leg: physically remove the
    // ids' rows from every RETAINED LOG SEGMENT (deltas and compaction
    // bases) while preserving versions/CURRENT/all other rows, so time
    // travel, history, and feeds keep working and simply never surface
    // the ids at ANY version. Gated: exact removed-row count (2 in the
    // bulk delta + 1 in the revision delta + 2 in the base), time travel
    // to v1 shows nothing, re-redaction is a no-op.
    "s23_log_redaction" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // delta-1
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // delta-2
      st.delete("000020")                                  // delta-3
      st.compact()                                         // base-4
      val n = st.redactIds(Seq("000010", "000030"))
      require(n == 5L, s"expected 5 redacted rows (delta-1:2, delta-2:1, base-4:2), got $n")
      require(st.currentAt(1).where(col("id").isin("000010", "000030")).count() == 0L,
        "redacted ids must be invisible to time travel")
      require(st.redactIds(Seq("000010", "000030")) == 0L, "re-redaction must be a no-op")
      st.history()
        .select(col("id"), col("title"), col("valid_from"), col("valid_to"))
        .orderBy("id", "valid_from")
    }),

    // S26 TWO-TABLE ATOMIC COMMIT: one manifest covering store +
    // persisted history, closing the e22 exposure (two independent
    // commits today). Scripted crash between generation publish and
    // manifest swap is INVISIBLE to the pair reader (gated), healed as
    // exactly one orphan, and the redone advance converges; a later
    // advance absorbs TWO store versions in one manifest step; the final
    // overlay must equal the store's rebuilt history row-for-row
    "s26_pair_commit" -> ((s, d) => {
      import graft.store.PairCommit
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // v1
      val root = scratch("s26-pair")
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(root))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      val m1 = PairCommit.init(root, st, 8)
      require(m1 == PairCommit.Manifest(1L, 1L), s"unexpected init manifest: $m1")
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // v2
      // CRASH injected between generation publish and manifest swap
      PairCommit.advance(s, root, st, 8, crashBeforeSwap = true)
      require(PairCommit.manifest(root) == m1, "torn advance must be invisible")
      require(PairCommit.readHistory(s, root)
        .where(col("valid_to").isNotNull).count() == 0L,
        "crash must not expose the half-advanced history")
      require(PairCommit.heal(root) == 1L, "expected exactly one orphan generation")
      val m2 = PairCommit.advance(s, root, st, 8) // redo converges
      require(m2 == PairCommit.Manifest(2L, 2L), s"redo did not converge: $m2")
      st.delete("000020")                                  // v3
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert) // v4
      val m3 = PairCommit.advance(s, root, st, 8)          // one step, two versions
      require(m3 == PairCommit.Manifest(4L, 3L), s"unexpected manifest: $m3")
      val disk = PairCommit.readHistory(s, root)
        .select(col("id"), col("title"), col("valid_from"), col("valid_to"))
      val rebuilt = st.history()
        .select(col("id"), col("title"), col("valid_from"), col("valid_to"))
      // both exceptAll directions counted in ONE job (r18 gate fusion)
      val drift = disk.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(disk)).count()
      require(drift == 0, s"pair history diverged from rebuild: $drift rows")
      disk.orderBy("id", "valid_from")
    }),

    // S28 MERGE INTO: the lakehouse three-arm batch mutation in ONE
    // atomic mixed-op commit — matched UPDATE as merge-patch (null
    // source fields keep current: 000010's title changes, its
    // dataSample must NOT), matched DELETE (000020), not-matched INSERT
    // (000200), not-matched delete a no-op (000300); per-arm stats
    // gated in-script, duplicate source ids refused (spec)
    "s28_merge_into" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // v1
      val base = corpusEntries(s, d, "000001", "000300").toDF()
      val fields = graft.model.MetadataSchema.structType.fields.toSeq
      def nulledExcept(overrides: Map[String, org.apache.spark.sql.Column]) =
        fields.map { f =>
          overrides.getOrElse(f.name,
            if (f.name == "id") col("id")
            else lit(null).cast(f.dataType).as(f.name)).as(f.name)
        }
      val patch = base.where(col("id") === "000010")
        .select(nulledExcept(Map("title" -> lit("merged-title"))): _*)
        .withColumn("_delete", lit(false))
      val del = base.where(col("id") === "000020")
        .select(nulledExcept(Map.empty): _*).withColumn("_delete", lit(true))
      val ins = base.where(col("id") === "000200").withColumn("_delete", lit(false))
      val noop = base.where(col("id") === "000300")
        .select(nulledExcept(Map.empty): _*).withColumn("_delete", lit(true))
      val stats = st.merge(patch.unionByName(del).unionByName(ins).unionByName(noop))
      require(stats == graft.store.MetadataStore.MergeStats(1L, 1L, 1L),
        s"unexpected merge stats: $stats")
      st.current.toDF()
        .select(col("id"), col("title"), col("dataSample"))
        .orderBy("id")
    }),

    // S27 PAIR RE-BASE: the generation layout's compact() analog — after
    // five advances the pair reads union six generations; a re-base
    // writes the full resolved history as one subsuming generation,
    // swaps the manifest (store version unchanged) and sweeps the
    // shadowed gens, so reads return to a single-generation scan. The
    // torn re-base (crash between publish and swap) is invisible and
    // heals as exactly one orphan; the committed re-base must leave the
    // resolved history IDENTICAL row-for-row and strictly shrink disk
    "s27_pair_rebase" -> ((s, d) => {
      import graft.store.PairCommit
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // v1
      val root = scratch("s27-pair")
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(root))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      PairCommit.init(root, st, 8)                      // gen-1
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // v2
      PairCommit.advance(s, root, st, 8)                   // gen-2
      st.delete("000020")                                  // v3
      PairCommit.advance(s, root, st, 8)                   // gen-3
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert) // v4
      PairCommit.advance(s, root, st, 8)                   // gen-4
      st.partialUpdate("000030", Map("title" -> "rev-c"))  // v5
      PairCommit.advance(s, root, st, 8)                   // gen-5
      st.partialUpdate("000030", Map("title" -> "rev-d"))  // v6
      val m6 = PairCommit.advance(s, root, st, 8)          // gen-6
      require(m6 == PairCommit.Manifest(6L, 6L), s"unexpected manifest: $m6")
      val hd = java.nio.file.Paths.get(root, "hist")
      def gens(): Seq[String] = graft.util.FsUtil.listDir(hd)(
        _.map(_.getFileName.toString).filter(_.startsWith("gen-")).toSeq.sorted)
      // materialize the pre-rebase resolution: its plan names gen dirs
      // the sweep is about to delete, so it cannot be re-run afterwards
      val beforeRows = PairCommit.readHistory(s, root)
        .select(col("id"), col("title"), col("valid_from"), col("valid_to"))
        .orderBy("id", "valid_from").collect().toSeq
      val bytesBefore = graft.util.FsUtil.sizeOf(hd)
      // CRASH between the subsuming-generation publish and the swap:
      // manifest-invisible, exactly one orphan, the redo converges
      PairCommit.rebase(s, root, 8, crashBeforeSwap = true)
      require(PairCommit.manifest(root) == m6, "torn rebase must be invisible")
      require(PairCommit.heal(root) == 1L, "expected exactly one orphan generation")
      val m7 = PairCommit.rebase(s, root, 8)
      require(m7 == PairCommit.Manifest(6L, 7L), s"rebase manifest: $m7")
      require(gens() == Seq("gen-7"), s"subsumed generations not swept: ${gens()}")
      val bytesAfter = graft.util.FsUtil.sizeOf(hd)
      require(bytesAfter < bytesBefore,
        s"rebase must shrink the layout: $bytesBefore -> $bytesAfter bytes")
      val after = PairCommit.readHistory(s, root)
        .select(col("id"), col("title"), col("valid_from"), col("valid_to"))
        .orderBy("id", "valid_from")
      require(after.collect().toSeq == beforeRows,
        "rebase changed the resolved history")
      after
    }),

    // Set-oriented time travel: batch (id, as_of_version) probes answered
    // by ONE equi-join against the SCD2 history instead of |probes|
    // snapshot resolves — inner semantics, so probes at versions where the
    // id was deleted (000020 at v3/v4) emit nothing
    "s19_asof_lookup" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // v1
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // v2
      st.delete("000020")                                  // v3
      st.partialUpdate("000010", Map("title" -> "rev-c"))  // v4
      import s.implicits._
      val probes = (for {
        id <- Seq("000010", "000020", "000030"); v <- 1L to 4L
      } yield (id, v)).toDF("id", "as_of_version")
      st.lookupAsOf(probes)
        .select(col("id"), col("as_of_version"), col("title"))
        .orderBy("id", "as_of_version")
    }),

    // X2 full export scan: snapshot → parquet → read back
    "x2_export" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000100"))
      val out = java.nio.file.Files.createTempDirectory("graft-export").toString + "/exported"
      st.export(out)
      s.read.parquet(out).select(col("id"), col("category"), col("title")).orderBy("id")
    }),

    // ---------------- LLM-pipeline operators (documents / embeddings) ------

    // Text analysis: token counting
    "t1_token_stats" -> ((s, d) =>
      TextAnalysis.tokenStats(docs(s, d)).orderBy("doc_id")),

    // Text analysis: stopword-profile language ID
    "t2_lang_id" -> ((s, d) =>
      TextAnalysis.langId(docs(s, d)).orderBy("doc_id")),

    // Text analysis: quality scoring (length/stopword/diversity blend)
    "t3_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(docs(s, d)).orderBy("doc_id")),

    // Text analysis: normalized content fingerprint
    "t4_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprint(docs(s, d)).orderBy("doc_id")),

    // Text analysis: corpus top-20 bigrams
    "t5_top_bigrams" -> ((s, d) =>
      TextAnalysis.topNgrams(docs(s, d), 2, 20)),

    // Text analysis: Karp-Rabin rolling fingerprint over the token stream
    "t6_rolling_fp" -> ((s, d) =>
      TextAnalysis.rollingFingerprint(docs(s, d)).orderBy("doc_id")),

    // Text analysis: whitespace vs BPE-ish pre-tokenizer counts
    "t7_token_counts" -> ((s, d) =>
      TextAnalysis.tokenCounts(docs(s, d)).orderBy("doc_id")),

    // T17 real BPE: 20 merges LEARNED on the corpus word-frequency table
    // (Sennrich pair-count iterations — 2 metadata-scale jobs per merge,
    // the corpus read ONCE), broadcast into a codegen'd encode. Gated on
    // the independently recomputed FIRST merge and the exact one-merge
    // token count (DuckDB replays the same argmax + wrapped-replace
    // arithmetic), plus roundtrip/compression invariants over the full
    // 20-merge encode
    "t17_bpe_tokenize" -> ((s, d) => {
      val ds = docs(s, d)
      val merges = graft.operators.Bpe.trainMerges(ds, 20)
      val words = ds.select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      val encFull = graft.operators.Bpe.encode(col("w"), merges)
      val enc1 = graft.operators.Bpe.encode(col("w"), merges.take(1))
      words.agg(
          count(lit(1)).as("total_words"),
          sum(length(col("w"))).cast("long").as("total_chars"),
          sum(size(enc1)).cast("long").as("tokens_after_first"),
          sum(size(encFull)).cast("long").as("bpe_total"),
          sum(when(concat_ws("", encFull) === col("w"), 0).otherwise(1)).as("rt_fail"))
        .select(lit(merges.length.toLong).as("n_merges"),
          lit(merges.headOption.map(m => m._1 + "+" + m._2).getOrElse("")).as("first_merge"),
          col("total_words"), col("total_chars"), col("tokens_after_first"),
          (col("bpe_total") < col("total_chars") &&
            col("bpe_total") >= col("total_words")).as("compresses"),
          (col("rt_fail") === 0).as("roundtrip_ok"))
    }),

    // T18 per-doc BPE token counts under the first LEARNED merge — t17's
    // corpus-level gate taken to row granularity: every document's count
    // is the closed form chars − occurrences, which DuckDB recomputes
    // from its own independently derived argmax merge; the encode is one
    // shuffle-free codegen'd transform+aggregate pass per doc
    "t18_bpe_doc_counts" -> ((s, d) => {
      val ds = docs(s, d)
      val merges = graft.operators.Bpe.trainMerges(ds, 1)
      ds.select(col("doc_id"),
          aggregate(
            transform(TextAnalysis.tokens(col("text")),
              w => size(graft.operators.Bpe.encode(w, merges))),
            lit(0L), (acc, x) => acc + x).as("n_tokens_1merge"))
        .orderBy("doc_id")
    }),

    // T25 TOKENIZER FERTILITY by language: tokens-per-word under the
    // learned 1-merge BPE, the tokenizer-audit table (a tokenizer trained
    // on one distribution over-fragments the others); exact longs, the
    // roundDiv6 integer division, one barriered tokenize pass
    "t25_bpe_fertility" -> ((s, d) => {
      val ds = docs(s, d)
      val merges = graft.operators.Bpe.trainMerges(ds, 1)
      graft.operators.Bpe.fertilityByLang(ds, merges).orderBy("lang")
    }),

    // T19 BPE at production merge counts: ONE distributed pass to the
    // word-frequency table, then the Sennrich loop runs DRIVER-LOCAL to
    // vocabulary exhaustion (subword-nmt's own execution model — the
    // distributed per-merge loop is pure scheduling overhead at 32k
    // merges; here ~0.2 s for the whole sequence vs ~2 jobs/merge). The
    // sf documents vocabulary saturates at 89 productive merges (every
    // remaining pair is a singleton), so the entry trains to exhaustion;
    // the hundreds-of-merges capability is spec-pinned on a merge-rich
    // planted corpus in BpeSpec. Gated: the local merges must extend the
    // distributed trainer's sequence merge-for-merge (dist_prefix_match),
    // the first merge is re-derived independently by DuckDB, and the
    // exhaustion-depth encode must roundtrip and compress monotonically
    // vs the 20-merge prefix
    "t19_bpe_local_train" -> ((s, d) => {
      val ds = docs(s, d)
      val local = graft.operators.Bpe.trainMergesLocal(ds, 5000)
      val dist = graft.operators.Bpe.trainMerges(ds, 20)
      val prefixOk = local.take(dist.length) == dist
      // text barrier before the encode (r18, the withShingles discipline):
      // the per-word BPE encode is the compute-heavy stage and was running
      // INSIDE the 1-2-task scan stage (0.65 s single-task in the profile);
      // post-exchange it parallelizes across cores, and the exchange ships
      // raw text once
      val words = graft.util.Spread
        .byKey(ds.select(col("doc_id"), col("text")), col("doc_id"))
        .select(explode(TextAnalysis.tokens(col("text"))).as("w"))
      // full-table encode rides the broadcast-vocab path (the 32k-merge
      // production form); the 20-merge prefix rides the codegen'd
      // nested-replace twin — both value-gated in one aggregate
      val withFull = graft.operators.Bpe.encodeByVocab(words, "w", local)
      val enc20 = graft.operators.Bpe.encode(col("w"), local.take(20))
      withFull.agg(
          count(lit(1)).as("total_words"),
          sum(length(col("w"))).cast("long").as("total_chars"),
          sum(size(enc20)).cast("long").as("tokens_20"),
          sum(size(col("tokens"))).cast("long").as("tokens_full"),
          sum(when(concat_ws("", col("tokens")) === col("w"), 0).otherwise(1)).as("rt_fail"))
        .select(
          lit(local.headOption.map(m => m._1 + "+" + m._2).getOrElse("")).as("first_merge"),
          lit(prefixOk).as("dist_prefix_match"),
          lit(local.length > 20 && local.length < 5000).as("exhausted_beyond_gate"),
          col("total_words"), col("total_chars"),
          (col("tokens_full") <= col("tokens_20") &&
            col("tokens_20") < col("total_chars") &&
            col("tokens_full") >= col("total_words")).as("monotone_compresses"),
          (col("rt_fail") === 0).as("roundtrip_ok"))
    }),

    // Learned quality classifier (GPT-3 curation's scoring half): token
    // weights = difference of Laplace-smoothed class frequencies over
    // quality-labeled docs — linear-probability NB whose weights are
    // EXACT integer micros (no ln to ulp-diverge on); top-256 by |weight|
    "t20_classifier_weights" -> ((s, d) =>
      TextAnalysis.trainQualityClassifier(docs(s, d))
        .orderBy(abs(col("weight_micros")).desc, col("token"))),

    // Classifier scoring: the trained weights collected (vocab-bounded,
    // broadcast-stats pattern) into a literal map, each doc's tokens
    // folded through element_at into one exact long sum — narrow codegen
    // map, no shuffle, corpus read once
    "t21_classifier_score" -> ((s, d) => {
      val ds = docs(s, d)
      TextAnalysis.scoreWithClassifier(ds,
        TextAnalysis.trainQualityClassifier(ds)).orderBy("doc_id")
    }),

    // Incremental classifier maintenance (the q8/s15 change-feed
    // discipline on the training state): base counts on a corpus slice,
    // then adds + removals + one update (remove old / add new) fold in —
    // tokenize cost = the change window, never a corpus rescan; weights
    // recomputed from the maintained vocabulary-scale table
    "t22_classifier_maintenance" -> ((s, d) => {
      val ds = docs(s, d)
      val base = ds.where(col("doc_id") < 400)
      val updated = ds.where(col("doc_id") === 10).withColumn("text",
        concat(col("text"), lit(" maintained maintained quality")))
      val added = ds.where(col("doc_id") >= 400).unionByName(updated)
      val removed = ds.where(col("doc_id").isin(7L, 21L, 10L))
      TextAnalysis.classifierWeights(
          TextAnalysis.maintainClassifierCounts(
            TextAnalysis.classifierCounts(base), added, removed))
        .orderBy(abs(col("weight_micros")).desc, col("token"))
    }),

    // Reference-corpus classifier (the exact GPT-3 setup): a curated
    // positive slice (sources src0-src4) against the raw pool — same
    // smoothed integer weights off referenceCounts, composing with the
    // whole classifier family unchanged
    "t23_reference_classifier" -> ((s, d) => {
      val ds = docs(s, d)
      val posSrc = Seq("src0", "src1", "src2", "src3", "src4")
      TextAnalysis.classifierWeights(TextAnalysis.referenceCounts(
          ds.where(col("source").isin(posSrc: _*)),
          ds.where(!col("source").isin(posSrc: _*))))
        .orderBy(abs(col("weight_micros")).desc, col("token"))
    }),

    // Gopher rule battery (the published MassiveText hard thresholds):
    // five exact cross-multiplied predicates + the conjunction, one
    // narrow map over the scan
    "t24_gopher_rules" -> ((s, d) =>
      TextAnalysis.gopherRules(docs(s, d)).orderBy("doc_id")),

    // T29 per-source language mix: (source, predicted_lang) doc counts
    // and within-source share micros — the multilingual-composition
    // audit beside p21's epoch plan; unknown rows stay visible
    "t29_language_mix" -> ((s, d) =>
      graft.operators.TextAnalysis.languageMix(docs(s, d))),

    // T30 Flesch readability in exact integer micros: long sentences +
    // polysyllabic words penalized (a different axis than t2's quality
    // blend); deterministic structural counts, one codegen'd pass
    "t30_readability" -> ((s, d) =>
      graft.operators.TextAnalysis.readability(docs(s, d))),

    // T32 ENCODING-corruption gate: U+FFFD replacement chars, C0 control
    // leakage, and UTF-8-as-Latin-1 mojibake digraph markers per doc in
    // floor-div ppm — run over a PLANTED corpus (id%7 mojibake, id%11
    // binary+replacement) so the gate has live positives; one narrow
    // codegen'd regex-count pass, RE2 ∩ java.regex class subset
    "t32_encoding_profile" -> ((s, d) => {
      val base = docs(s, d)
      val planted = base.select(col("doc_id"),
        // planted damage, pure escapes: \u00c3\u00a9 = the e-acute
        // double-encoding pair, \u00e2\u20ac\u009d = the right-quote one
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" \u00c3\u00a9 \u00e2\u20ac\u009d bad")))
          // NUL + SOH binary leak + an admitted replacement char
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit("\u0000\u0001 bin \ufffd")))
          .otherwise(col("text")).as("text"))
      graft.operators.TextAnalysis.encodingProfile(planted)
    }),

    // T31 SMOOTHED trigram LM: interpolated Kneser-Ney cross-entropy per
    // document (fixed D = 3/4, all lower orders continuation-counted from
    // the trigram type table) — the published CCNet-style quality signal
    // beside t11/t16's MLE forms; docs with < 3 tokens drop
    "t31_trigram_lm_kn" -> ((s, d) =>
      graft.operators.TextAnalysis.trigramLmKN(docs(s, d)).orderBy("doc_id")),

    // T33 KATZ-BACKOFF trigram LM over a HELD-OUT corpus (train = even
    // doc_ids, score = odd): the deployment shape t31 can't exercise —
    // unseen trigrams/contexts/bigrams and OOV words all occur, so every
    // backoff path is live; seen trigrams are PURE discounted MLE (the
    // structural difference from KN's always-interpolate), backoff
    // weights fixed float shapes over exact integer sums
    "t33_trigram_lm_katz" -> ((s, d) => {
      val ds = docs(s, d)
      graft.operators.TextAnalysis.trigramLmKatz(
        ds.where(col("doc_id") % 2 === 0),
        ds.where(col("doc_id") % 2 === 1)).orderBy("doc_id")
    }),

    // T28 code-vs-prose router: per-doc code-symbol density + indented-
    // line fraction, exact integers, cross-multiplied flag — the cheap
    // gate before t20's learned classifier
    "t28_code_profile" -> ((s, d) =>
      graft.operators.TextAnalysis.codeProfile(docs(s, d))),

    // T27 Zipf audit: top-20 token rank×frequency vs the rank-1 constant
    // in floor-divided micros — the frequency-distribution health gate
    // beside t26's Heaps curve; one exploded-token aggregate, TakeOrdered
    // top-k, 1-row max broadcast back
    "t27_zipf_check" -> ((s, d) =>
      graft.operators.TextAnalysis.zipfCheck(docs(s, d))),

    // T26 vocabulary-growth curve (Heaps' law audit): cumulative tokens
    // vs cumulative distinct types at each ingest decile — per-doc rank
    // via the c9 distributed bucketed prefix sum (no global sort),
    // first-occurrence decile = min-rank decile, all exact integers
    "t26_vocab_growth" -> ((s, d) =>
      TextAnalysis.vocabGrowth(docs(s, d))),

    // Text analysis: Gopher-style bigram repetition signals
    "t9_repetition" -> ((s, d) =>
      TextAnalysis.repetitionScore(docs(s, d)).orderBy("doc_id")),

    // Text analysis: PII scrubbing over a corpus with planted identifiers
    // (doc_id % 29 == 0 gets an email + phone appended on BOTH sides, so
    // the redaction and its audit count are fully oracle-checked; the
    // scrubbed text is compared by md5)
    "t10_pii_redact" -> ((s, d) => {
      val planted = docs(s, d).withColumn("text",
        when(col("doc_id") % 29 === 0,
          concat(col("text"), lit(" contact user"), col("doc_id"),
            lit("@example.com or 555-0100")))
          .otherwise(col("text")))
      TextAnalysis.redactPii(planted)
        .select(col("doc_id"), col("n_redacted"),
          md5(col("clean_text")).as("clean_hash"))
        .orderBy("doc_id")
    }),

    // Text analysis: corpus-unigram cross-entropy (perplexity-proxy quality
    // signal) — vocabulary and doc scores from one exploded-token aggregate
    "t11_unigram_lm" -> ((s, d) =>
      TextAnalysis.unigramLm(docs(s, d)).orderBy("doc_id")),

    // Text analysis: per-source profile with EXACT distinct vocabulary (the
    // two-level aggregate); the HLL sketch twin is spec-pinned against it
    "t12_distinct_profile" -> ((s, d) =>
      TextAnalysis.distinctProfile(docs(s, d)).orderBy("source")),

    // Text analysis: per-document TF·IDF keyword extraction — top-3 most
    // characteristic terms per doc (score desc, term asc ties), the
    // tagging/summarization primitive
    "t13_keywords" -> ((s, d) =>
      TextAnalysis.keywords(docs(s, d), k = 3).orderBy("doc_id", "rank")),

    // Text analysis: "more like this" — the seed document's top-5 TF·IDF
    // terms (t13's selection rule) query the corpus; every other document
    // scores Σ c·idf over those terms, top-10 by (score desc, doc_id).
    // The related-documents primitive of the reference's ES search lineage
    "t15_more_like_this" -> ((s, d) =>
      TextAnalysis.moreLikeThis(docs(s, d), seedDocId = 42L)),

    // Text analysis: per-doc BIGRAM cross-entropy under the corpus
    // conditional distribution — t11's sharper sibling (sequence fluency,
    // not just vocabulary); MLE is exact by construction so the score is
    // closed-form for the oracle. Sub-2-token docs carry no bigrams and drop
    "t16_bigram_lm" -> ((s, d) =>
      TextAnalysis.bigramLm(docs(s, d)).orderBy("doc_id")),

    // Text analysis: per-source token-length DISTRIBUTION profile — exact
    // interpolated percentiles (the rank = q·(n−1) rule every SQL engine's
    // percentile_cont implements, so the oracle holds the values); the
    // bounded-memory approx_percentile twin is spec-pinned against it
    "t14_length_profile" -> ((s, d) =>
      TextAnalysis.lengthProfile(docs(s, d)).orderBy("source")),

    // Composed pre-training pipeline: language gate + quality gate +
    // fuzzy-dedup survivors, one narrow gate stage + the blocked dedup leg
    "p1_pretrain_corpus" -> ((s, d) =>
      graft.operators.Pipeline.pretrainCorpus(docs(s, d)).orderBy("doc_id")),

    // Text analysis: corpus-level token report (single aggregate row)
    "t8_corpus_stats" -> ((s, d) =>
      TextAnalysis.corpusStats(docs(s, d))),

    // Pipeline: deterministic train/val/test split (Knuth multiplicative
    // hash — reprocessing-stable, engine-portable integer arithmetic)
    "p2_hash_split" -> ((s, d) =>
      graft.operators.Pipeline.hashSplit(docs(s, d)).orderBy("doc_id")),

    // Pipeline: eval-set decontamination — doc_id % 97 == 0 plays the eval
    // benchmark; every remaining training doc is scored by distinct shared
    // 5-grams (the planted near-dup groups guarantee non-trivial hits
    // whenever an eval doc has a near-duplicate in the training split)
    "p3_decontaminate" -> ((s, d) => {
      val dd = docs(s, d)
      graft.operators.Pipeline.contamination(
        dd.where(col("doc_id") % 97 =!= 0), dd.where(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    }),

    // D17 PER-EVAL-ITEM contamination report — p3's reverse direction (the
    // GPT-3 appendix percent-clean stat): for each eval doc, the fraction
    // of ITS 5-grams found anywhere in train; the train scan returns only
    // the matched subset of the broadcast eval n-gram set, never
    // corpus-scale rows
    "d17_eval_overlap" -> ((s, d) => {
      val dd = docs(s, d)
      graft.operators.Pipeline.evalContaminationReport(
        dd.where(col("doc_id") % 97 =!= 0), dd.where(col("doc_id") % 97 === 0))
        .orderBy("doc_id")
    }),

    // Pipeline: token-budget curation — top 25% of docs by quality score,
    // ties by doc_id (rank-based: no interpolated quantile threshold)
    "p4_quality_sample" -> ((s, d) =>
      graft.operators.Pipeline.qualitySample(docs(s, d)).orderBy("doc_id")),

    // Pipeline: shard-local sequence packing (concatenate-and-chunk pack
    // assignment, the pretraining batch discipline; per-shard window only)
    "p5_pack_sequences" -> ((s, d) =>
      graft.operators.Pipeline.packSequences(docs(s, d)).orderBy("doc_id")),

    // Pipeline: packing v2 — shard-local FIRST-FIT-DECREASING into fixed
    // 512-token bins: documents stay WHOLE (vs p5's chunk splits), waste
    // is eaten near-optimally (FFD ≤ 11/9·OPT bins); deterministic
    // (len desc, doc_id) scan per shard, honest sequential flatMapGroups
    "p22_pack_ffd" -> ((s, d) =>
      graft.operators.Pipeline.packFirstFitDecreasing(docs(s, d))),

    // Pipeline: CCNet perplexity bucketing — head/middle/tail at the
    // 33rd/67th cross-entropy percentile THRESHOLDS (value semantics, no
    // global sort); 1-row threshold broadcast, narrow bucketing map
    "p15_perplexity_buckets" -> ((s, d) =>
      graft.operators.Pipeline.perplexityBuckets(docs(s, d)).orderBy("doc_id")),

    // Pipeline: seeded deterministic epoch shuffle — every document's
    // (shard, pos) for an epoch is a pure function of (doc_id, seed)
    // through engine-portable integer hashing, so training order differs
    // per epoch yet replays bit-identically; the oracle recomputes the
    // full permutation independently
    "p16_epoch_shuffle" -> ((s, d) =>
      graft.operators.Pipeline.epochOrder(docs(s, d), shards = 8, seed = 3L)
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")),

    // P21 mixture epoch plan: tokens-per-source and EPOCHS required to
    // hit a 50/30/20 mix at a 10k-token budget — the data-constrained-
    // scaling check; floor-div micros, unlisted sources visible at
    // weight 0, over-4-epoch sources flagged
    "p21_epoch_plan" -> ((s, d) =>
      graft.operators.Pipeline.mixtureEpochPlan(docs(s, d),
        Map("src0" -> 500000L, "src1" -> 300000L, "src2" -> 200000L),
        budgetTokens = 10000L)),

    // P23 temperature-resampled mixture weights (α = 1/2, the mT5/XLM-R
    // up-sampling recipe): sampling share ∝ √n via exact integer square
    // root (float seed corrected ±1 — libm perfect-square rounding can't
    // diverge engines), boost over natural share in floor-div micros —
    // the derived-weights complement feeding p21's epoch planner
    "p23_temperature_mix" -> ((s, d) =>
      graft.operators.Pipeline.temperatureMixWeights(docs(s, d))),

    // P20 padding-efficiency audit of power-of-two length-bucketed
    // batching — tokens-on-the-floor per bucket cap, exact integers, one
    // codegen'd narrow pass + a |caps|-row aggregate
    "p20_padding_efficiency" -> ((s, d) =>
      graft.operators.Pipeline.paddingEfficiency(docs(s, d))),

    // Pipeline: DSIR data selection (Xie et al. 2023) — the top-50 raw docs
    // by importance log-weight toward the English slice as target, explicit
    // 256-token target vocabulary, Laplace-smoothed unigram feature models
    // on both sides; the oracle re-derives vocabulary, both models, and the
    // per-doc log-ratio fold independently
    "p19_dsir_sample" -> ((s, d) => {
      val ds = docs(s, d)
      graft.operators.Pipeline
        .dsirTopK(ds, ds.where(col("lang") === "en"), n = 50, vocabSize = 256)
        .orderBy("rank")
    }),

    // P24 SELECTION-AGREEMENT audit: DSIR (p19) vs classifier (p14)
    // scored on ONE corpus — exact-integer Spearman ρ over the two
    // tie-broken rank permutations (floor-div micros, Σd² DECIMAL-
    // widened), top-50 overlap count, and the disagreement slice (docs
    // exactly one selector ships, both ranks + both raw scores); ranks
    // by the distributed bucketed prefix sum, never a global sort —
    // the audit that says when the two published methods diverge
    "p24_selection_agreement" -> ((s, d) => {
      val ds = docs(s, d)
      graft.operators.Pipeline.selectionAgreement(ds,
        ds.where(col("lang") === "en"), k = 50)
    }),

    // Pipeline: temperature-sampled domain mixing (XLM-R α=0.5 shape) —
    // tempered shares from exact token counts via IEEE-exact sqrt +
    // integer-quantized normalization; Knuth-coin selection, broadcast
    // fractions, the corpus never shuffles
    "p13_temperature_mix" -> ((s, d) =>
      graft.operators.Pipeline.temperatureMix(docs(s, d)).orderBy("doc_id")),

    // Pipeline: quality-WEIGHTED downsampling (GPT-3 curation shape) —
    // keep-probability = quality, decided by an exact integer coin-vs-
    // micros compare; narrow per-row map, no shuffle, no sampling state
    "p12_weighted_sample" -> ((s, d) =>
      graft.operators.Pipeline.weightedSample(docs(s, d)).orderBy("doc_id")),

    // Pipeline: the LEARNED-model composition of p12 — keep-probability
    // min-max linear in the t20/t21 classifier score (the actual GPT-3
    // recipe shape), exact integer normalization, 2-long broadcast stat
    "p14_classifier_sample" -> ((s, d) => {
      val ds = docs(s, d)
      graft.operators.Pipeline.classifierWeightedSample(ds,
        TextAnalysis.trainQualityClassifier(ds)).orderBy("doc_id")
    }),

    // Pipeline: per-language quota curation (data mixing) — top 50 docs per
    // detected language by quality, ties by doc_id
    "p6_stratified_sample" -> ((s, d) =>
      graft.operators.Pipeline.stratifiedSample(docs(s, d)).orderBy("doc_id")),

    // Pipeline: domain-mixture curation — sources reweighted to a linear
    // share recipe (src k gets share (k+1)/210) against half the corpus's
    // token budget, selection by the engine-portable Knuth hash
    "p8_domain_mix" -> ((s, d) => {
      val dd = docs(s, d)
      val shares = dd.select(col("source")).distinct()
        .select(col("source"),
          ((substring(col("source"), 4, 10).cast("int") + 1) / lit(210.0)).as("share"))
      graft.operators.Pipeline.domainMix(dd, shares, budgetFrac = 0.5)
        .orderBy("doc_id")
    }),

    // Pipeline: deterministic sharded EXPORT — the delivery step. The
    // corpus is written as 8 one-file shard directories (Knuth-hash
    // assignment, doc_id order inside each file, _manifest side-table) and
    // read BACK for the oracle compare: every document present exactly
    // once, in its recomputable shard, text fidelity by md5 — the full
    // roundtrip gate over the export (shape/balance/determinism are
    // spec-pinned)
    "p9_shard_export" -> ((s, d) => {
      val out = scratch("p9-export") + "/corpus" // overwrite-reuse: no per-call leak
      graft.operators.Pipeline.shardExport(docs(s, d), out, shards = 8)
      s.read.parquet(out)
        .select(col("doc_id"), col("shard").cast("long").as("shard"),
          md5(col("text")).as("text_md5"))
        .orderBy("doc_id")
    }),

    // P17 corpus takedown — compliance on the DELIVERED export: the three
    // doomed doc_ids vanish from the sharded corpus with only their
    // shards rewritten (touched set computed from the ids alone — shard
    // assignment is a pure doc_id function) and the _manifest kept
    // consistent. Gated: exact purge count, no-op re-purge, manifest
    // row-count agreement with the purged data.
    "p17_corpus_takedown" -> ((s, d) => {
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
    }),

    // P18 MASS revocation — p17 by PREDICATE instead of id list: every
    // document of the (lexicographically first) source withdrawn from the
    // delivered export. The doomed set is described, not enumerated — one
    // column-pruned discovery pass finds the touched shards, the rewrite
    // costs the touched slice; null-evaluating rows survive (erasure only
    // on proof). Gated: exact purge count and a no-op re-run.
    "p18_source_revocation" -> ((s, d) => {
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
    }),

    // X3 JSONL round-trip: the documents corpus written as newline-delimited
    // JSON (distributed sink) and read back with an explicit schema — full
    // column fidelity proven against the original parquet (text by md5)
    "x3_jsonl_roundtrip" -> ((s, d) => {
      val src = docs(s, d)
      val out = scratch("x3-jsonl") + "/docs" // overwrite-reuse: no per-call leak
      graft.sources.Jsonl.write(src, out)
      graft.sources.Jsonl.read(s, out, src.schema)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // Dedup: exact (content-hash, min doc_id representative)
    "d1_exact_dedup" -> ((s, d) =>
      Dedup.exact(docs(s, d)).orderBy("doc_id")),

    // Dedup: n-gram-shingle Jaccard near-dup pairs (inverted-index blocked)
    "d2_jaccard_pairs" -> ((s, d) =>
      Dedup.jaccardPairs(docs(s, d)).orderBy("a_id", "b_id")),

    // Dedup: shingle CONTAINMENT pairs over the planted-prefix corpus —
    // the asymmetric case (excerpt ⊂ source: containment 1.0, Jaccard
    // ≈0.25). Exact formula both sides; the oracle reruns the identical
    // blocked pipeline in SQL, so organic pairs (if any) match too.
    "d7_containment_pairs" -> ((s, d) =>
      Dedup.containmentPairs(plantedPrefixDocs(s, d)).orderBy("a_id", "b_id")),

    // Dedup: boilerplate LINE removal (C4-style) over the planted-line
    // corpus — footers recur in 1/2 and 1/3 of docs (far above the 5%
    // document-frequency threshold), body lines are unique; the cleaned
    // text and removal counts are closed-form in SQL
    "d8_line_dedup" -> ((s, d) =>
      Dedup.lineDedup(plantedLineDocs(s, d)).orderBy("doc_id")),

    // Dedup: MinHash+LSH banded pairs over the planted-truncation corpus.
    // The registered projection is the pair SET (est_jaccard is a function
    // of xxhash64, which no SQL engine reproduces); the oracle recomputes
    // exact shingle Jaccard per pair — the threshold sits in the corpus's
    // measured Jaccard gap (docstring of plantedTruncDocs), making the
    // estimate's keep/drop decision deterministic at every SF, so banding
    // recall, signature math, and thresholding are all hash-checked
    "d3_minhash_pairs" -> ((s, d) =>
      Dedup.minhashPairs(plantedTruncDocs(s, d), threshold = 0.6)
        .select("a_id", "b_id").orderBy("a_id", "b_id")),

    // Dedup: SimHash pairs at maxHamming = 0 over the planted-permutation
    // corpus, reported in the planted window (b = a + 300000) where the
    // exact answer is closed-form at every SF — order-invariance, banding
    // recall, and the Hamming verify are all hash-checked; see
    // plantedPermDocs for why the unrestricted set is not SQL-predictable
    "d4_simhash_pairs" -> ((s, d) =>
      Dedup.simhashPairs(plantedPermDocs(s, d), maxHamming = 0)
        .where(col("b_id") === col("a_id") + 300000L)
        .orderBy("a_id", "b_id")),

    // Dedup: INCREMENTAL MinHash dedup — the planted truncated copies play
    // a newly-arrived batch deduped against the base corpus's PERSISTED
    // signature index (written to parquet and read back: corpus text is
    // never rescanned). Same margin argument as d3, so the pair set is
    // closed-form; answer = exactly the planted (src, src+300000) pairs
    "d9_incremental_dedup" -> ((s, d) => {
      val all = plantedTruncDocs(s, d)
      val idxDir = scratch("d9-sigidx") // per-process fixed dir: no per-run leak
      Dedup.signatureIndex(all.where(col("doc_id") < 300000L))
        .write.mode("overwrite").parquet(idxDir)
      Dedup.incrementalMinhashPairs(s.read.parquet(idxDir),
          all.where(col("doc_id") >= 300000L), threshold = 0.6)
        .select("a_id", "b_id").orderBy("a_id", "b_id")
    }),

    // Dedup: exact-substring repeated spans (the Lee-et-al suffix-array
    // tier re-expressed as positioned 8-shingle postings + island merge).
    // Every 7th doc carries the planted 12-token boilerplate tail whose
    // interior windows repeat corpus-wide; the oracle runs the identical
    // pipeline so organic repeats match too
    "d10_repeated_spans" -> ((s, d) =>
      Dedup.repeatedSpans(plantedSpanDocs(s, d), k = 8)
        .orderBy("doc_id", "start_tok")),

    // Dedup: per-document duplicated-token fraction over the same planted
    // corpus — the Lee-et-al corpus-health metric removal policies
    // threshold on; spans are disjoint so the token sum is exact
    "d11_dup_token_load" -> ((s, d) =>
      Dedup.dupTokenLoad(plantedSpanDocs(s, d), k = 8).orderBy("doc_id")),

    // Dedup: exact-substring REMOVAL — the policy pass whose output is the
    // Lee-et-al pipeline's actual product, the rewritten corpus: each
    // repeated maximal span keeps its first occurrence (lowest (doc_id,
    // start_tok); identity = span token content) and later occurrences are
    // cut, order preserved. Same planted corpus; the oracle runs the
    // identical detection + election + rewrite pipeline, comparing the
    // rewritten text by md5 (the d8 reporting shape)
    "d12_span_removal" -> ((s, d) =>
      Dedup.removeRepeatedSpans(plantedSpanDocs(s, d), k = 8).orderBy("doc_id")),

    // Dedup: exact-substring removal at TRUE window granularity — the
    // suffix-array-faithful policy (d12's documented under-removal caveat
    // closed): the first-occurrence election runs per repeated k-token
    // WINDOW, so boundary-token-extended islands no longer escape the cut.
    // Same planted corpus and reporting shape; the oracle runs the
    // identical window election + interval merge + rewrite pipeline
    "d13_window_removal" -> ((s, d) =>
      Dedup.removeRepeatedWindows(plantedSpanDocs(s, d), k = 8).orderBy("doc_id")),

    // Dedup: fuzzy survivors after collapsing Jaccard near-dup groups
    "d5_fuzzy_survivors" -> ((s, d) =>
      Dedup.fuzzyDedupSurvivors(docs(s, d), Dedup.jaccardPairs(docs(s, d)))
        .orderBy("doc_id")),

    // Dedup: connected-component cluster canonicalization. The pair graph is
    // the real Jaccard near-dup pairs PLUS planted arithmetic chains
    // (doc→doc+1 for doc_id % 50 < 3, i.e. chains of length 4) — transitive
    // collapse across the chains is exactly what d5's single min-propagation
    // round cannot do, so this oracle-checks the fixpoint iteration itself
    "d6_dup_clusters" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.dupClusters(dd, Dedup.jaccardPairs(dd).select("a_id", "b_id")
          .unionByName(chainPairs(dd)))
        .orderBy("doc_id")
    }),

    // D19 shingle-df profile: per-df-stratum shingle/posting counts and
    // the UNBLOCKED pair mass Σ C(df,2) — the measured trade behind the
    // df∈[2,20] blocking knob every dedup path here uses
    "d19_shingle_profile" -> ((s, d) =>
      Dedup.shingleDfProfile(docs(s, d))),

    // D20 LSH band planning: FP/FN mass of every b·r = 64 factorization's
    // S-curve vs the 0.8 Jaccard target, round-6 micros over the rational
    // s grid — the third measure-first leg (d19 prices blocking, d16
    // measures recall, this prices the banding knob itself)
    "d20_band_plan" -> ((s, d) =>
      Dedup.lshBandPlan(s, k = 64, thresholdE2 = 80)),

    // D18 dedup ROI: cluster-size histogram + keep-one-per-cluster byte
    // savings over the SAME d6 closure — the audit run before a 100 TB
    // dedup pass is budgeted; ids+lengths only, two metadata aggregates
    "d18_dedup_roi" -> ((s, d) => {
      val dd = docs(s, d)
      Dedup.dedupRoi(dd,
        Dedup.dupClusters(dd, Dedup.jaccardPairs(dd).select("a_id", "b_id")
          .unionByName(chainPairs(dd))))
    }),

    // Pipeline × dedup composition: collapse each near-dup cluster to its
    // HIGHEST-QUALITY member (ties doc_id) — the realistic canonical rule
    // for corpus builds. Same cluster closure as d6 (jaccard + planted
    // chains); argmax is a WindowGroupLimit row_number ≤ 1
    "p7_quality_survivors" -> ((s, d) => {
      val dd = docs(s, d)
      graft.operators.Pipeline.bestQualitySurvivors(dd,
          Dedup.jaccardPairs(dd).select("a_id", "b_id").unionByName(chainPairs(dd)))
        .orderBy("cluster_rep")
    }),

    // Similarity: brute-force cosine top-10 for query vectors vec_id < 5
    "v1_cosine_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 5), 10)
        .orderBy("q_id", "rank")
    }),

    // Similarity: SRP-LSH bucketed top-10 over the planted neighborhood
    // corpus — each query's true top-10 is its 10 plants (organic cos ≤
    // 0.40 ≪ planted 0.999+), so the bucketed operator must recall every
    // plant and exact-rerank them to match v1's exact-cosine oracle SQL
    "v2_lsh_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.lshTopK(plantedTopKEmb(s, d), e.where(col("vec_id") < 5), 10)
        .orderBy("q_id", "rank")
    }),

    // Similarity: IVF centroid-bucketed top-k. Registered at full probe
    // (nprobe = nlist), where IVF degrades exactly to brute force — so the
    // bucketed plan itself is held to the exact-cosine DuckDB oracle;
    // partial-probe recall is OperatorsSpec territory
    "v4_ivf_topk" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfTopK(e, e.where(col("vec_id") < 5), 10, nlist = 32, nprobe = 32)
        .orderBy("q_id", "rank")
    }),

    // Similarity: IVF at PARTIAL probe (nprobe 8 of 32 — the production
    // config) over the planted neighborhood corpus: each query's true
    // top-10 sits ≈ on the query vector itself, so its plants share the
    // query's nearest cell and a partial probe must still return the exact
    // answer — the approximate path held to the exact-cosine oracle
    // V25 measured range-search recall at partial probe (the v11
    // discipline on v24): pinned knob→recall curve behind the same SF
    // fingerprint guard — for range search, loss = in-radius neighbors
    // in unprobed cells, exactly what a caller sizing nprobe pays
    "v25_range_recall" -> ((s, d) => {
      import s.implicits._
      val fp = s.read.parquet(s"$d/embeddings.parquet")
        .agg((count(lit(1)) * 100000 + sum(col("label"))).cast("long"))
        .collect()(0).getLong(0)
      if (fp != 50002270L)
        Seq(("PIN_STALE_expected_sf0.01", -1L, fp, -1.0))
          .toDF("method", "hits", "total", "recall")
      else measuredRangeRecall(s, d)
    }),

    // V24 RANGE (radius) search over the persisted IVF index: every
    // corpus vector with round-6 cosine >= 0.25 of each query — result
    // sizes legitimately vary per query (6..14 here), the shape top-k
    // truncates or pads. Registered at FULL probe (nprobe = nlist) so
    // the indexed plan is held to the exact brute-force range oracle
    // (the v4 discipline); partial-probe boundary recall is spec territory
    "v24_range_search" -> ((s, d) => {
      val e = emb(s, d)
      val cents = Similarity.ivfCentroids(e, 32)
      val dir = scratch("v24-ivfidx")
      Similarity.ivfIndex(e, cents).transform(d0 => graft.util.Spread.byKey(d0, col("cell")))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(dir)
      Similarity.rangeSearchIndexed(s.read.parquet(dir), cents,
          e.where(col("vec_id") < 5), minCos = 0.25, nprobe = 32)
        .orderBy(col("q_id"), col("cos").desc, col("vec_id"))
    }),

    // Similarity: IVF against the PERSISTED cell-partitioned index — the
    // "index once at ingest, query many" path (v6's probe math over an
    // index read back from parquet; assignments and norms never
    // recomputed, probed cells prune partition directories). Same planted
    // geometry ⇒ same exact-cosine oracle as v6
    "v7_ivf_indexed" -> ((s, d) => {
      val corpus = plantedTopKEmb(s, d)
      val cents = Similarity.ivfCentroids(corpus, 32)
      val dir = scratch("v7-ivfidx") // per-process fixed dir: no per-run leak
      Similarity.ivfIndex(corpus, cents).transform(d0 => graft.util.Spread.byKey(d0, col("cell")))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(dir)
      Similarity.ivfTopKIndexed(s.read.parquet(dir), cents,
          emb(s, d).where(col("vec_id") < 5), 10, nprobe = 8)
        .orderBy("q_id", "rank")
    }),

    // Similarity: INCREMENTAL IVF maintenance — index the organic corpus,
    // freeze the codebook, then append the planted batch against it (the
    // live-ingest path: assignment is a pure per-row function, so append ≡
    // rebuild, spec-pinned). The exact top-10 per query is entirely in the
    // appended batch, so the oracle holds recall THROUGH the append
    "v8_ivf_append" -> ((s, d) => {
      val all = plantedTopKEmb(s, d)
      val base = all.where(col("vec_id") < 200000L)
      val batch = all.where(col("vec_id") >= 200000L)
      val cents = Similarity.ivfCentroids(base, 32)
      val dir = scratch("v8-ivfidx")
      Similarity.ivfIndex(base, cents).transform(d0 => graft.util.Spread.byKey(d0, col("cell")))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(dir)
      Similarity.ivfAppend(batch, cents, dir)
      Similarity.ivfTopKIndexed(s.read.parquet(dir), cents,
          emb(s, d).where(col("vec_id") < 5), 10, nprobe = 8)
        .orderBy("q_id", "rank")
    }),

    // D15 SEMANTIC decontamination: p3's eval-leakage gate in embedding
    // space — eval vectors (vec_id < 20) broadcast as literals, every
    // training vector's best eval match in one narrow projection (the
    // v19 plan shape); three exact eval copies planted into the train
    // side so the threshold provably fires, organic background ≤ 0.50
    "d15_semantic_contamination" -> ((s, d) => {
      val embAll = emb(s, d).select("vec_id", "embedding")
      val evalVecs = embAll.where(col("vec_id") < 20)
      val planted = evalVecs.where(col("vec_id").isin(3L, 7L, 11L))
        .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      val train = embAll.where(col("vec_id") >= 20).unionByName(planted)
      Similarity.semanticContamination(train, evalVecs)
        .orderBy("vec_id")
    }),

    // D16 MEASURED DEDUP RECALL: each production near-dup path held to the
    // EXACT Jaccard pair set (no df cap, no minShared cut — exact by the
    // J>0 ⇒ shares-a-shingle argument) on sf0.01's organic corpus. Same
    // SF-fingerprint guard as v11: pinned recalls describe this corpus
    // only, any other SF mirrors a PIN_STALE marker on both sides.
    "d16_dedup_recall" -> ((s, d) => {
      import s.implicits._
      val fp = s.read.parquet(s"$d/documents.parquet")
        .agg((count(lit(1)) * 100000 + sum(col("n_chars"))).cast("long"))
        .collect()(0).getLong(0)
      if (fp != 50149174L)
        Seq(("PIN_STALE_expected_sf0.01", -1L, fp, -1.0))
          .toDF("method", "hits", "total", "recall")
      else measuredDedupRecall(s, d)
    }),

    // V20 MMR DIVERSIFIED RERANK: greedy maximal-marginal-relevance over
    // each query's exact top-20 shortlist (λ=0.7, k=5) — the oracle
    // re-runs the same greedy unrolled to 5 chained SQL steps over the
    // same round-6 cosines, so selection, order, AND objective values are
    // all value-checked (no pins)
    "v20_mmr_rerank" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.mmrTopK(e, e.where(col("vec_id") < 5), k = 5, fetch = 20)
        .orderBy("q_id", "rank")
    }),

    // V21 MMR OVER THE IVF TIER: the v20 rerank fed by the partial-probe
    // IVF shortlist instead of brute force — the at-scale composition made
    // real. On the planted geometry the nprobe=8 shortlist is provably the
    // exact top-10 (the v6 gate), so the oracle stays fully value-checked
    // through the approximate tier.
    "v21_mmr_ivf" -> ((s, d) => {
      val corpus = plantedTopKEmb(s, d)
      val sl = Similarity.ivfTopK(corpus, emb(s, d).where(col("vec_id") < 5),
        10, nlist = 32, nprobe = 8)
      Similarity.mmrRerank(corpus, sl, k = 5).orderBy("q_id", "rank")
    }),

    // V22 EMBEDDING DIMENSION CORRELATION: the representation-collapse
    // diagnostic — top-20 most linearly dependent dimension pairs by
    // |Pearson corr|, every moment an exact integer-micros DECIMAL sum,
    // one exchange reused by both self-join sides, one final float ratio
    // of exact integers round-6 (the j14 cosine discipline)
    "v22_dim_correlation" -> ((s, d) =>
      Similarity.dimensionCorrelation(emb(s, d))),

    // V27 embedding NORM profile: squared-norm distribution in exact
    // quantized micros² (1e12 = unit), zero-vector count (the silent
    // cosine-NaN factory), ±10% off-unit count (mixed-normalization
    // detector); one aggregate-HOF pass, no explode, no shuffle
    "v27_norm_profile" -> ((s, d) =>
      graft.operators.Similarity.normProfile(emb(s, d))),

    // E38 STREAMING norm profile: one partial row per batch carrying ALL
    // THREE mergeable classes at once (count/sum re-SUM, extremes
    // re-MIN/MAX); the shared normReport over the folded log equals the
    // batch v27 — its oracle VERBATIM
    "e38_stream_norm_profile" -> ((s, d) => {
      val src = scratch("e38-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        emb(s, d).repartition(4).write.parquet(src)
      val deltas = scratch("e38-deltas")
      EventStream.streamNormFold(s, src, deltas)
      graft.operators.Similarity.normReport(
        EventStream.readDeltaLog(s, deltas)
          .select("n_vecs", "n_dims", "n_zero", "n_off_unit",
            "min_n2", "max_n2", "sum_n2"))
    }),

    // E42 STREAMED MERGE feed: s28's three-arm CDC script delivered as a
    // micro-batch stream — each batch one atomic mixed-op merge commit,
    // exactly-once from the operation's content-idempotence (the e23
    // argument), disjoint-id batches commute; final state must equal
    // the batch merge — s28's oracle VERBATIM
    "e42_stream_merge" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000050")) // v1
      val base = corpusEntries(s, d, "000001", "000300").toDF()
      val fields = graft.model.MetadataSchema.structType.fields.toSeq
      def nulledExcept(overrides: Map[String, org.apache.spark.sql.Column]) =
        fields.map { f =>
          overrides.getOrElse(f.name,
            if (f.name == "id") col("id")
            else lit(null).cast(f.dataType).as(f.name)).as(f.name)
        }
      val feed = base.where(col("id") === "000010")
        .select(nulledExcept(Map("title" -> lit("merged-title"))): _*)
        .withColumn("_delete", lit(false))
        .unionByName(base.where(col("id") === "000020")
          .select(nulledExcept(Map.empty): _*).withColumn("_delete", lit(true)))
        .unionByName(base.where(col("id") === "000200").withColumn("_delete", lit(false)))
        .unionByName(base.where(col("id") === "000300")
          .select(nulledExcept(Map.empty): _*).withColumn("_delete", lit(true)))
      val src = scratch("e42-src")
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(src))
      graft.util.FsUtil.deleteRecursively(
        java.nio.file.Paths.get(src).resolveSibling("_merge_checkpoint"))
      feed.repartition(3).write.parquet(src)
      EventStream.streamMergeFeed(s, src, st)
      st.current.toDF()
        .select(col("id"), col("title"), col("dataSample"))
        .orderBy("id")
    }),

    // E41 STREAMED FD fold: c19's dependency audit maintained by ingest
    // — per-batch DISTINCT (fd, det, dep) triples as a SET log (the e31
    // union argument), shared report stage insensitive to cross-batch
    // duplicates, so stream ≡ batch with no read-side distinct; c19's
    // oracle applies VERBATIM
    "e41_stream_fd" -> ((s, d) => {
      val src = scratch("e41-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        Corpus.metadata(s, d)
          .select(col("id"), col("title"), col("category"), col("format"),
            col("orgUUID"), col("isPublic"))
          .repartition(4).write.parquet(src)
      val deltas = scratch("e41-deltas")
      EventStream.streamFdFold(s, src, deltas,
        Seq("id" -> "title", "category" -> "format", "orgUUID" -> "isPublic"))
      graft.operators.Quality.fdReportFromTriples(
        EventStream.readDeltaLog(s, deltas).select("fd", "det", "dep"))
    }),

    // E40 STREAMED Benford fold: c18's digit profile maintained by
    // ingest — per-batch ≤9-row keyed sum log (compactSumLog applies
    // verbatim), shared report stage so stream ≡ batch; c18's oracle
    // applies VERBATIM to the folded report
    "e40_stream_benford" -> ((s, d) => {
      val src = scratch("e40-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        Corpus.metadata(s, d).select(col("id"), col("recordCount"))
          .repartition(4).write.parquet(src)
      val deltas = scratch("e40-deltas")
      EventStream.streamBenfordFold(s, src, deltas, "recordCount")
      graft.operators.Quality.benfordFromCounts(
        EventStream.readDeltaLog(s, deltas).select("digit", "n_obs"))
    }),

    // E39 STREAMED encoding-health fold: t32's corpus gate maintained by
    // ingest — per-batch 1-row integer partials (the flag bit is batch-
    // local, so even it merges), idempotent batch dirs, read-side report
    // ≡ the batch aggregate by shared stage; same planted damage as t32
    // so the fold has live positives
    "e39_stream_encoding" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" \u00c3\u00a9 \u00e2\u20ac\u009d bad")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit("\u0000\u0001 bin \ufffd")))
          .otherwise(col("text")).as("text"))
      val src = scratch("e39-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        planted.repartition(4).write.parquet(src)
      val deltas = scratch("e39-deltas")
      EventStream.streamEncodingFold(s, src, deltas)
      graft.operators.TextAnalysis.encodingReport(
        EventStream.readDeltaLog(s, deltas)
          .select("n_docs", "n_flagged", "n_chars", "n_replacement",
            "n_control", "n_mojibake"))
    }),

    // V26 embedding drift between corpus versions: per-dim mean shift in
    // exact quantized micros (sign-factored floor means — component sums
    // go negative), top-10 shifted dims; v2 = p10-rule churn + a planted
    // +0.25 shift on dim 4 for vec_id % 7 == 0 — the re-versioned-encoder
    // regression gate
    "v26_embedding_drift" -> ((s, d) => {
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
    }),

    // V23 PCA TOP-COMPONENT PROJECTION: exact integer-micros moments →
    // collected d²-row statistic → 12 driver-side power-iteration steps
    // (the Lloyd's-codebook shape) → distributed centered projection as
    // a narrow literal-vector HOF; oracle replays the same recurrence as
    // chained CTEs over the same exact moments, round-4 output
    "v23_pca_project" -> ((s, d) =>
      Similarity.pcaProject(emb(s, d))),

    // V19 k-NN LABEL PROPAGATION: every unlabeled vector takes the
    // majority label of its 5 nearest seeds by exact cosine (seed tier:
    // vec_id < 30, label = id % 3) — the seed set enters the plan as
    // broadcast literals, so the whole labeling is ONE narrow scan-bound
    // projection: no join, no shuffle, no window; ties (cos, then votes)
    // resolve by seed id / smallest label on both engines
    "v19_knn_labels" -> ((s, d) => {
      val embAll = emb(s, d)
      val seeds = embAll.where(col("vec_id") < 30)
        .select(col("vec_id"), pmod(col("vec_id"), lit(3L)).as("label"),
          col("embedding"))
      Similarity.knnLabelPropagation(embAll.where(col("vec_id") >= 30), seeds)
        .orderBy("vec_id")
    }),

    // V18 index small-file compaction: the accretion half of index
    // lifecycle (v14 covers deletes) — four append batches land files per
    // touched cell, then ONLY over-threshold cells rewrite to one file
    // each (cold cells byte-identical, spec-pinned); the compacted index
    // must still recall the exact planted top-10 through the same probe
    "v18_index_compaction" -> ((s, d) => {
      val all = plantedTopKEmb(s, d)
      val base = all.where(col("vec_id") < 200000L)
      val batch = all.where(col("vec_id") >= 200000L)
      val cents = Similarity.ivfCentroids(base, 32)
      val dir = scratch("v18-ivfidx")
      Similarity.ivfIndex(base, cents).transform(d0 => graft.util.Spread.byKey(d0, col("cell")))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(dir)
      (0 until 4).foreach { i =>
        Similarity.ivfAppend(batch.where(pmod(col("vec_id"), lit(4)) === i), cents, dir)
      }
      Similarity.ivfCompactSmallFiles(s, dir, maxFilesPerCell = 2)
      Similarity.ivfTopKIndexed(s.read.parquet(dir), cents,
          emb(s, d).where(col("vec_id") < 5), 10, nprobe = 8)
        .orderBy("q_id", "rank")
    }),

    // Similarity: PRODUCT-QUANTIZED two-phase search — ADC shortlist over
    // the m-byte-per-vector compressed index, exact re-rank of shortlist
    // rows only (the memory-compression ANN tier). The planted top-10 must
    // survive BOTH the lossy quantization and the shortlist cut, so the
    // exact-cosine oracle gates compression fidelity end-to-end
    "v9_pq_topk" -> ((s, d) =>
      Similarity.pqTopK(plantedTopKEmb(s, d), emb(s, d).where(col("vec_id") < 5), 10)
        .orderBy("q_id", "rank")),

    // V17 scalar-quantized (SQ8) search: the 4×-compression / no-codebook
    // quantization tier (PQ's sibling) — per-vector affine byte codes,
    // ADC shortlist over reconstructions, shared exact re-rank; held to
    // the same exact-top-k oracle as v9 through the lossy codes
    "v17_sq_topk" -> ((s, d) =>
      Similarity.sqTopK(plantedTopKEmb(s, d), emb(s, d).where(col("vec_id") < 5), 10)
        .orderBy("q_id", "rank")),

    "v6_ivf_partial" -> ((s, d) => {
      val e = emb(s, d)
      Similarity.ivfTopK(plantedTopKEmb(s, d), e.where(col("vec_id") < 5), 10,
          nlist = 32, nprobe = 8)
        .orderBy("q_id", "rank")
    }),

    // Similarity: IVF with a LLOYD-REFINED codebook — deterministic decimal
    // k-means (fixed iterations, order-independent exact sums) over the
    // hash-sampled seed, frozen after refinement, then the same persisted-
    // index partial-probe search as v7. Same planted geometry ⇒ same
    // exact-cosine oracle: refinement must not lose plant recall
    // (OperatorsSpec additionally pins that it improves cell-occupancy
    // balance on the organic corpus — the reason the operator exists)
    "v10_ivf_lloyd" -> ((s, d) => {
      val corpus = plantedTopKEmb(s, d)
      val cents = Similarity.lloydRefine(corpus, Similarity.ivfCentroids(corpus, 32))
      val dir = scratch("v10-ivfidx")
      Similarity.ivfIndex(corpus, cents).transform(d0 => graft.util.Spread.byKey(d0, col("cell")))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(dir)
      Similarity.ivfTopKIndexed(s.read.parquet(dir), cents,
          emb(s, d).where(col("vec_id") < 5), 10, nprobe = 8)
        .orderBy("q_id", "rank")
    }),

    // Similarity: composed IVF-PQ — the billion-vector production
    // architecture (coarse cells prune WHERE to look via partition-pruned
    // directories, PQ codes compress WHAT is stored to m bytes/row; raw
    // vectors fetched for the shortlist only). The planted top-10 must
    // survive the cell cut AND the lossy quantization AND the shortlist
    // cut, so the same exact-cosine oracle gates the whole composition
    "v12_ivfpq_topk" -> ((s, d) => {
      val corpus = plantedTopKEmb(s, d)
      val cents = Similarity.ivfCentroids(corpus, 32)
      val books = Similarity.pqCodebooks(corpus, 8, 64)
      val dir = scratch("v12-ivfpqidx") // per-process fixed dir: no per-run leak
      Similarity.ivfPqIndex(corpus, cents, books).transform(d0 => graft.util.Spread.byKey(d0, col("cell")))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(dir)
      Similarity.ivfPqTopKIndexed(s.read.parquet(dir), cents, books, corpus,
          emb(s, d).where(col("vec_id") < 5), 10, nprobe = 8, shortlistSize = 150)
        .orderBy("q_id", "rank")
    }),

    // Similarity: CROSS-CORPUS linkage — top-1 nearest B-vector for every
    // one of 50 A-vectors where NEITHER side broadcasts (the corpus×corpus
    // alignment regime): both sides co-partition on the shared codebook's
    // cell key, candidates score cell-locally. A-rows are ε-perturbed
    // copies of B-rows, so each one's exact argmax is its source — the
    // oracle holds the cell-join recall AND the exact cosine to the full
    // exact answer
    "v15_cross_corpus" -> ((s, d) => {
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
    }),

    // Similarity: INDEX DELETION — tombstone the odd-j plants, then
    // PHYSICALLY compact (touched-cell dynamic-partition rewrite) and
    // search the compacted index. Each query's remaining exact top-5 is
    // its five even-j plants, so the oracle holds the whole delete →
    // compact → search lifecycle to the exact-cosine answer over the
    // remaining corpus (masked-read ≡ compacted ≡ rebuild is spec-pinned)
    "v14_index_delete" -> ((s, d) => {
      val corpus = plantedTopKEmb(s, d)
      val cents = Similarity.ivfCentroids(corpus, 32)
      val dir = scratch("v14-ivfidx") // per-process fixed dir: no per-run leak
      Similarity.ivfIndex(corpus, cents).transform(d0 => graft.util.Spread.byKey(d0, col("cell")))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(dir) // static overwrite also clears stale tombstones
      Similarity.ivfDelete(
        corpus.where(col("vec_id") >= 200000L &&
          pmod(col("vec_id") - 200000L, lit(2L)) === 1L).select("vec_id"), dir)
      Similarity.ivfCompact(s, dir)
      Similarity.ivfTopKIndexed(Similarity.ivfReadIndex(s, dir), cents,
          emb(s, d).where(col("vec_id") < 5), 5, nprobe = 8)
        .orderBy("q_id", "rank")
    }),

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
    "v13_filtered_ann" -> ((s, d) => {
      val corpus = plantedLabeledEmb(s, d)
      val cents = Similarity.ivfCentroids(corpus, 32)
      val dir = scratch("v13-ivfidx") // per-process fixed dir: no per-run leak
      Similarity.ivfIndex(corpus, cents).transform(d0 => graft.util.Spread.byKey(d0, col("cell")))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(dir)
      Similarity.ivfFilteredTopKIndexed(s.read.parquet(dir), cents,
          emb(s, d).where(col("vec_id") < 5), 5, nprobe = 8, col("label") === 0)
        .orderBy("q_id", "rank")
    }),

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
    "v16_filtered_ivfpq" -> ((s, d) => {
      val corpus = plantedLabeledEmb(s, d)
      val cents = Similarity.ivfCentroids(corpus, 32)
      val books = Similarity.pqCodebooks(corpus, 8, 64)
      val dir = scratch("v16-ivfpqidx") // per-process fixed dir: no per-run leak
      Similarity.ivfPqIndex(corpus, cents, books, carry = Seq("label"))
        .transform(d0 => graft.util.Spread.byKey(d0, col("cell"))).write.mode("overwrite").partitionBy("cell").parquet(dir)
      Similarity.ivfPqFilteredTopKIndexed(s.read.parquet(dir), cents, books,
          corpus, emb(s, d).where(col("vec_id") < 5), 5, nprobe = 8,
          shortlistSize = 150, col("label") === 0)
        .orderBy("q_id", "rank")
    }),

    // Similarity: MEASURED recall@10 of every approximate ANN path against
    // the exact scan, on ORGANIC geometry (no plants — the real
    // neighborhood structure the planted oracles deliberately sidestep,
    // where approximate paths legitimately drop neighbors). hits/total are
    // exact integers and every path is hash-deterministic, so the
    // measurement reproduces bit-for-bit; the oracle pins the sf0.01
    // values — the recall knobs (bands, nprobe, shortlist) carry measured
    // numbers instead of scaladoc claims
    "v11_ann_recall" -> ((s, d) => {
      import s.implicits._
      // SF fingerprint guard on BOTH sides: the pinned recalls describe
      // sf0.01's organic geometry only — at any other SF the oracle emits
      // a PIN_STALE marker, and the engine mirrors it (same row, fp in the
      // total column) instead of measuring against stale pins
      val fp = s.read.parquet(s"$d/embeddings.parquet")
        .agg((count(lit(1)) * 100000 + sum(col("label"))).cast("long"))
        .collect()(0).getLong(0)
      if (fp != 50002270L)
        Seq(("PIN_STALE_expected_sf0.01", -1L, fp, -1.0))
          .toDF("method", "hits", "total", "recall")
      else measuredRecall(s, d)
    }),


    // Similarity: embedding-cosine near-dup pairs over the planted corpus —
    // exact answer = the 20 planted pairs, so the SRP-LSH blocking is held
    // to an all-pairs DuckDB oracle (recall must be 100% at cos ≈ 0.995)
    "v3_embedding_neardup" -> ((s, d) =>
      Similarity.cosineNearDupPairs(plantedEmb(s, d)).orderBy("a_id", "b_id")),

    // Similarity × dedup composition: embedding near-dup pairs → connected-
    // component collapse — the image/audio dedup pipeline shape (detect
    // near-identical payloads by embedding, keep one canonical per cluster)
    "v5_embedding_dedup" -> ((s, d) => {
      val e = plantedEmb(s, d)
      Dedup.dupClusters(e.select(col("vec_id").as("doc_id")),
          Similarity.cosineNearDupPairs(e).select(col("a_id"), col("b_id")))
        .orderBy("doc_id")
    }),

    // Dedup × similarity: SemDeDup-style semantic near-dup pairs blocked
    // by the IVF CELL structure (multi-probe assignment closes single-
    // boundary straddles) instead of SRP bands — the blocking that rides
    // the already-persisted search index at scale. Same planted geometry
    // and exact-pair oracle as v3: the cell-blocked operator must find
    // every planted pair and nothing else
    "d14_semantic_dedup" -> ((s, d) => {
      val e = plantedEmb(s, d)
      Similarity.semanticNearDupPairs(e, Similarity.ivfCentroids(e, 32))
        .orderBy("a_id", "b_id")
    }),

    // Multimodal: binary payload → batched feature extraction (stub decode,
    // real plumbing: schema, mapPartitions batch shape, payload pruning).
    // The feature vector is emitted as a CSV string: the driver's hasher
    // can't sort/hash a list column, and the stub features are exact
    // integer counts, so the long-cast CSV is full-fidelity and hashable.
    "m1_media_features" -> ((s, d) =>
      Multimodal.features(s, Multimodal.mediaFromDocuments(docs(s, d)))
        .toDF()
        .select(col("media_id"), col("kind"), col("dim"),
          array_join(transform(col("features"),
            x => x.cast("long").cast("string")), ",").as("features_csv"))
        .orderBy("media_id")),

    // Multimodal: resize plumbing — payload-in/payload-out with metadata
    // passthrough (byte-level stub semantics are spec-pinned; the oracle
    // checks the shape/metadata contract)
    "m2_media_resize" -> ((s, d) =>
      Multimodal.resize(s, Multimodal.mediaFromDocuments(docs(s, d)), 8)
        .select(col("media_id"), col("n_bytes"), col("orig_width"), col("orig_height"))
        .orderBy("media_id")),

    // Multimodal: frame/sample stride subsampling plumbing
    "m3_frame_sample" -> ((s, d) =>
      Multimodal.sampleFrames(s, Multimodal.mediaFromDocuments(docs(s, d)), 3)
        .orderBy("media_id")),

    // Multimodal × dedup composition: perceptual-hash near-dup pairs over
    // the planted media corpus (Hamming ≤ 2 on the 29-bit gradient pHash,
    // pigeonhole-banded — never all-pairs) collapsed to canonical clusters
    // — v5's embedding-dedup shape with pHash in place of embeddings, i.e.
    // the media dedup pipeline when no embedding model is in the loop
    "m4_media_neardup" -> ((s, d) => {
      val m = plantedMedia(s, d)
      Dedup.dupClusters(m.select(col("media_id").as("doc_id")),
          Multimodal.mediaNearDupPairs(m).select(col("a_id"), col("b_id")))
        .select(col("doc_id").as("media_id"), col("cluster_rep"), col("is_canonical"))
        .orderBy("media_id")
    }),

    // M8 media dedup ROI: d18's budget report on the VISUAL near-dup
    // path — cluster-size histogram of the m4 pHash closure with the
    // payload bytes a keep-one-per-cluster purge reclaims; ids + octet
    // lengths only, payloads never shuffle
    "m8_media_roi" -> ((s, d) => {
      val m = plantedMedia(s, d)
      val sizes = m.select(col("media_id").as("doc_id"),
        length(col("payload")).cast("long").as("n_chars"))
      Dedup.dedupRoi(sizes,
        Dedup.dupClusters(sizes.select("doc_id"),
          Multimodal.mediaNearDupPairs(m).select(col("a_id"), col("b_id")))
          .select("doc_id", "cluster_rep"))
    }),

    // M7 media integrity gate: the structural pre-decode screen with
    // PLANTED corruption (e13 style) — negative width every 13th id,
    // NULL height every 17th (null counts corrupt), unroutable kind
    // every 19th; per-check counts independent, good + quarantined =
    // rows, payload bytes never leave the scan
    "m7_media_integrity" -> ((s, d) => {
      val media = Multimodal.mediaFromDocuments(docs(s, d))
        .withColumn("width",
          when(col("media_id") % 13 === 0, lit(-1)).otherwise(col("width")))
        .withColumn("height",
          when(col("media_id") % 17 === 0, lit(null).cast("int"))
            .otherwise(col("height")))
        .withColumn("kind",
          when(col("media_id") % 19 === 0, "blob").otherwise(col("kind")))
      Multimodal.integrityGate(media)
    }),

    // M5 takedown by VISUAL similarity — the notice names ONE media item,
    // the obligation covers every near-duplicate: the target's pHash
    // cluster (m4's banded pairs + CC closure) becomes the doomed id set,
    // purged from the delivered export through p17's touched-shards
    // machinery. Composition is the point: identification by content
    // similarity, erasure by the same bounded-rewrite discipline as ids.
    // M6 payload-entropy quality gate: nibble-distribution Shannon
    // entropy per media row — exact integer symbol counts off the hex
    // rendering, ln absorbed by round-4, flag from the ROUNDED value;
    // every 97th payload planted degenerate (repeated byte → entropy 0)
    "m6_media_entropy" -> ((s, d) => {
      val media = Multimodal.mediaFromDocuments(docs(s, d))
        .withColumn("payload",
          when(col("media_id") % 97 === 0,
            to_binary(lit("aa" * 16), lit("hex"))).otherwise(col("payload")))
      Multimodal.mediaEntropy(media)
    }),

    "m5_media_takedown" -> ((s, d) => {
      import s.implicits._
      val m = plantedMedia(s, d)
      val clusters = Dedup.dupClusters(m.select(col("media_id").as("doc_id")),
        Multimodal.mediaNearDupPairs(m).select(col("a_id"), col("b_id")))
      val target = m.where(col("media_id") % 20 === 7)
        .agg(min(col("media_id"))).head.getLong(0)
      val rep = clusters.where(col("doc_id") === target)
        .select(col("cluster_rep")).as[Long].head()
      val doomed = clusters.where(col("cluster_rep") === rep)
        .select(col("doc_id")).as[Long].collect().toSeq
      require(doomed.size >= 2,
        s"target $target must drag at least its planted twin, got ${doomed.size}")
      val out = scratch("m5-export") + "/corpus"
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(out))
      graft.operators.Pipeline.shardExport(
        m.select(col("media_id").as("doc_id"),
          lower(hex(col("payload"))).as("text")), out, shards = 8)
      val n = graft.operators.Pipeline.purgeShardExport(s, out, doomed, 8)
      require(n == doomed.size.toLong, s"expected ${doomed.size} purged, got $n")
      s.read.parquet(out)
        .select(col("doc_id").as("media_id"), md5(col("text")).as("payload_md5"))
        .orderBy("media_id")
    }),

    // Streaming: event-time windowed aggregation through the streaming
    // engine (AvailableNow backfill). Sums are exact decimals internally;
    // the contract surface casts to DOUBLE so Spark's DECIMAL(28,6) and
    // DuckDB's DECIMAL(38,6) reprs can't hash-diverge (same value, same
    // IEEE bits after the cast).
    "e1_stream_window_counts" -> ((s, d) =>
      EventStream.backfillWindowedCounts(s, s"$d/events.parquet")
        .select(col("window_start"), col("event_type"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("window_start", "event_type")),

    // Streaming over a JSONL event feed: the e1 aggregation ingesting
    // line-delimited JSON (the live-tail file-source shape) — must produce
    // bit-identical windows to the parquet path (same oracle as e1)
    "e6_stream_jsonl_counts" -> ((s, d) =>
      EventStream.backfillWindowedCountsJsonl(s, s"$d/events.parquet")
        .select(col("window_start"), col("event_type"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("window_start", "event_type")),

    // E10 incremental ingest across invocations: the landing-directory
    // pattern — half the events land, a checkpointed AvailableNow run
    // commits them; the other half arrive, a SECOND run with the same
    // checkpoint processes only the new files (per-run input counts
    // spec-pinned; the oracle gates the union). Exactly-once sink via the
    // parquet _spark_metadata log
    "e10_incremental_ingest" -> ((s, d) => {
      val root = scratch("e10-incr")
      // fresh landing/checkpoint/sink per call: the checkpoint IS the
      // cross-run state under test, so each harness invocation must
      // replay both arrivals from scratch to be deterministic
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(root))
      val ev = s.read.parquet(s"$d/events.parquet")
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
    }),

    // Streaming: EXACT distinct users per hour window (the DAU primitive)
    // as two chained stateful stages under one watermark — streaming dedup
    // on (window, user) then the windowed count (exact distinct aggregation
    // is unsupported in a streaming agg; this is the standard exact
    // decomposition). Append emission: the oracle keeps windows whose end
    // precedes the final watermark (max event time − 1 h), the e7/e9
    // cutoff-encoding discipline
    "e12_window_unique_users" -> ((s, d) =>
      EventStream.backfillWindowedUniqueUsers(s, s"$d/events.parquet")
        .orderBy("window_start")),

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
    "e25_stream_dedup_ingest" -> ((s, d) => {
      val all = plantedTruncDocs(s, d)
      val dir = scratch("e25-sigidx")
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
      graft.operators.Dedup.signatureIndex(all.where(col("doc_id") < 300000L))
        .write.mode("overwrite").parquet(s"$dir/batch=-1")
      val landing = scratch("e25-landing")
      all.where(col("doc_id") >= 300000L).repartition(4)
        .write.mode("overwrite").parquet(landing)
      EventStream.streamSignatureIngest(s, landing, dir)
      val idx = EventStream.readSignatureIndex(s, dir)
      graft.operators.Dedup.incrementalPairsFromIndex(
          idx.where(col("doc_id") < 300000L),
          idx.where(col("doc_id") >= 300000L), threshold = 0.6)
        .select("a_id", "b_id").orderBy("a_id", "b_id")
    }),

    // E26 SIGNATURE-LOG compaction: the e16/e21 lifecycle discipline on
    // the third log type — aged batch directories fold into the batch=-1
    // segment by PLAIN UNION (row concatenation, trivially order-free),
    // horizon marker advanced; the compacted index must answer the SAME
    // incremental dedup (row-identical by construction), same oracle
    "e26_sig_log_compaction" -> ((s, d) => {
      val all = plantedTruncDocs(s, d)
      val dir = scratch("e26-sigidx")
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
      graft.operators.Dedup.signatureIndex(all.where(col("doc_id") < 300000L))
        .write.mode("overwrite").parquet(s"$dir/batch=-1")
      val landing = scratch("e26-landing")
      all.where(col("doc_id") >= 300000L).repartition(4)
        .write.mode("overwrite").parquet(landing)
      EventStream.streamSignatureIngest(s, landing, dir)
      EventStream.compactSignatureIndexLog(s, dir, upToBatch = 2L)
      val idx = EventStream.readSignatureIndex(s, dir)
      graft.operators.Dedup.incrementalPairsFromIndex(
          idx.where(col("doc_id") < 300000L),
          idx.where(col("doc_id") >= 300000L), threshold = 0.6)
        .select("a_id", "b_id").orderBy("a_id", "b_id")
    }),

    "e11_stream_index_ingest" -> ((s, d) => {
      val all = plantedTopKEmb(s, d)
      val base = all.where(col("vec_id") < 200000L)
      val batch = all.where(col("vec_id") >= 200000L)
      val cents = Similarity.ivfCentroids(base, 32)
      val dir = scratch("e11-ivfidx")
      val landing = scratch("e11-landing")
      Similarity.ivfIndex(base, cents).transform(d0 => graft.util.Spread.byKey(d0, col("cell")))
        .write.mode("overwrite")
        .partitionBy("cell").parquet(dir) // static overwrite resets the scratch index
      batch.repartition(4).write.mode("overwrite").parquet(landing)
      EventStream.streamIngestToIndex(s, landing, cents, dir)
      Similarity.ivfTopKIndexed(s.read.parquet(dir), cents,
          emb(s, d).where(col("vec_id") < 5), 10, nprobe = 8)
        .orderBy("q_id", "rank")
    }),

    // X4 CSV round-trip: documents written as quoted CSV and read back with
    // an explicit schema — escaping fidelity proven against the original
    "x4_csv_roundtrip" -> ((s, d) => {
      val src = docs(s, d)
      val out = scratch("x4-csv") + "/docs" // overwrite-reuse: no per-call leak
      graft.sources.Csv.write(src, out)
      graft.sources.Csv.read(s, out, src.schema)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // X8 ORC round-trip: documents written as ORC (distributed columnar
    // sink) and read back with the explicit schema as a projection
    // contract — column fidelity proven against the original parquet
    "x8_orc_roundtrip" -> ((s, d) => {
      val src = docs(s, d)
      val out = scratch("x8-orc") + "/docs" // overwrite-reuse: no per-call leak
      graft.sources.Orc.write(src, out)
      graft.sources.Orc.read(s, out, src.schema)
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // X9 schema evolution: the documents table written as two GENERATIONS
    // — gen-0 predates the n_chars column, gen-1 carries it — read back as
    // one table via footer-merged schema (mergeSchema), gen-0 rows
    // null-filled: the add-a-column migration without rewriting history
    "x9_schema_evolution" -> ((s, d) => {
      val src = docs(s, d)
      val root = scratch("x9-evolve") // overwrite-reuse: no per-call leak
      src.where(col("doc_id") % 2 === 0).select("doc_id", "lang", "source")
        .write.mode("overwrite").parquet(s"$root/gen0")
      src.where(col("doc_id") % 2 === 1).select("doc_id", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$root/gen1")
      graft.sources.SchemaEvolution.readMerged(s, s"$root/gen0", s"$root/gen1")
        .orderBy("doc_id")
    }),

    // X11 range-sorted layout: events range-partitioned + sorted on ts so
    // every file/row group carries tight min/max footer stats; the
    // hour-range read prunes via PushedFilters (plan-pinned in
    // PlanAuditSpec) — the sub-directory pruning tier. Oracle = the same
    // range aggregate straight off the original table
    "x11_sorted_scan" -> ((s, d) => {
      val out = scratch("x11-sorted") + "/events" // overwrite-reuse: no per-call leak
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
      graft.sources.SortedLayout.write(ev, "ts", out, files = 16)
      graft.sources.SortedLayout.readRange(s, out, "ts",
          lit("2024-01-15 00:00:00").cast("timestamp"),
          lit("2024-01-15 06:00:00").cast("timestamp"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy("event_type")
    }),

    // X12 bloom-filtered layout: documents hash-distributed on doc_id with
    // a parquet bloom filter per row group — the point-lookup pruning tier
    // for keys the data is NOT sorted or partitioned by (min/max stats
    // span the whole domain by construction; the blooms reject the
    // non-matching row groups — spec-demonstrated from the footers, and
    // the pushed IN predicate is plan-pinned). Oracle = the same point
    // lookup straight off the original table
    "x12_bloom_lookup" -> ((s, d) => {
      val out = scratch("x12-bloom") + "/docs" // overwrite-reuse: no per-call leak
      graft.sources.BloomLayout.write(docs(s, d), "doc_id", out,
        files = 16, expectedNdv = 1000L)
      graft.sources.BloomLayout.lookup(s, out, "doc_id", Seq(7L, 123L, 321L))
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // X13 Z-order clustered layout: events Morton-clustered on
    // (ts, user_id) so BOTH dimensions carry tight row-group stats — the
    // multi-dimension pruning tier above x11's single sort column (a
    // user_id predicate prunes nothing on a ts-sorted layout,
    // spec-demonstrated from the footers). The 2-D box read pushes all
    // four bounds (plan-pinned). Oracle = the same box aggregate straight
    // off the original table
    "x13_zorder_scan" -> ((s, d) => {
      val out = scratch("x13-zorder") + "/events" // overwrite-reuse: no per-call leak
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
      graft.sources.ZOrderLayout.write(ev, "ts", "user_id", out, files = 16)
      graft.sources.ZOrderLayout.readBox(s, out,
          "ts", lit("2024-01-10 00:00:00").cast("timestamp"),
          lit("2024-01-16 00:00:00").cast("timestamp"),
          "user_id", lit(0L), lit(30L))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
        .orderBy("event_type")
    }),

    // X10 small-file compaction: the corpus deliberately shattered into 64
    // files, then rewritten to ~target-sized files (count measured from
    // input bytes). Row fidelity is the oracle gate; the file-count
    // contract (64 → ceil(bytes/target)) is spec-pinned
    "x10_compaction" -> ((s, d) => {
      val root = scratch("x10-compact") // overwrite-reuse: no per-call leak
      docs(s, d).repartition(64).write.mode("overwrite").parquet(s"$root/small")
      graft.sources.Compaction.compact(s, s"$root/small", s"$root/compacted", 1L << 20)
      s.read.parquet(s"$root/compacted")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // X5 bucketed storage layout: orders + lineitem written bucketBy(16)
    // on the order key, then joined exchange-free (the buckets ARE the
    // shuffle output — the one-time layout decision that deletes the
    // dominant repeated-join cost at 100 TB; plan pinned in JoinsSpec).
    // Correctness gate = the join itself against a plain SQL oracle.
    // Relational OLAP o1: TPC-H Q1-shape pricing summary — the canonical
    // scan-heavy aggregate over the LARGEST fact table: pushed shipdate
    // predicate, map-side partials into a 4-group exchange, exact decimal
    // money sums (double division only for the averages)
    "o1_pricing_summary" -> ((s, d) =>
      Relational.pricingSummary(lineitemWide(s, d))),

    // Relational OLAP o2: Q3-shape top-10 open-order revenue in a market
    // segment — the selective customer dim broadcasts, revenue ranks on
    // the exact decimal sum (deterministic top-k boundary), TakeOrdered
    "o2_top_orders" -> ((s, d) =>
      Relational.topOrderRevenue(s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        lineitemWide(s, d))),

    // Relational OLAP o3: Q5-shape revenue by customer nation × order year
    // — two broadcast dims + ONE co-keyed fact-fact shuffle on orderkey
    "o3_nation_revenue" -> ((s, d) =>
      Relational.nationRevenue(s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        lineitemWide(s, d),
        s.read.parquet(s"$d/nation.parquet"))),

    // Relational OLAP o6: the nation×year report with ROLLUP subtotals —
    // all three levels (nation-year, nation, grand total) from ONE Expand
    // + aggregate pass; null ordering pinned NULLS FIRST on both engines
    "o6_rollup_report" -> ((s, d) =>
      Relational.nationRevenueRollup(s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        lineitemWide(s, d),
        s.read.parquet(s"$d/nation.parquet"))),

    // Relational OLAP o33: EXPLICIT grouping sets — just the two
    // independent marginals ((nation), (year)), the shape neither
    // rollup (prefixes) nor cube (all subsets) expresses alone; Expand
    // factor exactly |sets| = 2, one aggregate pass for both axes
    "o33_grouping_sets" -> ((s, d) =>
      Relational.nationRevenueGroupingSets(s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        lineitemWide(s, d),
        s.read.parquet(s"$d/nation.parquet"))),

    // Relational OLAP o34: top-5 brands + the Other residual row so
    // shares close to 100% (a bare top-k silently drops the tail); the
    // fact collapses ONCE to the per-brand table, localCheckpoint'd for
    // its three readers — never re-scanned per branch
    "o34_top_brands_other" -> ((s, d) =>
      Relational.topBrandsWithOther(lineitemWide(s, d),
        s.read.parquet(s"$d/part.parquet"))),

    // Relational OLAP o35: brands-bought-together — support, directed
    // confidence, and LIFT in exact floor-div micros over per-order
    // distinct brand pairs (self-join co-partitioned on the order key —
    // bounded-quadratic per basket, never all-pairs across orders);
    // lift's triple product DECIMAL-widened, top-20 by lift
    "o35_basket_lift" -> ((s, d) =>
      Relational.brandBasketLift(lineitemWide(s, d),
        s.read.parquet(s"$d/part.parquet"))),

    // Relational OLAP o4: Q17-shape correlated aggregate — revenue of
    // line items below half their part's average quantity, declared as
    // the decorrelated per-part-aggregate + equi-join Catalyst rewrites
    // the subquery form into
    "o4_small_qty_revenue" -> ((s, d) =>
      Relational.smallQuantityRevenue(lineitemWide(s, d))),

    // Relational OLAP o5: ranked-window analytics — each customer's top-2
    // orders by total price; the rank predicate plans as a partial
    // WindowGroupLimit below the shuffle (plan-pinned)
    "o5_top_orders_per_cust" -> ((s, d) =>
      Relational.topOrdersPerCustomer(s.read.parquet(s"$d/orders.parquet"))
        .orderBy("o_custkey", "rank")),

    // Relational OLAP o7: EXISTS / NOT-EXISTS — 1996's orders bucketed by
    // whether any line item was returned; declared as the left_semi /
    // left_anti joins Catalyst decorrelates the subqueries into, probe
    // side ids-only (plan-pinned: no cartesian, no post-join distinct)
    "o7_returned_breakdown" -> ((s, d) =>
      Relational.returnedOrderBreakdown(s.read.parquet(s"$d/orders.parquet"),
        lineitemWide(s, d))),

    // Relational OLAP o10: FRAME-aggregate window analytics — running
    // revenue total + 3-order moving average per customer (the ranking
    // class is o5; frames are the other half). Both frames evaluate
    // incrementally (O(n) per key); sums accumulate in DECIMAL so every
    // frame-fold order agrees across engines
    "o10_running_revenue" -> ((s, d) =>
      Relational.customerRunningRevenue(s.read.parquet(s"$d/orders.parquet"))),

    // Relational OLAP o9: buyer-cohort SET OPERATIONS — native
    // intersect/except (distinct-aggregate + semi/anti join, the
    // bag-to-set semantics o7's EXISTS deliberately does not apply);
    // customers in both 1995 and 1996 vs churned after 1995
    "o9_buyer_cohorts" -> ((s, d) =>
      Relational.buyerCohorts(s.read.parquet(s"$d/orders.parquet"))),

    // X16 mergeable-sketch rollup: the corpus folds ONCE into per-day HLL
    // sketch rows (KB each), then ANY date range answers by union-merging
    // the selected days' sketches — never rescanning events. The entry
    // gates the sketch estimate against the EXACT distinct cross-engine
    // (within 5%; deterministic, so the gate is stable), alongside the
    // exact count both engines compute from raw rows
    "x16_sketch_range_distinct" -> ((s, d) => {
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
      val dir = scratch("x16-sketches") // per-process fixed dir: no per-run leak
      graft.operators.SketchRollup.dailyDistinctSketches(ev, "ts", "user_id")
        .write.mode("overwrite").parquet(dir)
      val est = graft.operators.SketchRollup
        .rangeDistinctEstimate(s.read.parquet(dir), "2024-01-05", "2024-01-15")
      val exact = ev.where(col("ts") >= lit("2024-01-05") && col("ts") < lit("2024-01-15"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.crossJoin(est)
        .select(col("exact_users"),
          (abs(col("est_distinct") / col("exact_users") - 1.0) <= 0.05).as("est_ok"))
    }),

    // X17 mergeable QUANTILE rollup — x16's discipline applied to KLL
    // doubles sketches: per-day sketch rows, any range answers by merging
    // the selected days. KLL's guarantee is on RANK and its compaction is
    // randomized, so the gate computes the EXACT rank of each estimated
    // quantile against the raw rows and asserts it within 3pp of target
    // (k=400 bound ≈0.9%); the exact interpolated percentiles (the t14
    // rank rule, value-identical cross-engine) ride alongside. The merged
    // sketch's n IS deterministic and must equal the exact row count
    "x17_sketch_quantile_rollup" -> ((s, d) => {
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
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
    }),

    // X18 theta-sketch retention — the set-operation tier HLL cannot do:
    // per-day theta sketches union-merge into two range sketches, then
    // intersection (retained users) and difference (churned) come from the
    // sketch rows alone. Gated against the EXACT intersection/difference
    // cross-engine (5%; at this corpus's per-range distincts the sketches
    // are below the 4096-entry estimation threshold, i.e. exact mode)
    "x18_theta_retention" -> ((s, d) => {
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
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
    }),

    // X19 mergeable HEAVY-HITTERS rollup — the fourth summary tier beside
    // x16 distincts / x17 quantiles / x18 set-ops: per-day exact top-m
    // candidate counts + a per-day residual ceiling (a deterministic
    // SpaceSaving-style summary with an error certificate), any range's
    // top-k answered from |days|·m candidate rows, corpus never rescanned.
    // m = 2048 ≥ the per-day key cardinality at every SF, so bounds
    // collapse to exact counts (every row `guaranteed`) and the oracle
    // value-checks the counts; the pruned tier's bound/certificate
    // semantics are spec-pinned in OperatorsSpec
    "x19_topk_rollup" -> ((s, d) => {
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
      val dir = scratch("x19-topk")
      graft.operators.SketchRollup.dailyTopKCandidates(ev, "ts", "user_id", m = 2048)
        .write.mode("overwrite").parquet(dir)
      graft.operators.SketchRollup
        .rangeTopK(s.read.parquet(dir), "2024-01-05", "2024-01-15", k = 10)
        .select(col("key").as("user_id"), col("cnt_lb").as("n_events"),
          col("cnt_ub"), col("guaranteed"))
        .orderBy(col("n_events").desc, col("user_id"))
    }),

    // C1 data-quality column profile: completeness / cardinality / bounds
    // for four columns of the documents table in ONE aggregate pass (exact
    // distincts — the Expand form; the Expand-free HLL twin is spec-pinned
    // within its rsd in QualitySpec, the t12 exact/sketch discipline)
    "c1_column_profile" -> ((s, d) =>
      graft.operators.Quality.columnProfile(docs(s, d),
        Seq("text", "lang", "source", "n_chars")).orderBy("column")),

    // C2 constraint suite: named assertions as violation counts, one scan.
    // quantity_le_30 and the (orderkey, linenumber) uniqueness check FAIL
    // on this corpus by construction — the gate proves violations are
    // counted, not just that green suites stay green
    "c2_constraint_checks" -> ((s, d) =>
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
        .orderBy("check")),

    // C3 referential integrity: FK orphan detection, ids-only anti-joins.
    // The lineitem→orders side is PLANTED with three orphan keys (both
    // engines fabricate the same -1/-2/-3 rows) so the detector's nonzero
    // path is exercised; orders→customer is organic and clean
    "c3_referential_integrity" -> ((s, d) => {
      val li = lineitemWide(s, d).select("l_orderkey")
        .unionByName(s.range(1, 4).select((-col("id")).as("l_orderkey")))
      graft.operators.Quality.refIntegrity(li, "l_orderkey",
          s.read.parquet(s"$d/orders.parquet"), "o_orderkey", "lineitem_orders")
        .unionByName(graft.operators.Quality.refIntegrity(
          s.read.parquet(s"$d/orders.parquet"), "o_custkey",
          s.read.parquet(s"$d/customer.parquet"), "c_custkey", "orders_customer"))
        .orderBy("fk")
    }),

    // C4 join-key skew profile: the top-5 heaviest events.user_id keys with
    // n_keys / avg / exact-p99 / skew ratio — the pre-join diagnosis that
    // decides whether j5's salting is needed. Combine-safe stats aggregate
    // over the persisted per-key table, broadcast back as one row — no
    // single-partition window (the per-key table is corpus-cardinality-
    // sized for exactly the keys worth diagnosing). Exact percentile is
    // the gate contract; the at-scale default is the sketch twin
    "c4_key_skew_profile" -> ((s, d) =>
      graft.operators.Quality.keySkewProfile(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")),
        "user_id", topK = 5, exactP99 = true)),

    // O11 TPC-H Q13-shape: the join-fan-out histogram — customers bucketed
    // by how many qualifying orders they placed, INCLUDING the zero bucket
    // only an outer join can produce; fact side pre-aggregated to one row
    // per buyer BELOW the join (plan-pinned)
    "o11_order_count_dist" -> ((s, d) =>
      Relational.orderCountDistribution(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"))),

    // J7 interval-overlap join: per-user-day activity spans × per-type-day
    // spans — every overlapping pair found via the binned join (bin = 6 h,
    // each pair emitted exactly once by its overlap's first bin, no
    // distinct stage), then rolled up per type-day. Closed intervals;
    // overlap seconds from the exact micros sum
    "j7_interval_overlap" -> ((s, d) => {
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
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
    }),

    // O12 TPC-H Q22-shape: scalar-subquery threshold + NOT EXISTS —
    // customers above the positive-balance average with no orders since
    // the cutoff, per nation. The average gate is the EXACT rearranged
    // form balance × n > Σ (decimal), never a divided average
    "o12_inactive_rich" -> ((s, d) =>
      Relational.inactiveRichCustomers(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"))),

    // C5 ingest-volume drift: per-day counts vs the trailing 7-day mean —
    // the feed-collapse/double-delivery monitor. Deviation is one exact
    // integer product divided once (no stddev, no divided average), so
    // both engines agree bit-for-bit. One mid-range day is PLANTED empty
    // (both engines drop the same calendar day) so the densified day axis
    // is exercised: the dead day must surface as cnt 0, dev −1, flagged
    "c5_volume_drift" -> ((s, d) =>
      graft.operators.Quality.volumeDrift(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
          .where(to_date(col("ts")) =!= "2024-01-10"), "ts")),

    // C10 SEASONAL volume baseline: per-day counts vs the trailing
    // same-WEEKDAY 4-week mean — the weekly-cycle-aware twin of c5 (a
    // flat trailing window flags every weekend of a cyclic feed). Same
    // exact-integer deviation discipline, window over 7 weekday
    // partitions of the densified metadata-scale spine; early days carry
    // partial windows (win_weeks 0..4) — "no prior" reports null, not 0
    "c10_seasonal_volume" -> ((s, d) =>
      graft.operators.Quality.seasonalVolume(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")), "ts")),

    // C14 CHANGEPOINT gate: two-sided integer CUSUM over the daily spine —
    // the persistent-small-shift detector the level (c5), cycle (c10) and
    // distribution (c6/c8/c9) gates all miss; textbook max(0, S+d−k)
    // recurrence in closed window form (running sum − running min), slack
    // 2% of the daily mean, threshold one mean day's accumulated excess
    "c14_cusum_shift" -> ((s, d) =>
      graft.operators.Quality.cusumShift(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")), "ts")),

    // C11 robust outlier gate: per-priority lower-median and MAD of the
    // order value in exact integer cents, outliers past 1.5·MAD by
    // cross-multiplied integer compare — the z-score replacement a single
    // corrupt row can't drag. Exact order-statistic audit beside the
    // KLL sketch twin (c1/x17)
    "c11_mad_outliers" -> ((s, d) =>
      graft.operators.Quality.madOutliers(
        s.read.parquet(s"$d/orders.parquet"), "o_orderpriority", "o_totalprice")),

    // C7 per-source DATA CARD: volume, exact mean quality, Gopher pass
    // rate (the t24 predicates — shared columns, cannot drift), exact-dup
    // rate (the d1 canonical rule) — one narrow map, one md5 shuffle,
    // a |sources|-row aggregate; every stat an exact integer
    "c7_data_card" -> ((s, d) =>
      graft.operators.Quality.dataCard(docs(s, d))),

    // C6 quality-DISTRIBUTION drift between two corpus snapshots: decile
    // histograms of the quality micros side by side (densified bucket
    // spine — the c5 rule), exact integer fractions and drift; v2 derived
    // from documents under the p10 snapshot rules (deletes, [rev2] text
    // edits that move quality mass, inserts)
    "c6_quality_drift" -> ((s, d) => {
      val base = docs(s, d)
      val v2 = base.where(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.where(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id")).as("text")))
      graft.operators.Quality.qualityDrift(base, v2)
    }),

    // C16 value-entropy profile: per-column Shannon entropy in exact
    // quantized-term micros — the balance statistic cardinality alone
    // can't see (uniform vs 99%-one-value profile identically in c2);
    // one melt-explode, one (column, value) aggregate
    "c16_value_entropy" -> ((s, d) =>
      graft.operators.Quality.valueEntropy(Corpus.metadata(s, d),
        Seq("category", "format", "orgUUID", "isPublic"))),

    // C17 CHI-SQUARED categorical drift: the composition test for columns
    // PSI (binned numeric) and KS (ordered) can't gate — category churn
    // between snapshots (id%13 rows re-categorized into cat0, id%17 rows
    // dropped) in exact cleared-denominator integer micros, per-category
    // terms localizing which value moved
    "c17_chi2_drift" -> ((s, d) => {
      val m = Corpus.metadata(s, d)
      val key = expr("CAST(id AS INT)")
      val v2 = m.where(key % 17 =!= 0)
        .withColumn("category",
          when(key % 13 === 0, lit("cat0")).otherwise(col("category")))
      graft.operators.Quality.chiSquareDrift(m, v2, "category")
    }),

    // E36 STREAMING chi-squared gate: c17's contingency counts are pure
    // per-key sums, so each snapshot side lands per-batch (category, d_n)
    // deltas via the e15/e27 sum-log discipline; the order-free re-sums
    // FULL-OUTER align into the contingency table and the SHARED
    // chiSquareFromCells makes stream ≡ batch — c17's oracle VERBATIM
    "e36_stream_chi2" -> ((s, d) => {
      val m = Corpus.metadata(s, d)
      val key = expr("CAST(id AS INT)")
      val v2 = m.where(key % 17 =!= 0)
        .withColumn("category",
          when(key % 13 === 0, lit("cat0")).otherwise(col("category")))
      val src1 = scratch("e36-src1"); val src2 = scratch("e36-src2")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src1)))
        m.repartition(4).write.parquet(src1)
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src2)))
        v2.repartition(4).write.parquet(src2)
      val del1 = scratch("e36-deltas1"); val del2 = scratch("e36-deltas2")
      EventStream.streamCategoryCountFold(s, src1, del1, "category")
      EventStream.streamCategoryCountFold(s, src2, del2, "category")
      graft.operators.Quality.chiSquareFromCells(
        EventStream.foldContingency(s, del1, del2))
    }),

    // C15 correlation drift: did the quality↔length RELATIONSHIP move
    // between snapshots — the axis the per-margin gates (c6/c8/c9) miss;
    // g4's exact DECIMAL moments per side, one round-6 ratio each,
    // drift over the rounded values; same p10-rule v2 derivation as c6
    "c15_correlation_drift" -> ((s, d) => {
      val base = docs(s, d)
      val v2 = base.where(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.where(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id")).as("text")))
      graft.operators.Quality.correlationDrift(base, v2)
    }),

    // C8 POPULATION STABILITY INDEX — c6's bucket table folded to the
    // industry single-number drift alarm (0.1/0.25 published thresholds),
    // Laplace-smoothed so vacated buckets penalize finitely; same
    // snapshots as c6, level derived from the rounded value
    "c8_psi_drift" -> ((s, d) => {
      val base = docs(s, d)
      val v2 = base.where(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.where(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id")).as("text")))
      graft.operators.Quality.psiDrift(base, v2)
    }),

    // C9 two-sample KOLMOGOROV–SMIRNOV — the binning-free CDF-gap drift
    // stat beside c8's PSI: view-event values, first half-month vs the
    // rest; the max gap runs on EXACT integer cross-count numerators
    // (distributed bucketed prefix sum, no global sort), one floor
    // division to micros at the end
    "c9_ks_drift" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
        .where(col("event_type") === "view")
      val split = lit("2024-01-15").cast("timestamp")
      graft.operators.Quality.ksDrift(
        ev.where(col("ts") < split), ev.where(col("ts") >= split))
    }),

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
    "e13_validated_ingest" -> ((s, d) => {
      val src = scratch("e13-src")
      val out = scratch("e13-out")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src))) {
        s.read.parquet(s"$d/events.parquet")
          .withColumn("value",
            when(col("event_id") % 101 === 0, lit(null))
              .when(col("event_id") % 97 === 0, -col("value") - 1)
              .otherwise(col("value")))
          .write.parquet(src)
      }
      val (nGood, nQuar) = EventStream.validatedIngest(s, src, out,
        bad = col("value") < 0)
      val goodSum = s.read.parquet(s"$out/good")
        .agg(round(sum(col("value").cast("decimal(18,6)")), 4)
          .cast("double").as("sum_good_value"))
      goodSum.select(lit(nGood).as("n_good"), lit(nQuar).as("n_quarantined"),
        col("sum_good_value"))
    }),

    // O13 TPC-H Q7-shape trade flows: cross-border revenue by supplier
    // region/nation × customer nation — nation joins TWICE under
    // different roles (both broadcast), region is the snowflake hop,
    // shipdate window pushed to the fact scan; exercises the supplier
    // and region tables
    "o13_trade_flows" -> ((s, d) =>
      Relational.tradeFlows(
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"),
        s.read.parquet(s"$d/nation.parquet"),
        s.read.parquet(s"$d/region.parquet"))),

    // J8 interpolated as-of align: each purchase gets the user's view
    // VALUE linearly interpolated at the purchase timestamp between the
    // bracketing views (constant extrapolation at the ends, null when the
    // user has no views) — the continuous-signal feature-generation
    // primitive, one union-tag sort, no join operator
    "j8_interpolated_align" -> ((s, d) => {
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
      val left = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val right = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      Joins.interpolateAsOf(left, right, Seq("user_id"), "ts", "ts",
          rightTie = "event_id", valueCol = "value")
        .select(col("event_id"), col("user_id"),
          round(col("value_interp"), 6).as("value_interp"))
        .orderBy("event_id")
    }),

    // J9 ordered funnel: view → click → purchase conversion with a 3-day
    // window anchored at the user's first view — one user-keyed sort
    // serves the whole qualified-step chain; exact per-step user counts
    // + step-over-step fractions, value-based (never row-order)
    // qualification so both engines agree on every boundary event
    "j9_funnel" -> ((s, d) =>
      graft.operators.EventAnalytics.funnel(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        horizonMicros = 3L * 86400 * 1000000)),

    // J12 funnel conversion-latency percentiles: per step transition, the
    // p50/p90 of converting users' time-to-convert — riding j9's single
    // user sort; EXACT interpolated percentiles here (the value-checked
    // gate form), approx_percentile the at-scale default
    "j12_funnel_latency" -> ((s, d) =>
      graft.operators.EventAnalytics.funnelLatency(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")),
        "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        horizonMicros = 3L * 86400 * 1000000, exactPercentiles = true)),

    // J13 U-shaped multi-touch attribution: every purchase splits credit
    // across its 1-hour window's clicks — first/last 40%, middle 20%
    // spread — in EXACT integer micros summing to exactly 1e6 per
    // conversion (interior floor division, remainder on the LAST touch:
    // a documented audit rule, never a float split)
    "j13_multitouch" -> ((s, d) =>
      graft.operators.EventAnalytics.multiTouchAttribution(
          s.read.parquet(s"$d/events.parquet"),
          lookbackMicros = 3600000000L)
        .orderBy("purchase_id", "pos")),

    // J14 item-item co-occurrence neighbors ("people also viewed") —
    // item-based CF over the view events' implicit feedback: binary-
    // incidence cosine from exact set counts, user-keyed self-join with
    // the bot-tail cap, top-3 per item with neighbor ties
    "j14_item_neighbors" -> ((s, d) =>
      graft.operators.EventAnalytics.itemNeighbors(
          s.read.parquet(s"$d/events.parquet"),
          regexp_extract(col("props"), "(\\d+)", 1))
        .orderBy("item", "rank")),

    // G1 PageRank over the co-view item graph — the Pregel shape in
    // DataFrames: edges partitioned once and persisted, each superstep a
    // co-partitioned join + aggregate; ranks in EXACT integer e6 units
    // (floor-division damping/teleport), so the iterative fixpoint is
    // deterministic and the oracle's chained-CTE replay matches exactly
    "g1_pagerank" -> ((s, d) =>
      graft.operators.Graph.pageRank(
        graft.operators.Graph.coviewEdges(
          s.read.parquet(s"$d/events.parquet"),
          regexp_extract(col("props"), "(\\d+)", 1)))),

    // G2 triangle counts + clustering coefficient over the co-view graph —
    // degree-ordered orientation (each triangle found once at its lowest-
    // ordered apex), co-partitioned wedge join + LEFT SEMI close; cc in
    // exact floor-divided micros
    "g2_triangle_stats" -> ((s, d) =>
      graft.operators.Graph.triangleStats(
        graft.operators.Graph.coviewEdges(
          s.read.parquet(s"$d/events.parquet"),
          regexp_extract(col("props"), "(\\d+)", 1)))),

    // G12 EDGE EMBEDDEDNESS: per-edge triangle support + neighborhood
    // Jaccard over the co-view graph — Granovetter tie strength, the
    // edge dual of g2's node view; support-0 edges flagged as LOCAL
    // BRIDGES (community-boundary links); support from the SAME degree-
    // ordered triangle enumeration (each triangle credits its 3 edges),
    // never a per-edge neighborhood intersection
    "g12_edge_embeddedness" -> ((s, d) =>
      graft.operators.Graph.edgeEmbeddedness(
        graft.operators.Graph.coviewEdges(
          s.read.parquet(s"$d/events.parquet"),
          regexp_extract(col("props"), "(\\d+)", 1)))),

    // G5 personalized PageRank from seed items {1,2,3}: proximity to the
    // seed set (teleport returns to seeds) — the graph-walk recommender
    // primitive; sparse integer rank vector, unreached items surface at 0
    "g5_personalized_pr" -> ((s, d) =>
      graft.operators.Graph.personalizedPageRank(
        graft.operators.Graph.coviewEdges(
          s.read.parquet(s"$d/events.parquet"),
          regexp_extract(col("props"), "(\\d+)", 1)),
        seeds = Seq(1, 2, 3))),

    // G4 degree assortativity: Newman's r over the co-view graph — the
    // one-number hub-wiring diagnostic; exact DECIMAL(38,0) moments, one
    // round-6 float ratio, explicit null on zero variance
    "g4_assortativity" -> ((s, d) =>
      graft.operators.Graph.degreeAssortativity(
        graft.operators.Graph.coviewEdges(
          s.read.parquet(s"$d/events.parquet"),
          regexp_extract(col("props"), "(\\d+)", 1)))),

    // G3 link prediction: common-neighbor counts for NON-adjacent item
    // pairs (triadic closure candidates) — capped-apex wedge counting,
    // anti-join against the edge table, top-20 TakeOrdered
    "g3_link_prediction" -> ((s, d) =>
      graft.operators.Graph.linkPrediction(
        graft.operators.Graph.coviewEdges(
          s.read.parquet(s"$d/events.parquet"),
          regexp_extract(col("props"), "(\\d+)", 1)))),

    // G7 WEIGHTED PageRank: rank mass distributed proportionally to
    // co-view SUPPORT — a neighbor backed by 80 shared viewers pulls 80×
    // a single-viewer fluke's mass; same exact-integer Pregel shape as
    // g1, chained-CTE oracle, weighted order diverges from degree order
    "g7_weighted_pagerank" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      val ui = ev.where(col("event_type") === "view")
        .select(col("user_id"),
          regexp_extract(col("props"), "(\\d+)", 1).cast("int").as("item"))
        .where(col("item").isNotNull)
        .distinct()
      graft.operators.Graph.pageRankWeighted(
        graft.operators.Graph.coviewEdgesWeightedFromPairs(ui)
          .withColumnRenamed("support", "w"))
    }),

    // G8 BFS layers: exact hop distance from seed items {0, 9} over the
    // support-≥6 co-view graph — frontier BFS on the once-partitioned
    // edge cache, first-discovery-is-min-distance, depths 0..5 at sf0.01;
    // the hard-hop complement of g5's soft proximity
    "g8_bfs_layers" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      val ui = ev.where(col("event_type") === "view")
        .select(col("user_id"),
          regexp_extract(col("props"), "(\\d+)", 1).cast("int").as("item"))
        .where(col("item").isNotNull)
        .distinct()
      graft.operators.Graph.bfsLayers(
        graft.operators.Graph.coviewEdgesWeightedFromPairs(ui)
          .where(col("support") >= 6).select("src", "dst"),
        seeds = Seq(0, 9))
    }),

    // G9 SSSP: exact min-plus cheapest-path distance from seeds {0, 9}
    // over the support-≥6 co-view graph with cost = 1e6 DIV support
    // (strong ties are SHORT — the co-view proximity metric); Bellman-Ford
    // supersteps to fixpoint on the once-partitioned edge cache, exact
    // longs end to end, the weighted complement of g8's hop count
    "g9_sssp" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      val ui = ev.where(col("event_type") === "view")
        .select(col("user_id"),
          regexp_extract(col("props"), "(\\d+)", 1).cast("int").as("item"))
        .where(col("item").isNotNull)
        .distinct()
      graft.operators.Graph.sssp(
        graft.operators.Graph.coviewEdgesWeightedFromPairs(ui)
          .where(col("support") >= 6)
          .select(col("src"), col("dst"),
            expr("CAST(1000000 DIV support AS BIGINT)").as("w")),
        seeds = Seq(0, 9))
    }),

    // G10 HITS hubs/authorities on the DIRECTED user→item bipartite view
    // graph (the co-view projection is symmetric — hub ≡ authority there,
    // so the bipartite table is the honest input): 3 power iterations in
    // exact max-normalized integer micros, top-20 authorities
    "g10_hits" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      val ui = ev.where(col("event_type") === "view")
        .select(col("user_id"),
          regexp_extract(col("props"), "(\\d+)", 1).cast("int").as("item"))
        .where(col("item").isNotNull)
      graft.operators.Graph.hits(ui)
    }),

    // G11 K-CORE membership (k = 4) over the support-≥6 co-view graph:
    // iterative peel to fixpoint (drop within-set degree < k, recompute,
    // repeat — a 6-round cascade at sf0.01, 74 → 24 nodes), g6 refusal
    // rule at maxIters; output members with within-core degree
    "g11_kcore" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      val ui = ev.where(col("event_type") === "view")
        .select(col("user_id"),
          regexp_extract(col("props"), "(\\d+)", 1).cast("int").as("item"))
        .where(col("item").isNotNull)
        .distinct()
      graft.operators.Graph.kCore(
        graft.operators.Graph.coviewEdgesWeightedFromPairs(ui)
          .where(col("support") >= 6).select("src", "dst"), k = 4)
    }),

    // G6 communities: deterministic min-label propagation to FIXPOINT over
    // the SUPPORT-THRESHOLDED co-view graph (≥8 shared viewers — the weak
    // single-viewer edges that glue any real co-view graph into one blob
    // are dropped first, the g4 screen's prescription); exact integer
    // labels, Pregel-shaped supersteps on the once-partitioned edge cache
    "g6_communities" -> ((s, d) => {
      val ev = s.read.parquet(s"$d/events.parquet")
      val ui = ev.where(col("event_type") === "view")
        .select(col("user_id"),
          regexp_extract(col("props"), "(\\d+)", 1).cast("int").as("item"))
        .where(col("item").isNotNull)
        .distinct()
      graft.operators.Graph.labelCommunities(
        graft.operators.Graph.coviewEdgesWeightedFromPairs(ui)
          .where(col("support") >= 8).select("src", "dst"))
    }),

    // J17 A/B experiment readout: Knuth-hash variant split, exact per-
    // variant user/converter counts, exact-micros rates, pooled two-
    // proportion z round-4 with the significance flag off the ROUNDED
    // value — one user aggregate + a 2-row tally, no joins
    "j17_ab_readout" -> ((s, d) =>
      graft.operators.EventAnalytics.abReadout(
        s.read.parquet(s"$d/events.parquet"))),

    // J16 top converting paths: gap-sessionized ordered event-type
    // sequences (30-min boundary, 12-step prefix cap), top-20 by session
    // count with path ties — one user shuffle + sort serves the session
    // split AND the ordered collect; the journey report one-hop j15 can't
    "j16_top_paths" -> ((s, d) =>
      graft.operators.EventAnalytics.topPaths(
        s.read.parquet(s"$d/events.parquet"))),

    // J19 bounce rate by session entry action: 1-event sessions over
    // sessions starting with each type — the j16 gap discipline, one
    // user sort, exact floor-div micros
    "j19_bounce_rate" -> ((s, d) =>
      graft.operators.EventAnalytics.bounceRate(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")))),

    // J18 dwell-time profile: per-event-type time-to-next-action within
    // the 30-min session boundary — exact lower median/p90/max micros by
    // the c11 order-statistic rank rule; session-final events drop
    "j18_dwell_times" -> ((s, d) =>
      graft.operators.EventAnalytics.dwellTimes(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")))),

    // J22 exit actions: the LAST event of every non-converter (first
    // view, no purchase inside the 24 h anchored window — unbounded
    // windows are degenerate on a long corpus), histogram with floor-div
    // micros shares — the abandonment-diagnosis report
    "j22_exit_actions" -> ((s, d) =>
      graft.operators.EventAnalytics.exitActions(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")))),

    // J23 stickiness: DAU over trailing-28-day MAU per spine day — the
    // habit metric; events collapse once to distinct (day, user) pairs,
    // the broadcast spine range-join bounds the window expansion, zero
    // days stay visible, empty-window days null (never 0)
    "j23_stickiness" -> ((s, d) =>
      graft.operators.EventAnalytics.stickiness(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")))),

    // E37 STREAMING stickiness: the (day, user) substrate as a SET log —
    // per-batch distinct pairs land idempotently (union is order-free and
    // duplicate-immune, the e31 argument), the distinct-union rebuilds
    // the exact pair table, and the SHARED stickinessFromPairs report
    // makes stream ≡ batch — j23's oracle VERBATIM
    "e37_stream_stickiness" -> ((s, d) => {
      val src = scratch("e37-src")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src)))
        s.read.parquet(s"$d/events.parquet").repartition(4).write.parquet(src)
      val deltas = scratch("e37-deltas")
      EventStream.streamDayUserFold(s, src, deltas)
      graft.operators.EventAnalytics.stickinessFromPairs(
        EventStream.readDeltaLog(s, deltas).select("day", "user_id").distinct())
    }),

    // J21 hourly session concurrency: sessions LIVE per clock hour —
    // the capacity load curve; shared gap chain, bin-exploded interval
    // counting (no global running-sum window), one per-hour aggregate
    "j21_concurrency" -> ((s, d) =>
      graft.operators.EventAnalytics.sessionConcurrency(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")))),

    // J20 time-to-convert: first view → first at-or-after purchase lag
    // per acquisition-week cohort, exact lower median/p90 micros by the
    // c11 rank rule — conversion velocity the j12 cohort way
    "j20_time_to_convert" -> ((s, d) =>
      graft.operators.EventAnalytics.timeToConvert(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")))),

    // J15 first-order Markov transition matrix: adjacent event-type pairs
    // per user timeline (ts, event_id order), exact integer-micros row
    // probabilities via floor division — one user shuffle + sort, then a
    // |types|²-row aggregate with a broadcast totals join
    "j15_markov_transitions" -> ((s, d) =>
      graft.operators.EventAnalytics.transitionMatrix(
        s.read.parquet(s"$d/events.parquet"))),

    // J11 time-weighted average: per-user TWAP of the view-value signal
    // under step-function hold — exact decimal v·Δt products summed
    // order-free, one double division at the end; single-observation
    // users report null (no span)
    "j11_twap" -> ((s, d) => {
      val views = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
        .where(col("event_type") === "view")
      Joins.timeWeightedAvg(views, Seq("user_id"), "ts", "value",
          tieCol = "event_id")
        .orderBy("user_id")
    }),

    // J10 exact retention-cohort matrix: first-seen-week cohorts × week
    // offsets with exact distinct actives and cohort fractions — the
    // exact audited grid beside x18's sketch retention; two user-keyed
    // shuffles, everything else metadata-scale
    "j10_retention_cohorts" -> ((s, d) =>
      graft.operators.EventAnalytics.retentionCohorts(
        EventStream.withEventTime(s.read.parquet(s"$d/events.parquet")),
        "user_id", "ts", maxOffsetWeeks = 4)),

    // P11 document chunking: 64-token windows, 16-token overlap — the
    // RAG/long-context window primitive; one codegen'd pass, no shuffle,
    // chunk identity by md5 so the gate stays metadata-width
    "p11_chunk_docs" -> ((s, d) =>
      graft.operators.Pipeline.chunkDocs(docs(s, d), chunkSize = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")),

    // E14 streaming sketch-rollup maintenance: the x16 fold kept current
    // by the stream — each micro-batch lands per-day HLL partials in its
    // own batch directory (idempotent replay), the rollup is a log that
    // range queries union-merge on read. The staged source is the corpus
    // DOUBLED across four files (multi-batch path + duplicate delivery:
    // HLL union must not care), gated against the EXACT distinct of the
    // original events
    "e14_stream_sketch_fold" -> ((s, d) => {
      val src = scratch("e14-src")
      val rollup = scratch("e14-rollup")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src))) {
        val ev0 = s.read.parquet(s"$d/events.parquet")
        ev0.unionByName(ev0).repartition(4).write.parquet(src)
      }
      EventStream.streamSketchFold(s, src, rollup)
      val est = graft.operators.SketchRollup.rangeDistinctEstimate(
        s.read.parquet(s"$rollup/days"), "2024-01-05", "2024-01-15")
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
      val exact = ev.where(col("ts") >= lit("2024-01-05") && col("ts") < lit("2024-01-15"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      exact.crossJoin(est)
        .select(col("exact_users"),
          (abs(col("est_distinct") / col("exact_users") - 1.0) <= 0.05).as("est_ok"))
    }),

    // E20 STREAMING heavy-hitters maintenance — the x19 rollup kept
    // current by the ingest stream (the e14/e15 symmetry for the fourth
    // summary tier): per-batch exact (day, key) count deltas land in
    // idempotent batch directories; the read side re-sums the log in any
    // order — batches OVERLAP days here (repartitioned source), so the
    // fold is genuinely exercised — and prunes once over complete
    // counts; at gate m the range top-k equals the exact oracle (same
    // query as x19)
    "e20_stream_topk_fold" -> ((s, d) => {
      val src = scratch("e20-src")
      val log = scratch("e20-log")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src))) {
        s.read.parquet(s"$d/events.parquet").repartition(4).write.parquet(src)
      }
      EventStream.streamTopKCountFold(s, src, log)
      graft.operators.SketchRollup.rangeTopK(
          graft.operators.SketchRollup.candidatesFromCountLog(
            EventStream.readDeltaLog(s, log), m = 2048),
          "2024-01-05", "2024-01-15", k = 10)
        .select(col("key").as("user_id"), col("cnt_lb").as("n_events"),
          col("cnt_ub"), col("guaranteed"))
        .orderBy(col("n_events").desc, col("user_id"))
    }),

    // E21 count-log compaction — the e16 discipline on the e20 log: fold
    // aged batch directories (+ the existing compact segment) into ONE
    // batch=-1 segment by the plain re-sum, sweep them, advance the
    // horizon so stale replays are ignored; the compacted fold must equal
    // the same exact top-k the uncompacted log (e20) and the raw corpus
    // (x19) produce
    "e21_topk_log_compaction" -> ((s, d) => {
      val src = scratch("e21-src")
      val log = scratch("e21-log")
      if (!java.nio.file.Files.exists(java.nio.file.Paths.get(src))) {
        s.read.parquet(s"$d/events.parquet").repartition(4).write.parquet(src)
      }
      EventStream.streamTopKCountFold(s, src, log)
      EventStream.compactTopKCountLog(s, log, upToBatch = 2L)
      graft.operators.SketchRollup.rangeTopK(
          graft.operators.SketchRollup.candidatesFromCountLog(
            EventStream.readDeltaLog(s, log), m = 2048),
          "2024-01-05", "2024-01-15", k = 10)
        .select(col("key").as("user_id"), col("cnt_lb").as("n_events"),
          col("cnt_ub"), col("guaranteed"))
        .orderBy(col("n_events").desc, col("user_id"))
    }),

    // P10 corpus snapshot diff: v2 derived from the documents table by
    // shared deterministic rules (drop %17, revise %13, add %19 under new
    // ids), then the diff classifies every id via scan-side md5 — the join
    // carries (id, hash, length) rows, never text. Output: four class
    // rows with doc/char totals
    "p10_snapshot_diff" -> ((s, d) => {
      val base = docs(s, d)
      val v2 = base.where(col("doc_id") % 17 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
            .otherwise(col("text")).as("text"))
        .unionByName(base.where(col("doc_id") % 19 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"),
            concat(lit("new doc "), col("doc_id")).as("text")))
      graft.operators.Pipeline.snapshotDiff(
          base.select("doc_id", "text"), v2, "doc_id", Seq("text"))
        .orderBy("change")
    }),

    // O14 TPC-H Q21-shape: the self-join decorrelation — EXISTS and
    // NOT EXISTS against the SAME lineitem fact, collapsed to one
    // per-order (n_supp, n_fail) aggregate whose qualifying ids
    // semi-join the failed candidates; the fact is never row-level
    // self-joined, no distinct stage
    "o14_waiting_suppliers" -> ((s, d) =>
      Relational.waitingSuppliers(
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"))),

    // O15 TPC-H Q18-shape: the HAVING-aggregate semi-join — per-order
    // quantity totals gated at 250 BELOW every join, then broadcast
    // through orders and customer; the fact shuffles once
    "o15_large_qty_orders" -> ((s, d) =>
      Relational.largeQuantityOrders(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"))),

    // O16 PIVOT report: nation × year revenue as a wide table with
    // EXPLICIT pivot values — no hidden collect-distinct job, one
    // group-by pass; empty combinations stay null
    "o16_pivot_report" -> ((s, d) =>
      Relational.nationYearPivot(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"),
        s.read.parquet(s"$d/nation.parquet"))),

    // O17 UNPIVOT roundtrip: the wide o16 report melted back to long rows
    // — null holes fold away, and the result is gated against an
    // INDEPENDENT long-form recompute (pivot and melt are true inverses)
    "o17_unpivot_report" -> ((s, d) =>
      Relational.meltNationYearPivot(Relational.nationYearPivot(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"),
        s.read.parquet(s"$d/nation.parquet")))),

    // O18 TPC-H Q2-shape: the correlated scalar MIN subquery — per-part
    // minimum price among a region's suppliers, decorrelated to one pair
    // aggregate + a per-part min window (group size bounded by suppliers
    // per part); the compare path is a MIN, exact on every engine
    "o18_min_cost_suppliers" -> ((s, d) =>
      Relational.minCostSuppliers(
        s.read.parquet(s"$d/part.parquet"),
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/nation.parquet"),
        s.read.parquet(s"$d/region.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"))),

    // O19 TPC-H Q11-shape: group HAVING against a GLOBAL scalar — parts
    // whose revenue beats 1.5x the average part's, compared by decimal
    // integer-multiply (no division) against a 1-row broadcast stats join
    "o19_part_concentration" -> ((s, d) =>
      Relational.partValueConcentration(
        lineitemWide(s, d))),

    // O20 TPC-H Q15-shape: view + global max with ties — quarter revenue
    // per supplier, winners where the exact DECIMAL sum equals the max
    "o20_top_supplier" -> ((s, d) =>
      Relational.topRevenueSupplier(
        s.read.parquet(s"$d/supplier.parquet"),
        lineitemWide(s, d))),

    // O21 TPC-H Q16-shape: distinct-supplier counts per part attribute
    // with an ids-only exclusion anti join below the count
    "o21_supplier_diversity" -> ((s, d) =>
      Relational.supplierDiversity(
        s.read.parquet(s"$d/part.parquet"),
        lineitemWide(s, d))),

    // O22 TPC-H Q20-shape: the nested aggregate-threshold semi chain —
    // suppliers moving >45 units of a name-prefixed part in 1997
    "o22_volume_suppliers" -> ((s, d) =>
      Relational.volumeSuppliers(
        s.read.parquet(s"$d/part.parquet"),
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/nation.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"))),

    // Relational OLAP o23 (TPC-H Q19 shape): revenue under an OR of
    // conjunct blocks spanning BOTH join sides — each side's pushable
    // superset is factored out of the disjunction and reaches its parquet
    // scan as an Or(And(...)) PushedFilters tree (plan-pinned), with the
    // exact pairing re-applied as a post-join residual
    "o23_promo_revenue" -> ((s, d) =>
      Relational.promoRevenue(
        s.read.parquet(s"$d/part.parquet"),
        lineitemWide(s, d),
        Seq(Relational.PromoBlock("Brand#12", 5, 1, 11),
          Relational.PromoBlock("Brand#23", 10, 10, 20),
          Relational.PromoBlock("Brand#3", 15, 20, 30)))),

    // Relational OLAP o24 (TPC-H Q14 shape): promo revenue share — one
    // conditional aggregate computes slice and total in a single scan;
    // exact DECIMAL sums, the share is the one double division
    "o24_promo_share" -> ((s, d) =>
      Relational.promoRevenueShare(
        s.read.parquet(s"$d/part.parquet"),
        lineitemWide(s, d))),

    // Relational OLAP o25 (TPC-H Q12 shape): per-returnflag line counts
    // bucketed by order priority — conditional counts across the one
    // co-keyed fact-fact shuffle; exact longs
    "o25_priority_lines" -> ((s, d) =>
      Relational.priorityLineBuckets(
        s.read.parquet(s"$d/orders.parquet"),
        lineitemWide(s, d))),

    // Relational OLAP o26 (TPC-H Q8 shape): a supplier nation's market
    // share per order year inside one region × part-type market — the
    // widest join graph in the suite; every dimension broadcasts, so
    // lineitem ⋈ orders on the co-keyed orderkey is the single wide
    // shuffle, the share one conditional-aggregate double division
    "o26_market_share" -> ((s, d) =>
      Relational.marketShare(
        s.read.parquet(s"$d/region.parquet"),
        s.read.parquet(s"$d/nation.parquet"),
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"),
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/part.parquet"))),

    // Relational OLAP o27 (TPC-H Q9 shape): profit by supplier nation ×
    // order year over a substring part slice — the contains-predicate
    // dimension fan across both biggest facts (supply cost proxied from
    // p_retailprice: the synthetic schema has no partsupp; documented)
    "o27_nation_profit" -> ((s, d) =>
      Relational.nationProfit(
        s.read.parquet(s"$d/nation.parquet"),
        s.read.parquet(s"$d/supplier.parquet"),
        s.read.parquet(s"$d/part.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"))),

    // O31 customer revenue concentration: the Pareto decile report —
    // global revenue-desc rank via the c9/t26 distributed bucketed
    // prefix sum (no single-partition sort over the customer space),
    // exact cents, DECIMAL-widened share/cumulative micros
    "o31_revenue_concentration" -> ((s, d) =>
      Relational.revenueConcentration(
        s.read.parquet(s"$d/orders.parquet"))),

    // O32 RFM segmentation: recency/frequency/monetary quintile scores by
    // exact population rank (three bucketedRank passes — the o31 shape
    // ×3, never a single-partition sort), whole-day recency vs the corpus
    // high-water mark (the c13 no-wall-clock rule), segment counts +
    // exact revenue cents
    "o32_rfm_segments" -> ((s, d) =>
      Relational.rfmSegments(s.read.parquet(s"$d/orders.parquet"))),

    // O30 year-over-year revenue growth per nation — LAG over the
    // |nations|×|years| metadata grid after one map-side-combining
    // cents aggregate over broadcast-joined dims; growth in exact
    // truncated-division micros, first year null (not 0)
    "o30_yoy_growth" -> ((s, d) =>
      Relational.yoyGrowth(
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/nation.parquet"))),

    // Relational OLAP o28 (TPC-H Q6 shape): the pure-pushdown aggregate —
    // one scan, zero joins, all three predicates reaching the parquet
    // footers; completes the 22/22 TPC-H plan-shape sweep with o29
    "o28_discount_revenue" -> ((s, d) =>
      Relational.discountRevenue(lineitemWide(s, d))),

    // Relational OLAP o29 (TPC-H Q10 shape): top-20 customers by returned
    // revenue — top-k BEFORE the dimension join, so the k-row side
    // broadcasts and the customer table never touches the fact pipeline
    "o29_returned_customers" -> ((s, d) =>
      Relational.returnedRevenueCustomers(
        s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        s.read.parquet(s"$d/lineitem.parquet"),
        s.read.parquet(s"$d/nation.parquet"))),

    // Relational OLAP o8: the nation×year report as a CUBE — all FOUR
    // grouping sets (nation×year, nation, year, grand total) from ONE
    // Expand + aggregate pass; NULLS FIRST pinned on both engines
    "o8_cube_report" -> ((s, d) =>
      Relational.nationRevenueCube(s.read.parquet(s"$d/customer.parquet"),
        s.read.parquet(s"$d/orders.parquet"),
        lineitemWide(s, d),
        s.read.parquet(s"$d/nation.parquet"))),

    "x5_bucketed_join" -> ((s, d) => {
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
    }),

    // X14 runtime bloom-filtered join: the selective-dim ⋈ giant-fact
    // shuffle join with Catalyst's runtime row-level filter — a
    // bloom_filter_agg over the filtered orders keys injects a
    // might_contain predicate onto the lineitem scan, dropping
    // never-joining fact rows BEFORE the shuffle (plan-pinned). Session
    // clone pins the 100 TB plan shape (no broadcast at test scale);
    // oracle = the plain SQL join
    "x14_runtime_filter_join" -> ((s, d) =>
      graft.operators.Joins.withRuntimeBloomJoin(s) { bf =>
        graft.operators.Joins.runtimeFilteredFactJoin(bf,
            s"$d/lineitem.parquet", s"$d/orders.parquet",
            "l_orderkey", "o_orderkey",
            col("o_orderpriority") === "1-URGENT")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n_items"), sum("l_quantity").as("qty"))
          .orderBy("o_orderpriority")
      }),

    // X7 dirty-corpus quarantine: documents round-tripped through JSONL
    // with 3 injected malformed lines; the PERMISSIVE read surfaces them
    // as quarantined rows instead of failing the job. The no-op doc_id
    // filter keeps a data column referenced — Spark disallows queries
    // referencing ONLY the corrupt-record column of a live JSON scan, and
    // a cache() workaround would pin the whole corpus in storage memory
    "x7_jsonl_quarantine" -> ((s, d) => {
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
    }),

    // X6 date-partitioned layout: events re-written partitionBy(day), then
    // a one-day aggregate whose day predicate is a PARTITION filter (prunes
    // directories at planning time — the time-series scan discipline at
    // 100 TB; plan pinned in JoinsSpec). Oracle = same aggregate over the
    // raw table.
    "x6_partitioned_scan" -> ((s, d) => {
      // fixed per-entry dir (see x5): repeated invocations overwrite
      val out = scratch("x6-bydate") + "/events"
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
      graft.sources.DatePartitioned.writeByDay(ev, "ts", out)
      graft.sources.DatePartitioned.readDay(s, out, "2024-01-15")
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
        .orderBy("event_type")
    }),

    // X15 in-place day refresh: the date-partitioned events table has ONE
    // day re-materialized (2024-01-15's values doubled — a backfill
    // correction) via dynamic partition overwrite; only that day's
    // directory is replaced (untouched-days-byte-identical is spec-pinned).
    // The oracle recomputes the whole corrected table from the raw events,
    // so the read-back gates both the correction and every other day's
    // survival
    "x15_day_refresh" -> ((s, d) => {
      val out = scratch("x15-bydate") + "/events"
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
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
    }),

    // Streaming custom state: gap sessionization via flatMapGroupsWithState,
    // watermark-gated emission (trailing open sessions stay in state)
    "e2_sessionize" -> ((s, d) =>
      EventStream.backfillSessions(s, s"$d/events.parquet")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("sum_value").cast("double").as("sum_value"))
        .orderBy("user_id", "session_start")),

    // E33 streaming top-paths: j16's session-path mining kept current BY
    // INGEST — per-user event buffers re-split at the strict-gap boundary
    // each batch (out-of-order exact), sessions emit once the watermark
    // passes last+gap, the report rides the SHARED path aggregation —
    // stream ≡ batch j16 with the e2-style watermark cutoff
    "e33_stream_paths" -> ((s, d) =>
      graft.operators.EventAnalytics.topPathsFromSessionPaths(
        EventStream.backfillSessionPaths(s, s"$d/events.parquet"))),

    // Streaming built-in state: the SAME sessionization via the native
    // session_window operator — inclusive gap merge at µs grain (an event
    // exactly `gap` later still merges, spec-pinned) and watermark-passes-
    // window-end emission, both encoded µs-exact in its own oracle (the
    // custom e2 operator compares at FLOORED-ms grain; with sub-ms event
    // times the twins differ inside the sub-ms boundary band, so each
    // stays independently oracle-checked)
    "e9_native_sessions" -> ((s, d) =>
      EventStream.backfillNativeSessions(s, s"$d/events.parquet")
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("sum_value").cast("double").as("sum_value"))
        .orderBy("user_id", "session_start")),

    // Streaming exact dedup: every event delivered twice; the operator must
    // reconstruct exactly the original table (bounded state via
    // dropDuplicatesWithinWatermark)
    "e3_stream_dedup" -> ((s, d) =>
      EventStream.backfillStreamDedup(s, s"$d/events.parquet")
        .select(col("event_id"), col("event_type"),
          col("value").cast("decimal(18,6)").cast("double").as("value"))
        .orderBy("event_id")),

    // Streaming stream-static enrichment: broadcast dim join inside the
    // micro-batch, then the windowed aggregate (complete-mode backfill)
    "e4_enriched_counts" -> ((s, d) =>
      EventStream.backfillEnrichedCounts(s, s"$d/events.parquet")
        .select(col("window_start"), col("tier"), col("cnt"),
          col("sum_value").cast("double").as("sum_value"))
        .orderBy("window_start", "tier")),

    // Streaming stream-stream interval join: click→purchase attribution
    // within the hour, per user (watermark-bounded state both sides)
    "e5_stream_join" -> ((s, d) =>
      EventStream.backfillAttribution(s, s"$d/events.parquet")
        .select(col("click_id"), col("purchase_id"), col("user_id"))
        .orderBy("click_id", "purchase_id")),

    // As-of join: every purchase event attributed to the same user's most
    // recent click at-or-before it (LEFT: unattributed purchases keep null
    // click columns). Union-tag merge, held to DuckDB's native ASOF LEFT
    // JOIN. Tie closure differs in mechanism, agrees in result: the engine
    // resolves equal-(user, ts) clicks to max event_id via asOf's tie rule;
    // the ORACLE pre-collapses clicks to max(event_id) per (user, ts)
    // because ASOF's own tie choice is unspecified.
    "j1_asof_join" -> ((s, d) =>
      clickPurchaseAsOf(s, d, toleranceMicros = Long.MaxValue)),

    // NEAREST-neighbor temporal align: each purchase to its user's CLOSEST
    // click in either direction within ±30 min (ties → backward, the as-of
    // convention; equal-ts tie rules mirrored in the oracle's CASE sign
    // trick). Same single co-partitioned sort as j1 — the forward
    // candidate is a second window over the same ordering
    "j6_nearest_align" -> ((s, d) => {
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      Joins.nearestAsOf(purchases, clicks, Seq("user_id"),
          "purchase_ts", "click_ts", "click_id", toleranceMicros = 1800000000L)
        .orderBy("purchase_id")
    }),

    // As-of with bounded lookback: same attribution, but a click older
    // than 30 min before the purchase no longer matches (nulls instead).
    // Tolerance is a post-window filter — the nearest prior click is the
    // ONLY candidate, so if it is too old every other one is too; the
    // oracle applies the same CASE to DuckDB's unbounded ASOF result.
    "j4_asof_tolerance" -> ((s, d) =>
      clickPurchaseAsOf(s, d, toleranceMicros = 30L * 60 * 1000000L)),

    // Range join, pair form: unordered event pairs within 2 s of each other
    // (micro-burst detection). Epsilon-binned candidate generation — never
    // all-pairs — held to DuckDB's unrestricted inequality self-join.
    "j2_range_pairs" -> ((s, d) => {
      val ev = EventStream.withEventTime(s.read.parquet(s"$d/events.parquet"))
      Joins.timeProximityPairs(ev, "event_id", "ts", 2000000L)
        .orderBy("a_id", "b_id")
    }),

    // Range join, point-in-interval form: global shipping activity inside
    // each flagship order's 7-day window (no equi key — the pure-range
    // case). Bin-exploded equi-join vs DuckDB's raw inequality join.
    // sum(l_quantity) is exact: quantities are integer-valued doubles.
    "j3_interval_activity" -> ((s, d) => {
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
    }),

    // J5 skew-salted equi-join: lineitem ⋈ part on partkey with the probe
    // side salted 8 ways (deterministic salt from the line identity) —
    // result held to the PLAIN-join oracle, proving salting is semantics-
    // preserving; the per-brand rollup keeps the gate result small
    "j5_salted_join" -> ((s, d) => {
      val li = s.read.parquet(s"$d/lineitem.parquet")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      val pt = s.read.parquet(s"$d/part.parquet")
        .select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Joins.saltedEquiJoin(li, pt, "l_partkey", 8,
          col("l_orderkey") * 10 + col("l_linenumber"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("qty"))
        .orderBy("p_brand")
    }),

    // Streaming stream-stream LEFT OUTER interval join: matched pairs as
    // e5, plus null-joined rows for clicks the watermark has proven
    // unmatchable. The oracle mirrors the emission rule: an unmatched
    // click emits iff click_ts + horizon < final watermark (max ts − 1 h).
    "e7_attribution_outer" -> ((s, d) =>
      EventStream.backfillAttributionOuter(s, s"$d/events.parquet")
        .select(col("click_id"), col("purchase_id"), col("user_id"))
        .orderBy("click_id", "purchase_id")),

    // E8 streaming catalog ingest: events stream into the versioned store
    // via foreachBatch — each micro-batch collapses distributedly to its
    // net change set (latest event per user, ties by event_id) and commits
    // ONE delta; the registered result is the store's resolved final state,
    // held to a latest-per-key SQL oracle over the same events
    "e8_stream_store_ingest" -> ((s, d) => {
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
    }),

    // S-ops × search: the serving flow end-to-end — bulk load into the
    // versioned store, then compile + execute a catalog search over the
    // store's resolved current table (not a pre-staged corpus)
    "s8_store_search" -> ((s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000200"))
      // cat5 rows in this id range are org1-owned and private: the result is
      // non-empty precisely because the ACL org-clause admits them (an
      // all-rows-filtered 0-row match would be vacuous evidence)
      val cq = QueryCompiler.compile(
        QueryCompiler.parse(all("""{"filters":[{"category":["cat5"]}]}""")),
        AclContext(Seq("org1"), isAdmin = false))
      SearchExecutor.hitsBranch(SearchExecutor.baseBranch(st.current.toDF(), cq), cq)
        .select(col("id"), col("category"), col("orgUUID").as("org_uuid"),
          col("isPublic").as("is_public"))
    }),

    // R1 result shaping: full entry columns on a paged, filtered, scored search
    "r1_result_shape" -> ((s, d) =>
      hits(s, d, """{"query":"red","filters":[{"format":["json"]}],"size":5}""",
        AclContext(Seq("org1"), isAdmin = false))
        .select(col("id"), col("category"),
          date_format(col("creationTime"), "yyyy-MM-dd").as("creation_date"),
          col("dataSample").as("data_sample"), col("format"),
          col("isPublic").as("is_public"), col("orgUUID").as("org_uuid"),
          col("recordCount").as("record_count"), col("size"),
          col("sourceUri").as("source_uri"), col("targetUri").as("target_uri"),
          col("title")))
  )

  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ",", ")")

  /** Shared CTEs for the documents-table oracle SQL. */
  private val T = s"WITH toks AS (SELECT doc_id, ${stdToks("text")} AS t FROM documents) "

  /** Jaccard-pair pipeline CTE chain (mirrors Dedup.jaccardPairs exactly:
    * 3-gram shingles, df∈[2,20] blocking, round-6 Jaccard ≥ 0.8).
    * [[JaccardChain]] is the `toks`-downstream half so planted-corpus
    * oracles (d3) can swap in their own document set.
    */
  /** The blocked-candidate half (Dedup.blockedIdPairs in SQL): shingles →
    * inverted index → df∈[2,20] cut → pairs sharing ≥3 blocked shingles.
    * Both verify chains compose on top of it.
    */
  private val PairsChain =
    """, sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM toks)
      |, inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh)
      |, keep AS (SELECT s FROM inv GROUP BY s HAVING count(*) BETWEEN 2 AND 20)
      |, cands AS (SELECT i.s, i.doc_id FROM inv i JOIN keep k ON i.s = k.s)
      |, pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM cands a JOIN cands b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2 HAVING count(*) >= 3) """.stripMargin.replaceAll("\n", " ")

  private val JaccardChain = PairsChain +
    """, jac AS (SELECT a_id, b_id, round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
      |          FROM pairs JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id) """.stripMargin.replaceAll("\n", " ")

  private val JaccardCte = T + JaccardChain

  /** The d10/d11 span pipeline in SQL: planted-tail corpus → positioned
    * 8-token windows → occurrence≥2 cut → gaps-and-islands (mirrors
    * Dedup.repeatedSpans over plantedSpanDocs exactly).
    */
  private val SpanChain =
    "WITH spand AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || " +
      "' the quick brown fox jumps over the lazy dog again and again' ELSE text END AS text FROM documents), " +
      s"toks AS (SELECT doc_id, ${stdToks("text")} AS t FROM spand), " +
      "pos AS (SELECT doc_id, unnest(range(1, len(t) - 6)) - 1 AS p, " +
      "unnest(list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))) AS s FROM toks), " +
      "rep AS (SELECT s FROM pos GROUP BY s HAVING count(*) >= 2), " +
      "hit AS (SELECT p.doc_id, p.p FROM pos p JOIN rep r USING (s)), " +
      "isl AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g FROM hit) "

  /** DuckDB twin of [[plantedSliceDocs]] (same residue/offset/frac). */
  private def slicedDocsCte(residue: Int, offset: Long, frac: String): String =
    "WITH docs2 AS (SELECT doc_id, text FROM documents " +
      s"UNION ALL SELECT doc_id + $offset AS doc_id, " +
      s"array_to_string(t[1:ceil(len(t)*$frac)::BIGINT], ' ') AS text " +
      s"FROM (SELECT doc_id, ${stdToks("text")} AS t FROM documents) WHERE doc_id % 20 = $residue) " +
      s", toks AS (SELECT doc_id, ${stdToks("text")} AS t FROM docs2) "

  /** The d3 planted corpus (plantedTruncDocs) in DuckDB: documents plus
    * first-⌈98%⌉-token truncations of every doc_id % 20 == 7 doc.
    */
  private val TruncDocsCte = slicedDocsCte(residue = 7, offset = 300000L, frac = "0.98")

  /** The d7 planted corpus (plantedPrefixDocs) in DuckDB: documents plus
    * first-⌈25%⌉-token prefixes of every doc_id % 20 == 13 doc.
    */
  private val PrefixDocsCte = slicedDocsCte(residue = 13, offset = 400000L, frac = "0.25")

  /** Containment verify over the shared [[PairsChain]]:
    * containment = |sh(a) ∩ sh(b)| / min(|sh(a)|, |sh(b)|).
    */
  private val ContainChain = PairsChain +
    ", cont AS (SELECT a_id, b_id, round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE / " +
    "least(len(sa.shingles), len(sb.shingles))::DOUBLE, 6) AS containment " +
    "FROM pairs JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id) "

  /** The co-view edge CTE shared by every g-family oracle — identical
    * derivation to Graph.coviewEdges: distinct (user, item) views, the
    * 50-item bot cap, symmetric distinct pairs, per-node degree.
    */
  private val coviewCte: String =
    "WITH ui AS (SELECT DISTINCT user_id, regexp_extract(props, '(\\d+)', 1)::INT AS item " +
      "FROM events WHERE event_type = 'view' AND regexp_extract(props, '(\\d+)', 1) <> ''), " +
      "ok AS (SELECT user_id FROM ui GROUP BY 1 HAVING count(*) <= 50), " +
      "c AS (SELECT ui.user_id, ui.item FROM ui JOIN ok USING (user_id)), " +
      "e AS (SELECT DISTINCT a.item AS src, b.item AS dst FROM c a JOIN c b " +
      "ON a.user_id = b.user_id AND a.item <> b.item)"

  /** g1: the j14 capped co-view chain to a symmetric edge table, then the
    * identical integer PageRank recurrence unrolled as 5 chained CTEs —
    * DuckDB `//` on positives ≡ Spark `DIV`, every rank a long, so the
    * iterative fixpoint hash-matches with no float anywhere.
    */
  private lazy val pagerankSql: String = {
    val base = coviewCte +
      ", deg AS (SELECT src AS item, count(*)::BIGINT AS deg FROM e GROUP BY 1), " +
      "nn AS (SELECT count(*)::BIGINT AS n FROM deg), " +
      "r0 AS (SELECT item, (1000000 // n)::BIGINT AS r FROM deg, nn)"
    val steps = (1 to 5).map { i =>
      s"r$i AS (SELECT e.dst AS item, (150000 // nn.n + " +
        "sum((p.r * 85) // (100 * d.deg)))::BIGINT AS r " +
        s"FROM e JOIN r${i - 1} p ON e.src = p.item " +
        "JOIN deg d ON e.src = d.item CROSS JOIN nn GROUP BY e.dst, nn.n)"
    }.mkString(", ", ", ", " ")
    base + steps + "SELECT r5.item, deg.deg, r5.r AS rank_e6 " +
      "FROM r5 JOIN deg USING (item) ORDER BY rank_e6 DESC, item"
  }

  /** c13/e32: per-category max + corpus high-water mark, exact day diffs;
    * e32's streamed (sum, max) fold must rebuild the identical per-group
    * table, so it shares this SQL verbatim.
    */
  private lazy val freshnessSql: String =
    Corpus.metaSql + "SELECT category AS grp, count(*)::BIGINT AS n, " +
      "max(creationTime::DATE)::VARCHAR AS max_day, " +
      "datediff('day', max(creationTime::DATE), " +
      "(SELECT max(creationTime::DATE) FROM meta))::BIGINT AS stale_days, " +
      "coalesce(datediff('day', max(creationTime::DATE), " +
      "(SELECT max(creationTime::DATE) FROM meta)) > 3, true) AS stale " +
      "FROM meta GROUP BY category ORDER BY grp"

  /** c10/e30: the densified spine windowed PER WEEKDAY — isodow ≡ Spark's
    * weekday+1 (both pin Monday=1; the engines' default dayofweek disagree
    * on Sunday), same exact-integer deviation; e30's streamed fold must
    * rebuild the identical daily table, so it shares this SQL verbatim.
    */
  private lazy val seasonalVolumeSql: String =
    "WITH daily AS (SELECT ts::TIMESTAMP::DATE AS day, count(*)::BIGINT AS cnt " +
      "FROM events GROUP BY 1), " +
      "spine AS (SELECT unnest(generate_series((SELECT min(day) FROM daily), " +
      "(SELECT max(day) FROM daily), INTERVAL 1 DAY))::DATE AS day), " +
      "dense AS (SELECT s.day, coalesce(d.cnt, 0)::BIGINT AS cnt " +
      "FROM spine s LEFT JOIN daily d USING (day)), " +
      "w AS (SELECT day::VARCHAR AS day, isodow(day)::INT AS dow, cnt, " +
      "sum(cnt) OVER win AS win_sum, count(*) OVER win AS win_n FROM dense " +
      "WINDOW win AS (PARTITION BY isodow(day) ORDER BY day " +
      "ROWS BETWEEN 4 PRECEDING AND 1 PRECEDING)) " +
      "SELECT day, dow, cnt, win_n::BIGINT AS win_weeks, " +
      "CASE WHEN win_n > 0 AND win_sum > 0 THEN round(cnt * win_n / win_sum - 1.0, 6) END AS dev_frac, " +
      "coalesce(CASE WHEN win_n > 0 AND win_sum > 0 THEN " +
      "abs(round(cnt * win_n / win_sum - 1.0, 6)) > 0.5 END, false) AS flagged " +
      "FROM w ORDER BY day"

  /** g6: the same capped co-view chain kept WEIGHTED (per-pair viewer
    * support), thresholded at ≥8, then the min-label fixpoint replayed as
    * recursive reachability — at fixpoint each node's label is the min id
    * reachable from it, and the recursion propagates a label onward only
    * while it beats the target's own id (safe: the component minimum is
    * below every intermediate, so its walk is never pruned). Exact
    * integers end-to-end, so the iterative engine and the recursive
    * oracle hash-match.
    */
  private lazy val communitiesSql: String =
    "WITH ui AS (SELECT DISTINCT user_id, regexp_extract(props, '(\\d+)', 1)::INT AS item " +
      "FROM events WHERE event_type = 'view' AND regexp_extract(props, '(\\d+)', 1) <> ''), " +
      "ok AS (SELECT user_id FROM ui GROUP BY 1 HAVING count(*) <= 50), " +
      "c AS (SELECT ui.user_id, ui.item FROM ui JOIN ok USING (user_id)), " +
      "e AS (SELECT src, dst FROM (SELECT a.item AS src, b.item AS dst, count(*) AS support " +
      "FROM c a JOIN c b ON a.user_id = b.user_id AND a.item <> b.item " +
      "GROUP BY 1, 2) WHERE support >= 8), " +
      "deg AS (SELECT src AS item, count(*)::BIGINT AS deg FROM e GROUP BY 1), " +
      "r AS (WITH RECURSIVE reach(item, lbl) AS (" +
      "SELECT item, item::BIGINT AS lbl FROM deg " +
      "UNION " +
      "SELECT e.dst AS item, r.lbl FROM reach r JOIN e ON e.src = r.item " +
      "WHERE r.lbl < e.dst) " +
      "SELECT item, min(lbl)::BIGINT AS community FROM reach GROUP BY 1), " +
      "cs AS (SELECT community, count(*)::BIGINT AS csize FROM r GROUP BY 1) " +
      "SELECT deg.item, deg.deg, r.community, cs.csize " +
      "FROM deg JOIN r USING (item) JOIN cs USING (community) ORDER BY deg.item"

  /** g7: the weighted co-view chain (per-pair support kept as the edge
    * weight), then the weighted recurrence unrolled as 5 chained CTEs —
    * rank mass split proportionally to out-weight, all floor division on
    * positive longs, so the fixpoint hash-matches like g1's.
    */
  private lazy val weightedPagerankSql: String = {
    val base =
      "WITH ui AS (SELECT DISTINCT user_id, regexp_extract(props, '(\\d+)', 1)::INT AS item " +
        "FROM events WHERE event_type = 'view' AND regexp_extract(props, '(\\d+)', 1) <> ''), " +
        "ok AS (SELECT user_id FROM ui GROUP BY 1 HAVING count(*) <= 50), " +
        "c AS (SELECT ui.user_id, ui.item FROM ui JOIN ok USING (user_id)), " +
        "e AS (SELECT a.item AS src, b.item AS dst, count(*)::BIGINT AS w FROM c a JOIN c b " +
        "ON a.user_id = b.user_id AND a.item <> b.item GROUP BY 1, 2), " +
        "ws AS (SELECT src AS item, sum(w)::BIGINT AS wsum, count(*)::BIGINT AS deg FROM e GROUP BY 1), " +
        "nn AS (SELECT count(*)::BIGINT AS n FROM ws), " +
        "r0 AS (SELECT item, (1000000 // n)::BIGINT AS r FROM ws, nn)"
    val steps = (1 to 5).map { i =>
      s"r$i AS (SELECT e.dst AS item, (150000 // nn.n + " +
        "sum((p.r * 85 * e.w) // (100 * d.wsum)))::BIGINT AS r " +
        s"FROM e JOIN r${i - 1} p ON e.src = p.item " +
        "JOIN ws d ON e.src = d.item CROSS JOIN nn GROUP BY e.dst, nn.n)"
    }.mkString(", ", ", ", " ")
    base + steps + "SELECT r5.item, ws.deg, ws.wsum, r5.r AS rank_e6 " +
      "FROM r5 JOIN ws USING (item) ORDER BY rank_e6 DESC, item"
  }

  /** c14: the same densified spine, the same baseline calibration (first
    * 7 spine days), the same closed-form CUSUM — running sum minus
    * running min of the slack-adjusted scaled deviations; `//` numerators
    * (`bsum`) non-negative by construction, outputs pinned ::BIGINT.
    */
  private lazy val cusumShiftSql: String =
    "WITH daily AS (SELECT ts::TIMESTAMP::DATE AS day, count(*)::BIGINT AS cnt " +
      "FROM events GROUP BY 1), " +
      "spine AS (SELECT unnest(generate_series((SELECT min(day) FROM daily), " +
      "(SELECT max(day) FROM daily), INTERVAL 1 DAY))::DATE AS day), " +
      "dense AS (SELECT s.day, coalesce(d.cnt, 0)::BIGINT AS cnt " +
      "FROM spine s LEFT JOIN daily d USING (day)), " +
      "b AS (SELECT sum(cnt)::BIGINT AS bsum FROM " +
      "(SELECT cnt FROM dense ORDER BY day LIMIT 7)), " +
      "c AS (SELECT day, cnt, bsum, " +
      "sum(cnt * 7 - bsum - bsum // 50) OVER (ORDER BY day) AS cp, " +
      "sum(bsum - cnt * 7 - bsum // 50) OVER (ORDER BY day) AS cm FROM dense, b), " +
      "s AS (SELECT day, cnt, bsum, " +
      "cp - least(0, min(cp) OVER (ORDER BY day)) AS sp, " +
      "cm - least(0, min(cm) OVER (ORDER BY day)) AS sm FROM c) " +
      "SELECT day::VARCHAR AS day, cnt, sp::BIGINT AS cusum_pos, " +
      "sm::BIGINT AS cusum_neg, (sp > bsum // 4 OR sm > bsum // 4) AS flagged " +
      "FROM s ORDER BY day"

  /** c15/e35: the same v2 derivation and quality-micros formula per side,
    * HUGEINT moments, the g4 guarded round-6 ratio, drift over the
    * rounded values — shared verbatim by the batch gate and the streamed
    * moments fold (stream ≡ batch by construction on the engine side, so
    * one oracle serves both).
    */
  private lazy val corrDriftSql: String = {
    val stop = sqlList(graft.analyzers.Analyzers.EnglishStopwords)
    def sideCte(src: String, name: String): String =
      s", tk_$name AS (SELECT ${stdToks("text")} AS t FROM $src) " +
        s", st_$name AS (SELECT len(t)::BIGINT AS nt, " +
        s"len(list_filter(t, x -> x IN $stop))::BIGINT AS ns, " +
        s"len(list_distinct(t))::BIGINT AS nd FROM tk_$name) " +
        s", $name AS (SELECT (CASE WHEN nt > 0 THEN " +
        "((1000000 * (2 * least(nt, 100) * nt + 150 * (ns + nd)) + 250 * nt) // (500 * nt)) " +
        s"ELSE 0 END)::HUGEINT AS x, nt::HUGEINT AS y FROM st_$name) " +
        s", m_$name AS (SELECT count(*)::HUGEINT AS m, sum(x) AS sx, sum(y) AS sy, " +
        s"sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM $name) "
    def rsql(t: String): String =
      s"CASE WHEN $t.m*$t.sxx - $t.sx*$t.sx > 0 AND $t.m*$t.syy - $t.sy*$t.sy > 0 THEN " +
        s"round(($t.m*$t.sxy - $t.sx*$t.sy)::DOUBLE / (sqrt(($t.m*$t.sxx - $t.sx*$t.sx)::DOUBLE) * " +
        s"sqrt(($t.m*$t.syy - $t.sy*$t.sy)::DOUBLE)), 6) END"
    "WITH v2 AS (" +
      "SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END AS text " +
      "FROM documents WHERE doc_id % 17 <> 0 " +
      "UNION ALL SELECT doc_id + 10000000 AS doc_id, 'new doc ' || doc_id AS text " +
      "FROM documents WHERE doc_id % 19 = 0) " +
      sideCte("documents", "a") + sideCte("v2", "b") +
      s"SELECT m_a.m::BIGINT AS n_1, ${rsql("m_a")} AS r_1, " +
      s"m_b.m::BIGINT AS n_2, ${rsql("m_b")} AS r_2, " +
      s"round(abs((${rsql("m_a")}) - (${rsql("m_b")})), 6) AS drift " +
      "FROM m_a, m_b"
  }

  /** j23/e37: the stickiness replay — shared by the batch gate and the
    * streamed (day, user) set-log fold.
    */
  private lazy val stickinessSql: String =

    ("WITH pairs AS (SELECT DISTINCT ts::TIMESTAMP::DATE AS day, user_id FROM events), " +
          "spine AS (SELECT unnest(generate_series((SELECT min(day) FROM pairs), " +
          "(SELECT max(day) FROM pairs), INTERVAL 1 DAY))::DATE AS day), " +
          "dau AS (SELECT day, count(*)::BIGINT AS dau FROM pairs GROUP BY 1), " +
          "mau AS (SELECT s.day, count(DISTINCT p.user_id)::BIGINT AS mau " +
          "FROM spine s JOIN pairs p ON p.day BETWEEN s.day - INTERVAL 27 DAY AND s.day " +
          "GROUP BY 1) " +
          "SELECT s.day::VARCHAR AS day, coalesce(d.dau, 0)::BIGINT AS dau, " +
          "coalesce(m.mau, 0)::BIGINT AS mau, " +
          "CASE WHEN coalesce(m.mau, 0) > 0 THEN " +
          "((coalesce(d.dau, 0) * 1000000) // m.mau)::BIGINT END AS stickiness_e6 " +
          "FROM spine s LEFT JOIN dau d USING (day) LEFT JOIN mau m USING (day) " +
          "ORDER BY day")

  /** v27/e38: the same quantize-first Σq² per vector (DOUBLE[] before
    * the round — the v26 rule), HUGEINT corpus sum, floor-div mean —
    * shared verbatim by the batch profile and the streamed fold.
    */
  private lazy val normProfileSql: String =
    ("WITH b AS (SELECT embedding::DOUBLE[] AS e FROM embeddings), " +
          "q AS (SELECT list_sum(list_transform(e, x -> " +
          "round(x * 1000000, 0)::BIGINT * round(x * 1000000, 0)::BIGINT))::BIGINT AS n2, " +
          "len(e)::BIGINT AS nd FROM b) " +
          "SELECT count(*)::BIGINT AS n_vecs, max(nd)::BIGINT AS n_dims, " +
          "sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero, " +
          "sum(CASE WHEN n2 < 810000000000 OR n2 > 1210000000000 THEN 1 ELSE 0 END)::BIGINT AS n_off_unit, " +
          "min(n2)::BIGINT AS min_norm2_u, max(n2)::BIGINT AS max_norm2_u, " +
          "(sum(n2::HUGEINT) // count(*))::BIGINT AS mean_norm2_u FROM q")

  /** c17/e36: the identical contingency table and cleared-denominator
    * exact terms — HUGEINT quadruple products, per-term // then the
    * two-term sum, output pinned ::BIGINT. Shared verbatim by the batch
    * gate and the streamed category-count fold (stream ≡ batch by
    * construction on the engine side).
    */
  private lazy val chi2DriftSql: String =
    M + ", v2 AS (SELECT CASE WHEN id::INT % 13 = 0 THEN 'cat0' ELSE category END AS category " +
      "FROM meta WHERE id::INT % 17 <> 0), " +
      "t AS (SELECT category, " +
      "sum(CASE WHEN side = 1 THEN 1 ELSE 0 END)::HUGEINT AS a, " +
      "sum(CASE WHEN side = 2 THEN 1 ELSE 0 END)::HUGEINT AS b " +
      "FROM (SELECT category, 1 AS side FROM meta UNION ALL SELECT category, 2 FROM v2) " +
      "GROUP BY 1), " +
      "s AS (SELECT sum(a)::HUGEINT AS n1, sum(b)::HUGEINT AS n2 FROM t) " +
      "SELECT category, a::BIGINT AS n_1, b::BIGINT AS n_2, " +
      "((a*(n1+n2) - n1*(a+b)) * (a*(n1+n2) - n1*(a+b)) * 1000000 // (n1*(a+b)*(n1+n2)) " +
      "+ (b*(n1+n2) - n2*(a+b)) * (b*(n1+n2) - n2*(a+b)) * 1000000 // (n2*(a+b)*(n1+n2)))::BIGINT AS chi2_term_e6 " +
      "FROM t, s ORDER BY category"

  /** g5: the personalized recurrence replayed as chained CTEs — seed-only
    * teleport via FULL OUTER join each step, the same floor arithmetic,
    * unreached items coalesced to 0 in the final report.
    */
  private lazy val personalizedPrSql: String = {
    val base = coviewCte +
      ", deg AS (SELECT src AS item, count(*)::BIGINT AS deg FROM e GROUP BY 1), " +
      "sd AS (SELECT unnest([1, 2, 3]) AS item), " +
      "tele AS (SELECT item, (150000 // 3)::BIGINT AS t FROM sd), " +
      "r0 AS (SELECT item, (1000000 // 3)::BIGINT AS r FROM sd)"
    val steps = (1 to 5).map { i =>
      s"r$i AS (SELECT coalesce(m.item, tele.item) AS item, " +
        "(coalesce(tele.t, 0) + coalesce(m.in_sum, 0))::BIGINT AS r FROM " +
        "(SELECT e.dst AS item, sum((p.r * 85) // (100 * d.deg))::BIGINT AS in_sum " +
        s"FROM e JOIN r${i - 1} p ON e.src = p.item " +
        "JOIN deg d ON e.src = d.item GROUP BY e.dst) m " +
        "FULL OUTER JOIN tele ON m.item = tele.item)"
    }.mkString(", ", ", ", " ")
    base + steps + "SELECT deg.item, deg.deg, coalesce(r5.r, 0)::BIGINT AS rank_e6 " +
      "FROM deg LEFT JOIN r5 USING (item) ORDER BY rank_e6 DESC, item"
  }

  /** g2: the same degree-ordered orientation and once-per-triangle wedge
    * close replayed relationally — the (deg, id) row comparisons are the
    * identical total order, so corner counts agree exactly; cc_e6 is the
    * same floor-divided micros.
    */
  private lazy val triangleSql: String = coviewCte +
    ", deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1), " +
    "o AS (SELECT e.src, e.dst, dd.deg AS ddeg FROM e " +
    "JOIN deg ds ON e.src = ds.src JOIN deg dd ON e.dst = dd.src " +
    "WHERE (ds.deg, e.src) < (dd.deg, e.dst)), " +
    "tr AS (SELECT e1.src AS a, e1.dst AS b, e2.dst AS c FROM o e1 JOIN o e2 " +
    "ON e1.src = e2.src AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst) " +
    "JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst), " +
    "pn AS (SELECT item, count(*)::BIGINT AS tri FROM " +
    "(SELECT a AS item FROM tr UNION ALL SELECT b FROM tr UNION ALL SELECT c FROM tr) " +
    "GROUP BY 1) " +
    "SELECT deg.src AS item, deg.deg, coalesce(pn.tri, 0)::BIGINT AS tri, " +
    "CASE WHEN deg.deg >= 2 THEN (coalesce(pn.tri, 0) * 2000000) // (deg.deg * (deg.deg - 1)) " +
    "ELSE 0 END::BIGINT AS cc_e6 " +
    "FROM deg LEFT JOIN pn ON deg.src = pn.item ORDER BY tri DESC, item"

  /** g3: capped-apex wedge counting over the same edges, anti-join to
    * non-adjacent pairs, the identical (common desc, a, b) top-20.
    */
  private lazy val linkPredictionSql: String = coviewCte +
    ", deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1), " +
    "apex AS (SELECT src FROM deg WHERE deg <= 100), " +
    "adj AS (SELECT e.src, e.dst FROM e JOIN apex USING (src)), " +
    "w AS (SELECT e1.dst AS item_a, e2.dst AS item_b FROM adj e1 JOIN adj e2 " +
    "ON e1.src = e2.src AND e1.dst < e2.dst), " +
    "cnt AS (SELECT item_a, item_b, count(*)::BIGINT AS common FROM w GROUP BY 1, 2), " +
    "na AS (SELECT cnt.* FROM cnt LEFT JOIN e ON e.src = cnt.item_a AND e.dst = cnt.item_b " +
    "WHERE e.src IS NULL) " +
    "SELECT row_number() OVER (ORDER BY common DESC, item_a, item_b)::BIGINT AS rank, " +
    "item_a, item_b, common FROM na ORDER BY common DESC, item_a, item_b LIMIT 20"

  /** v23: the identical PCA chain in SQL — exact HUGEINT moments, the
    * same fixed-shape C/μ doubles, the same 12-step power recurrence
    * (chained CTEs), the same centered projection; engines differ only
    * in float summation order, absorbed by round-4.
    */
  private lazy val pcaProjectSql: String = {
    val covExpr = "(n * sab - sa * sb)::DOUBLE / ((n * n)::DOUBLE * 1000000000000.0)"
    // MATERIALIZED throughout: v_k reads w_k twice (directly and through
    // the norm), so default CTE inlining would copy the whole upstream
    // chain 2^12 times — materialization makes each step run once
    val base = "WITH q AS MATERIALIZED (SELECT vec_id, unnest(range(1, len(embedding) + 1))::INT AS j, " +
      "round(unnest(embedding)::DOUBLE * 1000000, 0)::BIGINT AS i, " +
      "unnest(embedding)::DOUBLE AS x FROM embeddings), " +
      "m AS MATERIALIZED (SELECT a.j AS ja, b.j AS jb, count(*)::HUGEINT AS n, " +
      "sum(a.i)::HUGEINT AS sa, sum(b.i)::HUGEINT AS sb, " +
      "sum(a.i * b.i)::HUGEINT AS sab " +
      "FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.j <= b.j GROUP BY 1, 2), " +
      s"cf AS MATERIALIZED (SELECT ja AS r, jb AS c, $covExpr AS v FROM m " +
      s"UNION ALL SELECT jb, ja, $covExpr FROM m WHERE ja <> jb), " +
      "mu AS MATERIALIZED (SELECT ja AS j, sa::DOUBLE / (n::DOUBLE * 1000000.0) AS mu FROM m WHERE ja = jb), " +
      "v0 AS (SELECT j, CASE WHEN j = 1 THEN 1.0 ELSE 0.0 END AS val FROM mu)"
    val steps = (1 to 12).map { k =>
      s"w$k AS MATERIALIZED (SELECT cf.r AS j, sum(cf.v * p.val) AS w FROM cf " +
        s"JOIN v${k - 1} p ON cf.c = p.j GROUP BY 1), " +
        s"n$k AS (SELECT sqrt(sum(w * w)) AS nrm FROM w$k), " +
        s"v$k AS MATERIALIZED (SELECT j, w / nrm AS val FROM w$k, n$k)"
    }.mkString(", ", ", ", " ")
    base + steps +
      ", pr AS (SELECT q.vec_id, sum((q.x - mu.mu) * v12.val) AS p " +
      "FROM q JOIN mu ON q.j = mu.j JOIN v12 ON q.j = v12.j GROUP BY 1) " +
      "SELECT vec_id, round(p, 4) AS proj FROM pr ORDER BY proj DESC, vec_id LIMIT 50"
  }

  /** DuckDB cosine of two float-list columns, matching Similarity.cosine
    * (double cast per element, left-to-right sums, round 6).
    */
  private def cosSql(a: String, b: String): String =
    s"""round(list_sum(list_transform(list_zip($a, $b), x -> x[1]::DOUBLE * x[2]::DOUBLE)) /
       | (sqrt(list_sum(list_transform($a, x -> x::DOUBLE * x::DOUBLE))) *
       |  sqrt(list_sum(list_transform($b, x -> x::DOUBLE * x::DOUBLE)))), 6)""".stripMargin.replaceAll("\n", " ")

  /** DuckDB byte extraction from a lowercase hex-string column: byte i of
    * the payload as an integer (twin of Multimodal.perceptualHash's
    * conv(substring(hex)) — strpos-based because DuckDB lacks conv).
    */
  private def hexByteSql(hx: String, i: Int): String =
    s"((strpos('0123456789abcdef', substr($hx, ${2 * i + 1}, 1)) - 1) * 16 + " +
      s"strpos('0123456789abcdef', substr($hx, ${2 * i + 2}, 1)) - 1)"

  /** DuckDB twin of Multimodal.perceptualHash: the 29-bit gradient hash as
    * a flat sum of CASE terms (15 adjacent + 14 stride-2 byte gradients).
    */
  private def phashSql(hx: String): String = {
    def b(i: Int) = hexByteSql(hx, i)
    val terms =
      (0 until 15).map(i => s"CASE WHEN ${b(i)} > ${b(i + 1)} THEN ${1L << i} ELSE 0 END") ++
        (0 until 14).map(i => s"CASE WHEN ${b(i)} > ${b(i + 2)} THEN ${1L << (15 + i)} ELSE 0 END")
    terms.mkString("(", " + ", ")::BIGINT")
  }

  /** DuckDB twin of Analyzers.stemCol (two CASE stages). */
  private def stemSql(w: String): String = {
    val s1 = s"(CASE WHEN $w LIKE '%ies' AND length($w) > 4 THEN substr($w, 1, length($w)-3) || 'y' " +
      s"WHEN $w LIKE '%sses' THEN substr($w, 1, length($w)-2) " +
      s"WHEN $w LIKE '%s' AND $w NOT LIKE '%ss' AND length($w) > 3 THEN substr($w, 1, length($w)-1) ELSE $w END)"
    s"(CASE WHEN $s1 LIKE '%ing' AND length($s1) > 5 THEN substr($s1, 1, length($s1)-3) " +
      s"WHEN $s1 LIKE '%ed' AND length($s1) > 4 THEN substr($s1, 1, length($s1)-2) ELSE $s1 END)"
  }

  /** Shared CTE: the planted-dup embedding corpus and its all-pairs cosine
    * (the exact answer v3's LSH blocking and v5's CC collapse are held to).
    */
  private lazy val PlantedPairCte =
    "WITH corpus AS (SELECT vec_id, embedding FROM embeddings " +
      "UNION ALL SELECT vec_id + 100000 AS vec_id, " +
      "list_prepend((embedding[1] + 0.1::FLOAT)::FLOAT, embedding[2:64]) AS embedding " +
      "FROM embeddings WHERE vec_id < 20), " +
      s"p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id, ${cosSql("a.embedding", "b.embedding")} AS cos " +
      "FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id) "

  /** p19/e24: DSIR re-derived end-to-end — target vocab (count desc, token
    * asc ties), add-1-smoothed feature models over the 256-token support,
    * per-doc Σ c·(ln p_t − ln p_r), round-4, top-50 by (logw desc,
    * doc_id). Zero-feature docs score 0 via the LEFT join. e24 shares it
    * verbatim: the stream-folded raw model is an exact integer re-sum.
    */
  /** c18 + e40: the Benford report over meta.recordCount — the streamed
    * digit log re-sums to exactly the batch counts, so one oracle serves
    * both (the c13/e32 shared-oracle rule).
    */
  private lazy val benfordSql: String =
    Corpus.metaSql + ", c AS (SELECT CAST(substr(recordCount::VARCHAR, 1, 1) AS INT) AS digit, " +
      "count(*)::BIGINT AS n_obs FROM meta WHERE recordCount > 0 GROUP BY 1), " +
      "t AS (SELECT sum(n_obs)::BIGINT AS n_total FROM c), " +
      "b AS (SELECT unnest(range(1, 10))::INT AS digit, " +
      "unnest([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757])::BIGINT AS benford_e6) " +
      "SELECT b.digit, coalesce(n_obs, 0)::BIGINT AS n_obs, " +
      "(coalesce(n_obs, 0)::HUGEINT * 1000000 // n_total)::BIGINT AS share_e6, benford_e6, " +
      "((coalesce(n_obs, 0)::HUGEINT * 1000000 // n_total) - benford_e6)::BIGINT AS dev_e6 " +
      "FROM b LEFT JOIN c USING (digit), t ORDER BY b.digit"

  /** s28 + e42: the three-arm merge script's final state — the streamed
    * CDC delivery must converge on the identical table, so one oracle
    * serves both.
    */
  private lazy val mergeSql: String =
    Corpus.metaSql + "SELECT id, CASE WHEN id = '000010' THEN 'merged-title' ELSE title END AS title, " +
      "dataSample FROM meta " +
      "WHERE (id BETWEEN '000001' AND '000050' AND id <> '000020') OR id = '000200' " +
      "ORDER BY id"

  /** c19 + e41: the FD report over meta — the streamed distinct-triple
    * set log re-aggregates to exactly the batch report (count-distinct
    * and group existence are duplicate-insensitive), so one oracle
    * serves both.
    */
  private lazy val fdCheckSql: String =
    Corpus.metaSql + ", mel AS (SELECT 'id->title' AS fd, id::VARCHAR AS det, title::VARCHAR AS dep FROM meta " +
      "UNION ALL SELECT 'category->format', category, format FROM meta " +
      "UNION ALL SELECT 'orgUUID->isPublic', orgUUID, isPublic::VARCHAR FROM meta), " +
      "g AS (SELECT fd, det, count(DISTINCT dep)::BIGINT AS nd FROM mel GROUP BY 1, 2) " +
      "SELECT fd, count(*)::BIGINT AS n_det, " +
      "sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating, " +
      "max(nd)::BIGINT AS max_branches, " +
      "(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::HUGEINT * 1000000 // count(*))::BIGINT AS violation_ppm " +
      "FROM g GROUP BY fd ORDER BY fd"

  private lazy val dsirSampleSql: String =
    T + ", tc AS (SELECT doc_id, tok, count(*) AS c " +
      "FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2), " +
      "tgt AS (SELECT tok, sum(c) AS tc FROM tc JOIN documents USING (doc_id) " +
      "WHERE lang = 'en' GROUP BY 1), " +
      "vocab AS (SELECT tok, tc FROM tgt ORDER BY tc DESC, tok LIMIT 256), " +
      "rawc AS (SELECT tok, sum(c) AS rc FROM tc JOIN vocab USING (tok) GROUP BY 1), " +
      "tt AS (SELECT sum(tc)::DOUBLE AS s FROM vocab), " +
      "rt AS (SELECT sum(rc)::DOUBLE AS s FROM rawc), " +
      "lr AS (SELECT tok, ln((tc + 1)::DOUBLE / (tt.s + 256)) - " +
      "ln((rc + 1)::DOUBLE / (rt.s + 256)) AS lw " +
      "FROM vocab JOIN rawc USING (tok), tt, rt), " +
      "sc AS (SELECT d.doc_id, coalesce(sum(u.c), 0)::BIGINT AS n_feat, " +
      "round(coalesce(sum(u.c * u.lw), 0), 4) AS logw " +
      "FROM documents d LEFT JOIN " +
      "(SELECT tc.doc_id, tc.c, lr.lw FROM tc JOIN lr USING (tok)) u " +
      "ON d.doc_id = u.doc_id GROUP BY 1) " +
      "SELECT row_number() OVER (ORDER BY logw DESC, doc_id) AS rank, " +
      "doc_id, n_feat, logw FROM sc ORDER BY logw DESC, doc_id LIMIT 50"

  /** Exact top-10 over the plantedTopKEmb corpus — the oracle both
    * approximate searches (v2 SRP-LSH, v6 partial-probe IVF) are held to.
    */
  private lazy val plantedTopkSql: String =
    "WITH corpus AS (SELECT vec_id, embedding FROM embeddings " +
      "UNION ALL SELECT vec_id*100 + j + 200000 AS vec_id, " +
      "list_prepend((embedding[1] + (j/256.0)::FLOAT)::FLOAT, embedding[2:64]) AS embedding " +
      "FROM embeddings, range(1,11) t(j) WHERE vec_id < 5) " +
      ", q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5) " +
      s", s AS (SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos FROM corpus e, q WHERE e.vec_id <> q_id) " +
      ", r AS (SELECT q_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank, vec_id, cos FROM s) " +
      "SELECT q_id, rank::BIGINT AS rank, vec_id, cos FROM r WHERE rank <= 10 ORDER BY q_id, rank"

  /** Exact FILTERED top-5 over the labeled planted corpus — the v13
    * pre-filtered search is held to the exact answer under the same
    * label = 0 predicate (plants j % 2 = 0; organic rows keep their real
    * label).
    */
  private lazy val filteredTopkSql: String =
    "WITH corpus AS (SELECT vec_id, embedding, label FROM embeddings " +
      "UNION ALL SELECT vec_id*100 + j + 200000 AS vec_id, " +
      "list_prepend((embedding[1] + (j/256.0)::FLOAT)::FLOAT, embedding[2:64]) AS embedding, " +
      "(j % 2)::INT AS label " +
      "FROM embeddings, range(1,11) t(j) WHERE vec_id < 5) " +
      ", q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5) " +
      s", s AS (SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos " +
      "FROM corpus e, q WHERE e.vec_id <> q_id AND e.label = 0) " +
      ", r AS (SELECT q_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank, vec_id, cos FROM s) " +
      "SELECT q_id, rank::BIGINT AS rank, vec_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank"

  /** Exact top-5 over the planted corpus WITHOUT the odd-j plants — v14's
    * delete → compact → search lifecycle must return exactly the answer a
    * from-scratch rebuild over the remaining corpus would (the surviving
    * even-j plants are each query's true top-5).
    */
  private lazy val deletedTopkSql: String =
    "WITH corpus AS (SELECT vec_id, embedding FROM embeddings " +
      "UNION ALL SELECT vec_id*100 + j + 200000 AS vec_id, " +
      "list_prepend((embedding[1] + (j/256.0)::FLOAT)::FLOAT, embedding[2:64]) AS embedding " +
      "FROM embeddings, range(1,11) t(j) WHERE vec_id < 5 AND j % 2 = 0) " +
      ", q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5) " +
      s", s AS (SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos FROM corpus e, q WHERE e.vec_id <> q_id) " +
      ", r AS (SELECT q_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank, vec_id, cos FROM s) " +
      "SELECT q_id, rank::BIGINT AS rank, vec_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank"

  def oracleSql: Map[String, String] = {
    val aclOr = "(orgUUID = 'org1' OR isPublic)"
    // Connected components as a recursive reachability closure (the graph
    // is small after near-dup blocking, so the closure is cheap for the
    // oracle; the engine iterates pointer-jumping min-propagation). `mem`
    // is every document with its cluster rep (singletons rep themselves) —
    // shared by the d6 and p7 oracles.
    val clusterCte =
      JaccardCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ", chain AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id FROM documents a " +
        "JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 50 < 3) " +
        ", jp AS (SELECT a_id, b_id FROM jac WHERE jaccard >= 0.8 UNION SELECT a_id, b_id FROM chain) " +
        ", e AS (SELECT a_id AS u, b_id AS v FROM jp UNION SELECT b_id, a_id FROM jp) " +
        ", reach(u, v) AS (SELECT u, v FROM e UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u) " +
        ", lbl AS (SELECT u AS doc_id, least(u, min(v)) AS rep FROM reach GROUP BY u) " +
        ", mem AS (SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS cluster_rep " +
        "FROM documents d LEFT JOIN lbl l USING (doc_id)) "
    // exact cosine top-10 for query vectors vec_id < 5 — the answer v1
    // computes directly and v4 (IVF at full probe) must degrade to
    val exactTopkSql =
      "WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5) " +
        s", s AS (SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos FROM embeddings e, q WHERE e.vec_id <> q_id) " +
        ", r AS (SELECT q_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank, vec_id, cos FROM s) " +
        "SELECT q_id, rank::BIGINT AS rank, vec_id, cos FROM r WHERE rank <= 10 ORDER BY q_id, rank"
    // v20: the MMR greedy unrolled to k=5 chained steps — step i joins the
    // unpicked shortlist against the max-similarity-to-selected penalty
    // (selected = union of steps 1..i−1) and picks the argmax of
    // 7·rel_u − 3·pen_u in EXACT INTEGER 1e-7 units (round-6 cosines →
    // exact micros first), with vec_id ties — float rounding never
    // decides a pick, matching Similarity.mmrTopK's integer objective
    // parameterized over the corpus expression and shortlist size so the
    // brute-force form (v20) and the planted-geometry IVF composition
    // (v21, where partial-probe IVF provably returns the exact top-10)
    // share one generator
    def mmrGreedySql(corpusSql: String, fetch: Int): String = {
      val k = 5
      val sb = new StringBuilder
      sb ++= s"WITH corpus AS ($corpusSql), "
      sb ++= "q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5), "
      sb ++= s"s AS (SELECT q_id, e.vec_id, e.embedding, round(${cosSql("q_emb", "e.embedding")} * 1000000)::BIGINT AS cu " +
        "FROM corpus e, q WHERE e.vec_id <> q_id " +
        s"QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cu DESC, e.vec_id) <= $fetch), "
      sb ++= s"ps AS (SELECT a.q_id, a.vec_id AS a_id, b.vec_id AS b_id, round(${cosSql("a.embedding", "b.embedding")} * 1000000)::BIGINT AS su " +
        "FROM s a JOIN s b ON a.q_id = b.q_id AND a.vec_id <> b.vec_id), "
      sb ++= "sel1 AS (SELECT q_id, 1 AS rank, vec_id, 7*cu AS mmr_e7 FROM s " +
        "QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY 7*cu DESC, vec_id) = 1), "
      sb ++= "selu1 AS (SELECT * FROM sel1), "
      for (i <- 2 to k) {
        val prev = s"selu${i - 1}"
        sb ++= s"sel$i AS (SELECT q_id, $i AS rank, vec_id, mmr_e7 FROM (" +
          "SELECT c.q_id, c.vec_id, 7*c.cu - 3*p.pen AS mmr_e7, " +
          "row_number() OVER (PARTITION BY c.q_id ORDER BY 7*c.cu - 3*p.pen DESC, c.vec_id) AS rn " +
          "FROM s c JOIN (SELECT ps.q_id, ps.a_id, max(ps.su) AS pen FROM ps " +
          s"JOIN $prev t ON t.q_id = ps.q_id AND t.vec_id = ps.b_id GROUP BY 1, 2) p " +
          "ON p.q_id = c.q_id AND p.a_id = c.vec_id " +
          s"WHERE NOT EXISTS (SELECT 1 FROM $prev t2 WHERE t2.q_id = c.q_id AND t2.vec_id = c.vec_id)" +
          ") WHERE rn = 1), "
        sb ++= s"selu$i AS (SELECT * FROM $prev UNION ALL SELECT * FROM sel$i), "
      }
      sb.toString.stripSuffix(", ") +
        s" SELECT q_id, rank::BIGINT AS rank, vec_id, mmr_e7::BIGINT AS mmr_e7 FROM selu$k ORDER BY q_id, rank"
    }
    val mmrRerankSql = mmrGreedySql("SELECT vec_id, embedding FROM embeddings", 20)
    val mmrIvfSql = mmrGreedySql(
      "SELECT vec_id, embedding FROM embeddings " +
        "UNION ALL SELECT vec_id*100 + j + 200000 AS vec_id, " +
        "list_prepend((embedding[1] + (j/256.0)::FLOAT)::FLOAT, embedding[2:64]) AS embedding " +
        "FROM embeddings, range(1,11) t(j) WHERE vec_id < 5", 10)
    // q9: both retrieval arms re-derived independently (exact TF rank,
    // exact cosine rank), fused by the same two-term RRF sum — 1.0 cast
    // to DOUBLE so DuckDB doesn't take its DECIMAL division path
    val hybridRrfSql =
      s"WITH toks AS (SELECT doc_id, ${stdToks("text")} AS t FROM documents), " +
        "tf AS (SELECT doc_id, len(list_filter(t, x -> x = 'data'))::BIGINT AS tf FROM toks), " +
        "tr AS (SELECT doc_id, row_number() OVER (ORDER BY tf DESC, doc_id) AS t_rank " +
        "FROM tf WHERE tf > 0 QUALIFY t_rank <= 20), " +
        "q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0), " +
        s"vs AS (SELECT e.vec_id AS doc_id, ${cosSql("q_emb", "e.embedding")} AS cos " +
        "FROM embeddings e, q WHERE e.vec_id <> 0), " +
        "vr AS (SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS v_rank " +
        "FROM vs QUALIFY v_rank <= 20), " +
        "f AS (SELECT COALESCE(tr.doc_id, vr.doc_id) AS doc_id, " +
        "COALESCE(1.0::DOUBLE/(60+t_rank), 0) + COALESCE(1.0::DOUBLE/(60+v_rank), 0) AS rrf " +
        "FROM tr FULL OUTER JOIN vr ON tr.doc_id = vr.doc_id) " +
        "SELECT row_number() OVER (ORDER BY rrf DESC, doc_id)::BIGINT AS rank, doc_id, rrf " +
        "FROM f QUALIFY rank <= 10 ORDER BY rank"
    val stop = sqlList(graft.analyzers.Analyzers.EnglishStopwords)
    // The quality blend in EXACT integer arithmetic — the float-free twin of
    // TextAnalysis.qualityCol (see its scaladoc: HALF_UP round-6 of a single
    // rational via (10⁶·num + den/2) // den; float rounding diverges
    // cross-engine on .5e-6 boundaries)
    def qualCte(name: String): String =
      s", st AS (SELECT doc_id, len(t)::BIGINT AS nt, " +
        s"len(list_filter(t, x -> x IN $stop))::BIGINT AS ns, " +
        "len(list_distinct(t))::BIGINT AS nd FROM toks) " +
        s", $name AS (SELECT doc_id, CASE WHEN nt > 0 THEN " +
        "((1000000 * (2 * least(nt, 100) * nt + 150 * (ns + nd)) + 250 * nt) // (500 * nt)) / 1000000.0 " +
        "ELSE 0.0 END AS quality FROM st) "
    // the same blend kept as the integer MICROS (p12's coin compare)
    def microsCte(name: String): String =
      s", st AS (SELECT doc_id, len(t)::BIGINT AS nt, " +
        s"len(list_filter(t, x -> x IN $stop))::BIGINT AS ns, " +
        "len(list_distinct(t))::BIGINT AS nd FROM toks) " +
        s", $name AS (SELECT doc_id, CASE WHEN nt > 0 THEN " +
        "((1000000 * (2 * least(nt, 100) * nt + 150 * (ns + nd)) + 250 * nt) // (500 * nt)) " +
        "ELSE 0 END AS micros FROM st) "
    // the micros blend over an arbitrary source CTE/table (c6 needs it
    // for BOTH snapshot sides)
    def microsFor(src: String, name: String): String =
      s", tk_$name AS (SELECT doc_id, ${stdToks("text")} AS t FROM $src) " +
        s", st_$name AS (SELECT doc_id, len(t)::BIGINT AS nt, " +
        s"len(list_filter(t, x -> x IN $stop))::BIGINT AS ns, " +
        s"len(list_distinct(t))::BIGINT AS nd FROM tk_$name) " +
        s", $name AS (SELECT doc_id, CASE WHEN nt > 0 THEN " +
        "((1000000 * (2 * least(nt, 100) * nt + 150 * (ns + nd)) + 250 * nt) // (500 * nt)) " +
        s"ELSE 0 END AS micros FROM st_$name) "
    // t20/t21: per-token class counts → smoothed integer weights (reads
    // the micros CTE `q` for labels; `wts` is the full un-cut weight table)
    val classifierWtsCte =
      ", lab AS (SELECT doc_id, micros >= 500000 AS pos FROM q) " +
        ", tok AS (SELECT doc_id, unnest(t) AS token FROM toks) " +
        ", cnt AS (SELECT token, " +
        "sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS pc, " +
        "sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT AS nc " +
        "FROM tok JOIN lab USING (doc_id) GROUP BY 1) " +
        ", tot AS (SELECT sum(pc)::BIGINT AS pt, sum(nc)::BIGINT AS nt2, " +
        "count(*)::BIGINT AS v FROM cnt) " +
        ", wts AS (SELECT token, " +
        "(((1000000 * (pc + 1) + (pt + v) // 2) // (pt + v)) " +
        "- ((1000000 * (nc + 1) + (nt2 + v) // 2) // (nt2 + v)))::BIGINT AS weight_micros " +
        "FROM cnt, tot) "
    val langScores = TextAnalysis.LangProfiles.map { case (lang, ws) =>
      s"len(list_filter(t, x -> x IN ${sqlList(ws)})) AS $lang"
    }.mkString(", ")
    def score1(q: String): String =
      s"""(CASE WHEN contains(lower(title), '$q') THEN 3.0 ELSE 0.0 END
         | + CASE WHEN list_contains(${stdToks("dataSample")}, '$q') THEN 2.0 ELSE 0.0 END
         | + CASE WHEN list_contains(${uriToks("sourceUri")}, '$q') THEN 1.0 ELSE 0.0 END)""".stripMargin.replaceAll("\n", " ")
    val scoreRW =
      s"""(CASE WHEN contains(lower(title), 'red widget') THEN 3.0 ELSE 0.0 END
         | + (list_contains(${stdToks("dataSample")}, 'red')::INT + list_contains(${stdToks("dataSample")}, 'widget')::INT) / 2.0 * 2.0
         | + (list_contains(${uriToks("sourceUri")}, 'red')::INT + list_contains(${uriToks("sourceUri")}, 'widget')::INT) / 2.0 * 1.0)""".stripMargin.replaceAll("\n", " ")

    Map(
      "f1_equality" ->
        (M + "SELECT id, category FROM meta WHERE category = 'cat3' ORDER BY id"),
      "f2_set_membership" ->
        (M + "SELECT id, format FROM meta WHERE format IN ('csv','avro') ORDER BY id"),
      "f3_time_range" ->
        (M + "SELECT id, strftime(creationTime, '%Y-%m-%d') AS creation_date FROM meta " +
          "WHERE creationTime BETWEEN TIMESTAMP '2015-03-01 00:00:00' AND TIMESTAMP '2015-06-01 00:00:00' ORDER BY id"),
      "f3_open_range" ->
        (M + "SELECT id, strftime(creationTime, '%Y-%m-%d') AS creation_date FROM meta " +
          "WHERE creationTime <= TIMESTAMP '2015-02-01 00:00:00' ORDER BY id"),
      "f4_conjunction" ->
        (M + "SELECT id, category, format, isPublic AS is_public FROM meta " +
          "WHERE category = 'cat2' AND isPublic AND format IN ('csv','avro') ORDER BY id"),
      "f5_acl_default" ->
        (M + s"SELECT id, orgUUID AS org_uuid, isPublic AS is_public FROM meta WHERE $aclOr ORDER BY id"),
      "f5_only_private" ->
        (M + "SELECT id, orgUUID AS org_uuid, isPublic AS is_public FROM meta " +
          "WHERE orgUUID IN ('org1','org2') AND NOT isPublic ORDER BY id"),
      "f5_only_public" ->
        (M + "SELECT id, isPublic AS is_public FROM meta WHERE isPublic ORDER BY id"),
      "f6_whitelist_reject" -> "SELECT 'InvalidQuery' AS error",
      "f7_title_stemmed" ->
        (M + s"SELECT id, title FROM meta WHERE list_contains(" +
          s"list_transform(${stdToks("title")}, w -> ${stemSql("w")}), " +
          s"'${graft.analyzers.Analyzers.stem("rings")}') ORDER BY id"),
      "q4_idf_score" -> {
        def m(t: String) = s"list_contains(${stdToks("dataSample")}, '$t')"
        def idf(t: String) = s"ln(1 + n / (1 + df_$t))"
        M + ", nd AS (SELECT count(*)::DOUBLE AS n, " +
          s"sum(CASE WHEN ${m("red")} THEN 1 ELSE 0 END)::DOUBLE AS df_red, " +
          s"sum(CASE WHEN ${m("widget")} THEN 1 ELSE 0 END)::DOUBLE AS df_widget FROM meta) " +
          "SELECT id, score FROM (SELECT id, round(" +
          "CASE WHEN contains(lower(title), 'red widget') THEN 3.0 ELSE 0.0 END + " +
          s"(CASE WHEN ${m("red")} THEN ${idf("red")} ELSE 0.0 END + CASE WHEN ${m("widget")} THEN ${idf("widget")} ELSE 0.0 END) " +
          s"/ (${idf("red")} + ${idf("widget")}) * 2.0 + " +
          s"(list_contains(${uriToks("sourceUri")}, 'red')::INT + list_contains(${uriToks("sourceUri")}, 'widget')::INT) / 2.0 * 1.0" +
          ", 6) AS score FROM meta, nd) WHERE score > 0 ORDER BY score DESC, id"
      },
      "q5_tf_score" -> {
        def m(t: String) = s"list_contains(${stdToks("dataSample")}, '$t')"
        def tf(t: String) = s"ln(1 + len(list_filter(${stdToks("dataSample")}, x -> x = '$t')))"
        def idf(t: String) = s"ln(1 + n / (1 + df_$t))"
        M + ", meta5 AS (SELECT id, CASE WHEN cast(id AS INT) % 5 = 0 THEN dataSample || ' ' || dataSample ELSE dataSample END AS dataSample, title, sourceUri FROM meta)" +
          ", nd AS (SELECT count(*)::DOUBLE AS n, " +
          s"sum(CASE WHEN ${m("red")} THEN 1 ELSE 0 END)::DOUBLE AS df_red, " +
          s"sum(CASE WHEN ${m("widget")} THEN 1 ELSE 0 END)::DOUBLE AS df_widget FROM meta5) " +
          "SELECT id, score FROM (SELECT id, round(" +
          "CASE WHEN contains(lower(title), 'red widget') THEN 3.0 ELSE 0.0 END + " +
          s"(${tf("red")} * ${idf("red")} + ${tf("widget")} * ${idf("widget")}) / (${idf("red")} + ${idf("widget")}) * 2.0 + " +
          s"(list_contains(${uriToks("sourceUri")}, 'red')::INT + list_contains(${uriToks("sourceUri")}, 'widget')::INT) / 2.0 * 1.0" +
          ", 6) AS score FROM meta5, nd) WHERE score > 0 ORDER BY score DESC, id"
      },
      "x1_dsl_error" -> "SELECT 'InvalidQuery' AS error",
      "q1_text_score" ->
        (M + s"SELECT id, score FROM (SELECT id, ${score1("red")} AS score FROM meta) WHERE score > 0 ORDER BY score DESC, id"),
      "q1_uri_clause" ->
        (M + s"SELECT id, score FROM (SELECT id, ${score1("economy")} AS score FROM meta) WHERE score > 0 ORDER BY score DESC, id"),
      "q1_multiterm" ->
        (M + s"SELECT id, score FROM (SELECT id, $scoreRW AS score FROM meta) WHERE score > 0 ORDER BY score DESC, id"),
      // q15: the keyset page must equal the OFFSET page — the oracle is
      // the naive offset form over the same total order
      "q15_search_after" ->
        (M + s"SELECT id, score FROM (SELECT id, ${score1("red")} AS score FROM meta) " +
          "WHERE score > 0 ORDER BY score DESC, id OFFSET 20 LIMIT 10"),
      // q16: the same token/offset arithmetic over the same paged hits —
      // per field, pos = least first-occurrence over the two terms
      // (list_position 0→NULL), fragment = ±2 token window with the
      // matched token <em>-wrapped, concat_ws skipping empty flanks on
      // both engines
      "q16_highlight" -> {
        def fieldBranch(f: String): String = {
          val inner = s"SELECT id, score, ${stdToks(f)} AS t FROM hits"
          val pr = "nullif(list_position(t, 'red'), 0)"
          val pw = "nullif(list_position(t, 'widget'), 0)"
          s"SELECT id, score, '$f' AS field, " +
            "CASE WHEN pr = pos THEN 'red' WHEN pw = pos THEN 'widget' END AS term, " +
            "pos::BIGINT AS pos, " +
            "concat_ws(' ', nullif(array_to_string(t[greatest(1, pos - 2):(pos - 1)], ' '), ''), " +
            "'<em>' || t[pos] || '</em>', " +
            "nullif(array_to_string(t[(pos + 1):(pos + 2)], ' '), '')) AS frag " +
            s"FROM (SELECT id, score, t, $pr AS pr, $pw AS pw, least($pr, $pw) AS pos FROM ($inner)) " +
            "WHERE pos IS NOT NULL"
        }
        M + s", hp AS (SELECT id, title, dataSample, $scoreRW AS score FROM meta), " +
          "hits AS (SELECT * FROM hp WHERE score > 0 ORDER BY score DESC, id LIMIT 20) " +
          fieldBranch("title") + " UNION ALL " + fieldBranch("dataSample") +
          " ORDER BY score DESC, id, field"
      },
      // q14: the same integer interesting-term selection (tf desc, df
      // asc, term) over the seed's tokens, q4's ln-IDF sum round-6
      "q14_more_like_this" ->
        (M + s", seed AS (SELECT ${stdToks("dataSample")} AS t FROM meta WHERE id = '000042') " +
          ", terms AS (SELECT tok, count(*)::BIGINT AS tf FROM (SELECT unnest(t) AS tok FROM seed) GROUP BY 1) " +
          ", nd AS (SELECT count(*)::BIGINT AS n FROM meta) " +
          s", mt AS (SELECT id, unnest(list_distinct(${stdToks("dataSample")})) AS tok FROM meta) " +
          ", df AS (SELECT t.tok, t.tf, count(m.id)::BIGINT AS df FROM terms t " +
          "LEFT JOIN mt m ON m.tok = t.tok GROUP BY 1, 2) " +
          ", top AS (SELECT tok, df FROM df ORDER BY tf DESC, df ASC, tok LIMIT 5) " +
          ", sc AS (SELECT meta.id, round(sum(ln(1 + (SELECT n FROM nd) / (1.0 + top.df))), 6) AS score " +
          s"FROM meta JOIN top ON list_contains(${stdToks("meta.dataSample")}, top.tok) " +
          "WHERE meta.id <> '000042' GROUP BY 1) " +
          "SELECT id, score FROM sc WHERE score > 0 ORDER BY score DESC, id LIMIT 10"),
      // q13: the q1 'red' scoring chain collapsed per category — rank
      // within group by (score desc, id), keep ≤3, groups in top-hit
      // score order (ES collapse + inner_hits)
      "q13_collapse" ->
        (M + "SELECT category, rnk, id, score, top_score FROM (" +
          "SELECT category, id, score, " +
          "row_number() OVER (PARTITION BY category ORDER BY score DESC, id)::BIGINT AS rnk, " +
          "max(score) OVER (PARTITION BY category) AS top_score " +
          s"FROM (SELECT id, category, ${score1("red")} AS score FROM meta) WHERE score > 0) " +
          "WHERE rnk <= 3 ORDER BY top_score DESC, category, rnk"),
      // q12: per-term hits via the same analyzers (title substring,
      // std-token sample, uri-token source), gate at >= 2, q1 score
      "q12_min_should_match" -> {
        def hit(t: String) =
          s"(CASE WHEN contains(lower(title), '$t') " +
            s"OR list_contains(${stdToks("dataSample")}, '$t') " +
            s"OR list_contains(${uriToks("sourceUri")}, '$t') THEN 1 ELSE 0 END)"
        val terms = Seq("red", "widget", "gear")
        val nm = terms.map(hit).mkString(" + ")
        val sc =
          s"(CASE WHEN contains(lower(title), 'red widget gear') THEN 3.0 ELSE 0.0 END + " +
            terms.map(t => s"list_contains(${stdToks("dataSample")}, '$t')::INT")
              .mkString("(", " + ", ")") + " / 3.0 * 2.0 + " +
            terms.map(t => s"list_contains(${uriToks("sourceUri")}, '$t')::INT")
              .mkString("(", " + ", ")") + " / 3.0 * 1.0)"
        M + s"SELECT id, n_matched, score FROM (SELECT id, ($nm)::BIGINT AS n_matched, " +
          s"$sc AS score FROM meta) WHERE n_matched >= 2 ORDER BY score DESC, id"
      },
      "q2_pagination" ->
        (M + s"SELECT id, score FROM (SELECT id, ${score1("red")} AS score FROM meta) WHERE score > 0 ORDER BY score DESC, id LIMIT 10 OFFSET 5"),
      "q3_default_page" ->
        (M + s"SELECT id, score FROM (SELECT id, ${score1("red")} AS score FROM meta) WHERE score > 0 ORDER BY score DESC, id LIMIT 10 OFFSET 0"),
      "s1_store_scan" ->
        (M + "SELECT id FROM meta WHERE id BETWEEN '000001' AND '000050' ORDER BY id"),
      "s2_point_lookup" ->
        (M + "SELECT id, title FROM meta WHERE id = '000005'"),
      "s3_s4_s5_roundtrip" ->
        (M + "SELECT id, category, CASE WHEN id = '000002' THEN 'patched' ELSE title END AS title, " +
          "recordCount AS record_count FROM meta " +
          "WHERE id BETWEEN '000001' AND '000010' AND id <> '000003' ORDER BY id"),
      // s14: the final state carries exactly one CAS patch plus the created
      // id (title copied from 000001); the outcome constants must match
      "s14_cas_upsert" ->
        (M + "SELECT id, CASE WHEN id = '000002' THEN 'cas-patched' ELSE title END AS title, " +
          "false AS cas_stale_create, false AS cas_wrong_version, " +
          "true AS cas_applied, true AS cas_created, false AS cas_lost_update " +
          "FROM meta WHERE id BETWEEN '000001' AND '000005' " +
          "UNION ALL SELECT 'zcas01' AS id, " +
          "(SELECT title FROM meta WHERE id = '000001') AS title, " +
          "false, false, true, true, false " +
          "ORDER BY id"),
      "s6_bulk_isolation" ->
        (M + "SELECT id, 'loaded' AS status FROM meta WHERE id BETWEEN '000001' AND '000100' " +
          "UNION ALL SELECT 'zbad1', 'rejected' UNION ALL SELECT 'zbad2', 'rejected' ORDER BY id"),
      "s7_drop_reload" ->
        (M + "SELECT id, title FROM meta WHERE id = '000001'"),
      "s9_time_travel" ->
        (M + "SELECT id, title FROM meta WHERE id BETWEEN '000001' AND '000050' ORDER BY id"),
      // s18: the scripted life cycle replayed as literals — base images at
      // v1 (000010 closed at its first revision, 000020 at its delete),
      // the two 000010 revisions chaining 2→4→open, 000020's re-created
      // image opening at v6, the v5 insert open-ended
      "s18_scd2_history" ->
        (M + "SELECT id, title, CAST(1 AS BIGINT) AS valid_from, " +
          "CAST(CASE WHEN id = '000010' THEN 2 WHEN id = '000020' THEN 3 END AS BIGINT) AS valid_to " +
          "FROM meta WHERE id BETWEEN '000001' AND '000050' " +
          "UNION ALL SELECT '000010', 'rev-b', 2, 4 " +
          "UNION ALL SELECT '000010', 'rev-c', 4, NULL " +
          "UNION ALL SELECT '000020', 'reborn', 6, NULL " +
          "UNION ALL SELECT id, title, 5, NULL FROM meta WHERE id = '000200' " +
          "ORDER BY id, valid_from"),
      // s20: the maintained history replayed as literals — the v2 revision
      // closes 000010's base image, the v3 delete closes 000020's, the v4
      // insert opens 000200's
      "s20_history_maintenance" ->
        (M + "SELECT id, title, CAST(1 AS BIGINT) AS valid_from, " +
          "CAST(CASE WHEN id = '000010' THEN 2 WHEN id = '000020' THEN 3 END AS BIGINT) AS valid_to " +
          "FROM meta WHERE id BETWEEN '000001' AND '000050' " +
          "UNION ALL SELECT '000010', 'rev-b', 2, NULL " +
          "UNION ALL SELECT id, title, 4, NULL FROM meta WHERE id = '000200' " +
          "ORDER BY id, valid_from"),
      // s21: identical lifecycle to s20, read back from the persisted
      // bucket-partitioned layout after three in-place advances
      "s21_persisted_history" ->
        (M + "SELECT id, title, CAST(1 AS BIGINT) AS valid_from, " +
          "CAST(CASE WHEN id = '000010' THEN 2 WHEN id = '000020' THEN 3 END AS BIGINT) AS valid_to " +
          "FROM meta WHERE id BETWEEN '000001' AND '000050' " +
          "UNION ALL SELECT '000010', 'rev-b', 2, NULL " +
          "UNION ALL SELECT id, title, 4, NULL FROM meta WHERE id = '000200' " +
          "ORDER BY id, valid_from"),
      // s26: the same mutation script as s21 driven through the pair
      // manifest (crash + heal + redo leave no trace in the committed
      // state by design), so the expected table is s21's verbatim
      "s26_pair_commit" ->
        (M + "SELECT id, title, CAST(1 AS BIGINT) AS valid_from, " +
          "CAST(CASE WHEN id = '000010' THEN 2 WHEN id = '000020' THEN 3 END AS BIGINT) AS valid_to " +
          "FROM meta WHERE id BETWEEN '000001' AND '000050' " +
          "UNION ALL SELECT '000010', 'rev-b', 2, NULL " +
          "UNION ALL SELECT id, title, 4, NULL FROM meta WHERE id = '000200' " +
          "ORDER BY id, valid_from"),
      // s28: the three-arm literal replay — 000010's title patched but
      // its dataSample UNTOUCHED (null source fields keep current — the
      // merge-patch proof), 000020 gone, 000200 inserted, 000300 no-op
      "s28_merge_into" -> mergeSql,
      // e42: the same script delivered as a micro-batch CDC stream must
      // converge on the identical state — s28's oracle verbatim
      "e42_stream_merge" -> mergeSql,
      // s27: s26's lifecycle plus two 000030 revisions, read back AFTER
      // the re-base — compaction must not change the resolved history,
      // so the expected table is the plain SCD2 literal replay
      "s27_pair_rebase" ->
        (M + "SELECT id, title, CAST(1 AS BIGINT) AS valid_from, " +
          "CAST(CASE WHEN id = '000010' THEN 2 WHEN id = '000020' THEN 3 " +
          "WHEN id = '000030' THEN 5 END AS BIGINT) AS valid_to " +
          "FROM meta WHERE id BETWEEN '000001' AND '000050' " +
          "UNION ALL SELECT '000010', 'rev-b', 2, NULL " +
          "UNION ALL SELECT id, title, 4, NULL FROM meta WHERE id = '000200' " +
          "UNION ALL SELECT '000030', 'rev-c', 5, 6 " +
          "UNION ALL SELECT '000030', 'rev-d', 6, NULL " +
          "ORDER BY id, valid_from"),
      // s22: the persisted history after erasing 000010/000030 outright —
      // 000020's delete-closed interval SURVIVES (closed ≠ forgotten)
      "s22_history_takedown" ->
        (M + "SELECT id, title, CAST(1 AS BIGINT) AS valid_from, " +
          "CAST(CASE WHEN id = '000020' THEN 3 END AS BIGINT) AS valid_to " +
          "FROM meta WHERE id BETWEEN '000001' AND '000050' " +
          "AND id NOT IN ('000010', '000030') " +
          "ORDER BY id, valid_from"),
      // s23: the rebuilt history AFTER log redaction — same expected table
      // as s22 (redaction of the log ≡ purge of the materialized history
      // for the same ids, by construction), arrived at through segment
      // rewrites instead of bucket rewrites; the delete-closed 000020
      // interval again survives
      "s23_log_redaction" ->
        (M + "SELECT id, title, CAST(1 AS BIGINT) AS valid_from, " +
          "CAST(CASE WHEN id = '000020' THEN 3 END AS BIGINT) AS valid_to " +
          "FROM meta WHERE id BETWEEN '000001' AND '000050' " +
          "AND id NOT IN ('000010', '000030') " +
          "ORDER BY id, valid_from"),
      // e22: base slice 51-70 at v1 (bulk load); batch v2 updates 61-80
      // (closing 61-70's base intervals), batch v3 updates 51-55
      "e22_stream_history_fold" ->
        (M + "SELECT id, title, CAST(1 AS BIGINT) AS valid_from, " +
          "CAST(CASE WHEN id <= '000055' THEN 3 WHEN id >= '000061' THEN 2 END AS BIGINT) AS valid_to " +
          "FROM meta WHERE id BETWEEN '000051' AND '000070' " +
          "UNION ALL SELECT id, 'u-' || title, 2, NULL FROM meta WHERE id BETWEEN '000061' AND '000080' " +
          "UNION ALL SELECT id, 'w-' || title, 3, NULL FROM meta WHERE id BETWEEN '000051' AND '000055' " +
          "ORDER BY id, valid_from"),
      // s19: probe grid replayed as literals — 000010's title steps at its
      // revision versions, 000020 vanishes from v3 (deleted), 000030 holds
      "s19_asof_lookup" ->
        (M + ", probes AS (SELECT id, CAST(v AS BIGINT) AS as_of_version " +
          "FROM (VALUES ('000010'), ('000020'), ('000030')) ids(id) " +
          "CROSS JOIN (VALUES (1), (2), (3), (4)) vs(v)) " +
          "SELECT p.id, p.as_of_version, " +
          "CASE WHEN p.id = '000010' AND p.as_of_version >= 4 THEN 'rev-c' " +
          "WHEN p.id = '000010' AND p.as_of_version >= 2 THEN 'rev-b' " +
          "ELSE m.title END AS title " +
          "FROM probes p JOIN meta m USING (id) " +
          "WHERE NOT (p.id = '000020' AND p.as_of_version >= 3) " +
          "ORDER BY p.id, p.as_of_version"),
      // s13: vacuum is physical-only — the resolved table must equal the
      // logical state (patch applied, delete applied) with history gone
      "s13_retention_vacuum" ->
        (M + "SELECT id, CASE WHEN id = '000010' THEN 'patched' ELSE title END AS title " +
          "FROM meta WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' ORDER BY id"),
      "t8_corpus_stats" ->
        // ::BIGINT: DuckDB sum() yields HUGEINT, which lands in pandas as
        // float64 and hash-diverges from Spark's int64
        (T + "SELECT count(*) AS n_docs, sum(len(t))::BIGINT AS total_tokens, " +
          "round(avg(len(t)), 6) AS mean_tokens, " +
          "round(quantile_cont(len(t), 0.5), 6) AS median_tokens, " +
          "min(len(t)) AS min_tokens, max(len(t)) AS max_tokens FROM toks"),
      "p2_hash_split" ->
        ("SELECT doc_id, CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'val' ELSE 'test' END AS split " +
          "FROM (SELECT doc_id, ((doc_id * 2654435761) % 4294967296) % 100 AS b FROM documents) " +
          "ORDER BY doc_id"),
      "p3_decontaminate" ->
        (T + ", ng AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
          "range(1, len(t)-3), i -> array_to_string(t[i:i+4], ' ')))) AS ng FROM toks) " +
          ", ev AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 97 = 0) " +
          ", shared AS (SELECT g.doc_id, count(*) AS n_shared FROM ng g JOIN ev USING (ng) " +
          "WHERE g.doc_id % 97 <> 0 GROUP BY 1) " +
          "SELECT d.doc_id, coalesce(s.n_shared, 0) AS n_shared, " +
          "coalesce(s.n_shared, 0) > 0 AS contaminated " +
          "FROM documents d LEFT JOIN shared s USING (doc_id) " +
          "WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id"),
      // d17: the reverse direction — per-eval-doc overlap against the
      // train side's n-gram universe; fraction by the t9 integer round-6
      "d17_eval_overlap" ->
        (T + ", ng AS (SELECT doc_id, unnest(list_distinct(list_transform(" +
          "range(1, len(t)-3), i -> array_to_string(t[i:i+4], ' ')))) AS ng FROM toks) " +
          ", hit AS (SELECT DISTINCT e.ng FROM (SELECT DISTINCT ng FROM ng WHERE doc_id % 97 = 0) e " +
          "JOIN (SELECT DISTINCT ng FROM ng WHERE doc_id % 97 <> 0) t USING (ng)) " +
          ", per AS (SELECT g.doc_id, count(*) AS n_grams, " +
          "sum(CASE WHEN h.ng IS NOT NULL THEN 1 ELSE 0 END) AS n_hit " +
          "FROM ng g LEFT JOIN hit h USING (ng) WHERE g.doc_id % 97 = 0 GROUP BY 1) " +
          "SELECT d.doc_id, coalesce(p.n_grams, 0)::BIGINT AS n_grams, " +
          "coalesce(p.n_hit, 0)::BIGINT AS n_hit, " +
          "CASE WHEN coalesce(p.n_grams, 0) > 0 THEN " +
          "((1000000 * coalesce(p.n_hit, 0) + coalesce(p.n_grams, 0) // 2) " +
          "// coalesce(p.n_grams, 0)) / 1000000.0 ELSE 0.0 END AS dirty_frac, " +
          "coalesce(p.n_hit, 0) = 0 AS clean " +
          "FROM documents d LEFT JOIN per p USING (doc_id) " +
          "WHERE d.doc_id % 97 = 0 ORDER BY d.doc_id"),
      "x2_export" ->
        (M + "SELECT id, category, title FROM meta WHERE id BETWEEN '000001' AND '000100' ORDER BY id"),
      // s24: the scripted lifecycle's net row diff as literals — the
      // update surfaces with its NEW title, the delete with its OLD, the
      // insert as added; the other 48 rows (and the compaction
      // restatement) must NOT appear
      "s24_version_diff" ->
        (M + "SELECT id, 'changed' AS op, 'changed-title' AS title FROM meta WHERE id = '000010' " +
          "UNION ALL SELECT id, 'removed' AS op, title FROM meta WHERE id = '000020' " +
          "UNION ALL SELECT id, 'added' AS op, title FROM meta WHERE id = '000200' ORDER BY id"),
      "s10_changefeed" ->
        (M + "SELECT id, 'upsert' AS op, 'changed-title' AS title FROM meta WHERE id = '000010' " +
          "UNION ALL SELECT id, 'delete' AS op, title FROM meta WHERE id = '000020' " +
          "UNION ALL SELECT id, 'upsert' AS op, title FROM meta WHERE id = '000200' ORDER BY id"),
      "s11_cdc_apply" ->
        (M + "SELECT id, CASE WHEN id = '000010' THEN 'cdc-title' ELSE title END AS title " +
          "FROM meta WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' " +
          "UNION ALL SELECT id, title FROM meta WHERE id = '000200' ORDER BY id"),
      // s25: the same 60-bit md5 fingerprints over the reconstructed
      // expected state, the same fp-mod bucketing and mod-2^62 fold; the
      // same injective NULL/'|' field encoding as stateChecksum ('N' for
      // NULL, 'V'+escaped value, chr(92)-escaped delimiter)
      "s25_replica_checksum" ->
        (M + ", cur AS (SELECT id, CASE WHEN id = '000010' THEN 'cdc-title' ELSE title END AS title, " +
          "category FROM meta WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' " +
          "UNION ALL SELECT id, title, category FROM meta WHERE id = '000200'), " +
          "f AS (SELECT ('0x' || substring(md5(" +
          "CASE WHEN id IS NULL THEN 'N' ELSE 'V' || replace(replace(id, chr(92), chr(92) || chr(92)), '|', chr(92) || '|') END " +
          "|| '|' || CASE WHEN title IS NULL THEN 'N' ELSE 'V' || replace(replace(title, chr(92), chr(92) || chr(92)), '|', chr(92) || '|') END " +
          "|| '|' || CASE WHEN category IS NULL THEN 'N' ELSE 'V' || replace(replace(category, chr(92), chr(92) || chr(92)), '|', chr(92) || '|') END" +
          "), 1, 15))::BIGINT AS fp FROM cur) " +
          "SELECT fp % 16 AS bucket, count(*)::BIGINT AS n_rows, " +
          "((sum(fp)::HUGEINT) % 4611686018427387904)::BIGINT AS checksum " +
          "FROM f GROUP BY 1 ORDER BY 1"),
      // s12: the maintained aggregate equals a fresh aggregate over the
      // mutated final state (::BIGINT — DuckDB sum() yields HUGEINT)
      "s12_incremental_agg" ->
        (M + ", cur AS (SELECT CASE WHEN id = '000010' THEN 'catx' ELSE category END AS category, " +
          "recordCount FROM meta WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' " +
          "UNION ALL SELECT category, recordCount FROM meta WHERE id = '000200') " +
          "SELECT category, count(*) AS n_docs, sum(recordCount)::BIGINT AS sum_records " +
          "FROM cur GROUP BY 1 ORDER BY 1"),
      // s16: fresh join of the mutated store state against the mutated
      // dim — the feed-driven fold must land on it exactly (the moved
      // row's category is off-dim, so it leaves the inner-join view)
      "s16_store_view_feed" ->
        (M + ", cur AS (SELECT id, CASE WHEN id = '000010' THEN 'catx' ELSE category END AS category, " +
          "recordCount FROM meta WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' " +
          "UNION ALL SELECT id, category, recordCount FROM meta WHERE id = '000200'), " +
          "dim AS (SELECT DISTINCT category AS d_category, " +
          "CASE WHEN category = 'cat2' THEN 'lbl2-cat2' ELSE 'lbl-' || category END AS label " +
          "FROM meta WHERE id BETWEEN '000001' AND '000050') " +
          "SELECT id, category, recordCount, label FROM cur " +
          "JOIN dim ON category = d_category ORDER BY id"),
      // s17: the same fresh-join oracle as s15 — but the engine's answer
      // is read back from the ON-DISK view after an in-place partition
      // refresh, so the oracle checks the write path end-to-end
      "s17_persisted_join_view" ->
        ("WITH o0 AS (SELECT o_orderkey, " +
          "CASE WHEN o_orderkey = 13 THEN 5 ELSE o_custkey END AS o_custkey, " +
          "o_totalprice FROM orders WHERE o_orderkey <> 7 " +
          "UNION ALL SELECT -1::BIGINT, 1::BIGINT, 0.0), " +
          "c0 AS (SELECT c_custkey, " +
          "CASE WHEN c_custkey = 3 THEN 99 ELSE c_nationkey END AS c_nationkey " +
          "FROM customer) " +
          "SELECT o_orderkey, o_custkey, o_totalprice, c_custkey, c_nationkey " +
          "FROM o0 JOIN c0 ON o_custkey = c_custkey ORDER BY o_orderkey"),
      // s15: a fresh join over the mutated tables — the engine's
      // affected-slice fold must land on it exactly
      "s15_incremental_join_view" ->
        ("WITH o0 AS (SELECT o_orderkey, " +
          "CASE WHEN o_orderkey = 13 THEN 5 ELSE o_custkey END AS o_custkey, " +
          "o_totalprice FROM orders WHERE o_orderkey <> 7 " +
          "UNION ALL SELECT -1::BIGINT, 1::BIGINT, 0.0), " +
          "c0 AS (SELECT c_custkey, " +
          "CASE WHEN c_custkey = 3 THEN 99 ELSE c_nationkey END AS c_nationkey " +
          "FROM customer) " +
          "SELECT o_orderkey, o_custkey, o_totalprice, c_custkey, c_nationkey " +
          "FROM o0 JOIN c0 ON o_custkey = c_custkey ORDER BY o_orderkey"),
      // e15: a fresh doc-frequency recompute over base ∪ appended ids —
      // the stream's folded delta log must land on it exactly
      "e15_stream_idf_fold" ->
        (M + ", cur AS (SELECT dataSample FROM meta WHERE id <= '000090'), " +
          s"st AS (SELECT count(*) AS n, " +
          s"sum(CASE WHEN list_contains(${stdToks("dataSample")}, 'red') THEN 1 ELSE 0 END) AS dfr, " +
          s"sum(CASE WHEN list_contains(${stdToks("dataSample")}, 'widget') THEN 1 ELSE 0 END) AS dfw FROM cur), " +
          "x AS (SELECT 'red' AS term, dfr::BIGINT AS df, n::BIGINT AS n_docs FROM st " +
          "UNION ALL SELECT 'widget', dfw::BIGINT, n::BIGINT FROM st) " +
          "SELECT term, df, n_docs FROM x ORDER BY term"),
      // e16: the SAME fresh recompute as e15 — compaction must be
      // invisible to the folded statistic
      "e16_idf_log_compaction" ->
        (M + ", cur AS (SELECT dataSample FROM meta WHERE id <= '000090'), " +
          s"st AS (SELECT count(*) AS n, " +
          s"sum(CASE WHEN list_contains(${stdToks("dataSample")}, 'red') THEN 1 ELSE 0 END) AS dfr, " +
          s"sum(CASE WHEN list_contains(${stdToks("dataSample")}, 'widget') THEN 1 ELSE 0 END) AS dfw FROM cur), " +
          "x AS (SELECT 'red' AS term, dfr::BIGINT AS df, n::BIGINT AS n_docs FROM st " +
          "UNION ALL SELECT 'widget', dfw::BIGINT, n::BIGINT FROM st) " +
          "SELECT term, df, n_docs FROM x ORDER BY term"),
      // q8: a fresh doc-frequency recompute over the mutated final corpus —
      // the engine's feed-maintained table must land on it exactly
      "q8_idf_maintenance" ->
        (M + ", cur AS (SELECT CASE WHEN id = '000010' THEN 'maintained red red stream' " +
          "ELSE dataSample END AS dataSample FROM meta " +
          "WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' " +
          "UNION ALL SELECT dataSample FROM meta WHERE id = '000200'), " +
          s"st AS (SELECT count(*) AS n, " +
          s"sum(CASE WHEN list_contains(${stdToks("dataSample")}, 'red') THEN 1 ELSE 0 END) AS dfr, " +
          s"sum(CASE WHEN list_contains(${stdToks("dataSample")}, 'widget') THEN 1 ELSE 0 END) AS dfw FROM cur), " +
          "x AS (SELECT 'red' AS term, dfr::BIGINT AS df, n::BIGINT AS n_docs FROM st " +
          "UNION ALL SELECT 'widget', dfw::BIGINT, n::BIGINT FROM st) " +
          "SELECT term, df, n_docs FROM x ORDER BY term"),
      "t1_token_stats" ->
        (T + s"SELECT doc_id, len(t) AS n_tokens, len(list_distinct(t)) AS n_distinct, " +
          s"len(list_filter(t, x -> x IN $stop)) AS n_stopwords FROM toks ORDER BY doc_id"),
      // t29: the same lang-ID CASE per doc, grouped to (source, lang)
      // cells with within-source floor-div share micros
      // t30: identical structural counts (std tokens, non-blank sentence
      // segments min 1, vowel-group runs) and the same micros formula —
      // each // on non-negative operands, final subtraction exact longs
      "t30_readability" ->
        ("WITH m AS (SELECT doc_id, " +
          s"len(${stdToks("text")})::BIGINT AS w, " +
          "greatest(1, len(list_filter(string_split_regex(text, '[.!?]+'), " +
          "x -> trim(x) <> '')))::BIGINT AS s, " +
          "len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS y " +
          "FROM documents) " +
          "SELECT doc_id, w AS n_words, s AS n_sentences, y AS n_syllables, " +
          "(CASE WHEN w > 0 THEN 206835000 - (1015000 * w) // s - (84600000 * y) // w END)::BIGINT AS flesch_e6, " +
          "CASE WHEN w = 0 THEN NULL " +
          "WHEN 206835000 - (1015000 * w) // s - (84600000 * y) // w >= 60000000 THEN 'easy' " +
          "WHEN 206835000 - (1015000 * w) // s - (84600000 * y) // w >= 30000000 THEN 'medium' " +
          "ELSE 'hard' END AS band " +
          "FROM m ORDER BY doc_id"),
      "t29_language_mix" ->
        (T + s", sc AS (SELECT doc_id, $langScores FROM toks), " +
          "lg AS (SELECT d.source, CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en' " +
          "WHEN es >= de AND es >= fr AND es > 0 THEN 'es' WHEN de >= fr AND de > 0 THEN 'de' " +
          "WHEN fr > 0 THEN 'fr' ELSE 'unknown' END AS predicted_lang " +
          "FROM sc JOIN documents d USING (doc_id)), " +
          "g AS (SELECT source, predicted_lang, count(*)::BIGINT AS n_docs FROM lg GROUP BY 1, 2), " +
          "tt AS (SELECT source, sum(n_docs)::BIGINT AS n_src FROM g GROUP BY 1) " +
          "SELECT g.source, predicted_lang, n_docs, " +
          "((n_docs * 1000000) // n_src)::BIGINT AS share_e6 " +
          "FROM g JOIN tt ON g.source = tt.source ORDER BY g.source, predicted_lang"),
      "t2_lang_id" ->
        (T + s", sc AS (SELECT doc_id, $langScores FROM toks) " +
          "SELECT doc_id, CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en' " +
          "WHEN es >= de AND es >= fr AND es > 0 THEN 'es' WHEN de >= fr AND de > 0 THEN 'de' " +
          "WHEN fr > 0 THEN 'fr' ELSE 'unknown' END AS predicted_lang, " +
          "greatest(en, es, de, fr)::BIGINT AS lang_score FROM sc ORDER BY doc_id"),
      "t3_quality" ->
        (T + qualCte("qual") +
          "SELECT doc_id, quality FROM qual ORDER BY doc_id"),
      "p4_quality_sample" ->
        (T + qualCte("qual") +
          "SELECT doc_id, quality FROM qual " +
          "QUALIFY row_number() OVER (ORDER BY quality DESC, doc_id) <= (SELECT ceil(count(*) * 0.25) FROM qual) " +
          "ORDER BY doc_id"),
      // p15: t16's chain to scores, quantile_cont thresholds (the same
      // rank = q·(n−1) interpolation), value-threshold CASE
      "p19_dsir_sample" -> dsirSampleSql,
      // e24: the stream-folded raw model is an EXACT integer re-sum of the
      // batch count deltas, so the selection through it must equal the
      // batch-free p19 answer — the same oracle, verbatim
      "e24_stream_dsir_fold" -> dsirSampleSql,
      // p24: both score chains re-derived verbatim (p14's classifier
      // score, p19's DSIR logw), ranked by the same tie-broken total
      // orders, exact HUGEINT Spearman + overlap, XOR slice; tc/vocab/j
      // multiply-referenced → MATERIALIZED (the t31 rule)
      "p24_selection_agreement" ->
        (T + microsCte("q") + classifierWtsCte +
          ", topw AS (SELECT token, weight_micros FROM wts " +
          "ORDER BY abs(weight_micros) DESC, token LIMIT 256) " +
          ", sc AS (SELECT t.doc_id, sum(coalesce(w.weight_micros, 0))::BIGINT AS s " +
          "FROM tok t LEFT JOIN topw w USING (token) GROUP BY 1) " +
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
      "p16_epoch_shuffle" ->
        ("WITH h AS (SELECT doc_id, " +
          "((doc_id + 3 * 1000003) * 2654435761) % 4294967296 AS hv FROM documents) " +
          "SELECT doc_id, hv % 8 AS shard, " +
          "row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS pos " +
          "FROM h ORDER BY shard, pos"),
      "p15_perplexity_buckets" ->
        (T + ", bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg FROM toks), " +
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
      // p13: the tempered-share selection recomputed naively — sqrt of the
      // natural share, floor-quantized to e-12 units, normalized, same coin
      "p13_temperature_mix" ->
        (T + ", dt AS (SELECT t.doc_id, d.source, len(t.t)::BIGINT AS n_tok " +
          "FROM toks t JOIN documents d ON t.doc_id = d.doc_id), " +
          "bysrc AS (SELECT source, sum(n_tok) AS src_tok FROM dt GROUP BY 1), " +
          "tot AS (SELECT sum(n_tok)::DOUBLE AS corpus_tok FROM dt), " +
          "w AS (SELECT source, src_tok, corpus_tok, " +
          "floor(sqrt(src_tok::DOUBLE / corpus_tok) * 1e12)::BIGINT AS q FROM bysrc, tot), " +
          "qt AS (SELECT sum(q)::DOUBLE AS q_tot FROM w), " +
          "frac AS (SELECT source, least(1.0, 0.5 * corpus_tok * " +
          "(q::DOUBLE / q_tot) / src_tok) AS kf FROM w, qt) " +
          "SELECT doc_id, source, n_tok FROM dt JOIN frac USING (source) " +
          "WHERE ((doc_id * 2654435761) % 4294967296) % 1000000 < kf * 1000000 " +
          "ORDER BY doc_id"),
      // p14: the classifier score recomputed from scratch (the t21 chain),
      // min-max normalized to keep-micros by the same integer HALF_UP
      // division, same coin
      "p14_classifier_sample" ->
        (T + microsCte("q") + classifierWtsCte +
          ", topw AS (SELECT token, weight_micros FROM wts " +
          "ORDER BY abs(weight_micros) DESC, token LIMIT 256) " +
          ", sc AS (SELECT t.doc_id, sum(coalesce(w.weight_micros, 0))::BIGINT AS s " +
          "FROM tok t LEFT JOIN topw w USING (token) GROUP BY 1) " +
          ", sc2 AS (SELECT d.doc_id, coalesce(s, 0)::BIGINT AS score_micros " +
          "FROM documents d LEFT JOIN sc USING (doc_id)) " +
          ", b AS (SELECT min(score_micros) AS lo, max(score_micros) AS hi FROM sc2) " +
          ", k AS (SELECT doc_id, score_micros, CASE WHEN hi = lo THEN 1000000 " +
          "ELSE (1000000 * (score_micros - lo) + (hi - lo) // 2) // (hi - lo) " +
          "END::BIGINT AS keep_micros FROM sc2, b) " +
          "SELECT doc_id, score_micros, keep_micros FROM k " +
          "WHERE ((doc_id * 2654435761) % 4294967296) % 1000000 < keep_micros " +
          "ORDER BY doc_id"),
      // p12: the same Knuth coin as p2/p8, but compared to the per-doc
      // quality MICROS integer — exact integer vs integer on both engines
      "p12_weighted_sample" ->
        (T + microsCte("q") +
          "SELECT doc_id, micros / 1000000.0 AS quality FROM q " +
          "WHERE ((doc_id * 2654435761) % 4294967296) % 1000000 < micros " +
          "ORDER BY doc_id"),
      "p5_pack_sequences" ->
        (T + ", c AS (SELECT doc_id, doc_id % 32 AS shard, len(t)::BIGINT AS n_tokens FROM toks) " +
          ", o AS (SELECT doc_id, shard, n_tokens, " +
          "(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS start_offset FROM c) " +
          "SELECT doc_id, shard, n_tokens, start_offset, " +
          "(shard * 1000000 + start_offset // 512)::BIGINT AS pack_id FROM o ORDER BY doc_id"),
      // p22: the FFD scan replayed EXACTLY as a recursive CTE over the
      // (len desc, doc_id) rank order — state is each shard's bin-load
      // LIST, one rank consumed per recursion step across all shards in
      // parallel; list_position finds the first fitting bin (coalesce/=0
      // is the not-found branch: this build returns 0, others NULL)
      "p22_pack_ffd" -> {
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
      },
      "p6_stratified_sample" ->
        (T + s", sc AS (SELECT doc_id, $langScores FROM toks) " +
          ", lang AS (SELECT doc_id, CASE WHEN en >= es AND en >= de AND en >= fr AND en > 0 THEN 'en' " +
          "WHEN es >= de AND es >= fr AND es > 0 THEN 'es' WHEN de >= fr AND de > 0 THEN 'de' " +
          "WHEN fr > 0 THEN 'fr' ELSE 'unknown' END AS lang FROM sc) " +
          qualCte("qual") +
          ", ranked AS (SELECT l.doc_id, lang, quality, " +
          "row_number() OVER (PARTITION BY lang ORDER BY quality DESC, l.doc_id)::BIGINT AS rank " +
          "FROM lang l JOIN qual USING (doc_id)) " +
          "SELECT doc_id, lang, quality, rank FROM ranked WHERE rank <= 50 ORDER BY doc_id"),
      // p8: same Knuth-hash selection as p2, fractions from the per-source
      // token totals and the linear share recipe (src k → (k+1)/210)
      "p8_domain_mix" ->
        (T + ", dt AS (SELECT t.doc_id, d.source, len(t.t)::BIGINT AS n_tok " +
          "FROM toks t JOIN documents d ON t.doc_id = d.doc_id), " +
          "bysrc AS (SELECT source, sum(n_tok) AS src_tok FROM dt GROUP BY 1), " +
          "tot AS (SELECT sum(n_tok)::DOUBLE AS corpus_tok FROM dt), " +
          "frac AS (SELECT source, least(1.0, 0.5 * corpus_tok * " +
          "((substr(source, 4)::INT + 1) / 210.0) / src_tok) AS kf FROM bysrc, tot) " +
          "SELECT doc_id, source, n_tok FROM dt JOIN frac USING (source) " +
          "WHERE ((doc_id * 2654435761) % 4294967296) % 1000000 < kf * 1000000 " +
          "ORDER BY doc_id"),
      // p9: the export roundtrip — every document exactly once, shard
      // recomputed by the same portable Knuth-hash formula, text by md5
      "p9_shard_export" ->
        ("SELECT doc_id, ((doc_id * 2654435761) % 4294967296) % 8 AS shard, " +
          "md5(text) AS text_md5 FROM documents ORDER BY doc_id"),
      // p17: the delivered corpus minus the three lowest doc_ids
      "p17_corpus_takedown" ->
        ("SELECT doc_id, ((doc_id * 2654435761) % 4294967296) % 8 AS shard, " +
          "md5(text) AS text_md5 FROM documents " +
          "WHERE doc_id NOT IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 3) " +
          "ORDER BY doc_id"),
      // e23: the corpus minus the five lowest doc_ids, whatever the
      // notice batch boundaries or replay schedule
      "e23_stream_takedown" ->
        ("SELECT doc_id, ((doc_id * 2654435761) % 4294967296) % 8 AS shard, " +
          "md5(text) AS text_md5 FROM documents " +
          "WHERE doc_id NOT IN (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 5) " +
          "ORDER BY doc_id"),
      // p18: the corpus minus the first source — IS DISTINCT FROM keeps
      // any null-source row, matching the null-survives erasure rule
      "p18_source_revocation" ->
        ("SELECT doc_id, source, md5(text) AS text_md5 FROM documents " +
          "WHERE source IS DISTINCT FROM (SELECT min(source) FROM documents) " +
          "ORDER BY doc_id"),
      "t12_distinct_profile" ->
        (T + ", tc AS (SELECT d.source, tok, count(*) AS c FROM " +
          "(SELECT doc_id, unnest(t) AS tok FROM toks) u JOIN documents d USING (doc_id) " +
          "GROUP BY 1, 2) " +
          ", ds AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY 1) " +
          "SELECT source, n_docs, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_distinct " +
          "FROM tc JOIN ds USING (source) GROUP BY source, n_docs ORDER BY source"),
      // t15: seed keyword selection follows t13's rounding/tie rule; the
      // per-document score sums ≤ kTerms products, rounded to 6
      "t15_more_like_this" ->
        (T + ", tc AS (SELECT doc_id, unnest(t) AS tok FROM toks), " +
          "c AS (SELECT doc_id, tok, count(*)::BIGINT AS c FROM tc GROUP BY 1, 2), " +
          "df AS (SELECT tok, count(*)::BIGINT AS df FROM c GROUP BY tok), " +
          "n AS (SELECT count(*)::DOUBLE AS n FROM documents), " +
          "seed AS (SELECT tok, ln(n / df) AS idf FROM c JOIN df USING (tok), n " +
          "WHERE doc_id = 42 ORDER BY round(c * ln(n / df), 6) DESC, tok LIMIT 5), " +
          "sc AS (SELECT doc_id, round(sum(c * idf), 6) AS score FROM c JOIN seed USING (tok) " +
          "WHERE doc_id <> 42 GROUP BY 1) " +
          "SELECT doc_id, score FROM sc ORDER BY score DESC, doc_id LIMIT 10"),
      // t14: interpolated percentiles share the rank = q·(n−1) rule between
      // Spark's percentile and DuckDB's quantile_cont — values match exactly
      "t14_length_profile" ->
        (T + ", dt AS (SELECT t.doc_id, d.source, len(t.t)::BIGINT AS n_tok " +
          "FROM toks t JOIN documents d ON t.doc_id = d.doc_id) " +
          "SELECT source, count(*)::BIGINT AS n_docs, " +
          "round(quantile_cont(n_tok, 0.25), 6) AS p25, " +
          "round(quantile_cont(n_tok, 0.5), 6) AS p50, " +
          "round(quantile_cont(n_tok, 0.75), 6) AS p75, " +
          "round(quantile_cont(n_tok, 0.9), 6) AS p90, " +
          "max(n_tok) AS max_tok FROM dt GROUP BY source ORDER BY source"),
      // t13: per-doc TF·IDF keywords — same (doc, term)-count base as t11,
      // df = distinct docs per term, deterministic (score desc, term) top-3
      "t13_keywords" ->
        (T + ", tc AS (SELECT doc_id, unnest(t) AS tok FROM toks), " +
          "c AS (SELECT doc_id, tok, count(*) AS c FROM tc GROUP BY 1, 2), " +
          "df AS (SELECT tok, count(*) AS df FROM c GROUP BY tok), " +
          "n AS (SELECT count(*)::DOUBLE AS n FROM documents), " +
          "scored AS (SELECT doc_id, tok, round(c * ln(n / df), 6) AS tfidf, " +
          "row_number() OVER (PARTITION BY doc_id ORDER BY round(c * ln(n / df), 6) DESC, tok) AS rank " +
          "FROM c JOIN df USING (tok), n) " +
          "SELECT doc_id, rank::BIGINT AS rank, tok AS term, tfidf FROM scored " +
          "WHERE rank <= 3 ORDER BY doc_id, rank"),
      // t11: corpus-unigram cross-entropy — vocabulary, grand total, and
      // per-doc token counts all from the same exploded-token aggregate
      "t11_unigram_lm" ->
        (T + ", tc AS (SELECT doc_id, tok, count(*) AS c " +
          "FROM (SELECT doc_id, unnest(t) AS tok FROM toks) GROUP BY 1, 2), " +
          "vocab AS (SELECT tok, sum(c) AS vc FROM tc GROUP BY 1), " +
          "tot AS (SELECT sum(vc)::DOUBLE AS n FROM vocab) " +
          "SELECT doc_id, round(sum(c * -ln(vc::DOUBLE / n)) / sum(c), 4) AS xent " +
          "FROM tc JOIN vocab USING (tok), tot GROUP BY doc_id ORDER BY doc_id"),
      "x3_jsonl_roundtrip" ->
        ("SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars " +
          "FROM documents ORDER BY doc_id"),
      "t4_fingerprint" ->
        (T + "SELECT doc_id, md5(array_to_string(t, ' ')) AS fingerprint FROM toks ORDER BY doc_id"),
      "t5_top_bigrams" ->
        (T + ", bg AS (SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS ngram FROM toks) " +
          "SELECT ngram, count(*) AS cnt FROM bg GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT 20"),
      "t6_rolling_fp" ->
        (T + "SELECT doc_id, list_reduce(list_prepend(0::BIGINT, " +
          "list_transform(t, w -> list_sum(list_transform(range(1, len(w)+1), i -> ord(substr(w, i, 1))))::BIGINT)), " +
          "(acc, x) -> (acc * 31 + x) % 2147483647) AS rolling_fp FROM toks ORDER BY doc_id"),
      "t7_token_counts" ->
        // whitespace as an explicit class (java \s ⊃ RE2 \s: vertical tab)
        ("SELECT doc_id, len(regexp_extract_all(text, '[^ \\t\\n\\r]+')) AS n_ws_tokens, " +
          "len(regexp_extract_all(lower(text), '''(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 \\t\\n\\r]+')) AS n_bpe_tokens " +
          "FROM documents ORDER BY doc_id"),
      // t17: DuckDB independently re-derives the FIRST merge (same
      // weighted pair argmax, same count-desc/lex tie-break) and replays
      // it with the same wrapped-string replace arithmetic — the exact
      // one-merge token count is a closed form (chars − occurrences,
      // each replace shortening the wrapper by 2); the full-table
      // invariants are pinned true
      "t17_bpe_tokenize" ->
        (T + ", words AS (SELECT unnest(t) AS w FROM toks), " +
          "wc AS (SELECT w, count(*) AS cnt FROM words GROUP BY 1), " +
          "pr AS (SELECT w[i:i] AS a, w[i+1:i+1] AS b, cnt " +
          "FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM wc)), " +
          "top AS (SELECT a, b FROM pr GROUP BY a, b ORDER BY sum(cnt) DESC, a, b LIMIT 1), " +
          "app AS (SELECT cnt, len(w) - (len(wr) - len(replace(wr, ' '||a||'  '||b||' ', ' '||a||b||' ')))//2 AS toks1 " +
          "FROM (SELECT w, cnt, regexp_replace(w, '(.)', ' \\1 ', 'g') AS wr FROM wc), top) " +
          "SELECT 20::BIGINT AS n_merges, (SELECT a||'+'||b FROM top) AS first_merge, " +
          "(SELECT count(*) FROM words)::BIGINT AS total_words, " +
          "(SELECT sum(len(w)) FROM words)::BIGINT AS total_chars, " +
          "(SELECT sum(cnt*toks1) FROM app)::BIGINT AS tokens_after_first, " +
          "true AS compresses, true AS roundtrip_ok"),
      // t19: first merge re-derived independently (the t17 argmax CTE);
      // the merge-sequence equality, full-train flag, monotone
      // compression and roundtrip gates are engine-side invariants the
      // oracle pins as expected constants (the t17 discipline), and
      // total_words/total_chars are recomputed from scratch
      "t19_bpe_local_train" ->
        (T + ", words AS (SELECT unnest(t) AS w FROM toks), " +
          "wc AS (SELECT w, count(*) AS cnt FROM words GROUP BY 1), " +
          "pr AS (SELECT w[i:i] AS a, w[i+1:i+1] AS b, cnt " +
          "FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM wc)), " +
          "top AS (SELECT a, b FROM pr GROUP BY a, b ORDER BY sum(cnt) DESC, a, b LIMIT 1) " +
          "SELECT (SELECT a||'+'||b FROM top) AS first_merge, " +
          "true AS dist_prefix_match, true AS exhausted_beyond_gate, " +
          "(SELECT count(*) FROM words)::BIGINT AS total_words, " +
          "(SELECT sum(len(w)) FROM words)::BIGINT AS total_chars, " +
          "true AS monotone_compresses, true AS roundtrip_ok"),
      // t20/t21: the classifier recomputed from scratch — same labels
      // (quality micros ≥ 5e5), same Laplace-smoothed integer weights
      // ((10⁶·(c+1) + ⌊den/2⌋) // den with den = class_total + |vocab|),
      // same top-256 |weight| cut; scoring re-derived by explode + join +
      // integer sum (order-free, so no fold-order pin needed)
      "t20_classifier_weights" ->
        (T + microsCte("q") + classifierWtsCte +
          "SELECT token, weight_micros FROM wts " +
          "ORDER BY abs(weight_micros) DESC, token LIMIT 256"),
      // t22: the honest form — the classifier retrained FROM SCRATCH over
      // the effective corpus (all docs minus the removals, doc 10's text
      // replaced); the engine's delta fold must be value-invisible
      "t22_classifier_maintenance" ->
        ("WITH docs2 AS (SELECT doc_id, CASE WHEN doc_id = 10 " +
          "THEN text || ' maintained maintained quality' ELSE text END AS text " +
          "FROM documents WHERE doc_id NOT IN (7, 21)), " +
          s"toks AS (SELECT doc_id, ${stdToks("text")} AS t FROM docs2) " +
          microsCte("q") + classifierWtsCte +
          "SELECT token, weight_micros FROM wts " +
          "ORDER BY abs(weight_micros) DESC, token LIMIT 256"),
      "t21_classifier_score" ->
        (T + microsCte("q") + classifierWtsCte +
          ", topw AS (SELECT token, weight_micros FROM wts " +
          "ORDER BY abs(weight_micros) DESC, token LIMIT 256) " +
          ", sc AS (SELECT t.doc_id, sum(coalesce(w.weight_micros, 0))::BIGINT AS s " +
          "FROM tok t LEFT JOIN topw w USING (token) GROUP BY 1) " +
          "SELECT d.doc_id, coalesce(s, 0)::BIGINT AS score_micros, " +
          "coalesce(s, 0) > 0 AS predicted_hq " +
          "FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id"),
      // t23: the reference-label chain recomputed from scratch — pos =
      // membership in the curated source slice, same smoothed weights
      "t23_reference_classifier" ->
        (T + ", lab AS (SELECT doc_id, source IN ('src0','src1','src2','src3','src4') AS pos " +
          "FROM documents) " +
          ", tok AS (SELECT doc_id, unnest(t) AS token FROM toks) " +
          ", cnt AS (SELECT token, " +
          "sum(CASE WHEN pos THEN 1 ELSE 0 END)::BIGINT AS pc, " +
          "sum(CASE WHEN pos THEN 0 ELSE 1 END)::BIGINT AS nc " +
          "FROM tok JOIN lab USING (doc_id) GROUP BY 1) " +
          ", tot AS (SELECT sum(pc)::BIGINT AS pt, sum(nc)::BIGINT AS nt2, " +
          "count(*)::BIGINT AS v FROM cnt) " +
          ", wts AS (SELECT token, " +
          "(((1000000 * (pc + 1) + (pt + v) // 2) // (pt + v)) " +
          "- ((1000000 * (nc + 1) + (nt2 + v) // 2) // (nt2 + v)))::BIGINT AS weight_micros " +
          "FROM cnt, tot) " +
          "SELECT token, weight_micros FROM wts " +
          "ORDER BY abs(weight_micros) DESC, token LIMIT 256"),
      // e19: the streamed fold must equal the from-scratch retrain over
      // the whole corpus — t20's oracle verbatim
      "e19_stream_classifier_fold" ->
        (T + microsCte("q") + classifierWtsCte +
          "SELECT token, weight_micros FROM wts " +
          "ORDER BY abs(weight_micros) DESC, token LIMIT 256"),
      // e27: compaction is invisible to the statistic — same from-scratch
      // retrain oracle as e19
      "e27_classifier_log_compaction" ->
        (T + microsCte("q") + classifierWtsCte +
          "SELECT token, weight_micros FROM wts " +
          "ORDER BY abs(weight_micros) DESC, token LIMIT 256"),
      // e18: the streamed scoring must equal the batch scorer — t21's
      // oracle verbatim
      "e18_stream_classifier" ->
        (T + microsCte("q") + classifierWtsCte +
          ", topw AS (SELECT token, weight_micros FROM wts " +
          "ORDER BY abs(weight_micros) DESC, token LIMIT 256) " +
          ", sc AS (SELECT t.doc_id, sum(coalesce(w.weight_micros, 0))::BIGINT AS s " +
          "FROM tok t LEFT JOIN topw w USING (token) GROUP BY 1) " +
          "SELECT d.doc_id, coalesce(s, 0)::BIGINT AS score_micros, " +
          "coalesce(s, 0) > 0 AS predicted_hq " +
          "FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id"),
      // t24: the five rules recomputed naively — same cross-multiplied
      // integer compares, same literal probes
      "t24_gopher_rules" ->
        (T + ", g AS (SELECT d.doc_id, t, len(t)::BIGINT AS n, " +
          "len(array_to_string(t, ''))::BIGINT AS sl, " +
          "((len(text) - len(replace(text, '#', ''))) " +
          "+ (len(text) - len(replace(text, '...', ''))) // 3)::BIGINT AS sym, " +
          "len(list_filter(t, x -> regexp_matches(x, '[a-z]')))::BIGINT AS na, " +
          "len(list_filter(['the','be','to','of','and','that','have','with'], " +
          "s -> list_contains(t, s)))::BIGINT AS nr " +
          "FROM toks JOIN documents d USING (doc_id)) " +
          "SELECT doc_id, n AS n_tokens, " +
          "(n >= 50 AND n <= 100000) AS word_count_ok, " +
          "(sl >= 3 * n AND sl <= 10 * n) AS word_length_ok, " +
          "(10 * sym <= n) AS symbol_ratio_ok, " +
          "(5 * na >= 4 * n) AS alpha_ratio_ok, " +
          "(nr >= 2) AS stopword_ok, " +
          "((n >= 50 AND n <= 100000) AND (sl >= 3 * n AND sl <= 10 * n) " +
          "AND (10 * sym <= n) AND (5 * na >= 4 * n) AND (nr >= 2)) AS pass " +
          "FROM g ORDER BY doc_id"),
      // t26: ranks from the naive global row_number (the engine's bucketed
      // prefix sum must be value-invisible), min-rank-decile first
      // occurrences, cumulative sums over the decile spine
      // t28: same regexp symbol class, same trailing-empty-keeping line
      // split (DuckDB string_split ≡ Spark split limit -1), same
      // cross-multiplied flag
      "t28_code_profile" ->
        ("WITH p AS (SELECT doc_id, " +
          "len(regexp_extract_all(text, '[{}();=<>\\[\\]]'))::BIGINT AS n_sym, " +
          "len(string_split(text, chr(10)))::BIGINT AS n_lines, " +
          "len(list_filter(string_split(text, chr(10)), x -> regexp_matches(x, '^[ \\t]')))::BIGINT AS n_indented, " +
          "length(text)::BIGINT AS n_chars FROM documents) " +
          "SELECT doc_id, n_sym, n_indented, n_lines, " +
          "(CASE WHEN n_chars > 0 THEN (n_sym * 1000000) // n_chars ELSE 0 END)::BIGINT AS sym_e6, " +
          "(CASE WHEN n_chars > 0 THEN (n_sym * 1000000) // n_chars ELSE 0 END) > 20000 " +
          "OR n_indented * 10 >= n_lines * 3 AS is_code " +
          "FROM p ORDER BY doc_id"),
      // t27: same token counts, same (freq desc, tok) top-20, same
      // floor-divided rank·freq/f1 micros
      "t27_zipf_check" ->
        (T + ", wds AS (SELECT unnest(t) AS tok FROM toks), " +
          "v AS (SELECT tok, count(*)::BIGINT AS freq FROM wds GROUP BY 1), " +
          "top AS (SELECT row_number() OVER (ORDER BY freq DESC, tok)::BIGINT AS rank, " +
          "tok, freq FROM v ORDER BY freq DESC, tok LIMIT 20), " +
          "f1 AS (SELECT max(freq) AS f1 FROM top) " +
          "SELECT rank, tok, freq, (rank * freq)::BIGINT AS rank_freq, " +
          "((rank::HUGEINT * freq * 1000000) // f1)::BIGINT AS zipf_e6 " +
          "FROM top, f1 ORDER BY rank"),
      // p20: same whitespace token count, same CASE-chain cap assignment,
      // same clipped sums and floor-divided efficiency micros
      "p20_padding_efficiency" ->
        ("WITH t AS (SELECT len(regexp_extract_all(text, '[^ \\t\\n\\r]+'))::BIGINT AS toks " +
          "FROM documents), " +
          "b AS (SELECT CASE WHEN toks <= 16 THEN 16 WHEN toks <= 32 THEN 32 " +
          "WHEN toks <= 64 THEN 64 ELSE 128 END::BIGINT AS cap, " +
          "least(toks, 128) AS tk FROM t) " +
          "SELECT cap, count(*)::BIGINT AS n_docs, sum(tk)::BIGINT AS sum_tokens, " +
          "(count(*) * cap)::BIGINT AS padded, " +
          "(count(*) * cap - sum(tk))::BIGINT AS waste, " +
          "((sum(tk) * 1000000) // (count(*) * cap))::BIGINT AS eff_e6 " +
          "FROM b GROUP BY cap ORDER BY cap"),
      "t26_vocab_growth" ->
        (T + ", r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS rnk, " +
          "count(*) OVER () AS n FROM documents), " +
          "dd AS (SELECT doc_id, ((rnk - 1) * 10) // n + 1 AS dec FROM r), " +
          "pd AS (SELECT dec, count(*)::BIGINT AS docs, " +
          "sum(coalesce(len(t), 0))::BIGINT AS toks FROM dd JOIN toks USING (doc_id) GROUP BY 1), " +
          "fo AS (SELECT tok, min(dec) AS dec FROM " +
          "(SELECT doc_id, unnest(t) AS tok FROM toks) u JOIN dd USING (doc_id) GROUP BY 1), " +
          "nv AS (SELECT dec, count(*)::BIGINT AS vnew FROM fo GROUP BY 1), " +
          "sp AS (SELECT range + 1 AS dec FROM range(10)), " +
          "m AS (SELECT sp.dec, coalesce(docs, 0) AS docs, coalesce(toks, 0) AS toks, " +
          "coalesce(vnew, 0) AS vnew FROM sp LEFT JOIN pd USING (dec) LEFT JOIN nv USING (dec)) " +
          "SELECT dec::BIGINT AS decile, sum(docs) OVER (ORDER BY dec)::BIGINT AS docs_cum, " +
          "sum(toks) OVER (ORDER BY dec)::BIGINT AS tokens_cum, " +
          "sum(vnew) OVER (ORDER BY dec)::BIGINT AS vocab_cum FROM m ORDER BY decile"),
      // t18: the same independently derived first merge applied per doc —
      // count = chars − non-overlapping occurrences, word by word
      "t18_bpe_doc_counts" ->
        (T + ", words AS (SELECT unnest(t) AS w FROM toks), " +
          "wc AS (SELECT w, count(*) AS cnt FROM words GROUP BY 1), " +
          "pr AS (SELECT w[i:i] AS a, w[i+1:i+1] AS b, cnt " +
          "FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM wc)), " +
          "top AS (SELECT a, b FROM pr GROUP BY a, b ORDER BY sum(cnt) DESC, a, b LIMIT 1), " +
          "wd AS (SELECT doc_id, unnest(t) AS w FROM toks), " +
          "app AS (SELECT doc_id, len(w) - (len(wr) - len(replace(wr, ' '||a||'  '||b||' ', ' '||a||b||' ')))//2 AS t1 " +
          "FROM (SELECT doc_id, w, regexp_replace(w, '(.)', ' \\1 ', 'g') AS wr FROM wd), top) " +
          "SELECT doc_id, sum(t1)::BIGINT AS n_tokens_1merge FROM app " +
          "GROUP BY 1 ORDER BY doc_id"),
      // t25: t18's 1-merge per-doc token counts re-derived, then folded per
      // language with word counts; fertility is the t9 integer round-6
      // division; zero-token docs contribute (0 words, 0 tokens) via the
      // LEFT join so n_docs stays the full per-lang census
      "t25_bpe_fertility" ->
        (T + ", words AS (SELECT unnest(t) AS w FROM toks), " +
          "wc AS (SELECT w, count(*) AS cnt FROM words GROUP BY 1), " +
          "pr AS (SELECT w[i:i] AS a, w[i+1:i+1] AS b, cnt " +
          "FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM wc)), " +
          "top AS (SELECT a, b FROM pr GROUP BY a, b ORDER BY sum(cnt) DESC, a, b LIMIT 1), " +
          "wd AS (SELECT doc_id, unnest(t) AS w FROM toks), " +
          "app AS (SELECT doc_id, len(w) - (len(wr) - len(replace(wr, ' '||a||'  '||b||' ', ' '||a||b||' ')))//2 AS t1 " +
          "FROM (SELECT doc_id, w, regexp_replace(w, '(.)', ' \\1 ', 'g') AS wr FROM wd), top), " +
          "perdoc AS (SELECT doc_id, count(*) AS words, sum(t1) AS toks FROM app GROUP BY 1) " +
          "SELECT d.lang, count(*)::BIGINT AS n_docs, " +
          "coalesce(sum(p.words), 0)::BIGINT AS n_words, " +
          "coalesce(sum(p.toks), 0)::BIGINT AS n_tokens, " +
          "CASE WHEN coalesce(sum(p.words), 0) > 0 THEN " +
          "((1000000 * coalesce(sum(p.toks), 0) + coalesce(sum(p.words), 0) // 2) " +
          "// coalesce(sum(p.words), 0)) / 1000000.0 ELSE 0.0 END AS fertility " +
          "FROM documents d LEFT JOIN perdoc p USING (doc_id) " +
          "GROUP BY d.lang ORDER BY d.lang"),
      "t9_repetition" ->
        (T + ", bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg FROM toks) " +
          ", g AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2) " +
          ", a AS (SELECT doc_id, sum(c) AS n, max(c) AS top, count(*) AS nd FROM g GROUP BY 1) " +
          // exact integer round-6, the roundDiv6 twin (float round diverges
          // cross-engine on .5e-6 boundaries)
          "SELECT d.doc_id, coalesce(((1000000 * top + n // 2) // n) / 1000000.0, 0.0) AS top_bigram_frac, " +
          "coalesce(((1000000 * (n - nd) + n // 2) // n) / 1000000.0, 0.0) AS dup_bigram_frac " +
          "FROM documents d LEFT JOIN a USING (doc_id) ORDER BY d.doc_id"),
      "t10_pii_redact" -> {
        val em = TextAnalysis.EmailRe
        val ph = TextAnalysis.PhoneRe
        "WITH planted AS (SELECT doc_id, CASE WHEN doc_id % 29 = 0 " +
          "THEN text || ' contact user' || doc_id || '@example.com or 555-0100' " +
          "ELSE text END AS text FROM documents) " +
          s"SELECT doc_id, (len(regexp_extract_all(text, '$em')) + len(regexp_extract_all(text, '$ph')))::BIGINT AS n_redacted, " +
          s"md5(regexp_replace(regexp_replace(text, '$em', '[EMAIL]', 'g'), '$ph', '[PHONE]', 'g')) AS clean_hash " +
          "FROM planted ORDER BY doc_id"
      },
      "p1_pretrain_corpus" -> {
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
      },
      "d1_exact_dedup" ->
        "SELECT min(doc_id) AS doc_id, md5(text) AS content_hash FROM documents GROUP BY md5(text) ORDER BY doc_id",
      "d2_jaccard_pairs" ->
        (JaccardCte + "SELECT a_id, b_id, jaccard FROM jac WHERE jaccard >= 0.8 ORDER BY a_id, b_id"),
      // d7: exact containment over the planted-prefix corpus, via the same
      // blocked candidate chain the engine runs (see plantedPrefixDocs)
      "d7_containment_pairs" ->
        (PrefixDocsCte + ContainChain +
          "SELECT a_id, b_id, containment FROM cont WHERE containment >= 0.9 ORDER BY a_id, b_id"),
      // d8: the planted-line corpus re-built in SQL (concat_ws skips the
      // NULL footer branches in both engines), then the same frequency
      // threshold → anti-join → ordered reassembly pipeline
      "d8_line_dedup" ->
        ("WITH lined AS (SELECT doc_id, concat_ws(chr(10), text, " +
          "CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter for updates' END, " +
          "CASE WHEN doc_id % 2 = 0 THEN 'copyright example corp all rights reserved' END) AS text " +
          "FROM documents), " +
          "ls AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line, " +
          "unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos FROM lined), " +
          "lf AS (SELECT doc_id, pos, line, lower(trim(line)) AS norm FROM ls WHERE trim(line) <> ''), " +
          "boiler AS (SELECT norm FROM (SELECT norm, count(DISTINCT doc_id) AS nd FROM lf GROUP BY 1) " +
          "WHERE nd > 0.05 * (SELECT count(*) FROM lined)), " +
          "re AS (SELECT doc_id, count(*) AS n_kept, string_agg(line, chr(10) ORDER BY pos) AS clean_text " +
          "FROM lf WHERE norm NOT IN (SELECT norm FROM boiler) GROUP BY 1) " +
          "SELECT l.doc_id, (len(list_filter(string_split(l.text, chr(10)), x -> trim(x) <> '')) " +
          "- coalesce(n_kept, 0))::BIGINT AS n_removed, md5(coalesce(clean_text, '')) AS clean_hash " +
          "FROM lined l LEFT JOIN re USING (doc_id) ORDER BY doc_id"),
      // d3: exact-Jaccard ground truth over the planted-truncation corpus —
      // the MinHash+LSH pair set must reproduce it exactly (the gap-centered
      // threshold makes the k=64 estimate's keep/drop decision deterministic
      // at every SF; see plantedTruncDocs)
      "d3_minhash_pairs" ->
        (TruncDocsCte + JaccardChain +
          "SELECT a_id, b_id FROM jac WHERE jaccard >= 0.6 ORDER BY a_id, b_id"),
      // d9: the corpus×batch restriction of d3's exact-Jaccard ground truth
      // (batch ids start at 300000; the margin argument is d3's)
      "d9_incremental_dedup" ->
        (TruncDocsCte + JaccardChain +
          "SELECT a_id, b_id FROM jac WHERE jaccard >= 0.6 " +
          "AND a_id < 300000 AND b_id >= 300000 ORDER BY a_id, b_id"),
      // e25: the stream-maintained signature index must answer the SAME
      // incremental dedup as d9 — identical expected pairs, identical
      // honest text-recomputing oracle
      "e25_stream_dedup_ingest" ->
        (TruncDocsCte + JaccardChain +
          "SELECT a_id, b_id FROM jac WHERE jaccard >= 0.6 " +
          "AND a_id < 300000 AND b_id >= 300000 ORDER BY a_id, b_id"),
      // e26: compaction is a physical row-identical rewrite — the folded
      // index answers the same pairs
      "e26_sig_log_compaction" ->
        (TruncDocsCte + JaccardChain +
          "SELECT a_id, b_id FROM jac WHERE jaccard >= 0.6 " +
          "AND a_id < 300000 AND b_id >= 300000 ORDER BY a_id, b_id"),
      // d10: the planted-tail corpus rebuilt in SQL, then the identical
      // positioned-8-shingle → occurrence≥2 → gaps-and-islands pipeline
      // (parallel unnests zip positions with window strings; range(1, x)
      // is empty for docs shorter than 8 tokens in both engines)
      "d10_repeated_spans" ->
        (SpanChain +
          "SELECT doc_id, min(p) AS start_tok, max(p) + 7 AS end_tok, " +
          "(max(p) - min(p) + 8)::BIGINT AS n_tokens FROM isl GROUP BY doc_id, g " +
          "ORDER BY doc_id, start_tok"),
      // d11: per-doc duplicated-token fraction — maximal islands are
      // disjoint, so the span-token sum is exact; every doc reports
      "d11_dup_token_load" ->
        (SpanChain +
          ", sp AS (SELECT doc_id, g, max(p) - min(p) + 8 AS nt FROM isl GROUP BY doc_id, g) " +
          ", agg AS (SELECT doc_id, sum(nt) AS dup_tokens FROM sp GROUP BY doc_id) " +
          "SELECT t.doc_id, len(t.t)::BIGINT AS n_tokens, " +
          "coalesce(a.dup_tokens, 0)::BIGINT AS dup_tokens, " +
          "round(coalesce(a.dup_tokens, 0) / greatest(len(t.t), 1), 6) AS dup_frac " +
          "FROM toks t LEFT JOIN agg a USING (doc_id) ORDER BY t.doc_id"),
      // d12: the identical detection + first-occurrence election + rewrite
      // pipeline — spans keyed by their token content (md5 of the list
      // slice), row_number elects the first (doc_id, start_tok), later
      // occurrences become per-doc cut ranges, and the rewrite keeps
      // positions outside every cut (parallel unnests zip position/token;
      // cuts within a doc are disjoint, so the left-join-filter never
      // duplicates a kept token)
      "d12_span_removal" ->
        (SpanChain +
          ", sp AS (SELECT doc_id, min(p) AS start_tok, max(p) + 7 AS end_tok, " +
          "max(p) - min(p) + 8 AS nt FROM isl GROUP BY doc_id, g) " +
          ", keyed AS (SELECT doc_id, start_tok, end_tok, nt, " +
          "md5(array_to_string(t[start_tok + 1 : end_tok + 1], ' ')) AS span_key " +
          "FROM sp JOIN toks USING (doc_id)) " +
          ", cuts AS (SELECT doc_id, start_tok, end_tok, nt FROM " +
          "(SELECT keyed.*, row_number() OVER (PARTITION BY span_key ORDER BY doc_id, start_tok) AS rn FROM keyed) " +
          "WHERE rn > 1) " +
          ", agg AS (SELECT doc_id, sum(nt) AS removed_tokens FROM cuts GROUP BY doc_id) " +
          ", posd AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, unnest(t) AS tok FROM toks) " +
          ", kept AS (SELECT pd.doc_id, pd.i, pd.tok FROM posd pd LEFT JOIN cuts c " +
          "ON pd.doc_id = c.doc_id AND pd.i - 1 BETWEEN c.start_tok AND c.end_tok " +
          "WHERE c.doc_id IS NULL) " +
          ", rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id) " +
          "SELECT t.doc_id, len(t.t)::BIGINT AS n_tokens, " +
          "coalesce(a.removed_tokens, 0)::BIGINT AS removed_tokens, " +
          "md5(coalesce(r.clean_text, '')) AS clean_hash " +
          "FROM toks t LEFT JOIN agg a USING (doc_id) LEFT JOIN rebuilt r USING (doc_id) " +
          "ORDER BY t.doc_id"),
      // d13: the window-granularity election in SQL — row_number per
      // repeated WINDOW string elects the first (doc_id, p); later
      // occurrences become k-token cuts, merged per doc into disjoint
      // intervals by a lag-based island sum (adjacency merges too — the
      // token union is identical), then the same rewrite tail as d12
      "d13_window_removal" ->
        (SpanChain +
          ", hitw AS (SELECT p.doc_id, p.p, p.s FROM pos p JOIN rep r USING (s)) " +
          ", cutw AS (SELECT doc_id, p FROM " +
          "(SELECT hitw.*, row_number() OVER (PARTITION BY s ORDER BY doc_id, p) AS rn FROM hitw) " +
          "WHERE rn > 1) " +
          ", isl2 AS (SELECT doc_id, p, CASE WHEN p - lag(p) OVER " +
          "(PARTITION BY doc_id ORDER BY p) <= 8 THEN 0 ELSE 1 END AS ni FROM cutw) " +
          ", grp AS (SELECT doc_id, p, sum(ni) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM isl2) " +
          ", cuts AS (SELECT doc_id, min(p) AS start_tok, max(p) + 7 AS end_tok, " +
          "max(p) + 7 - min(p) + 1 AS nt FROM grp GROUP BY doc_id, g) " +
          ", agg AS (SELECT doc_id, sum(nt) AS removed_tokens FROM cuts GROUP BY doc_id) " +
          ", posd AS (SELECT doc_id, unnest(range(1, len(t) + 1)) AS i, unnest(t) AS tok FROM toks) " +
          ", kept AS (SELECT pd.doc_id, pd.i, pd.tok FROM posd pd LEFT JOIN cuts c " +
          "ON pd.doc_id = c.doc_id AND pd.i - 1 BETWEEN c.start_tok AND c.end_tok " +
          "WHERE c.doc_id IS NULL) " +
          ", rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text FROM kept GROUP BY doc_id) " +
          "SELECT t.doc_id, len(t.t)::BIGINT AS n_tokens, " +
          "coalesce(a.removed_tokens, 0)::BIGINT AS removed_tokens, " +
          "md5(coalesce(r.clean_text, '')) AS clean_hash " +
          "FROM toks t LEFT JOIN agg a USING (doc_id) LEFT JOIN rebuilt r USING (doc_id) " +
          "ORDER BY t.doc_id"),
      // d4: SimHash is order-free, so every planted token-reversed copy
      // pairs with its source at Hamming 0, deterministically — the planted
      // window is the closed-form answer at any SF (see plantedPermDocs)
      "d4_simhash_pairs" ->
        ("SELECT doc_id AS a_id, doc_id + 300000 AS b_id, 0::BIGINT AS hamming " +
          "FROM documents WHERE doc_id % 20 = 7 ORDER BY a_id"),
      "d5_fuzzy_survivors" ->
        (JaccardCte + "SELECT doc_id FROM documents WHERE doc_id NOT IN " +
          "(SELECT b_id FROM jac WHERE jaccard >= 0.8) ORDER BY doc_id"),
      // Connected components as a recursive reachability closure: rep(u) =
      // min over everything reachable from u (the graph is small after
      // near-dup blocking, so the closure is cheap for the oracle; the
      // engine side iterates pointer-jumping min-propagation instead)
      "d6_dup_clusters" ->
        (clusterCte + "SELECT doc_id, cluster_rep, cluster_rep = doc_id AS is_canonical " +
          "FROM mem ORDER BY doc_id"),
      // d19: the same 3-shingle inverted index bucketed by df, with the
      // exact Σ C(df,2) pair bound per stratum
      "d19_shingle_profile" ->
        (T + ", sh AS (SELECT doc_id, list_distinct(list_transform(range(1, len(t)-1), " +
          "i -> array_to_string(t[i:i+2], ' '))) AS shingles FROM toks), " +
          "inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh), " +
          "df AS (SELECT s, count(*)::BIGINT AS df FROM inv GROUP BY s), " +
          "b AS (SELECT CASE WHEN df = 1 THEN 'df=1' WHEN df <= 5 THEN 'df=2-5' " +
          "WHEN df <= 20 THEN 'df=6-20' WHEN df <= 100 THEN 'df=21-100' " +
          "ELSE 'df=100+' END AS bucket, df FROM df) " +
          "SELECT bucket, count(*)::BIGINT AS n_shingles, sum(df)::BIGINT AS n_postings, " +
          "sum((df::HUGEINT * (df - 1)) // 2)::BIGINT AS pair_bound " +
          "FROM b GROUP BY bucket ORDER BY bucket"),
      // d20: the same rational s grid, the same S-curve 1−(1−sʳ)ᵇ, the
      // same round-6 micros — pow/round on identical inputs (the t11
      // libm discipline); best = (total, bands) lexicographic min
      "d20_band_plan" ->
        ("WITH plans AS (SELECT b::BIGINT AS bands, (64 // b)::BIGINT AS rows " +
          "FROM (SELECT unnest(range(1, 65)) AS b) WHERE 64 % b = 0 AND b < 64 AND 64 // b > 1), " +
          "g AS (SELECT unnest(range(1, 20))::BIGINT AS s20), " +
          "p AS (SELECT bands, rows, s20, " +
          "1.0 - power(1.0 - power(s20 / 20.0, rows::DOUBLE), bands::DOUBLE) AS p " +
          "FROM plans, g), " +
          "m AS (SELECT bands, rows, " +
          "round(avg(CASE WHEN s20 < 16 THEN p END) * 1e6, 0)::BIGINT AS fp_e6, " +
          "round(avg(CASE WHEN s20 >= 16 THEN 1.0 - p END) * 1e6, 0)::BIGINT AS fn_e6 " +
          "FROM p GROUP BY 1, 2), " +
          "t AS (SELECT *, (fp_e6 + fn_e6)::BIGINT AS total_e6 FROM m) " +
          "SELECT bands, rows, fp_e6, fn_e6, total_e6, " +
          "row_number() OVER (ORDER BY total_e6, bands) = 1 AS best " +
          "FROM t ORDER BY bands"),
      // d18: the same closure joined to stored lengths — per-cluster
      // size/extra, then the size histogram; exact integers throughout
      "d18_dedup_roi" ->
        (clusterCte +
          ", per AS (SELECT cluster_rep, count(*)::BIGINT AS size, " +
          "sum(CASE WHEN mem.doc_id <> cluster_rep THEN d.n_chars ELSE 0 END)::BIGINT AS extra " +
          "FROM mem JOIN documents d ON d.doc_id = mem.doc_id GROUP BY 1) " +
          "SELECT size, count(*)::BIGINT AS n_clusters, sum(extra)::BIGINT AS chars_saved " +
          "FROM per GROUP BY size ORDER BY size"),
      // p7: per-cluster argmax by quality (ties doc_id) over the same
      // cluster closure; quality formula identical to t3's
      "p7_quality_survivors" ->
        (clusterCte +
          qualCte("q") +
          ", best AS (SELECT mem.doc_id, cluster_rep, quality, " +
          "row_number() OVER (PARTITION BY cluster_rep ORDER BY quality DESC, mem.doc_id) AS rn " +
          "FROM mem JOIN q ON q.doc_id = mem.doc_id) " +
          "SELECT doc_id, cluster_rep, quality FROM best WHERE rn = 1 ORDER BY cluster_rep"),
      // d15: the same planted train side, naive all-pairs best-match
      // (cos desc, eval id asc), threshold filter
      // d16: pinned measured dedup recalls (the v11 discipline) — 25 exact
      // j≥0.8 pairs at sf0.01; the production blocking (df∈[2,20],
      // minShared≥3) and both MinHash-LSH configurations recall all 25,
      // the simhash Hamming≤3 gate recalls 18 (it targets a different
      // similarity; the gap is the documented cross-method number)
      "d16_dedup_recall" ->
        ("WITH fp AS (SELECT (count(*)*100000 + sum(n_chars))::BIGINT AS v FROM documents) " +
          "SELECT * FROM (VALUES " +
          "('blocked_exact_df20_ms3', 25::BIGINT, 25::BIGINT, 1.0::DOUBLE), " +
          "('minhash_16x4', 25::BIGINT, 25::BIGINT, 1.0::DOUBLE), " +
          "('minhash_8x8', 25::BIGINT, 25::BIGINT, 1.0::DOUBLE), " +
          "('simhash_h3', 18::BIGINT, 25::BIGINT, 0.72::DOUBLE)" +
          ") AS t(method, hits, total, recall) WHERE (SELECT v FROM fp) = 50149174 " +
          "UNION ALL SELECT 'PIN_STALE_expected_sf0.01', -1::BIGINT, " +
          "(SELECT v FROM fp), -1.0::DOUBLE WHERE (SELECT v FROM fp) <> 50149174 " +
          "ORDER BY method"),
      "d15_semantic_contamination" ->
        ("WITH ev AS (SELECT vec_id AS eid, embedding AS e FROM embeddings WHERE vec_id < 20), " +
          "tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20 " +
          "UNION ALL SELECT vec_id + 100000, embedding FROM embeddings " +
          "WHERE vec_id IN (3, 7, 11)), " +
          s"p AS (SELECT vec_id, eid, ${cosSql("e", "embedding")} AS cos FROM tr, ev), " +
          "best AS (SELECT vec_id, eid, cos, row_number() OVER " +
          "(PARTITION BY vec_id ORDER BY cos DESC, eid) AS rk FROM p) " +
          "SELECT vec_id, eid AS eval_id, cos FROM best " +
          "WHERE rk = 1 AND cos >= 0.95 ORDER BY vec_id"),
      // v19: the propagation recomputed naively — every (target, seed)
      // cosine, rank (cos desc, seed id), top-5 votes, argmax with ties
      // to the smallest label
      "v19_knn_labels" ->
        ("WITH seeds AS (SELECT vec_id AS sid, vec_id % 3 AS lab, " +
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
      // v4 at full probe must equal exact brute force — same oracle as v1
      "v4_ivf_topk" -> exactTopkSql,
      // v2/v6: exact cosine top-10 over the planted neighborhood corpus —
      // each query's true top-10 is its 10 plants (organic cos ≤ 0.40), so
      // the SRP-bucketed search AND the partial-probe IVF search must both
      // recall and exact-rerank all of them
      "v2_lsh_topk" -> plantedTopkSql,
      "v6_ivf_partial" -> plantedTopkSql,
      // v25: the pinned partial-probe range recalls (554 exact in-radius
      // pairs over 50 organic queries at cos >= 0.25) behind the v11
      // fingerprint guard — moderate-cosine neighbors scatter across
      // cells, so range recall tracks probed-cell coverage much more
      // steeply than planted top-k does (0.38/0.55/0.78 at 4/8/16 of 32)
      "v25_range_recall" ->
        ("WITH fp AS (SELECT (count(*)*100000 + sum(label))::BIGINT AS v FROM embeddings) " +
          "SELECT * FROM (VALUES " +
          "('range_nprobe16', 431::BIGINT, 554::BIGINT, 0.778::DOUBLE), " +
          "('range_nprobe4', 211::BIGINT, 554::BIGINT, 0.3809::DOUBLE), " +
          "('range_nprobe8', 305::BIGINT, 554::BIGINT, 0.5505::DOUBLE)" +
          ") AS t(method, hits, total, recall) WHERE (SELECT v FROM fp) = 50002270 " +
          "UNION ALL SELECT 'PIN_STALE_expected_sf0.01', -1::BIGINT, " +
          "(SELECT v FROM fp), -1.0::DOUBLE WHERE (SELECT v FROM fp) <> 50002270 " +
          "ORDER BY method"),
      // v24: full probe degrades the indexed range search to the exact
      // brute-force radius scan — same round-6 cosine, same >= 0.25 gate
      "v24_range_search" ->
        ("WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5) " +
          s"SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos " +
          "FROM embeddings e, q WHERE e.vec_id <> q_id " +
          s"AND ${cosSql("q_emb", "e.embedding")} >= 0.25 " +
          "ORDER BY q_id, cos DESC, e.vec_id"),
      "v7_ivf_indexed" -> plantedTopkSql,
      // v8: append ≡ rebuild (pure per-row assignment), so the incremental
      // index must recall the same exact top-10 — every true neighbor
      // arrived via the APPEND, making recall-through-append the gate
      "v8_ivf_append" -> plantedTopkSql,
      // v18: compaction is a row-identical physical rewrite, so the
      // bin-packed index must recall the same exact top-10 as v8's
      // accreted layout
      "v18_index_compaction" -> plantedTopkSql,
      // e11: the STREAMED append (per-micro-batch ivfAppend) must recall
      // the same exact top-10 — batching cannot change pure per-row
      // assignment
      "e11_stream_index_ingest" -> plantedTopkSql,
      // v9: the PQ shortlist must recall the planted top-10 through the
      // lossy codes; the exact re-rank then reproduces the exact answer
      "v9_pq_topk" -> plantedTopkSql,
      "v17_sq_topk" -> plantedTopkSql,
      // v10: Lloyd refinement moves centroids but the plants still sit on
      // the query vectors, so the refined partial probe must return the
      // same exact answer
      "v10_ivf_lloyd" -> plantedTopkSql,
      // v12: the IVF-PQ composition must recall the planted top-10 through
      // the partial probe AND the lossy codes AND the shortlist — then the
      // exact re-rank reproduces the exact answer
      "v12_ivfpq_topk" -> plantedTopkSql,
      "v13_filtered_ann" -> filteredTopkSql,
      // v16 must recover the SAME exact filtered answer through the lossy
      // IVF-PQ path (plants survive cell cut + quantization + shortlist)
      "v16_filtered_ivfpq" -> filteredTopkSql,
      // v14: deletion lifecycle — tombstone, physically compact, search;
      // the result must equal a rebuild over the remaining corpus
      "v14_index_delete" -> deletedTopkSql,
      // v15: the cell-join linkage must return each perturbed A-row's
      // exact argmax over the FULL corpus (its source row)
      "v15_cross_corpus" ->
        ("WITH aa AS (SELECT vec_id + 500000 AS a_id, " +
          "list_prepend((embedding[1] + 0.1::FLOAT)::FLOAT, embedding[2:64]) AS a_emb " +
          "FROM embeddings WHERE vec_id < 50) " +
          s", s AS (SELECT a_id, b.vec_id AS b_id, ${cosSql("a_emb", "b.embedding")} AS cos " +
          "FROM aa, embeddings b) " +
          ", r AS (SELECT a_id, row_number() OVER (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rank, b_id, cos FROM s) " +
          "SELECT a_id, rank::BIGINT AS rank, b_id, cos FROM r WHERE rank <= 1 ORDER BY a_id"),
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
      "v11_ann_recall" ->
        // ::BIGINT on the fingerprint: sum() is HUGEINT in DuckDB, and the
        // stale branch would otherwise coerce the whole total column to
        // HUGEINT — a schema mismatch against Spark's LongType even when
        // every value matches
        ("WITH fp AS (SELECT (count(*)*100000 + sum(label))::BIGINT AS v FROM embeddings) " +
          "SELECT * FROM (VALUES " +
          "('ivf_lloyd_nprobe16', 420::BIGINT, 500::BIGINT, 0.84::DOUBLE), " +
          "('ivf_lloyd_nprobe8', 329::BIGINT, 500::BIGINT, 0.658::DOUBLE), " +
          "('ivf_nprobe16', 386::BIGINT, 500::BIGINT, 0.772::DOUBLE), " +
          "('ivf_nprobe8', 275::BIGINT, 500::BIGINT, 0.55::DOUBLE), " +
          "('ivfpq_np16_m8x64_sl150', 382::BIGINT, 500::BIGINT, 0.764::DOUBLE), " +
          "('ivfpq_np20_m8x64_sl150', 427::BIGINT, 500::BIGINT, 0.854::DOUBLE), " +
          "('lsh_16x4', 192::BIGINT, 500::BIGINT, 0.384::DOUBLE), " +
          "('lsh_24x8', 425::BIGINT, 500::BIGINT, 0.85::DOUBLE), " +
          "('pq_m8x32_sl50', 320::BIGINT, 500::BIGINT, 0.64::DOUBLE), " +
          "('pq_m8x64_sl150', 474::BIGINT, 500::BIGINT, 0.948::DOUBLE), " +
          "('sq_sl50', 500::BIGINT, 500::BIGINT, 1.0::DOUBLE)" +
          ") AS t(method, hits, total, recall) WHERE (SELECT v FROM fp) = 50002270 " +
          "UNION ALL SELECT 'PIN_STALE_expected_sf0.01', -1::BIGINT, " +
          "(SELECT v FROM fp), -1.0::DOUBLE WHERE (SELECT v FROM fp) <> 50002270 " +
          "ORDER BY method"),
      "v3_embedding_neardup" ->
        (PlantedPairCte + "SELECT a_id, b_id, cos FROM p WHERE cos >= 0.95 ORDER BY a_id, b_id"),
      // d14: cell-blocked (SemDeDup) pairs held to the SAME exact planted
      // pair set as the band-blocked v3 — blocking must lose nothing here
      "d14_semantic_dedup" ->
        (PlantedPairCte + "SELECT a_id, b_id, cos FROM p WHERE cos >= 0.95 ORDER BY a_id, b_id"),
      // v5: CC collapse over the exact planted pair graph (star shapes, but
      // the oracle closure is the same recursive reachability as d6)
      "v5_embedding_dedup" ->
        ("WITH RECURSIVE " + PlantedPairCte.stripPrefix("WITH ") +
          ", jp AS (SELECT a_id, b_id FROM p WHERE cos >= 0.95) " +
          ", e AS (SELECT a_id AS u, b_id AS v FROM jp UNION SELECT b_id, a_id FROM jp) " +
          ", reach(u, v) AS (SELECT u, v FROM e UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u) " +
          ", lbl AS (SELECT u AS doc_id, least(u, min(v)) AS rep FROM reach GROUP BY u) " +
          "SELECT d.doc_id, coalesce(l.rep, d.doc_id) AS cluster_rep, " +
          "coalesce(l.rep, d.doc_id) = d.doc_id AS is_canonical " +
          "FROM (SELECT vec_id AS doc_id FROM corpus) d LEFT JOIN lbl l USING (doc_id) " +
          "ORDER BY d.doc_id"),
      "v1_cosine_topk" -> exactTopkSql,
      "v20_mmr_rerank" -> mmrRerankSql,
      "v21_mmr_ivf" -> mmrIvfSql,
      // v22: the same integer-micros moments (parallel unnest zips the
      // position range with the values), HUGEINT sums ≡ decimal(38,0),
      // the identical exact-integer variance filter and round-6 ratio
      // v26: same double-cast, same planted derivation, same quantized
      // sums and sign-factored floor means (o30's portable form)
      // v27: the same quantize-first Σq² per vector (DOUBLE[] before the
      // round — the v26 rule), HUGEINT corpus sum, floor-div mean
      "v27_norm_profile" -> normProfileSql,
      // e38: the streamed fold must equal the batch profile exactly
      "e38_stream_norm_profile" -> normProfileSql,
      "v26_embedding_drift" ->
        ("WITH b AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), " +
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
      "v22_dim_correlation" ->
        ("WITH q AS (SELECT vec_id, unnest(range(1, len(embedding) + 1))::BIGINT AS j, " +
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
      "q9_hybrid_rrf" -> hybridRrfSql,
      // m7: planted corruption replayed over the same derivation — null
      // height is NOT ok (coalesce false), md5 payloads are always 16
      // bytes so the payload check never fires here (pinned 0)
      "m7_media_integrity" ->
        ("WITH m AS (SELECT doc_id, " +
          "CASE WHEN doc_id % 13 = 0 THEN -1 ELSE (n_chars % 640)::INT END AS width, " +
          "CASE WHEN doc_id % 17 = 0 THEN NULL ELSE (n_chars % 480)::INT END AS height, " +
          "CASE WHEN doc_id % 19 = 0 THEN 'blob' WHEN doc_id % 3 = 0 THEN 'image' " +
          "WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind FROM documents), " +
          "f AS (SELECT coalesce(width > 0 AND height > 0, false) AS dims_ok, " +
          "true AS payload_ok, kind IN ('image', 'audio', 'video') AS kind_ok FROM m) " +
          "SELECT count(*)::BIGINT AS n_rows, " +
          "sum(CASE WHEN dims_ok AND payload_ok AND kind_ok THEN 1 ELSE 0 END)::BIGINT AS n_good, " +
          "sum(CASE WHEN NOT dims_ok THEN 1 ELSE 0 END)::BIGINT AS n_bad_dims, " +
          "0::BIGINT AS n_bad_payload, " +
          "sum(CASE WHEN NOT kind_ok THEN 1 ELSE 0 END)::BIGINT AS n_bad_kind, " +
          "sum(CASE WHEN NOT (dims_ok AND payload_ok AND kind_ok) THEN 1 ELSE 0 END)::BIGINT AS n_quarantined " +
          "FROM f"),
      "m1_media_features" ->
        ("SELECT doc_id AS media_id, CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind, " +
          "16 AS dim, array_to_string(list_transform(range(0, 16), i -> " +
          "(length(md5(text)) - length(replace(md5(text), substr('0123456789abcdef', i+1, 1), '')))::BIGINT), ',') AS features_csv " +
          "FROM documents ORDER BY media_id"),
      "m2_media_resize" ->
        ("SELECT doc_id AS media_id, 8 AS n_bytes, (n_chars % 640)::INT AS orig_width, " +
          "(n_chars % 480)::INT AS orig_height FROM documents ORDER BY media_id"),
      "m3_frame_sample" ->
        // md5 payloads are 16 bytes; stride 3 keeps offsets 0,3,6,9,12,15
        "SELECT doc_id AS media_id, 6 AS n_sampled FROM documents ORDER BY media_id",
      // m4: the identical pHash recomputed in SQL over the planted media
      // corpus, all-pairs Hamming ≤ 2 (fine at oracle scale — the ENGINE
      // side is the banded one), then the v5 recursive CC closure
      "m4_media_neardup" ->
        ("WITH RECURSIVE md AS (SELECT doc_id, md5(text) AS hx FROM documents), " +
          "corp AS (SELECT doc_id AS media_id, hx FROM md " +
          "UNION ALL SELECT doc_id + 300000 AS media_id, " +
          s"substr(hx, 1, 30) || printf('%02x', xor(${hexByteSql("hx", 15)}, 1)) AS hx " +
          "FROM md WHERE doc_id % 20 = 7), " +
          s"ph AS (SELECT media_id, ${phashSql("hx")} AS ph FROM corp), " +
          "e0 AS (SELECT a.media_id AS u, b.media_id AS v FROM ph a JOIN ph b " +
          "ON a.media_id < b.media_id AND bit_count(xor(a.ph, b.ph)) <= 2), " +
          "e AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0), " +
          "reach(u, v) AS (SELECT u, v FROM e UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u), " +
          "lbl AS (SELECT u AS media_id, least(u, min(v)) AS rep FROM reach GROUP BY u) " +
          "SELECT c.media_id, coalesce(l.rep, c.media_id) AS cluster_rep, " +
          "coalesce(l.rep, c.media_id) = c.media_id AS is_canonical " +
          "FROM corp c LEFT JOIN lbl l USING (media_id) ORDER BY c.media_id"),
      // m8: the m4 closure re-derived, singletons included, every
      // payload exactly 16 octets (md5-derived) — the d18 ROI tail
      "m8_media_roi" ->
        ("WITH RECURSIVE md AS (SELECT doc_id, md5(text) AS hx FROM documents), " +
          "corp AS (SELECT doc_id AS media_id, hx FROM md " +
          "UNION ALL SELECT doc_id + 300000 AS media_id, " +
          s"substr(hx, 1, 30) || printf('%02x', xor(${hexByteSql("hx", 15)}, 1)) AS hx " +
          "FROM md WHERE doc_id % 20 = 7), " +
          s"ph AS (SELECT media_id, ${phashSql("hx")} AS ph FROM corp), " +
          "e0 AS (SELECT a.media_id AS u, b.media_id AS v FROM ph a JOIN ph b " +
          "ON a.media_id < b.media_id AND bit_count(xor(a.ph, b.ph)) <= 2), " +
          "e AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0), " +
          "reach(u, v) AS (SELECT u, v FROM e UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u), " +
          "lbl AS (SELECT u AS media_id, least(u, min(v)) AS rep FROM reach GROUP BY u), " +
          "mem AS (SELECT c.media_id AS doc_id, coalesce(l.rep, c.media_id) AS cluster_rep " +
          "FROM corp c LEFT JOIN lbl l USING (media_id)), " +
          "per AS (SELECT cluster_rep, count(*)::BIGINT AS size, " +
          "sum(CASE WHEN doc_id <> cluster_rep THEN 16 ELSE 0 END)::BIGINT AS extra " +
          "FROM mem GROUP BY 1) " +
          "SELECT size, count(*)::BIGINT AS n_clusters, sum(extra)::BIGINT AS chars_saved " +
          "FROM per GROUP BY size ORDER BY size"),
      // m5: the m4 closure re-derived, then the corpus minus the target's
      // whole cluster (the target is the first planted original, so it is
      // guaranteed an edge to its twin and therefore a row in lbl)
      // m6: the same length-difference symbol counts over the same hex
      // rendering (DuckDB md5 IS the payload hex), identical planting
      "m6_media_entropy" -> {
        val cnt = (c: Char) => s"(length(hx) - length(replace(hx, '$c', '')))"
        val terms = "0123456789abcdef".map { c =>
          s"CASE WHEN ${cnt(c)} > 0 THEN -(${cnt(c)}::DOUBLE / length(hx)) * " +
            s"ln(${cnt(c)}::DOUBLE / length(hx)) ELSE 0.0 END"
        }.mkString(" + ")
        "WITH m AS (SELECT doc_id AS media_id, " +
          "CASE WHEN doc_id % 97 = 0 THEN repeat('aa', 16) ELSE md5(text) END AS hx " +
          "FROM documents), " +
          s"e AS (SELECT media_id, round($terms, 4) AS entropy FROM m) " +
          "SELECT media_id, entropy, entropy < 2.0 AS low_entropy " +
          "FROM e ORDER BY media_id"
      },
      "m5_media_takedown" ->
        ("WITH RECURSIVE md AS (SELECT doc_id, md5(text) AS hx FROM documents), " +
          "corp AS (SELECT doc_id AS media_id, hx FROM md " +
          "UNION ALL SELECT doc_id + 300000 AS media_id, " +
          s"substr(hx, 1, 30) || printf('%02x', xor(${hexByteSql("hx", 15)}, 1)) AS hx " +
          "FROM md WHERE doc_id % 20 = 7), " +
          s"ph AS (SELECT media_id, ${phashSql("hx")} AS ph FROM corp), " +
          "e0 AS (SELECT a.media_id AS u, b.media_id AS v FROM ph a JOIN ph b " +
          "ON a.media_id < b.media_id AND bit_count(xor(a.ph, b.ph)) <= 2), " +
          "e AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0), " +
          "reach(u, v) AS (SELECT u, v FROM e UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u), " +
          "lbl AS (SELECT u AS media_id, least(u, min(v)) AS rep FROM reach GROUP BY u), " +
          "tgt AS (SELECT min(doc_id) AS t FROM documents WHERE doc_id % 20 = 7), " +
          "trep AS (SELECT rep AS r FROM lbl, tgt WHERE media_id = t), " +
          "doomed AS (SELECT media_id FROM lbl, trep WHERE rep = r) " +
          "SELECT media_id, md5(hx) AS payload_md5 FROM corp " +
          "WHERE media_id NOT IN (SELECT media_id FROM doomed) ORDER BY media_id"),
      "e1_stream_window_counts" ->
        ("SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, count(*) AS cnt, " +
          "sum(value::DECIMAL(18,6))::DOUBLE AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
      // e12: append-mode emission keeps windows whose END the final
      // watermark (max event time − the 1 h delay) has passed
      "e12_window_unique_users" ->
        ("WITH mx AS (SELECT max(ts) AS m FROM events), " +
          "agg AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, " +
          "count(DISTINCT user_id) AS unique_users FROM events GROUP BY 1) " +
          "SELECT window_start, unique_users FROM agg, mx " +
          "WHERE window_start + INTERVAL 1 HOUR <= m - INTERVAL 1 HOUR " +
          "ORDER BY window_start"),
      // e6 must reproduce e1 exactly from the JSONL staging of the same events
      "e6_stream_jsonl_counts" ->
        ("SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, count(*) AS cnt, " +
          "sum(value::DECIMAL(18,6))::DOUBLE AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
      "x4_csv_roundtrip" ->
        ("SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars " +
          "FROM documents ORDER BY doc_id"),
      // o1-o3: money sums accumulate as DECIMAL (exact, order-free) with
      // the per-row double products written in the SAME left-to-right
      // order Spark evaluates; averages divide as double on both sides
      "o1_pricing_summary" ->
        ("SELECT l_returnflag, l_linestatus, " +
          "round(sum(l_quantity::DECIMAL(28,10)), 2)::DOUBLE AS sum_qty, " +
          "round(sum(l_extendedprice::DECIMAL(28,10)), 2)::DOUBLE AS sum_base_price, " +
          "round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(28,10)), 2)::DOUBLE AS sum_disc_price, " +
          "round(sum((l_extendedprice * (1 - l_discount) * (1 + l_tax))::DECIMAL(28,10)), 2)::DOUBLE AS sum_charge, " +
          "sum(l_quantity::DECIMAL(28,10))::DOUBLE / count(*) AS avg_qty, " +
          "sum(l_discount::DECIMAL(28,10))::DOUBLE / count(*) AS avg_disc, " +
          "count(*) AS count_order " +
          "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00' " +
          "GROUP BY 1, 2 ORDER BY 1, 2"),
      "o2_top_orders" ->
        ("WITH c AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'), " +
          "l AS (SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS dp " +
          "FROM lineitem WHERE l_shipdate > TIMESTAMP '1998-06-01 00:00:00'), " +
          "o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority " +
          "FROM orders WHERE o_orderdate < TIMESTAMP '1998-06-01 00:00:00'), " +
          "g AS (SELECT l_orderkey, o_orderdate, o_orderpriority, " +
          "sum(dp::DECIMAL(28,10)) AS rev FROM l " +
          "JOIN o ON l_orderkey = o_orderkey JOIN c ON o_custkey = c_custkey " +
          "GROUP BY 1, 2, 3) " +
          "SELECT l_orderkey, round(rev, 2)::DOUBLE AS revenue, o_orderdate, o_orderpriority " +
          "FROM g ORDER BY rev DESC, l_orderkey LIMIT 10"),
      // o34: the same per-brand cents table, top-5 by (rev desc, brand),
      // Other = total − Σ top, DECIMAL-widened floor-div shares
      "o34_top_brands_other" ->
        ("WITH pb AS (SELECT p_brand AS brand, " +
          "sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS rev " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1), " +
          "t AS (SELECT sum(rev)::HUGEINT AS tot FROM pb), " +
          "top AS (SELECT brand, rev, rank FROM " +
          "(SELECT brand, rev, row_number() OVER (ORDER BY rev DESC, brand) AS rank FROM pb) " +
          "WHERE rank <= 5), " +
          "oth AS (SELECT 6 AS rank, 'Other' AS brand, " +
          "(tot - (SELECT sum(rev) FROM top))::BIGINT AS rev FROM t) " +
          "SELECT rank::BIGINT AS rank, brand, rev AS rev_cents, " +
          "((rev::HUGEINT * 1000000) // tot)::BIGINT AS share_e6 " +
          "FROM (SELECT rank, brand, rev FROM top UNION ALL SELECT * FROM oth), t " +
          "ORDER BY rank"),
      // o35: the same distinct-basket pair counts, singles, and basket
      // total; confidence and lift in HUGEINT floor-div micros, outputs
      // pinned ::BIGINT (the o30 lesson — HUGEINT ships as decimal128)
      "o35_basket_lift" ->
        ("WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey), " +
          "t AS (SELECT count(DISTINCT okey)::BIGINT AS n FROM ob), " +
          "s AS (SELECT brand, count(*)::BIGINT AS c1 FROM ob GROUP BY 1), " +
          "p AS (SELECT a.brand AS brand_a, b.brand AS brand_b, count(*)::BIGINT AS support " +
          "FROM ob a JOIN ob b ON a.okey = b.okey AND a.brand < b.brand " +
          "GROUP BY 1, 2 HAVING count(*) >= 50) " +
          "SELECT brand_a, brand_b, support, " +
          "((support::HUGEINT * 1000000) // sa.c1)::BIGINT AS conf_ab_e6, " +
          "((support::HUGEINT * n * 1000000) // (sa.c1::HUGEINT * sb.c1))::BIGINT AS lift_e6 " +
          "FROM p JOIN s sa ON p.brand_a = sa.brand JOIN s sb ON p.brand_b = sb.brand, t " +
          "ORDER BY lift_e6 DESC, brand_a, brand_b LIMIT 20"),
      // o33: the identical join chain under GROUPING SETS ((n), (y))
      "o33_grouping_sets" ->
        ("WITH l AS (SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS dp FROM lineitem), " +
          "o AS (SELECT o_orderkey, o_custkey, year(o_orderdate) AS order_year FROM orders) " +
          "SELECT n_name, order_year, round(sum(dp::DECIMAL(28,10)), 2)::DOUBLE AS revenue, " +
          "count(*) AS n_items FROM l " +
          "JOIN o ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "GROUP BY GROUPING SETS ((n_name), (order_year)) " +
          "ORDER BY n_name ASC NULLS FIRST, order_year ASC NULLS FIRST"),
      "o6_rollup_report" ->
        ("WITH l AS (SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS dp FROM lineitem), " +
          "o AS (SELECT o_orderkey, o_custkey, year(o_orderdate) AS order_year FROM orders) " +
          "SELECT n_name, order_year, round(sum(dp::DECIMAL(28,10)), 2)::DOUBLE AS revenue, " +
          "count(*) AS n_items FROM l " +
          "JOIN o ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "GROUP BY ROLLUP (n_name, order_year) " +
          "ORDER BY n_name ASC NULLS FIRST, order_year ASC NULLS FIRST"),
      "t16_bigram_lm" ->
        (T + ", bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])) AS bg FROM toks), " +
          "bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2), " +
          "corpus AS (SELECT bg, sum(c) AS bcnt, string_split(bg, ' ')[1] AS w1 FROM bc GROUP BY bg), " +
          "pfx AS (SELECT w1, sum(bcnt) AS pc FROM corpus GROUP BY 1) " +
          "SELECT doc_id, round(sum(c * -ln(bcnt::DOUBLE / pc)) / sum(c), 4) AS xent2 " +
          "FROM bc JOIN corpus USING (bg) JOIN pfx USING (w1) " +
          "GROUP BY doc_id ORDER BY doc_id"),
      // t32: the identical planted damage (chr() code points) and the
      // identical RE2 classes — occurrence counts, floor-div ppm,
      // coalesced flag
      "t32_encoding_profile" ->
        ("WITH planted AS (SELECT doc_id, CASE " +
          "WHEN doc_id % 7 = 0 THEN text || ' ' || chr(195) || chr(169) || ' ' || chr(226) || chr(8364) || chr(157) || ' bad' " +
          "WHEN doc_id % 11 = 0 THEN text || chr(0) || chr(1) || ' bin ' || chr(65533) " +
          "ELSE text END AS text FROM documents), " +
          "c AS (SELECT doc_id, length(text)::BIGINT AS n_chars, " +
          "len(regexp_extract_all(text, '\\x{FFFD}'))::BIGINT AS n_replacement, " +
          "len(regexp_extract_all(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]'))::BIGINT AS n_control, " +
          "len(regexp_extract_all(text, '\\x{C3}[\\x{80}-\\x{BF}]|\\x{E2}\\x{20AC}'))::BIGINT AS n_mojibake FROM planted) " +
          "SELECT doc_id, n_chars, n_replacement, n_control, n_mojibake, " +
          "CASE WHEN n_chars > 0 THEN ((n_replacement + n_control + n_mojibake) * 1000000) // n_chars END::BIGINT AS bad_ppm, " +
          "coalesce(CASE WHEN n_chars > 0 THEN ((n_replacement + n_control + n_mojibake) * 1000000) // n_chars END > 1000, false) AS flagged " +
          "FROM c ORDER BY doc_id"),
      // e39: the identical planted damage and regex classes as t32,
      // aggregated to the corpus report — the stream-folded totals must
      // re-sum to exactly this; HUGEINT-widened corpus ppm
      "e39_stream_encoding" ->
        ("WITH planted AS (SELECT doc_id, CASE " +
          "WHEN doc_id % 7 = 0 THEN text || ' ' || chr(195) || chr(169) || ' ' || chr(226) || chr(8364) || chr(157) || ' bad' " +
          "WHEN doc_id % 11 = 0 THEN text || chr(0) || chr(1) || ' bin ' || chr(65533) " +
          "ELSE text END AS text FROM documents), " +
          "c AS (SELECT doc_id, length(text)::BIGINT AS n_chars, " +
          "len(regexp_extract_all(text, '\\x{FFFD}'))::BIGINT AS n_replacement, " +
          "len(regexp_extract_all(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]'))::BIGINT AS n_control, " +
          "len(regexp_extract_all(text, '\\x{C3}[\\x{80}-\\x{BF}]|\\x{E2}\\x{20AC}'))::BIGINT AS n_mojibake FROM planted), " +
          "f AS (SELECT *, CASE WHEN n_chars > 0 THEN " +
          "((n_replacement + n_control + n_mojibake) * 1000000) // n_chars END AS bad_ppm FROM c) " +
          "SELECT count(*)::BIGINT AS n_docs, " +
          "sum(CASE WHEN coalesce(bad_ppm > 1000, false) THEN 1 ELSE 0 END)::BIGINT AS n_flagged, " +
          "sum(n_chars)::BIGINT AS n_chars, sum(n_replacement)::BIGINT AS n_replacement, " +
          "sum(n_control)::BIGINT AS n_control, sum(n_mojibake)::BIGINT AS n_mojibake, " +
          "CASE WHEN sum(n_chars) > 0 THEN ((sum(n_replacement) + sum(n_control) + sum(n_mojibake))::HUGEINT " +
          "* 1000000 // sum(n_chars)) END::BIGINT AS bad_ppm FROM f"),
      // t33: the identical Katz chain — every count table re-derived
      // from the even-docs trigram table, the same CASE/backoff shapes
      // term for term (association order matters to the shared doubles;
      // round-4 absorbs only the per-doc partial-sum reorder); every
      // multiply-referenced CTE MATERIALIZED (the t31 rule)
      "t33_trigram_lm_katz" ->
        (s"WITH trt AS MATERIALIZED (SELECT doc_id, ${stdToks("text")} AS t " +
          "FROM documents WHERE doc_id % 2 = 0) " +
          ", tg0 AS (SELECT unnest(list_transform(range(1, len(t) - 1), " +
          "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tg FROM trt) " +
          ", tri AS MATERIALIZED (SELECT string_split(tg, ' ')[1] AS w1, " +
          "string_split(tg, ' ')[2] AS w2, string_split(tg, ' ')[3] AS w3, " +
          "count(*)::BIGINT AS c3 FROM tg0 GROUP BY 1, 2, 3) " +
          ", c23 AS MATERIALIZED (SELECT w2, w3, sum(c3)::BIGINT AS c23 FROM tri GROUP BY 1, 2) " +
          ", c2t AS MATERIALIZED (SELECT w2, sum(c23)::BIGINT AS c2, " +
          "count(*)::BIGINT AS n2 FROM c23 GROUP BY 1) " +
          ", uni AS MATERIALIZED (SELECT w3, sum(c3)::BIGINT AS u3 FROM tri GROUP BY 1) " +
          ", tot AS (SELECT sum(u3)::BIGINT AS uu, count(*)::BIGINT AS vv FROM uni) " +
          ", ctx AS (SELECT w1, w2, sum(c3)::BIGINT AS c12, count(*)::BIGINT AS n12, " +
          "sum(c23)::BIGINT AS s23 FROM tri JOIN c23 USING (w2, w3) GROUP BY 1, 2) " +
          ", s2t AS (SELECT w2, sum(u3)::BIGINT AS s2 FROM c23 JOIN uni USING (w3) GROUP BY 1) " +
          s", sct AS (SELECT doc_id, ${stdToks("text")} AS t FROM documents WHERE doc_id % 2 = 1) " +
          ", dt0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), " +
          "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tg FROM sct) " +
          ", dtri AS (SELECT doc_id, string_split(tg, ' ')[1] AS w1, " +
          "string_split(tg, ' ')[2] AS w2, string_split(tg, ' ')[3] AS w3, " +
          "count(*)::BIGINT AS c FROM dt0 GROUP BY 1, 2, 3, 4) " +
          ", jj AS (SELECT d.doc_id, d.c, tri.c3, ctx.c12, ctx.n12, ctx.s23, " +
          "c23.c23, c2t.c2, c2t.n2, s2t.s2, uni.u3, tot.uu, tot.vv " +
          "FROM dtri d " +
          "LEFT JOIN tri ON d.w1 = tri.w1 AND d.w2 = tri.w2 AND d.w3 = tri.w3 " +
          "LEFT JOIN ctx ON d.w1 = ctx.w1 AND d.w2 = ctx.w2 " +
          "LEFT JOIN c23 ON d.w2 = c23.w2 AND d.w3 = c23.w3 " +
          "LEFT JOIN c2t ON d.w2 = c2t.w2 " +
          "LEFT JOIN s2t ON d.w2 = s2t.w2 " +
          "LEFT JOIN uni ON d.w3 = uni.w3, tot) " +
          "SELECT doc_id, round(sum(c * -ln(" +
          "CASE WHEN c3 IS NOT NULL THEN (c3 - 0.75) / c12 " +
          "WHEN c12 IS NOT NULL THEN ((n12 * 0.75 / c12) / (1 - (s23 - n12 * 0.75) / c2)) * " +
          "(CASE WHEN c23 IS NOT NULL THEN (c23 - 0.75) / c2 " +
          "WHEN c2 IS NOT NULL THEN ((n2 * 0.75 / c2) / (1 - (s2 + n2) / (uu + vv + 1.0))) * " +
          "((coalesce(u3, 0) + 1.0) / (uu + vv + 1.0)) " +
          "ELSE ((coalesce(u3, 0) + 1.0) / (uu + vv + 1.0)) END) " +
          "ELSE (CASE WHEN c23 IS NOT NULL THEN (c23 - 0.75) / c2 " +
          "WHEN c2 IS NOT NULL THEN ((n2 * 0.75 / c2) / (1 - (s2 + n2) / (uu + vv + 1.0))) * " +
          "((coalesce(u3, 0) + 1.0) / (uu + vv + 1.0)) " +
          "ELSE ((coalesce(u3, 0) + 1.0) / (uu + vv + 1.0)) END) END" +
          ")) / sum(c), 4) AS xent3_katz FROM jj GROUP BY doc_id ORDER BY doc_id"),
      // t31: the identical interpolated-KN replay — trigram types, the
      // four continuation-count tables re-aggregated from them, the same
      // D = 0.75 expression shape term for term (association order
      // matters to the shared doubles; round-4 absorbs only partial-sum
      // reorder). Every multiply-referenced CTE is MATERIALIZED — the
      // v23 lesson: DuckDB's default inlining re-expands `tri`'s whole
      // tokenize→trigram chain at each of its five references and the
      // plan blows past 10 minutes where the materialized form runs in
      // 0.2 s (measured at sf0.01)
      "t31_trigram_lm_kn" ->
        (s"WITH toks AS MATERIALIZED (SELECT doc_id, ${stdToks("text")} AS t FROM documents) " +
          ", tg0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t) - 1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS tg FROM toks), " +
          "tg AS MATERIALIZED (SELECT doc_id, tg, count(*) AS c FROM tg0 GROUP BY 1, 2), " +
          "tri AS MATERIALIZED (SELECT tg, sum(c) AS tcnt, string_split(tg, ' ')[1] AS w1, " +
          "string_split(tg, ' ')[2] AS w2, string_split(tg, ' ')[3] AS w3 FROM tg GROUP BY tg), " +
          "ctx AS MATERIALIZED (SELECT w1, w2, sum(tcnt) AS ccnt, count(*) AS nctx FROM tri GROUP BY 1, 2), " +
          "cont AS MATERIALIZED (SELECT w2, w3, count(*) AS cont23 FROM tri GROUP BY 1, 2), " +
          "mid AS MATERIALIZED (SELECT w2, sum(cont23) AS midtot, count(*) AS fwd2 FROM cont GROUP BY 1), " +
          "uni AS MATERIALIZED (SELECT w3, count(*) AS ucont FROM tri GROUP BY 1), " +
          "tot AS (SELECT count(*)::DOUBLE AS ntypes FROM tri), " +
          "p AS (SELECT doc_id, c, " +
          "(greatest(tcnt::DOUBLE - 0.75, 0) + 0.75 * nctx::DOUBLE * " +
          "((greatest(cont23::DOUBLE - 0.75, 0) + 0.75 * fwd2::DOUBLE * (ucont::DOUBLE / ntypes)) / midtot::DOUBLE)) " +
          "/ ccnt::DOUBLE AS p3 " +
          "FROM tg JOIN tri USING (tg) JOIN ctx USING (w1, w2) JOIN cont USING (w2, w3) " +
          "JOIN mid USING (w2) JOIN uni USING (w3), tot) " +
          "SELECT doc_id, round(sum(c * -ln(p3)) / sum(c), 4) AS xent3 " +
          "FROM p GROUP BY doc_id ORDER BY doc_id"),
      "o4_small_qty_revenue" ->
        ("WITH pp AS (SELECT l_partkey, " +
          "sum(l_quantity::DECIMAL(28,10))::DOUBLE / count(*) AS avg_qty " +
          "FROM lineitem GROUP BY 1) " +
          "SELECT round(sum(l_extendedprice::DECIMAL(28,10)), 2)::DOUBLE AS small_qty_revenue, " +
          "count(*) AS n_items FROM lineitem JOIN pp USING (l_partkey) " +
          "WHERE l_quantity < 0.5 * avg_qty"),
      "o5_top_orders_per_cust" ->
        ("WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice, " +
          "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank " +
          "FROM orders) " +
          "SELECT o_custkey, rank::BIGINT AS rank, o_orderkey, o_totalprice " +
          "FROM r WHERE rank <= 2 ORDER BY o_custkey, rank"),
      // o7: the EXISTS / NOT EXISTS pair in its native SQL form — DuckDB
      // plans the subqueries itself; the engine side declares the
      // decorrelated semi/anti joins directly
      "o7_returned_breakdown" ->
        ("WITH o AS (SELECT o_orderkey, o_orderpriority FROM orders " +
          "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' " +
          "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00') " +
          "SELECT 'returned' AS bucket, o_orderpriority, count(*) AS n_orders FROM o " +
          "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
          "AND l_returnflag = 'R') GROUP BY 2 " +
          "UNION ALL " +
          "SELECT 'clean' AS bucket, o_orderpriority, count(*) AS n_orders FROM o " +
          "WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
          "AND l_returnflag = 'R') GROUP BY 2 " +
          "ORDER BY bucket, o_orderpriority"),
      // o10: frame sums in DECIMAL on both engines — running double sums
      // are frame-fold-order-dependent (incremental add vs segment tree),
      // exact decimal is not; the moving average divides exact sum by the
      // frame count as DOUBLE
      "o10_running_revenue" ->
        ("SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice, " +
          "(sum(o_totalprice::DECIMAL(18,6)) OVER w_run)::DOUBLE AS run_total, " +
          "(sum(o_totalprice::DECIMAL(18,6)) OVER w_mov)::DOUBLE / count(*) OVER w_mov AS mov_avg3 " +
          "FROM orders " +
          "WINDOW w_run AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
          "ROWS UNBOUNDED PRECEDING), " +
          "w_mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
          "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) " +
          "ORDER BY o_custkey, o_orderdate, o_orderkey"),
      "o9_buyer_cohorts" ->
        ("WITH b1 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1995), " +
          "b2 AS (SELECT o_custkey FROM orders WHERE year(o_orderdate) = 1996) " +
          "SELECT 'both' AS cohort, o_custkey FROM " +
          "(SELECT o_custkey FROM b1 INTERSECT SELECT o_custkey FROM b2) " +
          "UNION ALL SELECT 'churned' AS cohort, o_custkey FROM " +
          "(SELECT o_custkey FROM b1 EXCEPT SELECT o_custkey FROM b2) " +
          "ORDER BY cohort, o_custkey"),
      // x16: the oracle computes the EXACT distinct from raw rows and
      // asserts the engine's sketch estimate landed within the tolerance
      // (the engine side emits est_ok; a drifting sketch breaks the hash)
      "x16_sketch_range_distinct" ->
        ("SELECT count(DISTINCT user_id) AS exact_users, true AS est_ok " +
          "FROM events WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-05 00:00:00' " +
          "AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 00:00:00'"),
      // x17: exact interpolated percentiles (the t14 rank rule — value-
      // identical cross-engine) + literal-true gates; the engine side's
      // booleans hold the randomized KLL estimate to its rank bound
      "x17_sketch_quantile_rollup" ->
        ("SELECT count(*) AS n_rows, " +
          "round(quantile_cont(value, 0.5), 6) AS exact_p50, " +
          "round(quantile_cont(value, 0.95), 6) AS exact_p95, " +
          "true AS n_ok, true AS p50_ok, true AS p95_ok " +
          "FROM events WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-05 00:00:00' " +
          "AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 00:00:00'"),
      // x18: exact per-range distincts and their intersection/difference
      // from raw rows; the engine's theta estimates must land within 5%
      "x18_theta_retention" ->
        ("WITH a AS (SELECT DISTINCT user_id FROM events " +
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
      // x19: at gate m the rollup is exact, so the oracle is the exact
      // range top-k with the same deterministic tie-break (count desc,
      // key asc); bounds collapse onto the count and `guaranteed` is
      // literal true
      "x19_topk_rollup" ->
        ("WITH c AS (SELECT user_id, count(*) AS n_events FROM events " +
          "WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-05 00:00:00' " +
          "AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1) " +
          "SELECT user_id, n_events, n_events AS cnt_ub, true AS guaranteed " +
          "FROM c ORDER BY n_events DESC, user_id LIMIT 10"),
      // e20/e21: the streamed count-delta log (raw, and compacted) re-sums
      // to the same exact counts, so the oracle is x19's query verbatim
      "e20_stream_topk_fold" ->
        ("WITH c AS (SELECT user_id, count(*) AS n_events FROM events " +
          "WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-05 00:00:00' " +
          "AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1) " +
          "SELECT user_id, n_events, n_events AS cnt_ub, true AS guaranteed " +
          "FROM c ORDER BY n_events DESC, user_id LIMIT 10"),
      "e21_topk_log_compaction" ->
        ("WITH c AS (SELECT user_id, count(*) AS n_events FROM events " +
          "WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-05 00:00:00' " +
          "AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1) " +
          "SELECT user_id, n_events, n_events AS cnt_ub, true AS guaranteed " +
          "FROM c ORDER BY n_events DESC, user_id LIMIT 10"),
      // c1: per-column profile recomputed column by column (the engine does
      // all four in ONE pass; the oracle's union is free to be naive)
      "c1_column_profile" ->
        Seq("text", "lang", "source", "n_chars").map(c =>
          s"SELECT '$c' AS \"column\", count(*) AS n_rows, " +
          s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls, " +
          s"round(1.0 - sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::DOUBLE / count(*), 6) AS completeness, " +
          s"count(DISTINCT $c)::BIGINT AS n_distinct, " +
          s"min($c)::VARCHAR AS min_value, max($c)::VARCHAR AS max_value " +
          "FROM documents").mkString("", " UNION ALL ", " ORDER BY \"column\""),
      // c2: each named assertion recomputed as a conditional count; the
      // uniqueness check is the distinct-excess on the composite key
      "c2_constraint_checks" ->
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
          .mkString("", " UNION ALL ", " ORDER BY \"check\""),
      // c3: anti-join orphan counts; the -1/-2/-3 planted keys match the
      // engine's fabricated rows (DuckDB's ANTI JOIN keeps null-key rows,
      // the same never-joins-counts-as-orphan rule the engine applies)
      "c3_referential_integrity" ->
        ("WITH li AS (SELECT l_orderkey FROM lineitem " +
          "UNION ALL SELECT -range FROM range(1, 4)) " +
          "SELECT 'lineitem_orders' AS fk, (SELECT count(*) FROM li) AS n_child, " +
          "(SELECT count(*) FROM li ANTI JOIN orders ON l_orderkey = o_orderkey) AS n_orphans, " +
          "(SELECT count(*) FROM li ANTI JOIN orders ON l_orderkey = o_orderkey) = 0 AS pass " +
          "UNION ALL " +
          "SELECT 'orders_customer' AS fk, (SELECT count(*) FROM orders) AS n_child, " +
          "(SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey) AS n_orphans, " +
          "(SELECT count(*) FROM orders ANTI JOIN customer ON o_custkey = c_custkey) = 0 AS pass " +
          "ORDER BY fk"),
      // c4: per-key counts + distribution stats; quantile_cont equals the
      // engine's exact percentile on integer counts (the t14 rule)
      "c4_key_skew_profile" ->
        ("WITH k AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1), " +
          "stats AS (SELECT count(*) AS n_keys, round(avg(cnt), 6) AS avg_cnt, " +
          "round(quantile_cont(cnt, 0.99), 6) AS p99_cnt, max(cnt) AS maxc FROM k) " +
          "SELECT key, cnt, n_keys, avg_cnt, p99_cnt, " +
          "round(maxc / avg_cnt, 6) AS skew_ratio " +
          "FROM k, stats ORDER BY cnt DESC, key LIMIT 5"),
      // o11: the decorrelated Q13 form — qualifying-order counts per
      // buyer, LEFT-joined to customer so zero-order customers survive,
      // then the distribution over the counts
      "o11_order_count_dist" ->
        ("WITH q AS (SELECT o_custkey, count(*) AS c_count FROM orders " +
          "WHERE o_orderpriority <> '1-URGENT' AND year(o_orderdate) = 1995 " +
          "GROUP BY 1) " +
          "SELECT coalesce(c_count, 0) AS c_count, count(*) AS custdist " +
          "FROM customer LEFT JOIN q ON c_custkey = o_custkey " +
          "GROUP BY 1 ORDER BY custdist DESC, c_count DESC"),
      // j7: the naive inequality join over the same derived interval
      // tables — the engine's binned join must reproduce it exactly
      "j7_interval_overlap" ->
        ("WITH w AS (SELECT user_id, event_type, " +
          "(ts::TIMESTAMP::DATE)::VARCHAR AS day, epoch_us(ts::TIMESTAMP) AS us FROM events), " +
          "a AS (SELECT user_id::VARCHAR || ':' || day AS a_id, " +
          "min(us) AS a_start, max(us) AS a_end FROM w GROUP BY user_id, day), " +
          "b AS (SELECT event_type || ':' || day AS b_id, " +
          "min(us) AS b_start, max(us) AS b_end FROM w GROUP BY event_type, day), " +
          "p AS (SELECT b_id, least(a_end, b_end) - greatest(a_start, b_start) AS ov " +
          "FROM a JOIN b ON a_start <= b_end AND b_start <= a_end) " +
          "SELECT b_id, count(*) AS n_pairs, round(sum(ov) / 1e6, 3) AS overlap_sec " +
          "FROM p GROUP BY 1 ORDER BY 1"),
      // o12: scalar threshold + anti join; the average gate mirrors the
      // engine's exact rearranged form (balance × n > Σ in DECIMAL)
      "o12_inactive_rich" ->
        ("WITH s AS (SELECT sum(c_acctbal::DECIMAL(28,10)) AS sum_bal, " +
          "count(*) AS n_bal FROM customer WHERE c_acctbal > 0), " +
          "rich AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer, s " +
          "WHERE c_acctbal::DECIMAL(28,10) * n_bal > sum_bal), " +
          "inact AS (SELECT c_nationkey, c_acctbal FROM rich " +
          "ANTI JOIN (SELECT o_custkey FROM orders " +
          "WHERE o_orderdate >= TIMESTAMP '2000-01-01 00:00:00') a " +
          "ON c_custkey = o_custkey) " +
          "SELECT c_nationkey, count(*) AS numcust, " +
          "round(sum(c_acctbal::DECIMAL(28,10)), 2)::DOUBLE AS totacctbal " +
          "FROM inact GROUP BY 1 ORDER BY 1"),
      // c7: the card recomputed naively — same rules, same md5 canonical
      // dup test, same HALF_UP integer means/rates
      "c7_data_card" ->
        (T + microsCte("q") +
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
      // c6: both sides' decile histograms recomputed naively over the
      // same derived v2, densified over a 0..9 spine, same HALF_UP
      // integer fractions
      // c16: same melt, same per-term round-half-up micros quantization
      // before the order-free sum, same floor division
      // c17: see chi2DriftSql — shared verbatim with the streamed fold
      "c17_chi2_drift" -> chi2DriftSql,
      // e36: the STREAMED contingency fold must equal the batch gate
      "e36_stream_chi2" -> chi2DriftSql,
      "c16_value_entropy" ->
        (M + ", m AS (SELECT unnest(['category','format','isPublic','orgUUID']) AS col, " +
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
      // c15: see corrDriftSql — shared verbatim with the streamed fold
      "c15_correlation_drift" -> corrDriftSql,
      // e35: the STREAMED moments fold must equal the batch gate exactly
      "e35_stream_corr_drift" -> corrDriftSql,
      "c6_quality_drift" ->
        ("WITH v2 AS (" +
          "SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END AS text " +
          "FROM documents WHERE doc_id % 17 <> 0 " +
          "UNION ALL SELECT doc_id + 10000000 AS doc_id, 'new doc ' || doc_id AS text " +
          "FROM documents WHERE doc_id % 19 = 0) " +
          microsFor("documents", "q1") + microsFor("v2", "q2") +
          ", b1 AS (SELECT least(9, (micros * 10) // 1000000) AS bucket FROM q1) " +
          ", b2 AS (SELECT least(9, (micros * 10) // 1000000) AS bucket FROM q2) " +
          ", c1 AS (SELECT bucket, count(*)::BIGINT AS n_v1 FROM b1 GROUP BY 1) " +
          ", c2 AS (SELECT bucket, count(*)::BIGINT AS n_v2 FROM b2 GROUP BY 1) " +
          ", t AS (SELECT (SELECT count(*) FROM q1)::BIGINT AS t1, " +
          "(SELECT count(*) FROM q2)::BIGINT AS t2) " +
          ", sp AS (SELECT range::BIGINT AS bucket FROM range(10)) " +
          ", m AS (SELECT sp.bucket, coalesce(n_v1, 0) AS n_v1, coalesce(n_v2, 0) AS n_v2 " +
          "FROM sp LEFT JOIN c1 USING (bucket) LEFT JOIN c2 USING (bucket)) " +
          "SELECT bucket, n_v1, n_v2, " +
          "((1000000 * n_v1 + t1 // 2) // t1)::BIGINT AS f1_micros, " +
          "((1000000 * n_v2 + t2 // 2) // t2)::BIGINT AS f2_micros, " +
          "abs(((1000000 * n_v1 + t1 // 2) // t1) - ((1000000 * n_v2 + t2 // 2) // t2))::BIGINT AS drift_micros " +
          "FROM m, t ORDER BY bucket"),
      // e28: the stream-folded bucket counts are an exact integer re-sum,
      // so PSI against the frozen reference equals the batch recompute —
      // the c8 fold with q1 = even docs (reference), q2 = odd (streamed)
      "e28_stream_psi" ->
        ("WITH ref AS (SELECT * FROM documents WHERE doc_id % 2 = 0), " +
          "str AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 <> 0) " +
          microsFor("ref", "q1") + microsFor("str", "q2") +
          ", b1 AS (SELECT least(9, (micros * 10) // 1000000) AS bucket FROM q1) " +
          ", b2 AS (SELECT least(9, (micros * 10) // 1000000) AS bucket FROM q2) " +
          ", c1 AS (SELECT bucket, count(*)::BIGINT AS n_v1 FROM b1 GROUP BY 1) " +
          ", c2 AS (SELECT bucket, count(*)::BIGINT AS n_v2 FROM b2 GROUP BY 1) " +
          ", t AS (SELECT (SELECT count(*) FROM q1)::BIGINT AS t1, " +
          "(SELECT count(*) FROM q2)::BIGINT AS t2) " +
          ", sp AS (SELECT range::BIGINT AS bucket FROM range(10)) " +
          ", m AS (SELECT sp.bucket, coalesce(n_v1, 0) AS n_v1, coalesce(n_v2, 0) AS n_v2 " +
          "FROM sp LEFT JOIN c1 USING (bucket) LEFT JOIN c2 USING (bucket)) " +
          ", fr AS (SELECT ((1000000 * n_v1 + t1 // 2) // t1) AS f1m, " +
          "((1000000 * n_v2 + t2 // 2) // t2) AS f2m FROM m, t) " +
          ", p AS (SELECT round(sum(((f1m + 100) / 1000000.0 - (f2m + 100) / 1000000.0) * " +
          "ln(((f1m + 100) / 1000000.0) / ((f2m + 100) / 1000000.0))), 4) AS psi FROM fr) " +
          "SELECT psi, CASE WHEN psi > 0.25 THEN 'major' WHEN psi > 0.1 THEN 'moderate' " +
          "ELSE 'stable' END AS level FROM p"),
      // c8: the same bucket fractions folded to the smoothed PSI; level
      // from the ROUNDED value (never an ulp-straddling compare)
      "c8_psi_drift" ->
        ("WITH v2 AS (" +
          "SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END AS text " +
          "FROM documents WHERE doc_id % 17 <> 0 " +
          "UNION ALL SELECT doc_id + 10000000 AS doc_id, 'new doc ' || doc_id AS text " +
          "FROM documents WHERE doc_id % 19 = 0) " +
          microsFor("documents", "q1") + microsFor("v2", "q2") +
          ", b1 AS (SELECT least(9, (micros * 10) // 1000000) AS bucket FROM q1) " +
          ", b2 AS (SELECT least(9, (micros * 10) // 1000000) AS bucket FROM q2) " +
          ", c1 AS (SELECT bucket, count(*)::BIGINT AS n_v1 FROM b1 GROUP BY 1) " +
          ", c2 AS (SELECT bucket, count(*)::BIGINT AS n_v2 FROM b2 GROUP BY 1) " +
          ", t AS (SELECT (SELECT count(*) FROM q1)::BIGINT AS t1, " +
          "(SELECT count(*) FROM q2)::BIGINT AS t2) " +
          ", sp AS (SELECT range::BIGINT AS bucket FROM range(10)) " +
          ", m AS (SELECT sp.bucket, coalesce(n_v1, 0) AS n_v1, coalesce(n_v2, 0) AS n_v2 " +
          "FROM sp LEFT JOIN c1 USING (bucket) LEFT JOIN c2 USING (bucket)) " +
          ", fr AS (SELECT ((1000000 * n_v1 + t1 // 2) // t1) AS f1m, " +
          "((1000000 * n_v2 + t2 // 2) // t2) AS f2m FROM m, t) " +
          ", p AS (SELECT round(sum(((f1m + 100) / 1000000.0 - (f2m + 100) / 1000000.0) * " +
          "ln(((f1m + 100) / 1000000.0) / ((f2m + 100) / 1000000.0))), 4) AS psi FROM fr) " +
          "SELECT psi, CASE WHEN psi > 0.25 THEN 'major' WHEN psi > 0.1 THEN 'moderate' " +
          "ELSE 'stable' END AS level FROM p"),
      // c9: the same ECDF gap via the naive global window — the engine's
      // bucketed prefix sum must be value-invisible; // on positives ≡
      // Spark's decimal floor division
      "c9_ks_drift" ->
        ("WITH u AS (SELECT value AS v, 1 AS ca, 0 AS cb FROM events " +
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
          "FROM c, t GROUP BY n_a, n_b"),
      // c5: the trailing-window deviation recomputed with the same exact
      // integer-product form over the same DENSIFIED calendar spine (the
      // planted-empty day appears as cnt 0, dev -1, flagged); first-history
      // day has null dev, false flag
      "c5_volume_drift" ->
        ("WITH daily AS (SELECT ts::TIMESTAMP::DATE AS day, count(*) AS cnt " +
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
      // c10: the same densified spine windowed PER WEEKDAY — isodow ≡
      // Spark's weekday+1 (both pin Monday=1; the engines' default
      // dayofweek disagree on Sunday), same exact-integer deviation
      "c10_seasonal_volume" -> seasonalVolumeSql,
      // j19: the identical gap sessionization, rank-1 entry pick, and
      // floor-div bounce micros
      "j19_bounce_rate" ->
        ("WITH e AS (SELECT user_id, event_id, event_type, " +
          "epoch_us(ts::TIMESTAMP) AS us FROM events), " +
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
      // j22: same anchor rule (NOT IN = the anti-join), same
      // (us, event_id)-max exit, same floor-div shares
      "j22_exit_actions" ->
        ("WITH e AS (SELECT user_id, event_id, event_type, " +
          "epoch_us(ts::TIMESTAMP) AS us FROM events), " +
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
      // j23/e37: same distinct (day, user) pairs, same densified spine
      // and trailing-28-day range join, floor-div micros, empty-window
      // null — shared verbatim with the streamed set-log fold
      "j23_stickiness" -> stickinessSql,
      "e37_stream_stickiness" -> stickinessSql,
      // j21: same gap chain, same hour-bucket explode and per-hour count
      "j21_concurrency" ->
        ("WITH e AS (SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS us FROM events), " +
          "s AS (SELECT *, CASE WHEN us - lag(us) OVER " +
          "(PARTITION BY user_id ORDER BY us, event_id) > 1800000000 " +
          "THEN 1 ELSE 0 END AS new_s FROM e), " +
          "s2 AS (SELECT *, sum(new_s) OVER " +
          "(PARTITION BY user_id ORDER BY us, event_id) AS sess FROM s), " +
          "sp AS (SELECT user_id, sess, min(us) AS st, max(us) AS en FROM s2 GROUP BY 1, 2), " +
          "h AS (SELECT unnest(generate_series(st // 3600000000, en // 3600000000)) AS h FROM sp) " +
          "SELECT make_timestamp(h * 3600000000) AS hour, count(*)::BIGINT AS n_sessions " +
          "FROM h GROUP BY 1 ORDER BY 1"),
      // j20: same first-view anchor, at-or-after purchase floor, Monday
      // date_trunc week on both engines, (n+1)-rule order statistics
      "j20_time_to_convert" ->
        ("WITH e AS (SELECT user_id, event_type, epoch_us(ts::TIMESTAMP) AS us FROM events), " +
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
      // j18: same user-timeline lead, same strict session boundary, same
      // (n+1)-rule order-statistic ranks over exact dwell micros
      "j18_dwell_times" ->
        ("WITH e AS (SELECT user_id, event_id, event_type, " +
          "epoch_us(ts::TIMESTAMP) AS us FROM events), " +
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
      // p21: the same availability aggregate, CASE-literal weights, and
      // floor-div plan arithmetic
      // full-outer against the spec VALUES so a spec'd-but-absent source
      // surfaces (the engine's documented headline case), and over_cap's
      // null fallback mirrors the engine's planned > 0
      // p23: the identical exact-isqrt weights (float seed, ±1 integer
      // correction), HUGEINT-widened floor-div shares, null boost when
      // the natural share floors to 0
      "p23_temperature_mix" ->
        ("WITH c AS (SELECT source, count(*)::BIGINT AS n_docs FROM documents GROUP BY 1), " +
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
      "p21_epoch_plan" ->
        ("WITH a AS (SELECT source, " +
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
      // e30: the streamed fold must rebuild c10's daily table exactly —
      // same oracle verbatim (order-free integer sums; replay idempotent
      // by batch-directory overwrite)
      "e30_stream_seasonal" -> seasonalVolumeSql,
      // c11: the same lower medians as (n+1)//2 order statistics in exact
      // cents, the same cross-multiplied dev·10 > MAD·15 outlier test —
      // row_number ties among equal cents don't matter because only the
      // rank-k VALUE is read
      "c11_mad_outliers" ->
        ("WITH x AS (SELECT o_orderpriority AS grp, " +
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
      // e13: the same planted corruption derived in SQL (nulls first —
      // a 97·101 multiple is nulled, not negated); a null value is NOT
      // `>= 0`, so it counts quarantined, mirroring the engine's
      // null-safe split; good/quarantine counts and the good-side
      // decimal value sum must match the rows the stream actually landed
      "e13_validated_ingest" ->
        ("WITH c AS (SELECT CASE WHEN event_id % 101 = 0 THEN NULL " +
          "WHEN event_id % 97 = 0 THEN -value - 1 " +
          "ELSE value END AS value FROM events) " +
          "SELECT sum(CASE WHEN value >= 0 THEN 1 ELSE 0 END)::BIGINT AS n_good, " +
          "sum(CASE WHEN value >= 0 THEN 0 ELSE 1 END)::BIGINT AS n_quarantined, " +
          "round(sum(CASE WHEN value >= 0 THEN value::DECIMAL(18,6) END), 4)::DOUBLE " +
          "AS sum_good_value FROM c"),
      // o14: the honest correlated form — EXISTS and NOT EXISTS as
      // subqueries against the same fact; the engine's single-aggregate
      // decorrelation must reproduce it exactly
      "o14_waiting_suppliers" ->
        ("SELECT s_name, count(*) AS numwait FROM lineitem l1 " +
          "JOIN orders ON l1.l_orderkey = o_orderkey " +
          "JOIN supplier ON l1.l_suppkey = s_suppkey " +
          "WHERE o_orderstatus = 'F' AND l1.l_returnflag = 'R' " +
          "AND EXISTS (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey " +
          "AND l2.l_suppkey <> l1.l_suppkey) " +
          "AND NOT EXISTS (SELECT 1 FROM lineitem l3 WHERE l3.l_orderkey = l1.l_orderkey " +
          "AND l3.l_suppkey <> l1.l_suppkey AND l3.l_returnflag = 'R') " +
          "GROUP BY s_name ORDER BY numwait DESC, s_name"),
      // o16: the wide form as explicit CASE-sum columns — one column per
      // year, quoted numeric aliases matching Spark's pivot names; empty
      // combinations null on both engines
      "o16_pivot_report" ->
        ("WITH l AS (SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS dp FROM lineitem), " +
          "o AS (SELECT o_orderkey, o_custkey, year(o_orderdate) AS order_year FROM orders) " +
          "SELECT n_name, " +
          (1995 to 2001).map(y =>
            s"""round(sum(CASE WHEN order_year = $y THEN dp::DECIMAL(28,10) END), 2)::DOUBLE AS "$y"""")
            .mkString(", ") +
          " FROM l JOIN o ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "GROUP BY 1 ORDER BY 1"),
      // o17: the INDEPENDENT long-form recompute the pivot→melt roundtrip
      // must land on exactly (empty combos never appear in either)
      "o17_unpivot_report" ->
        ("WITH l AS (SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS dp FROM lineitem), " +
          "o AS (SELECT o_orderkey, o_custkey, year(o_orderdate) AS order_year FROM orders) " +
          "SELECT n_name, order_year, round(sum(dp::DECIMAL(28,10)), 2)::DOUBLE AS revenue " +
          "FROM l JOIN o ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "GROUP BY 1, 2 ORDER BY 1, 2"),
      // o15: the honest IN-aggregate form; quantity sums through DECIMAL
      // like the engine, dates as calendar strings
      "o15_large_qty_orders" ->
        ("WITH big AS (SELECT l_orderkey, " +
          "sum(l_quantity::DECIMAL(18,6))::DOUBLE AS sum_qty FROM lineitem " +
          "GROUP BY 1 HAVING sum(l_quantity::DECIMAL(18,6)) > 250) " +
          "SELECT c_custkey, o_orderkey, " +
          "(o_orderdate::TIMESTAMP::DATE)::VARCHAR AS o_orderdate, " +
          "o_totalprice, sum_qty " +
          "FROM big JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "ORDER BY o_totalprice DESC, o_orderkey"),
      // o18: the honest CORRELATED form — `= (SELECT min ...)` with the
      // outer partkey referenced inside; DuckDB decorrelates it its own
      // way, the engine's pair-aggregate + window must land identically.
      // The compare path is min(extendedprice): exact on both engines
      "o18_min_cost_suppliers" ->
        ("WITH sr AS (SELECT s_suppkey, s_name, s_acctbal, n_name " +
          "FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
          "JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'), " +
          "pair AS (SELECT l_partkey, l_suppkey, min(l_extendedprice) AS pair_min " +
          "FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM sr) " +
          "GROUP BY 1, 2) " +
          "SELECT s_acctbal, s_name, n_name, p_partkey, p_name, " +
          "pair_min AS min_price " +
          "FROM pair JOIN part ON l_partkey = p_partkey " +
          "JOIN sr ON l_suppkey = s_suppkey " +
          "WHERE p_type = 'SMALL' AND pair_min = " +
          "(SELECT min(p2.pair_min) FROM pair p2 WHERE p2.l_partkey = pair.l_partkey) " +
          "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"),
      // o19: the honest scalar-subquery HAVING form; the 1.5x-average
      // gate as integer-multiplied decimals, no division on either engine
      "o19_part_concentration" ->
        ("WITH pv AS (SELECT l_partkey, " +
          "sum((l_extendedprice * (1 - l_discount))::DECIMAL(28,10)) AS value_dec " +
          "FROM lineitem GROUP BY 1) " +
          "SELECT l_partkey, round(value_dec, 2)::DOUBLE AS value FROM pv " +
          "WHERE value_dec * (SELECT count(*) * 2 FROM pv) > " +
          "(SELECT sum(value_dec) * 3 FROM pv) " +
          "ORDER BY value DESC, l_partkey"),
      // o20: the honest view + scalar-max form; ties kept by the equality
      // on the exact decimal sum
      "o20_top_supplier" ->
        ("WITH rev AS (SELECT l_suppkey, " +
          "sum((l_extendedprice * (1 - l_discount))::DECIMAL(28,10)) AS rev_dec " +
          "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
          "AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00' GROUP BY 1) " +
          "SELECT s_suppkey, s_name, round(rev_dec, 2)::DOUBLE AS total_rev " +
          "FROM rev JOIN supplier ON l_suppkey = s_suppkey " +
          "WHERE rev_dec = (SELECT max(rev_dec) FROM rev) ORDER BY s_suppkey"),
      // o21: the honest NOT IN exclusion form over distinct pairs
      "o21_supplier_diversity" ->
        ("SELECT p_brand, p_type, p_size, " +
          "count(DISTINCT l_suppkey) AS supplier_cnt " +
          "FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs " +
          "JOIN part ON l_partkey = p_partkey " +
          "WHERE l_suppkey NOT IN (SELECT l_suppkey FROM lineitem " +
          "WHERE l_returnflag = 'R' GROUP BY 1 HAVING count(*) > 200) " +
          "GROUP BY 1, 2, 3 ORDER BY supplier_cnt DESC, 1, 2, 3"),
      // o22: the honest three-layer nested form — supplier IN (pairs
      // HAVING sum > 45 AND part IN (prefix parts))
      // o24: the same single-pass conditional-aggregate ratio — exact
      // decimal sums, one double division, round-6/round-2
      "o24_promo_share" ->
        ("SELECT round(promo * 100 / total, 6)::DOUBLE AS promo_pct, " +
          "round(promo, 2)::DOUBLE AS promo_revenue, " +
          "round(total, 2)::DOUBLE AS total_revenue FROM (" +
          "SELECT sum(CASE WHEN p_type = 'PROMO' THEN " +
          "(l_extendedprice * (1 - l_discount))::DECIMAL(18,6) ELSE 0::DECIMAL(18,6) END) AS promo, " +
          "sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)) AS total " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey " +
          "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
          "AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00')"),
      // o25: the same bucketed counts recomputed naively
      "o25_priority_lines" ->
        ("SELECT l_returnflag, " +
          "sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END)::BIGINT AS high_line_count, " +
          "sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END)::BIGINT AS low_line_count " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
          "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
          "GROUP BY 1 ORDER BY 1"),
      // o28: the same three-predicate slice and exact decimal sum
      "o28_discount_revenue" ->
        ("SELECT round(sum((l_extendedprice * l_discount)::DECIMAL(18,6)), 2)::DOUBLE AS revenue, " +
          "count(*) AS n_items FROM lineitem " +
          "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
          "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' " +
          "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"),
      // o29: the naive flat form — group over the full join, then cut;
      // the engine's topk-before-dimension-join must be value-invisible
      "o29_returned_customers" ->
        ("WITH rev AS (SELECT o_custkey, " +
          "sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)) AS r " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "WHERE l_returnflag = 'R' " +
          "AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00' " +
          "AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00' " +
          "GROUP BY 1 ORDER BY r DESC, o_custkey LIMIT 20) " +
          "SELECT c_custkey, c_name, n_name, round(r, 2)::DOUBLE AS revenue " +
          "FROM rev JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "ORDER BY r DESC, c_custkey"),
      // o26: the full 8-table join written flat; share = the same
      // conditional-aggregate ratio, exact decimal sums both sides
      "o26_market_share" ->
        ("WITH vol AS (SELECT year(o_orderdate) AS o_year, " +
          "(l_extendedprice * (1 - l_discount))::DECIMAL(18,6) AS v, " +
          "n2.n_name AS supp_nation " +
          "FROM lineitem " +
          "JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY' " +
          "JOIN supplier ON l_suppkey = s_suppkey " +
          "JOIN nation n2 ON s_nationkey = n2.n_nationkey " +
          "JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation n1 ON c_nationkey = n1.n_nationkey " +
          "JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA' " +
          "WHERE o_orderdate >= TIMESTAMP '1995-01-01 00:00:00' " +
          "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00') " +
          "SELECT o_year, " +
          "round(sum(CASE WHEN supp_nation = 'NATION_5' THEN v " +
          "ELSE 0::DECIMAL(18,6) END) / sum(v), 6)::DOUBLE AS mkt_share, " +
          "round(sum(v), 2)::DOUBLE AS total_volume " +
          "FROM vol GROUP BY 1 ORDER BY 1"),
      // o27: profit per nation×year, the same retail-price cost proxy,
      // per-row decimal difference summed exactly
      // o31: naive global-window rank (the oracle may single-sort; the
      // o32: the same naive global row_number windows (three of them) —
      // the engine's three bucketed ranks must be value-invisible; same
      // (rank−1)·5 // n + 1 quantile rule, same day diffs vs the corpus
      // high-water mark
      "o32_rfm_segments" ->
        ("WITH pc AS (SELECT o_custkey AS cust, max(o_orderdate::DATE) AS last_day, " +
          "count(*)::BIGINT AS freq, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS mon FROM orders GROUP BY 1), " +
          "t AS (SELECT max(last_day) AS hwm, count(*)::BIGINT AS n FROM pc), " +
          "x AS (SELECT cust, datediff('day', last_day, hwm)::BIGINT AS rec_days, " +
          "freq, mon, n FROM pc, t), " +
          "r AS (SELECT *, row_number() OVER (ORDER BY rec_days DESC, cust) AS rr, " +
          "row_number() OVER (ORDER BY freq, cust) AS fr, " +
          "row_number() OVER (ORDER BY mon, cust) AS mr FROM x) " +
          "SELECT (((rr - 1) * 5) // n + 1)::BIGINT AS r_score, " +
          "(((fr - 1) * 5) // n + 1)::BIGINT AS f_score, " +
          "(((mr - 1) * 5) // n + 1)::BIGINT AS m_score, " +
          "count(*)::BIGINT AS n_cust, sum(mon)::BIGINT AS mon_cents " +
          "FROM r GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
      // engine may not), same decile assignment and floor-div micros
      "o31_revenue_concentration" ->
        ("WITH pc AS (SELECT o_custkey AS cust, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev FROM orders GROUP BY 1), " +
          "r AS (SELECT rev, row_number() OVER (ORDER BY rev DESC, cust) AS r, " +
          "count(*) OVER () AS n FROM pc), " +
          "d AS (SELECT rev, ((r - 1) * 10) // n + 1 AS decile FROM r), " +
          "g AS (SELECT decile, count(*)::BIGINT AS n_cust, sum(rev)::BIGINT AS rev_cents " +
          "FROM d GROUP BY 1), " +
          "t AS (SELECT sum(rev_cents)::HUGEINT AS total FROM g), " +
          "c AS (SELECT *, sum(rev_cents) OVER (ORDER BY decile)::HUGEINT AS cum FROM g) " +
          "SELECT decile, n_cust, rev_cents, " +
          "((rev_cents::HUGEINT * 1000000) // total)::BIGINT AS share_e6, " +
          "((cum * 1000000) // total)::BIGINT AS cum_share_e6 " +
          "FROM c, t ORDER BY decile"),
      // o30: same cents aggregate, same LAG grid; division is written
      // sign-factored (sign(d) * (abs(d)*1e6 // prev)) because DuckDB
      // builds DISAGREE on floor-vs-truncate for negative // while floor
      // ≡ trunc on non-negative operands — the only portable form
      "o30_yoy_growth" ->
        ("WITH rev AS (SELECT n_name, year(o_orderdate)::INT AS yr, " +
          "sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS rev_cents " +
          "FROM orders JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1, 2), " +
          "g AS (SELECT n_name, yr, rev_cents, " +
          "lag(rev_cents) OVER (PARTITION BY n_name ORDER BY yr)::BIGINT AS prev_cents FROM rev) " +
          "SELECT n_name, yr, rev_cents, prev_cents, " +
          "CASE WHEN prev_cents > 0 THEN " +
          "(CASE WHEN rev_cents >= prev_cents " +
          "THEN ((rev_cents::HUGEINT - prev_cents) * 1000000) // prev_cents " +
          "ELSE -(((prev_cents::HUGEINT - rev_cents) * 1000000) // prev_cents) END) " +
          "END::BIGINT AS growth_e6 FROM g ORDER BY n_name, yr"),
      "o27_nation_profit" ->
        ("SELECT n_name AS nation, year(o_orderdate) AS o_year, " +
          "round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6) " +
          "- (0.5 * p_retailprice * l_quantity)::DECIMAL(18,6)), 2)::DOUBLE AS sum_profit " +
          "FROM lineitem " +
          "JOIN part ON l_partkey = p_partkey " +
          "JOIN supplier ON l_suppkey = s_suppkey " +
          "JOIN nation ON s_nationkey = n_nationkey " +
          "JOIN orders ON l_orderkey = o_orderkey " +
          "WHERE p_name LIKE '%widget%' " +
          "GROUP BY 1, 2 ORDER BY 1, 2 DESC"),
      // o23: the naive form — the whole disjunction in one WHERE; the
      // engine's factored pushdown must be value-invisible
      "o23_promo_revenue" ->
        ("SELECT p_brand, count(*) AS n_items, " +
          "round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,6)), 2)::DOUBLE AS revenue " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey " +
          "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11) " +
          "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20) " +
          "OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30) " +
          "GROUP BY 1 ORDER BY 1"),
      "o22_volume_suppliers" ->
        ("SELECT s_suppkey, s_name, n_name FROM supplier " +
          "JOIN nation ON s_nationkey = n_nationkey " +
          "WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem " +
          "WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' " +
          "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00' AND l_partkey IN " +
          "(SELECT p_partkey FROM part WHERE p_name LIKE 'small%') " +
          "GROUP BY l_partkey, l_suppkey " +
          "HAVING sum(l_quantity::DECIMAL(18,6)) > 45) " +
          "ORDER BY s_suppkey"),
      // o13: the snowflake double-role join recomputed naively; the
      // money sum follows the cents rule (exact decimal, round 2, cast)
      "o13_trade_flows" ->
        ("WITH li AS (SELECT l_orderkey, l_suppkey, " +
          "l_extendedprice * (1 - l_discount) AS dp FROM lineitem " +
          "WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' " +
          "AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') " +
          "SELECT r_name AS supp_region, sn.n_name AS supp_nation, " +
          "cn.n_name AS cust_nation, " +
          "round(sum(dp::DECIMAL(28,10)), 2)::DOUBLE AS revenue, " +
          "count(*) AS n_items " +
          "FROM li " +
          "JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN supplier ON l_suppkey = s_suppkey " +
          "JOIN nation sn ON s_nationkey = sn.n_nationkey " +
          "JOIN region ON sn.n_regionkey = r_regionkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation cn ON c_nationkey = cn.n_nationkey " +
          "WHERE sn.n_name <> cn.n_name " +
          "GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
      // j8: the union-tag merge mirrored with DuckDB's IGNORE NULLS
      // windows; the interpolation CASE repeats the engine's exact double
      // formula so both engines agree bit-for-bit
      "j8_interpolated_align" ->
        ("WITH ev AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type, value FROM events), " +
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
      // j9: the same layered qualified-running-min windows (each layer a
      // CTE — DuckDB windows can't nest), same value-based qualification
      // and 3-day anchor horizon; count(col) counts non-null reaches
      "j9_funnel" ->
        ("WITH e AS (SELECT user_id AS u, epoch_us(ts::TIMESTAMP) AS us, " +
          "CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS tr, " +
          "event_type AS t FROM events WHERE event_type IN ('view','click','purchase')), " +
          "w0 AS (SELECT u, us, t, tr, min(CASE WHEN t = 'view' THEN us END) OVER win AS q0 " +
          "FROM e WINDOW win AS (PARTITION BY u ORDER BY us, tr ROWS UNBOUNDED PRECEDING)), " +
          "w1 AS (SELECT u, us, t, tr, q0, min(CASE WHEN t = 'click' AND q0 IS NOT NULL " +
          "AND us >= q0 AND us - q0 <= 259200000000 THEN us END) OVER win AS q1 " +
          "FROM w0 WINDOW win AS (PARTITION BY u ORDER BY us, tr ROWS UNBOUNDED PRECEDING)), " +
          "w2 AS (SELECT u, q0, q1, min(CASE WHEN t = 'purchase' AND q1 IS NOT NULL " +
          "AND us >= q1 AND us - q0 <= 259200000000 THEN us END) OVER win AS q2 " +
          "FROM w1 WINDOW win AS (PARTITION BY u ORDER BY us, tr ROWS UNBOUNDED PRECEDING)), " +
          "pu AS (SELECT u, min(q0) AS q0, min(q1) AS q1, min(q2) AS q2 FROM w2 GROUP BY 1), " +
          "c AS (SELECT count(q0) AS n0, count(q1) AS n1, count(q2) AS n2 FROM pu), " +
          "x AS (SELECT 1::BIGINT AS step, 'view' AS event_type, n0 AS n_users FROM c " +
          "UNION ALL SELECT 2, 'click', n1 FROM c UNION ALL SELECT 3, 'purchase', n2 FROM c) " +
          "SELECT step, event_type, n_users, " +
          "round(n_users / lag(n_users) OVER (ORDER BY step), 6) AS frac_of_prev " +
          "FROM x ORDER BY step"),
      // e17: the j9 chain restricted to users whose funnel FINALIZED —
      // anchor + horizon strictly below the final watermark (max step-
      // event time, ms-floored, minus the 1h delay), the exact emission
      // rule of the streaming operator
      "e17_stream_funnel" ->
        ("WITH e AS (SELECT user_id AS u, epoch_us(ts::TIMESTAMP) AS us, " +
          "CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS tr, " +
          "event_type AS t FROM events WHERE event_type IN ('view','click','purchase')), " +
          "w0 AS (SELECT u, us, t, tr, min(CASE WHEN t = 'view' THEN us END) OVER win AS q0 " +
          "FROM e WINDOW win AS (PARTITION BY u ORDER BY us, tr ROWS UNBOUNDED PRECEDING)), " +
          "w1 AS (SELECT u, us, t, tr, q0, min(CASE WHEN t = 'click' AND q0 IS NOT NULL " +
          "AND us >= q0 AND us - q0 <= 259200000000 THEN us END) OVER win AS q1 " +
          "FROM w0 WINDOW win AS (PARTITION BY u ORDER BY us, tr ROWS UNBOUNDED PRECEDING)), " +
          "w2 AS (SELECT u, q0, q1, min(CASE WHEN t = 'purchase' AND q1 IS NOT NULL " +
          "AND us >= q1 AND us - q0 <= 259200000000 THEN us END) OVER win AS q2 " +
          "FROM w1 WINDOW win AS (PARTITION BY u ORDER BY us, tr ROWS UNBOUNDED PRECEDING)), " +
          "pu AS (SELECT u, min(q0) AS q0, min(q1) AS q1, min(q2) AS q2 FROM w2 GROUP BY 1), " +
          "wm AS (SELECT max(us // 1000) - 3600000 AS w FROM e), " +
          "fin AS (SELECT pu.* FROM pu, wm " +
          "WHERE q0 IS NOT NULL AND w > (q0 + 259200000000) // 1000), " +
          "c AS (SELECT count(q0) AS n0, count(q1) AS n1, count(q2) AS n2 FROM fin), " +
          "x AS (SELECT 1::BIGINT AS step, 'view' AS event_type, n0 AS n_users FROM c " +
          "UNION ALL SELECT 2, 'click', n1 FROM c UNION ALL SELECT 3, 'purchase', n2 FROM c) " +
          "SELECT step, event_type, n_users, " +
          "round(n_users / lag(n_users) OVER (ORDER BY step), 6) AS frac_of_prev " +
          "FROM x ORDER BY step"),
      // j14: the same capped set-semantics co-occurrence chain — distinct
      // (user, item), bot cap, pair counts, binary-incidence cosine,
      // per-item top-3 with neighbor ties
      "j14_item_neighbors" ->
        ("WITH ui AS (SELECT DISTINCT user_id, regexp_extract(props, '(\\d+)', 1)::INT AS item " +
          "FROM events WHERE event_type = 'view' AND regexp_extract(props, '(\\d+)', 1) <> ''), " +
          "ok AS (SELECT user_id FROM ui GROUP BY 1 HAVING count(*) <= 50), " +
          "c AS (SELECT ui.user_id, ui.item FROM ui JOIN ok USING (user_id)), " +
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
      // g1: the integer PageRank recurrence replayed as chained CTEs
      "g1_pagerank" -> pagerankSql,
      // g2: same orientation total order, same once-per-triangle wedge
      // close, same floor-divided cc micros
      "g2_triangle_stats" -> triangleSql,
      // g12: naive common-neighbor count per ADJACENT pair (w ranges
      // over genuine third parties — self-loops don't exist, so the
      // endpoints drop out naturally), same floor-div Jaccard, same
      // NULLS LAST page order
      "g12_edge_embeddedness" -> (coviewCte +
        ", deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1), " +
        "p AS (SELECT src AS item_a, dst AS item_b FROM e WHERE src < dst), " +
        "cm AS (SELECT p.item_a, p.item_b, count(*)::BIGINT AS support FROM p " +
        "JOIN e e1 ON e1.src = p.item_a JOIN e e2 ON e2.src = p.item_b AND e2.dst = e1.dst " +
        "GROUP BY 1, 2), " +
        "j AS (SELECT p.item_a, p.item_b, coalesce(cm.support, 0)::BIGINT AS support, " +
        "da.deg AS deg_a, db.deg AS deg_b FROM p " +
        "LEFT JOIN cm ON p.item_a = cm.item_a AND p.item_b = cm.item_b " +
        "JOIN deg da ON da.src = p.item_a JOIN deg db ON db.src = p.item_b) " +
        "SELECT item_a, item_b, support, deg_a, deg_b, " +
        "CASE WHEN deg_a + deg_b - 2 - support > 0 THEN " +
        "(support * 1000000) // (deg_a + deg_b - 2 - support) END::BIGINT AS jaccard_e6, " +
        "support = 0 AS local_bridge FROM j " +
        "ORDER BY jaccard_e6 DESC NULLS LAST, item_a, item_b"),
      // g3: same capped wedge counting, same non-adjacency anti-join,
      // same deterministic top-20
      "g3_link_prediction" -> linkPredictionSql,
      // g5: the seed-teleport recurrence replayed as chained CTEs
      "g5_personalized_pr" -> personalizedPrSql,
      // g6: recursive-reachability replay of the min-label fixpoint over
      // the support-≥8 co-view graph
      "g6_communities" -> communitiesSql,
      // g7: the weighted recurrence replayed as chained CTEs
      "g7_weighted_pagerank" -> weightedPagerankSql,
      // g8: depth-capped recursive reachability, min d per node — BFS's
      // first-discovery minimum replayed as an aggregate; explicit
      // NULLS LAST (the engines' default null order disagrees)
      "g8_bfs_layers" ->
        ("WITH RECURSIVE ui AS (SELECT DISTINCT user_id, regexp_extract(props, '(\\d+)', 1)::INT AS item " +
          "FROM events WHERE event_type = 'view' AND regexp_extract(props, '(\\d+)', 1) <> ''), " +
          "ok AS (SELECT user_id FROM ui GROUP BY 1 HAVING count(*) <= 50), " +
          "c AS (SELECT ui.user_id, ui.item FROM ui JOIN ok USING (user_id)), " +
          "e AS (SELECT src, dst FROM (SELECT a.item AS src, b.item AS dst, count(*) AS support " +
          "FROM c a JOIN c b ON a.user_id = b.user_id AND a.item <> b.item " +
          "GROUP BY 1, 2) WHERE support >= 6), " +
          "deg AS (SELECT src AS item, count(*)::BIGINT AS deg FROM e GROUP BY 1), " +
          "sd AS (SELECT unnest([0, 9]) AS item), " +
          "bfs(item, d) AS (SELECT item, 0 FROM sd " +
          "UNION " +
          "SELECT e.dst, bfs.d + 1 FROM bfs JOIN e ON e.src = bfs.item WHERE bfs.d < 10), " +
          "dist AS (SELECT item, min(d)::BIGINT AS dist FROM bfs GROUP BY 1) " +
          "SELECT deg.item, deg.deg, dist.dist FROM deg LEFT JOIN dist USING (item) " +
          "ORDER BY dist NULLS LAST, deg.item"),
      // g9: hop-capped recursive min-cost replay of the min-plus fixpoint
      // — cap 15 verified ≡ cap 6 at sf0.01 (fixpoint within 6 hops), the
      // engine runs to a REFUSED-if-not fixpoint so the cap only needs to
      // dominate the optimal-path hop count; same NULLS LAST discipline
      "g9_sssp" ->
        ("WITH RECURSIVE ui AS (SELECT DISTINCT user_id, regexp_extract(props, '(\\d+)', 1)::INT AS item " +
          "FROM events WHERE event_type = 'view' AND regexp_extract(props, '(\\d+)', 1) <> ''), " +
          "ok AS (SELECT user_id FROM ui GROUP BY 1 HAVING count(*) <= 50), " +
          "c AS (SELECT ui.user_id, ui.item FROM ui JOIN ok USING (user_id)), " +
          "ew AS (SELECT a.item AS src, b.item AS dst, count(*)::BIGINT AS support " +
          "FROM c a JOIN c b ON a.user_id = b.user_id AND a.item <> b.item GROUP BY 1, 2), " +
          "e AS (SELECT src, dst, (1000000 // support)::BIGINT AS w FROM ew WHERE support >= 6), " +
          "deg AS (SELECT src AS item, count(*)::BIGINT AS deg FROM e GROUP BY 1), " +
          "sd AS (SELECT unnest([0, 9]) AS item), " +
          "r(item, cst, d) AS (SELECT item, 0::BIGINT, 0 FROM sd " +
          "UNION " +
          "SELECT e.dst, r.cst + e.w, r.d + 1 FROM r JOIN e ON e.src = r.item WHERE r.d < 15), " +
          "dist AS (SELECT item, min(cst)::BIGINT AS dist FROM r GROUP BY 1) " +
          "SELECT deg.item, deg.deg, dist.dist FROM deg LEFT JOIN dist USING (item) " +
          "ORDER BY dist NULLS LAST, deg.item"),
      // g11: the identical peel as 12 chained MATERIALIZED steps — extra
      // rounds past the fixpoint are no-ops (s_{i+1} = s_i), so a fixed
      // unroll above the measured 6-round depth replays the engine's
      // run-to-fixpoint exactly; the engine's refusal rule covers the
      // other direction
      "g11_kcore" -> {
        val base = "WITH ui AS MATERIALIZED (SELECT DISTINCT user_id, regexp_extract(props, '(\\d+)', 1)::INT AS item " +
          "FROM events WHERE event_type = 'view' AND regexp_extract(props, '(\\d+)', 1) <> ''), " +
          "ok AS (SELECT user_id FROM ui GROUP BY 1 HAVING count(*) <= 50), " +
          "c AS MATERIALIZED (SELECT ui.user_id, ui.item FROM ui JOIN ok USING (user_id)), " +
          "e AS MATERIALIZED (SELECT a.item AS src, b.item AS dst FROM c a JOIN c b " +
          "ON a.user_id = b.user_id AND a.item <> b.item GROUP BY 1, 2 HAVING count(*) >= 6), " +
          "s0 AS MATERIALIZED (SELECT DISTINCT src AS item FROM e), "
        val steps = (1 to 12).map(i =>
          s"s$i AS MATERIALIZED (SELECT src AS item FROM e " +
            s"WHERE src IN (SELECT item FROM s${i - 1}) AND dst IN (SELECT item FROM s${i - 1}) " +
            "GROUP BY src HAVING count(*) >= 4), ").mkString
        base + steps +
          "f AS (SELECT src AS item, count(*)::BIGINT AS core_deg FROM e " +
          "WHERE src IN (SELECT item FROM s12) AND dst IN (SELECT item FROM s12) GROUP BY src) " +
          "SELECT item, core_deg FROM f WHERE core_deg >= 4 ORDER BY core_deg DESC, item"
      },
      // g10: the identical 3-iteration max-normalized integer replay as
      // chained MATERIALIZED CTEs (the v23 inlining rule); HUGEINT
      // products, outputs pinned ::BIGINT
      "g10_hits" -> {
        def step(i: Int): String =
          s"a${i}r AS MATERIALIZED (SELECT item, sum(h)::HUGEINT AS ar FROM ui JOIN h${i - 1} USING (user_id) GROUP BY 1), " +
            s"a$i AS MATERIALIZED (SELECT item, ((ar * 1000000) // (SELECT max(ar) FROM a${i}r))::BIGINT AS a FROM a${i}r), " +
            s"h${i}r AS MATERIALIZED (SELECT user_id, sum(a)::HUGEINT AS hr FROM ui JOIN a$i USING (item) GROUP BY 1), " +
            s"h$i AS MATERIALIZED (SELECT user_id, ((hr * 1000000) // (SELECT max(hr) FROM h${i}r))::BIGINT AS h FROM h${i}r), "
        "WITH ui AS MATERIALIZED (SELECT DISTINCT user_id, regexp_extract(props, '(\\d+)', 1)::INT AS item " +
          "FROM events WHERE event_type = 'view' AND regexp_extract(props, '(\\d+)', 1) <> ''), " +
          "h0 AS (SELECT DISTINCT user_id, 1000000::BIGINT AS h FROM ui), " +
          (1 to 3).map(step).mkString +
          "deg AS (SELECT item, count(*)::BIGINT AS views FROM ui GROUP BY 1) " +
          "SELECT deg.item, deg.views, a3.a AS auth_e6 FROM deg JOIN a3 USING (item) " +
          "ORDER BY auth_e6 DESC, item LIMIT 20"
      },
      // e31: the streamed set fold must rebuild g1's edge table exactly —
      // same oracle verbatim (distinct-union order-free, replay
      // idempotent by batch-directory overwrite)
      "e31_stream_coview" -> pagerankSql,
      // g4: the same exact HUGEINT moments and the same fixed-shape
      // round-6 Pearson ratio with the zero-variance null guard
      "g4_assortativity" -> (coviewCte +
        ", deg AS (SELECT src, count(*)::BIGINT AS deg FROM e GROUP BY 1), " +
        "a AS (SELECT ds.deg::HUGEINT AS dx, dd.deg::HUGEINT AS dy FROM e " +
        "JOIN deg ds ON e.src = ds.src JOIN deg dd ON e.dst = dd.src), " +
        "s AS (SELECT count(*)::HUGEINT AS m, sum(dx) AS sx, sum(dy) AS sy, " +
        "sum(dx*dy) AS sxy, sum(dx*dx) AS sxx, sum(dy*dy) AS syy FROM a) " +
        "SELECT m::BIGINT AS n_edges, " +
        "CASE WHEN m*sxx - sx*sx > 0 AND m*syy - sy*sy > 0 THEN " +
        "round((m*sxy - sx*sy)::DOUBLE / (sqrt((m*sxx - sx*sx)::DOUBLE) * " +
        "sqrt((m*syy - sy*sy)::DOUBLE)), 6) END AS r FROM s"),
      // v23: the identical exact-moments → power-iteration → projection
      // chain unrolled in SQL
      "v23_pca_project" -> pcaProjectSql,
      // j17: the same Knuth split, exact tallies, and the identical
      // fixed-shape z expression over exact integers
      "j17_ab_readout" ->
        ("WITH u AS (SELECT user_id, " +
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
      // j16: the same gap split (strict >), running-sum session ids, and
      // ordered string_agg — boundary/order semantics identical
      "j16_top_paths" ->
        ("WITH e AS (SELECT user_id, event_id, event_type, " +
          "epoch_us(ts::TIMESTAMP) AS us FROM events), " +
          "s AS (SELECT *, CASE WHEN us - lag(us) OVER " +
          "(PARTITION BY user_id ORDER BY us, event_id) > 1800000000 " +
          "THEN 1 ELSE 0 END AS new_s FROM e), " +
          "s2 AS (SELECT *, sum(new_s) OVER " +
          "(PARTITION BY user_id ORDER BY us, event_id) AS sess FROM s), " +
          "s3 AS (SELECT *, row_number() OVER " +
          "(PARTITION BY user_id, sess ORDER BY us, event_id) AS pos FROM s2), " +
          "p AS (SELECT user_id, sess, string_agg(event_type, '>' ORDER BY pos) AS path " +
          "FROM s3 WHERE pos <= 12 GROUP BY 1, 2) " +
          "SELECT path, count(*)::BIGINT AS n_sessions FROM p " +
          "GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20"),
      // e33: j16's chain VERBATIM plus the e2-style watermark cutoff —
      // only sessions whose last event + gap lies strictly below the
      // final watermark (max event ms − 1 h delay) are final and counted
      "e33_stream_paths" ->
        ("WITH e AS (SELECT user_id, event_id, event_type, " +
          "epoch_us(ts::TIMESTAMP) AS us FROM events), " +
          "wm AS (SELECT max(us // 1000) - 3600000 AS w FROM e), " +
          "s AS (SELECT *, CASE WHEN us - lag(us) OVER " +
          "(PARTITION BY user_id ORDER BY us, event_id) > 1800000000 " +
          "THEN 1 ELSE 0 END AS new_s FROM e), " +
          "s2 AS (SELECT *, sum(new_s) OVER " +
          "(PARTITION BY user_id ORDER BY us, event_id) AS sess FROM s), " +
          "s3 AS (SELECT *, row_number() OVER " +
          "(PARTITION BY user_id, sess ORDER BY us, event_id) AS pos FROM s2), " +
          "ends AS (SELECT user_id, sess, max(us) AS last_us FROM s2 GROUP BY 1, 2), " +
          "p AS (SELECT s3.user_id, s3.sess, string_agg(event_type, '>' ORDER BY pos) AS path " +
          "FROM s3 JOIN ends USING (user_id, sess) CROSS JOIN wm " +
          "WHERE pos <= 12 AND (last_us + 1800000000) // 1000 < wm.w GROUP BY 1, 2) " +
          "SELECT path, count(*)::BIGINT AS n_sessions FROM p " +
          "GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20"),
      // j15: the same lead() pairing over (user; ts, event_id) and the
      // same integer floor division — DuckDB // on positives ≡ Spark DIV
      "j15_markov_transitions" ->
        ("WITH e AS (SELECT user_id, event_id, event_type, " +
          "epoch_us(ts::TIMESTAMP) AS us FROM events), " +
          "p AS (SELECT event_type AS src, " +
          "lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS dst FROM e), " +
          "c AS (SELECT src, dst, count(*)::BIGINT AS n FROM p WHERE dst IS NOT NULL GROUP BY 1, 2), " +
          "t AS (SELECT src, sum(n)::BIGINT AS n_src FROM c GROUP BY 1) " +
          "SELECT c.src, c.dst, c.n, ((c.n * 1000000) // t.n_src)::BIGINT AS p_micros " +
          "FROM c JOIN t USING (src) ORDER BY src, dst"),
      // e29: the stream-folded matrix must equal the batch-free recompute
      "e29_stream_transitions" ->
        ("WITH e AS (SELECT user_id, event_id, event_type, " +
          "epoch_us(ts::TIMESTAMP) AS us FROM events), " +
          "p AS (SELECT event_type AS src, " +
          "lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS dst FROM e), " +
          "c AS (SELECT src, dst, count(*)::BIGINT AS n FROM p WHERE dst IS NOT NULL GROUP BY 1, 2), " +
          "t AS (SELECT src, sum(n)::BIGINT AS n_src FROM c GROUP BY 1) " +
          "SELECT c.src, c.dst, c.n, ((c.n * 1000000) // t.n_src)::BIGINT AS p_micros " +
          "FROM c JOIN t USING (src) ORDER BY src, dst"),
      // j13: same window join + position/count windows + the identical
      // integer credit cases — remainder on the last touch in both
      "j13_multitouch" ->
        ("WITH t AS (SELECT event_id AS click_id, user_id, epoch_us(ts::TIMESTAMP) AS t_us " +
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
      // j12: the j9 qualification chain extended with per-transition
      // latency quantiles — quantile_cont is DuckDB's exact interpolated
      // percentile, the same rank rule as Spark's `percentile` (the t14
      // parity)
      "j12_funnel_latency" ->
        ("WITH e AS (SELECT user_id AS u, epoch_us(ts::TIMESTAMP) AS us, " +
          "CASE event_type WHEN 'view' THEN 0 WHEN 'click' THEN 1 ELSE 2 END AS tr, " +
          "event_type AS t FROM events WHERE event_type IN ('view','click','purchase')), " +
          "w0 AS (SELECT u, us, t, tr, min(CASE WHEN t = 'view' THEN us END) OVER win AS q0 " +
          "FROM e WINDOW win AS (PARTITION BY u ORDER BY us, tr ROWS UNBOUNDED PRECEDING)), " +
          "w1 AS (SELECT u, us, t, tr, q0, min(CASE WHEN t = 'click' AND q0 IS NOT NULL " +
          "AND us >= q0 AND us - q0 <= 259200000000 THEN us END) OVER win AS q1 " +
          "FROM w0 WINDOW win AS (PARTITION BY u ORDER BY us, tr ROWS UNBOUNDED PRECEDING)), " +
          "w2 AS (SELECT u, q0, q1, min(CASE WHEN t = 'purchase' AND q1 IS NOT NULL " +
          "AND us >= q1 AND us - q0 <= 259200000000 THEN us END) OVER win AS q2 " +
          "FROM w1 WINDOW win AS (PARTITION BY u ORDER BY us, tr ROWS UNBOUNDED PRECEDING)), " +
          "pu AS (SELECT u, min(q0) AS q0, min(q1) AS q1, min(q2) AS q2 FROM w2 GROUP BY 1), " +
          "lat AS (SELECT 2::BIGINT AS step, 'click' AS event_type, q1 - q0 AS lat " +
          "FROM pu WHERE q1 IS NOT NULL " +
          "UNION ALL SELECT 3, 'purchase', q2 - q1 FROM pu WHERE q2 IS NOT NULL) " +
          "SELECT step, event_type, count(*)::BIGINT AS n_converted, " +
          "round(quantile_cont(lat, 0.5), 4) AS p50_us, " +
          "round(quantile_cont(lat, 0.9), 4) AS p90_us " +
          "FROM lat GROUP BY 1, 2 ORDER BY 1"),
      // j11: the same lead-held integral — exact decimal v*dt sum, one
      // double division; the event_id tie pins the hold order at equal
      // timestamps on both engines
      "j11_twap" ->
        ("WITH v AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, event_id, value " +
          "FROM events WHERE event_type = 'view'), " +
          "w AS (SELECT user_id, us, value, " +
          "lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS nxt FROM v), " +
          "g AS (SELECT user_id, count(*) AS n_obs, " +
          "sum(CASE WHEN nxt IS NOT NULL THEN value::DECIMAL(18,6) * (nxt - us) END) AS num, " +
          "max(us) - min(us) AS dur FROM w GROUP BY 1) " +
          "SELECT user_id, n_obs, " +
          "CASE WHEN dur > 0 THEN round(num::DOUBLE / dur, 6) END AS twap " +
          "FROM g ORDER BY user_id"),
      // j10: the same grid from DuckDB's week truncation (both engines
      // start ISO weeks on Monday); integer week arithmetic, exact
      // distincts, one division
      "j10_retention_cohorts" ->
        ("WITH a AS (SELECT DISTINCT user_id AS u, " +
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
      // p11: chunk boundaries recomputed with the same integer
      // arithmetic; chunk content gated by md5 of the sliced window
      "p11_chunk_docs" ->
        (T + ", ch AS (SELECT doc_id, t, " +
          "unnest(range(0, 1 + CAST(floor(greatest(len(t) - 16 - 1, 0) / 48.0) AS BIGINT))) AS i " +
          "FROM toks WHERE len(t) > 0) " +
          "SELECT doc_id, i AS chunk_id, " +
          "least(64, len(t) - i * 48)::BIGINT AS n_tokens, " +
          "md5(array_to_string(t[i * 48 + 1 : i * 48 + 64], ' ')) AS chunk_hash " +
          "FROM ch ORDER BY doc_id, chunk_id"),
      // e14: the x16 gate over the streaming-maintained rollup — exact
      // distinct from raw rows, sketch estimate within tolerance
      "e14_stream_sketch_fold" ->
        ("SELECT count(DISTINCT user_id) AS exact_users, true AS est_ok " +
          "FROM events WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-05 00:00:00' " +
          "AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 00:00:00'"),
      // p10: v2 rebuilt under the same deterministic rules, then a naive
      // full-outer md5 diff — class counts must match the engine's
      // hash-join diff exactly
      "p10_snapshot_diff" ->
        ("WITH v2 AS (" +
          "SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END AS text " +
          "FROM documents WHERE doc_id % 17 <> 0 " +
          "UNION ALL SELECT doc_id + 10000000 AS doc_id, 'new doc ' || doc_id AS text " +
          "FROM documents WHERE doc_id % 19 = 0), " +
          "o AS (SELECT doc_id, md5(len(text)::VARCHAR || ':' || text) AS h, len(text) AS l FROM documents), " +
          "n AS (SELECT doc_id, md5(len(text)::VARCHAR || ':' || text) AS h, len(text) AS l FROM v2), " +
          "j AS (SELECT CASE WHEN o.doc_id IS NULL THEN 'added' " +
          "WHEN n.doc_id IS NULL THEN 'removed' " +
          "WHEN o.h <> n.h THEN 'changed' ELSE 'unchanged' END AS change, " +
          "coalesce(n.l, o.l) AS chars FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id) " +
          "SELECT change, count(*) AS n_docs, sum(chars)::BIGINT AS n_chars " +
          "FROM j GROUP BY 1 ORDER BY 1"),
      "o8_cube_report" ->
        ("WITH l AS (SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS dp FROM lineitem), " +
          "o AS (SELECT o_orderkey, o_custkey, year(o_orderdate) AS order_year FROM orders) " +
          "SELECT n_name, order_year, round(sum(dp::DECIMAL(28,10)), 2)::DOUBLE AS revenue, " +
          "count(*) AS n_items FROM l " +
          "JOIN o ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "GROUP BY CUBE (n_name, order_year) " +
          "ORDER BY n_name ASC NULLS FIRST, order_year ASC NULLS FIRST"),
      "o3_nation_revenue" ->
        ("WITH l AS (SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS dp FROM lineitem), " +
          "o AS (SELECT o_orderkey, o_custkey, year(o_orderdate) AS order_year FROM orders) " +
          "SELECT n_name, order_year, round(sum(dp::DECIMAL(28,10)), 2)::DOUBLE AS revenue, " +
          "count(*) AS n_items FROM l " +
          "JOIN o ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "GROUP BY 1, 2 ORDER BY 1, 2"),
      "x8_orc_roundtrip" ->
        ("SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars " +
          "FROM documents ORDER BY doc_id"),
      // x9: gen-0 rows (even ids) predate n_chars → null after the merge
      "x9_schema_evolution" ->
        ("SELECT doc_id, lang, source, " +
          "CASE WHEN doc_id % 2 = 1 THEN n_chars END AS n_chars " +
          "FROM documents ORDER BY doc_id"),
      // x10: compaction changes physical layout only — rows are identical
      "x10_compaction" ->
        ("SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars " +
          "FROM documents ORDER BY doc_id"),
      // e10: two checkpointed arrivals reconstruct exactly the full table
      // (ts::TIMESTAMP floors ns to µs, matching the ingest normalization)
      "e10_incremental_ingest" ->
        ("SELECT event_id, ts::TIMESTAMP AS ts, user_id, event_type, value " +
          "FROM events ORDER BY event_id"),
      // x12: the bloom layout changes physical pruning only — the point
      // lookup returns exactly the original table's matching rows
      "x12_bloom_lookup" ->
        ("SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars " +
          "FROM documents WHERE doc_id IN (7, 123, 321) ORDER BY doc_id"),
      // x13: the z-order rewrite must not change the 2-D box aggregate
      "x13_zorder_scan" ->
        ("SELECT event_type, count(*) AS cnt, " +
          "sum(value::DECIMAL(18,6))::DOUBLE AS sum_value FROM events " +
          "WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-10 00:00:00' " +
          "AND ts::TIMESTAMP < TIMESTAMP '2024-01-16 00:00:00' " +
          "AND user_id >= 0 AND user_id < 30 " +
          "GROUP BY 1 ORDER BY 1"),
      // x11: the layout rewrite must not change the range aggregate
      "x11_sorted_scan" ->
        ("SELECT event_type, count(*) AS cnt, " +
          "sum(value::DECIMAL(18,6))::DOUBLE AS sum_value FROM events " +
          "WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-15 00:00:00' " +
          "AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 06:00:00' " +
          "GROUP BY 1 ORDER BY 1"),
      "x5_bucketed_join" ->
        ("SELECT o_orderpriority, count(*) AS n_items, sum(l_quantity) AS qty " +
          "FROM orders JOIN lineitem ON o_orderkey = l_orderkey " +
          "GROUP BY 1 ORDER BY 1"),
      // x14: the runtime filter is a pure optimization — results equal the
      // plain selective join
      "x14_runtime_filter_join" ->
        ("SELECT o_orderpriority, count(*) AS n_items, sum(l_quantity) AS qty " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "WHERE o_orderpriority = '1-URGENT' GROUP BY 1 ORDER BY 1"),
      "x7_jsonl_quarantine" ->
        ("SELECT 'clean' AS kind, count(*) AS cnt FROM documents " +
          "UNION ALL SELECT 'quarantined' AS kind, 3 AS cnt ORDER BY kind"),
      "x6_partitioned_scan" ->
        ("SELECT event_type, count(*) AS cnt FROM events " +
          "WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-15 00:00:00' " +
          "AND ts::TIMESTAMP < TIMESTAMP '2024-01-16 00:00:00' " +
          "GROUP BY 1 ORDER BY 1"),
      // x15: the whole corrected table recomputed from raw events — the
      // refreshed day carries doubled values, every other day original
      // the e1 rule: the per-row double (doubled or not) casts to DECIMAL
      // before the sum, so accumulation is order-independent on both engines
      "x15_day_refresh" ->
        ("SELECT (ts::TIMESTAMP::DATE)::VARCHAR AS event_date, count(*) AS cnt, " +
          "round(sum((CASE WHEN ts::TIMESTAMP::DATE = DATE '2024-01-15' " +
          "THEN value * 2 ELSE value END)::DECIMAL(18,6))::DOUBLE, 4) AS sum_value " +
          "FROM events GROUP BY 1 ORDER BY 1"),
      "e2_sessionize" ->
        // ts::TIMESTAMP floors the parquet ns timestamps to µs, matching the
        // engine's timestamp_micros(ts/1000) normalization
        ("WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts, round(value, 6)::DECIMAL(18,6) AS v FROM events), " +
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
      // e9: native session_window semantics — µs-exact INCLUSIVE gap merge
      // (sessions merge while the break is <= gap; spec-pinned at the exact
      // boundary) and µs-exact emission against the ms-quantized watermark
      // (sub-ms event times are the norm in this corpus, so e2's ms-floored
      // comparisons would be wrong here and vice versa)
      "e9_native_sessions" ->
        ("WITH ev AS (SELECT user_id, ts::TIMESTAMP AS ts, round(value, 6)::DECIMAL(18,6) AS v FROM events), " +
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
      "e3_stream_dedup" ->
        ("SELECT event_id, event_type, (value::DECIMAL(18,6))::DOUBLE AS value " +
          "FROM events ORDER BY event_id"),
      "e4_enriched_counts" ->
        // the dim is user_id → 'tier' || (user_id % 3), derived from the same
        // event log, so the inner join keeps every event
        ("SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, " +
          "'tier' || (user_id % 3)::VARCHAR AS tier, count(*) AS cnt, " +
          "sum(value::DECIMAL(18,6))::DOUBLE AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"),
      "e5_stream_join" ->
        ("SELECT a.event_id AS click_id, b.event_id AS purchase_id, a.user_id " +
          "FROM events a JOIN events b ON a.user_id = b.user_id " +
          "AND a.event_type = 'click' AND b.event_type = 'purchase' " +
          "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR " +
          "ORDER BY click_id, purchase_id"),
      "e7_attribution_outer" ->
        ("WITH ev AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, event_type FROM events), " +
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
      // e8: the store's final state = the latest event per user (ties by
      // event_id), projected through the same entry mapping
      // ts::TIMESTAMP floors ns→µs like the engine's withEventTime (same
      // rule as j1 below); printf never truncates wide ids (lpad would)
      "e8_stream_store_ingest" ->
        ("WITH latest AS (SELECT *, row_number() OVER (PARTITION BY user_id " +
          "ORDER BY ts::TIMESTAMP DESC, event_id DESC) AS rn FROM events) " +
          "SELECT printf('%06d', user_id) AS id, event_type AS category, " +
          "event_id AS record_count, user_id AS size, user_id % 2 = 0 AS is_public, " +
          "'org' || (user_id % 5)::VARCHAR AS org_uuid, 'evt-' || event_id::VARCHAR AS title " +
          "FROM latest WHERE rn = 1 ORDER BY id"),
      // ts::TIMESTAMP floors the parquet ns timestamps to µs, matching the
      // engine's timestamp_micros(ts div 1000) normalization. Clicks
      // collapse to max event_id per (user, ts) so the ASOF tie is
      // deterministic in both engines.
      "j1_asof_join" ->
        ("WITH clicks AS (SELECT user_id, ts::TIMESTAMP AS click_ts, " +
          "max(event_id) AS click_id FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
          "purchases AS (SELECT event_id AS purchase_id, user_id, ts::TIMESTAMP AS purchase_ts " +
          "FROM events WHERE event_type = 'purchase') " +
          "SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_ts, c.click_id " +
          "FROM purchases p ASOF LEFT JOIN clicks c " +
          "ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts " +
          "ORDER BY purchase_id"),
      "j4_asof_tolerance" ->
        ("WITH clicks AS (SELECT user_id, ts::TIMESTAMP AS click_ts, " +
          "max(event_id) AS click_id FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
          "purchases AS (SELECT event_id AS purchase_id, user_id, ts::TIMESTAMP AS purchase_ts " +
          "FROM events WHERE event_type = 'purchase') " +
          "SELECT p.purchase_id, p.user_id, p.purchase_ts, " +
          "CASE WHEN c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE THEN c.click_ts END AS click_ts, " +
          "CASE WHEN c.click_ts >= p.purchase_ts - INTERVAL 30 MINUTE THEN c.click_id END AS click_id " +
          "FROM purchases p ASOF LEFT JOIN clicks c " +
          "ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts " +
          "ORDER BY purchase_id"),
      // j6: nearest click either direction within ±30 min — candidates
      // ranked (|Δ| asc, backward-first on ties, then max click_id among
      // equal-ts backward / min among equal-ts forward: the CASE sign trick
      // mirrors the operator's (ts, side, tie) window order exactly)
      "j6_nearest_align" ->
        ("WITH clicks AS (SELECT user_id, ts::TIMESTAMP AS click_ts, " +
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
      "j2_range_pairs" ->
        ("SELECT a.event_id AS a_id, b.event_id AS b_id, " +
          "abs(epoch_us(a.ts::TIMESTAMP) - epoch_us(b.ts::TIMESTAMP)) AS gap_us " +
          "FROM events a JOIN events b ON a.event_id < b.event_id " +
          "AND abs(epoch_us(a.ts::TIMESTAMP) - epoch_us(b.ts::TIMESTAMP)) <= 2000000 " +
          "ORDER BY a_id, b_id"),
      "j3_interval_activity" ->
        ("WITH flagship AS (SELECT o_orderkey, o_orderdate AS win_start, " +
          "o_orderdate + INTERVAL 7 DAY AS win_end FROM orders WHERE o_totalprice > 495000) " +
          "SELECT f.o_orderkey, f.win_start, count(*) AS n_ship, sum(l.l_quantity) AS qty " +
          "FROM flagship f JOIN lineitem l " +
          "ON l.l_shipdate >= f.win_start AND l.l_shipdate < f.win_end " +
          "GROUP BY 1, 2 ORDER BY 1"),
      // j5: the salted join must equal the PLAIN join — the oracle knows
      // nothing about salt
      "j5_salted_join" ->
        ("SELECT p_brand, count(*) AS cnt, round(sum(l_quantity), 2) AS qty " +
          "FROM lineitem JOIN part ON l_partkey = p_partkey " +
          "GROUP BY 1 ORDER BY 1"),
      "s8_store_search" ->
        (M + "SELECT id, category, orgUUID AS org_uuid, isPublic AS is_public FROM meta " +
          "WHERE id BETWEEN '000001' AND '000200' AND category = 'cat5' " +
          "AND (orgUUID = 'org1' OR isPublic) ORDER BY id"),
      "a1_facet_categories" ->
        (M + "SELECT category, count(*) AS cnt FROM meta GROUP BY category ORDER BY cnt DESC, category LIMIT 100"),
      "a2_facet_formats" ->
        (M + "SELECT format, count(*) AS cnt FROM meta GROUP BY format ORDER BY cnt DESC, format LIMIT 10"),
      "a3_facet_segregation" ->
        (M + s"SELECT category, count(*) AS cnt FROM meta WHERE $aclOr GROUP BY category ORDER BY cnt DESC, category LIMIT 100"),
      "a4_total_count" ->
        (M + s"SELECT count(*) AS total FROM meta WHERE $aclOr AND format = 'csv'"),
      // a7: same one-pass fg/bg counts, HUGEINT-widened lift micros,
      // same (lift desc, term) top-10
      "a7_significant_terms" ->
        (M + ", tk AS (SELECT category = 'cat3' AS fg, " +
          s"unnest(${stdToks("dataSample")}) AS term FROM meta), " +
          "pt AS (SELECT term, count(*)::BIGINT AS bg_count, " +
          "sum(CASE WHEN fg THEN 1 ELSE 0 END)::BIGINT AS fg_count FROM tk GROUP BY term), " +
          "tt AS (SELECT sum(bg_count)::HUGEINT AS bg_total, " +
          "sum(fg_count)::HUGEINT AS fg_total FROM pt) " +
          "SELECT term, fg_count, bg_count, " +
          "((fg_count::HUGEINT * bg_total * 1000000) // (bg_count::HUGEINT * fg_total))::BIGINT AS lift_e6 " +
          "FROM pt, tt WHERE fg_count >= 3 " +
          "ORDER BY lift_e6 DESC, term LIMIT 10"),
      // a8: same scored stream, bucket table re-derived (count desc, key
      // LIMIT 5), rank-within-bucket replayed, inner join drops cut
      // buckets; sc is referenced twice → MATERIALIZED (the t31 rule)
      "a8_top_hits" ->
        (M + s", hp AS (SELECT id, category, ${score1("red")} AS score FROM meta), " +
          "sc AS MATERIALIZED (SELECT * FROM hp WHERE score > 0), " +
          "bk AS (SELECT category, count(*)::BIGINT AS bucket_cnt FROM sc " +
          "GROUP BY 1 ORDER BY bucket_cnt DESC, category LIMIT 5), " +
          "rk AS (SELECT category, id, score, " +
          "row_number() OVER (PARTITION BY category ORDER BY score DESC, id)::BIGINT AS rnk FROM sc) " +
          "SELECT r.category, b.bucket_cnt, r.rnk, r.id, r.score " +
          "FROM rk r JOIN bk b USING (category) WHERE r.rnk <= 3 " +
          "ORDER BY b.bucket_cnt DESC, r.category, r.rnk"),
      // a9: the same five predicates as one-row conditional sums,
      // unpivoted by UNION ALL — values must match the one-pass engine
      "a9_filters_agg" ->
        (M + ", s AS (SELECT " +
          "sum(CASE WHEN format = 'csv' THEN 1 ELSE 0 END)::BIGINT AS fmt_csv, " +
          "sum(CASE WHEN isPublic THEN 1 ELSE 0 END)::BIGINT AS is_public, " +
          "sum(CASE WHEN creationTime >= TIMESTAMP '2015-07-01 00:00:00' THEN 1 ELSE 0 END)::BIGINT AS since_2015h2, " +
          "sum(CASE WHEN orgUUID = 'org1' THEN 1 ELSE 0 END)::BIGINT AS org1, " +
          "sum(CASE WHEN recordCount >= 500000 THEN 1 ELSE 0 END)::BIGINT AS big " +
          "FROM meta) " +
          "SELECT 'big' AS bucket, big AS cnt FROM s " +
          "UNION ALL SELECT 'fmt_csv', fmt_csv FROM s " +
          "UNION ALL SELECT 'is_public', is_public FROM s " +
          "UNION ALL SELECT 'org1', org1 FROM s " +
          "UNION ALL SELECT 'since_2015h2', since_2015h2 FROM s " +
          "ORDER BY bucket"),
      // q19: the same start-position scan as a list_filter lambda —
      // leading terms exact positional, last term starts_with
      "q19_phrase_prefix" ->
        (M + s", tk AS (SELECT id, ${stdToks("dataSample")} AS t FROM meta) " +
          ", c AS (SELECT id, (CASE WHEN len(t) >= 2 THEN " +
          "len(list_filter(range(1, len(t)), p -> t[p] = 'red' AND starts_with(t[p+1], 'pla'))) " +
          "ELSE 0 END)::BIGINT AS phrase_tf FROM tk) " +
          "SELECT id, phrase_tf FROM c WHERE phrase_tf > 0 " +
          "ORDER BY phrase_tf DESC, id LIMIT 10"),
      // a6: the same key-ordered bucket scan with a row-comparison
      // after-key — pages are disjoint by construction
      "a6_composite_facet" ->
        (M + "SELECT category, format, count(*) AS cnt FROM meta " +
          "WHERE category IS NOT NULL AND format IS NOT NULL " + // engine drops null buckets
          "GROUP BY category, format HAVING (category, format) > ('cat2', 'csv') " +
          "ORDER BY category, format LIMIT 8"),
      // c13: same per-group max + corpus high-water mark, exact day diffs
      "c13_freshness" -> freshnessSql,
      // c18: leading decimal char per positive value, the identical
      // literal Benford micros table (zipped unnests), HUGEINT-widened
      // floor-div shares, 9-row spine left join
      "c18_benford" -> benfordSql,
      // e40: the streamed per-digit sum log re-sums to exactly the
      // batch counts, so c18's oracle applies verbatim
      "e40_stream_benford" -> benfordSql,
      // c19: the same three dependencies melted by UNION ALL, identical
      // two-level distinct-branch aggregate, HUGEINT floor-div ppm
      "c19_fd_check" -> fdCheckSql,
      // e41: the streamed distinct-triple set log re-aggregates to
      // exactly the batch report — c19's oracle verbatim
      "e41_stream_fd" -> fdCheckSql,
      // a10: the identical planting, per-document distinct tokens,
      // doc-frequency count, the ≤2 cut, rarest-first page
      "a10_rare_terms" ->
        (M + ", pl AS (SELECT id, CASE WHEN id::BIGINT % 37 = 0 " +
          "THEN title || ' tg' || id ELSE title END AS title FROM meta), " +
          s"tk AS (SELECT id, unnest(list_distinct(${stdToks("title")})) AS term FROM pl) " +
          "SELECT term, count(*)::BIGINT AS doc_count FROM tk GROUP BY term " +
          "HAVING count(*) <= 2 ORDER BY doc_count, term LIMIT 20"),
      // c14: closed-form CUSUM replay over the same spine
      "c14_cusum_shift" -> cusumShiftSql,
      // e34: the streamed daily-count fold rebuilds the identical daily
      // table, so the batch CUSUM oracle applies verbatim
      "e34_stream_cusum" -> cusumShiftSql,
      // e32: the streamed (sum, max) fold must rebuild c13's per-group
      // table exactly — same oracle verbatim (max is order-free AND
      // duplicate-delivery-immune; replay idempotent by batch overwrite)
      "e32_stream_freshness" -> freshnessSql,
      // a11: the same top-5 bucket table joined onto the monthly grid,
      // a5's ::TIMESTAMP bucket-type alignment and NULLS FIRST pin
      "a11_bucket_date_histogram" ->
        (M + ", bk AS (SELECT category, count(*)::BIGINT AS bucket_cnt FROM meta " +
          "GROUP BY 1 ORDER BY bucket_cnt DESC, category LIMIT 5), " +
          "h AS (SELECT category, date_trunc('month', creationTime)::TIMESTAMP AS bucket, " +
          "count(*)::BIGINT AS cnt FROM meta GROUP BY 1, 2) " +
          "SELECT h.category, bucket_cnt, bucket, cnt FROM h JOIN bk USING (category) " +
          "ORDER BY bucket_cnt DESC, h.category, bucket NULLS FIRST"),
      "a5_date_histogram" ->
        // ::TIMESTAMP: DuckDB's month-truncation yields DATE, Spark's a
        // timestamp — align the bucket type
        // NULLS FIRST pinned (the o6 discipline): Spark's orderBy default —
        // a null creationTime bucket must land identically on both engines
        (M + "SELECT date_trunc('month', creationTime)::TIMESTAMP AS bucket, count(*) AS cnt " +
          "FROM meta GROUP BY 1 ORDER BY 1 NULLS FIRST"),
      "q6_autocomplete" ->
        (M + s", terms AS (SELECT unnest(${stdToks("title")}) AS term FROM meta) " +
          "SELECT term, count(*) AS cnt FROM terms WHERE term LIKE 'b%' " +
          "GROUP BY term ORDER BY cnt DESC, term LIMIT 5"),
      // q11: full BM25 re-derivation — df/N/avgdl from the corpus, the
      // identical per-term arithmetic in the identical order; k1/b
      // constants interpolated from the SAME Scala doubles the engine
      // uses (round-trip rendering → identical parsed values), ln's libm
      // ulp absorbed by round-4 (the t11 rule)
      "q11_bm25" -> {
        val k1 = 1.2
        val b = 0.75
        val terms = Seq("red", "widget")
        val termSql = terms.map { t =>
          s"(ln(1.0 + ((st.n - st.df_$t)::DOUBLE + 0.5) / (st.df_$t::DOUBLE + 0.5)) * " +
            s"(tf_$t * ${k1 + 1}) / (tf_$t + $k1 * (${1 - b} + $b * dl / st.avgdl)))"
        }.mkString(" + ")
        M + s", tk AS (SELECT id, ${stdToks("dataSample")} AS t FROM meta) " +
          ", st AS (SELECT count(*) AS n, " +
          terms.map(t =>
            s"sum(CASE WHEN list_contains(t, '$t') THEN 1 ELSE 0 END) AS df_$t")
            .mkString(", ") +
          ", (sum(len(t))::DOUBLE / count(*)) AS avgdl FROM tk) " +
          ", sc AS (SELECT id, round(" + termSql + ", 4) AS bm25 " +
          "FROM (SELECT id, len(t)::DOUBLE AS dl, " +
          terms.map(t => s"len(list_filter(t, x -> x = '$t'))::DOUBLE AS tf_$t")
            .mkString(", ") +
          " FROM tk), st) " +
          "SELECT id, bm25 FROM sc WHERE bm25 > 0 ORDER BY bm25 DESC, id LIMIT 10"
      },
      // q10: the same positional-conjunction occurrence count over the
      // analyzed field — both engines count starts i with t[i]='red' and
      // t[i+1]='plate'
      "q10_phrase_search" ->
        (M + s", tk AS (SELECT id, ${stdToks("dataSample")} AS t FROM meta) " +
          ", occ AS (SELECT id, CASE WHEN len(t) >= 2 THEN " +
          "len(list_filter(range(1, len(t)), i -> t[i] = 'red' AND t[i+1] = 'plate')) " +
          "ELSE 0 END::BIGINT AS phrase_tf FROM tk) " +
          "SELECT id, phrase_tf FROM occ WHERE phrase_tf > 0 " +
          "ORDER BY phrase_tf DESC, id LIMIT 10"),
      // q7: the oracle scans the whole dictionary with exact levenshtein —
      // the engine's deletion-key blocking must recall every d<=1 term
      "q7_spell_suggest" ->
        (M + s", terms AS (SELECT unnest(${stdToks("title")}) AS term FROM meta) " +
          "SELECT term, count(*) AS cnt FROM terms " +
          "WHERE levenshtein(term, 'hod') <= 1 " +
          "GROUP BY term ORDER BY cnt DESC, term LIMIT 5"),
      // q18: the same matched-share + clamped-ramp integer arithmetic;
      // list_distinct before the membership count (Spark array_intersect
      // dedups; DuckDB list_intersect semantics are not relied on)
      "q18_decay_search" ->
        (M + s", s AS (SELECT id, " +
          s"len(list_filter(list_distinct(${stdToks("dataSample")}), x -> x IN ('red', 'widget')))::BIGINT AS n_hit, " +
          "abs(date_diff('day', creationTime::DATE, DATE '2015-12-31'))::BIGINT AS age_days FROM meta) " +
          "SELECT id, age_days, (n_hit * 1000000 // 2)::BIGINT AS relevance_e6, " +
          "greatest(0, (360 - age_days) * 1000000 // 360)::BIGINT AS decay_e6, " +
          "((n_hit * 1000000 // 2) * greatest(0, (360 - age_days) * 1000000 // 360) // 1000000)::BIGINT AS score_e6 " +
          "FROM s WHERE n_hit > 0 ORDER BY score_e6 DESC, id LIMIT 10"),
      // q17: the UNBLOCKED replay — full-scan levenshtein over the title
      // vocabulary (no deletion keys), same (d+1−dist) weights summed
      // over each doc's distinct matched tokens; the engine's SymSpell
      // blocking must recall every one of these matches to hash-equal
      "q17_fuzzy_search" ->
        (M + s", vt AS (SELECT DISTINCT unnest(${stdToks("title")}) AS tok FROM meta), " +
          "mt AS (SELECT tok, (2 - levenshtein(tok, 'rad'))::BIGINT AS wt " +
          "FROM vt WHERE levenshtein(tok, 'rad') <= 1), " +
          s"dt AS (SELECT DISTINCT id, tok FROM (SELECT id, unnest(${stdToks("title")}) AS tok FROM meta)) " +
          "SELECT id, sum(wt)::BIGINT AS score FROM dt JOIN mt USING (tok) " +
          "GROUP BY id ORDER BY score DESC, id LIMIT 10"),
      "r1_result_shape" ->
        (M + s"""SELECT id, category, creation_date, data_sample, format, is_public, org_uuid,
                | record_count, "size", source_uri, target_uri, title FROM (
                |   SELECT id, category, strftime(creationTime, '%Y-%m-%d') AS creation_date,
                |     dataSample AS data_sample, format, isPublic AS is_public, orgUUID AS org_uuid,
                |     recordCount AS record_count, "size", sourceUri AS source_uri,
                |     targetUri AS target_uri, title, ${score1("red")} AS score
                |   FROM meta WHERE $aclOr AND format = 'json')
                | WHERE score > 0 ORDER BY score DESC, id LIMIT 5 OFFSET 0""".stripMargin.replaceAll("\n", " "))
    )
  }
}
