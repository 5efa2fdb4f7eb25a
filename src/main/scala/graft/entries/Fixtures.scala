package graft
package entries

import graft.compile.QueryCompiler
import graft.exec.SearchExecutor
import graft.model.{AclContext, InvalidQueryException, MetadataEntry}
import graft.operators.{Joins, Multimodal, Similarity}
import graft.store.MetadataStore
import graft.streaming.EventStream
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}

/** Spark-side building blocks the registered entries share: the search
  * harness, table readers, the store harness and the planted and measured
  * corpora.
  */
object Fixtures {
  val admin = AclContext(Nil, isAdmin = true)

  /** Compile DSL + ACL, run the two-branch executor, return the hits branch
    * (ordered by score desc, id — deterministic).
    */
  def hits(spark: SparkSession, sfDir: String, dsl: String, acl: AclContext): DataFrame = {
    val cq = QueryCompiler.compile(QueryCompiler.parse(dsl), acl)
    SearchExecutor.hitsBranch(SearchExecutor.baseBranch(Corpus.metadata(spark, sfDir), cq), cq)
  }

  /** The `field` facet's top-`size` (value, cnt) buckets for `dsl` under
    * `acl`.
    */
  def facet(s: SparkSession, d: String, dsl: String, acl: AclContext,
            field: String, size: Int): DataFrame = {
    val cq = QueryCompiler.compile(QueryCompiler.parse(dsl), acl)
    SearchExecutor.facetBranch(SearchExecutor.baseBranch(Corpus.metadata(s, d), cq), field, size)
      .select(col(field), col("count").as("cnt"))
  }

  /** Unpaged variant: splice a huge size into the DSL so the hits branch
    * returns every matching row, still deterministically ordered.
    */
  def all(dsl: String): String = {
    val inner = dsl.trim.stripPrefix("{").stripSuffix("}").trim
    if (inner.isEmpty) """{"size":10000000}"""
    else s"""{"size":10000000,$inner}"""
  }

  /** The one-row `error` frame: "InvalidQuery" when `attempt` throws
    * [[InvalidQueryException]], "NO_ERROR" when it returns.
    */
  def queryError(s: SparkSession)(attempt: => Any): DataFrame = {
    import s.implicits._
    val err =
      try { attempt; "NO_ERROR" }
      catch { case _: InvalidQueryException => "InvalidQuery" }
    Seq(err).toDF("error")
  }

  def docs(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/documents.parquet")

  def events(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/events.parquet")

  /** Each view event's (user_id, item), the item id parsed from `props`
    * and views without one dropped: the co-view graph's input pairs.
    */
  def viewItems(s: SparkSession, d: String): DataFrame =
    events(s, d).where(col("event_type") === "view")
      .select(col("user_id"),
        regexp_extract(col("props"), "(\\d+)", 1).cast("int").as("item"))
      .where(col("item").isNotNull)

  /** The co-view item graph over the events table. */
  def coviewEdges(s: SparkSession, d: String): DataFrame =
    graft.operators.Graph.coviewEdges(events(s, d), regexp_extract(col("props"), "(\\d+)", 1))

  /** The second snapshot of a documents table: every doc_id % 17 == 0 doc
    * deleted, every doc_id % 13 == 0 doc revised (" [rev2]" appended) and a
    * new doc at doc_id + 10000000 for every doc_id % 19 == 0.
    * [[OracleSql.revisedDocsSql]] is its DuckDB twin.
    */
  def revisedDocs(base: DataFrame): DataFrame =
    base.where(col("doc_id") % 17 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"))
      .unionByName(base.where(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"),
          concat(lit("new doc "), col("doc_id")).as("text")))

  /** The second snapshot of the metadata corpus `m` for the category drift
    * checks: id % 17 == 0 rows dropped, id % 13 == 0 rows re-categorized
    * into cat0.
    */
  def recategorized(m: DataFrame): DataFrame = {
    val key = expr("CAST(id AS INT)")
    m.where(key % 17 =!= 0)
      .withColumn("category",
        when(key % 13 === 0, lit("cat0")).otherwise(col("category")))
  }

  /** A documents table's rows in doc_id order, text by md5: the fidelity
    * check of the format and layout round-trips. [[OracleSql.docRowsSql]]
    * is its DuckDB twin.
    */
  def docRows(df: DataFrame): DataFrame =
    df.select(col("doc_id"), md5(col("text")).as("text_md5"),
        col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")

  /** The scratch dir `name`, filled by `write` only when it does not exist
    * yet: a stream entry's landing dir is staged once per process and the
    * harness's repeat calls reuse it.
    */
  def staged(name: String)(write: String => Unit): String = {
    val dir = GraftSession.scratch(name)
    if (!Files.exists(Paths.get(dir))) write(dir)
    dir
  }

  /** Store-op harness: fixed clock (determinism) + fresh temp-dir store. */
  private val storeClock: () => java.sql.Timestamp =
    () => java.sql.Timestamp.valueOf("2020-01-01 00:00:00")

  def freshStore(s: SparkSession): MetadataStore =
    new MetadataStore(s,
      GraftSession.scratchDir("graft-verify-store").toString, storeClock)

  /** A fresh store holding corpus ids 000001-000050, bulk-loaded as v1. */
  def loadedStore(s: SparkSession, d: String): MetadataStore = {
    val st = freshStore(s)
    st.bulkLoad(corpusEntries(s, d, "000001", "000050"))
    st
  }

  /** The three-version store: corpus ids 000001-000050 bulk-loaded (v1),
    * 000010's title set to `title` (v2), 000020 deleted (v3).
    */
  def threeVersionStore(s: SparkSession, d: String, title: String): MetadataStore = {
    val st = loadedStore(s, d) // v1
    st.partialUpdate("000010", Map("title" -> title))    // v2
    st.delete("000020")                                  // v3
    st
  }

  /** s28's three-arm merge source, `_delete`-flagged: 000010 with only its
    * title set (merge-patch keeps every null field), a delete of 000020,
    * an insert of 000200 and a delete of 000300, which the store lacks.
    */
  def mergeScript(s: SparkSession, d: String): DataFrame = {
    val base = corpusEntries(s, d, "000001", "000300").toDF()
    val fields = graft.model.MetadataSchema.structType.fields.toSeq
    def nulledExcept(overrides: Map[String, Column]) =
      fields.map { f =>
        overrides.getOrElse(f.name,
          if (f.name == "id") col("id")
          else lit(null).cast(f.dataType).as(f.name)).as(f.name)
      }
    base.where(col("id") === "000010")
      .select(nulledExcept(Map("title" -> lit("merged-title"))): _*)
      .withColumn("_delete", lit(false))
      .unionByName(base.where(col("id") === "000020")
        .select(nulledExcept(Map.empty): _*).withColumn("_delete", lit(true)))
      .unionByName(base.where(col("id") === "000200").withColumn("_delete", lit(false)))
      .unionByName(base.where(col("id") === "000300")
        .select(nulledExcept(Map.empty): _*).withColumn("_delete", lit(true)))
  }

  /** s11/s25's replica: the loaded store's version-1 snapshot advanced by
    * the change feed of 000010's title update, 000020's delete and
    * 000200's insert.
    */
  def cdcReplica(s: SparkSession, d: String): DataFrame = {
    val st = loadedStore(s, d) // commits version 1
    val snapshot = st.currentAt(1L).toDF()
    st.partialUpdate("000010", Map("title" -> "cdc-title"))
    st.delete("000020")
    corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
    MetadataStore.applyChanges(snapshot, st.changesBetween(1L))
  }

  /** A history table's (id, title, valid_from, valid_to) columns. */
  def historyRows(h: DataFrame): DataFrame =
    h.select(col("id"), col("title"), col("valid_from"), col("valid_to"))

  /** Corpus rows in a zero-padded id range, as typed entries. */
  def corpusEntries(s: SparkSession, d: String, lo: String, hi: String): Dataset[MetadataEntry] =
    Corpus.metadata(s, d).where(col("id").between(lo, hi))
      .as(Encoders.product[MetadataEntry])

  def badEntry(id: String, targetUri: String): MetadataEntry =
    MetadataEntry(id, "catx", java.sql.Timestamp.valueOf("2015-01-01 00:00:00"),
      "sample", "csv", isPublic = true, "org1", 1L, 1L,
      "http://data.example.com/x", targetUri, "bad entry")

  def emb(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"$d/embeddings.parquet")

  /** lineitem with the r17 scan-parallelism guard: the sf tables are laid
    * out as a few parquet row groups, which caps every downstream stage of
    * the compute-heavy OLAP pipelines (joins, Expand, decimal aggregates
    * all run inside the scan stage once dims broadcast) at 2-3 tasks; at
    * real scale the guard is a no-op (see util.Spread.scanWide). Keyed on
    * l_orderkey — the fact key the order-grain joins use. Filters still
    * push into the scan (predicates push through RepartitionByExpression).
    */
  def lineitemWide(s: SparkSession, d: String): DataFrame =
    graft.util.Spread.scanWide(
      s.read.parquet(s"$d/lineitem.parquet"), col("l_orderkey"))

  /** `report` over the customer, orders, [[lineitemWide]] and nation
    * tables: the nation × order-year revenue family.
    */
  def nationRevenueReport(s: SparkSession, d: String)(
      report: (DataFrame, DataFrame, DataFrame, DataFrame) => DataFrame): DataFrame =
    report(s.read.parquet(s"$d/customer.parquet"), s.read.parquet(s"$d/orders.parquet"),
      lineitemWide(s, d), s.read.parquet(s"$d/nation.parquet"))

  /** The events table's purchases (purchase_id, user_id, purchase_ts) and
    * clicks (user_id, click_ts, click_id), event time normalized: the
    * temporal-join entries' two sides.
    */
  def purchasesAndClicks(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val ev = EventStream.withEventTime(events(s, d))
    (ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts")),
     ev.where(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id")))
  }

  /** Shared j1/j4 harness: purchases as-of-joined to the same user's most
    * recent prior click, output (purchase_id, user_id, purchase_ts,
    * click_ts, click_id) ordered by purchase id.
    */
  def clickPurchaseAsOf(s: SparkSession, d: String, toleranceMicros: Long): DataFrame = {
    val (purchases, clicks) = purchasesAndClicks(s, d)
    Joins.asOf(purchases, clicks, Seq("user_id"),
        "purchase_ts", "click_ts", "click_id", toleranceMicros)
      .orderBy("purchase_id")
  }

  /** Planted near-dup CHAINS for the connected-component oracle: doc→doc+1
    * edges for doc_id % 50 < 3, giving disjoint 4-node paths (k, k+1, k+2,
    * k+3). A path's endpoints are linked only transitively — the shape that
    * separates true connected components from one-round min-propagation.
    */
  def chainPairs(docs: DataFrame): DataFrame =
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
  def plantedTruncDocs(s: SparkSession, d: String): DataFrame =
    plantedSliceDocs(s, d, residue = 7, offset = 300000L, frac = 0.98)

  /** documents plus 25%-PREFIX excerpts of every doc_id % 20 == 13 doc
    * (offset +400000) — the d7 planted corpus. An excerpt's shingles are a
    * subset of its source's, so its containment is exactly 1.0 while its
    * Jaccard is ≈0.25 — the asymmetric-duplication case (quotes, leads,
    * truncated mirrors) that containment dedup exists to catch and Jaccard
    * provably misses at any threshold ≥ 0.5.
    */
  def plantedPrefixDocs(s: SparkSession, d: String): DataFrame =
    plantedSliceDocs(s, d, residue = 13, offset = 400000L, frac = 0.25)

  /** Shared plant-a-sliced-copy builder: documents plus the first
    * ⌈frac·tokens⌉ tokens of every doc_id % 20 == residue doc, re-joined
    * as text under doc_id + offset. [[slicedDocsCte]] is its DuckDB twin —
    * keep the two in lockstep.
    */
  def plantedSliceDocs(s: SparkSession, d: String, residue: Int,
                               offset: Long, frac: Double): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val t = graft.analyzers.Analyzers.standardTokens(col("text"))
    base.unionByName(
      base.where(col("doc_id") % 20 === residue)
        .select((col("doc_id") + offset).as("doc_id"),
          array_join(slice(t, lit(1), ceil(size(t) * frac).cast("int")), " ").as("text")))
  }

  /** e15/e16's setup: the 'red'/'widget' IDF stats of ids up to 000050,
    * and ids 000051-000090 streamed from `<name>-src` into the delta log
    * `<name>-deltas`. Returns the stats and the delta dir.
    */
  def streamedIdfDeltas(s: SparkSession, d: String, name: String): (DataFrame, String) = {
    val deltas = GraftSession.scratch(s"$name-deltas")
    val src = staged(s"$name-src")(
      Corpus.metadata(s, d).where(col("id").between("000051", "000090"))
        .select("id", "dataSample").repartition(4).write.parquet(_))
    val base = Corpus.metadata(s, d).where(col("id") <= "000050")
    val stats0 = QueryCompiler.idfStatsTable(base, Seq("red", "widget"))
    EventStream.streamIdfDeltaFold(s, src, deltas, Seq("red", "widget"))
    (stats0, deltas)
  }

  /** d9's setup as a stream: the base corpus's signatures in the
    * `batch=-1` segment of the index `<name>-sigidx`, then the planted
    * batch streamed in from `<name>-landing`. Returns the index dir.
    */
  def streamedSignatureIndex(s: SparkSession, d: String, name: String): String = {
    val all = plantedTruncDocs(s, d)
    val dir = GraftSession.scratch(s"$name-sigidx")
    graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(dir))
    graft.operators.Dedup.signatureIndex(all.where(col("doc_id") < 300000L))
      .write.mode("overwrite").parquet(s"$dir/batch=-1")
    val landing = GraftSession.scratch(s"$name-landing")
    all.where(col("doc_id") >= 300000L).repartition(4)
      .write.mode("overwrite").parquet(landing)
    EventStream.streamSignatureIngest(s, landing, dir)
    dir
  }

  /** d9's incremental pairs answered from the signature index at `dir`. */
  def indexedIncrementalPairs(s: SparkSession, dir: String): DataFrame = {
    val idx = EventStream.readSignatureIndex(s, dir)
    graft.operators.Dedup.incrementalPairsFromIndex(
        idx.where(col("doc_id") < 300000L),
        idx.where(col("doc_id") >= 300000L), threshold = 0.6)
      .select("a_id", "b_id").orderBy("a_id", "b_id")
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
  def plantedPermDocs(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val t = graft.analyzers.Analyzers.standardTokens(col("text"))
    base.unionByName(
      base.where(col("doc_id") % 20 === 7)
        .select((col("doc_id") + 300000L).as("doc_id"),
          array_join(reverse(t), " ").as("text")))
  }

  /** documents with planted encoding damage — the t32/e39 corpus: the
    * mojibake pair on doc_id % 7 == 0, a binary leak and a replacement
    * char on doc_id % 11 == 0.
    */
  def plantedEncodingDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      // planted damage, pure escapes: \u00c3\u00a9 = the e-acute
      // double-encoding pair, \u00e2\u20ac\u009d = the right-quote one
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" \u00c3\u00a9 \u00e2\u20ac\u009d bad")))
        // NUL + SOH binary leak + an admitted replacement char
        .when(col("doc_id") % 11 === 0,
          concat(col("text"), lit("\u0000\u0001 bin \ufffd")))
        .otherwise(col("text")).as("text"))

  /** documents re-shaped into LINE-structured pages — the d8 planted
    * corpus. Every doc keeps its body as line 1 and gains boilerplate
    * footers: a newsletter plug on doc_id % 3 == 0 (~1/3 of the corpus)
    * and a copyright line on doc_id % 2 == 0 (~1/2) — both far above any
    * document-frequency threshold, while organic body lines are unique to
    * their document at every SF (no exact text dups in the corpus, per d1).
    * The boilerplate/body separation is therefore closed-form in SQL.
    */
  def plantedLineDocs(s: SparkSession, d: String): DataFrame =
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
  def plantedSpanDocs(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" the quick brown fox jumps over the lazy dog again and again")))
        .otherwise(col("text")).as("text"))

  /** x11/x13: per event_type row count and exact-decimal value sum of a
    * layout read ([[OracleSql.typeTotalsSql]] is its DuckDB twin).
    */
  def typeTotals(ev: DataFrame): DataFrame =
    ev.groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .orderBy("event_type")

  /** x16/e14's gate: the exact distinct users of `ev` over 2024-01-05 to
    * 2024-01-15, and whether the merged daily `sketches` estimate lands
    * within 5% of it.
    */
  def rangeDistinctCheck(ev: DataFrame, sketches: DataFrame): DataFrame = {
    val est = graft.operators.SketchRollup
      .rangeDistinctEstimate(sketches, "2024-01-05", "2024-01-15")
    val exact = ev.where(col("ts") >= lit("2024-01-05") && col("ts") < lit("2024-01-15"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.crossJoin(est)
      .select(col("exact_users"),
        (abs(col("est_distinct") / col("exact_users") - 1.0) <= 0.05).as("est_ok"))
  }

  /** x19/e20/e21: the top-10 users by event count over 2024-01-05 to
    * 2024-01-15 from the daily top-k `candidates`, with their count bounds.
    */
  def rangeTop10(candidates: DataFrame): DataFrame =
    graft.operators.SketchRollup
      .rangeTopK(candidates, "2024-01-05", "2024-01-15", k = 10)
      .select(col("key").as("user_id"), col("cnt_lb").as("n_events"),
        col("cnt_ub"), col("guaranteed"))
      .orderBy(col("n_events").desc, col("user_id"))

  /** Persists a cell-keyed vector index to `dir`, one directory per cell
    * (a static overwrite, so it also resets the scratch index).
    */
  def writeCellIndex(index: DataFrame, dir: String): Unit =
    index.transform(d0 => graft.util.Spread.byKey(d0, col("cell")))
      .write.mode("overwrite")
      .partitionBy("cell").parquet(dir)

  /** The top-10 of the five query vectors (vec_id < 5) over the persisted
    * IVF index at `dir`, probing 8 of the cells of `cents`.
    */
  def indexedTop10(s: SparkSession, d: String, dir: String, cents: Seq[Seq[Float]]): DataFrame =
    Similarity.ivfTopKIndexed(s.read.parquet(dir), cents,
        emb(s, d).where(col("vec_id") < 5), 10, nprobe = 8)
      .orderBy("q_id", "rank")

  /** Embeddings plus a planted 10-deep neighborhood per query vector — the
    * v2 oracle geometry. Each query q (vec_id < 5) gets copies at
    * q*100+j+200000 (j = 1..10) with dim 0 shifted by j/256 (exact in
    * float): cosines land in [0.99923, 0.99999], distinct at 6 decimals,
    * while the organic corpus never exceeds cos 0.40 to any query — so the
    * exact top-10 is the 10 plants and SRP-LSH (16 bits, 4 bands) misses a
    * plant with probability < 1e-5 per band set. The single float add
    * reproduces bit-identically in DuckDB (the v3 pattern).
    */
  def plantedTopKEmb(s: SparkSession, d: String): DataFrame = {
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
  def plantedLabeledEmb(s: SparkSession, d: String): DataFrame = {
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
  def plantedEmb(s: SparkSession, d: String): DataFrame = {
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
  def plantedMedia(s: SparkSession, d: String): DataFrame = {
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

  /** The recall leg of a measured entry: `(name, approx)` gives the
    * (method, hits, total, recall) row of `approx`'s (k1, k2) pairs
    * against `truth`'s. The truth set is a gate-scale statistic, so it
    * collects once and re-enters each leg as a broadcast local relation
    * (no session-lifetime cache pinned per invocation).
    */
  private def recallAgainst(s: SparkSession, truth: DataFrame, k1: String,
                    k2: String): (String, DataFrame) => DataFrame = {
    import s.implicits._
    val pairs = truth.select(col(k1), col(k2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val exact = broadcast(pairs.toDF(k1, k2))
    val total = pairs.size.toLong
    (name, approx) =>
      approx.select(k1, k2)
        .join(exact, Seq(k1, k2), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(name).as("method"), col("hits"), lit(total).as("total"),
          round(col("hits") / lit(total.toDouble), 4).as("recall"))
  }

  /** A pinned measurement's SF guard: `measure` runs only when the exact
    * fingerprint count·100000 + sum(`sumCol`) of `table` equals `fp`, the
    * sf0.01 value the oracle's pins describe; any other SF yields the one
    * PIN_STALE row ([[OracleSql.pinnedRecallSql]]'s stale branch).
    */
  def pinnedRecall(s: SparkSession, table: DataFrame, sumCol: String, fp: Long)(
      measure: => DataFrame): DataFrame = {
    import s.implicits._
    val v = table
      .agg((count(lit(1)) * 100000 + sum(col(sumCol))).cast("long"))
      .collect()(0).getLong(0)
    if (v != fp)
      Seq(("PIN_STALE_expected_sf0.01", -1L, v, -1.0))
        .toDF("method", "hits", "total", "recall")
    else measure
  }

  /** v25: measured recall of PARTIAL-probe range search vs the full-probe
    * exact radius scan (the v11 discipline applied to v24) — for RANGE
    * search, partial-probe loss is precisely the in-radius neighbors
    * living in cells the query didn't probe, so the knob→recall curve is
    * the capacity-planning evidence a caller sizing nprobe needs. Ground
    * truth collects once (|queries|·avg-in-radius pairs — codebook-scale)
    * and re-enters each leg as a broadcast local relation.
    */
  def measuredRangeRecall(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.where(col("vec_id") < 50)
    val cents = Similarity.ivfCentroids(e, 32)
    val idx = Similarity.ivfIndex(e, cents)
    val tau = 0.25
    val recall = recallAgainst(s,
      Similarity.rangeSearchIndexed(idx, cents, q, tau, nprobe = 32), "q_id", "vec_id")
    def leg(name: String, nprobe: Int): DataFrame =
      recall(name, Similarity.rangeSearchIndexed(idx, cents, q, tau, nprobe))
    leg("range_nprobe4", 4)
      .unionByName(leg("range_nprobe8", 8))
      .unionByName(leg("range_nprobe16", 16))
      .orderBy("method")
  }

  /** The v11 measurement body: recall@10 of every approximate path vs the
    * exact scan on sf0.01's organic geometry (see the registration comment;
    * only runs when the SF fingerprint matches the pinned corpus).
    */
  def measuredRecall(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.where(col("vec_id") < 50)
    // The exact top-10 ground truth is |q|·10 (q_id, vec_id) pairs — a
    // driver-side statistic the size of a codebook snapshot
    val leg = recallAgainst(s, Similarity.bruteForceTopK(e, q, 10), "q_id", "vec_id")
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
  def measuredDedupRecall(s: SparkSession, d: String): DataFrame = {
    val ds = docs(s, d)
    val leg = recallAgainst(s, graft.operators.Dedup.exactJaccardPairs(ds), "a_id", "b_id")
    leg("blocked_exact_df20_ms3", graft.operators.Dedup.jaccardPairs(ds))
      .unionByName(leg("minhash_16x4", graft.operators.Dedup.minhashPairs(ds)))
      .unionByName(leg("minhash_8x8",
        graft.operators.Dedup.minhashPairs(ds, bands = 8)))
      .unionByName(leg("simhash_h3", graft.operators.Dedup.simhashPairs(ds)))
      .orderBy("method")
  }

}
