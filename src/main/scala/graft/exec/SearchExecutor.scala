package graft.exec

import graft.compile.{CompiledQuery, QueryCompiler}
import graft.model._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Executes a CompiledQuery with the reference's facet/post-filter interplay
  * (SURVEY.md §2.3): two plan branches off one shared `base`:
  *
  *   base   = scan.where(queryFilter [&& score > 0])      — hits AND facets
  *   facets = base.groupBy(dim).count.top(N)              — post filter NOT applied
  *   hits   = base.where(postFilter).orderBy(score desc, id).offset(from).limit(size)
  *   total  = base.where(postFilter).count                — ES hits.total counts the
  *                                                          post-filtered set
  *
  * `base` is cached across the branches (the reference gets this for free as a
  * single ES `post_filter` pass; here it is an explicit one-materialization
  * reuse). At catalog scale the cache is in-memory columnar; at 100 TB the
  * same two-branch plan holds — base becomes a parquet scan with the query
  * filter pushed down, and the facet branch is a partial+final hash aggregate.
  *
  * Ordering: relevance desc (ES default, implicit in reference search.py:108-112),
  * tie-broken by id for determinism (tie order is unspecified in the
  * reference; pinning it makes tests and pagination stable).
  */
object SearchExecutor {

  val CategoryFacetSize = 100 // reference: query_translation.py:84-89
  val FormatFacetSize = 10 // ES default, reference: query_translation.py:90-94
  val ScoreCol = "_score"

  /** The shared base branch: query filter + text score (+ score>0 cut). */
  def baseBranch(ds: DataFrame, cq: CompiledQuery): DataFrame = {
    val filtered = ds.where(cq.queryFilter)
    cq.score match {
      case Some(s) => filtered.withColumn(ScoreCol, s).where(col(ScoreCol) > 0.0)
      case None => filtered.withColumn(ScoreCol, lit(0.0))
    }
  }

  /** Facet branch: top-N bucket keys by doc count (counts are discarded in the
    * response shape, reference: search.py:121-135; ties broken by key asc —
    * ES breaks terms-agg ties by key ascending).
    */
  def facetBranch(base: DataFrame, dim: String, topN: Int): DataFrame =
    base.groupBy(col(dim)).count()
      .orderBy(col("count").desc, col(dim).asc)
      .limit(topN)

  /** Both facet dimensions in ONE aggregation job: GROUPING SETS
    * ((category), (format)) expands each base row into one record per
    * grouping set before a single partial+final hash aggregate, and a
    * window over the (already tiny) aggregated frame applies the per-set
    * top-N cut. Versus two [[facetBranch]] jobs this halves the facet
    * passes over `base` — at 100 TB, one fewer full scan/cache read per
    * search request. Returns (gid, key, cnt) rows already rank-filtered;
    * gid 1 = category set, gid 2 = format set (grouping_id bit per
    * MISSING column, category first).
    */
  def facetsBranch(base: DataFrame): DataFrame = {
    val agg = base.groupingSets(
        Seq(Seq(col("category")), Seq(col("format"))),
        col("category"), col("format"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"),
        grouping_id().cast("int").as("gid"))
      .withColumn("key", coalesce(col("category"), col("format")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("gid"))
      .orderBy(col("cnt").desc, col("key").asc)
    agg.withColumn("rank", row_number().over(w))
      .where((col("gid") === 1 && col("rank") <= CategoryFacetSize) ||
             (col("gid") === 2 && col("rank") <= FormatFacetSize))
      .select("gid", "key", "cnt", "rank")
  }

  /** Hits branch: post filter, relevance order, offset/limit pagination
    * (Q2/Q3). Catalyst plans orderBy+limit as TakeOrderedAndProject — no
    * full sort.
    */
  def hitsBranch(base: DataFrame, cq: CompiledQuery): DataFrame =
    base.where(cq.postFilter)
      .orderBy(col(ScoreCol).desc, col("id").asc)
      .offset(cq.from)
      .limit(cq.size)

  /** Full search → SearchResult (reference response shape, search.py:121-135).
    *
    * Two actions, not three: the hits collect and the facets collect.
    * `total` rides the hits action as an `observe()` metric — a
    * CollectMetrics node between the post filter and the TakeOrdered sees
    * every post-filtered row exactly once (the top-k runs above it), so the
    * count is exact and costs no extra pass. (AQE may split each action into
    * several stage jobs; the action count is what this code controls.) The
    * `size == 0` degenerate case falls back to a count: a `limit(0)` plan
    * folds to an empty relation, the metrics node never executes, and the
    * observation would block forever.
    */
  def search(spark: SparkSession, ds: Dataset[MetadataEntry], cq: CompiledQuery): SearchResult = {
    import spark.implicits._
    val base = baseBranch(ds.toDF(), cq)
    base.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val postFiltered = base.where(cq.postFilter)
      val (hits, total) =
        if (cq.size == 0) (Seq.empty[MetadataEntry], postFiltered.count())
        else {
          val obs = org.apache.spark.sql.Observation()
          val collected = postFiltered
            .observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("total"))
            .orderBy(col(ScoreCol).desc, col("id").asc)
            .offset(cq.from)
            .limit(cq.size)
            .drop(ScoreCol).as[MetadataEntry].collect().toSeq
          (collected, obs.get("total").asInstanceOf[Long])
        }
      // one job for BOTH facet dimensions (grouping-sets expand)
      val facetRows = facetsBranch(base)
        .select("gid", "key", "rank").collect()
      def keysOf(gid: Int): Seq[String] = facetRows.iterator
        .filter(_.getInt(0) == gid)
        .toSeq.sortBy(_.getInt(2)).map(_.getString(1))
      SearchResult(hits, total, keysOf(1), keysOf(2))
    } finally base.unpersist()
  }

  /** Convenience: raw DSL string + ACL → SearchResult (the reference's
    * `DataSetSearch.search(query, orgs, filtering, isAdmin)` signature,
    * search.py:105).
    */
  def search(spark: SparkSession, ds: Dataset[MetadataEntry], rawDsl: String, acl: AclContext): SearchResult =
    search(spark, ds, QueryCompiler.compile(QueryCompiler.parse(rawDsl), acl))

  /** Count endpoint: an empty search's total (reference: dataset_count.py:39-48).
    */
  def count(ds: Dataset[MetadataEntry], acl: AclContext): Long = {
    val cq = QueryCompiler.compile(CatalogQuery(), acl)
    baseBranch(ds.toDF(), cq).where(cq.postFilter).count()
  }

  /** FIELD COLLAPSING — Elasticsearch's `collapse` + `inner_hits` (the
    * search-lineage feature beside pagination and facets: one result per
    * group, e.g. "best hit per category", with each group's own top-k
    * attached). Over the scored [[baseBranch]] stream: rank hits within
    * each `field` group by (score desc, id) — rank 1 is the collapsed
    * result page, ranks 2..innerK the group's inner hits — and order
    * groups by their top hit's score, ES's collapsed-page order
    * (deterministic: ties fall back to group key then rank).
    *
    * Plan shape: the rank-≤-k filter compiles to the partial
    * WindowGroupLimit below the exchange (the o5 top-k-per-group shape) —
    * each map task forwards at most innerK rows per group, so the shuffle
    * carries k·|groups|-ish rows, not the corpus; the group-top score is a
    * second window over the ALREADY rank-cut rows (≤ innerK per group).
    * At 100 TB the one group-key exchange is the whole cost.
    *
    * Output: `(field, rnk, id, score, top_score)` ordered by
    * (top_score desc, field, rnk).
    */
  def collapseHits(base: DataFrame, field: String = "category",
                   innerK: Int = 3): DataFrame = {
    require(innerK >= 1, s"innerK must be >= 1, got $innerK")
    val grpW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(field)).orderBy(col(ScoreCol).desc, col("id").asc)
    val topW = org.apache.spark.sql.expressions.Window.partitionBy(col(field))
    base
      .withColumn("rnk", row_number().over(grpW).cast("long"))
      .where(col("rnk") <= innerK)
      .withColumn("top_score", max(col(ScoreCol)).over(topW))
      .select(col(field), col("rnk"), col("id"),
        col(ScoreCol).as("score"), col("top_score"))
      .orderBy(col("top_score").desc, col(field), col("rnk"))
  }

  /** SEARCH-AFTER deep pagination — Elasticsearch's `search_after`
    * (the keyset cursor that replaced deep `from`/`size`: ES rejects
    * from+size past 10 000 because an offset page makes every shard
    * produce and ship `from + size` rows; a keyset page costs O(size)
    * wherever it sits). The cursor is the last hit's (score, id) sort
    * key; the next page is everything STRICTLY AFTER it in the
    * (score desc, id asc) total order — a plain predicate
    * `score < s ∨ (score = s ∧ id > i)`, so the page plan is
    * filter → TakeOrdered(size): no offset, no skip-scan, the predicate
    * eligible for pushdown. Identical results to [[hitsBranch]]'s
    * offset form when the cursor is the previous page's last row
    * (total order — oracle-pinned), without its deep-page cost.
    */
  def searchAfter(base: DataFrame, afterScore: Double, afterId: String,
                  size: Int = 10): DataFrame = {
    require(size >= 1, s"size must be >= 1, got $size")
    base.where(col(ScoreCol) < afterScore ||
        (col(ScoreCol) === afterScore && col("id") > afterId))
      .orderBy(col(ScoreCol).desc, col("id").asc)
      .limit(size)
  }

  /** MORE-LIKE-THIS — Elasticsearch's `more_like_this` query (the
    * "find documents similar to this one" primitive of the search
    * lineage): extract the seed document's INTERESTING TERMS, build the
    * implied OR query, and rank the rest of the corpus by IDF-weighted
    * term overlap.
    *
    * Interesting-term selection is deliberately INTEGER-ONLY — rank the
    * seed's distinct terms by (term frequency desc, document frequency
    * asc, term asc) and take `maxQueryTerms` — where ES ranks by float
    * tf·idf: the two orders agree in spirit (frequent-in-doc,
    * rare-in-corpus first) but the integer total order is reproducible
    * bit-for-bit on any engine, while a float ranking could swap two
    * near-equal terms under libm ulp differences and silently change the
    * whole result set (the q4 round-6 discipline protects scores, not
    * selections). Scoring is then q4's IDF form — Σ ln(1 + N/(1+df))
    * over matched interesting terms, round-6, seed excluded, score > 0,
    * top-k by (score desc, id).
    *
    * Plan: the seed's token list and the |terms|+1-row df statistic are
    * driver-collected broadcast-scale constants ([[graft.compile.QueryCompiler.idfWeights]]
    * — the q8/e15-maintainable statistic), so scoring is ONE narrow
    * codegen'd pass over the corpus with no join and a
    * TakeOrderedAndProject top-k.
    */
  def moreLikeThis(entries: DataFrame, seedId: String,
                   field: String = "dataSample", maxQueryTerms: Int = 5,
                   k: Int = 10): DataFrame = {
    require(maxQueryTerms >= 1 && k >= 1,
      s"maxQueryTerms=$maxQueryTerms, k=$k must be positive")
    val seedRows = entries.where(col("id") === seedId)
      .select(graft.analyzers.Analyzers.standardTokens(col(field)))
      .collect()
    require(seedRows.nonEmpty, s"moreLikeThis: seed id $seedId not found")
    val seedToks = seedRows.head.getSeq[String](0)
    require(seedToks != null && seedToks.nonEmpty,
      s"moreLikeThis: seed id $seedId has no analyzable text in field $field")
    val tf = seedToks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val terms = tf.keys.toSeq.sorted
    val (n, dfs) = graft.compile.QueryCompiler.idfWeights(entries, terms, field)
    val interesting = terms
      .map(t => (t, tf(t), dfs.getOrElse(t, 0L)))
      .sortBy { case (t, f, d) => (-f, d, t) }
      .take(maxQueryTerms).map(_._1)
    def idf(t: String): Double =
      math.log(1.0 + n.toDouble / (1.0 + dfs.getOrElse(t, 0L).toDouble))
    val toks = graft.analyzers.Analyzers.standardTokens(col(field))
    val score = interesting.map(t =>
      when(array_contains(toks, t), lit(idf(t))).otherwise(0.0)).reduce(_ + _)
    entries.where(col("id") =!= seedId)
      .withColumn("score", round(score, 6))
      .where(col("score") > 0)
      .select(col("id"), col("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** SEARCH HIGHLIGHTING — matched-term snippet extraction over a page of
    * scored hits, the feature every search UI calls on every query (ES
    * `highlight`; the reference returns raw `_source` only,
    * search.py:121-135 — bonus fidelity like q4–q15). Offsets are in
    * TOKEN space under the SAME analyzer the match scored with (the q10
    * analyzer-symmetry rule): per (hit, field), `pos` is the 1-based
    * index of the FIRST query-term occurrence in the field's token array
    * (min over terms; a position names one token, so no tie exists), and
    * the fragment is the ±`window` token context with the matched token
    * wrapped in `<em>`. Exact integers and pure token arithmetic — char
    * offsets would hinge on whitespace-run lengths the analyzer already
    * erased, and could not be replayed engine-portably.
    *
    * Plan: one narrow codegen'd projection per field over the ALREADY
    * PAGED hits (≤ size rows — highlighting never touches the corpus), a
    * fields-way union of page-sized branches. Fields with no match drop
    * out (a hit may have scored on a field outside `fields`). Output:
    * `(id, score, field, term, pos, frag)` ordered by (score desc, id,
    * field).
    */
  def highlight(hits: DataFrame, terms: Seq[String],
                fields: Seq[String] = Seq("title", "dataSample"),
                window: Int = 2): DataFrame = {
    require(terms.nonEmpty, "highlight needs at least one analyzed query term")
    require(fields.nonEmpty, "highlight needs at least one field")
    require(window >= 0, s"window must be >= 0, got $window")
    val ts = terms.map(_.toLowerCase).distinct.sorted
    val branches = fields.map { f =>
      val toks = graft.analyzers.Analyzers.standardTokens(col(f))
      val posOf = ts.map(t =>
        when(array_position(toks, t) > 0, array_position(toks, t)))
      val pos = if (posOf.size == 1) posOf.head else least(posOf: _*)
      val term = ts.zip(posOf).foldRight(lit(null).cast("string")) {
        case ((t, p), acc) => when(p === pos, lit(t)).otherwise(acc)
      }
      val start = greatest(lit(1L), pos - window)
      val left = array_join(slice(toks, start.cast("int"), (pos - start).cast("int")), " ")
      val right = array_join(slice(toks, (pos + 1).cast("int"), lit(window)), " ")
      val em = concat(lit("<em>"), get(toks, (pos - 1).cast("int")), lit("</em>"))
      val frag = concat_ws(" ",
        when(length(left) > 0, left), em, when(length(right) > 0, right))
      hits.select(col("id"), col(ScoreCol).as("score"), lit(f).as("field"),
        term.as("term"), pos.as("pos"), frag.as("frag"))
    }
    branches.reduce(_ unionByName _)
      .where(col("pos").isNotNull)
      .orderBy(col("score").desc, col("id"), col("field"))
  }

  /** Date-histogram facet — Elasticsearch's `date_histogram` aggregation
    * (the time-axis companion of the category/format term facets the
    * reference compiles, query_translation.py:83-95): entry counts per
    * calendar bucket of a date field. One map-side-combining aggregate
    * into buckets-many rows; at 100 TB the same plan reads a
    * day-partitioned layout with the field's bounds as partition filters.
    */
  def dateHistogram(entries: DataFrame, field: String = "creationTime",
                    unit: String = "month"): DataFrame =
    entries.groupBy(date_trunc(unit, col(field)).as("bucket"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt")) // functions.count: the object's own count() endpoint shadows the import
      .orderBy("bucket")

  /** TERMS × DATE-HISTOGRAM composition — ES's `terms` aggregation with a
    * `date_histogram` sub-aggregation (the "activity over time, per
    * category" panel every catalog dashboard renders beside [[topHitsFacet]]'s
    * "best hits per category"): the top `numBuckets` values of `field` by
    * doc count in terms-agg order (count desc, key asc — a8's closed-form
    * drop rule), each carrying its per-calendar-unit entry counts.
    *
    * Plan shape — the a8 split again: the bucket table is a tiny
    * map-side-combining aggregate broadcast onto the (field, unit)
    * histogram aggregate (itself one map-side-combining pass whose
    * output is buckets × units rows); folding the bucket cut into a
    * window over the histogram would shuffle the full (field, unit)
    * grid per partition instead. A null timestamp lands in a null
    * calendar bucket ordered NULLS FIRST — pinned on both engines (the
    * a5/o6 discipline). Output: `(field, bucket_cnt, bucket, cnt)`
    * ordered by (bucket_cnt desc, field asc, bucket asc NULLS FIRST).
    */
  def bucketDateHistogram(entries: DataFrame, field: String = "category",
                          unit: String = "month",
                          ts: String = "creationTime",
                          numBuckets: Int = 5): DataFrame = {
    require(numBuckets >= 1, s"numBuckets must be >= 1, got $numBuckets")
    val buckets = entries.groupBy(col(field))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("bucket_cnt"))
      .orderBy(col("bucket_cnt").desc, col(field).asc)
      .limit(numBuckets)
    entries
      .groupBy(col(field), date_trunc(unit, col(ts)).as("bucket"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
      .join(broadcast(buckets), Seq(field))
      .select(col(field), col("bucket_cnt"), col("bucket"), col("cnt"))
      .orderBy(col("bucket_cnt").desc, col(field).asc, col("bucket").asc)
  }

  /** Prefix autocomplete — the completion-suggester shape of the search
    * lineage: top-k title terms (standard analyzer, the same tokens the
    * text match scores on) beginning with `prefix`, ranked by corpus
    * frequency with term tie-break. The prefix filter lands on the
    * exploded term stream BEFORE the aggregate, so the shuffle carries
    * matching terms only; the top-k is a TakeOrdered merge. At catalog
    * scale this is interactive; at 100 TB the term-frequency table is the
    * thing to materialize once and serve.
    */
  def autocomplete(entries: DataFrame, prefix: String, k: Int = 5): DataFrame =
    entries
      .select(explode(graft.analyzers.Analyzers.standardTokens(col("title"))).as("term"))
      .where(col("term").startsWith(prefix))
      .groupBy("term").agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(k)

  /** BM25 scoring — the modern default the search lineage MOVED TO (ES 5+
    * replaced the reference's ES 2.x TF-IDF with Okapi BM25; Robertson &
    * Zaragoza 2009): per term,
    *
    *   idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   idf = ln(1 + (N − df + 0.5)/(df + 0.5))      (the Lucene form)
    *
    * summed over query terms in a FIXED order (determinism: the per-term
    * addition order is part of the contract). Beside q4/q5's ES 2.x
    * ordering-parity scoring, this is the forward-compatibility twin.
    *
    * Stats discipline: df/N come from [[QueryCompiler.idfStatsTable]] (the
    * q8/e15-maintainable statistic — BM25 inherits the same incremental
    * maintenance story), avgdl is one 1-row aggregate; all three are
    * driver-collected broadcast-scale constants, so scoring is ONE narrow
    * codegen'd pass over the corpus with no join and a TakeOrdered top-k.
    * Cross-engine: every constant is an exact integer or a round-trip-
    * rendered double; only `ln` differs by libm ulp, absorbed by the
    * round-4 output (the t11 precedent). Zero-df terms contribute nothing
    * (their idf would be ln of the N+0.5/0.5 ratio on no matches — tf=0
    * zeroes the term anyway).
    */
  def bm25Search(entries: DataFrame, terms: Seq[String],
                 field: String = "dataSample", k: Int = 10,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Search needs at least one term")
    val stats = graft.compile.QueryCompiler.idfStatsTable(entries, terms, field)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n = stats.values.headOption.map(_._2).getOrElse(0L)
    val agg = entries.agg(
      sum(coalesce(size(graft.analyzers.Analyzers.standardTokens(col(field))),
        lit(0))).cast("long"),
      org.apache.spark.sql.functions.count(lit(1))).collect()(0)
    val avgdl = if (agg.getLong(1) == 0) 1.0
      else agg.getLong(0).toDouble / agg.getLong(1)
    val toks = graft.analyzers.Analyzers.standardTokens(col(field))
    val withT = entries.select(col("id"), coalesce(toks,
      array().cast("array<string>")).as("__t"))
    val dl = size(col("__t")).cast("double")
    // terms sum AS GIVEN (no dedup): a repeated query term contributes
    // twice, matching ES bool-should semantics and the q11 oracle builder
    val score = terms.map { t =>
      val df = stats(t)._1
      val idf = log(lit(1.0) + (lit((n - df).toDouble) + lit(0.5)) /
        (lit(df.toDouble) + lit(0.5)))
      // L=1 phrase count ≡ term frequency — the same native kernel
      val tf = graft.functions.Tokenize.phraseCount(col("__t"), Seq(t)).cast("double")
      idf * (tf * lit(k1 + 1)) /
        (tf + lit(k1) * (lit(1 - b) + lit(b) * dl / lit(avgdl)))
    }.reduce(_ + _)
    withT.select(col("id"), round(score, 4).as("bm25"))
      .where(col("bm25") > 0)
      .orderBy(col("bm25").desc, col("id").asc)
      .limit(k)
  }

  /** PHRASE query — the match_phrase of the search lineage: entries whose
    * analyzed field contains the query terms ADJACENT and IN ORDER
    * (slop 0), ranked by exact phrase-occurrence count desc, id asc.
    * The phrase analyzes with the corpus-standard tokenizer, so "Red,
    * PLATE!" and "red plate" are the same query — the analyzer-symmetry
    * rule every ES phrase query obeys.
    *
    * Occurrence counting is one pass over the token array per row: for
    * each start position, a conjunction of L positional equalities —
    * a narrow per-row projection with NO join, shuffle only for the
    * final TakeOrdered top-k. Sub-L-token rows short-circuit to 0 (also
    * guarding Spark's descending-sequence surprise: sequence(1, 0) is
    * [1, 0], not empty). At 100 TB this is scan-bound like every text
    * gate; the inverted-index acceleration (probe the rarest term's
    * postings first) composes upstream as a pushed term filter —
    * phrase_tf > 0 implies every term present, so a term-level
    * pre-filter loses nothing.
    */
  def phraseSearch(entries: DataFrame, phrase: String,
                   field: String = "dataSample", k: Int = 10): DataFrame = {
    val terms = graft.analyzers.Analyzers.standardTokensScala(phrase)
    require(terms.nonEmpty, s"phrase '$phrase' analyzes to no terms")
    val t = graft.analyzers.Analyzers.standardTokens(col(field))
    // native one-loop occurrence kernel (codegen'd; the interpreted HOF
    // twin is parity-spec-pinned in TokenizeExprSpec)
    entries
      .select(col("id"), t.as("__t"))
      .select(col("id"),
        graft.functions.Tokenize.phraseCount(col("__t"), terms).as("phrase_tf"))
      .where(col("phrase_tf") > 0)
      .orderBy(col("phrase_tf").desc, col("id").asc)
      .limit(k)
  }

  /** MATCH-PHRASE-PREFIX query — the ES `match_phrase_prefix` lineage
    * (the search-as-you-type primitive: the user has typed a phrase
    * whose LAST word is still incomplete, so "red pla" must already hit
    * "red plate"): all terms analyze under the corpus-standard tokenizer
    * (the q10 symmetry rule), every term but the last matches exactly
    * and ADJACENT IN ORDER, the last matches as a PREFIX of the token in
    * final position. Ranked like q10 by exact occurrence count desc, id.
    *
    * Counting is one per-row pass over the token array — a `filter` over
    * the start positions with L positional equalities plus one
    * startsWith (declarative HOF: the start-position domain is exact and
    * the sub-L-token guard short-circuits Spark's descending-sequence
    * surprise, as in q10); no join, shuffle only for the TakeOrdered
    * top-k. The q10 native-kernel escalation path applies verbatim if
    * this ever reaches a hot path: [[graft.functions.Tokenize.phraseCount]]
    * generalizes by one prefix-compare flag on its last term.
    */
  def phrasePrefixSearch(entries: DataFrame, phrase: String,
                         field: String = "dataSample", k: Int = 10): DataFrame = {
    val terms = graft.analyzers.Analyzers.standardTokensScala(phrase)
    require(terms.nonEmpty, s"phrase '$phrase' analyzes to no terms")
    val exact = terms.init
    val prefix = terms.last
    val L = terms.size
    val t = graft.analyzers.Analyzers.standardTokens(col(field))
    def matchAt(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      exact.zipWithIndex.map { case (tm, i) =>
        element_at(col("__t"), (p + lit(i)).cast("int")) === tm
      }.foldLeft(
        element_at(col("__t"), (p + lit(L - 1)).cast("int")).startsWith(prefix)
      )(_ && _)
    entries
      .select(col("id"), t.as("__t"))
      .select(col("id"),
        when(size(col("__t")) >= L,
          size(filter(sequence(lit(1), size(col("__t")) - lit(L - 1)),
            p => matchAt(p))))
          .otherwise(0).cast("long").as("phrase_tf"))
      .where(col("phrase_tf") > 0)
      .orderBy(col("phrase_tf").desc, col("id").asc)
      .limit(k)
  }

  /** Spelling suggestion — the term-suggester of the search lineage (the
    * "did you mean" companion of [[autocomplete]]): top-k title terms
    * within edit distance 1 of the query term, ranked by corpus frequency
    * with term tie-break. SymSpell-style deletion blocking makes this
    * INDEXABLE: two strings are within distance 1 only if they share a
    * key in {s} ∪ deletes₁(s) (delete-delete covers substitution and
    * transposed neighbors at d=1; the identity key covers pure
    * insert/delete), so the dictionary explodes once into (key, term)
    * rows and a query probes just its |term|+1 keys — exact levenshtein
    * then verifies only the key-collisions, never the dictionary. The
    * probe is a pushed IN filter on the key column; at 100 TB the
    * (key, term, cnt) deletion index is the artifact to materialize once
    * (the persisted-index discipline), making each suggestion a
    * key-pruned lookup instead of a corpus-wide edit-distance scan.
    */
  def spellSuggest(entries: DataFrame, term: String, k: Int = 5): DataFrame = {
    val dict = entries
      .select(explode(graft.analyzers.Analyzers.standardTokens(col("title"))).as("term"))
      .groupBy("term").agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
    val deletionKeys = array_union(array(col("term")),
      transform(sequence(lit(1), length(col("term"))), i =>
        concat(col("term").substr(lit(1), i - 1),
          col("term").substr(i + 1, length(col("term"))))))
    val qKeys = (term +: term.indices.map(i => term.take(i) + term.drop(i + 1))).distinct
    dict.select(col("term"), col("cnt"), explode(deletionKeys).as("key"))
      .where(col("key").isin(qKeys: _*))
      .select("term", "cnt").distinct()
      .where(levenshtein(col("term"), lit(term)) <= 1)
      .orderBy(col("cnt").desc, col("term")).limit(k)
  }

  /** FUNCTION-SCORE with LINEAR RECENCY DECAY — the ES
    * function_score-with-decay lineage (the "recent documents first, but
    * relevance still matters" ranking every catalog search ships):
    * relevance × a recency multiplier that ramps linearly from 1 at the
    * origin to 1/2 at `scaleDays` and 0 at 2·scaleDays — ES's linear
    * decay with offset 0, decay 0.5, where scale'= scale/(1−decay). The
    * LINEAR shape is chosen deliberately over gauss/exp: it is an exact
    * rational, so the whole score pipeline stays in integer micros
    * (relevance = matched-term share, decay = the clamped ramp, final =
    * their micros product) and both engines agree bit-for-bit — libm exp
    * differs in the last ulp across engines, the t20 no-ln rule. The
    * negative pre-clamp numerator is absorbed by the greatest-0 clamp
    * BEFORE anything reads it, so trunc-vs-floor divergence on negatives
    * never surfaces (the o30 hazard, clamped away instead of
    * sign-factored). One narrow codegen'd pass + TakeOrdered — the Q1
    * plan shape with one more multiply.
    */
  def decaySearch(entries: DataFrame, rawQuery: String, origin: String,
                  scaleDays: Int, k: Int = 10): DataFrame = {
    val qStd = graft.analyzers.Analyzers.standardTokensScala(rawQuery).distinct
    require(qStd.nonEmpty, s"query '$rawQuery' analyzes to no terms")
    require(scaleDays >= 1, s"scaleDays must be >= 1: $scaleDays")
    // validate eagerly: a malformed origin would cast to null and silently
    // decay every hit to 0 instead of failing loudly
    java.sql.Date.valueOf(origin)
    val span = 2L * scaleDays
    entries
      .select(col("id"),
        size(array_intersect(
          graft.analyzers.Analyzers.standardTokens(col("dataSample")),
          lit(qStd.toArray))).cast("long").as("n_hit"),
        abs(datediff(lit(origin).cast("date"), to_date(col("creationTime"))))
          .cast("long").as("age_days"))
      .where(col("n_hit") > 0)
      .withColumn("relevance_e6", expr(s"n_hit * 1000000 DIV ${qStd.size}L"))
      .withColumn("decay_e6",
        greatest(lit(0L), expr(s"(${span}L - age_days) * 1000000 DIV ${span}L")))
      .withColumn("score_e6", expr("relevance_e6 * decay_e6 DIV 1000000"))
      .select("id", "age_days", "relevance_e6", "decay_e6", "score_e6")
      .orderBy(col("score_e6").desc, col("id")).limit(k)
  }

  /** FUZZY match query — the ES `match`-with-`fuzziness: AUTO` lineage
    * (the typo tolerance every search box ships): documents whose TITLE
    * contains a token within edit distance d of the query term, d by the
    * published AUTO ladder (0 for |q| ≤ 2, 1 for 3–5, 2 for ≥ 6).
    * Candidates generate by [[spellSuggest]]'s SymSpell deletion blocking
    * GENERALIZED to depth d — if lev(a,b) ≤ d the two share a common
    * ≤d-deletion subsequence, so the VOCABULARY (never the corpus) pays
    * the O(|tok|ᵈ) key explosion, the query probes its own ≤d-deletion
    * keys as a pushed IN filter, and exact levenshtein verifies only the
    * key collisions. Matched terms come back over ONE token-exploded
    * corpus pass as a broadcast join; score = Σ over a doc's DISTINCT
    * matched tokens of (d + 1 − dist) — exact integers, an exact hit
    * outranks a fuzzy one, ties by id. At 100 TB the (key, term)
    * deletion index is the materialize-once artifact (the q7 discipline)
    * and the scoring pass is the same explode + broadcast-semi shape as
    * every Q1-family query.
    */
  def fuzzySearch(entries: DataFrame, term: String, k: Int = 10): DataFrame = {
    val q = term.toLowerCase
    require(q.nonEmpty && q.forall(c => c.isLetterOrDigit),
      s"fuzzy term must be one analyzed token: '$term'")
    val d = if (q.length <= 2) 0 else if (q.length <= 5) 1 else 2
    def del1(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      transform(sequence(lit(1), length(s)), i =>
      concat(s.substr(lit(1), i - 1), s.substr(i + 1, length(s))))
    val tok = col("tok")
    val keysCol = d match {
      case 0 => array(tok)
      case 1 => array_union(array(tok), del1(tok))
      case _ => array_union(array_union(array(tok), del1(tok)),
        array_distinct(flatten(transform(del1(tok), s => del1(s)))))
    }
    def dels(s: String): Seq[String] = s.indices.map(i => s.take(i) + s.drop(i + 1))
    val qKeys = (d match {
      case 0 => Seq(q)
      case 1 => q +: dels(q)
      case _ => (q +: dels(q)) ++ dels(q).flatMap(dels)
    }).distinct
    val vocab = entries
      .select(explode(graft.analyzers.Analyzers.standardTokens(col("title"))).as("tok"))
      .distinct()
    val matched = vocab.select(tok, explode(keysCol).as("key"))
      .where(col("key").isin(qKeys: _*))
      .select("tok").distinct()
      .withColumn("dist", levenshtein(tok, lit(q)))
      .where(col("dist") <= d)
      .select(tok, (lit((d + 1).toLong) - col("dist")).as("wt"))
    entries
      .select(col("id"),
        explode(graft.analyzers.Analyzers.standardTokens(col("title"))).as("tok"))
      .distinct()
      .join(broadcast(matched), "tok")
      .groupBy("id").agg(sum("wt").as("score"))
      .orderBy(col("score").desc, col("id")).limit(k)
  }

  /** SIGNIFICANT TERMS (the ES significant-terms aggregation lineage):
    * which dataSample terms are OVER-represented in a filtered slice
    * relative to the whole corpus — the "what is special about this
    * subset" primitive behind drill-down suggestions and anomaly triage
    * (a plain top-terms facet just returns corpus-common words; this
    * returns the slice's signature).
    *
    * Scoring is LIFT in exact floor-divided micros:
    * `(fg_count · bg_total · 10⁶) div (bg_count · fg_total)` — the
    * foreground/background rate ratio with every product widened to
    * DECIMAL (counts at corpus scale overflow a long product), no float
    * anywhere. `minFgCount` suppresses one-off terms (the ES shard-min
    * heuristic); 10⁶ = exactly corpus-average.
    *
    * Plan: ONE tokenize+explode pass with the foreground flag carried as
    * a conditional count beside the background count (the o24 one-pass
    * conditional-aggregate rule — never two jobs diffed), the 1-row
    * totals broadcast back, top-k a TakeOrdered merge.
    */
  def significantTerms(entries: DataFrame, fgPred: org.apache.spark.sql.Column, k: Int = 10,
                       minFgCount: Long = 3L): DataFrame = {
    require(k >= 1 && minFgCount >= 1, "significantTerms config invalid")
    val toks = entries.select(fgPred.as("fg"),
        explode(graft.analyzers.Analyzers.standardTokens(col("dataSample")))
          .as("term"))
    val perTerm = toks.groupBy("term")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("bg_count"),
        sum(when(col("fg"), 1L).otherwise(0L)).as("fg_count"))
    val totals = perTerm.agg(sum("bg_count").as("bg_total"),
      sum("fg_count").as("fg_total"))
    perTerm.where(col("fg_count") >= minFgCount)
      .crossJoin(broadcast(totals))
      .withColumn("lift_e6", expr(
        "CAST(fg_count AS DECIMAL(38,0)) * bg_total * 1000000" +
          " DIV (CAST(bg_count AS DECIMAL(38,0)) * fg_total)"))
      .select("term", "fg_count", "bg_count", "lift_e6")
      .orderBy(col("lift_e6").desc, col("term")).limit(k)
  }

  /** TOP-HITS-PER-FACET-BUCKET — Elasticsearch's `top_hits` sub-aggregation
    * inside a `terms` aggregation (the "each category with its best N
    * datasets" shape every catalog landing page renders; the reference's
    * facet branch returns bucket keys only, query_translation.py:83-95 /
    * search.py:131-135 — this is the lineage feature beside it). Buckets
    * are the top `numBuckets` values of `field` by doc count over the
    * scored [[baseBranch]] stream, in terms-agg order (doc_count desc,
    * key asc — the key tie-break also DECIDES which bucket survives a
    * count tie at rank `numBuckets`, so the drop rule is closed-form);
    * within each surviving bucket the top `hitsPerBucket` hits by
    * (score desc, id asc) — a total order, ids unique, so hit ties
    * cannot exist.
    *
    * Plan shape — two branches off the shared scored base, NOT one
    * window: (1) the bucket table is a map-side-combining hash aggregate
    * whose result is buckets-many rows (broadcast-scale by construction);
    * (2) the per-bucket rank cut is q13's partial-WindowGroupLimit shape —
    * the `rnk <= k` filter sits DIRECTLY above the row_number window, so
    * each map task forwards at most k rows per group into the exchange.
    * Folding the doc count into the same window (count().over(partition))
    * would force every bucket's full row set through the shuffle — the
    * count frame defeats the group-limit pushdown — so the tiny aggregate
    * branch + broadcast join is the 100 TB-correct split. The join also
    * applies the bucket top-N cut (hits of dropped buckets vanish on the
    * inner join). Output: `(field, bucket_cnt, rnk, id, score)` ordered
    * by (bucket_cnt desc, field asc, rnk).
    */
  def topHitsFacet(base: DataFrame, field: String = "category",
                   numBuckets: Int = 10, hitsPerBucket: Int = 3): DataFrame = {
    require(numBuckets >= 1 && hitsPerBucket >= 1,
      s"topHitsFacet config invalid: numBuckets=$numBuckets, hitsPerBucket=$hitsPerBucket")
    val buckets = base.groupBy(col(field))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("bucket_cnt"))
      .orderBy(col("bucket_cnt").desc, col(field).asc)
      .limit(numBuckets)
    val grpW = org.apache.spark.sql.expressions.Window
      .partitionBy(col(field)).orderBy(col(ScoreCol).desc, col("id").asc)
    base
      .withColumn("rnk", row_number().over(grpW).cast("long"))
      .where(col("rnk") <= hitsPerBucket)
      .join(broadcast(buckets), Seq(field))
      .select(col(field), col("bucket_cnt"), col("rnk"), col("id"),
        col(ScoreCol).as("score"))
      .orderBy(col("bucket_cnt").desc, col(field).asc, col("rnk"))
  }

  /** MINIMUM-SHOULD-MATCH search (the ES `minimum_should_match` lineage):
    * a multi-term query where a document qualifies only when at least
    * `minMatch` DISTINCT query terms hit any searched field — the
    * precision dial between pure-OR multi_match (m = 1, noisy at scale)
    * and pure-AND (m = |terms|, brittle). A term hits via the SAME
    * analyzers as Q1 scoring: substring on the lowercased title, token
    * membership on the standard-analyzed sample, token membership on the
    * uri-analyzed sourceUri. Qualifying docs rank by the UNCHANGED Q1
    * 3/2/1 score — the gate filters, it does not re-score.
    *
    * One codegen'd narrow pass (|terms| membership tests + the score
    * expression), the threshold pushed as a plain filter below the sort —
    * no join, no window beyond the final ordering.
    */
  def minShouldMatchSearch(entries: DataFrame, rawQuery: String,
                           minMatch: Int): DataFrame = {
    val qStd = graft.analyzers.Analyzers.standardTokensScala(rawQuery).distinct
    require(minMatch >= 1 && minMatch <= qStd.size,
      s"minMatch must be in [1, ${qStd.size}]: $minMatch")
    val sampleToks = graft.analyzers.Analyzers.standardTokens(col("dataSample"))
    val uriToks = graft.analyzers.Analyzers.uriTokens(col("sourceUri"))
    val nMatched = qStd.map { t =>
      when(lower(col("title")).contains(t) ||
        array_contains(sampleToks, t) ||
        array_contains(uriToks, t), 1L).otherwise(0L)
    }.reduce(_ + _)
    entries
      .withColumn("n_matched", nMatched)
      .where(col("n_matched") >= minMatch)
      .withColumn("score",
        graft.compile.QueryCompiler.scoreColumn(rawQuery))
      .select("id", "n_matched", "score")
      .orderBy(col("score").desc, col("id"))
  }

  /** RARE-TERMS aggregation (the ES `rare_terms` agg lineage): the
    * LONG-TAIL dual of the top-N terms facet — terms whose DOCUMENT
    * frequency is at most `maxDocCount`, rarest first. A top-N facet
    * structurally cannot surface these (they sort last); rare terms are
    * where typos, vandalism, and emerging vocabulary live — the facet a
    * catalog curator reads to find mis-tagged entries. Document
    * frequency (not term frequency): tokens dedupe per document before
    * the count, ES's semantics. One exploded map-side-combining
    * aggregate (the q6 plan), the ≤ cut a plain post-aggregate filter,
    * the page a TakeOrdered merge over (doc_count asc, term asc). ES
    * approximates this with a CuckooFilter at scale and documents the
    * false-positive trade; the exact aggregate is the same one job
    * here, so no sketch is needed.
    */
  def rareTerms(entries: DataFrame, field: String = "title",
                maxDocCount: Long = 2L, k: Int = 20): DataFrame = {
    require(maxDocCount >= 1 && k >= 1,
      s"rareTerms config invalid: maxDocCount=$maxDocCount, k=$k")
    entries
      .select(explode(array_distinct(
        graft.analyzers.Analyzers.standardTokens(col(field)))).as("term"))
      .groupBy("term")
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("doc_count"))
      .where(col("doc_count") <= maxDocCount)
      .orderBy(col("doc_count").asc, col("term").asc)
      .limit(k)
  }

  /** FILTERS aggregation (the ES `filters` agg lineage): NAMED
    * arbitrary-predicate buckets — "how many csv? how many public? how
    * many 2015-or-later?" — where a terms facet can only bucket one
    * field's values. Buckets are NON-exclusive (a row counts toward
    * every predicate it satisfies, ES's semantics) and computed in ONE
    * map-side-combining pass as |buckets| conditional sums (the o24
    * one-pass conditional-aggregate rule — never one job per filter,
    * which at 100 TB is |buckets| corpus scans instead of one). The
    * 1-row aggregate then unpivots to `(bucket, cnt)` rows driver-free
    * via a literal-array explode — metadata-scale by construction.
    * Output ordered by bucket name (the caller's names, deterministic).
    */
  def filtersAgg(base: DataFrame, buckets: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    require(buckets.nonEmpty, "filtersAgg needs at least one named bucket")
    require(buckets.map(_._1).distinct.size == buckets.size,
      s"filtersAgg bucket names must be unique: ${buckets.map(_._1)}")
    val sums = buckets.map { case (name, pred) =>
      sum(when(pred, 1L).otherwise(0L)).as(s"__b_$name") }
    base.agg(sums.head, sums.tail: _*)
      .select(explode(array(buckets.map { case (name, _) =>
        struct(lit(name).as("bucket"), col(s"__b_$name").as("cnt")) }: _*))
        .as("kv"))
      .select(col("kv.bucket").as("bucket"), col("kv.cnt").as("cnt"))
      .orderBy("bucket")
  }

  /** COMPOSITE facet (the ES composite-aggregation lineage): bucket counts
    * over a multi-dimension key, ordered BY KEY ascending and paginated by
    * an `after` key — the only facet shape that can walk an unbounded
    * bucket space in bounded pages (a top-N facet re-ranks globally per
    * page; composite pagination is a key-range scan, so page k+1 costs
    * the same as page 1 and pages never overlap or skip).
    *
    * The after-key filter is one struct comparison pushed below the
    * limit; the aggregate is map-side-combining; the page is a
    * TakeOrdered merge over the surviving buckets. At scale the bucket
    * space (not the corpus) bounds everything downstream of the one
    * grouping shuffle.
    */
  def compositeFacet(base: DataFrame, dims: Seq[String], pageSize: Int,
                     after: Option[Seq[String]] = None): DataFrame = {
    require(dims.nonEmpty && pageSize >= 1, "composite facet config invalid")
    require(after.forall(_.size == dims.size),
      s"after key must match dims arity: $after vs $dims")
    // NULL-keyed rows are EXCLUDED before grouping (ES composite's
    // default missing-bucket behavior): a null key has no position in
    // the after-key total order — the struct comparison would evaluate
    // to NULL and silently swallow every later bucket sharing the
    // non-null prefix, breaking the no-overlap/no-skip contract. Callers
    // wanting missing buckets coalesce to a sentinel first.
    // (functions.count fully qualified: SearchExecutor.count — the A4
    // total — shadows it in this scope)
    val counts = base
      .where(dims.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(dims.map(col): _*)
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
    val paged = after match {
      case Some(keys) =>
        counts.where(struct(dims.map(col): _*) >
          struct(keys.map(lit(_)): _*))
      case None => counts
    }
    paged.orderBy(dims.map(col): _*).limit(pageSize)
  }
}
