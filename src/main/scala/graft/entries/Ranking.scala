package graft
package entries

import graft.compile.QueryCompiler
import graft.exec.SearchExecutor
import graft.operators.Similarity
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Scored-search entries: text scoring, paging, IDF/BM25, phrase, fuzzy and hybrid retrieval. */
object Ranking {
  val entries: Seq[Entry] = Seq(
    // Q4 (M6) IDF-weighted scoring: corpus df snapshot → weighted sample clause
    Entry("q4_idf_score", (s, d) => {
      val meta = Corpus.metadata(s, d)
      val (n, dfs) = QueryCompiler.idfWeights(meta, Seq("red", "widget"))
      meta.withColumn("score", round(QueryCompiler.scoreColumnIdf("red widget", n, dfs), 6))
        .where(col("score") > 0).select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id"))
    },
      {
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
      }),

    // Q5 TF·IDF: q4's IDF weighting with SUBLINEAR term frequency
    // (ln(1+tf)·idf — ES 2.1 default-similarity ordering on repeated
    // terms). TPC-H p_name draws 5 DISTINCT colors, so tf would be 0/1
    // everywhere; docs with id % 5 == 0 get their dataSample doubled (both
    // engines derive the same corpus) and must order ABOVE single-match
    // docs — the ordering TF exists to produce, pinned by the oracle
    Entry("q5_tf_score", (s, d) => {
      val meta = Corpus.metadata(s, d).withColumn("dataSample",
        when(col("id").cast("int") % 5 === 0,
          concat(col("dataSample"), lit(" "), col("dataSample")))
          .otherwise(col("dataSample")))
      val (n, dfs) = QueryCompiler.idfWeights(meta, Seq("red", "widget"))
      meta.withColumn("score", round(QueryCompiler.scoreColumnTfIdf("red widget", n, dfs), 6))
        .where(col("score") > 0).select(col("id"), col("score"))
        .orderBy(col("score").desc, col("id"))
    },
      {
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
      }),

    // Q1 scored text query, single term hitting title(3) + dataSample(2)
    Entry("q1_text_score", (s, d) =>
      hits(s, d, all("""{"query":"red"}"""), admin)
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score")),
      M + s"SELECT id, score FROM (SELECT id, ${score1("red")} AS score FROM meta) WHERE score > 0 ORDER BY score DESC, id"),

    // Q1 uri clause: term only reachable through the uri_analyzer tokens
    Entry("q1_uri_clause", (s, d) =>
      hits(s, d, all("""{"query":"economy"}"""), admin)
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score")),
      M + s"SELECT id, score FROM (SELECT id, ${score1("economy")} AS score FROM meta) WHERE score > 0 ORDER BY score DESC, id"),

    // Q1 multi-term: coordination fraction on dataSample/sourceUri
    Entry("q1_multiterm", (s, d) =>
      hits(s, d, all("""{"query":"red widget"}"""), admin)
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score")),
      M + s"SELECT id, score FROM (SELECT id, $scoreRW AS score FROM meta) WHERE score > 0 ORDER BY score DESC, id"),

    // Q2+Q3 ranking + explicit pagination (from=5, size=10)
    Entry("q2_pagination", (s, d) =>
      hits(s, d, """{"query":"red","from":5,"size":10}""", admin)
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score")),
      M + s"SELECT id, score FROM (SELECT id, ${score1("red")} AS score FROM meta) WHERE score > 0 ORDER BY score DESC, id LIMIT 10 OFFSET 5"),

    // Q3 default page size (ES default 10, from 0)
    Entry("q3_default_page", (s, d) =>
      hits(s, d, """{"query":"red"}""", admin)
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score")),
      M + s"SELECT id, score FROM (SELECT id, ${score1("red")} AS score FROM meta) WHERE score > 0 ORDER BY score DESC, id LIMIT 10 OFFSET 0"),

    // Q12 minimum_should_match (ES lineage): "red widget gear" with
    // m=2 — docs hitting ≥2 distinct terms qualify, ranked by the
    // unchanged q1 3/2/1 score; the precision dial between OR and AND
    Entry("q12_min_should_match", (s, d) =>
      SearchExecutor.minShouldMatchSearch(Corpus.metadata(s, d),
        "red widget gear", minMatch = 2),
      // q12: per-term hits via the same analyzers (title substring,
      // std-token sample, uri-token source), gate at >= 2, q1 score
      {
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
      }),

    // Q13 FIELD COLLAPSING (ES collapse + inner_hits): best hit per
    // category with each category's own top-3, groups ordered by their
    // top hit's score — partial WindowGroupLimit below the exchange, the
    // o5 top-k-per-group shape on the scored search stream
    Entry("q13_collapse", (s, d) => {
      val cq = QueryCompiler.compile(QueryCompiler.parse("""{"query":"red"}"""), admin)
      SearchExecutor.collapseHits(
        SearchExecutor.baseBranch(Corpus.metadata(s, d), cq),
        "category", innerK = 3)
    },
      // q13: the q1 'red' scoring chain collapsed per category — rank
      // within group by (score desc, id), keep ≤3, groups in top-hit
      // score order (ES collapse + inner_hits)
      M + "SELECT category, rnk, id, score, top_score FROM (" +
        "SELECT category, id, score, " +
        "row_number() OVER (PARTITION BY category ORDER BY score DESC, id)::BIGINT AS rnk, " +
        "max(score) OVER (PARTITION BY category) AS top_score " +
        s"FROM (SELECT id, category, ${score1("red")} AS score FROM meta) WHERE score > 0) " +
        "WHERE rnk <= 3 ORDER BY top_score DESC, category, rnk"),

    // Q15 SEARCH-AFTER deep pagination (ES search_after): page 3 of the
    // 'red' results via the (score, id) keyset cursor of row 20 — a
    // predicate + TakeOrdered, no offset skip-scan; equals the offset
    // page by the total order (the oracle IS the offset form)
    Entry("q15_search_after", (s, d) => {
      val cq = QueryCompiler.compile(QueryCompiler.parse("""{"query":"red"}"""), admin)
      val base = SearchExecutor.baseBranch(Corpus.metadata(s, d), cq)
      val cursor = base.orderBy(col(SearchExecutor.ScoreCol).desc, col("id").asc)
        .limit(20).orderBy(col(SearchExecutor.ScoreCol).asc, col("id").desc)
        .select(col(SearchExecutor.ScoreCol), col("id")).head() // row 20: ≤ page-scale collect
      SearchExecutor.searchAfter(base, cursor.getDouble(0), cursor.getString(1))
        .select(col("id"), col(SearchExecutor.ScoreCol).as("score"))
    },
      // q15: the keyset page must equal the OFFSET page — the oracle is
      // the naive offset form over the same total order
      M + s"SELECT id, score FROM (SELECT id, ${score1("red")} AS score FROM meta) " +
        "WHERE score > 0 ORDER BY score DESC, id OFFSET 20 LIMIT 10"),

    // Q16 HIGHLIGHTING: matched-term snippets over the paged 'red widget'
    // hits — TOKEN-space offsets under the scoring analyzers (the q10
    // symmetry rule), first-occurrence position per (hit, field), ±2
    // token fragment with the match <em>-wrapped; exact integers, the
    // oracle replays the token/offset arithmetic verbatim
    Entry("q16_highlight", (s, d) =>
      SearchExecutor.highlight(
        hits(s, d, """{"query":"red widget","size":20}""", admin),
        terms = graft.analyzers.Analyzers.standardTokensScala("red widget")),
      // q16: the same token/offset arithmetic over the same paged hits —
      // per field, pos = least first-occurrence over the two terms
      // (list_position 0→NULL), fragment = ±2 token window with the
      // matched token <em>-wrapped, concat_ws skipping empty flanks on
      // both engines
      {
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
      }),

    // Q14 MORE-LIKE-THIS (ES more_like_this): the seed doc's interesting
    // terms — ranked by the INTEGER (tf desc, df asc, term) order, never
    // float tf·idf (a libm ulp could swap the selection) — build the OR
    // query, rest of the corpus ranked by round-6 IDF overlap, seed
    // excluded; broadcast-scale stats, one narrow pass + TakeOrdered
    Entry("q14_more_like_this", (s, d) =>
      SearchExecutor.moreLikeThis(Corpus.metadata(s, d), "000042"),
      // q14: the same integer interesting-term selection (tf desc, df
      // asc, term) over the seed's tokens, q4's ln-IDF sum round-6
      M + s", seed AS (SELECT ${stdToks("dataSample")} AS t FROM meta WHERE id = '000042') " +
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

    // Q6 prefix autocomplete (ES completion-suggester shape): top-5 title
    // terms starting with "b", ranked by corpus frequency, term ties
    Entry("q6_autocomplete", (s, d) =>
      SearchExecutor.autocomplete(Corpus.metadata(s, d), prefix = "b"),
      M + s", terms AS (SELECT unnest(${stdToks("title")}) AS term FROM meta) " +
        "SELECT term, count(*) AS cnt FROM terms WHERE term LIKE 'b%' " +
        "GROUP BY term ORDER BY cnt DESC, term LIMIT 5"),

    // Q11 BM25 (Okapi) scoring — the modern lineage default (ES 5+): the
    // forward twin of q4/q5's ES 2.x parity scoring, same maintainable
    // df/N statistic plus one avgdl aggregate, one narrow scoring pass
    Entry("q11_bm25", (s, d) =>
      SearchExecutor.bm25Search(Corpus.metadata(s, d), Seq("red", "widget")),
      // q11: full BM25 re-derivation — df/N/avgdl from the corpus, the
      // identical per-term arithmetic in the identical order; k1/b
      // constants interpolated from the SAME Scala doubles the engine
      // uses (round-trip rendering → identical parsed values), ln's libm
      // ulp absorbed by round-4 (the t11 rule)
      {
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
      }),

    // Q10 PHRASE query (match_phrase, slop 0): adjacent in-order terms,
    // ranked by exact phrase occurrences; analyzer symmetry exercised by
    // querying with punctuation/case the tokenizer must strip
    Entry("q10_phrase_search", (s, d) =>
      SearchExecutor.phraseSearch(Corpus.metadata(s, d), "Red, PLATE!"),
      // q10: the same positional-conjunction occurrence count over the
      // analyzed field — both engines count starts i with t[i]='red' and
      // t[i+1]='plate'
      M + s", tk AS (SELECT id, ${stdToks("dataSample")} AS t FROM meta) " +
        ", occ AS (SELECT id, CASE WHEN len(t) >= 2 THEN " +
        "len(list_filter(range(1, len(t)), i -> t[i] = 'red' AND t[i+1] = 'plate')) " +
        "ELSE 0 END::BIGINT AS phrase_tf FROM tk) " +
        "SELECT id, phrase_tf FROM occ WHERE phrase_tf > 0 " +
        "ORDER BY phrase_tf DESC, id LIMIT 10"),

    // Q19 MATCH-PHRASE-PREFIX (ES match_phrase_prefix): the search-as-
    // you-type query — "red pla" must already hit "red plate": leading
    // terms exact and adjacent, last term a PREFIX of the final-position
    // token; ranked by occurrence count like q10, analyzer symmetry on
    // the typed phrase
    Entry("q19_phrase_prefix", (s, d) =>
      SearchExecutor.phrasePrefixSearch(Corpus.metadata(s, d), "red pla"),
      // q19: the same start-position scan as a list_filter lambda —
      // leading terms exact positional, last term starts_with
      M + s", tk AS (SELECT id, ${stdToks("dataSample")} AS t FROM meta) " +
        ", c AS (SELECT id, (CASE WHEN len(t) >= 2 THEN " +
        "len(list_filter(range(1, len(t)), p -> t[p] = 'red' AND starts_with(t[p+1], 'pla'))) " +
        "ELSE 0 END)::BIGINT AS phrase_tf FROM tk) " +
        "SELECT id, phrase_tf FROM c WHERE phrase_tf > 0 " +
        "ORDER BY phrase_tf DESC, id LIMIT 10"),

    // Q7 spelling suggestion ("did you mean") — SymSpell deletion-blocked
    // edit-distance-1 candidates over the title dictionary, exact
    // levenshtein verifying only the key collisions; 'hod' resolves to
    // {hot, rod} ranked by corpus frequency. Oracle = the full-scan
    // levenshtein DuckDB computes, so blocking recall is value-gated
    Entry("q7_spell_suggest", (s, d) =>
      SearchExecutor.spellSuggest(Corpus.metadata(s, d), term = "hod"),
      // q7: the oracle scans the whole dictionary with exact levenshtein —
      // the engine's deletion-key blocking must recall every d<=1 term
      M + s", terms AS (SELECT unnest(${stdToks("title")}) AS term FROM meta) " +
        "SELECT term, count(*) AS cnt FROM terms " +
        "WHERE levenshtein(term, 'hod') <= 1 " +
        "GROUP BY term ORDER BY cnt DESC, term LIMIT 5"),

    // Q18 FUNCTION-SCORE with linear recency decay: relevance (matched-
    // term share micros over 'red widget') × a clamped linear ramp from
    // origin 2015-12-31 (1/2 at 180 d, 0 at 360 d) — exact integers end
    // to end, the ES decay lineage with the one decay shape that needs
    // no libm; negative pre-clamp numerators absorbed by the clamp
    Entry("q18_decay_search", (s, d) =>
      SearchExecutor.decaySearch(Corpus.metadata(s, d), "red widget",
        origin = "2015-12-31", scaleDays = 180),
      // q18: the same matched-share + clamped-ramp integer arithmetic;
      // list_distinct before the membership count (Spark array_intersect
      // dedups; DuckDB list_intersect semantics are not relied on)
      M + s", s AS (SELECT id, " +
        s"len(list_filter(list_distinct(${stdToks("dataSample")}), x -> x IN ('red', 'widget')))::BIGINT AS n_hit, " +
        "abs(date_diff('day', creationTime::DATE, DATE '2015-12-31'))::BIGINT AS age_days FROM meta) " +
        "SELECT id, age_days, (n_hit * 1000000 // 2)::BIGINT AS relevance_e6, " +
        "greatest(0, (360 - age_days) * 1000000 // 360)::BIGINT AS decay_e6, " +
        "((n_hit * 1000000 // 2) * greatest(0, (360 - age_days) * 1000000 // 360) // 1000000)::BIGINT AS score_e6 " +
        "FROM s WHERE n_hit > 0 ORDER BY score_e6 DESC, id LIMIT 10"),

    // Q17 FUZZY match query (ES match + fuzziness AUTO): docs whose title
    // holds a token within edit distance 1 of the typo 'rad' — BOTH 'red'
    // and 'rod' match at distance 1, so multi-term accumulation is live;
    // SymSpell deletion blocking generalized to d, exact levenshtein on
    // collisions only, score = Σ (d+1−dist) over distinct matched tokens.
    // Oracle is the UNBLOCKED full-scan levenshtein — blocking recall is
    // value-gated (the q7 rule)
    Entry("q17_fuzzy_search", (s, d) =>
      SearchExecutor.fuzzySearch(Corpus.metadata(s, d), term = "rad"),
      // q17: the UNBLOCKED replay — full-scan levenshtein over the title
      // vocabulary (no deletion keys), same (d+1−dist) weights summed
      // over each doc's distinct matched tokens; the engine's SymSpell
      // blocking must recall every one of these matches to hash-equal
      M + s", vt AS (SELECT DISTINCT unnest(${stdToks("title")}) AS tok FROM meta), " +
        "mt AS (SELECT tok, (2 - levenshtein(tok, 'rad'))::BIGINT AS wt " +
        "FROM vt WHERE levenshtein(tok, 'rad') <= 1), " +
        s"dt AS (SELECT DISTINCT id, tok FROM (SELECT id, unnest(${stdToks("title")}) AS tok FROM meta)) " +
        "SELECT id, sum(wt)::BIGINT AS score FROM dt JOIN mt USING (tok) " +
        "GROUP BY id ORDER BY score DESC, id LIMIT 10"),

    // Q8 incremental IDF maintenance: the text-scoring statistic (q4/q5's
    // per-term doc frequencies) advanced by the s10 change feed alone —
    // cost ∝ |changes|, never a corpus re-scan, the way ES re-computes
    // IDF continuously as documents index. Scripted cycle: an update that
    // ADDS a 'red' membership, a delete that retracts its memberships, an
    // insert; the maintained (term, df, n_docs) table must hash-match a
    // fresh recompute over the mutated corpus (the oracle recomputes)
    Entry("q8_idf_maintenance", (s, d) => {
      val st = loadedStore(s, d) // commits version 1
      val snapshot = st.currentAt(1L).toDF()
      val stats1 = QueryCompiler.idfStatsTable(snapshot, Seq("red", "widget"))
      st.partialUpdate("000010", Map("dataSample" -> "maintained red red stream"))
      st.delete("000020")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      QueryCompiler.maintainIdfStats(stats1, snapshot, st.changesBetween(1L),
          Seq("red", "widget"))
        .orderBy("term")
    },
      // q8: a fresh doc-frequency recompute over the mutated final corpus —
      // the engine's feed-maintained table must land on it exactly
      M + ", cur AS (SELECT CASE WHEN id = '000010' THEN 'maintained red red stream' " +
        "ELSE dataSample END AS dataSample FROM meta " +
        "WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' " +
        "UNION ALL SELECT dataSample FROM meta WHERE id = '000200'), " +
        redWidgetDfSql),

    // Q9 HYBRID search — lexical ∪ vector retrieval fused by Reciprocal
    // Rank Fusion (k=60, the Cormack/Elasticsearch constant): the text arm
    // ranks by exact term frequency of 'data' over the standard tokens,
    // the vector arm is v1's exact-cosine top-20 for query vec 0, and the
    // fused score is 1/(60+r_text) + 1/(60+r_vec) with absent-arm terms
    // contributing 0. Scale shape: each arm ends in a TakeOrdered top-k,
    // so the rank windows see k rows, never the corpus, and the fusion
    // join is k×k-bounded; at 100 TB the vector arm swaps to the indexed
    // IVF probe (v7) with the fusion unchanged.
    Entry("q9_hybrid_rrf", (s, d) => {
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
    },
      hybridRrfSql)
  )
}
