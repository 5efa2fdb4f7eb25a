package graft
package entries

import graft.compile.QueryCompiler
import graft.exec.SearchExecutor
import graft.model.AclContext
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Facet and aggregation entries: term facets, histograms, significant and rare terms. */
object Aggregations {
  val entries: Seq[Entry] = Seq(
    // A1 category facet: top-100 buckets by count
    Entry("a1_facet_categories", (s, d) =>
      facet(s, d, "{}", admin, "category", SearchExecutor.CategoryFacetSize),
      M + "SELECT category, count(*) AS cnt FROM meta GROUP BY category ORDER BY cnt DESC, category LIMIT 100"),

    // A2 format facet: top-10 buckets
    Entry("a2_facet_formats", (s, d) =>
      facet(s, d, "{}", admin, "format", SearchExecutor.FormatFacetSize),
      M + "SELECT format, count(*) AS cnt FROM meta GROUP BY format ORDER BY cnt DESC, format LIMIT 10"),

    // A3 post-filter segregation: the format filter restricts hits but NOT
    // this facet; ACL does restrict it
    Entry("a3_facet_segregation", (s, d) =>
      facet(s, d, """{"filters":[{"format":["csv"]}]}""",
        AclContext(Seq("org1"), isAdmin = false), "category", SearchExecutor.CategoryFacetSize),
      M + s"SELECT category, count(*) AS cnt FROM meta WHERE $aclOr GROUP BY category ORDER BY cnt DESC, category LIMIT 100"),

    // A4 total = count of the POST-filtered set (ES hits.total semantics)
    Entry("a4_total_count", (s, d) => {
      import s.implicits._
      val cq = QueryCompiler.compile(
        QueryCompiler.parse("""{"filters":[{"format":["csv"]}]}"""),
        AclContext(Seq("org1"), isAdmin = false))
      val base = SearchExecutor.baseBranch(Corpus.metadata(s, d), cq)
      Seq(base.where(cq.postFilter).count()).toDF("total")
    },
      M + s"SELECT count(*) AS total FROM meta WHERE $aclOr AND format = 'csv'"),

    // A5 date-histogram facet (ES date_histogram): entry counts per
    // creationTime month — the time-axis companion of the term facets
    Entry("a5_date_histogram", (s, d) =>
      SearchExecutor.dateHistogram(Corpus.metadata(s, d))
        .select(col("bucket"), col("cnt")),
      // ::TIMESTAMP: DuckDB's month-truncation yields DATE, Spark's a
      // timestamp — align the bucket type
      // NULLS FIRST pinned (the o6 discipline): Spark's orderBy default —
      // a null creationTime bucket must land identically on both engines
      M + "SELECT date_trunc('month', creationTime)::TIMESTAMP AS bucket, count(*) AS cnt " +
        "FROM meta GROUP BY 1 ORDER BY 1 NULLS FIRST"),

    // A11 TERMS × DATE-HISTOGRAM (ES terms + date_histogram sub-agg):
    // top-5 categories by doc count, each with its monthly entry
    // counts — the a8 broadcast-bucket split over the calendar grid;
    // null timestamps land in a NULLS FIRST calendar bucket
    Entry("a11_bucket_date_histogram", (s, d) =>
      SearchExecutor.bucketDateHistogram(Corpus.metadata(s, d)),
      // a11: the same top-5 bucket table joined onto the monthly grid,
      // a5's ::TIMESTAMP bucket-type alignment and NULLS FIRST pin
      M + ", bk AS (SELECT category, count(*)::BIGINT AS bucket_cnt FROM meta " +
        "GROUP BY 1 ORDER BY bucket_cnt DESC, category LIMIT 5), " +
        "h AS (SELECT category, date_trunc('month', creationTime)::TIMESTAMP AS bucket, " +
        "count(*)::BIGINT AS cnt FROM meta GROUP BY 1, 2) " +
        "SELECT h.category, bucket_cnt, bucket, cnt FROM h JOIN bk USING (category) " +
        "ORDER BY bucket_cnt DESC, h.category, bucket NULLS FIRST"),

    // A7 significant terms (ES significant-terms lineage): dataSample
    // terms over-represented in the cat3 slice vs the whole corpus —
    // lift in exact DECIMAL-widened micros, one conditional-aggregate
    // pass, top-10 TakeOrdered
    Entry("a7_significant_terms", (s, d) =>
      SearchExecutor.significantTerms(Corpus.metadata(s, d),
        col("category") === "cat3"),
      // a7: same one-pass fg/bg counts, HUGEINT-widened lift micros,
      // same (lift desc, term) top-10
      M + ", tk AS (SELECT category = 'cat3' AS fg, " +
        s"unnest(${stdToks("dataSample")}) AS term FROM meta), " +
        "pt AS (SELECT term, count(*)::BIGINT AS bg_count, " +
        "sum(CASE WHEN fg THEN 1 ELSE 0 END)::BIGINT AS fg_count FROM tk GROUP BY term), " +
        "tt AS (SELECT sum(bg_count)::HUGEINT AS bg_total, " +
        "sum(fg_count)::HUGEINT AS fg_total FROM pt) " +
        "SELECT term, fg_count, bg_count, " +
        "((fg_count::HUGEINT * bg_total * 1000000) // (bg_count::HUGEINT * fg_total))::BIGINT AS lift_e6 " +
        "FROM pt, tt WHERE fg_count >= 3 " +
        "ORDER BY lift_e6 DESC, term LIMIT 10"),

    // A8 TOP-HITS per facet bucket (ES terms + top_hits sub-aggregation):
    // each category of the scored 'red' stream with its best 3 hits —
    // buckets in terms-agg (count desc, key) order, per-bucket hits by
    // (score desc, id); tiny bucket aggregate broadcast onto q13's
    // partial-WindowGroupLimit rank cut (never a count-over-window,
    // which would defeat the group-limit pushdown)
    Entry("a8_top_hits", (s, d) => {
      val cq = QueryCompiler.compile(QueryCompiler.parse("""{"query":"red"}"""), admin)
      SearchExecutor.topHitsFacet(
        SearchExecutor.baseBranch(Corpus.metadata(s, d), cq),
        "category", numBuckets = 5, hitsPerBucket = 3)
    },
      // a8: same scored stream, bucket table re-derived (count desc, key
      // LIMIT 5), rank-within-bucket replayed, inner join drops cut
      // buckets; sc is referenced twice → MATERIALIZED (the t31 rule)
      M + s", hp AS (SELECT id, category, ${score1("red")} AS score FROM meta), " +
        "sc AS MATERIALIZED (SELECT * FROM hp WHERE score > 0), " +
        "bk AS (SELECT category, count(*)::BIGINT AS bucket_cnt FROM sc " +
        "GROUP BY 1 ORDER BY bucket_cnt DESC, category LIMIT 5), " +
        "rk AS (SELECT category, id, score, " +
        "row_number() OVER (PARTITION BY category ORDER BY score DESC, id)::BIGINT AS rnk FROM sc) " +
        "SELECT r.category, b.bucket_cnt, r.rnk, r.id, r.score " +
        "FROM rk r JOIN bk b USING (category) WHERE r.rnk <= 3 " +
        "ORDER BY b.bucket_cnt DESC, r.category, r.rnk"),

    // A9 FILTERS aggregation (ES filters agg): five NAMED arbitrary-
    // predicate buckets — format, visibility, recency, org, size —
    // counted in ONE conditional-aggregate pass (the o24 rule; never a
    // job per filter), non-exclusive ES semantics, unpivoted to rows by
    // a literal-array explode
    Entry("a9_filters_agg", (s, d) =>
      SearchExecutor.filtersAgg(Corpus.metadata(s, d), Seq(
        "fmt_csv" -> (col("format") === "csv"),
        "is_public" -> col("isPublic"),
        "since_2015h2" -> (col("creationTime") >= lit("2015-07-01 00:00:00").cast("timestamp")),
        "org1" -> (col("orgUUID") === "org1"),
        "big" -> (col("recordCount") >= 500000L))),
      // a9: the same five predicates as one-row conditional sums,
      // unpivoted by UNION ALL — values must match the one-pass engine
      M + ", s AS (SELECT " +
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

    // A6 composite facet (ES composite-aggregation lineage): (category,
    // format) bucket counts ordered BY KEY with after-key pagination —
    // page 2 from after ("cat2","csv"): a key-range scan, so pages never
    // overlap/skip and page k+1 costs page 1
    Entry("a6_composite_facet", (s, d) =>
      SearchExecutor.compositeFacet(Corpus.metadata(s, d),
        Seq("category", "format"), pageSize = 8,
        after = Some(Seq("cat2", "csv"))),
      // a6: the same key-ordered bucket scan with a row-comparison
      // after-key — pages are disjoint by construction
      M + "SELECT category, format, count(*) AS cnt FROM meta " +
        "WHERE category IS NOT NULL AND format IS NOT NULL " + // engine drops null buckets
        "GROUP BY category, format HAVING (category, format) > ('cat2', 'csv') " +
        "ORDER BY category, format LIMIT 8"),

    // A10 RARE-TERMS aggregation (ES rare_terms): the long-tail dual of
    // the top-N facet — title terms with document frequency ≤ 2, rarest
    // first; where typos and mis-tags live, structurally invisible to
    // a1. The synthetic corpus has a deliberately uniform vocabulary
    // (min title df ≈ 227 at sf0.01 — no organic tail), so one-off tags
    // are PLANTED on id % 37 == 0 (the t32 live-positives pattern)
    Entry("a10_rare_terms", (s, d) => {
      val planted = Corpus.metadata(s, d).toDF()
        .withColumn("title",
          when(col("id").cast("long") % 37 === 0,
            concat(col("title"), lit(" tg"), col("id")))
            .otherwise(col("title")))
      SearchExecutor.rareTerms(planted)
    },
      // a10: the identical planting, per-document distinct tokens,
      // doc-frequency count, the ≤2 cut, rarest-first page
      M + ", pl AS (SELECT id, CASE WHEN id::BIGINT % 37 = 0 " +
        "THEN title || ' tg' || id ELSE title END AS title FROM meta), " +
        s"tk AS (SELECT id, unnest(list_distinct(${stdToks("title")})) AS term FROM pl) " +
        "SELECT term, count(*)::BIGINT AS doc_count FROM tk GROUP BY term " +
        "HAVING count(*) <= 2 ORDER BY doc_count, term LIMIT 20")
  )
}
