package graft

import graft.compile.QueryCompiler
import graft.exec.SearchExecutor
import graft.model._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class SearchExecutorSpec extends AnyFunSuite with Matchers with SparkSupport {
  import spark.implicits._

  private def ds = spark.createDataset(Fixtures.corpus)
  private val admin = AclContext(Nil, isAdmin = true)

  test("A3: post filter restricts hits + total but NOT facets (reference query_translation.py:75-96)") {
    val r = SearchExecutor.search(spark, ds, """{"filters":[{"format":["csv"]}]}""", admin)
    r.total shouldBe 8 // json rows 3,6 excluded from hits
    r.hits.map(_.id).toSet should not contain "3"
    // facet lists computed BEFORE the format post-filter: json still present
    r.formats.toSet shouldBe Set("csv", "json")
    r.categories.toSet shouldBe Fixtures.corpus.map(_.category).toSet
  }

  test("A3: creationTime is a query filter — restricts facets too (reference query_translation.py:229-231)") {
    val r = SearchExecutor.search(spark, ds,
      """{"filters":[{"creationTime":["2015-10-01T00:00:00",-1]}]}""", admin)
    r.total shouldBe 2 // ids 8,9
    r.categories.toSet shouldBe Set("health", "finance")
  }

  test("A1/A2 facet ordering: count desc, key asc; top-N") {
    val r = SearchExecutor.search(spark, ds, "{}", admin)
    // category counts: health 2, finance 2, others 1 → first two buckets are the count-2 pair, key asc
    r.categories.take(2) shouldBe Seq("finance", "health")
    r.categories.size shouldBe 8
    r.formats shouldBe Seq("csv", "json")
  }

  test("single-job facets (grouping sets) equal the per-dimension facet branches") {
    val cq = QueryCompiler.compile(QueryCompiler.parse("{}"), admin)
    val base = SearchExecutor.baseBranch(ds.toDF(), cq)
    val combined = SearchExecutor.facetsBranch(base)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getInt(3)))
    def keys(gid: Int) = combined.filter(_._1 == gid).sortBy(_._4).map(_._2).toSeq
    val cats = SearchExecutor.facetBranch(base, "category", SearchExecutor.CategoryFacetSize)
      .select("category").as[String].collect().toSeq
    val fmts = SearchExecutor.facetBranch(base, "format", SearchExecutor.FormatFacetSize)
      .select("format").as[String].collect().toSeq
    keys(1) shouldBe cats
    keys(2) shouldBe fmts
    // counts survive the expand: spot-check a known bucket
    combined.filter(r => r._1 == 2 && r._2 == "csv").head._3 shouldBe 8L
    // single aggregation job: the plan carries the grouping-set Expand
    SearchExecutor.facetsBranch(base).queryExecution.executedPlan.toString should include("Expand")
  }

  test("A4 count endpoint = post-filtered total of an empty search") {
    SearchExecutor.count(ds, admin) shouldBe 10
    SearchExecutor.count(ds, AclContext(Seq("org01"), isAdmin = false)) shouldBe 7
  }

  test("Q3 pagination: offset+limit with deterministic tie-break by id") {
    val r0 = SearchExecutor.search(spark, ds, """{"from":0,"size":3}""", admin)
    val r1 = SearchExecutor.search(spark, ds, """{"from":3,"size":3}""", admin)
    r0.hits.map(_.id) shouldBe Seq("0", "1", "2")
    r1.hits.map(_.id) shouldBe Seq("3", "4", "5")
    r0.total shouldBe 10 // total ignores pagination
  }

  test("default page size is 10 (ES default, reference query_translation.py:98-109)") {
    val many = (0 until 25).map(i => Fixtures.corpus.head.copy(id = s"x$i"))
    val r = SearchExecutor.search(spark, spark.createDataset(many), "{}", admin)
    r.hits.size shouldBe 10
    r.total shouldBe 25
  }

  test("R1 result shape: hits carry full entries, facets carry keys only") {
    val r = SearchExecutor.search(spark, ds, """{"query":"heart"}""", admin)
    r.hits.head shouldBe Fixtures.corpus.head
    r.total shouldBe 1
  }

  test("combined: text + post filter + ACL (the M2 vertical slice)") {
    // query "prices" hits title of 1 (Stock market prices); org01 non-admin default mode
    val r = SearchExecutor.search(spark, ds,
      """{"query":"prices","filters":[{"format":["csv"]}]}""",
      AclContext(Seq("org01"), isAdmin = false))
    r.hits.map(_.id) shouldBe Seq("1")
    r.total shouldBe 1
  }

  test("A5 date histogram: per-month entry counts, bucket-ordered") {
    import org.apache.spark.sql.functions.col
    val df = Seq("2015-01-05", "2015-01-20", "2015-03-01", "2016-01-01")
      .map(d => java.sql.Timestamp.valueOf(s"$d 10:00:00")).toDF("creationTime")
    SearchExecutor.dateHistogram(df).collect()
      .map(r => r.getTimestamp(0).toString.take(7) -> r.getLong(1)).toSeq shouldBe
      Seq("2015-01" -> 2L, "2015-03" -> 1L, "2016-01" -> 1L)
  }

  test("Q6 autocomplete: analyzed title terms, prefix-filtered, frequency-ranked with term ties") {
    val df = Seq("Stock market prices", "Stock-MARKET summary", "Weather stats", "stale stock")
      .toDF("title")
    SearchExecutor.autocomplete(df, "st", k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq shouldBe
      Seq("stock" -> 3L, "stale" -> 1L, "stats" -> 1L) // lowercased analyzer; cnt desc then term
  }

  test("spell suggest: deletion blocking equals brute-force levenshtein on seeded random dictionaries") {
    // the SymSpell d=1 claim is completeness: for ANY dictionary and ANY
    // query, key-collision blocking + exact verify == a full levenshtein
    // scan. Seeded randoms keep it deterministic across runs.
    import org.apache.spark.sql.functions.{col, levenshtein, lit, lower}
    val rnd = new scala.util.Random(42)
    def word() = (1 to (3 + rnd.nextInt(5))).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    for (_ <- 1 to 5) {
      val dict = Seq.fill(120)(word()).distinct
      val entries = dict.toDF("title") // one term per title
      val base = word()
      // random single edit: delete, insert, or substitute
      val q = rnd.nextInt(3) match {
        case 0 if base.length > 1 => { val i = rnd.nextInt(base.length); base.take(i) + base.drop(i + 1) }
        case 1 => { val i = rnd.nextInt(base.length + 1); base.take(i) + ('a' + rnd.nextInt(6)).toChar + base.drop(i) }
        case _ => { val i = rnd.nextInt(base.length); base.take(i) + ('a' + rnd.nextInt(6)).toChar + base.drop(i + 1) }
      }
      val got = SearchExecutor.spellSuggest(entries, q, k = 1000)
        .collect().map(_.getString(0)).toSet
      val brute = entries.select(lower(col("title")).as("term"))
        .where(levenshtein(col("term"), lit(q)) <= 1)
        .collect().map(_.getString(0)).toSet
      got shouldBe brute
    }
  }

  test("Q18 decay search: linear ramp halves at scale and clamps at 2x; relevance share exact; recency reorders") {
    def e(id: String, sample: String, date: String) =
      (id, sample, java.sql.Timestamp.valueOf(date + " 00:00:00"))
    // small scale for exact landmarks: scale 10 → span 20
    val small = Seq(
      e("a", "red widget", "2020-01-01"),  // age 0:  decay 1000000, score 1000000
      e("b", "red widget", "2019-12-22"),  // age 10: decay 500000 (half at scale)
      e("c", "red widget", "2019-12-02"),  // age 30: pre-clamp negative → 0
      e("d", "red only here", "2020-01-01"), // rel 500000 (1 of 2 terms)
      e("x", "nothing", "2020-01-01"))
      .toDF("id", "dataSample", "creationTime")
    val got = SearchExecutor.decaySearch(small, "red widget", "2020-01-01", scaleDays = 10)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    got shouldBe Seq(
      ("a", 0L, 1000000L, 1000000L, 1000000L),
      ("b", 10L, 1000000L, 500000L, 500000L),
      ("d", 0L, 500000L, 1000000L, 500000L),
      ("c", 30L, 1000000L, 0L, 0L)) // matched but fully decayed: present at 0, x absent
  }

  test("Q17 fuzzy search: AUTO ladder, multi-term accumulation, exact outranks fuzzy, d=0 is exact-only") {
    val entries = Seq(
      ("1", "rose garden"), ("2", "rosy dawn"), ("3", "rose rosy mix"),
      ("4", "royal blue"), ("5", "nothing here"), ("6", "ab cd"), ("7", "ax xy"))
      .toDF("id", "title")
    // |q|=5 → d=1: rose and rosy both at dist 1 (wt 1); royal at 2 excluded
    SearchExecutor.fuzzySearch(entries, "rosey")
      .as[(String, Long)].collect().toSeq shouldBe
      Seq(("3", 2L), ("1", 1L), ("2", 1L))
    // exact hit (wt 2) outranks fuzzy (wt 1): doc 3 holds both → 3
    SearchExecutor.fuzzySearch(entries, "rose")
      .as[(String, Long)].collect().toSeq shouldBe
      Seq(("3", 3L), ("1", 2L), ("2", 1L))
    // |q|=6 → d=2: both rose and rosy now at dist 2
    SearchExecutor.fuzzySearch(entries, "roseey")
      .as[(String, Long)].collect().toSeq shouldBe
      Seq(("3", 2L), ("1", 1L), ("2", 1L))
    // |q|=2 → d=0: exact only — 'ax' (dist 1) must NOT match
    SearchExecutor.fuzzySearch(entries, "ab")
      .as[(String, Long)].collect().toSeq shouldBe Seq(("6", 1L))
  }

  test("Q17 fuzzy search: d=2 deletion blocking equals brute-force levenshtein on seeded randoms") {
    import org.apache.spark.sql.functions.{col, explode, levenshtein, lit, sum => fsum}
    val rnd = new scala.util.Random(7)
    def word(n: Int) = (1 to n).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    def edit(s: String): String = rnd.nextInt(3) match {
      case 0 if s.length > 1 => { val i = rnd.nextInt(s.length); s.take(i) + s.drop(i + 1) }
      case 1 => { val i = rnd.nextInt(s.length + 1); s.take(i) + ('a' + rnd.nextInt(6)).toChar + s.drop(i) }
      case _ => { val i = rnd.nextInt(s.length); s.take(i) + ('a' + rnd.nextInt(6)).toChar + s.drop(i + 1) }
    }
    for (_ <- 1 to 3) {
      val entries = (1 to 80).map(i => (i.toString, s"${word(4 + rnd.nextInt(5))} ${word(4 + rnd.nextInt(5))}"))
        .toDF("id", "title")
      val q = edit(edit(word(6 + rnd.nextInt(3)))) // double edit off a ≥6-char base → d=2
      val got = SearchExecutor.fuzzySearch(entries, q, k = 1000)
        .as[(String, Long)].collect().toSeq
      val brute = entries
        .select(col("id"), explode(graft.analyzers.Analyzers.standardTokens(col("title"))).as("tok"))
        .distinct()
        .withColumn("dist", levenshtein(col("tok"), lit(q)))
        .where(col("dist") <= 2)
        .groupBy("id").agg(fsum(lit(3L) - col("dist")).as("score"))
        .orderBy(col("score").desc, col("id"))
        .as[(String, Long)].collect().toSeq
      got shouldBe brute
    }
  }

  test("BM25: tf saturation, length normalization, b=0 disables it, zero-match docs absent") {
    import spark.implicits._
    val entries = Seq(
      ("001", "red apple basket"), // tf=1, dl=3
      ("002", "red red apple"), // tf=2, dl=3
      ("003", "red apple basket extra words padding length much longer here"), // tf=1, dl=10
      ("004", "nothing relevant at all")
    ).toDF("id", "dataSample")
    val s = SearchExecutor.bm25Search(entries, Seq("red"), k = 10)
      .as[(String, Double)].collect().toMap
    s.keySet shouldBe Set("001", "002", "003") // no zero-score rows
    // saturation: more tf scores higher, but sub-linearly
    s("002") should be > s("001")
    s("002") should be < (2 * s("001"))
    // length normalization: same tf, longer doc scores lower
    s("003") should be < s("001")
    // b = 0 switches length normalization off: 001 and 003 tie exactly
    val s0 = SearchExecutor.bm25Search(entries, Seq("red"), k = 10, b = 0.0)
      .as[(String, Double)].collect().toMap
    s0("003") shouldBe s0("001")
    // a repeated query term sums twice (ES bool-should semantics; matches
    // the q11 oracle builder which sums terms as given) — round-4 of the
    // doubled per-term score, so compare against 2× the single-term score
    // recomputed unrounded via b=0's stable 001 row: with one term the
    // score is round(x,4); doubled it is round(2x,4) = 2*round(x,4) up to
    // the rounding grid, so assert within 1e-4
    val dup = SearchExecutor.bm25Search(entries, Seq("red", "red"), k = 10)
      .as[(String, Double)].collect().toMap
    dup.keySet shouldBe Set("001", "002", "003")
    dup("001") shouldBe (2 * s("001") +- 1e-4)
  }

  test("phrase search: adjacency and order required, analyzer symmetry, tf ranking with id ties") {
    import spark.implicits._
    val entries = Seq(
      ("001", "red plate red plate here"), // 2 occurrences
      ("002", "a red plate on the shelf"), // 1
      ("003", "plate red order reversed"), // order matters → no match
      ("004", "red shiny plate not adjacent"), // adjacency matters → no match
      ("005", "the Red, PLATE! punctuated"), // analyzer strips case/punct → 1
      ("006", "red"), // shorter than the phrase → guarded, no match
      ("007", "nothing relevant")
    ).toDF("id", "dataSample")
    val out = SearchExecutor.phraseSearch(entries, "Red, PLATE!", k = 10)
      .as[(String, Long)].collect().toSeq
    out shouldBe Seq(("001", 2L), ("002", 1L), ("005", 1L))
  }

  test("Q16 highlight: token offsets, earliest term wins, boundary flanks, no substring match") {
    import spark.implicits._
    val hits = Seq(
      // widget at 2 beats red at 4; title matches red at 1 (no left flank)
      ("001", 3.0, "Red plates", "a widget and red things here"),
      // match at the LAST token — no right flank
      ("002", 2.0, "nothing here", "we sell a shiny red"),
      // 'red' inside 'bored' must NOT match (token, not substring); title drops out
      ("003", 1.0, "bored members", "bored of red tape"),
      // no match in either field → no rows at all
      ("004", 1.0, "plain", "nothing relevant")
    ).toDF("id", SearchExecutor.ScoreCol, "title", "dataSample")
    val out = SearchExecutor.highlight(hits, terms = Seq("red", "widget"))
      .as[(String, Double, String, String, Long, String)].collect().toSeq
    out shouldBe Seq(
      ("001", 3.0, "dataSample", "widget", 2L, "a <em>widget</em> and red"),
      ("001", 3.0, "title", "red", 1L, "<em>red</em> plates"),
      ("002", 2.0, "dataSample", "red", 5L, "a shiny <em>red</em>"),
      ("003", 1.0, "dataSample", "red", 3L, "bored of <em>red</em> tape"))
  }

  test("A7 significant terms: planted slice signature tops; corpus-common terms read ~1x; rare terms suppressed") {
    // 'anomaly' appears ONLY in the foreground slice (lift = bg_total/fg_total),
    // 'filler' is uniform (~1e6), 'rare' is fg-only but below minFgCount
    val rows = (
      (1 to 4).map(i => (s"f$i", "hot", "anomaly filler common words here")) ++
        Seq(("f5", "hot", "rare filler common words here")) ++
        (1 to 5).map(i => (s"b$i", "cold", "filler common words over there"))
      ).toDF("id", "category", "dataSample")
    val out = SearchExecutor.significantTerms(rows,
        org.apache.spark.sql.functions.col("category") === "hot")
      .as[(String, Long, Long, Long)].collect().toSeq
    val byTerm = out.map(r => r._1 -> r).toMap
    out.head._1 shouldBe "anomaly" // the slice signature ranks first
    byTerm("anomaly")._2 shouldBe 4L
    byTerm("anomaly")._3 shouldBe 4L
    byTerm("anomaly")._4 should be > 1500000L // strictly over-represented
    // uniform terms sit near 1e6 (exactly corpus-average rate ratio)
    byTerm("filler")._4 should (be >= 900000L and be <= 1100000L)
    byTerm.contains("rare") shouldBe false // below minFgCount
  }

  test("Q13 field collapsing: rank ≤ innerK per group, groups in top-hit-score order, id tie-break") {
    // hand-built scored stream: group a has 4 hits (4th must drop),
    // b has a score tie (id order decides), c's single hit leads the page
    val base = Seq(
      ("a", "1", 5.0), ("a", "2", 3.0), ("a", "3", 2.0), ("a", "4", 1.0),
      ("b", "5", 4.0), ("b", "6", 4.0),
      ("c", "7", 6.0)
    ).toDF("category", "id", SearchExecutor.ScoreCol)
    val got = SearchExecutor.collapseHits(base, "category", innerK = 3)
      .as[(String, Long, String, Double, Double)].collect().toSeq
    got shouldBe Seq(
      ("c", 1L, "7", 6.0, 6.0),
      ("a", 1L, "1", 5.0, 5.0), ("a", 2L, "2", 3.0, 5.0), ("a", 3L, "3", 2.0, 5.0),
      ("b", 1L, "5", 4.0, 4.0), ("b", 2L, "6", 4.0, 4.0))
  }

  test("A11 terms×date_histogram: terms-agg bucket cut over the monthly grid, null-ts NULLS FIRST") {
    val rows = Seq(
      ("1", "a", Some("2015-01-15 00:00:00")),
      ("2", "a", Some("2015-01-20 00:00:00")),
      ("3", "a", None), // null timestamp: its own calendar bucket, first
      ("4", "b", Some("2015-02-01 00:00:00")),
      ("5", "b", Some("2015-03-01 00:00:00")),
      ("6", "c", Some("2015-01-01 00:00:00"))) // bucket c cut at numBuckets=2
      .toDF("id", "category", "cts")
      .withColumn("creationTime", $"cts".cast("timestamp")).drop("cts")
    val got = SearchExecutor.bucketDateHistogram(rows, numBuckets = 2)
      .as[(String, Long, Option[java.sql.Timestamp], Long)].collect().toSeq
    got shouldBe Seq(
      ("a", 3L, None, 1L),
      ("a", 3L, Some(java.sql.Timestamp.valueOf("2015-01-01 00:00:00")), 2L),
      ("b", 2L, Some(java.sql.Timestamp.valueOf("2015-02-01 00:00:00")), 1L),
      ("b", 2L, Some(java.sql.Timestamp.valueOf("2015-03-01 00:00:00")), 1L))
  }

  test("A10 rare_terms: document frequency (per-doc dedup), ≤ cut, rarest-first order") {
    val rows = Seq(
      ("1", "alpha beta"), ("2", "alpha beta"), ("3", "gamma"),
      ("4", "delta delta"), // in-doc repeat counts ONCE (doc frequency)
      ("5", "beta gamma")).toDF("id", "title")
    SearchExecutor.rareTerms(rows, "title", maxDocCount = 2, k = 20)
      .as[(String, Long)].collect().toSeq shouldBe Seq(
        ("delta", 1L), ("alpha", 2L), ("gamma", 2L)) // beta (3) cut
  }

  test("A9 filters agg: non-exclusive named buckets in one pass, zero-count bucket surfaces") {
    val rows = Seq(
      ("1", "csv", true), ("2", "csv", false), ("3", "json", true))
      .toDF("id", "format", "isPublic")
    val out = SearchExecutor.filtersAgg(rows, Seq(
        "fmt_csv" -> ($"format" === "csv"),
        "is_public" -> $"isPublic",
        "nope" -> ($"format" === "orc")))
      .as[(String, Long)].collect().toSeq
    // row 1 counts toward BOTH buckets (ES non-exclusive semantics);
    // an unmatched bucket reports 0, never disappears; name order
    out shouldBe Seq(("fmt_csv", 2L), ("is_public", 2L), ("nope", 0L))
    an[IllegalArgumentException] should be thrownBy
      SearchExecutor.filtersAgg(rows, Seq(
        "dup" -> $"isPublic", "dup" -> $"isPublic"))
  }

  test("Q19 match_phrase_prefix: leading terms exact-adjacent, last term prefix, analyzer symmetry") {
    val rows = Seq(
      ("1", "the red plate on the red platter"), // two hits: plate + platter
      ("2", "red plank"),                        // pla-prefix after red: hit
      ("3", "redder plate"),                     // 'redder' ≠ exact 'red'
      ("4", "plate red"),                        // order matters
      ("5", "red"),                              // sub-L doc: guard, no hit
      ("6", "RED, Plax!")                        // analyzer strips case/punct
    ).toDF("id", "dataSample")
    val got = SearchExecutor.phrasePrefixSearch(rows, "Red pla")
      .as[(String, Long)].collect().toSeq
    got shouldBe Seq(("1", 2L), ("2", 1L), ("6", 1L))
  }

  test("A8 top_hits: buckets by (count desc, key asc), drop by count not score, rank cut per bucket") {
    // a has 4 docs (2 must cut at hitsPerBucket=2); b/c tie on count 2
    // (key asc orders them, both survive numBuckets=3); d holds the
    // corpus-max score 9.0 but only 1 doc — terms-agg order drops it:
    // bucket survival is doc_count's business, never the hits'
    val base = Seq(
      ("a", "1", 5.0), ("a", "2", 3.0), ("a", "3", 2.0), ("a", "4", 1.0),
      ("b", "5", 4.0), ("b", "6", 4.0),
      ("c", "7", 6.0), ("c", "8", 1.0),
      ("d", "9", 9.0)
    ).toDF("category", "id", SearchExecutor.ScoreCol)
    val got = SearchExecutor.topHitsFacet(base, "category",
        numBuckets = 3, hitsPerBucket = 2)
      .as[(String, Long, Long, String, Double)].collect().toSeq
    got shouldBe Seq(
      ("a", 4L, 1L, "1", 5.0), ("a", 4L, 2L, "2", 3.0),
      ("b", 2L, 1L, "5", 4.0), ("b", 2L, 2L, "6", 4.0),
      ("c", 2L, 1L, "7", 6.0), ("c", 2L, 2L, "8", 1.0))
  }

  test("Q15 search_after: keyset page equals the offset page; ties cursor by id") {
    val base = Seq(("1", 5.0), ("2", 4.0), ("3", 4.0), ("4", 3.0), ("5", 2.0))
      .toDF("id", SearchExecutor.ScoreCol)
    // cursor = row 2 (score 4.0, id "2") → next page is rows 3-4
    SearchExecutor.searchAfter(base, 4.0, "2", size = 2)
      .as[(String, Double)].collect().toSeq shouldBe Seq(("3", 4.0), ("4", 3.0))
    // cursor inside the tie group: strictly-after by id
    SearchExecutor.searchAfter(base, 4.0, "3", size = 2)
      .as[(String, Double)].collect().toSeq shouldBe Seq(("4", 3.0), ("5", 2.0))
  }

  test("Q14 more-like-this: integer interesting-term selection, IDF ranking, seed excluded") {
    // seed: apple×2, banana×1, cherry×1. df over ALL 5 docs (seed
    // included): apple 3, banana 3, cherry 2. selection (maxQueryTerms=2)
    // by (tf desc, df asc, term asc): apple (tf 2), then banana vs cherry
    // tie on tf 1 → cherry's lower df wins
    val corpus = Seq(
      ("s", "apple apple banana cherry"),
      ("a", "apple banana grape"), // apple only of the selected pair
      ("b", "apple cherry"), // both selected terms → top
      ("c", "banana melon"), // banana not selected → absent
      ("d", "melon grape") // no selected term → absent
    ).toDF("id", "dataSample")
    val got = SearchExecutor.moreLikeThis(corpus, "s", maxQueryTerms = 2)
      .as[(String, Double)].collect().toSeq
    val n = 5.0
    def idf(df: Long) = math.log(1.0 + n / (1.0 + df))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    got shouldBe Seq(
      ("b", r6(idf(3) + idf(2))), // apple + cherry
      ("a", r6(idf(3)))) // apple
    // seed never self-reports, unmatched docs absent
    got.map(_._1) should not contain "s"
    // unknown seed refuses loudly
    an[IllegalArgumentException] should be thrownBy
      SearchExecutor.moreLikeThis(corpus, "zzz")
  }

  test("Q12 minimum_should_match: strict term-count gate; scoring unchanged from Q1") {
    val out = SearchExecutor.minShouldMatchSearch(ds.toDF(), "heart rate prices", 2)
      .as[(String, Long, Double)].collect().toSeq
    out.foreach(_._2 should be >= 2L) // nothing below the gate survives
    // m=1 degenerates to the plain OR multi_match: strictly more docs
    val m1 = SearchExecutor.minShouldMatchSearch(ds.toDF(), "heart rate prices", 1)
      .collect().length
    m1 should be > out.length
    // qualifying docs carry the UNCHANGED q1 score
    val q1 = ds.toDF().withColumn("score",
        graft.compile.QueryCompiler.scoreColumn("heart rate prices"))
      .select("id", "score").as[(String, Double)].collect().toMap
    out.foreach { case (id, _, s) => s shouldBe q1(id) }
    an[IllegalArgumentException] should be thrownBy
      SearchExecutor.minShouldMatchSearch(ds.toDF(), "heart rate prices", 4)
  }

  test("A6 composite facet: after-key pages are disjoint, contiguous, and walk the full bucket space") {
    val base = ds.toDF()
    val all = base.groupBy("category", "format")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("cnt"))
      .orderBy("category", "format")
      .as[(String, String, Long)].collect().toSeq
    all.size should be >= 4
    val page = all.size / 2
    val p1 = SearchExecutor.compositeFacet(base, Seq("category", "format"), page)
      .as[(String, String, Long)].collect().toSeq
    p1 shouldBe all.take(page)
    // page 2 resumes from page 1's LAST key — no overlap, no skips
    val after = Seq(p1.last._1, p1.last._2)
    val p2 = SearchExecutor.compositeFacet(base, Seq("category", "format"),
        all.size, Some(after))
      .as[(String, String, Long)].collect().toSeq
    p2 shouldBe all.drop(page)
    an[IllegalArgumentException] should be thrownBy
      SearchExecutor.compositeFacet(base, Seq("category", "format"), 5,
        Some(Seq("only-one-key")))
  }
}
