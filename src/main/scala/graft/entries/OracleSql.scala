package graft
package entries

import graft.operators.TextAnalysis

/** DuckDB-side building blocks the registered entries' oracle SQL shares:
  * the corpus CTE, analyzer twins and the CTE chains several oracles reuse.
  */
object OracleSql {
  val M = Corpus.metaSql

  /** DuckDB equivalent of Analyzers.standardTokens (ASCII corpus). */
  def stdToks(c: String): String =
    s"list_filter(string_split_regex(lower($c), '[^a-z0-9]+'), x -> x <> '')"

  /** DuckDB equivalent of Analyzers.uriTokens. */
  def uriToks(c: String): String =
    s"list_filter(string_split_regex(lower($c), '[^a-z]+'), x -> x <> '' AND x NOT IN ('http','https','ftp','www','com'))"

  private def sqlList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ",", ")")

  /** Shared CTEs for the documents-table oracle SQL. */
  val T = s"WITH toks AS (SELECT doc_id, ${stdToks("text")} AS t FROM documents) "

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

  val JaccardChain = PairsChain +
    """, jac AS (SELECT a_id, b_id, round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE / len(list_distinct(sa.shingles || sb.shingles)), 6) AS jaccard
      |          FROM pairs JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id) """.stripMargin.replaceAll("\n", " ")

  val JaccardCte = T + JaccardChain

  /** The d10/d11 span pipeline in SQL: planted-tail corpus → positioned
    * 8-token windows → occurrence≥2 cut → gaps-and-islands (mirrors
    * Dedup.repeatedSpans over plantedSpanDocs exactly).
    */
  val SpanChain =
    "WITH spand AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || " +
      "' the quick brown fox jumps over the lazy dog again and again' ELSE text END AS text FROM documents), " +
      s"toks AS (SELECT doc_id, ${stdToks("text")} AS t FROM spand), " +
      "pos AS (SELECT doc_id, unnest(range(1, len(t) - 6)) - 1 AS p, " +
      "unnest(list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))) AS s FROM toks), " +
      "rep AS (SELECT s FROM pos GROUP BY s HAVING count(*) >= 2), " +
      "hit AS (SELECT p.doc_id, p.p FROM pos p JOIN rep r USING (s)), " +
      "isl AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS g FROM hit) "

  /** The d12/d13 rewrite tail after a per-doc `cuts(doc_id, start_tok,
    * end_tok, nt)` CTE: removed-token counts, and the md5 of each doc's
    * tokens outside every cut, reassembled in order.
    */
  val spanRewriteSql: String =
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
      "ORDER BY t.doc_id"

  /** DuckDB twin of [[plantedSliceDocs]] (same residue/offset/frac). */
  def slicedDocsCte(residue: Int, offset: Long, frac: String): String =
    "WITH docs2 AS (SELECT doc_id, text FROM documents " +
      s"UNION ALL SELECT doc_id + $offset AS doc_id, " +
      s"array_to_string(t[1:ceil(len(t)*$frac)::BIGINT], ' ') AS text " +
      s"FROM (SELECT doc_id, ${stdToks("text")} AS t FROM documents) WHERE doc_id % 20 = $residue) " +
      s", toks AS (SELECT doc_id, ${stdToks("text")} AS t FROM docs2) "

  /** The d3 planted corpus (plantedTruncDocs) in DuckDB: documents plus
    * first-⌈98%⌉-token truncations of every doc_id % 20 == 7 doc.
    */
  val TruncDocsCte = slicedDocsCte(residue = 7, offset = 300000L, frac = "0.98")

  /** The d7 planted corpus (plantedPrefixDocs) in DuckDB: documents plus
    * first-⌈25%⌉-token prefixes of every doc_id % 20 == 13 doc.
    */
  val PrefixDocsCte = slicedDocsCte(residue = 13, offset = 400000L, frac = "0.25")

  /** Containment verify over the shared [[PairsChain]]:
    * containment = |sh(a) ∩ sh(b)| / min(|sh(a)|, |sh(b)|).
    */
  val ContainChain = PairsChain +
    ", cont AS (SELECT a_id, b_id, round(len(list_intersect(sa.shingles, sb.shingles))::DOUBLE / " +
    "least(len(sa.shingles), len(sb.shingles))::DOUBLE, 6) AS containment " +
    "FROM pairs JOIN sh sa ON sa.doc_id = a_id JOIN sh sb ON sb.doc_id = b_id) "

  /** Distinct (user, item) views `ui`, as Graph.coviewEdges derives them.
    * `head` opens the WITH clause; `mat` is "" or " MATERIALIZED".
    */
  def viewItemsSql(head: String, mat: String = ""): String =
    s"$head ui AS$mat (SELECT DISTINCT user_id, regexp_extract(props, '(\\d+)', 1)::INT AS item " +
      "FROM events WHERE event_type = 'view' AND regexp_extract(props, '(\\d+)', 1) <> ''), "

  /** [[viewItemsSql]] plus the 50-item bot cap `ok` and the capped views
    * `c`: the chain every co-view oracle starts from.
    */
  def cappedViewsSql(head: String, mat: String = ""): String =
    viewItemsSql(head, mat) +
      "ok AS (SELECT user_id FROM ui GROUP BY 1 HAVING count(*) <= 50), " +
      s"c AS$mat (SELECT ui.user_id, ui.item FROM ui JOIN ok USING (user_id)), "

  /** The CTE `v2`: DuckDB twin of [[Fixtures.revisedDocs]]. */
  val revisedDocsSql: String =
    "WITH v2 AS (" +
      "SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]' ELSE text END AS text " +
      "FROM documents WHERE doc_id % 17 <> 0 " +
      "UNION ALL SELECT doc_id + 10000000 AS doc_id, 'new doc ' || doc_id AS text " +
      "FROM documents WHERE doc_id % 19 = 0)"

  /** Decile counts of two quality-micros CTEs `q1` and `q2`: `m` holds
    * n_v1/n_v2 per bucket 0-9 over a dense spine, `t` the totals t1/t2.
    */
  val qualityBucketsSql: String =
    ", b1 AS (SELECT least(9, (micros * 10) // 1000000) AS bucket FROM q1) " +
      ", b2 AS (SELECT least(9, (micros * 10) // 1000000) AS bucket FROM q2) " +
      ", c1 AS (SELECT bucket, count(*)::BIGINT AS n_v1 FROM b1 GROUP BY 1) " +
      ", c2 AS (SELECT bucket, count(*)::BIGINT AS n_v2 FROM b2 GROUP BY 1) " +
      ", t AS (SELECT (SELECT count(*) FROM q1)::BIGINT AS t1, " +
      "(SELECT count(*) FROM q2)::BIGINT AS t2) " +
      ", sp AS (SELECT range::BIGINT AS bucket FROM range(10)) " +
      ", m AS (SELECT sp.bucket, coalesce(n_v1, 0) AS n_v1, coalesce(n_v2, 0) AS n_v2 " +
      "FROM sp LEFT JOIN c1 USING (bucket) LEFT JOIN c2 USING (bucket)) "

  /** The Laplace-smoothed PSI of [[qualityBucketsSql]]'s deciles, with its
    * level from the rounded value.
    */
  val psiSql: String = qualityBucketsSql +
    ", fr AS (SELECT ((1000000 * n_v1 + t1 // 2) // t1) AS f1m, " +
    "((1000000 * n_v2 + t2 // 2) // t2) AS f2m FROM m, t) " +
    ", p AS (SELECT round(sum(((f1m + 100) / 1000000.0 - (f2m + 100) / 1000000.0) * " +
    "ln(((f1m + 100) / 1000000.0) / ((f2m + 100) / 1000000.0))), 4) AS psi FROM fr) " +
    "SELECT psi, CASE WHEN psi > 0.25 THEN 'major' WHEN psi > 0.1 THEN 'moderate' " +
    "ELSE 'stable' END AS level FROM p"

  /** DuckDB twin of [[Fixtures.docRows]] over the documents rows that
    * `where` ("" or "WHERE … ") keeps.
    */
  def docRowsSql(where: String): String =
    "SELECT doc_id, md5(text) AS text_md5, lang, source, n_chars " +
      s"FROM documents ${where}ORDER BY doc_id"

  /** o3/o6/o8/o33: discounted revenue and line count per customer nation
    * and order year, grouped and ordered by `grouping`.
    */
  def nationRevenueSql(grouping: String): String =
    "WITH l AS (SELECT l_orderkey, l_extendedprice * (1 - l_discount) AS dp FROM lineitem), " +
      "o AS (SELECT o_orderkey, o_custkey, year(o_orderdate) AS order_year FROM orders) " +
      "SELECT n_name, order_year, round(sum(dp::DECIMAL(28,10)), 2)::DOUBLE AS revenue, " +
      "count(*) AS n_items FROM l " +
      "JOIN o ON l_orderkey = o_orderkey " +
      "JOIN customer ON o_custkey = c_custkey " +
      "JOIN nation ON c_nationkey = n_nationkey " + grouping

  /** A history oracle over the bulk-loaded ids 000001-000050: every base
    * image opens at v1 and closes where the CASE arms `closes` say; `later`
    * filters the base rows or appends the later images.
    */
  def historySql(closes: String, later: String): String =
    M + "SELECT id, title, CAST(1 AS BIGINT) AS valid_from, " +
      s"CAST(CASE $closes END AS BIGINT) AS valid_to " +
      s"FROM meta WHERE id BETWEEN '000001' AND '000050' ${later}ORDER BY id, valid_from"

  /** The three-version scenario's closes: 000010 revised at v2, 000020
    * deleted at v3.
    */
  val threeVersionCloses = "WHEN id = '000010' THEN 2 WHEN id = '000020' THEN 3"

  /** The three-version scenario's later images: 000010's v2 revision
    * 'rev-b' and the v4 insert of 000200, both open.
    */
  val threeVersionImages: String =
    "UNION ALL SELECT '000010', 'rev-b', 2, NULL " +
      "UNION ALL SELECT id, title, 4, NULL FROM meta WHERE id = '000200' "

  /** s20/s21/s26: the three-version scenario plus the v4 insert, replayed
    * as history literals.
    */
  val threeVersionHistorySql: String = historySql(threeVersionCloses, threeVersionImages)

  /** The j9 funnel qualification chain: view → click → purchase per user
    * under the 3-day anchor horizon, as layered running-min windows; `pu`
    * holds each user's first qualified step times q0, q1, q2.
    */
  val funnelSql: String =
    "WITH e AS (SELECT user_id AS u, epoch_us(ts::TIMESTAMP) AS us, " +
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
      "pu AS (SELECT u, min(q0) AS q0, min(q1) AS q1, min(q2) AS q2 FROM w2 GROUP BY 1), "

  /** The co-view edge CTE shared by every g-family oracle — identical
    * derivation to Graph.coviewEdges: distinct (user, item) views, the
    * 50-item bot cap, symmetric distinct pairs, per-node degree.
    */
  val coviewCte: String =
    cappedViewsSql("WITH") +
      "e AS (SELECT DISTINCT a.item AS src, b.item AS dst FROM c a JOIN c b " +
      "ON a.user_id = b.user_id AND a.item <> b.item)"

  /** g1: the j14 capped co-view chain to a symmetric edge table, then the
    * identical integer PageRank recurrence unrolled as 5 chained CTEs —
    * DuckDB `//` on positives ≡ Spark `DIV`, every rank a long, so the
    * iterative fixpoint hash-matches with no float anywhere.
    */
  lazy val pagerankSql: String = {
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
  lazy val freshnessSql: String =
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
  lazy val seasonalVolumeSql: String =
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
  lazy val communitiesSql: String =
    cappedViewsSql("WITH") +
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
  lazy val weightedPagerankSql: String = {
    val base =
      cappedViewsSql("WITH") +
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
  lazy val cusumShiftSql: String =
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
  lazy val corrDriftSql: String = {
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
    revisedDocsSql + " " +
      sideCte("documents", "a") + sideCte("v2", "b") +
      s"SELECT m_a.m::BIGINT AS n_1, ${rsql("m_a")} AS r_1, " +
      s"m_b.m::BIGINT AS n_2, ${rsql("m_b")} AS r_2, " +
      s"round(abs((${rsql("m_a")}) - (${rsql("m_b")})), 6) AS drift " +
      "FROM m_a, m_b"
  }

  /** j23/e37: the stickiness replay — shared by the batch gate and the
    * streamed (day, user) set-log fold.
    */
  lazy val stickinessSql: String =

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
  lazy val normProfileSql: String =
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
  lazy val chi2DriftSql: String =
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
  lazy val personalizedPrSql: String = {
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
  lazy val triangleSql: String = coviewCte +
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
  lazy val linkPredictionSql: String = coviewCte +
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
  lazy val pcaProjectSql: String = {
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
  def cosSql(a: String, b: String): String =
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
  def stemSql(w: String): String = {
    val s1 = s"(CASE WHEN $w LIKE '%ies' AND length($w) > 4 THEN substr($w, 1, length($w)-3) || 'y' " +
      s"WHEN $w LIKE '%sses' THEN substr($w, 1, length($w)-2) " +
      s"WHEN $w LIKE '%s' AND $w NOT LIKE '%ss' AND length($w) > 3 THEN substr($w, 1, length($w)-1) ELSE $w END)"
    s"(CASE WHEN $s1 LIKE '%ing' AND length($s1) > 5 THEN substr($s1, 1, length($s1)-3) " +
      s"WHEN $s1 LIKE '%ed' AND length($s1) > 4 THEN substr($s1, 1, length($s1)-2) ELSE $s1 END)"
  }

  /** Shared CTE: the planted-dup embedding corpus and its all-pairs cosine
    * (the exact answer v3's LSH blocking and v5's CC collapse are held to).
    */
  lazy val PlantedPairCte =
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
  lazy val benfordSql: String =
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
  lazy val mergeSql: String =
    Corpus.metaSql + "SELECT id, CASE WHEN id = '000010' THEN 'merged-title' ELSE title END AS title, " +
      "dataSample FROM meta " +
      "WHERE (id BETWEEN '000001' AND '000050' AND id <> '000020') OR id = '000200' " +
      "ORDER BY id"

  /** c19 + e41: the FD report over meta — the streamed distinct-triple
    * set log re-aggregates to exactly the batch report (count-distinct
    * and group existence are duplicate-insensitive), so one oracle
    * serves both.
    */
  lazy val fdCheckSql: String =
    Corpus.metaSql + ", mel AS (SELECT 'id->title' AS fd, id::VARCHAR AS det, title::VARCHAR AS dep FROM meta " +
      "UNION ALL SELECT 'category->format', category, format FROM meta " +
      "UNION ALL SELECT 'orgUUID->isPublic', orgUUID, isPublic::VARCHAR FROM meta), " +
      "g AS (SELECT fd, det, count(DISTINCT dep)::BIGINT AS nd FROM mel GROUP BY 1, 2) " +
      "SELECT fd, count(*)::BIGINT AS n_det, " +
      "sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating, " +
      "max(nd)::BIGINT AS max_branches, " +
      "(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)::HUGEINT * 1000000 // count(*))::BIGINT AS violation_ppm " +
      "FROM g GROUP BY fd ORDER BY fd"

  lazy val dsirSampleSql: String =
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
  lazy val plantedTopkSql: String =
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
  lazy val filteredTopkSql: String =
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
  lazy val deletedTopkSql: String =
    "WITH corpus AS (SELECT vec_id, embedding FROM embeddings " +
      "UNION ALL SELECT vec_id*100 + j + 200000 AS vec_id, " +
      "list_prepend((embedding[1] + (j/256.0)::FLOAT)::FLOAT, embedding[2:64]) AS embedding " +
      "FROM embeddings, range(1,11) t(j) WHERE vec_id < 5 AND j % 2 = 0) " +
      ", q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < 5) " +
      s", s AS (SELECT q_id, e.vec_id, ${cosSql("q_emb", "e.embedding")} AS cos FROM corpus e, q WHERE e.vec_id <> q_id) " +
      ", r AS (SELECT q_id, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank, vec_id, cos FROM s) " +
      "SELECT q_id, rank::BIGINT AS rank, vec_id, cos FROM r WHERE rank <= 5 ORDER BY q_id, rank"

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
  private def mmrGreedySql(corpusSql: String, fetch: Int): String = {
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

  /** The classifier's top-256 weights by |weight|, over `wts`. */
  val topWeightsSql: String =
    "SELECT token, weight_micros FROM wts ORDER BY abs(weight_micros) DESC, token LIMIT 256"

  /** t20/e19/e27: the classifier weights trained on the whole corpus. */
  val classifierWeightsSql: String = T + microsCte("q") + classifierWtsCte + topWeightsSql

  /** Each document's summed top-256 weight `s` (`sc`), from the classifier
    * trained on the whole corpus.
    */
  val classifierScoreCte: String =
    T + microsCte("q") + classifierWtsCte +
      s", topw AS ($topWeightsSql) " +
      ", sc AS (SELECT t.doc_id, sum(coalesce(w.weight_micros, 0))::BIGINT AS s " +
      "FROM tok t LEFT JOIN topw w USING (token) GROUP BY 1) "

  /** t21/e18: every document's classifier score and prediction. */
  val classifierScoreSql: String =
    classifierScoreCte +
      "SELECT d.doc_id, coalesce(s, 0)::BIGINT AS score_micros, " +
      "coalesce(s, 0) > 0 AS predicted_hq " +
      "FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id"

  /** m4/m5/m8: the planted media corpus `corp` (every media_id % 20 == 7
    * row re-inserted at +300000 with its last byte's low bit flipped), its
    * pHash, and each item's near-dup cluster rep `lbl` — the all-pairs
    * Hamming ≤ 2 graph closed by recursive reachability.
    */
  val mediaClusterSql: String =
    "WITH RECURSIVE md AS (SELECT doc_id, md5(text) AS hx FROM documents), " +
      "corp AS (SELECT doc_id AS media_id, hx FROM md " +
      "UNION ALL SELECT doc_id + 300000 AS media_id, " +
      s"substr(hx, 1, 30) || printf('%02x', xor(${hexByteSql("hx", 15)}, 1)) AS hx " +
      "FROM md WHERE doc_id % 20 = 7), " +
      s"ph AS (SELECT media_id, ${phashSql("hx")} AS ph FROM corp), " +
      "e0 AS (SELECT a.media_id AS u, b.media_id AS v FROM ph a JOIN ph b " +
      "ON a.media_id < b.media_id AND bit_count(xor(a.ph, b.ph)) <= 2), " +
      "e AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0), " +
      "reach(u, v) AS (SELECT u, v FROM e UNION SELECT r.u, e2.v FROM reach r JOIN e e2 ON r.v = e2.u), " +
      "lbl AS (SELECT u AS media_id, least(u, min(v)) AS rep FROM reach GROUP BY u)"

  /** t17/t18/t19/t25: the corpus's first BPE merge `top` (a, b), the
    * count-weighted argmax adjacent pair over the word counts `wc`.
    */
  val firstMergeSql: String =
    T + ", words AS (SELECT unnest(t) AS w FROM toks), " +
      "wc AS (SELECT w, count(*) AS cnt FROM words GROUP BY 1), " +
      "pr AS (SELECT w[i:i] AS a, w[i+1:i+1] AS b, cnt " +
      "FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i FROM wc)), " +
      "top AS (SELECT a, b FROM pr GROUP BY a, b ORDER BY sum(cnt) DESC, a, b LIMIT 1)"

  /** t32/e39: [[Fixtures.plantedEncodingDocs]] rebuilt as `planted` (chr()
    * code points) and `c`, each doc's char count and its replacement,
    * control and mojibake occurrence counts.
    */
  val encodingCountsSql: String =
    "WITH planted AS (SELECT doc_id, CASE " +
      "WHEN doc_id % 7 = 0 THEN text || ' ' || chr(195) || chr(169) || ' ' || chr(226) || chr(8364) || chr(157) || ' bad' " +
      "WHEN doc_id % 11 = 0 THEN text || chr(0) || chr(1) || ' bin ' || chr(65533) " +
      "ELSE text END AS text FROM documents), " +
      "c AS (SELECT doc_id, length(text)::BIGINT AS n_chars, " +
      "len(regexp_extract_all(text, '\\x{FFFD}'))::BIGINT AS n_replacement, " +
      "len(regexp_extract_all(text, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]'))::BIGINT AS n_control, " +
      "len(regexp_extract_all(text, '\\x{C3}[\\x{80}-\\x{BF}]|\\x{E2}\\x{20AC}'))::BIGINT AS n_mojibake FROM planted)"

  /** [[T]] plus `dt`: each document's (doc_id, source, n_tok) standard-token
    * count.
    */
  val sourceTokensCte: String =
    T + ", dt AS (SELECT t.doc_id, d.source, len(t.t)::BIGINT AS n_tok " +
      "FROM toks t JOIN documents d ON t.doc_id = d.doc_id)"

  /** p8/p13: the Knuth-hash coin keeps each document of [[sourceTokensCte]]
    * with its source's keep fraction `kf`, which `frac` computes from the
    * per-source (`bysrc`) and corpus (`tot`) token totals.
    */
  def sourceKeepSql(frac: String): String =
    sourceTokensCte + ", " +
      "bysrc AS (SELECT source, sum(n_tok) AS src_tok FROM dt GROUP BY 1), " +
      "tot AS (SELECT sum(n_tok)::DOUBLE AS corpus_tok FROM dt), " +
      frac +
      "SELECT doc_id, source, n_tok FROM dt JOIN frac USING (source) " +
      "WHERE ((doc_id * 2654435761) % 4294967296) % 1000000 < kf * 1000000 " +
      "ORDER BY doc_id"

  /** q8/e15/e16: the 'red' and 'widget' document frequencies and the
    * document count over the dataSample column of `cur`.
    */
  val redWidgetDfSql: String =
    "st AS (SELECT count(*) AS n, " +
      s"sum(CASE WHEN list_contains(${stdToks("dataSample")}, 'red') THEN 1 ELSE 0 END) AS dfr, " +
      s"sum(CASE WHEN list_contains(${stdToks("dataSample")}, 'widget') THEN 1 ELSE 0 END) AS dfw FROM cur), " +
      "x AS (SELECT 'red' AS term, dfr::BIGINT AS df, n::BIGINT AS n_docs FROM st " +
      "UNION ALL SELECT 'widget', dfw::BIGINT, n::BIGINT FROM st) " +
      "SELECT term, df, n_docs FROM x ORDER BY term"

  /** The events CTE `e` with each event's time as epoch micros `us`. */
  val eventsUsSql: String =
    "WITH e AS (SELECT user_id, event_id, event_type, " +
      "epoch_us(ts::TIMESTAMP) AS us FROM events), "

  /** 30-minute-gap sessions over `e`: `s2` numbers each user's sessions
    * `sess` by a running sum of the gap breaks `new_s` (`s`).
    */
  val sessionsSql: String =
    "s AS (SELECT *, CASE WHEN us - lag(us) OVER " +
      "(PARTITION BY user_id ORDER BY us, event_id) > 1800000000 " +
      "THEN 1 ELSE 0 END AS new_s FROM e), " +
      "s2 AS (SELECT *, sum(new_s) OVER " +
      "(PARTITION BY user_id ORDER BY us, event_id) AS sess FROM s), "

  /** j16/e33: the top-20 session paths. `head` adds CTEs over the event
    * rows `e`; `p` builds (user_id, sess, path) from the session positions
    * `s3` of [[sessionsSql]]'s sessions.
    */
  def topPathsSql(head: String, p: String): String =
    eventsUsSql + head + sessionsSql +
      "s3 AS (SELECT *, row_number() OVER " +
      "(PARTITION BY user_id, sess ORDER BY us, event_id) AS pos FROM s2), " +
      p +
      "SELECT path, count(*)::BIGINT AS n_sessions FROM p " +
      "GROUP BY 1 ORDER BY n_sessions DESC, path LIMIT 20"

  /** d9/e25/e26: d3's exact-Jaccard pairs restricted to corpus × batch
    * (batch ids start at 300000).
    */
  val incrementalDedupSql: String =
    TruncDocsCte + JaccardChain +
      "SELECT a_id, b_id FROM jac WHERE jaccard >= 0.6 " +
      "AND a_id < 300000 AND b_id >= 300000 ORDER BY a_id, b_id"

  /** j15/e29: the first-order transition matrix of each user's
    * time-ordered event types, probabilities in floor-divided micros.
    */
  val markovSql: String =
    eventsUsSql +
      "p AS (SELECT event_type AS src, " +
      "lead(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS dst FROM e), " +
      "c AS (SELECT src, dst, count(*)::BIGINT AS n FROM p WHERE dst IS NOT NULL GROUP BY 1, 2), " +
      "t AS (SELECT src, sum(n)::BIGINT AS n_src FROM c GROUP BY 1) " +
      "SELECT c.src, c.dst, c.n, ((c.n * 1000000) // t.n_src)::BIGINT AS p_micros " +
      "FROM c JOIN t USING (src) ORDER BY src, dst"

  /** s15/s17: a fresh orders ⋈ customer join over the mutated tables. */
  val joinViewSql: String =
    "WITH o0 AS (SELECT o_orderkey, " +
      "CASE WHEN o_orderkey = 13 THEN 5 ELSE o_custkey END AS o_custkey, " +
      "o_totalprice FROM orders WHERE o_orderkey <> 7 " +
      "UNION ALL SELECT -1::BIGINT, 1::BIGINT, 0.0), " +
      "c0 AS (SELECT c_custkey, " +
      "CASE WHEN c_custkey = 3 THEN 99 ELSE c_nationkey END AS c_nationkey " +
      "FROM customer) " +
      "SELECT o_orderkey, o_custkey, o_totalprice, c_custkey, c_nationkey " +
      "FROM o0 JOIN c0 ON o_custkey = c_custkey ORDER BY o_orderkey"

  /** x19/e20/e21: the exact top-10 users by event count in 2024-01-05..15. */
  val topkRollupSql: String =
    "WITH c AS (SELECT user_id, count(*) AS n_events FROM events " +
      "WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-05 00:00:00' " +
      "AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 00:00:00' GROUP BY 1) " +
      "SELECT user_id, n_events, n_events AS cnt_ub, true AS guaranteed " +
      "FROM c ORDER BY n_events DESC, user_id LIMIT 10"

  /** x16/e14: the exact distinct users in 2024-01-05..15. */
  val rangeDistinctSql: String =
    "SELECT count(DISTINCT user_id) AS exact_users, true AS est_ok " +
      "FROM events WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-05 00:00:00' " +
      "AND ts::TIMESTAMP < TIMESTAMP '2024-01-15 00:00:00'"

  /** e1/e6: the per-window event counts a streamed window fold must equal. */
  val windowCountsSql: String =
    "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start, event_type, count(*) AS cnt, " +
      "sum(value::DECIMAL(18,6))::DOUBLE AS sum_value FROM events GROUP BY 1, 2 ORDER BY 1, 2"

  /** x11/x13: per event_type row count and exact-decimal value sum of the
    * events `where` selects.
    */
  def typeTotalsSql(where: String): String =
    "SELECT event_type, count(*) AS cnt, " +
      "sum(value::DECIMAL(18,6))::DOUBLE AS sum_value FROM events " +
      where + "GROUP BY 1 ORDER BY 1"

  /** j1/j4: each purchase (purchase_id, user_id, purchase_ts) with
    * `clickCols` over DuckDB's ASOF LEFT JOIN to the user's latest click at
    * or before it, clicks collapsed to max event_id per (user, ts).
    */
  def asOfClickSql(clickCols: String): String =
    "WITH clicks AS (SELECT user_id, ts::TIMESTAMP AS click_ts, " +
      "max(event_id) AS click_id FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
      "purchases AS (SELECT event_id AS purchase_id, user_id, ts::TIMESTAMP AS purchase_ts " +
      "FROM events WHERE event_type = 'purchase') " +
      s"SELECT p.purchase_id, p.user_id, p.purchase_ts, $clickCols " +
      "FROM purchases p ASOF LEFT JOIN clicks c " +
      "ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts " +
      "ORDER BY purchase_id"

  /** The oracle of a pinned measurement (d16, v11, v25): the sf0.01
    * `(method, hits, total, recall)` rows, emitted only when the exact
    * fingerprint count(*)·100000 + sum(`sumCol`) of `table` equals `fp`;
    * any other SF yields one PIN_STALE row carrying the fingerprint.
    */
  def pinnedRecallSql(table: String, sumCol: String, fp: Long, rows: Seq[String]): String =
    s"WITH fp AS (SELECT (count(*)*100000 + sum($sumCol))::BIGINT AS v FROM $table) " +
      "SELECT * FROM (VALUES " + rows.mkString(", ") +
      s") AS t(method, hits, total, recall) WHERE (SELECT v FROM fp) = $fp " +
      "UNION ALL SELECT 'PIN_STALE_expected_sf0.01', -1::BIGINT, " +
      s"(SELECT v FROM fp), -1.0::DOUBLE WHERE (SELECT v FROM fp) <> $fp " +
      "ORDER BY method"

  /** d14/v3: the planted embedding near-duplicate pairs. */
  val embeddingDupSql: String =
    PlantedPairCte + "SELECT a_id, b_id, cos FROM p WHERE cos >= 0.95 ORDER BY a_id, b_id"
}
