package graft.analyzers

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text analyzers, re-expressed as codegen-friendly Column pipelines built
  * from `org.apache.spark.sql.functions` (no UDFs in the hot path).
  *
  * The reference delegates analysis to Elasticsearch analyzers:
  *  - `standard` analyzer on dataSample/format/category/targetUri
  *    (reference: data_catalog/configuration_const.py:30-38) — unicode word
  *    segmentation + lowercase. Approximated here as lowercase + split on
  *    non-alphanumerics; equivalent for the ASCII corpora both engines see.
  *  - custom `uri_analyzer` on sourceUri
  *    (reference: data_catalog/configuration_const.py:68-84) — `lowercase`
  *    tokenizer (splits on non-LETTERS, lowercases) + stopword filter dropping
  *    {http, https, ftp, www, com}. Reproduced exactly.
  *  - `english` analyzer on title (reference: configuration_const.py:26-29).
  *    The reference *searches* title with a wildcard-contains on analyzed
  *    terms, which we deliberately simplify to contains-on-whole-lowercased-
  *    title (SURVEY.md §2.2 documents this as a superset for multi-word
  *    queries, where the reference's behavior — never matching — is a wart,
  *    not a capability). The stemmer below is therefore only used for
  *    optional term-level matching, and is a light plural/suffix stemmer, not
  *    a full Porter implementation.
  */
object Analyzers {

  /** Stopwords of the reference's uri_analyzer
    * (reference: configuration_const.py:79-83).
    */
  val UriStopwords: Seq[String] = Seq("http", "https", "ftp", "www", "com")

  /** English stopword list used by the quality/scoring heuristics. Matches the
    * Lucene/ES default English stopword set (public, shipped with ES 2.x).
    */
  val EnglishStopwords: Seq[String] = Seq(
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such", "that",
    "the", "their", "then", "there", "these", "they", "this", "to", "was",
    "will", "with")

  // ---- Column (distributed, codegen'd) variants ----

  /** `standard`-analyzer approximation: lowercase, split on any run of
    * non-letter/non-digit, drop empty tokens. Backed by the native codegen
    * expression (graft.functions.StandardTokensExpr); semantics are
    * bit-identical to the regex pipeline below (spec-asserted).
    */
  def standardTokens(c: Column): Column =
    graft.functions.Tokenize.standardTokens(c)

  /** uri_analyzer: lowercase tokenizer splits on non-letters (digits split
    * too, unlike standard), then drop the URI stopwords. Native expression,
    * same contract as [[standardTokens]].
    */
  def uriTokens(c: Column): Column =
    graft.functions.Tokenize.uriTokens(c)

  /** Reference regex implementations of the two tokenizers — the executable
    * spec the native expressions are equivalence-tested against.
    */
  def standardTokensRegex(c: Column): Column =
    filter(split(lower(c), "[^\\p{L}\\p{N}]+"), t => length(t) > 0)

  def uriTokensRegex(c: Column): Column =
    filter(split(lower(c), "[^\\p{L}]+"),
      t => length(t) > 0 && !t.isInCollection(UriStopwords))

  // ---- plain Scala variants (driver-side: query-string analysis) ----

  def standardTokensScala(s: String): Seq[String] =
    s.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq

  def uriTokensScala(s: String): Seq[String] =
    s.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
      .filterNot(UriStopwords.contains).toSeq

  /** Light English stemmer (plural + common verbal/adverbial suffixes).
    * Deterministic; used for term-level title matching (the reference's
    * title field is english-analyzed, configuration_const.py:26-29, so an ES
    * `term` filter on title matches STEMMED tokens) — never for the
    * wildcard-contains path that defines Q1 parity.
    */
  def stem(w: String): String = {
    var s = w
    if (s.endsWith("ies") && s.length > 4) s = s.dropRight(3) + "y"
    else if (s.endsWith("sses")) s = s.dropRight(2)
    else if (s.endsWith("s") && !s.endsWith("ss") && s.length > 3) s = s.dropRight(1)
    if (s.endsWith("ing") && s.length > 5) s = s.dropRight(3)
    else if (s.endsWith("ed") && s.length > 4) s = s.dropRight(2)
    s
  }

  /** Column twin of [[stem]] — same two stages, codegen'd built-ins only.
    * AnalyzersSpec asserts stemCol(w) === stem(w) over the corpus vocabulary.
    */
  def stemCol(w: Column): Column = {
    def drop(c: Column, n: Int): Column =
      call_function("substring", c, lit(1), length(c) - n)
    def stage1(c: Column): Column =
      when(c.endsWith("ies") && length(c) > 4, concat(drop(c, 3), lit("y")))
        .when(c.endsWith("sses"), drop(c, 2))
        .when(c.endsWith("s") && !c.endsWith("ss") && length(c) > 3, drop(c, 1))
        .otherwise(c)
    val s1 = stage1(w)
    when(s1.endsWith("ing") && length(s1) > 5, drop(s1, 3))
      .when(s1.endsWith("ed") && length(s1) > 4, drop(s1, 2))
      .otherwise(s1)
  }

  /** Stemmed standard tokens — what an english-analyzed field stores. */
  def stemmedTokens(c: Column): Column =
    transform(standardTokens(c), w => stemCol(w))
}
