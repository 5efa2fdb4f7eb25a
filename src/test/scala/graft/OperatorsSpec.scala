package graft

import graft.operators.{Dedup, Pipeline, Similarity, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Specs for the LLM-pipeline operator families. The SQL-expressible ops
  * (exact dedup, Jaccard pairs, token stats, …) are additionally gated by the
  * driver's DuckDB oracle; the hash-based ops (MinHash/SimHash/SRP-LSH) are
  * only checkable here, with planted duplicates.
  */
class OperatorsSpec extends AnyFunSuite with Matchers with SparkSupport {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from a warm window sill and the birds sing in the garden every single morning"
  private val nearDup = base.replace("warm window", "cold window")

  private def docsDf: DataFrame = Seq(
    (0L, base),
    (1L, nearDup), // near-dup of 0
    (2L, base), // exact dup of 0
    (3L, "completely different content about spark shuffles partitions and catalyst optimizer rules for distributed queries running on large clusters"),
    (4L, "unrelated text mentioning databases indexes transactions and write ahead logs in storage engines with buffer pools and checkpoints")
  ).toDF("doc_id", "text")

  // ----------------------------------------------------------------- dedup

  test("exact dedup keeps min doc_id per identical text") {
    val out = Dedup.exact(docsDf).orderBy("doc_id").collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(0L, 1L, 3L, 4L) // 2 collapsed into 0
  }

  test("jaccard pairs find the near-dup and exact-dup, not unrelated docs") {
    val pairs = Dedup.jaccardPairs(docsDf, threshold = 0.7, maxDf = 10)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    pairs should contain(0L -> 2L) // exact dup, j = 1.0
    pairs should contain(0L -> 1L) // near dup
    pairs.exists { case (a, b) => a == 3L || b == 3L } shouldBe false
  }

  test("minhash LSH finds planted near-dups and skips unrelated docs") {
    val pairs = Dedup.minhashPairs(docsDf)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    pairs should contain(0L -> 2L) // identical → identical signatures
    pairs should contain(0L -> 1L) // near-dup → most bands agree
    pairs.exists { case (a, b) => a == 3L || b == 3L || a == 4L || b == 4L } shouldBe false
  }

  test("incremental minhash dedup equals the monolithic operator's corpus-vs-batch restriction") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    // batch = near-copies of docs 0-9 under shifted ids (drop the last token)
    val batch = docs.where($"doc_id" < 10)
      .select(($"doc_id" + 1000L).as("doc_id"),
        graft.analyzers.Analyzers.standardTokens($"text").as("tk"))
      .select($"doc_id",
        expr("array_join(slice(tk, 1, greatest(size(tk) - 1, 1)), ' ')").as("text"))
    val idx = Dedup.signatureIndex(docs)
    val incr = Dedup.incrementalMinhashPairs(idx, batch, threshold = 0.6)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val mono = Dedup.minhashPairs(docs.unionByName(batch), threshold = 0.6)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
      .filter(p => p._1 < 1000L && p._2 >= 1000L)
    incr shouldBe mono
    incr.map(_._2) shouldBe (1000L until 1010L).toSet // every near-copy caught
  }

  test("minhash signature is deterministic and k-sized") {
    val sig = docsDf.where($"doc_id" === 0)
      .select(Dedup.minhashSignature(Dedup.shingles($"text"), 64))
      .collect().head.getSeq[Long](0)
    sig.length shouldBe 64
    val sig2 = docsDf.where($"doc_id" === 2) // same text
      .select(Dedup.minhashSignature(Dedup.shingles($"text"), 64))
      .collect().head.getSeq[Long](0)
    sig2 shouldBe sig
  }

  test("simhash: identical docs share the signature; near-dups are close; unrelated far") {
    val sigs = docsDf.select($"doc_id", Dedup.simhash($"text").as("sig"))
      .as[(Long, Long)].collect().toMap
    sigs(0L) shouldBe sigs(2L)
    java.lang.Long.bitCount(sigs(0L) ^ sigs(1L)) should be <= 6
    java.lang.Long.bitCount(sigs(0L) ^ sigs(3L)) should be > 10
  }

  test("simhash pairs: exact dup found at hamming 0") {
    val pairs = Dedup.simhashPairs(docsDf)
      .select("a_id", "b_id", "hamming").as[(Long, Long, Long)].collect()
    pairs.map(p => (p._1, p._2)) should contain(0L -> 2L)
    pairs.find(p => (p._1, p._2) == (0L, 2L)).get._3 shouldBe 0L
  }

  test("fuzzy survivors collapse the near-dup cluster to its min doc_id") {
    val survivors = Dedup.fuzzyDedupSurvivors(docsDf, Dedup.jaccardPairs(docsDf, threshold = 0.7, maxDf = 10))
      .as[Long].collect().toSet
    survivors shouldBe Set(0L, 3L, 4L)
  }

  test("dup clusters: chains collapse transitively to the min doc_id") {
    val docs = (0L to 9L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // path 0-1-2-3 (endpoints linked only transitively) + isolated pair 7-8
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val out = Dedup.dupClusters(docs, pairs)
      .select("doc_id", "cluster_rep").as[(Long, Long)].collect().toMap
    Seq(0L, 1L, 2L, 3L).map(out) shouldBe Seq(0L, 0L, 0L, 0L)
    out(7L) shouldBe 7L
    out(8L) shouldBe 7L
    Seq(4L, 5L, 6L, 9L).map(out) shouldBe Seq(4L, 5L, 6L, 9L) // untouched docs self-represent
  }

  test("sequence packing: shard-local running offsets, pack break at the budget") {
    // four docs in shard 0 (ids ≡ 0 mod 32) with known token counts
    val docs = Seq(
      (0L, "a b c"), // 3 tokens: start 0 → pack 0
      (32L, Seq.fill(300)("d").mkString(" ")), // start 3 → pack 0 (overflows the 256 boundary)
      (64L, "e f"), // start 303 → pack 1
      (96L, "g") // start 305 → pack 1
    ).toDF("doc_id", "text")
    val out = Pipeline.packSequences(docs, budget = 256)
      .select("doc_id", "shard", "n_tokens", "start_offset", "pack_id")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    out.map(_._2).toSet shouldBe Set(0L) // all in shard 0
    out.map(r => (r._1, r._4, r._5)).toSeq shouldBe Seq(
      (0L, 0L, 0L), (32L, 3L, 0L), (64L, 303L, 1L), (96L, 305L, 1L))
  }

  test("FFD packing: decreasing first-fit placement, whole docs, truncation, new-bin opening") {
    // one shard (ids ≡ 0 mod 32), cap 100. Sorted by (len desc, id):
    // 0:60, 32:50, 64:40, 96:30, 128:10, 160:110→truncated 100
    // scan: 160(100)→bin0 full; 0(60)→bin1; 32(50)→bin2(60+50>100);
    // 64(40)→bin1 (60+40=100); 96(30)→bin2 (50+30=80); 128(10)→bin2 (90)
    def doc(n: Int) = Seq.fill(n)("w").mkString(" ")
    val docs = Seq((0L, doc(60)), (32L, doc(50)), (64L, doc(40)),
      (96L, doc(30)), (128L, doc(10)), (160L, doc(110)))
      .toDF("doc_id", "text")
    val out = Pipeline.packFirstFitDecreasing(docs, cap = 100, shards = 32)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    out shouldBe Seq(
      (0L, 0L, 60L, 1L, 1L), (32L, 0L, 50L, 2L, 2L), (64L, 0L, 40L, 1L, 1L),
      (96L, 0L, 30L, 2L, 2L), (128L, 0L, 10L, 2L, 2L), (160L, 0L, 100L, 0L, 0L))
    // contract: no bin exceeds cap, every doc appears exactly once
    val loads = out.groupBy(_._5).map { case (_, ds) => ds.map(_._3).sum }
    loads.max should be <= 100L
    out.map(_._1).toSet shouldBe docs.select("doc_id").as[Long].collect().toSet
  }

  test("FFD packing beats the p20 bucketed-batching efficiency on the same corpus") {
    // realistic mixed lengths across several shards
    val rnd = new scala.util.Random(7)
    val docs = (0L until 120L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(128))("w").mkString(" "))
    }.toDF("doc_id", "text")
    val ffd = Pipeline.packFirstFitDecreasing(docs, cap = 128, shards = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val ffdTokens = ffd.map(_._3).sum
    val ffdPadded = ffd.map(_._5).distinct.size.toLong * 128
    // p20's power-of-two bucketed batching on the same docs and top cap
    val pad = Pipeline.paddingEfficiency(docs, Seq(16, 32, 64, 128))
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    val bucketEffE6 = pad.map(_._3).sum * 1000000L / pad.map(_._4).sum
    val ffdEffE6 = ffdTokens * 1000000L / ffdPadded
    // same real-token mass, packed into fewer padded slots
    ffdEffE6 should be >= bucketEffE6
    ffd.groupBy(_._5).map { case (_, ds) => ds.map(_._3).sum }.max should be <= 128L
  }

  test("stratified sample: per-language quota with deterministic quality ranking") {
    val docs = Seq(
      (0L, "the of and to in it is was"), // en
      (1L, "the and of it is"), // en, shorter → lower quality
      (2L, "el la de los y en un"), // es
      (3L, "der die und das ist") // de
    ).toDF("doc_id", "text")
    val out = Pipeline.stratifiedSample(docs, quota = 1)
      .select("doc_id", "lang", "rank").as[(Long, String, Long)].collect()
    out.map(_._3).toSet shouldBe Set(1L) // exactly the per-stratum winner
    out.map(_._2).sorted.toSeq shouldBe Seq("de", "en", "es") // one per language
    out.find(_._2 == "en").get._1 shouldBe 0L // the higher-quality en doc wins
  }

  test("dup clusters with the reliable (cluster-safe) lineage-cut strategy") {
    // On a real cluster localCheckpoint blocks die with their executor;
    // LineageCut.reliable materializes each round to the context's
    // checkpoint dir instead. (Setting the dir is session-global — later
    // LineageCut.cut calls in this JVM may also go reliable; harmless.)
    val ckpt = GraftSession.scratchDir("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    val docs = (0L to 9L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (7L, 8L)).toDF("a_id", "b_id")
    val out = Dedup.dupClusters(docs, pairs, cut = graft.util.LineageCut.reliable)
      .select("doc_id", "cluster_rep").as[(Long, Long)].collect().toMap
    Seq(0L, 1L, 2L, 3L).map(out) shouldBe Seq(0L, 0L, 0L, 0L)
    out(7L) shouldBe 7L
    out(8L) shouldBe 7L
    // the cuts really went to the reliable dir
    graft.util.FsUtil.listDir(ckpt)(_.nonEmpty) shouldBe true
  }

  test("dup clusters: a long chain converges via pointer jumping; canonical flags are exact") {
    val n = 33L // diameter 32 — one-round min-propagation would need 32 rounds
    val docs = (0L until n).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = (0L until n - 1).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val out = Dedup.dupClusters(docs, pairs)
      .select("doc_id", "cluster_rep", "is_canonical")
      .as[(Long, Long, Boolean)].collect()
    out.foreach { case (_, rep, _) => rep shouldBe 0L }
    out.filter(_._3).map(_._1).toSeq shouldBe Seq(0L)
  }

  test("dup clusters: extreme id magnitudes converge correctly (overflow-proof changed-count fixpoint)") {
    // ids adjacent to Long.MaxValue: any label-SUM bookkeeping is deep in
    // wraparound territory here; the changed-count fixpoint must not care
    val top = Long.MaxValue
    val ids = Seq(top - 1, top - 2, top - 3, top - 4, 5L)
    val docs = ids.map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((top - 1, top - 2), (top - 2, top - 3)).toDF("a_id", "b_id")
    val out = Dedup.dupClusters(docs, pairs)
      .select("doc_id", "cluster_rep").as[(Long, Long)].collect().toMap
    out(top - 1) shouldBe top - 3
    out(top - 2) shouldBe top - 3
    out(top - 3) shouldBe top - 3
    out(top - 4) shouldBe top - 4 // isolated
    out(5L) shouldBe 5L
  }

  test("repetition score: repeated bigrams dominate, distinct text scores low, short docs zero") {
    val df = Seq(
      (0L, "spam spam spam spam spam"), // 4 bigrams, all "spam spam" → top 1.0, dup 0.75
      (1L, "one two three four five"), // 4 distinct bigrams → top 0.25, dup 0.0
      (2L, "single") // no bigrams → both 0.0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionScore(df)
      .orderBy("doc_id")
      .as[(Long, Double, Double)].collect().toSeq
    out shouldBe Seq((0L, 1.0, 0.75), (1L, 0.25, 0.0), (2L, 0.0, 0.0))
  }

  test("pii redaction replaces emails and phone shapes, counts matches, leaves clean text alone") {
    val df = Seq(
      (0L, "reach me at jane.doe+spam@mail.example.org or 555-0199 thanks"),
      (1L, "no identifiers in this row at all")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(df).orderBy("doc_id")
      .as[(Long, Long, String)].collect().toSeq
    out(0) shouldBe ((0L, 2L, "reach me at [EMAIL] or [PHONE] thanks"))
    out(1) shouldBe ((1L, 0L, "no identifiers in this row at all"))
  }

  test("decontamination: planted eval n-gram flags its training doc, clean docs stay clean") {
    val eval_ = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val train = Seq(
      (0L, "prefix words then alpha beta gamma delta epsilon inside the doc"), // shares 5-grams
      (1L, "alpha beta gamma but the run stops short of five shared tokens"),
      (2L, "entirely unrelated content about storage engines and buffer pools")
    ).toDF("doc_id", "text")
    val out = graft.operators.Pipeline.contamination(train, eval_)
      .select("doc_id", "n_shared", "contaminated")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // doc 0 contains "alpha beta gamma delta epsilon" — exactly one shared 5-gram
    out shouldBe Seq((0L, 1L, true), (1L, 0L, false), (2L, 0L, false))
  }

  test("quality sample keeps the top fraction by score with doc_id tie-breaks") {
    val df = Seq(
      (0L, base), // quality ≈ 0.475 (length + stopword + diversity blend)
      (1L, nearDup), // identical blend → exact tie with doc 0
      (2L, "a"), // all-stopword: 0.004 + 0.3·1.0 + 0.3·1.0 ≈ 0.604 — highest
      (3L, "b c") // no stopwords, tiny: ≈ 0.308 — lowest
    ).toDF("doc_id", "text")
    val kept = graft.operators.Pipeline.qualitySample(df, 0.5)
      .select("doc_id").as[Long].collect().toSet
    // ceil(4 · 0.5) = 2: doc 2 wins outright; the 0/1 tie breaks to doc 0
    kept shouldBe Set(2L, 0L)
  }

  test("weighted sample: keep set is exactly coin < quality-micros; seeded re-roll is deterministic") {
    val df = Seq(
      (0L, base), (1L, nearDup), (2L, "a"), (3L, "b c"), (4L, ""),
      (5L, "the a is of and to in it with for on"), // all stopwords — high blend
      (6L, "zq xv wk jm pn bt cr dl fh gs")) // no stopwords, no repeats
      .toDF("doc_id", "text")
    // expected: replicate the integer coin and recover micros from the
    // scored quality (quality ≡ micros/1e6 exactly, so the round-trip is exact)
    val micros = TextAnalysis.qualityScore(df)
      .as[(Long, Double)].collect()
      .map { case (id, q) => id -> math.round(q * 1e6) }.toMap
    def coin(id: Long, seed: Long): Long =
      (((id + seed) * 2654435761L) % 4294967296L) % 1000000L
    val expected = micros.keySet.filter(id => coin(id, 0L) < micros(id))
    val got = graft.operators.Pipeline.weightedSample(df)
      .select("doc_id").as[Long].collect().toSet
    got shouldBe expected
    // the empty doc (quality 0) can never be kept
    got should not contain 4L
    // same seed → identical; the re-roll obeys the same rule under its seed
    graft.operators.Pipeline.weightedSample(df)
      .select("doc_id").as[Long].collect().toSet shouldBe got
    graft.operators.Pipeline.weightedSample(df, seed = 7L)
      .select("doc_id").as[Long].collect().toSet shouldBe
      micros.keySet.filter(id => coin(id, 7L) < micros(id))
    // narrow map: no exchange anywhere in the scoring plan
    graft.operators.Pipeline.weightedSample(df)
      .queryExecution.executedPlan.toString should not include "Exchange"
  }

  test("quality classifier: class-exclusive tokens get signed weights; score is the exact weight sum; scoring plan has no shuffle") {
    // "a"-style all-stopword docs blend ≥ 0.5 (positive class); the
    // no-stopword no-repeat docs land well under it (negative class)
    val df = Seq(
      (0L, "the a is of and to in it with for on"),
      (1L, "the a is of and to in it with for at"),
      (2L, "zq xv wk jm pn bt cr dl fh gs"),
      (3L, "zq xv wk jm pn bt cr dl fh gt"))
      .toDF("doc_id", "text")
    val wts = TextAnalysis.trainQualityClassifier(df)
    val w = wts.as[(String, Long)].collect().toMap
    // sanity: both classes non-empty under the 0.5 threshold
    val q = TextAnalysis.qualityScore(df).as[(Long, Double)].collect().toMap
    q(0L) should be >= 0.5
    q(2L) should be < 0.5
    // a token seen only in positive docs weighs positive; only-negative, negative
    w("of") should be > 0L
    w("zq") should be < 0L
    // score = exact sum of the doc's token weights (shared tokens included)
    val scored = TextAnalysis.scoreWithClassifier(df, wts)
    val s = scored.as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._2).toMap
    val toks0 = "the a is of and to in it with for on".split(" ")
    s(0L) shouldBe toks0.map(t => w.getOrElse(t, 0L)).sum
    scored.as[(Long, Long, Boolean)].collect()
      .foreach { case (_, sc, hq) => hq shouldBe sc > 0L }
    // the positive-class doc scores above the negative-class doc
    s(0L) should be > s(2L)
    // scoring is a narrow codegen map: no exchange, no join in the plan
    val plan = scored.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should not include "Join"
  }

  test("perplexity buckets: value-ordered head/middle/tail partition on the t16 scores") {
    // reuse the shared corpus plus distinct-fluency docs so scores spread
    val df = docsDf.unionByName(Seq(
      (10L, "the the the the the the the the"), // highly predictable
      (11L, "assorted rare lexemes confound bigram predictors thoroughly"))
      .toDF("doc_id", "text"))
    val out = graft.operators.Pipeline.perplexityBuckets(df)
      .as[(Long, Double, String)].collect()
    out.map(_._3).toSet shouldBe Set("head", "middle", "tail")
    // a partition: every scored doc in exactly one bucket
    out.map(_._1).distinct.length shouldBe out.length
    // value-ordered: max(head) <= min(middle), max(middle) <= min(tail)
    def scores(b: String) = out.filter(_._3 == b).map(_._2)
    scores("head").max should be <= scores("middle").min
    scores("middle").max should be <= scores("tail").min
    // thresholds broadcast: the bucketing pass carries no sort-merge join
    graft.operators.Pipeline.perplexityBuckets(df)
      .queryExecution.executedPlan.toString should not include "SortMergeJoin"
  }

  test("temperature mix: rare sources keep whole, dominant ones thin toward the sqrt profile") {
    // 90% of tokens in 'big', 10% in 'small' (uniform doc length) →
    // tempered shares 0.75/0.25 → kf_small = min(1, 0.5·0.25/0.1) = 1,
    // kf_big = 0.5·0.75/0.9 ≈ 0.4167
    val df = (0L until 100L).map(i =>
      (i, if (i < 90) "big" else "small", "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "source", "text")
    val kept = graft.operators.Pipeline.temperatureMix(df)
      .select("doc_id", "source").as[(Long, String)].collect()
    kept.count(_._2 == "small") shouldBe 10 // capped at 1: never upsampled, all kept
    val bigKept = kept.count(_._2 == "big")
    bigKept should be < 50 // thinned well under natural share
    bigKept should be > 25 // but near the tempered 0.4167 target
    // deterministic: identical keep set on re-run
    graft.operators.Pipeline.temperatureMix(df)
      .select("doc_id").as[Long].collect().sorted shouldBe
      kept.map(_._1).sorted
    // corpus side joins the broadcast fractions — never a sort-merge join
    val plan = graft.operators.Pipeline.temperatureMix(df)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("gopher rules: each threshold fires on its boundary; pass is the conjunction") {
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ") + " the be" // 52 tokens, letters, stopwords
    val df = Seq(
      (0L, fifty), // all rules pass
      (1L, (1 to 49).map(_ => "the be to of and").mkString(" ")), // 245 tokens but mean len 2.6 < 3
      (2L, "too short to pass the word count rule"), // n < 50
      (3L, fifty + " ##########"), // 53 tokens, 10 hashes > 0.1·53? 10·10=100 > 53 → symbol fail
      (4L, (1 to 60).map(i => s"$i").mkString(" "))) // digits only: alpha + stopword fail
      .toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.gopherRules(df)
      .as[(Long, Long, Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    out(0L)._8 shouldBe true // pass
    out(1L)._4 shouldBe false // word_length_ok fails (mean 2.6)
    out(2L)._3 shouldBe false // word_count_ok fails
    out(3L)._5 shouldBe false // symbol_ratio_ok fails
    out(4L)._6 shouldBe false // alpha_ratio_ok fails
    out(4L)._7 shouldBe false // stopword_ok fails
    // pass = conjunction, everywhere
    out.values.foreach { r =>
      r._8 shouldBe (r._3 && r._4 && r._5 && r._6 && r._7) }
  }

  test("data card: planted duplicates and the HALF_UP rates roll up per source") {
    val df = Seq(
      (0L, "sa", base), (1L, "sa", base), // exact dup pair in sa
      (2L, "sa", nearDup), (3L, "sa", "completely different words entirely"),
      (4L, "sb", "the quick brown fox jumps"),
      (5L, "sb", "the quick brown fox jumps")) // dup pair in sb
      .toDF("doc_id", "source", "text")
    val card = graft.operators.Quality.dataCard(df)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    card("sa")._2 shouldBe 4 // n_docs
    // one of sa's four docs is a non-canonical duplicate → 1/4 = 250000
    card("sa")._6 shouldBe 250000L
    // one of sb's two docs is → 1/2 = 500000
    card("sb")._6 shouldBe 500000L
    // mean quality equals the HALF_UP integer mean of per-doc micros
    val micros = graft.operators.TextAnalysis.qualityScore(df.where($"source" === "sb"))
      .as[(Long, Double)].collect().map(r => math.round(r._2 * 1e6))
    card("sb")._4 shouldBe (micros.sum + micros.length / 2) / micros.length
  }

  test("semantic contamination: planted copies flag at cos 1.0; organic background silent; shuffle-free") {
    val evalVecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val train = Seq(
      (10L, Array(1f, 0f, 0f, 0f)), // exact copy of eval 0
      (11L, Array(0f, 0.2f, 0.98f, 0f)), // near eval 1? cos ≈ 0.2 — silent
      (12L, Array(0f, 0.97f, 0.1f, 0.1f))) // cos vs eval 1 ≈ 0.985 — flags
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .semanticContamination(train, evalVecs, threshold = 0.95)
    val got = out.as[(Long, Long, Double)].collect().sortBy(_._1)
    got.map(r => (r._1, r._2)) shouldBe Array((10L, 0L), (12L, 1L))
    got.head._3 shouldBe 1.0
    val plan = out.queryExecution.executedPlan.toString
    plan should not include "Exchange"
    plan should not include "Join"
  }

  test("knn label propagation: planted geometry labels correctly in a join-free plan") {
    // seeds: two axis-aligned clusters with distinct labels
    val seeds = Seq(
      (0L, 0L, Array(1f, 0f, 0f, 0f)),
      (1L, 0L, Array(0.9f, 0.1f, 0f, 0f)),
      (2L, 1L, Array(0f, 0f, 1f, 0f)),
      (3L, 1L, Array(0f, 0.1f, 0.9f, 0f)))
      .toDF("vec_id", "label", "embedding")
    // targets: one near each cluster, one equidistant (its top-2 is one
    // seed from each cluster — a 1-1 vote tie → the smallest label wins)
    val corpus = Seq(
      (10L, Array(0.95f, 0.05f, 0f, 0f)), // cluster 0
      (11L, Array(0f, 0.05f, 0.95f, 0f)), // cluster 1
      (12L, Array(0.5f, 0f, 0.5f, 0f))) // equidistant
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .knnLabelPropagation(corpus, seeds, k = 2)
    val got = out.as[(Long, Long, Long)].collect().sortBy(_._1)
    got.map(r => (r._1, r._2, r._3)) shouldBe Array(
      (10L, 0L, 2L), (11L, 1L, 2L), (12L, 0L, 1L))
    // the labeling is narrow projections — no join, no window; the only
    // exchange is the r17 core-count spread that materializes the scored
    // top-k column once per row (Spread.byKey → REPARTITION_BY_NUM)
    val plan = out.queryExecution.executedPlan.toString
    plan should not include "Join"
    plan should not include "Window"
    "Exchange hashpartitioning".r.findAllIn(
      plan.split("== Initial Plan ==").head).size should be <= 1
  }

  test("classifier maintenance: delta fold equals from-scratch retrain, vocabulary drop included") {
    val base = Seq(
      (0L, "the a is of and to in it with for on"),
      (1L, "zq xv wk jm pn bt cr dl fh gs"),
      (2L, "unique snowflake token only here")) // 'snowflake' leaves with doc 2
      .toDF("doc_id", "text")
    // an update is remove(old) + add(new): doc 1 swaps gs → gt
    val added = Seq(
      (3L, "the a is of and to in it with for at"),
      (1L, "zq xv wk jm pn bt cr dl fh gt")).toDF("doc_id", "text")
    val removedDocs = Seq(
      (2L, "unique snowflake token only here"),
      (1L, "zq xv wk jm pn bt cr dl fh gs")).toDF("doc_id", "text")
    val maintained = TextAnalysis.maintainClassifierCounts(
      TextAnalysis.classifierCounts(base), added, removedDocs)
    val effective = Seq(
      (0L, "the a is of and to in it with for on"),
      (3L, "the a is of and to in it with for at"),
      (1L, "zq xv wk jm pn bt cr dl fh gt")).toDF("doc_id", "text")
    val scratch = TextAnalysis.classifierCounts(effective)
    maintained.as[(String, Long, Long)].collect().toSet shouldBe
      scratch.as[(String, Long, Long)].collect().toSet
    // the departed token's row is GONE, not zeroed — V tracks the true vocabulary
    maintained.where($"token" === "snowflake").count() shouldBe 0
    // weights off the maintained state equal the retrain's bit-for-bit
    TextAnalysis.classifierWeights(maintained).collect().toSeq shouldBe
      TextAnalysis.classifierWeights(scratch).collect().toSeq
  }

  test("dup clusters agree with fuzzy survivors on star-shaped near-dup groups") {
    val pairs = Dedup.jaccardPairs(docsDf, threshold = 0.7, maxDf = 10).select("a_id", "b_id")
    val canonical = Dedup.dupClusters(docsDf, pairs)
      .where($"is_canonical").select("doc_id").as[Long].collect().toSet
    val survivors = Dedup.fuzzyDedupSurvivors(docsDf, Dedup.jaccardPairs(docsDf, threshold = 0.7, maxDf = 10))
      .as[Long].collect().toSet
    canonical shouldBe survivors
  }

  // ------------------------------------------------------------ similarity

  private def embDf: DataFrame = {
    val rnd = new scala.util.Random(7)
    val planted = Seq(
      (0L, Array.tabulate(16)(i => if (i == 0) 1f else 0f)),
      (1L, Array.tabulate(16)(i => if (i == 0) 2f else 0f)), // parallel to 0 → cos 1.0
      (2L, Array.tabulate(16)(i => if (i == 1) 1f else 0f)) // orthogonal to 0
    )
    val noise = (3L until 40L).map(i => i -> Array.fill(16)(rnd.nextFloat() - 0.5f))
    (planted ++ noise).toDF("vec_id", "embedding")
  }

  test("brute-force top-k: parallel vector ranks first with cos 1.0; self excluded") {
    val top = Similarity.bruteForceTopK(embDf, embDf.where($"vec_id" === 0), 5)
      .orderBy("rank").collect()
    top.head.getLong(2) shouldBe 1L
    top.head.getDouble(3) shouldBe 1.0
    top.map(_.getLong(2)) should not contain 0L
  }

  test("lsh top-k: parallel vectors always collide (same signature) and agree with exact cosine") {
    val lsh = Similarity.lshTopK(embDf, embDf.where($"vec_id" === 0), 5)
      .orderBy("rank").collect()
    lsh.head.getLong(2) shouldBe 1L // sign pattern identical → all bands collide
    lsh.head.getDouble(3) shouldBe 1.0
    // every LSH hit carries the exact cosine the brute-force path computes
    val bf = Similarity.bruteForceTopK(embDf, embDf.where($"vec_id" === 0), 39)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toMap
    lsh.foreach(r => r.getDouble(3) shouldBe bf(r.getLong(2)))
  }

  test("ivf top-k at full probe degrades exactly to brute force") {
    val q = embDf.where($"vec_id" < 3)
    val ivf = Similarity.ivfTopK(embDf, q, 5, nlist = 8, nprobe = 8)
      .orderBy("q_id", "rank").collect().toSeq
    val bf = Similarity.bruteForceTopK(embDf, q, 5)
      .orderBy("q_id", "rank").collect().toSeq
    ivf shouldBe bf
  }

  test("ivf top-k partial probe: results are exact-cosine and the parallel vector is found") {
    val ivf = Similarity.ivfTopK(embDf, embDf.where($"vec_id" === 0), 5, nlist = 8, nprobe = 2)
      .orderBy("rank").collect()
    // vectors 0 and 1 are parallel → identical cell assignment, and a query
    // always probes its own cell first → the cos-1.0 neighbor must surface
    ivf.head.getLong(2) shouldBe 1L
    ivf.head.getDouble(3) shouldBe 1.0
    // every candidate carries the same exact cosine as the brute-force path
    val bf = Similarity.bruteForceTopK(embDf, embDf.where($"vec_id" === 0), 39)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toMap
    ivf.foreach(r => r.getDouble(3) shouldBe bf(r.getLong(2)))
  }

  test("indexed ivf (parquet round-trip) equals the inline ivf at every probe width") {
    val cents = Similarity.ivfCentroids(embDf, 8)
    val dir = GraftSession.scratchDir("graft-ivfidx").toString + "/idx"
    Similarity.ivfIndex(embDf, cents).write.partitionBy("cell").parquet(dir)
    val idx = spark.read.parquet(dir)
    val q = embDf.where($"vec_id" < 3)
    for (nprobe <- Seq(2, 8)) {
      val indexed = Similarity.ivfTopKIndexed(idx, cents, q, 5, nprobe)
        .orderBy("q_id", "rank").collect().toSeq
      val inline = Similarity.ivfTopK(embDf, q, 5, nlist = 8, nprobe = nprobe)
        .orderBy("q_id", "rank").collect().toSeq
      indexed shouldBe inline
    }
  }

  test("range search: full probe equals a driver-side brute-force radius scan; partial probe is a subset") {
    val cents = Similarity.ivfCentroids(embDf, 8)
    val dir = GraftSession.scratchDir("graft-rangeidx").toString + "/idx"
    Similarity.ivfIndex(embDf, cents).write.partitionBy("cell").parquet(dir)
    val idx = spark.read.parquet(dir)
    val q = embDf.where($"vec_id" < 3)
    val tau = 0.3
    val full = Similarity.rangeSearchIndexed(idx, cents, q, tau, nprobe = 8)
      .as[(Long, Long, Double)].collect().toSet
    // driver-side reference: every pair's round-6 cosine, filtered at tau
    val vecs = embDf.as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      BigDecimal(dot / (na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expect = (for {
      qid <- 0L until 3L; cid <- vecs.keys if cid != qid
      c = cos(vecs(qid), vecs(cid)) if c >= tau
    } yield (qid, cid, c)).toSet
    full shouldBe expect
    expect.nonEmpty shouldBe true
    // result sizes legitimately differ per query — the anti-top-k point:
    // at tau 0.99 the parallel pair (0,1) is mutually in-radius and the
    // orthogonal query 2 finds NOTHING (absent, not padded)
    Similarity.rangeSearchIndexed(idx, cents, q, 0.99, nprobe = 8)
      .as[(Long, Long, Double)].collect().toSet shouldBe
      Set((0L, 1L, 1.0), (1L, 0L, 1.0))
    // partial probe can only MISS in-radius neighbors, never invent them
    val partial = Similarity.rangeSearchIndexed(idx, cents, q, tau, nprobe = 2)
      .as[(Long, Long, Double)].collect().toSet
    partial.subsetOf(full) shouldBe true
  }

  test("LSH band plan: S-curve masses match a driver integral; exactly one best, min total") {
    val out = graft.operators.Dedup.lshBandPlan(spark, k = 64, thresholdE2 = 80)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    out.map(_._1) shouldBe Seq(1L, 2L, 4L, 8L, 16L, 32L)
    out.foreach { case (b, r, _, _, _, _) => b * r shouldBe 64L }
    // driver replay of the same grid integral
    val ref = out.map { case (b, r, _, _, _, _) =>
      def p(s: Double) = 1.0 - math.pow(1.0 - math.pow(s, r.toDouble), b.toDouble)
      val fp = (1 to 15).map(i => p(i / 20.0))
      val fn = (16 to 19).map(i => 1.0 - p(i / 20.0))
      (b, math.round(fp.sum / fp.size * 1e6), math.round(fn.sum / fn.size * 1e6))
    }
    out.map(t => (t._1, t._3, t._4)) shouldBe ref
    out.count(_._6) shouldBe 1
    out.find(_._6).get._5 shouldBe out.map(_._5).min
    // off-grid thresholds refuse instead of silently mis-bucketing
    an[IllegalArgumentException] should be thrownBy
      graft.operators.Dedup.lshBandPlan(spark, 64, 83)
  }

  test("shingle df profile: strata land exactly; pair bound is the closed-form C(df,2)") {
    // a hot 3-shingle "x y z" planted in 25 docs (df=25 → 21-100 stratum,
    // C(25,2)=300 pairs), a warm one in 3 (C(3,2)=3), plus unique tails
    val docs = ((0L until 25L).map(i => (i, s"x y z tail$i only$i here$i")) ++
      Seq((100L, "a b c p q"), (101L, "a b c r s"), (102L, "a b c t u")))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.shingleDfProfile(docs)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    out("df=21-100") shouldBe (("df=21-100", 1L, 25L, 300L))
    out("df=2-5")._4 shouldBe 3L // "a b c": C(3,2)
    out("df=1")._4 shouldBe 0L // singletons generate no pairs
  }

  test("dedup ROI: size histogram and keep-one savings charge only non-canonical members") {
    val docs = Seq((1L, 100L), (2L, 10L), (3L, 20L), (4L, 7L), (5L, 5L), (6L, 999L))
      .toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("doc_id", "cluster_rep") // doc 6 is a singleton: absent
    graft.operators.Dedup.dedupRoi(docs, clusters)
      .as[(Long, Long, Long)].collect().toSeq shouldBe Seq(
      (2L, 1L, 5L), // {4,5}: member 5's 5 chars reclaim; rep 4 stays
      (3L, 1L, 30L)) // {1,2,3}: members 2+3 = 10+20; the 100-char rep stays
  }

  test("padding efficiency: cap boundaries land exactly; over-cap docs truncate into the top bucket") {
    val docs = Seq(
      (0L, Seq.fill(16)("w").mkString(" ")), // exactly at the 16 cap
      (1L, Seq.fill(17)("w").mkString(" ")), // one over → 32 bucket
      (2L, Seq.fill(10)("w").mkString(" ")),
      (3L, Seq.fill(200)("w").mkString(" ")) // over top cap → clipped to 128
    ).toDF("doc_id", "text")
    val out = Pipeline.paddingEfficiency(docs)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    out shouldBe Seq(
      // (cap, n_docs, sum_tokens, padded, waste, eff_e6)
      (16L, 2L, 26L, 32L, 6L, 812500L),
      (32L, 1L, 17L, 32L, 15L, 531250L),
      (128L, 1L, 128L, 128L, 0L, 1000000L)) // truncated: full cap, zero waste
    // ascending-distinct caps contract
    an[IllegalArgumentException] should be thrownBy
      Pipeline.paddingEfficiency(docs, Seq(32, 16))
  }

  test("readability: closed-form Flesch micros, sentence fallback, tokenless doc reports null") {
    val docs = Seq(
      // 6 words, 2 sentences, 6 vowel runs:
      // 206835000 − (1015000·6)//2 − (84600000·6)//6 = 119190000 → easy
      (0L, "The cat sat. The dog ran!"),
      // no sentence punctuation → the min-1 fallback, not a div-by-zero
      (1L, "strengths rhythms myths"), // 3 words, 1 sentence, 3 vowel runs (e, y, y)
      (2L, "???") // tokenless: null score, null band
    ).toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.readability(docs)
      .as[(Long, Long, Long, Long, Option[Long], Option[String])].collect().toSeq
    got(0) shouldBe ((0L, 6L, 2L, 6L, Some(119190000L), Some("easy")))
    // 206835000 − (1015000·3)//1 − (84600000·3)//3 = 119190000 → easy
    got(1) shouldBe ((1L, 3L, 1L, 3L, Some(119190000L), Some("easy")))
    got(2) shouldBe ((2L, 0L, 1L, 0L, None, None))
  }

  test("code profile: code flags on either signal, prose stays clean, empty doc safe") {
    val code = "def f(x):\n  if (x > 0) {\n    return x[0];\n  }\n"
    val indentOnly = "poem line one\n  indented verse two\n  indented verse three\n"
    val prose = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((0L, code), (1L, indentOnly), (2L, prose), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.codeProfile(docs)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    byId(0L)._6 shouldBe true // symbol density AND indentation
    byId(0L)._2 shouldBe 10L // (, ), (, >, ), {, [, ], ;, } — exact
    byId(1L)._6 shouldBe true // indentation alone (2 of 4 lines ≥ 30%)
    byId(1L)._2 shouldBe 0L
    byId(2L) shouldBe ((2L, 0L, 0L, 1L, 0L, false))
    byId(3L) shouldBe ((3L, 0L, 0L, 1L, 0L, false)) // empty: no div-by-zero
  }

  test("epoch plan: floor-div arithmetic, over-cap flag, unlisted sources visible at weight 0") {
    val docs = Seq(
      (0L, Seq.fill(100)("w").mkString(" "), "a"), // a: 100 tokens available
      (1L, Seq.fill(10)("w").mkString(" "), "b"), // b: 10 tokens — will over-epoch
      (2L, Seq.fill(50)("w").mkString(" "), "c") // c: unlisted in the spec
    ).toDF("doc_id", "text", "source")
    val out = Pipeline.mixtureEpochPlan(docs,
        Map("a" -> 600000L, "b" -> 400000L), budgetTokens = 1000L)
      .as[(String, Long, Long, Long, Option[Long], Boolean)].collect().toSeq
    out shouldBe Seq(
      // a: plan 600 of 100 available → 6 epochs, over the 4-epoch cap
      ("a", 100L, 600000L, 600L, Some(6000000L), true),
      // b: plan 400 of 10 → 40 epochs, flagged
      ("b", 10L, 400000L, 400L, Some(40000000L), true),
      // c: in the corpus, not the spec — visible at weight 0, no flag
      ("c", 50L, 0L, 0L, Some(0L), false))
    an[IllegalArgumentException] should be thrownBy
      Pipeline.mixtureEpochPlan(docs, Map("a" -> 1L), 10L) // weights ≠ 1e6
    // a spec'd source with NO corpus rows must SURFACE flagged, not vanish
    val ghost = Pipeline.mixtureEpochPlan(docs,
        Map("a" -> 500000L, "nosuch" -> 500000L), budgetTokens = 1000L)
      .as[(String, Long, Long, Long, Option[Long], Boolean)].collect()
      .map(r => r._1 -> r).toMap
    ghost("nosuch") shouldBe (("nosuch", 0L, 500000L, 500L, None, true))
  }

  test("zipf check: perfect 1/rank corpus scores 10^6 at every rank; deficit floors down") {
    // freqs a:4 b:2 c:1 — ranks 1,2,3; rank·freq = 4,4,3 vs f1 = 4
    val docs = Seq((0L, "a a a a b b c")).toDF("doc_id", "text")
    val out = TextAnalysis.zipfCheck(docs, k = 3)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    out shouldBe Seq(
      (1L, "a", 4L, 4L, 1000000L),
      (2L, "b", 2L, 4L, 1000000L),
      (3L, "c", 1L, 3L, 750000L))
  }

  test("revenue concentration: closed-form deciles with revenue ties broken by custkey") {
    val ts = java.sql.Timestamp.valueOf("1995-03-01 00:00:00")
    // 10 customers, one order each: revenues 100,90,...,10 — decile k
    // holds exactly one customer; total 550.00
    val orders = (1 to 10).map(i =>
      (i.toLong, (110 - i * 10).toDouble, ts))
      .toDF("o_custkey", "o_totalprice", "o_orderdate")
    val out = graft.operators.Relational.revenueConcentration(orders)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    out.size shouldBe 10
    out.head shouldBe ((1L, 1L, 10000L, 181818L, 181818L)) // 100/550 floored
    out.last._1 shouldBe 10L
    out.last._5 shouldBe 1000000L // cumulative closes exactly
    out.map(_._2).sum shouldBe 10L
    out.map(_._3).sum shouldBe 55000L
  }

  test("rfm segments: rank-based quintiles, recency polarity, whole-day recency vs corpus hwm") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // 5 customers designed so the three axes DISAGREE:
    // cust 1: most recent (hwm day), 1 order, cheap   → r5 f? m?
    // cust 5: most stale, 5 orders, most spend        → r1 f5 m5
    // freq: c1=1, c2=2, c3=3, c4=4, c5=5 → scores 1..5 exactly
    // monetary ascending with freq (cheap→rich): same 1..5
    // recency: last days 1995-03-05 (c1) … 03-01 (c5): c5 stalest → r1
    val orders = (1 to 5).flatMap { c =>
      (1 to c).map(k => (c.toLong, 10.0 * c, ts(s"1995-03-0${6 - c}")))
    }.toDF("o_custkey", "o_totalprice", "o_orderdate")
    val out = graft.operators.Relational.rfmSegments(orders)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // segments: each customer unique on all axes; recency score runs
    // OPPOSITE to freq/monetary: cust c → (6−c, c, c)
    out shouldBe (1 to 5).map { c =>
      ((6 - c).toLong, c.toLong, c.toLong, 1L, (1000L * c * c))
    }.sortBy(t => (t._1, t._2, t._3))
  }

  test("yoy growth: exact cents, first-year null, negative growth truncates toward zero") {
    val nation = Seq((1, "ALPHA"), (2, "BETA")).toDF("n_nationkey", "n_name")
    val customer = Seq((10L, 1), (20L, 2)).toDF("c_custkey", "c_nationkey")
    val ts = (y: Int) => java.sql.Timestamp.valueOf(s"$y-03-01 00:00:00")
    val orders = Seq(
      (10L, 3.00, ts(1995)), (10L, 4.50, ts(1996)), // ALPHA: 300 → 450 cents
      (20L, 3.00, ts(1995)), (20L, 2.00, ts(1996)) // BETA: 300 → 200 cents
    ).toDF("o_custkey", "o_totalprice", "o_orderdate")
    val out = graft.operators.Relational.yoyGrowth(orders, customer, nation)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]),
        Option(r.get(4)).map(_.asInstanceOf[Long]))).toSeq
    out shouldBe Seq(
      ("ALPHA", 1995, 300L, None, None), // first year: null, not 0
      ("ALPHA", 1996, 450L, Some(300L), Some(500000L)),
      ("BETA", 1995, 300L, None, None),
      // −100·10⁶/300 = −333333.3 → −333333 (truncated toward zero, the
      // DuckDB // parity this entry exists to pin)
      ("BETA", 1996, 200L, Some(300L), Some(-333333L)))
  }

  test("pre-filtered ivf: exact under the predicate at full probe; post-filter demonstrably under-fills") {
    val labeled = embDf.withColumn("label", ($"vec_id" % 2).cast("int"))
    val cents = Similarity.ivfCentroids(labeled, 8)
    val dir = GraftSession.scratchDir("graft-ivffilt").toString + "/idx"
    Similarity.ivfIndex(labeled, cents).write.partitionBy("cell").parquet(dir)
    val idx = spark.read.parquet(dir)
    // the index carries the metadata column — filtering is a pushed scan
    // predicate, never a corpus re-join
    idx.columns should contain("label")
    val q = embDf.where($"vec_id" === 0)
    // full probe + predicate ≡ brute force over the filtered corpus
    val filtered = Similarity.ivfFilteredTopKIndexed(idx, cents, q, 5,
      nprobe = 8, $"label" === 0).orderBy("rank").collect().toSeq
    val bfFiltered = Similarity.bruteForceTopK(
      embDf.where($"vec_id" % 2 === 0), q, 5).orderBy("rank").collect().toSeq
    filtered shouldBe bfFiltered
    // the post-filter strategy under-fills: the unfiltered top-1 is the
    // parallel vector 1 (cos 1.0, label 1), so filtering AFTER a k=1 search
    // returns zero label-0 rows — while the pre-filtered search returns the
    // best matching row
    val post = Similarity.ivfTopKIndexed(idx, cents, q, 1, nprobe = 8)
      .where($"vec_id" % 2 === 0).collect()
    post shouldBe empty
    val pre = Similarity.ivfFilteredTopKIndexed(idx, cents, q, 1,
      nprobe = 8, $"label" === 0).collect()
    pre should have length 1
  }

  test("ivf append against the frozen codebook equals a full rebuild — index rows and probe results") {
    val base = embDf.where($"vec_id" < 20)
    val batch = embDf.where($"vec_id" >= 20)
    val cents = Similarity.ivfCentroids(base, 8) // codebook frozen at index build
    val dir = GraftSession.scratchDir("graft-ivfapp").toString + "/idx"
    Similarity.ivfIndex(base, cents).write.partitionBy("cell").parquet(dir)
    Similarity.ivfAppend(batch, cents, dir)
    val appended = spark.read.parquet(dir)
    // row-identical to rebuilding over the union with the same codebook
    val rebuilt = Similarity.ivfIndex(embDf, cents)
    appended.select("vec_id", "cell").orderBy("vec_id").collect().toSeq shouldBe
      rebuilt.select("vec_id", "cell").orderBy("vec_id").collect().toSeq
    // probe results equal the rebuilt index's at partial and full probe
    val q = embDf.where($"vec_id" < 3)
    for (nprobe <- Seq(2, 8)) {
      val viaAppend = Similarity.ivfTopKIndexed(appended, cents, q, 5, nprobe)
        .orderBy("q_id", "rank").collect().toSeq
      val viaRebuild = Similarity.ivfTopKIndexed(rebuilt, cents, q, 5, nprobe)
        .orderBy("q_id", "rank").collect().toSeq
      viaAppend shouldBe viaRebuild
    }
  }

  test("ivf delete: masked read ≡ compacted ≡ rebuild; compaction touches only affected cells") {
    val cents = Similarity.ivfCentroids(embDf, 8)
    val dir = GraftSession.scratchDir("graft-ivfdel").toString + "/idx"
    Similarity.ivfIndex(embDf, cents).write.partitionBy("cell").parquet(dir)
    val q = embDf.where($"vec_id" === 0)
    // delete the parallel vector (the unfiltered top-1) plus some noise
    val dead = Set(1L, 5L, 6L)
    val deadCells = spark.read.parquet(dir)
      .where($"vec_id".isin(dead.toSeq: _*))
      .select("cell").distinct().as[Int].collect().toSet
    def cellFiles(): Map[String, Set[(String, Long)]] =
      graft.util.FsUtil.listDir(java.nio.file.Paths.get(dir))(_.filter(p =>
          p.getFileName.toString.startsWith("cell=")).map { p =>
        p.getFileName.toString -> graft.util.FsUtil.listDir(p)(_.map(f =>
          (f.getFileName.toString, java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet)
      }.toMap)
    val before = cellFiles()
    Similarity.ivfDelete(embDf.where($"vec_id".isin(dead.toSeq: _*)).select("vec_id"), dir)
    // a plain read never sees the underscore-prefixed tombstone table
    spark.read.parquet(dir).count() shouldBe 40
    // masked read drops exactly the tombstoned rows, pre-compaction
    val masked = Similarity.ivfTopKIndexed(Similarity.ivfReadIndex(spark, dir),
      cents, q, 5, nprobe = 8).orderBy("rank").collect().toSeq
    val rebuilt = Similarity.ivfTopKIndexed(
      Similarity.ivfIndex(embDf.where(!$"vec_id".isin(dead.toSeq: _*)), cents),
      cents, q, 5, nprobe = 8).orderBy("rank").collect().toSeq
    masked shouldBe rebuilt
    masked.map(_.getLong(2)) should not contain 1L
    // physical compaction: only the tombstoned rows' cells are rewritten
    Similarity.ivfCompact(spark, dir) shouldBe deadCells.size
    val after = cellFiles()
    before.keySet.filterNot(k => deadCells.contains(k.stripPrefix("cell=").toInt))
      .foreach(k => after(k) shouldBe before(k)) // untouched dirs byte-for-byte alone
    spark.read.parquet(dir).where($"vec_id".isin(dead.toSeq: _*)).count() shouldBe 0
    val compacted = Similarity.ivfTopKIndexed(Similarity.ivfReadIndex(spark, dir),
      cents, q, 5, nprobe = 8).orderBy("rank").collect().toSeq
    compacted shouldBe rebuilt
    // tombstones cleared: a second compaction is a no-op
    Similarity.ivfCompact(spark, dir) shouldBe 0
    // emptying a whole cell drops its directory
    val victimCell = spark.read.parquet(dir).groupBy("cell").count()
      .orderBy("count", "cell").select("cell").as[Int].head()
    val victims = spark.read.parquet(dir).where($"cell" === victimCell)
      .select("vec_id").as[Long].collect().toSeq
    Similarity.ivfDelete(embDf.where($"vec_id".isin(victims: _*)).select("vec_id"), dir)
    Similarity.ivfCompact(spark, dir) shouldBe 1
    java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, s"cell=$victimCell")) shouldBe false
    spark.read.parquet(dir).count() shouldBe (40 - dead.size - victims.size)
  }

  test("ivf small-file compaction: accreted appends collapse to one file per hot cell, search identical, cold cells untouched") {
    val cents = Similarity.ivfCentroids(embDf, 8)
    val dir = GraftSession.scratchDir("graft-ivfsmall").toString + "/idx"
    // base index from half the corpus, then FOUR append batches — the
    // accretion path: each append lands new files in its touched cells
    val base = embDf.where($"vec_id" < 20)
    Similarity.ivfIndex(base, cents).write.partitionBy("cell").parquet(dir)
    (0 until 4).foreach { i =>
      Similarity.ivfAppend(embDf.where($"vec_id" >= 20 && $"vec_id" % 4 === i), cents, dir)
    }
    def cellFiles(): Map[String, Set[(String, Long)]] =
      graft.util.FsUtil.listDir(java.nio.file.Paths.get(dir))(_.filter(p =>
          p.getFileName.toString.startsWith("cell=")).map { p =>
        p.getFileName.toString -> graft.util.FsUtil.listDir(p)(_.filter(
          _.getFileName.toString.endsWith(".parquet")).map(f =>
          (f.getFileName.toString, java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet)
      }.toMap)
    val before = cellFiles()
    val hot = before.filter(_._2.size > 2).keySet
    hot should not be empty // the appends really accreted files
    val q = embDf.where($"vec_id" === 0)
    val preSearch = Similarity.ivfTopKIndexed(spark.read.parquet(dir),
      cents, q, 5, nprobe = 8).orderBy("rank").collect().toSeq
    // rewrite only the hot cells, each to exactly ONE file
    Similarity.ivfCompactSmallFiles(spark, dir, maxFilesPerCell = 2) shouldBe hot.size
    val after = cellFiles()
    hot.foreach(k => after(k).size shouldBe 1) // bin-packed contract
    (before.keySet -- hot).foreach(k => after(k) shouldBe before(k)) // cold cells byte-for-byte alone
    // row-identical rewrite: search is unchanged through the compaction
    Similarity.ivfTopKIndexed(spark.read.parquet(dir), cents, q, 5, nprobe = 8)
      .orderBy("rank").collect().toSeq shouldBe preSearch
    spark.read.parquet(dir).count() shouldBe 40
    // already-packed layout: a second pass is a no-op
    Similarity.ivfCompactSmallFiles(spark, dir, maxFilesPerCell = 2) shouldBe 0
  }

  test("lloyd refinement: deterministic re-run, exact at full probe, balances organic occupancy") {
    // bit-determinism: decimal sums are order-independent, so two runs over
    // differently-partitioned input agree float-for-float
    val seed8 = Similarity.ivfCentroids(embDf, 8)
    val r1 = Similarity.lloydRefine(embDf, seed8, iters = 2)
    val r2 = Similarity.lloydRefine(embDf.repartition(7), seed8, iters = 2)
    r1 shouldBe r2
    // full probe over the refined codebook still degrades to brute force
    val q = embDf.where($"vec_id" < 3)
    val refined = Similarity.ivfTopKIndexed(Similarity.ivfIndex(embDf, r1), r1, q, 5, nprobe = 8)
      .orderBy("q_id", "rank").collect().toSeq
    val bf = Similarity.bruteForceTopK(embDf, q, 5)
      .orderBy("q_id", "rank").collect().toSeq
    refined shouldBe bf
    // the reason the operator exists: on the ORGANIC embeddings corpus the
    // refined codebook spreads cell occupancy (relative stddev over all 32
    // cells, empties included) strictly better than the hash-sampled seed
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      .select($"vec_id", $"embedding")
    def relSpread(cents: Seq[Seq[Float]]): Double = {
      val occ = Similarity.cellOccupancy(Similarity.ivfIndex(e, cents))
        .select($"n").as[Long].collect().toSeq
      val full = occ ++ Seq.fill(cents.size - occ.size)(0L)
      val mean = full.sum.toDouble / cents.size
      math.sqrt(full.map(n => (n - mean) * (n - mean)).sum / cents.size) / mean
    }
    val seed = Similarity.ivfCentroids(e, 32)
    relSpread(Similarity.lloydRefine(e, seed)) should be < relSpread(seed)
  }

  test("pq top-k: full shortlist degrades exactly to brute force; codes are m small ints") {
    val q = embDf.where($"vec_id" < 3)
    // shortlist = every non-self row → the exact re-rank IS brute force,
    // whatever the quantization error
    val pq = Similarity.pqTopK(embDf, q, 5, m = 4, codesPerSub = 8, shortlistSize = 39)
      .orderBy("q_id", "rank").collect().toSeq
    val bf = Similarity.bruteForceTopK(embDf, q, 5)
      .orderBy("q_id", "rank").collect().toSeq
    pq shouldBe bf
    // the compressed index carries exactly m codes per vector, in range
    val books = Similarity.pqCodebooks(embDf, 4, 8)
    val codes = Similarity.pqEncode(embDf, books)
      .select($"codes").as[Seq[Int]].collect()
    codes.foreach { c => c.size shouldBe 4; c.foreach(x => x should (be >= 0 and be < 8)) }
  }

  test("sq top-k: full shortlist degrades exactly to brute force; codes are bytes, recon within scale/2") {
    val q = embDf.where($"vec_id" < 3)
    val sq = Similarity.sqTopK(embDf, q, 5, shortlistSize = 39)
      .orderBy("q_id", "rank").collect().toSeq
    val bf = Similarity.bruteForceTopK(embDf, q, 5)
      .orderBy("q_id", "rank").collect().toSeq
    sq shouldBe bf
    // the index is one signed byte per dimension + (lo, scale); every
    // reconstructed component sits within half a quantization step
    val idx = Similarity.sqEncode(embDf)
    val joined = idx.join(embDf, "vec_id")
      .select($"embedding", $"codes", $"lo", $"scale").collect()
    joined.foreach { r =>
      val emb = r.getSeq[Float](0); val codes = r.getSeq[Byte](1)
      val lo = r.getFloat(2); val scale = r.getFloat(3)
      codes.size shouldBe emb.size
      emb.zip(codes).foreach { case (x, c) =>
        math.abs(lo + (c.toInt + 128) * scale.toDouble - x) should be <= scale / 2.0 + 1e-6
      }
    }
  }

  test("ivf-pq: full probe + full shortlist degrades exactly to brute force; index carries no raw vectors") {
    val q = embDf.where($"vec_id" < 3)
    val cents = Similarity.ivfCentroids(embDf, 8)
    val books = Similarity.pqCodebooks(embDf, 4, 8)
    val idx = Similarity.ivfPqIndex(embDf, cents, books)
    // the compression contract: the hot index is (id, m codes, cell) ONLY
    idx.columns.toSet shouldBe Set("vec_id", "codes", "cell")
    val out = Similarity.ivfPqTopKIndexed(idx, cents, books, embDf, q, 5,
        nprobe = 8, shortlistSize = 39)
      .orderBy("q_id", "rank").collect().toSeq
    val bf = Similarity.bruteForceTopK(embDf, q, 5)
      .orderBy("q_id", "rank").collect().toSeq
    out shouldBe bf
  }

  test("ivf-pq: partial probe finds a parallel vector through its shared cell and codes") {
    // vector 1 is parallel to query 0 → same nearest cell (probed first),
    // identical subspace codes (maximal ADC), survives a tight shortlist,
    // re-ranks to exact cos 1.0 at rank 1
    val cents = Similarity.ivfCentroids(embDf, 8)
    val books = Similarity.pqCodebooks(embDf, 4, 8)
    val out = Similarity.ivfPqTopKIndexed(Similarity.ivfPqIndex(embDf, cents, books), cents,
        books, embDf, embDf.where($"vec_id" === 0), 5, nprobe = 2, shortlistSize = 10)
      .orderBy("rank").collect()
    out.head.getLong(2) shouldBe 1L
    out.head.getDouble(3) shouldBe 1.0
  }

  test("pq top-k: a parallel vector shares codes with the query and survives a tight shortlist") {
    // vectors 0 and 1 are parallel → identical subspace assignments →
    // maximal ADC → must appear in even a k-deep shortlist, then re-rank
    // to cos 1.0 at rank 1
    val pq = Similarity.pqTopK(embDf, embDf.where($"vec_id" === 0), 5,
        m = 4, codesPerSub = 8, shortlistSize = 5)
      .orderBy("rank").collect()
    pq.head.getLong(2) shouldBe 1L
    pq.head.getDouble(3) shouldBe 1.0
    // every reported cosine is the exact one (re-rank reads raw vectors)
    val bf = Similarity.bruteForceTopK(embDf, embDf.where($"vec_id" === 0), 39)
      .select($"vec_id", $"cos").as[(Long, Double)].collect().toMap
    pq.foreach(r => r.getDouble(3) shouldBe bf(r.getLong(2)))
  }

  test("semantic (cell-blocked) near-dup pairs: equals the band-blocked pairs; multi-probe closes a straddle") {
    // same corpus as the banded operator: identical output
    val cents = Similarity.ivfCentroids(embDf, 8)
    val cellBlocked = Similarity.semanticNearDupPairs(embDf, cents)
      .orderBy("a_id", "b_id").collect().toSeq
    val bandBlocked = Similarity.cosineNearDupPairs(embDf)
      .orderBy("a_id", "b_id").collect().toSeq
    cellBlocked shouldBe bandBlocked
    cellBlocked.map(r => (r.getLong(0), r.getLong(1))) should contain(0L -> 1L)
    // constructed straddle: centroids at 0° and 24°, vectors at 11° and 13°
    // sit on opposite sides of the bisector — nearest cells DIFFER, so
    // single-probe blocking misses the pair (cos 0.999); probing 2 cells
    // recovers it. This is the SemDeDup recall trade, and its fix.
    def v(deg: Double) = {
      val r = math.toRadians(deg)
      Array.tabulate(16)(i =>
        if (i == 0) math.cos(r).toFloat else if (i == 1) math.sin(r).toFloat else 0f)
    }
    val straddleCents = Seq(v(0).toSeq, v(24).toSeq)
    val pair = Seq(10L -> v(11), 20L -> v(13)).toDF("vec_id", "embedding")
    Similarity.semanticNearDupPairs(pair, straddleCents, probes = 1)
      .collect() shouldBe empty
    val found = Similarity.semanticNearDupPairs(pair, straddleCents, probes = 2).collect()
    found.map(r => (r.getLong(0), r.getLong(1))).toSeq shouldBe Seq(10L -> 20L)
    found.head.getDouble(2) should be > 0.999
  }

  test("cross-corpus linkage: full probe equals brute force; no broadcast in the join-shape plan") {
    val cents = Similarity.ivfCentroids(embDf, 8)
    val a = embDf.where($"vec_id" < 5)
      .select(($"vec_id" + 1000L).as("vec_id"), $"embedding")
    // probes = nlist: every A-row reaches every cell, so the cell join
    // degrades exactly to the exact answer — brute force per A-row
    val full = Similarity.crossCorpusTopK(a, embDf, cents, k = 3, probes = 8)
      .orderBy("a_id", "rank").collect().toSeq
    val bf = Similarity.bruteForceTopK(embDf, a, 3)
      .orderBy("q_id", "rank").collect().toSeq
    full.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))) shouldBe
      bf.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the 100 TB plan shape: with broadcast disabled (neither corpus is
    // driver-sized there), the cell equi-join runs as a shuffle join on the
    // cell key — never a broadcast, never a cartesian
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Similarity.crossCorpusTopK(a, embDf, cents, k = 3)
        .queryExecution.executedPlan.toString
      plan should not include "BroadcastHashJoin"
      plan should not include "CartesianProduct"
      plan should include regex "(SortMergeJoin|ShuffledHashJoin)"
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("embedding near-dup pairs: parallel pair found, orthogonal not") {
    val pairs = Similarity.cosineNearDupPairs(embDf)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    pairs should contain(0L -> 1L)
    pairs should not contain (0L -> 2L)
  }

  // ---------------------------------------------------------- text analysis

  test("langId picks es for spanish function words, en for english") {
    val d = Seq((0L, "el perro corre por la casa y el gato duerme en la cama"),
      (1L, base)).toDF("doc_id", "text")
    val out = TextAnalysis.langId(d).orderBy("doc_id")
      .select("predicted_lang").as[String].collect()
    out shouldBe Array("es", "en")
  }

  test("token counts: whitespace words vs BPE-ish pre-tokens") {
    val d = Seq((0L, "Don't panic, it's 42 meters!"), (1L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenCounts(d).orderBy("doc_id")
      .select("n_ws_tokens", "n_bpe_tokens").as[(Int, Int)].collect()
    // ws: [Don't, panic,, it's, 42, meters!] = 5
    // bpe: [don]['t][ panic][,][ it]['s][ 42][ meters][!] = 9
    out shouldBe Array((5, 9), (0, 0))
  }

  test("pretrain pipeline: non-target-language, low-quality, and collapsed near-dups drop out") {
    // doc 5: spanish (fails the language gate); doc 2 is 0's exact dup
    // (collapses at the default 0.8 threshold); doc 1's jaccard vs 0 sits in
    // (0.7, 0.8) — near but below the default cut, so it survives
    val d = docsDf.unionByName(Seq(
      (5L, "el perro corre por la casa y el gato duerme en la cama del " +
        "vecino mientras los pajaros cantan en el jardin con las flores")).toDF("doc_id", "text"))
    val kept = graft.operators.Pipeline.pretrainCorpus(d, minQuality = 0.0)
      .select("doc_id").as[Long].collect().toSet
    kept should contain allOf (0L, 1L)
    (kept intersect Set(2L, 5L)) shouldBe empty
    // the quality gate alone removes everything at an impossible threshold
    graft.operators.Pipeline.pretrainCorpus(d, minQuality = 0.999)
      .count() shouldBe 0L
  }

  test("corpus stats: one row, exact counts, interpolated median") {
    val d = Seq((0L, "a b c"), (1L, "a b"), (2L, "a b c d e"), (3L, "a")).toDF("doc_id", "text")
    val r = TextAnalysis.corpusStats(d).collect().head
    r.getAs[Long]("n_docs") shouldBe 4
    r.getAs[Long]("total_tokens") shouldBe 11
    r.getAs[Double]("mean_tokens") shouldBe 2.75
    r.getAs[Double]("median_tokens") shouldBe 2.5 // interpolated between 2 and 3
    r.getAs[Long]("min_tokens") shouldBe 1L
    r.getAs[Long]("max_tokens") shouldBe 5L
  }

  test("hash split: deterministic, partition-layout independent, respects percentages") {
    val d = (0L until 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val once = graft.operators.Pipeline.hashSplit(d).as[(Long, String)].collect().toMap
    val again = graft.operators.Pipeline.hashSplit(d.repartition(7)).as[(Long, String)].collect().toMap
    again shouldBe once // layout-independent: pure function of doc_id
    val counts = once.values.groupBy(identity).view.mapValues(_.size).toMap
    counts("train").toDouble / 1000 shouldBe 0.9 +- 0.05
    counts("val").toDouble / 1000 shouldBe 0.05 +- 0.03
    counts("test").toDouble / 1000 shouldBe 0.05 +- 0.03
  }

  test("ngrams: counts and edges") {
    val d = Seq((0L, "a b c d")).toDF("doc_id", "text")
    val tri = d.select(TextAnalysis.ngrams(TextAnalysis.tokens($"text"), 3))
      .collect().head.getSeq[String](0)
    tri shouldBe Seq("a b c", "b c d")
    val short = Seq((0L, "a b")).toDF("doc_id", "text")
      .select(TextAnalysis.ngrams(TextAnalysis.tokens($"text"), 3))
      .collect().head.getSeq[String](0)
    short shouldBe Seq.empty
  }

  test("rolling fingerprint matches a reference implementation") {
    def refFp(text: String): Long = {
      val toks = text.toLowerCase.split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
      toks.foldLeft(0L)((acc, w) => (acc * 31L + w.map(_.toLong).sum) % 2147483647L)
    }
    val d = Seq((0L, base), (1L, "x")).toDF("doc_id", "text")
    val out = TextAnalysis.rollingFingerprint(d).orderBy("doc_id")
      .select("rolling_fp").as[Long].collect()
    out shouldBe Array(refFp(base), refFp("x"))
  }

  test("line dedup: recurring boilerplate lines drop, body order survives, all-boiler doc keeps empty hash") {
    val footer = "All Rights Reserved."
    val docs = Seq(
      (1L, s"alpha body one\n$footer\nbeta body two"),
      (2L, s"gamma body\n$footer"),
      (3L, s"delta body\n$footer"),
      (4L, s"  all rights reserved.  "), // normalizes to the footer → fully boilerplate
      (5L, "unique only")
    ).toDF("doc_id", "text")
    // footer appears in 4/5 docs > 50% threshold; nothing else recurs
    val out = graft.operators.Dedup.lineDedup(docs, maxDocFrac = 0.5)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    out shouldBe Array(
      (1L, 1L, h("alpha body one\nbeta body two")),
      (2L, 1L, h("gamma body")),
      (3L, 1L, h("delta body")),
      (4L, 1L, h("")),
      (5L, 0L, h("unique only")))
  }

  test("unigram LM: cross-entropy matches the closed-form corpus distribution") {
    // corpus: a:2 b:2 c:1, n=5
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.unigramLm(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ln25 = -math.log(2.0 / 5.0)
    val ln15 = -math.log(1.0 / 5.0)
    out(0) shouldBe (1L, BigDecimal(ln25).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    out(1) shouldBe (2L, BigDecimal((ln25 + ln15) / 2).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("salted equi-join equals the plain inner join, including duplicate keys both sides") {
    val probe = Seq((1L, "k1", 10), (2L, "k1", 20), (3L, "k2", 30), (4L, "kx", 40))
      .toDF("id", "k", "v")
    val build = Seq(("k1", "A"), ("k1", "B"), ("k2", "C"), ("ky", "D"))
      .toDF("k", "tag")
    val salted = graft.operators.Joins.saltedEquiJoin(probe, build, "k", 4, $"id")
      .select("id", "k", "v", "tag").as[(Long, String, Int, String)].collect().sorted
    val plain = probe.join(build, "k")
      .select("id", "k", "v", "tag").as[(Long, String, Int, String)].collect().sorted
    salted shouldBe plain
    plain.length shouldBe 5 // k1 rows fan out 2×2, k2 1×1, kx/ky drop
  }

  test("domain mix: over-budget sources thin by the Knuth hash, under-budget keep everything") {
    // two sources, 4 docs each, 4 tokens per doc → 16 tokens per source
    val docs = (0 until 8).map(i =>
      (i.toLong, "w x y z", if (i < 4) "big" else "small")).toDF("doc_id", "text", "source")
    // budget = 0.5 * 32 = 16 tokens; big gets share .25 → 4 tokens → frac .25;
    // small gets share 1.0 → 16 tokens ≥ its 16 → frac capped at 1 (no upsample)
    val shares = Seq(("big", 0.25), ("small", 1.0)).toDF("source", "share")
    val out = graft.operators.Pipeline.domainMix(docs, shares, budgetFrac = 0.5)
      .select("doc_id").as[Long].collect().toSet
    def bucket(id: Long) = ((id * 2654435761L) % 4294967296L) % 1000000L
    val expectBig = (0L until 4L).filter(bucket(_) < 0.25 * 1e6).toSet
    out shouldBe (expectBig ++ (4L until 8L))
  }

  test("shard export: one file per shard, balanced, deterministic bytes, manifest matches") {
    val docs = (0L until 1000L).map(i => (i, s"document body $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val root = GraftSession.scratchDir("graft-shardexp")
    val out = s"$root/corpus"
    graft.operators.Pipeline.shardExport(docs, out, shards = 8)
    def bucket(id: Long) = ((id * 2654435761L) % 4294967296L) % 8L
    // full-fidelity roundtrip with the recomputable assignment
    val back = spark.read.parquet(out)
      .select($"doc_id", $"shard".cast("long").as("shard"), $"text")
      .as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    back shouldBe (0L until 1000L).map(i => (i, bucket(i), s"document body $i"))
    // exactly one data file per shard directory
    val shardDirs = graft.util.FsUtil.listDir(java.nio.file.Paths.get(out))(
      _.filter(_.getFileName.toString.startsWith("shard=")).toSeq).sortBy(_.toString)
    shardDirs should have size 8
    def dataFiles(p: java.nio.file.Path) = graft.util.FsUtil.listDir(p)(
      _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
    shardDirs.foreach(d => dataFiles(d) should have size 1)
    // hash balance: sequential ids spread within a modest skew band
    val counts = back.groupBy(_._2).map(_._2.size)
    counts.max.toDouble / counts.min should be < 1.35
    // the manifest rides beside the data, invisible to the plain read,
    // and matches the per-shard truth
    val manifest = spark.read.parquet(s"$out/_manifest")
      .select($"shard".cast("long"), $"n_docs", $"n_chars", $"min_doc_id", $"max_doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val expected = (0L until 1000L).groupBy(bucket).toSeq.sortBy(_._1).map {
      case (sh, ids) => (sh, ids.size.toLong,
        ids.map(i => s"document body $i".length.toLong).sum, ids.min, ids.max)
    }
    manifest shouldBe expected
    // determinism: a second export is content-identical shard for shard
    val firstBytes = shardDirs.map(d =>
      java.nio.file.Files.readAllBytes(dataFiles(d).head).toSeq)
    graft.operators.Pipeline.shardExport(docs.repartition(13), out, shards = 8)
    val secondBytes = graft.util.FsUtil.listDir(java.nio.file.Paths.get(out))(
      _.filter(_.getFileName.toString.startsWith("shard=")).toSeq).sortBy(_.toString)
      .map(d => java.nio.file.Files.readAllBytes(dataFiles(d).head).toSeq)
    secondBytes shouldBe firstBytes
  }

  test("corpus takedown: purge touches only the doomed ids' shards (byte-identical to a " +
    "fresh filtered export), sweeps an emptied shard, keeps the manifest consistent") {
    val docs = (0L until 1000L).map(i => (i, s"document body $i", s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val root = GraftSession.scratchDir("graft-takedown")
    val out = s"$root/corpus"
    graft.operators.Pipeline.shardExport(docs, out, shards = 8)
    def bucket(id: Long) = ((id * 2654435761L) % 4294967296L) % 8L
    // victims: ALL of shard 3 (exercises the sweep) + two ids of shard 0
    val all = (0L until 1000L)
    val doomed = all.filter(bucket(_) == 3L) ++ all.filter(bucket(_) == 0L).take(2)
    def dataFiles(p: java.nio.file.Path) = graft.util.FsUtil.listDir(p)(
      _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
    def shardBytes(base: String, sh: Long) = dataFiles(
      java.nio.file.Paths.get(base, s"shard=$sh")).map(f =>
        java.nio.file.Files.readAllBytes(f).toSeq)
    val coldBefore = (0L until 8L).filterNot(Seq(0L, 3L).contains)
      .map(sh => sh -> shardBytes(out, sh)).toMap

    graft.operators.Pipeline.purgeShardExport(spark, out, doomed, 8) shouldBe doomed.size.toLong

    // content = docs minus doomed
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted shouldBe
      all.filterNot(doomed.contains).toArray
    // the emptied shard directory is GONE and absent from the manifest
    java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(out, "shard=3")) shouldBe false
    // cold shards byte-identical; touched shard 0 row-and-order identical
    // to a FRESH export of the filtered corpus (byte-identity to a fresh
    // export is impossible on principle: parquet read-back erases the
    // source's non-null doc_id flag, and the footer records it)
    coldBefore.foreach { case (sh, b) => shardBytes(out, sh) shouldBe b }
    val freshOut = s"$root/fresh"
    graft.operators.Pipeline.shardExport(
      docs.where(!$"doc_id".isin(doomed.map(Long.box): _*)), freshOut, shards = 8)
    def shardRows(base: String) = spark.read.parquet(s"$base/shard=0")
      .select("doc_id", "text", "source")
      .as[(Long, String, String)].collect().toSeq // file order, no re-sort
    shardRows(out) shouldBe shardRows(freshOut)
    // the purge path itself is deterministic: purging an identical copy
    // lands byte-identical touched shards
    val out2 = s"$root/corpus2"
    graft.operators.Pipeline.shardExport(docs, out2, shards = 8)
    graft.operators.Pipeline.purgeShardExport(spark, out2, doomed, 8)
    shardBytes(out2, 0L) shouldBe shardBytes(out, 0L)
    // manifest equals the fresh export's manifest row for row
    def manifest(base: String) = spark.read.parquet(s"$base/_manifest")
      .select($"shard".cast("long"), $"n_docs", $"n_chars", $"min_doc_id", $"max_doc_id")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    manifest(out) shouldBe manifest(freshOut)
    // re-purge: nothing left
    graft.operators.Pipeline.purgeShardExport(spark, out, doomed, 8) shouldBe 0L
  }

  test("mass revocation: predicate purge removes exactly the matching docs; a row " +
    "where the predicate evaluates to NULL survives (erasure only on proof)") {
    val docs = (0L until 300L).map(i =>
        (i, s"document body $i", if (i % 50 == 0) null else s"src${i % 3}"))
      .toDF("doc_id", "text", "source")
    val root = GraftSession.scratchDir("graft-revoke")
    val out = s"$root/corpus"
    graft.operators.Pipeline.shardExport(docs, out, shards = 8)
    val doomedCount = (0L until 300L).count(i => i % 50 != 0 && i % 3 == 1).toLong

    graft.operators.Pipeline.purgeShardExportWhere(
      spark, out, $"source" === "src1", 8) shouldBe doomedCount

    val back = spark.read.parquet(out)
      .select($"doc_id", $"source").as[(Long, Option[String])].collect().toSeq
    // src1 gone; NULL-source rows (predicate evaluates to null) all survive
    back.count(_._2.contains("src1")) shouldBe 0
    back.count(_._2.isEmpty) shouldBe (0L until 300L).count(_ % 50 == 0)
    back.size.toLong shouldBe 300L - doomedCount
    // manifest agrees with the purged corpus
    spark.read.parquet(s"$out/_manifest").agg(sum($"n_docs")).as[Long].head() shouldBe
      300L - doomedCount
    // nothing left to revoke
    graft.operators.Pipeline.purgeShardExportWhere(
      spark, out, $"source" === "src1", 8) shouldBe 0L
  }

  test("epoch shuffle: bijective per seed, epochs decorrelate, same seed replays byte-identically") {
    val docs = (0L until 400L).map(i => (i, s"body $i")).toDF("doc_id", "text")
    def order(seed: Long) = graft.operators.Pipeline.epochOrder(docs, shards = 4, seed)
      .select($"doc_id", $"shard", $"pos").as[(Long, Long, Int)].collect().toSeq
    val e1 = order(1L); val e2 = order(2L)
    // bijection: every doc placed once, positions dense 1..n per shard
    e1.map(_._1).sorted shouldBe (0L until 400L)
    e1.groupBy(_._2).values.foreach { sh =>
      sh.map(_._3).sorted shouldBe (1 to sh.size) }
    // a different seed is a genuinely different permutation (and not a
    // mere shard rotation: within-shard ORDER changes too)
    val m1 = e1.map(r => r._1 -> ((r._2, r._3))).toMap
    val m2 = e2.map(r => r._1 -> ((r._2, r._3))).toMap
    (0L until 400L).count(i => m1(i) == m2(i)).toDouble / 400 should be < 0.5
    // replay: the same seed exports byte-identical shard files
    val root = GraftSession.scratchDir("graft-epoch")
    val out = s"$root/epoch1"
    def dataFiles(p: java.nio.file.Path) = graft.util.FsUtil.listDir(p)(
      _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq)
    def shardBytes: Seq[Seq[Byte]] = graft.util.FsUtil.listDir(
        java.nio.file.Paths.get(out))(
        _.filter(_.getFileName.toString.startsWith("shard=")).toSeq)
      .sortBy(_.toString)
      .map(d => java.nio.file.Files.readAllBytes(dataFiles(d).head).toSeq)
    graft.operators.Pipeline.epochShuffledExport(docs, out, shards = 4, seed = 1L)
    val first = shardBytes
    graft.operators.Pipeline.epochShuffledExport(docs.repartition(7), out, shards = 4, seed = 1L)
    shardBytes shouldBe first
  }

  test("TF·IDF keywords: closed-form scores, deterministic ties, short docs rank what they have") {
    // N=3; df: x=1, y=2, z=2, common=3 → idf ln3, ln1.5, ln1.5, 0
    val docs = Seq(
      (1L, "x x y common"),
      (2L, "y z common"),
      (3L, "z common common")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.keywords(docs, k = 3)
      .orderBy("doc_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    def s(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val ln3 = math.log(3.0); val ln15 = math.log(1.5)
    out shouldBe Array(
      (1L, 1L, "x", s(2 * ln3)), (1L, 2L, "y", s(ln15)), (1L, 3L, "common", 0.0),
      // d2: y and z tie at ln1.5 → term-asc order breaks it
      (2L, 1L, "y", s(ln15)), (2L, 2L, "z", s(ln15)), (2L, 3L, "common", 0.0),
      // d3 has only two distinct terms → two rows, no padding
      (3L, 1L, "z", s(ln15)), (3L, 2L, "common", 0.0))
  }

  test("bigram LM: closed-form conditional cross-entropy; sub-2-token docs drop") {
    // corpus bigrams: "a b"×3, "b a"×1, "b c"×1 → p(b|a)=1, p(a|b)=p(c|b)=1/2
    val docs = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.bigramLm(docs).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    out shouldBe Seq(
      1L -> r4(math.log(2) / 3), // (2·0 + 1·ln2)/3
      2L -> r4(math.log(2) / 2)) // (1·0 + 1·ln2)/2; doc 3 has no bigrams
  }

  test("KN trigram LM: hand-computed interpolated probabilities; sub-3-token docs drop") {
    // corpus trigram types: "a b c"×2 (doc1), "b c a", "c a b" (doc1),
    // "a b d" (doc2) → ntypes=4, every continuation count 1, Pc = 1/4
    val docs = Seq((1L, "a b c a b c"), (2L, "a b d"), (3L, "x y"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.trigramLmKN(docs).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val D = 0.75
    // mid-order around w2=b: midtot=2 (b c / b d), fwd2=2
    val p2b = (math.max(1 - D, 0) + D * 2 * 0.25) / 2 // = 0.3125
    // around w2=c and w2=a: midtot=1, fwd2=1
    val p2one = (math.max(1 - D, 0) + D * 1 * 0.25) / 1 // = 0.4375
    val pAbc = (math.max(2 - D, 0) + D * 2 * p2b) / 3   // ctx (a,b): ccnt 3, nctx 2
    val pBca = (math.max(1 - D, 0) + D * 1 * p2one) / 1 // ctx (b,c): ccnt 1, nctx 1
    val pCab = pBca                                     // symmetric statistics
    val pAbd = (math.max(1 - D, 0) + D * 2 * p2b) / 3
    out shouldBe Seq(
      1L -> r4((2 * -math.log(pAbc) - math.log(pBca) - math.log(pCab)) / 4),
      2L -> r4(-math.log(pAbd))) // doc 3 has no trigrams → absent
  }

  test("Katz trigram LM: held-out backoff — seen = pure discounted MLE, every backoff path live") {
    // TRAIN "a b c a b c": tri abc×2, bca, cab → c23 (b,c)=2 (c,a)=1
    // (a,b)=1; c2 b=2 c=1 a=1 (n2 all 1); uni c=2 a=1 b=1, N=4 V=3 →
    // Laplace denom 8; ctx (a,b): c12=2 n12=1 s23=2; (b,c)/(c,a): 1/1/1;
    // s2 b=2 c=1 a=1. Every α here equals 1 in closed form — e.g.
    // α(b,c) = (0.75/1)/(1 − (1−0.75)/1) = 1 — so the hand arithmetic
    // isolates the PATH taken, not weight soup.
    val train = Seq((0L, "a b c a b c")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "a b c x"), // seen trigram (pure discounted MLE) + ctx-backoff→OOV
      (3L, "x y z w"), // nothing seen anywhere → unigram floor both times
      (5L, "b c a a"), // seen trigram + ctx-backoff→bigram-miss→seen unigram
      (7L, "hi")       // sub-3-token: drops
    ).toDF("doc_id", "text")
    val out = TextAnalysis.trigramLmKatz(train, score).orderBy("doc_id")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    // doc1: P(c|a,b) = (2−.75)/2 = .625 (NO lower order touched — the
    // Katz-vs-KN structural pin); P(x|b,c) = α(b,c)·α(c)·(0+1)/8 = .125
    val d1 = r4((-math.log(0.625) - math.log(0.125)) / 2)
    // doc3: both trigrams fully unseen → (0+1)/8 twice
    val d3 = r4(math.log(8.0))
    // doc5: P(a|b,c) = (1−.75)/1 = .25; P(a|c,a): ctx seen, bigram
    // (a,a) unseen → α(c,a)·α(a)·(1+1)/8 = .25
    val d5 = r4(math.log(4.0))
    out shouldBe Seq(1L -> d1, 3L -> d3, 5L -> d5)
  }

  test("norm profile: zero vectors and off-unit norms counted; in-band survives; exact micros2 stats") {
    val emb = Seq(
      (1L, Array(1f, 0f)),        // n2 = 1e12 — unit
      (2L, Array(0f, 0f)),        // zero vector
      (3L, Array(2f, 0f)),        // n2 = 4e12 — off-unit high
      (4L, Array(0.95f, 0f)),     // n2 = 0.9025e12 — inside the ±10% band
      (5L, Array(0.5f, 0.5f)))    // n2 = 0.5e12 — off-unit low
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.normProfile(emb)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().head
    val n2s = Seq(1000000000000L, 0L, 4000000000000L, 902500000000L, 500000000000L)
    out shouldBe ((5L, 2L, 1L, 3L, 0L, 4000000000000L, n2s.sum / 5))
  }

  test("encoding profile: planted mojibake/control/replacement counts; tab-newline exempt; empty doc null ppm") {
    val docs = Seq(
      (1L, "clean text here"),
      (2L, "bad \u00c3\u00a9 and \u00e2\u20ac\u009d quote"), // mojibake digraphs
      (3L, "bin\u0000\u0001ary\tok\nline"), // C0 leak; tab/newline exempt
      (4L, "admitted \ufffd damage \ufffd"),
      (5L, ""),
      (6L, "SÃO PAULO")).toDF("doc_id", "text") // legitimate bare Ã
    val out = graft.operators.TextAnalysis.encodingProfile(docs)
      .as[(Long, Long, Long, Long, Long, Option[Long], Boolean)].collect().toSeq
    val byId = out.map(r => r._1 -> r).toMap
    byId(1L) shouldBe ((1L, 15L, 0L, 0L, 0L, Some(0L), false))
    byId(2L)._5 shouldBe 2L // the two digraph heads
    byId(2L)._7 shouldBe true
    byId(3L)._4 shouldBe 2L // NUL + SOH only — \t \n exempt
    byId(4L)._3 shouldBe 2L
    byId(5L) shouldBe ((5L, 0L, 0L, 0L, 0L, None, false)) // unmeasurable ≠ clean
    // 'Ã' before a NON-continuation char is Latin script, not mojibake —
    // without the continuation-tail requirement this short clean doc
    // would cross the 1000 ppm threshold as a false positive
    byId(6L)._5 shouldBe 0L
    byId(6L)._7 shouldBe false
  }

  test("selection agreement: ranks match a driver-side sort, rho exact, slice sides balanced") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text", $"lang")
    val k = 10
    val out = graft.operators.Pipeline.selectionAgreement(
        docs, docs.where($"lang" === "en"), k)
      .as[(Long, String, Long, Long, Double, Long, Long, Long)].collect().toSeq
    // independent rank re-derivation: collect both score tables and sort
    // driver-side — validates the bucketed-prefix-sum rank path end to end
    val dsir = graft.operators.Pipeline.dsirWeights(docs, docs.where($"lang" === "en"))
      .select($"doc_id", $"logw").as[(Long, Double)].collect().toSeq
    val clf = graft.operators.TextAnalysis.scoreWithClassifier(docs,
        graft.operators.TextAnalysis.trainQualityClassifier(docs))
      .select($"doc_id", $"score_micros").as[(Long, Long)].collect().toSeq
    val dRank = dsir.sortBy { case (id, w) => (-w, id) }.map(_._1)
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val cRank = clf.sortBy { case (id, s) => (-s, id) }.map(_._1)
      .zipWithIndex.map { case (id, i) => id -> (i + 1L) }.toMap
    val n = dRank.size.toLong
    // iterate the Map as pairs — mapping over `.keys` (a Set view) would
    // collapse duplicate d² values and under-count Σd²
    val sd2 = dRank.toSeq.map { case (id, dr) => BigInt(dr - cRank(id)).pow(2) }.sum
    val rho = 1000000L - (BigInt(6) * sd2 * 1000000 / (BigInt(n).pow(3) - n)).toLong
    val overlap = dRank.keys.count(id => dRank(id) <= k && cRank(id) <= k).toLong
    val expectSlice = dRank.keys
      .filter(id => (dRank(id) <= k) != (cRank(id) <= k)).toSeq
      .map(id => (id, if (dRank(id) <= k) "dsir_only" else "clf_only",
        dRank(id), cRank(id)))
      .sortBy { case (id, side, _, _) => (side, id) }
    out.map(r => (r._1, r._2, r._3, r._4)) shouldBe expectSlice
    out.foreach { r => r._7 shouldBe rho; r._8 shouldBe overlap }
    // both selectors ship k docs, so the disagreement sides balance
    out.count(_._2 == "dsir_only") shouldBe out.count(_._2 == "clf_only")
    rho should (be >= -1000000L and be <= 1000000L)
  }

  test("temperature mix: exact isqrt at perfect-square boundaries; boosts flatten the head") {
    val docs = (
      (1 to 9).map(i => (i.toLong, "srcA")) ++
        (10 to 11).map(i => (i.toLong, "srcB")) ++
        (12 to 27).map(i => (i.toLong, "srcC")))
      .toDF("doc_id", "source").withColumn("text", lit("x"))
    val out = graft.operators.Pipeline.temperatureMixWeights(docs)
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().toSeq
    // n: A 9 (isqrt 3, perfect square), B 2 (isqrt 1), C 16 (isqrt 4);
    // wsum 8, nsum 27
    def boost(share: Long, natural: Long) =
      Some((BigInt(share) * 1000000 / natural).toLong)
    out shouldBe Seq(
      ("srcA", 9L, 3L, 375000L, 333333L, boost(375000L, 333333L)),
      ("srcB", 2L, 1L, 125000L, 74074L, boost(125000L, 74074L)),
      ("srcC", 16L, 4L, 500000L, 592592L, boost(500000L, 592592L)))
    // the recipe's point: the low-resource source gets the largest boost,
    // the dominant one is down-sampled below 1e6
    val boosts = out.map(r => r._1 -> r._6.get).toMap
    boosts("srcB") should be > boosts("srcA")
    boosts("srcC") should be < 1000000L
  }

  test("basket lift: hand-computed support/confidence/lift; same-brand dup items collapse; minSupport prunes") {
    // baskets: o1{B1,B2} (B1 twice — must collapse), o2{B1,B2}, o3{B1,B3},
    // o4{B2}, o5{B1,B2} → n=5, c(B1)=4, c(B2)=4, c(B3)=1
    val li = Seq((1L, 10L), (1L, 11L), (1L, 20L), (2L, 10L), (2L, 20L),
      (3L, 10L), (3L, 30L), (4L, 20L), (5L, 10L), (5L, 20L))
      .toDF("l_orderkey", "l_partkey")
    val part = Seq((10L, "B1"), (11L, "B1"), (20L, "B2"), (30L, "B3"))
      .toDF("p_partkey", "p_brand")
    val out = graft.operators.Relational.brandBasketLift(li, part, minSupport = 1L, k = 10)
      .as[(String, String, Long, Long, Long)].collect().toSeq
    out shouldBe Seq(
      // (B1,B3): support 1, conf 1e6/4, lift 1·5·1e6/(4·1) = 1250000
      ("B1", "B3", 1L, 250000L, 1250000L),
      // (B1,B2): support 3, conf 3e6/4, lift 3·5·1e6/(4·4) = 937500
      ("B1", "B2", 3L, 750000L, 937500L))
    // minSupport 2 prunes the singleton pair
    graft.operators.Relational.brandBasketLift(li, part, minSupport = 2L, k = 10)
      .as[(String, String, Long, Long, Long)].collect().toSeq shouldBe
      Seq(("B1", "B2", 3L, 750000L, 937500L))
  }

  test("rollup report: one pass yields exact per-nation subtotals and the grand total") {
    val li = Seq((1L, 100.0, 0.0), (2L, 200.0, 0.5)).toDF("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Seq((1L, 10L, java.sql.Timestamp.valueOf("1995-06-01 00:00:00")),
      (2L, 20L, java.sql.Timestamp.valueOf("1996-06-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Seq((10L, 1), (20L, 2)).toDF("c_custkey", "c_nationkey")
    val nat = Seq((1, "NATION_A"), (2, "NATION_B")).toDF("n_nationkey", "n_name")
    val out = graft.operators.Relational.nationRevenueRollup(cust, ord, li, nat)
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), r.getDouble(2), r.getLong(3)))
    out.toSeq shouldBe Seq(
      (None, None, 200.0, 2L),                        // grand total
      (Some("NATION_A"), None, 100.0, 1L),            // nation subtotal
      (Some("NATION_A"), Some(1995L), 100.0, 1L),
      (Some("NATION_B"), None, 100.0, 1L),
      (Some("NATION_B"), Some(1996L), 100.0, 1L))
  }

  test("top-k + Other: deterministic ranks, the residual row closes the total exactly") {
    val li = Seq((1L, 1L, 100.0), (2L, 1L, 50.0), (3L, 2L, 120.0),
      (4L, 3L, 30.0), (5L, 4L, 20.0))
      .toDF("l_orderkey", "l_partkey", "l_extendedprice")
    val part = Seq((1L, "B1"), (2L, "B2"), (3L, "B3"), (4L, "B4"))
      .toDF("p_partkey", "p_brand")
    val out = graft.operators.Relational.topBrandsWithOther(li, part, k = 2)
      .as[(Long, String, Long, Long)].collect().toSeq
    // cents: B1 15000, B2 12000, B3 3000, B4 2000 — total 32000
    out shouldBe Seq(
      (1L, "B1", 15000L, 468750L),
      (2L, "B2", 12000L, 375000L),
      (3L, "Other", 5000L, 156250L))
    out.map(_._3).sum shouldBe 32000L // nothing silently dropped
  }

  test("grouping sets: exactly the two marginals — no detail grid, no grand total; one Expand pass") {
    val li = Seq((1L, 100.0, 0.0), (2L, 200.0, 0.5)).toDF("l_orderkey", "l_extendedprice", "l_discount")
    val ord = Seq((1L, 10L, java.sql.Timestamp.valueOf("1995-06-01 00:00:00")),
      (2L, 20L, java.sql.Timestamp.valueOf("1996-06-01 00:00:00")))
      .toDF("o_orderkey", "o_custkey", "o_orderdate")
    val cust = Seq((10L, 1), (20L, 2)).toDF("c_custkey", "c_nationkey")
    val nat = Seq((1, "NATION_A"), (2, "NATION_B")).toDF("n_nationkey", "n_name")
    val gs = graft.operators.Relational.nationRevenueGroupingSets(cust, ord, li, nat)
    val out = gs.collect().map(r =>
      (Option(r.get(0)), Option(r.get(1)), r.getDouble(2), r.getLong(3))).toSeq
    out shouldBe Seq( // nation marginals (year null) + year marginals (nation null) ONLY
      (None, Some(1995L), 100.0, 1L),
      (None, Some(1996L), 100.0, 1L),
      (Some("NATION_A"), None, 100.0, 1L),
      (Some("NATION_B"), None, 100.0, 1L))
    // one Expand feeding one aggregate — not two jobs
    gs.queryExecution.executedPlan.toString should include("Expand")
  }

  test("more-like-this: seed keywords query the corpus, closed-form scores, no-overlap docs absent") {
    val docs = Seq(
      (1L, "x x y common"), // seed: top-2 terms x (2·ln2), y (ln2); common (ln 4/3) misses the cut
      (2L, "x common common"),
      (3L, "y z common"),
      (4L, "w w w")).toDF("doc_id", "text")
    val out = TextAnalysis.moreLikeThis(docs, seedDocId = 1L, kTerms = 2, k = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toSeq
    val ln2 = BigDecimal(math.log(2)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    out shouldBe Seq(2L -> ln2, 3L -> ln2) // d4 shares no seed term → absent, not zero
  }

  test("distinct profile: exact per-source counts; HLL sketch lands within its error bound") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val exact = graft.operators.TextAnalysis.distinctProfile(docs)
      .select("source", "n_tokens", "n_distinct")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val approx = graft.operators.TextAnalysis.approxDistinctProfile(docs)
      .select("source", "n_tokens", "n_distinct_approx")
      .as[(String, Long, Long)].collect()
    approx.length shouldBe exact.size
    approx.foreach { case (src, nTok, nApprox) =>
      val (exTok, exDist) = exact(src)
      nTok shouldBe exTok // token volume is exact in both paths
      math.abs(nApprox - exDist).toDouble / exDist should be < 0.1 // 5σ at rsd=0.02
    }
  }

  test("bloom decontamination: superset of exact with zero false negatives; equal at generous bits") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.where($"doc_id" % 7 =!= 0)
    val evalD = docs.where($"doc_id" % 7 === 0)
    val exact = graft.operators.Pipeline.contamination(train, evalD)
      .select("doc_id", "n_shared").as[(Long, Long)].collect().toMap
    val bloom = graft.operators.Pipeline.contaminationBloom(train, evalD)
      .select("doc_id", "n_candidate").as[(Long, Long)].collect().toMap
    bloom.keySet shouldBe exact.keySet // row-for-row with train
    // no false negatives: every exact hit is a bloom candidate, count-wise
    exact.foreach { case (id, nShared) => bloom(id) should be >= nShared }
    // at 16 bits/item over this corpus the FP surplus is zero in practice
    bloom shouldBe exact
  }

  test("JSONL quarantine: clean rows round-trip intact, bad lines captured verbatim") {
    val src = Seq((1L, "hello world"), (2L, "with \"quotes\" and, commas"))
      .toDF("doc_id", "text")
    val dir = GraftSession.scratchDir("graft-quarantine").toString
    graft.sources.Jsonl.write(src, dir)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "part-bad.json"),
      java.util.Arrays.asList("{\"doc_id\": 3, \"text\":", "garbage"))
    val q = graft.sources.Jsonl.readWithQuarantine(spark, dir, src.schema).cache()
    try {
      val clean = q.where($"_corrupt_record".isNull)
        .select("doc_id", "text").as[(Long, String)].collect().toSet
      clean shouldBe Set(1L -> "hello world", 2L -> "with \"quotes\" and, commas")
      val bad = q.where($"_corrupt_record".isNotNull)
        .select("_corrupt_record").as[String].collect().toSet
      bad shouldBe Set("{\"doc_id\": 3, \"text\":", "garbage")
    } finally q.unpersist()
  }

  test("schema-evolution merge: old-generation rows null-fill the added column, new keep it") {
    val root = GraftSession.scratchDir("graft-evolve-spec").toString
    Seq((1L, "a")).toDF("id", "v").write.parquet(s"$root/gen0")
    Seq((2L, "b", 9L)).toDF("id", "v", "extra").write.parquet(s"$root/gen1")
    val merged = graft.sources.SchemaEvolution.readMerged(spark, s"$root/gen0", s"$root/gen1")
    merged.columns.toSet shouldBe Set("id", "v", "extra")
    merged.orderBy("id").select("id", "v", "extra")
      .collect().map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toSeq shouldBe Seq((1L, "a", -1L), (2L, "b", 9L))
  }

  test("compaction: 64 shattered files rewrite to the byte-sized count with identical rows") {
    val root = GraftSession.scratchDir("graft-compact-spec").toString
    val src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src.repartition(64).write.parquet(s"$root/small")
    def parquetFiles(dir: String): Int = {
      def walk(p: java.nio.file.Path): Int =
        if (java.nio.file.Files.isDirectory(p)) graft.util.FsUtil.listDir(p)(_.map(walk).sum)
        else if (p.getFileName.toString.endsWith(".parquet")) 1 else 0
      walk(java.nio.file.Paths.get(dir))
    }
    parquetFiles(s"$root/small") shouldBe 64
    val target = 1L << 20
    val n = graft.sources.Compaction.compact(spark, s"$root/small", s"$root/compacted", target)
    // returns the files actually written: equal to the on-disk count, at
    // most the byte-derived target (empty partitions write no file)
    parquetFiles(s"$root/compacted") shouldBe n
    n should be <= math.max(1L,
      (graft.sources.Compaction.dataBytes(s"$root/small") + target - 1) / target).toInt
    n should be < 64
    // physical layout only — the rows are untouched
    spark.read.parquet(s"$root/compacted").select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq shouldBe
      src.select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
  }

  test("day refresh: dynamic overwrite replaces exactly the day present; other days byte-identical") {
    val root = GraftSession.scratchDir("graft-dayrefresh").toString
    val out = s"$root/events"
    val ts = (day: Int, h: Int) =>
      java.sql.Timestamp.valueOf(f"2024-01-$day%02d $h%02d:30:00")
    val ev = Seq(
      (1L, ts(10, 1), 10.0), (2L, ts(10, 2), 20.0),
      (3L, ts(11, 1), 30.0), (4L, ts(11, 2), 40.0),
      (5L, ts(12, 1), 50.0)).toDF("event_id", "ts", "value")
    graft.sources.DatePartitioned.writeByDay(ev, "ts", out)
    def dayFiles(day: String): Set[(String, Long)] =
      graft.util.FsUtil.listDir(java.nio.file.Paths.get(out, s"event_date=$day"))(
        _.filter(_.getFileName.toString.endsWith(".parquet")).map(f =>
          (f.getFileName.toString, java.nio.file.Files.getLastModifiedTime(f).toMillis)).toSet)
    val before10 = dayFiles("2024-01-10")
    val before12 = dayFiles("2024-01-12")
    // recompute day 11 only: values doubled
    val corrected = ev.where($"ts" >= ts(11, 0) && $"ts" < ts(12, 0))
      .withColumn("value", $"value" * 2)
    graft.sources.DatePartitioned.refreshDays(corrected, "ts", out)
    // untouched days: same files, same mtimes — never rewritten
    dayFiles("2024-01-10") shouldBe before10
    dayFiles("2024-01-12") shouldBe before12
    // the table now carries the correction, everything else original
    spark.read.parquet(out).select($"event_id", $"value")
      .as[(Long, Double)].collect().sortBy(_._1).toSeq shouldBe
      Seq((1L, 10.0), (2L, 20.0), (3L, 60.0), (4L, 80.0), (5L, 50.0))
  }

  test("length profile: closed-form interpolated percentiles; approx twin brackets the exact rank") {
    // source A: lengths 1..100 (doc i has i+1 single-char tokens); one doc in B
    val docs = ((0 until 100).map(i => (i.toLong, Seq.fill(i + 1)("w").mkString(" "), "A"))
      :+ (100L, "w w w", "B")).toDF("doc_id", "text", "source")
    val exact = TextAnalysis.lengthProfile(docs).orderBy("source").collect()
    exact.length shouldBe 2
    val a = exact(0)
    a.getString(0) shouldBe "A"
    a.getLong(1) shouldBe 100L
    // rank = q·(n−1) over 1..100: p25 = 25.75, p50 = 50.5, p75 = 75.25, p90 = 90.1
    a.getDouble(2) shouldBe 25.75
    a.getDouble(3) shouldBe 50.5
    a.getDouble(4) shouldBe 75.25
    a.getDouble(5) shouldBe 90.1
    a.getLong(6) shouldBe 100L
    exact(1).getDouble(3) shouldBe 3.0 // B: single doc, every quantile = its length
    // the sketch twin returns dataset values bracketing each exact rank
    val approx = TextAnalysis.lengthProfileApprox(docs).where($"source" === "A").head()
    val qs = approx.getSeq[Long](2)
    qs should have size 4
    Seq(25.75, 50.5, 75.25, 90.1).zip(qs).foreach { case (ex, ap) =>
      ap.toDouble should (be >= math.floor(ex) and be <= math.ceil(ex))
    }
  }

  test("bloom layout: footer stats cannot prune the point key; the blooms reject the other row groups") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val dir = GraftSession.scratchDir("graft-bloom-spec").toString + "/docs"
    graft.sources.BloomLayout.write(docs, "doc_id", dir, files = 16, expectedNdv = 1000L)
    val key = 321L
    val conf = spark.sparkContext.hadoopConfiguration
    val files = new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet"))
    files.length shouldBe 16
    var total, statsOverlap, bloomPass = 0
    files.foreach { f =>
      val reader = ParquetFileReader.open(
        HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
      try reader.getFooter.getBlocks.asScala.foreach { b =>
        total += 1
        val cd = b.getColumns.asScala.find(_.getPath.toDotString == "doc_id").get
        val st = cd.getStatistics
        val (mn, mx) = (st.genericGetMin.asInstanceOf[java.lang.Long].longValue,
          st.genericGetMax.asInstanceOf[java.lang.Long].longValue)
        if (mn <= key && key <= mx) statsOverlap += 1
        val bloom = reader.getBloomFilterDataReader(b).readBloomFilter(cd)
        bloom should not be null // every row group carries the filter
        if (bloom.findHash(bloom.hash(key))) bloomPass += 1
      } finally reader.close()
    }
    // hash distribution spreads the key domain across every file, so the
    // min/max stats straddle the key almost everywhere — the stats tier is
    // structurally useless for this lookup...
    statsOverlap should be >= total / 2
    // ...while the blooms cut candidates to the key's own row group plus at
    // most false positives (filter sized for the real ndv)
    bloomPass should be >= 1
    bloomPass should be <= 2
    bloomPass should be < statsOverlap
    // and the lookup itself returns exactly the original rows
    graft.sources.BloomLayout.lookup(spark, dir, "doc_id", Seq(key))
      .select("doc_id").as[Long].collect().toSeq shouldBe Seq(key)
  }

  test("z-order layout: the second dimension's stats prune where the 1-D sort's cannot") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.01/events.parquet"))
    val root = GraftSession.scratchDir("graft-zorder-spec").toString
    graft.sources.SortedLayout.write(ev, "ts", s"$root/tssorted", files = 32)
    graft.sources.ZOrderLayout.write(ev, "ts", "user_id", s"$root/zorder", files = 32)
    val conf = spark.sparkContext.hadoopConfiguration
    // row groups whose user_id [min, max] overlaps the predicate user_id < 15
    // (max >= 0 trivially, so overlap reduces to min < 15)
    def overlap(dir: String): (Int, Int) = {
      var total, hit = 0
      new java.io.File(dir).listFiles.filter(_.getName.endsWith(".parquet")).foreach { f =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
        try reader.getFooter.getBlocks.asScala.foreach { b =>
          total += 1
          val cd = b.getColumns.asScala.find(_.getPath.toDotString == "user_id").get
          if (cd.getStatistics.genericGetMin.asInstanceOf[java.lang.Long] < 15L) hit += 1
        } finally reader.close()
      }
      (hit, total)
    }
    val (sortedHit, sortedTotal) = overlap(s"$root/tssorted")
    val (zHit, zTotal) = overlap(s"$root/zorder")
    info(s"user_id<15 overlap — ts-sorted: $sortedHit/$sortedTotal, z-order: $zHit/$zTotal")
    // on the ts-sorted layout every row group spans the whole user domain:
    // a user predicate prunes NOTHING
    sortedHit shouldBe sortedTotal
    // z-ordering bounds user_id per row group: most groups reject the range
    zHit should be <= zTotal / 2
    // the rewrite is physical only — the 2-D box read returns exactly the
    // straight filter's rows
    val lo = lit("2024-01-10 00:00:00").cast("timestamp")
    val hi = lit("2024-01-16 00:00:00").cast("timestamp")
    graft.sources.ZOrderLayout.readBox(spark, s"$root/zorder",
        "ts", lo, hi, "user_id", lit(0L), lit(30L))
      .select("event_id").as[Long].collect().sorted.toSeq shouldBe
      ev.where($"ts" >= lo && $"ts" < hi && $"user_id" >= 0L && $"user_id" < 30L)
        .select("event_id").as[Long].collect().sorted.toSeq
  }

  test("pHash band layout partitions all 29 bits with no empty band at any legal maxHamming") {
    for (bands <- 1 to 7) {
      val layout = graft.operators.Multimodal.bandLayout(29, bands)
      layout.map(_._2).sum shouldBe 29 // exact partition: pigeonhole holds
      all(layout.map(_._2)) should be >= 1 // no degenerate (constant-key) band
      // bands tile [0, 29) contiguously — none reaches past the top bit
      layout.foldLeft(0) { case (expectOff, (off, w)) =>
        off shouldBe expectOff; off + w
      } shouldBe 29
    }
  }

  test("media near-dup pairs equal brute-force Hamming filter at the max band count") {
    val media = graft.operators.Multimodal.mediaFromDocuments(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60))
    val ph = media.select($"media_id",
      graft.operators.Multimodal.perceptualHash($"payload").as("ph"))
    val brute = ph.as("a").join(ph.as("b"), $"a.media_id" < $"b.media_id")
      .select($"a.media_id".as("a_id"), $"b.media_id".as("b_id"),
        bit_count($"a.ph".bitwiseXOR($"b.ph")).cast("long").as("hamming"))
      .where($"hamming" <= 6)
      .as[(Long, Long, Long)].collect().toSet
    // maxHamming=6 is the layout's stress case: a uniform rounded-up width
    // would give band 6 an all-zero key (the r9 cross-product bug)
    val banded = graft.operators.Multimodal.mediaNearDupPairs(media, maxHamming = 6)
      .as[(Long, Long, Long)].collect().toSet
    banded shouldBe brute
    brute should not be empty
  }

  test("sketch rollup: per-day union-merge estimates EXACTLY equal the one-shot range sketch") {
    import org.apache.spark.sql.functions._
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    val daily = graft.operators.SketchRollup.dailyDistinctSketches(ev, "ts", "user_id")
    // mergeability is the operator's whole claim: folding per day then
    // union-merging must reproduce the single-pass sketch of the range
    val merged = graft.operators.SketchRollup
      .rangeDistinctEstimate(daily, "2024-01-05", "2024-01-15")
      .collect()(0).getLong(0)
    val oneShot = ev
      .where(col("ts") >= lit("2024-01-05") && col("ts") < lit("2024-01-15"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))))
      .collect()(0).getLong(0)
    merged shouldBe oneShot
    // and the estimate is sane against the exact distinct (tiny cardinality
    // here, so HLL's sparse mode should be spot-on)
    val exact = ev
      .where(col("ts") >= lit("2024-01-05") && col("ts") < lit("2024-01-15"))
      .select(countDistinct(col("user_id"))).collect()(0).getLong(0)
    math.abs(merged - exact).toDouble / exact should be <= 0.05
  }

  // ------------------------------------------------------ DSIR selection

  private def dsirCorpus: DataFrame = {
    // target-flavored docs talk about wiki topics; noise docs share ONLY
    // the common function words (so the raw model inflates those and the
    // discriminative target tokens stay rare-in-raw — the separation DSIR
    // exists to detect); doc 9 shares NO vocabulary token (zero-feature)
    val wiki = (0L to 3L).map(i => (i, "en",
      "history of science and the encyclopedia of knowledge with articles about physics chemistry and biology " + i))
    val noise = (4L to 8L).map(i => (i, "xx",
      "the casino of the bonus and the spam with prize about winner and the lottery offer " + i))
    (wiki ++ noise :+ ((9L, "xx", "zzz qqq www")))
      .toDF("doc_id", "lang", "text")
  }

  test("DSIR: target-like docs outweigh off-target docs; zero-feature docs score 0") {
    val ds = dsirCorpus
    val w = Pipeline.dsirWeights(ds, ds.where($"lang" === "en"), vocabSize = 64)
      .orderBy("doc_id").collect()
    val byId = w.map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // every target doc strictly outscores every noise doc
    (0L to 3L).map(byId).min should be > (4L to 8L).map(byId).max
    byId(9L) shouldBe 0.0 // no vocabulary overlap → neutral
    w.map(_.getLong(0)).toSeq shouldBe (0L to 9L) // nothing dropped
  }

  test("DSIR: hashed feature space agrees with the explicit vocabulary on ranking direction") {
    val ds = dsirCorpus
    val h = Pipeline.dsirWeightsHashed(ds, ds.where($"lang" === "en"), buckets = 1024)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    (0L to 3L).map(h).min should be > (4L to 8L).map(h).max
    // deterministic: a second run is identical
    val h2 = Pipeline.dsirWeightsHashed(ds, ds.where($"lang" === "en"), buckets = 1024)
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    h2 shouldBe h
  }

  test("DSIR: Gumbel resample is deterministic per seed, size-n, and weight-sensitive") {
    val ds = dsirCorpus
    val a = Pipeline.dsirResample(ds, ds.where($"lang" === "en"), n = 4, seed = 7L)
      .select("doc_id").as[Long].collect().toSet
    val b = Pipeline.dsirResample(ds, ds.where($"lang" === "en"), n = 4, seed = 7L)
      .select("doc_id").as[Long].collect().toSet
    a shouldBe b
    a.size shouldBe 4
    // high-weight docs dominate the draw: at least half the sample is target
    a.count(_ <= 3L) should be >= 2
  }

  test("property: DSIR weights equal a driver-side reference model on seeded random corpora") {
    val rnd = new scala.util.Random(23)
    val vocabPool = (0 until 40).map(i => s"w$i")
    val docsSeq = (0L to 59L).map { i =>
      val lang = if (rnd.nextBoolean()) "en" else "xx"
      (i, lang, Seq.fill(3 + rnd.nextInt(20))(
        vocabPool(rnd.nextInt(vocabPool.size))).mkString(" "))
    }
    val df = docsSeq.toDF("doc_id", "lang", "text")
    val v = 16
    val got = Pipeline.dsirWeights(df, df.where($"lang" === "en"), vocabSize = v)
      .orderBy("doc_id").as[(Long, Long, Double)].collect().toSeq
    // reference: plain-Scala counts, same smoothing, round-4 HALF_UP
    val tokensOf: Long => Seq[String] =
      docsSeq.map(d => d._1 -> d._3.split(" ").toSeq).toMap
    val tgtCnt = docsSeq.filter(_._2 == "en").flatMap(d => tokensOf(d._1))
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val vocab = tgtCnt.toSeq.sortBy { case (t, c) => (-c, t) }.take(v).toMap
    val rawCnt = docsSeq.flatMap(d => tokensOf(d._1)).filter(vocab.contains)
      .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val tt = vocab.values.sum.toDouble
    val rt = rawCnt.values.sum.toDouble
    val lw: Map[String, Double] = vocab.map { case (t, tc) =>
      t -> (math.log((tc + 1) / (tt + v)) - math.log((rawCnt(t) + 1) / (rt + v)))
    }
    val expect = docsSeq.map { d =>
      val inVocab = tokensOf(d._1).filter(lw.contains)
      val w = inVocab.map(lw).sum
      (d._1, inVocab.size.toLong,
        BigDecimal(w).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    got.map(r => (r._1, r._2)) shouldBe expect.map(r => (r._1, r._2))
    got.zip(expect).foreach { case (g, e) => g._3 shouldBe e._3 +- 1e-4 }
  }

  // -------------------------------------------------- dedup recall truth

  test("exactJaccardPairs is a superset of the blocked production pairs and catches hot-shingle pairs the df cap drops") {
    // two identical docs built ONLY of shingles that appear in > maxDf docs:
    // the production blocking loses every posting, the truth stick must not
    val hot = "alpha beta gamma delta epsilon zeta eta theta"
    val corpus = ((0L to 9L).map(i => (i, hot)) :+ (10L, "totally unrelated content here"))
      .toDF("doc_id", "text")
    val truth = Dedup.exactJaccardPairs(corpus)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    val blocked = Dedup.jaccardPairs(corpus, maxDf = 5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    truth should contain(0L -> 1L) // all 45 identical pairs present
    truth.size shouldBe 45
    blocked shouldBe empty // df cap dropped every posting — the documented gap
    blocked.subsetOf(truth) shouldBe true
  }

  test("eval contamination report: full copy 1.0, partial overlap fractional, clean and sub-n items flagged clean") {
    val trainTxt = "one two three four five six seven eight nine ten"
    val train = Seq((100L, trainTxt), (101L, "other corpus content entirely")).toDF("doc_id", "text")
    val evals = Seq(
      (0L, trainTxt), // verbatim leak: every 5-gram in train
      (1L, "one two three four five unrelated trailing words here now"), // 1 of 6 5-grams hits
      (2L, "completely novel benchmark item nothing shared at all today"), // clean
      (3L, "too short") // no 5-gram
    ).toDF("doc_id", "text")
    val out = graft.operators.Pipeline.evalContaminationReport(train, evals)
      .orderBy("doc_id").as[(Long, Long, Long, Double, Boolean)].collect().toSeq
    out(0) shouldBe ((0L, 6L, 6L, 1.0, false))
    out(1)._3 shouldBe 1L // exactly the copied prefix 5-gram
    out(1)._4 shouldBe (1.0 / 6 +- 1e-6)
    out(1)._5 shouldBe false
    out(2) shouldBe ((2L, 5L, 0L, 0.0, true))
    out(3) shouldBe ((3L, 0L, 0L, 0.0, true))
  }

  // --------------------------------------------------------- MMR rerank

  test("MMR demotes a near-duplicate of the top hit that pure relevance ranks second") {
    // query q; a and a' nearly identical and most relevant; b distinct and
    // slightly less relevant: relevance order is (a, a', b, filler) but at
    // λ=0.5 MMR's diversity penalty must push the near-dup a' out of the
    // top-3 entirely (b then the orthogonal filler both beat it)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val rows = Seq(
      (0L, v(1.0, 0.0, 0.0)), // the query itself
      (1L, v(0.98, 0.20, 0.0)), // a: closest
      (2L, v(0.97, 0.24, 0.0)), // a': near-dup of a, second closest
      (3L, v(0.80, -0.60, 0.0)), // b: distinct direction, third
      (4L, v(0.0, 0.0, 1.0)) // orthogonal filler
    ).toDF("vec_id", "embedding")
    val out = Similarity.mmrTopK(rows, rows.where($"vec_id" === 0L),
        k = 3, fetch = 4, lambda = 0.5)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    out.head shouldBe 1L // rank 1 = pure relevance
    out(1) shouldBe 3L // rank 2 = the diverse hit, not the near-dup
    out should not contain 2L // the near-dup never makes the diversified page
    // pure relevance WOULD have ranked the near-dup second — the contrast
    // MMR exists to produce
    Similarity.bruteForceTopK(rows, rows.where($"vec_id" === 0L), 2)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq shouldBe Seq(1L, 2L)
  }

  test("property: MMR equals a driver-side reference greedy on seeded random geometries") {
    val rnd = new scala.util.Random(17)
    def vec(): Array[Float] = Array.fill(8)((rnd.nextDouble() * 2 - 1).toFloat)
    val rows = (0L to 30L).map(i => (i, vec()))
    val df = rows.toDF("vec_id", "embedding")
    val q = df.where($"vec_id" < 3L)
    val k = 4
    val fetch = 8
    val got = Similarity.mmrTopK(df, q, k = k, fetch = fetch, lambda = 0.7)
      .orderBy("q_id", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // reference: exact doubles → round-6 micros → the same integer greedy
    def cosU(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      val c = BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      math.round(c * 1e6)
    }
    val byId = rows.toMap
    val expect = (0L to 2L).flatMap { qid =>
      val cands = rows.filter(_._1 != qid)
        .map { case (id, v) => (id, cosU(byId(qid), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(fetch)
      var selected = Vector.empty[Long]
      var out = Vector.empty[(Long, Long, Long, Long)]
      var remaining = cands.toVector
      while (selected.size < k && remaining.nonEmpty) {
        val scored = remaining.map { case (id, rel) =>
          val pen = if (selected.isEmpty) 0L
            else selected.map(s => cosU(byId(id), byId(s))).max
          (id, 7L * rel - 3L * pen)
        }
        val best = scored.minBy { case (id, obj) => (-obj, id) }
        out :+= ((qid, (selected.size + 1).toLong, best._1, best._2))
        selected :+= best._1
        remaining = remaining.filterNot(_._1 == best._1)
      }
      out
    }
    got shouldBe expect
  }

  test("MMR with lambda=1 degenerates to relevance order and validates lambda granularity") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val rows = Seq(
      (0L, v(1.0, 0.0)), (1L, v(0.9, 0.1)), (2L, v(0.8, 0.3)), (3L, v(0.1, 0.9))
    ).toDF("vec_id", "embedding")
    val q = rows.where($"vec_id" === 0L)
    val mmr = Similarity.mmrTopK(rows, q, k = 3, fetch = 3, lambda = 1.0)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    val rel = Similarity.bruteForceTopK(rows, q, 3)
      .orderBy("rank").select("vec_id").as[Long].collect().toSeq
    mmr shouldBe rel
    an[IllegalArgumentException] should be thrownBy
      Similarity.mmrTopK(rows, q, k = 2, fetch = 3, lambda = 0.75)
  }

  test("MMR returns a 1-candidate shortlist at rank 1 instead of dropping it") {
    // a shortlist with a single candidate produces zero candidate-candidate
    // pairs; the k>=1 contract still requires the lone candidate at rank 1
    // with objective lam10*rel (no pair row may be a precondition)
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    val corpus = Seq(
      (1L, v(1.0, 0.0)), (2L, v(0.9, 0.1)), (3L, v(0.8, 0.3)), (4L, v(0.1, 0.9))
    ).toDF("vec_id", "embedding")
    // q 10: one candidate; q 20: three candidates (the mixed case proves
    // the lone group isn't saved by accident of running alone)
    val shortlist = Seq(
      (10L, 1L, 0.8),
      (20L, 2L, 0.9), (20L, 3L, 0.7), (20L, 4L, 0.2)
    ).toDF("q_id", "vec_id", "cos")
    val out = Similarity.mmrRerank(corpus, shortlist, k = 2, lambda = 0.7)
      .orderBy("q_id", "rank")
      .as[(Long, Long, Long, Long)].collect().toSeq
    out.count(_._1 == 10L) shouldBe 1
    out.filter(_._1 == 10L).head shouldBe ((10L, 1L, 1L, 7L * 800000L))
    out.filter(_._1 == 20L).map(_._3).head shouldBe 2L // rank 1 = relevance
    out.count(_._1 == 20L) shouldBe 2
  }

  // ------------------------------------------ embedding diagnostics / PCA

  test("embedding drift: exact micros means, sign-factored truncation on negative sums, planted shift") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // v1 dim2 sums to −1000001 micros over 2 rows: the sign-factored
    // mean is −(1000001 DIV 2) = −500000 — truncation toward zero on
    // BOTH engines, never a floor to −500001
    val v1 = Seq((1L, v(1.0, -0.5)), (2L, v(0.0, -0.500001)))
      .toDF("vec_id", "embedding")
    val v2 = Seq((1L, v(1.0, -0.25))).toDF("vec_id", "embedding")
    val got = Similarity.embeddingDrift(v1, v2)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    got shouldBe Seq(
      (1L, 2L, 500000L, 1L, 1000000L, 500000L),
      (2L, 2L, -500000L, 1L, -250000L, 250000L))
  }

  test("embedding drift: a dimensionality change SURFACES (full outer), ranked first") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // v2's encoder dropped dim 3 — the exact regression the gate exists
    // for; it must head the report with a NULL mean2, not vanish
    val v1 = Seq((1L, v(1.0, 0.5, 0.25))).toDF("vec_id", "embedding")
    val v2 = Seq((1L, v(1.0, 0.75))).toDF("vec_id", "embedding")
    val got = Similarity.embeddingDrift(v1, v2)
      .as[(Long, Long, Option[Long], Long, Option[Long], Option[Long])]
      .collect().toSeq
    got.head shouldBe ((3L, 1L, Some(250000L), 0L, None, None))
    got.map(_._1).toSet shouldBe Set(1L, 2L, 3L)
  }

  test("dimension correlation: planted linear dependence, sign, zero-variance filter") {
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // dim2 = 2·dim1 (corr +1), dim3 = −dim1 (corr −1), dim4 constant
    // (zero variance → filtered), dim5 noise
    val rnd = new scala.util.Random(7)
    val rows = (0L to 19L).map { i =>
      val t = rnd.nextDouble()
      (i, v(t, 2 * t, -t, 0.5, rnd.nextDouble()))
    }
    val got = Similarity.dimensionCorrelation(rows.toDF("vec_id", "embedding"))
      .as[(Long, Long, Double)].collect().toSeq
    // top pairs are the three exact dependences among dims 1,2,3
    got.take(3).map(t => (t._1, t._2)).toSet shouldBe Set((1L, 2L), (1L, 3L), (2L, 3L))
    got.take(3).foreach(t => math.abs(t._3) shouldBe 1.0 +- 1e-4)
    got.find(t => (t._1, t._2) == ((1L, 3L))).get._3 should be < 0.0
    // dim4 never appears (integer-variance filter)
    got.foreach { t => t._1 should not be 4L; t._2 should not be 4L }
  }

  test("PCA projection: recovers the planted dominant direction; matches a driver reference at round-4") {
    val rnd = new scala.util.Random(11)
    // points spread along (0.6, 0.8) with small orthogonal noise — the
    // top component must be ±(0.6, 0.8) and projections must order by t
    val rows = (0L to 49L).map { i =>
      val t = (i.toDouble - 25) / 10
      val eps = (rnd.nextDouble() - 0.5) * 0.01
      (i, Array((0.6 * t - 0.8 * eps).toFloat, (0.8 * t + 0.6 * eps).toFloat))
    }
    val df = rows.toDF("vec_id", "embedding")
    val got = Similarity.pcaProject(df, topK = 50)
      .as[(Long, Double)].collect().toSeq
    got.size shouldBe 50
    // ordering by projection ≡ ordering by ±t: ids are either ascending
    // 49..0 or 0..49 depending on the (legal) eigenvector sign
    val ids = got.map(_._1)
    assert(ids == (0L to 49L).sortBy(i => -i) || ids == (0L to 49L).toSeq)
    // the spacing between consecutive projections is ~|t step| = 0.1
    val gaps = got.map(_._2).sliding(2).map(p => p.head - p(1)).toSeq
    all(gaps) should be(0.1 +- 0.02)
    // driver reference: exact integer micros moments → same recurrence
    val n = rows.size.toDouble
    val q = rows.map { case (_, e) => e.map(x => math.round(x.toDouble * 1e6)) }
    val d = 2
    val c = Array.ofDim[Double](d, d); val mu = new Array[Double](d)
    for (j <- 0 until d; k <- j until d) {
      val sa = q.map(_(j)).sum.toDouble; val sb = q.map(_(k)).sum.toDouble
      val sab = q.map(r => r(j) * r(k)).sum.toDouble
      val cov = (n * sab - sa * sb) / (n * n * 1.0e12)
      c(j)(k) = cov; c(k)(j) = cov
      if (j == k) mu(j) = sa / (n * 1000000.0)
    }
    var vv = Array(1.0, 0.0)
    (1 to 12).foreach { _ =>
      val w = Array.tabulate(d)(r => (0 until d).map(k => c(r)(k) * vv(k)).sum)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      vv = w.map(_ / nrm)
    }
    val expect = rows.map { case (id, e) =>
      val p = (0 until d).map(j => (e(j).toDouble - mu(j)) * vv(j)).sum
      (id, BigDecimal(p).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, p) => (-p, id) }.take(50)
    got shouldBe expect
  }

  test("vocab growth: first occurrences land in their decile; bucket-count invariance") {
    // 10 docs, ids 0..9 → one per decile; doc k introduces token "t<k>"
    // and repeats "base" — vocab_cum grows by exactly 1 per decile after
    // decile 1 (which also introduces "base")
    val docs = (0L to 9L).map(i => (i, s"base t$i")).toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(docs)
      .as[(Long, Long, Long, Long)].collect().toSeq
    got.map(_._1) shouldBe (1L to 10L)
    got.map(_._2) shouldBe (1L to 10L) // docs_cum
    got.map(_._3) shouldBe (1L to 10L).map(_ * 2) // 2 tokens per doc
    got.map(_._4) shouldBe (2L to 11L) // base + t0 in decile 1, then +1
    // the distributed rank is bucket-assignment-invisible
    val r1 = TextAnalysis.vocabGrowth(docs, rangeBuckets = 1).collect().toSeq
    val r7 = TextAnalysis.vocabGrowth(docs, rangeBuckets = 7).collect().toSeq
    r1 shouldBe r7
  }

  test("media integrity gate: each check fires independently; good + quarantined = rows; nulls corrupt") {
    import graft.operators.Multimodal
    def bin(hex: String) = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val rows = Seq(
      (1L, "image", bin("ab" * 16), Some(10), Some(10)), // clean
      (2L, "audio", bin("ab" * 15), Some(10), Some(10)), // TRUNCATED payload
      (3L, "video", bin("ab" * 16), Some(-5), Some(10)), // bad width
      (4L, "image", bin("ab" * 16), Some(10), None), // NULL height → corrupt
      (5L, "blob", bin("ab" * 16), Some(10), Some(10)), // unroutable kind
      (6L, "blob", bin("ab" * 15), None, Some(10))) // fails all three at once
      .toDF("media_id", "kind", "payload", "width", "height")
    val out = Multimodal.integrityGate(rows)
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    // (n_rows, n_good, n_bad_dims, n_bad_payload, n_bad_kind, n_quarantined)
    out shouldBe ((6L, 1L, 3L, 2L, 2L, 5L))
    out._2 + out._6 shouldBe out._1 // every row in exactly one sink
  }

  test("media entropy: degenerate payload flags, uniform payload hits ln 16, halves hit ln 2") {
    import graft.operators.Multimodal
    def bin(hex: String) = hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val media = Seq(
      (1L, bin("aa" * 16)), // one symbol → entropy 0, flagged
      (2L, bin("0123456789abcdef" * 2)), // all 16 symbols equally → ln 16
      (3L, bin("00ff" * 8)) // two symbols equally → ln 2
    ).toDF("media_id", "payload")
    val got = Multimodal.mediaEntropy(media)
      .as[(Long, Double, Boolean)].collect().toSeq
    got shouldBe Seq(
      (1L, 0.0, true),
      (2L, BigDecimal(math.log(16)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, false),
      (3L, BigDecimal(math.log(2)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble, true))
  }
}
