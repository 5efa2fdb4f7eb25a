package graft

import graft.compile.QueryCompiler
import graft.exec.SearchExecutor
import graft.model.AclContext
import graft.operators.{Dedup, Similarity}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Physical-plan shape assertions — the 100 TB design properties SCALE.md
  * claims, pinned so a refactor can't silently regress them.
  */
class PlanAuditSpec extends AnyFunSuite with Matchers with SparkSupport {
  import spark.implicits._

  private def docsDf = Seq((1L, "a b c d e f g"), (2L, "h i j k l m n"))
    .toDF("doc_id", "text")

  private def embDf = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)))
    .toDF("vec_id", "embedding")

  test("search hits plan uses TakeOrderedAndProject (no global sort)") {
    // parquet-backed input: a LocalRelation would constant-fold the whole plan
    val cq = QueryCompiler.compile(QueryCompiler.parse("""{"query":"red","size":5}"""),
      AclContext(Nil, isAdmin = true))
    val plan = SearchExecutor.hitsBranch(
      SearchExecutor.baseBranch(Corpus.metadata(spark, "/root/testdata/sf0.001"), cq), cq)
      .queryExecution.executedPlan.toString
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
  }

  test("brute-force top-k broadcasts the query side, never shuffles the corpus scan") {
    val plan = Similarity.bruteForceTopK(embDf, embDf.where($"vec_id" === 1), 3)
      .queryExecution.executedPlan.toString
    plan should include("Broadcast")
    plan should not include "CartesianProduct"
  }

  test("fuzzy search plan: pushed IN on the deletion key, broadcast matched terms, TakeOrdered") {
    val plan = SearchExecutor.fuzzySearch(
        Corpus.metadata(spark, "/root/testdata/sf0.001"), "rad")
      .queryExecution.executedPlan.toString
    // the query's deletion keys probe as a pushed IN filter — the
    // dictionary is pruned before the exact levenshtein verify
    plan should include("key#")
    plan should include("IN (")
    // the ≤|matches|-row matched-term table broadcasts into the corpus pass
    plan should include("BroadcastHashJoin")
    plan should include("TakeOrderedAndProject")
    plan should not include "CartesianProduct"
  }

  test("basket lift plan: pair generation co-partitions on the order key, dims broadcast, no cartesian") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val part = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    val plan = graft.operators.Relational.brandBasketLift(li, part, minSupport = 1L)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    // the self-join keys on okey (an equi hash join, bounded per basket)
    plan should include("SortMergeJoin")
    // brand dim + singles + 1-row total all broadcast
    plan should include("BroadcastHashJoin")
  }

  test("stickiness plan: one distinct-pair exchange; the spine range join broadcasts the spine side") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val plan = graft.operators.EventAnalytics.stickiness(
        graft.streaming.EventStream.withEventTime(ev))
      .queryExecution.executedPlan.toString
    // the range join has no equi key — it must be the broadcast
    // nested-loop with the |days|-row spine broadcast, never a cartesian
    // of two corpus-scale sides
    plan should include("BroadcastNestedLoopJoin")
    plan should not include "CartesianProduct"
    plan should include("partial_count")
  }

  test("jaccard pairs plan has no cartesian product and keeps map-side partial aggregates") {
    val plan = Dedup.jaccardPairs(docsDf).queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    // candidate-pair count and df-cap both partial-aggregate before their shuffles
    plan should include("partial_count")
  }

  test("repeated-spans plan: no cartesian, partial count before the shingle shuffle, doc-keyed island window") {
    val plan = Dedup.repeatedSpans(docsDf, k = 3).queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // occurrence counting partial-aggregates map-side before its shuffle
    plan should include("partial_count")
    // the island merge windows per document
    plan should include("Window")
  }

  test("window removal plan: no cartesian, NO window over the content key — election is a combine-safe aggregate") {
    val qe = Dedup.removeRepeatedWindows(docsDf, k = 3).queryExecution
    val plan = qe.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // occurrence counting + first-occurrence election partial-aggregate
    // map-side before their one shuffle
    plan should include("partial_count")
    // every Window in the plan is the per-doc interval merge — a viral
    // window string must NEVER funnel through a content-key sort (the
    // straggler the min(struct) election exists to avoid)
    val wins = qe.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    wins should not be empty
    wins.foreach { w =>
      w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).toSet shouldBe Set("doc_id")
    }
  }

  test("span removal plan: every window partitions by doc_id, never the span-content key") {
    val wins = Dedup.removeRepeatedSpans(docsDf, k = 3).queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    wins.foreach { w =>
      w.partitionSpec.flatMap(_.references.toSeq.map(_.name)).toSet shouldBe Set("doc_id")
    }
  }

  test("raw-column query filters push into the parquet scan of a materialized entry table") {
    // the Corpus derivation computes columns from p_partkey (nothing to push);
    // a real deployment stores entries materialized — model that here
    val dir = GraftSession.scratchDir("graft-planaudit-meta").toString + "/meta"
    Corpus.metadata(spark, "/root/testdata/sf0.001").write.parquet(dir)
    val cq = QueryCompiler.compile(QueryCompiler.parse(
      """{"filters":[{"creationTime":["2015-03-01 00:00:00","2015-06-01 00:00:00"]}]}"""),
      AclContext(Seq("org1"), isAdmin = false, graft.model.DataSetFiltering.OnlyPrivate))
    val exec = SearchExecutor.hitsBranch(
      SearchExecutor.baseBranch(spark.read.parquet(dir), cq), cq)
      .queryExecution.executedPlan
    // read the scan's own metadata — the plan's toString truncates long filter lists
    val pushed = exec.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata("PushedFilters")
    }.get
    // time range + ACL org/visibility equality all reach the scan
    pushed should include("GreaterThanOrEqual(creationTime")
    pushed should include("LessThanOrEqual(creationTime")
    pushed should include("EqualTo(orgUUID,org1)")
  }

  test("S2 point lookup pushes the id filter into every log scan (no full-table window)") {
    val dir = GraftSession.scratchDir("graft-planaudit-store").toString
    val st = new graft.store.MetadataStore(spark, dir,
      () => java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    val entries = Corpus.metadata(spark, "/root/testdata/sf0.001")
      .where($"id".between("000001", "000020"))
      .as(org.apache.spark.sql.Encoders.product[graft.model.MetadataEntry])
    st.bulkLoad(entries)
    entries.limit(3).collect().foreach(st.upsert) // a second delta in the log
    val plan = st.lookup("000005").queryExecution.executedPlan.toString
    // every parquet scan in the union carries the pushed id predicate —
    // the window resolves a handful of rows, not the whole log
    val scans = "PushedFilters: \\[[^\\]]*EqualTo\\(id,000005\\)".r.findAllIn(plan).size
    scans should be >= 2 // base/delta-1 scan + delta-2 scan
    plan should include("Window")
  }

  test("bucketed base: point lookup prunes to one _bucket partition directory") {
    val dir = GraftSession.scratchDir("graft-planaudit-bucketed").toString
    val st = new graft.store.MetadataStore(spark, dir,
      () => java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), numBuckets = 8)
    val entries = Corpus.metadata(spark, "/root/testdata/sf0.001")
      .where($"id".between("000001", "000040"))
      .as(org.apache.spark.sql.Encoders.product[graft.model.MetadataEntry])
    st.bulkLoad(entries)
    st.compact()
    // plan string, not node collect: AQE's AdaptiveSparkPlanExec hides the
    // subtree from collect(); PartitionFilters is short enough to not truncate
    val plan = st.lookup("000005").queryExecution.executedPlan.toString
    // the (bucketed) base scan prunes to the id's partition directory,
    // and the row-level id filter still pushes down alongside it
    plan should include regex """PartitionFilters: \[[^\]]*_bucket"""
    plan should include regex """PushedFilters: \[[^\]]*EqualTo\(id,000005\)"""
  }

  test("one-segment store: current and the point lookup read the segment as it is — " +
    "no Exchange, no Window — after a bulk load and after a compaction") {
    val dir = GraftSession.scratchDir("graft-planaudit-oneseg").toString
    val st = new graft.store.MetadataStore(spark, dir,
      () => java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    val entries = Corpus.metadata(spark, "/root/testdata/sf0.001")
      .where($"id".between("000001", "000020"))
      .as(org.apache.spark.sql.Encoders.product[graft.model.MetadataEntry])
    def assertShuffleFree(when: String): Unit =
      Seq("current" -> st.current.queryExecution.executedPlan.toString,
        "lookup" -> st.lookup("000005").queryExecution.executedPlan.toString)
        .foreach { case (what, plan) =>
          withClue(s"$when, $what: ") {
            plan should not include "Exchange"
            plan should not include "Window"
          }
        }
    st.bulkLoad(entries) // delta-1 only
    assertShuffleFree("bulk-loaded")
    st.lookup("000005").count() shouldBe 1L
    st.delete("000005") // a second segment: the window plan
    st.compact() // base-3 only
    assertShuffleFree("compacted")
    st.current.count() shouldBe entries.count() - 1
    st.lookup("000005").count() shouldBe 0L
  }

  test("persisted-history refresh: the keep-slice scan prunes STATICALLY to the " +
    "touched buckets — a literal bucket IN partition filter, cold dirs never listed") {
    val dir = GraftSession.scratchDir("graft-planaudit-hist").toString
    val st = new graft.store.MetadataStore(spark, dir,
      () => java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    val entries = Corpus.metadata(spark, "/root/testdata/sf0.001")
      .where($"id".between("000001", "000040"))
      .as(org.apache.spark.sql.Encoders.product[graft.model.MetadataEntry])
    st.bulkLoad(entries) // v1
    val hist = dir + "/hist"
    graft.store.MetadataStore.writeHistory(st.history(), 8, hist)
    st.partialUpdate("000003", Map("title" -> "rev")) // v2
    val window = st.changesBetween(1, 2)
    val touched = window.select(
        graft.operators.ViewMaintenance.viewBucket($"id", 8).as("b"))
      .distinct().as[Int].collect().toSeq
    val fold = graft.store.MetadataStore.historyRefreshFold(
      spark, hist, window, 8, touched)
    val plan = fold.queryExecution.executedPlan.toString
    // static pruning, not dynamic: the touched set is driver-resident and
    // bounded by nBuckets, so the filter is a LITERAL on the partition
    // column — pruning happens at file LISTING, before any job runs
    plan should include regex """PartitionFilters: \[[^\]]*bucket"""
    plan should not include "dynamicpruning"
  }

  test("minhash pairs keep the signature barrier (shuffle between sig projection and band join)") {
    // the barrier stops CollapseProject from inlining the interpreted
    // signature pipeline into band/join expressions (SCALE.md, Dedup scaladoc)
    val plan = Dedup.minhashPairs(docsDf).queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    // r17: the barriers are core-count-pinned keyed repartitions
    // (Spread.byKey → REPARTITION_BY_NUM), exempt from AQE coalescing
    "REPARTITION_BY_NUM".r.findAllIn(plan).size should be >= 2
  }

  test("banded pair dedup shuffles ids only — vectors re-join after the dedup") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    // the dropDuplicates of each banded self-join compiles to a pure
    // Aggregate over the pair keys; its INPUT schema must carry the ids
    // alone — a signature/embedding column here would ride the pair-dedup
    // shuffle once per band collision (the round-6 finding)
    def dedupInput(df: org.apache.spark.sql.DataFrame, keys: Set[String]): Set[String] =
      df.queryExecution.optimizedPlan.collect {
        case a: Aggregate if a.output.map(_.name).toSet == keys &&
            a.aggregateExpressions.forall(_.isInstanceOf[Attribute]) =>
          a.child.output.map(_.name).toSet
      }.head
    dedupInput(Dedup.minhashPairs(docsDf), Set("a_id", "b_id")) shouldBe
      Set("a_id", "b_id")
    dedupInput(Similarity.cosineNearDupPairs(embDf), Set("a_id", "b_id")) shouldBe
      Set("a_id", "b_id")
    dedupInput(Similarity.lshTopK(embDf, embDf.where($"vec_id" === 1), 3),
      Set("q_id", "vec_id")) shouldBe Set("q_id", "vec_id")
  }

  test("dup-clusters output plan: equi-joins only, no cartesian product") {
    // the CC loop is label-keyed equi-joins + min aggregates; a regression to
    // a theta/cartesian join would be the 100 TB killer here
    val pairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val plan = Dedup.dupClusters(docsDf, pairs, maxIter = 2)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  test("decontamination broadcasts the eval n-gram dictionary against the corpus scan") {
    val plan = graft.operators.Pipeline.contamination(docsDf, docsDf.where($"doc_id" === 1))
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("quality sample runs as per-partition top-K merge, not a global sort") {
    val docs = Corpus.metadata(spark, "/root/testdata/sf0.001")
      .select($"id".cast("long").as("doc_id"), $"dataSample".as("text"))
    val plan = graft.operators.Pipeline.qualitySample(docs)
      .queryExecution.executedPlan.toString
    plan should include("TakeOrderedAndProject")
  }

  test("stratified sample pushes a partial top-k per stratum below its shuffle") {
    val docs = Corpus.metadata(spark, "/root/testdata/sf0.001")
      .select($"id".cast("long").as("doc_id"), $"dataSample".as("text"))
    val plan = graft.operators.Pipeline.stratifiedSample(docs)
      .queryExecution.executedPlan.toString
    // two WindowGroupLimits: map-side partial before the exchange, final after
    "WindowGroupLimit".r.findAllIn(plan).size should be >= 2
    plan should include("Exchange")
  }

  test("search_after: keyset page plans as filter + TakeOrdered — no offset skip-scan") {
    val meta = Corpus.metadata(spark, "/root/testdata/sf0.001")
    val cq = graft.compile.QueryCompiler.compile(
      graft.compile.QueryCompiler.parse("""{"query":"red"}"""),
      graft.model.AclContext(Nil, isAdmin = true))
    val plan = graft.exec.SearchExecutor
      .searchAfter(graft.exec.SearchExecutor.baseBranch(meta, cq), 3.0, "000100")
      .queryExecution.executedPlan.toString
    // the page is a top-k merge over the keyset-filtered stream — the
    // structural difference from the offset form, whose every shard
    // produces from+size rows
    plan should include("TakeOrderedAndProject")
    plan should include("Filter")
    plan should not include "Offset"
  }

  test("field collapsing: inner-hits rank cut runs as a partial WindowGroupLimit") {
    val meta = Corpus.metadata(spark, "/root/testdata/sf0.001")
    val cq = graft.compile.QueryCompiler.compile(
      graft.compile.QueryCompiler.parse("""{"query":"red"}"""),
      graft.model.AclContext(Nil, isAdmin = true))
    val plan = graft.exec.SearchExecutor
      .collapseHits(graft.exec.SearchExecutor.baseBranch(meta, cq), "category", 3)
      .queryExecution.executedPlan.toString
    // the rank ≤ innerK filter pushes below the group-key exchange as a
    // map-side partial + final — the shuffle carries ≤ k rows per group
    // per task, not the scored corpus
    "WindowGroupLimit".r.findAllIn(plan).size should be >= 2
    plan should include("Exchange")
  }

  test("top_hits facet: rank cut is a partial WindowGroupLimit, bucket table broadcast") {
    val meta = Corpus.metadata(spark, "/root/testdata/sf0.001")
    val cq = graft.compile.QueryCompiler.compile(
      graft.compile.QueryCompiler.parse("""{"query":"red"}"""),
      graft.model.AclContext(Nil, isAdmin = true))
    val plan = graft.exec.SearchExecutor
      .topHitsFacet(graft.exec.SearchExecutor.baseBranch(meta, cq), "category", 5, 3)
      .queryExecution.executedPlan.toString
    // per-bucket rank ≤ k pushes below the group-key exchange (q13's o5
    // shape); the buckets-many count table joins as a broadcast, never a
    // shuffled join — the corpus-side branch ships ≤ k rows per group per
    // task and nothing else
    "WindowGroupLimit".r.findAllIn(plan).size should be >= 2
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("quality-survivor argmax runs as a partial WindowGroupLimit top-1") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("a_id", "b_id")
    val plan = graft.operators.Pipeline.bestQualitySurvivors(docs, pairs)
      .queryExecution.executedPlan.toString
    // rank==1 must push below the cluster_rep exchange as a per-partition
    // partial top-1 (map-side) + final — no cluster materializes fully
    "WindowGroupLimit".r.findAllIn(plan).size should be >= 2
  }

  test("sequence packing shuffles once, on the shard key only") {
    val docs = Corpus.metadata(spark, "/root/testdata/sf0.001")
      .select($"id".cast("long").as("doc_id"), $"dataSample".as("text"))
    val plan = graft.operators.Pipeline.packSequences(docs)
      .queryExecution.executedPlan.toString
    "Exchange hashpartitioning\\(shard".r.findAllIn(plan).size shouldBe 1
    plan should not include "SinglePartition" // a global cumsum would serialize here
  }

  test("cdc apply broadcasts the changed-id set against the replica") {
    val snapshot = Seq(("a", "t1"), ("b", "t2")).toDF("id", "title")
    val changes = Seq(("a", 2L, "upsert", "t1b")).toDF("id", "change_version", "change_op", "title")
    val plan = graft.store.MetadataStore.applyChanges(snapshot, changes)
      .queryExecution.executedPlan.toString
    plan should include("Broadcast")
    plan should not include "SortMergeJoin"
  }

  test("stream-static enrichment joins with a broadcast, not a stream-side shuffle join") {
    val events = Seq((java.sql.Timestamp.valueOf("2020-01-01 10:00:00"), 1L, 2.0))
      .toDF("ts", "user_id", "value")
    val dim = Seq((1L, "tier1")).toDF("user_id", "tier")
    // batch twin of the micro-batch plan: the explicit broadcast() hint must
    // survive into a BroadcastHashJoin
    val plan = graft.streaming.EventStream.enrichedWindowedCounts(events, dim)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "SortMergeJoin"
  }

  test("line dedup broadcasts the boilerplate set into an anti-join — the corpus never shuffles to filter") {
    val plan = graft.operators.Dedup.lineDedup(docsDf)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should include("LeftAnti")
    plan should not include "CartesianProduct"
  }

  test("domain mix broadcasts the per-source fractions; the keep/drop filter is a per-row predicate") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val shares = Seq(("src0", 0.5)).toDF("source", "share")
    val plan = graft.operators.Pipeline.domainMix(docs, shares)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }

  test("indexed IVF probe prunes the cell-partitioned index scan") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val cents = graft.operators.Similarity.ivfCentroids(corpus, 8)
    val dir = GraftSession.scratchDir("graft-ivfidx-audit").toString + "/idx"
    graft.operators.Similarity.ivfIndex(corpus, cents)
      .write.partitionBy("cell").parquet(dir)
    val out = graft.operators.Similarity.ivfTopKIndexed(spark.read.parquet(dir), cents,
      corpus.where($"vec_id" < 2), 5, nprobe = 2)
    // plan string, not node collect: AQE's AdaptiveSparkPlanExec hides the
    // subtree from collect(); the cell partition filter must be dynamic
    // pruning fed by the broadcast probe's cell set
    val plan = out.queryExecution.executedPlan.toString
    plan should include("Broadcast")
    plan should include regex """PartitionFilters: \[[^\]]*dynamicpruning"""
  }

  test("pre-filtered ivf probe: the metadata predicate pushes into the cell-pruned index scan") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding", $"label")
    val cents = graft.operators.Similarity.ivfCentroids(corpus, 8)
    val dir = GraftSession.scratchDir("graft-ivffilt-audit").toString + "/idx"
    graft.operators.Similarity.ivfIndex(corpus, cents)
      .write.partitionBy("cell").parquet(dir)
    val out = graft.operators.Similarity.ivfFilteredTopKIndexed(
      spark.read.parquet(dir), cents,
      corpus.where($"vec_id" < 2).drop("label"), 5, nprobe = 2, $"label" === 0)
    val plan = out.queryExecution.executedPlan.toString
    // both pruning tiers compose on ONE scan: dynamic partition pruning from
    // the broadcast probe's cell set AND the label predicate pushed to the
    // parquet reader's row-group filter
    plan should include regex """PartitionFilters: \[[^\]]*dynamicpruning"""
    plan should include regex """PushedFilters: \[[^\]]*EqualTo\(label,0\)"""
  }

  test("ivf-pq probe prunes the cell-partitioned compressed index scan") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val cents = graft.operators.Similarity.ivfCentroids(corpus, 8)
    val books = graft.operators.Similarity.pqCodebooks(corpus, 8, 16)
    val dir = GraftSession.scratchDir("graft-ivfpq-audit").toString + "/idx"
    graft.operators.Similarity.ivfPqIndex(corpus, cents, books)
      .write.partitionBy("cell").parquet(dir)
    val out = graft.operators.Similarity.ivfPqTopKIndexed(
      spark.read.parquet(dir), cents, books, corpus,
      corpus.where($"vec_id" < 2), 5, nprobe = 2, shortlistSize = 20)
    val plan = out.queryExecution.executedPlan.toString
    plan should include("Broadcast")
    plan should include regex """PartitionFilters: \[[^\]]*dynamicpruning"""
  }

  test("pre-filtered ivf-pq probe: predicate pushes into the cell-pruned COMPRESSED scan") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding", $"label")
    val cents = graft.operators.Similarity.ivfCentroids(corpus, 8)
    val books = graft.operators.Similarity.pqCodebooks(corpus, 8, 16)
    val dir = GraftSession.scratchDir("graft-ivfpqfilt-audit").toString + "/idx"
    graft.operators.Similarity.ivfPqIndex(corpus, cents, books, carry = Seq("label"))
      .write.partitionBy("cell").parquet(dir)
    val out = graft.operators.Similarity.ivfPqFilteredTopKIndexed(
      spark.read.parquet(dir), cents, books, corpus.drop("label"),
      corpus.where($"vec_id" < 2).drop("label"), 5, nprobe = 2,
      shortlistSize = 20, $"label" === 0)
    val plan = out.queryExecution.executedPlan.toString
    // both pruning tiers compose on the ONE compressed index scan: dynamic
    // partition pruning from the broadcast probe's cell set AND the carried
    // label predicate pushed to the parquet reader's row-group filter
    plan should include regex """PartitionFilters: \[[^\]]*dynamicpruning"""
    plan should include regex """PushedFilters: \[[^\]]*EqualTo\(label,0\)"""
  }

  test("masked index read: tombstones anti-join as a broadcast — the index scan never shuffles") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val cents = graft.operators.Similarity.ivfCentroids(corpus, 8)
    val dir = GraftSession.scratchDir("graft-ivfdel-audit").toString + "/idx"
    graft.operators.Similarity.ivfIndex(corpus, cents)
      .write.partitionBy("cell").parquet(dir)
    graft.operators.Similarity.ivfDelete(corpus.where($"vec_id" < 3).select("vec_id"), dir)
    val plan = graft.operators.Similarity.ivfReadIndex(spark, dir)
      .queryExecution.executedPlan.toString
    plan should include("BroadcastHashJoin")
    plan should include("LeftAnti")
    // the mask is the ONLY operation on the scan: no exchange of index rows
    plan should not include "Exchange hashpartitioning"
  }

  test("semantic near-dup pairs: cell-blocked candidates dedup on ids only, no cartesian") {
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val cents = Seq(Seq(1f, 0f), Seq(0f, 1f))
    val df = graft.operators.Similarity.semanticNearDupPairs(embDf, cents)
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // same ids-only pair-shuffle discipline as the banded path: the
    // dropDuplicates aggregate's input schema carries no vectors
    df.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.output.map(_.name).toSet == Set("a_id", "b_id") &&
          a.aggregateExpressions.forall(_.isInstanceOf[Attribute]) =>
        a.child.output.map(_.name).toSet
    }.head shouldBe Set("a_id", "b_id")
  }

  test("length profile aggregates in one shuffle with map-side partials") {
    val docs = Seq((1L, "a b c", "s0"), (2L, "d e", "s1")).toDF("doc_id", "text", "source")
    val plan = graft.operators.TextAnalysis.lengthProfile(docs)
      .queryExecution.executedPlan.toString
    // partial percentile buffers fold map-side; ONE exchange on the group key
    plan should include("partial_percentile")
    "Exchange".r.findAllIn(plan).size shouldBe 1
  }

  test("shard export: one hash exchange on the shard key; the writer-visible sort is the final order") {
    val docs = Seq((1L, "a", "s"), (2L, "b", "s")).toDF("doc_id", "text", "source")
    val assigned = docs.withColumn("shard",
      org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.pmod($"doc_id" * 2654435761L, org.apache.spark.sql.functions.lit(4294967296L)),
        org.apache.spark.sql.functions.lit(4L)))
      .repartition(4, $"shard").sortWithinPartitions("shard", "doc_id")
    val plan = assigned.queryExecution.executedPlan.toString
    "Exchange".r.findAllIn(plan).size shouldBe 1
    plan should include("Sort")
  }

  test("relational OLAP plans: pushed scan predicate, partial aggregation, broadcast dims, top-k merge") {
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val p1 = graft.operators.Relational.pricingSummary(li)
      .queryExecution.executedPlan.toString
    // the shipdate cut reaches the parquet reader; sums partial-aggregate
    // map-side before the tiny group exchange
    p1 should include regex """PushedFilters: \[[^\]]*l_shipdate"""
    p1 should include("partial_sum")
    val p2 = graft.operators.Relational.topOrderRevenue(cust, ord, li)
      .queryExecution.executedPlan.toString
    p2 should include("BroadcastHashJoin")
    p2 should include("TakeOrderedAndProject")
    p2 should not include "CartesianProduct"
    val p3 = graft.operators.Relational.nationRevenue(cust, ord, li, nat)
      .queryExecution.executedPlan.toString
    "BroadcastHashJoin".r.findAllIn(p3).size should be >= 2
    p3 should not include "CartesianProduct"
    // o4: the correlated-aggregate shape stays a keyed equi-join with
    // map-side partials — no cartesian, no per-row re-aggregation
    val p4 = graft.operators.Relational.smallQuantityRevenue(li)
      .queryExecution.executedPlan.toString
    p4 should include("partial_sum")
    p4 should not include "CartesianProduct"
    // o5: the rank ≤ k predicate pushes a partial per-partition top-k
    // below the window's shuffle
    val p5 = graft.operators.Relational.topOrdersPerCustomer(ord)
      .queryExecution.executedPlan.toString
    p5 should include("WindowGroupLimit")
    // o6: all three report levels from ONE Expand + aggregate pass
    val p6 = graft.operators.Relational.nationRevenueRollup(cust, ord, li, nat)
      .queryExecution.executedPlan.toString
    p6 should include("Expand")
    p6 should include("partial_sum")
    // o7: EXISTS/NOT-EXISTS plan as true semi/anti joins — each order
    // emitted at most once by the join itself (no post-join distinct), the
    // returned-flag predicate pushed to the probe side's scan, no cartesian
    val p7 = graft.operators.Relational.returnedOrderBreakdown(ord, li)
      .queryExecution.executedPlan.toString
    p7 should include("LeftSemi")
    p7 should include("LeftAnti")
    p7 should not include "CartesianProduct"
    p7 should not include "HashAggregate(keys=[l_orderkey"
    p7 should include regex """PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)"""
    // o8: all FOUR cube grouping sets from ONE Expand + aggregate pass
    val p8qe = graft.operators.Relational.nationRevenueCube(cust, ord, li, nat)
      .queryExecution
    val p8 = p8qe.executedPlan.toString
    p8 should include("Expand")
    p8 should include("partial_sum")
    p8qe.optimizedPlan.collect {
      case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
    }.map(_.projections.size) shouldBe Seq(4)
    // o9: native set ops plan as distinct-aggregates + semi/anti joins —
    // the DISTINCT lands BEFORE the join (bag-to-set), never after
    val p9 = graft.operators.Relational.buyerCohorts(ord)
      .queryExecution.executedPlan.toString
    p9 should include("LeftSemi")
    p9 should include("LeftAnti")
    p9 should not include "CartesianProduct"
    // o10: BOTH window frames (running + moving) ride ONE customer-key
    // exchange — the only hash partitioning in the plan (the trailing
    // exchange is the output sort's range partitioning)
    val p10 = graft.operators.Relational.customerRunningRevenue(ord)
      .queryExecution.executedPlan.toString
    "Exchange hashpartitioning".r.findAllIn(p10).size shouldBe 1
    // o11: the decorrelated Q13 form — the fact side collapses to one row
    // per buyer BELOW the outer join (a partial_count aggregate under the
    // join, never |orders| rows through it), and the priority exclusion
    // reaches the orders scan
    val p11qe = graft.operators.Relational.orderCountDistribution(cust, ord)
      .queryExecution
    val p11 = p11qe.executedPlan.toString
    p11 should include("partial_count")
    p11 should not include "CartesianProduct"
    p11 should include regex """PushedFilters: \[[^\]]*o_orderpriority"""
    // the aggregate sits BELOW the outer join in the logical plan
    val joinNode = p11qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }.head
    joinNode.right.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    } should not be empty
    // o12: the scalar threshold is a one-row broadcast, the inactivity
    // probe a LeftAnti with the date cutoff pushed to the orders scan
    val p12 = graft.operators.Relational.inactiveRichCustomers(cust, ord)
      .queryExecution.executedPlan.toString
    p12 should include("LeftAnti")
    p12 should include("BroadcastNestedLoopJoin")
    p12 should include regex """PushedFilters: \[[^\]]*o_orderdate"""
    // o13: the double-role snowflake — every dimension leg broadcasts
    // (nation twice under different roles), the shipdate window reaches
    // the fact scan, nothing degenerates to a cartesian
    val sup = spark.read.parquet("/root/testdata/sf0.001/supplier.parquet")
    val reg = spark.read.parquet("/root/testdata/sf0.001/region.parquet")
    val p13 = graft.operators.Relational.tradeFlows(sup, cust, ord, li, nat, reg)
      .queryExecution.executedPlan.toString
    "BroadcastHashJoin".r.findAllIn(p13).size should be >= 2
    p13 should not include "CartesianProduct"
    p13 should include regex """PushedFilters: \[[^\]]*l_shipdate"""
    // o14: the Q21 self-join decorrelation — BOTH correlated probes
    // collapse into one ids-only semi-join list; the fact is never
    // row-level self-joined (no inner fact-fact join), no post-join
    // distinct, both probes LeftSemi BELOW the per-supplier count
    val p14qe = graft.operators.Relational.waitingSuppliers(sup, ord, li)
      .queryExecution
    val p14 = p14qe.executedPlan.toString
    "LeftSemi".r.findAllIn(p14).size should be >= 2
    p14 should not include "CartesianProduct"
    p14 should include regex """PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)"""
    // the semi joins sit BELOW the s_name aggregate, and no Distinct
    // rides above any join
    val o14Agg = p14qe.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
        if a.groupingExpressions.exists(_.references.exists(_.name == "s_name")) => a
    }.head
    o14Agg.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.joinType.sql == "LEFT SEMI" => j
    }.size should be >= 2
    // o15: the HAVING-aggregate gate collapses the fact BELOW every join
    // (partial sums on the scan), and the gated totals broadcast through
    // orders and customer — the dimensions never exchange
    val p15 = graft.operators.Relational.largeQuantityOrders(cust, ord, li)
      .queryExecution.executedPlan.toString
    p15 should include("partial_sum")
    "BroadcastHashJoin".r.findAllIn(p15).size should be >= 2
    p15 should not include "CartesianProduct"
    // o16: EXPLICIT pivot values — the fact is scanned ONCE; Spark's
    // pivot rewrite is the two-phase shape (a data-scale combine-safe
    // aggregate to (nation, year) grain, then a metadata-scale
    // pivot-first aggregate over it), never the values-free variant's
    // hidden collect-distinct pre-job over the pivot column
    val p16qe = graft.operators.Relational.nationYearPivot(cust, ord, li, nat)
      .queryExecution
    val p16 = p16qe.executedPlan.toString
    p16 should include("partial_sum")
    p16 should not include "CartesianProduct"
    p16qe.optimizedPlan.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.size shouldBe 2 // the pivot rewrite pair — no third pre-pass exists
    "lineitem" .r.findAllIn(p16).size shouldBe 1 // one fact scan
    // o18: the Q2 decorrelation — region roster LeftSemi BELOW the pair
    // aggregate (out-of-region rows never shuffle), the per-part min a
    // partkey-partitioned window over the collapsed frame (group size
    // bounded by suppliers-per-part, never a lit(1) partition), report
    // capped by TakeOrderedAndProject, no cartesian
    val prt = spark.read.parquet("/root/testdata/sf0.001/part.parquet")
    val p18 = graft.operators.Relational
      .minCostSuppliers(prt, sup, nat, reg, li)
      .queryExecution.executedPlan.toString
    p18 should include("LeftSemi")
    p18 should include("partial_min")
    p18 should include("TakeOrderedAndProject")
    p18 should not include "CartesianProduct"
    p18 should include("windowspecdefinition(l_partkey")
    p18 should not include "windowspecdefinition(1"
    // o19/o20: the global-scalar gates are 1-row broadcasts over the
    // ALREADY-AGGREGATED frame, and at runtime the stats branch rides a
    // ReusedExchange — the fact scans and shuffles ONCE (both subtrees
    // canonical-equal; o20 aligns the isnotnull filter to guarantee it)
    val df19 = graft.operators.Relational.partValueConcentration(li)
    df19.collect()
    val p19 = df19.queryExecution.executedPlan.toString
    p19 should include("partial_sum")
    p19 should include("BroadcastNestedLoopJoin")
    val p19Final = p19.split("== Initial Plan ==").head
    p19Final should include("ReusedExchange")
    "FileScan parquet \\[l_".r.findAllIn(p19Final).size shouldBe 1
    val df20 = graft.operators.Relational.topRevenueSupplier(sup, li)
    df20.collect()
    val p20 = df20.queryExecution.executedPlan.toString
    p20 should include regex """PushedFilters: \[[^\]]*l_shipdate"""
    val p20Final = p20.split("== Initial Plan ==").head
    p20Final should include("ReusedExchange")
    "FileScan parquet \\[l_".r.findAllIn(p20Final).size shouldBe 1
    // o21: the exclusion list broadcasts into a LeftAnti BELOW the
    // distinct count; no explicit pre-distinct stage doubles the shuffle
    // (exactly one exchange keyed on the (attrs, suppkey) distinct grain)
    val p21 = graft.operators.Relational.supplierDiversity(prt, li)
      .queryExecution.executedPlan.toString
    p21 should include regex """BroadcastHashJoin [^\n]*LeftAnti"""
    p21 should not include "CartesianProduct"
    "Exchange hashpartitioning\\(p_brand[^)]*l_suppkey".r
      .findAllIn(p21).size shouldBe 1
    // o22: both nesting layers flatten to LeftSemi joins, the HAVING
    // aggregate partial-sums map-side, and the year window reaches the
    // fact scan as RANGE bounds (year(ts)=y would defeat pushdown)
    val p22 = graft.operators.Relational.volumeSuppliers(prt, sup, nat, li)
      .queryExecution.executedPlan.toString
    "LeftSemi".r.findAllIn(p22).size should be >= 2
    p22 should include("partial_sum")
    p22 should not include "CartesianProduct"
    p22 should include regex """PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate"""
    // o23 (Q19 shape): each side's pushable superset is factored out of
    // the cross-table disjunction and reaches ITS parquet scan as an
    // Or(...) pushed-filter tree — the fact is pruned by the quantity
    // windows and the dim by the brand/size blocks BEFORE the join; the
    // exact disjunction survives as a post-join residual, and the dim
    // side broadcasts
    val p23 = graft.operators.Relational.promoRevenue(prt, li, Seq(
        graft.operators.Relational.PromoBlock("Brand#12", 5, 1, 11),
        graft.operators.Relational.PromoBlock("Brand#23", 10, 10, 20)))
      .queryExecution.executedPlan.toString
    p23 should include regex """PushedFilters: \[[^\]]*Or\([^\]]*l_quantity"""
    p23 should include regex """PushedFilters: \[[^\]]*Or\([^\]]*p_brand"""
    p23 should include("BroadcastHashJoin")
    p23 should not include "CartesianProduct"
    // o24 (Q14 shape): slice and total in ONE conditional aggregate — one
    // fact scan, month window pushed as range bounds, part broadcast
    val p24 = graft.operators.Relational.promoRevenueShare(prt, li)
      .queryExecution.executedPlan.toString
    p24 should include regex """PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate"""
    p24 should include("BroadcastHashJoin")
    p24 should include("partial_sum")
    "FileScan parquet \\[l_".r.findAllIn(p24).size shouldBe 1
    // o25 (Q12 shape): both sides project ids + needed payload only; the
    // year window pushes; the aggregate partial-combines above the join
    val p25 = graft.operators.Relational.priorityLineBuckets(ord, li)
      .queryExecution.executedPlan.toString
    p25 should include regex """PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate"""
    p25 should include("partial_sum")
    p25 should not include "CartesianProduct"
    p25 should include regex """FileScan parquet \[l_orderkey[^\]]*l_returnflag[^\]]*l_shipdate[^\]]*\]"""
    // o26 (Q8 shape): every dimension leg broadcasts (part slice, the
    // supplier→nation map, the customer slice — itself built from two
    // broadcasts), the date window reaches the orders scan as range
    // bounds, the fact is scanned ONCE, and the year aggregate
    // partial-combines; the only wide exchange is lineitem ⋈ orders
    val p26 = graft.operators.Relational.marketShare(
        reg, nat, cust, ord, li, sup, prt)
      .queryExecution.executedPlan.toString
    "BroadcastHashJoin".r.findAllIn(p26).size should be >= 4
    p26 should include regex """PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate"""
    p26 should include("partial_sum")
    p26 should not include "CartesianProduct"
    "FileScan parquet \\[l_".r.findAllIn(p26).size shouldBe 1
    // o27 (Q9 shape): the contains-slice cannot push to a footer stat but
    // the broadcast hash join applies it BEFORE any exchange; supplier→
    // nation broadcasts; one lineitem scan; nation×year partial-combines
    val p27 = graft.operators.Relational.nationProfit(nat, sup, prt, ord, li)
      .queryExecution.executedPlan.toString
    "BroadcastHashJoin".r.findAllIn(p27).size should be >= 3
    p27 should include("partial_sum")
    p27 should not include "CartesianProduct"
    "FileScan parquet \\[l_".r.findAllIn(p27).size shouldBe 1
    // o28 (Q6 shape): ALL THREE predicates reach the parquet scan — the
    // shipdate range, the discount band, and the quantity cap; no join
    // anywhere; the aggregate partial-combines to one row. (The default
    // 100-char metadata truncation would cut the 7-entry PushedFilters
    // list mid-token — widen it for these assertions.)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    val p28 = graft.operators.Relational.discountRevenue(li)
      .queryExecution.executedPlan.toString
    p28 should include regex """PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_shipdate"""
    p28 should include regex """PushedFilters: \[[^\]]*GreaterThanOrEqual\(l_discount"""
    p28 should include regex """PushedFilters: \[[^\]]*LessThan\(l_quantity"""
    p28 should not include "Join"
    p28 should include("partial_sum")
    // o29 (Q10 shape): returnflag reaches the fact scan, the quarter the
    // orders scan; the top-k runs as TakeOrdered over the pre-aggregated
    // per-custkey rows BEFORE any customer join, and the k-row side
    // broadcasts — the customer table never enters the fact pipeline
    val p29qe = graft.operators.Relational
      .returnedRevenueCustomers(cust, ord, li, nat).queryExecution
    val p29 = p29qe.executedPlan.toString
    p29 should include regex """PushedFilters: \[[^\]]*EqualTo\(l_returnflag"""
    p29 should include regex """PushedFilters: \[[^\]]*GreaterThanOrEqual\(o_orderdate"""
    p29 should include("TakeOrderedAndProject")
    p29 should include("BroadcastHashJoin")
    p29 should not include "CartesianProduct"
    // the limit sits BELOW the customer join in the logical plan
    val o29Join = p29qe.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    o29Join.exists(_.collectLeaves().size >= 2) shouldBe true
    val o29Limit = p29qe.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.GlobalLimit => l
    }
    o29Limit should not be empty
  }

  test("range-sorted layout: both ts bounds reach the parquet scan as pushed filters") {
    val dir = GraftSession.scratchDir("graft-sorted-audit").toString + "/ev"
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    graft.sources.SortedLayout.write(ev, "ts", dir, files = 4)
    val out = graft.sources.SortedLayout.readRange(spark, dir, "ts",
      org.apache.spark.sql.functions.lit("2024-01-10 00:00:00").cast("timestamp"),
      org.apache.spark.sql.functions.lit("2024-01-11 00:00:00").cast("timestamp"))
    val plan = out.queryExecution.executedPlan.toString
    // the footer-stat skip only happens for predicates the scan received
    plan should include regex """PushedFilters: \[[^\]]*GreaterThanOrEqual\(ts"""
    plan should include regex """PushedFilters: \[[^\]]*LessThan\(ts"""
  }

  test("data card: ONE corpus scan, the dup flag rides a hash-partitioned window (no groupBy+join re-scan)") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val p = graft.operators.Quality.dataCard(docs)
      .queryExecution.executedPlan.toString
    // the scoring map (tokens, micros, rules, md5) must run exactly once:
    // a groupBy+join canonical-id form re-scans the corpus (measured 2
    // scans, 0 reuse) and doubles the map at 100 TB
    "FileScan parquet".r.findAllIn(p).size shouldBe 1
    p should not include "Join"
    p should include("partial_sum")
  }

  test("bloom layout lookup: the IN predicate reaches the parquet scan as a pushed filter") {
    val dir = GraftSession.scratchDir("graft-bloom-audit").toString + "/docs"
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    graft.sources.BloomLayout.write(docs, "doc_id", dir, files = 4, expectedNdv = 100L)
    val plan = graft.sources.BloomLayout.lookup(spark, dir, "doc_id", Seq(7L, 21L))
      .queryExecution.executedPlan.toString
    // row-group bloom testing only happens for predicates the reader received
    plan should include regex """PushedFilters: \[[^\]]*In\(doc_id"""
  }

  test("z-order box read: all four bounds reach the parquet scan as pushed filters") {
    val dir = GraftSession.scratchDir("graft-zorder-audit").toString + "/ev"
    val ev = graft.streaming.EventStream.withEventTime(
      spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
    graft.sources.ZOrderLayout.write(ev, "ts", "user_id", dir, files = 4)
    val plan = graft.sources.ZOrderLayout.readBox(spark, dir,
        "ts", org.apache.spark.sql.functions.lit("2024-01-10 00:00:00").cast("timestamp"),
        org.apache.spark.sql.functions.lit("2024-01-16 00:00:00").cast("timestamp"),
        "user_id", org.apache.spark.sql.functions.lit(0L),
        org.apache.spark.sql.functions.lit(5L))
      .queryExecution.executedPlan
    // read the scan's own metadata — the plan's toString truncates the
    // four-predicate filter list
    val pushed = plan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata("PushedFilters")
    }.get
    // row-group skipping on either dimension needs its bounds at the reader
    pushed should include("GreaterThanOrEqual(ts")
    pushed should include("LessThan(ts")
    pushed should include("GreaterThanOrEqual(user_id,0)")
    pushed should include("LessThan(user_id,5)")
  }

  test("runtime bloom join: the build side's filter reaches the fact scan as a might_contain predicate") {
    val out = graft.operators.Joins.withRuntimeBloomJoin(spark) { bf =>
      graft.operators.Joins.runtimeFilteredFactJoin(bf,
        "/root/testdata/sf0.001/lineitem.parquet",
        "/root/testdata/sf0.001/orders.parquet",
        "l_orderkey", "o_orderkey", $"o_orderpriority" === "1-URGENT")
    }
    val plan = out.queryExecution.executedPlan.toString
    // the injected runtime filter: a bloom built from the FILTERED dim keys,
    // probed on the fact side before its shuffle
    plan should include("bloom_filter_agg")
    plan should include("might_contain")
    plan should not include "CartesianProduct"
  }

  test("salted join keys on (key, salt): the salt column reaches the join condition") {
    val probe = Seq((1L, "k", 1)).toDF("id", "k", "v")
    val build = Seq(("k", "t")).toDF("k", "tag")
    val plan = graft.operators.Joins.saltedEquiJoin(probe, build, "k", 8, $"id")
      .queryExecution.executedPlan.toString
    plan should include("__salt")
    plan should not include "CartesianProduct"
  }

  test("phrase/BM25: codegen'd scoring projections feeding TakeOrderedAndProject, no join in the phrase path") {
    val entries = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id".cast("string").as("id"), $"text".as("dataSample"))
    val pPlan = graft.exec.SearchExecutor.phraseSearch(entries, "the data")
      .queryExecution.executedPlan.toString
    pPlan should include("TakeOrderedAndProject")
    pPlan should include("graft_phrase_count") // the native kernel, not a HOF
    pPlan should not include "Join"
    val bPlan = graft.exec.SearchExecutor.bm25Search(entries, Seq("the", "data"))
      .queryExecution.executedPlan.toString
    bPlan should include("TakeOrderedAndProject")
    bPlan should include("graft_phrase_count") // tf rides the same kernel
    bPlan should not include "Join" // stats are collected constants
  }

  test("eval contamination report: train scan probed by a broadcast of the eval n-gram set, no cartesian") {
    val ds = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.operators.Pipeline.evalContaminationReport(
        ds.where($"doc_id" % 7 =!= 0), ds.where($"doc_id" % 7 === 0))
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    // the train side is filtered by a broadcast semi join on the eval set
    plan should include("BroadcastHashJoin")
    plan should include("LeftSemi")
  }

  test("item neighbors: user-keyed pair join with map-side partial counts, top-k rank per item, no cartesian") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val plan = graft.operators.EventAnalytics.itemNeighbors(ev,
        org.apache.spark.sql.functions.regexp_extract($"props", "(\\d+)", 1))
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
    plan should include("partial_count") // pair counts combine map-side
    plan should include("Window") // the per-item top-k rank
  }

  test("DSIR weights: log-ratio table broadcasts, per-doc fold partial-aggregates, no cartesian beyond 1-row totals") {
    val ds = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val plan = graft.operators.Pipeline
      .dsirWeights(ds, ds.where($"lang" === "en"), vocabSize = 64)
      .queryExecution.executedPlan.toString
    // the corpus-side score join probes a BROADCAST of the ≤V-row
    // log-ratio table — the corpus never shuffles for it
    plan should include("BroadcastHashJoin")
    // the per-doc Σ c·lw fold partial-aggregates before its doc_id shuffle
    plan should include("partial_sum")
    // the only nested-loop joins are the two 1-row total broadcasts (the
    // classifierWeightedSample stats pattern) — never a row-level cartesian
    plan should not include "CartesianProduct"
  }

  test("MMR rerank: shortlist pair-join keys on q_id (never cross-query), greedy folds per query group") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = graft.operators.Similarity
      .mmrTopK(e, e.where($"vec_id" < 2), k = 3, fetch = 5)
    df.collect() // AQE finalizes stage reuse at runtime
    val plan = df.queryExecution.executedPlan.toString
    // candidate×candidate similarity join is equi-keyed on q_id — fetch²
    // per query by construction, not corpus²
    plan should not include "CartesianProduct"
    plan should include("SortMergeJoin [q_id")
    // the relevance leg (corpus × broadcast-query nested-loop scan, the
    // bruteForceTopK shape) runs ONCE: the self-join's second side reads
    // the shortlist shuffle back as a ReusedExchange
    plan should include("ReusedExchange")
    // the sequential greedy is the per-query typed fold, nothing else
    plan should include("MapGroups")
  }

  test("dimension correlation: join-free moment generation — only the d²-group aggregate shuffles") {
    // r17 shape: the dimension pairs expand NARROWLY from each row's own
    // array (two chained generators), so no join of any kind exists and the
    // only exchange in the plan is the d²-group moment aggregate's — the
    // corpus itself never crosses the wire
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = graft.operators.Similarity.dimensionCorrelation(e, topK = 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "Join"
    plan should include("Generate")
    // the d²/2 moment aggregate partial-combines before the wire
    plan should include("partial_")
    // exactly two exchanges: the corpus spread before the d² expansion and
    // the aggregate's — never a corpus-scale join shuffle (count the AQE
    // FINAL plan only; executedPlan.toString appends the initial plan)
    val finalPlan = plan.split("== Initial Plan ==").head
    "Exchange hashpartitioning".r.findAllIn(finalPlan).size shouldBe 2
  }

  test("PCA projection: literal-vector HOF — no join, no exchange, TakeOrdered top-k") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the moment collection runs at build time; the RETURNED plan is the
    // projection only — the broadcast-stats discipline (Lloyd precedent)
    val plan = graft.operators.Similarity.pcaProject(e, topK = 10)
      .queryExecution.executedPlan.toString
    plan should include("TakeOrderedAndProject")
    plan should not include "Join"
    plan should not include "Exchange"
  }

  test("pageRank: supersteps re-read the persisted edge layout, never rebuild the co-view chain") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val edges = graft.operators.Graph.coviewEdges(ev,
      org.apache.spark.sql.functions.regexp_extract(
        org.apache.spark.sql.functions.col("props"), "(\\d+)", 1))
    val (df, cache) = graft.operators.Graph.pageRankPlan(edges, iters = 3)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    // every superstep scans the in-memory edge table — the user-keyed
    // co-view self-join ran exactly once, at persist time
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 3
    cache.unpersist()
    edges.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("triangleStats: wedge join and close re-read the persisted oriented layout; no cartesian") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val edges = graft.operators.Graph.coviewEdges(ev,
      org.apache.spark.sql.functions.regexp_extract(
        org.apache.spark.sql.functions.col("props"), "(\\d+)", 1))
    val (df, cache) = graft.operators.Graph.triangleStatsPlan(edges)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    // both wedge legs AND the closing semi probe scan the cached oriented
    // table — the orientation chain (degree joins + filter) ran once
    "InMemoryTableScan".r.findAllIn(plan).size should be >= 3
    cache.unpersist()
    edges.sparkSession.sharedState.cacheManager.clearCache()
  }

  test("range search: DPP prunes the unprobed cells and no top-k machinery rides the plan") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val cents = graft.operators.Similarity.ivfCentroids(corpus, 8)
    val dir = GraftSession.scratchDir("graft-range-audit").toString + "/idx"
    graft.operators.Similarity.ivfIndex(corpus, cents)
      .write.partitionBy("cell").parquet(dir)
    val out = graft.operators.Similarity.rangeSearchIndexed(
      spark.read.parquet(dir), cents, corpus.where($"vec_id" < 2), 0.3, nprobe = 2)
    val plan = out.queryExecution.executedPlan.toString
    plan should include("Broadcast")
    plan should include regex """PartitionFilters: \[[^\]]*dynamicpruning"""
    // in-radius sets are unordered by contract: scan → join → filter, no
    // window/sort stage anywhere (the structural difference from top-k)
    plan should not include "Window"
    plan should not include "Sort"
  }

  test("yoy growth: dims broadcast, LAG runs over the pre-aggregated nation grid") {
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val nat = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    val plan = graft.operators.Relational.yoyGrowth(ord, cust, nat)
      .queryExecution.executedPlan.toString
    "BroadcastHashJoin".r.findAllIn(plan).size should be >= 2
    // the window partitions on the nation key of the aggregated grid —
    // and sits ABOVE the aggregate (grid rows, never fact rows)
    plan should include("windowspecdefinition(n_name")
    plan should include("partial_sum")
  }

  test("revenue concentration: the rank is a bucket-partitioned window, not a single global sort") {
    val ord = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val df = graft.operators.Relational.revenueConcentration(ord)
    // localCheckpoint materializes the report — pin the plan via a
    // re-declared lazy copy of the rank pipeline? No: the checkpoint
    // hides upstream, so assert on the REPORT VALUES' bucket invariance
    // instead (the c9 discipline): the exact rank must not depend on the
    // bucket count
    val a = df.collect().map(_.toSeq).toSeq
    val b = graft.operators.Relational.revenueConcentration(ord, rangeBuckets = 7)
      .collect().map(_.toSeq).toSeq
    a shouldBe b
    // cumulative share closes at exactly 10^6
    a.last(4) shouldBe 1000000L
  }

  test("KS drift: the running ECDF is a bucket-partitioned window, not a single global sort") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .where($"event_type" === "view")
    val df = graft.operators.Quality.ksDrift(
      ev.where($"event_id" % 2 === 0), ev.where($"event_id" % 2 === 1))
    val plan = df.queryExecution.executedPlan.toString
    // in-bucket cumulative sums partition on the range bucket (the fact-
    // volume window); only the rangeBuckets-row offset table may sort flat
    plan should include("windowspecdefinition(bkt")
    plan should not include "CartesianProduct"
  }

  test("markov transitions: the lead() pairing rides ONE user-partitioned window; totals broadcast") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val df = graft.operators.EventAnalytics.transitionMatrix(ev)
    val plan = df.queryExecution.executedPlan.toString
    plan should include("windowspecdefinition(user_id")
    plan should include("BroadcastHashJoin")
    plan should not include "CartesianProduct"
  }
}
