package graft

import graft.model.MetadataEntry
import graft.store.{MetadataStore, Validation}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files
import java.sql.Timestamp

class MetadataStoreSpec extends AnyFunSuite with Matchers with SparkSupport {
  import spark.implicits._

  private val fixedClock: () => Timestamp = () => Timestamp.valueOf("2020-01-01 00:00:00")

  private def freshStore(): MetadataStore =
    new MetadataStore(spark, Files.createTempDirectory("graft-store").toString, fixedClock)

  private val e0 = Fixtures.corpus.head

  /** Hidden `.staging-*` directories left under a store root. */
  private def stagingDebris(root: java.nio.file.Path): Set[String] =
    graft.util.FsUtil.listDir(root)(_.map(_.getFileName.toString)
      .filter(_.startsWith(".staging-")).toSet)

  test("pair commit: a crash between generation publish and manifest swap is invisible, " +
    "heals as one orphan, and the redone advance converges on the batch history") {
    import graft.store.PairCommit
    val st = freshStore()
    Fixtures.corpus.take(5).foreach(st.upsert) // v1..v5
    val root = Files.createTempDirectory("graft-pair").toString
    val m0 = PairCommit.init(root, st, 4)
    m0 shouldBe PairCommit.Manifest(5L, 1L)
    val gen1Files = graft.util.FsUtil.listDir(
      java.nio.file.Paths.get(root, "hist", "gen-1"))(_.toSeq).toString
    st.partialUpdate(Fixtures.corpus(1).id, Map("title" -> "rev-b")) // v6
    // crash: gen-2 published, manifest NOT swapped
    PairCommit.advance(spark, root, st, 4, crashBeforeSwap = true) shouldBe m0
    PairCommit.manifest(root) shouldBe m0
    // pair reader: BOTH halves still resolve at the old instant — the
    // snapshot half shows the pre-update title and the history half has
    // no closed interval, even though the store's CURRENT ran ahead
    PairCommit.readSnapshot(st, root)
      .where(col("id") === Fixtures.corpus(1).id)
      .select("title").as[String].collect() shouldBe
      Array(Fixtures.corpus(1).title)
    PairCommit.readHistory(spark, root)
      .where(col("valid_to").isNotNull).count() shouldBe 0L
    // gen-1 untouched by the crashed advance (immutability)
    graft.util.FsUtil.listDir(
      java.nio.file.Paths.get(root, "hist", "gen-1"))(_.toSeq).toString shouldBe gen1Files
    // redo WITHOUT an explicit heal: the orphan generation is manifest-
    // invisible, so the redone advance replaces it in place
    val m1 = PairCommit.advance(spark, root, st, 4)
    m1 shouldBe PairCommit.Manifest(6L, 2L)
    PairCommit.heal(root) shouldBe 0L // nothing left to sweep
    // the committed overlay equals the store's rebuilt history exactly
    val disk = PairCommit.readHistory(spark, root)
      .select("id", "title", "valid_from", "valid_to")
    val rebuilt = st.history().select("id", "title", "valid_from", "valid_to")
    disk.exceptAll(rebuilt).count() shouldBe 0L
    rebuilt.exceptAll(disk).count() shouldBe 0L
    // time travel on the pair: the gen-1 overlay still reads cleanly
    PairCommit.readHistoryAt(spark, root, 1L)
      .where(col("valid_to").isNotNull).count() shouldBe 0L
    // a no-op advance leaves the manifest be
    PairCommit.advance(spark, root, st, 4) shouldBe m1
  }

  test("pair rebase: one subsuming generation replaces the chain, resolution unchanged, " +
    "disk shrinks; torn rebase invisible; empty-store pair reads as empty history") {
    import graft.store.PairCommit
    val st = freshStore()
    Fixtures.corpus.take(5).foreach(st.upsert) // v1..v5
    val root = Files.createTempDirectory("graft-pair-rb").toString
    PairCommit.init(root, st, 4)
    // three advances → four generations
    st.partialUpdate(Fixtures.corpus(1).id, Map("title" -> "rev-b")) // v6
    PairCommit.advance(spark, root, st, 4)
    st.delete(Fixtures.corpus(2).id) // v7
    PairCommit.advance(spark, root, st, 4)
    st.partialUpdate(Fixtures.corpus(1).id, Map("title" -> "rev-c")) // v8
    val m = PairCommit.advance(spark, root, st, 4)
    m shouldBe PairCommit.Manifest(8L, 4L)
    val hd = java.nio.file.Paths.get(root, "hist")
    def gens(): Seq[String] = graft.util.FsUtil.listDir(hd)(
      _.map(_.getFileName.toString).filter(_.startsWith("gen-")).toSeq.sorted)
    gens() shouldBe Seq("gen-1", "gen-2", "gen-3", "gen-4")
    val before = PairCommit.readHistory(spark, root)
      .select("id", "title", "valid_from", "valid_to")
      .orderBy("id", "valid_from").collect().toSeq
    val bytesBefore = graft.util.FsUtil.sizeOf(hd)
    // torn rebase: manifest unmoved, reader unaffected, one orphan
    PairCommit.rebase(spark, root, 4, crashBeforeSwap = true) shouldBe m
    PairCommit.manifest(root) shouldBe m
    PairCommit.readHistory(spark, root)
      .select("id", "title", "valid_from", "valid_to")
      .orderBy("id", "valid_from").collect().toSeq shouldBe before
    PairCommit.heal(root) shouldBe 1L
    // committed rebase: single generation, same resolution, less disk
    PairCommit.rebase(spark, root, 4) shouldBe PairCommit.Manifest(8L, 5L)
    gens() shouldBe Seq("gen-5")
    PairCommit.readHistory(spark, root)
      .select("id", "title", "valid_from", "valid_to")
      .orderBy("id", "valid_from").collect().toSeq shouldBe before
    graft.util.FsUtil.sizeOf(hd) should be < bytesBefore
    // sweep is idempotent and never touches the manifest generation
    PairCommit.sweepSubsumed(root) shouldBe 0L
    // a pair over an EMPTY store: gen-1 has no bucket dirs — the overlay
    // returns the empty history with the full schema, not a reduce() throw
    val empty = freshStore()
    val eroot = Files.createTempDirectory("graft-pair-empty").toString
    PairCommit.init(eroot, empty, 4)
    val eh = PairCommit.readHistory(spark, eroot)
    eh.count() shouldBe 0L
    eh.columns should contain allOf ("id", "title", "valid_from", "valid_to", "bucket")
  }

  test("merge: three arms in one atomic mixed-op commit; patch keeps unpatched fields; " +
    "dup ids refused; an invalid insert aborts the whole merge") {
    val st = freshStore()
    val e = Fixtures.corpus
    e.take(4).foreach(st.upsert) // v1..v4
    val v0 = st.committedVersion
    val all = spark.createDataset(e).toDF()
    val fields = graft.model.MetadataSchema.structType.fields.toSeq
    def nulled(id: String, over: Map[String, org.apache.spark.sql.Column]) =
      all.where(col("id") === id).select(fields.map { f =>
        over.getOrElse(f.name,
          if (f.name == "id") col("id")
          else org.apache.spark.sql.functions.lit(null).cast(f.dataType)).as(f.name)
      }: _*)
    import org.apache.spark.sql.functions.lit
    val patch = nulled(e(1).id, Map("title" -> lit("patched"))).withColumn("_delete", lit(false))
    val del = nulled(e(2).id, Map.empty).withColumn("_delete", lit(true))
    val ins = all.where(col("id") === e(5).id).withColumn("_delete", lit(false))
    val noop = nulled(e(6).id, Map.empty).withColumn("_delete", lit(true)) // not matched
    val stats = st.merge(patch.unionByName(del).unionByName(ins).unionByName(noop))
    stats shouldBe MetadataStore.MergeStats(1L, 1L, 1L)
    st.committedVersion shouldBe v0 + 1 // ONE commit carried all three arms
    val cur = st.current.collect().map(x => x.id -> x).toMap
    cur(e(1).id).title shouldBe "patched"
    cur(e(1).id).category shouldBe e(1).category // null patch field kept current
    cur.contains(e(2).id) shouldBe false
    cur(e(5).id).title shouldBe e(5).title
    cur.contains(e(6).id) shouldBe false // not-matched delete is a no-op
    // ambiguous source refused up front — the Delta multiple-source-rows rule
    an[IllegalArgumentException] should be thrownBy st.merge(patch.unionByName(patch))
    // an invalid INSERT aborts the WHOLE merge — the valid patch beside it
    // must not land (all-or-nothing)
    // a fresh id built off an existing row — all required fields null →
    // the insert arm must reject it
    val badIns = nulled(e(7).id, Map("id" -> lit("zzz999"))).withColumn("_delete", lit(false))
    val okPatch = nulled(e(0).id, Map("title" -> lit("should-not-land")))
      .withColumn("_delete", lit(false))
    an[IllegalArgumentException] should be thrownBy st.merge(okPatch.unionByName(badIns))
    st.get(e(0).id).get.title shouldBe e(0).title
    st.committedVersion shouldBe v0 + 1
  }

  test("streamed merge feed: converges on the batch-merge state; full replay is content-idempotent") {
    import graft.streaming.EventStream
    import org.apache.spark.sql.functions.lit
    val st = freshStore()
    val e = Fixtures.corpus
    e.take(4).foreach(st.upsert)
    val all = spark.createDataset(e).toDF()
    val fields = graft.model.MetadataSchema.structType.fields.toSeq
    def nulled(id: String, over: Map[String, org.apache.spark.sql.Column]) =
      all.where(col("id") === id).select(fields.map { f =>
        over.getOrElse(f.name,
          if (f.name == "id") col("id")
          else org.apache.spark.sql.functions.lit(null).cast(f.dataType)).as(f.name)
      }: _*)
    val feed = nulled(e(1).id, Map("title" -> lit("patched"))).withColumn("_delete", lit(false))
      .unionByName(nulled(e(2).id, Map.empty).withColumn("_delete", lit(true)))
      .unionByName(all.where(col("id") === e(5).id).withColumn("_delete", lit(false)))
      .unionByName(nulled(e(6).id, Map.empty).withColumn("_delete", lit(true)))
    val root = Files.createTempDirectory("graft-smerge").toString
    feed.repartition(3).write.parquet(s"$root/src")
    EventStream.streamMergeFeed(spark, s"$root/src", st)
    val after = st.current.collect().map(x => x.id -> x).toMap
    after(e(1).id).title shouldBe "patched"
    after(e(1).id).category shouldBe e(1).category
    after.contains(e(2).id) shouldBe false
    after(e(5).id).title shouldBe e(5).title
    after.contains(e(6).id) shouldBe false
    // full replay from a wiped checkpoint: every batch re-merges, and the
    // operation's content-idempotence means the state cannot move — a
    // re-patch lands the same image, a re-delete is not-matched, a
    // re-insert becomes a full-field update to the identical image
    graft.util.FsUtil.deleteRecursively(
      java.nio.file.Paths.get(s"$root/_merge_checkpoint"))
    EventStream.streamMergeFeed(spark, s"$root/src", st)
    val replayed = st.current.collect().map(x => x.id -> x).toMap
    replayed.keySet shouldBe after.keySet
    replayed(e(1).id).title shouldBe "patched"
    replayed(e(1).id).category shouldBe e(1).category
    replayed.contains(e(2).id) shouldBe false
  }

  test("replica checksum: CDC-advanced replica matches the primary bucket-for-bucket; " +
    "a planted divergence localizes to its bucket") {
    val st = freshStore()
    Fixtures.corpus.take(6).foreach(st.upsert)
    val snapshot = st.currentAt(6L).toDF()
    st.partialUpdate(Fixtures.corpus(1).id, Map("title" -> "drifted?"))
    st.delete(Fixtures.corpus(2).id)
    st.upsert(Fixtures.corpus(7))
    val replica = MetadataStore.applyChanges(snapshot, st.changesBetween(6L))
    def sums(df: org.apache.spark.sql.DataFrame) =
      MetadataStore.stateChecksum(df).as[(Long, Long, Long)].collect().toSeq
    val primary = sums(st.current.toDF())
    sums(replica) shouldBe primary
    // corrupt ONE replica row: exactly the affected bucket(s) diverge,
    // the rest stay byte-identical — the blast-radius property
    val corrupted = replica.withColumn("title",
      org.apache.spark.sql.functions.when(
        col("id") === Fixtures.corpus(3).id,
        org.apache.spark.sql.functions.lit("bitrot"))
        .otherwise(col("title")))
    val diff = sums(corrupted).toSet.diff(primary.toSet)
    diff.size should (be >= 1 and be <= 2) // row moved bucket or changed in place
    primary.map(_._2).sum shouldBe sums(corrupted).map(_._2).sum // counts conserved
  }

  test("replica checksum: NULL fields and embedded delimiters cannot collide") {
    import spark.implicits._
    def sum(rows: Seq[(String, String, String)]) =
      MetadataStore.stateChecksum(
        rows.toDF("id", "title", "category"), buckets = 1)
        .as[(Long, Long, Long)].collect().toSeq
    // NULL title vs any literal title (incl. a sentinel-looking one) differ
    val withNull = Seq[(String, String, String)](("a", null, "c"))
    sum(withNull) should not be sum(Seq(("a", "N", "c")))
    sum(withNull) should not be sum(Seq(("a", "", "c")))
    // a '|' inside a field cannot shift content across field boundaries
    sum(Seq(("a|b", "t", "c"))) should not be sum(Seq(("a", "b|t", "c")))
    sum(Seq(("a", "t|x", "c"))) should not be sum(Seq(("a", "t", "x|c")))
    // escape char itself round-trips injectively
    sum(Seq(("a\\", "|t", "c"))) should not be sum(Seq(("a", "\\|t", "c")))
  }

  test("version diff: added/removed/changed only; revert and compaction surface nothing") {
    val st = freshStore()
    val e = Fixtures.corpus
    e.take(3).foreach(st.upsert) // versions 1-3
    st.partialUpdate(e(0).id, Map("title" -> "mutated")) // v4
    st.delete(e(1).id) // v5
    st.upsert(e(3)) // v6
    // a change that is fully REVERTED nets to unchanged — absent from the diff
    st.partialUpdate(e(2).id, Map("title" -> "temp")) // v7
    st.partialUpdate(e(2).id, Map("title" -> e(2).title)) // v8: back
    st.compact() // base restatement: a logical no-op the diff must not see
    val out = st.versionDiff(3L)
      .as[(String, String, String)].collect()
      .map { case (i, o, t) => i -> ((o, t)) }.toMap
    out.keySet shouldBe Set(e(0).id, e(1).id, e(3).id)
    out(e(0).id) shouldBe ("changed", "mutated") // NEW title reported
    out(e(1).id) shouldBe ("removed", e(1).title) // OLD title reported
    out(e(3).id) shouldBe ("added", e(3).title)
    // identical endpoints diff empty
    st.versionDiff(8L).count() shouldBe 0L
  }

  test("change feed: net change per id in the window; untouched rows absent") {
    val st = freshStore()
    Fixtures.corpus.take(3).foreach(st.upsert) // versions 1-3
    val e = Fixtures.corpus
    st.partialUpdate(e(0).id, Map("title" -> "first")) // v4
    st.partialUpdate(e(0).id, Map("title" -> "second")) // v5: supersedes v4
    st.upsert(e(3)) // v6
    st.delete(e(3).id) // v7: upsert-then-delete nets to a delete
    val changes = st.changesBetween(3L)
      .select("id", "change_op", "title")
      .as[(String, String, String)].collect()
      .map { case (i, o, t) => i -> ((o, t)) }.toMap
    changes.keySet shouldBe Set(e(0).id, e(3).id) // e(1)/e(2) untouched → absent
    changes(e(0).id) shouldBe ("upsert", "second")
    changes(e(3).id)._1 shouldBe "delete"
    // checkpoint-resume: a consumer who has seen through v5 gets only v6/v7
    st.changesBetween(5L).select("id").as[String].collect().toSeq shouldBe Seq(e(3).id)
    // nothing new after the head version
    st.changesBetween(7L).count() shouldBe 0L
  }

  test("cdc apply: a replica advanced by the feed equals the source's current table") {
    val st = freshStore()
    Fixtures.corpus.take(5).foreach(st.upsert) // versions 1-5
    val snapshot = st.currentAt(5L).toDF()
    val e = Fixtures.corpus
    st.partialUpdate(e(0).id, Map("title" -> "replicated"))
    st.delete(e(1).id)
    st.upsert(e(7))
    val replica = MetadataStore.applyChanges(snapshot, st.changesBetween(5L))
    replica.orderBy("id").collect().toSeq shouldBe
      st.current.toDF().orderBy("id").collect().toSeq
  }

  test("cdc apply is idempotent: re-applying the same batch changes nothing") {
    val st = freshStore()
    Fixtures.corpus.take(3).foreach(st.upsert)
    val snapshot = st.currentAt(3L).toDF()
    st.partialUpdate(Fixtures.corpus.head.id, Map("title" -> "once"))
    st.delete(Fixtures.corpus(1).id)
    val batch = st.changesBetween(3L)
    val once = MetadataStore.applyChanges(snapshot, batch)
    val twice = MetadataStore.applyChanges(once, batch)
    twice.orderBy("id").collect().toSeq shouldBe once.orderBy("id").collect().toSeq
  }

  test("incremental aggregate maintenance equals recomputation across two feed cycles") {
    val st = freshStore()
    Fixtures.corpus.take(5).foreach(st.upsert) // versions 1-5
    val snap5 = st.currentAt(5L).toDF()
    val agg5 = MetadataStore.categoryStats(snap5)
    val e = Fixtures.corpus
    // cycle 1: a category move, a delete, an insert
    st.partialUpdate(e(0).id, Map("category" -> "catmoved"))
    st.delete(e(1).id)
    st.upsert(e(7))
    val maintained1 = MetadataStore.maintainCategoryStats(agg5, snap5, st.changesBetween(5L))
    maintained1.orderBy("category").collect().toSeq shouldBe
      MetadataStore.categoryStats(st.current.toDF()).orderBy("category").collect().toSeq
    // cycle 2 composes on cycle 1's output — including emptying a category:
    // the moved row leaves again, so 'catmoved' must drop from the aggregate
    val v1 = st.versionHistory().map(_.version).max
    val snapV1 = st.currentAt(v1).toDF()
    st.delete(e(0).id)
    val maintained2 = MetadataStore.maintainCategoryStats(maintained1, snapV1, st.changesBetween(v1))
    maintained2.orderBy("category").collect().toSeq shouldBe
      MetadataStore.categoryStats(st.current.toDF()).orderBy("category").collect().toSeq
    maintained2.where($"category" === "catmoved").count() shouldBe 0L
    // the retraction fetch is a broadcast semi probe, never an IN literal —
    // the form that survives a catch-up window growing with the corpus
    val plan = maintained2.queryExecution.optimizedPlan.toString
    plan should not include " IN ("
    plan should include("LeftSemi")
  }

  test("S3 upsert: created vs updated distinguished (201 vs 200)") {
    val st = freshStore()
    st.upsert(e0) shouldBe true // created
    st.upsert(e0.copy(title = "v2")) shouldBe false // updated
    st.current.count() shouldBe 1
    st.get(e0.id).get.title shouldBe "v2" // read-your-writes
  }

  test("bucketed compaction: same contents, lookups and mutations still correct") {
    val st = new MetadataStore(spark,
      Files.createTempDirectory("graft-store-bucketed").toString, fixedClock, numBuckets = 8)
    Fixtures.corpus.foreach(st.upsert)
    st.compact()
    st.current.collect().toSet shouldBe Fixtures.corpus.toSet
    st.get(e0.id).get shouldBe e0
    // post-compaction mutations (deltas over the bucketed base) still resolve
    st.partialUpdate(e0.id, Map("title" -> "patched")) shouldBe true
    st.get(e0.id).get.title shouldBe "patched"
    st.delete(Fixtures.corpus(1).id) shouldBe true
    st.current.count() shouldBe (Fixtures.corpus.size - 1).toLong
    // a second compaction folds those deltas into a new bucketed base
    st.compact()
    st.get(e0.id).get.title shouldBe "patched"
    st.get(Fixtures.corpus(1).id) shouldBe None
  }

  test("bucketed layout is self-describing: reopening with a different numBuckets stays correct") {
    val dir = Files.createTempDirectory("graft-store-rebucket").toString
    val st8 = new MetadataStore(spark, dir, fixedClock, numBuckets = 8)
    Fixtures.corpus.foreach(st8.upsert)
    st8.compact()
    // a config change before the next compaction must NOT mis-prune reads:
    // the base's _nbuckets sidecar, not the constructor, keys the pruning
    val st16 = new MetadataStore(spark, dir, fixedClock, numBuckets = 16)
    Fixtures.corpus.foreach(e => st16.get(e.id) shouldBe Some(e))
    st16.compact() // rewrites the base at 16 buckets
    Fixtures.corpus.foreach(e => st16.get(e.id) shouldBe Some(e))
  }

  test("S9 time travel: older versions stay readable; future versions clamp to current") {
    val st = freshStore()
    Fixtures.corpus.take(3).foreach(st.upsert) // versions 1..3
    st.delete(Fixtures.corpus.head.id) // version 4
    st.compact() // version 5
    st.currentAt(3).collect().toSet shouldBe Fixtures.corpus.take(3).toSet
    st.currentAt(1).collect().toSet shouldBe Set(Fixtures.corpus.head)
    st.currentAt(999).collect().toSet shouldBe st.current.collect().toSet
    st.current.count() shouldBe 2 // the delete holds at CURRENT
  }

  test("maybeCompact folds the log only past the threshold and preserves state") {
    val st = freshStore()
    Fixtures.corpus.take(3).foreach(st.upsert)
    st.maybeCompact(threshold = 5) shouldBe false // 3 deltas < 5
    Fixtures.corpus.slice(3, 6).foreach(st.upsert)
    st.maybeCompact(threshold = 5) shouldBe true // 6 deltas ≥ 5
    st.maybeCompact(threshold = 5) shouldBe false // log just folded
    st.current.collect().toSet shouldBe Fixtures.corpus.take(6).toSet
  }

  test("crash recovery: an orphan base from a failed compact never hides later mutations") {
    val dir = Files.createTempDirectory("graft-store-crash")
    val st = new MetadataStore(spark, dir.toString, fixedClock)
    st.upsert(e0) // delta-1, CURRENT=1
    st.compact() // base-2, CURRENT=2
    // simulate a crash between segment publish and pointer commit:
    // base-2 is fully on disk but CURRENT still reads 1
    Files.writeString(dir.resolve("CURRENT"), "1")
    st.get(e0.id) shouldBe Some(e0) // orphan invisible pre-commit
    // the next mutation must NOT reuse version 2 (which would make resolve
    // adopt the orphan as the base and drop this delta)
    val e1 = Fixtures.corpus(1)
    st.upsert(e1)
    st.get(e1.id) shouldBe Some(e1)
    st.get(e0.id) shouldBe Some(e0) // adopted orphan base still serves e0
    st.current.count() shouldBe 2
  }

  test("S2 point lookup: absent id → None (404)") {
    val st = freshStore()
    st.get("nope") shouldBe None
  }

  test("creationTime defaulted from injected clock (reference metadata_entry.py:88-94)") {
    val st = freshStore()
    st.upsert(e0.copy(creationTime = null))
    st.get(e0.id).get.creationTime shouldBe fixedClock()
  }

  test("invalid targetUri rejected (reference tests/test_metadata_entries.py:321-329)") {
    Seq("//onet.pl/", "http://", "some_path").foreach { bad =>
      Validation.validTargetUri(bad) shouldBe false
    }
    Validation.validTargetUri("hdfs://nameservice1/org/db0/x") shouldBe true
    val st = freshStore()
    an[IllegalArgumentException] should be thrownBy st.upsert(e0.copy(targetUri = "some_path"))
  }

  test("S4 partial update: subset of fields; unknown key rejected; absent id → false") {
    val st = freshStore()
    st.upsert(e0)
    st.partialUpdate(e0.id, Map("title" -> "patched", "recordCount" -> 777L)) shouldBe true
    val got = st.get(e0.id).get
    got.title shouldBe "patched"
    got.recordCount shouldBe 777L
    got.category shouldBe e0.category
    an[IllegalArgumentException] should be thrownBy st.partialUpdate(e0.id, Map("bogus" -> "x"))
    st.partialUpdate("ghost", Map("title" -> "x")) shouldBe false
  }

  test("S5 delete: tombstone observed immediately; absent id → false") {
    val st = freshStore()
    st.upsert(e0)
    st.delete(e0.id) shouldBe true
    st.get(e0.id) shouldBe None
    st.current.count() shouldBe 0
    st.delete(e0.id) shouldBe false
  }

  test("S6 bulk load: per-row error isolation — bad rows returned, good rows loaded") {
    val st = freshStore()
    val bad = e0.copy(id = "bad", targetUri = "some_path")
    val rejected = st.bulkLoad(spark.createDataset(Fixtures.corpus :+ bad))
    rejected.collect().map(_.id).toSeq shouldBe Seq("bad")
    st.current.count() shouldBe 10
  }

  test("bulkLoad: duplicate ids land as ONE row per id in the committed delta; newest creationTime wins") {
    val dir = Files.createTempDirectory("graft-store-bulkdup")
    val st = new MetadataStore(spark, dir.toString, fixedClock)
    val older = Fixtures.corpus(2).copy(title = "older",
      creationTime = Timestamp.valueOf("2019-01-01 00:00:00"))
    val newer = Fixtures.corpus(2).copy(title = "newer",
      creationTime = Timestamp.valueOf("2019-06-01 00:00:00"))
    st.bulkLoad(spark.createDataset(Seq(newer, Fixtures.corpus(0), older)))
      .count() shouldBe 0L
    // the segment itself, read straight from disk — not through the resolve
    val seg = spark.read.parquet(dir.resolve("delta-1").toString)
    seg.count() shouldBe 2L
    seg.select("id").distinct().count() shouldBe 2L
    seg.where(col("id") === Fixtures.corpus(2).id).select("title").as[String]
      .collect().toSeq shouldBe Seq("newer")
    st.get(Fixtures.corpus(2).id).get.title shouldBe "newer"
  }

  /** `entries` with one extra row, id `nullcount`, whose recordCount is NULL
    * (reachable through `.as[MetadataEntry]` over a DataFrame).
    */
  private def withNullCount(entries: Seq[MetadataEntry]): DataFrame =
    spark.createDataset(entries).toDF().unionByName(
      spark.createDataset(Seq(e0.copy(id = "nullcount"))).toDF()
        .withColumn("recordCount", lit(null).cast("long")))

  test("bulkLoad: a row with a NULL recordCount is rejected, not silently lost") {
    val st = freshStore()
    val rejected = st.bulkLoad(withNullCount(Fixtures.corpus.take(3)).as[MetadataEntry])
    // ids via the DataFrame: deserializing the null Long would throw
    rejected.toDF().select("id").as[String].collect().toSeq shouldBe Seq("nullcount")
    st.current.count() shouldBe 3L
  }

  test("dataset upsertAll: a row with a NULL recordCount aborts the batch") {
    val st = freshStore()
    val e = intercept[IllegalArgumentException] {
      st.upsertAll(withNullCount(Fixtures.corpus.take(2)).as[MetadataEntry])
    }
    e.getMessage should include("nothing committed")
    st.versionHistory() shouldBe empty
  }

  test("merge: an inserted row with a NULL recordCount aborts the merge") {
    val st = freshStore()
    st.upsert(Fixtures.corpus(1)) // v1
    val e = intercept[IllegalArgumentException] {
      st.merge(withNullCount(Seq(Fixtures.corpus(1).copy(title = "patched"))))
    }
    e.getMessage should include("nothing committed")
    st.committedVersion shouldBe 1L
    st.get(Fixtures.corpus(1).id).get.title shouldBe Fixtures.corpus(1).title
  }

  test("S7 drop empties the table; subsequent upserts work") {
    val st = freshStore()
    st.bulkLoad(spark.createDataset(Fixtures.corpus))
    st.drop()
    st.current.count() shouldBe 0
    st.upsert(e0) shouldBe true
    st.current.count() shouldBe 1
  }

  test("upsertAll: one delta commit for the whole batch; last duplicate wins") {
    val st = freshStore()
    val batch = Fixtures.corpus.take(3) :+ Fixtures.corpus(2).copy(title = "batch-wins")
    st.upsertAll(batch)
    // the 4-entry batch is ONE committed segment, not four
    st.versionHistory() shouldBe Seq(MetadataStore.VersionEvent(1L, "delta"))
    st.current.count() shouldBe 3
    st.get(Fixtures.corpus(2).id).get.title shouldBe "batch-wins"
  }

  test("dataset upsertAll: one executor-side delta; newest creationTime wins duplicates; clock default applies") {
    val st = freshStore()
    val older = Fixtures.corpus(2).copy(title = "older",
      creationTime = Timestamp.valueOf("2019-01-01 00:00:00"))
    val newer = Fixtures.corpus(2).copy(title = "newer",
      creationTime = Timestamp.valueOf("2019-06-01 00:00:00"))
    val noClock = Fixtures.corpus(3).copy(creationTime = null)
    // dataset order carries no meaning — newest creationTime must win in
    // either arrangement
    st.upsertAll(spark.createDataset(Seq(newer, Fixtures.corpus(0), older, noClock)))
    st.versionHistory() shouldBe Seq(MetadataStore.VersionEvent(1L, "delta"))
    st.current.count() shouldBe 3
    st.get(Fixtures.corpus(2).id).get.title shouldBe "newer"
    st.get(Fixtures.corpus(3).id).get.creationTime shouldBe fixedClock()
  }

  test("dataset upsertAll: an invalid row aborts the whole batch before anything commits") {
    val dir = Files.createTempDirectory("graft-store-dsinv")
    val st = new MetadataStore(spark, dir.toString, fixedClock)
    val bad = Fixtures.corpus(1).copy(targetUri = "some_path") // reference-invalid shape
    val e = intercept[IllegalArgumentException] {
      st.upsertAll(spark.createDataset(Seq(Fixtures.corpus(0), bad)))
    }
    e.getMessage should include("nothing committed")
    st.current.count() shouldBe 0
    st.versionHistory() shouldBe empty
    // the staged segment was discarded — no segment or staging debris remains
    // (the abort happens before the commit lock, so at most LOCK may exist)
    graft.util.FsUtil.listDir(dir)(_.map(_.getFileName.toString).toSet -- Set("LOCK")) shouldBe empty
  }

  test("bulkLoad: a write that throws propagates and leaves no staging debris, nothing committed") {
    val dir = Files.createTempDirectory("graft-store-bulkthrow")
    val st = new MetadataStore(spark, dir.toString, fixedClock)
    st.upsert(e0) // v1
    val poison = Fixtures.corpus(2).id
    val batch = spark.createDataset(Fixtures.corpus.take(5)).map { e =>
      if (e.id == poison) throw new IllegalStateException("poisoned row") else e
    }
    val thrown = intercept[Exception](st.bulkLoad(batch))
    Iterator.iterate[Throwable](thrown)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("poisoned row"))) shouldBe true
    stagingDebris(dir) shouldBe empty
    st.committedVersion shouldBe 1L
    st.current.collect().toSeq shouldBe Seq(e0)
  }

  test("dataset upsertAll: empty batch is a no-op (no version burned, no segment)") {
    val st = freshStore()
    st.upsertAll(spark.emptyDataset[graft.model.MetadataEntry])
    st.versionHistory() shouldBe empty
    st.upsert(e0) shouldBe true
    st.versionHistory() shouldBe Seq(MetadataStore.VersionEvent(1L, "delta"))
  }

  test("dataset upsertAll never materializes the batch on the driver: the only action is the write") {
    val st = freshStore()
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        seen.add(funcName); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      st.upsertAll(spark.createDataset(Fixtures.corpus))
      // the listener bus is async — wait for the write's event to land
      val deadline = System.nanoTime() + 10_000_000_000L
      while (seen.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val funcs = seen.asScala.toSeq
    funcs should not be empty
    // a driver-side path would surface as a row-returning action
    // ("collect"/"collectAsList"/"take"/"head"); the distributed path is a
    // single write command
    funcs.foreach(f => Seq("collect", "collectAsList", "take", "head", "toLocalIterator")
      should not contain f)
    st.current.count() shouldBe Fixtures.corpus.size.toLong
  }

  test("CAS upsert: version tokens gate every write; delete resets to expect-absent") {
    val st = freshStore()
    val e = Fixtures.corpus
    // create-if-absent on an empty store applies; a second expect-absent
    // write on the same id is the duplicate-create conflict
    st.upsertIf(e(0), None) shouldBe true
    st.upsertIf(e(0).copy(title = "dup-create"), None) shouldBe false
    // read-modify-write with the read token applies; replaying the SAME
    // token is the lost update and must reject
    val tok = st.versionOf(e(0).id)
    tok should not be empty
    st.upsertIf(e(0).copy(title = "patched"), tok) shouldBe true
    st.upsertIf(e(0).copy(title = "lost-update"), tok) shouldBe false
    st.get(e(0).id).get.title shouldBe "patched"
    // a plain (unconditional) writer bumps the version: an older token
    // captured before it must reject
    val tok2 = st.versionOf(e(0).id)
    st.upsert(e(0).copy(title = "unconditional"))
    st.upsertIf(e(0).copy(title = "stale-after-plain"), tok2) shouldBe false
    // delete makes the id expect-absent again: re-create via None applies
    st.delete(e(0).id)
    st.versionOf(e(0).id) shouldBe None
    st.upsertIf(e(0).copy(title = "recreated"), None) shouldBe true
    st.get(e(0).id).get.title shouldBe "recreated"
    // wrong-version on an absent id rejects (nothing to compare against)
    st.upsertIf(e(1), Some(1L)) shouldBe false
    st.get(e(1).id) shouldBe None
  }

  test("CAS upsert races a plain writer on a second instance: the guard catches the interleave") {
    val root = Files.createTempDirectory("graft-store-cas").toString
    val a = new MetadataStore(spark, root, fixedClock)
    val b = new MetadataStore(spark, root, fixedClock)
    val e = Fixtures.corpus.head
    a.upsert(e)
    val tok = a.versionOf(e.id)
    // b commits between a's token read and a's CAS: the CAS must reject
    b.upsert(e.copy(title = "raced-in"))
    a.upsertIf(e.copy(title = "would-lose-the-race"), tok) shouldBe false
    a.get(e.id).get.title shouldBe "raced-in"
    // with a fresh token the CAS goes through on either instance
    b.upsertIf(e.copy(title = "cas-after-race"), b.versionOf(e.id)) shouldBe true
    a.get(e.id).get.title shouldBe "cas-after-race"
  }

  test("optimistic concurrency: two instances on one root, racing commits — none lost") {
    val dir = Files.createTempDirectory("graft-store-cc").toString
    val a = new MetadataStore(spark, dir, fixedClock)
    val b = new MetadataStore(spark, dir, fixedClock)
    // sequential interleave first: each instance commits against whatever
    // the other left on disk (no shared in-memory state)
    a.upsert(Fixtures.corpus(0))
    b.upsert(Fixtures.corpus(1))
    a.upsert(Fixtures.corpus(2))
    // then true races: both instances committing concurrently
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fa = Future(Fixtures.corpus.slice(3, 6).foreach(a.upsert))
    val fb = Future(Fixtures.corpus.slice(6, 9).foreach(b.upsert))
    Await.result(fa.zip(fb), 180.seconds)
    // every mutation from both writers is visible to a fresh reader, and the
    // committed history is a clean strictly-increasing chain of 9 deltas —
    // no commit was clobbered, skipped, or silently dropped
    new MetadataStore(spark, dir, fixedClock).current.collect().toSet shouldBe
      Fixtures.corpus.take(9).toSet
    val vs = a.versionHistory().map(_.version)
    vs shouldBe vs.sorted
    vs.distinct.size shouldBe vs.size
    vs.size shouldBe 9
    // every lost claim discarded its staged segment
    stagingDebris(java.nio.file.Paths.get(dir)) shouldBe empty
  }

  test("compact CAS: a racing compaction never shadows concurrent mutations") {
    // compact() snapshots, writes a base, then commits — a mutation landing
    // between snapshot and commit would be SHADOWED by the base unless the
    // freshness CAS rejects the stale base and re-snapshots (the lost-update
    // mode the optimistic protocol exists to prevent)
    val dir = Files.createTempDirectory("graft-store-compactrace").toString
    val a = new MetadataStore(spark, dir, fixedClock)
    val b = new MetadataStore(spark, dir, fixedClock)
    a.upsert(Fixtures.corpus(0))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val mutations = Future(Fixtures.corpus.slice(1, 7).foreach(a.upsert))
    val compactions = Future((1 to 3).foreach(_ => b.compact()))
    Await.result(mutations.zip(compactions), 300.seconds)
    b.compact() // fold whatever remains — every upsert must still resolve
    new MetadataStore(spark, dir, fixedClock).current.collect().toSet shouldBe
      Fixtures.corpus.take(7).toSet
    // every stale base the freshness CAS rejected was discarded
    stagingDebris(java.nio.file.Paths.get(dir)) shouldBe empty
  }

  test("vacuum: disk shrinks, retained window resolves unchanged, below-floor reads throw") {
    val dir = Files.createTempDirectory("graft-store-vacuum")
    val st = new MetadataStore(spark, dir.toString, fixedClock)
    Fixtures.corpus.take(3).foreach(st.upsert) // deltas 1..3
    st.compact() // base-4
    st.partialUpdate(e0.id, Map("title" -> "v5")) // delta-5
    st.compact() // base-6
    st.delete(Fixtures.corpus(1).id) // delta-7
    def segs: Set[String] = graft.util.FsUtil.listDir(dir)(
      _.map(_.getFileName.toString)
        .filter(n => n.startsWith("base-") || n.startsWith("delta-")).toSet)
    val before = segs
    // keep 4 versions: oldest kept = 7-4+1 = 4 → anchor base-4 → 1..3 deleted
    st.vacuum(keepVersions = 4) shouldBe Seq(1L, 2L, 3L)
    st.retentionFloor shouldBe 4L
    (before -- segs) shouldBe Set("delta-1", "delta-2", "delta-3")
    // CURRENT resolve is unchanged
    st.current.count() shouldBe 2
    st.get(e0.id).get.title shouldBe "v5"
    // compaction bases are plain "base" events; the history survives vacuum
    st.versionHistory().filter(_.kind == "base").map(_.version) shouldBe Seq(4L, 6L)
    // time travel INSIDE the retention window still works
    st.currentAt(4L).collect().toSet shouldBe Fixtures.corpus.take(3).toSet
    st.currentAt(5L).count() shouldBe 3
    // below the floor: history is gone, reads fail loudly
    an[IllegalArgumentException] should be thrownBy st.currentAt(3L)
    an[IllegalStateException] should be thrownBy st.changesBetween(1L)
    // a feed window wholly at/above the floor is sound (needs deltas > 3 only)
    st.changesBetween(3L).count() shouldBe 2 // the v5 update + the delete
    // idempotent: nothing else to delete at the same retention
    st.vacuum(keepVersions = 4) shouldBe Seq.empty
  }

  test("version history records drops; changesBetween refuses to span a truncation") {
    val st = freshStore()
    st.upsert(e0) // delta-1
    st.upsert(Fixtures.corpus(1)) // delta-2
    st.drop() // base-3, truncation
    st.upsert(Fixtures.corpus(2)) // delta-4
    st.versionHistory().map(e => e.version -> e.kind) shouldBe
      Seq(1L -> "delta", 2L -> "delta", 3L -> "truncate", 4L -> "delta")
    // an incremental replay across the drop would silently diverge a replica
    // (the truncation has no row-level representation) — it must throw
    an[IllegalStateException] should be thrownBy st.changesBetween(1L)
    // from the truncation forward the incremental feed is sound again
    st.changesBetween(3L).select("id").as[String].collect().toSeq shouldBe
      Seq(Fixtures.corpus(2).id)
  }

  test("point lookup pushes the id filter into every parquet scan (no full-log window)") {
    val st = freshStore()
    Fixtures.corpus.foreach(st.upsert)
    val plan = st.lookup("1").queryExecution.executedPlan.toString
    plan should include("PushedFilters: [IsNotNull(id), EqualTo(id,1)]")
  }

  test("compact folds the delta log, preserving state") {
    val st = freshStore()
    Fixtures.corpus.foreach(st.upsert)
    st.delete("3")
    st.partialUpdate("1", Map("title" -> "compacted?"))
    st.compact()
    st.current.count() shouldBe 9
    st.get("1").get.title shouldBe "compacted?"
    st.get("3") shouldBe None
  }

  private def historyRows(st: MetadataStore): Seq[(String, String, Long, Option[Long])] =
    st.history().select("id", "title", "valid_from", "valid_to")
      .as[(String, String, Long, Option[Long])].collect().toSeq
      .sortBy(r => (r._1, r._3))

  test("scd2 history: delete closes an interval, re-create opens a fresh one") {
    val st = freshStore()
    val e = Fixtures.corpus
    st.upsert(e(0))                                   // v1
    st.upsert(e(1))                                   // v2
    st.partialUpdate(e(0).id, Map("title" -> "r2"))   // v3
    st.delete(e(1).id)                                // v4
    st.upsert(e(1).copy(title = "again"))             // v5
    historyRows(st) shouldBe Seq(
      (e(0).id, e(0).title, 1L, Some(3L)),
      (e(0).id, "r2", 3L, None),
      (e(1).id, e(1).title, 2L, Some(4L)),
      (e(1).id, "again", 5L, None))
  }

  test("scd2 history: compaction bases are restatements, not changes; a vacuum anchor seeds the floor") {
    val st = freshStore()
    val e = Fixtures.corpus
    st.upsert(e(0)); st.upsert(e(1)); st.upsert(e(2)) // deltas 1..3
    st.compact()                                      // base-4 (restatement)
    st.partialUpdate(e(0).id, Map("title" -> "r5"))   // delta-5
    // pre-vacuum: full delta history resolves; base-4 contributes nothing
    historyRows(st) shouldBe Seq(
      (e(0).id, e(0).title, 1L, Some(5L)),
      (e(0).id, "r5", 5L, None),
      (e(1).id, e(1).title, 2L, None),
      (e(2).id, e(2).title, 3L, None))
    // vacuum to anchor base-4: deltas 1..3 gone — the anchor restatement
    // now seeds every pre-anchor row at the documented resolution floor
    st.vacuum(keepVersions = 2) should not be empty
    historyRows(st) shouldBe Seq(
      (e(0).id, e(0).title, 4L, Some(5L)),
      (e(0).id, "r5", 5L, None),
      (e(1).id, e(1).title, 4L, None),
      (e(2).id, e(2).title, 4L, None))
  }

  test("scd2 history: a drop() resets the table's life; empty store is empty history") {
    val st = freshStore()
    historyRows(st) shouldBe Seq.empty
    val e = Fixtures.corpus
    st.upsert(e(0)) // v1
    st.drop()       // base-2 truncation
    st.upsert(e(1)) // v3
    historyRows(st) shouldBe Seq((e(1).id, e(1).title, 3L, None))
  }

  test("lookupAsOf: batch probes resolve by equi-join (no nested loop), deleted ids drop") {
    val st = freshStore()
    val e = Fixtures.corpus
    st.upsert(e(0))                                   // v1
    st.partialUpdate(e(0).id, Map("title" -> "r2"))   // v2
    st.delete(e(0).id)                                // v3
    val probes = Seq((e(0).id, 1L), (e(0).id, 2L), (e(0).id, 3L), ("nope", 1L))
      .toDF("id", "as_of_version")
    val out = st.lookupAsOf(probes)
    val plan = out.queryExecution.executedPlan.toString
    plan should not include "BroadcastNestedLoopJoin"
    plan should not include "CartesianProduct"
    out.select("id", "as_of_version", "title").as[(String, Long, String)]
      .collect().toSeq.sortBy(_._2) shouldBe Seq(
        (e(0).id, 1L, e(0).title), (e(0).id, 2L, "r2"))
  }

  test("persisted history: refresh rewrites ONLY the changed ids' buckets — cold " +
    "bucket files byte-identical — replay of a window is idempotent") {
    val st = freshStore()
    val e = Fixtures.corpus
    // seed enough ids to populate several buckets
    (0 until 6).foreach(i => st.upsert(e(i)))          // v1..v6
    val dir = java.nio.file.Files.createTempDirectory("graft-hist").toString + "/h"
    val nB = 8
    MetadataStore.writeHistory(st.history(), nB, dir)

    def snapshot(): Map[String, Seq[(String, Long, Long)]] = {
      val root = java.nio.file.Paths.get(dir)
      graft.util.FsUtil.listDir(root)(_.filter(p =>
          p.getFileName.toString.startsWith("bucket=")).toSeq).map { d =>
        d.getFileName.toString ->
          graft.util.FsUtil.listDir(d)(_.filter(_.getFileName.toString.endsWith(".parquet"))
            .toSeq.map { f =>
              val bytes = java.nio.file.Files.readAllBytes(f)
              (f.getFileName.toString, bytes.length.toLong,
                java.util.Arrays.hashCode(bytes).toLong)
            }.sortBy(_._1))
      }.toMap
    }
    val before = snapshot()

    st.partialUpdate(e(0).id, Map("title" -> "r7"))    // v7
    st.delete(e(1).id)                                 // v8
    val window = st.changesBetween(6, 8)
    MetadataStore.refreshHistoryPartitions(spark, dir, window, nB)

    def onDisk(): Seq[(String, String, Long, Option[Long])] =
      spark.read.parquet(dir).select("id", "title", "valid_from", "valid_to")
        .as[(String, String, Long, Option[Long])].collect().toSeq
        .sortBy(r => (r._1, r._3))
    val wantFresh = historyRows(st)
    onDisk() shouldBe wantFresh

    // cold buckets (ids 2..5 untouched) keep their files byte-identical
    val touched = Seq(e(0).id, e(1).id).toDF("id")
      .select(graft.operators.ViewMaintenance.viewBucket(col("id"), nB)).as[Int]
      .collect().map(bk => s"bucket=$bk").toSet
    val after = snapshot()
    val cold = before.keySet.diff(touched)
    cold should not be empty // the fixture must actually exercise a cold bucket
    cold.foreach { d => after(d) shouldBe before(d) }

    // REPLAY of the same window: the valid_from < change_version guard makes
    // the fold re-emit half-applied buckets identically — no degenerate
    // [v, v) intervals, no duplicate opened rows
    MetadataStore.refreshHistoryPartitions(spark, dir, window, nB)
    onDisk() shouldBe wantFresh
  }

  test("history takedown: purge erases every interval of the ids, sweeps a bucket " +
    "that empties out, leaves cold buckets byte-identical, and re-runs as a no-op") {
    val st = freshStore()
    val e = Fixtures.corpus
    (0 until 6).foreach(i => st.upsert(e(i)))          // v1..v6
    st.partialUpdate(e(0).id, Map("title" -> "r7"))    // v7: e0 now has 2 intervals
    val dir = java.nio.file.Files.createTempDirectory("graft-purge").toString + "/h"
    val nB = 8
    MetadataStore.writeHistory(st.history(), nB, dir)

    def bucketOf(id: String): Int =
      Seq(id).toDF("id")
        .select(graft.operators.ViewMaintenance.viewBucket(col("id"), nB))
        .as[Int].head()
    def files(): Map[String, Seq[String]] = {
      val root = java.nio.file.Paths.get(dir)
      graft.util.FsUtil.listDir(root)(_.filter(p =>
          p.getFileName.toString.startsWith("bucket=")).toSeq).map { d =>
        d.getFileName.toString -> graft.util.FsUtil.listDir(d)(
          _.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted)
      }.toMap
    }
    // pick a victim whose bucket holds no other fixture id — purging it
    // must SWEEP the directory, not leave stale rows behind
    val lone = (0 until 6).map(i => e(i).id)
      .groupBy(bucketOf).collect { case (_, ids) if ids.size == 1 => ids.head }
      .headOption.getOrElse(fail("fixture has no singleton bucket at nB=8"))
    val before = files()

    val purged = MetadataStore.purgeHistoryIds(spark, dir, Seq(e(0).id, lone), nB)
    purged shouldBe (if (lone == e(0).id) 2L else 3L) // e0's two intervals (+ lone's one)

    val left = spark.read.parquet(dir).select("id").distinct().as[String].collect()
    left should contain noneOf (e(0).id, lone)
    left.length shouldBe (0 until 6).map(i => e(i).id).count(id => id != e(0).id && id != lone)

    // lone's bucket directory is GONE (swept), unless e0 shares it
    if (bucketOf(lone) != bucketOf(e(0).id) || lone == e(0).id)
      files() should not contain key(s"bucket=${bucketOf(lone)}")
    // cold buckets untouched byte-for-byte (file sets unchanged)
    val touched = Set(bucketOf(e(0).id), bucketOf(lone)).map(bk => s"bucket=$bk")
    before.keySet.diff(touched).foreach { d => files()(d) shouldBe before(d) }

    // idempotent: a second purge of the same ids erases nothing
    MetadataStore.purgeHistoryIds(spark, dir, Seq(e(0).id, lone), nB) shouldBe 0L
  }

  test("log redaction: the ids vanish from EVERY version — deltas and the bucketed " +
    "base surgically rewritten, commit structure preserved, crash remnant heals") {
    val dir = Files.createTempDirectory("graft-redact").toString
    val st = new MetadataStore(spark, dir, fixedClock, numBuckets = 4)
    val e = Fixtures.corpus
    (0 until 6).foreach(i => st.upsert(e(i)))        // v1..v6
    st.partialUpdate(e(0).id, Map("title" -> "r7"))  // delta-7
    st.compact()                                     // base-8 (bucketed)
    st.partialUpdate(e(1).id, Map("title" -> "r9"))  // delta-9
    val doomedIds = Seq(e(0).id, e(2).id)

    def bucketFiles(): Map[String, Seq[String]] = {
      val b8 = java.nio.file.Paths.get(dir, "base-8")
      graft.util.FsUtil.listDir(b8)(_.filter(p =>
          p.getFileName.toString.startsWith("_bucket=")).toSeq).map { d =>
        d.getFileName.toString -> graft.util.FsUtil.listDir(d)(
          _.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSeq.sorted)
      }.toMap
    }
    val before = bucketFiles()

    // e0 sits in delta-1, delta-7 and base-8; e2 in delta-3 and base-8
    st.redactIds(doomedIds) shouldBe 5L

    val gone = col("id").isin(doomedIds: _*)
    st.current.where(gone).count() shouldBe 0L
    st.currentAt(6).where(gone).count() shouldBe 0L // time travel: never existed
    st.history().where(gone).count() shouldBe 0L
    st.changesBetween(0).where(gone).count() shouldBe 0L
    // everything else intact: versions, other rows (incl. the post-base delta)
    st.versionHistory().map(ev => ev.version -> ev.kind) shouldBe
      ((1L to 7L).map(_ -> "delta") :+ (8L -> "base") :+ (9L -> "delta"))
    st.current.count() shouldBe 4L
    st.get(e(1).id).get.title shouldBe "r9"
    // base-8: only the doomed ids' buckets rewritten; cold buckets byte-set-identical
    val after = bucketFiles()
    val changed = after.count { case (k, fs) => before.get(k).forall(_ != fs) }
    changed should be <= 2
    before.keySet.count(k => after.get(k).contains(before(k))) should be >= (before.size - 2)

    // second redaction of the same ids: nothing left to remove
    st.redactIds(doomedIds) shouldBe 0L

    // crash remnant: simulate a failure between the two swap renames —
    // segment missing, .redact-old- present — the next call heals it first
    val d9 = java.nio.file.Paths.get(dir, "delta-9")
    java.nio.file.Files.move(d9, java.nio.file.Paths.get(dir, ".redact-old-delta-9"))
    st.redactIds(Seq("no-such-id")) shouldBe 0L
    java.nio.file.Files.isDirectory(d9) shouldBe true
    st.get(e(1).id).get.title shouldBe "r9"
  }

  /** Spark jobs that `f` starts on this thread. The listener bus delivers
    * asynchronously but in order, so a fence job run after `f` under the
    * same job group bounds the count: once the fence's start is seen, every
    * job `f` started has been seen. Jobs of other threads carry no group.
    */
  private def jobsStartedBy[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach(p => seen.add(Option(p.getProperty("spark.job.description")).getOrElse("")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "")
      val out = try f finally sc.setJobDescription("fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10_000_000_000L
      while (!seen.contains("fence") && System.nanoTime() < deadline) Thread.sleep(10)
      import scala.jdk.CollectionConverters._
      seen.contains("fence") shouldBe true
      (out, seen.asScala.count(_ != "fence"))
    } finally sc.removeSparkListener(listener)
  }

  test("point reads start no Spark job: get and versionOf on a multi-segment store") {
    val st = freshStore()
    st.bulkLoad(spark.createDataset(Fixtures.corpus)) // v1
    st.compact() // v2: a base
    st.partialUpdate(e0.id, Map("title" -> "patched")) // v3
    st.delete(Fixtures.corpus(1).id) // v4
    st.upsert(Fixtures.corpus(2).copy(title = "rewritten")) // v5
    val ids = Seq(e0.id, Fixtures.corpus(1).id, Fixtures.corpus(2).id, Fixtures.corpus(3).id, "nope")
    val (got, jobs) = jobsStartedBy(ids.map(id => (st.get(id), st.versionOf(id))))
    jobs shouldBe 0
    got shouldBe Seq(
      (Some(e0.copy(title = "patched")), Some(3L)),
      (None, None),
      (Some(Fixtures.corpus(2).copy(title = "rewritten")), Some(5L)),
      (Some(Fixtures.corpus(3)), Some(2L)),
      (None, None))
    // the counter itself sees the relational form's job(s)
    jobsStartedBy(st.lookup(e0.id).collect())._2 should be > 0
  }

  test("point reads: creationTime round-trips exactly through an INT96 base, a driver-written " +
    "delta and a bucketed base without its sidecar") {
    val dir = Files.createTempDirectory("graft-store-ts")
    val st = new MetadataStore(spark, dir.toString, fixedClock)
    val stamps = Seq("2019-03-04 05:06:07.123456", "1970-01-01 00:00:00.000001",
      "1969-12-31 23:59:59.999999").map(Timestamp.valueOf)
    val es = stamps.zip(Fixtures.corpus).map { case (t, e) => e.copy(creationTime = t) }
    def check(label: String): Unit = es.foreach { e =>
      withClue(s"$label ${e.id}: ") {
        st.get(e.id) shouldBe Some(e)
        st.get(e.id) shouldBe st.lookup(e.id).as[MetadataEntry].collect().headOption
        st.versionOf(e.id) shouldBe st.lookupVersion(e.id).as[Long].collect().headOption
      }
    }
    st.upsertAll(es) // v1: one delta written on the driver
    check("driver delta")
    st.compact() // v2: an executor-written base
    val baseFile = graft.util.FsUtil.listDir(dir.resolve("base-2"))(
      _.filter(_.getFileName.toString.endsWith(".parquet")).toSeq).head
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(baseFile.toUri), new org.apache.hadoop.conf.Configuration()))
    try reader.getFooter.getFileMetaData.getSchema.getColumnDescription(Array("creationTime"))
      .getPrimitiveType.getPrimitiveTypeName.name shouldBe "INT96"
    finally reader.close()
    check("executor base")
    new MetadataStore(spark, dir.toString, fixedClock, numBuckets = 4).compact() // v3
    Files.delete(dir.resolve("base-3").resolve("_nbuckets"))
    check("bucketed base, no sidecar")
  }

  test("point reads: a published-but-uncommitted segment and a staging dir stay invisible to get") {
    val dir = Files.createTempDirectory("graft-store-orphan")
    val st = new MetadataStore(spark, dir.toString, fixedClock)
    val e1 = Fixtures.corpus(1)
    st.upsert(e0) // v1
    st.upsert(e0.copy(title = "orphaned")) // v2
    st.upsert(e1) // v3
    // v2 stays published but uncommitted; v3 goes back to a staging dir
    Files.move(dir.resolve("delta-3"), dir.resolve(".staging-delta-3-0badc0de"))
    Files.writeString(dir.resolve("CURRENT"), "1")
    st.get(e0.id) shouldBe Some(e0)
    st.versionOf(e0.id) shouldBe Some(1L)
    st.get(e1.id) shouldBe None
    st.versionOf(e1.id) shouldBe None
    st.get(e0.id) shouldBe st.lookup(e0.id).as[MetadataEntry].collect().headOption
  }
}
