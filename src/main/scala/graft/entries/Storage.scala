package graft
package entries

import graft.GraftSession.scratch
import graft.compile.QueryCompiler
import graft.exec.SearchExecutor
import graft.model.AclContext
import graft.store.MetadataStore
import org.apache.spark.sql.functions._

import Fixtures._
import OracleSql._

/** Versioned metadata-store entries: scans, mutations, time travel, views, history and pair commits. */
object Storage {
  val entries: Seq[Entry] = Seq(
    // S1 index scan: resolved current table off the versioned store
    Entry("s1_store_scan", (s, d) => {
      val st = loadedStore(s, d)
      st.current.toDF().select(col("id")).orderBy("id")
    },
      M + "SELECT id FROM meta WHERE id BETWEEN '000001' AND '000050' ORDER BY id"),

    // S2 point lookup by id (404 = empty result is covered in specs)
    Entry("s2_point_lookup", (s, d) => {
      import s.implicits._
      val st = loadedStore(s, d)
      st.get("000005").toSeq.toDS().select(col("id"), col("title"))
    },
      M + "SELECT id, title FROM meta WHERE id = '000005'"),

    // S3 upsert (batch form: ONE delta commit for the 10-entry load) +
    // S4 partial update + S5 delete + compaction, read back
    Entry("s3_s4_s5_roundtrip", (s, d) => {
      val st = freshStore(s)
      st.upsertAll(corpusEntries(s, d, "000001", "000010").collect().toSeq)
      st.partialUpdate("000002", Map("title" -> "patched"))
      st.delete("000003")
      st.compact()
      st.current.toDF()
        .select(col("id"), col("category"), col("title"),
          col("recordCount").as("record_count"))
        .orderBy("id")
    },
      M + "SELECT id, category, CASE WHEN id = '000002' THEN 'patched' ELSE title END AS title, " +
        "recordCount AS record_count FROM meta " +
        "WHERE id BETWEEN '000001' AND '000010' AND id <> '000003' ORDER BY id"),

    // S14 compare-and-set upsert: the lost-update guard. Script: load five
    // entries; CAS with expect-absent on an existing id rejects; CAS with
    // a wrong version rejects; CAS with the read version applies; CAS
    // create on a new id applies; replaying the FIRST token after the
    // successful CAS rejects (the lost update the guard exists for). The
    // five outcomes ride as constant columns so any misbehavior breaks
    // the hash; the resolved table proves exactly one patch landed
    Entry("s14_cas_upsert", (s, d) => {
      val st = freshStore(s)
      val base = corpusEntries(s, d, "000001", "000005").collect().toSeq
      st.upsertAll(base)
      val e2 = base.find(_.id == "000002").get
      val r1 = st.upsertIf(e2.copy(title = "stale-create"), None)
      val r2 = st.upsertIf(e2.copy(title = "wrong-version"), Some(999L))
      val tok = st.versionOf("000002")
      val r3 = st.upsertIf(e2.copy(title = "cas-patched"), tok)
      val r4 = st.upsertIf(base.head.copy(id = "zcas01"), None)
      val r5 = st.upsertIf(e2.copy(title = "lost-update"), tok)
      st.current.toDF().select(col("id"), col("title"))
        .withColumn("cas_stale_create", lit(r1))
        .withColumn("cas_wrong_version", lit(r2))
        .withColumn("cas_applied", lit(r3))
        .withColumn("cas_created", lit(r4))
        .withColumn("cas_lost_update", lit(r5))
        .orderBy("id")
    },
      // s14: the final state carries exactly one CAS patch plus the created
      // id (title copied from 000001); the outcome constants must match
      M + "SELECT id, CASE WHEN id = '000002' THEN 'cas-patched' ELSE title END AS title, " +
        "false AS cas_stale_create, false AS cas_wrong_version, " +
        "true AS cas_applied, true AS cas_created, false AS cas_lost_update " +
        "FROM meta WHERE id BETWEEN '000001' AND '000005' " +
        "UNION ALL SELECT 'zcas01' AS id, " +
        "(SELECT title FROM meta WHERE id = '000001') AS title, " +
        "false, false, true, true, false " +
        "ORDER BY id"),

    // S6 bulk load with per-row error isolation
    Entry("s6_bulk_isolation", (s, d) => {
      import s.implicits._
      val st = freshStore(s)
      val bad = Seq(badEntry("zbad1", "not_a_uri"), badEntry("zbad2", "http://")).toDS()
      val rejected = st.bulkLoad(corpusEntries(s, d, "000001", "000100").unionByName(bad))
      rejected.toDF().select(col("id"), lit("rejected").as("status"))
        .unionByName(st.current.toDF().select(col("id"), lit("loaded").as("status")))
        .orderBy("id")
    },
      M + "SELECT id, 'loaded' AS status FROM meta WHERE id BETWEEN '000001' AND '000100' " +
        "UNION ALL SELECT 'zbad1', 'rejected' UNION ALL SELECT 'zbad2', 'rejected' ORDER BY id"),

    // S7 drop table, then the store keeps working
    Entry("s7_drop_reload", (s, d) => {
      val st = loadedStore(s, d)
      st.drop()
      corpusEntries(s, d, "000001", "000001").collect().foreach(st.upsert)
      st.current.toDF().select(col("id"), col("title")).orderBy("id")
    },
      M + "SELECT id, title FROM meta WHERE id = '000001'"),

    // S13 retention vacuum: mutate → compact → mutate, then vacuum history
    // below the retained window. The entry REQUIRES the pre-compaction
    // segments (v1, v2) to be physically deleted — failing that errors the
    // entry — and the oracle gates that the resolved current table is
    // unaffected by the deletion (spec additionally pins the disk shrink
    // and the below-floor throw)
    Entry("s13_retention_vacuum", (s, d) => {
      val st = freshStore(s)
      st.upsertAll(corpusEntries(s, d, "000001", "000050").collect().toSeq) // v1
      st.partialUpdate("000010", Map("title" -> "patched"))                 // v2
      st.compact()                                                          // v3: base
      st.delete("000020")                                                   // v4
      val removed = st.vacuum(keepVersions = 2) // anchor base-3; v1+v2 history drops
      require(removed == Seq(1L, 2L),
        s"vacuum should delete segments 1 and 2, deleted: $removed")
      st.current.toDF().select(col("id"), col("title")).orderBy("id")
    },
      // s13: vacuum is physical-only — the resolved table must equal the
      // logical state (patch applied, delete applied) with history gone
      M + "SELECT id, CASE WHEN id = '000010' THEN 'patched' ELSE title END AS title " +
        "FROM meta WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' ORDER BY id"),

    // S9 time travel: read the table as of an older committed version —
    // mutations after the snapshot version are invisible
    Entry("s9_time_travel", (s, d) => {
      val st = loadedStore(s, d) // version 1
      st.delete("000010")
      st.partialUpdate("000020", Map("title" -> "mutated-later"))
      st.compact()
      st.currentAt(1L).toDF().select(col("id"), col("title")).orderBy("id") // pre-mutation snapshot
    },
      M + "SELECT id, title FROM meta WHERE id BETWEEN '000001' AND '000050' ORDER BY id"),

    // S24 VERSION DIFF: row-level "what changed between catalog
    // snapshots" via time travel — added/removed/changed classified by
    // length-prefixed full-row hash, reading THROUGH a compaction (a
    // base restatement is a logical no-op and must not surface); ids +
    // hashes + titles only cross the full-outer join, never payloads
    Entry("s24_version_diff", (s, d) => {
      val st = threeVersionStore(s, d, "changed-title")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      st.compact() // the diff must NOT see the restatement as changes
      st.versionDiff(1L)
    },
      // s24: the scripted lifecycle's net row diff as literals — the
      // update surfaces with its NEW title, the delete with its OLD, the
      // insert as added; the other 48 rows (and the compaction
      // restatement) must NOT appear
      M + "SELECT id, 'changed' AS op, 'changed-title' AS title FROM meta WHERE id = '000010' " +
        "UNION ALL SELECT id, 'removed' AS op, title FROM meta WHERE id = '000020' " +
        "UNION ALL SELECT id, 'added' AS op, title FROM meta WHERE id = '000200' ORDER BY id"),

    // S10 change feed: CDC read of the delta log after the initial bulk
    // load (version 1) — an update, a delete, and an insert surface as net
    // row-level changes; the untouched 49 rows do NOT appear
    Entry("s10_changefeed", (s, d) => {
      val st = threeVersionStore(s, d, "changed-title")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      st.changesBetween(1L)
        .select(col("id"), col("change_op").as("op"), col("title"))
        .orderBy("id")
    },
      M + "SELECT id, 'upsert' AS op, 'changed-title' AS title FROM meta WHERE id = '000010' " +
        "UNION ALL SELECT id, 'delete' AS op, title FROM meta WHERE id = '000020' " +
        "UNION ALL SELECT id, 'upsert' AS op, title FROM meta WHERE id = '000200' ORDER BY id"),

    // S11 CDC apply: the consumer half of the change feed — a replica
    // snapshot at version 1 advanced by the feed must equal the source's
    // current table (update applied, delete dropped, insert added)
    Entry("s11_cdc_apply", (s, d) =>
      cdcReplica(s, d).select(col("id"), col("title")).orderBy("id"),
      M + "SELECT id, CASE WHEN id = '000010' THEN 'cdc-title' ELSE title END AS title " +
        "FROM meta WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' " +
        "UNION ALL SELECT id, title FROM meta WHERE id = '000200' ORDER BY id"),

    // S25 replica reconciliation: per-bucket order-free fingerprint sums
    // of the CDC-advanced replica — portable 60-bit md5 fingerprints,
    // fp-mod bucketing (never an engine-private hash), DECIMAL sum folded
    // mod 2^62 to a pinned BIGINT; oracle = the same checksum over the
    // independently reconstructed expected state
    Entry("s25_replica_checksum", (s, d) =>
      MetadataStore.stateChecksum(cdcReplica(s, d)),
      // s25: the same 60-bit md5 fingerprints over the reconstructed
      // expected state, the same fp-mod bucketing and mod-2^62 fold; the
      // same injective NULL/'|' field encoding as stateChecksum ('N' for
      // NULL, 'V'+escaped value, chr(92)-escaped delimiter)
      M + ", cur AS (SELECT id, CASE WHEN id = '000010' THEN 'cdc-title' ELSE title END AS title, " +
        "category FROM meta WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' " +
        "UNION ALL SELECT id, title, category FROM meta WHERE id = '000200'), " +
        "f AS (SELECT ('0x' || substring(md5(" +
        "CASE WHEN id IS NULL THEN 'N' ELSE 'V' || replace(replace(id, chr(92), chr(92) || chr(92)), '|', chr(92) || '|') END " +
        "|| '|' || CASE WHEN title IS NULL THEN 'N' ELSE 'V' || replace(replace(title, chr(92), chr(92) || chr(92)), '|', chr(92) || '|') END " +
        "|| '|' || CASE WHEN category IS NULL THEN 'N' ELSE 'V' || replace(replace(category, chr(92), chr(92) || chr(92)), '|', chr(92) || '|') END" +
        "), 1, 15))::BIGINT AS fp FROM cur) " +
        "SELECT fp % 16 AS bucket, count(*)::BIGINT AS n_rows, " +
        "((sum(fp)::HUGEINT) % 4611686018427387904)::BIGINT AS checksum " +
        "FROM f GROUP BY 1 ORDER BY 1"),

    // S12 incremental aggregate maintenance: the materialized per-category
    // summary advanced by the change feed alone — a category MOVE
    // (retract old group, add new), a delete, and an insert, with
    // unchanged groups carried from the old aggregate and pre-images
    // fetched by pushed id-set point lookup (never a base re-aggregation).
    // Oracle = a fresh aggregate over the mutated final state
    Entry("s12_incremental_agg", (s, d) => {
      val st = loadedStore(s, d) // commits version 1
      val snapshot = st.currentAt(1L).toDF()
      val aggOld = MetadataStore.categoryStats(snapshot)
      st.partialUpdate("000010", Map("category" -> "catx")) // group move
      st.delete("000020")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      MetadataStore.maintainCategoryStats(aggOld, snapshot, st.changesBetween(1L))
        .orderBy("category")
    },
      // s12: the maintained aggregate equals a fresh aggregate over the
      // mutated final state (::BIGINT — DuckDB sum() yields HUGEINT)
      M + ", cur AS (SELECT CASE WHEN id = '000010' THEN 'catx' ELSE category END AS category, " +
        "recordCount FROM meta WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' " +
        "UNION ALL SELECT category, recordCount FROM meta WHERE id = '000200') " +
        "SELECT category, count(*) AS n_docs, sum(recordCount)::BIGINT AS sum_records " +
        "FROM cur GROUP BY 1 ORDER BY 1"),

    // S15 incremental JOIN-view maintenance: the materialized orders ⋈
    // customer view advanced by its change window alone — a delete, an
    // insert, an A-side JOIN-KEY MOVE (order 13 re-homed to customer 5)
    // and a fanned-out B-side update (customer 3's nation, 12 dependent
    // rows); affected-slice fold, literal-predicate pruning, no full
    // recompute. Oracle = a fresh join over the mutated tables
    Entry("s15_incremental_join_view", (s, d) => {
      val ord0 = s.read.parquet(s"$d/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cust0 = s.read.parquet(s"$d/customer.parquet")
        .select("c_custkey", "c_nationkey")
      val view0 = ord0.join(cust0, col("o_custkey") === col("c_custkey"))
      val ordNew = ord0.where(col("o_orderkey") =!= 7)
        .withColumn("o_custkey",
          when(col("o_orderkey") === 13, 5L).otherwise(col("o_custkey")))
        .unionByName(s.range(1).select(lit(-1L).as("o_orderkey"),
          lit(1L).as("o_custkey"), lit(0.0).as("o_totalprice")))
      val custNew = cust0.withColumn("c_nationkey",
        when(col("c_custkey") === 3, 99L).otherwise(col("c_nationkey")))
      graft.operators.ViewMaintenance.maintainJoinView(view0, ordNew, custNew,
          "o_orderkey", "o_custkey", "c_custkey",
          changedAIds = Seq(7L, -1L, 13L), changedBKeys = Seq(3L))
        .orderBy("o_orderkey")
    },
      // s15: a fresh join over the mutated tables — the engine's
      // affected-slice fold must land on it exactly
      joinViewSql),

    // S16 store-feed-driven JOIN-view maintenance: the s15 fold COMPOSED
    // with the s10 change feed — the feed itself supplies the changed-id
    // window (no caller bookkeeping), so one CDC read now maintains both
    // the aggregate view (s12) and the join view; includes a join-key
    // MOVE to a category absent from the dim (the row honestly leaves
    // the inner-join view) and a fanned-out dim-side label change
    Entry("s16_store_view_feed", (s, d) => {
      val st = loadedStore(s, d) // commits version 1
      val snap = st.currentAt(1L).toDF().select("id", "category", "recordCount")
      val dim0 = snap.select("category").distinct()
        .select(col("category").as("d_category"),
          concat(lit("lbl-"), col("category")).as("label"))
      val view0 = snap.join(dim0, col("category") === col("d_category"))
      st.partialUpdate("000010", Map("category" -> "catx")) // key MOVE, off-dim
      st.delete("000020")
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert)
      // the feed's id projection IS the change window — a DataFrame fed
      // straight into the fold's broadcast semi/anti probes, never
      // collected into a literal list (the form that survives a window
      // that grows with the corpus)
      val changedIds = st.changesBetween(1L).select("id")
      val aNew = st.current.toDF().select("id", "category", "recordCount")
      val dim1 = dim0.withColumn("label",
        when(col("d_category") === "cat2", lit("lbl2-cat2")).otherwise(col("label")))
      graft.operators.ViewMaintenance.maintainJoinView(view0, aNew, dim1,
          "id", "category", "d_category", changedIds,
          dim1.where(col("d_category") === "cat2").select("d_category"))
        .select(col("id"), col("category"), col("recordCount"), col("label"))
        .orderBy("id")
    },
      // s16: fresh join of the mutated store state against the mutated
      // dim — the feed-driven fold must land on it exactly (the moved
      // row's category is off-dim, so it leaves the inner-join view)
      M + ", cur AS (SELECT id, CASE WHEN id = '000010' THEN 'catx' ELSE category END AS category, " +
        "recordCount FROM meta WHERE id BETWEEN '000001' AND '000050' AND id <> '000020' " +
        "UNION ALL SELECT id, category, recordCount FROM meta WHERE id = '000200'), " +
        "dim AS (SELECT DISTINCT category AS d_category, " +
        "CASE WHEN category = 'cat2' THEN 'lbl2-cat2' ELSE 'lbl-' || category END AS label " +
        "FROM meta WHERE id BETWEEN '000001' AND '000050') " +
        "SELECT id, category, recordCount, label FROM cur " +
        "JOIN dim ON category = d_category ORDER BY id"),

    // S17 PERSISTED join-view maintenance — the WRITE path of s15: the
    // orders ⋈ customer view lives ON DISK partitioned by a 16-way hash
    // bucket of the join key, and one maintenance cycle (a delete, an
    // insert, an A-side key MOVE, a fanned-out B-side update) advances it
    // IN PLACE via dynamic partition overwrite — only the buckets the
    // changes touch are rewritten; cold buckets' files stay byte-identical
    // (spec-pinned in ViewMaintenanceSpec). Oracle = a fresh join over the
    // mutated tables, read back from the on-disk view
    Entry("s17_persisted_join_view", (s, d) => {
      val out = scratch("s17-view") + "/view"
      val ord0 = s.read.parquet(s"$d/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val cust0 = s.read.parquet(s"$d/customer.parquet")
        .select("c_custkey", "c_nationkey")
      graft.operators.ViewMaintenance.writeJoinView(
        ord0.join(cust0, col("o_custkey") === col("c_custkey")), "o_custkey", 16, out)
      // mutated columns cast back to the SOURCE schema: the on-disk view's
      // cold files keep their original parquet types, so a literal-widened
      // column (99L → long) in rewritten buckets would mix types per file
      val ordNew = ord0.where(col("o_orderkey") =!= 7)
        .withColumn("o_custkey",
          when(col("o_orderkey") === 13, 5L).otherwise(col("o_custkey"))
            .cast(ord0.schema("o_custkey").dataType))
        .unionByName(s.range(1).select(
          lit(-1L).cast(ord0.schema("o_orderkey").dataType).as("o_orderkey"),
          lit(1L).cast(ord0.schema("o_custkey").dataType).as("o_custkey"),
          lit(0.0).cast(ord0.schema("o_totalprice").dataType).as("o_totalprice")))
      val custNew = cust0.withColumn("c_nationkey",
        when(col("c_custkey") === 3, 99L).otherwise(col("c_nationkey"))
          .cast(cust0.schema("c_nationkey").dataType))
      import s.implicits._
      graft.operators.ViewMaintenance.refreshJoinViewPartitions(s, out,
        ordNew, custNew, "o_orderkey", "o_custkey", "c_custkey",
        Seq(7L, -1L, 13L).toDF("o_orderkey"), Seq(3L).toDF("c_custkey"),
        nBuckets = 16)
      s.read.parquet(out)
        .select("o_orderkey", "o_custkey", "o_totalprice", "c_custkey", "c_nationkey")
        .orderBy("o_orderkey")
    },
      // s17: the same fresh-join oracle as s15 — but the engine's answer
      // is read back from the ON-DISK view after an in-place partition
      // refresh, so the oracle checks the write path end-to-end
      joinViewSql),

    // SCD2 history build: the type-2 dimension the delta log already paid
    // for — one row per committed row IMAGE with its half-open
    // [valid_from, valid_to) version interval, valid_to null while live.
    // Scripted life cycle: two successive title revisions (three images
    // for 000010), a delete that CLOSES 000020's interval without opening
    // one, a re-create that opens a fresh interval for the same id, and a
    // plain insert; the 47 untouched rows surface once, open-ended
    Entry("s18_scd2_history", (s, d) => {
      val st = threeVersionStore(s, d, "rev-b")
      st.partialUpdate("000010", Map("title" -> "rev-c"))  // v4
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert) // v5
      val reborn = corpusEntries(s, d, "000020", "000020").collect().head
        .copy(title = "reborn")
      st.upsert(reborn)                                    // v6
      historyRows(st.history()).orderBy("id", "valid_from")
    },
      // s18: the scripted life cycle replayed as literals — base images at
      // v1 (000010 closed at its first revision, 000020 at its delete),
      // the two 000010 revisions chaining 2→4→open, 000020's re-created
      // image opening at v6, the v5 insert open-ended
      historySql(threeVersionCloses,
        "UNION ALL SELECT '000010', 'rev-b', 2, 4 " +
        "UNION ALL SELECT '000010', 'rev-c', 4, NULL " +
        "UNION ALL SELECT '000020', 'reborn', 6, NULL " +
        "UNION ALL SELECT id, title, 5, NULL FROM meta WHERE id = '000200' ")),

    // Incremental SCD2 maintenance — the s12/s15 change-feed discipline on
    // the HISTORY table itself: a materialized history advanced
    // version-by-version by the feed alone (close the changed id's open
    // interval, open the upsert's new one; unchanged ids broadcast-probe
    // through untouched) must be bit-identical to a fresh log rebuild —
    // cost ∝ changes, the log never rescanned
    Entry("s20_history_maintenance", (s, d) => {
      val st = loadedStore(s, d) // v1
      var hist = st.history() // materialized base at v1
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // v2
      st.delete("000020")                                  // v3
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert) // v4
      for (v <- 2L to 4L)
        hist = MetadataStore.maintainHistory(hist, st.changesBetween(v - 1, v))
      historyRows(hist).orderBy("id", "valid_from")
    },
      // s20: the maintained history replayed as literals — the v2 revision
      // closes 000010's base image, the v3 delete closes 000020's, the v4
      // insert opens 000200's
      threeVersionHistorySql),

    // Persisted SCD2 history advanced IN PLACE — s20's write path: the
    // history lives on disk bucketed by id-hash, each change window
    // rewrites ONLY the changed ids' buckets via dynamic partition
    // overwrite (touched set computed from the FEED alone — id keys every
    // interval, so no old-home probe), cold buckets byte-identical
    // (spec-pinned), replay idempotent. The on-disk table after three
    // advances must equal a fresh log rebuild.
    Entry("s21_persisted_history", (s, d) => {
      val st = loadedStore(s, d) // v1
      val path = scratch("s21-hist") + "/h"
      MetadataStore.writeHistory(st.history(), 8, path)
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // v2
      st.delete("000020")                                  // v3
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert) // v4
      for (v <- 2L to 4L)
        MetadataStore.refreshHistoryPartitions(s, path, st.changesBetween(v - 1, v), 8)
      historyRows(s.read.parquet(path)).orderBy("id", "valid_from")
    },
      // s21: identical lifecycle to s20, read back from the persisted
      // bucket-partitioned layout after three in-place advances
      threeVersionHistorySql),

    // Takedown on the persisted history — the right-to-be-forgotten op:
    // physically ERASE every interval of the named ids (000010 carries
    // TWO images after its revision; 000030 one), touching only their
    // buckets; a delete (000020) stays CLOSED-but-readable, which is the
    // semantic difference this entry pins. Gated: the purge reports
    // exactly the erased row count and a re-run erases zero.
    Entry("s22_history_takedown", (s, d) => {
      val st = threeVersionStore(s, d, "rev-b")
      val path = scratch("s22-hist") + "/h"
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(path))
      MetadataStore.writeHistory(st.history(), 8, path)
      val n = MetadataStore.purgeHistoryIds(s, path, Seq("000010", "000030"), 8)
      require(n == 3L, s"expected 3 erased intervals (2 of 000010 + 1 of 000030), got $n")
      val again = MetadataStore.purgeHistoryIds(s, path, Seq("000010", "000030"), 8)
      require(again == 0L, s"re-purge must be a no-op, erased $again")
      historyRows(s.read.parquet(path)).orderBy("id", "valid_from")
    },
      // s22: the persisted history after erasing 000010/000030 outright —
      // 000020's delete-closed interval SURVIVES (closed ≠ forgotten)
      historySql("WHEN id = '000020' THEN 3", "AND id NOT IN ('000010', '000030') ")),

    // LOG redaction — the takedown's deepest leg: physically remove the
    // ids' rows from every RETAINED LOG SEGMENT (deltas and compaction
    // bases) while preserving versions/CURRENT/all other rows, so time
    // travel, history, and feeds keep working and simply never surface
    // the ids at ANY version. Gated: exact removed-row count (2 in the
    // bulk delta + 1 in the revision delta + 2 in the base), time travel
    // to v1 shows nothing, re-redaction is a no-op.
    Entry("s23_log_redaction", (s, d) => {
      val st = threeVersionStore(s, d, "rev-b")
      st.compact()                                         // base-4
      val n = st.redactIds(Seq("000010", "000030"))
      require(n == 5L, s"expected 5 redacted rows (delta-1:2, delta-2:1, base-4:2), got $n")
      require(st.currentAt(1).where(col("id").isin("000010", "000030")).count() == 0L,
        "redacted ids must be invisible to time travel")
      require(st.redactIds(Seq("000010", "000030")) == 0L, "re-redaction must be a no-op")
      historyRows(st.history()).orderBy("id", "valid_from")
    },
      // s23: the rebuilt history AFTER log redaction — same expected table
      // as s22 (redaction of the log ≡ purge of the materialized history
      // for the same ids, by construction), arrived at through segment
      // rewrites instead of bucket rewrites; the delete-closed 000020
      // interval again survives
      historySql("WHEN id = '000020' THEN 3", "AND id NOT IN ('000010', '000030') ")),

    // S26 TWO-TABLE ATOMIC COMMIT: one manifest covering store +
    // persisted history, closing the e22 exposure (two independent
    // commits today). Scripted crash between generation publish and
    // manifest swap is INVISIBLE to the pair reader (gated), healed as
    // exactly one orphan, and the redone advance converges; a later
    // advance absorbs TWO store versions in one manifest step; the final
    // overlay must equal the store's rebuilt history row-for-row
    Entry("s26_pair_commit", (s, d) => {
      import graft.store.PairCommit
      val st = loadedStore(s, d) // v1
      val root = scratch("s26-pair")
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(root))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      val m1 = PairCommit.init(root, st, 8)
      require(m1 == PairCommit.Manifest(1L, 1L), s"unexpected init manifest: $m1")
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // v2
      // CRASH injected between generation publish and manifest swap
      PairCommit.advance(s, root, st, 8, crashBeforeSwap = true)
      require(PairCommit.manifest(root) == m1, "torn advance must be invisible")
      require(PairCommit.readHistory(s, root)
        .where(col("valid_to").isNotNull).count() == 0L,
        "crash must not expose the half-advanced history")
      require(PairCommit.heal(root) == 1L, "expected exactly one orphan generation")
      val m2 = PairCommit.advance(s, root, st, 8) // redo converges
      require(m2 == PairCommit.Manifest(2L, 2L), s"redo did not converge: $m2")
      st.delete("000020")                                  // v3
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert) // v4
      val m3 = PairCommit.advance(s, root, st, 8)          // one step, two versions
      require(m3 == PairCommit.Manifest(4L, 3L), s"unexpected manifest: $m3")
      val disk = historyRows(PairCommit.readHistory(s, root))
      val rebuilt = historyRows(st.history())
      // both exceptAll directions counted in ONE job (r18 gate fusion)
      val drift = disk.exceptAll(rebuilt).unionAll(rebuilt.exceptAll(disk)).count()
      require(drift == 0, s"pair history diverged from rebuild: $drift rows")
      disk.orderBy("id", "valid_from")
    },
      // s26: the same mutation script as s21 driven through the pair
      // manifest (crash + heal + redo leave no trace in the committed
      // state by design), so the expected table is s21's verbatim
      threeVersionHistorySql),

    // S28 MERGE INTO: the lakehouse three-arm batch mutation in ONE
    // atomic mixed-op commit — matched UPDATE as merge-patch (null
    // source fields keep current: 000010's title changes, its
    // dataSample must NOT), matched DELETE (000020), not-matched INSERT
    // (000200), not-matched delete a no-op (000300); per-arm stats
    // gated in-script, duplicate source ids refused (spec)
    Entry("s28_merge_into", (s, d) => {
      val st = loadedStore(s, d) // v1
      val stats = st.merge(mergeScript(s, d))
      require(stats == graft.store.MetadataStore.MergeStats(1L, 1L, 1L),
        s"unexpected merge stats: $stats")
      st.current.toDF()
        .select(col("id"), col("title"), col("dataSample"))
        .orderBy("id")
    },
      // s28: the three-arm literal replay — 000010's title patched but
      // its dataSample UNTOUCHED (null source fields keep current — the
      // merge-patch proof), 000020 gone, 000200 inserted, 000300 no-op
      mergeSql),

    // S27 PAIR RE-BASE: the generation layout's compact() analog — after
    // five advances the pair reads union six generations; a re-base
    // writes the full resolved history as one subsuming generation,
    // swaps the manifest (store version unchanged) and sweeps the
    // shadowed gens, so reads return to a single-generation scan. The
    // torn re-base (crash between publish and swap) is invisible and
    // heals as exactly one orphan; the committed re-base must leave the
    // resolved history IDENTICAL row-for-row and strictly shrink disk
    Entry("s27_pair_rebase", (s, d) => {
      import graft.store.PairCommit
      val st = loadedStore(s, d) // v1
      val root = scratch("s27-pair")
      graft.util.FsUtil.deleteRecursively(java.nio.file.Paths.get(root))
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
      PairCommit.init(root, st, 8)                      // gen-1
      st.partialUpdate("000010", Map("title" -> "rev-b"))  // v2
      PairCommit.advance(s, root, st, 8)                   // gen-2
      st.delete("000020")                                  // v3
      PairCommit.advance(s, root, st, 8)                   // gen-3
      corpusEntries(s, d, "000200", "000200").collect().foreach(st.upsert) // v4
      PairCommit.advance(s, root, st, 8)                   // gen-4
      st.partialUpdate("000030", Map("title" -> "rev-c"))  // v5
      PairCommit.advance(s, root, st, 8)                   // gen-5
      st.partialUpdate("000030", Map("title" -> "rev-d"))  // v6
      val m6 = PairCommit.advance(s, root, st, 8)          // gen-6
      require(m6 == PairCommit.Manifest(6L, 6L), s"unexpected manifest: $m6")
      val hd = java.nio.file.Paths.get(root, "hist")
      def gens(): Seq[String] = graft.util.FsUtil.listDir(hd)(
        _.map(_.getFileName.toString).filter(_.startsWith("gen-")).toSeq.sorted)
      // materialize the pre-rebase resolution: its plan names gen dirs
      // the sweep is about to delete, so it cannot be re-run afterwards
      val beforeRows = historyRows(PairCommit.readHistory(s, root))
        .orderBy("id", "valid_from").collect().toSeq
      val bytesBefore = graft.util.FsUtil.sizeOf(hd)
      // CRASH between the subsuming-generation publish and the swap:
      // manifest-invisible, exactly one orphan, the redo converges
      PairCommit.rebase(s, root, 8, crashBeforeSwap = true)
      require(PairCommit.manifest(root) == m6, "torn rebase must be invisible")
      require(PairCommit.heal(root) == 1L, "expected exactly one orphan generation")
      val m7 = PairCommit.rebase(s, root, 8)
      require(m7 == PairCommit.Manifest(6L, 7L), s"rebase manifest: $m7")
      require(gens() == Seq("gen-7"), s"subsumed generations not swept: ${gens()}")
      val bytesAfter = graft.util.FsUtil.sizeOf(hd)
      require(bytesAfter < bytesBefore,
        s"rebase must shrink the layout: $bytesBefore -> $bytesAfter bytes")
      val after = historyRows(PairCommit.readHistory(s, root)).orderBy("id", "valid_from")
      require(after.collect().toSeq == beforeRows,
        "rebase changed the resolved history")
      after
    },
      // s27: s26's lifecycle plus two 000030 revisions, read back AFTER
      // the re-base — compaction must not change the resolved history,
      // so the expected table is the plain SCD2 literal replay
      historySql(threeVersionCloses + " WHEN id = '000030' THEN 5",
        threeVersionImages +
        "UNION ALL SELECT '000030', 'rev-c', 5, 6 " +
        "UNION ALL SELECT '000030', 'rev-d', 6, NULL ")),

    // Set-oriented time travel: batch (id, as_of_version) probes answered
    // by ONE equi-join against the SCD2 history instead of |probes|
    // snapshot resolves — inner semantics, so probes at versions where the
    // id was deleted (000020 at v3/v4) emit nothing
    Entry("s19_asof_lookup", (s, d) => {
      val st = threeVersionStore(s, d, "rev-b")
      st.partialUpdate("000010", Map("title" -> "rev-c"))  // v4
      import s.implicits._
      val probes = (for {
        id <- Seq("000010", "000020", "000030"); v <- 1L to 4L
      } yield (id, v)).toDF("id", "as_of_version")
      st.lookupAsOf(probes)
        .select(col("id"), col("as_of_version"), col("title"))
        .orderBy("id", "as_of_version")
    },
      // s19: probe grid replayed as literals — 000010's title steps at its
      // revision versions, 000020 vanishes from v3 (deleted), 000030 holds
      M + ", probes AS (SELECT id, CAST(v AS BIGINT) AS as_of_version " +
        "FROM (VALUES ('000010'), ('000020'), ('000030')) ids(id) " +
        "CROSS JOIN (VALUES (1), (2), (3), (4)) vs(v)) " +
        "SELECT p.id, p.as_of_version, " +
        "CASE WHEN p.id = '000010' AND p.as_of_version >= 4 THEN 'rev-c' " +
        "WHEN p.id = '000010' AND p.as_of_version >= 2 THEN 'rev-b' " +
        "ELSE m.title END AS title " +
        "FROM probes p JOIN meta m USING (id) " +
        "WHERE NOT (p.id = '000020' AND p.as_of_version >= 3) " +
        "ORDER BY p.id, p.as_of_version"),

    // S-ops × search: the serving flow end-to-end — bulk load into the
    // versioned store, then compile + execute a catalog search over the
    // store's resolved current table (not a pre-staged corpus)
    Entry("s8_store_search", (s, d) => {
      val st = freshStore(s)
      st.bulkLoad(corpusEntries(s, d, "000001", "000200"))
      // cat5 rows in this id range are org1-owned and private: the result is
      // non-empty precisely because the ACL org-clause admits them (an
      // all-rows-filtered 0-row match would be vacuous evidence)
      val cq = QueryCompiler.compile(
        QueryCompiler.parse(all("""{"filters":[{"category":["cat5"]}]}""")),
        AclContext(Seq("org1"), isAdmin = false))
      SearchExecutor.hitsBranch(SearchExecutor.baseBranch(st.current.toDF(), cq), cq)
        .select(col("id"), col("category"), col("orgUUID").as("org_uuid"),
          col("isPublic").as("is_public"))
    },
      M + "SELECT id, category, orgUUID AS org_uuid, isPublic AS is_public FROM meta " +
        "WHERE id BETWEEN '000001' AND '000200' AND category = 'cat5' " +
        "AND (orgUUID = 'org1' OR isPublic) ORDER BY id")
  )
}
