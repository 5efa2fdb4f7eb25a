package graft

import graft.model.MetadataEntry
import graft.store.MetadataStore
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions.{col, lit}

import java.nio.file.Files
import java.sql.Timestamp

/** Property coverage for the SCD2 history build and the batch as-of
  * lookup: over seeded RANDOM op sequences — upserts, updates, deletes,
  * re-creates after delete, in any interleaving — `history()` must equal
  * a driver-side SCD2 simulation of the same committed sequence, and
  * `lookupAsOf` over the full (id × version) probe grid must agree with
  * the simulation's point-in-time view (the `currentAt` contract, batch
  * form). The fixed-script spec and the s18/s19 oracles pin named cases;
  * this pins the op-interleaving space a script may miss.
  */
class StoreHistoryPropertySpec extends AnyFunSuite with Matchers with SparkSupport {
  import spark.implicits._

  private val fixedClock: () => Timestamp = () => Timestamp.valueOf("2020-01-01 00:00:00")

  private def entry(id: String, title: String): MetadataEntry =
    MetadataEntry(id, "cat1", fixedClock(), "sample", "csv", isPublic = true,
      "org1", 1L, 1L, "http://data.example.com/x",
      s"hdfs://nameservice1/org1/$id", title)

  test("property: random op sequences — history equals the simulated SCD2, as-of grid agrees") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val st = new MetadataStore(spark,
        Files.createTempDirectory(s"graft-hist-prop-$seed").toString, fixedClock)
      val ids = (0 until 5).map(i => s"id$i")
      // simulation state: id -> current title; events: (id, title, from, to)
      var live = Map.empty[String, (String, Long)] // title, valid_from
      val closed = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long, Long)]
      var v = 0L
      for (op <- 1 to 25) {
        val id = ids(rnd.nextInt(ids.size))
        if (live.contains(id) && rnd.nextInt(4) == 0) {
          st.delete(id) shouldBe true
          v += 1
          val (t, f) = live(id)
          closed += ((id, t, f, v))
          live -= id
        } else {
          val title = s"t$op"
          st.upsert(entry(id, title))
          v += 1
          live.get(id).foreach { case (t, f) => closed += ((id, t, f, v)) }
          live += id -> (title, v)
        }
      }
      val want = (closed.map { case (i, t, f, to) => (i, t, f, Option(to)) } ++
        live.map { case (i, (t, f)) => (i, t, f, Option.empty[Long]) })
        .sortBy(r => (r._1, r._3))
      val got = st.history().select("id", "title", "valid_from", "valid_to")
        .as[(String, String, Long, Option[Long])].collect().toSeq
        .sortBy(r => (r._1, r._3))
      withClue(s"seed $seed history: ") { got shouldBe want }

      // as-of grid: every (id, version) — inner semantics, so expected
      // rows exist only where the simulation has a covering interval
      val probes = (for { id <- ids; pv <- 1L to v } yield (id, pv))
        .toDF("id", "as_of_version")
      val gotAsOf = st.lookupAsOf(probes)
        .select("id", "as_of_version", "title")
        .as[(String, Long, String)].collect().toSeq.sorted
      val wantAsOf = (for {
        id <- ids; pv <- 1L to v
        hit <- want.find(r => r._1 == id && r._3 <= pv && r._4.forall(pv < _))
      } yield (id, pv, hit._2)).sorted
      withClue(s"seed $seed as-of: ") { gotAsOf shouldBe wantAsOf }

      // incremental maintenance advanced version-by-version from an empty
      // base rebuilds the same history (the s20 contract), whatever the
      // op interleaving — one seed keeps the 25-fold chain affordable
      if (seed == 1) {
        var hist = st.history().limit(0).localCheckpoint()
        for (pv <- 1L to v) {
          // coalesce(1) + localCheckpoint between folds: maintainHistory's
          // union carries ~2× the input's partitions (its documented
          // contract), so an UNBOUNDED in-memory fold doubles partitions
          // per step — a real consumer either persists between advances
          // (the s17 discipline) or coalesces exactly like this
          hist = MetadataStore.maintainHistory(hist, st.changesBetween(pv - 1, pv))
            .coalesce(1).localCheckpoint()
          // REPLAY one mid-sequence window: the valid_from < change_version
          // guard must make the duplicate advance a no-op, whatever op the
          // random sequence put at this version
          if (pv == v / 2)
            hist = MetadataStore.maintainHistory(hist, st.changesBetween(pv - 1, pv))
              .coalesce(1).localCheckpoint()
        }
        val maintained = hist.select("id", "title", "valid_from", "valid_to")
          .as[(String, String, Long, Option[Long])].collect().toSeq
          .sortBy(r => (r._1, r._3))
        withClue(s"seed $seed maintained: ") { maintained shouldBe want }
      }
    }
  }

  test("property: every writer keeps one row per id per segment; currentAt(v) equals the model at every v") {
    for (seed <- 21 to 22) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft-seg-prop-$seed")
      val st = new MetadataStore(spark, dir.toString, fixedClock)
      val ids = (0 until 6).map(i => s"id$i")
      def stamped(id: String, title: String, month: Int): MetadataEntry =
        entry(id, title).copy(creationTime = Timestamp.valueOf(f"2019-$month%02d-01 00:00:00"))
      /** A batch of fresh rows plus a second, differently-dated row for some
        * ids: the newest creationTime is the model's winner.
        */
      def dupBatch(op: Int): Seq[MetadataEntry] =
        rnd.shuffle(ids).take(1 + rnd.nextInt(3)).flatMap { id =>
          val months = rnd.shuffle((1 to 12).toList).take(1 + rnd.nextInt(2))
          months.map(m => stamped(id, s"t$op-m$m", m))
        }
      def newest(batch: Seq[MetadataEntry]): Map[String, MetadataEntry] =
        batch.groupBy(_.id).map { case (id, rows) => id -> rows.maxBy(_.creationTime.getTime) }
      var model = Map.empty[String, MetadataEntry]
      val states = scala.collection.mutable.Map(0L -> model)
      for (op <- 1 to 24) {
        val id = ids(rnd.nextInt(ids.size))
        rnd.nextInt(7) match {
          case 0 =>
            val e = entry(id, s"t$op"); st.upsert(e); model += id -> e
          case 1 => // Seq batch: the LAST duplicate wins
            val batch = Seq(entry(id, s"t$op-a"), entry(ids(rnd.nextInt(ids.size)), s"t$op-b"),
              entry(id, s"t$op-c"))
            st.upsertAll(batch); model ++= batch.map(e => e.id -> e)
          case 2 =>
            val batch = dupBatch(op); st.upsertAll(spark.createDataset(batch)); model ++= newest(batch)
          case 3 => // bulk load with duplicates and one invalid row
            val batch = dupBatch(op)
            val bad = entry("bad", s"t$op").copy(targetUri = "some_path")
            st.bulkLoad(spark.createDataset(batch :+ bad)).collect().map(_.id).toSeq shouldBe Seq("bad")
            model ++= newest(batch)
          case 4 =>
            st.delete(id) shouldBe model.contains(id); model -= id
          case 5 =>
            st.partialUpdate(id, Map("title" -> s"p$op")) shouldBe model.contains(id)
            model.get(id).foreach(e => model += id -> e.copy(title = s"p$op"))
          case _ => st.compact()
        }
        states(st.committedVersion) = model
      }
      // the invariant the one-segment resolve relies on, read off disk
      graft.util.FsUtil.listDir(dir)(_.map(_.getFileName.toString)
          .filter(n => n.startsWith("delta-") || n.startsWith("base-")).toSeq)
        .foreach { seg =>
          val ids = spark.read.schema(graft.model.MetadataSchema.structType)
            .parquet(dir.resolve(seg).toString).select("id").as[String].collect().toSeq
          withClue(s"seed $seed $seg: ") { ids.distinct.size shouldBe ids.size }
        }
      // no-op deletes/updates commit nothing, so every version is one op's
      for (v <- 1L to st.committedVersion) withClue(s"seed $seed v$v: ") {
        st.currentAt(v).collect().sortBy(_.id).toSeq shouldBe states(v).values.toSeq.sortBy(_.id)
      }
    }
  }

  test("property: versionDiff between random checkpoints equals the simulated state diff") {
    for (seed <- 11 to 13) {
      val rnd = new scala.util.Random(seed)
      val st = new MetadataStore(spark,
        Files.createTempDirectory(s"graft-vdiff-prop-$seed").toString, fixedClock)
      val ids = (0 until 6).map(i => s"id$i")
      var live = Map.empty[String, String] // id -> title (full row derives from it)
      var v = 0L
      val snapshots = scala.collection.mutable.ArrayBuffer.empty[(Long, Map[String, String])]
      for (op <- 1 to 30) {
        val id = ids(rnd.nextInt(ids.size))
        if (live.contains(id) && rnd.nextInt(4) == 0) {
          st.delete(id) shouldBe true; v += 1; live -= id
        } else if (live.contains(id) && rnd.nextInt(3) == 0) {
          // a REWRITE of the same title: a no-op content-wise — the diff
          // must NOT report it (hash equality, not version counting)
          st.upsert(entry(id, live(id))); v += 1
        } else {
          val t = s"t$op"; st.upsert(entry(id, t)); v += 1; live += id -> t
        }
        if (op % 10 == 0) snapshots += ((v, live))
      }
      st.compact() // the diff must read through the restatement
      // diff every snapshot pair (and each vs current) against the model
      val states = snapshots.toSeq :+ ((Long.MaxValue, live))
      for (Seq((vA, a), (vB, b)) <- states.combinations(2)) {
        val want = (b.keySet ++ a.keySet).toSeq.sorted.flatMap { id =>
          (a.get(id), b.get(id)) match {
            case (None, Some(t)) => Some((id, "added", t))
            case (Some(t), None) => Some((id, "removed", t))
            case (Some(x), Some(y)) if x != y => Some((id, "changed", y))
            case _ => None
          }
        }
        val got = st.versionDiff(vA, vB)
          .as[(String, String, String)].collect().toSeq
        withClue(s"seed $seed diff v$vA -> v$vB: ") { got shouldBe want }
      }
    }
  }

  test("property: after every random op, get and versionOf equal the Spark window's answer for every id") {
    for (seed <- 31 to 32) {
      val rnd = new scala.util.Random(seed)
      val dir = Files.createTempDirectory(s"graft-point-prop-$seed").toString
      val st = new MetadataStore(spark, dir, fixedClock)
      val bucketed = new MetadataStore(spark, dir, fixedClock, numBuckets = 4)
      val ids = (0 until 5).map(i => s"id$i")
      val probe = ids :+ "never-seen"
      def stamped(id: String, title: String, month: Int): MetadataEntry =
        entry(id, title).copy(creationTime = Timestamp.valueOf(f"2019-$month%02d-01 00:00:00"))
      def dupBatch(op: Int): Seq[MetadataEntry] =
        rnd.shuffle(ids).take(1 + rnd.nextInt(3)).flatMap { id =>
          rnd.shuffle((1 to 12).toList).take(1 + rnd.nextInt(2)).map(m => stamped(id, s"t$op-m$m", m))
        }
      def newest(batch: Seq[MetadataEntry]): Map[String, MetadataEntry] =
        batch.groupBy(_.id).map { case (id, rows) => id -> rows.maxBy(_.creationTime.getTime) }
      var model = Map.empty[String, MetadataEntry]
      for (op <- 1 to 18) {
        val id = ids(rnd.nextInt(ids.size))
        val name = rnd.nextInt(10) match {
          case 0 =>
            val e = entry(id, s"t$op"); st.upsert(e); model += id -> e; "upsert"
          case 1 =>
            val batch = Seq(entry(id, s"t$op-a"), entry(ids(rnd.nextInt(ids.size)), s"t$op-b"),
              entry(id, s"t$op-c"))
            st.upsertAll(batch); model ++= batch.map(e => e.id -> e); "upsertAll(Seq)"
          case 2 =>
            val batch = dupBatch(op); st.upsertAll(spark.createDataset(batch))
            model ++= newest(batch); "upsertAll(Dataset)"
          case 3 =>
            val batch = dupBatch(op); st.bulkLoad(spark.createDataset(batch)).count()
            model ++= newest(batch); "bulkLoad"
          case 4 | 5 => // delete, or re-create what a delete removed
            if (model.contains(id)) { st.delete(id) shouldBe true; model -= id; "delete" }
            else { val e = entry(id, s"re$op"); st.upsert(e); model += id -> e; "re-create" }
          case 6 =>
            st.partialUpdate(id, Map("title" -> s"p$op")) shouldBe model.contains(id)
            model.get(id).foreach(e => model += id -> e.copy(title = s"p$op")); "partialUpdate"
          case 7 => st.compact(); "compact"
          case 8 => bucketed.compact(); "compact(numBuckets = 4)"
          case _ =>
            if (rnd.nextInt(3) == 0) { st.drop(); model = Map.empty; "drop" }
            else { st.compact(); "compact" }
        }
        // the relational oracle: one job per answer kind over every probe id
        val wantEntry = probe.map(st.lookup).reduce(_ unionByName _).as[MetadataEntry]
          .collect().map(e => e.id -> e).toMap
        val wantVersion = probe.map(p => st.lookupVersion(p).select(lit(p).as("id"), col("_version")))
          .reduce(_ unionByName _).as[(String, Long)].collect().toMap
        for (p <- probe) withClue(s"seed $seed op $op ($name) id $p: ") {
          val got = st.get(p)
          got shouldBe wantEntry.get(p)
          got shouldBe model.get(p)
          st.versionOf(p) shouldBe wantVersion.get(p)
          bucketed.versionOf(p) shouldBe wantVersion.get(p)
        }
      }
    }
  }
}
