package graft.store

import graft.model.{MetadataEntry, MetadataSchema}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Mutation-side of the catalog: S3 upsert / S4 partial update / S5 delete /
  * S6 bulk load / S7 drop (reference: data_catalog/metadata_entry.py:149-274,
  * elastic_admin.py:41-83), re-hosted as a log-structured, versioned parquet
  * store.
  *
  * Layout under `root/`:
  *   CURRENT       — pointer file holding the latest committed version number
  *   base-<v>/     — full parquet snapshot committed at version v (compaction)
  *   delta-<v>/    — parquet delta committed at version v; rows carry
  *                   (_version, _op ∈ {upsert, delete}) alongside the entry
  *
  * Read path (merge-on-read): newest base ≤ CURRENT, plus every delta in
  * (baseVersion, CURRENT], latest row per id wins
  * (row_number over id / _version desc), tombstones drop out. Every writer
  * keeps one invariant: a segment holds at most ONE row per id (rows of a
  * segment share `_version`, so the window could not break a tie). A window
  * of exactly one segment — the state right after a bulk load or a
  * compaction — is therefore read as it is: tombstones filtered, no window,
  * no exchange. The point reads ([[get]], [[versionOf]]) build no plan and
  * start no job: the same invariant makes latest-wins for ONE id "the
  * first segment, newest first, that holds it", which the driver finds by
  * reading parquet footers and decoding only the row groups whose id
  * statistics admit the id ([[DirectParquet.rowsWhere]]). Mutations are
  * O(delta) writes — never a snapshot rewrite — and the atomic pointer swap
  * gives the same read-your-writes guarantee the reference buys with an
  * explicit ES index flush (reference: bases.py:81-82). Periodic `compact()`
  * folds the log into a new base so the merge window stays small.
  *
  * Scale note: this is the classic lakehouse merge-on-read design. Catalog
  * metadata is small (O(10^5) entries), but the same layout holds at 100 TB:
  * the base is partition-pruned parquet, deltas are tiny, and the resolve
  * window shuffles only on `id`. On a real cluster the pointer swap would sit
  * on a log-backed commit protocol rather than a local rename.
  */
class MetadataStore(spark: SparkSession, rootDir: String,
                    clock: () => Timestamp = () => new Timestamp(System.currentTimeMillis()),
                    numBuckets: Int = 0) {
  import spark.implicits._

  private val root: Path = Paths.get(rootDir)
  Files.createDirectories(root)

  private val OpCol = "_op"
  private val VersionCol = "_version"
  private val BucketCol = "_bucket"
  private val BucketCountFile = "_nbuckets" // _-prefixed → invisible to the FileIndex
  private val TruncateMarker = "_truncated" // sidecar marking a drop()-written base
  private val VacuumFloorFile = "VACUUM_FLOOR"

  private def listDir[A](dir: Path)(f: Iterator[Path] => A): A =
    graft.util.FsUtil.listDir(dir)(f)

  /** The bucket modulus a base was WRITTEN with, from its `_nbuckets` sidecar.
    * The layout is self-describing: pruning always uses the written modulus,
    * never the constructor's — reopening a store with a different `numBuckets`
    * can therefore never prune to the wrong directory (it just governs the
    * next compaction). The sidecar is written into the staging directory
    * before the atomic publish, so a committed bucketed base always carries
    * it; a corrupt/missing sidecar degrades to reading the partition column
    * without pruning (see [[resolved]]), never to a wrong answer.
    */
  private def baseBucketCount(dir: Path): Option[Int] = {
    val p = dir.resolve(BucketCountFile)
    if (Files.exists(p)) scala.util.Try(Files.readString(p).trim.toInt).toOption.filter(_ > 0)
    else None
  }

  /** Physical layout check: does this base have `_bucket=` partition dirs?
    * Needed independently of the sidecar — a partitioned directory MUST be
    * read with the partition column in the schema or the discovered column
    * breaks the log union.
    */
  private def hasBucketDirs(dir: Path): Boolean =
    Files.isDirectory(dir) && listDir(dir)(_.exists(
      _.getFileName.toString.startsWith(s"$BucketCol=")))

  /** Write-side/read-side bucket of an id: pmod(xxhash64(id), n) — the same
    * XXH64 the Column expression computes, so the driver-side lookup key
    * always agrees with the layout.
    */
  private def bucketOf(id: String, n: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUTF8String(org.apache.spark.unsafe.types.UTF8String.fromString(id), 42L)
    (((h % n) + n) % n).toInt
  }
  private val entryCols = MetadataSchema.structType.fieldNames.toSeq

  /** Static schemas for log segments: passing them to the reader skips the
    * per-directory footer/schema-inference job — a resolve over an N-segment
    * log costs N scans, not 2N jobs.
    */
  private val baseSchema = MetadataSchema.structType
  private val deltaSchema = MetadataSchema.structType
    .add(VersionCol, "long", nullable = false).add(OpCol, "string", nullable = false)

  // ------------------------------------------------------------- versioning

  private def currentVersion: Long = {
    val p = root.resolve("CURRENT")
    if (Files.exists(p)) Files.readString(p).trim.toLong else 0L
  }

  /** Atomic pointer swap — commit point of every mutation. Only called with
    * the root lock held and v > currentVersion (see [[claimAndCommit]]).
    */
  private def commit(v: Long): Unit =
    graft.util.FsUtil.atomicWrite(root.resolve("CURRENT"), v.toString)

  /** Cross-instance critical section: a JVM-wide monitor for instances in
    * this process (java.nio FileLocks are held per-process — a second
    * in-process lock() would throw OverlappingFileLockException) nested
    * inside an advisory file lock on `root/LOCK` for instances in other
    * processes on this host. On a real cluster the equivalent primitive is
    * the conditional-put / commit service of a lakehouse transaction log;
    * the optimistic protocol AROUND the critical section (stake a version,
    * re-stage on collision, monotone pointer advance) is unchanged.
    */
  private def withRootLock[A](f: => A): A =
    MetadataStore.monitorFor(root).synchronized {
      val ch = java.nio.channels.FileChannel.open(root.resolve("LOCK"),
        java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
      try { val l = ch.lock(); try f finally l.release() } finally ch.close()
    }

  /** A version is claimable when neither the committed pointer nor any
    * published segment has reached it.
    */
  private def claimable(v: Long): Boolean =
    v > currentVersion &&
      !Files.exists(root.resolve(s"delta-$v")) && !Files.exists(root.resolve(s"base-$v"))

  /** The publish+commit critical section of the optimistic protocol: claim
    * the version by renaming the staged segment into its final name, then
    * advance CURRENT — monotonically. If a racer has already committed PAST
    * our claimed version, our exclusively-claimed segment is already inside
    * the committed read window (resolve reads every segment ≤ CURRENT), so
    * the mutation is visible with no pointer move: no commit is ever
    * silently lost. Returns false (caller re-stages under a fresh version)
    * when the version was taken first.
    */
  private def claimAndCommit(staging: Path, kind: String, v: Long,
                             fresh: => Boolean = true): Boolean = withRootLock {
    if (claimable(v) && fresh) {
      publish(staging, s"$kind-$v")
      if (currentVersion < v) commit(v)
      true
    } else false
  }

  /** Version for the next segment: strictly above BOTH the committed pointer
    * and every segment on disk — a crash that left an uncommitted orphan
    * segment can never have its version number reused by a later mutation
    * (which would make resolve adopt the orphan and hide the mutation).
    */
  private def nextVersion: Long = {
    val maxSeg = (listVersions("base-") ++ listVersions("delta-")).maxOption.getOrElse(0L)
    math.max(currentVersion, maxSeg) + 1
  }

  /** The optimistic stage → claim → publish loop every segment write runs
    * through. Each attempt takes [[nextVersion]], has `stage(dir, v)` write
    * the `kind` segment for version v into a uniquely named hidden
    * `.staging-<kind>-<v>-<uuid8>` directory OUTSIDE the lock (the expensive
    * part), then publishes + advances the pointer in one short critical
    * section ([[claimAndCommit]], with `fresh(v)` re-checked under the root
    * lock). A lost claim re-stages under a fresh version. `stage` answers
    * `Right(result)` to commit, or `Left(result)` to return without
    * committing (an empty batch, a failed precondition). The staging
    * directory is removed on EVERY exit that did not commit — declined,
    * lost claim, or an exception thrown by the stage (an executor failure,
    * an audit rejection) — before the result or exception propagates, so
    * no write leaves `.staging-*` debris behind.
    */
  @scala.annotation.tailrec
  private def commitSegment[A](kind: String, fresh: Long => Boolean = _ => true)
                              (stage: (Path, Long) => Either[A, A]): A = {
    val v = nextVersion
    val staging = root.resolve(
      s".staging-$kind-$v-${java.util.UUID.randomUUID.toString.take(8)}")
    var committed = false
    val outcome =
      try stage(staging, v) match {
        case Left(skipped) => Some(skipped)
        case Right(out) =>
          committed = claimAndCommit(staging, kind, v, fresh(v))
          if (committed) Some(out) else None
      } finally {
        if (!committed) graft.util.FsUtil.deleteRecursively(staging)
      }
    outcome match {
      case Some(out) => out
      case None => commitSegment(kind, fresh)(stage)
    }
  }

  /** A long metric of an `observe()` audit (a sum over no rows is null → 0). */
  private def observedLong(metrics: Map[String, Any], name: String): Long =
    metrics.get(name) match {
      case Some(n: Number) => n.longValue
      case _ => 0L
    }

  /** Publish a staged segment directory: atomic rename into its final name.
    * Combined with [[nextVersion]], a segment is either fully present under
    * its committed name or invisible — readers never see partial writes.
    */
  private def publish(staging: Path, finalName: String): Unit = {
    Files.move(staging, root.resolve(finalName), StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def listVersions(prefix: String): Seq[Long] =
    listDir(root)(_.map(_.getFileName.toString)
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toLong)
      .toSeq.sorted)

  // ------------------------------------------------------------------ reads

  /** Resolved current table as Dataset[MetadataEntry]. */
  def current: Dataset[MetadataEntry] = resolved.select(entryCols.map(col): _*).as[MetadataEntry]

  /** The committed version pointer — public for pair-commit coordination
    * ([[PairCommit]]): a manifest pins this value together with the
    * history generation so a reader resolves BOTH tables at one instant.
    */
  def committedVersion: Long = currentVersion

  /** Time travel: the table as of an older committed version — the versioned
    * log gives historical reads for free (resolve with the version ceiling
    * lowered; segments above it are simply not read). Querying a version
    * above CURRENT reads CURRENT.
    */
  def currentAt(version: Long): Dataset[MetadataEntry] = {
    val floor = retentionFloor
    if (version < floor)
      throw new IllegalArgumentException(
        s"version $version is below the vacuum retention floor $floor — its segments are gone")
    resolved(None, None, Some(math.min(version, currentVersion)))
      .select(entryCols.map(col): _*).as[MetadataEntry]
  }

  /** Row-level DIFF between two committed store versions — "what changed
    * in the catalog between snapshot A and snapshot B", the audit behind
    * release notes, replication reconciliation, and blast-radius checks
    * before a schema migration. Built on [[currentAt]]'s time travel, so
    * it reads through compactions unchanged (a base restatement is a
    * logical no-op and must not surface as a sea of "changed" rows).
    *
    * Classification hashes every non-id field LENGTH-PREFIXED (the p10
    * snapshotDiff lesson: concatenation without prefixes lets boundary
    * shifts alias) and keeps only added/removed/changed — "unchanged" is
    * the overwhelming bulk at scale and callers asking for a diff never
    * want it. `title` reports the NEW value for added/changed rows and
    * the OLD for removed (the value a reviewer wants to see in each case).
    *
    * Plan: both snapshots project (id, hash, title) — 3 columns, never
    * payloads — into one full-outer id join; at 100 TB the cost is two
    * resolved reads + one co-keyed shuffle of 3-column rows.
    */
  def versionDiff(vOld: Long): DataFrame = versionDiff(vOld, Long.MaxValue)

  def versionDiff(vOld: Long, vNew: Long): DataFrame = {
    def keyed(ds: Dataset[MetadataEntry]): DataFrame = {
      val contentCols = entryCols.filterNot(_ == "id")
      ds.toDF().select(
        col("id"),
        md5(concat(contentCols.map { c =>
          val s = col(c).cast("string")
          concat(coalesce(length(s), lit(-1)).cast("string"), lit(":"),
            coalesce(s, lit("")))
        }: _*)).as("h"),
        col("title"))
    }
    val o = keyed(currentAt(vOld))
      .withColumnsRenamed(Map("h" -> "h_old", "title" -> "t_old"))
    val n = keyed(currentAt(vNew))
      .withColumnsRenamed(Map("h" -> "h_new", "title" -> "t_new"))
    o.join(n, Seq("id"), "full_outer")
      .withColumn("op",
        when(col("h_old").isNull, "added")
          .when(col("h_new").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed"))
      .where(col("op").isNotNull)
      .select(col("id"), col("op"),
        coalesce(col("t_new"), col("t_old")).as("title"))
      .orderBy("id")
  }

  /** Oldest version still resolvable (0 until the first [[vacuum]]). */
  def retentionFloor: Long = {
    val p = root.resolve(VacuumFloorFile)
    if (Files.exists(p)) Files.readString(p).trim.toLong else 0L
  }

  /** The committed table-level event log, oldest first: every segment ≤
    * CURRENT with its kind — `delta` (row changes), `base` (compaction: a
    * logical no-op restatement), or `truncate` (a [[drop]]: the table was
    * emptied at that version). CDC consumers check this to detect windows an
    * incremental [[changesBetween]] cannot replay.
    */
  def versionHistory(): Seq[MetadataStore.VersionEvent] = {
    val cur = currentVersion
    val bases = listVersions("base-").filter(_ <= cur).map { b =>
      val kind =
        if (Files.exists(root.resolve(s"base-$b").resolve(TruncateMarker))) "truncate" else "base"
      MetadataStore.VersionEvent(b, kind)
    }
    val deltas = listVersions("delta-").filter(_ <= cur)
      .map(MetadataStore.VersionEvent(_, "delta"))
    (bases ++ deltas).sortBy(_.version)
  }

  /** Resolved current table with no row-identity applied yet (includes
    * neither _op nor _version).
    */
  private def resolved: DataFrame = resolved(None)

  /** Merge-on-read resolve. `prune` (a predicate on `id`) is applied BELOW
    * the window: row identity is per-id, so id-pruning before the
    * latest-wins resolution is semantics-preserving, and Catalyst pushes the
    * filter through the union into every parquet scan — a point lookup reads
    * only the row groups whose id-range matches instead of windowing the
    * whole log (the round-2 scale-killer). `lookupId` additionally prunes a
    * hash-bucketed base down to ONE partition directory (see [[compact]]).
    *
    * A window of ONE segment skips the latest-wins window altogether: every
    * writer commits at most one row per id per segment (the class-level
    * invariant — [[bulkLoad]] and the Dataset [[upsertAll]] dedupe through
    * [[latestPerId]], [[merge]] refuses duplicate ids, the Seq writers
    * dedupe on the driver, [[compact]] writes a resolved snapshot), so the
    * segment already IS the table once its tombstones are dropped — a scan
    * and a filter, no hash exchange. Two or more segments take the union +
    * `row_number` plan.
    */
  private def resolved(prune: Option[org.apache.spark.sql.Column],
                       lookupId: Option[String] = None,
                       asOf: Option[Long] = None,
                       keepVersion: Boolean = false): DataFrame = {
    val v = asOf.getOrElse(currentVersion)
    if (v == 0L) return {
      val e = emptyLog.select((entryCols :+ VersionCol).map(col): _*)
      if (keepVersion) e else e.drop(VersionCol)
    }
    val (baseV, deltaVs) = readWindow(v)
    val base = baseV.map(readBase(_, lookupId))
    val deltas = deltaVs.map(d => spark.read.schema(deltaSchema).parquet(root.resolve(s"delta-$d").toString))
    val cur = base.toSeq ++ deltas match {
      case Seq(only) =>
        prune.fold(only)(only.where).where(col(OpCol) =!= "delete").drop(OpCol)
      case segments =>
        val logAll = segments.reduceOption(_ unionByName _).getOrElse(emptyLog)
        val log = prune.fold(logAll)(logAll.where)
        val latest = Window.partitionBy(col("id")).orderBy(col(VersionCol).desc)
        log.withColumn("_rn", row_number().over(latest))
          .where(col("_rn") === 1 && col(OpCol) =!= "delete")
          .drop("_rn", OpCol)
    }
    if (keepVersion) cur else cur.drop(VersionCol)
  }

  /** The segments a read at version v merges: the newest base ≤ v and the
    * deltas in (base, v], oldest first. Segments above v (a published but
    * uncommitted orphan) and hidden `.staging-*` dirs are outside it.
    */
  private def readWindow(v: Long): (Option[Long], Seq[Long]) = {
    val baseV = listVersions("base-").filter(_ <= v).lastOption
    (baseV, listVersions("delta-").filter(d => d <= v && d > baseV.getOrElse(0L)))
  }

  /** One base segment as log rows (entry columns + _version/_op=upsert),
    * with single-directory partition pruning when the base is bucketed and
    * a lookup id is supplied.
    */
  private def readBase(b: Long, lookupId: Option[String]): DataFrame = {
    val dir = root.resolve(s"base-$b")
    val df =
      if (hasBucketDirs(dir)) {
        // a partitioned dir must be read with the partition column in the
        // schema; pruning happens only when the sidecar gives the modulus
        val raw = spark.read
          .schema(baseSchema.add(BucketCol, "int", nullable = false))
          .parquet(dir.toString)
        (baseBucketCount(dir), lookupId) match {
          case (Some(n), Some(id)) => raw.where(col(BucketCol) === bucketOf(id, n)).drop(BucketCol)
          case _ => raw.drop(BucketCol)
        }
      } else spark.read.schema(baseSchema).parquet(dir.toString)
    df.withColumn(VersionCol, lit(b)).withColumn(OpCol, lit("upsert"))
  }

  private def emptyLog: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      MetadataSchema.structType
        .add(VersionCol, "long").add(OpCol, "string"))

  /** The id-pruned lookup as a DataFrame: the relational definition of
    * [[get]] (and its test oracle), exposed for plan-shape assertions. On a
    * bucketed store the base scan additionally prunes to the id's single
    * `_bucket=` partition directory.
    */
  private[graft] def lookup(id: String): DataFrame =
    resolved(Some(col("id") === id), Some(id))
      .select(entryCols.map(col): _*)

  /** The DataFrame form of [[versionOf]]: the id-pruned resolve with the
    * version column kept through the latest-wins window.
    */
  private[graft] def lookupVersion(id: String): DataFrame =
    resolved(Some(col("id") === id), Some(id), keepVersion = true).select(col(VersionCol))

  /** S2 point lookup; None = the reference's 404
    * (reference: metadata_entry.py:127-147, bases.py:51-63). Read on the
    * driver, newest segment first ([[newestRow]]): no plan, no job.
    */
  def get(id: String): Option[MetadataEntry] = newestRow(id).map { case (_, r) => entryOf(r) }

  /** Committed version of an id's CURRENT row — the precondition token of
    * [[upsertIf]]: the version of the newest segment holding the id. None
    * when the id is absent or deleted (for CAS purposes a tombstone is
    * absence: re-creating a deleted id is an expected-absent write). The
    * same driver read as [[get]].
    */
  def versionOf(id: String): Option[Long] = newestRow(id).map(_._1)

  /** The id's live row and the version of the segment holding it, read on
    * the driver: read CURRENT once, walk [[readWindow]] NEWEST first, and
    * stop at the first segment that holds the id — a segment holds at most
    * one row per id (the class invariant), so that row is the one the
    * latest-wins window keeps. A delete row there means absent. Each
    * segment is read by [[DirectParquet.rowsWhere]] with an `id = <id>`
    * predicate: a bucketed base reads only the id's `_bucket=` dir when its
    * sidecar names the modulus (every bucket dir otherwise, as
    * [[readBase]]).
    *
    * Scale contract: one read opens the footers of at most the compaction
    * threshold's deltas plus one base bucket dir, and decodes only the row
    * groups whose id statistics admit the id — metadata-scale at any store
    * size. Nothing is cached: every call reads the committed files.
    */
  private def newestRow(id: String): Option[(Long, InternalRow)] = {
    val (baseV, deltaVs) = readWindow(currentVersion)
    val rowsOf = DirectParquet.rowsWhere(spark, "id", id)
    val opIdx = deltaSchema.fieldIndex(OpCol)
    // per segment, newest first: Some(live) when it holds the id, where
    // live is None for a tombstone
    val deltaHits = deltaVs.reverseIterator.map(d =>
      rowsOf(root.resolve(s"delta-$d"), deltaSchema).headOption.map(r =>
        Option.unless(r.getUTF8String(opIdx).toString == "delete")(d -> r)))
    val baseHit = baseV.iterator.map { b =>
      val dir = root.resolve(s"base-$b")
      val bucketDir = baseBucketCount(dir).fold(dir)(n => dir.resolve(s"$BucketCol=${bucketOf(id, n)}"))
      rowsOf(bucketDir, baseSchema).headOption.map(r => Option(b -> r))
    }
    (deltaHits ++ baseHit).collectFirst { case Some(live) => live }.flatten
  }

  /** A row read by [[newestRow]] as an entry (its leading columns are the
    * entry's, in [[MetadataSchema]] order), decoded as `.as[MetadataEntry]`
    * decodes it.
    */
  private def entryOf(r: InternalRow): MetadataEntry = {
    def str(i: Int): String = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    MetadataEntry(str(0), str(1),
      if (r.isNullAt(2)) null else DateTimeUtils.toJavaTimestamp(r.getLong(2)),
      str(3), str(4), r.getBoolean(5), str(6), r.getLong(7), r.getLong(8),
      str(9), str(10), str(11), Option(str(12)))
  }

  // -------------------------------------------------------------- mutations

  /** S3 upsert: validate + write under the given id; returns true when the id
    * was newly created (the reference's 201 vs 200,
    * metadata_entry.py:178-181). Invalid entry → IllegalArgumentException
    * (reference answers 400).
    */
  def upsert(entry: MetadataEntry): Boolean = {
    val normalized = Validation.normalize(entry, clock)
    val existed = get(entry.id).isDefined
    writeDelta(Seq(normalized), "upsert")
    !existed
  }

  /** CONDITIONAL upsert — compare-and-set on the id's committed version:
    * the write applies only if the entry's current version still equals
    * `expectedVersion` (None = "expect absent": create-if-not-exists;
    * [[versionOf]] supplies the token a reader captured). Returns true
    * when applied, false when the precondition failed — the HTTP 412 /
    * lost-update guard the plain last-writer-wins [[upsert]] deliberately
    * does not provide, and the compare-on-version ordering guard the
    * streaming ingest contract (see
    * [[graft.streaming.EventStream.streamIngestToStore]]) names as
    * caller-supplied.
    *
    * The precondition is re-validated INSIDE the commit critical section
    * ([[claimAndCommit]]'s guard runs under the cross-process root lock),
    * so a racer that slips between the optimistic pre-check and the
    * commit is caught: the staged segment is discarded and the CAS
    * reports false rather than silently overwriting the racer's write.
    * A version-claim collision with an UNRELATED writer simply re-stages
    * (the normal optimistic loop) — only a change to THIS id rejects.
    * The in-lock re-check is one driver-side point read ([[versionOf]]:
    * footers plus the row groups that admit the id, no Spark job), so the
    * root lock is held for milliseconds at any store size.
    */
  def upsertIf(entry: MetadataEntry, expectedVersion: Option[Long]): Boolean =
    this.synchronized {
      val normalized = Validation.normalize(entry, clock)
      // a lost claim means either the version was claimed by an unrelated
      // writer (re-stage fresh) or this id changed underneath us (the next
      // attempt's pre-check returns false)
      commitSegment("delta", fresh = _ => versionOf(entry.id) == expectedVersion) {
        (staging, v) =>
          if (versionOf(entry.id) != expectedVersion) Left(false)
          else {
            // driver-side stage (one entry — see writeDelta); protocol unchanged
            DirectParquet.writeRows(spark, staging, deltaSchema,
              Seq(deltaRow(normalized, v, "upsert")))
            Right(true)
          }
      }
    }

  /** Batch upsert: validate + normalize every entry, then write ONE delta
    * segment and ONE pointer swap — the batch shape of S3. An N-entry load
    * is a single Spark job instead of N sequential commit round-trips.
    * Duplicate ids within the batch keep the LAST occurrence (the same
    * outcome as folding [[upsert]] left-to-right; within one segment the
    * rows share a version, so the tie must be broken before the write).
    * Any invalid entry fails the whole batch before anything is written —
    * per-row error isolation is [[bulkLoad]]'s contract, not this one's.
    */
  def upsertAll(entries: Seq[MetadataEntry]): Unit = if (entries.nonEmpty) {
    val normalized = entries.map(Validation.normalize(_, clock))
    writeDelta(normalized.reverse.distinctBy(_.id).reverse, "upsert")
  }

  /** Distributed batch upsert — the Dataset counterpart of
    * [[upsertAll(entries:Seq[graft\.model\.MetadataEntry])*]]: default
    * creationTime, dedupe to one row per id, validate, and land the whole
    * batch as ONE delta segment + ONE pointer swap, entirely executor-side.
    * Rows never pass through the driver — the requirement of the streaming
    * ingest path ([[graft.streaming.EventStream.streamIngestToStore]]),
    * where a micro-batch may be event-scale while only its net change set
    * should cost anything.
    *
    * Validation rides the write job as an `observe()` audit checked AFTER
    * the stage write but BEFORE the staged segment can publish: any invalid
    * row aborts the commit (the staging directory is discarded — readers
    * can never observe it) and throws, preserving the Seq overload's
    * all-or-nothing contract without a second scan of the batch. Per-row
    * error isolation is [[bulkLoad]]'s contract, not this one's.
    *
    * Duplicate ids within the batch resolve deterministically — newest
    * creationTime wins, ties broken by content hash. A caller holding a true
    * arrival order should pre-reduce to its own latest-per-id (as the
    * streaming ingest's `netEntries` contract requires); the store-side
    * dedupe is the deterministic safety net that keeps one version per id
    * per segment (within a segment rows share `_version`, so resolve could
    * not break the tie later).
    */
  def upsertAll(batch: Dataset[MetadataEntry]): Unit = this.synchronized {
    val audit = org.apache.spark.sql.Observation(
      s"graft-upsert-audit-${java.util.UUID.randomUUID.toString.take(8)}")
    val deduped = latestPerId(batch.toDF())
      .observe(audit,
        sum(when(!Validation.validColumn, 1L).otherwise(0L)).as("invalid"),
        count(lit(1)).as("rows"))
    // an invalid or empty batch leaves through commitSegment's cleanup, so
    // its staged segment never outlives the call
    commitSegment("delta") { (staging, v) =>
      deduped.withColumn(VersionCol, lit(v)).withColumn(OpCol, lit("upsert"))
        .write.mode("overwrite").parquet(staging.toString)
      // Observation latches the FIRST action's metrics — validity and count
      // are content-based, so a CAS-retry re-write needs no re-audit. `get`
      // blocks until the (already-finished) write's metrics are delivered.
      val metrics = audit.get
      val invalid = observedLong(metrics, "invalid")
      if (invalid > 0)
        throw new IllegalArgumentException(
          s"upsertAll batch rejected: $invalid invalid entr${if (invalid == 1) "y" else "ies"} " +
            "(required fields empty, negative counts, or malformed targetUri) — nothing committed")
      if (observedLong(metrics, "rows") == 0L) Left(()) else Right(())
    }
  }

  /** MERGE INTO — the lakehouse three-arm batch mutation (Delta/Iceberg's
    * headline write): one source table drives matched-UPDATE,
    * not-matched-INSERT, and matched-DELETE against the store in ONE
    * atomic commit, where today the same intent costs one commit per arm
    * (upsertAll + per-id deletes) with readers able to observe the
    * half-applied middle. Source rows carry the entry columns plus an
    * optional `_delete` boolean:
    *
    *   - `_delete` ∧ matched      → the id's current image lands as a
    *                                delete row (the [[delete]] shape)
    *   - ¬`_delete` ∧ matched     → MERGE-PATCH update: non-null source
    *                                fields overwrite, null fields keep the
    *                                current value — the distributed batch
    *                                form of [[partialUpdate]]
    *   - ¬`_delete` ∧ not matched → insert (creationTime defaulted)
    *   - `_delete` ∧ not matched  → no-op (Delta's semantics)
    *
    * A source id appearing more than once is REFUSED up front — the Delta
    * multiple-source-rows rule: an ambiguous merge must fail loudly, never
    * pick a winner silently. Any merged/inserted row failing validation
    * aborts the whole merge before the commit point (the upsertAll
    * all-or-nothing contract). The commit is one MIXED-OP delta segment —
    * resolution reads `_op` per row, so a segment may carry upserts and
    * deletes together; one row per id keeps within-segment identity
    * unambiguous (rows share `_version`).
    *
    * At 100 TB: the incremental source BROADCASTS against the resolved
    * snapshot (the [[applyChanges]] discipline) — the matched current
    * images come from ONE snapshot scan probed by the broadcast source
    * keys, and every later join runs between source-scale tables, so
    * the snapshot is never shuffled; everything else is narrow per-row
    * column arithmetic and the one commit is O(|source|). Returns
    * per-arm row counts.
    */
  def merge(source: DataFrame): MetadataStore.MergeStats = this.synchronized {
    val src = (if (source.columns.contains("_delete")) source
      else source.withColumn("_delete", lit(false)))
      .withColumn("_delete", coalesce(col("_delete"), lit(false)))
    val dup = src.groupBy("id").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).count()
    require(dup == 0,
      s"merge refused: $dup source id(s) appear more than once — an " +
        "ambiguous merge must fail, not resolve silently (the Delta " +
        "multiple-source-rows rule)")
    val now = clock()
    // ONE snapshot scan, probed by the broadcast source keys — the
    // matched images are a source-scale table, so nothing downstream
    // ever shuffles (or re-reads) the snapshot; a plain left join of
    // source against the full current would put the corpus on the
    // stream side of a sort-merge instead.
    // CONTRACT (r18, from the r17 advice): the broadcast hint assumes the
    // documented incremental-batch source — a caller handing a
    // snapshot-scale source must pre-shrink it (or split the merge),
    // exactly as with applyChanges/maintainHistory; the hint is the
    // design, not an oversight.
    val curHit = resolved.select(entryCols.map(col): _*)
      .join(broadcast(src.select(col("id"))), Seq("id"))
    // the source⋈current probe is materialized ONCE (source-scale, the
    // former persist's role — still exactly one snapshot scan), with
    // columns disambiguated so the three arms read the checkpoint
    val j = src.alias("s").join(curHit.alias("c"), col("s.id") === col("c.id"), "left")
      .select((entryCols.map(n => col(s"s.$n").as(s"s_$n")) :+
        col("s._delete").as("_delete")) ++
        entryCols.map(n => col(s"c.$n").as(s"c_$n")): _*)
      .localCheckpoint(true)
    val matched = col("c_id").isNotNull
    def sc(n: String) = col(s"s_$n")
    def cc(n: String) = col(s"c_$n")
    val deleteRows = j.where(col("_delete") && matched)
      .select(entryCols.map(n => cc(n).as(n)): _*)
      .withColumn(OpCol, lit("delete")).withColumn("_arm", lit("deleted"))
    val updateRows = j.where(!col("_delete") && matched)
      .select(entryCols.map(n =>
        if (n == "id") sc(n).as(n) else coalesce(sc(n), cc(n)).as(n)): _*)
      .withColumn(OpCol, lit("upsert")).withColumn("_arm", lit("updated"))
    val insertRows = j.where(!col("_delete") && !matched)
      .select(entryCols.map(n => sc(n).as(n)): _*)
      .withColumn("creationTime", coalesce(col("creationTime"), lit(now)))
      .withColumn(OpCol, lit("upsert")).withColumn("_arm", lit("inserted"))
    // per-arm counts and the validity audit ride the staging write itself
    // as observe() metrics (r18, the upsertAll discipline) — the former
    // shape paid a persisted invalid-count job plus a byArm collect job
    // for numbers the write pass computes anyway. An invalid row still
    // aborts BEFORE the commit point (the staged dir is discarded —
    // readers can never observe it), and a zero-arm merge still commits
    // nothing.
    val audit = org.apache.spark.sql.Observation(
      s"graft-merge-audit-${java.util.UUID.randomUUID.toString.take(8)}")
    val all = deleteRows.unionByName(updateRows).unionByName(insertRows)
      .observe(audit,
        sum(when(col("_arm") === "inserted", 1L).otherwise(0L)).as("inserted"),
        sum(when(col("_arm") === "updated", 1L).otherwise(0L)).as("updated"),
        sum(when(col("_arm") === "deleted", 1L).otherwise(0L)).as("deleted"),
        sum(when(col(OpCol) === "upsert" && !Validation.validColumn, 1L)
          .otherwise(0L)).as("invalid"))
    try {
      commitSegment("delta") { (staging, v) =>
        all.drop("_arm").withColumn(VersionCol, lit(v))
          .write.mode("overwrite").parquet(staging.toString)
        // metrics latch on the FIRST action; a CAS-retry re-write (only
        // the version literal changes) needs no re-audit
        val m = audit.get
        val invalid = observedLong(m, "invalid")
        require(invalid == 0L,
          s"merge rejected: $invalid invalid merged row(s) — nothing committed")
        val stats = MetadataStore.MergeStats(observedLong(m, "inserted"),
          observedLong(m, "updated"), observedLong(m, "deleted"))
        if (stats.inserted + stats.updated + stats.deleted == 0L) Left(stats)
        else Right(stats)
      }
    } finally {
      // release the eager checkpoint's block-manager storage
      j.queryExecution.analyzed match {
        case lrdd: org.apache.spark.sql.execution.LogicalRDD => lrdd.rdd.unpersist(false)
        case _ => ()
      }
    }
  }

  /** S4 partial update: replace a subset of fields on one entry; update keys
    * must be ⊆ schema (reference: metadata_entry.py:216-274, subset check
    * :239-241). Returns false when the id does not exist (404).
    */
  def partialUpdate(id: String, fields: Map[String, Any]): Boolean = {
    val unknown = fields.keySet -- MetadataSchema.filterWhitelist
    if (unknown.nonEmpty)
      throw new IllegalArgumentException(s"unknown fields in update: ${unknown.mkString(",")}")
    get(id) match {
      case None => false
      case Some(existing) =>
        val merged = Validation.merge(existing, fields)
        writeDelta(Seq(Validation.normalize(merged, clock)), "upsert")
        true
    }
  }

  /** S5 delete: tombstone the id; subsequent reads observe it immediately
    * (read-your-writes; the reference flushes the ES index,
    * bases.py:81-82). Returns false when absent (404). Cascades to external
    * services are a service-layer concern (graft.serve.CascadeDeleter).
    */
  def delete(id: String): Boolean = {
    get(id) match {
      case None => false
      case Some(entry) =>
        writeDelta(Seq(entry), "delete")
        true
    }
  }

  /** S6 bulk load: validate each row, load the good ones, return the bad ones
    * (per-row error isolation — a bad row never fails the job,
    * reference: elastic_admin.py:54-83 logs and continues). Duplicate ids
    * among the good rows resolve by the Dataset [[upsertAll]]'s rule
    * ([[latestPerId]]), so the loaded segment keeps one row per id. The
    * returned rejects are a lazy filter over `entries`: nothing is cached,
    * so a caller that collects them re-reads the input.
    */
  def bulkLoad(entries: Dataset[MetadataEntry]): Dataset[MetadataEntry] = {
    writeDeltaDF(latestPerId(entries.toDF().where(Validation.validColumn)), "upsert")
    entries.where(!Validation.validColumn)
  }

  /** The one-row-per-id rule of the executor-side batch writers: default
    * creationTime to the clock (reference: metadata_entry.py:88-94), then
    * keep each id's newest creationTime, ties broken by content hash — a
    * deterministic winner whatever the input order. Rows of one segment
    * share `_version`, so the tie must be broken here, before the write.
    */
  private def latestPerId(df: DataFrame): DataFrame = {
    val latestFirst = Window.partitionBy(col("id")).orderBy(
      col("creationTime").desc,
      xxhash64(struct(entryCols.map(col): _*)).desc)
    df.withColumn("creationTime", coalesce(col("creationTime"), lit(clock())))
      .withColumn("_rn", row_number().over(latestFirst))
      .where(col("_rn") === 1).drop("_rn")
  }

  /** S7 drop: empty the table (reference deletes the whole index,
    * ignore-missing, elastic_admin.py:41-52). The base carries a truncation
    * sidecar — a table-level event [[versionHistory]] surfaces and
    * [[changesBetween]] refuses to silently span (a drop produces no delta
    * rows, so an incremental CDC replay across it would diverge).
    */
  def drop(): Unit = this.synchronized {
    commitSegment("base") { (staging, _) =>
      current.limit(0).toDF().write.mode("overwrite").parquet(staging.toString)
      Files.writeString(staging.resolve(TruncateMarker), "truncated")
      Right(())
    }
  }

  /** Change feed: the NET row-level change per id in the version window
    * (fromVersion, toVersion] — latest-wins within the window, so an id
    * updated then deleted surfaces once, as a delete. Emits the entry
    * columns plus (change_version, change_op ∈ {upsert, delete}); an
    * incremental consumer checkpoints the version it has seen and asks for
    * everything after it, exactly the lakehouse CDF contract.
    *
    * Reads DELTA segments only: compaction bases re-state existing rows
    * (no logical change), and a `drop()` truncation is a table-level event
    * a consumer observes via the version history, not as per-row deletes.
    * Cost is O(changed rows), never a snapshot scan — the shuffle keys on
    * id over just the windowed deltas.
    */
  def changesBetween(fromVersion: Long, toVersion: Long = Long.MaxValue): DataFrame = {
    val to = math.min(toVersion, currentVersion)
    // Feed-soundness guards: the window must neither span a truncation (a
    // drop() emits no delta rows — replaying across it silently diverges the
    // replica) nor reach below the vacuum floor (those deltas are deleted).
    if (fromVersion < retentionFloor - 1)
      throw new IllegalStateException(
        s"changesBetween($fromVersion, $toVersion): deltas at or below " +
          s"${retentionFloor - 1} were vacuumed — re-snapshot the replica")
    versionHistory()
      .find(e => e.kind == "truncate" && e.version > fromVersion && e.version <= to)
      .foreach(e => throw new IllegalStateException(
        s"changesBetween($fromVersion, $toVersion) spans a truncation at version " +
          s"${e.version}: a drop() has no row-level representation — " +
          "re-snapshot the replica instead of applying this window"))
    val deltaVs = listVersions("delta-").filter(d => d > fromVersion && d <= to)
    val log = deltaVs.map(d => spark.read.schema(deltaSchema)
        .parquet(root.resolve(s"delta-$d").toString))
      .reduceOption(_ unionByName _).getOrElse(emptyLog)
    val latest = Window.partitionBy(col("id")).orderBy(col(VersionCol).desc)
    log.withColumn("_rn", row_number().over(latest))
      .where(col("_rn") === 1).drop("_rn")
      .withColumnRenamed(VersionCol, "change_version")
      .withColumnRenamed(OpCol, "change_op")
  }

  /** SCD2 row-version history over the RETAINED log: one output row per
    * committed row IMAGE, carrying the half-open version interval
    * `[valid_from, valid_to)` during which that image was the id's current
    * row — `valid_to` null while the image is still live. A delete closes
    * its predecessor's interval without opening one; re-creating a deleted
    * id opens a fresh interval. This is the type-2 dimension build the
    * change log already paid for: [[currentAt]] answers "the whole table
    * as of v", [[history]] answers "every version of every row" in ONE
    * pass, and [[lookupAsOf]] rides it for set-oriented point probes.
    *
    * Segment selection mirrors [[changesBetween]]'s semantics with a
    * vacuum-safe seed: all retained DELTA segments after the last
    * truncation carry the changes; compaction bases between them are
    * logical no-op restatements and are skipped — EXCEPT the newest base
    * below the oldest retained delta (the vacuum anchor), which is the
    * only surviving record of rows whose delta history was vacuumed and
    * therefore seeds the build (those rows surface with `valid_from` = the
    * anchor version: the store's documented history-resolution floor, the
    * [[retentionFloor]] contract). History before the last `drop()` is a
    * different table's life and is excluded, matching the feed's
    * refuse-to-span-truncation rule.
    *
    * At 100 TB: one hash shuffle of the retained log on id and one
    * in-partition sort shared by the `lead` — per-id history is
    * CDC-depth, so no skewed tail; nothing collects.
    */
  def history(): DataFrame = {
    val cur = currentVersion
    val trunc = versionHistory()
      .filter(_.kind == "truncate").map(_.version).maxOption.getOrElse(0L)
    val deltaVs = listVersions("delta-").filter(d => d > trunc && d <= cur)
    // seed: the newest base below every retained delta (vacuum anchor or a
    // base-written initial load); later bases are restatements, skipped
    val seedCut = deltaVs.minOption.map(_ - 1).getOrElse(cur)
    val seedV = listVersions("base-").filter(b => b > trunc && b <= seedCut).lastOption
      .filterNot(b => Files.exists(root.resolve(s"base-$b").resolve(TruncateMarker)))
    val log = (seedV.map(readBase(_, None)).toSeq ++
      deltaVs.map(d => spark.read.schema(deltaSchema)
        .parquet(root.resolve(s"delta-$d").toString)))
      .reduceOption(_ unionByName _).getOrElse(emptyLog)
    val nextV = Window.partitionBy(col("id")).orderBy(col(VersionCol))
    log
      .withColumn("valid_to", lead(col(VersionCol), 1).over(nextV))
      .where(col(OpCol) =!= "delete")
      .withColumnRenamed(VersionCol, "valid_from")
      .drop(OpCol)
  }

  /** Set-oriented time travel: for each probe row `(idCol, versionCol)`
    * return the row image that was current at that version — the batch
    * form of [[currentAt]]-then-filter, priced at one equi-join instead of
    * |probes| snapshot resolves. Inner semantics: a probe whose id was
    * absent (or deleted) at its version emits nothing.
    *
    * The join is a plain hash equi-join on id with the interval predicate
    * as an in-stage residual — per-id history is CDC-depth, so the
    * residual scans a handful of rows per probe; no nested-loop, no
    * window. Probe columns must not collide with entry column names
    * (besides the shared id).
    */
  def lookupAsOf(probes: DataFrame, idCol: String = "id",
                 versionCol: String = "as_of_version"): DataFrame = {
    val h = history()
    probes.withColumnRenamed(idCol, "id")
      .join(h, Seq("id"))
      .where(col(versionCol) >= col("valid_from") &&
        (col("valid_to").isNull || col(versionCol) < col("valid_to")))
      .drop("valid_from", "valid_to")
  }

  /** X2 full export: write the resolved current table out as parquet
    * (reference: tools/elastic_migrate_tool.py:44-63 does a count-then-refetch
    * two-phase scroll because ES pages; a Spark snapshot exports in one
    * distributed write — no two-phase needed).
    */
  def export(path: String): Unit =
    current.write.mode("overwrite").parquet(path)

  /** Segment retention: delete every segment strictly below the newest base
    * still needed to resolve the oldest retained version (CURRENT −
    * keepVersions + 1). Resolution of every retained version is unchanged —
    * a resolve at w ≥ that base reads the newest base ≤ w plus the deltas
    * above it, none of which are touched — while time travel and change
    * feeds below the resulting [[retentionFloor]] throw (their history is
    * gone; that is the point: without retention a long-lived store's disk
    * grows without bound). No-op until a base at/below the floor exists —
    * run [[compact]] first. Returns the deleted segment versions.
    */
  def vacuum(keepVersions: Long = 1): Seq[Long] = this.synchronized {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    withRootLock {
      val oldestKept = math.max(currentVersion - keepVersions + 1, 0L)
      listVersions("base-").filter(_ <= oldestKept).lastOption match {
        case None => Nil // every delta below the floor is still live
        case Some(anchor) =>
          val doomed =
            (listVersions("base-").map(b => s"base-$b" -> b) ++
              listVersions("delta-").map(d => s"delta-$d" -> d))
              .filter(_._2 < anchor)
          doomed.foreach { case (name, _) =>
            graft.util.FsUtil.deleteRecursively(root.resolve(name))
          }
          if (anchor > retentionFloor)
            graft.util.FsUtil.atomicWrite(root.resolve(VacuumFloorFile), anchor.toString)
          doomed.map(_._2).sorted
      }
    }
  }

  /** Log redaction — the right-to-be-forgotten op on the RETAINED LOG,
    * the leg [[vacuum]] (global retention) and [[delete]] (logical close)
    * cannot express: physically remove every row of the given ids from
    * every log segment while preserving the commit structure — version
    * numbers, segment set, CURRENT, and all other rows are untouched, so
    * time travel, [[history]], and change feeds keep working and simply
    * no longer surface the ids at ANY version ("never existed"
    * semantics). Returns the number of rows physically removed.
    *
    * Per segment: only segments actually CONTAINING a doomed row are
    * rewritten; a bucketed base is touched per `_bucket=` subdirectory
    * (only the ids' buckets — the cold directories keep their files).
    * Each rewrite stages survivors to a hidden sibling and swaps with two
    * atomic renames; a crash between them leaves a `.redact-old-*`
    * remnant that the next [[redactIds]] call (or construction-time read,
    * which never sees hidden names) HEALS by restoring the original —
    * redaction re-run then completes the job. Single-writer maintenance
    * op, serialized against commits by the root lock.
    *
    * Replica contract: feeds replayed AFTER redaction never mention the
    * ids; a replica that already applied earlier windows holds its own
    * copy and must run its own purge — redaction cannot reach into
    * downstream state, same as every lakehouse. A takedown composes
    * [[delete]] (current table) + this (the log) +
    * [[MetadataStore.purgeHistoryIds]] (any materialized history).
    */
  def redactIds(ids: Seq[String]): Long = this.synchronized { withRootLock {
    healRedactionLeftovers()
    if (ids.isEmpty) 0L
    else {
      val in = col("id").isin(ids.map(x => x: Any): _*)
      var removed = 0L
      // swap `dirRel` (relative to root, "/" encoded as "__") with `tmp`
      def swap(dirRel: String, tmp: Path): Unit = {
        val dir = root.resolve(dirRel.replace("__", "/"))
        val old = root.resolve(s".redact-old-$dirRel")
        Files.move(dir, old, StandardCopyOption.ATOMIC_MOVE)
        Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
        graft.util.FsUtil.deleteRecursively(old)
      }
      def rewrite(dirRel: String, schema: org.apache.spark.sql.types.StructType): Unit = {
        val dir = root.resolve(dirRel.replace("__", "/"))
        val df = spark.read.schema(schema).parquet(dir.toString)
        val doomed = df.where(in).count()
        if (doomed > 0) {
          removed += doomed
          val tmp = root.resolve(s".redact-tmp-$dirRel")
          graft.util.FsUtil.deleteRecursively(tmp)
          df.where(!in).write.mode("overwrite").parquet(tmp.toString)
          // carry sidecar marker FILES (never row data) across the swap
          listDir(dir)(_.filter(p => Files.isRegularFile(p) &&
              p.getFileName.toString.startsWith("_") &&
              p.getFileName.toString != "_SUCCESS").toSeq)
            .foreach(m => Files.copy(m, tmp.resolve(m.getFileName.toString),
              StandardCopyOption.REPLACE_EXISTING))
          swap(dirRel, tmp)
        }
      }
      // every segment ON DISK, committed or orphan: a published orphan can
      // be adopted into the read window by a later commit, so it must be
      // scrubbed too
      listVersions("delta-").foreach(v => rewrite(s"delta-$v", deltaSchema))
      listVersions("base-").foreach { b =>
        val dir = root.resolve(s"base-$b")
        if (hasBucketDirs(dir)) {
          // surgical: only the ids' buckets under THIS base's modulus
          baseBucketCount(dir) match {
            case Some(n) =>
              ids.map(bucketOf(_, n)).distinct.foreach { k =>
                if (Files.isDirectory(dir.resolve(s"$BucketCol=$k")))
                  rewrite(s"base-${b}__$BucketCol=$k", baseSchema)
              }
            case None => // sidecar lost: fall back to scrubbing every bucket
              listDir(dir)(_.filter(p => Files.isDirectory(p) &&
                  p.getFileName.toString.startsWith(s"$BucketCol=")).toSeq)
                .foreach(sub => rewrite(s"base-${b}__${sub.getFileName}", baseSchema))
          }
        } else rewrite(s"base-$b", baseSchema)
      }
      if (removed > 0) spark.catalog.refreshByPath(root.toString)
      removed
    }
  }}

  /** Crash recovery for [[redactIds]]' two-rename swap: a `.redact-old-X`
    * with X missing means the crash hit between the renames — restore the
    * original (the rewrite re-runs); with X present the swap completed —
    * drop the remnant. Orphan `.redact-tmp-*` staging is always deleted.
    */
  private def healRedactionLeftovers(): Unit = {
    listDir(root)(_.map(_.getFileName.toString).toSeq).foreach { n =>
      if (n.startsWith(".redact-tmp-"))
        graft.util.FsUtil.deleteRecursively(root.resolve(n))
      else if (n.startsWith(".redact-old-")) {
        val target = root.resolve(n.stripPrefix(".redact-old-").replace("__", "/"))
        if (Files.exists(target)) graft.util.FsUtil.deleteRecursively(root.resolve(n))
        else Files.move(root.resolve(n), target, StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }

  /** Compaction policy: fold the log once it exceeds `threshold` delta
    * segments since the last base. Call after mutations (or from a
    * maintenance job); keeps the merge window — and every read's segment
    * fan-in — bounded without manual compaction scheduling. Returns whether
    * a compaction ran.
    */
  def maybeCompact(threshold: Int): Boolean = this.synchronized {
    if (readWindow(currentVersion)._2.size >= threshold) { compact(); true } else false
  }

  /** Fold the delta log into a new base snapshot. With `numBuckets` > 0 the
    * base is laid out as `_bucket=k/` partition directories keyed on
    * pmod(xxhash64(id), numBuckets) — point lookups then prune to one
    * directory (`PartitionFilters`, spec-asserted) on top of the row-group
    * pruning the pushed id filter already buys. This is the 100 TB layout:
    * the bucket count is a write-side decision, the resolve plan is
    * unchanged, and unbucketed bases remain readable (changing `numBuckets`
    * just requires one recompaction).
    */
  def compact(): Unit = this.synchronized {
    // A base SHADOWS every older segment, so — unlike a delta — it may
    // only commit if NOTHING landed after its snapshot: true compare-and-
    // swap. The snapshot at v − 1 (= nextVersion − 1) folds in every
    // published segment (committed or not: a published-but-unpointed orphan
    // from a crashed writer is complete data — publication is the
    // durability point, the pointer the visibility point — and our commit
    // would adopt it into the read window, so shadowing it without folding
    // it would lose the write).
    commitSegment("base", fresh = v => nextVersion <= v) { (staging, v) =>
      val snap = resolved(None, None, Some(v - 1))
      if (numBuckets > 0) {
        snap.withColumn(BucketCol, pmod(xxhash64(col("id")), lit(numBuckets.toLong)).cast("int"))
          .write.partitionBy(BucketCol).mode("overwrite").parquet(staging.toString)
        // self-describing layout: the modulus travels INSIDE the staged dir, so
        // the atomic publish below makes data + sidecar visible together —
        // reads prune with the WRITTEN bucket count, whatever this store is
        // constructed with later
        Files.writeString(staging.resolve(BucketCountFile), numBuckets.toString)
      } else snap.write.mode("overwrite").parquet(staging.toString)
      Right(())
    }
  }

  /** One delta row in [[deltaSchema]] field order. */
  private def deltaRow(e: MetadataEntry, v: Long, op: String): Row =
    Row(e.id, e.category, e.creationTime, e.dataSample, e.format, e.isPublic,
      e.orgUUID, e.recordCount, e.size, e.sourceUri, e.targetUri, e.title,
      e.storeType.orNull, v, op)

  /** Seq-overload delta write — DRIVER-SIDE (r18): the rows are already
    * driver-resident and metadata-scale by the caller's contract (point
    * mutations, small validated batches), so staging them through a
    * Dataset plan + a scheduled one-task job + the Hadoop commit protocol
    * was ~100 ms of pure engine overhead per mutation (the JobProfile
    * "driver gap" that dominated every store scenario). The staged file
    * is produced by Spark's own ParquetWriteSupport under the session
    * conf (byte-compatible with the executor write path — see
    * [[DirectParquet]]); the optimistic stage → claim → atomic publish →
    * pointer-swap protocol around it is IDENTICAL to [[writeDeltaDF]]'s.
    * Corpus-scale mutations keep their executor-side writes ([[bulkLoad]],
    * the Dataset [[upsertAll]], [[merge]]).
    */
  private def writeDelta(entries: Seq[MetadataEntry], op: String): Unit = this.synchronized {
    commitSegment("delta") { (staging, v) =>
      DirectParquet.writeRows(spark, staging, deltaSchema, entries.map(deltaRow(_, v, op)))
      Right(())
    }
  }

  /** Executor-side delta write — bulk loads never pass through the driver.
    *
    * Optimistic cross-instance concurrency ([[commitSegment]]): if another
    * store instance on the same root claimed the version first, the stage
    * is discarded and re-written under a fresh version — concurrent
    * writers all succeed (the reference tolerates concurrent index
    * creation, app.py:101-109) and no mutation is ever silently lost.
    */
  private def writeDeltaDF(df: DataFrame, op: String): Unit = this.synchronized {
    commitSegment("delta") { (staging, v) =>
      df.withColumn(VersionCol, lit(v)).withColumn(OpCol, lit(op))
        .write.mode("overwrite").parquet(staging.toString)
      Right(())
    }
  }
}

object MetadataStore {

  /** One committed table-level event (see [[MetadataStore.versionHistory]]):
    * kind ∈ delta | base | truncate.
    */
  final case class VersionEvent(version: Long, kind: String)

  /** Schema of the PERSISTED SCD2 history layout ([[writeHistory]]): entry
    * columns + the [valid_from, valid_to) interval + the `bucket` partition
    * column. Passing it to readers skips per-directory footer inference —
    * the layout is this module's own write contract, so inference buys
    * nothing and costs one footer read per directory per maintenance op.
    */
  val historySchema: org.apache.spark.sql.types.StructType =
    MetadataSchema.structType
      .add("valid_from", "long", nullable = true)
      .add("valid_to", "long", nullable = true)
      .add("bucket", "int", nullable = true)

  /** Per-arm row counts of one [[MetadataStore.merge]] commit. */
  final case class MergeStats(inserted: Long, updated: Long, deleted: Long)

  // One JVM monitor per canonical root path: nio FileLocks are held
  // per-process, so in-process instances must serialize on a shared monitor
  // before touching the advisory cross-process lock (a second in-process
  // lock() would throw OverlappingFileLockException).
  private val rootMonitors = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[store] def monitorFor(root: Path): Object =
    rootMonitors.computeIfAbsent(root.toAbsolutePath.normalize.toString, _ => new Object)

  /** Consumer half of the CDC contract: advance a replica snapshot with a
    * [[MetadataStore.changesBetween]] batch — drop every changed id, then
    * add back the upserts (deletes simply stay dropped). The changed-id set
    * is an incremental batch, orders of magnitude smaller than the replica,
    * so it broadcasts and the replica side never shuffles — MERGE semantics
    * at a 100 TB replica without a sort or a co-partition requirement.
    */
  def applyChanges(snapshot: DataFrame, changes: DataFrame): DataFrame = {
    val upserts = changes.where(col("change_op") === "upsert")
      .drop("change_version", "change_op")
    snapshot.join(broadcast(changes.select(col("id"))), Seq("id"), "left_anti")
      .unionByName(upserts)
  }

  /** REPLICA-DIVERGENCE checksum — the reconciliation audit run after a
    * CDC consumer ([[applyChanges]]) has folded change windows: a
    * per-bucket, ORDER-FREE fingerprint sum of the replica-visible state
    * (id, title, category), comparable row-for-row against the primary's
    * without shipping either side. Divergence localizes to the bucket —
    * the blast-radius property a full-state hash doesn't give.
    *
    * Portability discipline: the row fingerprint is the first 15 hex
    * chars of md5 (60 bits — any engine derives the identical long), the
    * bucket is fp mod `buckets` (never an engine-private hash like
    * Murmur3), and the checksum is Σ fp carried in DECIMAL(38,0) then
    * folded mod 2⁶² back to a pinned BIGINT (a raw decimal sum would
    * hash as decimal128 vs int64 under type-sensitive comparators — the
    * c9 lesson). Plan: one narrow projection + a buckets-row map-side-
    * combining aggregate; at a 100 TB replica this is the cheapest scan
    * that can prove anything. Output: `(bucket, n_rows, checksum)`
    * ordered by bucket.
    */
  def stateChecksum(snapshot: DataFrame, buckets: Int = 16): DataFrame = {
    require(buckets > 0, s"buckets must be positive: $buckets")
    // Injective field encoding: NULL → 'N'; value → 'V' + value with '\'
    // doubled and '|' escaped as '\|'. NULL can never collide with a
    // literal value, and an unescaped '|' occurs only as the field
    // delimiter — a fingerprint whose job is detecting divergence must
    // not itself admit cross-field or NULL-vs-value collisions.
    def enc(c: String): String =
      s"CASE WHEN $c IS NULL THEN 'N' ELSE 'V' || " +
        s"replace(replace($c, chr(92), chr(92) || chr(92)), '|', chr(92) || '|') END"
    val fp = expr("CAST(conv(substring(md5(" +
      s"concat_ws('|', ${enc("id")}, ${enc("title")}, ${enc("category")})" +
      "), 1, 15), 16, 10) AS BIGINT)")
    snapshot.select(fp.as("fp"))
      .select((col("fp") % buckets).as("bucket"), col("fp"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        expr("CAST(CAST(sum(CAST(fp AS DECIMAL(38,0))) AS DECIMAL(38,0)) " +
          "% 4611686018427387904 AS BIGINT)").as("checksum"))
      .orderBy("bucket")
  }

  /** Incremental SCD2 maintenance — the s12/s15 change-feed discipline on
    * the HISTORY table itself (what dbt snapshots do nightly, priced at
    * the change window): advance a materialized [[MetadataStore.history]]
    * with a [[MetadataStore.changesBetween]] batch instead of rebuilding
    * from the log. Per changed id: its OPEN interval (if any) closes at
    * the change version — delete and update alike — and an upsert opens a
    * fresh interval at that version. Unchanged ids' rows pass through
    * untouched via a broadcast anti/semi probe pair, so the history side
    * never shuffles: MERGE economics at a 100 TB history.
    *
    * Revision granularity contract: the feed window nets each id to ONE
    * change (latest-wins, the changesBetween contract), so maintenance
    * advanced per window records the WINDOW-NET image sequence. Advanced
    * version-by-version it is bit-identical to a fresh [[history]] rebuild
    * (spec-pinned and oracle-gated); a consumer folding coarser windows
    * gets the net history those windows can express — the same semantics
    * its replica ([[applyChanges]]) sees, never a silent divergence
    * within a window it observed.
    *
    * Partitioning contract: the result is a three-branch union (keep ∪
    * adjusted ∪ opened) and so carries ~2× the input history's
    * partitions. One advance-then-write cycle absorbs that in the write;
    * a consumer folding MANY windows in memory must re-layout between
    * folds (coalesce/repartition + checkpoint, or the persisted-view
    * discipline), or partition count doubles per fold.
    */
  def maintainHistory(histOld: DataFrame, changes: DataFrame): DataFrame = {
    val net = changes.select(col("id"), col("change_version"), col("change_op"))
    val changedIds = broadcast(net.select(col("id")).distinct())
    val keep = histOld.join(changedIds, Seq("id"), "left_anti")
    // changed ids: closed intervals pass through; the open one (valid_to
    // null) closes at the id's change version. The strict
    // `valid_from < change_version` guard makes REPLAY of a window
    // idempotent: a row at the window's own version can only be the
    // window's opened row from a previous (crashed/repeated) advance —
    // dropped here and re-emitted identically by `opened`, instead of
    // being closed into a degenerate [v, v) interval plus a duplicate.
    val adjusted = histOld.join(changedIds, Seq("id"), "left_semi")
      .join(broadcast(net.select(col("id"), col("change_version"))), Seq("id"))
      .where(col("valid_from") < col("change_version"))
      .withColumn("valid_to",
        coalesce(col("valid_to"), col("change_version")))
      .drop("change_version")
    val opened = changes.where(col("change_op") === "upsert")
      .withColumnRenamed("change_version", "valid_from")
      .withColumn("valid_to", lit(null).cast("long"))
      .drop("change_op")
      .select(adjusted.columns.map(col): _*)
    keep.unionByName(adjusted).unionByName(opened)
  }

  /** Initial materialization of the PERSISTED SCD2 history layout:
    * partitioned by `bucket = viewBucket(id, nBuckets)` so that
    * [[refreshHistoryPartitions]] can advance it in place touching only
    * the buckets a change window lands in. Bucketing on id keys BOTH the
    * open and closed intervals of a row to one directory — unlike the
    * join view there is no key to move, so a change never has an
    * "old home" to probe for.
    */
  def writeHistory(hist: DataFrame, nBuckets: Int, path: String): Unit =
    hist.withColumn("bucket",
        graft.operators.ViewMaintenance.viewBucket(col("id"), nBuckets))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Advance a PERSISTED SCD2 history ([[writeHistory]] layout) in place
    * from a [[MetadataStore.changesBetween]] batch — [[maintainHistory]]'s
    * write path, the x15/s17 dynamic-partition-overwrite discipline on the
    * history table. Touched buckets are exactly the changed ids' buckets,
    * computed from the CHANGE BATCH alone (no probe of the stored view —
    * id is the bucket key for every interval of a row, so there is no
    * key-move and no old-home scan). The fold is [[maintainHistory]]
    * restricted to those buckets, with the keep-slice read through the
    * STORED partition column: the broadcast semi join on `bucket` prunes
    * the scan to the touched directories, so one advance costs
    * ∝ |changes| + the touched slice, never the history's bulk, and
    * untouched buckets — the cold majority at 100 TB — keep their files
    * byte-identical (spec-pinned).
    *
    * No emptied-bucket sweep is needed (unlike the join view): history
    * rows only ACCRETE or have `valid_to` stamped, so a touched bucket's
    * fresh slice is never empty while its directory has rows. Replay of
    * the same window is idempotent end-to-end: the fold's
    * `valid_from < change_version` guard re-emits a half-applied bucket
    * identically, and dynamic overwrite replaces it wholesale.
    * Single-writer maintenance op (the ivfCompactSmallFiles discipline).
    */
  def refreshHistoryPartitions(spark: SparkSession, histPath: String,
                               changes: DataFrame, nBuckets: Int): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val net = changes.select(col("id"), col("change_version"), col("change_op"))
    // touched buckets: CDC-batch-scale distinct off the feed alone
    val touched: Seq[Int] = net
      .select(graft.operators.ViewMaintenance.viewBucket(col("id"), nBuckets)
        .as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    if (touched.isEmpty) return // empty change window: nothing to rewrite
    historyRefreshFold(spark, histPath, changes, nBuckets, touched)
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(histPath)
    // the session's file-status cache still lists the replaced files of
    // touched directories — drop it for subsequent reads
    spark.catalog.refreshByPath(histPath)
  }

  /** The read-side fold of one [[refreshHistoryPartitions]] advance,
    * exposed for plan audit: the keep-slice reads the stored history
    * through a LITERAL `bucket IN (...)` partition filter — `touched` is
    * already driver-resident (bounded by nBuckets, metadata-scale
    * whatever the change window), so static partition pruning beats a
    * dynamic-pruning semi join: the touched directories are the only ones
    * even LISTED (`PartitionFilters`, plan-pinned), not merely the only
    * ones rewritten.
    */
  private[graft] def historyRefreshFold(spark: SparkSession, histPath: String,
                                        changes: DataFrame, nBuckets: Int,
                                        touched: Seq[Int]): DataFrame = {
    // explicit schema (r18): the layout is writeHistory's own contract —
    // per-advance footer inference was pure driver overhead
    val histOld = spark.read.schema(MetadataStore.historySchema).parquet(histPath)
      .where(col("bucket").isin(touched.map(Int.box): _*))
    maintainHistory(histOld,
      changes.withColumn("bucket",
        graft.operators.ViewMaintenance.viewBucket(col("id"), nBuckets)))
  }

  /** Takedown on the persisted SCD2 history: physically ERASE every
    * interval of the given ids — the right-to-be-forgotten op, distinct
    * from [[delete]] (which logically CLOSES an interval and leaves the
    * images readable forever) and from [[vacuum]] (which bounds log
    * retention globally). Touched buckets are the purged ids' buckets
    * (computable from the id set alone, the [[refreshHistoryPartitions]]
    * argument); survivors in those buckets rewrite via dynamic partition
    * overwrite, cold buckets keep their files byte-identical. Because a
    * purge REMOVES rows, a touched bucket can empty out entirely — and
    * dynamic overwrite only replaces partitions PRESENT in the written
    * data — so emptied directories are detected by the s17 file-listing
    * discipline and swept explicitly. Re-running the same purge is a
    * no-op (the ids are already gone). Returns the number of erased rows.
    *
    * Scope contract: this erases the MATERIALIZED history table. The
    * store's delta LOG is a separate surface with its own erasure path —
    * a full takedown composes [[delete]] (stops the current table),
    * [[vacuum]] past the retention window (physically reclaims the id's
    * log segments), and this purge (erases the materialized images).
    */
  def purgeHistoryIds(spark: SparkSession, histPath: String,
                      purgeIds: Seq[String], nBuckets: Int): Long = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    if (purgeIds.isEmpty) return 0L
    import spark.implicits._
    val ids = purgeIds.toDF("id")
    val touched: Seq[Int] = ids
      .select(graft.operators.ViewMaintenance.viewBucket(col("id"), nBuckets)
        .as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val slice = spark.read.schema(MetadataStore.historySchema).parquet(histPath)
      .where(col("bucket").isin(touched.map(Int.box): _*)) // static partition pruning
    val doomed = slice.join(broadcast(ids), Seq("id"), "left_semi").count()
    if (doomed == 0L) return 0L // already purged (or never present): no-op
    val fresh = slice.join(broadcast(ids), Seq("id"), "left_anti")
    // emptied-bucket detection by file listing (the s17 rule): a touched
    // bucket whose survivors are empty keeps its old files under dynamic
    // overwrite — an unchanged listing after the write means no rows
    // landed there, and for a takedown that stale directory MUST go
    def listing(bk: Int): Seq[String] = {
      val p = java.nio.file.Paths.get(histPath, s"bucket=$bk")
      if (!java.nio.file.Files.isDirectory(p)) Seq.empty
      else graft.util.FsUtil.listDir(p)(_.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted)
    }
    val before = touched.map(bk => bk -> listing(bk)).toMap
    fresh
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket").parquet(histPath)
    val swept = touched.filter(bk => before(bk).nonEmpty && listing(bk) == before(bk))
    swept.foreach { bk =>
      graft.util.FsUtil.deleteRecursively(
        java.nio.file.Paths.get(histPath, s"bucket=$bk"))
    }
    spark.catalog.refreshByPath(histPath)
    doomed
  }

  /** The materialized per-category summary (row count + recordCount sum) —
    * the base aggregate [[maintainCategoryStats]] keeps current. Computed
    * ONCE from a snapshot; thereafter maintenance is feed-driven.
    */
  def categoryStats(snapshot: DataFrame): DataFrame =
    snapshot.groupBy("category")
      .agg(count(lit(1)).as("n_docs"), sum("recordCount").as("sum_records"))

  /** Incremental maintenance of the materialized category aggregate from a
    * [[MetadataStore.changesBetween]] batch — the warehouse
    * materialized-view pattern: a summary table stays current WITHOUT
    * re-aggregating the base. Additive aggregates update from two
    * deltas:
    *
    *  - ADDITIONS: the feed's upsert rows (new and post-update images),
    *    aggregated directly — CDC-batch scale.
    *  - RETRACTIONS: the PRE-IMAGE rows of every changed id, fetched from
    *    the previous snapshot through a BROADCAST SEMI JOIN on the feed's
    *    net keys. The changed-id set is CDC-batch scale by definition, so
    *    the probe is a map-side filter of the snapshot scan (no shuffle of
    *    the big side), and it stays one whatever the window grows to — a
    *    catch-up batch of 10⁶ ids is still one broadcast, where a
    *    collected isin literal of that size would stop pushing to scans
    *    and bloat the plan. On a partitioned snapshot layout the broadcast
    *    side additionally supplies dynamic partition pruning.
    *
    * The old aggregate rows enter the final fold as-is, so UNCHANGED
    * groups are carried, not recomputed: maintenance cost scales with
    * |changes|, not |table|. A group whose maintained count reaches zero
    * drops out (the DELETE-last-row case); a category first seen in the
    * feed appears with no old row to fold against. Spec-pinned: a
    * category move, a delete, an insert, and a category-emptying second
    * cycle all land the maintained aggregate exactly on a fresh
    * recomputation.
    */
  def maintainCategoryStats(aggOld: DataFrame, snapshotOld: DataFrame,
                            changes: DataFrame): DataFrame = {
    // Broadcast semi join, not a collected isin literal: the probe stays a
    // map-side filter at any window size (a backfill window grows with the
    // corpus; a 10⁵⁺-id literal list stops pushing and bloats the plan),
    // and on a partitioned snapshot layout the broadcast side supplies the
    // dynamic pruning the literal push supplied on row groups.
    val changedIds = broadcast(changes.select(col("id")).distinct())
    val retract = snapshotOld.join(changedIds, Seq("id"), "left_semi")
      .groupBy("category")
      .agg((-count(lit(1))).as("dn"), (-sum("recordCount")).as("dr"))
    val add = changes.where(col("change_op") === "upsert")
      .groupBy("category")
      .agg(count(lit(1)).as("dn"), sum("recordCount").as("dr"))
    aggOld.select(col("category"), col("n_docs").as("dn"), col("sum_records").as("dr"))
      .unionByName(retract).unionByName(add)
      .groupBy("category")
      .agg(sum("dn").as("n_docs"), sum("dr").as("sum_records"))
      .where(col("n_docs") > 0)
  }
}

/** Ingest-time validation + normalization
  * (reference: MetadataIndexingTransformer, metadata_entry.py:64-94).
  */
object Validation {

  /** targetUri must parse with a scheme and a non-trivial path
    * (reference: metadata_entry.py:82-86; invalid fixtures
    * tests/test_metadata_entries.py:321-329: `//onet.pl/`, `hdfs://onet.pl/`,
    * `http://`, `some_path`).
    */
  def validTargetUri(uri: String): Boolean =
    try {
      val u = new java.net.URI(uri)
      u.getScheme != null && u.getScheme.nonEmpty &&
        u.getPath != null && u.getPath.length > 1
    } catch { case _: java.net.URISyntaxException => false }

  /** Column form of the row validity check, for distributed bulk loads:
    * required strings non-empty, counts non-negative, targetUri shaped
    * `scheme://…/non-trivial-path`. Never NULL: a null count (possible in a
    * DataFrame read through `.as[MetadataEntry]`) would make the check NULL,
    * which both `where(valid)` and `where(!valid)` drop — so a null check
    * counts as invalid.
    */
  def validColumn: org.apache.spark.sql.Column = {
    val requiredNonEmpty = Seq("category", "dataSample", "format", "orgUUID",
      "sourceUri", "targetUri", "title")
      .map(f => col(f).isNotNull && length(col(f)) > 0)
      .reduce(_ && _)
    coalesce(requiredNonEmpty &&
      col("recordCount") >= 0 && col("size") >= 0 &&
      col("targetUri").rlike("^[A-Za-z][A-Za-z0-9+.-]*://[^/]*/.+"), lit(false))
  }

  /** Driver-side validation + creationTime default-now (clock injectable for
    * testability, as the reference does, metadata_entry.py:31-32,88-94).
    */
  def normalize(e: MetadataEntry, clock: () => Timestamp): MetadataEntry = {
    def req(name: String, v: String): Unit =
      if (v == null || v.isEmpty) throw new IllegalArgumentException(s"missing required field: $name")
    req("category", e.category); req("dataSample", e.dataSample); req("format", e.format)
    req("orgUUID", e.orgUUID); req("sourceUri", e.sourceUri); req("targetUri", e.targetUri)
    req("title", e.title)
    if (!validTargetUri(e.targetUri))
      throw new IllegalArgumentException(s"invalid targetUri: ${e.targetUri}")
    if (e.creationTime == null) e.copy(creationTime = clock()) else e
  }

  def merge(e: MetadataEntry, fields: Map[String, Any]): MetadataEntry = {
    var out = e
    fields.foreach {
      case ("category", v: String) => out = out.copy(category = v)
      case ("creationTime", v: String) => out = out.copy(creationTime = Timestamp.valueOf(v.replace("T", " ")))
      case ("dataSample", v: String) => out = out.copy(dataSample = v)
      case ("format", v: String) => out = out.copy(format = v)
      case ("isPublic", v: Boolean) => out = out.copy(isPublic = v)
      case ("orgUUID", v: String) => out = out.copy(orgUUID = v)
      case ("recordCount", v) => out = out.copy(recordCount = v.toString.toLong)
      case ("size", v) => out = out.copy(size = v.toString.toLong)
      case ("sourceUri", v: String) => out = out.copy(sourceUri = v)
      case ("targetUri", v: String) => out = out.copy(targetUri = v)
      case ("title", v: String) => out = out.copy(title = v)
      case (k, v) => throw new IllegalArgumentException(s"bad update $k=$v")
    }
    out
  }
}
