package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** TWO-TABLE atomic commit: one manifest covering the metadata store and
  * its persisted SCD2 history (the s21 table), so the two can never be
  * OBSERVED half-advanced. Without it the pair advances in two commits —
  * the store's `CURRENT` swap, then the history's partition overwrite —
  * and a crash (or a concurrent reader) between them sees a store at v
  * with a history still at v−1 (the e22 exposure). Reference analogue:
  * the catalog's ES index and its postgres mirror advance independently
  * (data_catalog/app.py keeps no cross-store transaction) — this closes
  * that gap with lakehouse-style manifest semantics.
  *
  * Layout under the pair root:
  * {{{
  *   MANIFEST            # "storeVersion histGen" — atomic-rename swapped
  *   hist/gen-1/         # full initial history snapshot (writeHistory layout)
  *   hist/gen-2/         # LATER GENS HOLD ONLY TOUCHED BUCKETS — full
  *   hist/gen-3/         #   replacement slices, the refreshHistoryPartitions
  *   ...                 #   fold landed copy-on-advance instead of in place
  * }}}
  *
  * A reader resolves the manifest ONCE, then reads the store AT the pinned
  * version (time travel — immutable segments) and each history bucket from
  * the NEWEST generation ≤ the pinned one that contains it (latest-wins
  * overlay — generations are immutable once published). Both reads touch
  * only immutable data named by one atomically-swapped file, so the pair
  * is a consistent snapshot with no reader-side locking — the delta-lake
  * manifest argument applied across TWO tables.
  *
  * Writer protocol per advance (single-writer, the maintenance-op
  * contract): (1) the store mutates through its own protocol — its
  * CURRENT may run AHEAD of the manifest, which is harmless because pair
  * readers never look at CURRENT; (2) the history fold for
  * `changesBetween(manifest.v, store.v)` is staged at `.gen-g.staging`
  * and atomically renamed to `gen-g` — the s23 two-rename discipline;
  * (3) the manifest swaps to `(store.v, g)` — the ONE commit point.
  * A crash after (2) leaves an orphan `gen-g` the manifest never names:
  * invisible to every reader, swept by [[heal]], and the redone advance
  * re-stages it identically (the maintainHistory fold is replay-
  * idempotent). History granularity equals commit granularity: an advance
  * spanning several store versions folds the NET change per id — the
  * changesBetween contract.
  *
  * Scale: an advance costs the touched slice (the refreshHistoryPartitions
  * bill — never the history's bulk); a read lists nBuckets × generations
  * directory names (driver-side metadata). Generation count is bounded by
  * [[rebase]] — the pair's compact() analog: a full writeHistory snapshot
  * as `gen-(g+1)` subsumes every older generation, the manifest swaps to
  * it, and [[sweepSubsumed]] reclaims the shadowed ones — so reads return
  * to a single-generation scan on whatever cadence the operator runs it.
  */
object PairCommit {

  final case class Manifest(storeVersion: Long, histGen: Long)

  private def manifestPath(root: String): Path = Paths.get(root, "MANIFEST")
  private def histDir(root: String): Path = Paths.get(root, "hist")
  private def genPath(root: String, g: Long): Path = histDir(root).resolve(s"gen-$g")

  def manifest(root: String): Manifest = {
    require(Files.exists(manifestPath(root)),
      s"no pair manifest under $root — call init() first")
    val parts = Files.readString(manifestPath(root)).trim.split(' ')
    Manifest(parts(0).toLong, parts(1).toLong)
  }

  /** Atomic manifest swap — the commit point of the pair. */
  private def swapManifest(root: String, m: Manifest): Unit =
    graft.util.FsUtil.atomicWrite(manifestPath(root), s"${m.storeVersion} ${m.histGen}")

  /** Stage a directory's final rename — the publish half of the two-rename
    * discipline. */
  private def publish(staging: Path, target: Path): Unit = {
    Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def listGens(root: String): Seq[Long] =
    graft.util.FsUtil.listDir(histDir(root))(_.map(_.getFileName.toString)
      .filter(_.startsWith("gen-"))
      .map(_.stripPrefix("gen-").toLong)
      .toSeq.sorted)

  private def bucketsOf(root: String, g: Long): Seq[Int] =
    graft.util.FsUtil.listDir(genPath(root, g))(_.map(_.getFileName.toString)
      .filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toInt)
      .toSeq)

  /** Initialize the pair: full history snapshot as `gen-1`, manifest at
    * `(store.committedVersion, 1)`. */
  def init(root: String, store: MetadataStore, nBuckets: Int): Manifest = {
    Files.createDirectories(histDir(root))
    val v = store.committedVersion
    val staging = histDir(root).resolve(".gen-1.staging")
    graft.util.FsUtil.deleteRecursively(staging)
    MetadataStore.writeHistory(store.history(), nBuckets, staging.toString)
    publish(staging, genPath(root, 1L))
    val m = Manifest(v, 1L)
    swapManifest(root, m)
    m
  }

  /** Advance the pair to the store's committed version: stage + publish
    * the touched-bucket fold as the next generation, then swap the
    * manifest. `crashBeforeSwap` stops between publish and swap — the
    * scripted-crash hook (s26): the orphan generation is manifest-
    * invisible and the returned manifest is the UNCHANGED old one.
    */
  def advance(spark: SparkSession, root: String, store: MetadataStore,
              nBuckets: Int, crashBeforeSwap: Boolean = false): Manifest = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val m = manifest(root)
    val v = store.committedVersion
    if (v == m.storeVersion) return m // nothing to absorb
    require(v > m.storeVersion,
      s"store regressed below the manifest: $v < ${m.storeVersion}")
    val changes = store.changesBetween(m.storeVersion, v)
    val touched: Seq[Int] = changes
      .select(graft.operators.ViewMaintenance.viewBucket(col("id"), nBuckets)
        .as("bucket"))
      .distinct().collect().map(_.getInt(0)).toSeq
    val g = m.histGen + 1
    if (touched.nonEmpty) {
      val histOld = readHistoryAt(spark, root, m.histGen)
        .where(col("bucket").isin(touched.map(Int.box): _*))
      val fold = MetadataStore.maintainHistory(histOld,
        changes.withColumn("bucket",
          graft.operators.ViewMaintenance.viewBucket(col("id"), nBuckets)))
      val staging = histDir(root).resolve(s".gen-$g.staging")
      graft.util.FsUtil.deleteRecursively(staging)
      fold.write.mode("overwrite").partitionBy("bucket").parquet(staging.toString)
      // a crashed prior advance may have published this generation name
      // without committing it — manifest-invisible, so replacing it IS
      // the redo (explicit heal() remains available but is not required)
      graft.util.FsUtil.deleteRecursively(genPath(root, g))
      publish(staging, genPath(root, g))
    }
    if (crashBeforeSwap) return m
    val next = Manifest(v, if (touched.nonEmpty) g else m.histGen)
    swapManifest(root, next)
    next
  }

  /** RE-BASE the history generations — the pair layout's `compact()`
    * analog. Without it a long-lived pair grows one generation per
    * advance forever: each read unions one partition-pruned scan per
    * CONTRIBUTING generation, so read fan-in (and the manifest's
    * directory-listing bill) grows with commit count. The re-base writes
    * the FULL resolved history at the current manifest generation as one
    * new generation `g+1` — which, because maintainHistory never removes
    * a bucket's rows (SCD2 closes intervals, never forgets them), wins
    * EVERY bucket in the latest-wins overlay — then swaps the manifest to
    * `(storeVersion unchanged, g+1)` and sweeps the now-subsumed older
    * generations. Reads after a re-base scan exactly one generation
    * again; resolved history is unchanged by construction (gated by the
    * s27 oracle).
    *
    * Crash windows (the 5528a redo discipline, same as [[advance]]):
    * a crash during staging leaves a `.gen-*.staging` dir [[heal]] sweeps;
    * a crash after publish but before the swap (the `crashBeforeSwap`
    * hook) leaves an orphan generation ABOVE the manifest — invisible to
    * every reader, healed as one orphan, and the redone re-base replaces
    * it idempotently; a crash after the swap but before the sweep leaves
    * subsumed OLDER generations on disk — reads are already correct (the
    * new full generation shadows every bucket) and the next
    * [[sweepSubsumed]] (or re-base) reclaims them.
    */
  def rebase(spark: SparkSession, root: String, nBuckets: Int,
             crashBeforeSwap: Boolean = false): Manifest = {
    require(nBuckets > 0, s"nBuckets must be positive: $nBuckets")
    val m = manifest(root)
    val g = m.histGen + 1
    val full = readHistoryAt(spark, root, m.histGen).drop("bucket")
    val staging = histDir(root).resolve(s".gen-$g.staging")
    graft.util.FsUtil.deleteRecursively(staging)
    MetadataStore.writeHistory(full, nBuckets, staging.toString)
    graft.util.FsUtil.deleteRecursively(genPath(root, g)) // crashed-redo replace
    publish(staging, genPath(root, g))
    if (crashBeforeSwap) return m
    val next = Manifest(m.storeVersion, g)
    swapManifest(root, next)
    sweepSubsumed(root)
    next
  }

  /** Reclaim generations that win NO bucket in the manifest overlay: a
    * generation `gi` below the manifest's is dead once every bucket it
    * contains also appears in some LATER generation ≤ the manifest's —
    * no [[readHistoryAt]] resolution can reach it. The subset check is
    * the proof, so this is safe even if a future fold ever shrank a
    * bucket set; the manifest generation itself is never touched (it is
    * the floor [[readHistoryAt]] requires). Returns directories removed.
    */
  def sweepSubsumed(root: String): Long = {
    val g = manifest(root).histGen
    val gens = listGens(root).filter(_ <= g)
    val buckets: Map[Long, Set[Int]] =
      gens.map(gi => gi -> bucketsOf(root, gi).toSet).toMap
    val dead = gens.filter(_ < g).filter { gi =>
      val shadow = gens.filter(_ > gi).flatMap(buckets(_)).toSet
      buckets(gi).subsetOf(shadow)
    }
    dead.map(genPath(root, _)).foreach(graft.util.FsUtil.deleteRecursively)
    dead.size.toLong
  }

  /** Sweep crash remnants: generation directories the manifest does not
    * reach (published but never committed) and abandoned staging dirs.
    * Returns the number of directories removed. Safe any time under the
    * single-writer contract — a named generation is never above the
    * manifest.
    */
  def heal(root: String): Long = {
    val g = manifest(root).histGen
    val orphans = listGens(root).filter(_ > g).map(genPath(root, _))
    val staged = graft.util.FsUtil.listDir(histDir(root))(
      _.filter(_.getFileName.toString.startsWith(".gen-")).toSeq)
    (orphans ++ staged).foreach(graft.util.FsUtil.deleteRecursively)
    (orphans.size + staged.size).toLong
  }

  /** The history at the manifest's pinned generation — the pair reader's
    * history half. */
  def readHistory(spark: SparkSession, root: String): DataFrame =
    readHistoryAt(spark, root, manifest(root).histGen)

  /** Latest-wins bucket overlay at generation ceiling `g`: each bucket
    * resolves to its newest generation ≤ g that contains it; every
    * generation is immutable, so this is a consistent snapshot. The scan
    * unions one partition-pruned read per contributing generation.
    */
  def readHistoryAt(spark: SparkSession, root: String, g: Long): DataFrame = {
    val gens = listGens(root).filter(_ <= g) // ascending
    require(gens.nonEmpty, s"no history generation at or below $g under $root")
    // later gens overwrite earlier ones bucket by bucket
    val winner: Map[Int, Long] =
      gens.flatMap(gi => bucketsOf(root, gi).map(_ -> gi)).toMap
    // a pair initialized over an EMPTY store publishes gen-1 with no
    // bucket dirs (partitionBy writes nothing) — the overlay then has no
    // contributing generation to union, so return the empty history with
    // its schema spelled out (entry columns + SCD2 interval + bucket)
    // instead of letting reduce() throw on the empty collection
    if (winner.isEmpty) {
      import org.apache.spark.sql.types._
      val schema = StructType(
        org.apache.spark.sql.Encoders.product[graft.model.MetadataEntry]
          .schema.fields.toSeq ++ Seq(
            StructField("valid_from", LongType),
            StructField("valid_to", LongType),
            StructField("bucket", IntegerType)))
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    }
    val byGen: Map[Long, Seq[Int]] =
      winner.groupBy(_._2).map { case (gi, kvs) => gi -> kvs.keys.toSeq }
    byGen.toSeq.sortBy(_._1).map { case (gi, buckets) =>
      val p = genPath(root, gi).toString
      // explicit schema (r18): the layout is writeHistory's by contract, so
      // per-generation footer inference — one read per gen per advance, a
      // growing driver cost as generations accrete — buys nothing
      spark.read.option("basePath", p).schema(MetadataStore.historySchema)
        .parquet(p)
        .where(col("bucket").isin(buckets.map(Int.box): _*))
    }.reduce(_ unionByName _)
  }

  /** The store at the manifest's pinned version — the pair reader's
    * snapshot half. With [[readHistory]] this is the atomic pair view:
    * both halves resolve through ONE manifest read onto immutable data.
    */
  def readSnapshot(store: MetadataStore, root: String): DataFrame =
    store.currentAt(manifest(root).storeVersion).toDF()
}
