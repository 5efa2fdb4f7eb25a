package graft.serve

import graft.compile.QueryCompiler
import graft.exec.SearchExecutor
import graft.model.{AclContext, MetadataEntry, SearchResult}
import graft.store.MetadataStore
import org.apache.spark.sql.SparkSession

/** The thin serving shell around the Spark core — the reference's service
  * layer re-expressed as seams (SURVEY.md §2.7): every mutation notifies, and
  * deletes cascade to two external services. The engine stays pure; HTTP/
  * NATS/real cascade targets plug in behind these traits.
  */

/** The notification wire message — exactly the reference's published shape
  * (reference: data_catalog/notifier.py:56-63 — {'OrgGuid': …, 'Message': …,
  * 'Timestamp': int(time.time()*1000)}).
  */
final case class Notification(orgGuid: String, message: String, timestamp: Long)

/** Mutation notification seam (reference: data_catalog/notifier.py:45-63
  * publishes {OrgGuid, Message, Timestamp} on subject platform.data-catalog
  * after every PUT/POST/DELETE, call sites metadata_entry.py:156-271).
  * The timestamp is stamped by the notifier itself with an injectable
  * epoch-ms clock (reference: notifier.py:64-66), matching the store's
  * injectable-clock pattern — deterministic under test.
  */
trait Notifier {
  protected def clock: () => Long
  /** Stamp and publish — every implementation emits the full wire shape. */
  final def notify(orgUUID: String, message: String): Unit =
    publish(Notification(orgUUID, message, clock()))
  protected def publish(n: Notification): Unit
}

object NoopNotifier extends Notifier {
  protected val clock: () => Long = () => 0L
  protected def publish(n: Notification): Unit = ()
}

/** Records notifications in order — the test double, mirroring the
  * reference's mocked-NATS tests (reference: tests/test_notifier.py:32-52).
  * The default clock is fixed (0L) so tests are deterministic out of the box;
  * inject a real clock explicitly if wall time is wanted.
  */
final class RecordingNotifier(
    protected val clock: () => Long = () => 0L) extends Notifier {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Notification]
  protected def publish(n: Notification): Unit = synchronized { buf += n; () }
  def events: Seq[Notification] = synchronized(buf.toSeq)
}

/** Cascading-delete seam (reference: data_catalog/dataset_delete.py:31-103 —
  * HTTP DELETE to the Downloader with the database id parsed from targetUri
  * (`targetUri.split('/')[-2]`, :99-103) and to the Dataset Publisher with the
  * entry body (:69-71); failures are reported as booleans, never rolled back
  * (:84-93)).
  */
trait CascadeDeleter {
  /** Returns (deletedFromDownloader, deletedFromPublisher). */
  def cascade(entry: MetadataEntry): (Boolean, Boolean)

  /** Drop the public Hive view for an entry about to change visibility —
    * the reference's delete_public_from_hive (dataset_delete.py:50-63):
    * a scope=public delete against the Dataset Publisher, a no-op for
    * entries that are not currently public. Returns whether something was
    * deleted. Called with the PRE-update entry (the current visibility
    * decides the drop, reference: metadata_entry.py:245-247).
    */
  def dropPublicView(entry: MetadataEntry): Boolean
}

object NoopCascadeDeleter extends CascadeDeleter {
  def cascade(entry: MetadataEntry): (Boolean, Boolean) = (true, true)
  def dropPublicView(entry: MetadataEntry): Boolean = entry.isPublic
}

final class RecordingCascadeDeleter extends CascadeDeleter {
  private val buf = scala.collection.mutable.ArrayBuffer.empty[MetadataEntry]
  private val drops = scala.collection.mutable.ArrayBuffer.empty[MetadataEntry]
  def cascade(entry: MetadataEntry): (Boolean, Boolean) = synchronized { buf += entry; (true, true) }
  def dropPublicView(entry: MetadataEntry): Boolean =
    synchronized { drops += entry; entry.isPublic }
  def entries: Seq[MetadataEntry] = synchronized(buf.toSeq)
  /** Entries dropPublicView was invoked with, in order. */
  def publicViewDrops: Seq[MetadataEntry] = synchronized(drops.toSeq)

  /** The database id the reference's Downloader cascade extracts:
    * second-to-last path segment of targetUri
    * (reference: dataset_delete.py:99-103).
    */
  def databaseIds: Seq[String] =
    entries.map(_.targetUri.split("/").dropRight(1).lastOption.getOrElse(""))
}

/** Result of a delete, mirroring the reference's response body
  * (reference: dataset_delete.py:45-48, tests/test_dataset_delete.py:50-73).
  */
final case class DeleteResult(found: Boolean, deletedFromDownloader: Boolean,
                              deletedFromPublisher: Boolean)

/** The facade over search/get/put/post/delete/count — the reference's six
  * routes (reference: data_catalog/app.py:141-145) minus HTTP/auth transport:
  * the AclContext arrives pre-resolved exactly as the reference's search model
  * receives (query, orgs, filtering, isAdmin) (reference: search.py:105).
  */
final class CatalogService(spark: SparkSession, store: MetadataStore,
                           notifier: Notifier = NoopNotifier,
                           cascade: CascadeDeleter = NoopCascadeDeleter,
                           compactThreshold: Int = 64) {

  /** Every mutation route ends here: fold the delta log once it exceeds the
    * threshold, so a long-serving store's read fan-in stays bounded without
    * external maintenance scheduling.
    */
  private def afterMutation(): Unit = { store.maybeCompact(compactThreshold); () }

  /** GET /rest/datasets?query=… */
  def search(rawDsl: String, acl: AclContext): SearchResult =
    SearchExecutor.search(spark, store.current, rawDsl, acl)

  /** GET /rest/datasets/{id} — None = 404. */
  def get(id: String): Option[MetadataEntry] = store.get(id)

  /** PUT /rest/datasets/{id} — returns true when created (the reference's
    * 201 vs 200); notifies on success (reference: metadata_entry.py:177).
    */
  def put(entry: MetadataEntry): Boolean = {
    val created = store.upsert(entry)
    notifier.notify(entry.orgUUID, s"Dataset ${entry.id} ${if (created) "created" else "updated"}")
    afterMutation()
    created
  }

  /** POST /rest/datasets/{id} — partial update; notifies on success
    * (reference: metadata_entry.py:262-271). An update that touches
    * `isPublic` first drops the public Hive view, BEFORE the update is
    * applied — the reference calls delete_public_from_hive with the
    * current entry whenever 'isPublic' is in the request body
    * (reference: metadata_entry.py:245-247, dataset_delete.py:50-63).
    */
  def post(id: String, fields: Map[String, Any]): Boolean = {
    if (fields.contains("isPublic"))
      store.get(id).foreach(cascade.dropPublicView)
    val updated = store.partialUpdate(id, fields)
    if (updated) {
      notifier.notify(store.get(id).map(_.orgUUID).getOrElse(""), s"Dataset $id updated")
      afterMutation()
    }
    updated
  }

  /** DELETE /rest/datasets/{id} — tombstone + cascade + notify
    * (reference: metadata_entry.py:191-214, dataset_delete.py:31-48).
    */
  def delete(id: String): DeleteResult =
    store.get(id) match {
      case None => DeleteResult(found = false, deletedFromDownloader = false,
        deletedFromPublisher = false)
      case Some(entry) =>
        store.delete(id)
        val (dl, pub) = cascade.cascade(entry)
        notifier.notify(entry.orgUUID, s"Dataset $id deleted")
        afterMutation()
        DeleteResult(found = true, dl, pub)
    }

  /** GET /rest/datasets/count (reference: dataset_count.py:39-48). */
  def count(acl: AclContext): Long =
    SearchExecutor.count(store.current, acl)

  /** PUT /rest/datasets/admin/elastic — bulk (re)load with per-row error
    * isolation, corrupted rows omitted (reference: elastic_admin.py:54-83).
    * Admin gating is the transport's job (the reference checks
    * flask.g.is_admin in the resource). Returns the rejected ids.
    */
  def adminBulkLoad(entries: Seq[MetadataEntry]): Seq[String] = {
    import spark.implicits._
    val rejected = store.bulkLoad(spark.createDataset(entries)).collect().map(_.id).toSeq
    afterMutation()
    rejected
  }

  /** DELETE /rest/datasets/admin/elastic — drop the whole table,
    * ignore-missing (reference: elastic_admin.py:41-52).
    */
  def adminDrop(): Unit = store.drop()
}
