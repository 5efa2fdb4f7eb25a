package graft.serve

import graft.model.MetadataEntry

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
