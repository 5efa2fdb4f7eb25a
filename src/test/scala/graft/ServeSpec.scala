package graft

import graft.model.AclContext
import graft.serve._
import graft.store.MetadataStore
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files
import java.sql.Timestamp

/** Serving-shell seams: every mutation notifies, deletes cascade with the
  * reference's response shape (reference: metadata_entry.py:156-271,
  * dataset_delete.py:31-103, tests/test_dataset_delete.py:50-73).
  */
class ServeSpec extends AnyFunSuite with Matchers with SparkSupport {

  private val clock: () => Timestamp = () => Timestamp.valueOf("2020-01-01 00:00:00")

  private def service(): (CatalogService, RecordingNotifier, RecordingCascadeDeleter) = {
    val store = new MetadataStore(spark, GraftSession.scratchDir("graft-serve").toString, clock)
    val n = new RecordingNotifier
    val c = new RecordingCascadeDeleter
    (new CatalogService(spark, store, n, c), n, c)
  }

  private val e0 = Fixtures.corpus.head

  test("put notifies created-vs-updated; get round-trips") {
    val (svc, n, _) = service()
    svc.put(e0) shouldBe true
    svc.put(e0.copy(title = "v2")) shouldBe false
    svc.get(e0.id).get.title shouldBe "v2"
    n.events.map(_.message) shouldBe Seq(s"Dataset ${e0.id} created", s"Dataset ${e0.id} updated")
    n.events.map(_.orgGuid).distinct shouldBe Seq(e0.orgUUID)
  }

  test("post notifies only on a found id") {
    val (svc, n, _) = service()
    svc.put(e0)
    svc.post(e0.id, Map("title" -> "patched")) shouldBe true
    svc.post("ghost", Map("title" -> "x")) shouldBe false
    n.events.last.message shouldBe s"Dataset ${e0.id} updated"
    n.events should have size 2 // put + successful post, no ghost event
  }

  test("notifications carry the injected clock's timestamp in wire order") {
    // reference: notifier.py:56-63 — {OrgGuid, Message, Timestamp} stamped
    // by the notifier at publish time with an epoch-ms clock.
    var now = 1000L
    val store = new MetadataStore(spark, GraftSession.scratchDir("graft-serve").toString, clock)
    val n = new RecordingNotifier(() => { now += 1; now })
    val svc = new CatalogService(spark, store, n, new RecordingCascadeDeleter)
    svc.put(e0)
    svc.post(e0.id, Map("title" -> "patched"))
    svc.delete(e0.id)
    n.events.map(_.timestamp) shouldBe Seq(1001L, 1002L, 1003L)
    n.events.map(_.orgGuid).distinct shouldBe Seq(e0.orgUUID)
  }

  test("default RecordingNotifier clock is deterministic") {
    val n = new RecordingNotifier
    n.notify("org", "msg")
    n.events.map(_.timestamp) shouldBe Seq(0L)
  }

  test("isPublic-touching post drops the public Hive view with the PRE-update entry") {
    // reference: metadata_entry.py:245-247 — delete_public_from_hive(current)
    // whenever 'isPublic' is in the body; dataset_delete.py:50-63.
    val (svc, _, c) = service()
    val entry = e0.copy(isPublic = true)
    svc.put(entry)
    svc.post(entry.id, Map("isPublic" -> false)) shouldBe true
    c.publicViewDrops.map(_.id) shouldBe Seq(entry.id)
    // the PRE-update visibility is what the cascade sees
    c.publicViewDrops.head.isPublic shouldBe true
    svc.get(entry.id).get.isPublic shouldBe false
  }

  test("a post that does not touch isPublic never drops the public view") {
    val (svc, _, c) = service()
    svc.put(e0)
    svc.post(e0.id, Map("title" -> "renamed")) shouldBe true
    c.publicViewDrops shouldBe empty
    // and a ghost-id isPublic post is also a no-op (no entry to drop)
    svc.post("ghost", Map("isPublic" -> true)) shouldBe false
    c.publicViewDrops shouldBe empty
  }

  test("delete cascades with the reference's response shape and database id") {
    val (svc, n, c) = service()
    val entry = e0.copy(targetUri = "hdfs://nameservice1/org/db42/data")
    svc.put(entry)
    val res = svc.delete(entry.id)
    res shouldBe DeleteResult(found = true, deletedFromDownloader = true, deletedFromPublisher = true)
    svc.get(entry.id) shouldBe None
    c.entries.map(_.id) shouldBe Seq(entry.id)
    // targetUri.split('/')[-2] — reference: dataset_delete.py:99-103
    c.databaseIds shouldBe Seq("db42")
    n.events.last.message shouldBe s"Dataset ${entry.id} deleted"
  }

  test("delete of an absent id reports not-found and triggers no side effects") {
    val (svc, n, c) = service()
    svc.delete("nope").found shouldBe false
    n.events shouldBe empty
    c.entries shouldBe empty
  }

  test("the facade self-compacts past its threshold; reads stay correct") {
    val dir = GraftSession.scratchDir("graft-serve-compact").toString
    val store = new MetadataStore(spark, dir, clock)
    val svc = new CatalogService(spark, store, compactThreshold = 4)
    Fixtures.corpus.take(5).foreach(svc.put)
    // 5 mutations with threshold 4 → at least one compaction produced a base
    new java.io.File(dir).list().count(_.startsWith("base-")) should be >= 1
    Fixtures.corpus.take(5).foreach(e => svc.get(e.id) shouldBe Some(e))
  }

  test("search and count flow through the facade") {
    val (svc, _, _) = service()
    Fixtures.corpus.foreach(svc.put)
    val admin = AclContext(Nil, isAdmin = true)
    svc.count(admin) shouldBe 10L
    val res = svc.search("""{"size":100}""", admin)
    res.total shouldBe 10L
    res.hits should have size 10
  }
}
