package graft

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.serve.HttpCascadeDeleter
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** The cascade HTTP client against a loopback stub recording every request —
  * URL/verb/header/body parity with the reference's DataSetRemover
  * (reference: dataset_delete.py:65-103, tests/test_dataset_delete.py).
  */
class HttpCascadeSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  final case class Recorded(method: String, path: String, query: String,
                            auth: String, body: String)

  private val recorded = scala.collection.mutable.ArrayBuffer.empty[Recorded]
  @volatile private var respondWith = 200
  private var server: HttpServer = _
  private var port = 0

  override def beforeAll(): Unit = {
    server = graft.serve.HttpCatalog.newServer(new InetSocketAddress("127.0.0.1", 0))
    server.createContext("/", (ex: HttpExchange) => {
      recorded.synchronized {
        recorded += Recorded(
          ex.getRequestMethod,
          ex.getRequestURI.getPath,
          Option(ex.getRequestURI.getRawQuery).getOrElse(""),
          Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse(""),
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      }
      ex.sendResponseHeaders(respondWith, -1)
      ex.close()
    })
    server.start()
    port = server.getAddress.getPort
  }

  override def afterAll(): Unit = server.stop(0)

  private def deleter = new HttpCascadeDeleter(
    s"http://127.0.0.1:$port/rest/filestore/{}",
    s"http://127.0.0.1:$port/rest/tables",
    () => "bearer tok-1")

  private val entry = Fixtures.corpus.head // targetUri …/db0/heart/000000_1

  test("cascade: downloader gets the db id from targetUri; publisher gets the entry body") {
    recorded.synchronized(recorded.clear())
    respondWith = 200
    deleter.cascade(entry) shouldBe (true, true)
    val rs = recorded.synchronized(recorded.toList)
    rs.map(_.method).distinct shouldBe List("DELETE")
    // databaseId = second-to-last segment of targetUri (dataset_delete.py:99-103)
    rs.map(_.path) should contain("/rest/filestore/heart")
    rs.map(_.auth).distinct shouldBe List("bearer tok-1")
    val pub = rs.find(_.path == "/rest/tables").get
    pub.query shouldBe "" // plain cascade carries no scope param
    val body = com.fasterxml.jackson.databind.json.JsonMapper.builder().build().readTree(pub.body)
    body.get("id").asText shouldBe entry.id
    body.get("targetUri").asText shouldBe entry.targetUri
    body.get("isPublic").asBoolean shouldBe true
  }

  test("dropPublicView: scope=public param, only fired for public entries") {
    recorded.synchronized(recorded.clear())
    respondWith = 200
    deleter.dropPublicView(entry) shouldBe true // entry 0 is public
    recorded.synchronized(recorded.toList).map(r => (r.path, r.query)) shouldBe
      List(("/rest/tables", "scope=public"))
    recorded.synchronized(recorded.clear())
    deleter.dropPublicView(Fixtures.corpus(1)) shouldBe false // private: no request
    recorded.synchronized(recorded.toList) shouldBe Nil
  }

  test("non-200 and connection failure report false, never throw (dataset_delete.py:84-93)") {
    respondWith = 500
    deleter.cascade(entry) shouldBe (false, false)
    respondWith = 200
    val dead = new HttpCascadeDeleter(
      // RFC 5737 TEST-NET address: connect fails fast, nothing listens there
      "http://192.0.2.1:9/rest/filestore/{}", "http://192.0.2.1:9/rest/tables",
      () => "t", timeout = java.time.Duration.ofMillis(300))
    dead.cascade(entry) shouldBe (false, false)
  }
}
