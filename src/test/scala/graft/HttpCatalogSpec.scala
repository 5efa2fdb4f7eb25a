package graft

import graft.serve.{Auth, CatalogService, HttpCatalog, RecordingNotifier, RecordingCascadeDeleter}
import graft.store.MetadataStore
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** End-to-end HTTP surface over loopback: the six reference routes with the
  * auth interceptor, ownership rules, and status taxonomy
  * (reference: app.py:141-148, metadata_entry.py, tests/test_auth.py).
  */
class HttpCatalogSpec extends AnyFunSuite with Matchers with SparkSupport
    with BeforeAndAfterAll {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val client = HttpClient.newHttpClient()

  // fake verification: the token IS the identity; memberships fixed
  private val verifier = new Auth.TokenVerifier {
    def verify(token: String): Auth.TokenPayload = token match {
      case "tok-admin" => Auth.TokenPayload("admin", Set("console.admin"))
      case "tok-org01" => Auth.TokenPayload("u1", Set("openid"))
      case "tok-org03" => Auth.TokenPayload("u3", Set("openid"))
      case other => throw new Auth.UnauthorizedException(s"bad token: $other")
    }
  }
  private val memberships =
    Map("admin" -> Seq.empty[String], "u1" -> Seq("org01"), "u3" -> Seq("org03"))

  private var http: HttpCatalog = _
  private var port: Int = 0
  private var notifier: RecordingNotifier = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    val store = new MetadataStore(spark,
      GraftSession.scratchDir("graft-http-store").toString,
      () => java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    import spark.implicits._
    store.bulkLoad(spark.createDataset(Fixtures.corpus))
    notifier = new RecordingNotifier()
    http = new HttpCatalog(
      new CatalogService(spark, store, notifier, new RecordingCascadeDeleter),
      verifier, p => memberships(p.userId))
    port = http.start()
  }

  override def afterAll(): Unit = {
    http.stop()
    super.afterAll()
  }

  private def req(method: String, path: String, token: Option[String] = Some("tok-admin"),
                  body: Option[String] = None): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    token.foreach(t => b.header("Authorization", s"bearer $t"))
    val withMethod = body match {
      case Some(s) => b.method(method, HttpRequest.BodyPublishers.ofString(s))
      case None => b.method(method, HttpRequest.BodyPublishers.noBody())
    }
    client.send(withMethod.build(), HttpResponse.BodyHandlers.ofString())
  }

  private def json(r: HttpResponse[String]) = mapper.readTree(r.body)

  private def enc(s: String) =
    java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)

  test("auth interceptor: missing header 401, bad token 401, api-docs exempt") {
    req("GET", "/rest/datasets/0", token = None).statusCode() shouldBe 401
    req("GET", "/rest/datasets/0", token = Some("forged")).statusCode() shouldBe 401
    req("GET", "/api-docs", token = None).statusCode() shouldBe 200
  }

  test("GET entry: 200 with entry fields, 404 missing, ownership 403 vs public pass-through") {
    val ok = req("GET", "/rest/datasets/0")
    ok.statusCode() shouldBe 200
    val n = json(ok)
    n.get("title").asText shouldBe "Heart disease rates"
    n.get("recordCount").asLong shouldBe 100L
    n.get("creationTime").asText shouldBe "2015-02-13T10:00:00"
    req("GET", "/rest/datasets/nope").statusCode() shouldBe 404
    // entry 7 is org02-private: forbidden for an org01 user…
    req("GET", "/rest/datasets/7", token = Some("tok-org01")).statusCode() shouldBe 403
    // …but entry 2 is org02-PUBLIC: readable by anyone authenticated
    req("GET", "/rest/datasets/2", token = Some("tok-org01")).statusCode() shouldBe 200
  }

  test("GET entry ?envelope=es returns the reference's raw ES get-envelope") {
    // reference fixture shape: _source carries the body, _id echoes the id
    // outside it (metadata_entry.py:138-141, tests/test_search.py:36-65)
    val r = req("GET", "/rest/datasets/0?envelope=es")
    r.statusCode() shouldBe 200
    val n = json(r)
    n.get("_index").asText shouldBe "trustedanalytics-meta"
    n.get("_type").asText shouldBe "dataset"
    n.get("_id").asText shouldBe "0"
    n.get("found").asBoolean shouldBe true
    val src = n.get("_source")
    src.get("title").asText shouldBe "Heart disease rates"
    src.has("id") shouldBe false // the id lives in _id, not the source body
    // the flat default is unchanged
    json(req("GET", "/rest/datasets/0")).has("_source") shouldBe false
  }

  test("api-docs serves the reference's swagger 2.0 contract shape") {
    val n = json(req("GET", "/api-docs", token = None))
    // reference api_doc.json top-level keys (repo root)
    Seq("swagger", "produces", "info", "paths", "responses", "tags",
      "basePath", "definitions", "consumes").foreach(k => n.has(k) shouldBe true)
    n.get("swagger").asText shouldBe "2.0"
    n.get("info").get("title").asText shouldBe "Data Catalog API"
    // same path set and verb set as the reference contract
    val paths = n.get("paths")
    paths.has("/rest/datasets") shouldBe true
    paths.has("/rest/datasets/count") shouldBe true
    paths.has("/rest/datasets/{entry_id}") shouldBe true
    Seq("get", "put", "post", "delete")
      .foreach(v => paths.get("/rest/datasets/{entry_id}").has(v) shouldBe true)
    // same definition names
    Seq("SearchHits", "QueryHit", "InputMetadataEntryWithID", "DeleteResponse",
      "InputMetadataEntry").foreach(d => n.get("definitions").has(d) shouldBe true)
  }

  test("search: DSL in the query arg; response carries hits/total/categories/formats") {
    val r = req("GET", s"/rest/datasets?query=${enc("""{"filters":[{"format":["json"]}]}""")}")
    r.statusCode() shouldBe 200
    val n = json(r)
    n.get("total").asLong shouldBe 2L
    n.get("hits").size shouldBe 2
    n.get("categories").isArray shouldBe true
    // facets ignore the post filter: all 8 categories present (A3 semantics)
    n.get("categories").size shouldBe 8
    // a malformed DSL is the reference's 400
    req("GET", s"/rest/datasets?query=${enc("{not json")}").statusCode() shouldBe 400
  }

  test("search: org scope + visibility flags flow into the ACL") {
    // org01 user sees public entries + own org's private (entry 1)
    val r = req("GET", "/rest/datasets", token = Some("tok-org01"))
    json(r).get("total").asLong shouldBe 7L // 6 public + org01-private id 1
    val priv = req("GET", "/rest/datasets?onlyPrivate=true", token = Some("tok-org01"))
    json(priv).get("total").asLong shouldBe 1L // id 1 only
    // requesting a foreign org is the auth layer's 403
    req("GET", "/rest/datasets?orgs=org02", token = Some("tok-org01")).statusCode() shouldBe 403
  }

  test("count endpoint returns the bare post-filtered total") {
    req("GET", "/rest/datasets/count").body() shouldBe "10"
    req("GET", "/rest/datasets/count?onlyPublic=true",
      token = Some("tok-org01")).body() shouldBe "6"
  }

  private val entry =
    """{"category":"health","dataSample":"A,B","format":"csv","isPublic":false,
      |"orgUUID":"org01","recordCount":5,"size":10,
      |"sourceUri":"http://x.example.com/s",
      |"targetUri":"hdfs://nameservice1/org/db42/x","title":"via http"}""".stripMargin

  /** Creates an org01-private entry under a test's own id, so no test
    * depends on another having run first. */
  private def putEntry(id: String): Unit =
    req("PUT", s"/rest/datasets/$id", token = Some("tok-org01"), body = Some(entry))
      .statusCode() shouldBe 201

  test("PUT: 201 created / 200 updated / 400 invalid / 403 foreign org") {
    req("PUT", "/rest/datasets/h1", token = Some("tok-org01"), body = Some(entry))
      .statusCode() shouldBe 201
    req("PUT", "/rest/datasets/h1", token = Some("tok-org01"), body = Some(entry))
      .statusCode() shouldBe 200
    json(req("GET", "/rest/datasets/h1")).get("title").asText shouldBe "via http"
    // a non-admin cannot write into a foreign org (metadata_entry.py:155-157)
    req("PUT", "/rest/datasets/h2", token = Some("tok-org03"), body = Some(entry))
      .statusCode() shouldBe 403
    // invalid targetUri → 400 (write-side validation)
    req("PUT", "/rest/datasets/h3", token = Some("tok-org01"),
      body = Some(entry.replace("hdfs://nameservice1/org/db42/x", "some_path")))
      .statusCode() shouldBe 400
    // mutation notified (notifier.py wire seam)
    notifier.events.map(_.message) should contain("Dataset h1 created")
  }

  test("POST: 200 partial update / 400 unknown field / 404 missing / 403 foreign") {
    putEntry("p1")
    req("POST", "/rest/datasets/p1", token = Some("tok-org01"),
      body = Some("""{"title":"patched over http","recordCount":77}""")).statusCode() shouldBe 200
    val got = json(req("GET", "/rest/datasets/p1"))
    got.get("title").asText shouldBe "patched over http"
    got.get("recordCount").asLong shouldBe 77L
    req("POST", "/rest/datasets/p1", token = Some("tok-org01"),
      body = Some("""{"bogus":"x"}""")).statusCode() shouldBe 400
    req("POST", "/rest/datasets/ghost", body = Some("""{"title":"x"}""")).statusCode() shouldBe 404
    req("POST", "/rest/datasets/p1", token = Some("tok-org03"),
      body = Some("""{"title":"x"}""")).statusCode() shouldBe 403
  }

  test("admin route: 403 for non-admins; PUT bulk-reloads omitting corrupted rows; DELETE drops") {
    // isolated server+store: the DELETE here wipes the whole table
    val store2 = new MetadataStore(spark,
      GraftSession.scratchDir("graft-http-admin").toString,
      () => java.sql.Timestamp.valueOf("2020-01-01 00:00:00"))
    val http2 = new HttpCatalog(new CatalogService(spark, store2), verifier,
      p => memberships(p.userId))
    val port2 = http2.start()
    try {
      def req2(method: String, token: String, body: Option[String] = None) = {
        val b = HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port2/rest/datasets/admin/elastic"))
          .header("Authorization", s"bearer $token")
        client.send(
          b.method(method, body.fold(HttpRequest.BodyPublishers.noBody())(
            HttpRequest.BodyPublishers.ofString(_))).build(),
          HttpResponse.BodyHandlers.ofString())
      }
      // admin scope required on both verbs (elastic_admin.py:46-48, 60-62)
      req2("PUT", "tok-org01", Some("[]")).statusCode() shouldBe 403
      req2("DELETE", "tok-org01").statusCode() shouldBe 403
      // bulk reload: one good entry, one invalid targetUri, one missing id —
      // corrupted rows omitted, good row lands
      val good =
        """{"id":"a1","category":"health","dataSample":"A,B","format":"csv",
          |"isPublic":true,"orgUUID":"org01","recordCount":1,"size":2,
          |"sourceUri":"http://x.example.com/s",
          |"targetUri":"hdfs://nameservice1/org/db1/x","title":"good"}""".stripMargin
      val badUri = good.replace("\"a1\"", "\"a2\"")
        .replace("hdfs://nameservice1/org/db1/x", "some_path")
      val noId = good.replaceFirst(""""id":"a1",""", "")
      val r = req2("PUT", "tok-admin", Some(s"[$good,$badUri,$noId]"))
      r.statusCode() shouldBe 200
      json(r).get("rejected").size shouldBe 1 // the bad-targetUri row
      // non-array body is the reference's malformed-data 400
      req2("PUT", "tok-admin", Some("{}")).statusCode() shouldBe 400
      store2.current.collect().map(_.id).toSeq shouldBe Seq("a1")
      // drop empties the table, ignore-missing semantics on repeat
      req2("DELETE", "tok-admin").statusCode() shouldBe 200
      req2("DELETE", "tok-admin").statusCode() shouldBe 200
      store2.current.count() shouldBe 0L
    } finally http2.stop()
  }

  test("a route that throws answers 500 with the message and logs the stack trace to stderr") {
    val broken = new MetadataStore(spark,
      GraftSession.scratchDir("graft-http-broken").toString,
      () => java.sql.Timestamp.valueOf("2020-01-01 00:00:00")) {
      override def current: org.apache.spark.sql.Dataset[graft.model.MetadataEntry] =
        throw new IllegalStateException("store unavailable")
    }
    val http2 = new HttpCatalog(
      new CatalogService(spark, broken, new RecordingNotifier, new RecordingCascadeDeleter),
      verifier, p => memberships(p.userId))
    val port2 = http2.start()
    val captured = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(captured, true, "UTF-8"))
    val r = try {
      client.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port2/rest/datasets/count"))
        .header("Authorization", "bearer tok-admin").GET().build(),
        HttpResponse.BodyHandlers.ofString())
    } finally {
      System.setErr(stderr)
      http2.stop()
    }
    r.statusCode() shouldBe 500
    json(r).get("message").asText shouldBe "store unavailable"
    val log = captured.toString("UTF-8")
    log should include("GET /rest/datasets/count")
    log should include("java.lang.IllegalStateException: store unavailable")
    log should include("at graft.serve.CatalogService.count")
  }

  test("DELETE: 200 with cascade status, then 404; foreign org 403") {
    putEntry("d1")
    req("DELETE", "/rest/datasets/5", token = Some("tok-org01")).statusCode() shouldBe 403
    val r = req("DELETE", "/rest/datasets/d1", token = Some("tok-org01"))
    r.statusCode() shouldBe 200
    json(r).get("deletedFromDownloader").asBoolean shouldBe true
    req("DELETE", "/rest/datasets/d1", token = Some("tok-org01")).statusCode() shouldBe 404
    req("GET", "/rest/datasets/d1").statusCode() shouldBe 404
  }

  test("responses do not stall on a delayed ACK: median GET round trip under 20 ms") {
    // the JDK server flushes headers and body as two segments; without
    // TCP_NODELAY the body waits ~40 ms for the client's delayed ACK
    (1 to 3).foreach(_ => req("GET", "/api-docs", token = None).statusCode() shouldBe 200)
    val ms = (1 to 20).map { _ =>
      val t0 = System.nanoTime()
      req("GET", "/api-docs", token = None).statusCode() shouldBe 200
      (System.nanoTime() - t0) / 1e6
    }.sorted
    withClue(s"round trips (ms): ${ms.map(m => f"$m%.1f").mkString(" ")}: ") {
      ms(ms.size / 2) should be < 20.0
    }
  }

  private def malformed(r: HttpResponse[String]): Unit = {
    r.statusCode() shouldBe 400
    json(r).get("message").asText should startWith("Malformed JSON body: ")
  }

  test("malformed JSON body: PUT entry answers 400 with the parser's message") {
    val r = req("PUT", "/rest/datasets/m1", token = Some("tok-org01"), body = Some("{bad"))
    malformed(r)
    json(r).get("message").asText should include("Unexpected character")
    req("GET", "/rest/datasets/m1").statusCode() shouldBe 404
  }

  test("malformed JSON body: POST entry answers 400, the entry is unchanged") {
    val before = req("GET", "/rest/datasets/0").body()
    malformed(req("POST", "/rest/datasets/0", body = Some("""{"title": "x",""")))
    req("GET", "/rest/datasets/0").body() shouldBe before
  }

  test("malformed JSON body: admin PUT answers 400, not the generic malformed-data message") {
    malformed(req("PUT", "/rest/datasets/admin/elastic", body = Some("[{\"id\": }]")))
  }

  test("malformed JSON body: a bad token is still 401") {
    req("PUT", "/rest/datasets/m2", token = Some("forged"), body = Some("{bad"))
      .statusCode() shouldBe 401
    req("PUT", "/rest/datasets/m2", token = None, body = Some("{bad")).statusCode() shouldBe 401
  }
}
