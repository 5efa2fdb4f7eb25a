package graft.serve

import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.model._

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** HTTP transport for [[CatalogService]] — the reference's route surface
  * (reference: data_catalog/app.py:141-148, contract api_doc.json) served by
  * the JDK's built-in `HttpServer`: zero added dependencies, loopback-
  * friendly, good for in-process serving and tests (a production deployment
  * fronts the same CatalogService with a hardened server; every handler here
  * is transport glue only).
  *
  * Routes (base path `/rest/datasets`, reference default):
  *   - GET    {base}?query=DSL[&orgs=…][&onlyPublic=|&onlyPrivate=]  search
  *   - GET    {base}/count[?orgs=…&onlyPublic=|&onlyPrivate=]        count
  *   - GET    {base}/{id}                                            fetch
  *   - PUT    {base}/{id}   body = entry JSON                        upsert
  *   - POST   {base}/{id}   body = {field: newValue, …}              update
  *   - DELETE {base}/{id}                                            delete
  *   - GET    /api-docs     exempt from auth (reference: app.py:147)
  *
  * Auth runs before every non-exempt route (app.py:147-148 →
  * [[Auth.authenticate]]): missing/invalid bearer → 401; requested orgs
  * outside membership → 403. Per-entry ownership rules mirror
  * metadata_entry.py: GET 403 unless admin/own-org/public (:131-135), PUT
  * 403 on a foreign body orgUUID (:155-157), POST/DELETE 403 on a foreign
  * stored orgUUID after the 404 existence check (:191-198, :234-235).
  * Status taxonomy: 201 created / 200 updated (:178-181), 400 invalid entry
  * or DSL or unknown update field or a body that is not JSON (checked after
  * auth, so a bad token stays 401), 404 absent id, 405 unknown verb.
  * Entry GET defaults to the flat entry object; `?envelope=es` returns the
  * reference's raw ES get-envelope (`_source` + `_id`,
  * metadata_entry.py:138-141). Remaining deviation: error bodies are
  * `{"message": …}`.
  */
final class HttpCatalog(service: CatalogService,
                        verifier: Auth.TokenVerifier,
                        userOrgsOf: Auth.TokenPayload => Seq[String],
                        basePath: String = "/rest/datasets") {

  private val mapper = new ObjectMapper()
  private var server: Option[HttpServer] = None
  private var pool: Option[java.util.concurrent.ExecutorService] = None

  /** Bind on an ephemeral (or given) loopback port; returns the bound port. */
  def start(port: Int = 0): Int = synchronized {
    val s = HttpCatalog.newServer(new InetSocketAddress("127.0.0.1", port))
    s.createContext("/", (ex: HttpExchange) => handle(ex))
    val p = java.util.concurrent.Executors.newFixedThreadPool(4)
    s.setExecutor(p)
    s.start()
    server = Some(s)
    pool = Some(p)
    s.getAddress.getPort
  }

  def stop(): Unit = synchronized {
    server.foreach(_.stop(0))
    // the handler pool's threads are non-daemon — without this a long-lived
    // JVM that stopped its catalog server would never exit
    pool.foreach(_.shutdown())
    server = None
    pool = None
  }

  // ------------------------------------------------------------- dispatch

  private def handle(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath
      val method = ex.getRequestMethod.toUpperCase
      val params = queryParams(ex)
      val rawBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
      if (path == "/api-docs") respondJson(ex, 200, apiDocs())
      else {
        val parsed: Option[scala.util.Try[JsonNode]] =
          Option.when(rawBody.nonEmpty)(scala.util.Try(mapper.readTree(rawBody)))
        val body = parsed.flatMap(_.toOption)
        val bodyOrg = body.flatMap(n => Option(n.get("orgUUID")))
          .filter(v => v.isTextual).map(_.asText)
        val acl = Auth.authenticate(
          Option(ex.getRequestHeaders.getFirst("Authorization")), verifier,
          Auth.requestedOrgs(method, params.get("orgs"), bodyOrg),
          userOrgsOf, filteringOf(params))
        // after auth, so a bad token is still a 401 whatever its body
        parsed.flatMap(_.failed.toOption).foreach { e =>
          val msg = e match {
            case j: com.fasterxml.jackson.core.JsonProcessingException => j.getOriginalMessage
            case other => other.getMessage
          }
          throw new IllegalArgumentException(s"Malformed JSON body: $msg")
        }
        (method, path) match {
          case ("GET", p) if p == basePath => search(ex, params, acl)
          case ("GET", p) if p == s"$basePath/count" =>
            respondText(ex, 200, service.count(acl).toString)
          case (m, p) if p == s"$basePath/admin/elastic" => adminRoute(ex, m, body, acl)
          case (m, EntryPath(id)) => entryRoute(ex, m, id, body, acl)
          case _ => respondError(ex, 404, "no such route")
        }
      }
    } catch {
      case e: Auth.UnauthorizedException => respondError(ex, 401, e.getMessage)
      case e: Auth.ForbiddenException => respondError(ex, 403, e.getMessage)
      case e: InvalidQueryException => respondError(ex, 400, e.getMessage)
      case e: IllegalArgumentException => respondError(ex, 400, e.getMessage)
      case e: Throwable =>
        System.err.println(
          s"[catalog] 500 on ${ex.getRequestMethod} ${ex.getRequestURI.getPath}")
        e.printStackTrace()
        respondError(ex, 500, String.valueOf(e.getMessage))
    } finally ex.close()

  private object EntryPath {
    def unapply(path: String): Option[String] =
      if (path.startsWith(basePath + "/")) {
        val id = path.stripPrefix(basePath + "/")
        Option(id).filter(s => s.nonEmpty && !s.contains("/"))
      } else None
  }

  /** Admin surface (reference: elastic_admin.py:41-83): both verbs require
    * the admin scope (403 otherwise, :46-48/:60-62). PUT takes a JSON ARRAY
    * of entries and loads them with per-row error isolation — corrupted
    * entries (bad fields OR a missing id, which the reference would 500 on)
    * are omitted, good rows land (:64-75); a non-array body is the
    * reference's malformed-data 400. DELETE drops the whole table,
    * ignore-missing.
    */
  private def adminRoute(ex: HttpExchange, method: String,
                         body: Option[JsonNode], acl: AclContext): Unit =
    if (!acl.isAdmin) respondError(ex, 403, "admin scope required")
    else method match {
      case "DELETE" =>
        service.adminDrop()
        respondJson(ex, 200, mapper.createObjectNode())
      case "PUT" =>
        body.filter(_.isArray) match {
          case None => respondError(ex, 400, "Malformed data")
          case Some(arr) =>
            val entries = arr.elements.asScala.flatMap { n =>
              scala.util.Try(entryFromJson(
                Option(n.get("id")).filterNot(_.isNull).map(_.asText).getOrElse(
                  throw new IllegalArgumentException("missing id")), n)).toOption
            }.toSeq
            val rejected = service.adminBulkLoad(entries)
            val out = mapper.createObjectNode()
            val r = out.putArray("rejected")
            rejected.foreach(r.add)
            respondJson(ex, 200, out)
        }
      case m => respondError(ex, 405, s"method $m not allowed")
    }

  private def search(ex: HttpExchange, params: Map[String, String], acl: AclContext): Unit = {
    // absent `query` arg = match-all (reference: search.py:70 passes None)
    val r = service.search(params.getOrElse("query", "{}"), acl)
    respondJson(ex, 200, searchJson(r))
  }

  private def entryRoute(ex: HttpExchange, method: String, id: String,
                         body: Option[JsonNode], acl: AclContext): Unit = method match {
    case "GET" =>
      service.get(id) match {
        case None => respondError(ex, 404, "Data set with the given ID not found.")
        case Some(e) =>
          if (!acl.isAdmin && !acl.orgUuidList.contains(e.orgUUID) && !e.isPublic)
            respondError(ex, 403, "Forbidden access to the resource")
          else {
            // ?envelope=es: the reference returns the raw ES get() response
            // verbatim (metadata_entry.py:138-141) — `_source` is the
            // indexed body, the id travels outside it as `_id`. Default
            // stays the flat entry object (the shape every other route and
            // the cascade clients speak).
            val es = queryParams(ex).get("envelope").contains("es")
            respondJson(ex, 200, if (es) esGetEnvelope(e) else entryJson(e))
          }
      }
    case "PUT" =>
      val n = body.getOrElse(throw new IllegalArgumentException("entry body required"))
      val entry = entryFromJson(id, n)
      if (!acl.isAdmin && !acl.orgUuidList.contains(entry.orgUUID))
        respondError(ex, 403, "Forbidden access to the organisation")
      else {
        val created = service.put(entry)
        respondJson(ex, if (created) 201 else 200, mapper.createObjectNode())
      }
    case "POST" =>
      service.get(id) match {
        case None => respondError(ex, 404, "Data set with the given ID not found.")
        case Some(existing) =>
          if (!acl.isAdmin && !acl.orgUuidList.contains(existing.orgUUID))
            respondError(ex, 403, "Forbidden access to the resource")
          else {
            val n = body.getOrElse(throw new IllegalArgumentException("update body required"))
            val updated = service.post(id, fieldsFromJson(n))
            if (updated) respondJson(ex, 200, mapper.createObjectNode())
            else respondError(ex, 404, "Data set with the given ID not found.")
          }
      }
    case "DELETE" =>
      service.get(id) match {
        case None => respondError(ex, 404, "Data set with the given ID not found.")
        case Some(existing) =>
          if (!acl.isAdmin && !acl.orgUuidList.contains(existing.orgUUID))
            respondError(ex, 403, "Forbidden access to the resource")
          else {
            val r = service.delete(id)
            val n = mapper.createObjectNode()
            n.put("deletedFromDownloader", r.deletedFromDownloader)
            n.put("deletedFromPublisher", r.deletedFromPublisher)
            respondJson(ex, 200, n)
          }
      }
    case _ => respondError(ex, 405, s"method $method not allowed")
  }

  // ----------------------------------------------------------- marshalling

  private def entryJson(e: MetadataEntry): ObjectNode = EntryJsonCodec.entryJson(e)

  /** Raw ES get-envelope (reference: metadata_entry.py:138-141 returns the
    * client's response verbatim; index/type names configuration.py:88-90).
    * `_version` is omitted: the versioned store tracks table versions, not
    * per-document ones, and inventing a number would be worse than absence.
    */
  private def esGetEnvelope(e: MetadataEntry): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("_index", "trustedanalytics-meta")
    n.put("_type", "dataset")
    n.put("_id", e.id)
    n.put("found", true)
    n.set("_source", EntryJsonCodec.sourceJson(e))
    n
  }

  private def searchJson(r: SearchResult): ObjectNode = {
    val n = mapper.createObjectNode()
    val hits = n.putArray("hits")
    r.hits.foreach(e => hits.add(entryJson(e)))
    n.put("total", r.total)
    val cats = n.putArray("categories")
    r.categories.foreach(cats.add)
    val fmts = n.putArray("formats")
    r.formats.foreach(fmts.add)
    n
  }

  /** Entry from a PUT body: id comes from the path (reference indexes under
    * the path id, metadata_entry.py:171-175); missing required fields fail
    * the store's validation → 400.
    */
  private def entryFromJson(id: String, n: JsonNode): MetadataEntry = {
    def text(f: String): String =
      Option(n.get(f)).filterNot(_.isNull).map(_.asText).getOrElse(
        throw new IllegalArgumentException(s"missing required field: $f"))
    def long(f: String): Long =
      Option(n.get(f)).filterNot(_.isNull).map(_.asLong).getOrElse(
        throw new IllegalArgumentException(s"missing required field: $f"))
    MetadataEntry(
      id = id,
      category = text("category"),
      creationTime = Option(n.get("creationTime")).filterNot(_.isNull)
        .map(v => parseTs(v.asText)).orNull,
      dataSample = text("dataSample"),
      format = text("format"),
      isPublic = Option(n.get("isPublic")).filterNot(_.isNull).map(_.asBoolean).getOrElse(
        throw new IllegalArgumentException("missing required field: isPublic")),
      orgUUID = text("orgUUID"),
      recordCount = long("recordCount"),
      size = long("size"),
      sourceUri = text("sourceUri"),
      targetUri = text("targetUri"),
      title = text("title"),
      storeType = Option(n.get("storeType")).filterNot(_.isNull).map(_.asText)
    )
  }

  /** POST body → typed field map (whitelist enforcement lives in the store,
    * reference CERBERUS_SCHEMA subset check, metadata_entry.py:239-241).
    */
  private def fieldsFromJson(n: JsonNode): Map[String, Any] =
    n.properties().asScala.map { e =>
      val v = e.getValue
      val value: Any =
        if (v.isBoolean) v.asBoolean
        else if (v.isIntegralNumber) v.asLong
        else if (v.isFloatingPointNumber) v.asDouble
        else v.asText
      e.getKey -> value
    }.toMap

  /** Reference timestamps arrive as `2015-02-24T14:56` — seconds optional. */
  private def parseTs(s: String): Timestamp = {
    val t = s.replace("T", " ")
    Timestamp.valueOf(if (t.length == 16) t + ":00" else t)
  }

  private def filteringOf(params: Map[String, String]): DataSetFiltering =
    // mutually exclusive flags (reference: search.py:139-145 — onlyPrivate
    // wins when both are set, matching the reference's assignment order)
    if (params.get("onlyPrivate").exists(_.equalsIgnoreCase("true"))) DataSetFiltering.OnlyPrivate
    else if (params.get("onlyPublic").exists(_.equalsIgnoreCase("true"))) DataSetFiltering.OnlyPublic
    else DataSetFiltering.Both

  /** Swagger 2.0 contract document (reference: api_doc.json at the repo
    * root, served by the route exempted at app.py:147). Same top-level
    * keys, path set, verb set, and definition names as the reference's
    * contract — generated from this server's actual routes rather than
    * shipped as a static file, so it cannot drift from the code.
    */
  private def apiDocs(): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("swagger", "2.0")
    n.putArray("produces").add("application/json")
    n.putArray("consumes").add("application/json")
    val info = n.putObject("info")
    info.put("version", "0.5.8")
    info.put("title", "Data Catalog API")
    info.put("description", "Search, retrieval and storage of data-set metadata.")
    n.put("basePath", "/")
    n.putArray("tags").add(mapper.createObjectNode().put("name", "rest/datasets"))
    n.putObject("responses")

    def op(parent: ObjectNode, verb: String, desc: String,
           codes: Seq[(Int, String)], params: Seq[(String, String, String)]): Unit = {
      val o = parent.putObject(verb)
      o.put("description", desc)
      val rs = o.putObject("responses")
      codes.foreach { case (c, d) => rs.putObject(c.toString).put("description", d) }
      if (params.nonEmpty) {
        val ps = o.putArray("parameters")
        params.foreach { case (name, in, typ) =>
          val p = mapper.createObjectNode()
          p.put("name", name); p.put("in", in); p.put("type", typ)
          p.put("required", in == "path")
          ps.add(p)
        }
      }
    }

    val paths = n.putObject("paths")
    val search = paths.putObject(basePath)
    op(search, "get", "Search data sets.",
      Seq(200 -> "Result queries returned.", 400 -> "Invalid or malformed query.",
        500 -> "Internal error."),
      Seq(("query", "query", "string"), ("orgs", "query", "string"),
        ("onlyPublic", "query", "boolean"), ("onlyPrivate", "query", "boolean")))
    val count = paths.putObject(s"$basePath/count")
    op(count, "get", "Count data sets visible to the caller.",
      Seq(200 -> "Count returned.", 500 -> "Internal error."),
      Seq(("orgs", "query", "string"), ("onlyPublic", "query", "boolean"),
        ("onlyPrivate", "query", "boolean")))
    val entry = paths.putObject(s"$basePath/{entry_id}")
    op(entry, "get", "Get a metadata entry by id.",
      Seq(200 -> "Entry returned.", 403 -> "Forbidden access to the resource.",
        404 -> "Entry not found."),
      Seq(("entry_id", "path", "string"), ("envelope", "query", "string")))
    op(entry, "put", "Insert or replace a metadata entry.",
      Seq(201 -> "Entry created.", 200 -> "Entry updated.", 400 -> "Invalid entry."),
      Seq(("entry_id", "path", "string")))
    op(entry, "post", "Partially update a metadata entry.",
      Seq(200 -> "Entry updated.", 400 -> "Unknown update field.", 404 -> "Entry not found."),
      Seq(("entry_id", "path", "string")))
    op(entry, "delete", "Delete a metadata entry (cascading).",
      Seq(200 -> "Entry deleted.", 404 -> "Entry not found."),
      Seq(("entry_id", "path", "string")))

    val defs = n.putObject("definitions")
    def definition(name: String, fields: Seq[(String, String)]): Unit = {
      val d = defs.putObject(name)
      d.put("type", "object")
      val props = d.putObject("properties")
      fields.foreach { case (f, t) => props.putObject(f).put("type", t) }
    }
    val entryFields = Seq("category" -> "string", "creationTime" -> "string",
      "dataSample" -> "string", "format" -> "string", "isPublic" -> "boolean",
      "orgUUID" -> "string", "recordCount" -> "integer", "size" -> "integer",
      "sourceUri" -> "string", "targetUri" -> "string", "title" -> "string")
    definition("InputMetadataEntry", entryFields)
    definition("InputMetadataEntryWithID", entryFields :+ ("id" -> "string"))
    definition("QueryHit", entryFields :+ ("id" -> "string"))
    val sh = defs.putObject("SearchHits")
    sh.put("type", "object")
    val shp = sh.putObject("properties")
    shp.putObject("total").put("type", "integer")
    Seq("hits", "categories", "formats").foreach(f =>
      shp.putObject(f).put("type", "array"))
    definition("DeleteResponse", Seq("deletedFromDownloader" -> "boolean",
      "deletedFromPublisher" -> "boolean"))
    n
  }

  // -------------------------------------------------------------- plumbing

  private def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) {
      _.split("&").toSeq.filter(_.nonEmpty).map { kv =>
        val i = kv.indexOf('=')
        if (i < 0) urlDecode(kv) -> ""
        else urlDecode(kv.take(i)) -> urlDecode(kv.drop(i + 1))
      }.toMap
    }

  private def urlDecode(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  private def respondJson(ex: HttpExchange, code: Int, node: JsonNode): Unit =
    respondText(ex, code, mapper.writeValueAsString(node))

  private def respondError(ex: HttpExchange, code: Int, msg: String): Unit = {
    val n = mapper.createObjectNode()
    n.put("message", msg)
    respondJson(ex, code, n)
  }

  private def respondText(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }
}

object HttpCatalog {
  // TCP_NODELAY on every accepted socket. The JDK server writes a response's
  // headers and its body as two segments; with Nagle's algorithm on, the body
  // waits for the client's delayed ACK of the headers — a 40 ms stall per
  // response on Linux loopback. The server reads this property ONCE, when its
  // config class loads with the first `HttpServer.create` in the JVM, so it
  // is set here, before any server of this codebase is created.
  System.setProperty("sun.net.httpserver.nodelay", "true")

  /** A JDK `HttpServer` bound to `addr`, created after the nodelay property
    * is set. Every JDK server in this codebase (and its tests) is created
    * through here, so none of them can load the server config first.
    */
  def newServer(addr: InetSocketAddress): HttpServer = HttpServer.create(addr, 0)
}
