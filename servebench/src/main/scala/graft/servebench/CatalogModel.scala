package graft.servebench

import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.analyzers.Analyzers
import graft.model.{DataSetFiltering, MetadataEntry}

import java.sql.Timestamp
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Who sends a request: a bearer token, the orgs it belongs to, and whether
  * it carries the admin scope.
  */
final case class Caller(token: String, orgs: Seq[String], admin: Boolean)

object Caller {
  val Orgs: IndexedSeq[String] = (0 until 4).map(i => s"org$i") // Corpus: orgUUID = org{key % 4}
  val Admin: Caller = Caller("admin", Nil, admin = true)
  val Users: IndexedSeq[Caller] = Orgs.map(o => Caller(s"user-$o", Seq(o), admin = false))
  val all: Seq[Caller] = Admin +: Users
  def byToken(t: String): Option[Caller] = all.find(_.token == t)
}

/** A filter of the search DSL the generator emits. */
sealed trait Filter
final case class TermFilter(field: String, value: String) extends Filter // category, format
final case class TimeFilter(from: String, to: String) extends Filter // creationTime, inclusive

/** What the catalog must answer to a search: `total`, the hit ids in page
  * order and both facet lists.
  */
final case class ExpectedSearch(total: Long, hitIds: Seq[String],
                                categories: Seq[String], formats: Seq[String])

/** In-memory model of the catalog's contents, kept in step with every write
  * the generator issues. It answers searches, counts and point reads the way
  * the catalog's documented semantics define them (ACL, text score, filter
  * segregation, facets, page order), so every response can be checked.
  */
final class CatalogModel(initial: Iterable[MetadataEntry]) {
  import CatalogModel._

  private val entries = mutable.TreeMap.empty[String, Indexed]
  initial.foreach(put)

  def get(id: String): Option[MetadataEntry] = entries.get(id).map(_.e)
  def ids: Iterable[String] = entries.keys
  def all: Iterable[MetadataEntry] = entries.values.map(_.e)
  def put(e: MetadataEntry): Unit = entries(e.id) = Indexed(e)
  def remove(id: String): Unit = { entries -= id; () }

  def visible(e: MetadataEntry, c: Caller): Boolean =
    c.admin || c.orgs.contains(e.orgUUID) || e.isPublic

  /** The ACL clause a search or count compiles for a caller. */
  private def aclAllows(e: MetadataEntry, c: Caller, v: DataSetFiltering): Boolean = {
    val unscopedAdmin = c.admin && c.orgs.isEmpty
    v match {
      case DataSetFiltering.Both => unscopedAdmin || c.orgs.contains(e.orgUUID) || e.isPublic
      case DataSetFiltering.OnlyPrivate => (unscopedAdmin || c.orgs.contains(e.orgUUID)) && !e.isPublic
      case DataSetFiltering.OnlyPublic => e.isPublic
    }
  }

  def count(c: Caller, v: DataSetFiltering): Long = entries.values.count(i => aclAllows(i.e, c, v)).toLong

  /** The expected answer to a search. Time filters and the ACL restrict hits
    * and facets; term filters restrict hits only. Hits order by score desc,
    * then id asc.
    */
  def search(text: Option[String], filters: Seq[Filter], from: Int, size: Int,
             c: Caller, v: DataSetFiltering): ExpectedSearch = {
    val scorer = text.map(Scorer(_))
    val base = entries.values.iterator.flatMap { i =>
      if (!aclAllows(i.e, c, v)) None
      else if (!filters.forall {
          case TimeFilter(lo, hi) => inRange(i.e.creationTime, lo, hi)
          case _: TermFilter => true
        }) None
      else scorer match {
        case None => Some((i, 0.0))
        case Some(s) => Some((i, s(i))).filter(_._2 > 0.0)
      }
    }.toVector
    val post = base.filter { case (i, _) =>
      filters.forall {
        case TermFilter("category", t) => i.categoryTokens.contains(t.toLowerCase)
        case TermFilter("format", t) => i.formatTokens.contains(t.toLowerCase)
        case TermFilter(f, _) => throw new IllegalArgumentException(s"unmodelled filter $f")
        case _: TimeFilter => true
      }
    }
    val page = post.sortBy { case (i, s) => (-s, i.e.id) }.slice(from, from + size).map(_._1.e.id)
    def facet(key: Indexed => String, n: Int): Seq[String] =
      base.groupBy(p => key(p._1)).toSeq.map { case (k, ps) => (k, ps.size) }
        .sortBy { case (k, cnt) => (-cnt, k) }.take(n).map(_._1)
    ExpectedSearch(post.size.toLong, page,
      facet(_.e.category, graft.exec.SearchExecutor.CategoryFacetSize),
      facet(_.e.format, graft.exec.SearchExecutor.FormatFacetSize))
  }

  /** Per-entry checksums of the live entries, keyed by id. */
  def checksums: Map[String, Long] = entries.values.map(i => i.e.id -> checksum(i.e)).toMap

  /** Bytes of the live entries in their JSON wire form. */
  def jsonBytes: Long = entries.values.iterator
    .map(i => entryJson(i.e).toString.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong).sum
}

object CatalogModel {

  val mapper = new ObjectMapper()

  /** An entry with the analysed fields the search semantics read. */
  final case class Indexed(e: MetadataEntry) {
    val titleLower: String = e.title.toLowerCase
    val sampleTokens: Set[String] = Analyzers.standardTokensScala(e.dataSample).toSet
    val uriTokens: Set[String] = Analyzers.uriTokensScala(e.sourceUri).toSet
    val categoryTokens: Set[String] = Analyzers.standardTokensScala(e.category).toSet
    val formatTokens: Set[String] = Analyzers.standardTokensScala(e.format).toSet
  }

  /** The catalog's text score: title contains (boost 3), the matched share
    * of query terms in dataSample (boost 2) and in sourceUri (boost 1), summed
    * in that order so the doubles match bit for bit.
    */
  final case class Scorer(raw: String) {
    private val qLower = raw.toLowerCase
    private val qStd = Analyzers.standardTokensScala(raw).distinct
    private val qUri = Analyzers.uriTokensScala(raw).distinct
    def apply(i: Indexed): Double = {
      val title = if (i.titleLower.contains(qLower)) 3.0 else 0.0
      val sample = if (qStd.isEmpty) 0.0 else qStd.count(i.sampleTokens).toDouble / qStd.size * 2.0
      val uri = if (qUri.isEmpty) 0.0 else qUri.count(i.uriTokens).toDouble / qUri.size * 1.0
      title + sample + uri
    }
  }

  def parseTs(s: String): Timestamp = {
    val t = s.replace("T", " ")
    Timestamp.valueOf(if (t.length == 16) t + ":00" else t)
  }

  private def inRange(ts: Timestamp, lo: String, hi: String): Boolean =
    ts != null && !ts.before(parseTs(lo)) && !ts.after(parseTs(hi))

  private val TsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")

  def formatTs(ts: Timestamp): String = ts.toLocalDateTime.format(TsFmt)

  /** An entry in the catalog's JSON wire shape. */
  def entryJson(e: MetadataEntry): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("id", e.id)
    n.put("category", e.category)
    if (e.creationTime != null) n.put("creationTime", formatTs(e.creationTime))
    n.put("dataSample", e.dataSample)
    n.put("format", e.format)
    n.put("isPublic", e.isPublic)
    n.put("orgUUID", e.orgUUID)
    n.put("recordCount", e.recordCount)
    n.put("size", e.size)
    n.put("sourceUri", e.sourceUri)
    n.put("targetUri", e.targetUri)
    n.put("title", e.title)
    e.storeType.foreach(n.put("storeType", _))
    n
  }

  /** An entry parsed back from the catalog's JSON wire shape. */
  def entryFromJson(n: JsonNode): MetadataEntry = {
    def text(f: String): String = Option(n.get(f)).filterNot(_.isNull).map(_.asText).orNull
    MetadataEntry(
      id = text("id"), category = text("category"),
      creationTime = Option(text("creationTime")).map(parseTs).orNull,
      dataSample = text("dataSample"), format = text("format"),
      isPublic = n.path("isPublic").asBoolean, orgUUID = text("orgUUID"),
      recordCount = n.path("recordCount").asLong, size = n.path("size").asLong,
      sourceUri = text("sourceUri"), targetUri = text("targetUri"), title = text("title"),
      storeType = Option(text("storeType")))
  }

  /** A checksum over every field of an entry (64-bit FNV-1a of its JSON). */
  def checksum(e: MetadataEntry): Long = {
    var h = 0xcbf29ce484222325L
    entryJson(e).toString.getBytes(java.nio.charset.StandardCharsets.UTF_8).foreach { b =>
      h = (h ^ (b & 0xff)) * 0x100000001b3L
    }
    h
  }

  def textArray(n: JsonNode): Seq[String] = n.elements.asScala.map(_.asText).toSeq
}
