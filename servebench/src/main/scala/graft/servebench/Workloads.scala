package graft.servebench

import com.fasterxml.jackson.databind.JsonNode
import graft.model.{DataSetFiltering, MetadataEntry}

import java.net.URLEncoder
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.util.Random

/** One request of a workload, as the catalog's HTTP routes receive it. */
sealed trait Op {
  def caller: Caller
  /** search, count, get, put, post or delete. */
  def kind: String
  def method: String
  def pathAndQuery: String
  def body: Option[String] = None
  /** Metric group: search, count, get or write. */
  final def group: String = kind match {
    case "put" | "post" | "delete" => "write"
    case k => k
  }
  final def isWrite: Boolean = group == "write"
}

object Op {
  val Base = "/rest/datasets"
  def enc(s: String): String = URLEncoder.encode(s, UTF_8)
  def visParams(v: DataSetFiltering): Seq[String] = v match {
    case DataSetFiltering.Both => Nil
    case DataSetFiltering.OnlyPublic => Seq("onlyPublic=true")
    case DataSetFiltering.OnlyPrivate => Seq("onlyPrivate=true")
  }
}

final case class SearchOp(caller: Caller, text: Option[String], filters: Seq[Filter],
                          from: Option[Int], size: Option[Int], vis: DataSetFiltering) extends Op {
  val kind = "search"
  val method = "GET"
  /** The search DSL, as a client writes it. */
  def dsl: String = {
    val n = CatalogModel.mapper.createObjectNode()
    text.foreach(n.put("query", _))
    if (filters.nonEmpty) {
      val fs = n.putArray("filters")
      filters.foreach {
        case TermFilter(f, v) => fs.addObject().putArray(f).add(v)
        case TimeFilter(lo, hi) => fs.addObject().putArray("creationTime").add(lo).add(hi)
      }
    }
    from.foreach(n.put("from", _))
    size.foreach(n.put("size", _))
    n.toString
  }
  def pathAndQuery: String = Op.Base + "?" + (s"query=${Op.enc(dsl)}" +: Op.visParams(vis)).mkString("&")
}

final case class CountOp(caller: Caller, vis: DataSetFiltering) extends Op {
  val kind = "count"
  val method = "GET"
  def pathAndQuery: String = Op.Base + "/count" + Op.visParams(vis).mkString("?", "&", "").stripSuffix("?")
}

final case class GetOp(caller: Caller, id: String) extends Op {
  val kind = "get"
  val method = "GET"
  def pathAndQuery: String = s"${Op.Base}/$id"
}

final case class PutOp(caller: Caller, entry: MetadataEntry) extends Op {
  val kind = "put"
  val method = "PUT"
  def pathAndQuery: String = s"${Op.Base}/${entry.id}"
  override def body: Option[String] = {
    val n = CatalogModel.entryJson(entry)
    n.remove("id")
    Some(n.toString)
  }
}

final case class PostOp(caller: Caller, id: String, fields: Seq[(String, Any)]) extends Op {
  val kind = "post"
  val method = "POST"
  def pathAndQuery: String = s"${Op.Base}/$id"
  override def body: Option[String] = {
    val n = CatalogModel.mapper.createObjectNode()
    fields.foreach {
      case (f, v: String) => n.put(f, v)
      case (f, v: Long) => n.put(f, v)
      case (f, v: Boolean) => n.put(f, v)
      case (f, v) => throw new IllegalArgumentException(s"unsupported update $f=$v")
    }
    Some(n.toString)
  }
}

final case class DeleteOp(caller: Caller, id: String) extends Op {
  val kind = "delete"
  val method = "DELETE"
  def pathAndQuery: String = s"${Op.Base}/$id"
}

/** The answer an op must get: a status, and a check of the body that returns
  * a description of the first mismatch.
  */
final case class Expect(status: Int, check: JsonNode => Option[String] = _ => None)

/** Seeded op generators with their expected answers. One generator drives one
  * client; writes update the model as they are generated, so only a
  * single-client workload may write.
  */
object Workloads {

  val Names: Seq[String] = Seq("read_search", "point_get", "mixed_rw")

  /** The catalog folds its delta log after the mutation that makes it this
    * long: `CatalogService`'s default `compactThreshold`.
    */
  val CompactThreshold = 64

  /** Words of the TPC-H `p_name` vocabulary, which titles and samples are made of. */
  val Words: IndexedSeq[String] = IndexedSeq(
    "almond", "antique", "aquamarine", "azure", "beige", "bisque", "black", "blanched",
    "blue", "blush", "brown", "burlywood", "burnished", "chartreuse", "chiffon", "chocolate",
    "coral", "cornflower", "cornsilk", "cream", "cyan", "dark", "deep", "dim", "dodger",
    "drab", "firebrick", "floral", "forest", "frosted", "gainsboro", "ghost", "goldenrod",
    "green", "grey", "honeydew", "hot", "indian", "ivory", "khaki", "lace", "lavender",
    "lawn", "lemon", "light", "lime", "linen", "magenta", "maroon", "medium", "metallic",
    "midnight", "mint", "misty", "moccasin", "navajo", "navy", "olive", "orange", "orchid",
    "pale", "papaya", "peach", "peru", "pink", "plum", "powder", "puff", "purple", "red",
    "rose", "rosy", "royal", "saddle", "salmon", "sandy", "seashell", "sienna", "sky",
    "slate", "smoke", "snow", "spring", "steel", "tan", "thistle", "tomato", "turquoise",
    "violet", "wheat", "white", "yellow")
  /** The three syllables of a TPC-H `p_type`, which source URIs are made of. */
  val TypeSyllables: Seq[IndexedSeq[String]] = Seq(
    IndexedSeq("STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"),
    IndexedSeq("ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"),
    IndexedSeq("TIN", "NICKEL", "BRASS", "STEEL", "COPPER"))
  val Formats: IndexedSeq[String] = IndexedSeq("csv", "json", "avro")

  def pick[A](rng: Random, xs: scala.collection.IndexedSeq[A]): A = xs(rng.nextInt(xs.size))
  def name(rng: Random): String = rng.shuffle(Words).take(5).mkString(" ")
  def partType(rng: Random): String = TypeSyllables.map(pick(rng, _)).mkString(" ")
  private def day(d: Int): String = java.time.LocalDate.of(2015, 1, 1).plusDays(d.toLong) + "T00:00:00"

  /** A fresh entry in the corpus' value domains. */
  def newEntry(rng: Random, id: String): MetadataEntry = {
    val org = pick(rng, Caller.Orgs)
    val nm = name(rng)
    MetadataEntry(id = id, category = s"cat${rng.nextInt(8)}",
      creationTime = CatalogModel.parseTs(day(rng.nextInt(365))), dataSample = nm,
      format = pick(rng, Formats), isPublic = rng.nextBoolean(), orgUUID = org,
      recordCount = 1L + rng.nextInt(50), size = 900L + rng.nextInt(1100),
      sourceUri = "http://data.example.com/" + partType(rng).toLowerCase.replace(' ', '-'),
      targetUri = s"hdfs://nameservice1/$org/$id", title = nm)
  }

  // ---------------------------------------------------------------- reads

  private val Visibilities: IndexedSeq[DataSetFiltering] =
    IndexedSeq(DataSetFiltering.Both, DataSetFiltering.OnlyPublic, DataSetFiltering.OnlyPrivate)

  /** Search shapes, taken in turn: one-term, two-term and URI-term text;
    * category, format and creationTime-range filters; combinations; pages.
    */
  val SearchShapes = 10
  /** ACLs, taken in turn: admin, one-org user, user onlyPublic, user
    * onlyPrivate, admin onlyPrivate.
    */
  val SearchAcls = 5

  /** The `i`-th search of a stream: shape `i % SearchShapes` under ACL
    * `i % SearchAcls`, so every stream of the same length has the same mix;
    * the seed draws the terms, values, users and pages.
    */
  def search(rng: Random, model: CatalogModel, i: Int): (Op, Expect) = {
    val user = pick(rng, Caller.Users)
    val (caller, vis) = i % SearchAcls match {
      case 0 => (Caller.Admin, DataSetFiltering.Both)
      case 1 => (user, DataSetFiltering.Both)
      case 2 => (user, DataSetFiltering.OnlyPublic)
      case 3 => (user, DataSetFiltering.OnlyPrivate)
      case _ => (Caller.Admin, DataSetFiltering.OnlyPrivate)
    }
    def word = pick(rng, Words)
    def category = TermFilter("category", s"cat${rng.nextInt(8)}")
    def time = { val lo = rng.nextInt(330); TimeFilter(day(lo), day(lo + 30)) }
    def page = (Some(rng.nextInt(5) * 10), Some(20))
    val (text, filters, (from, size)) = i % SearchShapes match {
      case 0 => (Some(word), Nil, (None, None))
      case 1 => (Some(s"$word $word"), Nil, (None, None))
      case 2 => (Some(pick(rng, TypeSyllables(rng.nextInt(3))).toLowerCase), Nil, (None, None))
      case 3 => (None, Seq(category), (None, None))
      case 4 => (None, Seq(TermFilter("format", pick(rng, Formats))), (None, None))
      case 5 => (None, Seq(time), (None, None))
      case 6 => (Some(word), Seq(category), (None, None))
      case 7 => (Some(word), Seq(time), (None, None))
      case 8 => (None, Seq(category), page)
      case _ => (Some(s"$word $word"), Nil, page)
    }
    val op = SearchOp(caller, text, filters, from, size, vis)
    val want = model.search(text, filters, from.getOrElse(0), size.getOrElse(10), caller, vis)
    (op, Expect(200, body => checkSearch(body, want, model)))
  }

  def count(rng: Random, model: CatalogModel, i: Int): (Op, Expect) = {
    val caller = if (i % 2 == 0) Caller.Admin else pick(rng, Caller.Users)
    val vis = Visibilities(i % Visibilities.size)
    val want = model.count(caller, vis)
    (CountOp(caller, vis), Expect(200, body =>
      if (body.asLong(-1L) == want) None else Some(s"count ${body.asText} != $want")))
  }

  /** A point read of an id the caller may see (200), an absent id (404) or
    * a private id of another org (403).
    */
  def get(rng: Random, model: CatalogModel, ids: scala.collection.IndexedSeq[String],
          status: Int): (Op, Expect) = {
    val caller = pick(rng, Caller.Users)
    def draw(ok: MetadataEntry => Boolean): MetadataEntry =
      Iterator.continually(model.get(pick(rng, ids))).flatten.find(ok).get
    status match {
      case 404 => (GetOp(caller, s"x${rng.nextInt(1000000)}"), Expect(404))
      case 403 => (GetOp(caller, draw(e => !model.visible(e, caller)).id), Expect(403))
      case _ =>
        val e = draw(model.visible(_, caller))
        (GetOp(caller, e.id), Expect(200, body => sameEntry(body, e)))
    }
  }

  def checkSearch(body: JsonNode, want: ExpectedSearch, model: CatalogModel): Option[String] = {
    val hits = body.path("hits")
    val ids = (0 until hits.size).map(i => hits.get(i).path("id").asText)
    if (body.path("total").asLong(-1L) != want.total) Some(s"total ${body.path("total")} != ${want.total}")
    else if (ids != want.hitIds) Some(s"hits $ids != ${want.hitIds}")
    else if (CatalogModel.textArray(body.path("categories")) != want.categories)
      Some(s"categories ${body.path("categories")} != ${want.categories}")
    else if (CatalogModel.textArray(body.path("formats")) != want.formats)
      Some(s"formats ${body.path("formats")} != ${want.formats}")
    else ids.indices.iterator.flatMap(i => sameEntry(hits.get(i), model.get(ids(i)).get)).nextOption()
  }

  def sameEntry(body: JsonNode, e: MetadataEntry): Option[String] = {
    val got = CatalogModel.entryFromJson(body)
    if (got == e) None else Some(s"entry $got != $e")
  }

  // ------------------------------------------------------------ generators

  /** A client's op stream. Each workload takes its op kinds in a fixed
    * rotation of odd length, so runs of one length have one mix whatever the
    * seed, and the traced run's every-other-op tracing covers every slot.
    */
  trait Generator { def next(): (Op, Expect) }

  /** `read_search`: ten searches, then a count. */
  final class ReadSearch(seed: Long, model: CatalogModel, offset: Int) extends Generator {
    private val rng = new Random(seed)
    private var i = offset
    def next(): (Op, Expect) = {
      i += 1
      if (i % 11 == 10) count(rng, model, i / 11) else search(rng, model, i - i / 11)
    }
  }

  /** `point_get`: nine visible ids, then an absent one, then a forbidden one. */
  final class PointGet(seed: Long, model: CatalogModel) extends Generator {
    private val rng = new Random(seed)
    private val ids = model.ids.toIndexedSeq
    private var i = 0
    def next(): (Op, Expect) = {
      i += 1
      get(rng, model, ids, i % 11 match { case 9 => 404; case 10 => 403; case _ => 200 })
    }
  }

  /** `mixed_rw`: PUT (create and replace), POST and DELETE beside searches
    * and GETs, 9 writes in 13 ops. Every write succeeds and adds one delta to
    * the catalog's log; the generator tracks the log's length and the
    * compactions the catalog makes.
    */
  final class MixedRw(seed: Long, model: CatalogModel) extends Generator {
    private val rng = new Random(seed)
    private val ids = mutable.ArrayBuffer.from(model.ids)
    private var created = 0
    private var i = 0
    private var searches = 0
    /** Deltas in the catalog's log since its last base: the bulk load wrote one. */
    var liveDeltas: Int = 1
    var compactions: Int = 0

    private val Pattern = IndexedSeq("create", "replace", "search", "get", "create", "post",
      "replace", "get", "create", "delete", "replace", "get", "create")

    private def owner(e: MetadataEntry): Caller =
      if (rng.nextInt(3) == 0) Caller.Admin else Caller.Users(Caller.Orgs.indexOf(e.orgUUID))
    private def randomLive(): MetadataEntry = model.get(ids(rng.nextInt(ids.size))).get

    private def wrote(): Unit = {
      liveDeltas += 1
      if (liveDeltas >= CompactThreshold) { liveDeltas = 0; compactions += 1 }
    }

    /** A replacement of a live entry under its own org. */
    private def replacement(): MetadataEntry = {
      val old = randomLive()
      newEntry(rng, old.id).copy(orgUUID = old.orgUUID,
        targetUri = s"hdfs://nameservice1/${old.orgUUID}/${old.id}")
    }

    /** Replacements a catalog that has already served `n` writes since its
      * last compaction would hold, for set-up to write straight to the store.
      */
    def preAge(n: Int): Seq[MetadataEntry] = (1 to n).map { _ =>
      val e = replacement()
      model.put(e); wrote()
      e
    }

    def next(): (Op, Expect) = {
      i += 1
      Pattern((i - 1) % Pattern.size) match {
        case "create" =>
          created += 1
          val e = newEntry(rng, f"n$seed%d-$created%06d")
          model.put(e); ids += e.id; wrote()
          (PutOp(owner(e), e), Expect(201))
        case "replace" =>
          val e = replacement()
          model.put(e); wrote()
          (PutOp(owner(e), e), Expect(200))
        case "post" =>
          val old = randomLive()
          val fields: Seq[(String, Any)] = rng.nextInt(4) match {
            case 0 => Seq("title" -> name(rng))
            case 1 => Seq("size" -> (900L + rng.nextInt(1100)), "recordCount" -> (1L + rng.nextInt(50)))
            case 2 => Seq("isPublic" -> !old.isPublic)
            case _ => Seq("category" -> s"cat${rng.nextInt(8)}", "format" -> pick(rng, Formats))
          }
          model.put(fields.foldLeft(old) {
            case (e, ("title", v: String)) => e.copy(title = v)
            case (e, ("size", v: Long)) => e.copy(size = v)
            case (e, ("recordCount", v: Long)) => e.copy(recordCount = v)
            case (e, ("isPublic", v: Boolean)) => e.copy(isPublic = v)
            case (e, ("category", v: String)) => e.copy(category = v)
            case (e, ("format", v: String)) => e.copy(format = v)
            case (_, (f, v)) => throw new IllegalArgumentException(s"unmodelled update $f=$v")
          })
          wrote()
          (PostOp(owner(old), old.id, fields), Expect(200))
        case "delete" =>
          val k = rng.nextInt(ids.size)
          val old = model.get(ids(k)).get
          ids(k) = ids.last; ids.remove(ids.size - 1)
          model.remove(old.id); wrote()
          (DeleteOp(owner(old), old.id), Expect(200, body =>
            if (body.path("deletedFromDownloader").asBoolean && body.path("deletedFromPublisher").asBoolean) None
            else Some(s"delete body $body")))
        case "search" =>
          searches += 1
          search(rng, model, searches)
        case _ => get(rng, model, ids, IndexedSeq(200, 200, 403, 200, 404)(i % 5))
      }
    }
  }

  /** Reads for warming up a catalog without writing: searches and GETs. */
  final class WarmupReads(seed: Long, model: CatalogModel) extends Generator {
    private val searches = new ReadSearch(seed, model, 0)
    private val gets = new PointGet(seed + 1, model)
    private var i = 0
    def next(): (Op, Expect) = { i += 1; if (i % 2 == 0) searches.next() else gets.next() }
  }

  def generator(workload: String, seed: Long, client: Int, model: CatalogModel): Generator = {
    val s = seed * 1000003L + client
    workload match {
      case "read_search" => new ReadSearch(s, model, client * 17)
      case "point_get" => new PointGet(s, model)
      case "mixed_rw" => new MixedRw(s, model)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}
