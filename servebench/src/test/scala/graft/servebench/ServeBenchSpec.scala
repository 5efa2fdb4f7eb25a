package graft.servebench

import com.fasterxml.jackson.databind.node.ObjectNode
import graft.model.DataSetFiltering
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.Files
import scala.util.Random

class ServeBenchSpec extends AnyFunSuite with Matchers {

  private def entries(n: Int) = {
    val rng = new Random(42)
    (1 to n).map(k => Workloads.newEntry(rng, f"$k%06d"))
  }

  private def stream(workload: String, seed: Long, n: Int): Seq[(String, String, String, Option[String])] = {
    val g = Workloads.generator(workload, seed, 0, new CatalogModel(entries(300)))
    (1 to n).map { _ =>
      val (op, _) = g.next()
      (op.caller.token, op.method, op.pathAndQuery, op.body)
    }
  }

  test("each workload's op stream is a function of its seed") {
    Workloads.Names.foreach { w =>
      stream(w, 7, 80) shouldBe stream(w, 7, 80)
      stream(w, 7, 80) should not be stream(w, 8, 80)
    }
  }

  test("the op mix is the same for every seed") {
    Workloads.Names.foreach { w =>
      def kinds(seed: Long) = {
        val g = Workloads.generator(w, seed, 0, new CatalogModel(entries(300)))
        (1 to 55).map(_ => g.next()._1.kind)
      }
      kinds(1) shouldBe kinds(2)
    }
  }

  test("a p95 is given only when ten samples lie beyond it") {
    // interpolated between ranks, the p95 of 1..n has ten samples above it from n = 182
    Stats.tail((1 to 181).map(_.toDouble), 0.95) shouldBe None
    val v = Stats.tail((1 to 182).map(_.toDouble), 0.95)
    v shouldBe defined
    (1 to 182).count(_ > v.get) shouldBe 10
    Stats.tail(Seq.fill(500)(3.0), 0.95) shouldBe None // ties: nothing lies beyond
    Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) shouldBe 2.5
  }

  test("live-delta counting ignores deltas a compaction folded and uncommitted ones") {
    val root = Files.createTempDirectory("servebench-deltas")
    def dir(name: String) = Files.createDirectories(root.resolve(name))
    (1 to 64).foreach(v => dir(s"delta-$v"))
    Files.writeString(root.resolve("CURRENT"), "64")
    StoreDir.liveDeltas(root) shouldBe 64
    dir("base-65")
    (66 to 70).foreach(v => dir(s"delta-$v"))
    dir("delta-71") // published, pointer not yet advanced
    dir(".staging-delta-72-abcd")
    Files.writeString(root.resolve("CURRENT"), "70")
    StoreDir.liveDeltas(root) shouldBe 5
    graft.util.FsUtil.deleteRecursively(root)
  }

  /** The catalog's answer to a search, as the model predicts it. */
  private def reply(want: ExpectedSearch, model: CatalogModel): ObjectNode = {
    val n = CatalogModel.mapper.createObjectNode()
    val hits = n.putArray("hits")
    want.hitIds.foreach(id => hits.add(CatalogModel.entryJson(model.get(id).get)))
    n.put("total", want.total)
    val c = n.putArray("categories"); want.categories.foreach(c.add)
    val f = n.putArray("formats"); want.formats.foreach(f.add)
    n
  }

  test("the model check catches a wrong total, page or hit") {
    val model = new CatalogModel(entries(300))
    val user = Caller.Users.head
    val want = model.search(None, Seq(TermFilter("category", "cat3")), 0, 10, user, DataSetFiltering.Both)
    want.total should be > 10L
    Workloads.checkSearch(reply(want, model), want, model) shouldBe None
    Workloads.checkSearch(reply(want, model).put("total", want.total + 1), want, model) shouldBe defined
    Workloads.checkSearch(reply(want.copy(hitIds = want.hitIds.reverse), model), want, model) shouldBe defined
    val wrongHit = reply(want, model)
    wrongHit.withArray("hits").get(0).asInstanceOf[ObjectNode].put("title", "changed")
    Workloads.checkSearch(wrongHit, want, model) shouldBe defined
  }

  test("the model scores text as the catalog does: title, then sample and URI term shares") {
    val model = new CatalogModel(entries(300))
    val (e, word) = model.all.iterator.map(e => (e, e.title.split(" ").head))
      .find { case (e, w) => !e.sourceUri.contains(w) }.get
    val want = model.search(Some(word), Nil, 0, 300, Caller.Admin, DataSetFiltering.Both)
    want.hitIds should contain(e.id)
    // the title contains the word and the sample (the same five words) holds it
    CatalogModel.Scorer(word)(CatalogModel.Indexed(e)) shouldBe 3.0 + 2.0
    CatalogModel.Scorer(s"$word zzz")(CatalogModel.Indexed(e)) shouldBe 0.0 + 1.0
  }

  test("self time excludes every interval a child span covers, once") {
    val ms = 1000L
    val req = Span(1, 1, "request", 0, 1000 * ms)
    // the last span ends within the millisecond slack of Spark's clock
    val kids = Seq(Span(2, 1, "store.get", 100 * ms, 400 * ms), Span(3, 1, "spark.job", 200 * ms, 300 * ms),
      Span(4, 1, "spark.job", 350 * ms, 600 * ms), Span(5, 1, "spark.plan", 900 * ms, 1000 * ms + 500))
    SpanTree.selfUs(req, kids) shouldBe (1000 - 500 - 100) * ms
    SpanTree.parents(req, kids) shouldBe Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 1L)
    SpanTree.violations(req, kids) shouldBe 0
    SpanTree.violations(req, kids :+ Span(6, 1, "spark.job", 900 * ms, 5000 * ms)) shouldBe 1
  }
}
