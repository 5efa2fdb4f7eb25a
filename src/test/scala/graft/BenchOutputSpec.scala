package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.cfg.JsonNodeFeature
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import java.nio.file.{Files, Paths}
import java.util.Locale
import scala.jdk.CollectionConverters._

/** The benchmark's output contract: Bench's compact stdout line and
  * BENCH_DETAIL.json, the committed BENCH_ENVELOPE.json, and Verify's
  * oracle_sql.json. Pure functions; no Spark.
  */
class BenchOutputSpec extends AnyFunSuite with Matchers {

  // reads every number back with exactly the digits it was printed with
  private val mapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .configure(JsonNodeFeature.STRIP_TRAILING_BIGDECIMAL_ZEROES, false)

  // 330 entries with registry-shaped names, walls from 1 ms to ~60 s, two
  // failures (best -1 with no passes), and a few rounding edges
  private val failedNames = Set("d17_failed_entry", "x250_failed_entry")
  private val results = {
    val rnd = new scala.util.Random(42)
    val walls = Seq(0.00004, 0.00005, 0.004999, 0.125, 1.00005) ++
      Seq.fill(323)(math.pow(10, rnd.nextDouble() * 4.8 - 3))
    val ok = walls.zipWithIndex.map { case (w, i) =>
      val passes = Seq(w * 1.07, w)
      Bench.QResult(f"${('a' + i % 16).toChar}${i + 1}_synthetic_entry_$i%03d",
        w, passes, Seq(i.toLong, 0L))
    }
    (ok ++ failedNames.map(Bench.QResult(_, -1.0, Nil, Nil))).sortBy(_.name)
  }
  private val summary = Bench.Summary(results, "testdata/sf0.1",
    envelopeExceed = 3, loadStart = 0.52, loadEnd = 1.0, nproc = 32, contended = false)

  private def keys(json: String): Seq[String] =
    mapper.readTree(json).fieldNames.asScala.toSeq

  test("compact line: parses, today's keys in today's order, inside the query budget, both failures kept") {
    val line = Bench.compactLine(summary)
    keys(line) shouldBe Seq("metric", "value", "unit", "queries", "sf", "n_queries",
      "failed_n", "fast_n", "fast_sum", "envelope_exceed", "loadavg_start",
      "loadavg_end", "nproc", "contended")
    val n = mapper.readTree(line)
    n.get("n_queries").asInt shouldBe 330
    n.get("failed_n").asInt shouldBe 2
    val qs = n.get("queries")
    mapper.writeValueAsString(qs).length should be <= Bench.QueryBudget
    line.length should be < 2000 // the harness keeps the last 2000 characters
    failedNames.foreach(f => line should include(s""""$f":-1.00"""))
    qs.size + n.get("fast_n").asInt shouldBe 330
    // the slowest entries fill the budget; the rest sum into fast_sum
    val byCost = results.filter(_.best >= 0).sortBy(-_.best)
    byCost.take(10).foreach(r => qs.has(r.name) shouldBe true)
    val fast = byCost.filterNot(r => qs.has(r.name))
    n.get("fast_sum").toString shouldBe
      String.format(Locale.ROOT, "%.2f", Double.box(fast.map(_.best).sum))
    // decimals as before: %.4f total, %.2f per query, loadavg as a Double
    n.get("value").toString shouldBe
      String.format(Locale.ROOT, "%.4f", Double.box(summary.total))
    qs.properties.asScala.foreach { e =>
      e.getValue.toString shouldBe String.format(Locale.ROOT, "%.2f",
        Double.box(results.find(_.name == e.getKey).get.best))
    }
    line should include(""""loadavg_start":0.52,"loadavg_end":1.0,"nproc":32""")
  }

  test("BENCH_DETAIL.json: today's keys, every entry at four decimals, passes and GC per entry") {
    val detail = Bench.detailJson(summary)
    keys(detail) shouldBe Seq("metric", "value", "unit", "queries", "sf", "passes",
      "gc_ms", "envelope_exceed", "loadavg_start", "loadavg_end", "nproc", "contended")
    val n = mapper.readTree(detail)
    n.get("value").toString shouldBe summary.total.toString
    n.get("queries").fieldNames.asScala.toSeq shouldBe results.map(_.name)
    results.foreach { r =>
      n.get("queries").get(r.name).toString shouldBe
        String.format(Locale.ROOT, "%.4f", Double.box(r.best))
      n.get("passes").get(r.name).elements.asScala.map(_.toString).toSeq shouldBe
        r.passes.map(p => String.format(Locale.ROOT, "%.4f", Double.box(p)))
      n.get("gc_ms").get(r.name).elements.asScala.map(_.asLong).toSeq shouldBe r.gc
    }
  }

  test("numbers print with '.' under a comma-decimal default locale") {
    val (line, detail) = (Bench.compactLine(summary), Bench.detailJson(summary))
    val saved = Locale.getDefault
    Locale.setDefault(Locale.GERMANY)
    try {
      String.format("%.2f", Double.box(0.5)) shouldBe "0,50" // the locale took
      Bench.compactLine(summary) shouldBe line
      Bench.detailJson(summary) shouldBe detail
      mapper.readTree(Bench.compactLine(summary)).get("value").toString should
        fullyMatch regex """\d+\.\d{4}"""
    } finally Locale.setDefault(saved)
  }

  test("the committed BENCH_ENVELOPE.json parses to 330 floors, _sf/_cpus excluded; another sf or width gets none") {
    val json = Files.readString(Paths.get("BENCH_ENVELOPE.json"))
    val floors = Bench.envelopeFloors(json, "sf0.1", 32)
    floors.size shouldBe 330
    floors.keys.filter(_.startsWith("_")) shouldBe empty
    floors.keySet shouldBe SparkEntry.queries.keySet
    floors.values.foreach(_ should be > 0.0)
    Bench.envelopeFloors(json, "sf0.01", 32) shouldBe empty
    Bench.envelopeFloors(json, "sf0.1", 8) shouldBe empty
  }

  test("oracle_sql.json: SQL holding a tab, a CR and \\u0001 round-trips; keys keep the map's order") {
    val sql = Map(
      "q_ctrl" -> "SELECT 'a\tb' AS x,\r\n '\u0001' AS y -- \"quoted\" \\ back",
      "q_plain" -> "SELECT 1")
    val json = Verify.oracleSqlJson(sql)
    json.exists(_ < ' ') shouldBe false
    mapper.readValue(json, classOf[java.util.Map[String, String]]).asScala.toMap shouldBe sql
    val oracle = SparkEntry.oracleSql
    keys(Verify.oracleSqlJson(oracle)) shouldBe oracle.keys.toSeq
  }

  test("the registry: 330 distinct entries, each in its prefix's family, queries and oracleSql keyed alike") {
    import graft.entries._
    val families = Seq("f" -> Filters.entries, "q" -> Ranking.entries,
      "a" -> Aggregations.entries, "x" -> Formats.entries, "s" -> Storage.entries,
      "t" -> Text.entries, "d" -> Duplicates.entries, "p" -> Pretraining.entries,
      "v" -> Vectors.entries, "o" -> Olap.entries, "e" -> Streams.entries,
      "j" -> EventJoins.entries, "c" -> Checks.entries, "g" -> Graphs.entries,
      "m" -> Media.entries, "r" -> Results.entries)
    val names = SparkEntry.registry.map(_.name)
    names.size shouldBe 330
    names.distinct.size shouldBe 330
    families.map(_._1).distinct.size shouldBe families.size
    families.flatMap(_._2) should contain theSameElementsAs SparkEntry.registry
    for ((prefix, entries) <- families; e <- entries)
      withClue(e.name)(e.name.takeWhile(_.isLetter) shouldBe prefix)
    SparkEntry.queries.keySet shouldBe SparkEntry.oracleSql.keySet
    SparkEntry.queries.keySet shouldBe names.toSet
  }
}
