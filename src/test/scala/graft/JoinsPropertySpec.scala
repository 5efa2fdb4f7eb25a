package graft

import graft.operators.Joins
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Structural invariants of the temporal joins over seeded random event
  * streams — held against brute-force references for EVERY generated
  * input, including the degenerate shapes (duplicate timestamps, empty
  * sides, bin-boundary values) a fixed oracle corpus may not contain.
  */
class JoinsPropertySpec extends AnyFunSuite with Matchers with SparkSupport {
  import spark.implicits._

  /** Seeded random (id, user, ts-µs) stream with deliberate ts collisions
    * (small value domain) and clustered bursts.
    */
  private def stream(seed: Int, n: Int): Seq[(Long, Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val burst = rnd.nextInt(10) * 10000000L // 10 s apart
      (i.toLong, rnd.nextInt(4).toLong, burst + rnd.nextInt(20) * 500000L)
    }
  }

  private def df(rows: Seq[(Long, Long, Long)]): DataFrame =
    rows.toDF("id", "user", "us")
      .select($"id", $"user", timestamp_micros($"us").as("ts"))

  test("property: asOf equals per-row argmax over any seeded stream") {
    for (seed <- 1 to 4) {
      val rows = stream(seed, 120)
      val (rRows, lRows) = rows.partition(_._1 % 2 == 0)
      val right = df(rRows).select($"user", $"ts".as("r_ts"), $"id".as("r_id"))
      val left = df(lRows).select($"id".as("l_id"), $"user", $"ts".as("l_ts"))
      val got = Joins.asOf(left, right, Seq("user"), "l_ts", "r_ts", "r_id")
        .select("l_id", "r_id").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

      val want = lRows.map { case (lid, u, lus) =>
        val cands = rRows.filter(r => r._2 == u && r._3 <= lus)
        // max by (ts, id): the documented tie rule
        lid -> cands.sortBy(r => (r._3, r._1)).lastOption.map(_._1)
      }.toMap
      got shouldBe want
    }
  }

  test("property: nearestAsOf equals per-row nearest argmin over any seeded stream") {
    val tol = 7000000L // 7 s — cuts some candidates, keeps others
    for (seed <- 11 to 14) {
      val rows = stream(seed, 120)
      val (rRows, lRows) = rows.partition(_._1 % 2 == 0)
      val right = df(rRows).select($"user", $"ts".as("r_ts"), $"id".as("r_id"))
      val left = df(lRows).select($"id".as("l_id"), $"user", $"ts".as("l_ts"))
      val got = Joins.nearestAsOf(left, right, Seq("user"), "l_ts", "r_ts", "r_id", tol)
        .select("l_id", "r_id").collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      val want = lRows.map { case (lid, u, lus) =>
        // backward candidate: max (ts, id) among ts <= l; forward: min (ts, id)
        // among ts > l; nearer wins, tie → backward (the documented rules)
        val back = rRows.filter(r => r._2 == u && r._3 <= lus && lus - r._3 <= tol)
          .sortBy(r => (r._3, r._1)).lastOption
        val fwd = rRows.filter(r => r._2 == u && r._3 > lus && r._3 - lus <= tol)
          .sortBy(r => (r._3, r._1)).headOption
        lid -> ((back, fwd) match {
          case (None, f) => f.map(_._1)
          case (b, None) => b.map(_._1)
          case (Some(b), Some(f)) =>
            Some(if (f._3 - lus < lus - b._3) f._1 else b._1)
        })
      }.toMap
      got shouldBe want
    }
  }

  test("property: shard export re-unions to its input exactly for any seeded corpus and shard count") {
    for ((seed, shards) <- Seq((21, 1), (22, 5), (23, 16))) {
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 200).map(i =>
        (rnd.nextLong().abs % 1000000L * 1000 + i, s"body $i ${rnd.nextInt(99)}"))
        .toDF("doc_id", "text")
      val out = GraftSession.scratchDir("graft-shardprop").toString + "/c"
      graft.operators.Pipeline.shardExport(docs, out, shards)
      val back = spark.read.parquet(out)
      back.select("doc_id", "text").as[(Long, String)].collect().sorted.toSeq shouldBe
        docs.as[(Long, String)].collect().sorted.toSeq
      // every row sits in its recomputable shard
      back.where(pmod(pmod($"doc_id" * 2654435761L, lit(4294967296L)), lit(shards.toLong))
          =!= $"shard".cast("long")).count() shouldBe 0
    }
  }

  test("property: proximity pairs equal brute force; canonical orientation; gap bound holds") {
    for (seed <- 5 to 8) {
      val rows = stream(seed, 80)
      val eps = 1500000L
      val got = Joins.timeProximityPairs(df(rows), "id", "ts", eps)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // canonical orientation and bounded gap on every row
      got.foreach { case (a, b, g) =>
        a should be < b
        g should be <= eps
      }
      // no duplicate pairs
      val pairs = got.map(t => (t._1, t._2))
      pairs.distinct.length shouldBe pairs.length
      // exact match with all-pairs reference
      val want = (for {
        a <- rows; b <- rows
        if a._1 < b._1 && math.abs(a._3 - b._3) <= eps
      } yield (a._1, b._1, math.abs(a._3 - b._3))).toSet
      got.toSet shouldBe want
    }
  }

  test("property: intervalOverlapPairs equals brute force for random closed intervals, every bin width") {
    for (seed <- 1 to 3; bin <- Seq(3L, 7L, 50L)) {
      val rnd = new scala.util.Random(seed)
      def intervals(tag: String, n: Int) = (0 until n).map { i =>
        val s = rnd.nextInt(200).toLong
        (s"$tag$i", s, s + rnd.nextInt(30).toLong) // spans 0-29, many boundary hits
      }
      val a = intervals("a", 40).toDF("a_id", "a_start", "a_end")
      val b = intervals("b", 25).toDF("b_id", "b_start", "b_end")
      val got = Joins.intervalOverlapPairs(a, b, bin)
        .select("a_id", "b_id").collect()
        .map(r => (r.getString(0), r.getString(1)))
      // emit-once even when a pair shares many bins
      got.distinct.length shouldBe got.length
      val want = a.join(b, $"a_start" <= $"b_end" && $"b_start" <= $"a_end")
        .select("a_id", "b_id").collect()
        .map(r => (r.getString(0), r.getString(1))).toSet
      got.toSet shouldBe want
    }
  }

  test("property: interpolateAsOf brackets every answer and hits observations exactly") {
    for (seed <- 5 to 7) {
      val rnd = new scala.util.Random(seed)
      val right = (0 until 60).map(i =>
        (rnd.nextInt(3).toLong, rnd.nextInt(50) * 1000000L, i.toLong, rnd.nextInt(100) / 10.0))
        .toDF("user", "us", "rid", "v")
        .select($"user", timestamp_micros($"us").as("r_ts"), $"rid", $"v")
      val left = (0 until 40).map(i =>
        (100L + i, rnd.nextInt(3).toLong, rnd.nextInt(60) * 500000L))
        .toDF("lid", "user", "us")
        .select($"lid", $"user", timestamp_micros($"us").as("l_ts"))
      val rByUser = right.collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000, r.getDouble(3)))
        .groupBy(_._1)
      val out = left.join(
        Joins.interpolateAsOf(left, right, Seq("user"), "l_ts", "r_ts", "rid", "v")
          .select($"lid", $"v_interp"), Seq("lid"))
        .select($"lid", $"user", $"l_ts", $"v_interp").collect()
      out.foreach { r =>
        val (uid, t) = (r.getLong(1), r.getTimestamp(2).getTime * 1000)
        val vs = rByUser.getOrElse(uid, Array.empty)
        if (vs.isEmpty) r.isNullAt(3) shouldBe true
        else {
          val v = r.getDouble(3)
          // interpolation stays inside the envelope of the signal's values
          v should be >= vs.map(_._3).min - 1e-9
          v should be <= vs.map(_._3).max + 1e-9
          // an exact-timestamp observation passes through untouched
          // (largest tie-break id at that timestamp wins)
          val atT = vs.filter(_._2 == t)
          if (atT.nonEmpty) {
            val ids = right.collect().filter(rr =>
              rr.getLong(0) == uid && rr.getTimestamp(1).getTime * 1000 == t)
            v shouldBe ids.maxBy(_.getLong(2)).getDouble(3)
          }
        }
      }
    }
  }

  test("property: chunkDocs covers every token exactly, overlaps are exact, no redundant chunks") {
    import graft.operators.Pipeline
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val docs = (0 until 25).map(i =>
        (i.toLong, (0 until rnd.nextInt(40)).map(j => s"w${rnd.nextInt(100)}").mkString(" ")))
        .toDF("doc_id", "text")
      val size = 2 + rnd.nextInt(8)
      val overlap = rnd.nextInt(size)
      val stride = size - overlap
      val out = Pipeline.chunkDocs(docs, size, overlap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      val nTokens = docs.collect()
        .map(r => r.getLong(0) -> r.getString(1).split(" ").count(_.nonEmpty)).toMap
      nTokens.foreach { case (id, n) =>
        val chunks = out.getOrElse(id, Array.empty).sortBy(_._2)
        if (n == 0) chunks shouldBe empty
        else {
          // contiguous chunk ids from 0; every token covered; last chunk
          // reaches exactly the end; no chunk is subsumed by its precursor
          chunks.map(_._2).toSeq shouldBe chunks.indices.map(_.toLong)
          val covered = chunks.flatMap { case (_, i, len) =>
            (i * stride) until (i * stride + len) }.toSet
          covered shouldBe (0 until n).toSet
          chunks.foreach { case (_, i, len) =>
            len shouldBe math.min(size, n - i * stride) }
          if (chunks.length > 1)
            chunks.last match { case (_, i, len) => (i * stride + len) shouldBe n }
        }
      }
    }
  }

  test("property: intervalJoin equals brute force for random half-open intervals") {
    for (seed <- 9 to 12) {
      val rnd = new scala.util.Random(seed)
      val pts = stream(seed, 60)
      val ivs = (0 until 25).map { i =>
        val s = rnd.nextInt(10) * 10000000L + rnd.nextInt(20) * 500000L
        // include zero-length (matches nothing) and multi-bin intervals
        (1000L + i, s, s + rnd.nextInt(5) * 3000000L)
      }
      val points = df(pts).select($"id".as("pid"), $"ts".as("pts"))
      val intervals = ivs.toDF("iid", "s_us", "e_us")
        .select($"iid", timestamp_micros($"s_us").as("s"), timestamp_micros($"e_us").as("e"))
      val got = Joins.intervalJoin(points, "pts", intervals, "s", "e", 2000000L)
        .select("iid", "pid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (iid, s, e) <- ivs; (pid, _, us) <- pts
        if us >= s && us < e
      } yield (iid, pid)).toSet
      got shouldBe want
    }
  }
}
