package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered operator at SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric","value","unit","queries","sf"}.
  *
  * Methodology: each query is materialized through the `noop` sink — every
  * row is fully produced and handed to the writer, so column pruning can't
  * skip the work a bare count() would (a count over a pruned scan times the
  * metadata, not the operator). One warm-up pass absorbs JIT/codegen/
  * parquet-footer costs, then one timed pass is reported — steady-state
  * per-query cost, the number a cluster deployment would see.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()

    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }

    // Contention evidence: driver-run numbers have repeatedly recorded
    // multi-minute totals on externally loaded machines (BENCH_r04/r05) for
    // code whose idle-machine profile is flat — so every run now carries the
    // raw per-pass walls, per-pass GC, and the host's 1-minute loadavg, plus
    // a derived "contended" verdict, directly in the JSON.
    def loadavg1: Double =
      try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadStart = loadavg1

    final case class QResult(name: String, best: Double,
                             passes: Seq[Double], gc: Seq[Long])
    // SPARK_GRAFT_BENCH_ONLY: comma-separated entry names (exact match) —
    // run just those for a quick floor-ratification or regression capture.
    // Unset (the driver's invocation) runs everything, unchanged.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val results = selected.map { name =>
      val r = try {
        materialize(name) // warm-up: JIT, codegen, footers
        // min of two timed passes: the JVM occasionally hits multi-second
        // stalls (GC / deopt) that would randomly pollute one-shot numbers
        val passes = (1 to 2).map { _ =>
          val (t0, g0) = (System.nanoTime(), gcMillis)
          materialize(name)
          val dt = (System.nanoTime() - t0) / 1e9
          val gc = gcMillis - g0
          System.err.println(f"[bench] $name pass: $dt%.3f s (gc $gc ms)")
          (dt, gc)
        }
        QResult(name, passes.map(_._1).min, passes.map(_._1), passes.map(_._2))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          QResult(name, -1.0, Nil, Nil)
      }
      System.err.println(f"[bench] ${r.name}: ${r.best}%.3f s")
      r
    }
    val loadEnd = loadavg1
    // Contended = the host was visibly busy, or some non-trivial query's two
    // passes disagreed by >5× (pure JVM noise stays well under that once the
    // slower pass exceeds 1 s), or — the detector BENCH_r08 proved necessary —
    // many queries exceed their committed clean-envelope floor. Sustained
    // external load inflates BOTH passes and leaves loadavg attributed to
    // this process's own 32 threads, so the first two heuristics alone
    // missed a uniformly 1.7×-inflated run; the per-query floor comparison
    // (BENCH_ENVELOPE.json, committed from a verified-idle run) catches
    // exactly that shape. Only queries with non-trivial walls count — a
    // 0.05 s → 0.12 s wobble is JVM noise, not load.
    val varianceHit = results.exists(r =>
      r.passes.size > 1 && r.passes.max > 1.0 && r.passes.max / r.passes.min.max(1e-9) > 5.0)
    // Floors only apply when the envelope was recorded under the SAME sf and
    // local[N] width ("_sf"/"_cpus" header keys, compared with `cpus`, not
    // the host's processor count) — a bench at a different SF or width would
    // otherwise be marked contended by floors that never described it
    // (masking real regressions as load).
    val envelope: Map[String, Double] =
      try {
        val txt = java.nio.file.Files.readString(
          java.nio.file.Paths.get("BENCH_ENVELOPE.json"))
        val envSf = """"_sf"\s*:\s*"([^"]+)"""".r.findFirstMatchIn(txt).map(_.group(1))
        val envCpus = """"_cpus"\s*:\s*([0-9]+)""".r.findFirstMatchIn(txt)
          .map(_.group(1))
        val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
        if (envSf.contains(sfName) && envCpus.contains(cpus))
          """"([A-Za-z0-9][A-Za-z0-9_]*)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        else {
          System.err.println(s"[bench] envelope not applied: recorded for " +
            s"sf=${envSf.getOrElse("?")}/cpus=${envCpus.getOrElse("?")}, " +
            s"this run is sf=$sfName/cpus=$cpus")
          Map.empty
        }
      } catch { case _: Throwable => Map.empty }
    val envelopeExceed = results.count(r => r.best >= 0 &&
      envelope.get(r.name).exists(f => r.best > 1.5 * f && r.best > 0.5))
    val envelopeHit = envelope.nonEmpty &&
      envelopeExceed >= math.max(5, results.size / 10)
    val contended = varianceHit || envelopeHit ||
      loadStart > nproc / 2.0 || loadEnd > nproc / 2.0

    // Locale.ROOT: the f-interpolator uses the JVM default locale, which
    // under a comma-decimal locale would emit "0,1234" and break the JSON
    def jnum(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    def jnum2(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    val total = results.map(_.best).filter(_ >= 0).sum

    // The harness keeps only the LAST 2000 characters of stdout (observed in
    // BENCH_r06/r07: "tail" len 2000, "parsed": null once the query map
    // outgrew the window). So stdout carries a bounded line: headline metric
    // + the slowest queries (and any failures), greedily added until a
    // ~1500-char budget is spent; everything excluded is summarized as
    // fast_n/fast_sum. The complete per-query/per-pass/GC detail goes to
    // BENCH_DETAIL.json in the working directory and to stderr.
    val byCost = results.sortBy(r => -r.best)
    val failed = results.filter(_.best < 0)
    val budget = 1500
    val included = {
      // failures are included UNCONDITIONALLY — they must never vanish from
      // the compact line, whatever the budget; the cost ranking then fills
      // the remaining space greedily
      var used = failed.map(_.name.length + 10).sum
      val keep = scala.collection.mutable.ArrayBuffer[QResult](failed: _*)
      byCost.filter(_.best >= 0).foreach { r =>
        val len = r.name.length + 10
        if (used + len <= budget) { keep += r; used += len }
      }
      keep.toSeq
    }
    val inclNames = included.map(_.name).toSet
    val excluded = results.filterNot(r => inclNames(r.name))
    val qs = included.sortBy(_.name)
      .map(r => "\"" + r.name + "\":" + jnum2(r.best)).mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs""" +
      s""","sf":"$sfDir","n_queries":${results.size}""" +
      s""","failed_n":${failed.size}""" +
      s""","fast_n":${excluded.size},"fast_sum":${jnum2(excluded.filter(_.best >= 0).map(_.best).sum)}""" +
      s""","envelope_exceed":$envelopeExceed""" +
      s""","loadavg_start":$loadStart,"loadavg_end":$loadEnd""" +
      s""","nproc":$nproc,"contended":$contended}"""

    val qsFull = results.map(r => "\"" + r.name + "\":" + jnum(r.best))
      .mkString("{", ",", "}")
    val passesJson = results.map(r =>
      "\"" + r.name + "\":" + r.passes.map(jnum).mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val gcJson = results.map(r =>
      "\"" + r.name + "\":" + r.gc.mkString("[", ",", "]"))
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qsFull,"sf":"$sfDir"""" +
      s""","passes":$passesJson,"gc_ms":$gcJson,"envelope_exceed":$envelopeExceed""" +
      s""","loadavg_start":$loadStart""" +
      s""","loadavg_end":$loadEnd,"nproc":$nproc,"contended":$contended}"""
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"), full + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] BENCH_DETAIL.json write failed: ${e.getMessage}") }
    // Output-contract ordering (r18, from the r17 verdict): the ~20 KB
    // [bench-full] stderr dump raced the compact stdout line under sbt —
    // stderr flushed last and evicted the compact line from the harness's
    // 2000-char combined-output tail in BENCH_r16/r17 (PERF parsed: null
    // every round). So: full dump first, stderr flushed, Spark stopped
    // (its shutdown logging also goes to stderr), and the compact line is
    // the LAST thing this process writes.
    System.err.println("[bench-full] " + full)
    System.err.flush()
    // stop every streaming query first: a query still active at
    // spark.stop() logs a StateStore maintenance trace after the stop
    try spark.streams.active.foreach(_.stop())
    catch { case e: Throwable =>
      System.err.println(s"[bench] stopping streams failed: ${e.getMessage}") }
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[bench] spark.stop failed: ${e.getMessage}") }
    System.err.flush()
    println(compact)
    System.out.flush()
  }
}
