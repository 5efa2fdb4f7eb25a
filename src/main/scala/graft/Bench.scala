package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{DecimalNode, ObjectNode}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark main: runs every registered operator at SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric","value","unit","queries","sf"}.
  *
  * Methodology: each query is materialized through the `noop` sink — every
  * row is fully produced and handed to the writer, so column pruning can't
  * skip the work a bare count() would (a count over a pruned scan times the
  * metadata, not the operator). One warm-up pass absorbs JIT/codegen/
  * parquet-footer costs, then one timed pass is reported — steady-state
  * per-query cost, the number a cluster deployment would see.
  *
  * Measurement modes on the same session and materialization: `Bench
  * profile <q1,q2,...> [passes]` ([[profile]]) and `Bench plans <outDir>
  * <suffix> <q1,q2,...>` ([[plans]]).
  */
object Bench {
  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  private val cpus = GraftSession.envCpus
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = args.toList match {
    case "profile" :: rest =>
      require(rest.size == 1 || rest.size == 2, "usage: Bench profile <q1,q2,...> [passes]")
      withSession(profile(_, names(rest.head), rest.lift(1).fold(1)(_.toInt)))
    case "plans" :: rest =>
      require(rest.size == 3, "usage: Bench plans <outDir> <suffix> <q1,q2,...>")
      val List(outDir, suffix, qs) = rest
      withSession(plans(_, outDir, suffix, names(qs)))
    case _ =>
      val compact = withSession(timed)
      System.err.flush()
      println(compact)
      System.out.flush()
  }

  private def names(csv: String): Seq[String] =
    csv.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private def withSession[T](body: SparkSession => T): T = {
    val spark = GraftSession.local(cpus)
    try body(spark) finally GraftSession.stop(spark)
  }

  private def materialize(spark: SparkSession, name: String): Unit =
    SparkEntry.queries(name)(spark, sfDir)
      .write.mode("overwrite").format("noop").save()

  final case class QResult(name: String, best: Double,
                           passes: Seq[Double], gc: Seq[Long])

  /** One timed run: the per-query results and the contention evidence. */
  final case class Summary(results: Seq[QResult], sf: String,
                           envelopeExceed: Int, loadStart: Double,
                           loadEnd: Double, nproc: Int, contended: Boolean) {
    def total: Double = results.map(_.best).filter(_ >= 0).sum
  }

  /** BENCH_ENVELOPE.json's per-query floor seconds. Floors only apply when
    * the envelope was recorded under the SAME sf and local[N] width
    * (`_sf`/`_cpus` header keys, compared with `cpus`, not the host's
    * processor count) — a bench at a different SF or width would otherwise
    * be marked contended by floors that never described it (masking real
    * regressions as load); then the result is empty.
    */
  def envelopeFloors(json: String, sfName: String, cpus: Int): Map[String, Double] = {
    val n = mapper.readTree(json)
    val (envSf, envCpus) = (n.path("_sf").asText("?"), n.path("_cpus").asText("?"))
    if (envSf == sfName && envCpus == cpus.toString)
      n.properties.asScala.collect {
        case e if !e.getKey.startsWith("_") && e.getValue.isNumber =>
          e.getKey -> e.getValue.asDouble
      }.toMap
    else {
      System.err.println(s"[bench] envelope not applied: recorded for " +
        s"sf=$envSf/cpus=$envCpus, this run is sf=$sfName/cpus=$cpus")
      Map.empty
    }
  }

  // A fixed-scale decimal prints the same digits in every locale and never
  // in exponent form (a Double would print 1.0E-4 and lengthen the line).
  private def dec(d: Double, scale: Int): DecimalNode =
    new DecimalNode(java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP))

  private def contention(n: ObjectNode, s: Summary): String =
    mapper.writeValueAsString(n.put("envelope_exceed", s.envelopeExceed)
      .put("loadavg_start", s.loadStart).put("loadavg_end", s.loadEnd)
      .put("nproc", s.nproc).put("contended", s.contended))

  // The harness keeps only the LAST 2000 characters of stdout (observed in
  // BENCH_r06/r07: "tail" len 2000, "parsed": null once the query map
  // outgrew the window). So stdout carries a bounded line: headline metric
  // + the slowest queries (and any failures), greedily added until a
  // ~1500-char budget is spent; everything excluded is summarized as
  // fast_n/fast_sum. The complete per-query/per-pass/GC detail goes to
  // BENCH_DETAIL.json in the working directory and to stderr.
  val QueryBudget = 1500

  def compactLine(s: Summary): String = {
    val failed = s.results.filter(_.best < 0)
    // failures are included UNCONDITIONALLY — they must never vanish from
    // the compact line, whatever the budget; the cost ranking then fills
    // the remaining space greedily
    var used = failed.map(_.name.length + 10).sum
    val keep = mutable.ArrayBuffer[QResult](failed: _*)
    s.results.sortBy(r => -r.best).filter(_.best >= 0).foreach { r =>
      val len = r.name.length + 10
      if (used + len <= QueryBudget) { keep += r; used += len }
    }
    val excluded = s.results.filterNot(keep.contains)
    val qs = mapper.createObjectNode()
    keep.sortBy(_.name).foreach(r => qs.set[ObjectNode](r.name, dec(r.best, 2)))
    contention(mapper.createObjectNode().put("metric", "total")
      .set[ObjectNode]("value", dec(s.total, 4)).put("unit", "sec")
      .set[ObjectNode]("queries", qs).put("sf", s.sf)
      .put("n_queries", s.results.size).put("failed_n", failed.size)
      .put("fast_n", excluded.size)
      .set[ObjectNode]("fast_sum", dec(excluded.filter(_.best >= 0).map(_.best).sum, 2)), s)
  }

  def detailJson(s: Summary): String = {
    val qs, passes, gc = mapper.createObjectNode()
    s.results.foreach { r =>
      qs.set[ObjectNode](r.name, dec(r.best, 4))
      val p = passes.putArray(r.name)
      r.passes.foreach(d => p.add(dec(d, 4)))
      val g = gc.putArray(r.name)
      r.gc.foreach(g.add(_))
    }
    contention(mapper.createObjectNode().put("metric", "total")
      .put("value", s.total).put("unit", "sec").set[ObjectNode]("queries", qs)
      .put("sf", s.sf).set[ObjectNode]("passes", passes)
      .set[ObjectNode]("gc_ms", gc), s)
  }

  /** The timed run; returns the compact stdout line. */
  private def timed(spark: SparkSession): String = {
    def gcMillis: Long =
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum

    // Contention evidence: driver-run numbers have repeatedly recorded
    // multi-minute totals on externally loaded machines (BENCH_r04/r05) for
    // code whose idle-machine profile is flat — so every run now carries the
    // raw per-pass walls, per-pass GC, and the host's 1-minute loadavg, plus
    // a derived "contended" verdict, directly in the JSON.
    def loadavg1: Double =
      try Files.readString(Paths.get("/proc/loadavg")).takeWhile(_ != ' ').toDouble
      catch { case _: Throwable => -1.0 }
    val nproc = Runtime.getRuntime.availableProcessors()
    val loadStart = loadavg1

    // SPARK_GRAFT_BENCH_ONLY: comma-separated entry names (exact match) —
    // run just those for a quick floor-ratification or regression capture.
    // Unset (the driver's invocation) runs everything, unchanged.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(names(_).toSet)
    val selected = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val results = selected.map { name =>
      val r = try {
        materialize(spark, name) // warm-up: JIT, codegen, footers
        // min of two timed passes: the JVM occasionally hits multi-second
        // stalls (GC / deopt) that would randomly pollute one-shot numbers
        val passes = (1 to 2).map { _ =>
          val (t0, g0) = (System.nanoTime(), gcMillis)
          materialize(spark, name)
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
    val envelope =
      try envelopeFloors(Files.readString(Paths.get("BENCH_ENVELOPE.json")),
        Paths.get(sfDir).getFileName.toString, cpus)
      catch { case _: Throwable => Map.empty[String, Double] }
    val envelopeExceed = results.count(r => r.best >= 0 &&
      envelope.get(r.name).exists(f => r.best > 1.5 * f && r.best > 0.5))
    val envelopeHit = envelope.nonEmpty &&
      envelopeExceed >= math.max(5, results.size / 10)
    val contended = varianceHit || envelopeHit ||
      loadStart > nproc / 2.0 || loadEnd > nproc / 2.0

    val summary = Summary(results, sfDir, envelopeExceed, loadStart, loadEnd,
      nproc, contended)
    val full = detailJson(summary)
    try Files.writeString(Paths.get("BENCH_DETAIL.json"), full + "\n")
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
    compactLine(summary)
  }

  /** Per-JOB wall-clock breakdown of each named query — where a
    * multi-action entry (store scenarios, iterative loops, index builds)
    * actually spends its seconds, which the single end-to-end number cannot
    * show. Runs one warm-up materialization, then `passes` timed ones with a
    * listener recording every job's duration, stage count, task count, and
    * shuffle read/write bytes. Output to stderr: one line per job (of the
    * LAST timed pass' span), plus the gap time not covered by any job
    * (driver-side planning/collect overhead).
    */
  private def profile(spark: SparkSession, queries: Seq[String], passes: Int): Unit = {
    final case class JobRec(id: Int, desc: String, start: Long,
                            var end: Long = 0L, var stages: Int = 0,
                            var tasks: Int = 0, var shufRead: Long = 0L,
                            var shufWrite: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, desc, e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += si.numTasks
          j.shufRead += si.taskMetrics.shuffleReadMetrics.totalBytesRead
          j.shufWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        }
      }
    })

    queries.foreach { name =>
      materialize(spark, name) // warm-up
      val spans = (1 to passes).map { p =>
        jobs.synchronized { jobs.clear(); stageToJob.clear() }
        val t0 = System.currentTimeMillis()
        materialize(spark, name)
        val t1 = System.currentTimeMillis()
        System.err.println(f"[profile] $name pass $p: ${(t1 - t0) / 1e3}%.3f s")
        (t0, t1)
      }
      Thread.sleep(300) // let listener drain
      val (t0, t1) = spans.last
      var covered = 0L
      jobs.synchronized {
        jobs.values.toSeq.sortBy(_.start).foreach { j =>
          val dur = (j.end - j.start) / 1e3
          covered += (j.end - j.start)
          System.err.println(f"[profile]   job ${j.id}%3d ${dur}%7.3f s  " +
            f"stages=${j.stages}%2d tasks=${j.tasks}%4d " +
            f"shufR=${j.shufRead / 1024}%8d KB shufW=${j.shufWrite / 1024}%8d KB  ${j.desc.take(80)}")
        }
        System.err.println(f"[profile]   jobs total ${covered / 1e3}%.3f s; " +
          f"wall ${(t1 - t0) / 1e3}%.3f s; driver gap ${(t1 - t0 - covered) / 1e3}%.3f s " +
          "(gaps overlap-naive: concurrent jobs double-count)")
      }
    }
  }

  /** The plan evidence that pairs with the bench numbers
    * (`plans/rNN/<query>_{before,after}.txt`), from the session the bench
    * times. Queries whose construction runs side-effect steps (store
    * scenarios, streaming folds) execute those steps first, then dump the
    * plan of the final returned frame — the frame the noop sink
    * materializes.
    */
  private def plans(spark: SparkSession, outDir: String, suffix: String,
                    queries: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    queries.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      System.err.println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
    }
  }
}
