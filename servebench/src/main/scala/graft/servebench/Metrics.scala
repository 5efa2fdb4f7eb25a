package graft.servebench

import graft.compile.QueryCompiler
import graft.servebench.ServeBench.{Sample, TracedOp}

import scala.collection.mutable

object Stats {

  /** The q-quantile (0..1) of `xs`, interpolating linearly between ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The q-quantile, reported only when at least ten samples lie beyond it. */
  def tail(xs: Seq[Double], q: Double): Option[Double] =
    if (xs.isEmpty) None
    else {
      val v = quantile(xs, q)
      if (xs.count(_ > v) >= 10) Some(v) else None
    }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** The metrics of one run, each a (value, unit) pair, in report order. */
object Metrics {
  type Table = mutable.LinkedHashMap[String, (Double, String)]

  val Groups: Seq[String] = Seq("search", "count", "get", "write")

  /** The metrics `BENCHMARK.json` gates on: the same five for every workload. */
  def endToEnd(all: Seq[Sample], elapsedS: Double, setupS: Double, bytesPerUserByte: Double,
               rssMb: Double): Table = {
    val ms = all.map(_.ms)
    mutable.LinkedHashMap(
      "setup_s" -> (setupS, "s"),
      "p50_ms" -> (Stats.median(ms), "ms"),
      "throughput_ops_s" -> (all.size / elapsedS, "ops/s"),
      "store_bytes_per_user_byte" -> (bytesPerUserByte, "ratio"),
      "peak_rss_mb" -> (rssMb, "MB"))
  }

  /** Latency per operation type, with its sample count; a p95 only where ten
    * samples lie beyond it.
    */
  def perOp(all: Seq[Sample]): Table = {
    val t: Table = mutable.LinkedHashMap.empty
    Groups.foreach { g =>
      val ms = all.filter(_.group == g).map(_.ms)
      if (ms.nonEmpty) {
        t(s"${g}_p50_ms") = (Stats.median(ms), "ms")
        Stats.tail(ms, 0.95).foreach(v => t(s"${g}_p95_ms") = (v, "ms"))
        t(s"${g}_samples") = (ms.size.toDouble, "count")
      }
    }
    t
  }

  /** Names and units of the per-layer metrics, in report order. */
  val perLayerUnits: Seq[(String, String)] =
    Groups.flatMap { g =>
      Seq(s"request_ms.$g" -> "ms", s"serve.self_ms.$g" -> "ms", s"spark.plan_ms.$g" -> "ms",
        s"spark.job_ms.$g" -> "ms", s"spark.jobs.$g" -> "count", s"spark.tasks.$g" -> "count",
        s"spark.rows_scanned.$g" -> "rows", s"spark.shuffle_bytes.$g" -> "bytes", s"jvm.gc_ms.$g" -> "ms")
    } ++ Seq(
      "store.resolve_ms" -> "ms", "store.get_ms" -> "ms", "store.rows_read_per_get" -> "rows/row",
      "store.live_deltas_mean" -> "deltas", "store.live_deltas_max" -> "deltas",
      "store.upsert_ms" -> "ms", "store.partial_update_ms" -> "ms", "store.delete_ms" -> "ms",
      "store.compact_ms" -> "ms", "store.compactions" -> "count",
      "store.bytes_written_per_write" -> "bytes", "exec.actions_per_search" -> "count",
      "compile.ms" -> "ms", "serve.auth_ms" -> "ms", "trace.overhead_pct" -> "%",
      "trace.nesting_violations" -> "count", "trace.spans" -> "count", "trace.ops" -> "count")

  /** Per-layer metrics of a traced run: per-request means by operation type,
    * per-call means of store spans, and the tracing overhead, measured as the
    * traced requests' median latency against the untraced ones'.
    */
  def perLayer(ops: Seq[TracedOp], tracer: Tracer): Table = {
    val spansByOp = tracer.spans.groupBy(_.op)
    val traced = ops.filter(_.traced)
    val t = mutable.HashMap.empty[String, Double]
    def ms(us: Long): Double = us / 1000.0
    def childrenOf(o: TracedOp): Seq[Span] = spansByOp.getOrElse(o.n, Nil)

    Groups.foreach { g =>
      val os = traced.filter(_.op.group == g)
      def per(f: TracedOp => Double): Double = Stats.mean(os.map(f))
      def jobs(o: TracedOp) = tracer.counters(o.n).jobs.toSeq
      t(s"request_ms.$g") = per(o => ms(o.request.durUs))
      t(s"serve.self_ms.$g") = per(o => ms(SpanTree.selfUs(o.request, childrenOf(o))))
      t(s"spark.plan_ms.$g") = per(o => tracer.counters(o.n).planMs)
      t(s"spark.job_ms.$g") = per(o => jobs(o).map(j => (j.endMs - j.startMs).toDouble).sum)
      t(s"spark.jobs.$g") = per(o => jobs(o).size.toDouble)
      t(s"spark.tasks.$g") = per(o => jobs(o).map(_.tasks).sum.toDouble)
      t(s"spark.rows_scanned.$g") = per(o => jobs(o).map(_.recordsRead).sum.toDouble)
      t(s"spark.shuffle_bytes.$g") = per(o => jobs(o).map(_.shuffleBytes).sum.toDouble)
      t(s"jvm.gc_ms.$g") = per(_.gcMs.toDouble)
    }

    val allSpans = traced.flatMap(childrenOf)
    def spanMs(name: String): Double = Stats.mean(allSpans.filter(_.name == name).map(s => ms(s.durUs)))
    Seq("resolve", "get", "upsert", "partial_update", "delete", "compact")
      .foreach(n => t(s"store.${n}_ms") = spanMs(s"store.$n"))

    // rows read by the jobs inside store.get spans, per row those gets returned
    val getRecords = traced.map { o =>
      val gets = childrenOf(o).filter(_.name == "store.get")
      tracer.counters(o.n).jobs.filter(j => j.endMs >= 0 &&
        gets.exists(g => SpanTree.contains(g, Span(0, o.n, "", j.startMs * 1000L, j.endMs * 1000L))))
        .map(_.recordsRead).sum
    }.sum
    val rowsReturned = traced.map(o => tracer.counters(o.n).getRowsReturned).sum
    t("store.rows_read_per_get") = if (rowsReturned == 0) 0.0 else getRecords.toDouble / rowsReturned

    val deltas = traced.flatMap(o => tracer.counters(o.n).liveDeltas)
    t("store.live_deltas_mean") = Stats.mean(deltas.map(_.toDouble))
    t("store.live_deltas_max") = deltas.maxOption.getOrElse(0).toDouble
    t("store.compactions") = traced.map(o => tracer.counters(o.n).compactions).sum.toDouble
    t("store.bytes_written_per_write") = Stats.mean(ops.filter(_.op.isWrite).map(_.bytesWritten.toDouble))
    t("exec.actions_per_search") = Stats.mean(traced.filter(_.op.group == "search")
      .map(o => tracer.counters(o.n).actions.toDouble))

    // the compiler and the auth resolver, timed alone on the run's own requests
    def timedMs(f: => Any): Double = { val s = System.nanoTime(); f; (System.nanoTime() - s) / 1e6 }
    t("compile.ms") = Stats.mean(traced.collect { case TracedOp(_, s: SearchOp, _, _, _, _) =>
      val acl = ServeBench.authenticate(s)
      timedMs(QueryCompiler.compile(QueryCompiler.parse(s.dsl), acl))
    })
    t("serve.auth_ms") = Stats.mean(traced.map(o => timedMs(ServeBench.authenticate(o.op))))

    // overhead: median traced / untraced latency per type, weighted by traced count
    val byGroup = Groups.flatMap { g =>
      val (on, off) = ops.filter(_.op.group == g).partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some((on.size, Stats.median(on.map(o => ms(o.request.durUs))), Stats.median(off.map(o => ms(o.request.durUs)))))
    }
    t("trace.overhead_pct") =
      if (byGroup.isEmpty) 0.0
      else 100.0 * (byGroup.map(x => x._1 * x._2).sum / byGroup.map(x => x._1 * x._3).sum - 1.0)
    t("trace.nesting_violations") = traced.map(o => SpanTree.violations(o.request, childrenOf(o))).sum.toDouble
    t("trace.spans") = (allSpans.size + traced.size).toDouble
    t("trace.ops") = traced.size.toDouble

    mutable.LinkedHashMap.from(perLayerUnits.map { case (n, u) => n -> (t(n), u) })
  }
}
