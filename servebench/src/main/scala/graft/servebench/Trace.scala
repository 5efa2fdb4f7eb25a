package graft.servebench

import graft.store.MetadataStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval of a traced request, in epoch microseconds. `op` is the
  * request the span belongs to; every span of one request shares it.
  */
final case class Span(id: Long, op: Long, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** A Spark job seen while a traced request was in flight. */
final class JobRec(val op: Long, val startMs: Long) {
  var endMs: Long = -1L
  var tasks = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
}

/** Counts recorded at the layer boundaries of one traced request. */
final class OpCounters {
  var actions = 0
  var planMs = 0.0
  var getRowsReturned = 0
  var compactions = 0
  val liveDeltas: mutable.ArrayBuffer[Int] = mutable.ArrayBuffer.empty
  val jobs: mutable.ArrayBuffer[JobRec] = mutable.ArrayBuffer.empty
}

/** In-memory span and counter recorder. Spans are recorded only while `op` is
  * non-zero, that is while a traced request is in flight; the traced run
  * sends one request at a time, so everything recorded belongs to `op`.
  */
final class Tracer {
  private val nanoBase = System.nanoTime()
  private val epochBaseUs = System.currentTimeMillis() * 1000L
  private var lastId = 0L
  private val spanBuf = mutable.ArrayBuffer.empty[Span]
  private val counterMap = mutable.HashMap.empty[Long, OpCounters]

  /** The traced request in flight; 0 when none. */
  @volatile var op: Long = 0L

  /** Epoch microseconds on the monotonic clock. */
  def nowUs: Long = epochBaseUs + (System.nanoTime() - nanoBase) / 1000L

  def record(name: String, op: Long, startUs: Long, endUs: Long): Unit = synchronized {
    lastId += 1
    spanBuf += Span(lastId, op, name, startUs, endUs); ()
  }

  def span[A](name: String)(f: => A): A = {
    val o = op
    if (o == 0L) f
    else {
      val s = nowUs
      try f finally record(name, o, s, nowUs)
    }
  }

  def counters(o: Long): OpCounters = synchronized(counterMap.getOrElseUpdate(o, new OpCounters))

  /** Updates the counters of the request in flight, if one is traced. */
  def count(f: OpCounters => Unit): Unit = {
    val o = op
    if (o != 0L) { val c = counters(o); c.synchronized(f(c)) }
  }

  def spans: Seq[Span] = synchronized(spanBuf.toSeq)
}

/** Reads of a store's directory, outside the store. */
object StoreDir {

  /** Delta segments a read of the store at `root` merges: those newer than
    * the newest base at or below the committed version. Compaction leaves the
    * deltas it folded on disk; they are not counted.
    */
  def liveDeltas(root: Path): Int = {
    val cur = root.resolve("CURRENT")
    val committed = if (Files.exists(cur)) Files.readString(cur).trim.toLong else 0L
    def versions(prefix: String): Seq[Long] = {
      val s = Files.list(root)
      try s.iterator.asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith(prefix) && n.drop(prefix.length).forall(_.isDigit))
        .map(_.drop(prefix.length).toLong).filter(_ <= committed).toSeq
      finally s.close()
    }
    val base = versions("base-").maxOption.getOrElse(0L)
    versions("delta-").count(_ > base)
  }

  /** Bytes of every file under `root`. */
  def bytes(root: Path): Long = {
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }
}

/** The catalog's store with a span around each call the service makes, and
  * the live-delta count sampled at each read. Nested calls (the point read
  * inside an upsert, the compaction inside a write) nest their spans.
  */
final class TracingStore(spark: SparkSession, rootDir: String, tracer: Tracer)
    extends MetadataStore(spark, rootDir) {
  private val root = Paths.get(rootDir)

  private def sampleDeltas(): Unit =
    if (tracer.op != 0L) { val n = StoreDir.liveDeltas(root); tracer.count(_.liveDeltas += n) }

  override def current = { sampleDeltas(); tracer.span("store.resolve")(super.current) }

  override def get(id: String) = {
    sampleDeltas()
    val r = tracer.span("store.get")(super.get(id))
    tracer.count(_.getRowsReturned += r.size)
    r
  }

  override def upsert(entry: graft.model.MetadataEntry): Boolean =
    tracer.span("store.upsert")(super.upsert(entry))

  override def partialUpdate(id: String, fields: Map[String, Any]): Boolean =
    tracer.span("store.partial_update")(super.partialUpdate(id, fields))

  override def delete(id: String): Boolean = tracer.span("store.delete")(super.delete(id))

  override def compact(): Unit = {
    tracer.span("store.compact")(super.compact())
    tracer.count(_.compactions += 1)
  }
}

/** Spark's side of a traced request: planning phases and actions from the
  * query-execution callbacks, jobs, tasks, rows read and shuffle bytes from
  * the scheduler events.
  */
final class SparkLayerListener(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val jobs = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val o = tracer.op
    if (o != 0L) synchronized {
      val j = new JobRec(o, e.time)
      jobs(e.jobId) = j
      e.stageIds.foreach(stageJob(_) = e.jobId)
      tracer.count(_.jobs += j)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      tracer.record("spark.job", j.op, j.startMs * 1000L, e.time * 1000L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.recordsRead += m.inputMetrics.recordsRead
      j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
  }

  private def action(qe: QueryExecution): Unit = {
    val o = tracer.op
    if (o != 0L) {
      val phases = qe.tracker.phases.values
      phases.foreach(p => tracer.record("spark.plan", o, p.startTimeMs * 1000L, p.endTimeMs * 1000L))
      tracer.count { c => c.actions += 1; c.planMs += phases.map(_.durationMs).sum.toDouble }
    }
  }

  def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = action(qe)
  def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = action(qe)
}

/** Span-tree arithmetic over one request's spans. */
object SpanTree {

  /** Slack for spans timed on Spark's millisecond clock. */
  val ToleranceUs = 2000L

  def contains(p: Span, c: Span): Boolean =
    c.startUs >= p.startUs - ToleranceUs && c.endUs <= p.endUs + ToleranceUs

  /** Each span's parent: the shortest other span of the request that contains
    * it. Only the request and store spans can be parents; Spark's planning
    * and job spans are leaves. The request span has no parent (0).
    */
  def parents(request: Span, spans: Seq[Span]): Map[Long, Long] = {
    val candidates = request +: spans.filter(_.name.startsWith("store."))
    spans.map { s =>
      s.id -> candidates.filter(p => p.id != s.id && contains(p, s) && p.durUs >= s.durUs)
        .minByOption(_.durUs).fold(0L)(_.id)
    }.toMap + (request.id -> 0L)
  }

  /** Spans that do not lie inside their request. */
  def violations(request: Span, spans: Seq[Span]): Int = spans.count(s => !contains(request, s))

  /** Time of `request` covered by none of `spans`. */
  def selfUs(request: Span, spans: Seq[Span]): Long = {
    val clipped = spans.map(s => (math.max(s.startUs, request.startUs), math.min(s.endUs, request.endUs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    request.durUs - covered
  }
}
