package graft

import org.apache.spark.sql.SparkSession

/** The run harness: the one local SparkSession the mains (Bench, Verify,
  * ScaleProbe) and the test suite run on, so every tool measures the same
  * engine, and the per-process scratch root they write into.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`: the local[N] width of a main (default 4). */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, UTC session time,
    * the sf tables' nanosecond parquet timestamps read as long nanos, no UI,
    * and WARN logging.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** An isolated clone of `spark`: a new session on the same SparkContext,
    * with its own SQL conf and catalog. It inherits every settable session
    * conf of the caller, so it plans under the caller's semantics
    * (timezone, legacy parquet nanos, AQE flags), and then applies
    * `overrides`. The caller's session is never mutated, so concurrent
    * queries on it keep planning with their own conf.
    */
  def isolated(spark: SparkSession, overrides: (String, String)*): SparkSession = {
    val clone = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) =>
      try clone.conf.set(k, v)
      catch { case scala.util.control.NonFatal(_) => () } // static confs refuse; already shared
    }
    overrides.foreach { case (k, v) => clone.conf.set(k, v) }
    clone
  }

  /** Per-process scratch root for reusable harness artifacts (signature
    * and IVF indexes, layouts, synthesized corpora). Fixed within a process
    * — the harness invokes each entry several times (bench warm-up +
    * passes, verify) and a fresh copy per call would leak disk, so callers
    * overwrite-and-reuse fixed names — but suffixed with the PID so two
    * concurrent processes cannot overwrite each other's artifacts mid-read.
    * A shutdown hook removes the whole root, so nothing outlives the
    * process.
    */
  private lazy val scratchRoot: String = {
    val root = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft-run-${ProcessHandle.current().pid()}")
    java.nio.file.Files.createDirectories(root)
    sys.addShutdownHook(graft.util.FsUtil.deleteRecursively(root))
    root.toString
  }

  def scratch(name: String): String = s"$scratchRoot/$name"

  /** Stop every active streaming query, then the session: a query still
    * active at `spark.stop()` logs a StateStore maintenance trace after
    * the stop. Failures are reported on stderr, never thrown.
    */
  def stop(spark: SparkSession): Unit = {
    try spark.streams.active.foreach(_.stop())
    catch { case e: Throwable =>
      System.err.println(s"[graft] stopping streams failed: ${e.getMessage}") }
    try spark.stop()
    catch { case e: Throwable =>
      System.err.println(s"[graft] spark.stop failed: ${e.getMessage}") }
  }
}
