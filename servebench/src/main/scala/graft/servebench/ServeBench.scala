package graft.servebench

import graft.Corpus
import graft.model.{AclContext, DataSetFiltering, MetadataEntry}
import graft.serve.{Auth, CatalogService, HttpCatalog}
import graft.store.{DirectParquet, MetadataStore}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The served-catalog benchmark: `HttpCatalog` → `CatalogService` over a
  * `MetadataStore` on loopback, loaded with the 20 000-entry corpus through
  * the admin bulk route, driven by a seeded closed-loop request mix whose
  * every response is checked against [[CatalogModel]].
  *
  * Untraced runs (`--trace 0`) report the end-to-end metrics. The traced run
  * (`--trace 1`) is a single client over the same op stream that traces
  * every other request and reports the per-layer metrics and the tracing
  * overhead against the untraced requests between them. See README.md.
  */
object ServeBench {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, out: Path, commit: String)

  def parseArgs(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.Names.contains(w), s"unknown workload $w")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath, Paths.get(need("out")).toAbsolutePath,
      kv.getOrElse("commit", "unknown"))
  }

  /** Catalog set-ups per run; `setup_s` is their median. */
  val Setups = 3
  /** Unmeasured warm-up on the workload's own stream before the measured loop. */
  val WarmupSeconds = 4.0
  val CorpusSize = 20000
  /** `mixed_rw` starts from a log one delta short of the compaction
    * threshold, so its first write makes the catalog compact.
    */
  val PreAgedDeltas: Int = Workloads.CompactThreshold - 1

  // ------------------------------------------------------------- identities

  /** Token verification: the benchmark's tokens name their caller. */
  val verifier: Auth.TokenVerifier = (token: String) =>
    Caller.byToken(token) match {
      case Some(c) if c.admin => Auth.TokenPayload(c.token, Set("console.admin"))
      case Some(c) => Auth.TokenPayload(c.token, Set("openid"))
      case None => throw new Auth.UnauthorizedException(s"unknown token $token")
    }
  val userOrgsOf: Auth.TokenPayload => Seq[String] =
    p => Caller.byToken(p.userId).map(_.orgs).getOrElse(Nil)

  // ----------------------------------------------------------------- corpus

  /** A TPC-H `part` table of sf0.1's 20 000 rows drawn from `seed`, mapped
    * to catalog entries by the catalog's own `Corpus.metadata`.
    */
  def corpus(spark: SparkSession, seed: Long, dir: Path): Seq[MetadataEntry] = {
    import spark.implicits._
    val rng = new Random(seed)
    val rows = (1 to CorpusSize).map { k =>
      Row(k.toLong, Workloads.name(rng), Workloads.partType(rng), 1 + rng.nextInt(50),
        (90000 + ((k / 10) % 20001) + 100 * (k % 1000)) / 100.0)
    }
    val schema = StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_type", StringType), StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType)))
    DirectParquet.writeRows(spark, dir.resolve("part.parquet"), schema, rows)
    Corpus.metadata(spark, dir.toString).as[MetadataEntry].collect().toSeq.sortBy(_.id)
  }

  // ------------------------------------------------------------ HTTP client

  final case class Reply(status: Int, body: String)

  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    def send(method: String, pathAndQuery: String, token: String, body: Option[String]): Reply = {
      val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
        .header("Authorization", s"bearer $token")
      b.method(method, body.fold(HttpRequest.BodyPublishers.noBody())(HttpRequest.BodyPublishers.ofString))
      val r = http.send(b.build(), HttpResponse.BodyHandlers.ofString())
      Reply(r.statusCode, r.body)
    }
    def send(op: Op): Reply = send(op.method, op.pathAndQuery, op.caller.token, op.body)
  }

  /** The first mismatch between a reply and what the model expects. */
  def mismatch(op: Op, want: Expect, got: Reply): Option[String] =
    if (got.status != want.status) Some(s"status ${got.status} != ${want.status}: ${got.body.take(200)}")
    else if (got.status != 200) None
    else scala.util.Try(CatalogModel.mapper.readTree(got.body)).toOption match {
      case None => Some(s"unparseable body ${got.body.take(200)}")
      case Some(n) => want.check(n)
    }

  // ------------------------------------------------------------------ run

  /** One completed request. */
  final case class Sample(kind: String, group: String, ms: Double, ok: Boolean)

  final class Catalog(val store: MetadataStore, val root: Path, val http: HttpCatalog, val port: Int)

  def main(argv: Array[String]): Unit = {
    val args = try parseArgs(argv) catch {
      case e: Exception =>
        System.err.println(s"usage: --workload <${Workloads.Names.mkString("|")}> --seed <n> " +
          s"--seconds <s> --trace <0|1> --work <dir> --out <dir> [--commit <id>] (${e.getMessage})")
        sys.exit(2)
    }
    val code = try run(args) catch {
      case e: Throwable =>
        e.printStackTrace()
        3
    }
    sys.exit(code)
  }

  def loadavg(): String = scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim).getOrElse("n/a")

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).get

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private val started = System.nanoTime()
  def phase(what: String): Unit =
    System.err.println(f"servebench: ${(System.nanoTime() - started) / 1e9}%.1f s: $what")

  def run(a: Args): Int = {
    val cpus = Runtime.getRuntime.availableProcessors
    val env = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "commit" -> a.commit, "nproc" -> cpus, "local_n" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "java" -> System.getProperty("java.version"), "loadavg_start" -> loadavg())
    Files.createDirectories(a.work)
    Files.createDirectories(a.out)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("servebench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    env("spark") = spark.version
    val tracer = new Tracer
    val listener = new SparkLayerListener(tracer)
    if (a.trace) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(listener)
    }
    phase("spark session up")
    try {
      val entries = corpus(spark, a.seed, a.work)
      phase("corpus generated")
      val bulkBody = {
        val arr = CatalogModel.mapper.createArrayNode()
        entries.foreach(e => arr.add(CatalogModel.entryJson(e)))
        arr.toString
      }

      // set-up: store, service, HTTP server, bulk load over HTTP, first count
      def setUp(i: Int): (Catalog, Double) = {
        val root = a.work.resolve(s"store-$i")
        graft.util.FsUtil.deleteRecursively(root)
        val t0 = System.nanoTime()
        val store =
          if (a.trace) new TracingStore(spark, root.toString, tracer)
          else new MetadataStore(spark, root.toString)
        val http = new HttpCatalog(new CatalogService(spark, store), verifier, userOrgsOf)
        val port = http.start()
        val c = new Client(port)
        val load = c.send("PUT", "/rest/datasets/admin/elastic", Caller.Admin.token, Some(bulkBody))
        val count = c.send("GET", "/rest/datasets/count", Caller.Admin.token, None)
        val secs = (System.nanoTime() - t0) / 1e9
        val rejected = scala.util.Try(CatalogModel.mapper.readTree(load.body).path("rejected").size).getOrElse(-1)
        require(load.status == 200 && rejected == 0, s"bulk load failed: ${load.status} ${load.body.take(200)}")
        require(count.status == 200 && count.body.trim == entries.size.toString,
          s"count after bulk load: ${count.status} ${count.body.take(200)}")
        (new Catalog(store, root, http, port), secs)
      }
      val setups = (1 to Setups).map { i =>
        val (cat, s) = setUp(i)
        if (i < Setups) { cat.http.stop(); graft.util.FsUtil.deleteRecursively(cat.root) }
        (cat, s)
      }
      val setupS = Stats.median(setups.map(_._2))
      phase(s"set up ${Setups} times: ${setups.map(_._2).mkString(", ")} s")
      val cat = setups.last._1
      val model = new CatalogModel(entries)

      val failures = mutable.ArrayBuffer.empty[String]
      def fail(msg: String): Unit = failures.synchronized {
        if (failures.size < 20) System.err.println(s"servebench: mismatch: $msg")
        failures += msg; ()
      }

      val clients = if (a.trace || a.workload != "read_search") 1 else cpus
      val gens = (0 until clients).map(Workloads.generator(a.workload, a.seed, _, model))
      val traced = mutable.ArrayBuffer.empty[TracedOp]

      /** Every client's closed loop, until `stop` holds after one of its
        * requests. Every reply is checked; with `measure`, the traced run
        * traces every other request.
        */
      def drive(gens: Seq[Workloads.Generator], stop: Workloads.Generator => Boolean,
                measure: Boolean): Seq[Seq[Sample]] = {
        val samples = gens.map(_ => mutable.ArrayBuffer.empty[Sample])
        val threads = gens.indices.map { ci =>
          new Thread(() => {
            val c = new Client(cat.port)
            val gen = gens(ci)
            val tracing = a.trace && measure
            var n = 0L
            var done = false
            while (!done) {
              val (op, want) = gen.next()
              n += 1
              val traceThis = tracing && n % 2 == 1
              val gc0 = if (tracing) gcMs() else 0L
              val bytes0 = if (tracing && op.isWrite) StoreDir.bytes(cat.root) else 0L
              if (traceThis) tracer.op = n
              val s = tracer.nowUs
              val reply = scala.util.Try(c.send(op))
              val e = tracer.nowUs
              if (tracing) {
                org.apache.spark.BenchBridge.drainListenerBus(spark.sparkContext)
                tracer.op = 0L
                traced += TracedOp(n, op, traceThis, Span(-n, n, "request", s, e), gcMs() - gc0,
                  if (op.isWrite) StoreDir.bytes(cat.root) - bytes0 else 0L)
              }
              val ok = reply.fold(err => { fail(s"${op.kind} ${op.pathAndQuery}: $err"); false },
                r => mismatch(op, want, r) match {
                  case Some(m) => fail(s"${op.kind} ${op.pathAndQuery.take(160)}: $m"); false
                  case None => true
                })
              samples(ci) += Sample(op.kind, op.group, (e - s) / 1000.0, ok)
              done = stop(gen)
            }
          }, s"servebench-client-$ci")
        }
        threads.foreach(_.start())
        threads.foreach(_.join())
        samples.map(_.toSeq)
      }

      // warm-up: the workload's own stream and concurrency, checked, not
      // measured; mixed_rw warms up on reads, so its writes start in the window
      val mixed = gens.collectFirst { case m: Workloads.MixedRw => m }
      val warmEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
      drive(if (mixed.isEmpty) gens else Seq(new Workloads.WarmupReads(a.seed + 1, model)),
        _ => System.nanoTime() >= warmEnd, measure = false)
      phase("warmed up")
      mixed.foreach { m =>
        m.preAge(PreAgedDeltas - m.liveDeltas).foreach(e => cat.store.upsertAll(Seq(e)))
        val onDisk = StoreDir.liveDeltas(cat.root)
        require(onDisk == m.liveDeltas, s"pre-aged log holds $onDisk deltas, expected ${m.liveDeltas}")
        phase(s"pre-aged the log to $onDisk deltas")
      }
      val compactionsBefore = mixed.fold(0)(_.compactions)
      // mixed_rw measures its first write, which compacts, and `seconds` after it
      var deadline = if (mixed.isEmpty) System.nanoTime() + a.seconds * 1000000000L else Long.MaxValue
      val t0 = System.nanoTime()
      val samples = drive(gens, {
        case m: Workloads.MixedRw =>
          if (deadline == Long.MaxValue && m.compactions > compactionsBefore)
            deadline = System.nanoTime() + a.seconds * 1000000000L
          System.nanoTime() >= deadline
        case _ => System.nanoTime() >= deadline
      }, measure = true)
      val compactions = mixed.fold(0)(_.compactions - compactionsBefore)
      val elapsedS = (System.nanoTime() - t0) / 1e9
      cat.http.stop()
      phase(s"measured ${samples.map(_.size).sum} requests in ${elapsedS} s")

      // final state: the store's live entries equal the model's
      val stored = cat.store.current.collect().map(e => e.id -> CatalogModel.checksum(e)).toMap
      val want = model.checksums
      val stateOk = stored == want
      if (!stateOk) {
        val missing = want.keySet -- stored.keySet
        val extra = stored.keySet -- want.keySet
        val differ = want.keySet.intersect(stored.keySet).count(k => want(k) != stored(k))
        fail(s"final state: ${missing.size} missing, ${extra.size} unexpected, $differ differing entries")
      }
      val storeBytes = StoreDir.bytes(cat.root)
      val userBytes = model.jsonBytes
      env("loadavg_end") = loadavg()
      phase("final state checked")

      val all = samples.flatten.toSeq
      val attempted = all.size
      val failedOps = all.count(!_.ok)
      val correct = failures.isEmpty
      val e2e = Metrics.endToEnd(all, elapsedS, setupS, storeBytes.toDouble / userBytes, peakRssMb())
      val detail = Metrics.perOp(all) ++ Seq(
        "error_rate" -> (failedOps.toDouble / math.max(1, attempted), "ratio"),
        "compactions" -> (compactions.toDouble, "count"),
        "setup_s_mean" -> (setups.map(_._2).sum / Setups, "s"))
      val perLayer =
        if (a.trace) Some(Metrics.perLayer(traced.toSeq, tracer)) else None

      val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
      // a traced run reports per-layer metrics; its latencies are not end-to-end numbers
      val reported = perLayer.getOrElse(e2e)
      if (a.trace) Report.writeSpans(a.out.resolve(s"spans-$tag.jsonl"), traced.toSeq, tracer)
      Report.writeResult(a.out.resolve(s"result-$tag.json"), env, reported, detail, failures.toSeq,
        attempted, failedOps, correct, samples)
      Report.printTable(a.workload, env, detail ++ reported)
      Report.printFinal(correct, attempted, failedOps, reported)
      if (correct) 0 else 1
    } finally {
      spark.stop()
      graft.util.FsUtil.deleteRecursively(a.work)
    }
  }

  /** One request of the traced run, traced or not. */
  final case class TracedOp(n: Long, op: Op, traced: Boolean, request: Span, gcMs: Long, bytesWritten: Long)

  /** The ACL a request resolves to, for timing `Auth` alone. */
  def authenticate(op: Op): AclContext = {
    val filtering = op match {
      case s: SearchOp => s.vis
      case c: CountOp => c.vis
      case _ => DataSetFiltering.Both
    }
    val bodyOrg = op.body.flatMap(b => Option(CatalogModel.mapper.readTree(b).get("orgUUID"))).map(_.asText)
    Auth.authenticate(Some(s"bearer ${op.caller.token}"), verifier,
      Auth.requestedOrgs(op.method, None, bodyOrg), userOrgsOf, filtering)
  }

}
