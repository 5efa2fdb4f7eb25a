package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** One gap-separated user session (event-time bounds at microsecond
  * precision, value sum in exact micro-units).
  */
final case class Session(user_id: Long, session_start: java.sql.Timestamp,
                         session_end: java.sql.Timestamp, n_events: Long,
                         sum_value: java.math.BigDecimal)

/** flatMapGroupsWithState state: the user's still-open sessions. */
final case class OpenSession(startUs: Long, endUs: Long, n: Long, sumMicros: Long)
final case class UserSessions(sessions: Seq[OpenSession])

/** One user's FINALIZED funnel traversal (streaming funnel output). */
final case class FunnelUser(user_id: Long, anchor_ts: java.sql.Timestamp,
                            steps_reached: Int)
/** Streaming-funnel state: the anchor candidate (min step-1 event time so
  * far; MaxValue = none yet), the buffered non-anchor step events still
  * able to qualify, and the finalized tombstone.
  */
final case class PendingStep(us: Long, rank: Int)
final case class FunnelBuf(minViewUs: Long, events: Seq[PendingStep],
                           done: Boolean)

/** One event buffered for streaming session-path mining (e33). */
final case class PathEvent(us: Long, eventId: Long, eventType: String)
/** Streaming session-path state: the user's not-yet-final events. */
final case class PathBuf(events: Seq[PathEvent])
/** One FINALIZED session's ordered path (streaming top-paths output). */
final case class SessionPath(user_id: Long, session_start: java.sql.Timestamp,
                             path: String)

/** Structured-Streaming ingest over the driver's `events` table
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is strictly request/response (its NATS traffic is
  * fire-and-forget output, SURVEY.md §2.8); this is the CDC/metrics ingest
  * path a catalog at scale grows: a file (or Kafka) source, event-time
  * tumbling windows with a watermark bounding state, and idempotent sink
  * semantics via Trigger.AvailableNow for deterministic backfills.
  *
  * At scale the stateful aggregation shuffles on (window, event_type) only;
  * the watermark caps state size — without it, per-window state lives
  * forever (the classic unbounded-state failure).
  */
object EventStream {

  val EventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Normalize the event-time column: long nanosecond epochs (how the
    * driver's parquet reads under nanosAsLong) become microsecond
    * timestamps; TIMESTAMP_NTZ (how a timezone-less `timestamp[us]`
    * parquet column reads under Spark 4's NTZ inference) casts to
    * session-local TIMESTAMP — every session here pins
    * spark.sql.session.timeZone=UTC, so the wall-clock is preserved and
    * the column becomes watermark/window-eligible (event-time operators
    * require TIMESTAMP, not NTZ); real timestamps pass through.
    */
  def withEventTime(events: DataFrame): DataFrame =
    events.schema("ts").dataType match {
      case LongType =>
        // integer `div`, NOT `/`: Divide goes through DOUBLE, and epoch-ns
        // longs (~1.7e18) exceed a double's 53-bit mantissa — the µs value
        // comes back off by one
        events.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType =>
        events.withColumn("ts", col("ts").cast(TimestampType))
      case _ => events
    }

  /** Windowed per-type aggregation of a raw event stream: 1-hour tumbling
    * event-time windows, 1-hour watermark. `sum_value` is summed in
    * DECIMAL(18,6) so the result is exact and associative — double summation
    * order across partitions would otherwise make results run-dependent.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Distinct users per hour window — the DAU-style uniqueness report as a
    * STREAM. Exact distinct aggregation is unsupported inside a streaming
    * aggregate, so this runs the standard exact decomposition: two CHAINED
    * stateful stages under one watermark — a streaming dedup on
    * (window, user_id) collapses repeat activity (state ∝ live
    * (window, user) pairs; the window column carries the event-time
    * attribute, so dedup state evicts once the watermark passes the
    * window), then a windowed count aggregates the survivors. Emission is
    * append-mode: a window finalizes when the watermark passes its end —
    * the e12 oracle encodes exactly that cutoff, the way e7/e9 encode
    * theirs.
    *
    * At 100 TB/day: both stages shuffle on the same (window, user) →
    * (window) keys, state is bounded by live users per watermark horizon
    * (the e2 dimension, measured at 10× users in the decade table), and
    * the alternative — approx_count_distinct — trades this exactness for
    * an HLL sketch when the product tolerates it.
    */
  def windowedUniqueUsers(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .select(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .dropDuplicates("w", "user_id")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("unique_users"))
      .select(col("w.start").as("window_start"), col("unique_users"))

  /** AvailableNow backfill of [[windowedUniqueUsers]] (append mode — the
    * chained-stateful pipeline's only legal output mode).
    */
  def backfillWindowedUniqueUsers(spark: SparkSession, path: String): DataFrame =
    runToMemoryTable(spark, "append")(bf =>
      windowedUniqueUsers(withEventTime(fileStream(bf, stageDir(path)))))

  /** Stream-static enrichment: join each event to a static dimension table
    * before the windowed aggregate. The dim side is broadcast — it ships to
    * every executor once and the stream side never shuffles before the
    * aggregation, which is the only viable plan shape at 100 TB/day ingest
    * (a shuffle join would re-shuffle every micro-batch). The static side is
    * re-read per micro-batch by the engine, so a slowly-changing dimension
    * picks up updates between batches for free.
    */
  def enrichedWindowedCounts(events: DataFrame, dim: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .join(broadcast(dim), Seq("user_id"))
      .groupBy(window(col("ts"), "1 hour"), col("tier"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("tier"),
        col("cnt"), col("sum_value"))

  /** Deterministic user→tier dimension derived from the event log itself
    * (user_id mod 3) — a stand-in for a real profile/entitlement table with
    * the same join shape.
    */
  def userTiers(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).select(col("user_id")).distinct()
      .select(col("user_id"),
        concat(lit("tier"), pmod(col("user_id"), lit(3L))).as("tier"))

  /** Deterministic backfill of the enrichment join (file stream →
    * AvailableNow → memory sink, complete mode emits every window).
    */
  def backfillEnrichedCounts(spark: SparkSession, path: String): DataFrame =
    runToMemoryTable(spark, "complete")(bf =>
      enrichedWindowedCounts(withEventTime(fileStream(bf, stageDir(path))),
        userTiers(bf, path)))

  // ------------------------------------------------ custom state: sessions

  private def tsMicros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Microsecond-precise Timestamp (the bare ms constructor drops micros). */
  private def usToTimestamp(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(us / 1000L)
    t.setNanos(((us % 1000000L) * 1000L).toInt)
    t
  }

  private def toMicroUnits(v: Double): Long =
    new java.math.BigDecimal(v).setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  /** Gap-based sessionization with custom streaming state
    * (`flatMapGroupsWithState` + event-time timeout): per user, events closer
    * than `gap` merge into one session; a session is emitted exactly once,
    * when the watermark passes session_end + gap (no earlier — a late event
    * inside the horizon can still extend it). State per user is its open
    * sessions only; the watermark bounds both state size and emission lag.
    *
    * Deterministic by construction: event-time logic only, value sums in
    * exact micro-units, and emission depends on the watermark, not arrival
    * order.
    */
  def sessionize(spark: SparkSession, events: DataFrame,
                 gapMs: Long = 6L * 3600 * 1000,
                 delay: String = "1 hour"): Dataset[Session] = {
    import spark.implicits._

    def merge(open: List[OpenSession], evs: Seq[(Long, Double)]): List[OpenSession] = {
      val all = open ++ evs.map { case (us, v) => OpenSession(us, us, 1L, toMicroUnits(v)) }
      // gap compares in FLOORED milliseconds (matching epoch_ms arithmetic
      // and the watermark's ms granularity), not raw microseconds
      all.sortBy(s => (s.startUs, s.endUs, s.sumMicros)).foldLeft(List.empty[OpenSession]) {
        case (prev :: rest, cur) if cur.startUs / 1000L - prev.endUs / 1000L <= gapMs =>
          OpenSession(prev.startUs, math.max(prev.endUs, cur.endUs),
            prev.n + cur.n, prev.sumMicros + cur.sumMicros) :: rest
        case (acc, cur) => cur :: acc
      }.reverse
    }

    def emitAndPark(open: List[OpenSession], uid: Long,
                    state: GroupState[UserSessions]): Iterator[Session] = {
      val wmMs = state.getCurrentWatermarkMs()
      val (closed, stillOpen) = open.partition(s => s.endUs / 1000L + gapMs <= wmMs)
      if (stillOpen.isEmpty) { if (state.exists) state.remove() }
      else {
        state.update(UserSessions(stillOpen))
        // earliest instant any open session can close, clamped strictly
        // above the watermark
        state.setTimeoutTimestamp(
          math.max(stillOpen.map(_.endUs / 1000L + gapMs).min, wmMs + 1L))
      }
      closed.sortBy(_.startUs).iterator.map(s =>
        Session(uid, usToTimestamp(s.startUs), usToTimestamp(s.endUs), s.n,
          java.math.BigDecimal.valueOf(s.sumMicros).movePointLeft(6)))
    }

    withEventTime(events)
      .select(col("user_id"), col("ts"), col("value"))
      .withWatermark("ts", delay)
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[UserSessions, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid, rows, state) =>
          val open = if (state.exists) state.get.sessions.toList else Nil
          val evs = rows.map(r => (tsMicros(r._2), r._3)).toSeq.sortBy(identity)
          emitAndPark(merge(open, evs), uid, state)
      }
  }

  /** STREAMING funnel — the j9 batch funnel's real-time sibling, built on
    * the e2 sessionization discipline: per user, step events BUFFER in
    * `flatMapGroupsWithState` state until the watermark proves the
    * funnel FINAL, then the buffered window replays the batch
    * qualification chain exactly and emits one `FunnelUser` row. A
    * user's funnel is final once the watermark passes
    * `anchor + horizon`: every event that could still qualify lies at or
    * before that instant and is now either buffered or late-dropped, and
    * no earlier anchor can appear (a step-1 event below the current
    * anchor would have to arrive with event time under the watermark).
    *
    * State is BOUNDED per user by the same argument, and pruned on every
    * batch: anchored users keep only events inside
    * `[anchor, anchor + horizon]` plus events still above the watermark
    * (those could re-qualify under a future EARLIER anchor, which is
    * only possible while such an anchor's event time would clear the
    * watermark); un-anchored users keep only events above the watermark
    * (qualification needs an anchor at-or-before the event, and that
    * anchor can now only arrive above the watermark). Step-1 events
    * never buffer at all — only their running MIN matters, one long.
    * State is also bounded ACROSS users: an un-anchored user whose
    * buffer prunes empty is REMOVED outright (the default state
    * reconstructs identically if they reappear — exact), with an
    * event-time timeout at their newest buffered event guaranteeing the
    * prune fires even if no new events arrive.
    *
    * Finalized users leave a tombstone (empty buffer) so a LATER
    * step-1 event — which batch semantics must ignore, the funnel
    * anchors at the FIRST view ever — cannot start a second funnel.
    * (In-horizon duplicates are already below the watermark and
    * late-dropped; the tombstone guards genuinely new future views.)
    * Tombstones are the one per-user residue that is exact only if kept
    * forever; `tombstoneTtlMicros` bounds them for live deployments:
    * after the watermark passes finalization + ttl the tombstone is
    * dropped, accepting the standard funnel-analytics deviation that a
    * user re-appearing beyond the ttl starts a fresh funnel. The
    * default (Long.MaxValue) keeps exact batch parity.
    *
    * Exactness against the batch funnel (spec-pinned, including
    * out-of-order delivery): processing the buffer in (ts, step-rank)
    * order with the final anchor reproduces the batch chain's running
    * minima — any event with a step-1 event at-or-before it sees the
    * same anchor the batch's cumulative window saw, because later
    * step-1 events only ever carry LARGER event times than the prefix's
    * min. Trailing users (anchor + horizon at-or-beyond the final
    * watermark) stay in state, exactly the live-stream semantics — the
    * e17 oracle encodes the cutoff ms-exact.
    */
  def streamFunnel(spark: SparkSession, events: DataFrame, steps: Seq[String],
                   horizonMicros: Long, delay: String = "1 hour",
                   tombstoneTtlMicros: Long = Long.MaxValue): Dataset[FunnelUser] = {
    import spark.implicits._
    require(steps.size >= 2, s"a funnel needs at least 2 steps: $steps")
    require(steps.distinct.size == steps.size, s"duplicate funnel steps: $steps")
    require(horizonMicros > 0, s"horizonMicros must be positive: $horizonMicros")
    val rankOf = steps.zipWithIndex.toMap
    val nSteps = steps.size

    def replayChain(anchor: Long, evs: Seq[PendingStep]): Int = {
      val q = Array.fill[Long](nSteps)(Long.MaxValue)
      q(0) = anchor
      evs.sortBy(e => (e.us, e.rank)).foreach { e =>
        if (e.rank >= 1) {
          val prev = q(e.rank - 1)
          if (prev != Long.MaxValue && e.us >= prev &&
              e.us - q(0) <= horizonMicros && e.us < q(e.rank))
            q(e.rank) = e.us
        }
      }
      q.takeWhile(_ != Long.MaxValue).length
    }

    withEventTime(events)
      .where(col("event_type").isin(steps: _*))
      .select(col("user_id"), col("ts"), col("event_type"))
      .withWatermark("ts", delay)
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelBuf, FunnelUser](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid, rows, state) =>
          val st0 = if (state.exists) state.get
                    else FunnelBuf(Long.MaxValue, Nil, done = false)
          if (st0.done) {
            // tombstone: funnel already reported. A ttl timeout firing
            // here retires it (bounded state across users); any other
            // visit (a late new view) keeps it parked.
            if (state.hasTimedOut) state.remove()
            Iterator.empty
          } else {
            val incoming = rows.map(r => PendingStep(tsMicros(r._2), rankOf(r._3))).toSeq
            val anchor = (incoming.filter(_.rank == 0).map(_.us) :+ st0.minViewUs).min
            val wmMs = state.getCurrentWatermarkMs()
            val kept = (st0.events ++ incoming.filter(_.rank > 0)).distinct.filter { e =>
              if (anchor != Long.MaxValue)
                (e.us >= anchor && e.us - anchor <= horizonMicros) ||
                  (e.us < anchor && e.us / 1000L >= wmMs)
              else e.us / 1000L >= wmMs
            }
            if (anchor != Long.MaxValue && wmMs > (anchor + horizonMicros) / 1000L) {
              state.update(FunnelBuf(anchor, Nil, done = true))
              if (tombstoneTtlMicros != Long.MaxValue)
                state.setTimeoutTimestamp(wmMs + tombstoneTtlMicros / 1000L + 1L)
              Iterator.single(
                FunnelUser(uid, usToTimestamp(anchor), replayChain(anchor, kept)))
            } else if (anchor == Long.MaxValue && kept.isEmpty) {
              // nothing buffered and no anchor: the default state
              // reconstructs this user identically — drop them outright
              if (state.exists) state.remove()
              Iterator.empty
            } else {
              state.update(FunnelBuf(anchor, kept, done = false))
              if (anchor != Long.MaxValue)
                state.setTimeoutTimestamp(
                  math.max((anchor + horizonMicros) / 1000L + 1L, wmMs + 1L))
              else
                // un-anchored: once the watermark passes the newest
                // buffered event, everything prunes and the state
                // removes — fire a visit then even if no events arrive
                state.setTimeoutTimestamp(
                  math.max(kept.map(_.us).max / 1000L + 1L, wmMs + 1L))
              Iterator.empty
            }
          }
      }
  }

  /** STREAMING top-paths substrate — j16's session-path mining kept
    * current by ingest (the e17 buffer-until-final discipline applied to
    * whole sessions): per user, events buffer in
    * `flatMapGroupsWithState` state; each batch re-sorts the buffer by
    * (event time µs, event_id) and re-splits it at strict >`gapMicros`
    * breaks (j16's boundary rule VERBATIM — re-splitting the whole
    * buffer each batch is what makes out-of-order delivery exact: a
    * late in-horizon event that bridges two provisional sessions merges
    * them before anything is emitted); a session is emitted exactly
    * once, when the watermark passes `last event + gap` (any event that
    * could still extend it — including one landing BEFORE its start,
    * which would have to bridge into it — now lies at or below the
    * watermark and is late-dropped; an accepted event can never predate
    * an emitted session, since emission requires the whole session
    * below the watermark). Emission renders the session's first
    * `maxLen` event types as the `a>b>c` path string — the j16 prefix
    * cap.
    *
    * State per user is its OPEN sessions' events only (pruned on every
    * batch, duplicate-delivery-immune via distinct), removed outright
    * when empty; an event-time timeout at the earliest open session's
    * close instant guarantees finalization even on a quiet stream.
    * Stream ≡ batch: the emitted per-session paths feed the SHARED
    * [[graft.operators.EventAnalytics.topPathsFromSessionPaths]]
    * aggregation, so the report is j16's oracle with the e2-style
    * watermark cutoff.
    */
  def streamSessionPaths(spark: SparkSession, events: DataFrame,
                         gapMicros: Long = 1800000000L, maxLen: Int = 12,
                         delay: String = "1 hour"): Dataset[SessionPath] = {
    import spark.implicits._
    require(gapMicros > 0 && maxLen >= 1, s"gap=$gapMicros, maxLen=$maxLen")

    def split(evs: Seq[PathEvent]): List[List[PathEvent]] = {
      val sorted = evs.sortBy(e => (e.us, e.eventId)).toList
      sorted.foldLeft(List.empty[List[PathEvent]]) {
        case ((cur @ (last :: _)) :: done, e) if e.us - last.us <= gapMicros =>
          (e :: cur) :: done // sessions build reversed, newest event first
        case (acc, e) => List(e) :: acc
      }.map(_.reverse).reverse
    }

    withEventTime(events)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withWatermark("ts", delay)
      .as[(Long, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[PathBuf, SessionPath](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid, rows, state) =>
          val st0 = if (state.exists) state.get else PathBuf(Nil)
          val incoming = rows.map(r => PathEvent(tsMicros(r._4), r._2, r._3))
          val sessions = split((st0.events ++ incoming).distinct)
          val wmMs = state.getCurrentWatermarkMs()
          val (closed, open) = sessions.partition(s =>
            (s.last.us + gapMicros) / 1000L < wmMs)
          if (open.isEmpty) { if (state.exists) state.remove() }
          else {
            state.update(PathBuf(open.flatten))
            state.setTimeoutTimestamp(math.max(
              open.map(s => (s.last.us + gapMicros) / 1000L + 1L).min,
              wmMs + 1L))
          }
          closed.sortBy(_.head.us).iterator.map(s => SessionPath(uid,
            usToTimestamp(s.head.us),
            s.take(maxLen).map(_.eventType).mkString(">")))
      }
  }

  /** Deterministic top-paths backfill: file stream → AvailableNow; the
    * finalized per-session paths of [[streamSessionPaths]] as a DataFrame
    * (trailing open sessions stay in state — live-stream semantics).
    */
  def backfillSessionPaths(spark: SparkSession, path: String,
                           gapMicros: Long = 1800000000L,
                           maxLen: Int = 12): DataFrame =
    runToMemoryTableWithPeak(spark, "append")(bf =>
      streamSessionPaths(bf, fileStream(bf, stageDir(path)), gapMicros,
        maxLen).toDF())._1

  /** Deterministic streaming-funnel backfill: file stream → AvailableNow. */
  def backfillFunnelUsers(spark: SparkSession, path: String, steps: Seq[String],
                          horizonMicros: Long, delay: String = "1 hour",
                          tombstoneTtlMicros: Long = Long.MaxValue): DataFrame =
    runToMemoryTableWithPeak(spark, "append")(bf =>
      streamFunnel(bf, fileStream(bf, stageDir(path)), steps, horizonMicros,
        delay, tombstoneTtlMicros).toDF())._1

  /** Deterministic sessionization backfill: file stream → AvailableNow.
    * Trailing sessions (end + gap beyond the final watermark) stay in state —
    * exactly the live-stream semantics, and still deterministic for a fixed
    * input.
    */
  def backfillSessions(spark: SparkSession, path: String,
                       gapMs: Long = 6L * 3600 * 1000): DataFrame =
    backfillSessionsWithPeak(spark, path, gapMs)._1

  /** [[backfillSessions]] plus the run's peak state footprint — the scale
    * probe's evidence dimension: session state is ∝ LIVE users inside the
    * watermark horizon, so a 10× corpus costs ~10× state rows while the
    * windowed aggregate's state stays constant (∝ windows × types).
    */
  def backfillSessionsWithPeak(spark: SparkSession, path: String,
                               gapMs: Long = 6L * 3600 * 1000): (DataFrame, StatePeak) =
    runToMemoryTableWithPeak(spark, "append")(bf =>
      sessionize(bf, fileStream(bf, stageDir(path)), gapMs).toDF())

  /** Gap sessionization via Spark's NATIVE `session_window` — the
    * preference-order twin of [[sessionize]]: where the custom
    * flatMapGroupsWithState operator exists to own its exact emission and
    * merge semantics, this one lets the engine's built-in session-window
    * state store do the merging (dynamic gap windows, watermark-driven
    * eviction, no user state code). Boundary semantics, measured and
    * spec-pinned: sessions merge INCLUSIVELY at microsecond grain — an
    * event exactly `gap` after the previous one still merges (Spark merges
    * windows whose ranges touch), one microsecond more splits — and a
    * finalized window emits once the watermark passes its end (last event
    * + gap). [[sessionize]] makes the same comparisons at FLOORED-ms grain
    * (matching its ms watermark bookkeeping), so with sub-ms event times
    * the two differ inside the sub-ms band around the boundary; the e9
    * oracle encodes the native µs-exact semantics so each formulation is
    * independently checked rather than bent to the other's boundaries.
    *
    * Output matches [[sessionize]]'s shape: `session_end` is the LAST
    * EVENT time (window end minus the gap), sums in exact DECIMAL.
    */
  def nativeSessionCounts(events: DataFrame, gap: String = "6 hours",
                          delay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        (col("session_window.end") - expr(s"INTERVAL $gap")).as("session_end"),
        col("n_events"), col("sum_value"))

  /** Deterministic native-session backfill (file stream → AvailableNow). */
  def backfillNativeSessions(spark: SparkSession, path: String): DataFrame =
    runToMemoryTable(spark, "append")(bf =>
      nativeSessionCounts(withEventTime(fileStream(bf, stageDir(path)))))

  /** Streaming exact dedup: drop duplicate event_ids within the watermark
    * horizon (`dropDuplicatesWithinWatermark` — state holds only ids inside
    * the horizon, so it is bounded at 100 TB/day ingest; a plain streaming
    * dropDuplicates would keep every id ever seen in state forever).
    *
    * The backfill stages the input file TWICE behind the source dir, so every
    * event arrives as a true duplicate and the operator must reconstruct
    * exactly the original table — which makes the result oracle-checkable
    * against a plain batch read.
    */
  def backfillStreamDedup(spark: SparkSession, path: String): DataFrame =
    runToMemoryTable(spark, "append")(bf =>
      withEventTime(fileStream(bf, stageDir(path, copies = 2)))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("event_id"))

  /** Stream-stream interval join: click→purchase attribution — each purchase
    * joins to the same user's clicks in the preceding hour. Both sides carry
    * watermarks and the join condition bounds event-time distance, so state
    * on BOTH sides is evicted as the watermark advances (clicks older than
    * watermark − 1 h can never match again); without the interval bound a
    * stream-stream join's state grows forever. State shuffles on user_id
    * only — the natural key — and the match work is per-user-bucket, never
    * a cross of the streams.
    */
  def attributionJoin(events: DataFrame, horizon: String = "1 hour",
                      joinType: String = "inner"): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", horizon)
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", horizon)
    clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $horizon"),
        joinType)
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))
  }

  /** Deterministic attribution backfill (file stream → AvailableNow). */
  def backfillAttribution(spark: SparkSession, path: String): DataFrame =
    runToMemoryTable(spark, "append")(bf =>
      attributionJoin(withEventTime(fileStream(bf, stageDir(path)))))

  /** LEFT OUTER attribution: matched pairs stream out as in the inner
    * join; an UNMATCHED click emits (click, null) only once the global
    * watermark proves no in-horizon purchase can still arrive — i.e. when
    * `click_ts + horizon` falls behind the watermark (= max event time −
    * horizon). Clicks younger than that stay in state and are clipped
    * from a bounded backfill, exactly as a live outer join would hold
    * them; the e7 oracle encodes the same cutoff. State is bounded by the
    * horizon on both sides — the null-side emission adds eviction timing,
    * not extra state.
    */
  def backfillAttributionOuter(spark: SparkSession, path: String): DataFrame =
    runToMemoryTable(spark, "append")(bf =>
      attributionJoin(withEventTime(fileStream(bf, stageDir(path))),
        joinType = "left_outer"))

  /** File stream with the schema inferred from a batch read of the same
    * files (the driver's parquet encodes ts as nanosecond INT64, read as
    * long nanos under spark.sql.legacy.parquet.nanosAsLong — a hand-declared
    * TimestampType would mis-read it). `oneFilePerTrigger` caps each
    * micro-batch at one file, so a landing dir of n files runs the real
    * n-batch path, not one AvailableNow gulp.
    */
  private def fileStream(spark: SparkSession, dir: String,
                         oneFilePerTrigger: Boolean = false): DataFrame = {
    val reader = spark.readStream.schema(spark.read.parquet(dir).schema)
    (if (oneFilePerTrigger) reader.option("maxFilesPerTrigger", 1) else reader).parquet(dir)
  }

  /** State-store partition count for bounded backfills. A streaming query
    * instantiates (and checkpoints) one state store per shuffle partition
    * per stateful operator — a per-query decision Spark pins at first run,
    * NOT a data-scaling knob inherited from the session's core count. A
    * live 100 TB/day stream sizes this to its keyspace (hundreds+); a
    * bounded backfill over ≤10⁷ events is dominated by store
    * instantiation, so the harness plans fewer, wider stores. Results are
    * partition-count-independent (decimal sums, exact state semantics) —
    * the verify oracles gate that.
    */
  val BackfillStatePartitions = 8

  /** [[graft.GraftSession.isolated]] clone of the caller's session with
    * `spark.sql.shuffle.partitions` lowered to [[BackfillStatePartitions]].
    */
  private def backfillSession(spark: SparkSession): SparkSession =
    graft.GraftSession.isolated(spark,
      "spark.sql.shuffle.partitions" -> BackfillStatePartitions.toString)

  /** Drain the files in `srcDir` on `session`, one file per micro-batch
    * (Trigger.AvailableNow), handing each batch and its id to `each`. The
    * checkpoint at `checkpoint` records the committed files, so a re-run
    * processes only files that arrived since. A batch that throws stops
    * the query: the error propagates out of this call, and the batches
    * before it stay committed.
    */
  private def drainFiles(session: SparkSession, srcDir: String, checkpoint: String)(
      each: (DataFrame, Long) => Unit): Unit =
    fileStream(session, srcDir, oneFilePerTrigger = true).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(each)
      .trigger(Trigger.AvailableNow()).start()
      .awaitTermination()

  /** A micro-batch sink that writes `fold` of the batch to `dir/batch=<id>`
    * with overwrite: a replayed batch rewrites its previous attempt instead
    * of appending duplicates. This is the idempotent layout
    * [[readDeltaLog]] and [[compactBatchLog]] read.
    */
  private def batchLog(dir: String)(fold: DataFrame => DataFrame): (DataFrame, Long) => Unit =
    (batch, batchId) => fold(batch).write.mode("overwrite").parquet(s"$dir/batch=$batchId")

  /** Peak state-operator footprint across a backfill's micro-batches — the
    * evidence that streaming state is bounded by the watermark, not by
    * input volume: `rows` is the max total rows held in any state store
    * snapshot, `bytes` the max reported state memory. Captured from the
    * engine's own StreamingQueryProgress, so the numbers are the state the
    * store actually carried, not a model of it.
    */
  final case class StatePeak(rows: Long, bytes: Long)

  private def statePeak(progresses: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): StatePeak = {
    val per = progresses.flatMap(_.stateOperators.toSeq)
    StatePeak(
      if (per.isEmpty) 0L else per.map(_.numRowsTotal).max,
      if (per.isEmpty) 0L else per.map(_.memoryUsedBytes).max)
  }

  private def runToMemoryTable(spark: SparkSession, mode: String)(
      mk: SparkSession => DataFrame): DataFrame =
    runToMemoryTableWithPeak(spark, mode)(mk)._1

  /** Run a streaming frame to completion (Trigger.AvailableNow) into a
    * uniquely-named memory sink and return the sink table — the shared
    * deterministic-backfill harness of every operator here. The stream is
    * BUILT AND RUN on an isolated clone of the caller's session
    * (`newSession()`: same SparkContext, private SQL conf + catalog) with
    * `spark.sql.shuffle.partitions` lowered to [[BackfillStatePartitions]]
    * there — the caller's session is never mutated, so concurrent queries
    * on it keep planning with their own conf and concurrent backfills
    * cannot interleave restores (the earlier save/restore-on-the-shared-
    * session design had both hazards). The clone inherits every settable
    * session conf first, so the backfill plans under the caller's semantics
    * (timezone, legacy parquet nanos, AQE flags) apart from the one
    * deliberate override.
    */
  private def runToMemoryTableWithPeak(spark: SparkSession, mode: String)(
      mk: SparkSession => DataFrame): (DataFrame, StatePeak) = {
    val bf = backfillSession(spark)
    val name = "graft_bf_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = mk(bf).writeStream.format("memory").queryName(name)
      .outputMode(mode).trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val peak = statePeak(q.recentProgress.toSeq)
    // Snapshot the sink eagerly (the lineage cut materializes the rows and
    // severs the plan from the memory sink), then release the query and drop
    // its temp view — without this every backfill leaks a driver-held result
    // table for the life of the session. LineageCut.cut picks a reliable
    // checkpoint when the context has a checkpoint dir (cluster-safe: the
    // snapshot must outlive any executor), localCheckpoint otherwise.
    val out = graft.util.LineageCut.cut(bf.table(name))
    q.stop()
    bf.catalog.dropTempView(name)
    (out, peak)
  }

  /** Stage a single parquet file behind a temp dir (FileStreamSource wants a
    * directory); `copies` > 1 links the file multiple times to simulate
    * duplicate delivery.
    */
  private def stageDir(path: String, copies: Int = 1): String = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.isRegularFile(p) || copies > 1) {
      val d = java.nio.file.Files.createTempDirectory("graft-stream")
      val files =
        if (java.nio.file.Files.isRegularFile(p)) Seq(p)
        else graft.util.FsUtil.listDir(p)(
          _.toSeq.filter(_.getFileName.toString.endsWith(".parquet")))
      for (f <- files; i <- 1 to copies)
        java.nio.file.Files.createSymbolicLink(
          d.resolve(s"copy$i-${f.getFileName}"), f)
      d.toString
    } else path
  }

  /** Deterministic batch backfill through the *streaming* engine: read the
    * parquet events as a file stream, run the windowed aggregation to a
    * memory sink with Trigger.AvailableNow, and return the final table.
    * Complete output mode emits every window (nothing is lost to the final
    * watermark, which is what an append-mode backfill would clip).
    */
  def backfillWindowedCounts(spark: SparkSession, path: String): DataFrame =
    backfillWindowedCountsWithPeak(spark, path)._1

  /** [[backfillWindowedCounts]] plus the run's peak state footprint (see
    * [[backfillSessionsWithPeak]] — here state is ∝ windows × types,
    * invariant in corpus size).
    */
  def backfillWindowedCountsWithPeak(spark: SparkSession, path: String): (DataFrame, StatePeak) =
    runToMemoryTableWithPeak(spark, "complete")(bf =>
      windowedCounts(withEventTime(fileStream(bf, stageDir(path)))))

  /** The same windowed aggregation ingesting a JSONL event feed — the shape
    * a live deployment actually tails (appenders drop line-delimited JSON
    * into a directory, FileStreamSource picks new files up per micro-batch).
    * The parquet events are staged out as JSONL first (epoch-ns `ts` longs
    * survive JSON exactly; [[withEventTime]] normalizes them), then streamed
    * with an explicit schema. Results must equal the parquet path's
    * bit-for-bit — same oracle as `e1`.
    */
  def backfillWindowedCountsJsonl(spark: SparkSession, path: String): DataFrame = {
    val batch = spark.read.parquet(path)
    val staged = java.nio.file.Files.createTempDirectory("graft-jsonl-events").toString + "/events"
    graft.sources.Jsonl.write(batch, staged)
    runToMemoryTable(spark, "complete")(bf =>
      windowedCounts(withEventTime(
        graft.sources.Jsonl.readStream(bf, staged, batch.schema))))
  }

  /** Incremental ingest ACROSS invocations — the landing-directory pattern
    * every large-scale pipeline runs on a schedule: files accrete in
    * `srcDir`; each call runs the checkpointed file stream with
    * Trigger.AvailableNow and exits. The checkpoint's source log records
    * which input files prior runs committed, so a new invocation lists,
    * processes, and writes ONLY the files that arrived since — re-running
    * against an unchanged directory is a no-op (spec-pinned: per-run input
    * rows are |new files' rows|, then 0). The parquet sink's own
    * transaction log (`_spark_metadata`) gives exactly-once output: a
    * batch read of `sinkDir` sees each committed file once, and a crashed
    * run's orphan files are invisible.
    *
    * At 100 TB this is the bronze-layer ingest shape: cost per run is
    * proportional to NEW data only (the history is never re-listed beyond
    * the file-log compaction, never re-read), state is just the file log,
    * and the sink stays append-only. The same checkpoint contract carries
    * any streaming transform (windowed aggregates resume their state store
    * the same way); the ingest here applies the event-time normalization
    * and nothing else, deliberately — transform-specific entries already
    * cover the stateful shapes.
    *
    * Runs on an isolated session clone (same rationale as
    * [[runToMemoryTableWithPeak]]). Returns the engine-reported input-row
    * count of THIS run.
    */
  def incrementalIngest(spark: SparkSession, srcDir: String, sinkDir: String,
                        checkpointDir: String): Long = {
    val q = withEventTime(fileStream(backfillSession(spark), srcDir))
      .writeStream.format("parquet")
      .option("path", sinkDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    q.recentProgress.toSeq.map(_.numInputRows).sum
  }

  /** Streaming catalog ingest — the reference's message-driven metadata
    * flow (NATS "platform.ingestion-pipeline" events feeding catalog PUTs,
    * reference: notifier.py:45-63, app.py:101-109) re-expressed as
    * Structured Streaming into the versioned [[graft.store.MetadataStore]].
    *
    * `netEntries` is the caller's per-micro-batch reduction: it SHOULD
    * collapse the batch distributedly to its net change set (the latest
    * event per entry id — a window rank or max-by per key) so each
    * micro-batch commits catalog-metadata-scale net rows. The reduced batch
    * lands through the store's DISTRIBUTED
    * [[graft.store.MetadataStore.upsertAll(batch:org\.apache\.spark\.sql\.Dataset[graft\.model\.MetadataEntry])*]]
    * — one executor-side delta write + one pointer swap per micro-batch,
    * with NO driver materialization anywhere on the path (event-scale rows
    * never cross the driver even if a caller skips the reduction; the
    * store's latest-per-id dedupe then resolves the batch executor-side).
    * Commit count scales with micro-batches, not events, and duplicate
    * delivery converges because upserts are idempotent by content — a
    * replayed batch re-commits the same net rows.
    *
    * File-stream batches arrive in file order; out-of-order delivery
    * ACROSS batches (a late file carrying older events) would need a
    * compare-on-version upsert guard, which the store's optimistic commit
    * protocol leaves to the caller — same contract as the reference, whose
    * ingestion pipeline delivers per-dataset updates in order.
    */
  def streamIngestToStore(spark: SparkSession, path: String,
                          store: graft.store.MetadataStore)(
      netEntries: DataFrame => Dataset[graft.model.MetadataEntry]): Unit = {
    val events = withEventTime(fileStream(spark, stageDir(path)))
    val q = events.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        store.upsertAll(netEntries(batch))
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** STREAMING SCD2 history maintenance — the s20/s21 maintenance loop
    * driven by an ingest stream (the symmetry e19 : t22 :: this : s21):
    * each micro-batch commits its net entries to the versioned store
    * ([[streamIngestToStore]]'s contract) and then advances the PERSISTED
    * bucket-partitioned history by exactly the change window that commit
    * produced — `refreshHistoryPartitions` rewrites only the changed ids'
    * buckets, so per-batch cost is ∝ the batch, never the history's bulk,
    * and no state store exists: the store's LOG is the state.
    *
    * Replay-robust rather than replay-invisible: foreachBatch is
    * at-least-once, and a replayed batch re-commits content-identical
    * rows as a NEW store version, which the maintained history records as
    * a close-and-reopen of identical images — exactly what a fresh
    * `history()` rebuild of the same log shows. The maintained ≡ rebuilt
    * invariant (the e22 gate) therefore holds under every
    * replay/batch-boundary schedule; the version timeline simply tells
    * the truth about duplicate delivery. The window for each advance is
    * re-captured per attempt (`versionHistory` max before the commit), so
    * a replayed advance folds the replayed commit's own window, and
    * within one attempt the refresh itself is idempotent (the
    * `valid_from < change_version` guard).
    */
  def streamHistoryMaintenance(spark: SparkSession, srcDir: String,
                               store: graft.store.MetadataStore,
                               histPath: String, nBuckets: Int)(
      netEntries: DataFrame => Dataset[graft.model.MetadataEntry]): Unit =
    drainFiles(backfillSession(spark), srcDir, s"$histPath/_checkpoint") { (batch, _) =>
      val v0 = store.versionHistory().map(_.version).maxOption.getOrElse(0L)
      store.upsertAll(netEntries(batch))
      graft.store.MetadataStore.refreshHistoryPartitions(
        spark, histPath, store.changesBetween(v0), nBuckets)
    }

  /** STREAMING takedown queue — compliance notices drained continuously
    * against a DELIVERED [[graft.operators.Pipeline.shardExport]] corpus:
    * each micro-batch of notice rows (`doc_id`) is collected (a notice
    * batch is request-scale by nature) and applied through
    * [[graft.operators.Pipeline.purgeShardExport]], so per-batch cost is
    * the batch's touched shards, never the corpus. Exactly-once comes
    * free from the purge's own semantics: re-purging an already-purged
    * id removes zero rows, so foreachBatch's at-least-once replay
    * converges with no batch-directory bookkeeping — the idempotence
    * lives in the OPERATION, not the sink layout (contrast e15's
    * per-batch-directory rule, needed there because appends are not
    * idempotent). Returns the total number of documents removed.
    */
  def streamTakedownQueue(spark: SparkSession, noticeDir: String,
                          exportDir: String, shards: Int): Long = {
    val removed = new java.util.concurrent.atomic.AtomicLong(0L)
    drainFiles(backfillSession(spark), noticeDir, s"$exportDir/_takedown_checkpoint") {
      (batch, _) =>
        val ids = batch.select(col("doc_id")).distinct()
          .collect().map(_.getLong(0)).toSeq
        removed.addAndGet(
          graft.operators.Pipeline.purgeShardExport(spark, exportDir, ids, shards))
    }
    removed.get()
  }

  /** Streaming VALIDATED ingest — the [[graft.operators.Quality]]
    * constraint gate applied at the pipeline's front door: each
    * micro-batch splits on a caller-supplied violation predicate, good
    * rows land under `outDir/good/`, violating rows under
    * `outDir/quarantine/` (the x7 dirty-corpus discipline, applied
    * in-flight instead of at read time — bad rows are never silently
    * dropped, they are routed for audit). The split is NULL-SAFE: a row
    * where the predicate evaluates to null — a null value under a
    * comparison, the classic dirty-data shape — counts as violating and
    * is quarantined, so every input row lands in exactly one sink.
    * Returns (nGood, nQuarantined) read back from the sinks.
    *
    * Exactly-once despite foreachBatch's at-least-once contract: each
    * batch writes to its OWN `batch=<id>/` directory with overwrite, so a
    * replayed batch overwrites its previous attempt byte-for-byte instead
    * of appending duplicates — the idempotent-per-batch-directory pattern.
    * The batch is localCheckpoint-free: the predicate split recomputes the
    * batch twice (two narrow file scans), cheaper at any scale than
    * persisting event-width rows. [[drainFiles]] runs one micro-batch per
    * file, so the real multi-batch path runs (the e11 discipline).
    */
  def validatedIngest(spark: SparkSession, srcDir: String, outDir: String,
                      bad: org.apache.spark.sql.Column): (Long, Long) = {
    val bf = backfillSession(spark)
    // null-safe split: a row where the violation predicate evaluates to
    // NULL (a null value under `value < 0` — the classic dirty-data
    // case this gate exists for) must be QUARANTINED, not lost — a
    // plain where(!bad)/where(bad) pair excludes null-evaluating rows
    // from BOTH sinks
    val isBad = coalesce(bad, lit(true))
    val good = batchLog(s"$outDir/good")(_.where(!isBad))
    val quarantine = batchLog(s"$outDir/quarantine")(_.where(isBad))
    drainFiles(bf, srcDir, s"$outDir/_checkpoint") { (batch, batchId) =>
      good(batch, batchId)
      quarantine(batch, batchId)
    }
    def countOf(sub: String): Long =
      try bf.read.parquet(s"$outDir/$sub").count()
      catch { case scala.util.control.NonFatal(_) => 0L } // no violating batch ever wrote
    (countOf("good"), countOf("quarantine"))
  }

  /** Streaming SKETCH-ROLLUP maintenance — the x16 mergeable-fold pattern
    * kept current by the stream itself: each micro-batch folds into
    * per-day HLL sketch rows landed under its OWN `batch=<id>/`
    * directory (idempotent overwrite, the [[validatedIngest]] replay
    * rule), and the persisted rollup is a LOG of batch partials that any
    * range query union-merges on read — mergeability makes compaction
    * optional, not required (HLL union is idempotent/associative, so a
    * day split across ten batches estimates identically to one fold; a
    * duplicate-delivered batch changes nothing). The daily-fold shuffle
    * is per-batch-sized; the rollup stays KB/day/batch.
    */
  def streamSketchFold(spark: SparkSession, srcDir: String, rollupDir: String): Unit =
    drainFiles(backfillSession(spark), srcDir, s"$rollupDir/_checkpoint")(
      batchLog(s"$rollupDir/days")(batch => graft.operators.SketchRollup
        .dailyDistinctSketches(withEventTime(batch), "ts", "user_id")))

  /** Streaming heavy-hitters maintenance — the x19 rollup's statistic
    * kept current by the ingest stream: each micro-batch folds its OWN
    * per-(day, key) count table
    * ([[graft.operators.SketchRollup.dailyKeyCounts]]) into its
    * `batch=<id>/` directory with overwrite — a replayed batch rewrites
    * its previous attempt byte-identically (the e13/e14/e15 rule).
    * Counts are exact and sum-mergeable, so the read side
    * ([[graft.operators.SketchRollup.candidatesFromCountLog]]) re-sums
    * the log in ANY order and prunes ONCE over complete counts — the
    * top-m cut never runs on a partial batch, so the residual
    * certificate stays honest. Log growth is one |batch-days × batch
    * keys| table per batch; aged batches fold into a compacted base by
    * the same re-sum (the e16 discipline — optional by algebra, the
    * statistic is order-free).
    */
  def streamTopKCountFold(spark: SparkSession, srcDir: String,
                          logDir: String): Unit =
    drainFiles(backfillSession(spark), srcDir, s"$logDir/_checkpoint")(
      batchLog(s"$logDir/batches")(batch => graft.operators.SketchRollup
        .dailyKeyCounts(withEventTime(batch), "ts", "user_id")))

  /** Compact the heavy-hitters count log — [[compactIdfDeltaLog]]'s
    * discipline on [[streamTopKCountFold]]'s accretion: fold the existing
    * compact segment plus every batch in `(horizon, upToBatch]` into ONE
    * `batch=-1` segment by the plain (day, key) re-sum — exact longs, so
    * the compacted fold hash-matches the uncompacted fold and a fresh
    * recompute (oracle-gated in e21). Lifecycle, crash rule and
    * `upToBatch` contract: [[compactBatchLog]]. Returns directories
    * folded or swept.
    */
  def compactTopKCountLog(spark: SparkSession, logDir: String,
                          upToBatch: Long): Int =
    compactBatchLog(spark, s"$logDir/batches", logDir, s"$logDir/compact-stage", upToBatch)(
      _.groupBy("day", "key").agg(sum(col("cnt")).as("cnt")))

  /** Streaming IDF-delta maintenance — the q8 scoring statistic kept
    * current by an APPEND-ONLY ingest stream, the way ES's IDF tracks
    * segment flushes: each micro-batch folds its own
    * `(term, d_df, d_n)` delta rows ([[graft.compile.QueryCompiler.idfDeltas]])
    * into its OWN `batch=<id>/` directory with overwrite — a replayed
    * batch rewrites its previous attempt byte-identically (the e13/e14
    * per-batch-directory rule), and because appends retract nothing, a
    * batch's delta is a pure function of the batch alone, so the read
    * side ([[graft.compile.QueryCompiler.idfStatsWithDeltas]]) folds the
    * log in ANY order. The statistic is EXACT, not a sketch, so replay
    * safety comes from the batch-id overwrite, not union idempotence —
    * a duplicate-CONTENT delivery is two real appends here, unlike
    * e14's HLL. Updates/deletes need pre-image retraction and stay on
    * the batch CDC path (`maintainIdfStats`, the q8 entry).
    */
  def streamIdfDeltaFold(spark: SparkSession, srcDir: String, deltaDir: String,
                         terms: Seq[String]): Unit =
    drainFiles(backfillSession(spark), srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(graft.compile.QueryCompiler.idfDeltas(_, terms)))

  /** STREAMING DSIR raw-model maintenance — the e15 discipline applied to
    * the importance-resampling statistic: the TARGET model is frozen (its
    * corpus is a curated reference), but the RAW model tracks ingest, and
    * recomputing it is a corpus scan. Each micro-batch lands its own
    * (feat, d_rc) count table over the frozen vocabulary in an idempotent
    * `batch=<id>/` directory; counts are sum-mergeable, so the read side
    * re-sums the log in ANY order and the folded raw model equals the
    * batch-free recompute EXACTLY (integer counts — no float fold). A
    * replayed batch overwrites its own directory, never duplicates.
    * Per-batch cost is the batch tokenize + a ≤|vocab|-row aggregate;
    * the corpus is never rescanned. The log is a pure per-key sum log —
    * (feat, d_rc) with no per-batch scalar — so [[compactSumLog]] (the
    * e27 machinery, `keyCols = Seq("feat")`, `sumCols = Seq("d_rc")`)
    * folds aged batches when the directory count binds.
    */
  def streamDsirRawFold(spark: SparkSession, srcDir: String, deltaDir: String,
                        vocabFeats: Seq[String]): Unit =
    drainFiles(backfillSession(spark), srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches") { batch =>
        val space = broadcast(batch.sparkSession
          .createDataFrame(batch.sparkSession.sparkContext
              .parallelize(vocabFeats.map(org.apache.spark.sql.Row(_)), 1),
            StructType(Seq(StructField("feat", StringType)))))
        graft.operators.Pipeline.docTokenCounts(batch)
          .join(space, Seq("feat"), "left_semi")
          .groupBy("feat")
          .agg(sum("c").as("d_rc"))
      })

  /** STREAMING classifier scoring — train offline, score ONLINE: every
    * arriving document batch is scored with a FROZEN weight map
    * (TextAnalysis.scoreWithWeightMap — the vocab-bounded literal-map
    * fold, a stateless codegen'd per-row transform), so ingest-time
    * quality gating needs no training dependency, no state store, and no
    * watermark: each micro-batch is independent. Exactly-once by the e15
    * discipline — each batch lands as its own `batch=<id>/` directory via
    * idempotent overwrite, so a replayed batch rewrites the same rows
    * instead of duplicating them. At 100 TB/day the per-batch cost is the
    * batch scan; the weight map ships once per executor.
    */
  def streamClassifierScore(spark: SparkSession, srcDir: String,
                            outDir: String, weights: Map[String, Long]): Unit =
    drainFiles(backfillSession(spark), srcDir, s"$outDir/_checkpoint")(
      batchLog(s"$outDir/batches")(
        graft.operators.TextAnalysis.scoreWithWeightMap(_, weights)))

  /** STREAMING classifier-count maintenance — e15's append-only delta
    * fold applied to the training state (the symmetry t22 : q8 :: this :
    * e15): each arriving document batch lands its own (token, pc, nc)
    * count-delta directory via idempotent overwrite; counts are additive
    * and order-free, so the read side
    * (TextAnalysis.classifierCountsWithDeltas) folds base ∪ deltas into
    * exactly the from-scratch retrain over base ∪ appended. Per-batch
    * cost is the batch tokenize into a vocabulary-scale aggregate; the
    * corpus is never rescanned and no state store exists — the LOG is
    * the state. Aged deltas compact by the e16 argument (the fold is a
    * plain sum; folding a prefix into one segment is associativity).
    */
  def streamClassifierDeltaFold(spark: SparkSession, srcDir: String,
                                deltaDir: String,
                                posMicros: Long = 500000L): Unit =
    drainFiles(backfillSession(spark), srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(
        graft.operators.TextAnalysis.classifierCounts(_, posMicros)))

  /** Read a `batch=<id>`-partitioned delta log COMPACTION-AWARE — generic
    * over the statistic (IDF deltas, heavy-hitter count deltas): the
    * compact segment (the reserved `batch=-1` directory) plus only
    * batches ABOVE the recorded compaction horizon. A batch directory at
    * or below the horizon is a STALE REPLAY — its contribution already
    * lives in the compact segment, and counting it again would double the
    * fold — so the horizon filter is what keeps replay idempotent after
    * compaction: re-delivering a compacted batch recreates its directory,
    * and the reader ignores it.
    */
  def readDeltaLog(spark: SparkSession, logDir: String): DataFrame = {
    val horizon = idfCompactionHorizon(logDir)
    spark.read.parquet(s"$logDir/batches")
      .where(col("batch") > horizon || col("batch") === -1L)
  }

  def readIdfDeltaLog(spark: SparkSession, deltaDir: String): DataFrame =
    readDeltaLog(spark, deltaDir)

  private def idfCompactionHorizon(deltaDir: String): Long = {
    val marker = java.nio.file.Paths.get(deltaDir, "_compacted_up_to")
    if (java.nio.file.Files.exists(marker))
      java.nio.file.Files.readString(marker).trim.toLong
    else -1L
  }

  /** The compaction lifecycle every `batch=<id>` log shares
    * ([[compactIdfDeltaLog]], [[compactTopKCountLog]], [[compactSumLog]],
    * [[compactSignatureIndexLog]]); each supplies only its paths and its
    * `fold`, which maps the slice — the `batch=-1` segment plus every batch
    * in `(horizon, upToBatch]` — to the new segment's rows. In order: read
    * the horizon marker under `markerDir`; list the `batch=` directories of
    * `batchesDir`, splitting stale sub-horizon replays (swept without
    * re-folding) from the batches to fold; stage the fold OUTSIDE
    * `batchesDir`; delete the stale and folded directories and the old
    * segment; promote the staging dir to `batch=-1`; advance the marker;
    * refresh the path's file-status cache.
    *
    * Crash discipline (the ivfCompactSmallFiles rule): the folded segment
    * is fully staged before any delete, so a crash before the deletes
    * leaves the log untouched, and a crash after them leaves the staging
    * copy as the recovery source (re-run the final move). The marker is
    * replaced atomically, so no crash leaves it empty or truncated.
    * Single-writer maintenance op; `upToBatch` must lie BELOW the stream's
    * committed checkpoint offset — the replay protection is the horizon
    * filter plus the checkpoint's guarantee that a replayed batch id
    * re-receives its original content. Returns the number of batch
    * directories folded or swept.
    */
  private def compactBatchLog(spark: SparkSession, batchesDir: String, markerDir: String,
                              staging: String, upToBatch: Long)
                             (fold: DataFrame => DataFrame): Int = {
    val horizon = idfCompactionHorizon(markerDir)
    def batchId(p: java.nio.file.Path): Option[Long] = {
      val n = p.getFileName.toString
      if (n.startsWith("batch=")) scala.util.Try(n.stripPrefix("batch=").toLong).toOption
      else None
    }
    val dirs = graft.util.FsUtil.listDir(java.nio.file.Paths.get(batchesDir))(
      _.flatMap(p => batchId(p).map(p -> _)).toSeq)
    val stale = dirs.filter { case (_, id) => id >= 0 && id <= horizon }
    val folded = dirs.filter { case (_, id) => id > horizon && id <= upToBatch }
    if (folded.isEmpty && stale.isEmpty) return 0
    if (folded.nonEmpty) {
      fold(spark.read.parquet(batchesDir)
          .where((col("batch") > horizon && col("batch") <= upToBatch) ||
            col("batch") === -1L))
        .coalesce(1).write.mode("overwrite").parquet(staging)
    }
    (stale ++ folded).foreach { case (p, _) =>
      graft.util.FsUtil.deleteRecursively(p)
    }
    if (folded.nonEmpty) {
      val segment = java.nio.file.Paths.get(batchesDir, "batch=-1")
      graft.util.FsUtil.deleteRecursively(segment)
      // the staged fold IS the new segment — promote it with one atomic
      // rename (r18) instead of a second read-and-rewrite job; the staging
      // dir was fully written before any delete, so the crash windows are
      // unchanged (single-writer maintenance contract)
      java.nio.file.Files.move(java.nio.file.Paths.get(staging), segment,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      graft.util.FsUtil.atomicWrite(java.nio.file.Paths.get(markerDir, "_compacted_up_to"),
        math.max(horizon, upToBatch).toString)
    }
    spark.catalog.refreshByPath(batchesDir)
    stale.length + folded.length
  }

  /** Compact the IDF delta log — v18's small-file discipline applied to
    * the stats log: [[streamIdfDeltaFold]] accretes one `batch=<id>/`
    * directory per micro-batch forever, and though the fold is order-free
    * (compaction is OPTIONAL by algebra, the e14 argument), the directory
    * count eventually dominates read cost. Folds the existing compact
    * segment plus every batch in `(horizon, upToBatch]` into ONE
    * `batch=-1` segment — per-term `d_df` sums plus the summed row-count
    * contribution, both exact longs, so the compacted fold hash-matches
    * the uncompacted fold and a fresh recompute (oracle-gated in e16).
    * Lifecycle, crash rule and `upToBatch` contract: [[compactBatchLog]].
    * Returns the number of batch directories folded or swept.
    */
  def compactIdfDeltaLog(spark: SparkSession, deltaDir: String,
                         upToBatch: Long): Int =
    compactBatchLog(spark, s"$deltaDir/batches", deltaDir, s"$deltaDir/compact-stage",
        upToBatch) { slice =>
      // per-term membership sums; ONE row-count contribution per source
      // batch (d_n rides every term row of its batch — the batch axis
      // dedupes it), re-attached to every folded term row
      val dDf = slice.groupBy("term").agg(sum("d_df").as("d_df"))
      val dN = slice.select(col("batch"), col("d_n")).distinct()
        .agg(coalesce(sum("d_n"), lit(0L))).head.getLong(0)
      dDf.withColumn("d_n", lit(dN))
    }

  /** Compact a GENERIC per-key sum log — the e16 lifecycle for any delta
    * log whose rows are (keys..., sums...) with no per-batch scalar (the
    * classifier count log's (token, pc, nc) shape): fold the compact
    * segment plus every batch in `(horizon, upToBatch]` into ONE
    * `batch=-1` segment by groupBy(keys).sum(sums) — exact longs, so the
    * compacted fold hash-matches the uncompacted fold. The lifecycle is
    * [[compactBatchLog]]'s, shared with [[compactIdfDeltaLog]] (whose fold
    * re-attaches its per-batch `d_n` scalar) and [[compactTopKCountLog]]
    * (a fixed (day, key) re-sum). Returns directories folded or swept.
    */
  def compactSumLog(spark: SparkSession, deltaDir: String, upToBatch: Long,
                    keyCols: Seq[String], sumCols: Seq[String]): Int =
    compactBatchLog(spark, s"$deltaDir/batches", deltaDir, s"$deltaDir/compact-stage",
        upToBatch)(
      _.groupBy(keyCols.map(col): _*)
        .agg(sum(sumCols.head).as(sumCols.head), sumCols.tail.map(c => sum(c).as(c)): _*))

  /** Horizon-aware read of a streamed signature index ([[streamSignatureIngest]]'s
    * layout: `batch=<id>/` dirs directly under the index root, base and
    * compact segment at `batch=-1`): live batches above the compaction
    * horizon plus the segment — a stale sub-horizon replay directory is
    * ignored, the e16 reader rule.
    */
  def readSignatureIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val horizon = idfCompactionHorizon(indexDir)
    spark.read.parquet(indexDir)
      .where(col("batch") > horizon || col("batch") === -1L)
      .select("doc_id", "sig")
  }

  /** Compact the signature-index batch log — the e16/e21 lifecycle
    * discipline on the THIRD log type: [[streamSignatureIngest]] accretes
    * one directory per micro-batch forever, and signatures fold by PLAIN
    * UNION (rows, not sums — concatenation is trivially order-free, so
    * compaction is optional by algebra and purely physical). Rewrites the
    * base segment plus every batch in `(horizon, upToBatch]` into ONE
    * `batch=-1` segment (row-identical by construction). The staging dir
    * sits beside the index root, since the batches live directly under it.
    * Lifecycle, crash rule and `upToBatch` contract: [[compactBatchLog]].
    * Returns the number of directories folded or swept.
    */
  def compactSignatureIndexLog(spark: SparkSession, indexDir: String,
                               upToBatch: Long): Int =
    compactBatchLog(spark, indexDir, indexDir, s"$indexDir-compact-stage", upToBatch)(
      _.select("doc_id", "sig"))

  /** STREAMING drift-alarm maintenance — the PSI statistic (c8) kept
    * current BY INGEST: each arriving document micro-batch lands its own
    * per-decile quality-bucket counts (the sum-mergeable table behind the
    * PSI family) in an idempotent `batch=<id>/` directory; the read side
    * re-sums the log in ANY order into the corpus's bucket counts and
    * folds PSI against a FROZEN reference corpus's counts — so the drift
    * alarm on a growing corpus costs each batch one narrow score pass
    * plus a ≤`buckets`-row write, never a corpus rescan. Pure per-key sum
    * log ⇒ [[compactSumLog]] (keyCols=bucket, sumCols=d_n) applies
    * verbatim when the directory count binds; [[readDeltaLog]] is the
    * horizon-aware reader.
    */
  def streamQualityBucketFold(spark: SparkSession, srcDir: String,
                              deltaDir: String, buckets: Int = 10): Unit =
    drainFiles(backfillSession(spark), srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(batch => graft.operators.Quality
        .qualityBucketCounts(batch, buckets).withColumnRenamed("n", "d_n")))

  /** STREAMING correlation-moment maintenance — the c15 gate's per-side
    * statistics kept current by ingest, the SUM-log family extended to
    * SECOND moments: each micro-batch lands ONE row of exact
    * DECIMAL(38,0) deltas `(d_m, d_sx, d_sy, d_sxy, d_sxx, d_syy)` — that
    * batch's [[graft.operators.Quality.correlationMoments]] — as an
    * idempotent `batch=<id>/` directory. Counts, sums, and sums of
    * PRODUCTS of exact longs are all Σ-mergeable and order-free, so the
    * read-side re-sum ([[foldMoments]]) rebuilds the side's exact moment
    * row and the SHARED
    * [[graft.operators.Quality.correlationReportFromMoments]] makes
    * stream ≡ batch by construction — correlation drift without ever
    * rescanning the corpus. Per-batch cost: one narrow codegen'd score
    * pass over the batch + a 1-row write. Pure per-key sum log with an
    * EMPTY key set ⇒ [[compactSumLog]] (keyCols = Nil, sumCols = the six
    * deltas) applies for lifecycle unchanged.
    */
  def streamMomentsFold(spark: SparkSession, srcDir: String,
                        deltaDir: String): Unit =
    drainFiles(spark, srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(batch =>
        graft.operators.Quality.correlationMoments(batch)
          .select(col("m").as("d_m"), col("sx").as("d_sx"),
            col("sy").as("d_sy"), col("sxy").as("d_sxy"),
            col("sxx").as("d_sxx"), col("syy").as("d_syy"))))

  /** Order-free exact re-sum of a [[streamMomentsFold]] delta log back to
    * one [[graft.operators.Quality.correlationMoments]]-schema row. An
    * empty batch's row carries d_m = 0 and null product sums — nulls are
    * additive identities under SUM, so replayed or empty batches cannot
    * skew the fold. Types re-pinned DECIMAL(38,0) so the folded row is
    * byte-compatible with the batch aggregate.
    */
  def foldMoments(spark: SparkSession, deltaDir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    readDeltaLog(spark, deltaDir)
      .agg(sum("d_m").cast(d38).as("m"), sum("d_sx").cast(d38).as("sx"),
        sum("d_sy").cast(d38).as("sy"), sum("d_sxy").cast(d38).as("sxy"),
        sum("d_sxx").cast(d38).as("sxx"), sum("d_syy").cast(d38).as("syy"))
  }

  /** STREAMING categorical-count maintenance — the c17 contingency
    * statistic kept current by ingest: each micro-batch lands per-value
    * counts `(category, d_n)` of one snapshot source as an idempotent
    * `batch=<id>/` directory (a pure per-key sum log — the e15/e27
    * discipline; [[compactSumLog]] with keyCols = category applies
    * unchanged). One log per snapshot side; the read-side re-sums each,
    * FULL-OUTER aligns the two into the `(category, a, b)` contingency
    * table (a category absent from one side re-enters as the exact 0 the
    * batch aggregate would produce), and the SHARED
    * [[graft.operators.Quality.chiSquareFromCells]] report makes stream
    * ≡ batch by construction — composition drift without a corpus
    * rescan. Per-batch cost: one narrow projection + a ≤|values|-row
    * write.
    */
  def streamCategoryCountFold(spark: SparkSession, srcDir: String,
                              deltaDir: String, catCol: String): Unit =
    drainFiles(spark, srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(
        _.groupBy(col(catCol).cast("string").as("category"))
          .agg(count(lit(1)).as("d_n"))))

  /** Align two [[streamCategoryCountFold]] logs into the c17 contingency
    * table: order-free exact re-sum per side, FULL OUTER on the value,
    * absent side = 0. */
  def foldContingency(spark: SparkSession, deltaDir1: String,
                      deltaDir2: String): DataFrame = {
    def side(dir: String, name: String): DataFrame = {
      val s = readDeltaLog(spark, dir).groupBy("category")
        .agg(sum("d_n").as(name))
      // same guard as the batch chiSquareDrift: a zero side total has no
      // expected counts — a missing/empty log must fail loudly here, not
      // surface as a silently null-valued chi² report (DIV by n=0)
      require(!s.isEmpty,
        s"foldContingency: side log $dir is empty — no expected counts")
      s
    }
    side(deltaDir1, "a").join(side(deltaDir2, "b"), Seq("category"), "full_outer")
      .select(col("category"),
        coalesce(col("a"), lit(0L)).as("a"),
        coalesce(col("b"), lit(0L)).as("b"))
  }

  /** STREAMING norm-profile maintenance — v27's scale-sanity audit kept
    * current by embedding ingest, and the FIRST log whose row mixes all
    * three mergeable classes at once (counts and the DECIMAL Σ re-SUM,
    * the extremes re-MIN/MAX — the e15 sum / e32 max disciplines in one
    * row): each micro-batch lands ONE
    * [[graft.operators.Similarity.normPartials]] row as an idempotent
    * `batch=<id>/` directory; the read-side
    * [[graft.operators.Similarity.normReport]] over the folded rows
    * equals the batch profile by construction — zero-vector and
    * off-unit-band regressions surface per batch, the corpus never
    * rescanned. Per-batch cost: one narrow aggregate-HOF pass + a
    * 1-row write.
    */
  def streamNormFold(spark: SparkSession, srcDir: String,
                     deltaDir: String): Unit =
    drainFiles(spark, srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(graft.operators.Similarity.normPartials))

  /** STREAMING MERGE feed — a CDC row stream driving
    * [[graft.store.MetadataStore.merge]]'s three arms per micro-batch:
    * each batch of (entry columns + `_delete`) rows lands as ONE atomic
    * mixed-op commit (patch-updates, deletes, inserts together), the
    * upstream-sync shape a catalog mirrors a producer with. Exactly-once
    * comes from the OPERATION's content-idempotence, not sink
    * bookkeeping (the e23 argument): re-merging a replayed batch
    * converges — a patch re-applies to the same image, a delete of a
    * deleted id is not-matched (no-op), an insert of a present id
    * becomes a full-field update to the identical image. Batches whose
    * id sets are disjoint commute, so the final state is batch-order
    * free for a partitioned feed; within a batch the merge's own
    * duplicate-id refusal guards ambiguity. Per-batch cost: one
    * O(|batch|) merge commit.
    */
  def streamMergeFeed(spark: SparkSession, srcDir: String,
                      store: graft.store.MetadataStore): Unit =
    drainFiles(spark, srcDir, s"$srcDir/../_merge_checkpoint") { (batch, _) =>
      if (!batch.isEmpty) store.merge(batch)
    }

  /** STREAMING functional-dependency maintenance — c19's FD audit kept
    * current by ingest: each micro-batch lands its DISTINCT
    * (fd, det, dep) triples ([[graft.operators.Quality.fdTriples]]) as
    * an idempotent `batch=<id>/` SET log (the e31 argument: distinct
    * union is order-free AND duplicate-delivery-immune), and the shared
    * [[graft.operators.Quality.fdReportFromTriples]] over the folded
    * rows equals the batch report by construction — the report is
    * insensitive to cross-batch duplicate triples, so no read-side
    * distinct is even needed. A batch that introduces a NEW branch for
    * a determinant is the batch the violation count moves in; the
    * corpus is never rescanned. Log growth is bounded by the DISTINCT
    * (det, dep) type space per FD, not the row count.
    */
  def streamFdFold(spark: SparkSession, srcDir: String, deltaDir: String,
                   fds: Seq[(String, String)]): Unit =
    drainFiles(spark, srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(graft.operators.Quality.fdTriples(_, fds).distinct()))

  /** STREAMING Benford maintenance — c18's first-digit profile kept
    * current by ingest: each micro-batch lands its per-digit observed
    * counts ([[graft.operators.Quality.benfordDigitCounts]], ≤ 9 rows)
    * as an idempotent `batch=<id>/` directory — a pure keyed sum log,
    * so [[compactSumLog]] (keyCols = digit) applies verbatim — and the
    * shared [[graft.operators.Quality.benfordFromCounts]] over the
    * folded rows equals the batch profile by construction. A source
    * that starts fabricating round numbers shifts the digit mass in its
    * own ingest batches; the corpus is never rescanned. Per-batch cost:
    * one narrow leading-char projection + a ≤9-row write.
    */
  def streamBenfordFold(spark: SparkSession, srcDir: String,
                        deltaDir: String, valueCol: String): Unit =
    drainFiles(spark, srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(
        graft.operators.Quality.benfordDigitCounts(_, valueCol)))

  /** STREAMING encoding-health maintenance — t32's corpus gate kept
    * current by document ingest (the e-family twin discipline): each
    * micro-batch lands ONE [[graft.operators.TextAnalysis.encodingPartials]]
    * row as an idempotent `batch=<id>/` directory — every column an
    * order-free integer sum (the per-doc flag bit is batch-local, so
    * even it merges) — and the read-side
    * [[graft.operators.TextAnalysis.encodingReport]] over the folded
    * rows equals the batch report by construction. A mojibake spike in
    * one ingest batch surfaces that batch, the corpus never rescanned.
    * Per-batch cost: one narrow codegen'd regex-count pass + a 1-row
    * write.
    */
  def streamEncodingFold(spark: SparkSession, srcDir: String,
                         deltaDir: String): Unit =
    drainFiles(spark, srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(graft.operators.TextAnalysis.encodingPartials))

  /** STREAMING daily-count maintenance — the c10/c5 volume statistic kept
    * current by ingest: each micro-batch lands its per-day event counts as
    * an idempotent `batch=<id>/` directory (the e15 rule — replay
    * overwrites its own directory, never duplicates), and the order-free
    * integer re-sum rebuilds the daily table the seasonal/drift monitors
    * read. Per-batch cost: one narrow date projection + a ≤|batch-days|-row
    * write — the corpus is never rescanned to refresh a volume monitor.
    * Pure per-key sum log ⇒ [[compactSumLog]] (keyCols=day, sumCols=d_n)
    * applies verbatim; [[readDeltaLog]] is the horizon-aware reader. The
    * folded table feeds [[graft.operators.Quality.seasonalVolumeFromDaily]]
    * — the report logic is shared verbatim, so stream ≡ batch exactly.
    */
  def streamDailyCountFold(spark: SparkSession, srcDir: String,
                           deltaDir: String): Unit =
    drainFiles(spark, srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(batch =>
        withEventTime(batch)
          .groupBy(to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("d_n"))))

  /** STREAMING freshness maintenance — the c13 recency statistic kept
    * current by ingest, and the fold family's THIRD mergeable-statistic
    * class: beside the SUM logs (counts — e15/e30) and SET logs (distinct
    * pairs — e31), this is a MAX log: each micro-batch lands per-group
    * (row-count, newest-day) partials as an idempotent `batch=<id>/`
    * directory; counts re-SUM and maxima re-MAX, both order-free and (for
    * the max) duplicate-delivery-immune, so the read-side fold rebuilds
    * the exact batch (grp, n, max_day) table and the SHARED
    * [[graft.operators.Quality.freshnessFromGroupMax]] report makes
    * stream ≡ batch by construction. Per-batch cost: one narrow
    * projection + a ≤|groups|-row write.
    */
  def streamFreshnessFold(spark: SparkSession, srcDir: String,
                          deltaDir: String, grpCol: String,
                          tsCol: String): Unit =
    drainFiles(spark, srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(
        _.groupBy(col(grpCol).as("grp"))
          .agg(count(lit(1)).as("d_n"), max(to_date(col(tsCol))).as("max_day"))))

  /** STREAMING (day, user) pair maintenance — the j23 stickiness substrate
    * kept current by ingest, the SET-log family's second member beside the
    * co-view log: each micro-batch lands its within-batch DISTINCT
    * `(day, user_id)` pairs as an idempotent `batch=<id>/` directory.
    * Distinct pairs are a SET — union across batches is order-free and
    * duplicate-delivery-immune (the e31/e14 argument), so the read-side
    * distinct-union rebuilds the exact batch pair table and the SHARED
    * [[graft.operators.EventAnalytics.stickinessFromPairs]] report makes
    * stream ≡ batch by construction: DAU/MAU without ever rescanning raw
    * events. Per-batch cost: one narrow date projection + a within-batch
    * distinct.
    */
  def streamDayUserFold(spark: SparkSession, srcDir: String,
                        deltaDir: String): Unit =
    drainFiles(spark, srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(batch =>
        withEventTime(batch)
          .select(to_date(col("ts")).as("day"), col("user_id"))
          .distinct()))

  /** STREAMING co-view pair maintenance — the g-family's edge substrate
    * kept current by ingest: each micro-batch lands its within-batch
    * DISTINCT (user_id, item) view pairs as an idempotent `batch=<id>/`
    * directory. Distinct-(user, item) is a SET — union across batches is
    * order-free and duplicate-delivery-immune (the e14 HLL argument for
    * sets instead of sums), so the read-side distinct-union rebuilds the
    * exact batch-mode `ui` table and the SHARED
    * [[graft.operators.Graph.coviewEdgesFromPairs]] stage makes every
    * downstream graph analytic (PageRank, triangles, link prediction)
    * stream ≡ batch by construction. Per-batch cost: one narrow
    * projection + within-batch distinct — the graph is never rebuilt
    * from raw history to stay current.
    */
  def streamCoviewFold(spark: SparkSession, srcDir: String,
                       deltaDir: String, eventType: String = "view"): Unit =
    drainFiles(spark, srcDir, s"$deltaDir/_checkpoint")(
      batchLog(s"$deltaDir/batches")(
        _.where(col("event_type") === eventType)
          .select(col("user_id"),
            regexp_extract(col("props"), "(\\d+)", 1).cast("int").as("item"))
          .where(col("item").isNotNull)
          .distinct()))

  /** STREAMING Markov-transition maintenance — the j15 matrix kept
    * current by ingest. Each micro-batch lands TWO idempotent
    * `batch=<id>/` directories (the e15 rule: replay overwrites its own
    * directory, never duplicates):
    *
    *   - `counts/`: the batch's WITHIN-batch adjacent-pair counts
    *     (sum-mergeable — the e27 classifier-log argument applies
    *     verbatim), and
    *   - `bounds/`: one row per (user, batch) with the user's FIRST and
    *     LAST event type in the batch — the boundary summary that lets
    *     the fold recover the transitions a batch split hides (user's
    *     last event in batch k → first event in the user's NEXT batch),
    *     which per-batch lead() cannot see.
    *
    * Requires the landing files be TIME-RANGE split (each user's events
    * in batch k all precede their events in batch k+1) — the registered
    * entry writes the landing dir with `repartitionByRange(ts,
    * event_id)`, and [[foldTransitionLog]] gates nothing on file count:
    * a user absent from intermediate batches pairs across the gap via
    * lead() over their own bounds rows. The folded matrix must EQUAL
    * the batch-free j15 recompute — the registered oracle is j15's,
    * verbatim.
    */
  def streamTransitionFold(spark: SparkSession, srcDir: String,
                           deltaDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val counts = batchLog(s"$deltaDir/counts")(
      _.where(col("dst").isNotNull)
        .groupBy(col("event_type").as("src"), col("dst"))
        .agg(count(lit(1)).as("d_n")))
    val bounds = batchLog(s"$deltaDir/bounds")(
      _.groupBy("user_id")
        .agg(max(when(col("rn") === 1, col("event_type"))).as("first_type"),
          max(when(col("rn") === 1, col("us"))).as("first_us"),
          max(when(col("rn") === 1, col("event_id"))).as("first_eid"),
          max(when(col("rx") === 1, col("event_type"))).as("last_type")))
    drainFiles(spark, srcDir, s"$deltaDir/_checkpoint") { (batch, batchId) =>
      val us = unix_micros(col("ts").cast("timestamp"))
      val e = batch.select(col("user_id"), col("event_id"),
        col("event_type"), us.as("us"))
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      val wd = Window.partitionBy("user_id")
        .orderBy(col("us").desc, col("event_id").desc)
      val ranked = e
        .withColumn("dst", lead(col("event_type"), 1).over(w))
        .withColumn("rn", row_number().over(w))
        .withColumn("rx", row_number().over(wd))
      counts(ranked, batchId)
      bounds(ranked, batchId)
    }
  }

  /** The fold half of [[streamTransitionFold]]: within-batch counts
    * re-sum order-free; boundary transitions come from ONE lead() over
    * each user's bounds rows ordered by the rows' OWN first-event time
    * (never by batch id — the file source dispatches files in
    * modification-time order, which is task-finish order, not time
    * order; the value-based sort makes the fold immune to it); the
    * probability tail is j15's.
    */
  def foldTransitionLog(spark: SparkSession, deltaDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val within = spark.read.parquet(s"$deltaDir/counts")
      .groupBy("src", "dst").agg(sum("d_n").as("n"))
    val wb = Window.partitionBy("user_id")
      .orderBy(col("first_us"), col("first_eid"))
    val boundary = spark.read.parquet(s"$deltaDir/bounds")
      .withColumn("next_first", lead(col("first_type"), 1).over(wb))
      .where(col("next_first").isNotNull)
      .groupBy(col("last_type").as("src"), col("next_first").as("dst"))
      .agg(count(lit(1)).as("n"))
    graft.operators.EventAnalytics.transitionsFromCounts(
      within.unionByName(boundary)
        .groupBy("src", "dst").agg(sum("n").as("n")))
  }

  /** STREAMING dedup-signature ingest — e11's discipline pointed at the
    * d9 signature index: each arriving document micro-batch lands its
    * MinHash signatures as an idempotent `batch=<id>/` directory under
    * the index root (replay overwrites its own directory, never
    * duplicates — the e15 rule), so the persisted index the incremental
    * dedup probes is kept current BY THE STREAM and corpus text is never
    * re-read. Per-batch cost is one narrow signature pass over the batch;
    * the index accretes one directory per batch —
    * [[compactSignatureIndexLog]] folds aged directories into the
    * `batch=-1` segment when the directory count binds, and
    * [[readSignatureIndex]] is the horizon-aware reader.
    */
  def streamSignatureIngest(spark: SparkSession, landingDir: String,
                            indexDir: String): Unit = {
    require(spark.conf.get("spark.sql.adaptive.enabled").toBoolean,
      "streamSignatureIngest needs spark.sql.adaptive.enabled: its rebalance " +
        "hint sizes the index files by bytes only under AQE")
    drainFiles(spark, landingDir, s"$indexDir/_checkpoint")(
      batchLog(indexDir)(batch =>
        // REBALANCE before the segment write (guide §6 output sizing): the
        // signature pass is narrow, so it runs in the micro-batch's own
        // source partitions, and writing FROM those partitions lands one
        // near-empty file per task (32 tiny files per micro-batch at
        // bench scale — and the index is read back per probe, so the file
        // count taxes every later scan). The narrow (doc_id, sig) rows
        // re-shuffle once more so AQE sizes the segment's files by BYTES
        // (advisoryPartitionSizeInBytes) — scale-adaptive: a kB batch folds
        // to one file, a 100 TB-ingest batch still writes ~64 MB files.
        // The byte sizing needs AQE (required above): with AQE off the hint
        // is a plain shuffle at spark.sql.shuffle.partitions width, which
        // brings the tiny files back and adds a shuffle.
        graft.operators.Dedup.signatureIndex(batch).hint("rebalance")))
  }

  /** Streaming ANN-index ingest — the live half of the vector-index
    * lifecycle as a STREAM: embedding rows arriving in a landing directory
    * are appended to the persisted cell-partitioned IVF index against its
    * FROZEN codebook, one `ivfAppend` per micro-batch (foreachBatch).
    * Because cell assignment is a pure per-row function of
    * (embedding, codebook), batch boundaries and arrival order CANNOT
    * change the result — the index after the stream is row-identical to a
    * monolithic rebuild (the v8 append ≡ rebuild contract, applied per
    * micro-batch; the e11 oracle holds a post-stream partial-probe search
    * to the exact-cosine answer). `maxFilesPerTrigger=1` forces one
    * micro-batch per landed file, so the multi-batch path is what actually
    * runs, not one AvailableNow gulp.
    *
    * At 100 TB: each batch touches only its own rows (one narrow
    * assignment map + a partitioned append into existing `cell=`
    * directories) — the standing index is never read or shuffled, and
    * searches running concurrently see a consistent, monotonically
    * growing index (parquet appends are whole-file-atomic per task
    * commit).
    */
  def streamIngestToIndex(spark: SparkSession, landingDir: String,
                          cents: Seq[Seq[Float]], indexDir: String): Unit = {
    val vecs = fileStream(spark, landingDir, oneFilePerTrigger = true)
    val q = vecs.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Similarity.ivfAppend(
          batch.select("vec_id", "embedding"), cents, indexDir)
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }
}
