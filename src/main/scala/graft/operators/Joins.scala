package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark's built-in join strategies don't express
  * directly — as-of joins, time-proximity pair joins, and point-in-interval
  * joins. Each is composed from equi-join + window primitives so Catalyst
  * still owns the physical planning, and each is designed shuffle-first:
  *
  *  - `asOf`: ONE hash shuffle of each side on the join keys, then an
  *    in-partition sort — the distributed merge-as-of shape. No range
  *    explosion, no per-row lookup, state bounded by partition size.
  *  - `timeProximityPairs`: candidate pairs only between adjacent
  *    epsilon-width time bins (each row replicated exactly 2×), never
  *    all-pairs; the verify filter runs inside the joined stage.
  *  - `intervalJoin`: intervals exploded to the fixed-width bins they
  *    overlap, points keyed by their single bin — an equi-join Catalyst can
  *    hash-partition, instead of the cartesian a raw range predicate plans.
  *
  * Reference context: the catalog itself has no temporal joins (its engine
  * is a search index), but the event-pipeline extensions (SURVEY.md §2.8)
  * need attribution (as-of), micro-burst detection (proximity pairs), and
  * promo-window activity (interval join) over the `events`/`orders` tables.
  */
object Joins {

  /** Epoch microseconds of a timestamp column. The cast tolerates
    * TIMESTAMP_NTZ inputs (how Spark reads ms-precision parquet without
    * timezone metadata); the session timezone is pinned to UTC by every
    * entry point, so the NTZ→LTZ reinterpretation is stable.
    */
  private def micros(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** As-of join: for each left row, attach the LAST right row with the same
    * `keys` whose `rightTs` <= the left row's `leftTs` (backward-looking,
    * inclusive). Right-side columns come back null when no prior row exists
    * (LEFT semantics).
    *
    * Implementation is the union-tag merge: both sides shuffle ONCE on
    * `keys`, the union is sorted in-partition by (ts, side, tie), and a
    * running `last(right_payload, ignoreNulls)` window carries the most
    * recent right row forward into each left row. That is exactly the
    * distributed merge-join an as-of join compiles to on purpose-built
    * engines — no range-bucket replication, no per-left-row probe, and the
    * window frame is streaming-friendly (rowsBetween unbounded→current is
    * evaluated incrementally, O(1) memory per row beyond the sort).
    *
    * At 100 TB: cost = one co-partitioned sort per side. Skewed keys (one
    * user with millions of events) sort within a single partition — the
    * same bound every event-log window query has; AQE's skew handling does
    * not apply to windows, so extreme key skew calls for pre-splitting the
    * key upstream.
    *
    * Determinism under ties: right rows at equal (keys, ts) resolve to the
    * LARGEST `rightTie` value; a right row at exactly the left row's ts is
    * visible to it (right sorts before left at equal ts).
    *
    * @param right pre-projected: `keys` + ts + payload columns, names
    *              already distinct from `left`'s (caller renames).
    * @param toleranceMicros maximum lookback: a right row older than
    *              `leftTs - tolerance` does not match (its payload comes
    *              back null). Because the as-of candidate is the single
    *              NEAREST prior row, tolerance is a post-window filter —
    *              if the nearest is too old, every other candidate is too,
    *              so the plan shape is unchanged (no extra shuffle).
    */
  def asOf(left: DataFrame, right: DataFrame, keys: Seq[String],
           leftTs: String, rightTs: String, rightTie: String,
           toleranceMicros: Long = Long.MaxValue): DataFrame = {
    require(toleranceMicros > 0, s"toleranceMicros must be positive: $toleranceMicros")
    val rightPayload = right.columns.filterNot(keys.contains).toSeq
    val rStruct = struct(rightPayload.map(col): _*)
    val rType = right.select(rStruct.as("__r")).schema("__r").dataType
    val lStruct = struct(left.columns.toSeq.map(col): _*)
    val lType = left.select(lStruct.as("__l")).schema("__l").dataType

    // SQL join semantics: a NULL key matches nothing. Dropping null-keyed
    // RIGHT rows is sufficient — a null-keyed LEFT row then shares its
    // window partition with no right row and emits with null payload
    // (LEFT semantics preserved), instead of matching null-to-null the way
    // a raw Window.partitionBy would. A null rightTs is likewise excluded:
    // it has no position on the time axis, and under nulls-first ascending
    // ordering it would otherwise sort ahead of every real row and be
    // carried by the running last() as a bogus match.
    val r = right
      .where((keys.map(col(_).isNotNull) :+ col(rightTs).isNotNull).reduce(_ && _))
      .select(
        keys.map(col) ++ Seq(
          col(rightTs).as("__ts"), lit(0).as("__side"),
          col(rightTie).cast("long").as("__tie"),
          rStruct.as("__r"), lit(null).cast(lType).as("__l")): _*)
    val l = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("__ts"), lit(1).as("__side"),
        lit(Long.MaxValue).as("__tie"),
        lit(null).cast(rType).as("__r"), lStruct.as("__l")): _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc, col("__tie").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val matched = r.unionByName(l)
      .withColumn("__last_r", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
    val inTolerance =
      if (toleranceMicros == Long.MaxValue) matched
      else matched.withColumn("__last_r",
        when(micros(col("__ts")) - micros(col(s"__last_r.$rightTs")) <= toleranceMicros,
          col("__last_r")))
    inTolerance
      .select(col("__l.*") +: rightPayload.map(f => col(s"__last_r.$f").as(f)): _*)
  }

  /** NEAREST-neighbor temporal align: for each left row, the single right
    * row with the same `keys` whose time is CLOSEST in either direction,
    * within `toleranceMicros` — the sensor-fusion / log-alignment
    * primitive ([[asOf]] is its backward-only half; many alignments want
    * "the reading nearest this event", not "the last reading before it").
    * Ties (equidistant before/after) resolve to the BACKWARD candidate —
    * the as-of convention — and right-side columns come back null when no
    * row lands inside the tolerance (LEFT semantics).
    *
    * Same union-tag merge as [[asOf]], same single co-partitioned sort —
    * the forward candidate is `lead(ignoreNulls)` over the SAME sorted
    * partition (the first following non-null right row), an offset
    * window function Spark evaluates in one O(n) forward pass per
    * partition; a currentRow → unboundedFollowing `first(...)` frame
    * would instead re-aggregate the remaining frame for EVERY row —
    * O(n²) on a long per-key history. The plan adds no shuffle and no
    * extra sort: both windows share one (keys)-partitioned
    * (ts, side, tie) ordering. Because each side's
    * candidate is its single nearest row, the tolerance stays a post-window
    * filter here too. A right row at exactly the left row's ts sorts
    * before it and is the backward candidate at distance zero.
    */
  def nearestAsOf(left: DataFrame, right: DataFrame, keys: Seq[String],
                  leftTs: String, rightTs: String, rightTie: String,
                  toleranceMicros: Long = Long.MaxValue): DataFrame = {
    require(toleranceMicros > 0, s"toleranceMicros must be positive: $toleranceMicros")
    val rightPayload = right.columns.filterNot(keys.contains).toSeq
    val rStruct = struct(rightPayload.map(col): _*)
    val rType = right.select(rStruct.as("__r")).schema("__r").dataType
    val lStruct = struct(left.columns.toSeq.map(col): _*)
    val lType = left.select(lStruct.as("__l")).schema("__l").dataType
    val r = right
      .where((keys.map(col(_).isNotNull) :+ col(rightTs).isNotNull).reduce(_ && _))
      .select(
        keys.map(col) ++ Seq(
          col(rightTs).as("__ts"), lit(0).as("__side"),
          col(rightTie).cast("long").as("__tie"),
          rStruct.as("__r"), lit(null).cast(lType).as("__l")): _*)
    val l = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("__ts"), lit(1).as("__side"),
        lit(Long.MaxValue).as("__tie"),
        lit(null).cast(rType).as("__r"), lStruct.as("__l")): _*)
    val ord = Seq(col("__ts").asc, col("__side").asc, col("__tie").asc)
    val wBack = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val lUs = micros(col("__ts"))
    val backD = lUs - micros(col(s"__back.$rightTs"))
    val fwdD = micros(col(s"__fwd.$rightTs")) - lUs
    val nearest = r.unionByName(l)
      .withColumn("__back", last(col("__r"), ignoreNulls = true).over(wBack))
      // left rows carry a null __r at currentRow, so the first non-null
      // strictly after == the first non-null at-or-after: lead ≡ the
      // forward-frame first() here, at O(n) instead of O(n²)
      .withColumn("__fwd", lead(col("__r"), 1, null, ignoreNulls = true).over(wFwd))
      .where(col("__side") === 1)
      .withColumn("__back", when(backD <= toleranceMicros, col("__back")))
      .withColumn("__fwd", when(fwdD <= toleranceMicros, col("__fwd")))
      .withColumn("__near",
        when(col("__back").isNull, col("__fwd"))
          .when(col("__fwd").isNull, col("__back"))
          .when(fwdD < backD, col("__fwd"))
          .otherwise(col("__back"))) // tie → backward, the as-of convention
    nearest.select(col("__l.*") +: rightPayload.map(f => col(s"__near.$f").as(f)): _*)
  }

  /** INTERPOLATED as-of align — the feature-generation primitive for
    * continuous signals: for each left row, the right signal's value at
    * the left timestamp under per-key LINEAR interpolation between the
    * bracketing right rows (`vb + (vf − vb)·(t − tb)/(tf − tb)`). Outside
    * the observed range the nearest endpoint holds (constant
    * extrapolation, the standard time-series fill); no right rows at all
    * → null (LEFT semantics), and a left row whose OWN timestamp is null
    * → null (there is no instant to interpolate at — the right side's
    * null timestamps are already filtered). A right row exactly at the left timestamp
    * is the backward bracket at distance zero, so its value passes
    * through untouched; equal-timestamp right rows resolve to the
    * largest `rightTie` (the [[asOf]] convention).
    *
    * Same union-tag merge as [[nearestAsOf]], same single co-partitioned
    * sort: the backward bracket is the running `last(ignoreNulls)`, the
    * forward bracket the O(n) `lead(ignoreNulls)` over the SAME ordering
    * — no extra shuffle, no extra sort, and the interpolation itself is
    * one codegen'd per-row expression whose exact double formula the
    * oracle mirrors. At 100 TB the cost is [[asOf]]'s: one keyed sort per
    * side.
    */
  def interpolateAsOf(left: DataFrame, right: DataFrame, keys: Seq[String],
                      leftTs: String, rightTs: String, rightTie: String,
                      valueCol: String): DataFrame = {
    val rStruct = struct(micros(col(rightTs)).as("__rus"),
      col(valueCol).cast("double").as("__rv"))
    val rType = right.select(rStruct.as("__r")).schema("__r").dataType
    val lStruct = struct(left.columns.toSeq.map(col): _*)
    val lType = left.select(lStruct.as("__l")).schema("__l").dataType
    val r = right
      .where((keys.map(col(_).isNotNull) :+ col(rightTs).isNotNull).reduce(_ && _))
      .select(
        keys.map(col) ++ Seq(
          col(rightTs).as("__ts"), lit(0).as("__side"),
          col(rightTie).cast("long").as("__tie"),
          rStruct.as("__r"), lit(null).cast(lType).as("__l")): _*)
    val l = left.select(
      keys.map(col) ++ Seq(
        col(leftTs).as("__ts"), lit(1).as("__side"),
        lit(Long.MaxValue).as("__tie"),
        lit(null).cast(rType).as("__r"), lStruct.as("__l")): _*)
    val ord = Seq(col("__ts").asc, col("__side").asc, col("__tie").asc)
    val wBack = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wFwd = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val t = micros(col("__ts"))
    val (tb, vb) = (col("__back.__rus"), col("__back.__rv"))
    val (tf, vf) = (col("__fwd.__rus"), col("__fwd.__rv"))
    r.unionByName(l)
      .withColumn("__back", last(col("__r"), ignoreNulls = true).over(wBack))
      .withColumn("__fwd", lead(col("__r"), 1, null, ignoreNulls = true).over(wFwd))
      .where(col("__side") === 1)
      .withColumn("__interp",
        // a null left timestamp has no instant to interpolate AT — it must
        // yield null, not the key's first observed value (nulls sort first,
        // so it would otherwise take the before-first-observation branch)
        when(col("__ts").isNull, lit(null).cast("double"))
          .when(col("__back").isNull && col("__fwd").isNull, lit(null).cast("double"))
          .when(col("__back").isNull, vf) // before first observation
          .when(col("__fwd").isNull, vb) // after last observation
          .otherwise(vb + (vf - vb) * (t - tb) / (tf - tb)))
      .select(col("__l.*"), col("__interp").as(s"${valueCol}_interp"))
  }

  /** TIME-WEIGHTED average — the integral sibling of [[interpolateAsOf]]
    * and the last member of the temporal-align family (as-of → nearest →
    * interpolate → integrate): per key, the mean of a sampled signal
    * under step-function hold semantics — each observation's value holds
    * until the next one, so `twap = Σ vᵢ·Δtᵢ / (t_last − t_first)` — the
    * standard TWAP/feature-store aggregation for irregularly-sampled
    * signals, where a plain AVG over-weights bursts of dense samples.
    * A key with fewer than two observations has no span: twap is null.
    *
    * Determinism (the e1 rule): each vᵢ·Δtᵢ is an exact DECIMAL product
    * (value at DECIMAL(18,6) × whole microseconds), the sum is exact
    * decimal — immune to Spark's aggregation order — and the ONLY
    * floating step is one final double division, identical on every
    * engine. Equal-timestamp observations contribute Δt = 0, so
    * tie-break order cannot change the result.
    *
    * At 100 TB: one shuffle on the key, one in-partition sort shared by
    * the `lead` and the aggregate (the window and the groupBy key the
    * same columns), map-side-combining partials for the decimal sum.
    *
    * `tieCol` fixes the hold order among EQUAL timestamps (the [[asOf]]
    * convention): which of two same-instant values "holds" is
    * semantically arbitrary, but it must be the SAME arbitrary choice on
    * every engine, or the v·Δt sums diverge.
    */
  def timeWeightedAvg(points: DataFrame, keys: Seq[String],
                      tsCol: String, valueCol: String,
                      tieCol: String): DataFrame = {
    require(keys.nonEmpty, "timeWeightedAvg needs at least one key column")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__us"), col("__tie"))
    points
      // a null timestamp has no place on the hold timeline and a null
      // value holds nothing — dropping them up front (the interpolateAsOf
      // right-side rule) keeps n_obs consistent with the integral instead
      // of counting rows the v·Δt sum and the duration span exclude
      .where(col(tsCol).isNotNull && col(valueCol).isNotNull)
      .select(keys.map(col) ++ Seq(micros(col(tsCol)).as("__us"),
        col(tieCol).cast("long").as("__tie"),
        col(valueCol).cast("decimal(18,6)").as("__v")): _*)
      .withColumn("__next", lead(col("__us"), 1).over(w))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_obs"),
        sum(when(col("__next").isNotNull,
          col("__v") * (col("__next") - col("__us")))).as("__num"),
        (max(col("__us")) - min(col("__us"))).as("__dur"))
      .select(keys.map(col) ++ Seq(col("n_obs"),
        when(col("__dur") > 0,
          round(col("__num").cast("double") / col("__dur"), 6)).as("twap")): _*)
  }

  /** Unordered pairs of rows whose event times lie within `epsilonMicros`
    * of each other: `(a_id, b_id, gap_us)` with `a_id < b_id`, gap
    * inclusive. The micro-burst / coincidence-detection primitive.
    *
    * Never all-pairs: rows hash into epsilon-width time bins; a qualifying
    * pair is at most one bin apart, so the left side replicates each row to
    * (own bin, next bin) — exactly 2× — and equi-joins on the bin. Same-bin
    * pairs surface twice with opposite orientation, so pairs canonicalize
    * to (min, max) and dedupe keyed on the id pair. The dedup rows carry
    * only (ids, gap) — 24 bytes — so unlike the vector-payload operators
    * (Dedup.minhashPairs' slim-then-rejoin) no second phase is warranted.
    *
    * At 100 TB: candidate volume is sum over bins of |bin|·|bin±1| — bounded
    * by the time density of events, independent of corpus size. A hot bin
    * (event storm inside one epsilon window) is inherently quadratic in
    * THAT bin only; AQE's skew-join split handles the shuffle side.
    */
  def timeProximityPairs(points: DataFrame, idCol: String, tsCol: String,
                         epsilonMicros: Long): DataFrame = {
    require(epsilonMicros > 0, s"epsilonMicros must be positive: $epsilonMicros")
    // Contract: ids must be integral. A silent cast of a string/decimal id
    // would null out and collapse distinct rows under the pair dedup below;
    // callers with non-numeric ids should hash them (xxhash64) upstream.
    val idType = points.schema(idCol).dataType
    require(Set("byte", "short", "integer", "long").contains(idType.typeName),
      s"timeProximityPairs requires an integral id column; '$idCol' is " +
        s"${idType.typeName} — hash non-numeric ids (e.g. xxhash64) upstream")
    val p = points.select(col(idCol).cast("long").as("id"),
        micros(col(tsCol)).as("us"))
      .withColumn("bin", floor(col("us") / epsilonMicros))
    val lhs = p.select(col("id").as("a_id"), col("us").as("a_us"),
      explode(array(col("bin"), col("bin") + 1)).as("bin"))
    val rhs = p.select(col("id").as("b_id"), col("us").as("b_us"), col("bin"))
    lhs.join(rhs, Seq("bin"))
      .where(col("a_id") =!= col("b_id") &&
        abs(col("a_us") - col("b_us")) <= epsilonMicros)
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        abs(col("a_us") - col("b_us")).as("gap_us"))
      .dropDuplicates("a_id", "b_id")
  }

  /** Point-in-interval join: every (interval, point) pair with
    * `startCol <= pointTs < endCol` (half-open). Output = interval columns
    * + point columns; zero-match intervals drop (inner semantics).
    *
    * A raw `p.join(i, ts >= s && ts < e)` plans a BroadcastNestedLoop or
    * cartesian — quadratic. Instead intervals explode to every fixed-width
    * time bin they overlap and points key by their single bin, turning the
    * range predicate into a hash equi-join plus an in-stage residual
    * filter. Each true match surfaces exactly once (the point's bin is
    * unique), so no dedup pass is needed.
    *
    * At 100 TB: interval replication = ceil(len/binWidth)+1 copies; choose
    * `binWidthMicros` ≈ the typical interval length so replication stays
    * ~2×. Candidate volume per bin = |points in bin| · |intervals touching
    * bin| — time-local, corpus-size-independent, AQE-splittable.
    */
  def intervalJoin(points: DataFrame, pointTs: String,
                   intervals: DataFrame, startCol: String, endCol: String,
                   binWidthMicros: Long): DataFrame = {
    require(binWidthMicros > 0, s"binWidthMicros must be positive: $binWidthMicros")
    val w = binWidthMicros
    val p = points.withColumn("__pbin", floor(micros(col(pointTs)) / w))
    val i = intervals
      .withColumn("__s", micros(col(startCol)))
      .withColumn("__e", micros(col(endCol)))
      .where(col("__e") > col("__s")) // empty/inverted intervals match nothing
      .withColumn("__bin",
        explode(sequence(floor(col("__s") / w), floor((col("__e") - 1) / w))))
      .drop("__s", "__e")
    i.join(p, col("__bin") === col("__pbin") &&
        col(pointTs) >= col(startCol) && col(pointTs) < col(endCol))
      .drop("__bin", "__pbin")
  }

  /** Skew-salted inner equi-join on `key`: the probe (big, skewed) side
    * tags each row with a deterministic salt in [0, salt); the build side
    * replicates each row `salt` ways; the join runs on (key, salt). A hot
    * key's rows — which a plain hash shuffle would pile onto ONE reducer —
    * spread across `salt` reducers, at the price of a `salt`× blow-up of
    * the (smaller) build side. Result is row-for-row the plain inner join:
    * every probe row meets exactly the one build replica carrying its salt.
    *
    * The salt derives from `probeSaltOn` (any expression that varies within
    * a hot key — a row id, a timestamp), NOT from rand(): deterministic
    * across retries and re-runs, which task-retry correctness on a real
    * cluster requires (a recomputed task must re-produce the same rows).
    *
    * This is the manual fallback for engines/paths where AQE skew-join
    * can't kick in (e.g. a skewed build side below AQE's per-partition
    * stats radar, or a sort-merge join feeding a required distribution).
    */
  def saltedEquiJoin(probe: DataFrame, build: DataFrame, key: String,
                     salt: Int, probeSaltOn: Column): DataFrame = {
    require(salt > 0, s"salt must be positive: $salt")
    val p = probe.withColumn("__salt", pmod(xxhash64(probeSaltOn), lit(salt)).cast("int"))
    val b = build.withColumn("__salt", explode(sequence(lit(0), lit(salt - 1))))
    p.join(b, Seq(key, "__salt")).drop("__salt")
  }

  /** INTERVAL-OVERLAP join: all pairs of intervals (one from each side)
    * that overlap — the interval×interval sibling of [[intervalJoin]]'s
    * point×interval shape (session-vs-campaign attribution, downtime-vs-
    * activity audits). Inputs carry `(a_id, a_start, a_end)` /
    * `(b_id, b_start, b_end)` with epoch-micros longs, closed intervals
    * (touching endpoints overlap with zero duration). Output one row per
    * overlapping pair: `(a_id, b_id, ov_start, ov_end, ov_micros)`.
    *
    * Never all-pairs: each interval explodes to the fixed-width bins it
    * spans and pairs meet on the bin key — candidates per interval are
    * bounded by (span/bin + 1) × per-bin occupancy, the [[timeProximityPairs]]
    * argument. A pair spanning several shared bins would emit once per
    * bin; instead of a distinct (a second full shuffle of the pair set),
    * each pair is emitted ONLY by the bin containing max(a_start, b_start)
    * — the overlap's first bin, a per-row predicate, so the bin join's
    * output is exact with no dedup stage at all. Choose `binMicros` near
    * the typical interval span: much smaller multiplies the explode
    * factor, much larger multiplies per-bin occupancy (both linear, so
    * the knob is forgiving; skewed hot bins fall to AQE skew-split).
    */
  def intervalOverlapPairs(a: DataFrame, b: DataFrame, binMicros: Long): DataFrame = {
    require(binMicros > 0, s"binMicros must be positive: $binMicros")
    def binned(df: DataFrame, start: String, end: String) = df
      .withColumn("__bin", explode(sequence(
        floor(col(start) / binMicros), floor(col(end) / binMicros))))
    binned(a, "a_start", "a_end").join(binned(b, "b_start", "b_end"), Seq("__bin"))
      .where(col("a_start") <= col("b_end") && col("b_start") <= col("a_end") &&
        col("__bin") === floor(greatest(col("a_start"), col("b_start")) / binMicros))
      .select(col("a_id"), col("b_id"),
        greatest(col("a_start"), col("b_start")).as("ov_start"),
        least(col("a_end"), col("b_end")).as("ov_end"),
        (least(col("a_end"), col("b_end")) -
          greatest(col("a_start"), col("b_start"))).as("ov_micros"))
  }

  /** Run `f` on a session clone tuned for RUNTIME BLOOM-FILTERED joins —
    * the shuffle-join shape a selective-dimension ⋈ giant-fact query takes
    * at 100 TB, where neither side broadcasts: Catalyst injects a
    * `bloom_filter_agg` over the (filtered) build side's join keys and a
    * `might_contain` predicate onto the FACT SIDE'S SCAN, so fact rows
    * that cannot possibly join are dropped before the shuffle instead of
    * being shipped and discarded at the join. With a 1%-selective dim
    * filter, ~99% of the fact side's shuffle bytes disappear — the
    * row-level runtime analogue of x6's partition pruning (plan-pinned:
    * might_contain + bloom_filter_agg in PlanAuditSpec).
    *
    * The clone raises the filter-injection thresholds and disables
    * broadcast joins: at test scale every table fits under the broadcast
    * threshold, which would plan the (correct but bloom-less) broadcast
    * join a 100 TB fact side cannot take — the clone pins the plan shape
    * being modeled. The caller's session is never mutated.
    */
  def withRuntimeBloomJoin[T](spark: org.apache.spark.sql.SparkSession)(
      f: org.apache.spark.sql.SparkSession => T): T =
    f(graft.GraftSession.isolated(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"))

  /** The selective-dim ⋈ fact shape [[withRuntimeBloomJoin]] exists for:
    * fact rows join a dimension subset, aggregate by a dim attribute.
    * Built on the tuned session so the runtime filter plans in.
    */
  def runtimeFilteredFactJoin(bf: org.apache.spark.sql.SparkSession,
                              factPath: String, dimPath: String,
                              factKey: String, dimKey: String,
                              dimPred: Column): DataFrame =
    bf.read.parquet(factPath)
      .join(bf.read.parquet(dimPath).where(dimPred),
        col(factKey) === col(dimKey))
}
