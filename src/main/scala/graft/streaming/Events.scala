package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{functions => F}

/** Row types for the stateful streaming sessionizer (top-level for
  * stable Encoders).
  */
private[streaming] case class SessionEvent(user_id: Long, ts_us: Long, event_type: String,
    ts: java.sql.Timestamp) // watermarked column must survive projection
private[streaming] case class OpenSession(start: Long, end: Long, n: Long, types: Seq[String])
private[streaming] case class SessionRow(user_id: Long, session_start_us: Long,
    session_end_us: Long, n_events: Long, n_types: Long)

/** Event-stream operators, each with a batch form (oracle-checkable)
  * and a Structured-Streaming twin over the same logical computation.
  *
  * Timestamps are normalized to epoch microseconds (bigint) at the
  * edges: integer domain arithmetic is bit-identical across engines
  * and avoids parquet ns/us precision skew in comparisons.
  *
  * Scale: both operators shuffle once on their natural high-cardinality
  * keys (hour bucket x type; user_id), so partitions stay balanced at
  * 100 TB; the streaming twins keep only watermark-bounded state.
  */
object Events {

  private val HOUR_US = 3600L * 1000 * 1000

  // parquet timestamps load as TIMESTAMP_NTZ; unix_micros needs
  // TimestampType — cast via the UTC session zone (deterministic).
  private def usOf(c: org.apache.spark.sql.Column) =
    F.unix_micros(c.cast("timestamp"))

  /** Tumbling 1-hour window aggregation per event type.
    * Output: (hour_start_us, event_type, n_events, sum_value, n_users).
    * sum_value is an exact decimal(18,6) sum cast back to double.
    */
  def windowAgg(events: DataFrame): DataFrame = {
    val us = usOf(F.col("ts"))
    events
      .select((us - F.pmod(us, F.lit(HOUR_US))).as("hour_start_us"),
        F.col("event_type"), F.col("value").cast("decimal(18,6)").as("v"),
        F.col("user_id"))
      .groupBy("hour_start_us", "event_type")
      .agg(F.count(F.lit(1)).as("n_events"),
        F.sum("v").cast("double").as("sum_value"),
        F.countDistinct("user_id").as("n_users"))
  }

  /** Session windows with a fixed inactivity gap: classic lag+cumsum.
    * Output per session: (user_id, session_start_us, session_end_us,
    * n_events, n_types). Partitioned by user_id — the natural
    * high-cardinality key — one shuffle, window sort within partition.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val gapUs = gapMinutes * 60L * 1000 * 1000
    val byUser = Window.partitionBy("user_id").orderBy(F.col("ts_us").asc, F.col("event_id").asc)
    events
      .select(F.col("user_id"), F.col("event_id"), F.col("event_type"),
        usOf(F.col("ts")).as("ts_us"))
      .withColumn("new_session",
        F.when(F.col("ts_us") - F.lag("ts_us", 1).over(byUser) > gapUs, 1)
          .when(F.lag("ts_us", 1).over(byUser).isNull, 1)
          .otherwise(0))
      .withColumn("session_no", F.sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_no")
      .agg(F.min("ts_us").as("session_start_us"),
        F.max("ts_us").as("session_end_us"),
        F.count(F.lit(1)).as("n_events"),
        F.countDistinct("event_type").as("n_types"))
      .drop("session_no")
  }

  /** Streaming twin of windowAgg: watermark + tumbling window over an
    * unbounded source (readStream / MemoryStream). State is bounded by
    * the watermark horizon.
    */
  /** Streaming twin of sessionize: custom session state per user via
    * flatMapGroupsWithState with event-time timeout. A user's open
    * session lives in state; events extend it or (after the gap) close
    * it; the watermark passing session-end + gap fires the timeout that
    * emits the final session. State per key is one small struct —
    * bounded by active users within the watermark horizon, not by
    * history.
    */
  def streamingSessionize(stream: DataFrame, gapMinutes: Int = 30,
                          watermark: String = "2 hours"): DataFrame = {
    val spark = stream.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000 * 1000

    def emit(uid: Long, s: OpenSession): SessionRow =
      SessionRow(uid, s.start, s.end, s.n, s.types.distinct.length.toLong)

    val evs = stream
      .withWatermark("ts", watermark)
      .select(F.col("user_id").cast("long").as("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).as("ts_us"),
        F.col("event_type"),
        F.col("ts"))
      .as[SessionEvent]

    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, SessionRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, it: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val done = emit(uid, state.get)
            state.remove()
            Iterator.single(done)
          } else {
            val closed = scala.collection.mutable.ArrayBuffer.empty[SessionRow]
            var cur = state.getOption
            it.toSeq.sortBy(e => (e.ts_us, e.event_type)).foreach { e =>
              cur match {
                case Some(s) if e.ts_us - s.end > gapUs =>
                  closed += emit(uid, s)
                  cur = Some(OpenSession(e.ts_us, e.ts_us, 1, Seq(e.event_type)))
                case Some(s) =>
                  cur = Some(OpenSession(s.start, math.max(s.end, e.ts_us),
                    s.n + 1, s.types :+ e.event_type))
                case None =>
                  cur = Some(OpenSession(e.ts_us, e.ts_us, 1, Seq(e.event_type)))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // fire once the watermark passes session end + gap (ms)
              state.setTimeoutTimestamp(s.end / 1000 + gapMinutes * 60L * 1000)
            }
            closed.iterator
          }
      }.toDF()
  }

  /** Streaming exact dedup: drop events whose content hash was already
    * seen within the watermark horizon — the streaming twin of
    * Dedup.exact/keepFirst for an unbounded source. State is the set of
    * hashes inside the watermark window (dropDuplicatesWithinWatermark
    * evicts expired keys), so memory is bounded by arrival rate x
    * horizon, not stream history.
    */
  def streamingDedup(stream: DataFrame, hashCols: Seq[String],
                     watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(hashCols)

  /** Streaming incremental ingest — the streaming twin of
    * Dedup.incrementalNew: emit only documents first-seen in-stream
    * (within the watermark horizon) AND absent from the existing
    * corpus. The static corpus is reduced to DISTINCT 16-byte hashes
    * and broadcast per micro-batch; in-stream dedup state is
    * watermark-bounded. The stream itself never shuffles.
    */
  def streamingIncrementalNew(stream: DataFrame, existing: DataFrame,
                              textCol: String,
                              watermark: String = "2 hours"): DataFrame = {
    val seen = existing
      .select(F.md5(F.col(textCol).cast("binary")).as("__seen_hash")).distinct()
    stream
      .withColumn("__h", F.md5(F.col(textCol).cast("binary")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(Seq("__h"))
      .join(F.broadcast(seen), F.col("__h") === F.col("__seen_hash"), "left_anti")
      .drop("__h")
  }

  /** Stream-static enrichment: attach dimension attributes to an event
    * stream by key. The static side is planned per micro-batch (and
    * broadcast when small — same rules as batch joins), so the stream
    * never shuffles; this is the standard shape for decorating a 100 TB
    * event firehose with dimension tables.
    */
  def streamingEnrich(stream: DataFrame, dim: DataFrame, key: String,
                      dimCols: Seq[String]): DataFrame =
    stream.join(
      org.apache.spark.sql.functions.broadcast(
        dim.select((key +: dimCols).map(F.col): _*)),
      Seq(key), "left")

  /** Ordered-step funnel: per user, the EARLIEST greedy completion of
    * `steps` — stage i+1 is the first event of its type strictly
    * after stage i's timestamp and within `maxGapMinutes` of it.
    * Output: (user_id, t1_us .. tk_us nullable, steps_completed) for
    * every user who completed stage 1.
    *
    * Scale shape: one (user, type, ts) projection (persisted across
    * stages so the event payload is read once), then per stage a
    * filtered aggregation joined back on user_id — k-1 hash
    * shuffles of per-user MINIMA, never of raw events. The classic
    * conversion-analysis operator; k is small by definition.
    */
  def funnel(events: DataFrame, steps: Seq[String],
             maxGapMinutes: Int = 30): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val gapUs = maxGapMinutes * 60L * 1000 * 1000
    val e = events.select(F.col("user_id"), F.col("event_type"),
      usOf(F.col("ts")).as("us")).persist()
    val s1 = e.where(F.col("event_type") === steps.head)
      .groupBy("user_id").agg(F.min("us").as("t1_us"))
    val full = steps.zipWithIndex.drop(1).foldLeft(s1) {
      case (acc, (step, i)) =>
        val prev = s"t${i}_us"
        val cur = s"t${i + 1}_us"
        val next = e.where(F.col("event_type") === step)
          .join(acc.select(F.col("user_id"), F.col(prev).as("__p")), "user_id")
          .where(F.col("us") > F.col("__p") && F.col("us") <= F.col("__p") + gapUs)
          .groupBy("user_id").agg(F.min("us").as(cur))
        acc.join(next, Seq("user_id"), "left")
    }
    val completed = steps.indices.drop(1).map(i =>
      F.when(F.col(s"t${i + 1}_us").isNotNull, 1).otherwise(0))
      .foldLeft(F.lit(1))(_ + _)
    // materialize the per-user result (users × k columns, tiny next
    // to raw events) so the k-1 stage scans hit the cached projection
    // exactly once, then release it — long-lived sessions calling
    // funnel() repeatedly must not accumulate cached partitions.
    // Result is returned PERSISTED through Pins.persist (same
    // contract as jaccardPairs).
    val out = graft.operators.Pins.persist(
      full.withColumn("steps_completed", completed.cast("int")))
    out.count()
    e.unpersist()
    out
  }

  /** Cohort retention: users are cohorted by the period (day/week —
    * `periodDays`) of their FIRST event; for each (cohort period,
    * period offset) the count of cohort members active in that later
    * period. The classic retention matrix. Output:
    * (cohort_period_us, period_offset, n_users).
    *
    * Scale shape: one per-user min aggregation (shuffle of (user, ts)
    * pairs), then the event stream reduced to DISTINCT
    * (user, period) before joining the per-user cohort — the join and
    * final count move at most users × active-periods rows, never raw
    * events.
    */
  def retention(events: DataFrame, periodDays: Int = 7,
                maxPeriods: Int = 8): DataFrame = {
    require(periodDays >= 1 && maxPeriods >= 1, "positive period/horizon")
    val periodUs = periodDays * 24L * 3600 * 1000 * 1000
    def periodOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      c - F.pmod(c, F.lit(periodUs))
    val e = events.select(F.col("user_id"), usOf(F.col("ts")).as("us"))
    val cohort = e.groupBy("user_id")
      .agg(periodOf(F.min("us")).as("cohort_period_us"))
    val active = e.select(F.col("user_id"), periodOf(F.col("us")).as("period_us"))
      .distinct()
    active.join(cohort, "user_id")
      .withColumn("period_offset",
        ((F.col("period_us") - F.col("cohort_period_us")) / periodUs).cast("int"))
      .where(F.col("period_offset").between(0, maxPeriods))
      .groupBy("cohort_period_us", "period_offset")
      .agg(F.count(F.lit(1)).as("n_users"))
  }

  /** Rolling active users — per observed day, distinct users that day
    * (DAU) and over the trailing `windowDays` days (WAU/MAU with 7/
    * 30): the growth-analytics staple. Rolling DISTINCT cannot
    * map-side-combine like a sum, so the scale shape is: reduce to
    * distinct (user, day) pairs FIRST (map-side, |user-days| <<
    * |events|), then fan each pair out to the <= windowDays window-end
    * days it serves and count distinct per day — shuffle volume is
    * windowDays * |user-days|, independent of the raw event count.
    * Only observed days are emitted (inner join with the DAU side).
    */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "positive window")
    val dayUs = 24L * 3600 * 1000 * 1000
    val us = usOf(F.col("ts"))
    val ud = events
      .select((us - F.pmod(us, F.lit(dayUs))).as("day_us"), F.col("user_id"))
      .distinct()
    val dau = ud.groupBy("day_us").agg(F.countDistinct("user_id").as("dau"))
    val wau = ud
      .select(F.col("user_id"),
        F.explode(F.sequence(F.lit(0L), F.lit(windowDays - 1L))).as("off"),
        F.col("day_us"))
      .select((F.col("day_us") + F.col("off") * dayUs).as("day_us"), F.col("user_id"))
      .groupBy("day_us").agg(F.countDistinct("user_id").as("wau"))
    dau.join(wau, Seq("day_us"))
  }

  /** [[rollingActiveUsers]]'s at-scale path as a GATED comparison:
    * per-day HLL user sketches (one ~2 KB binary per day — the corpus
    * is scanned ONCE, map-side combined), DAU from each day's sketch
    * and trailing-window WAU from a UNION of the window's sketches —
    * the same fan-out shape as the exact path but over |days|·window
    * sketch rows instead of |user,day|·window id rows. That is the
    * swap a 100 TB deployment makes: the exact rolling distinct
    * re-shuffles every user id `windowDays` times per day; the sketch
    * path's rolling cost is independent of user cardinality. Output
    * per observed day: the exact dau/wau (cross-engine comparable)
    * plus dau_ok/wau_ok — estimate within tolPct% of exact (lgK=12
    * ≈ 1.6% RSE, so 5% ≈ 3 RSE) — the boolean gate keeping the
    * engine-specific estimates out of the compared columns while
    * gating the whole sketch+union pipeline.
    */
  def rollingActiveUsersSketchGate(events: DataFrame, windowDays: Int = 7,
                                   tolPct: Int = 5): DataFrame = {
    require(windowDays >= 1 && tolPct >= 1, "positive window and tolerance")
    val dayUs = 24L * 3600 * 1000 * 1000
    val us = usOf(F.col("ts"))
    val byDay = events
      .select((us - F.pmod(us, F.lit(dayUs))).as("day_us"), F.col("user_id"))
      .groupBy("day_us")
      .agg(F.hll_sketch_agg(F.col("user_id"), F.lit(12)).as("sk"))
    val dauEst = byDay.select(F.col("day_us"),
      F.hll_sketch_estimate(F.col("sk")).as("dau_est"))
    val wauEst = byDay
      .select(F.col("sk"),
        F.explode(F.sequence(F.lit(0L), F.lit(windowDays - 1L))).as("off"),
        F.col("day_us"))
      .select((F.col("day_us") + F.col("off") * dayUs).as("day_us"), F.col("sk"))
      .groupBy("day_us")
      .agg(F.hll_sketch_estimate(
        F.hll_union_agg(F.col("sk"), F.lit(false))).as("wau_est"))
    def ok(est: String, exact: String) =
      (F.abs(F.col(est) - F.col(exact).cast("double")) <=
        F.col(exact).cast("double") * (tolPct / 100.0))
    rollingActiveUsers(events, windowDays)
      .join(dauEst, "day_us").join(wauEst, "day_us")
      .select(F.col("day_us"), F.col("dau"), F.col("wau"),
        ok("dau_est", "dau").as("dau_ok"), ok("wau_est", "wau").as("wau_ok"))
  }

  /** CUSUM changepoint detection per event type (Page, Biometrika
    * '54): over the type's DAILY event counts x_1..x_T the cumulative
    * deviation S_t = Σ_{i<=t} (x_i − x̄) peaks in magnitude at the
    * day the mean shifts — the standard offline single-changepoint
    * locator a pipeline-health monitor runs over ingest volumes.
    * Emits per type: the argmax day, the peak |S| (the shift
    * evidence), and the day count.
    *
    * Determinism: x̄ = round(Σx/T, 6) as a decimal; deviations are
    * exact decimals, so the running sum (a window ordered by day) is
    * addition-order-free and the argmax (|S| desc, day asc) is total.
    * Scale: daily counts aggregate map-side (|types|·|days| rows
    * total); the cumulative window partitions by type — bounded
    * partitions, no global window.
    */
  def changepoint(events: DataFrame): DataFrame = {
    val dayUs = 24L * 3600 * 1000 * 1000
    val us = usOf(F.col("ts"))
    val daily = events
      .select(F.col("event_type"), (us - F.pmod(us, F.lit(dayUs))).as("day_us"))
      .groupBy("event_type", "day_us").agg(F.count(F.lit(1)).as("x"))
    val stats = daily.groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n_days"),
        F.round(F.sum("x").cast("double") / F.count(F.lit(1)).cast("double"), 6)
          .cast("decimal(20,6)").as("mean"))
    val wRun = Window.partitionBy("event_type").orderBy("day_us")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cusum = daily.join(F.broadcast(stats), "event_type")
      .select(F.col("event_type"), F.col("day_us"), F.col("n_days"),
        (F.col("x").cast("decimal(20,6)") - F.col("mean")).as("dev"))
      .withColumn("s", F.sum("dev").over(wRun))
    val wTop = Window.partitionBy("event_type")
      .orderBy(F.abs(F.col("s")).desc, F.col("day_us").asc)
    cusum.withColumn("rk", F.row_number().over(wTop))
      .where(F.col("rk") === 1)
      .select(F.col("event_type"), F.col("day_us").as("cp_day_us"),
        F.round(F.abs(F.col("s")).cast("double"), 6).as("peak_abs_cusum"),
        F.col("n_days"))
  }

  /** Per-type tail-value outliers: events whose value exceeds their
    * type's q-quantile — the monitoring/anomaly pass. The cutoff uses
    * Spark's EXACT `percentile` aggregate over values ROUNDED to 2dp,
    * which bounds the aggregate's value->count map state by the value
    * RANGE x 100 cells rather than by distinct raw doubles (raw
    * continuous values would grow the state with event count — an
    * executor-memory liability at 100 TB; post-rounding the state is
    * domain-bounded, the same argument as Curate.lengthQuantiles'
    * integer domain). The cutoff is rounded to 6dp before the
    * comparison so both engines compare the same literal; outlier
    * membership uses the RAW value against that cutoff. One
    * partial-agg shuffle for the per-type cutoffs (broadcast back) —
    * the event stream itself never shuffles.
    *
    * Boundary safety: interpolation runs between adjacent 2dp grid
    * points a < b, so the cutoff sits >= 0.05*(b-a) >= 5e-4 from
    * either endpoint (or exactly ON a value when a = b) — float noise
    * (~1e-13) never spans the gap, so `value > cutoff` is
    * engine-stable.
    *
    * Output: (event_id, event_type, value, cutoff) for outliers only.
    */
  def valueOutliers(events: DataFrame, q: Double = 0.99): DataFrame = {
    require(q > 0 && q < 1, s"quantile in (0,1), got $q")
    val ev = events.select(F.col("event_id"), F.col("event_type"), F.col("value"))
    val cuts = ev.groupBy("event_type")
      .agg(F.round(F.expr(s"percentile(round(value, 2), $q)"), 6).as("cutoff"))
    ev.join(F.broadcast(cuts), Seq("event_type"))
      .where(F.col("value") > F.col("cutoff"))
      .select("event_id", "event_type", "value", "cutoff")
  }

  def streamingWindowAgg(stream: DataFrame, watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(F.window(F.col("ts"), "1 hour"), F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(usOf(F.col("window.start")).as("hour_start_us"),
        F.col("event_type"), F.col("n_events"), F.col("sum_value"))

  /** SLIDING-window aggregation (window length `windowMin`, slide
    * `slideMin`): each event contributes to windowMin/slideMin
    * overlapping windows — F.window's epoch-aligned explode shape,
    * the standard rate/leaderboard metric. Same decimal-sum policy as
    * [[windowAgg]]; the explode multiplies ROWS INTO THE SHUFFLE by
    * the overlap factor (4 here), which is the operator's documented
    * cost — the aggregation itself stays partial/map-side combined.
    */
  def slidingAgg(events: DataFrame, windowMin: Int = 60,
                 slideMin: Int = 15): DataFrame = {
    require(windowMin % slideMin == 0, "slide must divide window")
    events
      .select(F.window(F.col("ts"), s"$windowMin minutes", s"$slideMin minutes").as("w"),
        F.col("event_type"), F.col("value").cast("decimal(18,6)").as("v"),
        F.col("user_id"))
      .groupBy("w", "event_type")
      .agg(F.count(F.lit(1)).as("n_events"),
        F.sum("v").cast("double").as("sum_value"),
        F.countDistinct("user_id").as("n_users"))
      .select(usOf(F.col("w.start")).as("window_start_us"),
        F.col("event_type"), F.col("n_events"), F.col("sum_value"),
        F.col("n_users"))
  }

  /** Structured Streaming twin of [[slidingAgg]] (no countDistinct —
    * distinct users need a state store; streams report the additive
    * aggregates, the batch form reports the full set).
    */
  def streamingSlidingAgg(stream: DataFrame, windowMin: Int = 60,
                          slideMin: Int = 15,
                          watermark: String = "2 hours"): DataFrame =
    stream
      .withWatermark("ts", watermark)
      .groupBy(F.window(F.col("ts"), s"$windowMin minutes", s"$slideMin minutes"),
        F.col("event_type"))
      .agg(F.count(F.lit(1)).as("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
      .select(usOf(F.col("window.start")).as("window_start_us"),
        F.col("event_type"), F.col("n_events"), F.col("sum_value"))

  /** Event-time DISORDER audit — the profile read before configuring
    * a streaming watermark: per (type, user) stream in ARRIVAL order,
    * an event is LATE when some earlier-arriving event of the same
    * stream carries a later event time; its lateness is the gap to
    * the running event-time maximum (exactly the quantity a watermark
    * of delay D must exceed to keep the event). Per type:
    * event/user totals, late counts, exact total and max lateness in
    * microseconds — max_late_us IS the minimum watermark delay that
    * would have lost nothing.
    *
    * Scale: one window partitioned by (type, user) — high-cardinality
    * keys, even shuffle — then one map-side-combined aggregate; exact
    * integer arithmetic throughout.
    */
  def lateArrivals(events: DataFrame, typeCol: String, userCol: String,
                   arrivalCol: String, tsCol: String): DataFrame = {
    val e = events.select(F.col(typeCol).as("event_type"),
      F.col(userCol).as("user_id"),
      F.col(arrivalCol).as("arrival"),
      F.unix_micros(F.col(tsCol)).as("us"))
    val w = Window.partitionBy("event_type", "user_id")
      .orderBy(F.col("arrival").asc, F.col("us").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val m = e.withColumn("pm", F.max("us").over(w))
      .withColumn("late",
        F.when(F.col("pm").isNotNull && F.col("pm") > F.col("us"), 1L).otherwise(0L))
      .withColumn("lat",
        F.when(F.col("pm").isNotNull && F.col("pm") > F.col("us"),
          F.col("pm") - F.col("us")).otherwise(0L))
    m.groupBy("event_type").agg(
      F.count(F.lit(1)).as("n_events"),
      F.countDistinct("user_id").as("n_users"),
      F.sum("late").as("late_events"),
      F.countDistinct(F.when(F.col("late") === 1, F.col("user_id"))).as("late_users"),
      F.sum("lat").as("total_late_us"),
      F.max("lat").as("max_late_us"))
  }

  /** All (click, conversion) candidate pairs inside the attribution
    * window: conversions equi-join clicks on the user with
    * `click_ts <= conv_ts <= click_ts + maxGap` riding along — the
    * shared core of batch attribution ([[lastTouchAttribution]]) and
    * the watermarked STREAM-STREAM join ([[streamAttributionPairs]]).
    * Scale: a plain hash join on the user key; the time bound prunes
    * post-join (batch) or bounds the join STATE (streaming).
    */
  def attributionPairs(clicks: DataFrame, conversions: DataFrame,
                       maxGap: String = "6 hours"): DataFrame =
    attrClicks(clicks).join(attrConvs(conversions),
      F.expr(s"c_user = p_user AND conv_ts >= click_ts AND " +
        s"conv_ts <= click_ts + interval $maxGap"))

  /** The same candidate-pair join as a watermarked STREAM-STREAM
    * inner join — the Structured Streaming capability the rest of the
    * streaming suite doesn't exercise: BOTH sides are unbounded, and
    * the event-time bound in the join condition plus the watermarks
    * let Spark expire join state (a click older than watermark +
    * maxGap can never match a future conversion and is dropped from
    * state; an unbounded-state stream-stream join would otherwise
    * grow forever — the 100 TB/always-on concern). Emits each pair
    * once, as soon as both sides arrive (append mode). Last-touch
    * reduction happens downstream (foreachBatch or a later batch
    * pass): a streaming window-argmax over an open attribution window
    * would have to wait out the watermark to be final.
    */
  def streamAttributionPairs(clicks: DataFrame, conversions: DataFrame,
                             watermark: String = "1 hour",
                             maxGap: String = "6 hours"): DataFrame =
    attrClicks(clicks).withWatermark("click_ts", watermark)
      .join(attrConvs(conversions).withWatermark("conv_ts", watermark),
        F.expr(s"c_user = p_user AND conv_ts >= click_ts AND " +
          s"conv_ts <= click_ts + interval $maxGap"))

  /** Streaming twin of [[graft.operators.RangeJoin.intervalOverlap]]
    * for event-anchored windows: the overlap of [a_ts, a_ts+aLen) and
    * [b_ts, b_ts+bLen) is algebraically a TIME-RANGE condition on the
    * two event times (a_ts − bLen < b_ts < a_ts + aLen), so the
    * watermarked stream-stream equi-join covers it with bounded state
    * — no grid needed: the engine's range-join state eviction plays
    * the grid's role. Emits each overlapping pair once with its exact
    * integer-µs overlap length, as soon as both sides arrive (append
    * mode); state for either side evicts past watermark + window.
    */
  def streamIntervalOverlap(a: DataFrame, b: DataFrame,
                            aLenUs: Long, bLenUs: Long,
                            watermark: String = "1 hour"): DataFrame = {
    require(aLenUs > 0 && bLenUs > 0, "positive window lengths")
    val aa = a.select(F.col("event_id").as("a_id"),
        F.col("user_id").as("a_user"), F.col("ts").as("a_ts"))
      .withWatermark("a_ts", watermark)
    val bb = b.select(F.col("event_id").as("b_id"),
        F.col("user_id").as("b_user"), F.col("ts").as("b_ts"))
      .withWatermark("b_ts", watermark)
    aa.join(bb, F.expr(
        s"a_user = b_user AND " +
          s"b_ts > a_ts - interval $bLenUs microseconds AND " +
          s"b_ts < a_ts + interval $aLenUs microseconds"))
      .select(F.col("a_id"), F.col("b_id"),
        (F.least(F.unix_micros(F.col("a_ts")) + F.lit(aLenUs),
          F.unix_micros(F.col("b_ts")) + F.lit(bLenUs)) -
          F.greatest(F.unix_micros(F.col("a_ts")),
            F.unix_micros(F.col("b_ts")))).as("overlap_us"))
  }

  private def attrClicks(clicks: DataFrame): DataFrame =
    clicks.select(F.col("user_id").as("c_user"),
      F.col("ts").as("click_ts"), F.col("event_id").as("click_id"))

  private def attrConvs(conversions: DataFrame): DataFrame =
    conversions.select(F.col("user_id").as("p_user"),
      F.col("ts").as("conv_ts"), F.col("event_id").as("conv_id"))

  /** Last-touch attribution over the candidate pairs (the standard
    * marketing-attribution rule): each conversion credits its LATEST
    * in-window click (ties on the higher click id), and reports how
    * many candidates competed (`n_candidates` — the multi-touch
    * diagnostic). One conversion-keyed window (high-cardinality key,
    * even shuffle); exact integer microsecond arithmetic.
    */
  def lastTouchAttribution(pairs: DataFrame): DataFrame = {
    val w = Window.partitionBy("conv_id")
      .orderBy(F.col("click_ts").desc, F.col("click_id").desc)
    val wc = Window.partitionBy("conv_id")
    pairs
      .withColumn("__rk", F.row_number().over(w))
      .withColumn("n_candidates", F.count(F.lit(1)).over(wc))
      .where(F.col("__rk") === 1)
      .select(F.col("conv_id"), F.col("p_user").as("user_id"),
        F.unix_micros(F.col("conv_ts")).as("conv_us"),
        F.col("click_id"),
        F.unix_micros(F.col("click_ts")).as("click_us"),
        (F.unix_micros(F.col("conv_ts")) - F.unix_micros(F.col("click_ts")))
          .as("gap_us"),
        F.col("n_candidates"))
  }

  /** Seasonal-baseline volume anomalies — the production ingest
    * monitor the CUSUM locator ([[changepoint]]) complements: daily
    * event counts per type are compared against their DAY-OF-WEEK
    * baseline (traffic is weekly-periodic; comparing Monday to the
    * Monday population, not the week's mean, is the standard
    * seasonal-naive control), flagging days more than `sigmas`
    * population standard deviations from their weekday mean.
    *
    * Exactness: the z-test is evaluated in INTEGERS — with per-(type,
    * dow) day count n, sum S and sum-of-squares Q of the daily counts,
    *
    *   |c − S/n| > k·σ  ⇔  (n·c − S)² > k²·(n·Q − S²)
    *
    * (n²σ² = n·Q − S²), so both engines decide every flag on exact
    * integer comparisons — no division, no doubles; the mean/σ output
    * columns are display-rounded only.
    *
    * Scale: one map-side-combined daily aggregate (keys = types ×
    * days), one (type, dow)-keyed baseline fold (≤ 7·|types| rows,
    * broadcast back). Nothing corpus-sized shuffles twice.
    */
  def seasonalAnomalies(events: DataFrame, sigmas: Int = 2): DataFrame = {
    val dayUs = 24L * 3600 * 1000 * 1000
    val us = usOf(F.col("ts"))
    val daily = events
      .select(F.col("event_type"), (us - F.pmod(us, F.lit(dayUs))).as("day_us"))
      .groupBy("event_type", "day_us").agg(F.count(F.lit(1)).as("cnt"))
      .withColumn("dow",
        F.pmod(F.expr(s"day_us div $dayUs"), F.lit(7L)).cast("int"))
    // every z-test term is built in DECIMAL, never in Long: cnt·cnt,
    // s·s and n_dow·q silently wrap in Long arithmetic once a
    // day-of-week's count sum passes ~3.04e9 (sqrt(Long.Max)) —
    // realistic at the 100 TB design point — flipping is_anomaly
    // while the DuckDB twin (hugeint) stays right. In decimal the
    // products are exact up to precision 38 (|n·c−S| < ~1e19, s <
    // ~1e19), and past THAT bound Spark yields null, an honest
    // absence, never a silently wrong flag.
    val decCnt = F.col("cnt").cast("decimal(19,0)")
    val base = daily.groupBy("event_type", "dow").agg(
      F.count(F.lit(1)).cast("decimal(10,0)").as("n_dow"),
      F.sum(F.col("cnt").cast("decimal(19,0)")).as("s"),
      F.sum(F.col("cnt").cast("decimal(19,0)") *
        F.col("cnt").cast("decimal(19,0)")).as("q"))
    val lhs = (F.col("n_dow") * decCnt - F.col("s")).cast("decimal(19,0)")
    val rhs = (F.col("n_dow") * F.col("q") - F.col("s") * F.col("s"))
      .cast("decimal(38,0)")
    daily.join(F.broadcast(base), Seq("event_type", "dow"))
      .select(F.col("event_type"), F.col("day_us"), F.col("dow"),
        F.col("cnt"), F.col("n_dow").cast("long").as("n_dow"),
        F.round(F.col("s").cast("double") / F.col("n_dow").cast("double"), 6)
          .as("dow_mean"),
        (lhs * lhs > F.lit(sigmas.toLong * sigmas) * rhs).as("is_anomaly"))
  }

  /** EXACT sample autocorrelation of each event type's daily-count
    * series, lags 0..maxLag — the standard seasonality/periodicity
    * probe (Box-Jenkins): r_k = Σ_t (x_t−x̄)(x_{t+k}−x̄) / Σ_t (x_t−x̄)².
    *
    * Division-free core (the seasonalAnomalies n-scaling trick): with
    * d_t = n·x_t − S both numerator and denominator pick up the same
    * n² factor, so r_k = Σ d_t·d_{t+k} / Σ d_t² over EXACT integers —
    * one sign-split truncating division to ppm at the very end
    * (num·1e6 div den; Spark `div` truncates toward zero, DuckDB `//`
    * floors — identical only after the abs split). Lag 0 gates at
    * exactly 1 000 000 (calibration), den = 0 (constant series) yields
    * NULL. Exactness bound: |num| ≤ den ≤ n·(n·max_x)², inside
    * DECIMAL(38)/HUGEINT with the 1e6 ppm factor up to ~1e9-scale
    * daily counts over decade spans — past that, pre-aggregate weekly.
    *
    * The calendar is DENSIFIED per type (sequence over [min,max] day,
    * missing days are x = 0): day gaps must not silently misalign the
    * lag pairing. Scale shape: one map-side-combined daily aggregate
    * (types × days), then everything downstream — calendar join,
    * per-type stats broadcast, the (K+1)-way lag self-join — runs on
    * |types|·|days| rows, corpus-size-independent; no partition-less
    * window anywhere (per-type stats ride a broadcast join, the
    * changepoint pattern).
    */
  /** Holt LINEAR (double) exponential smoothing over each event
    * type's daily-count series — the classic level+trend forecaster
    * (Holt 1957 / Hyndman & Athanasopoulos fpp ch.8), the smoothing
    * complement of [[seasonalAnomalies]]' dow baselines and [[acf]]'s
    * periodicity probe:
    *
    *   l_t = round(α·x_t + (1−α)(l_{t−1}+b_{t−1}), 6)
    *   b_t = round(β(l_t − l_{t−1}) + (1−β)b_{t−1}, 6)
    *   one-step forecast_t = l_{t−1} + b_{t−1};  init l_1 = x_1, b_1 = 0.
    *
    * EXACT cross-engine recurrence: α/β arrive as decimal literal
    * strings, every intermediate is exact DECIMAL rational (counts are
    * integers; precisions stay ≤ 31), and each state rounds HALF_UP to
    * scale 6 before it feeds the next step — so both engines walk the
    * identical state sequence and the output hashes match (the
    * pagerank per-round-pin discipline applied to a per-DAY
    * recurrence; the DuckDB twin iterates the same formula through a
    * recursive CTE). Display columns cast the scale-6 decimals to
    * DOUBLE (exact for these magnitudes).
    *
    * Scale: one map-side-combined daily aggregate (types × days), the
    * calendar densified per type ([[acf]]'s contract — day gaps are
    * x = 0, never silently skipped), then ONE fold per type over its
    * collected day array. The recurrence is inherently sequential in
    * t, so the per-type series must sit in one place: the array is
    * CALENDAR-bounded (days, not events — a decade is ~3.7k entries),
    * which is the honest parallel grain; types parallelize.
    *
    * Known quadratic bound: the fold accumulates its per-day output
    * rows with array_append inside the aggregate lambda, which copies
    * the accumulated array each step — O(n²) in series LENGTH within
    * one task. At the calendar bound (~3.7k days/decade) that is ~7M
    * element copies per type, negligible; a multi-decade series pays
    * it visibly. The fix, if ever needed, is to fold only the (l, b)
    * state stream and join the row fields back by day — kept simple
    * here because the calendar bound makes the quadratic term moot.
    * (Same bound applies to [[holtWinters]], which shares the shape.)
    */
  def holtLinear(events: DataFrame, alpha: String = "0.2",
                 beta: String = "0.1"): DataFrame = {
    require(BigDecimal(alpha) > 0 && BigDecimal(alpha) < 1, "0 < alpha < 1")
    require(BigDecimal(beta) > 0 && BigDecimal(beta) < 1, "0 < beta < 1")
    val dayUs = 24L * 3600 * 1000 * 1000
    val us = usOf(F.col("ts"))
    val a1 = (BigDecimal(1) - BigDecimal(alpha)).toString
    val b1 = (BigDecimal(1) - BigDecimal(beta)).toString
    val counts = events
      .select(F.col("event_type"), (us - F.pmod(us, F.lit(dayUs))).as("day_us"))
      .groupBy("event_type", "day_us").agg(F.count(F.lit(1)).as("x"))
    val cal = counts.groupBy("event_type")
      .agg(F.min("day_us").as("d0"), F.max("day_us").as("d1"))
      .select(F.col("event_type"),
        F.explode(F.sequence(F.col("d0"), F.col("d1"), F.lit(dayUs)))
          .as("day_us"))
    val daily = cal.join(counts, Seq("event_type", "day_us"), "left")
      .select(F.col("event_type"), F.col("day_us"),
        F.coalesce(F.col("x"), F.lit(0L)).as("x"))
    val packed = daily.groupBy("event_type")
      .agg(F.array_sort(F.collect_list(F.struct(
        F.col("day_us"), F.col("x")))).as("xs"))
    // the new level/trend, written once here and spliced wherever the
    // lambda needs them (SQL lambdas have no let-binding)
    val lvl = s"CASE WHEN acc.l IS NULL THEN CAST(e.x AS DECIMAL(26,6)) " +
      s"ELSE CAST(round($alpha * e.x + $a1 * (acc.l + acc.b), 6) " +
      s"AS DECIMAL(26,6)) END"
    val trd = s"CASE WHEN acc.l IS NULL THEN CAST(0 AS DECIMAL(26,6)) " +
      s"ELSE CAST(round($beta * (($lvl) - acc.l) + $b1 * acc.b, 6) " +
      s"AS DECIMAL(26,6)) END"
    val fct = "CASE WHEN acc.l IS NULL THEN CAST(NULL AS DECIMAL(26,6)) " +
      "ELSE CAST(acc.l + acc.b AS DECIMAL(26,6)) END"
    val fold = s"""aggregate(
      |  xs,
      |  named_struct(
      |    'rows', CAST(array() AS ARRAY<STRUCT<day_us: BIGINT, x: BIGINT,
      |      level: DECIMAL(26,6), trend: DECIMAL(26,6),
      |      forecast: DECIMAL(26,6)>>),
      |    'l', CAST(NULL AS DECIMAL(26,6)),
      |    'b', CAST(NULL AS DECIMAL(26,6))),
      |  (acc, e) -> named_struct(
      |    'rows', array_append(acc.rows, named_struct(
      |      'day_us', e.day_us, 'x', e.x,
      |      'level', $lvl, 'trend', $trd, 'forecast', $fct)),
      |    'l', $lvl,
      |    'b', $trd),
      |  acc -> acc.rows)""".stripMargin
    packed.select(F.col("event_type"), F.explode(F.expr(fold)).as("r"))
      .select(F.col("event_type"), F.col("r.day_us").as("day_us"),
        F.col("r.x").as("n_events"),
        F.col("r.level").cast("double").as("level"),
        F.col("r.trend").cast("double").as("trend"),
        F.col("r.forecast").cast("double").as("forecast"),
        (F.col("r.x").cast("decimal(26,6)") - F.col("r.forecast"))
          .cast("double").as("residual"))
  }

  /** Holt-Winters ADDITIVE seasonal smoothing, weekly period — the
    * triple-exponential completion of [[holtLinear]] (Winters '60;
    * fpp ch.8.3), for the dominant pattern in event volumes:
    *
    *   l_t = round(α(x_t − s_{t−7}) + (1−α)(l_{t−1}+b_{t−1}), 6)
    *   b_t = round(β(l_t − l_{t−1}) + (1−β)b_{t−1}, 6)
    *   s_t = round(γ(x_t − l_t) + (1−γ)s_{t−7}, 6)
    *   forecast_t = l_{t−1} + b_{t−1} + s_{t−7}
    *
    * Init is the FLAT start (l_1 = x_1, b_1 = 0, all seasonal slots
    * 0) — deterministic and total on any series length, documented in
    * place of the textbook first-season average (which both engines
    * would also have to replay; flat is the simpler shared contract).
    * Same exactness discipline as [[holtLinear]]: every state rounds
    * HALF_UP to DECIMAL scale 6 before feeding the next step, so the
    * Spark fold and the DuckDB recursive-CTE twin (seasonal state as
    * seven columns) walk identical sequences. Same calendar-bounded
    * per-type fold; day gaps densify to x = 0.
    */
  def holtWinters(events: DataFrame, alpha: String = "0.2",
                  beta: String = "0.1", gamma: String = "0.3"): DataFrame = {
    Seq(alpha, beta, gamma).foreach(p =>
      require(BigDecimal(p) > 0 && BigDecimal(p) < 1, "0 < param < 1"))
    val dayUs = 24L * 3600 * 1000 * 1000
    val us = usOf(F.col("ts"))
    val a1 = (BigDecimal(1) - BigDecimal(alpha)).toString
    val b1 = (BigDecimal(1) - BigDecimal(beta)).toString
    val g1 = (BigDecimal(1) - BigDecimal(gamma)).toString
    val counts = events
      .select(F.col("event_type"), (us - F.pmod(us, F.lit(dayUs))).as("day_us"))
      .groupBy("event_type", "day_us").agg(F.count(F.lit(1)).as("x"))
    val cal = counts.groupBy("event_type")
      .agg(F.min("day_us").as("d0"), F.max("day_us").as("d1"))
    val dense = cal
      .select(F.col("event_type"), F.col("d0"),
        F.explode(F.sequence(F.col("d0"), F.col("d1"), F.lit(dayUs)))
          .as("day_us"))
      .join(counts, Seq("event_type", "day_us"), "left")
      .select(F.col("event_type"), F.col("day_us"),
        ((F.col("day_us") - F.col("d0")) / dayUs).cast("long").as("idx"),
        F.coalesce(F.col("x"), F.lit(0L)).as("x"))
    val packed = dense.groupBy("event_type")
      .agg(F.array_sort(F.collect_list(F.struct(
        F.col("idx"), F.col("day_us"), F.col("x")))).as("xs"))
    val sPrev = "element_at(acc.s, CAST(e.idx % 7 AS INT) + 1)"
    val lNew = s"CASE WHEN acc.l IS NULL THEN CAST(e.x AS DECIMAL(26,6)) " +
      s"ELSE CAST(round($alpha * (e.x - $sPrev) + $a1 * (acc.l + acc.b), 6) " +
      s"AS DECIMAL(26,6)) END"
    val bNew = s"CASE WHEN acc.l IS NULL THEN CAST(0 AS DECIMAL(26,6)) " +
      s"ELSE CAST(round($beta * (($lNew) - acc.l) + $b1 * acc.b, 6) " +
      s"AS DECIMAL(26,6)) END"
    val sNew = s"CAST(round($gamma * (e.x - ($lNew)) + $g1 * $sPrev, 6) " +
      s"AS DECIMAL(26,6))"
    val fc = s"CASE WHEN acc.l IS NULL THEN CAST(NULL AS DECIMAL(26,6)) " +
      s"ELSE CAST(acc.l + acc.b + $sPrev AS DECIMAL(26,6)) END"
    val fold = s"""aggregate(
      |  xs,
      |  named_struct(
      |    'rows', CAST(array() AS ARRAY<STRUCT<day_us: BIGINT, x: BIGINT,
      |      level: DECIMAL(26,6), trend: DECIMAL(26,6),
      |      seasonal: DECIMAL(26,6), forecast: DECIMAL(26,6)>>),
      |    'l', CAST(NULL AS DECIMAL(26,6)),
      |    'b', CAST(NULL AS DECIMAL(26,6)),
      |    's', array_repeat(CAST(0 AS DECIMAL(26,6)), 7)),
      |  (acc, e) -> named_struct(
      |    'rows', array_append(acc.rows, named_struct(
      |      'day_us', e.day_us, 'x', e.x,
      |      'level', $lNew, 'trend', $bNew,
      |      'seasonal', $sNew, 'forecast', $fc)),
      |    'l', $lNew,
      |    'b', $bNew,
      |    's', transform(acc.s, (v, i) ->
      |      CASE WHEN i = CAST(e.idx % 7 AS INT) THEN $sNew ELSE v END)),
      |  acc -> acc.rows)""".stripMargin
    packed.select(F.col("event_type"), F.explode(F.expr(fold)).as("r"))
      .select(F.col("event_type"), F.col("r.day_us").as("day_us"),
        F.col("r.x").as("n_events"),
        F.col("r.level").cast("double").as("level"),
        F.col("r.trend").cast("double").as("trend"),
        F.col("r.seasonal").cast("double").as("seasonal"),
        F.col("r.forecast").cast("double").as("forecast"),
        (F.col("r.x").cast("decimal(26,6)") - F.col("r.forecast"))
          .cast("double").as("residual"))
  }

  def acf(events: DataFrame, maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, "maxLag must be at least 1")
    val dayUs = 24L * 3600 * 1000 * 1000
    val us = usOf(F.col("ts"))
    val counts = events
      .select(F.col("event_type"), (us - F.pmod(us, F.lit(dayUs))).as("day_us"))
      .groupBy("event_type", "day_us").agg(F.count(F.lit(1)).as("x"))
    val cal = counts.groupBy("event_type")
      .agg(F.min("day_us").as("d0"), F.max("day_us").as("d1"))
      .select(F.col("event_type"),
        F.explode(F.sequence(F.col("d0"), F.col("d1"), F.lit(dayUs)))
          .as("day_us"))
    val daily = cal.join(counts, Seq("event_type", "day_us"), "left")
      .select(F.col("event_type"), F.col("day_us"),
        F.coalesce(F.col("x"), F.lit(0L)).as("x"))
    val stats = daily.groupBy("event_type")
      .agg(F.count(F.lit(1)).as("n_days"), F.sum("x").as("sx"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val dev = daily.join(F.broadcast(stats), "event_type")
      .select(F.col("event_type"), F.col("day_us"), F.col("n_days"),
        (dec(F.col("n_days")) * dec(F.col("x")) - dec(F.col("sx"))).as("d"))
    val lagged = dev
      .select(F.col("event_type"), F.col("day_us"), F.col("n_days"),
        F.col("d").as("da"),
        F.explode(F.sequence(F.lit(0L), F.lit(maxLag.toLong))).as("lag"))
      .withColumn("day_b", F.col("day_us") + F.col("lag") * F.lit(dayUs))
    val nums = lagged
      .join(dev.select(F.col("event_type"), F.col("day_us").as("day_b"),
        F.col("d").as("db")), Seq("event_type", "day_b"))
      .groupBy("event_type", "lag")
      .agg(F.max("n_days").as("n_days"),
        F.sum(dec(F.col("da")) * dec(F.col("db"))).as("num"))
    val den = nums.where(F.col("lag") === 0L)
      .select(F.col("event_type"), F.col("num").as("den"))
    nums.join(F.broadcast(den), "event_type")
      .select(F.col("event_type"), F.col("lag"),
        F.col("n_days"),
        F.expr("CASE WHEN den > 0 THEN CAST((CASE WHEN num >= 0 " +
          "THEN (num * CAST(1000000 AS DECIMAL(38,0))) div den " +
          "ELSE -((-(num * CAST(1000000 AS DECIMAL(38,0)))) div den) END) " +
          "AS BIGINT) ELSE NULL END").as("acf_ppm"))
  }
}
