package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Windowed aggregation over the `events` table — the streaming-shaped
  * extension (the reference itself is pure batch, SURVEY.md §2.7).
  *
  * `hourly` is written against a plain DataFrame so the SAME transform
  * runs in batch (for the oracle gate) and under Structured Streaming
  * (`spark.readStream` in, `hourly` applied, watermark added by the
  * caller) — tested both ways in EventWindowsSpec.
  *
  * Oracle-parity note: no floating-point SUM/AVG in the output — sums
  * over doubles are accumulation-order-dependent across engines.
  * min/max/count are order-insensitive and exact.
  */
object EventWindows {

  /** Tumbling 1-hour counts per event_type. hour_epoch = window start
    * in epoch seconds (BIGINT — timestamp dtype drift between engines
    * is avoided entirely).
    *
    * SCALE NOTE: `countDistinct(user_id)` is exact — the gate
    * semantics — and shuffles every distinct (hour, user) pair, i.e.
    * activity-sized at 100 TB. `hourlyUsersHll` is the designed scale
    * twin: the same hour buckets with a bounded ≤`HllBuckets`-counter
    * sketch per hour (and bucket-wise-MAX rollups for free); reach for
    * it whenever exact per-hour distincts stop being worth that
    * shuffle.
    */
  def hourly(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"))
      .select(
        col("w.start").cast("long").as("hour_epoch"),
        col("event_type"), col("n_events"), col("n_users"),
        col("max_value"), col("min_value"))

  /** Distinct users per hour as an HLL SKETCH per window — the
    * bounded-state form of `hourly`'s exact `countDistinct`: one
    * integer sketch state (+ raw estimate) row per hour, shuffling at
    * most `HllBuckets` counters per hour instead of every distinct
    * (hour, user) pair. At 100 TB of events the exact form's shuffle
    * is corpus-sized; this one is `hours × 512` rows — and per-hour
    * states merge by bucket-wise MAX, so daily/weekly rollups come
    * from the hourly sketches without touching events again. Hour
    * bucketing is the SAME epoch-aligned `window(ts, '1 hour')`
    * expression `hourly` groups by — timezone-independent, so the two
    * operators agree in every session timezone (a `date_trunc('HOUR')`
    * bucket would truncate in the session zone and drift 30 minutes
    * from the epoch grid under a +05:30-style offset); the
    * estimate/correction contract matches `vocabHll` (raw estimator
    * in the row, linear-counting correction left to the consumer via
    * `n_empty`).
    */
  def hourlyUsersHll(events: DataFrame): DataFrame =
    graft.operators.TextOps.hllState(
      events.select(
        window(col("ts"), "1 hour").getField("start").cast("long")
          .as("hour_epoch"),
        col("user_id").cast("string").as("uid")),
      Seq("hour_epoch"), col("uid"))

  /** Slide width for `hourlySliding` (minutes). */
  val SlideMinutes = 15

  /** SLIDING 1-hour counts per event_type, advancing every
    * `slideMinutes` — the smoothed-rate view tumbling windows can't
    * give (a spike straddling a tumble boundary halves; a slide
    * catches it whole in some window). Each event replicates into
    * 60/slide windows via the `window()` generator — a map-stage
    * fanout, then the same map-side-combined aggregation as `hourly`;
    * under `readStream` + a watermark the identical transform runs as
    * a streaming windowed aggregation (the `hourly` batch≡streaming
    * story, slid). Epoch-aligned starts, emitted as BIGINT seconds
    * like every hourly gate.
    */
  def hourlySliding(events: DataFrame,
      slideMinutes: Int = SlideMinutes): DataFrame = {
    require(slideMinutes > 0 && 60 % slideMinutes == 0,
      s"slideMinutes must divide 60, got $slideMinutes")
    events
      .groupBy(window(col("ts"), "1 hour", s"$slideMinutes minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").cast("long").as("win_epoch"),
        col("event_type"), col("n_events"))
  }

  /** Trailing-baseline span (hours) for `hourlyAnomaly`. Same constant
    * MUST appear in the oracle SQL.
    */
  val AnomalyTrailingHours = 24

  /** Hourly rate-anomaly statistics per event type — the ingest-spike
    * / outage detector a pipeline runs over its event firehose. Each
    * (hour, type) bucket reports its count, the trailing
    * `AnomalyTrailingHours`-hour baseline total, how many of those
    * trailing hour-slots actually had events, and the spike ratio
    * `cnt · trailing · 1e6 div baseline` (current vs trailing MEAN
    * assuming a full window, in ppm; -1 when the baseline is empty —
    * cold start). The spike/dip THRESHOLD is deliberately the
    * consumer's: this operator emits exact integer statistics, not
    * policy. Cold-start caveat: buckets whose trailing span is only
    * partially covered (n_baseline_hours < trailing) inflate the
    * ratio — gate on n_baseline_hours before alerting.
    *
    * Scale shape: the only event-sized operation is the map-side-
    * combined (hour, type) count (same epoch-aligned hour bucket as
    * every hourly operator); the baseline pass is a RANGE window
    * keyed by event_type over the HOURS-sized count relation — state
    * per key is the trailing-span row slice, i.e. ≤ trailing rows,
    * and the relation a year of data feeds it is 8 760 rows per type,
    * not events. RANGE (not ROWS) on the epoch key makes absent hours
    * contribute zero instead of silently stretching the window.
    */
  def hourlyAnomaly(events: DataFrame,
      trailingHours: Int = AnomalyTrailingHours): DataFrame = {
    require(trailingHours >= 1,
      s"trailingHours must be >= 1, got $trailingHours")
    val h = events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").cast("long").as("hour_epoch"),
        col("event_type"), col("cnt"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour_epoch")
      .rangeBetween(-trailingHours * 3600L, -3600L)
    h.withColumn("baseline_cnt", coalesce(sum(col("cnt")).over(win), lit(0L)))
      .withColumn("n_baseline_hours",
        coalesce(count(lit(1)).over(win), lit(0L)))
      .withColumn("ratio_ppm", when(col("baseline_cnt") === 0L, lit(-1L))
        .otherwise(expr(s"cnt * ${trailingHours}L * 1000000L div baseline_cnt")))
  }

  /** CUSUM geometry: allowance divisor (slack k = μ/`CusumSlackDen`,
    * i.e. tuned to flag sustained ~50% shifts at den=4) and alarm
    * threshold in mean-units (h = `CusumAlarmMeans`·μ). Same constants
    * MUST appear in the oracle SQL.
    */
  val CusumSlackDen = 4L
  val CusumAlarmMeans = 5L

  /** CUSUM changepoint detection over the hourly event-rate series —
    * the drift detector that catches SUSTAINED small shifts
    * `hourlyAnomaly`'s single-bucket spike ratio can't (Page 1954):
    * per event type, the two one-sided cumulative sums
    * `S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − k))` and
    * `S⁻_t = max(0, S⁻_{t−1} + (μ − k − x_t))` with allowance
    * k = μ/`CusumSlackDen`, alarmed when either exceeds
    * h = `CusumAlarmMeans`·μ. The recurrence is NOT computed
    * sequentially: `max(0, ·)`-reset running sums obey the prefix
    * identity `S_t = P_t − min(0, min_{i≤t} P_i)` over the plain
    * prefix sums P, so both sides are two WINDOW functions — exact,
    * order-free integer arithmetic (milli-count units, integer μ =
    * total·1000 div n_hours) that the oracle mirrors token for token.
    * The hour spine is ZERO-FILLED per type between that type's first
    * and last active hour (an outage is a run of zero counts — absent
    * rows must drive S⁻ up, not silently vanish).
    *
    * Scale shape: the only event-sized operation is the map-side-
    * combined (hour, type) count; the spine, prefix windows and alarm
    * columns run over the HOURS-sized relation (8 760 rows/type/year).
    * The per-type running windows are sequential WITHIN a type —
    * inherent to any CUSUM — but types parallelize and nothing
    * event-sized reaches a window.
    */
  def cusum(events: DataFrame): DataFrame = {
    val h = events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").cast("long").as("hour_epoch"),
        col("event_type"), col("cnt"))
    val span = h.groupBy("event_type").agg(
      min("hour_epoch").as("h0"), max("hour_epoch").as("h1"),
      sum("cnt").as("total"))
    val spine = span.select(col("event_type"), col("total"),
        expr("(h1 - h0) div 3600 + 1").as("n_hours"),
        explode(sequence(col("h0"), col("h1"), lit(3600L)))
          .as("hour_epoch"))
    val filled = spine.join(h, Seq("event_type", "hour_epoch"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("mu_milli", expr("total * 1000 div n_hours"))
      .withColumn("slack_milli", expr(s"mu_milli div $CusumSlackDen"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("hour_epoch")
      .rowsBetween(Long.MinValue, 0L)
    filled
      .withColumn("p_hi",
        sum(expr("cnt * 1000 - mu_milli - slack_milli")).over(win))
      .withColumn("p_lo",
        sum(expr("mu_milli - slack_milli - cnt * 1000")).over(win))
      .withColumn("cusum_hi_milli",
        col("p_hi") - least(lit(0L), min(col("p_hi")).over(win)))
      .withColumn("cusum_lo_milli",
        col("p_lo") - least(lit(0L), min(col("p_lo")).over(win)))
      .select(col("event_type"), col("hour_epoch"), col("cnt"),
        col("mu_milli"), col("cusum_hi_milli"), col("cusum_lo_milli"),
        when(col("cusum_hi_milli") > expr(s"$CusumAlarmMeans * mu_milli"),
          lit(1L)).otherwise(lit(0L)).as("alarm_hi"),
        when(col("cusum_lo_milli") > expr(s"$CusumAlarmMeans * mu_milli"),
          lit(1L)).otherwise(lit(0L)).as("alarm_lo"))
  }

  case class CusumRow(event_type: String, hour_epoch: Long, cnt: Long,
    mu_milli: Long, cusum_hi_milli: Long, cusum_lo_milli: Long,
    alarm_hi: Long, alarm_lo: Long)
  case class CusumState(last: Long, sHi: Long, sLo: Long)

  /** The frozen CUSUM reference: per-type μ in milli-counts derived
    * exactly as the windowed `cusum` derives it (total·1000 div
    * span-hours over the zero-filled spine) — one ≤|types|-row
    * driver collect. A deployment freezes this from a calibration
    * window; deriving it from the scanned corpus keeps the
    * stateful ≡ windowed law exact.
    */
  def cusumReference(events: DataFrame): Map[String, Long] =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").cast("long").as("hour_epoch"),
        col("event_type"), col("cnt"))
      .groupBy("event_type")
      .agg(min("hour_epoch").as("h0"), max("hour_epoch").as("h1"),
        sum("cnt").as("total"))
      .select(col("event_type"),
        expr("total * 1000 div ((h1 - h0) div 3600 + 1)").as("mu"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** CUSUM as an explicit per-type STATE MACHINE
    * (`flatMapGroupsWithState`) — the STREAMING deployment of the
    * drift detector: a frozen per-type reference μ (what a production
    * monitor calibrates offline — the windowed `cusum` re-derives μ
    * from the full span, which no stream can know), 12 bytes of state
    * per type (last folded hour + both one-sided sums), zero-filled
    * gaps folded on arrival so an outage raises S⁻ exactly as the
    * batch spine does. Kept semantically identical to `cusum` given
    * the same μ — the gate shares its oracle SQL VERBATIM, and the
    * streaming micro-batch replay is spec-pinned chained ≡ one-shot.
    *
    * Admission contract: each hour is WHOLLY CONTAINED in one
    * micro-batch, and batches arrive in hour order per type (the
    * shape an hourly-triggered ingestion of an append-only log
    * produces). Strictly-increasing is the enforceable core of that:
    * every emitted hour's row is FINAL (Append mode cannot retract),
    * so a same-hour continuation in a later batch cannot fold
    * additively into an already-emitted row — it is rejected by a
    * loud require naming this contract, not silently double-counted
    * or dropped. Callers batching on sub-hour triggers must
    * pre-aggregate to closed hours upstream (the watermark pattern).
    *
    * Scale: state is O(1) per event type; each invocation buffers one
    * micro-batch's (type, hour) pairs — bounded by the batch, never
    * the history.
    */
  def cusumStateful(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, muMilliByType: Map[String, Long]): DataFrame = {
    import spark.implicits._
    val slackDen = CusumSlackDen
    val alarmMeans = CusumAlarmMeans
    events
      .select(col("event_type"),
        expr("(unix_seconds(ts) div 3600) * 3600").as("hour_epoch"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, CusumRow](OutputMode.Append,
        GroupStateTimeout.NoTimeout) { (typ, rows, state) =>
        val mu = muMilliByType.getOrElse(typ, 0L)
        val slack = mu / slackDen
        val alarmAt = alarmMeans * mu
        val counts = rows.toArray.groupBy(_._2).view
          .mapValues(_.length.toLong).toSeq.sortBy(_._1)
        if (counts.isEmpty) Iterator.empty
        else {
          val first = counts.head._1
          var st = state.getOption
            .getOrElse(CusumState(first - 3600L, 0L, 0L))
          require(first > st.last,
            s"cusumStateful($typ): each hour must be wholly contained " +
              s"in one micro-batch and batches must advance in hour " +
              s"order (emitted rows are final — Append mode cannot " +
              s"retract); got hour $first after hour ${st.last} was " +
              s"already folded and emitted. Pre-aggregate to closed " +
              s"hours upstream if the trigger is sub-hour.")
          val byHour = counts.toMap
          val lastHour = counts.last._1
          val out = ((st.last + 3600L) to lastHour by 3600L).map { h =>
            val cnt = byHour.getOrElse(h, 0L)
            st = CusumState(h,
              math.max(0L, st.sHi + (cnt * 1000L - mu - slack)),
              math.max(0L, st.sLo + (mu - slack - cnt * 1000L)))
            CusumRow(typ, h, cnt, mu, st.sHi, st.sLo,
              if (st.sHi > alarmAt) 1L else 0L,
              if (st.sLo > alarmAt) 1L else 0L)
          }
          state.update(st)
          out.iterator
        }
      }
      .toDF()
  }

  /** RFM user profile — recency / frequency / monetary, the classic
    * behavioral segmentation triple, computed all-integer: recency in
    * whole days from each user's last event to the CORPUS's last
    * event (a data-derived anchor, so re-running tomorrow on the same
    * data gives the same answer — wall-clock anchors don't),
    * frequency = event count, monetary = Σ ⌊value·1e6⌋ over FINITE
    * values (per-row floor to fixed-point THEN an integer sum —
    * order-independent, the float-parity rule; the finiteness guard
    * is the qsketch contract). Null/non-finite-only users report a
    * null monetary, honestly.
    *
    * Scale shape: one user-keyed aggregation with map-side combine;
    * the anchor is a 1-row broadcast cross join. Bucketing into
    * segments (quintiles etc.) is consumer arithmetic or the exact-
    * rank machinery — not baked in here.
    */
  def rfm(events: DataFrame): DataFrame = {
    val e = events.select(col("user_id"), unix_micros(col("ts")).as("us"),
      col("value"))
    val anchor = e.agg(max(col("us")).as("anchor"))
    e.groupBy("user_id")
      .agg(
        max(col("us")).as("last_us"),
        count(lit(1)).as("frequency"),
        sum(when(abs(col("value")) < Double.PositiveInfinity,
          floor(col("value") * lit(1000000.0)).cast("long")))
          .as("monetary_fp"))
      .crossJoin(broadcast(anchor))
      .select(col("user_id"),
        expr("(anchor - last_us) div 86400000000").as("recency_days"),
        col("frequency"), col("monetary_fp"))
  }

  /** Trailing window of `activeUsers`' wide distinct, in days. */
  val ActiveTrailingDays = 7

  /** DAILY ACTIVE-USER rollup: for every epoch-aligned UTC day with
    * any activity, the exact distinct-user count that day (DAU), the
    * exact distinct-user count over the trailing `trailingDays` days
    * ending that day (WAU at the default 7), and the DAU/WAU
    * stickiness ratio in ppm (truncating integer division — the
    * float-parity rule) — the engagement triple every usage dashboard
    * leads with. Day buckets are the epoch-aligned
    * `window(ts, '1 day')` grid (timezone-independent, same reasoning
    * as `hourly`'s hour grid), reported as the window start in epoch
    * seconds.
    *
    * The trailing distinct is computed by FANOUT, not a range join:
    * each distinct (day, user) activity pair covers days
    * day..day+trailingDays−1, and a second distinct over the covered
    * pairs makes each user count once per covered day. Cost is
    * trailingDays× the DISTINCT activity-pair relation — already
    * day-deduplicated, orders of magnitude under the event count —
    * and every stage is a plain hash shuffle with map-side combine;
    * a per-user range join or a day-window over per-user rows would
    * re-sort activity-sized data instead. Days with zero activity
    * don't report (their DAU is 0; a calendar spine is a consumer
    * join), and the first trailingDays−1 days honestly report the
    * partial-window distinct, like `hourlyAnomaly`'s cold start.
    */
  def activeUsers(events: DataFrame,
      trailingDays: Int = ActiveTrailingDays): DataFrame = {
    require(trailingDays >= 1,
      s"trailingDays must be >= 1, got $trailingDays")
    val daySec = 86400L
    val ud = events
      .select(window(col("ts"), "1 day").getField("start").cast("long")
        .as("day_epoch"), col("user_id"))
      .distinct()
    val dau = ud.groupBy("day_epoch").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(explode(sequence(col("day_epoch"),
          col("day_epoch") + lit((trailingDays - 1) * daySec),
          lit(daySec))).as("day_epoch"), col("user_id"))
      .distinct()
      .groupBy("day_epoch").agg(count(lit(1)).as("wau"))
    // inner join: only days with their own activity report (covered
    // days past the data's end would otherwise emit WAU-only rows);
    // both sides are days-sized — AQE broadcasts whichever is built
    dau.join(wau, Seq("day_epoch"))
      .select(col("day_epoch"), col("dau"), col("wau"),
        expr("dau * 1000000L div wau").as("stickiness_ppm"))
  }

  /** `activeUsers`' BOUNDED-STATE twin: per-day HLL sketches of the
    * user set, with the trailing-`trailingDays` WAU obtained by
    * MERGING the daily bucket-max states (max is associative and
    * idempotent — the whole point of sketch state) instead of
    * re-touching events. `activeUsers`' exact fanout shuffles the
    * distinct (day, user) relation ×7; this shuffles days × 512
    * counter rows, full stop — the 100 TB posture, and the same
    * hourly/hourlyUsersHll pairing one level up the calendar.
    * Output per active day: the merged trailing-window state
    * (m, n_empty, harmonic_scaled, est_raw) under the vocabHll
    * estimate/correction contract. User ids are PRE-MIXED exactly
    * like `Profile.profileHll` (short digit renderings are affine
    * under PolyHash — half the buckets would be unreachable).
    */
  def activeUsersHll(events: DataFrame,
      trailingDays: Int = ActiveTrailingDays): DataFrame = {
    require(trailingDays >= 1,
      s"trailingDays must be >= 1, got $trailingDays")
    import graft.functions.PolyHashFunctions.poly_hash60
    val daySec = 86400L
    val u = col("user_id").cast("string")
    val rel = events.select(
      window(col("ts"), "1 day").getField("start").cast("long")
        .as("day_epoch"),
      poly_hash60(u).cast("string").as("item"))
    val daily = graft.Caches.track(
      graft.operators.TextOps.hllBucketMax(rel, Seq("day_epoch"),
          col("item"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val merged = graft.operators.TextOps.hllFinalize(
      daily.select(explode(sequence(col("day_epoch"),
          col("day_epoch") + lit((trailingDays - 1) * daySec),
          lit(daySec))).as("day_epoch"), col("bucket"), col("mr"))
        .groupBy("day_epoch", "bucket").agg(max(col("mr")).as("mr")),
      Seq("day_epoch"))
    // like activeUsers: only days with their OWN activity report
    merged.join(daily.select("day_epoch").distinct(), Seq("day_epoch"))
  }

  /** MULTI-TOUCH ATTRIBUTION summary: for every conversion (purchase
    * event), the click touches inside its trailing `windowUs`
    * attribution window — touch count plus the first- and last-touch
    * click ids, the three numbers every position-based attribution
    * model (first/last/U-shaped) is computed from. Zero-touch
    * conversions REPORT (n_touches = 0, ids = -1 sentinel): organic
    * conversions are the denominator an attribution report needs, so
    * the touch join is LEFT. Deterministic: first/last are argmin/
    * argmax over the (click_us, click_id) struct — same-microsecond
    * clicks break by id.
    *
    * Scale shape: the touch pairing is `IntervalJoin.intervalJoin`
    * (bucket-decomposed equi-join on (user, time-bucket) — never a
    * per-user cross product), then one conversion-keyed aggregation
    * with map-side combine and one left join back to the conversion
    * relation. Window length = `FunnelWindowUs` by default — the same
    * 24 h the windowed funnel uses.
    */
  def attribution(events: DataFrame,
      windowUs: Long = FunnelWindowUs): DataFrame = {
    require(windowUs > 0L, s"windowUs must be positive, got $windowUs")
    val convs = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"),
        unix_micros(col("ts")).as("conv_us"))
      .withColumn("win_start", col("conv_us") - windowUs)
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"))
    val touched = graft.operators.IntervalJoin.intervalJoin(
        clicks, convs, Seq("user_id"), "click_us", "win_start", "conv_us",
        windowUs)
      .groupBy("conv_id")
      .agg(count(lit(1)).as("n_touches"),
        min_by(col("click_id"),
          struct(col("click_us"), col("click_id"))).as("first_click_id"),
        max_by(col("click_id"),
          struct(col("click_us"), col("click_id"))).as("last_click_id"))
    convs.select(col("conv_id"), col("user_id"))
      .join(touched, Seq("conv_id"), "left")
      .select(col("conv_id"), col("user_id"),
        coalesce(col("n_touches"), lit(0L)).as("n_touches"),
        coalesce(col("first_click_id"), lit(-1L)).as("first_click_id"),
        coalesce(col("last_click_id"), lit(-1L)).as("last_click_id"))
  }

  /** k for the `events_hourly_top` gate. */
  val HourlyTopK = 3

  /** Per-hour heavy hitters: each hour's top-k users by event count
    * (count desc, user_id asc — fully deterministic). The per-window
    * twin of the corpus-global CMS/top-k machinery, and the query
    * every ops dashboard runs ("who dominated this window?").
    *
    * Scale shape: the only event-sized operation is the map-side-
    * combined (hour, user) count; the ranking then runs through the
    * heap-based TopKPerKey physical operator — k-bounded memory per
    * hour, NO window sort, so a month of hours × millions of users
    * never materializes a per-partition sort buffer. Hour bucketing is
    * the same epoch-aligned `window(ts, '1 hour')` the other hourly
    * operators use (see `hourlyUsersHll`'s timezone note).
    */
  def hourlyTopUsers(events: DataFrame, k: Int = HourlyTopK): DataFrame = {
    val counts = events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").cast("long").as("hour_epoch"),
        col("user_id"), col("n_events"))
    graft.plans.TopK.perKey(counts, Seq("hour_epoch"),
        Seq(col("n_events").desc, col("user_id").asc), k)
      .select("hour_epoch", "rank", "user_id", "n_events")
  }

  /** Stage sequence for the `events_funnel` gate query. Same constant
    * MUST appear in the oracle SQL.
    */
  val FunnelStages: Seq[String] = Seq("view", "click", "purchase")

  /** Ordered conversion funnel: how many users performed stage 1, then
    * stage 2 STRICTLY AFTER their first stage-1 event, then stage 3
    * strictly after that earliest qualifying stage-2 event, and so on —
    * the greedy earliest-qualifying-event semantics every funnel tool
    * uses (deterministic: each threshold is a MIN over int64
    * microseconds). Output: one `(stage_idx, stage, n_users)` row per
    * stage, n_users non-increasing.
    *
    * Scale shape: events are filtered to the funnel's types and
    * projected to 3 narrow columns ONCE (cache-leased), then each
    * stage is one user-keyed equi-join of that relation against the
    * previous stage's per-user threshold (user-sized, NOT event-sized)
    * followed by a map-side-combined min. k stages = k bounded
    * shuffles of the filtered relation — never a per-user sort or a
    * collect of event lists, so a celebrity user costs nothing special.
    */
  def funnel(events: DataFrame,
      stages: Seq[String] = FunnelStages): DataFrame =
    funnelChain(events, stages, None)

  /** Per-stage conversion window for the `events_funnel_windowed`
    * gate: 24 hours in MICROSECONDS. Same constant MUST appear in the
    * oracle SQL.
    */
  val FunnelWindowUs = 86400000000L

  /** `funnel` with a per-stage conversion WINDOW — stage k counts only
    * if it happens within `windowUs` of the user's stage-(k−1)
    * threshold (the Amplitude-style funnel refinement; an unwindowed
    * funnel credits a purchase months after the click). Semantics stay
    * GREEDY earliest-qualifying: each threshold is the min qualifying
    * event after the previous one — a deliberately deterministic
    * contract, not an optimal event-matching (a later stage-1 event
    * could sometimes rescue a conversion greedy forgoes; every
    * mainstream funnel tool makes the same trade). Identical plan
    * shape and scale story as `funnel` — the window is one extra
    * predicate inside each stage join.
    */
  def funnelWindowed(events: DataFrame,
      stages: Seq[String] = FunnelStages,
      windowUs: Long = FunnelWindowUs): DataFrame = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    funnelChain(events, stages, Some(windowUs))
  }

  private def funnelChain(events: DataFrame, stages: Seq[String],
      windowUs: Option[Long]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.distinct.size == stages.size,
      s"funnel stages must be distinct, got $stages")
    val e = graft.Caches.track(events
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var thr = e.filter(col("event_type") === stages.head)
      .groupBy("user_id").agg(min(col("us")).as("t"))
    var rows = thr.agg(count(lit(1)).as("n_users"))
      .select(lit(0L).as("stage_idx"), lit(stages.head).as("stage"),
        col("n_users"))
    stages.tail.zipWithIndex.foreach { case (s, i) =>
      val qualifies = windowUs match {
        case Some(w) => col("us") > col("t") && col("us") <= col("t") + w
        case None => col("us") > col("t")
      }
      thr = e.filter(col("event_type") === s)
        .join(thr, "user_id")
        .filter(qualifies)
        .groupBy("user_id").agg(min(col("us")).as("t"))
      rows = rows.unionByName(thr.agg(count(lit(1)).as("n_users"))
        .select(lit((i + 1).toLong).as("stage_idx"), lit(s).as("stage"),
          col("n_users")))
    }
    rows
  }

  /** Offset horizon for the `events_retention` gate query. Same
    * constant MUST appear in the oracle SQL.
    */
  val RetentionMaxOffset = 7L

  /** Cohort retention: users cohorted by their FIRST active day (UTC
    * epoch-day = `unix_micros div 86400e6`, exact integer), then one
    * `(cohort_day, day_offset, n_users)` row per cohort × offset with
    * at least one active user, `day_offset <= maxOffset`. Offset 0 is
    * the cohort size; n_users at higher offsets is the classic
    * retention curve. A user counts once per active day (distinct
    * (user, day) first), so event volume never inflates retention.
    *
    * Scale shape: one distinct over (user, day) — the only shuffle
    * proportional to activity, and map-side partial distinct collapses
    * each user's same-day events before it — then a user-keyed join
    * against the user-sized cohort relation and a final aggregation on
    * (cohort, offset) keys (≤ days × maxOffset groups). No windows, no
    * per-user buffers.
    */
  def retention(events: DataFrame,
      maxOffset: Long = RetentionMaxOffset): DataFrame = {
    require(maxOffset >= 0, s"maxOffset must be >= 0, got $maxOffset")
    val days = events
      .select(col("user_id"),
        expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val cohorts = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, "user_id")
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
      .filter(col("day_offset") <= maxOffset)
      .groupBy("cohort_day", "day_offset")
      .agg(count(lit(1)).as("n_users"))
  }

  case class FunnelEv(user_id: Long, us: Long, stage_idx: Int)
  case class FunnelProgress(reached: Int, thr: Long,
    lastUs: Long = Long.MinValue)

  /** The funnel as an explicit per-user STATE MACHINE
    * (`mapGroupsWithState`) — the escape hatch for funnel logic the
    * join form can't express (per-stage time windows, abandon/reset
    * rules, early per-user emission at ingest). Kept semantically
    * identical to `funnel` here so the two are cross-checkable: a
    * forward scan in (ts, stage) order advancing one stage per
    * qualifying event computes exactly the greedy
    * earliest-qualifying-event thresholds. Output schema and counts
    * match `funnel`; the gate query shares its oracle.
    *
    * Batch mode visits each user once (events buffered and sorted
    * in-group — bounded by ONE user's funnel-typed events, the same
    * buffer session_window holds; a celebrity user with millions of
    * funnel events concentrates that sort in a single task, which is
    * exactly the load the join-form `funnel` spreads — prefer `funnel`
    * unless you need per-user state rules); a streaming deployment
    * keeps `FunnelProgress` (8+4 bytes) per user in the state store
    * and needs only the stage counts aggregated downstream.
    */
  def funnelStateful(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, stages: Seq[String] = FunnelStages): DataFrame = {
    import spark.implicits._
    val reached = funnelReached(spark, events, stages)
    // a user reaching stage r counts toward stages 0..r-1; the
    // right-join against the stages.size-row relation restores
    // zero-user stages (the join form emits them as 0, so must we)
    val names = typedLit(stages)
    val stageRel = spark.range(stages.size).select(
      col("id").as("stage_idx"),
      element_at(names, col("id").cast("int") + 1).as("stage"))
    reached.toDF("user_id", "reached")
      .filter(col("reached") > 0)
      .select(explode(sequence(lit(0L), col("reached").cast("long") - 1L))
        .as("stage_idx"))
      .groupBy("stage_idx")
      .agg(count(lit(1)).as("n_users"))
      .join(stageRel, Seq("stage_idx"), "right")
      .select(col("stage_idx"), col("stage"),
        coalesce(col("n_users"), lit(0L)).as("n_users"))
  }

  /** The funnel state machine itself: per user, the furthest stage
    * reached under the greedy earliest-qualifying-event rule. The SAME
    * function serves batch (`funnelStateful` above — each group
    * visited once) and STREAMING (`mapGroupsWithState` keeps
    * `FunnelProgress` per user in the state store, so a user whose
    * stage-2 event arrives a micro-batch after their stage-1 event
    * still advances — the cross-batch carry the spec drives under a
    * real StreamingQuery in Update mode, where each batch re-emits the
    * users it advanced; `reached` is monotone non-decreasing, so the
    * final per-user value is the max over emissions).
    *
    * Streaming admission contract (the `cusumStateful` family): each
    * user's events arrive in event-time order ACROSS micro-batches —
    * the threshold in state is final once advanced, so an
    * out-of-order earlier event cannot retroactively qualify. Within
    * a batch the group sorts, so intra-batch disorder is fine. The
    * contract is ENFORCED: the state carries the last folded
    * timestamp, and a batch opening behind it fails a loud require
    * naming the contract instead of silently under-counting stages.
    */
  def funnelReached(spark: org.apache.spark.sql.SparkSession,
      events: DataFrame, stages: Seq[String] = FunnelStages)
      : org.apache.spark.sql.Dataset[(Long, Int)] = {
    import spark.implicits._
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(stages.distinct.size == stages.size,
      s"funnel stages must be distinct, got $stages")
    val stageIdx = stages.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, (s, i)) =>
        when(col("event_type") === s, lit(i)).otherwise(acc)
      }
    events
      .filter(col("event_type").isin(stages: _*))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        stageIdx.as("stage_idx"))
      .as[FunnelEv]
      .groupByKey(_.user_id)
      .mapGroupsWithState[FunnelProgress, (Long, Int)](
        GroupStateTimeout.NoTimeout) { (user, rows, state) =>
        // deterministic replay order: ts, then stage index on ties —
        // a same-ts later stage still fails the strict > threshold
        val sorted = rows.toArray.sortBy(e => (e.us, e.stage_idx))
        var st = state.getOption.getOrElse(FunnelProgress(0, Long.MinValue))
        if (sorted.nonEmpty)
          require(sorted.head.us >= st.lastUs,
            s"funnelReached(user $user): events must arrive in " +
              s"event-time order across micro-batches (the advanced " +
              s"threshold is final — a late earlier event cannot " +
              s"retroactively qualify); got us=${sorted.head.us} after " +
              s"us=${st.lastUs} was already folded. Buffer/sort " +
              "upstream (the watermark pattern) if the source " +
              "delivers out of order.")
        sorted.foreach { e =>
          if (st.reached < stages.size && e.stage_idx == st.reached &&
              (st.reached == 0 || e.us > st.thr))
            st = FunnelProgress(st.reached + 1, e.us, st.lastUs)
        }
        if (sorted.nonEmpty)
          st = FunnelProgress(st.reached, st.thr,
            math.max(st.lastUs, sorted.last.us))
        state.update(st)
        (user, st.reached)
      }
  }

  /** Semi-structured extraction: pull `k` out of the JSON `props`
    * column and aggregate per event_type — integer aggregation only
    * (exact across engines). `get_json_object` runs codegen'd; no UDF.
    */
  /** Variant count for the A/B gate. Same constant MUST appear in the
    * oracle SQL.
    */
  val AbVariants = 2L

  /** Deterministic experiment read-out: users are assigned to
    * `variants` arms by `poly_hash(user_id) mod variants` (the
    * hashSplit device — the assignment is reproducible across runs,
    * engines and re-ingests, which is what makes an offline lift
    * recomputation trustworthy), the population is every EXPOSED user
    * (≥1 view), conversion is ≥1 purchase, and revenue sums the
    * per-event ⌊value·1e6⌋ quantization — so all aggregation is long
    * arithmetic (float-parity rule). One row per arm: (variant,
    * n_users, n_converted, conv_ppm, revenue_ppm). The lift itself is
    * consumer arithmetic over two rows — deliberately not baked in.
    *
    * Shape: one user-keyed aggregation over the events scan, then a
    * ≤`variants`-row rollup. NaN/±Inf values are excluded from revenue
    * by the same finiteness predicate the qsketch family documents.
    */
  def abLift(events: DataFrame, variants: Long = AbVariants): DataFrame = {
    require(variants >= 2L && variants <= 64L,
      s"variants must be in [2, 64], got $variants")
    import graft.functions.PolyHashFunctions.poly_hash
    val perUser = events.groupBy("user_id").agg(
      max(when(col("event_type") === "view", 1L).otherwise(0L))
        .as("exposed"),
      max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"),
      coalesce(sum(when(col("event_type") === "purchase" &&
          col("value").isNotNull && !col("value").isNaN &&
          abs(col("value")) =!= Double.PositiveInfinity,
        floor(col("value") * lit(1000000.0)).cast("long"))), lit(0L))
        .as("rev_ppm"))
    perUser.filter(col("exposed") === 1L)
      .select(pmod(poly_hash(col("user_id").cast("string")), lit(variants))
        .as("variant"), col("converted"), col("rev_ppm"))
      .groupBy("variant").agg(
        count(lit(1)).as("n_users"),
        sum("converted").as("n_converted"),
        sum("rev_ppm").as("revenue_ppm"))
      .select(col("variant"), col("n_users"), col("n_converted"),
        expr("n_converted * 1000000 div n_users").as("conv_ppm"),
        col("revenue_ppm"))
  }

  /** χ² critical value for the SRM gate in milli-units (3.841 =
    * χ²₀.₀₅ at df = 1, the 2-arm case). Same constant MUST appear in
    * the oracle SQL.
    */
  val SrmCritMilli = 3841L

  /** SAMPLE-RATIO MISMATCH check — the experiment health gate every
    * serious A/B platform runs BEFORE reading lift (Fabijan et al.
    * 2019: a biased exposure path silently corrupts every downstream
    * metric; an SRM is the smoke alarm): the same exposed-user →
    * `poly_hash mod variants` assignment as `abLift`, Pearson's
    * χ² = Σ(oᵢ−e)²/e against the equal-split expectation in exact
    * milli-units (`(o−e)²·1000 div e`, e = n div variants — integer
    * arithmetic end to end, so the verdict hash-checks), flagged at
    * `SrmCritMilli`. One row — results-as-data. A fixed per-arm ppm
    * bound would mis-scale (hash-split noise shrinks as 1/√n); the χ²
    * form is n-aware.
    *
    * Scale shape: the abLift user rollup (map-side combined), then a
    * variants-sized aggregation — nothing beyond the per-user pass
    * touches event-sized data.
    */
  def abSrm(events: DataFrame, variants: Long = AbVariants): DataFrame = {
    require(variants >= 2L && variants <= 64L,
      s"variants must be in [2, 64], got $variants")
    import graft.functions.PolyHashFunctions.poly_hash
    val arms = events.groupBy("user_id")
      .agg(max(when(col("event_type") === "view", 1L).otherwise(0L))
        .as("exposed"))
      .filter(col("exposed") === 1L)
      .select(pmod(poly_hash(col("user_id").cast("string")),
        lit(variants)).as("variant"))
      .groupBy("variant").agg(count(lit(1)).as("n_users"))
    arms.agg(sum("n_users").as("n_total"),
        count(lit(1)).as("n_arms"),
        sum(col("n_users") * col("n_users")).as("ss"))
      .select(col("n_total"), col("n_arms"),
        expr(s"n_total div $variants").as("expected_per_arm"),
        // Σ(o−e)²·1000 div e with e constant = (Σo² − 2eΣo + ke²)·1000
        // div e — the expanded form avoids a second pass
        expr(s"(ss - 2 * (n_total div $variants) * n_total + " +
          s"$variants * (n_total div $variants) * " +
          s"(n_total div $variants)) * 1000 div " +
          s"greatest(n_total div $variants, 1)").as("chi2_milli"))
      .withColumn("srm",
        when(col("chi2_milli") > lit(SrmCritMilli), lit(1L))
          .otherwise(lit(0L)))
  }

  /** Pre/post experiment boundary for the CUPED gate
    * (2024-01-16T00:00:00Z — mid-corpus at every SF). Same constant
    * MUST appear in the oracle SQL.
    */
  val CupedSplitEpoch = 1705363200L

  /** CUPED variance-reduced experiment read-out (Deng, Xu, Kohavi &
    * Walker, "Improving the sensitivity of online controlled
    * experiments by utilizing pre-experiment data", WSDM 2013): the
    * covariate X is each exposed user's PRE-period revenue, the
    * metric Y their post-period revenue, and the adjusted per-arm
    * mean is Ȳ_a − θ·(X̄_a − X̄) with θ = cov(X,Y)/var(X) fitted on
    * the pooled exposed population. Exposure = ≥1 post-period view
    * (the experiment runs in the post period; pre-period activity is
    * covariate only — users missing a pre-period contribute X = 0,
    * the standard treatment).
    *
    * Float-parity discipline: revenues quantize to MILLI units
    * (⌊value·1e3⌋ longs); θ's moment sums accumulate in
    * decimal(38,0) (long products of milli values overflow at
    * population scale — HUGEINT on the oracle side), and
    * θ_ppm = ⌊(n·Sxy − Sx·Sy)·1e6 / (n·Sxx − Sx²)⌋ with the
    * truncation-toward-zero division all three arithmetics (Spark
    * `div`, DuckDB `//`, BigInt `/`) share. Zero pre-period variance
    * ⇒ θ = 0 (no adjustment), the degenerate-case convention.
    *
    * Shape at scale: ONE user-keyed aggregation over the events scan
    * (pre and post legs ride the same pass as conditional sums), one
    * 1-row moment collect (the bm25 literal-stats device — θ and X̄
    * become literals, so the per-arm projection is map-side), and a
    * ≤`variants`-row rollup. Two passes over the slim exposed-user
    * relation, persisted between them.
    */
  def abCuped(events: DataFrame, variants: Long = AbVariants,
      splitEpoch: Long = CupedSplitEpoch): DataFrame = {
    require(variants >= 2L && variants <= 64L,
      s"variants must be in [2, 64], got $variants")
    import graft.functions.PolyHashFunctions.poly_hash
    val finite = col("value").isNotNull && !col("value").isNaN &&
      abs(col("value")) =!= Double.PositiveInfinity
    val post = expr("unix_seconds(ts)") >= lit(splitEpoch)
    def revMilli(in: org.apache.spark.sql.Column) = coalesce(
      sum(when(col("event_type") === "purchase" && finite && in,
        floor(col("value") * lit(1000.0)).cast("long"))), lit(0L))
    val exposed = graft.Caches.track(events.groupBy("user_id").agg(
        max(when(col("event_type") === "view" && post, 1L).otherwise(0L))
          .as("exposed"),
        revMilli(!post).as("x_milli"),
        revMilli(post).as("y_milli"))
      .filter(col("exposed") === 1L)
      .select(pmod(poly_hash(col("user_id").cast("string")), lit(variants))
        .as("variant"), col("x_milli"), col("y_milli"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // 1-row moment collect → θ/X̄ literals (exact BigInt arithmetic,
    // truncation-toward-zero division; longValueExact is the loud
    // overflow guard)
    val g = exposed.agg(count(lit(1)).as("n"),
      sum(col("x_milli").cast("decimal(38,0)")).as("sx"),
      sum(col("y_milli").cast("decimal(38,0)")).as("sy"),
      sum(col("x_milli").cast("decimal(38,0)") * col("y_milli")).as("sxy"),
      sum(col("x_milli").cast("decimal(38,0)") * col("x_milli")).as("sxx"))
      .collect().head
    val n = BigInt(g.getLong(0))
    def dec(i: Int): BigInt =
      if (g.isNullAt(i)) BigInt(0) else g.getDecimal(i).toBigInteger
    val (sx, sy, sxy, sxx) = (dec(1), dec(2), dec(3), dec(4))
    val den = n * sxx - sx * sx
    val thetaPpm = (if (den == BigInt(0)) BigInt(0)
      else ((n * sxy - sx * sy) * BigInt(1000000)) / den)
      .bigInteger.longValueExact()
    val xbarPpm = (if (n == BigInt(0)) BigInt(0) else (sx * BigInt(1000)) / n)
      .bigInteger.longValueExact()
    exposed.groupBy("variant").agg(
        count(lit(1)).as("n_users"),
        sum("x_milli").as("x_sum_milli"),
        sum("y_milli").as("y_sum_milli"))
      .select(col("variant"), col("n_users"), col("x_sum_milli"),
        col("y_sum_milli"),
        expr("y_sum_milli * 1000 div n_users").as("y_mean_ppm"),
        expr(s"y_sum_milli * 1000 div n_users - ($thetaPpm * " +
          s"(x_sum_milli * 1000 div n_users - $xbarPpm)) div 1000000")
          .as("yadj_mean_ppm"),
        lit(thetaPpm).as("theta_ppm"))
  }

  /** Day-of-week × hour-of-day activity profile — the seasonality
    * fingerprint capacity planning and anomaly baselines read. Bucket
    * arithmetic is pure integer epoch math in UTC (dow 0 = Sunday via
    * the +4 Thursday-epoch offset; no calendar/timezone functions, so
    * both engines agree by construction). Exact distinct users per
    * cell: the shuffle carries (dow, hour, user) triples once —
    * 168 × |users| worst case, the honest cost of exact counts (the
    * HLL family is the bounded-state alternative).
    */
  def seasonality(events: DataFrame): DataFrame =
    events.select(
        (expr("(unix_seconds(ts) div 86400 + 4) % 7")).as("dow"),
        (expr("(unix_seconds(ts) div 3600) % 24")).as("hour"),
        col("user_id"))
      .groupBy("dow", "hour")
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"))

  /** Seasonally-adjusted hourly residuals — the third member of the
    * monitoring triad (spike: `hourlyAnomaly`; sustained drift:
    * `cusum`; season-relative deviation: this). Each (type, hour)
    * bucket reports its count against the MEAN of its own
    * (type, dow, hour-of-day) seasonality cell (the `seasonality`
    * profile's grid, per type), as exact milli-count integers:
    * `cell_mean_milli = cell_total·1000 div cell_n` over the cell's
    * PRESENT hours, `resid_milli = cnt·1000 − cell_mean_milli`, plus
    * the relative deviation in ppm of the cell mean (sign carried;
    * `resid·1e6 div max(mean,1)`). Thresholding is the consumer's —
    * this emits statistics, not policy (the hourlyAnomaly contract).
    * A Monday-9am spike that's normal FOR Monday-9am reports near
    * zero here while the raw spike ratio flags it; that's the point.
    *
    * Scale shape: the event-sized work is the one map-side-combined
    * (hour, type) count; the 168-cell-per-type profile joins back
    * BROADCAST, everything downstream is hours-sized.
    */
  def seasonalResiduals(events: DataFrame): DataFrame = {
    val h = events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").cast("long").as("hour_epoch"),
        col("event_type"), col("cnt"))
      .withColumn("dow", expr("(hour_epoch div 86400 + 4) % 7"))
      .withColumn("hod", expr("(hour_epoch div 3600) % 24"))
    val cells = h.groupBy("event_type", "dow", "hod")
      .agg(sum("cnt").as("cell_total"), count(lit(1)).as("cell_n"))
      .select(col("event_type"), col("dow"), col("hod"),
        expr("cell_total * 1000 div cell_n").as("cell_mean_milli"))
    // the ppm ratio divides sign × magnitude explicitly. NOTE: both
    // engines TRUNCATE toward zero on integer division (Spark `div`
    // and DuckDB 1.x `//` alike — verified: -7 // 2 = -3), so the
    // sign-split is defensive style, not a parity requirement; it
    // also keeps the arithmetic well-defined under any future engine
    // whose integer `/` floors
    h.join(broadcast(cells), Seq("event_type", "dow", "hod"))
      .withColumn("resid_milli", expr("cnt * 1000 - cell_mean_milli"))
      .select(col("event_type"), col("hour_epoch"), col("dow"),
        col("hod"), col("cnt"), col("cell_mean_milli"),
        col("resid_milli"),
        expr("CASE WHEN resid_milli < 0 THEN " +
          "-((-resid_milli) * 1000000 div greatest(cell_mean_milli, 1)) " +
          "ELSE resid_milli * 1000000 div greatest(cell_mean_milli, 1) " +
          "END").as("resid_ppm"))
  }

  def propsStats(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        min("k").as("min_k"), max("k").as("max_k"))

  /** Streaming variant. Structured Streaming forbids exact distinct
    * aggregation (unbounded state per group), so n_users becomes
    * `approx_count_distinct` — the honest streaming trade. Watermark
    * bounds state for append-mode sinks.
    */
  def hourlyStreaming(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        approx_count_distinct(col("user_id")).as("n_users_approx"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"))
      .select(
        col("w.start").cast("long").as("hour_epoch"),
        col("event_type"), col("n_events"), col("n_users_approx"),
        col("max_value"), col("min_value"))
}
