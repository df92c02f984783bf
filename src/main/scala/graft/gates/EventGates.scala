package graft
package gates

import graft.operators.TextOps
import graft.sources.Tables
import graft.streaming.EventWindows
import GateSql._

/** Event analytics over `events`: windows, funnels, retention,
  * sessions, quantile sketches, z-order pruning, A/B tests, anomaly
  * detection, attribution and as-of joins.
  */
object EventGates {

  /** Probe values for the `events_qsketch_cdf` gate. The oracle splices
    * them as micro-units and probe buckets, both resolved driver-side.
    */
  val CdfProbes: Seq[Double] = Seq(-5.0, 0.0, 1.5, 100.0)

  /** Tolerance for the `events_asof_tol` gate query: 30 minutes in
    * MICROSECONDS (the query aligns on `unix_micros(ts)` columns, the
    * exact-integer grain both engines share).
    */
  val AsofTolUs = 1800000000L

  /** View-side window length for the `events_window_overlap` gate:
    * 10 minutes in MICROSECONDS.
    */
  val ViewWinUs = 600000000L

  val gates: Seq[Gate] = Seq(
    Gate("events_profile", (s, d) =>
      operators.Profile.profile(Tables.table(s, d, "events"))
        .orderBy("column"),
      profileSql("events", Seq(
        "event_id" -> Some("event_id"), "ts" -> Some("epoch_us(ts)"),
        "user_id" -> Some("user_id"), "event_type" -> None,
        "value" -> Some("value"), "props" -> None))),
    // the stream-side admission suite: key rules + known type +
    // FINITE value + in-window timestamps, one pass
    Gate("events_expectations", (s, d) =>
      operators.Profile.eventsExpectations(Tables.table(s, d, "events"))
        .orderBy("rule"),
      {
        // one aggregate CTE, one SELECT per rule — the docs_expectations
        // oracle shape over the events table
        val types = graft.operators.Profile.EventTypes
          .map(t => s"'$t'").mkString(", ")
        val ws = graft.operators.Profile.EventsWindowStart
        val we = graft.operators.Profile.EventsWindowEnd
        val rules = Seq(
          "event_id_not_null" ->
            "SUM(CASE WHEN event_id IS NOT NULL THEN 1 ELSE 0 END)",
          "event_id_unique" -> "COUNT(DISTINCT event_id)",
          "user_id_not_null" ->
            "SUM(CASE WHEN user_id IS NOT NULL THEN 1 ELSE 0 END)",
          "type_known" ->
            s"SUM(CASE WHEN event_type IN ($types) THEN 1 ELSE 0 END)",
          "value_finite" ->
            ("SUM(CASE WHEN value IS NOT NULL AND isfinite(value) " +
              "THEN 1 ELSE 0 END)"),
          "ts_in_window" ->
            (s"SUM(CASE WHEN epoch_us(ts) // 1000000 >= $ws AND " +
              s"epoch_us(ts) // 1000000 < $we THEN 1 ELSE 0 END)"))
        val aggs = rules.map { case (r, e) => s"$e AS m_$r" }.mkString(", ")
        val sels = rules.map { case (r, _) =>
          s"SELECT '$r' AS rule, CASE WHEN n = 0 THEN 1000000 ELSE " +
            s"m_$r * 1000000 // n END AS metric_ppm FROM a"
        }.mkString(" UNION ALL ")
        s"WITH a AS (SELECT COUNT(*) AS n, $aggs FROM events), " +
          s"r AS ($sels) " +
          "SELECT rule, CAST(metric_ppm AS BIGINT) AS metric_ppm, " +
          "CAST(1000000 AS BIGINT) AS threshold_ppm, " +
          "CAST(CASE WHEN metric_ppm >= 1000000 THEN 1 ELSE 0 END " +
          "AS BIGINT) AS pass FROM r"
      }),
    // sliding 1h/15min windows — each event fans into 4 windows in
    // the map stage, then the usual partial-agg counts
    Gate("events_sliding", (s, d) =>
      EventWindows.hourlySliding(Tables.table(s, d, "events"))
        .orderBy("win_epoch", "event_type"),
      // sliding twin: every event belongs to exactly 60/slide windows,
      // enumerated by the VALUES fanout — start = 15min-floor minus
      // k·15min, always within the hour by construction
      {
        val slideS = graft.streaming.EventWindows.SlideMinutes * 60L
        val fanout = 3600L / slideS
        val ks = (0L until fanout).map(k => s"($k)").mkString(", ")
        s"SELECT CAST((epoch_us(ts) // ${slideS * 1000000L}) * $slideS " +
          s"- k.k * $slideS AS BIGINT) AS win_epoch, event_type, " +
          "CAST(COUNT(*) AS BIGINT) AS n_events " +
          s"FROM events, (VALUES $ks) k(k) GROUP BY 1, 2"
      }),
    // per-hour heavy hitters through the TopKPerKey physical operator
    Gate("events_hourly_top", (s, d) =>
      EventWindows.hourlyTopUsers(Tables.table(s, d, "events"))
        .orderBy("hour_epoch", "rank"),
      // same epoch-aligned hour bucket as events_hourly; row_number is
      // the SQL twin of the TopKPerKey heap's (count desc, user asc)
      {
        val k = graft.streaming.EventWindows.HourlyTopK
        "WITH c AS (SELECT CAST(extract(epoch FROM " +
          "time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS hour_epoch, " +
          "user_id, CAST(COUNT(*) AS BIGINT) AS n_events " +
          "FROM events GROUP BY 1, 2), " +
          "r AS (SELECT hour_epoch, user_id, n_events, row_number() OVER " +
          "(PARTITION BY hour_epoch ORDER BY n_events DESC, user_id ASC) AS rnk " +
          "FROM c) " +
          "SELECT hour_epoch, CAST(rnk AS BIGINT) AS \"rank\", user_id, n_events " +
          s"FROM r WHERE rnk <= $k"
      }),
    Gate("events_hourly", (s, d) =>
      EventWindows.hourly(Tables.table(s, d, "events"))
        .orderBy("hour_epoch", "event_type"),
      "SELECT CAST(extract(epoch FROM time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS hour_epoch, " +
        "event_type, CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "MAX(value) AS max_value, MIN(value) AS min_value " +
        "FROM events GROUP BY 1, 2"),
    Gate("events_hourly_users", (s, d) =>
      EventWindows.hourlyUsersHll(Tables.table(s, d, "events"))
        .orderBy("hour_epoch"),
      {
        // the text_vocab_hll pipeline, grouped by hour — same constants,
        // same integer state, same single-expression raw estimator
        val m = graft.operators.TextOps.HllBuckets
        val cap = graft.operators.TextOps.HllCap
        val p2 = (1L << cap).toDouble
        "WITH e AS (SELECT CAST(extract(epoch FROM " +
          "time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS hour_epoch, " +
          "CAST(user_id AS VARCHAR) AS uid FROM events), " +
          s"h AS (SELECT hour_epoch, ${phSql60("uid")} AS h FROM e), " +
          s"br AS (SELECT hour_epoch, h % $m AS bucket, h // $m AS rest FROM h), " +
          s"rh AS (SELECT hour_epoch, bucket, CASE WHEN rest = 0 THEN $cap ELSE " +
          s"LEAST($cap, bit_count((rest & (-rest)) - 1) + 1) END AS rho FROM br), " +
          "mx AS (SELECT hour_epoch, bucket, MAX(rho) AS mr FROM rh GROUP BY 1, 2), " +
          "agg AS (SELECT hour_epoch, COUNT(*) AS nz, " +
          s"COALESCE(SUM(1::BIGINT << ($cap - mr)), 0) AS sp FROM mx GROUP BY 1) " +
          s"SELECT hour_epoch, CAST($m AS BIGINT) AS m, " +
          s"CAST($m - nz AS BIGINT) AS n_empty, " +
          s"CAST(sp + ($m - nz) * (1::BIGINT << $cap) AS BIGINT) AS harmonic_scaled, " +
          s"0.7213 / (1.0 + 1.079 / ${m.toDouble}) * ${(m.toLong * m).toDouble} * " +
          s"$p2 / CAST(sp + ($m - nz) * (1::BIGINT << $cap) AS DOUBLE) AS est_raw " +
          "FROM agg"
      }),
    Gate("events_funnel", (s, d) =>
      EventWindows.funnel(Tables.table(s, d, "events"))
        .orderBy("stage_idx"),
      funnelOracle),
    // the conversion-window refinement: stage k counts only within
    // 24h of the stage-(k-1) threshold — same greedy chain, one more
    // predicate per stage join
    Gate("events_funnel_windowed", (s, d) =>
      EventWindows.funnelWindowed(Tables.table(s, d, "events"))
        .orderBy("stage_idx"),
      // same CTE chain with the 24h conversion-window predicate spliced
      // into each stage join — the constant comes FROM the operator
      funnelOracleFor(
        Some(graft.streaming.EventWindows.FunnelWindowUs))),
    Gate("events_retention", (s, d) =>
      EventWindows.retention(Tables.table(s, d, "events"))
        .orderBy("cohort_day", "day_offset"),
      {
        val mx = graft.streaming.EventWindows.RetentionMaxOffset
        "WITH d AS (SELECT DISTINCT user_id, " +
          "epoch_us(ts) // 86400000000 AS day FROM events), " +
          "c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1) " +
          "SELECT cohort_day, day - cohort_day AS day_offset, " +
          "CAST(COUNT(*) AS BIGINT) AS n_users " +
          "FROM d JOIN c ON d.user_id = c.user_id " +
          s"WHERE day - cohort_day <= $mx GROUP BY 1, 2"
      }),
    Gate("events_quantiles", (s, d) =>
      TextOps.groupedQuantiles(Tables.table(s, d, "events"),
        "event_type", "value", "event_id").orderBy("event_type", "pct"),
      {
        // the same integer rank target — (pct·n + 99) // 100 — selects
        // the same element; ROW_NUMBER over (value, event_id) is the
        // same total order the range partitioning sorts by
        val pctsSql = graft.operators.TextOps.QuantilePcts
          .map(p => s"($p)").mkString(", ")
        "WITH r AS (SELECT event_type, value, " +
          "ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn, " +
          "COUNT(*) OVER (PARTITION BY event_type) AS n " +
          "FROM events WHERE value IS NOT NULL) " +
          s"SELECT event_type, CAST(p.pct AS BIGINT) AS pct, value AS value_at " +
          s"FROM r JOIN (VALUES $pctsSql) p(pct) " +
          "ON r.rn = GREATEST(1, (p.pct * r.n + 99) // 100)"
      }),
    // sessionize → per-hour-of-day duration order statistics: the
    // exact-rank machinery composed over a derived relation (sid is a
    // tie-break only — a rare collision ties ALL sort keys and both
    // engines then select the same duration value)
    Gate("events_session_quantiles", (s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      val sess = graft.streaming.Sessionize.sessions(Tables.table(s, d, "events"))
        .select(expr("(session_start_us div 3600000000) % 24").as("hour_of_day"),
          (col("session_end_us") - col("session_start_us")).as("duration_us"),
          (col("session_start_us") + col("user_id")).as("sid"))
      TextOps.groupedQuantiles(sess, "hour_of_day", "duration_us", "sid")
        .select(col("hour_of_day").cast("long").as("hour_of_day"),
          col("pct"), col("value_at"))
        .orderBy("hour_of_day", "pct")
    },
      // session-duration order statistics by hour-of-day of session
      // start: SessionsSql composed into the events_quantiles rank
      // machinery — same (pct·n + 99) // 100 target, same (value, id)
      // total order the range partitioning sorts by
      {
        val pctsSql = graft.operators.TextOps.QuantilePcts
          .map(p => s"($p)").mkString(", ")
        s"WITH s AS ($SessionsSql), " +
          "d AS (SELECT (session_start_us // 3600000000) % 24 AS hour_of_day, " +
          "session_end_us - session_start_us AS dur, " +
          "session_start_us + user_id AS sid FROM s), " +
          "r AS (SELECT hour_of_day, dur, " +
          "ROW_NUMBER() OVER (PARTITION BY hour_of_day ORDER BY dur, sid) AS rn, " +
          "COUNT(*) OVER (PARTITION BY hour_of_day) AS n FROM d) " +
          "SELECT CAST(hour_of_day AS BIGINT) AS hour_of_day, " +
          "CAST(p.pct AS BIGINT) AS pct, CAST(dur AS DOUBLE) AS value_at " +
          s"FROM r JOIN (VALUES $pctsSql) p(pct) " +
          "ON r.rn = GREATEST(1, (p.pct * r.n + 99) // 100)"
      }),
    // the MERGEABLE quantile-sketch state (deterministic log-bucket
    // grid, integer-only — see QuantileSketch): one bounded counter
    // relation per event_type, counters sum across shards/windows
    Gate("events_qsketch", (s, d) =>
      operators.QuantileSketch.sketch(Tables.table(s, d, "events"),
        Seq("event_type"), "value").orderBy("event_type", "bucket"),
      qsketchStateOracle),
    // percentiles read from the sketch state: rank rule identical to
    // events_quantiles, answer = the micro-unit interval [ulo, uhi]
    // provably containing the exact order statistic
    Gate("events_qsketch_quantiles", (s, d) =>
      operators.QuantileSketch.quantiles(
        operators.QuantileSketch.sketch(Tables.table(s, d, "events"),
          Seq("event_type"), "value"),
        Seq("event_type")).orderBy("event_type", "pct"),
      {
        val scale = graft.operators.QuantileSketch.QsScale
        val pctsSql = graft.operators.TextOps.QuantilePcts
          .map(p => s"($p)").mkString(", ")
        s"WITH qv AS (SELECT event_type, CAST(floor(value * $scale.0) AS BIGINT) " +
          "AS u FROM events WHERE value IS NOT NULL), " +
          s"$qsBucketCtes, " +
          "st AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt " +
          "FROM qb GROUP BY 1, 2), " +
          "c AS (SELECT event_type, bucket, cnt, " +
          "SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket) AS cum, " +
          "SUM(cnt) OVER (PARTITION BY event_type) AS n FROM st) " +
          "SELECT event_type, CAST(p.pct AS BIGINT) AS pct, " +
          "CAST(n AS BIGINT) AS n, " +
          s"CAST(${qsULo("bucket")} AS BIGINT) AS ulo_fp, " +
          s"CAST(${qsUHi("bucket")} AS BIGINT) AS uhi_fp " +
          s"FROM c JOIN (VALUES $pctsSql) p(pct) " +
          "ON c.cum >= GREATEST(1, (p.pct * c.n + 99) // 100) " +
          "AND c.cum - c.cnt < GREATEST(1, (p.pct * c.n + 99) // 100)"
      }),
    // the INVERSE sketch query: per probe value, the rank interval
    // [rank_lo, rank_hi] provably containing the exact below-probe
    // count — CDF = rank/n; probe buckets resolve at plan build
    Gate("events_qsketch_cdf", (s, d) =>
      operators.QuantileSketch.cdfBounds(
        operators.QuantileSketch.sketch(Tables.table(s, d, "events"),
          Seq("event_type"), "value"),
        Seq("event_type"), CdfProbes).orderBy("event_type", "probe_fp"),
      {
        val scale = graft.operators.QuantileSketch.QsScale
        // probe micro-units AND buckets are spliced constants — computed
        // by the same driver-side mirror the Spark plan uses
        val branches = CdfProbes.map { p =>
          val fp = graft.operators.QuantileSketch.toMicro(p)
          val pb = graft.operators.QuantileSketch.bucketOfULong(fp)
          s"SELECT event_type, CAST($fp AS BIGINT) AS probe_fp, " +
            "CAST(SUM(cnt) AS BIGINT) AS n, " +
            s"CAST(COALESCE(SUM(CASE WHEN bucket < $pb THEN cnt END), 0) " +
            "AS BIGINT) AS rank_lo, " +
            s"CAST(COALESCE(SUM(CASE WHEN bucket <= $pb THEN cnt END), 0) " +
            "AS BIGINT) AS rank_hi FROM st GROUP BY event_type"
        }.mkString(" UNION ALL ")
        s"WITH qv AS (SELECT event_type, CAST(floor(value * $scale.0) AS BIGINT) " +
          "AS u FROM events WHERE value IS NOT NULL), " +
          s"$qsBucketCtes, " +
          "st AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cnt " +
          s"FROM qb GROUP BY 1, 2) $branches"
      }),
    // the ROLLUP deployment shape: per-day WINDOWED sketch states
    // (the batch==streaming transform) merged by counter addition
    // into the corpus state — must be byte-identical to sketching in
    // one shot, so it shares events_qsketch's oracle (merge is the
    // whole point of the sketch family; this drives sketchWindowed +
    // merge through the driver gate, not just the spec)
    Gate("events_qsketch_rollup", (s, d) => {
      val daily = operators.QuantileSketch.sketchWindowed(
        Tables.table(s, d, "events"), Seq("event_type"), "value", "ts",
        "1 day")
      operators.QuantileSketch.merge(Seq(daily.drop("window_epoch")),
          Seq("event_type"))
        .orderBy("event_type", "bucket")
    },
      // per-day states merged by counter addition == the one-shot sketch
      // (mergeability is exact) — execution detail, same oracle
      qsketchStateOracle),
    // the funnel's mapGroupsWithState twin — must be count-identical
    // to events_funnel, whose oracle it shares
    Gate("events_funnel_stateful", (s, d) =>
      EventWindows.funnelStateful(s, Tables.table(s, d, "events"))
        .orderBy("stage_idx"),
      // the state-machine form is an execution detail (per-user
      // mapGroupsWithState scan instead of chained joins) — same greedy
      // thresholds, same oracle
      funnelOracle),
    Gate("events_sessions", (s, d) =>
      graft.streaming.Sessionize.sessions(Tables.table(s, d, "events"))
        .orderBy("user_id", "session_start_us"),
      // gaps-and-islands twin of session_window: a session breaks when the
      // gap to the previous event is >= 30 min; end = last event + gap
      SessionsSql),
    // the sessionizer's flatMapGroupsWithState twin — must be
    // row-identical to events_sessions, whose oracle it shares (the
    // funnel/funnel_stateful pairing); the real-streaming leg of the
    // same state machine runs under a micro-batch StreamingQuery in
    // the spec (cross-batch session merge + watermark-closed emit)
    Gate("events_sessions_stateful", (s, d) =>
      graft.streaming.Sessionize.sessionsStateful(s,
          Tables.table(s, d, "events")).toDF()
        .orderBy("user_id", "session_start_us"),
      // the stateful twin shares the oracle verbatim: stateful ≡
      // windowed sessionization IS the gate
      SessionsSql),
    // per-user burstiness profile: adjacent-gap stats over each user's
    // sorted timestamps — one user-keyed shuffle, all-integer output;
    // the automated-traffic signal a curation pass filters on
    Gate("events_interarrival", (s, d) =>
      graft.streaming.Sessionize.interArrival(Tables.table(s, d, "events"))
        .orderBy("user_id"),
      // lag-window twin of Sessionize.interArrival; gap multiset is
      // well-defined under timestamp ties (sorted sequence is unique),
      // -1 sentinels instead of engine nulls for single-event users
      InterArrivalSql),
    // the celebrity-key escape hatch WIRED: per-(user, hour-bucket)
    // local gap aggregation + a bucket-row carry-in window, so one hot
    // user's history spreads over #buckets tasks instead of one sort —
    // must be row-identical to events_interarrival (shared oracle)
    Gate("events_interarrival_bucketed", (s, d) =>
      graft.streaming.Sessionize.interArrivalBucketed(
          Tables.table(s, d, "events"))
        .orderBy("user_id"),
      // shares events_interarrival's oracle VERBATIM — the flat window
      // and the bucketed carry-in must be indistinguishable (the
      // celebrity-key escape hatch changes the shuffle shape, never the
      // answer)
      InterArrivalSql),
    Gate("events_props", (s, d) =>
      EventWindows.propsStats(Tables.table(s, d, "events"))
        .orderBy("event_type"),
      "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(k) AS BIGINT) AS sum_k, CAST(MIN(k) AS BIGINT) AS min_k, " +
        "CAST(MAX(k) AS BIGINT) AS max_k FROM " +
        "(SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k " +
        "FROM events) GROUP BY event_type"),
    // within-session event-type transition counts — the behavioral
    // bigram (first-order Markov) matrix; cross-session adjacencies
    // are severed at the same gap rule events_sessions groups by
    Gate("events_transitions", (s, d) =>
      graft.streaming.Sessionize.transitions(Tables.table(s, d, "events"))
        .orderBy("prev_type", "event_type"),
      // within-session transition counts: the same break rule as
      // SessionsSql, with the (us, event_id) tiebreak making the lag
      // sequence — and therefore the counts — deterministic under ties
      TransitionsSql),
    // the transition matrix's flatMapGroupsWithState twin — must be
    // count-identical to events_transitions, whose oracle it shares
    // (the funnel/funnel_stateful pairing)
    Gate("events_transitions_stateful", (s, d) =>
      graft.streaming.Sessionize.transitionsStateful(s,
          Tables.table(s, d, "events"))
        .orderBy("prev_type", "event_type"),
      // shares events_transitions' oracle VERBATIM — the window and the
      // flatMapGroupsWithState implementations must be indistinguishable
      TransitionsSql),
    // the transition matrix through the celebrity-key escape hatch:
    // in-bucket pairs via (user, hour-bucket) windows + boundary pairs
    // via one window over bucket rows — row-identical to
    // events_transitions (shared oracle), different shuffle shape
    Gate("events_transitions_bucketed", (s, d) =>
      graft.streaming.Sessionize.transitionsBucketed(
          Tables.table(s, d, "events"))
        .orderBy("prev_type", "event_type"),
      // third twin on the same oracle: the bucketed carry-in form (the
      // celebrity-key escape hatch changes shuffle shape, not counts)
      TransitionsSql),
    // RFM profile: recency-days vs the corpus anchor, frequency, and
    // fixed-point monetary over finite values — all-integer, one
    // user-keyed aggregation plus a 1-row broadcast anchor
    Gate("events_rfm", (s, d) =>
      EventWindows.rfm(Tables.table(s, d, "events")).orderBy("user_id"),
      // all-integer RFM: day-floor recency against the corpus anchor,
      // fixed-point monetary over FINITE values (isfinite — the qsketch
      // finiteness contract; NaN would ORDER as equal in DuckDB)
      "WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events), " +
        "a AS (SELECT MAX(us) AS anchor FROM e), " +
        "u AS (SELECT user_id, MAX(us) AS last_us, " +
        "CAST(COUNT(*) AS BIGINT) AS frequency, " +
        "CAST(SUM(CASE WHEN isfinite(value) THEN " +
        "CAST(FLOOR(value * 1000000.0) AS BIGINT) END) AS BIGINT) AS monetary_fp " +
        "FROM e GROUP BY user_id) " +
        "SELECT user_id, CAST((a.anchor - u.last_us) // 86400000000 " +
        "AS BIGINT) AS recency_days, frequency, monetary_fp FROM u, a"),
    // the k most common session journeys as `a>b>c` path strings —
    // deterministic: (ts, event_id) ordering and a (count DESC, path
    // ASC) total order at the top-k boundary on both engines
    Gate("events_paths", (s, d) =>
      graft.streaming.Sessionize.sessionPaths(Tables.table(s, d, "events")),
      // top session paths: gaps-and-islands sids (the SessionsSql rule
      // plus the event_id tiebreak), ordered string_agg per session,
      // (count DESC, path ASC) total order at the LIMIT boundary
      {
        val gapUs = graft.streaming.Sessionize.GapUs
        val k = graft.streaming.Sessionize.PathTopK
        "WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, " +
          "event_type FROM events), " +
          "o AS (SELECT user_id, us, event_id, event_type, " +
          "CASE WHEN lag(us) OVER w IS NULL OR " +
          s"us - lag(us) OVER w >= $gapUs THEN 1 ELSE 0 END AS brk FROM e " +
          "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)), " +
          "g AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id " +
          "ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS sid FROM o), " +
          "p AS (SELECT string_agg(event_type, '>' ORDER BY us, event_id) " +
          "AS path FROM g GROUP BY user_id, sid) " +
          "SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions FROM p " +
          s"GROUP BY path ORDER BY n_sessions DESC, path ASC LIMIT $k"
      }),
    // DAU / trailing-7d WAU / stickiness-ppm per epoch-aligned day —
    // trailing distinct via ×7 fanout of the DISTINCT (day, user)
    // pairs, never a per-user range join
    // dow x hour seasonality profile, pure integer UTC epoch math
    Gate("events_seasonality", (s, d) =>
      graft.streaming.EventWindows.seasonality(Tables.table(s, d, "events"))
        .orderBy("dow", "hour"),
      // DAU/WAU/stickiness: epoch-aligned day grid (epoch_us // dayUs ·
      // 86400 ≡ the window(ts,'1 day') start for positive epochs); the
      // trailing distinct via the same ×7 fanout of distinct (day, user)
      "SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow, " +
        "(epoch_us(ts) // 3600000000) % 24 AS hour, " +
        "CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM events GROUP BY 1, 2"),
    // multi-dim clustering audit: Morton-key "files" with their
    // per-dimension zone maps — the footer stats a z-ordered write
    // would carry; stats-to-literals + map-only interleave
    Gate("events_zorder", (s, d) =>
      graft.sources.Layout.zorderZoneMap(Tables.table(s, d, "events"))
        .orderBy("bucket"),
      // events_zorder oracle — Morton-bucket zone maps; shared by the
      // pruning oracle's z side.
      {
        val cut = 1L << (2 * graft.sources.Layout.ZBits -
          graft.sources.Layout.ZBucketBits)
        s"WITH $ZGridCte, " +
          s"z AS (SELECT ${mortonSql("ub", "tb")} // $cut AS bucket, " +
          "user_id, us FROM g) " +
          "SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_events, " +
          "MIN(user_id) AS min_user, MAX(user_id) AS max_user, " +
          "MIN(us) AS min_us, MAX(us) AS max_us FROM z GROUP BY bucket"
      }),
    // the pruning verdict: files touched by a derived user-range
    // predicate under the z-order vs time-clustered layouts
    Gate("events_zorder_pruning", (s, d) =>
      graft.sources.Layout.zorderPruning(Tables.table(s, d, "events")),
      // pruning verdict: zone-map intersection counts under both
      // layouts + rows actually selected; the [span/4, span/2] slice
      // derives from the same stats CTE on both engines
      {
        val tcut = 1L << (graft.sources.Layout.ZBits -
          graft.sources.Layout.ZBucketBits)
        s"WITH $ZGridCte, " +
          "pred AS (SELECT umn + (umx - umn + 1) // 4 AS lo, " +
          "umn + (umx - umn + 1) // 2 AS hi FROM st), " +
          s"zm AS (SELECT bucket, MIN(user_id) AS mn_u, MAX(user_id) AS mx_u " +
          s"FROM (SELECT ${mortonSql("ub", "tb")} // " +
          s"${1L << (2 * graft.sources.Layout.ZBits -
            graft.sources.Layout.ZBucketBits)} AS bucket, user_id FROM g) " +
          "GROUP BY bucket), " +
          "zt AS (SELECT CAST(COUNT(*) AS BIGINT) AS z_files, " +
          "CAST(SUM(CASE WHEN mn_u <= hi AND mx_u >= lo THEN 1 ELSE 0 END) " +
          "AS BIGINT) AS z_touched FROM zm, pred), " +
          s"tm AS (SELECT tb // $tcut AS bucket, MIN(user_id) AS mn_u, " +
          "MAX(user_id) AS mx_u FROM g GROUP BY 1), " +
          "tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t_files, " +
          "CAST(SUM(CASE WHEN mn_u <= hi AND mx_u >= lo THEN 1 ELSE 0 END) " +
          "AS BIGINT) AS t_touched FROM tm, pred), " +
          "sel AS (SELECT CAST(SUM(CASE WHEN user_id BETWEEN lo AND hi " +
          "THEN 1 ELSE 0 END) AS BIGINT) AS rows_selected FROM events, pred) " +
          "SELECT z_files, z_touched, t_files, t_touched, rows_selected " +
          "FROM zt, tt, sel"
      }),
    // deterministic A/B read-out: hash-assigned arms, exposed users,
    // purchase conversion + quantized revenue, all-long aggregation
    // CUPED variance-reduced read-out (Deng et al. 2013): pre-period
    // revenue as covariate, θ fitted on the pooled exposed users,
    // per-arm adjusted mean in exact integer fixed point
    Gate("events_ab_cuped", (s, d) =>
      graft.streaming.EventWindows.abCuped(Tables.table(s, d, "events"))
        .orderBy("variant"),
      {
        // the operator's exact integer chain: milli-quantized pre/post
        // revenue per exposed user, HUGEINT moment sums (decimal(38,0)
        // on the Spark side), truncating division everywhere
        val v = graft.streaming.EventWindows.AbVariants
        val split = graft.streaming.EventWindows.CupedSplitEpoch
        "WITH pu AS (SELECT user_id, " +
          "MAX(CASE WHEN event_type = 'view' AND " +
          s"epoch_us(ts) // 1000000 >= $split THEN 1 ELSE 0 END) AS exposed, " +
          "COALESCE(SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL " +
          s"AND isfinite(value) AND epoch_us(ts) // 1000000 < $split " +
          "THEN CAST(floor(value * 1000.0) AS BIGINT) END), 0) AS x_milli, " +
          "COALESCE(SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL " +
          s"AND isfinite(value) AND epoch_us(ts) // 1000000 >= $split " +
          "THEN CAST(floor(value * 1000.0) AS BIGINT) END), 0) AS y_milli " +
          "FROM events GROUP BY 1), " +
          s"a AS (SELECT ${phSql("CAST(user_id AS VARCHAR)")} % $v AS variant, " +
          "x_milli, y_milli FROM pu WHERE exposed = 1), " +
          "g AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n, " +
          "CAST(COALESCE(SUM(x_milli), 0) AS HUGEINT) AS sx, " +
          "CAST(COALESCE(SUM(y_milli), 0) AS HUGEINT) AS sy, " +
          "COALESCE(SUM(CAST(x_milli AS HUGEINT) * y_milli), 0) AS sxy, " +
          "COALESCE(SUM(CAST(x_milli AS HUGEINT) * x_milli), 0) AS sxx FROM a), " +
          "t AS (SELECT CASE WHEN n * sxx - sx * sx = 0 THEN 0 ELSE " +
          "((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx) END " +
          "AS theta_ppm, CASE WHEN n = 0 THEN 0 ELSE (sx * 1000) // n END " +
          "AS xbar_ppm FROM g), " +
          "arm AS (SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users, " +
          "CAST(SUM(x_milli) AS BIGINT) AS x_sum_milli, " +
          "CAST(SUM(y_milli) AS BIGINT) AS y_sum_milli FROM a GROUP BY 1) " +
          "SELECT variant, n_users, x_sum_milli, y_sum_milli, " +
          "y_sum_milli * 1000 // n_users AS y_mean_ppm, " +
          "CAST(y_sum_milli * 1000 // n_users - (t.theta_ppm * " +
          "(x_sum_milli * 1000 // n_users - t.xbar_ppm)) // 1000000 " +
          "AS BIGINT) AS yadj_mean_ppm, " +
          "CAST(t.theta_ppm AS BIGINT) AS theta_ppm FROM arm, t"
      }),
    Gate("events_ab_lift", (s, d) =>
      graft.streaming.EventWindows.abLift(Tables.table(s, d, "events"))
        .orderBy("variant"),
      {
        val v = graft.streaming.EventWindows.AbVariants
        "WITH pu AS (SELECT user_id, " +
          "MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS exposed, " +
          "MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted, " +
          "COALESCE(SUM(CASE WHEN event_type = 'purchase' AND value IS NOT NULL " +
          "AND isfinite(value) THEN CAST(floor(value * 1000000.0) AS BIGINT) END), 0) " +
          "AS rev_ppm FROM events GROUP BY 1), " +
          s"a AS (SELECT ${phSql("CAST(user_id AS VARCHAR)")} % $v AS variant, " +
          "converted, rev_ppm FROM pu WHERE exposed = 1) " +
          "SELECT variant, CAST(COUNT(*) AS BIGINT) AS n_users, " +
          "CAST(SUM(converted) AS BIGINT) AS n_converted, " +
          "CAST(SUM(converted) AS BIGINT) * 1000000 // COUNT(*) AS conv_ppm, " +
          "CAST(SUM(rev_ppm) AS BIGINT) AS revenue_ppm FROM a GROUP BY 1"
      }),
    // SRM health check: the same exposure/assignment chain as ab_lift,
    // Pearson chi-square vs equal split in exact milli-units, flagged
    // at the df=1 critical value — read BEFORE trusting any lift
    Gate("events_ab_srm", (s, d) =>
      EventWindows.abSrm(Tables.table(s, d, "events")),
      {
        val v = graft.streaming.EventWindows.AbVariants
        val crit = graft.streaming.EventWindows.SrmCritMilli
        "WITH pu AS (SELECT user_id, " +
          "MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS exposed " +
          "FROM events GROUP BY 1), " +
          s"a AS (SELECT ${phSql("CAST(user_id AS VARCHAR)")} % $v AS variant " +
          "FROM pu WHERE exposed = 1), " +
          "c AS (SELECT variant, COUNT(*) AS n FROM a GROUP BY 1), " +
          "st AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total, " +
          "CAST(COUNT(*) AS BIGINT) AS n_arms, " +
          "CAST(SUM(n * n) AS BIGINT) AS ss FROM c), " +
          s"x AS (SELECT n_total, n_arms, n_total // $v AS e, " +
          s"(ss - 2 * (n_total // $v) * n_total + $v * (n_total // $v) * " +
          s"(n_total // $v)) * 1000 // GREATEST(n_total // $v, 1) " +
          "AS chi2_milli FROM st) " +
          "SELECT n_total, n_arms, CAST(e AS BIGINT) AS expected_per_arm, " +
          "CAST(chi2_milli AS BIGINT) AS chi2_milli, " +
          s"CAST(CASE WHEN chi2_milli > $crit THEN 1 ELSE 0 END AS BIGINT) " +
          "AS srm FROM x"
      }),
    Gate("events_active_users", (s, d) =>
      EventWindows.activeUsers(Tables.table(s, d, "events"))
        .orderBy("day_epoch"),
      {
        val days = graft.streaming.EventWindows.ActiveTrailingDays
        "WITH ud AS (SELECT DISTINCT " +
          "(epoch_us(ts) // 86400000000) * 86400 AS day_epoch, user_id " +
          "FROM events), " +
          "dau AS (SELECT day_epoch, CAST(COUNT(*) AS BIGINT) AS dau " +
          "FROM ud GROUP BY 1), " +
          "fan AS (SELECT DISTINCT ud.day_epoch + k.k * 86400 AS day_epoch, " +
          s"user_id FROM ud CROSS JOIN (SELECT unnest(range(0, $days)) AS k) k), " +
          "wau AS (SELECT day_epoch, CAST(COUNT(*) AS BIGINT) AS wau " +
          "FROM fan GROUP BY 1) " +
          "SELECT CAST(d.day_epoch AS BIGINT) AS day_epoch, d.dau, w.wau, " +
          "CAST((d.dau * 1000000) // w.wau AS BIGINT) AS stickiness_ppm " +
          "FROM dau d JOIN wau w USING (day_epoch)"
      }),
    // the bounded-state twin: daily HLL user sketches, trailing WAU by
    // bucket-wise MAX merge of the daily states — days × 512 counters
    // shuffle instead of the ×7 distinct fanout
    Gate("events_wau_hll", (s, d) =>
      EventWindows.activeUsersHll(Tables.table(s, d, "events"))
        .orderBy("day_epoch"),
      // daily bucket-max HLL states (pre-mixed user ids, the
      // docs_profile_hll pass) fanned ×7 and re-MAXed, finalized with
      // the vocab_hll tail, reported only for days with own activity
      {
        val m = graft.operators.TextOps.HllBuckets
        val cap = graft.operators.TextOps.HllCap
        val p2 = (1L << cap).toDouble
        val days = graft.streaming.EventWindows.ActiveTrailingDays
        "WITH e AS (SELECT (epoch_us(ts) // 86400000000) * 86400 AS d, " +
          "CAST(user_id AS VARCHAR) AS u FROM events), " +
          s"pm AS (SELECT d, CAST(${phSql60("u")} AS VARCHAR) AS item FROM e), " +
          s"h AS (SELECT d, ${phSql60("item")} AS h FROM pm), " +
          s"br AS (SELECT d, h % $m AS bucket, h // $m AS rest FROM h), " +
          s"rh AS (SELECT d, bucket, CASE WHEN rest = 0 THEN $cap ELSE " +
          s"LEAST($cap, bit_count((rest & (-rest)) - 1) + 1) END AS rho FROM br), " +
          "mx AS (SELECT d, bucket, MAX(rho) AS mr FROM rh GROUP BY 1, 2), " +
          "fan AS (SELECT mx.d + k.k * 86400 AS d, bucket, mr FROM mx " +
          s"CROSS JOIN (SELECT unnest(range(0, $days)) AS k) k), " +
          "mg AS (SELECT d, bucket, MAX(mr) AS mr FROM fan GROUP BY 1, 2), " +
          "agg AS (SELECT d, COUNT(*) AS nz, " +
          s"COALESCE(SUM(1::BIGINT << ($cap - mr)), 0) AS sp FROM mg GROUP BY d), " +
          "days AS (SELECT DISTINCT d FROM mx) " +
          "SELECT CAST(agg.d AS BIGINT) AS day_epoch, " +
          s"CAST($m AS BIGINT) AS m, CAST($m - nz AS BIGINT) AS n_empty, " +
          s"CAST(sp + ($m - nz) * (1::BIGINT << $cap) AS BIGINT) AS harmonic_scaled, " +
          s"0.7213 / (1.0 + 1.079 / ${m.toDouble}) * ${(m.toLong * m).toDouble} * " +
          s"$p2 / CAST(sp + ($m - nz) * (1::BIGINT << $cap) AS DOUBLE) AS est_raw " +
          "FROM agg JOIN days ON days.d = agg.d"
      }),
    // rate-anomaly statistics: hourly counts vs the trailing-24h
    // baseline per type — RANGE window over the hours-sized relation,
    // integer spike ratio, thresholding left to the consumer
    Gate("events_anomaly", (s, d) =>
      EventWindows.hourlyAnomaly(Tables.table(s, d, "events"))
        .orderBy("event_type", "hour_epoch"),
      // trailing-baseline RANGE window twin of hourlyAnomaly: absent
      // hours contribute zero (RANGE, not ROWS), ratio in ppm with the
      // -1 cold-start sentinel
      {
        val t = EventWindows.AnomalyTrailingHours
        "WITH h AS (SELECT CAST(extract(epoch FROM " +
          "time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS hour_epoch, " +
          "event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2), " +
          "w AS (SELECT event_type, hour_epoch, cnt, " +
          "COALESCE(SUM(cnt) OVER tw, 0) AS baseline_cnt, " +
          "COALESCE(COUNT(*) OVER tw, 0) AS n_baseline_hours FROM h " +
          "WINDOW tw AS (PARTITION BY event_type ORDER BY hour_epoch " +
          s"RANGE BETWEEN ${t * 3600} PRECEDING AND 3600 PRECEDING)) " +
          "SELECT hour_epoch, event_type, CAST(cnt AS BIGINT) AS cnt, " +
          "CAST(baseline_cnt AS BIGINT) AS baseline_cnt, " +
          "CAST(n_baseline_hours AS BIGINT) AS n_baseline_hours, " +
          "CAST(CASE WHEN baseline_cnt = 0 THEN -1 " +
          s"ELSE cnt * $t * 1000000 // baseline_cnt END AS BIGINT) AS ratio_ppm " +
          "FROM w"
      }),
    // CUSUM drift detector: two one-sided reset-at-zero cumulative
    // sums per type via the prefix identity S = P − min(0, min P) —
    // two window functions over the zero-filled hours spine, exact
    // milli-count integers, alarms at 5 mean-units
    Gate("events_cusum", (s, d) =>
      EventWindows.cusum(Tables.table(s, d, "events"))
        .orderBy("event_type", "hour_epoch"),
      // cusum oracle: the same zero-filled spine + two prefix-sum /
      // prefix-min window pairs (S = P − min(0, min P)), all integer
      // milli-counts
      CusumSql),
    // the STREAMING deployment of the same detector: frozen per-type
    // reference + 12 B of state per type, run here in batch mode —
    // shares the windowed gate's oracle verbatim
    Gate("events_cusum_stateful", (s, d) => {
      val ev = Tables.table(s, d, "events")
      EventWindows.cusumStateful(s, ev, EventWindows.cusumReference(ev))
        .orderBy("event_type", "hour_epoch")
    },
      CusumSql),
    // season-relative deviation: hourly counts against their own
    // (type, dow, hour-of-day) profile-cell mean — a Monday-9am spike
    // that's normal FOR Monday-9am reports ~0 here; integer milli/ppm
    Gate("events_seasonal_resid", (s, d) =>
      EventWindows.seasonalResiduals(Tables.table(s, d, "events"))
        .orderBy("event_type", "hour_epoch"),
      // seasonal-residual oracle: same hourly buckets, (type, dow, hod)
      // cell means over present hours, sign-split integer ppm
      "WITH h AS (SELECT CAST(extract(epoch FROM " +
        "time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS hour_epoch, " +
        "event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2), " +
        "hh AS (SELECT *, (hour_epoch // 86400 + 4) % 7 AS dow, " +
        "(hour_epoch // 3600) % 24 AS hod FROM h), " +
        "cells AS (SELECT event_type, dow, hod, " +
        "SUM(cnt) * 1000 // COUNT(*) AS cell_mean_milli FROM hh " +
        "GROUP BY 1, 2, 3), " +
        "j AS (SELECT hh.event_type, hh.hour_epoch, hh.dow, hh.hod, " +
        "hh.cnt, c.cell_mean_milli, " +
        "hh.cnt * 1000 - c.cell_mean_milli AS resid_milli FROM hh " +
        "JOIN cells c ON c.event_type = hh.event_type " +
        "AND c.dow = hh.dow AND c.hod = hh.hod) " +
        "SELECT event_type, hour_epoch, CAST(dow AS BIGINT) AS dow, " +
        "CAST(hod AS BIGINT) AS hod, CAST(cnt AS BIGINT) AS cnt, " +
        "CAST(cell_mean_milli AS BIGINT) AS cell_mean_milli, " +
        "CAST(resid_milli AS BIGINT) AS resid_milli, " +
        "CAST(CASE WHEN resid_milli < 0 THEN " +
        "-((-resid_milli) * 1000000 // GREATEST(cell_mean_milli, 1)) " +
        "ELSE resid_milli * 1000000 // GREATEST(cell_mean_milli, 1) " +
        "END AS BIGINT) AS resid_ppm FROM j"),
    // multi-touch attribution: per conversion, the trailing-24h click
    // touches (count + first/last ids; zero-touch conversions report
    // with sentinels) — interval join, never a per-user cross product
    Gate("events_attribution", (s, d) =>
      EventWindows.attribution(Tables.table(s, d, "events"))
        .orderBy("conv_id"),
      // attribution oracle: literal theta join for the touch pairing,
      // first/last via row_number over (click_us, click_id), zero-touch
      // conversions kept by the LEFT join with the same sentinels
      {
        val w = EventWindows.FunnelWindowUs
        "WITH cv AS (SELECT user_id, event_id AS conv_id, " +
          "epoch_us(ts) AS conv_us FROM events WHERE event_type = 'purchase'), " +
          "ck AS (SELECT user_id, event_id AS click_id, " +
          "epoch_us(ts) AS click_us FROM events WHERE event_type = 'click'), " +
          "j AS (SELECT cv.conv_id, ck.click_id, ck.click_us FROM cv " +
          "JOIN ck ON ck.user_id = cv.user_id " +
          s"AND ck.click_us >= cv.conv_us - $w AND ck.click_us <= cv.conv_us), " +
          "r AS (SELECT conv_id, click_id, " +
          "row_number() OVER (PARTITION BY conv_id " +
          "ORDER BY click_us ASC, click_id ASC) AS rf, " +
          "row_number() OVER (PARTITION BY conv_id " +
          "ORDER BY click_us DESC, click_id DESC) AS rl FROM j), " +
          "a AS (SELECT conv_id, COUNT(*) AS n_touches, " +
          "MAX(CASE WHEN rf = 1 THEN click_id END) AS first_click_id, " +
          "MAX(CASE WHEN rl = 1 THEN click_id END) AS last_click_id " +
          "FROM r GROUP BY conv_id) " +
          "SELECT cv.conv_id, cv.user_id, " +
          "CAST(COALESCE(a.n_touches, 0) AS BIGINT) AS n_touches, " +
          "CAST(COALESCE(a.first_click_id, -1) AS BIGINT) AS first_click_id, " +
          "CAST(COALESCE(a.last_click_id, -1) AS BIGINT) AS last_click_id " +
          "FROM cv LEFT JOIN a ON a.conv_id = cv.conv_id"
      }),
    // as-of alignment: every view picks the user's latest click at or
    // before it; clicks pre-aggregated to one row per (user, ts) — the
    // determinism precondition both engines share
    Gate("events_asof", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      operators.AsofJoin.asofJoin(views, clicks,
        Seq("user_id"), "ts", Seq("click_id")).orderBy("event_id")
    },
      // DuckDB's NATIVE ASOF JOIN — a fully independent formulation of
      // the union-merge window the Spark operator runs
      "WITH clicks AS (SELECT user_id, ts, MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts, c.click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts >= c.ts"),
    // the skew-proof form: same semantics, window partitioned by
    // (user, hour bucket) with carry-in — must equal events_asof
    // exactly, so it shares that oracle verbatim
    Gate("events_asof_bucketed", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      operators.AsofJoin.asofJoinBucketed(views, clicks,
        Seq("user_id"), "ts", Seq("click_id"), 3600L).orderBy("event_id")
    },
      // execution detail only — same semantics
      ("WITH clicks AS (SELECT user_id, ts, MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts, c.click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts >= c.ts")),
    // the FORWARD variant: every view picks the user's earliest click
    // at or after it — the lookahead alignment
    Gate("events_asof_fwd", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      operators.AsofJoin.asofJoinForward(views, clicks,
        Seq("user_id"), "ts", Seq("click_id")).orderBy("event_id")
    },
      // forward as-of: DuckDB's native ASOF with the inequality flipped
      "WITH clicks AS (SELECT user_id, ts, MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts, c.click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts <= c.ts"),
    // the TOLERANCE variant: backward match, but clicks more than
    // 30 min before the view are nulled out. Aligned on unix_micros
    // columns — the exact-integer grain (timestamps would tolerance-
    // compare at cast-to-second granularity)
    Gate("events_asof_tol", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
        .groupBy("user_id", "ts_us").agg(max("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      operators.AsofJoin.asofJoinTolerance(views, clicks,
        Seq("user_id"), "ts_us", Seq("click_id"), AsofTolUs)
        .orderBy("event_id")
    },
      // tolerance as-of: the nearest earlier click is the ONLY possible
      // in-tolerance match (anything else is older still), so native
      // ASOF + a CASE on the distance is exact
      "WITH clicks AS (SELECT user_id, epoch_us(ts) AS ts_us, " +
        "MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us " +
        "FROM events WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts_us, " +
        s"CASE WHEN v.ts_us - c.ts_us <= $AsofTolUs THEN c.click_id END " +
        "AS click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts_us >= c.ts_us"),
    // interval-containment join: every view inside some click's
    // 30-minute attribution window [click_ts, click_ts + tol], via
    // the bucket-decomposed equi-join (width = the window length, so
    // each interval replicates to ≤ 2 buckets) — the theta-join
    // semantics, without the per-key cross product
    Gate("events_click_windows", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("win_start"),
          col("event_id"))
        .groupBy("user_id", "win_start").agg(max("event_id").as("click_id"))
        .withColumn("win_end", col("win_start") + AsofTolUs)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      operators.IntervalJoin.intervalJoin(views, clicks,
          Seq("user_id"), "ts_us", "win_start", "win_end", AsofTolUs)
        .select("event_id", "user_id", "ts_us", "click_id")
        .orderBy("event_id", "click_id")
    },
      // the interval join's semantics ARE the theta-join — the oracle
      // says it literally; the operator's bucket decomposition is the
      // execution strategy under hash-equality to this
      "WITH clicks AS (SELECT user_id, epoch_us(ts) AS win_start, " +
        "MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us " +
        "FROM events WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts_us, c.click_id " +
        "FROM views v JOIN clicks c ON v.user_id = c.user_id " +
        s"AND v.ts_us >= c.win_start AND v.ts_us <= c.win_start + $AsofTolUs"),
    // interval×interval OVERLAP join: each view's 10-minute window
    // against each click's 30-minute attribution window (same user) —
    // pairs whose windows intersect, via the bucket-decomposed
    // equi-join with the keep-at-max(start)-bucket exactly-once trick
    Gate("events_window_overlap", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("win_start"),
          col("event_id"))
        .groupBy("user_id", "win_start").agg(max("event_id").as("click_id"))
        .withColumn("win_end", col("win_start") + AsofTolUs)
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id"),
          unix_micros(col("ts")).as("v_start"))
        .withColumn("v_end", col("v_start") + ViewWinUs)
      operators.IntervalJoin.intervalOverlapJoin(views, clicks,
          Seq("user_id"), "v_start", "v_end", "win_start", "win_end",
          AsofTolUs)
        .select("view_id", "user_id", "v_start", "click_id", "win_start")
        .orderBy("view_id", "click_id")
    },
      // the overlap join's semantics ARE the interval-intersection
      // theta-join — stated literally; the bucket decomposition +
      // max(start)-bucket residual is the execution strategy under
      // hash-equality to this
      "WITH clicks AS (SELECT user_id, epoch_us(ts) AS win_start, " +
        "MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id AS view_id, user_id, " +
        "epoch_us(ts) AS v_start FROM events WHERE event_type = 'view') " +
        "SELECT v.view_id, v.user_id, v.v_start, c.click_id, c.win_start " +
        "FROM views v JOIN clicks c ON v.user_id = c.user_id " +
        s"AND v.v_start <= c.win_start + $AsofTolUs " +
        s"AND c.win_start <= v.v_start + $ViewWinUs"),
    // skew-proof FORWARD form: (user, hour bucket) partitions with the
    // opening-row carry reversed — must equal events_asof_fwd exactly,
    // so it shares that oracle verbatim
    Gate("events_asof_fwd_bucketed", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      operators.AsofJoin.asofJoinBucketedForward(views, clicks,
        Seq("user_id"), "ts", Seq("click_id"), 3600L).orderBy("event_id")
    },
      // execution detail only — same semantics
      ("WITH clicks AS (SELECT user_id, ts, MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts, c.click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts <= c.ts")),
    // skew-proof TOLERANCE form on the micros grain; bucket width =
    // one hour in micros — must equal events_asof_tol exactly, so it
    // shares that oracle verbatim
    Gate("events_asof_tol_bucketed", (s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
        .groupBy("user_id", "ts_us").agg(max("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      operators.AsofJoin.asofJoinBucketedTolerance(views, clicks,
        Seq("user_id"), "ts_us", Seq("click_id"), 3600000000L, AsofTolUs)
        .orderBy("event_id")
    },
      // execution detail only — same semantics
      ("WITH clicks AS (SELECT user_id, epoch_us(ts) AS ts_us, " +
        "MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us " +
        "FROM events WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts_us, " +
        s"CASE WHEN v.ts_us - c.ts_us <= $AsofTolUs THEN c.click_id END " +
        "AS click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts_us >= c.ts_us")),
  )

  /** Funnel oracle: chained per-stage thresholds — s_i = each user's
    * earliest stage-i event strictly after their s_{i-1} threshold.
    * Shared verbatim by `events_funnel` and its state-machine twin
    * `events_funnel_stateful`.
    */
  private def funnelOracleFor(windowUs: Option[Long]): String = {
    val stages = graft.streaming.EventWindows.FunnelStages
    val windowPred =
      windowUs.map(w => s" AND epoch_us(e.ts) <= p.t + $w").getOrElse("")
    val ctes = stages.zipWithIndex.map { case (s, i) =>
      if (i == 0)
        s"s0 AS (SELECT user_id, MIN(epoch_us(ts)) AS t FROM events " +
          s"WHERE event_type = '$s' GROUP BY 1)"
      else
        s"s$i AS (SELECT e.user_id, MIN(epoch_us(e.ts)) AS t " +
          s"FROM events e JOIN s${i - 1} p ON e.user_id = p.user_id " +
          s"WHERE e.event_type = '$s' AND epoch_us(e.ts) > p.t$windowPred " +
          "GROUP BY 1)"
    }.mkString(", ")
    val sel = stages.zipWithIndex.map { case (s, i) =>
      s"SELECT CAST($i AS BIGINT) AS stage_idx, '$s' AS stage, " +
        s"(SELECT COUNT(*) FROM s$i) AS n_users"
    }.mkString(" UNION ALL ")
    s"WITH $ctes $sel"
  }

  private lazy val funnelOracle: String = funnelOracleFor(None)

  /** Morton interleave in SQL — bit i of `a` to position 2i+1, of `b`
    * to 2i (integer-exact twin of Layout.morton; `//`/`%` on the
    * non-negative grid cells match the long shifts).
    */
  private def mortonSql(a: String, b: String): String =
    (0 until graft.sources.Layout.ZBits).map { i =>
      s"(($a // ${1L << i}) % 2) * ${1L << (2 * i + 1)} + " +
        s"(($b // ${1L << i}) % 2) * ${1L << (2 * i)}"
    }.mkString("(", " + ", ")")

  /** Shared CTEs for the z-order gates: corpus-wide min/max stats and
    * the per-event grid cells (the SQL twin of Layout.gridCell's
    * IntegralDivide normalization).
    */
  private lazy val ZGridCte: String = {
    val g = 1L << graft.sources.Layout.ZBits
    "st AS (SELECT MIN(user_id) AS umn, MAX(user_id) AS umx, " +
      "MIN(epoch_us(ts)) AS tmn, MAX(epoch_us(ts)) AS tmx FROM events), " +
      s"g AS (SELECT ((user_id - umn) * $g) // (umx - umn + 1) AS ub, " +
      s"((epoch_us(ts) - tmn) * $g) // (tmx - tmn + 1) AS tb, " +
      "user_id, epoch_us(ts) AS us FROM events, st)"
  }

  /** events_cusum oracle — zero-filled spine + the two prefix-sum/
    * prefix-min window pairs; shared VERBATIM by events_cusum_stateful
    * (stateful ≡ windowed given the same derived μ).
    */
  private lazy val CusumSql: String = {
      val den = EventWindows.CusumSlackDen
      val am = EventWindows.CusumAlarmMeans
      "WITH h AS (SELECT CAST(extract(epoch FROM " +
        "time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS hour_epoch, " +
        "event_type, COUNT(*) AS cnt FROM events GROUP BY 1, 2), " +
        "sp AS (SELECT event_type, MIN(hour_epoch) AS h0, " +
        "MAX(hour_epoch) AS h1, SUM(cnt) AS total FROM h GROUP BY 1), " +
        "spine AS (SELECT event_type, total, " +
        "(h1 - h0) // 3600 + 1 AS n_hours, " +
        "unnest(generate_series(h0, h1, 3600)) AS hour_epoch FROM sp), " +
        "f AS (SELECT s.event_type, s.hour_epoch, " +
        "COALESCE(h.cnt, 0) AS cnt, " +
        "s.total * 1000 // s.n_hours AS mu_milli FROM spine s " +
        "LEFT JOIN h ON h.event_type = s.event_type " +
        "AND h.hour_epoch = s.hour_epoch), " +
        s"g AS (SELECT *, mu_milli // $den AS slack_milli FROM f), " +
        "p AS (SELECT event_type, hour_epoch, cnt, mu_milli, " +
        "SUM(cnt * 1000 - mu_milli - slack_milli) OVER w AS p_hi, " +
        "SUM(mu_milli - slack_milli - cnt * 1000) OVER w AS p_lo " +
        "FROM g WINDOW w AS (PARTITION BY event_type ORDER BY hour_epoch " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), " +
        "c AS (SELECT event_type, hour_epoch, cnt, mu_milli, " +
        "p_hi - LEAST(0, MIN(p_hi) OVER w) AS cusum_hi_milli, " +
        "p_lo - LEAST(0, MIN(p_lo) OVER w) AS cusum_lo_milli " +
        "FROM p WINDOW w AS (PARTITION BY event_type ORDER BY hour_epoch " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
        "SELECT event_type, hour_epoch, CAST(cnt AS BIGINT) AS cnt, " +
        "CAST(mu_milli AS BIGINT) AS mu_milli, " +
        "CAST(cusum_hi_milli AS BIGINT) AS cusum_hi_milli, " +
        "CAST(cusum_lo_milli AS BIGINT) AS cusum_lo_milli, " +
        s"CAST(CASE WHEN cusum_hi_milli > $am * mu_milli THEN 1 ELSE 0 " +
        "END AS BIGINT) AS alarm_hi, " +
        s"CAST(CASE WHEN cusum_lo_milli > $am * mu_milli THEN 1 ELSE 0 " +
        "END AS BIGINT) AS alarm_lo FROM c"
    }

  /** events_sessions oracle — gaps-and-islands twin of session_window;
    * shared by events_session_quantiles (its session source).
    */
  private lazy val SessionsSql: String = {
    val gapUs = graft.streaming.Sessionize.GapUs
    "WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events), " +
      "o AS (SELECT user_id, us, CASE WHEN lag(us) OVER w IS NULL OR " +
      s"us - lag(us) OVER w >= $gapUs THEN 1 ELSE 0 END AS brk FROM e " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY us)), " +
      "g AS (SELECT user_id, us, SUM(brk) OVER " +
      "(PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM o) " +
      "SELECT user_id, CAST(MIN(us) AS BIGINT) AS session_start_us, " +
      s"CAST(MAX(us) + $gapUs AS BIGINT) AS session_end_us, " +
      "CAST(COUNT(*) AS BIGINT) AS n_events FROM g GROUP BY user_id, sid"
  }

  /** events_interarrival oracle — lag-window twin of
    * Sessionize.interArrival; shared VERBATIM by
    * events_interarrival_bucketed (the flat window and the
    * bucketed-carry-in implementations must be indistinguishable).
    */
  private lazy val InterArrivalSql: String = {
    val rapid = graft.streaming.Sessionize.RapidGapUs
    "WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events), " +
      "g AS (SELECT user_id, us, us - lag(us) OVER " +
      "(PARTITION BY user_id ORDER BY us) AS gap FROM e) " +
      "SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, " +
      "CAST(COUNT(gap) AS BIGINT) AS n_gaps, " +
      "CAST(COALESCE(MIN(gap), -1) AS BIGINT) AS min_gap_us, " +
      "CAST(COALESCE(MAX(gap), -1) AS BIGINT) AS max_gap_us, " +
      "CAST(MAX(us) - MIN(us) AS BIGINT) AS span_us, " +
      s"CAST(SUM(CASE WHEN gap < $rapid THEN 1 ELSE 0 END) AS BIGINT) " +
      "AS n_rapid FROM g GROUP BY user_id"
  }

  /** events_transitions oracle — SessionsSql's break rule with the
    * (us, event_id) tiebreak; shared verbatim by
    * events_transitions_stateful (the two implementations must be
    * indistinguishable, the funnel/funnel_stateful pairing).
    */
  private lazy val TransitionsSql: String = {
    val gapUs = graft.streaming.Sessionize.GapUs
    "WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id, " +
      "event_type FROM events), " +
      "o AS (SELECT event_type, lag(event_type) OVER w AS prev_type, " +
      "us - lag(us) OVER w AS gap FROM e " +
      "WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)) " +
      "SELECT prev_type, event_type, CAST(COUNT(*) AS BIGINT) AS n " +
      s"FROM o WHERE prev_type IS NOT NULL AND gap < $gapUs " +
      "GROUP BY 1, 2"
  }

  /** Quantile-sketch CTE chain (mirrors QuantileSketch.bucketOfU —
    * bit-smear floor(log2) + HdrHistogram sub-buckets, two-sided):
    * from a CTE `qv(event_type, u)` of micro-unit values to
    * `qb(event_type, bucket)`. Constants come FROM QuantileSketch so
    * the two sides cannot drift. GREATEST guards keep the unselected
    * CASE branch's shift amounts non-negative (DuckDB evaluates
    * vectorized lanes the CASE discards).
    */
  private def qsBucketCtes: String = {
    val s = graft.operators.QuantileSketch.QsSubBucketsLog2
    val S = graft.operators.QuantileSketch.QsSubBuckets
    s"qa AS (SELECT event_type, u, abs(u) AS a FROM qv), " +
      "q1 AS (SELECT *, a | (a >> 1) AS m1 FROM qa), " +
      "q2 AS (SELECT *, m1 | (m1 >> 2) AS m2 FROM q1), " +
      "q3 AS (SELECT *, m2 | (m2 >> 4) AS m3 FROM q2), " +
      "q4 AS (SELECT *, m3 | (m3 >> 8) AS m4 FROM q3), " +
      "q5 AS (SELECT *, m4 | (m4 >> 16) AS m5 FROM q4), " +
      "q6 AS (SELECT *, m5 | (m5 >> 32) AS m6 FROM q5), " +
      // bit_count returns TINYINT in DuckDB — widen BEFORE the *S
      "qe AS (SELECT *, CAST(bit_count(m6) AS BIGINT) - 1 AS e FROM q6), " +
      s"qm AS (SELECT *, CASE WHEN a < ${2 * S} THEN a ELSE " +
      s"(e - $s) * $S + (a >> GREATEST(e - $s, 0)) END AS mag FROM qe), " +
      "qb AS (SELECT event_type, " +
      "CASE WHEN u < 0 THEN -mag ELSE mag END AS bucket FROM qm)"
  }

  /** Inclusive micro-unit bounds of a sketch bucket (mirrors
    * QuantileSketch.uLo/uHi); `b` is an expression in scope.
    */
  private def qsMagLo(b: String): String = {
    val S = graft.operators.QuantileSketch.QsSubBuckets
    s"(CASE WHEN $b < ${2 * S} THEN $b ELSE " +
      s"(($b % $S + $S) << GREATEST($b // $S - 1, 0)) END)"
  }

  private def qsMagHi(b: String): String = {
    val S = graft.operators.QuantileSketch.QsSubBuckets
    s"(CASE WHEN $b < ${2 * S} THEN $b ELSE " +
      s"((($b % $S + $S + 1) << GREATEST($b // $S - 1, 0)) - 1) END)"
  }

  private def qsULo(b: String): String =
    s"(CASE WHEN $b < 0 THEN -${qsMagHi(s"(-($b))")} ELSE ${qsMagLo(b)} END)"

  private def qsUHi(b: String): String =
    s"(CASE WHEN $b < 0 THEN -${qsMagLo(s"(-($b))")} ELSE ${qsMagHi(b)} END)"

  /** Shared by `events_qsketch` and its merged-rollup twin (counter
    * addition is exact, so the rollup is output-identical).
    */
  private lazy val qsketchStateOracle: String = {
    val fp = graft.operators.QuantileSketch.QsParamsFingerprint
    val scale = graft.operators.QuantileSketch.QsScale
    // isfinite(), not `value = value`: DuckDB orders NaN equal to
    // itself (NaN = NaN is TRUE there), so the usual self-equality
    // NaN test silently admits what QuantileSketch.sketch excludes —
    // the oracle must state the identical finiteness contract
    s"WITH qv AS (SELECT event_type, CAST(floor(value * $scale.0) AS BIGINT) " +
      "AS u FROM events WHERE value IS NOT NULL AND isfinite(value)), " +
      s"$qsBucketCtes " +
      "SELECT event_type, CAST(bucket AS BIGINT) AS bucket, " +
      "CAST(COUNT(*) AS BIGINT) AS cnt, " +
      s"CAST($fp AS BIGINT) AS qs_params_fp FROM qb GROUP BY 1, 2"
  }
}
