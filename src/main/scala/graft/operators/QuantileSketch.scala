package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{ShiftLeft, ShiftRight}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** MERGEABLE quantile sketch, AS A RELATION — the percentile member of
  * the sketch family next to CMS (`TextOps.cmsTokens`, frequencies)
  * and HLL (`TextOps.hllState`, distincts): per group, a bounded set
  * of `(bucket, cnt)` counters over a deterministic log-bucketed value
  * grid. Two sketches merge by ADDING counters (union + sum — pinned
  * in tests), so per-shard/per-hour states roll up into per-corpus/
  * per-day states without touching the raw values again, and quantile
  * queries read the tiny state relation instead of re-ranking the
  * corpus. This is the one-pass, unbounded-group-cardinality
  * complement of the EXACT `TextOps.groupedQuantiles` (two passes +
  * driver state ∝ partitions × groups): the sketch's one shuffle
  * carries ≤ `maxBuckets` counters per group with map-side partial
  * counting, and NOTHING is driver-side.
  *
  * WHY NOT KLL/GK: both are compaction sketches whose state depends on
  * arrival order (GK) or on sampling randomness (KLL) — two runs, two
  * partitionings, or a task retry produce different (all individually
  * valid) states, so results can't be hash-checked against the SQL
  * oracle and aren't reproducible at 100 TB where retries are routine.
  * The fixed log-bucket grid is the deterministic trade: state is
  * value-RANGE-bounded instead of probabilistically bounded, the
  * answer carries an a-priori RELATIVE error bound (below) instead of
  * a rank-error bound, and every path is exact integer arithmetic —
  * bit-identical across engines, partitionings and retries.
  *
  * GRID (HdrHistogram layout, two-sided): values are fixed-pointed to
  * micro-units `u = floor(v · QsScale)` (one IEEE multiply + floor —
  * identical in both engines), then the magnitude is bucketed with
  * `S = 2^QsSubBucketsLog2` sub-buckets per power of two —
  *   a < 2S        → bucket a            (EXACT region)
  *   a ≥ 2S        → (e−s)·S + (a >> (e−s)),  e = floor(log₂ a)
  * (monotone, contiguous; negative u mirrors to negative buckets).
  * floor(log₂) is computed by BIT SMEAR + popcount — shifts, ORs and
  * `bit_count`, no float log anywhere (a libm log2's last-ulp drift
  * between engines would flip bucket boundaries — the same hazard the
  * HLL estimator's docstring measures for ln()). Each bucket spans
  * relative width ≤ 1/S of its magnitude, so a reported quantile's
  * value interval `[ulo_fp, uhi_fp]` (micro-units) is at most ~3%
  * wide at the default S = 32 — and the TRUE order statistic provably
  * lies inside it (calibration-pinned against `groupedQuantiles`).
  * State per group ≤ 2·(64−s)·S + 2S buckets (≈ 4k at s = 5) and in
  * practice ∝ the value range actually occupied.
  *
  * Contract: null AND non-finite values are excluded (nulls as
  * `groupedQuantiles`; NaN would floor to bucket 0 and ±Infinity
  * saturate into a garbage bucket under Spark's non-ANSI
  * double→long cast, silently skewing every quantile — the filter
  * makes the sketch a statement about the FINITE values, the same
  * contract a percentile over a corpus with sensor glitches wants);
  * finite |v| must stay below `QsMaxAbs` = 9.2·10^12 (just under
  * 2^63/QsScale) — a larger value RAISES at execution rather than
  * saturating the micro-unit cast into a wrong bucket, because
  * unlike NaN it is a real measurement whose silent exclusion or
  * misplacement would skew the answer. Scale is a constant by design
  * so stored states can't silently mix grids; `qs_params_fp` stamps
  * it and consumers raise on mismatch, the `bandKeysOf`/
  * `centroidsOf` persistence pattern.
  */
object QuantileSketch {

  /** Fixed-point scale: micro-units. */
  val QsScale = 1000000L

  /** Largest admissible finite |v| — conservatively below
    * 2^63/QsScale ≈ 9.223·10^12 so `v · QsScale` can never reach the
    * double→long saturation region (values within an ulp of the true
    * limit would saturate monotonically here but error in the SQL
    * oracle's strict cast — the conservative bound keeps both engines
    * in loud agreement).
    */
  val QsMaxAbs: Double = 9.2e12

  /** Sub-bucket bits per power of two: S = 32 → ≤ 1/32 ≈ 3.1% relative
    * bucket width.
    */
  val QsSubBucketsLog2 = 5
  val QsSubBuckets: Long = 1L << QsSubBucketsLog2

  /** Fingerprint of the grid constants, stamped on every state row;
    * `quantiles`/`merge` raise on mismatch — counters from a different
    * grid would silently land in wrong buckets (`Stamps.paramsFingerprint`).
    */
  val QsParamsFingerprint: Long =
    Stamps.paramsFingerprint("qsketch-v1", QsScale, QsSubBucketsLog2)

  private def shrBy(c: Column, by: Column): Column =
    ColumnBridge.column(ShiftRight(
      ColumnBridge.expression(c), ColumnBridge.expression(by.cast("int"))))

  private def shlBy(c: Column, by: Column): Column =
    ColumnBridge.column(ShiftLeft(
      ColumnBridge.expression(c), ColumnBridge.expression(by.cast("int"))))

  /** floor(log₂ a) for a ≥ 1 via bit smear + popcount — pure integer,
    * mirrored verbatim by the oracle SQL generator.
    */
  private def log2Of(a: Column): Column = {
    val b1 = a.bitwiseOR(shiftright(a, 1))
    val b2 = b1.bitwiseOR(shiftright(b1, 2))
    val b4 = b2.bitwiseOR(shiftright(b2, 4))
    val b8 = b4.bitwiseOR(shiftright(b4, 8))
    val b16 = b8.bitwiseOR(shiftright(b8, 16))
    val b32 = b16.bitwiseOR(shiftright(b16, 32))
    bit_count(b32).cast("long") - 1L
  }

  private def magBucket(a: Column): Column = {
    val sh = log2Of(a) - QsSubBucketsLog2.toLong
    when(a < 2L * QsSubBuckets, a)
      .otherwise(sh * QsSubBuckets + shrBy(a, sh))
  }

  /** Bucket of micro-unit value u — monotone in u (property-pinned). */
  private[graft] def bucketOfU(u: Column): Column =
    when(u < 0L, -magBucket(-u)).otherwise(magBucket(u))

  /** STAGED bucket computation for the per-row hot path (round-21,
    * guide step 4: codegen-friendly expressions): `bucketOfU` as a
    * single Column inlines the log₂ bit-smear chain once per
    * reference — magBucket reads the shift twice, bucketOfU expands
    * the ± branches separately, and each smear step references its
    * predecessor twice, so the flattened tree the optimizer hands to
    * codegen grows EXPONENTIALLY in the chain depth (~2^6 copies of
    * the scan column; conditional branches are excluded from codegen
    * subexpression elimination, so the work is real, not just
    * textual). Staging each step as a NAMED column in its own
    * projection makes codegen evaluate it exactly once per row —
    * CollapseProject keeps non-cheap multi-referenced expressions
    * un-inlined (the `qs_u` guard-projection device, applied to the
    * whole chain).
    *
    * EXACTLY `bucketOfU` (spec-pinned equal on the boundary grid):
    * with a = |u|, bucket = sign(u)·mag(a) — `-magBucket(-u)` IS
    * `-mag(|u|)` for u < 0, and magBucket's exact-region branch never
    * reads the (garbage-for-small-a) shift column because `when`
    * short-circuits per row. Input columns (`groups` + any extras)
    * pass through untouched; qs_* working columns are dropped.
    */
  private[graft] def withBucketStaged(df: DataFrame): DataFrame = {
    def smear(d: DataFrame, bits: Int): DataFrame =
      d.withColumn("qs_b",
        col("qs_b").bitwiseOR(shiftright(col("qs_b"), bits)))
    val smeared = Seq(2, 4, 8, 16, 32).foldLeft(
        smear(df.withColumn("qs_a", abs(col("qs_u")))
          .withColumn("qs_b", col("qs_a")), 1))(smear)
    smeared
      .withColumn("qs_sh",
        bit_count(col("qs_b")).cast("long") - 1L - QsSubBucketsLog2.toLong)
      .withColumn("qs_mag",
        when(col("qs_a") < 2L * QsSubBuckets, col("qs_a"))
          .otherwise(col("qs_sh") * QsSubBuckets +
            shrBy(col("qs_a"), col("qs_sh"))))
      .withColumn("bucket",
        when(col("qs_u") < 0L, -col("qs_mag")).otherwise(col("qs_mag")))
      .drop("qs_a", "qs_b", "qs_sh", "qs_mag")
  }

  /** Driver-side Scala mirror of `bucketOfU` — for turning PROBE
    * values into constant bucket ids at plan-build time (`cdfBounds`)
    * and into spliced constants in the oracle SQL. Property-pinned
    * equal to the Column expression on boundary values.
    */
  private[graft] def bucketOfULong(u: Long): Long = {
    def mag(a: Long): Long =
      if (a < 2L * QsSubBuckets) a
      else {
        val e = 63 - java.lang.Long.numberOfLeadingZeros(a)
        val sh = e - QsSubBucketsLog2
        sh * QsSubBuckets + (a >> sh)
      }
    if (u < 0L) -mag(-u) else mag(u)
  }

  /** Micro-units of a double value — ONE IEEE multiply + floor, the
    * identical arithmetic `sketch` applies per row.
    */
  private[graft] def toMicro(v: Double): Long =
    math.floor(v * QsScale.toDouble).toLong

  private def magLo(b: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
    val lvl = ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(b), Literal(QsSubBuckets))) - 1L
    when(b < 2L * QsSubBuckets, b)
      .otherwise(shlBy(b % QsSubBuckets + QsSubBuckets, lvl))
  }

  private def magHi(b: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
    val lvl = ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(b), Literal(QsSubBuckets))) - 1L
    when(b < 2L * QsSubBuckets, b)
      .otherwise(shlBy(b % QsSubBuckets + QsSubBuckets + 1L, lvl) - 1L)
  }

  /** Inclusive micro-unit bounds of bucket c (inverse of `bucketOfU`:
    * ∀u, uLo(bucket(u)) ≤ u ≤ uHi(bucket(u)) — property-pinned).
    */
  private[graft] def uLo(c: Column): Column =
    when(c < 0L, -magHi(-c)).otherwise(magLo(c))
  private[graft] def uHi(c: Column): Column =
    when(c < 0L, -magLo(-c)).otherwise(magHi(c))

  /** The sketch: one `(groups…, bucket, cnt, qs_params_fp)` row per
    * occupied bucket per group. ONE shuffle of (group, bucket) keys,
    * map-side partial counts collapsing the heavy lifting — at 100 TB
    * the wire carries ≤ maxBuckets counters per group however many
    * values the group holds (exact per-group distincts of (group,
    * bucket), the same boundedness argument as `cmsTokens`).
    */
  def sketch(df: DataFrame, groups: Seq[String], valueCol: String): DataFrame = {
    require(!groups.contains("qs_u") && valueCol != "qs_u",
      "qs_u is the sketch's internal micro-unit column — rename the input")
    val g = groups.map(col)
    // the guarded micro conversion gets its OWN projection: bucketOfU
    // references its input many times, and a raise_error-bearing
    // branch is ineligible for codegen subexpression elimination — as
    // a named column it evaluates once per row (CollapseProject keeps
    // non-cheap multi-referenced expressions un-inlined)
    withBucketStaged(df.filter(finiteValue(valueCol))
        .select(g :+ microOf(valueCol).as("qs_u"): _*))
      .groupBy(g :+ col("bucket"): _*)
      .agg(count(lit(1)).as("cnt"))
      .withColumn("qs_params_fp", lit(QsParamsFingerprint))
  }

  /** The admission predicate of the finiteness contract: non-null AND
    * finite (NaN and ±Infinity have no bucket on the grid — see the
    * object docstring).
    */
  private def finiteValue(valueCol: String): Column = {
    val v = col(valueCol).cast("double")
    v.isNotNull && !isnan(v) &&
      v =!= Double.PositiveInfinity && v =!= Double.NegativeInfinity
  }

  /** Micro-unit conversion with the range guard: a finite value past
    * `QsMaxAbs` RAISES (see the contract in the object docstring)
    * instead of riding the saturating double→long cast into a wrong
    * bucket.
    */
  private def microOf(valueCol: String): Column = {
    val v = col(valueCol).cast("double")
    when(abs(v) < lit(QsMaxAbs),
      floor(v * QsScale.toDouble).cast("long"))
      .otherwise(raise_error(concat(
        lit("quantile-sketch value "), v.cast("string"),
        lit(s" overflows the micro-unit grid — |v| must be < $QsMaxAbs"))))
  }

  /** WINDOWED sketch states — the streaming / time-rollup shape: one
    * sketch state per (window start, groups…). The SAME transform
    * runs in batch (feeding `merge` rollups — hour → day → corpus)
    * and under Structured Streaming (`readStream` in, a watermark on
    * `tsCol` added by the caller; the aggregation is an incremental
    * count, the sketch-family property that makes it legal where
    * exact quantile state would be unbounded) — parity pinned in
    * ExtensionsSpec. `window_epoch` is the epoch-aligned window start
    * in seconds, `hourly`'s timezone-independent convention. Late or
    * re-emitted windows are harmless downstream: `merge` adds
    * counters, which is exactly the correction late data needs.
    */
  def sketchWindowed(df: DataFrame, groups: Seq[String], valueCol: String,
      tsCol: String, windowLen: String = "1 hour"): DataFrame = {
    require(!groups.contains("qs_u") && valueCol != "qs_u" && tsCol != "qs_u",
      "qs_u is the sketch's internal micro-unit column — rename the input")
    val keys = window(col(tsCol), windowLen).as("w") +: groups.map(col) :+
      col("bucket")
    // guarded micro conversion in its own projection — see sketch();
    // bucket via the staged chain, same reason as sketch()
    withBucketStaged(df.filter(finiteValue(valueCol))
        .select(col(tsCol) +: groups.map(col) :+
          microOf(valueCol).as("qs_u"): _*))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("cnt"))
      .select(col("w.start").cast("long").as("window_epoch") +:
        groups.map(col) :+ col("bucket") :+ col("cnt") :+
        lit(QsParamsFingerprint).as("qs_params_fp"): _*)
  }

  /** Guard a state's counters against grid drift: a stored state from
    * a build with different constants raises instead of merging
    * garbage. Bare 3-column relations (no fp) skip the check.
    */
  private def cntChecked(state: DataFrame): Column =
    if (!state.columns.contains("qs_params_fp")) col("cnt")
    else Stamps.stampGuard(col("cnt"), "qs_params_fp", QsParamsFingerprint,
      "the quantile-sketch bucket grid changed; re-sketch the corpus " +
        "with this build")

  /** Merge sketch states by counter addition — `merge(sketch(A),
    * sketch(B)) == sketch(A ∪ B)` EXACTLY (pinned in tests), the
    * property that makes per-shard / per-window states roll up for
    * free. Union + one (group, bucket)-keyed sum; inputs may carry
    * different row layouts as long as the grid fingerprints agree.
    */
  def merge(states: Seq[DataFrame], groups: Seq[String]): DataFrame = {
    require(states.nonEmpty, "merge needs at least one state")
    val norm = states.map { s =>
      s.select(groups.map(col) :+ col("bucket") :+ cntChecked(s).as("cnt"): _*)
    }
    norm.reduce(_ unionByName _)
      .groupBy(groups.map(col) :+ col("bucket"): _*)
      .agg(sum("cnt").as("cnt"))
      .withColumn("qs_params_fp", lit(QsParamsFingerprint))
  }

  /** CDF (percentile-RANK) bounds from the state — the inverse of
    * `quantiles`: for each group and probe value p, the interval
    * `[rank_lo, rank_hi]` provably containing the count of the
    * group's values v' with `floor(v'·QsScale) < floor(p·QsScale)`
    * (and equally the ≤ count): `rank_lo` = counters strictly below
    * the probe's bucket (all certainly smaller), `rank_hi` adds the
    * probe's own bucket (the unknown split). Width ≤ one bucket's
    * count — the same one-bucket uncertainty `quantiles` carries on
    * the value axis, here on the rank axis. Divide by `n` for the
    * CDF. Probe buckets resolve at PLAN BUILD time (driver-side
    * `bucketOfULong`), so the whole query is one conditional
    * aggregation over the state relation — no window, no join; state
    * rows × probes is the only blow-up and both factors are bounded.
    */
  def cdfBounds(state: DataFrame, groups: Seq[String],
      probes: Seq[Double]): DataFrame = {
    require(probes.nonEmpty, "cdfBounds needs at least one probe")
    require(probes.distinct.size == probes.size,
      s"probes must be distinct: $probes")
    val g = groups.map(col)
    val probeRel = typedLit(probes.map { p =>
      val fp = toMicro(p)
      (fp, bucketOfULong(fp))
    })
    state.select(g :+ col("bucket") :+ cntChecked(state).as("cnt"): _*)
      .withColumn("__p", explode(probeRel))
      .select(g ++ Seq(col("bucket"), col("cnt"),
        col("__p._1").as("probe_fp"), col("__p._2").as("pb")): _*)
      .groupBy(g :+ col("probe_fp"): _*)
      .agg(sum(col("cnt")).as("n"),
        coalesce(sum(when(col("bucket") < col("pb"), col("cnt"))),
          lit(0L)).as("rank_lo"),
        coalesce(sum(when(col("bucket") <= col("pb"), col("cnt"))),
          lit(0L)).as("rank_hi"))
  }

  /** Quantiles FROM the state: per group and pct, the bucket holding
    * the rank-`max(1, (pct·n + 99) div 100)` element (the identical
    * integer rank rule as the exact `groupedQuantiles`) with its
    * inclusive micro-unit bounds `[ulo_fp, uhi_fp]` — the true order
    * statistic v satisfies `ulo_fp ≤ floor(v·QsScale) ≤ uhi_fp`.
    *
    * The per-group window below sorts STATE rows, not data rows — ≤
    * maxBuckets per group BY GEOMETRY, so this is a window over a
    * bounded relation (the funnel `PARTITION BY group` is fatal for
    * at 100 TB of raw values cannot occur here by construction).
    */
  def quantiles(state: DataFrame, groups: Seq[String],
      pcts: Seq[Int] = TextOps.QuantilePcts): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be in [1, 100], got $pcts")
    require(pcts.distinct.size == pcts.size, s"pcts must be distinct: $pcts")
    import org.apache.spark.sql.catalyst.expressions.{IntegralDivide, Literal}
    val g = groups.map(col)
    val s0 = state.select(g :+ col("bucket") :+ cntChecked(state).as("cnt"): _*)
    val w = Window.partitionBy(groups.map(col): _*).orderBy(col("bucket"))
    val target = ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(col("pct") * col("n") + 99L), Literal(100L)))
    s0.withColumn("cum", sum("cnt").over(w))
      .withColumn("n",
        sum("cnt").over(Window.partitionBy(groups.map(col): _*)))
      .withColumn("pct", explode(typedLit(pcts.map(_.toLong))))
      .withColumn("target", greatest(lit(1L), target))
      .filter(col("cum") >= col("target") &&
        col("cum") - col("cnt") < col("target"))
      .select(g ++ Seq(col("pct"), col("n"),
        uLo(col("bucket")).as("ulo_fp"), uHi(col("bucket")).as("uhi_fp")): _*)
  }
}
