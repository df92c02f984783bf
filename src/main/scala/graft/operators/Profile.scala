package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, TimestampType}

/** Column-level data profiling — the validation pass a training
  * pipeline runs BEFORE trusting a new data drop (the capability
  * class tools like Deequ/Great Expectations provide): per column,
  * row count, null count, exact distinct count, and numeric min/max.
  * Completeness (1 − n_null/n) and uniqueness (n_distinct/n) ratios —
  * the usual constraint inputs — are consumer arithmetic over these
  * exact integers, per the repo's float-parity rule.
  *
  * Shape: the frame is unpivoted in a single generator projection
  * (each row explodes to one (column, value) struct per profiled
  * column — a map-stage ×ncols fanout, no shuffle), then ONE
  * aggregation keyed by column name. Numeric values travel as
  * doubles, everything else as strings, in separate slots — distinct
  * counts must be over the VALUE domain, not a formatted rendering
  * (two engines need not print doubles identically, and -0.0 vs 0.0
  * would double-count as text while comparing equal as numbers).
  *
  * The exact distinct is the expensive leg: it shuffles every
  * distinct (column, value) pair, i.e. up to ncols × corpus at
  * 100 TB. That is the profiler's contract; when an estimate is
  * enough, `TextOps.hllState` over the same unpivot is the bounded-
  * state sibling (same trade as `EventWindows.hourly` vs
  * `hourlyUsersHll`). Timestamp columns profile as their epoch-
  * microsecond value (exact, engine-neutral).
  */
object Profile {

  /** One row per profiled column: (column, n, n_null, n_distinct,
    * min_num, max_num). An EMPTY input profiles to zero rows (no
    * groups survive the unpivot) — not to ncols rows of zeros; the
    * oracle SQL states the same edge via HAVING COUNT(*) > 0.
    */
  def profile(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.schema.fieldNames.toSeq
    names.foreach(n => require(df.schema.fieldNames.contains(n),
      s"profile: no such column '$n' (have ${df.schema.fieldNames.mkString(", ")})"))
    require(names.nonEmpty, "profile: no columns to profile")
    val slots = names.map { n =>
      val numericView = df.schema(n).dataType match {
        case _: NumericType => Some(col(n).cast("double"))
        case TimestampType => Some(unix_micros(col(n)).cast("double"))
        case _ => None
      }
      struct(
        lit(n).as("column"),
        numericView.fold(col(n).cast("string"))(_ => lit(null).cast("string"))
          .as("vs"),
        numericView.getOrElse(lit(null).cast("double")).as("vn"))
    }
    df.select(explode(array(slots: _*)).as("p"))
      .select(col("p.column").as("column"), col("p.vs").as("vs"),
        col("p.vn").as("vn"))
      .groupBy("column")
      .agg(
        count(lit(1)).as("n"),
        // exactly one slot is live per column, so "both null" ⇔ the
        // profiled value was null
        sum(when(col("vs").isNull && col("vn").isNull, 1L).otherwise(0L))
          .as("n_null"),
        // one of the two distinct counts is over an all-null slot (= 0)
        (countDistinct(col("vs")) + countDistinct(col("vn")))
          .as("n_distinct"),
        min(col("vn")).as("min_num"),
        max(col("vn")).as("max_num"))
  }

  /** The BOUNDED-STATE distinct profile: per column, the same
    * `TextOps.hllState` HyperLogLog sketch the vocab estimator uses —
    * `profile`'s exact n_distinct shuffles every distinct
    * (column, value) pair (ncols × corpus at worst), this shuffles at
    * most ncols × `HllBuckets` counter rows and the per-column states
    * merge by bucket-wise MAX across data drops for free. Output per
    * column: (m, n_empty, harmonic_scaled, est_raw) — the vocabHll
    * contract (integer-exact state so even the sketch is
    * hash-checkable; small-range correction left to the consumer).
    *
    * Restricted to STRING and integral columns: the sketch hashes the
    * string RENDERING, and only those render identically across
    * engines (doubles do not — "1.0E7" vs "10000000.0"); profile
    * doubles exactly with `profile`, whose distinct runs on the value
    * domain. Nulls are excluded (no rendering), matching COUNT
    * DISTINCT semantics.
    *
    * PRE-MIX (measured necessity): short digit-dominated renderings —
    * exactly what an id column produces — are AFFINE under PolyHash
    * (≤4-char strings never trigger a mod reduction, so the combined
    * hash is a linear function of the digit values and its residues
    * mod 512 live in an index-2 lattice: half the buckets are
    * UNREACHABLE and the estimator saturates — measured ~700 for 5k
    * distinct ids). Hashing once and re-rendering the ~18-digit
    * decimal forces full mod-reduction chains on the second (in-
    * sketch) pass: measured est_raw within 6% from 2k to 100k
    * distinct ids, and string columns unaffected in quality. The
    * oracle applies the identical pre-mix expression.
    */
  def profileHll(df: DataFrame, cols: Seq[String] = Nil): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.schema.fieldNames.toSeq
    names.foreach { n =>
      require(df.schema.fieldNames.contains(n),
        s"profileHll: no such column '$n'")
      df.schema(n).dataType match {
        case org.apache.spark.sql.types.StringType
            | org.apache.spark.sql.types.LongType
            | org.apache.spark.sql.types.IntegerType
            | org.apache.spark.sql.types.ShortType
            | org.apache.spark.sql.types.ByteType => ()
        case dt => throw new IllegalArgumentException(
          s"profileHll: column '$n' is $dt — only string/integral " +
            "renderings are engine-stable; use profile() for doubles")
      }
    }
    require(names.nonEmpty, "profileHll: no columns to profile")
    val slots = names.map(n =>
      struct(lit(n).as("column"), col(n).cast("string").as("item")))
    import graft.functions.PolyHashFunctions.poly_hash60
    val items = df.select(explode(array(slots: _*)).as("p"))
      .select(col("p.column").as("column"), col("p.item").as("item"))
      .filter(col("item").isNotNull)
      .select(col("column"),
        poly_hash60(col("item")).cast("string").as("item"))
    TextOps.hllState(items, Seq("column"), col("item"))
  }

  /** A declared data-quality expectation over a relation — the
    * constraint form of the `profile` evidence (what Deequ calls a
    * Check and Great Expectations an expectation): either the ppm
    * RATIO of rows satisfying a predicate, or the ppm UNIQUENESS of a
    * key column (distinct/n). `thresholdPpm` is the pass bar the
    * evaluated metric is compared against (≥), stated in the same ppm
    * fixed point every ratio in this repo uses.
    */
  sealed trait Expectation {
    def rule: String
    def thresholdPpm: Long
  }
  final case class RatioExpectation(rule: String,
      pred: org.apache.spark.sql.Column,
      thresholdPpm: Long = 1000000L) extends Expectation
  final case class UniqueExpectation(rule: String, column: String,
      thresholdPpm: Long = 1000000L) extends Expectation

  /** Evaluate a suite of expectations in ONE pass: every rule's
    * numerator is a conditional sum (or exact distinct for uniqueness
    * rules) inside a single global aggregation, then the 1-row result
    * is unpivoted to one (rule, metric_ppm, threshold_ppm, pass) row
    * per rule — the admission gate a pipeline reads before trusting a
    * data drop. metric_ppm = ⌊num·1e6/n⌋; an EMPTY relation passes
    * vacuously (metric_ppm = 1e6 for every rule — the Deequ
    * convention for completeness on zero rows, stated identically in
    * the oracle SQL). A null predicate evaluation counts as FAIL for
    * its row (CASE WHEN semantics), so nulls can't sneak through a
    * range rule.
    *
    * Shape at scale: one scan, map-side partial aggregation, a 1-row
    * final state per ratio rule; each UNIQUE rule adds one exact
    * (column-value)-keyed distinct shuffle — the `profile` n_distinct
    * trade, priced the same way (the HLL profile is the bounded-state
    * sibling when an estimate is enough). The unpivot is driver-free:
    * explode over a rules-sized literal array.
    */
  def expectations(df: DataFrame, checks: Seq[Expectation]): DataFrame = {
    require(checks.nonEmpty, "expectations: empty rule suite")
    require(checks.map(_.rule).distinct.size == checks.size,
      s"expectations: duplicate rule names in ${checks.map(_.rule)}")
    checks.foreach { e =>
      require(e.rule.matches("[a-z0-9_]+"),
        s"expectations: rule name '${e.rule}' must be [a-z0-9_]+")
      require(e.thresholdPpm >= 0L && e.thresholdPpm <= 1000000L,
        s"expectations: thresholdPpm out of [0, 1e6] for '${e.rule}'")
    }
    val aggs = checks.map {
      case RatioExpectation(r, p, _) =>
        sum(when(p, 1L).otherwise(0L)).as(s"__m_$r")
      case UniqueExpectation(r, c, _) =>
        require(df.schema.fieldNames.contains(c),
          s"expectations: no such column '$c' for rule '$r'")
        countDistinct(col(c)).as(s"__m_$r")
    }
    val one = df.groupBy().agg(count(lit(1)).as("__n"), aggs: _*)
    val slots = checks.map { e =>
      struct(lit(e.rule).as("rule"),
        when(col("__n") === 0L, lit(1000000L))
          .otherwise(expr(s"__m_${e.rule} * 1000000 div __n"))
          .as("metric_ppm"),
        lit(e.thresholdPpm).as("threshold_ppm"))
    }
    one.select(explode(array(slots: _*)).as("x"))
      .select(col("x.rule").as("rule"), col("x.metric_ppm").as("metric_ppm"),
        col("x.threshold_ppm").as("threshold_ppm"),
        (col("x.metric_ppm") >= col("x.threshold_ppm")).cast("long")
          .as("pass"))
  }

  /** Allowed language codes for the documents admission suite. The
    * same set MUST appear in the oracle SQL.
    */
  val DocLangs: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** The documents table's admission suite — the seven constraints a
    * text-corpus drop must clear before entering the pipeline:
    * key completeness + uniqueness, non-empty text, a known language
    * code, a positive and text-consistent n_chars, and source
    * attribution. Thresholds are all 1e6 (hard constraints); relaxed
    * bars are a caller decision, not a fixture one.
    */
  def docsExpectations(docs: DataFrame): DataFrame =
    expectations(docs, DocsChecks)

  /** The documents admission rules as a value, shared by the suite
    * gate and the per-row `violations` view.
    */
  val DocsChecks: Seq[Expectation] = Seq(
    RatioExpectation("doc_id_not_null", col("doc_id").isNotNull),
    UniqueExpectation("doc_id_unique", "doc_id"),
    RatioExpectation("text_nonempty",
      col("text").isNotNull && length(col("text")) >= 1),
    RatioExpectation("lang_known", col("lang").isin(DocLangs: _*)),
    RatioExpectation("n_chars_positive", col("n_chars") >= 1L),
    RatioExpectation("n_chars_consistent",
      length(col("text")) === col("n_chars")),
    RatioExpectation("source_not_null",
      col("source").isNotNull && col("source") =!= ""))

  /** Per-ROW violations — the actionable half of `expectations`:
    * which keys fail which rule (the quarantine relation a pipeline
    * anti-joins before admission; the suite gate only says THAT a
    * rule failed). Ratio rules evaluate in ONE scan — each row
    * explodes only its failing rule names (null predicate = FAIL, the
    * expectations convention); each UNIQUE rule adds one value-keyed
    * count + a join back flagging EVERY row of a duplicated non-null
    * value (null keys are the not-null rule's finding, not a
    * uniqueness one).
    *
    * Scale shape: one corpus scan for all ratio rules (the explode is
    * over a rules-sized literal); per unique rule, the same exact
    * distinct-count trade `expectations` already prices.
    */
  def violations(df: DataFrame, checks: Seq[Expectation],
      keyCol: String = "doc_id"): DataFrame = {
    require(checks.nonEmpty, "violations: empty rule suite")
    val ratioSlots = checks.collect {
      case RatioExpectation(r, p, _) =>
        when(!coalesce(p, lit(false)), lit(r))
    }
    val ratio =
      if (ratioSlots.isEmpty)
        df.select(col(keyCol).as("key"), lit("").as("rule"))
          .filter(lit(false))
      else df.select(col(keyCol).as("key"),
        explode(filter(array(ratioSlots: _*), c => c.isNotNull))
          .as("rule"))
    val uniq = checks.collect {
      case UniqueExpectation(r, c, _) =>
        val dups = df.filter(col(c).isNotNull)
          .groupBy(col(c)).agg(count(lit(1)).as("__c"))
          .filter(col("__c") > 1L).select(col(c))
        df.join(dups, Seq(c))
          .select(col(keyCol).as("key"), lit(r).as("rule"))
    }
    uniq.foldLeft(ratio)(_ unionByName _)
  }

  /** Event types and the corpus time window for the events admission
    * suite. Same constants MUST appear in the oracle SQL.
    */
  val EventTypes: Seq[String] =
    Seq("click", "error", "purchase", "signup", "view")
  val EventsWindowStart = 1704067200L // 2024-01-01T00:00:00Z
  val EventsWindowEnd = 1706745600L   // 2024-02-01T00:00:00Z

  /** The events stream's admission suite — the stream-side twin of
    * `docsExpectations`: key completeness + uniqueness, a known event
    * type, a FINITE value (NaN/±Inf are how upstream float bugs
    * arrive; the qsketch family's finiteness predicate as a gate),
    * and timestamps inside the corpus window (clock skew and epoch-
    * unit mixups land outside it). The value-finite rule passes nulls
    * through as failures deliberately — a null value is not finite
    * evidence.
    */
  def eventsExpectations(events: DataFrame): DataFrame =
    expectations(events, Seq(
      RatioExpectation("event_id_not_null", col("event_id").isNotNull),
      UniqueExpectation("event_id_unique", "event_id"),
      RatioExpectation("user_id_not_null", col("user_id").isNotNull),
      RatioExpectation("type_known", col("event_type").isin(EventTypes: _*)),
      RatioExpectation("value_finite",
        col("value").isNotNull && !col("value").isNaN &&
          abs(col("value")) =!= Double.PositiveInfinity),
      RatioExpectation("ts_in_window",
        expr("unix_seconds(ts)") >= lit(EventsWindowStart) &&
          expr("unix_seconds(ts)") < lit(EventsWindowEnd))))
}
