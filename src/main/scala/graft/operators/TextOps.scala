package graft.operators

import graft.functions.PolyHashFunctions.{hashPrefix, poly_hash}
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Text-analysis operators over the `documents` table — the language-ID /
  * quality / token-count / fingerprint layer a training-data pipeline
  * runs before dedup. Everything is a narrow projection (no shuffle at
  * all): at 100 TB these run as a single map stage with the parquet scan
  * pruned to (doc_id, text).
  */
object TextOps {

  /** (doc_id, n_tokens, n_subtokens, n_chars) per document.
    * n_subtokens is the BPE-ish proxy: greedy ≤4-char chunks of each
    * token (`\S{1,4}` matches), i.e. Σ ceil(len(token)/4) — a
    * deterministic, regex-only stand-in for a real subword vocabulary.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      token_count(col("text")).cast("long").as("n_tokens"),
      regexp_count(col("text"), lit("\\S{1,4}")).cast("long").as("n_subtokens"),
      length(col("text")).cast("long").as("n_chars"))

  /** Quality features + composite score. Rational arithmetic only —
    * bit-stable against the SQL oracle.
    */
  def quality(docs: DataFrame): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      token_count(col("text")).as("n_tokens"),
      nonspace_chars(col("text")).as("nonspace"),
      punct_count(col("text")).as("n_punct"),
      stopword_count(col("text")).as("n_stop"))
    base.select(
      col("doc_id"),
      col("n_tokens").cast("long").as("n_tokens"),
      col("n_punct").cast("long").as("n_punct"),
      (col("nonspace").cast("double") / greatest(col("n_tokens"), lit(1)).cast("double"))
        .as("avg_token_len"),
      (col("n_stop").cast("double") / greatest(col("n_tokens"), lit(1)).cast("double"))
        .as("stopword_ratio"),
      quality_score(col("n_tokens"), col("n_stop"), col("nonspace"))
        .as("quality"))
  }

  /** SESSION-MEMOIZED (doc_id, quality) relation for the JOIN-side
    * consumers (`text_quality_by_source`, the three survivors-best
    * gates, `curation`): each re-ran the regex-kernel quality
    * projection over the whole corpus per call just to join two
    * id-sized columns. Keyed on the optimizer-collapsed
    * (doc_id, text) projection (the ngramJaccard discipline — a
    * decorated frame lands on the same entry as the bare corpus). The
    * SCAN-SHAPED gates (`text_quality`, `text_sample_quality`,
    * deciles, calibration) deliberately keep the direct projection:
    * their PlanSpec contracts pin the one-pass pruned-scan shape, and
    * a per-row map consumer gains nothing from a checkpoint.
    * `PlanMemo.hitsOf("quality")` exists for the spec.
    */
  def qualityShared(docs: DataFrame): DataFrame = {
    val proj = docs.select(col("doc_id"), col("text"))
    val key = org.apache.spark.sql.graft.ColumnBridge.ofRows(
      docs.sparkSession, proj.queryExecution.optimizedPlan)
    graft.PlanMemo.getOrBuild(key, "quality") {
      org.apache.spark.sql.graft.ColumnBridge.statsFreeLocalCheckpoint(
        quality(key).select(col("doc_id"), col("quality")))
    }
  }

  /** Quality-MODEL geometry: feature count (bias + 5 integer stats),
    * gradient epochs, the deterministic training-sample cap, the
    * label target scale T, and the JACOBI step scale c — the per-dim
    * step divisor is D_j = max(1, c·Σ_sample x_j²), i.e. a diagonally
    * preconditioned learning rate 1/(c·diag(XᵀX)). The
    * preconditioning is what makes a few dozen epochs converge: a
    * single global rate was measured stuck at the all-keep corner
    * (56% agreement — the majority class) because the per-dim
    * curvatures differ by orders of magnitude, while Jacobi scaling
    * reaches 98% agreement in 24 epochs. Stability per dim:
    * Σx_j²/D_j = 1/c = 0.25 < 2. Same constants MUST appear in the
    * oracle SQL.
    */
  val QmDims = 6
  val QmEpochs = 24
  val QmSampleCap = 256
  val QmTarget = 1000000000L
  val QmStepScale = 4L

  /** The integer feature/label projection the TRAINED quality filter
    * shares between fit, serve, and oracle — one shuffle-free
    * codegen'd map stage over (doc_id, text). Features are scale-
    * bounded to |x| ≤ 2000 so one step divisor stabilizes every dim:
    *
    *  - x0 = 1000 (bias, per-mille unit); x1 = min(tokens, 1000);
    *    x2 = stopwords per-mille of tokens; x3 = avg token length in
    *    centi-chars (capped 2000); x4 = punct per-mille (capped
    *    2000); x5 = the readable-length-band indicator
    *    [3 ≤ avg token len ≤ 8]·1000. A raw chars column was tried
    *    and dropped: it is near-collinear with tokens, and the LS
    *    optimum then needs huge canceling weights gradient descent
    *    can't reach in bounded epochs. Truncating integer div
    *    throughout — Spark `div` ≡ DuckDB `//` ≡ Java `/` (all
    *    truncate toward zero, verified on negatives).
    *  - y ∈ {+1, −1}: the heuristic `quality_score ≥ 0.5` rule
    *    restated in EXACT INTEGERS — multiply the rational score by
    *    1000·max(tokens,1): 6·min(nt,100)·ntg + 200·st + 200·ntg·ind
    *    ≥ 500·ntg with ind = [3·ntg ≤ ns ≤ 8·ntg]. No doubles
    *    anywhere, so both engines derive the identical label.
    *
    * The label is a DISTILLATION fixture: the trained filter learns to
    * reproduce the heuristic gate from raw counts, which is the
    * fit/artifact/serve/honesty MACHINERY of a model-based quality
    * filter (fastText/logreg in real pipelines) with a label source
    * the synthetic corpus can actually state. Swapping in human
    * labels changes one CTE, not the engine.
    */
  private[graft] def qmFeatures(docs: DataFrame): DataFrame =
    docs.select(
        col("doc_id"),
        token_count(col("text")).cast("long").as("nt"),
        nonspace_chars(col("text")).cast("long").as("ns"),
        punct_count(col("text")).cast("long").as("np"),
        stopword_count(col("text")).cast("long").as("st"),
        length(col("text")).cast("long").as("nc"))
      .selectExpr("doc_id",
        "CAST(1000 AS BIGINT) AS x0",
        "LEAST(nt, 1000L) AS x1",
        "st * 1000 div GREATEST(nt, 1L) AS x2",
        "LEAST(ns * 100 div GREATEST(nt, 1L), 2000L) AS x3",
        "LEAST(np * 1000 div GREATEST(nt, 1L), 2000L) AS x4",
        "CAST(CASE WHEN ns >= 3 * GREATEST(nt, 1L) " +
          "AND ns <= 8 * GREATEST(nt, 1L) THEN 1000 ELSE 0 END " +
          "AS BIGINT) AS x5",
        "CAST(CASE WHEN 6 * LEAST(nt, 100L) * GREATEST(nt, 1L) " +
          "+ 200 * st + 200 * GREATEST(nt, 1L) * " +
          "(CASE WHEN ns >= 3 * GREATEST(nt, 1L) " +
          "AND ns <= 8 * GREATEST(nt, 1L) THEN 1 ELSE 0 END) " +
          ">= 500 * GREATEST(nt, 1L) THEN 1 ELSE -1 END AS BIGINT) AS y")

  /** Fit the integer LMS / ADALINE model driver-side over the
    * hash-prefix sample (the `trainCentroids` discipline: a
    * cap-bounded deterministic sample collected to driver literals,
    * FAISS-style train-on-a-sample economics). Full-batch gradient
    * descent on the quadratic loss ½Σ(t − w·x)² with target
    * t = y·`QmTarget`, all in fixed point: per epoch
    * g_j = Σ_i (t_i − w·x_i)·x_ij (an order-free integer SUM, so the
    * driver loop and the unrolled DuckDB epoch CTEs produce the SAME
    * longs) and w_j += g_j div D_j with the Jacobi divisor
    * D_j = max(1, `QmStepScale`·Σ_sample x_j²) (truncation toward
    * zero — identical in Java `/`, Spark `div`, DuckDB `//`). A batch
    * perceptron was tried first and OSCILLATED to the all-reject
    * corner (43.6% agreement — worse than the 56% majority class),
    * and an unpreconditioned global rate crawled to all-keep;
    * diagonally preconditioned least-squares descent reaches 98%
    * agreement in `QmEpochs`. Magnitudes: steady-state w ~ T/|x| ≈
    * 10⁶–10⁷, scores ≤ 10¹⁰, gradients ≤ 256·10¹⁰·2000 ≈ 5·10¹⁵ —
    * inside long range with 1000× headroom.
    *
    * Session-memoized (`qm`): three gates (the artifact, the scorer,
    * the agreement honesty gate) consume the same fit back to back;
    * the value is QmDims longs (nothing to release). Keyed by the
    * corpus plan + every training constant.
    */
  private[graft] def qualityModelFit(docs: DataFrame,
      epochs: Int = QmEpochs, sampleCap: Int = QmSampleCap): Array[Long] =
    graft.PlanMemo.getOrBuild(docs,
        s"qm|$epochs|$sampleCap|$QmTarget|$QmStepScale") {
      val rows = hashPrefix(qmFeatures(docs), "doc_id", sampleCap)
        .select("y", "x0", "x1", "x2", "x3", "x4", "x5")
        .collect()
      val ts = rows.map(_.getLong(0) * QmTarget)
      val xs = rows.map(r => Array.tabulate(QmDims)(j => r.getLong(j + 1)))
      val dj = Array.tabulate(QmDims) { j =>
        math.max(1L, QmStepScale * xs.map(x => x(j) * x(j)).sum)
      }
      val w = new Array[Long](QmDims)
      var e = 0
      while (e < epochs) {
        val g = new Array[Long](QmDims)
        var i = 0
        while (i < xs.length) {
          var s = 0L
          var j = 0
          while (j < QmDims) { s += w(j) * xs(i)(j); j += 1 }
          val r = ts(i) - s
          var j2 = 0
          while (j2 < QmDims) { g(j2) += r * xs(i)(j2); j2 += 1 }
          i += 1
        }
        var j = 0
        while (j < QmDims) { w(j) += g(j) / dj(j); j += 1 }
        e += 1
      }
      w
    }

  /** The fitted ARTIFACT as a relation — `(dim, w)` — the gate that
    * hash-checks training itself (the `knn_ivf_centroids` pattern).
    */
  def qualityModel(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    qualityModelFit(docs).zipWithIndex
      .map { case (wj, j) => (j.toLong, wj) }.toSeq
      .toDF("dim", "w")
  }

  /** SERVE the trained filter: one codegen'd projection computing
    * `m_score = w·x` with the fitted weights as literals (no join, no
    * shuffle — the 100 TB shape is scan → project) and the keep
    * decision `m_score ≥ 0`.
    */
  def qualityScored(docs: DataFrame): DataFrame = {
    val w = qualityModelFit(docs)
    qmFeatures(docs).selectExpr("doc_id",
      (0 until QmDims).map(j => s"${w(j)}L * x$j").mkString(" + ") +
        " AS m_score")
      .selectExpr("doc_id", "m_score",
        "CAST(CASE WHEN m_score >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep")
  }

  /** SERVE FROM THE STORED MODEL — the train-once/serve-many tier:
    * the weight relation (`qualityModel`'s `(dim, w)` rows) round-
    * trips parquet and serving derives the SAME literal-coefficient
    * projection from the loaded longs, so stored-serve is
    * byte-identical to in-session serving (integer weights round-trip
    * parquet exactly; gate shares `text_quality_scored`'s oracle
    * verbatim). The collect is QmDims rows — a driver literal by
    * construction. Raises loudly on a width mismatch (a model stored
    * at a different feature count cannot score this projection).
    */
  def qualityScoredFromStored(storedModel: DataFrame,
      docs: DataFrame): DataFrame = {
    val rows = storedModel.select("dim", "w").collect()
    require(rows.length == QmDims,
      s"stored quality model has ${rows.length} weights; this engine's " +
        s"feature projection is $QmDims-dimensional — refit the model")
    require(rows.map(_.getLong(0)).distinct.length == QmDims,
      "stored quality model has duplicate dims — a silently-zero " +
        "weight would serve wrong scores; refit the model")
    val w = new Array[Long](QmDims)
    rows.foreach { r =>
      val j = r.getLong(0)
      require(j >= 0 && j < QmDims, s"stored weight dim $j out of range")
      w(j.toInt) = r.getLong(1)
    }
    qmFeatures(docs).selectExpr("doc_id",
      (0 until QmDims).map(j => s"${w(j)}L * x$j").mkString(" + ") +
        " AS m_score")
      .selectExpr("doc_id", "m_score",
        "CAST(CASE WHEN m_score >= 0 THEN 1 ELSE 0 END AS BIGINT) AS keep")
  }

  /** HONESTY GATE for the trained filter: agreement of the model's
    * keep decision with the label rule over the FULL corpus (the
    * sample trained it; the corpus judges it) — `(n_docs, n_agree,
    * agree_ppm)`, all integers. The recall-gate discipline: the
    * approximation's cost is itself an oracled number.
    */
  def qualityModelAgreement(docs: DataFrame): DataFrame = {
    val w = qualityModelFit(docs)
    qmFeatures(docs).selectExpr("y",
      (0 until QmDims).map(j => s"${w(j)}L * x$j").mkString(" + ") +
        " AS m_score")
      .selectExpr(
        "CAST(CASE WHEN (m_score >= 0) = (y = 1) THEN 1 ELSE 0 END " +
          "AS BIGINT) AS agree")
      .agg(count(lit(1)).as("n_docs"), sum("agree").as("n_agree"))
      .selectExpr("n_docs", "n_agree",
        "n_agree * 1000000 div n_docs AS agree_ppm")
  }

  /** RELIABILITY DIAGRAM for the trained filter: per rank-decile of
    * the model score (the `qualityDeciles` bucketing — two-pass exact
    * rank, no global window), the label-positive rate in ppm. A
    * well-ordered model shows `pos_ppm` rising with the decile; a
    * flat or non-monotone band is where threshold tuning would move
    * real documents the wrong way — the diagram every score-based
    * filter gets audited with, as integers the oracle can hash.
    */
  def qualityModelCalibration(docs: DataFrame,
      buckets: Int = 10): DataFrame = {
    val w = qualityModelFit(docs)
    val scored = qmFeatures(docs).selectExpr("doc_id", "y",
      (0 until QmDims).map(j => s"${w(j)}L * x$j").mkString(" + ") +
        " AS m_score")
    decileStamp(scored.select(col("doc_id"), col("m_score").as("score")),
        buckets)
      .select(col("doc_id"), col("decile").as("m_decile"))
      .join(scored.select(col("doc_id"), col("y")), "doc_id")
      .groupBy("m_decile")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_label_pos"))
      .selectExpr("m_decile", "n_docs", "n_label_pos",
        "n_label_pos * 1000000 div n_docs AS pos_ppm")
  }

  /** The trained filter's CONFUSION MATRIX over the full corpus —
    * `(tp, fp, fn, tn, precision_ppm, recall_ppm)`, all integers:
    * agreement alone can hide a filter that buys its accuracy on one
    * side (keeping every borderline doc, say), so the two error modes
    * a curation pipeline actually budgets — junk kept (fp) and good
    * docs lost (fn) — are each their own oracled number. Positive =
    * keep (m_score ≥ 0 vs label +1); ratios in ppm with the usual
    * truncating div, 0 when the denominator is empty.
    */
  def qualityModelConfusion(docs: DataFrame): DataFrame = {
    val w = qualityModelFit(docs)
    qmFeatures(docs).selectExpr("y",
      (0 until QmDims).map(j => s"${w(j)}L * x$j").mkString(" + ") +
        " AS m_score")
      .selectExpr(
        "CAST(CASE WHEN m_score >= 0 AND y = 1 THEN 1 ELSE 0 END AS BIGINT) AS tp",
        "CAST(CASE WHEN m_score >= 0 AND y = -1 THEN 1 ELSE 0 END AS BIGINT) AS fp",
        "CAST(CASE WHEN m_score < 0 AND y = 1 THEN 1 ELSE 0 END AS BIGINT) AS fn",
        "CAST(CASE WHEN m_score < 0 AND y = -1 THEN 1 ELSE 0 END AS BIGINT) AS tn")
      .agg(coalesce(sum("tp"), lit(0L)).as("tp"),
        coalesce(sum("fp"), lit(0L)).as("fp"),
        coalesce(sum("fn"), lit(0L)).as("fn"),
        coalesce(sum("tn"), lit(0L)).as("tn"))
      .selectExpr("tp", "fp", "fn", "tn",
        "CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 div (tp + fp) " +
          "END AS precision_ppm",
        "CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 div (tp + fn) " +
          "END AS recall_ppm")
  }

  /** Heuristic language ID (marker-word argmax; deterministic
    * tie-break). The testdata's `lang` column is a synthetic label, not
    * ground truth — this op's contract is determinism, not accuracy.
    */
  def langId(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      lang_guess(col("text")).as("lang_guess"))

  /** Document fingerprint: PolyHash (custom codegen'd Catalyst
    * expression) over the raw text — the exact-dedup / clustering key.
    */
  def fingerprints(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      poly_hash(col("text")).as("fingerprint"))

  /** Winnowing geometry (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * "Winnowing: Local Algorithms for Document Fingerprinting"):
    * k-gram size in code points and window width in consecutive
    * k-grams. w=4 selects ~1/4 of positions (expected density 2/(w+1))
    * while guaranteeing any match of length ≥ k + w − 1 chars shares a
    * fingerprint. Same constants MUST appear in the oracle SQL.
    */
  val WinnowGramChars = 8
  val WinnowWindow = 4

  /** Winnowing document fingerprints: the DISTINCT set of per-window
    * minimum rolling k-gram hashes — the position-robust selection
    * MOSS-style overlap detection indexes by (insertion/deletion moves
    * positions, but the selected hash VALUES are locally stable,
    * unlike every-nth-position sampling). For each doc: all windows of
    * `w` consecutive k-gram hashes contribute their minimum; a doc
    * with fewer than `w` k-grams (but ≥ 1) contributes the minimum of
    * what it has, so every doc of length ≥ k yields ≥ 1 fingerprint.
    * Output `(doc_id, fp)`, distinct per doc.
    *
    * Value-set semantics on purpose: selecting VALUES (not positions)
    * needs no rightmost-tie rule, so the result is a pure function of
    * the hash sequence and hash-checkable cross-engine. The combined
    * ~60-bit double hash is `CharGramHash`'s (collision odds and the
    * rolling O(n) map-stage argument documented there).
    *
    * Scale shape: shuffle-FREE — one projection (rolling hashes +
    * array window minima + distinct, all inside the generator
    * expression) then explode; at 100 TB this is a map stage over the
    * (doc_id, text) scan, and the fingerprint index it feeds is a
    * (fp → doc) groupBy exactly like `Dedup.exact`'s.
    */
  def winnowing(docs: DataFrame, k: Int = WinnowGramChars,
      w: Int = WinnowWindow): DataFrame = {
    require(k >= 1, s"winnowing needs k >= 1, got $k")
    require(w >= 1, s"winnowing needs w >= 1, got $w")
    val hs = graft.functions.CharGramHashFunctions
      .char_gram_hash(col("text"), k)
    docs
      .select(col("doc_id"), hs.as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(least(lit(w - 1), size(col("hs")) - 1),
            size(col("hs")) - 1),
          i => array_min(slice(col("hs"),
            greatest(i + lit(2 - w), lit(1)), lit(w)))))).as("fp"))
  }

  /** Top-k bigram language-model counts with Kneser-Ney continuation
    * counts — the statistic table an n-gram LM (or a data-quality
    * perplexity filter) trains from. For the `k` most frequent word
    * bigrams (count desc, then lexicographic): the raw count and the
    * right word's continuation count N1+(·, w2) = number of DISTINCT
    * left contexts w2 appears after — the quantity Kneser-Ney
    * smoothing replaces raw unigram frequency with (Kneser & Ney,
    * ICASSP 1995). All-integer output.
    *
    * Scale shape: adjacent pairs are generated INSIDE a projection
    * (array transform over the token array — no posexplode self-join),
    * so the only corpus-sized shuffle is the (w1, w2) count with
    * map-side combine; continuation counts are a second aggregation
    * over the already-distinct bigram relation (vocabulary-sized, not
    * corpus-sized), and the final join puts the k-row top side against
    * it — broadcast by size. The top-k itself is a TakeOrdered merge,
    * never a global sort.
    */
  def bigramLm(docs: DataFrame, k: Int = BigramTopK): DataFrame = {
    val pairs = docs.select(tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(explode(transform(sequence(lit(0), size(col("tk")) - 2),
        i => struct(element_at(col("tk"), i + 1).as("w1"),
          element_at(col("tk"), i + 2).as("w2")))).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bi = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("cnt"))
    val cont = bi.groupBy("w2").agg(count(lit(1)).as("w2_contexts"))
    bi.orderBy(col("cnt").desc, col("w1").asc, col("w2").asc).limit(k)
      .join(cont, "w2")
      .select(col("w1"), col("w2"), col("cnt"), col("w2_contexts"))
  }

  val BigramTopK = 100

  /** Exact top-k vocabulary by frequency (count desc, token asc).
    * Map-side partial counts bound the shuffle by distinct tokens per
    * partition; the final top-k is a TakeOrdered merge (k rows per
    * partition to the driver), never a global sort of the vocabulary.
    */
  def topTokens(docs: DataFrame, k: Int = 100): DataFrame =
    docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(k)

  /** The term-frequency relation `(token, doc_id, tf)`: one row per
    * distinct token of each document, `tf` its occurrence count — the
    * one corpus-sized aggregation the postings, the delta batch,
    * `salientTerms` and `tfidfHashed` build on (`bm25Corpus` keeps a
    * one-pass form that also carries `len_d`). `shuffle` re-keys the
    * exploded token rows before the count; by default they are
    * counted where they are (map-side combined).
    */
  private def termFreq(docs: DataFrame,
      shuffle: DataFrame => DataFrame = identity): DataFrame =
    shuffle(docs.select(col("doc_id"),
        explode(tokens(col("text"))).as("token")))
      .groupBy("token", "doc_id").agg(count(lit(1)).as("tf"))

  /** Posting-list depth and document-frequency floor for `postings`.
    * Same constants MUST appear in the oracle SQL.
    */
  val PostingsK = 10
  val PostingsMinDf = 5L

  /** INVERTED-INDEX construction: per term, its document frequency,
    * corpus frequency, and the top-`k` posting rows ranked by
    * (tf desc, doc_id asc) — the index a keyword-retrieval tier
    * serves from (`bm25` SCORES against query docs; this gate builds
    * the reusable per-term structure itself). Terms below `minDf`
    * are dropped: hapax terms dominate any real vocabulary and an
    * index entry that can only ever match its source doc is storage
    * with no retrieval value (the dropped tail is still countable
    * from `text_vocab`). Output exploded as (token, df, cf, rank,
    * doc_id, tf) — hash-comparable, and a consumer regroups with
    * one collect_list if it wants array-form lists.
    *
    * It is the stored index published in one shot,
    * `postingsPublish(postingsIndex(docs, k), minDf)`: the optimizer
    * pushes the df floor into the stats side and prunes the stamp, so
    * the optimized plan is the one a hand-written floored build gets.
    *
    * Shape at scale: one corpus-sized (token, doc_id) aggregation
    * (map-side combined), then everything is token-keyed: the stats
    * rollup, the TopKPerKey heap (k rows per partition per term — no
    * global sort, no full posting materialization), and the final
    * stats⋈top join co-partition on the same hash, so AQE reuses the
    * exchange rather than re-shuffling. The vocabulary side never
    * broadcasts — at 100 TB the vocabulary is itself a large
    * relation.
    */
  def postings(docs: DataFrame, k: Int = PostingsK,
      minDf: Long = PostingsMinDf): DataFrame =
    postingsPublish(postingsIndex(docs, k), minDf)

  /** Fingerprint of every constant a STORED postings index's merge
    * contract depends on: the schema version and the posting-list
    * depth `k`. `k` is load-bearing for merge EXACTNESS — the
    * dominance argument that makes `postingsDelta` exact (any stored
    * posting beyond the top-k is dominated by k stored entries
    * already in the merge pool) only holds when both sides were
    * built at the same depth; merging a k=5 index at k=10 would
    * silently produce short lists. Same canonical-string fold as the
    * IVF/PQ/LSH fingerprints.
    */
  def postingsParamsFp(k: Int): Long =
    Stamps.paramsFingerprint("postings-index-v1", k)

  /** The STORED form of the inverted index — `postings` WITHOUT the
    * publish-time df floor, stamped `postings_params_fp` on every
    * row: `(token, df, cf, rank, doc_id, tf, postings_params_fp)`.
    * Sub-floor terms MUST stay in the stored relation or incremental
    * maintenance breaks — a term at df = minDf − 1 whose next batch
    * brings one more document has to resurface with its full posting
    * list, which a published (floored) index has already thrown
    * away. `postingsPublish` applies the floor at read time;
    * `postingsDelta` folds a fresh batch in. One corpus-sized
    * (token, doc_id) aggregation (`termFreq`), then token-keyed
    * stats + TopKPerKey heaps.
    */
  def postingsIndex(docs: DataFrame, k: Int = PostingsK): DataFrame = {
    val tf = termFreq(docs)
    val stats = tf.groupBy("token")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"))
    graft.plans.TopK.perKey(tf, Seq("token"),
        Seq(col("tf").desc, col("doc_id").asc), k)
      .join(stats, "token")
      .select(col("token"), col("df"), col("cf"), col("rank"),
        col("doc_id"), col("tf"),
        lit(postingsParamsFp(k)).as("postings_params_fp"))
  }

  /** The PUBLISH step of the stored index: apply the df floor and
    * drop the fingerprint — `postings` is this step over a fresh
    * `postingsIndex`, so retrieval consumers never see sub-floor terms
    * while the stored relation keeps them for maintenance.
    */
  def postingsPublish(index: DataFrame,
      minDf: Long = PostingsMinDf): DataFrame =
    index.filter(col("df") >= minDf)
      .select(col("token"), col("df"), col("cf"), col("rank"),
        col("doc_id"), col("tf"))

  /** INCREMENTAL index maintenance — fold a fresh batch of documents
    * into a stored `postingsIndex` relation WITHOUT touching the
    * existing corpus text: df/cf are counter-additive, and posting
    * heaps are re-elected ONLY for terms the batch actually contains.
    * This is the refresh path a retrieval tier runs per ingest cycle
    * (the BM25 idf inputs — df and the corpus-frequency tail — ride
    * the same counters), and the chained-≡-one-shot law is EXACT,
    * not approximate: for a touched term, any stored posting below
    * the stored top-k is dominated by k stored entries that are in
    * the merge pool, so `top-k(stored top-k ∪ batch postings)` IS the
    * top-k of the union corpus; for an untouched term every column
    * is already final and the row passes through byte-unchanged.
    *
    * CONTRACT (the `dedup_incremental` discipline): the batch is
    * APPEND-ONLY — its doc_ids are new to the corpus (a re-ingested
    * doc would double-count df/cf), and the stored index was built at
    * this same `k` — checked, not documented: the per-row
    * `postings_params_fp` guard raises loudly on a depth/version
    * mismatch (it rides `df`, which every output consumes and no join
    * or filter keys on; bare pre-stamp relations skip the check).
    *
    * Scale shape — O(batch), plan-guarded: the batch's vocabulary
    * (bounded by batch size) BROADCASTS into a semi/anti join pair,
    * so the stored index — the 100 TB side — is scanned map-only and
    * never shuffled; the only rows that re-enter exchanges are the
    * touched subset (semi-join output) plus the batch's own tf
    * relation, both batch-bounded. The untouched side is a
    * scan → anti-join → union pass-through with no exchange at all.
    */
  def postingsDelta(storedIndex: DataFrame, batch: DataFrame,
      k: Int = PostingsK): DataFrame = {
    val merged = postingsDeltaFromTf(storedIndex, batchTfOf(batch), k)
    // TINY-REGIME MATERIALIZATION SCOPE (the GraphOps.bfsSweeps
    // discipline, §1.2/§2.2): the fold is ~13 serial stages whose
    // per-stage scheduling/AQE cost dwarfs the data work once BOTH
    // inputs fit in one scan partition's worth of bytes — measured
    // ~35-40% of the gate's warm time at sf0.1/local[32] went to
    // 32-bucket shuffles and per-stage re-planning over a ≤8k-row
    // index. Gate on the PLAN-ESTIMATED input bytes (stored index
    // file size + batch text bytes — a conservative overestimate of
    // the merge pool), so a real-scale index never enters: there the
    // shuffle width and AQE are load-bearing and the plan is returned
    // untouched. Inside the scope the merge materializes once as a
    // stats-free local checkpoint (1 shuffle partition, AQE off,
    // confs restored on exit; blocks released when the query's cache
    // lease drains — never reused across invocations).
    val est = storedIndex.queryExecution.optimizedPlan.stats.sizeInBytes +
      batch.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est > DeltaTinyScopeBytes) merged
    else graft.Confs.scoped(storedIndex.sparkSession,
        graft.Confs.TinyRegime: _*) {
      val ckd = org.apache.spark.sql.graft.ColumnBridge
        .statsFreeLocalCheckpoint(merged)
      graft.Caches.onRelease(() =>
        org.apache.spark.sql.graft.ColumnBridge.unpersistCheckpoint(ckd))
      ckd
    }
  }

  /** Byte bound under which `postingsDelta` runs its merge in the
    * tiny-regime materialization scope: 32 MB of plan-estimated input
    * (well under one 128 MB scan partition) — the work-based rationale
    * that a merge over less than a scan task's worth of bytes cannot
    * benefit from 32-way shuffle parallelism, only pay its scheduling.
    */
  private[graft] val DeltaTinyScopeBytes = BigInt(32L << 20)

  /** The batch's tokenized `(token, doc_id, tf)` relation, persisted —
    * the one pass that reads the batch TEXT. Exposed so a caller that
    * also needs the batch's forward-index rows (`docLengthsFromTf`)
    * can share ONE tokenize pass with the delta merge instead of
    * re-tokenizing the batch per consumer.
    */
  private[graft] def batchTfOf(batch: DataFrame): DataFrame =
    graft.Caches.track(
      termFreq(batch).persist(StorageLevel.MEMORY_AND_DISK))

  /** Forward-index rows for a batch, derived from its tokenized tf
    * relation instead of a second tokenize pass: `len_d` = Σ tf over
    * the doc's tokens, which IS `size(tokens(text))` exactly (every
    * token instance is counted once by the (token, doc) aggregation);
    * a doc with zero tokens has no tf row and lands at 0 via the left
    * join — byte-identical to `docLengths` (spec-pinned). `batchIds`
    * is the batch relation itself: only its `doc_id` column is read,
    * so the batch text is never scanned here.
    */
  private[graft] def docLengthsFromTf(batchIds: DataFrame,
      batchTf: DataFrame): DataFrame =
    batchIds.select(col("doc_id"))
      .join(batchTf.groupBy("doc_id").agg(sum("tf").as("tf_sum")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("tf_sum"), lit(0L)).as("len_d"))

  /** `postingsDelta` over a pre-tokenized (persisted) batch tf
    * relation — the merge itself, factored out so the batch tokenize
    * pass can be SHARED with other batch consumers (the forward-index
    * append via `docLengthsFromTf`). The merge shape is unchanged
    * from `postingsDelta`'s original body: two alternative shapes
    * were measured SLOWER at sf0.1/local[32] this round — a shared
    * repartition(token) pool feeding stats + TopK (the optimizer
    * re-aliased one branch, defeating exchange reuse and executing
    * the pool twice: 4.2 → 8.8 s on text_bm25_incremental), and a
    * window-function stats merge riding one exchange (WindowExec's
    * sort + evaluation cost exceeded the aggregation chain it
    * replaced). The persisted `touched`/`batchTf` barriers remain the
    * reliable sharing mechanism.
    */
  private[graft] def postingsDeltaFromTf(storedIndex: DataFrame,
      batchTf: DataFrame, k: Int = PostingsK): DataFrame = {
    val expected = postingsParamsFp(k)
    val guardDf =
      if (!storedIndex.columns.contains("postings_params_fp")) col("df")
      else Stamps.stampGuard(col("df"), "postings_params_fp",
        expected, s"the stored postings index was built at " +
          s"another posting depth than this merge's k=$k and cannot be " +
          "merged exactly; rebuild with postingsIndex at this k")
    val stored = storedIndex.select(col("token"), guardDf.as("df"),
      col("cf"), col("rank"), col("doc_id"), col("tf"))
    val batchVocab = batchTf.select("token").distinct()
    val touched = graft.Caches.track(
      stored.join(broadcast(batchVocab), Seq("token"), "left_semi")
        .persist(StorageLevel.MEMORY_AND_DISK))
    val untouched = stored.join(broadcast(batchVocab), Seq("token"),
      "left_anti")
    // per-term stats: stored rows repeat (df, cf) on every posting, so
    // one distinct over the TOUCHED subset recovers them; batch stats
    // roll up from batch tf; union-sum is the counter-additive merge
    // (a term new to the corpus simply has no stored row)
    val mergedStats = touched.select(col("token"), col("df"), col("cf"))
      .distinct()
      .unionByName(batchTf.groupBy("token")
        .agg(count(lit(1)).as("df"), sum("tf").as("cf")))
      .groupBy("token").agg(sum("df").as("df"), sum("cf").as("cf"))
    val mergedTop = graft.plans.TopK.perKey(
      touched.select(col("token"), col("doc_id"), col("tf"))
        .unionByName(batchTf.select(col("token"), col("doc_id"), col("tf"))),
      Seq("token"), Seq(col("tf").desc, col("doc_id").asc), k)
    mergedTop.join(mergedStats, "token")
      .select(col("token"), col("df"), col("cf"), col("rank"),
        col("doc_id"), col("tf"))
      .unionByName(untouched)
      .select(col("token"), col("df"), col("cf"), col("rank"),
        col("doc_id"), col("tf"),
        lit(expected).as("postings_params_fp"))
  }

  /** Deterministic train/validation split by id hash: stable across
    * runs, clusters and engines (no RNG, no sampling drift) — the
    * standard way to carve held-out sets from a training corpus. A doc
    * lands in 'val' iff poly_hash(doc_id) mod 100 < valPct, so the
    * split survives re-partitioning and incremental corpus growth
    * (existing docs never switch sides). Pure projection — no shuffle.
    */
  def hashSplit(docs: DataFrame, valPct: Int = 10): DataFrame =
    docs.select(col("doc_id"),
      when(poly_hash(col("doc_id").cast("string")) % 100 < valPct, "val")
        .otherwise("train").as("split"))

  /** Keep-rate floor of `sampleByQuality`, in ppm: even the worst
    * document survives at 25% — quality heuristics are noisy, and a
    * hard zero would silently delete whole content classes the score
    * misprices. Same constant MUST appear in the oracle SQL.
    */
  val SampleFloorPpm = 250000L

  /** QUALITY-WEIGHTED deterministic downsampling — the curation pass
    * that thins low-quality data instead of hard-filtering it: each
    * doc's keep probability is its quality score as ppm, clamped to
    * [`floorPpm`, 1e6], and the doc survives iff
    * `poly_hash(doc_id ‖ ":smp") mod 1e6 < keep_ppm`. The ":smp" salt
    * decouples the sampling decision from `hashSplit`'s hash of the
    * bare id — the two coins are independent, so sampling doesn't
    * skew the train/val balance. Deterministic end to end (no RNG):
    * re-runs, re-partitioning, and incremental corpus growth never
    * flip a kept doc, so downstream shards are stable — the same
    * stability contract as `hashSplit`/`mix`.
    *
    * `keep_ppm` rides along in the output as the audit column (the
    * acceptance-rate report is one GROUP BY over it). Float parity:
    * the quality double is the shared token-for-token expression the
    * quality/quota/survivors gates pin, and the single ×1e6 multiply
    * + floor lands it on exact integers. Pure map stage — the
    * quality signal and the hash are per-row projections, no shuffle
    * at any scale.
    */
  def sampleByQuality(docs: DataFrame,
      floorPpm: Long = SampleFloorPpm): DataFrame = {
    require(floorPpm >= 0L && floorPpm <= 1000000L,
      s"floorPpm must be in [0, 1e6], got $floorPpm")
    quality(docs).select(col("doc_id"),
        greatest(lit(floorPpm), least(lit(1000000L),
          floor(col("quality") * lit(1000000.0)).cast("long")))
          .as("keep_ppm"))
      .filter(poly_hash(concat(col("doc_id").cast("string"), lit(":smp")))
        % 1000000L < col("keep_ppm"))
  }

  /** LEAKAGE-FREE train/validation split: `hashSplit`'s deterministic
    * hash rule applied to the doc's near-dup CLUSTER root instead of
    * the doc itself, so every member of a duplicate cluster lands on
    * the SAME side — the fix for the classic eval bug where a
    * val-set document's near-copy sits in train and the held-out
    * loss silently measures memorization. `clusters` is a
    * (doc_id, cluster_id) relation (`Dedup.dupClusters` output —
    * docs in no pair are absent and root as themselves, which is
    * exactly `dupClusters`' min-id labeling extended to singletons);
    * hashing the ROOT id keeps all of `hashSplit`'s stability
    * properties (re-runs, re-partitioning, corpus growth) at cluster
    * granularity — a cluster only switches sides if its min-id
    * member changes.
    *
    * Scale shape: one left equi-join on doc_id (the cluster relation
    * is pair-member-sized — usually far under the corpus; AQE
    * broadcasts it when small) and a projection. The expensive part
    * is producing `clusters`, which the dedup pipeline has already
    * paid for by the time anyone splits.
    */
  def hashSplitLeakageFree(docs: DataFrame, clusters: DataFrame,
      valPct: Int = 10): DataFrame =
    docs.select(col("doc_id"))
      .join(clusters.select(col("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(poly_hash(coalesce(col("cluster_id"), col("doc_id"))
            .cast("string")) % 100 < valPct, "val")
          .otherwise("train").as("split"))

  /** Default-cluster overload: derive the near-dup clusters from
    * `docs` itself (`dupClusters(ngramJaccard(docs))` — the
    * `text_split_leakage` composition). A pipeline that has ALREADY
    * clustered (the expensive pass) hands its relation to the 2-arg
    * form instead of re-clustering — identity spec-pinned.
    */
  def hashSplitLeakageFree(docs: DataFrame): DataFrame =
    hashSplitLeakageFree(docs, Dedup.defaultClusters(docs))

  /** The END-TO-END curation pipeline as one operator — best-copy
    * dedup survivors → quality-weighted sampling → leakage-free
    * split, each stage the already-gated operator composed unchanged:
    * the output is each surviving, sampled doc's (doc_id, split,
    * keep_ppm). The near-dup cluster relation — the expensive pass —
    * is built ONCE here and feeds both the survivor election and the
    * split; a session that already holds it (e.g. it also ran the
    * dedup gates, or persisted clusters at ingest) passes it via
    * `clusters` and pays zero re-clustering — passed-in ≡ rebuilt is
    * identity spec-pinned.
    */
  def curation(docs: DataFrame,
      clusters: Option[DataFrame] = None): DataFrame = {
    val cl = clusters.getOrElse(Dedup.defaultClusters(docs))
    val surv = Dedup.survivorsBest(docs, cl,
      qualityShared(docs))
    val sampled = sampleByQuality(docs)
      .join(surv.select("doc_id"), "doc_id")
    hashSplitLeakageFree(sampled.select(col("doc_id")), cl)
      .join(sampled, "doc_id")
      .select("doc_id", "split", "keep_ppm")
  }

  /** Memo (`curation`) of the DEFAULT-clusters curation relation —
    * `docs_curation` and `docs_manifest` both consume
    * `curation(docs)` over the same corpus back to back (the cluster
    * labelling inside it is already memoized; this covers the
    * survivor election + sampling + split on top). Per-doc 3-column
    * artifact — the `defaultClusters` class. The explicit-clusters
    * overload stays unmemoized: its identity with this form is the
    * spec-pinned law, not a reuse path.
    */
  def curationShared(docs: DataFrame): DataFrame =
    graft.PlanMemo.getOrBuild(docs, "curation") {
      org.apache.spark.sql.graft.ColumnBridge
        .statsFreeLocalCheckpoint(curation(docs))
    }

  /** Opt-in text canonicalization BEFORE dedup: Unicode NFC +
    * lowercase + whitespace collapse + trim, applied in place to
    * `textCol` with every other column preserved — so the near-dup
    * family composes directly over it ("The  Cat" and "the cat" then
    * share every shingle; raw they share none). Kept OUT of the dedup
    * operators themselves on purpose: canonicalization changes what
    * "duplicate" means, and a pipeline must choose it explicitly.
    * Pure projection — no shuffle, one map stage at any scale.
    */
  def normalize(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol,
      graft.functions.TextNormFunctions.norm_text(col(textCol)))

  /** PII redaction patterns, applied IN THIS ORDER (order matters —
    * the SSN shape would otherwise be half-eaten by the phone shape).
    * The regex dialect is the intersection Java regex (Spark codegen)
    * and RE2 (DuckDB, Go tooling) agree on: plain character classes,
    * bounded counts, word boundaries — no backreferences, no
    * lookaround — so the scrub is reproducible across engines and the
    * DuckDB oracle can hash-check CLEANED TEXT, not just counts.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b" -> "<SSN>",
    "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b" -> "<PHONE>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>")

  /** PII scrub — the training-data redaction pass: emails, SSN-shaped
    * and phone-shaped numbers, IPv4 literals replaced with typed
    * placeholder tags. Pure per-row projection: shuffle-free,
    * whole-stage-codegen'd chain of `regexp_replace`, so it scales as
    * a map over the corpus scan with nothing on the wire but the
    * output. Pattern-match redaction is the deterministic BASELINE
    * layer (what you can hash-verify); an NER-model pass would ride
    * the same projection shape via mapInPandas like Multimodal's
    * decode slot.
    *
    * OVER-REDACTION is the designed bias — shapes match, semantics
    * don't: `"see release 10.0.1.7 of the kernel"` becomes
    * `"see release <IP> of the kernel"` (version strings are
    * IPv4-shaped), `999.999.999.999` redacts despite octets > 255, and
    * any 123-45-6789-shaped order number becomes `<SSN>`. For a scrub
    * that feeds model training this is the safe direction (a false
    * redaction costs a token; a missed SSN leaks), and tightening it
    * (octet ranges, checksum validation, NER context) belongs in a
    * higher layer — the hash-verifiable regex baseline stays simple on
    * purpose.
    */
  def scrubPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol, PiiPatterns.foldLeft(col(textCol)) {
      case (c, (pat, tag)) => regexp_replace(c, pat, tag)
    })

  /** Declared blocklist fixture for the documents gate and the
    * admission threshold (blocked tokens per million). Same constants
    * MUST appear in the oracle SQL.
    */
  val BlocklistTerms: Seq[String] = Seq("slow", "dup", "spark")
  val BlocklistMaxPpm = 100000L

  /** Dictionary (blocklist) tagging — the C4-style badword admission
    * filter: per document, how many tokens hit a DECLARED term list
    * (case-insensitive), the blocked-token rate in ppm, the most
    * frequent offending term (count desc, term asc — the audit column
    * a reviewer reads first), and the flag at `maxPpm`. Rate, not
    * presence: one stray term shouldn't kill a long document, which
    * is why C4 flags on density. Zero-token documents report 0 ppm
    * (vacuously clean — the docs_expectations convention).
    *
    * Scale shape: the dictionary BROADCASTS (a real blocklist is
    * thousands of terms, never corpus-sized); non-hits die inside the
    * one corpus-sized map stage, so only actual hits reach the
    * per-(doc, term) count shuffle, and the per-doc argmax is the
    * k=1 TopKPerKey heap — no windows, nothing corpus-sized buffers.
    */
  def blocklistTag(docs: DataFrame, terms: Seq[String] = BlocklistTerms,
      maxPpm: Long = BlocklistMaxPpm): DataFrame = {
    require(terms.nonEmpty && terms.size <= 100000,
      s"blocklist must be 1..100000 declared terms, got ${terms.size}")
    val s = docs.sparkSession
    import s.implicits._
    val dict = broadcast(terms.map(_.toLowerCase).distinct.toDF("term"))
    val hits = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .join(dict, lower(col("token")) === col("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val perDoc = hits.groupBy("doc_id").agg(sum(col("c")).as("n_blocked"))
    val topTerm = graft.plans.TopK.perKey(hits, Seq("doc_id"),
        Seq(col("c").desc, col("term").asc), 1)
      .select(col("doc_id"), col("term").as("top_term"))
    docs.select(col("doc_id"),
        token_count(col("text")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(topTerm, Seq("doc_id"), "left")
      .withColumn("n_blocked", coalesce(col("n_blocked"), lit(0L)))
      .withColumn("blocked_ppm",
        expr("n_blocked * 1000000 div greatest(n_tokens, 1)"))
      .select(col("doc_id"), col("n_tokens"), col("n_blocked"),
        col("blocked_ppm"), col("top_term"),
        when(col("blocked_ppm") > lit(maxPpm), lit(1L))
          .otherwise(lit(0L)).as("flagged"))
  }

  /** Benchmark DECONTAMINATION: documents sharing ≥ 1 word-3-gram
    * shingle with any probe (evaluation-set) document, with the count
    * of distinct shared shingle hashes — the standard "remove eval
    * contamination from training data" check. Returns ONLY the
    * contaminated docs (drop them with a left_anti join on doc_id).
    *
    * Scale shape: the probe side (a benchmark suite — thousands of
    * docs, ~10⁵-10⁶ shingles) is `broadcast()`, so the corpus side is
    * ONE map stage — exploded shingles meet the broadcast hash set and
    * non-hits die in place; only actual hits (rare by construction)
    * reach the per-doc count shuffle. The corpus is never shuffled and
    * never holds more than one row in flight.
    */
  def contamination(docs: DataFrame, probes: DataFrame): DataFrame =
    contaminationFromIndex(docShingles(docs), probes)

  /** The persisted decontamination INDEX: every document's distinct
    * word-shingle hashes as a slim `(doc_id, h)` relation — write it
    * once per corpus drop and screen every future benchmark against
    * the STORED rows instead of re-tokenizing the corpus (`text` is
    * the fat column; the index is two longs per distinct shingle).
    */
  def docShingles(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(Dedup.shingleHashSet).as("h"))

  /** INCREMENTAL maintenance of the decontamination index — the
    * `postingsDelta` treatment for `docShingles`: fold one refresh
    * cycle's ADDS (new documents, tokenized here — the only text this
    * op ever reads) and DROPS (doc_ids leaving the corpus: takedowns,
    * re-ingests, or an eval set discovered inside the training index)
    * into the stored `(doc_id, h)` relation. Exact by construction:
    * shingle rows are per-doc independent, so drop = anti-join,
    * add = union, and the merged relation IS the one-shot
    * `docShingles` of the post-cycle corpus (chained ≡ one-shot, the
    * established law — gated by the rebuild SQL verbatim).
    *
    * CONTRACT (the `postingsDelta` discipline): `addBatch` doc_ids
    * are new to the stored index (a re-ingested doc must appear in
    * `dropIds` too, or its old shingles double-count).
    *
    * Scale shape — O(batch), plan-guarded: the stored index (the
    * 100 TB side) is scanned map-only past a BROADCAST of the
    * batch-bounded drop-id set and unioned with the adds' shingles;
    * no exchange touches the stored rows and no stored text is
    * re-tokenized (there is none to read — the index is two longs per
    * shingle).
    */
  def shinglesDelta(storedIndex: DataFrame, addBatch: DataFrame,
      dropIds: DataFrame): DataFrame =
    storedIndex
      .join(broadcast(dropIds.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti")
      .unionByName(docShingles(addBatch))

  /** Decontamination served from the stored shingle index — only the
    * (tiny) probe side tokenizes; identical output to `contamination`
    * over the same corpus by construction (it IS the same relation,
    * read instead of recomputed).
    */
  def contaminationFromIndex(index: DataFrame,
      probes: DataFrame): DataFrame = {
    val probeShingles = docShingles(probes).select("h").distinct()
    index
      .join(broadcast(probeShingles), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** Bloom-filter geometry for `contaminationBloom`: 2^20 bits
    * (16384 longs, 128 KB) × 2 independent probes. Standard Bloom
    * arithmetic: with n distinct probe shingles inserted, the set-bit
    * fraction is ρ = 1 − e^(−2n/B) and the false-positive rate ρ² —
    * ≈ 3% at n = 10^5; by n ≈ 10^6 the array saturates (ρ → 1) and
    * the prefilter degrades to a pass-through. Every false positive
    * is removed by the exact join, so geometry only tunes how much
    * corpus survives the prefilter, never correctness — size
    * B ≳ 10·n bits (raise `BloomBitsLog2`) to keep the prefilter
    * selective at a larger probe corpus.
    */
  val BloomBitsLog2 = 20
  private val BloomB = 1L << BloomBitsLog2

  /** Decontamination via a BLOOM prefilter — identical output to
    * `contamination` (same oracle), different scale regime: that
    * operator broadcasts the probe shingle SET, which dies when the
    * probe side stops being broadcast-small (screening one large
    * corpus against another). Here the probe set is folded into a
    * FIXED 8 KB bit array — bounded by geometry, not data — the corpus
    * stream is prefiltered against it in its map stage (two bit tests
    * per shingle; no false negatives, so nothing real is lost), and
    * only the surviving sliver reaches the exact shingle join, which
    * can now be an ordinary shuffle join of two small relations. The
    * one driver collect is ≤ 2^BloomBitsLog2/64 rows by construction.
    */
  def contaminationBloom(docs: DataFrame, probes: DataFrame): DataFrame = {
    val ps = docShingles(probes).select("h").distinct()
    // probe 1 = low bits of the shingle hash; probe 2 = low bits of an
    // INDEPENDENT full-width remix of it (the plane-mixer shape —
    // multiply-mod-M31 + xor-shift, twice). h is PolyHash mod 1e9+7,
    // i.e. < 2^30: a high-bits second probe like (h div B) % B would
    // carry only 30 − BloomBitsLog2 bits of entropy and address a
    // fraction of the array, silently saturating probe 2 first. No
    // overflow anywhere: h·Mul1 < 2^61, x1 < 2^31, x1'·Mul2 < 2^61.
    def positions(rel: DataFrame): DataFrame = {
      import graft.functions.VectorExprUtil.{PlaneM31, PlaneMul1, PlaneMul2}
      val x1 = col("h") * PlaneMul1 % PlaneM31
      val x2 = x1.bitwiseXOR(shiftright(x1, 15)) * PlaneMul2 % PlaneM31
      rel
        .withColumn("p1", col("h") % BloomB)
        .withColumn("p2", x2 % BloomB)
    }
    val words = positions(ps)
      .select(explode(array(col("p1"), col("p2"))).as("bit"))
      .select(expr("bit div 64").as("word_idx"), expr("bit % 64").as("b"))
      .groupBy("word_idx")
      .agg(expr("bit_or(shiftleft(1L, CAST(b AS INT)))").as("bits"))
      .collect()
    val lutArr = Array.fill((BloomB / 64L).toInt)(0L)
    words.foreach(r => lutArr(r.getLong(0).toInt) = r.getLong(1))
    val lut = typedLit(lutArr.toSeq)
    def hit(p: String) =
      (element_at(lut, expr(s"CAST($p div 64 AS INT)") + 1)
        .bitwiseAND(expr(s"shiftleft(1L, CAST($p % 64 AS INT))")) =!= 0L)
    positions(docShingles(docs))
      .filter(hit("p1") && hit("p2"))
      .select("doc_id", "h")
      .join(ps, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared_shingles"))
  }

  /** SEQUENCE PACKING plan: concat-and-chunk every document (in
    * doc_id order) into fixed `seqLen`-token training sequences; each
    * doc gets the sequence id and in-sequence offset where it STARTS
    * (docs may span sequences — this is the placement plan the
    * materialization step consumes). Equivalent to
    * `SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING
    * AND 1 PRECEDING)` — but a global-order window funnels the whole
    * corpus through ONE partition, so this computes the prefix sum the
    * distributed way: range-repartition by doc_id (partition i holds
    * strictly smaller ids than partition i+1), one tiny pass collects
    * per-partition token totals (one row per partition), and a second
    * pass streams each partition with its exclusive prefix offset.
    * The corpus is shuffled ONCE (the range partitioning); the
    * driver-side state is #partitions longs.
    *
    * The range-partitioned relation is pinned (RangePartitioner
    * SAMPLES its boundaries — unpinned, the two passes could see
    * different partitionings); released via `graft.Caches.clear`.
    */
  def packSequences(docs: DataFrame, seqLen: Long = 2048L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val parted = docs
      .select(col("doc_id"), token_count(col("text")).cast("long").as("n_tokens"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions("doc_id")
      .as[(Long, Long)]
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.Caches.track(parted.toDF())
    val partSums = parted
      .mapPartitions { it =>
        var s = 0L
        it.foreach(s += _._2)
        Iterator((org.apache.spark.TaskContext.getPartitionId(), s))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partSums.scanLeft(0L)(_ + _).dropRight(1)
    val offB = spark.sparkContext.broadcast(offsets)
    parted
      .mapPartitions { it =>
        var cum = offB.value(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (id, n) =>
          val start = cum
          cum += n
          (id, n, start / seqLen, start % seqLen)
        }
      }
      .toDF("doc_id", "n_tokens", "seq_id", "seq_off")
  }

  /** Chunk window / overlap for the `text_chunks` gate — same
    * constants MUST appear in the oracle SQL.
    */
  val ChunkWindow = 256
  val ChunkOverlap = 64

  /** CHUNKING for embedding / retrieval pipelines: every document
    * splits into fixed `window`-character chunks whose starts advance
    * by `window - overlap` (consecutive chunks share `overlap` chars
    * of context — the standard pre-embedding step, so a sentence cut
    * by one boundary survives intact in the neighbor chunk). One
    * `(doc_id, chunk_idx, chunk, n_chars)` row per chunk; the tail
    * chunk is short, an empty document yields exactly one empty chunk
    * (starts = sequence(0, max(len−1, 0), stride) — total, like every
    * ingest operator here). Shuffle-free: a generator expression per
    * row (codegen'd sequence + posexplode + substring), so at 100 TB
    * it is a pure map stage whose output feeds the embedder /
    * chunk-level dedup directly; chunk_idx is derivable (start /
    * stride) but materialized for downstream group-bys.
    */
  def chunkDocs(docs: DataFrame, window: Int = ChunkWindow,
      overlap: Int = ChunkOverlap): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(overlap >= 0 && overlap < window,
      s"overlap must be in [0, window), got $overlap (window $window)")
    val stride = window - overlap
    docs.select(col("doc_id"), col("text"))
      .select(col("doc_id"), col("text"), posexplode(sequence(lit(0L),
        greatest(length(col("text")).cast("long") - 1L, lit(0L)),
        lit(stride.toLong))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        expr(s"substring(text, cast(col + 1 as int), $window)").as("chunk"))
      .withColumn("n_chars", length(col("chunk")).cast("long"))
  }

  /** Boilerplate/REPETITION signal: per doc, total vs distinct
    * word-3-gram shingles and the duplicate fraction — high values
    * mark the template-heavy pages quality filters drop. Shuffle-free
    * projection; one float division (bit-stable engine-to-engine).
    */
  def repetition(docs: DataFrame): DataFrame = {
    docs.select(col("doc_id"), Dedup.shingleHashSeq.as("hs"))
      .select(col("doc_id"),
        size(col("hs")).cast("long").as("n_shingles"),
        size(array_distinct(col("hs"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        ((col("n_shingles") - col("n_distinct")).cast("double") /
          greatest(col("n_shingles"), lit(1)).cast("double")).as("dup_ratio"))
  }

  /** One-row corpus summary — integer aggregates only (sums of longs
    * are order-insensitive and exact; no float means across rows).
    */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.select(token_count(col("text")).cast("long").as("t"),
        length(col("text")).cast("long").as("c"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("t")), lit(0L)).as("total_tokens"),
        coalesce(sum(col("c")), lit(0L)).as("total_chars"),
        coalesce(max(col("t")), lit(0L)).as("max_tokens"))

  /** Stratified quality quota: the `perLang` highest-quality docs per
    * language (composite `quality_score`, ties to the lower doc_id) —
    * the per-source/per-language cap every corpus-mixing recipe needs.
    * Runs through the custom TopKPerKey physical operator: one shuffle
    * on `lang`, a bounded k-heap per language instead of a sort —
    * where the window row_number form buffers (and spills) EVERY doc
    * of a language inside one task, the heap holds `perLang` rows no
    * matter how skewed the language mix is (real corpora are ~half
    * English — exactly the key a window sort dies on at 100 TB).
    */
  def quotaSample(docs: DataFrame, perLang: Int = 25,
      keyCol: String = "lang"): DataFrame = {
    val scored = docs.select(
      col("doc_id"), col(keyCol),
      quality_score(token_count(col("text")), stopword_count(col("text")),
        nonspace_chars(col("text"))).as("quality"))
    graft.plans.TopK.perKey(scored, Seq(keyCol),
      Seq(col("quality").desc, col("doc_id").asc), perLang)
  }

  /** Per-host quota width for `domainQuota`. Same constant MUST
    * appear in the oracle SQL.
    */
  val DomainQuotaK = 5

  /** URL → NORMALIZED HOST: strip the scheme (or a protocol-relative
    * `//`), userinfo, port, path, query and fragment; lowercase; drop
    * a leading `www.`. Pure anchored-regex composition — every
    * pattern matches at most once at position 0, so Spark's
    * replace-all and DuckDB's replace-first semantics coincide, and
    * the whole chain stays one codegen'd map expression (the C4 /
    * RefinedWeb governance unit: quotas, dedup budgets and quality
    * rollups key on the host, not the raw URL string).
    */
  def urlHost(url: Column): Column = {
    val noScheme =
      regexp_replace(url, "^[A-Za-z][A-Za-z0-9+.-]*://|^//", "")
    val noUser = regexp_replace(noScheme, "^[^/?#]*@", "")
    val host = regexp_extract(noUser, "^[^:/?#]+", 0)
    regexp_replace(lower(host), "^www\\.", "")
  }

  /** Host → REGISTRABLE DOMAIN, the last-two-labels heuristic ("
    * example.com" of "a.b.example.com"). A production pipeline loads
    * the Public Suffix List for multi-label suffixes (co.uk); the
    * heuristic is the standard PSL-free approximation and keeps the
    * operator a single codegen'd regex.
    */
  def registrableDomain(host: Column): Column =
    regexp_extract(host, "[^.]+\\.[^.]+$", 0)

  /** The deterministic MESSY-URL fixture the domain-governance gates
    * exercise normalization with (the docs_scd2 fixture discipline —
    * the testdata's `source` column is a flat label, so the gate
    * constructs the URL forms a crawl actually contains: scheme
    * casing, `www.`, userinfo, ports, paths, queries,
    * protocol-relative). Every variant of one source normalizes to
    * the SAME host, which is exactly the property a host rollup needs
    * and a raw-string groupBy gets wrong. Two TLD families keyed by
    * the source label's length give the registrable-domain level
    * something to collapse.
    */
  private[graft] def withFixtureUrl(docs: DataFrame): DataFrame =
    docs.withColumn("sfx",
        when(length(col("source")) % 2 === 0, lit(".example.com"))
          .otherwise(lit(".dataset.org")))
      .withColumn("url",
        when(col("doc_id") % 4 === 0,
          concat(lit("https://www."), col("source"), col("sfx"),
            lit("/page/"), col("doc_id").cast("string")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://"), col("source"), upper(col("sfx")),
            lit(":8080/x?q="), col("doc_id").cast("string")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("HTTPS://user:pw@"), upper(col("source")),
            col("sfx"), lit("/")))
        .otherwise(concat(lit("//"), col("source"), col("sfx"))))
      .drop("sfx")

  /** PER-HOST GOVERNANCE ROLLUP over a url column: normalized host,
    * its registrable domain, doc count, total tokens, distinct
    * languages — the per-domain budget/monitoring relation (C4's
    * per-domain accounting). One map stage (host extraction) + one
    * partial-agg'd groupBy(host); a hot domain is just a hot
    * aggregation key, combiner-bounded, never a buffered window.
    */
  def domainRollup(docs: DataFrame): DataFrame =
    docs.select(urlHost(col("url")).as("host"), col("lang"),
        token_count(col("text")).cast("long").as("nt"))
      .groupBy("host")
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(col("nt")), lit(0L)).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"))
      .select(col("host"), registrableDomain(col("host")).as("domain"),
        col("n_docs"), col("total_tokens"), col("n_langs"))

  /** PER-HOST QUALITY QUOTA: the `perHost` highest-quality docs per
    * normalized host (the per-domain cap every crawl-mixing recipe
    * applies so one giant domain cannot dominate the corpus).
    * Shuffles once on host into the bounded TopKPerKey heap — per the
    * `quotaSample` argument, NO window over a domain-sized partition,
    * so the hottest domain costs `perHost` heap slots, not a spill.
    */
  def domainQuota(docs: DataFrame,
      perHost: Int = DomainQuotaK): DataFrame =
    quotaSample(docs.withColumn("host", urlHost(col("url"))),
      perHost, keyCol = "host")

  /** Shard count for the `text_shards` gate. Same constant MUST
    * appear in the oracle SQL.
    */
  val ShardCount = 8

  /** Deterministic TRAINING-SHARD assignment — the last step before a
    * corpus becomes training files: each doc gets a `shard` (salted
    * id-hash mod `nShards` — independent of the split/sampling coins
    * by the ":shard" salt) and its exact `pos`ition within the shard
    * under the (":pos"-salted hash, doc_id) order — a deterministic
    * within-shard shuffle, so every engine/run/partitioning writes
    * byte-identical shard files in byte-identical order (the
    * reproducible-data-order property training reproducibility
    * studies need). Shard membership and within-shard ORDER are
    * append-stable (existing docs never reorder relative to each
    * other); absolute positions renumber as a shard grows — consumers
    * order by `pos`, they don't address it.
    *
    * Physical: the same range-partition + per-partition-offset exact
    * rank as `lengthDeciles` (driver state = #partitions longs; NO
    * global or per-shard window — a hot shard never funnels through
    * one task), then per-shard start offsets (≤ nShards rows,
    * broadcast) convert global ranks to within-shard positions.
    */
  def shardAssignment(docs: DataFrame,
      nShards: Int = ShardCount): DataFrame = {
    require(nShards >= 1 && nShards <= 65536,
      s"nShards must be in [1, 65536], got $nShards")
    val spark = docs.sparkSession
    import spark.implicits._
    val parted = docs.select(col("doc_id"),
        (poly_hash(concat(col("doc_id").cast("string"), lit(":shard")))
          % nShards).as("shard"),
        poly_hash(concat(col("doc_id").cast("string"), lit(":pos")))
          .as("h"))
      .repartitionByRange(col("shard"), col("h"), col("doc_id"))
      .sortWithinPartitions("shard", "h", "doc_id")
      .as[(Long, Long, Long)]
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.Caches.track(parted.toDF())
    val partCounts = parted
      .mapPartitions { it =>
        var c = 0L
        it.foreach(_ => c += 1L)
        Iterator((org.apache.spark.TaskContext.getPartitionId(), c))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets = partCounts.scanLeft(0L)(_ + _).dropRight(1)
    val offB = spark.sparkContext.broadcast(offsets)
    val ranked = parted
      .mapPartitions { it =>
        var r = offB.value(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (id, sh, _) =>
          r += 1L
          (id, sh, r)
        }
      }
      .toDF("doc_id", "shard", "grank")
    val starts = ranked.groupBy("shard").agg(min("grank").as("start"))
    ranked.join(broadcast(starts), "shard")
      .select(col("doc_id"), col("shard"),
        (col("grank") - col("start") + 1L).as("pos"))
  }

  /** Exact decile (or any `buckets`-ile) statistics over per-doc token
    * counts: global rank by (n_tokens, doc_id) via range partition +
    * per-partition counts + a driver-side scan-left of offsets — the
    * same two-pass distributed rank packSequences uses, NEVER a
    * single-partition global window. Bucket of rank r (1-based) is
    * ⌊(r−1)·buckets/N⌋; all outputs are integers (min/max/sum of
    * longs), so the oracle comparison is exact.
    */
  def lengthDeciles(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val parted = docs
      .select(col("doc_id"), token_count(col("text")).cast("long").as("n_tokens"))
      .repartitionByRange(col("n_tokens"), col("doc_id"))
      .sortWithinPartitions("n_tokens", "doc_id")
      .as[(Long, Long)]
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.Caches.track(parted.toDF())
    val partCounts = parted
      .mapPartitions { it =>
        var c = 0L
        it.foreach(_ => c += 1L)
        Iterator((org.apache.spark.TaskContext.getPartitionId(), c))
      }
      .collect().sortBy(_._1).map(_._2)
    val n = math.max(1L, partCounts.sum)
    val offsets = partCounts.scanLeft(0L)(_ + _).dropRight(1)
    val offB = spark.sparkContext.broadcast(offsets)
    val b = buckets.toLong
    parted
      .mapPartitions { it =>
        var r = offB.value(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (_, nt) =>
          r += 1L
          ((r - 1L) * b / n, nt)
        }
      }
      .toDF("decile", "n_tokens")
      .groupBy("decile")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        sum(col("n_tokens")).as("sum_tokens"))
  }

  /** Per-document QUALITY decile stamp — curriculum binning: each doc
    * labeled with its rank-decile under the `quality` score (0 = worst
    * tenth, 9 = best), the column a curriculum/filtering pipeline
    * samples or phases training on. Same distributed two-pass rank as
    * `lengthDeciles` (range partition + per-partition offsets — the
    * only driver state is #partitions longs; no global window), but
    * emitting the per-ROW stamp instead of per-bucket stats. Ties
    * break on doc_id, so the stamp is total and engine-independent
    * (quality itself is the sequential-fold float both engines compute
    * bit-identically — see the float-parity design rule).
    */
  def qualityDeciles(docs: DataFrame, buckets: Int = 10): DataFrame =
    decileStamp(quality(docs).select(col("doc_id"),
      col("quality").as("score")), buckets)

  /** The shared per-row decile-stamp core behind `qualityDeciles` and
    * `qualityCalibration`: dense rank of (score, doc_id) through the
    * two-pass range-partition machinery (driver state = #partitions
    * longs, no global window), bucketed `(rank−1)·buckets/n`.
    */
  private def decileStamp(scores: DataFrame, buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val spark = scores.sparkSession
    import spark.implicits._
    val parted = scores.select(col("doc_id"), col("score").cast("double"))
      .repartitionByRange(col("score"), col("doc_id"))
      .sortWithinPartitions("score", "doc_id")
      .as[(Long, Double)]
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.Caches.track(parted.toDF())
    val partCounts = parted
      .mapPartitions { it =>
        var c = 0L
        it.foreach(_ => c += 1L)
        Iterator((org.apache.spark.TaskContext.getPartitionId(), c))
      }
      .collect().sortBy(_._1).map(_._2)
    val n = math.max(1L, partCounts.sum)
    val offsets = partCounts.scanLeft(0L)(_ + _).dropRight(1)
    val offB = spark.sparkContext.broadcast(offsets)
    val b = buckets.toLong
    parted
      .mapPartitions { it =>
        var r = offB.value(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (id, _) =>
          r += 1L
          (id, (r - 1L) * b / n)
        }
      }
      .toDF("doc_id", "decile")
  }

  /** CALIBRATION matrix between two independent quality signals — the
    * joint decile histogram of the heuristic quality score and the
    * bigram-LM surprisal: cell (q, s) counts docs in quality-decile q
    * and surprisal-decile s. A well-calibrated pair concentrates mass
    * near the diagonal's mirror (high quality ↔ LOW surprisal); a
    * smeared matrix means the two filters disagree and a pipeline
    * gating on both needs the thresholds re-examined. ≤ buckets² output
    * rows; both stamps ride the same range-partition rank machinery,
    * and surp_ppm's long→double cast is exact (ppm ≪ 2^53) so the
    * ordering matches the oracle's integer sort bit-for-bit.
    */
  def qualityCalibration(docs: DataFrame, buckets: Int = 10): DataFrame = {
    val qd = decileStamp(quality(docs).select(col("doc_id"),
        col("quality").as("score")), buckets)
      .select(col("doc_id"), col("decile").as("q_decile"))
    val sd = decileStamp(surprisalShared(docs).select(col("doc_id"),
        col("surp_ppm").as("score")), buckets)
      .select(col("doc_id"), col("decile").as("s_decile"))
    qd.join(sd, "doc_id")
      .groupBy("q_decile", "s_decile").agg(count(lit(1)).as("n"))
  }

  /** Memo (`surprisal`) of the surprisal relation —
    * `text_surprisal` and `qualityCalibration` both pay the corpus
    * bigram-LM build (two corpus-sized shuffles) over the same docs
    * back to back; the artifact is one 3-long row per doc (the
    * `defaultClusters` precedent: per-doc label relations memoize
    * well). Checkpoint-backed, keyed by the docs plan — the standard
    * discipline.
    */
  def surprisalShared(docs: DataFrame): DataFrame =
    graft.PlanMemo.getOrBuild(docs, "surprisal") {
      org.apache.spark.sql.graft.ColumnBridge
        .statsFreeLocalCheckpoint(surprisal(docs))
    }

  /** Language-ID CONFUSION MATRIX against a labeled column — the
    * evaluation view for the `langId` heuristic (and for any upstream
    * labeler being audited): one row per (label, guess) pair with its
    * count. The diagonal over the row sum is per-language recall; off-
    * diagonal mass shows exactly which languages the marker table
    * confuses — the number that decides whether the n-gram heuristic
    * is good enough before a pipeline filters by it. One
    * map-side-combined aggregation over ≤ langs² groups.
    */
  def langConfusion(docs: DataFrame, labelCol: String = "lang"): DataFrame =
    langId(docs)
      .join(docs.select(col("doc_id"), col(labelCol).as("label")), "doc_id")
      .groupBy(col("label"), col("lang_guess"))
      .agg(count(lit(1)).as("n"))

  /** Negatives per document for `negatives`. */
  val NegativesK = 4

  /** Deterministic contrastive NEGATIVE sampling: for every document,
    * `k` pseudo-random other documents — the in-batch-negatives
    * supplement a contrastive embedding-training pipeline draws
    * (SimCLR/CLIP-style training needs negatives; drawing them with an
    * RNG makes runs irreproducible and engine-dependent, the same
    * reason `hashSplit` exists). Slot i's negative is the document
    * whose HASH-ORDER rank equals poly_hash(doc_id ":" i) mod N — a
    * fixed pseudo-random permutation probe, stable across runs,
    * partitionings and engines. Self-collisions are dropped (a doc
    * occasionally yields k−1 negatives — the honest contract; remap
    * rules would cascade). Near-dup exclusion composes externally:
    * anti-join the output against any pairs relation (`ngramJaccard`,
    * `knnGraph` edges) — not baked in, because which relation defines
    * "too similar to be a negative" is the pipeline's choice.
    *
    * Scale shape: the dense hash-rank is the `lengthDeciles` two-pass
    * range-partition machinery (driver state = #partitions longs, no
    * global window); probes are a k× generator fanout of id-sized
    * rows; the lookup is one equi-join on rank. Nothing wider than
    * (id, rank) ever shuffles.
    */
  def negatives(docs: DataFrame, k: Int = NegativesK): DataFrame = {
    require(k >= 1, s"negatives needs k >= 1, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val parted = docs
      .select(col("doc_id"), poly_hash(col("doc_id").cast("string")).as("hh"))
      .repartitionByRange(col("hh"), col("doc_id"))
      .sortWithinPartitions("hh", "doc_id")
      .as[(Long, Long)]
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.Caches.track(parted.toDF())
    val partCounts = parted
      .mapPartitions { it =>
        var c = 0L
        it.foreach(_ => c += 1L)
        Iterator((org.apache.spark.TaskContext.getPartitionId(), c))
      }
      .collect().sortBy(_._1).map(_._2)
    val n = math.max(1L, partCounts.sum)
    val offsets = partCounts.scanLeft(0L)(_ + _).dropRight(1)
    val offB = spark.sparkContext.broadcast(offsets)
    val ranked = parted
      .mapPartitions { it =>
        var r = offB.value(org.apache.spark.TaskContext.getPartitionId())
        it.map { case (id, _) => r += 1L; (id, r - 1L) }
      }
      .toDF("doc_id", "rank")
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.Caches.track(ranked)
    val probes = ranked
      .select(col("doc_id"),
        explode(array((0 until k).map(i => lit(i.toLong)): _*)).as("slot"))
      .withColumn("neg_rank",
        pmod(poly_hash(concat(col("doc_id").cast("string"), lit(":"),
          col("slot").cast("string"))), lit(n)))
    probes
      .join(ranked.select(col("rank").as("neg_rank"),
        col("doc_id").as("neg_id")), "neg_rank")
      .filter(col("neg_id") =!= col("doc_id"))
      .select(col("doc_id"), col("slot"), col("neg_id"))
  }

  // ---- HyperLogLog distinct-token sketch ----

  /** Bucket count (power of two). 512 buckets ≈ 4.6% standard error —
    * sketch state is 512 bytes regardless of corpus size.
    */
  val HllBuckets = 512

  /** Max rank: rho is capped so the scaled harmonic term 2^(HllCap−rho)
    * stays an exact BIGINT and the total Σ ≤ m·2^HllCap ≤ 2^57 cannot
    * overflow. 48 leaves headroom over the ~51 usable hash bits.
    */
  val HllCap = 48

  /** HyperLogLog estimate of the DISTINCT token count — the sketch
    * path for "how big is the vocabulary" when the exact groupBy
    * (`topTokens`-style) shuffle is not worth it. At 100 TB the whole
    * job is one map stage + a 512-group partial-max aggregate: no
    * distinct, no shuffle of tokens, state is m bytes, and duplicate
    * tokens are free (max is idempotent — the reason sketches beat
    * exact counting here).
    *
    * ORACLE-EXACT BY CONSTRUCTION: every cross-row aggregate is
    * integer (MAX(rho) per bucket, COUNT, Σ 2^(HllCap−rho) as BIGINT —
    * powers of two, so no float-order drift), and the one float
    * expression (the standard α_m·m²/Σ2^−rho estimator) is a single
    * deterministic IEEE evaluation over those integers, identical in
    * the generated SQL twin. The classic small-range linear-counting
    * correction needs ln(), whose last-ulp behavior differs across
    * libm implementations (measured on this container: JVM Math.log
    * and DuckDB ln disagree by 1 ulp at 2 of the 511 possible m/V
    * arguments for m = 512) — so the correction is NOT folded into
    * the hash-checked output; `vocabHllEstimate` applies it
    * driver-side, and `n_empty` lets any consumer do the same.
    *
    * Output (one row): m, n_empty (V), harmonic_scaled
    * (Σ_buckets 2^(HllCap−rho), empty buckets contributing 2^HllCap),
    * est_raw (double).
    *
    * Hash: 60-bit combine of the two independent PolyHashes
    * (h = ph1·Mod2 + ph2 < 2^60); bucket = h mod m, rank = trailing
    * zeros of h ÷ m, + 1 (bit_count((x & −x) − 1) + 1 — both engines
    * compute it with the same pure-integer idiom).
    */
  def vocabHll(docs: DataFrame): DataFrame =
    hllState(docs.select(explode(tokens(col("text"))).as("token")),
      Nil, col("token"))

  /** The grouped HLL kernel behind `vocabHll` (empty `groups` = the
    * one-row global sketch) and `EventWindows.hourlyUsersHll` (one
    * sketch per group): per group, the integer HLL state + raw
    * estimate over `item` (a string column; hash = the same 60-bit
    * dual-PolyHash combine). Grouping multiplies nothing: the two
    * shuffles carry (groups, bucket, rho-max) then (groups, counters)
    * — ≤ m rows per group regardless of item cardinality, with
    * map-side partial MAX doing the heavy collapse. That is the whole
    * case for sketch-per-group over `countDistinct` at 100 TB: exact
    * distinct shuffles every (group, item) pair once; this shuffles at
    * most `m` counters per group.
    */
  private[graft] def hllState(rel: DataFrame, groups: Seq[String],
      item: org.apache.spark.sql.Column): DataFrame =
    hllFinalize(hllBucketMax(rel, groups, item), groups)

  /** The sketch's MERGEABLE half: per-(groups, bucket) max rank rows.
    * Bucket-max relations for different slices of the same item
    * stream merge by a further groupBy-MAX (max is associative and
    * idempotent) — the rollup path `activeUsersHll` rides; feed the
    * merged relation to `hllFinalize` for the state/estimate row.
    */
  private[graft] def hllBucketMax(rel: DataFrame, groups: Seq[String],
      item: org.apache.spark.sql.Column): DataFrame = {
    import graft.functions.PolyHashFunctions.poly_hash60
    val m = HllBuckets
    val cap = HllCap
    val g = groups.map(col)
    // `div`, not `/`: h is up to ~2^60 and Column./ is DOUBLE division
    // (loses low bits past 2^53 — exactly the bits rho reads)
    rel
      .select(g :+ poly_hash60(item).as("h"): _*)
      .select(g ++ Seq((col("h") % lit(m.toLong)).as("bucket"),
        expr(s"h div ${m}L").as("rest")): _*)
      .select(g ++ Seq(col("bucket"),
        when(col("rest") === 0L, lit(cap))
          .otherwise(least(lit(cap),
            bit_count(col("rest").bitwiseAND(-col("rest")) - 1L)
              .cast("int") + 1))
          .as("rho")): _*)
      .groupBy(g :+ col("bucket"): _*).agg(max(col("rho")).as("mr"))
  }

  /** Fold a (groups, bucket, mr) relation into the vocabHll-contract
    * state row per group — split from `hllState` so merged bucket-max
    * relations finalize through the identical expressions.
    */
  private[graft] def hllFinalize(mx: DataFrame,
      groups: Seq[String]): DataFrame = {
    val m = HllBuckets
    val cap = HllCap
    val g = groups.map(col)
    val agg = mx.groupBy(g: _*).agg(
      count(lit(1)).as("nz"),
      coalesce(sum(expr(s"shiftleft(1L, $cap - mr)")), lit(0L))
        .as("sp"))
    // α_m · m² · 2^cap / Σ — one fixed-order float expression; the SQL
    // twin is generated from the same constants
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    agg.select(g ++ Seq(
        lit(m.toLong).as("m"),
        (lit(m.toLong) - col("nz")).as("n_empty"),
        (col("sp") + (lit(m.toLong) - col("nz")) * shiftleft(lit(1L), cap))
          .as("harmonic_scaled")): _*)
      .select(g ++ Seq(col("m"), col("n_empty"), col("harmonic_scaled"),
        (alpha * lit((m.toLong * m).toDouble) * lit(math.pow(2.0, cap)) /
          col("harmonic_scaled").cast("double")).as("est_raw")): _*)
  }

  /** Vocabulary size for the `text_cooccur` gate. Same constant MUST
    * appear in the oracle SQL.
    */
  val CooccurTopK = 100

  /** Token CO-OCCURRENCE counts over the top-`k` vocabulary — for each
    * unordered pair of top-k tokens, the number of documents containing
    * BOTH (the raw statistic behind PMI weighting, word-vector
    * pretraining and collocation mining). Pairs are canonical
    * (`t1 < t2` lexicographically); a document counts once per pair no
    * matter how often either token repeats.
    *
    * Scale shape: the top-k head (broadcast, k rows) prefilters the
    * exploded token stream in its map stage, so everything downstream
    * is bounded by k, not vocabulary: per-doc distinct surviving
    * tokens collect into one ≤k-element sorted array (one doc-keyed
    * shuffle of slim rows), pairs generate map-side from the array
    * (≤ k(k−1)/2 per doc), and the final count shuffles at most
    * k(k−1)/2 distinct keys after partial aggregation. The full-vocab
    * pair matrix — quadratic in VOCABULARY, the thing that kills
    * naive co-occurrence at corpus scale — is never formed.
    */
  def cooccurrence(docs: DataFrame, k: Int = CooccurTopK): DataFrame = {
    require(k > 1, s"k must be > 1, got $k")
    val top = topTokens(docs, k).select("token")
    val lists = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text"))))
        .as("token"))
      .join(broadcast(top), "token")
      .groupBy("doc_id")
      .agg(array_sort(collect_set(col("token"))).as("ts"))
    lists
      .select(col("ts"), posexplode(col("ts")).as(Seq("i", "t1")))
      .select(col("i"), col("t1"), posexplode(col("ts")).as(Seq("j", "t2")))
      .filter(col("i") < col("j"))
      .groupBy("t1", "t2")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Percentile points for the `events_quantiles` gate. Same constants
    * MUST appear in the oracle SQL.
    */
  val QuantilePcts: Seq[Int] = Seq(50, 90, 99)

  /** EXACT per-group quantiles by order statistic — p50/p90/p99 of a
    * value per dimension, the observability staple: for each group,
    * the element at rank `max(1, ceil(pct·n/100))` of `(value, id)`
    * order (the rank target is computed in INTEGER arithmetic,
    * `(pct·n + 99) div 100`, so no float-rounding drift can pick a
    * neighboring element). Selection, not arithmetic — the returned
    * double is a bit-exact element of the input, so even float values
    * hash-match across engines. Null values are excluded (the two
    * engines disagree on null sort order; a null quantile is
    * meaningless anyway).
    *
    * This is `lengthDeciles`' two-pass distributed rank GENERALIZED to
    * grouped form — groups ride the range partitioning key, so one
    * group's rows may span partitions and NO per-group window sort
    * ever funnels a hot group through one task (the difference between
    * this and `PARTITION BY group ORDER BY value` at 100 TB, where one
    * dimension value can hold half the corpus). Driver state is one
    * (partition, group) count pair per occupied pair — partitions ×
    * distinct groups, dimension-sized by assumption (event types,
    * languages, sources... for high-cardinality groups use the
    * per-key heap operator instead).
    */
  def groupedQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, pcts: Seq[Int] = QuantilePcts): DataFrame = {
    require(pcts.nonEmpty && pcts.forall(p => p >= 1 && p <= 100),
      s"pcts must be in [1, 100], got $pcts")
    require(pcts.distinct.size == pcts.size, s"pcts must be distinct: $pcts")
    val spark = df.sparkSession
    import spark.implicits._
    val parted = df
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("v"), col(idCol).cast("long").as("i"))
      .repartitionByRange(col("g"), col("v"), col("i"))
      .sortWithinPartitions("g", "v", "i")
      .as[(String, Double, Long)]
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.Caches.track(parted.toDF())
    // pass 1: per-(partition, group) counts — the only driver state
    val counts = parted.mapPartitions { it =>
      val m = scala.collection.mutable.LinkedHashMap[String, Long]()
      it.foreach { case (g, _, _) => m(g) = m.getOrElse(g, 0L) + 1L }
      val pid = org.apache.spark.TaskContext.getPartitionId()
      m.toList.map { case (g, c) => (pid, g, c) }.iterator
    }.collect()
    val totals = counts.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    // per-group running prefix over (group, pid)-sorted counts — one
    // O(n log n) pass over the |partitions × occupied groups| entries
    // (a nested re-scan here is O(n²) driver CPU: negligible at
    // dimension-sized groups, a driver stall at thousands × thousands)
    val offsets: Map[(Int, String), Long] = {
      val b = Map.newBuilder[(Int, String), Long]
      var curG: String = null
      var run = 0L
      // null-safe group order (groupCol may be null; nulls sort first —
      // any total order works, contiguity per group is all that matters)
      counts.sortWith { case ((p1, g1, _), (p2, g2, _)) =>
        val gc =
          if (g1 == null && g2 == null) 0
          else if (g1 == null) -1
          else if (g2 == null) 1
          else g1.compareTo(g2)
        gc < 0 || (gc == 0 && p1 < p2)
      }.foreach { case (pid, g, c) =>
        if (g != curG) { curG = g; run = 0L }
        b += ((pid, g) -> run)
        run += c
      }
      b.result()
    }
    // rank targets per group, integer-exact: max(1, (pct·n + 99) div 100);
    // several pcts may share a rank in tiny groups — emit one row each
    val targets: Map[String, Map[Long, Seq[Int]]] = totals.map { case (g, n) =>
      g -> pcts.map(p => math.max(1L, (p.toLong * n + 99L) / 100L) -> p)
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    }.toMap
    val bc = spark.sparkContext.broadcast((offsets, targets))
    // pass 2: stream each partition with its per-group prefix offset
    parted.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      val (offs, tgts) = bc.value
      val rk = scala.collection.mutable.Map[String, Long]()
      it.flatMap { case (g, v, _) =>
        val r = rk.getOrElse(g, offs.getOrElse((pid, g), 0L)) + 1L
        rk(g) = r
        tgts.getOrElse(g, Map.empty).getOrElse(r, Nil)
          .map(p => (g, p.toLong, v))
      }
    }.toDF(groupCol, "pct", "value_at")
  }

  /** Denominator for `mixCorpus` rates: rates are integer parts-per-
    * million, so membership is a pure integer compare — no float
    * thresholds to drift between engines.
    */
  val MixDen = 1000000L

  /** Deterministic corpus MIXING: per-source sampling weights as the
    * number of training epochs in ppm (500000 = half the docs,
    * 2300000 = every doc twice and 30% of docs a third time) — the
    * up/down-weighting step that turns N raw corpora into one training
    * mix. A doc gets `ppm div 1e6` guaranteed epochs plus one more iff
    * its id-hash lands under the fractional remainder, so the choice
    * is stable under corpus growth and re-partitioning (same property
    * as `hashSplit`, but on the INDEPENDENT second PolyHash — a doc's
    * train/val side and its mix membership never correlate). A rolling
    * PolyHash alone is AFFINE in the last id digit (consecutive ids →
    * consecutive hashes — measured 96/100 of ids 0..297 under a 50%
    * threshold mod 1e6), so the value goes through the engine's
    * multiply-mod-prime + xor-shift mixer (VectorExprUtil's plane
    * mixer shape) before the threshold compare; "mix:" is domain
    * separation. Output is one row per (doc, epoch). Pure projection
    * + generator: no shuffle, one map stage at any scale.
    */
  def mixCorpus(docs: DataFrame, ratesPpm: Map[String, Long],
      defaultPpm: Long = MixDen, keyCol: String = "source"): DataFrame = {
    import graft.functions.PolyHashFunctions.poly_hash2
    require(ratesPpm.values.forall(_ >= 0L) && defaultPpm >= 0L,
      "mixCorpus rates must be non-negative ppm")
    val ppm =
      if (ratesPpm.isEmpty) lit(defaultPpm)
      else coalesce(element_at(typedLit(ratesPpm), col(keyCol)),
        lit(defaultPpm))
    val h = {
      import graft.functions.VectorExprUtil.{PlaneM31, PlaneMul1, PlaneMul2, PlaneMul3}
      val x0 = poly_hash2(concat(lit("mix:"), col("doc_id").cast("string")))
      val x1 = x0 * PlaneMul1 % PlaneM31
      val x2 = x1.bitwiseXOR(shiftright(x1, 15))
      val x3 = x2 * PlaneMul2 % PlaneM31
      val x4 = x3.bitwiseXOR(shiftright(x3, 13))
      x4 * PlaneMul3 % PlaneM31 % MixDen
    }
    docs.select(col("doc_id"), col(keyCol), ppm.as("ppm"), h.as("h"))
      .select(col("doc_id"), col(keyCol),
        (expr(s"ppm div $MixDen") +
          when(col("h") < col("ppm") % MixDen, 1L).otherwise(0L))
          .as("n_copies"))
      .filter(col("n_copies") > 0L)
      .select(col("doc_id"), col(keyCol),
        explode(sequence(lit(0L), col("n_copies") - 1L)).as("epoch"))
  }

  /** The full HLL estimate with the standard small-range correction:
    * raw ≤ 2.5·m with empty buckets present → linear counting
    * m·ln(m/V). The one ln() runs DRIVER-side on the sketch's single
    * row, deliberately outside the oracle-hashed query surface (see
    * vocabHll's Scaladoc for the measured cross-libm ulp drift that
    * would otherwise be a latent hash mismatch).
    */
  def vocabHllEstimate(docs: DataFrame): Double = {
    val r = vocabHll(docs).collect()(0)
    val m = r.getAs[Long]("m").toDouble
    val v = r.getAs[Long]("n_empty").toDouble
    val raw = r.getAs[Double]("est_raw")
    if (raw <= 2.5 * m && v > 0.0) m * math.log(m / v) else raw
  }

  /** Fixed-point scale and per-doc term count for `salientTerms`. */
  val TfidfScale = 1000000L
  val TfidfTopK = 3

  /** Salient terms per document — the top-`k` tokens by an INTEGER
    * tf-idf score: `score = (tf · TfidfScale) div df` (tf = the
    * token's occurrences in the doc, df = how many docs contain it).
    * Dividing by df instead of multiplying by idf = N/df drops the
    * constant corpus-size factor N, which cannot change any per-doc
    * ranking — and keeps every intermediate within long range at any
    * corpus size (tf·scale ≤ 2^63 needs only tf < 9·10^12), where the
    * N-bearing form overflows at ~10^10 docs. Exact integer arithmetic
    * end to end, so rankings and the gate hash are engine-stable; ties
    * break by token ascending.
    *
    * Scale shape: one tokenize pass → per-(doc, token) counts
    * (cache-leased — it feeds both the df aggregation and the scoring
    * join), df is vocabulary-sized, and the score join shuffles on
    * `token` (vocabulary keys, zipfian but bounded by per-doc distinct
    * tokens per group on the tf side). The per-doc top-k runs on
    * `TopKPerKey` — k-bounded heaps, NO window sort of the corpus.
    */
  def salientTerms(docs: DataFrame, k: Int = TfidfTopK,
      scale: Long = TfidfScale): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(scale > 0, s"scale must be positive, got $scale")
    val tf = graft.Caches.track(
      termFreq(docs).persist(StorageLevel.MEMORY_AND_DISK))
    val dfRel = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val scored = tf.join(dfRel, "token")
      .select(col("doc_id"), col("token"),
        expr(s"(tf * ${scale}L) div df").as("tfidf_fp"))
    graft.plans.TopK.perKey(scored, Seq("doc_id"),
        Seq(col("tfidf_fp").desc, col("token").asc), k)
      // the heap's rank is derivable from (tfidf_fp desc, token asc) —
      // dropped so the gate schema carries no redundant column
      .select("doc_id", "token", "tfidf_fp")
  }

  /** Top-k width for `sourceVocabOverlap`. Same constant MUST appear
    * in the oracle SQL.
    */
  val SourceOverlapK = 20

  /** SOURCE-vocabulary overlap — for each unordered pair of sources
    * sharing at least one top-`k` token, how many of their top-`k`
    * vocabularies coincide (`shared`, plus each side's actual top
    * size `ka`/`kb` ≤ k, so shared/(ka+kb−shared) is the Jaccard):
    * the corpus-mixing diagnostic (`mixCorpus` weights want to know
    * which sources are near-duplicates of each other and which bring
    * genuinely new vocabulary). Integer outputs only; top-k ties
    * break (count desc, token asc), so the pairs are
    * engine-deterministic.
    *
    * Scale shape: per-(source, token) counts with map-side partials
    * (bounded by per-source vocabularies), the per-source top-k
    * through the `TopKPerKey` bounded heap (never a window sort — the
    * same half-the-corpus-is-one-source skew story as `quotaSample`),
    * and everything downstream operates on ≤ sources·k rows — the
    * pair join is trivially small at any corpus size.
    */
  def sourceVocabOverlap(docs: DataFrame,
      k: Int = SourceOverlapK): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val counts = docs
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("n"))
    val top = graft.Caches.track(
      graft.plans.TopK.perKey(counts, Seq("source"),
          Seq(col("n").desc, col("token").asc), k)
        .select("source", "token")
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sizes = top.groupBy("source").agg(count(lit(1)).as("ksz"))
    top.select(col("source").as("sa"), col("token"))
      .join(top.select(col("source").as("sb"), col("token")), "token")
      .filter(col("sa") < col("sb"))
      .groupBy(col("sa"), col("sb"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("source").as("sa"), col("ksz").as("ka")), "sa")
      .join(sizes.select(col("source").as("sb"), col("ksz").as("kb")), "sb")
      .select(col("sa").as("src_a"), col("sb").as("src_b"),
        col("shared"), col("ka"), col("kb"))
  }

  /** Count-Min sketch geometry: `CmsDepth` independent hash rows ×
    * `CmsWidth` buckets. The default sizes the sketch at 4×65536 long
    * counters (2 MB) — error ≤ 2·total/width per estimate with
    * probability 1−(1/2)^depth, the standard CM bound. The GATE width
    * is deliberately tiny (16) so the sf0.01 vocabulary actually
    * collides and the overcount path is exercised, the same
    * scaled-constant trick as MaxRS. Row i's hash is the engine's
    * PolyHash over `"cms<i>:" + token` — salting the string, not the
    * multiplier, keeps every row reproducible in the oracle's SQL
    * dialect with the one shared hash implementation.
    */
  val CmsDepth = 4
  val CmsWidth = 65536
  val CmsGateWidth = 16
  val CmsTopK = 50

  private def cmsRows(token: org.apache.spark.sql.Column, depth: Int,
      width: Int): org.apache.spark.sql.Column =
    array((0 until depth).map { i =>
      struct(lit(i.toLong).as("row_idx"),
        (poly_hash(concat(lit(s"cms$i:"), token)) % width).as("bucket"))
    }: _*)

  /** The Count-Min sketch of corpus token frequencies, AS A RELATION:
    * one `(row_idx, bucket, cnt)` row per non-empty counter. This is
    * the bounded-state answer to "how often does any given token
    * occur" at 100 TB: the sketch is ≤ depth×width rows NO MATTER the
    * corpus or vocabulary size (a trillion-token corpus with a
    * billion-term vocabulary still sketches to 2 MB), it shuffles only
    * (row, bucket) keys with map-side partial counting — the
    * vocabulary itself is never materialized, unlike `topTokens` — and
    * two sketches merge by adding counters, so per-shard sketches
    * union into the corpus sketch for free (the same mergeability
    * argument as `vocabHll`).
    */
  def cmsTokens(docs: DataFrame, depth: Int = CmsDepth,
      width: Int = CmsWidth): DataFrame = {
    require(depth > 0, s"depth must be positive, got $depth")
    require(width > 0, s"width must be positive, got $width")
    docs.select(explode(tokens(col("text"))).as("token"))
      .select(explode(cmsRows(col("token"), depth, width)).as("rb"))
      .groupBy(col("rb.row_idx").as("row_idx"), col("rb.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point-estimates from the sketch for the exact top-k tokens:
    * `(token, n_exact, n_est)` with `n_est` = min over rows of the
    * token's counter — never below `n_exact` (CM sketches only ever
    * OVERcount), equal when none of the token's buckets collide. The
    * side-by-side exact/estimate is the calibration view a pipeline
    * uses to pick sketch geometry before trusting it at full scale.
    *
    * One aggregation pass: per-token counts are computed once
    * (cache-leased), then feed BOTH the top-k head and the sketch —
    * summing per-token counts into (row, bucket) counters yields
    * byte-identical counters to sketching the raw token stream, so no
    * second corpus scan runs. The sketch side of the final lookup is
    * broadcast: it is ≤ depth×width rows by construction.
    */
  def cmsEstimateTopK(docs: DataFrame, k: Int = CmsTopK, depth: Int = CmsDepth,
      width: Int = CmsWidth): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val tokCounts = graft.Caches.track(
      docs.select(explode(tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sketch = tokCounts
      .select(col("n"), explode(cmsRows(col("token"), depth, width)).as("rb"))
      .groupBy(col("rb.row_idx").as("row_idx"), col("rb.bucket").as("bucket"))
      .agg(sum("n").as("cnt"))
    tokCounts
      .orderBy(col("n").desc, col("token").asc).limit(k)
      .select(col("token"), col("n"),
        explode(cmsRows(col("token"), depth, width)).as("rb"))
      .select(col("token"), col("n"),
        col("rb.row_idx").as("row_idx"), col("rb.bucket").as("bucket"))
      .join(broadcast(sketch), Seq("row_idx", "bucket"))
      .groupBy("token", "n")
      .agg(min("cnt").as("n_est"))
      .select(col("token"), col("n").as("n_exact"), col("n_est"))
  }

  /** Top-k width for `bpePairCounts`. */
  val BpeTopK = 50

  /** The BPE merge-candidate statistic (Sennrich et al. 2016,
    * arXiv:1508.07909): corpus-weighted adjacent-character-pair counts
    * — the counting kernel a byte-pair-encoding tokenizer trainer runs
    * every merge iteration (here over the raw character vocabulary,
    * i.e. iteration 0; subsequent iterations re-run the same kernel
    * over the re-segmented word vocabulary from a driver loop). The
    * top pair is the next merge a trainer would pick.
    *
    * Scale shape: the ONLY corpus-sized stage is the map-side-combined
    * word-frequency count; pair explosion then runs over the DISTINCT
    * word vocabulary weighted by frequency — vocabulary-sized, not
    * corpus-sized (a word seen a billion times explodes once). Final
    * top-k is a TakeOrdered merge, never a global sort.
    */
  def bpePairCounts(docs: DataFrame, k: Int = BpeTopK): DataFrame = {
    val words = docs.select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("f"))
    words
      .filter(length(col("token")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(token) - 1), " +
          "i -> substring(token, CAST(i AS INT), 2))")).as("pair"),
        col("f"))
      .groupBy("pair").agg(sum(col("f")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(k)
  }

  /** Hashed-token buckets for `importanceWeights`. 4096 keeps the
    * weight table broadcast-trivial (≤ 64 KB) while still separating
    * the frequent-token mass; raise for finer-grained reweighting.
    */
  val ImportanceBuckets = 4096

  /** ppm scale shared by both stages of the importance ratio. */
  val ImportanceScale = 1000000L

  /** Importance-ratio cap: 1000× enrichment (1e9 ppm). Bounds the
    * per-token weight so one ultra-rare bucket cannot dominate a
    * document's score, and keeps the per-doc weighted sum far from
    * Long overflow (cap × tokens-per-doc ≤ 1e9 × ~1e6 < 2^63).
    */
  val ImportanceCap = 1000000000L

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling", arXiv:2302.03169
    * — the hashed n-gram variant): how much more a document's tokens
    * look like a TARGET distribution than like the raw corpus. Tokens
    * hash into `buckets` buckets; each bucket gets the add-one-
    * smoothed ratio of its target-share to its corpus-share, and a
    * document scores the token-count-weighted MEAN bucket ratio —
    * >1e6 ppm means "more target-like than average". Pipelines rank
    * or threshold on the score to up-sample target-like data.
    *
    * All arithmetic is integer (two-stage ppm division, ratio capped
    * at `ImportanceCap`) — no log-likelihoods, so scores are
    * bit-identical across engines/partitionings at the cost of ppm
    * quantization (a bucket rarer than ~1-per-million of either
    * distribution saturates). Documented bound: per-bucket token
    * counts below ~9e12 (Long.Max / ppm scale) — at 1e13 corpus
    * tokens raise `buckets` accordingly.
    *
    * Physical: one token explode feeds one bucket-count aggregation
    * (≤ `buckets` rows after map-side combine) plus its 1-row total;
    * the weight table joins back token-level as a BROADCAST, so the
    * only corpus-sized shuffle is the final per-doc aggregation.
    * Docs with no tokens score 0 via the closing left join.
    */
  def importanceWeights(docs: DataFrame, target: Column,
      buckets: Int = ImportanceBuckets): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    val s = ImportanceScale
    val tkb = graft.Caches.track(docs
      .select(col("doc_id"), target.cast("long").as("is_t"),
        explode(tokens(col("text"))).as("token"))
      .select(col("doc_id"), col("is_t"),
        (poly_hash(col("token")) % buckets).as("bucket"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val bucketCounts = graft.Caches.track(tkb.groupBy("bucket")
      .agg(count(lit(1)).as("raw_n"), sum(col("is_t")).as("tgt_n"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    // totals roll up from the ≤`buckets`-row bucket relation — never a
    // second corpus-sized aggregation
    val totals = bucketCounts.agg(sum(col("raw_n")).as("raw_tot"),
      sum(col("tgt_n")).as("tgt_tot"))
    val weights = bucketCounts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        least(
          expr(s"((tgt_n + 1) * $s div (tgt_tot + $buckets)) * $s " +
            s"div greatest((raw_n + 1) * $s div (raw_tot + $buckets), 1)"),
          lit(ImportanceCap)).as("w"))
    val perDoc = tkb.join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("sw"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(expr("sw div n_tokens"), lit(0L)).as("imp_ppm"))
  }

  /** Per-document bigram surprisal — the CCNet-style perplexity quality
    * filter (Wenzek et al. 2020) in deterministic integer arithmetic.
    * The corpus bigram LM assigns each in-document bigram (w1,w2) the
    * surprisal −log2 P(w2|w1) ≈ bitlen(c(w1·)) − bitlen(c(w1,w2)),
    * where bitlen(x) = ⌊log2 x⌋+1 comes from `length(bin(x))` — an
    * EXACT integer in both engines, so the per-doc totals are long sums
    * with no float aggregation (float-parity rule). Within ±1 bit per
    * bigram of the true log ratio: exactly the fidelity a
    * bucket-the-corpus-into-quality-tiers filter needs, with none of
    * the cross-engine log/float risk.
    *
    * Shape at scale: one corpus-sized bigram shuffle to count, a
    * vocabulary-sized join to attach the w1 context totals, one
    * corpus-sized join keyed (w1,w2) to score (hot bigrams replicate a
    * single LM row — no skew funnel), one doc-keyed aggregation. Docs
    * with <2 tokens report (0, 0, −1): total function, sentinel ppm.
    */
  def surprisal(docs: DataFrame): DataFrame = {
    val bg = docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(0), size(col("tk")) - 2),
        i => struct(element_at(col("tk"), i + 1).as("w1"),
          element_at(col("tk"), i + 2).as("w2")))).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val bi = bg.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    // c(w1·) = occurrences of w1 as a non-final token — rolled up from
    // the distinct-bigram relation, never a second corpus aggregation
    val lm = bi.join(bi.groupBy("w1").agg(sum("c12").as("c1")), "w1")
    val per = bg.join(lm, Seq("w1", "w2"))
      .select(col("doc_id"),
        (length(bin(col("c1"))) - length(bin(col("c12")))).cast("long").as("surp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("surp").as("surp_bits"))
    docs.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surp_bits"), lit(0L)).as("surp_bits"),
        coalesce(expr("surp_bits * 1000000 div n_bigrams"), lit(-1L))
          .as("surp_ppm"))
  }

  /** BM25 parameters in per-mille fixed point (k1 = 1.2, b = 0.75) and
    * the retrieval gate's fixture: docs with doc_id < Bm25Queries are
    * the "queries", the rest are the searchable corpus. The SAME
    * constants must appear in the oracle SQL.
    */
  val Bm25Queries = 8L
  val Bm25K = 10
  val Bm25K1pm = 1200L
  val Bm25Bpm = 750L

  /** BM25 keyword retrieval: top-k corpus docs per probe query, scored
    * by the Okapi BM25 family in all-integer fixed point.
    *
    *  - idf_bits(t) = bitlen(⌊(2(N−df)+1)/(2df+1)⌋ + 1) — the
    *    Robertson idf's log via exact integer bit length (same `bin`
    *    device as `surprisal`); monotone in df, ≥1, ≈log2 of the
    *    classic (N−df+0.5)/(df+0.5)+1.
    *  - tf part: tf(k1+1)/(tf + k1(1−b+b·len/avglen)) with every
    *    constant in per-mille and the division deferred to one final
    *    ppm-scaled integer divide, so both engines floor identically.
    *  - score = Σ_t idf_bits·tf_norm_ppm — a LONG sum; rank by
    *    (score desc, doc_id asc) through TopKPerKey.
    *
    * Shape at scale: tf is the one corpus-sized shuffle (groupBy
    * (doc_id, token)); df and the length stats roll up from tf and a
    * map-side projection; the query-term side (≤ nQueries docs'
    * vocabulary × idf) broadcasts, so scoring is tf ⋈ broadcast —
    * candidate rows only for docs sharing a query term, then one
    * (query, doc)-keyed aggregation and a k-bounded heap. No global
    * sort, no cartesian corpus×queries product.
    */
  def bm25(docs: DataFrame, k: Int = Bm25K,
      nQueries: Long = Bm25Queries): DataFrame = {
    val c = bm25Corpus(docs, nQueries)
    bm25Score(c, bm25QueryTerms(docs, nQueries), k)
  }

  /** The cached corpus state one BM25 session shares across scoring
    * passes: the (doc_id, token, tf, len_d) relation plus the two
    * stat literals, so every `bm25Score` pass of `bm25` and `bm25Prf`
    * reads the SAME tf/stats.
    */
  private[graft] case class Bm25State(tf: DataFrame, nDocs: Long,
    avglenPpm: Long)

  private[graft] def bm25Corpus(docs: DataFrame,
      nQueries: Long): Bm25State = {
    val corpus = docs.filter(col("doc_id") >= nQueries)
    // ONE corpus pass, ONE corpus-sized shuffle: the doc length rides
    // the exploded rows INTO the (doc_id, token) aggregation (first()
    // over per-doc-constant values — deterministic), so scoring needs
    // no separate lens relation and no doc_id join at all. The
    // persisted tf then feeds everything downstream without
    // re-scanning text (the fat column). Measured at the 50k-doc
    // rehearsal tier: 15.9 s (3 text scans, 2 joins) → ~8 s.
    val tf = graft.Caches.track(corpus
      .select(col("doc_id"), tokens(col("text")).as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("len_d"),
        explode(col("tk")).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"), first("len_d").as("len_d"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    // global stats COLLECT to two literals (1 row — the IVF-centroid
    // driver-bound discipline): n_docs is a doc_id-pruned count
    // (zero-token docs count here and nowhere else), total tokens
    // rolls up from tf. Literals keep idf and scoring pure map stages
    // instead of twice re-executing a stats subplan through crossJoins.
    val nDocs = corpus.count()
    val totalTokens = {
      val r = tf.agg(sum("tf")).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    Bm25State(tf, nDocs, avglenPpmOf(nDocs, totalTokens))
  }

  /** Mean document length in ppm, the BM25 length-normalization base:
    * ⌊total tokens · 10^6 / docs⌋, at least 1 so the tf-norm divide is
    * defined on an empty corpus.
    */
  private def avglenPpmOf(nDocs: Long, totalTokens: Long): Long =
    math.max(1L, if (nDocs == 0) 1L else totalTokens * 1000000L / nDocs)

  /** idf_bits = bitlen(⌊(2(N−df)+1)/(2df+1)⌋ + 1) over a `df` column
    * (see `bm25`) — the one Robertson-idf expression of the BM25
    * family and `tfidfHashed`, unaliased so it can sit inside a
    * product.
    */
  private def idfBits(nDocs: Long): Column =
    length(bin(expr(s"(2 * ($nDocs - df) + 1) div (2 * df + 1) + 1")))
      .cast("long")

  /** The BM25 scoring tail every pass ends in: each candidate row
    * (query_id, doc_id, tf, len_d) contributes `idf` × the exact-integer
    * tf-norm chain (see `bm25`), summed per (query, doc) into a LONG
    * score and ranked (score desc, doc_id asc) by a k-bounded heap.
    */
  private def bm25Rank(cand: DataFrame, idf: Column, avglenPpm: Long,
      k: Int): DataFrame = {
    val scored = cand
      .select(col("query_id"), col("doc_id"),
        (idf *
          expr(s"tf * (${Bm25K1pm} + 1000) * 1000 * 1000000 div " +
            s"(tf * 1000000 + ${Bm25K1pm} * (1000 - ${Bm25Bpm}) + " +
            s"${Bm25K1pm} * ${Bm25Bpm} * " +
            s"(len_d * 1000000000 div $avglenPpm) div 1000)"))
          .as("contrib"))
      .groupBy("query_id", "doc_id").agg(sum("contrib").as("score"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
        Seq(col("score").desc, col("doc_id").asc), k)
      .select("query_id", "rank", "doc_id", "score")
  }

  /** The distinct (query_id, token) relation of the query docs. */
  private[graft] def bm25QueryTerms(docs: DataFrame,
      nQueries: Long): DataFrame =
    docs.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"),
        explode(tokens(col("text"))).as("token"))
      .distinct()

  /** One BM25 scoring pass of `qterms` against the shared corpus
    * state — tf prefiltered by the broadcast term set, df only over
    * the query vocabulary, then `bm25Rank`.
    */
  private[graft] def bm25Score(c: Bm25State, qterms: DataFrame,
      k: Int): DataFrame = {
    // df is aggregated ONLY over the query vocabulary — tf is
    // prefiltered by the broadcast term set, so the df stage is bounded
    // by (docs containing a query term), never the full vocabulary;
    // terms absent from the corpus simply have no tf rows (score 0)
    val tfq = graft.Caches.track(
      c.tf.join(broadcast(qterms.select("token").distinct()), "token")
        .persist(StorageLevel.MEMORY_AND_DISK))
    val qidf = qterms.join(
      tfq.groupBy("token").agg(count(lit(1)).as("df"))
        .select(col("token"), idfBits(c.nDocs).as("idf_bits")),
      "token")
    bm25Rank(tfq.join(broadcast(qidf), "token"), col("idf_bits"),
      c.avglenPpm, k)
  }

  /** PRF geometry: feedback depth and expansion-term count. Same
    * constants MUST appear in the oracle SQL.
    */
  val PrfFeedbackDocs = 3
  val PrfExpansionTerms = 5

  /** BM25 with PSEUDO-RELEVANCE FEEDBACK (RM3-style query expansion,
    * Lavrenko & Croft 2001 simplified to exact integers): a first
    * BM25 pass retrieves each query's top-`fb` feedback docs; the
    * terms of those docs — MINUS the original query terms — are
    * ranked by Σtf(across the feedback docs) × idf_bits (true df) and
    * the top `ex` join the query; the second BM25 pass scores the
    * expanded term set with the exact same formula over the SAME
    * cached tf/stats. Expansion surfaces docs sharing vocabulary with
    * what the query RETRIEVES rather than what it SAYS — the recall
    * move every serious keyword tier ships.
    *
    * Scale shape: two scoring passes over the shared cached tf (each
    * the bm25 broadcast shape); between them, feedback docs are
    * queries × fb rows (broadcast) and candidate terms are bounded by
    * feedback-doc vocabulary — everything between the passes is
    * query-sized, never corpus-sized.
    */
  def bm25Prf(docs: DataFrame, k: Int = Bm25K,
      nQueries: Long = Bm25Queries, fb: Int = PrfFeedbackDocs,
      ex: Int = PrfExpansionTerms): DataFrame = {
    val c = bm25Corpus(docs, nQueries)
    prfPasses(bm25QueryTerms(docs, nQueries), k, fb, ex, c.nDocs, c.tf,
        _.groupBy("token").agg(count(lit(1)).as("df")))(
      bm25Score(c, _, _))
  }

  /** The PRF logic both forms share (`bm25Prf` over the cached corpus
    * tf, `bm25PrfFromIndex` over the stored index): `ex` = 0 is the
    * identity (one pass — the spec's collapse law; TopK's heap needs
    * k ≥ 1); otherwise a feedback pass of depth `fb`, the feedback
    * docs' terms from `pool` (rows carrying doc_id, token, tf) minus
    * the original query terms, ranked by Σtf × idf_bits — `dfOf` turns
    * the pool rows of the candidate vocabulary into (token, df) — and
    * the final pass over `qt` ∪ the top `ex` expansion terms.
    * `score(qterms, depth)` is the form's own scoring pass.
    */
  private def prfPasses(qt: DataFrame, k: Int, fb: Int, ex: Int,
      nDocs: Long, pool: DataFrame, dfOf: DataFrame => DataFrame)(
      score: (DataFrame, Int) => DataFrame): DataFrame =
    if (ex == 0) score(qt, k)
    else {
      val fbDocs = score(qt, fb).select(col("query_id"), col("doc_id"))
      val cand = pool.join(broadcast(fbDocs), "doc_id")
        .groupBy("query_id", "token").agg(sum("tf").as("fbtf"))
      val idf = dfOf(pool
          .join(broadcast(cand.select("token").distinct()), "token"))
        .select(col("token"), idfBits(nDocs).as("idf_bits"))
      val expansion = graft.plans.TopK.perKey(
          cand.join(broadcast(qt.withColumn("orig", lit(1L))),
              Seq("query_id", "token"), "left")
            .filter(col("orig").isNull)
            .join(broadcast(idf), "token")
            .select(col("query_id"), col("token"),
              (col("fbtf") * col("idf_bits")).as("w")),
          Seq("query_id"), Seq(col("w").desc, col("token").asc), ex)
        .select("query_id", "token")
      score(qt.unionByName(expansion).distinct(), k)
    }

  /** Memo (`bm25prf`) of the DEFAULT exact-PRF ranking —
    * the suite's two most expensive gates (`text_bm25_prf` and the
    * stored tier's honesty gate `text_bm25_prf_indexed_recall`) consume
    * the IDENTICAL corpus-bounded `bm25Prf(docs)` relation back to
    * back; before the memo each rebuilt it from scratch (~7 s apiece at
    * sf0.1). The artifact is nQueries × k rows (80 by default) —
    * tiny relative to its build, squarely inside the memo discipline
    * (contrast the reverted GraphOps memo whose artifact rivaled its
    * build). Checkpoint-backed so per-query `Caches.clear` can't
    * evict it; keyed by the canonicalized docs plan + every PRF
    * constant, so a stale reuse across corpora or parameters is
    * structurally impossible. `PlanMemo.hitsOf("bm25prf")` exists for
    * the reuse spec.
    */
  def bm25PrfShared(docs: DataFrame, k: Int = Bm25K,
      nQueries: Long = Bm25Queries, fb: Int = PrfFeedbackDocs,
      ex: Int = PrfExpansionTerms): DataFrame =
    graft.PlanMemo.getOrBuild(docs, s"bm25prf|$k|$nQueries|$fb|$ex") {
      org.apache.spark.sql.graft.ColumnBridge
        .statsFreeLocalCheckpoint(bm25Prf(docs, k, nQueries, fb, ex))
    }

  /** The memoized FULL-SCAN BM25 ranking — same economics as
    * `bm25PrfShared`: three suite consumers arrive back to back over
    * the same corpus (`text_bm25` itself, `search_hybrid`'s keyword
    * pool at pool depth, and `text_bm25_indexed_recall`'s exact truth
    * side), and each re-paid the corpus tokenize + tf shuffle. The
    * ranking is a queries×k relation — a few hundred rows — so the
    * checkpoint is ~free. The suite keys 2 depths (k, pool) × 2 sf
    * dirs of the `bm25` family.
    */
  def bm25Shared(docs: DataFrame, k: Int = Bm25K,
      nQueries: Long = Bm25Queries): DataFrame =
    graft.PlanMemo.getOrBuild(docs, s"bm25|$k|$nQueries") {
      org.apache.spark.sql.graft.ColumnBridge
        .statsFreeLocalCheckpoint(bm25(docs, k, nQueries))
    }

  /** The memoized STORED-INDEX serves — same economics one tier down:
    * `text_bm25_indexed` / `text_bm25_prf_indexed` and their recall
    * twins' approx sides each re-ran the identical serve over the
    * identical stored dirs (and `search_hybrid_indexed`'s keyword pool
    * is a third consumer at its own depth). One checkpoint-backed
    * ranking per (index plan, lens+queries plans, constants) serves
    * them all; lens and query-batch plans participate in the memo key
    * as canonicalized plan OBJECTS (PlanMemo's multi-input keying), so
    * all inputs share the structural-equality guarantee — no digest
    * collision can serve the wrong ranking.
    * The INCREMENTAL serve deliberately stays unmemoized: the delta
    * fold is that gate's measured operation, not a reusable artifact.
    * Tags: `bm25idx` and `prfidx`.
    */
  def bm25FromIndexShared(index: DataFrame, lens: DataFrame,
      queryDocs: DataFrame, k: Int = Bm25K,
      nQueries: Long = Bm25Queries): DataFrame =
    graft.PlanMemo.getOrBuild(index,
        s"bm25idx|$k|$nQueries", Seq(lens, queryDocs)) {
      org.apache.spark.sql.graft.ColumnBridge.statsFreeLocalCheckpoint(
        bm25FromIndex(index, lens, queryDocs, k, nQueries))
    }

  def bm25PrfFromIndexShared(index: DataFrame, lens: DataFrame,
      queryDocs: DataFrame, k: Int = Bm25K,
      nQueries: Long = Bm25Queries, fb: Int = PrfFeedbackDocs,
      ex: Int = PrfExpansionTerms): DataFrame =
    graft.PlanMemo.getOrBuild(index,
        s"prfidx|$k|$nQueries|$fb|$ex", Seq(lens, queryDocs)) {
      org.apache.spark.sql.graft.ColumnBridge.statsFreeLocalCheckpoint(
        bm25PrfFromIndex(index, lens, queryDocs, k, nQueries, fb, ex))
    }

  /** The FORWARD index next to the postings: `(doc_id, len_d)` —
    * each doc's token count under the shared tokenizer, the one
    * per-document statistic BM25's length normalization needs at
    * serve time. A retrieval tier persists this once at ingest (a
    * map-only projection; counter-appendable like the postings) so
    * serving never re-tokenizes the corpus.
    */
  def docLengths(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("len_d"))

  /** Posting depth for the BM25 SERVING index — deliberately deeper
    * than the `postings` GATE's display depth (`PostingsK` = 10, a
    * browsing artifact): a pruned retrieval index keeps hundreds of
    * postings per term so the dominant score contributions survive
    * (Carmel et al. keep enough to bound score error). Measured on
    * the sf0.01 recall gate: depth 10 → 0.04, 128 → 0.40, 256 →
    * 0.55 — the synthetic corpus has little idf structure (score
    * mass spreads across common terms), so pruning bites harder than
    * on natural text; 256 still halves every common term's list.
    * Same constant MUST appear in the oracle SQL.
    */
  val Bm25IndexDepth = 256

  /** BM25 SERVED ENTIRELY FROM THE STORED INDEX — the consumer the
    * `postingsIndex`/`postingsDelta` maintenance loop exists for: the
    * corpus is met ONLY through its persisted posting rows (`(token,
    * df, doc_id, tf)`) and forward index (`docLengths`); serving
    * re-tokenizes nothing but the ≤ `nQueries` query docs. Every
    * surviving (term, doc) posting is scored by `bm25`'s own
    * `bm25Rank` tail (df in the index is the true document
    * frequency even though lists are depth-capped); what the cap
    * costs is the PRUNED postings — a doc outside a term's top-k list
    * loses that term's contribution entirely, so a capped doc's score
    * is a partial (never larger, spec-pinned) sum of its full score.
    * That is static index pruning (Carmel et al., SIGIR 2001): the
    * recall gate prices it, and an index built with depth ≥ the max
    * df serves bit-identically to `bm25` (spec-pinned).
    *
    * Scale shape: candidates = broadcast query vocabulary ⋈ posting
    * rows (≤ query-vocab × depth rows — index-bounded, never
    * corpus-bounded); the corpus-sized forward index streams past a
    * BROADCAST of those candidates for len_d; the 1-row length stats
    * collect to literals (the bm25 discipline). One (query, doc)
    * aggregation and a k-bounded heap close it.
    */
  def bm25FromIndex(index: DataFrame, lens: DataFrame,
      queryDocs: DataFrame, k: Int = Bm25K,
      nQueries: Long = Bm25Queries): DataFrame = {
    val (nDocs, avglenPpm) = lensStats(lens)
    bm25ScoreFromIndex(index, lens, nDocs, avglenPpm,
      bm25QueryTerms(queryDocs, nQueries), k)
  }

  /** The 1-row forward-index stats collect both stored-index serves
    * share — the bm25 literal discipline (n_docs and avglen become
    * plan constants, never a re-executed stats subplan).
    */
  private def lensStats(lens: DataFrame): (Long, Long) = {
    val st = lens.agg(count(lit(1)).as("n"),
      coalesce(sum("len_d"), lit(0L)).as("t")).collect()(0)
    (st.getLong(0), avglenPpmOf(st.getLong(0), st.getLong(1)))
  }

  /** One index-bounded BM25 scoring pass — `bm25FromIndex` and both
    * `bm25PrfFromIndex` passes: candidates = broadcast query terms ⋈
    * posting rows (query-vocab × depth, never corpus-sized), len_d
    * streamed in from the forward index, idf from the stored df, then
    * the same `bm25Rank` tail as the full-scan `bm25Score`.
    */
  private def bm25ScoreFromIndex(index: DataFrame, lens: DataFrame,
      nDocs: Long, avglenPpm: Long, qterms: DataFrame,
      k: Int): DataFrame = {
    val cand = index.select(col("token"), col("df"), col("doc_id"),
        col("tf"))
      .join(broadcast(qterms), "token")
    bm25Rank(lens.join(broadcast(cand), "doc_id"), idfBits(nDocs),
      avglenPpm, k)
  }

  /** PSEUDO-RELEVANCE FEEDBACK SERVED ENTIRELY FROM THE STORED INDEX
    * — the production PRF shape: BOTH scoring passes and the
    * between-pass expansion run against the persisted posting rows
    * and forward index; corpus text is never read (only the ≤
    * `nQueries` query docs tokenize). The feedback-doc term pool is
    * the index rows that RETAINED each feedback doc (`index ⋈
    * broadcast(fbDocs)` — an index-bounded scan; a term whose
    * depth-capped list pruned the doc contributes nothing, the same
    * static-pruning semantics every capped contribution has), and
    * expansion idf comes from the STORED per-row true df — no df
    * recount anywhere. The passes and the expansion ranking are
    * `bm25Prf`'s own `prfPasses` over this pool, so with depth ≥ max df
    * this serves bit-identically to `bm25Prf` (the uncapped-index
    * law, spec-pinned); at production depth the oracle applies the
    * same cap.
    *
    * Scale shape: everything between the passes is query-bounded
    * (feedback docs = queries × fb broadcast, candidate terms ≤ the
    * feedback docs' retained vocabulary); each pass is the
    * `bm25FromIndex` broadcast shape. The forward index is the only
    * corpus-sized relation touched, and only ever as the stream side
    * of a broadcast join.
    */
  def bm25PrfFromIndex(index: DataFrame, lens: DataFrame,
      queryDocs: DataFrame, k: Int = Bm25K,
      nQueries: Long = Bm25Queries, fb: Int = PrfFeedbackDocs,
      ex: Int = PrfExpansionTerms): DataFrame = {
    val (nDocs, avglenPpm) = lensStats(lens)
    // stored true df → idf: every posting row repeats its term's df
    prfPasses(bm25QueryTerms(queryDocs, nQueries), k, fb, ex, nDocs, index,
        _.groupBy("token").agg(first("df").as("df")))(
      bm25ScoreFromIndex(index, lens, nDocs, avglenPpm, _, _))
  }

  /** DATASET MANIFEST over the curated corpus — the "dataset card"
    * summary a governance review (or a mixture designer) reads before
    * training: per (source, split) of the `curation` output, the doc
    * count, total token budget, and the keep-rate evidence
    * (sum/integer-mean of the quality-derived `keep_ppm` — the audit
    * trail of how hard sampling thinned each source). All integer
    * (the float-parity rule); one doc-keyed join + one
    * (source, split)-keyed aggregation on top of the already-gated
    * pipeline, so at 100 TB the manifest costs one extra pass over
    * the curated ids. Accepts the same optional precomputed cluster
    * relation as `curation`.
    */
  def datasetManifest(docs: DataFrame,
      clusters: Option[DataFrame] = None): DataFrame =
    clusters.map(cl => curation(docs, Some(cl)))
      .getOrElse(curationShared(docs))
      .join(docs.select(col("doc_id"), col("source"),
        token_count(col("text")).cast("long").as("nt")), "doc_id")
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum("nt").as("total_tokens"),
        sum("keep_ppm").as("sum_keep_ppm"),
        expr("sum(keep_ppm) div count(1)").as("mean_keep_ppm"))

  /** Merge-round budget for the BPE trainer gate. Same constant MUST
    * appear in the oracle SQL (which unrolls exactly this many rounds).
    */
  val BpeTrainRounds = 6

  /** BPE tokenizer TRAINING — the actual merge loop, not just the
    * pair-counting kernel (`bpePairCounts`): `rounds` iterations of
    * count-pairs → pick the argmax pair (count desc, then (a, b) asc)
    * → apply the merge greedily left-to-right to every vocabulary
    * word. Output is the merge table (merge_rank, a, b, n) — the
    * artifact a tokenizer ships.
    *
    * Symbol sequences are strings with DOUBLE-space boundaries and
    * single sentinel spaces (" a  b  c "), legal because tokens are
    * \S+ — so applying a merge is ONE non-regex
    * `replace(s, " a  b ", " ab ")` whose left-to-right scan IS greedy
    * BPE application, with identical semantics in Spark and DuckDB
    * (the oracle unrolls the same replace). The double boundary is
    * load-bearing: each match consumes one of the two spaces on each
    * side, so CONSECUTIVE merge sites (" a  b  a  b ") still both
    * match — a single-space layout consumes the shared boundary and
    * silently under-merges (the recorded counterexample).
    *
    * Scale: everything after the one corpus-sized token count runs on
    * the DISTINCT-word vocabulary (persisted once); each round is a
    * vocabulary-sized pair explode + count, a driver-bounded 1-row
    * argmax collect (exactly the IVF-centroid discipline), and a lazy
    * per-word string replace — R driver round trips, vocab-bounded
    * work, the corpus is never rescanned. Exhaustion (every word down
    * to one symbol before `rounds`) ends the loop early and emits the
    * merges found — the oracle's empty-argmax rounds degrade to the
    * same shorter table.
    */
  def bpeTrain(docs: DataFrame, rounds: Int = BpeTrainRounds,
      onRound: (Int, Double) => Unit = (_, _) => ()): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeCore(docs, rounds, onRound)._1.toDF("merge_rank", "a", "b", "n")
  }

  /** Apply the trained merges back to the corpus — the ENCODE step: per
    * doc, token count and post-merge subword count (the statistic
    * sequence-length planning and compression monitoring read). The
    * merges are applied once to the DISTINCT-word vocabulary (the
    * trainer's own final state, word column preserved); the corpus pass
    * is just a token→encoded-vocab hash join — no per-document string
    * work, so encode costs one corpus-token shuffle regardless of
    * rounds. Zero-token docs report (0, 0): total function.
    */
  def bpeEncode(docs: DataFrame, rounds: Int = BpeTrainRounds): DataFrame =
    encodeWithState(docs, bpeCore(docs, rounds)._2)

  /** The shared encode tail: per doc, token count and post-merge
    * subword count from a final vocabulary state `(word, s)`.
    */
  private def encodeWithState(docs: DataFrame,
      state: DataFrame): DataFrame = {
    val enc = state
      .select(col("word"),
        size(split(trim(col("s")), "  ")).cast("long").as("n_sub"))
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .join(enc, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("n_sub").as("n_subwords"))
      .join(docs.select(col("doc_id")), Seq("doc_id"), "right")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_subwords"), lit(0L)).as("n_subwords"))
  }

  /** ENCODE FROM STORED MERGES — the serve leg of the BPE train-once
    * contract (`bpeTrain` IS the export: its `(merge_rank, a, b, n)`
    * relation is the artifact a tokenizer ships): collect the ≤ 256
    * merge rows (rank-contiguity enforced loudly — a hole means a
    * corrupted export, not a shorter table), rebuild the vocabulary
    * state by replaying the merges in rank order over the corpus's
    * distinct-word vocabulary, and run the shared encode tail.
    * Byte-identical to `bpeEncode(docs, rounds)` when the merges came
    * from `bpeTrain(docs, rounds)` (the same replace chain in the
    * same order — spec-pinned), but with ZERO training jobs: no
    * per-round pair count, no argmax collect — serving cost is one
    * vocabulary pass + the lazy replace chain + one corpus-token
    * join, regardless of how many rounds the training ran. Exactly
    * the stored-IVF/postings economics, on the tokenizer artifact.
    */
  def bpeEncodeFromStored(merges: DataFrame, docs: DataFrame): DataFrame = {
    val rows = merges.select(col("merge_rank"), col("a"), col("b"))
      .collect().sortBy(_.getLong(0))
    require(rows.length <= 256,
      s"stored merge table has ${rows.length} rows — bpeTrain caps " +
        "rounds at 256; is this really a merge table?")
    rows.map(_.getLong(0)).zipWithIndex.foreach { case (r, i) =>
      require(r == i + 1L,
        s"stored merge table must carry contiguous ranks 1..n " +
          s"(bpeTrain's layout); found rank $r at position $i")
    }
    def esc(t: String) = t.replace("\\", "\\\\").replace("'", "\\'")
    var cur = docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"), concat(lit(" "),
        concat_ws("  ", expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))")),
        lit(" ")).as("s"))
    rows.foreach { r =>
      val (a, b) = (r.getString(1), r.getString(2))
      cur = cur.select(col("word"), col("freq"),
        expr(s"replace(s, ' ${esc(a)}  ${esc(b)} ', ' ${esc(a)}${esc(b)} ')")
          .as("s"))
    }
    encodeWithState(docs, cur)
  }

  /** The shared trainer core: returns the merge table AND the final
    * vocabulary state (word, freq, s) the encode step reads.
    * `onRound(r, secs)` fires after each completed merge round — the
    * per-round-latency probe the deep rehearsal tier records (each
    * round is one vocabulary-sized pair count + a 1-row argmax
    * collect, so the per-round cost IS the driver-loop price of real
    * vocabulary depths).
    */
  private def bpeCore(docs: DataFrame, rounds: Int,
      onRound: (Int, Double) => Unit = (_, _) => ())
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    require(rounds >= 1 && rounds <= 256,
      s"rounds must be in [1, 256], got $rounds")
    val vocab0 = graft.Caches.track(docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(col("word"), col("freq"), concat(lit(" "),
        concat_ws("  ", expr(
          "transform(sequence(1, length(word)), i -> substring(word, i, 1))")),
        lit(" ")).as("s"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    // RIGHT-SIZE the loop's base cache to the measured vocabulary (the
    // hopDistances discipline): every round rescans this relation, and
    // a tiny vocab cached at the session's 32 shuffle partitions pays
    // 32 task launches per round for microseconds of work each
    val nWords = vocab0.count()
    val parts = math.max(1L, nWords / 32768L)
    val vocab =
      if (nWords < 131072L && parts < vocab0.rdd.getNumPartitions) {
        val small = graft.Caches.track(vocab0.coalesce(parts.toInt)
          .persist(StorageLevel.MEMORY_AND_DISK))
        small.count()
        vocab0.unpersist(blocking = false)
        small
      } else vocab0
    def esc(t: String) = t.replace("\\", "\\\\").replace("'", "\\'")
    var cur = vocab
    val merges = scala.collection.mutable.ListBuffer[(Long, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val t0 = System.nanoTime()
      val best = cur
        .select(col("freq"), split(trim(col("s")), "  ").as("tk"))
        .filter(size(col("tk")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(tk) - 1), " +
            "i -> struct(element_at(tk, i) AS a, element_at(tk, i + 1) AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, n) = (best(0).getString(0), best(0).getString(1),
          best(0).getLong(2))
        merges += ((r.toLong, a, b, n))
        cur = cur.select(col("word"), col("freq"),
          expr(s"replace(s, ' ${esc(a)}  ${esc(b)} ', ' ${esc(a)}${esc(b)} ')")
            .as("s"))
        onRound(r, (System.nanoTime() - t0) / 1e9)
        r += 1
      }
    }
    (merges.toSeq, cur)
  }

  /** Estimated pairwise vocabulary overlap between sources via HLL
    * set algebra — the bounded-state twin of `sourceVocabOverlap`
    * (which is exact but shuffles real token sets). One corpus pass
    * builds a per-source bucket-max sketch; a pair's union sketch is
    * the bucket-wise MAX of the two (merge = max, exact — not an
    * approximation on top of an approximation), and the intersection
    * estimate is inclusion-exclusion est_a + est_b − est_union (may go
    * ≤ 0 at sketch error scale — reported as-is; the consumer
    * thresholds). All counter state is integer; the three estimates
    * are each ONE fixed-order float expression per row (float-parity
    * rule), sharing `hllFinalize` with every other HLL gate.
    *
    * Scale: state is ≤ m counters per source regardless of corpus
    * size; the pair stage is (sources² / 2) · m slim integer rows —
    * quadratic in SOURCES like any pairwise governance matrix, never
    * in tokens or documents.
    */
  def sourceOverlapHll(docs: DataFrame): DataFrame = {
    val m = HllBuckets
    val cap = HllCap
    val mx = graft.Caches.track(hllBucketMax(
        docs.select(col("source"), explode(tokens(col("text"))).as("token")),
        Seq("source"), col("token"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val per = hllFinalize(mx, Seq("source"))
    val srcs = mx.select(col("source")).distinct()
    val pairs = srcs.select(col("source").as("src_a"))
      .join(srcs.select(col("source").as("src_b")), col("src_a") < col("src_b"))
    // union-sketch algebra WITHOUT materializing pairs×buckets
    // (round 21, §2.3/§2.4): bucket-wise
    // 2^(cap−mr_a) + 2^(cap−mr_b) − 2^(cap−max(mr_a,mr_b)) =
    // 2^(cap−min(mr_a,mr_b)), so the union sketch's harmonic sum is
    // sp_a + sp_b − Σ_{common buckets} 2^(cap−min) and its non-zero
    // bucket count is nz_a + nz_b − |common| — ONE bucket-keyed
    // self-join of the sketch relation + one pair-keyed aggregation
    // replaces the former two pair⋈sketch joins, their union, and the
    // (pairs × buckets)-sized groupBy-MAX. Exact integer algebra: the
    // merged harmonic_scaled is the identical integer, so the one
    // float estimate (same fixed-order expression as hllFinalize) is
    // bit-identical.
    val both = mx.as("a").join(mx.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.source") < col("b.source"))
      .select(col("a.source").as("src_a"), col("b.source").as("src_b"),
        expr(s"shiftleft(1L, $cap - least(a.mr, b.mr))").as("spmin"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_both"), sum("spmin").as("sp_min"))
    // per-source integer pieces (nz, sp) recovered from the finalize
    // contract: nz = m − n_empty, sp = harmonic_scaled − n_empty·2^cap
    val piece = per.select(col("source"),
      (lit(m.toLong) - col("n_empty")).as("nz"),
      (col("harmonic_scaled") -
        col("n_empty") * shiftleft(lit(1L), cap)).as("sp"),
      col("est_raw"))
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(m.toDouble))
    pairs
      .join(piece.select(col("source").as("src_a"), col("nz").as("nz_a"),
        col("sp").as("sp_a"), col("est_raw").as("est_a")), "src_a")
      .join(piece.select(col("source").as("src_b"), col("nz").as("nz_b"),
        col("sp").as("sp_b"), col("est_raw").as("est_b")), "src_b")
      .join(both, Seq("src_a", "src_b"), "left")
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        ((col("sp_a") + col("sp_b") - coalesce(col("sp_min"), lit(0L))) +
          (lit(m.toLong) -
            (col("nz_a") + col("nz_b") - coalesce(col("n_both"), lit(0L)))) *
            shiftleft(lit(1L), cap)).as("hs_union"))
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        (alpha * lit((m.toLong * m).toDouble) * lit(math.pow(2.0, cap)) /
          col("hs_union").cast("double")).as("est_union"))
      .select(col("src_a"), col("src_b"), col("est_a"), col("est_b"),
        col("est_union"),
        (col("est_a") + col("est_b") - col("est_union")).as("est_overlap"))
  }

  /** Feature-hashing dimensionality for `tfidfHashed`. Same constant
    * MUST appear in the oracle SQL.
    */
  val TfidfDims = 512

  /** HASHED TF-IDF document vectors — the feature-hashing trick
    * (Weinberger et al., "Feature hashing for large scale multitask
    * learning", ICML 2009): each token maps to dimension
    * `poly_hash(token) mod dims` with a ±1 sign from a second hash
    * (the unbiasedness device), and its weight is tf · idf_bits with
    * the SAME exact-integer Robertson idf the BM25 family uses
    * (bitlen via `length(bin(x))` — identical in both engines, no
    * float logs). Output is the sparse triple form (doc_id, dim, w)
    * with exact-zero collision cancellations dropped — the natural
    * input to a linear quality classifier or the DSIR-style
    * importance reweighting at corpus scale.
    *
    * Shape at scale: ONE corpus-sized (doc_id, token) shuffle for tf —
    * keyed by TOKEN (round 21): hash(token) satisfies the tf
    * aggregation's ClusteredDistribution(doc_id, token) because the
    * partitioning keys are a subset of the grouping keys, and it ALSO
    * satisfies the idf rollup's token distribution and the scoring
    * join's token key — so the df/idf aggregation and the tf ⋈ idf
    * join both run exchange-free on top of the same shuffle, where
    * the old (doc_id, token)-keyed form paid a second corpus-token
    * exchange to re-key the join and re-derived the explode for the
    * idf branch (ReuseExchange now shares one explode pass). The
    * repartition ALSO fixes the low-split trap: a one-file corpus
    * scan is one map task, and a map-side partial count over
    * mostly-distinct (doc_id, token) keys built a corpus-sized hash
    * table single-threadedly — post-exchange the count runs across
    * every reduce slot (the dedup_spans round-21 finding). A hot
    * token still replicates only a single idf row (no skew funnel);
    * the final (doc_id, dim)-keyed aggregation is capped at
    * docs × dims. N_docs is read once as a driver literal (1-row, the
    * bm25 literal-stats device).
    */
  def tfidfHashed(docs: DataFrame, dims: Int = TfidfDims): DataFrame = {
    require(dims >= 2 && dims <= (1 << 20),
      s"dims must be in [2, 2^20], got $dims")
    val nDocs = docs.count()
    val tf = termFreq(docs, _.repartition(col("token")))
    val idf = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .select(col("token"), idfBits(nDocs).as("idf_bits"))
    import graft.functions.PolyHashFunctions.{poly_hash, poly_hash2}
    tf.join(idf, "token")
      .select(col("doc_id"),
        pmod(poly_hash(col("token")), lit(dims.toLong)).as("dim"),
        ((lit(1L) - lit(2L) * pmod(poly_hash2(col("token")), lit(2L))) *
          col("tf") * col("idf_bits")).as("w"))
      .groupBy("doc_id", "dim").agg(sum("w").as("w"))
      .filter(col("w") =!= 0L)
  }
}
