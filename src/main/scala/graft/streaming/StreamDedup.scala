package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming exact deduplication over a documents stream — the
  * ingest-time half of the dedup family (the batch half lives in
  * operators.Dedup): drop every arriving document whose content was
  * already seen, so downstream near-dup/cluster stages only ever see
  * one copy per distinct text.
  *
  * State design mirrors the batch collision story (Dedup.exact): the
  * dedup key is the (hash1, hash2, length) triple — 24 bytes of state
  * per distinct document, never the text itself, with per-pair
  * collision odds ~1e-18. Two variants:
  *
  *   - `exactStreaming`: `dropDuplicates` on the key — state grows with
  *     distinct documents and lives forever (exact global dedup; the
  *     state store holds only the 24-byte keys).
  *   - `exactStreamingWindowed`: `dropDuplicatesWithinWatermark` —
  *     state is bounded by the watermark horizon: duplicates arriving
  *     within `horizon` of each other collapse; a copy arriving later
  *     may pass (the standard bounded-state trade for 24/7 ingest).
  */
object StreamDedup {

  /** Content-key projection shared by both variants (and usable in
    * batch for parity tests): the original columns + the dedup triple
    * (`Dedup.contentKey`).
    */
  def withContentKey(docs: DataFrame): DataFrame =
    docs.select(col("*") +: Dedup.contentKey: _*)

  /** Exact streaming dedup, unbounded horizon: first arrival of each
    * distinct content wins (micro-batch arrival order decides "first" —
    * within a micro-batch Spark keeps one arbitrary row, exactly like
    * the batch `min(doc_id)` keeps one deterministic survivor).
    */
  def exactStreaming(docs: DataFrame): DataFrame =
    withContentKey(docs).dropDuplicates(Dedup.ContentKey)

  /** Exact streaming dedup with watermark-bounded state: `tsCol` must
    * be an event-time column; duplicates separated by more than
    * `horizon` MAY both survive — that is the explicit contract of
    * bounded state.
    */
  def exactStreamingWindowed(docs: DataFrame, tsCol: String,
      horizon: String = "1 hour"): DataFrame =
    withContentKey(docs)
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(Dedup.ContentKey)

  /** MinHash-LSH band keys per document: (doc_id, ts, band_idx,
    * band_sig) — the same `LshBands`×`LshRows` banding (and the same
    * band-signature text) the batch `Dedup.minhashLsh` buckets on.
    * Documents too short to shingle get a per-doc "uniq:<id>" key in
    * every band: they collide with nothing, so they always pass the
    * near-dup filter (an empty doc is nobody's near-duplicate).
    * Shared by the streaming operator and its batch twin so the two
    * can never drift.
    */
  private[graft] def bandKeys(docs: DataFrame, tsCol: String): DataFrame = {
    val uniqArr = array(Seq.fill(Dedup.LshBands)(
      concat(lit("uniq:"), col("doc_id").cast("string"))): _*)
    docs.select(col("doc_id"), col(tsCol).as("ts"), Dedup.minhashSig.as("sig"))
      .select(col("doc_id"), col("ts"),
        posexplode(when(col("sig").isNotNull, Dedup.bandSigs(col("sig")))
          .otherwise(uniqArr)).as(Seq("band_idx", "band_sig")))
  }

  /** Streaming NEAR-dup filter: a document is emitted iff ALL of its
    * LSH band signatures are fresh within the watermark horizon —
    * i.e. it is not an LSH candidate-pair of ANY earlier-arriving
    * document (kept or dropped; candidate chains collapse to their
    * first arrival). Two chained append-mode stateful stages:
    * `dropDuplicatesWithinWatermark` on (band_idx, band_sig) keeps
    * each band key's first claimant — state is one ~40-byte band key
    * per distinct signature, never shingle sets or text — and a
    * windowed per-doc count then passes exactly the docs that kept
    * all `LshBands` rows. Emission waits for the window to close
    * (watermark > window end), the standard append-mode latency.
    *
    * CANDIDATE-level semantics, deliberately: the batch pipeline
    * verifies candidates with the exact Jaccard, but verification
    * needs both docs' shingle sets — unbounded state. At ingest time
    * the LSH false-positive rate (a dissimilar doc sharing one band)
    * is the accepted price of bounded state; tune it with more rows
    * per band. Within one micro-batch, same-band arrival order is
    * nondeterministic (Spark keeps an arbitrary claimant) — feed
    * conflicting docs in separate micro-batches where ordering
    * matters. Batch twin: `nearDupArrivalBatch`.
    */
  def nearDupStreaming(docs: DataFrame, tsCol: String,
      horizon: String = "1 hour", windowDur: String = "1 minute"): DataFrame =
    bandKeys(docs, tsCol)
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark(Seq("band_idx", "band_sig"))
      .groupBy(window(col("ts"), windowDur), col("doc_id"))
      .agg(count(lit(1)).as("n_fresh_bands"))
      .filter(col("n_fresh_bands") === Dedup.LshBands)
      .select(col("doc_id"), col("window.start").as("win_start"))

  /** INCREMENTAL near-dup admission — the realistic dedup mode at
    * corpus scale, where the ingested corpus is never re-deduplicated
    * and each fresh batch is admitted against it: returns the docs of
    * `fresh` none of whose LSH band keys appear on ANY corpus doc or
    * on an earlier fresh doc (earlier = doc_id order, the tie-break a
    * one-doc-per-micro-batch stream resolves to). Corpus docs claim
    * their bands unconditionally — a fresh doc colliding with corpus
    * content is dropped even when that corpus doc was itself a
    * duplicate (candidate chains collapse to first ingestion, exactly
    * like `nearDupStreaming`).
    *
    * Implemented as `nearDupArrivalBatch`'s first-claimant election
    * with a two-epoch arrival stamp, so the scale shape is unchanged:
    * one text scan over the union, band-key-sized shuffles, no
    * partition ever holds more than a dup-cluster of band rows.
    *
    * This overload RE-SIGNATURES the corpus text on every batch — fine
    * for backfills; a production ingest loop should persist
    * `bandKeysOf(batch)` once at ingest time and admit each batch
    * with `nearDupIncrementalKeys`, which consumes the stored keys
    * and scans only the fresh batch's text.
    *
    * PRECONDITIONS: `corpus` and `fresh` doc_id sets are disjoint,
    * and ids are unique within each (see `nearDupArrivalBatch`).
    * `corpus` must be every doc EVER INGESTED — admitted or rejected
    * — not just the surviving set (see `bandKeysOf` for why).
    */
  def nearDupIncremental(corpus: DataFrame, fresh: DataFrame): DataFrame = {
    val tagged = corpus
      .select(col("doc_id"), col("text"), lit(0L).as("arrival"))
      .unionByName(fresh
        .select(col("doc_id"), col("text"), lit(1L).as("arrival")))
    // the election returns every all-bands-won doc across both epochs;
    // the ids-only semi-join keeps the fresh side (broadcast-sized
    // whenever the batch is, and never wider than ids)
    electAllWon(bandKeys(tagged, "arrival"))
      .join(fresh.select("doc_id"), Seq("doc_id"), "left_semi")
  }

  /** The ingest-time export for `nearDupIncrementalKeys`: one
    * (doc_id, band_idx, band_sig, lsh_params_fp) row per LSH band of
    * each document — ~40 B/band × `LshBands` per doc, the ONLY state
    * incremental admission ever needs about the corpus.
    *
    * THE PRODUCTION LOOP appends `bandKeysOf(batch)` — the WHOLE
    * fresh batch, admitted AND rejected docs — after each admission,
    * and the corpus text is never re-scanned by dedup again.
    * Persisting every ingested doc's keys (not just the admitted
    * set's) is a deliberate semantic choice: it makes chained
    * admission equal the one-shot `nearDupArrivalBatch` election over
    * the full stream regardless of how the stream was cut into
    * batches, and equal to what `nearDupStreaming`'s state store does
    * (`dropDuplicatesWithinWatermark` retains a band's first claimant
    * whether or not that doc was emitted). Candidate CHAINS then
    * collapse to their first arrival: if B was rejected as a near-dup
    * of A, a later C colliding only with B is still rejected.
    * Appending only admitted keys would instead admit C — a
    * greedy "corpus-consistent" semantics that is smaller state but
    * makes the admitted set depend on batch boundaries; the
    * divergence is pinned in tests so the choice stays visible.
    *
    * Band signatures are the exact text `bandKeys` (and so the
    * batch/streaming operators) compute, so persisted keys
    * interoperate across graft versions AS LONG AS the LSH constants
    * are unchanged — `lsh_params_fp` stamps the constants'
    * fingerprint on every row, and `nearDupIncrementalKeys` fails
    * loudly when stored keys were produced under different constants
    * (silently non-matching keys would weaken the filter to a no-op).
    */
  def bandKeysOf(docs: DataFrame): DataFrame =
    bandKeys(docs.withColumn("__graft_ts", lit(0L)), "__graft_ts")
      .select(col("doc_id"), col("band_idx"), col("band_sig"),
        lit(Dedup.LshParamsFingerprint).as("lsh_params_fp"))

  /** Incremental near-dup admission over PRE-COMPUTED corpus band keys
    * — the 100 TB deployment form of `nearDupIncremental`: identical
    * results (property-pinned in tests), but the corpus side is the
    * stored `(doc_id, band_idx, band_sig)` relation from `bandKeysOf`,
    * so each admission cycle shingles and minhashes ONLY the fresh
    * batch's text. Per-batch cost is then
    * O(|fresh| + |corpus band keys touched|) I/O instead of a
    * full-corpus text scan — with bucketed/partitioned key storage the
    * scan side is a pure columnar read of three narrow columns.
    *
    * PRECONDITIONS: `corpusKeys` doc_ids are disjoint from `fresh`'s,
    * `fresh` ids are unique, and `corpusKeys` holds EVERY band row of
    * every doc ever ingested — admitted or rejected, exactly what
    * appending `bandKeysOf(batch)` per batch accumulates (dropping
    * rows, or persisting only admitted docs' keys, changes which
    * candidate chains collapse — see `bandKeysOf`).
    *
    * When `corpusKeys` carries the `lsh_params_fp` column `bandKeysOf`
    * emits, every row is checked against the current constants by
    * `Stamps.stampGuard` — a mismatch (keys persisted by a build with
    * different LSH parameters) raises rather than silently admitting
    * near-dups. The
    * check is a constant comparison inside the existing projection:
    * no extra scan, no measurable cost. A bare 3-column relation
    * (pre-fingerprint persists) skips the check.
    */
  def nearDupIncrementalKeys(corpusKeys: DataFrame, fresh: DataFrame): DataFrame = {
    val fp = Dedup.LshParamsFingerprint
    val sigChecked =
      if (!corpusKeys.columns.contains("lsh_params_fp")) col("band_sig")
      else graft.operators.Stamps.stampGuard(col("band_sig"),
        "lsh_params_fp", fp, "stored band keys were produced under " +
          "different LSH parameters; re-export bandKeysOf with this build")
    val ck = corpusKeys.select(col("doc_id"), lit(0L).as("ts"),
      col("band_idx"), sigChecked.as("band_sig"))
    val fk = bandKeys(fresh.withColumn("__graft_ts", lit(1L)), "__graft_ts")
    electAllWon(ck.unionByName(fk))
      .join(fresh.select("doc_id"), Seq("doc_id"), "left_semi")
  }

  /** Ingest-time export for EXACT incremental admission: the 24-byte
    * content-key triple per doc (same collision story as
    * `withContentKey`). Unlike the near-dup band keys, persisting
    * ADMITTED docs' keys suffices here: exact duplication is
    * transitive — a rejected doc's triple EQUALS some stored doc's
    * triple, so any future doc colliding with the rejected one
    * collides with the stored one too. The relation can therefore
    * stay one row per distinct content ever admitted, and
    * `exactIncrementalKeys` is batch-cut-invariant either way
    * (pinned in tests). Contrast `bandKeysOf`, where near-dup
    * similarity is NOT transitive and all ingested docs' keys must
    * persist.
    */
  def exactKeysOf(docs: DataFrame): DataFrame =
    withContentKey(docs).select("doc_id", Dedup.ContentKey: _*)

  /** EXACT incremental admission over stored content keys — the
    * ingest-time form of `Dedup.exact` for a corpus that is never
    * re-deduplicated: returns the docs of `fresh` whose content
    * triple appears on no stored key, keeping the min-doc_id
    * claimant per triple within the batch (the tie-break a
    * one-doc-per-micro-batch stream resolves to; same rule as
    * `Dedup.exact`'s survivor election).
    *
    * Scale shape: the fresh batch's text is hashed in one map stage
    * (never shuffled); the anti-join and the in-batch election move
    * 24-byte triples + ids only. The corpus side is a pure 3-column
    * columnar read — bucket or sort the stored relation by
    * `fingerprint` so the join co-locates without shuffling the
    * corpus keys (the same layout note as the band-key relation;
    * see COVERAGE.md). PRECONDITIONS: corpus/fresh doc_ids disjoint,
    * `fresh` ids unique.
    */
  def exactIncrementalKeys(corpusKeys: DataFrame, fresh: DataFrame): DataFrame =
    withContentKey(fresh)
      .join(corpusKeys.select(Dedup.ContentKey.map(col): _*), Dedup.ContentKey,
        "left_anti")
      .groupBy(Dedup.ContentKey.map(col): _*)
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))

  /** Batch twin of `nearDupStreaming` (parity tests, backfills):
    * survivors are the docs none of whose band keys appear on any
    * earlier doc, "earlier" = (ts, doc_id) lexicographic — the order
    * a stream fed one-doc-per-micro-batch in ts order resolves to.
    *
    * Shape: a window-min over each band key finds its first claimant
    * (exactly `dropDuplicatesWithinWatermark`'s keep rule with an
    * unbounded horizon), then a per-doc ALL-bands-won aggregate. One
    * shingle+minhash pass and two key shuffles — the earlier
    * formulation self-joined `bandKeys` against itself, which
    * recomputed the full minhash pipeline for both sides and shuffled
    * a band-key equi-join plus distinct plus anti-join; at corpus
    * scale the window form moves strictly fewer bytes and reads the
    * text once. Band-key groups are dup-cluster sized, so the window
    * partition never concentrates the corpus on one task.
    *
    * PRECONDITIONS (matching what a stream can actually carry):
    * `tsCol` must be non-null on every row — a streaming source
    * cannot watermark a null event time, and here a null would sort
    * FIRST in the `min(struct(ts, doc_id))` claimant election,
    * claiming bands and eliminating non-null-ts docs (the old
    * anti-join form made null-ts rows inert instead). `doc_id` must
    * be unique — duplicate input rows for one doc_id are collapsed
    * by the per-doc aggregate, where the old form passed them
    * through. Enforce upstream; neither holds for free on raw batch
    * tables.
    */
  def nearDupArrivalBatch(docs: DataFrame, tsCol: String): DataFrame =
    electAllWon(bandKeys(docs, tsCol))

  /** The first-claimant election shared by every batch/incremental
    * variant — including the EMBEDDING twin in
    * `Similarity.nearDupIncrementalVec`: over a (doc_id, ts,
    * band_idx, band_sig) relation, a doc survives iff it is the
    * (ts, doc_id)-minimal claimant of ALL its band keys. Shuffles
    * band keys then ids — never text (or vectors).
    */
  private[graft] def electAllWon(b: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstClaim = min(struct(col("ts"), col("doc_id")))
      .over(Window.partitionBy(col("band_idx"), col("band_sig")))
    b.withColumn("won",
        struct(col("ts"), col("doc_id")) === firstClaim)
      .groupBy(col("doc_id"))
      .agg(min(col("won")).as("all_won"))
      .filter(col("all_won"))
      .select(col("doc_id"))
  }
}
