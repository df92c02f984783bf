package graft.operators

import graft.functions.PolyHashFunctions.hashPrefix
import graft.functions.VectorFunctions._
import graft.operators.Stamps.stampGuard
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Similarity search over the `embeddings` table (vec_id,
  * embedding: Array[Float], label).
  *
  * Three paths, mirroring how ANN is deployed:
  *   - `knnBrute`: exact cosine top-k — the small-query-set baseline.
  *     The query side is broadcast (a handful of vectors), so the big
  *     side streams through one map stage: no shuffle of the corpus.
  *   - `knnLsh`: BANDED random-hyperplane LSH — the scale path.
  *     Signatures are one map stage; candidates are pairs agreeing on
  *     at least one of `bands` bit-bands of the signature (the same
  *     band trick MinHash-LSH uses), so recall is 1−(1−p^b)^L instead
  *     of the p^bits cliff of a single full-signature bucket, while
  *     bucket size stays N/2^bandBits per band.
  *   - `nearDupPairs`: embedding-cosine near-duplicate pairs via the
  *     same banded buckets; candidates verified with the exact cosine.
  *
  * Scale knobs: `bandBits` decides bucket granularity (buckets =
  * 2^bandBits per band). The DEFAULT is corpus-adaptive: pass
  * `AdaptiveBandBits` (0) and the operator sizes the width from the
  * corpus count via `bandBitsFor(n)` so bucket occupancy N/2^bandBits —
  * and with it the bucket-internal candidate join — stays bounded as N
  * grows. Bands stay fixed (recall depends on them, not on N).
  *
  * SIGNATURE LAYOUT (fixed, independent of the adaptive width): 4 bands
  * × `LshBandStride` = 15 planes each, 60 planes total. Band j occupies
  * signature bits [15j, 15j+15); an adaptive width b ≤ 15 uses the LOW
  * b bits of each band. Fixing the layout while varying only the mask
  * keeps the (static) SQL oracle reproducible: the oracle computes the
  * same 60-plane signature text and derives b from COUNT(*) at query
  * time, instead of needing a differently-shaped signature per corpus
  * size. Cost: at the 8-bit floor, 7 of each band's 15 planes go
  * unused (~2× signature compute vs a minimal 32-plane layout) — a
  * per-row map-stage cost that buys bounded bucket sizes at every N
  * with zero plan-shape change.
  */
object Similarity {

  val DefaultK = 5
  val DefaultQueries = 10L

  /** Banded-LSH geometry: 4 bands × 15-plane stride = one 60-plane
    * signature (fits a long with the sign bit clear).
    */
  val LshBands = 4
  val LshBandStride = 15
  val LshBandBits = 8 // FLOOR of the adaptive band width
  val LshSigBits: Int = LshBands * LshBandStride

  /** Sentinel band width: resolve from the corpus count at build time. */
  val AdaptiveBandBits = 0

  /** Target per-band bucket occupancy the adaptive width aims for. */
  val LshTargetBucket = 64L

  /** Band width for an N-vector corpus: keep ~`targetBucket` vectors
    * per band bucket (bucket-internal pair work is quadratic in bucket
    * size, so it must not grow with N). Clamped to
    * [LshBandBits, LshBandStride] so the width always fits the fixed
    * 15-bit band layout.
    *
    * Mirrored by AnnGates.lshBandBitsSql — the SQL twin is
    * 8 + Σ_{k=8..14} [buckets > 2^k], equal to this clamp (property
    * test in PlanSpec); change the two together.
    */
  def bandBitsFor(n: Long, targetBucket: Long = LshTargetBucket): Int = {
    val buckets = math.max(1L, n / math.max(1L, targetBucket))
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(0L, buckets - 1))
    math.min(LshBandStride, math.max(LshBandBits, bits))
  }

  /** Resolve an explicit-or-adaptive band width: positive `bandBits`
    * pins it; `AdaptiveBandBits` derives it from `corpusSize` when the
    * caller already knows N (skipping the job), else from one count()
    * — metadata-only on plain parquet scans, a full scan on derived
    * inputs (same caveat as knnIvf's sizing count).
    */
  private def resolveBandBits(emb: DataFrame, bandBits: Int,
      corpusSize: Long): Int =
    if (bandBits > 0) bandBits
    else bandBitsFor(if (corpusSize >= 0L) corpusSize else emb.count())

  /** Corpus with precomputed squared norms (computed once, not per
    * pair).
    */
  private def withNorm(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("embedding"), norm2(col("embedding")).as("n2"))

  /** Long-format band decomposition of the signature column: one row
    * per (row, band) keyed by (band_idx, band_val) — a SINGLE equi-join
    * on that pair then finds collisions in any band. Bands sit at the
    * fixed 15-bit stride; `bandBits` masks the low bits actually used.
    */
  private def bandCols(sigCol: String, bands: Int, bandBits: Int) =
    array((0 until bands).map { j =>
      shiftright(col(sigCol), j * LshBandStride).bitwiseAND((1L << bandBits) - 1)
    }: _*)

  /** Exact top-k cosine neighbors for query vectors vec_id < nQueries,
    * self excluded. Deterministic order: (cosine desc, neighbor asc).
    */
  def knnBrute(emb: DataFrame, k: Int = DefaultK, nQueries: Long = DefaultQueries): DataFrame = {
    val corpus = withNorm(emb)
    topK(cosineAll(corpus, queriesOf(corpus, nQueries)), k)
  }

  /** Every (query, corpus vector ≠ query) pair with its exact cosine:
    * the query side (`queriesOf`) is broadcast, so the corpus streams
    * through one map stage with no shuffle.
    */
  private def cosineAll(corpus: DataFrame, queries: DataFrame): DataFrame =
    corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineFrom(dot(col("q_emb"), col("embedding")), col("q_n2"), col("n2"))
          .as("cosine"))

  /** The raw query side `(query_id, q_emb)`: rows with vec_id <
    * nQueries.
    */
  private def rawQueries(emb: DataFrame, nQueries: Long): DataFrame =
    emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** Memo of the exact brute-force rankings — the honesty-gate TRUTH
    * SIDES: a dozen recall gates each rescored the full corpus against
    * the broadcast query set to produce the identical exact baseline
    * (`knnBruteL2(emb)` alone had ~10 call sites). The artifact is
    * nQueries × k rows, one entry per distinct (metric, k, nQueries,
    * dims) flavor a harness pass requests (tags `brute`, `brutel2`).
    * Same keying discipline as every PlanMemo: canonicalized input
    * plan + every constant.
    */
  def knnBruteShared(emb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries): DataFrame =
    graft.PlanMemo.getOrBuild(emb, s"brute|$k|$nQueries") {
      org.apache.spark.sql.graft.ColumnBridge
        .statsFreeLocalCheckpoint(knnBrute(emb, k, nQueries))
    }

  def knnBruteL2Shared(emb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries, dims: Int = 0): DataFrame =
    graft.PlanMemo.getOrBuild(emb, s"brutel2|$k|$nQueries|$dims") {
      org.apache.spark.sql.graft.ColumnBridge
        .statsFreeLocalCheckpoint(knnBruteL2(emb, k, nQueries, dims))
    }

  /** Exact top-k by SQUARED-L2 distance — the Euclidean twin of
    * `knnBrute` (which ranks by cosine), and the exact baseline
    * `knnPq`'s ADC distances approximate: PQ recall must be judged
    * against the metric PQ actually computes, not a different one.
    * Scores are integer `l2_fp` = ⌊d²·1e6⌋ via the same per-row
    * sequential zip_with/aggregate fold the PQ expressions use (and
    * the oracle's list_reduce mirrors) — bit-stable, no cross-row
    * float aggregation. Same broadcast-the-query-side scan shape as
    * `knnBrute`: one map stage over the corpus, TopKPerKey ranking.
    */
  def knnBruteL2(emb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries, dims: Int = 0): DataFrame = {
    // dims > 0 ranks by the PREFIX of the vector only — the
    // matryoshka-style truncated-retrieval evaluation (serve from the
    // first dims dimensions, audit recall against the full width);
    // 0 = full width
    def v(c: org.apache.spark.sql.Column) =
      if (dims > 0) slice(c, 1, dims) else c
    val queries = rawQueries(emb, nQueries)
    // codegen'd kernel — bit-equal to the former
    // floor(aggregate(zip_with((a−b)²), 0.0, +)·1e6) chain (see
    // VectorExprUtil.l2Fp)
    val scored = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.VectorExprFunctions
          .l2_fp(v(col("q_emb")), v(col("embedding"))).as("l2_fp"))
    topKAsc(scored, "l2_fp", k)
  }

  /** Truncated width for the matryoshka-retrieval gates (the first 16
    * of the testdata's 64 dims). Same constant MUST appear in the
    * oracle SQL.
    */
  val TruncDims = 16

  /** Shared banded-LSH top-k core: per band, each query probes its band
    * value XOR every mask in `masks`. The query side is broadcast, so
    * candidate generation is a map stage over the corpus; `distinct()`
    * collapses multi-band/multi-probe hits (cosine is bit-deterministic,
    * so the triple is duplicate-identical across hits).
    */
  private def lshTopK(emb: DataFrame, k: Int, nQueries: Long, bands: Int,
      bandBits: Int, masks: Seq[Long]): DataFrame = {
    val sig = withNorm(emb)
      .withColumn("sig", lshSignature(col("embedding"), bands * LshBandStride))
    val banded = sig.select(col("vec_id"), col("embedding"), col("n2"),
      posexplode(bandCols("sig", bands, bandBits)).as(Seq("band_idx", "band_val")))
    val queries = banded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"), col("band_idx").as("q_band_idx"),
        explode(array(masks.map(m =>
          col("band_val").bitwiseXOR(lit(m))): _*)).as("q_probe_val"))
    val scored = banded.join(broadcast(queries),
        col("band_idx") === col("q_band_idx") &&
          col("band_val") === col("q_probe_val") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineFrom(dot(col("q_emb"), col("embedding")), col("q_n2"), col("n2"))
          .as("cosine"))
      .distinct()
    topK(scored, k)
  }

  /** Approximate top-k via banded hyperplane LSH: candidates agree with
    * the query on ≥ 1 band (the no-flip probe only). May return fewer
    * than k rows per query — the recall trade LSH makes by
    * construction. Band width defaults to corpus-adaptive (see
    * `bandBitsFor`); pass `corpusSize` when N is already known to skip
    * the sizing count.
    */
  def knnLsh(emb: DataFrame, k: Int = DefaultK, nQueries: Long = DefaultQueries,
      bands: Int = LshBands, bandBits: Int = AdaptiveBandBits,
      corpusSize: Long = -1L): DataFrame =
    lshTopK(emb, k, nQueries, bands,
      resolveBandBits(emb, bandBits, corpusSize), Seq(0L))

  /** Multi-probe banded LSH top-k: every query probes, per band, its
    * own band value AND all `bandBits` single-bit flips of it — the
    * standard recall/latency knob of production LSH (per-band hit
    * probability rises from p^b to p^b + b·p^(b-1)(1−p)) at the cost
    * of (bandBits+1)× more QUERY-side probe keys. The corpus side is
    * untouched. Band width defaults to corpus-adaptive.
    */
  def knnLshMultiProbe(emb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries, bands: Int = LshBands,
      bandBits: Int = AdaptiveBandBits, corpusSize: Long = -1L): DataFrame = {
    val bb = resolveBandBits(emb, bandBits, corpusSize)
    lshTopK(emb, k, nQueries, bands, bb,
      0L +: (0 until bb).map(b => 1L << b))
  }

  /** Full-corpus kNN GRAPH: every vector's approximate top-k cosine
    * neighbors — the kNN-join primitive semantic-dedup (SemDeDup-style
    * "which kept doc is each doc closest to") and diversity/coverage
    * analyses build on. Unlike `knnLsh` (a broadcast QUERY SET probing
    * the corpus), both sides here are the corpus, so the plan is the
    * ids-first band SELF-join `nearDupPairs` uses: the band join
    * shuffles ONLY (band_idx, band_val, vec_id) — never embeddings —
    * candidate pairs are generated once in canonical (lo < hi)
    * orientation and distinct'd, each pair's exact cosine is computed
    * ONCE, and the scored pair is mirrored (cosine is symmetric) so
    * each endpoint ranks the other. Per-vector top-k runs through the
    * heap-based TopKPerKey physical operator — no sort, k-bounded
    * memory per key.
    *
    * Scale: candidates per vector are bounded by bands × bucket
    * occupancy, and the adaptive band width keeps occupancy ~constant
    * as N grows (`bandBitsFor`) — the all-pairs N² never appears at
    * any stage. Vectors whose buckets contain no partner simply have
    * no rows (the recall trade every LSH index makes); recall follows
    * the same 1−(1−p^b)^L band curve as `knnLsh`.
    *
    * SESSION-MEMOIZED (the `PlanMemo` discipline): the graph is an
    * index-like artifact its consumers arrive at back to back
    * (`knn_graph`, `knn_mutual`, `knn_graph_recall` share the k=5
    * build; the beam family shares the degree-`BeamGraphDegree`
    * build), so one checkpoint-backed build per (corpus, params)
    * serves them all — the train-once contract the stored-IVF family
    * makes explicit, applied in-session. EAGER on first build (the
    * checkpoint materializes the graph at call time). The suite holds
    * SIX distinct live `knnGraph` keys — (corpus, k=5) for the
    * knn_graph family, (corpus, k=BeamGraphDegree) for the beam pair,
    * and (old-corpus, pinned bandBits) for the incremental gate, each
    * × the 2 sf dirs a session interleaves — all within the shared
    * store's one bound. When a dedicated 2-slot LRU held this family,
    * the bench's round-robin reps CYCLED it: knn_beam's stored-graph
    * fit was evicted between its own reps and rebuilt the graph every
    * rep (2.56 s warm, measured) while its recall twin, running
    * immediately after, hit (0.15 s).
    */
  def knnGraph(emb: DataFrame, k: Int = DefaultK, bands: Int = LshBands,
      bandBits: Int = AdaptiveBandBits, corpusSize: Long = -1L): DataFrame =
    graft.PlanMemo.getOrBuild(emb,
        s"knnGraph|$k|$bands|$bandBits|$corpusSize") {
      org.apache.spark.sql.graft.ColumnBridge.statsFreeLocalCheckpoint(
        knnGraphUncached(emb, k, bands, bandBits, corpusSize))
    }

  /** INCREMENTAL kNN-GRAPH MAINTENANCE — the vector-tier twin of
    * `TextOps.postingsDelta`: fold a fresh vector batch into a STORED
    * graph + band-key pair without rebuilding either. EXACT by the
    * top-k merge law: for an existing vector, new candidates can only
    * be (existing, fresh) band collisions, and top-k(stored top-k ∪
    * new candidates) = top-k(all candidates); for a fresh vector the
    * band join against (stored ∪ fresh) keys IS the rebuild's
    * candidate set. So `knnGraphDelta(graph, keys, all, batch)` ≡
    * `knnGraph(all)` at the SAME band width, bit for bit (spec- and
    * gate-pinned) — the chained ≡ one-shot discipline the text index
    * established.
    *
    * The band width is PINNED at ingest (stored keys cannot re-widen
    * with corpus growth — the dedup family's contract): the stored
    * relation's `band_bits` stamp is verified per row read, raising
    * loudly on a mismatch rather than silently joining bands that
    * mean different things. Corpus embeddings are read ONLY for ids
    * that collided in some band (`vectors` joined ids-first after the
    * key join) — with an id-bucketed vector store the per-batch cost
    * is batch keys + point-shaped candidate fetches + the stored
    * graph's slim (id, id, cosine) rows, never a corpus re-scan or
    * re-banding.
    *
    * PRECONDITIONS: stored/batch vec_ids disjoint; `storedKeys` holds
    * every band row of every vector in `storedGraph`'s universe at
    * this width; `vectors` contains every id in either (the
    * embedding store).
    */
  def knnGraphDelta(storedGraph: DataFrame, storedKeys: DataFrame,
      vectors: DataFrame, batch: DataFrame, k: Int = DefaultK,
      bandBits: Int = LshBandBits): DataFrame = {
    require(bandBits >= 1 && bandBits <= LshBandStride,
      s"bandBits must be in [1, $LshBandStride], got $bandBits")
    val bv = pinnedBandVal(storedKeys, bandBits)
    val bk = graft.Caches.track(
      vecBandKeysOf(batch, bandBits)
        .select(col("vec_id"), col("band_idx"), col("band_val"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    val allKeys = storedKeys
      .select(col("vec_id"), col("band_idx"), bv.as("band_val"))
      .unionByName(bk)
    // new candidate pairs: every band collision touching the batch,
    // canonical lo<hi so the (batch × batch) collisions dedupe with
    // their mirrored generation
    val cand = bk.as("a").join(allKeys.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(least(col("a.vec_id"), col("b.vec_id")).as("vec_a"),
        greatest(col("a.vec_id"), col("b.vec_id")).as("vec_b"))
      .distinct()
    // embeddings fetched for collided ids only — ids-first, the
    // candidate-only read every incremental operator in this family
    // makes
    val e = withNorm(vectors).select(col("vec_id"), col("embedding"),
      col("n2"))
    val half = cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("n2").as("n2_a")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("n2").as("n2_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosineFrom(dot(col("emb_a"), col("emb_b")), col("n2_a"), col("n2_b"))
          .as("cosine"))
    val fresh = half.select(col("vec_a").as("query_id"),
        col("vec_b").as("neighbor_id"), col("cosine"))
      .unionAll(half.select(col("vec_b").as("query_id"),
        col("vec_a").as("neighbor_id"), col("cosine")))
    // stored top-k rows merge with the fresh candidates; re-ranking
    // the union IS the rebuild's ranking (no stored/fresh pair can
    // coincide — stored rows never touch a batch id)
    topK(storedGraph.select(col("query_id"), col("neighbor_id"),
        col("cosine"))
      .unionByName(fresh), k)
  }

  private[graft] def knnGraphUncached(emb: DataFrame, k: Int = DefaultK,
      bands: Int = LshBands, bandBits: Int = AdaptiveBandBits,
      corpusSize: Long = -1L): DataFrame = {
    val bb = resolveBandBits(emb, bandBits, corpusSize)
    val sig = graft.Caches.track(withNorm(emb)
      .withColumn("sig", lshSignature(col("embedding"), bands * LshBandStride))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val banded = sig.select(col("vec_id"),
      posexplode(bandCols("sig", bands, bb)).as(Seq("band_idx", "band_val")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val half = cand
      .join(sig.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("n2").as("n2_a")), "vec_a")
      .join(sig.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("n2").as("n2_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosineFrom(dot(col("emb_a"), col("emb_b")), col("n2_a"), col("n2_b"))
          .as("cosine"))
    val scored = half.select(col("vec_a").as("query_id"),
        col("vec_b").as("neighbor_id"), col("cosine"))
      .unionAll(half.select(col("vec_b").as("query_id"),
        col("vec_a").as("neighbor_id"), col("cosine")))
    topK(scored, k)
  }

  /** Bin count of `cosineHistogram` — 20 bins of width 0.1 over
    * [-1, 1]. Same constant MUST appear in the oracle SQL.
    */
  val CosineHistBins = 20

  /** THRESHOLD-TUNING curve for embedding dedup: the cosine
    * distribution of ALL LSH candidate pairs, binned at width
    * 2/`bins` over [-1, 1], with the cumulative pair count at-or-
    * above each bin — read it as "a threshold at bin b's lower edge
    * keeps n_ge(b) pairs". This is the governance view a pipeline
    * inspects BEFORE committing to `nearDupPairs`' 0.30 cut (the
    * right threshold is corpus-dependent; picking it blind is how
    * semantic dedup either misses everything or deletes a third of
    * the corpus). NaN cosines (zero-norm vectors) are excluded
    * explicitly on both engines — they belong to no threshold.
    *
    * Float parity: the cosine doubles are the shared candidate-pair
    * expression every embedding gate pins; binning adds one +1.0,
    * one ×(bins/2), and a floor — bit-stable. The cumulative window
    * runs over ≤ `bins` rows (a single-partition sort of 20 rows —
    * nothing corpus-sized reaches it; the candidate pairs collapse
    * to bins in a map-side-combinable count first).
    */
  def cosineHistogram(emb: DataFrame, bins: Int = CosineHistBins,
      bands: Int = LshBands, bandBits: Int = AdaptiveBandBits,
      corpusSize: Long = -1L): DataFrame = {
    require(bins >= 2 && bins % 2 == 0,
      s"bins must be even and >= 2, got $bins")
    // threshold -1.0 admits every candidate: NaN filtered explicitly
    // (Spark orders NaN above -1.0, so the threshold alone keeps it)
    val pairs = nearDupPairs(emb, threshold = -1.0, bands, bandBits,
      corpusSize)
    val h = pairs.filter(!isnan(col("cosine")))
      .select(least(lit((bins - 1).toLong),
        floor((col("cosine") + lit(1.0)) * lit(bins / 2.0)).cast("long"))
        .as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bin").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    h.withColumn("n_ge", sum(col("n_pairs")).over(w))
  }

  /** MUTUAL-kNN edges: the (a, b) pairs where b is in a's top-k AND a
    * is in b's top-k — the standard symmetrization that strips
    * hub-induced one-way edges before density clustering or
    * graph-based dedup (a hub vector appears in thousands of top-k
    * lists while its own list holds only its true neighbors; keeping
    * only reciprocated edges removes exactly those). Input is a
    * directed top-k relation (`knnGraph` output — every vector a
    * query); output one row per reciprocated unordered pair in
    * canonical vec_a < vec_b orientation with its cosine (bit-equal
    * on both directions, since `knnGraph` scores each unordered pair
    * once and mirrors).
    *
    * Physical: the graph (≤ corpus × k rows) is persisted once and
    * self-joined on the reversed key — one equi-join on
    * (query_id, neighbor_id), never a recomputation of the LSH
    * pipeline per side. At 100 TB the relation is k× corpus ids —
    * the join shuffles ids and one double, nothing vector-sized.
    */
  def mutualKnn(graph: DataFrame): DataFrame = {
    val g = graft.Caches.track(
      graph.select(col("query_id"), col("neighbor_id"), col("cosine"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    g.as("a").join(g.as("b"),
        col("a.query_id") === col("b.neighbor_id") &&
          col("a.neighbor_id") === col("b.query_id") &&
          col("a.query_id") < col("a.neighbor_id"))
      .select(col("a.query_id").as("vec_a"),
        col("a.neighbor_id").as("vec_b"), col("a.cosine").as("cosine"))
  }

  // ---- ANN evaluation ----

  /** Recall@k of an approximate top-k relation against the exact one —
    * the ONE number that tells you whether an ANN index is still
    * honest. Both inputs are `(query_id, …, neighbor_id, …)` top-k
    * relations (`knnLsh`/`knnIvf`/… vs `knnBrute` over the same corpus
    * and k); returns a single row `(n_queries, hits, total, recall)`
    * where `hits` counts exact (query, neighbor) pairs the approximate
    * side also returned and `recall = hits / total`. Keeping this ON
    * the driver-gated path means a recall regression (an index change
    * that keeps row counts stable while returning worse neighbors)
    * fails a hash compare instead of shipping silently — row-count
    * checks can't see neighbor QUALITY.
    *
    * Physical: one equi-join on `(query_id, neighbor_id)` (broadcast-
    * sized: both sides are queries × k) marking exact pairs the
    * approximate side hit, then a single global aggregation — no
    * cross join, no collect. Assumes `approx` has no duplicate
    * (query, neighbor) pairs (true of any top-k relation; duplicates
    * would overcount hits).
    */
  def recallAtK(approx: DataFrame, exact: DataFrame): DataFrame = {
    val ap = approx.select(col("query_id"), col("neighbor_id"))
      .withColumn("__hit", lit(1L))
    exact.select(col("query_id"), col("neighbor_id"))
      .join(ap, Seq("query_id", "neighbor_id"), "left")
      .agg(
        countDistinct(col("query_id")).as("n_queries"),
        sum(coalesce(col("__hit"), lit(0L))).as("hits"),
        count(lit(1)).as("total"))
      .select(col("n_queries"), col("hits"), col("total"),
        (col("hits").cast("double") / col("total").cast("double"))
          .as("recall"))
  }

  /** Scalar int8 quantization of the embedding corpus — the 4×
    * memory/bandwidth compression an ANN serving tier stores vectors
    * in (FAISS's SQ8 storage class). Per DIMENSION the corpus min/max
    * define a linear 0..255 grid; each element maps to
    * `floor((x − mn) · 255 / (mx − mn))` clamped to 255 (mn == mx →
    * code 0), and `err_ppm` reports the per-element reconstruction
    * error `⌊|x − dequant(code)| · 1e6⌋` — the audit column a pipeline
    * alerts on before switching retrieval to quantized vectors.
    * Output one row per (vec_id, dim): exploded rather than an array
    * column so the result is plainly hash-comparable and the error
    * distribution is directly queryable.
    *
    * Float parity: min/max are order-independent (no summation), and
    * every per-element expression is a fixed left-to-right chain of
    * double ops mirrored token-for-token in the oracle SQL — floor and
    * clamp are exact, so the integer outputs are bit-stable across
    * engines and partitionings.
    *
    * Scale shape: one (dim)-keyed aggregation over the exploded corpus
    * (map-side combine; #dims groups), then the codes pass is a map
    * stage — the per-dim stats table (#dims rows) joins broadcast. At
    * 100 TB both stages stream; nothing corpus-sized shuffles beyond
    * the dim-keyed partial-aggregate rows.
    */
  def quantizeInt8(emb: DataFrame): DataFrame = {
    val x = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("xf").cast("double").as("x"))
    val stats = sq8Stats(emb) // the shared grid — codes and serving
    // (knnSq8) quantize against the SAME relation by construction
    x.join(broadcast(stats), "dim")
      .withColumn("code", when(col("mx") > col("mn"),
        least(floor((col("x") - col("mn")) * lit(255.0) / (col("mx") - col("mn"))),
          lit(255L))).otherwise(lit(0L)).cast("long"))
      .withColumn("err_ppm",
        floor(abs(col("x") - (col("mn") + col("code").cast("double") *
          (col("mx") - col("mn")) / lit(255.0))) * lit(1000000.0)).cast("long"))
      .select(col("vec_id"), col("dim"), col("code"), col("err_ppm"))
  }

  /** Per-dimension SQ8 grid bounds AS A RELATION — `(dim, mn, mx)`,
    * the tiny stats table `quantizeInt8`'s grid derives from,
    * exported so a serving tier can persist it next to the stored
    * codes (the codebooksOf discipline applied to scalar
    * quantization; min/max are order-free, so the relation is
    * bit-stable at any partitioning).
    */
  def sq8Stats(emb: DataFrame): DataFrame =
    emb.select(posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("dim").cast("long").as("dim"),
        col("xf").cast("double").as("x"))
      .groupBy("dim").agg(min(col("x")).as("mn"), max(col("x")).as("mx"))

  /** Cap on the stored SQ8 stats relation — one row per dimension. */
  val Sq8MaxDims = 4096

  /** Pack the exploded `quantizeInt8` audit rows into the SERVING
    * layout — `(vec_id, codes: array<long>)` in dim order, one row
    * per vector: the relation a retrieval tier persists (the exploded
    * form is the per-element audit view; packing per serve would pay
    * a corpus-keyed shuffle every query batch). One map-side-combined
    * aggregation at ingest.
    */
  def sq8Pack(codes: DataFrame): DataFrame =
    codes.groupBy("vec_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("code"))))
        .as("dc"))
      .select(col("vec_id"), expr("transform(dc, p -> p.code)").as("codes"))

  /** Exact squared-L2 top-k served from STORED SQ8 CODES — the
    * scalar-quantized retrieval tier (FAISS's SQ8 storage class,
    * completing the quantized-serving trio next to PQ and IVFPQ): the
    * corpus is met only through its persisted `(vec_id, dim, code)`
    * rows (`quantizeInt8` output — 1 byte of information per
    * element, the 4× compression) plus the `sq8Stats` grid relation;
    * each candidate DEQUANTIZES to `mn_d + code · (mx_d − mn_d) /
    * 255.0` (token-for-token the reconstruction `err_ppm` audits, so
    * the serve IS what the audit priced) and scores against the raw
    * query vectors with the exact `knnBruteL2` fold. Unlike PQ's ADC
    * this is a full-width scan — SQ8 trades no candidates, only
    * precision; its recall gate prices exactly the quantization
    * error.
    *
    * Scale shape: one (vec_id)-keyed assembly of the stored codes
    * (map-side-combined collect_list, dims ints per vector), the
    * per-dim grid ships as ≤ `Sq8MaxDims` double literals, queries
    * broadcast — no corpus embedding is ever read.
    */
  /** The stored-grid loader every SQ8 consumer shares (`knnSq8`
    * serving, `knnIvfSq8`'s inline quantization): bounded collect,
    * loud cap / dim-contiguity guards; returns `(mn, span)` arrays in
    * dim order (span = mx − mn precomputed driver-side — the exact
    * same double the in-query subtraction yields), or None for an
    * empty grid.
    */
  private def loadSq8Grid(
      stats: DataFrame): Option[(Array[Double], Array[Double])] = {
    val st = stats.select(col("dim"), col("mn"), col("mx")).collect()
    require(st.length <= Sq8MaxDims,
      s"stored SQ8 stats relation has ${st.length} rows — the contract " +
        s"caps it at Sq8MaxDims = $Sq8MaxDims (one row per dimension)")
    if (st.isEmpty) return None
    val byDim = st.sortBy(_.getLong(0))
    requireDenseIds(byDim.map(_.getLong(0)).toSeq, "SQ8 stats dims")
    Some((byDim.map(_.getDouble(1)),
      byDim.map(r => r.getDouble(2) - r.getDouble(1))))
  }

  def knnSq8(stats: DataFrame, codes: DataFrame, queryEmb: DataFrame,
      k: Int = DefaultK, nQueries: Long = DefaultQueries): DataFrame = {
    val empty = emptyRanked(queryEmb, "l2_fp")
    val grid = loadSq8Grid(stats)
    if (grid.isEmpty) return empty
    // the single subtraction is precomputed; the per-element chain
    // stays `mn + (code · span) / 255.0` — the exact expression order
    // the oracle (and err_ppm) uses
    val (mn, span) = grid.get
    // a PACKED relation (vec_id, codes array — `sq8Pack` at ingest)
    // serves map-only; the exploded audit form pays one (vec_id)-keyed
    // assembly shuffle per serve — fine interactively, but a serving
    // tier persists the packed form once
    val corpus =
      if (codes.columns.contains("codes"))
        codes.select(col("vec_id"), col("codes").as("cds"))
      else sq8Pack(codes).select(col("vec_id"), col("codes").as("cds"))
    val queries = rawQueries(queryEmb, nQueries)
    // codegen'd ADC kernel — bit-equal to the former
    // transform(recon) + zip_with + aggregate chain (see
    // VectorExprUtil.sq8L2Fp; same reconstruction order)
    val scored = corpus
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.VectorExprFunctions
          .sq8_l2_fp(col("q_emb"), col("cds"), mn, span).as("l2_fp"))
    topKAsc(scored, "l2_fp", k)
  }

  /** IVF × SQ8 — the remaining cell of the FAISS index matrix
    * (IVF_FLAT / IVF_PQ / IVF_SQ8): the hash-anchored IVF layout
    * prunes CANDIDATES to the probed cells, and each candidate is met
    * through its SQ8 reconstruction (`mn + code·span/255.0`, the
    * exact err_ppm chain) scored with the exact squared-L2 fold — so
    * the two prunings compose orthogonally: cells trade recall for
    * candidate count (the IVF promise), SQ8 trades precision for 4×
    * memory, and `nProbe ≥ cells` collapses the first pruning exactly
    * onto `knnSq8` (spec-pinned — the probe-everything law the IVFPQ
    * family established).
    *
    * Scale shape: the cell assignment is the shared codegen
    * `ivf_assign2` expression (zero shuffle); quantization is FUSED
    * into the candidate projection (grid ships as ≤ `Sq8MaxDims`
    * double literals — codes never materialize, the stored-codes
    * serving form is `knnSq8` over a cell-restricted corpus);
    * candidates are the broadcast cell equi-join, |corpus|·nProbe/
    * cells rows, closed by the k-bounded heap.
    */
  def knnIvfSq8(emb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries, nProbe: Int = IvfNProbe,
      nCells: Int = 0, corpusSize: Long = -1L): DataFrame =
    topKAsc(ivfSq8Scored(emb, nQueries, nProbe, nCells, corpusSize),
      "l2_fp", k)

  private[graft] def ivfSq8Scored(emb: DataFrame,
      nQueries: Long = DefaultQueries, nProbe: Int = IvfNProbe,
      nCells: Int = 0, corpusSize: Long = -1L): DataFrame = {
    val corpus = withNorm(emb)
    val cents = Centroids.hashAnchored(corpus,
      cellsFor(emb, nCells, corpusSize))
    val empty = emb.select(col("vec_id").as("query_id"),
      col("vec_id").as("neighbor_id"), lit(0L).as("l2_fp"))
      .filter(lit(false))
    if (cents.isEmpty) return empty
    val grid = loadSq8Grid(sq8Stats(emb))
    if (grid.isEmpty) return empty
    val (mn, span) = grid.get
    // quantize + dequantize fused per element: code =
    // clamp(⌊(x − mn)·255/span⌋), recon = mn + code·span/255.0 —
    // token-for-token the quantizeInt8/knnSq8 chain, now as the
    // codegen'd sq8_rt_l2_fp kernel (bit-equal; see
    // VectorExprUtil.sq8RtL2Fp)
    val assigned = corpus.select(assignCellExpr(cents).as("cell"),
      col("vec_id"), col("embedding").as("r_emb"))
    val probes = probeRank(corpus, cents, nQueries, nProbe)
    val queries = rawQueries(corpus, nQueries)
    assigned.join(broadcast(probes), "cell")
      .join(broadcast(queries), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        graft.functions.VectorExprFunctions
          .sq8_rt_l2_fp(col("q_emb"), col("r_emb"), mn, span).as("l2_fp"))
  }

  // ---- binary (1-bit) quantization + Hamming serving ----

  /** Bits packed per stored binary word. 32, not 64: word values stay
    * in [0, 2^32), so `bit · 2^i` sums, XORs and popcounts are exact
    * non-wrapping BIGINT arithmetic on BOTH engines (a 64-bit pack
    * puts bit 63 at 2^63, which signed-overflows the oracle's checked
    * BIGINT sum). Same constant MUST appear in the oracle SQL.
    */
  val BinaryWordBits = 32

  /** Candidate depth for the Hamming → exact-L2 rerank tier. Same
    * constant MUST appear in the oracle SQL.
    */
  val HammingRerankCand = 32

  /** Per-dimension sign thresholds for the binary tier: the grid
    * MIDPOINT `mn + span/2.0` derived from the SAME stored `sq8Stats`
    * relation the SQ8 tier serves from — one persisted stats relation
    * feeds both quantized tiers. Span is the precomputed `mx − mn`
    * double from `loadSq8Grid`, so the midpoint expression order is
    * fixed and mirrored token-for-token in the oracle.
    */
  private def binaryMids(stats: DataFrame): Option[Array[Double]] =
    loadSq8Grid(stats).map { case (mn, span) =>
      mn.zip(span).map { case (m, s) => m + s / 2.0 }
    }

  /** `(vec_id-free) embedding column → packed sign words`: bit i of
    * word w is `x[32w+i] > mid[32w+i]`, word value Σ bit·2^i. The
    * ragged-width case never reaches this expression — callers filter
    * `size(embedding) == dims` first (the RpProjCte discipline: ragged
    * vectors surface identically on both engines, here by exclusion).
    */
  private def binaryWordsExpr(embCol: Column,
      mids: Array[Double]): Column = {
    val midLit = lit(mids)
    val pows = lit((0 until BinaryWordBits).map(i => 1L << i).toArray)
    val nWords = (mids.length + BinaryWordBits - 1) / BinaryWordBits
    val bits = zip_with(embCol, midLit, (x, m) =>
      when(x.cast("double") > m, lit(1L)).otherwise(lit(0L)))
    transform(sequence(lit(0), lit(nWords - 1)), w =>
      aggregate(
        zip_with(
          slice(bits, w * lit(BinaryWordBits) + lit(1),
            lit(BinaryWordBits)),
          pows, (b, p) => coalesce(b * p, lit(0L))),
        lit(0L), (acc, v) => acc + v))
  }

  /** Binary (1-bit) scalar quantization — the 32× compression tier
    * under Hamming-distance retrieval (sign sketches per Charikar,
    * STOC 2002, applied to coordinates against the stored grid's
    * midpoints rather than random projections, so the fit is a
    * RELATION, not a seed). Output the SERVING layout `(vec_id,
    * words: array<long>)`, `BinaryWordBits` sign bits per word in dim
    * order — what a retrieval tier persists next to the `sq8Stats`
    * grid. Vectors whose width disagrees with the grid are DROPPED
    * (identically in the oracle) rather than silently null-scored.
    *
    * Scale shape: pure map stage — the grid ships as ≤ `Sq8MaxDims`
    * double literals, nothing shuffles; at 100 TB this is a streaming
    * re-encode pass writing 2 longs per 64-float vector.
    */
  def binaryCodes(stats: DataFrame, emb: DataFrame): DataFrame = {
    val mids = binaryMids(stats)
    val empty = emb.select(col("vec_id"),
      array(lit(0L)).as("words")).filter(lit(false))
    if (mids.isEmpty) return empty
    emb.filter(size(col("embedding")) === lit(mids.get.length))
      .select(col("vec_id"),
        binaryWordsExpr(col("embedding"), mids.get).as("words"))
  }

  /** The per-word AUDIT view of `binaryCodes` — one `(vec_id, word,
    * bits)` row per packed word, plainly hash-comparable (the
    * quantizeInt8-vs-sq8Pack split applied to the binary tier).
    */
  def binarize(emb: DataFrame): DataFrame =
    binaryCodes(sq8Stats(emb), emb)
      .select(col("vec_id"),
        posexplode(col("words")).as(Seq("word", "bits")))
      .select(col("vec_id"), col("word").cast("long").as("word"),
        col("bits"))

  /** Hamming top-k served from STORED binary words — the
    * 1-bit-quantized retrieval tier: the corpus is met only through
    * its persisted `(vec_id, words)` rows plus the `sq8Stats` grid;
    * queries binarize in-plan against the same midpoints and distance
    * is Σ popcount(xor(word pairs)) — exact integers end to end, so
    * the gate is fully hash-checkable. Recall is priced by its own
    * oracled gate (binary trades the most precision of the quantized
    * family; its role at scale is CANDIDATE GENERATION for
    * `knnHammingRerank`, not final ranking).
    *
    * Scale shape: queries broadcast; one map pass over the packed
    * words (2 longs per 64-dim vector — 32× less scan bandwidth than
    * the float corpus) closed by the k-bounded heap. No corpus
    * embedding is ever read.
    */
  def knnHamming(stats: DataFrame, words: DataFrame, queryEmb: DataFrame,
      k: Int = DefaultK, nQueries: Long = DefaultQueries): DataFrame = {
    val empty = emptyRanked(queryEmb, "hamming")
    val mids = binaryMids(stats)
    if (mids.isEmpty) return empty
    val queries = queryEmb.filter(col("vec_id") < nQueries)
      .filter(size(col("embedding")) === lit(mids.get.length))
      .select(col("vec_id").as("query_id"),
        binaryWordsExpr(col("embedding"), mids.get).as("q_words"))
    val scored = words
      .join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("words"), col("q_words"),
          (a, b) => bit_count(a.bitwiseXOR(b)).cast("long")),
          lit(0L), (acc, v) => acc + v).as("hamming"))
    topKAsc(scored, "hamming", k)
  }

  /** Hamming-shortlist → exact-L2 rerank: the standard two-stage
    * binary serving pattern — `knnHamming` generates `cand`
    * candidates per query from the packed words, then ONLY those
    * candidates' raw embeddings are read back for the exact
    * squared-L2 fold (`knnBruteL2`'s expression verbatim, so `cand ≥
    * corpus` collapses exactly onto the brute baseline — the
    * probe-everything law, spec-pinned). At scale the float corpus is
    * touched for queries × cand rows instead of the full scan:
    * Hamming buys the bandwidth, the rerank buys back the precision.
    */
  def knnHammingRerank(stats: DataFrame, words: DataFrame,
      emb: DataFrame, queryEmb: DataFrame, k: Int = DefaultK,
      cand: Int = HammingRerankCand,
      nQueries: Long = DefaultQueries): DataFrame = {
    val shortlist = knnHamming(stats, words, queryEmb, cand, nQueries)
      .select(col("query_id"), col("neighbor_id"))
    val queries = rawQueries(queryEmb, nQueries)
    val rescored = emb
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
      .join(broadcast(shortlist), Seq("neighbor_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.functions.VectorExprFunctions
          .l2_fp(col("q_emb"), col("n_emb")).as("l2_fp"))
    topKAsc(rescored, "l2_fp", k)
  }

  // ---- graph-served ANN: beam search over the stored kNN graph ----

  /** Beam geometry for the graph-served tier (HNSW/DiskANN's search
    * loop run synchronously: a width-`BeamWidth` beam from
    * `BeamEntries` hash-anchored entry points over a
    * degree-`BeamGraphDegree` graph, expanded `BeamRounds` rounds).
    * Chosen on the measured sf0.01 recall curve — degree dominates
    * (5→0.10, 10→0.42, 16→0.80 at beam 32), then beam width
    * (48→0.90); rounds beyond 4-5 add little once the width binds.
    * Degree 16 is HNSW's usual M; beam 48 its usual efSearch order.
    * Same constants MUST appear in the oracle SQL.
    */
  val BeamWidth = 48
  val BeamRounds = 4
  val BeamEntries = 8
  val BeamGraphDegree = 16

  /** Corpus-size bound for `knnBeam`'s tiny-regime plumbing scope
    * (the `GraphOps.bfsSweeps` lesson applied to the beam loop): at
    * or under this many corpus vectors the per-round cost is pure
    * fixed overhead — 32-bucket shuffles on a few-thousand-row
    * candidate set, AQE re-planning per stage, and janino compiling a
    * fresh class per round (each round's plan is one union wider).
    * Above it the shuffle width, AQE and codegen are load-bearing and
    * the scope never opens (the 80k-vector rehearsal phase stays
    * fully distributed).
    */
  val BeamTinyCorpus = 16384L

  /** Greedy beam search over a STORED proximity graph — the
    * graph-based ANN serving paradigm (Malkov & Yashunin's HNSW /
    * Subramanya et al.'s DiskANN search loop, run as a SYNCHRONOUS
    * fixed-round beam so the result is deterministic and
    * rounds-unrollable by the SQL oracle): all queries start at the
    * `BeamEntries` hash-anchored entry vectors (the IVF
    * centroid-selection discipline — smallest (poly_hash(vec_id),
    * vec_id); multiple entries hedge a bad medoid and disconnected
    * components, the same reason DiskANN searches from the medoid +
    * random seeds); each round
    * the beam's out-neighbors in `graph` (`src`/`dst` columns, e.g. a
    * persisted `knnGraph`) join the beam, every candidate scores
    * against the query with the exact `knnBruteL2` fold, and the best
    * `beam` candidates (l2 asc, id asc) survive. Keeping the previous
    * beam in the candidate set makes the per-query best distance
    * MONOTONE in rounds (spec-pinned). The query vector itself may
    * route the walk but is excluded from the final top-k.
    *
    * Scale shape: per round, the queries×beam frontier BROADCASTS
    * against the adjacency (one map pass over 2-long edge rows) and
    * the candidate list broadcasts against the embedding corpus (one
    * map pass fetching only candidate floats) — `rounds` scans of
    * each relation, never a corpus shuffle and never all-pairs. At
    * 100 TB the embedding fetch is the point-lookup join a
    * vec_id-bucketed layout prunes to candidate buckets; the beam
    * state is queries × beam rows of driver-free executor data
    * throughout.
    */
  def knnBeam(graph: DataFrame, emb: DataFrame, queryEmb: DataFrame,
      k: Int = DefaultK, beam: Int = BeamWidth, rounds: Int = BeamRounds,
      nQueries: Long = DefaultQueries): DataFrame = {
    val empty = emptyRanked(queryEmb, "l2_fp")
    // hash-anchored entries: TakeOrdered, ≤ BeamEntries rows collected
    val entryRows = hashPrefix(emb, "vec_id", BeamEntries)
      .select("vec_id").collect()
    if (entryRows.isEmpty) return empty
    val entries = entryRows.map(_.getLong(0))
    val queries = rawQueries(queryEmb, nQueries)
    val adj = graph.select(col("src"), col("dst"))
    def score(cands: DataFrame): DataFrame =
      emb.select(col("vec_id"), col("embedding").as("n_emb"))
        .join(broadcast(cands), Seq("vec_id"))
        .join(broadcast(queries), Seq("query_id"))
        .select(col("query_id"), col("vec_id"),
          graft.functions.VectorExprFunctions
            .l2_fp(col("q_emb"), col("n_emb")).as("l2_fp"))
    // each round's beam is PERSISTED (queries × beam rows): round r
    // references it twice (frontier expansion + candidate union), so
    // an uncached lineage re-walks the whole prefix 2^rounds times —
    // the mmrRerank lesson applied to the beam loop
    var scoredBeam = graft.Caches.track(score(
        queries.select(col("query_id"))
          .withColumn("vec_id", explode(lit(entries))))
      .persist(StorageLevel.MEMORY_AND_DISK))
    for (_ <- 1 to rounds) {
      val frontier = scoredBeam.select(col("query_id"), col("vec_id"))
      val expanded = broadcast(frontier.withColumnRenamed("vec_id", "src"))
        .join(adj, "src")
        .select(col("query_id"), col("dst").as("vec_id"))
      val cands = frontier.unionByName(expanded).distinct()
      scoredBeam = graft.Caches.track(
        graft.plans.TopK.perKey(score(cands), Seq("query_id"),
            Seq(col("l2_fp").asc, col("vec_id").asc), beam)
          .select("query_id", "vec_id", "l2_fp")
          .persist(StorageLevel.MEMORY_AND_DISK))
    }
    topKAsc(scoredBeam.filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("l2_fp")), "l2_fp", k)
  }

  /** The memoized beam ranking — the `bm25Shared` economics for the
    * graph-served tier: `knn_beam` and `knn_beam_recall`'s approx side
    * each re-ran the full `BeamRounds` loop per invocation. One
    * checkpoint-backed build per (graph plan, corpus plan, geometry)
    * serves both; the build itself runs inside a tiny-regime plumbing
    * scope when the corpus is under `BeamTinyCorpus` vectors (1
    * shuffle partition + AQE off for the loop's ~10 micro-shuffles;
    * whole-stage codegen stays ON — unlike the hops loop, the per-row
    * work here is a 64-dim float fold, and interpreted eval was
    * MEASURED 3x slower than the 4 janino compiles it avoids). The
    * corpus and query-batch plans ride the memo key as canonicalized
    * plan OBJECTS (PlanMemo's multi-input keying), so every input gets
    * the same structural-equality guarantee the graph plan has — a
    * digest collision cannot silently serve the wrong ranking.
    */
  def knnBeamShared(graph: DataFrame, emb: DataFrame, queryEmb: DataFrame,
      k: Int = DefaultK, beam: Int = BeamWidth, rounds: Int = BeamRounds,
      nQueries: Long = DefaultQueries): DataFrame = {
    graft.PlanMemo.getOrBuild(graph,
        s"beam|$k|$beam|$rounds|$nQueries", Seq(emb, queryEmb)) {
      val tinyScope = emb.count() <= BeamTinyCorpus
      graft.Confs.scoped(emb.sparkSession,
          (if (tinyScope) graft.Confs.TinyRegime else Nil): _*) {
        org.apache.spark.sql.graft.ColumnBridge.statsFreeLocalCheckpoint(
          knnBeam(graph, emb, queryEmb, k, beam, rounds, nQueries))
      }
    }
  }

  // ---- MMR diversity re-ranking ----

  /** MMR geometry: shortlist depth and λ in per-mille (700 = the
    * classic 0.7 relevance weight). Same constants MUST appear in the
    * oracle SQL.
    */
  val MmrCandidates = 16
  val MmrLambdaPm = 700L

  /** Row shapes of the in-task MMR greedy (`mapGroups` needs encoders;
    * the doubles are the pre-cast floats, so the in-task fold sees the
    * exact values the former Catalyst pairwise expression saw).
    */
  private[graft] case class MmrCand(query_id: Long, neighbor_id: Long,
    l2_fp: Long, embedding: Seq[Double])
  private[graft] case class MmrPick(query_id: Long, rank: Long,
    neighbor_id: Long, l2_fp: Long)

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    * SIGIR 1998) — the diversity pass between retrieval and
    * consumption: from each query's exact top-`cand` shortlist,
    * greedily select `k` results maximizing
    * `λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)`, which in
    * integer squared-L2 form is the argmax of
    * `(1000−λpm)·min_sel_l2 − λpm·l2q` (sim = −distance; first pick =
    * plain relevance argmin, ties → smaller id). Near-duplicate
    * results burn shortlist slots; MMR spends them on coverage — the
    * re-rank every RAG serving tier wants between ANN and the
    * context window. `rank` is SELECTION ORDER (the diversity
    * ordering), not distance order.
    *
    * Scale shape: the shortlist is queries × cand rows; ONE broadcast
    * join fetches the candidate floats, then the ENTIRE k-round
    * greedy selection runs inside a single `mapGroups` over each
    * query's ≤ cand rows — pairwise distances (≤ cand² doubles) and
    * the per-round argmax are plain in-task loops, so the whole
    * re-rank is one job and one exchange after the shortlist, not
    * ~3(k−1) driver-looped join/TopK/union rounds (the previous shape:
    * measured ~5.9 s → sub-second at sf0.1, hashes unchanged — the
    * in-task fold is the same IEEE sequence the Catalyst pairwise
    * expression evaluated). No corpus-sized work after the shortlist.
    */
  def mmrRerank(emb: DataFrame, queryEmb: DataFrame, k: Int = DefaultK,
      cand: Int = MmrCandidates, lambdaPm: Long = MmrLambdaPm,
      nQueries: Long = DefaultQueries): DataFrame = {
    require(lambdaPm >= 0L && lambdaPm <= 1000L,
      s"lambdaPm must be in [0, 1000], got $lambdaPm")
    val base = knnBruteL2(emb, cand, nQueries)
      .select(col("query_id"), col("neighbor_id"), col("l2_fp"))
    // candidate floats fetched once (ids-first broadcast join); the
    // double cast here is the exact cast the pairwise expression ran
    val e = emb.select(col("vec_id"), col("embedding"))
    val withEmb = base
      .join(broadcast(broadcast(base.select("neighbor_id").distinct())
          .join(e, col("neighbor_id") === col("vec_id"))
          .select(col("neighbor_id").as("nid"), col("embedding"))),
        col("neighbor_id") === col("nid"))
      .select(col("query_id"), col("neighbor_id"), col("l2_fp"),
        col("embedding").cast("array<double>").as("embedding"))
    val s = emb.sparkSession
    import s.implicits._
    val lam = lambdaPm
    withEmb.as[MmrCand].groupByKey(_.query_id)
      .flatMapGroups { (qid: Long, it: Iterator[MmrCand]) =>
        // deterministic candidate order: (l2_fp asc, id asc) — the
        // round-1 relevance argmin is then index 0
        val cs = it.toArray.sortBy(c => (c.l2_fp, c.neighbor_id))
        val n = cs.length
        // pairwise ⌊Σ(xᵢ−yᵢ)²·1e6⌋ — the identical left fold (and
        // floor-scale) the former zip_with/aggregate expression ran
        val pl2 = Array.ofDim[Long](n, n)
        var i = 0
        while (i < n) {
          var j = i + 1
          while (j < n) {
            val a = cs(i).embedding; val b = cs(j).embedding
            var acc = 0.0
            var d = 0
            val dim = math.min(a.length, b.length)
            while (d < dim) { val t = a(d) - b(d); acc += t * t; d += 1 }
            val v = math.floor(acc * 1000000.0).toLong
            pl2(i)(j) = v; pl2(j)(i) = v
            j += 1
          }
          i += 1
        }
        val selected = new scala.collection.mutable.ArrayBuffer[Int](k)
        val out = new scala.collection.mutable.ArrayBuffer[MmrPick](k)
        if (n > 0) {
          selected += 0
          out += MmrPick(qid, 1L, cs(0).neighbor_id, cs(0).l2_fp)
        }
        var r = 2
        while (r <= k && selected.length < n) {
          // argmax of (1000−λ)·min_sel_l2 − λ·l2q over the remaining
          // candidates, ties → smaller neighbor_id (candidates are
          // id-ordered within equal l2_fp, so scan order suffices
          // only with an explicit id compare — keep it explicit)
          var best = -1
          var bestMmr = Long.MinValue
          var c = 0
          while (c < n) {
            if (!selected.contains(c)) {
              var minSel = Long.MaxValue
              selected.foreach { si =>
                if (pl2(c)(si) < minSel) minSel = pl2(c)(si)
              }
              val mmr = (1000L - lam) * minSel - lam * cs(c).l2_fp
              if (mmr > bestMmr ||
                (mmr == bestMmr && best >= 0 &&
                  cs(c).neighbor_id < cs(best).neighbor_id)) {
                bestMmr = mmr; best = c
              }
            }
            c += 1
          }
          selected += best
          out += MmrPick(qid, r.toLong, cs(best).neighbor_id,
            cs(best).l2_fp)
          r += 1
        }
        out.iterator
      }
      .toDF()
      .select("query_id", "rank", "neighbor_id", "l2_fp")
  }

  /** PQ geometry: subspace count and per-subspace codebook size.
    * 4 blocks × 16 codewords compresses a 64-dim float vector to
    * 4 × 4 bits of codes — the 64× compression class (Jégou, Douze &
    * Schmid, "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011). Same constants MUST appear in the oracle SQL.
    */
  val PqBlocks = 4
  val PqCodebookSize = 16

  /** Product-quantization code assignment — the memory-compression
    * layer under billion-scale ANN serving (FAISS's IVFPQ storage):
    * the vector splits into `blocks` contiguous subvectors, each
    * assigned to its nearest codeword (squared L2, tie → smaller
    * code) in a per-block codebook. Codebooks here are HASH-ANCHORED:
    * the `codebook` corpus vectors with the smallest
    * (poly_hash(vec_id), vec_id) contribute their subvectors — the
    * same deterministic pseudo-random selection `knnIvf` pins its
    * cells to, id-pinned so the SQL oracle reproduces the fit exactly
    * (a production deployment trains per-block k-means; the
    * assignment plumbing — and everything downstream of it — is
    * identical and stays oracle-checkable). Output one row per
    * (vec_id, block): the code and `dist_fp` = ⌊d² · 1e6⌋, the
    * quantization-error audit column.
    *
    * Float parity: each squared-L2 is a per-row SEQUENTIAL left fold
    * (`0.0 + t_lo + … + t_hi`) mirrored token-for-token by the
    * oracle's list_reduce; the argmin compares those bit-identical
    * doubles, so code assignment (and its tie-break) agrees exactly.
    *
    * Scale shape: map-ONLY — the codebook (blocks × codebook × dim/
    * blocks doubles) ships as literals inside the projection, the
    * per-block argmin runs in the scan stage, and nothing shuffles at
    * any corpus size; the generator explode is blocks× fanout of
    * id-sized rows. EAGER semantics like `knnIvf`: building the frame
    * runs the codebook selection (TakeOrdered + ≤`codebook`-row
    * collect), freezing it against the input at build time.
    */
  def pqCodes(emb: DataFrame, blocks: Int = PqBlocks,
      codebook: Int = PqCodebookSize): DataFrame = {
    require(blocks >= 1, s"pqCodes needs blocks >= 1, got $blocks")
    require(codebook >= 1, s"pqCodes needs codebook >= 1, got $codebook")
    val cw = pqCodebookOf(emb, codebook)
    if (cw.isEmpty) {
      return emb.select(col("vec_id"), lit(0L).as("block"),
        lit(0L).as("code"), lit(0L).as("dist_fp")).filter(lit(false))
    }
    val perBlock = pqBlockDists(col("embedding"), pqSliceBlocks(cw, blocks))
      .zipWithIndex.map { case (dists, b) =>
        struct(lit(b.toLong).as("block"),
          (array_position(dists, array_min(dists)) - 1L).as("code"),
          floor(array_min(dists) * lit(1000000.0)).cast("long").as("dist_fp"))
      }
    emb.select(col("vec_id"), explode(array(perBlock: _*)).as("q"))
      .select(col("vec_id"), col("q.block").as("block"),
        col("q.code").as("code"), col("q.dist_fp").as("dist_fp"))
  }

  /** The hash-anchored PQ codebook as driver-side FULL vectors (blocks
    * slice them): the `codebook` corpus rows with the smallest
    * (poly_hash(vec_id), vec_id), codeword j = position j in that
    * order. ≤ `codebook` rows collected — the same driver-bounded
    * collect class as knnIvf's centroid table.
    */
  private[graft] def pqCodebookOf(emb: DataFrame,
      codebook: Int): Array[Array[Double]] =
    sampleEmbeddings(emb, codebook).map(_.map(_.doubleValue()).toArray)

  /** The first `n` embeddings of the hash-prefix sample, in sample
    * order (row j IS codeword j, or initial centroid j): ≤ `n` rows
    * collected. Every fit in the IVF/PQ family draws from it.
    */
  private def sampleEmbeddings(emb: DataFrame, n: Int): Array[Seq[Number]] =
    hashPrefix(emb, "vec_id", n).select(col("embedding")).collect()
      .map(_.getSeq[Number](0))

  /** Slice full-width codeword vectors into the per-block codebook
    * layout `pqBlockDists` consumes: blocks × codebook × (dim/blocks).
    */
  private def pqSliceBlocks(cw: Array[Array[Double]],
      blocks: Int): Seq[Array[Array[Double]]] = {
    val dim = cw.head.length
    require(dim % blocks == 0,
      s"embedding dim $dim not divisible into $blocks PQ blocks")
    val bw = dim / blocks
    (0 until blocks).map(b => cw.map(_.slice(b * bw, (b + 1) * bw)))
  }

  /** Per-block squared-L2 distance arrays (one array<double> column of
    * `codebook` entries per block) from a vector column to the literal
    * per-block codebooks (`cbs(b)(j)` = codeword j of block b, all
    * blocks equal width). Loop-generating array expressions, NOT an
    * unrolled term tree: a fully-unrolled blocks×codebook×bw sum (with
    * the argmin re-referencing it) overflows janino's codegen —
    * transform/zip_with/aggregate emit bounded loops instead, with the
    * identical `0.0 + t_lo + …` left-fold order the oracle's
    * list_reduce uses.
    */
  private def pqBlockDists(x: org.apache.spark.sql.Column,
      cbs: Seq[Array[Array[Double]]]): Seq[org.apache.spark.sql.Column] = {
    val bw = cbs.head.head.length
    cbs.zipWithIndex.map { case (cb, b) =>
      val lo = b * bw // 0-based first dim of the block
      val sub = slice(x, lo + 1, bw)
      val cbLit = array(cb.toSeq.map(c =>
        array(c.toSeq.map(lit): _*)): _*)
      transform(cbLit, c =>
        aggregate(
          zip_with(sub, c, (a, cd) => {
            val t = a.cast("double") - cd
            t * t
          }),
          lit(0.0), (acc, v) => acc + v))
    }
  }

  /** ADC (asymmetric distance computation) top-k over PQ codes — the
    * PQ SERVING path (Jégou et al. 2011, §IV): the corpus is met only
    * through its per-block codes; each query precomputes a
    * block×codebook lookup table of EXACT squared-L2 distances from
    * its raw subvectors to every codeword, and a candidate's distance
    * is the sum of `blocks` table lookups — never a full-width vector
    * op against corpus data. Scores are integer `adc_fp` (per-cell
    * ⌊d²·1e6⌋, summed over blocks — the floor happens per LUT cell, so
    * the sum is exact long arithmetic and order-independent), ranked
    * (adc_fp asc, neighbor asc) through TopKPerKey.
    *
    * Scale shape: map-ONLY against the corpus — the per-query LUTs
    * (queries × blocks × codebook longs) are computed driver-side
    * from the ≤`nQueries` collected query rows (the same broadcast-
    * the-tiny-query-side economics as knnBrute) and ship as literal
    * arrays inside the projection; each corpus row computes its codes
    * and sums `blocks` element_at lookups per query. No join, no
    * shuffle before the k-bounded TopKPerKey heap. Compose with IVF
    * cell pruning for the IVFPQ both-worlds layout — the codes here
    * are exactly what an IVFPQ posting list stores.
    */
  def knnPq(emb: DataFrame, k: Int = DefaultK, nQueries: Long = DefaultQueries,
      blocks: Int = PqBlocks, codebook: Int = PqCodebookSize): DataFrame = {
    val cw = pqCodebookOf(emb, codebook)
    if (cw.isEmpty) return emptyRanked(emb, "adc_fp")
    knnPqFrom(emb, pqSliceBlocks(cw, blocks), k, nQueries)
  }

  /** The empty `(query_id, rank, neighbor_id, score)` result of a
    * distance-ranked serve with nothing to serve from.
    */
  private def emptyRanked(emb: DataFrame, score: String): DataFrame =
    emb.select(col("vec_id").as("query_id"), lit(1L).as("rank"),
      col("vec_id").as("neighbor_id"), lit(0L).as(score))
      .filter(lit(false))

  /** ADC serving from explicit per-block codebooks — the single
    * definition `knnPq` (hash-anchored), `knnPqTrained` (per-block
    * Lloyd) and `knnPqFromStored` (reloaded relation) share, so the
    * layouts differ ONLY in codeword data.
    */
  private def knnPqFrom(emb: DataFrame, cbs: Seq[Array[Array[Double]]],
      k: Int, nQueries: Long): DataFrame = {
    val qRows = adcQueries(emb, nQueries)
    if (qRows.isEmpty) return emptyRanked(emb, "adc_fp")
    // MATERIALIZE the codes relation before the ADC projection — this
    // is the PQ index a real deployment stores (IVFPQ posting lists
    // hold exactly these codes; `pqCodesFromStored` is the persist
    // leg). Without the persist barrier Catalyst collapses the
    // projections and re-inlines the full per-block assignment into
    // EVERY query's lookup expression; higher-order array functions
    // run interpreted (outside whole-stage codegen) with no
    // cross-expression CSE, so the assignment re-ran queries×blocks
    // times per row — measured 302 s for 80k×10 at rehearsal, ~3 s
    // with the barrier.
    val codesWide = graft.Caches.track(
      emb.select(col("vec_id"), pqCodeArray(cbs).as("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    adcServe(codesWide, qRows, cbs, k)
  }

  /** The per-row code vector under explicit codebooks: `blocks`
    * 1-BASED codeword positions (stored directly as `element_at`
    * indices — the layout `knnIvfPq`'s posting lists persist).
    */
  private def pqCodeArray(cbs: Seq[Array[Array[Double]]]): Column =
    array(pqBlockDists(col("embedding"), cbs)
      .map(d => array_position(d, array_min(d)).cast("int")): _*)

  /** Cap on the query rows an ADC serve may collect: the per-query
    * LUTs ship as LITERAL arrays inside one projection (expression
    * size grows with queries × blocks × codebook), so the query batch
    * must stay driver-small BY CONTRACT — loudly, like
    * `IvfMaxStaticProbes`. Bulk query relations belong on the exact
    * or IVF paths, not literal-LUT ADC.
    */
  val PqMaxStaticQueries = 65536

  /** The ADC query batch: the `(vec_id, embedding)` rows with
    * `vec_id < nQueries`, collected and capped at `PqMaxStaticQueries`.
    */
  private def adcQueries(queryEmb: DataFrame, nQueries: Long): Array[Row] = {
    val rows = queryEmb.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding")).collect()
    require(rows.length <= PqMaxStaticQueries,
      s"ADC serve collected ${rows.length} query rows — the cap is " +
        s"PqMaxStaticQueries = $PqMaxStaticQueries (per-query literal " +
        "LUTs must stay driver-small; use knnBrute/knnIvf for bulk " +
        "query relations)")
    rows
  }

  /** One query row's ADC lookup table, blocks × codebook longs
    * flattened block-major: cell (b, j) = ⌊‖q_b − c_bj‖² · 1e6⌋. The
    * same ascending-index += fold as the assignment expression and the
    * oracle's list_reduce, so the doubles are bit-identical before the
    * per-cell floor.
    */
  private def adcLut(r: Row, cbs: Seq[Array[Array[Double]]]): Array[Long] = {
    val q = r.getSeq[Number](1).map(_.doubleValue()).toArray
    val bw = cbs.head.head.length
    cbs.zipWithIndex.toArray.flatMap { case (cb, b) =>
      cb.map { c =>
        var acc = 0.0
        var i = 0
        while (i < bw) { val t = q(b * bw + i) - c(i); acc += t * t; i += 1 }
        math.floor(acc * 1000000.0).toLong
      }
    }
  }

  /** The shared ADC tail every PQ serve ends in: per-query LUTs from
    * the raw query rows against the codebooks, summed over each
    * candidate's stored 1-based codes. `codes` is `(vec_id,
    * codes: array<int>)` — either the freshly-assigned persisted
    * barrier (`knnPqFrom`) or a reloaded `pqCodesFromStored` relation
    * (`knnPqFromCodes`); the arithmetic is identical, so the two
    * serve modes are bit-identical by construction.
    */
  private def adcServe(codes: DataFrame, qRows: Array[Row],
      cbs: Seq[Array[Array[Double]]], k: Int): DataFrame = {
    val codebook = cbs.head.length
    val scored = qRows.sortBy(_.getLong(0)).toSeq.map { r =>
      val lut = adcLut(r, cbs)
      val adc = cbs.indices.map { b =>
        element_at(lit(lut.slice(b * codebook, (b + 1) * codebook)),
          element_at(col("codes"), b + 1))
      }.foldLeft(lit(0L))(_ + _)
      struct(lit(r.getLong(0)).as("query_id"), adc.as("adc_fp"))
    }
    val cand = codes.select(col("vec_id").as("neighbor_id"),
        explode(array(scored: _*)).as("s"))
      .filter(col("s.query_id") =!= col("neighbor_id"))
      .select(col("s.query_id").as("query_id"), col("neighbor_id"),
        col("s.adc_fp").as("adc_fp"))
    topKAsc(cand, "adc_fp", k)
  }

  /** IVFPQ: cell-pruned ADC — the production billion-scale ANN layout
    * (Jégou et al. 2011 §V; FAISS's IndexIVFPQ): IVF's coarse
    * quantizer prunes the search to each query's `nProbe` cells, and
    * PQ codes compress what remains to `blocks` table lookups per
    * candidate. The index this builds — `(cell, vec_id, codes)`,
    * persisted — IS an IVFPQ posting-list layout: at serve time the
    * corpus embeddings are never touched (cells from the assignment
    * expression at build, distances from per-query LUTs at query).
    * Both quantizers here are the hash-anchored deterministic fits
    * (knnIvf's cells, pqCodes' codebook), so the WHOLE composition is
    * SQL-derivable and oracle-checked end to end — swap in
    * `centroidsOf`/`pqTrainCodebooks` for the trained production form;
    * the plumbing is identical.
    *
    * Candidate count per query is |corpus|·nProbe/cells (the IVF
    * contract) and each candidate costs `blocks` integer lookups (the
    * PQ contract) — the multiplicative composition of the two
    * prunings. Scores are the same exact-integer `adc_fp` as `knnPq`;
    * like every pruned index it may return fewer than k rows per
    * query. Ranking (adc_fp asc, neighbor asc) via TopKPerKey.
    */
  def knnIvfPq(emb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries, nProbe: Int = IvfNProbe,
      nCells: Int = 0, corpusSize: Long = -1L, blocks: Int = PqBlocks,
      codebook: Int = PqCodebookSize): DataFrame = {
    val corpus = withNorm(emb)
    val cents = Centroids.hashAnchored(corpus,
      cellsFor(emb, nCells, corpusSize))
    val cw = pqCodebookOf(emb, codebook)
    val qRows = adcQueries(emb, nQueries)
    if (cents.isEmpty || cw.isEmpty || qRows.isEmpty) return emptyRanked(emb, "adc_fp")
    val cbs = pqSliceBlocks(cw, blocks)
    // the IVFPQ index: one map pass assigns the cell AND the codes;
    // persisted behind the same barrier knnPqFrom needs (projection
    // collapse would re-inline the interpreted assignment per lookup)
    val index = graft.Caches.track(corpus.select(
        assignCellExpr(cents).as("cell"),
        col("vec_id"), pqCodeArray(cbs).as("codes"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    topKAsc(ivfAdcCandidates(index,
      probeRank(corpus, cents, nQueries, nProbe), qRows, cbs), "adc_fp", k)
  }

  /** Cell-pruned ADC candidates `(query_id, neighbor_id, adc_fp)`, the
    * shared tail of `knnIvfPq` and `ivfPqScoredFromStored`: the
    * `(cell, vec_id, codes)` index meets each query's probed cells,
    * and a candidate sums `blocks` lookups in its query's flattened
    * LUT row, `lut(query_id)(b·codebook + code_b)`.
    */
  private def ivfAdcCandidates(index: DataFrame, probes: DataFrame,
      qRows: Array[Row], cbs: Seq[Array[Array[Double]]]): DataFrame = {
    val codebook = cbs.head.length
    val luts: Map[Long, Seq[Long]] =
      qRows.map(r => r.getLong(0) -> adcLut(r, cbs).toSeq).toMap
    val lutLit = typedlit(luts)
    val adc = cbs.indices.map { b =>
      element_at(element_at(lutLit, col("query_id")),
        lit(b * codebook) + element_at(col("codes"), b + 1))
    }.foldLeft(lit(0L))(_ + _)
    index.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        adc.as("adc_fp"))
  }

  /** Lloyd iterations for the trained PQ codebooks. */
  val PqLloydIters = 5

  /** TRAINED per-block codebooks: k-means (squared-L2, the metric PQ
    * quantizes under) run independently per block over the same
    * deterministic hash-prefix sample `trainCentroids` uses — init =
    * the first `codebook` sample subvectors (the hash-anchored layout,
    * so zero iterations reproduce `knnPq` exactly), ties → lower code,
    * an emptied cluster keeps its previous codeword. The rounds run
    * the same EXACT `lloydPpm` integer arithmetic as the IVF trainer
    * (ppm-quantized argmin, truncating-division means), so the fitted
    * codewords — `ppm/1e6` doubles, exact in IEEE — are
    * SQL-derivable: DuckDB unrolls the identical rounds per block and
    * lands the identical doubles, which is what lets the whole
    * trained-PQ serving family carry hash-checked oracles.
    */
  private[graft] def pqTrainCodebooks(emb: DataFrame, blocks: Int = PqBlocks,
      codebook: Int = PqCodebookSize, iters: Int = PqLloydIters,
      sampleCap: Int = IvfTrainSampleCap): Seq[Array[Array[Double]]] = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val pts = pqCodebookOf(emb, math.max(codebook, sampleCap))
    if (pts.isEmpty) return Seq.empty
    pqSliceBlocks(pts, blocks).map { sub =>
      val init = sub.take(math.min(codebook, sub.length))
      if (iters == 0) init.map(_.clone())
      else {
        val q = sub.map(_.map(x =>
          math.floor(x * CentroidQuantPpm.toDouble).toLong))
        lloydPpm(q, q.take(init.length).map(_.clone()), iters, identity)
          .map(_.map(_.toDouble / CentroidQuantPpm.toDouble))
      }
    }
  }

  /** ADC top-k over the TRAINED per-block codebooks — `knnPq` with
    * k-means codewords instead of the hash-anchored sample; the
    * serving plan is byte-identical (same `knnPqFrom`). ORACLED since
    * the exact-Lloyd rewrite (the per-block fit is `lloydPpm`'s
    * integer arithmetic — DuckDB unrolls the same rounds); the
    * recall-vs-hash-anchored improvement stays pinned in
    * ExtensionsSpec.
    */
  def knnPqTrained(emb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries, blocks: Int = PqBlocks,
      codebook: Int = PqCodebookSize): DataFrame = {
    val cbs = pqTrainCodebooks(emb, blocks, codebook)
    if (cbs.isEmpty) return emptyRanked(emb, "adc_fp")
    knnPqFrom(emb, cbs, k, nQueries)
  }

  /** Fingerprint of every constant the STORED codebook relation's
    * serving contract depends on: the schema version and the ADC
    * fixed-point scale (a codebook exported under a different ppm
    * grain would produce LUTs whose floors disagree). Lloyd's
    * training knobs are deliberately ABSENT — they shape the codeword
    * DATA, not the serving arithmetic (the `IvfParamsFingerprint`
    * adjudication).
    */
  val PqParamsFingerprint: Long =
    Stamps.paramsFingerprint("pq-codebooks-v1", 1000000L)

  /** Cap on the rows a stored codebook relation may carry — blocks ×
    * codebook codewords; PQ codebooks are small by design (their whole
    * point is that the LUTs fit anywhere), so a large relation here is
    * a wrong-table error, not a scale need.
    */
  val PqMaxStoredCodewords = 16384

  /** Train-once export of the fitted per-block PQ codebooks AS A
    * RELATION — `(block, code, codeword: Array[Double],
    * pq_params_fp)`, ≤ blocks × codebook rows — the PQ twin of
    * `centroidsOf`: a production pipeline trains ONCE (this call: the
    * sample collect + per-block driver Lloyd), persists the relation
    * next to the posting-list codes it quantized (parquet double
    * arrays round-trip exactly), and serves every later batch with
    * `knnPqFromStored` / re-encodes fresh vectors with
    * `pqCodesFromStored` — no per-query re-training. Codewords stay
    * DOUBLES (the Lloyd means' native width): floats would re-round
    * the fit and break the stored-serve ≡ in-session-trained
    * byte-identity the round-trip spec pins. `pq_params_fp` stamps
    * the serving constants on every row; loading raises on mismatch.
    * EAGER evaluation semantics like `centroidsOf` (the training
    * sample collects at build time).
    */
  def codebooksOf(emb: DataFrame, blocks: Int = PqBlocks,
      codebook: Int = PqCodebookSize, iters: Int = PqLloydIters,
      sampleCap: Int = IvfTrainSampleCap): DataFrame = {
    val cbs = pqTrainCodebooks(emb, blocks, codebook, iters, sampleCap)
    val s = emb.sparkSession
    import s.implicits._
    cbs.zipWithIndex.flatMap { case (cb, b) =>
      cb.zipWithIndex.map { case (cw, c) =>
        (b.toLong, c.toLong, cw.toSeq, PqParamsFingerprint)
      }
    }.toSeq.toDF("block", "code", "codeword", "pq_params_fp")
  }

  /** ADC top-k SERVED FROM STORED CODEBOOKS — the reload half of the
    * `codebooksOf` contract: collects the (≤ `PqMaxStoredCodewords`
    * by contract, enforced) codebook relation, verifies every row's
    * `pq_params_fp` against this build's constants, and runs the
    * exact serving machinery `knnPqTrained` runs — same `knnPqFrom`
    * plan, same LUT arithmetic, same tie-breaks — so results are
    * bit-identical to serving the just-trained codebooks
    * (round-trip-pinned). A bare 3-column relation (no fingerprint
    * column) skips the check, like the stored-centroid loader.
    */
  def knnPqFromStored(codebooks: DataFrame, emb: DataFrame,
      k: Int = DefaultK, nQueries: Long = DefaultQueries): DataFrame = {
    val cbs = loadStoredCodebooks(codebooks)
    if (cbs.isEmpty) return emptyRanked(emb, "adc_fp")
    knnPqFrom(emb, cbs, k, nQueries)
  }

  /** The stored-codebook loader every consumer shares
    * (`knnPqFromStored` serving, `pqCodesFromStored` ingest,
    * `knnPqFromCodes` coded serving): bounded collect, loud
    * fingerprint / cap / id-contiguity / ragged-shape guards,
    * per-block double arrays in (block, code) order.
    */
  private def loadStoredCodebooks(
      codebooks: DataFrame): Seq[Array[Array[Double]]] = {
    val rows = collectStored(codebooks, Seq("block", "code", "codeword"),
      "pq_params_fp", PqParamsFingerprint, PqMaxStoredCodewords,
      "PqMaxStoredCodewords", "codebooksOf")
    if (rows.isEmpty) return Seq.empty
    val byBlock = rows.groupBy(_.getLong(0))
    val blockIds = byBlock.keys.toSeq.sorted
    requireDenseIds(blockIds, "stored codebook block ids")
    val cbs = blockIds.map { b =>
      val inBlock = byBlock(b).sortBy(_.getLong(1))
      requireDenseIds(inBlock.map(_.getLong(1)).toSeq,
        s"stored codeword ids in block $b")
      inBlock.map(_.getSeq[Number](2).map(_.doubleValue()).toArray)
    }
    require(cbs.map(_.length).distinct.size == 1,
      s"stored codebook blocks disagree on codeword count: " +
        s"${cbs.map(_.length).mkString(", ")}")
    require(cbs.flatMap(_.map(_.length)).distinct.size == 1,
      "stored codewords disagree on width — a ragged export cannot " +
        "have come from codebooksOf")
    cbs
  }

  /** Collect a stored fit relation's `cols` (plus its params stamp
    * `fpCol` when present), bounded and loud: more than `cap` rows is a
    * wrong-table error, and a row stamped under other build constants
    * than `expected` raises. A relation without the stamp column skips
    * the check.
    */
  private def collectStored(rel: DataFrame, cols: Seq[String], fpCol: String,
      expected: Long, cap: Int, capName: String, exporter: String): Array[Row] = {
    val hasFp = rel.columns.contains(fpCol)
    val rows = rel.select((cols ++ Seq(fpCol).filter(_ => hasFp)).map(col): _*)
      .collect()
    require(rows.length <= cap,
      s"stored relation has ${rows.length} rows — the contract caps it at " +
        s"$capName = $cap (is this really a $exporter export?)")
    if (hasFp) rows.foreach { r =>
      val fp = r.getLong(cols.length)
      require(fp == expected,
        s"stored relation was exported under $fpCol $fp != this build's " +
          s"$expected — the serving constants changed; re-export " +
          s"$exporter with this build")
    }
    rows
  }

  /** Stored ids, ascending, must be exactly 0..n-1 (the export layout):
    * a hole is refused, never silently re-indexed.
    */
  private def requireDenseIds(ids: Seq[Long], what: String): Unit =
    ids.zipWithIndex.foreach { case (id, i) =>
      require(id == i.toLong,
        s"$what must be exactly 0..n-1; found $id at position $i")
    }

  /** Content hash of a loaded codebook set — FNV-1a over the exact
    * double BITS (plus shape), the PQ twin of `centroidContentFp`:
    * two codebook relations hash equal iff they decode to identical
    * codewords in identical (block, code) order. Stamped onto every
    * `pqCodesFromStored` output row as `pq_cbs_fp` and verified at
    * `knnPqFromCodes` serve time — codes persisted under re-trained
    * codebooks would otherwise decode through LUTs that no longer
    * mean the same thing and serve silently wrong neighbors.
    */
  private[graft] def pqCodebookContentFp(
      cbs: Seq[Array[Array[Double]]]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    mix(cbs.length.toLong)
    cbs.foreach { cb =>
      mix(cb.length.toLong)
      cb.foreach { v =>
        mix(v.length.toLong)
        v.foreach(d => mix(java.lang.Double.doubleToLongBits(d)))
      }
    }
    h
  }

  /** INGEST-side PQ encoding from the stored codebooks — the persist
    * leg of the train-once contract: `codebooksOf` (train + export) →
    * `pqCodesFromStored` (encode every incoming vector to its
    * posting-list codes at ingest, persist them instead of — or
    * alongside — the raw vector) → `knnPqFromCodes` (serve ADC from
    * the stored codes without ever touching corpus embeddings).
    * Returns `(vec_id, codes: array<int>, pq_cbs_fp)`: `codes` is the
    * 1-BASED per-block codeword positions — the EXACT array
    * `knnPqFrom`'s materialization barrier computes (shared
    * `pqCodeArray`), so persisted codes are bit-identical to the ones
    * an in-session serve would assign; `pq_cbs_fp` is the content
    * hash of the codebooks that minted them, the staleness stamp the
    * serve verifies. One map stage over `emb`, zero shuffle; at 100
    * TB this is the pass that shrinks a float corpus ~64× into the
    * index that actually gets scanned.
    */
  def pqCodesFromStored(codebooks: DataFrame, emb: DataFrame): DataFrame = {
    val cbs = loadStoredCodebooks(codebooks)
    val fp = pqCodebookContentFp(cbs)
    if (cbs.isEmpty)
      return emb.select(col("vec_id"),
        array().cast("array<int>").as("codes"), lit(fp).as("pq_cbs_fp"))
        .filter(lit(false))
    emb.select(col("vec_id"), pqCodeArray(cbs).as("codes"),
      lit(fp).as("pq_cbs_fp"))
  }

  /** ADC top-k over a PRE-ENCODED corpus — the payoff leg of the PQ
    * train-once contract: the corpus side of the serve reads ONLY the
    * stored `(vec_id, codes)` relation (`blocks` ints per vector —
    * the ~64× compression PQ exists for); raw embeddings appear only
    * on the tiny query side (`queryEmb`, same `vec_id < nQueries`
    * convention as every knn serve — pass the embeddings table, or
    * any relation holding the query vectors). The LUT arithmetic,
    * exclusion filter and tie-breaks are the exact `adcServe` objects
    * `knnPqTrained` uses, so over codes stamped by
    * `pqCodesFromStored` under the same codebooks the result is
    * bit-identical to the in-session serve (spec-pinned).
    *
    * CONTRACT: `codes` must have been minted by `pqCodesFromStored`
    * under this same codebook relation — and the contract is CHECKED:
    * when the corpus carries the `pq_cbs_fp` stamp, every row's stamp
    * is verified against the content hash of the codebooks NOW loaded
    * (a per-row long compare riding the serve's own scan, wrapped
    * around `codes` — never joined or filtered on, so no plan shape
    * changes), raising loudly on the first stale row instead of
    * decoding through re-trained LUTs that silently mean something
    * else. Pre-stamp relations without the column skip the check.
    */
  def knnPqFromCodes(codebooks: DataFrame, codedCorpus: DataFrame,
      queryEmb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries): DataFrame = {
    require(codedCorpus.columns.contains("codes"),
      "codedCorpus must carry the persisted `codes` column from " +
        "pqCodesFromStored — for a raw corpus use knnPqFromStored")
    val cbs = loadStoredCodebooks(codebooks)
    if (cbs.isEmpty) return emptyRanked(queryEmb, "adc_fp")
    val qRows = adcQueries(queryEmb, nQueries)
    if (qRows.isEmpty) return emptyRanked(queryEmb, "adc_fp")
    val codes =
      if (!codedCorpus.columns.contains("pq_cbs_fp")) col("codes")
      else stampGuard(col("codes"), "pq_cbs_fp", pqCodebookContentFp(cbs),
        StalePqCodes)
    adcServe(codedCorpus.select(col("vec_id"), codes.as("codes")),
      qRows, cbs, k)
  }

  /** The FULL stored IVFPQ serve — the production billion-scale ANN
    * layout assembled entirely from persisted relations (FAISS's
    * IndexIVFPQ on disk): `centroids` (`centroidsOf`) prune the
    * search to each query's probed cells, `codebooks` (`codebooksOf`)
    * decode the candidates, and `indexedCorpus` is the posting-list
    * relation a real deployment stores — `(vec_id, cell, codes)` from
    * `ivfAssignFromStored ⋈ pqCodesFromStored`, stamped by BOTH
    * content fingerprints. Corpus embeddings are never read: cells
    * were stamped at ingest, distances come from per-query LUTs
    * against the stored codebooks. Raw vectors appear only on the
    * tiny query side (`queryEmb`, the shared `vec_id < nQueries`
    * convention).
    *
    * Exactness laws (spec-pinned): probing EVERY cell degenerates to
    * `knnPqFromCodes` bit-exactly (same codes, same LUTs, same
    * tie-breaks — the IVF layer prunes candidates and changes nothing
    * else); at the default nProbe the candidate relation meets
    * ~|corpus|·nProbe/cells rows. Both staleness stamps are verified
    * PER ROW riding the `codes` column (never joined or filtered on):
    * a corpus stamped under re-trained centroids OR re-trained
    * codebooks raises loudly instead of serving neighbors whose cells
    * or codes silently mean something else.
    */
  def knnIvfPqFromStored(centroids: DataFrame, codebooks: DataFrame,
      indexedCorpus: DataFrame, queryEmb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries, nProbe: Int = IvfNProbe): DataFrame =
    topKAsc(ivfPqScoredFromStored(centroids, codebooks, indexedCorpus,
      queryEmb, nQueries, nProbe), "adc_fp", k)

  /** The pre-top-k candidate relation of `knnIvfPqFromStored` —
    * exposed for the pruning-contract spec (candidates ≈
    * |corpus|·nProbe/cells, the IVF promise).
    */
  private[graft] def ivfPqScoredFromStored(centroids: DataFrame,
      codebooks: DataFrame, indexedCorpus: DataFrame, queryEmb: DataFrame,
      nQueries: Long = DefaultQueries, nProbe: Int = IvfNProbe): DataFrame = {
    require(indexedCorpus.columns.contains("cell") &&
      indexedCorpus.columns.contains("codes"),
      "indexedCorpus must carry the persisted `cell` and `codes` " +
        "columns (ivfAssignFromStored ⋈ pqCodesFromStored)")
    val (cents, centsFp) = loadStoredCentroids(centroids)
    val cbs = loadStoredCodebooks(codebooks)
    if (cents.isEmpty || cbs.isEmpty) return emptyRanked(queryEmb, "adc_fp")
    val qRows = adcQueries(queryEmb, nQueries)
    if (qRows.isEmpty) return emptyRanked(queryEmb, "adc_fp")
    val stamps = indexedCorpus.columns
    val cellChecked =
      if (!stamps.contains("ivf_cents_fp")) col("codes")
      else stampGuard(col("codes"), "ivf_cents_fp", centsFp, StaleCells)
    val codes =
      if (!stamps.contains("pq_cbs_fp")) cellChecked
      else stampGuard(cellChecked, "pq_cbs_fp", pqCodebookContentFp(cbs),
        StalePqCodes)
    ivfAdcCandidates(
      indexedCorpus.select(col("vec_id"), col("cell"), codes.as("codes")),
      probeRank(withNorm(queryEmb), cents, nQueries, nProbe), qRows, cbs)
  }

  /** Hints of the two content-stamp guards (`stampGuard`): a stored
    * corpus whose cells or codes were minted under other centroids or
    * codebooks than the ones now loaded.
    */
  private val StaleCells = "stale cell stamp: the corpus was assigned " +
    "under other centroids (re-trained index?); re-run ivfAssignFromStored"
  private val StalePqCodes = "stale PQ codes: the corpus was encoded " +
    "under other codebooks (re-trained codebooks?); re-run pqCodesFromStored"

  /** Quantization grain for `labelCentroids` element sums (ppm). */
  val CentroidQuantPpm = 1000000L

  /** Per-label embedding centroids with INTEGER arithmetic — the
    * cluster-diagnostic / class-prototype primitive (SemDeDup prunes
    * within k-means clusters by distance-to-centroid; label-balance
    * audits compare class prototypes). A float mean is a cross-row
    * float sum — accumulation-order-dependent, so it can never sit on
    * a hash-checked output (the repo's float-parity rule). Instead
    * each element quantizes FIRST (`⌊x · 1e6⌋`, exact per-row), and
    * the per-(label, dim) output is the exact long sum of those
    * quanta plus the count and their integer-div mean — deterministic
    * across engines and partitionings, with quantization error ≤ 1ppm
    * per element, and consumers can recover a float centroid as
    * `mean_ppm / 1e6`.
    *
    * Scale shape: one map-side-combined aggregation keyed by
    * (label, dim) over the exploded corpus — labels × dims groups; at
    * 100 TB the partial aggregates bound the shuffle, nothing else
    * moves.
    */
  def labelCentroids(emb: DataFrame, labelCol: String = "label"): DataFrame =
    emb
      .select(col(labelCol).cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("label"), col("dim").cast("long").as("dim"),
        floor(col("xf").cast("double") * lit(CentroidQuantPpm.toDouble))
          .cast("long").as("q"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sum_ppm"))
      // TRUNCATING division on either sign: Spark's `div` and DuckDB's
      // `//` both truncate toward zero on integers (verified: -7//2 =
      // -3 in DuckDB), so the plain quotient is engine-identical —
      // consumers wanting floor semantics derive it from sum + count
      .withColumn("mean_ppm", expr("sum_ppm div n_vecs"))

  /** EMBEDDING DRIFT between two corpus epochs — the vector twin of
    * the rate-monitoring family (spike/cusum/seasonal watch counts;
    * this watches the GEOMETRY): per label, the squared L2 distance
    * between the old and fresh epoch's quantize-first integer
    * centroids (`labelCentroids` arithmetic verbatim on both sides),
    * with both epochs' membership counts. An embedding-model upgrade,
    * a data-mix shift, or an upstream encoder bug all land here as a
    * per-label `drift_ppm2` step — BEFORE recall gates degrade.
    * Labels present in only one epoch are omitted (no centroid to
    * compare against; membership deltas are the profile family's
    * job).
    *
    * Scale shape: two label×dim-keyed aggregations (map-side
    * combined, #labels·dims groups) and a join ON that tiny relation
    * — the corpora stream through once each, nothing vector-sized
    * shuffles.
    */
  def embeddingDrift(old: DataFrame, fresh: DataFrame): DataFrame = {
    val a = labelCentroids(old).select(col("label"), col("dim"),
      col("mean_ppm").as("m0"), col("n_vecs").as("nv0"))
    val b = labelCentroids(fresh).select(col("label"), col("dim"),
      col("mean_ppm").as("m1"), col("n_vecs").as("nv1"))
    a.join(b, Seq("label", "dim"))
      .groupBy("label")
      .agg(max(col("nv0")).as("n_old"), max(col("nv1")).as("n_fresh"),
        sum((col("m1") - col("m0")) * (col("m1") - col("m0")))
          .as("drift_ppm2"))
  }

  /** Seed count for the oracled Lloyd-step gate. Same constant MUST
    * appear in the oracle SQL.
    */
  val LloydK = 8

  /** ONE EXACT LLOYD ROUND from the hash-anchored init — the k-means
    * training STEP as an oracle-checkable relation, DISTRIBUTED (the
    * map-only assignment + (cent, dim)-keyed aggregation shape a
    * full-corpus training round runs at scale). The trained-IVF
    * family (`trainCentroids`/`centroidsOf`) iterates this same
    * arithmetic driver-side over its cap-bounded sample — since the
    * exact-Lloyd rewrite the whole family is hash-ORACLED, with this
    * gate as the step's distributed reference. It pins the arithmetic
    * itself: init = the k smallest `(poly_hash(vec_id), vec_id)`
    * corpus vectors (the repo's standard RNG-free sample), assignment
    * = exact FLAT squared-L2 argmin (per-centroid sequential left
    * fold, tie → smaller cent_id — deliberately flat, not the
    * two-level serving kernel: a training step wants the exact
    * partition), update = the `labelCentroids` quantize-FIRST integer
    * mean (⌊x·1e6⌋ longs summed, truncating div), so every output
    * cell is an exact integer both engines reproduce bit-for-bit.
    * Output one row per (cent_id, dim): the updated centroid in ppm
    * fixed point plus its member count.
    *
    * Scale shape: map-ONLY assignment (k centroid arrays ship as
    * literals in the projection — k·dims doubles), then one
    * (cent_id, dim)-keyed aggregation of quantized elements with
    * map-side combine: k·dims groups. Nothing corpus-sized shuffles;
    * iterating the step is k·dims-bounded driver state per round —
    * exactly `trainCentroids`' contract, here priced per round.
    */
  def lloydStep(emb: DataFrame, k: Int = LloydK): DataFrame = {
    require(k >= 1 && k <= IvfMaxCells,
      s"lloydStep needs k in [1, $IvfMaxCells], got $k")
    val init = hashPrefix(emb, "vec_id", k)
      .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"))
      .collect().sortBy(_.getLong(0))
    if (init.isEmpty)
      return emb.select(col("vec_id").as("cent_id"),
        col("vec_id").as("dim"), col("vec_id").as("n_vecs"),
        col("vec_id").as("sum_ppm"), col("vec_id").as("mean_ppm"))
        .filter(lit(false))
    // struct-min = (d2 asc, cent_id asc) argmin, built by ONE
    // transform over the centroid-MATRIX literal rather than k
    // inlined struct branches: the branch form blew past Janino's
    // method limit and fell back to INTERPRETED evaluation — 415 s
    // for the 80k rehearsal; the loop form codegens and runs it in
    // seconds, with identical doubles and tie-breaks
    val centIds = lit(init.map(_.getLong(0)))
    val centMat = typedlit(init.map(
      _.getSeq[Number](1).map(_.doubleValue()).toSeq).toSeq)
    val cell = array_min(
      transform(sequence(lit(0), lit(init.length - 1)), i =>
        struct(
          aggregate(
            zip_with(col("embedding"), element_at(centMat, i + 1),
              (a, b) => {
                val t = a.cast("double") - b
                t * t
              }),
            lit(0.0), (s, v) => s + v).as("d"),
          element_at(centIds, i + 1).as("id"))))
      .getField("id")
    // MATERIALIZE the assignment before the explode — the knnPqFrom
    // barrier lesson: without it Catalyst collapses the projections
    // and re-inlines the k×dims argmin into EVERY exploded dim row
    // (64× re-evaluation, interpreted); measured 415 s → ~9 s at the
    // 80k rehearsal with the barrier
    val assigned = graft.Caches.track(
      emb.select(cell.as("cent_id"), col("embedding"))
        .persist(StorageLevel.MEMORY_AND_DISK))
    assigned.select(col("cent_id"),
        posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("cent_id"), col("dim").cast("long").as("dim"),
        floor(col("xf").cast("double") * lit(CentroidQuantPpm.toDouble))
          .cast("long").as("q"))
      .groupBy("cent_id", "dim")
      .agg(count(lit(1)).as("n_vecs"), sum(col("q")).as("sum_ppm"))
      .withColumn("mean_ppm", expr("sum_ppm div n_vecs"))
  }

  /** Result size for the embedding-outlier report. Same constant MUST
    * appear in the oracle SQL.
    */
  val OutlierK = 20

  /** Label-conditioned OUTLIER report — the mislabel/contamination
    * detector: the k vectors farthest (squared distance, exact ppm²
    * integer arithmetic) from their OWN label's centroid. A clean
    * corpus puts class prototypes near their members; the top of this
    * ranking is where mislabeled rows, corrupted vectors and
    * out-of-distribution contamination surface first. Reuses the
    * `labelCentroids` quantize-FIRST integer means, so there is no
    * float aggregation anywhere: diff = q(x) − mean_ppm, d2 = Σ diff²
    * (≤ 4e12 per dim — 64 dims stay far under 2^63).
    *
    * Shape: one exploded-corpus pass joined against the broadcast
    * (labels × dims) centroid relation, one vec-keyed sum, one
    * TakeOrdered top-k — no corpus self-join, no window.
    */
  def embeddingOutliers(emb: DataFrame, k: Int = OutlierK,
      labelCol: String = "label"): DataFrame = {
    val cents = labelCentroids(emb, labelCol)
      .select(col("label"), col("dim"), col("mean_ppm"))
    val x = emb.select(col("vec_id"), col(labelCol).cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("label"), col("dim").cast("long").as("dim"),
        floor(col("xf").cast("double") * lit(CentroidQuantPpm.toDouble))
          .cast("long").as("q"))
    val d2 = x.join(broadcast(cents), Seq("label", "dim"))
      .select(col("vec_id"), col("label"),
        ((col("q") - col("mean_ppm")) * (col("q") - col("mean_ppm"))).as("dd"))
      .groupBy("vec_id", "label").agg(sum("dd").as("d2"))
    d2.orderBy(col("d2").desc, col("vec_id").asc).limit(k)
      .select(col("vec_id"), col("label"), col("d2"))
  }

  /** Driver-side cap on labels × dims for `silhouetteByLabel`'s
    * centroid collect — the same bounded-collect discipline as the IVF
    * centroid export (a label taxonomy is a FIXED vocabulary, not a
    * data-sized relation; blowing past this means the label column is
    * not a label column).
    */
  val SilhouetteMaxCentroidCells = 65536

  /** Per-LABEL simplified silhouette — the clustering-quality
    * diagnostic that says whether a label taxonomy (or a k-means
    * assignment re-stamped as labels) actually separates in embedding
    * space: for each vector, `a` = squared distance to its OWN label
    * centroid, `b` = min squared distance to any OTHER label centroid,
    * and the silhouette is `(b − a) / max(a, b)` ∈ [−1, 1] (the
    * "simplified" centroid form of Rousseeuw's statistic — the exact
    * form needs all pairwise distances, O(n²) at corpus scale; the
    * centroid form is the one production audits run). Output one row
    * per label: member count, mean/min/max silhouette in ppm, and
    * `n_closer_other` — members strictly closer to a foreign centroid
    * (the mislabel-suspect count `embeddingOutliers` ranks
    * individually).
    *
    * Arithmetic contract (float-parity rule): distances reuse the
    * `labelCentroids` quantize-FIRST integer pipeline, so `a`, `b` are
    * exact longs; the per-row silhouette is the fixed chain
    * `⌊(b−a)/max(a,b) · 1e6⌋` — one double divide of exact longs
    * (≤ dims·(2·1e6)² ≈ 2.6e14 < 2^53, so the long→double casts are
    * exact and the IEEE divide is bit-deterministic) — and every
    * cross-row aggregate is an integer SUM/MIN/MAX/COUNT. (A direct
    * `(b−a)·1e6` long product would overflow at 64 dims — hence
    * divide-then-scale, not scale-then-divide.) Vectors of a label
    * with no OTHER label present never reach the output (b is
    * undefined); a single-label corpus yields an empty relation, not
    * an error.
    *
    * Scale shape: the (labels × dims) centroid relation collects to
    * the driver (require-capped — labels are a vocabulary, not data)
    * and comes back as LITERAL arrays, so the corpus pass is pure
    * map: one `zip_with`/`aggregate` fold per label per row inside
    * whole-stage codegen — no explode, no join, no shuffle until the
    * final #labels-row aggregation (map-side combined). The exploded
    * broadcast-join alternative (the `embeddingOutliers` shape)
    * shuffles corpus·dims·labels partial rows; at 100 TB that is the
    * difference between a scan and a shuffle.
    */
  def silhouetteByLabel(emb: DataFrame,
      labelCol: String = "label"): DataFrame = {
    val spark = emb.sparkSession
    val cents = labelCentroids(emb, labelCol)
      .select(col("label"), col("dim"), col("mean_ppm")).collect()
    require(cents.length <= SilhouetteMaxCentroidCells,
      s"silhouetteByLabel: ${cents.length} (label, dim) centroid cells " +
        s"exceed $SilhouetteMaxCentroidCells — the label column is " +
        "data-sized, not a taxonomy")
    val byLabel: Seq[(Long, Array[Long])] = cents
      .groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .map { case (l, rs) =>
        l -> rs.sortBy(_.getLong(1)).map(_.getLong(2))
      }
    if (byLabel.size < 2) {
      import spark.implicits._
      return Seq.empty[(Long, Long, Long, Long, Long, Long)]
        .toDF("label", "n_vecs", "mean_s_ppm", "min_s_ppm", "max_s_ppm",
          "n_closer_other")
    }
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * lit(CentroidQuantPpm.toDouble))
        .cast("long"))
    // one integer-exact fold per label. Width contract: vectors must
    // match the centroid width (zip_with pads the short side with
    // null, which nulls the whole fold) — a ragged vector surfaces as
    // a null silhouette, never a silently-truncated distance.
    val dists = array(byLabel.map { case (_, m) =>
      aggregate(
        zip_with(q, typedLit(m.toSeq), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v)
    }: _*)
    val ownIdx = byLabel.zipWithIndex
      .foldLeft(lit(-1)) { case (acc, ((l, _), i)) =>
        when(col(labelCol).cast("long") === lit(l), lit(i)).otherwise(acc)
      }
    val a = element_at(col("ds"), col("own_idx") + 1)
    val b = array_min(zip_with(col("ds"),
      sequence(lit(0), lit(byLabel.size - 1)),
      (d, i) => when(i === col("own_idx"), lit(Long.MaxValue)).otherwise(d)))
    val sPpm = when(greatest(a, b) === 0L, lit(0L))
      .otherwise(floor((b - a).cast("double") / greatest(a, b).cast("double")
        * lit(1000000.0)).cast("long"))
    emb
      .select(col(labelCol).cast("long").as("label"), col("embedding"))
      .withColumn("ds", dists).withColumn("own_idx", ownIdx)
      // a label absent from the centroid relation cannot occur (the
      // centroids came from this same relation) — but keep the guard
      // total rather than undefined
      .filter(col("own_idx") >= 0)
      .select(col("label"), sPpm.as("s_ppm"),
        (b < a).cast("long").as("closer_other"))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vecs"),
        expr("sum(s_ppm) div count(1)").as("mean_s_ppm"),
        min("s_ppm").as("min_s_ppm"), max("s_ppm").as("max_s_ppm"),
        sum("closer_other").as("n_closer_other"))
  }

  /** Output width of `randomProject` (16 of the testdata's 64 dims —
    * 4× less bandwidth per vector, the same compression the truncated
    * `TruncDims` gates price by a different mechanism). Same constant
    * MUST appear in the oracle SQL.
    */
  val RpDims = 16

  /** DECLARED input width for `randomProject` — the sign matrix is a
    * static (inDims × pdims) artifact, so the input width is part of
    * the projection's identity (two corpora projected at different
    * declared widths are not comparable). A vector shorter than the
    * declared width surfaces as a NULL projection (zip_with pads with
    * null and nulls the fold), never a silently-truncated one.
    */
  val RpInDims = 64

  /** Sign cell (i, j) of the projection matrix: ±1 from the parity of
    * the PRE-MIXED PolyHash over the salted cell name — deterministic,
    * engine-reproducible (the oracle derives the SAME matrix in SQL),
    * and independent of `hashSplit`/sampling hashes by the "rp:" salt.
    *
    * The pre-mix (`profileHll`'s device, same measured failure mode):
    * adjacent cell names differ by a trailing digit, and a rolling
    * hash of a short string is AFFINE in that digit — the raw parity
    * column came out perfectly rank-1 (every j-column identical up to
    * global sign; measured recall 0 where Rademacher gives 0.1).
    * Combining both PolyHashes (`h1·Mod2 + h2`), re-rendering the
    * ~18-digit decimal and hashing again forces full mod-reduction
    * chains, and the measured matrix matches i.i.d. Rademacher
    * statistics (max |column correlation| 0.34 at 64×16 — the ~2/√64
    * a random matrix gives).
    */
  private[graft] def rpSign(i: Int, j: Int): Long = {
    import graft.functions.PolyHashUtil.{hash, hash60}
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    val mixed = hash60(u(s"rp:$i:$j"))
    if (hash(u(mixed.toString)) % 2 == 0) 1L else -1L
  }

  /** Signed random projection (Achlioptas/JL): y_j = Σ_i s_ij · q_i
    * over the ppm-quantized elements, s_ij ∈ {±1} from `rpSign` — the
    * dimensionality-reduction primitive for cheap retrieval tiers and
    * clustering sketches, entirely in EXACT integer arithmetic
    * (|y| ≤ 64 · 2e6 ≈ 1.3e8, nowhere near overflow; no RNG — the
    * matrix regenerates identically on every engine from the hash).
    * Output one (vec_id, pdim, y) row per projected coordinate.
    *
    * Scale shape: the sign matrix is a compile-time literal (inDims ×
    * pdims ≤ 1024 longs), so the projection is a pure map stage — one
    * zip_with/aggregate fold per output dim inside whole-stage
    * codegen; no shuffle, no join, no stats pass. (The SQL twin joins
    * an exploded grid instead — integer-exact, so the arithmetic
    * SHAPE may differ; only float chains must mirror token-for-token.)
    */
  def randomProject(emb: DataFrame, pdims: Int = RpDims,
      inDims: Int = RpInDims): DataFrame =
    emb.select(col("vec_id"),
        posexplode(projArray(pdims, inDims)).as(Seq("pdim", "y")))
      .select(col("vec_id"), col("pdim").cast("long").as("pdim"), col("y"))

  /** The projected-vector array column (length `pdims`, exact longs). */
  private def projArray(pdims: Int, inDims: Int): Column = {
    val q = transform(col("embedding"),
      x => floor(x.cast("double") * lit(CentroidQuantPpm.toDouble))
        .cast("long"))
    array((0 until pdims).map { j =>
      val signs: Seq[Long] = (0 until inDims).map(i => rpSign(i, j))
      aggregate(
        zip_with(q, typedLit(signs), (a, s) => a * s),
        lit(0L), (acc, v) => acc + v)
    }: _*)
  }

  /** Exact top-k by squared L2 in the PROJECTED space — the serving
    * tier `randomProject` buys: 16-long vectors instead of 64 floats,
    * distances in exact long arithmetic (pd2 ≤ 16 · (2.6e8)² ≈ 1e18 <
    * 2^63 — no floats anywhere in this operator). Same broadcast-the-
    * query-side scan + TopKPerKey shape as `knnBruteL2`; its recall
    * against the full-width exact ranking is the `knn_project_recall`
    * gate — the number that decides whether the 4× cheaper tier is
    * usable as a first pass.
    */
  def knnProjected(emb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries, pdims: Int = RpDims,
      inDims: Int = RpInDims): DataFrame = {
    val proj = emb.select(col("vec_id"), projArray(pdims, inDims).as("p"))
    val queries = proj.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("p").as("q_p"))
    val scored = proj.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        aggregate(zip_with(col("q_p"), col("p"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, v) => acc + v).as("pd2"))
    topKAsc(scored, "pd2", k)
  }

  /** Embedding near-dup pairs: cosine ≥ threshold, candidates from the
    * banded LSH self-join. Ids-first plan: the band join shuffles ONLY
    * (band_idx, band_val, vec_id) — never embeddings — then the
    * distinct candidate pairs fetch both embeddings back by vec_id for
    * the exact-cosine verify. The sf0.01 corpus's planted clusters peak
    * near cosine 0.5, so the default threshold sits below that — high
    * enough to be selective, low enough to return pairs.
    */
  def nearDupPairs(emb: DataFrame, threshold: Double = 0.30,
      bands: Int = LshBands, bandBits: Int = AdaptiveBandBits,
      corpusSize: Long = -1L): DataFrame = {
    // SESSION-MEMOIZED verified cosine relation (the ngramJaccard
    // discipline one modality over): `embedding_neardup`,
    // `embedding_clusters`, `embedding_survivors_best` and the
    // threshold curve's -1.0 sweep all run the identical
    // sign-LSH band join + exact-cosine verify over the same corpus —
    // the dominant cost of each. The THRESHOLD is applied per call
    // over the memoized unfiltered relation (identical semantics,
    // including Spark's NaN-above-threshold ordering), so the 0.30
    // gates and the curve share one build. Keyed on the
    // optimizer-collapsed (vec_id, embedding) projection plus the
    // band-geometry params; band-bit resolution (which counts the
    // corpus in the adaptive default) happens INSIDE the build, so a
    // memo hit also skips that count. `PlanMemo.hitsOf("neardup")`
    // exists for the spec.
    // SCALE NOTE (resident footprint): the memoized relation is the
    // UNFILTERED candidate set — sized by LSH band collisions, not by
    // the thresholded output — so its checkpoint retention grows with
    // candidate volume at larger corpora (bounded by the shared
    // store's LRU bound and the band geometry's collision rate). If
    // candidate volume outgrows the block store at a higher scale
    // factor, memoize at a floor threshold (min of the consumers')
    // instead of -inf and key it into the params string.
    val proj = emb.select(col("vec_id"), col("embedding"))
    val key = org.apache.spark.sql.graft.ColumnBridge.ofRows(
      emb.sparkSession, proj.queryExecution.optimizedPlan)
    graft.PlanMemo.getOrBuild(key, s"neardup|$bands|$bandBits|$corpusSize") {
      org.apache.spark.sql.graft.ColumnBridge.statsFreeLocalCheckpoint(
        nearDupPairsUncached(key, bands,
          resolveBandBits(key, bandBits, corpusSize)))
    }.filter(col("cosine") >= threshold)
  }

  /** The uncached, UNTHRESHOLDED verified-pair build `nearDupPairs`
    * memoizes: every band-collision candidate with its exact cosine.
    */
  private[graft] def nearDupPairsUncached(emb: DataFrame, bands: Int,
      bb: Int): DataFrame = {
    // signature pipeline feeds the band join AND both verify joins —
    // compute once (consumers release via graft.Caches.clear)
    val sig = graft.Caches.track(withNorm(emb)
      .withColumn("sig", lshSignature(col("embedding"), bands * LshBandStride))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val banded = sig.select(col("vec_id"),
      posexplode(bandCols("sig", bands, bb)).as(Seq("band_idx", "band_val")))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(sig.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
        col("n2").as("n2_a")), "vec_a")
      .join(sig.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
        col("n2").as("n2_b")), "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cosineFrom(dot(col("emb_a"), col("emb_b")), col("n2_a"), col("n2_b"))
          .as("cosine"))
  }

  /** Ingest-time export of hyperplane-LSH band keys for INCREMENTAL
    * embedding admission — the vector twin of
    * `StreamDedup.bandKeysOf`: one (vec_id, band_idx, band_val,
    * band_bits) row per band per vector, ~20 B × `LshBands` per
    * vector, the only corpus state `nearDupIncrementalVec` needs.
    *
    * `bandBits` must be PINNED by the pipeline (no adaptive default):
    * the batch operators widen the band mask as the corpus grows
    * (`bandBitsFor`), but keys persisted at one width never match
    * keys computed at another — an incremental corpus must choose its
    * width once, sized for the corpus it expects to GROW INTO (wider
    * = fewer false candidates, slightly more misses). The chosen
    * width is stamped on every row and admission raises on mismatch.
    *
    * Same persistence rule as the text band keys: append keys of the
    * WHOLE batch, admitted and rejected vectors alike (candidate
    * chains collapse to first ingestion; see `bandKeysOf`). Zero (or
    * all-negative-projection) vectors all share signature 0 and so
    * collide with each other — filter degenerate vectors upstream if
    * that is not the contract you want.
    */
  def vecBandKeysOf(emb: DataFrame, bandBits: Int): DataFrame = {
    require(bandBits >= 1 && bandBits <= LshBandStride,
      s"bandBits must be in [1, $LshBandStride], got $bandBits")
    emb
      .select(col("vec_id"),
        lshSignature(col("embedding"), LshSigBits).as("sig"))
      .select(col("vec_id"),
        posexplode(bandCols("sig", LshBands, bandBits))
          .as(Seq("band_idx", "band_val")))
      .withColumn("band_bits", lit(bandBits))
  }

  /** The `band_val` of stored `vecBandKeysOf` rows, checked per row
    * against the width this reader pins: keys exported at another
    * `band_bits` raise instead of joining bands that mean different
    * things. Keys without the stamp column are read unchecked.
    */
  private def pinnedBandVal(keys: DataFrame, bandBits: Int): Column =
    if (!keys.columns.contains("band_bits")) col("band_val")
    else stampGuard(col("band_val"), "band_bits", bandBits.toLong,
      "stored vector band keys were exported at another band width; the " +
        "width is pinned at ingest, re-export vecBandKeysOf to change it")

  /** Incremental embedding admission over stored band keys: returns
    * the vectors of `fresh` none of whose LSH bands appear on any
    * corpus vector or earlier fresh vector (earlier = vec_id order).
    * CANDIDATE-level semantics, deliberately — the same bounded-state
    * trade as `StreamDedup.nearDupStreaming` and the text keys form:
    * a dissimilar vector sharing one band is a false rejection at the
    * LSH rate (tune with wider `bandBits`), and verification (which
    * needs corpus embeddings, not keys) stays in the batch operators
    * (`nearDupPairs` → `Dedup.dupClusters`). Per-batch cost:
    * one signature pass over the fresh vectors, band-key- and
    * id-width shuffles, a narrow columnar corpus read — corpus
    * embeddings are never touched.
    *
    * PRECONDITIONS: corpus/fresh vec_ids disjoint, `fresh` ids
    * unique, `corpusKeys` holds every band row of every vector ever
    * ingested at THIS `bandBits` (enforced via the stamped column).
    */
  def nearDupIncrementalVec(corpusKeys: DataFrame, fresh: DataFrame,
      bandBits: Int): DataFrame = {
    // NB: candidate-level admission is only usable while band buckets
    // stay sparse — the hyperplane band space is 2^bandBits (≤ 2^15),
    // so at ~100k+ corpus vectors nearly every fresh vector shares a
    // band with SOMETHING and admission over-rejects (measured in
    // ScaleRehearsal: 51 of 10k fresh admitted against a 100k uniform
    // corpus). Past that density use `nearDupIncrementalVecVerified`,
    // which keeps this operator's candidate generation but confirms
    // with exact cosine before rejecting.
    require(bandBits >= 1 && bandBits <= LshBandStride,
      s"bandBits must be in [1, $LshBandStride], got $bandBits")
    val bv = pinnedBandVal(corpusKeys, bandBits)
    val ck = corpusKeys.select(col("vec_id").as("doc_id"),
      lit(0L).as("ts"), col("band_idx"), bv.as("band_sig"))
    val fk = vecBandKeysOf(fresh, bandBits)
      .select(col("vec_id").as("doc_id"), lit(1L).as("ts"),
        col("band_idx"), col("band_val").as("band_sig"))
    graft.streaming.StreamDedup.electAllWon(ck.unionByName(fk))
      .join(fresh.select(col("vec_id").as("doc_id")), Seq("doc_id"),
        "left_semi")
      .select(col("doc_id").as("vec_id"))
  }

  /** VERIFIED incremental embedding admission — the form that holds
    * at corpus scale: band keys generate candidates exactly as
    * `nearDupIncrementalVec`, but a fresh vector is rejected only
    * when an exact cosine against the candidate confirms similarity
    * (`>= threshold`) — a band collision alone no longer rejects, so
    * the dense-bucket over-rejection of the candidate-level form
    * (ScaleRehearsal: 51/10k admitted at 100k corpus) disappears.
    *
    * The price is reading the CANDIDATE corpus vectors: `corpusEmb`
    * (the corpus table itself — id → embedding) is joined only for
    * ids that collided in some band, so with an id-partitioned/
    * bucketed corpus table the read is point-lookup-shaped, never a
    * corpus scan. State stays the band-key relation; nothing else
    * persists. In-batch chains collapse to first arrival like every
    * operator in this family: a verified pair rejects the LATER
    * vec_id whether or not the earlier one was itself admitted
    * (batch-cut-invariant given whole-batch key persistence).
    *
    * Zero-norm vectors produce NaN cosines and are never rejected by
    * the verify (no meaningful similarity exists); filter degenerate
    * vectors upstream if they should not be admitted.
    *
    * PRECONDITIONS: those of `nearDupIncrementalVec`, plus
    * `corpusEmb` must contain every vec_id present in `corpusKeys`.
    */
  def nearDupIncrementalVecVerified(corpusKeys: DataFrame,
      corpusEmb: DataFrame, fresh: DataFrame, bandBits: Int,
      threshold: Double = 0.30): DataFrame = {
    require(bandBits >= 1 && bandBits <= LshBandStride,
      s"bandBits must be in [1, $LshBandStride], got $bandBits")
    val bv = pinnedBandVal(corpusKeys, bandBits)
    val fNorm = withNorm(fresh)
    val fk = vecBandKeysOf(fresh, bandBits)
      .select(col("vec_id"), col("band_idx"), col("band_val"))
    val ck = corpusKeys.select(col("vec_id").as("__corp_id"),
      col("band_idx"), bv.as("band_val"))
    // corpus candidates: ids only through the band join, embeddings
    // fetched afterwards for the collided ids alone
    val corpCand = fk.join(ck, Seq("band_idx", "band_val"))
      .select(col("vec_id"), col("__corp_id")).distinct()
    val rejectedByCorpus = corpCand
      .join(corpusEmb.select(col("vec_id").as("__corp_id"),
        col("embedding").as("__c_emb")), "__corp_id")
      .join(fNorm.select(col("vec_id"), col("embedding").as("__f_emb"),
        col("n2").as("__f_n2")), "vec_id")
      .filter(cosineFrom(dot(col("__f_emb"), col("__c_emb")),
        col("__f_n2"), norm2(col("__c_emb"))) >= threshold)
      .select(col("vec_id"))
    // in-batch candidates: earlier fresh id rejects the later one on a
    // verified pair, admitted or not (chain collapse)
    val inBatch = fk.as("a").join(fk.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("__early"), col("b.vec_id").as("vec_id"))
      .distinct()
    val rejectedInBatch = inBatch
      .join(fNorm.select(col("vec_id").as("__early"),
        col("embedding").as("__e_emb"), col("n2").as("__e_n2")), "__early")
      .join(fNorm.select(col("vec_id"), col("embedding").as("__f_emb"),
        col("n2").as("__f_n2")), "vec_id")
      .filter(cosineFrom(dot(col("__e_emb"), col("__f_emb")),
        col("__e_n2"), col("__f_n2")) >= threshold)
      .select(col("vec_id"))
    fresh.select(col("vec_id"))
      .join(rejectedByCorpus.unionByName(rejectedInBatch), Seq("vec_id"),
        "left_anti")
  }

  // ---- IVF (inverted-file) ANN ----

  /** Centroid budget: cells = clamp(⌊√N⌋, 1, IvfMaxCells) — the
    * standard IVF balance point (√N cells of √N vectors each, so both
    * the per-query probe cost and the per-cell scan grow as √N). The
    * cap bounds the centroid broadcast (cells·d doubles) and the
    * driver-side grouping; past it, cells plateau and per-cell size
    * grows linearly again (at 10⁹ vectors: 4096 cells ≈ 244k
    * vectors/cell — the point where a production system re-trains
    * with a deeper index, not a wider one).
    *
    * Assignment cost is kept off the √N growth path by the TWO-LEVEL
    * assign (IvfAssignUtil.assign2): each row scores ⌈√cells⌉ coarse
    * anchors plus its anchor's ~cells/⌈√cells⌉ fine group — ~2·N^(1/4)
    * dot products per row instead of √N.
    */
  val IvfMaxCells = 4096
  val IvfNProbe = 2

  def ivfCells(n: Long): Int =
    math.min(IvfMaxCells.toLong,
      math.max(1L, math.sqrt(n.toDouble).toLong)).toInt

  /** Coarse anchor count for a given fine cell count — ⌈√cells⌉, the
    * 2-level sweet spot. SQL twin: CEIL(SQRT(k)) (same IEEE double
    * sqrt on both sides).
    */
  def ivfCoarseCells(cells: Int): Int =
    math.max(1, math.ceil(math.sqrt(cells.toDouble)).toInt)

  /** Cell count of an IVF fit: `nCells` when pinned, else
    * `ivfCells(N)` with N = `corpusSize` when known, else one count()
    * (metadata-only on a plain parquet scan, a full scan on derived
    * inputs).
    */
  private def cellsFor(emb: DataFrame, nCells: Int, corpusSize: Long): Int =
    if (nCells > 0) nCells
    else ivfCells(if (corpusSize >= 0L) corpusSize else emb.count())

  /** One IVF centroid set in the form every serve and ingest path
    * consumes: ids ascending (the assignment's tie-break order), the
    * vectors as doubles, their squared norms, and the same set as a
    * small local `(cent_id, c_emb, c_n2)` relation for the probe
    * ranking. Built in exactly two ways, which differ in ids and norms:
    * `hashAnchored` (the untrained layout) and `ofFloats` (trained or
    * stored float centroids). Coarse anchors are picked by
    * `poly_hash(cent_id)`, so merging the two would move cells.
    */
  private final case class Centroids(ids: Array[Long],
      vecs: Array[Array[Double]], n2: Array[Double], relation: DataFrame) {
    def isEmpty: Boolean = ids.isEmpty
  }

  private object Centroids {

    /** The untrained layout: the `cells` vectors of `corpus` (a
      * `withNorm` frame) with the smallest `(poly_hash(vec_id),
      * vec_id)`; cent_id = vec_id and n2 = the norm Spark computed.
      * The ≤ cells rows are collected once and ship inside the task
      * binary, as trained k-means centroids do in a production IVF;
      * the probe relation is rebuilt from the collected rows, so the
      * selection (a corpus scan and hash) never runs twice.
      */
    def hashAnchored(corpus: DataFrame, cells: Int): Centroids = {
      val sel = hashPrefix(corpus, "vec_id", cells)
        .select(col("vec_id").as("cent_id"), col("embedding").as("c_emb"),
          col("n2").as("c_n2"))
      val rows = sel.collect().sortBy(_.getLong(0))
      Centroids(rows.map(_.getLong(0)),
        rows.map(_.getSeq[Number](1).map(_.doubleValue()).toArray),
        rows.map(_.getDouble(2)),
        corpus.sparkSession.createDataFrame(
          java.util.Arrays.asList(rows: _*), sel.schema))
    }

    /** Float centroids, trained this session or reloaded: cent_id =
      * array index, and every derived value comes from the floats (n2
      * summed on the driver), so store → reload → serve is
      * bit-identical to serving in session. A ragged set is refused:
      * the two-level kernel reads `dim = flat.length / cells`, so mixed
      * widths would shift every offset and serve wrong cells silently.
      */
    def ofFloats(spark: SparkSession, cents: Array[Array[Float]]): Centroids = {
      val widths = cents.map(_.length).distinct.sorted
      require(widths.length <= 1,
        s"centroid vectors disagree on width (${widths.mkString(" vs ")}) " +
          "— a ragged set cannot have come from centroidsOf")
      val vecs = cents.map(_.map(_.toDouble))
      val n2 = vecs.map { v =>
        var acc = 0.0; var i = 0
        while (i < v.length) { acc += v(i) * v(i); i += 1 }
        acc
      }
      import spark.implicits._
      Centroids(Array.tabulate(cents.length)(_.toLong), vecs, n2,
        cents.indices.map(i => (i.toLong, cents(i), n2(i)))
          .toDF("cent_id", "c_emb", "c_n2"))
    }
  }

  /** The empty `(query_id, neighbor_id, cosine)` relation of a cosine
    * IVF serve with no centroids (or no probes).
    */
  private def emptyScored(corpus: DataFrame): DataFrame =
    corpus.select(col("vec_id").as("query_id"),
      col("vec_id").as("neighbor_id"), col("n2").as("cosine"))
      .filter(lit(false))

  /** IVF top-k: the corpus is partitioned into Voronoi cells around a
    * FIXED-SIZE centroid set — the `cells` vectors with the smallest
    * (poly_hash(vec_id), vec_id), i.e. a deterministic pseudo-random
    * sample, id-pinned so the SQL oracle reproduces it exactly (real
    * deployments train k-means; the plumbing is identical and stays
    * oracle-checkable). Each vector is assigned TWO-LEVEL: nearest of
    * ⌈√cells⌉ coarse anchors first, then nearest fine centroid within
    * that anchor's group (one map stage over the corpus, ~2·N^(1/4)
    * dot products per row); a query probes the `nProbe` fine cells
    * nearest to it (ranked globally — the query set is tiny). Join
    * keys are cell ids, so the search meets |corpus|·nProbe/cells
    * candidates instead of the whole corpus.
    *
    * Deterministic ordering everywhere: cosine desc, then id asc — and
    * cosines are bit-identical with the oracle (sequential fold), so
    * cell assignment ties break identically too.
    *
    * EAGER evaluation semantics: building this DataFrame runs up to
    * three driver-side jobs (a sizing count unless `nCells`/`corpusSize`
    * pins it, the TakeOrdered centroid selection, and its ≤ cells-row
    * collect), freezing the centroids against the input AT BUILD TIME.
    * The sizing count is metadata-only for a plain parquet scan but a
    * FULL SCAN for derived inputs (joins, generated frames) — callers
    * holding such inputs should pass `corpusSize` (or `nCells`) to skip
    * it.
    */
  def knnIvf(emb: DataFrame, k: Int = DefaultK, nQueries: Long = DefaultQueries,
      nProbe: Int = IvfNProbe, nCells: Int = 0,
      corpusSize: Long = -1L): DataFrame =
    topK(ivfScored(emb, nQueries, nProbe, nCells, corpusSize), k)

  /** The candidate (query, neighbor, cosine) relation knnIvf ranks —
    * exposed inside the package so ScaleRehearsal can measure the
    * candidate-count-vs-N curve directly (its count is exactly the
    * number of pairs the probe meets; sublinear growth in N is the
    * IVF scale contract).
    */
  private[graft] def ivfScored(emb: DataFrame,
      nQueries: Long = DefaultQueries, nProbe: Int = IvfNProbe,
      nCells: Int = 0, corpusSize: Long = -1L,
      restrict: Option[DataFrame] = None): DataFrame = {
    val corpus = withNorm(emb)
    ivfFromCentroids(corpus,
      Centroids.hashAnchored(corpus, cellsFor(emb, nCells, corpusSize)),
      nQueries, nProbe, restrict)
  }

  /** The two-level cell-assignment EXPRESSION over an in-task centroid
    * set — anchor layout recomputed driver-side from the ids (the
    * FIRST ⌈√cells⌉ centroids of (poly_hash(id), id) order), then the
    * codegen `ivf_assign2` kernel: ~2·N^(1/4) dot products per row,
    * zero shuffle. Shared by the serving path (`ivfFromCentroids`)
    * and the ingest path (`ivfAssignFromStored`), so a cell id
    * persisted at ingest is BY CONSTRUCTION the cell the search
    * probes. Every cosine is the identical sequential double fold the
    * oracle's dotSql uses, with the identical (cos desc, id asc)
    * tie-break, so the grouping is bit-reproducible in SQL.
    */
  private def assignCellExpr(cents: Centroids): Column = {
    val centIds = cents.ids
    val centEmb = cents.vecs
    val centN2 = cents.n2
    val kc = ivfCoarseCells(centIds.length)
    val anchorIdx: Array[Int] = centIds.indices
      .sortBy { i =>
        (graft.functions.PolyHashUtil.hash(
          org.apache.spark.unsafe.types.UTF8String
            .fromString(centIds(i).toString)), centIds(i))
      }
      .take(kc)
      .sortBy(centIds) // ascending anchor id = argmax iteration order
      .toArray
    def dotSeq(a: Array[Double], b: Array[Double]): Double = {
      val n = math.min(a.length, b.length)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val groupOf: IndexedSeq[Int] = centIds.indices.map { f =>
      var best = 0
      var bestCos = Double.NegativeInfinity
      var j = 0
      while (j < anchorIdx.length) {
        val a = anchorIdx(j)
        val cos = dotSeq(centEmb(f), centEmb(a)) /
          (math.sqrt(centN2(f)) * math.sqrt(centN2(a)))
        if (cos > bestCos) { bestCos = cos; best = j }
        j += 1
      }
      best
    }
    // group-contiguous fine layout (ascending cent_id inside a group —
    // the indices arrive ascending, so append order preserves it)
    val members =
      Array.fill(anchorIdx.length)(new scala.collection.mutable.ArrayBuffer[Int])
    centIds.indices.foreach(f => members(groupOf(f)) += f)
    val order: Array[Int] = members.flatMap(_.toArray)
    val groupLen = members.map(_.length)
    val groupStart = groupLen.scanLeft(0)(_ + _).dropRight(1)
    graft.functions.VectorExprFunctions.ivf_assign2(col("embedding"),
      anchorIdx.flatMap(centEmb(_)), anchorIdx.map(centN2),
      order.flatMap(centEmb(_)), order.map(centN2), order.map(centIds),
      groupStart, groupLen)
  }

  /** The IVF machinery downstream of centroid choice — anchor layout,
    * codegen two-level assignment, probe ranking, candidate scoring —
    * shared by the hash-anchored, trained and stored serves, so a fit
    * changes ONLY which centroid vectors exist, never the plan shape.
    */
  private def ivfFromCentroids(corpus: DataFrame, cents: Centroids,
      nQueries: Long, nProbe: Int,
      restrict: Option[DataFrame] = None): DataFrame = {
    if (cents.isEmpty) return emptyScored(corpus)
    // cell ASSIGNMENT is a per-row codegen expression over the in-task
    // centroid arrays: O(N) rows, ZERO shuffle, ~2·N^(1/4) dot products
    // per row via the coarse→fine split. (The broadcast-join + argmax
    // alternative materialized N·cells wide rows through a shuffle —
    // measured ~8× slower at 80k×256 and growing worse with N.)
    // `restrict` (an allowed-vec_id relation) narrows the SEARCHED
    // corpus before the assignment expression even runs — the filtered-
    // ANN serving path: the index layout (centroids chosen above, from
    // the FULL corpus) is filter-independent, queries stay unfiltered.
    val base = restrict match {
      case Some(r) => corpus.join(r, Seq("vec_id"), "left_semi")
      case None => corpus
    }
    val assigned = base.select(assignCellExpr(cents).as("cell"),
      col("vec_id"), col("embedding"), col("n2"))
    probeAndScore(assigned, corpus, cents, nQueries, nProbe)
  }

  /** Probe ranking + candidate scoring downstream of cell assignment —
    * shared by every IVF serving form (`ivfFromCentroids`, which
    * assigns cells inline, and `ivfScoredFromAssigned`, which reads a
    * PERSISTED cell column). `assigned` carries `(cell, vec_id,
    * embedding, n2)`; `querySource` carries `(vec_id, embedding, n2)`
    * (extra columns ignored). Probe ranking runs only over the (tiny)
    * query set × centroids; candidates are the cell equi-join, so the
    * search meets |corpus|·nProbe/cells rows instead of the corpus.
    */
  private def probeAndScore(assigned: DataFrame, querySource: DataFrame,
      cents: Centroids, nQueries: Long, nProbe: Int): DataFrame =
    scoreCandidates(assigned,
      probeRank(querySource, cents, nQueries, nProbe),
      queriesOf(querySource, nQueries))

  /** Each query's nProbe nearest cells — `(cell, query_id)`, ≤
    * nQueries·nProbe rows; runs only over the (tiny) query set ×
    * centroids.
    */
  private def probeRank(querySource: DataFrame, cents: Centroids,
      nQueries: Long, nProbe: Int): DataFrame = {
    val w = Window.partitionBy("vec_id")
      .orderBy(col("c_cos").desc, col("cent_id").asc)
    querySource.filter(col("vec_id") < nQueries)
      .join(broadcast(cents.relation), lit(true))
      .select(col("vec_id"), col("cent_id"),
        cosineFrom(dot(col("embedding"), col("c_emb")), col("n2"), col("c_n2"))
          .as("c_cos"))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") <= nProbe)
      .select(col("cent_id").as("cell"), col("vec_id").as("query_id"))
  }

  private def queriesOf(querySource: DataFrame, nQueries: Long): DataFrame =
    querySource.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("n2").as("q_n2"))

  /** Candidate scoring downstream of probe ranking — the cell
    * equi-join pairs every corpus vector with the queries probing its
    * cell, so the search meets |corpus|·nProbe/cells rows instead of
    * the corpus.
    */
  private def scoreCandidates(assigned: DataFrame, probes: DataFrame,
      queries: DataFrame): DataFrame =
    assigned
      .join(broadcast(probes), "cell")
      .join(broadcast(queries), "query_id")
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosineFrom(dot(col("q_emb"), col("embedding")), col("q_n2"), col("n2"))
          .as("cosine"))

  /** Training-sample budget for `knnIvfTrained`: rows collected to the
    * driver for Lloyd (cap × dim floats — 16k × 256d ≈ 16 MB). More
    * sample buys better centroids, not better worst-case complexity:
    * training cost is O(cap · cells · iters) driver-side regardless
    * of N.
    */
  val IvfTrainSampleCap = 16384
  val IvfLloydIters = 5

  /** IVF top-k over TRAINED centroids: same index machinery as
    * `knnIvf`, but the centroid set is refined with `lloydIters`
    * rounds of EXACT-ARITHMETIC k-means over a deterministic corpus
    * sample (the first `sampleCap` rows of the same
    * (poly_hash(id), id) order; initialization = the first `cells` of
    * them, i.e. exactly the untrained layout). On clustered real-world
    * embedding distributions hash-order anchors skew — dense regions
    * get too few cells, so their cells grow and probe-side candidate
    * counts with them; Lloyd moves centroids toward the density and
    * evens the cells out. The rounds run the `lloydStep` arithmetic
    * (ppm-quantized integer squared-L2 argmin with ties toward the
    * lower cell index, truncating-division integer means, empty cells
    * keep their previous centroid), so every fitted value is an exact
    * integer-derived quantity BOTH engines reproduce bit-for-bit —
    * this variant is ORACLED: the DuckDB twin unrolls the same
    * `lloydIters` rounds as CTEs and serves through the same two-level
    * SQL kernel `knnIvf`'s oracle uses.
    *
    * Same eager-evaluation semantics as `knnIvf` (a sizing count
    * unless pinned, plus the sample collect at build time).
    */
  def knnIvfTrained(emb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries, nProbe: Int = IvfNProbe,
      nCells: Int = 0, corpusSize: Long = -1L,
      lloydIters: Int = IvfLloydIters,
      sampleCap: Int = IvfTrainSampleCap): DataFrame =
    topK(ivfScoredTrained(emb, nQueries, nProbe, nCells, corpusSize,
      lloydIters, sampleCap), k)

  private[graft] def ivfScoredTrained(emb: DataFrame,
      nQueries: Long = DefaultQueries, nProbe: Int = IvfNProbe,
      nCells: Int = 0, corpusSize: Long = -1L,
      lloydIters: Int = IvfLloydIters,
      sampleCap: Int = IvfTrainSampleCap): DataFrame =
    ivfFromCentroids(withNorm(emb), Centroids.ofFloats(emb.sparkSession,
      trainCentroids(emb, nCells, corpusSize, lloydIters, sampleCap,
        spherical = false)), nQueries, nProbe)

  /** The driver-side training core of every trained IVF form
    * (`ivfScoredTrained`, `centroidsOf`, and with `spherical` the
    * cosine pair `knnIvfSphericalTrained`/`sphericalCentroidsOf`):
    * deterministic hash-prefix sample → `lloydIters` rounds of the
    * EXACT `lloydStep` arithmetic (driver-evaluated: the sample is
    * cap-bounded, so the k·dims-bounded state never justifies a
    * cluster round-trip per round) → FLOAT rounding (everything
    * downstream — kernel arrays, probe relation, norms, the persisted
    * relation — derives from the float values, so in-session serving
    * and a parquet round-trip see bit-identical centroids; float arrays
    * round-trip parquet exactly).
    *
    * TRAIN/SERVE METRIC NOTE: the plain trainer minimizes SQUARED-L2
    * over the raw (unnormalized) ppm-quantized sample — truncating-
    * integer Lloyd, the form an unrolled SQL oracle can state exactly —
    * while IVF assignment and probing rank by MAX COSINE. FAISS itself
    * ships L2-trained coarse quantizers behind inner-product serving.
    * The cost is priced, not assumed: every trained tier has its own
    * oracled recall gate (knn_ivf_trained_recall and friends), which
    * is where a drift from the metric gap would surface — keep those
    * thresholds under watch if the corpus distribution changes.
    *
    * `spherical` closes that gap (spherical k-means, Dhillon & Modha
    * 2001 — the metric FAISS's inner-product coarse quantizers train
    * with when vectors are normalized): sample vectors are
    * L2-NORMALIZED before ppm quantization and every integer-mean
    * update is RENORMALIZED (`unitPpm`), so the objective lives on the
    * unit sphere the cosine serve ranks in. Assignment stays the
    * integer squared-L2 argmin — on ≈ unit-ppm centroids that is the
    * cosine argmax up to the quantization grain, and the form the
    * unrolled CTE oracle states exactly.
    *
    * ORACLE-EXACT BY CONSTRUCTION: points enter ppm fixed point ONCE
    * (⌊x·1e6⌋, the `lloydStep` grain), assignment is an integer
    * squared-L2 argmin (tie → lower cell index), the update is a
    * truncating-division integer mean, and an empty cell carries its
    * previous ppm state. Integer sums are order-independent, so the
    * driver loop here and DuckDB's unrolled-CTE twin produce the SAME
    * longs, and the final `(ppm/1e6).toFloat` rounding is the same IEEE
    * operation on both engines. Plain `lloydIters = 0` returns the raw
    * sample prefix floats — exactly the untrained hash-anchored layout
    * (the zero-iterations law the specs pin). Returns the empty array
    * on an empty corpus.
    */
  private def trainCentroids(emb: DataFrame, nCells: Int,
      corpusSize: Long, lloydIters: Int, sampleCap: Int,
      spherical: Boolean): Array[Array[Float]] = {
    require(lloydIters >= 0, s"lloydIters must be >= 0, got $lloydIters")
    val cells = cellsFor(emb, nCells, corpusSize)
    // deterministic training sample: the same TakeOrdered hash-prefix
    // the untrained path selects centroids from, just deeper
    val ptsF = sampleEmbeddings(emb, math.max(cells, sampleCap))
      .map(_.map(_.floatValue()).toArray)
    val init = math.min(cells, ptsF.length)
    if (!spherical && lloydIters == 0) return ptsF.take(init)
    val q = ptsF.map { v =>
      val d = v.map(_.toDouble)
      if (spherical) unitPpm(d)
      else d.map(x => math.floor(x * CentroidQuantPpm.toDouble).toLong)
    }
    val mStep: Array[Long] => Array[Long] =
      if (spherical) mean => unitPpm(mean.map(_.toDouble)) else identity
    lloydPpm(q, q.take(init).map(_.clone()), lloydIters, mStep)
      .map(_.map(m => (m.toDouble / CentroidQuantPpm.toDouble).toFloat))
  }

  /** `v / ‖v‖` in ppm fixed point, `⌊v_i/‖v‖ · 1e6⌋`: the norm is a
    * sequential LEFT FOLD (matching DuckDB `list_reduce`, the order the
    * cosine gates hash-prove) and sqrt plus the single
    * divide-multiply chain are correctly-rounded IEEE ops both engines
    * run identically. The zero vector maps to zeros.
    */
  private def unitPpm(v: Array[Double]): Array[Long] = {
    var acc = 0.0
    var i = 0
    while (i < v.length) { acc += v(i) * v(i); i += 1 }
    if (acc == 0.0) new Array[Long](v.length)
    else {
      val nrm = math.sqrt(acc)
      v.map(x => math.floor(x / nrm * CentroidQuantPpm.toDouble).toLong)
    }
  }

  /** The `lloydStep` arithmetic iterated driver-side over a
    * cap-bounded ppm-integer sample: assignment = exact integer
    * squared-L2 argmin (strict `<`, so ties keep the lower cell
    * index — the `(d2 asc, cent_id asc)` struct-min), update =
    * `mStep` of the truncating-division integer mean (Java `/` ≡ Spark
    * `div` ≡ DuckDB `//` on BIGINT): `identity` for the IVF and PQ
    * fits, `unitPpm` renormalization for the spherical one. Empty
    * cells carry their previous state unchanged. All-integer →
    * bit-reproducible regardless of evaluation order; the assignment
    * scan parallelizes across points (writes only the per-point assign
    * slot), the integer accumulation stays sequential (it is
    * k·dims-bounded and order-free anyway).
    */
  private def lloydPpm(points: Array[Array[Long]],
      init: Array[Array[Long]], iters: Int,
      mStep: Array[Long] => Array[Long]): Array[Array[Long]] = {
    if (init.isEmpty || points.isEmpty) return init.map(_.clone())
    val dim = points(0).length
    val flopsPerIter = points.length.toDouble * init.length * dim
    if (flopsPerIter * iters > 1e10)
      System.err.println(f"[graft] Lloyd training: ${points.length} pts × " +
        f"${init.length} cells × $dim dims × $iters iters ≈ " +
        f"${flopsPerIter * iters}%.1e integer ops on the driver (parallel)")
    var cents = init.map(_.clone())
    val assign = new Array[Int](points.length)
    var it = 0
    while (it < iters) {
      val cur = cents
      java.util.stream.IntStream.range(0, points.length).parallel()
        .forEach { p =>
          var best = 0
          var bestD = Long.MaxValue
          var j = 0
          while (j < cur.length) {
            var d = 0L
            var i = 0
            while (i < dim) {
              val t = points(p)(i) - cur(j)(i); d += t * t; i += 1
            }
            if (d < bestD) { bestD = d; best = j }
            j += 1
          }
          assign(p) = best
        }
      val sums = Array.fill(cents.length)(new Array[Long](dim))
      val counts = new Array[Long](cents.length)
      var p = 0
      while (p < points.length) {
        val tgt = sums(assign(p))
        var i = 0
        while (i < dim) { tgt(i) += points(p)(i); i += 1 }
        counts(assign(p)) += 1
        p += 1
      }
      cents = cents.indices.map { j =>
        if (counts(j) == 0L) cents(j)
        else mStep(sums(j).map(_ / counts(j)))
      }.toArray
      it += 1
    }
    cents
  }

  /** Spherically-trained IVF serving — the same cosine kernel as
    * `knnIvfTrained`, fed centroids whose training objective matches
    * the serving metric. The recall gate prices the difference
    * against the exact ranking next to the L2-trained tier's.
    */
  def knnIvfSphericalTrained(emb: DataFrame, k: Int = DefaultK,
      nQueries: Long = DefaultQueries, nProbe: Int = IvfNProbe,
      nCells: Int = 0, corpusSize: Long = -1L,
      lloydIters: Int = IvfLloydIters,
      sampleCap: Int = IvfTrainSampleCap): DataFrame =
    topK(ivfFromCentroids(withNorm(emb), Centroids.ofFloats(emb.sparkSession,
      trainCentroids(emb, nCells, corpusSize, lloydIters, sampleCap,
        spherical = true)), nQueries, nProbe), k)

  /** The spherically-fitted ARTIFACT as a relation (`cent_id`,
    * `embedding`) — the artifact-gate twin of `centroidsOf`.
    */
  def sphericalCentroidsOf(emb: DataFrame, nCells: Int = 0,
      corpusSize: Long = -1L, lloydIters: Int = IvfLloydIters,
      sampleCap: Int = IvfTrainSampleCap): DataFrame =
    centroidRelation(emb.sparkSession, trainCentroids(emb, nCells,
      corpusSize, lloydIters, sampleCap, spherical = true))

  /** Fitted float centroids as the `(cent_id, embedding)` relation,
    * cent_id = array index: a small LOCAL DataFrame, frozen at build
    * time.
    */
  private def centroidRelation(spark: SparkSession,
      cents: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cents.toSeq.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("cent_id", "embedding")
  }

  /** Fingerprint of every constant the STORED centroid relation's
    * serving contract depends on: the anchor-selection hash (coarse
    * anchors are re-derived from `poly_hash(cent_id)` at load time, so
    * the PolyHash constants decide which stored centroids anchor the
    * two-level assignment) and the cell-count cap. Lloyd's training
    * knobs are deliberately ABSENT — they shape the centroid DATA, not
    * the serving arithmetic, and an index trained with different
    * iters/sample is still a valid index.
    */
  val IvfParamsFingerprint: Long = Stamps.paramsFingerprint(
    "ivf-centroids-v1", graft.functions.PolyHashUtil.Mult,
    graft.functions.PolyHashUtil.Mod, IvfMaxCells)

  /** Train-once export of the fitted IVF centroids AS A RELATION —
    * `(cent_id, embedding: Array[Float], ivf_params_fp)`, ≤
    * `IvfMaxCells` rows — the ANN twin of the dedup family's
    * `bandKeysOf` on-disk contract. A production pipeline trains ONCE
    * (this call: the sample collect + driver Lloyd), persists the
    * relation (parquet float arrays round-trip exactly), and serves
    * every later batch/query with `knnIvfFromStored` — no per-query
    * re-training, no training-sample scan. `ivf_params_fp` stamps the
    * serving constants on every row; loading raises on mismatch
    * rather than silently mis-anchoring the two-level assignment.
    *
    * EAGER evaluation semantics like `knnIvfTrained` (a sizing count
    * unless `nCells`/`corpusSize` pins it, plus the sample collect) —
    * the relation is a small LOCAL DataFrame of the fitted values,
    * frozen at build time.
    */
  def centroidsOf(emb: DataFrame, nCells: Int = 0, corpusSize: Long = -1L,
      lloydIters: Int = IvfLloydIters,
      sampleCap: Int = IvfTrainSampleCap): DataFrame =
    centroidRelation(emb.sparkSession, trainCentroids(emb, nCells,
        corpusSize, lloydIters, sampleCap, spherical = false))
      .withColumn("ivf_params_fp", lit(IvfParamsFingerprint))

  /** IVF top-k SERVED FROM STORED CENTROIDS — the reload half of the
    * `centroidsOf` contract: collects the (≤ `IvfMaxCells`-row by
    * contract, enforced) centroid relation, verifies every row's
    * `ivf_params_fp` against this build's constants (raises on
    * mismatch — a silently different anchor hash would degrade recall
    * with no error anywhere), and runs the exact serving machinery
    * `knnIvfTrained` runs — same kernel, same probe ranking, same
    * tie-breaks — so results are bit-identical to serving the
    * just-trained index (round-trip-pinned in tests). A bare
    * 2-column relation (no fingerprint column) skips the check, like
    * the band-keys loader.
    */
  def knnIvfFromStored(centroids: DataFrame, emb: DataFrame,
      k: Int = DefaultK, nQueries: Long = DefaultQueries,
      nProbe: Int = IvfNProbe): DataFrame =
    topK(ivfScoredFromStored(centroids, emb, nQueries, nProbe), k)

  private[graft] def ivfScoredFromStored(centroids: DataFrame,
      emb: DataFrame, nQueries: Long = DefaultQueries,
      nProbe: Int = IvfNProbe): DataFrame =
    ivfFromCentroids(withNorm(emb), loadStoredCentroids(centroids)._1,
      nQueries, nProbe)

  /** The stored-centroid loader every consumer shares (the stored,
    * assigned and IVFPQ serves, `ivfAssignFromStored` ingest): bounded
    * collect, loud fingerprint / cap / id-contiguity guards, and the
    * width guard of `Centroids.ofFloats`. Returns the centroids with
    * their content hash (`centroidContentFp`).
    */
  private def loadStoredCentroids(
      centroids: DataFrame): (Centroids, Long) = {
    val byId = collectStored(centroids, Seq("cent_id", "embedding"),
      "ivf_params_fp", IvfParamsFingerprint, IvfMaxCells, "IvfMaxCells",
      "centroidsOf").sortBy(_.getLong(0))
    requireDenseIds(byId.map(_.getLong(0)).toSeq, "stored centroid ids")
    val floats = byId.map(_.getSeq[Number](1).map(_.floatValue()).toArray)
    (Centroids.ofFloats(centroids.sparkSession, floats),
      centroidContentFp(floats))
  }

  /** Content hash of a loaded centroid set — FNV-1a over the exact
    * float BITS (plus shape), so two centroid relations hash equal iff
    * they decode to the identical vectors in the identical order.
    * Stamped onto every `ivfAssignFromStored` output row as
    * `ivf_cents_fp` and re-derived from the loaded centroids at serve
    * time: `knnIvfFromAssigned` refuses a corpus whose stamp doesn't
    * match (a re-trained index with a stale stamped corpus would
    * otherwise serve silently WRONG neighbors — the cells simply
    * don't mean the same thing anymore). This is the content-level
    * complement of `ivf_params_fp`, which only pins the build
    * CONSTANTS, not the fitted vectors.
    */
  private[graft] def centroidContentFp(cents: Array[Array[Float]]): Long = {
    var h = 0xcbf29ce484222325L
    def mix(x: Long): Unit = { h ^= x; h *= 0x100000001b3L }
    mix(cents.length.toLong)
    cents.foreach { v =>
      mix(v.length.toLong)
      v.foreach(f =>
        mix(java.lang.Float.floatToIntBits(f).toLong & 0xffffffffL))
    }
    h
  }

  /** INGEST-side cell assignment from the stored index — the third leg
    * of the train-once contract: `centroidsOf` (train + export) →
    * `ivfAssignFromStored` (stamp every incoming vector's index
    * columns at ingest, persist them alongside the vector) →
    * `knnIvfFromAssigned` (serve cell-pruned). Returns `(vec_id,
    * cell, n2)`: the assignment expression is the EXACT object the
    * serving path builds (shared `assignCellExpr`), so a cell
    * persisted at ingest equals the cell the search-side assignment
    * would compute, and `n2` is the squared norm serving's cosine
    * needs — persisting it means the serve side touches NO
    * per-vector arithmetic outside the probed cells (doubles
    * round-trip parquet exactly, so the cosine is bit-identical to
    * computing the norm at serve time). A corpus partitioned/
    * bucketed by `cell` turns each query's probe into a cell-pruned
    * READ (`knnIvfFromAssigned(staticPrune = true)` pushes the probed
    * cells into the scan as a partition filter — PlanSpec- and
    * rehearsal-pinned) instead of a full assignment pass. One map
    * stage over `emb`, zero shuffle; same fingerprint/cap/contiguity
    * guards as serving (shared loader).
    */
  def ivfAssignFromStored(centroids: DataFrame, emb: DataFrame): DataFrame = {
    val (cents, centsFp) = loadStoredCentroids(centroids)
    if (cents.isEmpty)
      return emb.select(col("vec_id"), col("vec_id").as("cell"),
        lit(0.0).as("n2"), lit(centsFp).as("ivf_cents_fp"))
        .filter(lit(false))
    emb.select(col("vec_id"), assignCellExpr(cents).as("cell"),
      norm2(col("embedding")).as("n2"),
      lit(centsFp).as("ivf_cents_fp"))
  }

  /** IVF top-k served from a PRE-ASSIGNED corpus — the payoff leg of
    * the train-once contract: `centroidsOf` (train + export) →
    * `ivfAssignFromStored` (stamp cells at ingest) →
    * `knnIvfFromAssigned` (serve from the stamped corpus).
    * `assignedCorpus` is `(vec_id, embedding, cell[, n2])` — the
    * embeddings table with the persisted index columns joined/stored
    * alongside (a persisted `n2` is used as-is; absent, the norm is
    * recomputed, bit-identically) — and the corpus side of the
    * search runs NO assignment expression at all: candidates are the
    * plain `cell` equi-join against each query's nProbe probe cells
    * (PlanSpec-guarded), so a corpus partitioned/bucketed by `cell`
    * turns every probe into a cell-pruned read of
    * ~|corpus|·nProbe/cells rows. With `staticPrune = true` the probe
    * relation (queries × nProbe — tiny by contract, capped at
    * `IvfMaxStaticProbes`, loudly) resolves EAGERLY and the probed
    * cells push into the corpus scan as a literal partition filter:
    * on a `partitionBy("cell")` corpus the serve READS only the
    * probed cells' files. Queries come from the same relation
    * (`vec_id < nQueries`); probe ranking and cosine arithmetic are
    * the exact expressions `knnIvfFromStored` uses, and the cell
    * column is BY CONSTRUCTION the one serving would compute (shared
    * `assignCellExpr`), so results are bit-identical to
    * `knnIvfFromStored` over the same centroids, both modes
    * (spec-pinned).
    *
    * CONTRACT: `cell` must have been stamped by `ivfAssignFromStored`
    * under this same centroid relation — and the contract is CHECKED,
    * not just documented: the build-constant fingerprint guard catches
    * a params mismatch at load, and the per-row `ivf_cents_fp` stamp
    * (a content hash of the fitted centroid vectors) is verified
    * against the loaded centroids on every row the serve reads,
    * raising loudly on a corpus stamped under different centroids
    * instead of silently serving neighbors from cells that no longer
    * mean the same thing (spec-pinned; pre-stamp corpora without the
    * column skip the check).
    */
  def knnIvfFromAssigned(centroids: DataFrame, assignedCorpus: DataFrame,
      k: Int = DefaultK, nQueries: Long = DefaultQueries,
      nProbe: Int = IvfNProbe, staticPrune: Boolean = false): DataFrame =
    topK(ivfScoredFromAssigned(centroids, assignedCorpus, nQueries, nProbe,
      staticPrune), k)

  /** Cap on the probe relation a `staticPrune` serve may collect —
    * queries × nProbe rows; the eager path exists for interactive
    * query batches, which are tiny by definition.
    */
  val IvfMaxStaticProbes = 65536

  private[graft] def ivfScoredFromAssigned(centroids: DataFrame,
      assignedCorpus: DataFrame, nQueries: Long = DefaultQueries,
      nProbe: Int = IvfNProbe, staticPrune: Boolean = false): DataFrame = {
    require(assignedCorpus.columns.contains("cell"),
      "assignedCorpus must carry the persisted `cell` column from " +
        "ivfAssignFromStored — for an unstamped corpus use knnIvfFromStored")
    val (cents, centsFp) = loadStoredCentroids(centroids)
    // STALENESS GUARD: when the corpus carries the `ivf_cents_fp`
    // stamp (ivfAssignFromStored output), every row's stamp must equal
    // the content hash of the centroids NOW loaded — a corpus stamped
    // under re-trained centroids would otherwise serve silently WRONG
    // neighbors (its cells no longer mean the same thing). The check
    // rides the serve's own scan as a per-row expression (one long
    // compare; no extra job, no full-column pre-scan — at 100 TB only
    // the rows actually read are checked, which are exactly the rows
    // whose cells are trusted), raising loudly on the first stale row.
    // It wraps `n2` — NOT `cell` (that must stay the raw partition
    // column or the staticPrune `cell IN (...)` file-level pruning
    // dies) and NOT `vec_id` (the query-set `< nQueries` pushdown
    // rides it); n2 is never filtered or joined on, only consumed by
    // the cosine arithmetic, so the guard costs one long compare per
    // scored row and changes no plan shape. Pre-stamp corpora (no such
    // column) skip the check, like the params fingerprint on bare
    // centroid relations.
    // A persisted n2 (stamped at ingest next to cell) spares the serve
    // side every per-vector norm outside the probed cells; doubles
    // round-trip parquet exactly, so either path is bit-identical.
    val stamps = assignedCorpus.columns
    val n2 = if (stamps.contains("n2")) col("n2") else norm2(col("embedding"))
    val guardedN2 =
      if (!stamps.contains("ivf_cents_fp")) n2
      else stampGuard(n2, "ivf_cents_fp", centsFp, StaleCells)
    val corpus = assignedCorpus.select(col("vec_id"), col("embedding"),
      guardedN2.as("n2"), col("cell"))
    if (cents.isEmpty) return emptyScored(corpus)
    if (!staticPrune)
      return probeAndScore(corpus, corpus, cents, nQueries, nProbe)
    // STATIC prune: the probe relation is tiny by contract (queries ×
    // nProbe), so resolve it EAGERLY — one driver job over queries ×
    // centroids — and push the probed cells into the corpus scan as a
    // literal `cell IN (...)` predicate. On a corpus PARTITIONED BY
    // `cell` that is file-level partition pruning: the serve reads
    // ONLY the probed cells' files (PlanSpec/rehearsal-pinned), the
    // physical contract the ingest stamp exists for. Results are
    // bit-identical to the lazy join form — same probe relation, same
    // candidates, same arithmetic. EAGER evaluation semantics like
    // knnIvf (the probe job runs at build time, freezing probes
    // against the input).
    val probeRows = probeRank(corpus, cents, nQueries, nProbe).collect()
    require(probeRows.length <= IvfMaxStaticProbes,
      s"staticPrune collected ${probeRows.length} probe rows — the cap " +
        s"is IvfMaxStaticProbes = $IvfMaxStaticProbes (queries × nProbe " +
        "must stay driver-small; use the default lazy form for bulk " +
        "query relations)")
    if (probeRows.isEmpty) return emptyScored(corpus)
    val s = assignedCorpus.sparkSession
    import s.implicits._
    val localProbes = probeRows.toSeq
      .map(r => (r.getLong(0), r.getLong(1))).toDF("cell", "query_id")
    val probedCells = probeRows.map(_.getLong(0)).distinct.toSeq
    scoreCandidates(corpus.filter(col("cell").isin(probedCells: _*)),
      localProbes, queriesOf(corpus, nQueries))
  }

  /** Per-query rank-≤-k via the custom TopKPerKey operator: same hash
    * distribution the window row_number form needs, but a bounded
    * k-element heap per query instead of sorting (and buffering) every
    * candidate row. The (cosine desc, neighbor asc) order is total, so
    * ranks equal row_number exactly — the oracle's ORDER BY + rnk <= k
    * stays bit-identical.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame =
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col("cosine").desc, col("neighbor_id").asc), k)
      .select("query_id", "rank", "neighbor_id", "cosine")

  /** `topK` for the distance-scored serves: (`score` asc, neighbor
    * asc), `score` an exact integer column (`l2_fp`, `adc_fp`,
    * `hamming`, `pd2`).
    */
  private def topKAsc(scored: DataFrame, score: String, k: Int): DataFrame =
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq(col(score).asc, col("neighbor_id").asc), k)
      .select("query_id", "rank", "neighbor_id", score)

  /** Metadata-filtered vector search: exact top-k cosine neighbors
    * restricted to the corpus rows whose document satisfies `pred`
    * (modern "filtered ANN"). The filter composes BEFORE scoring as a
    * left-semi join on the allowed-id relation — a post-filtered top-k
    * would silently under-fill k whenever the filter and the neighbor-
    * hood correlate, which is exactly when users filter. Queries are
    * NOT filtered: any probe may search a restricted corpus. At scale
    * the allowed-id side is ids-only (8 bytes/row); when `pred` rides a
    * partition column the semi-join collapses into scan pruning.
    */
  def knnFiltered(emb: DataFrame, docs: DataFrame, pred: Column,
      k: Int = DefaultK, nQueries: Long = DefaultQueries): DataFrame = {
    val allowed = docs.filter(pred).select(col("doc_id").as("vec_id"))
    val corpus = withNorm(emb)
    topK(cosineAll(corpus.join(allowed, Seq("vec_id"), "left_semi"),
      queriesOf(corpus, nQueries)), k)
  }

  /** Filtered ANN on the IVF serving path — the production filtered-
    * search shape: the cell index is built over the FULL corpus (layout
    * is filter-independent, so one index serves every predicate), the
    * allowed-id semi-join narrows the searched rows BEFORE cell
    * assignment/scoring, and probing is unchanged. Compare
    * `knnFiltered` (exact brute twin): same contract, this one meets
    * |allowed|·nProbe/cells candidates per query instead of |allowed|.
    */
  def knnIvfFiltered(emb: DataFrame, docs: DataFrame, pred: Column,
      k: Int = DefaultK, nQueries: Long = DefaultQueries,
      nProbe: Int = IvfNProbe, nCells: Int = 0,
      corpusSize: Long = -1L): DataFrame = {
    val allowed = docs.filter(pred).select(col("doc_id").as("vec_id"))
    topK(ivfScored(emb, nQueries, nProbe, nCells, corpusSize,
      Some(allowed)), k)
  }

  /** Hybrid-search constants: candidate pool depth per modality, the
    * standard RRF dampening base (Cormack et al. 2009), and the fused
    * top-k. The SAME values must appear in the oracle SQL.
    */
  val RrfPool = 20
  val RrfBase = 60L
  val HybridK = 10

  /** Hybrid retrieval: reciprocal-rank fusion of the BM25 keyword
    * ranking and the embedding-cosine ranking for the same probe set
    * (docs/vectors with id < nQueries query the id >= nQueries corpus).
    * rrf_ppm = Σ_modality ⌊1e6/(RrfBase + rank)⌋ — integer quotients,
    * so the fused score is engine-exact; docs surfaced by only one
    * modality contribute that one term (FULL OUTER over the two
    * pools). Each modality contributes its top `pool`; fusion then
    * keeps the top k by (rrf_ppm desc, doc_id asc).
    *
    * Scale shape: both rankings are k-bounded relations (queries ×
    * pool rows), so the fusion join and final heap are negligible next
    * to the two underlying retrievals — the composition adds no
    * corpus-sized stage of its own.
    */
  def hybridRrf(docs: DataFrame, emb: DataFrame, k: Int = HybridK,
      pool: Int = RrfPool,
      nQueries: Long = TextOps.Bm25Queries): DataFrame = {
    val kw = TextOps.bm25Shared(docs, pool, nQueries)
      .select(col("query_id"), col("doc_id"), col("rank").as("kw_rank"))
    val corpus = withNorm(emb)
    val vec = topK(cosineAll(corpus.filter(col("vec_id") >= nQueries),
        queriesOf(corpus, nQueries)), pool)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    rrfFuse(kw, vec, k)
  }

  /** Reciprocal-rank fusion of a keyword pool `(query_id, doc_id,
    * kw_rank)` and a vector pool `(query_id, doc_id, vec_rank)`:
    * rrf_ppm = Σ ⌊1e6/(RrfBase + rank)⌋ over the FULL OUTER join, top
    * k by (rrf_ppm desc, doc_id asc).
    */
  private def rrfFuse(kw: DataFrame, vec: DataFrame, k: Int): DataFrame = {
    val fused = kw.join(vec, Seq("query_id", "doc_id"), "full_outer")
      .select(col("query_id"), col("doc_id"),
        (coalesce(expr(s"1000000 div ($RrfBase + kw_rank)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfBase + vec_rank)"), lit(0L)))
          .as("rrf_ppm"))
    graft.plans.TopK.perKey(fused, Seq("query_id"),
        Seq(col("rrf_ppm").desc, col("doc_id").asc), k)
      .select("query_id", "rank", "doc_id", "rrf_ppm")
  }

  /** HYBRID retrieval served ENTIRELY FROM STORED INDEXES — the
    * production serving stack closed end to end: the keyword pool
    * comes from `TextOps.bm25FromIndex` (stored postings + forward
    * index — corpus text never re-tokenized) and the vector pool from
    * `knnSq8` (stored int8 codes + grid — corpus embeddings never
    * read), fused with the same RRF arithmetic as `hybridRrf`. The
    * vector pool ranks by dequantized L2 where the in-session hybrid
    * ranks by exact cosine — RRF consumes RANKS, so the fusion is
    * metric-agnostic by construction; what changes is the tier's
    * candidates, which is exactly what the stored gates price.
    * `sqCodes` should cover the CORPUS side only (`vec_id ≥
    * nQueries`) — enforced by filter here, so passing full-corpus
    * codes is safe.
    */
  def hybridRrfIndexed(index: DataFrame, lens: DataFrame,
      sqStats: DataFrame, sqCodes: DataFrame, queryDocs: DataFrame,
      queryEmb: DataFrame, k: Int = HybridK, pool: Int = RrfPool,
      nQueries: Long = TextOps.Bm25Queries): DataFrame = {
    val kw = TextOps.bm25FromIndexShared(index, lens, queryDocs, pool,
      nQueries)
      .select(col("query_id"), col("doc_id"), col("rank").as("kw_rank"))
    val vec = knnSq8(sqStats,
        sqCodes.filter(col("vec_id") >= nQueries), queryEmb, pool,
        nQueries)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("rank").as("vec_rank"))
    rrfFuse(kw, vec, k)
  }
}
