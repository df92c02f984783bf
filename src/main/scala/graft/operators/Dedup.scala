package graft.operators

import graft.SmallInput
import graft.functions.PolyHashFunctions.poly_hash
import graft.functions.TextFunctions.tokens
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators over the `documents` table: exact,
  * n-gram-Jaccard, SimHash and MinHash+LSH near-dup detection, plus
  * embedding-cosine near-dup pairs. Design rules for 100 TB:
  *
  *   - never shuffle raw text: everything after the first projection
  *     moves 64-bit hashes (PolyHash) instead of strings;
  *   - never compare all pairs: candidate generation is always a
  *     hash-bucket equi-join (shared shingle, SimHash band, MinHash LSH
  *     band) so the shuffle keys are the buckets, and only bucket-mates
  *     meet — the quadratic step is bounded per bucket;
  *   - thresholds are integer arithmetic (5·shared ≥ 4·(na+nb−shared)
  *     instead of shared/union ≥ 0.8) — no float compare drift against
  *     the SQL oracle.
  *
  * Hash-width note: EXACT dedup uses a collision-safe triple key (see
  * `contentKey`). The near-dup operators hash shingles/tokens into the
  * single 1e9+7 space deliberately — a rare shingle collision shifts an
  * (already approximate) Jaccard estimate by ~1/|shingles|, it never
  * false-merges documents by itself, because every candidate passes an
  * explicit similarity threshold.
  */
object Dedup {

  val ShingleN = 3

  /** Word-`ShingleN`-gram PolyHashes of the `text` column, in token
    * order with repeats kept (`TextOps.repetition` counts them). Uses
    * the native ShingleHash expression — the composed
    * `transform(word_shingles(...), poly_hash)` form is semantically
    * identical but runs interpreted per lambda element and slices the
    * token array per position (O(len²) copies): ~20× slower at sf0.1.
    */
  private[graft] def shingleHashSeq: Column =
    graft.functions.ShingleHashFunctions.shingle_hash(tokens(col("text")), ShingleN)

  /** The distinct shingle hashes of `text`: the set every near-dup,
    * MinHash and decontamination relation is built from.
    */
  private[graft] def shingleHashSet: Column = array_distinct(shingleHashSeq)

  /** Distinct word-shingle PolyHash ARRAYS per doc: (doc_id, hs). */
  private def shingleHashArrays(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleHashSet.as("hs"))

  /** Each doc's distinct shingle hashes sorted by VALUE once, with
    * their count: (doc_id, n, hss) — the relation `verifiedPairs`
    * reads on both sides of a candidate. Persisted (consumers release
    * via graft.Caches.clear).
    */
  private def sortedShingles(docs: DataFrame): DataFrame =
    graft.Caches.track(shingleHashArrays(docs)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n"),
        sort_array(col("hs")).as("hss"))
      .persist(StorageLevel.MEMORY_AND_DISK))

  /** The verified-pair stage every shingle-set candidate join ends in:
    * the value-sorted shingle arrays of `sorted` (doc_id, n, hss) are
    * joined onto both sides of the candidates `cand` (doc_a, doc_b),
    * and the shared count is the zero-allocation sorted-merge
    * intersection (no per-pair hash set). One row per candidate:
    * `(doc_a, doc_b, shared, na, nb)` — enough integers for Jaccard
    * (union = na+nb−shared) and both containment directions.
    */
  private def verifiedPairs(cand: DataFrame, sorted: DataFrame): DataFrame =
    cand
      .join(sorted.select(col("doc_id").as("doc_a"), col("hss").as("hs_a"),
        col("n").as("na")), "doc_a")
      .join(sorted.select(col("doc_id").as("doc_b"), col("hss").as("hs_b"),
        col("n").as("nb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        graft.functions.ShingleHashFunctions
          .sorted_intersect_size(col("hs_a"), col("hs_b")).as("shared"),
        col("na"), col("nb"))

  /** `verifiedPairs` kept at Jaccard ≥ 0.8, as the integer test
    * 5·shared ≥ 4·(na+nb−shared).
    */
  private def jaccardPairs(cand: DataFrame, sorted: DataFrame): DataFrame =
    verifiedPairs(cand, sorted)
      .filter(col("shared") * 5 >= (col("na") + col("nb") - col("shared")) * 4)

  /** The content key's column names. */
  private[graft] val ContentKey = Seq("fingerprint", "fp2", "len")

  /** The content key of `text`: (fingerprint, fp2, len), two
    * INDEPENDENT PolyHash constants plus the length. A single ~30-bit
    * hash collides at ~4·10^4 documents (birthday bound) — a real
    * false-merge risk at 10^9 docs; the triple pushes per-pair
    * collision odds to ~1e-18 while still shuffling 24 bytes/doc. A
    * persisted format: `StreamDedup.exactKeysOf` writes it.
    */
  private[graft] def contentKey: Seq[Column] = Seq(
    poly_hash(col("text")).as("fingerprint"),
    graft.functions.PolyHashFunctions.poly_hash2(col("text")).as("fp2"),
    length(col("text")).cast("long").as("len"))

  /** Exact dedup: group by content key (`contentKey`), keep the min
    * doc_id. Shuffles longs only — never text.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.select(contentKey :+ col("doc_id"): _*)
      .groupBy(ContentKey.map(col): _*)
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "fingerprint", "n_copies")

  /** Verified near-dup pairs by word-3-gram Jaccard ≥ 0.8, with PPJoin
    * PREFIX FILTERING for the candidate join.
    *
    * A plain shared-shingle equi-join buckets on EVERY shingle: one
    * boilerplate shingle present in 10^5 documents yields a 10^10-pair
    * bucket — the quadratic step is bounded per bucket only if buckets
    * are bounded. Prefix filtering bounds them losslessly: order all
    * shingles globally by (frequency asc, hash); a doc with n shingles
    * exposes only its first n − ⌈0.8·n⌉ + 1 shingles (its "prefix") to
    * the join. Exactness (Xiao et al., PPJoin): J(A,B) ≥ 0.8 implies
    * |A∩B| ≥ (4/9)(na+nb) ≥ ⌈0.8·max(na,nb)⌉, so the globally-smallest
    * shared shingle sits within BOTH prefixes — no qualifying pair is
    * missed, while frequent shingles (large buckets) land in almost no
    * prefix because the order puts rare shingles first.
    *
    * Candidates then verify with the exact distinct-intersection count,
    * so results are identical to the naive join — the oracle SQL is
    * unchanged. Costs one extra linear aggregation (shingle
    * frequencies) + re-sort per doc; buys bounded join fan-out on
    * boilerplate-heavy corpora.
    */
  def ngramJaccard(docs: DataFrame): DataFrame = {
    // SESSION-MEMOIZED verified pairs (the `clusters` discipline one
    // stage earlier): dedup_ngram, the two cross-source matrices and
    // defaultClusters' build all run the identical
    // tokenize→shingle→prefix-join→verify chain over the same corpus
    // back to back — the dominant cost of each. Keyed on the PROJECTED
    // (doc_id, text) input, NOT the caller's frame: the cross-source
    // gates decorate docs with url/host columns the shingle pipeline
    // never reads, and the projection makes those decorated frames hit
    // the same entry. The projection is passed through the OPTIMIZER
    // before keying (ofRows of the optimized plan): PlanMemo keys on
    // the ANALYZED canonical plan, where Project(doc_id, text) over
    // Project(*, host) over the scan is a DIFFERENT tree than the
    // undecorated projection — CollapseProject/ColumnPruning fold both
    // to the same pruned scan, which is exactly the "reads the same
    // bytes" equivalence the memo wants. Value is
    // statsFreeLocalCheckpoint-backed; `PlanMemo.hitsOf("ngramJaccard")`
    // exists for the spec.
    val proj = docs.select(col("doc_id"), col("text"))
    val key = org.apache.spark.sql.graft.ColumnBridge.ofRows(
      docs.sparkSession, proj.queryExecution.optimizedPlan)
    graft.PlanMemo.getOrBuild(key, "ngramJaccard") {
      org.apache.spark.sql.graft.ColumnBridge
        .statsFreeLocalCheckpoint(ngramJaccardUncached(key))
    }
  }

  /** The uncached verified-pair build `ngramJaccard` memoizes. */
  private def ngramJaccardUncached(docs: DataFrame): DataFrame = {
    // the shingle-hash pass feeds BOTH the frequency aggregation and
    // the per-doc re-sort — pin it so tokenize+shingle (the dominant
    // scalar cost) runs once, not twice
    val hsArr = graft.Caches.track(shingleHashArrays(docs)
      .select(col("doc_id"), size(col("hs")).cast("long").as("n"), col("hs"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val freq = hsArr.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("f"))
    // each doc's shingles re-sorted into the global (f, h) order;
    // persisted: feeds both sides of the prefix join AND both sides of
    // the verification (consumers release via graft.Caches.clear)
    val sorted = hsArr
      .select(col("doc_id"), col("n"), explode(col("hs")).as("h"))
      .join(freq, "h")
      .groupBy("doc_id", "n")
      .agg(sort_array(collect_list(struct(col("f"), col("h")))).as("fh"))
      .select(col("doc_id"), col("n"),
        transform(col("fh"), x => x.getField("h")).as("hs"))
      // hss: the same shingles re-sorted by VALUE once per doc, so the
      // per-pair verification can be a zero-allocation merge instead
      // of array_intersect's per-pair hash set (hs itself stays in the
      // global (f, h) prefix order)
      .select(col("doc_id"), col("n"), sort_array(col("hs")).as("hss"),
        slice(col("hs"), lit(1),
          (col("n") - expr("(4 * n + 4) div 5") + 1).cast("int")).as("prefix"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    graft.Caches.track(sorted)
    val pref = sorted.select(col("doc_id"), col("n"), explode(col("prefix")).as("h"))
    // size-band pruning stays valid inside the candidate join:
    // Jaccard ≥ 0.8 forces min(na,nb) ≥ (4/5)·max(na,nb)
    val cand = pref.as("a").join(pref.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          col("a.n") * 4 <= col("b.n") * 5 && col("b.n") * 4 <= col("a.n") * 5)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    jaccardPairs(cand, sorted)
  }

  /** Fuzzy-key geometry: normalized-prefix width, aligned-segment
    * count (PassJoin pigeonhole: distance ≤ segments − 1 on
    * equal-width keys must leave ≥ 1 aligned segment untouched), and
    * the edit-distance threshold. Same constants MUST appear in the
    * oracle SQL.
    */
  val FuzzyKeyChars = 24
  val FuzzySegments = 3
  val FuzzyMaxDist = 2

  /** Edit-distance (Levenshtein) near-dup pairs — the classic
    * entity-resolution / fuzzy-match primitive the shingle family
    * can't express (a one-character typo shifts every k-gram; edit
    * distance counts it as 1). Keys are the first `FuzzyKeyChars`
    * chars of the whitespace-collapsed lowercased text; candidates
    * come from the PassJoin-style segment filter (Li, Deng & Feng,
    * VLDB 2011): the key splits into `FuzzySegments` ALIGNED
    * segments, and only pairs agreeing exactly on ≥ 1 segment at the
    * same position meet the verifier. By pigeonhole this is LOSSLESS
    * for pure substitutions at distance ≤ segments − 1; an indel
    * shifts every following segment, so indel-heavy pairs can be
    * missed — the spec pins blocked ≡ brute on the test corpus and
    * the trade is the documented one (PPJoin's prefix filter makes
    * the same candidates-only promise for Jaccard).
    *
    * Scale shape: candidate generation is a (seg_idx, seg) hash
    * equi-join — 8-char segment buckets, the all-pairs N² never
    * forms; only bucket-mates pay the O(k²) levenshtein verify, on
    * 24-char keys, never on full documents; raw text never shuffles
    * (keys are 24 B).
    *
    * SHORT-KEY POLICY: a key shorter than `keyChars` emits only its
    * NON-EMPTY segments (a position entirely past the key nominates
    * nothing). Without the guard every short document shares the
    * ('', seg_idx) bucket with every other short document and the
    * candidate join degenerates to all-pairs over the short-doc
    * subset — the exact N² this operator exists to avoid. The trade:
    * for keys with fewer than `segments` real segments the pigeonhole
    * guarantee degrades to distance ≤ realSegments − 1 (two sub-8-char
    * keys pair only on an exact first-segment match); empty-key docs
    * never pair here at all — byte-identical short/empty docs are
    * `dedupExact`'s domain. The oracle SQL applies the same guard.
    */
  def fuzzyPairs(docs: DataFrame, keyChars: Int = FuzzyKeyChars,
      segments: Int = FuzzySegments,
      maxDist: Int = FuzzyMaxDist): DataFrame = {
    require(segments > maxDist,
      s"need segments > maxDist for the pigeonhole filter, got " +
        s"$segments segments at distance $maxDist")
    // SESSION-MEMOIZED verified pairs (the ngramJaccard discipline):
    // `dedup_fuzzy` and `dedup_fuzzy_clusters` run the identical
    // segment-join + levenshtein verify back to back — the dominant
    // cost of both. Keyed on the optimizer-collapsed (doc_id, text)
    // projection plus the pigeonhole params. `PlanMemo.hitsOf("fuzzy")`
    // exists for the spec.
    val proj = docs.select(col("doc_id"), col("text"))
    val key = org.apache.spark.sql.graft.ColumnBridge.ofRows(
      docs.sparkSession, proj.queryExecution.optimizedPlan)
    graft.PlanMemo.getOrBuild(key, s"fuzzy|$keyChars|$segments|$maxDist") {
      org.apache.spark.sql.graft.ColumnBridge.statsFreeLocalCheckpoint(
        fuzzyPairsUncached(key, keyChars, segments, maxDist))
    }
  }

  /** The uncached verified-pair build `fuzzyPairs` memoizes. */
  private def fuzzyPairsUncached(docs: DataFrame, keyChars: Int,
      segments: Int, maxDist: Int): DataFrame = {
    val segLen = keyChars / segments
    val k = docs.select(col("doc_id"),
      substring(lower(regexp_replace(col("text"), "\\s+", " ")),
        1, keyChars).as("key"))
    val seg = k.select(col("doc_id"), col("key"),
        posexplode(array((0 until segments).map(i =>
          substring(col("key"), i * segLen + 1, segLen)): _*))
          .as(Seq("seg_idx", "seg")))
      .filter(col("seg") =!= lit(""))
    val cand = seg.as("a").join(seg.as("b"),
        col("a.seg_idx") === col("b.seg_idx") &&
          col("a.seg") === col("b.seg") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("a.key").as("key_a"),
        col("b.doc_id").as("id_b"), col("b.key").as("key_b"))
      .distinct()
    cand.select(col("id_a"), col("id_b"),
        levenshtein(col("key_a"), col("key_b")).cast("long").as("dist"))
      .filter(col("dist") <= maxDist)
  }

  /** Cross-source duplication MATRIX: near-dup pairs rolled up by the
    * (canonically ordered) source pair — the data-governance view that
    * tells a corpus owner which sources leak into which ("is src3 a
    * scrape of src7?") and how much of the dedup budget is
    * intra-source boilerplate. `pairs` is any (doc_a, doc_b) near-dup
    * relation (ngram/simhash/minhash/embedding — caller's choice);
    * sources come from `docs`. least/greatest canonicalization makes
    * the matrix upper-triangular, so (a,b) and (b,a) pairs land in one
    * cell. Two doc-keyed equi-joins against the (doc_id, source)
    * projection + one ≤sources²-group aggregation — text never moves.
    */
  def pairSourceMatrix(pairs: DataFrame, docs: DataFrame,
      srcCol: String = "source"): DataFrame = {
    val src = docs.select(col("doc_id"), col(srcCol))
    pairs.select(col("doc_a"), col("doc_b"))
      .join(src.select(col("doc_id").as("doc_a"), col(srcCol).as("__sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col(srcCol).as("__sb")),
        "doc_b")
      .select(least(col("__sa"), col("__sb")).as("source_a"),
        greatest(col("__sa"), col("__sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
  }

  /** docKnn defaults: top-k width, and the absolute document-frequency
    * cap above which a shingle is too common to nominate candidates
    * (boilerplate shingles connect everything to everything — they are
    * dropped from candidate GENERATION only; the exact intersection
    * still counts them, so scores are unaffected for pairs that any
    * rare shingle nominates).
    */
  val DocKnnK = 5
  val DocKnnMaxDf = 50L

  /** The candidate-generation + exact-verify core `docKnn` and
    * `containmentPairs` both rank from: every unordered pair sharing
    * ≥ 1 RARE shingle (corpus df ≤ `maxDf` — bucket fanout ≤ maxDf²
    * per shingle by construction, the all-pairs N² never forms),
    * verified ONCE by `verifiedPairs`: one `(doc_a, doc_b, shared,
    * na, nb)` row per pair.
    *
    * SESSION-MEMOIZED (the `PlanMemo` discipline): the two consumers
    * run back to back over their corpora in the suite, and repeated
    * invocations over the SAME corpus (bench reps) re-pay candidate
    * generation without it — the checkpoint-backed relation is the
    * expensive 90% of both operators. The suite keys 2 corpora (plain
    * docs for docKnn, the excerpt-augmented corpus for containment) ×
    * the 2 sf dirs a session interleaves under the `rarePairs` tag.
    */
  private[graft] def rareShingleVerifiedPairs(docs: DataFrame,
      maxDf: Long): DataFrame =
    graft.PlanMemo.getOrBuild(docs, s"rarePairs|$maxDf") {
      org.apache.spark.sql.graft.ColumnBridge.statsFreeLocalCheckpoint(
        rareShingleVerifiedPairsUncached(docs, maxDf))
    }

  private def rareShingleVerifiedPairsUncached(docs: DataFrame,
      maxDf: Long): DataFrame = {
    val hs = sortedShingles(docs)
    val ex = hs.select(col("doc_id"), explode(col("hss")).as("h"))
    val rare = ex.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("h"))
    val exr = ex.join(rare, "h")
    val cand = exr.as("a").join(exr.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifiedPairs(cand, hs)
  }

  /** Top-k most-similar documents per document by word-3-gram Jaccard
    * — the TEXT twin of `Similarity.knnGraph` (similar-document
    * retrieval / cluster seeding), and the threshold-free sibling of
    * `ngramJaccard`. Without a similarity threshold there is no PPJoin
    * prefix to bound the candidate join, so candidates are pairs
    * sharing at least one RARE shingle (document frequency ≤ `maxDf`):
    * bucket fanout is ≤ maxDf² per shingle by construction, and a pair
    * sharing only ubiquitous boilerplate is exactly the pair a top-k
    * similarity ranking is allowed to miss. Candidates then verify
    * with the exact zero-allocation sorted-merge intersection, score
    * as integer `jacc_ppm = shared·1e6 div union`, and rank through
    * the heap-based TopKPerKey operator — each unordered pair is
    * verified once and mirrored, the all-pairs N² never forms.
    *
    * Output: `(doc_id, rank, neighbor_id, shared, union_size,
    * jacc_ppm)` — all integers, rank by (jacc_ppm desc, neighbor asc).
    */
  def docKnn(docs: DataFrame, k: Int = DocKnnK,
      maxDf: Long = DocKnnMaxDf): DataFrame = {
    val half = rareShingleVerifiedPairs(docs, maxDf)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        (col("na") + col("nb") - col("shared")).as("union_size"))
      .select(col("doc_a"), col("doc_b"), col("shared"), col("union_size"),
        expr("shared * 1000000 div union_size").as("jacc_ppm"))
    val scored = half.select(col("doc_a").as("doc_id"),
        col("doc_b").as("neighbor_id"), col("shared"), col("union_size"),
        col("jacc_ppm"))
      .unionAll(half.select(col("doc_b").as("doc_id"),
        col("doc_a").as("neighbor_id"), col("shared"), col("union_size"),
        col("jacc_ppm")))
    graft.plans.TopK.perKey(scored, Seq("doc_id"),
        Seq(col("jacc_ppm").desc, col("neighbor_id").asc), k)
      .select("doc_id", "rank", "neighbor_id", "shared", "union_size",
        "jacc_ppm")
  }

  /** Containment threshold (ppm) for `containmentPairs`. */
  val ContainmentPpm = 800000L

  /** ASYMMETRIC near-dup: shingle-set containment |A∩B| / |A| — the
    * quote/excerpt/wrapper detector symmetric Jaccard is blind to (a
    * 200-word article pasted inside a 5 000-word page scores Jaccard
    * ≈ 0.04 but containment ≈ 1.0; near-dup dedup keeps both, a
    * containment pass flags the inclusion). One row per DIRECTED
    * relation that clears the threshold: `doc_id` is mostly inside
    * `container_id` (`shared` of its `n_doc` distinct shingles
    * appear there), in exact integer ppm. Broder's containment
    * coefficient, the same word-shingle universe as `ngramJaccard` /
    * `docKnn`.
    *
    * Candidates share ≥ 1 RARE shingle (corpus df ≤ `maxDf`) —
    * `docKnn`'s df-bounded fanout trick, which containment NEEDS:
    * Jaccard's size-band prefix pruning is unavailable precisely
    * because the two sizes may differ wildly (that asymmetry is the
    * signal). Recall caveat (documented trade): a containment pair
    * sharing only ubiquitous shingles is invisible — true excerpts
    * share their source's rare shingles in practice. Verify is the
    * zero-allocation sorted-merge intersection, once per unordered
    * pair, both directions scored from the same `shared`.
    */
  def containmentPairs(docs: DataFrame, thresholdPpm: Long = ContainmentPpm,
      maxDf: Long = DocKnnMaxDf): DataFrame = {
    val half = rareShingleVerifiedPairs(docs, maxDf)
    half.select(col("doc_a").as("doc_id"), col("doc_b").as("container_id"),
        col("shared"), col("na").as("n_doc"))
      .unionAll(half.select(col("doc_b").as("doc_id"),
        col("doc_a").as("container_id"), col("shared"), col("nb").as("n_doc")))
      .withColumn("containment_ppm", expr("shared * 1000000 div n_doc"))
      .filter(col("containment_ppm") >= thresholdPpm)
  }

  /** Checkpoint cadence for `dupClusters` when a checkpoint dir is
    * given: lineage (and with it the recompute horizon after executor
    * loss) is truncated every this many star rounds.
    */
  val ClusterCheckpointEvery = 8

  /** DIAGNOSTIC: star rounds the most recent `dupClusters` call on
    * this JVM ran (0 = the single-task fast path; −1 = never ran).
    * Driver-side observability for rehearsals/tests — e.g. proving a
    * deep graph actually crossed `ClusterCheckpointEvery` — not part
    * of the operator contract, and not meaningful under concurrent
    * dupClusters calls.
    */
  val lastStarRounds = new java.util.concurrent.atomic.AtomicInteger(-1)

  /** Per-round evidence from the most recent `dupClusters` star loop on
    * this JVM: round number, edge count AFTER the round (the frontier
    * the next round pays for), the round's progress indicator
    * (`changed` = −1 when the edge count moved, else the exact
    * potential drop Σ(a+b) cur − next capped to Long range; 0 ⇔ the
    * round was the identity, i.e. converged), and wall seconds.
    * The scale rehearsal attaches this to its phase artifact so a slow
    * fixpoint is explained round by round (round-bound vs data-bound)
    * instead of by one opaque total. Same caveats as `lastStarRounds`:
    * diagnostic, not contract, not concurrency-safe.
    */
  final case class RoundStat(round: Int, edges: Long, changed: Long,
    secs: Double)
  val lastRounds =
    new java.util.concurrent.atomic.AtomicReference[List[RoundStat]](Nil)

  /** Resolve near-dup PAIRS into duplicate CLUSTERS: connected
    * components with cluster_id = min doc_id in the component — the
    * step between pair detection and "keep one survivor per group".
    *
    * ALTERNATING STAR CONTRACTION (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round applies
    * small-star (hook every node's smaller neighbors to their min)
    * then large-star (hook its larger neighbors to its neighborhood
    * min) — small first, because it reads the state at canonical
    * width while large-star symmetrizes, and round 0's input is the
    * largest state of the run (see `starRound`). Both operations
    * preserve connectivity and only ever lower the smaller endpoint
    * of an edge, so the joint fixpoint is exactly the per-component
    * star rooted at the component's minimum id regardless of which
    * operation leads; convergence is O(log²) rounds in the worst case
    * and ~5 in practice. Unlike min-label pointer doubling — whose converged
    * giant component funnels EVERY member's pointer-jump row through
    * the one partition owning the min label, every round — star
    * contraction has no per-round step keyed by the root: the
    * neighborhood min is a map-side-combinable Tungsten aggregation,
    * and the edge rewrite routes the few ≥`heavyDegree` hubs through a
    * BROADCAST hash join (their rows rewrite in place wherever they
    * sit) with the light keys on an ordinary shuffle join. The default
    * threshold 2E/(64·parts) bounds the broadcast at ≤128·parts
    * entries by counting (a few KB of longs), while capping any one
    * light key's shuffle-join adjacency at ~1.6% of a mean partition.
    * Round state is DEDUPLICATED each half-round: star contraction is
    * defined on edge sets, the rewrite emits a multiset that inflates
    * toward 2E rows carrying ~n distinct pairs once a component has
    * mostly hooked to its root, and the next half-round's aggregation
    * + join widths follow the distinct size (measured 120M → 25M on
    * the 100M-edge fixture's round 0).
    *
    * The loop is DataFrame end to end — Tungsten aggregates and joins
    * narrow long pairs ~10× faster per row than the boxed-tuple RDD
    * form this replaced (measured round-0 aggregation 277 s RDD vs
    * ~30 s DataFrame at 100M edges; Kryo, serialized caching, and
    * partition-count changes all moved nothing because boxing was the
    * floor). The classic iterative-DataFrame traps are handled by the
    * same `statsFreeLocalCheckpoint` the GraphOps fixpoints use: each
    * round's state is materialized to a fresh default-stats leaf, so
    * neither the logical plan nor the computed sizeInBytes compound
    * across rounds. CONVERGENCE is an exact potential test (count +
    * decimal Σ(a+b) — see the potential paragraph below), not an
    * accumulator and not a join — and a round-function fixpoint IS
    * the joint star fixpoint (each half is non-increasing in the
    * shifted potential over the distinct edge set, with equality only
    * at its own fixpoint).
    *
    * Throws IllegalStateException if `maxIter` rounds don't converge
    * (never silently returns wrong labels). `checkpointDir`, when set,
    * truncates lineage every `ClusterCheckpointEvery` rounds with a
    * RELIABLE checkpoint — without it, executor loss late in a long
    * run can recompute all the way back to the pair join (persisted
    * rounds help only as far as surviving blocks).
    *
    * SMALL-GRAPH FAST PATH: when `SmallInput` admits the canonical
    * edge MULTISET count under `ClusterEdges` (gating on the multiset
    * is conservative for the single-task cap, and the union-find
    * dedups implicitly — the small case pays no distinct exchange) the
    * component resolution runs as a single union-find pass in one task
    * instead of ~log² rounds × 4 distributed jobs each — after
    * LSH banding + verification, real pair graphs are typically tiny
    * even when the corpus is not, and the iterative path's cost is
    * then pure scheduling overhead. Star contraction remains the path
    * for everything larger; tests force it with `SmallInput.scoped(0)`.
    *
    * `minRounds` (default 0 — no effect) keeps the star loop running
    * past convergence up to the given round count: the rehearsal's
    * LINEAGE-GROWTH instrumentation. Round count is ~log₂(diameter),
    * so no materializable input reaches 40 natural rounds (that would
    * need a 2⁴⁰-vertex chain) — forcing extra rounds on the converged
    * state isolates exactly the per-round cost unbounded lineage adds
    * (DAG walk + closure serialization per job grows with round
    * number) with the data size held constant. MEASURED CONCLUSION
    * (SCALE_r18, 400k chain, the RDD form): ckpt ≈ no-ckpt at the
    * natural ~20 rounds AND at forced 40 — per-round cost flat, no
    * superlinear lineage term; every round's state is materialized,
    * so later rounds read blocks, never lineage. The DataFrame form
    * keeps the same structure (each round's state is a forced
    * checkpoint leaf). Reliable checkpointing buys FAULT TOLERANCE
    * (bounded recompute after executor loss), not speed; it is
    * round-count-gated by `checkpointEvery` purely to bound that
    * recompute window.
    *
    * CONVERGENCE is an exact POTENTIAL test, no join: with the shift
    * Φ'(S) = Σ_{(a,b)∈S} (a + b + 2⁶⁴) — i.e. |S| and Σ(a+b) in
    * decimal, which the loop tracks — Φ'(round(S)) ≤ Φ'(S) with
    * equality IFF round(S) = S. Proof: small-star maps each state row
    * bijectively (the group-min row to ssSelf's identical (u, m(u)),
    * every other (u, v) to (v, m(u)) whose shifted row-potential is
    * strictly smaller since m(u) < u), large-star maps each canonical
    * row (x, v) to (v, least(x, m(x))) — identity or strictly
    * smaller — and the between-half `distinct` only removes rows,
    * each of strictly positive shifted potential (a ≠ b forces
    * a + b + 2⁶⁴ ≥ 1 even at the signed-long extremes). Equality
    * therefore forces every per-row map to be the identity AND no
    * merging: next = cur exactly, no hash-collision caveat. This
    * replaced the |next|-sized anti-join converged rounds used to pay
    * to certify `changed` (measured: the equality probe cost more
    * than the contraction it certified on the converged 19.9M-edge
    * XL state) with one map-side-combined decimal aggregation per
    * round.
    */
  def dupClusters(pairs0: DataFrame, maxIter: Int = 30,
      checkpointDir: Option[String] = None,
      checkpointEvery: Int = ClusterCheckpointEvery,
      heavyDegree: Long = 0L,
      minRounds: Int = 0): DataFrame = {
    val spark = pairs0.sparkSession
    val sc = spark.sparkContext
    checkpointDir.foreach(sc.setCheckpointDir)
    // ONE pass over the (possibly expensive — e.g. the ngram join)
    // pair pipeline, split into canonical (small, large) undirected
    // edges and self-pair ids. A self-pair (a, a) carries no edge but
    // DOES assert a is its own singleton component — its id re-enters
    // the label set at the end (current in-repo producers emit strict
    // a < b pairs, but the operator must not depend on that).
    import org.apache.spark.sql.graft.ColumnBridge
    def ckR(df: DataFrame, reliable: Boolean): (DataFrame, Long) =
      ColumnBridge.statsFreeCheckpointCounted(df, reliable)
    def drop(df: DataFrame): Unit = ColumnBridge.unpersistCheckpoint(df)
    val raw0 = pairs0.select(col("doc_a").as("a"), col("doc_b").as("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // The canonical MULTISET, checkpointed once off the (possibly
    // expensive) pair pipeline. The fast-path decision reads its
    // count: gating on the multiset is conservative for the
    // single-task cap (multiset ≥ distinct), and the union-find
    // dedups implicitly — so the small case pays NO distinct exchange
    // at all (measured: the unconditional round-0 distinct added
    // ~0.2 s to every sub-second cluster gate at sf0.1 while buying
    // nothing the one-task pass needed).
    val (rawAll, nRawAll) = ckR(raw0.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")), reliable = false)
    val (selfIds, nSelf) = ckR(raw0.filter(col("a") === col("b"))
      .select(col("a")).distinct(), reliable = false)
    raw0.unpersist(blocking = false)
    val roundLog = scala.collection.mutable.ListBuffer[RoundStat]()
    // EXACT potential Σ(a+b) of a distinct state, in decimal(38,0) so
    // ids anywhere in long range cannot wrap (|a+b| < 2⁶⁵ per row;
    // 10¹⁸ rows stay under the 38-digit ceiling). One map-side-
    // combined aggregation over the just-checkpointed state — the
    // convergence probe, replacing the anti-join (see the Scaladoc's
    // potential proof). Null on a non-empty state would mean decimal
    // overflow — impossible at any materializable size, guarded loud.
    def phi(df: DataFrame, n: Long): java.math.BigDecimal = {
      val r = df.agg(sum(col("a").cast("decimal(38,0)") +
        col("b").cast("decimal(38,0)"))).collect()(0)
      if (r.isNullAt(0)) {
        require(n == 0L, "potential sum overflowed decimal(38,0) — " +
          "cannot certify convergence")
        java.math.BigDecimal.ZERO
      } else r.getDecimal(0)
    }
    // One small-star + large-star round over the checkpointed state
    // (a, b): returns (next state, |next|, Φ(next), changed) where
    // `changed` is -1 when |next| != |cur| (trivially not converged)
    // and otherwise the exact potential drop Φ'(cur) − Φ'(next) =
    // Φ(cur) − Φ(next) (counts equal ⇒ the 2⁶⁴ shifts cancel), capped
    // to Long for the round log. changed == 0 ⇔ Φ'(next) == Φ'(cur) ⇔
    // round(cur) == cur ⇔ joint star fixpoint — exact, no join, no
    // probabilistic hashing (Scaladoc: the per-row bijection makes Φ'
    // strictly decreasing off the fixpoint).
    def starRound(cur: DataFrame, nCur: Long,
        phiCur: java.math.BigDecimal, iterNo: Int, hvy: Long)
        : (DataFrame, Long, java.math.BigDecimal, Long) = {
      val tR0 = System.nanoTime()
      val reliableDue = checkpointDir.isDefined &&
        (iterNo + 1) % math.max(1, checkpointEvery) == 0
      // SMALL-STAR leads: it reads the state at canonical width (the
      // (max, min) orientation — |cur| rows, not the 2|cur|
      // symmetrization large-star aggregates over), so the cheaper
      // operation runs on the LARGEST state the loop ever sees (the
      // raw round-0 input) and hands large-star an already-contracted
      // relation. Both operations preserve connectivity and the joint
      // fixpoint is order-independent (Kiveris et al. §3), so
      // alternation starting with either is the same algorithm.
      val dir = cur.select(greatest(col("a"), col("b")).as("u"),
        least(col("a"), col("b")).as("v"))
      val ssAgg = dir.groupBy("u")
        .agg(min(col("v")).as("mn"), count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val ssHeavy = ssAgg.filter(col("deg") >= hvy)
        .select(col("u"), col("mn"))
      val ssHeavyOut = dir.join(broadcast(ssHeavy), "u")
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("a"), col("mn").as("b"))
      val ssLight = dir
        .join(broadcast(ssHeavy.select(col("u"))), Seq("u"), "left_anti")
        .join(ssAgg.select(col("u"), col("mn")), "u")
        .filter(col("v") =!= col("mn"))
        .select(col("v").as("a"), col("mn").as("b"))
      // the (u, m(u)) star edge itself — one per group, straight from
      // the aggregate (m(u) < u always: every group key has a smaller
      // neighbor). SET SEMANTICS between half-rounds: the rewrite
      // emits a multiset (once most of a component points at its
      // root, every vertex re-emits (v, root) once per original
      // neighbor), and large-star symmetrizes whatever it is given —
      // the distinct here means it aggregates 2·|distinct| rows, not
      // 2·|multiset| (measured 120M → 25M on the 100M-edge fixture's
      // round 0).
      val ssSelf = ssAgg.select(col("u").as("a"), col("mn").as("b"))
      val (ss, _) = ckR(
        ssSelf.unionByName(ssHeavyOut).unionByName(ssLight).distinct(),
        reliable = false)
      // LARGE-STAR: m(x) = min(Γ(x) ∪ {x}) needs the symmetrized
      // neighborhood, but the REWRITE joins only the canonical
      // (lo, hi) half — the emit fires exactly once per undirected
      // edge instance, keyed by its smaller endpoint, and only m(lo)
      // is ever consumed. A hub appearing as the LARGER endpoint needs
      // no broadcast at all (its rows are keyed by its neighbors and
      // spread by construction); a hub as the smaller endpoint —
      // every contracted root — takes the broadcast path.
      val sym = ss.select(col("a").as("x"), col("b").as("y"))
        .unionByName(ss.select(col("b").as("x"), col("a").as("y")))
      val lsAgg = sym.groupBy("x")
        .agg(min(col("y")).as("mn"), count(lit(1)).as("deg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val lsHeavy = lsAgg.filter(col("deg") >= hvy)
        .select(col("x"), col("mn"))
      val can = ss.select(least(col("a"), col("b")).as("x"),
        greatest(col("a"), col("b")).as("v"))
      val lsHeavyOut = can.join(broadcast(lsHeavy), "x")
        .select(col("v").as("a"), least(col("x"), col("mn")).as("b"))
      val lsLight = can
        .join(broadcast(lsHeavy.select(col("x"))), Seq("x"), "left_anti")
        .join(lsAgg.select(col("x"), col("mn")), "x")
        .select(col("v").as("a"), least(col("x"), col("mn")).as("b"))
      val (next, nAfter) = ckR(
        lsHeavyOut.unionByName(lsLight).distinct(), reliable = reliableDue)
      val phiNext = phi(next, nAfter)
      val changed =
        if (nAfter != nCur) -1L
        else {
          val d = phiCur.subtract(phiNext)
          // exact potential drop, capped into the Long diagnostic slot
          if (d.compareTo(java.math.BigDecimal.valueOf(Long.MaxValue)) > 0)
            Long.MaxValue
          else d.longValueExact()
        }
      ssAgg.unpersist(blocking = false)
      lsAgg.unpersist(blocking = false)
      drop(ss)
      drop(cur)
      val secs = (System.nanoTime() - tR0) / 1e9
      roundLog += RoundStat(iterNo, nAfter, changed, secs)
      (next, nAfter, phiNext, changed)
    }
    // which checkpointed frame still needs releasing once `labels`
    // materializes
    var releaseAfter: DataFrame = rawAll
    val withRoots: DataFrame =
      if (SmallInput.admits(nRawAll, SmallInput.ClusterEdges)) {
        lastStarRounds.set(0)
        lastRounds.set(Nil)
        // SMALL-GRAPH FAST PATH — one union-find pass in one task.
        // Min-id union (parent(max-root) := min-root) makes every root
        // its component's minimum, exactly the star fixpoint's labels.
        val lab = rawAll.rdd
          .map(r => (r.getLong(0), r.getLong(1)))
          .coalesce(1).mapPartitions { it =>
            val parent = scala.collection.mutable.LongMap.empty[Long]
            def find(x: Long): Long = {
              var r = x
              var p = parent.getOrElse(r, r)
              while (p != r) { r = p; p = parent.getOrElse(r, r) }
              var c = x // path compression
              while (c != r) { val nx = parent(c); parent.update(c, r); c = nx }
              r
            }
            it.foreach { case (a, b) =>
              if (!parent.contains(a)) parent.update(a, a)
              if (!parent.contains(b)) parent.update(b, b)
              val ra = find(a)
              val rb = find(b)
              if (ra != rb) {
                if (ra < rb) parent.update(rb, ra) else parent.update(ra, rb)
              }
            }
            parent.keys.toArray.iterator.map(k => (k, find(k)))
          }
        spark.createDataFrame(
          lab.map { case (n, l) => org.apache.spark.sql.Row(n, l) },
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("a",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("b",
              org.apache.spark.sql.types.LongType, nullable = false))))
      } else {
        // STAR-LOOP entry: deduplicate to the edge SET first — the
        // contraction is defined on sets, every later state is
        // deduplicated between half-rounds, and `nEdges` (which sizes
        // `parts`, the heavy-hub threshold, and round 0's aggregation
        // + rewrite-join width) must describe the graph, not the
        // input multiset (the 100M-edge rehearsal fixture carries ~2x
        // multiplicity; its round 0 dropped 151 -> ~102 s warm).
        val (raw, nEdges) = ckR(rawAll.distinct(), reliable = false)
        drop(rawAll)
        releaseAfter = raw
        // the heavy-hub threshold is sized off the DATA (a near-empty
        // pair graph should broadcast aggressively is moot — AQE
        // coalesces its shuffles anyway); `parts` mirrors the
        // partitioner sizing the RDD form used, now only as the
        // threshold's scale denominator
        val maxParts = math.max(1, org.apache.spark.sql.graft.ColumnBridge
          .sqlConf(spark).numShufflePartitions)
        val parts = math.max(1,
          math.min(maxParts.toLong, nEdges / 250000L + 1L).toInt)
        // Heavy-hub broadcast threshold: 2E/(64·parts). The broadcast
        // side stays counting-bounded — at most 2E/hvy = 128·parts
        // entries (a few KB of longs) — while every key above ~1.6%
        // of a mean partition's rows rewrites through a broadcast
        // hash join, so no shuffle-join task owns an adjacency more
        // than a sliver above the mean. The contracted giant
        // component's root (degree ≈ its member count) always
        // crosses this.
        val hvy =
          if (heavyDegree > 0L) heavyDegree
          else math.max(1024L, 2L * nEdges / parts / 64L)
        var edges = raw
        var nCur = nEdges
        var phiCur = phi(raw, nEdges)
        var converged = false
        var iter = 0
        while ((!converged || iter < minRounds) && iter < maxIter) {
          val (next, nAfter, phiNext, changed) =
            starRound(edges, nCur, phiCur, iter, hvy)
          edges = next
          nCur = nAfter
          phiCur = phiNext
          converged = changed == 0L
          iter += 1
        }
        if (!converged) {
          drop(edges)
          drop(selfIds)
          throw new IllegalStateException(
            s"dupClusters did not converge after $maxIter star rounds — " +
              "the pair input is unstable or degenerate; raise maxIter")
        }
        lastStarRounds.set(iter)
        lastRounds.set(roundLog.toList)
        releaseAfter = edges
        // converged edge set = {(member, root)} stars oriented
        // (larger, smaller): members from the star edges, roots
        // labeled to themselves
        val members = edges.groupBy(col("a")).agg(min(col("b")).as("b"))
        members.unionByName(
          members.select(col("b").as("a"), col("b").as("b")))
      }
    // self-pair-only docs re-enter as their own singleton components
    // (min keeps the real root when a self-paired doc also has edges:
    // root ≤ every member id)
    val labels = (if (nSelf > 0L)
        withRoots.unionByName(selfIds.select(col("a"), col("a").as("b")))
      else withRoots)
      .groupBy(col("a")).agg(min(col("b")).as("b"))
      .select(col("a").as("doc_id"), col("b").as("cluster_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count() // materialize so the inputs can be dropped
    drop(releaseAfter)
    drop(selfIds)
    // the labels frame stays persisted for the consumer's action;
    // graft.Caches.clear releases it afterwards (tracked here)
    graft.Caches.track(labels)
    labels
  }

  /** Memo (`clusters`) of the DEFAULT cluster relation —
    * `dupClusters(ngramJaccard(docs))`, the labelling five gates and
    * the curation/manifest/split pipelines all consume over the same
    * corpus back to back. The memoized relation is
    * statsFreeLocalCheckpoint-backed (session-lived executor blocks,
    * not Caches-leased — the star loop's own RDD caches are released
    * per query, but the checkpointed labels survive), so later
    * consumers skip the whole shingle-join + star-contraction chain.
    * Same keying discipline as GraphOps' sweeps: params string + the
    * canonicalized plan OBJECT, so a stale reuse across corpora is
    * structurally impossible. `PlanMemo.hitsOf("clusters")` exists for
    * the spec.
    */
  def defaultClusters(docs: DataFrame): DataFrame =
    graft.PlanMemo.getOrBuild(docs, "clusters") {
      org.apache.spark.sql.graft.ColumnBridge
        .statsFreeLocalCheckpoint(dupClusters(ngramJaccard(docs)))
    }

  /** The full dedup pipeline as one operator: exact dedup → MinHash-LSH
    * near-dup pairs over the exact survivors (exact copies would flood
    * every LSH bucket — the standard exact-then-near order) → connected
    * components → keep the min-doc_id survivor per cluster. Returns the
    * surviving rows of `docs` unchanged.
    */
  def survivors(docs: DataFrame): DataFrame = {
    // SESSION-MEMOIZED survivor IDS (the `clusters` discipline): the
    // exact pass + MinHash-LSH + star contraction is the whole cost of
    // the gate and is identical across back-to-back calls. The memo
    // holds the (doc_id) relation, NOT the surviving rows — ids are
    // id-sized at any corpus scale, where checkpointing the text
    // columns would pin a corpus-sized copy in executor memory. Each
    // call re-derives the rows with one semi-join against `docs`
    // (same rows as the anti-join form: survivors ⊆ exact survivors ⊆
    // docs, keyed by doc_id). `PlanMemo.hitsOf("survivorIds")` exists
    // for the spec.
    val ids = graft.PlanMemo.getOrBuild(docs, "survivorIds") {
      org.apache.spark.sql.graft.ColumnBridge
        .statsFreeLocalCheckpoint(survivorIdsUncached(docs))
    }
    docs.join(ids, Seq("doc_id"), "left_semi")
  }

  /** The uncached survivor-id build `survivors` memoizes. */
  private def survivorIdsUncached(docs: DataFrame): DataFrame = {
    // the exact-dedup pass (full-corpus aggregation + semi-join) feeds
    // BOTH the near-dup stage and the final anti-join — pin it
    val exactSurvivors = graft.Caches.track(docs.join(
        exact(docs).select("doc_id"), Seq("doc_id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK))
    nearDupSurvivors(exactSurvivors, dupClusters(minhashLsh(exactSurvivors)))
      .select("doc_id")
  }

  /** The exact-then-near survivor rule: the losers are the cluster
    * members other than their cluster's min doc_id (`doc_id` ≠
    * `cluster_id` in a `dupClusters` labelling), and the survivors are
    * the exact survivors without them. Returns the surviving rows of
    * `exactSurvivors` unchanged.
    */
  private[graft] def nearDupSurvivors(exactSurvivors: DataFrame,
      clusters: DataFrame): DataFrame = {
    val losers = clusters.filter(col("doc_id") =!= col("cluster_id"))
      .select("doc_id")
    exactSurvivors.join(losers, Seq("doc_id"), "left_anti")
  }

  /** QUALITY-AWARE survivor selection: given a cluster labelling
    * (`doc_id`, `cluster_id` — e.g. `dupClusters` output) and a score
    * relation (`doc_id`, `scoreCol` — e.g. `TextOps.quality`), keep
    * per cluster the HIGHEST-scoring member (tie → min `doc_id`, so
    * the choice is deterministic at any partitioning) and every doc
    * outside the labelling (singletons have nothing to lose to).
    * Returns the surviving rows of `docs` unchanged — the "keep the
    * BEST copy, not the first-seen copy" policy a training-data
    * pipeline actually wants (the boilerplate-ridden early crawl of a
    * page should lose to its clean recrawl even when its id is
    * smaller).
    *
    * Physical: the winner per cluster is ONE `max_by` aggregation
    * over the cluster-sized labelling (argmax key = (score, −doc_id)
    * struct — lexicographic struct ordering encodes the tie-break, no
    * window, no sort); losers = labelling ∖ winners via a left-anti
    * join, and the final survivor set is one more left-anti join
    * against `docs`. Nothing here touches text and every shuffle is
    * keyed by `cluster_id` or `doc_id` — at 100 TB the labelling is
    * pairs-sized (docs that collided in some candidate bucket), so
    * the aggregation input is far smaller than the corpus.
    *
    * Contract: `scores` must cover every labelled `doc_id` (an inner
    * join drops unscored members — they could neither win nor lose,
    * silently surviving); ids are non-negative (the testdata
    * contract; −doc_id must not wrap).
    */
  def survivorsBest(docs: DataFrame, clusters: DataFrame,
      scores: DataFrame, scoreCol: String = "quality"): DataFrame = {
    val scored = clusters.select("doc_id", "cluster_id")
      .join(scores.select(col("doc_id"), col(scoreCol).as("__score")),
        "doc_id")
    val winners = scored.groupBy("cluster_id")
      .agg(max_by(col("doc_id"),
        struct(col("__score"), -col("doc_id"))).as("doc_id"))
    val losers = scored.select("doc_id")
      .join(winners.select("doc_id"), Seq("doc_id"), "left_anti")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  // ---- corpus-level repeated substrings ----

  /** Default window for `repeatedSpans`: 30 code points ≈ a clause —
    * long enough that a corpus-repeated window is real boilerplate
    * (memorization risk), short enough to catch template fragments.
    */
  val SpanGramChars = 30

  /** SUB-document dedup signal (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): find every k-code-point
    * window whose text occurs ≥ `minOccur` times ACROSS THE CORPUS,
    * merge each doc's hit windows into maximal spans, and report per
    * doc: `n_spans` (maximal repeated regions), `covered_chars` (total
    * code points inside them — what span-removal would delete) and
    * `n_hits` (repeated window positions). Docs with no repeated
    * window are absent (nothing to remove).
    *
    * Plan shape at 100 TB: a map stage computes all window hashes
    * via the rolling `char_gram_hash` expression (O(len) per doc, not
    * O(len·k)); the only data shuffled is (hash, doc_id, pos) triples
    * — never text — keyed by the 64-bit window hash, so repeated-gram
    * detection is an aggregation, and the hit join is a left-semi
    * equi-join on the same key. The gram stream is RECOMPUTED for the
    * hit join rather than cached: a per-character relation cached for
    * a 100 TB corpus is itself multi-PB (~20× the text), while the
    * rolling hash is one cheap map pass over the parquet scan — the
    * early aggregate shrinks everything that persists across stages
    * to the repeated-hash key set. Span merging is per-doc array
    * arithmetic: with hit positions sorted, a window at p_i starts a
    * new span iff p_i − p_{i−1} > k, and contributes
    * min(k, p_i − p_{i−1}) covered code points (k for the first) — no
    * per-char explosion, no window function.
    *
    * The window key is the combined ~60-bit double hash (see
    * CharGramHashUtil: a single 30-bit space measurably false-merged
    * windows even at sf0.01), so a false repeated-window mark needs a
    * ~1e-18 collision — negligible at any realistic corpus size.
    */
  /** Per-doc SORTED repeated-window positions — the shared subplan of
    * `repeatedSpans` (stats) and `spansRemoved` (application).
    */
  private def hitPositions(docs: DataFrame, k: Int,
      minOccur: Long): DataFrame = {
    import graft.functions.CharGramHashFunctions.char_gram_hash
    // the gram relation feeds both the frequency agg and the hit
    // join; each use recomputes it (one map stage over the scan) —
    // persisting it would cache one row per corpus character.
    // ROUND-21: the frequency branch repartitions by the window hash
    // BEFORE counting (guide §2.1/§2.5 — spread the work, then
    // aggregate). Window hashes are mostly UNIQUE, so the map-side
    // partial count reduced ~nothing while building a gram-sized hash
    // table per map task single-threadedly (and a low-split input —
    // one parquet file — makes that ONE task); pruned to the bare `h`
    // column the repartition ships the same bytes the partial agg's
    // output did, and the count runs across all reduce slots. The
    // probe branch is untouched: its join keys on the same hash and
    // carries (doc_id, pos) — the semi join output stays the only
    // thing that reaches the per-doc aggregation.
    def grams = docs.select(col("doc_id"),
      posexplode(char_gram_hash(col("text"), k)).as(Seq("pos", "h")))
    val rep = grams.select(col("h")).repartition(col("h"))
      .groupBy("h").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minOccur).select("h")
    grams.join(rep, Seq("h"), "left_semi")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
  }

  def repeatedSpans(docs: DataFrame, k: Int = SpanGramChars,
      minOccur: Long = 2L): DataFrame = {
    val ps = hitPositions(docs, k, minOccur)
    ps.select(col("doc_id"),
      expr(s"aggregate(transform(ps, (x, i) -> IF(i = 0, 1L, " +
          s"IF(x - element_at(ps, i) > $k, 1L, 0L))), 0L, (a, b) -> a + b)")
        .as("n_spans"),
      expr(s"aggregate(transform(ps, (x, i) -> IF(i = 0, ${k}L, " +
          s"LEAST(${k}L, CAST(x - element_at(ps, i) AS BIGINT)))), " +
          "0L, (a, b) -> a + b)")
        .as("covered_chars"),
      size(col("ps")).cast("long").as("n_hits"))
  }

  /** APPLY sub-document dedup: every corpus-repeated span (as found by
    * `repeatedSpans`) is CUT from the text — the Lee-et-al. removal
    * step itself, returning (doc_id, clean_text) for every doc
    * (untouched docs pass through). Span boundaries come from the
    * sorted hit positions by pure array arithmetic (a position starts
    * a span iff its gap to the previous exceeds k; ends mirror it),
    * and the kept text is the zip of the complementary segments —
    * `substring` is code-point-indexed identically in Spark
    * (UTF8String) and DuckDB, which is what makes CLEANED TEXT
    * hash-checkable, not just span counts.
    *
    * Note both copies of a repeated span are removed (no survivor
    * copy) — the conservative memorization-scrubbing variant; keeping
    * one canonical copy would need a global owner election per span
    * cluster, a different (and rarely needed) contract.
    */
  def spansRemoved(docs: DataFrame, k: Int = SpanGramChars,
      minOccur: Long = 2L): DataFrame =
    cutSpans(docs, hitPositions(docs, k, minOccur), k)

  /** Keep-ONE-survivor span removal — the Lee-et-al. canonical-copy
    * contract: for every corpus-repeated window, the lexicographically
    * first occurrence (min (doc_id, pos)) is the OWNER and is kept;
    * only non-owner occurrences are cut. `spansRemoved` above is the
    * conservative scrub (both copies go); this variant preserves one
    * canonical copy of each repeated region so the corpus keeps the
    * content exactly once.
    *
    * Same scale shape as `spansRemoved`: the owner election rides the
    * existing per-hash aggregate (min of a 16-byte struct next to the
    * count — no extra shuffle), and the hit join stays keyed on the
    * window hash; only the aggregated `rep` side widens by the owner
    * column. Nothing corpus-sized is persisted here either.
    */
  def spansRemovedKeepOne(docs: DataFrame, k: Int = SpanGramChars,
      minOccur: Long = 2L): DataFrame = {
    import graft.functions.CharGramHashFunctions.char_gram_hash
    // owner-election agg repartitioned by the window hash before
    // counting — exactly the hitPositions round-21 shape (the agg
    // here additionally carries the (doc_id, pos) owner candidate)
    def grams = docs.select(col("doc_id"),
      posexplode(char_gram_hash(col("text"), k)).as(Seq("pos", "h")))
    val rep = grams.repartition(col("h"))
      .groupBy("h")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("owner"))
      .filter(col("cnt") >= minOccur)
      .select(col("h"), col("owner"))
    val ps = grams.join(rep, Seq("h"))
      .filter(struct(col("doc_id"), col("pos")) =!= col("owner"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
    cutSpans(docs, ps, k)
  }

  /** Shared APPLY step: merge sorted hit positions `ps` into maximal
    * spans (start iff gap > k, end mirrored) and return every doc with
    * those spans cut from its text (docs absent from `ps` pass
    * through).
    */
  private def cutSpans(docs: DataFrame, hitPs: DataFrame,
      k: Int): DataFrame = {
    val spans = hitPs.select(col("doc_id"),
      expr(s"filter(transform(ps, (x, i) -> " +
          s"IF(i = 0 OR x - element_at(ps, i) > $k, x, -1)), v -> v >= 0)")
        .as("starts"),
      expr(s"filter(transform(ps, (x, i) -> IF(i = size(ps) - 1 OR " +
          s"element_at(ps, i + 2) - x > $k, x + $k, -1)), v -> v >= 0)")
        .as("ends"))
    docs.join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("starts").isNull, col("text"))
          .otherwise(expr("array_join(zip_with(" +
            "concat(array(0), ends), concat(starts, array(length(text))), " +
            "(s, e) -> substring(text, s + 1, e - s)), '')"))
          .as("clean_text"))
  }

  // ---- SimHash ----

  /** 60 signature bits = two independent 30-bit PolyHash spaces per
    * token (`h1 | h2 << 30`, see SimHashUtil). Width matters at scale:
    * the 4 bands below are 15 bits each → 2^15 = 32,768 buckets per
    * band, so band-bucket occupancy is N/32,768 (the old 30-bit
    * signature had 7–8-bit bands → 128–256 buckets, degenerating
    * toward all-pairs at large N).
    */
  val SimBits = 60
  val SimBands = 4
  val SimBandBits: Int = SimBits / SimBands // 15

  /** 60-bit SimHash over the token multiset: bit b is set when the
    * (+1/−1)-weighted sum of token-hash bit b is positive. Native
    * per-row expression — ZERO shuffle (the explode → groupBy →
    * per-bit conditional sums formulation, kept below for
    * cross-checking, shuffles every token).
    */
  def simhash(docs: DataFrame): DataFrame = simhashSigs(tokenRel(docs))

  /** The (doc_id, toks) whitespace-token relation SimHash reads. */
  private def tokenRel(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))

  /** The SimHash signature projection over a tokenized relation
    * (doc_id, toks): (doc_id, simhash), docs without a token dropped.
    */
  private def simhashSigs(toksRel: DataFrame): DataFrame =
    toksRel.select(col("doc_id"),
        graft.functions.ShingleHashFunctions.simhash(col("toks"), SimBits)
          .as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Aggregation-form twin of `simhash` (cross-check only). */
  private[graft] def simhashViaAgg(docs: DataFrame): DataFrame = {
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"),
        (poly_hash(col("t")) +
          shiftleft(graft.functions.PolyHashFunctions.poly_hash2(col("t")), 30))
          .as("h"))
    val bitSums = (0 until SimBits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"s$b")
    }
    val sig = (0 until SimBits).map { b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), sig.as("simhash"))
  }

  /** SimHash near-dup pairs: Hamming distance ≤ 3. Candidate pairs come
    * from 4 band equi-joins (15 bits each): by pigeonhole, any pair at
    * Hamming ≤ 3 agrees on at least one of 4 bands, so the banding is
    * EXACT (no false negatives) while avoiding the all-pairs product.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashPairsOf(tokenRel(docs), maxHamming)

  /** The banded SimHash pair core over an ALREADY-tokenized relation
    * (doc_id, toks) — shared by the text form above (whitespace
    * tokens) and `Multimodal.mediaSimhashPairs` (hex byte-grams of a
    * binary payload). Same signature expression, same exact-by-
    * pigeonhole banding.
    */
  def simhashPairsOf(toksRel: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sig = graft.Caches.track(
      simhashSigs(toksRel).persist(StorageLevel.MEMORY_AND_DISK))
    val bands = (0 until SimBands).map(j => (j * SimBandBits, SimBandBits))
    // Long format: one row per (doc, band) → a SINGLE equi-join on
    // (band_idx, band_val) replaces 4 separate self-joins (and 8
    // recomputations of the signature pipeline).
    val bandVals = array(bands.map { case (off, width) =>
      shiftright(col("simhash"), off).bitwiseAND((1L << width) - 1)
    }: _*)
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(bandVals).as(Seq("band_idx", "band_val")))
    banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).cast("long")
          .as("hamming"))
      // filter BEFORE distinct: the dedup shuffle then carries only the
      // near-dup pairs, not every band collision (clustered signatures
      // make collisions the dominant cost)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  // ---- MinHash + LSH ----

  val MinhashP: Long = 1000000007L

  /** 16 fixed universal-hash parameter pairs (a, b) — literals so the
    * SQL oracle can reproduce them exactly. a·h + b stays < 2^63 for
    * h < 1e9+7.
    */
  val MinhashAB: Seq[(Long, Long)] = Seq(
    (472882049L, 902538173L), (259336153L, 397705483L),
    (149774463L, 610409889L), (817504243L, 55659149L),
    (585121309L, 366254849L), (923439533L, 259994233L),
    (704812369L, 118095893L), (331105859L, 807110387L),
    (200029103L, 481930513L), (628034489L, 74845561L),
    (866604509L, 943556227L), (467708869L, 690104083L),
    (159085123L, 315234911L), (738245471L, 528031331L),
    (61917101L, 174300283L), (996537379L, 651014189L))

  val LshBands = 4
  val LshRows = 4 // 4 bands × 4 rows = 16 minhashes

  /** Deterministic fingerprint of every constant a persisted band-key
    * relation depends on (shingle width, minhash parameters, banding
    * layout). `StreamDedup.bandKeysOf` stamps it onto each persisted
    * row and `nearDupIncrementalKeys` fails loudly on a mismatch —
    * keys produced under different constants would silently stop
    * matching fresh signatures and weaken the dedup filter to a no-op.
    * Pure driver-side arithmetic (a 64-bit polynomial fold over the
    * canonical constant string), stable across JVMs and versions.
    */
  val LshParamsFingerprint: Long = Stamps.paramsFingerprint(ShingleN,
    MinhashP, MinhashAB.map { case (a, b) => s"$a:$b" }.mkString(","),
    LshBands, LshRows)

  /** The MinHash signature of `text`'s distinct shingles: one array of
    * `MinhashAB.size` minhashes (array_min over each affine transform,
    * native and one-pass), null when the doc has no shingle.
    */
  private[graft] def minhashSig: Column =
    graft.functions.ShingleHashFunctions.minhash_sig(shingleHashSet,
      MinhashAB.map(_._1), MinhashAB.map(_._2), MinhashP)

  /** The `LshBands` band signatures of a signature array `sig`: band j
    * is the text of minhashes j·LshRows … (j+1)·LshRows − 1 joined by
    * ",". A persisted format: `StreamDedup.bandKeysOf` writes it,
    * stamped with `LshParamsFingerprint`.
    */
  private[graft] def bandSigs(sig: Column): Column =
    array((0 until LshBands).map { j =>
      concat_ws(",", (0 until LshRows).map(r =>
        element_at(sig, j * LshRows + r + 1)): _*)
    }: _*)

  /** (doc_id, sig) for the docs with ≥ 1 shingle. */
  private def signatures(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), minhashSig.as("sig"))
      .filter(col("sig").isNotNull)

  /** Per-doc MinHash signature columns mh0..mh15 (docs with ≥ 1 shingle
    * only). Computed entirely inside one projection: distinct shingle
    * hashes as an array, then array_min over each affine transform — no
    * explode, no shuffle.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signatures(docs).select(col("doc_id") +: MinhashAB.indices.map { i =>
      element_at(col("sig"), i + 1).as(s"mh$i")
    }: _*)

  /** MinHash-LSH near-dup pairs: candidates share at least one of 4
    * bands (4 rows each); candidates are then verified with the true
    * Jaccard ≥ 0.8 integer test. The band join shuffles only
    * (band-signature, doc_id); the verify join re-uses the shingle-hash
    * relation.
    */
  def minhashLsh(docs: DataFrame): DataFrame = {
    // Long-format bands: (doc_id, band_idx, band_sig) — the 16-minhash
    // pipeline runs ONCE (persisted), and a single equi-join on
    // (band_idx, band_sig) finds all band collisions.
    val banded = graft.Caches.track(signatures(docs)
      .select(col("doc_id"),
        posexplode(bandSigs(col("sig"))).as(Seq("band_idx", "band_sig")))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // Verify each candidate with the true Jaccard: one sorted shingle
    // array per side per pair (no explode). Bounded by |candidates|.
    jaccardPairs(candidates, sortedShingles(docs))
  }
}
