package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{Dedup, GraphOps, Multimodal, Similarity, Snapshot, TextOps, Warehouse}
import graft.sources.Tables
import graft.streaming.EventWindows

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every query result is order-insensitive at the value level and is
  * additionally sorted for deterministic dumps; all ids/counts are
  * LongType to stay bit-stable against the DuckDB oracle.
  */
object SparkEntry {

  /** Shared SQL prelude: the derived edge relation (SURVEY.md §7.1) —
    * bag semantics, NO DISTINCT.
    */
  private val EdgesCte =
    "SELECT o_custkey AS src, l_suppkey AS dst " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"

  /** Degree relation in oracle SQL — mirrors GraphOps.degrees (tagged
    * union + conditional sums).
    */
  private val DegCte =
    "SELECT vertex, SUM(in_c) AS m, SUM(out_c) AS n FROM (" +
      "SELECT src AS vertex, 0 AS in_c, 1 AS out_c FROM edges " +
      "UNION ALL " +
      "SELECT dst AS vertex, 1 AS in_c, 0 AS out_c FROM edges) t " +
      "GROUP BY vertex"

  /** MAX-id constants, scaled from the reference's 50,000 / 40,000 /
    * 7,812,500 to the testdata id range (custkey 0..1500·sf·100,
    * suppkey 0..100·sf·100) so each filter keeps a nonempty proper
    * subset at every sf. Same constants MUST appear in oracleSql.
    */
  val MaxRS = 50L // SocialTriangle_RS.java:32 — strict <
  val MaxRep = 40L // ReplicatedJoinDriver.java:31 — inclusive <=
  val MaxApprox = 78L // ApproxCardinality.java:24 — strict <

  /** Seed-set bound for the `pagerank_personalized` gate: seeds = the
    * graph vertices with id < PprSeedMax (8 keeps a handful of seeds
    * at every sf — vertex ids start at 0 on both the customer and
    * supplier ranges). Same constant MUST appear in oracleSql.
    */
  val PprSeedMax = 8L

  /** Probe version for the `docs_pit` gate — sits strictly between
    * the fixture's rev1 upserts (version 1) and its tombstones
    * (version 2), so the slice shows upserts applied but deletes not
    * yet. Same constant MUST appear in oracleSql.
    */
  val PitVersion = 1L

  /** Sparsifier modulus for the `graph_components` gate: keeps ~1/40
    * of edges, which splits the (otherwise fully-connected) derived
    * graph into ~24 components at sf0.01 — a non-degenerate partition
    * the oracle's reachability closure can still afford. Same constant
    * MUST appear in oracleSql.
    */
  val ComponentsMod = 40L

  /** Edge-slice modulus for the k-truss gate (denser than the
    * ComponentsMod slice so real peeling happens). Same constant MUST
    * appear in oracleSql.
    */
  val TrussMod = 5L

  /** Sparsifier modulus for the `graph_link_prediction` gate: ~1/4 of
    * edges keeps the capped common-neighbor candidate set around 124k
    * pairs at sf0.1 (measured) — non-trivial but cheap on both
    * engines. Same constant MUST appear in oracleSql.
    */
  val LinkPredMod = 4L

  /** Probe values for the `events_qsketch_cdf` gate. Same constants
    * (micro-units + probe buckets, both resolved driver-side) MUST
    * appear in the oracle SQL.
    */
  val CdfProbes: Seq[Double] = Seq(-5.0, 0.0, 1.5, 100.0)

  /** Seed-set bound and hop budget for the `graph_hops` gate: seeds =
    * vertices with id < HopSeedMax appearing in any edge; distances
    * capped at HopMax sweeps. Same constants MUST appear in oracleSql.
    */
  val HopSeedMax = 5L
  val HopMax = 3

  /** Deep-diameter variant (`graph_hops_deep`): BFS over 7 disjoint
    * step-7 doc_id chains (documents self-joined on
    * `doc_id + HopDeepStep`), seeds = the chain heads (doc_id <
    * HopDeepStep), budget HopDeepMax. Chains run ≥ 70 layers at every
    * sf, so — unlike the shallow gate — the 16-frame layer compaction
    * AND the hop-budget exit (not the empty-frontier exit) are on the
    * oracle-checked path, not just in rehearsal. Same constants MUST
    * appear in oracleSql.
    */
  val HopDeepStep = 7L
  val HopDeepMax = 64

  /** Sparsifier modulus for the `graph_scc` gate: thins the (otherwise
    * single-giant-SCC) < MaxRS subgraph to ~1/5 of its edges, which at
    * sf0.01 yields 7 SCCs — 4 multi-vertex, largest 20 — a
    * non-degenerate partition (measured; the same scaled-constant
    * trick as ComponentsMod). Same constant MUST appear in oracleSql.
    */
  val SccMod = 5L

  /** Per-run scratch dir for the stored-IVF gates (`knn_ivf_stored`,
    * `knn_ivf_pruned`): keyed by the Spark application id so two
    * concurrent harness runs over the same data dir never race on one
    * path, while stays deterministic within a run (the reloaded
    * relation is byte-identical either way — overwrite mode, fitted
    * content). Real deployments store the index once in a managed
    * location; the tmpdir round-trip is what the gate exercises.
    */
  private def ivfTmpDir(s: SparkSession, d: String, leaf: String): String = {
    // collision-free dir token (the bucketTable lesson): a 32-bit
    // hashCode collision between two sf dirs in one session would
    // alias their scratch trees and serve one corpus's stored
    // artifacts for the other
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
    val f = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_ivf_" + s.sparkContext.applicationId + "_" +
        digest + "_" + leaf)
    registerTmpCleanup(f)
    f.getAbsolutePath
  }

  /** Session memo of the STORED BM25 SERVING TIER's scratch dirs —
    * five gates (`text_bm25_indexed(+_recall)`, `text_bm25_prf_indexed
    * (+_recall)`, `search_hybrid_indexed`) serve from the identical
    * depth-256 postings + forward index over the identical corpus,
    * and each used to refit and rewrite both relations
    * (`postingsIndex(...).write` ×5). The memo performs the build on
    * the FIRST request per (session, corpus plan, depth) and hands
    * every later gate the same dirs — exactly the train-once/
    * serve-many economics the stored tier preaches. The value is a
    * pair of dir paths (nothing to unpersist — the parquet files are
    * the artifact, cleaned by the shutdown hook); keying by the
    * canonicalized CORPUS plan means a different sf dir or corpus
    * filter rebuilds rather than aliasing. The harness interleaves at
    * most two sf dirs in one session (verify + spec), so the
    * `bm25idxDirs` family holds at most two live entries.
    */
  private[graft] def bm25IndexDirs(s: SparkSession, d: String)
      : (String, String) = {
    import org.apache.spark.sql.functions.col
    val corpus = Tables.table(s, d, "documents")
      .filter(col("doc_id") >= TextOps.Bm25Queries)
    // the scratch-dir LEAF carries a digest of the memo key (corpus
    // plan + depth): a second, different corpus filter over the same
    // sf dir gets DISTINCT dirs instead of overwriting the ones an
    // older memo entry still serves — the dirs are as plan-keyed as
    // the memo itself
    val keyDigest = f"${scala.util.hashing.MurmurHash3.stringHash(
      corpus.queryExecution.analyzed.canonicalized.toString +
        "|" + TextOps.Bm25IndexDepth)}%08x"
    PlanMemo.getOrBuild(corpus,
        s"bm25idxDirs|${TextOps.Bm25IndexDepth}") {
      // same per-build nonce rule as storedDirWith: an evicted entry's
      // rebuild must land in a fresh dir, never overwrite one a lazy
      // reader from the old entry may still be scanning
      val n = storedDirNonce.incrementAndGet()
      val idxDir = ivfTmpDir(s, d, s"bm25_idx_${keyDigest}_b$n")
      TextOps.postingsIndex(corpus, k = TextOps.Bm25IndexDepth)
        .write.mode("overwrite").parquet(idxDir)
      val lensDir = ivfTmpDir(s, d, s"bm25_lens_${keyDigest}_b$n")
      TextOps.docLengths(corpus).write.mode("overwrite").parquet(lensDir)
      (idxDir, lensDir)
    }
  }

  // per-BUILD nonce folded into every stored dir's leaf: unlike the
  // DataFrame memos, path values get no ref-count protection, so if
  // LRU eviction ever fired, a re-request would re-WRITE the evicted
  // entry's deterministic dir in overwrite mode while a lazy reader
  // returned from the old entry might still be scanning it. With the
  // nonce, an eviction-then-rebuild writes a FRESH dir and the old
  // tree stays readable until the session's shutdown hook sweeps it —
  // correctness does not lean on "the shared bound ≫ live keys"
  // holding forever.
  private val storedDirNonce = new java.util.concurrent.atomic.AtomicLong

  /** `bm25IndexDirs`' write-once economics GENERALIZED: a session memo
    * of stored-artifact scratch dirs keyed by (leaf, FIT plan). Every
    * stored-tier gate used to refit and rewrite its parquet artifact
    * on each invocation — repeated bench reps paid the build inside
    * the warm median, and gates sharing one fit (three PQ gates write
    * the same codebooks, three IVF gates the same centroids, two SQ8
    * gates the same stats+codes) each paid it again. The memo writes
    * on the FIRST request per (session, leaf, fit plan) and serves the
    * dir path afterwards — train-once/serve-many, which is what the
    * stored tier preaches anyway. Identical fit plans under the same
    * leaf deliberately SHARE one dir across gates.
    *
    * The dir leaf carries a MurmurHash3 digest of (fit plan, leaf), so
    * a different corpus/filter writes a DISTINCT dir instead of
    * overwriting one an older memo entry still serves (the
    * bm25IndexDirs ADVICE lesson). Values are path strings — nothing
    * to release; the parquet trees die with the JVM via the shutdown
    * hook. The ~19 artifacts × 2 interleaved sf dirs a session can
    * touch sit well inside the shared store's one bound, so eviction
    * is not expected — and if it ever fires anyway, the per-build
    * nonce above means the rebuild writes a FRESH dir rather than
    * overwriting one a returned lazy reader may still be scanning.
    */
  private[graft] def storedDirWith(d: String, leaf: String,
      fit: org.apache.spark.sql.DataFrame)(
      write: (org.apache.spark.sql.DataFrame, String) => Unit): String = {
    val s = fit.sparkSession
    // the digest folds in the canonicalized plan OBJECT's hashCode,
    // not just its string: checkpoint-backed fits (centroidsOf,
    // codebooksOf, ...) plan as LogicalRDDs whose STRINGS elide the
    // corpus — two different fits would alias one dir on string alone
    // (measured: the spec's filtered-corpus case collided). Plan-equal
    // fits still share (equal objects → equal hashCode); the string
    // murmur stays as a second 32 bits against bare-hashCode clashes.
    val plan = fit.queryExecution.analyzed.canonicalized
    val keyDigest = f"${scala.util.hashing.MurmurHash3.stringHash(
      plan.toString + "|" + leaf)}%08x${plan.hashCode}%08x"
    PlanMemo.getOrBuild(fit, s"storedDir|$leaf") {
      val dir = ivfTmpDir(s, d,
        s"${leaf}_${keyDigest}_b${storedDirNonce.incrementAndGet()}")
      write(fit, dir)
      dir
    }
  }
  private[graft] def storedDir(d: String, leaf: String,
      fit: org.apache.spark.sql.DataFrame): String =
    storedDirWith(d, leaf, fit)((df, dir) =>
      df.write.mode("overwrite").parquet(dir))

  /** Params fingerprints for the lazy stored-dir keys — every training
    * constant the corresponding fit reads at the call sites' defaults,
    * so two gates share a dir iff they train identically (the "leaves
    * shared across gates" contract, now carried by (input, params)
    * instead of fit-plan equality).
    */
  private lazy val ivfCentParams =
    s"cells=auto|iters=${operators.Similarity.IvfLloydIters}" +
      s"|cap=${operators.Similarity.IvfTrainSampleCap}"
  private lazy val pqCbParams =
    s"blocks=${operators.Similarity.PqBlocks}" +
      s"|cb=${operators.Similarity.PqCodebookSize}" +
      s"|iters=${operators.Similarity.PqLloydIters}" +
      s"|cap=${operators.Similarity.IvfTrainSampleCap}"

  /** `storedDir` for EAGER fits — builders that run driver-side
    * training at DataFrame CONSTRUCTION time (`centroidsOf` /
    * `codebooksOf` collect a sample and run Lloyd; `bpeTrain` runs the
    * merge rounds; `pqCodesFromStored` / `ivfAssignFromStored` collect
    * the stored codebooks/centroids). Keying the memo on the fit PLAN
    * forced every warm rep to construct the fit — i.e. re-run the
    * training — just to compute the key it was about to HIT with
    * (measured: the stored knn gates' warm medians were dominated by
    * per-rep re-training, not serving). This variant keys on the
    * fit's INPUT plan plus a params string instead, and takes the fit
    * BY NAME so a hit never constructs it. The keying is exactly as
    * strong: every fit here is a deterministic function of (input,
    * constants) — the oracle contract — so (leaf, params, input plan)
    * identifies the artifact; `params` MUST carry every constant the
    * fit reads (call sites pass the defaults they serve under).
    * `write` defaults to a plain parquet write; the per-build nonce
    * and digest rules match `storedDirWith`.
    */
  private[graft] def storedDirLazy(d: String, leaf: String,
      keyInput: org.apache.spark.sql.DataFrame, params: String)(
      fit: => org.apache.spark.sql.DataFrame)(
      write: (org.apache.spark.sql.DataFrame, String) => Unit =
        (df, dir) => df.write.mode("overwrite").parquet(dir)): String = {
    val s = keyInput.sparkSession
    val plan = keyInput.queryExecution.analyzed.canonicalized
    val keyDigest = f"${scala.util.hashing.MurmurHash3.stringHash(
      plan.toString + "|" + leaf + "|" + params)}%08x${plan.hashCode}%08x"
    PlanMemo.getOrBuild(keyInput, s"storedDirLazy|$leaf|$params") {
      val dir = ivfTmpDir(s, d,
        s"${leaf}_${keyDigest}_b${storedDirNonce.incrementAndGet()}")
      write(fit, dir)
      dir
    }
  }

  /** The synthesized container payloads MATERIALIZED once per session
    * (via `storedDir`): a real media lake READS payload bytes from
    * storage, so the seven container-aware media gates price
    * scan + parse — not a per-invocation re-synthesis of the fixture's
    * ~100 MB of pixel/sample bytes (which Catalyst's projection
    * collapse additionally re-evaluated once per referencing decode
    * expression). The opaque-bytes family (`mediaTable` — dedup /
    * simhash / clusters) deliberately stays unmaterialized: its
    * payloads are the raw text bytes the scan already holds.
    */
  private def mediaLake(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    s.read.parquet(storedDir(d, "media_containers",
      operators.Multimodal.mediaContainers(Tables.table(s, d, "documents"))))

  private val tmpCleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** JVM-exit cleanup for the per-appId IVF scratch dirs: without it
    * every harness run leaves a fresh `graft_ivf_<appId>_*` tree
    * (including a full cell-partitioned copy of the embeddings
    * corpus) under tmpdir forever — app-id keying prevents races but
    * means nothing ever overwrites in place. Deletion can't happen
    * inside the gate (the returned DataFrame reads the dir lazily,
    * after the gate body returns), so a shutdown hook is the earliest
    * safe point. Idempotent per path; recursive delete, children
    * first.
    */
  private def registerTmpCleanup(f: java.io.File): Unit =
    if (tmpCleanupRegistered.add(f.getAbsolutePath)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => deleteRec(f)))
    }
  private def deleteRec(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRec)
    f.delete(): Unit
  }

  /** Tolerance for the `events_asof_tol` gate query: 30 minutes in
    * MICROSECONDS (the query aligns on `unix_micros(ts)` columns, the
    * exact-integer grain both engines share). Same constant MUST
    * appear in the oracle SQL.
    */
  val AsofTolUs = 1800000000L

  /** View-side window length for the `events_window_overlap` gate:
    * 10 minutes in MICROSECONDS. Same constant MUST appear in the
    * oracle SQL.
    */
  val ViewWinUs = 600000000L

  /** Splice-time guard for regexes shared verbatim between Spark
    * (Java regex) and the DuckDB oracle (RE2): rejects the constructs
    * the two dialects DISAGREE on — lookaround, atomic/named groups
    * (both unsupported or differently spelled in RE2), backreferences
    * (unsupported in RE2), possessive quantifiers (Java-only), and
    * inline flag groups (subtly different defaults). Conservative by
    * design: a pattern tripping it needs a rewrite into the plain
    * intersection dialect (character classes, bounded counts, `\b`),
    * not a relaxation here — a dialect mismatch would make the oracle
    * scrub text differently from the engine and fail the hash gate
    * confusingly far from the cause.
    */
  private[graft] def assertPortableRegex(pat: String): String = {
    val banned = Seq(
      "(?=" -> "lookahead", "(?!" -> "negative lookahead",
      "(?<" -> "lookbehind or named group", "(?>" -> "atomic group",
      "*+" -> "possessive quantifier", "++" -> "possessive quantifier",
      "?+" -> "possessive quantifier", "}+" -> "possessive quantifier",
      "(?P" -> "named group", "(?i" -> "inline flag group",
      "(?m" -> "inline flag group", "(?s" -> "inline flag group",
      "(?x" -> "inline flag group", "(?u" -> "inline flag group")
    banned.foreach { case (tok, what) =>
      require(!pat.contains(tok),
        s"PII pattern '$pat' uses $what ('$tok') — outside the " +
          "Java∩RE2 dialect the oracle splice requires")
    }
    require(!"""\\[1-9]""".r.findFirstIn(pat).isDefined,
      s"PII pattern '$pat' uses a backreference — unsupported in RE2")
    pat
  }

  /** Mix rates for the `text_mix` gate query: srcI → (I+1)/10 epochs
    * in ppm — src0 keeps 10% of its docs, src9 all, src19 two full
    * epochs. Shared by the Spark query AND the oracle generator.
    */
  val MixPpm: Map[String, Long] =
    (0 until 20).map(i => s"src$i" -> 100000L * (i + 1)).toMap

  /** Mix rates for the `text_domain_mix` gate — keyed by REGISTRABLE
    * DOMAIN (the governance budget unit): half an epoch of
    * example.com, 2.3 epochs of dataset.org. Shared by the Spark
    * query AND the oracle generator.
    */
  val DomainMixPpm: Map[String, Long] =
    Map("example.com" -> 500000L, "dataset.org" -> 2300000L)

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

  /** Contamination oracle (shared verbatim by `text_contamination`
    * and its bloom-prefiltered twin — the prefilter has no false
    * negatives and the exact join removes its false positives, so the
    * two queries are output-identical by construction).
    */
  private lazy val contaminationOracle: String =
    s"WITH $HsCte, " +
      "sh AS (SELECT doc_id, unnest(hs) AS h FROM hs), " +
      "probe AS (SELECT DISTINCT h FROM sh WHERE doc_id < 10) " +
      "SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_shingles " +
      "FROM sh s JOIN probe p ON s.h = p.h WHERE s.doc_id >= 10 " +
      "GROUP BY s.doc_id"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("triangles_rs")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "edges" -> ((s, d) => GraphOps.edges(s, d).orderBy("src", "dst")),
    // fixed-point integer PageRank on the follower graph — 5 sweeps,
    // ranks scaled by 1e6; exact long arithmetic end to end, so the
    // oracle hash-matches bit for bit (a float PageRank could not)
    "pagerank" -> ((s, d) =>
      GraphOps.pageRank(GraphOps.edges(s, d)).orderBy("vertex")),
    // random-walk-with-restart relevance to the seed set (vertex id <
    // PprSeedMax): teleport mass lands only on seeds, rank decays with
    // distance — same exact-long machinery as pagerank
    "pagerank_personalized" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val e = GraphOps.edges(s, d)
      val seeds = e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v")))
        .filter(col("v") < PprSeedMax).distinct()
      GraphOps.pageRankPersonalized(e, seeds).orderBy("vertex")
    }),
    // weakly-connected components on a deterministic sparse slice of
    // the follower graph (the full derived graph is one giant
    // component — the slice makes the partition non-degenerate, the
    // same scaled-constant trick as the Max* filters); component label
    // = min reachable vertex id, via the dedup family's star
    // contraction kernel
    // bag-semantics twin: repeated edges are weight (buys-from volume)
    "pagerank_weighted" -> ((s, d) =>
      GraphOps.pageRankWeighted(GraphOps.edges(s, d)).orderBy("vertex")),
    "graph_components" -> ((s, d) =>
      GraphOps.components(
        GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("vertex")),
    "graph_degree_hist" -> ((s, d) =>
      GraphOps.degreeHistogram(GraphOps.edges(s, d)).orderBy("out_degree")),
    // fragmentation profile: how many components have each size —
    // two tiny-key aggregations over the components labeling
    "graph_component_sizes" -> ((s, d) =>
      GraphOps.componentSizes(GraphOps.components(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod)))
        .orderBy("component_size")),
    // deterministic synchronous label propagation on the sparsified
    // slice — community detection at a fixed round budget both
    // engines unroll (LPA has no guaranteed fixpoint)
    "graph_lpa" -> ((s, d) =>
      GraphOps.labelPropagation(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("vertex")),
    // did LPA find real structure? Newman modularity decomposition of
    // those communities on the same slice, exact integer pieces
    "graph_modularity" -> ((s, d) => {
      val sp = GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod)
      GraphOps.modularity(sp, GraphOps.labelPropagation(sp))
        .orderBy("community")
    }),
    // one synchronous Louvain round from singletons: integer ΔQ
    // numerator argmax per vertex — the modularity-OPTIMIZATION step
    // next to the metric gate above
    "graph_louvain" -> ((s, d) =>
      GraphOps.louvainRound(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("vertex")),
    // FULL multi-level Louvain: mutual-best positive-gain matching per
    // level on the running contraction, LouvainLevels levels unrolled
    // by both engines (merge step is the identity once converged);
    // Q is monotone per level by construction — spec-pinned against
    // `modularity`
    "graph_louvain_full" -> ((s, d) =>
      GraphOps.louvain(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("vertex")),
    // HITS hubs & authorities in exact ppb fixed-point — the directed
    // complement of pagerank's relevance family, on the same
    // sparsified slice at the same unrolled-round contract
    "graph_hits" -> ((s, d) =>
      GraphOps.hits(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("vertex")),
    // k-core: iterative degree-≥-k peeling of the undirected simple
    // graph to its fixpoint; the oracle unrolls KCoreMaxRounds peel
    // steps (identity past the fixpoint), the operator raises if it
    // ever needs more — so the two cannot silently diverge
    "graph_kcore" -> ((s, d) =>
      GraphOps.kCore(GraphOps.edges(s, d)).orderBy("node_id")),
    // full coreness decomposition by monotone successive peeling on
    // the sparsified slice (max observed coreness 3; operator raises
    // past CorenessMaxK/CorenessMaxRounds, the oracle unrolls exactly
    // those bounds)
    "graph_coreness" -> ((s, d) =>
      GraphOps.coreness(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), ComponentsMod))
        .orderBy("node_id")),
    // k-truss: support-≥-k−2 peeling on the mod-5 slice (dense enough
    // that the 5-truss actually peels: 1878 → 1087 edges at sf0.01);
    // oracle unrolls KTrussMaxRounds support/filter rounds
    "graph_ktruss" -> ((s, d) =>
      GraphOps.kTruss(GraphOps.sparsifyEdges(GraphOps.edges(s, d),
          TrussMod))
        .orderBy("src", "dst")),
    // degree-mixing moment sums (Newman assortativity numerators):
    // all-integer one-row relation; r itself is consumer arithmetic
    "graph_assortativity" -> ((s, d) =>
      GraphOps.assortativityMoments(GraphOps.edges(s, d))),
    // neighborhood-overlap link prediction on the sparsified slice:
    // degree-capped common-neighbor Jaccard, new links only
    "graph_link_prediction" -> ((s, d) =>
      GraphOps.linkPrediction(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), LinkPredMod))
        .orderBy("node_id", "rank")),
    // tie strength for every existing edge on the same sparsified
    // slice: zero-shared edges are the bridges, so all edges report
    "graph_tie_strength" -> ((s, d) =>
      GraphOps.tieStrength(
          GraphOps.sparsifyEdges(GraphOps.edges(s, d), LinkPredMod))
        .orderBy("src", "dst")),
    "graph_mutual" -> ((s, d) =>
      GraphOps.mutualFollows(GraphOps.edges(s, d))),
    "path2_exact" -> ((s, d) =>
      GraphOps.path2PerVertex(GraphOps.edges(s, d)).orderBy("vertex")),
    "path2_exact_total" -> ((s, d) =>
      GraphOps.path2Total(GraphOps.edges(s, d))),
    "path2_approx" -> ((s, d) =>
      GraphOps.path2PerVertex(
        GraphOps.filterMaxId(GraphOps.edges(s, d), MaxApprox)).orderBy("vertex")),
    "path2_approx_total" -> ((s, d) =>
      GraphOps.path2Total(
        GraphOps.filterMaxId(GraphOps.edges(s, d), MaxApprox))),
    "path2_triples" -> ((s, d) =>
      GraphOps.path2Triples(
        GraphOps.filterMaxId(GraphOps.edges(s, d), MaxRS))
        .orderBy("x", "y", "z")),
    "triangles_rs" -> ((s, d) => GraphOps.trianglesRS(GraphOps.edges(s, d), MaxRS)),
    "triangles_vertex" -> ((s, d) =>
      GraphOps.trianglesPerVertex(GraphOps.edges(s, d), MaxRS)
        .orderBy("vertex")),
    "triangles_rep" -> ((s, d) => GraphOps.trianglesRep(GraphOps.edges(s, d), MaxRep)),
    // directed SCC on a deterministic 1/SccMod slice of the < MaxRS
    // subgraph (unsliced it is one giant SCC; sliced it breaks into a
    // real multi-SCC partition — see SccMod); label = min mutually-
    // reachable vertex id, via forward/backward min-label partition
    // refinement
    "graph_scc" -> ((s, d) =>
      GraphOps.stronglyConnectedComponents(
        GraphOps.sparsifyEdges(
          GraphOps.filterMaxId(GraphOps.edges(s, d), MaxRS), SccMod))
        .orderBy("vertex")),
    // the SCC-level DAG of the same sliced subgraph: edges mapped to
    // component labels, intra-component edges dropped — acyclic by
    // construction (property-pinned), the relation topological /
    // dependency analyses consume
    "graph_scc_dag" -> ((s, d) => {
      val e = GraphOps.sparsifyEdges(
        GraphOps.filterMaxId(GraphOps.edges(s, d), MaxRS), SccMod)
      GraphOps.sccCondensation(e, GraphOps.stronglyConnectedComponents(e))
        .orderBy("scc_src", "scc_dst")
    }),
    // bounded multi-source BFS: distance to the nearest low-id seed
    // within HopMax directed hops — exact integer layers, min per
    // vertex; unreached vertices absent
    "graph_hops" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val e = GraphOps.edges(s, d)
      val seeds = e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v")))
        .filter(col("v") < HopSeedMax).distinct()
      GraphOps.hopDistances(e, seeds, HopMax).orderBy("vertex")
    }),
    // sampled closeness centrality (Eppstein-Wang): k hash-chosen
    // sources, exact bounded BFS per source through hopDistances,
    // per-vertex (n_reached, sum_dist, harmonic_ppm) over the sample
    "graph_closeness" -> ((s, d) =>
      GraphOps.closenessSampled(GraphOps.edges(s, d)).orderBy("vertex")),
    // weighted closeness over the same sample: budget-truncated
    // Bellman-Ford distances (edge weight = bag multiplicity),
    // aggregated to per-vertex reach/sum/harmonic evidence
    "graph_closeness_weighted" -> ((s, d) =>
      GraphOps.closenessWeightedSampled(GraphOps.edges(s, d))
        .orderBy("vertex")),
    // per-source within-budget eccentricity over the same hash-chosen
    // sample (max BFS layer per seed + reach count)
    "graph_eccentricity" -> ((s, d) =>
      GraphOps.eccentricitySampled(GraphOps.edges(s, d))
        .orderBy("source")),
    // 1-row diameter lower bound / radius estimate from the sampled
    // eccentricities
    "graph_diameter" -> ((s, d) =>
      GraphOps.diameterSampled(GraphOps.edges(s, d))),
    // Brandes forward phase from a hash-chosen sample: exact BFS dist
    // + exact shortest-path COUNTS per (seed, vertex) — all integer
    "graph_path_counts" -> ((s, d) =>
      GraphOps.shortestPathCounts(GraphOps.edges(s, d))
        .orderBy("seed", "vertex")),
    // budgeted stress centrality: σ·τ path-through counts summed over
    // the sample — the all-integer member of the betweenness family
    "graph_stress" -> ((s, d) =>
      GraphOps.stressSampled(GraphOps.edges(s, d)).orderBy("vertex")),
    // deterministic node2vec-style walks from the hop seed set — the
    // graph-embedding corpus generator, RNG-free
    "graph_walks" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val e = GraphOps.edges(s, d)
      val seeds = e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v")))
        .filter(col("v") < HopSeedMax).distinct()
      GraphOps.randomWalksShared(e, seeds).orderBy("walk_id", "step")
    }),
    // weight-proportional walks: heavy edges are walked ∝ multiplicity
    // via deterministic cumulative-range selection
    "graph_walks_weighted" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val e = GraphOps.edges(s, d)
      val seeds = e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v")))
        .filter(col("v") < HopSeedMax).distinct()
      GraphOps.randomWalksWeighted(e, seeds).orderBy("walk_id", "step")
    }),
    // skip-gram (center, context) pair counts from the same walks —
    // the DeepWalk corpus → word2vec-examples step
    "graph_walk_pairs" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val e = GraphOps.edges(s, d)
      val seeds = e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v")))
        .filter(col("v") < HopSeedMax).distinct()
      GraphOps.walkPairs(GraphOps.randomWalksShared(e, seeds))
        .orderBy("center", "context")
    }),
    // weighted SSSP: min path WEIGHT (edge multiplicity) over paths of
    // ≤ SsspRounds edges from the same seed set as graph_hops —
    // budget-truncated Bellman-Ford, exactly unrolled by the oracle
    "graph_sssp" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val e = GraphOps.edges(s, d)
      val seeds = e.select(col("src").as("v"))
        .union(e.select(col("dst").as("v")))
        .filter(col("v") < HopSeedMax).distinct()
      GraphOps.ssspBudget(e, seeds).orderBy("vertex")
    }),
    // DEEP-diameter BFS: the same operator with a 64-hop budget over a
    // long-chain graph (documents self-joined at stride HopDeepStep ⇒
    // 7 disjoint ~N/7-deep paths), so the distributed super-sweep loop,
    // the doubling-built E≤s relation, the final layer compaction and
    // the budget-cap exit all run on the hash-checked path — the
    // shallow gate exits at 3 sweeps. At hopStride = 16 the budget is
    // 4 super-sweeps, so the in-loop 16-frame compaction does not fire
    // here (GraphOpsSpec's 80-vertex chain covers it)
    "graph_hops_deep" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents").select(col("doc_id"))
      val e = docs.join(
          docs.select((col("doc_id") - HopDeepStep).as("doc_id")), "doc_id")
        .select(col("doc_id").as("src"),
          (col("doc_id") + HopDeepStep).as("dst"))
      val seeds = docs.filter(col("doc_id") < HopDeepStep)
        .select(col("doc_id").as("v"))
      // localThreshold = 0: this gate EXISTS to drive the distributed
      // sweep loop / stride build / budget exit (the shallow gate
      // takes the gated local path). Stride 16: the r21 A/B of this
      // gate alone, warm, with E≤s built by doubling, measured stride
      // 4 = 3.78 s, 8 = 2.3-3.1 s, 16 = 1.85 s, 32 = 2.55 s. The
      // per-sweep plumbing is narrowed by hopDistancesDeduped's
      // tiny-regime conf scope.
      GraphOps.hopDistances(e, seeds, HopDeepMax, hopStride = 16,
          localThreshold = 0L)
        .orderBy("vertex")
    }),
    // dependency WAVES of the same condensation: SCC → condensation →
    // longest-path levels, the full cycle-safe scheduling pipeline in
    // one gate
    "graph_scc_levels" -> ((s, d) => {
      val e = GraphOps.sparsifyEdges(
        GraphOps.filterMaxId(GraphOps.edges(s, d), MaxRS), SccMod)
      GraphOps.topoLevels(
          GraphOps.sccCondensation(e,
            GraphOps.stronglyConnectedComponents(e)))
        .orderBy("vertex")
    }),
    // local clustering coefficient on the < MaxRS distinct subgraph:
    // directed 3-cycles through v over ordered neighbor pairs, as the
    // scaled integer cc_fp (exact long arithmetic — hash-checkable)
    "graph_clustering" -> ((s, d) =>
      GraphOps.clusteringCoefficient(GraphOps.edges(s, d), MaxRS)
        .orderBy("vertex")),
    // ---- warehouse OLAP (TPC-H-shape plans over the star schema) ----
    // Q1 shape: one scan-bound pass, pushed date filter, 6-group agg
    "wh_pricing_summary" -> ((s, d) =>
      Warehouse.pricingSummary(Tables.table(s, d, "lineitem"))
        .orderBy("l_returnflag", "l_linestatus")),
    // Q3 shape: segment dimension broadcast, fact-keyed revenue agg,
    // TakeOrdered global top-10
    "wh_top_orders" -> ((s, d) =>
      Warehouse.topOrders(Tables.table(s, d, "customer"),
        Tables.table(s, d, "orders"), Tables.table(s, d, "lineitem"))),
    // Q5 shape: snowflake dims broadcast, same-nation residual,
    // one nation-keyed aggregate exchange
    "wh_region_revenue" -> ((s, d) =>
      Warehouse.regionRevenue(Tables.table(s, d, "region"),
          Tables.table(s, d, "nation"), Tables.table(s, d, "customer"),
          Tables.table(s, d, "supplier"), Tables.table(s, d, "orders"),
          Tables.table(s, d, "lineitem"))
        .orderBy("n_name")),
    // ROLLUP report: grouping-sets Expand plan — leaf + subtotal +
    // grand-total rows in ONE pass, lvl = grouping_id
    "wh_rollup" -> ((s, d) =>
      Warehouse.revenueRollup(Tables.table(s, d, "lineitem"))
        .orderBy("lvl", "l_returnflag", "l_linestatus")),
    // Q17 shape: decorrelated scalar-agg join — per-part averages
    // joined back to the fact on the same key, exact rational compare
    "wh_small_qty" -> ((s, d) =>
      Warehouse.smallQuantityRevenue(Tables.table(s, d, "part"),
          Tables.table(s, d, "lineitem"))
        .orderBy("p_brand")),
    // join pre-flight: exact join cardinality + skew advisor over
    // orders⋈lineitem — key-cardinality-sized work, 1-row verdict
    "wh_join_stats" -> ((s, d) =>
      Warehouse.joinStats(Tables.table(s, d, "orders"),
        Tables.table(s, d, "lineitem"), "o_orderkey", "l_orderkey")),
    // Q4 shape: EXISTS as LEFT SEMI with a cross-table residual
    "wh_order_priority" -> ((s, d) =>
      Warehouse.orderPriority(Tables.table(s, d, "orders"),
          Tables.table(s, d, "lineitem"))
        .orderBy("o_orderpriority")),
    // Q21 shape: the correlated EXISTS / NOT EXISTS chain — LEFT SEMI
    // + LEFT ANTI self-legs over the shared (order, supplier, late)
    // relation, dims broadcast onto supplier-keyed counts
    "wh_late_suppliers" -> ((s, d) =>
      Warehouse.waitingSuppliers(Tables.table(s, d, "nation"),
        Tables.table(s, d, "supplier"), Tables.table(s, d, "orders"),
        Tables.table(s, d, "lineitem"))),
    // MANUAL SKEW SALTING as a gated query — the mitigation the
    // wh_join_stats advisor recommends when one key dominates: the
    // probe spreads each key over 4 salts (whole-row hash — replays
    // identically), the build replicates once per salt, and the
    // result equals the plain join EXACTLY (bag semantics) — which is
    // precisely what the plain-join oracle checks
    "wh_salted_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, count, expr, floor, lit, sum}
      val li = Tables.table(s, d, "lineitem")
        .select(col("l_orderkey"),
          floor(col("l_quantity")).cast("long").as("qty"))
      val ord = Tables.table(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      operators.Skew.saltedJoin(li, ord, "l_orderkey", "o_orderkey", 4)
        .groupBy("o_orderstatus")
        .agg(sum("qty").as("sum_qty"), count(lit(1)).as("n_rows"))
        .orderBy("o_orderstatus")
    }),
    // co-located fact-fact join over bucketBy tables: the layout
    // that deletes the shuffle from every repeated orderkey join —
    // write once, join shuffle-free forever (PlanSpec-pinned with
    // broadcast disabled); buckets are an execution detail, so the
    // plain join SQL gates it
    "wh_bucketed_join" -> ((s, d) =>
      Warehouse.bucketedRevenue(s, ivfTmpDir(s, d, "bucketed"),
          Tables.table(s, d, "orders"), Tables.table(s, d, "lineitem"))
        .orderBy("o_orderstatus")),
    // Q9 shape: the 5-table product-line profit rollup by
    // (supplier nation, order year) — dims broadcast, one co-keyed
    // fact-fact join, one aggregate exchange
    "wh_product_profit" -> ((s, d) =>
      Warehouse.productProfit(Tables.table(s, d, "nation"),
          Tables.table(s, d, "supplier"), Tables.table(s, d, "part"),
          Tables.table(s, d, "orders"), Tables.table(s, d, "lineitem"))
        .orderBy("nation", "o_year")),
    // ---- LLM-data-pipeline extensions (documents / embeddings / events) ----
    "text_tokens" -> ((s, d) =>
      TextOps.tokenCounts(Tables.table(s, d, "documents")).orderBy("doc_id")),
    "text_quality" -> ((s, d) =>
      TextOps.quality(Tables.table(s, d, "documents")).orderBy("doc_id")),
    // TRAINED quality filter, fit gate: the integer batch-perceptron
    // weights themselves (driver-fit over the hash-prefix sample, the
    // lloydPpm discipline) — hash-checked like knn_ivf_centroids
    "text_quality_model" -> ((s, d) =>
      TextOps.qualityModel(Tables.table(s, d, "documents"))
        .orderBy("dim")),
    // serve gate: one codegen'd dot-product projection over the
    // feature map — scan → project, no joins, the model-based filter
    // every real curation pipeline runs
    "text_quality_scored" -> ((s, d) =>
      TextOps.qualityScored(Tables.table(s, d, "documents"))
        .orderBy("doc_id")),
    // the STORED-MODEL tier: the fitted weights round-trip parquet and
    // serving derives the same literal projection from the loaded
    // longs — byte-identical to in-session (shared oracle)
    "text_quality_scored_stored" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val dir = storedDir(d, "quality_model", TextOps.qualityModel(docs))
      TextOps.qualityScoredFromStored(s.read.parquet(dir), docs)
        .orderBy("doc_id")
    }),
    // honesty gate: full-corpus agreement of the trained filter with
    // its label rule — the distillation quality, priced in integers
    "text_quality_model_agreement" -> ((s, d) =>
      TextOps.qualityModelAgreement(Tables.table(s, d, "documents"))),
    // the two error modes a curation budget actually prices — junk
    // kept (fp) and good docs lost (fn) — each an oracled integer
    "text_quality_model_confusion" -> ((s, d) =>
      TextOps.qualityModelConfusion(Tables.table(s, d, "documents"))),
    // reliability diagram: label-positive rate per model-score decile
    // — where threshold tuning is safe (monotone band) and where it
    // is not, as oracled integers
    "text_quality_model_calibration" -> ((s, d) =>
      TextOps.qualityModelCalibration(Tables.table(s, d, "documents"))
        .orderBy("m_decile")),
    "text_langid" -> ((s, d) =>
      TextOps.langId(Tables.table(s, d, "documents")).orderBy("doc_id")),
    // C4-style blocklist admission: per-doc blocked-token DENSITY
    // against the declared term list + the worst offending term —
    // broadcast dictionary, non-hits die in the map stage
    "text_blocklist" -> ((s, d) =>
      TextOps.blocklistTag(Tables.table(s, d, "documents"))
        .orderBy("doc_id")),
    // langid EVALUATION: confusion matrix vs the labeled lang column —
    // per-language recall and the exact confusion structure
    "text_lang_confusion" -> ((s, d) =>
      TextOps.langConfusion(Tables.table(s, d, "documents"))
        .orderBy("label", "lang_guess")),
    "text_fingerprint" -> ((s, d) =>
      TextOps.fingerprints(Tables.table(s, d, "documents")).orderBy("doc_id")),
    "text_vocab" -> ((s, d) =>
      TextOps.topTokens(Tables.table(s, d, "documents"))),
    // deterministic training shards: salted-hash shard + exact
    // within-shard position via the range-partition rank (no windows)
    "text_shards" -> ((s, d) =>
      TextOps.shardAssignment(Tables.table(s, d, "documents"))
        .orderBy("shard", "pos")),
    "text_split" -> ((s, d) =>
      TextOps.hashSplit(Tables.table(s, d, "documents")).orderBy("doc_id")),
    // leakage-free split: the same hash rule keyed by each doc's
    // near-dup cluster ROOT (dedup_clusters labels), so a duplicate
    // cluster never straddles the train/val boundary
    "text_split_leakage" -> ((s, d) =>
      // the default-cluster overload (dupClusters(ngramJaccard)) —
      // a pipeline with a precomputed cluster relation hands it to
      // the 2-arg form instead (identity spec-pinned)
      TextOps.hashSplitLeakageFree(Tables.table(s, d, "documents"))
        .orderBy("doc_id")),
    // the END-TO-END curation pipeline as ONE query: best-copy dedup
    // survivors → quality-weighted sampling → leakage-free split —
    // each stage the already-gated operator, composed unchanged (the
    // cluster relation is built once and feeds both the survivor
    // election and the split)
    // the dataset card over the curated corpus: per (source, split)
    // doc/token totals + keep-rate evidence — one extra aggregation
    // over the curated ids
    "docs_manifest" -> ((s, d) =>
      TextOps.datasetManifest(Tables.table(s, d, "documents"))
        .orderBy("source", "split")),
    "docs_curation" -> ((s, d) =>
      // the pipeline operator with its default (build-once) clusters;
      // a session holding a precomputed cluster relation passes it
      // via `clusters` and pays zero re-clustering (identity
      // spec-pinned); the manifest gate reuses this memoized relation
      TextOps.curationShared(Tables.table(s, d, "documents"))
        .orderBy("doc_id")),
    "text_corpus_stats" -> ((s, d) =>
      TextOps.corpusStats(Tables.table(s, d, "documents"))),
    // quality-weighted deterministic downsampling: keep probability =
    // quality as ppm clamped to [floor, 1e6], coin = salted id hash —
    // reproducible curation thinning, keep_ppm as the audit column
    "text_sample_quality" -> ((s, d) =>
      TextOps.sampleByQuality(Tables.table(s, d, "documents"))
        .orderBy("doc_id")),
    // Deequ-style column profiles — the validation pass before
    // trusting a data drop: per column n / n_null / exact n_distinct
    // / numeric min-max, one unpivot + one aggregation
    "docs_profile" -> ((s, d) =>
      operators.Profile.profile(Tables.table(s, d, "documents"))
        .orderBy("column")),
    // the CONSTRAINT form of the profile: the documents admission
    // suite (key completeness/uniqueness, non-empty text, known lang,
    // consistent n_chars, source attribution) evaluated in one pass →
    // one (rule, metric_ppm, threshold_ppm, pass) row per rule
    // per-row quarantine view of the admission suite over a
    // deterministically DIRTIED fixture (clean corpus → empty gate
    // would check nothing): lang 'xx' on %97==1, n_chars+1 on %89==2,
    // empty source on %83==3, duplicated %101==5 rows — each lands in
    // exactly its own rule
    "docs_violations" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, lit, when}
      val docs = Tables.table(s, d, "documents")
        .select("doc_id", "text", "lang", "source", "n_chars")
      val dirty = docs
        .withColumn("lang",
          when(col("doc_id") % 97 === 1, lit("xx")).otherwise(col("lang")))
        .withColumn("n_chars",
          when(col("doc_id") % 89 === 2, col("n_chars") + 1L)
            .otherwise(col("n_chars")))
        .withColumn("source",
          when(col("doc_id") % 83 === 3, lit("")).otherwise(col("source")))
      val u = dirty.unionByName(dirty.filter(col("doc_id") % 101 === 5))
      operators.Profile.violations(u, operators.Profile.DocsChecks)
        .orderBy("key", "rule")
    }),
    "docs_expectations" -> ((s, d) =>
      operators.Profile.docsExpectations(Tables.table(s, d, "documents"))
        .orderBy("rule")),
    // the bounded-state twin: per-column HLL distinct states (ncols ×
    // 512 counters shuffle instead of every distinct pair) — integer-
    // exact states, so even the sketch is hash-checked
    "docs_profile_hll" -> ((s, d) =>
      operators.Profile.profileHll(Tables.table(s, d, "documents"))
        .orderBy("column")),
    "events_profile" -> ((s, d) =>
      operators.Profile.profile(Tables.table(s, d, "events"))
        .orderBy("column")),
    // the stream-side admission suite: key rules + known type +
    // FINITE value + in-window timestamps, one pass
    "events_expectations" -> ((s, d) =>
      operators.Profile.eventsExpectations(Tables.table(s, d, "events"))
        .orderBy("rule")),
    // pre-embedding chunking: fixed 256-char windows, 64-char overlap
    // — shuffle-free generator projection, chunk text hash-compared
    "text_chunks" -> ((s, d) =>
      TextOps.chunkDocs(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "chunk_idx")),
    // per-source quality drift: p50/p90/p99 of the quality score per
    // source through the exact-rank machinery — the governance view
    // that catches one source's quality collapsing inside a healthy
    // corpus-wide distribution
    "text_quality_by_source" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val q = TextOps.qualityShared(docs)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      TextOps.groupedQuantiles(q, "source", "quality", "doc_id")
        .orderBy("source", "pct")
    }),
    // deterministic contrastive negatives: slot i's negative = the doc
    // at hash-rank poly_hash(id ":" i) mod N — reproducible across
    // engines/partitionings, self-collisions dropped
    "text_negatives" -> ((s, d) =>
      TextOps.negatives(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "slot")),
    // winnowing fingerprints: per-window minima of the rolling k-gram
    // hash — shuffle-free selection, the MOSS-style overlap index key
    "text_winnow" -> ((s, d) =>
      TextOps.winnowing(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "fp")),
    // top-100 bigram counts + Kneser-Ney continuation counts — the
    // n-gram LM statistic table; pairs generated inside a projection
    "text_bigram_lm" -> ((s, d) =>
      TextOps.bigramLm(Tables.table(s, d, "documents"))
        .orderBy(org.apache.spark.sql.functions.col("cnt").desc,
          org.apache.spark.sql.functions.col("w1"),
          org.apache.spark.sql.functions.col("w2"))),
    "text_normalize" -> ((s, d) =>
      TextOps.normalize(Tables.table(s, d, "documents"))
        .select("doc_id", "text").orderBy("doc_id")),
    // PII scrub over docs AUGMENTED with deterministic synthetic PII
    // (email, SSN/phone shapes, IPv4 derived from doc_id — the same
    // expression the oracle builds), so the redaction provably fires
    // and the CLEANED text is hash-compared, not just row counts
    "text_pii" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val aug = Tables.table(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" u"), col("doc_id").cast("string"), lit("@ex.org 123-45-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" 555.867."),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit(" 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"))
          .as("text"))
      TextOps.scrubPii(aug).orderBy("doc_id")
    }),
    // decontamination vs a probe "benchmark" = docs with doc_id < 10
    // (probes excluded from the report — they trivially self-hit)
    "text_contamination" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      TextOps.contamination(docs,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") < 10))
        .filter(org.apache.spark.sql.functions.col("doc_id") >= 10)
        .orderBy("doc_id")
    }),
    // decontamination from the STORED shingle index: the corpus is
    // fingerprinted once to parquet; screening a new benchmark reads
    // the slim (doc_id, h) rows and tokenizes only the probes
    "text_contamination_indexed" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val dir = storedDir(d, "shingle_idx",
        TextOps.docShingles(docs.filter(col("doc_id") >= 10)))
      TextOps.contaminationFromIndex(s.read.parquet(dir),
          docs.filter(col("doc_id") < 10))
        .orderBy("doc_id")
    }),
    // the REFRESH CYCLE of the decontamination tier: the stored index
    // was built over 4/5 of the corpus PLUS the probes (an ingest
    // that accidentally fingerprinted the eval set); one shinglesDelta
    // pass folds in the remaining fifth AND drops the probe rows —
    // stored side never re-tokenized (PlanSpec-guarded) — and the
    // screen over the merged index must hash-match the ONE-SHOT
    // rebuild (the oracle is text_contamination_indexed's SQL
    // verbatim: chained ≡ one-shot)
    "text_contamination_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val dir = storedDir(d, "shingle_inc_idx",
        TextOps.docShingles(docs.filter(col("doc_id") < 10 ||
          col("doc_id") % 5 =!= 0)))
      val merged = TextOps.shinglesDelta(s.read.parquet(dir),
        docs.filter(col("doc_id") >= 10 && col("doc_id") % 5 === 0),
        docs.filter(col("doc_id") < 10).select("doc_id"))
      TextOps.contaminationFromIndex(merged,
          docs.filter(col("doc_id") < 10))
        .orderBy("doc_id")
    }),
    "text_contamination_bloom" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      TextOps.contaminationBloom(docs,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") < 10))
        .filter(org.apache.spark.sql.functions.col("doc_id") >= 10)
        .orderBy("doc_id")
    }),
    "text_pack" -> ((s, d) =>
      TextOps.packSequences(Tables.table(s, d, "documents")).orderBy("doc_id")),
    "text_repetition" -> ((s, d) =>
      TextOps.repetition(Tables.table(s, d, "documents")).orderBy("doc_id")),
    "text_quota" -> ((s, d) =>
      TextOps.quotaSample(Tables.table(s, d, "documents"))
        .orderBy("lang", "rank")),
    // DOMAIN-LEVEL GOVERNANCE: URL normalization (scheme/userinfo/
    // port/path stripped, lowercased, www-dropped) over the messy-URL
    // fixture, then the per-host accounting rollup — the C4-style
    // per-domain budget relation
    "text_domain_rollup" -> ((s, d) =>
      TextOps.domainRollup(TextOps.withFixtureUrl(
          Tables.table(s, d, "documents")))
        .orderBy("host")),
    // per-host quality quota through the bounded TopKPerKey heap — no
    // window over a domain-sized partition, so a giant domain costs
    // k heap slots, not a spill
    "text_domain_quota" -> ((s, d) =>
      TextOps.domainQuota(TextOps.withFixtureUrl(
          Tables.table(s, d, "documents")))
        .orderBy("host", "rank")),
    "text_mix" -> ((s, d) =>
      TextOps.mixCorpus(Tables.table(s, d, "documents"), MixPpm)
        .orderBy("doc_id", "epoch")),
    // the same epoch-weighting machinery at the governance budget
    // unit: rates keyed by REGISTRABLE DOMAIN (from the normalized
    // fixture URLs) — down-sample one domain family, up-sample the
    // other, deterministically per (doc, epoch)
    "text_domain_mix" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = TextOps.withFixtureUrl(Tables.table(s, d, "documents"))
        .withColumn("domain",
          TextOps.registrableDomain(TextOps.urlHost(col("url"))))
      TextOps.mixCorpus(docs, DomainMixPpm, keyCol = "domain")
        .orderBy("doc_id", "epoch")
    }),
    // BPE merge-candidate counting kernel: corpus-weighted adjacent
    // char-pair counts over the DISTINCT word vocabulary
    "text_bpe_pairs" -> ((s, d) =>
      TextOps.bpePairCounts(Tables.table(s, d, "documents"))),
    // the BPE TRAINER loop: count → argmax → greedy merge, iterated;
    // output is the merge table a tokenizer ships
    "text_bpe_train" -> ((s, d) =>
      TextOps.bpeTrain(Tables.table(s, d, "documents"))
        .orderBy("merge_rank")),
    // the trained tokenizer APPLIED: per-doc token + subword counts
    // the BPE serve leg: the trained merge table round-trips parquet
    // and the encode replays it with ZERO training jobs — must
    // hash-match the in-session text_bpe_encode oracle verbatim
    "text_bpe_encode_stored" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val dir = storedDirLazy(d, "bpe_merges", docs,
        s"rounds=${TextOps.BpeTrainRounds}")(TextOps.bpeTrain(docs))()
      TextOps.bpeEncodeFromStored(s.read.parquet(dir), docs)
        .orderBy("doc_id")
    }),
    "text_bpe_encode" -> ((s, d) =>
      TextOps.bpeEncode(Tables.table(s, d, "documents"))
        .orderBy("doc_id")),
    // CCNet-style bigram-surprisal quality scoring in exact bit-length
    // integers — the perplexity-bucket filter without the float log
    "text_surprisal" -> ((s, d) =>
      TextOps.surprisalShared(Tables.table(s, d, "documents"))
        .orderBy("doc_id")),
    // do the two quality signals agree? joint decile histogram of the
    // heuristic score vs the LM surprisal
    "text_quality_calibration" -> ((s, d) =>
      TextOps.qualityCalibration(Tables.table(s, d, "documents"))
        .orderBy("q_decile", "s_decile")),
    // BM25 keyword retrieval: probe docs (doc_id < 8) rank the corpus
    "text_bm25" -> ((s, d) =>
      TextOps.bm25Shared(Tables.table(s, d, "documents"))
        .orderBy("query_id", "rank")),
    // RM3-style pseudo-relevance feedback: top-3 feedback docs' terms
    // (minus the query's own) ranked by fbtf×idf join the query, then
    // a second pass over the SAME cached tf/stats — the recall move
    "text_bm25_prf" -> ((s, d) =>
      TextOps.bm25PrfShared(Tables.table(s, d, "documents"))
        .orderBy("query_id", "rank")),
    // hashed tf-idf sparse features (Weinberger et al. 2009): signed
    // feature hashing × the exact-integer BM25 idf — the linear-model
    // feature extractor
    "text_tfidf" -> ((s, d) =>
      TextOps.tfidfHashed(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "dim")),
    // inverted-index construction: per-term df/cf + capped posting
    // list via the token-keyed TopKPerKey heap; df >= 5 floor
    "text_postings" -> ((s, d) =>
      TextOps.postings(Tables.table(s, d, "documents"))
        .orderBy("token", "rank")),
    // INCREMENTAL index maintenance: the stored (un-floored,
    // fingerprint-stamped) index over 4/5 of the corpus round-trips
    // parquet, the remaining fifth folds in as a fresh batch via
    // postingsDelta — df/cf counter-additive, posting heaps
    // re-elected only for touched terms, the stored side never
    // shuffled (PlanSpec-guarded) — and the published result must
    // hash-match the ONE-SHOT full rebuild: the oracle is
    // text_postings' SQL verbatim, so chained ≡ one-shot is the gate
    "text_postings_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val dir = storedDir(d, "postings_idx",
        TextOps.postingsIndex(docs.filter(col("doc_id") % 5 =!= 0)))
      TextOps.postingsPublish(TextOps.postingsDelta(s.read.parquet(dir),
          docs.filter(col("doc_id") % 5 === 0)))
        .orderBy("token", "rank")
    }),
    // BM25 served ENTIRELY from the stored index: postings + forward
    // index round-trip parquet, serving re-tokenizes only the query
    // docs. Scores are exact; the depth cap prunes CANDIDATES (static
    // index pruning) — the oracle applies the same top-PostingsK
    // restriction to its tf relation, and the recall gate prices the
    // pruning against the full-scan ranking
    "text_bm25_indexed" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val (idxDir, lensDir) = bm25IndexDirs(s, d)
      TextOps.bm25FromIndexShared(s.read.parquet(idxDir),
          s.read.parquet(lensDir), docs)
        .orderBy("query_id", "rank")
    }),
    // the REFRESH CYCLE of the serving tier: stored depth-256 index +
    // forward index over 4/5 of the corpus, the remaining fifth folds
    // in as an O(batch) postingsDelta merge (+ appended lengths), and
    // BM25 serves from the merged relations — must hash-match the
    // ONE-SHOT indexed oracle (chained ≡ one-shot at the score level,
    // inherited from the postingsDelta exactness law)
    "text_bm25_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val corpus = docs.filter(col("doc_id") >= TextOps.Bm25Queries)
      val idxDir = storedDir(d, "bm25_inc_idx",
        TextOps.postingsIndex(corpus.filter(col("doc_id") % 5 =!= 0),
          k = TextOps.Bm25IndexDepth))
      val lensDir = storedDir(d, "bm25_inc_lens",
        TextOps.docLengths(corpus.filter(col("doc_id") % 5 =!= 0)))
      val batch = corpus.filter(col("doc_id") % 5 === 0)
      TextOps.bm25FromIndex(
          TextOps.postingsDelta(s.read.parquet(idxDir), batch,
            k = TextOps.Bm25IndexDepth),
          s.read.parquet(lensDir).unionByName(TextOps.docLengths(batch)),
          docs)
        .orderBy("query_id", "rank")
    }),
    // PRF served ENTIRELY from the stored tier — the production PRF
    // shape: both scoring passes, the feedback-term pool, and the
    // expansion idf all come from the persisted postings + forward
    // index; corpus text never read at query time (only the 10 query
    // docs tokenize — PlanSpec-guarded)
    "text_bm25_prf_indexed" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val (idxDir, lensDir) = bm25IndexDirs(s, d)
      TextOps.bm25PrfFromIndexShared(s.read.parquet(idxDir),
          s.read.parquet(lensDir), docs)
        .orderBy("query_id", "rank")
    }),
    // HYBRID retrieval from stored indexes end to end: RRF of the
    // stored-postings bm25 pool and the stored-SQ8-codes vector pool —
    // the serving stack a production tier actually runs (no corpus
    // text or embeddings read at query time)
    "search_hybrid_indexed" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val emb = Tables.table(s, d, "embeddings")
      val (idxDir, lensDir) = bm25IndexDirs(s, d)
      val stDir = storedDir(d, "sq8_stats", Similarity.sq8Stats(emb))
      val cdDir = storedDir(d, "sq8_codes", Similarity.quantizeInt8(emb))
      Similarity.hybridRrfIndexed(s.read.parquet(idxDir),
          s.read.parquet(lensDir), s.read.parquet(stDir),
          s.read.parquet(cdDir), docs, emb)
        .orderBy("query_id", "rank")
    }),
    // honesty gate for the depth-capped PRF serve: recall@k of the
    // stored-tier PRF ranking vs the exact full-scan PRF ranking —
    // prices the pruning across BOTH passes and the feedback pool
    "text_bm25_prf_indexed_recall" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val (idxDir, lensDir) = bm25IndexDirs(s, d)
      def ren(df: org.apache.spark.sql.DataFrame) =
        df.select(col("query_id"), col("doc_id").as("neighbor_id"))
      // the exact full-scan truth side is the memoized relation the
      // text_bm25_prf gate also serves — built once per session
      Similarity.recallAtK(
        ren(TextOps.bm25PrfFromIndexShared(s.read.parquet(idxDir),
          s.read.parquet(lensDir), docs)),
        ren(TextOps.bm25PrfShared(docs)))
    }),
    // honesty gate for the depth-capped serve: recall@k of the
    // indexed ranking vs the full-scan bm25 ranking
    "text_bm25_indexed_recall" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val (idxDir, lensDir) = bm25IndexDirs(s, d)
      def ren(df: org.apache.spark.sql.DataFrame) =
        df.select(col("query_id"), col("doc_id").as("neighbor_id"))
      Similarity.recallAtK(
        ren(TextOps.bm25FromIndexShared(s.read.parquet(idxDir),
          s.read.parquet(lensDir), docs)),
        ren(TextOps.bm25Shared(docs)))
    }),
    // hybrid retrieval: RRF fusion of the BM25 and cosine rankings
    "search_hybrid" -> ((s, d) =>
      Similarity.hybridRrf(Tables.table(s, d, "documents"),
          Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // filtered vector search: corpus pre-restricted to lang='en' docs
    "knn_filtered" -> ((s, d) =>
      Similarity.knnFiltered(Tables.table(s, d, "embeddings"),
          Tables.table(s, d, "documents"),
          org.apache.spark.sql.functions.col("lang") === "en")
        .orderBy("query_id", "rank")),
    // the same predicate on the IVF serving path: full-corpus index,
    // allowed-id semi-join before assignment/scoring
    "knn_ivf_filtered" -> ((s, d) =>
      Similarity.knnIvfFiltered(Tables.table(s, d, "embeddings"),
          Tables.table(s, d, "documents"),
          org.apache.spark.sql.functions.col("lang") === "en")
        .orderBy("query_id", "rank")),
    // curriculum binning: per-doc quality-rank decile via the
    // distributed two-pass rank (no global window)
    "text_quality_deciles" -> ((s, d) =>
      TextOps.qualityDeciles(Tables.table(s, d, "documents"))
        .orderBy("doc_id")),
    // DSIR-style hashed-token importance vs the English slice as the
    // target distribution — integer ppm ratios, broadcast weight table
    "text_importance" -> ((s, d) =>
      TextOps.importanceWeights(Tables.table(s, d, "documents"),
          org.apache.spark.sql.functions.col("lang") === "en")
        .orderBy("doc_id")),
    "text_deciles" -> ((s, d) =>
      TextOps.lengthDeciles(Tables.table(s, d, "documents")).orderBy("decile")),
    "text_vocab_hll" -> ((s, d) =>
      TextOps.vocabHll(Tables.table(s, d, "documents"))),
    // Count-Min token-frequency sketch as a relation, at the GATE
    // width (16) so the tiny sf0.01 vocabulary actually collides
    "text_cms" -> ((s, d) =>
      TextOps.cmsTokens(Tables.table(s, d, "documents"),
        width = TextOps.CmsGateWidth).orderBy("row_idx", "bucket")),
    "text_cms_topk" -> ((s, d) =>
      TextOps.cmsEstimateTopK(Tables.table(s, d, "documents"),
        width = TextOps.CmsGateWidth).orderBy("token")),
    "text_salient" -> ((s, d) =>
      TextOps.salientTerms(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "token")),
    "text_cooccur" -> ((s, d) =>
      TextOps.cooccurrence(Tables.table(s, d, "documents"))
        .orderBy("t1", "t2")),
    // top-k vocabulary overlap between sources — the mixCorpus
    // weight-design diagnostic; integer counts, deterministic top-k
    "text_source_overlap" -> ((s, d) =>
      TextOps.sourceVocabOverlap(Tables.table(s, d, "documents"))
        .orderBy("src_a", "src_b")),
    // bounded-state twin of text_source_overlap: pairwise vocabulary
    // overlap estimated by HLL set algebra (union = bucket-wise max,
    // intersection = inclusion-exclusion)
    "text_source_overlap_hll" -> ((s, d) =>
      TextOps.sourceOverlapHll(Tables.table(s, d, "documents"))
        .orderBy("src_a", "src_b")),
    "dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.table(s, d, "documents")).orderBy("doc_id")),
    "dedup_spans" -> ((s, d) =>
      Dedup.repeatedSpans(Tables.table(s, d, "documents")).orderBy("doc_id")),
    "dedup_spans_clean" -> ((s, d) =>
      Dedup.spansRemoved(Tables.table(s, d, "documents")).orderBy("doc_id")),
    "dedup_spans_keepone" -> ((s, d) =>
      Dedup.spansRemovedKeepOne(Tables.table(s, d, "documents"))
        .orderBy("doc_id")),
    // text twin of knn_graph: top-k similar docs by n-gram Jaccard —
    // rare-shingle candidate generation, exact sorted-merge verify,
    // integer-ppm scores, TopKPerKey ranking
    "doc_knn" -> ((s, d) =>
      Dedup.docKnn(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "rank")),
    "dedup_ngram" -> ((s, d) =>
      Dedup.ngramJaccard(Tables.table(s, d, "documents")).orderBy("doc_a", "doc_b")),
    // edit-distance fuzzy matching: PassJoin aligned-segment blocking
    // over 24-char normalized keys, levenshtein ≤ 2 verify on
    // bucket-mates only — typo-class dups the shingle family misses
    "dedup_fuzzy" -> ((s, d) =>
      Dedup.fuzzyPairs(Tables.table(s, d, "documents"))
        .orderBy("id_a", "id_b")),
    // entity resolution closed out: connected components over the
    // fuzzy pairs through the SAME star-contraction machinery every
    // other dedup family resolves with
    "dedup_fuzzy_clusters" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Dedup.dupClusters(Dedup.fuzzyPairs(Tables.table(s, d, "documents"))
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
        .orderBy("doc_id")
    }),
    "dedup_simhash" -> ((s, d) =>
      Dedup.simhashPairs(Tables.table(s, d, "documents")).orderBy("doc_a", "doc_b")),
    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashLsh(Tables.table(s, d, "documents")).orderBy("doc_a", "doc_b")),
    // data-governance view: ngram near-dup pairs rolled up by
    // canonically-ordered source pair — which sources leak into which
    "dedup_cross_source" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      Dedup.pairSourceMatrix(Dedup.ngramJaccard(docs), docs)
        .orderBy("source_a", "source_b")
    }),
    // the same governance matrix at HOST granularity — which domains
    // syndicate which (cross-host near-dups are the boilerplate /
    // content-syndication signal a crawl budget acts on); hosts from
    // the normalized messy-URL fixture, pairs from the shared
    // ngram-Jaccard relation
    "dedup_cross_domain" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = TextOps.withFixtureUrl(Tables.table(s, d, "documents"))
        .withColumn("host", TextOps.urlHost(col("url")))
      Dedup.pairSourceMatrix(Dedup.ngramJaccard(docs), docs,
          srcCol = "host")
        .withColumnRenamed("source_a", "host_a")
        .withColumnRenamed("source_b", "host_b")
        .orderBy("host_a", "host_b")
    }),
    "dedup_clusters" -> ((s, d) =>
      Dedup.defaultClusters(Tables.table(s, d, "documents"))
        .orderBy("doc_id")),
    "dedup_survivors" -> ((s, d) =>
      Dedup.survivors(Tables.table(s, d, "documents"))
        .select("doc_id").orderBy("doc_id")),
    // QUALITY-aware survivor policy over the same ngram-Jaccard
    // clustering the dedup_clusters gate uses: per cluster keep the
    // argmax-quality member (tie → min doc_id), singletons survive —
    // "keep the BEST copy", scored by the text_quality signal
    "dedup_survivors_best" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      Dedup.survivorsBest(docs,
          Dedup.defaultClusters(docs),
          TextOps.qualityShared(docs))
        .select("doc_id").orderBy("doc_id")
    }),
    // the same quality-argmax survivor policy applied CROSS-MODAL:
    // clusters come from embedding near-dups (cosine ≥ 0.30 over the
    // banded LSH candidates), the score from the text-side quality
    // signal (vec_id ≡ doc_id — the same entity in two modalities);
    // survivor universe = the EMBEDDED docs (unembedded docs are
    // outside the clustering and would trivially "survive")
    "embedding_survivors_best" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val emb = Tables.table(s, d, "embeddings")
      val embedded = docs.join(
        emb.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
      Dedup.survivorsBest(embedded,
          Dedup.dupClusters(Similarity.nearDupPairs(emb)
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))),
          TextOps.qualityShared(docs))
        .select("doc_id").orderBy("doc_id")
    }),
    // SemDeDup (Abbas et al. 2023): semantic dedup through the
    // kNN-GRAPH — candidate edges are each vector's top-k neighbors
    // (not every band collision), thresholded at cosine ≥ 0.30, then
    // the standard cluster → keep-best-quality pipeline. The k-cap
    // bounds per-vector candidate fanout independently of how dense a
    // semantic neighborhood is — the property that makes this the
    // scale form of embedding_survivors_best
    "embedding_semdedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val emb = Tables.table(s, d, "embeddings")
      val pairs = Similarity.knnGraph(emb)
        .filter(col("cosine") >= 0.30)
        .select(col("query_id").as("doc_a"), col("neighbor_id").as("doc_b"))
      val embedded = docs.join(
        emb.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
      Dedup.survivorsBest(embedded, Dedup.dupClusters(pairs),
          TextOps.qualityShared(docs))
        .select("doc_id").orderBy("doc_id")
    }),
    // the streaming near-dup filter's batch twin, with arrival order =
    // doc_id — survivors share no LSH band with any earlier doc
    "dedup_stream_neardup" -> ((s, d) =>
      graft.streaming.StreamDedup.nearDupArrivalBatch(
        Tables.table(s, d, "documents"), "doc_id").orderBy("doc_id")),
    // incremental admission: even doc_ids play the ingested corpus,
    // odd ones the fresh batch — the split deliberately interleaves
    // ids so corpus-before-fresh is decided by the epoch, not id order
    "dedup_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      graft.streaming.StreamDedup.nearDupIncremental(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    }),
    // the 100 TB deployment form: the corpus enters as its STORED
    // (doc_id, band_idx, band_sig) relation (bandKeysOf at ingest),
    // so admission scans only the fresh batch's text — must be
    // hash-identical to dedup_incremental, whose oracle it shares
    "dedup_incremental_keys" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      graft.streaming.StreamDedup.nearDupIncrementalKeys(
          graft.streaming.StreamDedup.bandKeysOf(
            docs.filter(col("doc_id") % 2 === 0)),
          docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    }),
    // the EXACT twin of dedup_incremental_keys: admission against the
    // stored 24-byte content-key relation (exactKeysOf at ingest) —
    // fresh odd docs admitted iff their triple matches no even doc's,
    // min-doc_id claimant per in-batch duplicate group
    "dedup_incremental_exact" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      graft.streaming.StreamDedup.exactIncrementalKeys(
          graft.streaming.StreamDedup.exactKeysOf(
            docs.filter(col("doc_id") % 2 === 0)),
          docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    }),
    // asymmetric containment over docs AUGMENTED with deterministic
    // excerpts (first 160 chars of every 10th doc as a new doc) — the
    // quote/wrapper relation symmetric Jaccard is blind to, provably
    // fired and hash-compared like text_pii's synthetic PII
    "dedup_containment" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val aug = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + 10000000L).as("doc_id"),
          substring(col("text"), 1, 160).as("text")))
      Dedup.containmentPairs(aug).orderBy("doc_id", "container_id")
    }),
    // snapshot maintenance: latest-wins merge of a synthetic change
    // batch (rev1 text for doc_id%5==0 at version 1; tombstones for
    // doc_id%7==3 at version 2 — versions distinct so the overlap ids
    // resolve deterministically) into the current corpus — one key
    // shuffle, max_by((version, side)), winning tombstones dropped
    "docs_merge" -> ((s, d) => {
      val (cur, changes) = mergeFixture(Tables.table(s, d, "documents"))
      Snapshot.mergeLatest(cur, changes).orderBy("doc_id")
    }),
    // the refresh AUDIT: fingerprint diff of the merged snapshot
    // against the original — upserted ids report changed, tombstoned
    // ids report removed; (key, 64-bit fp) is all that shuffles
    "docs_diff" -> ((s, d) => {
      val docs = Tables.table(s, d, "documents")
      val (cur, changes) = mergeFixture(docs)
      Snapshot.snapshotDiff(docs, Snapshot.mergeLatest(cur, changes))
        .orderBy("doc_id")
    }),
    // SCD2 history over the same synthetic change stream: validity
    // intervals per (doc, version) — the point-in-time audit form;
    // one doc-keyed window, tombstones visible, is_current re-derives
    // the changelog winners
    "docs_scd2" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val (cur, changes) = mergeFixture(Tables.table(s, d, "documents"))
      Snapshot.scd2History(cur.unionByName(changes))
        .select(col("doc_id"), col("version"), col("deleted"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("doc_id", "version")
    }),
    // INCREMENTAL SCD2: the version-0 history round-trips parquet,
    // then the v1/v2 batch folds in O(batch) — gated by the one-shot
    // docs_scd2 SQL VERBATIM (chained ≡ one-shot IS the check)
    "docs_scd2_apply" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val (cur, changes) = mergeFixture(Tables.table(s, d, "documents"))
      val hDir = storedDir(d, "scd2_hist", Snapshot.scd2History(cur))
      Snapshot.scd2Apply(s.read.parquet(hDir), changes)
        .select(col("doc_id"), col("version"), col("deleted"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("doc_id", "version")
    }),
    // retention vacuum over the SAME history: purge rows no PIT query
    // at/after the watermark can reach; open rows (incl. tombstones)
    // always survive — PIT-invariance spec-pinned
    "docs_vacuum" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val (cur, changes) = mergeFixture(Tables.table(s, d, "documents"))
      Snapshot.scd2Vacuum(Snapshot.scd2History(cur.unionByName(changes)),
          Snapshot.VacuumRetainFrom)
        .select(col("doc_id"), col("version"), col("deleted"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("doc_id", "version")
    }),
    // the point-in-time query SCD2 exists for: the corpus exactly as
    // it stood at PitVersion — upserts ≤ PitVersion applied, later
    // tombstones not yet; a range predicate over the history relation
    "docs_pit" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val (cur, changes) = mergeFixture(Tables.table(s, d, "documents"))
      Snapshot.scd2History(cur.unionByName(changes))
        .filter(col("valid_from") <= PitVersion &&
          col("valid_to") > PitVersion && !col("deleted"))
        .select(col("doc_id"), col("text"), col("version"))
        .orderBy("doc_id")
    }),
    // SQ8 storage compression: per-dimension min/max grid, one row per
    // (vec_id, dim) with the int8 code + reconstruction-error ppm —
    // dim-keyed stats agg + a broadcast-join map stage
    "embedding_quantize" -> ((s, d) =>
      Similarity.quantizeInt8(Tables.table(s, d, "embeddings"))
        .orderBy("vec_id", "dim")),
    // product quantization: per-block nearest hash-anchored codeword
    // (squared L2, sequential fold) — map-only, codebook as literals
    "embedding_pq" -> ((s, d) =>
      Similarity.pqCodes(Tables.table(s, d, "embeddings"))
        .orderBy("vec_id", "block")),
    // per-label integer centroids: elements quantized to ppm FIRST so
    // the per-(label, dim) sums are exact long arithmetic — the class-
    // prototype / SemDeDup-cluster-diagnostic primitive
    "embedding_centroids" -> ((s, d) =>
      Similarity.labelCentroids(Tables.table(s, d, "embeddings"))
        .orderBy("label", "dim")),
    // embedding drift: per-label centroid movement between the even/
    // odd vec_id epochs — quantize-first integer centroids joined on
    // (label, dim), exact Σ(Δmean_ppm)² — model/mix drift lands here
    // before recall gates degrade
    "embedding_drift" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.table(s, d, "embeddings")
      Similarity.embeddingDrift(emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1))
        .orderBy("label")
    }),
    // ONE exact Lloyd round from the hash-anchored init — the k-means
    // training STEP oracle-checked (flat L2 argmin assignment +
    // quantize-first integer mean update)
    "embedding_lloyd" -> ((s, d) =>
      Similarity.lloydStep(Tables.table(s, d, "embeddings"))
        .orderBy("cent_id", "dim")),
    // exact squared-L2 brute top-k — the Euclidean metric baseline
    // (knn_brute is cosine); integer l2_fp scores, broadcast queries
    "knn_brute_l2" -> ((s, d) =>
      Similarity.knnBruteL2Shared(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // SQ8 serving: the grid stats + int8 codes round-trip parquet and
    // the serve dequantizes stored codes against raw queries — corpus
    // embeddings never read; full-width scan (SQ8 trades precision,
    // not candidates), exact fold, fully SQL-derivable
    "knn_sq8" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val stDir = storedDir(d, "sq8_stats", Similarity.sq8Stats(emb))
      val cdDir = storedDir(d, "sq8_codes", Similarity.quantizeInt8(emb))
      Similarity.knnSq8(s.read.parquet(stDir), s.read.parquet(cdDir), emb)
        .orderBy("query_id", "rank")
    }),
    // SQ8 honesty: recall@k of the dequantized ranking vs exact L2 —
    // prices exactly the quantization error (the err_ppm column's
    // retrieval-level consequence)
    "knn_sq8_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(
        Similarity.knnSq8(Similarity.sq8Stats(emb),
          Similarity.quantizeInt8(emb), emb),
        Similarity.knnBruteL2Shared(emb))
    }),
    // binary (1-bit) quantization audit: sign bits against the SQ8
    // grid MIDPOINTS packed 32 per word — the 32× compression tier's
    // stored layout, exact integers, fully SQL-derivable
    "embedding_binarize" -> ((s, d) =>
      Similarity.binarize(Tables.table(s, d, "embeddings"))
        .orderBy("vec_id", "word")),
    // Hamming serving from STORED binary words: grid + packed words
    // round-trip parquet and the serve popcounts stored words against
    // in-plan-binarized queries — corpus embeddings never read
    "knn_hamming" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      // same fit plan + leaf as knn_sq8/search_hybrid_indexed → the
      // memo hands all three gates ONE stored stats dir
      val stDir = storedDir(d, "sq8_stats", Similarity.sq8Stats(emb))
      val wDir = storedDir(d, "bin_words",
        Similarity.binaryCodes(s.read.parquet(stDir), emb))
      Similarity.knnHamming(s.read.parquet(stDir), s.read.parquet(wDir),
          emb)
        .orderBy("query_id", "rank")
    }),
    // binary honesty: recall@k of the raw Hamming ranking vs exact L2
    // — prices the 1-bit tier's precision loss BEFORE rerank
    "knn_hamming_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val st = Similarity.sq8Stats(emb)
      Similarity.recallAtK(
        Similarity.knnHamming(st, Similarity.binaryCodes(st, emb), emb),
        Similarity.knnBruteL2Shared(emb))
    }),
    // two-stage binary serving: Hamming shortlist (cand=32) → exact
    // squared-L2 rerank over ONLY the candidates' raw embeddings
    "knn_hamming_rerank" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val st = Similarity.sq8Stats(emb)
      Similarity.knnHammingRerank(st, Similarity.binaryCodes(st, emb),
          emb, emb)
        .orderBy("query_id", "rank")
    }),
    // rerank honesty: recall@k the shortlist depth buys back
    "knn_hamming_rerank_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val st = Similarity.sq8Stats(emb)
      Similarity.recallAtK(
        Similarity.knnHammingRerank(st, Similarity.binaryCodes(st, emb),
          emb, emb),
        Similarity.knnBruteL2Shared(emb))
    }),
    // mislabel detector: the k vectors farthest from their own label's
    // centroid, exact ppm^2 integer distances
    "embedding_outliers" -> ((s, d) =>
      Similarity.embeddingOutliers(Tables.table(s, d, "embeddings"))
        .orderBy(org.apache.spark.sql.functions.col("d2").desc,
          org.apache.spark.sql.functions.col("vec_id"))),
    // clustering-quality audit: per-label simplified silhouette
    // (centroid form) — integer a/b distances via the labelCentroids
    // quantize-first pipeline, one ⌊(b−a)/max·1e6⌋ per vector;
    // centroids ride as literals so the corpus pass is map-only
    "embedding_silhouette" -> ((s, d) =>
      Similarity.silhouetteByLabel(Tables.table(s, d, "embeddings"))
        .orderBy("label")),
    // JL dimensionality reduction: ±1 signs from the salted PolyHash
    // parity, exact integer projections — literal sign matrix, pure
    // map stage (the SQL twin derives the same matrix from the hash)
    "embedding_project" -> ((s, d) =>
      Similarity.randomProject(Tables.table(s, d, "embeddings"))
        .orderBy("vec_id", "pdim")),
    // retrieval from the projected tier: exact long L2 over 16-long
    // vectors — 4x less bandwidth per comparison than full width
    "knn_project" -> ((s, d) =>
      Similarity.knnProjected(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // projection honesty: recall@5 of the projected ranking vs the
    // full-width exact-L2 ranking — the number that gates serving a
    // first pass from the compressed tier
    "knn_project_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnProjected(emb),
        Similarity.knnBruteL2Shared(emb))
    }),
    // matryoshka-style truncated retrieval: exact L2 over the first
    // TruncDims dims only — 4x less bandwidth per comparison
    "knn_brute_l2_trunc" -> ((s, d) =>
      Similarity.knnBruteL2Shared(Tables.table(s, d, "embeddings"),
          dims = Similarity.TruncDims)
        .orderBy("query_id", "rank")),
    // truncation honesty: recall@5 of prefix-dim retrieval against the
    // full-width ranking — the number that decides whether serving
    // from a vector prefix is acceptable for this corpus
    "knn_trunc_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(
        Similarity.knnBruteL2Shared(emb, dims = Similarity.TruncDims),
        Similarity.knnBruteL2Shared(emb))
    }),
    // PQ serving: ADC top-k — per-query LUTs over the codebook, each
    // candidate scored by `blocks` table lookups; map-only corpus pass
    "knn_pq" -> ((s, d) =>
      Similarity.knnPq(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // PQ honesty: recall@5 of ADC against the exact-L2 ranking (the
    // metric PQ actually approximates) — one hash-checked row
    "knn_pq_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnPq(emb), Similarity.knnBruteL2Shared(emb))
    }),
    // ORACLED since the exact-Lloyd training rewrite: per-block
    // codebooks are ppm-integer fits DuckDB replays round for round;
    // the recall improvement over the hash-anchored layout stays
    // pinned in ExtensionsSpec
    "knn_pq_trained" -> ((s, d) =>
      Similarity.knnPqTrained(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // the PQ twin of knn_ivf_centroids: the fitted per-block codebook
    // ARTIFACT hash-checked directly, per (block, code, dim) in
    // floored micro-units
    "knn_pq_codebooks" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, floor, lit, posexplode}
      Similarity.codebooksOf(Tables.table(s, d, "embeddings"))
        .select(col("block"), col("code"),
          posexplode(col("codeword")).as(Seq("dim", "x")))
        .select(col("block"), col("code"),
          col("dim").cast("long").as("dim"),
          floor(col("x") * lit(1000000.0)).cast("long").as("c_fp"))
        .orderBy("block", "code", "dim")
    }),
    // the train-once/serve-many form of the trained-PQ path: fitted
    // per-block codebooks round-trip disk as a relation (codebooksOf →
    // parquet → knnPqFromStored) INSIDE the query — the store/reload/
    // fingerprint machinery is what this gate drives. ORACLED with
    // knn_pq_trained's SQL: the stored serve is byte-identical to
    // in-session training (the round-trip law ExtensionsSpec pins)
    "knn_pq_stored" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val dir = storedDirLazy(d, "pq_cbs", emb, pqCbParams)(
        Similarity.codebooksOf(emb))()
      Similarity.knnPqFromStored(s.read.parquet(dir), emb)
        .orderBy("query_id", "rank")
    }),
    // the PAYOFF leg of the PQ train-once contract: codebooks AND the
    // encoded corpus (blocks ints per vector — the ~64× compression)
    // round-trip parquet, then the serve reads ONLY the stored codes;
    // raw embeddings appear on the tiny query side alone. ORACLED
    // with knn_pq_trained's SQL (the coded serve ≡ stored serve ≡
    // in-session law); the stale-codes loud-error contract stays
    // pinned in ExtensionsSpec
    "knn_pq_codes" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val cbDir = storedDirLazy(d, "pq_cbs", emb, pqCbParams)(
        Similarity.codebooksOf(emb))()
      val cbs = s.read.parquet(cbDir)
      val codesDir = storedDirLazy(d, "pq_codes", emb, pqCbParams)(
        Similarity.pqCodesFromStored(cbs, emb))()
      Similarity.knnPqFromCodes(cbs, s.read.parquet(codesDir), emb)
        .orderBy("query_id", "rank")
    }),
    // the FULL stored IVFPQ layout: trained centroids + codebooks +
    // the (vec_id, cell, codes) posting-list relation all round-trip
    // parquet; serving reads cells and codes only — corpus embeddings
    // are never touched. ORACLED: the trained-IVF and trained-PQ
    // CTE chains compose into one SQL twin; the probe-everything ≡
    // knnPqFromCodes law, cell pruning and both staleness stamps
    // stay pinned in ExtensionsSpec
    "knn_ivf_pq_stored" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      // leaves shared with knn_ivf_stored/knn_pq_stored — same
      // (input, params) keys, so the memo serves ONE centroid/codebook
      // dir to all
      val centDir = storedDirLazy(d, "cents", emb, ivfCentParams)(
        Similarity.centroidsOf(emb))()
      val cents = s.read.parquet(centDir)
      val cbDir = storedDirLazy(d, "pq_cbs", emb, pqCbParams)(
        Similarity.codebooksOf(emb))()
      val cbs = s.read.parquet(cbDir)
      val idxDir = storedDirLazy(d, "ivfpq_idx", emb,
          s"$ivfCentParams|$pqCbParams")(
        Similarity.ivfAssignFromStored(cents, emb)
          .join(Similarity.pqCodesFromStored(cbs, emb), "vec_id"))()
      Similarity.knnIvfPqFromStored(cents, cbs, s.read.parquet(idxDir),
          emb)
        .orderBy("query_id", "rank")
    }),
    // IVF×SQ8: the remaining cell of the FAISS index matrix — cells
    // prune candidates, SQ8 reconstruction scores them with exact L2;
    // both layers hash-anchored/grid-exact so the gate is ORACLED
    "knn_ivf_sq8" -> ((s, d) =>
      Similarity.knnIvfSq8(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // IVF×SQ8 honesty: recall@5 vs exact L2 — prices cell misses and
    // quantization error together
    "knn_ivf_sq8_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnIvfSq8(emb),
        Similarity.knnBruteL2Shared(emb))
    }),
    // IVFPQ: the production composition — IVF cells prune the search,
    // PQ codes compress the candidates to LUT lookups; both quantizers
    // hash-anchored so the WHOLE layout is oracle-checked end to end
    "knn_ivf_pq" -> ((s, d) =>
      Similarity.knnIvfPq(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // IVFPQ honesty: recall@5 vs exact L2 — prices BOTH prunings
    // (probed-cells misses + quantization misses) in one row
    "knn_ivf_pq_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnIvfPq(emb),
        Similarity.knnBruteL2Shared(emb))
    }),
    "embedding_neardup" -> ((s, d) =>
      Similarity.nearDupPairs(Tables.table(s, d, "embeddings"))
        .orderBy("vec_a", "vec_b")),
    // the threshold-tuning curve BEHIND embedding_neardup's 0.30 cut:
    // all candidate-pair cosines binned at 0.1 with cumulative ≥-bin
    // counts — pick the threshold from this, not blind
    "embedding_threshold_curve" -> ((s, d) =>
      Similarity.cosineHistogram(Tables.table(s, d, "embeddings"))
        .orderBy("bin")),
    // the vector twin of dedup_incremental_keys: odd vectors admitted
    // iff none of their hyperplane-LSH bands (at the PINNED width —
    // stored keys cannot re-widen with corpus growth) appear on an
    // even vector or an earlier odd one; candidate-level, corpus
    // embeddings never read
    "embedding_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.table(s, d, "embeddings")
      Similarity.nearDupIncrementalVec(
          Similarity.vecBandKeysOf(
            emb.filter(col("vec_id") % 2 === 0), Similarity.LshBandBits),
          emb.filter(col("vec_id") % 2 === 1), Similarity.LshBandBits)
        .orderBy("vec_id")
    }),
    // the corpus-scale form: band collisions only NOMINATE; an exact
    // cosine >= 0.30 against the candidate confirms the rejection —
    // corpus embeddings are read for collided ids only
    "embedding_incremental_verified" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.table(s, d, "embeddings")
      Similarity.nearDupIncrementalVecVerified(
          Similarity.vecBandKeysOf(
            emb.filter(col("vec_id") % 2 === 0), Similarity.LshBandBits),
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1), Similarity.LshBandBits)
        .orderBy("vec_id")
    }),
    // vector-side end-to-end dedup: near-dup pairs → connected
    // components (star contraction) — the embedding twin of
    // dedup_clusters, composing the two operators unchanged
    "embedding_clusters" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Dedup.dupClusters(
          Similarity.nearDupPairs(Tables.table(s, d, "embeddings"))
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    }),
    "knn_brute" -> ((s, d) =>
      Similarity.knnBruteShared(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    "knn_lsh" -> ((s, d) =>
      Similarity.knnLsh(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    "knn_lsh_probe" -> ((s, d) =>
      Similarity.knnLshMultiProbe(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    "knn_ivf" -> ((s, d) =>
      Similarity.knnIvf(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // full-corpus kNN JOIN (every vector's top-k, not a query subset) —
    // the SemDeDup-style primitive; ids-only band self-join, one exact
    // cosine per unordered candidate pair, TopKPerKey ranking
    "knn_graph" -> ((s, d) =>
      Similarity.knnGraph(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // INCREMENTAL graph maintenance — the vector-tier postingsDelta:
    // stored graph + stored band keys over 4/5 of the corpus, the
    // fifth folds in as an O(batch) delta (batch keys ⋈ stored keys,
    // candidate-only embedding fetch, top-k merge) — must hash-match
    // the ONE-SHOT pinned-width rebuild (chained ≡ one-shot, exact)
    "knn_graph_incremental" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.table(s, d, "embeddings")
      val old = emb.filter(col("vec_id") % 5 =!= 0)
      val batch = emb.filter(col("vec_id") % 5 === 0)
      val gDir = storedDir(d, "kg_inc_graph",
        Similarity.knnGraph(old, bandBits = Similarity.LshBandBits))
      val kDir = storedDir(d, "kg_inc_keys",
        Similarity.vecBandKeysOf(old, Similarity.LshBandBits))
      Similarity.knnGraphDelta(s.read.parquet(gDir),
          s.read.parquet(kDir), emb, batch)
        .orderBy("query_id", "rank")
    }),
    // MMR diversity re-rank: greedy λ=0.7 marginal-relevance pass
    // over the exact top-16 shortlist — rank IS selection order;
    // after the shortlist everything is queries×cand²-sized
    "knn_mmr" -> ((s, d) =>
      Similarity.mmrRerank(Tables.table(s, d, "embeddings"),
          Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // graph-served ANN: synchronous beam search over the STORED kNN
    // graph (HNSW/DiskANN's search loop, fixed rounds so the oracle
    // unrolls it) — adjacency round-trips parquet; per round one map
    // pass over the 2-long edges + a candidate-only embedding fetch
    "knn_beam" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.table(s, d, "embeddings")
      val gDir = storedDir(d, "beam_graph",
        Similarity.knnGraph(emb, k = Similarity.BeamGraphDegree)
          .select(col("query_id").as("src"),
            col("neighbor_id").as("dst")))
      Similarity.knnBeamShared(s.read.parquet(gDir), emb, emb)
        .orderBy("query_id", "rank")
    }),
    // graph-serving honesty: recall@k the beam walk reaches vs exact
    // L2 — prices entry-point bias + graph connectivity together. The
    // approx side audits the SAME stored graph the knn_beam gate
    // serves from (plan-equal knnBeamShared call → one beam build per
    // session feeds both gates)
    "knn_beam_recall" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.table(s, d, "embeddings")
      val gDir = storedDir(d, "beam_graph",
        Similarity.knnGraph(emb, k = Similarity.BeamGraphDegree)
          .select(col("query_id").as("src"),
            col("neighbor_id").as("dst")))
      Similarity.recallAtK(
        Similarity.knnBeamShared(s.read.parquet(gDir), emb, emb),
        Similarity.knnBruteL2Shared(emb))
    }),
    // reciprocated-edges filter over the kNN graph — the hub-robust
    // symmetrization density clustering consumes; one self-join on
    // the persisted ids+cosine relation, nothing vector-sized moves
    "knn_mutual" -> ((s, d) =>
      Similarity.mutualKnn(Similarity.knnGraph(Tables.table(s, d, "embeddings")))
        .orderBy("vec_a", "vec_b")),
    // ANN HONESTY as a gate: recall@5 of the hash-anchored IVF index
    // against the exact brute-force ranking, one row — an index change
    // that keeps row counts stable while serving WORSE neighbors now
    // fails the hash compare instead of shipping silently (row-count
    // checks can't see neighbor quality). Fully oracled: both sides
    // are SQL-derivable, unlike the Lloyd-trained family
    "knn_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnIvf(emb), Similarity.knnBruteShared(emb))
    }),
    // the banded-LSH index under the same honesty gate
    "knn_recall_lsh" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnLsh(emb), Similarity.knnBruteShared(emb))
    }),
    // the FILTERED serving path priced against its exact filtered twin
    // — recall loss from cell pruning under a metadata predicate
    "knn_filtered_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val docs = Tables.table(s, d, "documents")
      val pred = org.apache.spark.sql.functions.col("lang") === "en"
      Similarity.recallAtK(Similarity.knnIvfFiltered(emb, docs, pred),
        Similarity.knnFiltered(emb, docs, pred))
    }),
    // the kNN GRAPH under the honesty gate: recall@5 against the
    // ALL-QUERIES brute ranking (every vector is a query — N² dots,
    // audit-scale by construction; at real corpus sizes this gate runs
    // on a sampled slice, the graph itself stays LSH-bounded)
    "knn_graph_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnGraph(emb),
        Similarity.knnBruteShared(emb, nQueries = Long.MaxValue))
    }),
    // ORACLED since the exact-Lloyd training rewrite: the fitted
    // centroids are ppm-integer quantities (the lloydStep arithmetic,
    // iterated), so the DuckDB twin unrolls the same rounds as CTEs
    // and lands bit-identical floats — the whole trained serving path
    // is hash-checked end to end, plus the clustered-corpus recall
    // test and rehearsal record
    "knn_ivf_trained" -> ((s, d) =>
      Similarity.knnIvfTrained(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // SPHERICAL training variant: normalize-then-quantize sample,
    // renormalized integer means — the training objective matches the
    // cosine serving metric (closes the documented L2-train gap);
    // oracled end to end like the L2-trained tier
    "knn_ivf_spherical" -> ((s, d) =>
      Similarity.knnIvfSphericalTrained(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank")),
    // the spherically-fitted artifact, hash-checked directly
    "knn_ivf_spherical_centroids" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, floor, posexplode}
      Similarity.sphericalCentroidsOf(Tables.table(s, d, "embeddings"))
        .select(col("cent_id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("cent_id"), col("dim").cast("long").as("dim"),
          floor(col("x").cast("double") *
            org.apache.spark.sql.functions.lit(1000000.0))
            .cast("long").as("c_fp"))
        .orderBy("cent_id", "dim")
    }),
    // honesty gate: recall of the spherically-trained serve vs the
    // exact ranking — priced next to the L2-trained tier's
    "knn_ivf_spherical_recall" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnIvfSphericalTrained(emb),
        Similarity.knnBruteShared(emb))
    }),
    // the train-once/serve-many form: fitted centroids round-trip disk
    // as a relation (centroidsOf → parquet → knnIvfFromStored) INSIDE
    // the query — the store/reload/fingerprint machinery is what this
    // gate drives. ORACLED with knn_ivf_trained's SQL: the stored
    // serve is byte-identical to in-session training (the round-trip
    // law ExtensionsSpec pins), so the same oracle covers both
    "knn_ivf_stored" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val dir = storedDirLazy(d, "cents", emb, ivfCentParams)(
        Similarity.centroidsOf(emb))()
      Similarity.knnIvfFromStored(s.read.parquet(dir), emb)
        .orderBy("query_id", "rank")
    }),
    // the INGEST leg of the same contract: every corpus vector's cell
    // under the trained index — the column a production corpus
    // persists/buckets by so serving probes become cell-pruned reads.
    // ORACLED since the exact-Lloyd training rewrite (the fitted
    // centroids are now integer-derived, so DuckDB reproduces them
    // bit-for-bit); the gate projects out the ivf_cents_fp stamp —
    // a float-BITS content hash with no SQL twin — and keeps the
    // (vec_id, cell, n2) columns the oracle can check. The stamp's
    // staleness contract stays pinned in ExtensionsSpec
    "knn_ivf_assign" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.ivfAssignFromStored(Similarity.centroidsOf(emb), emb)
        .select("vec_id", "cell", "n2")
        .orderBy("vec_id")
    }),
    // the fitted TRAINING ARTIFACT as its own gate: every centroid
    // coordinate hash-checked directly (floored micro-units of the
    // float — float→double is exact, both engines floor the same
    // double), not just through the serving path that consumes it
    "knn_ivf_centroids" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, floor, posexplode}
      Similarity.centroidsOf(Tables.table(s, d, "embeddings"))
        .select(col("cent_id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("cent_id"), col("dim").cast("long").as("dim"),
          floor(col("x").cast("double") *
            org.apache.spark.sql.functions.lit(1000000.0))
            .cast("long").as("c_fp"))
        .orderBy("cent_id", "dim")
    }),
    // the PAYOFF leg of train-once: centroids AND the cell-stamped
    // corpus (cell + n2 persisted at ingest) round-trip parquet with
    // the corpus PARTITIONED BY cell, then the static-pruned serve
    // pushes the probed cells into the scan as a partition filter —
    // the corpus side runs NO assignment expression and READS only
    // the probed cells' files (both PlanSpec-guarded). ORACLED with
    // knn_ivf_trained's SQL (the assigned-corpus serve is
    // byte-identical to knnIvfFromStored — ExtensionsSpec pins it)
    "knn_ivf_pruned" -> ((s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val centDir = storedDirLazy(d, "cents", emb, ivfCentParams)(
        Similarity.centroidsOf(emb))()
      val cents = s.read.parquet(centDir)
      // repartition by cell before the partitioned write: one task per
      // cell group → one file per cell instead of tasks × cells tiny
      // files (the standard partitioned-write discipline; at 100 TB
      // this is what keeps per-cell file counts sane)
      val corpusDir = storedDirLazy(d, "assigned", emb, ivfCentParams)(
          emb.join(Similarity.ivfAssignFromStored(cents, emb), "vec_id"))(
        (df, dir) => df.repartition(org.apache.spark.sql.functions.col("cell"))
          .write.mode("overwrite").partitionBy("cell").parquet(dir))
      // explicit schema so the partition column keeps its LongType —
      // inference would read the dir names as ints and the resulting
      // cast would defeat file-level pruning. Constructed statically
      // (emb columns + the ivfAssignFromStored join's appended cell /
      // n2 / ivf_cents_fp) so a memo HIT never constructs the assigned
      // plan — which would collect the centroids per invocation
      val assignedSchema = org.apache.spark.sql.types.StructType(
        emb.schema.fields ++ Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("n2",
            org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("ivf_cents_fp",
            org.apache.spark.sql.types.LongType)))
      Similarity.knnIvfFromAssigned(cents,
          s.read.schema(assignedSchema).parquet(corpusDir),
          staticPrune = true)
        .orderBy("query_id", "rank")
    }),
    // REAL container decode, column-expression path: payloads carry
    // actual BMP/WAV/AVI byte layouts; every output field is parsed
    // back out of the bytes (substring/hex/conv little-endian reads)
    // while the oracle states expected values independently from
    // doc_id formulas — writer and parser errors cannot cancel out.
    // Rows with doc_id % 97 == 0 are truncated mid-header and must
    // surface as valid=0 sentinel rows, not errors.
    "media_features" -> ((s, d) =>
      Multimodal.mediaDecodeCols(mediaLake(s, d))
        .orderBy("doc_id")),
    // binary twin of dedup_exact: only (md5, length) shuffles, the
    // payload bytes never leave the scan stage
    "media_dedup" -> ((s, d) =>
      Multimodal.mediaDedup(
        Multimodal.mediaTable(Tables.table(s, d, "documents"))).orderBy("doc_id")),
    // byte-level NEAR-dup over payloads: SimHash on hex 4-byte grams,
    // banded pairs at Hamming <= 3 — re-muxed/shifted copies surface
    "media_simhash" -> ((s, d) =>
      Multimodal.mediaSimhashPairs(
        Multimodal.mediaTable(Tables.table(s, d, "documents")))
        .orderBy("doc_a", "doc_b")),
    // byte-level near-dup CLUSTERS: the same star-contraction resolver
    // as dedup_clusters over the media pair relation
    "media_clusters" -> ((s, d) =>
      Dedup.dupClusters(Multimodal.mediaSimhashPairs(
          Multimodal.mediaTable(Tables.table(s, d, "documents"))))
        .orderBy("doc_id")),
    // the same decode through the partition-iterator ByteBuffer path
    // (the codec-binding shape) — identical schema and values to
    // media_features, so both share one oracle: triple agreement
    // between two independent parsers and the formula-stated truth
    "media_decode" -> ((s, d) =>
      Multimodal.mediaDecodeBatch(s, mediaLake(s, d)).toDF()
        .orderBy("doc_id")),
    // resize planning over PARSED BMP headers (valid image rows only)
    "media_resize" -> ((s, d) =>
      Multimodal.resizePlan(Multimodal.mediaDecodeCols(mediaLake(s, d)))
        .orderBy("doc_id")),
    // frame sampling driven by the avih dwTotalFrames field parsed
    // from the bytes; each frame gets its byte range in the data region
    "media_frames" -> ((s, d) =>
      Multimodal.frameSample(Multimodal.mediaDecodeCols(mediaLake(s, d)))
        .orderBy("doc_id", "frame_idx")),
    // keep/drop curation from PARSED metadata — the media twin of the
    // text quality filter (invalid first, then per-medium floors)
    "media_curation" -> ((s, d) =>
      Multimodal.mediaCuration(Multimodal.mediaDecodeCols(mediaLake(s, d)))
        .orderBy("doc_id")),
    // per-container corpus rollup over decoded metadata
    "media_stats" -> ((s, d) =>
      Multimodal.mediaStats(Multimodal.mediaDecodeCols(mediaLake(s, d)))
        .orderBy("container")),
    // audio framing from the parsed WAV header: sample frames and
    // integer-exact duration per valid audio payload
    "media_audio" -> ((s, d) =>
      Multimodal.audioFrames(Multimodal.mediaDecodeCols(mediaLake(s, d)))
        .orderBy("doc_id")),
    // sliding 1h/15min windows — each event fans into 4 windows in
    // the map stage, then the usual partial-agg counts
    "events_sliding" -> ((s, d) =>
      EventWindows.hourlySliding(Tables.table(s, d, "events"))
        .orderBy("win_epoch", "event_type")),
    // per-hour heavy hitters through the TopKPerKey physical operator
    "events_hourly_top" -> ((s, d) =>
      EventWindows.hourlyTopUsers(Tables.table(s, d, "events"))
        .orderBy("hour_epoch", "rank")),
    "events_hourly" -> ((s, d) =>
      EventWindows.hourly(Tables.table(s, d, "events"))
        .orderBy("hour_epoch", "event_type")),
    "events_hourly_users" -> ((s, d) =>
      EventWindows.hourlyUsersHll(Tables.table(s, d, "events"))
        .orderBy("hour_epoch")),
    "events_funnel" -> ((s, d) =>
      EventWindows.funnel(Tables.table(s, d, "events"))
        .orderBy("stage_idx")),
    // the conversion-window refinement: stage k counts only within
    // 24h of the stage-(k-1) threshold — same greedy chain, one more
    // predicate per stage join
    "events_funnel_windowed" -> ((s, d) =>
      EventWindows.funnelWindowed(Tables.table(s, d, "events"))
        .orderBy("stage_idx")),
    "events_retention" -> ((s, d) =>
      EventWindows.retention(Tables.table(s, d, "events"))
        .orderBy("cohort_day", "day_offset")),
    "events_quantiles" -> ((s, d) =>
      TextOps.groupedQuantiles(Tables.table(s, d, "events"),
        "event_type", "value", "event_id").orderBy("event_type", "pct")),
    // sessionize → per-hour-of-day duration order statistics: the
    // exact-rank machinery composed over a derived relation (sid is a
    // tie-break only — a rare collision ties ALL sort keys and both
    // engines then select the same duration value)
    "events_session_quantiles" -> ((s, d) => {
      import org.apache.spark.sql.functions.{col, expr}
      val sess = graft.streaming.Sessionize.sessions(Tables.table(s, d, "events"))
        .select(expr("(session_start_us div 3600000000) % 24").as("hour_of_day"),
          (col("session_end_us") - col("session_start_us")).as("duration_us"),
          (col("session_start_us") + col("user_id")).as("sid"))
      TextOps.groupedQuantiles(sess, "hour_of_day", "duration_us", "sid")
        .select(col("hour_of_day").cast("long").as("hour_of_day"),
          col("pct"), col("value_at"))
        .orderBy("hour_of_day", "pct")
    }),
    // the MERGEABLE quantile-sketch state (deterministic log-bucket
    // grid, integer-only — see QuantileSketch): one bounded counter
    // relation per event_type, counters sum across shards/windows
    "events_qsketch" -> ((s, d) =>
      operators.QuantileSketch.sketch(Tables.table(s, d, "events"),
        Seq("event_type"), "value").orderBy("event_type", "bucket")),
    // percentiles read from the sketch state: rank rule identical to
    // events_quantiles, answer = the micro-unit interval [ulo, uhi]
    // provably containing the exact order statistic
    "events_qsketch_quantiles" -> ((s, d) =>
      operators.QuantileSketch.quantiles(
        operators.QuantileSketch.sketch(Tables.table(s, d, "events"),
          Seq("event_type"), "value"),
        Seq("event_type")).orderBy("event_type", "pct")),
    // the INVERSE sketch query: per probe value, the rank interval
    // [rank_lo, rank_hi] provably containing the exact below-probe
    // count — CDF = rank/n; probe buckets resolve at plan build
    "events_qsketch_cdf" -> ((s, d) =>
      operators.QuantileSketch.cdfBounds(
        operators.QuantileSketch.sketch(Tables.table(s, d, "events"),
          Seq("event_type"), "value"),
        Seq("event_type"), CdfProbes).orderBy("event_type", "probe_fp")),
    // the ROLLUP deployment shape: per-day WINDOWED sketch states
    // (the batch==streaming transform) merged by counter addition
    // into the corpus state — must be byte-identical to sketching in
    // one shot, so it shares events_qsketch's oracle (merge is the
    // whole point of the sketch family; this drives sketchWindowed +
    // merge through the driver gate, not just the spec)
    "events_qsketch_rollup" -> ((s, d) => {
      val daily = operators.QuantileSketch.sketchWindowed(
        Tables.table(s, d, "events"), Seq("event_type"), "value", "ts",
        "1 day")
      operators.QuantileSketch.merge(Seq(daily.drop("window_epoch")),
          Seq("event_type"))
        .orderBy("event_type", "bucket")
    }),
    // the funnel's mapGroupsWithState twin — must be count-identical
    // to events_funnel, whose oracle it shares
    "events_funnel_stateful" -> ((s, d) =>
      EventWindows.funnelStateful(s, Tables.table(s, d, "events"))
        .orderBy("stage_idx")),
    "events_sessions" -> ((s, d) =>
      graft.streaming.Sessionize.sessions(Tables.table(s, d, "events"))
        .orderBy("user_id", "session_start_us")),
    // the sessionizer's flatMapGroupsWithState twin — must be
    // row-identical to events_sessions, whose oracle it shares (the
    // funnel/funnel_stateful pairing); the real-streaming leg of the
    // same state machine runs under a micro-batch StreamingQuery in
    // the spec (cross-batch session merge + watermark-closed emit)
    "events_sessions_stateful" -> ((s, d) =>
      graft.streaming.Sessionize.sessionsStateful(s,
          Tables.table(s, d, "events")).toDF()
        .orderBy("user_id", "session_start_us")),
    // per-user burstiness profile: adjacent-gap stats over each user's
    // sorted timestamps — one user-keyed shuffle, all-integer output;
    // the automated-traffic signal a curation pass filters on
    "events_interarrival" -> ((s, d) =>
      graft.streaming.Sessionize.interArrival(Tables.table(s, d, "events"))
        .orderBy("user_id")),
    // the celebrity-key escape hatch WIRED: per-(user, hour-bucket)
    // local gap aggregation + a bucket-row carry-in window, so one hot
    // user's history spreads over #buckets tasks instead of one sort —
    // must be row-identical to events_interarrival (shared oracle)
    "events_interarrival_bucketed" -> ((s, d) =>
      graft.streaming.Sessionize.interArrivalBucketed(
          Tables.table(s, d, "events"))
        .orderBy("user_id")),
    "events_props" -> ((s, d) =>
      EventWindows.propsStats(Tables.table(s, d, "events"))
        .orderBy("event_type")),
    // within-session event-type transition counts — the behavioral
    // bigram (first-order Markov) matrix; cross-session adjacencies
    // are severed at the same gap rule events_sessions groups by
    "events_transitions" -> ((s, d) =>
      graft.streaming.Sessionize.transitions(Tables.table(s, d, "events"))
        .orderBy("prev_type", "event_type")),
    // the transition matrix's flatMapGroupsWithState twin — must be
    // count-identical to events_transitions, whose oracle it shares
    // (the funnel/funnel_stateful pairing)
    "events_transitions_stateful" -> ((s, d) =>
      graft.streaming.Sessionize.transitionsStateful(s,
          Tables.table(s, d, "events"))
        .orderBy("prev_type", "event_type")),
    // the transition matrix through the celebrity-key escape hatch:
    // in-bucket pairs via (user, hour-bucket) windows + boundary pairs
    // via one window over bucket rows — row-identical to
    // events_transitions (shared oracle), different shuffle shape
    "events_transitions_bucketed" -> ((s, d) =>
      graft.streaming.Sessionize.transitionsBucketed(
          Tables.table(s, d, "events"))
        .orderBy("prev_type", "event_type")),
    // RFM profile: recency-days vs the corpus anchor, frequency, and
    // fixed-point monetary over finite values — all-integer, one
    // user-keyed aggregation plus a 1-row broadcast anchor
    "events_rfm" -> ((s, d) =>
      EventWindows.rfm(Tables.table(s, d, "events")).orderBy("user_id")),
    // the k most common session journeys as `a>b>c` path strings —
    // deterministic: (ts, event_id) ordering and a (count DESC, path
    // ASC) total order at the top-k boundary on both engines
    "events_paths" -> ((s, d) =>
      graft.streaming.Sessionize.sessionPaths(Tables.table(s, d, "events"))),
    // DAU / trailing-7d WAU / stickiness-ppm per epoch-aligned day —
    // trailing distinct via ×7 fanout of the DISTINCT (day, user)
    // pairs, never a per-user range join
    // dow x hour seasonality profile, pure integer UTC epoch math
    "events_seasonality" -> ((s, d) =>
      graft.streaming.EventWindows.seasonality(Tables.table(s, d, "events"))
        .orderBy("dow", "hour")),
    // multi-dim clustering audit: Morton-key "files" with their
    // per-dimension zone maps — the footer stats a z-ordered write
    // would carry; stats-to-literals + map-only interleave
    "events_zorder" -> ((s, d) =>
      graft.sources.Layout.zorderZoneMap(Tables.table(s, d, "events"))
        .orderBy("bucket")),
    // the pruning verdict: files touched by a derived user-range
    // predicate under the z-order vs time-clustered layouts
    "events_zorder_pruning" -> ((s, d) =>
      graft.sources.Layout.zorderPruning(Tables.table(s, d, "events"))),
    // deterministic A/B read-out: hash-assigned arms, exposed users,
    // purchase conversion + quantized revenue, all-long aggregation
    // CUPED variance-reduced read-out (Deng et al. 2013): pre-period
    // revenue as covariate, θ fitted on the pooled exposed users,
    // per-arm adjusted mean in exact integer fixed point
    "events_ab_cuped" -> ((s, d) =>
      graft.streaming.EventWindows.abCuped(Tables.table(s, d, "events"))
        .orderBy("variant")),
    "events_ab_lift" -> ((s, d) =>
      graft.streaming.EventWindows.abLift(Tables.table(s, d, "events"))
        .orderBy("variant")),
    // SRM health check: the same exposure/assignment chain as ab_lift,
    // Pearson chi-square vs equal split in exact milli-units, flagged
    // at the df=1 critical value — read BEFORE trusting any lift
    "events_ab_srm" -> ((s, d) =>
      EventWindows.abSrm(Tables.table(s, d, "events"))),
    "events_active_users" -> ((s, d) =>
      EventWindows.activeUsers(Tables.table(s, d, "events"))
        .orderBy("day_epoch")),
    // the bounded-state twin: daily HLL user sketches, trailing WAU by
    // bucket-wise MAX merge of the daily states — days × 512 counters
    // shuffle instead of the ×7 distinct fanout
    "events_wau_hll" -> ((s, d) =>
      EventWindows.activeUsersHll(Tables.table(s, d, "events"))
        .orderBy("day_epoch")),
    // rate-anomaly statistics: hourly counts vs the trailing-24h
    // baseline per type — RANGE window over the hours-sized relation,
    // integer spike ratio, thresholding left to the consumer
    "events_anomaly" -> ((s, d) =>
      EventWindows.hourlyAnomaly(Tables.table(s, d, "events"))
        .orderBy("event_type", "hour_epoch")),
    // CUSUM drift detector: two one-sided reset-at-zero cumulative
    // sums per type via the prefix identity S = P − min(0, min P) —
    // two window functions over the zero-filled hours spine, exact
    // milli-count integers, alarms at 5 mean-units
    "events_cusum" -> ((s, d) =>
      EventWindows.cusum(Tables.table(s, d, "events"))
        .orderBy("event_type", "hour_epoch")),
    // the STREAMING deployment of the same detector: frozen per-type
    // reference + 12 B of state per type, run here in batch mode —
    // shares the windowed gate's oracle verbatim
    "events_cusum_stateful" -> ((s, d) => {
      val ev = Tables.table(s, d, "events")
      EventWindows.cusumStateful(s, ev, EventWindows.cusumReference(ev))
        .orderBy("event_type", "hour_epoch")
    }),
    // season-relative deviation: hourly counts against their own
    // (type, dow, hour-of-day) profile-cell mean — a Monday-9am spike
    // that's normal FOR Monday-9am reports ~0 here; integer milli/ppm
    "events_seasonal_resid" -> ((s, d) =>
      EventWindows.seasonalResiduals(Tables.table(s, d, "events"))
        .orderBy("event_type", "hour_epoch")),
    // multi-touch attribution: per conversion, the trailing-24h click
    // touches (count + first/last ids; zero-touch conversions report
    // with sentinels) — interval join, never a per-user cross product
    "events_attribution" -> ((s, d) =>
      EventWindows.attribution(Tables.table(s, d, "events"))
        .orderBy("conv_id")),
    // as-of alignment: every view picks the user's latest click at or
    // before it; clicks pre-aggregated to one row per (user, ts) — the
    // determinism precondition both engines share
    "events_asof" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      operators.AsofJoin.asofJoin(views, clicks,
        Seq("user_id"), "ts", Seq("click_id")).orderBy("event_id")
    }),
    // the skew-proof form: same semantics, window partitioned by
    // (user, hour bucket) with carry-in — must equal events_asof
    // exactly, so it shares that oracle verbatim
    "events_asof_bucketed" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      operators.AsofJoin.asofJoinBucketed(views, clicks,
        Seq("user_id"), "ts", Seq("click_id"), 3600L).orderBy("event_id")
    }),
    // the FORWARD variant: every view picks the user's earliest click
    // at or after it — the lookahead alignment
    "events_asof_fwd" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      operators.AsofJoin.asofJoinForward(views, clicks,
        Seq("user_id"), "ts", Seq("click_id")).orderBy("event_id")
    }),
    // the TOLERANCE variant: backward match, but clicks more than
    // 30 min before the view are nulled out. Aligned on unix_micros
    // columns — the exact-integer grain (timestamps would tolerance-
    // compare at cast-to-second granularity)
    "events_asof_tol" -> ((s, d) => {
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
    }),
    // interval-containment join: every view inside some click's
    // 30-minute attribution window [click_ts, click_ts + tol], via
    // the bucket-decomposed equi-join (width = the window length, so
    // each interval replicates to ≤ 2 buckets) — the theta-join
    // semantics, without the per-key cross product
    "events_click_windows" -> ((s, d) => {
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
    }),
    // interval×interval OVERLAP join: each view's 10-minute window
    // against each click's 30-minute attribution window (same user) —
    // pairs whose windows intersect, via the bucket-decomposed
    // equi-join with the keep-at-max(start)-bucket exactly-once trick
    "events_window_overlap" -> ((s, d) => {
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
    }),
    // skew-proof FORWARD form: (user, hour bucket) partitions with the
    // opening-row carry reversed — must equal events_asof_fwd exactly,
    // so it shares that oracle verbatim
    "events_asof_fwd_bucketed" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ev = Tables.table(s, d, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("event_id").as("click_id"))
      val views = ev.filter(col("event_type") === "view")
        .select("event_id", "user_id", "ts")
      operators.AsofJoin.asofJoinBucketedForward(views, clicks,
        Seq("user_id"), "ts", Seq("click_id"), 3600L).orderBy("event_id")
    }),
    // skew-proof TOLERANCE form on the micros grain; bucket width =
    // one hour in micros — must equal events_asof_tol exactly, so it
    // shares that oracle verbatim
    "events_asof_tol_bucketed" -> ((s, d) => {
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
    }),
  )

  // ---- oracle SQL fragment generators (mirror the Spark ops exactly;
  // every arithmetic step is replicated so results are bit-identical) --

  /** PolyHash of a string expression (mirrors graft.functions.PolyHash;
    * constants come FROM PolyHashUtil so they cannot drift).
    */
  // NB the empty-string guards: DuckDB's split('', '') is [''] (one
  // empty element, unicode('') = -1), not [] — without the CASE the
  // oracle would fold that phantom element and diverge from Spark on
  // empty inputs.
  private def phSql(e: String): String = {
    val m = graft.functions.PolyHashUtil.Mult
    val p = graft.functions.PolyHashUtil.Mod
    s"(CASE WHEN $e = '' THEN 0 ELSE " +
      s"list_reduce(list_prepend(0::BIGINT, list_transform(split($e, ''), " +
      s"c -> unicode(c)::BIGINT)), (a, x) -> (a * $m + x) % $p) END)"
  }

  /** Secondary PolyHash (independent constants — mirrors poly_hash2). */
  private def phSql2(e: String): String = {
    val m = graft.functions.PolyHashUtil.Mult2
    val p = graft.functions.PolyHashUtil.Mod2
    s"(CASE WHEN $e = '' THEN 0 ELSE " +
      s"list_reduce(list_prepend(0::BIGINT, list_transform(split($e, ''), " +
      s"c -> unicode(c)::BIGINT)), (a, x) -> (a * $m + x) % $p) END)"
  }

  /** Distinct word-3-gram shingle hashes per doc (mirrors
    * Dedup.shingleHashes / minhash hs arrays) over any doc relation.
    */
  private def hsCteFor(src: String): String =
    "hs AS (SELECT doc_id, list_distinct(list_transform(" +
      "list_transform(range(1, greatest(len(t) - 1, 1)), " +
      "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]), " +
      s"s -> ${phSql("s")})) AS hs " +
      s"FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM $src))"

  private val HsCte = hsCteFor("documents")

  /** Sequential-fold dot product with per-element double casts (mirrors
    * VectorFunctions.dot — bit-identical IEEE arithmetic).
    */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($a) + 1), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE)), (acc, x) -> acc + x)"

  /** Squared-L2 between two list columns over block `blk` of `blocks`
    * equal slices (pass blk = 0, blocks = 1 for full width) — the same
    * left fold as dotSql; shared by the PQ family and knn_brute_l2.
    */
  private def l2BlockSql(a: String, b: String, blk: Int, blocks: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(" +
      s"range($blk * (len($a) // $blocks) + 1, " +
      s"${blk + 1} * (len($a) // $blocks) + 1), " +
      s"i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))), " +
      "(acc, x) -> acc + x)"

  /** Shared CTE prefix for the PQ oracles: the corpus plus the
    * hash-anchored codebook (codeword j = rank j in the
    * (poly_hash(vec_id), vec_id) order — Similarity.pqCodebookOf's
    * ordered collect).
    */
  private lazy val PqCodebookCte: String =
    "e AS (SELECT vec_id, embedding FROM embeddings), " +
      "ch AS (SELECT e.*, row_number() OVER (ORDER BY " +
      s"${phSql("CAST(vec_id AS VARCHAR)")}, vec_id) AS crn FROM e), " +
      "c AS (SELECT crn - 1 AS code, embedding AS c_emb FROM ch " +
      s"WHERE crn <= ${Similarity.PqCodebookSize})"

  /** Prefix-width squared-L2 (first `dims` elements) — the truncated-
    * retrieval fold, same left-fold chain as l2BlockSql.
    */
  private def l2PrefixSql(a: String, b: String, dims: Int): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, ${dims + 1}), " +
      s"i -> ($a[i]::DOUBLE - $b[i]::DOUBLE) * ($a[i]::DOUBLE - $b[i]::DOUBLE))), " +
      "(acc, x) -> acc + x)"

  /** Shared CTEs for the random-projection family: `sg` = the
    * (i, j) ±1 grid from the salted-PolyHash parity (the SQL twin of
    * Similarity.rpSign — the matrix is DERIVED, not embedded), `pj` =
    * the per-(vec_id, pdim) exact integer projections. Integer-exact
    * end to end, so the join-the-grid shape here may differ from the
    * operator's literal fold.
    */
  private lazy val RpProjCte: String = {
    val d = Similarity.RpInDims
    val p = Similarity.RpDims
    val cell = "'rp:' || CAST(t.i AS VARCHAR) || ':' || CAST(u.j AS VARCHAR)"
    // the profileHll pre-mix: h1·Mod2 + h2 re-rendered and re-hashed
    // (raw parity of a short-string rolling hash is affine in the
    // trailing digit — see Similarity.rpSign)
    val mixed = s"CAST((${phSql(cell)} * ${graft.functions.PolyHashUtil.Mod2} " +
      s"+ ${phSql2(cell)}) AS VARCHAR)"
    s"sg AS (SELECT t.i, u.j, CASE WHEN ${phSql(mixed)} % 2 = 0 " +
      "THEN 1 ELSE -1 END AS sgn " +
      s"FROM range(0, $d) t(i), range(0, $p) u(j)), " +
      // vlen rides each row and the final CASE NULLs the projection of
      // any vector whose width ≠ RpInDims — the operator's zip_with
      // against the fixed-width sign literal nulls the whole fold for
      // ragged input, and a dim-join that silently summed available
      // dims would diverge from it; greatest(len, 1) keeps a
      // zero-length vector's (all-NULL) rows present like posexplode
      "q8 AS (SELECT vec_id, i - 1 AS dim, len(embedding)::BIGINT AS vlen, " +
      "CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT) AS q FROM " +
      "(SELECT vec_id, embedding, " +
      "unnest(generate_series(1, greatest(len(embedding), 1))) AS i " +
      "FROM embeddings)), " +
      "pj AS (SELECT vec_id, CAST(sg.j AS BIGINT) AS pdim, " +
      s"CASE WHEN MAX(vlen) = $d THEN CAST(SUM(sgn * q) AS BIGINT) END AS y " +
      "FROM q8 JOIN sg ON sg.i = q8.dim GROUP BY 1, 2)"
  }

  /** knn_project oracle — exact long L2 ranking in projected space;
    * shared by knn_project_recall's approx side.
    */
  private lazy val KnnProjSql: String =
    s"WITH $RpProjCte, " +
      "s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
      "CAST(SUM((q.y - c.y) * (q.y - c.y)) AS BIGINT) AS pd2 " +
      s"FROM pj q JOIN pj c ON q.vec_id < ${Similarity.DefaultQueries} " +
      "AND c.vec_id <> q.vec_id AND c.pdim = q.pdim GROUP BY 1, 2), " +
      "r AS (SELECT query_id, neighbor_id, pd2, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY pd2 ASC, neighbor_id ASC) AS rnk FROM s) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, pd2 " +
      s"FROM r WHERE rnk <= ${Similarity.DefaultK}"

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

  /** events_zorder oracle — Morton-bucket zone maps; shared by the
    * pruning oracle's z side.
    */
  private lazy val ZZoneMapSql: String = {
    val cut = 1L << (2 * graft.sources.Layout.ZBits -
      graft.sources.Layout.ZBucketBits)
    s"WITH $ZGridCte, " +
      s"z AS (SELECT ${mortonSql("ub", "tb")} // $cut AS bucket, " +
      "user_id, us FROM g) " +
      "SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_events, " +
      "MIN(user_id) AS min_user, MAX(user_id) AS max_user, " +
      "MIN(us) AS min_us, MAX(us) AS max_us FROM z GROUP BY bucket"
  }

  /** knn_brute_l2_trunc oracle — the exact-L2 ranking over the vector
    * prefix; shared by knn_trunc_recall's approx side.
    */
  private lazy val KnnBruteL2TruncSql: String =
    "WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
      "q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e " +
      s"WHERE vec_id < ${Similarity.DefaultQueries}), " +
      "s AS (SELECT q.query_id, e.vec_id AS neighbor_id, " +
      s"CAST(floor(${l2PrefixSql("q.q_emb", "e.embedding", Similarity.TruncDims)} " +
      "* 1000000.0) AS BIGINT) AS l2_fp " +
      "FROM e, q WHERE e.vec_id <> q.query_id), " +
      "r AS (SELECT query_id, neighbor_id, l2_fp, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY l2_fp ASC, neighbor_id ASC) AS rnk FROM s) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, l2_fp " +
      s"FROM r WHERE rnk <= ${Similarity.DefaultK}"

  /** knn_brute_l2 oracle — exact squared-L2 ranking, full-width fold. */
  private lazy val KnnBruteL2Sql: String =
    "WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
      "q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e " +
      s"WHERE vec_id < ${Similarity.DefaultQueries}), " +
      "s AS (SELECT q.query_id, e.vec_id AS neighbor_id, " +
      s"CAST(floor(${l2BlockSql("q.q_emb", "e.embedding", 0, 1)} " +
      "* 1000000.0) AS BIGINT) AS l2_fp " +
      "FROM e, q WHERE e.vec_id <> q.query_id), " +
      "r AS (SELECT query_id, neighbor_id, l2_fp, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY l2_fp ASC, neighbor_id ASC) AS rnk FROM s) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, l2_fp " +
      s"FROM r WHERE rnk <= ${Similarity.DefaultK}"

  /** knn_sq8 oracle — the embedding_quantize grid/code CTEs, each
    * vector reconstructed as `mn + code·(mx−mn)/255.0` (the err_ppm
    * chain), then the knnBruteL2 fold over (query − recon)²; shared by
    * knn_sq8_recall's approx side.
    */
  private lazy val KnnSq8Sql: String =
    knnSq8SqlFor(Similarity.DefaultK, Similarity.DefaultQueries)

  /** Parameterized SQ8-serve SQL: top-`k` per query over queries
    * `vec_id < nq`, corpus optionally restricted to
    * `vec_id >= minCorpusId` (the hybrid gate's corpus split).
    */
  private def knnSq8SqlFor(k: Int, nq: Long,
      minCorpusId: Long = -1L): String =
    "WITH x AS (SELECT vec_id, embedding, " +
      "unnest(generate_series(1, len(embedding))) AS i FROM embeddings), " +
      "v AS (SELECT vec_id, i - 1 AS dim, " +
      "CAST(embedding[i] AS DOUBLE) AS x FROM x), " +
      "st AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM v GROUP BY dim), " +
      "q8 AS (SELECT vec_id, v.dim, mn, mx, " +
      "CASE WHEN mx > mn THEN LEAST(CAST(floor((x - mn) * 255.0 / (mx - mn)) " +
      "AS BIGINT), 255) ELSE 0 END AS code FROM v JOIN st ON st.dim = v.dim), " +
      "rec AS (SELECT vec_id, dim, " +
      "mn + CAST(code AS DOUBLE) * (mx - mn) / 255.0 AS rx FROM q8), " +
      "ra AS (SELECT vec_id, list(rx ORDER BY dim) AS rv FROM rec " +
      "GROUP BY vec_id), " +
      "qq AS (SELECT vec_id AS query_id, embedding AS q_emb " +
      s"FROM embeddings WHERE vec_id < $nq), " +
      "sc AS (SELECT qq.query_id, ra.vec_id AS neighbor_id, " +
      "CAST(floor(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, len(q_emb) + 1), " +
      "i -> (CAST(q_emb[i] AS DOUBLE) - rv[i]) * " +
      "(CAST(q_emb[i] AS DOUBLE) - rv[i]))), " +
      "(acc, y) -> acc + y) * 1000000.0) AS BIGINT) AS l2_fp " +
      "FROM ra, qq WHERE ra.vec_id <> qq.query_id" +
      (if (minCorpusId >= 0L) s" AND ra.vec_id >= $minCorpusId" else "") +
      "), " +
      "r AS (SELECT query_id, neighbor_id, l2_fp, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY l2_fp ASC, neighbor_id ASC) " +
      "AS rnk FROM sc) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, " +
      s"l2_fp FROM r WHERE rnk <= $k"

  /** Shared CTE chain for the binary-quantization oracles: the
    * sq8Stats grid → per-dim midpoint sign bits → 32-bit packed words
    * per vector (Similarity.binaryCodes' exact layout: word w =
    * Σ_{i<32} bit(32w+i)·2^i, vectors whose width disagrees with the
    * grid dropped via the lv gate) → the Hamming scan over
    * popcount(xor(word pairs)).
    */
  private lazy val HammingScanCte: String = {
    val wb = Similarity.BinaryWordBits
    "x AS (SELECT vec_id, embedding, " +
      "unnest(generate_series(1, len(embedding))) AS i FROM embeddings), " +
      "v AS (SELECT vec_id, i - 1 AS dim, " +
      "CAST(embedding[i] AS DOUBLE) AS x FROM x), " +
      "st AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM v GROUP BY dim), " +
      "lv AS (SELECT vec_id FROM embeddings " +
      "WHERE len(embedding) = (SELECT COUNT(*) FROM st)), " +
      "b AS (SELECT v.vec_id, v.dim, " +
      "CASE WHEN x > (mn + (mx - mn) / 2.0) THEN 1 ELSE 0 END AS bit " +
      "FROM v JOIN st ON st.dim = v.dim JOIN lv ON lv.vec_id = v.vec_id), " +
      s"w AS (SELECT vec_id, dim // $wb AS word, " +
      "CAST(SUM(CAST(bit AS BIGINT) << " +
      s"CAST(dim % $wb AS INTEGER)) AS BIGINT) AS bits " +
      "FROM b GROUP BY 1, 2), " +
      "wa AS (SELECT vec_id, list(bits ORDER BY word) AS wv FROM w " +
      "GROUP BY vec_id), " +
      "qq AS (SELECT vec_id AS query_id, wv AS qv FROM wa " +
      s"WHERE vec_id < ${Similarity.DefaultQueries}), " +
      "sc AS (SELECT qq.query_id, wa.vec_id AS neighbor_id, " +
      "CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      "list_transform(range(1, len(qv) + 1), " +
      "i -> CAST(bit_count(xor(qv[i], wa.wv[i])) AS BIGINT))), " +
      "(acc, y) -> acc + y) AS BIGINT) AS hamming " +
      "FROM wa, qq WHERE wa.vec_id <> qq.query_id)"
  }

  /** embedding_binarize oracle — the packed-word audit rows. */
  private lazy val BinarizeSql: String =
    s"WITH $HammingScanCte " +
      "SELECT vec_id, CAST(word AS BIGINT) AS word, bits FROM w"

  /** knn_hamming oracle — top-k per query by (hamming, neighbor_id)
    * over the packed-word scan; shared by knn_hamming_recall.
    */
  private lazy val KnnHammingSql: String =
    s"WITH $HammingScanCte, " +
      "r AS (SELECT query_id, neighbor_id, hamming, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) " +
      "AS rnk FROM sc) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, " +
      s"hamming FROM r WHERE rnk <= ${Similarity.DefaultK}"

  /** knn_hamming_rerank oracle — the Hamming shortlist at
    * HammingRerankCand depth, then the exact knnBruteL2 fold over only
    * the candidates' raw embeddings.
    */
  private lazy val KnnHammingRerankSql: String =
    s"WITH $HammingScanCte, " +
      "hr AS (SELECT query_id, neighbor_id, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) " +
      "AS hrnk FROM sc), " +
      "cd AS (SELECT query_id, neighbor_id FROM hr " +
      s"WHERE hrnk <= ${Similarity.HammingRerankCand}), " +
      "sc2 AS (SELECT cd.query_id, cd.neighbor_id, " +
      s"CAST(floor(${l2BlockSql("qv.embedding", "nv.embedding", 0, 1)} " +
      "* 1000000.0) AS BIGINT) AS l2_fp FROM cd " +
      "JOIN embeddings qv ON qv.vec_id = cd.query_id " +
      "JOIN embeddings nv ON nv.vec_id = cd.neighbor_id), " +
      "r2 AS (SELECT query_id, neighbor_id, l2_fp, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY l2_fp ASC, neighbor_id ASC) " +
      "AS rnk FROM sc2) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, " +
      s"l2_fp FROM r2 WHERE rnk <= ${Similarity.DefaultK}"

  /** knn_pq oracle — corpus codes (the embedding_pq argmin), per-query
    * block×code LUTs floored per cell, ADC = exact integer SUM of the
    * `blocks` looked-up cells; shared by knn_pq_recall's approx side.
    */
  private lazy val KnnPqSql: String = {
    val blocks = Similarity.PqBlocks
    val codeBranches = (0 until blocks).map { b =>
      s"SELECT e.vec_id, $b AS block, c.code, " +
        s"${l2BlockSql("e.embedding", "c.c_emb", b, blocks)} AS d2 FROM e, c"
    }.mkString(" UNION ALL ")
    val lutBranches = (0 until blocks).map { b =>
      s"SELECT q.query_id, $b AS block, c.code, " +
        s"CAST(floor(${l2BlockSql("q.q_emb", "c.c_emb", b, blocks)} " +
        "* 1000000.0) AS BIGINT) AS d_fp FROM q, c"
    }.mkString(" UNION ALL ")
    s"WITH $PqCodebookCte, " +
      s"dd AS ($codeBranches), " +
      "codes AS (SELECT vec_id, block, code FROM (SELECT vec_id, block, code, " +
      "row_number() OVER (PARTITION BY vec_id, block ORDER BY d2 ASC, code ASC) AS rn " +
      "FROM dd) WHERE rn = 1), " +
      "q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e " +
      s"WHERE vec_id < ${Similarity.DefaultQueries}), " +
      s"lut AS ($lutBranches), " +
      "adc AS (SELECT l.query_id, s.vec_id AS neighbor_id, " +
      "CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp FROM codes s " +
      "JOIN lut l ON l.block = s.block AND l.code = s.code " +
      "WHERE s.vec_id <> l.query_id GROUP BY 1, 2), " +
      "r AS (SELECT query_id, neighbor_id, adc_fp, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY adc_fp ASC, neighbor_id ASC) AS rnk FROM adc) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, adc_fp " +
      s"FROM r WHERE rnk <= ${Similarity.DefaultK}"
  }

  /** LSH signature (mirrors VectorFunctions.lshSignature / the
    * HyperplaneSig kernel): per plane j, the multiply-mod-prime +
    * xor-shift component mixer — constants come FROM VectorExprUtil so
    * the three copies cannot drift.
    */
  private def lshSigSql(v: String, nPlanes: Int = Similarity.LshSigBits): String = {
    import graft.functions.VectorExprUtil.{PlaneM31, PlaneMul1, PlaneMul2, PlaneMul3}
    (0 until nPlanes).map { j =>
      val h1 = s"((($j * 64 + i + 1)::BIGINT * $PlaneMul1) % $PlaneM31)"
      val h2 = s"xor($h1, $h1 >> 15)"
      val h3 = s"(($h2 * $PlaneMul2) % $PlaneM31)"
      val h4 = s"xor($h3, $h3 >> 13)"
      val h5 = s"(($h4 * $PlaneMul3) % $PlaneM31)"
      val comp = s"($h5 / $PlaneM31.0 - 0.5)"
      val proj = s"list_reduce(list_prepend(0.0, list_transform(" +
        s"range(0, len($v)), i -> $v[i+1]::DOUBLE * $comp)), (acc, x) -> acc + x)"
      s"(CASE WHEN ($proj) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** Band j of an LSH signature (mirrors Similarity.bandCols): bands
    * sit at the FIXED 15-bit stride; `bb` — a column in scope holding
    * the corpus-adaptive width — masks the low bits actually compared.
    */
  private def lshBandSql(sig: String, j: Int, bb: String): String =
    s"(($sig >> ${j * Similarity.LshBandStride}) & ((1::BIGINT << $bb) - 1))"

  /** 1-row CTE body computing the corpus-adaptive band width `bb` from
    * COUNT(*) — the SQL twin of Similarity.bandBitsFor. The clamped
    * ceil-log2 is integer threshold counting
    * (floor + Σ_k [buckets > 2^k]), never floating log2, so the two
    * formulas agree on every n (property-tested in PlanSpec).
    */
  private def lshBandBitsSql(src: String): String = {
    val steps = (Similarity.LshBandBits until Similarity.LshBandStride)
      .map(k => s"(CASE WHEN buckets > ${1L << k} THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"SELECT (${Similarity.LshBandBits} + $steps) AS bb FROM " +
      s"(SELECT GREATEST(1, COUNT(*) // ${Similarity.LshTargetBucket}) " +
      s"AS buckets FROM $src)"
  }


  /** MinHash-LSH CTE chain (expects an `hs` CTE in scope) + the
    * verified-pairs SELECT over it — shared by dedup_minhash and the
    * end-to-end dedup_survivors oracle.
    */
  /** MinHash/LSH candidate CTEs with a parameterized "a precedes b"
    * predicate over the banded aliases `a`/`b` — `doc_a` is always the
    * earlier side. The plain pair queries order by doc_id; the
    * incremental-admission oracle orders by (epoch, doc_id).
    */
  private def minhashCtesEarlier(earlier: String): String = {
    val mhCols = Dedup.MinhashAB.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h * $a + $b) % ${Dedup.MinhashP})) AS mh$i"
    }.mkString(", ")
    val bandCols = (0 until Dedup.LshBands).map { j =>
      (0 until Dedup.LshRows)
        .map(r => s"CAST(mh${j * Dedup.LshRows + r} AS VARCHAR)")
        .mkString("", " || ',' || ", s" AS band$j")
    }.mkString(", ")
    val bandJoins = (0 until Dedup.LshBands).map { j =>
      s"SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a " +
        s"JOIN banded b ON a.band$j = b.band$j AND ($earlier)"
    }.mkString(" UNION ALL ")
    "nz AS (SELECT doc_id, hs FROM hs WHERE len(hs) > 0), " +
      s"sig AS (SELECT doc_id, hs, $mhCols FROM nz), " +
      s"banded AS (SELECT *, $bandCols FROM sig), " +
      s"cand AS (SELECT DISTINCT doc_a, doc_b FROM ($bandJoins))"
  }

  private val MinhashCtes: String = minhashCtesEarlier("a.doc_id < b.doc_id")

  private val MinhashPairsSelect: String =
    "SELECT c.doc_a, c.doc_b, " +
      "CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS shared, " +
      "CAST(len(ha.hs) AS BIGINT) AS na, CAST(len(hb.hs) AS BIGINT) AS nb " +
      "FROM cand c JOIN nz ha ON ha.doc_id = c.doc_a " +
      "JOIN nz hb ON hb.doc_id = c.doc_b " +
      "WHERE len(list_intersect(ha.hs, hb.hs)) * 5 >= " +
      "(len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) * 4"

  /** The quality-score formula in oracle SQL, over a CTE exposing
    * `nt` (tokens), `ns` (non-space chars), `st` (stopwords) — single
    * source for text_quality, text_quota and dedup_survivors_best so
    * the float op ORDER cannot drift between them (same ops in the
    * same order ⇒ bit-identical doubles ⇒ identical argmax).
    */
  private val QualitySqlExpr: String =
    "LEAST(nt, 100) / 100.0 * 0.6 + st / GREATEST(nt, 1) * 0.2 + " +
      "(CASE WHEN ns / GREATEST(nt, 1) >= 3.0 AND ns / GREATEST(nt, 1) <= 8.0 " +
      "THEN 0.2 ELSE 0.0 END)"

  /** The trained-quality-filter CTE chain — `TextOps.qualityModelFit`
    * unrolled (the `IvfTrainCtes`/`lloydRoundsCtes` discipline):
    * integer feature/label projection `qf` over the full corpus, the
    * hash-prefix training sample `qs`, the per-dim Jacobi divisors
    * `qdiv` (max(1, c·Σx_j²) over the sample), zero weights, then
    * `QmEpochs` exact LMS gradient rounds — each epoch one
    * residual-weighted SUM per dim (order-free integers, so DuckDB
    * and the driver loop produce the same longs) stepped by
    * `// D_j` (truncation toward zero on both engines, verified on
    * negatives). Final weights land in `qw{QmEpochs}`.
    */
  private lazy val QmTrainCtes: String = {
    val epochs = TextOps.QmEpochs
    val dims = TextOps.QmDims
    val epochCtes = (1 to epochs).map { e =>
      s"qd$e AS (SELECT " +
        (0 until dims).map(j =>
          s"CAST(COALESCE(SUM((qs.y * ${TextOps.QmTarget} - (" +
            (0 until dims).map(i => s"w.w$i * qs.x$i").mkString(" + ") +
            s")) * qs.x$j), 0) AS BIGINT) AS g$j")
          .mkString(", ") +
        s" FROM qs, qw${e - 1} w), " +
        s"qw$e AS MATERIALIZED (SELECT " +
        (0 until dims).map(j =>
          s"w.w$j + d.g$j // v.d$j AS w$j").mkString(", ") +
        s" FROM qw${e - 1} w, qd$e d, qdiv v)"
    }.mkString(", ")
    "qb AS (SELECT doc_id, " +
      "CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nt, " +
      "CAST(len(regexp_extract_all(text, '\\S')) AS BIGINT) AS ns, " +
      "CAST(len(regexp_extract_all(text, '[.,;:!?''\"()\\[\\]{}-]')) " +
      "AS BIGINT) AS np, " +
      "CAST(len(regexp_extract_all(text, " +
      s"'${graft.functions.TextFunctions.StopwordsRe}')) AS BIGINT) AS st, " +
      "CAST(length(text) AS BIGINT) AS nc FROM documents), " +
      "qf AS MATERIALIZED (SELECT doc_id, CAST(1000 AS BIGINT) AS x0, " +
      "LEAST(nt, 1000) AS x1, st * 1000 // GREATEST(nt, 1) AS x2, " +
      "LEAST(ns * 100 // GREATEST(nt, 1), 2000) AS x3, " +
      "LEAST(np * 1000 // GREATEST(nt, 1), 2000) AS x4, " +
      "CAST(CASE WHEN ns >= 3 * GREATEST(nt, 1) " +
      "AND ns <= 8 * GREATEST(nt, 1) THEN 1000 ELSE 0 END " +
      "AS BIGINT) AS x5, " +
      "CAST(CASE WHEN 6 * LEAST(nt, 100) * GREATEST(nt, 1) + 200 * st " +
      "+ 200 * GREATEST(nt, 1) * (CASE WHEN ns >= 3 * GREATEST(nt, 1) " +
      "AND ns <= 8 * GREATEST(nt, 1) THEN 1 ELSE 0 END) " +
      ">= 500 * GREATEST(nt, 1) THEN 1 ELSE -1 END AS BIGINT) AS y " +
      "FROM qb), " +
      "qs AS MATERIALIZED (SELECT * FROM (SELECT qf.*, row_number() " +
      s"OVER (ORDER BY ${phSql("CAST(doc_id AS VARCHAR)")}, doc_id) " +
      s"AS rn FROM qf) WHERE rn <= ${TextOps.QmSampleCap}), " +
      "qdiv AS MATERIALIZED (SELECT " +
      (0 until dims).map(j =>
        s"GREATEST(1, CAST(${TextOps.QmStepScale} * SUM(x$j * x$j) " +
          s"AS BIGINT)) AS d$j").mkString(", ") +
      " FROM qs), " +
      "qw0 AS (SELECT " +
      (0 until dims).map(j => s"CAST(0 AS BIGINT) AS w$j")
        .mkString(", ") + "), " +
      epochCtes
  }

  /** The fitted-weight dot product over `qf` aliased `f` and the
    * final weight row aliased `w` — shared by the scored and
    * agreement oracles.
    */
  private def qmScoreSql: String =
    (0 until TextOps.QmDims).map(j => s"w.w$j * f.x$j").mkString(" + ")

  /** The domain-governance CTE prefix: the messy-URL fixture
    * (`TextOps.withFixtureUrl` restated) and the anchored-regex host
    * normalization (`TextOps.urlHost` restated — every pattern
    * matches at most once at position 0, so Spark replace-all and
    * DuckDB replace-first coincide). Exposes `h(doc_id, lang, text,
    * host)`.
    */
  private lazy val DomainHostCtes: String =
    "uf AS (SELECT doc_id, lang, text, source, " +
      "CASE WHEN length(source) % 2 = 0 THEN '.example.com' " +
      "ELSE '.dataset.org' END AS sfx FROM documents), " +
      "u AS (SELECT doc_id, lang, text, CASE CAST(doc_id % 4 AS INTEGER) " +
      "WHEN 0 THEN 'https://www.' || source || sfx || '/page/' || " +
      "CAST(doc_id AS VARCHAR) " +
      "WHEN 1 THEN 'http://' || source || upper(sfx) || ':8080/x?q=' || " +
      "CAST(doc_id AS VARCHAR) " +
      "WHEN 2 THEN 'HTTPS://user:pw@' || upper(source) || sfx || '/' " +
      "ELSE '//' || source || sfx END AS url FROM uf), " +
      "h AS (SELECT doc_id, lang, text, " +
      "regexp_replace(lower(regexp_extract(regexp_replace(" +
      "regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://|^//', ''), " +
      "'^[^/?#]*@', ''), '^[^:/?#]+', 0)), '^www\\.', '') AS host FROM u)"

  /** docs_profile/events_profile oracle builder: one UNION ALL branch
    * per column. `numExpr` = Some(numeric view) for numeric/timestamp
    * columns (min/max over it), None for string columns (NULL
    * min/max); the distinct/null counts run over the same view the
    * Spark side profiles.
    */
  private def profileSql(table: String,
      cols: Seq[(String, Option[String])]): String =
    cols.map { case (c, numExpr) =>
      val v = numExpr.getOrElse(c)
      val (mn, mx) = numExpr match {
        case Some(e) => (s"CAST(MIN($e) AS DOUBLE)", s"CAST(MAX($e) AS DOUBLE)")
        case None => ("CAST(NULL AS DOUBLE)", "CAST(NULL AS DOUBLE)")
      }
      s"SELECT '$c' AS \"column\", CAST(COUNT(*) AS BIGINT) AS n, " +
        s"CAST(COUNT(*) - COUNT($v) AS BIGINT) AS n_null, " +
        s"CAST(COUNT(DISTINCT $v) AS BIGINT) AS n_distinct, " +
        // HAVING aligns the empty-table edge with the Spark side: an
        // empty input profiles to ZERO rows (no groups survive the
        // unpivot), not to ncols rows of zeros
        s"$mn AS min_num, $mx AS max_num FROM $table HAVING COUNT(*) > 0"
    }.mkString(" UNION ALL ")

  /** dedup_ngram oracle — shared by dedup_clusters (its pairs input). */
  private val NgramPairsSql: String =
    s"WITH $HsCte, " +
      "sh AS (SELECT doc_id, unnest(hs) AS h FROM hs), " +
      "sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id), " +
      "shp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared " +
      "FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
      "SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared, " +
      "CAST(sa.n AS BIGINT) AS na, CAST(sb.n AS BIGINT) AS nb " +
      "FROM shp JOIN sizes sa ON sa.doc_id = doc_a " +
      "JOIN sizes sb ON sb.doc_id = doc_b " +
      "WHERE shared * 5 >= (sa.n + sb.n - shared) * 4"

  /** embedding_neardup oracle — shared by embedding_clusters (its
    * pairs input), exactly as the ngram oracle feeds dedup_clusters.
    */
  /** UNTHRESHOLDED LSH candidate pair cosines — the shared core of
    * EmbNearDupSql (which applies the 0.30 cut) and the
    * embedding_threshold_curve histogram (which bins everything).
    */
  private val EmbCandCosSql: String = {
    val bandJoins = (0 until Similarity.LshBands).map { j =>
      s"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM e a JOIN e b " +
        s"ON ${lshBandSql("a.sig", j, "a.bb")} = ${lshBandSql("b.sig", j, "b.bb")} " +
        "AND a.vec_id < b.vec_id"
    }.mkString(" UNION ALL ")
    s"WITH bbq AS (${lshBandBitsSql("embeddings")}), " +
      s"e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS n2, " +
      s"${lshSigSql("embedding")} AS sig, bb FROM embeddings, bbq), " +
      s"cand AS (SELECT DISTINCT vec_a, vec_b FROM ($bandJoins)) " +
      "SELECT c.vec_a, c.vec_b, " +
      s"${dotSql("ea.embedding", "eb.embedding")} / (sqrt(ea.n2) * sqrt(eb.n2)) AS cosine " +
      "FROM cand c JOIN e ea ON ea.vec_id = c.vec_a " +
      "JOIN e eb ON eb.vec_id = c.vec_b"
  }

  private val EmbNearDupSql: String =
    s"SELECT vec_a, vec_b, cosine FROM ($EmbCandCosSql) cc " +
      "WHERE cosine >= 0.30"

  /** knn_brute oracle body over an arbitrary query-set predicate —
    * the `vec_id < 10` instance is the knn_brute gate (shared by
    * knn_recall's exact side); the all-queries instance (`TRUE`) is
    * knn_graph_recall's exact side.
    */
  private def knnBruteSqlFor(queryPred: String): String =
    s"WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS n2 FROM embeddings), " +
      s"q AS (SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2 FROM e WHERE $queryPred), " +
      "scored AS (SELECT query_id, e.vec_id AS neighbor_id, " +
      s"${dotSql("q_emb", "e.embedding")} / (sqrt(q_n2) * sqrt(e.n2)) AS cosine " +
      "FROM e, q WHERE e.vec_id <> q.query_id), " +
      "r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM scored) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, cosine " +
      "FROM r WHERE rnk <= 5"

  private val KnnBruteSql: String = knnBruteSqlFor("vec_id < 10")

  /** text_bm25 oracle — the same all-integer fixed-point BM25 as
    * `TextOps.bm25` (constants spliced from the SAME vals; idf via
    * `length(bin(...))` exactly as Spark's `bin`, both engines emit
    * minimal-width binary). Shared so a future fusion gate can splice
    * the keyword ranking without drift.
    */
  /** text_surprisal oracle — the full per-doc statement, shared
    * whole by text_quality_calibration.
    */
  private val SurprisalSql: String =
    ("WITH t AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS tk " +
      "FROM documents), " +
      "ix AS (SELECT doc_id, tk, unnest(generate_series(1, len(tk) - 1)) AS i " +
      "FROM t WHERE len(tk) >= 2), " +
      "bg AS (SELECT doc_id, tk[i] AS w1, tk[i + 1] AS w2 FROM ix), " +
      "bi AS (SELECT w1, w2, COUNT(*)::BIGINT AS c12 FROM bg GROUP BY 1, 2), " +
      "lm AS (SELECT bi.w1, bi.w2, bi.c12, u.c1 FROM bi JOIN " +
      "(SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM bi GROUP BY 1) u " +
      "USING (w1)), " +
      "sc AS (SELECT doc_id, length(bin(c1)) - length(bin(c12)) AS surp " +
      "FROM bg JOIN lm USING (w1, w2)), " +
      "per AS (SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams, " +
      "CAST(SUM(surp) AS BIGINT) AS surp_bits FROM sc GROUP BY 1) " +
      "SELECT d.doc_id, COALESCE(per.n_bigrams, 0) AS n_bigrams, " +
      "COALESCE(per.surp_bits, 0) AS surp_bits, " +
      "CAST(COALESCE(per.surp_bits * 1000000 // per.n_bigrams, -1) AS BIGINT) " +
      "AS surp_ppm FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id")

  /** `postingCap` > 0 restricts scoring contributions to each token's
    * top-`cap` postings by (tf desc, doc_id asc) — the static
    * index-pruning twin of `bm25FromIndex` serving from a
    * depth-capped stored index; df stays the FULL document frequency
    * (the index stores true df on every row), so each surviving
    * posting's contribution is unchanged and a capped doc's score is
    * a partial sum of its full score.
    */
  /** The shared BM25 CTE core (corpus/tok/tf/lens/stats/dfr/idf/qt —
    * no WITH prefix) used by bm25SqlFor and Bm25PrfSql.
    */
  private def bm25CoreCtes: String = {
    val nq = TextOps.Bm25Queries
    s"corpus AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS tk " +
      s"FROM documents WHERE doc_id >= $nq), " +
      "tok AS (SELECT doc_id, unnest(tk) AS token FROM corpus), " +
      "tf AS (SELECT doc_id, token, COUNT(*)::BIGINT AS tf FROM tok GROUP BY 1, 2), " +
      "lens AS (SELECT doc_id, len(tk)::BIGINT AS len_d FROM corpus), " +
      // degenerate-corpus guard mirroring the operator's
      // max(1, ...) / nDocs==0 branches: an empty or zero-token corpus
      // must yield avglen_ppm = 1, not NULL/division-by-zero
      "stats AS (SELECT COUNT(*)::BIGINT AS n_docs, " +
      "CASE WHEN COUNT(*) = 0 THEN 1 ELSE GREATEST(1, " +
      "CAST(SUM(len_d) AS BIGINT) * 1000000 // COUNT(*)) END " +
      "AS avglen_ppm FROM lens), " +
      "dfr AS (SELECT token, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1), " +
      "idf AS (SELECT token, length(bin(CAST((2 * (s.n_docs - df) + 1) // " +
      "(2 * df + 1) + 1 AS BIGINT)))::BIGINT AS idf_bits FROM dfr, stats s), " +
      "qt AS (SELECT DISTINCT query_id, token FROM (SELECT doc_id AS query_id, " +
      "unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents " +
      s"WHERE doc_id < $nq))"
  }

  /** One BM25 scoring tail (contrib/sum CTEs, unterminated — callers
    * append the ranking) of `qtRel` against `tfSrc`, writing the
    * summed relation as `scName`.
    */
  private def bm25ScoreCtes(tfSrc: String, qtRel: String,
      scName: String): String = {
    val k1 = TextOps.Bm25K1pm
    val b = TextOps.Bm25Bpm
    s"con$scName AS (SELECT $qtRel.query_id, $tfSrc.doc_id, " +
      s"idf.idf_bits * ($tfSrc.tf * ($k1 + 1000) * 1000 * 1000000 // " +
      s"($tfSrc.tf * 1000000 + $k1 * (1000 - $b) + " +
      s"$k1 * $b * (l.len_d * 1000000000 // s.avglen_ppm) // 1000)) AS contrib " +
      s"FROM $tfSrc JOIN $qtRel USING (token) JOIN idf USING (token) " +
      s"JOIN lens l ON l.doc_id = $tfSrc.doc_id, stats s), " +
      s"$scName AS (SELECT query_id, doc_id, " +
      s"CAST(SUM(contrib) AS BIGINT) AS score FROM con$scName GROUP BY 1, 2)"
  }

  private def bm25SqlFor(k: Int, postingCap: Long = 0L): String = {
    val candCte = if (postingCap <= 0L) "" else
      "tfr AS (SELECT token, doc_id, tf, row_number() OVER " +
        "(PARTITION BY token ORDER BY tf DESC, doc_id ASC) AS prn FROM tf), " +
        s"tfc AS (SELECT token, doc_id, tf FROM tfr WHERE prn <= $postingCap), "
    val tfSrc = if (postingCap <= 0L) "tf" else "tfc"
    s"WITH $bm25CoreCtes, " + candCte +
      bm25ScoreCtes(tfSrc, "qt", "sc") + ", " +
      "r AS (SELECT query_id, doc_id, score, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk FROM sc) " +
      s"SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", doc_id, score " +
      s"FROM r WHERE rnk <= $k"
  }

  /** text_bm25_prf oracle — the bm25 core + first-pass ranking, the
    * feedback-doc term pool minus original query terms ranked by
    * Σtf × idf_bits (full-vocabulary dfr = the operator's true-df
    * values), top-PrfExpansionTerms per query joined back, second
    * scoring pass over the expanded term set. With `postingCap` > 0
    * every corpus-side relation (both scoring passes AND the
    * feedback-doc term pool) reads the depth-capped tfc instead — the
    * stored-index twin `bm25PrfFromIndex` serves: a feedback doc's
    * terms are the postings that RETAINED it, idf stays true-df (the
    * index stores full df on every row).
    */
  private lazy val Bm25PrfSql: String = bm25PrfSqlFor()

  private def bm25PrfSqlFor(postingCap: Long = 0L): String = {
    val fb = TextOps.PrfFeedbackDocs
    val ex = TextOps.PrfExpansionTerms
    val candCte = if (postingCap <= 0L) "" else
      "tfr AS (SELECT token, doc_id, tf, row_number() OVER " +
        "(PARTITION BY token ORDER BY tf DESC, doc_id ASC) AS prn FROM tf), " +
        s"tfc AS (SELECT token, doc_id, tf FROM tfr WHERE prn <= $postingCap), "
    val tfSrc = if (postingCap <= 0L) "tf" else "tfc"
    s"WITH $bm25CoreCtes, " + candCte +
      bm25ScoreCtes(tfSrc, "qt", "sc") + ", " +
      "fbr AS (SELECT query_id, doc_id, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk " +
      "FROM sc), " +
      s"fbd AS (SELECT query_id, doc_id FROM fbr WHERE rnk <= $fb), " +
      s"cand AS (SELECT f.query_id, $tfSrc.token, " +
      s"CAST(SUM($tfSrc.tf) AS BIGINT) AS fbtf FROM $tfSrc " +
      s"JOIN fbd f ON f.doc_id = $tfSrc.doc_id GROUP BY 1, 2), " +
      "exr AS (SELECT c.query_id, c.token, c.fbtf * i.idf_bits AS w " +
      "FROM cand c JOIN idf i USING (token) " +
      "LEFT JOIN qt ON qt.query_id = c.query_id AND qt.token = c.token " +
      "WHERE qt.token IS NULL), " +
      "exp AS (SELECT query_id, token FROM (SELECT query_id, token, " +
      "row_number() OVER (PARTITION BY query_id " +
      s"ORDER BY w DESC, token ASC) AS rn FROM exr) WHERE rn <= $ex), " +
      "qt2 AS (SELECT DISTINCT query_id, token FROM " +
      "(SELECT query_id, token FROM qt " +
      "UNION ALL SELECT query_id, token FROM exp)), " +
      bm25ScoreCtes(tfSrc, "qt2", "sc2") + ", " +
      "r2 AS (SELECT query_id, doc_id, score, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rnk " +
      "FROM sc2) " +
      s"SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", doc_id, score " +
      s"FROM r2 WHERE rnk <= ${TextOps.Bm25K}"
  }

  /** dedup_fuzzy oracle — normalized key, aligned-segment candidates,
    * levenshtein verify; shared by dedup_fuzzy_clusters' closure.
    */
  private lazy val FuzzyPairsSql: String = {
    val (kc, ns, md) = (Dedup.FuzzyKeyChars, Dedup.FuzzySegments,
      Dedup.FuzzyMaxDist)
    val sl = kc / ns
    val segIdx = (1 to ns).map(_.toString).mkString(", ")
    s"WITH k AS (SELECT doc_id, substring(lower(" +
      "regexp_replace(text, '\\s+', ' ', 'g')), 1, " + kc +
      ") AS key FROM documents), " +
      // the short-key guard: empty segments (position past the key)
      // nominate nothing — mirrors Dedup.fuzzyPairs' filter
      s"seg AS (SELECT doc_id, key, i AS seg_idx, " +
      s"substring(key, (i - 1) * $sl + 1, $sl) AS seg FROM k, " +
      s"unnest([$segIdx]) t(i) " +
      s"WHERE substring(key, (i - 1) * $sl + 1, $sl) <> ''), " +
      "cand AS (SELECT DISTINCT a.doc_id AS id_a, a.key AS key_a, " +
      "b.doc_id AS id_b, b.key AS key_b FROM seg a JOIN seg b " +
      "ON a.seg_idx = b.seg_idx AND a.seg = b.seg " +
      "AND a.doc_id < b.doc_id) " +
      "SELECT id_a, id_b, CAST(levenshtein(key_a, key_b) AS BIGINT) " +
      s"AS dist FROM cand WHERE levenshtein(key_a, key_b) <= $md"
  }

  private val Bm25Sql: String = bm25SqlFor(TextOps.Bm25K)

  /** text_postings oracle — shared verbatim by
    * text_postings_incremental (chained delta ≡ one-shot rebuild is
    * exact, so the full-rebuild SQL gates both).
    */
  private lazy val PostingsSql: String = {
    val k = TextOps.PostingsK
    val minDf = TextOps.PostingsMinDf
    "WITH tk AS (SELECT doc_id, " +
      "unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents), " +
      "tf AS (SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS tf " +
      "FROM tk GROUP BY 1, 2), " +
      "st AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df, " +
      "CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY 1 " +
      s"HAVING COUNT(*) >= $minDf), " +
      "r AS (SELECT token, doc_id, tf, row_number() OVER " +
      "(PARTITION BY token ORDER BY tf DESC, doc_id ASC) AS rnk FROM tf) " +
      "SELECT st.token, df, cf, CAST(rnk AS BIGINT) AS \"rank\", " +
      s"doc_id, tf FROM r JOIN st ON st.token = r.token WHERE rnk <= $k"
  }

  /** search_hybrid oracle: RRF fusion of the bm25 pool and the
    * corpus-restricted cosine pool — both spliced whole so the fusion
    * gate cannot drift from the modality gates' arithmetic.
    */
  private val HybridSql: String = {
    val nq = TextOps.Bm25Queries
    val pool = Similarity.RrfPool
    val base = Similarity.RrfBase
    val k = Similarity.HybridK
    val vecSql =
      s"WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS n2 FROM embeddings), " +
        s"q AS (SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2 FROM e WHERE vec_id < $nq), " +
        "scored AS (SELECT query_id, e.vec_id AS neighbor_id, " +
        s"${dotSql("q_emb", "e.embedding")} / (sqrt(q_n2) * sqrt(e.n2)) AS cosine " +
        s"FROM e, q WHERE e.vec_id >= $nq), " +
        "r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM scored) " +
        "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id " +
        s"FROM r WHERE rnk <= $pool"
    s"WITH kw AS (SELECT query_id, doc_id, \"rank\" AS kw_rank " +
      s"FROM (${bm25SqlFor(pool)})), " +
      "vec AS (SELECT query_id, neighbor_id AS doc_id, \"rank\" AS vec_rank " +
      s"FROM ($vecSql)), " +
      "f AS (SELECT COALESCE(kw.query_id, vec.query_id) AS query_id, " +
      "COALESCE(kw.doc_id, vec.doc_id) AS doc_id, " +
      s"COALESCE(1000000 // ($base + kw_rank), 0) + " +
      s"COALESCE(1000000 // ($base + vec_rank), 0) AS rrf_ppm " +
      "FROM kw FULL OUTER JOIN vec ON vec.query_id = kw.query_id " +
      "AND vec.doc_id = kw.doc_id), " +
      "r AS (SELECT query_id, doc_id, rrf_ppm, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id ASC) AS rnk FROM f) " +
      s"SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", doc_id, " +
      s"CAST(rrf_ppm AS BIGINT) AS rrf_ppm FROM r WHERE rnk <= $k"
  }

  /** knn_filtered oracle — knnBruteSqlFor's shape with the corpus
    * pre-restricted to lang='en' documents (the gate's predicate).
    */
  private val KnnFilteredSql: String =
    s"WITH e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS n2 FROM embeddings), " +
      "al AS (SELECT doc_id FROM documents WHERE lang = 'en'), " +
      "c AS (SELECT e.vec_id, e.embedding, e.n2 FROM e JOIN al ON al.doc_id = e.vec_id), " +
      "q AS (SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2 FROM e WHERE vec_id < 10), " +
      "scored AS (SELECT query_id, c.vec_id AS neighbor_id, " +
      s"${dotSql("q_emb", "c.embedding")} / (sqrt(q_n2) * sqrt(c.n2)) AS cosine " +
      "FROM c, q WHERE c.vec_id <> q.query_id), " +
      "r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM scored) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, cosine " +
      "FROM r WHERE rnk <= 5"

  /** knn_lsh oracle — shared by knn_recall_lsh (its approximate side). */
  private val KnnLshSql: String = {
    val bandJoins = (0 until Similarity.LshBands).map { j =>
      s"SELECT q.query_id, e.vec_id FROM e JOIN q " +
        s"ON ${lshBandSql("e.sig", j, "e.bb")} = ${lshBandSql("q.q_sig", j, "q.bb")} " +
        "AND e.vec_id <> q.query_id"
    }.mkString(" UNION ALL ")
    s"WITH bbq AS (${lshBandBitsSql("embeddings")}), " +
      s"e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS n2, " +
      s"${lshSigSql("embedding")} AS sig, bb FROM embeddings, bbq), " +
      "q AS (SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2, sig AS q_sig, bb " +
      "FROM e WHERE vec_id < 10), " +
      s"cand AS (SELECT DISTINCT query_id, vec_id FROM ($bandJoins)), " +
      "scored AS (SELECT c.query_id, c.vec_id AS neighbor_id, " +
      s"${dotSql("q.q_emb", "e.embedding")} / (sqrt(q.q_n2) * sqrt(e.n2)) AS cosine " +
      "FROM cand c JOIN e ON e.vec_id = c.vec_id " +
      "JOIN q ON q.query_id = c.query_id), " +
      "r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM scored) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, cosine " +
      "FROM r WHERE rnk <= 5"
  }

  /** Recall-gate oracle shape over any (exact, approx) oracle pair:
    * LEFT JOIN the exact top-k pairs against the approximate side's,
    * reduce to one (n_queries, hits, total, recall) row. Integer
    * hits/total divide exactly in doubles → hash-comparable.
    */
  /** Shared CTE chain for the path-count/stress oracles: the
    * recursive min-dist relation `md` per hash-chosen seed, then
    * PathHops forward σ layers (`g0..gH` — σ_i(v) = Σ σ_{i-1}(u)
    * over edges into layer-i vertices) and, for stress, PathHops
    * backward τ layers (`tH..t0` — τ_i(v) = Σ (τ_{i+1}(w) + 1) over
    * DAG successors). Every CTE MATERIALIZED (each is referenced
    * by the next layer AND the final union — DuckDB would otherwise
    * inline them exponentially, the kcore lesson).
    */
  private def pathCtesSql(withTau: Boolean): String = {
    val k = GraphOps.PathSeeds
    val h = GraphOps.PathHops
    val fwd = (1 to h).map { i =>
      s"g$i AS MATERIALIZED (SELECT g${i - 1}.s, e.dst AS v, " +
        s"CAST(SUM(g${i - 1}.sigma) AS BIGINT) AS sigma " +
        s"FROM g${i - 1} JOIN e ON e.src = g${i - 1}.v " +
        s"JOIN md ON md.s = g${i - 1}.s AND md.v = e.dst " +
        s"AND md.dist = $i GROUP BY 1, 2)"
    }.mkString(", ")
    val bwd = if (!withTau) "" else {
      val steps = (h - 1).to(0, -1).map { i =>
        s"t$i AS MATERIALIZED (SELECT l.s, l.v, " +
          s"CAST(COALESCE(SUM(t${i + 1}.tau + 1), 0) AS BIGINT) AS tau " +
          s"FROM (SELECT s, v FROM md WHERE dist = $i) l " +
          "LEFT JOIN e ON e.src = l.v " +
          s"LEFT JOIN t${i + 1} ON t${i + 1}.s = l.s " +
          s"AND t${i + 1}.v = e.dst GROUP BY 1, 2)"
      }.mkString(", ")
      s", t$h AS MATERIALIZED (SELECT s, v, CAST(0 AS BIGINT) AS tau " +
        s"FROM md WHERE dist = $h), " + steps
    }
    s"RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
      "verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
      "UNION ALL SELECT dst FROM e)), " +
      "seeds AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY " +
      s"${phSql("CAST(v AS VARCHAR)")}, v) AS rn FROM verts) " +
      s"WHERE rn <= $k), " +
      "walk(s, v, dd) AS (SELECT v, v, 0 FROM seeds " +
      "UNION SELECT walk.s, e.dst, walk.dd + 1 FROM walk " +
      s"JOIN e ON e.src = walk.v WHERE walk.dd < $h), " +
      "md AS MATERIALIZED (SELECT s, v, MIN(dd) AS dist FROM walk " +
      "GROUP BY 1, 2), " +
      "g0 AS MATERIALIZED (SELECT v AS s, v, CAST(1 AS BIGINT) AS sigma " +
      "FROM seeds), " + fwd + bwd
  }

  /** graph_path_counts oracle — the forward σ layers unioned. */
  private lazy val PathCountsSql: String = {
    val h = GraphOps.PathHops
    val out = (0 to h).map(i =>
      s"SELECT s AS seed, v AS vertex, CAST($i AS BIGINT) AS dist, " +
        s"sigma FROM g$i").mkString(" UNION ALL ")
    s"WITH ${pathCtesSql(withTau = false)} $out"
  }

  /** graph_stress oracle — σ·τ summed per vertex over internal
    * layers (1..H−1; layer H has τ = 0, layer 0 is the source).
    */
  private lazy val StressSql: String = {
    val h = GraphOps.PathHops
    val layers = (1 until h).map(i =>
      s"SELECT g$i.v, g$i.sigma * t$i.tau AS c FROM g$i " +
        s"JOIN t$i ON t$i.s = g$i.s AND t$i.v = g$i.v")
      .mkString(" UNION ALL ")
    s"WITH ${pathCtesSql(withTau = true)} " +
      s"SELECT v AS vertex, CAST(SUM(c) AS BIGINT) AS stress " +
      s"FROM ($layers) GROUP BY v HAVING SUM(c) > 0"
  }

  /** docs_curation oracle — the full cluster→survivor→sample→split
    * chain as one self-contained SELECT; docs_manifest wraps it as a
    * derived table.
    */
  private lazy val CurationSql: String = {
      val floorPpm = graft.operators.TextOps.SampleFloorPpm
      "WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM " +
        s"($NgramPairsSql) t), " +
        "sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u), " +
        "clus AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id " +
        "FROM reach GROUP BY u), " +
        "b AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, $QualitySqlExpr AS quality FROM b), " +
        "w AS (SELECT c.doc_id, row_number() OVER (PARTITION BY c.cluster_id " +
        "ORDER BY q.quality DESC, c.doc_id ASC) AS rn " +
        "FROM clus c JOIN q ON q.doc_id = c.doc_id), " +
        "losers AS (SELECT doc_id FROM w WHERE rn > 1), " +
        "surv AS (SELECT doc_id FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM losers)), " +
        s"k AS (SELECT q.doc_id, GREATEST($floorPpm, LEAST(1000000, " +
        "CAST(FLOOR(quality * 1000000.0) AS BIGINT))) AS keep_ppm " +
        "FROM q JOIN surv ON surv.doc_id = q.doc_id), " +
        "smp AS (SELECT doc_id, keep_ppm FROM k WHERE " +
        s"${phSql("CAST(doc_id AS VARCHAR) || ':smp'")} % 1000000 < keep_ppm) " +
        "SELECT s.doc_id, CASE WHEN " +
        phSql("CAST(COALESCE(cl.cluster_id, s.doc_id) AS VARCHAR)") +
        " % 100 < 10 THEN 'val' ELSE 'train' END AS split, s.keep_ppm " +
        "FROM smp s LEFT JOIN clus cl ON cl.doc_id = s.doc_id"
  }

  /** docs_scd2 oracle — the full change stream's SCD2 history in one
    * window pass; shared VERBATIM by docs_scd2_apply (chained ≡
    * one-shot).
    */
  private lazy val Scd2HistorySql: String = {
    val open = Snapshot.Scd2Open
    "WITH u AS (" +
      "SELECT doc_id, CAST(0 AS BIGINT) AS version, FALSE AS deleted " +
      "FROM documents " +
      "UNION ALL SELECT doc_id, CAST(1 AS BIGINT), FALSE " +
      "FROM documents WHERE doc_id % 5 = 0 " +
      "UNION ALL SELECT doc_id, CAST(2 AS BIGINT), TRUE " +
      "FROM documents WHERE doc_id % 7 = 3), " +
      "h AS (SELECT doc_id, version, deleted, version AS valid_from, " +
      s"COALESCE(LEAD(version) OVER (PARTITION BY doc_id " +
      s"ORDER BY version), $open) AS valid_to FROM u) " +
      "SELECT doc_id, version, deleted, valid_from, valid_to, " +
      s"(valid_to = $open AND NOT deleted) AS is_current FROM h"
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

  private def recallSql(exactSql: String, approxSql: String): String =
    s"WITH ex AS (SELECT query_id, neighbor_id FROM ($exactSql)), " +
      s"ap AS (SELECT query_id, neighbor_id FROM ($approxSql)), " +
      "j AS (SELECT ex.query_id, ex.neighbor_id, " +
      "CASE WHEN ap.query_id IS NULL THEN 0 ELSE 1 END AS hit " +
      "FROM ex LEFT JOIN ap ON ap.query_id = ex.query_id " +
      "AND ap.neighbor_id = ex.neighbor_id) " +
      "SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries, " +
      "CAST(SUM(hit) AS BIGINT) AS hits, " +
      "CAST(COUNT(*) AS BIGINT) AS total, " +
      "CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS recall " +
      "FROM j"

  /** The synthetic (current, changes) pair the docs_merge/docs_diff
    * gates share: rev1 upserts for doc_id%5==0 at version 1,
    * tombstones for doc_id%7==3 at version 2 — versions distinct so
    * the overlap ids resolve deterministically. Mirrored verbatim by
    * MergedSnapshotSql.
    */
  private def mergeFixture(docs: DataFrame): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions.{col, concat, lit}
    val cur = docs.withColumn("version", lit(0L))
      .withColumn("deleted", lit(false))
    val changes = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("text", concat(lit("rev1: "), col("text")))
      .withColumn("version", lit(1L)).withColumn("deleted", lit(false))
      .unionByName(docs.filter(col("doc_id") % 7 === 3)
        .withColumn("version", lit(2L)).withColumn("deleted", lit(true)))
    (cur, changes)
  }

  /** events_sessions oracle — gaps-and-islands twin of session_window;
    * shared by events_session_quantiles (its session source).
    */
  private val SessionsSql: String = {
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
  private val InterArrivalSql: String = {
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
  private val TransitionsSql: String = {
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

  /** docs_merge oracle — the synthetic change batch + latest-wins
    * merge as one relation; shared verbatim by docs_diff (its `after`
    * side). row_number over (version DESC, side DESC) is the SQL twin
    * of mergeLatest's max_by((version, side)) — both resolve each key
    * to the single highest (version, side) row, and the version/side
    * pairs are distinct by construction of the batch.
    */
  private val MergedSnapshotSql: String =
    "SELECT doc_id, text, lang, source, n_chars, version FROM (" +
      "SELECT u.*, row_number() OVER (PARTITION BY doc_id " +
      "ORDER BY version DESC, side DESC) AS rn FROM (" +
      "SELECT doc_id, text, lang, source, n_chars, " +
      "CAST(0 AS BIGINT) AS version, FALSE AS deleted, 0 AS side FROM documents " +
      "UNION ALL SELECT doc_id, 'rev1: ' || text, lang, source, n_chars, " +
      "CAST(1 AS BIGINT), FALSE, 1 FROM documents WHERE doc_id % 5 = 0 " +
      "UNION ALL SELECT doc_id, text, lang, source, n_chars, " +
      "CAST(2 AS BIGINT), TRUE, 1 FROM documents WHERE doc_id % 7 = 3" +
      ") u) WHERE rn = 1 AND NOT deleted"

  /** knn_graph oracle — the EmbNearDupSql candidate machinery (band
    * self-join in canonical lo<hi orientation, DISTINCT) scored once
    * per pair, mirrored, then ranked per query like KnnLshSql.
    */
  private val KnnGraphSql: String = knnGraphSqlFor(Similarity.DefaultK)

  /** Parameterized kNN-graph SQL: per-vector top-`k` over the banded
    * candidates — `k` = DefaultK for the knn_graph gate, BeamGraphDegree
    * for the beam-search adjacency.
    */
  private def knnGraphSqlFor(k: Int, pinnedBits: Int = 0): String = {
    val bandJoins = (0 until Similarity.LshBands).map { j =>
      s"SELECT a.vec_id AS vec_a, b.vec_id AS vec_b FROM e a JOIN e b " +
        s"ON ${lshBandSql("a.sig", j, "a.bb")} = ${lshBandSql("b.sig", j, "b.bb")} " +
        "AND a.vec_id < b.vec_id"
    }.mkString(" UNION ALL ")
    // pinnedBits > 0: the stored-tier width (ingest-pinned, corpus-
    // growth-independent) instead of the corpus-adaptive formula
    val bbqCte =
      if (pinnedBits > 0) s"bbq AS (SELECT $pinnedBits AS bb)"
      else s"bbq AS (${lshBandBitsSql("embeddings")})"
    s"WITH $bbqCte, " +
      s"e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS n2, " +
      s"${lshSigSql("embedding")} AS sig, bb FROM embeddings, bbq), " +
      s"cand AS (SELECT DISTINCT vec_a, vec_b FROM ($bandJoins)), " +
      "h AS (SELECT c.vec_a, c.vec_b, " +
      s"${dotSql("ea.embedding", "eb.embedding")} / (sqrt(ea.n2) * sqrt(eb.n2)) AS cosine " +
      "FROM cand c JOIN e ea ON ea.vec_id = c.vec_a " +
      "JOIN e eb ON eb.vec_id = c.vec_b), " +
      "s AS (SELECT vec_a AS query_id, vec_b AS neighbor_id, cosine FROM h " +
      "UNION ALL SELECT vec_b AS query_id, vec_a AS neighbor_id, cosine FROM h), " +
      "r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM s) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, cosine " +
      s"FROM r WHERE rnk <= $k"
  }

  /** knn_beam oracle — the KnnGraphSql adjacency, then
    * Similarity.BeamRounds beam rounds unrolled (each round: previous
    * beam ∪ its out-neighbors, exact-L2 scored, top-BeamWidth per
    * query by (l2, id)), final top-k of the last scored beam
    * excluding the query itself. Scored CTEs MATERIALIZED (each is
    * referenced by both the next round and the beam cut). Shared by
    * knn_beam_recall's approx side.
    */
  private lazy val KnnBeamSql: String = {
    val beam = Similarity.BeamWidth
    val rounds = Similarity.BeamRounds
    val roundCtes = (1 to rounds).map { i =>
      s"c$i AS (SELECT DISTINCT query_id, vec_id FROM " +
        s"(SELECT query_id, vec_id FROM b${i - 1} " +
        s"UNION ALL SELECT b.query_id, g.dst AS vec_id FROM b${i - 1} b " +
        "JOIN g ON g.src = b.vec_id)), " +
        s"s$i AS MATERIALIZED (SELECT c.query_id, c.vec_id, " +
        s"CAST(floor(${l2BlockSql("q.q_emb", "ne.embedding", 0, 1)} " +
        "* 1000000.0) AS BIGINT) AS l2_fp " +
        s"FROM c$i c JOIN e ne ON ne.vec_id = c.vec_id " +
        "JOIN q ON q.query_id = c.query_id), " +
        s"b$i AS (SELECT query_id, vec_id FROM " +
        "(SELECT query_id, vec_id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY l2_fp ASC, vec_id ASC) AS rn " +
        s"FROM s$i) WHERE rn <= $beam)"
    }.mkString(", ")
    s"WITH g AS MATERIALIZED (SELECT query_id AS src, neighbor_id AS dst " +
      s"FROM (${knnGraphSqlFor(Similarity.BeamGraphDegree)})), " +
      "e AS (SELECT vec_id, embedding FROM embeddings), " +
      "q AS (SELECT vec_id AS query_id, embedding AS q_emb " +
      s"FROM embeddings WHERE vec_id < ${Similarity.DefaultQueries}), " +
      "ent AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER " +
      s"(ORDER BY ${phSql("CAST(vec_id AS VARCHAR)")}, vec_id) AS rn " +
      s"FROM e) WHERE rn <= ${Similarity.BeamEntries}), " +
      "b0 AS (SELECT query_id, ent.vec_id FROM q, ent), " +
      s"$roundCtes, " +
      s"fin AS (SELECT s.query_id, s.vec_id, s.l2_fp FROM s$rounds s " +
      s"JOIN b$rounds b ON b.query_id = s.query_id " +
      "AND b.vec_id = s.vec_id WHERE s.vec_id <> s.query_id), " +
      "r AS (SELECT query_id, vec_id AS neighbor_id, l2_fp, " +
      "row_number() OVER (PARTITION BY query_id " +
      "ORDER BY l2_fp ASC, vec_id ASC) AS rnk FROM fin) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, " +
      s"l2_fp FROM r WHERE rnk <= ${Similarity.DefaultK}"
  }

  /** knn_mmr oracle — brute-L2 shortlist at MmrCandidates depth, the
    * pairwise candidate-distance relation, then DefaultK−1 greedy MMR
    * rounds unrolled: each round anti-joins the selected set, scores
    * remaining candidates by (1000−λ)·min_sel_l2 − λ·l2q, and takes
    * the (score desc, id asc) argmax. MATERIALIZED base/pair CTEs.
    */
  private lazy val KnnMmrSql: String = {
    val cand = Similarity.MmrCandidates
    val lam = Similarity.MmrLambdaPm
    val k = Similarity.DefaultK
    val rounds = (2 to k).map { r =>
      val prev = s"t${r - 1}"
      s"m$r AS (SELECT p.query_id, p.cand_id, MIN(p.pl2) AS msl " +
        s"FROM pp p JOIN $prev t ON t.query_id = p.query_id " +
        "AND t.neighbor_id = p.sel_id GROUP BY 1, 2), " +
        s"s$r AS (SELECT query_id, neighbor_id, l2_fp, " +
        s"CAST($r AS BIGINT) AS rnk FROM (" +
        "SELECT b.query_id, b.neighbor_id, b.l2_fp, row_number() OVER " +
        "(PARTITION BY b.query_id ORDER BY " +
        s"(${1000L - lam} * m$r.msl - $lam * b.l2_fp) DESC, " +
        "b.neighbor_id ASC) AS rn " +
        s"FROM base b JOIN m$r ON m$r.query_id = b.query_id " +
        s"AND m$r.cand_id = b.neighbor_id " +
        s"LEFT JOIN $prev sel ON sel.query_id = b.query_id " +
        "AND sel.neighbor_id = b.neighbor_id " +
        "WHERE sel.neighbor_id IS NULL) WHERE rn = 1), " +
        s"t$r AS (SELECT query_id, neighbor_id, l2_fp, rnk FROM $prev " +
        s"UNION ALL SELECT query_id, neighbor_id, l2_fp, rnk FROM s$r)"
    }.mkString(", ")
    "WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
      "q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM e " +
      s"WHERE vec_id < ${Similarity.DefaultQueries}), " +
      "sa AS (SELECT q.query_id, e.vec_id AS neighbor_id, " +
      s"CAST(floor(${l2BlockSql("q.q_emb", "e.embedding", 0, 1)} " +
      "* 1000000.0) AS BIGINT) AS l2_fp " +
      "FROM e, q WHERE e.vec_id <> q.query_id), " +
      "base AS MATERIALIZED (SELECT query_id, neighbor_id, l2_fp FROM " +
      "(SELECT *, row_number() OVER (PARTITION BY query_id " +
      "ORDER BY l2_fp ASC, neighbor_id ASC) AS brn FROM sa) " +
      s"WHERE brn <= $cand), " +
      "pp AS MATERIALIZED (SELECT a.query_id, " +
      "a.neighbor_id AS cand_id, b.neighbor_id AS sel_id, " +
      s"CAST(floor(${l2BlockSql("ea.embedding", "eb.embedding", 0, 1)} " +
      "* 1000000.0) AS BIGINT) AS pl2 " +
      "FROM base a JOIN base b ON a.query_id = b.query_id " +
      "AND a.neighbor_id <> b.neighbor_id " +
      "JOIN e ea ON ea.vec_id = a.neighbor_id " +
      "JOIN e eb ON eb.vec_id = b.neighbor_id), " +
      "t1 AS (SELECT query_id, neighbor_id, l2_fp, " +
      "CAST(1 AS BIGINT) AS rnk FROM (SELECT *, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY l2_fp ASC, neighbor_id ASC) " +
      "AS rn FROM base) WHERE rn = 1), " +
      s"$rounds " +
      "SELECT query_id, rnk AS \"rank\", neighbor_id, l2_fp " +
      s"FROM t$k"
  }

  /** knn_ivf oracle — shared by knn_recall (its approximate side).
    * Two-level IVF twin: fine cells = ⌊√N⌋ clamped, coarse anchors =
    * first ⌈√k⌉ of the same hash order; every argmax is a
    * (cos DESC, id ASC) row_number — bit-identical to the Scala
    * grouping + the IvfAssign2 kernel's ascending-iteration strict->.
    */
  /** The IVF assignment + probe CTE chain (no WITH prefix) shared by
    * KnnIvfSql and KnnIvfPqSql: corpus cells via the two-level
    * coarse→fine assignment (with the empty-group fallback), each
    * query's nProbe cells, and the query relation — everything up to
    * the metric-specific scoring tail.
    */
  private lazy val IvfCoreCtes: String =
    s"e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS n2 FROM embeddings), " +
      s"kk AS (SELECT LEAST(${Similarity.IvfMaxCells}, GREATEST(1, " +
      "CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) AS k FROM e), " +
      "ch AS (SELECT e.*, row_number() OVER (ORDER BY " +
      s"${phSql("CAST(vec_id AS VARCHAR)")}, vec_id) AS crn FROM e), " +
      "c AS (SELECT vec_id AS cent_id, embedding AS c_emb, n2 AS c_n2, crn " +
      "FROM ch, kk WHERE crn <= k), " +
      "co AS (SELECT cent_id AS a_id, c_emb AS a_emb, c_n2 AS a_n2 " +
      "FROM c, kk WHERE crn <= CAST(CEIL(SQRT(k)) AS BIGINT)), " +
      "fgr AS (SELECT c.cent_id, co.a_id, row_number() OVER (PARTITION BY c.cent_id " +
      s"ORDER BY ${dotSql("c.c_emb", "co.a_emb")} / (sqrt(c.c_n2) * sqrt(co.a_n2)) DESC, " +
      "co.a_id ASC) AS arnk FROM c, co), " +
      "fg AS (SELECT cent_id, a_id FROM fgr WHERE arnk = 1), " +
      "vcr AS (SELECT e.vec_id, co.a_id, row_number() OVER (PARTITION BY e.vec_id " +
      s"ORDER BY ${dotSql("e.embedding", "co.a_emb")} / (sqrt(e.n2) * sqrt(co.a_n2)) DESC, " +
      "co.a_id ASC) AS arnk FROM e, co), " +
      "vc AS (SELECT vec_id, a_id FROM vcr WHERE arnk = 1), " +
      // fine-candidate set with the kernel's empty-group fallback
      // (IvfAssignUtil.assign2): normally the anchor's group members;
      // when rounding hands a vector an anchor owning NO fine
      // centroids (same-direction anchor twins), ALL fine centroids
      "fcand AS (SELECT vc.vec_id, fg.cent_id FROM vc " +
      "JOIN fg ON fg.a_id = vc.a_id " +
      "UNION ALL SELECT vc.vec_id, c.cent_id FROM vc, c " +
      "WHERE NOT EXISTS (SELECT 1 FROM fg WHERE fg.a_id = vc.a_id)), " +
      "far AS (SELECT e.vec_id, e.embedding, e.n2, c.cent_id, row_number() OVER " +
      "(PARTITION BY e.vec_id ORDER BY " +
      s"${dotSql("e.embedding", "c.c_emb")} / (sqrt(e.n2) * sqrt(c.c_n2)) DESC, " +
      "c.cent_id ASC) AS crank FROM e JOIN fcand ON fcand.vec_id = e.vec_id " +
      "JOIN c ON c.cent_id = fcand.cent_id), " +
      "assigned AS (SELECT cent_id AS cell, vec_id, embedding, n2 FROM far WHERE crank = 1), " +
      "pr AS (SELECT e.vec_id, c.cent_id, row_number() OVER (PARTITION BY e.vec_id " +
      s"ORDER BY ${dotSql("e.embedding", "c.c_emb")} / (sqrt(e.n2) * sqrt(c.c_n2)) DESC, " +
      "c.cent_id ASC) AS crank FROM e, c WHERE e.vec_id < 10), " +
      "probes AS (SELECT cent_id AS cell, vec_id AS query_id FROM pr " +
      s"WHERE crank <= ${Similarity.IvfNProbe}), " +
      "q AS (SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2 FROM e WHERE vec_id < 10)"

  /** knn_ivf_sq8 oracle — the shared IVF layout CTEs with the
    * KnnSq8Sql reconstruction spliced in as the scoring tail: each
    * probed candidate is met through `mn + code·(mx−mn)/255.0` and
    * scored by the exact squared-L2 list fold. Shared by
    * knn_ivf_sq8_recall's approx side.
    */
  private lazy val KnnIvfSq8Sql: String =
    s"WITH $IvfCoreCtes, " +
      "sx AS (SELECT vec_id, embedding, " +
      "unnest(generate_series(1, len(embedding))) AS i FROM e), " +
      "sv AS (SELECT vec_id, i - 1 AS dim, " +
      "CAST(embedding[i] AS DOUBLE) AS x FROM sx), " +
      "sst AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM sv GROUP BY dim), " +
      "sq8 AS (SELECT vec_id, sv.dim, mn, mx, " +
      "CASE WHEN mx > mn THEN LEAST(CAST(floor((x - mn) * 255.0 / (mx - mn)) " +
      "AS BIGINT), 255) ELSE 0 END AS code FROM sv JOIN sst ON sst.dim = sv.dim), " +
      "srec AS (SELECT vec_id, dim, " +
      "mn + CAST(code AS DOUBLE) * (mx - mn) / 255.0 AS rx FROM sq8), " +
      "sra AS (SELECT vec_id, list(rx ORDER BY dim) AS rv FROM srec " +
      "GROUP BY vec_id), " +
      "ssc AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      "CAST(floor(list_reduce(list_prepend(0.0, " +
      "list_transform(range(1, len(q.q_emb) + 1), " +
      "i -> (CAST(q.q_emb[i] AS DOUBLE) - sra.rv[i]) * " +
      "(CAST(q.q_emb[i] AS DOUBLE) - sra.rv[i]))), " +
      "(acc, y) -> acc + y) * 1000000.0) AS BIGINT) AS l2_fp " +
      "FROM assigned a JOIN sra ON sra.vec_id = a.vec_id " +
      "JOIN probes p ON a.cell = p.cell " +
      "JOIN q ON q.query_id = p.query_id " +
      "WHERE a.vec_id <> p.query_id), " +
      "r AS (SELECT query_id, neighbor_id, l2_fp, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY l2_fp ASC, neighbor_id ASC) AS rnk " +
      "FROM ssc) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, l2_fp " +
      s"FROM r WHERE rnk <= ${Similarity.DefaultK}"

  private val KnnIvfSql: String =
    s"WITH $IvfCoreCtes, " +
      "scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      s"${dotSql("q.q_emb", "a.embedding")} / (sqrt(q.q_n2) * sqrt(a.n2)) AS cosine " +
      "FROM assigned a JOIN probes p ON a.cell = p.cell " +
      "JOIN q ON q.query_id = p.query_id WHERE a.vec_id <> p.query_id), " +
      "r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM scored) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, cosine " +
      "FROM r WHERE rnk <= 5"

  /** knn_ivf_filtered oracle — KnnIvfSql's scoring tail with the
    * candidate side semi-joined to the allowed documents. The index
    * CTEs (cells, assignment, probes) are the SHARED IvfCoreCtes —
    * layout is filter-independent by construction on both sides.
    */
  private val KnnIvfFilteredSql: String =
    s"WITH $IvfCoreCtes, " +
      "al AS (SELECT doc_id FROM documents WHERE lang = 'en'), " +
      "scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      s"${dotSql("q.q_emb", "a.embedding")} / (sqrt(q.q_n2) * sqrt(a.n2)) AS cosine " +
      "FROM assigned a JOIN al ON al.doc_id = a.vec_id " +
      "JOIN probes p ON a.cell = p.cell " +
      "JOIN q ON q.query_id = p.query_id WHERE a.vec_id <> p.query_id), " +
      "r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM scored) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, cosine " +
      "FROM r WHERE rnk <= 5"

  /** Integer squared-L2 between two BIGINT-list columns — the
    * `lloydPpm` assignment distance. All-integer, so evaluation order
    * is irrelevant; the left fold is just the idiom the other list
    * folds use.
    */
  private def il2Sql(a: String, b: String): String =
    s"list_reduce(list_prepend(0::BIGINT, list_transform(" +
      s"range(1, len($a) + 1), " +
      s"i -> ($a[i] - $b[i]) * ($a[i] - $b[i]))), (acc, x) -> acc + x)"

  /** The exact-Lloyd training rounds as CTEs — the SQL twin of
    * `Similarity.lloydPpm`, unrolled like the SCC/hops/BPE oracles.
    * Consumes a point CTE `smp(pid, grp, qv)` of ppm BIGINT lists
    * (grp generalizes the per-block PQ training; a constant 0 for
    * IVF) and an init state `{p}c0(grp, cent_id, cv)`; emits rounds
    * `{p}c1..{p}cR`. Per round: integer-L2 argmin assignment (ties →
    * lower cent_id), truncating-division integer means (`//` ≡ Scala
    * Long `/` ≡ Spark `div` — all truncate toward zero), and a LEFT
    * JOIN carry so an emptied cell keeps its previous state — each
    * arithmetic step bit-identical to the driver loop because every
    * value is a BIGINT.
    */
  /** The SPHERICAL Lloyd rounds — `lloydRoundsCtes` with the renorm
    * m-step: integer truncating mean `q`, per-centroid norm
    * `sqrt(Σ q²)` (q² ≤ 10¹², 64-dim sums < 2⁵³ → the double sum is
    * exact in any order), then `⌊q/‖q‖·1e6⌋` per element — the same
    * IEEE divide-multiply-floor chain `lloydPpmSpherical` executes.
    * The all-zero mean (norm 0) carries unrenormalized; empty cells
    * carry the previous state via the COALESCE, exactly the driver
    * loop's rule.
    */
  private def lloydSphericalRoundsCtes(p: String, smp: String,
      rounds: Int): String =
    (1 to rounds).map { r =>
      s"${p}a$r AS (SELECT pid, grp, cent_id FROM (SELECT s.pid, s.grp, " +
        "c.cent_id, row_number() OVER (PARTITION BY s.pid, s.grp ORDER BY " +
        s"${il2Sql("s.qv", "c.cv")} ASC, c.cent_id ASC) AS rn " +
        s"FROM $smp s JOIN ${p}c${r - 1} c ON c.grp = s.grp) WHERE rn = 1), " +
        s"${p}x$r AS (SELECT a.grp, a.cent_id, " +
        "unnest(generate_series(1, len(s.qv))) AS i, s.qv " +
        s"FROM $smp s JOIN ${p}a$r a ON a.pid = s.pid AND a.grp = s.grp), " +
        s"${p}mm$r AS (SELECT grp, cent_id, i, " +
        s"SUM(qv[i]) // COUNT(*) AS q FROM ${p}x$r GROUP BY 1, 2, 3), " +
        s"${p}nn$r AS (SELECT grp, cent_id, " +
        "sqrt(SUM(CAST(q AS DOUBLE) * CAST(q AS DOUBLE))) AS nrm " +
        s"FROM ${p}mm$r GROUP BY 1, 2), " +
        s"${p}m$r AS (SELECT m.grp, m.cent_id, list(" +
        "CASE WHEN n.nrm = 0 THEN q ELSE " +
        "CAST(floor(CAST(q AS DOUBLE) / n.nrm * 1000000.0) AS BIGINT) " +
        s"END ORDER BY i) AS cv FROM ${p}mm$r m " +
        s"JOIN ${p}nn$r n ON n.grp = m.grp AND n.cent_id = m.cent_id " +
        "GROUP BY 1, 2), " +
        s"${p}c$r AS MATERIALIZED (SELECT c.grp, c.cent_id, " +
        s"COALESCE(m.cv, c.cv) AS cv FROM ${p}c${r - 1} c " +
        s"LEFT JOIN ${p}m$r m ON m.grp = c.grp AND m.cent_id = c.cent_id)"
    }.mkString(", ")

  private def lloydRoundsCtes(p: String, smp: String, rounds: Int): String =
    (1 to rounds).map { r =>
      s"${p}a$r AS (SELECT pid, grp, cent_id FROM (SELECT s.pid, s.grp, " +
        "c.cent_id, row_number() OVER (PARTITION BY s.pid, s.grp ORDER BY " +
        s"${il2Sql("s.qv", "c.cv")} ASC, c.cent_id ASC) AS rn " +
        s"FROM $smp s JOIN ${p}c${r - 1} c ON c.grp = s.grp) WHERE rn = 1), " +
        s"${p}x$r AS (SELECT a.grp, a.cent_id, " +
        "unnest(generate_series(1, len(s.qv))) AS i, s.qv " +
        s"FROM $smp s JOIN ${p}a$r a ON a.pid = s.pid AND a.grp = s.grp), " +
        s"${p}m$r AS (SELECT grp, cent_id, list(q ORDER BY i) AS cv FROM " +
        "(SELECT grp, cent_id, i, SUM(qv[i]) // COUNT(*) AS q " +
        s"FROM ${p}x$r GROUP BY 1, 2, 3) GROUP BY 1, 2), " +
        s"${p}c$r AS MATERIALIZED (SELECT c.grp, c.cent_id, " +
        s"COALESCE(m.cv, c.cv) AS cv FROM ${p}c${r - 1} c " +
        s"LEFT JOIN ${p}m$r m ON m.grp = c.grp AND m.cent_id = c.cent_id)"
    }.mkString(", ")

  /** The two-level IVF serving CTEs over an ARBITRARY centroid CTE
    * `cn(cent_id, c_emb, c_n2)` — the stored/trained twin of
    * IvfCoreCtes' tail: coarse anchors are RE-RANKED from
    * poly_hash(cent_id) (`assignCellExpr` re-derives the anchor
    * layout from the loaded ids, which for a centroidsOf export are
    * 0..n-1 — not the corpus hash order IvfCoreCtes' `crn <= ⌈√k⌉`
    * shortcut relies on), then the same coarse→fine assignment with
    * the empty-group fallback, probe ranking, and query relation.
    */
  private def ivfServeTailCtes(cn: String): String =
    s"ck AS (SELECT GREATEST(1, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) " +
      s"AS kc FROM $cn), " +
      "co AS (SELECT cent_id AS a_id, c_emb AS a_emb, c_n2 AS a_n2 FROM " +
      s"(SELECT $cn.*, row_number() OVER (ORDER BY " +
      s"${phSql("CAST(cent_id AS VARCHAR)")}, cent_id) AS arn FROM $cn) t, " +
      "ck WHERE arn <= kc), " +
      s"fgr AS (SELECT f.cent_id, co.a_id, row_number() OVER " +
      "(PARTITION BY f.cent_id ORDER BY " +
      s"${dotSql("f.c_emb", "co.a_emb")} / (sqrt(f.c_n2) * sqrt(co.a_n2)) " +
      s"DESC, co.a_id ASC) AS arnk FROM $cn f, co), " +
      "fg AS (SELECT cent_id, a_id FROM fgr WHERE arnk = 1), " +
      "vcr AS (SELECT e.vec_id, co.a_id, row_number() OVER " +
      "(PARTITION BY e.vec_id ORDER BY " +
      s"${dotSql("e.embedding", "co.a_emb")} / (sqrt(e.n2) * sqrt(co.a_n2)) " +
      "DESC, co.a_id ASC) AS arnk FROM e, co), " +
      "vc AS (SELECT vec_id, a_id FROM vcr WHERE arnk = 1), " +
      "fcand AS (SELECT vc.vec_id, fg.cent_id FROM vc " +
      "JOIN fg ON fg.a_id = vc.a_id " +
      s"UNION ALL SELECT vc.vec_id, f.cent_id FROM vc, $cn f " +
      "WHERE NOT EXISTS (SELECT 1 FROM fg WHERE fg.a_id = vc.a_id)), " +
      "far AS (SELECT e.vec_id, e.embedding, e.n2, f.cent_id, " +
      "row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      s"${dotSql("e.embedding", "f.c_emb")} / (sqrt(e.n2) * sqrt(f.c_n2)) " +
      "DESC, f.cent_id ASC) AS crank " +
      "FROM e JOIN fcand ON fcand.vec_id = e.vec_id " +
      s"JOIN $cn f ON f.cent_id = fcand.cent_id), " +
      "assigned AS (SELECT cent_id AS cell, vec_id, embedding, n2 " +
      "FROM far WHERE crank = 1), " +
      "pr AS (SELECT e.vec_id, f.cent_id, row_number() OVER " +
      "(PARTITION BY e.vec_id ORDER BY " +
      s"${dotSql("e.embedding", "f.c_emb")} / (sqrt(e.n2) * sqrt(f.c_n2)) " +
      s"DESC, f.cent_id ASC) AS crank FROM e, $cn f " +
      s"WHERE e.vec_id < ${Similarity.DefaultQueries}), " +
      "probes AS (SELECT cent_id AS cell, vec_id AS query_id FROM pr " +
      s"WHERE crank <= ${Similarity.IvfNProbe}), " +
      "q AS (SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2 " +
      s"FROM e WHERE vec_id < ${Similarity.DefaultQueries})"

  /** The trained-IVF CTE chain — `trainCentroids` unrolled: corpus,
    * cell budget, hash-rank order, the ppm training sample (the whole
    * hash prefix up to max(k, sampleCap)), init = the first k sample
    * vectors with cent_id = hash-rank − 1, `IvfLloydIters` exact-Lloyd
    * rounds, then the fitted floats ((ppm/1e6) double → REAL → DOUBLE,
    * the same IEEE ops as `(m.toDouble/1e6).toFloat.toDouble`) feeding
    * the shared two-level serve tail. Shared verbatim by the
    * knn_ivf_trained / _stored / _pruned oracles (stored-serve and
    * static-pruned-serve are byte-identical to in-session training —
    * spec-pinned — so one oracle covers all three) and, with its
    * `assigned` CTE as the output, by knn_ivf_assign.
    */
  private lazy val IvfTrainedCtes: String =
    IvfTrainCtes + ", " + ivfServeTailCtes("cn")

  /** The training-only prefix (corpus → rounds → fitted `cn`) — also
    * the whole oracle of the knn_ivf_centroids artifact gate.
    */
  private lazy val IvfTrainCtes: String = {
    val iters = Similarity.IvfLloydIters
    s"e AS (SELECT vec_id, embedding, " +
      s"${dotSql("embedding", "embedding")} AS n2 FROM embeddings), " +
      s"kk AS (SELECT LEAST(${Similarity.IvfMaxCells}, GREATEST(1, " +
      "CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) AS k FROM e), " +
      "ch AS (SELECT e.*, row_number() OVER (ORDER BY " +
      s"${phSql("CAST(vec_id AS VARCHAR)")}, vec_id) AS crn FROM e), " +
      "tsmp AS MATERIALIZED (SELECT crn AS pid, 0 AS grp, " +
      "list_transform(embedding, x -> CAST(floor(x::DOUBLE * 1000000.0) " +
      "AS BIGINT)) AS qv FROM ch, kk " +
      s"WHERE crn <= GREATEST(k, ${Similarity.IvfTrainSampleCap})), " +
      "tc0 AS MATERIALIZED (SELECT grp, pid - 1 AS cent_id, qv AS cv " +
      "FROM tsmp, kk WHERE pid <= k), " +
      lloydRoundsCtes("t", "tsmp", iters) + ", " +
      s"ctr AS MATERIALIZED (SELECT cent_id, list_transform(cv, " +
      "m -> CAST(CAST(CAST(m AS DOUBLE) / 1000000.0 AS REAL) AS DOUBLE)) " +
      s"AS c_emb FROM tc$iters), " +
      "cn AS MATERIALIZED (SELECT cent_id, c_emb, " +
      s"${dotSql("c_emb", "c_emb")} AS c_n2 FROM ctr)"
  }

  /** knn_ivf_centroids oracle — the fitted training ARTIFACT itself,
    * hash-checked directly: per (cent_id, dim) the float centroid in
    * floored micro-units (float → double is exact; both engines floor
    * the same double).
    */
  private lazy val KnnIvfCentroidsSql: String =
    s"WITH $IvfTrainCtes, " +
      "cx AS (SELECT cent_id, unnest(generate_series(1, len(c_emb))) " +
      "AS i, c_emb FROM cn) " +
      "SELECT cent_id, CAST(i - 1 AS BIGINT) AS dim, " +
      "CAST(floor(c_emb[i] * 1000000.0) AS BIGINT) AS c_fp FROM cx"

  /** The SPHERICAL trained-IVF training prefix —
    * `trainCentroidsSpherical` unrolled: the sample is
    * normalize-then-quantized (x/√n2 in double — n2 is the dotSql
    * left fold the cosine gates already hash-prove — then the ppm
    * floor; the zero vector quantizes to zeros), and the rounds
    * renormalize each integer mean back to the ppm sphere
    * (`lloydSphericalRoundsCtes`). Ends in the fitted float `cn`.
    */
  private lazy val SphericalTrainCtes: String = {
    val iters = Similarity.IvfLloydIters
    s"e AS (SELECT vec_id, embedding, " +
      s"${dotSql("embedding", "embedding")} AS n2 FROM embeddings), " +
      s"kk AS (SELECT LEAST(${Similarity.IvfMaxCells}, GREATEST(1, " +
      "CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT))) AS k FROM e), " +
      "ch AS (SELECT e.*, row_number() OVER (ORDER BY " +
      s"${phSql("CAST(vec_id AS VARCHAR)")}, vec_id) AS crn FROM e), " +
      "tsmp AS MATERIALIZED (SELECT crn AS pid, 0 AS grp, " +
      "CASE WHEN n2 = 0 THEN list_transform(embedding, " +
      "x -> CAST(0 AS BIGINT)) " +
      "ELSE list_transform(embedding, x -> CAST(floor(" +
      "x::DOUBLE / sqrt(n2) * 1000000.0) AS BIGINT)) END AS qv " +
      "FROM ch, kk " +
      s"WHERE crn <= GREATEST(k, ${Similarity.IvfTrainSampleCap})), " +
      "tc0 AS MATERIALIZED (SELECT grp, pid - 1 AS cent_id, qv AS cv " +
      "FROM tsmp, kk WHERE pid <= k), " +
      lloydSphericalRoundsCtes("t", "tsmp", iters) + ", " +
      s"ctr AS MATERIALIZED (SELECT cent_id, list_transform(cv, " +
      "m -> CAST(CAST(CAST(m AS DOUBLE) / 1000000.0 AS REAL) AS DOUBLE)) " +
      s"AS c_emb FROM tc$iters), " +
      "cn AS MATERIALIZED (SELECT cent_id, c_emb, " +
      s"${dotSql("c_emb", "c_emb")} AS c_n2 FROM ctr)"
  }

  /** knn_ivf_spherical oracle — the spherical train prefix feeding
    * the shared two-level serve tail and the trained-IVF scoring
    * tail.
    */
  private lazy val KnnIvfSphericalSql: String =
    s"WITH $SphericalTrainCtes, ${ivfServeTailCtes("cn")}, " +
      "scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      s"${dotSql("q.q_emb", "a.embedding")} / (sqrt(q.q_n2) * sqrt(a.n2)) " +
      "AS cosine FROM assigned a JOIN probes p ON a.cell = p.cell " +
      "JOIN q ON q.query_id = p.query_id WHERE a.vec_id <> p.query_id), " +
      "r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) " +
      "AS rnk FROM scored) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, " +
      s"cosine FROM r WHERE rnk <= ${Similarity.DefaultK}"

  /** knn_ivf_spherical_centroids oracle — the spherically-fitted
    * artifact in floored micro-units (the KnnIvfCentroidsSql form).
    */
  private lazy val KnnIvfSphericalCentroidsSql: String =
    s"WITH $SphericalTrainCtes, " +
      "cx AS (SELECT cent_id, unnest(generate_series(1, len(c_emb))) " +
      "AS i, c_emb FROM cn) " +
      "SELECT cent_id, CAST(i - 1 AS BIGINT) AS dim, " +
      "CAST(floor(c_emb[i] * 1000000.0) AS BIGINT) AS c_fp FROM cx"

  /** knn_ivf_trained oracle — ALSO the knn_ivf_stored and
    * knn_ivf_pruned oracle: the stored round-trip and the
    * static-pruned assigned-corpus serve are byte-identical to
    * in-session training (ExtensionsSpec pins both equalities), so
    * the three gates share this one SQL.
    */
  private lazy val KnnIvfTrainedSql: String =
    s"WITH $IvfTrainedCtes, " +
      "scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      s"${dotSql("q.q_emb", "a.embedding")} / (sqrt(q.q_n2) * sqrt(a.n2)) " +
      "AS cosine FROM assigned a JOIN probes p ON a.cell = p.cell " +
      "JOIN q ON q.query_id = p.query_id WHERE a.vec_id <> p.query_id), " +
      "r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) " +
      "AS rnk FROM scored) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, " +
      s"cosine FROM r WHERE rnk <= ${Similarity.DefaultK}"

  /** knn_ivf_assign oracle — the trained chain's `assigned` relation:
    * every corpus vector's fine cell under the fitted centroids, plus
    * the persisted norm.
    */
  private lazy val KnnIvfAssignSql: String =
    s"WITH $IvfTrainedCtes " +
      "SELECT vec_id, CAST(cell AS BIGINT) AS cell, n2 FROM assigned"

  /** Block slice of full-width list `a` (block = SQL expression `blk`
    * of `blocks` equal slices) vs an ALREADY-SLICED bw-length list
    * `b` — the trained-PQ distance: fitted codewords are stored as
    * subvectors, unlike the hash-anchored codebook's full corpus
    * vectors. Same left fold and per-element double casts as
    * l2BlockSql.
    */
  private def l2BlockVsSubSql(a: String, blk: String, blocks: Int,
      b: String): String =
    s"list_reduce(list_prepend(0.0, list_transform(range(1, len($b) + 1), " +
      s"i -> ($a[$blk * (len($a) // $blocks) + i]::DOUBLE - $b[i]::DOUBLE) * " +
      s"($a[$blk * (len($a) // $blocks) + i]::DOUBLE - $b[i]::DOUBLE))), " +
      "(acc, x) -> acc + x)"

  /** The trained-PQ CTE chain — `pqTrainCodebooks` unrolled: the same
    * hash-prefix sample, per-block ppm subvectors (grp = block), init
    * = the first `PqCodebookSize` sample slices per block,
    * `PqLloydIters` exact-Lloyd rounds, fitted codewords as
    * (ppm/1e6) DOUBLES (the stored relation's native width — no REAL
    * rounding, unlike the IVF centroids), then the corpus codes under
    * the fitted codebooks. Assumes `e(vec_id, embedding, ...)` and
    * `ch(.., crn)` are in scope so the chain composes with
    * IvfTrainedCtes for the IVFPQ oracle.
    */
  private lazy val PqTrainedCtes: String = {
    val blocks = Similarity.PqBlocks
    val iters = Similarity.PqLloydIters
    val cap = math.max(Similarity.PqCodebookSize,
      Similarity.IvfTrainSampleCap)
    s"psmp AS MATERIALIZED (SELECT crn AS pid, b.grp, " +
      s"list_transform(range(b.grp * (len(embedding) // $blocks) + 1, " +
      s"(b.grp + 1) * (len(embedding) // $blocks) + 1), " +
      "i -> CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT)) AS qv " +
      s"FROM ch CROSS JOIN (SELECT unnest(range(0, $blocks)) AS grp) b " +
      s"WHERE crn <= $cap), " +
      "pc0 AS MATERIALIZED (SELECT grp, pid - 1 AS cent_id, qv AS cv " +
      s"FROM psmp WHERE pid <= ${Similarity.PqCodebookSize}), " +
      lloydRoundsCtes("p", "psmp", iters) + ", " +
      "cb AS MATERIALIZED (SELECT grp AS block, cent_id AS code, " +
      "list_transform(cv, m -> CAST(m AS DOUBLE) / 1000000.0) AS cw " +
      s"FROM pc$iters), " +
      "pd AS (SELECT e.vec_id, cb.block, cb.code, " +
      s"${l2BlockVsSubSql("e.embedding", "cb.block", blocks, "cb.cw")} " +
      "AS d2 FROM e, cb), " +
      "codes AS (SELECT vec_id, block, code FROM (SELECT vec_id, block, " +
      "code, row_number() OVER (PARTITION BY vec_id, block " +
      "ORDER BY d2 ASC, code ASC) AS rn FROM pd) WHERE rn = 1), " +
      "plut AS (SELECT qq.query_id, cb.block, cb.code, CAST(floor(" +
      s"${l2BlockVsSubSql("qq.q_emb", "cb.block", blocks, "cb.cw")} " +
      "* 1000000.0) AS BIGINT) AS d_fp FROM " +
      "(SELECT vec_id AS query_id, embedding AS q_emb FROM e " +
      s"WHERE vec_id < ${Similarity.DefaultQueries}) qq, cb)"
  }

  /** knn_pq_trained oracle — ALSO the knn_pq_stored and knn_pq_codes
    * oracle: the codebook round-trip and the stored-codes serve are
    * byte-identical to in-session training (spec-pinned), so the
    * three gates share this one SQL.
    */
  private lazy val KnnPqTrainedSql: String =
    "WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
      "ch AS (SELECT e.*, row_number() OVER (ORDER BY " +
      s"${phSql("CAST(vec_id AS VARCHAR)")}, vec_id) AS crn FROM e), " +
      s"$PqTrainedCtes, " +
      "adc AS (SELECT l.query_id, s.vec_id AS neighbor_id, " +
      "CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp FROM codes s " +
      "JOIN plut l ON l.block = s.block AND l.code = s.code " +
      "WHERE s.vec_id <> l.query_id GROUP BY 1, 2), " +
      "r AS (SELECT query_id, neighbor_id, adc_fp, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY adc_fp ASC, neighbor_id ASC) " +
      "AS rnk FROM adc) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, " +
      s"adc_fp FROM r WHERE rnk <= ${Similarity.DefaultK}"

  /** knn_ivf_pq_stored oracle — the trained-IVF chain (cells, probes)
    * composed with the trained-PQ chain (codes, LUTs): ADC scoring
    * restricted to each query's probed cells, exactly
    * `knnIvfPqFromStored` (whose store/reload serve is byte-identical
    * to the in-session composition — spec-pinned).
    */
  private lazy val KnnIvfPqStoredSql: String =
    s"WITH $IvfTrainedCtes, $PqTrainedCtes, " +
      "adc AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      "CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp " +
      "FROM assigned a JOIN probes p ON a.cell = p.cell " +
      "JOIN codes s ON s.vec_id = a.vec_id " +
      "JOIN plut l ON l.query_id = p.query_id AND l.block = s.block " +
      "AND l.code = s.code " +
      "WHERE a.vec_id <> p.query_id GROUP BY 1, 2), " +
      "r AS (SELECT query_id, neighbor_id, adc_fp, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY adc_fp ASC, neighbor_id ASC) " +
      "AS rnk FROM adc) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, " +
      s"adc_fp FROM r WHERE rnk <= ${Similarity.DefaultK}"

  /** text_bpe_encode oracle — encode = the trainer's final vocabulary
    * state joined back to the corpus token stream (same CTE builder —
    * the gates and the operator cannot drift). Exhaustion before
    * BpeTrainRounds is safe: the CTE builder's LEFT-JOIN fallback
    * freezes v_r at the last real state, matching the operator's
    * early loop exit. ALSO gates text_bpe_encode_stored (the
    * stored-merges replay is byte-identical to in-session training).
    */
  private lazy val BpeEncodeSql: String = {
    val rounds = graft.operators.TextOps.BpeTrainRounds
    s"WITH ${bpeCtesSql(rounds)}, " +
      "enc AS (SELECT word, len(string_split(trim(s), '  '))::BIGINT " +
      s"AS n_sub FROM v$rounds), " +
      "tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) " +
      "AS word FROM documents), " +
      "per AS (SELECT doc_id, COUNT(*)::BIGINT AS n_tokens, " +
      "CAST(SUM(n_sub) AS BIGINT) AS n_subwords FROM tok " +
      "JOIN enc USING (word) GROUP BY 1) " +
      "SELECT d.doc_id, COALESCE(per.n_tokens, 0) AS n_tokens, " +
      "COALESCE(per.n_subwords, 0) AS n_subwords " +
      "FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id"
  }

  /** The BPE trainer's CTE body, unrolled to `rounds` merge rounds:
    * per round, pair counts over the double-space symbol strings, a
    * 1-row argmax (MATERIALIZED — referenced by the apply step AND the
    * consumers), and the same boundary-preserving replace the Spark
    * side runs. An exhausted round's empty argmax empties every later
    * round — matching the operator's early exit. The word column rides
    * the whole chain so the encode oracle can join the final state.
    */
  private def bpeCtesSql(rounds: Int): String = {
    val body = (1 to rounds).map { r =>
      s"x$r AS (SELECT freq, tk, unnest(generate_series(1, len(tk) - 1)) AS i " +
        s"FROM (SELECT freq, string_split(trim(s), '  ') AS tk FROM v${r - 1})), " +
        s"p$r AS (SELECT tk[i] AS a, tk[i + 1] AS b, " +
        s"CAST(SUM(freq) AS BIGINT) AS n FROM x$r GROUP BY 1, 2), " +
        s"b$r AS MATERIALIZED (SELECT a, b, n FROM p$r " +
        "ORDER BY n DESC, a ASC, b ASC LIMIT 1), " +
        // LEFT JOIN + COALESCE: an EMPTY argmax (vocabulary exhausted
        // before `rounds`) must FREEZE the state at v_{r-1}, exactly
        // like the operator's early loop exit — a cross join would
        // empty v_r and make every encode row report (0, 0) while the
        // operator encodes from its real final state
        s"v$r AS MATERIALIZED (SELECT word, freq, COALESCE(replace(s, " +
        s"' ' || b$r.a || '  ' || b$r.b || ' ', " +
        s"' ' || b$r.a || b$r.b || ' '), s) AS s " +
        s"FROM v${r - 1} LEFT JOIN b$r ON TRUE)"
    }.mkString(", ")
    "vocab AS (SELECT word, COUNT(*)::BIGINT AS freq FROM " +
      "(SELECT unnest(regexp_extract_all(text, '\\S+')) AS word " +
      "FROM documents) GROUP BY 1), " +
      "v0 AS MATERIALIZED (SELECT word, freq, ' ' || array_to_string(" +
      "list_transform(range(1, length(word) + 1), " +
      "i -> substr(word, i, 1)), '  ') || ' ' AS s FROM vocab), " +
      body
  }

  /** media_simhash oracle — shared whole by media_clusters. */
  private lazy val MediaSimhashSql: String = {
      // dedup_simhash's signature/banding SQL with tokens = uppercase
      // hex 4-byte grams (DuckDB hex(VARCHAR) hexes the UTF-8 bytes —
      // the payload — uppercase, exactly like Spark's hex(binary))
      val bitSum = (0 until graft.operators.Dedup.SimBits).map { b =>
        s"(CASE WHEN SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
          s"THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"WITH th AS (SELECT doc_id, ${phSql("t")} + (${phSql2("t")} << 30) AS h FROM " +
        "(SELECT doc_id, unnest(regexp_extract_all(hex(text), '.{8}')) AS t " +
        "FROM documents)), " +
        s"sig AS (SELECT doc_id, CAST($bitSum AS BIGINT) AS simhash FROM th GROUP BY doc_id) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming " +
        "FROM sig a JOIN sig b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
    }

  /** Container-decode oracle — shared whole by media_features (column
    * parse) and media_decode (ByteBuffer parse). The expected values are
    * stated INDEPENDENTLY of the bytes, from the same doc_id formulas the
    * synthesizer encodes: the Spark side writes the fields into real
    * BMP/WAV/AVI headers and parses them back out, so a wrong byte offset
    * on either side breaks the hash — writer and parser cannot cancel.
    * doc_id % 97 == 0 rows are truncated mid-header by the synthesizer
    * and must decode to the 'none'/0/-1 sentinel row.
    */
  private lazy val MediaDecodeOracleSql: String =
    "WITH m AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS k, " +
      "(doc_id % 97 = 0) AS bad, " +
      "CAST(strlen(text) AS BIGINT) AS dlen, " +
      // BMP dims (small: the pixel array is real) vs AVI dims
      "CAST(doc_id % 300 + 2 AS BIGINT) AS wb, " +
      "CAST(doc_id % 200 + 2 AS BIGINT) AS hb, " +
      "CAST(doc_id % 640 + 1 AS BIGINT) AS w, " +
      "CAST(doc_id % 480 + 1 AS BIGINT) AS h, " +
      "CAST(CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN 8000 WHEN 1 THEN 16000 " +
      "WHEN 2 THEN 22050 ELSE 44100 END AS BIGINT) AS sr, " +
      "CAST(doc_id % 2 + 1 AS BIGINT) AS ch, " +
      "CAST(doc_id % 5 + 1 AS BIGINT) AS fr FROM documents) " +
      "SELECT doc_id, " +
      "CASE WHEN bad THEN 'none' WHEN k = 0 THEN 'bmp' " +
      "WHEN k = 1 THEN 'wav' ELSE 'avi' END AS container, " +
      "CAST(CASE WHEN bad THEN 0 ELSE 1 END AS BIGINT) AS valid, " +
      "CAST(CASE WHEN bad OR k = 1 THEN -1 WHEN k = 0 THEN wb ELSE w END " +
      "AS BIGINT) AS width, " +
      "CAST(CASE WHEN bad OR k = 1 THEN -1 WHEN k = 0 THEN hb ELSE h END " +
      "AS BIGINT) AS height, " +
      "CAST(CASE WHEN bad OR k = 2 THEN -1 WHEN k = 0 THEN 24 ELSE 16 END " +
      "AS BIGINT) AS bit_depth, " +
      "CAST(CASE WHEN bad OR k <> 1 THEN -1 ELSE sr END AS BIGINT) AS sample_rate, " +
      "CAST(CASE WHEN bad OR k <> 1 THEN -1 ELSE ch END AS BIGINT) AS channels, " +
      "CAST(CASE WHEN bad OR k <> 2 THEN -1 ELSE fr END AS BIGINT) AS total_frames, " +
      // BMP data_bytes = the 4-byte-aligned BI_RGB pixel array size
      "CAST(CASE WHEN bad THEN -1 WHEN k = 0 THEN (wb * 3 + 3) // 4 * 4 * hb " +
      "ELSE dlen END AS BIGINT) AS data_bytes " +
      "FROM m"

  /** graph_lpa oracle — shared whole by graph_modularity. */
  private lazy val GraphLpaSql: String = {
      val rounds = graft.operators.GraphOps.LpaRounds
      val sb = new StringBuilder
      sb.append("WITH base AS MATERIALIZED (SELECT DISTINCT src, dst " +
        s"FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), ")
      sb.append("sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM base " +
        "UNION SELECT dst, src FROM base), ")
      sb.append("l0 AS MATERIALIZED (SELECT DISTINCT u AS vertex, " +
        "u AS lab FROM sym), ")
      (1 to rounds).foreach { i =>
        sb.append(s"c$i AS MATERIALIZED (SELECT s.u AS vertex, l.lab, " +
          s"COUNT(*) AS n FROM sym s JOIN l${i - 1} l ON l.vertex = s.v " +
          "GROUP BY 1, 2), ")
        sb.append(s"l$i AS MATERIALIZED (SELECT vertex, lab FROM " +
          "(SELECT vertex, lab, row_number() OVER (PARTITION BY vertex " +
          s"ORDER BY n DESC, lab ASC) AS rn FROM c$i) WHERE rn = 1), ")
      }
      sb.setLength(sb.length - 2)
      sb.append(s" SELECT vertex, CAST(lab AS BIGINT) AS community " +
        s"FROM l$rounds")
      sb.toString
    }

  /** graph_walks oracle — the walk recurrence unrolled to WalkLen
    * joins; the step-s hash string is "<walk_id>:<s-1>:<vertex>" in
    * BOTH engines. Shared whole by graph_walk_pairs.
    */
  private lazy val GraphWalksSql: String = {
    val len = GraphOps.WalkLen
    val per = GraphOps.WalksPerSeed
    val steps = (1 to len).map { s =>
      s"w$s AS (SELECT p.walk_id, a.dst AS vertex FROM w${s - 1} p " +
        "JOIN adj a ON a.src = p.vertex AND a.rnk = " +
        phSql(s"CAST(p.walk_id AS VARCHAR) || ':${s - 1}:' || " +
          "CAST(p.vertex AS VARCHAR)") +
        " % a.deg + 1)"
    }.mkString(", ")
    val out = (0 to len).map(s =>
      s"SELECT walk_id, CAST($s AS BIGINT) AS step, vertex FROM w$s")
      .mkString(" UNION ALL ")
    s"WITH e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
      "adj AS (SELECT src, dst, row_number() OVER (PARTITION BY src " +
      "ORDER BY dst) AS rnk, COUNT(*) OVER (PARTITION BY src) AS deg " +
      "FROM e), " +
      "seeds AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
      s"UNION ALL SELECT dst FROM e) WHERE v < $HopSeedMax), " +
      s"w0 AS (SELECT v * $per + j AS walk_id, v AS vertex FROM seeds, " +
      s"(SELECT unnest(range(0, $per)) AS j)) " +
      s", $steps $out"
  }

  /** knn_ivf_pq oracle — the IVF core (cells + probes) with the PQ ADC
    * scoring tail: PQ codebook/codes/LUT CTEs renamed p* to avoid
    * colliding with the IVF chain's names, candidates restricted to
    * probed cells, ADC the exact integer LUT sum.
    */
  private lazy val KnnIvfPqSql: String = {
    val blocks = Similarity.PqBlocks
    val codeBranches = (0 until blocks).map { b =>
      s"SELECT e.vec_id, $b AS block, pc.code, " +
        s"${l2BlockSql("e.embedding", "pc.c_emb", b, blocks)} AS d2 FROM e, pc"
    }.mkString(" UNION ALL ")
    val lutBranches = (0 until blocks).map { b =>
      s"SELECT q.query_id, $b AS block, pc.code, " +
        s"CAST(floor(${l2BlockSql("q.q_emb", "pc.c_emb", b, blocks)} " +
        "* 1000000.0) AS BIGINT) AS d_fp FROM q, pc"
    }.mkString(" UNION ALL ")
    s"WITH $IvfCoreCtes, " +
      "pch AS (SELECT e.vec_id, e.embedding, row_number() OVER (ORDER BY " +
      s"${phSql("CAST(e.vec_id AS VARCHAR)")}, e.vec_id) AS prn FROM e), " +
      "pc AS (SELECT prn - 1 AS code, embedding AS c_emb FROM pch " +
      s"WHERE prn <= ${Similarity.PqCodebookSize}), " +
      s"pd AS ($codeBranches), " +
      "codes AS (SELECT vec_id, block, code FROM (SELECT vec_id, block, code, " +
      "row_number() OVER (PARTITION BY vec_id, block ORDER BY d2 ASC, code ASC) AS rn " +
      "FROM pd) WHERE rn = 1), " +
      s"lut AS ($lutBranches), " +
      "adc AS (SELECT p.query_id, a.vec_id AS neighbor_id, " +
      "CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp " +
      "FROM assigned a JOIN probes p ON a.cell = p.cell " +
      "JOIN codes s ON s.vec_id = a.vec_id " +
      "JOIN lut l ON l.query_id = p.query_id AND l.block = s.block " +
      "AND l.code = s.code " +
      "WHERE a.vec_id <> p.query_id GROUP BY 1, 2), " +
      "r AS (SELECT query_id, neighbor_id, adc_fp, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY adc_fp ASC, neighbor_id ASC) AS rnk FROM adc) " +
      "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, adc_fp " +
      s"FROM r WHERE rnk <= ${Similarity.DefaultK}"
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

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "edges" ->
      s"SELECT src, dst FROM ($EdgesCte)",
    "pagerank" -> {
      // iterations unrolled as chained CTEs (standard SQL forbids
      // aggregation in a recursive term); constants single-sourced
      // from GraphOps so the two sides cannot drift
      val scale = GraphOps.PageRankScale
      val base = 15L * scale / 100L
      val sweeps = (1 to GraphOps.PageRankIters).map { i =>
        s"pr$i AS (SELECT verts.v, $base + (85 * COALESCE(inc.m, 0)) // 100 AS r " +
          "FROM verts LEFT JOIN (" +
          s"SELECT e.dst AS v, SUM(p.r // deg.d) AS m FROM dedges e " +
          s"JOIN pr${i - 1} p ON p.v = e.src JOIN deg ON deg.v = e.src " +
          "GROUP BY e.dst) inc ON inc.v = verts.v)"
      }.mkString(", ")
      s"WITH dedges AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
        "verts AS (SELECT src AS v FROM dedges UNION SELECT dst FROM dedges), " +
        "deg AS (SELECT src AS v, COUNT(*) AS d FROM dedges GROUP BY src), " +
        s"pr0 AS (SELECT v, $scale AS r FROM verts), $sweeps " +
        s"SELECT v AS vertex, CAST(r AS BIGINT) AS rank_fp " +
        s"FROM pr${GraphOps.PageRankIters}"
    },
    "pagerank_weighted" -> {
      // the pagerank oracle with the weighted compression: per-edge
      // contribution = (rank // total-out-weight) * w — truncate
      // before multiply, exactly like the operator
      val scale = GraphOps.PageRankScale
      val base = 15L * scale / 100L
      val sweeps = (1 to GraphOps.PageRankIters).map { i =>
        s"pr$i AS (SELECT verts.v, $base + (85 * COALESCE(inc.m, 0)) // 100 AS r " +
          "FROM verts LEFT JOIN (" +
          s"SELECT e.dst AS v, SUM((p.r // tw.tw) * e.w) AS m FROM we e " +
          s"JOIN pr${i - 1} p ON p.v = e.src JOIN tw ON tw.v = e.src " +
          "GROUP BY e.dst) inc ON inc.v = verts.v)"
      }.mkString(", ")
      s"WITH we AS (SELECT src, dst, COUNT(*) AS w FROM ($EdgesCte) " +
        "GROUP BY 1, 2), " +
        "verts AS (SELECT src AS v FROM we UNION SELECT dst FROM we), " +
        "tw AS (SELECT src AS v, SUM(w) AS tw FROM we GROUP BY 1), " +
        s"pr0 AS (SELECT v, $scale AS r FROM verts), $sweeps " +
        s"SELECT v AS vertex, CAST(r AS BIGINT) AS rank_fp " +
        s"FROM pr${GraphOps.PageRankIters}"
    },
    "pagerank_personalized" -> {
      // the pagerank oracle with seed-gated teleportation: pr0 = scale
      // on seeds only, restart term = s · base each sweep
      val scale = GraphOps.PageRankScale
      val base = 15L * scale / 100L
      val sweeps = (1 to GraphOps.PageRankIters).map { i =>
        s"pr$i AS (SELECT sv.v, sv.s * $base + (85 * COALESCE(inc.m, 0)) // 100 AS r " +
          "FROM sv LEFT JOIN (" +
          s"SELECT e.dst AS v, SUM(p.r // deg.d) AS m FROM dedges e " +
          s"JOIN pr${i - 1} p ON p.v = e.src JOIN deg ON deg.v = e.src " +
          "GROUP BY e.dst) inc ON inc.v = sv.v)"
      }.mkString(", ")
      s"WITH dedges AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
        "verts AS (SELECT src AS v FROM dedges UNION SELECT dst FROM dedges), " +
        "deg AS (SELECT src AS v, COUNT(*) AS d FROM dedges GROUP BY src), " +
        s"sv AS (SELECT v, CASE WHEN v < $PprSeedMax THEN 1 ELSE 0 END AS s " +
        "FROM verts), " +
        s"pr0 AS (SELECT v, s * $scale AS r FROM sv), $sweeps " +
        s"SELECT v AS vertex, CAST(r AS BIGINT) AS rank_fp " +
        s"FROM pr${GraphOps.PageRankIters}"
    },
    "graph_components" ->
      // min-reachable-id via transitive closure — affordable only on
      // the sparsified slice, which is the point of ComponentsMod
      (s"WITH RECURSIVE base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0), " +
        "sym AS (SELECT src AS u, dst AS v FROM base " +
        "UNION SELECT dst, src FROM base), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u) " +
        "SELECT u AS vertex, CAST(LEAST(u, MIN(v)) AS BIGINT) AS component " +
        "FROM reach GROUP BY u"),
    // graph_components' closure rolled up twice: per-component sizes,
    // then how many components share each size
    "graph_component_sizes" ->
      (s"WITH RECURSIVE base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0), " +
        "sym AS (SELECT src AS u, dst AS v FROM base " +
        "UNION SELECT dst, src FROM base), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u), " +
        "comp AS (SELECT u AS vertex, LEAST(u, MIN(v)) AS component " +
        "FROM reach GROUP BY u), " +
        "cs AS (SELECT component, COUNT(*) AS sz FROM comp GROUP BY component) " +
        "SELECT CAST(sz AS BIGINT) AS component_size, " +
        "CAST(COUNT(*) AS BIGINT) AS n_components FROM cs GROUP BY sz"),
    // unrolled HITS twin: HitsRounds alternating auth/hub sweeps with
    // ppb L1 normalization — HUGEINT-safe (SUM promotes; raw·scale
    // stays under 2^63 by the Σ ≤ scale invariant), MATERIALIZED like
    // every unrolled fixpoint oracle
    "graph_hits" -> {
      val rounds = graft.operators.GraphOps.HitsRounds
      val scale = graft.operators.GraphOps.HitsScale
      val sb = new StringBuilder
      sb.append("WITH base AS MATERIALIZED (SELECT DISTINCT src, dst " +
        s"FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), ")
      sb.append("verts AS MATERIALIZED (SELECT src AS v FROM base " +
        "UNION SELECT dst FROM base), ")
      sb.append("h0 AS MATERIALIZED (SELECT v, CAST(1 AS BIGINT) AS x " +
        "FROM verts), ")
      (1 to rounds).foreach { i =>
        sb.append(s"ar$i AS MATERIALIZED (SELECT b.dst AS v, SUM(h.x) " +
          s"AS raw FROM base b JOIN h${i - 1} h ON h.v = b.src GROUP BY 1), ")
        sb.append(s"af$i AS MATERIALIZED (SELECT verts.v, " +
          s"COALESCE(raw, 0) AS raw FROM verts LEFT JOIN ar$i USING (v)), ")
        sb.append(s"a$i AS MATERIALIZED (SELECT v, CAST(CASE WHEN t.tot = 0 " +
          s"THEN 0 ELSE raw * $scale // t.tot END AS BIGINT) AS x " +
          s"FROM af$i, (SELECT SUM(raw) AS tot FROM af$i) t), ")
        sb.append(s"hr$i AS MATERIALIZED (SELECT b.src AS v, SUM(a.x) " +
          s"AS raw FROM base b JOIN a$i a ON a.v = b.dst GROUP BY 1), ")
        sb.append(s"hf$i AS MATERIALIZED (SELECT verts.v, " +
          s"COALESCE(raw, 0) AS raw FROM verts LEFT JOIN hr$i USING (v)), ")
        sb.append(s"h$i AS MATERIALIZED (SELECT v, CAST(CASE WHEN t.tot = 0 " +
          s"THEN 0 ELSE raw * $scale // t.tot END AS BIGINT) AS x " +
          s"FROM hf$i, (SELECT SUM(raw) AS tot FROM hf$i) t), ")
      }
      sb.setLength(sb.length - 2)
      sb.append(s" SELECT h.v AS vertex, h.x AS hub_fp, a.x AS auth_fp " +
        s"FROM h$rounds h JOIN a$rounds a ON a.v = h.v")
      sb.toString
    },
    // unrolled synchronous-LPA twin: LpaRounds rounds of per-vertex
    // argmax (count DESC, label ASC) over the symmetrized simple
    // slice; MATERIALIZED like the kcore unroll (each round CTE is
    // referenced twice — inlining would go exponential in the depth)
    "graph_lpa" -> GraphLpaSql,
    "graph_louvain" -> {
      // the modularity oracle's sym construction; per-vertex argmax of
      // the integer ΔQ numerator 2m·1 − k_u·k_v (gain desc, nbr asc),
      // move iff positive, synchronous against the singleton state
      s"WITH base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), " +
        "sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM base " +
        "UNION SELECT dst, src FROM base), " +
        "deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS k FROM sym GROUP BY 1), " +
        "mm AS (SELECT COUNT(*) // 2 AS m FROM sym), " +
        "cand AS (SELECT s.u, s.v, 2 * mm.m - du.k * dv.k AS gain " +
        "FROM sym s JOIN deg du ON du.u = s.u " +
        "JOIN deg dv ON dv.u = s.v, mm), " +
        "best AS (SELECT u, v, gain, row_number() OVER (PARTITION BY u " +
        "ORDER BY gain DESC, v ASC) AS rn FROM cand) " +
        "SELECT d.u AS vertex, CAST(CASE WHEN b.gain > 0 THEN b.v " +
        "ELSE d.u END AS BIGINT) AS community, " +
        "CAST(CASE WHEN b.gain > 0 THEN b.gain ELSE 0 END AS BIGINT) " +
        "AS gain_num FROM deg d JOIN best b ON b.u = d.u AND b.rn = 1"
    },
    // unrolled multi-level Louvain twin: LouvainLevels levels of
    // (contract weights by current labeling → strengths → integer ΔQ
    // gains → per-community argmax (gain DESC, partner ASC) among
    // positives → MUTUAL pairs merge to the smaller id). MATERIALIZED
    // per level like the kcore unroll (each CTE referenced 2-3x)
    "graph_louvain_full" -> {
      val levels = graft.operators.GraphOps.LouvainLevels
      val sb = new StringBuilder
      sb.append("WITH base AS MATERIALIZED (SELECT DISTINCT src, dst " +
        s"FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), ")
      sb.append("sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM base " +
        "UNION SELECT dst, src FROM base), ")
      sb.append("mm AS MATERIALIZED (SELECT COUNT(*) // 2 AS m FROM sym), ")
      sb.append("c0 AS MATERIALIZED (SELECT DISTINCT u AS vertex, " +
        "u AS community FROM sym), ")
      for (i <- 1 to levels) {
        val p = i - 1
        sb.append(s"w$i AS MATERIALIZED (SELECT ca.community AS a, " +
          "cb.community AS b, COUNT(*)::BIGINT AS w FROM sym s " +
          s"JOIN c$p ca ON ca.vertex = s.u " +
          s"JOIN c$p cb ON cb.vertex = s.v GROUP BY 1, 2), ")
        sb.append(s"k$i AS MATERIALIZED (SELECT a, SUM(w)::BIGINT AS k " +
          s"FROM w$i GROUP BY 1), ")
        sb.append(s"g$i AS MATERIALIZED (SELECT wa.a, wa.b, " +
          s"2 * mm.m * wa.w - ka.k * kb.k AS g FROM w$i wa " +
          s"JOIN k$i ka ON ka.a = wa.a JOIN k$i kb ON kb.a = wa.b, mm " +
          "WHERE wa.a <> wa.b), ")
        sb.append(s"b$i AS MATERIALIZED (SELECT a, b AS nbr FROM " +
          "(SELECT a, b, row_number() OVER (PARTITION BY a " +
          s"ORDER BY g DESC, b ASC) AS rn FROM g$i WHERE g > 0) " +
          "WHERE rn = 1), ")
        sb.append(s"m$i AS MATERIALIZED (SELECT x.a AS frm, x.nbr AS toc " +
          s"FROM b$i x JOIN b$i y ON y.a = x.nbr " +
          "WHERE y.nbr = x.a AND x.a > x.nbr), ")
        sb.append(s"c$i AS MATERIALIZED (SELECT c.vertex, " +
          "CAST(COALESCE(mg.toc, c.community) AS BIGINT) AS community " +
          s"FROM c$p c LEFT JOIN m$i mg ON mg.frm = c.community), ")
      }
      sb.setLength(sb.length - 2)
      sb.append(s" SELECT vertex, community FROM c$levels")
      sb.toString
    },
    "graph_modularity" ->
      // the LPA labeling spliced whole; sym rebuilt with the identical
      // sparsify/symmetrize expressions; each undirected intra edge
      // appears exactly twice in the sym bag (hence // 2)
      (s"WITH lpa AS MATERIALIZED (SELECT * FROM ($GraphLpaSql)), " +
        s"base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), " +
        "sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM base " +
        "UNION SELECT dst, src FROM base), " +
        "mm AS (SELECT COUNT(*) // 2 AS m FROM sym), " +
        "j AS MATERIALIZED (SELECT s.u, s.v, la.community AS c1, " +
        "lb.community AS c2 FROM sym s " +
        "JOIN lpa la ON la.vertex = s.u JOIN lpa lb ON lb.vertex = s.v), " +
        "intra AS (SELECT c1 AS community, COUNT(*) // 2 AS e_intra " +
        "FROM j WHERE c1 = c2 GROUP BY 1), " +
        "deg AS (SELECT c1 AS community, COUNT(*)::BIGINT AS d_tot " +
        "FROM j GROUP BY 1), " +
        "nv AS (SELECT community, COUNT(*)::BIGINT AS n_vertices " +
        "FROM lpa GROUP BY 1) " +
        "SELECT nv.community, nv.n_vertices, " +
        "CAST(COALESCE(intra.e_intra, 0) AS BIGINT) AS e_intra, " +
        "CAST(COALESCE(deg.d_tot, 0) AS BIGINT) AS d_tot, " +
        "CAST(mm.m AS BIGINT) AS m, " +
        "CAST(4 * mm.m * COALESCE(intra.e_intra, 0) - " +
        "COALESCE(deg.d_tot, 0) * COALESCE(deg.d_tot, 0) AS BIGINT) AS q_num " +
        "FROM nv LEFT JOIN deg ON deg.community = nv.community " +
        "LEFT JOIN intra ON intra.community = nv.community, mm"),
    // unrolled peeling twin of GraphOps.kCore: e0 = the symmetrized
    // simple graph, then KCoreMaxRounds rounds of "keep edges whose
    // BOTH endpoints currently have degree >= k" — the peel step is
    // the identity at the fixpoint, and the operator RAISES if the
    // bound is ever insufficient, so equal-by-unrolling is sound
    "graph_kcore" -> {
      val k = graft.operators.GraphOps.KCoreK
      val rounds = graft.operators.GraphOps.KCoreMaxRounds
      // every CTE is MATERIALIZED: DuckDB inlines multiply-referenced
      // CTEs by default, and e_i referencing e_{i-1} three times makes
      // the inlined plan EXPONENTIAL in the unroll depth (observed as
      // fd exhaustion re-opening the base parquet thousands of times)
      val cte = new StringBuilder
      cte ++= "WITH base AS MATERIALIZED " +
        s"(SELECT src, dst FROM ($EdgesCte) WHERE src <> dst), "
      cte ++= "e0 AS MATERIALIZED " +
        "(SELECT src, dst FROM base UNION SELECT dst, src FROM base)"
      for (i <- 1 to rounds) {
        cte ++= s", k$i AS MATERIALIZED (SELECT src AS v FROM e${i - 1} " +
          s"GROUP BY src HAVING COUNT(*) >= $k)"
        cte ++= s", e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e " +
          s"JOIN k$i a ON e.src = a.v JOIN k$i b ON e.dst = b.v)"
      }
      cte ++= s" SELECT src AS node_id, CAST(COUNT(*) AS BIGINT) AS degree " +
        s"FROM e$rounds GROUP BY src"
      cte.result()
    },
    // unrolled successive-peeling twin of GraphOps.coreness: levels
    // 2..CorenessMaxK each unroll CorenessMaxRounds peel rounds over
    // the previous level's fixpoint (identity once converged/empty);
    // coreness = 1 + |{levels whose fixpoint keeps the vertex}|.
    // Every CTE MATERIALIZED — see graph_kcore's exponential-inline
    // note
    "graph_coreness" -> {
      val kMax = graft.operators.GraphOps.CorenessMaxK
      val r = graft.operators.GraphOps.CorenessMaxRounds
      val cte = new StringBuilder
      cte ++= s"WITH sp AS MATERIALIZED (SELECT src, dst FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $ComponentsMod = 0 AND src <> dst), "
      cte ++= "e1 AS MATERIALIZED " +
        "(SELECT src, dst FROM sp UNION SELECT dst, src FROM sp)"
      var prev = "e1"
      for (k <- 2 to kMax) {
        for (i <- 1 to r) {
          val src = if (i == 1) prev else s"e${k}_${i - 1}"
          cte ++= s", k${k}_$i AS MATERIALIZED (SELECT src AS v FROM $src " +
            s"GROUP BY src HAVING COUNT(*) >= $k)"
          cte ++= s", e${k}_$i AS MATERIALIZED (SELECT e.src, e.dst " +
            s"FROM $src e JOIN k${k}_$i a ON e.src = a.v " +
            s"JOIN k${k}_$i b ON e.dst = b.v)"
        }
        cte ++= s", verts$k AS MATERIALIZED " +
          s"(SELECT DISTINCT src AS v FROM e${k}_$r)"
        prev = s"e${k}_$r"
      }
      val unions = (2 to kMax).map(k => s"SELECT v FROM verts$k")
        .mkString(" UNION ALL ")
      cte ++= s", extra AS (SELECT v, COUNT(*) AS cnt FROM ($unions) GROUP BY v)"
      cte ++= " SELECT v1.v AS node_id, " +
        "CAST(1 + COALESCE(extra.cnt, 0) AS BIGINT) AS coreness " +
        "FROM (SELECT DISTINCT src AS v FROM e1) v1 " +
        "LEFT JOIN extra ON extra.v = v1.v"
      cte.result()
    },
    "graph_link_prediction" -> {
      val cap = graft.operators.GraphOps.LinkPredMidCap
      val k = graft.operators.GraphOps.LinkPredK
      s"WITH sp AS (SELECT src, dst FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $LinkPredMod = 0 AND src <> dst), " +
        "und AS (SELECT src, dst FROM sp UNION SELECT dst, src FROM sp), " +
        "deg AS (SELECT src AS v, COUNT(*) AS d FROM und GROUP BY src), " +
        "mid AS (SELECT u.src AS m, u.dst AS x FROM und u " +
        s"JOIN deg ON deg.v = u.src WHERE deg.d <= $cap), " +
        "cand AS (SELECT a.x AS va, b.x AS vb, COUNT(*) AS shared " +
        "FROM mid a JOIN mid b ON a.m = b.m AND a.x < b.x GROUP BY 1, 2), " +
        "fresh AS (SELECT c.* FROM cand c WHERE NOT EXISTS " +
        "(SELECT 1 FROM und u WHERE u.src = c.va AND u.dst = c.vb)), " +
        "sc AS (SELECT f.va, f.vb, f.shared, " +
        "f.shared * 1000000 // (da.d + db.d - f.shared) AS jacc_ppm " +
        "FROM fresh f JOIN deg da ON da.v = f.va JOIN deg db ON db.v = f.vb), " +
        "s AS (SELECT va AS node_id, vb AS candidate_id, shared, jacc_ppm FROM sc " +
        "UNION ALL SELECT vb, va, shared, jacc_ppm FROM sc), " +
        "r AS (SELECT s.*, row_number() OVER (PARTITION BY node_id " +
        "ORDER BY jacc_ppm DESC, candidate_id ASC) AS rnk FROM s) " +
        "SELECT node_id, CAST(rnk AS BIGINT) AS \"rank\", candidate_id, " +
        "CAST(shared AS BIGINT) AS shared, CAST(jacc_ppm AS BIGINT) AS jacc_ppm " +
        s"FROM r WHERE rnk <= $k"
    },
    // tie-strength oracle: the link-prediction CTEs with the adjacency
    // LEFT join instead of the NOT EXISTS anti-join — every canonical
    // edge reports, zero-shared bridges included
    "graph_tie_strength" -> {
      val cap = graft.operators.GraphOps.LinkPredMidCap
      s"WITH sp AS (SELECT src, dst FROM ($EdgesCte) " +
        s"WHERE (src * 31 + dst) % $LinkPredMod = 0 AND src <> dst), " +
        "und AS (SELECT src, dst FROM sp UNION SELECT dst, src FROM sp), " +
        "deg AS (SELECT src AS v, COUNT(*) AS d FROM und GROUP BY src), " +
        "mid AS (SELECT u.src AS m, u.dst AS x FROM und u " +
        s"JOIN deg ON deg.v = u.src WHERE deg.d <= $cap), " +
        "cand AS (SELECT a.x AS va, b.x AS vb, COUNT(*) AS sh " +
        "FROM mid a JOIN mid b ON a.m = b.m AND a.x < b.x GROUP BY 1, 2), " +
        "ec AS (SELECT src AS va, dst AS vb FROM und WHERE src < dst) " +
        "SELECT ec.va AS src, ec.vb AS dst, " +
        "CAST(COALESCE(c.sh, 0) AS BIGINT) AS shared, " +
        "CAST(COALESCE(c.sh, 0) * 1000000 // " +
        "(da.d + db.d - COALESCE(c.sh, 0)) AS BIGINT) AS jacc_ppm " +
        "FROM ec LEFT JOIN cand c ON c.va = ec.va AND c.vb = ec.vb " +
        "JOIN deg da ON da.v = ec.va JOIN deg db ON db.v = ec.vb"
    },
    "graph_assortativity" ->
      (s"WITH base AS (SELECT src, dst FROM ($EdgesCte) WHERE src <> dst), " +
        "und AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base), " +
        "deg AS (SELECT src AS v, COUNT(*) AS d FROM und GROUP BY src), " +
        "j AS (SELECT du.d AS x, dv.d AS y FROM und e " +
        "JOIN deg du ON e.src = du.v JOIN deg dv ON e.dst = dv.v) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_edges, " +
        "CAST(SUM(x) AS BIGINT) AS sum_x, CAST(SUM(y) AS BIGINT) AS sum_y, " +
        "CAST(SUM(x * y) AS BIGINT) AS sum_xy, " +
        "CAST(SUM(x * x) AS BIGINT) AS sum_x2, " +
        "CAST(SUM(y * y) AS BIGINT) AS sum_y2 FROM j"),
    "graph_degree_hist" ->
      (s"WITH edges AS ($EdgesCte), deg AS ($DegCte) " +
        "SELECT CAST(n AS BIGINT) AS out_degree, " +
        "CAST(COUNT(*) AS BIGINT) AS n_vertices FROM deg GROUP BY n"),
    "graph_mutual" ->
      (s"WITH de AS (SELECT DISTINCT src, dst FROM ($EdgesCte) WHERE src <> dst) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS mutual_pairs " +
        "FROM de a JOIN de b ON a.src = b.dst AND a.dst = b.src " +
        "WHERE a.src < a.dst"),
    "path2_exact" ->
      (s"WITH edges AS ($EdgesCte), deg AS ($DegCte) " +
        "SELECT vertex, CAST(m * n AS BIGINT) AS paths FROM deg"),
    "path2_exact_total" ->
      (s"WITH edges AS ($EdgesCte), deg AS ($DegCte) " +
        "SELECT CAST(COALESCE(SUM(m * n), 0) AS BIGINT) AS total_paths FROM deg"),
    "path2_approx" ->
      (s"WITH edges AS (SELECT * FROM ($EdgesCte) WHERE src < $MaxApprox AND dst < $MaxApprox), " +
        s"deg AS ($DegCte) " +
        "SELECT vertex, CAST(m * n AS BIGINT) AS paths FROM deg"),
    "path2_approx_total" ->
      (s"WITH edges AS (SELECT * FROM ($EdgesCte) WHERE src < $MaxApprox AND dst < $MaxApprox), " +
        s"deg AS ($DegCte) " +
        "SELECT CAST(COALESCE(SUM(m * n), 0) AS BIGINT) AS total_paths FROM deg"),
    "path2_triples" ->
      (s"WITH e AS (SELECT * FROM ($EdgesCte) WHERE src < $MaxRS AND dst < $MaxRS) " +
        "SELECT a.src AS x, a.dst AS y, b.dst AS z " +
        "FROM e a JOIN e b ON a.dst = b.src AND a.src <> b.dst"),
    "triangles_rs" ->
      (s"WITH e AS (SELECT * FROM ($EdgesCte) WHERE src < $MaxRS AND dst < $MaxRS), " +
        "p AS (SELECT a.src AS x, b.dst AS z FROM e a " +
        "JOIN e b ON a.dst = b.src AND a.src <> b.dst) " +
        "SELECT CAST(COALESCE(COUNT(*), 0) // 3 AS BIGINT) AS triangles " +
        "FROM p JOIN e c ON c.dst = p.x AND c.src = p.z"),
    "triangles_vertex" ->
      // per-anchor cycle counts with bag multiplicity: the join
      // multiplies duplicate edge triples, so COUNT(*) per x equals
      // the weighted sum the operator computes
      (s"WITH e AS (SELECT * FROM ($EdgesCte) WHERE src < $MaxRS AND dst < $MaxRS), " +
        "p AS (SELECT a.src AS x, b.dst AS z FROM e a " +
        "JOIN e b ON a.dst = b.src AND a.src <> b.dst) " +
        "SELECT p.x AS vertex, CAST(COUNT(*) AS BIGINT) AS triangles " +
        "FROM p JOIN e c ON c.dst = p.x AND c.src = p.z GROUP BY p.x"),
    "triangles_rep" ->
      (s"WITH e AS (SELECT * FROM ($EdgesCte) WHERE src <= $MaxRep AND dst <= $MaxRep), " +
        "p AS (SELECT a.src AS x, b.dst AS z FROM e a JOIN e b ON a.dst = b.src) " +
        "SELECT CAST(COUNT(*) // 3 AS BIGINT) AS triangles FROM p " +
        "WHERE EXISTS (SELECT 1 FROM e c WHERE c.dst = p.x AND c.src = p.z)"),
    "graph_scc" ->
      // min mutually-reachable id via the directed transitive closure —
      // affordable on the < MaxRS subgraph (≤ MaxRS vertices)
      (s"WITH RECURSIVE base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE src < $MaxRS AND dst < $MaxRS " +
        s"AND (src * 31 + dst) % $SccMod = 0), " +
        "verts AS (SELECT src AS v FROM base UNION SELECT dst FROM base), " +
        "reach(u, w) AS (SELECT src, dst FROM base " +
        "UNION SELECT r.u, b.dst FROM reach r JOIN base b ON r.w = b.src), " +
        "mut AS (SELECT a.u AS v, a.w FROM reach a " +
        "JOIN reach b ON a.u = b.w AND a.w = b.u) " +
        "SELECT verts.v AS vertex, " +
        "CAST(LEAST(verts.v, COALESCE(MIN(mut.w), verts.v)) AS BIGINT) AS scc " +
        "FROM verts LEFT JOIN mut ON mut.v = verts.v GROUP BY verts.v"),
    "graph_scc_dag" ->
      // same closure-derived labeling, then edges mapped to labels and
      // intra-component rows dropped
      (s"WITH RECURSIVE base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE src < $MaxRS AND dst < $MaxRS " +
        s"AND (src * 31 + dst) % $SccMod = 0), " +
        "verts AS (SELECT src AS v FROM base UNION SELECT dst FROM base), " +
        "reach(u, w) AS (SELECT src, dst FROM base " +
        "UNION SELECT r.u, b.dst FROM reach r JOIN base b ON r.w = b.src), " +
        "mut AS (SELECT a.u AS v, a.w FROM reach a " +
        "JOIN reach b ON a.u = b.w AND a.w = b.u), " +
        "scc AS (SELECT verts.v AS vertex, " +
        "LEAST(verts.v, COALESCE(MIN(mut.w), verts.v)) AS lbl " +
        "FROM verts LEFT JOIN mut ON mut.v = verts.v GROUP BY verts.v) " +
        "SELECT DISTINCT CAST(a.lbl AS BIGINT) AS scc_src, " +
        "CAST(b.lbl AS BIGINT) AS scc_dst " +
        "FROM base JOIN scc a ON a.vertex = base.src " +
        "JOIN scc b ON b.vertex = base.dst WHERE a.lbl <> b.lbl"),
    "graph_walks" -> GraphWalksSql,
    "graph_walks_weighted" -> {
      // the cumulative-range transition: r = hash mod out-weight lands
      // in exactly one neighbor's [lo, hi) range (running sums over
      // unique dst per src — the frame is identical in both engines)
      val len = GraphOps.WalkLen
      val per = GraphOps.WalksPerSeed
      val steps = (1 to len).map { s =>
        val h = phSql(s"CAST(p.walk_id AS VARCHAR) || ':${s - 1}:' || " +
          "CAST(p.vertex AS VARCHAR)")
        s"w$s AS (SELECT p.walk_id, a.dst AS vertex FROM w${s - 1} p " +
          s"JOIN adj a ON a.src = p.vertex AND $h % a.tot >= a.lo " +
          s"AND $h % a.tot < a.hi)"
      }.mkString(", ")
      val out = (0 to len).map(s =>
        s"SELECT walk_id, CAST($s AS BIGINT) AS step, vertex FROM w$s")
        .mkString(" UNION ALL ")
      s"WITH e AS (SELECT src, dst, COUNT(*)::BIGINT AS w " +
        s"FROM ($EdgesCte) GROUP BY 1, 2), " +
        "adj AS (SELECT src, dst, w, " +
        "SUM(w) OVER (PARTITION BY src ORDER BY dst) AS hi, " +
        "SUM(w) OVER (PARTITION BY src ORDER BY dst) - w AS lo, " +
        "SUM(w) OVER (PARTITION BY src) AS tot FROM e), " +
        "seeds AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
        s"UNION ALL SELECT dst FROM e) WHERE v < $HopSeedMax), " +
        s"w0 AS (SELECT v * $per + j AS walk_id, v AS vertex FROM seeds, " +
        s"(SELECT unnest(range(0, $per)) AS j)) " +
        s", $steps $out"
    },
    "graph_walk_pairs" ->
      // skip-gram pairs over the SAME spliced walk corpus — the two
      // gates cannot drift
      (s"WITH w AS (SELECT * FROM ($GraphWalksSql)) " +
        "SELECT a.vertex AS center, b.vertex AS context, " +
        "CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM w a JOIN w b ON b.walk_id = a.walk_id " +
        "AND b.step <> a.step AND abs(a.step - b.step) <= " +
        s"${GraphOps.WalkWindow} GROUP BY 1, 2"),
    "graph_sssp" -> {
      // Bellman-Ford unrolled to EXACTLY SsspRounds min-combine rounds
      // (MATERIALIZED — each round CTE is referenced twice; DuckDB
      // would otherwise inline them exponentially, the kcore lesson).
      // The Spark side's early exit is a fixpoint, so extra oracle
      // rounds past convergence are identity.
      val rounds = GraphOps.SsspRounds
      val body = (1 to rounds).map { i =>
        s"d$i AS MATERIALIZED (SELECT v, MIN(dist) AS dist FROM (" +
          s"SELECT v, dist FROM d${i - 1} UNION ALL " +
          s"SELECT e.dst AS v, d${i - 1}.dist + e.w AS dist FROM d${i - 1} " +
          s"JOIN e ON e.src = d${i - 1}.v) GROUP BY v)"
      }.mkString(", ")
      s"WITH e AS MATERIALIZED (SELECT src, dst, COUNT(*)::BIGINT AS w " +
        s"FROM ($EdgesCte) GROUP BY 1, 2), " +
        "seeds AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
        s"UNION ALL SELECT dst FROM e) WHERE v < $HopSeedMax), " +
        s"d0 AS (SELECT v, CAST(0 AS BIGINT) AS dist FROM seeds), $body " +
        s"SELECT v AS vertex, CAST(dist AS BIGINT) AS dist FROM d$rounds"
    },
    "graph_hops" ->
      // bounded walk enumeration: every (vertex, depth ≤ HopMax) pair
      // on some path from a seed, MIN per vertex = BFS distance
      (s"WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
        "seeds AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
        s"UNION ALL SELECT dst FROM e) WHERE v < $HopSeedMax), " +
        "walk(v, dd) AS (SELECT v, 0 FROM seeds " +
        "UNION SELECT e.dst, walk.dd + 1 FROM walk " +
        s"JOIN e ON e.src = walk.v WHERE walk.dd < $HopMax) " +
        "SELECT v AS vertex, CAST(MIN(dd) AS BIGINT) AS dist " +
        "FROM walk GROUP BY v"),
    // unrolled support-peeling twin of GraphOps.kTruss: each round
    // counts every edge's common neighbors with one triangle join and
    // keeps support ≥ k−2 (an edge in no triangle has no support row —
    // dropped, exactly the operator's semi-join). Identity past the
    // fixpoint; every CTE MATERIALIZED (the kcore exponential-inline
    // lesson)
    "graph_ktruss" -> {
      val k = GraphOps.KTrussK
      val rounds = GraphOps.KTrussMaxRounds
      val cte = new StringBuilder
      cte ++= "WITH base AS MATERIALIZED (SELECT DISTINCT src, dst " +
        s"FROM ($EdgesCte) WHERE (src * 31 + dst) % $TrussMod = 0 " +
        "AND src <> dst), "
      cte ++= "e0 AS MATERIALIZED " +
        "(SELECT src, dst FROM base UNION SELECT dst, src FROM base)"
      for (i <- 1 to rounds) {
        cte ++= s", s$i AS MATERIALIZED (SELECT e.src, e.dst, " +
          s"COUNT(*) AS sup FROM e${i - 1} e " +
          s"JOIN e${i - 1} a ON a.src = e.src " +
          s"JOIN e${i - 1} b ON b.src = e.dst AND b.dst = a.dst " +
          "GROUP BY 1, 2)"
        cte ++= s", e$i AS MATERIALIZED (SELECT src, dst FROM s$i " +
          s"WHERE sup >= ${k - 2})"
      }
      cte ++= s", sfin AS (SELECT e.src, e.dst, COUNT(*) AS sup " +
        s"FROM e$rounds e JOIN e$rounds a ON a.src = e.src " +
        s"JOIN e$rounds b ON b.src = e.dst AND b.dst = a.dst " +
        "GROUP BY 1, 2)"
      cte ++= " SELECT src, dst, CAST(sup AS BIGINT) AS support " +
        "FROM sfin WHERE src < dst"
      cte.result()
    },
    "graph_path_counts" -> PathCountsSql,
    "graph_stress" -> StressSql,
    "graph_closeness_weighted" -> {
      // labeled Bellman-Ford unrolled to EXACTLY SsspRounds
      // min-combine rounds (each MATERIALIZED — the d_i CTEs are
      // referenced twice), seeds = the k smallest (poly_hash(v), v);
      // the operator's frontier-delta loop equals the synchronous
      // unroll by min-combine idempotence (ssspBudget's pinned law)
      val k = GraphOps.ClosenessSeeds
      val rounds = GraphOps.SsspRounds
      val body = (1 to rounds).map { i =>
        s"wd$i AS MATERIALIZED (SELECT s, v, MIN(dist) AS dist FROM (" +
          s"SELECT s, v, dist FROM wd${i - 1} UNION ALL " +
          s"SELECT d.s, e.dst, d.dist + e.w FROM wd${i - 1} d " +
          "JOIN e ON e.src = d.v) GROUP BY 1, 2)"
      }.mkString(", ")
      s"WITH e AS MATERIALIZED (SELECT src, dst, COUNT(*)::BIGINT AS w " +
        s"FROM ($EdgesCte) GROUP BY 1, 2), " +
        "verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
        "UNION ALL SELECT dst FROM e)), " +
        "seeds AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY " +
        s"${phSql("CAST(v AS VARCHAR)")}, v) AS rn FROM verts) " +
        s"WHERE rn <= $k), " +
        "wd0 AS (SELECT v AS s, v, CAST(0 AS BIGINT) AS dist FROM seeds), " +
        s"$body " +
        "SELECT v AS vertex, CAST(COUNT(*) AS BIGINT) AS n_reached, " +
        s"CAST(SUM(dist) AS BIGINT) AS sum_wdist, " +
        "CAST(SUM(CASE WHEN dist >= 1 THEN 1000000 // dist ELSE 0 END) " +
        s"AS BIGINT) AS harmonic_ppm FROM wd$rounds GROUP BY v"
    },
    "graph_closeness" -> {
      // per-SEED bounded walk enumeration (the walk state carries the
      // seed column, so MIN per (seed, vertex) is that source's exact
      // BFS layer), then the per-vertex sample aggregation; seeds are
      // the k smallest (poly_hash(v), v) — the same hash-chosen
      // sample the operator collects
      val k = GraphOps.ClosenessSeeds
      val h = GraphOps.ClosenessMaxHops
      s"WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
        "verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
        "UNION ALL SELECT dst FROM e)), " +
        "seeds AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY " +
        s"${phSql("CAST(v AS VARCHAR)")}, v) AS rn FROM verts) " +
        s"WHERE rn <= $k), " +
        "walk(s, v, dd) AS (SELECT v, v, 0 FROM seeds " +
        "UNION SELECT walk.s, e.dst, walk.dd + 1 FROM walk " +
        s"JOIN e ON e.src = walk.v WHERE walk.dd < $h), " +
        "d AS (SELECT s, v, MIN(dd) AS dist FROM walk GROUP BY 1, 2) " +
        "SELECT v AS vertex, CAST(COUNT(*) AS BIGINT) AS n_reached, " +
        "CAST(SUM(dist) AS BIGINT) AS sum_dist, " +
        "CAST(SUM(CASE WHEN dist >= 1 THEN 1000000 // dist ELSE 0 END) " +
        "AS BIGINT) AS harmonic_ppm FROM d GROUP BY v"
    },
    "graph_eccentricity" -> {
      // same per-seed bounded walk enumeration as graph_closeness,
      // aggregated per SEED: within-budget eccentricity + reach count
      val k = GraphOps.ClosenessSeeds
      val h = GraphOps.ClosenessMaxHops
      s"WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
        "verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
        "UNION ALL SELECT dst FROM e)), " +
        "seeds AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY " +
        s"${phSql("CAST(v AS VARCHAR)")}, v) AS rn FROM verts) " +
        s"WHERE rn <= $k), " +
        "walk(s, v, dd) AS (SELECT v, v, 0 FROM seeds " +
        "UNION SELECT walk.s, e.dst, walk.dd + 1 FROM walk " +
        s"JOIN e ON e.src = walk.v WHERE walk.dd < $h), " +
        "d AS (SELECT s, v, MIN(dd) AS dist FROM walk GROUP BY 1, 2) " +
        "SELECT s AS source, CAST(MAX(dist) AS BIGINT) AS ecc, " +
        "CAST(COUNT(*) AS BIGINT) AS n_reached FROM d GROUP BY s"
    },
    "graph_diameter" -> {
      // the per-seed eccentricity CTE collapsed to the 1-row
      // diameter-lower-bound / radius-estimate summary
      val k = GraphOps.ClosenessSeeds
      val h = GraphOps.ClosenessMaxHops
      s"WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ($EdgesCte)), " +
        "verts AS (SELECT DISTINCT v FROM (SELECT src AS v FROM e " +
        "UNION ALL SELECT dst FROM e)), " +
        "seeds AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY " +
        s"${phSql("CAST(v AS VARCHAR)")}, v) AS rn FROM verts) " +
        s"WHERE rn <= $k), " +
        "walk(s, v, dd) AS (SELECT v, v, 0 FROM seeds " +
        "UNION SELECT walk.s, e.dst, walk.dd + 1 FROM walk " +
        s"JOIN e ON e.src = walk.v WHERE walk.dd < $h), " +
        "d AS (SELECT s, v, MIN(dd) AS dist FROM walk GROUP BY 1, 2), " +
        "ec AS (SELECT s, MAX(dist) AS ecc FROM d GROUP BY s) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_seeds, " +
        "CAST(MAX(ecc) AS BIGINT) AS diameter_lb, " +
        "CAST(MIN(ecc) AS BIGINT) AS radius_est FROM ec"
    },
    "graph_hops_deep" ->
      // same min-over-reachable-depths form at the 64-hop budget over
      // the stride-7 doc_id chain graph; UNION dedup bounds the state
      // at (vertex, depth) pairs, and the chains are simple paths so
      // each vertex carries exactly one depth
      (s"WITH RECURSIVE e AS (SELECT a.doc_id AS src, b.doc_id AS dst " +
        "FROM documents a JOIN documents b " +
        s"ON b.doc_id = a.doc_id + $HopDeepStep), " +
        s"seeds AS (SELECT doc_id AS v FROM documents WHERE doc_id < $HopDeepStep), " +
        "walk(v, dd) AS (SELECT v, 0 FROM seeds " +
        "UNION SELECT e.dst, walk.dd + 1 FROM walk " +
        s"JOIN e ON e.src = walk.v WHERE walk.dd < $HopDeepMax) " +
        "SELECT v AS vertex, CAST(MIN(dd) AS BIGINT) AS dist " +
        "FROM walk GROUP BY v"),
    "graph_scc_levels" ->
      // levels via the recursive path-length enumeration: every (v, l)
      // pair reachable by some path, MAX per vertex = longest path —
      // terminates because the condensation is acyclic
      (s"WITH RECURSIVE base AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE src < $MaxRS AND dst < $MaxRS " +
        s"AND (src * 31 + dst) % $SccMod = 0), " +
        "verts AS (SELECT src AS v FROM base UNION SELECT dst FROM base), " +
        "reach(u, w) AS (SELECT src, dst FROM base " +
        "UNION SELECT r.u, b.dst FROM reach r JOIN base b ON r.w = b.src), " +
        "mut AS (SELECT a.u AS v, a.w FROM reach a " +
        "JOIN reach b ON a.u = b.w AND a.w = b.u), " +
        "scc AS (SELECT verts.v AS vertex, " +
        "LEAST(verts.v, COALESCE(MIN(mut.w), verts.v)) AS lbl " +
        "FROM verts LEFT JOIN mut ON mut.v = verts.v GROUP BY verts.v), " +
        "dag AS (SELECT DISTINCT a.lbl AS s, b.lbl AS d FROM base " +
        "JOIN scc a ON a.vertex = base.src " +
        "JOIN scc b ON b.vertex = base.dst WHERE a.lbl <> b.lbl), " +
        "dv AS (SELECT s AS v FROM dag UNION SELECT d FROM dag), " +
        "lv(v, l) AS (SELECT v, 0 FROM dv " +
        "UNION SELECT dag.d, lv.l + 1 FROM lv JOIN dag ON dag.s = lv.v) " +
        "SELECT v AS vertex, CAST(MAX(l) AS BIGINT) AS level " +
        "FROM lv GROUP BY v"),
    "graph_clustering" -> {
      val sc = GraphOps.CcScale
      s"WITH e AS (SELECT DISTINCT src, dst FROM ($EdgesCte) " +
        s"WHERE src < $MaxRS AND dst < $MaxRS), " +
        "p AS (SELECT a.src AS x, b.dst AS z FROM e a " +
        "JOIN e b ON a.dst = b.src AND a.src <> b.dst), " +
        "tri AS (SELECT p.x AS vertex, COUNT(*) AS t FROM p " +
        "JOIN e c ON c.dst = p.x AND c.src = p.z GROUP BY p.x), " +
        "nb AS (SELECT v AS vertex, COUNT(*) AS n FROM (" +
        "SELECT src AS v, dst AS u FROM e WHERE src <> dst " +
        "UNION SELECT dst, src FROM e WHERE src <> dst) GROUP BY v) " +
        "SELECT nb.vertex, CAST(COALESCE(t, 0) AS BIGINT) AS triangles, " +
        "CAST(n AS BIGINT) AS n_nbrs, " +
        s"CAST(CASE WHEN n < 2 THEN 0 ELSE (COALESCE(t, 0) * $sc) // " +
        "(n * (n - 1)) END AS BIGINT) AS cc_fp " +
        "FROM nb LEFT JOIN tri ON tri.vertex = nb.vertex"
    },
    // ---- extensions ----
    "text_tokens" ->
      ("SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens, " +
        "CAST(len(regexp_extract_all(text, '\\S{1,4}')) AS BIGINT) AS n_subtokens, " +
        "CAST(length(text) AS BIGINT) AS n_chars FROM documents"),
    "text_quality" ->
      ("WITH b AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        "len(regexp_extract_all(text, '[.,;:!?''\"()\\[\\]{}-]')) AS np, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents) " +
        "SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, CAST(np AS BIGINT) AS n_punct, " +
        "ns / GREATEST(nt, 1) AS avg_token_len, " +
        "st / GREATEST(nt, 1) AS stopword_ratio, " +
        s"$QualitySqlExpr AS quality FROM b"),
    // trained quality filter: the fitted perceptron weights, unrolled
    // epoch CTEs (the knn_ivf_centroids artifact-gate pattern)
    "text_quality_model" ->
      (s"WITH $QmTrainCtes SELECT * FROM (" +
        (0 until TextOps.QmDims).map(j =>
          s"SELECT CAST($j AS BIGINT) AS dim, w$j AS w " +
            s"FROM qw${TextOps.QmEpochs}").mkString(" UNION ALL ") +
        ")"),
    "text_quality_scored" ->
      (s"WITH $QmTrainCtes SELECT doc_id, m_score, " +
        "CAST(CASE WHEN m_score >= 0 THEN 1 ELSE 0 END AS BIGINT) " +
        "AS keep FROM (SELECT f.doc_id, " +
        s"CAST($qmScoreSql AS BIGINT) AS m_score " +
        s"FROM qf f, qw${TextOps.QmEpochs} w)"),
    // stored-serve ≡ in-session is byte-identical by construction
    // (integer weights round-trip parquet exactly) — shared oracle
    "text_quality_scored_stored" ->
      (s"WITH $QmTrainCtes SELECT doc_id, m_score, " +
        "CAST(CASE WHEN m_score >= 0 THEN 1 ELSE 0 END AS BIGINT) " +
        "AS keep FROM (SELECT f.doc_id, " +
        s"CAST($qmScoreSql AS BIGINT) AS m_score " +
        s"FROM qf f, qw${TextOps.QmEpochs} w)"),
    "text_quality_model_confusion" ->
      (s"WITH $QmTrainCtes, sc AS (SELECT f.y, " +
        s"CAST($qmScoreSql AS BIGINT) AS m_score " +
        s"FROM qf f, qw${TextOps.QmEpochs} w), " +
        "cm AS (SELECT " +
        "CAST(SUM(CASE WHEN m_score >= 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(SUM(CASE WHEN m_score >= 0 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(SUM(CASE WHEN m_score < 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
        "CAST(SUM(CASE WHEN m_score < 0 AND y = -1 THEN 1 ELSE 0 END) AS BIGINT) AS tn FROM sc) " +
        "SELECT tp, fp, fn, tn, " +
        "CAST(CASE WHEN tp + fp = 0 THEN 0 ELSE tp * 1000000 // (tp + fp) " +
        "END AS BIGINT) AS precision_ppm, " +
        "CAST(CASE WHEN tp + fn = 0 THEN 0 ELSE tp * 1000000 // (tp + fn) " +
        "END AS BIGINT) AS recall_ppm FROM cm"),
    "text_domain_rollup" ->
      (s"WITH $DomainHostCtes " +
        "SELECT host, regexp_extract(host, '[^.]+\\.[^.]+$', 0) AS domain, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) " +
        "AS total_tokens, " +
        "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs " +
        "FROM h GROUP BY host"),
    "text_domain_quota" ->
      (s"WITH $DomainHostCtes, " +
        "b AS (SELECT doc_id, host, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        "len(regexp_extract_all(text, " +
        s"'${graft.functions.TextFunctions.StopwordsRe}')) AS st FROM h), " +
        s"s2 AS (SELECT doc_id, host, $QualitySqlExpr AS quality FROM b), " +
        "r AS (SELECT doc_id, host, quality, row_number() OVER " +
        "(PARTITION BY host ORDER BY quality DESC, doc_id ASC) AS rnk " +
        "FROM s2) " +
        "SELECT doc_id, host, quality, CAST(rnk AS BIGINT) AS \"rank\" " +
        s"FROM r WHERE rnk <= ${TextOps.DomainQuotaK}"),
    "text_quality_model_calibration" ->
      (s"WITH $QmTrainCtes, sc AS (SELECT f.doc_id, f.y, " +
        s"CAST($qmScoreSql AS BIGINT) AS m_score " +
        s"FROM qf f, qw${TextOps.QmEpochs} w), " +
        "r AS (SELECT doc_id, y, row_number() OVER " +
        "(ORDER BY m_score, doc_id) AS rn, COUNT(*) OVER () AS n FROM sc), " +
        "dd AS (SELECT y, (rn - 1) * 10 // n AS m_decile FROM r) " +
        "SELECT CAST(m_decile AS BIGINT) AS m_decile, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_label_pos, " +
        "CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) * 1000000 " +
        "// COUNT(*) AS BIGINT) AS pos_ppm FROM dd GROUP BY 1"),
    "text_quality_model_agreement" ->
      (s"WITH $QmTrainCtes, sc AS (SELECT f.y, " +
        s"CAST($qmScoreSql AS BIGINT) AS m_score " +
        s"FROM qf f, qw${TextOps.QmEpochs} w) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN (m_score >= 0) = (y = 1) THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_agree, " +
        "CAST(SUM(CASE WHEN (m_score >= 0) = (y = 1) THEN 1 ELSE 0 END) " +
        "* 1000000 // COUNT(*) AS BIGINT) AS agree_ppm FROM sc"),
    // blocklist oracle: the same declared-terms join, per-(doc, term)
    // counts, (c desc, term asc) argmax, integer ppm density
    "wh_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(SUM(CAST(floor(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) " +
        "AS sum_base_cents, " +
        "CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) AS sum_disc_cents, " +
        "CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * " +
        "(1.0 + l_tax) * 100.0) AS BIGINT)) AS BIGINT) AS sum_charge_cents, " +
        "CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(SUM(CAST(floor(l_quantity) AS BIGINT)) * 1000000 // COUNT(*) " +
        "AS BIGINT) AS avg_qty_ppm FROM lineitem " +
        s"WHERE l_shipdate <= TIMESTAMP '${Warehouse.Q1Cutoff}' " +
        "GROUP BY 1, 2"),
    "wh_top_orders" ->
      ("WITH cust AS (SELECT c_custkey FROM customer " +
        s"WHERE c_mktsegment = '${Warehouse.Q3Segment}'), " +
        "ord AS (SELECT o_orderkey FROM orders " +
        "JOIN cust ON o_custkey = c_custkey " +
        s"WHERE o_orderdate < TIMESTAMP '${Warehouse.Q3Date}'), " +
        "li AS (SELECT l_orderkey, CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT) AS rev_c FROM lineitem " +
        s"WHERE l_shipdate > TIMESTAMP '${Warehouse.Q3Date}'), " +
        "agg AS (SELECT l_orderkey AS o_orderkey, " +
        "CAST(SUM(rev_c) AS BIGINT) AS revenue_cents FROM li " +
        "JOIN ord ON ord.o_orderkey = li.l_orderkey GROUP BY 1) " +
        "SELECT o_orderkey, revenue_cents FROM agg " +
        s"ORDER BY revenue_cents DESC, o_orderkey ASC LIMIT ${Warehouse.Q3TopK}"),
    "wh_region_revenue" ->
      ("WITH nat AS (SELECT n_nationkey, n_name FROM nation " +
        "JOIN region ON n_regionkey = r_regionkey " +
        s"WHERE r_name = '${Warehouse.Q5Region}'), " +
        "cust AS (SELECT c_custkey, c_nationkey FROM customer " +
        "JOIN nat ON c_nationkey = n_nationkey), " +
        "supp AS (SELECT s_suppkey, s_nationkey FROM supplier " +
        "JOIN nat ON s_nationkey = n_nationkey), " +
        "ord AS (SELECT o_orderkey, c_nationkey FROM orders " +
        "JOIN cust ON o_custkey = c_custkey " +
        s"WHERE o_orderdate >= TIMESTAMP '${Warehouse.Q5Start}' " +
        s"AND o_orderdate < TIMESTAMP '${Warehouse.Q5End}'), " +
        "sn AS (SELECT s_suppkey, s_nationkey, n_name FROM supp " +
        "JOIN nat ON s_nationkey = n_nationkey) " +
        "SELECT n_name, " +
        "CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents FROM lineitem " +
        "JOIN ord ON l_orderkey = o_orderkey " +
        "JOIN sn ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "GROUP BY 1"),
    "wh_rollup" ->
      ("SELECT l_returnflag, l_linestatus, " +
        "CAST(SUM(CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) AS revenue_cents, " +
        "CAST(COUNT(*) AS BIGINT) AS n_rows, " +
        "CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS lvl " +
        "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"),
    "wh_small_qty" ->
      ("WITH li AS (SELECT l_partkey, " +
        "CAST(floor(l_quantity) AS BIGINT) AS qty, " +
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) AS BIGINT) AS rev_c FROM lineitem), " +
        "pp AS (SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sum_qty, " +
        "CAST(COUNT(*) AS BIGINT) AS n_li FROM li GROUP BY 1) " +
        "SELECT p_brand, CAST(SUM(rev_c) AS BIGINT) AS revenue_cents, " +
        "CAST(COUNT(*) AS BIGINT) AS n_small FROM li " +
        "JOIN pp ON pp.l_partkey = li.l_partkey " +
        "JOIN part ON p_partkey = li.l_partkey " +
        s"WHERE qty * ${Warehouse.Q17Den} * n_li < " +
        s"sum_qty * ${Warehouse.Q17Num} GROUP BY 1"),
    "wh_join_stats" ->
      ("WITH lc AS (SELECT o_orderkey AS k, COUNT(*) AS cl FROM orders " +
        "GROUP BY 1), " +
        "rc AS (SELECT l_orderkey AS k, COUNT(*) AS cr FROM lineitem " +
        "GROUP BY 1), " +
        "ls AS (SELECT CAST(SUM(cl) AS BIGINT) AS n_left, " +
        "CAST(COUNT(*) AS BIGINT) AS n_left_keys, " +
        "CAST(MAX(cl) AS BIGINT) AS max_left_key FROM lc), " +
        "rs AS (SELECT CAST(SUM(cr) AS BIGINT) AS n_right, " +
        "CAST(COUNT(*) AS BIGINT) AS n_right_keys, " +
        "CAST(MAX(cr) AS BIGINT) AS max_right_key FROM rc), " +
        "js AS (SELECT CAST(COALESCE(SUM(cl * cr), 0) AS BIGINT) " +
        "AS join_rows FROM lc JOIN rc ON rc.k = lc.k), " +
        "c AS (SELECT *, CAST(CASE WHEN n_left >= n_right THEN " +
        "max_left_key * 1000000 // GREATEST(n_left, 1) ELSE " +
        "max_right_key * 1000000 // GREATEST(n_right, 1) END AS BIGINT) " +
        "AS skew_ppm FROM ls, rs, js) " +
        "SELECT n_left, n_right, n_left_keys, n_right_keys, join_rows, " +
        "max_left_key, max_right_key, skew_ppm, " +
        s"CASE WHEN skew_ppm > ${Warehouse.JoinSkewPpm} THEN 'salt' " +
        s"WHEN LEAST(n_left, n_right) <= ${Warehouse.JoinBroadcastRows} " +
        "THEN 'broadcast' ELSE 'shuffle' END AS hint FROM c"),
    "wh_order_priority" ->
      ("SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders " +
        "FROM orders o " +
        s"WHERE o_orderdate >= TIMESTAMP '${Warehouse.Q4Start}' " +
        s"AND o_orderdate < TIMESTAMP '${Warehouse.Q4End}' " +
        "AND EXISTS (SELECT 1 FROM lineitem l " +
        "WHERE l.l_orderkey = o.o_orderkey " +
        "AND l.l_shipdate > o.o_orderdate) GROUP BY 1"),
    // salting is an execution detail (salted ≡ plain, exactly) — the
    // plain join gates it
    "wh_salted_join" ->
      ("SELECT o_orderstatus, CAST(SUM(CAST(floor(l_quantity) " +
        "AS BIGINT)) AS BIGINT) AS sum_qty, " +
        "CAST(COUNT(*) AS BIGINT) AS n_rows " +
        "FROM lineitem JOIN orders ON o_orderkey = l_orderkey " +
        "GROUP BY 1"),
    // bucketing is an execution layout — the oracle is the plain join
    "wh_bucketed_join" ->
      ("SELECT o_orderstatus, CAST(SUM(CAST(floor(l_extendedprice * " +
        "(1.0 - l_discount) * 100.0) AS BIGINT)) AS BIGINT) " +
        "AS revenue_cents, CAST(COUNT(*) AS BIGINT) AS n_lineitems " +
        "FROM lineitem JOIN orders ON o_orderkey = l_orderkey " +
        "GROUP BY 1"),
    // Q9 oracle: the same 5-table join, year via extract (UTC session
    // ≡ DuckDB's naive timestamp year), integer-cents revenue
    "wh_product_profit" ->
      ("WITH p AS (SELECT p_partkey FROM part " +
        s"WHERE p_name LIKE '%${Warehouse.Q9NameToken}%'), " +
        "supp AS (SELECT s_suppkey, n_name FROM supplier " +
        "JOIN nation ON n_nationkey = s_nationkey), " +
        "li AS (SELECT l_orderkey, l_suppkey, " +
        "CAST(floor(l_extendedprice * (1.0 - l_discount) * 100.0) " +
        "AS BIGINT) AS rev_c FROM lineitem " +
        "JOIN p ON p.p_partkey = lineitem.l_partkey) " +
        "SELECT supp.n_name AS nation, " +
        "CAST(extract(year FROM o_orderdate) AS BIGINT) AS o_year, " +
        "CAST(SUM(rev_c) AS BIGINT) AS profit_cents, " +
        "CAST(COUNT(*) AS BIGINT) AS n_lineitems FROM li " +
        "JOIN supp ON supp.s_suppkey = li.l_suppkey " +
        "JOIN orders ON o_orderkey = li.l_orderkey " +
        "GROUP BY 1, 2"),
    // Q21 oracle: the literal correlated EXISTS / NOT EXISTS pair over
    // the shared F-order (orderkey, suppkey, late) relation — the
    // operator's semi/anti legs compile exactly this
    "wh_late_suppliers" ->
      ("WITH li AS (SELECT l_orderkey, l_suppkey, " +
        "l_shipdate > o_orderdate AS late FROM lineitem l " +
        "JOIN orders o ON o.o_orderkey = l.l_orderkey " +
        "WHERE o_orderstatus = 'F'), " +
        "l1 AS (SELECT DISTINCT l_orderkey, l_suppkey FROM li WHERE late), " +
        "b AS (SELECT * FROM l1 WHERE EXISTS (SELECT 1 FROM li x " +
        "WHERE x.l_orderkey = l1.l_orderkey " +
        "AND x.l_suppkey <> l1.l_suppkey) " +
        "AND NOT EXISTS (SELECT 1 FROM li y " +
        "WHERE y.l_orderkey = l1.l_orderkey " +
        "AND y.l_suppkey <> l1.l_suppkey AND y.late)), " +
        "c AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS numwait " +
        "FROM b GROUP BY 1) " +
        "SELECT s.s_name, c.numwait FROM c " +
        "JOIN supplier s ON s.s_suppkey = c.l_suppkey " +
        "JOIN nation n ON n.n_nationkey = s.s_nationkey " +
        s"AND n.n_name = '${Warehouse.Q21Nation}' " +
        "ORDER BY numwait DESC, s_name ASC " +
        s"LIMIT ${Warehouse.Q21TopK}"),
    "text_blocklist" -> {
      val ts = TextOps.BlocklistTerms
        .map(t => s"'${t.toLowerCase}'").mkString(", ")
      val mp = TextOps.BlocklistMaxPpm
      s"WITH terms AS (SELECT DISTINCT t AS term FROM " +
        s"(SELECT unnest([$ts]) AS t)), " +
        "nt AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS n_tokens FROM documents), " +
        "tok AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents), " +
        "b AS (SELECT doc_id, term, COUNT(*) AS c FROM tok " +
        "JOIN terms ON term = lower(token) GROUP BY 1, 2), " +
        "agg AS (SELECT doc_id, SUM(c) AS n_blocked FROM b GROUP BY 1), " +
        "tp AS (SELECT doc_id, term AS top_term FROM " +
        "(SELECT doc_id, term, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY c DESC, term ASC) AS rn FROM b) WHERE rn = 1), " +
        "f AS (SELECT nt.doc_id, nt.n_tokens, " +
        "COALESCE(agg.n_blocked, 0) AS n_blocked, tp.top_term FROM nt " +
        "LEFT JOIN agg ON agg.doc_id = nt.doc_id " +
        "LEFT JOIN tp ON tp.doc_id = nt.doc_id) " +
        "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "CAST(n_blocked AS BIGINT) AS n_blocked, " +
        "CAST(n_blocked * 1000000 // GREATEST(n_tokens, 1) AS BIGINT) " +
        "AS blocked_ppm, top_term, " +
        "CAST(CASE WHEN n_blocked * 1000000 // GREATEST(n_tokens, 1) " +
        s"> $mp THEN 1 ELSE 0 END AS BIGINT) AS flagged FROM f"
    },
    // the shared quality b/q chain with the clamp + salted-hash coin;
    // constants from TextOps so the two engines can't drift
    "text_sample_quality" -> {
      val floorPpm = graft.operators.TextOps.SampleFloorPpm
      "WITH b AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, $QualitySqlExpr AS quality FROM b), " +
        s"k AS (SELECT doc_id, GREATEST($floorPpm, LEAST(1000000, " +
        "CAST(FLOOR(quality * 1000000.0) AS BIGINT))) AS keep_ppm FROM q) " +
        "SELECT doc_id, keep_ppm FROM k WHERE " +
        s"${phSql("CAST(doc_id AS VARCHAR) || ':smp'")} % 1000000 < keep_ppm"
    },
    "docs_profile" -> profileSql("documents", Seq(
      "doc_id" -> Some("doc_id"), "text" -> None, "lang" -> None,
      "source" -> None, "n_chars" -> Some("n_chars"))),
    "docs_violations" ->
      ("WITH base AS (SELECT doc_id, text, " +
        "CASE WHEN doc_id % 97 = 1 THEN 'xx' ELSE lang END AS lang, " +
        "CASE WHEN doc_id % 83 = 3 THEN '' ELSE source END AS source, " +
        "CASE WHEN doc_id % 89 = 2 THEN n_chars + 1 ELSE n_chars END " +
        "AS n_chars FROM documents), " +
        "u AS (SELECT * FROM base UNION ALL " +
        "SELECT * FROM base WHERE doc_id % 101 = 5), " +
        "r AS (" +
        "SELECT doc_id AS key, 'doc_id_not_null' AS rule FROM u " +
        "WHERE NOT COALESCE(doc_id IS NOT NULL, FALSE) " +
        "UNION ALL SELECT doc_id, 'text_nonempty' FROM u " +
        "WHERE NOT COALESCE(text IS NOT NULL AND length(text) >= 1, FALSE) " +
        "UNION ALL SELECT doc_id, 'lang_known' FROM u " +
        "WHERE NOT COALESCE(lang IN ('de', 'en', 'es', 'fr', 'zh'), FALSE) " +
        "UNION ALL SELECT doc_id, 'n_chars_positive' FROM u " +
        "WHERE NOT COALESCE(n_chars >= 1, FALSE) " +
        "UNION ALL SELECT doc_id, 'n_chars_consistent' FROM u " +
        "WHERE NOT COALESCE(length(text) = n_chars, FALSE) " +
        "UNION ALL SELECT doc_id, 'source_not_null' FROM u " +
        "WHERE NOT COALESCE(source IS NOT NULL AND source <> '', FALSE) " +
        "UNION ALL SELECT u.doc_id, 'doc_id_unique' FROM u " +
        "JOIN (SELECT doc_id FROM u WHERE doc_id IS NOT NULL " +
        "GROUP BY 1 HAVING COUNT(*) > 1) d ON d.doc_id = u.doc_id) " +
        "SELECT key, rule FROM r"),
    "docs_expectations" -> {
      // one aggregate CTE holds every rule's numerator; each rule is
      // one SELECT over it (metric = ⌊num·1e6/n⌋, empty input passes
      // vacuously — the operator's documented convention)
      val langs = graft.operators.Profile.DocLangs
        .map(l => s"'$l'").mkString(", ")
      val rules = Seq(
        "doc_id_not_null" ->
          "SUM(CASE WHEN doc_id IS NOT NULL THEN 1 ELSE 0 END)",
        "doc_id_unique" -> "COUNT(DISTINCT doc_id)",
        "text_nonempty" ->
          ("SUM(CASE WHEN text IS NOT NULL AND length(text) >= 1 " +
            "THEN 1 ELSE 0 END)"),
        "lang_known" ->
          s"SUM(CASE WHEN lang IN ($langs) THEN 1 ELSE 0 END)",
        "n_chars_positive" ->
          "SUM(CASE WHEN n_chars >= 1 THEN 1 ELSE 0 END)",
        "n_chars_consistent" ->
          "SUM(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END)",
        "source_not_null" ->
          ("SUM(CASE WHEN source IS NOT NULL AND source <> '' " +
            "THEN 1 ELSE 0 END)"))
      val aggs = rules.map { case (r, e) => s"$e AS m_$r" }.mkString(", ")
      val sels = rules.map { case (r, _) =>
        s"SELECT '$r' AS rule, CASE WHEN n = 0 THEN 1000000 ELSE " +
          s"m_$r * 1000000 // n END AS metric_ppm FROM a"
      }.mkString(" UNION ALL ")
      s"WITH a AS (SELECT COUNT(*) AS n, $aggs FROM documents), " +
        s"r AS ($sels) " +
        "SELECT rule, CAST(metric_ppm AS BIGINT) AS metric_ppm, " +
        "CAST(1000000 AS BIGINT) AS threshold_ppm, " +
        "CAST(CASE WHEN metric_ppm >= 1000000 THEN 1 ELSE 0 END " +
        "AS BIGINT) AS pass FROM r"
    },
    // the text_vocab_hll state machinery grouped by column name over
    // the string-rendered unpivot (long→VARCHAR renders identically
    // on both engines; doubles deliberately excluded — see profileHll)
    "docs_profile_hll" -> {
      val m = graft.operators.TextOps.HllBuckets
      val cap = graft.operators.TextOps.HllCap
      val p2 = (1L << cap).toDouble
      val branches = Seq(
        "doc_id" -> "CAST(doc_id AS VARCHAR)", "text" -> "text",
        "lang" -> "lang", "source" -> "source",
        "n_chars" -> "CAST(n_chars AS VARCHAR)")
        .map { case (n, e) =>
          s"SELECT '$n' AS c, $e AS item FROM documents WHERE $e IS NOT NULL"
        }.mkString(" UNION ALL ")
      // the pre-mix pass (see Profile.profileHll: short digit
      // renderings are affine under PolyHash; re-render the combined
      // hash so the in-sketch pass gets full mod-reduction mixing)
      s"WITH raw_items AS ($branches), " +
        s"items AS (SELECT c, CAST(${phSql("item")} * " +
        s"${graft.functions.PolyHashUtil.Mod2} + ${phSql2("item")} " +
        "AS VARCHAR) AS item FROM raw_items), " +
        s"h AS (SELECT c, ${phSql("item")} * ${graft.functions.PolyHashUtil.Mod2} + " +
        s"${phSql2("item")} AS h FROM items), " +
        s"br AS (SELECT c, h % $m AS bucket, h // $m AS rest FROM h), " +
        s"rh AS (SELECT c, bucket, CASE WHEN rest = 0 THEN $cap ELSE " +
        s"LEAST($cap, bit_count((rest & (-rest)) - 1) + 1) END AS rho FROM br), " +
        "mx AS (SELECT c, bucket, MAX(rho) AS mr FROM rh GROUP BY c, bucket), " +
        "agg AS (SELECT c, COUNT(*) AS nz, " +
        s"COALESCE(SUM(1::BIGINT << ($cap - mr)), 0) AS sp FROM mx GROUP BY c) " +
        s"SELECT c AS \"column\", CAST($m AS BIGINT) AS m, " +
        s"CAST($m - nz AS BIGINT) AS n_empty, " +
        s"CAST(sp + ($m - nz) * (1::BIGINT << $cap) AS BIGINT) AS harmonic_scaled, " +
        s"0.7213 / (1.0 + 1.079 / ${m.toDouble}) * ${(m.toLong * m).toDouble} * " +
        s"$p2 / CAST(sp + ($m - nz) * (1::BIGINT << $cap) AS DOUBLE) AS est_raw " +
        "FROM agg"
    },
    "events_profile" -> profileSql("events", Seq(
      "event_id" -> Some("event_id"), "ts" -> Some("epoch_us(ts)"),
      "user_id" -> Some("user_id"), "event_type" -> None,
      "value" -> Some("value"), "props" -> None)),
    "text_langid" -> {
      // the SAME marker table the Spark op uses — single source of truth
      val markers = graft.functions.TextFunctions.LangMarkers
      val scoreCols = markers.map { case (l, re) =>
        s"len(regexp_extract_all(text, '$re')) AS s_$l"
      }.mkString(", ")
      val cases = markers.map { case (l, _) =>
        s"CASE WHEN s_$l = b AND b > 0 THEN '$l' END"
      }.mkString(", ")
      val best = markers.map { case (l, _) => s"s_$l" }.mkString("GREATEST(", ", ", ")")
      s"WITH s AS (SELECT doc_id, $scoreCols FROM documents), " +
        s"g AS (SELECT *, $best AS b FROM s) " +
        s"SELECT doc_id, COALESCE($cases, 'und') AS lang_guess FROM g"
    },
    // confusion oracle: the text_langid marker scoring joined back to
    // the label column, counted per (label, guess) cell
    "text_lang_confusion" -> {
      val markers = graft.functions.TextFunctions.LangMarkers
      val scoreCols = markers.map { case (l, re) =>
        s"len(regexp_extract_all(text, '$re')) AS s_$l"
      }.mkString(", ")
      val cases = markers.map { case (l, _) =>
        s"CASE WHEN s_$l = b AND b > 0 THEN '$l' END"
      }.mkString(", ")
      val best = markers.map { case (l, _) => s"s_$l" }.mkString("GREATEST(", ", ", ")")
      s"WITH s AS (SELECT doc_id, lang AS label, $scoreCols FROM documents), " +
        s"g AS (SELECT *, $best AS b FROM s) " +
        s"SELECT label, COALESCE($cases, 'und') AS lang_guess, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM g GROUP BY 1, 2"
    },
    "text_fingerprint" ->
      (s"SELECT doc_id, CAST(${phSql("text")} AS BIGINT) AS fingerprint FROM documents"),
    "text_split" ->
      (s"SELECT doc_id, CASE WHEN ${phSql("CAST(doc_id AS VARCHAR)")} % 100 < 10 " +
        "THEN 'val' ELSE 'train' END AS split FROM documents"),
    // shard = salted hash mod ShardCount; pos = exact rank within the
    // shard under the (":pos"-salted hash, doc_id) order — the
    // operator's range-partition rank equals the window rank exactly
    "text_shards" -> {
      val n = TextOps.ShardCount
      s"WITH k AS (SELECT doc_id, " +
        s"${phSql("CAST(doc_id AS VARCHAR) || ':shard'")} % $n AS shard, " +
        s"${phSql("CAST(doc_id AS VARCHAR) || ':pos'")} AS h " +
        "FROM documents) " +
        "SELECT doc_id, CAST(shard AS BIGINT) AS shard, " +
        "CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) " +
        "AS BIGINT) AS pos FROM k"
    },
    // text_split's hash rule keyed by the dedup_clusters root (the
    // same recursive closure over NgramPairsSql); unpaired docs root
    // as themselves via the COALESCE
    "text_split_leakage" ->
      (s"WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($NgramPairsSql) t), " +
        "sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u), " +
        "cl AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id " +
        "FROM reach GROUP BY u) " +
        "SELECT d.doc_id, CASE WHEN " +
        phSql("CAST(COALESCE(cl.cluster_id, d.doc_id) AS VARCHAR)") +
        " % 100 < 10 THEN 'val' ELSE 'train' END AS split " +
        "FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id"),
    "text_vocab" ->
      ("SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM " +
        "(SELECT unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents) " +
        "GROUP BY token ORDER BY n DESC, token ASC LIMIT 100"),
    "text_corpus_stats" ->
      ("SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(COALESCE(SUM(len(regexp_extract_all(text, '\\S+'))), 0) AS BIGINT) AS total_tokens, " +
        "CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS total_chars, " +
        "CAST(COALESCE(MAX(len(regexp_extract_all(text, '\\S+'))), 0) AS BIGINT) AS max_tokens " +
        "FROM documents"),
    // chunk starts via unnest(generate_series) — generate_series can't
    // take lateral column args as a table function in DuckDB, the
    // unnest-in-select form can; constants from TextOps so the window
    // geometry cannot drift
    "text_chunks" -> {
      val w = graft.operators.TextOps.ChunkWindow
      val stride = w - graft.operators.TextOps.ChunkOverlap
      s"WITH st AS (SELECT doc_id, text, unnest(generate_series(0, " +
        s"GREATEST(len(text) - 1, 0), $stride)) AS start FROM documents) " +
        s"SELECT doc_id, CAST(start // $stride AS BIGINT) AS chunk_idx, " +
        s"substr(text, CAST(start AS INT) + 1, $w) AS chunk, " +
        s"CAST(len(substr(text, CAST(start AS INT) + 1, $w)) AS BIGINT) AS n_chars " +
        "FROM st"
    },
    // per-source quality quantiles: the text_quality b CTE with source
    // carried through, then the events_quantiles rank-target selection
    "text_quality_by_source" -> {
      val pctsSql = graft.operators.TextOps.QuantilePcts
        .map(p => s"($p)").mkString(", ")
      "WITH b AS (SELECT doc_id, source, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, source, $QualitySqlExpr AS quality FROM b), " +
        "r AS (SELECT source, quality, " +
        "ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rn, " +
        "COUNT(*) OVER (PARTITION BY source) AS n FROM q) " +
        "SELECT source, CAST(p.pct AS BIGINT) AS pct, quality AS value_at " +
        s"FROM r JOIN (VALUES $pctsSql) p(pct) " +
        "ON r.rn = GREATEST(1, (p.pct * r.n + 99) // 100)"
    },
    // negatives oracle: dense hash-order rank via row_number, the same
    // permutation probe arithmetic, self-collisions dropped
    "text_negatives" -> {
      val k = graft.operators.TextOps.NegativesK
      s"WITH rk AS (SELECT doc_id, row_number() OVER (ORDER BY " +
        s"${phSql("CAST(doc_id AS VARCHAR)")}, doc_id) - 1 AS rnk " +
        "FROM documents), " +
        "nn AS (SELECT COUNT(*) AS n FROM documents), " +
        s"slots AS (SELECT unnest(range(0, $k)) AS slot), " +
        "pr AS (SELECT doc_id, slot, " +
        s"${phSql("CAST(doc_id AS VARCHAR) || ':' || CAST(slot AS VARCHAR)")} " +
        "% n AS neg_rank FROM rk, nn, slots) " +
        "SELECT p.doc_id, CAST(p.slot AS BIGINT) AS slot, " +
        "r2.doc_id AS neg_id FROM pr p JOIN rk r2 ON r2.rnk = p.neg_rank " +
        "WHERE r2.doc_id <> p.doc_id"
    },
    // winnowing oracle: the dedup_spans per-position direct-hash CTE,
    // then a w-row rolling MIN window per doc — partial windows at the
    // start are excluded (full-window semantics) EXCEPT the final
    // position of a doc with fewer than w k-grams, which mirrors the
    // Spark side's least(w-1, n-1) window-end lower bound
    "text_winnow" -> {
      val k = graft.operators.TextOps.WinnowGramChars
      val w = graft.operators.TextOps.WinnowWindow
      s"WITH g AS (SELECT doc_id, i - 1 AS pos, " +
        s"${phSql(s"substr(text, i::INT, $k)")} * " +
        s"${graft.functions.PolyHashUtil.Mod2} + " +
        s"${phSql2(s"substr(text, i::INT, $k)")} AS h " +
        s"FROM (SELECT doc_id, text, unnest(range(1, length(text) - $k + 2)) AS i " +
        s"FROM documents WHERE length(text) >= $k)), " +
        "m AS (SELECT doc_id, pos, MIN(h) OVER (PARTITION BY doc_id " +
        s"ORDER BY pos ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS fp, " +
        "MAX(pos) OVER (PARTITION BY doc_id) AS mx FROM g) " +
        "SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp FROM m " +
        s"WHERE pos >= ${w - 1} OR pos = mx"
    },
    // bigram-LM oracle: adjacent pairs via unnest(generate_series)
    // (empty for single-token docs), counts, continuation counts over
    // the distinct-bigram relation, deterministic top-k total order
    "text_bpe_train" -> {
      val rounds = graft.operators.TextOps.BpeTrainRounds
      val out = (1 to rounds).map(r =>
        s"SELECT CAST($r AS BIGINT) AS merge_rank, a, b, n FROM b$r")
        .mkString(" UNION ALL ")
      s"WITH ${bpeCtesSql(rounds)} $out"
    },
        // the stored-merges serve is byte-identical to in-session
    // training (the replayed replace chain) — one oracle gates both
    "text_bpe_encode_stored" -> BpeEncodeSql,
    "text_bpe_encode" -> BpeEncodeSql,
    // exact bit-length surprisal: bin() emits minimal-width binary in
    // BOTH engines, so length(bin(x)) = ⌊log2 x⌋+1 is integer-identical
    "text_surprisal" -> SurprisalSql,
    "text_quality_calibration" ->
      // joint decile histogram: the quality_deciles rank CTE x the
      // SAME spliced surprisal statement, both ranked (score, doc_id)
      ("WITH b AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, $QualitySqlExpr AS quality FROM b), " +
        "qr AS (SELECT doc_id, row_number() OVER (ORDER BY quality, doc_id) AS rn, " +
        "COUNT(*) OVER () AS n FROM q), " +
        "qd AS (SELECT doc_id, CAST((rn - 1) * 10 // n AS BIGINT) AS q_decile FROM qr), " +
        s"sp AS (SELECT doc_id, surp_ppm FROM ($SurprisalSql)), " +
        "sr AS (SELECT doc_id, row_number() OVER (ORDER BY surp_ppm, doc_id) AS rn, " +
        "COUNT(*) OVER () AS n FROM sp), " +
        "sd AS (SELECT doc_id, CAST((rn - 1) * 10 // n AS BIGINT) AS s_decile FROM sr) " +
        "SELECT qd.q_decile, sd.s_decile, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM qd JOIN sd ON sd.doc_id = qd.doc_id GROUP BY 1, 2"),
    "text_bm25" -> Bm25Sql,
    "text_bm25_prf" -> Bm25PrfSql,
    // inverted index: same \S+ tokens, df floor, (tf desc, doc_id)
    // posting rank — row_number is the TopKPerKey twin
    "text_postings" -> PostingsSql,
    "text_tfidf" -> {
      // signed feature hashing over the tf relation; idf_bits is the
      // bm25 oracle's exact-integer Robertson idf; zero-sum collision
      // cancellations dropped (HAVING) per the operator contract
      val dims = TextOps.TfidfDims
      "WITH tk AS (SELECT doc_id, " +
        "unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, COUNT(*)::BIGINT AS tf " +
        "FROM tk GROUP BY 1, 2), " +
        "n AS (SELECT COUNT(*)::BIGINT AS n FROM documents), " +
        "idf AS (SELECT token, length(bin(CAST((2 * (n.n - COUNT(*)) + 1) // " +
        "(2 * COUNT(*) + 1) + 1 AS BIGINT)))::BIGINT AS idf_bits " +
        "FROM tf, n GROUP BY token, n.n), " +
        s"w AS (SELECT tf.doc_id, ${phSql("tf.token")} % $dims AS dim, " +
        s"(1 - 2 * (${phSql2("tf.token")} % 2)) * tf.tf * idf.idf_bits AS w " +
        "FROM tf JOIN idf USING (token)) " +
        "SELECT doc_id, CAST(dim AS BIGINT) AS dim, " +
        "CAST(SUM(w) AS BIGINT) AS w FROM w GROUP BY 1, 2 " +
        "HAVING SUM(w) <> 0"
    },
    // the incremental path is an execution detail (stored index +
    // delta merge instead of a rescan) — chained ≡ one-shot is exact,
    // so the full-rebuild SQL is the oracle verbatim
    "text_postings_incremental" -> PostingsSql,
    // the depth-capped stored-index serve: bm25's SQL with candidates
    // restricted to each token's top-PostingsK postings (df stays
    // full — every surviving candidate's score is unchanged)
    "text_bm25_indexed" ->
      bm25SqlFor(TextOps.Bm25K, postingCap = TextOps.Bm25IndexDepth.toLong),
    // the incremental refresh is an execution detail (stored index +
    // O(batch) delta merge instead of a rebuild) — the one-shot
    // indexed SQL gates it verbatim, so chained ≡ one-shot IS the gate
    "text_bm25_incremental" ->
      bm25SqlFor(TextOps.Bm25K, postingCap = TextOps.Bm25IndexDepth.toLong),
    // the stored-tier PRF: the full PRF chain over the depth-capped
    // posting relation — both passes, the feedback-term pool, and the
    // true-df idf mirror the bm25PrfFromIndex serve exactly
    "text_bm25_prf_indexed" ->
      bm25PrfSqlFor(postingCap = TextOps.Bm25IndexDepth.toLong),
    // RRF splice of the two stored-tier oracles — the HybridSql shape
    // with the posting-capped bm25 pool and the corpus-restricted SQ8
    // pool
    "search_hybrid_indexed" -> {
      val nq = TextOps.Bm25Queries
      val pool = Similarity.RrfPool
      val base = Similarity.RrfBase
      val k = Similarity.HybridK
      s"WITH kw AS (SELECT query_id, doc_id, \"rank\" AS kw_rank " +
        s"FROM (${bm25SqlFor(pool, postingCap = TextOps.Bm25IndexDepth.toLong)})" +
        "), vec AS (SELECT query_id, neighbor_id AS doc_id, " +
        "\"rank\" AS vec_rank " +
        s"FROM (${knnSq8SqlFor(pool, nq, minCorpusId = nq)})), " +
        "f AS (SELECT COALESCE(kw.query_id, vec.query_id) AS query_id, " +
        "COALESCE(kw.doc_id, vec.doc_id) AS doc_id, " +
        s"COALESCE(1000000 // ($base + kw_rank), 0) + " +
        s"COALESCE(1000000 // ($base + vec_rank), 0) AS rrf_ppm " +
        "FROM kw FULL OUTER JOIN vec ON vec.query_id = kw.query_id " +
        "AND vec.doc_id = kw.doc_id), " +
        "r AS (SELECT query_id, doc_id, rrf_ppm, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY rrf_ppm DESC, doc_id ASC) " +
        "AS rnk FROM f) " +
        s"SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", doc_id, " +
        s"CAST(rrf_ppm AS BIGINT) AS rrf_ppm FROM r WHERE rnk <= $k"
    },
    "text_bm25_indexed_recall" -> recallSql(
      s"SELECT query_id, doc_id AS neighbor_id FROM ($Bm25Sql)",
      "SELECT query_id, doc_id AS neighbor_id FROM (" +
        bm25SqlFor(TextOps.Bm25K,
          postingCap = TextOps.Bm25IndexDepth.toLong) + ")"),
    "text_bm25_prf_indexed_recall" -> recallSql(
      s"SELECT query_id, doc_id AS neighbor_id FROM ($Bm25PrfSql)",
      "SELECT query_id, doc_id AS neighbor_id FROM (" +
        bm25PrfSqlFor(postingCap = TextOps.Bm25IndexDepth.toLong) + ")"),
    "search_hybrid" -> HybridSql,
    "knn_filtered" -> KnnFilteredSql,
    "knn_ivf_filtered" -> KnnIvfFilteredSql,
    "text_bigram_lm" -> {
      val k = graft.operators.TextOps.BigramTopK
      "WITH t AS (SELECT regexp_extract_all(text, '\\S+') AS tk FROM documents), " +
        "ix AS (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS i FROM t), " +
        "p AS (SELECT tk[i] AS w1, tk[i + 1] AS w2 FROM ix), " +
        "bi AS (SELECT w1, w2, COUNT(*) AS cnt FROM p GROUP BY 1, 2), " +
        "cont AS (SELECT w2, COUNT(*) AS w2_contexts FROM bi GROUP BY 1), " +
        s"top AS (SELECT w1, w2, cnt FROM bi ORDER BY cnt DESC, w1 ASC, w2 ASC LIMIT $k) " +
        "SELECT top.w1, top.w2, CAST(top.cnt AS BIGINT) AS cnt, " +
        "CAST(cont.w2_contexts AS BIGINT) AS w2_contexts " +
        "FROM top JOIN cont USING (w2)"
    },
    "text_normalize" ->
      ("SELECT doc_id, trim(regexp_replace(lower(nfc_normalize(text)), " +
        "'\\s+', ' ', 'g')) AS text FROM documents"),
    // same augmentation expression, then the SAME pattern chain in the
    // same order (patterns are single-sourced from TextOps.PiiPatterns;
    // single quotes escaped as '' for the splice — today's patterns
    // carry none, but a future one must not break the oracle silently)
    "text_pii" -> {
      def sq(s: String): String = s.replace("'", "''")
      val aug = "text || ' u' || CAST(doc_id AS VARCHAR) || " +
        "'@ex.org 123-45-' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' 555.867.' || " +
        "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' 10.0.' || " +
        "CAST(doc_id % 256 AS VARCHAR) || '.7'"
      val scrubbed = TextOps.PiiPatterns.foldLeft(aug) {
        case (e, (pat, tag)) =>
          s"regexp_replace($e, '${sq(assertPortableRegex(pat))}', " +
            s"'${sq(tag)}', 'g')"
      }
      s"SELECT doc_id, $scrubbed AS text FROM documents"
    },
    "text_contamination" -> contaminationOracle,
    // the bloom prefilter is an execution detail (fixed 8 KB bit array
    // instead of a broadcast probe set; exact join removes every bloom
    // false positive) — same output, same oracle
    "text_contamination_bloom" -> contaminationOracle,
    // the stored index is the same relation, read instead of
    // recomputed — same output, same oracle
    "text_contamination_indexed" -> contaminationOracle,
    // chained ≡ one-shot: the delta-merged index must screen exactly
    // like a full rebuild, so the oracle is the rebuild SQL verbatim
    "text_contamination_incremental" -> contaminationOracle,
    "text_pack" ->
      ("WITH t AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS n FROM documents), " +
        "c AS (SELECT doc_id, n, COALESCE(SUM(n) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, " +
        "CAST(cum // 2048 AS BIGINT) AS seq_id, " +
        "CAST(cum % 2048 AS BIGINT) AS seq_off FROM c"),
    // NON-distinct shingle hash list (hsCteFor would list_distinct it)
    "text_repetition" ->
      ("WITH r AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t " +
        "FROM documents), " +
        "hh AS (SELECT doc_id, list_transform(list_transform(" +
        "range(1, greatest(len(t) - 1, 1)), " +
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]), " +
        s"s -> ${phSql("s")}) AS hs FROM r) " +
        "SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles, " +
        "CAST(len(list_distinct(hs)) AS BIGINT) AS n_distinct, " +
        "(len(hs) - len(list_distinct(hs))) / GREATEST(len(hs), 1) AS dup_ratio " +
        "FROM hh"),
    // same quality formula (and float op order) as text_quality; the
    // per-language row_number twin of the TopKPerKey heap
    "text_quota" ->
      ("WITH b AS (SELECT doc_id, lang, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents), " +
        "s AS (SELECT doc_id, lang, " +
        s"$QualitySqlExpr AS quality FROM b), " +
        "r AS (SELECT doc_id, lang, quality, row_number() OVER " +
        "(PARTITION BY lang ORDER BY quality DESC, doc_id ASC) AS rnk FROM s) " +
        "SELECT doc_id, lang, quality, CAST(rnk AS BIGINT) AS \"rank\" " +
        "FROM r WHERE rnk <= 25"),
    // the mix table's CASE is generated from the same MixPpm map the
    // Spark query passes — srcI gets (I+1)/10 epochs, covering both
    // down-sampling (< 1e6 ppm) and multi-epoch up-sampling (> 1e6)
    "text_mix" -> {
      import graft.functions.VectorExprUtil.{PlaneM31, PlaneMul1, PlaneMul2, PlaneMul3}
      val den = TextOps.MixDen
      val cases = MixPpm.toSeq.sortBy(_._1)
        .map { case (s, p) => s"WHEN '$s' THEN ${p}" }.mkString(" ")
      // the same plane-mixer scramble the Spark side applies (a rolling
      // PolyHash is affine in the last id digit — see TextOps.mixCorpus)
      s"WITH p0 AS (SELECT doc_id, source, " +
        s"CAST(CASE source $cases ELSE $den END AS BIGINT) AS ppm, " +
        s"${phSql2("('mix:' || CAST(doc_id AS VARCHAR))")} AS x0 FROM documents), " +
        s"p1 AS (SELECT *, (x0 * $PlaneMul1) % $PlaneM31 AS x1 FROM p0), " +
        "p2 AS (SELECT *, xor(x1, x1 >> 15) AS x2 FROM p1), " +
        s"p3 AS (SELECT *, (x2 * $PlaneMul2) % $PlaneM31 AS x3 FROM p2), " +
        "p4 AS (SELECT *, xor(x3, x3 >> 13) AS x4 FROM p3), " +
        s"p AS (SELECT doc_id, source, ppm, " +
        s"((x4 * $PlaneMul3) % $PlaneM31) % $den AS h FROM p4), " +
        s"c AS (SELECT doc_id, source, ppm // $den + " +
        s"CASE WHEN h < ppm % $den THEN 1 ELSE 0 END AS n FROM p) " +
        "SELECT doc_id, source, CAST(epoch AS BIGINT) AS epoch FROM " +
        "(SELECT doc_id, source, unnest(range(0, n)) AS epoch FROM c WHERE n > 0)"
    },
    "text_domain_mix" -> {
      import graft.functions.VectorExprUtil.{PlaneM31, PlaneMul1, PlaneMul2, PlaneMul3}
      val den = TextOps.MixDen
      val cases = DomainMixPpm.toSeq.sortBy(_._1)
        .map { case (dm, p) => s"WHEN '$dm' THEN ${p}" }.mkString(" ")
      s"WITH $DomainHostCtes, " +
        "dm AS (SELECT doc_id, " +
        "regexp_extract(host, '[^.]+\\.[^.]+$', 0) AS domain FROM h), " +
        "p0 AS (SELECT doc_id, domain, " +
        s"CAST(CASE domain $cases ELSE $den END AS BIGINT) AS ppm, " +
        s"${phSql2("('mix:' || CAST(doc_id AS VARCHAR))")} AS x0 FROM dm), " +
        s"p1 AS (SELECT *, (x0 * $PlaneMul1) % $PlaneM31 AS x1 FROM p0), " +
        "pp2 AS (SELECT *, xor(x1, x1 >> 15) AS x2 FROM p1), " +
        s"p3 AS (SELECT *, (x2 * $PlaneMul2) % $PlaneM31 AS x3 FROM pp2), " +
        "p4 AS (SELECT *, xor(x3, x3 >> 13) AS x4 FROM p3), " +
        s"p AS (SELECT doc_id, domain, ppm, " +
        s"((x4 * $PlaneMul3) % $PlaneM31) % $den AS hh FROM p4), " +
        s"c AS (SELECT doc_id, domain, ppm // $den + " +
        s"CASE WHEN hh < ppm % $den THEN 1 ELSE 0 END AS n FROM p) " +
        "SELECT doc_id, domain, CAST(epoch AS BIGINT) AS epoch FROM " +
        "(SELECT doc_id, domain, unnest(range(0, n)) AS epoch FROM c WHERE n > 0)"
    },
    // bucket of global rank r (1-based) = (r-1)*buckets // N — integer
    // outputs only, so the distributed two-pass rank is hash-exact
    "text_deciles" ->
      ("WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nt FROM documents), " +
        "n AS (SELECT GREATEST(COUNT(*), 1) AS n FROM t), " +
        "r AS (SELECT nt, row_number() OVER (ORDER BY nt, doc_id) AS rnk FROM t) " +
        "SELECT CAST((rnk - 1) * 10 // n.n AS BIGINT) AS decile, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(MIN(nt) AS BIGINT) AS min_tokens, " +
        "CAST(MAX(nt) AS BIGINT) AS max_tokens, " +
        "CAST(SUM(nt) AS BIGINT) AS sum_tokens " +
        "FROM r, n GROUP BY 1"),
    // per-doc decile stamp: same (quality, doc_id) total order and the
    // same (rn-1)*buckets//n bucket arithmetic as the rank machinery
    "text_quality_deciles" ->
      ("WITH b AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, $QualitySqlExpr AS quality FROM b), " +
        "r AS (SELECT doc_id, row_number() OVER (ORDER BY quality, doc_id) AS rn, " +
        "COUNT(*) OVER () AS n FROM q) " +
        "SELECT doc_id, CAST((rn - 1) * 10 // n AS BIGINT) AS decile FROM r"),
    // twin of bpePairCounts: same \S+ words, frequency-weighted char
    // bigrams over the distinct vocabulary (range(1, length) is empty
    // below 2 chars, mirroring the length >= 2 filter)
    "text_bpe_pairs" -> {
      val k = graft.operators.TextOps.BpeTopK
      "WITH w AS (SELECT token, COUNT(*) AS f FROM " +
        "(SELECT unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents) " +
        "GROUP BY token), " +
        "p AS (SELECT unnest(list_transform(range(1, length(token)), " +
        "i -> substr(token, CAST(i AS BIGINT), 2))) AS pair, f FROM w) " +
        "SELECT pair, CAST(SUM(f) AS BIGINT) AS n FROM p GROUP BY pair " +
        s"ORDER BY n DESC, pair ASC LIMIT $k"
    },
    // twin of TextOps.importanceWeights: same \S+ tokens, same
    // poly_hash % buckets, same two-stage integer ppm ratio (DuckDB //
    // == Spark div on non-negative longs), same add-one smoothing and
    // 1e9 cap, same token-count-weighted integer mean
    "text_importance" -> {
      val b = graft.operators.TextOps.ImportanceBuckets
      val sc = graft.operators.TextOps.ImportanceScale
      val cap = graft.operators.TextOps.ImportanceCap
      s"WITH tk AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t, " +
        "unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents), " +
        s"tkb AS (SELECT doc_id, is_t, ${phSql("token")} % $b AS bucket FROM tk), " +
        "bc AS (SELECT bucket, COUNT(*) AS raw_n, SUM(is_t) AS tgt_n " +
        "FROM tkb GROUP BY bucket), " +
        "tot AS (SELECT COUNT(*) AS raw_tot, SUM(is_t) AS tgt_tot FROM tkb), " +
        s"w AS (SELECT bucket, LEAST(((tgt_n + 1) * $sc // (tgt_tot + $b)) * $sc " +
        s"// GREATEST((raw_n + 1) * $sc // (raw_tot + $b), 1), $cap) AS w " +
        "FROM bc, tot), " +
        "ds AS (SELECT t.doc_id, COUNT(*) AS n_tokens, SUM(w.w) AS sw " +
        "FROM tkb t JOIN w USING (bucket) GROUP BY t.doc_id) " +
        "SELECT d.doc_id, CAST(COALESCE(ds.n_tokens, 0) AS BIGINT) AS n_tokens, " +
        "CAST(COALESCE(ds.sw // ds.n_tokens, 0) AS BIGINT) AS imp_ppm " +
        "FROM documents d LEFT JOIN ds ON ds.doc_id = d.doc_id"
    },
    "text_vocab_hll" -> {
      val m = graft.operators.TextOps.HllBuckets
      val cap = graft.operators.TextOps.HllCap
      val p2 = (1L << cap).toDouble // 2^cap, exact in double
      s"WITH tok AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS token " +
        "FROM documents), " +
        s"h AS (SELECT ${phSql("token")} * ${graft.functions.PolyHashUtil.Mod2} + " +
        s"${phSql2("token")} AS h FROM tok), " +
        s"br AS (SELECT h % $m AS bucket, h // $m AS rest FROM h), " +
        s"rh AS (SELECT bucket, CASE WHEN rest = 0 THEN $cap ELSE " +
        s"LEAST($cap, bit_count((rest & (-rest)) - 1) + 1) END AS rho FROM br), " +
        "mx AS (SELECT bucket, MAX(rho) AS mr FROM rh GROUP BY bucket), " +
        "agg AS (SELECT COUNT(*) AS nz, " +
        s"COALESCE(SUM(1::BIGINT << ($cap - mr)), 0) AS sp FROM mx) " +
        s"SELECT CAST($m AS BIGINT) AS m, CAST($m - nz AS BIGINT) AS n_empty, " +
        s"CAST(sp + ($m - nz) * (1::BIGINT << $cap) AS BIGINT) AS harmonic_scaled, " +
        s"0.7213 / (1.0 + 1.079 / ${m.toDouble}) * ${(m.toLong * m).toDouble} * " +
        s"$p2 / CAST(sp + ($m - nz) * (1::BIGINT << $cap) AS DOUBLE) AS est_raw " +
        "FROM agg"
    },
    "text_source_overlap_hll" -> {
      val m = graft.operators.TextOps.HllBuckets
      val cap = graft.operators.TextOps.HllCap
      val p2 = (1L << cap).toDouble
      val mod2 = graft.functions.PolyHashUtil.Mod2
      // one fixed-order float expression per estimate row — identical
      // to hllFinalize's ((alpha · m²) · 2^cap) / harmonic chain
      val estExpr = s"0.7213 / (1.0 + 1.079 / ${m.toDouble}) * " +
        s"${(m.toLong * m).toDouble} * $p2 / " +
        s"CAST(sp + ($m - nz) * (1::BIGINT << $cap) AS DOUBLE)"
      s"WITH tok AS (SELECT source, unnest(regexp_extract_all(text, '\\S+')) " +
        "AS token FROM documents), " +
        s"h AS (SELECT source, ${phSql("token")} * $mod2 + ${phSql2("token")} " +
        "AS h FROM tok), " +
        s"br AS (SELECT source, h % $m AS bucket, h // $m AS rest FROM h), " +
        s"rh AS (SELECT source, bucket, CASE WHEN rest = 0 THEN $cap ELSE " +
        s"LEAST($cap, bit_count((rest & (-rest)) - 1) + 1) END AS rho FROM br), " +
        "mx AS (SELECT source, bucket, MAX(rho) AS mr FROM rh GROUP BY 1, 2), " +
        "agg AS (SELECT source, COUNT(*) AS nz, " +
        s"COALESCE(SUM(1::BIGINT << ($cap - mr)), 0) AS sp FROM mx GROUP BY 1), " +
        s"est AS (SELECT source, $estExpr AS est_raw FROM agg), " +
        "srcs AS (SELECT DISTINCT source FROM mx), " +
        "pairs AS (SELECT a.source AS src_a, b.source AS src_b FROM srcs a " +
        "JOIN srcs b ON a.source < b.source), " +
        "um AS (SELECT src_a, src_b, bucket, MAX(mr) AS mr FROM (" +
        "SELECT p.src_a, p.src_b, mx.bucket, mx.mr FROM pairs p " +
        "JOIN mx ON mx.source = p.src_a " +
        "UNION ALL SELECT p.src_a, p.src_b, mx.bucket, mx.mr FROM pairs p " +
        "JOIN mx ON mx.source = p.src_b) GROUP BY 1, 2, 3), " +
        "uagg AS (SELECT src_a, src_b, COUNT(*) AS nz, " +
        s"COALESCE(SUM(1::BIGINT << ($cap - mr)), 0) AS sp FROM um GROUP BY 1, 2), " +
        s"uest AS (SELECT src_a, src_b, $estExpr AS est_union FROM uagg) " +
        "SELECT u.src_a, u.src_b, ea.est_raw AS est_a, eb.est_raw AS est_b, " +
        "u.est_union, ea.est_raw + eb.est_raw - u.est_union AS est_overlap " +
        "FROM uest u JOIN est ea ON ea.source = u.src_a " +
        "JOIN est eb ON eb.source = u.src_b"
    },
    "text_cooccur" -> {
      val k = graft.operators.TextOps.CooccurTopK
      "WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) " +
        "AS token FROM documents), " +
        "top AS (SELECT token FROM (SELECT token, COUNT(*) AS n FROM tok " +
        s"GROUP BY token ORDER BY n DESC, token ASC LIMIT $k)), " +
        "dt AS (SELECT DISTINCT doc_id, token FROM tok " +
        "JOIN top USING (token)) " +
        "SELECT a.token AS t1, b.token AS t2, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs " +
        "FROM dt a JOIN dt b ON a.doc_id = b.doc_id AND a.token < b.token " +
        "GROUP BY 1, 2"
    },
    "text_source_overlap" -> {
      val k = graft.operators.TextOps.SourceOverlapK
      "WITH tok AS (SELECT source, unnest(regexp_extract_all(text, '\\S+')) " +
        "AS token FROM documents), " +
        "c AS (SELECT source, token, COUNT(*) AS n FROM tok GROUP BY 1, 2), " +
        "r AS (SELECT source, token, row_number() OVER (PARTITION BY source " +
        "ORDER BY n DESC, token ASC) AS rn FROM c), " +
        s"t AS (SELECT source, token FROM r WHERE rn <= $k), " +
        "sz AS (SELECT source, COUNT(*) AS ksz FROM t GROUP BY 1) " +
        "SELECT a.source AS src_a, b.source AS src_b, " +
        "CAST(COUNT(*) AS BIGINT) AS shared, " +
        "CAST(sa.ksz AS BIGINT) AS ka, CAST(sb.ksz AS BIGINT) AS kb " +
        "FROM t a JOIN t b ON a.token = b.token AND a.source < b.source " +
        "JOIN sz sa ON sa.source = a.source " +
        "JOIN sz sb ON sb.source = b.source " +
        "GROUP BY 1, 2, sa.ksz, sb.ksz"
    },
    "text_cms" -> {
      val w = graft.operators.TextOps.CmsGateWidth
      val branches = (0 until graft.operators.TextOps.CmsDepth).map { i =>
        s"SELECT CAST($i AS BIGINT) AS row_idx, " +
          s"CAST(${phSql(s"('cms$i:' || token)")} % $w AS BIGINT) AS bucket " +
          "FROM tok"
      }.mkString(" UNION ALL ")
      "WITH tok AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS token " +
        s"FROM documents), rb AS ($branches) " +
        "SELECT row_idx, bucket, CAST(COUNT(*) AS BIGINT) AS cnt " +
        "FROM rb GROUP BY 1, 2"
    },
    "text_cms_topk" -> {
      val w = graft.operators.TextOps.CmsGateWidth
      def branches(src: String) =
        (0 until graft.operators.TextOps.CmsDepth).map { i =>
          s"SELECT token, n, CAST($i AS BIGINT) AS row_idx, " +
            s"CAST(${phSql(s"('cms$i:' || token)")} % $w AS BIGINT) AS bucket " +
            s"FROM $src"
        }.mkString(" UNION ALL ")
      "WITH tok AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS token " +
        "FROM documents), " +
        "tc AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token), " +
        s"tcb AS (${branches("tc")}), " +
        "sketch AS (SELECT row_idx, bucket, SUM(n) AS cnt FROM tcb " +
        "GROUP BY 1, 2), " +
        "top AS (SELECT token, n FROM tc ORDER BY n DESC, token ASC " +
        s"LIMIT ${graft.operators.TextOps.CmsTopK}), " +
        s"tb AS (${branches("top")}) " +
        "SELECT t.token, CAST(t.n AS BIGINT) AS n_exact, " +
        "CAST(MIN(s.cnt) AS BIGINT) AS n_est " +
        "FROM tb t JOIN sketch s ON s.row_idx = t.row_idx " +
        "AND s.bucket = t.bucket GROUP BY 1, 2"
    },
    "text_salient" -> {
      val scale = graft.operators.TextOps.TfidfScale
      val k = graft.operators.TextOps.TfidfTopK
      "WITH tok AS (SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) " +
        "AS token FROM documents), " +
        "tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2), " +
        "dfx AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1), " +
        s"s AS (SELECT doc_id, tf.token, (tf * $scale) // df AS score " +
        "FROM tf JOIN dfx ON tf.token = dfx.token), " +
        "r AS (SELECT doc_id, token, score, ROW_NUMBER() OVER " +
        "(PARTITION BY doc_id ORDER BY score DESC, token ASC) AS rn FROM s) " +
        "SELECT doc_id, token, CAST(score AS BIGINT) AS tfidf_fp " +
        s"FROM r WHERE rn <= $k"
    },
    // repeated-substring spans: the oracle hashes each k-char window
    // DIRECTLY (substr + the phSql fold) — the Spark side's ROLLING
    // hash must land on the identical mod-p values; span stats via the
    // same sorted-positions arithmetic (first window k, later windows
    // min(k, gap); new span iff gap > k)
    "dedup_spans" -> {
      val k = graft.operators.Dedup.SpanGramChars
      s"WITH g AS (SELECT doc_id, i - 1 AS pos, " +
        s"${phSql(s"substr(text, i::INT, $k)")} * " +
        s"${graft.functions.PolyHashUtil.Mod2} + " +
        s"${phSql2(s"substr(text, i::INT, $k)")} AS h " +
        s"FROM (SELECT doc_id, text, unnest(range(1, length(text) - $k + 2)) AS i " +
        s"FROM documents WHERE length(text) >= $k)), " +
        "rep AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2), " +
        "hits AS (SELECT doc_id, pos FROM g JOIN rep USING (h)), " +
        "ps AS (SELECT doc_id, list_sort(list(pos)) AS ps FROM hits GROUP BY doc_id) " +
        "SELECT doc_id, " +
        "CAST(list_reduce(list_prepend(0::BIGINT, list_transform(ps, (x, i) -> " +
        s"CASE WHEN i = 1 THEN 1::BIGINT WHEN x - ps[i-1] > $k THEN 1::BIGINT " +
        "ELSE 0::BIGINT END)), (a, b) -> a + b) AS BIGINT) AS n_spans, " +
        "CAST(list_reduce(list_prepend(0::BIGINT, list_transform(ps, (x, i) -> " +
        s"CASE WHEN i = 1 THEN ${k}::BIGINT " +
        s"ELSE LEAST(${k}::BIGINT, (x - ps[i-1])::BIGINT) END)), " +
        "(a, b) -> a + b) AS BIGINT) AS covered_chars, " +
        "CAST(len(ps) AS BIGINT) AS n_hits FROM ps"
    },
    // the APPLY step: same hit-position pipeline, then spans cut out
    // of the text; list_zip yields unnamed structs — index numerically
    "dedup_spans_clean" -> {
      val k = graft.operators.Dedup.SpanGramChars
      s"WITH g AS (SELECT doc_id, i - 1 AS pos, " +
        s"${phSql(s"substr(text, i::INT, $k)")} * " +
        s"${graft.functions.PolyHashUtil.Mod2} + " +
        s"${phSql2(s"substr(text, i::INT, $k)")} AS h " +
        s"FROM (SELECT doc_id, text, unnest(range(1, length(text) - $k + 2)) AS i " +
        s"FROM documents WHERE length(text) >= $k)), " +
        "rep AS (SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2), " +
        "hits AS (SELECT doc_id, pos FROM g JOIN rep USING (h)), " +
        "ps AS (SELECT doc_id, list_sort(list(pos)) AS ps FROM hits GROUP BY doc_id), " +
        "sl AS (SELECT doc_id, " +
        "list_filter(list_transform(ps, (x, i) -> CASE WHEN i = 1 OR " +
        s"x - ps[i-1] > $k THEN x ELSE -1 END), v -> v >= 0) AS starts, " +
        "list_filter(list_transform(ps, (x, i) -> CASE WHEN i = len(ps) OR " +
        s"ps[i+1] - x > $k THEN x + $k ELSE -1 END), v -> v >= 0) AS ends " +
        "FROM ps) " +
        "SELECT d.doc_id, CASE WHEN sl.starts IS NULL THEN d.text ELSE " +
        "array_to_string(list_transform(list_zip(" +
        "list_prepend(0::BIGINT, sl.ends), " +
        "list_append(sl.starts, length(d.text)::BIGINT)), " +
        "z -> substr(d.text, (z[1] + 1)::INT, (z[2] - z[1])::INT)), '') " +
        "END AS clean_text FROM documents d LEFT JOIN sl USING (doc_id)"
    },
    // keep-one-survivor variant: rn = 1 within each repeated hash
    // (ordered by doc_id, pos) is the canonical owner and is NOT cut;
    // only rn > 1 occurrences feed the span arithmetic
    "dedup_spans_keepone" -> {
      val k = graft.operators.Dedup.SpanGramChars
      s"WITH g AS (SELECT doc_id, i - 1 AS pos, " +
        s"${phSql(s"substr(text, i::INT, $k)")} * " +
        s"${graft.functions.PolyHashUtil.Mod2} + " +
        s"${phSql2(s"substr(text, i::INT, $k)")} AS h " +
        s"FROM (SELECT doc_id, text, unnest(range(1, length(text) - $k + 2)) AS i " +
        s"FROM documents WHERE length(text) >= $k)), " +
        "hits AS (SELECT doc_id, pos FROM (" +
        "SELECT doc_id, pos, " +
        "row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn, " +
        "COUNT(*) OVER (PARTITION BY h) AS cnt FROM g) " +
        "WHERE cnt >= 2 AND rn > 1), " +
        "ps AS (SELECT doc_id, list_sort(list(pos)) AS ps FROM hits GROUP BY doc_id), " +
        "sl AS (SELECT doc_id, " +
        "list_filter(list_transform(ps, (x, i) -> CASE WHEN i = 1 OR " +
        s"x - ps[i-1] > $k THEN x ELSE -1 END), v -> v >= 0) AS starts, " +
        "list_filter(list_transform(ps, (x, i) -> CASE WHEN i = len(ps) OR " +
        s"ps[i+1] - x > $k THEN x + $k ELSE -1 END), v -> v >= 0) AS ends " +
        "FROM ps) " +
        "SELECT d.doc_id, CASE WHEN sl.starts IS NULL THEN d.text ELSE " +
        "array_to_string(list_transform(list_zip(" +
        "list_prepend(0::BIGINT, sl.ends), " +
        "list_append(sl.starts, length(d.text)::BIGINT)), " +
        "z -> substr(d.text, (z[1] + 1)::INT, (z[2] - z[1])::INT)), '') " +
        "END AS clean_text FROM documents d LEFT JOIN sl USING (doc_id)"
    },
    // containment oracle: the docKnn candidate/verify machinery over
    // the excerpt-augmented corpus, both directions scored from one
    // intersection, per-direction threshold
    "dedup_containment" -> {
      val th = Dedup.ContainmentPpm
      val maxDf = Dedup.DocKnnMaxDf
      "WITH aug AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 10000000, substr(text, 1, 160) " +
        "FROM documents WHERE doc_id % 10 = 0), " +
        s"${hsCteFor("aug")}, " +
        "nn AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n FROM hs), " +
        "ex AS (SELECT doc_id, unnest(hs) AS h FROM hs), " +
        s"rare AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) <= $maxDf), " +
        "exr AS (SELECT ex.doc_id, ex.h FROM ex JOIN rare USING (h)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM exr a JOIN exr b ON a.h = b.h AND a.doc_id < b.doc_id), " +
        "sh AS (SELECT c.doc_a, c.doc_b, " +
        "CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS shared, " +
        "na.n AS na, nb.n AS nb FROM cand c " +
        "JOIN hs ha ON ha.doc_id = c.doc_a JOIN hs hb ON hb.doc_id = c.doc_b " +
        "JOIN nn na ON na.doc_id = c.doc_a JOIN nn nb ON nb.doc_id = c.doc_b), " +
        "s AS (SELECT doc_a AS doc_id, doc_b AS container_id, shared, " +
        "na AS n_doc FROM sh " +
        "UNION ALL SELECT doc_b, doc_a, shared, nb FROM sh) " +
        "SELECT doc_id, container_id, shared, n_doc, " +
        "CAST(shared * 1000000 // n_doc AS BIGINT) AS containment_ppm FROM s " +
        s"WHERE shared * 1000000 // n_doc >= $th"
    },
    "docs_merge" -> MergedSnapshotSql,
    // LEAD-window twin of Snapshot.scd2History over the same synthetic
    // change stream (the MergedSnapshotSql union without the side
    // column — SCD2 keys intervals by version alone); open intervals
    // carry the Scd2Open sentinel, is_current = open AND NOT deleted
    "docs_scd2" -> Scd2HistorySql,
    // the incremental-apply gate shares the ONE-SHOT history SQL
    // verbatim: chained(v0 stored, v1/v2 applied) ≡ one-shot IS the
    // check (the postingsDelta/dedup_incremental discipline)
    "docs_scd2_apply" -> Scd2HistorySql,
    "docs_vacuum" -> {
      // the docs_scd2 chain with the single retention range test on
      // top — the keep predicate IS the operator
      val open = Snapshot.Scd2Open
      val retain = Snapshot.VacuumRetainFrom
      "WITH u AS (" +
        "SELECT doc_id, CAST(0 AS BIGINT) AS version, FALSE AS deleted " +
        "FROM documents " +
        "UNION ALL SELECT doc_id, CAST(1 AS BIGINT), FALSE " +
        "FROM documents WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT doc_id, CAST(2 AS BIGINT), TRUE " +
        "FROM documents WHERE doc_id % 7 = 3), " +
        "h AS (SELECT doc_id, version, deleted, version AS valid_from, " +
        s"COALESCE(LEAD(version) OVER (PARTITION BY doc_id " +
        s"ORDER BY version), $open) AS valid_to FROM u) " +
        "SELECT doc_id, version, deleted, valid_from, valid_to, " +
        s"(valid_to = $open AND NOT deleted) AS is_current FROM h " +
        s"WHERE valid_to > $retain"
    },
    // diff audits the SAME merged relation (shared MergedSnapshotSql
    // body, so the two gates cannot drift); the oracle compares text
    // directly where the operator compares PolyHash fingerprints —
    // identical verdicts absent a 1e-9 collision
    "docs_diff" ->
      (s"WITH m AS ($MergedSnapshotSql), " +
        "j AS (SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id, " +
        "CASE WHEN b.doc_id IS NULL THEN 'added' " +
        "WHEN a.doc_id IS NULL THEN 'removed' " +
        "WHEN a.text <> b.text THEN 'changed' END AS change " +
        "FROM documents b FULL OUTER JOIN m a ON a.doc_id = b.doc_id) " +
        "SELECT doc_id, change FROM j WHERE change IS NOT NULL"),
    "dedup_exact" ->
      (s"SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, fingerprint, " +
        "CAST(COUNT(*) AS BIGINT) AS n_copies FROM " +
        s"(SELECT doc_id, CAST(${phSql("text")} AS BIGINT) AS fingerprint, " +
        s"CAST(${phSql2("text")} AS BIGINT) AS fp2, length(text) AS len FROM documents) " +
        "GROUP BY fingerprint, fp2, len"),
    "dedup_incremental_exact" ->
      (s"WITH k AS (SELECT doc_id, CAST(${phSql("text")} AS BIGINT) AS fingerprint, " +
        s"CAST(${phSql2("text")} AS BIGINT) AS fp2, " +
        "CAST(length(text) AS BIGINT) AS len FROM documents), " +
        "c AS (SELECT fingerprint, fp2, len FROM k WHERE doc_id % 2 = 0), " +
        "f AS (SELECT * FROM k WHERE doc_id % 2 = 1) " +
        "SELECT CAST(MIN(f.doc_id) AS BIGINT) AS doc_id FROM f " +
        "WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.fingerprint = f.fingerprint " +
        "AND c.fp2 = f.fp2 AND c.len = f.len) " +
        "GROUP BY f.fingerprint, f.fp2, f.len"),
    "dedup_ngram" -> NgramPairsSql,
    // the same normalized key, aligned-segment candidates, and
    // levenshtein verify — constants from Dedup
    "dedup_fuzzy" -> FuzzyPairsSql,
    // connected components over the fuzzy pairs — the same recursive
    // closure the dedup_clusters oracle runs over the ngram pairs
    "dedup_fuzzy_clusters" ->
      ("WITH RECURSIVE pairs AS (SELECT id_a AS doc_a, id_b AS doc_b " +
        s"FROM ($FuzzyPairsSql) t), " +
        "sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u) " +
        "SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id " +
        "FROM reach GROUP BY u"),
    // text twin of knn_graph over the shared HsCte shingle relation:
    // rare-shingle (df <= maxDf) candidates, exact list_intersect
    // verify (the sorted-merge kernel's twin on distinct lists),
    // integer-ppm score, mirrored, ranked
    "doc_knn" -> {
      val k = Dedup.DocKnnK
      val maxDf = Dedup.DocKnnMaxDf
      s"WITH $HsCte, " +
        "nn AS (SELECT doc_id, CAST(len(hs) AS BIGINT) AS n FROM hs), " +
        "ex AS (SELECT doc_id, unnest(hs) AS h FROM hs), " +
        s"rare AS (SELECT h FROM ex GROUP BY h HAVING COUNT(*) <= $maxDf), " +
        "exr AS (SELECT ex.doc_id, ex.h FROM ex JOIN rare USING (h)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM exr a JOIN exr b ON a.h = b.h AND a.doc_id < b.doc_id), " +
        "sh AS (SELECT c.doc_a, c.doc_b, " +
        "CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS shared, " +
        "na.n + nb.n AS nanb FROM cand c " +
        "JOIN hs ha ON ha.doc_id = c.doc_a JOIN hs hb ON hb.doc_id = c.doc_b " +
        "JOIN nn na ON na.doc_id = c.doc_a JOIN nn nb ON nb.doc_id = c.doc_b), " +
        "sc AS (SELECT doc_a, doc_b, shared, nanb - shared AS union_size, " +
        "shared * 1000000 // (nanb - shared) AS jacc_ppm FROM sh), " +
        "s AS (SELECT doc_a AS doc_id, doc_b AS neighbor_id, shared, " +
        "union_size, jacc_ppm FROM sc " +
        "UNION ALL SELECT doc_b, doc_a, shared, union_size, jacc_ppm FROM sc), " +
        "r AS (SELECT s.*, row_number() OVER (PARTITION BY doc_id " +
        "ORDER BY jacc_ppm DESC, neighbor_id ASC) AS rnk FROM s) " +
        "SELECT doc_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, " +
        "shared, CAST(union_size AS BIGINT) AS union_size, " +
        "CAST(jacc_ppm AS BIGINT) AS jacc_ppm " +
        s"FROM r WHERE rnk <= $k"
    },
    // the shared NgramPairsSql joined to each side's source;
    // LEAST/GREATEST canonicalization matches the operator's
    "dedup_cross_source" ->
      (s"WITH p AS (SELECT doc_a, doc_b FROM ($NgramPairsSql) t) " +
        "SELECT LEAST(sa.source, sb.source) AS source_a, " +
        "GREATEST(sa.source, sb.source) AS source_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_pairs " +
        "FROM p JOIN documents sa ON sa.doc_id = p.doc_a " +
        "JOIN documents sb ON sb.doc_id = p.doc_b " +
        "GROUP BY 1, 2"),
    "dedup_cross_domain" ->
      (s"WITH $DomainHostCtes, " +
        s"p AS (SELECT doc_a, doc_b FROM ($NgramPairsSql) t) " +
        "SELECT LEAST(ha.host, hb.host) AS host_a, " +
        "GREATEST(ha.host, hb.host) AS host_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_pairs " +
        "FROM p JOIN h ha ON ha.doc_id = p.doc_a " +
        "JOIN h hb ON hb.doc_id = p.doc_b " +
        "GROUP BY 1, 2"),
    "dedup_clusters" ->
      ("WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM " +
        s"($NgramPairsSql) t), " +
        "sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u) " +
        "SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id " +
        "FROM reach GROUP BY u"),
    "dedup_simhash" -> {
      val bitSum = (0 until Dedup.SimBits).map { b =>
        s"(CASE WHEN SUM(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) > 0 " +
          s"THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"WITH th AS (SELECT doc_id, ${phSql("t")} + (${phSql2("t")} << 30) AS h FROM " +
        "(SELECT doc_id, unnest(regexp_extract_all(text, '\\S+')) AS t FROM documents)), " +
        s"sig AS (SELECT doc_id, CAST($bitSum AS BIGINT) AS simhash FROM th GROUP BY doc_id) " +
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, " +
        "CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming " +
        "FROM sig a JOIN sig b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"
    },
    "dedup_minhash" -> s"WITH $HsCte, $MinhashCtes $MinhashPairsSelect",
    // survivors = docs that are nobody's later band-mate: cand already
    // holds every (earlier, later) band collision as (doc_a < doc_b);
    // shingle-less docs never enter banded, so they always survive
    "dedup_stream_neardup" ->
      (s"WITH $HsCte, $MinhashCtes " +
        "SELECT doc_id FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_b FROM cand)"),
    // fresh (odd) docs surviving the two-epoch first-claimant
    // election: eliminated iff any band is shared with a doc earlier
    // by (epoch, doc_id); corpus (even) docs are not returned
    "dedup_incremental" ->
      (s"WITH $HsCte, " +
        minhashCtesEarlier(
          "a.doc_id % 2 < b.doc_id % 2 OR " +
            "(a.doc_id % 2 = b.doc_id % 2 AND a.doc_id < b.doc_id)") + " " +
        "SELECT doc_id FROM documents WHERE doc_id % 2 = 1 " +
        "AND doc_id NOT IN (SELECT doc_b FROM cand)"),
    // the keys path is an execution detail (stored corpus band keys
    // instead of corpus text) — same election, same oracle
    "dedup_incremental_keys" ->
      (s"WITH $HsCte, " +
        minhashCtesEarlier(
          "a.doc_id % 2 < b.doc_id % 2 OR " +
            "(a.doc_id % 2 = b.doc_id % 2 AND a.doc_id < b.doc_id)") + " " +
        "SELECT doc_id FROM documents WHERE doc_id % 2 = 1 " +
        "AND doc_id NOT IN (SELECT doc_b FROM cand)"),
    "dedup_survivors" ->
      (s"WITH RECURSIVE " +
        s"exacts AS (SELECT MIN(doc_id) AS doc_id FROM " +
        s"(SELECT doc_id, ${phSql("text")} AS fp, ${phSql2("text")} AS fp2, " +
        "length(text) AS len FROM documents) GROUP BY fp, fp2, len), " +
        "docs0 AS (SELECT d.* FROM documents d JOIN exacts e ON d.doc_id = e.doc_id), " +
        s"${hsCteFor("docs0")}, $MinhashCtes, " +
        s"pairs AS ($MinhashPairsSelect), " +
        "sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u), " +
        "clus AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id " +
        "FROM reach GROUP BY u), " +
        "losers AS (SELECT doc_id FROM clus WHERE cluster_id <> doc_id) " +
        "SELECT doc_id FROM docs0 " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM losers)"),
    // the dedup_clusters labelling joined with the text_quality score
    // (QualitySqlExpr — same float op order), winner per cluster by
    // (quality DESC, doc_id ASC), everyone else in the labelling loses
    "dedup_survivors_best" ->
      ("WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM " +
        s"($NgramPairsSql) t), " +
        "sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u), " +
        "clus AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id " +
        "FROM reach GROUP BY u), " +
        "b AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, $QualitySqlExpr AS quality FROM b), " +
        "w AS (SELECT c.doc_id, row_number() OVER (PARTITION BY c.cluster_id " +
        "ORDER BY q.quality DESC, c.doc_id ASC) AS rn " +
        "FROM clus c JOIN q ON q.doc_id = c.doc_id), " +
        "losers AS (SELECT doc_id FROM w WHERE rn > 1) " +
        "SELECT doc_id FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM losers)"),
    // the dedup_survivors_best chain with the text_sample_quality and
    // text_split_leakage tails spliced on — every CTE is the shared
    // shape its standalone gate pins
    "docs_curation" -> CurationSql,
    // one governance pass over the curated ids: the whole curation
    // oracle rides as a derived table, joined back to documents for
    // source and token counts
    "docs_manifest" ->
      ("SELECT d.source, c.split, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(len(regexp_extract_all(d.text, '\\S+'))) AS BIGINT) " +
        "AS total_tokens, " +
        "CAST(SUM(c.keep_ppm) AS BIGINT) AS sum_keep_ppm, " +
        "CAST(SUM(c.keep_ppm) // COUNT(*) AS BIGINT) AS mean_keep_ppm " +
        s"FROM ($CurationSql) c JOIN documents d ON d.doc_id = c.doc_id " +
        "GROUP BY 1, 2"),
    // the cross-modal survivor policy: embedding-near-dup clusters
    // (EmbNearDupSql recursive closure — shared with
    // embedding_clusters) scored by QualitySqlExpr (shared with
    // text_quality / dedup_survivors_best), winner per cluster by
    // (quality DESC, doc_id ASC); universe = embedded docs
    "embedding_survivors_best" ->
      (s"WITH RECURSIVE pairs AS (SELECT vec_a, vec_b FROM ($EmbNearDupSql) t), " +
        "sym AS (SELECT vec_a AS u, vec_b AS v FROM pairs " +
        "UNION ALL SELECT vec_b, vec_a FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u), " +
        "clus AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id " +
        "FROM reach GROUP BY u), " +
        "b AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, $QualitySqlExpr AS quality FROM b), " +
        "w AS (SELECT c.doc_id, row_number() OVER (PARTITION BY c.cluster_id " +
        "ORDER BY q.quality DESC, c.doc_id ASC) AS rn " +
        "FROM clus c JOIN q ON q.doc_id = c.doc_id), " +
        "losers AS (SELECT doc_id FROM w WHERE rn > 1) " +
        "SELECT e.vec_id AS doc_id FROM embeddings e " +
        "WHERE e.vec_id IN (SELECT doc_id FROM documents) " +
        "AND e.vec_id NOT IN (SELECT doc_id FROM losers)"),
    // embedding_survivors_best with the pair source swapped for the
    // kNN-graph: the SAME closure/quality/argmax tail over edges from
    // KnnGraphSql (top-k capped) thresholded at cosine >= 0.30
    "embedding_semdedup" ->
      (s"WITH RECURSIVE pairs AS (SELECT query_id AS vec_a, neighbor_id AS vec_b " +
        s"FROM ($KnnGraphSql) g WHERE cosine >= 0.30), " +
        "sym AS (SELECT vec_a AS u, vec_b AS v FROM pairs " +
        "UNION ALL SELECT vec_b, vec_a FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u), " +
        "clus AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id " +
        "FROM reach GROUP BY u), " +
        "b AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, $QualitySqlExpr AS quality FROM b), " +
        "w AS (SELECT c.doc_id, row_number() OVER (PARTITION BY c.cluster_id " +
        "ORDER BY q.quality DESC, c.doc_id ASC) AS rn " +
        "FROM clus c JOIN q ON q.doc_id = c.doc_id), " +
        "losers AS (SELECT doc_id FROM w WHERE rn > 1) " +
        "SELECT e.vec_id AS doc_id FROM embeddings e " +
        "WHERE e.vec_id IN (SELECT doc_id FROM documents) " +
        "AND e.vec_id NOT IN (SELECT doc_id FROM losers)"),
    // PIT oracle: the docs_scd2 union WITH text, LEAD intervals, then
    // the containment predicate at PitVersion
    "docs_pit" -> {
      val open = Snapshot.Scd2Open
      "WITH u AS (" +
        "SELECT doc_id, text, CAST(0 AS BIGINT) AS version, " +
        "FALSE AS deleted FROM documents " +
        "UNION ALL SELECT doc_id, 'rev1: ' || text, CAST(1 AS BIGINT), " +
        "FALSE FROM documents WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT doc_id, text, CAST(2 AS BIGINT), TRUE " +
        "FROM documents WHERE doc_id % 7 = 3), " +
        "h AS (SELECT doc_id, text, version, deleted, " +
        "version AS valid_from, COALESCE(LEAD(version) OVER " +
        s"(PARTITION BY doc_id ORDER BY version), $open) AS valid_to FROM u) " +
        "SELECT doc_id, text, version FROM h " +
        s"WHERE valid_from <= $PitVersion AND valid_to > $PitVersion " +
        "AND NOT deleted"
    },
    // SQ8 oracle: same per-dim min/max grid; every double op is the
    // SAME left-to-right chain as the Spark expression (float-parity —
    // min/max have no accumulation order, floor/clamp are exact)
    "embedding_quantize" ->
      ("WITH x AS (SELECT vec_id, embedding, " +
        "unnest(generate_series(1, len(embedding))) AS i FROM embeddings), " +
        "v AS (SELECT vec_id, i - 1 AS dim, " +
        "CAST(embedding[i] AS DOUBLE) AS x FROM x), " +
        "st AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM v GROUP BY dim), " +
        "q AS (SELECT vec_id, v.dim, x, mn, mx, " +
        "CASE WHEN mx > mn THEN LEAST(CAST(floor((x - mn) * 255.0 / (mx - mn)) " +
        "AS BIGINT), 255) ELSE 0 END AS code FROM v JOIN st ON st.dim = v.dim) " +
        "SELECT vec_id, CAST(dim AS BIGINT) AS dim, CAST(code AS BIGINT) AS code, " +
        "CAST(floor(abs(x - (mn + CAST(code AS DOUBLE) * (mx - mn) / 255.0)) " +
        "* 1000000.0) AS BIGINT) AS err_ppm FROM q"),
    // PQ oracle: codeword j = rank j in the shared hash order; one
    // UNION ALL branch per block, each squared-L2 the same
    // list_reduce left fold as dotSql; argmin = row_number (d2, code)
    "embedding_pq" -> {
      val blocks = Similarity.PqBlocks
      val branches = (0 until blocks).map { b =>
        s"SELECT e.vec_id, $b AS block, c.code, " +
          s"${l2BlockSql("e.embedding", "c.c_emb", b, blocks)} AS d2 FROM e, c"
      }.mkString(" UNION ALL ")
      s"WITH $PqCodebookCte, " +
        s"d AS ($branches), " +
        "r AS (SELECT vec_id, block, code, d2, row_number() OVER " +
        "(PARTITION BY vec_id, block ORDER BY d2 ASC, code ASC) AS rn FROM d) " +
        "SELECT vec_id, CAST(block AS BIGINT) AS block, " +
        "CAST(code AS BIGINT) AS code, " +
        "CAST(floor(d2 * 1000000.0) AS BIGINT) AS dist_fp FROM r WHERE rn = 1"
    },
    // quantize-first centroid oracle: identical ⌊x·1e6⌋ chain, exact
    // integer sums; `//` == the operator's pmod-adjusted floor div
    "embedding_outliers" -> {
      val k = Similarity.OutlierK
      "WITH v AS (SELECT vec_id, label, " +
        "unnest(generate_series(1, len(embedding))) AS i, embedding " +
        "FROM embeddings), " +
        "x AS (SELECT vec_id, CAST(label AS BIGINT) AS label, i - 1 AS dim, " +
        "CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT) AS q FROM v), " +
        "c AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) // COUNT(*) " +
        "AS mean_ppm FROM x GROUP BY 1, 2), " +
        "d AS (SELECT vec_id, x.label, " +
        "CAST(SUM((q - mean_ppm) * (q - mean_ppm)) AS BIGINT) AS d2 " +
        "FROM x JOIN c ON c.label = x.label AND c.dim = x.dim GROUP BY 1, 2), " +
        "r AS (SELECT vec_id, label, d2, row_number() OVER " +
        "(ORDER BY d2 DESC, vec_id ASC) AS rnk FROM d) " +
        s"SELECT vec_id, label, d2 FROM r WHERE rnk <= $k"
    },
    // silhouette oracle: same quantize-first centroids (the
    // embedding_outliers CTE chain), every-label distances via the
    // dim-join (the literal-free SQL twin of the operator's literal
    // fold — integer-exact, so arithmetic shape may differ), then the
    // identical per-row divide-then-scale double chain
    "embedding_silhouette" ->
      ("WITH v AS (SELECT vec_id, label, " +
        "unnest(generate_series(1, len(embedding))) AS i, embedding " +
        "FROM embeddings), " +
        "x AS (SELECT vec_id, CAST(label AS BIGINT) AS label, i - 1 AS dim, " +
        "CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT) AS q FROM v), " +
        "c AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) // COUNT(*) " +
        "AS mean_ppm FROM x GROUP BY 1, 2), " +
        "d AS (SELECT x.vec_id, x.label AS own, c.label AS clabel, " +
        "CAST(SUM((q - mean_ppm) * (q - mean_ppm)) AS BIGINT) AS d2 " +
        "FROM x JOIN c ON c.dim = x.dim GROUP BY 1, 2, 3), " +
        "p AS (SELECT vec_id, own AS label, " +
        "SUM(CASE WHEN clabel = own THEN d2 END) AS a, " +
        "MIN(CASE WHEN clabel <> own THEN d2 END) AS b " +
        "FROM d GROUP BY 1, 2), " +
        "s AS (SELECT vec_id, label, a, b, " +
        "CASE WHEN GREATEST(a, b) = 0 THEN 0 ELSE " +
        "CAST(floor(CAST(b - a AS DOUBLE) / CAST(GREATEST(a, b) AS DOUBLE) " +
        "* 1000000.0) AS BIGINT) END AS s_ppm " +
        "FROM p WHERE b IS NOT NULL) " +
        "SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
        "CAST(SUM(s_ppm) // COUNT(*) AS BIGINT) AS mean_s_ppm, " +
        "CAST(MIN(s_ppm) AS BIGINT) AS min_s_ppm, " +
        "CAST(MAX(s_ppm) AS BIGINT) AS max_s_ppm, " +
        "CAST(SUM(CASE WHEN b < a THEN 1 ELSE 0 END) AS BIGINT) " +
        "AS n_closer_other FROM s GROUP BY label"),
    "embedding_centroids" ->
      ("WITH v AS (SELECT label, " +
        "unnest(generate_series(1, len(embedding))) AS i, embedding " +
        "FROM embeddings), " +
        "q AS (SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim, " +
        "CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT) AS q FROM v) " +
        "SELECT label, CAST(dim AS BIGINT) AS dim, " +
        "CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(SUM(q) AS BIGINT) AS sum_ppm, " +
        "CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_ppm " +
        "FROM q GROUP BY 1, 2"),
    "embedding_drift" ->
      ("WITH v0 AS (SELECT label, unnest(generate_series(1, len(embedding))) AS i, embedding FROM embeddings WHERE vec_id % 2 = 0), q0 AS (SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim, CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT) AS q FROM v0), c0 AS (SELECT label, dim, COUNT(*) AS n_vecs, CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_ppm FROM q0 GROUP BY 1, 2), " +
        "v1 AS (SELECT label, unnest(generate_series(1, len(embedding))) AS i, embedding FROM embeddings WHERE vec_id % 2 = 1), q1 AS (SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim, CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT) AS q FROM v1), c1 AS (SELECT label, dim, COUNT(*) AS n_vecs, CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_ppm FROM q1 GROUP BY 1, 2) " +
        "SELECT c0.label, CAST(MAX(c0.n_vecs) AS BIGINT) AS n_old, " +
        "CAST(MAX(c1.n_vecs) AS BIGINT) AS n_fresh, " +
        "CAST(SUM((c1.mean_ppm - c0.mean_ppm) * " +
        "(c1.mean_ppm - c0.mean_ppm)) AS BIGINT) AS drift_ppm2 " +
        "FROM c0 JOIN c1 ON c1.label = c0.label AND c1.dim = c0.dim " +
        "GROUP BY 1"),
    "embedding_lloyd" -> {
      // hash-anchored init, flat (L2 asc, cent_id asc) argmin
      // assignment, then the embedding_centroids quantize-first mean
      val k = Similarity.LloydK
      "WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
        "ch AS (SELECT e.*, row_number() OVER (ORDER BY " +
        s"${phSql("CAST(vec_id AS VARCHAR)")}, vec_id) AS crn FROM e), " +
        s"c AS (SELECT vec_id AS cent_id, embedding AS c_emb FROM ch " +
        s"WHERE crn <= $k), " +
        "ar AS (SELECT e.vec_id, c.cent_id, row_number() OVER " +
        "(PARTITION BY e.vec_id ORDER BY " +
        s"${l2BlockSql("e.embedding", "c.c_emb", 0, 1)} ASC, " +
        "c.cent_id ASC) AS rn FROM e, c), " +
        "asg AS (SELECT vec_id, cent_id FROM ar WHERE rn = 1), " +
        "x AS (SELECT a.cent_id, " +
        "unnest(generate_series(1, len(e.embedding))) AS i, e.embedding " +
        "FROM e JOIN asg a ON a.vec_id = e.vec_id), " +
        "q AS (SELECT cent_id, i - 1 AS dim, " +
        "CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT) AS q FROM x) " +
        "SELECT cent_id, CAST(dim AS BIGINT) AS dim, " +
        "CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(SUM(q) AS BIGINT) AS sum_ppm, " +
        "CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_ppm " +
        "FROM q GROUP BY 1, 2"
    },
    "embedding_project" -> s"WITH $RpProjCte SELECT vec_id, pdim, y FROM pj",
    "knn_project" -> KnnProjSql,
    // projection honesty: both sides SQL-derivable (the sign matrix
    // regenerates from the hash), recall vs the full-width ranking
    "knn_project_recall" -> recallSql(KnnBruteL2Sql, KnnProjSql),
    "knn_brute_l2" -> KnnBruteL2Sql,
    "embedding_binarize" -> BinarizeSql,
    "knn_hamming" -> KnnHammingSql,
    "knn_hamming_recall" -> recallSql(KnnBruteL2Sql, KnnHammingSql),
    "knn_hamming_rerank" -> KnnHammingRerankSql,
    "knn_hamming_rerank_recall" ->
      recallSql(KnnBruteL2Sql, KnnHammingRerankSql),
    "knn_sq8" -> KnnSq8Sql,
    "knn_sq8_recall" -> recallSql(KnnBruteL2Sql, KnnSq8Sql),
    "knn_pq" -> KnnPqSql,
    // PQ honesty: both sides SQL-derivable (hash-anchored codebook),
    // recall measured against the exact-L2 ranking ADC approximates
    "knn_pq_recall" -> recallSql(KnnBruteL2Sql, KnnPqSql),
    "knn_ivf_pq" -> KnnIvfPqSql,
    "knn_ivf_pq_recall" -> recallSql(KnnBruteL2Sql, KnnIvfPqSql),
    // the trained-quantizer family, hash-checked since the exact-Lloyd
    // rewrite: training is the lloydStep arithmetic (all-integer ppm),
    // so DuckDB unrolls the rounds and reproduces the fitted values
    // bit-for-bit. The stored/coded/pruned siblings share their
    // trainer gate's SQL — each equality is a spec-pinned byte law
    "knn_pq_trained" -> KnnPqTrainedSql,
    "knn_pq_stored" -> KnnPqTrainedSql,
    "knn_pq_codes" -> KnnPqTrainedSql,
    "knn_ivf_trained" -> KnnIvfTrainedSql,
    "knn_ivf_spherical" -> KnnIvfSphericalSql,
    "knn_ivf_spherical_centroids" -> KnnIvfSphericalCentroidsSql,
    "knn_ivf_spherical_recall" -> recallSql(KnnBruteSql, KnnIvfSphericalSql),
    "knn_ivf_stored" -> KnnIvfTrainedSql,
    "knn_ivf_pruned" -> KnnIvfTrainedSql,
    "knn_ivf_assign" -> KnnIvfAssignSql,
    "knn_ivf_centroids" -> KnnIvfCentroidsSql,
    // the PQ codebook artifact: the trained chain's cb relation
    // exploded to floored micro-units per coordinate
    "knn_pq_codebooks" ->
      ("WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
        "ch AS (SELECT e.*, row_number() OVER (ORDER BY " +
        phSql("CAST(vec_id AS VARCHAR)") + ", vec_id) AS crn FROM e), " +
        PqTrainedCtes + ", " +
        "cbx AS (SELECT block, code, " +
        "unnest(generate_series(1, len(cw))) AS i, cw FROM cb) " +
        "SELECT block, code, CAST(i - 1 AS BIGINT) AS dim, " +
        "CAST(floor(cw[i] * 1000000.0) AS BIGINT) AS c_fp FROM cbx"),
    "knn_ivf_pq_stored" -> KnnIvfPqStoredSql,
    "knn_ivf_sq8" -> KnnIvfSq8Sql,
    "knn_ivf_sq8_recall" -> recallSql(KnnBruteL2Sql, KnnIvfSq8Sql),
    "knn_brute_l2_trunc" -> KnnBruteL2TruncSql,
    "knn_trunc_recall" -> recallSql(KnnBruteL2Sql, KnnBruteL2TruncSql),
    "embedding_neardup" -> EmbNearDupSql,
    // the shared unthresholded candidate core binned at 2/bins width;
    // NaN excluded on both engines (isnan here, !isnan in Spark)
    "embedding_threshold_curve" -> {
      val bins = Similarity.CosineHistBins
      s"WITH p AS (SELECT cosine FROM ($EmbCandCosSql) cc " +
        "WHERE NOT isnan(cosine)), " +
        s"b AS (SELECT LEAST(${bins - 1}, CAST(FLOOR((cosine + 1.0) * " +
        s"${bins / 2.0}) AS BIGINT)) AS bin FROM p), " +
        "g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM b " +
        "GROUP BY bin) " +
        "SELECT bin, n_pairs, CAST(SUM(n_pairs) OVER (ORDER BY bin DESC " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_ge FROM g"
    },
    "embedding_incremental" -> {
      // first-claimant election over hyperplane bands at the pinned
      // width: "earlier" = (epoch, vec_id) lexicographic, exactly the
      // dedup_incremental election transposed to vector signatures
      val bb = Similarity.LshBandBits.toString
      val bandEq = (0 until Similarity.LshBands).map(j =>
        s"${lshBandSql("a.sig", j, bb)} = ${lshBandSql("b.sig", j, bb)}")
        .mkString("(", " OR ", ")")
      s"WITH e AS (SELECT vec_id, ${lshSigSql("embedding")} AS sig " +
        "FROM embeddings), " +
        "cand AS (SELECT DISTINCT b.vec_id AS vb FROM e a JOIN e b " +
        s"ON $bandEq AND (a.vec_id % 2 < b.vec_id % 2 OR " +
        "(a.vec_id % 2 = b.vec_id % 2 AND a.vec_id < b.vec_id))) " +
        "SELECT vec_id FROM embeddings WHERE vec_id % 2 = 1 " +
        "AND vec_id NOT IN (SELECT vb FROM cand)"
    },
    "embedding_incremental_verified" -> {
      // same candidate election, then the exact-cosine confirm: a
      // later vector is rejected only when a band-colliding earlier
      // one is ACTUALLY similar (the sequential-fold dot keeps the
      // threshold compare bit-identical across engines)
      val bb = Similarity.LshBandBits.toString
      val bandEq = (0 until Similarity.LshBands).map(j =>
        s"${lshBandSql("a.sig", j, bb)} = ${lshBandSql("b.sig", j, bb)}")
        .mkString("(", " OR ", ")")
      s"WITH e AS (SELECT vec_id, embedding, " +
        s"${dotSql("embedding", "embedding")} AS n2, " +
        s"${lshSigSql("embedding")} AS sig FROM embeddings), " +
        "cand AS (SELECT DISTINCT a.vec_id AS va, b.vec_id AS vb " +
        s"FROM e a JOIN e b ON $bandEq AND (a.vec_id % 2 < b.vec_id % 2 " +
        "OR (a.vec_id % 2 = b.vec_id % 2 AND a.vec_id < b.vec_id))), " +
        "rej AS (SELECT DISTINCT c.vb FROM cand c " +
        "JOIN e ea ON ea.vec_id = c.va JOIN e eb ON eb.vec_id = c.vb " +
        s"WHERE ${dotSql("ea.embedding", "eb.embedding")} / " +
        "(sqrt(ea.n2) * sqrt(eb.n2)) >= 0.30) " +
        "SELECT vec_id FROM embeddings WHERE vec_id % 2 = 1 " +
        "AND vec_id NOT IN (SELECT vb FROM rej)"
    },
    "embedding_clusters" ->
      (s"WITH RECURSIVE pairs AS (SELECT vec_a AS u0, vec_b AS v0 FROM " +
        s"($EmbNearDupSql) t), " +
        "sym AS (SELECT u0 AS u, v0 AS v FROM pairs " +
        "UNION ALL SELECT v0, u0 FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u) " +
        "SELECT u AS vec_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id " +
        "FROM reach GROUP BY u"),
    "knn_brute" -> KnnBruteSql,
    // the incremental graph refresh is an execution detail (stored
    // graph + keys + O(batch) delta instead of a rebuild) — the
    // one-shot PINNED-WIDTH rebuild SQL gates it verbatim, the
    // text-index chained ≡ one-shot discipline on the vector tier
    "knn_graph_incremental" ->
      knnGraphSqlFor(Similarity.DefaultK,
        pinnedBits = Similarity.LshBandBits),
    "knn_lsh" -> KnnLshSql,
    "knn_lsh_probe" -> {
      // per band j and per flipped bit b (plus the no-flip probe): an
      // equi-join between the corpus band value and the query's PROBED
      // band value. The UNION enumerates the MAXIMUM probe set (all
      // LshBandStride flips); each flip branch self-disables with
      // `b < bb` when the corpus-adaptive width doesn't reach that bit
      // — exactly the masks the Spark side explodes at runtime.
      val flips = -1 +: (0 until Similarity.LshBandStride)
      val bandJoins = (for {
        j <- 0 until Similarity.LshBands
        b <- flips
      } yield {
        val probe =
          if (b < 0) lshBandSql("q.q_sig", j, "q.bb")
          else s"xor(${lshBandSql("q.q_sig", j, "q.bb")}, ${1L << b})"
        val guard = if (b < 0) "" else s" AND $b < q.bb"
        s"SELECT q.query_id, e.vec_id FROM e JOIN q " +
          s"ON ${lshBandSql("e.sig", j, "e.bb")} = $probe " +
          s"AND e.vec_id <> q.query_id$guard"
      }).mkString(" UNION ALL ")
      s"WITH bbq AS (${lshBandBitsSql("embeddings")}), " +
        s"e AS (SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS n2, " +
        s"${lshSigSql("embedding")} AS sig, bb FROM embeddings, bbq), " +
        "q AS (SELECT vec_id AS query_id, embedding AS q_emb, n2 AS q_n2, sig AS q_sig, bb " +
        "FROM e WHERE vec_id < 10), " +
        s"cand AS (SELECT DISTINCT query_id, vec_id FROM ($bandJoins)), " +
        "scored AS (SELECT c.query_id, c.vec_id AS neighbor_id, " +
        s"${dotSql("q.q_emb", "e.embedding")} / (sqrt(q.q_n2) * sqrt(e.n2)) AS cosine " +
        "FROM cand c JOIN e ON e.vec_id = c.vec_id " +
        "JOIN q ON q.query_id = c.query_id), " +
        "r AS (SELECT query_id, neighbor_id, cosine, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rnk FROM scored) " +
        "SELECT query_id, CAST(rnk AS BIGINT) AS \"rank\", neighbor_id, cosine " +
        "FROM r WHERE rnk <= 5"
    },
    "knn_graph" -> KnnGraphSql,
    "knn_beam" -> KnnBeamSql,
    "knn_mmr" -> KnnMmrSql,
    "knn_beam_recall" -> recallSql(KnnBruteL2Sql, KnnBeamSql),
    // reciprocated pairs of the shared KnnGraphSql relation, canonical
    // lo<hi; cosine from side a (bit-equal both ways — the graph
    // scores each unordered pair once and mirrors)
    "knn_mutual" ->
      (s"WITH g AS (SELECT * FROM ($KnnGraphSql) t) " +
        "SELECT a.query_id AS vec_a, a.neighbor_id AS vec_b, " +
        "a.cosine AS cosine FROM g a JOIN g b " +
        "ON b.query_id = a.neighbor_id AND b.neighbor_id = a.query_id " +
        "WHERE a.query_id < a.neighbor_id"),
    // two-level IVF twin: fine cells = ⌊√N⌋ clamped, coarse anchors =
    // first ⌈√k⌉ of the same hash order; every argmax is a
    // (cos DESC, id ASC) row_number — bit-identical to the Scala
    // grouping + the IvfAssign2 kernel's ascending-iteration strict->
    "knn_ivf" -> KnnIvfSql,
    // recall@5 of the IVF / LSH rankings against the brute-force one:
    // every component ranking is the exact oracle SQL of its own gate
    // (the shared KnnBruteSql/KnnIvfSql/KnnLshSql vals, so the gates
    // cannot drift), composed through the one recallSql shape
    "knn_recall" -> recallSql(KnnBruteSql, KnnIvfSql),
    "knn_recall_lsh" -> recallSql(KnnBruteSql, KnnLshSql),
    "knn_filtered_recall" -> recallSql(KnnFilteredSql, KnnIvfFilteredSql),
    "knn_graph_recall" -> recallSql(knnBruteSqlFor("TRUE"), KnnGraphSql),
    // column-expression parse of real BMP/WAV/AVI headers; expected
    // values stated independently from doc_id formulas (see
    // MediaDecodeOracleSql scaladoc for the cannot-cancel argument)
    "media_features" -> MediaDecodeOracleSql,
    "media_simhash" -> MediaSimhashSql,
    "media_clusters" ->
      // near-dup cluster resolution over the byte-level pairs — the
      // SAME recursive-reachability oracle shape as dedup_clusters,
      // pairs spliced whole from MediaSimhashSql
      ("WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM " +
        s"($MediaSimhashSql) t), " +
        "sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u) " +
        "SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id " +
        "FROM reach GROUP BY u"),
    // md5 over the UTF-8 payload bytes: DuckDB's md5(VARCHAR) hashes
    // the string's UTF-8 encoding — byte-identical to Spark's
    // md5(encode(text, 'UTF-8')); strlen = UTF-8 byte length
    "media_dedup" ->
      ("SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, " +
        "md5(text) AS payload_md5, " +
        "CAST(strlen(text) AS BIGINT) AS n_bytes, " +
        "CAST(COUNT(*) AS BIGINT) AS n_copies " +
        "FROM documents GROUP BY 2, 3"),
    // the ByteBuffer partition-iterator parse — same schema and values
    // as media_features, so the SAME oracle: triple agreement between
    // the two independent parsers and the formula-stated truth
    "media_decode" -> MediaDecodeOracleSql,
    // resize planning over parsed BMP widths/heights: valid image rows
    // only (doc_id % 3 = 0, not truncated)
    "media_resize" ->
      ("SELECT doc_id, " +
        "CAST(doc_id % 300 + 2 AS BIGINT) AS width, " +
        "CAST(doc_id % 200 + 2 AS BIGINT) AS height, " +
        "CAST(LEAST(doc_id % 300 + 2, 256) AS BIGINT) AS out_width, " +
        "CAST(GREATEST(1, ((doc_id % 200 + 2) * LEAST(doc_id % 300 + 2, 256)) " +
        "// (doc_id % 300 + 2)) AS BIGINT) AS out_height " +
        "FROM documents WHERE doc_id % 3 = 0 AND doc_id % 97 <> 0"),
    // curation decisions restated over the decode oracle (constants
    // from Multimodal.MediaMin*; reasons are first-match)
    "media_curation" ->
      ("SELECT doc_id, container, " +
        "CASE WHEN valid = 0 THEN 'invalid' " +
        "WHEN container = 'bmp' AND (width < 64 OR height < 64) " +
        "THEN 'too_small' " +
        "WHEN container = 'wav' AND sample_rate < 16000 " +
        "THEN 'low_sample_rate' " +
        "WHEN container = 'avi' AND total_frames < 2 " +
        "THEN 'too_few_frames' ELSE 'ok' END AS reason, " +
        "CAST(CASE WHEN valid = 1 " +
        "AND NOT (container = 'bmp' AND (width < 64 OR height < 64)) " +
        "AND NOT (container = 'wav' AND sample_rate < 16000) " +
        "AND NOT (container = 'avi' AND total_frames < 2) " +
        "THEN 1 ELSE 0 END AS BIGINT) AS keep " +
        s"FROM ($MediaDecodeOracleSql)"),
    // audio framing restated over the decode oracle: floor-div frames
    // (a trailing partial frame is not a frame), integer duration
    "media_audio" ->
      ("SELECT doc_id, sample_rate, channels, " +
        "CAST(channels * 2 AS BIGINT) AS block_align, " +
        "CAST(data_bytes // (channels * 2) AS BIGINT) AS n_frames, " +
        "CAST((data_bytes // (channels * 2)) * 1000 // sample_rate " +
        "AS BIGINT) AS duration_ms " +
        s"FROM ($MediaDecodeOracleSql) " +
        "WHERE container = 'wav' AND valid = 1"),
    // per-container rollup spliced over the same decode oracle
    "media_stats" ->
      ("SELECT container, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN valid = 1 THEN data_bytes ELSE 0 END) " +
        "AS BIGINT) AS data_bytes_total, " +
        "CAST(MAX(width) AS BIGINT) AS max_width, " +
        "CAST(MAX(height) AS BIGINT) AS max_height, " +
        "CAST(MAX(sample_rate) AS BIGINT) AS max_sample_rate, " +
        "CAST(MAX(total_frames) AS BIGINT) AS max_total_frames " +
        s"FROM ($MediaDecodeOracleSql) GROUP BY container"),
    // frame byte-ranges from the parsed avih dwTotalFrames: valid video
    // rows only; near-equal integer split of the data region
    "media_frames" ->
      ("SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, " +
        "CAST((frame_idx * dlen) // fr AS BIGINT) AS frame_start, " +
        "CAST(((frame_idx + 1) * dlen) // fr - (frame_idx * dlen) // fr " +
        "AS BIGINT) AS frame_len FROM " +
        "(SELECT doc_id, CAST(strlen(text) AS BIGINT) AS dlen, " +
        "CAST(doc_id % 5 + 1 AS BIGINT) AS fr, " +
        "unnest(range(0, doc_id % 5 + 1)) AS frame_idx " +
        "FROM documents WHERE doc_id % 3 = 2 AND doc_id % 97 <> 0)"),
    "events_funnel" -> funnelOracle,
    // the state-machine form is an execution detail (per-user
    // mapGroupsWithState scan instead of chained joins) — same greedy
    // thresholds, same oracle
    "events_funnel_stateful" -> funnelOracle,
    // same CTE chain with the 24h conversion-window predicate spliced
    // into each stage join — the constant comes FROM the operator
    "events_funnel_windowed" -> funnelOracleFor(
      Some(graft.streaming.EventWindows.FunnelWindowUs)),
    "events_quantiles" -> {
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
    },
    "events_qsketch" -> qsketchStateOracle,
    "events_qsketch_cdf" -> {
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
    },
    // per-day states merged by counter addition == the one-shot sketch
    // (mergeability is exact) — execution detail, same oracle
    "events_qsketch_rollup" -> qsketchStateOracle,
    "events_qsketch_quantiles" -> {
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
    },
    "events_retention" -> {
      val mx = graft.streaming.EventWindows.RetentionMaxOffset
      "WITH d AS (SELECT DISTINCT user_id, " +
        "epoch_us(ts) // 86400000000 AS day FROM events), " +
        "c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1) " +
        "SELECT cohort_day, day - cohort_day AS day_offset, " +
        "CAST(COUNT(*) AS BIGINT) AS n_users " +
        "FROM d JOIN c ON d.user_id = c.user_id " +
        s"WHERE day - cohort_day <= $mx GROUP BY 1, 2"
    },
    "events_hourly_users" -> {
      // the text_vocab_hll pipeline, grouped by hour — same constants,
      // same integer state, same single-expression raw estimator
      val m = graft.operators.TextOps.HllBuckets
      val cap = graft.operators.TextOps.HllCap
      val p2 = (1L << cap).toDouble
      "WITH e AS (SELECT CAST(extract(epoch FROM " +
        "time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS hour_epoch, " +
        "CAST(user_id AS VARCHAR) AS uid FROM events), " +
        s"h AS (SELECT hour_epoch, ${phSql("uid")} * " +
        s"${graft.functions.PolyHashUtil.Mod2} + ${phSql2("uid")} AS h FROM e), " +
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
    },
    // sliding twin: every event belongs to exactly 60/slide windows,
    // enumerated by the VALUES fanout — start = 15min-floor minus
    // k·15min, always within the hour by construction
    "events_sliding" -> {
      val slideS = graft.streaming.EventWindows.SlideMinutes * 60L
      val fanout = 3600L / slideS
      val ks = (0L until fanout).map(k => s"($k)").mkString(", ")
      s"SELECT CAST((epoch_us(ts) // ${slideS * 1000000L}) * $slideS " +
        s"- k.k * $slideS AS BIGINT) AS win_epoch, event_type, " +
        "CAST(COUNT(*) AS BIGINT) AS n_events " +
        s"FROM events, (VALUES $ks) k(k) GROUP BY 1, 2"
    },
    // same epoch-aligned hour bucket as events_hourly; row_number is
    // the SQL twin of the TopKPerKey heap's (count desc, user asc)
    "events_hourly_top" -> {
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
    },
    "events_hourly" ->
      ("SELECT CAST(extract(epoch FROM time_bucket(INTERVAL 1 HOUR, ts)) AS BIGINT) AS hour_epoch, " +
        "event_type, CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users, " +
        "MAX(value) AS max_value, MIN(value) AS min_value " +
        "FROM events GROUP BY 1, 2"),
    // trailing-baseline RANGE window twin of hourlyAnomaly: absent
    // hours contribute zero (RANGE, not ROWS), ratio in ppm with the
    // -1 cold-start sentinel
    "events_anomaly" -> {
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
    },
    // cusum oracle: the same zero-filled spine + two prefix-sum /
    // prefix-min window pairs (S = P − min(0, min P)), all integer
    // milli-counts
    "events_cusum" -> CusumSql,
    "events_cusum_stateful" -> CusumSql,
    // seasonal-residual oracle: same hourly buckets, (type, dow, hod)
    // cell means over present hours, sign-split integer ppm
    "events_seasonal_resid" ->
      ("WITH h AS (SELECT CAST(extract(epoch FROM " +
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
    // attribution oracle: literal theta join for the touch pairing,
    // first/last via row_number over (click_us, click_id), zero-touch
    // conversions kept by the LEFT join with the same sentinels
    "events_attribution" -> {
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
    },
    // gaps-and-islands twin of session_window: a session breaks when the
    // gap to the previous event is >= 30 min; end = last event + gap
    "events_sessions" -> SessionsSql,
    // the stateful twin shares the oracle verbatim: stateful ≡
    // windowed sessionization IS the gate
    "events_sessions_stateful" -> SessionsSql,
    // lag-window twin of Sessionize.interArrival; gap multiset is
    // well-defined under timestamp ties (sorted sequence is unique),
    // -1 sentinels instead of engine nulls for single-event users
    "events_interarrival" -> InterArrivalSql,
    // shares events_interarrival's oracle VERBATIM — the flat window
    // and the bucketed carry-in must be indistinguishable (the
    // celebrity-key escape hatch changes the shuffle shape, never the
    // answer)
    "events_interarrival_bucketed" -> InterArrivalSql,
    // session-duration order statistics by hour-of-day of session
    // start: SessionsSql composed into the events_quantiles rank
    // machinery — same (pct·n + 99) // 100 target, same (value, id)
    // total order the range partitioning sorts by
    "events_session_quantiles" -> {
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
    },
    // within-session transition counts: the same break rule as
    // SessionsSql, with the (us, event_id) tiebreak making the lag
    // sequence — and therefore the counts — deterministic under ties
    "events_transitions" -> TransitionsSql,
    // shares events_transitions' oracle VERBATIM — the window and the
    // flatMapGroupsWithState implementations must be indistinguishable
    "events_transitions_stateful" -> TransitionsSql,
    // third twin on the same oracle: the bucketed carry-in form (the
    // celebrity-key escape hatch changes shuffle shape, not counts)
    "events_transitions_bucketed" -> TransitionsSql,
    // all-integer RFM: day-floor recency against the corpus anchor,
    // fixed-point monetary over FINITE values (isfinite — the qsketch
    // finiteness contract; NaN would ORDER as equal in DuckDB)
    "events_rfm" ->
      ("WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events), " +
        "a AS (SELECT MAX(us) AS anchor FROM e), " +
        "u AS (SELECT user_id, MAX(us) AS last_us, " +
        "CAST(COUNT(*) AS BIGINT) AS frequency, " +
        "CAST(SUM(CASE WHEN isfinite(value) THEN " +
        "CAST(FLOOR(value * 1000000.0) AS BIGINT) END) AS BIGINT) AS monetary_fp " +
        "FROM e GROUP BY user_id) " +
        "SELECT user_id, CAST((a.anchor - u.last_us) // 86400000000 " +
        "AS BIGINT) AS recency_days, frequency, monetary_fp FROM u, a"),
    // top session paths: gaps-and-islands sids (the SessionsSql rule
    // plus the event_id tiebreak), ordered string_agg per session,
    // (count DESC, path ASC) total order at the LIMIT boundary
    "events_paths" -> {
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
    },
    // DAU/WAU/stickiness: epoch-aligned day grid (epoch_us // dayUs ·
    // 86400 ≡ the window(ts,'1 day') start for positive epochs); the
    // trailing distinct via the same ×7 fanout of distinct (day, user)
    "events_seasonality" ->
      ("SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow, " +
        "(epoch_us(ts) // 3600000000) % 24 AS hour, " +
        "CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users " +
        "FROM events GROUP BY 1, 2"),
    "events_zorder" -> ZZoneMapSql,
    // pruning verdict: zone-map intersection counts under both
    // layouts + rows actually selected; the [span/4, span/2] slice
    // derives from the same stats CTE on both engines
    "events_zorder_pruning" -> {
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
    },
    "events_expectations" -> {
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
    },
    "events_ab_cuped" -> {
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
    },
    "events_ab_lift" -> {
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
    },
    "events_ab_srm" -> {
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
    },
    "events_active_users" -> {
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
    },
    // daily bucket-max HLL states (pre-mixed user ids, the
    // docs_profile_hll pass) fanned ×7 and re-MAXed, finalized with
    // the vocab_hll tail, reported only for days with own activity
    "events_wau_hll" -> {
      val m = graft.operators.TextOps.HllBuckets
      val cap = graft.operators.TextOps.HllCap
      val p2 = (1L << cap).toDouble
      val days = graft.streaming.EventWindows.ActiveTrailingDays
      val mod2 = graft.functions.PolyHashUtil.Mod2
      "WITH e AS (SELECT (epoch_us(ts) // 86400000000) * 86400 AS d, " +
        "CAST(user_id AS VARCHAR) AS u FROM events), " +
        s"pm AS (SELECT d, CAST(${phSql("u")} * $mod2 + ${phSql2("u")} " +
        "AS VARCHAR) AS item FROM e), " +
        s"h AS (SELECT d, ${phSql("item")} * $mod2 + ${phSql2("item")} " +
        "AS h FROM pm), " +
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
    },
    "events_props" ->
      ("SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(k) AS BIGINT) AS sum_k, CAST(MIN(k) AS BIGINT) AS min_k, " +
        "CAST(MAX(k) AS BIGINT) AS max_k FROM " +
        "(SELECT event_type, CAST(json_extract(props, '$.k') AS BIGINT) AS k " +
        "FROM events) GROUP BY event_type"),
    // DuckDB's NATIVE ASOF JOIN — a fully independent formulation of
    // the union-merge window the Spark operator runs
    "events_asof" ->
      ("WITH clicks AS (SELECT user_id, ts, MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts, c.click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts >= c.ts"),
    "events_asof_bucketed" -> // execution detail only — same semantics
      ("WITH clicks AS (SELECT user_id, ts, MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts, c.click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts >= c.ts"),
    // forward as-of: DuckDB's native ASOF with the inequality flipped
    "events_asof_fwd" ->
      ("WITH clicks AS (SELECT user_id, ts, MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts, c.click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts <= c.ts"),
    // tolerance as-of: the nearest earlier click is the ONLY possible
    // in-tolerance match (anything else is older still), so native
    // ASOF + a CASE on the distance is exact
    "events_asof_tol" ->
      ("WITH clicks AS (SELECT user_id, epoch_us(ts) AS ts_us, " +
        "MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us " +
        "FROM events WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts_us, " +
        s"CASE WHEN v.ts_us - c.ts_us <= $AsofTolUs THEN c.click_id END " +
        "AS click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts_us >= c.ts_us"),
    // the interval join's semantics ARE the theta-join — the oracle
    // says it literally; the operator's bucket decomposition is the
    // execution strategy under hash-equality to this
    "events_click_windows" ->
      ("WITH clicks AS (SELECT user_id, epoch_us(ts) AS win_start, " +
        "MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us " +
        "FROM events WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts_us, c.click_id " +
        "FROM views v JOIN clicks c ON v.user_id = c.user_id " +
        s"AND v.ts_us >= c.win_start AND v.ts_us <= c.win_start + $AsofTolUs"),
    // the overlap join's semantics ARE the interval-intersection
    // theta-join — stated literally; the bucket decomposition +
    // max(start)-bucket residual is the execution strategy under
    // hash-equality to this
    "events_window_overlap" ->
      ("WITH clicks AS (SELECT user_id, epoch_us(ts) AS win_start, " +
        "MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id AS view_id, user_id, " +
        "epoch_us(ts) AS v_start FROM events WHERE event_type = 'view') " +
        "SELECT v.view_id, v.user_id, v.v_start, c.click_id, c.win_start " +
        "FROM views v JOIN clicks c ON v.user_id = c.user_id " +
        s"AND v.v_start <= c.win_start + $AsofTolUs " +
        s"AND c.win_start <= v.v_start + $ViewWinUs"),
    "events_asof_fwd_bucketed" -> // execution detail only — same semantics
      ("WITH clicks AS (SELECT user_id, ts, MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, ts FROM events " +
        "WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts, c.click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts <= c.ts"),
    "events_asof_tol_bucketed" -> // execution detail only — same semantics
      ("WITH clicks AS (SELECT user_id, epoch_us(ts) AS ts_us, " +
        "MAX(event_id) AS click_id " +
        "FROM events WHERE event_type = 'click' GROUP BY 1, 2), " +
        "views AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us " +
        "FROM events WHERE event_type = 'view') " +
        "SELECT v.event_id, v.user_id, v.ts_us, " +
        s"CASE WHEN v.ts_us - c.ts_us <= $AsofTolUs THEN c.click_id END " +
        "AS click_id " +
        "FROM views v ASOF LEFT JOIN clicks c " +
        "ON v.user_id = c.user_id AND v.ts_us >= c.ts_us"),
  )
}
