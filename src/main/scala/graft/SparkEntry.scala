package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.gates.Gate
import graft.operators.TextOps
import graft.sources.Tables

/** Driver contract (SURVEY.md §7): `entry`, plus `queries` and
  * `oracleSql`, each gate's engine plan and DuckDB oracle SQL by name.
  * Both are views over the gate registry `graft.gates.Gate.all` (one
  * file per family under `graft/gates/`). The stored-artifact scratch
  * dirs and the splice helpers below are shared by gates and specs.
  *
  * Every query result is order-insensitive at the value level and is
  * additionally sorted for deterministic dumps; all ids/counts are
  * LongType to stay bit-stable against the DuckDB oracle.
  */
object SparkEntry {

  /** Per-run scratch dir for the stored-IVF gates (`knn_ivf_stored`,
    * `knn_ivf_pruned`): keyed by the Spark application id so two
    * concurrent harness runs over the same data dir never race on one
    * path, while stays deterministic within a run (the reloaded
    * relation is byte-identical either way — overwrite mode, fitted
    * content). Real deployments store the index once in a managed
    * location; the tmpdir round-trip is what the gate exercises.
    */
  private[graft] def ivfTmpDir(s: SparkSession, d: String, leaf: String): String = {
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

  /** The session every gate runner builds (Verify, Bench, PlanCheck,
    * Smoke, ScaleRehearsal): `local[cpus]`, shuffle width = cpus, UTC
    * session time zone (`Tables.events` requires it), the graft
    * extensions, AQE on, UI off. Callers add their own settings.
    */
  def sessionBuilder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("triangles_rs")(spark, "/root/testdata/sf0.001")

  /** Every gate's engine plan, by name. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    Gate.all.map(g => g.name -> g.build).toMap

  /** Every gate's DuckDB oracle SQL, by name; each call evaluates them. */
  def oracleSql: Map[String, String] =
    Gate.all.map(g => g.name -> g.oracle).toMap
}
