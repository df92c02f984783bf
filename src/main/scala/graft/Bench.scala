package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkEntry.sessionBuilder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Warmup: JIT + parquet footer/page cache, so the first timed query
    // doesn't absorb session start-up costs.
    try SparkEntry.queries.get("edges").foreach(fn => fn(spark, sfDir).count())
    catch { case _: Throwable => () }
    // Repeat each query SPARK_GRAFT_BENCH_N times (default 3) and report
    // the per-query MEDIAN: consecutive driver rounds have shown 2-3×
    // per-query swings on untouched code from machine load alone, and a
    // median keeps the regression signal usable where a single sample
    // drowns it. Repeats run as interleaved full passes (pass 1 of every
    // query, then pass 2, ...) so one sustained load spike lands on one
    // pass — at most one sample per query — not on all repeats of
    // whichever query it overlapped.
    val reps = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_N", "3").toInt)
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the run to the named
    // queries — for adjudicating a single query's regression in
    // isolation, away from the 45-query session's cache/GC churn.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name must not silently bench nothing — an empty run's
    // output can masquerade as a 0-second "pass" during adjudication
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in SparkEntry.queries: " +
          s"${unknown.toSeq.sorted.mkString(", ")}")
    }
    // ALWAYS-ON subset: any restricted run (the harness's rotating
    // sample included) still times this 15-name set — the 7 headline
    // parity queries plus the historically slowest queries — so a
    // flagship or heavy-tail regression can never hide behind an
    // unlucky rotation. Regression VISIBILITY wins the default; a
    // deliberately narrow dev loop that wants ONLY its named queries
    // sets SPARK_GRAFT_BENCH_STRICT=1 to suppress the union. Any
    // pinned additions are logged so a restricted run is never
    // silently larger than asked.
    val pinned = Set(
      "edges", "path2_exact_total", "path2_triples", "path2_approx_total",
      "triangles_rs", "triangles_rep", "triangles_vertex",
      "text_bm25_prf", "graph_stress", "graph_path_counts",
      "knn_mmr", "graph_hops_deep",
      // the round-16 heavy tail: the suite's current slowest queries
      "graph_link_prediction", "knn_beam", "knn_graph_recall")
    val strict = sys.env.get("SPARK_GRAFT_BENCH_STRICT").contains("1")
    val queries = only match {
      case Some(names) if strict =>
        SparkEntry.queries.filter(kv => names(kv._1))
      case Some(names) =>
        val added = (pinned -- names).intersect(SparkEntry.queries.keySet)
        if (added.nonEmpty) System.err.println(
          "[bench] adding always-on pinned queries to the restricted " +
            s"run (SPARK_GRAFT_BENCH_STRICT=1 to suppress): " +
            added.toSeq.sorted.mkString(", "))
        SparkEntry.queries.filter(kv => names(kv._1) || pinned(kv._1))
      case None => SparkEntry.queries
    }
    // MEASUREMENT PROVENANCE: the driver's in-sbt run and the builder's
    // standalone mirror run measure DIFFERENT regimes (sbt shares the
    // JVM and its GC with the build; recorded deltas are 25%+ on the
    // same commit). The fingerprint is stamped into every artifact and
    // into the baseline on ratchet writes, so the ratchet/alarm can
    // refuse cross-regime comparisons mechanically instead of by
    // memory. `runner` comes from SPARK_GRAFT_BENCH_RUNNER (the mirror
    // script sets "mirror"; the driver sets nothing → "unset").
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE",
      "BENCH_BASELINE.json")
    // SUB-SECOND CREDIBILITY PASSES: gates whose baseline warm entry is
    // under 1 s showed min/max spreads up to 5x at reps=3 (one GC pause
    // is a whole sample at this duration), so the per-query ratchet and
    // alarm were firing on noise. Gates with a sub-second baseline get
    // SPARK_GRAFT_BENCH_SUB_REPS (default 4) EXTRA warm passes after
    // the base round-robin — their warm median is then over 6 samples
    // instead of 2 — at ~spare-change wall cost (the gates are sub-
    // second by construction). Baseline-unseen queries keep base reps:
    // their first entry is a seed, not a ratchet decision.
    val subExtra = math.max(0,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_SUB_REPS", "4").toInt)
    val subSecond: Set[String] =
      if (subExtra == 0 || reps < 2) Set.empty
      else {
        val bw = baselineWarm(baselinePath)
        queries.keySet.filter(n => bw.get(n).exists(b => b > 0 && b < 1.0))
      }
    val provenance = Map(
      "runner" -> sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNNER", "unset"),
      "cpus" -> cpus,
      "reps" -> reps.toString,
      "reps_sub" -> (if (subSecond.isEmpty) "0" else subExtra.toString),
      "codegen" -> spark.conf
        .get("spark.sql.codegen.wholeStage", "true"))
    // per-gate memo-build attribution (additions-only, round-21): the
    // session memos (PlanMemo) build inside whichever timed rep first
    // touches them, which makes a memoized gate's warm median price the
    // serve while rep 1 carries the build — `memo_build_s` records that
    // build cost per gate mechanically (deltas of PlanMemo.buildNanos
    // around each timed call, summed over reps), the warm/build split
    // the ratchet needs to stay interpretable. Timed actions, reps and
    // the JSON fields that existed before are unchanged.
    val memoAcc = scala.collection.mutable.Map.empty[String, Double]
    val samples = sample(spark, sfDir, queries, reps, subSecond, subExtra,
      memoAcc)
    val (stdoutJson, json, allFailed) =
      render(queries.keys.toSeq, samples, reps, sfDir, provenance,
        memoAcc.toMap)
    // WARM-REGRESSION ALARM: compare this run's warm medians against
    // the committed mirror (BENCH_BASELINE.json, or the file named by
    // SPARK_GRAFT_BENCH_BASELINE). The alarm is a loud stderr line per
    // offender — not an exit code; box noise must not fail a green run
    // — so a headline warm-path regression can't hide inside a
    // 248-query total or behind a cold artifact build.
    val warm = warmMedians(queries.keys.toSeq, samples)
    // cross-regime guard: a baseline stamped with a DIFFERENT regime's
    // fingerprint (runner or cpu count) is not comparable — neither the
    // alarm (false regressions from sbt overhead) nor the ratchet
    // (unattainable bars from the quieter regime) may run against it.
    // An unstamped baseline (recorded before the field existed) stays
    // comparable: refusing it would silence the alarm fleet-wide on
    // the first deploy of this guard.
    val regimeOk = baselineProvenance(baselinePath) match {
      case Some(bp) =>
        val ok = Seq("runner", "cpus").forall(k =>
          bp.get(k).forall(_ == provenance(k)))
        if (!ok) System.err.println(
          s"[bench] baseline provenance mismatch (baseline $bp vs this " +
            s"run ${provenance.view.filterKeys(Set("runner", "cpus")).toMap})" +
            " — skipping regression alarm and ratchet for this run")
        ok
      case None => true
    }
    if (regimeOk)
      for ((name, ratio, now, base) <- regressions(warm, baselinePath))
        System.err.println(f"[bench] WARM REGRESSION $name: " +
          f"$now%.2fs vs baseline $base%.2fs (${ratio}%.2fx)")
    // RATCHET: warm medians that improved >=20% on a FULL run lower
    // their baseline entries (and unseen queries are seeded), so the
    // alarm tracks the best known serving state instead of going
    // stale as the suite gets faster and wider. Regressions never
    // raise the baseline — reporting those is the alarm's job, not
    // the ratchet's to absorb. Restricted runs don't ratchet:
    // isolated queries run measurably quieter than in-suite, and a
    // quiet-box median would set unattainable bars for full runs.
    // REBASE: the one sanctioned way to RAISE a baseline entry — after
    // a deliberate semantic change makes the old number unreachable
    // (e.g. a stub decode replaced by real byte parsing), name the
    // queries in SPARK_GRAFT_BENCH_REBASE and their entries reset to
    // this run's warm medians, each announced loudly. Explicit names
    // only, never automatic: a silent raise would be the alarm
    // absorbing a regression. Allowed on restricted runs (the named
    // queries' isolated medians are the cleanest measurement of the
    // new steady state, and isolated-quieter is conservative for an
    // alarm floor).
    val rebase = sys.env.get("SPARK_GRAFT_BENCH_REBASE")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    if (regimeOk && (only.isEmpty || rebase.nonEmpty) &&
        !sys.env.get("SPARK_GRAFT_BENCH_NO_RATCHET").contains("1"))
      // a restricted run may ONLY rebase: its isolated medians are
      // measurably quieter than in-suite, so letting them seed or lower
      // entries would set bars full runs can't meet (the exact problem
      // the "restricted runs don't ratchet" rule exists to prevent —
      // the rebase carve-out must not reopen it through the back door)
      ratchet(if (only.isEmpty) warm else warm.view.filterKeys(rebase).toMap,
        baselinePath, rebase, raiseOnly = only.nonEmpty,
        provenance = provenance)
    // stop Spark BEFORE emitting, so no stray shutdown log line can land
    // after the JSON — the harness scrapes the log tail for it
    spark.stop()
    // stdout passes through sbt, which prefixes every line with
    // "[info] " — so ALSO write the raw line to a file the harness (or
    // a human) can read without scraping the log tail. SPARK_GRAFT_BENCH_OUT
    // overrides the destination; BENCH_LAST.json in the cwd is always
    // written as the stable fallback path.
    // restricted (BENCH_ONLY) dev runs do NOT touch the BENCH_LAST.json
    // fallback — a 3-query loop must not clobber the tracked full-suite
    // mirror (it happened); they still write SPARK_GRAFT_BENCH_OUT
    // when the caller names a destination
    // full runs ALSO refresh the round-numbered mirror artifact
    // (BENCH_r<N>_mirror.json): round 17 ended with a stale mid-round
    // snapshot committed under the round name while the real final
    // numbers lived only in BENCH_LAST.json — a reader diffing
    // BENCH_r*_mirror.json across rounds got a wrong picture. Every
    // full run now rewrites the current round's mirror, so the round
    // artifact can't lag the final state. Round number: SPARK_GRAFT_ROUND
    // if set, else 1 + the highest committed BENCH_r<n>.json (the
    // driver writes that file at the END of round n, so during round
    // n+1's session the max on disk is n).
    // Round number comes from GIT-TRACKED BENCH_r<n>.json files, not
    // the directory listing: once this session itself (or the driver,
    // mid-round) drops an uncommitted BENCH_r<n>.json on disk, a disk
    // max would mislabel every later full run as the NEXT round's
    // mirror. `git ls-files` sees only what a round actually committed;
    // the listing remains the fallback for a non-git checkout.
    val roundMirror = if (only.nonEmpty) Nil else {
      val rx = "^BENCH_r(\\d+)\\.json$".r
      val names: Seq[String] =
        (try scala.sys.process.Process(
            Seq("git", "ls-files", "BENCH_r*.json")).!!.linesIterator.toSeq
         catch { case scala.util.control.NonFatal(_) =>
           Option(new java.io.File(".").listFiles())
             .map(_.toSeq.map(_.getName)).getOrElse(Nil)
         })
      val n = sys.env.get("SPARK_GRAFT_ROUND").flatMap(_.toIntOption)
        .orElse {
          Some(names.flatMap {
            case rx(d) => Some(d.toInt)
            case _ => None
          }).filter(_.nonEmpty).map(_.max + 1)
        }
      n.map(i => f"BENCH_r$i%02d_mirror.json").toSeq
    }
    // MIRROR-ARTIFACT PROTECTION: a non-mirror run (the driver's in-sbt
    // regime — uniform ~1.4x drift) must not REPLACE a runner:mirror
    // artifact: the ratchet already refuses the comparison, but the
    // files were still getting clobbered, so a naive reader of the
    // working tree saw the noisy number as the round's record. Default
    // destinations owned by a mirror run are redirected to
    // BENCH_DRIVER.json; an explicit SPARK_GRAFT_BENCH_OUT is the
    // caller's own file and is honored as named.
    def mirrorOwned(p: String): Boolean =
      provenance("runner") != "mirror" &&
        baselineProvenance(p).exists(_.get("runner").contains("mirror"))
    val defaults = ((if (only.isEmpty) Seq("BENCH_LAST.json") else Nil) ++
      roundMirror).map { p =>
        if (mirrorOwned(p)) {
          System.err.println(s"[bench] $p is a runner:mirror artifact — " +
            s"this ${provenance("runner")} run writes BENCH_DRIVER.json " +
            "instead (cross-regime protection)")
          "BENCH_DRIVER.json"
        } else p
      }
    val outPaths = defaults ++ sys.env.get("SPARK_GRAFT_BENCH_OUT").toSeq
    outPaths.distinct.foreach { p =>
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] could not write $p: ${e.getMessage}")
      }
    }
    // the (short) JSON line is emitted TWICE — round 19's artifact was
    // lost to a tail-truncated capture (the driver scrapes a bounded
    // log tail and the single line's head was cut), so a second copy
    // lands closer to the end of the log: a capture that truncates the
    // first copy still holds the second intact. Duplicate emission is
    // additions-only; parsers that read the last match are unaffected.
    println(stdoutJson)
    println(stdoutJson)
    // a query that failed EVERY rep means the run measured nothing for
    // it — fail loudly so a broken query can't masquerade as a fast one
    if (allFailed.nonEmpty) {
      System.err.println(
        s"[bench] queries failed every rep: ${allFailed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** One interleaved timing pass per rep: `Some(seconds)` on success,
    * `None` when the query threw — a failure is an ERROR to report, not
    * a (suspiciously fast) time-to-exception sample to aggregate.
    * The catch is `Throwable`, not `NonFatal`: a query-local fatal
    * (StackOverflowError from deep codegen, LinkageError from a bad
    * generated class) must be RECORDED and the remaining queries still
    * timed — only truly process-fatal errors, where continuing would
    * measure a corrupted JVM, abort the whole run.
    *
    * After the base `reps` full passes, `extraPasses` PARTIAL passes
    * cover only the `extraFor` names (the sub-second-baseline gates) —
    * partial-pass maps simply omit the other queries, so every
    * aggregator downstream reads samples with `.get(name).flatten`,
    * never a direct apply.
    */
  private[graft] def sample(spark: SparkSession, sfDir: String,
      queries: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame],
      reps: Int, extraFor: Set[String] = Set.empty,
      extraPasses: Int = 0,
      memoAcc: scala.collection.mutable.Map[String, Double] = null)
      : Seq[Map[String, Option[Double]]] = {
    def pass(qs: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame])
        : Map[String, Option[Double]] =
      qs.map { case (name, fn) =>
        val m0 = PlanMemo.buildNanos.get()
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch {
            case e @ (_: OutOfMemoryError | _: InterruptedException) =>
              throw e
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getClass.getName}")
              false
          }
        val dt = (System.nanoTime() - t0) / 1e9
        // memo-build seconds charged to THIS gate: whatever PlanMemo
        // builds ran inside this timed call (summed across reps — a
        // later-rep rebuild after LRU eviction is still build cost)
        if (memoAcc != null) {
          val db = (PlanMemo.buildNanos.get() - m0) / 1e9
          if (db > 0) memoAcc.updateWith(name) {
            prev => Some(prev.getOrElse(0.0) + db)
          }
        }
        // between timings: drop the finished query's caches so later
        // queries aren't measured against a session full of dead blocks
        Caches.clear(spark)
        name -> (if (ok) Some(dt) else None)
      }
    val sub = queries.view.filterKeys(extraFor).toMap
    (1 to reps).map(_ => pass(queries)) ++
      (if (sub.isEmpty) Nil else (1 to extraPasses).map(_ => pass(sub)))
  }

  /** JSON string escape for the hand-built artifact/stdout lines:
    * quotes, backslashes, and control characters — enough for values
    * sourced from env vars (runner names, paths).
    */
  private[graft] def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-query WARM median — the median over reps 2..N's successes,
    * i.e. with the first (cold) rep excluded, so one-time artifact
    * builds (bucketed-table writes, stored-index fits) don't blur the
    * serving-path signal. Falls back to the all-reps median when only
    * the first rep succeeded or reps == 1; -1 when nothing succeeded.
    */
  private[graft] def warmMedians(names: Seq[String],
      samples: Seq[Map[String, Option[Double]]]): Map[String, Double] =
    names.map { n =>
      val warm = samples.drop(1).flatMap(_.get(n).flatten)
      val all = samples.flatMap(_.get(n).flatten)
      n -> (if (warm.nonEmpty) median(warm)
        else if (all.nonEmpty) median(all) else -1.0)
    }.toMap

  /** Warm medians that regressed vs the recorded baseline file:
    * (name, ratio, now, baseline), worst first. A regression needs
    * ratio > 1.5 AND an absolute delta > 0.25 s (a 0.02 → 0.04 s
    * jitter is not a signal). Baseline JSON is the bench's own file
    * form; `queries_warm` preferred, `queries` accepted for mirrors
    * recorded before the field existed. A missing/unparseable
    * baseline disables the alarm (first run, fresh clone).
    */
  /** The baseline file's per-query warm entries (`queries_warm`
    * preferred, `queries` accepted for mirrors recorded before the
    * field existed); empty on a missing/unparseable baseline. Shared
    * by the regression alarm and the sub-second-reps selection.
    */
  private[graft] def baselineWarm(baselinePath: String)
      : Map[String, Double] =
    try {
      val txt = java.nio.file.Files.readString(
        java.nio.file.Paths.get(baselinePath))
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(txt)
      val node = if (root.has("queries_warm")) root.get("queries_warm")
        else root.get("queries")
      if (node == null) Map.empty
      else {
        val it = node.fields()
        val b = Map.newBuilder[String, Double]
        while (it.hasNext) {
          val e = it.next(); b += e.getKey -> e.getValue.asDouble(-1.0)
        }
        b.result()
      }
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  private[graft] def regressions(warm: Map[String, Double],
      baselinePath: String): Seq[(String, Double, Double, Double)] = {
    val base = baselineWarm(baselinePath)
    warm.toSeq.flatMap { case (n, now) =>
      base.get(n) match {
        case Some(b) if b > 0 && now > 0 &&
            now > b * 1.5 && now - b > 0.25 =>
          Some((n, now / b, now, b))
        case _ => None
      }
    }.sortBy(-_._2)
  }

  /** The `provenance` object of a baseline file, if stamped: the
    * regime fingerprint ratchet writes record so later runs can refuse
    * cross-regime comparisons. None for unstamped/missing baselines.
    */
  private[graft] def baselineProvenance(baselinePath: String)
      : Option[Map[String, String]] =
    try {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(
          java.nio.file.Paths.get(baselinePath)))
      root.get("provenance") match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode =>
          val it = o.fields()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) {
            val e = it.next(); b += e.getKey -> e.getValue.asText("")
          }
          Some(b.result())
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Lower (or seed) baseline `queries_warm` entries from this run's
    * warm medians: an entry drops only on a ≥20% improvement (sub-20%
    * noise would churn the file every run), and a query the baseline
    * has never seen is recorded as-is. The rest of the baseline file
    * is preserved verbatim. Failures are non-fatal — a read-only
    * checkout must not fail the bench.
    *
    * `raiseOnly` (restricted runs): ONLY the explicit-rebase raise
    * branch may touch the file — seeding and the 0.8× lowering are
    * skipped, because an isolated query's quiet-box median would set
    * bars full runs can't meet. `provenance` non-empty stamps the
    * regime fingerprint into the file on any write, so the next run
    * can refuse a cross-regime comparison.
    */
  private[graft] def ratchet(warm: Map[String, Double],
      baselinePath: String, rebase: Set[String] = Set.empty,
      raiseOnly: Boolean = false,
      provenance: Map[String, String] = Map.empty): Unit =
    try {
      val path = java.nio.file.Paths.get(baselinePath)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = (if (java.nio.file.Files.exists(path))
          mapper.readTree(java.nio.file.Files.readString(path))
        else mapper.createObjectNode()) match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
        case _ => mapper.createObjectNode()
      }
      val qw = root.get("queries_warm") match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode => o
        case _ =>
          val o = mapper.createObjectNode()
          root.set[com.fasterxml.jackson.databind.JsonNode]("queries_warm", o)
          o
      }
      var lowered = 0
      var seeded = 0
      var rebased = 0
      for ((n, w) <- warm.toSeq.sortBy(_._1); if w >= 0) {
        val b = Option(qw.get(n)).map(_.asDouble(-1.0)).getOrElse(-1.0)
        if (b < 0) { if (!raiseOnly) { qw.put(n, w); seeded += 1 } }
        else if (rebase(n) && w > b) {
          // the explicit escape for deliberate semantic changes — the
          // ONLY path that raises an entry, and it announces itself
          System.err.println(
            f"[bench] baseline REBASED $n: $b%.2fs -> $w%.2fs")
          qw.put(n, w); rebased += 1
        }
        else if (!raiseOnly && w < b * 0.8) { qw.put(n, w); lowered += 1 }
      }
      // provenance is stamped on EVERY ratchet invocation, not only
      // when an entry moves: a steady-state baseline recorded before
      // the field existed would otherwise stay unstamped forever, and
      // unstamped baselines bypass the cross-regime guard — the
      // mismatch protection would never engage on a mature baseline.
      // Stamping here is safe: the caller already verified regimeOk.
      // STALENESS is judged on the regime-GUARDED keys only (runner,
      // cpus — the ones the cross-regime guard reads): a no-movement
      // run whose reps/codegen happen to differ (the driver's
      // codegen-off or reps=1 regimes) must not rewrite the tracked
      // file just to restamp fields the guard ignores — reps/codegen
      // stay as recorded by the run that last moved an entry.
      val provStale = provenance.nonEmpty && {
        val cur = root.get("provenance")
        Seq("runner", "cpus").exists { k =>
          provenance.get(k).exists(v =>
            cur == null || cur.get(k) == null || cur.get(k).asText("") != v)
        }
      }
      if (lowered + seeded + rebased > 0 || provStale) {
        if (provenance.nonEmpty) {
          val p = mapper.createObjectNode()
          provenance.toSeq.sortBy(_._1).foreach { case (k, v) => p.put(k, v) }
          root.set[com.fasterxml.jackson.databind.JsonNode]("provenance", p)
        }
        java.nio.file.Files.writeString(path,
          mapper.writeValueAsString(root) + "\n")
        System.err.println(s"[bench] baseline ratchet: $lowered lowered, " +
          s"$seeded seeded, $rebased rebased in $baselinePath" +
          (if (provStale) " (provenance stamped)" else ""))
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] ratchet skipped: ${e.getMessage}")
    }

  /** Render the two JSON lines (short stdout form, full-precision file
    * form) + the names that failed every rep. Medians are over
    * SUCCESSFUL samples only; a query with zero successes reports -1
    * and shows up in the `errors` field (failure counts per query),
    * which is always present so parsers need no fallback. The file
    * form additionally carries `queries_warm` (cold rep excluded) and
    * `build_s` (first-rep minus warm median, floored at 0 — the
    * one-time artifact-build cost of the stored-tier gates).
    */
  private[graft] def render(names: Seq[String],
      samples: Seq[Map[String, Option[Double]]], reps: Int,
      sfDir: String, provenance: Map[String, String] = Map.empty,
      memoBuild: Map[String, Double] = Map.empty)
      : (String, String, Seq[String]) = {
    val okSamples: Map[String, Seq[Double]] =
      names.map(n => n -> samples.flatMap(_.get(n).flatten)).toMap
    // a name ABSENT from a pass (the partial sub-second passes omit
    // the rest of the suite) was not sampled — only a present-but-None
    // entry is a recorded failure
    val errCount: Map[String, Int] =
      names.map(n => n -> samples.count(_.get(n).exists(_.isEmpty))).toMap
    val med = names.map { n =>
      n -> (if (okSamples(n).nonEmpty) median(okSamples(n)) else -1.0)
    }.toMap
    val allFailed = names.filter(n => okSamples(n).isEmpty).sorted
    // stdout line stays SHORT: the harness captures a bounded log tail,
    // and a line carrying per-query min/max at full double precision
    // overflowed it (head truncated → unparseable). Medians at 4
    // decimals go to stdout; the full-precision medians + min/max land
    // in BENCH_LAST.json only.
    def r4(x: Double): String = BigDecimal(x)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    val qsShort = names.map(n => s"\"" + n + "\":" + r4(med(n)))
      .mkString("{", ",", "}")
    val qs = names.map(n => s"\"" + n + "\":" + med(n))
      .mkString("{", ",", "}")
    val errs = names.filter(errCount(_) > 0)
      .map(n => s"\"" + n + "\":" + errCount(n))
      .mkString("{", ",", "}")
    // min/max over the WARM samples only (rep-1 cold excluded, falling
    // back to all samples on single-rep runs): rep 1 carries the
    // one-time artifact builds (already split out as build_s), so
    // including it read as 5x "spread" on gates that are steady warm —
    // the spread figure should describe the serving path the ratchet
    // and alarm act on. With ≥5 warm samples (the sub-second gates'
    // extra passes) the single WORST sample is trimmed before the max:
    // measured across the full suite, every sub-second gate whose raw
    // range exceeded 2x had its median within 1.5x of its min — the
    // raw max is always one lone GC-pause sample, which is noise to a
    // spread figure exactly as the cold rep was (the median the
    // ratchet/alarm act on already outvotes it 5:1).
    val minmax = names.map { n =>
      val warm = samples.drop(1).flatMap(_.get(n).flatten)
      val base = if (warm.nonEmpty) warm else okSamples(n)
      val xs = if (base.size >= 5) base.sorted.dropRight(1) else base
      if (xs.nonEmpty) s"\"" + n + "\":[" + xs.min + "," + xs.max + "]"
      else s"\"" + n + "\":[-1,-1]"
    }.mkString("{", ",", "}")
    val warm = warmMedians(names, samples)
    val warmJson = names.map(n => s"\"" + n + "\":" + warm(n))
      .mkString("{", ",", "}")
    // build cost = the first rep's excess over the warm median: the
    // one-time layout/index writes (bucketed tables, stored postings,
    // SQ8 codes) land in rep 1 and nowhere else
    val buildVals: Map[String, Double] = names.map { n =>
      val first = samples.headOption.flatMap(_.get(n).flatten)
      n -> ((first, warm(n)) match {
        case (Some(f), w) if w >= 0 => math.max(0.0, f - w)
        case _ => 0.0
      })
    }.toMap
    val buildS = names.map(n => s"\"" + n + "\":" + buildVals(n))
      .mkString("{", ",", "}")
    // memo-build attribution (file form only; sparse — gates that ran
    // no memo build are omitted so the field reads as "who paid"):
    // seconds of PlanMemo build time that ran inside this gate's timed
    // calls, summed over reps. See `build_s` for the stored-artifact
    // analog; the two are disjoint mechanisms (parquet round-trip digs
    // vs session checkpoint memos) and both exist to keep warm medians
    // honest about one-time work.
    val memoS = names.filter(n => memoBuild.getOrElse(n, 0.0) > 0)
      .map(n => s"\"" + n + "\":" + memoBuild(n))
      .mkString("{", ",", "}")
    val total = med.values.filter(_ >= 0).sum
    // HEADLINE SPLIT: total_warm (summed warm medians — the honest
    // serving figure) vs build_total (summed first-rep excess — the
    // one-time index/codebook/bucket builds timed inside rep 1).
    // `value` stays the raw all-reps-median total for harness
    // continuity; readers adjudicating performance should read
    // total_warm, not value.
    val totalWarm = names.map(warm).filter(_ >= 0).sum
    val buildTotal = buildVals.values.sum
    // regime fingerprint, stamped into BOTH forms: adjudicating a
    // number without knowing which regime produced it was the round-17
    // trap (driver-tail single-rep in-sbt numbers read as movers that
    // the warm-median mirror showed flat). Values are ESCAPED — runner
    // comes from an env var, and a quote or backslash in it would
    // corrupt the artifact JSON and the stdout line the harness scrapes.
    val prov = provenance.toSeq.sortBy(_._1)
      .map { case (k, v) => s"\"" + esc(k) + "\":\"" + esc(v) + "\"" }
      .mkString("{", ",", "}")
    val stdoutJson =
      s"""{"metric":"total","value":${r4(total)},"unit":"sec",""" +
        s""""total_warm":${r4(totalWarm)},"build_total":${r4(buildTotal)},""" +
        s""""queries":$qsShort,"errors":$errs,"reps":$reps,"sf":"${esc(sfDir)}",""" +
        s""""provenance":$prov}"""
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec",""" +
        s""""total_warm":$totalWarm,"build_total":$buildTotal,""" +
        s""""queries":$qs,"queries_warm":$warmJson,"build_s":$buildS,""" +
        s""""memo_build_s":$memoS,""" +
        s""""queries_minmax":$minmax,"errors":$errs,"reps":$reps,""" +
        s""""sf":"${esc(sfDir)}","provenance":$prov}"""
    (stdoutJson, json, allFailed)
  }
}
