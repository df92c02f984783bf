package graft

import org.apache.spark.sql.functions._

/** Dev drive: exercise the core operators well beyond sf0.1 with
  * deterministic synthetic data (10M skewed edges; 50k documents built
  * as 10 replicas of sf0.1's 5k; 20k embeddings) — a local rehearsal of
  * the 100 TB posture: does anything OOM, explode, or fall off a
  * performance cliff when the input grows ~20×?
  *
  * Notably: replicating documents 10× makes every doc an exact
  * near-dup of its 9 clones — a worst-case stress for candidate
  * generation (every LSH band bucket holds ≥ 10 docs).
  */
object ScaleRehearsal {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.sessionBuilder(32)
      // shuffle files are only deleted when ContextCleaner GCs their
      // ShuffleDependency; with a large heap the driver may not GC for
      // the whole run, and the XL tier's iterative 1e8-row loops then
      // accumulate hundreds of GB of dead shuffle files (measured:
      // the 1e8 giant-cluster phase filled the 80 GB scratch disk and
      // killed the JVM at the default 30min periodic-GC interval).
      // 2min bounds dead-file residency at ~2 rounds' worth.
      .config("spark.cleaner.periodicGC.interval", "2min").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_PHASE_ONLY=substr[,substr…] runs just the matching
    // phases — the local dev loop for a new phase without the full
    // rehearsal. Never set by the driver; fixtures are lazy DataFrame
    // defs, so skipped phases cost nothing.
    val phaseOnly = sys.env.get("SPARK_GRAFT_PHASE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // SPARK_GRAFT_SCALE_XL=1 adds the one-tier-up probes (100M-edge
    // kernels, the forced-rounds lineage A/B) — "xl "-prefixed phases,
    // EXCLUDED from the headline total so the committed baseline's
    // figure stays comparable across runs with and without the tier
    val xl = sys.env.get("SPARK_GRAFT_SCALE_XL").contains("1")
    // Per-phase executor metrics: spill (memory+disk bytes), peak
    // execution memory, and the longest single task — the skew /
    // memory-pressure evidence next to each phase's seconds. Metrics
    // land in the artifact as separate numeric fields (NOT in the
    // result string: they are nondeterministic, and the result-drift
    // alarm treats result strings as correctness signals).
    final class PhaseMetrics extends org.apache.spark.scheduler.SparkListener {
      val spill = new java.util.concurrent.atomic.AtomicLong
      val peak = new java.util.concurrent.atomic.AtomicLong
      val maxTaskMs = new java.util.concurrent.atomic.AtomicLong
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          peak.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
        }
        if (te.taskInfo != null)
          maxTaskMs.getAndUpdate(p => math.max(p, te.taskInfo.duration))
      }
      def reset(): Unit = { spill.set(0); peak.set(0); maxTaskMs.set(0) }
      /** (spill MB, peak MB, max task s) after draining the bus. */
      def snapshot(): (Long, Long, Double) = {
        org.apache.spark.sql.graft.ColumnBridge.waitListeners(spark)
        (spill.get() >> 20, peak.get() >> 20, maxTaskMs.get() / 1e3)
      }
    }
    val metrics = new PhaseMetrics
    spark.sparkContext.addSparkListener(metrics)
    final case class PhaseRec(name: String, s: Double, result: String,
      spillMb: Long, peakMb: Long, maxTaskS: Double, extraJson: String = "")
    // phase log → SCALE_LAST.json (the tracked 100-TB-posture artifact:
    // phase → seconds → result), so scale cliffs are caught by the
    // round-over-round diff, not only by the sf0.1 bench
    val phaseLog = scala.collection.mutable.ArrayBuffer[PhaseRec]()
    // the artifact is (re)written after EVERY phase, not once at exit:
    // a phase that kills the JVM (the reason this run exists is to
    // find those) must still leave the completed phases' evidence.
    // PHASE_ONLY dev loops normally don't write (a 2-phase run must
    // not clobber the tracked file) — unless the caller names an
    // EXPLICIT destination via SPARK_GRAFT_SCALE_OUT, which makes the
    // file the caller's to clobber (the XL-tier rerun path).
    def writeArtifact(): Unit =
      if (phaseOnly.isEmpty || sys.env.contains("SPARK_GRAFT_SCALE_OUT")) {
      def esc(s: String): String =
        s.replace("\\", "\\\\").replace("\"", "\\\"")
      val phasesJson = phaseLog.map { p =>
        s""""${esc(p.name)}":{"s":${p.s},"result":"${esc(p.result)}",""" +
          s""""spill_mb":${p.spillMb},"peak_mb":${p.peakMb},""" +
          f""""max_task_s":${p.maxTaskS}%.3f""" +
          (if (p.extraJson.nonEmpty) "," + p.extraJson else "") + "}"
      }.mkString("{", ",", "}")
      val (xlPhases, corePhases) = phaseLog.partition(_.name.startsWith("xl "))
      val total = corePhases.map(_.s).sum
      val xlTotal = xlPhases.map(_.s).sum
      // heap provenance: the XL tier needs a bigger driver heap than
      // the 8g the core baseline was recorded under (100M-edge kernels
      // OOM the default) — a reader comparing runs must see the regime
      val mem = sys.env.getOrElse("SPARK_DRIVER_MEM", "8g")
      val json = s"""{"metric":"scale_total","value":$total,""" +
        s""""unit":"sec","xl_total":$xlTotal,"driver_mem":"$mem",""" +
        s""""phases":$phasesJson}"""
      val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_LAST.json")
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get(out), json + "\n")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[scale] could not write $out: ${e.getMessage}")
      }
    }
    // `extra`: evaluated AFTER the phase body, returns a raw JSON
    // fragment (e.g. `"rounds":[…]`) appended to the phase's artifact
    // node — diagnostic fields live OUTSIDE the result string, which
    // the drift alarm treats as a correctness signal.
    def t[A](name: String, extra: () => String = () => "")(f: => A): Unit = {
      if (phaseOnly.exists(subs => !subs.exists(name.contains))) return
      metrics.reset()
      val t0 = System.nanoTime()
      val r = f
      val dt = (System.nanoTime() - t0) / 1e9
      val (spillMb, peakMb, maxTaskS) = metrics.snapshot()
      phaseLog += PhaseRec(name, dt, String.valueOf(r), spillMb, peakMb,
        maxTaskS, extra())
      println(f"SCALE $name%-28s $dt%8.2f s  -> $r  " +
        f"[spill ${spillMb}MB, peak ${peakMb}MB, maxTask $maxTaskS%.1fs]")
      Caches.clear(spark) // each phase measured against a clean cache
      writeArtifact()
    }
    // per-round breakdown of the most recent dupClusters star loop —
    // attached to the fixpoint phases so a slow total is explained
    // round by round (round-bound vs data-bound)
    def starRoundsJson(): String = {
      val rs = operators.Dedup.lastRounds.get()
      if (rs.isEmpty) ""
      else rs.map(r => f"""{"round":${r.round},"edges":${r.edges},""" +
        f""""changed":${r.changed},"s":${r.secs}%.2f}""")
        .mkString("\"rounds\":[", ",", "]")
    }

    // 10M directed edges over 2M vertices, skewed dst (celebrities)
    val edges = spark.range(10000000L).select(
      pmod(hash(col("id")), lit(2000000)).cast("long").as("src"),
      pmod(hash(col("id") * 31 + 7), lit(20000)).cast("long").as("dst"))
    t("path2_total 10M edges")(
      operators.GraphOps.path2Total(edges).collect()(0).getLong(0))
    t("triangles_rs 10M max=2000")(
      operators.GraphOps.trianglesRS(edges, max = 2000).collect()(0).getLong(0))
    t("triangles_rep 10M max=1500")(
      operators.GraphOps.trianglesRep(edges, max = 1500).collect()(0).getLong(0))
    // 5 integer sweeps over 2M vertices / 10M edges; result = the
    // checksum of all ranks (exact long sum — any nondeterminism or
    // drift across partitionings would move it)
    t("pagerank 10M edges 5 sweeps")(
      operators.GraphOps.pageRank(edges)
        .agg(sum(col("rank_fp"))).collect()(0).getLong(0))
    // components on a 1/8 slice (~1.25M edges over 2M vertices) —
    // past the union-find fast path's 250k-edge bound, so the
    // DISTRIBUTED star loop runs, on a fragmented (many-component)
    // graph rather than dup_clusters' giant/deep shapes below
    t("components 10M/8 sparse")(
      operators.GraphOps.components(
          operators.GraphOps.sparsifyEdges(edges, 8L))
        .agg(countDistinct(col("component"))).collect()(0).getLong(0))
    t("mutual_follows 10M edges")(
      operators.GraphOps.mutualFollows(edges).collect()(0).getLong(0))

    // 50k documents: 10 replicas of sf0.1 (every doc has 9 exact dups)
    val docs0 = spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
      .select(col("doc_id"), col("text"))
    val docs = spark.range(10).crossJoin(docs0)
      .select((col("doc_id") + col("id") * 1000000L).as("doc_id"), col("text"))
    t("dedup_exact 50k docs")(operators.Dedup.exact(docs).count())
    t("ngram_jaccard 50k docs")(operators.Dedup.ngramJaccard(docs).count())
    t("minhash_lsh 50k docs")(operators.Dedup.minhashLsh(docs).count())
    t("dup_clusters from lsh")(
      operators.Dedup.dupClusters(operators.Dedup.minhashLsh(docs)).count())

    // decontamination at 50k docs vs a 500-doc "benchmark": probe side
    // broadcast, corpus in one map stage
    // real-container decode at 50k payloads: synthesize BMP/WAV/AVI
    // headers and parse them back — the column path (sum of parsed
    // data bytes over valid rows as the checksum) and the ByteBuffer
    // batch path (valid-row count) both exercised at 100× the sf0.01
    // gate size
    t("media_decode_cols 50k")(
      operators.Multimodal.mediaDecodeCols(
          operators.Multimodal.mediaContainers(docs))
        .filter(col("valid") === 1L)
        .agg(sum(col("data_bytes"))).collect()(0).getLong(0))
    t("media_decode_batch 50k")(
      operators.Multimodal.mediaDecodeBatch(spark,
        operators.Multimodal.mediaContainers(docs)).filter(_.valid == 1L)
        .count())
    t("contamination 50k docs")(
      operators.TextOps.contamination(docs,
        docs0.filter(col("doc_id") < 500)).count())
    // same screen through the fixed 8 KB bloom prefilter — the form
    // that survives a probe side too big to broadcast
    t("contamination_bloom 50k")(
      operators.TextOps.contaminationBloom(docs,
        docs0.filter(col("doc_id") < 500)).count())
    // sequence packing at 50k docs: ONE range shuffle + 2-pass prefix
    t("pack_sequences 50k docs")(
      operators.TextOps.packSequences(docs).count())
    // CM sketch at full default width (4×65536) and the tf-idf top-k —
    // both bounded by sketch geometry / vocabulary, not corpus size
    t("cms_sketch 50k docs")(
      operators.TextOps.cmsTokens(docs).count())
    t("salient_terms 50k docs")(
      operators.TextOps.salientTerms(docs).count())
    // BPE at honest vocabulary depth: 64 merges over the 50k corpus —
    // prices the per-round driver loop (one vocab-sized pair count +
    // a 1-row argmax collect per round) where the 6-round gate only
    // samples it; the per-round latency distribution is the record
    // (a growing tail would mean the lazy replace chain needs
    // periodic materialization)
    // incremental index maintenance at 50k docs: fold the 1-in-5
    // batch into the stored 4/5 index and require EXACT equality with
    // the one-shot rebuild (the pairing trick: every row must appear
    // exactly twice in the union)
    t("postings_delta 50k docs")({
      val a = docs.filter(col("doc_id") % 5 =!= 0)
      val b = docs.filter(col("doc_id") % 5 === 0)
      val merged = operators.TextOps.postingsDelta(
        operators.TextOps.postingsIndex(a), b)
      val oneShot = operators.TextOps.postingsIndex(docs)
      val cols = Seq("token", "df", "cf", "rank", "doc_id", "tf")
      val diff = merged.select(cols.map(col): _*)
        .unionByName(oneShot.select(cols.map(col): _*))
        .groupBy(cols.map(col): _*).agg(count(lit(1)).as("c"))
        .filter(col("c") =!= 2).count()
      require(diff == 0L, s"$diff index rows diverged from the rebuild")
      s"index rows=${merged.count()}"
    })
    // BM25 served from the stored index at 50k docs: candidates are
    // query-vocab × depth posting rows, never the corpus
    t("bm25_indexed 50k docs")({
      val corpus = docs.filter(col("doc_id") >=
        operators.TextOps.Bm25Queries)
      val n = operators.TextOps.bm25FromIndex(
        operators.TextOps.postingsIndex(corpus,
          k = operators.TextOps.Bm25IndexDepth),
        operators.TextOps.docLengths(corpus), docs).count()
      require(n > 0L, "indexed bm25 returned nothing")
      n
    })
    // PRF served from the stored tier at 50k docs: both passes, the
    // feedback pool, and the expansion idf are index-bounded — the
    // corpus text is read only to BUILD the index, never to serve
    t("bm25_prf_indexed 50k docs")({
      val corpus = docs.filter(col("doc_id") >=
        operators.TextOps.Bm25Queries)
      val n = operators.TextOps.bm25PrfFromIndex(
        operators.TextOps.postingsIndex(corpus,
          k = operators.TextOps.Bm25IndexDepth),
        operators.TextOps.docLengths(corpus), docs).count()
      require(n > 0L, "indexed PRF returned nothing")
      n
    })
    // trained quality filter at 50k docs: the fit is cap-bounded (256
    // collected rows) regardless of corpus size; serving + the
    // agreement audit are one codegen'd projection + one aggregation
    t("quality_model 50k docs")({
      val ag = operators.TextOps.qualityModelAgreement(docs).collect()(0)
      require(ag.getLong(0) == docs.count(),
        "agreement did not cover the corpus")
      s"n=${ag.getLong(0)} agree_ppm=${ag.getLong(2)}"
    })
    // domain governance at 50k docs / 5k hosts: host extraction is a
    // map stage; the rollup is one partial-agg'd groupBy; the quota is
    // the bounded TopKPerKey heap (a hot host costs k slots)
    t("domain_rollup+quota 50k")({
      val urled = docs.withColumn("url",
          concat(lit("https://www.h"), pmod(col("doc_id"), lit(5000)),
            lit(".example.com/"), col("doc_id")))
        .withColumn("lang", lit("en"))
      val hosts = operators.TextOps.domainRollup(urled).count()
      val quota = operators.TextOps.domainQuota(urled).count()
      s"hosts=$hosts quota_rows=$quota"
    })
    // incremental decontamination at 50k docs: fold the 1-in-5 batch
    // in, drop a 500-doc takedown set, and require EXACT equality with
    // the one-shot index of the post-cycle corpus (the pairing trick)
    t("shingles_delta 50k docs")({
      val dropIds = docs.filter(col("doc_id") < 500).select("doc_id")
      val stored = operators.TextOps.docShingles(
        docs.filter(col("doc_id") % 5 =!= 0))
      // the add batch excludes the takedown set (the append-only
      // contract: an id may not be added and dropped in one cycle
      // unless it is a re-ingest, which this fixture is not)
      val merged = operators.TextOps.shinglesDelta(stored,
        docs.filter(col("doc_id") % 5 === 0 && col("doc_id") >= 500),
        dropIds)
      val oneShot = operators.TextOps.docShingles(
        docs.filter(col("doc_id") >= 500))
      val diff = merged.unionByName(oneShot)
        .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
        .filter(col("c") =!= 2).count()
      require(diff == 0L, s"$diff shingle rows diverged from the rebuild")
      s"index rows=${merged.count()}"
    })
    t("bpe_train 50k docs 64 merges")({
      val times = scala.collection.mutable.ArrayBuffer[Double]()
      val merges = operators.TextOps.bpeTrain(docs, rounds = 64,
        onRound = (_, s) => times += s).count()
      val srt = times.sorted
      def pct(p: Double) =
        f"${srt(math.min(srt.size - 1, (p * srt.size).toInt))}%.2f"
      // timings go to the LOG, not the result string — the artifact's
      // result-drift alarm treats the string as a correctness signal,
      // and embedded seconds made it cry wolf every run
      println(s"[scale] bpe per-round s: " +
        f"p50=${pct(0.5)} p90=${pct(0.9)} max=${srt.last}%.2f " +
        f"first=${times.head}%.2f last=${times.last}%.2f")
      s"merges=$merges rounds=${times.size}"
    })
    // per-hour HLL over 10M synthetic events (1M users, 30 days of
    // hours): the shuffle after partial agg is ≤ hours×512 counters
    val bigEvents = spark.range(10000000L).select(
      timestamp_seconds(lit(1700000000L) +
        pmod(hash(col("id")), lit(720 * 3600))).as("ts"),
      pmod(hash(col("id") * 13 + 5), lit(1000000)).cast("long").as("user_id"))
    t("hourly_users_hll 10M events")(
      graft.streaming.EventWindows.hourlyUsersHll(bigEvents).count())

    // one GIANT near-dup component (10^6 members: 30% direct hub links
    // + a random recursive tree) — the old pointer-doubling loop
    // funneled every member's jump row through the min-label partition
    // each round; star contraction + the heavy-hub broadcast rewrite
    // resolves it with bounded per-partition work. heavyDegree is
    // lowered so the 300k-degree hub actually takes the broadcast path
    // at this scale. Result 0 = every member rooted at the hub.
    val giant = spark.range(1L, 1000000L).select(
      col("id").as("doc_a"),
      when(pmod(hash(col("id")), lit(10)) < 3, lit(0L))
        .otherwise(pmod(hash(col("id") * 17 + 3), col("id"))).as("doc_b"))
    t("dup_clusters giant 1e6")(
      operators.Dedup.dupClusters(giant, heavyDegree = 100000L)
        .filter(col("cluster_id") =!= 0L).count())

    // one DEEP 400k-node chain: the worst case for star-ROUND COUNT
    // (the giant component above is wide but shallow), and >
    // SmallInput.ClusterEdges so the distributed loop runs, not the
    // fast path. The checkpointed run uses the DEFAULT cadence — the round
    // count must cross ClusterCheckpointEvery, so the reliable-
    // checkpoint path is rehearsed at depth with real truncation
    // points, and its labels must match the unchecked run (all 0, the
    // chain's min id — so mislabeled counts ARE the comparison).
    val deepPath = spark.range(0L, 400000L).select(
      col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
    t("deep chain 400k, no ckpt")({
      val bad = operators.Dedup.dupClusters(deepPath)
        .filter(col("cluster_id") =!= 0L).count()
      require(bad == 0L, s"$bad mislabeled")
      s"mislabeled=0 rounds=${operators.Dedup.lastStarRounds.get}"
    })
    t("deep chain 400k, ckpt@dflt")({
      val dir = java.nio.file.Files.createTempDirectory("graft-scale-ckpt")
      try {
        val bad = operators.Dedup.dupClusters(deepPath,
            checkpointDir = Some(dir.toString))
          .filter(col("cluster_id") =!= 0L).count()
        require(bad == 0L, s"$bad mislabeled")
        val rounds = operators.Dedup.lastStarRounds.get
        require(rounds > operators.Dedup.ClusterCheckpointEvery,
          s"only $rounds rounds — cadence never crossed, deepen the chain")
        def walk(f: java.io.File): Iterator[java.io.File] =
          Iterator(f) ++ Option(f.listFiles()).iterator.flatten.flatMap(walk)
        val parts = walk(dir.toFile).count(_.getName.startsWith("part-"))
        require(parts > 0, "no checkpoint files written")
        s"mislabeled=0 rounds=$rounds ckptFiles=$parts"
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    })

    // as-of join at 10M probe / 5M build rows over 100k keys, with ONE
    // hot key carrying 10% of both sides (1.5M rows in a single window
    // partition) — the documented celebrity-key caveat, measured. Build
    // ts = id keeps (k, ts) unique, the operator's precondition.
    val asofBuild = spark.range(5000000L).select(
      when(pmod(col("id"), lit(10)) === 0, lit(0L))
        .otherwise(pmod(hash(col("id")), lit(100000)).cast("long")).as("k"),
      col("id").as("ts"), col("id").as("v"))
    val asofProbe = spark.range(10000000L).select(
      col("id").as("event_id"),
      when(pmod(col("id"), lit(10)) === 0, lit(0L))
        .otherwise(pmod(hash(col("id") * 13 + 1), lit(100000)).cast("long"))
        .as("k"),
      pmod(hash(col("id") * 7 + 3), lit(5000000)).cast("long").as("ts"))
    // aggregate over the MATCHED VALUES, not count(): a bare count
    // lets column pruning delete the unused window node entirely and
    // the phase would time the union, not the as-of election
    t("asof 10M probe, 10% hot key")(
      operators.AsofJoin.asofJoin(asofProbe, asofBuild,
          Seq("k"), "ts", Seq("v"))
        .agg(count(col("v")).as("matched"), count(lit(1)).as("n"))
        .collect()(0).toSeq)
    // skew-proof form on the same inputs: 100 ts-buckets cut the hot
    // key's 1.5M-row window partition to ~15k rows per task
    t("asof bucketed, same hot key")(
      operators.AsofJoin.asofJoinBucketed(asofProbe, asofBuild,
          Seq("k"), "ts", Seq("v"), 50000L)
        .agg(count(col("v")).as("matched"), count(lit(1)).as("n"))
        .collect()(0).toSeq)
    // forward direction under the same 10% hot key: the plain form
    // funnels identically, the bucketed form must hold the same cut
    t("asof fwd plain, hot key")(
      operators.AsofJoin.asofJoinForward(asofProbe, asofBuild,
          Seq("k"), "ts", Seq("v"))
        .agg(count(col("v")).as("matched"), count(lit(1)).as("n"))
        .collect()(0).toSeq)
    t("asof fwd bucketed, hot key")(
      operators.AsofJoin.asofJoinBucketedForward(asofProbe, asofBuild,
          Seq("k"), "ts", Seq("v"), 50000L)
        .agg(count(col("v")).as("matched"), count(lit(1)).as("n"))
        .collect()(0).toSeq)

    // interval join at 10M points × 100k intervals over 100k keys,
    // with the SAME 10% hot key on both sides — spans 5k-15k over a
    // 5M ts range (≈0.2% hit rate; the hot key still yields ~20M
    // real pairs), width 10000 keeps interval replication ~2×. The
    // naive theta-join here is a 1M×10k per-key cross product on the
    // hot key BEFORE filtering; the bucket decomposition never forms
    // it — hot-key traffic spreads across ~500 time buckets.
    val ivals = spark.range(100000L).select(
      col("id").as("iv_id"),
      when(pmod(col("id"), lit(10)) === 0, lit(0L))
        .otherwise(pmod(hash(col("id") * 29 + 11), lit(100000)).cast("long"))
        .as("k"),
      pmod(hash(col("id") * 3 + 5), lit(5000000)).cast("long").as("st"))
      .withColumn("en", col("st") + 5000L +
        pmod(hash(col("iv_id") * 7), lit(10000)).cast("long"))
    t("interval join 10M pts, hot key")(
      operators.IntervalJoin.intervalJoin(
          asofProbe.select(col("event_id"), col("k"), col("ts")),
          ivals, Seq("k"), "ts", "st", "en", 10000L)
        .agg(count(lit(1)).as("pairs")).collect()(0).getLong(0))

    // 20k / 80k embeddings: replicas of sf0.1's 2k. Cells grow as √N
    // (141 → 282), so per-query probe work 2·N/cells grows as √N —
    // sublinear — while the 2-level assignment keeps per-row cost at
    // ~2·N^(1/4) dot products.
    val emb0 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    def embX(copies: Int) = spark.range(copies).crossJoin(emb0)
      .select((col("vec_id") + col("id") * 1000000L).as("vec_id"), col("embedding"))
    val emb = embX(10)
    t("knn_brute 20k vectors")(operators.Similarity.knnBrute(emb).count())
    // spherical training at 20k vectors: the normalize-then-quantize
    // sample is still cap-bounded; renorm rounds are k·dims driver work
    t("ivf_spherical 20k vectors")(
      operators.Similarity.knnIvfSphericalTrained(emb,
        corpusSize = 20000L).count())
    t("knn_ivf 20k vectors")(
      operators.Similarity.knnIvf(emb, corpusSize = 20000L).count())
    t("knn_ivf 80k vectors")(
      operators.Similarity.knnIvf(embX(40), corpusSize = 80000L).count())
    // the sublinear-candidates contract, measured: candidates met per
    // run should grow ~2× from 20k to 80k (≈ nProbe·Q·N/cells = √N
    // growth), not 4× (linear) — the count IS the probe's join size
    t("ivf candidates 20k")(
      operators.Similarity.ivfScored(emb, corpusSize = 20000L).count())
    t("ivf candidates 80k")(
      operators.Similarity.ivfScored(embX(40), corpusSize = 80000L).count())
    // corpusSize is passed because embX frames are crossJoin-derived —
    // letting the adaptive default count() them would be a full scan
    t("knn_lsh 20k vectors")(
      operators.Similarity.knnLsh(emb, corpusSize = 20000L).count())
    t("knn_lsh 80k vectors")(
      operators.Similarity.knnLsh(embX(40), corpusSize = 80000L).count())
    t("neardup 20k vectors")(
      operators.Similarity.nearDupPairs(emb, corpusSize = 20000L).count())
    // ANN quality, not just speed: recall@5 of each approximate index
    // against the brute-force ranking on the same corpus (fraction of
    // true top-5 neighbor pairs the index reproduces)
    def recall(corpus: org.apache.spark.sql.DataFrame,
        approx: org.apache.spark.sql.DataFrame): String = {
      val truth = operators.Similarity.knnBrute(corpus)
        .select(col("query_id"), col("neighbor_id"))
      val n = truth.count()
      val hit = truth.join(approx.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"), "left_semi").count()
      // an empty truth set (degenerate corpus) is a rehearsal bug, not
      // a 100% — surface it instead of printing NaN
      if (n == 0) "0/0 = EMPTY TRUTH SET"
      else f"$hit/$n = ${hit.toDouble / n}%.2f"
    }
    // replica corpus: clones dominate the top-5 — near-free recall
    t("lsh recall@5 20k")(
      recall(emb, operators.Similarity.knnLsh(emb, corpusSize = 20000L)))
    t("ivf recall@5 20k")(
      recall(emb, operators.Similarity.knnIvf(emb, corpusSize = 20000L)))

    // trained IVF at 100k CLUSTERED vectors (50 tight hash-derived
    // clusters, dim 16 — the distribution hash-order anchors skew on):
    // the standing recall/candidate record for the Lloyd-trained
    // index vs the untrained hash-anchor layout. Driver training cost
    // is bounded (16k sample × √N cells × 5 iters) and included in
    // the timing.
    val clustered = graft.Caches.track(
      spark.range(100000L).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 15), i -> cast(" +
          "pmod(hash(id % 50 * 16 + i), 1000) / 499.5 - 1.0 + " +
          "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
          .as("embedding"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    t("ivf untrained 100k clustered")(
      operators.Similarity.knnIvf(clustered, corpusSize = 100000L).count())
    t("ivf trained 100k clustered")(
      operators.Similarity.knnIvfTrained(clustered, corpusSize = 100000L)
        .count())
    t("ivf cand 100k untrained")(
      operators.Similarity.ivfScored(clustered, corpusSize = 100000L).count())
    t("ivf cand 100k trained")(
      operators.Similarity.ivfScoredTrained(clustered, corpusSize = 100000L)
        .count())
    t("ivf recall@5 100k untrained")(
      recall(clustered,
        operators.Similarity.knnIvf(clustered, corpusSize = 100000L)))
    t("ivf recall@5 100k trained")(
      recall(clustered,
        operators.Similarity.knnIvfTrained(clustered, corpusSize = 100000L)))
    // CELL-PRUNED serving at 100k: centroids and the cell-stamped
    // corpus round-trip parquet, then serving joins candidates on the
    // persisted cell column (no assignment kernel at serve time). The
    // candidate count must EQUAL the in-session trained path's — the
    // stamped cells are the same cells by construction — and sit at
    // ~corpus·nProbe/cells, the pruning contract.
    t("ivf pruned serve 100k (store→stamp→serve)")({
      val dir = java.nio.file.Files.createTempDirectory("graft-scale-ivfp")
      try {
        val cd = dir.toString + "/cents"
        operators.Similarity.centroidsOf(clustered, corpusSize = 100000L)
          .write.parquet(cd)
        val cents = spark.read.parquet(cd)
        val ad = dir.toString + "/assigned"
        val assigned = clustered.join(
          operators.Similarity.ivfAssignFromStored(cents, clustered),
          "vec_id")
        // repartition by cell first — one file per cell instead of
        // tasks × cells tiny files (same discipline as the gate)
        assigned.repartition(col("cell")).write.partitionBy("cell").parquet(ad)
        val stored = spark.read.schema(assigned.schema).parquet(ad)
        val cand = operators.Similarity.ivfScoredFromAssigned(
          cents, stored).count()
        val candInSession = operators.Similarity.ivfScoredTrained(
          clustered, corpusSize = 100000L).count()
        require(cand == candInSession,
          s"pruned candidates $cand != in-session trained $candInSession")
        // the STATIC-pruned serve reads only the probed cells' files
        // (partition filter — plan-asserted here, not just in PlanSpec)
        val static = operators.Similarity.ivfScoredFromAssigned(
          cents, stored, staticPrune = true)
        val plan = static.queryExecution.executedPlan.toString
        require(plan.contains("PartitionFilters: [cell"),
          "static-pruned serve lost its partition filter:\n" + plan)
        val candStatic = static.count()
        require(candStatic == cand,
          s"static-pruned candidates $candStatic != lazy $cand")
        s"candidates $cand (== in-session trained, == static-pruned; " +
          "corpus 100000, partition-filtered read)"
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    })
    // the INGEST story the pruned gate implies, rehearsed end-to-end:
    // a fresh 10k batch stamped via ivfAssignFromStored under the SAME
    // stored index appends into the existing partitionBy("cell")
    // corpus dir. Asserts (a) serving the appended dir ≡ re-stamping
    // the 110k union from scratch (bit-identical rows), and (b) the
    // append touched ONLY new files — every pre-append data file
    // survives byte-identical in place (name + length), which is what
    // makes the append O(batch) at 100 TB instead of O(corpus)
    t("ivf cell-partition append 100k+10k")({
      val dir = java.nio.file.Files.createTempDirectory("graft-scale-ivfap")
      try {
        val cd = dir.toString + "/cents"
        operators.Similarity.centroidsOf(clustered, corpusSize = 100000L)
          .write.parquet(cd)
        val cents = spark.read.parquet(cd)
        val ad = dir.toString + "/assigned"
        val base = clustered.join(
          operators.Similarity.ivfAssignFromStored(cents, clustered),
          "vec_id")
        base.repartition(col("cell")).write.partitionBy("cell").parquet(ad)
        def dataFiles(): Map[String, Long] = {
          def walk(f: java.io.File): Iterator[java.io.File] =
            if (f.isDirectory) Option(f.listFiles()).iterator
              .flatMap(_.iterator).flatMap(walk)
            else Iterator(f)
          walk(new java.io.File(ad))
            .filter(_.getName.endsWith(".parquet"))
            .map(f => f.getAbsolutePath -> f.length()).toMap
        }
        val before = dataFiles()
        val fresh = spark.range(100000L, 110000L).select(
          col("id").as("vec_id"),
          expr("transform(sequence(0, 15), i -> cast(" +
            "pmod(hash(id % 50 * 16 + i), 1000) / 499.5 - 1.0 + " +
            "pmod(hash(id * 16 + i + 99), 100) / 1250.0 as float))")
            .as("embedding"))
        fresh.join(operators.Similarity.ivfAssignFromStored(cents, fresh),
            "vec_id")
          .repartition(col("cell"))
          .write.mode("append").partitionBy("cell").parquet(ad)
        val after = dataFiles()
        val touched = before.filter { case (p, len) =>
          !after.get(p).contains(len) }
        require(touched.isEmpty,
          s"append rewrote ${touched.size} pre-existing files: " +
            touched.keys.take(3).mkString(", "))
        require(after.size > before.size,
          s"append added no data files (${before.size} -> ${after.size})")
        val stored = spark.read.schema(base.schema).parquet(ad)
        def rows(df: org.apache.spark.sql.DataFrame) =
          df.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
        val servedAppend = rows(
          operators.Similarity.knnIvfFromAssigned(cents, stored))
        val union = clustered.unionByName(fresh)
        val servedRestamp = rows(operators.Similarity.knnIvfFromAssigned(
          cents,
          union.join(
            operators.Similarity.ivfAssignFromStored(cents, union),
            "vec_id")))
        require(servedAppend == servedRestamp && servedAppend.nonEmpty,
          s"appended-dir serve (${servedAppend.size} rows) != " +
            s"re-stamped-union serve (${servedRestamp.size} rows)")
        s"append added ${after.size - before.size} files, " +
          s"${before.size} untouched; serve ≡ re-stamped union " +
          s"(${servedAppend.size} rows)"
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    })

    // incremental embedding admission at 100k corpus / 10k fresh:
    // stored band keys only (width pinned at 10 bits ≈ the
    // bandBitsFor(100k) choice), fresh batch signatures once
    t("vec admission 100k+10k")({
      val dir = java.nio.file.Files.createTempDirectory("graft-scale-veck")
      try {
        val keysDir = dir.toString + "/keys"
        operators.Similarity.vecBandKeysOf(clustered, 10)
          .write.parquet(keysDir)
        val freshV = spark.range(100000L, 110000L).select(
          col("id").as("vec_id"),
          expr("transform(sequence(0, 15), i -> cast(" +
            "pmod(hash(id * 16 + i + 7), 1000) / 499.5 - 1.0 as float))")
            .as("embedding"))
        val cand = operators.Similarity.nearDupIncrementalVec(
          spark.read.parquet(keysDir), freshV, 10).count()
        // the VERIFIED form on the same inputs at a NEAR-DUP threshold
        // (0.9; at 16 dims a random pair clears 0.3 ~11% of the time,
        // so a low threshold is dominated by true chance-similarity
        // against 100k candidates): band collisions only nominate,
        // exact cosine confirms — the uniform fresh batch holds no
        // real near-dups, so admission should be ~total against the
        // candidate-level form's dense-bucket collapse
        val ver = operators.Similarity.nearDupIncrementalVecVerified(
          spark.read.parquet(keysDir), clustered, freshV, 10,
          threshold = 0.9).count()
        require(ver >= cand, s"verified $ver < candidate-level $cand")
        require(ver >= 9000, s"verified admission collapsed: $ver of 10000")
        s"cand=$cand verified@0.9=$ver of 10000"
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    })

    // The adaptive-width contract made measurable: mean band-bucket
    // occupancy should stay ~flat 20k → 80k (the width grows with
    // log2 N, so N/2^bb holds near LshTargetBucket), instead of
    // growing 4× as a static width would let it.
    def bucketStats(e: org.apache.spark.sql.DataFrame, n: Long): String = {
      import operators.Similarity._
      val bb = bandBitsFor(n)
      val sig = e.select(graft.functions.VectorFunctions
        .lshSignature(col("embedding"), LshSigBits).as("sig"))
      val bands = array((0 until LshBands).map { j =>
        shiftright(col("sig"), j * LshBandStride).bitwiseAND((1L << bb) - 1)
      }: _*)
      val occ = sig.select(posexplode(bands).as(Seq("band_idx", "band_val")))
        .groupBy("band_idx", "band_val").count()
        .agg(avg("count"), max("count")).collect()(0)
      f"bb=$bb mean=${occ.getDouble(0)}%.1f max=${occ.getLong(1)}"
    }
    // replica corpora: raw occupancy scales with the replication factor
    // by construction (identical vectors share every bucket) — these
    // lines show the width keeping the DISTINCT-signature spread bounded
    t("lsh bucket occupancy 20k")(bucketStats(emb, 20000L))
    t("lsh bucket occupancy 80k")(bucketStats(embX(40), 80000L))
    // uniform corpora: the clean contract — mean ≈ N/2^bb ≈ the 64
    // target at BOTH sizes (a static 8-bit width would read ~78 → ~312)
    def synthEmb(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      expr("transform(sequence(0, 15), i -> " +
        "cast(pmod(hash(id * 16 + i), 1000) / 499.5 - 1.0 as float))")
        .as("embedding"))
    t("lsh occupancy 20k uniform")(bucketStats(synthEmb(20000L), 20000L))
    t("lsh occupancy 80k uniform")(bucketStats(synthEmb(80000L), 80000L))
    // the HARD recall case — near-uniform vectors, no planted clones,
    // so the indexes have to find genuinely close neighbors. Multiprobe
    // should recover most of what plain LSH banding misses.
    val uni = graft.Caches.track(
      synthEmb(20000L).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    t("lsh recall@5 20k uniform")(
      recall(uni, operators.Similarity.knnLsh(uni, corpusSize = 20000L)))
    t("lsh+probe recall@5 uniform")(
      recall(uni, operators.Similarity.knnLshMultiProbe(uni, corpusSize = 20000L)))
    t("ivf recall@5 20k uniform")(
      recall(uni, operators.Similarity.knnIvf(uni, corpusSize = 20000L)))
    t("ivf nprobe=8 recall uniform")(
      recall(uni, operators.Similarity.knnIvf(uni, nProbe = 8, corpusSize = 20000L)))

    // ---- incremental admission: the chained production loop ----
    // 3 sequential admission cycles over the 50k replica corpus (every
    // doc has 9 clones, so later batches are mostly rejections): keys
    // of EVERY ingested doc — admitted or not — append to a parquet
    // relation, and each cycle's only text scan is its own batch. The
    // invariant (chained == one-shot election with batch-index
    // arrival) is asserted, not just timed — at this scale AND in the
    // unit suite.
    t("incr admission 3x ~17k")({
      val dir = java.nio.file.Files.createTempDirectory("graft-scale-keys")
      try {
        val keysDir = dir.toString + "/keys"
        graft.streaming.StreamDedup.bandKeysOf(docs.limit(0))
          .write.parquet(keysDir)
        var admitted = 0L
        for (i <- 0 until 3) {
          val batch = docs.filter(pmod(col("doc_id"), lit(3)) === i)
          admitted += graft.streaming.StreamDedup
            .nearDupIncrementalKeys(spark.read.parquet(keysDir), batch)
            .count()
          graft.streaming.StreamDedup.bandKeysOf(batch)
            .write.mode("append").parquet(keysDir)
        }
        val oneShot = graft.streaming.StreamDedup.nearDupArrivalBatch(
            docs.withColumn("arrival", pmod(col("doc_id"), lit(3))),
            "arrival").count()
        require(admitted == oneShot,
          s"chained $admitted != one-shot $oneShot")
        s"admitted=$admitted == one-shot"
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    })

    // ---- round-5 operators ----
    // stratified quota under EXTREME language skew: ~90% of 50k docs
    // land in one language — the window row_number form would buffer
    // all ~45k of them in a single task's sort; the TopKPerKey heap
    // holds 100 rows per key regardless. Result = rows kept (≤ 100
    // per distinct lang).
    val docsSkew = docs.select(col("doc_id"), col("text"),
      when(pmod(hash(col("doc_id")), lit(10)) < 9, lit("en"))
        .otherwise(concat(lit("l"), pmod(hash(col("doc_id") * 13 + 1),
          lit(20)))).as("lang"))
    t("quota 50k docs 90% skew")(
      operators.TextOps.quotaSample(docsSkew, perLang = 100).count())
    // repeated-substring spans at 50k docs — the 10× replication makes
    // EVERY window corpus-repeated (maximal hit density: each doc one
    // full-length span), so this is the worst case for both the
    // window-hash aggregation (~34M windows) and the per-doc position
    // collect. Only 24-byte (hash, doc, pos) triples ever shuffle.
    t("repeated_spans 50k docs")(
      operators.Dedup.repeatedSpans(docs).count())
    // corpus mixing at 50k docs: pure projection + epoch generator,
    // zero shuffle (result ≈ 50k × mean epochs of the rate table)
    t("mix 50k docs")(
      operators.TextOps.mixCorpus(
        docs.withColumn("source",
          concat(lit("src"), pmod(hash(col("doc_id")), lit(20)))),
        SparkEntry.MixPpm).count())
    // exact deciles at 50k docs: one range shuffle + 2-pass rank — the
    // same machinery as pack_sequences, never a global window
    t("length_deciles 50k docs")(
      operators.TextOps.lengthDeciles(docs).count())
    // ---- round-11 operators ----
    // directed SCC at ~300k distinct edges over 100k vertices, under
    // SmallInput.TraversalEdges (2M), so SmallInput.scoped(0) forces
    // the DISTRIBUTED refinement loop (the gate's slice takes the
    // single-task Tarjan path). Mean degree 3
    // gives a giant strongly-connected core + periphery: real
    // multi-round refinement, log-ish diameter for the inner
    // fixpoints. Result = (vertices, distinct SCC labels).
    val sccEdges = spark.range(300000L).select(
      pmod(hash(col("id")), lit(100000)).cast("long").as("src"),
      pmod(hash(col("id") * 31 + 7), lit(100000)).cast("long").as("dst"))
    t("scc 300k edges distributed")({
      val r = SmallInput.scoped(0L) {
        operators.GraphOps.stronglyConnectedComponents(sccEdges)
      }.agg(count(lit(1)), countDistinct(col("scc"))).collect()(0)
      s"verts=${r.getLong(0)} sccs=${r.getLong(1)}"
    })
    // interval OVERLAP join: 1M left intervals (span 2k) × 100k right
    // intervals (span 5k-15k) over 100k keys with the same 10% hot
    // key on both sides — pairs meet in many shared buckets, the
    // max(start)-bucket residual dedups in-join; hot-key traffic
    // spreads across time buckets exactly like the containment join
    val leftIv = spark.range(1000000L).select(
      col("id").as("l_id"),
      when(pmod(col("id"), lit(10)) === 0, lit(0L))
        .otherwise(pmod(hash(col("id") * 13 + 1), lit(100000)).cast("long"))
        .as("k"),
      pmod(hash(col("id") * 7 + 3), lit(5000000)).cast("long").as("l_st"))
      .withColumn("l_en", col("l_st") + 2000L)
    t("interval overlap 1M, hot key")(
      operators.IntervalJoin.intervalOverlapJoin(
          leftIv, ivals, Seq("k"), "l_st", "l_en", "st", "en", 10000L)
        .agg(count(lit(1)).as("pairs")).collect()(0).getLong(0))
    // mergeable quantile sketch over 10M values × 1,000 groups: the
    // one shuffle carries ≤ occupied-buckets × groups counters after
    // map-side combine; 4 hash shards merged by counter addition must
    // equal the one-shot state EXACTLY (the rollup contract, asserted
    // at scale)
    val qvals = spark.range(10000000L).select(
      pmod(hash(col("id") * 13 + 5), lit(1000)).cast("string").as("g"),
      (pmod(hash(col("id") * 3 + 1), lit(2000000)).cast("double") / 7.0 -
        100000.0).as("value"))
    t("qsketch 10M x 1k groups")({
      val one = operators.QuantileSketch.sketch(qvals, Seq("g"), "value")
      val shards = (0 until 4).map(i =>
        operators.QuantileSketch.sketch(
          qvals.filter(pmod(hash(col("value")), lit(4)) === i),
          Seq("g"), "value"))
      val merged = operators.QuantileSketch.merge(shards, Seq("g"))
      val diff = merged.unionByName(one)
        .groupBy("g", "bucket").agg(sum(col("cnt")).as("s"),
          count(lit(1)).as("c"), max(col("cnt")).as("mx"))
        .filter(col("c") =!= 2 || col("s") =!= col("mx") * 2).count()
      require(diff == 0L, s"$diff (group, bucket) counters diverged")
      s"state rows=${one.count()} shard-merge exact"
    })
    // the STREAMING leg of the windowed sketch EXECUTED at scale — the
    // same transform under readStream (file source + watermark) into a
    // memory sink must reproduce the batch state EXACTLY: 2M values ×
    // 10 groups × 24 hourly windows. Complete-mode is legal because
    // the state is (window × group × occupied-bucket)-bounded — the
    // sketch-family property, here exercised, not argued.
    t("qsketch streaming twin 2M")({
      val sev = spark.range(2000000L).select(
        timestamp_seconds(lit(1700000000L) +
          pmod(hash(col("id") * 11 + 3), lit(24 * 3600))).as("ts"),
        pmod(hash(col("id") * 13 + 5), lit(10)).cast("string").as("g"),
        (pmod(hash(col("id") * 3 + 1), lit(2000000)).cast("double") / 7.0 -
          100000.0).as("value"))
      val dir = java.nio.file.Files.createTempDirectory("graft-scale-qss")
      try {
        val pq = dir.toString + "/ev"
        sev.write.parquet(pq)
        val stored = spark.read.parquet(pq)
        val batch = operators.QuantileSketch.sketchWindowed(
          stored, Seq("g"), "value", "ts")
        val q = operators.QuantileSketch.sketchWindowed(
            spark.readStream.schema(stored.schema).parquet(pq)
              .withWatermark("ts", "2 hours"),
            Seq("g"), "value", "ts")
          .writeStream.format("memory").queryName("scale_qs_stream")
          .outputMode("complete").start()
        try {
          q.processAllAvailable()
          val streamed = spark.table("scale_qs_stream")
          val diff = streamed
            .unionByName(batch.select(streamed.columns.map(col): _*))
            .groupBy("window_epoch", "g", "bucket")
            .agg(sum(col("cnt")).as("s"), count(lit(1)).as("c"),
              max(col("cnt")).as("mx"))
            .filter(col("c") =!= 2 || col("s") =!= col("mx") * 2).count()
          require(diff == 0L,
            s"$diff (window, group, bucket) rows diverged")
          s"state rows=${streamed.count()} batch==stream exact"
        } finally q.stop()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    })
    // bounded multi-source BFS on the 10M-edge graph: 100 seeds, 3
    // hops — per sweep one edge ⋈ FRONTIER join (only the previous
    // sweep's discoveries), a left-anti first-touch probe, early exit
    // on an empty frontier; the distance relation stays
    // reached-set-bounded (≤ vertices)
    t("hop distances 10M, 3 hops")(
      operators.GraphOps.hopDistances(edges,
        spark.range(100L).select(col("id").as("v")), 3).count())
    // the DEEP-hop budget the frontier-delta form exists for: a 1000-
    // hop budget on the same graph costs only reach-many sweeps (the
    // graph saturates in a handful of layers, then the loop exits) —
    // the full-relation re-join form would run 1000 sweeps × reached-
    // set joins. Result = reached count at saturation, and it must
    // equal the 3-hop count's superset check (monotone reach).
    t("hop distances 10M, 1000-hop budget (early exit)")({
      val n3 = operators.GraphOps.hopDistances(edges,
        spark.range(100L).select(col("id").as("v")), 3).count()
      val nAll = operators.GraphOps.hopDistances(edges,
        spark.range(100L).select(col("id").as("v")), 1000).count()
      require(nAll >= n3, s"deep reach $nAll < 3-hop reach $n3")
      s"reached $nAll (3-hop $n3)"
    })
    // sampled closeness on the same graph: 8 hash-chosen sources, 3
    // hops each — k sequential frontier-delta BFS runs over ONE shared
    // deduped edge cache (the per-run dedup would shuffle 10M edges
    // 8×), then one vertex-keyed aggregation of the tagged layers
    t("closeness sampled 10M, 8 seeds × 3 hops")({
      val c = operators.GraphOps.closenessSampled(edges, k = 8,
        maxHops = 3)
      val n = c.count()
      require(n > 0L, "closeness reached nothing")
      s"vertices $n"
    })
    // stress centrality on the same graph: forward σ + backward τ
    // layer passes per sampled source — every join layer-sized, path
    // counts exact longs (3-hop budget keeps σ far from overflow even
    // at this graph's 10k-degree celebrity vertices)
    t("stress sampled 10M, 4 seeds × 3 hops")({
      val n = operators.GraphOps.stressSampled(edges, k = 4,
        maxHops = 3).count()
      require(n > 0L, "stress found no internal vertices")
      s"vertices $n"
    })
    // DEEP-DIAMETER regime, the one hopStride exists for: 1000
    // disjoint 128-deep chains (128k vertices). Narrow layers (1000
    // rows) make per-layer stage/job overhead the whole cost at
    // stride 1; stride 8 joins the frontier against the precomputed
    // k≤8-hop relation, one super-sweep per 8 layers — same exact
    // layers (equality asserted on count AND the dist checksum), ~8×
    // fewer scheduled stages/checkpoints. The A/B below is the
    // standing record for the stride claim.
    t("hop chains 128-deep: stride 1 vs 8")({
      val chain = spark.range(128000L).select(col("id").as("src"),
        (col("id") + 1000L).as("dst")).filter(col("dst") < 128000L)
      val seeds = spark.range(1000L).select(col("id").as("v"))
      def run(stride: Int): (Long, Long, Double) = {
        val t0 = System.nanoTime()
        val d = operators.GraphOps.hopDistances(chain, seeds, 200, stride)
        val r = d.agg(count(lit(1)), sum(col("dist"))).collect()(0)
        (r.getLong(0), r.getLong(1), (System.nanoTime() - t0) / 1e9)
      }
      val (n1, s1, t1) = run(1)
      val (n8, s8, t8) = run(8)
      require(n1 == n8 && s1 == s8,
        s"stride changed the result: ($n1,$s1) vs ($n8,$s8)")
      require(n1 == 128000L, s"chain reach wrong: $n1")
      // stride timings to the log; the result string stays
      // deterministic for the drift alarm
      println(f"[scale] hop chains: stride1 $t1%.1f s, " +
        f"stride8 $t8%.1f s (${t1 / t8}%.1fx)")
      s"$n1 reached, dist-sum $s1"
    })
    // source-vocabulary overlap at 50k docs × 20 synthetic sources:
    // per-source top-k through the bounded heap, pair stage ≤
    // sources·k rows — corpus size is irrelevant past the count stage
    t("source overlap 50k docs")(
      operators.TextOps.sourceVocabOverlap(
        docs.withColumn("source",
          concat(lit("src"), pmod(hash(col("doc_id")), lit(20))))).count())
    // HLL duplicate-insensitivity AT SCALE: the 10×-replicated corpus
    // must produce the IDENTICAL sketch state as its 5k base (MAX per
    // bucket is idempotent) — and the whole job is a map stage into a
    // 512-group aggregate, no token shuffle. Result = state equality.
    t("vocab_hll 50k == 5k state")({
      val a = operators.TextOps.vocabHll(docs).collect()(0)
      val b = operators.TextOps.vocabHll(
        docs0.limit(5000).select(col("doc_id"), col("text"))).collect()(0)
      a.getLong(2) == b.getLong(2) && a.getLong(1) == b.getLong(1)
    })
    // ---- round-13 additions: kNN graph, k-core, snapshot merge,
    // importance weighting ----

    // full-corpus kNN join on the replica corpus: every band bucket
    // holds ≥ copies clones — the candidate-generation worst case the
    // header describes, now in the SELF-join (both sides corpus) form
    t("knn_graph 20k vectors")(
      operators.Similarity.knnGraph(emb, corpusSize = 20000L).count())
    t("knn_graph 80k vectors")(
      operators.Similarity.knnGraph(embX(40), corpusSize = 80000L).count())

    // k-core on a 1M-edge uniform graph (100k vertices, mean
    // undirected degree ~20): k at the mean forces a real multi-round
    // cascade instead of a single trim
    val kcEdges = spark.range(1000000L).select(
      pmod(hash(col("id")), lit(100000)).cast("long").as("src"),
      pmod(hash(col("id") * 31 + 7), lit(100000)).cast("long").as("dst"))
    // two regimes around the uniform graph's sharp core-collapse
    // threshold: just below it a DEEP cascade (~20+ rounds) ends in a
    // large surviving core; above it the graph wipes to empty fast
    t("kcore 1M edges k=14 (cascade)")(
      operators.GraphOps.kCore(kcEdges, k = 14, maxRounds = 60).count())
    t("kcore 1M edges k=20 (collapse)")(
      operators.GraphOps.kCore(kcEdges, k = 20, maxRounds = 30).count())

    // coreness on the same 1M-edge uniform graph: k=14 sits just
    // below the collapse threshold, so the decomposition walks the
    // full deep-cascade level before the wipe — every level's peel on
    // strictly shrinking state
    t("coreness 1M edges")(
      operators.GraphOps.coreness(kcEdges, maxK = 40, maxRounds = 60)
        .groupBy("coreness").count().count())

    // link prediction at 1M edges (100k vertices, mean degree ~20 —
    // all middles under the cap: the worst admissible fanout)
    t("link_prediction 1M edges")(
      operators.GraphOps.linkPrediction(kcEdges, midMaxDeg = 30).count())

    // doc kNN on the replica corpus: every shingle's doc-frequency is
    // a multiple of 10, so the rare-shingle df cap must be cleared by
    // clone groups — candidate buckets hold >= 10 docs by construction
    t("doc_knn 50k docs")(
      operators.Dedup.docKnn(docs, maxDf = 60L).count())

    // snapshot refresh at 50k: a 20% upsert + 5% tombstone batch
    // through the one-shuffle merge, then the fingerprint-only diff
    t("merge+diff 50k docs")({
      val cur = docs.withColumn("version", lit(0L))
        .withColumn("deleted", lit(false))
      val changes = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("text", concat(lit("rev1: "), col("text")))
        .withColumn("version", lit(1L)).withColumn("deleted", lit(false))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(20)) === 1)
          .withColumn("version", lit(2L)).withColumn("deleted", lit(true)))
      val merged = operators.Snapshot.mergeLatest(cur, changes)
      val diff = operators.Snapshot.snapshotDiff(docs, merged)
      s"merged=${merged.count()} diff=${diff.count()}"
    })

    // importance weighting at 50k: one token pass + broadcast weight
    // table; target = the docs whose id-hash lands in a 10% slice
    t("importance 50k docs")(
      operators.TextOps.importanceWeights(docs,
        pmod(hash(col("doc_id")), lit(10)) === 0).count())

    // ---- round-13 second-wave additions: PQ, winnowing, interarrival,
    // anomaly, PPR, tie strength, SCD2 ----

    // PQ code assignment at 80k vectors: map-only (codebook literals
    // in the projection) — the row count is corpus×blocks exactly
    t("pq_codes 80k vectors")({
      val n = operators.Similarity.pqCodes(embX(40)).count()
      require(n == 80000L * operators.Similarity.PqBlocks,
        s"pq rows $n != corpus × blocks")
      n
    })
    // ADC serving at 80k: per-query LUT lookups against every corpus
    // row straight into the k-bounded heap — candidate count is N per
    // query by construction (PQ compresses, IVF prunes; compose for
    // IVFPQ), so wall time scaling ~linear in N is the contract here
    t("knn_pq 80k vectors")(
      operators.Similarity.knnPq(embX(40)).count())
    // IVFPQ at 80k: the multiplicative composition — candidates per
    // query drop to N·nProbe/cells before the LUT lookups ever run,
    // so this must come in well under the full-scan ADC above
    t("knn_ivf_pq 80k vectors")(
      operators.Similarity.knnIvfPq(embX(40), corpusSize = 80000L).count())
    // SQ8 serving at 80k: the corpus enters ONLY as (vec_id, dim,
    // code) rows + the per-dim grid — full-width dequantized scan,
    // linear in N like the brute baseline it approximates
    t("knn_sq8 80k vectors")({
      val big = embX(40)
      operators.Similarity.knnSq8(
        operators.Similarity.sq8Stats(big),
        operators.Similarity.quantizeInt8(big), big).count()
    })
    // trained vs hash-anchored ADC recall on the 20k replica corpus.
    // NOT an ordering pin here: with 10 exact clones per vector both
    // layouts drown in adc_fp TIES among the zero-distance clones,
    // and the (adc, id) tie-break picks different-but-equally-close
    // ids (first run measured anchored 1.00, trained 0.94 — a
    // tie-resolution artifact, not worse codewords; the ordering pin
    // lives in ExtensionsSpec on the clone-free corpus). Here both
    // layouts must simply stay far from collapse.
    t("pq trained vs anchored 20k")({
      val exact = operators.Similarity.knnBruteL2(emb)
      val a = operators.Similarity.recallAtK(
        operators.Similarity.knnPq(emb), exact).collect()(0).getDouble(3)
      val tr = operators.Similarity.recallAtK(
        operators.Similarity.knnPqTrained(emb), exact).collect()(0).getDouble(3)
      require(a >= 0.5 && tr >= 0.5,
        s"ADC recall collapsed on the clone corpus: anchored $a trained $tr")
      f"anchored $a%.3f trained $tr%.3f"
    })

    // winnowing at 50k replica docs: shuffle-free selection projection;
    // the replica corpus means every fingerprint repeats ≥ 10× — the
    // index-build groupBy after it stays bounded by distinct values
    t("winnowing 50k docs")(
      operators.TextOps.winnowing(docs).count())

    // inter-arrival at 10M events / 1M users: one user-keyed window
    // shuffle + same-key aggregation
    t("interarrival 10M events")(
      graft.streaming.Sessionize.interArrival(bigEvents).count())

    // hourly anomaly across 30 days × 5 types: the RANGE window runs
    // over ≤ hours×types rows no matter how many events fed them
    t("hourly_anomaly 10M events")(
      graft.streaming.EventWindows.hourlyAnomaly(
        bigEvents.withColumn("event_type",
          concat(lit("t"), pmod(hash(col("user_id")), lit(5))))).count())

    // personalized PageRank at 10M edges: same sweep shape as the
    // pagerank phase above plus one vertex-sized seed-flag join;
    // checksum = exact long sum (nondeterminism would move it)
    t("ppr 10M edges 5 sweeps")(
      operators.GraphOps.pageRankPersonalized(edges,
        spark.range(100L).select(col("id").as("v")))
        .agg(sum(col("rank_fp"))).collect()(0).getLong(0))

    // tie strength at 1M edges, all middles admissible (the worst
    // fanout the cap allows on the uniform graph) — every edge must
    // report exactly once in canonical orientation
    t("tie_strength 1M edges")({
      val n = operators.GraphOps.tieStrength(kcEdges, midMaxDeg = 30L).count()
      val und = kcEdges.filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
        .union(kcEdges.filter(col("src") =!= col("dst"))
          .select(col("dst").as("src"), col("src").as("dst")))
        .distinct().filter(col("src") < col("dst")).count()
      require(n == und, s"tie rows $n != canonical edges $und")
      n
    })

    // SCD2 history + point-in-time slice at 50k: one doc-keyed window
    // over the 20%-upsert/5%-tombstone change stream, then the PIT
    // range predicate — the slice at v1 must equal the corpus count
    // (tombstones land at v2, no doc is yet deleted)
    t("scd2 + pit 50k docs")({
      val cur = docs.withColumn("version", lit(0L))
        .withColumn("deleted", lit(false))
      val changes = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .withColumn("text", concat(lit("rev1: "), col("text")))
        .withColumn("version", lit(1L)).withColumn("deleted", lit(false))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(20)) === 1)
          .withColumn("version", lit(2L)).withColumn("deleted", lit(true)))
      val hist = operators.Snapshot.scd2History(cur.unionByName(changes))
      val nHist = hist.count()
      val pit = hist.filter(expr("valid_from <= 1 AND valid_to > 1 AND NOT deleted"))
        .count()
      val nDocs = docs.count()
      require(pit == nDocs, s"PIT slice $pit != corpus $nDocs")
      s"history=$nHist pit=$pit"
    })

    // ---- round-13 third-wave additions: journeys, DAU/WAU, profiling,
    // mutual-kNN, leakage-free split ----

    // events with ids + 5 types on bigEvents' 30-day grid (1M users)
    val jEvents = spark.range(10000000L).select(
      col("id").as("event_id"),
      timestamp_seconds(lit(1700000000L) +
        pmod(hash(col("id")), lit(720 * 3600))).as("ts"),
      pmod(hash(col("id") * 13 + 5), lit(1000000)).cast("long").as("user_id"),
      concat(lit("t"), pmod(hash(col("id") * 7 + 1), lit(5))).as("event_type"))
    // transition matrix: output bounded by |types|² no matter the scale
    t("transitions 10M events")({
      val n = graft.streaming.Sessionize.transitions(jEvents).count()
      require(n <= 25L, s"transition matrix $n rows > |types|²")
      n
    })
    // top-20 journeys: count-by-path shuffle carries each distinct
    // path once; TakeOrdered caps the result
    t("session_paths 10M events")({
      val n = graft.streaming.Sessionize.sessionPaths(jEvents).count()
      require(n == graft.streaming.Sessionize.PathTopK.toLong,
        s"expected a full top-k, got $n")
      n
    })
    // DAU/WAU: the fanout runs over the DISTINCT (day, user) pairs —
    // ~31 days × ≤1M users, far under the 10M event rows
    t("active_users 10M events")({
      val rows = graft.streaming.EventWindows.activeUsers(jEvents).collect()
      require(rows.length == 31, s"expected 31 day buckets, got ${rows.length}")
      // by day 8 every window is full: 5 distinct users per 1M-slot
      // hash at 10M events saturates — WAU ≥ DAU always holds
      rows.foreach(r => require(r.getLong(2) >= r.getLong(1), s"WAU < DAU: $r"))
      rows.length
    })
    // the bounded-state WAU twin at 10M events: daily sketches merge
    // by bucket-wise MAX — 31×512 counters shuffle, never the ×7
    // distinct-pair fanout
    t("active_users_hll 10M events")({
      val n = graft.streaming.EventWindows.activeUsersHll(jEvents).count()
      require(n == 31, s"expected 31 day buckets, got $n")
      n
    })
    // exact per-column profile of the 10M-row relation (distinct user
    // count = the expensive leg, by contract)
    t("profile 10M events")({
      val n = operators.Profile.profile(jEvents).count()
      require(n == 4L, s"expected 4 column rows, got $n")
      n
    })
    // mutual-kNN over the 20k replica corpus: the self-join sees
    // corpus×k rows; clone ties make reciprocity common but not total
    t("mutual_knn 20k vectors")(
      operators.Similarity.mutualKnn(
        operators.Similarity.knnGraph(emb, corpusSize = 20000L)).count())
    // leakage-free split at 50k docs over the real clone clusters:
    // every doc assigned, cluster-mates always on the same side
    t("split_leakage 50k docs")({
      val cl = operators.Dedup.dupClusters(operators.Dedup.minhashLsh(docs))
      val sp = operators.TextOps.hashSplitLeakageFree(docs, cl)
      val straddle = sp.join(cl, "doc_id")
        .groupBy("cluster_id")
        .agg(countDistinct(col("split")).as("sides"))
        .filter(col("sides") > 1L).count()
      require(straddle == 0L, s"$straddle clusters straddle the split")
      val n = sp.count()
      require(n == 50000L, s"split covered $n of 50000 docs")
      n
    })

    // synchronous LPA at 10M edges / 2M vertices: per-round cost is
    // one edge join + two aggregations, state vertex-sized; checksum
    // is an exact decimal sum (nondeterminism would move it)
    t("lpa 10M edges 4 rounds")(
      operators.GraphOps.labelPropagation(edges)
        .agg(sum(col("community").cast("decimal(38,0)")))
        .collect()(0).getDecimal(0))

    // HITS at 10M edges: two edge joins + two normalizations per
    // round; exact checksum over both scores
    t("hits 10M edges 4 rounds")(
      operators.GraphOps.hits(edges)
        .agg(sum((col("hub_fp") + col("auth_fp")).cast("decimal(38,0)")))
        .collect()(0).getDecimal(0))

    // ---- storage layout: range clustering + compaction at 1M rows ----
    val layDir = java.nio.file.Files.createTempDirectory("graft_layout")
      .toString
    val layData = spark.range(1000000L).select(col("id").as("doc_id"),
      pmod(hash(col("id")), lit(1000)).cast("long").as("payload"))
    t("layout write clustered 1M")({
      sources.Layout.writeRangeClustered(layData, s"$layDir/clustered",
        "doc_id", 32)
      val r = sources.Layout.fileKeyRanges(spark, s"$layDir/clustered",
        "doc_id")
      require(r.length == 32, s"expected 32 files, got ${r.length}")
      r.sliding(2).foreach {
        case Seq((fa, _, ma), (fb, mb, _)) =>
          require(ma < mb, s"file spans overlap: $fa / $fb")
        case _ => ()
      }
      layData.repartition(32).write.mode("overwrite")
        .parquet(s"$layDir/arrival")
      r.length
    })
    // the same 1% range predicate against both layouts. Wall time is
    // flat here (1M warm-cache local rows); the DECODED-ROW metric is
    // the scale evidence — clustered layouts decode only the row
    // groups whose stats overlap the range, arrival-order layouts
    // decode everything because every row group spans the whole key
    // domain. At an IO-bound 100 TB that ratio IS the speedup.
    def rangeScanDecoded(path: String): (Long, Long) = {
      val q = spark.read.parquet(path)
        .filter(col("doc_id") >= 500000L && col("doc_id") < 510000L)
      // collect() runs q's OWN queryExecution (count() would execute a
      // derived plan and leave these metrics untouched)
      val n = q.collect().length.toLong
      def leaves(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          leaves(a.executedPlan)
        case s if s.children.isEmpty => Seq(s)
        case s => s.children.flatMap(leaves)
      }
      val decoded = leaves(q.queryExecution.executedPlan)
        .flatMap(_.metrics.get("numOutputRows").map(_.value)).sum
      (n, decoded)
    }
    t("range scan clustered 1M")({
      val (n, decoded) = rangeScanDecoded(s"$layDir/clustered")
      require(n == 10000L, s"range returned $n")
      // one 31k-row file holds the whole range; a couple row groups
      require(decoded <= 100000L,
        s"clustered scan decoded $decoded rows — pruning not happening")
      s"decoded=$decoded"
    })
    t("range scan arrival 1M")({
      val (n, decoded) = rangeScanDecoded(s"$layDir/arrival")
      require(n == 10000L, s"range returned $n")
      // round-robin files can keep accidental locality in a few row
      // groups; the contract is "the majority decodes" (32× the
      // clustered layout's 20k), not a precise 1M
      require(decoded >= 500000L,
        s"arrival scan decoded only $decoded — fixture not arrival-order?")
      s"decoded=$decoded"
    })
    t("compact clustered 32 files")({
      val files = new java.io.File(s"$layDir/clustered").listFiles()
        .filter(_.getName.endsWith(".parquet"))
      val (b, a) = sources.Layout.compact(spark, s"$layDir/clustered",
        targetBytes = files.map(_.length).sum / 4, key = Some("doc_id"))
      val r = sources.Layout.fileKeyRanges(spark, s"$layDir/clustered",
        "doc_id")
      r.sliding(2).foreach {
        case Seq((_, _, ma), (_, mb, _)) => require(ma < mb, "de-clustered")
        case _ => ()
      }
      val n = spark.read.parquet(s"$layDir/clustered").count()
      require(n == 1000000L, s"compaction lost rows: $n")
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(); ()
      }
      del(new java.io.File(layDir))
      s"$b -> $a files"
    })

    // ---- round-13 retrieval/scoring wave at the large tier ----
    // 50k-doc replica corpus: BM25's tf shuffle, surprisal's bigram
    // passes and the HLL pair matrix all meet real fanout; probes stay
    // the original doc_id < 8 (replica ids are shifted by +k·1e6)
    t("bm25 50k docs")(operators.TextOps.bm25(docs).count())
    t("surprisal 50k docs")(operators.TextOps.surprisal(docs).count())
    t("source_overlap_hll 50k/40src")(
      operators.TextOps.sourceOverlapHll(docs.select(col("doc_id"),
          col("text"),
          concat(lit("s"), pmod(col("doc_id"), lit(40)).cast("string"))
            .as("source")))
        .count())
    // weighted SSSP on the 10M-edge graph: 6 budget rounds, exact
    // decimal checksum of the distance relation (drift would move it)
    t("sssp 10M edges 6 rounds")({
      val seeds = edges.select(col("src").as("v"))
        .filter(col("v") < 5L).distinct()
      operators.GraphOps.ssspBudget(edges, seeds)
        .agg(sum(col("dist").cast("decimal(38,0)")), count(lit(1)))
        .collect()(0).toSeq.mkString("/")
    })
    // filtered IVF at 80k vectors with a ~50% predicate: the index is
    // full-corpus, the semi-join halves the searched rows
    t("knn_ivf_filtered 80k")({
      val e80 = embX(40)
      val docs80 = e80.select(col("vec_id").as("doc_id"),
        pmod(col("doc_id"), lit(2)).as("par"))
      operators.Similarity.knnIvfFiltered(e80, docs80,
        col("par") === 0L, corpusSize = 80000L).count()
    })

    // BPE trainer on the 50k replica corpus: the corpus token count is
    // the only corpus-sized stage; 6 rounds of vocab-bounded work
    t("bpe_train 50k docs")(
      operators.TextOps.bpeTrain(docs).count())
    t("bpe_encode 50k docs")(
      operators.TextOps.bpeEncode(docs).count())
    // walks on the 10M-edge graph: 64 seeds × 4 walks × 8 steps; the
    // ranked adjacency window pass dominates, the walk joins are tiny
    t("walks 10M edges 256 walks")({
      val seeds = edges.select(col("src").as("v"))
        .filter(col("v") < 64L).distinct()
      val w = operators.GraphOps.randomWalks(edges, seeds)
      val n = w.count()
      val pairs = operators.GraphOps.walkPairs(w).count()
      s"rows=$n pairs=$pairs"
    })

    // byte-level media near-dup at 50k payloads (10 exact replicas of
    // each sf0.1 doc → dense hamming-0 mass): the band join must stay
    // bounded, payloads must never shuffle
    t("media_simhash 50k payloads")(
      operators.Multimodal.mediaSimhashPairs(
        docs.select(col("doc_id"),
          encode(col("text"), "UTF-8").as("payload"))).count())
    // modularity of LPA communities on the sparse 10M/8 slice
    t("modularity 10M/8 slice")({
      val sp = operators.GraphOps.sparsifyEdges(edges, 8L)
      operators.GraphOps.modularity(sp,
          operators.GraphOps.labelPropagation(sp))
        .agg(sum(col("q_num")), count(lit(1))).collect()(0).toSeq.mkString("/")
    })
    // A/B read-out over the 10M-event fixture (1M users)
    t("ab_lift 10M events")(
      graft.streaming.EventWindows.abLift(bigEvents
          .withColumn("event_type",
            when(pmod(col("user_id"), lit(3)) === 0L, "purchase")
              .otherwise("view"))
          .withColumn("value", col("user_id").cast("double") / 100.0)
          .withColumn("event_id", col("user_id")))
        .count())

    // ---- round-14 session-5 wave ----
    // IVF×SQ8 at 80k: candidates per query drop to N·nProbe/cells
    // BEFORE the dequantized scoring runs — the scored-pair count is
    // asserted strictly under the full-scan SQ8 pair count, the same
    // multiplicative-composition contract the IVFPQ phase pins
    t("knn_ivf_sq8 80k vectors")({
      val big = embX(40)
      val pruned = operators.Similarity.ivfSq8Scored(big,
        corpusSize = 80000L).count()
      require(pruned < 10L * 79999L,
        s"IVF×SQ8 met $pruned candidate pairs — not pruned vs full scan")
      pruned
    })
    // binary tier at 80k: pack (pure map, 2 longs per vector) then
    // Hamming-serve + exact rerank — the float corpus is re-read for
    // only queries × cand candidate rows
    t("knn_hamming_rerank 80k vectors")({
      val big = embX(40)
      val st = operators.Similarity.sq8Stats(big)
      operators.Similarity.knnHammingRerank(st,
        operators.Similarity.binaryCodes(st, big), big, big).count()
    })
    // graph-served beam at 80k: synthetic deterministic degree-16
    // ring adjacency (the beam mechanics under test are the frontier
    // broadcast + candidate-only embedding fetch per round — graph
    // construction is priced by its own knnGraph phases)
    t("knn_beam 80k vectors")({
      val big = embX(40)
      val adj = big.select(col("vec_id").as("src"),
          explode(sequence(lit(1L), lit(16L))).as("j"))
        .select(col("src"),
          pmod(col("src") + col("j") * 4999L, lit(80000L)).as("dst"))
      operators.Similarity.knnBeam(adj, big, big).count()
    })
    // one exact Lloyd round at 80k: map-only flat assignment (k
    // centroid literals), k·dims output groups regardless of N
    t("lloyd_step 80k vectors")({
      val n = operators.Similarity.lloydStep(embX(40)).count()
      require(n <= operators.Similarity.LloydK * 64L,
        s"lloyd output $n rows — expected ≤ k·dims")
      n
    })
    // hashed tf-idf at 50k docs: one tf shuffle + one (doc, dim)
    // aggregation, output capped at docs × dims
    t("tfidf 50k docs")(operators.TextOps.tfidfHashed(docs).count())
    // fuzzy edit-distance pairs at 50k docs: segment-bucket equi-join
    // candidates, 24-char levenshtein verify on bucket-mates only
    t("dedup_fuzzy 50k docs")(operators.Dedup.fuzzyPairs(docs).count())
    // containment re-ranks from the rare-shingle verified-pairs core
    // the earlier doc_knn phase memoized (same corpus, same maxDf=60) —
    // this number is the price of a SECOND consumer at 20x, not a
    // rebuild; a rebuild-sized time here means the memo key broke
    t("containment 50k (memo reuse)")(
      operators.Dedup.containmentPairs(docs, maxDf = 60L).count())

    // the memoized families (walks, weighted edges, kNN graph, BM25
    // indexes, σ layers) are past their last consumer here, but their
    // checkpoint blocks are session-lived by design — release them
    // before the 60M-row warehouse tier so the single local[32] heap
    // (driver AND executors) prices the big scans, not 120 phases of
    // retained state. This is exactly the session-boundary hook an
    // embedding host calls; without it the Q17 broadcast build died
    // with NOT_ENOUGH_MEMORY on an 8g heap (2/2 runs, r17).
    PlanMemo.releaseAll()
    Caches.clear(spark)

    // warehouse facts at 60M rows (100 replicas of the sf0.1
    // lineitem): Q1 prices the scan-bound aggregate, Q17 the
    // decorrelated per-part agg + same-key join-back
    val li60 = spark.range(100)
      .crossJoin(spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet"))
      .drop("id")
    t("wh_q1 60M rows")(
      operators.Warehouse.pricingSummary(li60).count())
    t("wh_small_qty 60M rows")(
      operators.Warehouse.smallQuantityRevenue(
        spark.read.parquet("/root/testdata/sf0.1/part.parquet"), li60)
        .count())
    // Q21 at 60M fact rows: the EXISTS-chain's semi+anti self-legs
    // over the shared (order, supplier, late) relation — the
    // co-keyed fact-fact shape whose cost must track |lineitem|, not
    // |lineitem|² (every leg joins on l_orderkey)
    t("wh_late_suppliers 60M rows")(
      operators.Warehouse.waitingSuppliers(
        spark.read.parquet("/root/testdata/sf0.1/nation.parquet"),
        spark.read.parquet("/root/testdata/sf0.1/supplier.parquet"),
        spark.read.parquet("/root/testdata/sf0.1/orders.parquet"),
        li60).count())
    // one synchronous Louvain round on the sparse 10M/8 slice: edge
    // joins + vertex-keyed argmax, no iteration
    t("louvain 10M/8 slice")(
      operators.GraphOps.louvainRound(
        operators.GraphOps.sparsifyEdges(edges, 8L)).count())
    // CUSUM at 10M events / 720 hours: the event-sized work is one
    // map-side-combined hourly count; spine + both prefix windows run
    // over the 720×4-row hours relation
    t("cusum 10M events")(
      graft.streaming.EventWindows.cusum(bigEvents
          .withColumn("event_type",
            concat(lit("t"), pmod(col("user_id"), lit(4)))))
        .count())
    // CUPED at 10M events / 1M users: the same one-pass user
    // aggregation as ab_lift plus the 1-row moment collect; split
    // mid-fixture so both periods are populated
    t("ab_cuped 10M events")(
      graft.streaming.EventWindows.abCuped(bigEvents
          .withColumn("event_type",
            when(pmod(col("user_id"), lit(3)) === 0L, "purchase")
              .otherwise("view"))
          .withColumn("value", col("user_id").cast("double") / 100.0)
          .withColumn("event_id", col("user_id")),
          splitEpoch = 1700000000L + 360L * 3600L)
        .count())

    // CELEBRITY-KEY window skew, measured: user 0 owns 10% of 10M
    // events, so the flat interArrival funnels a 1M-event history
    // through ONE task's sort while the bucketed escape hatch spreads
    // it over ~720 hour-buckets. Results must be IDENTICAL (the hatch
    // changes the shuffle shape, never the answer — same pin as the
    // gate's shared oracle); the per-variant longest-task times go to
    // the log, the deterministic checksum to the artifact.
    t("interarrival celebrity 10M flat vs bucketed")({
      val span = 720L * 3600L * 1000000L // 30 days in us
      val celeb = spark.range(10000000L).select(
        when(pmod(col("id"), lit(10)) === 0, lit(0L))
          .otherwise(pmod(hash(col("id") * 13 + 5), lit(1000000))
            .cast("long")).as("user_id"),
        timestamp_micros(pmod(col("id") * 1013904223L + 12345L, lit(span)))
          .as("ts"))
      def chk(df: org.apache.spark.sql.DataFrame) = {
        val r = df.agg(count(lit(1)), sum(col("n_events")),
          sum(col("n_gaps")), sum(col("min_gap_us")),
          sum(col("max_gap_us")), sum(col("span_us")), sum(col("n_rapid")))
          .collect()(0)
        (0 to 6).map(r.getLong).mkString(",")
      }
      def timed(df: => org.apache.spark.sql.DataFrame)
        : (String, Double, Double) = {
        metrics.reset()
        val t0 = System.nanoTime()
        val c = chk(df)
        val dt = (System.nanoTime() - t0) / 1e9
        val (_, _, maxTaskS) = metrics.snapshot()
        (c, dt, maxTaskS)
      }
      val (cf, tf, mf) = timed(
        graft.streaming.Sessionize.interArrival(celeb))
      val (cb, tb, mb) = timed(
        graft.streaming.Sessionize.interArrivalBucketed(celeb))
      require(cf == cb, s"bucketed diverged: $cf vs $cb")
      // skew evidence: the flat variant's longest task carries the
      // celebrity sort; the bucketed one's tasks stay near-uniform
      println(f"[scale] celebrity interArrival: flat $tf%.1fs " +
        f"(maxTask $mf%.1fs) vs bucketed $tb%.1fs (maxTask $mb%.1fs)")
      // same fixture through the transitions twin pair (the second
      // wired escape hatch): counts must be identical too. event_id
      // comes from the range id — deterministic, unlike
      // monotonically_increasing_id whose values depend on the
      // partitioning at evaluation time (the tiebreak must not)
      val celebT = spark.range(10000000L).select(
        when(pmod(col("id"), lit(10)) === 0, lit(0L))
          .otherwise(pmod(hash(col("id") * 13 + 5), lit(1000000))
            .cast("long")).as("user_id"),
        timestamp_micros(pmod(col("id") * 1013904223L + 12345L, lit(span)))
          .as("ts"),
        col("id").as("event_id"),
        concat(lit("t"), pmod(hash(col("id") * 31 + 5), lit(4)))
          .as("event_type"))
      def chkT(df: org.apache.spark.sql.DataFrame) = {
        val r = df.agg(count(lit(1)), sum(col("n"))).collect()(0)
        s"${r.getLong(0)}:${r.getLong(1)}"
      }
      def timedT(df: => org.apache.spark.sql.DataFrame)
        : (String, Double, Double) = {
        metrics.reset()
        val t0 = System.nanoTime()
        val c = chkT(df)
        val dt = (System.nanoTime() - t0) / 1e9
        val (_, _, maxTaskS) = metrics.snapshot()
        (c, dt, maxTaskS)
      }
      val (ctf, ttf, mtf) = timedT(
        graft.streaming.Sessionize.transitions(celebT))
      val (ctb, ttb, mtb) = timedT(
        graft.streaming.Sessionize.transitionsBucketed(celebT))
      require(ctf == ctb, s"transitions bucketed diverged: $ctf vs $ctb")
      println(f"[scale] celebrity transitions: flat $ttf%.1fs " +
        f"(maxTask $mtf%.1fs) vs bucketed $ttb%.1fs (maxTask $mtb%.1fs)")
      s"checksum $cf transitions $ctf"
    })

    // ---- STREAMING STATE at scale: the stateful twins run under real
    // micro-batch StreamingQueries in the specs, but only at fixture
    // scale with the default (heap) state store. This phase drives
    // sessionsStreaming (~1e6 session-window state keys) and
    // cusumStateful (~1e6 flatMapGroupsWithState keys) across 5
    // file-source micro-batches on the RocksDB state store, recording
    // per-batch latency, state rows, and emitted rows in the artifact.
    // FIVE batches, not three: the r19 3-batch run showed sessions
    // latency 5.33 → 5.51 → 6.62 s (+24% by batch 3) at CONSTANT state
    // rows — the longer tail distinguishes RocksDB compaction settling
    // (flat after the first batches) from monotone growth (a leak).
    val streamStats =
      scala.collection.mutable.ArrayBuffer[(String, Int, Double, Long, Long)]()
    def streamExtra(): String =
      if (streamStats.isEmpty) ""
      else streamStats.map { case (op, b, sec, stateRows, outRows) =>
        f"""{"op":"$op","batch":$b,"s":$sec%.2f,""" +
          f""""state_rows":$stateRows,"out_rows":$outRows}"""
      }.mkString("\"batches\":[", ",", "]")
    t("streaming state 1e6 keys, 5 batches", streamExtra _)({
      val base = java.nio.file.Files.createTempDirectory("graft-stream-scale")
      try Confs.scoped(spark,
          "spark.sql.streaming.stateStore.providerClass" ->
            ("org.apache.spark.sql.execution.streaming." +
              "state.RocksDBStateStoreProvider")) {
        val t0us = 1704067200000000L // 2024-01-01T00:00Z in micros
        // drive one operator over 5 file-source batches; returns
        // (total emitted rows, final state rows). Per-batch: two
        // processAllAvailable calls (ingest, then the watermark-advance
        // flush batch — the spec-established drive shape).
        def drive(name: String,
            mk: Int => org.apache.spark.sql.DataFrame,
            q0: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
          : (Long, Long) = {
          val dir = base.resolve(name).toString
          // each batch lands as ONE part file moved ATOMICALLY into
          // the watched dir: the query's background trigger lists the
          // directory continuously, and a multi-part write races the
          // listing — one logical batch split across two micro-batches
          // re-delivers an already-folded hour to cusum's admission
          // require (observed live, not hypothetical)
          def writeBatch(k: Int): Unit = {
            val tmp = base.resolve(s"$name-tmp-$k")
            mk(k).coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            val part = new java.io.File(tmp.toString).listFiles()
              .find(f => f.getName.startsWith("part-") &&
                f.getName.endsWith(".parquet")).get
            java.nio.file.Files.createDirectories(
              java.nio.file.Paths.get(dir))
            java.nio.file.Files.move(part.toPath,
              java.nio.file.Paths.get(dir, f"batch-$k%03d.parquet"),
              java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          }
          writeBatch(0)
          val schema = spark.read.parquet(dir).schema
          val q = q0(spark.readStream.schema(schema).parquet(dir))
            .writeStream.format("noop")
            .option("checkpointLocation", base.resolve(name + "-ck").toString)
            .outputMode("append").start()
          try {
            var cumOut = 0L
            var state = 0L
            for (k <- 0 to 4) {
              if (k > 0) writeBatch(k)
              val tb = System.nanoTime()
              q.processAllAvailable()
              q.processAllAvailable()
              val sec = (System.nanoTime() - tb) / 1e9
              val progs = q.recentProgress
              val totalOut = progs.map(p =>
                math.max(0L, p.sink.numOutputRows)).sum
              val outK = totalOut - cumOut
              cumOut = totalOut
              state = progs.reverse.find(_.stateOperators.nonEmpty)
                .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
              streamStats += ((name, k, sec, state, outK))
              println(f"[scale] streaming $name batch $k: $sec%.1fs, " +
                f"state $state%,d rows, emitted $outK%,d")
            }
            (cumOut, state)
          } finally q.stop()
        }
        // sessions: 2M events/batch over 1M users (2 events 5 min
        // apart → one open session per user per batch); batches 2h
        // apart, so the 60-min watermark closes the previous batch's
        // sessions (end = last event + 30-min gap) during the next
        val (sessOut, sessState) = drive("sess",
          k => spark.range(2000000L).select(
            pmod(col("id"), lit(1000000L)).as("user_id"),
            timestamp_micros(lit(t0us + k * 7200000000L) +
              expr("id div 1000000") * lit(300000000L) +
              pmod(col("id"), lit(1000000L))).as("ts")),
          df => graft.streaming.Sessionize.sessionsStreaming(df))
        // cusum: 2M events/batch over 1M event types, one closed hour
        // per batch advancing in order (the admission contract); the
        // empty mu map exercises the getOrElse(0) default for every key
        val (cusumOut, cusumState) = drive("cusum",
          k => spark.range(2000000L).select(
            concat(lit("t"), pmod(col("id"), lit(1000000L)))
              .as("event_type"),
            timestamp_micros(lit(t0us + k * 3600000000L) +
              expr("id div 1000000")).as("ts")),
          df => graft.streaming.EventWindows.cusumStateful(spark, df,
            Map.empty))
        s"sessions=$sessOut/$sessState cusum=$cusumOut/$cusumState"
      } finally org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    })

    // ---- INTEGER-HEADROOM canary at sf1.0 CARDINALITY: the suite's
    // oracle scales stop at sf0.1, and the m² families (modularity's
    // q_num = 4·m·e_intra − d_tot², the Louvain gain 2m·w − k_u·k_v)
    // are the entries whose long headroom shrinks QUADRATICALLY with
    // the edge count. No sf1.0 testdata exists in this environment
    // (the driver's generator is not reproducible here), so the
    // overflow check runs on a synthetic graph at sf1.0's edge
    // cardinality (~6M = 100x the proven sf0.01 oracle scale):
    // recompute the long arithmetic in DECIMAL(38,0) — which cannot
    // wrap — and count divergences; report the observed magnitude in
    // bits next to the 63-bit ceiling. tfidf/bm25 are safe by
    // construction (the df-division form keeps intermediates ≤ tf·1e6,
    // see salientTerms' docstring); sketch positions/registers are
    // LINEAR in n (2^63 needs ~9e18 rows) — excluded as non-risks.
    t("headroom sf1-cardinality decimal twins")({
      val e6 = spark.range(6000000L).select(
        pmod(hash(col("id")), lit(1200000)).cast("long").as("src"),
        pmod(hash(col("id") * 31 + 7), lit(1200000)).cast("long").as("dst"))
      val dec = "decimal(38,0)"
      // modularity: q_num recomputed from the SAME pieces columns in
      // decimal — a wrapped long q_num would diverge
      val lab = e6.select(col("src").as("vertex"))
        .union(e6.select(col("dst").as("vertex"))).distinct()
        .select(col("vertex"), pmod(col("vertex"), lit(997L)).as("community"))
      val mod = operators.GraphOps.modularity(e6, lab)
        .withColumn("q_dec",
          lit(4).cast(dec) * col("m").cast(dec) * col("e_intra").cast(dec) -
            col("d_tot").cast(dec) * col("d_tot").cast(dec))
      val (qBad, qMaxBits) = {
        val r = mod.agg(
          sum(when(col("q_dec") =!= col("q_num").cast(dec), 1L)
            .otherwise(0L)),
          max(abs(col("q_num")))).collect()(0)
        (r.getLong(0), java.lang.Long.numberOfTrailingZeros(
          java.lang.Long.highestOneBit(math.max(1L, r.getLong(1)))))
      }
      // louvainRound gains: an INDEPENDENT decimal recomputation of
      // (2m − k_u·k_v) argmax per vertex, joined against the operator
      val undL = e6.filter(col("src") =!= col("dst"))
      val symL = undL.select(col("src"), col("dst"))
        .union(undL.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      val mL = symL.count() / 2L
      val degL = symL.groupBy(col("src").as("v")).agg(count(lit(1)).as("k"))
      val bestDec = symL
        .join(degL.select(col("v").as("src"), col("k").as("ku")), "src")
        .join(degL.select(col("v").as("dst"), col("k").as("kv")), "dst")
        .select(col("src").as("u"), col("dst").as("nbr"),
          (lit(2L * mL).cast(dec) - col("ku").cast(dec) * col("kv").cast(dec))
            .as("gd"))
        .groupBy("u")
        .agg(max(struct(col("gd"), (-col("nbr")).as("nn"), col("nbr"))).as("b"))
        .select(col("u").as("vertex"),
          when(col("b.gd") > 0, col("b.nbr")).otherwise(col("u"))
            .as("community_dec"),
          when(col("b.gd") > 0, col("b.gd")).otherwise(lit(0).cast(dec))
            .as("gain_dec"))
      val lr = operators.GraphOps.louvainRound(e6)
      val gBad = lr.join(bestDec, "vertex")
        .filter(col("community") =!= col("community_dec") ||
          col("gain_num").cast(dec) =!= col("gain_dec"))
        .count()
      // pagerank fixed-point: magnitude audit (linear family — the
      // rank mass is L1-bounded; record the observed bits)
      val prMax = operators.GraphOps.pageRank(e6)
        .agg(max(abs(col("rank_fp")))).collect()(0).getLong(0)
      val prBits = java.lang.Long.numberOfTrailingZeros(
        java.lang.Long.highestOneBit(math.max(1L, prMax)))
      s"q_mismatch=$qBad gain_mismatch=$gBad " +
        s"q_bits=$qMaxBits pr_bits=$prBits of 63"
    })

    // ---- XL tier (SPARK_GRAFT_SCALE_XL=1): one-tier-up probes.
    // 100M edges is 10x the standing rehearsal — the largest graph
    // the 128 GiB sandbox runs comfortably; phases are "xl "-prefixed
    // so the headline total stays baseline-comparable. ----
    if (xl) {
      val edgesXL = spark.range(100000000L).select(
        pmod(hash(col("id")), lit(20000000)).cast("long").as("src"),
        pmod(hash(col("id") * 31 + 7), lit(200000)).cast("long").as("dst"))
      t("xl pagerank 100M edges 5 sweeps")(
        operators.GraphOps.pageRank(edgesXL)
          .agg(sum(col("rank_fp"))).collect()(0).getLong(0))
      // PROBE: round-0's data volumes through Tungsten (two aggs, two
      // joins, one distinct over the same 200M-row relations) — the
      // go/no-go measurement for a DataFrame rewrite of the star loop
      t("xl probe df star round0")({
        val sym = edgesXL.filter(col("src") =!= col("dst"))
          .select(col("src").as("u"), col("dst").as("v"))
          .unionAll(edgesXL.filter(col("src") =!= col("dst"))
            .select(col("dst").as("u"), col("src").as("v")))
        val agg = sym.groupBy("u")
          .agg(min(col("v")).as("mn"), count(lit(1)).as("deg"))
        val ls = sym.join(agg, "u")
          .filter(col("v") > col("u"))
          .select(col("v").as("a"), least(col("u"), col("mn")).as("b"))
        val agg2 = ls.select(greatest(col("a"), col("b")).as("x"),
            least(col("a"), col("b")).as("y"))
          .groupBy("x").agg(min(col("y")).as("mn2"))
        val next = ls.join(agg2, col("a") === col("x"))
          .filter(col("b") =!= col("mn2"))
          .select(col("b").as("p"), col("mn2").as("q"))
          .unionAll(agg2.select(col("x").as("p"), col("mn2").as("q")))
          .distinct()
        next.count()
      })
      t("xl components 100M edges", starRoundsJson _)(
        operators.GraphOps.components(edgesXL)
          .agg(countDistinct(col("component"))).collect()(0).getLong(0))
      // FORCED-ROUNDS lineage A/B: round count is ~log2(diameter), so
      // 40 NATURAL rounds would need a 2^40-vertex chain — instead the
      // converged 400k chain is held spinning to round 40 (minRounds),
      // isolating the per-round cost unbounded lineage adds (DAG walk
      // + closure serialization grow with round number) at constant
      // data size. Compare against the standing ~20-round phases.
      val deepPathXL = spark.range(0L, 400000L).select(
        col("id").as("doc_a"), (col("id") + 1L).as("doc_b"))
      t("xl deep chain 400k, 40 rounds, no ckpt")({
        val bad = operators.Dedup.dupClusters(deepPathXL, maxIter = 45,
            minRounds = 40)
          .filter(col("cluster_id") =!= 0L).count()
        require(bad == 0L, s"$bad mislabeled")
        s"mislabeled=0 rounds=${operators.Dedup.lastStarRounds.get}"
      })
      t("xl deep chain 400k, 40 rounds, ckpt@dflt")({
        val dir = java.nio.file.Files.createTempDirectory("graft-xl-ckpt")
        try {
          val bad = operators.Dedup.dupClusters(deepPathXL, maxIter = 45,
              checkpointDir = Some(dir.toString), minRounds = 40)
            .filter(col("cluster_id") =!= 0L).count()
          require(bad == 0L, s"$bad mislabeled")
          s"mislabeled=0 rounds=${operators.Dedup.lastStarRounds.get}"
        } finally org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      })
      // the giant-cluster worst case at 3e7 members (10% direct hub
      // links + a random recursive tree) — same shape as the 1e6
      // standing phase, 30x the members, run at the partition count a
      // real cluster would use (the star loop sizes its partitioner
      // off spark.sql.shuffle.partitions; the core tier's 32 means
      // ~32 concurrent multi-GB combine maps at this scale — measured
      // OOM inside the spill's TimSort even at 64g). A 1e8 variant
      // was attempted three times and doesn't fit one 64 GiB driver:
      // the hub's 3e7-degree star inflates the intermediate edge
      // multiset past the box (OOM in shuffle write at round ~15);
      // on a cluster that inflation spreads across executors — the
      // honest single-box ceiling for THIS shape is recorded here as
      // 3e7 with the hub at ~9e6 degree.
      val giantXL = spark.range(1L, 30000000L).select(
        col("id").as("doc_a"),
        when(pmod(hash(col("id")), lit(10)) < 3, lit(0L))
          .otherwise(pmod(hash(col("id") * 17 + 3), col("id"))).as("doc_b"))
      // heavyDegree is left at the DEFAULT 2E/(64·parts): the explicit
      // 500k of earlier rounds predates the lowered default (≈7.3k
      // here) — the giant hub AND the mid-size hubs contraction forms
      // now all take the broadcast path
      Confs.scoped(spark, "spark.sql.shuffle.partitions" -> "128") {
        t("xl dup_clusters giant 3e7", starRoundsJson _)(
          operators.Dedup.dupClusters(giantXL)
            .filter(col("cluster_id") =!= 0L).count())
      }
    }

    spark.stop()

    // ---- final artifact + regression alarm (full runs only: a
    // PHASE_ONLY dev loop must neither overwrite the tracked file nor
    // compare a quiet-box subset against full-run numbers) ----
    if (phaseOnly.isEmpty) {
      writeArtifact()
      // alarm: a phase >1.5x its committed baseline AND >1s slower is a
      // scale cliff to adjudicate; a changed result string is a
      // CORRECTNESS drift at 20x and alarms unconditionally
      val basePath = sys.env.getOrElse("SPARK_GRAFT_SCALE_BASELINE",
        "SCALE_BASELINE.json")
      try {
        val root = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(
            java.nio.file.Paths.get(basePath)))
        val ph = root.get("phases")
        if (ph != null) phaseLog.foreach { p =>
          val b = ph.get(p.name)
          if (b != null) {
            val bs = b.get("s").asDouble(-1)
            val br = Option(b.get("result")).map(_.asText()).getOrElse("")
            if (br.nonEmpty && br != p.result) System.err.println(
              s"[scale] RESULT DRIFT ${p.name}: '${p.result}' vs " +
                s"baseline '$br'")
            if (bs > 0 && p.s > bs * 1.5 && p.s - bs > 1.0)
              System.err.println(
                f"[scale] PHASE REGRESSION ${p.name}: ${p.s}%.2fs vs " +
                  f"baseline $bs%.2fs (${p.s / bs}%.2fx)")
          }
        }
      } catch { case scala.util.control.NonFatal(_) => () } // no baseline yet
    }
  }
}
