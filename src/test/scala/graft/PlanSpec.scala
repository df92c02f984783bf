package graft

import org.apache.spark.sql.functions._

/** Regression guards on PHYSICAL PLAN properties — the scale contract:
  * pushdown reaching the scans, broadcast semi-join on the replicated
  * path, pruned read schemas. These break loudly if a refactor
  * accidentally de-optimizes a plan while keeping results correct.
  */
class PlanSpec extends SparkSpec {

  val sf = "/root/testdata/sf0.001"

  def executedPlan(q: String): String =
    SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString

  test("max-id filters are pushed into BOTH parquet scans (path2_approx)") {
    val plan = executedPlan("path2_approx_total")
    assert(plan.contains("PushedFilters: [IsNotNull(o_custkey), LessThan(o_custkey,78)")
      || plan.contains("LessThan(o_custkey,78)"), plan)
    assert(plan.contains("LessThan(l_suppkey,78)"), plan)
  }

  test("scans read only the referenced columns (edges)") {
    val plan = executedPlan("edges")
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>"), plan)
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint>"), plan)
  }

  test("triangles_rep uses broadcast joins incl. a LeftSemi closing check") {
    val plan = executedPlan("triangles_rep")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"), plan)
  }

  test("text ops are shuffle-free projections") {
    val plan = executedPlan("text_fingerprint")
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("text_chunks is a shuffle-free generator projection reading only (doc_id, text)") {
    val plan = executedPlan("text_chunks")
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("Generate"), plan) // the posexplode generator
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      plan)
  }

  test("knn_ivf assigns cells with ZERO joins on the corpus side") {
    val plan = executedPlan("knn_ivf")
    // the assignment expression runs inside a projection; the only
    // joins left are the broadcast probe/query joins (and the tiny
    // query×centroid nested loop) — never a corpus×centroid product
    assert(plan.contains("ivfassign") || plan.contains("ivf_assign")
      || plan.contains("IvfAssign"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("knn_ivf_pruned reads ONLY the probed cells: partition filter, NO assignment expression") {
    val plan = executedPlan("knn_ivf_pruned")
    // the corpus side reads the stamped, cell-partitioned parquet and
    // joins candidates on `cell` — the whole point of stamping at
    // ingest is that NO per-row assignment kernel runs at serve time
    assert(!plan.contains("ivfassign") && !plan.contains("ivf_assign")
      && !plan.contains("IvfAssign"), plan)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("cell"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // ...and the static-pruned serve pushes the probed cells into the
    // scan as a PARTITION filter — file-level pruning, not a post-scan
    // predicate
    assert(plan.contains("PartitionFilters: [cell"), plan)
  }

  test("LSH band joins shuffle band keys, never embeddings (neardup)") {
    // probe the UNCACHED build (the knnGraph discipline): the public
    // nearDupPairs serves a checkpoint-backed memoized relation (an
    // opaque LogicalRDD), so the plan contract lives on the build it
    // memoizes
    val plan = graft.operators.Similarity.nearDupPairsUncached(
        sources.Tables.table(spark, sf, "embeddings"),
        graft.operators.Similarity.LshBands, 8)
      .queryExecution.optimizedPlan.toString
    // candidate generation is ids-first: the band self-join's output
    // carries only ids — embeddings re-enter via the verify joins
    assert(plan.contains("band_idx"), plan)
    // ...and the PUBLIC gate plan (post-memo) must never project the
    // embedding column: a future vector-carrying projection added in
    // the public wrapper would otherwise slip past the uncached pin
    val publicPlan = SparkEntry.queries("embedding_neardup")(spark, sf)
      .queryExecution.optimizedPlan.toString
    assert(!publicPlan.contains("embedding#"), publicPlan)
    graft.Caches.clear(spark)
  }

  test("knn_graph candidate self-join is ids-first (band keys, no embeddings)") {
    // probe the UNCACHED build: the public knnGraph serves a
    // checkpoint-backed memoized relation (an opaque LogicalRDD), so
    // the plan contract lives on the build it memoizes
    val plan = graft.operators.Similarity.knnGraphUncached(
        sources.Tables.table(spark, sf, "embeddings"))
      .queryExecution.optimizedPlan.toString
    // same ids-first discipline as neardup: the band self-join output
    // carries ids only; embeddings re-enter via the two verify joins,
    // and the ranking runs through TopKPerKey (no window sort)
    assert(plan.contains("band_idx"), plan)
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), plan)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("knnGraphDelta bands ONLY the batch: one signature kernel, stored side enters as keys") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val old = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val bits = graft.operators.Similarity.LshBandBits
    val base = java.nio.file.Files
      .createTempDirectory("graft_kg_delta_plan").toString
    graft.operators.Similarity.knnGraph(old, bandBits = bits)
      .write.parquet(base + "/graph")
    graft.operators.Similarity.vecBandKeysOf(old, bits)
      .write.parquet(base + "/keys")
    val plan = graft.operators.Similarity.knnGraphDelta(
        spark.read.parquet(base + "/graph"),
        spark.read.parquet(base + "/keys"), emb, batch)
      .queryExecution.executedPlan.toString
    // the stored corpus is never re-signed: exactly ONE logical
    // HyperplaneSig computation exists (the persisted batch-key
    // relation — its cached plan prints once per consumption site, so
    // count DISTINCT output exprIds, not prints); stored vectors
    // enter as the narrow key relation and candidate-only fetches
    val sigIds = "hyperplanesig\\([^)]*\\) AS sig#(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(sigIds.size === 1, s"sig exprIds $sigIds\n$plan")
    // the stored key scan is pruned to the join columns
    assert(plan.contains(
      "ReadSchema: struct<vec_id:bigint,band_idx:int,band_val:bigint," +
        "band_bits:int>"), plan)
  }

  test("text_normalize is a shuffle-free projection") {
    val plan = executedPlan("text_normalize")
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("nfcnormalize") || plan.contains("nfc_norm"), plan)
  }

  test("contaminationFromIndex tokenizes ONLY the probes: corpus enters as stored (doc_id, h) rows") {
    val docs = sources.Tables.table(spark, sf, "documents")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shingle_idx").toString + "/idx"
    graft.operators.TextOps.docShingles(docs.filter(col("doc_id") >= 10))
      .write.parquet(dir)
    val plan = graft.operators.TextOps.contaminationFromIndex(
        spark.read.parquet(dir), docs.filter(col("doc_id") < 10))
      .queryExecution.executedPlan.toString
    // one text scan — the pushed-down probe side; the corpus is met
    // only as the slim stored fingerprint rows
    assert("text:string".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains("LessThan(doc_id,10)"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,h:bigint>"),
      plan)
  }

  test("shinglesDelta: stored rows pass map-only (broadcast anti-join, no exchange); only batch + probe text scans") {
    val docs = sources.Tables.table(spark, sf, "documents")
    val dir = java.nio.file.Files
      .createTempDirectory("graft_shingle_delta").toString + "/idx"
    graft.operators.TextOps.docShingles(
        docs.filter(col("doc_id") < 10 || col("doc_id") % 5 =!= 0))
      .write.parquet(dir)
    val merged = graft.operators.TextOps.shinglesDelta(
      spark.read.parquet(dir),
      docs.filter(col("doc_id") >= 10 && col("doc_id") % 5 === 0),
      docs.filter(col("doc_id") < 10).select("doc_id"))
    val plan = graft.operators.TextOps.contaminationFromIndex(merged,
        docs.filter(col("doc_id") < 10))
      .queryExecution.executedPlan.toString
    // exactly two text scans: the add batch and the probes — the
    // stored index is met only as its slim (doc_id, h) rows
    assert("text:string".r.findAllIn(plan).size === 2, plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,h:bigint>"),
      plan)
    // the drop set travels as a broadcast anti-join build side; the
    // stored rows never enter a hash-partitioned exchange before the
    // (hit-sized) count aggregation
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("contamination broadcasts the probe side; the corpus is never shuffled wide") {
    val docs = sources.Tables.table(spark, sf, "documents")
    val plan = operators.TextOps.contamination(docs,
        docs.filter(col("doc_id") < 10))
      .queryExecution.executedPlan.toString
    // probe shingles travel as a broadcast build side — the corpus
    // meets them in one map stage; no sort-merge join anywhere
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("packSequences shuffles the corpus exactly once (range partitioning)") {
    val plan = operators.TextOps.packSequences(
        sources.Tables.table(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    // the ONE shuffle is the range partitioning (the cached relation's
    // stored plan re-prints it); crucially no hash-partitioned shuffle
    // and no global single-partition Sort/Window ever appears
    assert(plan.contains("Exchange rangepartitioning"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    assert(!plan.contains("Window"), plan)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("text_vocab plans as TakeOrdered, never a global sort") {
    val plan = executedPlan("text_vocab")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("text_quota runs through TopKPerKey, never a Window sort") {
    val plan = operators.TextOps.quotaSample(
        sources.Tables.table(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), plan)
    // the scan feeding it is pruned to the three referenced columns
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string,lang:string>"),
      plan)
  }

  test("text_mix is a shuffle-free projection + generator") {
    val plan = operators.TextOps.mixCorpus(
        sources.Tables.table(spark, sf, "documents"), SparkEntry.MixPpm)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("Generate explode"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,source:string>"), plan)
  }

  test("text_vocab_hll reads ONLY text and aggregates map-side first") {
    val plan = operators.TextOps.vocabHll(
        sources.Tables.table(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<text:string>"), plan)
    // partial (bucket) aggregation happens before the one bucket
    // shuffle — tokens themselves are never shuffled
    assert(plan.contains("Exchange hashpartitioning(bucket"), plan)
    assert(!plan.contains("Exchange hashpartitioning(token"), plan)
    assert(!plan.contains("Exchange hashpartitioning(h"), plan)
  }

  test("dedup_spans shuffles only window-hash triples, never text") {
    val plan = operators.Dedup.repeatedSpans(
        sources.Tables.table(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
    assert(plan.contains("chargramhash") || plan.contains("char_gram_hash"), plan)
    // exchanges carry h / doc_id keys only — text stays in the map stage
    assert(!plan.contains("Exchange hashpartitioning(text"), plan)
    assert(!plan.contains("Window"), plan)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("spans pair persists nothing — the per-character gram relation stays streaming") {
    // round-6 removed the corpus-sized gram persist (one gram row per
    // CHARACTER of the corpus, multi-PB at 100 TB); this guard pins
    // the no-persist shape so an "optimization" can't reintroduce it
    for (df <- Seq(
        operators.Dedup.repeatedSpans(
          sources.Tables.table(spark, sf, "documents")),
        operators.Dedup.spansRemoved(
          sources.Tables.table(spark, sf, "documents")),
        operators.Dedup.spansRemovedKeepOne(
          sources.Tables.table(spark, sf, "documents")))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("InMemoryTableScan"), plan)
      assert(!plan.contains("InMemoryRelation"), plan)
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "spans operators left persisted RDDs behind")
  }

  test("text_pii is a shuffle-free codegen'd projection") {
    // redaction is per-row regexp_replace — any Exchange or Window
    // here means someone broke the map-only shape
    // the gate's orderBy contributes a range exchange; beyond that no
    // hash exchange, no window, no join may appear
    val plan = executedPlan("text_pii")
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.toLowerCase.contains("join"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
  }

  test("dedup_incremental shuffles band keys and ids, never text") {
    val plan = executedPlan("dedup_incremental")
    // the election shuffles (band_idx, band_sig) and doc_id keys only;
    // text stays in the map stage feeding the signature expression
    assert(!plan.contains("Exchange hashpartitioning(text"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
  }

  test("nearDupIncrementalKeys scans ONLY the fresh batch's text — the corpus side reads stored band keys") {
    // the 100 TB contract: with corpus band keys persisted at ingest
    // (bandKeysOf), an admission cycle's only text scan is the fresh
    // batch; the corpus enters as a 3-narrow-column key read
    val docs = sources.Tables.table(spark, sf, "documents")
    val keysDir = java.nio.file.Files
      .createTempDirectory("graft_bandkeys").toString + "/keys"
    graft.streaming.StreamDedup.bandKeysOf(
        docs.filter(col("doc_id") % 2 === 0))
      .write.mode("overwrite").parquet(keysDir)
    val plan = graft.streaming.StreamDedup.nearDupIncrementalKeys(
        spark.read.parquet(keysDir),
        docs.filter(col("doc_id") % 2 === 1))
      .queryExecution.executedPlan.toString
    // exactly one scan reads text (the fresh side)...
    assert("text:string".r.findAllIn(plan).size === 1, plan)
    // ...the corpus side reads the key relation — 3 narrow key columns
    // plus the constant params fingerprint the staleness check consumes
    assert(plan.contains(
      "ReadSchema: struct<doc_id:bigint,band_idx:int,band_sig:string," +
        "lsh_params_fp:bigint>"), plan)
    // and the election still shuffles keys/ids only
    assert(!plan.contains("Exchange hashpartitioning(text"), plan)
  }

  test("exactIncrementalKeys scans ONLY the fresh batch's text — corpus side reads 3 long columns") {
    val docs = sources.Tables.table(spark, sf, "documents")
    val keysDir = java.nio.file.Files
      .createTempDirectory("graft_exactkeys").toString + "/keys"
    graft.streaming.StreamDedup.exactKeysOf(
        docs.filter(col("doc_id") % 2 === 0))
      .write.mode("overwrite").parquet(keysDir)
    val plan = graft.streaming.StreamDedup.exactIncrementalKeys(
        spark.read.parquet(keysDir),
        docs.filter(col("doc_id") % 2 === 1))
      .queryExecution.executedPlan.toString
    // exactly one scan reads text (the fresh side); column pruning
    // drops even the stored doc_id — the corpus enters as 24 B/doc
    assert("text:string".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains(
      "ReadSchema: struct<fingerprint:bigint,fp2:bigint,len:bigint>"), plan)
    assert(!plan.contains("Exchange hashpartitioning(text"), plan)
  }

  test("bm25FromIndex serves without re-tokenizing the corpus: one text scan (the queries), index + forward-index reads") {
    val docs = sources.Tables.table(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") >=
      graft.operators.TextOps.Bm25Queries)
    val base = java.nio.file.Files
      .createTempDirectory("graft_bm25_plan").toString
    graft.operators.TextOps.postingsIndex(corpus,
        k = graft.operators.TextOps.Bm25IndexDepth)
      .write.parquet(base + "/idx")
    graft.operators.TextOps.docLengths(corpus).write.parquet(base + "/lens")
    val plan = graft.operators.TextOps.bm25FromIndex(
        spark.read.parquet(base + "/idx"),
        spark.read.parquet(base + "/lens"), docs)
      .queryExecution.executedPlan.toString
    // the ONLY text scan is the tiny query side — the corpus enters as
    // stored posting rows and forward-index lengths
    assert("text:string".r.findAllIn(plan).size === 1, plan)
    // the index scan is pruned to the serving columns (no rank, no
    // cf, no fingerprint)
    assert(plan.contains(
      "ReadSchema: struct<token:string,df:bigint,doc_id:bigint,tf:bigint>"),
      plan)
  }

  test("bm25PrfFromIndex: both passes and the expansion read the stored tier; corpus text never scanned") {
    val docs = sources.Tables.table(spark, sf, "documents")
    val corpus = docs.filter(col("doc_id") >=
      graft.operators.TextOps.Bm25Queries)
    val base = java.nio.file.Files
      .createTempDirectory("graft_bm25_prf_plan").toString
    graft.operators.TextOps.postingsIndex(corpus,
        k = graft.operators.TextOps.Bm25IndexDepth)
      .write.parquet(base + "/idx")
    graft.operators.TextOps.docLengths(corpus).write.parquet(base + "/lens")
    val plan = graft.operators.TextOps.bm25PrfFromIndex(
        spark.read.parquet(base + "/idx"),
        spark.read.parquet(base + "/lens"), docs)
      .queryExecution.executedPlan.toString
    // the corpus-side predicate (doc_id >= nQueries) appears in NO
    // scan: the corpus enters only as stored posting rows and forward
    // lengths — PRF's second pass is posting-bounded, never a corpus
    // re-tokenize
    assert(!plan.contains("GreaterThanOrEqual(doc_id"), plan)
    // every text scan is the pushed-down ≤ nQueries query side (qt is
    // consumed by pass 1, the feedback pool, the expansion anti-join,
    // and pass 2 — each a 10-doc scan)
    val textScans = "text:string".r.findAllIn(plan).size
    assert(textScans <= 4, s"$textScans text scans\n$plan")
    assert(("LessThan\\(doc_id," + graft.operators.TextOps.Bm25Queries +
      "\\)").r.findAllIn(plan).size >= textScans, plan)
  }

  test("mmrRerank: the k-round greedy is ONE MapGroups job — no per-round exchanges, no union lineage") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plan = graft.operators.Similarity.mmrRerank(emb, emb)
      .queryExecution.executedPlan.toString
    // the whole greedy selection runs inside one MapGroups over the
    // per-query shortlist groups; the former driver loop's ~3(k−1)
    // join/TopK/union rounds are gone
    assert("MapGroups".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("Union"), plan)
    // exchanges: the shortlist TopK's hash distribution, the groupByKey
    // re-key, and AQE artifacts — bounded, NOT proportional to k
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 4, s"$exchanges exchanges\n$plan")
  }

  test("knnSq8 serves without reading corpus embeddings: codes scan pruned to (vec_id, dim, code)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val base = java.nio.file.Files
      .createTempDirectory("graft_sq8_plan").toString
    graft.operators.Similarity.sq8Stats(emb).write.parquet(base + "/stats")
    graft.operators.Similarity.quantizeInt8(emb).write.parquet(base + "/codes")
    val plan = graft.operators.Similarity.knnSq8(
        spark.read.parquet(base + "/stats"),
        spark.read.parquet(base + "/codes"), emb)
      .queryExecution.executedPlan.toString
    // exactly ONE scan reads raw embeddings — the broadcast query side
    // (vec_id < nQueries pushed down); the corpus is met only as codes
    assert("embedding:array".r.findAllIn(plan).size === 1, plan)
    // err_ppm is pruned off the stored-codes scan
    assert(plan.contains(
      "ReadSchema: struct<vec_id:bigint,dim:bigint,code:bigint>"), plan)
  }

  test("postingsDelta is O(batch): batch vocabulary broadcasts; one text scan (the batch); stored index read map-only twice") {
    val docs = sources.Tables.table(spark, sf, "documents")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_postings_plan").toString + "/idx"
    graft.operators.TextOps.postingsIndex(
        docs.filter(col("doc_id") % 5 =!= 0))
      .write.mode("overwrite").parquet(idxDir)
    // probe the UNSCOPED builder (the nearDupPairsUncached discipline):
    // at this fixture size the public postingsDelta returns a
    // tiny-scope checkpoint (an opaque LogicalRDD), so the O(batch)
    // plan contract lives on the merge it materializes
    val raw = graft.operators.TextOps.postingsDeltaFromTf(
        spark.read.parquet(idxDir),
        graft.operators.TextOps.batchTfOf(
          docs.filter(col("doc_id") % 5 === 0)))
      .queryExecution.executedPlan
    // traverse the TREE, not the string: InMemoryTableScan leaves
    // reprint their cached plan in toString (once per consumer), which
    // double-counts scans that physically run once at cache fill. The
    // traversal crosses adaptive wrappers and descends into each
    // DISTINCT cache-fill plan exactly once (per-consumer cache reads
    // share one fill execution).
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val seenFills = scala.collection.mutable.Set[Int]()
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case c: InMemoryTableScanExec =>
        // dedup fills by the SHARED cachedPlan — InMemoryRelation
        // copies itself per consumer (re-aliased output), but every
        // copy wraps the same physical fill plan object
        c +: (if (seenFills.add(System.identityHashCode(c.relation.cachedPlan)))
          nodes(c.relation.cachedPlan) else Nil)
      case other => other +: other.children.flatMap(nodes)
    }
    val forest = nodes(raw)
    def dump = forest.map(_.nodeName).mkString(" | ")
    assert(forest.count(_.isInstanceOf[InMemoryTableScanExec]) >= 4, dump)
    val fileScans = forest.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the batch text tokenizes exactly ONCE (the batch-tf cache fill);
    // the stored corpus never re-tokenizes
    assert(fileScans.count(_.schema.fieldNames.contains("text")) === 1,
      fileScans.mkString("\n"))
    // the stored index is read exactly TWICE per cycle: the touched
    // semi-join inside the cache fill + the untouched anti pass-through
    assert(fileScans.count(_.toString.contains("graft_postings_plan"))
      === 2, fileScans.mkString("\n"))
    // the batch vocabulary reaches the stored side as BROADCAST
    // semi/anti joins — the stored index is filtered map-side, so the
    // only rows entering exchanges are the touched subset + batch tf
    val bhjTypes = forest.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        j.joinType
    }
    assert(bhjTypes.contains(org.apache.spark.sql.catalyst.plans.LeftSemi),
      dump)
    assert(bhjTypes.contains(org.apache.spark.sql.catalyst.plans.LeftAnti),
      dump)
    assert(!forest.exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      dump)
  }

  test("nearDupIncrementalVec reads corpus band keys, never corpus embeddings") {
    val emb = sources.Tables.table(spark, sf, "embeddings")
    val keysDir = java.nio.file.Files
      .createTempDirectory("graft_veckeys_plan").toString + "/keys"
    graft.operators.Similarity.vecBandKeysOf(
        emb.filter(col("vec_id") % 2 === 0),
        graft.operators.Similarity.LshBandBits)
      .write.mode("overwrite").parquet(keysDir)
    val plan = graft.operators.Similarity.nearDupIncrementalVec(
        spark.read.parquet(keysDir),
        emb.filter(col("vec_id") % 2 === 1),
        graft.operators.Similarity.LshBandBits)
      .queryExecution.executedPlan.toString
    // exactly one scan reads the embedding array (the fresh side); the
    // corpus enters as the narrow key relation
    assert("embedding:array".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,band_idx:int," +
      "band_val:bigint,band_bits:int>"), plan)
  }

  test("knnHamming serves from stored words — corpus embeddings never read") {
    val emb = sources.Tables.table(spark, sf, "embeddings")
    val base = java.nio.file.Files
      .createTempDirectory("graft_bin_plan").toString
    val stats = graft.operators.Similarity.sq8Stats(emb)
    stats.write.parquet(base + "/stats")
    graft.operators.Similarity.binaryCodes(stats, emb)
      .write.parquet(base + "/words")
    val plan = graft.operators.Similarity.knnHamming(
        spark.read.parquet(base + "/stats"),
        spark.read.parquet(base + "/words"), emb)
      .queryExecution.executedPlan.toString
    // exactly one scan reads the embedding array (the broadcast query
    // side); the corpus enters ONLY as the packed 2-longs-per-vector
    // words relation — the 32× bandwidth contract
    assert("embedding:array".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains("struct<vec_id:bigint,words:array<bigint>>"),
      plan)
  }

  test("wh_pricing_summary: pushed date filter, pruned scan, partial+final agg, nothing else") {
    val li = sources.Tables.table(spark, sf, "lineitem")
    val q = graft.operators.Warehouse.pricingSummary(li)
    val plan = q.queryExecution.executedPlan.toString
    // the date predicate reaches the parquet scan
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate"), plan)
    // only the 7 live columns are read — l_orderkey/partkey/suppkey/
    // linenumber never leave the footer
    assert(!plan.contains("l_orderkey"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("Join") && !plan.contains("Window"), plan)
  }

  test("wh_region_revenue: dims broadcast, no cartesian, one agg exchange after the fact join") {
    val plan = executedPlan("wh_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      plan)
  }

  test("wh_order_priority: EXISTS compiles to LEFT SEMI, never an aggregate-then-join") {
    val plan = executedPlan("wh_order_priority")
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      plan)
  }

  test("scd2Apply: stored history never re-windows — the only Window is batch-sized") {
    val docs = sources.Tables.table(spark, sf, "documents")
      .select(col("doc_id"))
    val hist = graft.operators.Snapshot.scd2History(
      docs.withColumn("version", lit(0L))
        .withColumn("deleted", lit(false)))
    val hDir = java.nio.file.Files
      .createTempDirectory("graft_scd2_plan").toString + "/hist"
    hist.write.parquet(hDir)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("version", lit(1L)).withColumn("deleted", lit(false))
    val plan = graft.operators.Snapshot.scd2Apply(
        spark.read.parquet(hDir), batch)
      .queryExecution.executedPlan.toString
    // exactly one Window (the batch chain); the stored history meets
    // the batch keys as broadcast anti/equi joins, map-only
    assert("Window".r.findAllIn(plan).size === 1, plan)
    assert("graft_scd2_plan".r.findAllIn(plan).size === 2, plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("wh_late_suppliers: per-order set aggregation — no self-legs, nothing persisted; dims broadcast; no cartesian") {
    val plan = executedPlan("wh_late_suppliers")
    // round-21 rewrite: the correlated EXISTS / NOT EXISTS pair is a
    // per-order SET question (|suppliers| ≥ 2, |late suppliers| = 1 —
    // proof in waitingSuppliers' scaladoc), so the semi/anti self-legs
    // and the persisted probe relation must be GONE: the only
    // lineitem-sized exchange is the per-(order, supplier) aggregation
    assert(!plan.contains("LeftSemi"), plan)
    assert(!plan.contains("LeftAnti"), plan)
    assert(!plan.contains("InMemoryTableScan"), plan)
    // the supplier/nation dimension chain broadcasts onto the
    // supplier-keyed counts — never a shuffle of the count relation
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      plan)
    // the report is a TakeOrdered top-k, not a global sort
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("wh_product_profit: dims broadcast into the fact, one co-keyed fact join, no cartesian/window") {
    val plan = executedPlan("wh_product_profit")
    // part (name-filtered) and supplier⋈nation broadcast; orders meets
    // the fact co-keyed on l_orderkey
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3, plan)
    assert(!plan.contains("Cartesian") && !plan.contains("NestedLoop"),
      plan)
    assert(!plan.contains("Window"), plan)
    // the name-token filter reaches the part scan as a pushed predicate
    assert(plan.contains("StringContains(p_name"), plan)
  }

  test("wh_bucketed_join: co-located SortMergeJoin — bucketed scans, ZERO exchanges before the join") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bucket_plan").toString
    val orders = sources.Tables.table(spark, sf, "orders")
    val lineitem = sources.Tables.table(spark, sf, "lineitem")
    // disable broadcast so the co-location property is what's on
    // trial (tiny testdata would otherwise broadcast and hide it)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = graft.operators.Warehouse.bucketedRevenue(spark, dir,
          orders, lineitem)
        .queryExecution.executedPlan.toString
      // the equi-join reads bucket i of each side into the same task:
      // a SortMergeJoin with NO exchange under it — the bucketed scans
      // announce their layout and the only exchange anywhere is the
      // final status-keyed aggregate's
      assert(plan.contains("SortMergeJoin"), plan)
      assert(plan.contains("Bucketed: true"), plan)
      assert("Exchange hashpartitioning\\(l_orderkey|Exchange hashpartitioning\\(o_orderkey".r
        .findAllIn(plan).isEmpty, plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ensureBucketed: a second call reuses the written tables (no rewrite); a stale entry pointing elsewhere is rebuilt") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bucket_reuse").toString
    val orders = sources.Tables.table(spark, sf, "orders")
    val lineitem = sources.Tables.table(spark, sf, "lineitem")
    graft.operators.Warehouse.ensureBucketed(spark, dir, orders, lineitem)
    def partFiles(sub: String): Set[String] =
      new java.io.File(s"$dir/$sub").listFiles()
        .map(_.getName).filter(_.startsWith("part-")).toSet
    val before = (partFiles("orders"), partFiles("lineitem"))
    // part-file names carry a write-UUID: identical sets == no rewrite
    // (the file:// URI-vs-path compare bug silently rewrote here)
    graft.operators.Warehouse.ensureBucketed(spark, dir, orders, lineitem)
    assert((partFiles("orders"), partFiles("lineitem")) === before,
      "second ensureBucketed rewrote the bucketed tables")
    // stale catalog entry: the data moves out from under the table —
    // the location check must notice and rebuild rather than serve it
    val ordersDir = new java.io.File(s"$dir/orders")
    val moved = new java.io.File(s"$dir/orders_moved")
    assert(ordersDir.renameTo(moved))
    try {
      graft.operators.Warehouse.ensureBucketed(spark, dir, orders, lineitem)
      assert(partFiles("orders").nonEmpty,
        "stale entry was not rebuilt at the expected location")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(moved)
    }
  }

  test("wh_rollup: grouping sets run through ONE Expand pass — no self-union of re-scans") {
    val plan = executedPlan("wh_rollup")
    assert(plan.contains("Expand"), plan)
    assert(!plan.contains("Join") && !plan.contains("Union"), plan)
  }

  test("events_qsketch: map-side partial counts; null filter reaches the scan") {
    val plan = executedPlan("events_qsketch")
    // partial + final HashAggregate around one (group, bucket)
    // exchange — counters collapse map-side, values never shuffle raw
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("IsNotNull(value)"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("events_window_overlap: equi-join on (key, bucket), no nested loop") {
    val plan = executedPlan("events_window_overlap")
    assert(plan.contains("__ivj_bkt"), plan)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
  }

  test("text_source_overlap runs through TopKPerKey, never a Window sort") {
    val plan = executedPlan("text_source_overlap")
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("events_qsketch_cdf: one conditional aggregation — no window, no probe join") {
    val plan = executedPlan("events_qsketch_cdf")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"), plan)
  }

  test("lengthDeciles ranks via range partitioning, never a global window") {
    val plan = operators.TextOps.lengthDeciles(
        sources.Tables.table(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("Exchange SinglePartition"), plan)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("bandBitsFor grows with log N and caps at the 15-bit stride") {
    import graft.operators.Similarity.bandBitsFor
    assert(bandBitsFor(1000L) === 8)          // floor: never below default
    assert(bandBitsFor(1L << 20) === 14)      // 2^20/64 = 2^14 buckets
    assert(bandBitsFor(1000000000L) === 15)   // cap: the fixed band stride
    assert(bandBitsFor(0L) === 8)
  }

  test("bandBitsFor equals its SQL threshold-counting twin on every n") {
    // the oracle derives bb as floor + Σ_k [buckets > 2^k] (see
    // AnnGates.lshBandBitsSql); prove that form equals the
    // leading-zeros clamp for boundary and random corpus sizes
    import graft.operators.Similarity
    def sqlTwin(n: Long): Int = {
      val buckets = math.max(1L, n / Similarity.LshTargetBucket)
      Similarity.LshBandBits +
        (Similarity.LshBandBits until Similarity.LshBandStride)
          .count(k => buckets > (1L << k))
    }
    val boundary = for {
      k <- 0 to 40
      d <- Seq(-1L, 0L, 1L)
    } yield (1L << k) * Similarity.LshTargetBucket + d
    val rng = new scala.util.Random(20260812L)
    val random = Seq.fill(500)(math.abs(rng.nextLong()) % (1L << 50))
    (Seq(0L, 1L, 63L, 64L, 65L) ++ boundary ++ random).foreach { n =>
      assert(Similarity.bandBitsFor(n) === sqlTwin(n), s"n=$n")
    }
  }

  test("text_cms: one pruned text scan, tokens never shuffled") {
    val plan = operators.TextOps.cmsTokens(
        sources.Tables.table(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<text:string>"), plan)
    // the ONE shuffle is keyed on (row_idx, bucket) — prints as the
    // struct-field grouping expressions — and partial counting has
    // already collapsed the token stream to ≤ depth×width rows
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("graph_mutual: ONE edge-relation shuffle (canonical-pair agg, no self-join)") {
    val plan = operators.GraphOps.mutualFollows(
        operators.GraphOps.edges(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan)
    // exactly one hash shuffle on the pair key, plus the final 1-row agg
    assert(plan.contains("Exchange hashpartitioning(lo"), plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size === 1, plan)
  }

  test("salientTerms runs through TopKPerKey, never a Window sort") {
    val plan = operators.TextOps.salientTerms(
        sources.Tables.table(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), plan)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  test("hourlyTopUsers runs through TopKPerKey, never a Window sort; scan pruned") {
    val plan = graft.streaming.EventWindows.hourlyTopUsers(
        sources.Tables.table(spark, sf, "events"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), plan)
    // events scan pruned to (ts, user_id) — value/props never leave parquet
    assert(plan.contains("ReadSchema") && !plan.contains("props"), plan)
  }

  test("retention: the only activity-sized shuffle is the (user, day) distinct") {
    val plan = graft.streaming.EventWindows.retention(
        sources.Tables.table(spark, sf, "events"))
      .queryExecution.executedPlan.toString
    // events scan pruned to (ts, user_id) — the wide columns
    // (event_type, value, props) never leave parquet; no window
    assert(plan.contains("user_id"), plan)
    assert(!plan.contains("event_type") && !plan.contains("props"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("text_winnow is a shuffle-free generator projection reading (doc_id, text)") {
    val plan = executedPlan("text_winnow")
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("Generate"), plan) // the explode generator
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      plan)
  }

  test("embedding_pq assigns codes in a map-only plan (no join, no shuffle)") {
    val plan = executedPlan("embedding_pq")
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Join"), plan) // codebook ships as literals
    assert(plan.contains("Generate"), plan)
  }

  test("knn_pq: the ADC pass joins nothing — codes relation + literal LUT lookups") {
    val plan = executedPlan("knn_pq")
    // TopKPerKey needs one hash exchange to group per query; the scan →
    // codes → ADC chain itself must be join-free (LUTs are literals,
    // the codes relation is the persisted barrier)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan)
    assert(plan.contains("TopKPerKey"), plan)
    assert(plan.contains("InMemoryTableScan"), plan) // the stored codes
  }

  test("knn_ivf_pq: broadcast probe join on cell, no corpus-wide join, TopKPerKey") {
    val plan = executedPlan("knn_ivf_pq")
    assert(plan.contains("BroadcastHashJoin"), plan) // index ⋈ probes
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("TopKPerKey"), plan)
  }

  test("events_interarrival: ONE user-keyed exchange feeds window + aggregation") {
    val plan = executedPlan("events_interarrival")
    // the window partition and the groupBy share the user_id key — the
    // final orderBy adds a range exchange, but only one hash exchange
    // may appear
    val hashEx = "Exchange hashpartitioning".r
      .findAllIn(plan).size
    assert(hashEx <= 1, s"expected <= 1 hash exchange, got $hashEx:\n$plan")
  }

  test("events_transitions: ONE user-keyed exchange, then a tiny-key aggregation") {
    val plan = executedPlan("events_transitions")
    // the lag window partitions by user_id; the (prev_type, type)
    // groupBy and the final orderBy add their own exchanges but only
    // over |types|²-sized data — exactly 2 hash exchanges total
    val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(hashEx <= 2, s"expected <= 2 hash exchanges, got $hashEx:\n$plan")
    assert(plan.contains("ReadSchema: struct<event_id:bigint,ts:timestamp"),
      plan)
  }

  test("text_sample_quality is a shuffle-free pruned map stage") {
    val plan = executedPlan("text_sample_quality")
    // orderBy adds a range exchange; no hash exchange may appear —
    // quality + clamp + coin are all per-row projections
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string"),
      plan)
  }

  test("docs_profile: generator unpivot straight into one aggregation") {
    val plan = executedPlan("docs_profile")
    // expect the expand for the two distinct aggregates + generate;
    // no join anywhere — the profile is a single-relation pass
    assert(plan.contains("Generate explode"), plan)
    assert(!plan.toLowerCase.contains("join"), plan)
  }

  test("knn_mutual: the graph relation is reused (InMemory barrier), ids-only join") {
    val plan = executedPlan("knn_mutual")
    // both self-join sides must read the persisted graph, not rebuild
    // the LSH pipeline twice
    assert("InMemoryTableScan".r.findAllIn(plan).size >= 2
      || "TableCacheQueryStage".r.findAllIn(plan).size >= 2, plan)
    // nothing vector-sized crosses the join: its output projection is
    // exactly (ids, cosine) — embedding stays below the cache build
    assert("Project \\[query_id#\\d+L AS vec_a#\\d+L, neighbor_id#\\d+L AS vec_b#\\d+L, cosine#\\d+\\]"
      .r.findFirstIn(plan).isDefined, plan)
  }

  test("bm25: query-term side broadcasts; no sort-merge join touches the corpus") {
    // inspect the UNCACHED builder: the text_bm25 gate now serves the
    // bm25Shared checkpoint (a plain RDD scan) on memo hits
    val plan = graft.operators.TextOps.bm25(
        spark.read.parquet(s"$sf/documents.parquet"))
      .queryExecution.executedPlan.toString
    // the qidf and stats sides ride broadcast exchanges into the tf
    // stream; scoring never shuffles the corpus against the queries
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // final ranking is the k-bounded heap, not a window sort
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("memo-served gates: the SERVED plan is a bare checkpoint scan, not a rebuild") {
    // the hit-counter specs pin THAT the memo reused; this pins the
    // SHAPE the bench actually times — a memo-key drift that rebuilt
    // the pipeline per invocation would keep the counters' twin-gate
    // story plausible while the served plan silently regrew joins.
    // First invocation builds + stores; the second must plan as the
    // checkpoint's ExistingRDD scan with no join/aggregate above it
    // (the gate's own orderBy is the only allowed addition).
    for (gate <- Seq("text_bm25", "knn_beam")) {
      SparkEntry.queries(gate)(spark, sf).count()
      val plan = executedPlan(gate)
      assert(plan.contains("Scan ExistingRDD"), s"$gate: $plan")
      assert(!plan.toLowerCase.contains("join"), s"$gate served a rebuild: $plan")
      assert(!plan.contains("HashAggregate"), s"$gate served a rebuild: $plan")
      graft.Caches.clear(spark)
    }
  }

  test("knn_filtered: allowed ids ride a semi-join; embeddings scan stays pruned") {
    val plan = executedPlan("knn_filtered")
    assert(plan.contains("LeftSemi"), plan)
    // the documents side reads ONLY (doc_id, lang)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"), plan)
    assert(plan.contains("TopKPerKey"), plan)
  }

  test("knn_ivf_filtered: semi-join narrows the corpus BEFORE the assignment projection") {
    val plan = executedPlan("knn_ivf_filtered")
    assert(plan.contains("LeftSemi"), plan)
    // serving still probes via broadcast, ranks via the heap
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("text_surprisal: corpus bigram stream joins the LM relation, never a cartesian") {
    // guard the BUILD plan (the gate itself now serves the memoized
    // checkpoint, whose plan is just the RDD scan)
    val plan = operators.TextOps.surprisal(
        sources.Tables.table(spark, sf, "documents"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    // the text scan is pruned to (doc_id, text)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
  }

  test("media_simhash: payload bytes stay in the scan stage; bands shuffle slim rows") {
    val plan = executedPlan("media_simhash")
    // the signature map stage consumes payload; no sort-merge join of
    // payload-carrying rows anywhere
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
  }

  test("media_features: shuffle-free projection — synth+decode never leave the scan stage") {
    // container synthesis and the little-endian parse are one fused
    // projection over the pruned (doc_id, text) scan: zero exchanges,
    // zero joins — the shape that makes the decode free at 100 TB
    // (the only shuffle in the gate is the orderBy presentation sort)
    val plan = operators.Multimodal.mediaDecodeCols(
        operators.Multimodal.mediaContainers(
          sources.Tables.table(spark, sf, "documents")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
  }

  test("media gates serve from the STORED lake: parquet payload scan, no per-query re-synthesis") {
    // the decode gates must read the materialized binary-column
    // parquet (a real media lake READS payloads), not re-run the
    // ~100 MB container synthesis — whose expression Catalyst's
    // projection collapse re-evaluates once per referencing decode
    // column (resize/frames/audio measured 4+ s warm on re-synthesis)
    val plan = executedPlan("media_resize")
    assert(plan.contains("Scan parquet"), plan)
    assert(plan.contains("payload"), plan)
    // synthesis reads (doc_id, text) from the documents table; a
    // serving plan that still scans text is re-synthesizing
    assert(!plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      plan)
  }

  test("embedding_outliers: broadcast centroid join, TakeOrdered top-k, no window") {
    val plan = executedPlan("embedding_outliers")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("TakeOrdered"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("events_ab_lift: two aggregations, no join, value filter in the scan stage") {
    val plan = executedPlan("events_ab_lift")
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("poly_hash is SQL-callable after runtime registration") {
    graft.plans.GraftSql.register(spark)
    assert(spark.sql("SELECT poly_hash('abc') AS h").collect()(0).getLong(0)
      === 1677554L)
  }
}
