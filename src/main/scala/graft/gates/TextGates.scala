package graft
package gates

import graft.operators.{Similarity, TextOps}
import graft.sources.Tables
import GateSql._
import SparkEntry.{MixPpm, assertPortableRegex, bm25IndexDirs, storedDir, storedDirLazy}

/** Text curation over `documents`: tokens, quality scoring and the
  * trained filter, language id, PII scrubbing, contamination, mixing
  * and quotas, BPE, BM25 retrieval and its stored index, sketches.
  */
object TextGates {

  /** Mix rates for the `text_domain_mix` gate — keyed by REGISTRABLE
    * DOMAIN (the governance budget unit): half an epoch of
    * example.com, 2.3 epochs of dataset.org. Shared by the Spark
    * query AND the oracle generator.
    */
  val DomainMixPpm: Map[String, Long] =
    Map("example.com" -> 500000L, "dataset.org" -> 2300000L)

  val gates: Seq[Gate] = Seq(
    Gate("text_tokens", (s, d) =>
      TextOps.tokenCounts(Tables.table(s, d, "documents")).orderBy("doc_id"),
      "SELECT doc_id, CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_tokens, " +
        "CAST(len(regexp_extract_all(text, '\\S{1,4}')) AS BIGINT) AS n_subtokens, " +
        "CAST(length(text) AS BIGINT) AS n_chars FROM documents"),
    Gate("text_quality", (s, d) =>
      TextOps.quality(Tables.table(s, d, "documents")).orderBy("doc_id"),
      "WITH b AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        "len(regexp_extract_all(text, '[.,;:!?''\"()\\[\\]{}-]')) AS np, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents) " +
        "SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens, CAST(np AS BIGINT) AS n_punct, " +
        "ns / GREATEST(nt, 1) AS avg_token_len, " +
        "st / GREATEST(nt, 1) AS stopword_ratio, " +
        s"$QualitySqlExpr AS quality FROM b"),
    // TRAINED quality filter, fit gate: the integer batch-perceptron
    // weights themselves (driver-fit over the hash-prefix sample, the
    // lloydPpm discipline) — hash-checked like knn_ivf_centroids
    Gate("text_quality_model", (s, d) =>
      TextOps.qualityModel(Tables.table(s, d, "documents"))
        .orderBy("dim"),
      // trained quality filter: the fitted perceptron weights, unrolled
      // epoch CTEs (the knn_ivf_centroids artifact-gate pattern)
      s"WITH $QmTrainCtes SELECT * FROM (" +
        (0 until TextOps.QmDims).map(j =>
          s"SELECT CAST($j AS BIGINT) AS dim, w$j AS w " +
            s"FROM qw${TextOps.QmEpochs}").mkString(" UNION ALL ") +
        ")"),
    // serve gate: one codegen'd dot-product projection over the
    // feature map — scan → project, no joins, the model-based filter
    // every real curation pipeline runs
    Gate("text_quality_scored", (s, d) =>
      TextOps.qualityScored(Tables.table(s, d, "documents"))
        .orderBy("doc_id"),
      s"WITH $QmTrainCtes SELECT doc_id, m_score, " +
        "CAST(CASE WHEN m_score >= 0 THEN 1 ELSE 0 END AS BIGINT) " +
        "AS keep FROM (SELECT f.doc_id, " +
        s"CAST($qmScoreSql AS BIGINT) AS m_score " +
        s"FROM qf f, qw${TextOps.QmEpochs} w)"),
    // the STORED-MODEL tier: the fitted weights round-trip parquet and
    // serving derives the same literal projection from the loaded
    // longs — byte-identical to in-session (shared oracle)
    Gate("text_quality_scored_stored", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val dir = storedDir(d, "quality_model", TextOps.qualityModel(docs))
      TextOps.qualityScoredFromStored(s.read.parquet(dir), docs)
        .orderBy("doc_id")
    },
      // stored-serve ≡ in-session is byte-identical by construction
      // (integer weights round-trip parquet exactly) — shared oracle
      s"WITH $QmTrainCtes SELECT doc_id, m_score, " +
        "CAST(CASE WHEN m_score >= 0 THEN 1 ELSE 0 END AS BIGINT) " +
        "AS keep FROM (SELECT f.doc_id, " +
        s"CAST($qmScoreSql AS BIGINT) AS m_score " +
        s"FROM qf f, qw${TextOps.QmEpochs} w)"),
    // honesty gate: full-corpus agreement of the trained filter with
    // its label rule — the distillation quality, priced in integers
    Gate("text_quality_model_agreement", (s, d) =>
      TextOps.qualityModelAgreement(Tables.table(s, d, "documents")),
      s"WITH $QmTrainCtes, sc AS (SELECT f.y, " +
        s"CAST($qmScoreSql AS BIGINT) AS m_score " +
        s"FROM qf f, qw${TextOps.QmEpochs} w) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN (m_score >= 0) = (y = 1) THEN 1 ELSE 0 END) " +
        "AS BIGINT) AS n_agree, " +
        "CAST(SUM(CASE WHEN (m_score >= 0) = (y = 1) THEN 1 ELSE 0 END) " +
        "* 1000000 // COUNT(*) AS BIGINT) AS agree_ppm FROM sc"),
    // the two error modes a curation budget actually prices — junk
    // kept (fp) and good docs lost (fn) — each an oracled integer
    Gate("text_quality_model_confusion", (s, d) =>
      TextOps.qualityModelConfusion(Tables.table(s, d, "documents")),
      s"WITH $QmTrainCtes, sc AS (SELECT f.y, " +
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
    // reliability diagram: label-positive rate per model-score decile
    // — where threshold tuning is safe (monotone band) and where it
    // is not, as oracled integers
    Gate("text_quality_model_calibration", (s, d) =>
      TextOps.qualityModelCalibration(Tables.table(s, d, "documents"))
        .orderBy("m_decile"),
      s"WITH $QmTrainCtes, sc AS (SELECT f.doc_id, f.y, " +
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
    Gate("text_langid", (s, d) =>
      TextOps.langId(Tables.table(s, d, "documents")).orderBy("doc_id"),
      {
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
      }),
    // C4-style blocklist admission: per-doc blocked-token DENSITY
    // against the declared term list + the worst offending term —
    // broadcast dictionary, non-hits die in the map stage
    Gate("text_blocklist", (s, d) =>
      TextOps.blocklistTag(Tables.table(s, d, "documents"))
        .orderBy("doc_id"),
      {
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
      }),
    // langid EVALUATION: confusion matrix vs the labeled lang column —
    // per-language recall and the exact confusion structure
    Gate("text_lang_confusion", (s, d) =>
      TextOps.langConfusion(Tables.table(s, d, "documents"))
        .orderBy("label", "lang_guess"),
      // confusion oracle: the text_langid marker scoring joined back to
      // the label column, counted per (label, guess) cell
      {
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
      }),
    Gate("text_fingerprint", (s, d) =>
      TextOps.fingerprints(Tables.table(s, d, "documents")).orderBy("doc_id"),
      s"SELECT doc_id, CAST(${phSql("text")} AS BIGINT) AS fingerprint FROM documents"),
    Gate("text_vocab", (s, d) =>
      TextOps.topTokens(Tables.table(s, d, "documents")),
      "SELECT token, CAST(COUNT(*) AS BIGINT) AS n FROM " +
        "(SELECT unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents) " +
        "GROUP BY token ORDER BY n DESC, token ASC LIMIT 100"),
    // deterministic training shards: salted-hash shard + exact
    // within-shard position via the range-partition rank (no windows)
    Gate("text_shards", (s, d) =>
      TextOps.shardAssignment(Tables.table(s, d, "documents"))
        .orderBy("shard", "pos"),
      // shard = salted hash mod ShardCount; pos = exact rank within the
      // shard under the (":pos"-salted hash, doc_id) order — the
      // operator's range-partition rank equals the window rank exactly
      {
        val n = TextOps.ShardCount
        s"WITH k AS (SELECT doc_id, " +
          s"${phSql("CAST(doc_id AS VARCHAR) || ':shard'")} % $n AS shard, " +
          s"${phSql("CAST(doc_id AS VARCHAR) || ':pos'")} AS h " +
          "FROM documents) " +
          "SELECT doc_id, CAST(shard AS BIGINT) AS shard, " +
          "CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) " +
          "AS BIGINT) AS pos FROM k"
      }),
    Gate("text_split", (s, d) =>
      TextOps.hashSplit(Tables.table(s, d, "documents")).orderBy("doc_id"),
      s"SELECT doc_id, CASE WHEN ${phSql("CAST(doc_id AS VARCHAR)")} % 100 < 10 " +
        "THEN 'val' ELSE 'train' END AS split FROM documents"),
    // leakage-free split: the same hash rule keyed by each doc's
    // near-dup cluster ROOT (dedup_clusters labels), so a duplicate
    // cluster never straddles the train/val boundary
    Gate("text_split_leakage", (s, d) =>
      // the default-cluster overload (dupClusters(ngramJaccard)) —
      // a pipeline with a precomputed cluster relation hands it to
      // the 2-arg form instead (identity spec-pinned)
      TextOps.hashSplitLeakageFree(Tables.table(s, d, "documents"))
        .orderBy("doc_id"),
      // text_split's hash rule keyed by the dedup_clusters root (the
      // same recursive closure over NgramPairsSql); unpaired docs root
      // as themselves via the COALESCE
      s"WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ($NgramPairsSql) t), " +
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
    Gate("text_corpus_stats", (s, d) =>
      TextOps.corpusStats(Tables.table(s, d, "documents")),
      "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(COALESCE(SUM(len(regexp_extract_all(text, '\\S+'))), 0) AS BIGINT) AS total_tokens, " +
        "CAST(COALESCE(SUM(length(text)), 0) AS BIGINT) AS total_chars, " +
        "CAST(COALESCE(MAX(len(regexp_extract_all(text, '\\S+'))), 0) AS BIGINT) AS max_tokens " +
        "FROM documents"),
    // quality-weighted deterministic downsampling: keep probability =
    // quality as ppm clamped to [floor, 1e6], coin = salted id hash —
    // reproducible curation thinning, keep_ppm as the audit column
    Gate("text_sample_quality", (s, d) =>
      TextOps.sampleByQuality(Tables.table(s, d, "documents"))
        .orderBy("doc_id"),
      // the shared quality b/q chain with the clamp + salted-hash coin;
      // constants from TextOps so the two engines can't drift
      {
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
      }),
    // pre-embedding chunking: fixed 256-char windows, 64-char overlap
    // — shuffle-free generator projection, chunk text hash-compared
    Gate("text_chunks", (s, d) =>
      TextOps.chunkDocs(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "chunk_idx"),
      // chunk starts via unnest(generate_series) — generate_series can't
      // take lateral column args as a table function in DuckDB, the
      // unnest-in-select form can; constants from TextOps so the window
      // geometry cannot drift
      {
        val w = graft.operators.TextOps.ChunkWindow
        val stride = w - graft.operators.TextOps.ChunkOverlap
        s"WITH st AS (SELECT doc_id, text, unnest(generate_series(0, " +
          s"GREATEST(len(text) - 1, 0), $stride)) AS start FROM documents) " +
          s"SELECT doc_id, CAST(start // $stride AS BIGINT) AS chunk_idx, " +
          s"substr(text, CAST(start AS INT) + 1, $w) AS chunk, " +
          s"CAST(len(substr(text, CAST(start AS INT) + 1, $w)) AS BIGINT) AS n_chars " +
          "FROM st"
      }),
    // per-source quality drift: p50/p90/p99 of the quality score per
    // source through the exact-rank machinery — the governance view
    // that catches one source's quality collapsing inside a healthy
    // corpus-wide distribution
    Gate("text_quality_by_source", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val q = TextOps.qualityShared(docs)
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      TextOps.groupedQuantiles(q, "source", "quality", "doc_id")
        .orderBy("source", "pct")
    },
      // per-source quality quantiles: the text_quality b CTE with source
      // carried through, then the events_quantiles rank-target selection
      {
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
      }),
    // deterministic contrastive negatives: slot i's negative = the doc
    // at hash-rank poly_hash(id ":" i) mod N — reproducible across
    // engines/partitionings, self-collisions dropped
    Gate("text_negatives", (s, d) =>
      TextOps.negatives(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "slot"),
      // negatives oracle: dense hash-order rank via row_number, the same
      // permutation probe arithmetic, self-collisions dropped
      {
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
      }),
    // winnowing fingerprints: per-window minima of the rolling k-gram
    // hash — shuffle-free selection, the MOSS-style overlap index key
    Gate("text_winnow", (s, d) =>
      TextOps.winnowing(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "fp"),
      // winnowing oracle: the dedup_spans per-position direct-hash CTE,
      // then a w-row rolling MIN window per doc — partial windows at the
      // start are excluded (full-window semantics) EXCEPT the final
      // position of a doc with fewer than w k-grams, which mirrors the
      // Spark side's least(w-1, n-1) window-end lower bound
      {
        val k = graft.operators.TextOps.WinnowGramChars
        val w = graft.operators.TextOps.WinnowWindow
        s"WITH g AS (SELECT doc_id, i - 1 AS pos, " +
          s"${phSql60(s"substr(text, i::INT, $k)")} AS h " +
          s"FROM (SELECT doc_id, text, unnest(range(1, length(text) - $k + 2)) AS i " +
          s"FROM documents WHERE length(text) >= $k)), " +
          "m AS (SELECT doc_id, pos, MIN(h) OVER (PARTITION BY doc_id " +
          s"ORDER BY pos ROWS BETWEEN ${w - 1} PRECEDING AND CURRENT ROW) AS fp, " +
          "MAX(pos) OVER (PARTITION BY doc_id) AS mx FROM g) " +
          "SELECT DISTINCT doc_id, CAST(fp AS BIGINT) AS fp FROM m " +
          s"WHERE pos >= ${w - 1} OR pos = mx"
      }),
    // top-100 bigram counts + Kneser-Ney continuation counts — the
    // n-gram LM statistic table; pairs generated inside a projection
    Gate("text_bigram_lm", (s, d) =>
      TextOps.bigramLm(Tables.table(s, d, "documents"))
        .orderBy(org.apache.spark.sql.functions.col("cnt").desc,
          org.apache.spark.sql.functions.col("w1"),
          org.apache.spark.sql.functions.col("w2")),
      {
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
      }),
    Gate("text_normalize", (s, d) =>
      TextOps.normalize(Tables.table(s, d, "documents"))
        .select("doc_id", "text").orderBy("doc_id"),
      "SELECT doc_id, trim(regexp_replace(lower(nfc_normalize(text)), " +
        "'\\s+', ' ', 'g')) AS text FROM documents"),
    // PII scrub over docs AUGMENTED with deterministic synthetic PII
    // (email, SSN/phone shapes, IPv4 derived from doc_id — the same
    // expression the oracle builds), so the redaction provably fires
    // and the CLEANED text is hash-compared, not just row counts
    Gate("text_pii", (s, d) => {
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
    },
      // same augmentation expression, then the SAME pattern chain in the
      // same order (patterns are single-sourced from TextOps.PiiPatterns;
      // single quotes escaped as '' for the splice — today's patterns
      // carry none, but a future one must not break the oracle silently)
      {
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
      }),
    // decontamination vs a probe "benchmark" = docs with doc_id < 10
    // (probes excluded from the report — they trivially self-hit)
    Gate("text_contamination", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      TextOps.contamination(docs,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") < 10))
        .filter(org.apache.spark.sql.functions.col("doc_id") >= 10)
        .orderBy("doc_id")
    },
      contaminationOracle),
    // decontamination from the STORED shingle index: the corpus is
    // fingerprinted once to parquet; screening a new benchmark reads
    // the slim (doc_id, h) rows and tokenizes only the probes
    Gate("text_contamination_indexed", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val dir = storedDir(d, "shingle_idx",
        TextOps.docShingles(docs.filter(col("doc_id") >= 10)))
      TextOps.contaminationFromIndex(s.read.parquet(dir),
          docs.filter(col("doc_id") < 10))
        .orderBy("doc_id")
    },
      // the stored index is the same relation, read instead of
      // recomputed — same output, same oracle
      contaminationOracle),
    // the REFRESH CYCLE of the decontamination tier: the stored index
    // was built over 4/5 of the corpus PLUS the probes (an ingest
    // that accidentally fingerprinted the eval set); one shinglesDelta
    // pass folds in the remaining fifth AND drops the probe rows —
    // stored side never re-tokenized (PlanSpec-guarded) — and the
    // screen over the merged index must hash-match the ONE-SHOT
    // rebuild (the oracle is text_contamination_indexed's SQL
    // verbatim: chained ≡ one-shot)
    Gate("text_contamination_incremental", (s, d) => {
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
    },
      // chained ≡ one-shot: the delta-merged index must screen exactly
      // like a full rebuild, so the oracle is the rebuild SQL verbatim
      contaminationOracle),
    Gate("text_contamination_bloom", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      TextOps.contaminationBloom(docs,
          docs.filter(org.apache.spark.sql.functions.col("doc_id") < 10))
        .filter(org.apache.spark.sql.functions.col("doc_id") >= 10)
        .orderBy("doc_id")
    },
      // the bloom prefilter is an execution detail (fixed 8 KB bit array
      // instead of a broadcast probe set; exact join removes every bloom
      // false positive) — same output, same oracle
      contaminationOracle),
    Gate("text_pack", (s, d) =>
      TextOps.packSequences(Tables.table(s, d, "documents")).orderBy("doc_id"),
      "WITH t AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS n FROM documents), " +
        "c AS (SELECT doc_id, n, COALESCE(SUM(n) OVER (ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t) " +
        "SELECT doc_id, CAST(n AS BIGINT) AS n_tokens, " +
        "CAST(cum // 2048 AS BIGINT) AS seq_id, " +
        "CAST(cum % 2048 AS BIGINT) AS seq_off FROM c"),
    Gate("text_repetition", (s, d) =>
      TextOps.repetition(Tables.table(s, d, "documents")).orderBy("doc_id"),
      // NON-distinct shingle hash list (hsCteFor would list_distinct it)
      "WITH r AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t " +
        "FROM documents), " +
        "hh AS (SELECT doc_id, list_transform(list_transform(" +
        "range(1, greatest(len(t) - 1, 1)), " +
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]), " +
        s"s -> ${phSql("s")}) AS hs FROM r) " +
        "SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles, " +
        "CAST(len(list_distinct(hs)) AS BIGINT) AS n_distinct, " +
        "(len(hs) - len(list_distinct(hs))) / GREATEST(len(hs), 1) AS dup_ratio " +
        "FROM hh"),
    Gate("text_quota", (s, d) =>
      TextOps.quotaSample(Tables.table(s, d, "documents"))
        .orderBy("lang", "rank"),
      // same quality formula (and float op order) as text_quality; the
      // per-language row_number twin of the TopKPerKey heap
      "WITH b AS (SELECT doc_id, lang, " +
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
    // DOMAIN-LEVEL GOVERNANCE: URL normalization (scheme/userinfo/
    // port/path stripped, lowercased, www-dropped) over the messy-URL
    // fixture, then the per-host accounting rollup — the C4-style
    // per-domain budget relation
    Gate("text_domain_rollup", (s, d) =>
      TextOps.domainRollup(TextOps.withFixtureUrl(
          Tables.table(s, d, "documents")))
        .orderBy("host"),
      s"WITH $DomainHostCtes " +
        "SELECT host, regexp_extract(host, '[^.]+\\.[^.]+$', 0) AS domain, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT) " +
        "AS total_tokens, " +
        "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs " +
        "FROM h GROUP BY host"),
    // per-host quality quota through the bounded TopKPerKey heap — no
    // window over a domain-sized partition, so a giant domain costs
    // k heap slots, not a spill
    Gate("text_domain_quota", (s, d) =>
      TextOps.domainQuota(TextOps.withFixtureUrl(
          Tables.table(s, d, "documents")))
        .orderBy("host", "rank"),
      s"WITH $DomainHostCtes, " +
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
    Gate("text_mix", (s, d) =>
      TextOps.mixCorpus(Tables.table(s, d, "documents"), MixPpm)
        .orderBy("doc_id", "epoch"),
      // the mix table's CASE is generated from the same MixPpm map the
      // Spark query passes — srcI gets (I+1)/10 epochs, covering both
      // down-sampling (< 1e6 ppm) and multi-epoch up-sampling (> 1e6)
      {
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
      }),
    // the same epoch-weighting machinery at the governance budget
    // unit: rates keyed by REGISTRABLE DOMAIN (from the normalized
    // fixture URLs) — down-sample one domain family, up-sample the
    // other, deterministically per (doc, epoch)
    Gate("text_domain_mix", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = TextOps.withFixtureUrl(Tables.table(s, d, "documents"))
        .withColumn("domain",
          TextOps.registrableDomain(TextOps.urlHost(col("url"))))
      TextOps.mixCorpus(docs, DomainMixPpm, keyCol = "domain")
        .orderBy("doc_id", "epoch")
    },
      {
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
      }),
    // BPE merge-candidate counting kernel: corpus-weighted adjacent
    // char-pair counts over the DISTINCT word vocabulary
    Gate("text_bpe_pairs", (s, d) =>
      TextOps.bpePairCounts(Tables.table(s, d, "documents")),
      // twin of bpePairCounts: same \S+ words, frequency-weighted char
      // bigrams over the distinct vocabulary (range(1, length) is empty
      // below 2 chars, mirroring the length >= 2 filter)
      {
        val k = graft.operators.TextOps.BpeTopK
        "WITH w AS (SELECT token, COUNT(*) AS f FROM " +
          "(SELECT unnest(regexp_extract_all(text, '\\S+')) AS token FROM documents) " +
          "GROUP BY token), " +
          "p AS (SELECT unnest(list_transform(range(1, length(token)), " +
          "i -> substr(token, CAST(i AS BIGINT), 2))) AS pair, f FROM w) " +
          "SELECT pair, CAST(SUM(f) AS BIGINT) AS n FROM p GROUP BY pair " +
          s"ORDER BY n DESC, pair ASC LIMIT $k"
      }),
    // the BPE TRAINER loop: count → argmax → greedy merge, iterated;
    // output is the merge table a tokenizer ships
    Gate("text_bpe_train", (s, d) =>
      TextOps.bpeTrain(Tables.table(s, d, "documents"))
        .orderBy("merge_rank"),
      // bigram-LM oracle: adjacent pairs via unnest(generate_series)
      // (empty for single-token docs), counts, continuation counts over
      // the distinct-bigram relation, deterministic top-k total order
      {
        val rounds = graft.operators.TextOps.BpeTrainRounds
        val out = (1 to rounds).map(r =>
          s"SELECT CAST($r AS BIGINT) AS merge_rank, a, b, n FROM b$r")
          .mkString(" UNION ALL ")
        s"WITH ${bpeCtesSql(rounds)} $out"
      }),
    // the trained tokenizer APPLIED: per-doc token + subword counts
    // the BPE serve leg: the trained merge table round-trips parquet
    // and the encode replays it with ZERO training jobs — must
    // hash-match the in-session text_bpe_encode oracle verbatim
    Gate("text_bpe_encode_stored", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val dir = storedDirLazy(d, "bpe_merges", docs,
        s"rounds=${TextOps.BpeTrainRounds}")(TextOps.bpeTrain(docs))()
      TextOps.bpeEncodeFromStored(s.read.parquet(dir), docs)
        .orderBy("doc_id")
    },
          // the stored-merges serve is byte-identical to in-session
      // training (the replayed replace chain) — one oracle gates both
      BpeEncodeSql),
    Gate("text_bpe_encode", (s, d) =>
      TextOps.bpeEncode(Tables.table(s, d, "documents"))
        .orderBy("doc_id"),
      BpeEncodeSql),
    // CCNet-style bigram-surprisal quality scoring in exact bit-length
    // integers — the perplexity-bucket filter without the float log
    Gate("text_surprisal", (s, d) =>
      TextOps.surprisalShared(Tables.table(s, d, "documents"))
        .orderBy("doc_id"),
      // exact bit-length surprisal: bin() emits minimal-width binary in
      // BOTH engines, so length(bin(x)) = ⌊log2 x⌋+1 is integer-identical
      SurprisalSql),
    // do the two quality signals agree? joint decile histogram of the
    // heuristic score vs the LM surprisal
    Gate("text_quality_calibration", (s, d) =>
      TextOps.qualityCalibration(Tables.table(s, d, "documents"))
        .orderBy("q_decile", "s_decile"),
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
        "FROM qd JOIN sd ON sd.doc_id = qd.doc_id GROUP BY 1, 2")),
    // BM25 keyword retrieval: probe docs (doc_id < 8) rank the corpus
    Gate("text_bm25", (s, d) =>
      TextOps.bm25Shared(Tables.table(s, d, "documents"))
        .orderBy("query_id", "rank"),
      Bm25Sql),
    // RM3-style pseudo-relevance feedback: top-3 feedback docs' terms
    // (minus the query's own) ranked by fbtf×idf join the query, then
    // a second pass over the SAME cached tf/stats — the recall move
    Gate("text_bm25_prf", (s, d) =>
      TextOps.bm25PrfShared(Tables.table(s, d, "documents"))
        .orderBy("query_id", "rank"),
      Bm25PrfSql),
    // hashed tf-idf sparse features (Weinberger et al. 2009): signed
    // feature hashing × the exact-integer BM25 idf — the linear-model
    // feature extractor
    Gate("text_tfidf", (s, d) =>
      TextOps.tfidfHashed(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "dim"),
      {
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
      }),
    // inverted-index construction: per-term df/cf + capped posting
    // list via the token-keyed TopKPerKey heap; df >= 5 floor
    Gate("text_postings", (s, d) =>
      TextOps.postings(Tables.table(s, d, "documents"))
        .orderBy("token", "rank"),
      // inverted index: same \S+ tokens, df floor, (tf desc, doc_id)
      // posting rank — row_number is the TopKPerKey twin
      PostingsSql),
    // INCREMENTAL index maintenance: the stored (un-floored,
    // fingerprint-stamped) index over 4/5 of the corpus round-trips
    // parquet, the remaining fifth folds in as a fresh batch via
    // postingsDelta — df/cf counter-additive, posting heaps
    // re-elected only for touched terms, the stored side never
    // shuffled (PlanSpec-guarded) — and the published result must
    // hash-match the ONE-SHOT full rebuild: the oracle is
    // text_postings' SQL verbatim, so chained ≡ one-shot is the gate
    Gate("text_postings_incremental", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val dir = storedDir(d, "postings_idx",
        TextOps.postingsIndex(docs.filter(col("doc_id") % 5 =!= 0)))
      TextOps.postingsPublish(TextOps.postingsDelta(s.read.parquet(dir),
          docs.filter(col("doc_id") % 5 === 0)))
        .orderBy("token", "rank")
    },
      // the incremental path is an execution detail (stored index +
      // delta merge instead of a rescan) — chained ≡ one-shot is exact,
      // so the full-rebuild SQL is the oracle verbatim
      PostingsSql),
    // BM25 served ENTIRELY from the stored index: postings + forward
    // index round-trip parquet, serving re-tokenizes only the query
    // docs. Scores are exact; the depth cap prunes CANDIDATES (static
    // index pruning) — the oracle applies the same top-PostingsK
    // restriction to its tf relation, and the recall gate prices the
    // pruning against the full-scan ranking
    Gate("text_bm25_indexed", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val (idxDir, lensDir) = bm25IndexDirs(s, d)
      TextOps.bm25FromIndexShared(s.read.parquet(idxDir),
          s.read.parquet(lensDir), docs)
        .orderBy("query_id", "rank")
    },
      // the depth-capped stored-index serve: bm25's SQL with candidates
      // restricted to each token's top-PostingsK postings (df stays
      // full — every surviving candidate's score is unchanged)
      bm25SqlFor(TextOps.Bm25K, postingCap = TextOps.Bm25IndexDepth.toLong)),
    // the REFRESH CYCLE of the serving tier: stored depth-256 index +
    // forward index over 4/5 of the corpus, the remaining fifth folds
    // in as an O(batch) postingsDelta merge (+ appended lengths), and
    // BM25 serves from the merged relations — must hash-match the
    // ONE-SHOT indexed oracle (chained ≡ one-shot at the score level,
    // inherited from the postingsDelta exactness law)
    Gate("text_bm25_incremental", (s, d) => {
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
    },
      // the incremental refresh is an execution detail (stored index +
      // O(batch) delta merge instead of a rebuild) — the one-shot
      // indexed SQL gates it verbatim, so chained ≡ one-shot IS the gate
      bm25SqlFor(TextOps.Bm25K, postingCap = TextOps.Bm25IndexDepth.toLong)),
    // PRF served ENTIRELY from the stored tier — the production PRF
    // shape: both scoring passes, the feedback-term pool, and the
    // expansion idf all come from the persisted postings + forward
    // index; corpus text never read at query time (only the 10 query
    // docs tokenize — PlanSpec-guarded)
    Gate("text_bm25_prf_indexed", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val (idxDir, lensDir) = bm25IndexDirs(s, d)
      TextOps.bm25PrfFromIndexShared(s.read.parquet(idxDir),
          s.read.parquet(lensDir), docs)
        .orderBy("query_id", "rank")
    },
      // the stored-tier PRF: the full PRF chain over the depth-capped
      // posting relation — both passes, the feedback-term pool, and the
      // true-df idf mirror the bm25PrfFromIndex serve exactly
      bm25PrfSqlFor(postingCap = TextOps.Bm25IndexDepth.toLong)),
    // honesty gate for the depth-capped PRF serve: recall@k of the
    // stored-tier PRF ranking vs the exact full-scan PRF ranking —
    // prices the pruning across BOTH passes and the feedback pool
    Gate("text_bm25_prf_indexed_recall", (s, d) => {
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
    },
      recallSql(
        s"SELECT query_id, doc_id AS neighbor_id FROM ($Bm25PrfSql)",
        "SELECT query_id, doc_id AS neighbor_id FROM (" +
          bm25PrfSqlFor(postingCap = TextOps.Bm25IndexDepth.toLong) + ")")),
    // honesty gate for the depth-capped serve: recall@k of the
    // indexed ranking vs the full-scan bm25 ranking
    Gate("text_bm25_indexed_recall", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      val (idxDir, lensDir) = bm25IndexDirs(s, d)
      def ren(df: org.apache.spark.sql.DataFrame) =
        df.select(col("query_id"), col("doc_id").as("neighbor_id"))
      Similarity.recallAtK(
        ren(TextOps.bm25FromIndexShared(s.read.parquet(idxDir),
          s.read.parquet(lensDir), docs)),
        ren(TextOps.bm25Shared(docs)))
    },
      recallSql(
        s"SELECT query_id, doc_id AS neighbor_id FROM ($Bm25Sql)",
        "SELECT query_id, doc_id AS neighbor_id FROM (" +
          bm25SqlFor(TextOps.Bm25K,
            postingCap = TextOps.Bm25IndexDepth.toLong) + ")")),
    // curriculum binning: per-doc quality-rank decile via the
    // distributed two-pass rank (no global window)
    Gate("text_quality_deciles", (s, d) =>
      TextOps.qualityDeciles(Tables.table(s, d, "documents"))
        .orderBy("doc_id"),
      // per-doc decile stamp: same (quality, doc_id) total order and the
      // same (rn-1)*buckets//n bucket arithmetic as the rank machinery
      "WITH b AS (SELECT doc_id, " +
        "len(regexp_extract_all(text, '\\S+')) AS nt, " +
        "len(regexp_extract_all(text, '\\S')) AS ns, " +
        s"len(regexp_extract_all(text, '${graft.functions.TextFunctions.StopwordsRe}')) AS st " +
        "FROM documents), " +
        s"q AS (SELECT doc_id, $QualitySqlExpr AS quality FROM b), " +
        "r AS (SELECT doc_id, row_number() OVER (ORDER BY quality, doc_id) AS rn, " +
        "COUNT(*) OVER () AS n FROM q) " +
        "SELECT doc_id, CAST((rn - 1) * 10 // n AS BIGINT) AS decile FROM r"),
    // DSIR-style hashed-token importance vs the English slice as the
    // target distribution — integer ppm ratios, broadcast weight table
    Gate("text_importance", (s, d) =>
      TextOps.importanceWeights(Tables.table(s, d, "documents"),
          org.apache.spark.sql.functions.col("lang") === "en")
        .orderBy("doc_id"),
      // twin of TextOps.importanceWeights: same \S+ tokens, same
      // poly_hash % buckets, same two-stage integer ppm ratio (DuckDB //
      // == Spark div on non-negative longs), same add-one smoothing and
      // 1e9 cap, same token-count-weighted integer mean
      {
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
      }),
    Gate("text_deciles", (s, d) =>
      TextOps.lengthDeciles(Tables.table(s, d, "documents")).orderBy("decile"),
      // bucket of global rank r (1-based) = (r-1)*buckets // N — integer
      // outputs only, so the distributed two-pass rank is hash-exact
      "WITH t AS (SELECT doc_id, " +
        "CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS nt FROM documents), " +
        "n AS (SELECT GREATEST(COUNT(*), 1) AS n FROM t), " +
        "r AS (SELECT nt, row_number() OVER (ORDER BY nt, doc_id) AS rnk FROM t) " +
        "SELECT CAST((rnk - 1) * 10 // n.n AS BIGINT) AS decile, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(MIN(nt) AS BIGINT) AS min_tokens, " +
        "CAST(MAX(nt) AS BIGINT) AS max_tokens, " +
        "CAST(SUM(nt) AS BIGINT) AS sum_tokens " +
        "FROM r, n GROUP BY 1"),
    Gate("text_vocab_hll", (s, d) =>
      TextOps.vocabHll(Tables.table(s, d, "documents")),
      {
        val m = graft.operators.TextOps.HllBuckets
        val cap = graft.operators.TextOps.HllCap
        val p2 = (1L << cap).toDouble // 2^cap, exact in double
        s"WITH tok AS (SELECT unnest(regexp_extract_all(text, '\\S+')) AS token " +
          "FROM documents), " +
          s"h AS (SELECT ${phSql60("token")} AS h FROM tok), " +
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
      }),
    // Count-Min token-frequency sketch as a relation, at the GATE
    // width (16) so the tiny sf0.01 vocabulary actually collides
    Gate("text_cms", (s, d) =>
      TextOps.cmsTokens(Tables.table(s, d, "documents"),
        width = TextOps.CmsGateWidth).orderBy("row_idx", "bucket"),
      {
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
      }),
    Gate("text_cms_topk", (s, d) =>
      TextOps.cmsEstimateTopK(Tables.table(s, d, "documents"),
        width = TextOps.CmsGateWidth).orderBy("token"),
      {
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
      }),
    Gate("text_salient", (s, d) =>
      TextOps.salientTerms(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "token"),
      {
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
      }),
    Gate("text_cooccur", (s, d) =>
      TextOps.cooccurrence(Tables.table(s, d, "documents"))
        .orderBy("t1", "t2"),
      {
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
      }),
    // top-k vocabulary overlap between sources — the mixCorpus
    // weight-design diagnostic; integer counts, deterministic top-k
    Gate("text_source_overlap", (s, d) =>
      TextOps.sourceVocabOverlap(Tables.table(s, d, "documents"))
        .orderBy("src_a", "src_b"),
      {
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
      }),
    // bounded-state twin of text_source_overlap: pairwise vocabulary
    // overlap estimated by HLL set algebra (union = bucket-wise max,
    // intersection = inclusion-exclusion)
    Gate("text_source_overlap_hll", (s, d) =>
      TextOps.sourceOverlapHll(Tables.table(s, d, "documents"))
        .orderBy("src_a", "src_b"),
      {
        val m = graft.operators.TextOps.HllBuckets
        val cap = graft.operators.TextOps.HllCap
        val p2 = (1L << cap).toDouble
        // one fixed-order float expression per estimate row — identical
        // to hllFinalize's ((alpha · m²) · 2^cap) / harmonic chain
        val estExpr = s"0.7213 / (1.0 + 1.079 / ${m.toDouble}) * " +
          s"${(m.toLong * m).toDouble} * $p2 / " +
          s"CAST(sp + ($m - nz) * (1::BIGINT << $cap) AS DOUBLE)"
        s"WITH tok AS (SELECT source, unnest(regexp_extract_all(text, '\\S+')) " +
          "AS token FROM documents), " +
          s"h AS (SELECT source, ${phSql60("token")} AS h FROM tok), " +
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
      }),
  )

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

  /** text_surprisal oracle — the full per-doc statement, shared
    * whole by text_quality_calibration.
    */
  private lazy val SurprisalSql: String =
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

  /** text_bm25 oracle — the same all-integer fixed-point BM25 as
    * `TextOps.bm25` (constants spliced from the SAME vals; idf via
    * `length(bin(...))` exactly as Spark's `bin`, both engines emit
    * minimal-width binary). Shared so a future fusion gate can splice
    * the keyword ranking without drift.
    */
  private lazy val Bm25Sql: String = bm25SqlFor(TextOps.Bm25K)

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
}
