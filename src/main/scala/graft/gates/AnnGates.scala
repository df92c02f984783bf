package graft
package gates

import graft.operators.{Dedup, Similarity, TextOps}
import graft.sources.Tables
import GateSql._
import SparkEntry.{bm25IndexDirs, storedDir, storedDirLazy}

/** Vector search over `embeddings`: brute, LSH, IVF, PQ, SQ8, Hamming,
  * graph and beam kNN with their recall gates, the stored (train-once,
  * serve-many) tiers, embedding curation, and hybrid BM25+kNN search.
  */
object AnnGates {

  val gates: Seq[Gate] = Seq(
    // HYBRID retrieval from stored indexes end to end: RRF of the
    // stored-postings bm25 pool and the stored-SQ8-codes vector pool —
    // the serving stack a production tier actually runs (no corpus
    // text or embeddings read at query time)
    Gate("search_hybrid_indexed", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val emb = Tables.table(s, d, "embeddings")
      val (idxDir, lensDir) = bm25IndexDirs(s, d)
      val stDir = storedDir(d, "sq8_stats", Similarity.sq8Stats(emb))
      val cdDir = storedDir(d, "sq8_codes", Similarity.quantizeInt8(emb))
      Similarity.hybridRrfIndexed(s.read.parquet(idxDir),
          s.read.parquet(lensDir), s.read.parquet(stDir),
          s.read.parquet(cdDir), docs, emb)
        .orderBy("query_id", "rank")
    },
      // RRF splice of the two stored-tier oracles — search_hybrid's shape
      // with the posting-capped bm25 pool and the corpus-restricted SQ8
      // pool
      {
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
      }),
    // hybrid retrieval: RRF fusion of the BM25 and cosine rankings
    Gate("search_hybrid", (s, d) =>
      Similarity.hybridRrf(Tables.table(s, d, "documents"),
          Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      // search_hybrid oracle: RRF fusion of the bm25 pool and the
      // corpus-restricted cosine pool — both spliced whole so the fusion
      // gate cannot drift from the modality gates' arithmetic.
      {
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
      }),
    // filtered vector search: corpus pre-restricted to lang='en' docs
    Gate("knn_filtered", (s, d) =>
      Similarity.knnFiltered(Tables.table(s, d, "embeddings"),
          Tables.table(s, d, "documents"),
          org.apache.spark.sql.functions.col("lang") === "en")
        .orderBy("query_id", "rank"),
      KnnFilteredSql),
    // the same predicate on the IVF serving path: full-corpus index,
    // allowed-id semi-join before assignment/scoring
    Gate("knn_ivf_filtered", (s, d) =>
      Similarity.knnIvfFiltered(Tables.table(s, d, "embeddings"),
          Tables.table(s, d, "documents"),
          org.apache.spark.sql.functions.col("lang") === "en")
        .orderBy("query_id", "rank"),
      KnnIvfFilteredSql),
    // text twin of knn_graph: top-k similar docs by n-gram Jaccard —
    // rare-shingle candidate generation, exact sorted-merge verify,
    // integer-ppm scores, TopKPerKey ranking
    Gate("doc_knn", (s, d) =>
      Dedup.docKnn(Tables.table(s, d, "documents"))
        .orderBy("doc_id", "rank"),
      // text twin of knn_graph over the shared HsCte shingle relation:
      // rare-shingle (df <= maxDf) candidates, exact list_intersect
      // verify (the sorted-merge kernel's twin on distinct lists),
      // integer-ppm score, mirrored, ranked
      {
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
      }),
    // the same quality-argmax survivor policy applied CROSS-MODAL:
    // clusters come from embedding near-dups (cosine ≥ 0.30 over the
    // banded LSH candidates), the score from the text-side quality
    // signal (vec_id ≡ doc_id — the same entity in two modalities);
    // survivor universe = the EMBEDDED docs (unembedded docs are
    // outside the clustering and would trivially "survive")
    Gate("embedding_survivors_best", (s, d) => {
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
    },
      // the cross-modal survivor policy: embedding-near-dup clusters
      // (EmbNearDupSql recursive closure — shared with
      // embedding_clusters) scored by QualitySqlExpr (shared with
      // text_quality / dedup_survivors_best), winner per cluster by
      // (quality DESC, doc_id ASC); universe = embedded docs
      s"WITH RECURSIVE pairs AS (SELECT vec_a, vec_b FROM ($EmbNearDupSql) t), " +
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
    // SemDeDup (Abbas et al. 2023): semantic dedup through the
    // kNN-GRAPH — candidate edges are each vector's top-k neighbors
    // (not every band collision), thresholded at cosine ≥ 0.30, then
    // the standard cluster → keep-best-quality pipeline. The k-cap
    // bounds per-vector candidate fanout independently of how dense a
    // semantic neighborhood is — the property that makes this the
    // scale form of embedding_survivors_best
    Gate("embedding_semdedup", (s, d) => {
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
    },
      // embedding_survivors_best with the pair source swapped for the
      // kNN-graph: the SAME closure/quality/argmax tail over edges from
      // KnnGraphSql (top-k capped) thresholded at cosine >= 0.30
      s"WITH RECURSIVE pairs AS (SELECT query_id AS vec_a, neighbor_id AS vec_b " +
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
    // SQ8 storage compression: per-dimension min/max grid, one row per
    // (vec_id, dim) with the int8 code + reconstruction-error ppm —
    // dim-keyed stats agg + a broadcast-join map stage
    Gate("embedding_quantize", (s, d) =>
      Similarity.quantizeInt8(Tables.table(s, d, "embeddings"))
        .orderBy("vec_id", "dim"),
      // SQ8 oracle: same per-dim min/max grid; every double op is the
      // SAME left-to-right chain as the Spark expression (float-parity —
      // min/max have no accumulation order, floor/clamp are exact)
      "WITH x AS (SELECT vec_id, embedding, " +
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
    // product quantization: per-block nearest hash-anchored codeword
    // (squared L2, sequential fold) — map-only, codebook as literals
    Gate("embedding_pq", (s, d) =>
      Similarity.pqCodes(Tables.table(s, d, "embeddings"))
        .orderBy("vec_id", "block"),
      // PQ oracle: codeword j = rank j in the shared hash order; one
      // UNION ALL branch per block, each squared-L2 the same
      // list_reduce left fold as dotSql; argmin = row_number (d2, code)
      {
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
      }),
    // per-label integer centroids: elements quantized to ppm FIRST so
    // the per-(label, dim) sums are exact long arithmetic — the class-
    // prototype / SemDeDup-cluster-diagnostic primitive
    Gate("embedding_centroids", (s, d) =>
      Similarity.labelCentroids(Tables.table(s, d, "embeddings"))
        .orderBy("label", "dim"),
      "WITH v AS (SELECT label, " +
        "unnest(generate_series(1, len(embedding))) AS i, embedding " +
        "FROM embeddings), " +
        "q AS (SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim, " +
        "CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT) AS q FROM v) " +
        "SELECT label, CAST(dim AS BIGINT) AS dim, " +
        "CAST(COUNT(*) AS BIGINT) AS n_vecs, CAST(SUM(q) AS BIGINT) AS sum_ppm, " +
        "CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_ppm " +
        "FROM q GROUP BY 1, 2"),
    // embedding drift: per-label centroid movement between the even/
    // odd vec_id epochs — quantize-first integer centroids joined on
    // (label, dim), exact Σ(Δmean_ppm)² — model/mix drift lands here
    // before recall gates degrade
    Gate("embedding_drift", (s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.table(s, d, "embeddings")
      Similarity.embeddingDrift(emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1))
        .orderBy("label")
    },
      "WITH v0 AS (SELECT label, unnest(generate_series(1, len(embedding))) AS i, embedding FROM embeddings WHERE vec_id % 2 = 0), q0 AS (SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim, CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT) AS q FROM v0), c0 AS (SELECT label, dim, COUNT(*) AS n_vecs, CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_ppm FROM q0 GROUP BY 1, 2), " +
        "v1 AS (SELECT label, unnest(generate_series(1, len(embedding))) AS i, embedding FROM embeddings WHERE vec_id % 2 = 1), q1 AS (SELECT CAST(label AS BIGINT) AS label, i - 1 AS dim, CAST(floor(embedding[i]::DOUBLE * 1000000.0) AS BIGINT) AS q FROM v1), c1 AS (SELECT label, dim, COUNT(*) AS n_vecs, CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_ppm FROM q1 GROUP BY 1, 2) " +
        "SELECT c0.label, CAST(MAX(c0.n_vecs) AS BIGINT) AS n_old, " +
        "CAST(MAX(c1.n_vecs) AS BIGINT) AS n_fresh, " +
        "CAST(SUM((c1.mean_ppm - c0.mean_ppm) * " +
        "(c1.mean_ppm - c0.mean_ppm)) AS BIGINT) AS drift_ppm2 " +
        "FROM c0 JOIN c1 ON c1.label = c0.label AND c1.dim = c0.dim " +
        "GROUP BY 1"),
    // ONE exact Lloyd round from the hash-anchored init — the k-means
    // training STEP oracle-checked (flat L2 argmin assignment +
    // quantize-first integer mean update)
    Gate("embedding_lloyd", (s, d) =>
      Similarity.lloydStep(Tables.table(s, d, "embeddings"))
        .orderBy("cent_id", "dim"),
      {
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
      }),
    // exact squared-L2 brute top-k — the Euclidean metric baseline
    // (knn_brute is cosine); integer l2_fp scores, broadcast queries
    Gate("knn_brute_l2", (s, d) =>
      Similarity.knnBruteL2Shared(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      KnnBruteL2Sql),
    // SQ8 serving: the grid stats + int8 codes round-trip parquet and
    // the serve dequantizes stored codes against raw queries — corpus
    // embeddings never read; full-width scan (SQ8 trades precision,
    // not candidates), exact fold, fully SQL-derivable
    Gate("knn_sq8", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val stDir = storedDir(d, "sq8_stats", Similarity.sq8Stats(emb))
      val cdDir = storedDir(d, "sq8_codes", Similarity.quantizeInt8(emb))
      Similarity.knnSq8(s.read.parquet(stDir), s.read.parquet(cdDir), emb)
        .orderBy("query_id", "rank")
    },
      KnnSq8Sql),
    // SQ8 honesty: recall@k of the dequantized ranking vs exact L2 —
    // prices exactly the quantization error (the err_ppm column's
    // retrieval-level consequence)
    Gate("knn_sq8_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(
        Similarity.knnSq8(Similarity.sq8Stats(emb),
          Similarity.quantizeInt8(emb), emb),
        Similarity.knnBruteL2Shared(emb))
    },
      recallSql(KnnBruteL2Sql, KnnSq8Sql)),
    // binary (1-bit) quantization audit: sign bits against the SQ8
    // grid MIDPOINTS packed 32 per word — the 32× compression tier's
    // stored layout, exact integers, fully SQL-derivable
    Gate("embedding_binarize", (s, d) =>
      Similarity.binarize(Tables.table(s, d, "embeddings"))
        .orderBy("vec_id", "word"),
      // embedding_binarize oracle — the packed-word audit rows.
      s"WITH $HammingScanCte " +
        "SELECT vec_id, CAST(word AS BIGINT) AS word, bits FROM w"),
    // Hamming serving from STORED binary words: grid + packed words
    // round-trip parquet and the serve popcounts stored words against
    // in-plan-binarized queries — corpus embeddings never read
    Gate("knn_hamming", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      // same fit plan + leaf as knn_sq8/search_hybrid_indexed → the
      // memo hands all three gates ONE stored stats dir
      val stDir = storedDir(d, "sq8_stats", Similarity.sq8Stats(emb))
      val wDir = storedDir(d, "bin_words",
        Similarity.binaryCodes(s.read.parquet(stDir), emb))
      Similarity.knnHamming(s.read.parquet(stDir), s.read.parquet(wDir),
          emb)
        .orderBy("query_id", "rank")
    },
      KnnHammingSql),
    // binary honesty: recall@k of the raw Hamming ranking vs exact L2
    // — prices the 1-bit tier's precision loss BEFORE rerank
    Gate("knn_hamming_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val st = Similarity.sq8Stats(emb)
      Similarity.recallAtK(
        Similarity.knnHamming(st, Similarity.binaryCodes(st, emb), emb),
        Similarity.knnBruteL2Shared(emb))
    },
      recallSql(KnnBruteL2Sql, KnnHammingSql)),
    // two-stage binary serving: Hamming shortlist (cand=32) → exact
    // squared-L2 rerank over ONLY the candidates' raw embeddings
    Gate("knn_hamming_rerank", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val st = Similarity.sq8Stats(emb)
      Similarity.knnHammingRerank(st, Similarity.binaryCodes(st, emb),
          emb, emb)
        .orderBy("query_id", "rank")
    },
      KnnHammingRerankSql),
    // rerank honesty: recall@k the shortlist depth buys back
    Gate("knn_hamming_rerank_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val st = Similarity.sq8Stats(emb)
      Similarity.recallAtK(
        Similarity.knnHammingRerank(st, Similarity.binaryCodes(st, emb),
          emb, emb),
        Similarity.knnBruteL2Shared(emb))
    },
      recallSql(KnnBruteL2Sql, KnnHammingRerankSql)),
    // mislabel detector: the k vectors farthest from their own label's
    // centroid, exact ppm^2 integer distances
    Gate("embedding_outliers", (s, d) =>
      Similarity.embeddingOutliers(Tables.table(s, d, "embeddings"))
        .orderBy(org.apache.spark.sql.functions.col("d2").desc,
          org.apache.spark.sql.functions.col("vec_id")),
      // quantize-first centroid oracle: identical ⌊x·1e6⌋ chain, exact
      // integer sums; `//` == the operator's pmod-adjusted floor div
      {
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
      }),
    // clustering-quality audit: per-label simplified silhouette
    // (centroid form) — integer a/b distances via the labelCentroids
    // quantize-first pipeline, one ⌊(b−a)/max·1e6⌋ per vector;
    // centroids ride as literals so the corpus pass is map-only
    Gate("embedding_silhouette", (s, d) =>
      Similarity.silhouetteByLabel(Tables.table(s, d, "embeddings"))
        .orderBy("label"),
      // silhouette oracle: same quantize-first centroids (the
      // embedding_outliers CTE chain), every-label distances via the
      // dim-join (the literal-free SQL twin of the operator's literal
      // fold — integer-exact, so arithmetic shape may differ), then the
      // identical per-row divide-then-scale double chain
      "WITH v AS (SELECT vec_id, label, " +
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
    // JL dimensionality reduction: ±1 signs from the salted PolyHash
    // parity, exact integer projections — literal sign matrix, pure
    // map stage (the SQL twin derives the same matrix from the hash)
    Gate("embedding_project", (s, d) =>
      Similarity.randomProject(Tables.table(s, d, "embeddings"))
        .orderBy("vec_id", "pdim"),
      s"WITH $RpProjCte SELECT vec_id, pdim, y FROM pj"),
    // retrieval from the projected tier: exact long L2 over 16-long
    // vectors — 4x less bandwidth per comparison than full width
    Gate("knn_project", (s, d) =>
      Similarity.knnProjected(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      KnnProjSql),
    // projection honesty: recall@5 of the projected ranking vs the
    // full-width exact-L2 ranking — the number that gates serving a
    // first pass from the compressed tier
    Gate("knn_project_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnProjected(emb),
        Similarity.knnBruteL2Shared(emb))
    },
      // projection honesty: both sides SQL-derivable (the sign matrix
      // regenerates from the hash), recall vs the full-width ranking
      recallSql(KnnBruteL2Sql, KnnProjSql)),
    // matryoshka-style truncated retrieval: exact L2 over the first
    // TruncDims dims only — 4x less bandwidth per comparison
    Gate("knn_brute_l2_trunc", (s, d) =>
      Similarity.knnBruteL2Shared(Tables.table(s, d, "embeddings"),
          dims = Similarity.TruncDims)
        .orderBy("query_id", "rank"),
      KnnBruteL2TruncSql),
    // truncation honesty: recall@5 of prefix-dim retrieval against the
    // full-width ranking — the number that decides whether serving
    // from a vector prefix is acceptable for this corpus
    Gate("knn_trunc_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(
        Similarity.knnBruteL2Shared(emb, dims = Similarity.TruncDims),
        Similarity.knnBruteL2Shared(emb))
    },
      recallSql(KnnBruteL2Sql, KnnBruteL2TruncSql)),
    // PQ serving: ADC top-k — per-query LUTs over the codebook, each
    // candidate scored by `blocks` table lookups; map-only corpus pass
    Gate("knn_pq", (s, d) =>
      Similarity.knnPq(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      KnnPqSql),
    // PQ honesty: recall@5 of ADC against the exact-L2 ranking (the
    // metric PQ actually approximates) — one hash-checked row
    Gate("knn_pq_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnPq(emb), Similarity.knnBruteL2Shared(emb))
    },
      // PQ honesty: both sides SQL-derivable (hash-anchored codebook),
      // recall measured against the exact-L2 ranking ADC approximates
      recallSql(KnnBruteL2Sql, KnnPqSql)),
    // ORACLED since the exact-Lloyd training rewrite: per-block
    // codebooks are ppm-integer fits DuckDB replays round for round;
    // the recall improvement over the hash-anchored layout stays
    // pinned in ExtensionsSpec
    Gate("knn_pq_trained", (s, d) =>
      Similarity.knnPqTrained(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      // the trained-quantizer family, hash-checked since the exact-Lloyd
      // rewrite: training is the lloydStep arithmetic (all-integer ppm),
      // so DuckDB unrolls the rounds and reproduces the fitted values
      // bit-for-bit. The stored/coded/pruned siblings share their
      // trainer gate's SQL — each equality is a spec-pinned byte law
      KnnPqTrainedSql),
    // the PQ twin of knn_ivf_centroids: the fitted per-block codebook
    // ARTIFACT hash-checked directly, per (block, code, dim) in
    // floored micro-units
    Gate("knn_pq_codebooks", (s, d) => {
      import org.apache.spark.sql.functions.{col, floor, lit, posexplode}
      Similarity.codebooksOf(Tables.table(s, d, "embeddings"))
        .select(col("block"), col("code"),
          posexplode(col("codeword")).as(Seq("dim", "x")))
        .select(col("block"), col("code"),
          col("dim").cast("long").as("dim"),
          floor(col("x") * lit(1000000.0)).cast("long").as("c_fp"))
        .orderBy("block", "code", "dim")
    },
      // the PQ codebook artifact: the trained chain's cb relation
      // exploded to floored micro-units per coordinate
      "WITH e AS (SELECT vec_id, embedding FROM embeddings), " +
        "ch AS (SELECT e.*, row_number() OVER (ORDER BY " +
        phSql("CAST(vec_id AS VARCHAR)") + ", vec_id) AS crn FROM e), " +
        PqTrainedCtes + ", " +
        "cbx AS (SELECT block, code, " +
        "unnest(generate_series(1, len(cw))) AS i, cw FROM cb) " +
        "SELECT block, code, CAST(i - 1 AS BIGINT) AS dim, " +
        "CAST(floor(cw[i] * 1000000.0) AS BIGINT) AS c_fp FROM cbx"),
    // the train-once/serve-many form of the trained-PQ path: fitted
    // per-block codebooks round-trip disk as a relation (codebooksOf →
    // parquet → knnPqFromStored) INSIDE the query — the store/reload/
    // fingerprint machinery is what this gate drives. ORACLED with
    // knn_pq_trained's SQL: the stored serve is byte-identical to
    // in-session training (the round-trip law ExtensionsSpec pins)
    Gate("knn_pq_stored", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val dir = storedDirLazy(d, "pq_cbs", emb, pqCbParams)(
        Similarity.codebooksOf(emb))()
      Similarity.knnPqFromStored(s.read.parquet(dir), emb)
        .orderBy("query_id", "rank")
    },
      KnnPqTrainedSql),
    // the PAYOFF leg of the PQ train-once contract: codebooks AND the
    // encoded corpus (blocks ints per vector — the ~64× compression)
    // round-trip parquet, then the serve reads ONLY the stored codes;
    // raw embeddings appear on the tiny query side alone. ORACLED
    // with knn_pq_trained's SQL (the coded serve ≡ stored serve ≡
    // in-session law); the stale-codes loud-error contract stays
    // pinned in ExtensionsSpec
    Gate("knn_pq_codes", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val cbDir = storedDirLazy(d, "pq_cbs", emb, pqCbParams)(
        Similarity.codebooksOf(emb))()
      val cbs = s.read.parquet(cbDir)
      val codesDir = storedDirLazy(d, "pq_codes", emb, pqCbParams)(
        Similarity.pqCodesFromStored(cbs, emb))()
      Similarity.knnPqFromCodes(cbs, s.read.parquet(codesDir), emb)
        .orderBy("query_id", "rank")
    },
      KnnPqTrainedSql),
    // the FULL stored IVFPQ layout: trained centroids + codebooks +
    // the (vec_id, cell, codes) posting-list relation all round-trip
    // parquet; serving reads cells and codes only — corpus embeddings
    // are never touched. ORACLED: the trained-IVF and trained-PQ
    // CTE chains compose into one SQL twin; the probe-everything ≡
    // knnPqFromCodes law, cell pruning and both staleness stamps
    // stay pinned in ExtensionsSpec
    Gate("knn_ivf_pq_stored", (s, d) => {
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
    },
      // knn_ivf_pq_stored oracle — the trained-IVF chain (cells, probes)
      // composed with the trained-PQ chain (codes, LUTs): ADC scoring
      // restricted to each query's probed cells, exactly
      // `knnIvfPqFromStored` (whose store/reload serve is byte-identical
      // to the in-session composition — spec-pinned).
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
        s"adc_fp FROM r WHERE rnk <= ${Similarity.DefaultK}"),
    // IVF×SQ8: the remaining cell of the FAISS index matrix — cells
    // prune candidates, SQ8 reconstruction scores them with exact L2;
    // both layers hash-anchored/grid-exact so the gate is ORACLED
    Gate("knn_ivf_sq8", (s, d) =>
      Similarity.knnIvfSq8(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      KnnIvfSq8Sql),
    // IVF×SQ8 honesty: recall@5 vs exact L2 — prices cell misses and
    // quantization error together
    Gate("knn_ivf_sq8_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnIvfSq8(emb),
        Similarity.knnBruteL2Shared(emb))
    },
      recallSql(KnnBruteL2Sql, KnnIvfSq8Sql)),
    // IVFPQ: the production composition — IVF cells prune the search,
    // PQ codes compress the candidates to LUT lookups; both quantizers
    // hash-anchored so the WHOLE layout is oracle-checked end to end
    Gate("knn_ivf_pq", (s, d) =>
      Similarity.knnIvfPq(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      KnnIvfPqSql),
    // IVFPQ honesty: recall@5 vs exact L2 — prices BOTH prunings
    // (probed-cells misses + quantization misses) in one row
    Gate("knn_ivf_pq_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnIvfPq(emb),
        Similarity.knnBruteL2Shared(emb))
    },
      recallSql(KnnBruteL2Sql, KnnIvfPqSql)),
    Gate("embedding_neardup", (s, d) =>
      Similarity.nearDupPairs(Tables.table(s, d, "embeddings"))
        .orderBy("vec_a", "vec_b"),
      EmbNearDupSql),
    // the threshold-tuning curve BEHIND embedding_neardup's 0.30 cut:
    // all candidate-pair cosines binned at 0.1 with cumulative ≥-bin
    // counts — pick the threshold from this, not blind
    Gate("embedding_threshold_curve", (s, d) =>
      Similarity.cosineHistogram(Tables.table(s, d, "embeddings"))
        .orderBy("bin"),
      // the shared unthresholded candidate core binned at 2/bins width;
      // NaN excluded on both engines (isnan here, !isnan in Spark)
      {
        val bins = Similarity.CosineHistBins
        s"WITH p AS (SELECT cosine FROM ($EmbCandCosSql) cc " +
          "WHERE NOT isnan(cosine)), " +
          s"b AS (SELECT LEAST(${bins - 1}, CAST(FLOOR((cosine + 1.0) * " +
          s"${bins / 2.0}) AS BIGINT)) AS bin FROM p), " +
          "g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM b " +
          "GROUP BY bin) " +
          "SELECT bin, n_pairs, CAST(SUM(n_pairs) OVER (ORDER BY bin DESC " +
          "ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_ge FROM g"
      }),
    // the vector twin of dedup_incremental_keys: odd vectors admitted
    // iff none of their hyperplane-LSH bands (at the PINNED width —
    // stored keys cannot re-widen with corpus growth) appear on an
    // even vector or an earlier odd one; candidate-level, corpus
    // embeddings never read
    Gate("embedding_incremental", (s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.table(s, d, "embeddings")
      Similarity.nearDupIncrementalVec(
          Similarity.vecBandKeysOf(
            emb.filter(col("vec_id") % 2 === 0), Similarity.LshBandBits),
          emb.filter(col("vec_id") % 2 === 1), Similarity.LshBandBits)
        .orderBy("vec_id")
    },
      {
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
      }),
    // the corpus-scale form: band collisions only NOMINATE; an exact
    // cosine >= 0.30 against the candidate confirms the rejection —
    // corpus embeddings are read for collided ids only
    Gate("embedding_incremental_verified", (s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.table(s, d, "embeddings")
      Similarity.nearDupIncrementalVecVerified(
          Similarity.vecBandKeysOf(
            emb.filter(col("vec_id") % 2 === 0), Similarity.LshBandBits),
          emb.filter(col("vec_id") % 2 === 0),
          emb.filter(col("vec_id") % 2 === 1), Similarity.LshBandBits)
        .orderBy("vec_id")
    },
      {
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
      }),
    // vector-side end-to-end dedup: near-dup pairs → connected
    // components (star contraction) — the embedding twin of
    // dedup_clusters, composing the two operators unchanged
    Gate("embedding_clusters", (s, d) => {
      import org.apache.spark.sql.functions.col
      Dedup.dupClusters(
          Similarity.nearDupPairs(Tables.table(s, d, "embeddings"))
            .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
        .select(col("doc_id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },
      s"WITH RECURSIVE pairs AS (SELECT vec_a AS u0, vec_b AS v0 FROM " +
        s"($EmbNearDupSql) t), " +
        "sym AS (SELECT u0 AS u, v0 AS v FROM pairs " +
        "UNION ALL SELECT v0, u0 FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u) " +
        "SELECT u AS vec_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id " +
        "FROM reach GROUP BY u"),
    Gate("knn_brute", (s, d) =>
      Similarity.knnBruteShared(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      KnnBruteSql),
    Gate("knn_lsh", (s, d) =>
      Similarity.knnLsh(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      KnnLshSql),
    Gate("knn_lsh_probe", (s, d) =>
      Similarity.knnLshMultiProbe(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      {
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
      }),
    Gate("knn_ivf", (s, d) =>
      Similarity.knnIvf(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      // two-level IVF twin: fine cells = ⌊√N⌋ clamped, coarse anchors =
      // first ⌈√k⌉ of the same hash order; every argmax is a
      // (cos DESC, id ASC) row_number — bit-identical to the Scala
      // grouping + the IvfAssign2 kernel's ascending-iteration strict->
      KnnIvfSql),
    // full-corpus kNN JOIN (every vector's top-k, not a query subset) —
    // the SemDeDup-style primitive; ids-only band self-join, one exact
    // cosine per unordered candidate pair, TopKPerKey ranking
    Gate("knn_graph", (s, d) =>
      Similarity.knnGraph(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      KnnGraphSql),
    // INCREMENTAL graph maintenance — the vector-tier postingsDelta:
    // stored graph + stored band keys over 4/5 of the corpus, the
    // fifth folds in as an O(batch) delta (batch keys ⋈ stored keys,
    // candidate-only embedding fetch, top-k merge) — must hash-match
    // the ONE-SHOT pinned-width rebuild (chained ≡ one-shot, exact)
    Gate("knn_graph_incremental", (s, d) => {
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
    },
      // the incremental graph refresh is an execution detail (stored
      // graph + keys + O(batch) delta instead of a rebuild) — the
      // one-shot PINNED-WIDTH rebuild SQL gates it verbatim, the
      // text-index chained ≡ one-shot discipline on the vector tier
      knnGraphSqlFor(Similarity.DefaultK,
        pinnedBits = Similarity.LshBandBits)),
    // MMR diversity re-rank: greedy λ=0.7 marginal-relevance pass
    // over the exact top-16 shortlist — rank IS selection order;
    // after the shortlist everything is queries×cand²-sized
    Gate("knn_mmr", (s, d) =>
      Similarity.mmrRerank(Tables.table(s, d, "embeddings"),
          Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      // knn_mmr oracle — brute-L2 shortlist at MmrCandidates depth, the
      // pairwise candidate-distance relation, then DefaultK−1 greedy MMR
      // rounds unrolled: each round anti-joins the selected set, scores
      // remaining candidates by (1000−λ)·min_sel_l2 − λ·l2q, and takes
      // the (score desc, id asc) argmax. MATERIALIZED base/pair CTEs.
      {
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
      }),
    // graph-served ANN: synchronous beam search over the STORED kNN
    // graph (HNSW/DiskANN's search loop, fixed rounds so the oracle
    // unrolls it) — adjacency round-trips parquet; per round one map
    // pass over the 2-long edges + a candidate-only embedding fetch
    Gate("knn_beam", (s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.table(s, d, "embeddings")
      val gDir = storedDir(d, "beam_graph",
        Similarity.knnGraph(emb, k = Similarity.BeamGraphDegree)
          .select(col("query_id").as("src"),
            col("neighbor_id").as("dst")))
      Similarity.knnBeamShared(s.read.parquet(gDir), emb, emb)
        .orderBy("query_id", "rank")
    },
      KnnBeamSql),
    // graph-serving honesty: recall@k the beam walk reaches vs exact
    // L2 — prices entry-point bias + graph connectivity together. The
    // approx side audits the SAME stored graph the knn_beam gate
    // serves from (plan-equal knnBeamShared call → one beam build per
    // session feeds both gates)
    Gate("knn_beam_recall", (s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.table(s, d, "embeddings")
      val gDir = storedDir(d, "beam_graph",
        Similarity.knnGraph(emb, k = Similarity.BeamGraphDegree)
          .select(col("query_id").as("src"),
            col("neighbor_id").as("dst")))
      Similarity.recallAtK(
        Similarity.knnBeamShared(s.read.parquet(gDir), emb, emb),
        Similarity.knnBruteL2Shared(emb))
    },
      recallSql(KnnBruteL2Sql, KnnBeamSql)),
    // reciprocated-edges filter over the kNN graph — the hub-robust
    // symmetrization density clustering consumes; one self-join on
    // the persisted ids+cosine relation, nothing vector-sized moves
    Gate("knn_mutual", (s, d) =>
      Similarity.mutualKnn(Similarity.knnGraph(Tables.table(s, d, "embeddings")))
        .orderBy("vec_a", "vec_b"),
      // reciprocated pairs of the shared KnnGraphSql relation, canonical
      // lo<hi; cosine from side a (bit-equal both ways — the graph
      // scores each unordered pair once and mirrors)
      s"WITH g AS (SELECT * FROM ($KnnGraphSql) t) " +
        "SELECT a.query_id AS vec_a, a.neighbor_id AS vec_b, " +
        "a.cosine AS cosine FROM g a JOIN g b " +
        "ON b.query_id = a.neighbor_id AND b.neighbor_id = a.query_id " +
        "WHERE a.query_id < a.neighbor_id"),
    // ANN HONESTY as a gate: recall@5 of the hash-anchored IVF index
    // against the exact brute-force ranking, one row — an index change
    // that keeps row counts stable while serving WORSE neighbors now
    // fails the hash compare instead of shipping silently (row-count
    // checks can't see neighbor quality). Fully oracled: both sides
    // are SQL-derivable, unlike the Lloyd-trained family
    Gate("knn_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnIvf(emb), Similarity.knnBruteShared(emb))
    },
      // recall@5 of the IVF / LSH rankings against the brute-force one:
      // every component ranking is the exact oracle SQL of its own gate
      // (the shared KnnBruteSql/KnnIvfSql/KnnLshSql vals, so the gates
      // cannot drift), composed through the one recallSql shape
      recallSql(KnnBruteSql, KnnIvfSql)),
    // the banded-LSH index under the same honesty gate
    Gate("knn_recall_lsh", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnLsh(emb), Similarity.knnBruteShared(emb))
    },
      recallSql(KnnBruteSql, KnnLshSql)),
    // the FILTERED serving path priced against its exact filtered twin
    // — recall loss from cell pruning under a metadata predicate
    Gate("knn_filtered_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val docs = Tables.table(s, d, "documents")
      val pred = org.apache.spark.sql.functions.col("lang") === "en"
      Similarity.recallAtK(Similarity.knnIvfFiltered(emb, docs, pred),
        Similarity.knnFiltered(emb, docs, pred))
    },
      recallSql(KnnFilteredSql, KnnIvfFilteredSql)),
    // the kNN GRAPH under the honesty gate: recall@5 against the
    // ALL-QUERIES brute ranking (every vector is a query — N² dots,
    // audit-scale by construction; at real corpus sizes this gate runs
    // on a sampled slice, the graph itself stays LSH-bounded)
    Gate("knn_graph_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnGraph(emb),
        Similarity.knnBruteShared(emb, nQueries = Long.MaxValue))
    },
      recallSql(knnBruteSqlFor("TRUE"), KnnGraphSql)),
    // ORACLED since the exact-Lloyd training rewrite: the fitted
    // centroids are ppm-integer quantities (the lloydStep arithmetic,
    // iterated), so the DuckDB twin unrolls the same rounds as CTEs
    // and lands bit-identical floats — the whole trained serving path
    // is hash-checked end to end, plus the clustered-corpus recall
    // test and rehearsal record
    Gate("knn_ivf_trained", (s, d) =>
      Similarity.knnIvfTrained(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      KnnIvfTrainedSql),
    // SPHERICAL training variant: normalize-then-quantize sample,
    // renormalized integer means — the training objective matches the
    // cosine serving metric (closes the documented L2-train gap);
    // oracled end to end like the L2-trained tier
    Gate("knn_ivf_spherical", (s, d) =>
      Similarity.knnIvfSphericalTrained(Tables.table(s, d, "embeddings"))
        .orderBy("query_id", "rank"),
      KnnIvfSphericalSql),
    // the spherically-fitted artifact, hash-checked directly
    Gate("knn_ivf_spherical_centroids", (s, d) => {
      import org.apache.spark.sql.functions.{col, floor, posexplode}
      Similarity.sphericalCentroidsOf(Tables.table(s, d, "embeddings"))
        .select(col("cent_id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("cent_id"), col("dim").cast("long").as("dim"),
          floor(col("x").cast("double") *
            org.apache.spark.sql.functions.lit(1000000.0))
            .cast("long").as("c_fp"))
        .orderBy("cent_id", "dim")
    },
      // knn_ivf_spherical_centroids oracle — the spherically-fitted
      // artifact in floored micro-units (the knn_ivf_centroids form).
      s"WITH $SphericalTrainCtes, " +
        "cx AS (SELECT cent_id, unnest(generate_series(1, len(c_emb))) " +
        "AS i, c_emb FROM cn) " +
        "SELECT cent_id, CAST(i - 1 AS BIGINT) AS dim, " +
        "CAST(floor(c_emb[i] * 1000000.0) AS BIGINT) AS c_fp FROM cx"),
    // honesty gate: recall of the spherically-trained serve vs the
    // exact ranking — priced next to the L2-trained tier's
    Gate("knn_ivf_spherical_recall", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.recallAtK(Similarity.knnIvfSphericalTrained(emb),
        Similarity.knnBruteShared(emb))
    },
      recallSql(KnnBruteSql, KnnIvfSphericalSql)),
    // the train-once/serve-many form: fitted centroids round-trip disk
    // as a relation (centroidsOf → parquet → knnIvfFromStored) INSIDE
    // the query — the store/reload/fingerprint machinery is what this
    // gate drives. ORACLED with knn_ivf_trained's SQL: the stored
    // serve is byte-identical to in-session training (the round-trip
    // law ExtensionsSpec pins), so the same oracle covers both
    Gate("knn_ivf_stored", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      val dir = storedDirLazy(d, "cents", emb, ivfCentParams)(
        Similarity.centroidsOf(emb))()
      Similarity.knnIvfFromStored(s.read.parquet(dir), emb)
        .orderBy("query_id", "rank")
    },
      KnnIvfTrainedSql),
    // the INGEST leg of the same contract: every corpus vector's cell
    // under the trained index — the column a production corpus
    // persists/buckets by so serving probes become cell-pruned reads.
    // ORACLED since the exact-Lloyd training rewrite (the fitted
    // centroids are now integer-derived, so DuckDB reproduces them
    // bit-for-bit); the gate projects out the ivf_cents_fp stamp —
    // a float-BITS content hash with no SQL twin — and keeps the
    // (vec_id, cell, n2) columns the oracle can check. The stamp's
    // staleness contract stays pinned in ExtensionsSpec
    Gate("knn_ivf_assign", (s, d) => {
      val emb = Tables.table(s, d, "embeddings")
      Similarity.ivfAssignFromStored(Similarity.centroidsOf(emb), emb)
        .select("vec_id", "cell", "n2")
        .orderBy("vec_id")
    },
      // knn_ivf_assign oracle — the trained chain's `assigned` relation:
      // every corpus vector's fine cell under the fitted centroids, plus
      // the persisted norm.
      s"WITH $IvfTrainedCtes " +
        "SELECT vec_id, CAST(cell AS BIGINT) AS cell, n2 FROM assigned"),
    // the fitted TRAINING ARTIFACT as its own gate: every centroid
    // coordinate hash-checked directly (floored micro-units of the
    // float — float→double is exact, both engines floor the same
    // double), not just through the serving path that consumes it
    Gate("knn_ivf_centroids", (s, d) => {
      import org.apache.spark.sql.functions.{col, floor, posexplode}
      Similarity.centroidsOf(Tables.table(s, d, "embeddings"))
        .select(col("cent_id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("cent_id"), col("dim").cast("long").as("dim"),
          floor(col("x").cast("double") *
            org.apache.spark.sql.functions.lit(1000000.0))
            .cast("long").as("c_fp"))
        .orderBy("cent_id", "dim")
    },
      // knn_ivf_centroids oracle — the fitted training ARTIFACT itself,
      // hash-checked directly: per (cent_id, dim) the float centroid in
      // floored micro-units (float → double is exact; both engines floor
      // the same double).
      s"WITH $IvfTrainCtes, " +
        "cx AS (SELECT cent_id, unnest(generate_series(1, len(c_emb))) " +
        "AS i, c_emb FROM cn) " +
        "SELECT cent_id, CAST(i - 1 AS BIGINT) AS dim, " +
        "CAST(floor(c_emb[i] * 1000000.0) AS BIGINT) AS c_fp FROM cx"),
    // the PAYOFF leg of train-once: centroids AND the cell-stamped
    // corpus (cell + n2 persisted at ingest) round-trip parquet with
    // the corpus PARTITIONED BY cell, then the static-pruned serve
    // pushes the probed cells into the scan as a partition filter —
    // the corpus side runs NO assignment expression and READS only
    // the probed cells' files (both PlanSpec-guarded). ORACLED with
    // knn_ivf_trained's SQL (the assigned-corpus serve is
    // byte-identical to knnIvfFromStored — ExtensionsSpec pins it)
    Gate("knn_ivf_pruned", (s, d) => {
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
    },
      KnnIvfTrainedSql),
  )

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
    val mixed = s"CAST((${phSql60(cell)}) AS VARCHAR)"
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

  /** UNTHRESHOLDED LSH candidate pair cosines — the shared core of
    * EmbNearDupSql (which applies the 0.30 cut) and the
    * embedding_threshold_curve histogram (which bins everything).
    */
  private lazy val EmbCandCosSql: String = {
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

  /** embedding_neardup oracle — shared by embedding_clusters (its
    * pairs input), exactly as the ngram oracle feeds dedup_clusters.
    */
  private lazy val EmbNearDupSql: String =
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

  private lazy val KnnBruteSql: String = knnBruteSqlFor("vec_id < 10")

  /** knn_filtered oracle — knnBruteSqlFor's shape with the corpus
    * pre-restricted to lang='en' documents (the gate's predicate).
    */
  private lazy val KnnFilteredSql: String =
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
  private lazy val KnnLshSql: String = {
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

  /** knn_graph oracle — the EmbNearDupSql candidate machinery (band
    * self-join in canonical lo<hi orientation, DISTINCT) scored once
    * per pair, mirrored, then ranked per query like KnnLshSql.
    */
  private lazy val KnnGraphSql: String = knnGraphSqlFor(Similarity.DefaultK)

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

  /** knn_ivf oracle — shared by knn_recall (its approximate side).
    * Two-level IVF twin: fine cells = ⌊√N⌋ clamped, coarse anchors =
    * first ⌈√k⌉ of the same hash order; every argmax is a
    * (cos DESC, id ASC) row_number — bit-identical to the Scala
    * grouping + the IvfAssign2 kernel's ascending-iteration strict->.
    */
  private lazy val KnnIvfSql: String =
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
  private lazy val KnnIvfFilteredSql: String =
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

  /** The SPHERICAL Lloyd rounds — `lloydRoundsCtes` with the renorm
    * m-step: integer truncating mean `q`, per-centroid norm
    * `sqrt(Σ q²)` (q² ≤ 10¹², 64-dim sums < 2⁵³ → the double sum is
    * exact in any order), then `⌊q/‖q‖·1e6⌋` per element — the same
    * IEEE divide-multiply-floor chain `lloydPpm`'s `unitPpm` m-step
    * executes.
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

  /** The SPHERICAL trained-IVF training prefix —
    * `trainCentroids(spherical = true)` unrolled: the sample is
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
}
