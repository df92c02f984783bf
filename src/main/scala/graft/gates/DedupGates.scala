package graft
package gates

import graft.operators.{Dedup, TextOps}
import graft.sources.Tables
import GateSql._

/** Corpus deduplication over `documents`: exact, span, n-gram, fuzzy,
  * SimHash and MinHash near-duplicates, their clusters and survivors,
  * and the incremental (streaming) admission twins.
  */
object DedupGates {

  val gates: Seq[Gate] = Seq(
    Gate("dedup_exact", (s, d) =>
      Dedup.exact(Tables.table(s, d, "documents")).orderBy("doc_id"),
      s"SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, fingerprint, " +
        "CAST(COUNT(*) AS BIGINT) AS n_copies FROM " +
        s"(SELECT doc_id, CAST(${phSql("text")} AS BIGINT) AS fingerprint, " +
        s"CAST(${phSql2("text")} AS BIGINT) AS fp2, length(text) AS len FROM documents) " +
        "GROUP BY fingerprint, fp2, len"),
    Gate("dedup_spans", (s, d) =>
      Dedup.repeatedSpans(Tables.table(s, d, "documents")).orderBy("doc_id"),
      // repeated-substring spans: the oracle hashes each k-char window
      // DIRECTLY (substr + the phSql fold) — the Spark side's ROLLING
      // hash must land on the identical mod-p values; span stats via the
      // same sorted-positions arithmetic (first window k, later windows
      // min(k, gap); new span iff gap > k)
      {
        val k = graft.operators.Dedup.SpanGramChars
        s"WITH g AS (SELECT doc_id, i - 1 AS pos, " +
          s"${phSql60(s"substr(text, i::INT, $k)")} AS h " +
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
      }),
    Gate("dedup_spans_clean", (s, d) =>
      Dedup.spansRemoved(Tables.table(s, d, "documents")).orderBy("doc_id"),
      // the APPLY step: same hit-position pipeline, then spans cut out
      // of the text; list_zip yields unnamed structs — index numerically
      {
        val k = graft.operators.Dedup.SpanGramChars
        s"WITH g AS (SELECT doc_id, i - 1 AS pos, " +
          s"${phSql60(s"substr(text, i::INT, $k)")} AS h " +
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
      }),
    Gate("dedup_spans_keepone", (s, d) =>
      Dedup.spansRemovedKeepOne(Tables.table(s, d, "documents"))
        .orderBy("doc_id"),
      // keep-one-survivor variant: rn = 1 within each repeated hash
      // (ordered by doc_id, pos) is the canonical owner and is NOT cut;
      // only rn > 1 occurrences feed the span arithmetic
      {
        val k = graft.operators.Dedup.SpanGramChars
        s"WITH g AS (SELECT doc_id, i - 1 AS pos, " +
          s"${phSql60(s"substr(text, i::INT, $k)")} AS h " +
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
      }),
    Gate("dedup_ngram", (s, d) =>
      Dedup.ngramJaccard(Tables.table(s, d, "documents")).orderBy("doc_a", "doc_b"),
      NgramPairsSql),
    // edit-distance fuzzy matching: PassJoin aligned-segment blocking
    // over 24-char normalized keys, levenshtein ≤ 2 verify on
    // bucket-mates only — typo-class dups the shingle family misses
    Gate("dedup_fuzzy", (s, d) =>
      Dedup.fuzzyPairs(Tables.table(s, d, "documents"))
        .orderBy("id_a", "id_b"),
      // the same normalized key, aligned-segment candidates, and
      // levenshtein verify — constants from Dedup
      FuzzyPairsSql),
    // entity resolution closed out: connected components over the
    // fuzzy pairs through the SAME star-contraction machinery every
    // other dedup family resolves with
    Gate("dedup_fuzzy_clusters", (s, d) => {
      import org.apache.spark.sql.functions.col
      Dedup.dupClusters(Dedup.fuzzyPairs(Tables.table(s, d, "documents"))
          .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")))
        .orderBy("doc_id")
    },
      // connected components over the fuzzy pairs — the same recursive
      // closure the dedup_clusters oracle runs over the ngram pairs
      "WITH RECURSIVE pairs AS (SELECT id_a AS doc_a, id_b AS doc_b " +
        s"FROM ($FuzzyPairsSql) t), " +
        "sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u) " +
        "SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id " +
        "FROM reach GROUP BY u"),
    Gate("dedup_simhash", (s, d) =>
      Dedup.simhashPairs(Tables.table(s, d, "documents")).orderBy("doc_a", "doc_b"),
      {
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
      }),
    Gate("dedup_minhash", (s, d) =>
      Dedup.minhashLsh(Tables.table(s, d, "documents")).orderBy("doc_a", "doc_b"),
      s"WITH $HsCte, $MinhashCtes $MinhashPairsSelect"),
    // data-governance view: ngram near-dup pairs rolled up by
    // canonically-ordered source pair — which sources leak into which
    Gate("dedup_cross_source", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      Dedup.pairSourceMatrix(Dedup.ngramJaccard(docs), docs)
        .orderBy("source_a", "source_b")
    },
      // the shared NgramPairsSql joined to each side's source;
      // LEAST/GREATEST canonicalization matches the operator's
      s"WITH p AS (SELECT doc_a, doc_b FROM ($NgramPairsSql) t) " +
        "SELECT LEAST(sa.source, sb.source) AS source_a, " +
        "GREATEST(sa.source, sb.source) AS source_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_pairs " +
        "FROM p JOIN documents sa ON sa.doc_id = p.doc_a " +
        "JOIN documents sb ON sb.doc_id = p.doc_b " +
        "GROUP BY 1, 2"),
    // the same governance matrix at HOST granularity — which domains
    // syndicate which (cross-host near-dups are the boilerplate /
    // content-syndication signal a crawl budget acts on); hosts from
    // the normalized messy-URL fixture, pairs from the shared
    // ngram-Jaccard relation
    Gate("dedup_cross_domain", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = TextOps.withFixtureUrl(Tables.table(s, d, "documents"))
        .withColumn("host", TextOps.urlHost(col("url")))
      Dedup.pairSourceMatrix(Dedup.ngramJaccard(docs), docs,
          srcCol = "host")
        .withColumnRenamed("source_a", "host_a")
        .withColumnRenamed("source_b", "host_b")
        .orderBy("host_a", "host_b")
    },
      s"WITH $DomainHostCtes, " +
        s"p AS (SELECT doc_a, doc_b FROM ($NgramPairsSql) t) " +
        "SELECT LEAST(ha.host, hb.host) AS host_a, " +
        "GREATEST(ha.host, hb.host) AS host_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_pairs " +
        "FROM p JOIN h ha ON ha.doc_id = p.doc_a " +
        "JOIN h hb ON hb.doc_id = p.doc_b " +
        "GROUP BY 1, 2"),
    Gate("dedup_clusters", (s, d) =>
      Dedup.defaultClusters(Tables.table(s, d, "documents"))
        .orderBy("doc_id"),
      "WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM " +
        s"($NgramPairsSql) t), " +
        "sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs " +
        "UNION ALL SELECT doc_b, doc_a FROM pairs), " +
        "reach(u, v) AS (SELECT u, v FROM sym " +
        "UNION SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u) " +
        "SELECT u AS doc_id, CAST(LEAST(u, MIN(v)) AS BIGINT) AS cluster_id " +
        "FROM reach GROUP BY u"),
    Gate("dedup_survivors", (s, d) =>
      Dedup.survivors(Tables.table(s, d, "documents"))
        .select("doc_id").orderBy("doc_id"),
      s"WITH RECURSIVE " +
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
    // QUALITY-aware survivor policy over the same ngram-Jaccard
    // clustering the dedup_clusters gate uses: per cluster keep the
    // argmax-quality member (tie → min doc_id), singletons survive —
    // "keep the BEST copy", scored by the text_quality signal
    Gate("dedup_survivors_best", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      Dedup.survivorsBest(docs,
          Dedup.defaultClusters(docs),
          TextOps.qualityShared(docs))
        .select("doc_id").orderBy("doc_id")
    },
      // the dedup_clusters labelling joined with the text_quality score
      // (QualitySqlExpr — same float op order), winner per cluster by
      // (quality DESC, doc_id ASC), everyone else in the labelling loses
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
        "losers AS (SELECT doc_id FROM w WHERE rn > 1) " +
        "SELECT doc_id FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM losers)"),
    // the streaming near-dup filter's batch twin, with arrival order =
    // doc_id — survivors share no LSH band with any earlier doc
    Gate("dedup_stream_neardup", (s, d) =>
      graft.streaming.StreamDedup.nearDupArrivalBatch(
        Tables.table(s, d, "documents"), "doc_id").orderBy("doc_id"),
      // survivors = docs that are nobody's later band-mate: cand already
      // holds every (earlier, later) band collision as (doc_a < doc_b);
      // shingle-less docs never enter banded, so they always survive
      s"WITH $HsCte, $MinhashCtes " +
        "SELECT doc_id FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_b FROM cand)"),
    // incremental admission: even doc_ids play the ingested corpus,
    // odd ones the fresh batch — the split deliberately interleaves
    // ids so corpus-before-fresh is decided by the epoch, not id order
    Gate("dedup_incremental", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      graft.streaming.StreamDedup.nearDupIncremental(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    },
      // fresh (odd) docs surviving the two-epoch first-claimant
      // election: eliminated iff any band is shared with a doc earlier
      // by (epoch, doc_id); corpus (even) docs are not returned
      s"WITH $HsCte, " +
        minhashCtesEarlier(
          "a.doc_id % 2 < b.doc_id % 2 OR " +
            "(a.doc_id % 2 = b.doc_id % 2 AND a.doc_id < b.doc_id)") + " " +
        "SELECT doc_id FROM documents WHERE doc_id % 2 = 1 " +
        "AND doc_id NOT IN (SELECT doc_b FROM cand)"),
    // the 100 TB deployment form: the corpus enters as its STORED
    // (doc_id, band_idx, band_sig) relation (bandKeysOf at ingest),
    // so admission scans only the fresh batch's text — must be
    // hash-identical to dedup_incremental, whose oracle it shares
    Gate("dedup_incremental_keys", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      graft.streaming.StreamDedup.nearDupIncrementalKeys(
          graft.streaming.StreamDedup.bandKeysOf(
            docs.filter(col("doc_id") % 2 === 0)),
          docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    },
      // the keys path is an execution detail (stored corpus band keys
      // instead of corpus text) — same election, same oracle
      s"WITH $HsCte, " +
        minhashCtesEarlier(
          "a.doc_id % 2 < b.doc_id % 2 OR " +
            "(a.doc_id % 2 = b.doc_id % 2 AND a.doc_id < b.doc_id)") + " " +
        "SELECT doc_id FROM documents WHERE doc_id % 2 = 1 " +
        "AND doc_id NOT IN (SELECT doc_b FROM cand)"),
    // the EXACT twin of dedup_incremental_keys: admission against the
    // stored 24-byte content-key relation (exactKeysOf at ingest) —
    // fresh odd docs admitted iff their triple matches no even doc's,
    // min-doc_id claimant per in-batch duplicate group
    Gate("dedup_incremental_exact", (s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.table(s, d, "documents")
      graft.streaming.StreamDedup.exactIncrementalKeys(
          graft.streaming.StreamDedup.exactKeysOf(
            docs.filter(col("doc_id") % 2 === 0)),
          docs.filter(col("doc_id") % 2 === 1))
        .orderBy("doc_id")
    },
      s"WITH k AS (SELECT doc_id, CAST(${phSql("text")} AS BIGINT) AS fingerprint, " +
        s"CAST(${phSql2("text")} AS BIGINT) AS fp2, " +
        "CAST(length(text) AS BIGINT) AS len FROM documents), " +
        "c AS (SELECT fingerprint, fp2, len FROM k WHERE doc_id % 2 = 0), " +
        "f AS (SELECT * FROM k WHERE doc_id % 2 = 1) " +
        "SELECT CAST(MIN(f.doc_id) AS BIGINT) AS doc_id FROM f " +
        "WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.fingerprint = f.fingerprint " +
        "AND c.fp2 = f.fp2 AND c.len = f.len) " +
        "GROUP BY f.fingerprint, f.fp2, f.len"),
    // asymmetric containment over docs AUGMENTED with deterministic
    // excerpts (first 160 chars of every 10th doc as a new doc) — the
    // quote/wrapper relation symmetric Jaccard is blind to, provably
    // fired and hash-compared like text_pii's synthetic PII
    Gate("dedup_containment", (s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.table(s, d, "documents")
        .select(col("doc_id"), col("text"))
      val aug = docs.unionByName(
        docs.filter(col("doc_id") % 10 === 0).select(
          (col("doc_id") + 10000000L).as("doc_id"),
          substring(col("text"), 1, 160).as("text")))
      Dedup.containmentPairs(aug).orderBy("doc_id", "container_id")
    },
      // containment oracle: the docKnn candidate/verify machinery over
      // the excerpt-augmented corpus, both directions scored from one
      // intersection, per-direction threshold
      {
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
      }),
  )

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

  /** MinHash-LSH CTE chain (expects an `hs` CTE in scope) + the
    * verified-pairs SELECT over it — shared by dedup_minhash and the
    * end-to-end dedup_survivors oracle.
    */
  private lazy val MinhashCtes: String = minhashCtesEarlier("a.doc_id < b.doc_id")

  private lazy val MinhashPairsSelect: String =
    "SELECT c.doc_a, c.doc_b, " +
      "CAST(len(list_intersect(ha.hs, hb.hs)) AS BIGINT) AS shared, " +
      "CAST(len(ha.hs) AS BIGINT) AS na, CAST(len(hb.hs) AS BIGINT) AS nb " +
      "FROM cand c JOIN nz ha ON ha.doc_id = c.doc_a " +
      "JOIN nz hb ON hb.doc_id = c.doc_b " +
      "WHERE len(list_intersect(ha.hs, hb.hs)) * 5 >= " +
      "(len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) * 4"

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
}
