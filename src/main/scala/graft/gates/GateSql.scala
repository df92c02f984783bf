package graft
package gates

import graft.operators.TextOps

/** Oracle SQL fragments that more than one gate family splices. Each
  * mirrors its Spark operator exactly: every arithmetic step is
  * replicated so results are bit-identical.
  */
object GateSql {

  /** Shared SQL prelude: the derived edge relation (SURVEY.md §7.1) —
    * bag semantics, NO DISTINCT.
    */
  private[gates] lazy val EdgesCte =
    "SELECT o_custkey AS src, l_suppkey AS dst " +
      "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"

  /** Degree relation in oracle SQL — mirrors GraphOps.degrees (tagged
    * union + conditional sums).
    */
  private[gates] lazy val DegCte =
    "SELECT vertex, SUM(in_c) AS m, SUM(out_c) AS n FROM (" +
      "SELECT src AS vertex, 0 AS in_c, 1 AS out_c FROM edges " +
      "UNION ALL " +
      "SELECT dst AS vertex, 1 AS in_c, 0 AS out_c FROM edges) t " +
      "GROUP BY vertex"

  /** PolyHash of a string expression (mirrors graft.functions.PolyHash;
    * constants come FROM PolyHashUtil so they cannot drift).
    */
  // NB the empty-string guards: DuckDB's split('', '') is [''] (one
  // empty element, unicode('') = -1), not [] — without the CASE the
  // oracle would fold that phantom element and diverge from Spark on
  // empty inputs.
  private[gates] def phSql(e: String): String = {
    val m = graft.functions.PolyHashUtil.Mult
    val p = graft.functions.PolyHashUtil.Mod
    s"(CASE WHEN $e = '' THEN 0 ELSE " +
      s"list_reduce(list_prepend(0::BIGINT, list_transform(split($e, ''), " +
      s"c -> unicode(c)::BIGINT)), (a, x) -> (a * $m + x) % $p) END)"
  }

  /** Secondary PolyHash (independent constants — mirrors poly_hash2). */
  private[gates] def phSql2(e: String): String = {
    val m = graft.functions.PolyHashUtil.Mult2
    val p = graft.functions.PolyHashUtil.Mod2
    s"(CASE WHEN $e = '' THEN 0 ELSE " +
      s"list_reduce(list_prepend(0::BIGINT, list_transform(split($e, ''), " +
      s"c -> unicode(c)::BIGINT)), (a, x) -> (a * $m + x) % $p) END)"
  }

  /** The 60-bit dual PolyHash `phSql(e) · Mod2 + phSql2(e)` (mirrors
    * poly_hash60 — both folds of the same string, < 2^60, one BIGINT).
    */
  private[gates] def phSql60(e: String): String =
    s"${phSql(e)} * ${graft.functions.PolyHashUtil.Mod2} + ${phSql2(e)}"

  /** Distinct word-3-gram shingle hashes per doc (mirrors
    * Dedup.shingleHashes / minhash hs arrays) over any doc relation.
    */
  private[gates] def hsCteFor(src: String): String =
    "hs AS (SELECT doc_id, list_distinct(list_transform(" +
      "list_transform(range(1, greatest(len(t) - 1, 1)), " +
      "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]), " +
      s"s -> ${phSql("s")})) AS hs " +
      s"FROM (SELECT doc_id, regexp_extract_all(text, '\\S+') AS t FROM $src))"

  private[gates] lazy val HsCte = hsCteFor("documents")

  /** The quality-score formula in oracle SQL, over a CTE exposing
    * `nt` (tokens), `ns` (non-space chars), `st` (stopwords) — single
    * source for text_quality, text_quota and dedup_survivors_best so
    * the float op ORDER cannot drift between them (same ops in the
    * same order ⇒ bit-identical doubles ⇒ identical argmax).
    */
  private[gates] lazy val QualitySqlExpr: String =
    "LEAST(nt, 100) / 100.0 * 0.6 + st / GREATEST(nt, 1) * 0.2 + " +
      "(CASE WHEN ns / GREATEST(nt, 1) >= 3.0 AND ns / GREATEST(nt, 1) <= 8.0 " +
      "THEN 0.2 ELSE 0.0 END)"

  /** The domain-governance CTE prefix: the messy-URL fixture
    * (`TextOps.withFixtureUrl` restated) and the anchored-regex host
    * normalization (`TextOps.urlHost` restated — every pattern
    * matches at most once at position 0, so Spark replace-all and
    * DuckDB replace-first coincide). Exposes `h(doc_id, lang, text,
    * host)`.
    */
  private[gates] lazy val DomainHostCtes: String =
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
  private[gates] def profileSql(table: String,
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
  private[gates] lazy val NgramPairsSql: String =
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

  /** The shared BM25 CTE core (corpus/tok/tf/lens/stats/dfr/idf/qt —
    * no WITH prefix) used by bm25SqlFor and Bm25PrfSql.
    */
  private[gates] def bm25CoreCtes: String = {
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
  private[gates] def bm25ScoreCtes(tfSrc: String, qtRel: String,
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

  /** `postingCap` > 0 restricts scoring contributions to each token's
    * top-`cap` postings by (tf desc, doc_id asc) — the static
    * index-pruning twin of `bm25FromIndex` serving from a
    * depth-capped stored index; df stays the FULL document frequency
    * (the index stores true df on every row), so each surviving
    * posting's contribution is unchanged and a capped doc's score is
    * a partial sum of its full score.
    */
  private[gates] def bm25SqlFor(k: Int, postingCap: Long = 0L): String = {
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

  /** Recall-gate oracle shape over any (exact, approx) oracle pair:
    * LEFT JOIN the exact top-k pairs against the approximate side's,
    * reduce to one (n_queries, hits, total, recall) row. Integer
    * hits/total divide exactly in doubles → hash-comparable.
    */
  private[gates] def recallSql(exactSql: String, approxSql: String): String =
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
}
