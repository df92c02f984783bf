package graft
package gates

import org.apache.spark.sql.DataFrame
import graft.operators.{Snapshot, TextOps}
import graft.sources.Tables
import GateSql._
import SparkEntry.storedDir

/** Table maintenance over `documents`: manifest, profiling and
  * expectations, merge/diff/SCD2 snapshots, vacuum, point-in-time reads
  * and the end-to-end curation pipeline.
  */
object DocsGates {

  /** Probe version for the `docs_pit` gate — sits strictly between
    * the fixture's rev1 upserts (version 1) and its tombstones
    * (version 2), so the slice shows upserts applied but deletes not
    * yet.
    */
  val PitVersion = 1L

  val gates: Seq[Gate] = Seq(
    // the END-TO-END curation pipeline as ONE query: best-copy dedup
    // survivors → quality-weighted sampling → leakage-free split —
    // each stage the already-gated operator, composed unchanged (the
    // cluster relation is built once and feeds both the survivor
    // election and the split)
    // the dataset card over the curated corpus: per (source, split)
    // doc/token totals + keep-rate evidence — one extra aggregation
    // over the curated ids
    Gate("docs_manifest", (s, d) =>
      TextOps.datasetManifest(Tables.table(s, d, "documents"))
        .orderBy("source", "split"),
      // one governance pass over the curated ids: the whole curation
      // oracle rides as a derived table, joined back to documents for
      // source and token counts
      "SELECT d.source, c.split, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(len(regexp_extract_all(d.text, '\\S+'))) AS BIGINT) " +
        "AS total_tokens, " +
        "CAST(SUM(c.keep_ppm) AS BIGINT) AS sum_keep_ppm, " +
        "CAST(SUM(c.keep_ppm) // COUNT(*) AS BIGINT) AS mean_keep_ppm " +
        s"FROM ($CurationSql) c JOIN documents d ON d.doc_id = c.doc_id " +
        "GROUP BY 1, 2"),
    Gate("docs_curation", (s, d) =>
      // the pipeline operator with its default (build-once) clusters;
      // a session holding a precomputed cluster relation passes it
      // via `clusters` and pays zero re-clustering (identity
      // spec-pinned); the manifest gate reuses this memoized relation
      TextOps.curationShared(Tables.table(s, d, "documents"))
        .orderBy("doc_id"),
      // the dedup_survivors_best chain with the text_sample_quality and
      // text_split_leakage tails spliced on — every CTE is the shared
      // shape its standalone gate pins
      CurationSql),
    // Deequ-style column profiles — the validation pass before
    // trusting a data drop: per column n / n_null / exact n_distinct
    // / numeric min-max, one unpivot + one aggregation
    Gate("docs_profile", (s, d) =>
      operators.Profile.profile(Tables.table(s, d, "documents"))
        .orderBy("column"),
      profileSql("documents", Seq(
        "doc_id" -> Some("doc_id"), "text" -> None, "lang" -> None,
        "source" -> None, "n_chars" -> Some("n_chars")))),
    // the CONSTRAINT form of the profile: the documents admission
    // suite (key completeness/uniqueness, non-empty text, known lang,
    // consistent n_chars, source attribution) evaluated in one pass →
    // one (rule, metric_ppm, threshold_ppm, pass) row per rule
    // per-row quarantine view of the admission suite over a
    // deterministically DIRTIED fixture (clean corpus → empty gate
    // would check nothing): lang 'xx' on %97==1, n_chars+1 on %89==2,
    // empty source on %83==3, duplicated %101==5 rows — each lands in
    // exactly its own rule
    Gate("docs_violations", (s, d) => {
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
    },
      "WITH base AS (SELECT doc_id, text, " +
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
    Gate("docs_expectations", (s, d) =>
      operators.Profile.docsExpectations(Tables.table(s, d, "documents"))
        .orderBy("rule"),
      {
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
      }),
    // the bounded-state twin: per-column HLL distinct states (ncols ×
    // 512 counters shuffle instead of every distinct pair) — integer-
    // exact states, so even the sketch is hash-checked
    Gate("docs_profile_hll", (s, d) =>
      operators.Profile.profileHll(Tables.table(s, d, "documents"))
        .orderBy("column"),
      // the text_vocab_hll state machinery grouped by column name over
      // the string-rendered unpivot (long→VARCHAR renders identically
      // on both engines; doubles deliberately excluded — see profileHll)
      {
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
          s"items AS (SELECT c, CAST(${phSql60("item")} AS VARCHAR) " +
          "AS item FROM raw_items), " +
          s"h AS (SELECT c, ${phSql60("item")} AS h FROM items), " +
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
      }),
    // snapshot maintenance: latest-wins merge of a synthetic change
    // batch (rev1 text for doc_id%5==0 at version 1; tombstones for
    // doc_id%7==3 at version 2 — versions distinct so the overlap ids
    // resolve deterministically) into the current corpus — one key
    // shuffle, max_by((version, side)), winning tombstones dropped
    Gate("docs_merge", (s, d) => {
      val (cur, changes) = mergeFixture(Tables.table(s, d, "documents"))
      Snapshot.mergeLatest(cur, changes).orderBy("doc_id")
    },
      MergedSnapshotSql),
    // the refresh AUDIT: fingerprint diff of the merged snapshot
    // against the original — upserted ids report changed, tombstoned
    // ids report removed; (key, 64-bit fp) is all that shuffles
    Gate("docs_diff", (s, d) => {
      val docs = Tables.table(s, d, "documents")
      val (cur, changes) = mergeFixture(docs)
      Snapshot.snapshotDiff(docs, Snapshot.mergeLatest(cur, changes))
        .orderBy("doc_id")
    },
      // diff audits the SAME merged relation (shared MergedSnapshotSql
      // body, so the two gates cannot drift); the oracle compares text
      // directly where the operator compares PolyHash fingerprints —
      // identical verdicts absent a 1e-9 collision
      s"WITH m AS ($MergedSnapshotSql), " +
        "j AS (SELECT COALESCE(b.doc_id, a.doc_id) AS doc_id, " +
        "CASE WHEN b.doc_id IS NULL THEN 'added' " +
        "WHEN a.doc_id IS NULL THEN 'removed' " +
        "WHEN a.text <> b.text THEN 'changed' END AS change " +
        "FROM documents b FULL OUTER JOIN m a ON a.doc_id = b.doc_id) " +
        "SELECT doc_id, change FROM j WHERE change IS NOT NULL"),
    // SCD2 history over the same synthetic change stream: validity
    // intervals per (doc, version) — the point-in-time audit form;
    // one doc-keyed window, tombstones visible, is_current re-derives
    // the changelog winners
    Gate("docs_scd2", (s, d) => {
      import org.apache.spark.sql.functions.col
      val (cur, changes) = mergeFixture(Tables.table(s, d, "documents"))
      Snapshot.scd2History(cur.unionByName(changes))
        .select(col("doc_id"), col("version"), col("deleted"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("doc_id", "version")
    },
      // LEAD-window twin of Snapshot.scd2History over the same synthetic
      // change stream (the MergedSnapshotSql union without the side
      // column — SCD2 keys intervals by version alone); open intervals
      // carry the Scd2Open sentinel, is_current = open AND NOT deleted
      Scd2HistorySql),
    // INCREMENTAL SCD2: the version-0 history round-trips parquet,
    // then the v1/v2 batch folds in O(batch) — gated by the one-shot
    // docs_scd2 SQL VERBATIM (chained ≡ one-shot IS the check)
    Gate("docs_scd2_apply", (s, d) => {
      import org.apache.spark.sql.functions.col
      val (cur, changes) = mergeFixture(Tables.table(s, d, "documents"))
      val hDir = storedDir(d, "scd2_hist", Snapshot.scd2History(cur))
      Snapshot.scd2Apply(s.read.parquet(hDir), changes)
        .select(col("doc_id"), col("version"), col("deleted"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("doc_id", "version")
    },
      // the incremental-apply gate shares the ONE-SHOT history SQL
      // verbatim: chained(v0 stored, v1/v2 applied) ≡ one-shot IS the
      // check (the postingsDelta/dedup_incremental discipline)
      Scd2HistorySql),
    // retention vacuum over the SAME history: purge rows no PIT query
    // at/after the watermark can reach; open rows (incl. tombstones)
    // always survive — PIT-invariance spec-pinned
    Gate("docs_vacuum", (s, d) => {
      import org.apache.spark.sql.functions.col
      val (cur, changes) = mergeFixture(Tables.table(s, d, "documents"))
      Snapshot.scd2Vacuum(Snapshot.scd2History(cur.unionByName(changes)),
          Snapshot.VacuumRetainFrom)
        .select(col("doc_id"), col("version"), col("deleted"),
          col("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("doc_id", "version")
    },
      {
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
      }),
    // the point-in-time query SCD2 exists for: the corpus exactly as
    // it stood at PitVersion — upserts ≤ PitVersion applied, later
    // tombstones not yet; a range predicate over the history relation
    Gate("docs_pit", (s, d) => {
      import org.apache.spark.sql.functions.col
      val (cur, changes) = mergeFixture(Tables.table(s, d, "documents"))
      Snapshot.scd2History(cur.unionByName(changes))
        .filter(col("valid_from") <= PitVersion &&
          col("valid_to") > PitVersion && !col("deleted"))
        .select(col("doc_id"), col("text"), col("version"))
        .orderBy("doc_id")
    },
      // PIT oracle: the docs_scd2 union WITH text, LEAD intervals, then
      // the containment predicate at PitVersion
      {
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
      }),
  )

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

  /** docs_merge oracle — the synthetic change batch + latest-wins
    * merge as one relation; shared verbatim by docs_diff (its `after`
    * side). row_number over (version DESC, side DESC) is the SQL twin
    * of mergeLatest's max_by((version, side)) — both resolve each key
    * to the single highest (version, side) row, and the version/side
    * pairs are distinct by construction of the batch.
    */
  private lazy val MergedSnapshotSql: String =
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
}
