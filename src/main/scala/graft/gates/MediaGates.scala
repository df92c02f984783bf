package graft
package gates

import org.apache.spark.sql.SparkSession
import graft.operators.{Dedup, Multimodal}
import graft.sources.Tables
import GateSql._
import SparkEntry.storedDir

/** Media over the container payloads synthesized from `documents`:
  * decode, resize, frames, audio, features, dedup and clustering.
  */
object MediaGates {

  val gates: Seq[Gate] = Seq(
    // REAL container decode, column-expression path: payloads carry
    // actual BMP/WAV/AVI byte layouts; every output field is parsed
    // back out of the bytes (substring/hex/conv little-endian reads)
    // while the oracle states expected values independently from
    // doc_id formulas — writer and parser errors cannot cancel out.
    // Rows with doc_id % 97 == 0 are truncated mid-header and must
    // surface as valid=0 sentinel rows, not errors.
    Gate("media_features", (s, d) =>
      Multimodal.mediaDecodeCols(mediaLake(s, d))
        .orderBy("doc_id"),
      // column-expression parse of real BMP/WAV/AVI headers; expected
      // values stated independently from doc_id formulas (see
      // MediaDecodeOracleSql scaladoc for the cannot-cancel argument)
      MediaDecodeOracleSql),
    // binary twin of dedup_exact: only (md5, length) shuffles, the
    // payload bytes never leave the scan stage
    Gate("media_dedup", (s, d) =>
      Multimodal.mediaDedup(
        Multimodal.mediaTable(Tables.table(s, d, "documents"))).orderBy("doc_id"),
      // md5 over the UTF-8 payload bytes: DuckDB's md5(VARCHAR) hashes
      // the string's UTF-8 encoding — byte-identical to Spark's
      // md5(encode(text, 'UTF-8')); strlen = UTF-8 byte length
      "SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id, " +
        "md5(text) AS payload_md5, " +
        "CAST(strlen(text) AS BIGINT) AS n_bytes, " +
        "CAST(COUNT(*) AS BIGINT) AS n_copies " +
        "FROM documents GROUP BY 2, 3"),
    // byte-level NEAR-dup over payloads: SimHash on hex 4-byte grams,
    // banded pairs at Hamming <= 3 — re-muxed/shifted copies surface
    Gate("media_simhash", (s, d) =>
      Multimodal.mediaSimhashPairs(
        Multimodal.mediaTable(Tables.table(s, d, "documents")))
        .orderBy("doc_a", "doc_b"),
      MediaSimhashSql),
    // byte-level near-dup CLUSTERS: the same star-contraction resolver
    // as dedup_clusters over the media pair relation
    Gate("media_clusters", (s, d) =>
      Dedup.dupClusters(Multimodal.mediaSimhashPairs(
          Multimodal.mediaTable(Tables.table(s, d, "documents"))))
        .orderBy("doc_id"),
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
        "FROM reach GROUP BY u")),
    // the same decode through the partition-iterator ByteBuffer path
    // (the codec-binding shape) — identical schema and values to
    // media_features, so both share one oracle: triple agreement
    // between two independent parsers and the formula-stated truth
    Gate("media_decode", (s, d) =>
      Multimodal.mediaDecodeBatch(s, mediaLake(s, d)).toDF()
        .orderBy("doc_id"),
      // the ByteBuffer partition-iterator parse — same schema and values
      // as media_features, so the SAME oracle: triple agreement between
      // the two independent parsers and the formula-stated truth
      MediaDecodeOracleSql),
    // resize planning over PARSED BMP headers (valid image rows only)
    Gate("media_resize", (s, d) =>
      Multimodal.resizePlan(Multimodal.mediaDecodeCols(mediaLake(s, d)))
        .orderBy("doc_id"),
      // resize planning over parsed BMP widths/heights: valid image rows
      // only (doc_id % 3 = 0, not truncated)
      "SELECT doc_id, " +
        "CAST(doc_id % 300 + 2 AS BIGINT) AS width, " +
        "CAST(doc_id % 200 + 2 AS BIGINT) AS height, " +
        "CAST(LEAST(doc_id % 300 + 2, 256) AS BIGINT) AS out_width, " +
        "CAST(GREATEST(1, ((doc_id % 200 + 2) * LEAST(doc_id % 300 + 2, 256)) " +
        "// (doc_id % 300 + 2)) AS BIGINT) AS out_height " +
        "FROM documents WHERE doc_id % 3 = 0 AND doc_id % 97 <> 0"),
    // frame sampling driven by the avih dwTotalFrames field parsed
    // from the bytes; each frame gets its byte range in the data region
    Gate("media_frames", (s, d) =>
      Multimodal.frameSample(Multimodal.mediaDecodeCols(mediaLake(s, d)))
        .orderBy("doc_id", "frame_idx"),
      // frame byte-ranges from the parsed avih dwTotalFrames: valid video
      // rows only; near-equal integer split of the data region
      "SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx, " +
        "CAST((frame_idx * dlen) // fr AS BIGINT) AS frame_start, " +
        "CAST(((frame_idx + 1) * dlen) // fr - (frame_idx * dlen) // fr " +
        "AS BIGINT) AS frame_len FROM " +
        "(SELECT doc_id, CAST(strlen(text) AS BIGINT) AS dlen, " +
        "CAST(doc_id % 5 + 1 AS BIGINT) AS fr, " +
        "unnest(range(0, doc_id % 5 + 1)) AS frame_idx " +
        "FROM documents WHERE doc_id % 3 = 2 AND doc_id % 97 <> 0)"),
    // keep/drop curation from PARSED metadata — the media twin of the
    // text quality filter (invalid first, then per-medium floors)
    Gate("media_curation", (s, d) =>
      Multimodal.mediaCuration(Multimodal.mediaDecodeCols(mediaLake(s, d)))
        .orderBy("doc_id"),
      // curation decisions restated over the decode oracle (constants
      // from Multimodal.MediaMin*; reasons are first-match)
      "SELECT doc_id, container, " +
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
    // per-container corpus rollup over decoded metadata
    Gate("media_stats", (s, d) =>
      Multimodal.mediaStats(Multimodal.mediaDecodeCols(mediaLake(s, d)))
        .orderBy("container"),
      // per-container rollup spliced over the same decode oracle
      "SELECT container, CAST(COUNT(*) AS BIGINT) AS n, " +
        "CAST(SUM(CASE WHEN valid = 1 THEN data_bytes ELSE 0 END) " +
        "AS BIGINT) AS data_bytes_total, " +
        "CAST(MAX(width) AS BIGINT) AS max_width, " +
        "CAST(MAX(height) AS BIGINT) AS max_height, " +
        "CAST(MAX(sample_rate) AS BIGINT) AS max_sample_rate, " +
        "CAST(MAX(total_frames) AS BIGINT) AS max_total_frames " +
        s"FROM ($MediaDecodeOracleSql) GROUP BY container"),
    // audio framing from the parsed WAV header: sample frames and
    // integer-exact duration per valid audio payload
    Gate("media_audio", (s, d) =>
      Multimodal.audioFrames(Multimodal.mediaDecodeCols(mediaLake(s, d)))
        .orderBy("doc_id"),
      // audio framing restated over the decode oracle: floor-div frames
      // (a trailing partial frame is not a frame), integer duration
      "SELECT doc_id, sample_rate, channels, " +
        "CAST(channels * 2 AS BIGINT) AS block_align, " +
        "CAST(data_bytes // (channels * 2) AS BIGINT) AS n_frames, " +
        "CAST((data_bytes // (channels * 2)) * 1000 // sample_rate " +
        "AS BIGINT) AS duration_ms " +
        s"FROM ($MediaDecodeOracleSql) " +
        "WHERE container = 'wav' AND valid = 1"),
  )

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
}
