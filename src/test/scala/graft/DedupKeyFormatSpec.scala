package graft

/** The persisted dedup key formats are pinned to literal rows: the
  * near-dup band keys `StreamDedup.bandKeysOf` exports and the content
  * keys `StreamDedup.exactKeysOf` exports. Stored keys from an earlier
  * build must keep matching fresh ones, so any change to the shingle
  * hash, the MinHash parameters, the band text or the content-key
  * triple shows here as a changed literal. Two documents: one with
  * shingles, and one too short to shingle (its bands are "uniq:<id>").
  */
class DedupKeyFormatSpec extends SparkSpec {

  private def docs = {
    val s = spark
    import s.implicits._
    Seq((1L, "the quick brown fox jumps over the lazy dog"), (2L, "hello"))
      .toDF("doc_id", "text")
  }

  private val Fp = -8708493356223397548L

  test("bandKeysOf writes the pinned band_idx, band_sig and lsh_params_fp rows") {
    val keys = graft.streaming.StreamDedup.bandKeysOf(docs)
    assert(keys.schema.simpleString ===
      "struct<doc_id:bigint,band_idx:int,band_sig:string,lsh_params_fp:bigint>")
    val got = keys.orderBy("doc_id", "band_idx").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (1L, 0, "193744620,330347894,33841665,33084470", Fp),
      (1L, 1, "55072956,91083792,375770389,22818965", Fp),
      (1L, 2, "286510837,186595768,167836745,231590135", Fp),
      (1L, 3, "456145573,386690548,113104470,47722171", Fp),
      (2L, 0, "uniq:2", Fp),
      (2L, 1, "uniq:2", Fp),
      (2L, 2, "uniq:2", Fp),
      (2L, 3, "uniq:2", Fp)))
  }

  test("exactKeysOf writes the pinned fingerprint, fp2 and len rows") {
    val keys = graft.streaming.StreamDedup.exactKeysOf(docs)
    assert(keys.schema.simpleString ===
      "struct<doc_id:bigint,fingerprint:bigint,fp2:bigint,len:bigint>")
    val got = keys.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (1L, 488876136L, 465914746L, 43L),
      (2L, 856916412L, 219091788L, 5L)))
  }
}
