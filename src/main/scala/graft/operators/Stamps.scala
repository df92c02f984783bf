package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Stamps on stored artifacts: one fold for the build constants a
  * stored relation's contract depends on, and one per-row guard that
  * fails a read whose stamp disagrees with what the reader expects.
  */
private[graft] object Stamps {

  /** 64-bit polynomial fold (×31 from a fixed seed) over the
    * `|`-joined canonical constant string. Pure driver arithmetic,
    * stable across JVMs. Stored relations carry these values, so the
    * fold and every canonical string are frozen (`AnnIndexSpec` pins
    * each fingerprint).
    */
  def paramsFingerprint(parts: Any*): Long =
    parts.mkString("|").foldLeft(1125899906842597L)((h, c) => h * 31L + c.toLong)

  /** `value` when the row's `stampCol` equals `expected`, else the read
    * fails with "graft: row stamped <stampCol>=<found>, expected
    * <expected> — <hint>". It rides the consuming scan as one long
    * compare per row read, so it adds no job. Wrap a column no scan
    * filter rides on: a partition or pushdown column must stay raw, or
    * its pruning is lost.
    */
  def stampGuard(value: Column, stampCol: String, expected: Long,
      hint: String): Column =
    when(col(stampCol) === lit(expected), value)
      .otherwise(raise_error(format_string(
        s"graft: row stamped $stampCol=%s, expected $expected — $hint",
        col(stampCol))))
}
