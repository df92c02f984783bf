package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String

/** Deterministic polynomial rolling hash over a string's Unicode code
  * points: `h = (h * 131 + codepoint) mod 1e9+7`, h0 = 0.
  *
  * This is the engine's shared fingerprint primitive — document
  * fingerprinting, MinHash shingle hashing and SimHash token hashing all
  * build on it. It is a native Catalyst `Expression` WITH `doGenCode`, so
  * it stays inside whole-stage codegen (a Scala UDF here would break the
  * codegen span on the hot path of every dedup query).
  *
  * The exact arithmetic is chosen to be reproducible in ANSI-ish SQL
  * (DuckDB oracle: `list_reduce(list_prepend(0, list_transform(
  * split(s,''), c -> unicode(c))), (a,x) -> (a*131+x) % 1000000007)`),
  * which is what makes the dedup family hash-checkable end-to-end.
  */
object PolyHashUtil {
  val Mod: Long = 1000000007L
  val Mult: Long = 131L

  /** Second independent parameter pair — combined with the primary
    * hash (and length), collision probability per pair drops from
    * ~1e-9 (a REAL problem at 10^9 documents: birthday bound ~4·10^4)
    * to ~1e-18.
    */
  val Mod2: Long = 998244353L
  val Mult2: Long = 257L

  def hash(s: UTF8String): Long = hash(s, Mult, Mod)

  /** The 60-bit dual hash `hash(s) · Mod2 + hash(s, Mult2, Mod2)` —
    * the driver-side value of `PolyHashFunctions.poly_hash60`.
    */
  def hash60(s: UTF8String): Long = hash(s) * Mod2 + hash(s, Mult2, Mod2)

  def hash(s: UTF8String, mult: Long, mod: Long): Long = {
    val str = s.toString
    var h = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      h = (h * mult + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }
}

case class PolyHash(child: Expression,
    mult: Long = PolyHashUtil.Mult, mod: Long = PolyHashUtil.Mod)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"poly_hash requires a string argument, got ${child.dataType}")

  override protected def nullSafeEval(input: Any): Any =
    PolyHashUtil.hash(input.asInstanceOf[UTF8String], mult, mod)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.PolyHashUtil.hash($c, ${mult}L, ${mod}L)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHashFunctions {
  /** Column API: poly_hash(str) → long in [0, 1e9+7). */
  def poly_hash(c: Column): Column =
    ColumnBridge.column(PolyHash(ColumnBridge.expression(c)))

  /** Secondary hash (independent constants) for double-hash keys. */
  def poly_hash2(c: Column): Column =
    ColumnBridge.column(PolyHash(ColumnBridge.expression(c),
      PolyHashUtil.Mult2, PolyHashUtil.Mod2))

  /** The 60-bit dual hash `poly_hash(c) · Mod2 + poly_hash2(c)`
    * (< 2^60): the HLL sketches' item hash, and the pre-mix the
    * profile and active-user sketches apply to short renderings
    * before they are hashed again.
    */
  def poly_hash60(c: Column): Column =
    poly_hash(c) * lit(PolyHashUtil.Mod2) + poly_hash2(c)

  /** The repo's RNG-free sample: the `n` rows of `df` with the smallest
    * `(poly_hash(id), id)`, in that order. Spark plans it as
    * TakeOrdered (a per-partition top-n plus a driver merge, never a
    * global sort), and the oracles state it as one `ORDER BY ... LIMIT`,
    * so IVF centroids, PQ codebooks, Lloyd samples, beam entries,
    * sampled BFS sources and the quality-model sample are reproduced
    * exactly in SQL.
    */
  def hashPrefix(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.withColumn("__hash_prefix", poly_hash(col(idCol).cast("string")))
      .orderBy(col("__hash_prefix"), col(idCol))
      .limit(n)
      .drop("__hash_prefix")
}
