package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Native vector kernels for embedding columns. Each reproduces, bit
  * for bit, the arithmetic of its composed-builtin twin (sequential
  * left-fold, per-element double casts) — so swapping them in changes
  * NOTHING semantically (same DuckDB oracle), only removes the
  * interpreted per-element lambda overhead from the hot path.
  */
object VectorExprUtil {

  private def elem(a: ArrayData, floats: Boolean, i: Int): Double =
    if (floats) a.getFloat(i).toDouble else a.getDouble(i)

  /** Σ (double)a[i] · (double)b[i], sequential — equals
    * aggregate(zip_with(a, b, x·y), 0.0, +). Iterates min length like
    * zip_with, treating the absent tail as contributing nothing (the
    * fold on zip_with's null products would poison the sum — inputs
    * here are fixed-width embeddings, so lengths always match).
    */
  def dot(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += elem(a, aF, i) * elem(b, bF, i); i += 1 }
    acc
  }

  /** Plane component r(j, i) ∈ [-0.5, 0.5): three multiply-mod-prime
    * rounds interleaved with xor-shifts over the 31-bit space — the
    * murmur-finalizer shape, downsized so every product stays < 2^62
    * (ANSI-SQL BIGINT never wraps; DuckDB errors on overflow, so a
    * 64-bit mixer is not oracle-reproducible). The xor rounds are what
    * matters: a bare LCG/Lehmer chain is affine in the index, which
    * makes plane j+1 ≈ plane j + const — measured plane-pair |cos| up
    * to 0.999 and ~13× the uniform candidate-join cost at 80k vectors;
    * this mixer matches true-random planes on both metrics.
    * Single source of truth shared by the codegen kernel, the
    * composed-Column twin (VectorFunctions.planeComponent), and the
    * oracle SQL generator (AnnGates.lshSigSql) — change all three
    * together.
    */
  val PlaneM31 = 2147483647L
  val PlaneMul1 = 1103515245L
  val PlaneMul2 = 784588716L
  val PlaneMul3 = 367579L

  def planeComponent(j: Int, i: Int): Double = {
    var h = (j * 64 + i + 1).toLong * PlaneMul1 % PlaneM31
    h ^= h >> 15
    h = h * PlaneMul2 % PlaneM31
    h ^= h >> 13
    h = h * PlaneMul3 % PlaneM31
    h.toDouble / PlaneM31 - 0.5
  }

  /** ⌊Σ ((double)a[i] − (double)b[i])² · 1e6⌋ as long, sequential —
    * equals floor(aggregate(zip_with(a, b, (x−y)²), 0.0, +) · 1e6)
    * cast long, the exact-L2 fixed-point fold every L2-ranked tier
    * uses (knnBruteL2, the Hamming rerank, the beam scorer). Iterates
    * min length like `dot` (fixed-width embeddings in practice; the
    * zip_with twin's null-padded tail would poison the sum anyway).
    */
  def l2Fp(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val t = elem(a, aF, i) - elem(b, bF, i)
      acc += t * t
      i += 1
    }
    math.floor(acc * 1000000.0).toLong
  }

  /** The SQ8 stored-codes ADC fold: reconstruct element i as
    * mn[i] + (double)code[i] · span[i] / 255.0 (token-for-token the
    * quantizeInt8/err_ppm chain) and fold the exact-L2 fixed-point sum
    * against the raw query — equals knnSq8's former
    * transform+zip_with+aggregate chain bit for bit (same per-element
    * operation order, same sequential sum).
    */
  def sq8L2Fp(q: ArrayData, qF: Boolean, cds: ArrayData,
      mn: Array[Double], span: Array[Double]): Long = {
    val n = math.min(math.min(q.numElements(), cds.numElements()),
      mn.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val recon = mn(i) + cds.getLong(i).toDouble * span(i) / 255.0
      val t = elem(q, qF, i) - recon
      acc += t * t
      i += 1
    }
    math.floor(acc * 1000000.0).toLong
  }

  /** The fused quantize→dequantize→L2 fold (`knnIvfSq8`'s inline
    * form): code = span > 0 ? min(⌊(x − mn)·255/span⌋, 255) : 0,
    * recon = mn + code·span/255.0, then the same exact-L2 fixed-point
    * sum — bit-equal to the former transform+zip_with+aggregate chain.
    */
  def sq8RtL2Fp(q: ArrayData, qF: Boolean, x: ArrayData, xF: Boolean,
      mn: Array[Double], span: Array[Double]): Long = {
    val n = math.min(math.min(q.numElements(), x.numElements()),
      mn.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val code =
        if (span(i) > 0.0)
          math.min(math.floor((elem(x, xF, i) - mn(i)) * 255.0 / span(i)),
            255.0)
        else 0.0
      val recon = mn(i) + code * span(i) / 255.0
      val t = elem(q, qF, i) - recon
      acc += t * t
      i += 1
    }
    math.floor(acc * 1000000.0).toLong
  }

  /** nPlanes-bit hyperplane signature — equals
    * VectorFunctions.lshSignature; plane components from
    * `planeComponent` above.
    */
  def lshSig(v: ArrayData, vF: Boolean, nPlanes: Int): Long = {
    val n = v.numElements()
    var sig = 0L
    var j = 0
    while (j < nPlanes) {
      var acc = 0.0
      var i = 0
      while (i < n) {
        acc += elem(v, vF, i) * planeComponent(j, i)
        i += 1
      }
      if (acc > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** IVF cell assignment: nearest centroid by cosine, ties to the lowest
  * centroid id. One tight loop per row over a small in-task centroid
  * array — the alternative (cross join with the centroid table + argmax
  * aggregate) materializes |corpus|·|centroids| wide rows through a
  * shuffle, which measured ~8× slower at 80k×256 and scales worse.
  *
  * Bit-parity with the SQL oracle's
  * `row_number() OVER (ORDER BY c_cos DESC, cent_id ASC) = 1`:
  * the cosine is the same sequential fold with per-element double
  * casts, divided by sqrt(n2)·sqrt(c_n2) in the same order; centroids
  * are iterated in ascending cent_id with a strict `>` improvement
  * test, so ties keep the lowest id.
  */
object IvfAssignUtil {

  /** Two-level IVF assignment: nearest COARSE anchor first, then
    * nearest FINE centroid within that anchor's group — O(√cells +
    * cells/√cells) dot products per row instead of O(cells), which is
    * what lets the cell count grow as √N without the assignment pass
    * becoming the bottleneck. `flat`/`cn2`/`ids` hold the fine
    * centroids REORDERED group-contiguously (ascending cent_id inside
    * a group); `groupStart`/`groupLen` index the groups, parallel to
    * the anchors in `coarseFlat`/`coarseN2` (ascending anchor id).
    * Ties at both levels: higher cosine wins, then the LOWER id
    * (ascending iteration + strict `>`), mirroring the oracle's
    * `ORDER BY cos DESC, id ASC` row_number twin.
    *
    * An anchor's group is empty only when another anchor with a
    * smaller id has the same direction — and while mathematically the
    * coarse argmax then never picks the larger-id twin, the two
    * cosines are computed through SEPARATE dot/sqrt evaluations whose
    * rounding can differ, so the twin CAN win in float arithmetic.
    * The fallback (scan all fine centroids, id tie-break) handles it,
    * and the SQL oracle mirrors it (`fcand` in the knn_ivf twin).
    */
  def assign2(v: ArrayData, vF: Boolean,
      coarseFlat: Array[Double], coarseN2: Array[Double],
      flat: Array[Double], cn2: Array[Double], ids: Array[Long],
      groupStart: Array[Int], groupLen: Array[Int]): Long = {
    val nc = coarseN2.length
    val k = ids.length
    val dim = if (k == 0) 0 else flat.length / k
    val m = math.min(v.numElements(), dim)
    var n2 = 0.0
    var i = 0
    while (i < v.numElements()) {
      val x = if (vF) v.getFloat(i).toDouble else v.getDouble(i)
      n2 += x * x
      i += 1
    }
    val sqrtN2 = math.sqrt(n2)
    var bestC = 0
    var bestCos = Double.NegativeInfinity
    var j = 0
    while (j < nc) {
      val off = j * dim
      var dot = 0.0
      i = 0
      while (i < m) {
        val x = if (vF) v.getFloat(i).toDouble else v.getDouble(i)
        dot += x * coarseFlat(off + i)
        i += 1
      }
      val cos = dot / (sqrtN2 * math.sqrt(coarseN2(j)))
      if (cos > bestCos) { bestCos = cos; bestC = j }
      j += 1
    }
    val (lo, hi) =
      if (nc > 0 && groupLen(bestC) > 0)
        (groupStart(bestC), groupStart(bestC) + groupLen(bestC))
      else (0, k)
    var best = lo
    bestCos = Double.NegativeInfinity
    j = lo
    while (j < hi) {
      val off = j * dim
      var dot = 0.0
      i = 0
      while (i < m) {
        val x = if (vF) v.getFloat(i).toDouble else v.getDouble(i)
        dot += x * flat(off + i)
        i += 1
      }
      val cos = dot / (sqrtN2 * math.sqrt(cn2(j)))
      // explicit id tie-break: inside a group ascending iteration +
      // strict `>` would suffice, but the empty-group FALLBACK scans
      // the group-contiguous layout (NOT ascending id) — the id test
      // keeps both paths equal to the oracle's ORDER BY cos DESC,
      // cent_id ASC
      if (cos > bestCos || (cos == bestCos && ids(j) < ids(best))) {
        bestCos = cos; best = j
      }
      j += 1
    }
    ids(best)
  }

  def assign(v: ArrayData, vF: Boolean, flat: Array[Double],
      cn2: Array[Double], ids: Array[Long]): Long = {
    val k = ids.length
    val dim = if (k == 0) 0 else flat.length / k
    val m = math.min(v.numElements(), dim)
    var n2 = 0.0
    var i = 0
    while (i < v.numElements()) {
      val x = if (vF) v.getFloat(i).toDouble else v.getDouble(i)
      n2 += x * x
      i += 1
    }
    val sqrtN2 = math.sqrt(n2)
    var best = 0
    var bestCos = Double.NegativeInfinity
    var j = 0
    while (j < k) {
      val off = j * dim
      var dot = 0.0
      i = 0
      while (i < m) {
        val x = if (vF) v.getFloat(i).toDouble else v.getDouble(i)
        dot += x * flat(off + i)
        i += 1
      }
      val cos = dot / (sqrtN2 * math.sqrt(cn2(j)))
      if (cos > bestCos) { bestCos = cos; best = j }
      j += 1
    }
    ids(best)
  }
}

private object VectorExprTypes {
  def isFloatArr(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  def isVec(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
}

case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
  import VectorExprTypes._
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(left.dataType) && isVec(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_d requires array<float|double>, got ${left.dataType}, ${right.dataType}")

  private def lF = isFloatArr(left.dataType)
  private def rF = isFloatArr(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorExprUtil.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lF, rF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorExprUtil.dot($a, $b, $lF, $rF)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

case class L2FixedPoint(left: Expression, right: Expression)
    extends BinaryExpression {
  import VectorExprTypes._
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(left.dataType) && isVec(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"l2_fp requires array<float|double>, got ${left.dataType}, ${right.dataType}")

  private def lF = isFloatArr(left.dataType)
  private def rF = isFloatArr(right.dataType)

  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorExprUtil.l2Fp(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], lF, rF)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.VectorExprUtil.l2Fp($a, $b, $lF, $rF)")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2FixedPoint =
    copy(left = l, right = r)
}

/** Stored-SQ8 ADC: exact-L2 fixed point of the query against the
  * grid reconstruction of a stored codes row (array<long>).
  */
case class Sq8L2FixedPoint(left: Expression, right: Expression,
    mn: Array[Double], span: Array[Double]) extends BinaryExpression {
  import VectorExprTypes._
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  private def isLongArr(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(left.dataType) && isLongArr(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq8_l2_fp requires (array<float|double>, array<bigint>), got " +
        s"${left.dataType}, ${right.dataType}")

  private def lF = isFloatArr(left.dataType)

  override protected def nullSafeEval(q: Any, cds: Any): Any =
    VectorExprUtil.sq8L2Fp(q.asInstanceOf[ArrayData],
      lF, cds.asInstanceOf[ArrayData], mn, span)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mnRef = ctx.addReferenceObj("sq8Mn", mn, "double[]")
    val spanRef = ctx.addReferenceObj("sq8Span", span, "double[]")
    defineCodeGen(ctx, ev, (q, c) =>
      s"graft.functions.VectorExprUtil.sq8L2Fp($q, $lF, $c, $mnRef, $spanRef)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Sq8L2FixedPoint =
    copy(left = l, right = r)
}

/** Fused quantize→dequantize→exact-L2 fixed point (the inline IVF×SQ8
  * form) of the query against a raw corpus embedding.
  */
case class Sq8RtL2FixedPoint(left: Expression, right: Expression,
    mn: Array[Double], span: Array[Double]) extends BinaryExpression {
  import VectorExprTypes._
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(left.dataType) && isVec(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sq8_rt_l2_fp requires array<float|double>, got " +
        s"${left.dataType}, ${right.dataType}")

  private def lF = isFloatArr(left.dataType)
  private def rF = isFloatArr(right.dataType)

  override protected def nullSafeEval(q: Any, x: Any): Any =
    VectorExprUtil.sq8RtL2Fp(q.asInstanceOf[ArrayData], lF,
      x.asInstanceOf[ArrayData], rF, mn, span)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mnRef = ctx.addReferenceObj("sq8Mn", mn, "double[]")
    val spanRef = ctx.addReferenceObj("sq8Span", span, "double[]")
    defineCodeGen(ctx, ev, (q, x) =>
      s"graft.functions.VectorExprUtil.sq8RtL2Fp($q, $lF, $x, $rF, $mnRef, $spanRef)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Sq8RtL2FixedPoint =
    copy(left = l, right = r)
}

case class HyperplaneSig(child: Expression, nPlanes: Int) extends UnaryExpression {
  import VectorExprTypes._
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"lsh_sig requires array<float|double>, got ${child.dataType}")

  private def vF = isFloatArr(child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    VectorExprUtil.lshSig(v.asInstanceOf[ArrayData], vF, nPlanes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.VectorExprUtil.lshSig($c, $vF, $nPlanes)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

case class IvfAssign(child: Expression, centsFlat: Array[Double],
    cn2: Array[Double], ids: Array[Long]) extends UnaryExpression {
  import VectorExprTypes._
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(child.dataType) && ids.nonEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"ivf_assign requires array<float|double> and >= 1 centroid")

  private def vF = isFloatArr(child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    IvfAssignUtil.assign(v.asInstanceOf[ArrayData], vF, centsFlat, cn2, ids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("ivfCents", centsFlat, "double[]")
    val cn2Ref = ctx.addReferenceObj("ivfCn2", cn2, "double[]")
    val idsRef = ctx.addReferenceObj("ivfIds", ids, "long[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.IvfAssignUtil.assign($c, $vF, $flatRef, $cn2Ref, $idsRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfAssign =
    copy(child = newChild)
}

/** Two-level (coarse→fine) IVF cell assignment — see
  * IvfAssignUtil.assign2 for the kernel contract and tie-break story.
  */
case class IvfAssign2(child: Expression,
    coarseFlat: Array[Double], coarseN2: Array[Double],
    centsFlat: Array[Double], cn2: Array[Double], ids: Array[Long],
    groupStart: Array[Int], groupLen: Array[Int]) extends UnaryExpression {
  import VectorExprTypes._
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVec(child.dataType) && ids.nonEmpty && coarseN2.nonEmpty &&
      groupStart.length == coarseN2.length &&
      groupLen.length == coarseN2.length) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "ivf_assign2 requires array<float|double>, >= 1 fine centroid, " +
        ">= 1 coarse anchor and group indexes parallel to the anchors")

  private def vF = isFloatArr(child.dataType)

  override protected def nullSafeEval(v: Any): Any =
    IvfAssignUtil.assign2(v.asInstanceOf[ArrayData], vF,
      coarseFlat, coarseN2, centsFlat, cn2, ids, groupStart, groupLen)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val coFlatRef = ctx.addReferenceObj("ivfCoarse", coarseFlat, "double[]")
    val coN2Ref = ctx.addReferenceObj("ivfCoarseN2", coarseN2, "double[]")
    val flatRef = ctx.addReferenceObj("ivfCents", centsFlat, "double[]")
    val cn2Ref = ctx.addReferenceObj("ivfCn2", cn2, "double[]")
    val idsRef = ctx.addReferenceObj("ivfIds", ids, "long[]")
    val gsRef = ctx.addReferenceObj("ivfGroupStart", groupStart, "int[]")
    val glRef = ctx.addReferenceObj("ivfGroupLen", groupLen, "int[]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.IvfAssignUtil.assign2($c, $vF, $coFlatRef, " +
        s"$coN2Ref, $flatRef, $cn2Ref, $idsRef, $gsRef, $glRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): IvfAssign2 =
    copy(child = newChild)
}

object VectorExprFunctions {
  def dot_d(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def l2_fp(a: Column, b: Column): Column =
    ColumnBridge.column(L2FixedPoint(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  def sq8_l2_fp(q: Column, cds: Column, mn: Array[Double],
      span: Array[Double]): Column =
    ColumnBridge.column(Sq8L2FixedPoint(
      ColumnBridge.expression(q), ColumnBridge.expression(cds), mn, span))

  def sq8_rt_l2_fp(q: Column, x: Column, mn: Array[Double],
      span: Array[Double]): Column =
    ColumnBridge.column(Sq8RtL2FixedPoint(
      ColumnBridge.expression(q), ColumnBridge.expression(x), mn, span))

  def lsh_sig(v: Column, nPlanes: Int): Column =
    ColumnBridge.column(HyperplaneSig(ColumnBridge.expression(v), nPlanes))

  def ivf_assign(v: Column, centsFlat: Array[Double], cn2: Array[Double],
      ids: Array[Long]): Column =
    ColumnBridge.column(IvfAssign(ColumnBridge.expression(v), centsFlat, cn2, ids))

  def ivf_assign2(v: Column, coarseFlat: Array[Double], coarseN2: Array[Double],
      centsFlat: Array[Double], cn2: Array[Double], ids: Array[Long],
      groupStart: Array[Int], groupLen: Array[Int]): Column =
    ColumnBridge.column(IvfAssign2(ColumnBridge.expression(v), coarseFlat,
      coarseN2, centsFlat, cn2, ids, groupStart, groupLen))
}
