package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, BinaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types._

/** Codegen'd Catalyst expressions for the embedding/PQ hot paths (guide
  * step 4: eliminate non-codegen expressions in the hot path).
  *
  * The previous implementations used Catalyst higher-order functions
  * (`transform`/`aggregate` lambdas over 64-dim arrays × 16 centroids per
  * row). HOFs are CodegenFallback: every lambda step is an interpreted,
  * allocating expression eval — measured ~1 µs/step, i.e. ~2 s for a
  * 2000-row PQ encode at sf0.1 (m·ks·d0 = 1024 steps/row × ~10 sub-
  * expressions each). These expressions compute the IDENTICAL integer /
  * double math in one primitive JVM loop per row via `defineCodeGen`
  * (same pattern as [[NativeFns]]), so results are bit-identical (integer
  * sums reassociate exactly; double folds keep the same sequential
  * order) while the per-row cost drops ~2 orders of magnitude.
  *
  * Also here: the ADC lookup-table factorization. The asymmetric distance
  * Σ_s Σ_t (q_t − c(code_s,t))² only depends on the query through the
  * per-subspace table LUT[s][j] = Σ_t (q_t − c(j,t))², so each query
  * computes its m·ks-entry LUT ONCE and candidate scoring collapses from
  * m·d0 = 64 multiply-adds to m = 4 table lookups — the standard ADC
  * serve-side optimization (Jégou et al. 2011 §5.2). Integer addition is
  * associative, so the regrouped sum is bit-identical to the direct one.
  */
object VecFns {

  @inline private def q1000(x: Float): Long =
    math.floor(x.toDouble * 1000d).toLong

  /** Null flags of `a`'s first n elements in groups of w (flag g: an
    * element in [g·w, g·w + w) is null), or null when no element is null. */
  private def nullGroups(a: ArrayData, n: Int, w: Int): Array[Boolean] = {
    var out: Array[Boolean] = null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) {
        if (out == null) out = new Array[Boolean](n / w)
        out(i / w) = true
      }
      i += 1
    }
    out
  }

  /** True when one of `a`'s first n elements is null. */
  def hasNull(a: ArrayData, n: Int): Boolean = nullGroups(a, n, n) != null
  def hasNull(a: ArrayData): Boolean = hasNull(a, a.numElements())

  /** `v` as an array value whose element i is null where `nulls(i)`
    * (`nulls == null`: no element is). */
  private def longArray(v: Array[Long], nulls: Array[Boolean]): ArrayData =
    if (nulls == null) new GenericArrayData(v)
    else new GenericArrayData(Array.tabulate[Any](v.length)(i => if (nulls(i)) null else v(i)))

  /** Exact mirror of Similarity.cosineCol's HOF fold: dot and both norms
    * accumulate in doubles over ascending indices, result =
    * dot / (sqrt(na) * sqrt(nb)). */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var dot = 0d; var na = 0d; var nb = 0d
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact mirror of Similarity.quantDotCol: Σ x_i·y_i over bigint arrays. */
  def quantDot(a: ArrayData, b: ArrayData): Long = {
    val n = a.numElements()
    var s = 0L
    var i = 0
    while (i < n) { s += a.getLong(i) * b.getLong(i); i += 1 }
    s
  }

  /** Exact mirror of Similarity.quantCol: floor(x·1000) per element; a
    * null element stays null, as in `transform`. */
  def quantMilli(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = q1000(a.getFloat(i)); i += 1 }
    longArray(out, nullGroups(a, n, 1))
  }

  /** PQ codebook value c(j, t) = ((j·31 + t·17) mod 2001) − 1000. */
  @inline private def pqCv(j: Int, t: Int): Long = ((j * 31 + t * 17) % 2001).toLong - 1000L
  /** IVF router centroid C(j, t) = ((j·53 + t·29) mod 2001) − 1000. */
  @inline private def ivfCv(j: Int, t: Int): Long = ((j * 53 + t * 29) % 2001).toLong - 1000L

  /** Packed per-subspace argmins (dist·ks + j) — the Quantize.pqEncode
    * inner array_min, one per subspace. */
  private def pqPacked(e: ArrayData, dim: Int, m: Int, ks: Int): Array[Long] = {
    val d0 = dim / m
    val q = new Array[Long](dim)
    var t = 0
    while (t < dim) { q(t) = q1000(e.getFloat(t)); t += 1 }
    val out = new Array[Long](m)
    var s = 0
    while (s < m) {
      var best = Long.MaxValue
      var j = 0
      while (j < ks) {
        var dist = 0L
        var tt = s * d0
        val end = s * d0 + d0
        while (tt < end) {
          val d = q(tt) - pqCv(j, tt)
          dist += d * d
          tt += 1
        }
        val packed = dist * ks + j
        if (packed < best) best = packed
        j += 1
      }
      out(s) = best
      s += 1
    }
    out
  }

  /** Codes array (m entries): pmod(packed, ks); null for a subspace that
    * holds a null element (its HOF argmin is over all-null distances). */
  def pqCodes(e: ArrayData, dim: Int, m: Int, ks: Int): ArrayData = {
    val p = pqPacked(e, dim, m, ks)
    val out = new Array[Long](m)
    var s = 0
    while (s < m) { out(s) = p(s) % ks; s += 1 }
    longArray(out, nullGroups(e, dim, dim / m))
  }

  /** (sub, code, err) struct rows, err = packed >> 4 (requires ks = 16);
    * code and err are null for a subspace that holds a null element. */
  def pqEncode(e: ArrayData, dim: Int, m: Int, ks: Int): ArrayData = {
    val p = pqPacked(e, dim, m, ks)
    val nulls = nullGroups(e, dim, dim / m)
    val rows = new Array[Any](m)
    var s = 0
    while (s < m) {
      rows(s) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        if (nulls != null && nulls(s)) Array[Any](s.toLong, null, null)
        else Array[Any](s.toLong, p(s) % ks, p(s) >> 4))
      s += 1
    }
    new GenericArrayData(rows)
  }

  /** Packed (dist·nlist + j) router distances for all nlist centroids. */
  private def ivfPacked(e: ArrayData, dim: Int, nlist: Int): Array[Long] = {
    val q = new Array[Long](dim)
    var t = 0
    while (t < dim) { q(t) = q1000(e.getFloat(t)); t += 1 }
    val out = new Array[Long](nlist)
    var j = 0
    while (j < nlist) {
      var dist = 0L
      t = 0
      while (t < dim) {
        val d = q(t) - ivfCv(j, t)
        dist += d * d
        t += 1
      }
      out(j) = dist * nlist + j
      j += 1
    }
    out
  }

  /** Routing cell: pmod(min packed, nlist). */
  def ivfCell(e: ArrayData, dim: Int, nlist: Int): Long = {
    val p = ivfPacked(e, dim, nlist)
    var best = Long.MaxValue
    var j = 0
    while (j < nlist) { if (p(j) < best) best = p(j); j += 1 }
    best % nlist
  }

  /** nprobe nearest cells, nearest first (array_sort + slice + pmod). A
    * null element makes every router distance null, so every probe is. */
  def ivfProbes(e: ArrayData, dim: Int, nlist: Int, nprobe: Int): ArrayData = {
    val p = ivfPacked(e, dim, nlist)
    java.util.Arrays.sort(p)
    val n = math.min(nprobe, nlist)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = p(i) % nlist; i += 1 }
    longArray(out, if (hasNull(e, dim)) Array.fill(n)(true) else null)
  }

  /** Per-query ADC lookup table, flattened: LUT[s·ks + j] = Σ_t∈sub_s
    * (q_t − c(j,t))², null for a subspace s that holds a null element. */
  def adcLut(e: ArrayData, dim: Int, m: Int, ks: Int): ArrayData = {
    val d0 = dim / m
    val q = new Array[Long](dim)
    var t = 0
    while (t < dim) { q(t) = q1000(e.getFloat(t)); t += 1 }
    val out = new Array[Long](m * ks)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ks) {
        var dist = 0L
        var tt = s * d0
        val end = s * d0 + d0
        while (tt < end) {
          val d = q(tt) - pqCv(j, tt)
          dist += d * d
          tt += 1
        }
        out(s * ks + j) = dist
        j += 1
      }
      s += 1
    }
    val nulls = nullGroups(e, dim, d0)
    longArray(out, if (nulls == null) null else Array.tabulate(m * ks)(i => nulls(i / ks)))
  }


  /** Digest-byte twin of Sampling.md5Mod: unsigned little-endian 64-bit
    * value of md5(s)[0..7], pmod m (m > 0). */
  def md5Mod(s: org.apache.spark.unsafe.types.UTF8String, m: Long): Long = {
    val md = md5Digest.get()
    md.reset()
    val d = md.digest(s.getBytes)
    var v = 0L
    var i = 7
    while (i >= 0) { v = (v << 8) | (d(i) & 0xffL); i -= 1 }
    java.lang.Long.remainderUnsigned(v, m)
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** ADC distance: Σ_s LUT[s·ks + code_s] — bit-identical regrouping of
    * the direct Σ_s Σ_t integer sum. */
  def adcDist(lut: ArrayData, codes: ArrayData, ks: Int): Long = {
    val m = codes.numElements()
    var s = 0
    var d = 0L
    while (s < m) { d += lut.getLong(s * ks + codes.getLong(s).toInt); s += 1 }
    d
  }
}

private object VecCheck {
  def floatArray(dt: DataType, what: String): TypeCheckResult = dt match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$what: expected array<float>, got $other")
  }
  def longArray(dt: DataType, what: String): TypeCheckResult = dt match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"$what: expected array<bigint>, got $other")
  }
  /** Whether an array input may hold null elements. */
  def elementsNullable(dt: DataType): Boolean = dt match {
    case ArrayType(_, containsNull) => containsNull
    case _ => true
  }
  /** array<bigint> whose elements are null where the input's may be. */
  def longArrayOf(input: Expression): DataType =
    ArrayType(LongType, containsNull = elementsNullable(input.dataType))
}

/** vec_cosine_native(qe array<float>, ce array<float>) → double; null when
  * lengths differ (the zip_with-pads-with-null behavior of the HOF form) or
  * an element is null. */
final case class VecCosineExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = VecCheck.floatArray(left.dataType, prettyName)
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else VecCheck.floatArray(right.dataType, prettyName)
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements() || VecFns.hasNull(x) || VecFns.hasNull(y)) null
    else VecFns.cosineF(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements() ||
          graft.functions.VecFns.hasNull($a) || graft.functions.VecFns.hasNull($b)) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.functions.VecFns.cosineF($a, $b); }""")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecCosineExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_cosine_native"
}

/** vec_quant_dot_native(a array<bigint>, b array<bigint>) → bigint; null
  * when lengths differ or an element is null. */
final case class VecQuantDotExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = VecCheck.longArray(left.dataType, prettyName)
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else VecCheck.longArray(right.dataType, prettyName)
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    if (x.numElements() != y.numElements() || VecFns.hasNull(x) || VecFns.hasNull(y)) null
    else VecFns.quantDot(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if ($a.numElements() != $b.numElements() ||
          graft.functions.VecFns.hasNull($a) || graft.functions.VecFns.hasNull($b)) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.functions.VecFns.quantDot($a, $b); }""")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecQuantDotExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_quant_dot_native"
}

/** vec_quant_milli_native(e array<float>) → array<bigint>: floor(x·1000). */
final case class VecQuantMilliExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    VecCheck.floatArray(child.dataType, prettyName)
  override def dataType: DataType = VecCheck.longArrayOf(child)
  override def nullSafeEval(input: Any): Any =
    VecFns.quantMilli(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecFns.quantMilli($c)")
  override protected def withNewChildInternal(newChild: Expression): VecQuantMilliExpr =
    copy(child = newChild)
  override def prettyName: String = "vec_quant_milli_native"
}

/** vec_pq_codes_native(e, dim, m, ks) → array<bigint> (m codes). */
final case class VecPqCodesExpr(child: Expression, dim: Int, m: Int, ks: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    VecCheck.floatArray(child.dataType, prettyName)
  override def dataType: DataType = VecCheck.longArrayOf(child)
  override def nullSafeEval(input: Any): Any =
    VecFns.pqCodes(input.asInstanceOf[ArrayData], dim, m, ks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecFns.pqCodes($c, $dim, $m, $ks)")
  override protected def withNewChildInternal(newChild: Expression): VecPqCodesExpr =
    copy(child = newChild)
  override def prettyName: String = "vec_pq_codes_native"
}

/** vec_pq_encode_native(e, dim, m, ks) → array<struct<sub,code,err>>. */
final case class VecPqEncodeExpr(child: Expression, dim: Int, m: Int, ks: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    VecCheck.floatArray(child.dataType, prettyName)
  override def dataType: DataType = {
    val nulls = VecCheck.elementsNullable(child.dataType)
    ArrayType(StructType(Seq(
      StructField("sub", LongType, nullable = false),
      StructField("code", LongType, nullable = nulls),
      StructField("err", LongType, nullable = nulls))), containsNull = false)
  }
  override def nullSafeEval(input: Any): Any =
    VecFns.pqEncode(input.asInstanceOf[ArrayData], dim, m, ks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecFns.pqEncode($c, $dim, $m, $ks)")
  override protected def withNewChildInternal(newChild: Expression): VecPqEncodeExpr =
    copy(child = newChild)
  override def prettyName: String = "vec_pq_encode_native"
}

/** vec_ivf_cell_native(e, dim, nlist) → bigint; null when an element is null. */
final case class VecIvfCellExpr(child: Expression, dim: Int, nlist: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    VecCheck.floatArray(child.dataType, prettyName)
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(input: Any): Any = {
    val e = input.asInstanceOf[ArrayData]
    if (VecFns.hasNull(e, dim)) null else VecFns.ivfCell(e, dim, nlist)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      if (graft.functions.VecFns.hasNull($c, $dim)) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.functions.VecFns.ivfCell($c, $dim, $nlist); }""")
  override protected def withNewChildInternal(newChild: Expression): VecIvfCellExpr =
    copy(child = newChild)
  override def prettyName: String = "vec_ivf_cell_native"
}

/** vec_ivf_probes_native(e, dim, nlist, nprobe) → array<bigint>, nearest first. */
final case class VecIvfProbesExpr(child: Expression, dim: Int, nlist: Int, nprobe: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    VecCheck.floatArray(child.dataType, prettyName)
  override def dataType: DataType = VecCheck.longArrayOf(child)
  override def nullSafeEval(input: Any): Any =
    VecFns.ivfProbes(input.asInstanceOf[ArrayData], dim, nlist, nprobe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecFns.ivfProbes($c, $dim, $nlist, $nprobe)")
  override protected def withNewChildInternal(newChild: Expression): VecIvfProbesExpr =
    copy(child = newChild)
  override def prettyName: String = "vec_ivf_probes_native"
}

/** vec_adc_lut_native(qe, dim, m, ks) → array<bigint> (m·ks entries). */
final case class VecAdcLutExpr(child: Expression, dim: Int, m: Int, ks: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    VecCheck.floatArray(child.dataType, prettyName)
  override def dataType: DataType = VecCheck.longArrayOf(child)
  override def nullSafeEval(input: Any): Any =
    VecFns.adcLut(input.asInstanceOf[ArrayData], dim, m, ks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecFns.adcLut($c, $dim, $m, $ks)")
  override protected def withNewChildInternal(newChild: Expression): VecAdcLutExpr =
    copy(child = newChild)
  override def prettyName: String = "vec_adc_lut_native"
}

/** vec_adc_dist_native(lut array<bigint>, codes array<bigint>, ks) → bigint;
  * null when an element of either is null. */
final case class VecAdcDistExpr(left: Expression, right: Expression, ks: Int) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    val l = VecCheck.longArray(left.dataType, prettyName)
    if (l != TypeCheckResult.TypeCheckSuccess) l
    else VecCheck.longArray(right.dataType, prettyName)
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val lut = a.asInstanceOf[ArrayData]; val codes = b.asInstanceOf[ArrayData]
    if (VecFns.hasNull(lut) || VecFns.hasNull(codes)) null else VecFns.adcDist(lut, codes, ks)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      if (graft.functions.VecFns.hasNull($a) || graft.functions.VecFns.hasNull($b)) { ${ev.isNull} = true; }
      else { ${ev.value} = graft.functions.VecFns.adcDist($a, $b, $ks); }""")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecAdcDistExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_adc_dist_native"
}

/** md5_mod_native(s string, m) → bigint: pmod(unsigned-LE-64(md5(s)[0..7]), m)
  * — the exact value of Sampling.md5Mod's hex/conv/decimal pipeline
  * (concat of reversed hex byte pairs = little-endian reinterpretation of
  * the first 8 digest bytes; conv(·,16,10) into DECIMAL(20,0) = the
  * unsigned 64-bit value; pmod by m), computed directly from digest bytes
  * with Long.remainderUnsigned. No hex strings, no decimal parse. */
final case class Md5ModExpr(child: Expression, m: Long) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"expected string, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def nullSafeEval(input: Any): Any =
    VecFns.md5Mod(input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], m)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VecFns.md5Mod($c, ${m}L)")
  override protected def withNewChildInternal(newChild: Expression): Md5ModExpr =
    copy(child = newChild)
  override def prettyName: String = "md5_mod_native"
}
