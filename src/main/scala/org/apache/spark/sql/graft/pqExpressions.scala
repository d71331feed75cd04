package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import graft.ann.Kernels
import graft.pq.{Codebook, Pq}

/** Static kernels for product/scalar quantization, invoked from codegen.
  * Reference semantics: lantern_hnsw/sql/lantern.sql:256-339 (quantize/
  * dequantize), pqtable.c ADC layout, options.c:37-46 scalar kinds. */
object PqKernels {

  /** Nearest-centroid code per subvector — delegates to the canonical
    * Codebook.quantize (first-min tie break) so the expression path and
    * the in-index PQ path share one implementation. */
  def quantize(v: ArrayData, cb: Codebook): ArrayData =
    new GenericArrayData(cb.quantize(v.toFloatArray()).map(b => b: Any))

  /** Concatenate the coded centroids back into a full vector. */
  def dequantize(codes: ArrayData, cb: Codebook): ArrayData = {
    require(codes.numElements() == cb.subvectors,
      s"pqvec has ${codes.numElements()} codes, codebook expects ${cb.subvectors}")
    val out = new Array[Any](cb.dim)
    var s = 0
    while (s < cb.subvectors) {
      val cent = cb.centroids(s)(codes.getByte(s) & 0xff)
      var t = 0
      while (t < cb.subDim) { out(s * cb.subDim + t) = cent(t); t += 1 }
      s += 1
    }
    new GenericArrayData(out)
  }

  /** ADC distance: sum of precomputed per-subvector partial distances. */
  def adcDist(codes: ArrayData, table: Array[Array[Double]]): Double = {
    var acc = 0.0
    var s = 0
    while (s < table.length) {
      acc += table(s)(codes.getByte(s) & 0xff)
      s += 1
    }
    acc
  }

  /** b1 scalar kind: pack sign bits, 16 per int32 (no sign-bit edge
    * cases across engines); pairs with hamming_dist. */
  def packBits16(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val words = (n + 15) / 16
    val out = new Array[Any](words)
    var w = 0
    while (w < words) {
      var word = 0
      var j = 0
      while (j < 16 && w * 16 + j < n) {
        if (v.getFloat(w * 16 + j) >= 0) word |= (1 << j)
        j += 1
      }
      out(w) = word
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Nearest centroid index under l2sq (0) or cos (1) — the IVF coarse
    * quantizer kernel, over the [[graft.ann.Kernels]] arithmetic (so
    * assignments agree with the driver-side probe selection). The row
    * is copied out once and compared with every centroid. `centNorms` =
    * precomputed squared centroid norms (cos only; pass null for l2sq) —
    * recomputing them per row would dominate the cos build path. */
  def nearestCentroid(v: ArrayData, cents: Array[Array[Float]],
      centNorms: Array[Double], metricId: Int): Int = {
    val a = v.toFloatArray()
    if (metricId == 0) return Pq.nearest(cents, a)
    val na = Kernels.dot(a, a)
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = Kernels.cosFromParts(Kernels.dot(a, cents(c)), na, centNorms(c))
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  // IEEE 754 half-precision (f16 scalar kind); JDK17 has no Float.float16
  def f16Encode(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = floatToHalf(v.getFloat(i)); i += 1 }
    new GenericArrayData(out)
  }

  def f16Decode(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = halfToFloat(v.getShort(i)); i += 1 }
    new GenericArrayData(out)
  }

  def floatToHalf(f: Float): Short = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    // NaN first: its bits plus the rounding bias would pass the
    // overflow test and silently encode infinity
    if (f.isNaN) return (sign | 0x7e00).toShort
    val value = (bits & 0x7fffffff) + 0x1000 // round-to-nearest
    if (value >= 0x47800000) { // overflow -> inf
      (sign | 0x7c00).toShort
    } else if (value < 0x38800000) { // subnormal / zero
      val shifted = (bits & 0x7fffffff) >> 23
      if (shifted < 103) sign.toShort
      else {
        val mant = (bits & 0x7fffff) | 0x800000
        (sign | (mant >> (126 - shifted))).toShort
      }
    } else {
      (sign | ((value - 0x38000000) >> 13)).toShort
    }
  }

  def halfToFloat(h: Short): Float = {
    val sign = (h & 0x8000) << 16
    val exp = (h >> 10) & 0x1f
    val mant = h & 0x3ff
    if (exp == 0) {
      if (mant == 0) java.lang.Float.intBitsToFloat(sign)
      else { // subnormal
        var m = mant
        var e = -1
        while ((m & 0x400) == 0) { m <<= 1; e += 1 }
        java.lang.Float.intBitsToFloat(
          sign | ((127 - 15 - e) << 23) | ((m & 0x3ff) << 13))
      }
    } else if (exp == 31) {
      java.lang.Float.intBitsToFloat(sign | 0x7f800000 | (mant << 13))
    } else {
      java.lang.Float.intBitsToFloat(sign | ((exp - 15 + 127) << 23) | (mant << 13))
    }
  }

  /** i8 scalar kind: symmetric per-vector scale (maxabs/127), codes
    * prefixed by the scale packed as its float bits in 4 bytes — a
    * self-contained byte-array encoding. */
  def i8Encode(v: ArrayData): Array[Byte] = {
    val n = v.numElements()
    var maxAbs = 0.0f
    var i = 0
    while (i < n) {
      val a = math.abs(v.getFloat(i)); if (a > maxAbs) maxAbs = a; i += 1
    }
    val scale = if (maxAbs == 0f) 1.0f else maxAbs / 127.0f
    val out = new Array[Byte](4 + n)
    val sb = java.lang.Float.floatToIntBits(scale)
    out(0) = (sb >>> 24).toByte; out(1) = (sb >>> 16).toByte
    out(2) = (sb >>> 8).toByte; out(3) = sb.toByte
    i = 0
    while (i < n) {
      out(4 + i) = math.round(v.getFloat(i) / scale).toByte
      i += 1
    }
    out
  }

  def i8Decode(bytes: Array[Byte]): ArrayData = {
    val sb = ((bytes(0) & 0xff) << 24) | ((bytes(1) & 0xff) << 16) |
      ((bytes(2) & 0xff) << 8) | (bytes(3) & 0xff)
    val scale = java.lang.Float.intBitsToFloat(sb)
    val n = bytes.length - 4
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = bytes(4 + i) * scale; i += 1 }
    new GenericArrayData(out)
  }
}

/** `quantize_vector(v)` with a bound codebook → pqvec (array<byte>).
  * Reference: lantern.sql:256-307. */
case class PqQuantize(child: Expression, codebook: Codebook)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "quantize_vector"

  override def nullSafeEval(v: Any): Any =
    PqKernels.quantize(v.asInstanceOf[ArrayData], codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebook", codebook, classOf[Codebook].getName)
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PqKernels.quantize($c, $cb)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** `dequantize_vector(pqvec)` with a bound codebook → real[].
  * Reference: lantern.sql:310-339. */
case class PqDequantize(child: Expression, codebook: Codebook)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(ByteType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "dequantize_vector"

  override def nullSafeEval(v: Any): Any =
    PqKernels.dequantize(v.asInstanceOf[ArrayData], codebook)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cb = ctx.addReferenceObj("codebook", codebook, classOf[Codebook].getName)
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PqKernels.dequantize($c, $cb)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Asymmetric (ADC) l2sq distance from a fixed query vector to a
  * pq-coded vector: per-subvector partials precomputed once per plan
  * (the in-index PQ search kernel — build.c:498-501, scan.c:75-81). */
case class PqAdcDist(child: Expression, codebook: Codebook,
    query: Seq[Float])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(ByteType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_dist"

  @transient lazy val table: Array[Array[Double]] =
    codebook.adcTable(query.toArray)

  override def nullSafeEval(v: Any): Any =
    PqKernels.adcDist(v.asInstanceOf[ArrayData], table)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tbl = ctx.addReferenceObj("adcTable", table, "double[][]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PqKernels.adcDist($c, $tbl)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Nearest coarse-centroid id (IVF cell assignment): argmin over a
  * small centroid table carried as a plan reference object. A codegen
  * expression instead of a Scala UDF keeps the assignment inside
  * whole-stage codegen during the partitioned index write.
  * metricId: 0 = l2sq, 1 = cos (graft.ann.Metric ids). */
case class NearestCentroid(child: Expression,
    centroids: Array[Array[Float]], metricId: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(metricId == 0 || metricId == 1,
    s"nearest_centroid supports l2sq(0)/cos(1), got metric id $metricId")
  // uniform centroid table validated once here, so the kernel checks
  // only centroid 0 against each row (a ragged table would otherwise
  // produce silently wrong assignments)
  require(centroids.nonEmpty && centroids.forall(_.length == centroids(0).length),
    "expected equally sized centroid arrays")
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  @transient lazy val centNorms: Array[Double] =
    if (metricId != 1) null
    else centroids.map(ct => Kernels.dot(ct, ct))

  override def nullSafeEval(v: Any): Any =
    PqKernels.nearestCentroid(v.asInstanceOf[ArrayData], centroids,
      centNorms, metricId)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cents = ctx.addReferenceObj("centroids", centroids, "float[][]")
    val norms = ctx.addReferenceObj("centNorms", centNorms, "double[]")
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PqKernels.nearestCentroid($c, $cents, $norms, $metricId)")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** b1 scalar quantization: sign bits packed 16-per-int32 (probe with
  * hamming_dist). Reference quant_bits=1, options.c:37-46. */
case class PackBits(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pack_bits"

  override def nullSafeEval(v: Any): Any =
    PqKernels.packBits16(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PqKernels.packBits16($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** f16 scalar quantization encode (quant_bits=16). */
case class F16Encode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = ArrayType(ShortType, containsNull = false)
  override def prettyName: String = "f16_encode"
  override def nullSafeEval(v: Any): Any =
    PqKernels.f16Encode(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PqKernels.f16Encode($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** f16 scalar quantization decode. */
case class F16Decode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(ShortType))
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "f16_decode"
  override def nullSafeEval(v: Any): Any =
    PqKernels.f16Decode(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PqKernels.f16Decode($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** i8 scalar quantization encode: scale header + byte codes. */
case class I8Encode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = BinaryType
  override def prettyName: String = "i8_encode"
  override def nullSafeEval(v: Any): Any =
    PqKernels.i8Encode(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PqKernels.i8Encode($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** i8 scalar quantization decode. */
case class I8Decode(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "i8_decode"
  override def nullSafeEval(v: Any): Any =
    PqKernels.i8Decode(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.sql.graft.PqKernels.i8Decode($c)")
  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
