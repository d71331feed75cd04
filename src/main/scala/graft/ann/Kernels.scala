package graft.ann

import org.apache.spark.sql.catalyst.util.ArrayData

/** The distance kernels: every path that ranks by distance computes it
  * here — the Catalyst expressions (`l2sq_dist`, `cos_dist`,
  * `inner_product`, `hamming_dist`, interpreted and codegen'd alike),
  * [[Metric.dist]], the [[Hnsw]] graph, the IVF coarse quantizer and
  * the PQ [[graft.pq.Codebook]]. Each formula has one loop per input
  * representation: `ArrayData` for Catalyst rows, `Array[Float]` for
  * graph nodes, centroids and PQ subvectors, and packed sign words
  * (`Array[Long]`) for the hamming graph.
  *
  * Semantics follow the reference's distance operators
  * (lantern_hnsw/src/hnsw.c:354-405): l2sq is SQUARED L2 (no root),
  * cosine is 1 - cosine similarity with zero-norm input at distance 1,
  * hamming counts differing bits (hnsw.c:308-319). Accumulation is in
  * double precision in sequential element order, so every path returns
  * the same bits and matches a double-precision oracle. A dimension
  * mismatch raises "expected equally sized arrays" (hnsw.c:301-303).
  * Called by name from generated code, hence a plain top-level
  * object. */
object Kernels {

  // the throw sits in its own method so that checkDims stays small
  // enough for the JIT to inline into every kernel call
  def checkDims(n1: Int, n2: Int): Unit = if (n1 != n2) dimMismatch(n1, n2)

  private def dimMismatch(n1: Int, n2: Int): Nothing =
    throw new IllegalArgumentException(
      s"expected equally sized arrays but got arrays with dimensions $n1 and $n2")

  /** 1 - dot / sqrt(na * nb), or 1.0 when either squared norm is 0. */
  def cosFromParts(dot: Double, na: Double, nb: Double): Double =
    if (na == 0.0 || nb == 0.0) 1.0 else 1.0 - dot / math.sqrt(na * nb)

  // ---- ArrayData (Catalyst rows) ----

  def l2sq(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    checkDims(n, y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  def cos(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    checkDims(n, y.numElements())
    var dot = 0.0
    var nx = 0.0
    var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv
      nx += xv * xv
      ny += yv * yv
      i += 1
    }
    cosFromParts(dot, nx, ny)
  }

  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    checkDims(n, y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Bit hamming over int32 elements (dim x 32 bits). */
  def hamming(x: ArrayData, y: ArrayData): Int = {
    val n = x.numElements()
    checkDims(n, y.numElements())
    var acc = 0
    var i = 0
    while (i < n) {
      acc += java.lang.Integer.bitCount(x.getInt(i) ^ y.getInt(i))
      i += 1
    }
    acc
  }

  // ---- Array[Float] (graph nodes, centroids, PQ subvectors) ----
  // Loops run to `a.length`, which lets the JIT drop `a`'s bounds
  // checks: offset-and-length loops measured ~20 % slower HNSW inserts
  // under the C1 compiler (64-d vectors, 4-core x86 VM).

  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  def cos(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a.length, b.length)
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      val y = b(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    cosFromParts(dot, na, nb)
  }

  /** Dot product; `dot(v, v)` is the squared norm the cosine loop
    * accumulates, bit for bit. */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    checkDims(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      acc += a(i).toDouble * b(i).toDouble
      i += 1
    }
    acc
  }

  /** Sign-view hamming ([[HammingView]]): components whose signs
    * (`>= 0`) disagree. */
  def hamming(a: Array[Float], b: Array[Float]): Int = {
    checkDims(a.length, b.length)
    var acc = 0
    var i = 0
    while (i < a.length) {
      if ((a(i) >= 0) != (b(i) >= 0)) acc += 1
      i += 1
    }
    acc
  }

  // ---- packed sign words ----

  /** The sign view packed 64 components per word: bit k set iff
    * `v(k) >= 0`, the predicate of the float hamming loop (NaN packs
    * as 0 there too). */
  def packSigns(v: Array[Float]): Array[Long] = {
    val out = new Array[Long]((v.length + 63) >>> 6)
    var i = 0
    while (i < v.length) {
      if (v(i) >= 0) out(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    out
  }

  /** Hamming over [[packSigns]] words: equals the float sign-view loop
    * at ~1/64 of its width. */
  def hamming(a: Array[Long], b: Array[Long]): Int = {
    var acc = 0
    var i = 0
    while (i < a.length) {
      acc += java.lang.Long.bitCount(a(i) ^ b(i))
      i += 1
    }
    acc
  }
}
