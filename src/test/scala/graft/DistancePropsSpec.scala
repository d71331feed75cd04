package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}
import graft.ann.{HammingView, Hnsw, Kernels, Metric}
import org.apache.spark.sql.graft.{CosDist, HammingDist, InnerProduct, L2SqDist, PqKernels}

/** Property tests for the distance and scalar-quantization kernels:
  * metric axioms, encode/decode bounds, and bit equality of every path
  * that computes a distance (no SparkSession needed). */
object DistanceProps extends Properties("distances") {

  private val pairGen: Gen[(Array[Float], Array[Float])] =
    Gen.choose(1, 64).flatMap { n =>
      for {
        a <- Gen.listOfN(n, Gen.choose(-100.0f, 100.0f))
        b <- Gen.listOfN(n, Gen.choose(-100.0f, 100.0f))
      } yield (a.toArray, b.toArray)
    }

  private val tripleGen = Gen.choose(1, 32).flatMap { n =>
    for {
      a <- Gen.listOfN(n, Gen.choose(-50.0f, 50.0f))
      b <- Gen.listOfN(n, Gen.choose(-50.0f, 50.0f))
      c <- Gen.listOfN(n, Gen.choose(-50.0f, 50.0f))
    } yield (a.toArray, b.toArray, c.toArray)
  }

  // The expression path over bound row columns 0 and 1: interpreted
  // eval and the generated projection (compiled, never the interpreted
  // fallback UnsafeProjection.create may pick).
  private def exprPaths(mk: (Expression, Expression) => Expression,
      t: DataType): InternalRow => Seq[Any] = {
    val e = mk(BoundReference(0, t, nullable = false),
      BoundReference(1, t, nullable = false))
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    row => Seq(e.eval(row), proj(row).get(0, e.dataType))
  }
  private val floats = ArrayType(FloatType, containsNull = false)
  private lazy val l2sqPaths = exprPaths(L2SqDist, floats)
  private lazy val cosPaths = exprPaths(CosDist, floats)
  private lazy val dotPaths = exprPaths(InnerProduct, floats)
  private lazy val hammingPaths =
    exprPaths(HammingDist, ArrayType(IntegerType, containsNull = false))

  /** Distance of `q` to the single node `v` through an HNSW graph. */
  private def graphDist(metric: Metric, v: Array[Float], q: Array[Float]): Double = {
    val h = new Hnsw(v.length, metric, 8, 16, 0L)
    h.insert(0L, v)
    h.search(q, 1, 1).head._2
  }

  private def bits(xs: Seq[Any]): Seq[Long] =
    xs.map(x => java.lang.Double.doubleToRawLongBits(x.asInstanceOf[Double]))

  property("l2sq nonneg+symmetric+selfzero") = forAll(pairGen) { case (a, b) =>
    val d = Metric.L2Sq.dist(a, b)
    d >= 0.0 && d == Metric.L2Sq.dist(b, a) && Metric.L2Sq.dist(a, a) == 0.0
  }

  property("cos range+symmetric+selfzero") = forAll(pairGen) { case (a, b) =>
    val d = Metric.Cos.dist(a, b)
    Prop.all(
      Prop(d >= -1e-12 && d <= 2.0 + 1e-12),
      Prop(math.abs(d - Metric.Cos.dist(b, a)) < 1e-12),
      Prop(!a.exists(_ != 0f) || Metric.Cos.dist(a, a) < 1e-12))
  }

  property("sqrt(l2sq) triangle inequality") = forAll(tripleGen) {
    case (a, b, c) =>
      val ab = math.sqrt(Metric.L2Sq.dist(a, b))
      val bc = math.sqrt(Metric.L2Sq.dist(b, c))
      val ac = math.sqrt(Metric.L2Sq.dist(a, c))
      ac <= ab + bc + 1e-9
  }

  property("f16 round-trip within half-precision bound") =
    forAll(Gen.choose(-65000.0f, 65000.0f)) { x =>
      val r = PqKernels.halfToFloat(PqKernels.floatToHalf(x))
      val tol = math.max(math.abs(x) / 1024.0, 6.2e-5) // ulp + subnormal floor
      math.abs(x - r) <= tol
    }

  property("hamming sign-view metric axioms") = forAll(pairGen) { case (a, b) =>
    val d = Metric.Hamming.dist(a, b)
    d >= 0 && d <= a.length && d == Metric.Hamming.dist(b, a) &&
      Metric.Hamming.dist(a, a) == 0.0
  }

  property("HammingView expansion preserves bit-hamming exactly") =
    forAll(Gen.choose(1, 8).flatMap { n =>
      for {
        a <- Gen.listOfN(n, Gen.choose(Int.MinValue, Int.MaxValue))
        b <- Gen.listOfN(n, Gen.choose(Int.MinValue, Int.MaxValue))
      } yield (a.toArray, b.toArray)
    }) { case (a, b) =>
      // the sign-view float walk over expanded words, its packed-sign
      // form in the graph and `hamming_dist` (interpreted and codegen'd)
      // must all equal the reference bit kernel bitCount(xor) for ANY
      // int content — the exactness claim the transparent hamming
      // rewrite rests on
      val (ea, eb) = (HammingView.expand(a), HammingView.expand(b))
      val row = InternalRow(UnsafeArrayData.fromPrimitiveArray(a),
        UnsafeArrayData.fromPrimitiveArray(b))
      val reference = a.zip(b).map { case (x, y) =>
        java.lang.Integer.bitCount(x ^ y)
      }.sum.toDouble
      val paths = hammingPaths(row).map(_.asInstanceOf[Int].toDouble) ++ Seq(
        Metric.Hamming.dist(ea, eb),
        Kernels.hamming(Kernels.packSigns(ea), Kernels.packSigns(eb)).toDouble,
        graphDist(Metric.Hamming, eb, ea))
      paths.forall(_ == reference)
    }

  property("expressions (eval + codegen), Metric and Hnsw share one arithmetic") =
    forAll(pairGen) { case (a, b) =>
      val row = InternalRow(UnsafeArrayData.fromPrimitiveArray(a),
        UnsafeArrayData.fromPrimitiveArray(b))
      val l2sq = l2sqPaths(row) ++ Seq(Metric.L2Sq.dist(a, b), graphDist(Metric.L2Sq, b, a))
      val cos = cosPaths(row) ++ Seq(Metric.Cos.dist(a, b), graphDist(Metric.Cos, b, a))
      val dot = dotPaths(row) :+ Kernels.dot(a, b)
      Prop.all(Seq(l2sq, cos, dot).map(xs => Prop(bits(xs).distinct.size == 1) :| xs.toString): _*)
    }

  property("DoubleIntHeap pops in heap order (min and max)") =
    forAll(Gen.listOf(Gen.choose(-1e6, 1e6))) { xs =>
      def drain(min: Boolean): Seq[Double] = {
        val h = new graft.ann.DoubleIntHeap(min)
        xs.zipWithIndex.foreach { case (k, v) => h.push(k, v) }
        val out = scala.collection.mutable.ArrayBuffer.empty[Double]
        while (h.nonEmpty) { out += h.topKey; h.pop() }
        out.toSeq
      }
      drain(min = true) == xs.sorted &&
        drain(min = false) == xs.sorted.reverse
    }
}
