package graft.ann

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import graft.functions.{cos_dist, hamming_dist, l2sq_dist}

/** Distance metric of an index and of an exact search (reference
  * opclasses dist_l2sq_ops / dist_cos_ops / dist_hamming_ops,
  * lantern_hnsw/sql/lantern.sql:63-104). Both forms rank by the
  * [[Kernels]] arithmetic: `dist` over float vectors calls it directly,
  * and `dist` over columns builds the Catalyst expression that calls it.
  * A hamming index stores the [[HammingView]] sign view, so its float
  * distance counts sign disagreements, while its column distance is the
  * int32 bit kernel. */
sealed abstract class Metric(val id: Int, val name: String) extends Serializable {
  def dist(a: Array[Float], b: Array[Float]): Double

  /** The distance column of vector column `v` to query `q`. */
  def dist(v: Column, q: Column): Column

  /** The float query an index of this metric searches with, from the
    * vector literal of a SQL distance. */
  def queryVector(lit: ArrayData): Array[Float] = lit.toFloatArray()
}

object Metric {
  case object L2Sq extends Metric(0, "l2sq") {
    def dist(a: Array[Float], b: Array[Float]): Double = Kernels.l2sq(a, b)
    def dist(v: Column, q: Column): Column = l2sq_dist(v, q)
  }
  case object Cos extends Metric(1, "cos") {
    def dist(a: Array[Float], b: Array[Float]): Double = Kernels.cos(a, b)
    def dist(v: Column, q: Column): Column = cos_dist(v, q)
  }
  case object Hamming extends Metric(2, "hamming") {
    def dist(a: Array[Float], b: Array[Float]): Double =
      Kernels.hamming(a, b).toDouble
    def dist(v: Column, q: Column): Column = hamming_dist(v, q).cast("double")
    override def queryVector(lit: ArrayData): Array[Float] =
      HammingView.expand(lit.toIntArray())
  }
  val all: Seq[Metric] = Seq(L2Sq, Cos, Hamming)
  def fromId(id: Int): Metric = all.find(_.id == id).getOrElse(
    throw new IllegalArgumentException(s"unknown metric id $id"))
  def fromName(n: String): Metric = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown metric '$n'"))
}
