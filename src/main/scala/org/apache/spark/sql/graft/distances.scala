// In the org.apache.spark.sql namespace for access to `private[sql]`
// Catalyst internals (AbstractDataType, the Column<->Expression bridge) —
// the standard pattern for Spark-native extension libraries.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import graft.ann.Metric

/** Bridge to `private[sql]` Column <-> Expression conversions. */
object Bridge {
  def toColumn(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** A DataFrame over a logical plan (`Dataset.ofRows` is `private[sql]`). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Blocks until every event posted so far reached every listener
    * (`listenerBus` is `private[spark]`): the bus delivers
    * asynchronously, so a listener read right after an action can miss
    * its last JobEnd. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Test access to `private[sql]` SparkSessionExtensions internals:
    * what an extensions class would contribute to a new session. */
  def builtOptimizerRules(ext: org.apache.spark.sql.SparkSessionExtensions,
      session: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.catalyst.rules.Rule[
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] =
    ext.buildOptimizerRules(session)

  /** Test access: the planner strategies an extensions object injects. */
  def builtPlannerStrategies(ext: org.apache.spark.sql.SparkSessionExtensions,
      session: org.apache.spark.sql.SparkSession)
      : Seq[org.apache.spark.sql.execution.SparkStrategy] =
    ext.buildPlannerStrategies(session)

  /** Apply an extensions object's injected functions to a session's
    * registry (what session construction does with spark.sql.extensions). */
  def registerInjectedFunctions(
      ext: org.apache.spark.sql.SparkSessionExtensions,
      session: org.apache.spark.sql.SparkSession): Unit =
    ext.registerFunctions(session.sessionState.functionRegistry)
}

/** Distance expressions over vector columns (`ArrayType(FloatType)`;
  * int32 words for `hamming_dist`). Both the interpreted and the
  * codegen'd path call the one [[graft.ann.Kernels]] loop per formula —
  * generated code as a static call — so they return the same bits as
  * the graph and quantizer kernels, and the same "expected equally sized
  * arrays" error on a dimension mismatch. `kernel` names that method. */
trait VectorDistanceExpression extends BinaryExpression with ExpectsInputTypes {
  protected def kernel: String

  override def nullable: Boolean = left.nullable || right.nullable

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) => s"graft.ann.Kernels.$kernel($x, $y)")
}

/** A distance an ANN index serves: `metric` is the index metric that
  * ranks by it ([[graft.plans.AnnTopK]] rewrites a sort on it). */
trait IndexedDistance extends VectorDistanceExpression {
  def metric: Metric
}

/** Squared Euclidean distance. Reference: lantern_hnsw/src/hnsw.c:354-360. */
case class L2SqDist(left: Expression, right: Expression) extends IndexedDistance {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "l2sq_dist"
  override def metric: Metric = Metric.L2Sq
  override protected def kernel: String = "l2sq"

  override def nullSafeEval(a: Any, b: Any): Any =
    graft.ann.Kernels.l2sq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Cosine distance 1 - cos(a, b). Reference: lantern_hnsw/src/hnsw.c:362-368.
  * Zero-norm input yields distance 1.0 (orthogonal-by-convention). */
case class CosDist(left: Expression, right: Expression) extends IndexedDistance {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cos_dist"
  override def metric: Metric = Metric.Cos
  override protected def kernel: String = "cos"

  override def nullSafeEval(a: Any, b: Any): Any =
    graft.ann.Kernels.cos(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Bit hamming distance over int32 elements (dim x 32 bits).
  * Reference: lantern_hnsw/src/hnsw.c:370-376, bit view hnsw.c:308-319. */
case class HammingDist(left: Expression, right: Expression) extends IndexedDistance {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(IntegerType))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hamming_dist"
  override def metric: Metric = Metric.Hamming
  override protected def kernel: String = "hamming"

  override def nullSafeEval(a: Any, b: Any): Any =
    graft.ann.Kernels.hamming(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Dot product in double precision (building block for IVF/ADC and
  * cosine top-k; the reference exposes it indirectly via usearch kernels). */
case class InnerProduct(left: Expression, right: Expression)
    extends VectorDistanceExpression {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "inner_product"
  override protected def kernel: String = "dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    graft.ann.Kernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
