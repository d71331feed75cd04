package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** `tombstone_live(id)`: true iff `id` is NOT deleted from the index at
  * `indexPath`, reading the tombstone generation `tombstones` pinned
  * when the filter was built (the newest generation then, or None) or
  * a newer one written since — the DataFrame-side analog of the graph
  * probes' executor-side skip predicate ([[graft.ann.AnnIndex]] scan
  * semantics, reference scan.c:294-300). The set is read ON THE
  * EXECUTOR, once per task ([[graft.ann.Tombstones.load]]: decoded
  * once per executor and generation, checked against its stamp) — no
  * driver-held set rides the plan, a million deletes is an 8 MB
  * artifact. Codegen-friendly: the array is task state and each row is
  * one binary search, so the filter fuses with the partition-pruned
  * parquet scan it sits above. */
case class TombstoneLive(child: Expression, indexPath: String,
    tombstones: Option[graft.ann.Pinned])
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def prettyName: String = "tombstone_live"

  @transient private lazy val dead = graft.ann.Tombstones.load(indexPath, tombstones)

  override def nullSafeEval(v: Any): Any =
    java.util.Arrays.binarySearch(dead, v.asInstanceOf[Long]) < 0

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val path = ctx.addReferenceObj("indexPath", indexPath, "java.lang.String")
    val pin = ctx.addReferenceObj("tombstones", tombstones, "scala.Option")
    val arr = ctx.addMutableState("long[]", "dead",
      v => s"$v = graft.ann.Tombstones.load($path, $pin);")
    defineCodeGen(ctx, ev, c => s"java.util.Arrays.binarySearch($arr, $c) < 0")
  }

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}
