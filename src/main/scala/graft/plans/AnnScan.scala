package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.ann.{AnnIndex, IndexSnapshot, ShardCache, Tombstones}

/** One ANN index probe as a plan leaf (reference: the HNSW index scan
  * node, `scan.c:24-338`): every shard of the index at `indexPath`
  * returns its own top-`k` (search breadth `ef`, tombstones skipped
  * inside the graph walk) as `(id: bigint, dist: double)` rows. There
  * is no merge here — the rows are the UNION of the per-shard lists, at
  * most `shards.size * k`; a caller that wants the global top-k sorts
  * and limits on top ([[AnnIndex.topK]]), and the [[AnnTopK]] rewrite
  * semi-joins the ids and lets the query's own Sort+Limit rank them.
  *
  * `shards` are the manifest's shard names when the node is built, for
  * its statistics; the probe itself reads the [[IndexSnapshot]] that
  * [[AnnScanExec]] resolves when the plan runs (a physical plan keeps
  * the RDD of its first run, so a frame collected again reuses those
  * pins; [[graft.ann.Tombstones]] still finds later deletes).
  * [[AnnScanStrategy]] plans the node into [[AnnScanExec]]. */
case class AnnScan(indexPath: String, shards: Seq[String], query: Array[Float],
    k: Int, ef: Int, output: Seq[Attribute])
    extends LeafNode with MultiInstanceRelation {

  override def newInstance(): AnnScan = copy(output = output.map(_.newInstance()))

  /** Row count bound: small, so a semi join against it broadcasts. */
  override def computeStats(): Statistics = {
    val rows = BigInt(shards.size.max(1)) * k
    Statistics(sizeInBytes = rows * AnnScan.RowBytes, rowCount = Some(rows))
  }

  // the query vector prints as its dimension, never as its floats
  override def simpleString(maxFields: Int): String =
    s"$nodeName ${truncatedString(output, "[", ", ", "]", maxFields)} $indexPath, " +
      s"shards=${shards.size}, k=$k, ef=$ef, dim=${query.length}"
}

object AnnScan {
  // an UnsafeRow of (bigint, double): null bitset word + two 8-byte fields
  private val RowBytes = 24

  /** A scan over the index's current manifest; `ef` below `k` is raised
    * to `k` (a graph walk cannot return more rows than its breadth). */
  def apply(indexPath: String, query: Array[Float], k: Int, ef: Int): AnnScan =
    AnnScan(indexPath, AnnIndex.readManifest(indexPath).shards, query, k, math.max(ef, k),
      Seq(AttributeReference("id", LongType, nullable = false)(),
        AttributeReference("dist", DoubleType, nullable = false)()))
}

/** Physical [[AnnScan]]: one task per shard and no exchange. Its first
  * run resolves the index's [[IndexSnapshot]] on the driver; each task
  * loads its pinned shard through the executor's [[ShardCache]] and
  * runs one graph search that skips the snapshot's deleted ids.
  * Metrics: shards probed, candidates returned, the ef used and the
  * probe time. */
case class AnnScanExec(scan: AnnScan) extends LeafExecNode {

  override def output: Seq[Attribute] = scan.output

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "shardsProbed" -> SQLMetrics.createMetric(sparkContext, "shards probed"),
    "candidates" -> SQLMetrics.createMetric(sparkContext, "candidates returned"),
    "ef" -> SQLMetrics.createMetric(sparkContext, "ef used"),
    "probeTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "probe time"))

  override protected def doExecute(): RDD[InternalRow] = {
    // ef is one value per scan, not a per-task sum: set on the driver
    val efUsed = longMetric("ef")
    efUsed.set(scan.ef.toLong)
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), Seq(efUsed))
    val shardsProbed = longMetric("shardsProbed")
    val candidates = longMetric("candidates")
    val probeTime = longMetric("probeTime")
    val AnnScan(idx, _, q, kk, e, _) = scan
    val IndexSnapshot(shards, tomb) = IndexSnapshot(idx)
    val schema = this.schema
    sparkContext.parallelize(shards, math.max(shards.size, 1)).mapPartitions { pins =>
      val skip = Tombstones.skip(idx, tomb)
      val toRow = UnsafeProjection.create(schema)
      pins.flatMap { p =>
        val t0 = System.nanoTime()
        val hits = ShardCache.get(p).search(q, kk, e, skip)
        probeTime += System.nanoTime() - t0
        shardsProbed += 1
        candidates += hits.size
        hits.iterator.map { case (id, d) => toRow(InternalRow(id, d)) }
      }
    }
  }

  override def simpleString(maxFields: Int): String = scan.simpleString(maxFields)
}

/** Plans [[AnnScan]] into [[AnnScanExec]]; installed by
  * [[AnnTopK.install]] / [[installStrategy]] or injected by
  * [[graft.GraftExtensions]]. */
object AnnScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: AnnScan => AnnScanExec(s) :: Nil
    case _ => Nil
  }
}
