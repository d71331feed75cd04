package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import graft.ann.{AnnIndex, HammingView, Metric, ShardCache}
import graft.functions.{l2sq_dist, vecLit}
import graft.plans.{AnnScan, AnnScanExec, AnnTopK}

/** The ANN probe as one planned operator: [[AnnScan]] / [[AnnScanExec]]
  * under both the AnnTopK rewrite and [[AnnIndex.topK]]. */
class AnnScanSpec extends SparkSpec {

  private val srcPath = s"${sf("sf0.01")}/embeddings.parquet"
  private lazy val emb = spark.read.parquet(srcPath)
  private val q: Array[Float] = Array.tabulate(64)(i => ((i * 37) % 19 - 9) / 16.0f)
  private val Shards = 3

  private def build(df: DataFrame, vecCol: String, metric: Metric): String = {
    val dir = Files.createTempDirectory("annscan").toString
    AnnIndex.build(df, "vec_id", vecCol, dir, AnnIndex.Params(metric, numShards = Shards))
    dir
  }
  private lazy val l2Index = build(emb, "embedding", Metric.L2Sq)

  private def rewritten(indexPath: String)(body: => Unit): Unit = {
    AnnTopK.install(spark)
    AnnTopK.IndexCatalog.register(srcPath,
      AnnTopK.Entry(indexPath, "vec_id", "embedding", Metric.L2Sq))
    try body
    finally {
      AnnTopK.IndexCatalog.unregister(srcPath)
      spark.conf.unset(AnnTopK.EfConfKey)
    }
  }

  private def topkQuery(k: Int): DataFrame = emb
    .withColumn("dist", l2sq_dist(col("embedding"), vecLit(q.toSeq)))
    .orderBy(col("dist").asc, col("vec_id").asc)
    .limit(k)

  test("the rewrite broadcasts one AnnScanExec: no round-robin exchange, no merge below it") {
    rewritten(l2Index) {
      spark.conf.set(AnnTopK.EfConfKey, "32")
      val df = topkQuery(10)
      assert(df.collect().length == 10)
      val all = planNodes(df.queryExecution.executedPlan)
      val bcasts = all.collect { case b: BroadcastExchangeExec => b }
      val scanned = bcasts.filter(_.exists(_.isInstanceOf[AnnScanExec]))
      assert(scanned.size == 1, s"expected AnnScanExec under a broadcast:\n${df.queryExecution.executedPlan}")
      assert(!scanned.head.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
        "no global merge may run below the broadcast")
      assert(!all.exists {
        case s: ShuffleExchangeExec => s.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
        case _ => false
      }, "the probe must not round-robin its shard paths")
      // the probe prints the query's dimension, never its 64 floats
      val lines = (df.queryExecution.optimizedPlan.toString + "\n" +
        df.queryExecution.executedPlan.toString).linesIterator.filter(_.contains("AnnScan")).toSeq
      assert(lines.nonEmpty)
      assert(lines.forall(l => l.contains("dim=64") && !l.contains(q(1).toString)), lines)
    }
  }

  test("metrics: every shard probed, at most shards x fetch candidates, the ef used") {
    rewritten(l2Index) {
      spark.conf.set(AnnTopK.EfConfKey, "32")
      val df = topkQuery(10)
      df.collect()
      val exec = planNodes(df.queryExecution.executedPlan).collectFirst { case s: AnnScanExec => s }.get
      val shards = AnnIndex.readManifest(l2Index).shards.size
      val fetch = math.max(10, 32) // no filter: no over-fetch
      assert(exec.metrics("shardsProbed").value == shards)
      val cands = exec.metrics("candidates").value
      assert(cands > 0 && cands <= shards * fetch, s"candidates $cands")
      assert(exec.metrics("ef").value == 32)
      assert(exec.metrics("probeTime").value > 0)
    }
  }

  test("deleted ids never come back from topK or the rewrite") {
    val dir = build(emb, "embedding", Metric.L2Sq)
    val before = AnnIndex.topK(spark, dir, q, 10, 600).collect().map(_.getLong(0)).toSeq
    val dead = before.take(3)
    AnnIndex.delete(spark, dir, dead)
    val after = AnnIndex.topK(spark, dir, q, 10, 600).collect().map(_.getLong(0)).toSeq
    assert(after.size == 10 && after.intersect(dead).isEmpty)
    assert(after == before.drop(3) ++ after.drop(7), "the survivors keep their order")
    rewritten(dir) {
      spark.conf.set(AnnTopK.EfConfKey, "600")
      val viaRule = topkQuery(10).collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(viaRule == after)
    }
  }

  test("topK equals a plain per-shard search + (dist, id) merge for l2sq, cos and the hamming sign view") {
    val bits = emb.select(col("vec_id"),
      transform(col("embedding"), x => when(x >= 0, 1).otherwise(0)).as("bits"))
    val qBits = q.map(f => if (f >= 0) 1 else 0)
    val cases = Seq(
      (l2Index, q),
      (build(emb, "embedding", Metric.Cos), q),
      (build(bits.withColumn("view", HammingView.signView(col("bits"))), "view", Metric.Hamming),
        HammingView.expand(qBits)))
    for ((dir, query) <- cases; (k, ef) <- Seq((10, 16), (5, 40))) {
      val got = AnnIndex.topK(spark, dir, query, k, ef).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val plain = AnnIndex.readManifest(dir).shards
        .flatMap(s => ShardCache.get(s"$dir/$s").search(query, k, ef))
        .sortBy(x => (x._2, x._1)).take(k)
      assert(got == plain, s"$dir k=$k ef=$ef")
    }
  }

  test("two topK frames join each other (AnnScan is a MultiInstanceRelation)") {
    val a = AnnIndex.topK(spark, l2Index, q, 10, 32)
    val b = AnnIndex.topK(spark, l2Index, q, 10, 32)
    val ids = a.collect().map(_.getLong(0)).toSet
    val self = a.as("x").join(a.as("y"), col("x.id") === col("y.id"))
    assert(self.select(col("x.id")).collect().map(_.getLong(0)).toSet == ids)
    val pair = a.join(b, a("id") === b("id")).select(a("id"), b("dist"))
    assert(pair.collect().map { case Row(id: Long, _: Double) => id }.toSet == ids)
  }
}
