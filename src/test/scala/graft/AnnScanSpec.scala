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

  private def rewritten[T](indexPath: String)(body: => T): T = {
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
    import spark.implicits._
    val dir = build(emb, "embedding", Metric.L2Sq)
    val before = AnnIndex.topK(spark, dir, q, 10, 600).collect().map(_.getLong(0)).toSeq
    val dead = before.take(3)
    AnnIndex.delete(spark, dir, dead)
    val after = AnnIndex.topK(spark, dir, q, 10, 600).collect().map(_.getLong(0)).toSeq
    assert(after.size == 10 && after.intersect(dead).isEmpty)
    assert(after == before.drop(3) ++ after.drop(7), "the survivors keep their order")
    def viaRule(): Seq[Long] = rewritten(dir) {
      spark.conf.set(AnnTopK.EfConfKey, "600")
      topkQuery(10).collect().map(_.getAs[Long]("vec_id")).toSeq
    }
    assert(viaRule() == after)
    // another process deletes one more id: it writes the next generation
    // on shared storage, and every probe path hides it on its next probe
    val remote = after.head
    AnnScanSpec.writeGeneration(dir, 2, dead :+ remote)
    val afterRemote = AnnIndex.topK(spark, dir, q, 10, 600).collect().map(_.getLong(0)).toSeq
    assert(!afterRemote.contains(remote) && afterRemote.take(9) == after.tail)
    assert(viaRule() == afterRemote)
    val joined = AnnIndex.topKJoin(Seq((0L, q.toSeq)).toDF("qid", "qv"), "qid", "qv", dir,
        k = 10, ef = 600)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(joined == afterRemote)
  }

  test("a frame collected again hides later deletes, or fails once its generation is pruned") {
    import spark.implicits._
    val dir = build(emb, "embedding", Metric.L2Sq)
    val frame = AnnIndex.topK(spark, dir, q, 10, 600)
    val queries = Seq((0L, q.toSeq)).toDF("qid", "qv")
    val joinFrame = AnnIndex.topKJoin(queries, "qid", "qv", dir, k = 10, ef = 600)
    val first = frame.collect().map(_.getLong(0)).toSeq // pins generation 0
    def joined(): Seq[Long] =
      joinFrame.collect().sortBy(_.getInt(3)).map(_.getLong(1)).toSeq
    assert(joined() == first)
    // two deletes: the second prunes the pinned generation 0, and both
    // frames still find the newest generation by name
    for (n <- 1 to 2) {
      AnnIndex.delete(spark, dir, Seq(first(n - 1)))
      val again = frame.collect().map(_.getLong(0)).toSeq
      assert(again.size == 10 && again.intersect(first.take(n)).isEmpty, s"after delete $n: $again")
      assert(again.take(10 - n) == first.drop(n), "the survivors keep their order")
      assert(joined() == again, s"topKJoin after delete $n")
    }
    // a third delete prunes generation 1 too: no name leads from the pin
    // to the newest generation, so both frames fail naming the pin
    AnnIndex.delete(spark, dir, Seq(first(2)))
    for (run <- Seq(() => frame.collect(), () => joinFrame.collect())) {
      val e = intercept[Exception](run())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains(s"$dir/tombstones-g000000000000.bin")),
        e.getMessage)
    }
    val fresh = AnnIndex.topK(spark, dir, q, 10, 600).collect().map(_.getLong(0)).toSeq
    assert(fresh.take(7) == first.drop(3), "a new frame pins anew")
  }

  test("a shard the manifest names but storage lost fails the probe naming the file") {
    val dir = build(emb, "embedding", Metric.L2Sq)
    val lost = s"$dir/${AnnIndex.readManifest(dir).shards.last}"
    assert(new java.io.File(lost).delete())
    def failsNaming(run: => Any): Unit = {
      val e = intercept[Exception](run)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains(lost)), e.getMessage)
    }
    failsNaming(AnnIndex.topK(spark, dir, q, 10, 64).collect())
    // the rewrite still fires (the manifest reads fine) and the probe
    // fails; it never falls back to an exact scan in silence
    rewritten(dir) {
      spark.conf.set(AnnTopK.EfConfKey, "64")
      val df = topkQuery(10)
      assert(df.queryExecution.optimizedPlan.exists(_.isInstanceOf[AnnScan]))
      failsNaming(df.collect())
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

object AnnScanSpec {
  /** Write tombstone generation `gen` as another process would: magic,
    * count, sorted ids. */
  def writeGeneration(dir: String, gen: Long, ids: Seq[Long]): Unit = {
    val out = new java.io.DataOutputStream(new java.io.FileOutputStream(
      f"$dir/tombstones-g$gen%012d.bin"))
    try {
      out.writeInt(0x47544f4d)
      out.writeInt(ids.distinct.size)
      ids.distinct.sorted.foreach(out.writeLong)
    } finally out.close()
  }
}
