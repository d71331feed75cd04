package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** Partition-width audit of every SharedState cache the contract
  * touches: `runMain graft.tools.CacheAudit [sfDir]`. Runs prepare +
  * one pass of every query (to populate lazily-built caches), then
  * prints each cache's partition count, row count and optimizer size —
  * the input to guide §2.2 sizing decisions (a steady-read cache with
  * N near-empty partitions costs an N-task dispatch per stage in every
  * consumer; see SharedState.Policy.Compact). */
object CacheAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.prepare(spark, dir)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try { fn(spark, dir).count(); () }
      catch { case e: Throwable =>
        System.err.println(s"[audit] $name failed: ${e.getMessage}") }
    }
    println(f"${"cache key"}%-40s parts rows      sizeB")
    graft.SharedState.entries.foreach { case (key, df) =>
      val parts = df.rdd.getNumPartitions
      val rows = df.count()
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      println(f"$key%-40s $parts%5d $rows%9d $bytes")
    }
    spark.stop()
  }
}
