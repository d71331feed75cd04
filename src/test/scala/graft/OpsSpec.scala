package graft

import org.apache.spark.sql.functions._
import graft.ops.{AsyncTasks, MaskedExplain}
import graft.functions.{l2sq_dist, vecLit}

/** Scheduling/ops utilities: async task registry, masked explain. */
class OpsSpec extends SparkSpec {

  test("async task completes and is recorded") {
    val id = AsyncTasks.submit(spark, "count-job") {
      spark.range(1000).count()
    }
    var tries = 0
    while (AsyncTasks.status(id).get.status == AsyncTasks.Status.Running &&
        tries < 100) {
      Thread.sleep(100); tries += 1
    }
    assert(AsyncTasks.status(id).get.status == AsyncTasks.Status.Completed)
    val row = AsyncTasks.list(spark)
      .filter(col("task_id") === id).collect()(0)
    assert(row.getAs[String]("job_name") == "count-job")
  }

  test("async task failure is recorded with the error") {
    val id = AsyncTasks.submit(spark, "boom") {
      throw new RuntimeException("intentional")
    }
    var tries = 0
    while (AsyncTasks.status(id).get.status == AsyncTasks.Status.Running &&
        tries < 100) {
      Thread.sleep(100); tries += 1
    }
    val t = AsyncTasks.status(id).get
    assert(t.status == AsyncTasks.Status.Failed)
    assert(t.error.contains("intentional"))
  }

  test("cancel interrupts a running task") {
    val id = AsyncTasks.submit(spark, "slow") {
      spark.range(Long.MaxValue / 4)
        .selectExpr("sum(id % 1000)").collect()
    }
    Thread.sleep(500)
    val canceled = AsyncTasks.cancel(id)
    assert(canceled)
    assert(AsyncTasks.status(id).get.status == AsyncTasks.Status.Canceled)
  }

  test("cancelAll cancels every running task and leaves finished ones alone") {
    def settle(id: Long): Unit = {
      var tries = 0
      while (AsyncTasks.status(id).get.status == AsyncTasks.Status.Running &&
          tries < 100) {
        Thread.sleep(100); tries += 1
      }
    }
    val done = AsyncTasks.submit(spark, "quick")(spark.range(10).count())
    settle(done)
    val finished = AsyncTasks.status(done).get
    assert(finished.status == AsyncTasks.Status.Completed)
    // each holds one task slot until its job is canceled
    val held = Seq("hold-1", "hold-2").map(n => AsyncTasks.submit(spark, n) {
      spark.range(0, 1, 1, 1).rdd.foreach(_ => Thread.sleep(60000))
    })
    val tracker = spark.sparkContext.statusTracker
    var tries = 0
    while (!held.forall(id => tracker.getJobIdsForGroup(s"graft-async-task-$id")
        .exists(j => tracker.getJobInfo(j).exists(_.stageIds.exists(st =>
          tracker.getStageInfo(st).exists(_.numActiveTasks > 0))))) &&
        tries < 100) {
      Thread.sleep(100); tries += 1
    }
    assert(AsyncTasks.cancelAll() == 2)
    held.foreach(settle)
    assert(held.forall(AsyncTasks.status(_).get.status == AsyncTasks.Status.Canceled))
    assert(AsyncTasks.status(done).get == finished)
  }

  test("profile: one-pass per-column stats with nulls, distincts, timestamps") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("prof").toString
    Seq(
      (1L, Some("a"), Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))),
      (2L, Some("a"), None),
      (2L, None, Some(java.sql.Timestamp.valueOf("2024-01-02 00:00:00")))
    ).toDF("id", "s", "t").write.parquet(s"$work/p")
    val df = spark.read.parquet(s"$work/p")
    val out = graft.ops.Profile.profile(df, Seq("id", "s", "t"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    assert(out(0) == (("id", 3L, 0L, 2L, "1")))
    assert(out(1) == (("s", 3L, 1L, 1L, "a")))
    assert(out(2)._1 == "t" && out(2)._3 == 1L && out(2)._4 == 2L)
    assert(out(2)._5 == "1704067200000000", "timestamps profile as epoch micros")
    // one aggregation pass: the corpus is scanned exactly once no
    // matter how many columns are profiled
    val plan = graft.ops.Profile.profile(df, Seq("id", "s", "t"))
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("Scan parquet"))
    assert(scans == 1, s"expected a single scan, got $scans:\n$plan")
    // approx mode still produces sane counts without the Expand
    val approx = graft.ops.Profile.profile(df, Seq("id"),
      exactDistinct = false).collect()(0)
    assert(approx.getLong(3) >= 1L)
  }

  test("masked explain equalizes plans that differ only in literals/ids") {
    val emb = spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
    def plan(shift: Float): String = MaskedExplain.explain(
      emb.withColumn("d",
          l2sq_dist(col("embedding"), vecLit(Seq.fill(64)(shift))))
        .orderBy(col("d")).limit(5))
    val a = plan(0.25f)
    val b = plan(0.75f)
    assert(a == b, "masked plans should be identical")
    assert(a.contains("TakeOrderedAndProject"))
    assert(a.contains("[MASKED]"))
  }
}
