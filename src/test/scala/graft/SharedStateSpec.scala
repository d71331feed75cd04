package graft

import java.io.File
import java.nio.channels.FileChannel
import java.nio.file.StandardOpenOption
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import graft.SharedState.Policy

/** The artifact registry: single-flight per key, failed builds leave no
  * entry, policies keep their storage shape, parquet leaves report their
  * file bytes and fail loudly on a lost or truncated file, and clear()
  * deletes the dirs it handed out. Every test uses its own registry
  * instance, so the process-wide one the other suites share is never
  * touched. */
class SharedStateSpec extends SparkSpec {

  private val Racers = 8

  /** Runs `call` on [[Racers]] threads released together. Each build
    * counts down a latch and waits (bounded) for every racer to reach
    * its own build: a registry that lets racers through builds once per
    * racer, a single-flight one builds once and times the wait out. */
  private def race[T](call: (=> Unit) => T): (Int, Seq[T]) = {
    val builds = new AtomicInteger()
    val inBuild = new CountDownLatch(Racers)
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(Racers)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val fs = (1 to Racers).map(_ => Future {
        go.await()
        call {
          builds.incrementAndGet()
          inBuild.countDown()
          inBuild.await(2, TimeUnit.SECONDS)
          ()
        }
      })
      go.countDown()
      val out = Await.result(Future.sequence(fs), 60.seconds)
      (builds.get, out)
    } finally pool.shutdown()
  }

  test("racing callers of one frame key build it once and share it") {
    val reg = new SharedState
    val (builds, frames) = race { b =>
      reg.frame("k", Policy.Persist) { b; spark.range(10).toDF("id") }
    }
    assert(builds == 1)
    assert(frames.forall(_ eq frames.head))
    assert(frames.head.count() == 10)
    reg.clear()
  }

  test("racing callers of one value key build it once and share it") {
    val reg = new SharedState
    val (builds, values) = race { b =>
      reg.value("k") { b; new Object }
    }
    assert(builds == 1)
    assert(values.forall(_ eq values.head))
  }

  test("a failed build leaves no entry: the next call builds again") {
    val reg = new SharedState
    val builds = new AtomicInteger()
    val e = intercept[IllegalStateException] {
      reg.value[Int]("k") { builds.incrementAndGet(); throw new IllegalStateException("boom") }
    }
    assert(e.getMessage == "boom")
    assert(reg.value("k") { builds.incrementAndGet(); 42 } == 42)
    assert(reg.value("k") { builds.incrementAndGet(); 7 } == 42)
    assert(builds.get == 2)
  }

  test("racers waiting on a build that fails get its failure, then a rebuild succeeds") {
    val reg = new SharedState
    val (builds, outcomes) = race { b =>
      scala.util.Try(reg.value[Int]("k") { b; throw new RuntimeException("lost block") })
    }
    assert(builds == 1)
    assert(outcomes.forall(_.failed.toOption.map(_.getMessage).contains("lost block")))
    assert(reg.value("k")(5) == 5)
  }

  test("builds nest across keys; a build that needs its own key fails loudly") {
    val reg = new SharedState
    assert(reg.value("outer") { reg.value("inner")(1) + 1 } == 2)
    assert(reg.value("inner")(99) == 1)
    intercept[IllegalStateException] {
      reg.value("self") { reg.value("self")(1) }
    }
    assert(reg.value("self")(3) == 3)
  }

  private def prepareThreadsAlive: Boolean =
    Thread.getAllStackTraces.keySet.asScala.exists(_.getName == "graft-prepare")

  test("warm charges a step its own work, not its wait on another step's build") {
    val reg = new SharedState
    val building = new CountDownLatch(1)
    @volatile var waiterWall = 0L
    val secs = SharedState.warm(spark, Seq(
      SharedState.step("builder") {
        reg.value("k") { building.countDown(); Thread.sleep(400); 1 } },
      SharedState.step("waiter") {
        val t0 = System.nanoTime()
        building.await()
        assert(reg.value("k")(2) == 1)
        waiterWall = System.nanoTime() - t0
      }), threads = 2).toMap
    assert(waiterWall >= 400L * 1000 * 1000, s"waiter wall ${waiterWall / 1e6} ms")
    assert(secs("waiter") < 0.1, s"waiter charged ${secs("waiter")} s")
    assert(secs("builder") >= 0.4)
  }

  test("a failing step fails warm naming it, and no prepare thread outlives it") {
    val e = intercept[IllegalStateException] {
      SharedState.warm(spark, Seq(
        SharedState.step("slow") { Thread.sleep(60000) },
        SharedState.step("broken") { throw new RuntimeException("boom") },
        SharedState.step("queued") { Thread.sleep(60000) }), threads = 2)
    }
    assert(e.getMessage.contains("broken") && e.getMessage.contains("boom"))
    assert(!prepareThreadsAlive)
  }

  test("at pool size 1, steps start in declared order") {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val names = Seq("c", "a", "d", "b")
    val secs = SharedState.warm(spark,
      names.map(n => SharedState.step(n) { started.add(n) }), threads = 1)
    assert(started.asScala.toSeq == names)
    assert(secs.map(_._1) == names)
    assert(!prepareThreadsAlive)
  }

  test("duplicate step names are rejected before any step runs") {
    val ran = new AtomicInteger()
    val e = intercept[IllegalArgumentException] {
      SharedState.warm(spark, Seq("a", "b", "a").map(n =>
        SharedState.step(n) { ran.incrementAndGet() }))
    }
    assert(e.getMessage.contains("duplicate prepare steps: a"))
    assert(ran.get == 0)
  }

  test("a step's Spark jobs, and those of threads it starts, carry its label") {
    val (_, jobs) = Bench.jobsOf(spark)(SharedState.warm(spark, Seq(
      SharedState.step("outer") {
        spark.range(10).count()
        val t = new Thread(() => {
          spark.sparkContext.setJobDescription("its own description")
          spark.range(10).count()
        })
        t.start(); t.join()
      })))
    val label = SharedState.stepLabel("outer")
    assert(jobs.nonEmpty && jobs.forall(_.tags(label)), jobs.mkString("\n"))
    assert(jobs.map(_.desc).toSet == Set(label, "its own description"))
  }

  /** The part files a parquet-leaf frame scans, sorted by name. */
  private def partFiles(df: DataFrame): Seq[File] =
    df.inputFiles.toSeq.map(f => new File(new Path(f).toUri.getPath)).sortBy(_.getName)

  test("policies keep their storage level, partition count and lineage cut") {
    val reg = new SharedState
    def wide: DataFrame = spark.range(0, 100, 1, 8).toDF("id")
    // a cut frame's analyzed plan reads only files: no Range left to re-analyze
    def isCut(df: DataFrame) = df.queryExecution.analyzed.collectLeaves()
      .forall(_.isInstanceOf[LogicalRelation])
    val persisted = reg.frame("p", Policy.Persist)(wide)
    assert(persisted.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(persisted.rdd.getNumPartitions == 8 && !isCut(persisted))
    val compact = reg.frame("c", Policy.Compact)(wide)
    assert(compact.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(compact.rdd.getNumPartitions == 1 && !isCut(compact))
    // 8 part files of 100 longs: far under 64 MB, so one partition at read
    val leaf = reg.frame("q", Policy.Parquet)(wide)
    assert(leaf.storageLevel == StorageLevel.NONE)
    assert(leaf.rdd.getNumPartitions == 1 && isCut(leaf))
    val files = partFiles(leaf)
    assert(files.size == 8 && files.forall(_.isFile))
    Seq(persisted, compact, leaf).foreach(f => assert(f.count() == 100))
    assert(reg.entries.map(_._1) == Seq("c", "p", "q"))
    reg.clear()
    assert(persisted.storageLevel == StorageLevel.NONE)
    assert(compact.storageLevel == StorageLevel.NONE)
    assert(files.forall(!_.exists), "clear() must delete the leaf's files")
    assert(reg.entries.isEmpty)
  }

  test("a Parquet frame's size estimate is the bytes of its part files") {
    val reg = new SharedState
    // chained cross joins filtered to 3 rows: without CBO the build
    // plan's estimate is the product of the join sides
    val r = spark.range(0, 1000, 1, 4)
    val build = r.crossJoin(r.toDF("b")).crossJoin(r.toDF("c"))
      .filter(col("id") === col("b") && col("b") === col("c") && col("id") < 3)
    val leaf = reg.frame("est", Policy.Parquet)(build)
    assert(leaf.count() == 3)
    val fileBytes = partFiles(leaf).map(_.length).sum
    assert(fileBytes > 0)
    assert(build.queryExecution.optimizedPlan.stats.sizeInBytes > BigInt(fileBytes) * 1000)
    assert(leaf.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(fileBytes))
    reg.clear()
  }

  test("a lost or truncated part file fails the next action naming the file") {
    val reg = new SharedState
    def build: DataFrame = spark.range(0, 1000, 1, 4).toDF("id")
    val lost = reg.frame("lost", Policy.Parquet)(build)
    val cut = reg.frame("cut", Policy.Parquet)(build)
    assert(lost.count() == 1000 && cut.count() == 1000)
    val gone = partFiles(lost).head
    assert(gone.delete())
    val short = partFiles(cut).head
    val ch = FileChannel.open(short.toPath, StandardOpenOption.WRITE)
    try ch.truncate(short.length / 2) finally ch.close()
    for ((df, f) <- Seq(lost -> gone, cut -> short)) {
      val e = intercept[Exception](df.collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(msgs.contains(f.getName), s"the error does not name ${f.getName}:\n$msgs")
    }
    reg.clear()
  }

  test("clear() deletes every dir tempDir handed out and drops every entry") {
    val reg = new SharedState
    val dirs = (1 to 3).map(i => reg.tempDir(s"graft_spec_$i"))
    val nested = new java.io.File(dirs.head, "a/b")
    assert(nested.mkdirs())
    java.nio.file.Files.writeString(new java.io.File(nested, "f").toPath, "x")
    val memo = reg.value("dir") { reg.tempDir("graft_spec_memo") }
    assert((dirs :+ memo).forall(d => new java.io.File(d).isDirectory))
    val closed = new AtomicInteger()
    reg.value("server") { new AutoCloseable { def close(): Unit = closed.incrementAndGet() } }
    reg.clear()
    assert((dirs :+ memo).forall(d => !new java.io.File(d).exists))
    assert(closed.get == 1)
    val rebuilt = reg.value("dir") { reg.tempDir("graft_spec_memo") }
    assert(rebuilt != memo && new java.io.File(rebuilt).isDirectory)
    reg.clear()
    assert(!new java.io.File(rebuilt).exists)
  }
}
