package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import graft.SharedState.Policy

/** The artifact registry: single-flight per key, failed builds leave no
  * entry, policies keep their storage shape, and clear() deletes the
  * dirs it handed out. Every test uses its own registry instance, so the
  * process-wide one the other suites share is never touched. */
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

  test("policies keep their storage level, partition count and lineage cut") {
    val reg = new SharedState
    def wide: DataFrame = spark.range(0, 100, 1, 8).toDF("id")
    def isLeaf(df: DataFrame) =
      df.queryExecution.analyzed.isInstanceOf[LogicalRDD]
    val persisted = reg.frame("p", Policy.Persist)(wide)
    assert(persisted.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(persisted.rdd.getNumPartitions == 8 && !isLeaf(persisted))
    val compact = reg.frame("c", Policy.Compact)(wide)
    assert(compact.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(compact.rdd.getNumPartitions == 1 && !isLeaf(compact))
    val disk = reg.frame("d", Policy.DiskCheckpoint)(wide)
    assert(disk.rdd.getNumPartitions == 8 && isLeaf(disk))
    val cut = reg.frame("cc", Policy.CompactCheckpoint)(wide)
    assert(cut.rdd.getNumPartitions == 1 && isLeaf(cut))
    Seq(persisted, compact, disk, cut).foreach(f => assert(f.count() == 100))
    assert(reg.entries.map(_._1) == Seq("c", "cc", "d", "p"))
    reg.clear()
    assert(persisted.storageLevel == StorageLevel.NONE)
    assert(compact.storageLevel == StorageLevel.NONE)
    assert(reg.entries.isEmpty)
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
