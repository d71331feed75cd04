package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  ExecutionException, ExecutorCompletionService, Executors}
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The per-JVM registry of build-once artifacts shared between
  * driver-contract queries: frames (e.g. MinHash signatures reused by
  * the minhash / LSH-pairs / Jaccard-verify queries), driver-side
  * values (index paths, centroids, stream-run sinks) and the temp dirs
  * those artifacts live in. Keys must embed the data directory.
  * Everything here is local to the driver process and host: nothing
  * is fingerprinted or shared across JVMs.
  *
  * Every key builds at most once at a time (single-flight): the first
  * caller runs the build, concurrent callers of the same key block
  * until it finishes and share its result (or its failure), and a
  * failed build leaves no entry, so the next call builds again. No
  * lock is held across a build, so builds of different keys — nested
  * ones included — run concurrently. The companion object is the
  * process-wide registry; a fresh instance is an isolated one. */
class SharedState {
  import SharedState.{Policy, blocked, shrinkTo}

  private final class Slot(val owner: Thread) {
    val result: Promise[Any] = Promise[Any]()
    def built: Option[Any] = result.future.value.flatMap(_.toOption)
  }
  private val slots = new ConcurrentHashMap[String, Slot]()
  private val dirs = ConcurrentHashMap.newKeySet[String]()
  private lazy val exitHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteDirs()))

  private def once[T](key: String)(build: => T): T = {
    val mine = new Slot(Thread.currentThread())
    val slot = Option(slots.putIfAbsent(key, mine)).getOrElse(mine)
    if (slot eq mine) {
      val v = try build catch { case e: Throwable =>
        slots.remove(key, mine)
        mine.result.failure(e)
        throw e
      }
      mine.result.success(v)
      v
    } else {
      if (!slot.result.isCompleted && (slot.owner eq Thread.currentThread()))
        throw new IllegalStateException(s"recursive build of artifact $key")
      val t0 = System.nanoTime()
      try Await.result(slot.result.future, Duration.Inf).asInstanceOf[T]
      finally blocked.set(blocked.get + (System.nanoTime() - t0))
    }
  }

  /** The frame under `key`, built once and materialized per `policy`. */
  def frame(key: String, policy: Policy)(build: => DataFrame): DataFrame =
    once(key)(materialize(key, build, policy))

  private def materialize(key: String, f: DataFrame, policy: Policy)
      : DataFrame = policy match {
    case Policy.Persist => f.persist(StorageLevel.MEMORY_AND_DISK)
    case Policy.Compact =>
      val raw = f.persist(StorageLevel.MEMORY_AND_DISK)
      raw.count()
      shrinkTo(raw).fold(raw) { n =>
        val sized = raw.repartition(n).persist(StorageLevel.MEMORY_AND_DISK)
        sized.count()
        raw.unpersist()
        sized
      }
    case Policy.Parquet =>
      val path = tempDir("graft_frame_" + key.take(24).replaceAll("\\W", "_")) +
        "/frame"
      f.write.parquet(path)
      val leaf = f.sparkSession.read.schema(f.schema).parquet(path)
      shrinkTo(leaf).fold(leaf)(leaf.coalesce)
  }

  /** Small driver-side artifacts (e.g. the contract kmeans centroids —
    * k·dim doubles — or the path of a built index): the value-level
    * twin of [[frame]], for results of driver-side builds that a
    * cluster deployment would persist as a tiny table. */
  def value[T](key: String)(build: => T): T = once(key)(build)

  /** A fresh directory owned by the registry: deleted by [[clear]] and
    * at JVM exit. Callers memoize it under a [[value]] key together
    * with whatever they write into it. */
  def tempDir(prefix: String): String = {
    exitHook
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    dirs.add(d)
    d
  }

  /** Read-only view of the built frames, for diagnostics
    * (`Bench caches`): key -> frame. */
  def entries: Seq[(String, DataFrame)] = slots.asScala.toSeq.flatMap {
    case (k, slot) => slot.built.collect {
      case df: Dataset[_] => k -> df.asInstanceOf[DataFrame] }
  }.sortBy(_._1)

  /** Drop every entry — unpersisting frames, closing AutoCloseable
    * values — and delete every dir [[tempDir]] handed out. For use
    * between runs (test isolation, a cold-symmetric gate), not while
    * builds are in flight. */
  def clear(): Unit = {
    val held = slots.values.asScala.toList
    slots.clear()
    held.flatMap(_.built).foreach {
      case df: Dataset[_] => df.unpersist()
      case c: AutoCloseable => c.close()
      case _ =>
    }
    deleteDirs()
  }

  private def deleteDirs(): Unit = dirs.asScala.toList.foreach { d =>
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    dirs.remove(d)
  }
}

object SharedState extends SharedState {

  /** How [[SharedState.frame]] materializes a built frame. */
  sealed trait Policy
  object Policy {

    /** Lazy MEMORY_AND_DISK persist. */
    case object Persist extends Policy

    /** [[Persist]] + SIZE-AWARE COMPACTION: after materializing, if the
      * cached bytes ask for fewer partitions than the frame carries
      * (see [[shrinkTo]]), re-persist a repartitioned copy and drop the
      * original. Shuffle-built caches inherit spark.sql.shuffle.partitions
      * — at contract scale that is 32 near-empty partitions, and EVERY
      * steady query over the cache paid a 32-task dispatch per stage
      * (measured 0.1–0.4 s/stage of pure task overhead on the BM25
      * postings cache). The target derives from MEASURED bytes, so a
      * decade-scale postings frame keeps its width — nothing here is
      * tuned to local mode. Eager by necessity (sizing needs the
      * materialized stats); callers are prepare-warmed caches, so the
      * extra pass lands in build time, not in any steady row. */
    case object Compact extends Policy

    /** The one LINEAGE CUT: the build is written once as parquet into
      * its own [[SharedState.tempDir]] and the frame is the bare scan
      * of it, coalesced at read to [[shrinkTo]] — the leaf a
      * [[graft.operators.PipelineBoundaries]] boundary serves. For
      * frames over deep or costly lineages (scored pools, door
      * survivors, candidate and ground-truth tables): a persisted frame
      * keeps its plan, which every consumer re-analyzes and every
      * other query's CacheManager lookup compares against (8 such
      * caches once inflated UNTOUCHED bench rows 30–100 %); the leaf's
      * size estimate is its file bytes. Eager (prepare pays the write).
      * The files stay on the driver host and go with [[clear]] or the
      * JVM; a lost or truncated one fails the next scan naming it. */
    case object Parquet extends Policy
  }

  /** The partitions a materialized frame should shrink to, if it has
    * more: one per 64 MB of its bytes, at least one (guide §2.2). */
  private def shrinkTo(df: DataFrame): Option[Int] = {
    val parts = df.rdd.getNumPartitions
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val target = ((bytes + (64L << 20) - 1) / (64L << 20)).max(1)
    Option.when(target < parts)(target.toInt)
  }

  /** Nanoseconds this thread has waited in `once` on another thread's
    * build: [[warm]] charges a step only for its own work. */
  private val blocked: ThreadLocal[java.lang.Long] = ThreadLocal.withInitial(() => 0L)

  /** A named prepare build for [[warm]]; its result is dropped. */
  type Step = (String, () => Any)
  def step(name: String)(build: => Any): Step = (name, () => build)

  /** The [[warm]] pool size: the smallest whose sf0.1 prepare wall at
    * 4 cores was within spread of the best (table in CHANGES.md). */
  val PrepareThreads = 2

  /** The job description and job tag of a prepare step's jobs. The
    * tag also marks jobs of threads the step starts that set their own
    * description (stream runs, Autotune's pools). */
  def stepLabel(name: String): String = s"prepare: $name"

  /** Runs `steps` on `threads` daemon threads named `graft-prepare`,
    * started in declared order, each under its [[stepLabel]]. The
    * registry's single-flight keys are the dependency graph: a step
    * waits for another's in-flight artifact, uncharged, so each step
    * reports its wall seconds minus that wait, in declared order. The
    * first failure cancels the other steps and their Spark jobs and
    * fails the run naming its step; no pool thread outlives the call. */
  def warm(spark: SparkSession, steps: Seq[Step],
      threads: Int = PrepareThreads): Seq[(String, Double)] = {
    val names = steps.map(_._1)
    val dup = names.diff(names.distinct).distinct
    require(dup.isEmpty, s"duplicate prepare steps: ${dup.mkString(", ")}")
    val sc = spark.sparkContext
    val started = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(threads, (r: Runnable) => {
      val t = new Thread(r, "graft-prepare"); t.setDaemon(true); started.add(t); t })
    val done = new ExecutorCompletionService[(String, Double)](pool)
    try {
      steps.foreach { case (name, build) => done.submit(() => {
        sc.setJobDescription(stepLabel(name))
        sc.addJobTag(stepLabel(name))
        blocked.set(0L)
        val t0 = System.nanoTime()
        try build()
        catch { case e: Throwable =>
          throw new IllegalStateException(s"prepare step $name failed: $e", e)
        } finally {
          sc.removeJobTag(stepLabel(name))
          sc.setJobDescription(null)
        }
        (name, (System.nanoTime() - t0 - blocked.get) / 1e9)
      }) }
      val secs = steps.map(_ => done.take().get()).toMap
      names.map(n => n -> secs(n))
    } catch { case e: ExecutionException =>
      pool.shutdownNow() // first, so no queued step starts a job after the cancel
      names.foreach(n => sc.cancelJobsWithTag(stepLabel(n)))
      throw e.getCause
    } finally {
      pool.shutdownNow()
      started.forEach(_.join())
    }
  }
}
