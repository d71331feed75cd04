package graft

import java.util.concurrent.ConcurrentHashMap
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.storage.StorageLevel

/** The per-JVM registry of build-once artifacts shared between
  * driver-contract queries: persisted frames (e.g. MinHash signatures
  * reused by the minhash / LSH-pairs / Jaccard-verify queries),
  * driver-side values (index paths, centroids, stream-run sinks) and
  * the temp dirs those artifacts live in. Keys must embed the data
  * directory. This is the library-level "persist the signature table
  * once, reuse it across the pipeline" pattern — at cluster scale the
  * same intermediate would be a persisted Parquet table.
  *
  * Every key builds at most once at a time (single-flight): the first
  * caller runs the build, concurrent callers of the same key block
  * until it finishes and share its result (or its failure), and a
  * failed build leaves no entry, so the next call builds again. No
  * lock is held across a build, so builds of different keys — nested
  * ones included — run concurrently. The companion object is the
  * process-wide registry; a fresh instance is an isolated one. */
class SharedState {
  import SharedState.{Policy, materialize}

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
      Await.result(slot.result.future, Duration.Inf).asInstanceOf[T]
    }
  }

  /** The frame under `key`, built once and materialized per `policy`. */
  def frame(key: String, policy: Policy)(build: => DataFrame): DataFrame =
    once(key)(materialize(build, policy))

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
      * (target = ceil(bytes / 64 MB), the shuffle-partition sizing rule
      * of guide §2.2), re-persist a repartitioned copy and drop the
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

    /** DISK_ONLY + LINEAGE CUT (eager disk-level local checkpoint),
      * for per-dir frames over deep or costly lineages (the quality
      * and DSIR-mix scored pools, the absorb door survivors). The cut
      * turns the lineage into a LogicalRDD leaf, so a fresh query over
      * the frame analyzes a leaf, not the tree (an uncut composed-
      * pipeline boundary cost ~10 s of driver planning per query);
      * DISK_ONLY streams partition by partition with no memory-store
      * unroll, which kept text-carrying frames from OOMing a century
      * JVM. Eager: the frame computes at registration (prepare pays
      * it). Same recompute-on-loss caveat as any local checkpoint —
      * acceptable for per-JVM shared state. */
    case object DiskCheckpoint extends Policy

    /** [[Compact]] sizing + LINEAGE CUT: size-aware repartition, then an
      * eager LOCAL CHECKPOINT instead of a persist. For caches whose
      * BUILD lineage is huge (candidate tables: banding + skew-guard +
      * self-join + distinct; ground-truth tables: cross-join + rank):
      * a persisted frame keeps its full logical plan, and that costs
      * twice per steady query — the consumer re-analyzes the tree, and
      * EVERY OTHER query's CacheManager lookup canonical-compares its
      * plan nodes against the giant cached tree. Measured: registering
      * 8 such caches inflated UNTOUCHED bench rows 30–100 % (q_hybrid_rrf
      * 0.72 → 1.1–1.7 s) — scale-independent driver planning cost. The
      * checkpoint turns the cache into a LogicalRDD leaf: nothing to
      * re-analyze, nothing for other queries to compare against.
      * MEMORY_AND_DISK blocks (these frames are small by construction —
      * compaction just measured their bytes); same recompute-on-loss
      * caveat as [[DiskCheckpoint]]. */
    case object CompactCheckpoint extends Policy
  }

  private def materialize(f: DataFrame, policy: Policy): DataFrame =
    policy match {
      case Policy.Persist => f.persist(StorageLevel.MEMORY_AND_DISK)
      case Policy.DiskCheckpoint =>
        f.localCheckpoint(true, StorageLevel.DISK_ONLY)
      case Policy.Compact | Policy.CompactCheckpoint =>
        val raw = f.persist(StorageLevel.MEMORY_AND_DISK)
        raw.count()
        val bytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes
        val parts = raw.rdd.getNumPartitions
        val target = ((bytes + (64L << 20) - 1) / (64L << 20))
          .max(1).min(parts).toInt
        val sized = if (target >= parts) raw else raw.repartition(target)
        if (policy == Policy.CompactCheckpoint) {
          val cp = sized.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)
          raw.unpersist()
          cp
        } else if (sized eq raw) raw
        else {
          sized.persist(StorageLevel.MEMORY_AND_DISK).count()
          raw.unpersist()
          sized
        }
    }

  /** Runs one prepare build and reports its wall seconds under `name`
    * (the `build` object of the bench line). */
  def timed(name: String)(build: => Any): (String, Double) = {
    val t0 = System.nanoTime()
    build
    (name, (System.nanoTime() - t0) / 1e9)
  }
}
