package graft

import scala.collection.concurrent.TrieMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Per-JVM cache of expensive intermediate DataFrames shared between
  * driver-contract queries (e.g. MinHash signatures reused by the
  * minhash / LSH-pairs / Jaccard-verify queries). Keys must embed the
  * data directory. This is the library-level "persist the signature
  * table once, reuse it across the pipeline" pattern — at cluster
  * scale the same intermediate would be a persisted Parquet table.
  */
object SharedState {
  private val cache = TrieMap[String, DataFrame]()
  private val values = TrieMap[String, Any]()

  def cached(key: String)(f: => DataFrame): DataFrame =
    cache.getOrElseUpdate(key, f.persist(StorageLevel.MEMORY_AND_DISK))

  /** [[cached]] + SIZE-AWARE COMPACTION: after materializing, if the
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
  def cachedCompact(key: String)(f: => DataFrame): DataFrame =
    cache.getOrElseUpdate(key, {
      val raw = f.persist(StorageLevel.MEMORY_AND_DISK)
      raw.count()
      val bytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes
      val parts = raw.rdd.getNumPartitions
      val target = ((bytes + (64L << 20) - 1) / (64L << 20))
        .max(1).min(parts).toInt
      if (target >= parts) raw
      else {
        val compact = raw.repartition(target)
          .persist(StorageLevel.MEMORY_AND_DISK)
        compact.count()
        raw.unpersist()
        compact
      }
    })

  /** [[cached]] at DISK_ONLY + LINEAGE CUT (eager disk-level local
    * checkpoint). DISK_ONLY is for WIDE boundary frames (full cleaned
    * document text per pipeline stage) whose MEMORY_AND_DISK unroll
    * buffers, stacked on the corpus caches already resident, OOM'd a
    * century JVM: disk-only persists stream partition-by-partition
    * with no memory-store attempt, trading re-read I/O (cheap, local)
    * for a bounded heap. The lineage cut: a persisted boundary still
    * carries its full logical lineage, and for a deep composed
    * pipeline the DRIVER re-analyzes that whole tree on every fresh
    * query over the boundary — measured ~10 s of
    * scale-INDEPENDENT planning per q_pipeline_e2e call (the cost
    * grew with lineage depth: 0.06 s at the first boundary, 1.7 s
    * five stages in, ~10 s at the selection). The checkpoint replaces
    * the lineage with a LogicalRDD over disk-stored blocks, so
    * downstream plans analyze a leaf. Eager: the boundary computes at
    * registration (prepare pays it). Same recompute-on-loss caveat as any
    * local checkpoint — acceptable for per-JVM shared state, which is
    * what this cache is. */
  def checkpointedDisk(key: String)(f: => DataFrame): DataFrame =
    cache.getOrElseUpdate(key,
      f.localCheckpoint(true, StorageLevel.DISK_ONLY))

  /** [[cachedCompact]] + LINEAGE CUT: size-aware repartition, then an
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
    * caveat as [[checkpointedDisk]]. */
  def checkpointedCompact(key: String)(f: => DataFrame): DataFrame =
    cache.getOrElseUpdate(key, {
      val raw = f.persist(StorageLevel.MEMORY_AND_DISK)
      raw.count()
      val bytes = raw.queryExecution.optimizedPlan.stats.sizeInBytes
      val parts = raw.rdd.getNumPartitions
      val target = ((bytes + (64L << 20) - 1) / (64L << 20))
        .max(1).min(parts).toInt
      val sized = if (target >= parts) raw else raw.repartition(target)
      val cp = sized.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK)
      raw.unpersist()
      cp
    })

  /** Small driver-side artifacts shared between queries (e.g. the
    * contract kmeans centroids — k·dim doubles): the value-level twin
    * of [[cached]], for results of driver-iterative builds that a
    * cluster deployment would persist as a tiny table. Keys must
    * embed the data directory. */
  def cachedValue[T](key: String)(f: => T): T =
    values.getOrElseUpdate(key, f).asInstanceOf[T]

  /** Read-only view of the cached frames, for diagnostics
    * ([[graft.tools.CacheAudit]]): key -> frame. */
  def entries: Seq[(String, DataFrame)] = cache.toSeq.sortBy(_._1)

  /** Drop and unpersist everything (test isolation). */
  def clear(): Unit = {
    cache.values.foreach(_.unpersist())
    cache.clear()
    values.clear()
  }
}
