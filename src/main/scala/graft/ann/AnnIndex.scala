package graft.ann

import java.io.{BufferedOutputStream, DataOutputStream}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed ANN index: sharded HNSW artifacts + a manifest, built and
  * probed as Spark jobs.
  *
  * Layout under `indexPath`:
  * {{{
  *   manifest.properties     metric, dim, m, ef_construction, count, shards
  *   shard_00000.hnsw        one [[Hnsw]] graph per build partition
  *   tombstones-g<n>.bin     sorted packed-long deleted ids (monotonic
  *                           generations from the empty g0, highest wins)
  * }}}
  *
  * Every probe reads one [[IndexSnapshot]]: the driver pins each shard
  * file and the newest tombstone generation by `(mtime, length)` when it
  * reads the manifest. Executors read only the pinned shards, and the
  * pinned tombstone generation or a newer one ([[Tombstones]]).
  *
  * The manifest mirrors the reference's index header
  * (lantern_hnsw/src/hnsw/external_index.h:38-56: m, ef_construction,
  * metric, dim, num_vectors); a shard file is the analog of the usearch
  * blob. Build = the reference's external-index job model
  * (build.c:527-587) expressed as mapPartitions; search = one
  * [[graft.plans.AnnScan]] leaf (per-shard top-k, one task per shard)
  * then a global k-row merge (TakeOrderedAndProject shape);
  * deletes = tombstone anti-join, compacted by [[vacuum]] (the reference
  * also leaves deleted labels in the graph and skips them at scan —
  * scan.c:294-300, delete.c).
  *
  * Scale: shards build in parallel (one graph per partition fits
  * executor memory — size shards accordingly), searches touch every
  * shard but return only k rows each, so the merge is k x shards rows —
  * trivial at any corpus size. Shard graphs are cached per executor JVM,
  * keyed by their pinned stamp.
  */
object AnnIndex {

  /** Build parameters. Defaults = reference options.h:14-25. */
  case class Params(
      metric: Metric = Metric.L2Sq,
      m: Int = 16,
      efConstruction: Int = 128,
      numShards: Int = 0, // 0 = keep input partitioning
      pq: Option[graft.pq.Codebook] = None) // PQ-in-index (ADC search)

  case class Manifest(metric: Metric, dim: Int, m: Int, efConstruction: Int,
      count: Long, shards: Seq[String], pq: Boolean = false)

  /** Build a sharded index from (id, vector) rows, starting at the empty
    * tombstone generation 0 ([[Tombstones.init]]). Returns the manifest. */
  def build(df: DataFrame, idCol: String, vecCol: String, indexPath: String,
      params: Params = Params()): Manifest = {
    Tombstones.init(indexPath,
      new Path(indexPath).getFileSystem(df.sparkSession.sessionState.newHadoopConf()))
    buildShards(df, idCol, vecCol, indexPath, params)
  }

  /** The shards and manifest of [[build]] (an append stage has no
    * tombstones of its own). */
  private def buildShards(df: DataFrame, idCol: String, vecCol: String,
      indexPath: String, params: Params): Manifest = {
    val spark = df.sparkSession
    val data = df.select(col(idCol).cast("long"), col(vecCol))
    // hash-partition by id, not round-robin, AND sort each shard by id:
    // composition alone isn't enough — shuffle-read rows arrive in
    // block-fetch order, which varies across runs on a multi-executor
    // cluster, and HNSW graph structure depends on insertion order. With
    // both, every shard graph is a pure function of the data, so recall
    // (and any recall-derived contract row) is invariant to input
    // splits, host, and core count.
    // (numShards = 0 keeps the caller's partitioning — composition then
    // follows the input split — but insertion order is still pinned)
    val parts =
      if (params.numShards > 0)
        data.repartition(params.numShards, col(data.columns.head))
          .sortWithinPartitions(col(data.columns.head))
      else data.sortWithinPartitions(col(data.columns.head))
    val metricId = params.metric.id
    val (m, efc) = (params.m, params.efConstruction)
    val pqOpt = params.pq
    val pathStr = indexPath

    val shardInfo: Array[(String, Long, Int)] =
      parts.rdd.mapPartitionsWithIndex { (pid, rows) =>
        val buf = rows.map { r =>
          (r.getLong(0), r.getSeq[Float](1).toArray)
        }.toArray
        if (buf.isEmpty) Iterator.empty
        else {
          val dim = buf.head._2.length
          val h = new Hnsw(dim, Metric.fromId(metricId), m, efc,
            seed = pid.toLong, pq = pqOpt)
          buf.foreach { case (id, v) => h.insert(id, v) }
          val name = f"shard_$pid%05d.hnsw"
          val p = new Path(pathStr, name)
          val fs = p.getFileSystem(new Configuration())
          // task-attempt isolation: write to an attempt-unique temp file
          // and rename on success, so a speculative/retried task cannot
          // clobber a committed shard mid-write
          val attempt = org.apache.spark.TaskContext.get() match {
            case null => s"local-${System.nanoTime()}"
            case tc => tc.taskAttemptId().toString
          }
          val tmp = new Path(pathStr, s"$name.tmp-$attempt")
          val out = new DataOutputStream(new BufferedOutputStream(fs.create(tmp, true)))
          try h.write(out) finally out.close()
          if (fs.exists(p)) fs.delete(p, false)
          if (!fs.rename(tmp, p)) {
            fs.delete(tmp, false)
            require(fs.exists(p), s"failed to commit shard $name")
          }
          Iterator.single((name, buf.length.toLong, dim))
        }
      }.collect()

    require(shardInfo.nonEmpty, "cannot build an index from an empty DataFrame")
    val dims = shardInfo.map(_._3).distinct
    require(dims.length == 1,
      s"expected equally sized arrays across shards, got dims ${dims.mkString(",")}")
    val man = Manifest(params.metric, dims.head, m, efc,
      shardInfo.map(_._2).sum, shardInfo.map(_._1).sorted.toIndexedSeq,
      pq = params.pq.isDefined)
    writeManifest(indexPath, man)
    man
  }

  /** Append new rows as additional shards (reference model: INSERT
    * maintains the graph online, insert.c; Spark model: batch append +
    * periodic rebuild). */
  def append(df: DataFrame, idCol: String, vecCol: String,
      indexPath: String, subdir: Option[String] = None): Manifest = {
    val existing = readManifest(indexPath)
    // appended shards must match the existing storage mode: recover the
    // codebook from an existing shard for a PQ index (mixing raw and
    // ADC-approximated distances would bias the merged top-k)
    val cb =
      if (!existing.pq) None
      else ShardCache.get(s"$indexPath/${existing.shards.head}").pq
    val stage = subdir.getOrElse(s"append_${existing.shards.length}")
    val appended = buildShards(df, idCol, vecCol, s"$indexPath/$stage",
      Params(existing.metric, existing.m, existing.efConstruction, pq = cb))
    require(appended.dim == existing.dim,
      s"expected equally sized arrays but got dimensions ${appended.dim} and ${existing.dim}")
    val merged = existing.copy(
      count = existing.count + appended.count,
      shards = existing.shards ++ appended.shards.map(s => s"$stage/$s"))
    writeManifest(indexPath, merged)
    merged
  }

  /** Continuous index maintenance: stream (id, vector) rows from a
    * parquet directory into the index, appending one shard batch per
    * micro-batch (foreachBatch -> [[append]]) — the Spark-native
    * expression of the reference daemon's insert loop
    * (daemon/embedding_jobs.rs:1147-1260: LISTEN/NOTIFY -> batch ->
    * insert into index). `Trigger.AvailableNow` drains the backlog and
    * stops; pass a processing-time trigger for a long-running feed.
    *
    * Exactly-once: the checkpoint is REQUIRED (it pins batch ids across
    * restarts) and the apply itself is idempotent per batch id — each
    * batch's shards stage under a batchId-derived directory, so a
    * re-delivered batch (at-least-once foreachBatch semantics after a
    * mid-batch failure) is detected in EVERY crash window: marker
    * present -> skip; manifest already lists `batch_<id>/` shards
    * (crash after the manifest commit, before the marker) -> write the
    * marker only; partial uncommitted stage (crash mid-build) -> drop
    * the stage and redo. `manifest.count` stays exact across any
    * replay. Micro-batches with zero rows just write their marker (an
    * empty append would fail the empty-DataFrame build guard). */
  def streamAppend(spark: SparkSession, srcPath: String,
      schema: org.apache.spark.sql.types.StructType, idCol: String,
      vecCol: String, indexPath: String, checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(srcPath)
    src.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Row], batchId: Long) =>
        applyStreamBatch(batch.toDF(), batchId, idCol, vecCol, indexPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  /** Idempotent body of one [[streamAppend]] micro-batch (package
    * visibility so specs can replay it around simulated crashes). */
  private[graft] def applyStreamBatch(batch: DataFrame, batchId: Long,
      idCol: String, vecCol: String, indexPath: String): Unit = {
    val marker = new Path(indexPath, s"_applied_batch_$batchId")
    // the BATCH's session Hadoop conf (not the thread-local active
    // session, which foreachBatch's executor thread may not carry):
    // the marker is the commit point, and a bare Configuration cannot
    // reach spark.hadoop.*-configured stores
    val fs = marker.getFileSystem(
      batch.sparkSession.sessionState.newHadoopConf())
    if (fs.exists(marker)) return
    val stage = s"batch_$batchId"
    val man = readManifest(indexPath)
    if (man.shards.exists(_.startsWith(stage + "/"))) {
      // crash window B: the previous attempt committed the manifest but
      // died before the marker — the batch is in the index; record it
      fs.create(marker, true).close()
    } else {
      // crash window A: a previous attempt may have staged shards
      // without committing the manifest — drop them and redo cleanly
      val stageDir = new Path(indexPath, stage)
      if (fs.exists(stageDir)) fs.delete(stageDir, true)
      if (!batch.isEmpty) append(batch, idCol, vecCol, indexPath, Some(stage))
      fs.create(marker, true).close()
    }
  }

  /** Record deleted ids; searches skip them inside the shard graphs
    * (scan.c:294-300 semantics — labels invalidated, skipped at scan).
    * Storage is a sorted packed-long generation file
    * (`tombstones-g<n>.bin`): 8 bytes per id, readable on executors
    * straight through the Hadoop FS with no Spark job, binary-searchable
    * once mapped into memory — a million deletes is an 8 MB artifact,
    * never a driver-held Set on the probe path. */
  def delete(spark: SparkSession, indexPath: String, ids: Seq[Long]): Unit = {
    // read-merge-write: concurrent delete() calls on one index must be
    // serialized by the caller (the reference serializes via table
    // locks). Each write is a NEW immutable generation file, and only
    // generations older than the previous one are pruned, so a probe
    // that pinned the newest generation just before a delete still
    // finds its file intact. The generation number is parsed from the
    // newest existing file and incremented — NOT derived from a clock —
    // so write order always matches generation order even when deletes
    // come from different JVMs/hosts against shared storage.
    val fs = new Path(indexPath).getFileSystem(
      spark.sessionState.newHadoopConf())
    // merge from a FRESH listing: merging an older set would resurrect
    // another process's recent deletes into the new (winning) generation
    val gens = Tombstones.generations(indexPath,
      IndexSnapshot.list(fs, indexPath, new Path(indexPath)))
    val merged = (gens.lastOption.fold(Array.emptyLongArray)(g => Tombstones.read(g._2)) ++
      ids).distinct.sorted
    Tombstones.write(indexPath, fs, gens.lastOption.fold(0L)(_._1) + 1, merged)
    // keep the new generation and its predecessor
    gens.dropRight(1).foreach { case (_, pin) => fs.delete(new Path(pin.path), false) }
  }

  /** The index's current tombstoned ids (sorted), from a fresh listing. */
  def tombstones(indexPath: String): Seq[Long] =
    Tombstones.load(indexPath, IndexSnapshot.tombstonesOf(indexPath)).toSeq

  /** Rebuild the index without tombstoned rows (graph compaction the
    * reference never does — delete.c leaves holes forever).
    *
    * Fully distributed: the driver never materializes a single vector.
    * Shard PATHS parallelize one-per-task; each task loads its pinned
    * shard on an executor, anti-joins the pinned tombstone generation
    * there (binary search over the packed file), and streams the
    * survivors straight into [[build]]'s per-partition graph
    * construction. Driver traffic is the snapshot + the manifest — a
    * 100 M x 1536d index compacts without ever exceeding a few MB of
    * driver heap (VacuumSpec asserts the plan is RDD-backed, not a
    * driver LocalRelation). */
  def vacuum(spark: SparkSession, indexPath: String, outPath: String): Manifest = {
    val man = readManifest(indexPath)
    build(survivors(spark, indexPath, man), "id", "vec", outPath,
      Params(man.metric, man.m, man.efConstruction))
  }

  /** The index's live (id, vector) rows as a distributed DataFrame, one
    * input partition per shard, over the snapshot of `man` taken now
    * (exposed to specs so the no-driver-materialization property is
    * assertable on the plan). */
  private[graft] def survivors(spark: SparkSession, indexPath: String,
      man: Manifest): DataFrame = {
    require(!man.pq,
      "vacuum needs raw vectors; a PQ index stores only codes - rebuild from the source table instead")
    val snap = IndexSnapshot.of(indexPath, man.shards,
      new Path(indexPath).getFileSystem(spark.sessionState.newHadoopConf()))
    val tomb = snap.tombstones
    import spark.implicits._
    spark.sparkContext
      .parallelize(snap.shards, math.max(snap.shards.size, 1))
      .mapPartitions { pins =>
        pins.flatMap { pin =>
          val h = ShardCache.get(pin)
          require(h.pq.isEmpty,
            "vacuum needs raw vectors; a PQ index stores only codes - rebuild from the source table instead")
          val dead = Tombstones.load(indexPath, tomb)
          h.ids.indices.iterator
            .filter(i => java.util.Arrays.binarySearch(dead, h.ids(i)) < 0)
            .map(i => (h.ids(i), h.vecs(i)))
        }
      }
      .toDF("id", "vec")
  }

  /** Approximate top-k: one [[graft.plans.AnnScan]] (per-shard HNSW
    * search, k candidates each, search breadth `ef`, tombstones skipped
    * INSIDE each shard search — the graph still navigates through dead
    * nodes, they just cannot enter the result set) under a global
    * `(dist, id)` sort and limit k. Returns (id, dist) ascending. The
    * shards are probed one task each with no exchange, and the sort
    * merges their k-row lists; collected, the whole probe is one job.
    * The frame reads the [[IndexSnapshot]] resolved when it first runs,
    * and deletes written after it. No tombstone state ever lives on the driver: each executor
    * reads the packed tombstone file once and binary-searches it. */
  def topK(spark: SparkSession, indexPath: String, query: Array[Float],
      k: Int, ef: Int = 64): DataFrame = {
    graft.plans.installStrategy(spark, graft.plans.AnnScanStrategy)
    org.apache.spark.sql.graft.Bridge
      .ofRows(spark, graft.plans.AnnScan(indexPath, query, k, ef))
      .orderBy(col("dist").asc, col("id").asc).limit(k)
  }

  /** [[topK]] with the search breadth DERIVED from a recall target via
    * the index's `autotune_results` artifact ([[Autotune.runAndCreate]]
    * exports it; [[Autotune.efForTarget]] resolves the cheapest
    * measured variant meeting the target) instead of a caller-pinned
    * constant — a fixed ef silently decays as the corpus grows
    * (measured: ef=64 → recall 0.795 at 200k vectors). `fallbackEf`
    * applies only when the index has no artifact or no measured
    * variant met the target. */
  def topKAtRecall(spark: SparkSession, indexPath: String,
      query: Array[Float], k: Int, targetRecall: Double,
      fallbackEf: Int = 64): DataFrame =
    topK(spark, indexPath, query, k,
      Autotune.probeEf(spark, indexPath, fallbackEf, Some(targetRecall)))

  /** Batch KNN join: top-k index neighbors for EVERY row of a query
    * DataFrame in ONE job — the throughput shape of batch scoring
    * (embed-then-retrieve pipelines, recall evaluation, k-NN
    * classification) where per-query driver round-trips would dominate.
    * Queries partition across executors; each task probes the
    * LRU-cached shard graphs locally and merges per-query results, so
    * an executor downloads each shard at most once per eviction
    * lifetime and the driver never sees more than the final
    * (queries x k) rows. The join reads the shards of the
    * [[IndexSnapshot]] resolved here, and deletes written after it.
    * Returns (query_id, id, dist, rank). */
  def topKJoin(queries: DataFrame, idCol: String, vecCol: String,
      indexPath: String, k: Int, ef: Int = 64,
      targetRecall: Option[Double] = None): DataFrame = {
    val spark = queries.sparkSession
    val snap = IndexSnapshot(indexPath)
    // recall-target serving (the sf10 lesson: a pinned ef decays as
    // the corpus grows) — derived from the index's autotune artifact
    // when resolvable, the explicit ef otherwise
    val effEf = Autotune.probeEf(spark, indexPath, ef, targetRecall)
    import spark.implicits._
    queries.select(col(idCol).cast("long"), col(vecCol))
      // null vectors have no neighbors; null (or uncastable) ids would
      // fail the non-nullable tuple encoder mid-job
      .filter(col(idCol).isNotNull && col(vecCol).isNotNull)
      .as[(Long, Seq[Float])]
      .mapPartitions { rows =>
        if (!rows.hasNext) Iterator.empty // don't load shards for nothing
        else {
          val skip = Tombstones.skip(indexPath, snap.tombstones)
          val graphs = snap.shards.map(ShardCache.get)
          rows.flatMap { case (qid, qv) =>
            val q = qv.toArray
            graphs.flatMap(_.search(q, k, math.max(effEf, k), skip))
              .sortBy(x => (x._2, x._1))
              .take(k)
              .zipWithIndex
              .map { case ((nid, d), r) => (qid, nid, d, r + 1) }
          }
        }
      }
      .toDF("query_id", "id", "dist", "rank")
  }

  /** Validate every shard's graph invariants (reference
    * validate_index.c); returns (shard, violation) rows. */
  def validate(spark: SparkSession, indexPath: String): Seq[(String, String)] = {
    val man = readManifest(indexPath)
    man.shards.flatMap { s =>
      val errs = ShardCache.get(s"$indexPath/$s").validate()
      errs.map(e => (s, e))
    } ++ {
      val total = man.shards.map(s => ShardCache.get(s"$indexPath/$s").size.toLong).sum
      if (total != man.count)
        Seq(("manifest", s"count ${man.count} != stored $total")) else Seq.empty
    }
  }

  // ---- manifest I/O (java.util.Properties: no extra deps) ----

  def writeManifest(indexPath: String, man: Manifest): Unit = {
    val props = new java.util.Properties()
    props.setProperty("metric", man.metric.name)
    props.setProperty("dim", man.dim.toString)
    props.setProperty("m", man.m.toString)
    props.setProperty("ef_construction", man.efConstruction.toString)
    props.setProperty("count", man.count.toString)
    props.setProperty("pq", man.pq.toString)
    props.setProperty("shards", man.shards.mkString(","))
    val p = new Path(indexPath, "manifest.properties")
    val fs = p.getFileSystem(graft.HadoopConfs.driver())
    val out = fs.create(p, true)
    try props.store(out, "graft ANN index manifest")
    finally out.close()
  }

  def readManifest(indexPath: String): Manifest =
    readManifest(indexPath,
      new Path(indexPath).getFileSystem(graft.HadoopConfs.driver()))

  private[ann] def readManifest(indexPath: String, fs: FileSystem): Manifest = {
    val in = fs.open(new Path(indexPath, "manifest.properties"))
    val props = new java.util.Properties()
    try props.load(in) finally in.close()
    Manifest(
      Metric.fromName(props.getProperty("metric")),
      props.getProperty("dim").toInt,
      props.getProperty("m").toInt,
      props.getProperty("ef_construction").toInt,
      props.getProperty("count").toLong,
      props.getProperty("shards").split(",").toSeq.filter(_.nonEmpty),
      Option(props.getProperty("pq")).exists(_.toBoolean))
  }
}

/** Per-executor-JVM cache of deserialized shard graphs (the analog of
  * the reference's buffer-cache-backed lazy node retriever,
  * scan.c:90-110), one entry per shard path holding the graph of the
  * [[Pinned]] stamp it was read at: a probe pinned to a newer stamp
  * (the same path rebuilt) re-reads the file and replaces the entry.
  * Bounded by a byte budget with LRU eviction so many indexes/variants
  * (e.g. an autotune sweep) cannot pin every graph in executor memory
  * forever. Budget: `graft.ann.shardCacheBytes` system property,
  * default 8 GiB. */
object ShardCache {
  val BudgetProp = "graft.ann.shardCacheBytes"
  private val DefaultBudget = 8L * 1024 * 1024 * 1024

  // access-ordered LinkedHashMap = LRU; all access under this lock
  // (deserialization happens outside it, so concurrent loads of
  // DIFFERENT shards don't serialize). The value carries the graph's
  // byte estimate, computed OUTSIDE the lock at load time: the
  // O(nodes x layers) size scan of a fresh multi-GB graph must never
  // run while holding the lock other tasks' cache hits need.
  private val lock = new Object
  private val cache =
    new java.util.LinkedHashMap[String, (Pinned, Hnsw, Long)](64, 0.75f, true)
  private var totalBytes = 0L

  private def budget: Long =
    sys.props.get(BudgetProp).flatMap(v =>
      scala.util.Try(v.trim.toLong).toOption).getOrElse(DefaultBudget)

  /** The shard at `path` as the file stands now (one `getFileStatus`). */
  def get(path: String): Hnsw = get(Pinned.stat(path))

  /** The shard graph of a pinned file; fails naming the file when it is
    * gone or no longer carries the pinned stamp. */
  def get(shard: Pinned): Hnsw = {
    lock.synchronized(Option(cache.get(shard.path))) match {
      case Some((pin, h, _)) if pin == shard => h
      case _ =>
        val h = Pinned.read(shard)(Hnsw.read)
        val bytes = h.estimatedBytes // outside the lock: O(nodes) scan
        lock.synchronized {
          Option(cache.get(shard.path)) match {
            case Some((pin, raced, _)) if pin == shard => raced // a concurrent load won
            case old =>
              old.foreach(e => totalBytes -= e._3)
              cache.put(shard.path, (shard, h, bytes))
              totalBytes += bytes
              evictOver(budget)
              h
          }
        }
    }
  }

  /** Evict least-recently-used graphs until under `limit` (the newest
    * entry always stays, so one oversized shard still loads). */
  private def evictOver(limit: Long): Unit = {
    val it = cache.entrySet().iterator()
    while (totalBytes > limit && cache.size() > 1 && it.hasNext) {
      val e = it.next()
      totalBytes -= e.getValue._3
      it.remove()
    }
  }

  def invalidate(prefix: String): Unit = lock.synchronized {
    val it = cache.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.startsWith(prefix)) {
        totalBytes -= e.getValue._3
        it.remove()
      }
    }
  }

  def cachedBytes: Long = lock.synchronized(totalBytes)
  def cachedCount: Int = lock.synchronized(cache.size())
}
