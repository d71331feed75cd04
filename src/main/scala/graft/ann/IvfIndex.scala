package graft.ann

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) index: the partition-pruning scale path for
  * similarity search — the complement of the HNSW graph shards.
  *
  * Build: train coarse centroids on a sample (seeded k-means, reused
  * from the PQ module), assign each vector to its nearest cell, and
  * write the table PARTITIONED BY cell_id. Search: pick the `nprobe`
  * cells nearest to the query on the driver (the centroid table is
  * tiny) and brute-force top-k over ONLY those partitions — the
  * `cell_id IN (...)` filter is a partition filter, so the scan reads
  * nprobe/nCells of the data. At 100 TB that pruning, not CPU, is the
  * win; `.explain` shows it as PartitionFilters on the parquet scan.
  *
  * With a PQ codebook ([[Params.pq]]) the cells also store byte codes
  * and search can run IVFADC: the candidate scan reads ONLY
  * (id, pq_code) — column pruning keeps the raw vectors on disk — ranks
  * by the asymmetric-distance table, and just the `refine` best rows
  * are re-ranked exactly against their raw vectors via a broadcast
  * semi-join back into the probed partitions. That is the standard
  * FAISS IVFADC shape; the reference's PQ-in-graph search
  * (pqtable.c:194-333) is its graph cousin.
  *
  * A manifest records (idCol, vecCol, metric, nCells, pq) so search
  * never infers columns positionally from the stored schema.
  *
  * Probing more cells trades latency for recall exactly like HNSW's
  * `ef` (IVF semantics from the public FAISS/IVFADC literature).
  */
object IvfIndex {

  case class Params(nCells: Int = 64, metric: Metric = Metric.L2Sq,
      sampleLimit: Int = 10000, seed: Long = 42L,
      pq: Option[graft.pq.Codebook] = None)

  // ---- per-JVM, stamp-keyed sidecar caches -------------------------
  //
  // Every probe used to re-run spark.read.parquet over the tiny
  // immutable sidecars (centroids, codebook) and re-infer the cells
  // schema — each a 1-task driver job plus a planning gap, ~0.1-0.15 s
  // of pure fixed cost per probe (measured: q_ivf_target_recall spent
  // 10 of its 15 jobs on sidecar reads). The caches are keyed on the
  // directory's listing stamp (the Autotune.artifactFingerprint
  // discipline): centroids/codebook are FROZEN after build and only a
  // rebuild rewrites their directories (Overwrite = fresh part-file
  // names, so the stamp moves); the cells SCHEMA is append-invariant
  // (appends add files of the same shape; a consolidation targets a
  // new generation dir, a rebuild overwrites this one), so serving a
  // schema from a stale stamp can never serve stale COLUMNS. The cell
  // FILE LISTING itself is never cached — every probe lists fresh, so
  // appended rows are always visible.
  // The maps hold ONE entry per key (the dir, plus a session tag for
  // frames): the stamp lives in the VALUE, so a rebuild's new stamp
  // REPLACES the superseded entry instead of accumulating beside it —
  // a long-lived service looping build/append/rebuild keeps a bounded
  // cache. Frames are tagged by appId + session identity hash (public
  // API, no strong SparkSession reference in the KEY; the cached frame
  // itself necessarily references its session, so eviction is what
  // bounds session lifetime here).
  private val sidecarFrames =
    scala.collection.concurrent.TrieMap[(String, String), (Long, DataFrame)]()
  private val sidecarCentArrays =
    scala.collection.concurrent.TrieMap[String, (Long, Array[(Int, Array[Float])])]()
  private val cellsSchemas =
    scala.collection.concurrent.TrieMap[String, (Long, org.apache.spark.sql.types.StructType)]()

  /** Current cache population, for bounded-growth tests. */
  private[graft] def sidecarCacheSizes: (Int, Int, Int) =
    (sidecarFrames.size, sidecarCentArrays.size, cellsSchemas.size)

  /** Serve `f`'s result for as long as `stamp` holds; a moved stamp
    * recomputes AND evicts the superseded entry (same key slot). */
  private def stamped[K, V](m: scala.collection.concurrent.TrieMap[K, (Long, V)],
      key: K, stamp: Long)(f: => V): V =
    m.get(key) match {
      case Some((s, v)) if s == stamp => v
      case _ =>
        val v = f
        m.put(key, (stamp, v))
        v
    }

  private def sessionTag(spark: SparkSession): String =
    spark.sparkContext.applicationId + "#" +
      java.lang.Integer.toHexString(System.identityHashCode(spark))

  private def sidecarStamp(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    Autotune.listingStamp(fs, p)
  }

  /** The sidecar parquet as a (plan-cached) frame — one footer/schema
    * inference per (dir, content stamp) instead of per probe. */
  private def sidecarParquet(spark: SparkSession, dir: String): DataFrame =
    stamped(sidecarFrames, (sessionTag(spark), dir),
        sidecarStamp(spark, dir))(
      spark.read.parquet(dir))

  /** The centroid table collected once per (index, content stamp),
    * sorted by cell id — shared by every driver-side routing /
    * assignment consumer. */
  private def centroidsOf(spark: SparkSession,
      indexPath: String): Array[(Int, Array[Float])] = {
    val dir = s"$indexPath/centroids"
    stamped(sidecarCentArrays, dir, sidecarStamp(spark, dir))(
      sidecarParquet(spark, dir).collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1))
  }
  // ------------------------------------------------------------------

  /** `cellsDir` is the CURRENT cells generation (the consolidation
    * commit point): readers follow it, so swapping the manifest
    * atomically retargets every search at a consolidated generation. */
  case class Manifest(idCol: String, vecCol: String, metric: Metric,
      nCells: Int, pq: Boolean, cellsDir: String = "cells")

  /** Train centroids, assign cells, write the partitioned table +
    * centroid/codebook sidecars + manifest. Returns the centroids. */
  def build(df: DataFrame, idCol: String, vecCol: String, outPath: String,
      params: Params = Params()): Array[Array[Float]] = {
    val spark = df.sparkSession
    // uniform hash-order sample, not a prefix: see Pq.trainingSample —
    // a limit() prefix on a source-ordered corpus trains the coarse
    // quantizer on one domain and skews every cell
    val sample = graft.pq.Pq.trainingSample(df, vecCol,
      params.sampleLimit, params.seed)
    require(sample.nonEmpty, "cannot build an IVF index from an empty table")
    // a coarse quantizer converges in few iterations (FAISS uses ~25)
    val cents = graft.pq.Pq.kmeans(sample,
      math.min(params.nCells, sample.length), params.seed, maxIters = 25)
    require(params.metric == Metric.L2Sq || params.metric == Metric.Cos,
      s"IVF does not support ${params.metric.name}")
    // codegen'd argmin over the (small) centroid table: assignment stays
    // inside whole-stage codegen during the partitioned write, unlike a
    // Scala UDF which would break the codegen stage per row
    val base = df.select(col(idCol), col(vecCol))
      .withColumn("cell_id",
        graft.functions.nearest_centroid(col(vecCol), cents, params.metric.id))
    val rows = params.pq.fold(base) { cb =>
      require(params.metric == Metric.L2Sq, "IVFADC supports the l2sq metric")
      base.withColumn("pq_code",
        graft.functions.pq_quantize(col(vecCol), cb))
    }
    rows
      // cluster rows by the partition key before the partitioned write:
      // one file per cell instead of (cells x tasks) small files
      .repartition(col("cell_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell_id")
      .parquet(s"$outPath/cells")
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cell_id", "centroid")
      .repartition(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$outPath/centroids")
    params.pq.foreach { cb =>
      graft.pq.Pq.codebookToDf(spark, cb)
        .repartition(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$outPath/codebook")
    }
    Tombstones.init(outPath,
      new Path(outPath).getFileSystem(spark.sessionState.newHadoopConf()))
    writeManifest(outPath,
      Manifest(idCol, vecCol, params.metric, cents.length, params.pq.isDefined))
    cents
  }

  /** Append new rows to an existing IVF index: assign against the
    * FROZEN centroids (the coarse quantizer is immutable after build,
    * as in FAISS's add_with_ids) and append into the partitioned cells
    * table — each new file lands inside its cell's partition directory,
    * so probes and pruning see appended rows with no rebuild. A PQ
    * index re-quantizes appends with its stored codebook. */
  def append(df: DataFrame, indexPath: String): Unit = {
    val man = readManifest(indexPath)
    assignCells(df, man, indexPath)
      .repartition(col("cell_id"))
      .write.mode(SaveMode.Append)
      .partitionBy("cell_id")
      .parquet(s"$indexPath/${man.cellsDir}")
  }

  /** Frozen-centroid cell assignment (+ PQ re-quantization when the
    * index carries a codebook) — shared by [[append]] and
    * [[applyStreamBatch]]. */
  private def assignCells(df: DataFrame, man: Manifest,
      indexPath: String): DataFrame = {
    val spark = df.sparkSession
    val cents = centroidsOf(spark, indexPath).map(_._2)
    require(df.columns.contains(man.idCol) && df.columns.contains(man.vecCol),
      s"append frame lacks manifest columns (${man.idCol}, ${man.vecCol})")
    val base = df.select(col(man.idCol), col(man.vecCol))
      .withColumn("cell_id",
        graft.functions.nearest_centroid(col(man.vecCol), cents, man.metric.id))
    if (!man.pq) base
    else {
      val cb = graft.pq.Pq.codebookFromDf(
        sidecarParquet(spark, s"$indexPath/codebook"))
      base.withColumn("pq_code",
        graft.functions.pq_quantize(col(man.vecCol), cb))
    }
  }

  /** Record deleted row ids (FAISS `remove_ids` analog; reference
    * delete semantics lantern_hnsw/src/hnsw/delete.c:15-72) — the SAME
    * generation-numbered packed-long tombstone machinery as the graph
    * index ([[AnnIndex.delete]]: immutable `tombstones-g<n>.bin`
    * generations under the index root, highest wins, cross-JVM-safe
    * numbering). Every search path ([[topK]], [[topKAdc]],
    * [[topKJoin]]) skips tombstoned ids executor-side through the
    * codegen `tombstone_live` filter; [[consolidate]] reclaims the
    * rows physically. Caller-serialized with other deletes, like the
    * graph path. */
  def delete(spark: SparkSession, indexPath: String, ids: Seq[Long]): Unit =
    AnnIndex.delete(spark, indexPath, ids)

  /** The index's current tombstoned ids (sorted). */
  def tombstones(indexPath: String): Seq[Long] =
    AnnIndex.tombstones(indexPath)

  /** Tombstone-skip filter over a cells frame: rows whose id is in the
    * newest tombstone generation vanish from every search. The
    * generation is pinned here, when the frame is built — the moment
    * [[cellsBranches]] pins its batches — and read on the executors
    * each time the frame runs, or a newer one written since, so a
    * delete after the build is still seen (one file read per task +
    * binary search per row — no driver-held set on the probe path);
    * sits ABOVE the partitioned scan so partition pruning / DPP on
    * cell_id are untouched. */
  private def liveOnly(df: DataFrame, idCol: String,
      indexPath: String): DataFrame =
    df.filter(graft.functions.tombstone_live(col(idCol), indexPath))

  /** Streaming append — the IVF parity of [[AnnIndex.streamAppend]],
    * with the same crash-window analysis. Each micro-batch lands as an
    * immutable `<gen>_batches/batch_<id>/` directory (partitioned by
    * cell_id, written with Overwrite) and is COMMITTED by the single
    * atomic creation of an `_applied_batch_<id>` marker; readers
    * ([[cellsDf]]) union the base cells with committed batch dirs
    * only. Re-delivery (at-least-once foreachBatch semantics) is clean
    * in EVERY window: marker present -> skip; crash mid-stage or
    * after a complete stage but before the marker -> the uncommitted
    * dir was invisible to readers and Overwrite re-stages it
    * byte-identically; zero-row batches write their marker only.
    * Unlike [[AnnIndex.applyStreamBatch]] there is no manifest to
    * co-commit, so the marker alone is the commit point — one atomic
    * step, no window B. [[consolidate]] folds committed batches into
    * a fresh cells generation (manifest-swap commit, markers carried
    * forward) so batch dirs never accumulate unboundedly. */
  def streamAppend(spark: SparkSession, srcPath: String,
      schema: org.apache.spark.sql.types.StructType, indexPath: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.AvailableNow())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val src = spark.readStream.schema(schema).parquet(srcPath)
    src.writeStream
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            batchId: Long) =>
          applyStreamBatch(batch.toDF(), batchId, indexPath)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }

  // batches and applied-markers are scoped to a cells GENERATION so a
  // consolidated generation starts clean by construction; `\d+` (not a
  // fixed width) so the millionth generation still matches its own
  // artifacts
  private def batchesDirName(gen: String) = s"${gen}_batches"
  private def markerName(gen: String, batchId: Long) =
    s"_applied_${gen}_batch_$batchId"
  private val GenDir = "^cells(_g\\d+)?$".r
  private val GenBatchesDir = "^(cells(?:_g\\d+)?)_batches$".r
  private val GenMarker = "^_applied_(cells(?:_g\\d+)?)_batch_(\\d+)$".r
  private val GenFolded = "^_folded_upto_(cells(?:_g\\d+)?)_(\\d+)$".r
  private val GenTsFolded = "^_tsfolded_(cells(?:_g\\d+)?)_(\\d+)$".r

  /** Highest tombstone GENERATION already reclaimed into `gen` (the
    * convergence watermark: without it, every consolidate after any
    * delete would see a non-empty tombstone set — the files are
    * retained for in-flight readers — and rewrite the whole corpus
    * again). -1 = nothing reclaimed. */
  private def tsFoldedUpto(rootNames: Iterable[String], gen: String): Long =
    rootNames.collect {
      case GenTsFolded(g, id) if g == gen => id.toLong
    }.foldLeft(-1L)(math.max)

  private def genOrdinal(gen: String): Long =
    if (gen == "cells") 0L else gen.stripPrefix("cells_g").toLong

  /** The highest batch id already folded into `gen` by a consolidation
    * (one compact watermark file per generation instead of carrying
    * every historical marker forever: batch ids are assigned
    * sequentially by the stream and foreachBatch completes them in
    * order, so the folded set is always a gapless prefix). */
  private def foldedUpto(rootNames: Iterable[String], gen: String): Long =
    rootNames.collect {
      case GenFolded(g, id) if g == gen => id.toLong
    }.foldLeft(-1L)(math.max)

  /** Idempotent body of one [[streamAppend]] micro-batch (package
    * visibility so specs can replay it around simulated crashes). */
  private[graft] def applyStreamBatch(batch: DataFrame, batchId: Long,
      indexPath: String): Unit = {
    val man = readManifest(indexPath)
    val marker = new Path(indexPath, markerName(man.cellsDir, batchId))
    // the SESSION Hadoop conf, not a bare new Configuration(): the
    // marker is the commit point of the protocol, and on a store
    // configured via spark.hadoop.* (s3a credentials/endpoints — the
    // normal case at scale) an unconfigured FileSystem would stage
    // every batch but never commit one
    val fs = marker.getFileSystem(
      batch.sparkSession.sessionState.newHadoopConf())
    // already folded into this generation by a consolidation: skip
    // (checkpoint replays of pre-consolidation batch ids land here)
    val rootNames = fs.listStatus(new Path(indexPath))
      .map(_.getPath.getName)
    if (batchId <= foldedUpto(rootNames, man.cellsDir)) return
    if (fs.exists(marker)) return
    if (!batch.isEmpty) {
      assignCells(batch, man, indexPath)
        .repartition(col("cell_id"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("cell_id")
        .parquet(s"$indexPath/${batchesDirName(man.cellsDir)}/batch_$batchId")
    }
    fs.create(marker, true).close()
  }

  /** The readable cell frames as SEPARATE branches: the current cells
    * generation plus one frame per COMMITTED streaming batch (marker
    * present — an uncommitted or partially staged dir is invisible).
    * Branches are exposed individually because dynamic partition
    * pruning matches a partitioned scan sitting directly under its
    * join, not through a Union — [[topKJoin]] joins each branch before
    * unioning. Listing cost is bounded: ONE root listing serves every
    * marker check (no per-batch exists RPC) and batch reads reuse the
    * base schema, so no per-dir footer inference runs. */
  private[graft] def cellsBranches(spark: SparkSession, indexPath: String,
      cellsDir: String): Seq[DataFrame] = {
    // schema via the stamp-keyed cache (appends cannot change it; a
    // rebuild moves the stamp); the file listing itself stays fresh —
    // spark.read with an explicit schema skips only footer inference
    val baseDir = s"$indexPath/$cellsDir"
    val schema = stamped(cellsSchemas, baseDir,
      sidecarStamp(spark, baseDir))(
      spark.read.parquet(baseDir).schema)
    val base = spark.read.schema(schema).parquet(baseDir)
    val batchesDir = new Path(indexPath, batchesDirName(cellsDir))
    val fs = batchesDir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(batchesDir)) Seq(base)
    else {
      val markers = fs.listStatus(new Path(indexPath))
        .map(_.getPath.getName)
        .filter(_.startsWith(s"_applied_${cellsDir}_batch_")).toSet
      val committed = fs.listStatus(batchesDir).toSeq.map(_.getPath)
        .filter(p => p.getName.startsWith("batch_") &&
          markers.contains(
            s"_applied_${cellsDir}_${p.getName}"))
        .sortBy(_.getName)
      base +: committed.map(p =>
        spark.read.schema(base.schema).parquet(p.toString))
    }
  }

  /** All readable cell rows in one frame. Static `cell_id IN (...)`
    * filters push into every branch as partition filters. */
  private[graft] def cellsDf(spark: SparkSession,
      indexPath: String): DataFrame = {
    val man = readManifest(indexPath)
    cellsBranches(spark, indexPath, man.cellsDir).reduce(_ unionByName _)
  }

  /** Fold every committed streaming batch AND every tombstoned delete
    * into a fresh cells generation (`cells_g<n>`) — consolidation is
    * also the IVF vacuum: deleted rows are physically reclaimed here.
    * Commits by swapping the manifest's `cells_dir`; keeps the
    * generation that was serving when the fold started for one more
    * cycle. Tombstone FILES are retained across consolidation (an
    * in-flight reader still serving the previous generation needs them
    * to keep deleted rows hidden; against the new generation they are
    * a semantic no-op since the rows are gone). Consequence: re-adding
    * a previously deleted id requires clearing tombstones explicitly
    * once no pre-consolidation readers remain — the reference has the
    * same re-insert caveat for invalidated labels.
    * OFFLINE maintenance, caller-serialized with concurrent
    * [[streamAppend]] runs and other consolidates (the reference
    * serializes its maintenance through table locks the same way).
    * READERS are safe throughout: they follow whatever manifest they
    * loaded, and the just-superseded generation is RETAINED for one
    * consolidation cycle (the same two-generation discipline as the
    * HNSW tombstone files) so a plan listed against it still finds
    * its files; only generations two consolidations old are removed.
    *
    * Instead of carrying one marker per folded batch forever, the
    * folded ids compact into a single `_folded_upto_<gen>_<id>`
    * watermark (sound because foreachBatch completes batch ids in
    * order — the committed set is a gapless prefix): steady-state
    * root listings stay O(batches since last fold), not O(all
    * batches ever).
    *
    * Crash windows: before the manifest swap, the new generation and
    * its watermark are unreferenced garbage (the old view stays
    * complete; a rerun builds generation n+1 and the cleanup pass
    * removes the debris). After the swap, readers see the
    * consolidated generation; a rerun completes the cleanup. Returns
    * true when batches were folded. */
  def consolidate(spark: SparkSession, indexPath: String): Boolean = {
    val man = readManifest(indexPath)
    val root = new Path(indexPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val listing = fs.listStatus(root)
    val names = listing.map(_.getPath.getName)
    val committedIds = names.collect {
      case GenMarker(gen, id) if gen == man.cellsDir => id.toLong
    }.sorted
    // only committed batch DIRS constitute work to fold (a marker may
    // outlive its dir: zero-row batches never had one)
    val batchesDir = new Path(root, batchesDirName(man.cellsDir))
    val hasBatches = fs.exists(batchesDir) &&
      fs.listStatus(batchesDir).exists { st =>
        val n = st.getPath.getName
        n.startsWith("batch_") &&
          names.contains(s"_applied_${man.cellsDir}_$n")
      }
    // tombstoned rows are also fold work: consolidation doubles as the
    // IVF vacuum, physically reclaiming deleted rows (the graph path's
    // [[AnnIndex.vacuum]] analog), read from a FRESH listing.
    // Convergence: tombstone FILES outlive the fold (in-flight readers
    // of the previous generation need them), so "tombstones exist" is
    // not fold work — only tombstone GENERATIONS newer than the
    // `_tsfolded` watermark of the current cells generation are.
    // The dead set is read from the SAME listing that tsGen comes
    // from: listing first and reading "freshest" separately would let
    // a concurrent delete() land in between, stamping its generation
    // into the watermark without its ids being in the fold — those
    // rows would then never be reclaimed (the next consolidate sees
    // tsGen <= watermark and no-ops).
    val newestTs = Tombstones.generations(indexPath, listing).lastOption
    val tsGen = newestTs.fold(-1L)(_._1)
    val deadSet = newestTs.fold(Array.emptyLongArray)(g => Tombstones.read(g._2))
    val hasFreshDeletes = deadSet.nonEmpty &&
      tsGen > tsFoldedUpto(names, man.cellsDir)
    val foldable = hasBatches || hasFreshDeletes
    // retention: keep `current` AND `prevServing` — the generation
    // that was serving readers when the LAST fold committed. On the
    // fold path that is the generation this consolidate started from
    // (NOT the highest ordinal below current: after a crash between
    // writing generation g(n+1) and the manifest swap, the rerun
    // builds g(n+2), and keeping highest-below would retain the
    // orphaned g(n+1) debris while deleting g(n) — the generation
    // in-flight readers still hold). On the NO-OP path nothing was
    // superseded now, so the previously-retained generation (highest
    // below current) must survive for its readers; only
    // above-current crash debris is swept.
    def cleanup(current: String, prevServing: String): Unit = {
      val now = fs.listStatus(root).map(_.getPath.getName)
      val keep: Set[String] = Set(current, prevServing)
      now.foreach { n =>
        val owner = n match {
          case GenDir(_) => Some(n)
          case GenBatchesDir(g) => Some(g)
          case GenMarker(g, _) => Some(g)
          case GenFolded(g, _) => Some(g)
          case GenTsFolded(g, _) => Some(g)
          case _ => None
        }
        owner.foreach { g =>
          if (!keep.contains(g)) fs.delete(new Path(root, n), true)
        }
      }
    }
    if (!foldable) {
      val below = names.filter(n => GenDir.findFirstIn(n).isDefined)
        .filter(g => genOrdinal(g) < genOrdinal(man.cellsDir))
      cleanup(man.cellsDir,
        if (below.isEmpty) man.cellsDir else below.maxBy(genOrdinal))
      return false
    }
    val nextGen = {
      val used = names.collect { case GenDir(g) =>
        if (g == null) 0L else g.stripPrefix("_g").toLong }
      // 0L guard: even a corrupt index with no generation dir listed
      // must pick a fresh name rather than throw on an empty max
      f"cells_g${(0L +: used).max + 1}%06d"
    }
    val folded = cellsBranches(spark, indexPath, man.cellsDir)
      .reduce(_ unionByName _)
    // drop tombstoned rows via a broadcast anti-join against the
    // driver-read set (deletes are rare events so the set broadcasts at
    // any real size)
    val live = if (deadSet.isEmpty) folded else {
      import spark.implicits._
      val deadDf = spark.createDataset(deadSet.toSeq).toDF("__dead_id")
      folded.join(broadcast(deadDf),
        col(man.idCol).cast("long") === col("__dead_id"), "left_anti")
    }
    live
      .repartition(col("cell_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("cell_id")
      .parquet(s"$indexPath/$nextGen")
    // the folded watermark covers every previously folded id plus the
    // batches folded now — written BEFORE the swap so a replay can
    // never find the new generation without it
    val upto = (foldedUpto(names, man.cellsDir) +: committedIds).max
    fs.create(new Path(root, s"_folded_upto_${nextGen}_$upto"), true).close()
    // tombstone-reclamation watermark: deletes up to tombstone
    // generation tsGen are IN the new cells generation, so the next
    // consolidate with no newer deletes (and no batches) is a no-op
    // instead of a full corpus rewrite. Written before the swap, like
    // the batch watermark.
    if (tsGen >= 0)
      fs.create(new Path(root, s"_tsfolded_${nextGen}_$tsGen"), true).close()
    writeManifest(indexPath, man.copy(cellsDir = nextGen)) // commit point
    cleanup(nextGen, man.cellsDir)
    true
  }

  /** Top-k over the `nprobe` nearest cells only (exact within the
    * probed cells: reads the raw vector column). */
  def topK(spark: SparkSession, indexPath: String, query: Array[Float],
      k: Int, nprobe: Int = 4,
      targetRecall: Option[Double] = None): DataFrame = {
    val man = readManifest(indexPath)
    // recall-target serving (Autotune.probeNprobe): nprobe derived
    // from the index's measured artifact when resolvable, the explicit
    // value otherwise — a pinned nprobe decays as cells fill, exactly
    // like a pinned HNSW ef
    val effNprobe = Autotune.probeNprobe(spark, indexPath, nprobe,
      targetRecall)
    val cells = probedCells(spark, indexPath, man, query, effNprobe)
    cells
      .withColumn("dist",
        man.metric.dist(col(man.vecCol), graft.functions.vecLit(query.toSeq)))
      .orderBy(col("dist").asc, col(man.idCol).asc)
      .limit(k)
      .select(col(man.idCol).as("id"), col("dist"))
  }

  /** IVFADC top-k: ADC candidate scan over (id, pq_code) only, then
    * exact re-rank of the best `refine` rows via a broadcast semi-join
    * back into the probed partitions. Requires a PQ build. */
  def topKAdc(spark: SparkSession, indexPath: String, query: Array[Float],
      k: Int, nprobe: Int = 4, refine: Int = 100,
      targetRecall: Option[Double] = None): DataFrame = {
    val man = readManifest(indexPath)
    require(man.pq, s"index at $indexPath was not built with a PQ codebook")
    val cb = graft.pq.Pq.codebookFromDf(
      sidecarParquet(spark, s"$indexPath/codebook"))
    val effNprobe = Autotune.probeNprobe(spark, indexPath, nprobe,
      targetRecall)
    val cells = probedCells(spark, indexPath, man, query, effNprobe)
    // reserved candidate-key name: aliasing to "id" would collide with
    // an index whose idCol is itself "id" (ambiguous post-join refs)
    val cand = cells
      .select(col(man.idCol).as("__adc_cand_id"),
        graft.functions.pq_adc_dist(col("pq_code"), cb, query.toSeq)
          .as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("__adc_cand_id").asc)
      .limit(math.max(refine, k))
      .select("__adc_cand_id")
    cells
      .join(broadcast(cand), cells(man.idCol) === cand("__adc_cand_id"))
      .drop("__adc_cand_id")
      .withColumn("dist",
        graft.functions.l2sq_dist(col(man.vecCol),
          graft.functions.vecLit(query.toSeq)))
      .orderBy(col("dist").asc, col(man.idCol).asc)
      .limit(k)
      .select(col(man.idCol).as("id"), col("dist"))
  }

  /** Batch KNN join through the IVF route — the ROUTED counterpart of
    * [[AnnIndex.topKJoin]] (where every query partition probes every
    * shard): each query is assigned its `nprobe` nearest cells against
    * the broadcast centroid table, and an equi-join on `cell_id`
    * co-locates the query with ONLY those cells' rows. At scale the
    * work is corpus x (nprobe/nCells) distance evaluations per query
    * batch, the join is a broadcast of (queries x nprobe) routing rows
    * into the partitioned cells scan (dynamic partition pruning
    * applies — cell_id is the partition column), and the only shuffle
    * is the per-query top-k window. Returns (query_id, id, dist, rank).
    *
    * nprobe = nCells makes the join exact (every cell probed), which is
    * the oracle contract; recall at smaller nprobe behaves like
    * [[topK]]'s (FAISS IVF semantics).
    *
    * One result set per DISTINCT query id: duplicate query rows are
    * dropped up front (they would otherwise halve the probed cells
    * through the routing window while double-counting every candidate).
    * Working columns use a reserved `__ivf_` prefix so an index whose
    * columns are named `dist`/`rank`/`query_id` cannot collide, and the
    * routing broadcast carries (query_id, cell_id) pairs only — one
    * vector copy per query, not per probed cell. */
  def topKJoin(queries: DataFrame, idCol: String, vecCol: String,
      indexPath: String, k: Int, nprobe: Int = 4,
      queryBound: Option[Long] = None,
      targetRecall: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = queries.sparkSession
    val man = readManifest(indexPath)
    val effNprobe = Autotune.probeNprobe(spark, indexPath, nprobe,
      targetRecall)
    val cents = sidecarParquet(spark, s"$indexPath/centroids")
    // one vector per query id, chosen DETERMINISTICALLY (min by vector
    // hash) — dropDuplicates keeps whichever row a partition sees
    // first, so duplicate ids carrying different vectors would make
    // results vary across runs
    val q2 = queries
      .select(col(idCol).cast("long").as("__ivf_qid"),
        col(vecCol).as("__ivf_qvec"))
      .filter(col("__ivf_qid").isNotNull && col("__ivf_qvec").isNotNull)
      .groupBy(col("__ivf_qid"))
      .agg(min_by(col("__ivf_qvec"),
        struct(xxhash64(col("__ivf_qvec")), col("__ivf_qvec").cast("string")))
        .as("__ivf_qvec"))
    // route: rank all (query, centroid) pairs — the centroid table is
    // tiny, so this is a broadcast nested loop over nCells rows — and
    // keep each query's nprobe nearest cells
    val routed = q2.crossJoin(broadcast(cents))
      .withColumn("__ivf_cdist", man.metric.dist(col("__ivf_qvec"), col("centroid")))
      .withColumn("__ivf_rn", row_number().over(
        Window.partitionBy(col("__ivf_qid"))
          .orderBy(col("__ivf_cdist").asc, col("cell_id").asc)))
      .filter(col("__ivf_rn") <= math.max(effNprobe, 1))
      .select(col("__ivf_qid"), col("cell_id"))
    // the (qid, cell) routing pairs ALWAYS broadcast (16 bytes/row — at
    // any plausible query count they are MBs) so dynamic partition
    // pruning fires on the cells scan; the query VECTORS broadcast only
    // while the distinct-query count is inside the conf'd bound. Past
    // it (recall evals: tens of millions of queries x 1536d = tens of
    // GB, over spark.sql.maxBroadcastTableBytes) the vectors
    // shuffle-hash-join on the query id instead — candidates shuffle
    // once on __ivf_qid, which the per-query top-k window below
    // re-uses as its partitioning, so the switch adds no extra
    // exchange to the plan's steady state.
    //
    // Each cells BRANCH (base + committed streaming batches) joins the
    // routing pairs separately and the RESULTS union: DPP only matches
    // a partitioned scan directly under its join, so joining a Union
    // of scans would silently read every cell of every branch.
    val candidates = liveOnly(
      cellsBranches(spark, indexPath, man.cellsDir)
        .map(_.join(broadcast(routed), "cell_id"))
        .reduce(_ unionByName _),
      man.idCol, indexPath)
    // strategy pick needs only an UPPER bound on the distinct query
    // count (past the limit the shuffle-hash path is safe at any size,
    // it just forgoes the broadcast). A caller-supplied bound is
    // trusted in both directions. Plan statistics are ESTIMATES that
    // can undercount (CBO with stale stats), so they may only push
    // toward the SAFE path: a large estimate skips both the broadcast
    // and the count() job; a small one still pays the exact count()
    // before committing to a broadcast.
    val limit = graft.GraftConf.ivfBroadcastQueryLimit(spark)
    val nQ: Long = queryBound.getOrElse {
      val est = q2.queryExecution.optimizedPlan.stats.rowCount
      if (est.exists(_.toLong > limit)) Long.MaxValue else q2.count()
    }
    val withVecs =
      if (nQ <= limit) candidates.join(broadcast(q2), "__ivf_qid")
      else candidates.join(q2.hint("shuffle_hash"), "__ivf_qid")
    withVecs
      .withColumn("__ivf_dist", man.metric.dist(col(man.vecCol), col("__ivf_qvec")))
      .withColumn("__ivf_rank", row_number().over(
        Window.partitionBy(col("__ivf_qid"))
          .orderBy(col("__ivf_dist").asc, col(man.idCol).asc)))
      .filter(col("__ivf_rank") <= k)
      .select(col("__ivf_qid").as("query_id"), col(man.idCol).as("id"),
        col("__ivf_dist").as("dist"), col("__ivf_rank").as("rank"))
  }

  /** The nprobe nearest partitions as a pruned scan. */
  private def probedCells(spark: SparkSession, indexPath: String,
      man: Manifest, query: Array[Float], nprobe: Int): DataFrame = {
    val cents = centroidsOf(spark, indexPath)
    val probes = cents
      .map { case (id, c) => (id, man.metric.dist(query, c)) }
      .sortBy(x => (x._2, x._1)).take(math.max(nprobe, 1)).map(_._1)
    val cells = cellsBranches(spark, indexPath, man.cellsDir)
      .reduce(_ unionByName _)
      .filter(col("cell_id").isin(probes.toSeq: _*)) // partition filter
    require(cells.columns.contains(man.idCol) &&
      cells.columns.contains(man.vecCol),
      s"cells schema ${cells.columns.mkString(",")} lacks manifest columns " +
        s"(${man.idCol}, ${man.vecCol})")
    liveOnly(cells, man.idCol, indexPath)
  }

  /** Validate the stored index invariants — the IVF counterpart of
    * [[AnnIndex.validate]] (reference validate_index.c semantics:
    * walk everything, report violations, mutate nothing):
    *
    *  - centroid sidecar: exactly `nCells` rows, contiguous cell ids,
    *    one consistent dimensionality;
    *  - every stored row (base generation AND committed stream
    *    batches): non-null id, vector of the centroid dim, `cell_id`
    *    in range AND equal to the frozen-centroid assignment — the
    *    invariant probes prune by, so a violation here is a silent
    *    recall hole, not a crash;
    *  - PQ consistency: the manifest flag, the codebook sidecar and
    *    the `pq_code` column must agree.
    *
    * ONE distributed scan; only violation counts reach the driver.
    * Returns (component, violation) rows, empty = valid. */
  def validate(spark: SparkSession, indexPath: String): Seq[(String, String)] = {
    val man = readManifest(indexPath)
    val centRows = spark.read.parquet(s"$indexPath/centroids").collect()
    val cents = centRows.sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray)
    val centErrs =
      (if (cents.length != man.nCells)
        Seq("centroids" -> s"${cents.length} centroids != nCells ${man.nCells}")
      else Seq.empty) ++
      (if (centRows.map(_.getInt(0)).sorted.toSeq != (0 until centRows.length))
        Seq("centroids" -> "cell ids not contiguous from 0")
      else Seq.empty) ++
      (if (cents.map(_.length).distinct.length > 1)
        Seq("centroids" -> "inconsistent centroid dims")
      else Seq.empty)
    val rows = cellsBranches(spark, indexPath, man.cellsDir)
      .reduce(_ unionByName _) // batch branches read with the base
                               // schema pinned, so the union never
                               // throws on a physically divergent batch
                               // — a missing pq_code surfaces as nulls,
                               // counted below
    val pqErrs =
      if (man.pq != rows.columns.contains("pq_code"))
        Seq("pq" -> (s"manifest pq=${man.pq} but pq_code column " +
          s"${if (man.pq) "missing" else "present"}"))
      else if (man.pq && !new Path(s"$indexPath/codebook")
          .getFileSystem(spark.sessionState.newHadoopConf())
          .exists(new Path(s"$indexPath/codebook")))
        Seq("pq" -> "manifest pq=true but no codebook sidecar")
      else Seq.empty
    // the row-level aggregate needs sane centroids; the sidecar/pq
    // findings above do not — report BOTH so a doubly-corrupt index
    // does not take two repair round-trips to diagnose
    if (centErrs.nonEmpty) return centErrs ++ pqErrs
    val dim = cents.head.length
    val pqNullCheck: Seq[org.apache.spark.sql.Column] =
      if (man.pq && rows.columns.contains("pq_code"))
        Seq(sum(when(col("pq_code").isNull, 1L).otherwise(0L))
          .as("null_codes"))
      else Seq.empty
    val aggCols = Seq(
      sum(when(col(man.idCol).isNull, 1L).otherwise(0L)).as("null_ids"),
      sum(when(col(man.vecCol).isNull ||
        size(col(man.vecCol)) =!= dim, 1L).otherwise(0L)).as("bad_dims"),
      sum(when(col("cell_id") < 0 || col("cell_id") >= man.nCells, 1L)
        .otherwise(0L)).as("range"),
      // guard on dim first: a malformed vector must count as bad_dims,
      // not crash the assignment kernel
      sum(when(col(man.vecCol).isNotNull &&
        size(col(man.vecCol)) === dim &&
        col("cell_id") =!= graft.functions.nearest_centroid(
          col(man.vecCol), cents, man.metric.id), 1L).otherwise(0L))
        .as("assign")) ++ pqNullCheck
    val a = rows.agg(aggCols.head, aggCols.tail: _*).head()
    def nz(i: Int, comp: String, what: String): Seq[(String, String)] =
      if (a.isNullAt(i) || a.getLong(i) == 0L) Seq.empty
      else Seq(comp -> s"${a.getLong(i)} $what")
    pqErrs ++
      nz(0, "rows", s"rows with null ${man.idCol}") ++
      nz(1, "rows", s"vectors not of dim $dim") ++
      nz(2, "cells", s"cell_id out of [0, ${man.nCells})") ++
      nz(3, "cells", "rows not in their nearest-centroid cell") ++
      (if (pqNullCheck.nonEmpty)
        nz(4, "pq", "rows with null pq_code") else Seq.empty)
  }

  // ---- manifest I/O (java.util.Properties: no extra deps) ----

  def writeManifest(indexPath: String, man: Manifest): Unit = {
    val props = new java.util.Properties()
    props.setProperty("id_col", man.idCol)
    props.setProperty("vec_col", man.vecCol)
    props.setProperty("metric", man.metric.name)
    props.setProperty("n_cells", man.nCells.toString)
    props.setProperty("pq", man.pq.toString)
    props.setProperty("cells_dir", man.cellsDir)
    val p = new Path(indexPath, "manifest.properties")
    val fs = p.getFileSystem(graft.HadoopConfs.driver())
    val out = fs.create(p, true)
    try props.store(out, "graft IVF index manifest")
    finally out.close()
  }

  def readManifest(indexPath: String): Manifest = {
    val p = new Path(indexPath, "manifest.properties")
    val fs = p.getFileSystem(graft.HadoopConfs.driver())
    require(fs.exists(p),
      s"no manifest at $p - this IVF index predates the manifest format; " +
        "rebuild it with IvfIndex.build")
    val in = fs.open(p)
    val props = new java.util.Properties()
    try props.load(in) finally in.close()
    Manifest(
      props.getProperty("id_col"),
      props.getProperty("vec_col"),
      Metric.fromName(props.getProperty("metric")),
      props.getProperty("n_cells").toInt,
      Option(props.getProperty("pq")).exists(_.toBoolean),
      Option(props.getProperty("cells_dir")).getOrElse("cells"))
  }
}
