package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet-boundary runner for the composed curation pipeline — the
  * CLUSTER-literal form of [[CurationPipeline]]'s materialization
  * policy: each stage boundary is written as a parquet artifact under
  * one root directory and re-read by every downstream consumer, so a
  * pipeline whose stages run as SEPARATE jobs (the production shape)
  * resumes from whatever boundaries are still valid instead of
  * recomputing the funnel from the input scan. Every contract
  * consumer of a stage boundary reads these artifacts.
  *
  * Reference context: this is the engine-level analog of the
  * reference daemon's job-table persistence
  * (lantern_extras/src/daemon.rs:121-399 — jobs record their
  * progress durably and a restarted daemon resumes from the stored
  * state rather than re-running finished work).
  *
  * Staleness discipline (the listing-stamp fingerprint the autotune
  * artifact cache already uses, [[graft.ann.Autotune.listingStamp]]):
  * every stage's expected fingerprint CHAINS through the actual
  * on-disk identity of its upstream boundary —
  *
  *   expected(stage_i) = md5(resolvedChain(stage_{i-1}) ++ stage_i)
  *   resolvedChain(stage_i) = expected(stage_i) ++ listingStamp(dir_i)
  *
  * seeded by the caller's input fingerprint (input-data listing stamp
  * + a parameter string). A boundary is served from disk only while
  * its stored marker equals its expected fingerprint; because the
  * chain folds in the LISTING STAMP of each resolved artifact (part
  * file names are fresh per write), a recomputed upstream boundary
  * invalidates everything downstream of it, a deleted boundary
  * recomputes itself and cascades, and a changed input (new files,
  * new lengths, new mtimes) or changed parameters recomputes the
  * whole funnel — while an untouched prefix is NEVER recomputed.
  * The marker also records the sorted names and byte lengths of the
  * payload files, so a boundary that lost or truncated a part file
  * fails validation and recomputes (cascading like a deleted one)
  * instead of being served short.
  *
  * Scale shape: validity checks are driver-side directory listings
  * (milliseconds); a served boundary is a bare parquet scan leaf —
  * zero lineage, zero re-analysis, readable by any number of
  * downstream jobs on any executor.
  *
  * Concurrent-writer fencing: each writer computes into a
  * WRITER-UNIQUE hidden tmp sibling (UUID suffix — two writers never
  * share a staging path), writes the fingerprint marker LAST, and
  * commits (delete stale dir + rename tmp) only while holding a
  * create-exclusive per-artifact lock file; a writer that loses the
  * race re-validates under the lock and, finding the winner's
  * artifact already valid for the same fingerprint, discards its own
  * tmp and serves the committed one. A crash mid-write leaves either
  * the old valid artifact or a missing one — never a half-written
  * boundary that validates (the marker is written after the payload
  * and travels inside the atomic rename). A lock abandoned by a
  * crashed writer is broken after [[PipelineBoundaries.LockWaitMs]]
  * — a live writer's commit window (one delete + one rename) is
  * milliseconds, so a minute-old lock is a corpse, not a commit.
  */
object PipelineBoundaries {

  /** How long a writer waits on another writer's commit lock before
    * treating it as abandoned (crashed writer) and breaking it. */
  private[operators] val LockWaitMs = 60000L

  /** What happened to one artifact this run: `computed` = the thunk
    * ran this run (the work was paid, whether or not this writer won
    * a concurrent commit race); false = served from disk. `resolved`
    * is the chain state AFTER folding this artifact's on-disk
    * identity — the seed for artifacts DERIVED from this boundary
    * (see [[Derived]]). */
  final case class StageReport(stage: String, path: String,
      computed: Boolean, fingerprint: String, resolved: String = "")

  /** Input-side fingerprint seed: the listing stamps of every input
    * path (the autotune discipline — names + lengths + mtimes) plus
    * the caller's parameter string (budgets, thresholds, pipeline
    * version), so both data changes and parameter changes invalidate
    * the chain from the root. Bump the version token in `params`
    * whenever stage LOGIC changes — data and params alone cannot see
    * a code change. */
  def seedOf(spark: SparkSession, inputPaths: Seq[String],
      params: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val stamps = inputPaths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      s"$p=${graft.ann.Autotune.listingStamp(fs, path)}"
    }
    (stamps :+ s"params=$params").mkString(";")
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The shared resolve/commit machinery under one artifact root:
    * marker validation, writer-unique staging, lock-fenced atomic
    * commit. [[Runner]] (the chained stage boundaries) and
    * [[Derived]] (artifacts hanging off a resolved chain) are both
    * thin layers over it. */
  private[operators] final class Store(spark: SparkSession,
      rootDir: String) {
    private val conf = spark.sessionState.newHadoopConf()
    val root = new Path(rootDir)
    val fs = root.getFileSystem(conf)
    private val Marker = "_graft_fingerprint"

    /** ANY read failure (missing, short read, truncated, checksum
      * mismatch after an out-of-band edit) means "not valid —
      * recompute", never a crash: the marker is a validity witness,
      * not data. Reads loop to EOF — a single read() is allowed to
      * return short (likely on remote filesystems) and a truncated
      * fingerprint would spuriously invalidate a good boundary. */
    private[operators] def readMarker(dir: Path): Option[String] = {
      val m = new Path(dir, Marker)
      try {
        if (!fs.exists(m)) None
        else {
          val in = fs.open(m)
          try {
            val out = new java.io.ByteArrayOutputStream(64)
            val buf = new Array[Byte](64)
            var n = in.read(buf)
            while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
            Some(out.toString("UTF-8").trim)
          } finally in.close()
        }
      } catch { case _: java.io.IOException => None }
    }

    /** What a valid marker in `dir` reads: the fingerprint, then one
      * `name=bytes` line per payload file (every file but the marker
      * and its checksum sidecar), sorted by name. */
    private def markerOf(dir: Path, expected: String): String =
      (expected +: fs.listStatus(dir).toSeq
        .filterNot(_.getPath.getName.contains(Marker))
        .map(st => s"${st.getPath.getName}=${st.getLen}").sorted)
        .mkString("\n")

    private[operators] def valid(dir: Path, expected: String): Boolean =
      try readMarker(dir).contains(markerOf(dir, expected))
      catch { case _: java.io.IOException => false }

    private def tryLock(lock: Path): Boolean =
      try { fs.create(lock, false).close(); true }
      catch { case _: java.io.IOException => false }

    /** Serve `name` if its marker matches `expected`, else compute via
      * `write` into a writer-unique tmp and commit under the artifact's
      * create-exclusive lock. Returns true iff the thunk ran. */
    private[operators] def resolve(name: String, expected: String)(
        write: Path => Unit): Boolean = {
      val dir = new Path(root, name)
      if (valid(dir, expected)) return false
      fs.mkdirs(root)
      val tmp = new Path(root,
        s".$name.tmp-${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        write(tmp)
        // marker LAST: its presence inside the committed dir witnesses
        // a complete payload, and its listing pins that payload's files
        val marker = markerOf(tmp, expected)
        val out = fs.create(new Path(tmp, Marker), true)
        try out.write(marker.getBytes("UTF-8")) finally out.close()
        val lock = new Path(root, s".$name.lock")
        val deadline = System.nanoTime() + LockWaitMs * 1000000L
        var done = false
        while (!done) {
          if (tryLock(lock)) {
            try {
              // re-check under the lock: a concurrent writer may have
              // committed the same fingerprint while we computed
              if (!valid(dir, expected)) {
                if (fs.exists(dir)) fs.delete(dir, true)
                if (!fs.rename(tmp, dir))
                  throw new java.io.IOException(
                    s"PipelineBoundaries: could not commit $tmp -> $dir")
              }
            } finally fs.delete(lock, false)
            done = true
          } else if (System.nanoTime() > deadline) {
            fs.delete(lock, false) // break a crashed writer's corpse
          } else Thread.sleep(25)
        }
        true
      } finally if (fs.exists(tmp)) fs.delete(tmp, true)
    }
  }

  /** One run's cache hook over `rootDir`, seeded by [[seedOf]]. NOT
    * thread-safe and NOT reusable — build a fresh instance per
    * pipeline invocation (the chain state advances as
    * [[CurationPipeline.stages]] calls the hook in stage order).
    * Concurrent Runners over the SAME root are safe: commits are
    * lock-fenced (see the object scaladoc) — exactly one writer's
    * artifact lands per fingerprint and every racer serves it. */
  final class Runner(spark: SparkSession, rootDir: String, seed: String) {
    private val store = new Store(spark, rootDir)
    private var chain: String = md5Hex(seed)
    private val log = ArrayBuffer.empty[StageReport]

    /** Per-stage resolution reports, in pipeline order. */
    def reports: Seq[StageReport] = log.toSeq

    /** The hook to pass as [[CurationPipeline.stages]]' `cache`. */
    def cache(stage: String, f: () => DataFrame): DataFrame = {
      val dir = new Path(store.root, stage)
      val expected = md5Hex(s"$chain:$stage")
      val computed = store.resolve(stage, expected) { tmp =>
        f().write.mode("overwrite").parquet(tmp.toString)
      }
      // downstream validity chains through the ARTIFACT's identity:
      // a recompute writes fresh part files, so the stamp — and with
      // it every downstream expected fingerprint — moves
      chain = md5Hex(
        s"$expected:${graft.ann.Autotune.listingStamp(store.fs, dir)}")
      log += StageReport(stage, dir.toString, computed, expected, chain)
      spark.read.parquet(dir.toString)
    }
  }

  /** Fingerprint-guarded artifacts DERIVED from a resolved chain
    * state rather than extending it — the streaming door's prepared
    * corpus tables (hash table, MinHash signatures, hashed shingles,
    * the serialized bloom, the DSIR weight array), each a pure
    * function of the batch pipeline's kept boundary. Every artifact's
    * expected fingerprint is md5(seedChain, name): a moved upstream
    * chain (corpus rebuild) invalidates ALL derived artifacts at
    * once, while the artifacts stay independent of each other — a
    * deleted one recomputes alone. Same commit fencing as [[Runner]];
    * same restart story as the reference daemon's stored job spec
    * outliving the process (lantern_extras/src/daemon.rs:149-171).
    *
    * Scale shape: each table is one narrow pass over the (already
    * funnel-reduced) kept boundary, written once per corpus version
    * and then read as a bare parquet leaf by every ingest job; the
    * blobs (bloom, weights) are driver-built once and streamed to
    * executors by the consumers that broadcast them. */
  final class Derived(spark: SparkSession, rootDir: String,
      seedChain: String) {
    private val store = new Store(spark, rootDir)
    private val log = ArrayBuffer.empty[StageReport]

    def reports: Seq[StageReport] = log.toSeq

    private def expectedOf(name: String): String =
      md5Hex(s"$seedChain:derived:$name")

    /** A derived parquet table: serve if valid, else write `f()`. */
    def table(name: String)(f: () => DataFrame): DataFrame = {
      val expected = expectedOf(name)
      val dir = new Path(store.root, name)
      val computed = store.resolve(name, expected) { tmp =>
        f().write.mode("overwrite").parquet(tmp.toString)
      }
      log += StageReport(name, dir.toString, computed, expected)
      spark.read.parquet(dir.toString)
    }

    /** A derived binary artifact (one `payload` file — e.g. the
      * serialized bloom filter or the DSIR weight array): serve if
      * valid, else stream `write` into it. Returns the payload path. */
    def blob(name: String)(write: java.io.OutputStream => Unit): String = {
      val expected = expectedOf(name)
      val dir = new Path(store.root, name)
      val computed = store.resolve(name, expected) { tmp =>
        val out = store.fs.create(new Path(tmp, "payload"), true)
        try write(out) finally out.close()
      }
      log += StageReport(name, dir.toString, computed, expected)
      new Path(dir, "payload").toString
    }

    /** Open a blob payload written by [[blob]]. */
    def open(payloadPath: String): java.io.InputStream =
      store.fs.open(new Path(payloadPath))
  }
}
