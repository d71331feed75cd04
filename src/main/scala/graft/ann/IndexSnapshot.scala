package graft.ann

import java.io.{BufferedInputStream, DataInputStream, FileNotFoundException}
import scala.collection.concurrent.TrieMap
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** A file pinned at the version the driver saw: its `(mtime, length)`
  * stamp. Executors read a pinned file only while the stamp still
  * holds, so a probe either reads what the driver resolved or fails
  * with an error that names the file. */
case class Pinned(path: String, mtime: Long, length: Long)

object Pinned {

  // one per JVM: a new Configuration parses the site files again on first
  // use, milliseconds on every task
  private lazy val conf = new Configuration()

  /** The file system of `path` under this JVM's Hadoop configuration. */
  private[ann] def fs(path: String): FileSystem = new Path(path).getFileSystem(conf)

  private[ann] def of(path: String, st: FileStatus): Pinned =
    Pinned(path, st.getModificationTime, st.getLen)

  /** The file's current stamp (one `getFileStatus`). */
  private[ann] def stat(path: String): Pinned =
    of(path, fs(path).getFileStatus(new Path(path)))

  /** Read `pin` through `body`, then check that the file still carries
    * the pinned stamp. Checking after the read catches a replacement
    * that lands between the driver's listing and the open as well as
    * one during the read. */
  private[ann] def read[T](pin: Pinned)(body: DataInputStream => T): T = {
    val p = new Path(pin.path)
    val fs = Pinned.fs(pin.path)
    def gone(e: FileNotFoundException) = new IllegalStateException(
      s"${pin.path} is gone since this probe pinned it; re-run the probe", e)
    val in =
      try new DataInputStream(new BufferedInputStream(fs.open(p)))
      catch { case e: FileNotFoundException => throw gone(e) }
    val v = try body(in) finally in.close()
    val now = try of(pin.path, fs.getFileStatus(p))
      catch { case e: FileNotFoundException => throw gone(e) }
    if (now != pin) throw new IllegalStateException(
      s"${pin.path} changed since this probe pinned it " +
        s"(mtime ${pin.mtime}, ${pin.length} B -> mtime ${now.mtime}, " +
        s"${now.length} B); re-run the probe")
    v
  }
}

/** One consistent view of an HNSW index (reference: the index scan
  * reads one snapshot and skips the labels deleted before it,
  * scan.c:294-300): every shard file the manifest names and the newest
  * tombstone generation, each [[Pinned]]. The driver resolves it when
  * the probe runs ([[graft.plans.AnnScanExec]]) or when it builds the
  * probe's frame ([[AnnIndex.topKJoin]], [[AnnIndex.survivors]]);
  * executors only read the pinned files and never list a directory. */
case class IndexSnapshot(shards: Seq[Pinned], tombstones: Option[Pinned])

object IndexSnapshot {

  // directory listings per index path, for specs: a probe lists on the
  // driver only, once per directory that holds its files
  private val listings = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()
  private[graft] def listingCount(indexPath: String): Long =
    Option(listings.get(indexPath)).map(_.get()).getOrElse(0L)

  /** One listing of `dir` under the index at `indexPath`. */
  private[ann] def list(fs: FileSystem, indexPath: String, dir: Path): Array[FileStatus] = {
    listings.computeIfAbsent(indexPath,
      _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
    fs.listStatus(dir)
  }

  private def driverFs(indexPath: String): FileSystem =
    new Path(indexPath).getFileSystem(graft.HadoopConfs.driver())

  /** The snapshot of the index's current manifest. */
  def apply(indexPath: String): IndexSnapshot = {
    val fs = driverFs(indexPath)
    of(indexPath, AnnIndex.readManifest(indexPath, fs).shards, fs)
  }

  /** The snapshot of `shards` (manifest-relative names): one listing of
    * the index directory, plus one per append stage directory.
    * (`listFiles(root, recursive = true)` would be one paged LIST on an
    * object store, but on Hadoop's local FS it forks a shell per file to
    * read permissions.) */
  private[ann] def of(indexPath: String, shards: Seq[String],
      fs: FileSystem): IndexSnapshot = {
    val root = list(fs, indexPath, new Path(indexPath))
    val byDir = shards.map(dirOf).distinct.map { d =>
      val sts = if (d.isEmpty) root else list(fs, indexPath, new Path(indexPath, d))
      d -> sts.map(st => st.getPath.getName -> st).toMap
    }.toMap
    val pinned = shards.map { s =>
      val st = byDir(dirOf(s)).getOrElse(s.substring(s.lastIndexOf('/') + 1),
        throw new IllegalStateException(
          s"$indexPath/$s is named by the manifest but missing"))
      Pinned.of(s"$indexPath/$s", st)
    }
    IndexSnapshot(pinned, Tombstones.newest(indexPath, root))
  }

  private def dirOf(shard: String): String =
    shard.substring(0, math.max(shard.lastIndexOf('/'), 0))

  /** The newest tombstone generation of the index at `indexPath`, pinned
    * (one listing of the root) — what an IVF probe filters against. */
  def tombstonesOf(indexPath: String): Option[Pinned] =
    Tombstones.newest(indexPath,
      list(driverFs(indexPath), indexPath, new Path(indexPath)))
}

/** Deleted ids of an index: immutable numbered generations
  * `tombstones-g<n>.bin` (magic, count, sorted longs) under the index
  * root, each holding the full set, starting at the empty g0 that
  * [[AnnIndex.build]] / [[IvfIndex.build]] write. A probe reads the
  * generation its snapshot pinned or a newer one: every read looks up
  * the pin's successors by name (`g<n+1>`, `g<n+2>`, … — one
  * `getFileStatus` each, never a listing), so a frame run again after a
  * delete, by this process or another, sees it. A generation is pruned
  * only once two newer ones exist, so when neither the pin nor its
  * successor is left the probe fails naming the pin. Executors keep one
  * decoded array per index directory, keyed by the generation's stamp;
  * probes binary-search it. */
object Tombstones {
  private[ann] val Magic = 0x47544f4d // "GTOM"
  private val GenName = """tombstones-g(\d+)\.bin""".r
  // text, unnumbered and clock-named files of earlier versions
  private val LegacyName = """tombstones(\.txt|\.bin|-\d+\.bin)""".r

  private def generation(name: String): Option[Long] = name match {
    case GenName(d) => scala.util.Try(d.toLong).toOption
    case _ => None
  }

  private def fileOf(indexPath: String, gen: Long): String =
    f"$indexPath/tombstones-g$gen%012d.bin"

  /** Write the empty generation 0 a new index starts at, unless it
    * exists (a same-path rebuild keeps its generations). */
  private[ann] def init(indexPath: String, fs: FileSystem): Unit =
    try write(indexPath, fs, 0, Array.emptyLongArray)
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }

  /** The numbered generations in a listing of the index root, oldest
    * first, each pinned at its listed stamp. A tombstone file in a
    * format this version no longer reads fails loudly: ignoring it
    * would bring its deleted ids back. */
  private[ann] def generations(indexPath: String,
      listing: Array[FileStatus]): Seq[(Long, Pinned)] =
    listing.toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (LegacyName.matches(name)) throw new IllegalStateException(
        s"$indexPath/$name is a tombstone file of an earlier format that is no " +
          "longer read; delete its ids again through delete() and remove the file")
      generation(name).map(_ -> Pinned.of(s"$indexPath/$name", st))
    }.sortBy(_._1)

  private[ann] def newest(indexPath: String,
      listing: Array[FileStatus]): Option[Pinned] =
    generations(indexPath, listing).lastOption.map(_._2)

  /** Write generation `gen`. create(overwrite = false): an already-exists
    * race surfaces as IOException for the caller to resolve. */
  private[ann] def write(indexPath: String, fs: FileSystem, gen: Long,
      ids: Array[Long]): Path = {
    val p = new Path(fileOf(indexPath, gen))
    val out = new java.io.DataOutputStream(
      new java.io.BufferedOutputStream(fs.create(p, false)))
    try {
      out.writeInt(Magic)
      out.writeInt(ids.length)
      ids.foreach(out.writeLong)
    } finally out.close()
    p
  }

  /** The ids of exactly generation `pin` (the write paths, which merge
    * from the generation their own listing found). */
  private[ann] def read(pin: Pinned): Array[Long] = Pinned.read(pin) { in =>
    require(in.readInt() == Magic, s"${pin.path} is not a graft tombstone file")
    val a = new Array[Long](in.readInt())
    var i = 0
    while (i < a.length) { a(i) = in.readLong(); i += 1 }
    a
  }

  /** `pin`, or the newest generation written after it: successors are
    * looked up by name until one is missing. (No pin: an index written
    * before generation 0 existed, with no deletes when it was pinned.) */
  private def current(indexPath: String, pin: Option[Pinned]): Option[Pinned] = {
    val fs = Pinned.fs(indexPath)
    def at(gen: Long): Option[Pinned] = {
      val f = fileOf(indexPath, gen)
      try Some(Pinned.of(f, fs.getFileStatus(new Path(f))))
      catch { case _: FileNotFoundException => None }
    }
    val gen = pin.fold(0L)(p => generation(new Path(p.path).getName).get)
    at(gen + 1) match {
      case None =>
        pin.foreach { p =>
          if (at(gen).isEmpty) throw new IllegalStateException(
            s"${p.path} and its successor were pruned since this probe pinned " +
              "it (three or more deletes ran since); build the probe again")
        }
        pin
      case Some(next) =>
        var (g, cur) = (gen + 1, next)
        var succ = at(g + 1)
        while (succ.isDefined) { g += 1; cur = succ.get; succ = at(g + 1) }
        Some(cur)
    }
  }

  // index directory -> (pinned generation, its sorted ids); a newer
  // generation replaces its predecessor's entry
  private val cache = TrieMap[String, (Pinned, Array[Long])]()
  private val MaxEntries = 256 // arrays re-read on demand; a full clear is cheap

  /** The sorted dead ids of the index at `indexPath` as of now, reading
    * the generation `pin` or a newer one (empty when there is none). */
  def load(indexPath: String, pin: Option[Pinned]): Array[Long] =
    current(indexPath, pin) match {
      case None => Array.emptyLongArray
      case Some(p) =>
        cache.get(indexPath) match {
          case Some((q, arr)) if q == p => arr
          case _ =>
            val arr = read(p)
            if (cache.size >= MaxEntries) cache.clear()
            cache.put(indexPath, (p, arr))
            arr
        }
    }

  /** The graph search's skip predicate (null = no deletes, so the
    * search skips the filter branch entirely). */
  private[graft] def skip(indexPath: String, pin: Option[Pinned]): Long => Boolean = {
    val dead = load(indexPath, pin)
    if (dead.isEmpty) null
    else id => java.util.Arrays.binarySearch(dead, id) >= 0
  }
}
