package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, DoubleAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.ann.ShardCache

/** Input sizes of one benchmark size class. Warm-up counts are ops
  * (batch: calls) run before the timed loop; `setups` counts the set-ups
  * timed after the one that warms the JVM. */
final case class Sizes(
    vectors: Int, batch: Int, docs: Int, vocab: Int, hotTerms: Int,
    serveWarm: Int, batchWarm: Int, bm25Warm: Int,
    recallSample: Int, queryPool: Int, setups: Int)

object Sizes {
  val full = Sizes(vectors = 10000, batch = 1000, docs = 15000, vocab = 20000, hotTerms = 10,
    serveWarm = 16, batchWarm = 2, bm25Warm = 8,
    recallSample = 24, queryPool = 5000, setups = 3)
  /** Seconds-long inputs for the self-test. */
  val tiny = Sizes(vectors = 2000, batch = 100, docs = 2000, vocab = 2000, hotTerms = 10,
    serveWarm = 4, batchWarm = 1, bm25Warm = 4,
    recallSample = 6, queryPool = 500, setups = 2)
}

/** Latencies (ms) of the ops one timed loop completed. */
final case class Loop(lat: Seq[Double], busyS: Double, clients: Int) {
  def ops: Int = lat.size
}

/** State and measurement helpers of one benchmark run. */
final class Run(val workload: String, val seed: Long, seconds: Double, warmSeconds: Double,
    val sizes: Sizes, val spark: SparkSession, val tracer: Tracer,
    listener: OpListener, work: File) {
  val digest = new Gen.Digest
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val counters = new ConcurrentHashMap[String, DoubleAdder]()
  private var windowStartUs = Long.MaxValue
  private var gc0 = 0L

  /** End-to-end metric. A traced run reports the timed loop's figures
    * as `trace.<name>`, to set against the untraced run's. */
  def e2e(name: String, value: Double, unit: String): Unit =
    if (!tracer.on) metrics(name) = (value, unit)
    else if (Run.Traced(name)) metrics(s"trace.$name") = (value, unit)

  /** Per-layer metric, reported by traced runs only. */
  def layer(name: String, value: Double, unit: String): Unit =
    if (tracer.on) metrics(name) = (value, unit)

  /** Progress on stderr, stamped with the JVM's uptime. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1fs $msg")

  def check(failure: Option[String]): Unit = {
    attempted.incrementAndGet()
    failure.foreach { f =>
      if (failed.incrementAndGet() <= 5) System.err.println(s"[perfbench] wrong answer: $f")
    }
  }

  def count(name: String, v: Double): Unit =
    counters.computeIfAbsent(name, _ => new DoubleAdder).add(v)
  def counted(name: String): Double = Option(counters.get(name)).fold(0.0)(_.sum)

  def dir(name: String): String = new File(work, name).getAbsolutePath

  /** Bytes of the files under `path`, without checksum side files. */
  def bytesUnder(path: String): Long = {
    val f = new File(path)
    if (f.isDirectory) f.listFiles().map(c => bytesUnder(c.getPath)).sum
    else if (f.getName.startsWith(".")) 0L
    else f.length()
  }

  // ---- set-up ----

  private val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val buildS = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var buildRows = 0L
  private var buildLayer = ""

  /** Runs `body` once, to warm the JVM, and then once per counted
    * set-up, each in a fresh directory, deleting the previous one;
    * reports the median time of the counted set-ups and their builds,
    * and returns the last result. */
  def setups[T](body: String => T): T = {
    var out: Option[T] = None
    (0 to sizes.setups).foreach { rep =>
      if (rep > 0) Run.delete(new File(dir(s"setup${rep - 1}")))
      val (v, ms) = Run.timeMs(body(dir(s"setup$rep")))
      setupS += ms / 1000
      log(f"set-up $rep: ${ms / 1000}%.2f s")
      out = Some(v)
    }
    val build = Run.median(buildS.toSeq.drop(1))
    e2e("setup_s", Run.median(setupS.toSeq.drop(1)), "s")
    e2e("build_rows_per_s", buildRows / build, "rows/s")
    layer(buildLayer, build * 1000, "ms")
    out.get
  }

  /** Times the index or table build inside a set-up. */
  def timedBuild[T](layerName: String, rows: Long)(body: => T): T = {
    val (v, ms) = Run.timeMs(body)
    buildS += ms / 1000
    buildRows = rows
    buildLayer = layerName
    v
  }

  // ---- loops ----

  /** Resets the window's counters and baselines. */
  def startWindow(): Unit = {
    counters.clear()
    windowStartUs = tracer.nowUs
    gc0 = Run.gcMs()
  }

  /** The fixed warm-up ops 0 until `n`, then, if the run has extra
    * warm-up seconds, further ops for that long; returns the next op. */
  def warmup(clients: Int, n: Int, op: Int => () => Option[String]): Int = {
    runOps(clients, 0, n, _ => true, op)
    val until = System.nanoTime() + (warmSeconds * 1e9).toLong
    val extra = runOps(clients, n, Int.MaxValue, _ => System.nanoTime() < until, op)
    log(s"warm-up done: ${n + extra.size} ops")
    n + extra.size
  }

  /** `clients` threads each send their next op when the previous one
    * returns, ops `start`, `start + 1`, ..., for the run's seconds and
    * until the loop has the workload's minimum op count for its tail
    * percentile. A loop that has not reached that count after four
    * times the run's seconds fails the run. */
  def closedLoop(clients: Int, start: Int, op: Int => () => Option[String]): Loop = {
    startWindow()
    val minOps = Run.minOps(workload)
    val t0 = System.nanoTime()
    val want = (seconds * 1e9).toLong
    val lat = runOps(clients, start, Int.MaxValue, done => {
      val elapsed = System.nanoTime() - t0
      (elapsed < want || done < minOps) && elapsed < 4 * want
    }, op)
    log(s"loop done: ${lat.size} ops")
    if (lat.size < minOps) throw new IllegalStateException(
      s"tail_ms unresolved: ${lat.size} ops in ${4 * seconds} s, p${Run.Tail(workload) * 100} " +
        s"needs $minOps")
    Loop(lat, lat.sum / 1000, clients)
  }

  /** Runs ops `start` until `end` on `clients` threads while `more`
    * holds for the number of ops completed; returns their latencies. */
  private def runOps(clients: Int, start: Int, end: Int, more: Int => Boolean,
      op: Int => () => Option[String]): Seq[Double] = {
    val next = new AtomicInteger(start)
    val done = new AtomicInteger(0)
    val lat = new ConcurrentLinkedQueue[Double]()
    val checks = new ConcurrentLinkedQueue[() => Option[String]]()
    val threads = (0 until clients).map { _ =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < end && more(done.get)) {
          val t0 = System.nanoTime()
          val chk = try op(i) catch {
            case e: Exception => () => Some(s"op $i failed: $e")
          }
          lat.add((System.nanoTime() - t0) / 1e6)
          checks.add(chk)
          done.incrementAndGet()
          i = next.getAndIncrement()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    checks.asScala.foreach(c => check(c()))
    lat.asScala.toSeq
  }

  /** ops_per_s (work units per second busy per client), p50_ms, tail_ms. */
  def loopMetrics(loop: Loop, work: Long): Unit = {
    val pct = Run.Tail(workload)
    e2e("ops_per_s", work / (loop.busyS / loop.clients), "1/s")
    e2e("p50_ms", Run.percentile(loop.lat, 0.5), "ms")
    e2e("tail_ms", Run.percentile(loop.lat, pct), "ms")
  }

  /** Mean recall over the fixed sample; ops that never ran count 0. */
  def recall(xs: Seq[Double]): Unit = {
    if (xs.size < sizes.recallSample)
      System.err.println(s"[perfbench] recall sample short: ${xs.size} of ${sizes.recallSample}")
    e2e("recall_at_10", xs.sum / sizes.recallSample, "ratio")
  }

  // ---- tracing ----

  private def windowSpans: Seq[Span] =
    Trace.nest(tracer.spans.asScala.toSeq.filter(_.start >= windowStartUs))

  /** Mean duration (ms) of the window's spans called `name`. */
  def spanMs(name: String): Double = {
    val xs = windowSpans.filter(_.name == name)
    if (xs.isEmpty) 0.0 else xs.map(_.dur).sum / 1000.0 / xs.size
  }

  /** Times `Hnsw.search` on the op's query, outside the op. */
  def traceKernel(shards: Seq[String], q: Array[Float], k: Int): Unit =
    if (tracer.on) {
      count("ann.hnsw_search_us", Workloads.kernelSearchUs(shards, q, k))
      count("ann.hnsw_searches", 1)
    }

  /** The Spark layer's per-op figures over the window's `root` ops. */
  def sparkLayer(root: String): Unit = if (tracer.on) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val spans = windowSpans
    val roots = spans.filter(s => s.id == s.op && s.name == root)
    val ids = roots.map(_.id).toSet
    val inOps = spans.filter(s => ids(s.op))
    val n = math.max(roots.size, 1).toDouble
    Seq("analysis", "optimization", "planning").foreach { p =>
      layer(s"spark.${p}_ms",
        inOps.filter(_.name == s"spark.$p").map(_.dur).sum / 1000.0 / n, "ms")
    }
    val w = ids.toSeq.flatMap(listener.work.get)
    def per(f: OpWork => Double) = w.map(f).sum / n
    layer("spark.jobs_per_op", per(_.jobs), "count")
    layer("spark.stages_per_op", per(_.stages), "count")
    layer("spark.tasks_per_op", per(_.tasks), "count")
    layer("spark.driver_ms_per_op", Trace.outsideJobs(inOps) / 1000.0 / n, "ms")
    layer("spark.executor_run_ms_per_op", per(_.runMs), "ms")
    layer("spark.executor_cpu_ms_per_op", per(_.cpuNs / 1e6), "ms")
    layer("spark.shuffle_bytes_per_op", per(_.shuffleBytes), "B")
    layer("spark.rows_read_per_row_returned",
      w.map(_.recordsRead).sum / math.max(counted("rows_returned"), 1.0), "ratio")
    val self = Trace.selfTimes(inOps)
    layer("spark.exec_driver_ms_per_op",
      inOps.filter(_.name == "spark.execution").map(s => self(s.id)).sum / 1000.0 / n, "ms")
    // the share of the ops' wall that some named span inside the op covers
    layer("trace.op_wall_attributed",
      1 - roots.map(s => self(s.id)).sum.toDouble / math.max(roots.map(_.dur).sum, 1L), "ratio")
  }

  /** Figures every workload reports at the end of a traced run. */
  def finish(canaryBefore: Double, canaryAfter: Double): Unit = if (tracer.on) {
    val searches = counted("ann.hnsw_searches")
    if (searches > 0)
      layer("ann.hnsw_search_us", counted("ann.hnsw_search_us") / searches, "us")
    layer("ann.shardcache_bytes", ShardCache.cachedBytes.toDouble, "B")
    layer("host.canary_ms_before", canaryBefore, "ms")
    layer("host.canary_ms_after", canaryAfter, "ms")
    layer("jvm.heap_peak_mb", Run.heapPeakMb(), "MB")
    layer("jvm.gc_ms", (Run.gcMs() - gc0).toDouble, "ms")
  }

  /** All spans plus self time by span name, as JSON. */
  def traceJson: String = {
    val spans = Trace.nest(tracer.spans.asScala.toSeq).sortBy(_.start)
    val self = Trace.selfTimes(spans)
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (name, ss) =>
      s"${Run.q(name)}: {\"count\": ${ss.size}, \"total_ms\": ${ss.map(_.dur).sum / 1000.0}, " +
        s"\"self_ms\": ${ss.map(s => self(s.id)).sum / 1000.0}}"
    }
    val lines = spans.map(s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "name": ${Run.q(s.name)}, """ +
        s""""start_us": ${s.start}, "end_us": ${s.end}}""")
    s"""{"workload": ${Run.q(workload)}, "seed": $seed, "window_start_us": $windowStartUs,""" +
      s"""\n "self_time_by_name": {${byName.mkString(",\n  ")}},""" +
      s"""\n "spans": [\n${lines.mkString(",\n")}\n]}\n"""
  }
}

object Run {
  /** Tail percentile of each workload: the highest with at least ten
    * samples beyond it at the op count a 10-second loop completes on a
    * 4-core host in its slower periods (about 70, 40 and 40 ops). */
  val Tail: Map[String, Double] =
    Map("ann_serve" -> 0.85, "ann_batch" -> 0.75, "bm25_search" -> 0.75)

  /** The fewest loop ops that leave ten samples beyond the tail percentile. */
  def minOps(workload: String): Int = math.ceil(10 / (1 - Tail(workload)) - 1e-9).toInt

  /** End-to-end metrics a traced run also reports. */
  val Traced = Set("ops_per_s", "p50_ms", "tail_ms")

  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** A fixed CPU-bound loop; its time tracks how fast the host runs. */
  def canaryMs(): Double = {
    val times = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 0) System.err.println("")
      (System.nanoTime() - t0) / 1e6
    }
    median(times)
  }

  def delete(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(delete)
    f.delete()
  }

  def q(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--size full|tiny] [--warm-seconds <s>] [--trace-out <file>]`. Prints an input
  * digest line, then one JSON line of results. */
object Main {
  val Workloads = Seq("ann_serve", "ann_batch", "bm25_search")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val sizes = if (a.getOrElse("size", "full") == "tiny") Sizes.tiny else Sizes.full
    val work = new File(a("work"))
    System.err.println(s"[perfbench] jvm up at ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val canaryBefore = Run.canaryMs()
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val tracer = new Tracer(traced, spark.sparkContext)
      val listener = new OpListener(tracer)
      if (traced) spark.sparkContext.addSparkListener(listener)
      val run = new Run(workload, seed, a("seconds").toDouble,
        a.getOrElse("warm-seconds", "0").toDouble, sizes, spark,
        tracer, listener, work)
      run.log("session up")
      perfbench.Workloads.run(run)
      run.log("workload done")
      val canaryAfter = Run.canaryMs()
      run.log(f"canary before $canaryBefore%.1f ms, after $canaryAfter%.1f ms")
      run.finish(canaryBefore, canaryAfter)
      a.get("trace-out").filter(_ => traced).foreach { p =>
        java.nio.file.Files.writeString(java.nio.file.Path.of(p), run.traceJson)
      }
      println(s"perfbench workload=$workload seed=$seed inputs_sha256=${run.digest.hex}")
      val ms = run.metrics.map { case (k, (v, u)) =>
        s"${Run.q(k)}:{\"value\":$v,\"unit\":${Run.q(u)}}"
      }
      println(s"""{"correct":${run.failed.get == 0},"attempted":${run.attempted.get},""" +
        s""""failed":${run.failed.get},"metrics":{${ms.mkString(",")}}}""")
    } finally spark.stop()
  }
}
