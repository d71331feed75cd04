package graft
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.Bridge

/** The measurement harness over the driver contract, one mode per
  * question:
  *
  * {{{
  * runMain graft.Bench                     # all: the driver's timed sweep
  * runMain graft.Bench one <q> [runs=3]    # one row's count(), run by run
  * runMain graft.Bench profile <q> [runs=2] # + the last run's Spark jobs
  * runMain graft.Bench plan <q...>         # final adaptive plan after a run
  * runMain graft.Bench caches              # all, then every SharedState frame
  * }}}
  *
  * Every mode reads the data directory from `SPARK_GRAFT_SF_DIR` and
  * the core count from `SPARK_GRAFT_CPUS`, and runs on [[session]] —
  * the driver's configuration — so a per-row number means the same
  * plan the full sweep times. Arguments are checked before any session
  * starts.
  *
  * `all` prints ONE JSON line. Failures are recorded per-query and for
  * the prepare step (status map) and make the process exit nonzero — a
  * broken query must never masquerade as a fast one. */
object Bench {

  sealed trait Mode
  object Mode {
    case object All extends Mode
    final case class One(query: String, runs: Int) extends Mode
    final case class Profile(query: String, runs: Int) extends Mode
    final case class Plan(queries: Seq[String]) extends Mode
    case object Caches extends Mode
  }

  private val modes = Seq("all", "one", "profile", "plan", "caches")
  private val usage = "usage: Bench [all | one <query> [runs] | " +
    "profile <query> [runs] | plan <query...> | caches]"

  /** The mode `args` name, or a message listing the valid choices. */
  def parse(args: Seq[String],
      names: collection.Set[String] = SparkEntry.queries.keySet)
      : Either[String, Mode] = {
    def query(q: String): Either[String, String] =
      if (names(q)) Right(q)
      else Left(s"unknown query '$q'; valid queries: " +
        names.toSeq.sorted.mkString(", "))
    def runs(r: Seq[String], dflt: Int): Either[String, Int] = r match {
      case Seq() => Right(dflt)
      case Seq(n) => n.toIntOption.filter(_ > 0)
        .toRight(s"runs must be a positive integer, got '$n'")
      case _ => Left(usage)
    }
    args match {
      case Seq() | Seq("all") => Right(Mode.All)
      case Seq("caches") => Right(Mode.Caches)
      case Seq("one", q, r @ _*) =>
        for (n <- query(q); k <- runs(r, 3)) yield Mode.One(n, k)
      case Seq("profile", q, r @ _*) =>
        for (n <- query(q); k <- runs(r, 2)) yield Mode.Profile(n, k)
      case Seq("plan", q, qs @ _*) =>
        (q +: qs).map(query).collectFirst { case Left(m) => Left(m) }
          .getOrElse(Right(Mode.Plan(q +: qs)))
      case Seq(m, _*) if !modes.contains(m) =>
        Left(s"unknown mode '$m'; valid modes: ${modes.mkString(", ")}\n$usage")
      case _ => Left(usage)
    }
  }

  /** The one session every main builds: `local[SPARK_GRAFT_CPUS]`,
    * one shuffle partition per core, UTC, no UI. */
  private[graft] def session(extraConf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    extraConf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One row's timed `count()`: `rows` is -1 unless `status` is "ok". */
  final case class Timed(name: String, secs: Double, status: String, rows: Long)

  /** One contract row timed the way the sweep times it. */
  private[graft] def time(spark: SparkSession, sfDir: String, name: String,
      query: (SparkSession, String) => DataFrame): Timed = {
    val t0 = System.nanoTime()
    val (status, rows) =
      try { ("ok", query(spark, sfDir).count()) }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED at $sfDir: ${e.getMessage}")
        (s"error:${e.getClass.getSimpleName}", -1L)
      }
    Timed(name, (System.nanoTime() - t0) / 1e9, status, rows)
  }

  /** `builds` ends with `prepare_wall`; `rows` is every contract row. */
  final case class Sweep(builds: Seq[(String, Double)], prepareStatus: String,
      rows: Seq[Timed])

  /** The timed pass: prepare, then every contract row in name order.
    * One-time artifact builds (HNSW/IVF/fvecs) run OUTSIDE the timed
    * region and are reported separately: a per-query number must mean
    * the steady-state probe, not probe+build. A failed prepare is a
    * failure of the run: the queries would otherwise build their
    * artifacts lazily inside the timed region. */
  private[graft] def sweep(spark: SparkSession, sfDir: String): Sweep = {
    // prepare_wall = what the driver waits for; the per-build seconds
    // are each build's own work on the prepare pool and do not sum to it
    val prepT0 = System.nanoTime()
    val (prepared, prepStatus) =
      try (SparkEntry.prepare(spark, sfDir), "ok")
      catch { case e: Throwable =>
        System.err.println(s"[bench] prepare FAILED at $sfDir: ${e.getMessage}")
        (Seq.empty[(String, Double)], s"error:${e.getClass.getSimpleName}")
      }
    val builds = prepared :+ ("prepare_wall", (System.nanoTime() - prepT0) / 1e9)
    Sweep(builds, prepStatus, SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, query) => time(spark, sfDir, name, query) })
  }

  /** One Spark job a profiled run started; times are epoch millis. */
  final case class Job(id: Int, startMs: Long, endMs: Long, tasks: Int,
      desc: String, tags: Set[String])

  /** Runs `body` under a job listener on `spark` and returns its result
    * with every job it started, in id order. The listener bus is
    * drained before the table is read, so the last JobEnd is never
    * missed, and the listener is removed afterwards. A job that has
    * not ended reports `endMs` -1. */
  private[graft] def jobsOf[T](spark: SparkSession)(body: => T): (T, Seq[Job]) = {
    val started = new ConcurrentHashMap[Int, Job]()
    val ended = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .filter(_.nonEmpty)
          .getOrElse(js.stageInfos.map(_.name).lastOption.getOrElse(""))
        // SparkContext.SPARK_JOB_TAGS, which is private[spark]
        val tags = Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
          .fold(Set.empty[String])(_.split(",").filter(_.nonEmpty).toSet)
        started.put(js.jobId, Job(js.jobId, js.time, -1L,
          js.stageInfos.map(_.numTasks).sum, desc, tags))
        ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        ended.put(je.jobId, je.time); ()
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val result = body
      Bridge.drainListenerBus(sc)
      (result, started.values.asScala.toSeq.sortBy(_.id)
        .map(j => j.copy(endMs = ended.getOrDefault(j.id, -1L))))
    } finally sc.removeSparkListener(listener)
  }

  /** One line per job: start offset from the first job, wall seconds,
    * task count, description — shows whether a slow row is one heavy
    * stage or a chain of small sequential jobs and broadcasts. */
  def jobTable(jobs: Seq[Job]): Seq[String] = {
    val t0 = if (jobs.isEmpty) 0L else jobs.map(_.startMs).min
    jobs.map { j =>
      val wall = if (j.endMs < 0) "   open" else f"${(j.endMs - j.startMs) / 1e3}%6.3fs"
      f"  job ${j.id}%3d  +${(j.startMs - t0) / 1e3}%6.2fs  $wall  ${j.tasks}%4d tasks  ${j.desc.take(100)}"
    }
  }

  private def runLine(i: Int, t: Timed): String =
    if (t.status == "ok") f"run $i: ${t.secs}%.3f s (${t.rows} rows)"
    else f"run $i: ${t.secs}%.3f s (${t.status})"

  def main(args: Array[String]): Unit = {
    val mode = parse(args.toSeq) match {
      case Right(m) => m
      case Left(msg) => System.err.println(msg); sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = session()
    def timeRow(q: String): Timed = time(spark, sfDir, q, SparkEntry.queries(q))
    mode match {
      case Mode.All => all(spark, sfDir) // stops the session before its summary
      case Mode.One(q, runs) =>
        // run 1 pays the row's lazy builds and codegen; later runs are
        // the steady state `all` times
        (1 to runs).foreach(i => println(runLine(i, timeRow(q))))
      case Mode.Profile(q, runs) =>
        (1 until runs).foreach(i => println(runLine(i, timeRow(q))))
        val (t, jobs) = jobsOf(spark)(timeRow(q))
        println(runLine(runs, t))
        jobTable(jobs).foreach(println)
      case Mode.Plan(qs) =>
        qs.foreach { n =>
          val df = SparkEntry.queries(n)(spark, sfDir)
          // collect() drives THIS Dataset's queryExecution (count()
          // would plan a separate aggregate and leave this plan
          // un-executed), so the explain prints the final adaptive
          // plan that ran, with its stage reuse decided
          df.collect()
          println(s"===== $n (executed) =====")
          println(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        }
      case Mode.Caches =>
        // partition width of every registry frame after a full sweep:
        // a steady-read cache with N near-empty partitions costs an
        // N-task dispatch per stage in every consumer. Sizes: the
        // optimizer's estimate (joins plan with it) and the held bytes.
        // First, per prepare step: its seconds, jobs and tasks
        val (sw, jobs) = jobsOf(spark)(sweep(spark, sfDir))
        println(f"${"prepare step"}%-28s    secs  jobs  tasks")
        sw.builds.foreach { case (step, secs) =>
          val mine = jobs.filter(_.tags(SharedState.stepLabel(step)))
          println(f"$step%-28s $secs%7.2f ${mine.size}%5d ${mine.map(_.tasks).sum}%6d")
        }
        println(f"${"cache key"}%-40s parts      rows ${"estimatedB"}%12s ${"heldB"}%12s")
        SharedState.entries.foreach { case (key, df) =>
          val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
          println(f"$key%-40s ${df.rdd.getNumPartitions}%5d ${df.count()}%9d $est%12s ${heldBytes(spark, df)}%12d")
        }
    }
    if (mode != Mode.All) spark.stop()
  }

  /** The bytes a frame holds: memory + disk bytes the block manager
    * holds for a persisted frame's column buffers, the part files'
    * bytes (stat'ed now, not the scan's listing) for a parquet leaf. */
  private def heldBytes(spark: SparkSession, df: DataFrame): Long = {
    val conf = spark.sessionState.newHadoopConf()
    df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        val id = r.cacheBuilder.cachedColumnBuffers.id
        spark.sparkContext.getRDDStorageInfo.filter(_.id == id)
          .map(i => i.memSize + i.diskSize).sum
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.inputFiles.map { f =>
          val p = new Path(f)
          p.getFileSystem(conf).getFileStatus(p).getLen
        }.sum
    }.sum
  }

  private def all(spark: SparkSession, sfDir: String): Unit = {
    val Sweep(builds, prepStatus, results) = sweep(spark, sfDir)
    // 3-dp floats: millisecond resolution, far below the bench's noise
    // floor, and it halves the line so more of it survives a bounded
    // stdout-tail capture
    val qs = results.map(r => "\"" + r.name + "\":" + dp3(r.secs))
      .mkString("{", ",", "}")
    val statuses = ("prepare", prepStatus) +: results.map(r => (r.name, r.status))
    val st = statuses.map { case (k, s) => "\"" + k + "\":\"" + s + "\"" }
      .mkString("{", ",", "}")
    val bd = builds.map { case (k, v) => "\"" + k + "\":" + dp3(v) }
      .mkString("{", ",", "}")
    val failures = statuses.count(_._2 != "ok")
    val total = results.map(_.secs).sum
    // build_secs = the prepare wall, which `sweep` appends last
    val buildTotal = builds.last._2
    val line = s"""{"metric":"total","value":${dp3(total)},"unit":"sec","queries":$qs,"status":$st,"build":$bd,"build_secs":${dp3(buildTotal)},"failures":$failures,"sf":"$sfDir"}"""
    println(line)
    // also persist the full line: the driver's BENCH_r*.json keeps only
    // the tail of stdout, which truncates away the per-query times —
    // the committed artifact is the durable per-round evidence
    try {
      val sfName = java.nio.file.Paths.get(sfDir).getFileName.toString
      val out = java.nio.file.Paths.get("target", s"bench_$sfName.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, line + "\n")
      // on stdout, BEFORE the summary: a message on the other stream
      // can interleave after it in a merged capture
      println(s"[bench] full line written to $out")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}")
    }
    // stop first so no shutdown logging can land behind the summary
    spark.stop()
    System.err.flush()
    println(summaryLine(total, buildTotal, failures, results.length, sfDir))
    System.out.flush()
    if (failures > 0) sys.exit(1)
  }

  /** The SECOND, final, compact summary line (<300 bytes): the full
    * line is ~8 KB and a bounded stdout-tail capture truncates its
    * FRONT, losing the totals — this one is guaranteed inside any
    * tail. Per-query times live in the full line and in the target/
    * artifact. */
  def summaryLine(total: Double, buildSecs: Double, failures: Int,
      nQueries: Int, sfDir: String): String = {
    val sfName = java.nio.file.Paths.get(sfDir).getFileName
    s"""{"metric":"total","value":${dp3(total)},"unit":"sec","build_secs":${dp3(buildSecs)},"failures":$failures,"n_queries":$nQueries,"sf":"$sfDir","full_line":"target/bench_$sfName.json"}"""
  }

  private def dp3(v: Double): String = // Locale.ROOT: '.' even under comma locales
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
}
