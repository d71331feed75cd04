package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.operators.PipelineBoundaries

/** The parquet-boundary pipeline runner: every boundary bit-equal to
  * a plain-persist run of the same stage graph at two scales,
  * resume-from-boundary semantics (only the invalidated suffix
  * recomputes, including after a lost part file), and the Runner's
  * chained listing-stamp staleness discipline on a toy two-stage
  * pipeline. */
class PipelineBoundariesSpec extends SparkSpec {

  private val TQ = graft.queries.TextQueries

  private def freshRoot(): String =
    Files.createTempDirectory("graft_pb_spec").toString

  private def selectedRows(df: DataFrame): Seq[Row] =
    df.orderBy(col("source").asc, col("mix_rank").asc).collect().toSeq

  test("all seven boundaries == a plain-persist run, bit-equal at two scales") {
    for (scale <- Seq("sf0.001", "sf0.01")) {
      val dir = sf(scale)
      // the reference: the same stage graph over the same inputs, each
      // boundary a plain DISK_ONLY persist — no parquet, no registry
      val reference = TQ.pipelineStagesWith(spark, dir, (_, f) =>
        f().persist(org.apache.spark.storage.StorageLevel.DISK_ONLY))
      val (stages, reports) =
        TQ.pipelineBoundariesRun(spark, dir, root = Some(freshRoot()))
      try {
        assert(reports.forall(_.computed),
          s"fresh root at $scale must compute every boundary")
        assert(stages.map(_._1) == reference.map(_._1))
        // doc_id is unique in every boundary; the columns are integral,
        // strings and long arrays — exact equality is meaningful
        for (((stage, want), (_, got)) <- reference.zip(stages)) {
          val w = want.orderBy(col("doc_id")).collect().toSeq
          val g = got.orderBy(col("doc_id")).collect().toSeq
          assert(w.nonEmpty, s"empty $stage boundary at $scale")
          assert(g == w,
            s"parquet boundary $stage diverged from the reference at $scale")
        }
      } finally reference.foreach(_._2.unpersist())
    }
  }

  test("resume: valid boundaries are served; a deleted one recomputes itself and its suffix only") {
    val dir = sf("sf0.001")
    val root = freshRoot()
    def run() = {
      val (stages, reports) =
        TQ.pipelineBoundariesRun(spark, dir, root = Some(root))
      val rows = selectedRows(stages.last._2)
      (rows, reports.map(r => r.stage -> r.computed).toMap,
        reports.map(_.stage))
    }
    val (rows1, flags1, order) = run()
    assert(flags1.values.forall(identity), "first run computes all stages")
    assert(order == Seq("c4", "gok", "cls", "exd", "sh", "ndk", "selected"))

    val (rows2, flags2, _) = run()
    assert(flags2.values.forall(!_),
      s"second run must serve every boundary from disk: $flags2")
    assert(rows2 == rows1)

    // delete a MIDDLE boundary: the prefix stays served, the deleted
    // stage and everything chained after it recompute (the recompute
    // writes fresh part files, so downstream fingerprints move)
    val exdDir = new java.io.File(s"$root/exd")
    assert(exdDir.isDirectory)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(exdDir)
    val (rows3, flags3, _) = run()
    assert(flags3 == Map("c4" -> false, "gok" -> false, "cls" -> false,
      "exd" -> true, "sh" -> true, "ndk" -> true, "selected" -> true),
      s"resume flags wrong: $flags3")
    assert(rows3 == rows1, "resumed output must be identical")

    // corrupt a marker: that stage alone fails validation, recomputes,
    // and cascades the same way
    Files.writeString(java.nio.file.Paths.get(s"$root/sh/_graft_fingerprint"),
      "not-a-fingerprint")
    val (rows4, flags4, _) = run()
    assert(flags4 == Map("c4" -> false, "gok" -> false, "cls" -> false,
      "exd" -> false, "sh" -> true, "ndk" -> true, "selected" -> true),
      s"marker-corruption flags wrong: $flags4")
    assert(rows4 == rows1)
  }

  test("resume: a boundary that lost a part file recomputes with its suffix") {
    val dir = sf("sf0.001")
    val root = freshRoot()
    def run() = {
      val (stages, reports) =
        TQ.pipelineBoundariesRun(spark, dir, root = Some(root))
      (stages.toMap, reports.map(r => r.stage -> r.computed))
    }
    val (st1, flags1) = run()
    assert(flags1.forall(_._2), "first run computes all stages")
    val order = flags1.map(_._1)
    def parts(stage: String): Seq[java.io.File] =
      Option(new java.io.File(s"$root/$stage").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val victim = order.find(parts(_).size >= 2).getOrElse(fail(
      s"no boundary has two part files: ${order.map(s => s -> parts(s).size)}"))
    val rows1 = st1(victim).count()
    val sel1 = selectedRows(st1("selected"))
    // the marker still matches its fingerprint; only the payload
    // listing it records can tell the boundary is short
    assert(parts(victim).head.delete())
    val (st2, flags2) = run()
    val from = order.indexOf(victim)
    assert(flags2 == order.zipWithIndex.map { case (s, i) => s -> (i >= from) },
      s"after losing a part file of $victim: $flags2")
    assert(st2(victim).count() == rows1,
      s"$victim was served or recomputed short")
    assert(selectedRows(st2("selected")) == sel1,
      "the selection changed after the recompute")
  }

  test("Runner: seed change invalidates the whole chain; upstream recompute cascades") {
    import spark.implicits._
    val root = freshRoot()
    def pipeline(runner: PipelineBoundaries.Runner,
        mult: Int): DataFrame = {
      val a = runner.cache("a",
        () => Seq(1, 2, 3, 4).toDF("x").withColumn("y", col("x") * mult))
      runner.cache("b", () => a.filter(col("y") >= mult * 2))
    }
    val r1 = new PipelineBoundaries.Runner(spark, root, "seed-1")
    assert(pipeline(r1, 1).count() == 3)
    assert(r1.reports.forall(_.computed))

    val r2 = new PipelineBoundaries.Runner(spark, root, "seed-1")
    assert(pipeline(r2, 1).count() == 3)
    assert(r2.reports.forall(!_.computed), "same seed must serve both")

    // a different seed (new input stamp or params) recomputes from the
    // root — stale artifacts must never validate
    val r3 = new PipelineBoundaries.Runner(spark, root, "seed-2")
    assert(pipeline(r3, 2).collect().map(_.getInt(1)).sorted.toSeq ==
      Seq(4, 6, 8))
    assert(r3.reports.forall(_.computed), s"seed change: ${r3.reports}")

    // upstream recompute cascades: delete "a" only, "b"'s stored
    // fingerprint chains through a's fresh listing stamp and misses
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(s"$root/a"))
    val r4 = new PipelineBoundaries.Runner(spark, root, "seed-2")
    pipeline(r4, 2).count()
    assert(r4.reports.map(r => r.stage -> r.computed) ==
      Seq("a" -> true, "b" -> true))
  }

  test("concurrent Runners on one root: lock-fenced commits, every racer serves the same rows") {
    val root = freshRoot()
    def build(): Seq[Long] = {
      val r = new PipelineBoundaries.Runner(spark, root, "race-seed")
      val a = r.cache("a", () => spark.range(100).toDF("x")
        .withColumn("y", col("x") * 2))
      r.cache("b", () => a.filter(col("y") >= 100))
        .collect().map(_.getLong(0)).sorted.toSeq
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val fs = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = build()
        }))
      val results =
        fs.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      val expected = (50L until 100L).toSeq
      assert(results.forall(_ == expected),
        s"racer divergence: ${results.map(_.take(3))}")
    } finally pool.shutdown()
    // whichever writer won each commit, the surviving artifacts must
    // validate: a fresh runner serves both stages with ZERO recompute
    // (its thunks must never run)
    val r2 = new PipelineBoundaries.Runner(spark, root, "race-seed")
    r2.cache("a", () => { fail("racer left an invalid 'a' artifact") })
    r2.cache("b", () => { fail("racer left an invalid 'b' artifact") })
    assert(r2.reports.forall(!_.computed))
  }
}
