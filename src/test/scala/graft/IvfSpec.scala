package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ann.{IvfIndex, Metric}
import graft.dedup.Dedup

/** IVF index: partition pruning reaches the scan; recall scales with
  * nprobe; LSH bucket cap keeps mega-cluster pair counts linear. */
class IvfSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")

  private lazy val corpus: Array[(Long, Array[Float])] =
    emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  test("IVF probes all cells -> exact; the scan is partition-pruned") {
    val dir = Files.createTempDirectory("ivf").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir,
      IvfIndex.Params(nCells = 16))
    val q = corpus.head._2
    val all = IvfIndex.topK(spark, dir, q, 10, nprobe = 16)
    val exact = corpus.map { case (id, v) => (id, Metric.L2Sq.dist(q, v)) }
      .sortBy(x => (x._2, x._1)).take(10).map(_._1).toSeq
    assert(all.collect().map(_.getLong(0)).toSeq == exact)
    // nprobe=2 reads only 2 of 16 partitions: visible as PartitionFilters
    val pruned = IvfIndex.topK(spark, dir, q, 10, nprobe = 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell_id"),
      "expected the cell filter to prune partitions at the scan")
    // pruned search still returns k rows in distance order
    val got = pruned.collect()
    assert(got.length == 10)
    assert(got.map(_.getDouble(1)).toSeq.sorted == got.map(_.getDouble(1)).toSeq)
  }

  test("topK with a query of the wrong dimension raises the reference error") {
    val dir = Files.createTempDirectory("ivf_dim").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir, IvfIndex.Params(nCells = 4))
    val q = corpus.head._2
    for (bad <- Seq(q :+ 1f, q.init)) {
      val e = intercept[IllegalArgumentException](
        IvfIndex.topK(spark, dir, bad, 10, nprobe = 2).collect())
      assert(e.getMessage.contains("expected equally sized arrays"), e.getMessage)
    }
  }

  test("targetRecall derives nprobe through topK/topKJoin; explicit stays fallback") {
    val dir = Files.createTempDirectory("ivf_target").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir,
      IvfIndex.Params(nCells = 16))
    val q = corpus.head._2
    val exact = corpus.map { case (id, v) => (id, Metric.L2Sq.dist(q, v)) }
      .sortBy(x => (x._2, x._1)).take(10).map(_._1).toSeq
    // no artifact -> explicit nprobe stands (all-cells here, so exact)
    assert(IvfIndex.topK(spark, dir, q, 10, nprobe = 16,
        targetRecall = Some(0.9))
      .collect().map(_.getLong(0)).toSeq == exact)
    // synthetic artifact: only the full probe qualifies for 0.9 — the
    // derived nprobe (16) must drive the scan even with explicit 1
    import spark.implicits._
    Seq((16, 1, 0.4, 0.06, 1L, 1L), (16, 16, 0.95, 1.0, 1L, 1L))
      .toDF("n_cells", "nprobe", "recall", "scan_fraction", "build_ms",
        "search_ms")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$dir/autotune_results")
    assert(IvfIndex.topK(spark, dir, q, 10, nprobe = 1,
        targetRecall = Some(0.9))
      .collect().map(_.getLong(0)).toSeq == exact,
      "derived nprobe must replace the pinned value")
    // unattainable target -> the explicit nprobe stands
    assert(IvfIndex.topK(spark, dir, q, 10, nprobe = 16,
        targetRecall = Some(0.999))
      .collect().map(_.getLong(0)).toSeq == exact)
    // the routed batch join honors the same derivation
    val probes = emb.select(col("vec_id").as("qid"),
      col("embedding").as("qv")).orderBy("qid").limit(5)
    val joined = IvfIndex.topKJoin(probes, "qid", "qv", dir, 10,
      nprobe = 1, targetRecall = Some(0.9))
    val exactJoin = IvfIndex.topKJoin(probes, "qid", "qv", dir, 10,
      nprobe = 16)
    assert(joined.collect().map(_.toSeq).toSet ==
      exactJoin.collect().map(_.toSeq).toSet)
  }

  test("IVF recall is high on clustered data at small nprobe") {
    import spark.implicits._
    val rnd = new java.util.Random(9)
    val centers = Array.fill(16)(Array.fill(8)(rnd.nextFloat() * 10f))
    val pts = for {
      c <- centers.indices; j <- 0 until 20
    } yield ((c * 20 + j).toLong,
      centers(c).map(x => x + rnd.nextFloat() * 0.2f).toSeq)
    val df = pts.toDF("id", "v")
    val dir = Files.createTempDirectory("ivfc").toString
    IvfIndex.build(df, "id", "v", dir, IvfIndex.Params(nCells = 16,
      sampleLimit = pts.length, seed = 1L))
    val q = pts.head._2.toArray
    val exact = pts.map { case (id, v) => (id, Metric.L2Sq.dist(q, v.toArray)) }
      .sortBy(x => (x._2, x._1)).take(10).map(_._1).toSet
    val got = IvfIndex.topK(spark, dir, q, 10, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    assert(exact.intersect(got).size >= 9,
      s"IVF recall on clustered data: ${exact.intersect(got).size}/10")
  }

  test("centroid training spans a source-sorted corpus (no prefix bias)") {
    import spark.implicits._
    // 16 well-separated clusters, rows ORDERED by cluster (the shape of
    // a corpus sorted by source/crawl-date) and a sample budget smaller
    // than ONE cluster: a prefix limit() would train all centroids on
    // cluster 0, collapsing every other cluster into a couple of cells;
    // the hash-order sample draws uniformly, so the built index uses
    // (nearly) all its cells
    val rnd = new java.util.Random(5)
    val centers = Array.tabulate(16)(c => Array.fill(8)(rnd.nextFloat() * 20f))
    val pts = for {
      c <- centers.indices; j <- 0 until 200
    } yield ((c * 200 + j).toLong,
      centers(c).map(x => x + rnd.nextFloat() * 0.3f).toSeq)
    val df = pts.toDF("id", "v") // already in cluster order
    val dir = Files.createTempDirectory("ivfsorted").toString
    IvfIndex.build(df, "id", "v", dir,
      IvfIndex.Params(nCells = 16, sampleLimit = 100, seed = 3L))
    val usedCells = spark.read.parquet(s"$dir/cells")
      .select("cell_id").distinct().count()
    assert(usedCells >= 12,
      s"centroids collapsed onto a prefix: only $usedCells/16 cells used")
  }

  test("routed batch KNN join: all-cells probe equals exact; routing prunes") {
    val dir = Files.createTempDirectory("ivfjoin").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir,
      IvfIndex.Params(nCells = 16))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    // exact when every cell is probed
    val joined = IvfIndex.topKJoin(queries, "vec_id", "embedding", dir,
        k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
      .sortBy(x => (x._1, x._2)).toSeq
    val exact = corpus.filter(_._1 < 10).sortBy(_._1).flatMap { case (qid, qv) =>
      corpus.map { case (id, v) => (id, Metric.L2Sq.dist(qv, v)) }
        .sortBy(x => (x._2, x._1)).take(5).zipWithIndex
        .map { case ((id, _), i) => (qid, i + 1, id) }
    }.toSeq
    assert(joined == exact)
    // a routed probe returns k rows for EVERY query (a zero-row result
    // would make a bare forall vacuously pass)
    val routed = IvfIndex.topKJoin(queries, "vec_id", "embedding", dir,
        k = 5, nprobe = 2)
      .groupBy("query_id").count().collect()
    assert(routed.length == 10)
    assert(routed.forall(_.getLong(1) == 5))
    // duplicate query rows must not corrupt routing or ranks: the
    // contract is one result set per distinct query id
    val dup = IvfIndex.topKJoin(queries.unionAll(queries), "vec_id",
        "embedding", dir, k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
      .sortBy(x => (x._1, x._2)).toSeq
    val single = IvfIndex.topKJoin(queries, "vec_id", "embedding", dir,
        k = 5, nprobe = 16)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(dup == single)
  }

  test("routed join switches off the query-vector broadcast past the conf'd bound") {
    val dir = Files.createTempDirectory("ivfbound").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir,
      IvfIndex.Params(nCells = 8))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    def run(limit: Long) = {
      spark.conf.set(GraftConf.IvfBroadcastQueryLimit, limit.toString)
      try IvfIndex.topKJoin(queries, "vec_id", "embedding", dir,
        k = 5, nprobe = 8)
      finally spark.conf.unset(GraftConf.IvfBroadcastQueryLimit)
    }
    val small = run(limit = 1000) // 10 distinct queries: inside the bound
    val big = run(limit = 4) // bound exceeded: vectors must not broadcast
    val smallPlan = small.queryExecution.executedPlan.toString
    val bigPlan = big.queryExecution.executedPlan.toString
    assert(!smallPlan.contains("ShuffledHashJoin"),
      "inside the bound the query frame should broadcast")
    assert(bigPlan.contains("ShuffledHashJoin"),
      "past the bound the query frame must shuffle-join, not broadcast")
    // same results either way
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
        .sortBy(x => (x._1, x._2)).toSeq
    assert(rows(small) == rows(big))
  }

  test("duplicate query ids with DIFFERENT vectors resolve deterministically") {
    import spark.implicits._
    val dir = Files.createTempDirectory("ivfdup").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir,
      IvfIndex.Params(nCells = 8))
    val vA = corpus(0)._2.toSeq
    val vB = corpus(1)._2.toSeq
    def run(df: org.apache.spark.sql.DataFrame) =
      IvfIndex.topKJoin(df, "id", "vec", dir, k = 3, nprobe = 8)
        .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
        .sortBy(x => (x._1, x._2)).toSeq
    // the chosen vector must not depend on row order or partitioning
    // (dropDuplicates kept whichever row a partition saw first)
    val ab = run(Seq((1L, vA), (1L, vB)).toDF("id", "vec").repartition(1))
    val ba = run(Seq((1L, vB), (1L, vA)).toDF("id", "vec").repartition(7))
    assert(ab == ba)
    // and it is one of the two vectors' true result sets
    val rA = run(Seq((1L, vA)).toDF("id", "vec"))
    val rB = run(Seq((1L, vB)).toDF("id", "vec"))
    assert(ab == rA || ab == rB)
    assert(rA != rB) // distinct vectors -> the check above is not vacuous
  }

  test("append assigns against frozen centroids; appended rows are probed") {
    val dir = Files.createTempDirectory("ivfapp").toString
    IvfIndex.build(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding",
      dir, IvfIndex.Params(nCells = 8))
    IvfIndex.append(emb.filter(col("vec_id") % 2 =!= 0), dir)
    val q = corpus.head._2
    val exact = corpus.map { case (id, v) => (id, Metric.L2Sq.dist(q, v)) }
      .sortBy(x => (x._2, x._1)).take(10).map(_._1).toSeq
    val got = IvfIndex.topK(spark, dir, q, 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact)
    // pruning still works after the append (the scan always prints a
    // PartitionFilters key, so assert the cell filter is actually in it)
    val pruned = IvfIndex.topK(spark, dir, q, 10, nprobe = 2)
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters: [cell_id"),
      s"expected a non-empty cell_id partition filter")
  }

  test("streamAppend: idempotent in every crash window, exact row counts") {
    val dir = Files.createTempDirectory("ivf_stream").toString + "/idx"
    val base = emb.filter(col("vec_id") < 100)
    IvfIndex.build(base, "vec_id", "embedding", dir,
      IvfIndex.Params(nCells = 8))
    def total(): Long = IvfIndex.cellsDf(spark, dir).count()
    assert(total() == 100)

    // batch 1 applies once, then a re-delivery is skipped by its marker
    val b1 = emb.filter(col("vec_id") >= 100 && col("vec_id") < 150)
    IvfIndex.applyStreamBatch(b1.toDF(), 1L, dir)
    assert(total() == 150)
    IvfIndex.applyStreamBatch(b1.toDF(), 1L, dir)
    assert(total() == 150, "re-delivered committed batch must be skipped")

    // crash window: batch 2 staged (partially or fully) but no marker
    // — invisible to readers; the re-delivery re-stages and commits
    val b2 = emb.filter(col("vec_id") >= 150 && col("vec_id") < 180)
    b2.limit(7).write.mode("overwrite").parquet(s"$dir/cells_batches/batch_2")
    assert(total() == 150, "an uncommitted stage must be invisible")
    IvfIndex.applyStreamBatch(b2.toDF(), 2L, dir)
    assert(total() == 180)
    IvfIndex.applyStreamBatch(b2.toDF(), 2L, dir)
    assert(total() == 180)

    // zero-row batch: marker only
    IvfIndex.applyStreamBatch(emb.filter(col("vec_id") < 0).toDF(), 3L, dir)
    assert(total() == 180)

    // appended rows are really probed: full probe == exact over all 180
    val all = emb.filter(col("vec_id") < 180)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = all.find(_._1 == 170L).get._2
    val exact = all.map { case (id, v) => (Metric.L2Sq.dist(q, v), id) }
      .sorted.take(5).map(_._2).toSeq
    val got = IvfIndex.topK(spark, dir, q, 5, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact)
  }

  test("routed join keeps per-branch dynamic pruning after a committed stream batch") {
    val dir = Files.createTempDirectory("ivf_dpp").toString + "/idx"
    IvfIndex.build(emb.filter(col("vec_id") < 400), "vec_id", "embedding",
      dir, IvfIndex.Params(nCells = 16))
    IvfIndex.applyStreamBatch(
      emb.filter(col("vec_id") >= 400).toDF(), 1L, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding"))
    val joined = IvfIndex.topKJoin(queries, "vec_id", "embedding", dir,
      k = 5, nprobe = 16)
    // DPP must reach BOTH branch scans (a Union above the scans would
    // silently drop it and re-read every cell of every branch)
    val plan = joined.queryExecution.executedPlan.toString
    val dppScans = plan.split("\n")
      .count(l => l.contains("dynamicpruningexpression"))
    assert(dppScans >= 2, s"expected DPP on base AND batch scans:\n$plan")
    // and the result over base+batch equals exact over the full corpus
    val got = joined.collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
      .sortBy(x => (x._1, x._2)).toSeq
    val exact = corpus.filter(_._1 < 5).sortBy(_._1).flatMap { case (qid, qv) =>
      corpus.map { case (id, v) => (id, Metric.L2Sq.dist(qv, v)) }
        .sortBy(x => (x._2, x._1)).take(5).zipWithIndex
        .map { case ((id, _), i) => (qid, i + 1, id) }
    }.toSeq
    assert(got == exact)
  }

  test("consolidate folds batches into a new generation; folded markers carry forward") {
    val dir = Files.createTempDirectory("ivf_consol").toString + "/idx"
    IvfIndex.build(emb.filter(col("vec_id") < 300), "vec_id", "embedding",
      dir, IvfIndex.Params(nCells = 8))
    val b1 = emb.filter(col("vec_id") >= 300 && col("vec_id") < 350)
    val b2 = emb.filter(col("vec_id") >= 350 && col("vec_id") < 400)
    IvfIndex.applyStreamBatch(b1.toDF(), 1L, dir)
    IvfIndex.applyStreamBatch(b2.toDF(), 2L, dir)
    assert(IvfIndex.cellsDf(spark, dir).count() == 400)

    assert(IvfIndex.consolidate(spark, dir))
    assert(IvfIndex.readManifest(dir).cellsDir.startsWith("cells_g"))
    assert(IvfIndex.cellsDf(spark, dir).count() == 400)

    // checkpoint replay of an already-FOLDED batch id must be skipped
    // (its marker was carried into the new generation)
    IvfIndex.applyStreamBatch(b1.toDF(), 1L, dir)
    assert(IvfIndex.cellsDf(spark, dir).count() == 400,
      "a folded batch was re-appended after consolidation")

    // new batches land against the new generation and are read
    val b3 = emb.filter(col("vec_id") >= 400 && col("vec_id") < 420)
    IvfIndex.applyStreamBatch(b3.toDF(), 3L, dir)
    assert(IvfIndex.cellsDf(spark, dir).count() == 420)

    // second consolidate folds b3 and removes superseded generations
    assert(IvfIndex.consolidate(spark, dir))
    assert(IvfIndex.cellsDf(spark, dir).count() == 420)
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(root).map(_.getPath.getName).toSet
    // retention: the just-superseded generation survives one cycle (so
    // in-flight readers keep their files); older ones are gone
    assert(!names.contains("cells"), s"two-cycle-old generation kept: $names")
    assert(names.count(_.matches("cells_g\\d+")) == 2, names)

    // nothing left to fold: no-op
    assert(!IvfIndex.consolidate(spark, dir))

    // search stays exact over the consolidated index
    val all = emb.filter(col("vec_id") < 420)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val q = all.find(_._1 == 410L).get._2
    val exact = all.map { case (id, v) => (Metric.L2Sq.dist(q, v), id) }
      .sorted.take(5).map(_._2).toSeq
    assert(IvfIndex.topK(spark, dir, q, 5, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq == exact)
  }

  test("streamAppend end-to-end through a real AvailableNow stream") {
    val root = Files.createTempDirectory("ivf_stream_e2e").toString
    val dir = s"$root/idx"
    IvfIndex.build(emb.filter(col("vec_id") < 400), "vec_id", "embedding",
      dir, IvfIndex.Params(nCells = 8))
    val srcDir = s"$root/src"
    emb.filter(col("vec_id") >= 400).write.parquet(srcDir)
    val query = IvfIndex.streamAppend(spark, srcDir, emb.schema, dir,
      s"$root/ckpt")
    query.awaitTermination(60000)
    assert(IvfIndex.cellsDf(spark, dir).count() == emb.count())
  }

  test("IVFADC: codes-only candidate scan + exact re-rank, recall drop < 0.2") {
    val cb = graft.pq.Pq.createCodebook(emb, "embedding",
      clusterCount = 16, subvectorCount = 8, datasetSizeLimit = 500,
      seed = 42L)
    val dir = Files.createTempDirectory("ivfadc").toString
    IvfIndex.build(emb, "vec_id", "embedding", dir,
      IvfIndex.Params(nCells = 16, pq = Some(cb)))
    assert(IvfIndex.readManifest(dir).pq)
    val q = corpus.head._2
    val exact = corpus.map { case (id, v) => (id, Metric.L2Sq.dist(q, v)) }
      .sortBy(x => (x._2, x._1)).take(10).map(_._1).toSet
    val got = IvfIndex.topKAdc(spark, dir, q, 10, nprobe = 16, refine = 100)
      .collect().map(_.getLong(0)).toSet
    assert(exact.intersect(got).size >= 8,
      s"IVFADC recall: ${exact.intersect(got).size}/10")
  }

  test("manifest pins id/vec columns: a reordered schema still reads right") {
    import spark.implicits._
    // vector column FIRST, id second - positional inference would break
    val df = corpus.toSeq.map { case (id, v) => (v.toSeq, id) }
      .toDF("v", "my_id")
    val dir = Files.createTempDirectory("ivfman").toString
    IvfIndex.build(df, "my_id", "v", dir, IvfIndex.Params(nCells = 4))
    val man = IvfIndex.readManifest(dir)
    assert(man.idCol == "my_id" && man.vecCol == "v" && man.nCells == 4)
    val q = corpus.head._2
    val exact = corpus.map { case (id, v) => (id, Metric.L2Sq.dist(q, v)) }
      .sortBy(x => (x._2, x._1)).take(5).map(_._1).toSeq
    val got = IvfIndex.topK(spark, dir, q, 5, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(got == exact)
  }

  test("hyperplane LSH pairs: bucketed candidates, star cap on mega-buckets") {
    import spark.implicits._
    // 30 identical vectors (one mega sign-pattern bucket) + 2 outliers
    val base = Seq.fill(8)(1.0f)
    val rows = (1L to 30L).map(i => (i, base)) ++
      Seq((31L, Seq(-1f, -1f, -1f, -1f, 1f, 1f, 1f, 1f)),
        (32L, Seq(-1f, -1f, -1f, -1f, 1f, 1f, 0.5f, 0.5f)))
    val df = rows.toDF("id", "v")
    val planes: Seq[Seq[Float]] = (0 until 8).map(p =>
      (0 until 8).map(j => if (j == p) 1.0f else 0.0f))
    // skewMult = 0: absolute threshold only (this fixture is too small
    // for the median floor — the mega bucket IS the median here)
    val capped = Dedup.hyperplanePairs(df, col("id"), col("v"), planes,
        bands = 2, bitsPerBand = 4, maxBucket = 5, skewMult = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // star: clones all link to id 1, O(n) pairs, components preserved
    assert((2L to 30L).forall(i => capped.contains((1L, i))))
    assert(capped.count { case (a, b) => a <= 30 && b <= 30 } == 29)
    assert(capped.contains((31L, 32L))) // small bucket keeps exact pairs
    // uncapped emits all 435 clone pairs
    val full = Dedup.hyperplanePairs(df, col("id"), col("v"), planes,
      bands = 2, bitsPerBand = 4)
    assert(full.filter(col("doc_a") <= 30 && col("doc_b") <= 30).count()
      == 29L * 30L / 2L)
    // metadata blocking composes: a blocking key splits the mega bucket
    val blocked = Dedup.hyperplanePairs(
      df.withColumn("grp", col("id") % 2), col("id"), col("v"), planes,
      bands = 2, bitsPerBand = 4, blockCols = Seq(col("grp")))
    assert(blocked.filter(col("doc_a") <= 30 && col("doc_b") <= 30)
      .collect().forall(r => (r.getLong(0) - r.getLong(1)) % 2 == 0))
  }

  test("star cap preserves connected components (random corpora)") {
    import spark.implicits._
    val planes: Seq[Seq[Float]] = (0 until 8).map(p =>
      (0 until 4).map(j => if (j == p % 4) 1.0f else -0.25f))
    for (seed <- Seq(3L, 17L, 99L)) {
      val rnd = new java.util.Random(seed)
      // clustered corpus with heavy duplicates -> mega buckets
      val centers = Array.fill(4)(Array.fill(4)(rnd.nextFloat() * 4 - 2))
      val rows = (1L to 60L).map { i =>
        val c = centers(rnd.nextInt(4))
        (i, c.map(x => x + rnd.nextFloat() * 0.01f).toSeq)
      }
      val df = rows.toDF("id", "v")
      def comps(maxBucket: Int): Map[Long, Long] =
        Dedup.connectedComponents(
          Dedup.hyperplanePairs(df, col("id"), col("v"), planes,
            bands = 2, bitsPerBand = 4, maxBucket = maxBucket,
            skewMult = 0))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(comps(3) == comps(0), s"components diverged for seed $seed")
    }
  }

  test("keepOnePerGroup drops all but the cluster minimum, keeps unclustered rows") {
    import spark.implicits._
    val rows = (1L to 10L).map(i => (i, s"doc$i")).toDF("id", "body")
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val kept = Dedup.keepOnePerGroup(rows, col("id"), pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 5L, 6L, 7L, 9L, 10L))
  }

  test("connected components of an empty pair set are empty") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(none).count() == 0)
  }

  test("connected components handle negative (hash-derived) ids") {
    import spark.implicits._
    // initial label sum is zero here - must not be mistaken for empty
    val pairs = Seq((-7L, 7L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(-7L -> -7L, 7L -> -7L))
  }

  test("connected components survive full-range ids whose label sum overflows") {
    import spark.implicits._
    // xxhash64-derived ids live anywhere in Long range: a sum-based
    // convergence probe overflows here (throwing under Spark 4's
    // default ANSI mode, or wrapping into a false fixpoint with ANSI
    // off); the changed-label count is bounded by |V|
    val a = Long.MaxValue - 1
    val b = Long.MaxValue - 3
    val c = Long.MaxValue - 5
    val n1 = Long.MinValue + 1
    val n5 = Long.MinValue + 5
    val pairs = Seq((a, b), (b, c), (n1, n5)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(a -> c, b -> c, c -> c, n1 -> n1, n5 -> n1))
    val rows = Seq(a, b, c, n1, n5, 42L).toDF("doc_id")
    val kept = Dedup.keepOnePerGroup(rows, col("doc_id"), pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(c, n1, 42L))
  }

  test("IVFADC works when the index id column is literally named id") {
    import spark.implicits._
    // regression: the candidate frame used to alias its key to "id",
    // which made every post-join reference ambiguous for an index whose
    // own id column is "id"
    val df = corpus.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("id", "v")
    val cb = graft.pq.Pq.createCodebook(df, "v",
      clusterCount = 16, subvectorCount = 8, datasetSizeLimit = 500,
      seed = 42L)
    val dir = Files.createTempDirectory("ivfadcid").toString
    IvfIndex.build(df, "id", "v", dir,
      IvfIndex.Params(nCells = 8, pq = Some(cb)))
    val q = corpus.head._2
    val exact = corpus.map { case (id, v) => (id, Metric.L2Sq.dist(q, v)) }
      .sortBy(x => (x._2, x._1)).take(10).map(_._1).toSet
    val got = IvfIndex.topKAdc(spark, dir, q, 10, nprobe = 8, refine = 100)
      .collect().map(_.getLong(0)).toSet
    assert(got.size == 10)
    assert(exact.intersect(got).size >= 8,
      s"IVFADC recall with id-named column: ${exact.intersect(got).size}/10")
  }

  test("keepOnePerGroup works when df's id column is also named doc_id") {
    import spark.implicits._
    val rows = (1L to 5L).map(i => (i, s"doc$i")).toDF("doc_id", "body")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val kept = Dedup.keepOnePerGroup(rows, col("doc_id"), pairs)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("incrementalNearDup flags ingest docs against the existing corpus") {
    import spark.implicits._
    val mk = (id: Long, t: String) => (id, t)
    val oldDocs = Seq(
      mk(1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      mk(2L, "one two three four five six seven eight nine ten"))
      .toDF("doc_id", "text")
    val newDocs = Seq(
      // near-copy of old doc 1 with a short mutated tail
      mk(10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
      mk(11L, "completely different words with no overlap whatsoever here now"))
      .toDF("doc_id", "text")
    val oldSh = Dedup.shingled(oldDocs, col("doc_id"), col("text"))
    val newSh = Dedup.shingled(newDocs, col("doc_id"), col("text"))
    val flagged = Dedup.incrementalNearDup(newSh, oldSh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(flagged == Set((10L, 1L)),
      "the near-copy flags its source; the novel doc passes clean")
    // a stricter threshold can unflag it
    assert(Dedup.incrementalNearDup(newSh, oldSh, threshold = 0.99)
      .count() == 0)
    // mega-bucket guard on the existing side: with the cap forced to 1
    // (absolute-only), a hot band bucket is represented by its min doc
    // id — the near-copy still flags through the representative
    val dupOld = Dedup.shingled(Seq(
        mk(1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        mk(2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        mk(3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text"), col("doc_id"), col("text"))
    val capped = Dedup.incrementalNearDup(newSh, dupOld,
        maxBucket = 1, skewMult = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((10L, 1L)),
      "hot buckets collapse to the min-id representative")
    // the prepared-signature overload (the production shape: corpus
    // signatures come from the stored dedup artifact, never a
    // per-batch recompute) is result-identical to the convenience path
    val oldSig = Dedup.signatures(oldSh, numHashes = 8)
    val prepared = Dedup.incrementalNearDup(newSh, oldSh, oldSig,
        numHashes = 8, bands = 4, threshold = 0.6,
        maxBucket = 10000, skewMult = 16.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val convenience = Dedup.incrementalNearDup(newSh, oldSh)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prepared == convenience,
      "prepared-signature path matches the recompute path exactly")
  }

  test("bestPerGroup keeps the highest-scoring member; ties and gaps resolve") {
    import spark.implicits._
    // components: {1,2,3} (chain), {7,8}; scores favor 2 in the first,
    // tie 7==8 in the second (must break to the lower id)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val scores = Seq((1L, 10L), (2L, 99L), (3L, 50L), (7L, 5L), (8L, 5L))
      .toDF("doc_id", "s")
    val ann = Dedup.bestPerGroup(pairs, scores, col("doc_id"), col("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(ann == Seq((1L, 1L, false), (2L, 1L, true), (3L, 1L, false),
      (7L, 7L, true), (8L, 7L, false)))
    // the ACTION keeps best members + unclustered rows
    val rows = (1L to 9L).map(i => (i, s"d$i")).toDF("doc_id", "body")
    val kept = Dedup.keepBestPerGroup(rows, col("doc_id"), pairs,
        scores, col("doc_id"), col("s"))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 5L, 6L, 7L, 9L))
    // a member missing its score row can never be the keeper
    val partial = Seq((1L, 1L), (3L, 1L)).toDF("doc_id", "s") // 2 unscored
    val k2 = Dedup.bestPerGroup(Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b"),
        partial, col("doc_id"), col("s"))
      .filter(col("keeper")).collect().map(_.getLong(0)).toSet
    assert(k2 == Set(1L), "tie 1==3 breaks low; unscored 2 excluded")
  }

  test("connected components assign min-reachable-id cluster keys") {
    import spark.implicits._
    // a 3-chain, a pair, and a triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("LSH bucket cap links mega-buckets as stars, same components") {
    import spark.implicits._
    // 30 identical docs (one mega bucket) + 2 similar docs
    val docs = ((1L to 30L).map(i => (i, "the quick brown fox jumps over a lazy dog again and again")) ++
      Seq((31L, "completely different text about spark joins and shuffles here"),
        (32L, "completely different text about spark joins and shuffles there")))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(docs, col("doc_id"), col("text"))
    val capped = Dedup.lshCandidatePairs(sig, 8, 4, maxBucket = 5,
        skewMult = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // star: every clone links to doc 1 -> components preserved, O(n) pairs
    assert((2L to 30L).forall(i => capped.contains((1L, i))))
    assert(capped.count { case (a, b) => a <= 30 && b <= 30 } == 29)
    assert(capped.contains((31L, 32L))) // small bucket keeps exact pairs
    // uncapped emits all 435 clone pairs
    val full = Dedup.lshCandidatePairs(sig, 8, 4)
      .filter(col("doc_a") <= 30 && col("doc_b") <= 30).count()
    assert(full == 29L * 30L / 2L)
  }

  test("simhash64 pairs: banded candidates find exactly the hamming ball") {
    import spark.implicits._
    val docs = Seq(
      (0L, "the fast table scan feeds the hash join group agg"),
      (1L, "the fast table scan feeds the hash join group value"), // near-dup of 0
      (2L, "window stream batch merge sort column vector line data"),
      (3L, "completely different words entirely unrelated content here now")
    ).toDF("doc_id", "text")
    val sig = Dedup.simhash64Of(
      Dedup.shingled(docs, col("doc_id"), col("text")))
    val sigs = sig.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sigs.values.forall(_.length == 64))
    def ham(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    val pairs = Dedup.simhashPairs(sig, maxHamming = 20, bands = 32)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    // every emitted pair's hamming matches a direct bit compare, and
    // the banded join found every pair the exhaustive check admits
    val exhaustive = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      h = ham(sigs(a), sigs(b)) if h <= 20
    } yield (a, b) -> h).toMap
    assert(pairs == exhaustive, s"pairs $pairs vs exhaustive $exhaustive")
    // the planted near-dup pair is found and is the closest
    assert(pairs.contains((0L, 1L)))
    assert(pairs((0L, 1L)) == pairs.values.min)
  }

  test("lineDedup drops cross-document duplicate lines, keeps order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d"),   // lines (chunk=2): "a b", "c d"
      (2L, "a b x y"),   // "a b" shared with doc 1 -> both dropped
      (3L, "p q")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(docs, col("doc_id"), col("text"), chunk = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 1L, "c d")))
    assert(out(2L) == ((2L, 1L, "x y")))
    assert(out(3L) == ((1L, 0L, "p q")))
  }

  test("lineDedup: a ragged tail line and a fully duplicated doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"), // lines: "a b", "c d", "e" (ragged tail)
      (2L, "a b c d"),   // both its lines duplicated -> empty text_clean
      (3L, "c d"),
      (4L, "")).toDF("doc_id", "text") // zero tokens -> kept as (0,0,"")
    val out = Dedup.lineDedup(docs, col("doc_id"), col("text"), chunk = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 2L, "e")))
    assert(out(2L) == ((2L, 2L, "")))
    assert(out(3L) == ((1L, 1L, "")))
    assert(out(4L) == ((0L, 0L, "")))
  }

  test("substringDedup cuts maximal duplicated runs at any offset") {
    import spark.implicits._
    // k=3: docs 1 and 2 share the 5-token run "q w e r t" at DIFFERENT
    // offsets (lineDedup's fixed chunks would miss the misalignment);
    // every token of the run is covered by some duplicated 3-gram, so
    // the maximal run is cut whole from both docs
    val docs = Seq(
      (1L, "q w e r t a b c"),
      (2L, "x y q w e r t z"),
      (3L, "m n o p")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, col("doc_id"), col("text"), k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((8L, 5L, "a b c")))
    assert(out(2L) == ((8L, 5L, "x y z")))
    assert(out(3L) == ((4L, 0L, "m n o p")))
  }

  test("substringDedup: within-doc repeats cut, short docs untouched, empty kept") {
    import spark.implicits._
    val docs = Seq(
      // "a b c" occurs twice WITHIN one doc (total occurrences > 1,
      // the paper's counting) -> both occurrences cut
      (1L, "a b c z a b c"),
      (2L, "a b"), // shorter than k: no grams, nothing cut
      (3L, "")).toDF("doc_id", "text")
    val out = Dedup.substringDedup(docs, col("doc_id"), col("text"), k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((7L, 6L, "z")))
    assert(out(2L) == ((2L, 0L, "a b")))
    assert(out(3L) == ((0L, 0L, "")))
  }

  /** 16 clusters x 20 pts, 8-dim — the delete-family fixture. */
  private def clusterPts(seed: Int): Seq[(Long, Seq[Float])] = {
    val rnd = new java.util.Random(seed)
    val centers = Array.fill(16)(Array.fill(8)(rnd.nextFloat() * 10f))
    for { c <- centers.indices; j <- 0 until 20 }
      yield ((c * 20 + j).toLong,
        centers(c).map(x => x + rnd.nextFloat() * 0.2f).toSeq)
  }

  test("IVF delete: tombstoned ids vanish from every search; consolidate reclaims") {
    import spark.implicits._
    val pts = clusterPts(11)
    val df = pts.toDF("id", "v")
    val dir = Files.createTempDirectory("ivfdel").toString
    IvfIndex.build(df, "id", "v", dir,
      IvfIndex.Params(nCells = 8, sampleLimit = pts.length, seed = 2L))
    val q = pts.head._2.toArray
    val ranked = pts.map { case (id, v) =>
      (id, Metric.L2Sq.dist(q, v.toArray)) }.sortBy(x => (x._2, x._1))
    val top3 = ranked.take(3).map(_._1)
    IvfIndex.delete(spark, dir, top3)
    val expect = ranked.slice(3, 13).map(_._1).toSeq

    // topK skips tombstones
    assert(IvfIndex.topK(spark, dir, q, 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq == expect)
    // topKJoin skips tombstones
    val joined = IvfIndex.topKJoin(
        Seq((0L, pts.head._2)).toDF("qid", "qv"), "qid", "qv", dir,
        k = 10, nprobe = 8)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(joined == expect)

    // consolidate = vacuum: fold returns true even with no stream
    // batches, the new generation physically lacks the dead rows, the
    // probe result is unchanged
    assert(IvfIndex.consolidate(spark, dir))
    val man = IvfIndex.readManifest(dir)
    assert(man.cellsDir != "cells", "consolidate must swap the generation")
    val genIds = spark.read.parquet(s"$dir/${man.cellsDir}")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(top3.forall(id => !genIds.contains(id)))
    assert(IvfIndex.topK(spark, dir, q, 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq == expect)

    // cross-generation merge: a later delete (as from another JVM —
    // the generation number is parsed from storage, not a clock) must
    // compound with the folded ones, and generations stay pruned
    IvfIndex.delete(spark, dir, Seq(ranked(3)._1))
    assert(IvfIndex.topK(spark, dir, q, 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq == ranked.slice(4, 14).map(_._1).toSeq)
    assert(IvfIndex.tombstones(dir).toSet == (top3 :+ ranked(3)._1).toSet)
    val genFiles = new java.io.File(dir).listFiles()
      .map(_.getName).filter(n => n.startsWith("tombstones-g"))
    assert(genFiles.length <= 2, s"generations not pruned: ${genFiles.toSeq}")
  }

  test("IVF topK hides a generation another process wrote, on the next probe") {
    import spark.implicits._
    val pts = clusterPts(13)
    val dir = Files.createTempDirectory("ivfremote").toString
    IvfIndex.build(pts.toDF("id", "v"), "id", "v", dir,
      IvfIndex.Params(nCells = 8, sampleLimit = pts.length, seed = 2L))
    val q = pts.head._2.toArray
    val ranked = pts.map { case (id, v) =>
      (id, Metric.L2Sq.dist(q, v.toArray)) }.sortBy(x => (x._2, x._1)).map(_._1)
    def probe(): Seq[Long] = IvfIndex.topK(spark, dir, q, 10, nprobe = 8)
      .collect().map(_.getLong(0)).toSeq
    assert(probe() == ranked.take(10))
    IvfIndex.delete(spark, dir, Seq(ranked.head))
    assert(probe() == ranked.slice(1, 11))
    AnnScanSpec.writeGeneration(dir, 2, ranked.take(2))
    assert(probe() == ranked.slice(2, 12))
    assert(IvfIndex.tombstones(dir) == ranked.take(2).sorted)
  }

  test("IVF: a topK frame collected again hides later deletes, or fails once its generation is pruned") {
    import spark.implicits._
    val pts = clusterPts(16)
    val dir = Files.createTempDirectory("ivfreuse").toString
    IvfIndex.build(pts.toDF("id", "v"), "id", "v", dir,
      IvfIndex.Params(nCells = 8, sampleLimit = pts.length, seed = 2L))
    val q = pts.head._2.toArray
    val ranked = pts.map { case (id, v) =>
      (id, Metric.L2Sq.dist(q, v.toArray)) }.sortBy(x => (x._2, x._1)).map(_._1)
    val frame = IvfIndex.topK(spark, dir, q, 10, nprobe = 8) // pins generation 0
    assert(frame.collect().map(_.getLong(0)).toSeq == ranked.take(10))
    // the second delete prunes generation 0; the frame still finds the
    // newest generation by name
    for (n <- 1 to 2) {
      IvfIndex.delete(spark, dir, Seq(ranked(n - 1)))
      assert(frame.collect().map(_.getLong(0)).toSeq == ranked.slice(n, n + 10),
        s"after delete $n")
    }
    // the third prunes generation 1 as well: the frame fails naming its pin
    IvfIndex.delete(spark, dir, Seq(ranked(2)))
    val e = intercept[Exception](frame.collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains(s"$dir/tombstones-g000000000000.bin")),
      e.getMessage)
    assert(IvfIndex.topK(spark, dir, q, 10, nprobe = 8).collect().map(_.getLong(0)).toSeq ==
      ranked.slice(3, 13), "a new frame pins anew")
  }

  test("IVFADC probe skips tombstones") {
    import spark.implicits._
    val pts = clusterPts(12)
    val df = pts.toDF("id", "v")
    val cb = graft.pq.Pq.createCodebook(df, "v", clusterCount = 16,
      subvectorCount = 4, datasetSizeLimit = pts.length, seed = 7L)
    val dir = Files.createTempDirectory("ivfdeladc").toString
    IvfIndex.build(df, "id", "v", dir,
      IvfIndex.Params(nCells = 8, sampleLimit = pts.length, seed = 2L,
        pq = Some(cb)))
    val q = pts.head._2.toArray
    val ranked = pts.map { case (id, v) =>
      (id, Metric.L2Sq.dist(q, v.toArray)) }.sortBy(x => (x._2, x._1))
    val top2 = ranked.take(2).map(_._1)
    IvfIndex.delete(spark, dir, top2)
    // refine covers the corpus -> the re-rank is exact over survivors
    val got = IvfIndex.topKAdc(spark, dir, q, 5, nprobe = 8,
        refine = pts.length)
      .collect().map(_.getLong(0)).toSeq
    assert(got == ranked.slice(2, 7).map(_._1).toSeq)
  }

  test("topKJoin with a caller bound plans without an extra count job") {
    import spark.implicits._
    val pts = clusterPts(14)
    val df = pts.toDF("id", "v")
    val dir = Files.createTempDirectory("ivfbound").toString
    IvfIndex.build(df, "id", "v", dir,
      IvfIndex.Params(nCells = 4, sampleLimit = pts.length, seed = 2L))
    val queries = Seq((0L, pts.head._2), (1L, pts(1)._2)).toDF("qid", "qv")

    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // both constructions pay the same parquet schema-inference jobs;
      // only the unbounded one may add the count() job — the bounded
      // path must run strictly fewer
      val bounded = IvfIndex.topKJoin(queries, "qid", "qv", dir,
        k = 3, nprobe = 4, queryBound = Some(2L))
      Thread.sleep(300) // listener delivery is async
      val boundedJobs = jobs.get()
      jobs.set(0)
      IvfIndex.topKJoin(queries, "qid", "qv", dir, k = 3, nprobe = 4)
      Thread.sleep(300)
      val unboundedJobs = jobs.get()
      assert(boundedJobs < unboundedJobs,
        s"bounded construction ran $boundedJobs job(s), unbounded $unboundedJobs")
      // and the bounded plan still answers exactly
      val got = bounded.orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val exact = Seq(0L -> pts.head._2, 1L -> pts(1)._2).flatMap {
        case (qid, qv) =>
          pts.map { case (id, v) =>
            (id, Metric.L2Sq.dist(qv.toArray, v.toArray)) }
            .sortBy(x => (x._2, x._1)).take(3).map(p => (qid, p._1))
      }
      assert(got == exact)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("validate: clean index passes; corrupted assignment and centroid sidecar are caught") {
    import spark.implicits._
    val pts = clusterPts(21)
    val df = pts.toDF("id", "v")
    val dir = Files.createTempDirectory("ivfval").toString
    IvfIndex.build(df, "id", "v", dir,
      IvfIndex.Params(nCells = 4, sampleLimit = pts.length, seed = 3L))
    assert(IvfIndex.validate(spark, dir).isEmpty)
    // appended rows are part of the walk (append folds into the base
    // cells dir)
    IvfIndex.append(Seq((9000L, pts.head._2)).toDF("id", "v"), dir)
    assert(IvfIndex.validate(spark, dir).isEmpty)
    // committed STREAM batches are a separate branch of the walk (the
    // union path): the row aggregate must cover them too
    IvfIndex.applyStreamBatch(
      Seq((9100L, pts(1)._2)).toDF("id", "v"), 1L, dir)
    assert(IvfIndex.validate(spark, dir).isEmpty)
    // corrupt: rewrite one cell partition under a WRONG cell_id — the
    // silent-recall-hole case validate exists for
    val man = IvfIndex.readManifest(dir)
    val cells = spark.read.parquet(s"$dir/${man.cellsDir}")
    val moved = cells.filter(col("cell_id") === 0)
      .withColumn("cell_id", lit(3))
    moved.write.mode("append").partitionBy("cell_id")
      .parquet(s"$dir/${man.cellsDir}")
    val errs = IvfIndex.validate(spark, dir)
    assert(errs.exists(_._2.contains("nearest-centroid")), errs.toString)
    // corrupt the centroid sidecar: drop a centroid
    val cents = spark.read.parquet(s"$dir/centroids")
      .filter(col("cell_id") =!= 0)
    cents.write.mode("overwrite").parquet(s"$dir/centroids_tmp")
    spark.read.parquet(s"$dir/centroids_tmp").write
      .mode("overwrite").parquet(s"$dir/centroids")
    val errs2 = IvfIndex.validate(spark, dir)
    assert(errs2.exists(_._1 == "centroids"), errs2.toString)
  }

  test("consolidate converges: folded deletes are not re-fold work; no-op retains the superseded generation") {
    import spark.implicits._
    val pts = clusterPts(15)
    val df = pts.toDF("id", "v")
    val dir = Files.createTempDirectory("ivfconv").toString
    IvfIndex.build(df, "id", "v", dir,
      IvfIndex.Params(nCells = 4, sampleLimit = pts.length, seed = 2L))
    IvfIndex.delete(spark, dir, Seq(pts.head._1))
    assert(IvfIndex.consolidate(spark, dir)) // folds the delete
    val gen1 = IvfIndex.readManifest(dir).cellsDir
    assert(gen1 != "cells")
    // tombstone files survive the fold (in-flight readers), but they
    // are NOT new fold work: the next consolidate must be a no-op —
    // not a full corpus rewrite into yet another generation
    assert(!IvfIndex.consolidate(spark, dir),
      "consolidate did not converge after folding all deletes")
    assert(IvfIndex.readManifest(dir).cellsDir == gen1)
    // and the no-op cleanup must RETAIN the superseded generation for
    // its in-flight readers (one more cycle), not delete it
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("cells"),
      "no-op consolidate deleted the previously-serving generation")
    // a NEW delete is fresh fold work again
    IvfIndex.delete(spark, dir, Seq(pts(1)._1))
    assert(IvfIndex.consolidate(spark, dir))
    val gen2 = IvfIndex.readManifest(dir).cellsDir
    assert(gen2 != gen1)
    // after the second fold, gen1 is retained and cells finally swept
    val names2 = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names2.contains(gen1) && !names2.contains("cells"))
  }

  test("consolidate crash debris: the serving generation survives cleanup") {
    import spark.implicits._
    val pts = clusterPts(13)
    val df = pts.toDF("id", "v")
    val dir = Files.createTempDirectory("ivfcrash").toString
    IvfIndex.build(df, "id", "v", dir,
      IvfIndex.Params(nCells = 4, sampleLimit = pts.length, seed = 2L))
    IvfIndex.delete(spark, dir, Seq(pts.head._1))
    // simulate a prior consolidate that crashed AFTER writing its new
    // generation + watermark but BEFORE the manifest swap: the debris
    // generation outranks the serving one ordinally
    val debris = new java.io.File(dir, "cells_g000001")
    df.withColumn("cell_id", lit(0))
      .write.partitionBy("cell_id").parquet(debris.toString)
    new java.io.File(dir, "_folded_upto_cells_g000001_0").createNewFile()
    // the rerun folds from the SERVING generation (cells), builds
    // g000002, and must retain cells (in-flight readers) while
    // removing the orphaned debris — not the other way around
    assert(IvfIndex.consolidate(spark, dir))
    val man = IvfIndex.readManifest(dir)
    assert(man.cellsDir == "cells_g000002", s"got ${man.cellsDir}")
    val names = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(names.contains("cells"), "serving generation was deleted")
    assert(!names.contains("cells_g000001"), "crash debris was retained")
  }

  test("sidecar caches stay bounded across a rebuild loop") {
    import spark.implicits._
    val rnd = new java.util.Random(31)
    val pts = (0L until 80L).map(i => (i, Seq.fill(8)(rnd.nextFloat())))
    val df = pts.toDF("id", "v")
    val dir = Files.createTempDirectory("ivfloop").toString
    val q = pts.head._2.toArray
    def cycle(seed: Long): Unit = {
      IvfIndex.build(df, "id", "v", dir,
        IvfIndex.Params(nCells = 4, sampleLimit = pts.length, seed = seed))
      IvfIndex.topK(spark, dir, q, 5, nprobe = 4).collect()
    }
    cycle(1L)
    val (f0, c0, s0) = IvfIndex.sidecarCacheSizes
    // a service looping rebuild+probe must REPLACE superseded stamps,
    // not accumulate one frame/array/schema per rebuild
    (2L to 5L).foreach(cycle)
    val (f1, c1, s1) = IvfIndex.sidecarCacheSizes
    assert(f1 == f0 && c1 == c0 && s1 == s0,
      s"sidecar caches grew across rebuilds: ($f0,$c0,$s0) -> ($f1,$c1,$s1)")
  }
}
