package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import graft.ann.{AnnIndex, Metric}
import graft.functions.{l2sq_dist, vecLit}
import graft.bm25.Bm25
import graft.plans.{AnnScan, AnnScanStrategy, AnnTopK, Bm25ScanStrategy}

/** Transparent ANN rewrite of ORDER BY dist LIMIT k (the reference's
  * planner integration, hnsw.c:150-209). */
class AnnTopKSpec extends SparkSpec {

  private val srcPath = s"${sf("sf0.01")}/embeddings.parquet"
  private lazy val emb = spark.read.parquet(srcPath)
  private val q: Seq[Float] = Seq.tabulate(64)(i => ((i * 37) % 19 - 9) / 16.0f)

  private def topkDf = emb
    .withColumn("dist", l2sq_dist(col("embedding"), vecLit(q)))
    .orderBy(col("dist").asc, col("vec_id").asc)
    .limit(10)

  private def setup(): Unit = {
    AnnTopK.install(spark)
    val dir = Files.createTempDirectory("anntopk").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir,
      AnnIndex.Params(Metric.L2Sq, numShards = 2))
    AnnTopK.IndexCatalog.register(srcPath,
      AnnTopK.Entry(dir, "vec_id", "embedding", Metric.L2Sq))
  }

  test("rewrites to a candidate semi join and matches exact at high ef") {
    setup()
    try {
      spark.conf.set(AnnTopK.EfConfKey, "600") // exhaustive at this scale
      val df = topkDf
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: Join => j
      }
      assert(joins.nonEmpty, "expected the ANN semi-join rewrite in the plan")
      val exact = emb
        .withColumn("d", l2sq_dist(col("embedding"), vecLit(q)))
        .orderBy(col("d").asc, col("vec_id").asc).limit(10)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(df.collect().map(_.getAs[Long]("vec_id")).toSeq == exact)
    } finally {
      AnnTopK.IndexCatalog.unregister(srcPath)
      spark.conf.unset(AnnTopK.EfConfKey)
    }
  }

  test("a user's own semi join on the id column still rewrites and matches exact") {
    setup()
    try {
      spark.conf.set(AnnTopK.EfConfKey, "600") // exhaustive at this scale
      val allow = spark.range(0, 100000, 3).toDF("vec_id")
      val df = emb.join(allow, Seq("vec_id"), "left_semi")
        .withColumn("dist", l2sq_dist(col("embedding"), vecLit(q)))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect { case j: Join if j.joinType == LeftSemi => j }.size == 2,
        s"expected the user's semi join AND the candidate semi join:\n$plan")
      assert(plan.exists(_.isInstanceOf[AnnScan]))
      val exact = emb.join(allow, Seq("vec_id"), "left_semi")
        .withColumn("d", l2sq_dist(col("embedding"), vecLit(q)))
        .orderBy(col("d").asc, col("vec_id").asc).limit(10)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(df.collect().map(_.getAs[Long]("vec_id")).toSeq == exact)
    } finally {
      AnnTopK.IndexCatalog.unregister(srcPath)
      spark.conf.unset(AnnTopK.EfConfKey)
    }
  }

  test("racing installs leave one AnnTopKRule and one AnnScan strategy") {
    val session = spark.newSession()
    val table = {
      import session.implicits._
      Bm25.createBm25Table(Seq((0L, "rare")).toDF("doc_id", "text"),
        col("doc_id"), col("text"))
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val done = (0 until 8).map { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            i % 4 match {
              case 0 => AnnTopK.install(session)
              case 1 => graft.plans.installStrategy(session, AnnScanStrategy)
              case 2 => graft.plans.installStrategy(session, Bm25ScanStrategy)
              case _ => Bm25.searchBm25Approx(table, "rare", 1) // installs as it builds
            }
          }
        })
      }
      start.countDown()
      done.foreach(_.get())
    } finally pool.shutdown()
    val ex = session.experimental
    assert(ex.extraOptimizations.count(_.isInstanceOf[AnnTopK.AnnTopKRule]) == 1)
    assert(ex.extraStrategies.count(_ == AnnScanStrategy) == 1)
    assert(ex.extraStrategies.count(_ == Bm25ScanStrategy) == 1)
    assert(ex.extraStrategies.size == 2, ex.extraStrategies)
  }

  test("targetRecall conf derives ef from the autotune artifact, with fallback") {
    AnnTopK.install(spark)
    val work = Files.createTempDirectory("anntopk_tuned").toString
    val (report, manifest) = graft.ann.Autotune.runAndCreate(
      emb, "vec_id", "embedding", s"$work/grid", s"$work/index",
      Metric.L2Sq, k = 5, targetRecall = 0.6,
      sampleSize = emb.count().toInt, numQueries = 3, numShards = 2,
      variants = graft.ann.Autotune.presets.take(3))
    assert(manifest.nonEmpty)
    try {
      // derived: the cheapest measured variant meeting the target
      spark.conf.set(AnnTopK.TargetRecallConfKey, "0.6")
      val expected = report.results.find(_.recall >= 0.6).get.variant.ef
      assert(AnnTopK.resolveEf(spark, s"$work/index") == expected)
      // unattainable target -> falls back to the pinned ef conf
      spark.conf.set(AnnTopK.TargetRecallConfKey, "1.01")
      spark.conf.set(AnnTopK.EfConfKey, "123")
      assert(AnnTopK.resolveEf(spark, s"$work/index") == 123)
      // no artifact at all -> same fallback chain
      assert(AnnTopK.resolveEf(spark, s"$work/nowhere") == 123)
      spark.conf.unset(AnnTopK.EfConfKey)
      assert(AnnTopK.resolveEf(spark, s"$work/nowhere") == 64)
      // a MISS is not cached: resolve against a path BEFORE its
      // artifact exists (fallback), export the artifact, resolve
      // again — the derived ef must now take effect
      spark.conf.set(AnnTopK.TargetRecallConfKey, "0.6")
      assert(AnnTopK.resolveEf(spark, s"$work/late") == 64,
        "no artifact yet -> fallback")
      val (lateReport, lateMan) = graft.ann.Autotune.runAndCreate(
        emb, "vec_id", "embedding", s"$work/lategrid", s"$work/late",
        Metric.L2Sq, k = 5, targetRecall = 0.6,
        sampleSize = emb.count().toInt, numQueries = 3, numShards = 2,
        variants = graft.ann.Autotune.presets.take(2))
      assert(lateMan.nonEmpty)
      assert(AnnTopK.resolveEf(spark, s"$work/late") ==
        lateReport.results.find(_.recall >= 0.6).get.variant.ef,
        "an artifact exported after a miss must take effect")
      // and the rewrite still fires + stays correct under the derived ef
      spark.conf.set(AnnTopK.TargetRecallConfKey, "0.6")
      AnnTopK.IndexCatalog.register(srcPath,
        AnnTopK.Entry(s"$work/index", "vec_id", "embedding", Metric.L2Sq))
      val df = topkDf
      assert(df.queryExecution.optimizedPlan.collect {
        case j: Join => j
      }.nonEmpty, "expected the ANN semi-join rewrite under targetRecall")
      assert(df.collect().length == 10)
    } finally {
      AnnTopK.IndexCatalog.unregister(srcPath)
      spark.conf.unset(AnnTopK.TargetRecallConfKey)
      spark.conf.unset(AnnTopK.EfConfKey)
    }
  }

  test("derived-ef cache invalidates on re-autotune and on append") {
    // ADVICE r11: a JVM-lifetime (path, target) -> ef cache kept
    // serving an ef measured on a smaller/different graph after a
    // re-autotune (artifact overwritten in place) or an append (index
    // grows, recall not re-measured). The cache is now guarded by the
    // artifact fingerprint (autotune_results mtime + manifest count).
    val small = emb.filter(col("vec_id") < 200)
    val work = Files.createTempDirectory("anntopk_inval").toString
    val idx = s"$work/index"
    AnnIndex.build(small, "vec_id", "embedding", idx,
      AnnIndex.Params(Metric.L2Sq, m = 16, efConstruction = 128,
        numShards = 2))
    import spark.implicits._
    // absolute mtime control: invalidation must be attributable to
    // exactly one fingerprint component per step below
    def writeArtifact(rows: Seq[(Int, Int, Int, Double)],
        mtime: Long): Unit = {
      rows.map { case (m, efc, ef, r) => (m, efc, ef, r, 1L, 1L) }
        .toDF("m", "ef_construction", "ef", "recall", "build_ms",
          "search_ms")
        .repartition(1).write.mode("overwrite")
        .parquet(s"$idx/autotune_results")
      assert(new java.io.File(s"$idx/autotune_results")
        .setLastModified(mtime))
    }
    val t0 = 1700000000000L
    try {
      spark.conf.set(AnnTopK.TargetRecallConfKey, "0.9")
      writeArtifact(Seq((16, 128, 48, 0.95)), t0)
      assert(AnnTopK.resolveEf(spark, idx) == 48)
      // re-autotune overwrites the artifact (count unchanged): the
      // cached 48 must drop on the mtime component alone
      writeArtifact(Seq((16, 128, 48, 0.85), (16, 128, 96, 0.95)),
        t0 + 5000)
      assert(AnnTopK.resolveEf(spark, idx) == 96,
        "a re-autotuned artifact must invalidate the cached ef")
      // append grows the index (manifest count moves); the artifact is
      // rewritten with the ORIGINAL frontier but the SAME mtime as the
      // cached entry saw — only the count component can invalidate here
      AnnIndex.append(emb.filter(col("vec_id") >= 200 &&
        col("vec_id") < 300), "vec_id", "embedding", idx)
      writeArtifact(Seq((16, 128, 48, 0.95)), t0 + 5000)
      assert(AnnTopK.resolveEf(spark, idx) == 48,
        "an append must invalidate the cached ef via the manifest count")
    } finally spark.conf.unset(AnnTopK.TargetRecallConfKey)
  }

  test("rewrite fires under a filter and matches the exact filtered top-k") {
    setup()
    try {
      spark.conf.set(AnnTopK.EfConfKey, "600") // exhaustive at this scale
      val df = emb.filter(col("label") === 1)
        .withColumn("dist", l2sq_dist(col("embedding"), vecLit(q)))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.nonEmpty, "expected the semi-join rewrite under the filter")
      val exact = emb.filter(col("label") === 1)
        .withColumn("d", l2sq_dist(col("embedding"), vecLit(q)))
        .orderBy(col("d").asc, col("vec_id").asc).limit(10)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(df.collect().map(_.getAs[Long]("vec_id")).toSeq == exact)
    } finally {
      AnnTopK.IndexCatalog.unregister(srcPath)
      spark.conf.unset(AnnTopK.EfConfKey)
    }
  }

  test("integer id column is cast to bigint in the candidate semi join") {
    AnnTopK.install(spark)
    val dir = Files.createTempDirectory("anntopk_int").toString
    val intSrc = s"$dir/src"
    emb.withColumn("vec_id", col("vec_id").cast("int"))
      .write.mode("overwrite").parquet(intSrc)
    val intEmb = spark.read.parquet(intSrc)
    val idxDir = s"$dir/idx"
    AnnIndex.build(intEmb, "vec_id", "embedding", idxDir,
      AnnIndex.Params(Metric.L2Sq, numShards = 2))
    AnnTopK.IndexCatalog.register(intSrc,
      AnnTopK.Entry(idxDir, "vec_id", "embedding", Metric.L2Sq))
    try {
      spark.conf.set(AnnTopK.EfConfKey, "600")
      val df = intEmb
        .withColumn("dist", l2sq_dist(col("embedding"), vecLit(q)))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.nonEmpty, "expected the rewrite despite the int id column")
      val exact = intEmb
        .withColumn("d", l2sq_dist(col("embedding"), vecLit(q)))
        .orderBy(col("d").asc, col("vec_id").asc).limit(10)
        .collect().map(_.getAs[Int]("vec_id")).toSeq
      assert(df.collect().map(_.getAs[Int]("vec_id")).toSeq == exact)
    } finally {
      AnnTopK.IndexCatalog.unregister(intSrc)
      spark.conf.unset(AnnTopK.EfConfKey)
    }
  }

  test("non-integral id column skips the rewrite instead of breaking the query") {
    AnnTopK.install(spark)
    val dir = Files.createTempDirectory("anntopk_str").toString
    val strSrc = s"$dir/src"
    emb.withColumn("sid", concat(lit("v"), col("vec_id")))
      .write.mode("overwrite").parquet(strSrc)
    val strEmb = spark.read.parquet(strSrc)
    val idxDir = s"$dir/idx"
    AnnIndex.build(emb, "vec_id", "embedding", idxDir,
      AnnIndex.Params(Metric.L2Sq, numShards = 2))
    AnnTopK.IndexCatalog.register(strSrc,
      AnnTopK.Entry(idxDir, "sid", "embedding", Metric.L2Sq))
    try {
      val df = strEmb
        .withColumn("dist", l2sq_dist(col("embedding"), vecLit(q)))
        .orderBy(col("dist").asc, col("sid").asc).limit(5)
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.isEmpty, "string id must not be semi-joined against bigint")
      assert(df.count() == 5) // query still works on the exact path
    } finally AnnTopK.IndexCatalog.unregister(strSrc)
  }

  test("hamming sort key rewrites through a sign-view index and stays exact") {
    AnnTopK.install(spark)
    val dir = Files.createTempDirectory("anntopk_ham").toString
    val bitsSrc = s"$dir/bits"
    emb.select(col("vec_id"),
        transform(col("embedding"), x => when(x >= 0, 1).otherwise(0)).as("bits"))
      .write.mode("overwrite").parquet(bitsSrc)
    val bits = spark.read.parquet(bitsSrc)
    val idxDir = s"$dir/idx"
    AnnIndex.build(
      bits.withColumn("__hview", graft.ann.HammingView.signView(col("bits"))),
      "vec_id", "__hview", idxDir,
      AnnIndex.Params(Metric.Hamming, numShards = 2))
    AnnTopK.IndexCatalog.register(bitsSrc,
      AnnTopK.Entry(idxDir, "vec_id", "bits", Metric.Hamming))
    val qBits: Seq[Int] = q.map(f => if (f >= 0) 1 else 0)
    try {
      spark.conf.set(AnnTopK.EfConfKey, "600") // exhaustive at this scale
      val df = bits
        .withColumn("dist",
          graft.functions.hamming_dist(col("bits"), graft.functions.intVecLit(qBits)))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.nonEmpty, "expected the hamming semi-join rewrite")
      val exact = bits
        .withColumn("d",
          graft.functions.hamming_dist(col("bits"), graft.functions.intVecLit(qBits)))
        .orderBy(col("d").asc, col("vec_id").asc).limit(10)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(df.collect().map(_.getAs[Long]("vec_id")).toSeq == exact)
    } finally {
      AnnTopK.IndexCatalog.unregister(bitsSrc)
      spark.conf.unset(AnnTopK.EfConfKey)
    }
  }

  test("order-changing cast around the distance skips the rewrite") {
    AnnTopK.install(spark)
    val dir = Files.createTempDirectory("anntopk_cast").toString
    val bitsSrc = s"$dir/bits"
    emb.select(col("vec_id"),
        transform(col("embedding"), x => when(x >= 0, 1).otherwise(0)).as("bits"))
      .write.mode("overwrite").parquet(bitsSrc)
    val bits = spark.read.parquet(bitsSrc)
    val idxDir = s"$dir/idx"
    AnnIndex.build(
      bits.withColumn("__hview", graft.ann.HammingView.signView(col("bits"))),
      "vec_id", "__hview", idxDir,
      AnnIndex.Params(Metric.Hamming, numShards = 2))
    AnnTopK.IndexCatalog.register(bitsSrc,
      AnnTopK.Entry(idxDir, "vec_id", "bits", Metric.Hamming))
    val qBits: Seq[Int] = q.map(f => if (f >= 0) 1 else 0)
    try {
      // string ordering ('100' < '11') differs from numeric: narrowing
      // to the numeric candidate top-k would silently change the result
      val df = bits
        .withColumn("dist",
          graft.functions.hamming_dist(col("bits"), graft.functions.intVecLit(qBits))
            .cast("string"))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.isEmpty, "a string-cast sort key must not be index-narrowed")
      assert(df.count() == 10) // exact path still answers
      // the monotone widening the library emits DOES rewrite
      val dfd = bits
        .withColumn("dist",
          graft.functions.hamming_dist(col("bits"), graft.functions.intVecLit(qBits))
            .cast("double"))
        .orderBy(col("dist").asc, col("vec_id").asc).limit(10)
      val joinsD = dfd.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joinsD.nonEmpty, "a double-cast hamming key must rewrite")
    } finally {
      AnnTopK.IndexCatalog.unregister(bitsSrc)
      spark.conf.unset(AnnTopK.EfConfKey)
    }
  }

  test("no rewrite without a registered index") {
    AnnTopK.install(spark)
    val joins = topkDf.queryExecution.optimizedPlan.collect {
      case j: Join => j
    }
    assert(joins.isEmpty)
  }

  test("no rewrite for a non-distance sort") {
    setup()
    try {
      val df = emb.orderBy(col("label").asc).limit(5)
      val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
      assert(joins.isEmpty)
      assert(df.count() == 5)
    } finally AnnTopK.IndexCatalog.unregister(srcPath)
  }
}
