package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ann.{AnnIndex, Hnsw, Metric, ShardCache}

/** ANN index: build, search recall, invariants, delete/vacuum, append.
  * Recall budget mirrors the reference's autotune default (target
  * recall 99 at k=10, lantern_cli/src/index_autotune/cli.rs:23-25) and
  * calculate_recall.sql semantics. */
class AnnSpec extends SparkSpec {

  private lazy val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")

  private lazy val corpus: Array[(Long, Array[Float])] =
    emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def exactTopK(q: Array[Float], k: Int): Seq[Long] =
    corpus.map { case (id, v) => (id, Metric.L2Sq.dist(q, v)) }
      .sortBy(x => (x._2, x._1)).take(k).map(_._1).toSeq

  private def buildIndex(dir: String, shards: Int = 4): AnnIndex.Manifest =
    AnnIndex.build(emb, "vec_id", "embedding", dir,
      AnnIndex.Params(Metric.L2Sq, m = 16, efConstruction = 128,
        numShards = shards))

  test("recall@10 >= 0.99 over 20 queries with ef=64") {
    val dir = Files.createTempDirectory("annrecall").toString
    buildIndex(dir)
    val queries = corpus.sortBy(_._1).take(20).map(_._2)
    var hit = 0
    var total = 0
    queries.foreach { q =>
      val exact = exactTopK(q, 10).toSet
      val approx = AnnIndex.topK(spark, dir, q, 10, ef = 64)
        .collect().map(_.getLong(0)).toSet
      hit += exact.intersect(approx).size
      total += 10
    }
    val recall = hit.toDouble / total
    assert(recall >= 0.99, s"recall@10 = $recall < 0.99")
  }

  test("high-ef search on a single shard equals exact top-k") {
    val dir = Files.createTempDirectory("annexact").toString
    buildIndex(dir, shards = 1)
    val q = corpus.head._2
    val approx = AnnIndex.topK(spark, dir, q, 10, ef = 600)
      .collect().map(_.getLong(0)).toSeq
    assert(approx == exactTopK(q, 10))
  }

  test("exhaustive-ef flat scan equals the graph walk at the ef boundary") {
    // ef >= size takes the direct-scan shortcut; ef = size - 1 still
    // walks the graph. Both must produce the exact ranking on a
    // connected graph — pinning the shortcut's equivalence exactly at
    // its activation edge, with and without tombstone skips.
    val subset = corpus.sortBy(_._1).take(200)
    val shard = {
      val h = new Hnsw(corpus.head._2.length, Metric.L2Sq,
        m = 16, efConstruction = 128, seed = 42L)
      subset.foreach { case (id, v) => h.insert(id, v) }
      h
    }
    val q = corpus.head._2
    val flat = shard.search(q, 10, ef = shard.size)
    val graph = shard.search(q, 10, ef = shard.size - 1)
    assert(flat == graph, "flat shortcut diverged from the graph walk")
    val exactSubset = subset
      .map { case (id, v) => (id, Metric.L2Sq.dist(q, v)) }
      .sortBy(x => (x._2, x._1)).take(10).map(_._1).toSeq
    assert(flat.map(_._1) == exactSubset)
    val dropped = flat.take(3).map(_._1).toSet
    val flatSkip = shard.search(q, 10, ef = shard.size, skip = dropped)
    val graphSkip = shard.search(q, 10, ef = shard.size - 1, skip = dropped)
    assert(flatSkip == graphSkip)
    assert(flatSkip.forall(r => !dropped(r._1)))
  }

  test("shard graphs satisfy invariants; manifest count matches") {
    val dir = Files.createTempDirectory("annvalid").toString
    val man = buildIndex(dir)
    assert(man.count == corpus.length)
    val violations = AnnIndex.validate(spark, dir)
    assert(violations.isEmpty, violations.mkString("; "))
  }

  test("serialization round-trip preserves search results") {
    val h = new Hnsw(4, Metric.L2Sq, m = 8, efConstruction = 64, seed = 7L)
    val rnd = new java.util.Random(11)
    (0 until 200).foreach { i =>
      h.insert(i.toLong, Array.fill(4)(rnd.nextFloat()))
    }
    val bos = new java.io.ByteArrayOutputStream()
    h.write(new java.io.DataOutputStream(bos))
    val back = Hnsw.read(new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)))
    val q = Array.fill(4)(0.5f)
    assert(back.search(q, 5, 64) == h.search(q, 5, 64))
    assert(back.validate().isEmpty)
  }

  test("delete tombstones hide rows; vacuum rebuilds without them") {
    val dir = Files.createTempDirectory("anndel").toString
    buildIndex(dir)
    val q = corpus.head._2
    val before = AnnIndex.topK(spark, dir, q, 5, ef = 600)
      .collect().map(_.getLong(0)).toSeq
    AnnIndex.delete(spark, dir, Seq(before.head))
    val after = AnnIndex.topK(spark, dir, q, 5, ef = 600)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(before.head))
    assert(after.take(4) == before.tail)

    val vdir = Files.createTempDirectory("annvac").toString
    val vman = AnnIndex.vacuum(spark, dir, vdir)
    assert(vman.count == corpus.length - 1)
    val vres = AnnIndex.topK(spark, vdir, q, 5, ef = 600)
      .collect().map(_.getLong(0)).toSeq
    assert(vres == after)
  }

  test("a same-path rebuild answers from the new shards") {
    val dir = Files.createTempDirectory("annrebuild").toString
    buildIndex(dir)
    val q = corpus.head._2
    val topFrame = AnnIndex.topK(spark, dir, q, 5, ef = 600)
    topFrame.collect() // caches the first build's graphs
    val queries = emb.filter(col("vec_id") === corpus.head._1)
    val joinFrame = AnnIndex.topKJoin(queries, "vec_id", "embedding", dir, k = 5, ef = 600)
    // rebuild at the same path (same shard names) from ids 1000-1199
    val second = emb.filter(col("vec_id") < 200).withColumn("vec_id", col("vec_id") + 1000)
    AnnIndex.build(second, "vec_id", "embedding", dir,
      AnnIndex.Params(Metric.L2Sq, m = 16, efConstruction = 128, numShards = 4))
    val want = corpus.filter(_._1 < 200)
      .map { case (id, v) => (id + 1000, Metric.L2Sq.dist(q, v)) }
      .sortBy(x => (x._2, x._1)).take(5).map(_._1).toSeq
    assert(AnnIndex.topK(spark, dir, q, 5, ef = 600).collect().map(_.getLong(0)).toSeq == want)
    val joined = AnnIndex.topKJoin(queries, "vec_id", "embedding", dir, k = 5, ef = 600)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(joined == want)
    // frames that pinned the first build's shards fail naming one
    for (run <- Seq(() => topFrame.collect(), () => joinFrame.collect())) {
      val e = intercept[Exception](run())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains(s"$dir/shard_")), e.getMessage)
    }
  }

  test("vacuum is distributed: survivors plan is RDD-backed, one partition per shard") {
    val dir = Files.createTempDirectory("annvacdist").toString
    val man = buildIndex(dir)
    AnnIndex.delete(spark, dir, corpus.take(3).map(_._1))
    val df = AnnIndex.survivors(spark, dir, man)
    // a driver-materializing implementation shows up as a LocalRelation
    // (all rows embedded in the plan on the driver); the distributed one
    // is an RDD scan with exactly one input partition per shard
    val leaves = df.queryExecution.analyzed.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(l =>
      !l.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
      s"vacuum input materialized on the driver: ${leaves.map(_.nodeName)}")
    assert(df.rdd.getNumPartitions == man.shards.size)
    // the anti-join happened executor-side: survivors exclude exactly
    // the tombstoned ids
    val ids = df.select("id").collect().map(_.getLong(0)).toSet
    assert(ids.size == corpus.length - 3)
    assert(corpus.take(3).map(_._1).forall(id => !ids.contains(id)))
  }

  test("100k tombstones: packed file, executor-side skip, correct results") {
    val dir = Files.createTempDirectory("anndel100k").toString
    buildIndex(dir)
    val q = corpus.head._2
    val before = AnnIndex.topK(spark, dir, q, 5, ef = 600)
      .collect().map(_.getLong(0)).toSeq
    // two real deletions buried in 100k synthetic tombstones: the probe
    // must stay correct with the full set binary-searched per shard
    AnnIndex.delete(spark, dir,
      before.take(2) ++ (10_000_000L until 10_100_000L))
    assert(AnnIndex.tombstones(dir).length == 100_002)
    val after = AnnIndex.topK(spark, dir, q, 5, ef = 600)
      .collect().map(_.getLong(0)).toSeq
    assert(!after.contains(before(0)) && !after.contains(before(1)))
    assert(after.take(3) == before.drop(2))
  }

  test("tombstone generations are monotonic: clock order can never shadow write order") {
    val dir = Files.createTempDirectory("anngen").toString
    buildIndex(dir)
    AnnIndex.delete(spark, dir, Seq(1L))
    AnnIndex.delete(spark, dir, Seq(2L))
    AnnIndex.delete(spark, dir, Seq(3L))
    // each delete writes the next numbered generation (parsed from
    // storage, never a clock) holding the full set; the newest two stay
    assert(AnnIndex.tombstones(dir).toSet == Set(1L, 2L, 3L))
    val names = new java.io.File(dir).list().filter(_.startsWith("tombstones-")).sorted
    assert(names.toSeq == Seq("tombstones-g000000000002.bin", "tombstones-g000000000003.bin"),
      names.mkString(","))
  }

  test("a tombstone file of an earlier format fails probes and deletes naming it") {
    val dir = Files.createTempDirectory("annlegacy").toString
    buildIndex(dir, 2)
    val q = corpus.head._2
    for (name <- Seq("tombstones.txt", "tombstones.bin", "tombstones-1699999999999.bin")) {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3))
      def failsNaming(run: => Any): Unit = {
        val e = intercept[Exception](run)
        val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
        assert(msgs.exists(m => m != null && m.contains(s"$dir/$name")), e.getMessage)
      }
      failsNaming(AnnIndex.topK(spark, dir, q, 5, ef = 64).collect())
      failsNaming(AnnIndex.delete(spark, dir, Seq(1L)))
      failsNaming(AnnIndex.tombstones(dir))
      assert(f.delete())
    }
    assert(AnnIndex.topK(spark, dir, q, 5, ef = 64).collect().length == 5)
  }

  test("one driver listing per probe, whatever the shard count") {
    for (shards <- Seq(1, 4)) {
      val dir = Files.createTempDirectory(s"annlist$shards").toString
      buildIndex(dir, shards)
      val q = corpus.head._2
      val queries = emb.filter(col("vec_id") < 3).select("vec_id", "embedding")
      def listingsOf(probe: => Unit): Long = {
        val before = graft.ann.IndexSnapshot.listingCount(dir)
        probe
        graft.ann.IndexSnapshot.listingCount(dir) - before
      }
      // the driver lists the index directory once per probe; executors
      // (same JVM in local mode) list nothing, with or without deletes
      val top = AnnIndex.topK(spark, dir, q, 5, ef = 600).collect().map(_.getLong(0)).toSeq
      assert(listingsOf(AnnIndex.topK(spark, dir, q, 5, ef = 64).collect()) == 1)
      assert(listingsOf(AnnIndex.topKJoin(queries, "vec_id", "embedding", dir, 5).collect()) == 1)
      AnnIndex.delete(spark, dir, Seq(top.head))
      var after = Seq.empty[Long]
      assert(listingsOf {
        after = AnnIndex.topK(spark, dir, q, 5, ef = 600).collect().map(_.getLong(0)).toSeq
      } == 1, s"$shards shards")
      assert(!after.contains(top.head))
    }
  }

  test("delete merges from a fresh listing, not the TTL probe cache") {
    val dir = Files.createTempDirectory("annfresh").toString
    buildIndex(dir)
    val q = corpus.head._2
    // probe once: this JVM has seen the index with no tombstones
    AnnIndex.topK(spark, dir, q, 5, ef = 64).collect()
    // another JVM deletes id 7: a new generation appears on shared
    // storage without this JVM knowing
    AnnScanSpec.writeGeneration(dir, 1, Seq(7L))
    // a local delete must still see and carry forward the remote
    // delete (merging the set this JVM saw last would resurrect id 7
    // in the winning generation)
    AnnIndex.delete(spark, dir, Seq(11L))
    assert(AnnIndex.tombstones(dir).toSet == Set(7L, 11L))
  }

  test("streamAppend batch replay is idempotent across both crash windows") {
    val work = Files.createTempDirectory("anncrash").toString
    val idx = s"$work/idx"
    AnnIndex.build(emb.filter(col("vec_id") < 250), "vec_id", "embedding",
      idx, AnnIndex.Params(Metric.L2Sq, numShards = 2))
    val batch = emb.filter(col("vec_id") >= 250).select("vec_id", "embedding")
    // window B: the batch's append committed the manifest, then the
    // driver died BEFORE the marker write — replay must not re-append
    AnnIndex.append(batch, "vec_id", "embedding", idx, Some("batch_7"))
    assert(AnnIndex.readManifest(idx).count == corpus.length)
    AnnIndex.applyStreamBatch(batch, 7L, "vec_id", "embedding", idx)
    assert(AnnIndex.readManifest(idx).count == corpus.length,
      "a committed-but-unmarked batch was applied twice")
    assert(new java.io.File(s"$idx/_applied_batch_7").exists())
    // a marked batch replays as a no-op
    AnnIndex.applyStreamBatch(batch, 7L, "vec_id", "embedding", idx)
    assert(AnnIndex.readManifest(idx).count == corpus.length)
    // window A: a previous attempt staged partial shards without
    // committing the manifest — the stage is dropped and redone
    val junkDir = new java.io.File(s"$idx/batch_9")
    junkDir.mkdirs()
    val junk = new java.io.FileOutputStream(s"$idx/batch_9/shard_00000.hnsw")
    try junk.write(Array[Byte](1, 2, 3)) finally junk.close()
    val batch9 = emb.filter(col("vec_id") >= 490).select("vec_id", "embedding")
    val batch9Count = batch9.count()
    AnnIndex.applyStreamBatch(batch9, 9L, "vec_id", "embedding", idx)
    val man = AnnIndex.readManifest(idx)
    assert(man.count == corpus.length + batch9Count)
    // every manifest shard (including the redone stage) is readable
    assert(AnnIndex.validate(spark, idx).isEmpty)
  }

  test("ShardCache evicts least-recently-used graphs under a byte budget") {
    val dir = Files.createTempDirectory("annlru").toString
    buildIndex(dir, shards = 4)
    val prev = sys.props.get(ShardCache.BudgetProp)
    try {
      ShardCache.invalidate(dir)
      sys.props(ShardCache.BudgetProp) = "1" // below any shard size
      (0 until 4).foreach(i => ShardCache.get(f"$dir/shard_$i%05d.hnsw"))
      // only the newest graph may stay resident
      assert(ShardCache.cachedCount <= 1)
      // and searches still work (evicted shards reload on demand)
      val q = corpus.head._2
      val got = AnnIndex.topK(spark, dir, q, 10, ef = 600)
        .collect().map(_.getLong(0)).toSeq
      assert(got == exactTopK(q, 10))
    } finally {
      prev match {
        case Some(v) => sys.props(ShardCache.BudgetProp) = v
        case None => sys.props.remove(ShardCache.BudgetProp)
      }
    }
  }

  test("batch KNN join equals per-query probes") {
    val dir = Files.createTempDirectory("annjoin").toString
    buildIndex(dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id"), col("embedding"))
    val joined = AnnIndex.topKJoin(queries, "vec_id", "embedding", dir,
        k = 5, ef = 600)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getLong(1)))
      .sortBy(x => (x._1, x._2))
      .toSeq
    val loop = corpus.filter(_._1 < 10).sortBy(_._1).flatMap { case (qid, qv) =>
      AnnIndex.topK(spark, dir, qv, 5, ef = 600)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, i + 1, r.getLong(0)) }
    }.toSeq
    assert(joined == loop)
  }

  test("topKJoin output composes with Hybrid.rrfPerQuery (the batched " +
      "hybrid-retrieval production path)") {
    import graft.operators.Hybrid
    val dir = Files.createTempDirectory("annrrf").toString
    buildIndex(dir)
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id"), col("embedding"))
    // ranking A: the batch ANN operator's (query_id, id, dist, rank)
    // frame, fed to the fuser verbatim
    val annLists = AnnIndex.topKJoin(queries, "vec_id", "embedding", dir,
      k = 10, ef = 600)
    // ranking B: an independent signal over the same candidates — the
    // parity of id stands in for any second scorer; what matters is
    // the (query_id, id, order) shape
    val second = annLists
      .select(col("query_id"), col("id"), (col("id") % 7).as("alt"))
    val fused = Hybrid.rrfPerQuery("query_id", "id", Seq(
        Hybrid.Ranked(annLists, Seq(col("dist").asc, col("id").asc)),
        Hybrid.Ranked(second, Seq(col("alt").asc, col("id").asc))), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fused.map(_._1).distinct.sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    assert(fused.groupBy(_._1).forall(_._2.length == 5))
    // per-query equality with the single-probe fuser over the slices
    val q0 = Hybrid.rrf("id", Seq(
        Hybrid.Ranked(annLists.filter(col("query_id") === 0),
          Seq(col("dist").asc, col("id").asc)),
        Hybrid.Ranked(second.filter(col("query_id") === 0),
          Seq(col("alt").asc, col("id").asc))), k = 5)
      .collect().map(r => (0L, r.getLong(0), r.getDouble(1))).toSet
    assert(fused.filter(_._1 == 0L).toSet == q0)
  }

  test("streamAppend drains a parquet feed into the index via foreachBatch") {
    val work = Files.createTempDirectory("annstream").toString
    import spark.implicits._
    // seed the index with the first half, stream in the second half
    AnnIndex.build(emb.filter(col("vec_id") < 250), "vec_id", "embedding",
      s"$work/idx", AnnIndex.Params(Metric.L2Sq, numShards = 2))
    emb.filter(col("vec_id") >= 250).select("vec_id", "embedding")
      .write.parquet(s"$work/feed")
    val q = AnnIndex.streamAppend(spark, s"$work/feed",
      emb.select("vec_id", "embedding").schema, "vec_id", "embedding",
      s"$work/idx", checkpoint = s"$work/ckpt")
    q.awaitTermination()
    val man = AnnIndex.readManifest(s"$work/idx")
    assert(man.count == corpus.length)
    // a streamed-in row must be findable
    val streamedRow = corpus.maxBy(_._1)
    val hits = AnnIndex.topK(spark, s"$work/idx", streamedRow._2, 5, ef = 600)
      .collect().map(_.getLong(0)).toSeq
    assert(hits.head == streamedRow._1)
    // re-running the drain must not duplicate rows (checkpoint + batch
    // markers make the appends idempotent)
    val q2 = AnnIndex.streamAppend(spark, s"$work/feed",
      emb.select("vec_id", "embedding").schema, "vec_id", "embedding",
      s"$work/idx", checkpoint = s"$work/ckpt")
    q2.awaitTermination()
    assert(AnnIndex.readManifest(s"$work/idx").count == corpus.length)
  }

  test("append adds shards and rows stay searchable") {
    val dir = Files.createTempDirectory("annapp").toString
    import spark.implicits._
    val first = emb.filter(col("vec_id") < 250)
    val rest = emb.filter(col("vec_id") >= 250)
    AnnIndex.build(first, "vec_id", "embedding", dir,
      AnnIndex.Params(Metric.L2Sq, numShards = 2))
    val man = AnnIndex.append(rest, "vec_id", "embedding", dir)
    assert(man.count == corpus.length)
    val q = corpus.last._2
    val res = AnnIndex.topK(spark, dir, q, 10, ef = 600)
      .collect().map(_.getLong(0)).toSeq
    assert(res == exactTopK(q, 10))
  }

  test("PQ-in-index: codes-only shards search via ADC with useful recall") {
    val cb = graft.pq.Pq.createCodebook(emb, "embedding",
      clusterCount = 16, subvectorCount = 8, datasetSizeLimit = 500,
      seed = 42L)
    val dir = Files.createTempDirectory("annpq").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir,
      AnnIndex.Params(Metric.L2Sq, numShards = 2, pq = Some(cb)))
    val q = corpus.head._2
    // ADC candidates from the PQ graph, re-ranked exactly (the
    // reference's heap recheck): recall against exact top-10
    val cand = AnnIndex.topK(spark, dir, q, 100, ef = 600)
      .collect().map(_.getLong(0))
    val byId = corpus.toMap
    val rer = cand.map(id => (id, Metric.L2Sq.dist(q, byId(id))))
      .sortBy(x => (x._2, x._1)).take(10).map(_._1).toSet
    val exact = exactTopK(q, 10).toSet
    assert(exact.intersect(rer).size >= 8,
      s"PQ-index recall too low: ${exact.intersect(rer).size}/10")
    // round-trips through serialization with the embedded codebook
    val shard = ShardCache.get(s"$dir/shard_00000.hnsw")
    assert(shard.pq.isDefined && shard.pq.get.subvectors == 8)
    assert(shard.validate().isEmpty)
  }

  test("append to a PQ index keeps the PQ storage mode") {
    val cb = graft.pq.Pq.createCodebook(emb, "embedding",
      clusterCount = 16, subvectorCount = 8, datasetSizeLimit = 500,
      seed = 42L)
    val dir = Files.createTempDirectory("annpqapp").toString
    AnnIndex.build(emb.filter(col("vec_id") < 250), "vec_id", "embedding",
      dir, AnnIndex.Params(Metric.L2Sq, numShards = 1, pq = Some(cb)))
    val man = AnnIndex.append(emb.filter(col("vec_id") >= 250), "vec_id",
      "embedding", dir)
    assert(man.pq)
    man.shards.foreach { s =>
      assert(ShardCache.get(s"$dir/$s").pq.isDefined,
        s"shard $s lost the PQ mode")
    }
  }

  test("hamming-metric index searches sign views exactly at high ef") {
    val dir = Files.createTempDirectory("annham").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir,
      AnnIndex.Params(Metric.Hamming, numShards = 1))
    val q = corpus.head._2
    val got = AnnIndex.topK(spark, dir, q, 10, ef = 600)
      .collect().map(_.getLong(0)).toSeq
    val exact = corpus.map { case (id, v) => (id, Metric.Hamming.dist(q, v)) }
      .sortBy(x => (x._2, x._1)).take(10).map(_._1).toSeq
    assert(got == exact)
  }

  test("cosine-metric index searches by cos_dist order") {
    val dir = Files.createTempDirectory("anncos").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir,
      AnnIndex.Params(Metric.Cos, numShards = 1))
    val q = corpus.head._2
    val got = AnnIndex.topK(spark, dir, q, 10, ef = 600)
      .collect().map(_.getLong(0)).toSeq
    val exact = corpus.map { case (id, v) => (id, Metric.Cos.dist(q, v)) }
      .sortBy(x => (x._2, x._1)).take(10).map(_._1).toSeq
    assert(got == exact)
  }

  test("dimension mismatch raises the reference error") {
    val h = new Hnsw(4, Metric.L2Sq, 8, 64, 0L)
    h.insert(1L, Array(1f, 2f, 3f, 4f))
    val e = intercept[IllegalArgumentException](h.insert(2L, Array(1f)))
    assert(e.getMessage.contains("equally sized arrays"))
  }
}
