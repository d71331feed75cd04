package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.ann.{AnnIndex, Metric}
import graft.bm25.Bm25
import graft.dedup.Dedup
import graft.embed.{Embeddings, Runtimes}
import graft.operators.Knn
import graft.functions.vecLit
import graft.text.TextOps

/** End-to-end training-data pipeline: dedup -> quality filter -> embed
  * -> index -> search, plus the ANN-probing weighted search. The flow a
  * reference user would run at 100 TB, exercised over the test corpus. */
class IntegrationSpec extends SparkSpec {

  private lazy val docs = spark.read.parquet(s"${sf("sf0.01")}/documents.parquet")

  test("dedup -> quality gate -> mock embed -> HNSW index -> search") {
    // 1. exact dedup (keep the min doc per content hash)
    val deduped = Dedup.dedupExact(docs, col("doc_id"), col("text"))
    val total = docs.count()
    val kept = deduped.count()
    assert(kept <= total && kept > 0)

    // 2. quality gate: drop ultra-short docs
    val quality = TextOps.quality(deduped, col("doc_id"), col("text"))
      .filter(col("n_tokens") >= 3)
      .select("doc_id")
    val gated = deduped.join(quality, "doc_id")
    assert(gated.count() > 0)

    // 3. deterministic mock embeddings
    val embedded = Embeddings.embedColumn(
      gated.select(col("doc_id"), col("text")), "text", "vec",
      Runtimes.mock(8), "mock-embed", batchSize = 32)

    // 4. sharded ANN index over the embedded corpus
    val dir = Files.createTempDirectory("e2e").toString
    val man = AnnIndex.build(embedded, "doc_id", "vec", dir,
      AnnIndex.Params(Metric.L2Sq, numShards = 2))
    assert(man.count == gated.count())

    // 5. search: the query text's own embedding must return itself first
    val probe = gated.select("doc_id", "text").limit(1).collect()(0)
    val qv = Runtimes.mock(8)
      .embedBatch("mock-embed", Seq(probe.getString(1))).head
    val hits = AnnIndex.topK(spark, dir, qv, 5, ef = 600)
      .collect().map(_.getLong(0))
    assert(hits.head == probe.getLong(0))
  }

  test("ANN-probing weighted search agrees with the exact path at high ef") {
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val dir = Files.createTempDirectory("wsann").toString
    AnnIndex.build(emb, "vec_id", "embedding", dir,
      AnnIndex.Params(Metric.L2Sq, numShards = 2))
    val q = Seq.tabulate(64)(i => ((i * 37) % 19 - 9) / 16.0f)
    val terms = Seq(
      Knn.WeightedTerm(0.7, col("embedding"), vecLit(q), Metric.L2Sq),
      Knn.WeightedTerm(0.3, col("embedding"), vecLit(q), Metric.Cos))
    val ann = Knn.weightedSearchAnn(emb, "vec_id",
        terms.map(t => (t, dir)), k = 10, ef = 600)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val exact = Knn.weightedSearch(emb, terms, 10,
        tieBreaker = Some(col("vec_id")))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(ann == exact)

    // recall-target serving through the weighted path: a synthetic
    // artifact whose only qualifying breadth is exhaustive derives the
    // probe ef (explicit ef=2 would cover 2 candidates per index and
    // cannot return the exact top-10); an unattainable target falls
    // back to the explicit ef
    import spark.implicits._
    val man = AnnIndex.readManifest(dir)
    Seq((man.m, man.efConstruction, man.count.toInt, 0.95, 1L, 1L))
      .toDF("m", "ef_construction", "ef", "recall", "build_ms", "search_ms")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$dir/autotune_results")
    val derived = Knn.weightedSearchAnn(emb, "vec_id",
        terms.map(t => (t, dir)), k = 10, ef = 2,
        targetRecall = Some(0.9))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(derived == exact,
      "weighted search must derive each index's breadth from its artifact")
    val fellBack = Knn.weightedSearchAnn(emb, "vec_id",
        terms.map(t => (t, dir)), k = 10, ef = 600,
        targetRecall = Some(0.999))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(fellBack == exact,
      "an unattainable target must fall back to the explicit ef")
  }

  test("near-dup group keeper -> mock embed -> IVFADC retrieval") {
    // 1. near-dup clusters over the corpus (LSH candidates, exact
    // Jaccard >= 0.6, connected components)
    val sh = Dedup.shingled(docs, col("doc_id"), col("text"))
    val sig = Dedup.signatures(sh, numHashes = 8)
    val pairs = Dedup.jaccardVerify(sh, Dedup.lshCandidatePairs(sig, 8, 4))
      .filter(col("jaccard") >= 0.6)
    val comps = Dedup.connectedComponents(pairs)
    // 2. keepers: unclustered docs + each cluster's minimum
    val keepers = docs.select("doc_id")
      .join(comps.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(comps.filter(col("doc_id") === col("component"))
        .select("doc_id"))
    val nKeep = keepers.count()
    assert(nKeep > 0 && nKeep < docs.count(), // clusters collapsed
      s"expected near-dup groups to shrink the corpus, kept $nKeep")
    // 3. deterministic mock embeddings over the kept docs
    val embedded = Embeddings.embedColumn(
      docs.join(keepers, "doc_id").select(col("doc_id"), col("text")),
      "text", "vec", Runtimes.mock(8), "mock-embed", batchSize = 64)
    // 4. IVFADC index + retrieval: the probe's own embedding must come
    // back in the top hits after the exact re-rank
    val cb = graft.pq.Pq.createCodebook(embedded, "vec",
      clusterCount = 16, subvectorCount = 4, datasetSizeLimit = 1000,
      seed = 7L)
    val dir = Files.createTempDirectory("e2eivf").toString
    graft.ann.IvfIndex.build(embedded, "doc_id", "vec", dir,
      graft.ann.IvfIndex.Params(nCells = 8, pq = Some(cb)))
    val probe = docs.join(keepers, "doc_id")
      .orderBy("doc_id").limit(1).collect()(0)
    val qv = Runtimes.mock(8)
      .embedBatch("mock-embed", Seq(probe.getAs[String]("text"))).head
    val hits = graft.ann.IvfIndex.topKAdc(spark, dir, qv, 5,
        nprobe = 8, refine = 50)
      .collect().map(_.getLong(0)).toSeq
    assert(hits.contains(probe.getAs[Long]("doc_id")),
      s"probe doc ${probe.getAs[Long]("doc_id")} not in top-5 $hits")
  }

  test("BM25 search then KNN re-rank (hybrid retrieval shape)") {
    // text recall stage (BM25 top-50), then vector re-rank of the hits
    val hits = Bm25.searchBm25(docs, col("doc_id"), col("text"),
      "spark join fast window", 50)
    val embedded = Embeddings.embedColumn(
      docs.join(hits.select("doc_id"), "doc_id")
        .select(col("doc_id"), col("text")),
      "text", "vec", Runtimes.mock(8), "mock-embed")
    val qv = Runtimes.mock(8).embedBatch("mock-embed", Seq("spark join")).head
    val reranked = Knn.knn(embedded, col("vec"), vecLit(qv.toSeq), 10,
      Metric.L2Sq, Some(col("doc_id")))
    assert(reranked.count() == 10)
  }

  test("contract hyperplanes: 64 distinct near-orthogonal planes") {
    // The 4 × 16-bit band geometry needs 64 INDEPENDENT planes. The
    // retired linear-congruential generator repeated with period 17 in
    // the plane index (17·97 ≡ 0 mod 17), so planes 17.. silently
    // duplicated planes 0.. and band entropy collapsed — correlated
    // bits mean far fewer than 2^16 effective buckets. Pin both the
    // distinctness and a pairwise-independence bound for the mix64
    // generator, plus the exactness contract the oracle depends on.
    val planes = graft.queries.VectorQueries.hyperplanes
    assert(planes.length == 64 && planes.forall(_.length == 64))
    assert(planes.distinct.length == 64, "planes must be distinct")
    for (p <- planes; x <- p)
      assert(x * 8.0f == math.round(x * 8.0f).toFloat && x >= -1f && x <= 1f,
        s"component $x is not an exact multiple of 1/8")
    val maxAbsCos = (for {
      a <- planes.indices; b <- planes.indices if a < b
      pa = planes(a); pb = planes(b)
    } yield {
      val dot = pa.zip(pb).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(pa.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(pb.map(x => x.toDouble * x).sum)
      math.abs(dot / (na * nb))
    }).max
    assert(maxAbsCos <= 0.5, f"max pairwise |cos| $maxAbsCos%.3f > 0.5")
  }

  test("incrementalDedup == plain anti-join; bloom-negatives skip the join") {
    import spark.implicits._
    // controlled fixture: dups planted across the snapshot boundary
    val prior = Seq((0L, "alpha"), (1L, "beta"), (2L, "gamma")).toDF("doc_id", "text")
    val batch = Seq((10L, "alpha"), (11L, "delta"), (12L, "beta"),
      (13L, "epsilon"), (14L, "alpha")).toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(batch, prior,
        col("doc_id"), col("text"), col("text"))
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(11L, 13L))
    // corpus-scale equivalence witness: bloom-routed == plain anti-join
    val corpPrior = docs.filter(col("doc_id") % 7 === 0)
    val corpBatch = docs.filter(col("doc_id") % 7 =!= 0)
    val routed = Dedup.incrementalDedup(corpBatch, corpPrior,
      col("doc_id"), col("text"), col("text"))
    val want = corpBatch.select(col("doc_id"),
        md5(col("text").cast("binary")).as("content_hash"))
      .join(corpPrior.select(md5(col("text").cast("binary")).as("content_hash")),
        Seq("content_hash"), "left_anti")
    assert(routed.count() == want.count())
    assert(routed.join(want, Seq("doc_id"), "left_anti").count() == 0)
    // a null-text batch row is KEPT: a null key never matches an
    // anti-join, and the bloom routing must not silently swallow it
    val withNull = Seq((20L, null: String), (21L, "alpha"))
      .toDF("doc_id", "text")
    val keptNull = Dedup.incrementalDedup(withNull, prior,
        col("doc_id"), col("text"), col("text"))
      .orderBy("doc_id").collect()
    assert(keptNull.map(_.getLong(0)).toSeq == Seq(20L),
      "null-text row kept, duplicate dropped")
    // a disjoint prior keeps everything (no false negatives by design)
    val disjoint = Seq("zzz unique prior text").toDF("text")
    val all = Dedup.incrementalDedup(batch, disjoint,
      col("doc_id"), col("text"), col("text"))
    assert(all.count() == batch.count())
  }
}
