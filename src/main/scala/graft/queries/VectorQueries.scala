package graft.queries

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.SharedState.Policy
import graft.functions.{hamming_dist, cos_dist, inner_product, vecLit, intVecLit}
import graft.operators.Knn
import graft.ann.{AnnIndex, Metric}

/** Driver-contract queries for the distance/KNN operator family
  * (SURVEY.md sections 2.1, 2.2, 2.9) with DuckDB oracles. */
object VectorQueries {

  /** Deterministic 64-dim query vector; exact in float and double. */
  val qVec: Seq[Float] = Seq.tabulate(64)(i => ((i * 37) % 19 - 9) / 16.0f)

  /** Same vector as a DuckDB double-array literal. */
  val qVecSql: String =
    qVec.map(f => "%.4f".format(f)).mkString("[", ", ", "]::DOUBLE[]")

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  def knnL2Sq(s: SparkSession, dir: String): DataFrame =
    Knn.knn(emb(s, dir), col("embedding"), vecLit(qVec), 10,
        Metric.L2Sq, Some(col("vec_id")))
      .select(col("vec_id"), round(col("dist"), 6).as("dist"))

  private def knnCos(s: SparkSession, dir: String): DataFrame =
    Knn.knn(emb(s, dir), col("embedding"), vecLit(qVec), 10,
        Metric.Cos, Some(col("vec_id")))
      .select(col("vec_id"), round(col("dist"), 6).as("dist"))

  /** Sign-bit int vector for hamming: 1 where component >= 0. */
  private val signBitsSpark =
    transform(col("embedding"), x => when(x >= 0, 1).otherwise(0))
  private val qBits: Seq[Int] = qVec.map(f => if (f >= 0) 1 else 0)

  private def knnHamming(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .withColumn("bits", signBitsSpark)
      .withColumn("dist", hamming_dist(col("bits"), intVecLit(qBits)))
      .orderBy(col("dist").asc, col("vec_id").asc)
      .limit(10)
      .select(col("vec_id"), col("dist"))

  private def knnFiltered(s: SparkSession, dir: String): DataFrame =
    Knn.knn(emb(s, dir).filter(col("label") === 1), col("embedding"),
        vecLit(qVec), 10, Metric.L2Sq, Some(col("vec_id")))
      .select(col("vec_id"), round(col("dist"), 6).as("dist"))

  /** Candidate/ef path of weighted_vector_search (lantern.sql:769-817):
    * per-term top-ef candidate sets, union-dedup by id, joint re-rank. */
  private def weightedCandidates(s: SparkSession, dir: String): DataFrame =
    Knn.weightedSearchCandidates(
        emb(s, dir), "vec_id",
        Seq(
          Knn.WeightedTerm(0.7, col("embedding"), vecLit(qVec), Metric.L2Sq),
          Knn.WeightedTerm(0.3, col("embedding"), vecLit(qVec), Metric.Cos)),
        10, ef = 50)
      .select(col("vec_id"), round(col("joint_dist"), 6).as("joint_dist"))

  private def weightedSearch(s: SparkSession, dir: String): DataFrame =
    Knn.weightedSearch(
        emb(s, dir),
        Seq(
          Knn.WeightedTerm(0.7, col("embedding"), vecLit(qVec), Metric.L2Sq),
          Knn.WeightedTerm(0.3, col("embedding"), vecLit(qVec), Metric.Cos)),
        10, maxDist = None, tieBreaker = Some(col("vec_id")))
      .select(col("vec_id"), round(col("joint_dist"), 6).as("joint_dist"))

  /** Embedding near-duplicate pairs, blocked by label AND a shared
    * hyperplane band: a candidate pair must agree on the metadata
    * blocking key and at least one 16-bit LSH band, so every block is a
    * (label, band) bucket. Candidate generation is equi-joins only —
    * the unbounded within-label all-pairs join this query used in
    * rounds 1-2 is retired (a label block grows with the corpus; a
    * (label, band) bucket does not). Band geometry is the scale-sane
    * 4 × 16-bit config (65536 buckets/band — see [[hyperplanes]]):
    * the old 2 × 8-bit contract had 256 buckets/band, so bucket size
    * grew linearly with ANY corpus and verification quadratically —
    * the same fixed-bucket-count defect the SimHash contract shed in
    * the sf1 decade. */
  private def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(emb(s, dir), hpCandidatesCached(s, dir, blocked = true))

  /** Hyperplane-LSH candidate pairs over the embeddings, persisted
    * once per dir and shared by every verifier that reads them — the
    * embedding-side twin of the text family's lshCandidatesCached (at
    * cluster scale the stored candidate table a dedup pipeline writes
    * once and verifies many ways; per-probe recompute was signature +
    * banding + skew-guard stats + self-join every call). Two variants:
    * label-blocked (q_neardup_embedding) and unblocked
    * (q_neardup_lsh); both warmed in [[prepare]]. */
  private def hpCandidatesCached(s: SparkSession, dir: String,
      blocked: Boolean): DataFrame =
    graft.SharedState.frame(s"hpcands:$blocked:$dir", Policy.Parquet)(
      graft.dedup.Dedup.hyperplanePairs(emb(s, dir),
          col("vec_id"), col("embedding"), hyperplanes,
          bands = 4, bitsPerBand = 16,
          blockCols = if (blocked) Seq(col("label")) else Nil)
        .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b")))

  /** Exact-cosine verification of candidate pairs: join both sides'
    * vectors back (pairs-only, never all-pairs) and keep the 10 closest. */
  private def verifiedPairs(e: DataFrame, cand: DataFrame): DataFrame =
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")), "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b")), "vec_b")
      .withColumn("dist", round(cos_dist(col("emb_a"), col("emb_b")), 6))
      .orderBy(col("dist").asc, col("vec_a").asc, col("vec_b").asc)
      .limit(10)
      .select(col("vec_a"), col("vec_b"), col("dist"))

  /** One sharded HNSW index per data dir, built lazily and reused by the
    * ANN queries (bench runs them repeatedly; the artifact is immutable). */
  private def annIndexPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"annIndexes:$dir") {
      val path = graft.SharedState.tempDir("graft_ann")
      AnnIndex.build(emb(s, dir), "vec_id", "embedding", path,
        AnnIndex.Params(Metric.L2Sq, m = 16, efConstruction = 128, numShards = 4))
      path
    }

  /** A second index on the same column under the cosine metric, for the
    * multi-index weighted search (each term probes its own index). */
  private def annCosIndexPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"annCosIndexes:$dir") {
      val path = graft.SharedState.tempDir("graft_ann_cos")
      AnnIndex.build(emb(s, dir), "vec_id", "embedding", path,
        AnnIndex.Params(Metric.Cos, m = 16, efConstruction = 128, numShards = 4))
      path
    }

  /** ef that makes every per-shard search exhaustive BY CONSTRUCTION:
    * the index's total row count bounds any shard's size, so a fixed
    * constant can never silently stop covering the corpus when the
    * scale factor grows (pass-small/fail-big is exactly the oracle
    * brittleness class to eliminate). */
  private def exhaustiveEf(path: String): Int =
    math.min(AnnIndex.readManifest(path).count, Int.MaxValue.toLong).toInt

  /** Weighted multi-index search end-to-end (reference approximate
    * weighted path, lantern.sql:769-817): each term's candidate set is
    * an ANN probe of its OWN index (l2sq and cos graphs over the same
    * column), unioned, deduplicated, re-ranked by the joint metric.
    * ef = manifest.count makes each per-shard search exhaustive at any
    * scale, so the candidate union covers the corpus and the result is
    * exact — the oracle is the exact weighted SQL. */
  private def weightedAnn(s: SparkSession, dir: String): DataFrame = {
    val l2Path = annIndexPath(s, dir)
    val cosPath = annCosIndexPath(s, dir)
    val ef = math.max(exhaustiveEf(l2Path), exhaustiveEf(cosPath))
    Knn.weightedSearchAnn(
        emb(s, dir), "vec_id",
        Seq(
          (Knn.WeightedTerm(0.7, col("embedding"), vecLit(qVec), Metric.L2Sq),
            l2Path),
          (Knn.WeightedTerm(0.3, col("embedding"), vecLit(qVec), Metric.Cos),
            cosPath)),
        10, ef = ef)
      .select(col("vec_id"), round(col("joint_dist"), 6).as("joint_dist"))
  }

  /** Four deterministic query vectors for the batched fusion row —
    * the [[qVec]] 1/16 grid, phase-shifted per query id so the four
    * rankings genuinely differ (exact in float and double). */
  private val batchQVecs: Seq[(Int, Seq[Float])] =
    Seq.tabulate(4)(q =>
      q -> Seq.tabulate(64)(i => ((i * 37 + q * 11) % 19 - 9) / 16.0f))

  private def batchQVecsSql: String = batchQVecs.map { case (q, v) =>
    s"($q, ${v.map(f => "%.4f".format(f)).mkString("[", ", ", "]::DOUBLE[]")})"
  }.mkString(",\n    ")

  /** Batched hybrid fusion — [[graft.operators.Hybrid.rrfPerQuery]]
    * over FOUR query vectors in ONE job: each query's exact l2sq and
    * cosine top-20 lists fuse under RRF with every rank window, the
    * hit-list full-outer join and the final top-10 all PARTITIONED BY
    * the query id (the at-scale counterpart of q_hybrid_rrf's
    * single-probe fusion — parallelism grows with the query batch, no
    * single-partition stage). The per-query lists here come from the
    * exact KNN operator (contract scaffolding; a production batch
    * arrives from `topKJoin` in the same (qid, id, dist) shape). Ranks
    * are taken on the 6dp-rounded distances in both engines while the
    * top-20 SELECTION stays unrounded — the q_hybrid_rrf discipline. */
  private def hybridRrfBatch(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Hybrid
    import org.apache.spark.sql.expressions.Window
    // ONE corpus pass per metric for all four hit lists (was: one
    // TakeOrdered scan per (query, metric) — 8 corpus scans per call):
    // the query batch rides the scan as an exploded 4-struct literal
    // array, and the per-query top-20 is a row_number window that
    // Catalyst plans as a map-side partial WindowGroupLimit, so the
    // qid exchange carries <= 20 rows per (query, input partition) —
    // never the corpus. Selection order matches Knn.knn exactly
    // (unrounded dist asc NULLS LAST, vec_id asc); rounding stays
    // post-selection, the q_hybrid_rrf discipline.
    def lists(metric: Metric, dcol: String): DataFrame = {
      val qarr = array(batchQVecs.map { case (q, v) =>
        struct(lit(q).as("qid"), vecLit(v).as("qv")) }: _*)
      emb(s, dir)
        .select(col("vec_id"), col("embedding"), explode(qarr).as("__q"))
        .select(col("__q").getField("qid").as("qid"), col("vec_id"),
          metric.dist(col("embedding"), col("__q").getField("qv"))
            .as("__d"))
        .withColumn("__r", row_number().over(
          Window.partitionBy(col("qid"))
            .orderBy(col("__d").asc_nulls_last, col("vec_id").asc)))
        .filter(col("__r") <= 20)
        .select(col("qid"), col("vec_id"), round(col("__d"), 6).as(dcol))
    }
    Hybrid.rrfPerQuery("qid", "vec_id", Seq(
        Hybrid.Ranked(lists(Metric.L2Sq, "dl"),
          Seq(col("dl").asc, col("vec_id").asc)),
        Hybrid.Ranked(lists(Metric.Cos, "dc"),
          Seq(col("dc").asc, col("vec_id").asc))), 10)
      // order on the UNROUNDED score (the oracle's ORDER BY f DESC) —
      // two scores that only round equal must still order identically
      // across engines; the projection below preserves the sort
      .orderBy(col("qid").asc, col("rrf_score").desc, col("vec_id").asc)
      .select(col("qid"), col("vec_id"),
        round(col("rrf_score"), 6).as("rrf_score"))
  }

  /** ANN top-k through the sharded HNSW index. With ef >= shard size the
    * per-shard search is exhaustive, so the result is exact and
    * oracle-checkable (the ANN recall path is exercised with realistic
    * ef by AnnSpec + q_ann_ef64). */
  private def annL2Sq(s: SparkSession, dir: String): DataFrame = {
    val path = annIndexPath(s, dir)
    AnnIndex.topK(s, path, qVec.toArray, 10, ef = exhaustiveEf(path))
      .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))
  }

  /** Same index probed at the reference's default ef=64
    * (options.h:22-25) — the realistic approximate path, surfaced as a
    * self-checking recall row so the driver can oracle-check it: the
    * ef=64 top-10 is joined against the in-query exact top-10 and the
    * 0.9-threshold verdict emitted. Only the VERDICT is emitted (oracle
    * pins TRUE): pinning the raw recall to a constant made the
    * threshold dead code and the contract margin-dependent — any host/
    * sf where seeded graphs return 9/10 would fail the harness while
    * the query itself judged the run acceptable. Shard assignment is
    * hash-by-id (data-deterministic), so the verdict is host-invariant
    * (reference precedent: recall-threshold tests,
    * lantern_hnsw/test/sql/hnsw_pq_index.sql:120-129). */
  private def annL2SqEf64(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val approx = AnnIndex.topK(s, annIndexPath(s, dir), qVec.toArray, 10, ef = 64)
      .select("id").collect().map(_.getLong(0)).toSet
    val exact = Knn.knn(emb(s, dir), col("embedding"), vecLit(qVec), 10,
        Metric.L2Sq, Some(col("vec_id")))
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (approx & exact).size / 10.0
    Seq(Tuple1(recall >= 0.9)).toDF("ok")
  }

  /** k-NN weak labeling through the production path: the 20 query
    * vectors batch through the shared index in one topKJoin, the
    * labels frame (reference rows only — vec_id >= 20, which is also
    * how self-matches drop out) joins on, and the majority vote picks
    * each query's label with the deterministic tie chain. Exhaustive
    * ef + overfetch = |queries| makes the reference-restricted top-5
    * exact, so the oracle is the windowed cross-distance SQL with the
    * vote replayed. The DERIVED-ef production serving of the same
    * operator is [[classifyRecall]] — measured this round: a
    * 0.99-derived top-10 breadth does NOT keep a top-5-of-35 vote
    * bit-exact at the 200k century (3/20 labels flipped at the
    * derived ef=128), because recall targets are k-specific; an
    * approximate search can only promise its measured quantity, so
    * the exact oracle keeps the exhaustive breadth and the derived-ef
    * row self-checks agreement instead. */
  private def knnClassify(s: SparkSession, dir: String): DataFrame = {
    val path = annIndexPath(s, dir)
    graft.operators.Classify.classifyAnn(
        emb(s, dir).filter(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding")),
        col("vec_id"), col("embedding"), path,
        emb(s, dir).filter(col("vec_id") >= 20), col("vec_id"), col("label"),
        k = 5, ef = exhaustiveEf(path), overfetch = 20)
      .orderBy(col("query_id").asc)
  }

  /** Recall-target weak labeling (the r11-punch derived-ef serving of
    * classifyAnn, honest about what an approximate search can
    * promise): the production batched path runs at the ef DERIVED
    * from the 0.99 target via the TUNED index's `autotune_results`
    * artifact (no silent fallback — derivation is required to
    * resolve), and its per-query labels are self-checked against the
    * in-query EXACT vote; the emitted verdict is mean label agreement
    * ≥ 0.75 (oracle pins TRUE — the q_ann_ef64/q_ann_target_recall
    * discipline). The bar is deliberately below 1.0: measured at the
    * 200k century, the 0.99-derived top-10 breadth (ef=128 on the
    * (24,160) winner) flips 3 of 20 votes — recall targets are
    * K-SPECIFIC, and a top-10 artifact cannot promise an exact
    * top-35 fetch; agreement is 1.0 at sf0.01/sf0.1/sf1 and 0.85
    * measured at sf10. */
  /** Exact-KNN classification of the 20 anchor queries, persisted once
    * per dir — the classify verdict's ground-truth side (the
    * recallTruthCached discipline: queries and references are frozen
    * per dir, so the exact labels are reference data the verdict reads,
    * not per-probe work). Warmed in [[prepare]]. */
  private def classifyExactCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"clsexact:$dir", Policy.Parquet)(
      graft.operators.Classify.classifyExact(
        emb(s, dir).filter(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding")),
        col("vec_id"), col("embedding"),
        emb(s, dir).filter(col("vec_id") >= 20),
        col("vec_id"), col("embedding"), col("label"), k = 5))

  private def classifyRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = annTunedIndexPath(s, dir)
    val derived = graft.ann.Autotune.efForTargetCached(s, path, 0.99)
    require(derived.nonEmpty,
      "autotune_results artifact missing or no variant met 0.99")
    val queries = emb(s, dir).filter(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
    val refs = emb(s, dir).filter(col("vec_id") >= 20)
    val prod = graft.operators.Classify.classifyAnn(
      queries, col("vec_id"), col("embedding"), path,
      refs, col("vec_id"), col("label"),
      k = 5, ef = derived.get, overfetch = 30, targetRecall = Some(0.99))
    val exact = classifyExactCached(s, dir)
    // ONE action for numerator and denominator (was three sequential
    // jobs: queries.count, then a join + count — each a full driver
    // round-trip over the same lineage). classifyExact emits exactly
    // one row per query (rank window over every query row), so the
    // left join's row count IS the query count, and a left join keeps
    // the denominator honest even if the ANN side ever dropped a query.
    val a = exact.select(col("query_id"), col("label").as("__lx"))
      .join(prod.select(col("query_id"), col("label")), Seq("query_id"),
        "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("label") === col("__lx"), 1L).otherwise(0L)).as("m"))
      .head()
    val agree = a.getLong(1).toDouble / a.getLong(0)
    Seq(Tuple1(agree >= 0.75)).toDF("ok")
  }

  /** Hard-negative mining for the 20 labeled anchors: the 3 nearest
    * reference rows (vec_id >= 20) per anchor whose label differs —
    * the contrastive-training negatives closest to the decision
    * boundary. Exact path (label filter precedes the rank window);
    * dist rounds 6dp for output. */
  private def hardNegatives(s: SparkSession, dir: String): DataFrame =
    graft.operators.Classify.hardNegativesExact(
        emb(s, dir).filter(col("vec_id") < 20),
        col("vec_id"), col("embedding"), col("label"),
        emb(s, dir).filter(col("vec_id") >= 20),
        col("vec_id"), col("embedding"), col("label"), k = 3)
      .select(col("query_id"), col("rank"), col("id"),
        round(col("dist"), 6).as("dist"), col("label"))
      .orderBy(col("query_id").asc, col("rank").asc)

  /** MMR diversified top-5 over the exact 20 nearest neighbors
    * (λ=0.7): the re-ranking step between a similarity search and a
    * RAG/labeling consumer — plain top-k returns near-duplicate
    * neighbors, MMR's greedy trade of relevance against redundancy
    * makes the 5 results cover the neighborhood. The oracle unrolls
    * all five greedy selections (the q_kmeans discipline): every
    * score is double arithmetic in the same operation order on both
    * engines, so the argmax compares identical bits. */
  private def mmrRerank(s: SparkSession, dir: String): DataFrame =
    graft.operators.Mmr.diversifiedTopK(emb(s, dir), col("vec_id"),
        col("embedding"), qVec.toArray, k = 5, lambda = 0.7, candN = 20)
      .select(col("rank"), col("id").as("vec_id"), col("dist"), col("score"))

  /** Autotune-tuned index: the full grid (measured recall per variant)
    * + the winning full-table build + the `autotune_results` artifact,
    * once per dir — the pairing the reference ships as
    * `autotune-index --create-index --export`
    * (lantern_cli/src/index_autotune/mod.rs:161-186, cli.rs). */
  private def annTunedIndexPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"annTunedIndexes:$dir") {
      val work = graft.SharedState.tempDir("graft_ann_tuned")
      // the grid MUST measure at serve scale: a sub-corpus sample
      // re-introduces the very decay the artifact exists to prevent
      // (measured here: a 10k-sample grid derives an ef that misses
      // 0.9 on the 20k decade corpus). sample = the full corpus at
      // every contract sf (capped to bound the grid's driver-local
      // ground truth; a 100 TB deployment tunes on a representative
      // shard of its serving-index size instead). With sample = all,
      // the winning grid index is bit-identical to the final build
      // (same rows, same hash-sharded deterministic construction), so
      // the exported recall is measured on the index being served.
      val sample = math.min(emb(s, dir).count(), 250000L).toInt
      // tune the BUILD at 0.99: the serving rows then pick different
      // points on the same measured frontier (q_ann_target_recall a
      // cheap ef for 0.9, q_knn_classify the 0.99 breadth its exact
      // oracle needs). Tuning the build at 0.9 built the cheapest
      // graph that barely qualified (m=6 at sf1, frontier topping out
      // at 0.94) — a graph that can never serve a 0.99 request and
      // measurably flipped one classify vote at sf1.
      val (report, manifest) = graft.ann.Autotune.runAndCreate(
        emb(s, dir), "vec_id", "embedding", s"$work/grid", s"$work/index",
        Metric.L2Sq, k = 10, targetRecall = 0.99, sampleSize = sample,
        numQueries = 10, numShards = 4)
      require(manifest.nonEmpty,
        s"no autotune variant met the 0.99 recall target: ${report.results}")
      s"$work/index"
    }

  /** Recall-target search on the contract (the sf10 scale finding: a
    * PINNED ef decays as the corpus grows — ef=64 measured recall
    * 0.795 at 200k vectors where ≥0.97 at ≤20k). ef is DERIVED from
    * the index's measured autotune_results artifact via
    * [[AnnIndex.topKAtRecall]], then the achieved recall is
    * self-checked over ten probe queries against in-query exact scans
    * — mean recall across probes, the grid's own protocol, so the
    * verdict is stable where a single-query recall would sit on the
    * margin. Only the verdict is emitted (oracle pins TRUE), the
    * q_ann_ef64 threshold discipline. */
  private def annTargetRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = annTunedIndexPath(s, dir)
    // no silent fallback: the artifact MUST exist here (runAndCreate
    // just exported it) — a fallback ef would un-test the derivation
    val ef = graft.ann.Autotune.efForTarget(s, path, 0.9).getOrElse(
      throw new IllegalStateException("autotune_results artifact missing"))
    // one distributed job, no per-probe driver loop: the ten probes
    // batch through the index in ONE topKJoin (executor-cached shard
    // graphs); the exact truth is the per-dir persisted ground-truth
    // table shared with the IVF verdict (recallTruthCached)
    val approx = AnnIndex.topKJoin(recallProbes(s, dir), "probe_id", "pv",
        path, 10, ef)
      .select(col("query_id").as("probe_id"), col("id"))
    val hits = approx.join(recallTruthCached(s, dir), Seq("probe_id", "id"))
      .count()
    val effK = math.min(10L, AnnIndex.readManifest(path).count).toDouble
    val recall = hits / (effK * 10)
    Seq(Tuple1(recall >= 0.9)).toDF("ok")
  }

  /** Filtered ANN through the transparent plan rewrite: a WHERE between
    * the distance sort and the indexed scan must still use the index
    * (reference hnsw_select.sql:50-52 — scan returns candidates, quals
    * apply on top). The query registers the index, asserts the rewrite
    * actually fired (it FAILS otherwise — driver-green proves the
    * filtered rewrite path), and runs with exhaustive ef so the result
    * is exact and oracle-checkable. */
  private def annFiltered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.AnnTopK.install(s)
    val srcPath = s"$dir/embeddings.parquet"
    val idxPath = annIndexPath(s, dir)
    graft.plans.AnnTopK.IndexCatalog.register(srcPath,
      graft.plans.AnnTopK.Entry(idxPath, "vec_id", "embedding", Metric.L2Sq))
    val prevEf = s.conf.getOption(graft.plans.AnnTopK.EfConfKey)
    // exhaustive per shard at any sf: ef >= the index's total count
    s.conf.set(graft.plans.AnnTopK.EfConfKey, exhaustiveEf(idxPath).toString)
    try {
      val df = emb(s, dir).filter(col("label") === 1)
        .withColumn("dist",
          graft.functions.l2sq_dist(col("embedding"), vecLit(qVec)))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"))
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      require(joins.nonEmpty,
        s"ANN rewrite did not fire under the filter; plan:\n${df.queryExecution.optimizedPlan}")
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        .toDF("vec_id", "dist")
    } finally {
      graft.plans.AnnTopK.IndexCatalog.unregister(srcPath)
      prevEf.fold(s.conf.unset(graft.plans.AnnTopK.EfConfKey))(v =>
        s.conf.set(graft.plans.AnnTopK.EfConfKey, v))
    }
  }

  /** Dedicated mutable index for the delete/vacuum family (the shared
    * probe index must stay immutable): built once per dir, then the
    * exact top-3 ids for the fixed query vector are tombstoned — so the
    * post-delete top-10 is exactly rows 4..13 of the exact ranking,
    * which the oracle expresses as LIMIT 10 OFFSET 3 (deterministic at
    * ANY scale factor, no pinned ids). */
  private def annDeleteIndexPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"annDeleteIndexes:$dir") {
      val path = graft.SharedState.tempDir("graft_ann_del")
      AnnIndex.build(emb(s, dir), "vec_id", "embedding", path,
        AnnIndex.Params(Metric.L2Sq, m = 16, efConstruction = 128,
          numShards = 2))
      val top3 = Knn.knn(emb(s, dir), col("embedding"), vecLit(qVec), 3,
          Metric.L2Sq, Some(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      AnnIndex.delete(s, path, top3)
      path
    }

  /** Post-delete search: tombstoned rows are skipped INSIDE the shard
    * graphs (reference scan.c:294-300 semantics). */
  private def annDelete(s: SparkSession, dir: String): DataFrame = {
    val path = annDeleteIndexPath(s, dir)
    AnnIndex.topK(s, path, qVec.toArray, 10, ef = exhaustiveEf(path))
      .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))
  }

  /** Vacuum compaction (the graph rebuild the reference never does —
    * delete.c leaves holes forever): the compacted index must return
    * the same post-delete ranking with the tombstones gone. */
  private def annVacuumPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"annVacuumedIndexes:$dir") {
      val o = graft.SharedState.tempDir("graft_ann_vac")
      AnnIndex.vacuum(s, annDeleteIndexPath(s, dir), o)
      o
    }
  private def annVacuum(s: SparkSession, dir: String): DataFrame = {
    val out = annVacuumPath(s, dir)
    AnnIndex.topK(s, out, qVec.toArray, 10, ef = exhaustiveEf(out))
      .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))
  }

  /** Batch append maintenance (reference INSERT path, insert.c; Spark
    * model: new shards + manifest merge): an index seeded with the even
    * ids and appended with the odd ids must answer exactly like one
    * built whole. */
  private def annAppendPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"annAppendIndexes:$dir") {
      val p = graft.SharedState.tempDir("graft_ann_app")
      AnnIndex.build(emb(s, dir).filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p,
        AnnIndex.Params(Metric.L2Sq, m = 16, efConstruction = 128,
          numShards = 2))
      AnnIndex.append(emb(s, dir).filter(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", p)
      p
    }
  private def annAppend(s: SparkSession, dir: String): DataFrame = {
    val path = annAppendPath(s, dir)
    AnnIndex.topK(s, path, qVec.toArray, 10, ef = exhaustiveEf(path))
      .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))
  }

  /** Index validation surfaced as a contract row (reference
    * validate_index.c): zero violations across every shard graph plus
    * the manifest count check. */
  private def annValidate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val violations = AnnIndex.validate(s, annIndexPath(s, dir))
    Seq(Tuple1(violations.length.toLong)).toDF("violations")
  }

  /** Derived parquet with the corpus' sign bits as an int column — the
    * scannable source a hamming-indexed table looks like (the rewrite
    * matches a sort over a SCANNED relation, so the bits must live in a
    * real file source, like the reference's bit-typed column). */
  private def bitsTablePath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"bitsTables:$dir") {
      val p = graft.SharedState.tempDir("graft_bits")
      emb(s, dir)
        .select(col("vec_id"), col("label"), signBitsSpark.as("bits"))
        .write.mode("overwrite").parquet(s"$p/bits")
      s"$p/bits"
    }

  /** Hamming HNSW index over the sign view of the bits column
    * (reference opclass dist_hamming_ops, lantern.sql:63-104). */
  private def annHammingIndexPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"annHammingIndexes:$dir") {
      val path = graft.SharedState.tempDir("graft_ann_ham")
      val bits = s.read.parquet(bitsTablePath(s, dir))
        .withColumn("__hview", graft.ann.HammingView.signView(col("bits")))
      AnnIndex.build(bits, "vec_id", "__hview", path,
        AnnIndex.Params(Metric.Hamming, m = 16, efConstruction = 128,
          numShards = 4))
      path
    }

  /** Hamming top-k through the transparent plan rewrite: `ORDER BY
    * hamming_dist(bits, q) LIMIT k` over a scanned bits table must use
    * the hamming index the way the reference's dist_hamming_ops opclass
    * makes `ORDER BY v <+> q` indexable (lantern.sql:63-104). The query
    * FAILS unless the rewrite fired, and runs with exhaustive ef so the
    * result is exact and oracle-checkable (the oracle recomputes the
    * sign bits from the embeddings). */
  private def annHammingRewrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.plans.AnnTopK.install(s)
    val srcPath = bitsTablePath(s, dir)
    val idxPath = annHammingIndexPath(s, dir)
    graft.plans.AnnTopK.IndexCatalog.register(srcPath,
      graft.plans.AnnTopK.Entry(idxPath, "vec_id", "bits", Metric.Hamming))
    val prevEf = s.conf.getOption(graft.plans.AnnTopK.EfConfKey)
    s.conf.set(graft.plans.AnnTopK.EfConfKey, exhaustiveEf(idxPath).toString)
    try {
      val df = s.read.parquet(srcPath)
        .withColumn("dist", hamming_dist(col("bits"), intVecLit(qBits)))
        .orderBy(col("dist").asc, col("vec_id").asc)
        .limit(10)
        .select(col("vec_id"), col("dist"))
      val joins = df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }
      require(joins.nonEmpty,
        s"hamming ANN rewrite did not fire; plan:\n${df.queryExecution.optimizedPlan}")
      df.collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
        .toDF("vec_id", "dist")
    } finally {
      graft.plans.AnnTopK.IndexCatalog.unregister(srcPath)
      prevEf.fold(s.conf.unset(graft.plans.AnnTopK.EfConfKey))(v =>
        s.conf.set(graft.plans.AnnTopK.EfConfKey, v))
    }
  }

  /** Batch KNN join through the sharded index: top-3 neighbors for each
    * of the first 20 corpus vectors in ONE job (mapPartitions over the
    * queries, shard graphs probed from the executor cache). Exhaustive
    * ef makes each per-query result exact, so the oracle is the
    * windowed cross-distance SQL. */
  private def knnJoin(s: SparkSession, dir: String): DataFrame = {
    val path = annIndexPath(s, dir)
    AnnIndex.topKJoin(
        emb(s, dir).filter(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", path, k = 3, ef = exhaustiveEf(path))
      .select(col("query_id"), col("id"), round(col("dist"), 6).as("dist"),
        col("rank"))
  }

  /** 64 deterministic random-hyperplane planes (multiples of 1/8: exact
    * in float and double, so sign bits agree across engines), enough
    * for the scale-sane 4-band × 16-bit contract geometry. Components
    * come from a splitmix64-style mix of (plane, dim) — the earlier
    * linear-congruential generator `((i*97 + j*31 + 13) % 17 - 8)`
    * repeats with period 17 in the plane index (17·97 ≡ 0 mod 17), so
    * any widening past 16 planes silently reused planes and collapsed
    * band entropy; a measured hazard, pinned in IntegrationSpec
    * (distinctness + max pairwise |cos| ≤ 0.5 across all 64). */
  private val numPlanes = 64
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private[graft] val hyperplanes: Seq[Seq[Float]] =
    (0 until numPlanes).map { i =>
      (0 until 64).map(j =>
        (((mix64(i * 64L + j) >>> 8) % 17).toInt - 8) / 8.0f)
    }

  /** Fixed 4-centroid coarse quantizer for the SemDeDup contract row.
    * Components are multiples of 1/16 (exact in float and double), so
    * the argmin cos assignment replays bit-for-bit in DuckDB — the
    * same discipline as [[PqQueries.gridCodebook]]. Centroids are
    * caller-supplied data in [[graft.dedup.Dedup.semanticPairs]]'
    * contract (train via k-means in production; embed as constants on
    * the oracle path, like the BPE merge table). */
  private[graft] val semCentroids: Array[Array[Float]] =
    Array.tabulate(4, 64) { (c, j) => (((c * 7 + j * 13 + 5) % 33) - 16) / 16.0f }

  /** SemDeDup verified pairs (cluster blocking x banded LSH x exact
    * cosine <= 0.75), persisted once per dir and shared by the pairs
    * and groups rows — the same persisted-intermediate pattern as
    * jaccardPairsCached on the text side. */
  private def semPairsCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"sempairs:$dir", Policy.Compact)(
      graft.dedup.Dedup.semanticPairs(emb(s, dir), col("vec_id"),
        col("embedding"), semCentroids, hyperplanes,
        bands = 4, bitsPerBand = 16, maxDist = 0.75))

  /** SemDeDup semantic near-dup pairs end-to-end on the contract:
    * k-means-style cluster blocking (fixed centroids) composed with
    * banded hyperplane LSH, exact-cosine verified, top-10 by rounded
    * distance. The DuckDB oracle replays the whole path: argmin cos
    * assignment (first-min tie-break, matching the kernel's strict <),
    * sign-band keys, (cluster, band)-bucketed candidates, and the same
    * rounded verify. */
  private def semanticPairsQ(s: SparkSession, dir: String): DataFrame =
    semPairsCached(s, dir)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"),
        round(col("cos_dist"), 6).as("dist"))
      .orderBy(col("dist").asc, col("vec_a").asc, col("vec_b").asc)
      .limit(10)

  /** The SemDeDup ACTION: connected components over ALL verified
    * semantic pairs assign every clustered vector its group key (the
    * min reachable vec_id) — "keep one document per semantic
    * near-dup group". The oracle replays the closure as a recursive
    * CTE, the q_neardup_groups discipline on the embedding side. */
  private def semanticGroups(s: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.connectedComponents(
        semPairsCached(s, dir).select(col("doc_a"), col("doc_b")))
      .select(col("doc_id").as("vec_id"), col("component"))
      .orderBy(col("vec_id").asc)

  /** Embedding near-duplicates via random-hyperplane LSH: 4 bands of 16
    * sign bits each bucket the corpus; only bucket-mates are verified
    * with exact cosine distance. Candidate generation is equi-joins on
    * 16-bit keys (65536 buckets/band — bucket size stays O(1) as the
    * corpus grows; see [[hyperplanes]]), never an all-pairs product,
    * and the default-on mega-bucket star guard of
    * [[graft.dedup.Dedup.pairsFromBuckets]] caps popular sign patterns
    * without being asked. */
  private def nearDupLsh(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(emb(s, dir), hpCandidatesCached(s, dir, blocked = false))

  /** fvecs round-trip: dump the embeddings to a `.fvecs` file once per
    * dir, read it back through the distributed binaryRecords reader, and
    * project verifiable values; the oracle reads the original parquet
    * (row order = ascending vec_id, the written order). */
  private def fvecsFilePath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"fvecsFiles:$dir") {
      val f = graft.SharedState.tempDir("graft_emb") + "/emb.fvecs"
      // toLocalIterator, not collect: the writer streams one partition
      // at a time to the driver (one POSIX file is inherently a
      // driver-side sink), so driver memory stays bounded by a single
      // partition even if the fixture ever rides a bigger corpus
      val vecs = emb(s, dir).orderBy("vec_id")
        .select(col("embedding")).toLocalIterator()
      graft.sources.Dotvecs.writeFvecs(s, f,
        vecs.asScala.map(_.getAs[Seq[Float]]("embedding").toArray))
      f
    }

  private def fvecsRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = fvecsFilePath(s, dir)
    graft.sources.Dotvecs.readFvecs(s, path)
      .select(col("row_id"), size(col("vector")).as("dim"),
        round(element_at(col("vector"), 1).cast("double"), 6).as("e0"),
        round(element_at(col("vector"), 64).cast("double"), 6).as("e63"))
      .orderBy(col("row_id").asc).limit(200)
  }

  /** Streaming KNN cursor surfaced as a result set: first 25 rows read
    * through init_k doubling (3 refills from initK=7) must equal the
    * exact top-25. */
  private def knnCursor(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Knn.knnCursor(emb(s, dir), col("embedding"), vecLit(qVec),
        Metric.L2Sq, Some(col("vec_id")), initK = 7)
      .take(25)
      .map(r => (r.getAs[Long]("vec_id"),
        BigDecimal(r.getAs[Double]("dist"))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSeq
    rows.toDF("vec_id", "dist")
  }

  /** IVF probe over every cell = exact top-k through the partitioned
    * path (partition pruning exercised by IvfSpec at small nprobe). */
  private def ivfIndexPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"ivfIndexes:$dir") {
      val p = graft.SharedState.tempDir("graft_ivf")
      graft.ann.IvfIndex.build(emb(s, dir), "vec_id", "embedding", p,
        graft.ann.IvfIndex.Params(nCells = 16))
      p
    }

  private def ivfTopK(s: SparkSession, dir: String): DataFrame =
    graft.ann.IvfIndex.topK(s, ivfIndexPath(s, dir), qVec.toArray, 10,
        nprobe = 16)
      .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))

  /** IVF grid + winning full-table build + `autotune_results`
    * artifact, once per dir — the routed-path twin of
    * [[annTunedIndexPath]], with the same serve-scale discipline:
    * the grid measures on (a capped view of) the full corpus, so the
    * exported recall-vs-nprobe frontier describes the index being
    * served, not a sub-corpus sample whose routing is easier. */
  private def ivfTunedIndexPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"ivfTunedIndexes:$dir") {
      val work = graft.SharedState.tempDir("graft_ivf_tuned")
      val sample = math.min(emb(s, dir).count(), 250000L).toInt
      val (report, manifest) = graft.ann.Autotune.runIvfAndCreate(
        emb(s, dir), "vec_id", "embedding", s"$work/grid", s"$work/index",
        Metric.L2Sq, k = 10, targetRecall = 0.9, sampleSize = sample,
        numQueries = 10)
      require(manifest.nonEmpty,
        s"no IVF autotune variant met the 0.9 recall target: ${report.results}")
      s"$work/index"
    }

  /** Recall-target IVF serving (q_ann_target_recall's routed-path
    * twin): nprobe DERIVES from the tuned index's measured
    * `autotune_results` frontier — no silent fallback — and the
    * achieved recall self-checks over ten probe queries against
    * in-query exact scans (mean recall, the grid's own protocol);
    * only the verdict is emitted (oracle pins TRUE). One topKJoin
    * batches all probes: routing pairs broadcast, dynamic partition
    * pruning on the cells scan. */
  /** The 10 lowest-id probe vectors, the shared probe set of both
    * target-recall verdicts. */
  private def recallProbes(s: SparkSession, dir: String): DataFrame =
    emb(s, dir)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pv"))
      .orderBy(col("probe_id").asc).limit(10)

  /** Exact brute-force top-10 ground truth for [[recallProbes]],
    * persisted once per dir and shared by the ANN and IVF
    * target-recall verdicts — the stored ground-truth table every
    * recall harness materializes once (probes and corpus are frozen
    * per dir, so re-running the broadcast cross-join + rank window
    * per probe timed the brute-force REFERENCE, not the index under
    * test). min(10, n) rows per probe, the property both verdicts'
    * denominators lean on. Warmed in [[prepare]]. */
  private def recallTruthCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"recalltruth:$dir", Policy.Parquet) {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id"))
        .orderBy(col("dist").asc, col("vec_id").asc)
      emb(s, dir).select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(recallProbes(s, dir)))
        .withColumn("dist",
          graft.functions.l2sq_dist(col("embedding"), col("pv")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 10)
        .select(col("probe_id"), col("vec_id").as("id"))
    }

  private def ivfTargetRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = ivfTunedIndexPath(s, dir)
    val np = graft.ann.Autotune.nprobeForTargetCached(s, path, 0.9)
      .getOrElse(throw new IllegalStateException(
        "IVF autotune_results artifact missing or no nprobe met 0.9"))
    val approx = graft.ann.IvfIndex.topKJoin(recallProbes(s, dir),
        "probe_id", "pv", path, 10, nprobe = np)
      .select(col("query_id").as("probe_id"), col("id"))
    val exact = recallTruthCached(s, dir)
    // ONE action for numerator and denominator (was a join-count plus a
    // corpus count() job whose only purpose was effK = min(10, n)): the
    // exact frame holds min(10, n) rows per probe, so its left-join row
    // count IS effK × nProbes — identical arithmetic at every corpus
    // with ≥ 10 rows (all contract scales), one driver round-trip.
    val a = exact
      .join(approx.withColumn("__hit", lit(1)), Seq("probe_id", "id"),
        "left")
      .agg(count(lit(1)).as("n"),
        coalesce(sum(col("__hit")), lit(0L)).as("hits"))
      .head()
    val recall = a.getLong(1).toDouble / a.getLong(0)
    Seq(Tuple1(recall >= 0.9)).toDF("ok")
  }

  /** IVF index validation (the [[annValidate]] counterpart): zero
    * violations across centroid sidecar, cell range, vector dims, the
    * frozen-centroid assignment of every row, and PQ consistency —
    * checked on the append index (append folds into the base cells
    * directory, so this walks one branch; the committed-stream-batch
    * multi-branch walk is exercised by IvfSpec's validate test). */
  private def ivfValidate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val violations = graft.ann.IvfIndex.validate(s, ivfAppendPath(s, dir))
    Seq(Tuple1(violations.length.toLong)).toDF("violations")
  }

  /** IVFADC: the candidate scan ranks byte codes only (raw vectors stay
    * on disk), then the refine set re-ranks exactly — with refine=100
    * of a probed corpus whose true top-10 survives the ADC cut, the
    * result is the exact top-10, so the oracle is the exact SQL. */
  private def ivfAdcIndexPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"ivfAdcIndexes:$dir") {
      val p = graft.SharedState.tempDir("graft_ivfadc")
      val cb = graft.pq.Pq.createCodebook(emb(s, dir), "embedding",
        clusterCount = 64, subvectorCount = 16, datasetSizeLimit = 2000,
        seed = 42L)
      graft.ann.IvfIndex.build(emb(s, dir), "vec_id", "embedding", p,
        graft.ann.IvfIndex.Params(nCells = 16, pq = Some(cb)))
      p
    }

  /** IVF append maintenance: an index built on the even ids and
    * appended with the odd ids (frozen-centroid assignment, partitioned
    * append) must answer an all-cells probe exactly like one built
    * whole. */
  private def ivfAppendPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"ivfAppendIndexes:$dir") {
      val p = graft.SharedState.tempDir("graft_ivf_app")
      graft.ann.IvfIndex.build(emb(s, dir).filter(col("vec_id") % 2 === 0),
        "vec_id", "embedding", p, graft.ann.IvfIndex.Params(nCells = 16))
      graft.ann.IvfIndex.append(emb(s, dir).filter(col("vec_id") % 2 =!= 0), p)
      p
    }

  private def ivfAppend(s: SparkSession, dir: String): DataFrame =
    graft.ann.IvfIndex.topK(s, ivfAppendPath(s, dir), qVec.toArray, 10,
        nprobe = 16)
      .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))

  /** Dedicated mutable IVF index for the delete/vacuum family (the
    * shared probe index must stay immutable): built once per dir, the
    * exact top-3 ids for the fixed query vector tombstoned — so the
    * post-delete all-cells probe is exactly rows 4..13 of the exact
    * ranking (LIMIT 10 OFFSET 3 oracle, deterministic at any sf). */
  private def ivfDeleteIndexPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"ivfDeleteIndexes:$dir") {
      val p = graft.SharedState.tempDir("graft_ivf_del")
      graft.ann.IvfIndex.build(emb(s, dir), "vec_id", "embedding", p,
        graft.ann.IvfIndex.Params(nCells = 16))
      val top3 = Knn.knn(emb(s, dir), col("embedding"), vecLit(qVec), 3,
          Metric.L2Sq, Some(col("vec_id")))
        .select("vec_id").collect().map(_.getLong(0)).toSeq
      graft.ann.IvfIndex.delete(s, p, top3)
      p
    }

  /** Post-delete IVF search: tombstoned ids are skipped executor-side
    * by the codegen tombstone_live filter over the probed cells. */
  private def ivfDelete(s: SparkSession, dir: String): DataFrame =
    graft.ann.IvfIndex.topK(s, ivfDeleteIndexPath(s, dir), qVec.toArray, 10,
        nprobe = 16)
      .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))

  /** IVF vacuum = consolidate: tombstoned rows physically reclaimed
    * into a fresh cells generation (manifest-swap commit); the
    * consolidated index must return the same post-delete ranking. */
  private def ivfVacuumPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"ivfVacuumed:$dir") {
      val p = ivfDeleteIndexPath(s, dir)
      val folded = graft.ann.IvfIndex.consolidate(s, p)
      require(folded, "consolidate found no tombstones to fold")
      p
    }
  private def ivfVacuum(s: SparkSession, dir: String): DataFrame =
    graft.ann.IvfIndex.topK(s, ivfVacuumPath(s, dir), qVec.toArray, 10,
        nprobe = 16)
      .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))

  /** Routed batch KNN join: each query equi-joins only its probed
    * cells (vs q_knn_join's every-shard graph probes). nprobe = all 16
    * cells makes it exact, so the oracle is the same windowed
    * cross-distance SQL as q_knn_join. */
  private def ivfJoin(s: SparkSession, dir: String): DataFrame =
    graft.ann.IvfIndex.topKJoin(
        emb(s, dir).filter(col("vec_id") < 20)
          .select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", ivfIndexPath(s, dir), k = 3, nprobe = 16,
        queryBound = Some(20L)) // known bound: no per-call count() job
      .select(col("query_id"), col("id"), round(col("dist"), 6).as("dist"),
        col("rank"))

  private def ivfAdc(s: SparkSession, dir: String): DataFrame =
    graft.ann.IvfIndex.topKAdc(s, ivfAdcIndexPath(s, dir), qVec.toArray, 10,
        nprobe = 16, refine = 200)
      .select(col("id").as("vec_id"), round(col("dist"), 6).as("dist"))

  /** The steps that build the one-time artifacts (sharded HNSW, IVF,
    * IVFADC, fvecs dump) outside any timed region, each timed under its
    * name — so bench per-query numbers mean steady-state probes, not
    * probe+build (an index build is a one-time cost amortized over the
    * index's whole query lifetime). */
  def prepare(s: SparkSession, dir: String): Seq[graft.SharedState.Step] = {
    import graft.SharedState.step
    Seq(
      step("ann_hnsw") { annIndexPath(s, dir) },
      step("ann_cos") { annCosIndexPath(s, dir) },
      step("ann_hamming") {
        val p = annHammingIndexPath(s, dir)
        // untimed k=1 warm probe: the FIRST search pays the executor
        // shard-graph load, O(index size) — 21 s at sf10, which blew
        // the fixed-k serving row's scale-gate bound. First-touch
        // artifact loads are build cost; the timed row must measure
        // the steady-state probe (the gate's small side was already
        // warm via its own untimed sweep, so this also makes the two
        // sides symmetric).
        val v = s.read.parquet(bitsTablePath(s, dir))
          .select(graft.ann.HammingView.signView(col("bits")).as("v"))
          .head().getSeq[Float](0).toArray
        graft.ann.AnnIndex.topK(s, p, v, 1, 16).count()
        ()
      },
      step("ann_delete") { annDeleteIndexPath(s, dir) },
      step("ann_vacuum") { annVacuumPath(s, dir) },
      step("ann_append") { annAppendPath(s, dir) },
      step("ivf") { ivfIndexPath(s, dir) },
      step("ivf_append") { ivfAppendPath(s, dir) },
      step("ivf_adc") { ivfAdcIndexPath(s, dir) },
      step("ivf_delete") { ivfDeleteIndexPath(s, dir) },
      step("ivf_vacuum") { ivfVacuumPath(s, dir) },
      step("ann_autotuned") { annTunedIndexPath(s, dir) },
      step("ivf_autotuned") { ivfTunedIndexPath(s, dir) },
      step("fvecs") { fvecsFilePath(s, dir) },
      step("semantic_pairs") { semPairsCached(s, dir).count() },
      step("neardup_candidates") {
        hpCandidatesCached(s, dir, blocked = true).count() },
      step("neardup_candidates_lsh") {
        hpCandidatesCached(s, dir, blocked = false).count() },
      step("recall_ground_truth") { recallTruthCached(s, dir).count() },
      step("classify_exact") { classifyExactCached(s, dir).count() },
      // the Lloyd train behind q_kmeans / q_prototype_prune /
      // q_cluster_balance — a one-time per-dir artifact
      // (SharedState-cached centroids): warm it here so whichever of
      // the three rows benches first measures its own plan, not the
      // shared train (the ann_hamming warm-probe precedent above)
      step("kmeans_cents") { centsCached(s, dir); embCountCached(s, dir); () })
  }

  // ---- DuckDB oracle fragments ----

  private val l2sqSqlExpr =
    s"list_sum(list_transform(embedding, (x, i) -> (CAST(x AS DOUBLE) - qv[i]) * (CAST(x AS DOUBLE) - qv[i])))"
  private val cosSqlExpr =
    """(CASE WHEN list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
      |  THEN 1.0
      |  ELSE 1.0 - list_sum(list_transform(embedding, (x, i) -> CAST(x AS DOUBLE) * qv[i]))
      |    / sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      |           * list_sum(list_transform(qv, x -> x * x)))
      |END)""".stripMargin

  /** Embeddings on an exact 1/16384 grid: float inputs widen to double
    * exactly and every partial sum is EXACT in double, so vec_sum's
    * merge order cannot move a bit — the determinism discipline that
    * lets a distributed float aggregate face a serial DuckDB oracle. */
  private val gridVec =
    transform(col("embedding"), e => round(e.cast("double") * 16384, 0) / 16384)

  private val gridVecSql =
    "list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 16384, 0) / 16384)"

  /** l2sq of a corpus vector `g.v` against a centroid row `c.v` —
    * index-order summation, the same order the Spark kernels fold. */
  private val kmeansDistTo =
    "list_sum(list_transform(g.v, (x, i) -> (x - c.v[i]) * (x - c.v[i])))"

  /** The unrolled 2-iteration Lloyd CTE chain shared by the q_kmeans
    * and q_prototype_prune oracles (factored so they cannot drift):
    * grid corpus `g`, seeds `c0` = smallest (md5, id), assignments
    * a1/a2/a3, centroid updates c1/c2 (an emptied cluster keeps its
    * previous centroid). */
  private val kmeansCtes: String = {
    def assign(from: String): String =
      s"""(SELECT vec_id, v, cid FROM (
         |  SELECT g.vec_id, g.v, c.cid,
         |    row_number() OVER (PARTITION BY g.vec_id
         |      ORDER BY $kmeansDistTo, c.cid) AS rn
         |  FROM g CROSS JOIN $from c) WHERE rn = 1)""".stripMargin
    def update(from: String, prev: String): String =
      s"""(SELECT p.cid, coalesce(u.v, p.v) AS v FROM $prev p LEFT JOIN (
         |  SELECT cid, list(m ORDER BY i) AS v FROM (
         |    SELECT cid, i, sum(x) / count(*) AS m FROM (
         |      SELECT cid, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS i
         |      FROM $from)
         |    GROUP BY cid, i) GROUP BY cid) u ON u.cid = p.cid)""".stripMargin
    s"""g AS (SELECT vec_id, $gridVecSql AS v FROM embeddings),
       |c0 AS (SELECT CAST(rn - 1 AS INT) AS cid, v FROM (
       |  SELECT v, row_number() OVER (ORDER BY
       |    md5(CAST(vec_id AS VARCHAR) || ':kmeans'), vec_id) AS rn FROM g)
       |  WHERE rn <= 4),
       |a1 AS ${assign("c0")},
       |c1 AS ${update("a1", "c0")},
       |a2 AS ${assign("c1")},
       |c2 AS ${update("a2", "c1")},
       |a3 AS ${assign("c2")}""".stripMargin
  }

  /** Per-label embedding centroids via the vec_sum/vec_avg custom
    * aggregate (one double[dim] buffer per group; map-side combine).
    * Emitted exploded as (label, dim_i, m) scalars — the compare
    * harness sorts output columns, so contract rows stay scalar. */
  private def embedCentroid(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("label"), gridVec.as("v"))
      .groupBy(col("label"))
      // count(v), not count(*): the reported group size must always
      // match vec_avg's divisor, even on data with null vectors
      .agg(count(col("v")).as("n_vecs"),
        graft.functions.vec_avg(col("v")).as("c"))
      .select(col("label"), col("n_vecs"),
        posexplode(col("c")).as(Seq("i", "m")))
      .select(col("label"), col("n_vecs"),
        (col("i") + 1).cast("long").as("dim_i"), round(col("m"), 6).as("m"))
      .orderBy(col("label").asc, col("dim_i").asc)

  /** Distance-to-own-centroid outliers: centroids (10 rows) broadcast
    * back onto the corpus, l2sq via an ordered zip_with fold. */
  private def embedOutliers(s: SparkSession, dir: String): DataFrame = {
    val g = emb(s, dir).select(col("label"), col("vec_id"), gridVec.as("v"))
    val cents = g.groupBy(col("label"))
      .agg(graft.functions.vec_avg(col("v")).as("c"))
    val dist = aggregate(
      zip_with(col("v"), col("c"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, x) => acc + x)
    g.join(broadcast(cents), "label")
      .select(col("label"), col("vec_id"), round(dist, 6).as("dist"))
      .orderBy(col("dist").desc, col("vec_id").asc)
      .limit(20)
  }

  /** Distributed k-means (k=4, 2 Lloyd iterations) over the grid-
    * quantized embeddings — deterministic seeds, exact partial sums,
    * lowest-cid tie-break; the oracle unrolls both iterations. */
  /** The contract Lloyd centroids (k=4, 2 iterations, grid corpus),
    * built once per data dir and shared by the q_kmeans /
    * q_prototype_prune / q_cluster_balance family — at cluster scale
    * these are the persisted k·dim-double centroid table a scoring
    * pass reads, not a re-train per query. */
  /** The frozen embeddings table's exact row count, cached per data
    * dir (the persisted tiny-stat discipline, like [[centsCached]]):
    * hands the percentile dispatch its `knownRows` without a count job
    * per probe. Warmed alongside the centroids in [[prepare]]. */
  private def embCountCached(s: SparkSession, dir: String): Long =
    graft.SharedState.value(s"embcount:$dir")(emb(s, dir).count())

  private def centsCached(s: SparkSession, dir: String): Array[Array[Double]] =
    graft.SharedState.value(s"kmeanscents:$dir") {
      val g = emb(s, dir).select(col("vec_id"), gridVec.as("v"))
      graft.operators.Clustering.kmeans(
        g, col("vec_id"), col("v"), k = 4, iters = 2)._2
    }

  private def kmeansQ(s: SparkSession, dir: String): DataFrame = {
    val g = emb(s, dir).select(col("vec_id"), gridVec.as("v"))
    g.select(col("vec_id"),
        graft.functions.nearest_centroid_d(col("v"), centsCached(s, dir))
          .as("cid"))
      .orderBy(col("vec_id").asc).limit(300)
  }

  /** Cluster-balanced selection end to end: the q_kmeans clustering,
    * temperature quotas (alpha = 0.5, sqrt-exact) over the learned
    * cluster sizes, blocked mix rank keeps each cluster's quota. */
  private def clusterBalanceQ(s: SparkSession, dir: String): DataFrame = {
    val g = emb(s, dir).select(col("vec_id"), gridVec.as("v"))
    graft.operators.Clustering.balanceWithCentroids(
        g, col("vec_id"), col("v"), centsCached(s, dir), alpha = 0.5,
        total = 150L)
      .select(col("id").as("vec_id"), col("cid"), col("mix_rank"))
      .orderBy(col("vec_id").asc).limit(300)
  }

  /** SSL-prototypes pruning end to end (Sorscher et al. 2022): the
    * same k=4 / 2-iteration Lloyd's as q_kmeans, then keep the hardest
    * HALF of each cluster by the exact per-cluster median distance
    * (contract path; percentile_approx stays the 100 TB default).
    * frac = 0.5 interpolates as lo + 0.5·(hi−lo) — the halving is
    * exact in double, so the threshold replays bit-for-bit. */
  private def prototypePruneQ(s: SparkSession, dir: String): DataFrame = {
    val g = emb(s, dir).select(col("vec_id"), gridVec.as("v"))
    graft.operators.Clustering.pruneWithCentroids(
        g, col("vec_id"), col("v"), centsCached(s, dir), keepFrac = 0.5,
        exact = true, knownRows = embCountCached(s, dir))
      .select(col("id").as("vec_id"), col("cid"),
        round(col("dist"), 6).as("dist"))
      .orderBy(col("vec_id").asc).limit(300)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_centroid" -> ((s, dir) => embedCentroid(s, dir)),
    "q_embed_outliers" -> ((s, dir) => embedOutliers(s, dir)),
    "q_kmeans" -> ((s, dir) => kmeansQ(s, dir)),
    "q_prototype_prune" -> ((s, dir) => prototypePruneQ(s, dir)),
    "q_cluster_balance" -> ((s, dir) => clusterBalanceQ(s, dir)),
    "q_knn_l2sq" -> ((s, dir) => knnL2Sq(s, dir)),
    "q_knn_cos" -> ((s, dir) => knnCos(s, dir)),
    "q_knn_hamming" -> ((s, dir) => knnHamming(s, dir)),
    "q_knn_filtered" -> ((s, dir) => knnFiltered(s, dir)),
    "q_weighted_search" -> ((s, dir) => weightedSearch(s, dir)),
    "q_weighted_candidates" -> ((s, dir) => weightedCandidates(s, dir)),
    "q_weighted_ann" -> ((s, dir) => weightedAnn(s, dir)),
    "q_hybrid_rrf_batch" -> ((s, dir) => hybridRrfBatch(s, dir)),
    "q_neardup_embedding" -> ((s, dir) => nearDupPairs(s, dir)),
    "q_semantic_pairs" -> ((s, dir) => semanticPairsQ(s, dir)),
    "q_semantic_groups" -> ((s, dir) => semanticGroups(s, dir)),
    "q_ann_l2sq" -> ((s, dir) => annL2Sq(s, dir)),
    "q_ann_ef64" -> ((s, dir) => annL2SqEf64(s, dir)),
    "q_ann_target_recall" -> ((s, dir) => annTargetRecall(s, dir)),
    "q_ivf_target_recall" -> ((s, dir) => ivfTargetRecall(s, dir)),
    "q_classify_recall" -> ((s, dir) => classifyRecall(s, dir)),
    "q_mmr_rerank" -> ((s, dir) => mmrRerank(s, dir)),
    "q_knn_classify" -> ((s, dir) => knnClassify(s, dir)),
    "q_hard_negatives" -> ((s, dir) => hardNegatives(s, dir)),
    "q_ann_filtered" -> ((s, dir) => annFiltered(s, dir)),
    "q_ann_hamming_rewrite" -> ((s, dir) => annHammingRewrite(s, dir)),
    "q_ann_delete" -> ((s, dir) => annDelete(s, dir)),
    "q_ann_vacuum" -> ((s, dir) => annVacuum(s, dir)),
    "q_ann_append" -> ((s, dir) => annAppend(s, dir)),
    "q_ann_validate" -> ((s, dir) => annValidate(s, dir)),
    "q_knn_join" -> ((s, dir) => knnJoin(s, dir)),
    "q_neardup_lsh" -> ((s, dir) => nearDupLsh(s, dir)),
    "q_fvecs_roundtrip" -> ((s, dir) => fvecsRoundtrip(s, dir)),
    "q_knn_cursor" -> ((s, dir) => knnCursor(s, dir)),
    "q_ivf_topk" -> ((s, dir) => ivfTopK(s, dir)),
    "q_ivf_join" -> ((s, dir) => ivfJoin(s, dir)),
    "q_ivf_append" -> ((s, dir) => ivfAppend(s, dir)),
    "q_ivf_adc" -> ((s, dir) => ivfAdc(s, dir)),
    "q_ivf_delete" -> ((s, dir) => ivfDelete(s, dir)),
    "q_ivf_vacuum" -> ((s, dir) => ivfVacuum(s, dir)),
    "q_ivf_validate" -> ((s, dir) => ivfValidate(s, dir)),
  )

  /** The [[hyperplanes]] as DuckDB VALUES rows (pid, pv). */
  private def planesValuesSql: String =
    hyperplanes.zipWithIndex.map { case (p, i) =>
      s"($i, ${p.map(f => "%.3f".format(f)).mkString("[", ", ", "]::DOUBLE[]")})"
    }.mkString(",\n    ")

  /** Shared oracle CTE chain for the 4 × 16-bit hyperplane band keys,
    * ending in `sigb(vec_id, band0..band3)`. The planes ride as a
    * 64-row VALUES table JOINED against the corpus — never as inlined
    * list literals inside the per-row lambda: DuckDB re-constructs a
    * literal list inside `list_transform` once PER ELEMENT, which
    * measured 24 s for 500 vectors (this chain: well under a second;
    * the Spark side is the one-pass [[graft.functions.hyperplane_sig]]
    * kernel either way). Key values are identical: bit j of band b is
    * the sign of plane 16b+j's dot, weighted 2^j. */
  private lazy val sigCtesSql: String = sigCtesOn("embeddings", "vec_id")

  /** The band-key chain parameterized over the source relation and id
    * column (the embedding column must be named `embedding`) — the
    * image-semdedup row replays it over its closed-form image-embedding
    * CTE; ends in `sigb(<idCol>, band0..band3)`. */
  private[graft] def sigCtesOn(src: String, idCol: String): String = {
    val bandCols = (0 until 4).map { b =>
      s"CAST(sum(CASE WHEN pid // 16 = $b AND d >= 0 THEN (1 << (pid % 16)) ELSE 0 END) AS BIGINT) AS band$b"
    }.mkString(",\n       |    ")
    s"""planes(pid, pv) AS MATERIALIZED (VALUES $planesValuesSql),
       |dots AS (
       |  SELECT e.$idCol, p.pid,
       |    list_sum(list_transform(e.embedding, (x, k) -> CAST(x AS DOUBLE) * p.pv[k])) AS d
       |  FROM $src e CROSS JOIN planes p),
       |sigb AS MATERIALIZED (
       |  SELECT $idCol,
       |    $bandCols
       |  FROM dots GROUP BY $idCol)""".stripMargin
  }

  /** The [[semCentroids]] table as DuckDB VALUES rows (cid, cv). */
  private def semCentValuesSql: String =
    semCentroids.zipWithIndex.map { case (cv, i) =>
      s"($i, ${cv.map(f => "%.4f".format(f)).mkString("[", ", ", "]::DOUBLE[]")})"
    }.mkString(",\n    ")

  /** Shared SemDeDup oracle CTE chain, ending in `sem` = the verified
    * pair set (argmin-cos cluster assignment, sign bands, (cluster,
    * band)-bucketed candidates, exact cosine <= 0.75 — exactly
    * [[semPairsCached]]'s frame). Used by q_semantic_pairs and
    * q_semantic_groups. */
  private lazy val semCtesSql: String =
    s"""cents(cid, cv) AS (VALUES $semCentValuesSql),
       |assign AS (
       |  SELECT vec_id, cluster FROM (
       |    SELECT e.vec_id, c.cid AS cluster,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        (CASE WHEN list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) = 0
       |              OR list_sum(list_transform(c.cv, x -> x * x)) = 0 THEN 1.0
       |         ELSE 1.0 - list_sum(list_transform(e.embedding, (x, i) -> CAST(x AS DOUBLE) * c.cv[i]))
       |           / sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |                  * list_sum(list_transform(c.cv, x -> x * x))) END) ASC,
       |        c.cid ASC) AS rn
       |    FROM embeddings e, cents c) WHERE rn = 1),
       |$sigCtesSql,
       |bits AS (
       |  SELECT s.vec_id, a.cluster, s.band0, s.band1, s.band2, s.band3
       |  FROM sigb s JOIN assign a ON a.vec_id = s.vec_id),
       |cand AS (
       |  SELECT DISTINCT vec_a, vec_b FROM (
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |    FROM bits a JOIN bits b
       |      ON a.cluster = b.cluster AND a.band0 = b.band0 AND a.vec_id < b.vec_id
       |    UNION
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |    FROM bits a JOIN bits b
       |      ON a.cluster = b.cluster AND a.band1 = b.band1 AND a.vec_id < b.vec_id
       |    UNION
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |    FROM bits a JOIN bits b
       |      ON a.cluster = b.cluster AND a.band2 = b.band2 AND a.vec_id < b.vec_id
       |    UNION
       |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |    FROM bits a JOIN bits b
       |      ON a.cluster = b.cluster AND a.band3 = b.band3 AND a.vec_id < b.vec_id)),
       |sem AS (
       |  SELECT vec_a, vec_b FROM cand
       |  JOIN embeddings ea ON ea.vec_id = vec_a
       |  JOIN embeddings eb ON eb.vec_id = vec_b
       |  WHERE $cosPairExpr <= 0.75)""".stripMargin

  private[graft] val cosPairExpr =
    """1.0 - list_sum(list_transform(ea.embedding, (x, i) -> CAST(x AS DOUBLE) * CAST(eb.embedding[i] AS DOUBLE)))
      |    / sqrt(list_sum(list_transform(ea.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
      |           * list_sum(list_transform(eb.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_knn_cursor" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 25""".stripMargin,
    "q_ivf_topk" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_ivf_adc" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_ivf_append" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_fvecs_roundtrip" ->
      """SELECT row_number() OVER (ORDER BY vec_id) - 1 AS row_id,
        |  len(embedding) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 6) AS e0,
        |  round(CAST(embedding[64] AS DOUBLE), 6) AS e63
        |FROM embeddings ORDER BY row_id ASC LIMIT 200""".stripMargin,
    "q_ann_l2sq" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_weighted_candidates" ->
      s"""WITH q AS (SELECT $qVecSql AS qv),
         |cand AS (
         |  SELECT vec_id FROM (
         |    SELECT vec_id FROM embeddings, q
         |    ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 50)
         |  UNION
         |  SELECT vec_id FROM (
         |    SELECT vec_id FROM embeddings, q
         |    ORDER BY $cosSqlExpr ASC, vec_id ASC LIMIT 50))
         |SELECT vec_id, round(0.7 * $l2sqSqlExpr + 0.3 * $cosSqlExpr, 6) AS joint_dist
         |FROM embeddings JOIN cand USING (vec_id), q
         |ORDER BY 0.7 * $l2sqSqlExpr + 0.3 * $cosSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_neardup_lsh" ->
      s"""WITH $sigCtesSql,
         |bits AS (SELECT * FROM sigb),
         |cand AS (
         |  SELECT DISTINCT vec_a, vec_b FROM (
         |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |    FROM bits a JOIN bits b ON a.band0 = b.band0 AND a.vec_id < b.vec_id
         |    UNION
         |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |    FROM bits a JOIN bits b ON a.band1 = b.band1 AND a.vec_id < b.vec_id
         |    UNION
         |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |    FROM bits a JOIN bits b ON a.band2 = b.band2 AND a.vec_id < b.vec_id
         |    UNION
         |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |    FROM bits a JOIN bits b ON a.band3 = b.band3 AND a.vec_id < b.vec_id))
         |SELECT vec_a, vec_b, round($cosPairExpr, 6) AS dist
         |FROM cand
         |JOIN embeddings ea ON ea.vec_id = vec_a
         |JOIN embeddings eb ON eb.vec_id = vec_b
         |ORDER BY round($cosPairExpr, 6) ASC, vec_a ASC, vec_b ASC LIMIT 10""".stripMargin,
    // centroid aggregate: same 1/16384 grid quantization (sums exact in
    // double, so engine-internal aggregation order is irrelevant),
    // element-wise mean replayed via zipped unnest + sum/count
    "q_embed_centroid" ->
      s"""WITH g AS (SELECT label, vec_id, $gridVecSql AS v FROM embeddings),
         |e AS (SELECT label, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS i FROM g),
         |a AS (SELECT label, i, sum(x) / count(*) AS m FROM e GROUP BY label, i),
         |c AS (SELECT label, count(v) AS n_vecs FROM g GROUP BY label)
         |SELECT a.label, c.n_vecs, a.i AS dim_i, round(m, 6) AS m
         |FROM a JOIN c ON a.label = c.label
         |ORDER BY a.label ASC, dim_i ASC""".stripMargin,
    // k-means: both Lloyd iterations unrolled — seeds are the 4 rows
    // with smallest (md5, id); assignment = row_number over (dist,
    // cid); update = per-dim sum/count; an emptied cluster keeps its
    // centroid (coalesce). All arithmetic is exact-grid/double, so
    // the argmin compares identical bits on both engines.
    "q_kmeans" ->
      s"""WITH $kmeansCtes
         |SELECT vec_id, cid FROM a3
         |ORDER BY vec_id ASC LIMIT 300""".stripMargin,
    // cluster-balanced selection: the shared Lloyd chain + integer
    // largest-remainder quotas over sqrt cluster-size weights (the
    // q_source_temperature arithmetic, strata = learned clusters,
    // remainder ties break on the cid STRING like the Scala map key)
    // + the md5 mix rank
    "q_cluster_balance" ->
      s"""WITH $kmeansCtes,
         |cnt AS (SELECT cid, CAST(count(*) AS BIGINT) AS n
         |        FROM a3 GROUP BY 1),
         |w AS (SELECT cid,
         |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT)
         |      AS wq
         |  FROM cnt),
         |tw AS (SELECT CAST(sum(wq) AS BIGINT) AS wtot FROM w),
         |sh AS (SELECT cid, CAST((150 * wq) // wtot AS BIGINT) AS base,
         |    CAST((150 * wq) % wtot AS BIGINT) AS rem
         |  FROM w, tw),
         |rk AS (SELECT cid, base,
         |    row_number() OVER (ORDER BY rem DESC, CAST(cid AS VARCHAR) ASC)
         |      AS rr
         |  FROM sh),
         |lo AS (SELECT CAST(150 - sum(base) AS BIGINT) AS leftover FROM sh),
         |q AS (SELECT cid,
         |    base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota
         |  FROM rk, lo),
         |r AS (SELECT vec_id, cid,
         |    row_number() OVER (PARTITION BY cid
         |      ORDER BY md5(CAST(vec_id AS VARCHAR) || ':kmeans'), vec_id)
         |      AS mr
         |  FROM a3)
         |SELECT r.vec_id, r.cid AS cid, CAST(mr AS BIGINT) AS mix_rank
         |FROM r JOIN q ON r.cid = q.cid
         |WHERE mr <= quota
         |ORDER BY vec_id ASC LIMIT 300""".stripMargin,
    // prototype pruning: the SAME unrolled Lloyd chain (factored so
    // the two rows can never drift) + distance to the assigned final
    // centroid + per-cluster exact median, keep dist > median
    "q_prototype_prune" ->
      s"""WITH $kmeansCtes,
         |ad AS (SELECT vec_id, cid, dist FROM (
         |  SELECT g.vec_id, c.cid, $kmeansDistTo AS dist,
         |    row_number() OVER (PARTITION BY g.vec_id
         |      ORDER BY $kmeansDistTo, c.cid) AS rn
         |  FROM g CROSS JOIN c2 c) WHERE rn = 1),
         |thr AS (SELECT cid, quantile_cont(dist, 0.5) AS t
         |        FROM ad GROUP BY cid)
         |SELECT vec_id, ad.cid AS cid, round(dist, 6) AS dist
         |FROM ad JOIN thr ON ad.cid = thr.cid
         |WHERE dist > t
         |ORDER BY vec_id ASC LIMIT 300""".stripMargin,
    "q_embed_outliers" ->
      s"""WITH g AS (SELECT label, vec_id, $gridVecSql AS v FROM embeddings),
         |e AS (SELECT label, unnest(v) AS x, unnest(range(1, len(v) + 1)) AS i FROM g),
         |a AS (SELECT label, i, sum(x) / count(*) AS m FROM e GROUP BY label, i),
         |cl AS (SELECT label, list(m ORDER BY i) AS c FROM a GROUP BY label)
         |SELECT g.label, g.vec_id,
         |  round(list_sum(list_transform(g.v, (x, i) -> (x - cl.c[i]) * (x - cl.c[i]))), 6) AS dist
         |FROM g JOIN cl ON g.label = cl.label
         |ORDER BY dist DESC, vec_id ASC LIMIT 20""".stripMargin,
    "q_knn_l2sq" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_knn_cos" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($cosSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $cosSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_knn_hamming" ->
      s"""WITH q AS (SELECT list_transform($qVecSql, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS qb)
         |SELECT vec_id,
         |  CAST(list_sum(list_transform(embedding, (x, i) ->
         |    bit_count(xor(CASE WHEN x >= 0 THEN 1 ELSE 0 END, qb[i])))) AS INT) AS dist
         |FROM embeddings, q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_ann_hamming_rewrite" ->
      s"""WITH q AS (SELECT list_transform($qVecSql, x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS qb)
         |SELECT vec_id,
         |  CAST(list_sum(list_transform(embedding, (x, i) ->
         |    bit_count(xor(CASE WHEN x >= 0 THEN 1 ELSE 0 END, qb[i])))) AS INT) AS dist
         |FROM embeddings, q
         |ORDER BY dist ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_knn_filtered" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q WHERE label = 1
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_weighted_search" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round(0.7 * $l2sqSqlExpr + 0.3 * $cosSqlExpr, 6) AS joint_dist
         |FROM embeddings, q
         |ORDER BY 0.7 * $l2sqSqlExpr + 0.3 * $cosSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_weighted_ann" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round(0.7 * $l2sqSqlExpr + 0.3 * $cosSqlExpr, 6) AS joint_dist
         |FROM embeddings, q
         |ORDER BY 0.7 * $l2sqSqlExpr + 0.3 * $cosSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_hybrid_rrf_batch" ->
      s"""WITH qs(qid, qv) AS (VALUES $batchQVecsSql),
         |d AS MATERIALIZED (
         |  SELECT qid, vec_id, $l2sqSqlExpr AS dl, $cosSqlExpr AS dc
         |  FROM embeddings, qs),
         |l2sel AS (SELECT qid, vec_id, round(dl, 6) AS dls FROM (
         |    SELECT qid, vec_id, dl,
         |      row_number() OVER (PARTITION BY qid ORDER BY dl ASC, vec_id ASC) AS rn
         |    FROM d) WHERE rn <= 20),
         |l2r AS (SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY dls ASC, vec_id ASC) AS r
         |  FROM l2sel),
         |csel AS (SELECT qid, vec_id, round(dc, 6) AS dcs FROM (
         |    SELECT qid, vec_id, dc,
         |      row_number() OVER (PARTITION BY qid ORDER BY dc ASC, vec_id ASC) AS rn
         |    FROM d) WHERE rn <= 20),
         |cr AS (SELECT qid, vec_id,
         |    row_number() OVER (PARTITION BY qid ORDER BY dcs ASC, vec_id ASC) AS r
         |  FROM csel),
         |fused AS (
         |  SELECT COALESCE(a.qid, b.qid) AS qid,
         |    COALESCE(a.vec_id, b.vec_id) AS vec_id,
         |    COALESCE(CAST(1.0 AS DOUBLE) / (60 + a.r), 0.0)
         |      + COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.r), 0.0) AS f
         |  FROM l2r a FULL OUTER JOIN cr b
         |    ON a.qid = b.qid AND a.vec_id = b.vec_id),
         |top AS (SELECT qid, vec_id, f,
         |    row_number() OVER (PARTITION BY qid ORDER BY f DESC, vec_id ASC) AS rr
         |  FROM fused)
         |SELECT qid, vec_id, round(f, 6) AS rrf_score FROM top WHERE rr <= 10
         |ORDER BY qid ASC, f DESC, vec_id ASC""".stripMargin,
    "q_ann_ef64" ->
      "SELECT TRUE AS ok",
    // autotune-derived ef must meet the 0.9 target it was derived for
    "q_ann_target_recall" ->
      "SELECT TRUE AS ok",
    // autotune-derived nprobe must meet the 0.9 target likewise
    "q_ivf_target_recall" ->
      "SELECT TRUE AS ok",
    // derived-ef weak labeling agrees with the exact vote (>= 0.75;
    // measured 0.85 at the 200k century, 1.0 below it — recall
    // targets are k-specific, so the exact oracle stays on the
    // exhaustive row and this one self-checks the serving tolerance)
    "q_classify_recall" ->
      "SELECT TRUE AS ok",
    // weak labeling: top-5 among the reference rows (vec_id >= 20),
    // majority vote with the (votes desc, best rank asc, label asc)
    // tie chain replayed
    "q_knn_classify" ->
      """WITH qs AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 20),
        |d AS (
        |  SELECT qs.query_id, e.vec_id AS id, e.label,
        |    list_sum(list_transform(e.embedding,
        |      (x, i) -> (CAST(x AS DOUBLE) - CAST(qv[i] AS DOUBLE))
        |        * (CAST(x AS DOUBLE) - CAST(qv[i] AS DOUBLE)))) AS dist
        |  FROM qs, embeddings e WHERE e.vec_id >= 20),
        |r AS (
        |  SELECT query_id, id, label, dist,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist ASC, id ASC) AS rk
        |  FROM d),
        |v AS (
        |  SELECT query_id, label, CAST(count(*) AS BIGINT) AS votes,
        |    min(rk) AS best
        |  FROM r WHERE rk <= 5 GROUP BY query_id, label),
        |s AS (
        |  SELECT query_id, label, votes,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY votes DESC, best ASC, label ASC) AS sel
        |  FROM v)
        |SELECT query_id, label, votes, round(votes / 5.0, 6) AS confidence
        |FROM s WHERE sel = 1 ORDER BY query_id ASC""".stripMargin,
    // hard negatives: label-mismatch filter BEFORE the rank window
    "q_hard_negatives" ->
      """WITH qs AS (
        |  SELECT vec_id AS query_id, embedding AS qv, label AS qlbl
        |  FROM embeddings WHERE vec_id < 20),
        |d AS (
        |  SELECT qs.query_id, e.vec_id AS id, e.label,
        |    list_sum(list_transform(e.embedding,
        |      (x, i) -> (CAST(x AS DOUBLE) - CAST(qv[i] AS DOUBLE))
        |        * (CAST(x AS DOUBLE) - CAST(qv[i] AS DOUBLE)))) AS dist
        |  FROM qs, embeddings e
        |  WHERE e.vec_id >= 20 AND e.label <> qs.qlbl),
        |r AS (
        |  SELECT query_id, id, label, dist,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist ASC, id ASC) AS INT) AS rank
        |  FROM d)
        |SELECT query_id, rank, id, round(dist, 6) AS dist, label
        |FROM r WHERE rank <= 3
        |ORDER BY query_id ASC, rank ASC""".stripMargin,
    // MMR: all five greedy selections unrolled; (1.0 - 0.7) — not a
    // 0.3 literal — so the diversity weight is the IDENTICAL double
    // the Scala `1 - lambda` computes
    "q_mmr_rerank" -> {
      def dd(s: String): String =
        s"list_sum(list_transform(c.v, (x, i) -> (x - $s.v[i]) * (x - $s.v[i])))"
      val steps = (2 to 5).map { n =>
        val prev = (1 until n).map(i => s"s$i")
        val minD =
          if (prev.size == 1) dd(prev.head)
          else s"least(${prev.map(dd).mkString(", ")})"
        val notPrev = prev.map(p => s"c.vec_id <> $p.vec_id").mkString(" AND ")
        s"""s$n AS (
           |  SELECT c.vec_id, c.v, c.dq,
           |    -0.7 * c.dq + (1.0 - 0.7) * $minD AS sc
           |  FROM cand c, ${prev.mkString(", ")}
           |  WHERE $notPrev
           |  ORDER BY sc DESC, c.vec_id ASC LIMIT 1)""".stripMargin
      }.mkString(",\n")
      val ranks = (2 to 5).map(n =>
        s"UNION ALL SELECT $n, vec_id, round(dq, 6), round(sc, 6) FROM s$n")
        .mkString("\n")
      s"""WITH q AS (SELECT $qVecSql AS qv),
         |cand AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
         |    $l2sqSqlExpr AS dq
         |  FROM embeddings, q
         |  ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 20),
         |s1 AS (
         |  SELECT vec_id, v, dq, -0.7 * dq + (1.0 - 0.7) * 0.0 AS sc
         |  FROM cand ORDER BY dq ASC, vec_id ASC LIMIT 1),
         |$steps
         |SELECT * FROM (
         |  SELECT 1 AS rank, vec_id, round(dq, 6) AS dist, round(sc, 6) AS score FROM s1
         |  $ranks)
         |ORDER BY rank ASC""".stripMargin
    },
    // post-delete ranking = exact rows 4..13 (the top-3 are tombstoned)
    "q_ann_delete" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10 OFFSET 3""".stripMargin,
    "q_ann_vacuum" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10 OFFSET 3""".stripMargin,
    "q_ivf_delete" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10 OFFSET 3""".stripMargin,
    "q_ivf_vacuum" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10 OFFSET 3""".stripMargin,
    "q_ann_append" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_ann_validate" ->
      "SELECT CAST(0 AS BIGINT) AS violations",
    "q_ivf_validate" ->
      "SELECT CAST(0 AS BIGINT) AS violations",
    "q_ann_filtered" ->
      s"""WITH q AS (SELECT $qVecSql AS qv)
         |SELECT vec_id, round($l2sqSqlExpr, 6) AS dist
         |FROM embeddings, q WHERE label = 1
         |ORDER BY $l2sqSqlExpr ASC, vec_id ASC LIMIT 10""".stripMargin,
    "q_ivf_join" ->
      """WITH qs AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 20),
        |d AS (
        |  SELECT qs.query_id, e.vec_id AS id,
        |    list_sum(list_transform(e.embedding,
        |      (x, i) -> (CAST(x AS DOUBLE) - CAST(qv[i] AS DOUBLE))
        |        * (CAST(x AS DOUBLE) - CAST(qv[i] AS DOUBLE)))) AS dist
        |  FROM qs, embeddings e),
        |r AS (
        |  SELECT query_id, id, dist,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist ASC, id ASC) AS INT) AS rank
        |  FROM d)
        |SELECT query_id, id, round(dist, 6) AS dist, rank
        |FROM r WHERE rank <= 3""".stripMargin,
    "q_knn_join" ->
      """WITH qs AS (
        |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
        |  WHERE vec_id < 20),
        |d AS (
        |  SELECT qs.query_id, e.vec_id AS id,
        |    list_sum(list_transform(e.embedding,
        |      (x, i) -> (CAST(x AS DOUBLE) - CAST(qv[i] AS DOUBLE))
        |        * (CAST(x AS DOUBLE) - CAST(qv[i] AS DOUBLE)))) AS dist
        |  FROM qs, embeddings e),
        |r AS (
        |  SELECT query_id, id, dist,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY dist ASC, id ASC) AS INT) AS rank
        |  FROM d)
        |SELECT query_id, id, round(dist, 6) AS dist, rank
        |FROM r WHERE rank <= 3""".stripMargin,
    // SemDeDup end-to-end: argmin-cos cluster assignment (row_number
    // with cid tie-break = the kernel's first-strict-min), sign bands,
    // (cluster, band)-bucketed candidates, exact-cosine verify. The
    // unrounded <= 0.75 filter matches the Spark side's pre-round filter
    // (identical double arithmetic in identical order on both engines).
    "q_semantic_pairs" ->
      s"""WITH $semCtesSql
         |SELECT vec_a, vec_b, round($cosPairExpr, 6) AS dist
         |FROM sem
         |JOIN embeddings ea ON ea.vec_id = vec_a
         |JOIN embeddings eb ON eb.vec_id = vec_b
         |ORDER BY round($cosPairExpr, 6) ASC, vec_a ASC, vec_b ASC LIMIT 10""".stripMargin,
    // the ACTION: min-reachable-id closure over the same verified
    // pairs, replayed as a recursive CTE (q_neardup_groups discipline)
    "q_semantic_groups" ->
      s"""WITH RECURSIVE $semCtesSql,
         |edges AS (
         |  SELECT vec_a AS s, vec_b AS d FROM sem
         |  UNION SELECT vec_b AS s, vec_a AS d FROM sem),
         |verts AS (SELECT DISTINCT s AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM verts
         |  UNION
         |  SELECT e.d AS id, reach.r AS r FROM reach JOIN edges e ON e.s = reach.id)
         |SELECT id AS vec_id, min(r) AS component FROM reach GROUP BY id
         |ORDER BY vec_id ASC""".stripMargin,
    "q_neardup_embedding" ->
      s"""WITH $sigCtesSql,
         |bits AS (
         |  SELECT s.vec_id, e.label, s.band0, s.band1, s.band2, s.band3
         |  FROM sigb s JOIN embeddings e ON e.vec_id = s.vec_id),
         |cand AS (
         |  SELECT DISTINCT vec_a, vec_b FROM (
         |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |    FROM bits a JOIN bits b
         |      ON a.label = b.label AND a.band0 = b.band0 AND a.vec_id < b.vec_id
         |    UNION
         |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |    FROM bits a JOIN bits b
         |      ON a.label = b.label AND a.band1 = b.band1 AND a.vec_id < b.vec_id
         |    UNION
         |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |    FROM bits a JOIN bits b
         |      ON a.label = b.label AND a.band2 = b.band2 AND a.vec_id < b.vec_id
         |    UNION
         |    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
         |    FROM bits a JOIN bits b
         |      ON a.label = b.label AND a.band3 = b.band3 AND a.vec_id < b.vec_id))
         |SELECT vec_a, vec_b, round($cosPairExpr, 6) AS dist
         |FROM cand
         |JOIN embeddings ea ON ea.vec_id = vec_a
         |JOIN embeddings eb ON eb.vec_id = vec_b
         |ORDER BY round($cosPairExpr, 6) ASC, vec_a ASC, vec_b ASC LIMIT 10""".stripMargin,
  )
}
