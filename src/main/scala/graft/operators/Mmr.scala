package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ann.Metric

/** Maximal-marginal-relevance diversified retrieval (Carbonell &
  * Goldstein, SIGIR 1998) — the standard re-ranking step between a
  * similarity search and a RAG/labeling consumer: plain top-k returns
  * near-duplicate neighbors; MMR greedily trades relevance against
  * redundancy so the k results COVER the neighborhood. Expressed with
  * distances: pick argmax of `-lambda * dist(d, q) + (1 - lambda) *
  * min over selected s of dist(d, s)` (the diversity term is 0 for
  * the first pick), ties broken by id ascending.
  *
  * Spark shape — the same two-regime decision as the reference's
  * weighted re-rank and this repo's KNN cursor: the CANDIDATE search
  * is distributed (exact [[Knn.knn]] top-N here; swap in an ANN probe
  * at index scale), and the greedy loop — inherently sequential in k,
  * each step reading the previous picks — runs driver-side over the
  * BOUNDED collected candidates (`candN` rows, a re-ranking input,
  * never the corpus). At 100 TB the corpus never moves: only the
  * top-`candN` rows (≤ a few hundred) cross to the driver.
  *
  * Determinism: every score is double arithmetic in a fixed operation
  * order (`-lambda * dq + (1 - lambda) * minDist`, sequential-order
  * distance accumulation — [[Metric.dist]] matches the SQL
  * `list_sum(list_transform(...))` replay bit-for-bit), so an oracle
  * can unroll the greedy steps and compare exact bits; scores round
  * to 6dp for OUTPUT only, never before a comparison. */
object Mmr {

  /** Candidate projection with a fail-fast schema guard (ADVICE r11:
    * the Column-typed API accepted any id/vector type and failed at
    * collect time with an opaque ClassCastException): the id must be
    * an integral column (cast up to long — string/UUID ids must be
    * hashed to longs upstream, the connectedComponents contract) and
    * the vector an array<float>. Null-vector rows are filtered up
    * front: Knn.knn orders them LAST rather than dropping them, and a
    * null candidate would NPE the driver-side greedy (or rank as
    * distance 0). */
  private def guarded(df: DataFrame, idCol: Column,
      vecCol: Column): DataFrame = {
    import org.apache.spark.sql.types._
    val sel = df.select(idCol.as("id"), vecCol.as("v"))
    val idT = sel.schema("id").dataType
    val vT = sel.schema("v").dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(idT),
      s"MMR id column must be integral (got $idT); hash string ids to " +
        "longs, e.g. xxhash64, before re-ranking")
    require(vT match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }, s"MMR vector column must be array<float> (got $vT)")
    sel.select(col("id").cast("long").as("id"), col("v"))
      .filter(col("v").isNotNull)
  }

  /** The greedy re-rank over BOUNDED collected candidates — shared by
    * the exact and index-probing candidate stages, so the two paths
    * cannot drift. Order-independent: argmax with the (score, id asc)
    * tie chain picks the same element from any iteration order. */
  private def greedy(spark: org.apache.spark.sql.SparkSession,
      cands: Array[(Long, Array[Float], Double)], k: Int, lambda: Double,
      metric: Metric): DataFrame = {
    import spark.implicits._
    val selected = scala.collection.mutable.ArrayBuffer[(Long, Double, Double)]()
    val remaining = scala.collection.mutable.LinkedHashMap.from(
      cands.iterator.map(c => c._1 -> c))
    val selVecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    while (selected.length < k && remaining.nonEmpty) {
      val best = remaining.values.map { case (id, v, dq) =>
        val minDist =
          if (selVecs.isEmpty) 0.0
          else selVecs.map(s => metric.dist(v, s)).min
        (id, v, dq, -lambda * dq + (1 - lambda) * minDist)
      }.reduceLeft { (a, b) =>
        // argmax score, ties by id ascending
        if (b._4 > a._4 || (b._4 == a._4 && b._1 < a._1)) b else a
      }
      selected += ((best._1, best._3, best._4))
      selVecs += best._2
      remaining.remove(best._1)
    }
    // HALF_UP, matching Spark's round() and DuckDB's round()
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    selected.zipWithIndex.map { case ((id, dq, score), i) =>
      (i + 1, id, r6(dq), r6(score))
    }.toSeq.toDF("rank", "id", "dist", "score")
  }

  /** Diversified top-k: (rank, id, dist, score) in selection order. */
  def diversifiedTopK(df: DataFrame, idCol: Column, vecCol: Column,
      query: Array[Float], k: Int, lambda: Double = 0.7,
      candN: Int = 50, metric: Metric = Metric.L2Sq): DataFrame = {
    require(k > 0 && candN >= k, "need 0 < k <= candN")
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0, 1]")
    val spark = df.sparkSession
    val qLit = graft.functions.vecLit(query.toSeq)
    // distributed candidate stage: exact top-candN with id tiebreak
    val cands: Array[(Long, Array[Float], Double)] =
      Knn.knn(guarded(df, idCol, vecCol), col("v"), qLit, candN, metric,
          Some(col("id")))
        .select(col("id"), col("v"), col("dist"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    greedy(spark, cands, k, lambda, metric)
  }

  /** [[diversifiedTopK]] with the candidate stage served by an ANN
    * index probe instead of an exact scan — the index-scale path the
    * exact variant documents (same two-regime pairing as
    * Classify.classifyAnn): the query probes the shard graphs for the
    * top-candN ids at breadth max(ef, candN), the bounded hit list
    * broadcasts back onto the table for the candidate VECTORS (the
    * greedy needs them for the diversity term; the index stores them
    * but the scan join keeps the operator composable with any column
    * set), and the shared greedy re-ranks. With exhaustive ef the
    * candidate set equals the exact top-candN, so the result is
    * bit-identical to [[diversifiedTopK]] (parity-pinned in MmrSpec);
    * at realistic ef the result is approximate with the index's
    * recall, like every index consumer.
    *
    * `targetRecall` derives ef from the index's `autotune_results`
    * artifact ([[graft.ann.Autotune.probeEf]]); the explicit ef stays
    * the fallback. */
  def diversifiedTopKAnn(df: DataFrame, idCol: Column, vecCol: Column,
      indexPath: String, query: Array[Float], k: Int,
      lambda: Double = 0.7, candN: Int = 50, ef: Int = 64,
      metric: Metric = Metric.L2Sq,
      targetRecall: Option[Double] = None): DataFrame = {
    require(k > 0 && candN >= k, "need 0 < k <= candN")
    require(lambda >= 0 && lambda <= 1, "lambda must be in [0, 1]")
    val spark = df.sparkSession
    // the relevance distances come from the graph search, so the
    // greedy's metric must be the one the index was built under
    val man = graft.ann.AnnIndex.readManifest(indexPath)
    require(man.metric == metric,
      s"index at $indexPath was built for ${man.metric}, not $metric")
    val probeEf = graft.ann.Autotune.probeEf(spark, indexPath, ef,
      targetRecall)
    val hits = graft.ann.AnnIndex.topK(spark, indexPath, query, candN,
      math.max(probeEf, candN))
    val cands: Array[(Long, Array[Float], Double)] =
      guarded(df, idCol, vecCol)
        .join(broadcast(hits.select(col("id"), col("dist"))), "id")
        .select(col("id"), col("v"), col("dist"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
    greedy(spark, cands, k, lambda, metric)
  }
}
