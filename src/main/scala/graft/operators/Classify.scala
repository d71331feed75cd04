package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ann.{AnnIndex, Metric}

/** k-NN weak labeling — the label-propagation step of a training-data
  * pipeline (classify unlabeled documents from a curated labeled
  * reference set: topic tags, quality tiers, language families):
  * each query row takes the MAJORITY label of its k nearest reference
  * rows, with a fully deterministic tie chain (votes desc → best
  * neighbor rank asc → label asc) so the assignment is replayable by
  * a SQL oracle.
  *
  * Two paths sharing one [[vote]] step, the repo's exact/ANN pairing:
  * [[classifyExact]] broadcasts a BOUNDED query set over the
  * reference scan (verification shape); [[classifyAnn]] batches
  * corpus-scale queries through [[AnnIndex.topKJoin]] (executor-
  * cached shard graphs, one job) and joins the labels on — the
  * 100 TB shape. In both, the per-query windows rank at most
  * (k + overfetch) rows, executing as WindowGroupLimit partial
  * top-k. */
object Classify {

  /** Majority vote over a neighbor frame (query_id, id, dist, label):
    * re-ranks by (dist, id), keeps the top k, and picks each query's
    * winning label. Returns (query_id, label, votes, confidence =
    * votes/k rounded 6dp). */
  def vote(neighbors: DataFrame, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val wTop = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("id").asc)
    val wSel = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("best_rank").asc, col("label").asc)
    neighbors
      .withColumn("__rk", row_number().over(wTop))
      .filter(col("__rk") <= k)
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("votes"), min(col("__rk")).as("best_rank"))
      .withColumn("__sel", row_number().over(wSel))
      .filter(col("__sel") === 1)
      .select(col("query_id"), col("label"), col("votes"),
        round(col("votes").cast("double") / k, 6).as("confidence"))
  }

  /** Exact classification of a BOUNDED query set: the queries
    * broadcast over one reference scan, per-query top-k as a
    * WindowGroupLimit. The verification/oracle path — corpus-scale
    * query sets go through [[classifyAnn]]. */
  def classifyExact(queries: DataFrame, qIdCol: Column, qVecCol: Column,
      ref: DataFrame, refIdCol: Column, refVecCol: Column,
      refLabelCol: Column, k: Int,
      metric: Metric = Metric.L2Sq): DataFrame = {
    val q = queries.select(qIdCol.as("query_id"), qVecCol.as("__qv"))
    val nb = ref
      .select(refIdCol.as("id"), refVecCol.as("__rv"),
        refLabelCol.as("label"))
      .crossJoin(broadcast(q))
      .withColumn("dist", metric.dist(col("__rv"), col("__qv")))
      .select(col("query_id"), col("id"), col("dist"), col("label"))
    vote(nb, k)
  }

  /** Hard-negative mining — the contrastive-training companion of
    * classification: for each labeled anchor, the k NEAREST reference
    * rows whose label DIFFERS (the negatives that sit closest to the
    * decision boundary, which is what makes them "hard"). Exact path:
    * the bounded anchor set broadcasts over the reference scan, the
    * label-mismatch filter applies BEFORE the per-anchor rank window
    * (so no overfetch reasoning is needed — the top-k is exact by
    * construction), and the window executes as WindowGroupLimit.
    * Returns (query_id, rank, id, dist, label). For corpus-scale
    * anchor sets, run [[AnnIndex.topKJoin]] with a generous overfetch
    * and apply the same filter + re-rank — approximate when more
    * same-label rows precede the k-th negative than the overfetch
    * covers (spec pins exact == ANN at exhaustive breadth on the
    * fixture). */
  def hardNegativesExact(anchors: DataFrame, aIdCol: Column,
      aVecCol: Column, aLabelCol: Column, ref: DataFrame, refIdCol: Column,
      refVecCol: Column, refLabelCol: Column, k: Int,
      metric: Metric = Metric.L2Sq): DataFrame = {
    require(k > 0, "k must be positive")
    val a = anchors.select(aIdCol.as("query_id"), aVecCol.as("__qv"),
      aLabelCol.as("__qlbl"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("id").asc)
    ref
      .select(refIdCol.as("id"), refVecCol.as("__rv"),
        refLabelCol.as("label"))
      .crossJoin(broadcast(a))
      .filter(col("label") =!= col("__qlbl"))
      .withColumn("dist", metric.dist(col("__rv"), col("__qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("id"), col("dist"),
        col("label"))
  }

  /** Index-backed classification at corpus scale: every query probes
    * the shard graphs in ONE [[AnnIndex.topKJoin]] job, the `labels`
    * frame (id → label) joins on, and [[vote]] ranks the survivors.
    * `labels` DEFINES the reference set: candidates without a label
    * row drop out of the inner join (this is how self-matches and
    * other non-reference rows are excluded), so `overfetch` must
    * cover the expected drop — with exhaustive ef and overfetch ≥ the
    * number of unlabeled rows that can outrank true neighbors, the
    * result is exactly the reference-restricted top-k.
    *
    * `targetRecall` derives the search breadth from the index's
    * measured `autotune_results` artifact instead of the pinned `ef`
    * (which silently decays as the corpus grows — the sf10 lesson);
    * `ef` stays the fallback when no artifact exists or no measured
    * variant meets the target. */
  def classifyAnn(queries: DataFrame, qIdCol: Column, qVecCol: Column,
      indexPath: String, labels: DataFrame, labelIdCol: Column,
      labelCol: Column, k: Int, ef: Int = 64,
      overfetch: Int = 20, targetRecall: Option[Double] = None): DataFrame = {
    require(k > 0 && overfetch >= 0, "need k > 0, overfetch >= 0")
    val nb = AnnIndex.topKJoin(
        queries.select(qIdCol.as("query_id"), qVecCol.as("__qv")),
        "query_id", "__qv", indexPath, k + overfetch, ef, targetRecall)
      .join(labels.select(labelIdCol.as("id"), labelCol.as("label")), "id")
      .select(col("query_id"), col("id"), col("dist"), col("label"))
    vote(nb, k)
  }
}
