package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based document quality scoring — the DCLM/FineWeb-Edu-style
  * classifier gate of a training-data pipeline: learn a linear scorer
  * over hashed bag-of-words features from a weakly-labeled split
  * (curated corpus = positive, raw crawl = negative), then score every
  * document and keep the top quantile.
  *
  * Three paths, by decreasing oracle strength:
  *
  *  1. **Fixed-point frequency weights** (the contract path): per-bucket
  *     Laplace-smoothed P(positive | token) in integer fixed point —
  *     `w(b) = (cnt_pos(b)+1) * SCALE div (cnt_pos(b)+cnt_neg(b)+2)` —
  *     and a document score that is the integer mean of its token
  *     weights. Training and scoring are integer-exact end to end, so
  *     the whole train-then-score pipeline hash-matches a DuckDB
  *     replay (the same discipline as q_lm_coverage's integer core).
  *  2. **Log-odds Naive Bayes** (spec-verified): the textbook
  *     `sum_t ln P(t|pos)/P(t|neso)` scorer, floating point — kept off
  *     the hash contract because a cross-engine ln() can differ in the
  *     last ulp, exactly like lmPerplexity.
  *  3. **spark.ml logistic regression** (spec-verified): HashingTF +
  *     LogisticRegression — the industrial trainer for when weights
  *     should be DISCRIMINATIVE rather than generative. Spark-first:
  *     MLlib's distributed L-BFGS is the right tool, not a hand-rolled
  *     gradient loop.
  *
  * Scale shape (100 TB): training is explode → ONE combiner-aggregated
  * groupBy on an int bucket key (weights table ≤ `dim` rows, tiny);
  * scoring is a narrow scan + explode → broadcast weight join →
  * per-doc combiner groupBy. No shuffle ever carries more than
  * (tokens, int) pairs, and the weight table broadcasts everywhere. */
object QualityClassifier {

  val DefaultDim = 4096
  val Scale = 1000000L

  /** Hashing-trick bucket: md5-prefix (15 hex chars fit a non-negative
    * long exactly) mod `dim` — the repo's cross-engine hash idiom
    * (TextOps.sampleStratified uses the same construction). */
  def bucketOf(token: Column, dim: Int): Column =
    conv(substring(md5(token.cast("binary")), 1, 15), 16, 10)
      .cast("long") % dim

  /** Per-bucket token counts for the two classes: (bucket, cnt_pos,
    * cnt_neg). `isPos` is the weak-supervision label column (curated
    * source = true). One explode + one combiner groupBy — integer
    * counts, deterministic at any parallelism. */
  def trainCounts(docs: DataFrame, textCol: Column, isPos: Column,
      dim: Int = DefaultDim): DataFrame =
    docs.select(isPos.as("__pos"),
        explode(graft.functions.tokenize(textCol)).as("__t"))
      .select(bucketOf(col("__t"), dim).as("bucket"), col("__pos"))
      .groupBy(col("bucket"))
      .agg(sum(when(col("__pos"), 1L).otherwise(0L)).as("cnt_pos"),
        sum(when(col("__pos"), 0L).otherwise(1L)).as("cnt_neg"))

  /** Integer fixed-point weights from the counts: Laplace-smoothed
    * P(pos|token) scaled by [[Scale]], integer division — exact in any
    * engine, no transcendental. 500000 = "token equally likely in both
    * classes"; > means positive-leaning. */
  def fixedPointWeights(counts: DataFrame): DataFrame =
    counts.select(col("bucket"),
      expr(s"(cnt_pos + 1) * $Scale div (cnt_pos + cnt_neg + 2)")
        .as("weight"))

  /** Score documents against a fixed-point weight table: per doc the
    * integer weight sum, the scored token count, and their integer
    * mean `score_fp` (0..SCALE; SCALE/2 = neutral). Empty documents
    * score (0, 0, 0) rather than dropping out. The weight table
    * broadcasts (≤ dim rows). */
  def scoreFixedPoint(docs: DataFrame, idCol: Column, textCol: Column,
      weights: DataFrame, dim: Int = DefaultDim): DataFrame = {
    val perToken = docs
      .select(idCol.as("doc_id"),
        explode(graft.functions.tokenize(textCol)).as("__t"))
      .select(col("doc_id"), bucketOf(col("__t"), dim).as("bucket"))
      // inner join: a bucket unseen in training has no weight row and
      // the token is simply not scored (n_scored counts only scored
      // tokens, so the mean stays well-defined)
      .join(broadcast(weights), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("weight")).as("w_sum"), count(lit(1)).as("n_scored"))
    docs.select(idCol.as("doc_id")).distinct()
      .join(perToken, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("w_sum"), lit(0L)).as("w_sum"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"))
      .withColumn("score_fp",
        expr("w_sum div greatest(n_scored, 1)"))
  }

  /** Log-odds Naive Bayes score (double; SPEC-verified, off the hash
    * contract): `sum_t [ln((cp+1)/(Npos+dim)) - ln((cn+1)/(Nneg+dim))]`
    * with per-class token totals Npos/Nneg. Positive score = the
    * document looks like the positive corpus. */
  def scoreLogOdds(docs: DataFrame, idCol: Column, textCol: Column,
      counts: DataFrame, dim: Int = DefaultDim): DataFrame = {
    val totals = counts
      .agg(sum(col("cnt_pos")).as("np"), sum(col("cnt_neg")).as("nn"))
      .head()
    val np = totals.getLong(0).toDouble + dim
    val nn = totals.getLong(1).toDouble + dim
    val w = counts.select(col("bucket"),
      (log((col("cnt_pos") + 1) / np) - log((col("cnt_neg") + 1) / nn))
        .as("logodds"))
    docs.select(idCol.as("doc_id"),
        explode(graft.functions.tokenize(textCol)).as("__t"))
      .select(col("doc_id"), bucketOf(col("__t"), dim).as("bucket"))
      .join(broadcast(w), "bucket")
      .groupBy(col("doc_id"))
      .agg(sum(col("logodds")).as("score"))
  }

  /** The gate ACTION: keep the documents scoring STRICTLY above the
    * corpus's (1-frac) quantile. The threshold is one approx-quantile
    * aggregate over the score column (no corpus sort), attached back
    * in-plan by a 1-row broadcast cross join — the same
    * no-driver-action discipline as the dedup skew floor. At 100 TB
    * this is a scan + one tiny agg + a scan with a broadcast filter.
    *
    * Gating is by VALUE, not rank: documents tied exactly AT the
    * threshold drop, so with heavily tied scores the kept fraction
    * can undershoot `frac` (exact-rank gating would need a corpus
    * sort — the wrong trade at scale). Degenerate case: a CONSTANT
    * score column makes every document tie at the threshold and the
    * gate keeps nothing — a constant scorer carries no signal to gate
    * on, so an empty result is the honest answer, but callers gating
    * on untested score columns should know. `frac = 1.0` keeps
    * everything (no threshold pass at all).
    *
    * `exact = true` swaps percentile_approx for the exact interpolated
    * percentile — the contract path: over INTEGER scores every
    * interpolation step is exact in double (position fraction is a
    * multiple of 1/4 for frac = 0.25, products of quarters with ≤ 2^20
    * integers are exact), so the kept set replays bit-for-bit in a
    * DuckDB quantile_cont. The exact path runs through
    * [[graft.operators.Percentiles]] — a distributed spillable
    * histogram, NOT the builtin `percentile` aggregate, which would
    * buffer every distinct score in one non-spillable task. The approx
    * default stays the 100-TB path — one pass, bounded memory, no
    * shuffle of the distinct-score frame at all. */
  def keepTopFraction(scored: DataFrame, scoreCol: Column,
      frac: Double, exact: Boolean = false,
      knownRows: Long = -1L): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac must be in (0, 1], got $frac")
    if (frac == 1.0) return scored // strict > would drop the minimum ties
    val thr =
      if (exact) graft.operators.Percentiles
        .exactQuantiles(scored, scoreCol, Seq(1.0 - frac), "__thrs", knownRows)
        .select(element_at(col("__thrs"), 1).as("__thr"))
      else scored.agg(
        percentile_approx(scoreCol, lit(1.0 - frac), lit(10000))
          .as("__thr"))
    scored.crossJoin(broadcast(thr))
      .filter(scoreCol > col("__thr"))
      .drop("__thr")
  }

  /** Curriculum tiers: each document gets its quantile bucket
    * `1..nTiers` of the score column — the difficulty/quality binning
    * a curriculum schedule or quality-stratified mixture reads. The
    * `nTiers - 1` thresholds come from ONE tiny aggregate over the
    * score column (percentile_approx by default; `exact = true` is
    * the contract path — over integer scores every interpolation step
    * is exact in double, the [[keepTopFraction]] discipline), attach
    * back by a 1-row broadcast cross join, and
    * `tier = 1 + #thresholds strictly below the score` (threshold
    * ties sink to the LOWER tier). At 100 TB: a scan, a tiny agg, a
    * scan with a broadcast map — no corpus sort, no ntile window
    * (which would move the corpus through one unpartitioned sort). */
  def tierByQuantile(scored: DataFrame, scoreCol: Column, nTiers: Int,
      exact: Boolean = false, knownRows: Long = -1L): DataFrame = {
    require(nTiers >= 2, s"need at least 2 tiers, got $nTiers")
    val thr =
      if (exact) graft.operators.Percentiles.exactQuantiles(scored,
        scoreCol, (1 until nTiers).map(_.toDouble / nTiers), "__thr", knownRows)
      else scored.agg(percentile_approx(scoreCol,
        array((1 until nTiers).map(j => lit(j.toDouble / nTiers)): _*),
        lit(10000)).as("__thr"))
    scored.crossJoin(broadcast(thr))
      .withColumn("tier", (lit(1) + aggregate(col("__thr"), lit(0),
        (acc, th) => acc + when(scoreCol > th, 1).otherwise(0))).cast("int"))
      .drop("__thr")
  }

  /** spark.ml path: HashingTF + LogisticRegression over the same
    * tokenization. Returns (model, scored docs with `probability` /
    * `prediction`). Discriminative weights beat the generative counts
    * when classes share vocabulary; MLlib distributes the L-BFGS
    * iterations, so this trains at corpus scale without any driver
    * materialization. */
  def trainLogReg(docs: DataFrame, textCol: Column, isPos: Column,
      dim: Int = DefaultDim, maxIter: Int = 20)
      : org.apache.spark.ml.PipelineModel = {
    import org.apache.spark.ml.Pipeline
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.feature.HashingTF
    val prepared = docs
      .withColumn("__toks", graft.functions.tokenize(textCol))
      .withColumn("label", when(isPos, 1.0).otherwise(0.0))
    val tf = new HashingTF()
      .setInputCol("__toks").setOutputCol("features").setNumFeatures(dim)
    val lr = new LogisticRegression()
      .setMaxIter(maxIter).setRegParam(0.01)
    new Pipeline().setStages(Array(tf, lr)).fit(prepared)
  }

  /** Score with a trained pipeline: (doc_id, p_pos, prediction). */
  def scoreLogReg(model: org.apache.spark.ml.PipelineModel,
      docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val prepared = docs
      .withColumn("__toks", graft.functions.tokenize(textCol))
    model.transform(prepared)
      .select(idCol.as("doc_id"),
        element_at(
          org.apache.spark.ml.functions.vector_to_array(col("probability")),
          2).as("p_pos"),
        col("prediction"))
  }
}
