package graft

import org.apache.spark.sql.SparkSession

/** The engine's configuration surface — the Spark analog of the
  * reference's GUCs (lantern_hnsw options.c:324-394, lantern_extras
  * lib.rs:29-46). Values live in the session's runtime conf; every key
  * has the reference's default. */
object GraftConf {
  /** `lantern_hnsw.init_k`: first KNN cursor batch size (default 10). */
  val InitK = "graft.knn.initK"
  /** KNN cursor cap (reference warns and stops at 1000). */
  val MaxK = "graft.knn.maxK"
  /** `lantern_hnsw.ef`: ANN search breadth (default 64, max 400). */
  val AnnEf = graft.plans.AnnTopK.EfConfKey // "graft.ann.ef"
  /** Recall target for DERIVED ANN search breadth: when set, the
    * rewrite resolves ef from the matched index's autotune_results
    * artifact (cheapest measured variant meeting the target) instead
    * of [[AnnEf]] — fixed ef decays as the corpus grows. */
  val AnnTargetRecall = graft.plans.AnnTopK.TargetRecallConfKey
  /** Candidate over-fetch multiplier when the ANN rewrite runs under a
    * WHERE (default 4). */
  val AnnFilterOverfetch = graft.plans.AnnTopK.FilterOverfetchKey
  /** Executor shard-graph cache byte budget (JVM system property, since
    * executors size it at class-load; default 8 GiB). */
  val ShardCacheBytes = graft.ann.ShardCache.BudgetProp
  /** BM25 k1 (default 1.2) and b (default 0.75). */
  val Bm25K1 = "graft.bm25.k1"
  val Bm25B = "graft.bm25.b"
  /** User stopword list (see [[graft.text.UserStopwords]]). */
  val UserStopwordsKey = graft.text.UserStopwords.ConfKey
  /** Max DISTINCT queries [[graft.ann.IvfIndex.topKJoin]] will broadcast;
    * past it the query frame shuffle-joins on the query id instead
    * (default 100000 — ~a few hundred MB at 1536d, inside executor
    * memory; a recall-eval with tens of millions of queries would
    * otherwise exceed the broadcast limit outright). */
  val IvfBroadcastQueryLimit = "graft.ivf.broadcastQueryLimit"
  /** Adaptive exact-percentile dispatch ([[graft.operators.Percentiles]]):
    * MEMORY cap — max total distinct (keys, value) pairs the builtin
    * `percentile` aggregate may buffer (its one unspillable
    * structure; the pair domain is the whole buffer across final-agg
    * tasks, ~48 MB at the default 1,000,000). Above it the
    * distributed spillable prefix sum always runs. <= 0 skips the
    * probe and forces the prefix sum. */
  val PercentileMaxBuiltinDistinct = "graft.percentile.maxBuiltinDistinct"
  /** TIME floor — row count under which the builtin always wins (the
    * prefix sum's ~1.5 s of extra stages dominate; default 100,000).
    * Above the floor the builtin is kept only while rows <= floor +
    * 1.5 × distinct: its per-ROW object-agg updates lose to the
    * prefix sum's per-DISTINCT cost on narrow domains (measured
    * 10.09 s vs 1.43 s at the sf10 century gate) but win on
    * all-distinct columns (measured 8 s vs 10 s at the sf10 prune). */
  val PercentileMaxBuiltinRows = "graft.percentile.maxBuiltinRows"
  /** Adaptive idf-join dispatch ([[graft.text.TextOps.tfidfKeywords]]):
    * max DISTINCT terms the document-frequency frame may hold and
    * still be broadcast (default 1,000,000 — tens of MB of term
    * strings, inside driver/executor budgets; the broadcast removes
    * the hot-term shuffle skew outright). Above it — a raw web
    * corpus' typo/URL/number vocabulary — the idf join shuffles under
    * AQE skew splitting instead. <= 0 forces the shuffled join
    * probe-free. */
  val TfidfMaxBroadcastTerms = "graft.tfidf.maxBroadcastTerms"
  /** Adaptive simhash banding dispatch ([[graft.dedup.Dedup.simhashPairs]]
    * with `comboBlocks = -1`): corpus size at which candidate keys
    * switch from single-band bit slices to Manku block-combination
    * keys (default 1,000,000). Single-band keys are ~5× cheaper per
    * doc but their fixed 2^(64/bands) bucket space floods with random
    * collisions (~bands·n²/2^17 candidate rows at the 4×16 geometry)
    * once the corpus approaches ~2^20 docs; combination keys widen
    * the bucket space to ~2^32 at 5× the key rows. The default is the
    * analytic crossover of those two costs, bracketed by the ladder
    * measurements (4×16 fine at sf10 ≈ 500k docs; disk-filling at
    * sf100 = 5M). */
  val SimhashComboMinDocs = "graft.simhash.comboMinDocs"

  def ivfBroadcastQueryLimit(spark: SparkSession): Long =
    spark.conf.getOption(IvfBroadcastQueryLimit).map(_.toLong)
      .getOrElse(100000L)

  def percentileMaxBuiltinDistinct(spark: SparkSession): Long =
    longConf(spark, PercentileMaxBuiltinDistinct, 1000000L)

  def percentileMaxBuiltinRows(spark: SparkSession): Long =
    longConf(spark, PercentileMaxBuiltinRows, 100000L)

  def tfidfMaxBroadcastTerms(spark: SparkSession): Long =
    longConf(spark, TfidfMaxBroadcastTerms, 1000000L)

  def simhashComboMinDocs(spark: SparkSession): Long =
    longConf(spark, SimhashComboMinDocs, 1000000L)

  /** Session conf first, then a JVM system property of the same name
    * (lets the fork-run mains pin a dispatch arm without a code
    * change), then the default. */
  private def longConf(spark: SparkSession, key: String, dflt: Long): Long =
    spark.conf.getOption(key).orElse(sys.props.get(key))
      .map(_.toLong).getOrElse(dflt)

  def initK(spark: SparkSession): Int = intConf(spark, InitK, 10)
  def maxK(spark: SparkSession): Int = intConf(spark, MaxK, 1000)
  def annEf(spark: SparkSession): Int = intConf(spark, AnnEf, 64)

  def bm25Params(spark: SparkSession): graft.bm25.Bm25.Params =
    graft.bm25.Bm25.Params(
      doubleConf(spark, Bm25K1, 1.2), doubleConf(spark, Bm25B, 0.75))

  private def intConf(spark: SparkSession, key: String, dflt: Int): Int =
    spark.conf.getOption(key).map(_.toInt).getOrElse(dflt)

  private def doubleConf(spark: SparkSession, key: String, dflt: Double): Double =
    spark.conf.getOption(key).map(_.toDouble).getOrElse(dflt)
}
