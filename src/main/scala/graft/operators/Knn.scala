package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ann.Metric

/** Exact K-nearest-neighbor search and composite weighted vector search.
  *
  * Semantics of the reference's `ORDER BY col <-> q LIMIT k` scan
  * (lantern_hnsw/src/hnsw/scan.c) on the exact path: distance to a query
  * vector, ascending, top k. Spark-first shape: a declarative
  * `orderBy(dist).limit(k)` that Catalyst plans as TakeOrderedAndProject —
  * a per-partition top-k followed by a k-row merge on the driver, so no
  * full shuffle/sort happens at any scale. The approximate path (sharded
  * ANN index) lives in [[graft.ann.AnnIndex]].
  */
object Knn {

  /** Exact top-k: rows with the k smallest `metric(vecCol, q)`,
    * ascending, ties broken by `tieBreaker` for determinism. */
  def knn(
      df: DataFrame,
      vecCol: Column,
      query: Column,
      k: Int,
      metric: Metric = Metric.L2Sq,
      tieBreaker: Option[Column] = None,
      distName: String = "dist"): DataFrame = {
    val withDist = df.withColumn(distName, metric.dist(vecCol, query))
    // NULLS LAST, matching the reference's Postgres ORDER BY ASC (and
    // DuckDB's default): a null-vector row must never outrank a real
    // neighbor — Spark's default asc is NULLS FIRST, which would
    // return null rows as the top-k
    val order = col(distName).asc_nulls_last +: tieBreaker.map(_.asc).toSeq
    withDist.orderBy(order: _*).limit(k)
  }

  /** Streaming KNN cursor (reference scan.c:240-292): the first batch
    * fetches `initK` rows (default 10, GUC `lantern_hnsw.init_k`,
    * options.h:44); reading past a batch escalates by doubling,
    * stopping with a warning at `maxK` (1000).
    *
    * Unlike the reference (which re-runs the whole search with the
    * doubled k, repeating the prefix every escalation), each refill
    * fetches ONLY the delta: ONE seek fetch `dist >= lastDist` of
    * `seenTies + delta` rows re-enters at the boundary distance — its
    * first rows reproduce the already-returned boundary ties (the
    * order is total) and are dropped, and the remainder covers both
    * the tie block's tail and the strictly-greater rows. (Until r18
    * this was two jobs per refill — a `== lastDist` tie fetch then a
    * `> lastDist` fetch; `>=` enumerates the same rows in the same
    * (dist, tiebreak) order in half the jobs.) Escalating to k
    * therefore costs O(k) rows fetched overall instead of the
    * reference's O(k log k) (KnnCursorSpec pins both the exact
    * sequence and the fetched-row accounting).
    *
    * Tie-heavy accounting: a refill whose boundary sits inside a big
    * equal-distance block re-fetches that block's seen prefix
    * (`seenTies + delta` rows) — the struct tiebreak has no literal
    * form, so the block cannot be seeked into directly. Because the
    * escalation deltas DOUBLE, `seenTies <= k_i` and the re-fetches
    * form a geometric series: total rows fetched stay O(k) (constant
    * factor <= ~3) even when one tie block spans every escalation.
    * The quadratic O(k x tieBlock) worst case needs constant-size
    * deltas, which this cursor never issues. */
  def knnCursor(
      df: DataFrame,
      vecCol: Column,
      query: Column,
      metric: Metric = Metric.L2Sq,
      tieBreaker: Option[Column] = None,
      initK: Int = 10,
      maxK: Int = 1000): Iterator[org.apache.spark.sql.Row] = {
    require(initK > 0, s"initK must be positive, got $initK")
    // the cursor appends its own "dist" column (as the reference's
    // scans expose the distance); a pre-existing dist column would be
    // silently overwritten AND poison the struct-of-all-columns total
    // order the seek refills depend on
    // case-INSENSITIVE: Spark resolution is, so a column named "Dist"
    // would be silently replaced by withColumn("dist", ...) all the same
    require(!df.columns.exists(_.equalsIgnoreCase("dist")),
      "knnCursor input must not already have a 'dist' column " +
        "(rename it; the cursor emits the search distance under that name)")
    new KnnCursor(df, vecCol, query, metric, tieBreaker, initK, maxK)
  }

  private[graft] final class KnnCursor(
      df: DataFrame, vecCol: Column, query: Column, metric: Metric,
      tieBreaker: Option[Column], initK: Int, maxK: Int)
      extends Iterator[org.apache.spark.sql.Row] {
    // Refills re-enter the search; without a total order, equal-distance
    // rows straddling a batch boundary could reorder between runs
    // (skipping/duplicating rows). Default tiebreak = struct of all
    // columns: a lexicographic TOTAL order over rows (a hash tiebreak
    // could collide on two distinct equal-distance rows, leaving the
    // order non-total across re-runs).
    private val tb = tieBreaker.getOrElse(
      struct(df.columns.map(col).toIndexedSeq: _*))
    private val distExpr = metric.dist(vecCol, query)
    /** Total rows collected to the driver (test hook: the delta
      * contract is that this stays O(rows consumed)). */
    private[graft] var fetchedRows = 0L
    private var k = initK
    private var batch = fetch(df, initK)
    private var i = 0
    private var exhausted = batch.length < initK
    private var capped = false

    private def fetch(d: DataFrame, n: Int): Array[org.apache.spark.sql.Row] = {
      val r = knn(d, vecCol, query, n, metric, Some(tb)).collect()
      fetchedRows += r.length
      r
    }

    /** Fetch the next `delta` rows past the current batch end in the
      * (dist, tb) total order. A tb literal is not constructible for an
      * arbitrary row, so the seek re-enters at the boundary DISTANCE:
      * one `dist >= lastDist` fetch of `seenTies + delta` rows — its
      * first `seenTies` rows are exactly the already-returned boundary
      * ties (the order is total), dropped — covers the tie block's
      * remainder AND the strictly-greater rows in a single job (they
      * were two separate fetches before r18; the fold halves the
      * cursor's job count per escalation with an identical row
      * sequence, since `>= lastDist` enumerates `== lastDist` then
      * `> lastDist` under the same (dist, tb) order — and Spark SQL
      * orders NaN after every real value, so a NaN tail is included
      * exactly as the old strictly-greater fetch included it). The
      * recomputed dist is the SAME deterministic expression, so the
      * float comparisons are exact. */
    private def refill(delta: Int): Array[org.apache.spark.sql.Row] = {
      val di = batch.last.fieldIndex("dist")
      // degenerate boundaries take the reference's full re-fetch (the
      // prefix is identical under the total order, so dropping it
      // yields exactly the delta): a NULL dist (null-vector rows, now
      // sorted LAST) would NPE out of getDouble, and a NaN boundary
      // splits rows differently between Scala == (NaN != NaN) and
      // Spark SQL's comparators (NaN = NaN), dropping/duplicating rows
      if (batch.last.isNullAt(di) || batch.last.getDouble(di).isNaN)
        return fetch(df, batch.length + delta).drop(batch.length)
      val lastDist = batch.last.getDouble(di)
      val seenTies = batch.reverseIterator
        .takeWhile(r => !r.isNullAt(di) && r.getDouble(di) == lastDist)
        .length
      val head = fetch(df.filter(distExpr >= lit(lastDist)),
        seenTies + delta).drop(seenTies)
      // null-dist rows sort AFTER every finite/NaN distance but are
      // excluded by the seek filter (comparisons with null are null):
      // when the >= fetch runs dry, the cursor's tail is the null
      // block, ordered by the tiebreak alone
      val nullNeed = delta - head.length
      val nulls =
        if (nullNeed <= 0) Array.empty[org.apache.spark.sql.Row]
        else fetch(df.filter(distExpr.isNull), nullNeed)
      head.take(delta) ++ nulls
    }

    override def hasNext: Boolean = {
      if (i < batch.length) true
      else if (exhausted || capped) false
      else if (k >= maxK) {
        // reference warns and stops the cursor at the 1000 cap
        capped = true
        false
      } else {
        val newK = math.min(k * 2L, maxK.toLong).toInt
        val delta = newK - k
        val got = refill(delta)
        if (got.length < delta) exhausted = true
        k = newK
        batch = batch ++ got // bounded: at most maxK rows live
        i < batch.length
      }
    }

    override def next(): org.apache.spark.sql.Row = {
      if (!hasNext) throw new NoSuchElementException
      val r = batch(i); i += 1; r
    }
  }

  /** One weighted term of a multi-column search. */
  case class WeightedTerm(weight: Double, vecCol: Column, query: Column,
      metric: Metric = Metric.L2Sq)

  /** Multi-vector-column weighted ranking, the exact (`exact=true`) path
    * of `lantern.weighted_vector_search` (lantern_hnsw/sql/lantern.sql:732-762):
    * joint metric sum(w_i * dist_i), optional max-distance filter, top k.
    *
    * The approximate path of the reference (per-column ANN candidates with
    * LIMIT ef, UNION, DISTINCT, re-rank — lantern.sql:769-817) is
    * [[weightedSearchCandidates]]. */
  def weightedSearch(
      df: DataFrame,
      terms: Seq[WeightedTerm],
      k: Int,
      maxDist: Option[Double] = None,
      tieBreaker: Option[Column] = None): DataFrame = {
    val joint = terms.map(t => lit(t.weight) * t.metric.dist(t.vecCol, t.query))
      .reduce(_ + _)
    val withDist = df.withColumn("joint_dist", joint)
    val filtered = maxDist.fold(withDist)(m => withDist.filter(col("joint_dist") <= m))
    val order = col("joint_dist").asc +: tieBreaker.map(_.asc).toSeq
    filtered.orderBy(order: _*).limit(k)
  }

  /** Weighted search with ANN index probes: each term's candidate set
    * comes from its column's index (`AnnIndex.topK(ef)`), the union is
    * joined back to the table for the other columns, and the joint
    * metric re-ranks — the reference's approximate weighted path
    * (lantern.sql:769-817: per-column ANN CTE LIMIT ef, UNION, DISTINCT
    * ON id, re-rank). At scale only `ef x terms` rows ever leave the
    * indexes; the join back is a broadcast of that candidate set.
    *
    * `targetRecall` derives each index's probe breadth from ITS OWN
    * `autotune_results` artifact (each column's index has its own
    * measured frontier) instead of the shared pinned `ef`, which stays
    * the per-index fallback — the decay-proof serving mode of
    * [[graft.ann.Autotune.probeEf]]. */
  def weightedSearchAnn(
      df: DataFrame,
      idColName: String,
      terms: Seq[(WeightedTerm, String)], // (term, its index path)
      k: Int,
      ef: Int,
      maxDist: Option[Double] = None,
      targetRecall: Option[Double] = None): DataFrame = {
    val spark = df.sparkSession
    val candidateIds = terms.map { case (t, indexPath) =>
      val q = graft.ann.QueryVectors.fromColumn(spark, t.query)
      val probeEf = graft.ann.Autotune.probeEf(spark, indexPath, ef,
        targetRecall)
      graft.ann.AnnIndex.topK(spark, indexPath, q, probeEf, probeEf)
        .select("id")
    }.reduce(_ unionByName _).distinct()
    val candidates = df.join(
      org.apache.spark.sql.functions.broadcast(candidateIds),
      df(idColName) === candidateIds("id"), "inner")
      .drop(candidateIds("id")) // by reference: the table may have its own "id"
    weightedSearch(candidates, terms.map(_._1), k, maxDist,
      Some(col(idColName)))
  }

  /** Candidate-generation variant: per-term top-ef candidate sets unioned
    * and deduplicated by `idCol`, then re-ranked by the joint metric
    * (lantern_hnsw/sql/lantern.sql:769-817). With an ANN index per column
    * each candidate set is an index probe ([[weightedSearchAnn]]); with
    * none it is an exact top-ef (TakeOrderedAndProject), still cheaper
    * than scoring all metrics on every row when the table is wide. */
  def weightedSearchCandidates(
      df: DataFrame,
      idColName: String,
      terms: Seq[WeightedTerm],
      k: Int,
      ef: Int,
      maxDist: Option[Double] = None): DataFrame = {
    val candidates = terms.map { t =>
      df.withColumn("__cand_dist", t.metric.dist(t.vecCol, t.query))
        .orderBy(col("__cand_dist").asc, col(idColName).asc)
        .limit(ef)
        .drop("__cand_dist")
    }.reduce(_ unionByName _)
      .dropDuplicates(Seq(idColName))
    weightedSearch(candidates, terms, k, maxDist, Some(col(idColName)))
  }
}
