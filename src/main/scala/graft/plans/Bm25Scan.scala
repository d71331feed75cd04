package graft.plans

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.{BloomKernels, Bridge}
import org.apache.spark.sql.types.{BooleanType, DoubleType, LongType}
import graft.bm25.Bm25

/** The reference's approximate BM25 search as one plan node (reference:
  * `search_bm25`, bm25_api.sql:61-104, whose `bm25_agg` aggregate ranks
  * the query terms' side-table rows, bm25_agg.rs:162-401). The child is
  * a [[Bm25.createBm25Table]] table filtered to the query terms' rows
  * and the `term IS NULL` corpus-stats row, so the filter reaches the
  * parquet or in-memory scan; [[Bm25ScanStrategy]] plans the node into
  * [[Bm25ScanExec]], which reads those ≤ |terms| + 1 rows in one task
  * with no exchange and ranks them there ([[Bm25Scan.rank]]). Output:
  * `(doc_id: bigint, score: double)`, the top k by (round(score, 6)
  * desc, doc_id asc); in [[Bm25Scan.BloomCheck]] mode, one
  * `(deferral_active, nfn_ok, fp_rate_ok)` verdict row. */
case class Bm25Scan(query: Bm25Scan.Query, input: Seq[Attribute],
    output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {

  // the output is made here, not read from the child; `input` keeps the
  // child's columns referenced, so column pruning leaves them in place
  override def producedAttributes: AttributeSet = outputSet

  override protected def withNewChildInternal(c: LogicalPlan): Bm25Scan = copy(child = c)

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${truncatedString(output, "[", ", ", "]", maxFields)} $query"
}

object Bm25Scan {

  /** How a deferred term counts for a candidate. */
  sealed trait Mode
  /** By the term's posting bloom (the reference's production mode). */
  case object BloomMembership extends Mode
  /** By the stored doc_ids: no false positives, so an oracle can replay it. */
  case object ExactMembership extends Mode
  /** Both side by side over the same candidates: [[Bm25.bloomModeCheck]]. */
  case object BloomCheck extends Mode

  case class Query(terms: Seq[String], k: Int, params: Bm25.Params,
      accDocsThreshold: Int, mode: Mode) {
    override def toString: String =
      s"terms=${terms.mkString("[", ", ", "]")}, k=$k, accDocs=$accDocsThreshold, $mode"
  }

  /** The node over `tbl`'s rows for the query terms. */
  def frame(tbl: DataFrame, query: Query): DataFrame = {
    require(query.k > 0, "k must be positive")
    val spark = tbl.sparkSession
    installStrategy(spark, Bm25ScanStrategy)
    // the columns in the order [[rank]] reads them; the casts are no-ops
    // on a createBm25Table table
    val rows = tbl.filter(col("term").isin(query.terms: _*) || col("term").isNull)
      .select(col("term"), col("term_freq").cast("bigint"),
        col("doc_ids_len").cast("int"), col("doc_ids_bloom"),
        col("doc_ids").cast("array<bigint>"), col("fqs").cast("array<bigint>"),
        col("doc_lens").cast("array<int>"))
      .queryExecution.analyzed
    val output = query.mode match {
      case BloomCheck => Seq("deferral_active", "nfn_ok", "fp_rate_ok")
        .map(AttributeReference(_, BooleanType, nullable = false)())
      case _ => Seq(AttributeReference("doc_id", LongType, nullable = false)(),
        AttributeReference("score", DoubleType, nullable = false)())
    }
    Bridge.ofRows(spark, Bm25Scan(query, rows.output, output, rows))
  }

  /** Spark's `round(x, 6)` on a double: decimal HALF_UP. */
  private[graft] def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** One candidate doc; its rank key is rounded once, not inside the
    * comparator (that doubles the ranking's cost). */
  private final class Scored(val id: Long, val score: Double) {
    val key: Double = round6(score)
  }

  /** Best first: rounded score desc, then doc_id asc. */
  private val Best: Ordering[Scored] = new Ordering[Scored] {
    def compare(a: Scored, b: Scored): Int =
      if (a.key != b.key) java.lang.Double.compare(b.key, a.key)
      else java.lang.Long.compare(a.id, b.id)
  }

  /** The best `n` entries, best first, through a bounded heap whose head
    * is the worst entry kept. */
  private def top(xs: Iterator[Scored], n: Int): Array[Scored] = {
    val heap = new java.util.PriorityQueue[Scored](Best.reverse)
    xs.foreach { s =>
      if (heap.size < n) heap.add(s)
      else if (Best.lt(s, heap.peek)) { heap.poll(); heap.add(s) }
    }
    heap.toArray(new Array[Scored](0)).sorted(Best)
  }

  /** The reference aggregate's state machine over the term rows and the
    * stats row, each laid out as (term, term_freq, doc_ids_len,
    * doc_ids_bloom, doc_ids, fqs, doc_lens):
    *
    *  1. terms sort by (doc_ids_len, term) — the aggregate's declared
    *     `ORDER BY doc_ids_len ASC`, term as the tiebreak the reference
    *     leaves to the executor;
    *  2. rarest first, terms accumulate; once more than
    *     `accDocsThreshold` distinct docs have been accumulated
    *     (`self.data.len() > 100`, bm25_agg.rs:207), a term longer than
    *     the threshold crossing alone, bloom-carrying terms DEFER: their
    *     posting arrays are never scored;
    *  3. the accumulated postings score exactly
    *     ([[Bm25.postingScoreOf]]), summed per doc in that term order;
    *  4. the top `10 * k` docs by that exact score are the candidates
    *     (finalize_base's bloom_limit heap, bm25_agg.rs:313-336) — a doc
    *     found only in deferred terms is never one;
    *  5. each candidate adds, per deferred term it belongs to, the term's
    *     substituted score with fq = 1 and doc_len = avg_doc_len
    *     (maybe_use_bloom_filter, bm25_agg.rs:164-188); membership is the
    *     term's posting bloom, or its stored doc_ids;
    *  6. the top k remain.
    *
    * n_docs and avg_doc_len come from the stats row (doc_ids_len is
    * avg_doc_len x100 in fixed point). A table without that row, or with
    * two (an unconsolidated append), is an error, never an empty answer.
    * [[BloomCheck]] stops after step 4 and tests both memberships of
    * every (candidate, deferred term) pair instead. `count` receives the
    * work done, by [[Bm25ScanExec]] metric name. */
  def rank(rows: Iterator[InternalRow], q: Query,
      count: (String, Long) => Unit): Seq[InternalRow] = {
    var stats: InternalRow = null
    val terms = mutable.ArrayBuffer.empty[((Int, String), InternalRow)]
    rows.foreach { r =>
      if (!r.isNullAt(0)) terms += (((r.getInt(2), r.getUTF8String(0).toString), r))
      else if (stats == null) stats = r
      else throw new IllegalStateException("the bm25 table has more than one " +
        "corpus-stats row (term IS NULL); consolidate it with Bm25.consolidateBm25Table")
    }
    if (stats == null) throw new IllegalStateException("the bm25 table has no " +
      "corpus-stats row (term IS NULL); build it with Bm25.createBm25Table")
    val n = stats.getLong(1).toDouble
    val avgdl = stats.getInt(2).toDouble / 100.0

    val (accumulated, deferred) =
      (mutable.ArrayBuffer.empty[InternalRow], mutable.ArrayBuffer.empty[InternalRow])
    val seen = mutable.HashSet.empty[Long]
    var crossed = false
    terms.sortBy(_._1).foreach { case (_, r) =>
      if (crossed && !r.isNullAt(3)) deferred += r
      else {
        accumulated += r
        if (r.getInt(2) > q.accDocsThreshold) crossed = true
        else if (!crossed) {
          seen ++= r.getArray(4).toLongArray()
          crossed = seen.size > q.accDocsThreshold
        }
      }
    }

    val exact = mutable.LongMap.empty[Double]
    var postings = 0L
    accumulated.foreach { r =>
      val df = r.getLong(1).toDouble
      val (ids, fqs, lens) = (r.getArray(4), r.getArray(5), r.getArray(6))
      var i = 0
      while (i < ids.numElements()) {
        val id = ids.getLong(i)
        exact(id) = exact.getOrElse(id, 0.0) + Bm25.postingScoreOf(
          fqs.getLong(i).toDouble, lens.getInt(i).toDouble, n, df, avgdl, q.params)
        i += 1
      }
      postings += ids.numElements()
    }
    val heapSize = if (q.k > Int.MaxValue / 10) Int.MaxValue else 10 * q.k
    val cands = top(exact.iterator.map { case (id, s) => new Scored(id, s) }, heapSize)

    // membership of a deferred term, by its stored ids or its bloom
    def inIds(r: InternalRow): Long => Boolean = {
      val ids = r.getArray(4).toLongArray()
      java.util.Arrays.sort(ids)
      java.util.Arrays.binarySearch(ids, _) >= 0
    }
    def inBloom(r: InternalRow): Long => Boolean = {
      val b = r.getStruct(3, 2)
      val bloom = InternalRow(b.getBinary(0), b.getInt(1)) // one bitmap copy
      BloomKernels.containsLong(_, bloom)
    }
    count("termsRead", terms.size)
    count("termsDeferred", deferred.size)
    count("postingsScored", postings)
    count("candidates", cands.length)
    count("membershipTests",
      cands.length.toLong * deferred.size * (if (q.mode == BloomCheck) 2 else 1))
    q.mode match {
      case BloomCheck if deferred.isEmpty => Seq(InternalRow(false, true, true))
      case BloomCheck =>
        // no false negatives: the bloom holds every true member; false
        // positives on true non-members stay under max(5 %, 3)
        val (byIds, byBloom) = (deferred.map(inIds), deferred.map(inBloom))
        var (nfn, falsePos, nonMembers) = (true, 0L, 0L)
        for (c <- cands; j <- deferred.indices) {
          val (em, bm) = (byIds(j)(c.id), byBloom(j)(c.id))
          if (em && !bm) nfn = false
          if (!em) { nonMembers += 1; if (bm) falsePos += 1 }
        }
        Seq(InternalRow(true, nfn,
          falsePos.toDouble <= math.max(nonMembers.toDouble * 0.05, 3.0)))
      case mode =>
        val member = deferred.map(if (mode == ExactMembership) inIds else inBloom)
        val consts = deferred.map(r => Bm25.postingScoreOf(
          1.0, avgdl, n, r.getLong(1).toDouble, avgdl, q.params))
        val scored =
          if (deferred.isEmpty) cands.iterator
          else cands.iterator.map { c =>
            var adds = 0.0
            for (j <- deferred.indices) if (member(j)(c.id)) adds += consts(j)
            new Scored(c.id, c.score + adds)
          }
        top(scored, q.k).toSeq.map(c => InternalRow(c.id, c.score))
    }
  }
}

/** Physical [[Bm25Scan]]: every child partition is read in ONE task (a
  * narrow coalesce, no exchange), the ≤ |terms| + 1 rows are held, and
  * [[Bm25Scan.rank]] ranks them. Metrics: terms read, terms deferred,
  * postings scored, candidates, membership tests, and the search time
  * spent ranking after the rows were read. */
case class Bm25ScanExec(query: Bm25Scan.Query, input: Seq[Attribute],
    output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {

  override def outputPartitioning: Partitioning = SinglePartition

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "termsRead" -> SQLMetrics.createMetric(sparkContext, "terms read"),
    "termsDeferred" -> SQLMetrics.createMetric(sparkContext, "terms deferred"),
    "postingsScored" -> SQLMetrics.createMetric(sparkContext, "postings scored"),
    "candidates" -> SQLMetrics.createMetric(sparkContext, "candidates"),
    "membershipTests" -> SQLMetrics.createMetric(sparkContext, "membership tests"),
    "searchTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "search time"))

  override protected def doExecute(): RDD[InternalRow] = {
    val (q, in, childOut, schema) = (query, input, child.output, this.schema)
    val m = metrics
    val rows = child.execute()
    val one =
      if (rows.getNumPartitions == 0) sparkContext.parallelize(Seq.empty[InternalRow], 1)
      else rows.coalesce(1)
    one.mapPartitions { it =>
      val layout = UnsafeProjection.create(in, childOut)
      val read = it.map(r => layout(r).copy()).toArray
      val t0 = System.nanoTime()
      val out = Bm25Scan.rank(read.iterator, q, m(_) += _)
      m("searchTime") += System.nanoTime() - t0
      val toRow = UnsafeProjection.create(schema)
      out.iterator.map(toRow)
    }
  }

  override def simpleString(maxFields: Int): String =
    s"$nodeName ${truncatedString(output, "[", ", ", "]", maxFields)} $query"

  override protected def withNewChildInternal(c: SparkPlan): Bm25ScanExec = copy(child = c)
}

/** Plans [[Bm25Scan]] into [[Bm25ScanExec]]; installed by
  * [[Bm25Scan.frame]] through [[installStrategy]] or injected by
  * [[graft.GraftExtensions]]. */
object Bm25ScanStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case s: Bm25Scan => Bm25ScanExec(s.query, s.input, s.output, planLater(s.child)) :: Nil
    case _ => Nil
  }
}
