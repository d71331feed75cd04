package graft.bm25

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{text_to_stem_array, tokenize}
import graft.plans.Bm25Scan

/** BM25 full-text ranking (reference: lantern_extras/src/bm25_agg.rs and
  * bm25_api.sql).
  *
  * Two search paths:
  *  - exact ([[searchBm25]] / [[searchBm25Of]]): the index is a flat
  *    postings DataFrame `(term, doc_id, fq, doc_len)` — the shape Spark
  *    shuffles and prunes best. Filter postings to the query terms, join
  *    document frequencies (broadcast — one row per query term), score
  *    each posting, partial-aggregate per doc (map-side combine — the
  *    parallel `combine` the reference never implemented,
  *    bm25_agg.rs:297-310), global top-k. The only shuffle is on doc_id
  *    for the hit set.
  *  - approximate ([[searchBm25Approx]]): the reference's own search
  *    over its reference-shaped side table ([[createBm25Table]]), with
  *    the popular-term approximation (bm25_agg.rs:162-188), planned as
  *    one [[graft.plans.Bm25Scan]].
  *
  * Every per-posting score, on either path and in [[bm25Score]], is
  * [[postingScore]] / [[postingScoreOf]]: the same operations in the
  * same order with `StrictMath.log`, so the bits agree across paths.
  */
object Bm25 {

  /** Reference GUC defaults: lantern_extras/src/lib.rs:44-46. */
  case class Params(k1: Double = 1.2, b: Double = 0.75)

  private def toksCol(textCol: Column, stemmed: Boolean): Column =
    if (stemmed) text_to_stem_array(textCol) else tokenize(textCol)

  /** The query's distinct terms, tokenized as the corpus was. */
  private def queryTerms(query: String, stemmed: Boolean): Seq[String] =
    (if (stemmed) graft.text.Stemmer.stemTokens(query)
     else graft.text.Stemmer.tokens(query)).toSeq.distinct

  /** Tokenized docs with length: (doc_id, toks, doc_len). */
  def tokenized(docs: DataFrame, idCol: Column, textCol: Column,
      stemmed: Boolean = false): DataFrame =
    docs.select(idCol.as("doc_id"), toksCol(textCol, stemmed).as("toks"))
      .withColumn("doc_len", size(col("toks")))

  /** Flat postings from a (possibly persisted) [[tokenized]] frame.
    * Tokenizing once and deriving postings + stats from the same cached
    * frame avoids re-running the stemmer over the corpus per subtree. */
  def postingsOf(tok: DataFrame): DataFrame =
    tok
      .select(col("doc_id"), col("doc_len"),
        explode(col("toks")).as("term"))
      .groupBy(col("term"), col("doc_id"), col("doc_len"))
      .agg(count(lit(1)).as("fq"))

  /** Flat postings index: (term, doc_id, fq, doc_len). */
  def postings(docs: DataFrame, idCol: Column, textCol: Column,
      stemmed: Boolean = false): DataFrame =
    postingsOf(tokenized(docs, idCol, textCol, stemmed))

  /** One-row corpus stats from a [[tokenized]] frame. */
  def corpusStatsOf(tok: DataFrame): DataFrame =
    tok.agg(count(lit(1)).cast("double").as("n_docs"),
      // exact long sum / count, not avg(): double-accumulation order
      // would make the result nondeterministic in the last ulp
      (sum(col("doc_len")).cast("double") /
        count(lit(1)).cast("double")).as("avg_doc_len"))

  /** One-row corpus stats (n_docs, avg_doc_len), for broadcast. */
  def corpusStats(docs: DataFrame, idCol: Column, textCol: Column,
      stemmed: Boolean = false): DataFrame =
    corpusStatsOf(tokenized(docs, idCol, textCol, stemmed))

  /** Reference GUC `bm25_default_approximation_threshhold` default
    * (lantern_extras/src/lib.rs): posting lists longer than this get a
    * doc-id bloom in the side table. */
  val DefaultBloomThreshold = 8000

  /** Reference-shaped inverted-index table
    * (term, term_freq, doc_ids_len, doc_ids_bloom, doc_ids, fqs,
    * doc_lens) plus the `term IS NULL` corpus-stats row, mirroring
    * lantern_extras/src/bm25_api.sql:33-56 — provided for API parity and
    * for consumers that want posting arrays; the flat [[postings]] shape
    * is preferred at scale. */
  def createBm25Table(docs: DataFrame, idCol: Column, textCol: Column,
      stemmed: Boolean = false,
      bloomThreshold: Int = DefaultBloomThreshold): DataFrame =
    createBm25TableOf(tokenized(docs, idCol, textCol, stemmed),
      bloomThreshold)

  /** Reference-shaped table from a [[tokenized]] frame. Pass a
    * (persisted) [[postingsOf]] frame via `postings` when several
    * consumers share one corpus, to skip the explode+groupBy re-run. */
  def createBm25TableOf(tok: DataFrame,
      bloomThreshold: Int = DefaultBloomThreshold,
      postings: Option[DataFrame] = None): DataFrame = {
    val p = postings.getOrElse(postingsOf(tok))
      .withColumn("srt", struct(col("doc_id"), col("fq"), col("doc_len")))
    val terms = termRows(p, bloomThreshold)
    // the reference repurposes (term_freq, doc_ids_len) of one NULL-term
    // row as corpus stats: doc count and avg doc length x100 (fixed
    // point; integer division keeps it engine-deterministic)
    val stats = tok
      .agg(count(lit(1)).as("n"), sum(col("doc_len")).as("s"))
      .select(nullStatsCols(terms, col("n"),
        expr("CAST((s * 100) div n AS INT)")): _*)
    terms.unionByName(stats)
  }

  /** Grouped posting rows -> one reference-shaped row per term. Input
    * needs (term, srt=struct(doc_id, fq, doc_len)). */
  private def termRows(p: DataFrame, bloomThreshold: Int): DataFrame = {
    // Deliberately a SORT-based streaming group (repartition on term ->
    // in-partition sort -> consecutive-group assembly), NOT
    // sort_array(collect_list(...)): the hash aggregate holds every
    // in-flight term's growing posting buffer simultaneously per task,
    // and at the sf10 century the hot terms' ~8 MB buffers x 32
    // concurrent tasks were an allocation cliff that capped century
    // benches at 24 threads (VERDICT r13). Here a task's peak is ONE
    // term's postings plus the emitted row — bounded by the largest
    // posting list, not by the task's whole key range — and the
    // Tungsten external sort below it spills gracefully. Same single
    // shuffle (the partial collect_list never reduced data map-side
    // anyway); identical output: the (term, srt) sort IS sort_array's
    // struct order. mapPartitions is justified as the one shape
    // Catalyst lacks — streaming one-group-at-a-time array assembly
    // with bounded memory.
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val in = p.select(col("term"), col("srt"))
      .repartition(col("term"))
      .sortWithinPartitions(col("term"), col("srt"))
    val outSchema = StructType(Seq(
      // propagate the input's term nullability: tokenized terms are
      // non-nullable (ArrayType(..., containsNull=false)), and declaring
      // that here lets Catalyst FOLD `term IS NULL` / `IS NOT NULL`
      // filters over the term rows — consolidateBm25Table's stats branch
      // then prunes the whole duplicated posting assembly instead of
      // computing it and discarding every row
      StructField("term", in.schema("term").dataType,
        nullable = in.schema("term").nullable),
      StructField("term_freq", LongType, nullable = false),
      StructField("post",
        ArrayType(in.schema("srt").dataType, containsNull = false))))
    val grouped = in.mapPartitions { rows =>
      val it = rows.buffered
      new Iterator[org.apache.spark.sql.Row] {
        def hasNext: Boolean = it.hasNext
        def next(): org.apache.spark.sql.Row = {
          val term = it.head.get(0)
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[org.apache.spark.sql.Row]
          while (it.hasNext &&
              java.util.Objects.equals(it.head.get(0), term)) {
            buf += it.head.getStruct(1)
            it.next()
          }
          org.apache.spark.sql.Row(term, buf.length.toLong, buf.toSeq)
        }
      }
    }(org.apache.spark.sql.Encoders.row(outSchema))
    grouped
      .select(col("term"), col("term_freq"),
        size(col("post")).as("doc_ids_len"),
        when(col("term_freq") > bloomThreshold,
          graft.functions.array_to_bloom(col("post.doc_id")))
          .otherwise(lit(null)).as("doc_ids_bloom"),
        col("post.doc_id").as("doc_ids"),
        col("post.fq").as("fqs"),
        col("post.doc_len").as("doc_lens"))
  }

  /** The NULL-term stats row projection, typed off the term rows'
    * schema so unionByName lines up. */
  private def nullStatsCols(like: DataFrame, termFreq: Column,
      docIdsLen: Column): Seq[Column] = {
    val sch = like.schema
    Seq(
      lit(null).cast(sch("term").dataType).as("term"),
      termFreq.cast(sch("term_freq").dataType).as("term_freq"),
      docIdsLen.cast(sch("doc_ids_len").dataType).as("doc_ids_len"),
      lit(null).cast(sch("doc_ids_bloom").dataType).as("doc_ids_bloom"),
      lit(null).cast(sch("doc_ids").dataType).as("doc_ids"),
      lit(null).cast(sch("fqs").dataType).as("fqs"),
      lit(null).cast(sch("doc_lens").dataType).as("doc_lens"))
  }

  /** BM25 IDF: ln((N - df + 0.5)/(df + 0.5) + 1)
    * (lantern_extras/src/bm25_agg.rs:124-159). */
  def idf(nDocs: Column, docFreq: Column): Column =
    log((nDocs - docFreq + 0.5) / (docFreq + 0.5) + 1.0)

  /** Per-posting score term (same reference lines). */
  def postingScore(fq: Column, docLen: Column, nDocs: Column,
      docFreq: Column, avgDocLen: Column, p: Params): Column =
    idf(nDocs, docFreq) * (fq * lit(p.k1 + 1.0)) /
      (fq + lit(p.k1) * (lit(1.0 - p.b) + lit(p.b) * docLen / avgDocLen))

  /** [[postingScore]] on doubles: the same operations in the same order,
    * and Spark's `log` is `StrictMath.log`, so the bits are the Column
    * path's. */
  def postingScoreOf(fq: Double, docLen: Double, nDocs: Double,
      docFreq: Double, avgDocLen: Double, p: Params): Double =
    StrictMath.log((nDocs - docFreq + 0.5) / (docFreq + 0.5) + 1.0) *
      (fq * (p.k1 + 1.0)) / (fq + p.k1 * ((1.0 - p.b) + p.b * docLen / avgDocLen))

  /** End-to-end search (reference `search_bm25`, bm25_api.sql:61-104):
    * top-k docs by BM25 for a query string. `precomputed` lets callers
    * pass a persisted postings table + stats. */
  def searchBm25(docs: DataFrame, idCol: Column, textCol: Column,
      query: String, k: Int, params: Params = Params(),
      stemmed: Boolean = false): DataFrame =
    searchBm25Of(tokenized(docs, idCol, textCol, stemmed), query, k,
      params, stemmed)

  /** Search against a (persisted) [[tokenized]] frame — the shape to use
    * when many queries hit one corpus. `postings` short-circuits the
    * explode+groupBy when a persisted [[postingsOf]] frame exists. */
  def searchBm25Of(tok: DataFrame, query: String, k: Int,
      params: Params = Params(), stemmed: Boolean = false,
      postings: Option[DataFrame] = None): DataFrame = {
    val post = postings.getOrElse(postingsOf(tok))
      .filter(col("term").isin(queryTerms(query, stemmed): _*))
    scoreAndRank(post, corpusStatsOf(tok), k, params)
  }

  /** Ad-hoc BM25 score of ONE document against the corpus statistics
    * (reference `bm25_score(table, document, query)`,
    * lantern_extras/src/bm25_agg.rs:61-122): the document's term
    * frequencies come from the given text, document frequencies and
    * corpus stats from the table. */
  def bm25Score(docs: DataFrame, idCol: Column, textCol: Column,
      document: String, query: String, params: Params = Params(),
      stemmed: Boolean = false): Double =
    bm25ScoreOf(tokenized(docs, idCol, textCol, stemmed), document, query,
      params, stemmed)

  /** Ad-hoc score against a (persisted) [[tokenized]] frame. */
  def bm25ScoreOf(tok: DataFrame, document: String, query: String,
      params: Params = Params(), stemmed: Boolean = false,
      postings: Option[DataFrame] = None): Double = {
    def toks(s: String): Array[String] =
      if (stemmed) graft.text.Stemmer.stemTokens(s)
      else graft.text.Stemmer.tokens(s)
    val qTerms: Seq[String] = toks(query).toSeq.distinct
    val dToks = toks(document)
    val dLen = dToks.length.toDouble
    val fq: Map[String, Int] =
      dToks.groupBy(identity).view.mapValues(_.length).toMap
    val statsRow = corpusStatsOf(tok).collect()(0)
    val (n, avgdl) = (statsRow.getDouble(0), statsRow.getDouble(1))
    val dfs: Map[String, Double] =
      postings.getOrElse(postingsOf(tok))
        .filter(col("term").isin(qTerms: _*))
        .groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    qTerms.iterator
      .filter(fq.contains)
      .map(t => postingScoreOf(fq(t).toDouble, dLen, n, dfs.getOrElse(t, 0.0),
        avgdl, params))
      .sum
  }

  /** The reference's popular-term APPROXIMATE search over a
    * reference-shaped [[createBm25Table]] table — the reference's own
    * search (bm25_agg.rs:162-188 state_base, 311-401 finalize), for
    * score parity with reference deployments. It plans one
    * [[graft.plans.Bm25Scan]] node: the query terms' rows and the
    * `term IS NULL` stats row are read in one task, with the filter
    * pushed into the scan, no driver action and no exchange, and ranked
    * there by the reference's four mechanisms — rarest-first
    * accumulation up to `accDocsThreshold` distinct docs, deferral of
    * bloom-carrying terms past it to an fq=1/doc_len=avg_doc_len
    * constant, a 10×k candidate heap over the exact part, and membership
    * re-ranking ([[graft.plans.Bm25Scan.rank]] lists the steps).
    * `exactMembership = true` tests membership on the stored doc_ids
    * instead of the posting bloom (no false positives; blooms have no
    * false negatives) — the deterministic contract/oracle mode, since a
    * DuckDB oracle cannot replay splitmix64 bloom bits.
    *
    * Returns (doc_id, score), the top k by (round(score, 6) desc, doc_id
    * asc), in one partition. A table without its stats row fails loudly;
    * a query whose terms are all absent returns no rows. */
  def searchBm25Approx(tbl: DataFrame, query: String, k: Int,
      params: Params = Params(), stemmed: Boolean = false,
      accDocsThreshold: Int = 100,
      exactMembership: Boolean = false): DataFrame =
    Bm25Scan.frame(tbl, Bm25Scan.Query(queryTerms(query, stemmed), k, params,
      accDocsThreshold,
      if (exactMembership) Bm25Scan.ExactMembership else Bm25Scan.BloomMembership))

  /** Self-checking PRODUCTION-mode (bloom membership) verdict for the
    * approximate search, whose splitmix64 bloom bits no external oracle
    * can replay (the `q_classify_recall` discipline). The
    * [[graft.plans.Bm25Scan]] task that ranks [[searchBm25Approx]]
    * builds the same candidate heap, tests every (candidate, deferred
    * term) pair by bloom AND by stored postings, and returns one row:
    * `nfn_ok` — no false negatives, so a bloom-mode score never drops a
    * constant an exact replay adds; `fp_rate_ok` — false positives on
    * true non-members ≤ max(5% of non-member tests, 3), 5x the build's
    * 0.01 design rate plus a floor (seed-42 blooms: deterministic);
    * `deferral_active` — at least one term deferred. With nothing
    * deferred the row is (false, true, true), and an empty candidate
    * set is vacuously true on both invariants. The oracle pins all-TRUE
    * (bm25_agg.rs:311-401). */
  def bloomModeCheck(tbl: DataFrame, query: String, k: Int,
      params: Params = Params(), stemmed: Boolean = false,
      accDocsThreshold: Int = 100): DataFrame =
    Bm25Scan.frame(tbl, Bm25Scan.Query(queryTerms(query, stemmed), k, params,
      accDocsThreshold, Bm25Scan.BloomCheck))

  /** Compact a bm25 table containing duplicate term rows (after
    * incremental appends) back to one row per term — reference
    * `consolidate_bm25_table` (bm25_api.sql:108-159): posting arrays
    * concatenate, term_freq/doc_ids_len become the merged cardinality,
    * and the bloom is recomputed above the threshold. NULL-term stats
    * rows merge too (counts add; the fixed-point average merges by
    * count-weighted mean). Idempotent. */
  def consolidateBm25Table(tbl: DataFrame,
      bloomThreshold: Int = DefaultBloomThreshold): DataFrame = {
    val p = tbl.filter(col("term").isNotNull)
      .select(col("term"),
        explode(arrays_zip(col("doc_ids"), col("fqs"), col("doc_lens")))
          .as("p"))
      .select(col("term"), col("p.doc_ids").as("doc_id"),
        col("p.fqs").as("fq"), col("p.doc_lens").as("doc_len"))
      .withColumn("srt", struct(col("doc_id"), col("fq"), col("doc_len")))
    val terms = termRows(p, bloomThreshold)
    val stats = tbl.filter(col("term").isNull)
      .agg(sum(col("term_freq")).as("n"),
        sum(col("term_freq") * col("doc_ids_len")).as("w"))
      .select(nullStatsCols(terms, col("n"),
        expr("CAST(w div n AS INT)")): _*)
      .filter(col("term_freq").isNotNull) // no stats rows in the input
    terms.unionByName(stats)
  }

  /** Score pre-filtered postings exactly and return top-k
    * (doc_id, score). */
  def scoreAndRank(queryPostings: DataFrame, stats: DataFrame, k: Int,
      params: Params = Params()): DataFrame = {
    val dfreq = queryPostings.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("doc_freq"))
    val score = postingScore(col("fq").cast("double"),
      col("doc_len").cast("double"), col("n_docs"), col("doc_freq"),
      col("avg_doc_len"), params)
    queryPostings
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("sc", score)
      .groupBy(col("doc_id"))
      .agg(sum(col("sc")).as("score"))
      .orderBy(round(col("score"), 6).desc, col("doc_id").asc)
      .limit(k)
  }
}
