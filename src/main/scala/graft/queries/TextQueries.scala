package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.SharedState.Policy
import graft.bm25.Bm25
import graft.dedup.Dedup
import graft.sources.Bucketing
import graft.text.TextOps

/** Driver-contract queries for the BM25 / text-analysis / dedup families
  * (SURVEY.md sections 2.4, 2.5 + pipeline operators) with DuckDB oracles.
  *
  * Oracle-checked queries use the plain tokenizer (DuckDB has no Snowball
  * stemmer offline); the stemmed variants are registered without oracles
  * and verified by the ScalaTest recall/fixture suites instead. */
object TextQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private val bm25Query = "spark join fast window"
  private val bm25Terms = Seq("spark", "join", "fast", "window")

  /** Shared DuckDB tokenization CTE (mirrors graft.text.Stemmer.tokens). */
  private val toksCte =
    """toks AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
      |  FROM documents)""".stripMargin

  /** Shared DSIR oracle CTE chain (factored so the weights row and the
    * sample row can never drift): features = unigrams ++ bigrams of
    * the plain tokenizer, md5-prefix buckets mod 4096, add-one
    * smoothed target/raw log-ratio in fixed point — the identical
    * expression shape [[graft.text.Dsir.importanceWeights]] computes,
    * so the one `ln` call sees the same double on both engines and the
    * quantizer absorbs libm's last ulp. */
  private val dsirCtes =
    s"""$toksCte,
       |feat AS (
       |  SELECT doc_id, unnest(t || list_transform(
       |    range(greatest(len(t) - 1, 0)),
       |    i -> t[i + 1] || ' ' || t[i + 2])) AS f
       |  FROM toks),
       |fb AS (
       |  SELECT doc_id, ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS bucket
       |  FROM feat),
       |lab AS (
       |  SELECT doc_id,
       |    source IN ('src0','src1','src2','src3','src4') AS tgt
       |  FROM documents),
       |tc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS t_cnt
       |       FROM fb JOIN lab USING (doc_id) WHERE tgt GROUP BY 1),
       |rc AS (SELECT bucket, CAST(count(*) AS BIGINT) AS r_cnt
       |       FROM fb JOIN lab USING (doc_id) WHERE NOT tgt GROUP BY 1),
       |tot AS (SELECT CAST((SELECT coalesce(sum(t_cnt), 0) FROM tc) AS BIGINT) AS t_tot,
       |               CAST((SELECT coalesce(sum(r_cnt), 0) FROM rc) AS BIGINT) AS r_tot),
       |wt AS (
       |  SELECT g.range AS bucket,
       |    CAST(floor(1000000.0 * ln(
       |      (CAST(coalesce(t_cnt, 0) + 1 AS DOUBLE) * CAST(r_tot + 4096 AS DOUBLE)) /
       |      (CAST(coalesce(r_cnt, 0) + 1 AS DOUBLE) * CAST(t_tot + 4096 AS DOUBLE)))
       |      + 0.5) AS BIGINT) AS lr_fp
       |  FROM range(4096) g
       |    LEFT JOIN tc ON tc.bucket = g.range
       |    LEFT JOIN rc ON rc.bucket = g.range, tot)""".stripMargin

  // ---- Spark-side queries ----

  /** Tokenized corpus (plain + stemmed), persisted once per data dir
    * and shared across the whole BM25/bloom family — the per-query
    * stemmer re-run was the family's dominant cost. */
  private def tokCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"bm25tok:$dir", Policy.Persist)(
      Bm25.tokenized(docs(s, dir), col("doc_id"), col("text")))

  private def tokStemmedCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"bm25tokstem:$dir", Policy.Persist)(
      Bm25.tokenized(docs(s, dir), col("doc_id"), col("text"),
        stemmed = true))

  /** Flat postings, persisted once per dir and shared by the BM25/bloom
    * family (q_bm25_table, q_bm25_search, q_bm25_score, q_bloom_members
    * each need the same explode+groupBy; at cluster scale this is the
    * persisted postings table bucketed by term). */
  private def postCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"bm25post:$dir", Policy.Compact)(
      Bm25.postingsOf(tokCached(s, dir)))

  /** The reference-shaped side table end-to-end (bm25_api.sql:33-56):
    * per-term posting rows with doc_ids_len and the posting-bloom column
    * (threshold 390 splits this corpus: df 391-402 terms get blooms,
    * df <= 390 stay null), plus the NULL-term corpus-stats row
    * (term_freq = doc count, doc_ids_len = avg doc length x100). */
  private def bm25Table(s: SparkSession, dir: String): DataFrame =
    Bm25.createBm25TableOf(tokCached(s, dir), bloomThreshold = 390,
        postings = Some(postCached(s, dir)))
      .select(col("term"), col("term_freq"), col("doc_ids_len"),
        col("doc_ids_bloom").isNotNull.as("has_bloom"),
        element_at(col("doc_ids"), 1).as("first_doc"),
        element_at(col("doc_ids"), -1).as("last_doc"))
      .orderBy(col("term_freq").desc, col("term").asc_nulls_first)
      .limit(20)

  private def bm25Search(s: SparkSession, dir: String): DataFrame =
    Bm25.searchBm25Of(tokCached(s, dir), bm25Query, 10,
        postings = Some(postCached(s, dir)))
      .select(col("doc_id"), round(col("score"), 6).as("score"))

  private def postStemmedCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"bm25poststem:$dir", Policy.Compact)(
      Bm25.postingsOf(tokStemmedCached(s, dir)))

  /** Reference-shaped table for the APPROXIMATE search row, built at a
    * corpus-RELATIVE bloom threshold (half the doc count): the corpus'
    * 31-term vocabulary has dfs clustered at ~78% of n_docs with one
    * ~5% term ('dup'), so an absolute threshold cannot split the
    * vocabulary at every scale — n/2 keeps popular terms
    * bloom-carrying and 'dup' exact from sf0.001 through sf10, which
    * is what makes the approximation's three regimes all fire (see
    * [[bm25SearchApprox]]). */
  private def bm25ApproxTableCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"bm25approxtbl:$dir", Policy.Compact)(
      Bm25.createBm25TableOf(tokCached(s, dir),
        bloomThreshold = (docs(s, dir).count() / 2).toInt,
        postings = Some(postCached(s, dir))))

  /** The reference's popular-term approximate BM25 search
    * (bm25_agg.rs:162-188, 311-401) end-to-end: terms process rarest-
    * first (the aggregate's ORDER BY doc_ids_len ASC,
    * bm25_api.sql:84-99); 'dup' (~5% of docs) accumulates exactly;
    * once >100 distinct docs are accumulated, bloom-carrying terms
    * defer to the fq=1/doc_len=avgdl constant; candidates are the
    * 10x-limit heap over the EXACT part; deferred constants then
    * re-rank candidates by membership. At sf0.01 'spark' lands before
    * the crossing (accumulates exactly, 25 docs < 100) and 'window'
    * defers; at sf0.1+ 'dup' alone crosses (df > 100) and BOTH
    * popular terms defer — the decision is data-derived identically
    * on both engines, so the row is scale-covariant by construction.
    * Membership runs in the exactMembership contract mode (stored
    * doc_ids; blooms have no false negatives, so bloom mode differs
    * only by fp-rate noise — pinned in Bm25Spec; a DuckDB oracle
    * cannot replay splitmix64 bloom bits). */
  private def bm25SearchApprox(s: SparkSession, dir: String): DataFrame =
    Bm25.searchBm25Approx(bm25ApproxTableCached(s, dir), approxQuery, 10,
        exactMembership = true)
      .select(col("doc_id"), round(col("score"), 6).as("score"))

  private val approxQuery = "dup spark window"
  private val approxTerms = Seq("dup", "spark", "window")

  /** PRODUCTION (bloom) mode of the approximate search, self-checked
    * in-query: no-false-negative + bounded false-positive-rate
    * invariants verified against the stored postings over the same
    * candidate pipeline (splitmix64 bloom bits are not replayable by
    * an external oracle — the verdict booleans are; the
    * q_classify_recall discipline). */
  private def bm25BloomCheck(s: SparkSession, dir: String): DataFrame =
    Bm25.bloomModeCheck(bm25ApproxTableCached(s, dir), approxQuery, 10)

  private def bm25SearchStemmed(s: SparkSession, dir: String): DataFrame =
    Bm25.searchBm25Of(tokStemmedCached(s, dir), bm25Query, 10,
        stemmed = true, postings = Some(postStemmedCached(s, dir)))
      .select(col("doc_id"), round(col("score"), 6).as("score"))

  /** Warm every persisted corpus artifact this module's queries share —
    * BM25 tokenized corpora + postings (plain and stemmed), the dedup
    * family's shingles/signatures/verified pairs, and the mock
    * embedding column — outside any timed region, so bench numbers mean
    * steady-state retrieval rather than first-touch cache builds. */
  def prepare(s: SparkSession, dir: String): Seq[(String, Double)] = {
    import graft.SharedState.timed
    // ---- shared trainers, warmed FIRST and attributed to their own
    // rows: the stage graph, the door artifacts and the refresh chain
    // all read these caches — in the old sequential order their cost
    // hid inside whichever pipeline build touched them first
    val trainers = Seq(
      timed("quality_weights") { qualityWeights(s, dir).count() },
      timed("dsir_weights") {
        dsirWeightsCached(s, dir).count(); dsirWeightsArr(s, dir); () })
    // ---- the pipeline builds, OVERLAPPED on a small driver pool
    // (guide §2.6: actions are only sequential because the driver
    // calls them sequentially — each build here is a chain of dozens
    // of small jobs with driver planning gaps, and an independent
    // build's tasks back-fill those gaps). Correctness does not need
    // the dependency edges below — SharedState builds every shared
    // artifact once even when threads race for it. They keep per-build
    // TIMING attribution: a future starts its clock only after its
    // deps resolved, so a build never reports a dependency's wall as
    // its own (waiting on another thread's build would):
    //   bounds ─┬─> ndk_scored ─┬─> refresh
    //           └─> door ───────┼─> stream ─> absorb
    //   arrivals ───────────────┘   (refresh also needs door+arrivals)
    // Job descriptions are thread-local, so UI attribution survives
    // the overlap. The pipeline still materializes before the corpus
    // caches below, on the freshest heap (the century OOM discipline).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3,
      (r: Runnable) => { val t = new Thread(r, "graft-prepare")
        t.setDaemon(true); t })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    def timedF(name: String)(f: => Unit): Future[(String, Double)] =
      Future {
        s.sparkContext.setJobDescription(s"prepare: $name")
        try timed(name)(f)
        finally s.sparkContext.setJobDescription(null)
      }
    def after(deps: Future[_]*)(body: => Future[(String, Double)])
        : Future[(String, Double)] =
      Future.sequence(deps.toSeq).flatMap(_ => body)
    // the stage boundaries, built once through the memo that
    // q_pipeline_e2e reads; q_pipeline_boundaries then validates the
    // same fingerprint-guarded artifacts, as its steady state does
    val fBounds = timedF("pipeline_boundaries") {
      pipelineE2e(s, dir).count(); pipelineBoundariesQ(s, dir).count() }
    // the ingest drop parquet leaf (stream source + refresh halves)
    val fArrivals = timedF("pipeline_arrivals") {
      pipeArrivalsPath(s, dir); () }
    // the door's corpus-side artifacts hang off the resolved boundary
    // chain and write under ONE root
    val fDoor = after(fBounds)(timedF("pipeline_door") {
      pipeStreamCorpus(s, dir); () })
    // the frozen corpus' scored kept rows (absorb + refresh input)
    val fNdk = after(fBounds)(timedF("pipeline_ndk_scored") {
      ndkScored(s, dir).count() })
    // the streaming door: runs the AvailableNow ingest job once per
    // dir against the batch pipeline's prepared artifacts
    val fStream = after(fDoor, fArrivals)(timedF("pipeline_stream") {
      pipelineStreamPath(s, dir); () })
    // the corpus refresh: re-runs the door in backfill form (text
    // kept) and extends the artifacts — the absorbed version builds
    // once per dir here, the contract row reads the refreshed mix
    val fRefresh = after(fDoor, fArrivals, fNdk)(
      timedF("pipeline_refresh") { pipelineRefresh(s, dir).count() })
    val fAbsorb = after(fStream, fNdk)(timedF("pipeline_absorb") {
      pipelineAbsorb(s, dir).count() })
    val pipeline =
      try Await.result(Future.sequence(Seq(fBounds, fArrivals, fDoor,
        fNdk, fStream, fRefresh, fAbsorb)), Duration.Inf)
      finally pool.shutdown()
    trainers ++ pipeline ++ Seq(
      timed("bm25_postings") { postCached(s, dir).count() },
      timed("bm25_postings_stemmed") { postStemmedCached(s, dir).count() },
      timed("bm25_approx_table") { bm25ApproxTableCached(s, dir).count() },
      timed("dedup_shingles") { shingledCached(s, dir).count() },
      timed("dedup_signatures") { sigCached(s, dir).count() },
      timed("dedup_lsh_candidates") { lshCandidatesCached(s, dir).count() },
      timed("dedup_jaccard_pairs") { jaccardPairsCached(s, dir).count() },
      timed("winnow_fingerprints") { winnowCached(s, dir).count() },
      timed("winnow_pairs") { winnowPairsCached(s, dir).count() },
      timed("dedup_simhash64") { simhash64Cached(s, dir).count() },
      timed("dedup_simhash_candidates") {
        simhashCandsCached(s, dir).count() },
      timed("mock_embeddings") { mockEmbCached(s, dir).count() },
      timed("quality_scored") { qualityScoredRows(s, dir) },
      timed("dsir_mix_scored") { dsirMixScored(s, dir).count() },
      timed("dsir_stream") { dsirStreamPath(s, dir) },
      timed("imgsem_table") { imgSemTablePath(s, dir) },
      timed("imgsem_embeddings") { imgEmbCached(s, dir).count() },
      timed("imgsem_candidates") { imgCandsCached(s, dir).count() },
      timed("tfidf_vocab") {
        vocabCountCached(s, dir); docCountCached(s, dir); () })
  }

  /** Hybrid retrieval: BM25 top-20 and mock-embedding KNN top-20 fused
    * with Reciprocal Rank Fusion (k0=60). The mock embeddings and the
    * BM25 scores are both SQL-reproducible, so the whole fusion is
    * oracle-checked end-to-end. */
  private def mockEmbCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"mockemb:$dir", Policy.Persist)(
      graft.embed.Embeddings.embedColumn(
        docs(s, dir).select(col("doc_id"), col("text")), "text", "vec",
        graft.embed.Runtimes.mock(8), "mock-embed", batchSize = 64))

  private def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    import graft.embed.Runtimes
    import graft.ann.Metric
    import graft.operators.{Hybrid, Knn}
    val lex = Bm25.searchBm25Of(tokCached(s, dir), bm25Query, 20,
        postings = Some(postCached(s, dir)))
      .select(col("doc_id"), round(col("score"), 6).as("s"))
    val emb = mockEmbCached(s, dir)
    val qv = Runtimes.mock(8).embedBatch("mock-embed", Seq(bm25Query)).head
    val vec = Knn.knn(emb, col("vec"),
        graft.functions.vecLit(qv.toSeq), 20, Metric.L2Sq, Some(col("doc_id")))
      .select(col("doc_id"), round(col("dist"), 6).as("d"))
    Hybrid.rrf("doc_id", Seq(
        Hybrid.Ranked(lex, Seq(col("s").desc, col("doc_id").asc)),
        Hybrid.Ranked(vec, Seq(col("d").asc, col("doc_id").asc))), 10)
      .select(col("doc_id"), round(col("rrf_score"), 6).as("rrf_score"))
  }

  private def textQuality(s: SparkSession, dir: String): DataFrame =
    TextOps.quality(docs(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id").asc).limit(100)

  private def langId(s: SparkSession, dir: String): DataFrame =
    TextOps.langId(docs(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id").asc).limit(200)

  private def fingerprint(s: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(docs(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id").asc).limit(200)

  private def tokenCounts(s: SparkSession, dir: String): DataFrame =
    TextOps.tokenCounts(docs(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id").asc).limit(200)

  /** Byte-BPE tokenization end-to-end: count, byte length, and an md5
    * over the comma-joined hex token sequence — so the oracle's merge
    * replay must reproduce token IDENTITY, not just counts. */
  private def tokenBpe(s: SparkSession, dir: String): DataFrame = {
    // both outputs derive from the SAME bpe_tokens expression so
    // whole-stage codegen's subexpression elimination runs the
    // O(merges x bytes) encode once per row, not twice
    val toks = graft.functions.bpe_tokens(col("text"))
    docs(s, dir).select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        size(toks).cast("long").as("n_bpe"),
        md5(array_join(toks, ",").cast("binary")).as("toks_md5"))
      .orderBy(col("doc_id").asc).limit(200)
  }

  /** Sequence packing with the REAL tokenizer as the token basis (the
    * round-4 review: "the packing family is only as real as its
    * tokenizer"). Same blocked prefix-sum, n_tokens = byte-BPE count. */
  private def packBpe(s: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(docs(s, dir), col("doc_id"), col("text"),
        seqLen = 128, blockSize = 64,
        tokenCount = c => graft.functions.bpe_count(c))
      .orderBy(col("doc_id").asc).limit(200)

  /** Benchmark decontamination end-to-end: docs with doc_id % 10 == 7
    * play the held-out benchmark, the rest are the training corpus; a
    * training doc is contaminated when it shares a token 13-gram with
    * any benchmark doc (which the corpus' built-in near-dup pairs do
    * whenever a pair straddles the split). */
  private def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextOps.ngramDecontaminate(
        d.filter(col("doc_id") % 10 =!= 7),
        d.filter(col("doc_id") % 10 === 7),
        col("doc_id"), col("text"), n = 13)
      .orderBy(col("doc_id").asc).limit(200)
  }

  /** LM-coverage quality gate end-to-end: docs with doc_id % 10 == 3
    * play the trusted reference slice, the rest are scored by how many
    * of their token transitions the reference attests — the
    * integer-exact core of the CCNet-style perplexity filter. */
  private def lmCoverage(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    TextOps.lmCoverage(
        d.filter(col("doc_id") % 10 =!= 3),
        col("doc_id"), col("text"),
        d.filter(col("doc_id") % 10 === 3), col("text"))
      .orderBy(col("doc_id").asc).limit(200)
  }

  private def qualityRepetition(s: SparkSession, dir: String): DataFrame =
    TextOps.repetition(docs(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id").asc).limit(200)

  /** Corpus-wide top-20 2-grams (tokenizer-training statistics). */
  private def corpusNgrams(s: SparkSession, dir: String): DataFrame =
    TextOps.corpusNgrams(docs(s, dir), col("text"), n = 2, k = 20)

  /** Deterministic stratified sampling by language. Rates are exact
    * binary fractions so rate x 10000 is integral in BOTH engines and
    * the hash-bucket comparison can never straddle a rounding edge. */
  private val sampleRates = Map(
    "en" -> 0.5, "de" -> 0.25, "es" -> 0.125, "fr" -> 0.125, "zh" -> 0.0625)
  private def sampleStratified(s: SparkSession, dir: String): DataFrame =
    TextOps.sampleStratified(docs(s, dir), col("doc_id"), col("lang"),
        sampleRates)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id").asc).limit(200)

  /** Epoch-factor expansion on the contract: src0 is seen 2.5 times
    * per run, src1 once, src2 subsampled to a quarter, src3 to 1.25 —
    * floor copies for every doc, the fractional extra picked by the
    * md5 bucket (fractions are exact multiples of 1/10000, the
    * sampleStratified discipline), all other sources dropped. The
    * oracle replays the CASE table and the bucket verbatim and unrolls
    * copies with range(). */
  private val epochFactors = Map(
    "src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25, "src3" -> 1.25)
  private def mixEpochsQ(s: SparkSession, dir: String): DataFrame =
    TextOps.mixEpochs(docs(s, dir).select(col("doc_id"), col("source")),
        col("doc_id"), col("source"), epochFactors)
      .orderBy(col("doc_id").asc, col("epoch").asc).limit(400)

  /** DCLM-style quality-classifier gate, integer-exact core: train
    * fixed-point frequency weights (hashed bag-of-words, Laplace
    * P(pos|token) in fixed point) on a weak-supervision split of the
    * corpus (sources src0-src4 = positive), score every document, and
    * report the first 200 docs' (w_sum, n_scored, score_fp). Training
    * AND scoring are on the hash contract; the float log-odds and
    * spark.ml scorers are spec-verified (QualityClassifierSpec), the
    * same split as lm_coverage/perplexity. */
  /** Fixed-point classifier weight table, trained once per data dir
    * and shared by the classifier and gate rows (both train the SAME
    * weights; at cluster scale this is the persisted weights table a
    * scoring pass reads, not a retrain per query). ≤ 4096 rows. */
  private def qualityWeights(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"qweights:$dir", Policy.Compact) {
      val isPos = col("source").isin("src0", "src1", "src2", "src3", "src4")
      graft.text.QualityClassifier.fixedPointWeights(
        graft.text.QualityClassifier.trainCounts(
          spreadForBuild(s, dir, docs(s, dir)),
          col("text"), isPos))
    }

  /** The fixed-point-scored corpus persisted ONCE per dir as a NARROW
    * lineage-cut boundary (doc_id, w_sum, n_scored, score_fp — the
    * q_dsir_mix discipline): the classifier, gate and tiers rows all
    * read this 4-column leaf, so the tokenizer, the weight join and
    * the per-doc aggregate run exactly once per corpus instead of once
    * per pass per row. Cluster analog: the scoring job's output table,
    * which the gate and the curriculum binning then read. */
  private def qualityScored(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"qscored:$dir", Policy.Parquet)(
      graft.text.QualityClassifier.scoreFixedPoint(
        spreadForBuild(s, dir, docs(s, dir)),
        col("doc_id"), col("text"), qualityWeights(s, dir)))

  /** [[qualityScored]]'s row count, counted once per dir by prepare: the
    * exact-percentile rows pass it as `knownRows` and skip the probe. */
  private def qualityScoredRows(s: SparkSession, dir: String): Long =
    graft.SharedState.value(s"qscored:rows:$dir")(qualityScored(s, dir).count())

  private def qualityClassifier(s: SparkSession, dir: String): DataFrame =
    qualityScored(s, dir).orderBy(col("doc_id").asc).limit(200)

  /** The quality gate ACTION end-to-end on the contract: train the
    * fixed-point classifier, score the WHOLE corpus, keep the top
    * quarter by the EXACT interpolated percentile threshold
    * (`exact = true` — integer scores make every interpolation step
    * exact in double, so the kept set replays bit-for-bit in DuckDB's
    * quantile_cont; the percentile_approx default stays the 100-TB
    * path, QualityClassifierSpec pins that the two agree away from
    * threshold ties). Output = top-200 kept docs by (score desc, id). */
  private def qualityGate(s: SparkSession, dir: String): DataFrame =
    graft.text.QualityClassifier
      .keepTopFraction(qualityScored(s, dir), col("score_fp"), 0.25,
        exact = true, knownRows = qualityScoredRows(s, dir))
      .orderBy(col("score_fp").desc, col("doc_id").asc).limit(200)
      .select(col("doc_id"), col("score_fp"))

  /** Curriculum binning end-to-end: the whole corpus scored by the
    * shared fixed-point classifier, quartile thresholds from the
    * exact interpolated percentile (contract path; approx is the
    * 100 TB default), tier = 1 + #thresholds strictly below. */
  private def qualityTiers(s: SparkSession, dir: String): DataFrame =
    graft.text.QualityClassifier.tierByQuantile(
        qualityScored(s, dir), col("score_fp"), nTiers = 4, exact = true,
        knownRows = qualityScoredRows(s, dir))
      .select(col("doc_id"), col("score_fp"), col("tier"))
      .orderBy(col("doc_id").asc).limit(200)

  /** Per-source domain report (the domain-filtering statistic). */
  private def domainStats(s: SparkSession, dir: String): DataFrame =
    TextOps.domainStats(docs(s, dir), col("doc_id"), col("source"),
        col("text"), col("lang"))
      .orderBy(col("source").asc)

  /** Text cleaning / PII scrub over input with synthesized addresses:
    * the corpus is pure [a-z ] text, so emails and URLs are appended
    * deterministically from doc_id (identically in the oracle) — one
    * third of docs gets two emails, one third two URLs (the second
    * containing an @ that must be consumed by the URL pass, pinning
    * redaction order), one third stays raw. */
  /** PII redaction over doc_id-synthesized identifiers (the fixture
    * corpus carries no real PII, so each residue class of doc_id % 5
    * plants one category — phone with country code and parens, dotted
    * IPv4, SSN shape, spaced card number, email). The DuckDB oracle
    * replays the same augmentation and the same ordered regex chain. */
  private def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val last4 = (lit(1000) + id % 9000).cast("string")
    val augmented = when(id % 5 === 0,
        concat(col("text"), lit(" call +1 (415) 555-"), last4, lit(" ok")))
      .when(id % 5 === 1,
        concat(col("text"), lit(" host 10."), (id % 256).cast("string"),
          lit(".0."), (id % 200).cast("string"), lit(" up")))
      .when(id % 5 === 2,
        concat(col("text"), lit(" ssn 123-45-"), last4, lit(" leaked")))
      .when(id % 5 === 3,
        concat(col("text"), lit(" card 4111 1111 1111 "), last4, lit(" paid")))
      .otherwise(
        concat(col("text"), lit(" mail u"), id.cast("string"),
          lit("@pii.example.net now")))
    TextOps.redactPii(docs(s, dir), col("doc_id"), augmented)
      .orderBy(col("doc_id").asc).limit(200)
  }

  /** HTML extraction over a synthesized page per document: title,
    * style/script bodies, comments, a link, and (every third doc) a
    * list with entities — the oracle replays the identical regex chain
    * over the identical synthesized markup. */
  private def htmlExtract(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val html = concat(
      lit("<html><head><title>Doc "), id,
      lit("</title><style>p { color: red }</style>" +
        "<script type=\"text/javascript\">var x = 1; if (x < 2) { x = 2; }" +
        "</script></head><body><h1>Doc "), id,
      lit("</h1><!-- hidden "), id, lit(" --><p>"), col("text"),
      lit("</p><a href=\"http://ex.com/p/"), id, lit("\">more</a>"),
      when(col("doc_id") % 3 === 0,
        lit("<ul><li>alpha &amp; beta</li><li>1 &lt; 2 &gt; 0</li></ul>"))
        .otherwise(lit("")),
      lit("</body></html>"))
    TextOps.extractHtml(docs(s, dir), col("doc_id"), html)
      .orderBy(col("doc_id").asc).limit(200)
  }

  /** URL normalization + blocklist over five synthesized URL shapes
    * (case, www, default/explicit ports, tracking params, fragments,
    * trailing slashes; host-level and domain-level blocklist hits). */
  private def urlNormalize(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val ids = id.cast("string")
    val url = when(id % 5 === 0,
        concat(lit("HTTPS://WWW.Example.COM:443/A/B/?utm_source=x&id="), ids,
          lit("#frag")))
      .when(id % 5 === 1,
        concat(lit("http://blog.Spam-Domain.net/post/"), ids,
          lit("?gclid=abc&x=1&b=2")))
      .when(id % 5 === 2, concat(lit("https://sub.news.org/"), ids, lit("/")))
      .when(id % 5 === 3, lit("http://example.com:8080/p?b=2&a=1&utm_medium=m"))
      .otherwise(lit("https://cdn.example.com"))
    TextOps.normalizeUrls(docs(s, dir), col("doc_id"), url,
        Seq("spam-domain.net", "cdn.example.com"))
      .orderBy(col("doc_id").asc).limit(200)
  }

  /** Gopher-rules gate over text augmented to trip each rule family:
    * bullet lines, symbol runs, ellipsis lines, injected stopwords,
    * numeric tokens (alpha-fraction), plus untouched docs. */
  private def gopherGate(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val augmented = when(id % 7 === 0,
        concat(col("text"),
          lit("\n- bullet one\n- bullet two\n* bullet three")))
      .when(id % 7 === 1, concat(col("text"), lit(" ### #### ## # #")))
      .when(id % 7 === 2,
        concat(col("text"),
          lit("\nto be continued...\nand more…\nplain line")))
      .when(id % 7 === 3,
        concat(lit("the be to of and that have with "), col("text")))
      .when(id % 7 === 4,
        concat(col("text"), lit(" 12345 67890 11111 22222 33333 44444")))
      .otherwise(col("text"))
    TextOps.gopherGate(docs(s, dir), col("doc_id"), augmented)
      .orderBy(col("doc_id").asc).limit(200)
  }

  /** C4 line/doc cleaning over text augmented to trip each rule: good
    * sentence lines, a code line (brace), lorem-ipsum boilerplate, a
    * javascript line among good ones, and untouched docs (whose plain
    * word-run lines carry no terminal punctuation). */
  private def c4Clean(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val five = "One good line ends here. A second sentence follows now. " +
      "Then a third one lands. Afterwards a fourth arrives. Finally a fifth closes."
    val augmented = when(id % 6 === 0,
        concat(col("text"), lit("\n" + five.replace(". ", ".\n"))))
      .when(id % 6 === 1,
        concat(col("text"), lit("\nvar x = {1};\n" + five.replace(". ", ".\n"))))
      .when(id % 6 === 2,
        concat(col("text"), lit("\nLorem Ipsum dolor sit amet.\n"
          + five.replace(". ", ".\n"))))
      .when(id % 6 === 3,
        concat(col("text"),
          lit("\nplease enable javascript to view this page.\n"
            + five.replace(". ", ".\n"))))
      .when(id % 6 === 4, concat(col("text"), lit("\nShort one.")))
      .otherwise(col("text"))
    TextOps.c4Clean(docs(s, dir), col("doc_id"), augmented)
      .withColumn("c4_md5", md5(col("text_c4").cast("binary")))
      .drop("text_c4")
      .orderBy(col("doc_id").asc).limit(200)
  }

  /** Exact budget mixing: 10 docs from src0, 7 from src1, up to 1000
    * from src2 (more than exists at sf0.01 — keeps the whole source),
    * zero from src3, every other source dropped. Same budgets at
    * every sf: growing the corpus swaps members in rank order only. */
  private def mixBudget(s: SparkSession, dir: String): DataFrame =
    TextOps.mixToBudget(docs(s, dir), col("doc_id"), col("source"),
        Map("src0" -> 10L, "src1" -> 7L, "src2" -> 1000L, "src3" -> 0L))
      .select(col("doc_id"), col("source"), col("mix_rank"))
      .orderBy(col("source").asc, col("mix_rank").asc).limit(500)

  /** Shared DSIR weight table (target = the curated src0-src4 split —
    * the same weak-supervision slice the quality classifier trains on;
    * raw = the rest of the corpus), trained once per data dir: at
    * cluster scale this is the persisted 4096-row weight table a
    * selection pass broadcasts, not a retrain per query. */
  private def dsirTargetPred = col("source")
    .isin("src0", "src1", "src2", "src3", "src4")
  private def dsirWeightsCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"dsirw:$dir", Policy.Compact) {
      // one-pass split trainer: the corpus is tokenized ONCE for both
      // slices (bit-identical to the two-frame path, spec-pinned)
      graft.text.Dsir.importanceWeightsSplit(
        spreadForBuild(s, dir, docs(s, dir)), col("text"),
        dsirTargetPred)
    }

  /** The 200 most target-indicative hashed-feature buckets of the DSIR
    * importance model (fixed-point log-likelihood ratios). */
  private def dsirWeights(s: SparkSession, dir: String): DataFrame =
    dsirWeightsCached(s, dir)
      .orderBy(col("lr_fp").desc, col("bucket").asc).limit(200)

  /** The weight table as the bucket-ordered array the inline scorer
    * rides (driver-value twin of the frame cache). */
  private def dsirWeightsArr(s: SparkSession, dir: String): Array[Long] =
    graft.SharedState.value(s"dsirwarr:$dir")(
      graft.text.Dsir.weightsArray(dsirWeightsCached(s, dir)))

  /** DSIR selection end to end: score the raw pool via the NARROW
    * inline scorer (weights as one array literal — no explode
    * shuffle; spec-pinned bit-equal to the join path), take the
    * deterministic top-100 resample. */
  private def dsirSample(s: SparkSession, dir: String): DataFrame =
    graft.text.Dsir.resampleTopN(
      graft.text.Dsir.scoreInline(docs(s, dir).filter(!dsirTargetPred),
        col("doc_id"), col("text"), dsirWeightsArr(s, dir)), 100)

  /** Selection-at-ingest: the first 200 raw-pool docs flow through
    * [[graft.text.Dsir.scoreStream]] (a stateless streaming scorer
    * under AvailableNow into parquet), so the oracle is the batch
    * score of the same rows — the q_embed_stream discipline for the
    * data-selection surface. */
  private def dsirStreamPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"dsirStreamRuns:$dir") {
      val work = graft.SharedState.tempDir("graft_dsir_stream")
      docs(s, dir).filter(!dsirTargetPred)
        .select(col("doc_id"), col("text"))
        .orderBy(col("doc_id").asc).limit(200)
        .coalesce(1)
        .write.parquet(s"$work/src")
      val schema = s.read.parquet(s"$work/src").schema
      graft.text.Dsir.scoreStream(s, s"$work/src", schema,
        "doc_id", "text", dsirWeightsArr(s, dir),
        s"$work/dst", s"$work/ckpt")
      s"$work/dst"
    }

  private def dsirStream(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dsirStreamPath(s, dir))
      .select(col("doc_id"), col("n_feats"), col("w_fp"))
      .orderBy(col("doc_id").asc)

  /** Temperature-based mixing by language (the one skewed stratum in
    * the corpus — sources are uniform): alpha = 0.5 via sqrt (the
    * bit-deterministic contract alpha), budget 120 docs apportioned by
    * integer largest remainder, kept by the blocked mix rank. */
  private def sourceTemperature(s: SparkSession, dir: String): DataFrame =
    TextOps.mixByTemperature(docs(s, dir), col("doc_id"), col("lang"),
        alpha = 0.5, total = 120L)
      .select(col("doc_id"), col("lang"), col("mix_rank"))
      .orderBy(col("lang").asc, col("mix_rank").asc).limit(500)

  /** Token-budget mixing: 600 tokens from src0 (cuts the source
    * mid-way at every sf), 120 from src1, 100k from src2 (keeps the
    * whole source at sf0.01), zero from src3; the straddling document
    * is kept (tok_prefix < budget characterizes the set). */
  private def mixTokens(s: SparkSession, dir: String): DataFrame =
    TextOps.mixToTokenBudget(docs(s, dir), col("doc_id"), col("source"),
        size(graft.functions.tokenize(col("text"))),
        Map("src0" -> 600L, "src1" -> 120L, "src2" -> 100000L,
          "src3" -> 0L))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("tok_prefix"), col("mix_rank"))
      .orderBy(col("source").asc, col("mix_rank").asc).limit(500)

  /** The DSIR×budget composition's scored pool, persisted ONCE per dir
    * as a NARROW lineage-cut boundary (doc_id, source, n_tokens, w_fp)
    * — [[TextOps.mixToTokenBudgetByScore]] makes TWO passes over its
    * input (thresholds, then the selection), and its scaladoc
    * prescribes a persisted scored frame at corpus scale; an
    * unpersisted frame re-ran the inline DSIR fold over the documents
    * scan per pass (VERDICT r13 "what's wrong" #1). The boundary also
    * pre-folds the token count, so BOTH expensive per-row transforms
    * (the weight fold and the tokenizer) run exactly once — the
    * steady-state mix reads a 4-column parquet leaf and the
    * documents parquet is never re-scanned (golden-plan pinned). */
  private def dsirMixScored(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"dsirmix:scored:$dir", Policy.Parquet)(
      graft.text.Dsir.withScoreInline(
          docs(s, dir).filter(!dsirTargetPred), col("text"),
          dsirWeightsArr(s, dir))
        .select(col("doc_id"), col("source"),
          size(graft.functions.tokenize(col("text"))).cast("long")
            .as("n_tokens"),
          col("w_fp")))

  /** DSIR × token-budget composition: the raw pool's importance scores
    * (inline scorer in ATTACH form, riding the shared weight table)
    * rank INSIDE the per-source token budgets — each source keeps its
    * TOP-importance documents until its budget exhausts, straddling
    * doc kept (overshoot ≤ 1). Budgets: src5 cuts mid-source at every
    * sf, src6 cuts early, src7 drops entirely. Rides the persisted
    * [[dsirMixScored]] boundary — the docstring-prescribed shape. */
  private def dsirMix(s: SparkSession, dir: String): DataFrame =
    TextOps.mixToTokenBudgetByScore(dsirMixScored(s, dir), col("doc_id"),
        col("source"), col("n_tokens"), col("w_fp"),
        Map("src5" -> 700L, "src6" -> 120L, "src7" -> 0L))
      .select(col("doc_id"), col("source"), col("w_fp"), col("n_tokens"),
        col("tok_prefix"), col("mix_rank"))
      .orderBy(col("source").asc, col("mix_rank").asc).limit(500)

  // ---- composed end-to-end pipeline (q_pipeline_e2e) ----

  private val pipeFive = ("One good line ends here. A second sentence " +
    "follows now. Then a third one lands. Afterwards a fourth arrives. " +
    "Finally a fifth closes.").replace(". ", ".\n")
  private val pipeStop =
    "It has to be that good, with the best of everything."
  private val pipeBomb = "Hash # marks # pepper # this # line # badly # " +
    "indeed # and # again # more # still # worse # yet # onward # ever # " +
    "deeper # down # low # high # wide # far # near # loud # soft # big # " +
    "small # old # new # last # end."
  private val pipeExtra =
    "An extra near duplicate sentence closes this copy."

  /** The pipeline corpus: every doc gets per-doc content + a gopher-
    * stopword sentence on line 1 and the five-sentence block (so the
    * clean stage has something to keep), then a branch by
    * srcId % 6 — 1: brace line (c4 doc-drop), 2: lorem line (c4
    * doc-drop), 3: symbol bomb that SURVIVES the line filter and fails
    * Gopher r_symbols — plus planted duplicates: doc_id % 9 == 4
    * renders doc_id-4's text verbatim (exact dup; the keeper is the
    * min id), % 9 == 5 renders doc_id-5's text plus one extra sentence
    * (near dup; the keeper is the BEST classifier score). The partner
    * ids are % 9 == 0/1 docs, so a 3-member mixed component
    * {d, d+4 exact, d+5 near} occurs whenever d % 9 == 0 ∧ branches
    * survive. */
  private def pipeAug(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val srcId = when(col("doc_id") % 9 === 4, col("doc_id") - 4)
      .when(col("doc_id") % 9 === 5, col("doc_id") - 5)
      .otherwise(col("doc_id"))
    d.select(col("doc_id"), col("source"), srcId.as("__sid"))
      .join(d.select(col("doc_id").as("__sid"), col("text").as("__base")),
        "__sid")
      .withColumn("__b", col("__sid") % 6)
      .select(col("doc_id"), col("source"),
        concat(col("__base"), lit(" " + pipeStop),
          when(col("__b") === 1, lit("\nvar x = {1};"))
            .when(col("__b") === 2, lit("\nLorem Ipsum dolor sit amet."))
            .when(col("__b") === 3, lit("\n" + pipeBomb))
            .otherwise(lit("")),
          lit("\n" + pipeFive),
          when(col("doc_id") % 9 === 5, lit("\n" + pipeExtra))
            .otherwise(lit(""))).as("text"))
  }

  /** The composed curation pipeline end-to-end as ONE contract row:
    * clean → Gopher gate → above-mean classifier gate → exact dedup →
    * quality-aware near-dup keeper → DSIR importance → per-source
    * token-budget mix ([[graft.operators.CurationPipeline]]), over the
    * planted pipeline corpus. Every stage is demonstrably active at
    * every scale (sf0.01 funnel: 500 → 388 → 242 → 120 → 109 → 98 →
    * 6 selected). Prepared artifacts (classifier weights, DSIR weight
    * array) ride the shared per-dir caches; stage boundaries are the
    * parquet runner's, built once per dir ([[pipelineStages]]), so the
    * documents scan is paid once. The oracle chains the per-stage CTE
    * chains verbatim. */
  private val pipelineBudgets =
    Map("src5" -> 800L, "src6" -> 400L, "src7" -> 200L, "src8" -> 0L)

  /** The contract pipeline with a caller-chosen materialization hook:
    * [[pipelineBoundariesRun]] passes its Runner's, and the parity
    * spec passes a plain persist to get a reference run of the SAME
    * stage graph over the same inputs. */
  private[graft] def pipelineStagesWith(s: SparkSession, dir: String,
      cache: (String, () => DataFrame) => DataFrame)
      : Seq[(String, DataFrame)] =
    graft.operators.CurationPipeline.stages(
      spreadForBuild(s, dir, pipeAug(s, dir)), col("doc_id"),
      col("source"), col("text"),
      qualityWeights(s, dir), dsirWeightsArr(s, dir), pipelineBudgets,
      cache = cache)

  /** Spread a CPU-heavy build source across the session's cores when
    * the corpus scan yields fewer partitions (guide §2.5: one big
    * unsplittable input file → repartition immediately after the
    * read). pipeAug's self-join BROADCASTS (the corpus side is small
    * relative to the join threshold), so the whole downstream stage
    * chain — regex cleaning, Gopher gates, classifier scoring,
    * shingling — inherited the SCAN's partition count: one task on a
    * single-row-group corpus file (measured: 2.2 s and 1.8 s
    * single-task jobs inside the pipeline build at sf0.1). The probe
    * reads the raw docs scan's partitioning (driver-only, no job); at
    * real scale the scan already carries ≥ cores partitions and this
    * is a no-op, so nothing here is tuned to local mode. */
  private def spreadForBuild(s: SparkSession, dir: String,
      df: DataFrame): DataFrame = {
    val cores = s.sparkContext.defaultParallelism
    if (docs(s, dir).rdd.getNumPartitions >= cores) df
    else df.repartition(cores)
  }

  /** The contract pipeline's stage frames: one run of
    * [[pipelineBoundariesRun]] per dir, memoized. Each frame is a bare
    * parquet leaf over the files q_pipeline_boundaries validates;
    * consumers read them without re-checking the fingerprints. */
  private[graft] def pipelineStages(s: SparkSession,
      dir: String): Seq[(String, DataFrame)] =
    graft.SharedState.value(s"pipestages:$dir")(
      pipelineBoundariesRun(s, dir)._1)

  /** The contract pipeline's runner — stage boundaries become
    * fingerprint-guarded parquet artifacts under one root
    * ([[graft.operators.PipelineBoundaries]]): valid boundaries
    * survive JVM restarts and an invalidated one recomputes itself
    * plus everything downstream, never the untouched prefix. The seed
    * folds the documents parquet's listing stamp with the pipeline
    * parameters. */
  private[graft] def pipelineBoundariesRun(s: SparkSession, dir: String,
      root: Option[String] = None): (Seq[(String, DataFrame)],
        Seq[graft.operators.PipelineBoundaries.StageReport]) = {
    val seed = graft.operators.PipelineBoundaries.seedOf(s,
      Seq(s"$dir/documents.parquet"),
      // v bumps on any stage-LOGIC change (data and params alone
      // can't see a code change): v=2 = the selection became the
      // seventh chained boundary
      "curation;budgets=src5:800,src6:400,src7:200,src8:0;jt=0.6;v=2")
    val runner = new graft.operators.PipelineBoundaries.Runner(s,
      root.getOrElse(pipelineBoundariesRoot(dir)), seed)
    // the hook resolves each boundary as the graph is built: the
    // reports are complete once the stages return
    (pipelineStagesWith(s, dir, runner.cache), runner.reports)
  }

  /** Contract rows use a PER-PROCESS artifact root — stable within
    * one JVM, never shared between concurrent JVMs (a shared /tmp root
    * let a bench, a test suite and a ScaleGate interleave commits and
    * made gate timings depend on leftovers). Cross-JVM RESUME is
    * exercised with an EXPLICIT `root`. The root is a registry-owned
    * dir: deleted by [[graft.SharedState]]'s clear and at JVM exit. */
  private[graft] def pipelineBoundariesRoot(dir: String): String =
    graft.SharedState.value(s"pipebounds:$dir") {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString
        .take(12)
      graft.SharedState.tempDir(s"graft_pipebounds_${h}_")
    }

  /** The parquet-runner contract row. Steady state does what a
    * resumed cluster job does: validate the seven fingerprints
    * (driver-side listings, milliseconds) and read the SELECTION
    * boundary as one bare parquet leaf. No memo here by design:
    * q_pipeline_e2e reads the same boundaries through the
    * [[pipelineStages]] memo. */
  private def pipelineBoundariesQ(s: SparkSession, dir: String): DataFrame =
    pipelineBoundariesRun(s, dir)._1.last._2
      .orderBy(col("source").asc, col("mix_rank").asc).limit(500)

  // ---- streaming composed pipeline (q_pipeline_stream) ----

  private val pipeExtra2 =
    "Another trailing sentence marks this arrival revision."

  /** The ingest drop for the streaming door: one arrival per corpus
    * doc with doc_id % 7 == 2 (re-id'd +1e9, disjoint from the
    * corpus), rendering the batch pipeline corpus' OWN augmented text
    * ([[pipeAug]]) under an effective id `eid`, so every door stage
    * fires with guaranteed plants at every scale:
    *  - doc_id % 5 == 0 → `eid = doc_id + 7`: the arrival renders the
    *    NEXT arrival's full text verbatim — an intra-batch exact dup
    *    (min-id keeper);
    *  - else eid % 4 == 1 → the pipeline doc's text plus one appended
    *    revision sentence — a NEAR dup of its kept twin whenever the
    *    twin's text survived the batch funnel;
    *  - else → the pipeline doc's text verbatim — an EXACT dup
    *    against the kept corpus whenever the twin's text survived,
    *    and a genuinely-new survivor otherwise (e.g. when the twin
    *    was a pipeAug copy-renderer that never showed its own base);
    *  - pipeAug's own % 6 branch casualties exercise the c4/gopher
    *    gates on the arrival side too. */
  private[graft] def pipeArrivals(s: SparkSession, dir: String): DataFrame = {
    val eff = docs(s, dir).filter(col("doc_id") % 7 === 2)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 5 === 0, col("doc_id") + 7)
          .otherwise(col("doc_id")).as("__eid"))
    eff.join(pipeAug(s, dir).select(col("doc_id").as("__eid"),
        col("text").as("__atext")), "__eid")
      .select((col("doc_id") + 1000000000L).as("doc_id"), col("source"),
        concat(col("__atext"),
          when(col("__eid") % 4 === 1, lit("\n" + pipeExtra2))
            .otherwise(lit(""))).as("text"))
  }

  /** The door's prepared corpus-side artifacts as PERSISTED,
    * fingerprint-guarded parquet/blob artifacts
    * ([[graft.operators.PipelineBoundaries.Derived]]) hanging off the
    * batch pipeline's resolved ndk chain — the hash table + bloom for
    * the exact check, the signature + hashed-shingle tables for the
    * near-dup check, the DSIR weight array for scoring. Because each
    * artifact's fingerprint is seeded by ndk's RESOLVED chain, a
    * corpus rebuild (moved ndk stamp) invalidates them all, while a
    * restarted ingest job whose corpus is untouched serves every one
    * from disk and recomputes NOTHING before its first micro-batch
    * (the reference daemon's stored-job-spec restart discipline,
    * lantern_extras/src/daemon.rs:149-171; IngestPipelineSpec pins the
    * zero-recompute restart). Returns the corpus plus the
    * per-artifact resolution reports (boundaries ++ derived). */
  private[graft] def doorArtifacts(s: SparkSession, dir: String,
      root: Option[String] = None)
      : (graft.streaming.IngestPipeline.PreparedCorpus,
        Seq[graft.operators.PipelineBoundaries.StageReport]) = {
    val theRoot = root.getOrElse(pipelineBoundariesRoot(dir))
    val (stages, reports) = pipelineBoundariesRun(s, dir, Some(theRoot))
    val st = stages.toMap
    val ndk = st("ndk")
    val ndkChain = reports.find(_.stage == "ndk").get.resolved
    val d = new graft.operators.PipelineBoundaries.Derived(s,
      s"$theRoot/door", ndkChain)
    val hashes = d.table("hash")(() =>
      ndk.select(md5(col("text_c4").cast("binary")).as("content_hash")))
    val sigs = d.table("sig")(() =>
      Dedup.signatures(Dedup.shingled(ndk, col("doc_id"),
        col("text_c4")), 8))
    val shh = d.table("shh")(() =>
      st("sh").join(ndk.select(col("doc_id")), Seq("doc_id"), "left_semi"))
    // the bloom derives from the hash ARTIFACT (narrow one-column
    // build, serialized once; consumers broadcast the deserialized
    // sketch) and the weight array from the shared DSIR trainer —
    // both ride the same fingerprint chain as the tables
    val bloomPath = d.blob("bloom") { out =>
      hashes.stat.bloomFilter("content_hash",
        math.max(hashes.count(), 1L), 0.01).writeTo(out)
    }
    val bloom = {
      val in = d.open(bloomPath)
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    }
    val wPath = d.blob("dsirw") { out =>
      val dos = new java.io.DataOutputStream(out)
      val arr = dsirWeightsArr(s, dir)
      dos.writeInt(arr.length); arr.foreach(dos.writeLong); dos.flush()
    }
    val weights = {
      val in = new java.io.DataInputStream(d.open(wPath))
      try Array.fill(in.readInt())(in.readLong()) finally in.close()
    }
    (graft.streaming.IngestPipeline.PreparedCorpus(hashes, bloom, shh,
      sigs, weights), reports ++ d.reports)
  }

  /** The door corpus the contract rows use — the artifact-backed
    * [[doorArtifacts]] (every table a bare parquet leaf, the bloom
    * and weights deserialized from their blobs), memoized per dir. */
  private[graft] def pipeStreamCorpus(s: SparkSession, dir: String)
      : graft.streaming.IngestPipeline.PreparedCorpus =
    graft.SharedState.value(s"door:corpus:$dir")(
      doorArtifacts(s, dir)._1)

  /** The DERIVED twin of [[doorArtifacts]] — the same corpus
    * artifacts computed directly off the ndk boundary with no
    * persistence of their own (what the door did before the
    * artifacts moved onto the fingerprint chain). Kept for the
    * artifact-served == derived parity spec. */
  private[graft] def pipeStreamCorpusDerived(s: SparkSession, dir: String)
      : graft.streaming.IngestPipeline.PreparedCorpus = {
    val st = pipelineStages(s, dir).toMap
    val ndk = st("ndk")
    val hashes =
      ndk.select(md5(col("text_c4").cast("binary")).as("content_hash"))
    val bloom = hashes.stat.bloomFilter("content_hash",
      math.max(hashes.count(), 1L), 0.01)
    val sigs = Dedup.signatures(
      Dedup.shingled(ndk, col("doc_id"), col("text_c4")), 8)
    val shh =
      st("sh").join(ndk.select(col("doc_id")), Seq("doc_id"), "left_semi")
    graft.streaming.IngestPipeline.PreparedCorpus(hashes, bloom, shh,
      sigs, dsirWeightsArr(s, dir))
  }

  /** The ingest drop materialized ONCE per dir as a parquet leaf —
    * the stream job's source directory AND the frame every other
    * door consumer (the gen-2 refresh's half-drops) reads, so the
    * arrival-derivation lineage (a docs-filter × pipeAug join) runs
    * exactly once across the stream/absorb/refresh prepare chain. */
  private[graft] def pipeArrivalsPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"pipeArrivalsDirs:$dir") {
      val work = graft.SharedState.tempDir("graft_pipe_arrivals")
      // ONE file -> one AvailableNow micro-batch: an ingest drop is one
      // batch by contract (the intra-batch keeper's unit)
      pipeArrivals(s, dir).coalesce(1).write.parquet(s"$work/src")
      s"$work/src"
    }

  private[graft] def pipelineStreamPath(s: SparkSession, dir: String): String =
    graft.SharedState.value(s"pipelineStreamRuns:$dir") {
      val work = graft.SharedState.tempDir("graft_pipe_stream")
      val src = pipeArrivalsPath(s, dir)
      val schema = s.read.parquet(src).schema
      graft.streaming.IngestPipeline.run(s, src, schema,
        "doc_id", "source", "text", pipeStreamCorpus(s, dir),
        s"$work/dst", s"$work/ckpt")
      s"$work/dst"
    }

  private def pipelineStream(s: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestPipeline.readSink(s, pipelineStreamPath(s, dir))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("w_fp"))
      .orderBy(col("doc_id").asc).limit(500)

  // ---- corpus refresh cycle (q_pipeline_absorb, q_door_guard) ----

  /** The frozen corpus' kept rows scored for the mix — ndk under the
    * inline DSIR fold + the tokenizer, the exact input shape the
    * `selected` boundary consumed; persisted once per dir (two mix
    * passes read it). */
  private def ndkScored(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"absorb:ndkscored:$dir", Policy.Parquet)(
      graft.text.Dsir.withScoreInline(
          pipelineStages(s, dir).toMap.apply("ndk"), col("text_c4"),
          dsirWeightsArr(s, dir))
        .select(col("doc_id"), col("source"),
          size(graft.functions.tokenize(col("text_c4"))).cast("long")
            .as("n_tokens"),
          col("w_fp")))

  /** The ingest drop's door survivors WITH cleaned text (the absorb
    * step extends the corpus artifacts from it) — read straight off
    * the streaming door's SINK (which keeps the cleaned text exactly
    * so the refresh can absorb it): the stream run already curated
    * this drop against the same frozen corpus, and stream == batch
    * row-for-row is IngestPipelineSpec-pinned, so re-running the
    * whole door in backfill form here would recompute an identical
    * frame. The sink is already a parquet leaf — no registry frame
    * needed. */
  private def absorbDropKept(s: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestPipeline.readSink(s, pipelineStreamPath(s, dir))
      .select(col("doc_id"), col("source"), col("text_c4"),
        col("n_tokens"), col("w_fp"))

  /** One absorbed corpus version per dir: the drop's survivors merged
    * into the kept set and the door artifacts extended append-only
    * ([[graft.operators.CorpusRefresh.absorb]] — the
    * consolidate_bm25_table pattern applied to the pipeline). */
  private def absorbRefreshed(s: SparkSession, dir: String)
      : graft.operators.CorpusRefresh.Refreshed =
    graft.SharedState.value(s"absorb:refreshed:$dir")(
      graft.operators.CorpusRefresh.absorb(pipeStreamCorpus(s, dir),
        ndkScored(s, dir), absorbDropKept(s, dir)))

  /** The corpus-refresh contract row: the refreshed selection — the
    * importance-ranked per-source token-budget mix re-run over the
    * merged kept set (frozen corpus ∪ drop survivors). The oracle
    * unions the batch chain's scored ndk rows with the door chain's
    * scored survivors and replays the same window; AbsorbSpec pins
    * the artifact side (extend == rebuild-from-scratch) at two
    * scales. */
  private def pipelineAbsorb(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusRefresh.refreshMix(absorbRefreshed(s, dir),
        pipelineBudgets)
      .select(col("doc_id"), col("source"), col("w_fp"), col("n_tokens"),
        col("tok_prefix"), col("mix_rank"))
      .orderBy(col("source").asc, col("mix_rank").asc).limit(500)

  /** TWO refresh generations composed (the operational loop's next
    * turn): the even half-drop curates against the frozen corpus and
    * is absorbed; the odd half-drop curates against the REFRESHED
    * artifacts — catching the cross-drop duplicates the frozen corpus
    * could not see — and is absorbed in turn. Cached per dir: the
    * half-drop survivor frames are parquet leaves (they carry full
    * text and feed three artifact extensions + the mix), the
    * Refreshed value memoizes the absorb chain. */
  private def refresh2(s: SparkSession, dir: String)
      : graft.operators.CorpusRefresh.Refreshed =
    graft.SharedState.value(s"absorb:refresh2:$dir") {
      val corpus0 = pipeStreamCorpus(s, dir)
      // the materialized arrivals leaf, not the derivation lineage —
      // the stream build already wrote it
      val arrivals = s.read.parquet(pipeArrivalsPath(s, dir))
      def door(half: DataFrame,
          c: graft.streaming.IngestPipeline.PreparedCorpus,
          key: String): DataFrame =
        graft.SharedState.frame(s"absorb:$key:$dir", Policy.Parquet)(
          graft.streaming.IngestPipeline.curateBatchKept(half,
            col("doc_id"), col("source"), col("text"), c))
      val kept1 = door(arrivals.filter(col("doc_id") % 2 === 0), corpus0,
        "keptg1")
      val r1 = graft.operators.CorpusRefresh.absorb(corpus0,
        ndkScored(s, dir), kept1)
      val kept2 = door(arrivals.filter(col("doc_id") % 2 === 1), r1.corpus,
        "keptg2")
      graft.operators.CorpusRefresh.absorb(r1.corpus, r1.kept, kept2)
    }

  /** The gen-2 refresh contract row: the selection over the
    * twice-refreshed kept set (frozen corpus ∪ drop-1 survivors ∪
    * drop-2 survivors curated against the refreshed corpus) — the
    * q_pipeline_absorb shape one loop turn later. The oracle replays
    * both half-drops through the parameterized door chain, extending
    * the corpus-side hash/signature/shingle CTEs between them. */
  private def pipelineRefresh(s: SparkSession, dir: String): DataFrame =
    graft.operators.CorpusRefresh.refreshMix(refresh2(s, dir),
        pipelineBudgets)
      .select(col("doc_id"), col("source"), col("w_fp"), col("n_tokens"),
        col("tok_prefix"), col("mix_rank"))
      .orderBy(col("source").asc, col("mix_rank").asc).limit(500)

  /** The door-side mega-bucket guard's no-fire invariant as an
    * oracle-checked row (the q_classify_recall self-check discipline,
    * hardened: the bucket POPULATION is replayed in DuckDB, not just
    * a boolean): guard telemetry over exactly the prepared-corpus
    * band buckets the incremental candidate join uses. n_capped and
    * pairs_dropped are pinned to literal zero by the oracle — the
    * guard firing at contract scale is a gate failure, not a silent
    * recall trade (at the century the guard firing is the designed
    * behavior, so these counters are read there, not gated). */
  private def doorGuard(s: SparkSession, dir: String): DataFrame = {
    val (banded, keys) =
      Dedup.bandedOf(pipeStreamCorpus(s, dir).signatures, 8, 4)
    Dedup.bucketGuardStats(banded, keys)
      .select(col("n_buckets"), col("max_bucket"), col("n_capped"),
        col("pairs_dropped"))
  }

  /** Shared DuckDB oracle for the composed pipeline rows
    * (q_pipeline_e2e and q_pipeline_boundaries — the memoized read and
    * the validated re-read of one set of boundaries, one result): the
    * per-stage CTE chains with AS MATERIALIZED on every reused
    * boundary. */
  private def sqlLines(block: String): String =
    block.split("\n").map(l => s"'$l'").mkString(" || chr(10) || ")

  /** The composed pipeline's per-stage CTE chain up to the
    * kept-corpus boundary (ndk) — shared by the batch rows' oracle
    * (q_pipeline_e2e / q_pipeline_boundaries) and the streaming
    * door's (q_pipeline_stream, whose prior corpus IS ndk). */
  private lazy val pipelineChainCtes: String =
    s"""rbtok AS (
         |  SELECT doc_id, ('0x' || substr(md5(unnest(t)), 1, 15))::BIGINT % 4096 AS bucket
         |  FROM toks),
         |qcounts AS (
         |  SELECT bucket,
         |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN tgt THEN 0 ELSE 1 END) AS BIGINT) AS cn
         |  FROM rbtok JOIN lab USING (doc_id) GROUP BY bucket),
         |qw AS MATERIALIZED (
         |  SELECT bucket, (cp + 1) * 1000000 // (cp + cn + 2) AS weight
         |  FROM qcounts),
         |paug AS (
         |  SELECT d.doc_id, d.source,
         |    s.text || ' ' || '$pipeStop'
         |    || CASE (CASE WHEN d.doc_id % 9 = 4 THEN d.doc_id - 4
         |                  WHEN d.doc_id % 9 = 5 THEN d.doc_id - 5
         |                  ELSE d.doc_id END) % 6
         |       WHEN 1 THEN chr(10) || 'var x = {1};'
         |       WHEN 2 THEN chr(10) || 'Lorem Ipsum dolor sit amet.'
         |       WHEN 3 THEN chr(10) || '$pipeBomb'
         |       ELSE '' END
         |    || chr(10) || ${sqlLines(pipeFive)}
         |    || CASE WHEN d.doc_id % 9 = 5 THEN chr(10) || '$pipeExtra'
         |       ELSE '' END AS t
         |  FROM documents d
         |  JOIN documents s ON s.doc_id =
         |    CASE WHEN d.doc_id % 9 = 4 THEN d.doc_id - 4
         |         WHEN d.doc_id % 9 = 5 THEN d.doc_id - 5
         |         ELSE d.doc_id END),
         |c4ln AS (SELECT doc_id, source, t,
         |  list_filter(string_split(t, chr(10)), l -> l <> '') AS lines
         |  FROM paug),
         |c4kp AS (SELECT doc_id, source, t,
         |  coalesce(array_to_string(
         |    list_filter(lines, l -> regexp_matches(trim(l), '[.!?]["'']?$$')
         |      AND len(list_filter(string_split_regex(trim(l), '[ \\t]+'), w -> w <> '')) >= 3
         |      AND NOT contains(lower(l), 'javascript')), chr(10)), '') AS text_c4
         |  FROM c4ln),
         |c4 AS MATERIALIZED (
         |  SELECT doc_id, source, text_c4
         |  FROM c4kp
         |  WHERE NOT contains(t, '{') AND NOT contains(lower(t), 'lorem ipsum')
         |    AND len(regexp_extract_all(text_c4, '[.!?]')) >= 5),
         |gtok AS (SELECT doc_id, source, text_c4,
         |  list_filter(string_split_regex(lower(text_c4), '[^a-z0-9]+'), x -> x <> '') AS w,
         |  list_filter(string_split(text_c4, chr(10)), l -> l <> '') AS ls
         |  FROM c4),
         |gm AS (SELECT doc_id, source, text_c4, w,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS DOUBLE) / greatest(len(w), 1) AS mean_len,
         |  CAST(len(regexp_extract_all(text_c4, '#')) + len(regexp_extract_all(text_c4, '\\.\\.\\.')) + len(regexp_extract_all(text_c4, '…')) AS DOUBLE) / greatest(len(w), 1) AS sym,
         |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / greatest(len(w), 1) AS alpha,
         |  CAST(len(list_filter(list_distinct(w), x -> x IN ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'))) AS INT) AS stop_hits,
         |  CAST(len(list_filter(ls, l -> regexp_matches(l, '^[ \\t]*[-*] '))) AS DOUBLE) / greatest(len(ls), 1) AS bullet,
         |  CAST(len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t]*$$'))) AS DOUBLE) / greatest(len(ls), 1) AS ellipsis
         |  FROM gtok),
         |gok AS MATERIALIZED (
         |  SELECT doc_id, source, text_c4, w FROM gm
         |  WHERE n_words >= 50 AND n_words <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
         |    AND sym <= 0.1 AND alpha >= 0.8 AND stop_hits >= 2 AND bullet <= 0.9 AND ellipsis <= 0.3),
         |cbtok AS (
         |  SELECT doc_id, ('0x' || substr(md5(unnest(w)), 1, 15))::BIGINT % 4096 AS bucket
         |  FROM gok),
         |cagg AS (
         |  SELECT doc_id, CAST(sum(weight) AS BIGINT) AS w_sum,
         |    CAST(count(*) AS BIGINT) AS n_scored
         |  FROM cbtok JOIN qw USING (bucket) GROUP BY doc_id),
         |qsc AS MATERIALIZED (
         |  SELECT g.doc_id, g.source, g.text_c4, g.w,
         |    COALESCE(c.w_sum, 0) // greatest(COALESCE(c.n_scored, 0), 1) AS score_fp
         |  FROM gok g LEFT JOIN cagg c USING (doc_id)),
         |clsmean AS (SELECT sum(score_fp) / CAST(count(*) AS DOUBLE) AS m FROM qsc),
         |cls AS MATERIALIZED (
         |  SELECT qsc.* FROM qsc, clsmean WHERE score_fp > m),
         |exd AS MATERIALIZED (
         |  SELECT doc_id, source, text_c4, w, score_fp FROM (
         |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text_c4)) AS __keep
         |    FROM cls)
         |  WHERE doc_id = __keep),
         |sh AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
         |    j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2])) AS s
         |  FROM exd WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, list_transform(s, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs FROM sh),
         |hsh AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_distinct(list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS h
         |  FROM sh),
         |sig AS (SELECT doc_id, ${sigSql(8)} AS sig FROM hs),
         |banded AS (SELECT doc_id, b, sig[2*b+1] AS k1, sig[2*b+2] AS k2
         |  FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         |prs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.b = b.b AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id),
         |jac AS (
         |  SELECT doc_a, doc_b FROM prs
         |  JOIN hsh sa ON sa.doc_id = prs.doc_a
         |  JOIN hsh sb ON sb.doc_id = prs.doc_b
         |  WHERE round(CAST(len(list_intersect(sa.h, sb.h)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_concat(sa.h, sb.h))) AS DOUBLE), 6) >= 0.6),
         |edges AS (SELECT doc_a AS s, doc_b AS d FROM jac
         |  UNION SELECT doc_b AS s, doc_a AS d FROM jac),
         |verts AS (SELECT DISTINCT s AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM verts
         |  UNION
         |  SELECT e.d AS id, reach.r AS r FROM reach JOIN edges e ON e.s = reach.id),
         |comps AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
         |ranked AS (
         |  SELECT c.doc_id,
         |    row_number() OVER (PARTITION BY c.component
         |      ORDER BY e.score_fp DESC, c.doc_id ASC) AS rn
         |  FROM comps c JOIN exd e USING (doc_id)),
         |ndk AS MATERIALIZED (
         |  SELECT e.* FROM exd e
         |  LEFT JOIN ranked r USING (doc_id)
         |  WHERE r.doc_id IS NULL OR r.rn = 1)""".stripMargin

  /** ndk's DSIR score + token count rows (the batch selection's
    * input) — shared by the batch selection oracle and the absorb
    * oracle's corpus side. */
  private lazy val ndkScoreCtes: String =
    s"""cfeat AS (
         |  SELECT doc_id, unnest(w || list_transform(
         |    range(greatest(len(w) - 1, 0)), i -> w[i + 1] || ' ' || w[i + 2])) AS f
         |  FROM ndk),
         |cfb AS (SELECT doc_id, ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS bucket FROM cfeat),
         |dsc AS (SELECT cfb.doc_id, CAST(sum(lr_fp) AS BIGINT) AS w_fp
         |  FROM cfb JOIN wt USING (bucket) GROUP BY 1),
         |dall AS (
         |  SELECT n.doc_id, n.source, n.score_fp, coalesce(d.w_fp, 0) AS w_fp,
         |    CAST(len(n.w) AS BIGINT) AS n_tokens
         |  FROM ndk n LEFT JOIN dsc d USING (doc_id))""".stripMargin

  // NOTE: the chain is interpolated OUTSIDE any stripMargin — its
  // content has already been margin-stripped once, and a second pass
  // would eat the leading `|` of any `|| CASE`-style continuation line
  private lazy val pipelineOracleSql: String =
    s"WITH RECURSIVE $dsirCtes,\n$pipelineChainCtes,\n$ndkScoreCtes,\n" +
    s"""pr AS (SELECT *, md5(CAST(doc_id AS VARCHAR) || ':graft') AS rk FROM dall),
         |cwin AS (SELECT doc_id, source, score_fp, w_fp, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY w_fp DESC, rk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_prefix,
         |    row_number() OVER (PARTITION BY source ORDER BY w_fp DESC, rk, doc_id) AS mr
         |  FROM pr),
         |bgt(source, budget) AS (VALUES ('src5', 800), ('src6', 400),
         |  ('src7', 200), ('src8', 0))
         |SELECT doc_id, cwin.source AS source, score_fp, w_fp, n_tokens,
         |  tok_prefix, CAST(mr AS BIGINT) AS mix_rank
         |FROM cwin JOIN bgt ON cwin.source = bgt.source
         |WHERE tok_prefix < budget
         |ORDER BY cwin.source ASC, mix_rank ASC LIMIT 500""".stripMargin

  /** The door's CORPUS-side artifact CTEs: the kept set's content
    * hashes (the exact check's table), its minhash signatures in
    * banded form (the near-dup candidate join's side) and its 60-bit
    * hashed shingles (the verify join's side) — exactly the three
    * tables [[graft.operators.CorpusRefresh.absorb]] extends. */
  private lazy val doorCorpusCtes: String =
    s"""ndkh AS (SELECT DISTINCT md5(text_c4) AS h FROM ndk),
         |sigk AS (SELECT g.* FROM sig g JOIN ndk USING (doc_id)),
         |hshk AS MATERIALIZED (SELECT g.* FROM hsh g JOIN ndk USING (doc_id)),
         |bandedk AS (SELECT doc_id, b, sig[2*b+1] AS k1, sig[2*b+2] AS k2
         |  FROM sigk, (SELECT unnest(range(0, 4)) AS b))""".stripMargin

  /** One ingest drop replayed through the door — clean → gate →
    * intra-batch keeper → exact-vs-corpus → banded near-dup-vs-corpus
    * (verify on 60-bit hashed shingles) → the inline DSIR fold —
    * PARAMETERIZED by the drop slice (`pred` over the arrival's
    * original doc_id) and by the corpus artifacts it curates against
    * (`hashCte` with column h, `bandedCte`/`hshCte` in the
    * doorCorpusCtes shapes): the gen-2 refresh row replays the SAME
    * chain against the extended artifacts. Ends at surv$$sfx (the
    * door's survivors) and dsc$$sfx (their DSIR scores). */
  private def doorDropCtes(sfx: String, pred: String, hashCte: String,
      bandedCte: String, hshCte: String): String =
    s"""arre$sfx AS (
         |  SELECT doc_id, source,
         |    CASE WHEN doc_id % 5 = 0 THEN doc_id + 7 ELSE doc_id END AS eid
         |  FROM documents WHERE doc_id % 7 = 2$pred),
         |arr$sfx AS (
         |  SELECT a.doc_id + 1000000000 AS doc_id, a.source,
         |    p.t || CASE WHEN a.eid % 4 = 1 THEN chr(10) || '$pipeExtra2'
         |           ELSE '' END AS t
         |  FROM arre$sfx a JOIN paug p ON p.doc_id = a.eid),
         |c4ln$sfx AS (SELECT doc_id, source, t,
         |  list_filter(string_split(t, chr(10)), l -> l <> '') AS lines
         |  FROM arr$sfx),
         |c4kp$sfx AS (SELECT doc_id, source, t,
         |  coalesce(array_to_string(
         |    list_filter(lines, l -> regexp_matches(trim(l), '[.!?]["'']?$$')
         |      AND len(list_filter(string_split_regex(trim(l), '[ \\t]+'), w -> w <> '')) >= 3
         |      AND NOT contains(lower(l), 'javascript')), chr(10)), '') AS text_c4
         |  FROM c4ln$sfx),
         |c4$sfx AS MATERIALIZED (
         |  SELECT doc_id, source, text_c4
         |  FROM c4kp$sfx
         |  WHERE NOT contains(t, '{') AND NOT contains(lower(t), 'lorem ipsum')
         |    AND len(regexp_extract_all(text_c4, '[.!?]')) >= 5),
         |gtok$sfx AS (SELECT doc_id, source, text_c4,
         |  list_filter(string_split_regex(lower(text_c4), '[^a-z0-9]+'), x -> x <> '') AS w,
         |  list_filter(string_split(text_c4, chr(10)), l -> l <> '') AS ls
         |  FROM c4$sfx),
         |gm$sfx AS (SELECT doc_id, source, text_c4, w,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS DOUBLE) / greatest(len(w), 1) AS mean_len,
         |  CAST(len(regexp_extract_all(text_c4, '#')) + len(regexp_extract_all(text_c4, '\\.\\.\\.')) + len(regexp_extract_all(text_c4, '…')) AS DOUBLE) / greatest(len(w), 1) AS sym,
         |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / greatest(len(w), 1) AS alpha,
         |  CAST(len(list_filter(list_distinct(w), x -> x IN ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'))) AS INT) AS stop_hits,
         |  CAST(len(list_filter(ls, l -> regexp_matches(l, '^[ \\t]*[-*] '))) AS DOUBLE) / greatest(len(ls), 1) AS bullet,
         |  CAST(len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t]*$$'))) AS DOUBLE) / greatest(len(ls), 1) AS ellipsis
         |  FROM gtok$sfx),
         |gok$sfx AS MATERIALIZED (
         |  SELECT doc_id, source, text_c4, w FROM gm$sfx
         |  WHERE n_words >= 50 AND n_words <= 100000 AND mean_len >= 3.0 AND mean_len <= 10.0
         |    AND sym <= 0.1 AND alpha >= 0.8 AND stop_hits >= 2 AND bullet <= 0.9 AND ellipsis <= 0.3),
         |exd$sfx AS MATERIALIZED (
         |  SELECT doc_id, source, text_c4, w FROM (
         |    SELECT *, min(doc_id) OVER (PARTITION BY md5(text_c4)) AS __keep
         |    FROM gok$sfx)
         |  WHERE doc_id = __keep),
         |incx$sfx AS MATERIALIZED (
         |  SELECT e.* FROM exd$sfx e
         |  WHERE md5(e.text_c4) NOT IN (SELECT h FROM $hashCte)),
         |sh$sfx AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(list_transform(range(1, len(w) - 1),
         |    j -> w[j] || ' ' || w[j+1] || ' ' || w[j+2])) AS s
         |  FROM incx$sfx WHERE len(w) >= 3),
         |hs$sfx AS (SELECT doc_id, list_transform(s, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs FROM sh$sfx),
         |hsh$sfx AS MATERIALIZED (
         |  SELECT doc_id,
         |    list_distinct(list_transform(s, x -> ('0x' || substr(md5(x), 1, 15))::BIGINT)) AS h
         |  FROM sh$sfx),
         |sig$sfx AS (SELECT doc_id, ${sigSql(8)} AS sig FROM hs$sfx),
         |banded$sfx AS (SELECT doc_id, b, sig[2*b+1] AS k1, sig[2*b+2] AS k2
         |  FROM sig$sfx, (SELECT unnest(range(0, 4)) AS b)),
         |cand$sfx AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded$sfx a JOIN $bandedCte b
         |    ON a.b = b.b AND a.k1 = b.k1 AND a.k2 = b.k2),
         |flag$sfx AS (
         |  SELECT DISTINCT doc_a AS doc_id FROM cand$sfx
         |  JOIN hsh$sfx sa ON sa.doc_id = cand$sfx.doc_a
         |  JOIN $hshCte sb ON sb.doc_id = cand$sfx.doc_b
         |  WHERE round(CAST(len(list_intersect(sa.h, sb.h)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_concat(sa.h, sb.h))) AS DOUBLE), 6) >= 0.6),
         |surv$sfx AS MATERIALIZED (
         |  SELECT i.* FROM incx$sfx i
         |  WHERE i.doc_id NOT IN (SELECT doc_id FROM flag$sfx)),
         |cfeat$sfx AS (
         |  SELECT doc_id, unnest(w || list_transform(
         |    range(greatest(len(w) - 1, 0)), i -> w[i + 1] || ' ' || w[i + 2])) AS f
         |  FROM surv$sfx),
         |cfb$sfx AS (SELECT doc_id, ('0x' || substr(md5(f), 1, 15))::BIGINT % 4096 AS bucket FROM cfeat$sfx),
         |dsc$sfx AS (SELECT cfb$sfx.doc_id, CAST(sum(lr_fp) AS BIGINT) AS w_fp
         |  FROM cfb$sfx JOIN wt USING (bucket) GROUP BY 1)""".stripMargin

  /** The streaming door's oracle chain — the full arrival drop
    * against the frozen corpus (gen-1). Shared by q_pipeline_stream,
    * q_pipeline_absorb and q_door_guard (whose bucket counts ride
    * bandedk). */
  private lazy val doorChainCtes: String =
    doorCorpusCtes + ",\n" + doorDropCtes("2", "", "ndkh", "bandedk", "hshk")

  /** The TWO-GENERATION refresh chain (q_pipeline_refresh): the even
    * half-drop curates against the frozen corpus, its survivors
    * extend the corpus artifacts exactly as
    * [[graft.operators.CorpusRefresh.absorb]] does (hash union,
    * banded-signature union, hashed-shingle union), and the odd
    * half-drop curates against the EXTENDED artifacts — so a gen-2
    * arrival duplicating a gen-1 survivor is caught where the frozen
    * corpus could not catch it (pipeArrivals' d / d+7 exact plants
    * split across the parity halves by construction). */
  private lazy val refreshChainCtes: String =
    doorCorpusCtes + ",\n" +
    doorDropCtes("d1", " AND doc_id % 2 = 0", "ndkh", "bandedk", "hshk") +
    ",\n" +
    s"""hashg2 AS (SELECT h FROM ndkh
         |  UNION SELECT DISTINCT md5(text_c4) AS h FROM survd1),
         |bandedg2 AS (SELECT * FROM bandedk UNION ALL
         |  SELECT b.* FROM bandedd1 b JOIN survd1 s ON s.doc_id = b.doc_id),
         |hshg2 AS (SELECT * FROM hshk UNION ALL
         |  SELECT h.* FROM hshd1 h JOIN survd1 s ON s.doc_id = h.doc_id)""".stripMargin +
    ",\n" +
    doorDropCtes("d2", " AND doc_id % 2 = 1", "hashg2", "bandedg2", "hshg2")

  private def pipelineE2e(s: SparkSession, dir: String): DataFrame =
    // the selection is itself a materialized stage boundary (the
    // memoized `selected` parquet leaf) — no extra wrapper
    pipelineStages(s, dir).last._2
      .orderBy(col("source").asc, col("mix_rank").asc).limit(500)

  /** Unicode canonicalization over per-doc_id synthesized decomposed /
    * precomposed sequences (the corpus text itself is ASCII, so the
    * interesting codepoints are planted the same way textClean plants
    * PII): %4==0 gets combining-acute sequences (NFC composes them),
    * %4==1 combining ring/diaeresis, %4==2 already-precomposed accents
    * (pins idempotence), %4==3 untouched ASCII. */
  private def unicodeNorm(s: SparkSession, dir: String): DataFrame = {
    val aug = when(col("doc_id") % 4 === 0,
        concat(col("text"), lit(" cafe\u0301 resume\u0301")))
      .when(col("doc_id") % 4 === 1,
        concat(col("text"), lit(" A\u030Angstro\u0308m")))
      .when(col("doc_id") % 4 === 2,
        concat(col("text"), lit(" caf\u00e9 d\u00e9j\u00e0")))
      .otherwise(col("text"))
    val norm = graft.functions.unicode_normalize(aug)
    docs(s, dir).select(col("doc_id"),
        length(aug).cast("long").as("n_raw"),
        length(norm).cast("long").as("n_norm"),
        md5(norm.cast("binary")).as("norm_md5"))
      .orderBy(col("doc_id").asc).limit(200)
  }

  /** Overlapping 32/24 token-window chunking (embedding fan-out). */
  private def chunkDocsQ(s: SparkSession, dir: String): DataFrame =
    TextOps.chunkDocs(docs(s, dir), col("doc_id"), col("text"), 32, 24)
      .select(col("doc_id"), col("chunk_id"), col("n_tokens"),
        md5(col("chunk_text").cast("binary")).as("chunk_md5"))
      .orderBy(col("doc_id").asc, col("chunk_id").asc).limit(500)

  /** Incremental dedup of the %7!=0 slice against the %7==0 "prior
    * corpus" slice (bloom-routed, exact via anti-join). The corpus has
    * no exact duplicate texts, so cross-slice dups are planted the
    * textClean way: every %5==0 doc's text collapses to one of three
    * boilerplate variants, which occur in both slices. */
  private def dedupIncremental(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).withColumn("text",
      when(col("doc_id") % 5 === 0,
        concat(lit("boilerplate notice "), (col("doc_id") % 3).cast("string")))
        .otherwise(col("text")))
    Dedup.incrementalDedup(
        d.filter(col("doc_id") % 7 =!= 0), d.filter(col("doc_id") % 7 === 0),
        col("doc_id"), col("text"), col("text"))
      .orderBy(col("doc_id").asc).limit(300)
  }

  /** The winnowing fingerprint table over the augmented corpus,
    * persisted once per dir and shared by q_winnow and q_winnow_pairs
    * (warmed in [[prepare]] — at cluster scale THE stored fingerprint
    * table, like the MinHash signature tables; the positional md5
    * pass over every gram is a one-time artifact cost, never a
    * steady-state query cost). */
  private def winnowCached(s: SparkSession, dir: String): DataFrame =
    // Compact, not Persist: spreadForBuild widens the BUILD to the
    // session's cores (the one-time md5 pass wants them), but the cache
    // must not inherit that width — q_winnow's steady probes paid a
    // 32-task dispatch per stage over near-empty partitions (the exact
    // leak measured and reverted on the BM25 tokenized caches in r18)
    graft.SharedState.frame(s"winnow:$dir", Policy.Compact)(
      TextOps.winnow(spreadForBuild(s, dir, docs(s, dir)), col("doc_id"),
        winnowAug, k = 5, w = 4))

  /** Winnowing fingerprints (MOSS): 5-gram hashes, window 4, rightmost
    * min per window, consecutive picks collapsed. */
  private def winnowQ(s: SparkSession, dir: String): DataFrame =
    winnowCached(s, dir)
      .orderBy(col("doc_id").asc, col("fp_pos").asc).limit(500)

  /** The three planted 20-token runs for q_winnow_pairs (20 tokens =
    * 16 grams at k=5 — winnowing's expected pick density 2/(w+1)
    * yields ~6 distinct fingerprints per run, comfortably over the
    * minShared=2 verification bar; the picks depend only on the run
    * TEXT, so the planted sharing is identical at every sf). */
  private val winnowRuns = Seq(
    "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon",
    "zero one two three four five six seven eight nine " +
      "ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen",
    "red orange yellow green blue indigo violet cyan magenta teal " +
      "maroon olive navy coral amber jade ruby pearl onyx quartz")

  /** The bounded planted duplication both winnow rows read: docs with
    * doc_id < 30 get one of three shared 20-token runs appended
    * (group = doc_id % 3, ≤ 10 docs each, so the planted pair count
    * is CONSTANT in sf). */
  private def winnowAug: org.apache.spark.sql.Column =
    when(col("doc_id") < 30,
      concat(col("text"), lit(" "),
        when(col("doc_id") % 3 === 0, lit(winnowRuns(0)))
          .when(col("doc_id") % 3 === 1, lit(winnowRuns(1)))
          .otherwise(lit(winnowRuns(2)))))
      .otherwise(col("text"))

  /** Verified winnow pairs, persisted once per dir (the pairs table a
    * dedup pipeline materializes from the fingerprint table). */
  private def winnowPairsCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"winnowpairs:$dir", Policy.Compact)(
      Dedup.winnowPairs(winnowCached(s, dir), minShared = 2))

  /** The shared winnow-oracle CTE chain (augmentation → tokens →
    * 5-gram hashes → positional winnowing picks → distinct
    * fingerprints → candidate bucket join → per-doc fingerprint
    * sets), used by both q_winnow_pairs and q_winnow_groups so the
    * two oracles can never drift. */
  private lazy val winnowOracleChain: String = {
    val runsCase = s"""CASE doc_id % 3
       |      WHEN 0 THEN '${winnowRuns(0)}'
       |      WHEN 1 THEN '${winnowRuns(1)}'
       |      ELSE '${winnowRuns(2)}' END""".stripMargin
    s"""aug AS (
       |  SELECT doc_id, CASE WHEN doc_id < 30
       |    THEN text || ' ' || $runsCase
       |    ELSE text END AS text
       |  FROM documents),
       |toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
       |  FROM aug),
       |hs AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= 5 THEN
       |      list_transform(range(len(t) - 4),
       |        i -> ('0x' || substr(md5(array_to_string(t[(i+1):(i+5)], ' ')), 1, 7))::BIGINT)
       |    ELSE [] END AS h
       |  FROM toks),
       |p AS (
       |  SELECT doc_id,
       |    CASE WHEN len(h) >= 4 THEN
       |      list_distinct(list_transform(range(len(h) - 3),
       |        j -> (j + len(h[(j+1):(j+4)])
       |            - list_position(list_reverse(h[(j+1):(j+4)]),
       |                            list_min(h[(j+1):(j+4)]))) * 268435456
       |          + list_min(h[(j+1):(j+4)])))
       |    WHEN len(h) > 0 THEN
       |      [(len(h) - list_position(list_reverse(h), list_min(h))) * 268435456
       |        + list_min(h)]
       |    ELSE [] END AS fps
       |  FROM hs),
       |fp AS MATERIALIZED (
       |  SELECT DISTINCT doc_id, enc % 268435456 AS fh
       |  FROM (SELECT doc_id, unnest(fps) AS enc FROM p)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM fp a JOIN fp b ON a.fh = b.fh AND a.doc_id < b.doc_id),
       |fs AS (SELECT doc_id, list(DISTINCT fh) AS s FROM fp GROUP BY doc_id)""".stripMargin
  }

  /** Winnowing near-dup pairs: pairs must share ≥ 2 distinct
    * fingerprints, which random 28-bit collisions essentially never
    * produce. */
  private def winnowPairsQ(s: SparkSession, dir: String): DataFrame =
    winnowPairsCached(s, dir)
      .orderBy(col("doc_a").asc, col("doc_b").asc).limit(300)

  /** Winnow dedup end-to-end (r11 punch #4): the MOSS machinery
    * composed into the keeper-selection contract shape the MinHash
    * family has (q_neardup_groups) — verified winnow pairs →
    * connected components (component = min reachable doc id) → the
    * keeper flag keepOnePerGroup selects on (doc_id == component).
    * Rides the SAME prepared fingerprint-pair artifact as
    * q_winnow_pairs, so the steady-state cost is the CC solve over a
    * bounded pair graph (planted 3 runs of ≤10 docs + the organic
    * shared-fingerprint tail), not a re-winnow of the corpus. */
  private def winnowGroups(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(winnowPairsCached(s, dir))
      .withColumn("keeper", col("doc_id") === col("component"))
      .orderBy(col("doc_id").asc)

  /** Snapshot diff between the corpus and a deterministically mutated
    * "next crawl": docs with id % 11 == 0 are dropped (removed), the
    * survivors with id % 7 == 0 get edited text (changed), and each
    * id % 13 == 0 doc reappears under id + 10000000 (added). */
  private def snapshotDiffQ(s: SparkSession, dir: String): DataFrame = {
    val before = docs(s, dir)
    val after = before.filter(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text")).as("text"))
      .unionByName(before.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
    Dedup.snapshotDiff(before, col("doc_id"), col("text"),
        after, col("doc_id"), col("text"))
      .orderBy(col("doc_id").asc).limit(400)
  }

  /** The corpus' exact distinct-term count, derived ONCE per dir from
    * the materialized postings cache (one row per (term, doc) — its
    * distinct terms ARE the vocabulary) and reused by every adaptive
    * dispatch that needs it: the tfidf HLL probe re-tokenized the
    * whole corpus per PROBE where this is a one-time aggregate over
    * the already-cached postings (the Percentiles knownRows
    * discipline). Warmed in [[prepare]]. */
  private def vocabCountCached(s: SparkSession, dir: String): Long =
    graft.SharedState.value(s"vocab:$dir")(
      postCached(s, dir).select(col("term")).distinct().count())

  /** The corpus' exact doc count, cached per dir (metadata-cheap, but
    * a job per probe is still a job — the embCountCached twin). */
  private def docCountCached(s: SparkSession, dir: String): Long =
    graft.SharedState.value(s"doccount:$dir")(docs(s, dir).count())

  /** Top-3 TF-IDF keywords per document (BM25 idf, 6dp-rounded score
    * ranked with term tie-break). Doc and vocabulary counts ride the
    * per-dir cached stats, so the steady probe runs NO dispatch jobs
    * (knownTerms routes the broadcast arm probe-free; both arms are
    * row-identical, so the routing can never change results). */
  private def tfidfKeywords(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidfKeywords(docs(s, dir), col("doc_id"), col("text"), k = 3,
        docCount = docCountCached(s, dir),
        knownTerms = vocabCountCached(s, dir))
      .orderBy(col("doc_id").asc, col("rank").asc).limit(600)

  private def textClean(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id").cast("string")
    val augmented = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" contact u"), id, lit("@example.com and u"),
          id, lit("b@ex.org now")))
      .when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(" see https://ex.com/p/"), id,
          lit(" or http://u@ex.com/q ok")))
      .otherwise(col("text"))
    TextOps.cleanText(docs(s, dir), col("doc_id"), augmented)
      .orderBy(col("doc_id").asc).limit(200)
  }

  /** Concat-and-chunk sequence packing into 128-token training
    * sequences; blockSize 64 exercises the multi-block prefix-sum path
    * (500 docs -> 8 blocks at sf0.01, 79 at sf0.1). */
  private def packSequences(s: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(docs(s, dir), col("doc_id"), col("text"),
        seqLen = 128, blockSize = 64)
      .orderBy(col("doc_id").asc).limit(200)

  /** Materialized 128-token training sequences; the oracle pins every
    * sequence's exact reassembled text via its md5. */
  private def packedTexts(s: SparkSession, dir: String): DataFrame =
    TextOps.packedTexts(docs(s, dir), col("doc_id"), col("text"),
        seqLen = 128, blockSize = 64)
      .select(col("seq_id"), col("n_tokens"),
        md5(col("seq_text").cast("binary")).as("seq_md5"))
      .orderBy(col("seq_id").asc).limit(200)

  private def dedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(docs(s, dir), col("doc_id"), col("text"))
      .orderBy(col("dup_count").desc, col("content_hash").asc)
      .limit(50)

  /** Shingled docs and 8-hash MinHash signatures, written ONCE per data
    * dir as tables BUCKETED (and bucket-sorted) BY doc_id and shared by
    * q_minhash / q_lsh_pairs / q_jaccard_pairs / q_neardup_groups.
    * Bucketing pays the doc_id shuffle at write time: every later
    * equi-join against these frames on doc_id (jaccardVerify joins the
    * shingle table twice per pair batch, estimateJaccard the signature
    * table twice) plans with NO Exchange on the corpus-sized side —
    * at 100 TB the pairs frame shuffles, the corpus never re-does
    * (DedupBucketingSpec pins the plan shape). The in-memory persist on
    * top keeps the hot path off disk at bench scale; the bucket spec
    * survives it (InMemoryTableScan forwards the scan's partitioning). */
  private def bucketDb(dir: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map(b => f"$b%02x").mkString
    s"graft_dedup_$h"
  }
  private def bucketLoc(dir: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_buckets/${bucketDb(dir)}"

  private def bucketedCached(s: SparkSession, dir: String, table: String)
      (build: => DataFrame): DataFrame =
    graft.SharedState.frame(s"$table:$dir", Policy.Persist) {
      // the table's bucket METADATA lives in the (in-memory) session
      // catalog, so every fresh session rebuilds — and must first clear
      // both the catalog entry and any files a PREVIOUS JVM left at the
      // managed location (CREATE refuses an existing location with
      // LOCATION_ALREADY_EXISTS; the driver's Verify-then-Bench
      // sequence hits exactly that)
      s.sql(s"DROP TABLE IF EXISTS `${bucketDb(dir)}`.`$table`")
      val stale = new org.apache.hadoop.fs.Path(bucketLoc(dir), table)
      stale.getFileSystem(s.sessionState.newHadoopConf())
        .delete(stale, true)
      Bucketing.writeBucketed(build, bucketDb(dir), table, "doc_id",
        buckets = 8, sortCols = Seq("doc_id"), location = Some(bucketLoc(dir)))
      Bucketing.readBucketed(s, bucketDb(dir), table)
    }

  private def shingledCached(s: SparkSession, dir: String): DataFrame =
    bucketedCached(s, dir, "shingled")(
      Dedup.shingled(spreadForBuild(s, dir, docs(s, dir)),
        col("doc_id"), col("text")))

  private def sigCached(s: SparkSession, dir: String): DataFrame =
    bucketedCached(s, dir, "minhash8")(
      Dedup.signatures(shingledCached(s, dir), numHashes = 8))

  private def minhash(s: SparkSession, dir: String): DataFrame =
    sigCached(s, dir)
      .select(col("doc_id"),
        concat_ws(",", (0 until 4).map(i => element_at(col("sig"), i + 1)): _*)
          .as("signature"))
      .orderBy(col("doc_id").asc).limit(100)

  /** Banded LSH candidate pairs, persisted once per dir and shared by
    * every verifier that reads them (estimate / Jaccard / containment)
    * — at cluster scale the stored candidate table a dedup pipeline
    * writes once and verifies many ways. */
  private def lshCandidatesCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"lshcands:$dir", Policy.Compact)(
      Dedup.lshCandidatePairs(sigCached(s, dir), 8, 4))

  private def lshPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.estimateJaccard(lshCandidatesCached(s, dir), sigCached(s, dir), 8)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Jaccard-verified LSH candidate pairs, persisted once per dir and
    * shared by q_jaccard_pairs and q_neardup_groups. */
  private def jaccardPairsCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"jacpairs:$dir", Policy.Compact)(
      Dedup.jaccardVerify(shingledCached(s, dir),
        lshCandidatesCached(s, dir)))

  private def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    jaccardPairsCached(s, dir)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Containment-verified LSH candidates (Broder's one-sided
    * coefficient, both directions per pair) — flags the quote-
    * inclusion/subset duplication a Jaccard threshold under-scores;
    * same bounded candidate frame and doc_id-bucketed shingle joins
    * as q_jaccard_pairs. */
  private def containmentPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentVerify(shingledCached(s, dir),
        lshCandidatesCached(s, dir))
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  /** Near-duplicate clusters: LSH candidates verified by exact Jaccard
    * (>= 0.6) become edges; connected components assign every clustered
    * doc its group key (min reachable doc_id) — the "keep one doc per
    * near-dup group" shape of a dedup pipeline. */
  private def nearDupGroups(s: SparkSession, dir: String): DataFrame =
    Dedup.connectedComponents(
        jaccardPairsCached(s, dir).filter(col("jaccard") >= 0.6))
      .orderBy(col("doc_id").asc)

  /** Quality-aware keeper selection over the same verified clusters:
    * every component member annotated with its fixed-point classifier
    * score and a keeper flag on the component's argmax (ties → lowest
    * id) — the keep-the-BEST-member dedup policy, riding the shared
    * pair cache and the shared classifier weights. */
  private def dedupBest(s: SparkSession, dir: String): DataFrame =
    Dedup.bestPerGroup(
        jaccardPairsCached(s, dir).filter(col("jaccard") >= 0.6),
        // the shared per-dir scored boundary — the SAME scoreFixedPoint
        // frame (same weights, same integer expression; the inline call
        // re-tokenized and re-scored the whole corpus per probe where
        // the quality family reads the materialized boundary)
        qualityScored(s, dir),
        col("doc_id"), col("score_fp"))
      .select(col("doc_id"), col("component"),
        col("score").cast("long").as("score_fp"), col("keeper"))
      .orderBy(col("doc_id").asc)

  /** Incremental NEAR-dup at the ingest door: the corpus splits on
    * doc_id % 7 (the q_dedup_incremental split) into an ingest batch
    * vs the existing corpus, and each ingest doc's text is replaced
    * by a lightly-mutated copy of its (existing-side) neighbor
    * doc_id + 1 — so every ingest doc must flag its neighbor at
    * high Jaccard through the banded MinHash machinery. */
  private def incrementalNearDupQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val neigh = d.select((col("doc_id") - 1).as("doc_id"),
      col("text").as("__nt"))
    val aug = d.join(neigh, Seq("doc_id"), "left")
      .withColumn("__text",
        when(col("doc_id") % 7 === 0 && col("__nt").isNotNull,
          concat(col("__nt"), lit(" appended ingest mutation tail")))
          .otherwise(col("text")))
    val newSh = Dedup.shingled(aug.filter(col("doc_id") % 7 === 0),
      col("doc_id"), col("__text"))
    // the existing side's text is untouched by the augmentation, so
    // its shingle AND signature tables ARE the prepared corpus
    // artifacts — ride both shared caches (the operator's own
    // at-scale story: an ingest job reads the corpus's prepared
    // tables — the signature table for banding, the shingle table
    // for verify — and never re-shingles OR re-minhashes 6/7 of the
    // corpus per batch; the per-batch signature recompute was most
    // of this row's 23 s century cost before r13)
    val oldSh = shingledCached(s, dir).filter(col("doc_id") % 7 =!= 0)
    val oldSig = sigCached(s, dir).filter(col("doc_id") % 7 =!= 0)
    Dedup.incrementalNearDup(newSh, oldSh, oldSig,
        numHashes = 8, bands = 4, threshold = 0.6,
        maxBucket = 10000, skewMult = 16.0)
      .orderBy(col("doc_id").asc, col("dup_of").asc).limit(500)
  }

  /** Line-level dedup over 8-token pseudo-lines: lines occurring in
    * more than one document are removed, docs reassembled; the clean
    * text is hash-compared so the oracle checks the reassembly
    * byte-for-byte, not just the counts. */
  private def lineDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.lineDedup(docs(s, dir), col("doc_id"), col("text"), chunk = 8)
      .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
        md5(col("text_clean").cast("binary")).as("clean_hash"))
      .orderBy(col("doc_id").asc).limit(200)

  /** Exact-substring dedup (Lee et al. 2022 ExactSubstr): tokens
    * covered by any corpus-wide duplicated 13-token run are removed,
    * the survivors reassembled — the clean text is hash-compared so
    * the oracle checks the cut byte-for-byte, not just the counts. */
  private def substringDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(docs(s, dir), col("doc_id"), col("text"), k = 13)
      .select(col("doc_id"), col("n_tokens"), col("n_removed"),
        md5(col("text_clean").cast("binary")).as("clean_hash"))
      .orderBy(col("doc_id").asc).limit(200)

  /** 64-bit SimHash signatures, persisted once per dir (warmed in
    * [[prepare]] — at cluster scale a stored signature table, like the
    * MinHash ones). */
  private def simhash64Cached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"simhash64:$dir", Policy.Persist)(
      Dedup.simhash64Of(shingledCached(s, dir)))

  /** 64-bit shingle-SimHash near-dup pairs: banded hamming-ball
    * candidates verified by exact distance (reuses the bucketed
    * shingle frame). */
  /** SimHash near-dup pairs in the SCALE-ADAPTIVE banding config
    * (comboBlocks = -1): single-band 4×16-bit keys below
    * graft.simhash.comboMinDocs (default 1M), Manku 6-choose-3
    * BLOCK-COMBINATION keys (20 keys of 32-33 bits per doc) above.
    * The ladder history is the whole argument for BOTH arms: the
    * ham<=6 / 8-band-of-8-bit config collapsed at sf1 (2048 buckets
    * total, ~33x time for 10x docs); its 4x16-bit successor held
    * through sf30 but at sf100 (5M docs) the fixed 65536-bucket band
    * space put ~76 docs in every band value — ~1.5e9 RANDOM candidate
    * pairs and >55 GB of candidate shuffle (two disk-filled runs) —
    * while an UNCONDITIONAL combo config tripled the small-corpus
    * wall (r18: 1.6 → 4.3 s at sf0.1, 5× the key rows for buckets
    * nowhere near flooding). The doc count resolves job-free from the
    * persisted signature cache's rowCount stats; the verified pair
    * output is banding-independent (both modes pigeonhole-complete,
    * both exact-verified), so the oracle's own 4x16 replay matches
    * row for row on either arm. */
  /** SimHash banded candidate pairs, persisted once per dir — the
    * SimHash twin of lshCandidatesCached (the minhash family already
    * stored ITS candidate table; per-probe recompute here was the
    * banded explode + skew-guard stats + self-join + distinct chain
    * every call). The adaptive-arm choice (comboBlocks = -1) is keyed
    * on the corpus size, which is fixed per dir, so the cached
    * candidate set is exactly what the uncached call computed. */
  private def simhashCandsCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"simhashcands:$dir", Policy.Parquet)(
      Dedup.simhashCandidates(simhash64Cached(s, dir), maxHamming = 3,
        bands = 4, comboBlocks = -1))

  private def simhashPairsQ(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashVerify(simhash64Cached(s, dir),
        simhashCandsCached(s, dir), maxHamming = 3)
      .orderBy(col("doc_a").asc, col("doc_b").asc)

  private def simhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash16(docs(s, dir), col("doc_id"), col("text"))
      .orderBy(col("doc_id").asc).limit(200)

  /** Bloom filters where the reference uses them: per-term posting-list
    * blooms in the BM25 side table (bm25_api.sql:33-45). Every inserted
    * doc id must probe true (bloom no-false-negative invariant), which
    * the oracle can assert as literal truth; the false-positive side is
    * pinned by BloomSpec. */
  private def bloomMembers(s: SparkSession, dir: String): DataFrame =
    Bm25.createBm25TableOf(tokCached(s, dir),
        postings = Some(postCached(s, dir)))
      .filter(col("term").isNotNull) // the stats row has no postings
      .orderBy(col("term_freq").desc, col("term").asc)
      .limit(50)
      .withColumn("bloom", graft.functions.array_to_bloom(col("doc_ids")))
      .select(col("term"),
        graft.functions.elem_in_bloom(element_at(col("doc_ids"), 1), col("bloom"))
          .as("first_in"),
        graft.functions.elem_in_bloom(element_at(col("doc_ids"), -1), col("bloom"))
          .as("last_in"),
        size(filter(col("doc_ids"),
          x => graft.functions.elem_in_bloom(x, col("bloom"))))
          .===(size(col("doc_ids"))).as("all_in"))
      .orderBy(col("term").asc)

  /** Multimodal plumbing over an opaque binary payload (the text bytes
    * stand in for image/audio/video blobs — the corpus is pure ASCII so
    * the DuckDB oracle can reproduce every byte-level value): size,
    * content hash, histogram bins, and frame-sample chunk hashes. */
  private def mediaStats(s: SparkSession, dir: String): DataFrame = {
    val bin = col("text").cast("binary")
    docs(s, dir)
      .select(col("doc_id"),
        length(bin).as("n_bytes"),
        md5(bin).as("media_md5"),
        round(element_at(graft.functions.byte_histogram(bin, 16), 3), 6)
          .as("hist_space"), // bin 2: bytes 32-47 (space/punct)
        round(element_at(graft.functions.byte_histogram(bin, 16), 7), 6)
          .as("hist_low"), // bin 6: bytes 96-111 (a-o)
        element_at(graft.functions.frame_sample_hashes(bin, 3), 1).as("frame0"),
        element_at(graft.functions.frame_sample_hashes(bin, 3), 3).as("frame2"))
      .orderBy(col("doc_id").asc).limit(200)
  }

  /** Synthesized PNG corpus, one deterministic gradient image per doc
    * (written once per data dir): pixel (x, y) of doc d has
    * r = (d + x) % 256, g = (3d + 5y) % 256, b = 7d % 256 — every
    * channel mean is a closed-form function of doc_id the oracle can
    * compute in SQL, and PNG is lossless so decode recovers the exact
    * values. */
  /** Shared memoized builder for the synthesized binary corpora: one
    * deterministic payload per doc_id, written once per (kind, data
    * dir) as (doc_id, colName) parquet in a temp dir. */
  private def synthTablePath(s: SparkSession, dir: String, kind: String,
      colName: String)(encode: Long => Array[Byte]): String =
    graft.SharedState.value(s"synthTables:$kind:$dir") {
      val p = graft.SharedState.tempDir(s"graft_$kind")
      import s.implicits._
      docs(s, dir).select(col("doc_id")).orderBy(col("doc_id")).limit(200)
        .as[Long]
        .mapPartitions(_.map(d => (d, encode(d))))
        .toDF("doc_id", colName)
        .write.mode("overwrite").parquet(s"$p/$kind")
      s"$p/$kind"
    }

  private val (imgW, imgH) = (16, 8)
  private def mediaTablePath(s: SparkSession, dir: String): String =
    synthTablePath(s, dir, "media", "img") { d =>
      org.apache.spark.sql.graft.MediaKernels.encodePng(
        imgW, imgH, (x, y) =>
          ((((d + x) % 256).toInt) << 16) |
            ((((3 * d + 5 * y) % 256).toInt) << 8) |
            ((7 * d) % 256).toInt)
    }

  /** Real pixel decode end-to-end: scan the PNG corpus, decode every
    * payload with the JDK ImageIO reader (decode_image_stats), emit
    * per-channel means the oracle recomputes from doc_id in closed
    * form. A surrogate (hash/histogram) could not produce these values
    * — only an actual decode can. */
  private def mediaDecode(s: SparkSession, dir: String): DataFrame = {
    val st = graft.functions.decode_image_stats(col("img"))
    s.read.parquet(mediaTablePath(s, dir))
      .select(col("doc_id"),
        st.getField("width").as("w"),
        st.getField("height").as("h"),
        round(st.getField("mean_r"), 6).as("mean_r"),
        round(st.getField("mean_g"), 6).as("mean_g"),
        round(st.getField("mean_b"), 6).as("mean_b"))
      .orderBy(col("doc_id").asc)
  }

  /** Resize end-to-end: decode + nearest-neighbor thumbW x thumbH
    * thumbnail of the gradient PNGs. The NN grid samples source pixels
    * at strides imgW/thumbW and imgH/thumbH, so the thumbnail channel
    * means stay closed-form in doc_id. */
  private val (thumbW, thumbH) = (4, 2)
  private def mediaResize(s: SparkSession, dir: String): DataFrame = {
    val st = graft.functions.resample_image_stats(col("img"), thumbW, thumbH)
    s.read.parquet(mediaTablePath(s, dir))
      .select(col("doc_id"),
        st.getField("width").as("w"),
        st.getField("height").as("h"),
        round(st.getField("mean_r"), 6).as("mean_r"),
        round(st.getField("mean_g"), 6).as("mean_g"),
        round(st.getField("mean_b"), 6).as("mean_b"))
      .orderBy(col("doc_id").asc)
  }

  /** Perceptual image hash end-to-end: decode every gradient PNG and
    * emit its 64-bit dHash (9x8 nearest-neighbor grayscale grid,
    * horizontal gradient sign bits, hex) — the image near-dup key, fed
    * by the SAME real decode as q_media_decode. The oracle recomputes
    * all 64 bits from doc_id in closed form: gray(x, y) =
    * ((d + sx) % 256 + (3d + 5y) % 256 + 7d % 256) div 3 with
    * sx = (x * imgW) div 9 — bit-exact nibble-hex replay. */
  private def mediaPhash(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(mediaTablePath(s, dir))
      .select(col("doc_id"),
        graft.functions.image_dhash(col("img")).as("dhash"))
      .orderBy(col("doc_id").asc)

  /** Synthesized image corpus for the CROSS-MODAL near-dup row: one
    * pseudo-random grayscale PNG per doc, with PLANTED near-identicals
    * — doc d (d%5==0, d<100) renders doc d+100's image with pixel
    * (0,0) bumped +1 mod 256, a one-pixel perturbation a near-dup
    * pass must group and an exact-dup pass must miss.
    *
    * Pixel value = top byte of a TWO-ROUND multiply/xor-shift mix of
    * the seed d*128 + y*16 + x (engine-replayable integer
    * arithmetic). One multiplicative round is NOT enough: (d*128+k)*A
    * is affine in the cell index with a doc-independent slope, so
    * every doc's raw vector is the same staircase at a per-doc phase
    * and top-byte differences are constant-except-carries — centered
    * cosines land near 1 for ALL pairs (measured; the spec's spurious
    * pairs). The xor-shift round breaks the affine structure: worst
    * distinct-pair |cos| is 0.49 over the 200-doc corpus while
    * planted pairs sit at 0.999999. */
  private def imgSemPix(src: Long, x: Int, y: Int): Int = {
    val h1 = ((src * 128 + y * 16 + x) * 2654435761L) & 0xffffffffL
    ((((h1 ^ (h1 >>> 16)) * 2246822519L) & 0xffffffffL) >>> 24).toInt
  }
  private def imgSemTablePath(s: SparkSession, dir: String): String =
    synthTablePath(s, dir, "imgsem", "img") { d =>
      val planted = d % 5 == 0 && d < 100
      val src = if (planted) d + 100 else d
      org.apache.spark.sql.graft.MediaKernels.encodePng(imgW, imgH, (x, y) => {
        val v0 = imgSemPix(src, x, y)
        val v = if (planted && x == 0 && y == 0) (v0 + 1) % 256 else v0
        (v << 16) | (v << 8) | v
      })
    }

  /** Cross-modal (image) SemDeDup composition end-to-end: decode the
    * PNG corpus, embed each image with the deterministic mock visual
    * encoder (`image_embed` — real decode, mean-centered 8x8 grayscale
    * thumbnail as the vector; the reference's registry precedent is
    * clip-ViT-B-32-visual, ort_runtime.rs:284-298), then run the
    * embedding near-dup machinery UNCHANGED over the image vectors:
    * 4x16-bit hyperplane LSH banding + exact-cosine verify at rounded
    * dist <= 0.2. The 20 planted one-pixel near-identical pairs
    * (d, d+100) group; unrelated pseudo-random images verify apart.
    * The oracle replays the whole path from the closed-form pixel
    * formula — embedding, band keys, candidates, verify. */
  /** Decoded image embeddings, persisted once per dir: the un-cached
    * row re-ran the PNG decode + 8x8 pooled embed over the whole image
    * table THREE times per probe (candidate pass + both verify joins)
    * — at cluster scale embeddings are a stored table a dedup pass
    * reads, not a per-query re-embed (the mockEmbCached discipline). */
  private def imgEmbCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"imgemb:$dir", Policy.Parquet)(
      s.read.parquet(imgSemTablePath(s, dir))
        .select(col("doc_id"),
          graft.functions.image_embed(col("img"), 8, 8).as("embedding")))

  /** Image-embedding LSH candidate pairs, persisted once per dir —
    * the image-side twin of the embedding family's candidate caches
    * (per-probe recompute was a ~20-stage AQE chain of 1-task jobs:
    * signature + banding + skew-guard stats + self-join + distinct,
    * pure stage-dispatch latency on the contract corpus and redundant
    * work at any scale once the candidate table is stored). */
  private def imgCandsCached(s: SparkSession, dir: String): DataFrame =
    graft.SharedState.frame(s"imgcands:$dir", Policy.Parquet)(
      graft.dedup.Dedup.hyperplanePairs(imgEmbCached(s, dir),
        col("doc_id"), col("embedding"), VectorQueries.hyperplanes,
        bands = 4, bitsPerBand = 16))

  private def imageSemDedup(s: SparkSession, dir: String): DataFrame = {
    // both sides join ONE broadcast of the embeddings leaf (reused)
    val emb = broadcast(imgEmbCached(s, dir))
    imgCandsCached(s, dir)
      .join(emb.as("a"), col("doc_a") === col("a.doc_id"))
      .join(emb.as("b"), col("doc_b") === col("b.doc_id"))
      .withColumn("dist", round(graft.functions.cos_dist(
        col("a.embedding"), col("b.embedding")), 6))
      .filter(col("dist") <= 0.2)
      .select(col("doc_a"), col("doc_b"), col("dist"))
      .orderBy(col("doc_a").asc, col("doc_b").asc).limit(500)
  }

  /** Synthesized PCM16 WAV corpus, one deterministic mono square-ish
    * wave per doc: 64 frames at 8000 Hz alternating +a1, -a2 with
    * a1 = 1000 + d % 500 and a2 = d % 499 — so peak = a1 (a1 >= 1000 >
    * 498 >= a2) and rms = sqrt((a1^2 + a2^2) / 2), both closed-form in
    * doc_id. The encoder writes a LIST chunk between `fmt ` and `data`,
    * so only a real chunk-walking parser decodes these. */
  private def wavTablePath(s: SparkSession, dir: String): String =
    synthTablePath(s, dir, "wav", "wav") { d =>
      val a1 = (1000 + d % 500).toShort
      val a2 = (-(d % 499)).toShort
      val samples = Array.tabulate[Short](64)(i =>
        if (i % 2 == 0) a1 else a2)
      org.apache.spark.sql.graft.MediaKernels.encodeWav(8000, 1, samples)
    }

  /** Real audio container decode end-to-end: RIFF chunk walk + PCM16
    * data-chunk stats, oracle-recomputed from doc_id in closed form. */
  private def mediaWav(s: SparkSession, dir: String): DataFrame = {
    val m = graft.functions.wav_meta(col("wav"))
    s.read.parquet(wavTablePath(s, dir))
      .select(col("doc_id"),
        m.getField("channels").as("channels"),
        m.getField("sample_rate").as("sample_rate"),
        m.getField("bits").as("bits"),
        m.getField("n_samples").as("n_samples"),
        m.getField("peak").as("peak"),
        round(m.getField("rms"), 6).as("rms"))
      .orderBy(col("doc_id").asc)
  }

  /** Synthesized MP4 corpus: one minimal-but-grammar-correct ISO-BMFF
    * file per doc. Even docs: mvhd version 0, timescale 600, moov
    * before mdat; odd docs: mvhd version 1 (64-bit times), timescale
    * 90000, moov AFTER mdat (the non-faststart layout). Every file
    * carries a `free` box to skip and an mdat in the LARGESIZE form,
    * so only a real box walker parses the corpus. duration ticks =
    * 600 + d % 9999, video track (160 + d%32*8) x (90 + d%18*8).
    * The video track's sample table holds 24 + d % 48 samples: even
    * docs in stsz's UNIFORM form (every sample 500 + d % 250 bytes),
    * odd docs in the per-sample TABLE form (sample i is
    * 500 + (d + i) % 250 bytes) — both physical stsz layouts are in
    * the corpus, and stts is always two run-length entries. */
  private def mp4TablePath(s: SparkSession, dir: String): String =
    synthTablePath(s, dir, "mp4", "mp4") { d =>
      val v = (d % 2).toInt
      val n = (24 + d % 48).toInt
      val sizes =
        if (v == 0) Seq.fill(n)((500 + d % 250).toInt)
        else (0 until n).map(i => (500 + (d + i) % 250).toInt)
      org.apache.spark.sql.graft.MediaKernels.encodeMp4(
        version = v,
        timescale = if (v == 0) 600 else 90000,
        durationTicks = 600 + d % 9999,
        width = (160 + (d % 32) * 8).toInt,
        height = (90 + (d % 18) * 8).toInt,
        moovFirst = v == 0,
        sampleSizes = sizes,
        codec = if (v == 0) "avc1" else "hev1")
    }

  /** Real video-container metadata end-to-end: ISO-BMFF box walk over
    * the synthesized corpus; every field oracle-recomputed from doc_id
    * in closed form. (Track DECODE needs a codec — out of scope; this
    * is the metadata half of video ingest.) */
  private def mediaMp4(s: SparkSession, dir: String): DataFrame = {
    val m = graft.functions.mp4_meta(col("mp4"))
    s.read.parquet(mp4TablePath(s, dir))
      .select(col("doc_id"),
        m.getField("brand").as("brand"),
        m.getField("n_tracks").as("n_tracks"),
        m.getField("timescale").as("timescale"),
        round(m.getField("duration_ms"), 6).as("duration_ms"),
        m.getField("width").as("w"),
        m.getField("height").as("h"),
        m.getField("n_samples").as("n_samples"),
        m.getField("total_sample_bytes").as("total_bytes"),
        round(m.getField("total_sample_bytes").cast("double") /
          m.getField("n_samples"), 6).as("avg_bytes"),
        m.getField("codec").as("codec"))
      .orderBy(col("doc_id").asc)
  }

  /** Synthesized MP3 corpus: 5 + d % 7 MPEG-1 Layer III frames at
    * 44100 Hz, frame i at bitrate [128,160,192,224][(d + i) % 4] kbps
    * with padding (d + i) % 2 — a VBR stream — behind an ID3v2 tag of
    * 30 + d % 50 junk bytes. Frame count, duration and MEAN bitrate
    * are closed-form in doc_id. */
  private val mp3Rates = Seq(128, 160, 192, 224)
  private def mp3TablePath(s: SparkSession, dir: String): String =
    synthTablePath(s, dir, "mp3", "mp3") { d =>
      val frames = (0 until (5 + d % 7).toInt).map { i =>
        (mp3Rates(((d + i) % 4).toInt), ((d + i) % 2).toInt)
      }
      org.apache.spark.sql.graft.MediaKernels.encodeMp3(
        44100, frames, id3Size = (30 + d % 50).toInt)
    }

  /** Real compressed-audio container metadata end-to-end: MPEG frame
    * walk (ID3 skip, per-frame VBR lengths); all fields closed-form in
    * doc_id. (PCM decode needs the codec — out of scope.) */
  private def mediaMp3(s: SparkSession, dir: String): DataFrame = {
    val m = graft.functions.mp3_meta(col("mp3"))
    s.read.parquet(mp3TablePath(s, dir))
      .select(col("doc_id"),
        m.getField("n_frames").as("n_frames"),
        m.getField("sample_rate").as("sample_rate"),
        round(m.getField("duration_s"), 6).as("duration_s"),
        round(m.getField("mean_bitrate_kbps"), 6).as("mean_kbps"))
      .orderBy(col("doc_id").asc)
  }

  /** Synthesized animated-GIF corpus: 4 solid-color frames per doc,
    * frame k of doc d colored (r, g, b) = ((d + 31k) % 256,
    * (2d + 17k) % 256, (5d + 3k) % 256). Single-color frames palettize
    * exactly, so every decoded channel mean IS the frame color —
    * closed-form in (doc_id, frame index). */
  private def gifTablePath(s: SparkSession, dir: String): String =
    synthTablePath(s, dir, "gif", "gif") { d =>
      val colors = (0 until 4).map { k =>
        ((((d + 31 * k) % 256).toInt) << 16) |
          ((((2 * d + 17 * k) % 256).toInt) << 8) |
          (((5 * d + 3 * k) % 256).toInt)
      }
      org.apache.spark.sql.graft.MediaKernels.encodeGifSolid(8, 4, colors)
    }

  /** Real multi-frame decode end-to-end (the video-analog ingest
    * shape): sample 2 of the 4 frames (indices 0 and 2 on the i*n/k
    * grid) and emit their decoded channel means. */
  private def mediaGif(s: SparkSession, dir: String): DataFrame = {
    val g = graft.functions.gif_frames(col("gif"), 2)
    val f = g.getField("frames")
    s.read.parquet(gifTablePath(s, dir))
      .select(col("doc_id"),
        g.getField("n_frames").as("n_frames"),
        round(f.getItem(0).getField("mean_r"), 6).as("f0_r"),
        round(f.getItem(0).getField("mean_g"), 6).as("f0_g"),
        round(f.getItem(0).getField("mean_b"), 6).as("f0_b"),
        round(f.getItem(1).getField("mean_r"), 6).as("f1_r"),
        round(f.getItem(1).getField("mean_g"), 6).as("f1_g"),
        round(f.getItem(1).getField("mean_b"), 6).as("f1_b"))
      .orderBy(col("doc_id").asc)
  }

  private def stemArray(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        concat_ws(" ", graft.functions.text_to_stem_array(col("text")))
          .as("stems"))
      .orderBy(col("doc_id").asc).limit(50)

  /** Ad-hoc single-document score (reference `bm25_score`): one fixed
    * document string scored against the corpus statistics. */
  private val scoreDoc = "spark join fast window merge table the"
  private val scoreQuery = "spark join fast"

  private def bm25Score(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = Bm25.bm25ScoreOf(tokCached(s, dir), scoreDoc, scoreQuery,
      postings = Some(postCached(s, dir)))
    Seq(BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      .toDF("score")
  }

  /** Incremental-append compaction (reference `consolidate_bm25_table`):
    * two half-corpus tables unioned (duplicate term rows) then
    * consolidated must equal the full-corpus table. */
  private def bm25Consolidate(s: SparkSession, dir: String): DataFrame = {
    val tok = tokCached(s, dir)
    // feed both halves from the shared compacted postings cache:
    // postingsOf(tok.filter(p)) == postingsOf(tok).filter(p) exactly,
    // because doc_id is a postings group key (each output row carries
    // one doc_id, so the filter commutes with the groupBy) — this
    // spares each half its own explode+groupBy shuffle over the corpus
    val post = postCached(s, dir)
    val even = Bm25.createBm25TableOf(tok.filter(col("doc_id") % 2 === 0),
      postings = Some(post.filter(col("doc_id") % 2 === 0)))
    val odd = Bm25.createBm25TableOf(tok.filter(col("doc_id") % 2 =!= 0),
      postings = Some(post.filter(col("doc_id") % 2 =!= 0)))
    Bm25.consolidateBm25Table(even.unionByName(odd))
      .select(col("term"), col("term_freq"), col("doc_ids_len"),
        element_at(col("doc_ids"), 1).as("first_doc"),
        element_at(col("doc_ids"), -1).as("last_doc"),
        aggregate(col("fqs"), lit(0L), (a, x) => a + x).as("total_fq"))
      .orderBy(col("term").asc_nulls_first)
  }

  /** User stopword list replacing the default (reference
    * set_user_stopwords): 'spark' and 'join' dropped post-stem, default
    * stopwords ('a', 'the') kept. */
  private val userStops = Seq("spark", "join")

  private def stemUserStop(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        concat_ws(" ",
          graft.functions.text_to_stem_array_user(col("text"), userStops))
          .as("stems"))
      .orderBy(col("doc_id").asc).limit(50)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bm25_score" -> ((s, d) => bm25Score(s, d)),
    "q_bm25_consolidate" -> ((s, d) => bm25Consolidate(s, d)),
    "q_stem_user_stop" -> ((s, d) => stemUserStop(s, d)),
    "q_bm25_table" -> ((s, d) => bm25Table(s, d)),
    "q_bm25_search" -> ((s, d) => bm25Search(s, d)),
    "q_bm25_search_approx" -> ((s, d) => bm25SearchApprox(s, d)),
    "q_bm25_bloom_check" -> ((s, d) => bm25BloomCheck(s, d)),
    "q_bm25_search_stemmed" -> ((s, d) => bm25SearchStemmed(s, d)),
    "q_hybrid_rrf" -> ((s, d) => hybridRrf(s, d)),
    "q_text_quality" -> ((s, d) => textQuality(s, d)),
    "q_lang_id" -> ((s, d) => langId(s, d)),
    "q_fingerprint" -> ((s, d) => fingerprint(s, d)),
    "q_token_counts" -> ((s, d) => tokenCounts(s, d)),
    "q_token_bpe" -> ((s, d) => tokenBpe(s, d)),
    "q_pack_bpe" -> ((s, d) => packBpe(s, d)),
    "q_dedup_exact" -> ((s, d) => dedupExact(s, d)),
    "q_minhash" -> ((s, d) => minhash(s, d)),
    "q_lsh_pairs" -> ((s, d) => lshPairs(s, d)),
    "q_jaccard_pairs" -> ((s, d) => jaccardPairs(s, d)),
    "q_containment_pairs" -> ((s, d) => containmentPairs(s, d)),
    "q_neardup_groups" -> ((s, d) => nearDupGroups(s, d)),
    "q_dedup_best" -> ((s, d) => dedupBest(s, d)),
    "q_neardup_incremental" -> ((s, d) => incrementalNearDupQ(s, d)),
    "q_simhash" -> ((s, d) => simhash(s, d)),
    "q_simhash_pairs" -> ((s, d) => simhashPairsQ(s, d)),
    "q_line_dedup" -> ((s, d) => lineDedup(s, d)),
    "q_substring_dedup" -> ((s, d) => substringDedup(s, d)),
    "q_pack_sequences" -> ((s, d) => packSequences(s, d)),
    "q_packed_texts" -> ((s, d) => packedTexts(s, d)),
    "q_text_clean" -> ((s, d) => textClean(s, d)),
    "q_unicode_norm" -> ((s, d) => unicodeNorm(s, d)),
    "q_chunk_docs" -> ((s, d) => chunkDocsQ(s, d)),
    "q_dedup_incremental" -> ((s, d) => dedupIncremental(s, d)),
    "q_snapshot_diff" -> ((s, d) => snapshotDiffQ(s, d)),
    "q_winnow" -> ((s, d) => winnowQ(s, d)),
    "q_winnow_pairs" -> ((s, d) => winnowPairsQ(s, d)),
    "q_winnow_groups" -> ((s, d) => winnowGroups(s, d)),
    "q_tfidf_keywords" -> ((s, d) => tfidfKeywords(s, d)),
    "q_pii_redact" -> ((s, d) => piiRedact(s, d)),
    "q_html_extract" -> ((s, d) => htmlExtract(s, d)),
    "q_url_normalize" -> ((s, d) => urlNormalize(s, d)),
    "q_gopher_gate" -> ((s, d) => gopherGate(s, d)),
    "q_c4_clean" -> ((s, d) => c4Clean(s, d)),
    "q_mix_budget" -> ((s, d) => mixBudget(s, d)),
    "q_mix_tokens" -> ((s, d) => mixTokens(s, d)),
    "q_source_temperature" -> ((s, d) => sourceTemperature(s, d)),
    "q_dsir_weights" -> ((s, d) => dsirWeights(s, d)),
    "q_dsir_sample" -> ((s, d) => dsirSample(s, d)),
    "q_dsir_stream" -> ((s, d) => dsirStream(s, d)),
    "q_dsir_mix" -> ((s, d) => dsirMix(s, d)),
    "q_pipeline_e2e" -> ((s, d) => pipelineE2e(s, d)),
    "q_pipeline_boundaries" -> ((s, d) => pipelineBoundariesQ(s, d)),
    "q_pipeline_stream" -> ((s, d) => pipelineStream(s, d)),
    "q_pipeline_absorb" -> ((s, d) => pipelineAbsorb(s, d)),
    "q_pipeline_refresh" -> ((s, d) => pipelineRefresh(s, d)),
    "q_door_guard" -> ((s, d) => doorGuard(s, d)),
    "q_domain_stats" -> ((s, d) => domainStats(s, d)),
    "q_stem_array" -> ((s, d) => stemArray(s, d)),
    "q_bloom_members" -> ((s, d) => bloomMembers(s, d)),
    "q_media_stats" -> ((s, d) => mediaStats(s, d)),
    "q_media_decode" -> ((s, d) => mediaDecode(s, d)),
    "q_media_resize" -> ((s, d) => mediaResize(s, d)),
    "q_media_phash" -> ((s, d) => mediaPhash(s, d)),
    "q_image_semdedup" -> ((s, d) => imageSemDedup(s, d)),
    "q_media_wav" -> ((s, d) => mediaWav(s, d)),
    "q_media_mp4" -> ((s, d) => mediaMp4(s, d)),
    "q_media_mp3" -> ((s, d) => mediaMp3(s, d)),
    "q_media_gif" -> ((s, d) => mediaGif(s, d)),
    "q_decontaminate" -> ((s, d) => decontaminate(s, d)),
    "q_quality_repetition" -> ((s, d) => qualityRepetition(s, d)),
    "q_lm_coverage" -> ((s, d) => lmCoverage(s, d)),
    "q_corpus_ngrams" -> ((s, d) => corpusNgrams(s, d)),
    "q_sample_stratified" -> ((s, d) => sampleStratified(s, d)),
    "q_mix_epochs" -> ((s, d) => mixEpochsQ(s, d)),
    "q_quality_classifier" -> ((s, d) => qualityClassifier(s, d)),
    "q_quality_gate" -> ((s, d) => qualityGate(s, d)),
    "q_quality_tiers" -> ((s, d) => qualityTiers(s, d)),
  )

  // ---- DuckDB oracles ----

  /** BPE merge-replay CTEs: the default tokenizer's merge table is
    * embedded as VALUES (it is DATA — a constant of the tokenizer,
    * like the stemmer's stopword list) and DuckDB re-runs encoding
    * from the raw text entirely on its own: each token renders as
    * `(<hex>)` so `replace(s, '(a)(b)', '(ab)')` per rank IS the
    * encoder (patterns anchored at token boundaries, no shared
    * delimiters between adjacent matches). The replay is restricted to
    * the first 200 doc_ids — exactly the rows the contract queries
    * emit, and prefix sums in doc_id order never depend on later docs.
    * `d` must be defined by the caller as that 200-doc slice. */
  private lazy val bpeMergesCte: String = {
    val rows = graft.text.Bpe.default.oracleMergeRows
      .map { case (r, p, rep) => s"($r, '$p', '$rep')" }
      .mkString(",\n      ")
    s"""merges(r, pat, rep) AS (VALUES
       |      $rows)""".stripMargin
  }

  private lazy val bpeEncCte: String =
    s"""$bpeMergesCte,
       |enc AS (
       |  SELECT doc_id,
       |    regexp_replace(lower(hex(encode(text))), '([0-9a-f]{2})', '(\\1)', 'g') AS s,
       |    0 AS r
       |  FROM d
       |  UNION ALL
       |  SELECT e.doc_id, replace(e.s, m.pat, m.rep) AS s, e.r + 1 AS r
       |  FROM enc e JOIN merges m ON m.r = e.r + 1),
       |bpe AS (
       |  SELECT doc_id, s,
       |    CAST(length(s) - length(replace(s, '(', '')) AS BIGINT) AS n_bpe
       |  FROM enc WHERE r = (SELECT max(r) FROM merges))""".stripMargin

  private val bpeDocSlice =
    "d AS (SELECT doc_id, text FROM documents ORDER BY doc_id ASC LIMIT 200)"

  private val enStopSql = TextOps.enStop.map(w => s"'$w'").mkString(", ")

  private def langCnt(lang: String): String = {
    val words = TextOps.langStop(lang).map(w => s"'$w'").mkString(", ")
    s"len(list_filter(t, x -> x IN ($words)))"
  }

  /** MinHash signature SQL: same affine permutations over the 28-bit
    * md5-prefix base hash as graft.dedup.Dedup (one md5 per shingle). */
  private def sigSql(n: Int): String =
    Dedup.minhashCoeffs(n)
      .map { case (a, b) =>
        s"list_min(list_transform(hs, h -> ($a * h + $b) % ${Dedup.MinhashP}))"
      }
      .mkString("[", ", ", "]")

  private val shinglesCte =
    """sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, len(t) - 1), j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2])) AS s
      |  FROM toks WHERE len(t) >= 3),
      |hs AS (
      |  SELECT doc_id, list_transform(s, x -> ('0x' || substr(md5(x), 1, 7))::BIGINT) AS hs
      |  FROM sh)""".stripMargin

  private val lshPairsCte =
    s"""sig AS (SELECT doc_id, ${sigSql(8)} AS sig FROM hs),
       |banded AS (
       |  SELECT doc_id, b, sig[2*b+1] AS k1, sig[2*b+2] AS k2
       |  FROM sig, (SELECT unnest(range(0, 4)) AS b)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.b = b.b AND a.k1 = b.k1 AND a.k2 = b.k2 AND a.doc_id < b.doc_id)""".stripMargin

  /** The synthetic corpus has a closed 31-word vocabulary, so the
    * Porter2 stem of every token is known and the stemmed pipeline gets
    * full-strength oracles: stems = tokens minus stopwords ('a', 'the'),
    * with the five non-identity stems mapped explicitly. The stemmer
    * itself is validated against the published fixture in StemmerSpec. */
  private val stemCaseSql =
    """CASE x WHEN 'customer' THEN 'custom' WHEN 'merge' THEN 'merg'
      | WHEN 'table' THEN 'tabl' WHEN 'value' THEN 'valu'
      | WHEN 'query' THEN 'queri' ELSE x END""".stripMargin

  private val stemsCte =
    s"""stoks AS (
       |  SELECT doc_id,
       |    list_transform(list_filter(t, x -> x NOT IN ('a', 'the')),
       |                   x -> $stemCaseSql) AS t
       |  FROM toks)""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_bm25_score" ->
      s"""WITH $toksCte,
         |stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(len(t)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM toks),
         |dfc AS (
         |  SELECT term,
         |    CAST((SELECT count(*) FROM toks WHERE list_contains(t, term)) AS DOUBLE) AS df
         |  FROM (SELECT unnest(${scoreQuery.split(" ").map(t => s"'$t'").mkString("[", ", ", "]")}) AS term))
         |SELECT round(sum(
         |  ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |    * (1.0 * (1.2 + 1.0))
         |    / (1.0 + 1.2 * (1.0 - 0.75 + 0.75 * ${scoreDoc.split(" ").length}.0 / avgdl))), 6) AS score
         |FROM dfc CROSS JOIN stats""".stripMargin,
    "q_bm25_consolidate" ->
      s"""WITH $toksCte,
         |p0 AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |g AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS fq
         |      FROM p0 GROUP BY 1, 2),
         |terms AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS term_freq,
         |    CAST(count(*) AS INT) AS doc_ids_len,
         |    min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |    CAST(sum(fq) AS BIGINT) AS total_fq
         |  FROM g GROUP BY term),
         |se AS (SELECT count(*) AS n, sum(len(t)) AS s FROM toks WHERE doc_id % 2 = 0),
         |so AS (SELECT count(*) AS n, sum(len(t)) AS s FROM toks WHERE doc_id % 2 <> 0),
         |stats AS (
         |  SELECT CAST(NULL AS VARCHAR) AS term,
         |    CAST(se.n + so.n AS BIGINT) AS term_freq,
         |    CAST((((se.s * 100) // se.n) * se.n + ((so.s * 100) // so.n) * so.n)
         |      // (se.n + so.n) AS INT) AS doc_ids_len,
         |    CAST(NULL AS BIGINT) AS first_doc, CAST(NULL AS BIGINT) AS last_doc,
         |    CAST(NULL AS BIGINT) AS total_fq
         |  FROM se, so)
         |SELECT * FROM terms UNION ALL SELECT * FROM stats
         |ORDER BY term ASC NULLS FIRST""".stripMargin,
    "q_stem_user_stop" ->
      s"""WITH $toksCte
         |SELECT doc_id,
         |  array_to_string(list_transform(
         |    list_filter(t, x -> x NOT IN (${userStops.map(w => s"'$w'").mkString(", ")})),
         |    x -> $stemCaseSql), ' ') AS stems
         |FROM toks ORDER BY doc_id ASC LIMIT 50""".stripMargin,
    "q_stem_array" ->
      s"""WITH $toksCte, $stemsCte
         |SELECT doc_id, array_to_string(t, ' ') AS stems
         |FROM stoks ORDER BY doc_id ASC LIMIT 50""".stripMargin,
    "q_bm25_search_stemmed" ->
      s"""WITH $toksCte, $stemsCte,
         |post AS (
         |  SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS fq
         |  FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM stoks)
         |  WHERE term IN (${bm25Terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2, 3),
         |stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(len(t)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM stoks),
         |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1),
         |sc AS (
         |  SELECT doc_id,
         |    sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |      * (fq * (1.2 + 1.0))
         |      / (fq + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS score
         |  FROM post JOIN dfreq USING (term) CROSS JOIN stats
         |  GROUP BY doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin,
    "q_bm25_table" ->
      s"""WITH $toksCte,
         |p0 AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |g AS (SELECT term, doc_id FROM p0 GROUP BY 1, 2),
         |tbl AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS term_freq,
         |    CAST(count(*) AS INT) AS doc_ids_len,
         |    count(*) > 390 AS has_bloom,
         |    min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |  FROM g GROUP BY term
         |  UNION ALL
         |  SELECT CAST(NULL AS VARCHAR),
         |    (SELECT CAST(count(*) AS BIGINT) FROM toks),
         |    (SELECT CAST((sum(len(t)) * 100) // count(*) AS INT) FROM toks),
         |    false, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT))
         |SELECT * FROM tbl
         |ORDER BY term_freq DESC, term ASC NULLS FIRST LIMIT 20""".stripMargin,
    "q_bm25_search" ->
      s"""WITH $toksCte,
         |post AS (
         |  SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS fq
         |  FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
         |  WHERE term IN (${bm25Terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2, 3),
         |stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(len(t)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM toks),
         |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1),
         |sc AS (
         |  SELECT doc_id,
         |    sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |      * (fq * (1.2 + 1.0))
         |      / (fq + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS score
         |  FROM post JOIN dfreq USING (term) CROSS JOIN stats
         |  GROUP BY doc_id)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 10""".stripMargin,
    // bloom-mode self-check: the verdict booleans are the contract —
    // no false negatives (a bloom only over-admits) and a bounded
    // observed fp rate, both computed in-query against the stored
    // postings; deferral_active pins that the bloom path actually ran
    "q_bm25_bloom_check" ->
      """SELECT TRUE AS deferral_active, TRUE AS nfn_ok,
        |  TRUE AS fp_rate_ok""".stripMargin,
    // approximate BM25: the oracle replays all four mechanisms —
    // rarest-first order (doc_ids_len asc, term asc), the >100
    // accumulated-distinct-docs crossing (prior = cumulative
    // first-occurrence counts over earlier positions), the
    // fq=1/doc_len=avgdl substituted constant for deferred
    // bloom-carrying terms (bloom built iff df > n//2, the row's
    // corpus-relative build threshold), the 10x-limit candidate heap
    // over the exact part, and TRUE membership for the constant adds
    // (the Spark side runs exactMembership mode). avgdl is the stats
    // row's x100 fixed point decoded /100.0, the reference's
    // corpus_stats read (bm25_api.sql:88)
    "q_bm25_search_approx" ->
      s"""WITH $toksCte,
         |post AS (
         |  SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS fq
         |  FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
         |  WHERE term IN (${approxTerms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2, 3),
         |stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST((sum(len(t)) * 100) // count(*) AS DOUBLE) / 100.0 AS avgdl,
         |    count(*) // 2 AS bloomthr
         |  FROM toks),
         |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df,
         |                 count(*) AS dfl FROM post GROUP BY 1),
         |ord AS (SELECT term, df, dfl,
         |          row_number() OVER (ORDER BY dfl ASC, term ASC) AS pos
         |        FROM dfreq),
         |firsts AS (SELECT p.doc_id, min(o.pos) AS fpos
         |           FROM post p JOIN ord o USING (term) GROUP BY 1),
         |fcnt AS (SELECT fpos, count(*) AS cnt FROM firsts GROUP BY 1),
         |flags AS (
         |  SELECT o.term, o.df,
         |    (o.dfl > (SELECT bloomthr FROM stats)) AND
         |    coalesce(sum(coalesce(fcnt.cnt, 0))
         |      OVER (ORDER BY o.pos
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |      0) > 100 AS deferred
         |  FROM ord o LEFT JOIN fcnt ON fcnt.fpos = o.pos),
         |ex AS (
         |  SELECT doc_id,
         |    sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |      * (fq * (1.2 + 1.0))
         |      / (fq + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS s
         |  FROM post JOIN flags USING (term) CROSS JOIN stats
         |  WHERE NOT deferred
         |  GROUP BY doc_id),
         |cand AS (SELECT doc_id, s FROM ex
         |         ORDER BY round(s, 6) DESC, doc_id ASC LIMIT 100),
         |defc AS (
         |  SELECT term, ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |      * (1.0 * (1.2 + 1.0))
         |      / (1.0 + 1.2 * (1.0 - 0.75 + 0.75 * avgdl / avgdl)) AS c
         |  FROM flags CROSS JOIN stats WHERE deferred),
         |adds AS (
         |  SELECT p.doc_id, sum(defc.c) AS a
         |  FROM post p JOIN defc USING (term) JOIN cand USING (doc_id)
         |  GROUP BY 1)
         |SELECT cand.doc_id,
         |  round(cand.s + coalesce(adds.a, 0.0), 6) AS score
         |FROM cand LEFT JOIN adds USING (doc_id)
         |ORDER BY round(cand.s + coalesce(adds.a, 0.0), 6) DESC, doc_id ASC
         |LIMIT 10""".stripMargin,
    "q_hybrid_rrf" -> {
      val qvSql = (0 until 8).map(j =>
        s"((('0x' || substr(md5('$bm25Query'), 1, 7))::BIGINT + ${(j + 1) * 2654435761L}) % 128) / 64.0 - 1.0")
        .mkString("[", ", ", "]")
      val eSql = (0 until 8).map(j =>
        s"((('0x' || substr(md5(text), 1, 7))::BIGINT + ${(j + 1) * 2654435761L}) % 128) / 64.0 - 1.0")
        .mkString("[", ", ", "]")
      s"""WITH $toksCte,
         |post AS (
         |  SELECT term, doc_id, dl, CAST(count(*) AS DOUBLE) AS fq
         |  FROM (SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM toks)
         |  WHERE term IN (${bm25Terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2, 3),
         |stats AS (
         |  SELECT CAST(count(*) AS DOUBLE) AS n,
         |    CAST(sum(len(t)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM toks),
         |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM post GROUP BY 1),
         |sc AS (
         |  SELECT doc_id,
         |    sum(ln((n - df + 0.5) / (df + 0.5) + 1.0)
         |      * (fq * (1.2 + 1.0))
         |      / (fq + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dl AS DOUBLE) / avgdl))) AS score
         |  FROM post JOIN dfreq USING (term) CROSS JOIN stats
         |  GROUP BY doc_id),
         |lex AS (SELECT doc_id, round(score, 6) AS s FROM sc
         |        ORDER BY round(score, 6) DESC, doc_id ASC LIMIT 20),
         |lexr AS (SELECT doc_id,
         |           row_number() OVER (ORDER BY s DESC, doc_id ASC) AS r
         |         FROM lex),
         |q AS (SELECT $qvSql AS qv),
         |embdist AS (
         |  SELECT doc_id,
         |    list_sum(list_transform($eSql, (x, i) -> (x - qv[i]) * (x - qv[i]))) AS dist
         |  FROM documents, q),
         |vec20 AS (SELECT doc_id, dist FROM embdist
         |          ORDER BY dist ASC, doc_id ASC LIMIT 20),
         |vecr AS (SELECT doc_id,
         |           row_number() OVER (ORDER BY round(dist, 6) ASC, doc_id ASC) AS r
         |         FROM vec20),
         |fused AS (
         |  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         |    COALESCE(CAST(1.0 AS DOUBLE) / (60 + a.r), 0.0)
         |      + COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.r), 0.0) AS f
         |  FROM lexr a FULL OUTER JOIN vecr b ON a.doc_id = b.doc_id)
         |SELECT doc_id, round(f, 6) AS rrf_score FROM fused
         |ORDER BY f DESC, doc_id ASC LIMIT 10""".stripMargin
    },
    "q_text_quality" ->
      s"""WITH $toksCte
         |SELECT doc_id,
         |  length(text) AS n_chars,
         |  len(t) AS n_tokens,
         |  round(CAST(list_sum(list_transform(t, x -> len(x))) AS DOUBLE)
         |    / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS avg_token_len,
         |  round(CAST(len(list_filter(t, x -> x IN ($enStopSql))) AS DOUBLE)
         |    / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS stopword_ratio,
         |  round(CAST(len(list_distinct(t)) AS DOUBLE)
         |    / CAST(greatest(len(t), 1) AS DOUBLE), 6) AS distinct_ratio
         |FROM toks JOIN documents USING (doc_id)
         |ORDER BY doc_id ASC LIMIT 100""".stripMargin,
    "q_lang_id" ->
      s"""WITH $toksCte
         |SELECT doc_id,
         |  CASE
         |    WHEN ${langCnt("en")} = greatest(${langCnt("en")}, ${langCnt("de")}, ${langCnt("es")}, ${langCnt("fr")})
         |      AND greatest(${langCnt("en")}, ${langCnt("de")}, ${langCnt("es")}, ${langCnt("fr")}) > 0 THEN 'en'
         |    WHEN ${langCnt("de")} = greatest(${langCnt("en")}, ${langCnt("de")}, ${langCnt("es")}, ${langCnt("fr")})
         |      AND greatest(${langCnt("en")}, ${langCnt("de")}, ${langCnt("es")}, ${langCnt("fr")}) > 0 THEN 'de'
         |    WHEN ${langCnt("es")} = greatest(${langCnt("en")}, ${langCnt("de")}, ${langCnt("es")}, ${langCnt("fr")})
         |      AND greatest(${langCnt("en")}, ${langCnt("de")}, ${langCnt("es")}, ${langCnt("fr")}) > 0 THEN 'es'
         |    WHEN ${langCnt("fr")} = greatest(${langCnt("en")}, ${langCnt("de")}, ${langCnt("es")}, ${langCnt("fr")})
         |      AND greatest(${langCnt("en")}, ${langCnt("de")}, ${langCnt("es")}, ${langCnt("fr")}) > 0 THEN 'fr'
         |    ELSE 'und'
         |  END AS lang_pred
         |FROM toks
         |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    "q_fingerprint" ->
      s"""WITH $toksCte
         |SELECT doc_id, md5(text) AS content_hash,
         |  list_min(list_transform(t, x -> md5(x))) AS min_token_hash
         |FROM toks JOIN documents USING (doc_id)
         |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    "q_token_counts" ->
      s"""WITH RECURSIVE $bpeDocSlice,
         |$bpeEncCte,
         |toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
         |  FROM d)
         |SELECT doc_id,
         |  len(t) AS n_words,
         |  len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_ws_tokens,
         |  n_bpe
         |FROM toks JOIN d USING (doc_id) JOIN bpe USING (doc_id)
         |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // byte-BPE replay: count + token identity (md5 over the comma-
    // joined hex tokens, derived from the bracketed string)
    "q_token_bpe" ->
      s"""WITH RECURSIVE $bpeDocSlice,
         |$bpeEncCte
         |SELECT b.doc_id,
         |  CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
         |  b.n_bpe,
         |  md5(replace(replace(replace(b.s, ')(', ','), '(', ''), ')', '')) AS toks_md5
         |FROM bpe b JOIN d ON b.doc_id = d.doc_id
         |ORDER BY b.doc_id ASC LIMIT 200""".stripMargin,
    // packing offsets on the byte-BPE token basis: the oracle's single
    // ordered window over replayed counts is the semantic spec the
    // blocked prefix-sum must reproduce
    "q_pack_bpe" ->
      s"""WITH RECURSIVE $bpeDocSlice,
         |$bpeEncCte,
         |s AS (SELECT doc_id, n_bpe AS n,
         |  CAST(sum(n_bpe) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n_bpe AS st
         |  FROM bpe)
         |SELECT doc_id, n AS n_tokens, st AS start_offset,
         |  st // 128 AS first_seq,
         |  greatest(st, st + n - 1) // 128 AS last_seq,
         |  greatest(st, st + n - 1) // 128 - st // 128 + 1 AS n_seqs
         |FROM s ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // Unicode NFC: identical synthesized decomposed/precomposed tails
    // (combining chars via chr()), DuckDB's nfc_normalize vs the
    // codegen java.text.Normalizer kernel; both lengths count
    // codepoints, both md5s hash UTF-8 bytes
    "q_unicode_norm" ->
      """WITH aug AS (SELECT doc_id, CASE
        |    WHEN doc_id % 4 = 0 THEN text || ' cafe' || chr(769) || ' resume' || chr(769)
        |    WHEN doc_id % 4 = 1 THEN text || ' A' || chr(778) || 'ngstro' || chr(776) || 'm'
        |    WHEN doc_id % 4 = 2 THEN text || ' caf' || chr(233) || ' d' || chr(233) || 'j' || chr(224)
        |    ELSE text END AS t
        |  FROM documents)
        |SELECT doc_id, CAST(length(t) AS BIGINT) AS n_raw,
        |  CAST(length(nfc_normalize(t)) AS BIGINT) AS n_norm,
        |  md5(nfc_normalize(t)) AS norm_md5
        |FROM aug ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // token-window chunking: same tokenization, same ceil-window count,
    // DuckDB 1-based inclusive list slice == Spark slice(start, length);
    // array_to_string([]) is NULL in DuckDB where Spark joins to ''
    "q_chunk_docs" ->
      s"""WITH $toksCte,
         |c AS (SELECT doc_id, t,
         |  unnest(range(CASE WHEN len(t) <= 32 THEN 1
         |    ELSE (len(t) - 32 + 23) // 24 + 1 END)) AS chunk_id
         |  FROM toks)
         |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(len(t[(chunk_id*24+1):(chunk_id*24+32)]) AS BIGINT) AS n_tokens,
         |  md5(coalesce(array_to_string(t[(chunk_id*24+1):(chunk_id*24+32)], ' '), '')) AS chunk_md5
         |FROM c ORDER BY doc_id ASC, chunk_id ASC LIMIT 500""".stripMargin,
    // TF-IDF keywords: same tokenization, same BM25 idf smoothing,
    // score rounded to 6dp BEFORE ranking (absorbs ln() last-ulp
    // library differences), term tie-break
    "q_tfidf_keywords" ->
      s"""WITH $toksCte,
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
         |  SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |nd AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |sc AS (SELECT doc_id, term,
         |  round(tf * ln((n - df + 0.5) / (df + 0.5) + 1.0), 6) AS score
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd),
         |r AS (SELECT doc_id, term, score, CAST(row_number() OVER (
         |  PARTITION BY doc_id ORDER BY score DESC, term ASC) AS INT) AS rank
         |  FROM sc)
         |SELECT doc_id, rank, term, score FROM r WHERE rank <= 3
         |ORDER BY doc_id ASC, rank ASC LIMIT 600""".stripMargin,
    // winnowing: positional 5-gram hashes, window-4 rightmost-min
    // picks, duplicates collapsed; the rightmost tie index replays as
    // len(win) - list_position(list_reverse(win), min). DuckDB cannot
    // list_distinct a STRUCT list, so the (pos, hash) pick encodes as
    // pos * 2^28 + hash (the hash is a 28-bit md5 prefix) and decodes
    // after the unnest — the encoding is a bijection, so distinctness
    // over encodings IS distinctness over picks
    "q_winnow" ->
      s"""WITH aug AS (
         |  SELECT doc_id, CASE WHEN doc_id < 30
         |    THEN text || ' ' || CASE doc_id % 3
         |      WHEN 0 THEN '${winnowRuns(0)}'
         |      WHEN 1 THEN '${winnowRuns(1)}'
         |      ELSE '${winnowRuns(2)}' END
         |    ELSE text END AS text
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
         |  FROM aug),
         |hs AS (
         |  SELECT doc_id,
         |    CASE WHEN len(t) >= 5 THEN
         |      list_transform(range(len(t) - 4),
         |        i -> ('0x' || substr(md5(array_to_string(t[(i+1):(i+5)], ' ')), 1, 7))::BIGINT)
         |    ELSE [] END AS h
         |  FROM toks),
         |p AS (
         |  SELECT doc_id,
         |    CASE WHEN len(h) >= 4 THEN
         |      list_distinct(list_transform(range(len(h) - 3),
         |        j -> (j + len(h[(j+1):(j+4)])
         |            - list_position(list_reverse(h[(j+1):(j+4)]),
         |                            list_min(h[(j+1):(j+4)]))) * 268435456
         |          + list_min(h[(j+1):(j+4)])))
         |    WHEN len(h) > 0 THEN
         |      [(len(h) - list_position(list_reverse(h), list_min(h))) * 268435456
         |        + list_min(h)]
         |    ELSE [] END AS fps
         |  FROM hs)
         |SELECT doc_id, CAST(enc // 268435456 AS INT) AS fp_pos,
         |  enc % 268435456 AS fp_hash
         |FROM (SELECT doc_id, unnest(fps) AS enc FROM p)
         |ORDER BY doc_id ASC, fp_pos ASC LIMIT 500""".stripMargin,
    // winnow pairs: same augmentation, same winnow chain, candidate
    // bucket join + distinct-shared-fingerprint count (>= 2)
    "q_winnow_pairs" ->
      s"""WITH $winnowOracleChain
         |SELECT doc_a, doc_b,
         |  CAST(len(list_intersect(fa.s, fb.s)) AS INT) AS n_shared
         |FROM cand
         |JOIN fs fa ON fa.doc_id = cand.doc_a
         |JOIN fs fb ON fb.doc_id = cand.doc_b
         |WHERE len(list_intersect(fa.s, fb.s)) >= 2
         |ORDER BY doc_a ASC, doc_b ASC LIMIT 300""".stripMargin,
    // winnow dedup end-to-end: the same verified pairs, then connected
    // components by recursive min-label reach (the q_neardup_groups
    // pattern); keeper = the component's minimum doc id
    "q_winnow_groups" ->
      s"""WITH RECURSIVE $winnowOracleChain,
         |pr AS (
         |  SELECT doc_a, doc_b FROM cand
         |  JOIN fs fa ON fa.doc_id = cand.doc_a
         |  JOIN fs fb ON fb.doc_id = cand.doc_b
         |  WHERE len(list_intersect(fa.s, fb.s)) >= 2),
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM pr
         |  UNION SELECT doc_b AS s, doc_a AS d FROM pr),
         |verts AS (SELECT DISTINCT s AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM verts
         |  UNION
         |  SELECT e.d AS id, reach.r AS r FROM reach JOIN edges e ON e.s = reach.id)
         |SELECT id AS doc_id, min(r) AS component,
         |  (id = min(r)) AS keeper
         |FROM reach GROUP BY id
         |ORDER BY doc_id ASC""".stripMargin,
    // snapshot diff: the mutation is closed-form in doc_id, so the
    // statuses replay without computing a single hash (removal wins
    // over change: a dropped doc's edit never lands)
    "q_snapshot_diff" ->
      """SELECT doc_id, status FROM (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN 'removed'
        |         WHEN doc_id % 7 = 0 THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000 AS doc_id, 'added' AS status
        |  FROM documents WHERE doc_id % 13 = 0)
        |ORDER BY doc_id ASC LIMIT 400""".stripMargin,
    // incremental dedup: the bloom sketch is routing only, so the
    // oracle is the plain exact anti-join semantics
    "q_dedup_incremental" ->
      """WITH aug AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0
        |       THEN 'boilerplate notice ' || CAST(doc_id % 3 AS VARCHAR)
        |       ELSE text END AS text FROM documents),
        |p AS (SELECT DISTINCT md5(text) AS content_hash
        |  FROM aug WHERE doc_id % 7 = 0),
        |n AS (SELECT doc_id, md5(text) AS content_hash
        |  FROM aug WHERE doc_id % 7 <> 0)
        |SELECT n.doc_id, n.content_hash FROM n
        |WHERE NOT EXISTS (SELECT 1 FROM p WHERE p.content_hash = n.content_hash)
        |ORDER BY doc_id ASC LIMIT 300""".stripMargin,
    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash,
        |  CAST(count(*) AS BIGINT) AS dup_count, min(doc_id) AS keeper
        |FROM documents GROUP BY 1
        |ORDER BY dup_count DESC, content_hash ASC LIMIT 50""".stripMargin,
    "q_minhash" ->
      s"""WITH $toksCte, $shinglesCte,
         |sig AS (SELECT doc_id, ${sigSql(4)} AS sig FROM hs)
         |SELECT doc_id,
         |  array_to_string(list_transform(sig, x -> x::VARCHAR), ',') AS signature
         |FROM sig ORDER BY doc_id ASC LIMIT 100""".stripMargin,
    "q_lsh_pairs" ->
      s"""WITH $toksCte, $shinglesCte, $lshPairsCte
         |SELECT doc_a, doc_b,
         |  round(CAST(len(list_filter(range(1, 9), i -> sa.sig[i] = sb.sig[i])) AS DOUBLE) / 8.0, 6) AS est_jaccard
         |FROM pairs
         |JOIN sig sa ON sa.doc_id = pairs.doc_a
         |JOIN sig sb ON sb.doc_id = pairs.doc_b
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    "q_jaccard_pairs" ->
      s"""WITH $toksCte, $shinglesCte, $lshPairsCte
         |SELECT doc_a, doc_b,
         |  round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE), 6) AS jaccard
         |FROM pairs
         |JOIN sh sa ON sa.doc_id = pairs.doc_a
         |JOIN sh sb ON sb.doc_id = pairs.doc_b
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    // containment: same candidate pairs, one-sided |A∩B|/|A| per
    // direction (the shingle lists are already distinct)
    "q_containment_pairs" ->
      s"""WITH $toksCte, $shinglesCte, $lshPairsCte
         |SELECT doc_a, doc_b,
         |  round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |    / CAST(len(sa.s) AS DOUBLE), 6) AS containment_a,
         |  round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |    / CAST(len(sb.s) AS DOUBLE), 6) AS containment_b
         |FROM pairs
         |JOIN sh sa ON sa.doc_id = pairs.doc_a
         |JOIN sh sb ON sb.doc_id = pairs.doc_b
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    "q_neardup_groups" ->
      s"""WITH RECURSIVE $toksCte, $shinglesCte, $lshPairsCte,
         |jac AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  JOIN sh sa ON sa.doc_id = pairs.doc_a
         |  JOIN sh sb ON sb.doc_id = pairs.doc_b
         |  WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE), 6) >= 0.6),
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM jac
         |  UNION SELECT doc_b AS s, doc_a AS d FROM jac),
         |verts AS (SELECT DISTINCT s AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM verts
         |  UNION
         |  SELECT e.d AS id, reach.r AS r FROM reach JOIN edges e ON e.s = reach.id)
         |SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
         |ORDER BY doc_id ASC""".stripMargin,
    // incremental near-dup: augmented corpus (ingest side carries a
    // mutated copy of its existing-side neighbor), the same shingle/
    // minhash/band chain over the augmented text, candidates restricted
    // to new x old, the jac verification formula at >= 0.6
    "q_neardup_incremental" ->
      s"""WITH aug AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 7 = 0 AND n.text IS NOT NULL
         |         THEN n.text || ' appended ingest mutation tail'
         |         ELSE d.text END AS text
         |  FROM documents d LEFT JOIN documents n ON n.doc_id = d.doc_id + 1),
         |toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
         |  FROM aug),
         |$shinglesCte,
         |sig AS (SELECT doc_id, ${sigSql(8)} AS sig FROM hs),
         |banded AS (
         |  SELECT doc_id, b, sig[2*b+1] AS k1, sig[2*b+2] AS k2
         |  FROM sig, (SELECT unnest(range(0, 4)) AS b)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b
         |    ON a.b = b.b AND a.k1 = b.k1 AND a.k2 = b.k2
         |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0),
         |ver AS (
         |  SELECT doc_a AS doc_id, doc_b AS dup_of,
         |    round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |      / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE), 6)
         |      AS jaccard
         |  FROM cands
         |  JOIN sh sa ON sa.doc_id = cands.doc_a
         |  JOIN sh sb ON sb.doc_id = cands.doc_b)
         |SELECT doc_id, dup_of, jaccard FROM ver
         |WHERE jaccard >= 0.6
         |ORDER BY doc_id ASC, dup_of ASC LIMIT 500""".stripMargin,
    // quality-aware keeper: the q_neardup_groups recursive reach
    // composed with the q_quality_classifier fixed-point score chain;
    // keeper = rn 1 over (score desc, id asc) per component — exactly
    // the argmax-struct the Spark side aggregates
    "q_dedup_best" ->
      s"""WITH RECURSIVE $toksCte, $shinglesCte, $lshPairsCte,
         |jac AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  JOIN sh sa ON sa.doc_id = pairs.doc_a
         |  JOIN sh sb ON sb.doc_id = pairs.doc_b
         |  WHERE round(CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
         |    / CAST(len(list_distinct(list_concat(sa.s, sb.s))) AS DOUBLE), 6) >= 0.6),
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM jac
         |  UNION SELECT doc_b AS s, doc_a AS d FROM jac),
         |verts AS (SELECT DISTINCT s AS id FROM edges),
         |reach AS (
         |  SELECT id, id AS r FROM verts
         |  UNION
         |  SELECT e.d AS id, reach.r AS r FROM reach JOIN edges e ON e.s = reach.id),
         |comps AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
         |btok AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(unnest(t)), 1, 15))::BIGINT % 4096 AS bucket
         |  FROM toks),
         |lab AS (
         |  SELECT doc_id,
         |    source IN ('src0','src1','src2','src3','src4') AS pos
         |  FROM documents),
         |counts AS (
         |  SELECT bucket,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
         |  FROM btok JOIN lab USING (doc_id) GROUP BY bucket),
         |w AS (SELECT bucket, (cp + 1) * 1000000 // (cp + cn + 2) AS weight
         |      FROM counts),
         |qagg AS (
         |  SELECT doc_id, CAST(sum(weight) AS BIGINT) AS w_sum,
         |    CAST(count(*) AS BIGINT) AS n_scored
         |  FROM btok JOIN w USING (bucket) GROUP BY doc_id),
         |qscored AS (
         |  SELECT d.doc_id,
         |    COALESCE(s.w_sum, 0) // greatest(COALESCE(s.n_scored, 0), 1)
         |      AS score_fp
         |  FROM documents d LEFT JOIN qagg s USING (doc_id)),
         |ranked AS (
         |  SELECT c.doc_id, c.component, q.score_fp,
         |    row_number() OVER (PARTITION BY c.component
         |      ORDER BY q.score_fp DESC, c.doc_id ASC) AS rn
         |  FROM comps c JOIN qscored q USING (doc_id))
         |SELECT doc_id, component, score_fp, rn = 1 AS keeper
         |FROM ranked ORDER BY doc_id ASC""".stripMargin,
    // per-source domain report; dup_frac = fraction of the source's
    // docs carrying a line duplicated across documents corpus-wide
    "q_domain_stats" ->
      s"""WITH $toksCte,
         |lines AS (
         |  SELECT doc_id, array_to_string(t[8*i+1 : 8*i+8], ' ') AS line
         |  FROM (SELECT doc_id, t, unnest(range((len(t) + 7) // 8)) AS i FROM toks)),
         |cnt AS (SELECT md5(line) AS lh, count(DISTINCT doc_id) AS nd
         |        FROM lines GROUP BY 1),
         |dup AS (SELECT doc_id, max(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS hd
         |        FROM lines JOIN cnt ON md5(lines.line) = cnt.lh
         |        GROUP BY 1)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(avg(CAST(length(d.text) AS DOUBLE)), 6) AS avg_chars,
         |  CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
         |  round(avg(CAST(coalesce(dup.hd, 0) AS DOUBLE)), 6) AS dup_frac
         |FROM documents d LEFT JOIN dup ON d.doc_id = dup.doc_id
         |GROUP BY d.source ORDER BY d.source ASC""".stripMargin,
    // text cleaning: same augmented input, same regexes (RE2-safe), same
    // URL-before-email order; counts measured on the same intermediate
    "q_text_clean" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN text || ' contact u' || CAST(doc_id AS VARCHAR)
         |           || '@example.com and u' || CAST(doc_id AS VARCHAR) || 'b@ex.org now'
         |         WHEN doc_id % 3 = 1 THEN text || ' see https://ex.com/p/' || CAST(doc_id AS VARCHAR)
         |           || ' or http://u@ex.com/q ok'
         |         ELSE text END AS t
         |  FROM documents),
         |c1 AS (SELECT doc_id, regexp_replace(t, '[\\x00-\\x1F\\x7F]', ' ', 'g') AS t FROM aug),
         |c2 AS (SELECT doc_id,
         |         len(regexp_extract_all(t, 'https?://[^ \\t\\n]+')) AS n_urls,
         |         regexp_replace(t, 'https?://[^ \\t\\n]+', '<URL>', 'g') AS t FROM c1),
         |c3 AS (SELECT doc_id, n_urls,
         |         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+')) AS n_emails,
         |         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g') AS t FROM c2)
         |SELECT doc_id, trim(regexp_replace(t, '[ \\t\\n]+', ' ', 'g')) AS text_clean,
         |  CAST(n_urls AS INT) AS n_urls, CAST(n_emails AS INT) AS n_emails
         |FROM c3 ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // PII redaction: same augmented input, same regexes (all in the
    // RE2 ∩ java.util.regex common subset), same most-specific-first
    // order; counts measured on the same intermediates
    "q_pii_redact" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0 THEN text || ' call +1 (415) 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' ok'
         |         WHEN doc_id % 5 = 1 THEN text || ' host 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST(doc_id % 200 AS VARCHAR) || ' up'
         |         WHEN doc_id % 5 = 2 THEN text || ' ssn 123-45-' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' leaked'
         |         WHEN doc_id % 5 = 3 THEN text || ' card 4111 1111 1111 ' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' paid'
         |         ELSE text || ' mail u' || CAST(doc_id AS VARCHAR) || '@pii.example.net now' END AS t
         |  FROM documents),
         |r1 AS (SELECT doc_id, len(regexp_extract_all(t, '${TextOps.ccRe}')) AS n_cc,
         |         regexp_replace(t, '${TextOps.ccRe}', '<CC>', 'g') AS t FROM aug),
         |r2 AS (SELECT doc_id, n_cc, len(regexp_extract_all(t, '${TextOps.ssnRe}')) AS n_ssn,
         |         regexp_replace(t, '${TextOps.ssnRe}', '<SSN>', 'g') AS t FROM r1),
         |r3 AS (SELECT doc_id, n_cc, n_ssn, len(regexp_extract_all(t, '${TextOps.ipv4Re}')) AS n_ip,
         |         regexp_replace(t, '${TextOps.ipv4Re}', '<IP>', 'g') AS t FROM r2),
         |r4 AS (SELECT doc_id, n_cc, n_ssn, n_ip, len(regexp_extract_all(t, '${TextOps.phoneRe}')) AS n_phone,
         |         regexp_replace(t, '${TextOps.phoneRe}', '<PHONE>', 'g') AS t FROM r3),
         |r5 AS (SELECT doc_id, n_cc, n_ssn, n_ip, n_phone, len(regexp_extract_all(t, '${TextOps.emailRe}')) AS n_email,
         |         regexp_replace(t, '${TextOps.emailRe}', '<EMAIL>', 'g') AS t FROM r4)
         |SELECT doc_id, t AS text_redacted, CAST(n_cc AS INT) AS n_cc,
         |  CAST(n_ssn AS INT) AS n_ssn, CAST(n_ip AS INT) AS n_ip,
         |  CAST(n_phone AS INT) AS n_phone, CAST(n_email AS INT) AS n_email
         |FROM r5 ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // HTML extraction: the identical synthesized markup through the
    // identical regex chain (comments -> script/style -> block tags ->
    // tags -> entity decode, &amp; LAST); title off the comment-free
    // form, tag/link counts off the script-free form
    "q_html_extract" ->
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
         |    || '</title><style>p { color: red }</style><script type="text/javascript">var x = 1; if (x < 2) { x = 2; }</script></head><body><h1>Doc '
         |    || CAST(doc_id AS VARCHAR) || '</h1><!-- hidden ' || CAST(doc_id AS VARCHAR)
         |    || ' --><p>' || text || '</p><a href="http://ex.com/p/' || CAST(doc_id AS VARCHAR) || '">more</a>'
         |    || CASE WHEN doc_id % 3 = 0 THEN '<ul><li>alpha &amp; beta</li><li>1 &lt; 2 &gt; 0</li></ul>' ELSE '' END
         |    || '</body></html>' AS h
         |  FROM documents),
         |c1 AS (SELECT doc_id, regexp_replace(h, '${TextOps.htmlCommentRe}', ' ', 'g') AS h FROM aug),
         |c2 AS (SELECT doc_id, h, regexp_replace(h, '${TextOps.htmlNonContentRe}', ' ', 'g') AS h2 FROM c1),
         |c3 AS (SELECT doc_id, h, h2,
         |         regexp_replace(regexp_replace(h2, '${TextOps.htmlBlockTagRe}', ' ', 'g'),
         |           '${TextOps.htmlTagRe}', ' ', 'g') AS h3 FROM c2),
         |c4 AS (SELECT doc_id, h, h2,
         |         replace(replace(replace(replace(replace(replace(h3,
         |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
         |           '&nbsp;', ' '), '&amp;', '&') AS h4 FROM c3)
         |SELECT doc_id,
         |  trim(regexp_extract(h, '${TextOps.htmlTitleRe}', 1)) AS title,
         |  trim(regexp_replace(h4, '[ \\t\\n\\r]+', ' ', 'g')) AS text_extracted,
         |  CAST(len(regexp_extract_all(h2, '${TextOps.htmlTagRe}')) AS INT) AS n_tags,
         |  CAST(len(regexp_extract_all(h2, '${TextOps.htmlAnchorRe}')) AS INT) AS n_links
         |FROM c4 ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // URL normalization: identical synthesized URLs through identical
    // regex/list canonicalization; blocklist hits on host OR domain
    "q_url_normalize" ->
      s"""WITH aug AS (
         |  SELECT doc_id, CASE
         |    WHEN doc_id % 5 = 0 THEN 'HTTPS://WWW.Example.COM:443/A/B/?utm_source=x&id=' || CAST(doc_id AS VARCHAR) || '#frag'
         |    WHEN doc_id % 5 = 1 THEN 'http://blog.Spam-Domain.net/post/' || CAST(doc_id AS VARCHAR) || '?gclid=abc&x=1&b=2'
         |    WHEN doc_id % 5 = 2 THEN 'https://sub.news.org/' || CAST(doc_id AS VARCHAR) || '/'
         |    WHEN doc_id % 5 = 3 THEN 'http://example.com:8080/p?b=2&a=1&utm_medium=m'
         |    ELSE 'https://cdn.example.com' END AS u
         |  FROM documents),
         |p AS (SELECT doc_id,
         |  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         |  regexp_replace(lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\\.', '') AS nw,
         |  regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
         |  coalesce(regexp_extract(u, '\\?([^#]*)', 1), '') AS rawq
         |  FROM aug),
         |h AS (SELECT doc_id, scheme,
         |  CASE WHEN scheme = 'http' THEN regexp_replace(nw, ':80$$', '')
         |       WHEN scheme = 'https' THEN regexp_replace(nw, ':443$$', '')
         |       ELSE nw END AS host, rawpath, rawq FROM p),
         |n AS (SELECT doc_id, scheme, host,
         |  CASE WHEN rawpath = '' THEN '/'
         |       WHEN rawpath <> '/' THEN regexp_replace(rawpath, '/$$', '')
         |       ELSE rawpath END AS pth,
         |  array_to_string(list_sort(list_filter(string_split(rawq, '&'),
         |    x -> x <> '' AND NOT regexp_matches(x, '${TextOps.trackingParamRe}'))), '&') AS q,
         |  regexp_replace(host, ':[0-9]+$$', '') AS barehost
         |  FROM h),
         |d AS (SELECT doc_id,
         |  scheme || '://' || host || pth || CASE WHEN q <> '' THEN '?' || q ELSE '' END AS url_norm,
         |  CASE WHEN regexp_matches(barehost, '[^.]+\\.[^.]+$$')
         |       THEN regexp_extract(barehost, '([^.]+\\.[^.]+)$$', 1) ELSE barehost END AS dom,
         |  barehost FROM n)
         |SELECT doc_id, url_norm, dom AS domain,
         |  CASE WHEN barehost IN ('spam-domain.net', 'cdn.example.com')
         |        OR dom IN ('spam-domain.net', 'cdn.example.com') THEN 1 ELSE 0 END AS blocked
         |FROM d ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // budget mixing: identical md5(id:salt) rank within each source,
    // identical id tiebreak; budgets as a VALUES table
    "q_mix_budget" ->
      """WITH r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || ':graft'), doc_id) AS rk
        |  FROM documents),
        |b(source, budget) AS (VALUES
        |  ('src0', 10), ('src1', 7), ('src2', 1000), ('src3', 0))
        |SELECT r.doc_id, r.source AS source, CAST(rk AS BIGINT) AS mix_rank
        |FROM r JOIN b ON r.source = b.source
        |WHERE rk <= budget
        |ORDER BY r.source ASC, mix_rank ASC LIMIT 500""".stripMargin,
    // token-budget mixing: the oracle replays the per-source md5 rank
    // as ONE global window with an exclusive token cumsum — the
    // blocked two-phase Spark shape must agree with the naive global
    // form exactly (the q_mix_budget discipline, in tokens)
    "q_mix_tokens" ->
      s"""WITH $toksCte,
         |r AS (SELECT d.doc_id, d.source,
         |    CAST(len(tk.t) AS BIGINT) AS n_tokens,
         |    md5(CAST(d.doc_id AS VARCHAR) || ':graft') AS rk
         |  FROM documents d JOIN toks tk USING (doc_id)),
         |c AS (SELECT doc_id, source, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY rk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tok_prefix,
         |    row_number() OVER (PARTITION BY source ORDER BY rk, doc_id)
         |      AS mr
         |  FROM r),
         |b(source, budget) AS (VALUES
         |  ('src0', 600), ('src1', 120), ('src2', 100000), ('src3', 0))
         |SELECT doc_id, c.source AS source, n_tokens, tok_prefix,
         |  CAST(mr AS BIGINT) AS mix_rank
         |FROM c JOIN b ON c.source = b.source
         |WHERE tok_prefix < budget
         |ORDER BY c.source ASC, mix_rank ASC LIMIT 500""".stripMargin,
    // temperature mixing: integer largest-remainder quotas over
    // sqrt-weights quantized at 2^20 (sqrt is correctly rounded in
    // every engine; the power-of-two scale is exact; everything after
    // is integer arithmetic), then the md5 mix rank
    "q_source_temperature" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY 1),
        |w AS (SELECT lang,
        |    CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1048576.0 + 0.5) AS BIGINT)
        |      AS wq
        |  FROM c),
        |tw AS (SELECT CAST(sum(wq) AS BIGINT) AS wtot FROM w),
        |s AS (SELECT lang, CAST((120 * wq) // wtot AS BIGINT) AS base,
        |    CAST((120 * wq) % wtot AS BIGINT) AS rem
        |  FROM w, tw),
        |rk AS (SELECT lang, base,
        |    row_number() OVER (ORDER BY rem DESC, lang ASC) AS rr
        |  FROM s),
        |lo AS (SELECT CAST(120 - sum(base) AS BIGINT) AS leftover FROM s),
        |q AS (SELECT lang,
        |    base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS quota
        |  FROM rk, lo),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':graft'), doc_id)
        |      AS mr
        |  FROM documents)
        |SELECT r.doc_id, r.lang AS lang, CAST(mr AS BIGINT) AS mix_rank
        |FROM r JOIN q ON r.lang = q.lang
        |WHERE mr <= quota
        |ORDER BY r.lang ASC, mix_rank ASC LIMIT 500""".stripMargin,
    "q_dsir_weights" ->
      s"""WITH $dsirCtes
         |SELECT bucket, lr_fp FROM wt
         |ORDER BY lr_fp DESC, bucket ASC LIMIT 200""".stripMargin,
    "q_dsir_sample" ->
      s"""WITH $dsirCtes,
         |sc AS (
         |  SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |    CAST(sum(lr_fp) AS BIGINT) AS w_fp
         |  FROM fb JOIN lab USING (doc_id) JOIN wt USING (bucket)
         |  WHERE NOT tgt GROUP BY 1),
         |al AS (
         |  SELECT d.doc_id, coalesce(sc.n_feats, 0) AS n_feats,
         |    coalesce(sc.w_fp, 0) AS w_fp
         |  FROM documents d JOIN lab USING (doc_id) LEFT JOIN sc USING (doc_id)
         |  WHERE NOT tgt)
         |SELECT doc_id, n_feats, w_fp FROM al
         |ORDER BY w_fp DESC, md5(CAST(doc_id AS VARCHAR) || ':dsir'), doc_id
         |LIMIT 100""".stripMargin,
    // the composed pipeline: the oracle chains the per-stage CTE
    // chains — the planted augmentation, the C4 line/doc rules, the
    // Gopher rules on the cleaned text, the fixed-point classifier
    // (weights from the RAW corpus = the prepared artifact) with the
    // above-survivor-mean gate, md5 min-id exact dedup, the MinHash
    // band/verify/recursive-components/argmax-keeper chain, the DSIR
    // fixed-point score of the CLEANED text under the corpus-trained
    // weight table (dsirCtes' wt), and the importance-ranked
    // per-source token-budget window. AS MATERIALIZED on every reused
    // stage boundary — inlined CTEs re-derive the whole upstream chain
    // per reference (107 s -> 3.6 s at sf0.01 when measured)
    "q_pipeline_e2e" -> pipelineOracleSql,
    // the parquet-boundary runner computes the SAME pipeline — one
    // oracle, two materialization policies (the parity the
    // PipelineBoundariesSpec pins row-for-row)
    "q_pipeline_boundaries" -> pipelineOracleSql,
    // the streaming door: the oracle replays the batch chain up to the
    // kept corpus (ndk — the prior the door's prepared artifacts
    // derive from), then the arrival drop through clean → gate →
    // intra-batch keeper → exact-vs-corpus → banded near-dup-vs-corpus
    // (verify on 60-bit hashed shingles, the same machinery) → the
    // inline DSIR fold. Chain interpolated outside stripMargin (see
    // pipelineOracleSql).
    "q_pipeline_stream" ->
      (s"WITH RECURSIVE $dsirCtes,\n$pipelineChainCtes,\n$doorChainCtes\n" +
      s"""SELECT s.doc_id, s.source, CAST(len(s.w) AS BIGINT) AS n_tokens,
         |  coalesce(d.w_fp, 0) AS w_fp
         |FROM surv2 s LEFT JOIN dsc2 d USING (doc_id)
         |ORDER BY s.doc_id ASC LIMIT 500""".stripMargin),
    // the corpus refresh: door survivors (the stream chain's surv2 +
    // dsc2 scores) merged with ndk's scored rows (dall), then the SAME
    // importance-ranked per-source token-budget window over the union
    // — absorb-then-mix must equal the mix over the combined corpus
    // (the from-scratch parity AbsorbSpec pins on the artifact side)
    "q_pipeline_absorb" ->
      (s"WITH RECURSIVE $dsirCtes,\n$pipelineChainCtes,\n$ndkScoreCtes,\n$doorChainCtes,\n" +
      s"""uall AS (
         |  SELECT doc_id, source, w_fp, n_tokens FROM dall
         |  UNION ALL
         |  SELECT s.doc_id, s.source, coalesce(d.w_fp, 0) AS w_fp,
         |    CAST(len(s.w) AS BIGINT) AS n_tokens
         |  FROM surv2 s LEFT JOIN dsc2 d USING (doc_id)),
         |pra AS (SELECT *, md5(CAST(doc_id AS VARCHAR) || ':graft') AS rk FROM uall),
         |cwina AS (SELECT doc_id, source, w_fp, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY w_fp DESC, rk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_prefix,
         |    row_number() OVER (PARTITION BY source ORDER BY w_fp DESC, rk, doc_id) AS mr
         |  FROM pra),
         |bgta(source, budget) AS (VALUES ('src5', 800), ('src6', 400),
         |  ('src7', 200), ('src8', 0))
         |SELECT doc_id, cwina.source AS source, w_fp, n_tokens,
         |  tok_prefix, CAST(mr AS BIGINT) AS mix_rank
         |FROM cwina JOIN bgta ON cwina.source = bgta.source
         |WHERE tok_prefix < budget
         |ORDER BY cwina.source ASC, mix_rank ASC LIMIT 500""".stripMargin),
    // two refresh generations composed: even half-drop vs the frozen
    // corpus, artifacts extended with its survivors, odd half-drop vs
    // the EXTENDED artifacts (cross-drop dups caught there), then the
    // same importance-ranked token-budget window over all three kept
    // sets — absorb∘absorb must equal the mix over the union
    "q_pipeline_refresh" ->
      (s"WITH RECURSIVE $dsirCtes,\n$pipelineChainCtes,\n$ndkScoreCtes,\n$refreshChainCtes,\n" +
      s"""uall2 AS (
         |  SELECT doc_id, source, w_fp, n_tokens FROM dall
         |  UNION ALL
         |  SELECT s.doc_id, s.source, coalesce(d.w_fp, 0) AS w_fp,
         |    CAST(len(s.w) AS BIGINT) AS n_tokens
         |  FROM survd1 s LEFT JOIN dscd1 d USING (doc_id)
         |  UNION ALL
         |  SELECT s.doc_id, s.source, coalesce(d.w_fp, 0) AS w_fp,
         |    CAST(len(s.w) AS BIGINT) AS n_tokens
         |  FROM survd2 s LEFT JOIN dscd2 d USING (doc_id)),
         |prr AS (SELECT *, md5(CAST(doc_id AS VARCHAR) || ':graft') AS rk FROM uall2),
         |cwinr AS (SELECT doc_id, source, w_fp, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY w_fp DESC, rk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_prefix,
         |    row_number() OVER (PARTITION BY source ORDER BY w_fp DESC, rk, doc_id) AS mr
         |  FROM prr),
         |bgtr(source, budget) AS (VALUES ('src5', 800), ('src6', 400),
         |  ('src7', 200), ('src8', 0))
         |SELECT doc_id, cwinr.source AS source, w_fp, n_tokens,
         |  tok_prefix, CAST(mr AS BIGINT) AS mix_rank
         |FROM cwinr JOIN bgtr ON cwinr.source = bgtr.source
         |WHERE tok_prefix < budget
         |ORDER BY cwinr.source ASC, mix_rank ASC LIMIT 500""".stripMargin),
    // the door-side mega-bucket guard's NO-FIRE invariant under the
    // oracle gate: the bucket population and max size are replayed
    // from the prepared corpus' band buckets (bandedk — exactly the
    // buckets the incremental candidate join uses), and the capped
    // counters are pinned to literal ZERO — if the guard ever fires
    // at a contract scale, Spark's counters diverge and the row fails
    "q_door_guard" ->
      (s"WITH RECURSIVE $dsirCtes,\n$pipelineChainCtes,\n$doorChainCtes,\n" +
      s"""bcnt AS (SELECT b, k1, k2, count(*) AS n
         |  FROM bandedk GROUP BY 1, 2, 3)
         |SELECT CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(max(n) AS BIGINT) AS max_bucket,
         |  CAST(0 AS BIGINT) AS n_capped,
         |  CAST(0 AS BIGINT) AS pairs_dropped
         |FROM bcnt""".stripMargin),
    // DSIR × token-budget composition: the oracle replays the
    // importance-ranked per-source rank as ONE global window with an
    // exclusive token cumsum — the score-blocked two-phase Spark shape
    // must agree with the naive global form exactly (the q_mix_tokens
    // discipline, ranked by (w_fp desc, md5, id))
    "q_dsir_mix" ->
      s"""WITH $dsirCtes,
         |sc AS (
         |  SELECT fb.doc_id, CAST(sum(lr_fp) AS BIGINT) AS w_fp
         |  FROM fb JOIN lab USING (doc_id) JOIN wt USING (bucket)
         |  WHERE NOT tgt GROUP BY 1),
         |al AS (
         |  SELECT d.doc_id, d.source, coalesce(sc.w_fp, 0) AS w_fp
         |  FROM documents d JOIN lab USING (doc_id) LEFT JOIN sc USING (doc_id)
         |  WHERE NOT tgt),
         |tk AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM toks),
         |r AS (SELECT al.doc_id, al.source, al.w_fp, tk.n_tokens,
         |    md5(CAST(al.doc_id AS VARCHAR) || ':graft') AS rk
         |  FROM al JOIN tk USING (doc_id)),
         |c AS (SELECT doc_id, source, w_fp, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY w_fp DESC, rk, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS tok_prefix,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY w_fp DESC, rk, doc_id) AS mr
         |  FROM r),
         |b(source, budget) AS (VALUES ('src5', 700), ('src6', 120),
         |  ('src7', 0))
         |SELECT doc_id, c.source AS source, w_fp, n_tokens, tok_prefix,
         |  CAST(mr AS BIGINT) AS mix_rank
         |FROM c JOIN b ON c.source = b.source
         |WHERE tok_prefix < budget
         |ORDER BY c.source ASC, mix_rank ASC LIMIT 500""".stripMargin,
    // the streamed rows are the first 200 raw-pool docs through the
    // same weight table, so the batch score applies verbatim
    "q_dsir_stream" ->
      s"""WITH $dsirCtes,
         |pool AS (
         |  SELECT d.doc_id FROM documents d JOIN lab USING (doc_id)
         |  WHERE NOT tgt ORDER BY d.doc_id ASC LIMIT 200),
         |sc AS (
         |  SELECT fb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |    CAST(sum(lr_fp) AS BIGINT) AS w_fp
         |  FROM fb JOIN pool USING (doc_id) JOIN wt USING (bucket)
         |  GROUP BY 1)
         |SELECT p.doc_id, coalesce(sc.n_feats, 0) AS n_feats,
         |  coalesce(sc.w_fp, 0) AS w_fp
         |FROM pool p LEFT JOIN sc USING (doc_id)
         |ORDER BY p.doc_id ASC""".stripMargin,
    // C4 line/doc cleaning: identical augmented text (the five-line
    // block is interpolated from the SAME Scala constant the query
    // uses), identical line rules; the terminal-punct regex is
    // TextOps.c4TerminalRe with the quote SQL-doubled
    "q_c4_clean" -> {
      val five = ("One good line ends here. A second sentence follows now. " +
        "Then a third one lands. Afterwards a fourth arrives. " +
        "Finally a fifth closes.").replace(". ", ".\n")
      def sqlLines(block: String): String =
        block.split("\n").map(l => s"'$l'").mkString(" || chr(10) || ")
      s"""WITH aug AS (
         |  SELECT doc_id, CASE
         |    WHEN doc_id % 6 = 0 THEN text || chr(10) || ${sqlLines(five)}
         |    WHEN doc_id % 6 = 1 THEN text || chr(10) || 'var x = {1};' || chr(10) || ${sqlLines(five)}
         |    WHEN doc_id % 6 = 2 THEN text || chr(10) || 'Lorem Ipsum dolor sit amet.' || chr(10) || ${sqlLines(five)}
         |    WHEN doc_id % 6 = 3 THEN text || chr(10) || 'please enable javascript to view this page.' || chr(10) || ${sqlLines(five)}
         |    WHEN doc_id % 6 = 4 THEN text || chr(10) || 'Short one.'
         |    ELSE text END AS t
         |  FROM documents),
         |ln AS (SELECT doc_id, t,
         |  list_filter(string_split(t, chr(10)), l -> l <> '') AS lines FROM aug),
         |kp AS (SELECT doc_id, t, lines,
         |  coalesce(array_to_string(
         |    list_filter(lines, l -> regexp_matches(trim(l), '[.!?]["'']?$$')
         |      AND len(list_filter(string_split_regex(trim(l), '[ \\t]+'), w -> w <> '')) >= 3
         |      AND NOT contains(lower(l), 'javascript')), chr(10)), '') AS joined,
         |  len(list_filter(lines, l -> regexp_matches(trim(l), '[.!?]["'']?$$')
         |      AND len(list_filter(string_split_regex(trim(l), '[ \\t]+'), w -> w <> '')) >= 3
         |      AND NOT contains(lower(l), 'javascript'))) AS nk FROM ln),
         |m AS (SELECT doc_id,
         |  CAST(len(lines) AS INT) AS n_lines,
         |  CAST(nk AS INT) AS n_kept,
         |  CAST(len(regexp_extract_all(joined, '[.!?]')) AS INT) AS n_sentences,
         |  CASE WHEN contains(t, '{') THEN 1 ELSE 0 END AS has_brace,
         |  CASE WHEN contains(lower(t), 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem,
         |  md5(joined) AS c4_md5
         |  FROM kp)
         |SELECT doc_id, n_lines, n_kept, n_sentences, has_brace, has_lorem,
         |  CASE WHEN has_brace = 0 AND has_lorem = 0 AND n_sentences >= 5
         |       THEN 1 ELSE 0 END AS kept,
         |  c4_md5
         |FROM m ORDER BY doc_id ASC LIMIT 200""".stripMargin
    },
    // Gopher-rules gate: identical augmented text, identical token /
    // line lists, rule bits on the UNROUNDED intermediates
    "q_gopher_gate" ->
      s"""WITH aug AS (
         |  SELECT doc_id, CASE
         |    WHEN doc_id % 7 = 0 THEN text || chr(10) || '- bullet one' || chr(10) || '- bullet two' || chr(10) || '* bullet three'
         |    WHEN doc_id % 7 = 1 THEN text || ' ### #### ## # #'
         |    WHEN doc_id % 7 = 2 THEN text || chr(10) || 'to be continued...' || chr(10) || 'and more…' || chr(10) || 'plain line'
         |    WHEN doc_id % 7 = 3 THEN 'the be to of and that have with ' || text
         |    WHEN doc_id % 7 = 4 THEN text || ' 12345 67890 11111 22222 33333 44444'
         |    ELSE text END AS t
         |  FROM documents),
         |tok AS (SELECT doc_id, t,
         |  list_filter(string_split_regex(lower(t), '[^a-z0-9]+'), x -> x <> '') AS w,
         |  list_filter(string_split(t, chr(10)), l -> l <> '') AS ls FROM aug),
         |m AS (SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_words,
         |  CAST(coalesce(list_sum(list_transform(w, x -> length(x))), 0) AS DOUBLE) / greatest(len(w), 1) AS mean_len,
         |  CAST(len(regexp_extract_all(t, '#')) + len(regexp_extract_all(t, '\\.\\.\\.')) + len(regexp_extract_all(t, '…')) AS DOUBLE) / greatest(len(w), 1) AS sym,
         |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE) / greatest(len(w), 1) AS alpha,
         |  CAST(len(list_filter(list_distinct(w), x -> x IN ('the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'))) AS INT) AS stop_hits,
         |  CAST(len(list_filter(ls, l -> regexp_matches(l, '^[ \\t]*[-*] '))) AS DOUBLE) / greatest(len(ls), 1) AS bullet,
         |  CAST(len(list_filter(ls, l -> regexp_matches(l, '(\\.\\.\\.|…)[ \\t]*$$'))) AS DOUBLE) / greatest(len(ls), 1) AS ellipsis
         |  FROM tok)
         |SELECT doc_id, n_words, round(mean_len, 6) AS mean_word_len,
         |  round(sym, 6) AS symbol_ratio, round(alpha, 6) AS alpha_frac,
         |  stop_hits AS n_stop_hits, round(bullet, 6) AS bullet_frac,
         |  round(ellipsis, 6) AS ellipsis_frac,
         |  CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END AS r_words,
         |  CASE WHEN mean_len >= 3.0 AND mean_len <= 10.0 THEN 1 ELSE 0 END AS r_mean_len,
         |  CASE WHEN sym <= 0.1 THEN 1 ELSE 0 END AS r_symbols,
         |  CASE WHEN alpha >= 0.8 THEN 1 ELSE 0 END AS r_alpha,
         |  CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS r_stop,
         |  CASE WHEN bullet <= 0.9 THEN 1 ELSE 0 END AS r_bullets,
         |  CASE WHEN ellipsis <= 0.3 THEN 1 ELSE 0 END AS r_ellipsis,
         |  CASE WHEN n_words >= 50 AND n_words <= 100000
         |        AND mean_len >= 3.0 AND mean_len <= 10.0 AND sym <= 0.1
         |        AND alpha >= 0.8 AND stop_hits >= 2 AND bullet <= 0.9
         |        AND ellipsis <= 0.3 THEN 1 ELSE 0 END AS kept
         |FROM m ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // concat-and-chunk packing: global token offsets in doc-id order,
    // then 128-token sequence spans; the oracle's single ordered window
    // is the semantic spec the blocked prefix-sum must reproduce
    "q_pack_sequences" ->
      s"""WITH $toksCte,
         |c AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM toks),
         |s AS (SELECT doc_id, n,
         |  CAST(sum(n) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n AS st
         |  FROM c)
         |SELECT doc_id, n AS n_tokens, st AS start_offset,
         |  st // 128 AS first_seq,
         |  greatest(st, st + n - 1) // 128 AS last_seq,
         |  greatest(st, st + n - 1) // 128 - st // 128 + 1 AS n_seqs
         |FROM s ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // materialized packing: every token takes its global offset, groups
    // by 128-token sequence, text reassembled in position order
    "q_packed_texts" ->
      s"""WITH $toksCte,
         |c AS (SELECT doc_id, t, CAST(len(t) AS BIGINT) AS n FROM toks),
         |s AS (SELECT doc_id, t, n,
         |  CAST(sum(n) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - n AS st
         |  FROM c),
         |pos AS (
         |  SELECT st + i AS p, t[i + 1] AS tok
         |  FROM (SELECT st, t, unnest(range(len(t))) AS i FROM s))
         |SELECT p // 128 AS seq_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  md5(string_agg(tok, ' ' ORDER BY p)) AS seq_md5
         |FROM pos GROUP BY 1 ORDER BY seq_id ASC LIMIT 200""".stripMargin,
    // line-level dedup over 8-token pseudo-lines; the clean_hash column
    // pins the exact reassembled text, order included
    "q_line_dedup" ->
      s"""WITH $toksCte,
         |lines AS (
         |  SELECT doc_id, i AS li, array_to_string(t[8*i+1 : 8*i+8], ' ') AS line
         |  FROM (SELECT doc_id, t, unnest(range((len(t) + 7) // 8)) AS i FROM toks)),
         |cnt AS (SELECT md5(line) AS lh, count(DISTINCT doc_id) AS nd
         |        FROM lines GROUP BY 1),
         |j AS (SELECT doc_id, li, line, nd
         |      FROM lines JOIN cnt ON md5(lines.line) = cnt.lh),
         |g AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
         |    CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
         |    md5(coalesce(string_agg(line, ' ' ORDER BY li) FILTER (WHERE nd <= 1), ''))
         |      AS clean_hash
         |  FROM j GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(g.n_lines, 0) AS n_lines,
         |  coalesce(g.n_dup_lines, 0) AS n_dup_lines,
         |  coalesce(g.clean_hash, md5('')) AS clean_hash
         |FROM documents d LEFT JOIN g USING (doc_id)
         |ORDER BY d.doc_id ASC LIMIT 200""".stripMargin,
    // ExactSubstr replay: duplicated 13-gram starts, running-max
    // coverage (covered iff max duplicated start <= p is >= p-12),
    // ordered reassembly of survivors, clean text hash-pinned
    "q_substring_dedup" ->
      s"""WITH $toksCte,
         |grams AS (
         |  SELECT doc_id, i AS s0, md5(array_to_string(t[i+1 : i+13], ' ')) AS gh
         |  FROM (SELECT doc_id, t, unnest(range(len(t) - 12)) AS i FROM toks)),
         |cnt AS (SELECT gh, count(*) AS n FROM grams GROUP BY 1),
         |ds AS (SELECT doc_id, s0 FROM grams JOIN cnt USING (gh) WHERE n > 1),
         |tok AS (SELECT doc_id, i AS p, t[i+1] AS tok
         |        FROM (SELECT doc_id, t, unnest(range(len(t))) AS i FROM toks)),
         |m AS (
         |  SELECT tok.doc_id, p, tok.tok AS tok, max(ds.s0) OVER (
         |      PARTITION BY tok.doc_id ORDER BY p
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmax
         |  FROM tok LEFT JOIN ds ON ds.doc_id = tok.doc_id AND ds.s0 = tok.p),
         |g AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(CASE WHEN runmax IS NOT NULL AND runmax >= p - 12
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |    md5(coalesce(string_agg(tok, ' ' ORDER BY p)
         |      FILTER (WHERE runmax IS NULL OR runmax < p - 12), ''))
         |      AS clean_hash
         |  FROM m GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(g.n_tokens, 0) AS n_tokens,
         |  coalesce(g.n_removed, 0) AS n_removed,
         |  coalesce(g.clean_hash, md5('')) AS clean_hash
         |FROM documents d LEFT JOIN g USING (doc_id)
         |ORDER BY d.doc_id ASC LIMIT 200""".stripMargin,
    "q_bloom_members" ->
      s"""WITH $toksCte,
         |p0 AS (SELECT doc_id, unnest(t) AS term FROM toks),
         |g AS (SELECT term, doc_id FROM p0 GROUP BY 1, 2),
         |top AS (SELECT term, count(*) AS tf FROM g GROUP BY term
         |        ORDER BY tf DESC, term ASC LIMIT 50)
         |SELECT term, true AS first_in, true AS last_in, true AS all_in
         |FROM top ORDER BY term ASC""".stripMargin,
    "q_media_stats" ->
      """WITH m AS (
        |  SELECT doc_id, text, length(text) AS n,
        |    list_transform(range(1, length(text) + 1),
        |                   i -> ascii(substr(text, i, 1))) AS codes
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(n AS INT) AS n_bytes,
        |  md5(text) AS media_md5,
        |  round(CAST(len(list_filter(codes, c -> c // 16 = 2)) AS DOUBLE)
        |    / CAST(greatest(n, 1) AS DOUBLE), 6) AS hist_space,
        |  round(CAST(len(list_filter(codes, c -> c // 16 = 6)) AS DOUBLE)
        |    / CAST(greatest(n, 1) AS DOUBLE), 6) AS hist_low,
        |  md5(substr(text, 1, n // 3)) AS frame0,
        |  md5(substr(text, (2 * n) // 3 + 1, n - (2 * n) // 3)) AS frame2
        |FROM m ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    "q_simhash" ->
      s"""WITH $toksCte
         |SELECT doc_id,
         |  array_to_string(list_transform(range(1, 17), p ->
         |    CASE WHEN list_sum(list_transform(t, tok ->
         |      CASE WHEN ('0x' || substr(md5(tok), p, 1))::BIGINT >= 8 THEN 1 ELSE -1 END)) > 0
         |    THEN '1' ELSE '0' END), '') AS simhash
         |FROM toks
         |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // 64-bit shingle-SimHash near-dup pairs: the oracle replays the
    // signature (bit p = vote by hex char p of md5(g)||md5('#'||g)),
    // the 8x8-bit banding, and the exact hamming verify
    "q_simhash_pairs" ->
      s"""WITH $toksCte, $shinglesCte,
         |sig AS (
         |  SELECT doc_id, array_to_string(list_transform(range(1, 65), p ->
         |    CASE WHEN list_sum(list_transform(s, g ->
         |      CASE WHEN ('0x' || substr(md5(g) || md5('#' || g), p, 1))::BIGINT >= 8 THEN 1 ELSE -1 END)) > 0
         |    THEN '1' ELSE '0' END), '') AS sg
         |  FROM sh),
         |bk AS (
         |  SELECT doc_id, sg, bi, substr(sg, bi * 16 + 1, 16) AS key
         |  FROM (SELECT doc_id, sg, unnest(range(4)) AS bi FROM sig)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    a.sg AS sa, b.sg AS sb
         |  FROM bk a JOIN bk b
         |    ON a.bi = b.bi AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b,
         |  CAST(list_sum(list_transform(range(64), i ->
         |    CASE WHEN substr(sa, i + 1, 1) <> substr(sb, i + 1, 1) THEN 1 ELSE 0 END)) AS INT) AS hamming
         |FROM cand
         |WHERE list_sum(list_transform(range(64), i ->
         |    CASE WHEN substr(sa, i + 1, 1) <> substr(sb, i + 1, 1) THEN 1 ELSE 0 END)) <= 3
         |ORDER BY doc_a ASC, doc_b ASC""".stripMargin,
    // decoded-pixel channel means of the synthesized gradient PNGs in
    // closed form: r depends only on x, g only on y, b is constant
    "q_media_decode" ->
      s"""SELECT doc_id,
         |  CAST($imgW AS INT) AS w, CAST($imgH AS INT) AS h,
         |  round((SELECT avg(CAST((doc_id + i.range) % 256 AS DOUBLE))
         |         FROM range($imgW) i), 6) AS mean_r,
         |  round((SELECT avg(CAST((3 * doc_id + 5 * i.range) % 256 AS DOUBLE))
         |         FROM range($imgH) i), 6) AS mean_g,
         |  round(CAST((7 * doc_id) % 256 AS DOUBLE), 6) AS mean_b
         |FROM documents
         |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // NN thumbnail samples source pixels at x-stride imgW/thumbW and
    // y-stride imgH/thumbH: means in closed form from the gradient
    // construction r=(d+x)%256, g=(3d+5y)%256, b=7d%256
    "q_media_resize" ->
      s"""SELECT doc_id,
         |  CAST($thumbW AS INT) AS w, CAST($thumbH AS INT) AS h,
         |  round((SELECT avg(CAST((doc_id + ${imgW / thumbW} * i.range) % 256 AS DOUBLE))
         |         FROM range($thumbW) i), 6) AS mean_r,
         |  round((SELECT avg(CAST((3 * doc_id + ${5 * (imgH / thumbH)} * i.range) % 256 AS DOUBLE))
         |         FROM range($thumbH) i), 6) AS mean_g,
         |  round(CAST((7 * doc_id) % 256 AS DOUBLE), 6) AS mean_b
         |FROM documents
         |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // dHash replay: 64 bits from the gradient construction, bit i
    // (row-major, i = y*8 + x) compares gray at grid columns x+1 and x
    // with sx = (x * imgW) div 9; nibbles hex-encode MSB-first
    "q_media_phash" ->
      s"""WITH d AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200),
         |pos AS (SELECT doc_id, unnest(range(64)) AS i FROM d),
         |b AS (SELECT doc_id, i,
         |  CASE WHEN
         |    ((doc_id + ((((i % 8) + 1) * $imgW) // 9)) % 256
         |      + (3 * doc_id + 5 * (i // 8)) % 256 + (7 * doc_id) % 256) // 3
         |    >
         |    ((doc_id + (((i % 8) * $imgW) // 9)) % 256
         |      + (3 * doc_id + 5 * (i // 8)) % 256 + (7 * doc_id) % 256) // 3
         |  THEN 1 ELSE 0 END AS bit FROM pos),
         |nib AS (SELECT doc_id, i // 4 AS n,
         |  sum(bit * CASE i % 4 WHEN 0 THEN 8 WHEN 1 THEN 4 WHEN 2 THEN 2
         |            ELSE 1 END) AS v
         |  FROM b GROUP BY doc_id, i // 4),
         |hx AS (SELECT doc_id,
         |  string_agg(substr('0123456789abcdef', CAST(v AS INT) + 1, 1),
         |    '' ORDER BY n) AS dhash
         |  FROM nib GROUP BY doc_id)
         |SELECT doc_id, dhash FROM hx ORDER BY doc_id ASC""".stripMargin,
    // WAV corpus construction: 64 mono frames alternating +a1, -a2
    // with a1 = 1000 + d % 500, a2 = d % 499 -> peak = a1,
    // rms = sqrt((a1^2 + a2^2) / 2), all closed-form in doc_id
    "q_media_wav" ->
      """SELECT doc_id,
        |  CAST(1 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
        |  CAST(16 AS INT) AS bits, CAST(64 AS BIGINT) AS n_samples,
        |  CAST(1000 + doc_id % 500 AS INT) AS peak,
        |  round(sqrt((pow(1000 + doc_id % 500, 2) + pow(doc_id % 499, 2)) / 2.0), 6) AS rms
        |FROM documents
        |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // MP4 corpus construction: ticks = 600 + d % 9999 at timescale
    // 600 (even d, mvhd v0) / 90000 (odd d, v1 + moov-after-mdat),
    // two tracks, video track (160 + d%32*8) x (90 + d%18*8)
    // sample table: 24 + d % 48 samples; even docs uniform stsz
    // (500 + d % 250 each), odd docs per-sample table 500 + (d+i) % 250
    "q_media_mp4" ->
      """WITH smp AS (
        |  SELECT doc_id, unnest(range(24 + doc_id % 48)) AS i FROM documents),
        |tb AS (
        |  SELECT doc_id, CAST(sum(500 + (doc_id + i) % 250) AS BIGINT) AS tbl_bytes
        |  FROM smp GROUP BY doc_id)
        |SELECT doc_id, 'isom' AS brand, CAST(2 AS INT) AS n_tracks,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 600 ELSE 90000 END AS INT) AS timescale,
        |  round((600 + doc_id % 9999) * 1000.0
        |    / CASE WHEN doc_id % 2 = 0 THEN 600 ELSE 90000 END, 6) AS duration_ms,
        |  CAST(160 + (doc_id % 32) * 8 AS INT) AS w,
        |  CAST(90 + (doc_id % 18) * 8 AS INT) AS h,
        |  CAST(24 + doc_id % 48 AS INT) AS n_samples,
        |  CAST(CASE WHEN doc_id % 2 = 0
        |       THEN (24 + doc_id % 48) * (500 + doc_id % 250)
        |       ELSE tbl_bytes END AS BIGINT) AS total_bytes,
        |  round(CAST(CASE WHEN doc_id % 2 = 0
        |       THEN (24 + doc_id % 48) * (500 + doc_id % 250)
        |       ELSE tbl_bytes END AS DOUBLE) / (24 + doc_id % 48), 6) AS avg_bytes,
        |  CASE WHEN doc_id % 2 = 0 THEN 'avc1' ELSE 'hev1' END AS codec
        |FROM documents JOIN tb USING (doc_id)
        |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // MP3 corpus construction: 5 + d % 7 MPEG-1 L3 frames at 44100 Hz,
    // frame i at [128,160,192,224][(d + i) % 4] kbps (VBR mean below)
    "q_media_mp3" ->
      """WITH fr AS (
        |  SELECT doc_id, unnest(range(5 + doc_id % 7)) AS i FROM documents),
        |mb AS (
        |  SELECT doc_id,
        |    avg(list_value(128, 160, 192, 224)[1 + (doc_id + i) % 4]) AS kbps
        |  FROM fr GROUP BY doc_id)
        |SELECT doc_id,
        |  CAST(5 + doc_id % 7 AS INT) AS n_frames,
        |  CAST(44100 AS INT) AS sample_rate,
        |  round((5 + doc_id % 7) * 1152.0 / 44100, 6) AS duration_s,
        |  round(kbps, 6) AS mean_kbps
        |FROM documents JOIN mb USING (doc_id)
        |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // animated-GIF corpus construction: frame k of doc d is the solid
    // color ((d+31k)%256, (2d+17k)%256, (5d+3k)%256); sampled frame
    // indices on the i*n/k grid with n=4, k=2 are 0 and 2
    "q_media_gif" ->
      """SELECT doc_id, CAST(4 AS INT) AS n_frames,
        |  round(CAST(doc_id % 256 AS DOUBLE), 6) AS f0_r,
        |  round(CAST((2 * doc_id) % 256 AS DOUBLE), 6) AS f0_g,
        |  round(CAST((5 * doc_id) % 256 AS DOUBLE), 6) AS f0_b,
        |  round(CAST((doc_id + 62) % 256 AS DOUBLE), 6) AS f1_r,
        |  round(CAST((2 * doc_id + 34) % 256 AS DOUBLE), 6) AS f1_g,
        |  round(CAST((5 * doc_id + 6) % 256 AS DOUBLE), 6) AS f1_b
        |FROM documents
        |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // cross-modal image SemDeDup: the oracle replays the whole path in
    // closed form — pixel value = top byte of the Knuth multiplicative
    // hash of the seed d*128 + sy*16 + sx (planted docs read neighbor
    // d+100 with the (0,0)+1 bump), thumbnail cell i samples
    // (sx, sy) = (2*(i%8), i//8), embedding = gray - mean (exact in
    // double AND float: multiples of 1/64 under 2^14), then the shared
    // hyperplane band chain, 4-band candidate union, and the identical
    // rounded cosine verify
    "q_image_semdedup" -> {
      // two-round mix, matching imgSemPix: h1 = Knuth multiply mod
      // 2^32; v = top byte of (xor(h1, h1 >> 16) * 2246822519) mod
      // 2^32. The second multiply can reach ~9.6e18 > INT64 — DuckDB
      // errors on BIGINT overflow (Scala Longs wrap, and the mod 2^32
      // makes the wrap harmless), so it runs in HUGEINT
      def vOf(src: String): String = {
        val h1 = s"((($src * 128 + (i // 8) * 16 + 2 * (i % 8)) * 2654435761) % 4294967296)"
        s"CAST(((CAST(xor($h1, $h1 // 65536) AS HUGEINT) * 2246822519) % 4294967296) // 16777216 AS BIGINT)"
      }
      s"""WITH ids AS (SELECT doc_id FROM documents ORDER BY doc_id LIMIT 200),
         |cell AS (SELECT doc_id, unnest(range(64)) AS i FROM ids),
         |pv AS (
         |  SELECT doc_id, i,
         |    CASE WHEN doc_id % 5 = 0 AND doc_id < 100 THEN
         |      CASE WHEN i = 0 THEN (${vOf("(doc_id + 100)")} + 1) % 256
         |      ELSE ${vOf("(doc_id + 100)")} END
         |    ELSE ${vOf("doc_id")} END AS v
         |  FROM cell),
         |mu AS (SELECT doc_id, sum(v) / 64.0 AS m FROM pv GROUP BY 1),
         |iemb AS (
         |  SELECT pv.doc_id, list(CAST(v AS DOUBLE) - m ORDER BY i) AS embedding
         |  FROM pv JOIN mu USING (doc_id) GROUP BY pv.doc_id, m),
         |${VectorQueries.sigCtesOn("iemb", "doc_id")},
         |cand AS (
         |  SELECT DISTINCT doc_a, doc_b FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sigb a
         |      JOIN sigb b ON a.band0 = b.band0 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sigb a
         |      JOIN sigb b ON a.band1 = b.band1 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sigb a
         |      JOIN sigb b ON a.band2 = b.band2 AND a.doc_id < b.doc_id
         |    UNION
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sigb a
         |      JOIN sigb b ON a.band3 = b.band3 AND a.doc_id < b.doc_id))
         |SELECT doc_a, doc_b, round(${VectorQueries.cosPairExpr}, 6) AS dist
         |FROM cand
         |JOIN iemb ea ON ea.doc_id = doc_a
         |JOIN iemb eb ON eb.doc_id = doc_b
         |WHERE round(${VectorQueries.cosPairExpr}, 6) <= 0.2
         |ORDER BY doc_a ASC, doc_b ASC LIMIT 500""".stripMargin
    },
    // 13-gram benchmark decontamination: bench = doc_id % 10 == 7;
    // unnest(range(...)) because DuckDB's range TABLE function rejects
    // lateral column args (scalar range + unnest does not)
    "q_decontaminate" ->
      s"""WITH $toksCte,
         |grams AS (
         |  SELECT doc_id, array_to_string(t[i + 1 : i + 13], ' ') AS gram
         |  FROM (SELECT doc_id, t, unnest(range(len(t) - 12)) AS i FROM toks)),
         |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 7),
         |hits AS (
         |  SELECT g.doc_id, count(DISTINCT g.gram) AS n_contaminated
         |  FROM grams g JOIN bench b USING (gram)
         |  WHERE g.doc_id % 10 <> 7 GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(h.n_contaminated, 0) AS n_contaminated,
         |  coalesce(h.n_contaminated, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN hits h USING (doc_id)
         |WHERE d.doc_id % 10 <> 7
         |ORDER BY d.doc_id ASC LIMIT 200""".stripMargin,
    // LM-coverage quality gate: transitions of non-reference docs
    // scored against the bigram table of the doc_id % 10 == 3 slice;
    // all integers (plus one exact division) — float-order-proof
    "q_lm_coverage" ->
      s"""WITH $toksCte,
         |g AS (
         |  SELECT doc_id,
         |    list_transform(range(greatest(len(t) - 1, 0)),
         |      i -> t[i + 1] || ' ' || t[i + 2]) AS gs
         |  FROM toks),
         |refc AS (
         |  SELECT gram, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(gs) AS gram FROM g WHERE doc_id % 10 = 3)
         |  GROUP BY gram),
         |tg AS (SELECT doc_id, unnest(gs) AS gram FROM g WHERE doc_id % 10 <> 3),
         |agg AS (
         |  SELECT tg.doc_id, CAST(count(*) AS BIGINT) AS n_transitions,
         |    CAST(count(refc.c) AS BIGINT) AS n_attested,
         |    CAST(sum(coalesce(refc.c, 0)) AS BIGINT) AS attested_occurrences,
         |    round(CAST(count(refc.c) AS DOUBLE) / greatest(count(*), 1), 6) AS attested_frac
         |  FROM tg LEFT JOIN refc USING (gram) GROUP BY tg.doc_id)
         |SELECT d.doc_id,
         |  coalesce(agg.n_transitions, 0) AS n_transitions,
         |  coalesce(agg.n_attested, 0) AS n_attested,
         |  coalesce(agg.attested_occurrences, 0) AS attested_occurrences,
         |  coalesce(agg.attested_frac, 0.0) AS attested_frac
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |WHERE d.doc_id % 10 <> 3
         |ORDER BY d.doc_id ASC LIMIT 200""".stripMargin,
    // Gopher-family repetition metrics, token-occurrence-weighted
    "q_quality_repetition" ->
      s"""WITH $toksCte,
         |g2 AS (SELECT doc_id, array_to_string(t[i+1:i+2], ' ') AS g
         |       FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM toks)),
         |c2 AS (SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top2
         |       FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2)
         |       GROUP BY 1),
         |g3 AS (SELECT doc_id, array_to_string(t[i+1:i+3], ' ') AS g
         |       FROM (SELECT doc_id, t, unnest(range(len(t) - 2)) AS i FROM toks)),
         |c3 AS (SELECT doc_id,
         |         CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c) AS dup3
         |       FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2)
         |       GROUP BY 1)
         |SELECT d.doc_id,
         |  round(coalesce(c2.top2, 0), 6) AS top_2gram_frac,
         |  round(coalesce(c3.dup3, 0), 6) AS dup_3gram_frac
         |FROM documents d
         |LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
         |ORDER BY d.doc_id ASC LIMIT 200""".stripMargin,
    // corpus-wide top-20 2-grams; ties broken by gram text
    "q_corpus_ngrams" ->
      s"""WITH $toksCte,
         |g2 AS (SELECT array_to_string(t[i+1:i+2], ' ') AS gram
         |       FROM (SELECT t, unnest(range(len(t) - 1)) AS i FROM toks))
         |SELECT gram, count(*) AS cnt FROM g2
         |GROUP BY 1 ORDER BY cnt DESC, gram ASC LIMIT 20""".stripMargin,
    // deterministic md5-bucket stratified sampling: thresholds are the
    // exact integers rate x 10000 (rates are binary fractions)
    "q_quality_classifier" ->
      s"""WITH $toksCte,
         |btok AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(unnest(t)), 1, 15))::BIGINT % 4096 AS bucket
         |  FROM toks),
         |lab AS (
         |  SELECT doc_id,
         |    source IN ('src0','src1','src2','src3','src4') AS pos
         |  FROM documents),
         |counts AS (
         |  SELECT bucket,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
         |  FROM btok JOIN lab USING (doc_id) GROUP BY bucket),
         |w AS (SELECT bucket, (cp + 1) * 1000000 // (cp + cn + 2) AS weight
         |      FROM counts),
         |scored AS (
         |  SELECT doc_id, CAST(sum(weight) AS BIGINT) AS w_sum,
         |    CAST(count(*) AS BIGINT) AS n_scored
         |  FROM btok JOIN w USING (bucket) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(s.w_sum, 0) AS w_sum,
         |  COALESCE(s.n_scored, 0) AS n_scored,
         |  COALESCE(s.w_sum, 0) // greatest(COALESCE(s.n_scored, 0), 1)
         |    AS score_fp
         |FROM documents d LEFT JOIN scored s USING (doc_id)
         |ORDER BY d.doc_id ASC LIMIT 200""".stripMargin,
    // the gate row scores the WHOLE corpus (no 200-doc slice — the
    // threshold is a corpus statistic), then keeps score > exact P75
    "q_quality_gate" ->
      s"""WITH $toksCte,
         |btok AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(unnest(t)), 1, 15))::BIGINT % 4096 AS bucket
         |  FROM toks),
         |lab AS (
         |  SELECT doc_id,
         |    source IN ('src0','src1','src2','src3','src4') AS pos
         |  FROM documents),
         |counts AS (
         |  SELECT bucket,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
         |  FROM btok JOIN lab USING (doc_id) GROUP BY bucket),
         |w AS (SELECT bucket, (cp + 1) * 1000000 // (cp + cn + 2) AS weight
         |      FROM counts),
         |agg AS (
         |  SELECT doc_id, CAST(sum(weight) AS BIGINT) AS w_sum,
         |    CAST(count(*) AS BIGINT) AS n_scored
         |  FROM btok JOIN w USING (bucket) GROUP BY doc_id),
         |scored AS (
         |  SELECT d.doc_id,
         |    COALESCE(s.w_sum, 0) // greatest(COALESCE(s.n_scored, 0), 1)
         |      AS score_fp
         |  FROM documents d LEFT JOIN agg s USING (doc_id)),
         |thr AS (SELECT quantile_cont(score_fp, 0.75) AS t FROM scored)
         |SELECT doc_id, score_fp FROM scored, thr
         |WHERE score_fp > t
         |ORDER BY score_fp DESC, doc_id ASC LIMIT 200""".stripMargin,
    // curriculum tiers: same corpus-wide score chain as the gate,
    // exact quartile thresholds, threshold ties sink to the lower tier
    "q_quality_tiers" ->
      s"""WITH $toksCte,
         |btok AS (
         |  SELECT doc_id,
         |    ('0x' || substr(md5(unnest(t)), 1, 15))::BIGINT % 4096 AS bucket
         |  FROM toks),
         |lab AS (
         |  SELECT doc_id,
         |    source IN ('src0','src1','src2','src3','src4') AS pos
         |  FROM documents),
         |counts AS (
         |  SELECT bucket,
         |    CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
         |    CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
         |  FROM btok JOIN lab USING (doc_id) GROUP BY bucket),
         |w AS (SELECT bucket, (cp + 1) * 1000000 // (cp + cn + 2) AS weight
         |      FROM counts),
         |agg AS (
         |  SELECT doc_id, CAST(sum(weight) AS BIGINT) AS w_sum,
         |    CAST(count(*) AS BIGINT) AS n_scored
         |  FROM btok JOIN w USING (bucket) GROUP BY doc_id),
         |scored AS (
         |  SELECT d.doc_id,
         |    COALESCE(s.w_sum, 0) // greatest(COALESCE(s.n_scored, 0), 1)
         |      AS score_fp
         |  FROM documents d LEFT JOIN agg s USING (doc_id)),
         |th AS (SELECT quantile_cont(score_fp, [0.25, 0.5, 0.75]) AS t
         |       FROM scored)
         |SELECT doc_id, score_fp,
         |  CAST(1 + len(list_filter(t, x -> score_fp > x)) AS INT) AS tier
         |FROM scored, th
         |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    "q_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 15))::BIGINT % 10000
        |  < CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2500
        |              WHEN 'es' THEN 1250 WHEN 'fr' THEN 1250
        |              WHEN 'zh' THEN 625 ELSE 0 END
        |ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    "q_mix_epochs" ->
      """WITH c AS (
        |  SELECT doc_id, source,
        |    CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
        |                WHEN 'src2' THEN 0 WHEN 'src3' THEN 1
        |                ELSE 0 END
        |    + CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':graft'), 1, 15))::BIGINT % 10000
        |        < CASE source WHEN 'src0' THEN 5000 WHEN 'src2' THEN 2500
        |                      WHEN 'src3' THEN 2500 ELSE 0 END
        |      THEN 1 ELSE 0 END AS copies
        |  FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3'))
        |SELECT doc_id, source, unnest(range(1, copies + 1)) AS epoch
        |FROM c WHERE copies >= 1
        |ORDER BY doc_id ASC, epoch ASC LIMIT 400""".stripMargin,
  )
}
