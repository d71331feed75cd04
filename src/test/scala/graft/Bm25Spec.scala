package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.bm25.Bm25
import graft.plans.Bm25ScanExec
import graft.text.UserStopwords

/** BM25 extensions: consolidation semantics, ad-hoc scoring, user
  * stopwords. */
class Bm25Spec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet(s"${sf("sf0.001")}/documents.parquet")

  private def canon(df: DataFrame): Seq[String] =
    df.select(col("term"), col("term_freq"),
        concat_ws(",", col("doc_ids")), concat_ws(",", col("fqs")),
        concat_ws(",", col("doc_lens")))
      .collect().map(_.toSeq.mkString("|")).sorted.toSeq

  test("consolidate(union of halves) equals the full table; idempotent") {
    val full = Bm25.createBm25Table(docs, col("doc_id"), col("text"))
    val even = Bm25.createBm25Table(docs.filter(col("doc_id") % 2 === 0),
      col("doc_id"), col("text"))
    val odd = Bm25.createBm25Table(docs.filter(col("doc_id") % 2 =!= 0),
      col("doc_id"), col("text"))
    val merged = Bm25.consolidateBm25Table(even.unionByName(odd))
    assert(canon(merged) == canon(full))
    assert(canon(Bm25.consolidateBm25Table(merged)) == canon(full))
  }

  test("bm25Score matches searchBm25's score for an existing document") {
    // score the text of one real doc ad-hoc; the same doc's score in the
    // ranked search over the corpus must match (same stats, same fq)
    val row = docs.orderBy(col("doc_id")).limit(1)
      .collect()(0)
    val (docId, text) = (row.getAs[Long]("doc_id"), row.getAs[String]("text"))
    val query = "spark join fast window"
    val adhoc = Bm25.bm25Score(docs, col("doc_id"), col("text"), text, query)
    val ranked = Bm25.searchBm25(docs, col("doc_id"), col("text"), query, 1000)
      .filter(col("doc_id") === docId).collect()
    if (ranked.nonEmpty) {
      assert(math.abs(adhoc - ranked(0).getAs[Double]("score")) < 1e-9)
    } else assert(adhoc == 0.0)
  }

  test("bm25Score is 0 for a document without query terms") {
    assert(Bm25.bm25Score(docs, col("doc_id"), col("text"),
      "nothing relevant here", "spark join") == 0.0)
  }

  test("searchBm25Approx: deferral, substituted constants, candidate heap") {
    import spark.implicits._
    // 'rare' in docs 0..2 (df 3), 'pop' in every doc (df 300, > the 200
    // build threshold -> bloom-carrying). With accDocsThreshold=2 the
    // rare term accumulates and crosses alone (3 distinct docs > 2), so
    // 'pop' defers: its postings are never read, it contributes a
    // per-term constant to candidates only. Every doc is 2 tokens, so
    // avgdl = 2.0 exactly and the stats row's x100 fixed point loses
    // nothing — the exact-vs-approx comparisons below are pure
    // mechanism deltas, not precision noise.
    val fix = (0L until 300L).map { i =>
      (i, (if (i < 3) "rare pop" else "pop filler")) }
      .toDF("doc_id", "text")
    val tbl = Bm25.createBm25Table(fix, col("doc_id"), col("text"),
      bloomThreshold = 200)
    val approx = Bm25.searchBm25Approx(tbl, "rare pop", 10,
        accDocsThreshold = 2, exactMembership = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    // candidates come ONLY from accumulated (exact) postings: the 297
    // docs containing nothing but the deferred term never enter the
    // heap (faithful to the reference - they never reach self.data)
    assert(approx.keySet == Set(0L, 1L, 2L), approx)
    // each candidate's score = its exact 'rare' score + the deferred
    // constant (fq=1, doc_len=avgdl -> the substituted posting score)
    val stats = tbl.filter(col("term").isNull).collect()(0)
    val n = stats.getAs[Long]("term_freq").toDouble
    val avgdl = stats.getAs[Int]("doc_ids_len").toDouble / 100.0
    assert(avgdl == 2.0) // the fixed point is exact here
    def score(fq: Double, dl: Double, df: Double): Double =
      math.log((n - df + 0.5) / (df + 0.5) + 1.0) * (fq * (1.2 + 1.0)) /
        (fq + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))
    val expected = score(1.0, 2.0, 3.0) + score(1.0, avgdl, 300.0)
    approx.values.foreach(v => assert(math.abs(v - expected) < 1e-9,
      s"$v vs $expected"))
    // with the accumulation threshold out of reach nothing defers: the
    // approx path degenerates to exact scoring over the same table
    val off = Bm25.searchBm25Approx(tbl, "rare pop", 10,
        accDocsThreshold = 1000, exactMembership = true)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val exact = Bm25.searchBm25(fix, col("doc_id"), col("text"),
        "rare pop", 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(off.keySet == exact.keySet)
    off.foreach { case (id, v) =>
      assert(math.abs(v - exact(id)) < 1e-9, s"doc $id: $v vs ${exact(id)}") }

    // more accumulated docs than k ('rare' in docs 0..29): the heap
    // fills to exactly k, still only from the rare postings, under the
    // default bloom membership, and without deferral too
    val fix30 = (0L until 300L).map { i =>
      (i, (if (i < 30) "rare pop" else "pop filler")) }
      .toDF("doc_id", "text")
    val tbl30 = Bm25.createBm25Table(fix30, col("doc_id"), col("text"),
      bloomThreshold = 200)
    def run30(accT: Int): Seq[(Long, Double)] =
      Bm25.searchBm25Approx(tbl30, "rare pop", 10, accDocsThreshold = accT)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val heap = run30(20)
    assert(heap.size == 10 && heap.forall(_._1 < 30), heap)
    assert(heap.map(_._2).distinct.size == 1, heap) // uniform docs
    assert(run30(Int.MaxValue).size == 10)
  }

  test("searchBm25Approx bloom membership differs from exact only by fp noise") {
    import spark.implicits._
    // deferred term disjoint from the candidates: 'rare' in docs 0..2,
    // 'pop' in docs 100..399 only. Candidates (rare docs) do NOT
    // contain 'pop', so exact membership adds nothing; bloom membership
    // may add the constant on a false positive but can never subtract
    // (blooms have no false negatives)
    val fix = (0L until 400L).map { i =>
      val t = (if (i < 3) "rare base" else if (i >= 100) "pop base"
               else "base filler")
      (i, t) }.toDF("doc_id", "text")
    val tbl = Bm25.createBm25Table(fix, col("doc_id"), col("text"),
      bloomThreshold = 200)
    def run(exactMembership: Boolean): Map[Long, Double] =
      Bm25.searchBm25Approx(tbl, "rare pop", 10, accDocsThreshold = 2,
          exactMembership = exactMembership)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val viaIds = run(exactMembership = true)
    val viaBloom = run(exactMembership = false)
    assert(viaIds.keySet == Set(0L, 1L, 2L))
    assert(viaBloom.keySet == viaIds.keySet)
    val stats = tbl.filter(col("term").isNull).collect()(0)
    val n = stats.getAs[Long]("term_freq").toDouble
    val avgdl = stats.getAs[Int]("doc_ids_len").toDouble / 100.0
    val popConst = math.log((n - 300.0 + 0.5) / (300.0 + 0.5) + 1.0) *
      (1.0 * (1.2 + 1.0)) / (1.0 + 1.2 * ((1.0 - 0.75) + 0.75 * avgdl / avgdl))
    viaIds.foreach { case (id, v) =>
      val b = viaBloom(id)
      assert(b >= v - 1e-12, s"doc $id: bloom $b < exact-membership $v")
      assert(math.abs(b - v) < 1e-12 || math.abs(b - v - popConst) < 1e-9,
        s"doc $id: bloom-exact delta ${b - v} is neither 0 nor the constant")
    }
    // the self-checking production-mode verdict over the same fixture:
    // deferral fires, no false negatives, fp rate bounded
    val verdict = Bm25.bloomModeCheck(tbl, "rare pop", 10,
      accDocsThreshold = 2).collect()(0)
    assert(verdict.getBoolean(0), "deferral_active")
    assert(verdict.getBoolean(1), "nfn_ok")
    assert(verdict.getBoolean(2), "fp_rate_ok")
    // a threshold out of reach → no deferral, honest (false, true, true)
    val noDef = Bm25.bloomModeCheck(tbl, "rare pop", 10,
      accDocsThreshold = 100000).collect()(0)
    assert(!noDef.getBoolean(0) && noDef.getBoolean(1) && noDef.getBoolean(2))
  }

  /** The "rare pop" fixture: 'rare' in docs 0..2, 'pop' in all 300
    * (bloom-carrying above the 200 build threshold). */
  private def rarePopTable(): DataFrame = {
    import spark.implicits._
    Bm25.createBm25Table((0L until 300L)
        .map(i => (i, if (i < 3) "rare pop" else "pop filler")).toDF("doc_id", "text"),
      col("doc_id"), col("text"), bloomThreshold = 200)
  }

  test("searchBm25Approx: a table without its corpus-stats row fails loudly") {
    val tbl = rarePopTable()
    val noStats = tbl.filter(col("term").isNotNull)
    for (exact <- Seq(true, false)) {
      val e = intercept[Exception](Bm25.searchBm25Approx(noStats, "rare pop", 10,
        accDocsThreshold = 2, exactMembership = exact).collect())
      assert(e.getMessage.contains("corpus-stats row (term IS NULL)"), e.getMessage)
    }
    val e = intercept[Exception](
      Bm25.bloomModeCheck(noStats, "rare pop", 10, accDocsThreshold = 2).collect())
    assert(e.getMessage.contains("corpus-stats row (term IS NULL)"), e.getMessage)
    // with the stats row, terms absent from the table are no error: no rows
    assert(Bm25.searchBm25Approx(tbl, "absent words", 10).collect().isEmpty)
    assert(Bm25.searchBm25Approx(tbl, "", 10).collect().isEmpty)
  }

  test("Bm25ScanExec metrics on the rare-pop fixture: 1 deferred, 3 scored, 3 candidates") {
    val df = Bm25.searchBm25Approx(rarePopTable(), "rare pop", 10,
      accDocsThreshold = 2, exactMembership = true)
    assert(df.collect().length == 3)
    val scans = planNodes(df.queryExecution.executedPlan).collect { case b: Bm25ScanExec => b }
    assert(scans.size == 1, df.queryExecution.executedPlan)
    val m = scans.head.metrics.map { case (k, v) => k -> v.value }
    assert(m("termsRead") == 2 && m("termsDeferred") == 1, m)
    assert(m("postingsScored") == 3 && m("candidates") == 3, m)
    // 3 candidates x 1 deferred term, by stored doc_ids
    assert(m("membershipTests") == 3, m)
    assert(m("searchTime") > 0, m)
  }

  test("user stopwords replace the default list") {
    import spark.implicits._
    val df = Seq((1L, "the spark table joins data")).toDF("id", "t")
    val default = df.select(
      concat_ws(" ", graft.functions.text_to_stem_array(col("t"))))
      .collect()(0).getString(0)
    assert(default == "spark tabl join data") // 'the' dropped by default
    val custom = df.select(concat_ws(" ",
      graft.functions.text_to_stem_array_user(col("t"), Seq("spark"))))
      .collect()(0).getString(0)
    assert(custom == "the tabl join data") // only 'spark' dropped now
  }

  test("UserStopwords set/get round-trips through the session conf") {
    UserStopwords.set(spark, Seq("foo", "bar"))
    assert(UserStopwords.get(spark) == Seq("foo", "bar"))
    UserStopwords.clear(spark)
    assert(UserStopwords.get(spark) == graft.text.Stemmer.stopWords.toSeq.sorted)
  }
}
