package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.operators.CorpusRefresh
import graft.streaming.IngestPipeline
import graft.text.{Dsir, TextOps}

/** The corpus refresh cycle ([[graft.operators.CorpusRefresh]]):
  * absorbing a curated drop must be indistinguishable from rebuilding
  * the corpus artifacts — and the refreshed selection — from scratch
  * over the merged kept set, at two scales. This is the parity that
  * makes append-only artifact extension safe at 100 TB: the standing
  * corpus text is never rescanned, yet nothing drifts. */
class AbsorbSpec extends SparkSpec {

  private def scored(df: DataFrame, weights: Array[Long]): DataFrame =
    Dsir.withScoreInline(df, col("text_c4"), weights)
      .select(col("doc_id"), col("source"),
        size(graft.functions.tokenize(col("text_c4"))).cast("long")
          .as("n_tokens"),
        col("w_fp"))

  test("absorb-extended artifacts == rebuilt-from-scratch; refreshed mix parity (two scales)", SlowTest) {
    val budgets =
      Map("src5" -> 800L, "src6" -> 400L, "src7" -> 200L, "src8" -> 0L)
    for (scale <- Seq("sf0.001", "sf0.01")) {
      val dir = sf(scale)
      val TQ = graft.queries.TextQueries
      val corpus = TQ.pipeStreamCorpus(spark, dir)
      val ndk = TQ.pipelineStages(spark, dir).toMap.apply("ndk")
      val dropKept = IngestPipeline.curateBatchKept(
        TQ.pipeArrivals(spark, dir), col("doc_id"), col("source"),
        col("text"), corpus).persist()
      assert(dropKept.count() > 0, s"empty drop survivors at $scale")
      val refreshed = CorpusRefresh.absorb(corpus,
        scored(ndk, corpus.dsirWeights), dropKept)

      // from-scratch artifacts over the MERGED kept text (the rebuild
      // the absorb path exists to avoid)
      val merged = ndk.select(col("doc_id"), col("source"), col("text_c4"))
        .unionByName(dropKept.select(col("doc_id"), col("source"),
          col("text_c4"))).persist()
      val sShStr = Dedup.shingled(merged, col("doc_id"), col("text_c4"))
      def sameSet(a: DataFrame, b: DataFrame, what: String): Unit =
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"$what: absorb-extended != rebuilt-from-scratch at $scale")
      sameSet(refreshed.corpus.hashes,
        merged.select(md5(col("text_c4").cast("binary"))
          .as("content_hash")), "hashes")
      sameSet(refreshed.corpus.signatures, Dedup.signatures(sShStr, 8),
        "signatures")
      sameSet(refreshed.corpus.shingledHashed,
        sShStr.select(col("doc_id"),
          CorpusRefresh.hashedShingleCol(col("sh")).as("sh")),
        "hashed shingles")

      // refreshed selection == the mix re-run over scratch-scored
      // merged text, row for row
      val viaAbsorb = CorpusRefresh.refreshMix(refreshed, budgets)
        .orderBy(col("source"), col("mix_rank")).collect().toSeq
      val viaScratch = TextOps.mixToTokenBudgetByScore(
          scored(merged, corpus.dsirWeights), col("doc_id"),
          col("source"), col("n_tokens"), col("w_fp"), budgets)
        .orderBy(col("source"), col("mix_rank")).collect().toSeq
      assert(viaAbsorb == viaScratch && viaAbsorb.nonEmpty,
        s"refreshed mix diverged from the from-scratch mix at $scale")

      // the refreshed bloom routes every merged hash (no false
      // negatives — the property the exact check relies on)
      val misses = merged
        .select(md5(col("text_c4").cast("binary")).as("h"))
        .collect().count(r => !refreshed.corpus.bloom
          .mightContainString(r.getString(0)))
      assert(misses == 0, s"extended bloom has false negatives at $scale")

      merged.unpersist(); dropKept.unpersist()
      ()
    }
  }

  test("the refresh cycle COMPOSES: two drops absorbed sequentially == rebuild over all survivors, and gen-2 curation runs against the refreshed corpus", SlowTest) {
    val dir = sf("sf0.01")
    val budgets =
      Map("src5" -> 800L, "src6" -> 400L, "src7" -> 200L, "src8" -> 0L)
    val TQ = graft.queries.TextQueries
    val corpus0 = TQ.pipeStreamCorpus(spark, dir)
    val ndk = TQ.pipelineStages(spark, dir).toMap.apply("ndk")
    val arrivals = TQ.pipeArrivals(spark, dir)
    def door(batch: DataFrame,
        c: IngestPipeline.PreparedCorpus): DataFrame =
      IngestPipeline.curateBatchKept(batch, col("doc_id"), col("source"),
        col("text"), c)
    // generation 1: even arrivals against the frozen corpus
    val kept1 = door(arrivals.filter(col("doc_id") % 2 === 0), corpus0)
      .persist()
    val r1 = CorpusRefresh.absorb(corpus0,
      scored(ndk, corpus0.dsirWeights), kept1)
    // generation 2: odd arrivals against the REFRESHED corpus — the
    // operational loop's next turn. pipeArrivals' intra-batch exact
    // plants (d, d+7 with d%5==0) split across the parity halves, so
    // cross-DROP duplicates exist by construction; curating against
    // r1 must catch them where the frozen corpus could not.
    val half2 = arrivals.filter(col("doc_id") % 2 === 1)
    val kept2 = door(half2, r1.corpus).persist()
    val kept2Frozen = door(half2, corpus0)
    assert(kept2.count() < kept2Frozen.count(),
      "gen-2 curation against the refreshed corpus caught nothing the " +
        "frozen corpus missed — the cross-drop plants did not fire")
    // no gen-2 survivor duplicates a gen-1 survivor's text
    val dupes = kept2
      .select(md5(col("text_c4").cast("binary")).as("content_hash"))
      .join(kept1.select(md5(col("text_c4").cast("binary"))
        .as("content_hash")), "content_hash")
    assert(dupes.isEmpty,
      "a gen-2 survivor exactly duplicates a gen-1 survivor")
    val r2 = CorpusRefresh.absorb(r1.corpus, r1.kept, kept2)
    // from-scratch parity over ALL survivors (corpus ∪ drop1 ∪ drop2)
    val merged = ndk.select(col("doc_id"), col("source"), col("text_c4"))
      .unionByName(kept1.select(col("doc_id"), col("source"),
        col("text_c4")))
      .unionByName(kept2.select(col("doc_id"), col("source"),
        col("text_c4"))).persist()
    val sShStr = Dedup.shingled(merged, col("doc_id"), col("text_c4"))
    def sameSet(a: DataFrame, b: DataFrame, what: String): Unit =
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
        s"$what: two-generation absorb != rebuilt-from-scratch")
    sameSet(r2.corpus.hashes,
      merged.select(md5(col("text_c4").cast("binary"))
        .as("content_hash")), "hashes")
    sameSet(r2.corpus.signatures, Dedup.signatures(sShStr, 8),
      "signatures")
    sameSet(r2.corpus.shingledHashed,
      sShStr.select(col("doc_id"),
        CorpusRefresh.hashedShingleCol(col("sh")).as("sh")),
      "hashed shingles")
    val viaAbsorb = CorpusRefresh.refreshMix(r2, budgets)
      .orderBy(col("source"), col("mix_rank")).collect().toSeq
    val viaScratch = TextOps.mixToTokenBudgetByScore(
        scored(merged, corpus0.dsirWeights), col("doc_id"),
        col("source"), col("n_tokens"), col("w_fp"), budgets)
      .orderBy(col("source"), col("mix_rank")).collect().toSeq
    assert(viaAbsorb == viaScratch && viaAbsorb.nonEmpty,
      "two-generation refreshed mix diverged from the from-scratch mix")
    merged.unpersist(); kept1.unpersist(); kept2.unpersist()
    ()
  }

  test("oracle discrimination: the gen-2 selection CHANGES under a " +
      "swapped half-drop parity and under a frozen-corpus gen-2 door " +
      "(the mis-compositions the refresh oracle must catch)") {
    // The reference keeps known-broken queries failing ON PURPOSE to
    // pin its harness' discriminating power
    // (lantern_hnsw/test/sql/hnsw_todo.sql); this is that discipline
    // for the contract's most composition-heavy oracle
    // (q_pipeline_refresh: doorDropCtes × artifact extension × parity
    // halves). Canonical Spark == oracle is pinned by the driver gate
    // at every sweep, so "perturbed != canonical" here IS "the oracle
    // would flag a builder who swapped the halves or forgot to curate
    // gen-2 against the EXTENDED artifacts" — if either perturbation
    // reproduced the selection, the oracle would be vacuous on that
    // axis and this test fails. Scale matters: at sf0.001 the
    // budget-capped selection is ~11 rows and contains NO planted
    // twin — the parity swap is UNDETECTABLE there (measured; the
    // reason this runs at the gate's own scale, sf0.01).
    val dir = sf("sf0.01")
    val budgets =
      Map("src5" -> 800L, "src6" -> 400L, "src7" -> 200L, "src8" -> 0L)
    val TQ = graft.queries.TextQueries
    val corpus0 = TQ.pipeStreamCorpus(spark, dir)
    val ndk = TQ.pipelineStages(spark, dir).toMap.apply("ndk")
    val ndkS = scored(ndk, corpus0.dsirWeights)
    val arrivals = TQ.pipeArrivals(spark, dir).persist()
    val even = arrivals.filter(col("doc_id") % 2 === 0)
    val odd = arrivals.filter(col("doc_id") % 2 === 1)
    // each door output is a LINEAGE CUT, as in the contract path (there
    // a SharedState.Policy.Parquet leaf; here a disk-level local
    // checkpoint, which needs no per-call registry key): without it the
    // three chained gen-2 compositions stack door-over-door lineage
    // until plan stringification alone OOMs the test JVM
    def door(batch: DataFrame,
        c: IngestPipeline.PreparedCorpus): DataFrame =
      IngestPipeline.curateBatchKept(batch, col("doc_id"), col("source"),
        col("text"), c).localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
    def gen2(first: DataFrame, second: DataFrame,
        secondCorpusOf: CorpusRefresh.Refreshed
          => IngestPipeline.PreparedCorpus) = {
      val r1 = CorpusRefresh.absorb(corpus0, ndkS, door(first, corpus0))
      CorpusRefresh.absorb(r1.corpus, r1.kept,
        door(second, secondCorpusOf(r1)))
    }
    // the CONTRACT projection — what the oracle hash-compares
    def selection(r: CorpusRefresh.Refreshed): Seq[String] =
      CorpusRefresh.refreshMix(r, budgets)
        .select(col("doc_id"), col("source"), col("w_fp"),
          col("n_tokens"), col("tok_prefix"), col("mix_rank"))
        .orderBy(col("source").asc, col("mix_rank").asc).limit(500)
        .collect().map(_.toString).toSeq
    val canonical = selection(gen2(even, odd, _.corpus))
    assert(canonical.nonEmpty)
    // perturbation 1: halves swapped — which twin of each cross-drop
    // exact plant (d, d+7 straddle the parity split by construction)
    // survives flips, so the selected doc_ids must move
    val swapped = selection(gen2(odd, even, _.corpus))
    assert(canonical != swapped,
      "swapping the half-drop parity left the gen-2 selection " +
        "unchanged — the refresh oracle could not catch a swapped " +
        "composition")
    // perturbation 2: gen-2 curated against the FROZEN corpus (the
    // artifact extension between generations dropped) — cross-drop
    // duplicates leak through the door and must surface in the mix
    val frozenGen2 = selection(gen2(even, odd, _ => corpus0))
    assert(canonical != frozenGen2,
      "skipping the inter-generation artifact extension left the " +
        "selection unchanged — the refresh oracle could not catch a " +
        "frozen-corpus gen-2 door")
    arrivals.unpersist()
    ()
  }
}
