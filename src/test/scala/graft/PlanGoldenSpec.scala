package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ExplainMode, FileSourceScanExec, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import graft.plans.{AnnScanExec, Bm25ScanExec}

/** Golden physical-plan snapshots for expensive contract queries —
  * catches a silent Catalyst regression (a lost dynamic-pruning
  * filter, a broadcast flipped to a shuffle, a surprise Exchange) on
  * Spark version bumps, the way DedupBucketingSpec pins the bucketed
  * jaccard plan.
  *
  * The golden is the plan TREE SKELETON (node names + shape) with
  * session-varying identifiers masked; per-node details are pinned by
  * targeted invariant asserts instead of full-text equality, so the
  * snapshot survives cosmetic formatting changes but not structural
  * ones. Each query is executed once BEFORE snapshotting a fresh copy:
  * the snapshot then sees materialized shared caches in every run
  * context (suite order cannot flip an inner AdaptiveSparkPlan between
  * initial and final state).
  *
  * Regenerate after an intentional plan change: delete
  * src/test/resources/plans/<name>.txt and re-run; the spec records
  * the new actual on first run — review the diff like code.
  */
class PlanGoldenSpec extends SparkSpec {

  private val plansDir = Paths.get("src", "test", "resources", "plans")

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  private def skeleton(plan: String): String =
    plan.linesIterator
      .dropWhile(!_.startsWith("== Physical Plan =="))
      .drop(1)
      .takeWhile(_.trim.nonEmpty)
      .map(_.replaceAll("\\s*\\(\\d+\\)$", "")) // per-print node ids
      .map(_.replaceAll("graft_(dedup|bm25)_[0-9a-f]+", "graft_$1_X"))
      // AQE's stage byte estimates follow the JVM heap (64.1 MiB at a
      // 7g heap, 32.1 MiB at 4g for one broadcast stage); rowCount and
      // the operator lines stay pinned
      .map(_.replaceAll("sizeInBytes=[^,)]*", "sizeInBytes=X"))
      .mkString("\n") + "\n"

  private def checkGolden(name: String, actual: String): Unit = {
    val p = plansDir.resolve(s"$name.txt")
    if (!Files.exists(p)) {
      Files.createDirectories(plansDir)
      Files.writeString(p, actual)
      info(s"recorded new golden plan at $p — commit it")
    } else {
      val golden = Files.readString(p)
      assert(actual == golden,
        s"physical plan of $name drifted from the golden at $p — if the " +
          s"change is intentional, delete the golden and re-run.\n" +
          s"--- actual ---\n$actual")
    }
  }

  private def snapshot(name: String): (String, String) = {
    val dir = sf("sf0.01")
    SparkEntry.queries(name)(spark, dir).collect() // materialize caches
    val fresh = SparkEntry.queries(name)(spark, dir)
    val plan = formatted(fresh)
    (plan, skeleton(plan))
  }

  /** Root paths of every file scan the query's executed plan runs,
    * subqueries included; a persisted cache's build is not the query's. */
  private def fileScanPaths(p: SparkPlan): Seq[String] = p match {
    case _: InMemoryTableScanExec => Nil
    case a: AdaptiveSparkPlanExec => fileScanPaths(a.executedPlan)
    case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
    case other => (other.children ++ other.subqueries).flatMap(fileScanPaths)
  }

  /** Asserts the row's steady state reads materialized leaves only:
    * every file scan reads a registry frame directory (a
    * `SharedState.Policy.Parquet` leaf) or one of `alsoAllowed`, and
    * none reads `documents.parquet`. Returns the scanned paths. */
  private def assertReadsFramesOnly(name: String,
      alsoAllowed: Seq[String] = Nil): Seq[String] = {
    val paths = fileScanPaths(
      SparkEntry.queries(name)(spark, sf("sf0.01")).queryExecution.executedPlan)
    assert(paths.exists(_.contains("graft_frame_")),
      s"$name reads no registry frame: $paths")
    assert(!paths.exists(_.contains("documents.parquet")),
      s"$name re-scans the corpus: $paths")
    val bad = paths.filterNot(p =>
      p.contains("graft_frame_") || alsoAllowed.exists(p.contains))
    assert(bad.isEmpty, s"$name scans files other than its leaves: $bad")
    paths
  }

  test("q_ivf_join: DPP on the cells scan, broadcast joins, tombstone filter") {
    val (plan, skel) = snapshot("q_ivf_join")
    // the IVF cells scan must be dynamically pruned to the probed cells
    assert(plan.contains("dynamicpruningexpression"),
      "the cells scan lost its dynamic partition pruning")
    // executor-side tombstone resolution stays inside the scan filter
    assert(plan.contains("tombstone_live"))
    // the query-vector filter reaches the parquet scan
    assert(plan.contains("LessThan(vec_id,20)"),
      "the vec_id < 20 filter was not pushed to the scan")
    // the routed join broadcasts; it must never cartesian the corpus
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_ivf_join", skel)
  }

  test("q_dedup_incremental: bloom probe rides the scan, anti-join on candidates only") {
    val (plan, skel) = snapshot("q_dedup_incremental")
    // both branches filter through the codegen bloom probe - the
    // routing that keeps bloom-negative rows out of the shuffle
    assert(plan.contains("bloom_sketch_contains"),
      "the bloom prefilter fell out of the plan")
    // the exactness join is an anti join, never a cartesian
    assert(plan.contains("LeftAnti"), "lost the exactness anti-join")
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_dedup_incremental", skel)
  }

  test("q_tfidf_keywords: combiner tf, broadcast idf join, bounded rank window") {
    val (plan, skel) = snapshot("q_tfidf_keywords")
    // tf and df aggregate with map-side partials
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      "tf/df lost their partial aggregation")
    // the vocabulary-sized dfreq frame BROADCASTS onto tf — a shuffled
    // term-keyed join would pour every "the" row through one reducer
    assert(plan.contains("BroadcastHashJoin"),
      "the idf join lost its broadcast (hot-term skew hazard)")
    // per-doc top-k through a rank window, never a corpus sort+limit
    assert(plan.contains("row_number"))
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_tfidf_keywords", skel)
    // the OTHER dispatch arm, pinned: a web-scale vocabulary (forced
    // via the conf, probe-free) SHUFFLES the idf join under AQE skew
    // splitting instead of broadcasting — and returns the same rows.
    // auto-broadcast is disabled so the arm is observable at sf0.01
    // (AQE would otherwise re-broadcast the small dfreq at runtime).
    val dir = sf("sf0.01")
    val want = SparkEntry.queries("q_tfidf_keywords")(spark, dir)
      .orderBy("doc_id", "rank").collect().toSeq
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set(GraftConf.TfidfMaxBroadcastTerms, "0")
    try {
      val forced = SparkEntry.queries("q_tfidf_keywords")(spark, dir)
      val p = formatted(forced)
      assert(!p.contains("BroadcastHashJoin"),
        "the forced-large arm must not broadcast the idf join")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffled idf join:\n$p")
      assert(forced.orderBy("doc_id", "rank").collect().toSeq == want,
        "dispatch arms must be row-identical on the contract row")
    } finally {
      spark.conf.unset(GraftConf.TfidfMaxBroadcastTerms)
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("q_mix_budget: blocked two-phase rank, no per-source corpus window") {
    val (plan, skel) = snapshot("q_mix_budget")
    // the corpus-side rank window must partition on (source, block) —
    // a window partitioned on the source alone is the single-reducer-
    // per-source sort this operator exists to avoid
    assert(plan.contains("__blk"),
      "the rank window lost its block key — per-source single-task sort")
    // every row_number window must include __blk in its partition spec
    // (the only source-partitioned window left is the SUM over the
    // tiny per-block totals frame, never a row_number over the corpus)
    val rowNumSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(rowNumSpecs.nonEmpty, "lost the rank window entirely")
    assert(rowNumSpecs.forall(_.contains("__blk")),
      s"a row_number window ranks without the block key: $rowNumSpecs")
    // the per-block prefix frame broadcasts back onto the corpus
    assert(plan.contains("BroadcastHashJoin"),
      "the block-prefix join lost its broadcast")
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_mix_budget", skel)
  }

  test("q_simhash_pairs: codegen verify kernel, cached candidate reuse, no cartesian") {
    val (plan, skel) = snapshot("q_simhash_pairs")
    // exact verification runs through the single-pass codegen kernel
    assert(plan.contains("bit_hamming"),
      "simhash verification no longer uses the codegen bit_hamming kernel")
    // the banded candidate table is stored per dir (the
    // lshCandidatesCached discipline) as a registry parquet leaf; the
    // steady row verifies it — banding + skew-guard median run once,
    // in the candidate build
    assertReadsFramesOnly("q_simhash_pairs")
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_simhash_pairs", skel)
  }

  test("q_semantic_pairs: codegen centroid assignment, cached pair reuse, no cartesian") {
    val (plan, skel) = snapshot("q_semantic_pairs")
    // the verified-pairs cache feeds the row (assignment + banding +
    // verification are the build; the query is rank-and-limit)
    assert(plan.contains("InMemoryTableScan"))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_semantic_pairs", skel)
  }

  test("q_quality_gate: scored-boundary leaf, in-plan threshold, no corpus sort") {
    val (plan, skel) = snapshot("q_quality_gate")
    // the exact-percentile threshold attaches by a 1-row broadcast
    // nested loop — the gate never sorts the corpus to find it
    assert(plan.contains("BroadcastNestedLoopJoin Cross"))
    // both the threshold histogram and the gated pass read the NARROW
    // scored boundary (the q_dsir_mix discipline): the steady plan
    // scans only that leaf and runs NO tokenizer — scoring ran once
    // at the boundary
    assertReadsFramesOnly("q_quality_gate")
    assert(!plan.contains("tokenize"),
      "the tokenizer must run once at the boundary, not per pass")
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_quality_gate", skel)
  }

  test("q_knn_l2sq: codegen distance inside a TakeOrderedAndProject, pruned scan") {
    val (plan, skel) = snapshot("q_knn_l2sq")
    // the exact top-k is a TakeOrderedAndProject over the codegen
    // l2sq_dist kernel — no global sort, no extra shuffle
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("l2sq_dist"))
    // the scan reads only the two needed columns
    assert(plan.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"),
      "column pruning regressed on the embeddings scan")
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_knn_l2sq", skel)
  }

  test("q_hybrid_rrf: rank windows over bounded top-N lists only") {
    val (plan, skel) = snapshot("q_hybrid_rrf")
    // both retrieval arms end in bounded top-N (TakeOrderedAndProject /
    // WindowGroupLimit) BEFORE the rank windows fuse them — the
    // unpartitioned windows are over <= N rows by construction
    assert(plan.contains("TakeOrderedAndProject") ||
      plan.contains("WindowGroupLimit"))
    assert(plan.contains("Window"))
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_hybrid_rrf", skel)
  }

  test("q_substring_dedup: broadcast coverage join, window+reassembly share one exchange") {
    val (plan, skel) = snapshot("q_substring_dedup")
    // the duplicated-starts side broadcasts onto the token rows — the
    // coverage join must never shuffle the exploded corpus twice
    assert(plan.contains("BroadcastHashJoin LeftOuter"))
    assert(plan.contains("Window"))
    assert(!plan.contains("CartesianProduct"))
    // exactly three shuffles: gram-hash count, token rows by doc (the
    // window AND the reassembly aggregate reuse this one), and the
    // small documents side of the empty-doc restoration join
    val shuffles = skel.linesIterator.count(_.endsWith("- Exchange"))
    assert(shuffles == 3,
      s"expected 3 shuffle exchanges, got $shuffles:\n$skel")
    checkGolden("q_substring_dedup", skel)
  }

  test("q_gopher_gate: single narrow scan, no shuffle, pruned columns") {
    val (plan, skel) = snapshot("q_gopher_gate")
    // a per-row gate is one pruned scan + project + bounded top-k:
    // any Exchange here means the narrow transform grew a shuffle
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!skel.linesIterator.exists(_.endsWith("- Exchange")),
      s"per-row gate grew a shuffle:\n$skel")
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "column pruning regressed on the documents scan")
    checkGolden("q_gopher_gate", skel)
  }

  test("q_bm25_search: cached postings reused, bounded top-k, no cartesian") {
    val (plan, skel) = snapshot("q_bm25_search")
    // the postings/stats frames come from the shared cache, not a
    // recomputed corpus scan per query
    assert(plan.contains("InMemoryTableScan"))
    // the final top-10 is a TakeOrderedAndProject, not a global sort
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_bm25_search", skel)
  }

  test("q_bm25_search_approx: one Bm25ScanExec over the cached table, no exchange") {
    val (plan, skel) = snapshot("q_bm25_search_approx")
    // the search is one planned node reading the shared cache in one
    // task: no shuffle, broadcast, join or sort around or below it (the
    // cached table's own build plan is not part of the query's tree)
    val exec = SparkEntry.queries("q_bm25_search_approx")(spark, sf("sf0.01"))
      .queryExecution.executedPlan
    val all = planNodes(exec)
    val scans = all.collect { case b: Bm25ScanExec => b }
    assert(scans.size == 1, s"expected one Bm25ScanExec:\n$plan")
    assert(!all.exists {
      case _: Exchange | _: BroadcastNestedLoopJoinExec | _: CartesianProductExec |
          _: SortExec | _: TakeOrderedAndProjectExec => true
      case _ => false
    }, s"an exchange, a join or a sort runs in the search:\n$plan")
    assert(planNodes(scans.head).exists(_.isInstanceOf[InMemoryTableScanExec]),
      s"the cached table is not scanned under the node:\n$plan")
    checkGolden("q_bm25_search_approx", skel)
  }

  test("q_winnow_groups rides the cached pair table (no re-winnow per query)") {
    // not golden-snapshotted: connectedComponents' driver regime makes
    // the final plan a LocalTableScan of solved labels — the invariant
    // worth pinning is that the SOLVE consumed the shared pair cache
    // rather than re-deriving fingerprints, which the total job shape
    // of the query run asserts cheaply here
    val dir = sf("sf0.01")
    SparkEntry.queries("q_winnow_pairs")(spark, dir).collect() // warm cache
    val out = SparkEntry.queries("q_winnow_groups")(spark, dir)
    assert(out.columns.toSeq == Seq("doc_id", "component", "keeper"))
    val rows = out.collect()
    assert(rows.nonEmpty)
    // keeper is exactly (doc_id == component) and every component is
    // its own keeper row's id (min-label semantics)
    assert(rows.forall(r => r.getBoolean(2) == (r.getLong(0) == r.getLong(1))))
    val comps = rows.map(_.getLong(1)).toSet
    val keepers = rows.filter(_.getBoolean(2)).map(_.getLong(0)).toSet
    assert(comps == keepers)
  }

  test("q_mix_tokens: blocked token rank, windows carry the block key") {
    val (plan, skel) = snapshot("q_mix_tokens")
    // same discipline as q_mix_budget, now with the token cumsum: the
    // corpus-side rank AND the exclusive token-sum window must both
    // partition on (source, block) — never the source alone
    assert(plan.contains("__blk"),
      "the token rank lost its block key — per-source single-task sort")
    val rowNumSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(rowNumSpecs.nonEmpty, "lost the rank window entirely")
    assert(rowNumSpecs.forall(_.contains("__blk")),
      s"a row_number window ranks without the block key: $rowNumSpecs")
    // the per-block prefix frame broadcasts back onto the corpus
    assert(plan.contains("BroadcastHashJoin"),
      "the block-prefix join lost its broadcast")
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_mix_tokens", skel)
  }

  test("q_dsir_sample: narrow inline scorer, TakeOrdered selection") {
    val (plan, skel) = snapshot("q_dsir_sample")
    // the inline scorer folds the weight-array literal per row: the
    // whole score pass is scan → project — no explode shuffle, no
    // join, no aggregation exchange
    assert(!plan.contains("Exchange") || plan.contains("TakeOrdered"),
      "scoring grew an exchange")
    assert(plan.contains("aggregate("), "lost the in-row weight fold")
    // top-n resampling is a TakeOrderedAndProject (per-partition heads
    // + one merge), never a global sort of the scored pool
    assert(plan.contains("TakeOrderedAndProject"),
      "resampling fell back to a global sort")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      "the inline scorer regressed to a shuffled join")
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_dsir_sample", skel)
  }

  test("q_dsir_mix: score-blocked token rank, windows carry the block key") {
    val (plan, skel) = snapshot("q_dsir_mix")
    // the q_mix_tokens discipline with SCORE blocks: the rank and
    // token-cumsum windows must partition on (source, block) — the
    // block now derives from the per-source percentile thresholds,
    // never the source alone
    assert(plan.contains("__blk"),
      "the importance rank lost its block key — per-source single-task sort")
    val rowNumSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(rowNumSpecs.nonEmpty, "lost the rank window entirely")
    assert(rowNumSpecs.forall(_.contains("__blk")),
      s"a row_number window ranks without the block key: $rowNumSpecs")
    // both operator passes read the narrow scored boundary (a registry
    // parquet leaf): the DSIR fold and the tokenizer ran once at the
    // boundary build, and the steady-state plan must never re-scan the
    // documents parquet (VERDICT r13 #1 closed)
    assertReadsFramesOnly("q_dsir_mix")
    // thresholds and block prefixes broadcast back onto the pool
    assert(plan.contains("BroadcastHashJoin"),
      "the threshold/prefix join lost its broadcast")
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_dsir_mix", skel)
  }

  test("q_pipeline_boundaries: steady state reads ONLY the parquet boundary artifacts") {
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val dir = sf("sf0.01")
    SparkEntry.queries("q_pipeline_boundaries")(spark, dir).collect()
    val plan = SparkEntry.queries("q_pipeline_boundaries")(spark, dir)
      .queryExecution.executedPlan
    val ss = scans(plan)
    assert(ss.nonEmpty, "the row must read its parquet boundaries")
    // every file scan reads a boundary artifact — a documents.parquet
    // scan here would mean the runner regressed to recomputing the
    // funnel instead of resuming from the stored boundaries
    val bad = ss.map(_.relation.location.rootPaths.mkString(","))
      .filterNot(_.contains("graft_pipebounds"))
    assert(bad.isEmpty,
      s"steady-state boundary row scans non-boundary inputs: $bad")
    assert(!plan.toString.contains("CartesianProduct"))
  }

  test("q_pipeline_e2e: stage boundaries materialize; input scanned only in the clean stage") {
    def fileScans(p: SparkPlan): Int = p match {
      case _: InMemoryTableScanExec => 0
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case _: FileSourceScanExec => 1
      case other => other.children.map(fileScans).sum
    }
    def scanPaths(p: SparkPlan): Seq[String] = p match {
      case a: AdaptiveSparkPlanExec => scanPaths(a.executedPlan)
      case f: FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.mkString(","))
      case other => other.children.flatMap(scanPaths)
    }
    val (plan, _) = snapshot("q_pipeline_e2e")
    assert(!plan.contains("CartesianProduct"))
    // the selection is ITSELF a stage boundary, so the steady-state
    // row is a TakeOrdered over exactly one file scan: the `selected`
    // parquet boundary — no stage recompute, no corpus scan
    val dir = sf("sf0.01")
    val paths = scanPaths(SparkEntry.queries("q_pipeline_e2e")(spark, dir)
      .queryExecution.executedPlan)
    assert(paths.size == 1, s"expected exactly one file scan: $paths")
    assert(paths.head.contains("graft_pipebounds") &&
      paths.head.endsWith("/selected"),
      s"the row does not read the selected boundary: $paths")
    assert(!paths.exists(_.contains("documents.parquet")),
      s"the steady-state pipeline row re-scans the corpus: $paths")

    // composition scan bound on a fresh spec-local pipeline: the
    // clean stage — the ONLY stage allowed to touch the input — reads
    // the documents parquet at most 4 times in its unmaterialized
    // build plan (the 2-reference source-carry join), and once the
    // boundaries persist, every later stage reads only the previous
    // stage's cache
    import graft.operators.CurationPipeline
    import graft.text.{Dsir, QualityClassifier}
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val qw = QualityClassifier.fixedPointWeights(
      QualityClassifier.trainCounts(docs, col("text"),
        col("source").isin("src0", "src1", "src2", "src3", "src4")))
    val dw = Dsir.weightsArray(
      Dsir.importanceWeightsSplit(docs, col("text"),
        col("source").isin("src0", "src1", "src2", "src3", "src4")))
    val budgets = Map("src5" -> 800L, "src6" -> 400L)
    // pre-materialization build plan of the clean stage: scan bound
    val bare = CurationPipeline.stages(docs, col("doc_id"), col("source"),
      col("text"), qw, dw, budgets, cache = (_, f) => f()).toMap
    val c4Scans = fileScans(bare("c4").queryExecution.executedPlan)
    assert(c4Scans <= 4, s"clean stage scans documents $c4Scans times (> 4)")
    // materialize boundaries, then re-derive: boundary-fed plans only
    val memo = scala.collection.concurrent.TrieMap[String, DataFrame]()
    val hook = (k: String, f: () => DataFrame) =>
      memo.getOrElseUpdate(k, f().persist())
    def build() = CurationPipeline.stages(docs, col("doc_id"),
      col("source"), col("text"), qw, dw, budgets, cache = hook)
    build().foreach(_._2.count())
    try {
      val fresh = build().toMap
      for (stage <- Seq("gok", "cls", "exd", "ndk", "selected")) {
        assert(fileScans(fresh(stage).queryExecution.executedPlan) == 0,
          s"stage $stage re-scans the corpus instead of reading the " +
            s"previous boundary")
      }
      // the final selection keeps the mix discipline: every rank
      // window carries the block key
      val selPlan = formatted(fresh("selected"))
      val rowNumSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(selPlan).map(_.group(1)).toList
      assert(rowNumSpecs.nonEmpty && rowNumSpecs.forall(_.contains("__blk")),
        s"a pipeline rank window ranks without the block key: $rowNumSpecs")
    } finally memo.values.foreach(_.unpersist())
  }

  test("q_pipeline_absorb: steady state reads only materialized leaves; block-keyed rank windows") {
    val (plan, _) = snapshot("q_pipeline_absorb")
    // the merged kept set is a union of the ndk-scored leaf and the
    // drop survivors read straight off the STREAMING DOOR'S SINK (the
    // door runs once — in the stream — and the absorb rides its
    // parquet): the only file scans allowed are registry frames and
    // that sink; the corpus is never rescanned and the door never
    // re-runs in batch form
    val sink = graft.queries.TextQueries.pipelineStreamPath(spark, sf("sf0.01"))
    val scans = assertReadsFramesOnly("q_pipeline_absorb", Seq(sink))
    assert(scans.exists(_.contains(sink)),
      s"absorb must read the drop survivors from the stream sink ($sink): $scans")
    // the mix discipline: every rank window carries the block key
    val rowNumSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(rowNumSpecs.nonEmpty && rowNumSpecs.forall(_.contains("__blk")),
      s"an absorb rank window ranks without the block key: $rowNumSpecs")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q_pipeline_refresh: steady state reads only materialized leaves across BOTH generations; block-keyed rank windows") {
    val (plan, _) = snapshot("q_pipeline_refresh")
    // the twice-refreshed kept set is a union of THREE registry
    // parquet leaves (ndk-scored + gen-1 survivors + gen-2
    // survivors): the selection must never rescan the corpus or
    // re-run either door
    assertReadsFramesOnly("q_pipeline_refresh")
    val rowNumSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toList
    assert(rowNumSpecs.nonEmpty && rowNumSpecs.forall(_.contains("__blk")),
      s"a refresh rank window ranks without the block key: $rowNumSpecs")
    assert(!plan.contains("CartesianProduct"))
  }

  test("PushedFilters sweep: every contract row that subsets sources " +
      "or strata pushes the subset INTO the parquet scan (the " +
      "mixEpochs lesson: a semantically-correct post-scan drop that " +
      "reads the whole corpus)") {
    // query -> pushed-filter fragment that must appear in a scan's
    // PushedFilters (formatted explain). q_dsir_mix reads a lineage-cut
    // leaf and the pipeline rows read their stage boundaries (their own
    // tests pin that); q_ivf_join's cell pruning is dynamic
    // (DPP, pinned in its test) — this sweep covers the STATIC
    // source/stratum subsets.
    val cases = Seq(
      "q_mix_epochs" -> "In(source",
      "q_mix_budget" -> "In(source",
      "q_mix_tokens" -> "In(source",
      "q_sample_stratified" -> "In(lang",
      "q_source_temperature" -> "In(lang")
    for ((q, frag) <- cases) {
      val (plan, _) = snapshot(q)
      assert(plan.contains("PushedFilters"),
        s"$q: no scan with pushed filters in the plan:\n$plan")
      assert(plan.contains(frag),
        s"$q: the source/stratum subset never reached the scan " +
          s"(expected pushed fragment '$frag'):\n$plan")
    }
  }

  test("q_prototype_prune: broadcast per-cluster threshold, no rank window") {
    val (plan, skel) = snapshot("q_prototype_prune")
    // assignment + distance ride the scan as codegen expressions
    assert(plan.contains("nearest_centroid_d"),
      "assignment no longer rides the scan")
    // the k-row threshold frame broadcasts back for value gating — a
    // per-cluster rank window (cid has k values) would pour each
    // cluster through one reducer's sort
    assert(plan.contains("BroadcastHashJoin"),
      "the threshold join lost its broadcast")
    assert(!plan.contains("row_number"),
      "value gating regressed to a per-cluster rank window")
    assert(!plan.contains("CartesianProduct"))
    checkGolden("q_prototype_prune", skel)
  }

  test("q_ann_l2sq: one AnnScanExec under the TakeOrderedAndProject, no exchange below it") {
    val (plan, skel) = snapshot("q_ann_l2sq")
    // the probe is one planned leaf: one task per shard feeds the
    // global (dist, id) top-k directly — no shuffle or merge stage
    val exec = SparkEntry.queries("q_ann_l2sq")(spark, sf("sf0.01"))
      .queryExecution.executedPlan
    val tops = exec.collect { case t: TakeOrderedAndProjectExec => t }
    assert(tops.size == 1, s"expected one TakeOrderedAndProject:\n$plan")
    assert(tops.head.collect { case a: AnnScanExec => a }.size == 1,
      s"AnnScanExec is not under the TakeOrderedAndProject:\n$plan")
    assert(!tops.head.exists(_.isInstanceOf[Exchange]),
      s"an Exchange runs below the top-k:\n$plan")
    checkGolden("q_ann_l2sq", skel)
  }
}
