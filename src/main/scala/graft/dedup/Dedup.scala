package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.tokenize

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Scale notes: exact dedup is one hash-shuffle on a 16-byte key.
  * MinHash/LSH is the standard shingle -> minhash -> band -> bucket-join
  * pipeline: candidate generation joins on band keys (tiny vs n^2);
  * only candidates get exact-Jaccard verification. All hash functions
  * are md5-derived — deterministic across engines and runs.
  */
object Dedup {

  /** Exact duplicate groups by content hash: (content_hash, dup_count,
    * keeper = min doc id). Rows with dup_count > 1 are duplicate sets. */
  def exactGroups(docs: DataFrame, idCol: Column, textCol: Column): DataFrame =
    docs.select(idCol.as("doc_id"), md5(textCol.cast("binary")).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("keeper"))

  /** Keep one row per distinct content (the minimum id). */
  def dedupExact(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val keepers = exactGroups(docs, idCol, textCol)
      .select(col("keeper").as("__keep_id"))
    docs.join(keepers, idCol === col("__keep_id"), "left_semi")
  }

  /** Incremental (cross-snapshot) exact dedup: keep the rows of a new
    * batch whose content hash does NOT appear in a prior corpus — the
    * "dedup this crawl against everything we already have" step that
    * runs on every corpus refresh. Returns (doc_id, content_hash) of
    * the surviving new rows.
    *
    * Scale shape: a plain `left_anti` join would shuffle the ENTIRE
    * new batch on the 16-byte hash key. Instead a bloom sketch of the
    * prior hashes is built once (distributed partial sketches, merged
    * on the driver — `fpp` 0.01 costs ~9.6 bits/item, so 1B prior docs
    * ≈ 1.2 GB, a per-executor reference object, not a broadcast-join
    * build side) and probes ride codegen inside the new batch's scan:
    * bloom-negative rows (the overwhelming majority when the dup rate
    * is low) are guaranteed-new and never shuffle; only bloom-positive
    * candidates — true dups plus the fpp sliver — pay the anti-join
    * that makes the result exact. The bloom is routing only;
    * correctness never depends on it.
    *
    * `expectedItems < 0` (default) counts the prior side first; pass
    * the known cardinality to skip that job. Composition note: this
    * de-dups against the PRIOR corpus only — run [[dedupExact]] on the
    * new batch first (or after) to also collapse intra-batch dups. */
  def incrementalDedup(newDocs: DataFrame, prior: DataFrame, idCol: Column,
      textCol: Column, priorTextCol: Column, fpp: Double = 0.01,
      expectedItems: Long = -1L): DataFrame = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    val priorH = prior.select(
      md5(priorTextCol.cast("binary")).as("content_hash"))
    val n = if (expectedItems >= 0) expectedItems else priorH.count()
    val bloom = priorH.stat.bloomFilter("content_hash", math.max(n, 1L), fpp)
    incrementalDedupPrepared(newDocs, idCol, textCol, priorH, bloom)
  }

  /** [[incrementalDedup]] riding PREPARED prior-corpus artifacts — the
    * production ingest-job shape (the prepared-signature discipline of
    * the near-dup twin applied to the exact path): `priorHashes` is
    * the stored (content_hash) table the corpus dedup build already
    * wrote, and `bloom` its sketch, built ONCE and reused across every
    * ingest batch instead of a corpus pass per batch. Same routing and
    * the same exactness: bloom-negative rows are guaranteed-new and
    * never shuffle; only bloom-positive candidates pay the anti-join.
    * Returns (doc_id, content_hash) of the surviving new rows. */
  def incrementalDedupPrepared(newDocs: DataFrame, idCol: Column,
      textCol: Column, priorHashes: DataFrame,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val newH = newDocs.select(idCol.as("doc_id"),
      md5(textCol.cast("binary")).as("content_hash"))
    val priorH = priorHashes.select(col("content_hash"))
    // null text -> null hash: a null key never matches an anti-join,
    // so those rows are KEPT — coalesce routes them past the bloom
    // (a bare null probe would silently drop them from both branches)
    val maybeDup = coalesce(graft.functions.bloom_sketch_contains(
      col("content_hash"), bloom), lit(false))
    newH.filter(!maybeDup).unionByName(
      newH.filter(maybeDup)
        .join(priorH, Seq("content_hash"), "left_anti")
        .select(col("doc_id"), col("content_hash")))
  }

  /** Let-binding for column expressions: evaluates `v` ONCE per row and
    * feeds it to `body` as a lambda variable. Without this, referencing
    * an expensive expression inside a higher-order-function lambda
    * re-evaluates it per array element (no CSE across lambda scopes) —
    * e.g. shingling re-tokenized the whole document for every token. */
  private def bindOnce(v: Column)(body: Column => Column): Column =
    element_at(transform(array(v), body), 1)

  /** Word w-shingles of the tokenized text (distinct). */
  def shingles(textCol: Column, w: Int = 3): Column =
    bindOnce(tokenize(textCol)) { t =>
      array_distinct(
        filter(
          transform(t, (_, i) =>
            when(i <= size(t) - w,
              concat_ws(" ", (0 until w).map(j => element_at(t, i + j + 1)): _*))),
          x => x.isNotNull))
    }

  /** Modulus for the affine MinHash permutations: the Mersenne prime
    * 2^31-1. Base hashes are 28 bits so `a*h + b` stays far below the
    * signed-64 overflow line in both Spark and the DuckDB oracle. */
  val MinhashP: Long = 2147483647L

  /** Deterministic (a_i, b_i) coefficients of the i-th permutation
    * h_i(x) = (a_i * base(x) + b_i) mod MinhashP. */
  def minhashCoeffs(n: Int): Seq[(Long, Long)] =
    (0 until n).map { i =>
      ((1103515245L * (i + 1) + 12345L) % MinhashP,
        (1299709L * (i + 1) + 7919L) % MinhashP)
    }

  /** 28-bit base hash of a shingle: first 7 hex digits of its md5.
    * One md5 per shingle; every permutation reuses it via cheap integer
    * arithmetic — the reason minhashing is O(shingles), not
    * O(shingles x permutations) md5 calls. Cross-engine reproducible
    * (DuckDB: ('0x' || substr(md5(x),1,7))::BIGINT). */
  def shingleBaseHash(x: Column): Column =
    conv(substring(md5(x.cast("binary")), 1, 7), 16, 10).cast("long")

  /** Shingled docs: (doc_id, sh) with empty-shingle docs dropped. */
  def shingled(docs: DataFrame, idCol: Column, textCol: Column,
      shingleWidth: Int = 3): DataFrame =
    docs.select(idCol.as("doc_id"), shingles(textCol, shingleWidth).as("sh"))
      .filter(size(col("sh")) > 0) // docs shorter than the shingle width

  /** MinHash signatures from shingled docs: (doc_id, sig: array<long>). */
  def signatures(sh: DataFrame, numHashes: Int = 8): DataFrame = {
    val sigEls = minhashCoeffs(numHashes).map { case (a, b) =>
      array_min(transform(col("__hs"), h => (h * a + b) % MinhashP))
    }
    sh.withColumn("__hs", transform(col("sh"), x => shingleBaseHash(x)))
      .select(col("doc_id"), array(sigEls: _*).as("sig"))
  }

  /** MinHash signature per doc (compatibility shape): (doc_id, sig). */
  def minhashSignature(docs: DataFrame, idCol: Column, textCol: Column,
      numHashes: Int = 8, shingleWidth: Int = 3): DataFrame =
    signatures(shingled(docs, idCol, textCol, shingleWidth), numHashes)

  /** Distinct LSH candidate pairs (doc_a, doc_b) from signatures:
    * band the signature `bands` ways and self-join on the integer band
    * key tuple. The distinct runs on bare id pairs — signature arrays
    * are joined back only after dedup (estimateJaccard). The mega-bucket
    * skew guard ([[pairsFromBuckets]]) is ON by default — with MinHash,
    * near-identical docs share the ENTIRE signature, so a boilerplate
    * cluster makes every band the same mega-bucket at once; the
    * default-on cap is what keeps candidate generation O(n) there. */
  def lshCandidatePairs(sig: DataFrame, numHashes: Int, bands: Int,
      maxBucket: Int = 10000, skewMult: Double = 16.0): DataFrame = {
    val (banded, keys) = bandedOf(sig, numHashes, bands)
    pairsFromBuckets(banded, keys, maxBucket, skewMult)
  }

  /** The MinHash band explosion every LSH consumer shares: (doc_id,
    * band_id, k0..k_{r-1}) rows plus the bucket key column names —
    * exposed so guard telemetry ([[bucketGuardStats]]) can inspect
    * exactly the buckets [[lshCandidatePairs]] joins on. */
  private[graft] def bandedOf(sig: DataFrame, numHashes: Int,
      bands: Int): (DataFrame, Seq[String]) = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    val bandStructs = (0 until bands).map { bIdx =>
      struct((lit(bIdx).as("band_id") +:
        (0 until r).map(j => element_at(col("sig"), bIdx * r + j + 1).as(s"k$j"))): _*)
    }
    val banded = sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("doc_id"), col("band.*"))
    (banded, "band_id" +: (0 until r).map(j => s"k$j"))
  }

  /** Guard TELEMETRY over a bucketed frame — the counters that make a
    * recall regression from hot-bucket collapse measurable instead of
    * assumed (a capped bucket silently trades pair completeness for
    * O(n) candidates; at the century the trade's size was invisible):
    * ONE row with the bucket population, the effective cap (the
    * [[withBucketCap]] decision the candidate join applies — absolute
    * floor raised to skewMult × median), how many buckets the cap
    * fired on, the rows inside them, the star edges they emit instead
    * of all-pairs, and `pairs_dropped` = Σ (C(n,2) − (n−1)) — the
    * exact candidate count the cap removed. Zero `n_capped` means
    * guard-on == guard-off on this corpus (the contract-scale
    * invariant DedupGuardSpec pins). Same aggregate shape as the
    * guard itself: one combiner groupBy + a 1-row broadcast median. */
  def bucketGuardStats(bucketed: DataFrame, keys: Seq[String],
      maxBucket: Int = 10000, skewMult: Double = 16.0): DataFrame = {
    val stats = bucketed.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__bn"))
    val capped = col("__bn") > col("__cap")
    withBucketCap(stats, maxBucket, skewMult)
      .agg(count(lit(1)).as("n_buckets"),
        max(col("__bn")).as("max_bucket"),
        max(col("__cap")).as("cap"),
        sum(when(capped, 1L).otherwise(0L)).as("n_capped"),
        coalesce(sum(when(capped, col("__bn"))), lit(0L))
          .as("rows_in_capped"),
        coalesce(sum(when(capped, col("__bn") - 1)), lit(0L))
          .as("star_edges"),
        // `/` is double division in Spark — exact for bucket counts
        // far below 2^26, re-cast to the integral type the counter is
        coalesce(sum(when(capped,
          (col("__bn") * (col("__bn") - 1) / 2).cast("long") -
            (col("__bn") - 1))),
          lit(0L)).as("pairs_dropped"))
  }

  /** Shared bucket-join candidate generation for every LSH entry point
    * (MinHash bands, hyperplane sign bands, simhash bit bands): all-pairs
    * within each bucket, guarded by the default-on mega-bucket star cap.
    * `bucketed` needs a `doc_id` column plus the `keys` columns.
    *
    * The guard (one shape, shared by all paths): a bucket is star-capped
    * only when it is BOTH larger than `maxBucket` AND larger than
    * `skewMult` x the MEDIAN bucket size. The absolute threshold alone
    * would misfire on a perfectly uniform corpus — there every bucket
    * grows as n/keyspace and crossing `maxBucket` just means the corpus
    * outgrew the band width; the quadratic candidate count is real work
    * the caller should re-shape with wider bands, not something to
    * silently cut (which would collapse recall with no warning). The
    * floor is the median, NOT the mean: on a corpus dominated by one
    * boilerplate cluster — the guard's motivating case — the hot buckets
    * inflate the mean until the relative test never fires, while the
    * median tracks the typical bucket and keeps them capped. Stats come
    * from ONE combiner-aggregated groupBy joined back to the banded rows
    * (no per-bucket window sort); the median attaches by a 1-row
    * broadcast cross join so the whole decision stays in the plan. A
    * capped bucket emits star edges to the bucket's minimum doc_id —
    * O(n) candidates, same connected components for the dedup-grouping
    * consumer whenever downstream verification keeps the center's edges
    * (the planted-mega-cluster specs pin exactly this). `maxBucket <= 0`
    * disables the guard entirely; `skewMult <= 0` keeps the absolute
    * threshold only (specs use it to force capping on tiny fixtures). */
  /** The per-bucket cap every mega-bucket guard shares: the ABSOLUTE
    * `maxBucket` floor raised to `skewMult`× the MEDIAN bucket size
    * (exact percentile over the bucket-stats frame — a handful of
    * rows per key domain — attached by a 1-row broadcast cross join;
    * median, not mean: mega-buckets inflate the mean until the guard
    * self-disables). Input must carry a `__bn` count column; returns
    * it with `__cap` added. Used by [[pairsFromBuckets]] and
    * [[winnowPairs]] so the two guards can never drift. */
  private def withBucketCap(stats: DataFrame, maxBucket: Int,
      skewMult: Double): DataFrame =
    if (skewMult <= 0) stats.withColumn("__cap", lit(maxBucket.toLong))
    else stats.crossJoin(broadcast(
        stats.agg(expr("percentile(__bn, 0.5)").as("__med"))))
      .withColumn("__cap",
        greatest(lit(maxBucket.toLong),
          ceil(col("__med") * skewMult).cast("long")))
      .drop("__med")

  private[graft] def pairsFromBuckets(bucketed: DataFrame, keys: Seq[String],
      maxBucket: Int, skewMult: Double = 16.0): DataFrame = {
    val keyCols = keys.map(col)
    def allPairs(b: DataFrame): DataFrame =
      b.select((col("doc_id").as("doc_a") +: keyCols): _*)
        .join(b.select((col("doc_id").as("doc_b") +: keyCols): _*), keys)
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"))
    (if (maxBucket <= 0) allPairs(bucketed)
    else {
      val stats = bucketed.groupBy(keyCols: _*)
        .agg(count(lit(1)).as("__bn"), min(col("doc_id")).as("__min"))
      val withN = bucketed.join(withBucketCap(stats, maxBucket, skewMult), keys)
      val smallPairs = allPairs(withN.filter(col("__bn") <= col("__cap"))
        .select((col("doc_id") +: keyCols): _*))
      // the star center is the bucket's minimum doc id
      val starPairs = withN
        .filter(col("__bn") > col("__cap") && col("doc_id") =!= col("__min"))
        .select(col("__min").as("doc_a"), col("doc_id").as("doc_b"))
      smallPairs.unionByName(starPairs)
    }).distinct()
  }

  /** Random-hyperplane LSH candidate pairs over an embedding column:
    * `bands` sign-bit keys of `bitsPerBand` planes each; a candidate
    * pair shares at least one band (and every `blockCols` value, when
    * metadata blocking composes with the LSH bucketing). All
    * `bands * bitsPerBand` sign bits come from ONE pass of the
    * [[graft.functions.hyperplane_sig]] codegen kernel (a per-plane
    * `inner_product >= 0` expression tree falls out of codegen past
    * ~32 planes — measured 10x slower at the 64-plane contract
    * geometry); band keys are then plain bit slices of the packed
    * signature. The default-on mega-bucket star cap
    * ([[pairsFromBuckets]]) applies — at corpus scale a popular sign
    * pattern would otherwise emit bucket² pairs. */
  def hyperplanePairs(df: DataFrame, idCol: Column, vecCol: Column,
      planes: Seq[Seq[Float]], bands: Int, bitsPerBand: Int,
      maxBucket: Int = 10000, blockCols: Seq[Column] = Nil,
      skewMult: Double = 16.0): DataFrame = {
    require(planes.length >= bands * bitsPerBand,
      s"need ${bands * bitsPerBand} planes, got ${planes.length}")
    require(bands * bitsPerBand <= 64,
      s"at most 64 sign bits per signature, got ${bands * bitsPerBand}")
    val sig = graft.functions.hyperplane_sig(vecCol,
      planes.take(bands * bitsPerBand))
    val mask = if (bitsPerBand == 64) -1L else (1L << bitsPerBand) - 1
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band_id"),
        shiftrightunsigned(col("__hp_sig"), b * bitsPerBand)
          .bitwiseAND(lit(mask)).as("k0"))
    }
    val blockNames = blockCols.indices.map(i => s"blk$i")
    val banded = df
      .select((idCol.as("doc_id") +:
        blockCols.zip(blockNames).map { case (c, n) => c.as(n) }) :+
        sig.as("__hp_sig"): _*)
      .select((col("doc_id") +: blockNames.map(col)) :+
        explode(array(bandStructs: _*)).as("band"): _*)
      .select((col("doc_id") +: blockNames.map(col)) :+ col("band.*"): _*)
    pairsFromBuckets(banded, blockNames ++ Seq("band_id", "k0"), maxBucket,
      skewMult)
  }

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540 — cluster embeddings with a coarse quantizer,
    * then deduplicate WITHIN each cluster): the k-means cluster id
    * becomes the blocking key of [[hyperplanePairs]]' banded LSH, so a
    * candidate pair needs the SAME cluster and a shared sign band —
    * never all-pairs, and never a cross-cluster join. Every candidate
    * is verified by exact cosine distance; `maxDist` keeps verified
    * near-dups only. Missed cross-cluster near-dups are the method's
    * documented trade (the paper's too — duplicates land in the same
    * cluster by construction for any sane quantizer).
    *
    * Scale shape: assignment is the codegen `nearest_centroid` argmin
    * (narrow scan), candidates are (cluster, band)-bucket equi-joins
    * with the same mega-bucket star cap as the LSH path, verification
    * joins vectors back per DISTINCT pair. Centroids are caller-
    * supplied (train via [[graft.pq.Pq.kmeans]] on a uniform sample,
    * or reuse an IVF index's quantizer — SemDeDup and IVF share the
    * coarse-clustering step by design). Returns
    * (doc_a, doc_b, cos_dist). */
  def semanticPairs(df: DataFrame, idCol: Column, vecCol: Column,
      centroids: Array[Array[Float]], planes: Seq[Seq[Float]],
      bands: Int, bitsPerBand: Int, maxDist: Double,
      maxBucket: Int = 10000, skewMult: Double = 16.0): DataFrame = {
    val withCluster = df.select(idCol.as("__sp_id"), vecCol.as("__sp_vec"))
      .withColumn("__cluster", graft.functions.nearest_centroid(
        col("__sp_vec"), centroids, graft.ann.Metric.Cos.id))
    val cand = hyperplanePairs(withCluster, col("__sp_id"),
      col("__sp_vec"), planes, bands, bitsPerBand, maxBucket,
      blockCols = Seq(col("__cluster")), skewMult = skewMult)
    val vecs = withCluster.select(col("__sp_id"), col("__sp_vec"))
    cand
      .join(vecs.select(col("__sp_id").as("doc_a"),
        col("__sp_vec").as("__va")), "doc_a")
      .join(vecs.select(col("__sp_id").as("doc_b"),
        col("__sp_vec").as("__vb")), "doc_b")
      .withColumn("cos_dist",
        graft.functions.cos_dist(col("__va"), col("__vb")))
      .filter(col("cos_dist") <= maxDist)
      .select(col("doc_a"), col("doc_b"), col("cos_dist"))
  }

  /** SemDeDup end-to-end ACTION: keep one row per semantic near-dup
    * group (the member whose id is the group minimum) plus every
    * unclustered row — [[semanticPairs]] composed with
    * [[keepOnePerGroup]], the one-call "dedupe my corpus
    * semantically" a pipeline author reaches for. All the scale
    * properties of the parts apply: cluster-blocked banded candidates
    * with the default-on mega-bucket guard, exact-cosine verification
    * per distinct pair, and components solved by the bounded driver
    * union-find or the distributed loop by measured size. */
  def semanticDedup(df: DataFrame, idCol: Column, vecCol: Column,
      centroids: Array[Array[Float]], planes: Seq[Seq[Float]],
      bands: Int, bitsPerBand: Int, maxDist: Double,
      maxBucket: Int = 10000, skewMult: Double = 16.0): DataFrame =
    keepOnePerGroup(df, idCol,
      semanticPairs(df, idCol, vecCol, centroids, planes, bands,
        bitsPerBand, maxDist, maxBucket, skewMult)
        .select(col("doc_a"), col("doc_b")))

  /** Attach est_jaccard = fraction of matching minhashes to id pairs. */
  def estimateJaccard(pairs: DataFrame, sig: DataFrame, numHashes: Int): DataFrame =
    pairs
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est_jaccard",
        round(size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => x === y), m => m)).cast("double") / numHashes.toDouble, 6))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))

  /** Exact n-gram Jaccard for candidate pairs (verification stage after
    * LSH). `sh` is a shingled docs frame from [[shingled]] — pass the
    * same (ideally persisted) frame that produced the signatures so the
    * shingling work is not recomputed. */
  def jaccardVerify(sh: DataFrame, pairs: DataFrame): DataFrame =
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("jaccard",
        round(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"), 6))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Incremental NEAR-duplicate detection at the ingest door — the
    * fuzzy sibling of [[incrementalDedup]] (which only catches exact
    * hashes): each NEW document is checked against the EXISTING
    * corpus through the MinHash band machinery, and flagged with
    * every existing document it near-duplicates at `threshold`
    * Jaccard. The existing corpus is touched ONLY through its banded
    * signature table and its shingle table — at cluster scale both
    * are prepared artifacts an ingest job reads, never a re-shingle
    * of the corpus per batch.
    *
    * Scale shape: band keys equi-join new×existing (the new side is
    * an ingest batch, orders of magnitude smaller); candidate pairs
    * distinct on bare ids; verification is [[jaccardVerify]] over the
    * union shingle frame. The mega-bucket guard applies to the
    * EXISTING side's band buckets: a bucket over the cap (absolute
    * AND median-relative, [[withBucketCap]] — the shared helper, so
    * the guards cannot drift) is represented by its MINIMUM doc id
    * alone, bounding any new doc's candidate fan-out to O(1) per hot
    * bucket. The recall caveat is the star-cap argument: a bucket
    * only goes hot when thousands of existing docs share the entire
    * band key — boilerplate whose members are near-identical, so the
    * representative verifies for all of them.
    *
    * Ids must be disjoint across the two frames (ingest assigns new
    * ids; same precondition family as [[snapshotDiff]]'s uniqueness,
    * checked cheaply via the verify join's sides). Inputs are
    * [[shingled]] frames; this convenience overload derives the
    * existing side's signatures from its shingle frame — a job that
    * runs repeatedly against the same corpus should instead pass the
    * PREPARED signature artifact (the `dedup_signatures` build) to
    * the `oldSignatures` overload, so each batch pays only the new
    * side's minhashing (at the sf10 century the per-batch signature
    * recompute was most of this operator's 23 s cost — ADVICE r12).
    * Returns (doc_id, dup_of, jaccard): one row per flagged (new,
    * existing) match at or above `threshold`. */
  def incrementalNearDup(newShingled: DataFrame, oldShingled: DataFrame,
      numHashes: Int = 8, bands: Int = 4, threshold: Double = 0.6,
      maxBucket: Int = 10000, skewMult: Double = 16.0): DataFrame =
    incrementalNearDup(newShingled, oldShingled,
      signatures(oldShingled, numHashes), numHashes, bands, threshold,
      maxBucket, skewMult)

  /** [[incrementalNearDup]] riding the existing corpus' PREPARED
    * signature table — the production shape: `oldSignatures` is the
    * stored (doc_id, sig) artifact the corpus dedup build already
    * wrote (sig length must be >= `numHashes`; the banding reads the
    * first `numHashes` entries), and `oldShingled` is read ONLY by
    * the Jaccard verify stage over the bounded candidate set. Each
    * ingest batch therefore minhashes just its own documents; the
    * corpus contributes pre-computed tables on both stages. */
  def incrementalNearDup(newShingled: DataFrame, oldShingled: DataFrame,
      oldSignatures: DataFrame, numHashes: Int, bands: Int,
      threshold: Double, maxBucket: Int, skewMult: Double): DataFrame =
    incrementalNearDup(newShingled, signatures(newShingled, numHashes),
      oldShingled, oldSignatures, numHashes, bands, threshold, maxBucket,
      skewMult)

  /** [[incrementalNearDup]] with BOTH sides' signatures supplied — the
    * fully-prepared shape a composed streaming ingest wants when its
    * verify stage rides HASHED shingle frames (the r13 century width
    * discipline: 60-bit md5 shingle hashes sort/join 4-6× narrower
    * than the strings). `signatures()` derives band keys from the
    * 28-bit base hash of STRING shingles, so a caller verifying on
    * hashed frames must compute the new side's signatures from the
    * string frame itself and pass them here — this overload uses the
    * shingle frames ONLY in the Jaccard verify, in whatever (mutually
    * consistent) representation the caller chose. */
  def incrementalNearDup(newShingled: DataFrame, newSignatures: DataFrame,
      oldShingled: DataFrame, oldSignatures: DataFrame, numHashes: Int,
      bands: Int, threshold: Double, maxBucket: Int,
      skewMult: Double): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    require(threshold >= 0 && threshold <= 1, "threshold must be in [0, 1]")
    val r = numHashes / bands
    def bandRows(sigs: DataFrame): DataFrame = {
      val bandStructs = (0 until bands).map { bIdx =>
        struct((lit(bIdx).as("band_id") +:
          (0 until r).map(j =>
            element_at(col("sig"), bIdx * r + j + 1).as(s"k$j"))): _*)
      }
      sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
        .select(col("doc_id"), col("band.*"))
    }
    val keys = "band_id" +: (0 until r).map(j => s"k$j")
    val keyCols = keys.map(col)
    val newBands = bandRows(newSignatures)
    val oldBands = bandRows(oldSignatures)
    val oldSide =
      if (maxBucket <= 0) oldBands
      else {
        val stats = oldBands.groupBy(keyCols: _*)
          .agg(count(lit(1)).as("__bn"), min(col("doc_id")).as("__min"))
        oldBands.join(withBucketCap(stats, maxBucket, skewMult), keys)
          .filter(col("__bn") <= col("__cap") || col("doc_id") === col("__min"))
          .select((col("doc_id") +: keyCols): _*)
      }
    val cands = newBands
      .select((col("doc_id").as("doc_a") +: keyCols): _*)
      .join(oldSide.select((col("doc_id").as("doc_b") +: keyCols): _*), keys)
      .select(col("doc_a"), col("doc_b"))
      .distinct()
    jaccardVerify(newShingled.unionByName(oldShingled), cands)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("dup_of"),
        col("jaccard"))
  }

  /** Winnowing near-dup pairs: n_shared = the number of DISTINCT
    * fingerprints a pair shares, counted DIRECTLY off the bucket join
    * — (doc, hash) is distinct, so each shared hash contributes
    * exactly one joined row and one combiner-friendly
    * `groupBy(doc_a, doc_b).count` IS the verification. No per-doc
    * fingerprint sets are ever materialized (a first cut collected
    * 760M fingerprints into 5M driver-sized arrays and intersected
    * them per pair — 600 s at the sf10 century; this shape runs as
    * three hash shuffles and rides it).
    *
    * Guard semantics: fingerprints whose bucket exceeds the
    * mega-bucket cap (absolute `maxBucket` AND `skewMult`× the median
    * bucket, the [[pairsFromBuckets]] thresholds) are EXCLUDED from
    * the join and the counts — a fingerprint shared by thousands of
    * documents is boilerplate, exactly the signal a near-dup merge
    * must not fire on (the tfidf-stopword reasoning); a pair sharing
    * ONLY mega-bucket fingerprints reports no row. With the default
    * thresholds no contract-scale bucket is capped, so guard-on ==
    * guard-off there. `maxBucket <= 0` disables the guard.
    *
    * The default cap is 1000 — deliberately LOWER than
    * [[pairsFromBuckets]]'s 10000 (ADVICE r11): this path's self-join
    * is quadratic in the bucket with no star-reduction fallback (a
    * star center would distort the n_shared counts the verification
    * IS), so a bucket just under the cap costs cap²/2 joined rows —
    * 5e5 at 1000 vs 5e7 at 10000. A fingerprint shared by even a
    * thousand documents is already boilerplate by any measure; pairs
    * that genuinely share content share OTHER fingerprints too and
    * still surface.
    *
    * Input is [[graft.text.TextOps.winnow]]'s (doc_id, fp_pos,
    * fp_hash) frame. Returns (doc_a, doc_b, n_shared) with
    * n_shared >= `minShared`. */
  def winnowPairs(fp: DataFrame, minShared: Int = 2,
      maxBucket: Int = 1000, skewMult: Double = 16.0): DataFrame = {
    require(minShared >= 1, "minShared must be positive")
    val keyed = fp.select(col("doc_id"), col("fp_hash").as("__k")).distinct()
    val guarded =
      if (maxBucket <= 0) keyed
      else {
        val stats = keyed.groupBy(col("__k")).agg(count(lit(1)).as("__bn"))
        keyed.join(
          withBucketCap(stats, maxBucket, skewMult)
            .filter(col("__bn") <= col("__cap")).select(col("__k")),
          "__k")
      }
    guarded.select(col("__k"), col("doc_id").as("doc_a"))
      .join(guarded.select(col("__k"), col("doc_id").as("doc_b")), "__k")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("int").as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus snapshot diff — the dataset-versioning primitive (what
    * changed between two crawls / two pipeline runs, the input to
    * incremental re-embedding and changelog audits): per-document
    * status `added` (id only in `after`), `removed` (only in
    * `before`), `changed` (both, content hash differs), `unchanged`.
    * Content identity is the same 16-byte md5 the exact-dedup family
    * keys on, so "changed" means byte-level text change.
    *
    * Scale shape: each side reduces to (id, hash) in-scan, then ONE
    * full-outer hash join on the id key — no corpus text ever
    * shuffles (hashes do); bucketed/co-partitioned snapshot tables
    * join exchange-free.
    *
    * PRECONDITION (ADVICE r11): doc ids must be unique WITHIN each
    * snapshot — a duplicate id on either side fans the full-outer
    * join out and emits multiple (possibly contradictory) status rows
    * for that document. Snapshots are id-keyed corpus versions, so
    * duplicates mean the upstream pipeline is broken; this operator
    * will not silently pick one. `checkUnique = true` adds one
    * aggregation per side that fails fast with the duplicate count
    * instead — opt-in because the check costs a full extra shuffle of
    * both (id, hash) sides, which the diff itself never needs. */
  def snapshotDiff(before: DataFrame, beforeId: Column, beforeText: Column,
      after: DataFrame, afterId: Column, afterText: Column,
      checkUnique: Boolean = false): DataFrame = {
    if (checkUnique) {
      Seq(("before", before, beforeId), ("after", after, afterId))
        .foreach { case (side, df, idc) =>
          val dups = df.groupBy(idc.as("__id"))
            .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).count()
          require(dups == 0L,
            s"snapshotDiff: $dups duplicate doc ids in the '$side' " +
              "snapshot; ids must be unique per snapshot")
        }
    }
    // presence is a literal flag per side, NEVER inferred from hash
    // nullness: a document whose text is null (an extraction failure)
    // still EXISTS in its snapshot — hash-as-presence would misreport
    // it added/removed and an incremental pipeline keyed on the diff
    // would re-ingest or drop it
    val b = before.select(beforeId.as("doc_id"),
      md5(beforeText.cast("binary")).as("__hb"), lit(1).as("__pb"))
    val a = after.select(afterId.as("doc_id"),
      md5(afterText.cast("binary")).as("__ha"), lit(1).as("__pa"))
    b.join(a, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("__pb").isNull, "added")
          .when(col("__pa").isNull, "removed")
          // null-safe equality: two null texts are the same content
          .when(col("__ha") <=> col("__hb"), "unchanged")
          .otherwise("changed").as("status"))
  }

  /** Containment verification (Broder 1997's containment coefficient,
    * the companion measure to resemblance/Jaccard): c(A→B) =
    * |A∩B| / |A| per direction. One-sided overlap catches the
    * subset/quote-inclusion duplication Jaccard under-scores — a
    * short document fully quoted inside a long one has containment
    * ~1.0 in the short→long direction while |A∩B|/|A∪B| is dragged
    * toward 0 by the long document's size, so a Jaccard-thresholded
    * dedup pass keeps both copies. Emits BOTH directions per pair
    * (containment is asymmetric); a doc with no shingles yields null
    * for its direction (0/0 is undefined, not a similarity).
    *
    * Scale shape: identical to [[jaccardVerify]] — the bounded
    * candidate-pair frame joins the doc_id-bucketed shingle table
    * twice, exchange-free on the corpus sides. */
  def containmentVerify(sh: DataFrame, pairs: DataFrame): DataFrame = {
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    def c(side: Column): Column =
      when(size(side) === 0, lit(null))
        .otherwise(round(inter / size(side).cast("double"), 6))
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        c(col("sh_a")).as("containment_a"), c(col("sh_b")).as("containment_b"))
  }

  /** Connected components over verified near-duplicate pairs: each doc
    * gets `component` = the smallest doc id reachable through the pair
    * graph — the cluster key for "keep one doc per near-dup group"
    * (keeper = the doc whose id equals its component).
    *
    * Ids are cast to long up front, so BOTH regimes emit the same
    * (doc_id: long, component: long) schema regardless of the input
    * id type and of which regime the data size selects.
    *
    * Two regimes, chosen by a COUNTED pair bound. The verified-pairs
    * graph is orders of magnitude smaller than the corpus (it holds
    * only near-duplicate ids), so up to `driverEdgeLimit` distinct
    * undirected pairs (default 1M; the regime's worst case AT the
    * bound — collected Rows plus the boxed parent map — measured a
    * ~0.4 GB transient old-gen delta, bounded and far under a real
    * driver heap) the components are solved by a driver
    * union-find with union-by-min + path compression — milliseconds
    * and zero shuffle rounds, against a distributed loop whose
    * per-round fixed cost (a checkpoint and a convergence probe)
    * dwarfs the data at this size. The collect is NOT unbounded: the
    * pair count is measured first and the driver path taken only
    * under the explicit bound.
    *
    * Above the bound: iterative min-label propagation with pointer
    * jumping — every round each vertex takes the min of its own and
    * its neighbors' labels (one shuffle), then shortcuts to its
    * label's label (path compression), so chain-shaped graphs — the
    * worst case for banded-LSH near-dup graphs whose clusters link
    * through partial band overlaps — converge in roughly half the
    * diameter instead of the full diameter. Each round's labels are
    * locally checkpointed (eager, lineage-TRUNCATING — plain persist
    * would let the plan grow by one join+agg per round) and the
    * previous round unpersisted. */
  def connectedComponents(pairs: DataFrame, aCol: String = "doc_a",
      bCol: String = "doc_b", maxIters: Int = 20,
      driverEdgeLimit: Long = 1000000L): DataFrame = {
    // long ids in both regimes: the driver path reads longs and the
    // regimes must never emit size-dependent schemas. try_cast, not
    // cast: under default ANSI a plain cast of a non-numeric id throws
    // a raw NumberFormatException mid-job; try_cast yields NULL in both
    // modes so the require below owns the diagnosis.
    val und = pairs
      .select(col(aCol).try_cast("long").as("src"),
        col(bCol).try_cast("long").as("dst"))
      .distinct().persist()
    // One job measures the pair count AND materializes the persist AND
    // fails fast on non-castable ids: a string/UUID id column casts to
    // NULL, which would NPE the driver regime and silently collapse
    // every vertex into one null row in the distributed regime (after
    // which keepOnePerGroup's anti-join matches nothing and dedup is a
    // silent no-op). Callers with non-integral ids must map them to
    // longs (e.g. xxhash64) before clustering.
    val st = und.agg(count(lit(1)).as("n"),
      count(when(col("src").isNull.or(col("dst").isNull), 1)).as("bad")).head()
    val pairCount = st.getLong(0)
    require(st.getLong(1) == 0L,
      s"connectedComponents: ${st.getLong(1)} of $pairCount pairs have " +
        s"ids that do not cast to long ($aCol/$bCol must be integral; " +
        "hash string ids to longs, e.g. xxhash64, before clustering)")
    if (pairCount <= driverEdgeLimit) {
      val spark = pairs.sparkSession
      import spark.implicits._
      // union-by-min: the smaller id always becomes the root, so after
      // full path compression every root IS its component's min id.
      // Union-find is symmetric, so the UNDIRECTED pairs suffice —
      // half the rows the distributed loop's edge frame carries.
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      und.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
        val ra = find(a); val rb = find(b)
        if (ra != rb) {
          if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
        }
      }
      val out = new Array[(Long, Long)](parent.size())
      val it = parent.keySet().iterator()
      var i = 0
      while (it.hasNext) { val id = it.next(); out(i) = (id, find(id)); i += 1 }
      und.unpersist()
      return spark.createDataset(scala.collection.immutable.ArraySeq
          .unsafeWrapArray(out))
        .toDF("doc_id", "component")
    }
    val edges = und
      .unionByName(und.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("component", col("id")).localCheckpoint()
    var iter = 0
    var converged = labels.isEmpty
    while (!converged && iter < maxIters) {
      // each vertex's own row carries its pre-round label as `prev`
      // (exactly one own row per id survives the groupBy via max over
      // the null-prev message rows), so convergence is probed by
      // COUNTING changed labels — bounded by |V|, overflow-free for
      // full-range hash-derived ids where a sum over the labels
      // themselves can exceed Long range (aborting under ANSI mode, or
      // wrapping into a false fixpoint with ANSI off)
      val msgs = edges.join(labels, edges("src") === labels("id"))
        .select(col("dst").as("id"), col("component"),
          lit(null).cast("long").as("prev"))
      val propagated = labels
        .select(col("id"), col("component"), col("component").as("prev"))
        .unionByName(msgs)
        .groupBy(col("id"))
        .agg(min(col("component")).as("component"), max(col("prev")).as("prev"))
      // pointer jumping: adopt the label OF the labeled vertex (label
      // values are always vertex ids, and that vertex's label is by
      // construction a min over ids reachable from here transitively).
      // The left join + coalesce keeps vertices whose label row is
      // still in flight this round.
      val next = propagated.as("a")
        .join(propagated.select(col("id").as("__jid"),
          col("component").as("__jc")).as("b"),
          col("a.component") === col("__jid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.component"),
            coalesce(col("__jc"), col("a.component"))).as("component"),
          col("a.prev").as("prev"))
        .localCheckpoint() // eager: truncates the per-round lineage
      val changed = next.filter(col("component") =!= col("prev")).count()
      labels.unpersist()
      labels = next
      iter += 1
      converged = changed == 0L
    }
    if (!converged) {
      // silent wrongness would split one group into several "keepers"
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents stopped after $maxIters rounds without " +
          "converging (graph diameter exceeds maxIters); components may " +
          "be split - raise maxIters for chain-shaped duplicate graphs")
    }
    edges.unpersist()
    und.unpersist()
    labels.select(col("id").as("doc_id"), col("component"))
  }

  /** Near-duplicate removal: keep one row per [[connectedComponents]]
    * cluster (the member whose id equals the cluster key, i.e. the
    * minimum) plus every unclustered row. The verified-pairs frame
    * drives clustering; `df` rows never join all-pairs. */
  def keepOnePerGroup(df: DataFrame, idCol: Column,
      pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    // unique name: df's own id column is usually also "doc_id", and an
    // unqualified join condition on a shared name is ambiguous
    val losers = comps.filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("__dup_loser"))
    df.join(losers, idCol === losers("__dup_loser"), "left_anti")
  }

  /** Quality-aware keeper annotation — the dedup policy public
    * pipelines actually ship (keep the BEST member of each near-dup
    * cluster, not an arbitrary one; e.g. RefinedWeb/FineWeb keep by
    * quality signal): every component member gets its component, its
    * score, and a `keeper` flag marking the member with the HIGHEST
    * score (ties break to the lowest id — [[keepOnePerGroup]]'s
    * min-id convention is the degenerate constant-score case).
    * Members missing a score row can never be keepers (scored at
    * -infinity; a fully unscored component falls back to min id).
    *
    * Scale shape: ONE component-keyed combiner aggregate of
    * (score, -id) structs — component cardinality is corpus-order,
    * never a handful of hot keys — then an equi-join of members back
    * to their component's argmax row on the same key. No rank
    * window, no all-pairs.
    *
    * Returns (doc_id, component, score, keeper). */
  def bestPerGroup(pairs: DataFrame, scores: DataFrame, scoreIdCol: Column,
      scoreCol: Column): DataFrame = {
    val comps = connectedComponents(pairs)
    val scored = comps
      .join(scores.select(scoreIdCol.as("doc_id"),
        scoreCol.cast("double").as("__q")), Seq("doc_id"), "left")
      .withColumn("__q", coalesce(col("__q"), lit(Double.NegativeInfinity)))
    val best = scored.groupBy(col("component"))
      .agg(max(struct(col("__q").as("q"), (-col("doc_id")).as("nid")))
        .as("__b"))
      .select(col("component"), (-col("__b.nid")).as("__keeper_id"))
    scored.join(best, Seq("component"))
      .select(col("doc_id"), col("component"), col("__q").as("score"),
        (col("doc_id") === col("__keeper_id")).as("keeper"))
  }

  /** The [[bestPerGroup]] ACTION: drop every component member except
    * its best-scoring one (the quality-aware [[keepOnePerGroup]]). */
  def keepBestPerGroup(df: DataFrame, idCol: Column, pairs: DataFrame,
      scores: DataFrame, scoreIdCol: Column, scoreCol: Column): DataFrame = {
    val losers = bestPerGroup(pairs, scores, scoreIdCol, scoreCol)
      .filter(!col("keeper"))
      .select(col("doc_id").as("__dup_loser"))
    df.join(losers, idCol === losers("__dup_loser"), "left_anti")
  }

  /** Line-level corpus dedup (the CCNet/RefinedWeb "remove duplicated
    * lines" pass, applied before document-level dedup in public
    * training-data pipelines): split every document into lines, count
    * how many DISTINCT documents each exact line occurs in corpus-wide,
    * drop lines occurring in more than `maxDocs` documents, and
    * reassemble the surviving text in original order.
    *
    * The corpus has no newlines, so a "line" is a non-overlapping
    * `chunk`-token window — the same contract, parameterized by the
    * segmentation (pass a real line split upstream when the data has
    * one).
    *
    * Scale shape: lines join their corpus-wide counts through a 16-byte
    * md5 key, never the line text — the count aggregation and the
    * count join both shuffle narrow (doc_id, line_hash) rows, and the
    * reassembly groupBy shuffles each doc's surviving lines once. No
    * all-pairs anything; three hash shuffles total, each on a key with
    * corpus-wide cardinality (not skewed toward one reducer). The
    * boilerplate line that appears in half the corpus becomes ONE count
    * row (the groupBy pre-aggregates map-side), not a hot join key,
    * because the join direction is lines->counts on the line hash.
    *
    * Returns (doc_id, n_lines, n_dup_lines, text_clean). */
  def lineDedup(docs: DataFrame, idCol: Column, textCol: Column,
      chunk: Int = 8, maxDocs: Int = 1): DataFrame = {
    val t = col("__t")
    val nLines = ceil(size(t).cast("double") / chunk).cast("int")
    val lineArr = when(size(t) > 0,
      transform(sequence(lit(0), nLines - 1),
        i => array_join(slice(t, i * chunk + 1, lit(chunk)), " ")))
      .otherwise(array().cast("array<string>"))
    val lines = docs
      .select(idCol.as("doc_id"), tokenize(textCol).as("__t"))
      .select(col("doc_id"), posexplode(lineArr).as(Seq("line_idx", "line")))
      .withColumn("__lh", md5(col("line").cast("binary")))
    val counts = lines.groupBy(col("__lh"))
      .agg(countDistinct(col("doc_id")).as("__nd"))
    val perDoc = lines.join(counts, "__lh")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("__nd") > maxDocs, 1L).otherwise(0L)).as("n_dup_lines"),
        array_join(transform(
          array_sort(collect_list(when(col("__nd") <= maxDocs,
            struct(col("line_idx"), col("line"))))),
          s => s.getField("line")), " ").as("text_clean"))
    // docs that tokenize to zero lines produce no line rows; join back
    // so they survive as (0, 0, "") instead of vanishing from a frame
    // that callers treat as the full deduped corpus
    docs.select(idCol.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_dup_lines"), lit(0L)).as("n_dup_lines"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Exact-substring deduplication — the ExactSubstr pass of the
    * public dedup literature (Lee et al. 2022, arXiv:2107.06499,
    * "Deduplicating Training Data Makes Language Models Better"):
    * remove every token covered by a k-token run that occurs more
    * than once corpus-wide (across documents OR repeated within one
    * — the paper counts total occurrences). Unlike [[lineDedup]]'s
    * fixed segmentation this catches duplicated spans at ANY offset:
    * a token survives iff no duplicated k-gram window covers it, so
    * maximal duplicated runs longer than k are cut whole.
    *
    * The suffix-array machinery of the paper collapses into three
    * relational steps: (1) every k-gram start is marked duplicated
    * when its hash occurs > 1 time corpus-wide; (2) token position p
    * is covered iff some duplicated start s satisfies
    * s <= p <= s+k-1, i.e. iff the RUNNING MAX of duplicated starts
    * up to p is >= p-k+1 — one per-doc ordered window, with no
    * per-start expansion (consecutive duplicated starts overlap
    * k-fold; exploding each window would multiply rows by k);
    * (3) survivors reassemble in order.
    *
    * Scale shape (the lineDedup discipline): grams shuffle once on a
    * 16-byte hash key for the corpus-wide count (map-side combined);
    * start positions join their counts through the hash, never gram
    * text; the coverage window and the reassembly each group once per
    * doc. Returns (doc_id, n_tokens, n_removed, text_clean). */
  def substringDedup(docs: DataFrame, idCol: Column, textCol: Column,
      k: Int = 13): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val t = col("__t")
    val gramArr = when(size(t) >= k,
      transform(sequence(lit(1), size(t) - (k - 1)),
        i => md5(array_join(slice(t, i, lit(k)), " ").cast("binary"))))
      .otherwise(array().cast("array<string>"))
    val toks = docs.select(idCol.as("doc_id"), tokenize(textCol).as("__t"))
    val starts = toks
      .select(col("doc_id"), posexplode(gramArr).as(Seq("__s0", "__gh")))
    val counts = starts.groupBy(col("__gh"))
      .agg(count(lit(1)).as("__n"))
    val dupStarts = starts.join(counts, "__gh")
      .filter(col("__n") > 1)
      .select(col("doc_id").as("__dsid"), col("__s0").as("__ds"))
    val tokPos = toks
      .select(col("doc_id"), posexplode(col("__t")).as(Seq("p", "tok")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val covered = tokPos
      .join(dupStarts, col("doc_id") === col("__dsid") &&
        col("p") === col("__ds"), "left")
      .withColumn("__runmax", max(col("__ds")).over(w))
      .withColumn("__cov",
        col("__runmax").isNotNull && col("__runmax") >= col("p") - (k - 1))
    val perDoc = covered.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__cov"), 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(!col("__cov"),
            struct(col("p"), col("tok"))))),
          s => s.getField("tok")), " ").as("text_clean"))
    // docs that tokenize to zero tokens produce no rows; join back so
    // they survive as (0, 0, "") — the lineDedup contract
    docs.select(idCol.as("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** 16-bit md5-derived SimHash, as a bit-string column. For each of the
    * 16 leading hex digits of each token's md5, vote +1 if the digit's
    * high bit (>= 8) is set else -1; the sign of each position's total
    * gives the bit. Hamming distance between bit-strings approximates
    * token-multiset similarity. (The md5 basis keeps it reproducible in
    * any engine; a 64-bit xxhash variant is a drop-in at scale.) */
  /** 64-bit SimHash over the distinct token 3-shingles of [[shingled]]
    * output — the signature WIDTH is what makes hamming balls
    * selective: over a closed-vocabulary corpus the 16-bit token
    * variant ([[simhash16]]) marks a third of all pairs as neighbors
    * at distance 3, while 64 shingle-weighted bits isolate true
    * near-duplicates. Bit p votes +1/-1 by the p-th hex char of
    * md5(g) || md5('#' || g) (two digests cover the 64 positions).
    * Returns (doc_id, simhash) with the signature as a 64-char bit
    * string. */
  def simhash64Of(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), graft.functions.simhash64(col("sh")).as("simhash"))

  /** The SQL-expression-tree formulation of [[simhash64Of]] — 64
    * aggregate() passes over the md5-hex-expanded shingle array, one per
    * bit. This is the form the DuckDB oracle replays; it is kept ONLY as
    * the equivalence witness for the single-pass codegen kernel
    * ([[org.apache.spark.sql.graft.DedupKernels.simhash64]]), which a
    * spec pins bit-for-bit against this. ~64x the CPU of the kernel —
    * never use it on a real corpus. */
  private[graft] def simhash64OfSql(sh: DataFrame): DataFrame = {
    val sim = bindOnce(transform(col("sh"), g =>
      concat(md5(g.cast("binary")),
        md5(concat(lit("#"), g).cast("binary"))))) { hashed =>
      val bitCols = (1 to 64).map { p =>
        val votes = aggregate(hashed, lit(0),
          (acc, h) => acc +
            when(conv(substring(h, p, 1), 16, 10).cast("int") >= 8, 1)
              .otherwise(-1))
        when(votes > 0, lit("1")).otherwise(lit("0"))
      }
      concat(bitCols: _*)
    }
    sh.select(col("doc_id"), sim.as("simhash"))
  }

  /** Banded hamming-ball near-duplicate pairs over [[simhash64Of]]
    * signatures: the signature splits into `bands` equal bit ranges
    * and candidates equi-join on (band index, band bits) — by
    * pigeonhole any pair within hamming distance `bands - 1` shares
    * at least one band, so the default (8 bands, maxHamming 6) loses
    * nothing. Exact hamming then verifies each candidate. Bucketed
    * equi-joins only, never all-pairs — the same scale discipline as
    * the MinHash LSH path.
    *
    * `comboBlocks > 0` switches candidate keys to BLOCK COMBINATIONS
    * (Manku et al., WWW 2007): r = comboBlocks - maxHamming blocks
    * concatenated per key, C(comboBlocks, r) keys per doc — same
    * pigeonhole completeness, but a bucket space ~2^(r·64/comboBlocks)
    * wide instead of 2^(64/bands). This is the decade-survival knob:
    * single-band 16-bit keys keep candidates ≈ true near-dups only
    * while the corpus stays well under 2^16 docs per band value;
    * past that, random collisions grow as n²/2^16 (measured: fine
    * through sf30, ~1.5e9 random candidates and a filled disk at
    * sf100). The verified pair OUTPUT is banding-independent either
    * way — both modes are complete and exact-verified.
    *
    * `comboBlocks = -1` picks the arm ADAPTIVELY by corpus size
    * (threshold `graft.simhash.comboMinDocs`, default 1M): combo keys
    * cost C(comboBlocks, r) key rows per doc (20 vs 4 at the ham≤3
    * geometry — measured 2.7× the contract row's wall at sf0.1, pure
    * overhead on a corpus whose band space is nowhere near flooding),
    * so small corpora keep the caller's single-band config and large
    * ones switch to 2·maxHamming blocks. The corpus size resolves
    * job-free from `knownDocs` or an exact plan rowCount (materialized
    * cache / analyzed table) and falls back to one count() probe —
    * the percentile/tfidf dispatch discipline. This is the contract
    * row's mode.
    *
    * Skew guard (`maxBucket`, default 10000, 0 disables): a
    * pathologically common band value — billions of near-identical
    * boilerplate docs, which exact dedup does NOT collapse because
    * they aren't byte-identical — concentrates one (band, key) and
    * all-pairs within it is a bucket² executor blowup. A bucket is
    * capped only when it is BOTH larger than `maxBucket` AND larger
    * than `skewMult` x the MEDIAN bucket size (default 16x): an
    * absolute threshold alone would misfire on a perfectly uniform
    * corpus, where every bucket grows as n/2^bandWidth and crossing
    * `maxBucket` just means the corpus outgrew the band width — there
    * the quadratic candidate count is real work the caller should
    * re-shape with wider bands, not something to silently cut to
    * star edges (which would collapse recall with no warning). The
    * floor is the median, NOT the mean: on a corpus dominated by one
    * boilerplate cluster — the guard's motivating case — the hot
    * buckets inflate the mean until the relative test never fires,
    * while the median tracks the typical bucket and keeps them
    * capped. A
    * capped bucket emits star candidates: every member pairs with the
    * bucket's minimum doc_id only — O(n) candidates, each still
    * verified by EXACT hamming, so no emitted pair is ever wrong.
    * What the cap trades away is pair COMPLETENESS inside
    * mega-buckets: a member further than `maxHamming` from the star
    * center loses its direct edges to other members (unless another,
    * uncapped band bucket emits them). For the near-dup-grouping
    * consumer this is the right trade — a hot bucket is by
    * construction a cluster of docs agreeing on the band bits, and
    * the star keeps one verified path to the center, so connected
    * components are preserved whenever the center is within
    * `maxHamming` of the members (the planted-mega-cluster spec pins
    * exactly this). Returns (doc_a, doc_b, hamming). */
  def simhashPairs(sig: DataFrame, maxHamming: Int = 6,
      bands: Int = 8, maxBucket: Int = 10000,
      skewMult: Double = 16.0, comboBlocks: Int = 0,
      knownDocs: Long = -1L): DataFrame =
    simhashVerify(sig,
      simhashCandidates(sig, maxHamming, bands, maxBucket, skewMult,
        comboBlocks, knownDocs),
      maxHamming)

  /** The candidate-generation half of [[simhashPairs]] — banded (or
    * block-combination) bucket equi-joins emitting bare (doc_a, doc_b)
    * id pairs, exposed separately so a pipeline can PERSIST the
    * candidate table once and verify it many ways (the
    * lshCandidatePairs discipline; [[simhashVerify]] is the other
    * half, and `simhashPairs == simhashVerify(sig, simhashCandidates(
    * sig, ...))` by construction). */
  def simhashCandidates(sig: DataFrame, maxHamming: Int = 6,
      bands: Int = 8, maxBucket: Int = 10000,
      skewMult: Double = 16.0, comboBlocks: Int = 0,
      knownDocs: Long = -1L): DataFrame = {
    // comboBlocks = -1: ADAPTIVE banding (the percentile/tfidf dispatch
    // discipline). Single-band keys are strictly cheaper per doc
    // (`bands` key rows vs C(comboBlocks, r)) and their fixed
    // 2^(64/bands) bucket space only floods once the corpus carries
    // ~2^(64/bands) docs per band value — so route on the corpus size:
    // below graft.simhash.comboMinDocs (default 1M — the analytic
    // crossover where single-band random collisions, ~bands·n²/2^17
    // candidate rows at the 4×16 geometry, outweigh combo's 5× key
    // rows) keep the caller's single-band config; above it switch to
    // 2·maxHamming combination blocks (r = maxHamming blocks of
    // ~32 bits — the Manku et al. geometry the fifth-decade ladder
    // validated). Corpus size resolves WITHOUT a job when the caller
    // passes `knownDocs` or the plan carries an exact rowCount (a
    // materialized cache / CBO-analyzed table); only then does a
    // count() probe run — and the VERIFIED PAIR OUTPUT is identical
    // on both arms (both pigeonhole-complete, both exact-verified),
    // so the dispatch can never change results, only the plan.
    val effCombo =
      if (comboBlocks >= 0) comboBlocks
      else {
        val spark = sig.sparkSession
        val nDocs =
          if (knownDocs >= 0) knownDocs
          else sig.queryExecution.optimizedPlan.stats.rowCount
            .map(_.toLong).getOrElse(sig.count())
        if (nDocs >= graft.GraftConf.simhashComboMinDocs(spark))
          2 * maxHamming
        else 0
      }
    val bandCols: Seq[Column] = if (effCombo > 0) {
      val cb = effCombo
      // Block-combination banding (Manku et al., WWW 2007 §3): split
      // the signature into `comboBlocks` near-equal blocks and key
      // each candidate bucket on a COMBINATION of
      // r = comboBlocks - maxHamming blocks — a pair within
      // `maxHamming` differs in at most `maxHamming` blocks, so at
      // least r blocks agree and some r-combination key matches
      // (pigeonhole, same completeness as single-band keys). The
      // point is BUCKET-SPACE WIDTH: single-band keys have a fixed
      // 2^(64/bands) bucket space (65536 at the 4-band hamming<=3
      // config), so once the corpus outgrows it, RANDOM pairs
      // collide at n²/2^16 per band — measured at sf100 (5M docs):
      // ~76 docs per band bucket, ~1.5e9 random candidate pairs,
      // >55 GB of candidate shuffle (two runs filled the disk where
      // sf30 ran in 92 s). r-block keys are ~r·64/comboBlocks bits
      // wide (32+ bits at the 6-choose-3 default the contract uses),
      // pushing random collisions out by another ~2^16 — candidate
      // volume tracks TRUE near-dups again, at the price of
      // C(comboBlocks, r) key rows per doc (20 vs 4). The key is
      // folded to a LONG via conv(bits, 2, 10) so the banded frame
      // shuffles 8-byte keys, not 33-char strings.
      require(cb > maxHamming && cb <= 64,
        s"comboBlocks $cb must exceed maxHamming $maxHamming")
      val base = 64 / cb
      val rem = 64 % cb
      val widths = Seq.tabulate(cb)(i =>
        if (i < rem) base + 1 else base)
      val starts = widths.scanLeft(0)(_ + _)
      val r = cb - maxHamming
      require(widths.sorted.reverse.take(r).sum <= 63,
        s"combination keys of $r blocks exceed 63 bits — use more blocks")
      (0 until cb).combinations(r).zipWithIndex.map {
        case (combo, ci) =>
          val bits = concat(combo.map(i =>
            substring(col("simhash"), starts(i) + 1, widths(i))): _*)
          struct(lit(ci).as("band"),
            conv(bits, 2, 10).cast("long").as("key"))
      }.toSeq
    } else {
      require(64 % bands == 0, s"bands must divide 64, got $bands")
      require(maxHamming < bands,
        s"maxHamming $maxHamming needs > $maxHamming bands to be complete")
      val width = 64 / bands
      (0 until bands).map { b =>
        struct(lit(b).as("band"),
          substring(col("simhash"), b * width + 1, width).as("key"))
      }
    }
    // candidate generation carries BARE id pairs (no signatures): the
    // distinct runs on 16 bytes/row, and — decisively — the exact
    // verification below cannot be pushed into the candidate join as a
    // residual condition, so it runs once per DISTINCT pair instead of
    // once per bucket-matched pair (a close pair shares several bands;
    // the same discipline as lshCandidatePairs). The guard itself is
    // the shared pairsFromBuckets one (stats via ONE combiner groupBy —
    // tiny for narrow band keys: at the default 8 bands x 8-bit keys
    // the stats table holds <= 2048 rows, so AQE broadcasts the join).
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("__bk"))
    pairsFromBuckets(banded, Seq("__bk"), maxBucket, skewMult)
  }

  /** The verification half of [[simhashPairs]]: join the signatures
    * back onto a candidate id-pair frame (bounded top-N-free
    * equi-joins on doc id) and keep pairs within `maxHamming` by the
    * single-pass codegen bit_hamming kernel — not the split/zip_with
    * SQL form, which materializes two 64-element arrays per
    * evaluation. Returns (doc_a, doc_b, hamming). */
  def simhashVerify(sig: DataFrame, cand: DataFrame,
      maxHamming: Int): DataFrame =
    cand
      .join(sig.select(col("doc_id").as("doc_a"), col("simhash").as("__sa")),
        "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("simhash").as("__sb")),
        "doc_b")
      .withColumn("hamming",
        graft.functions.bit_hamming(col("__sa"), col("__sb")))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("hamming"))

  def simhash16(docs: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val sim = bindOnce(transform(tokenize(textCol), x => md5(x.cast("binary")))) {
      hashed =>
        val bitCols = (1 to 16).map { p =>
          val votes = aggregate(hashed, lit(0),
            (acc, h) => acc +
              when(conv(substring(h, p, 1), 16, 10).cast("int") >= 8, 1).otherwise(-1))
          when(votes > 0, lit("1")).otherwise(lit("0"))
        }
        concat(bitCols: _*)
    }
    docs.select(idCol.as("doc_id"), sim.as("simhash"))
  }
}
