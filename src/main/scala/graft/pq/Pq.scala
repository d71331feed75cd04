package graft.pq

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ann.Kernels

/** Product quantization: codebook learning, vector quantization, and
  * asymmetric-distance (ADC) search support.
  *
  * Reference surface: `create_pq_codebook` / `quantize_vector` /
  * `dequantize_vector` / `quantize_table` / `drop_quantization`
  * (lantern_hnsw/sql/lantern.sql:196-452) with k-means per subvector
  * (lantern_hnsw/src/hnsw/product_quantization.c:173-293, 200
  * iterations, centroid-drift early stop; pqtable.c:40-192).
  *
  * Spark-first shape: the codebook is trained on a bounded sample (the
  * reference trains in-memory too — `dataset_size_limit`), with the
  * per-subvector k-means runs distributed over executors and the sample
  * broadcast (the CLI's `pq-table --run-on-gcp` subvector sharding,
  * lantern_cli/src/pq/mod.rs:64-371, expressed as a parallelized map).
  * Quantization of the full table is a narrow per-row expression
  * ([[graft.functions.pq_quantize]]) — the distributed part needs no
  * shuffle at any scale.
  */
/** Codebook: centroids(subvector)(centroidId) = subvector values.
  * Max 256 clusters — codes are single bytes (pqvec semantics,
  * lantern_hnsw/src/hnsw/pqvec.c:36-49). Top-level class so generated
  * code can reference it by a plain Java name. */
case class Codebook(centroids: Array[Array[Array[Float]]])
    extends Serializable {
  def subvectors: Int = centroids.length
  def clusters: Int = centroids(0).length
  def subDim: Int = centroids(0)(0).length
  def dim: Int = subvectors * subDim
  require(clusters <= 256, s"cluster_cnt must be <= 256, got $clusters")

  // Canonical quantization arithmetic. Every consumer (the Catalyst
  // expressions AND the in-index PQ path) calls these, so tie-breaking
  // and accumulation order can never diverge between paths.

  /** Nearest-centroid code per subvector (first-min tie break, matching
    * SQL `list_position(d, list_min(d))`). */
  def quantize(v: Array[Float]): Array[Byte] = {
    Kernels.checkDims(v.length, dim)
    Array.tabulate(subvectors)(s => Pq.nearest(centroids(s), subvector(v, s)).toByte)
  }

  /** ADC lookup table for one query: (subvector x centroid) partials. */
  def adcTable(q: Array[Float]): Array[Array[Double]] = {
    Kernels.checkDims(q.length, dim)
    Array.tabulate(subvectors) { s =>
      val sub = subvector(q, s)
      centroids(s).map(Kernels.l2sq(sub, _))
    }
  }

  private def subvector(v: Array[Float], s: Int): Array[Float] =
    java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim)

  /** Symmetric centroid-to-centroid distance tables (node-to-node
    * distances during PQ-in-index graph build). */
  @transient lazy val symmetricTable: Array[Array[Array[Double]]] =
    Array.tabulate(subvectors, clusters, clusters) { (s, c1, c2) =>
      Kernels.l2sq(centroids(s)(c1), centroids(s)(c2))
    }
}

object Pq {

  /** Index of the l2sq-nearest of `cents` to `v` (first-min tie break). */
  def nearest(cents: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0
    var bd = Double.MaxValue
    var c = 0
    while (c < cents.length) {
      val d = Kernels.l2sq(v, cents(c))
      if (d < bd) { bd = d; best = c }
      c += 1
    }
    best
  }

  /** Uniform, data-deterministic training sample: the `n` rows whose
    * seeded xxhash64 over the vector is smallest. A prefix `limit(n)`
    * would take whatever partitions Spark reads first — on a corpus
    * globally ordered by source/crawl-date (the normal case at 100 TB)
    * centroids would train on one domain's prefix and quantization
    * error / cell skew explode silently. Hash-order top-n is (a) a
    * uniform draw (hash order is independent of storage order), (b) a
    * pure function of (data, seed) — invariant to partitioning, task
    * scheduling and host, unlike `df.sample` whose output depends on
    * the split layout — and (c) cheap: TakeOrderedAndProject keeps a
    * per-partition heap of n rows, so the driver sees at most
    * partitions x n candidates, never the corpus. Hash ties (2^-64 per
    * pair) could in principle flip one sample row; no tiebreak column
    * is paid for that. */
  private[graft] def trainingSample(df: DataFrame, vecCol: String, n: Int,
      seed: Long): Array[Array[Float]] =
    df.select(col(vecCol))
      .filter(col(vecCol).isNotNull)
      .orderBy(xxhash64(col(vecCol), lit(seed)).asc)
      .limit(n)
      .collect()
      .map(_.getSeq[Float](0).toArray)

  /** Train a codebook: seeded k-means per subvector over a sample of at
    * most `datasetSizeLimit` vectors. Deterministic for a fixed input,
    * seed and limit. */
  def createCodebook(df: DataFrame, vecCol: String, clusterCount: Int,
      subvectorCount: Int, datasetSizeLimit: Int = 10000,
      seed: Long = 42L): Codebook = {
    val spark = df.sparkSession
    val sample: Array[Array[Float]] =
      trainingSample(df, vecCol, datasetSizeLimit, seed)
    require(sample.nonEmpty, "cannot train a codebook on an empty table")
    val dim = sample.head.length
    require(dim % subvectorCount == 0,
      s"dim $dim not divisible into $subvectorCount subvectors")
    val subDim = dim / subvectorCount
    val bc = spark.sparkContext.broadcast(sample)
    // one k-means task per subvector, in parallel across executors
    val cents = spark.sparkContext
      .parallelize(0 until subvectorCount, subvectorCount)
      .map { s =>
        val data = bc.value.map(v =>
          java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim))
        (s, kmeans(data, clusterCount, seed + s))
      }
      .collect().sortBy(_._1).map(_._2)
    bc.destroy()
    Codebook(cents)
  }

  /** Lloyd k-means, seeded init, 200 iterations with drift <= 0.1 early
    * stop (reference product_quantization.c:173-240 parameters). */
  private[graft] def kmeans(data: Array[Array[Float]], k: Int,
      seed: Long, maxIters: Int = 200): Array[Array[Float]] = {
    val n = data.length
    val d = data(0).length
    val kk = math.min(k, n)
    val rnd = new java.util.Random(seed)
    // init: k distinct sampled rows
    val idx = rnd.ints(0, n).distinct().limit(kk).toArray
    var cents = idx.map(i => data(i).clone())
    var iter = 0
    var drift = Double.MaxValue
    val assign = new Array[Int](n)
    while (iter < maxIters && drift > 0.1) {
      // assignment (first-min tie break)
      var i = 0
      while (i < n) {
        assign(i) = nearest(cents, data(i))
        i += 1
      }
      // update
      val sums = Array.fill(kk)(new Array[Double](d))
      val counts = new Array[Int](kk)
      i = 0
      while (i < n) {
        val c = assign(i); counts(c) += 1
        var t = 0
        while (t < d) { sums(c)(t) += data(i)(t); t += 1 }
        i += 1
      }
      drift = 0.0
      val next = Array.tabulate(kk) { c =>
        if (counts(c) == 0) cents(c) // keep empty clusters in place
        else {
          val nc = Array.tabulate(d)(t => (sums(c)(t) / counts(c)).toFloat)
          var t = 0
          while (t < d) {
            drift += math.abs(nc(t).toDouble - cents(c)(t).toDouble); t += 1
          }
          nc
        }
      }
      cents = next
      iter += 1
    }
    cents
  }

  /** Materialize a quantized column alongside the source (reference
    * `quantize_table`'s generated column, lantern.sql:342-429). */
  def quantizeTable(df: DataFrame, vecCol: String, cb: Codebook,
      pqColName: String = ""): DataFrame = {
    val name = if (pqColName.nonEmpty) pqColName else s"${vecCol}_pq"
    df.withColumn(name, graft.functions.pq_quantize(col(vecCol), cb))
  }

  /** Drop the quantized column (reference `drop_quantization`). */
  def dropQuantization(df: DataFrame, vecCol: String): DataFrame =
    df.drop(s"${vecCol}_pq")

  /** ADC top-k with exact re-rank: scan the pq codes with the
    * asymmetric-distance table (cheap: one byte lookup per subvector),
    * over-fetch `refine` candidates, then re-rank those by exact l2sq on
    * the raw vectors. This is the standard PQ search shape (the
    * reference keeps raw vectors in the heap and re-checks on fetch);
    * only `refine` rows ever touch the full-width vectors. */
  def adcSearch(df: DataFrame, idColName: String, vecCol: String,
      cb: Codebook, query: Seq[Float], k: Int, refine: Int = 100,
      pqCol: Option[String] = None): DataFrame = {
    val codes = pqCol.map(col).getOrElse(
      graft.functions.pq_quantize(col(vecCol), cb))
    df.withColumn("__adc", graft.functions.pq_adc_dist(codes, cb, query))
      .orderBy(col("__adc").asc, col(idColName).asc)
      .limit(math.max(refine, k))
      .withColumn("dist",
        graft.functions.l2sq_dist(col(vecCol), graft.functions.vecLit(query)))
      .orderBy(col("dist").asc, col(idColName).asc)
      .limit(k)
      .drop("__adc")
  }

  /** Codebook as the reference's side-table shape
    * (subvector_id, centroid_id, c) — lantern.sql:229-232. */
  def codebookToDf(spark: SparkSession, cb: Codebook): DataFrame = {
    import spark.implicits._
    val rows = for {
      s <- 0 until cb.subvectors
      c <- 0 until cb.clusters
    } yield (s, c, cb.centroids(s)(c).toSeq)
    rows.toDF("subvector_id", "centroid_id", "c")
  }

  def codebookFromDf(df: DataFrame): Codebook = {
    val rows = df.select("subvector_id", "centroid_id", "c").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val cents = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (_, cs) =>
      cs.sortBy(_._2).map(_._3)
    }.toArray
    Codebook(cents)
  }
}
