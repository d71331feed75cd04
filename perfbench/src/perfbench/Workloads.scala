package perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.functions.col
import graft.ann.{AnnIndex, Hnsw, Metric, ShardCache}
import graft.bm25.Bm25
import graft.functions.{l2sq_dist, vecLit}
import graft.plans.AnnTopK

/** The three workloads. Each sets up once to warm the JVM and then
  * `sizes.setups` times (setup_s is the median of those), runs a fixed
  * warm-up whose answers are also the recall sample, then runs its loop
  * for the run's seconds. An op returns the
  * check of its answer, which runs after the timed loop. */
object Workloads {
  val Dim = 64
  val Clusters = 32
  val K = 10
  val Ef = 128
  val Index = AnnIndex.Params(Metric.L2Sq, m = 8, efConstruction = 128, numShards = 4)

  def run(r: Run): Unit = r.workload match {
    case "ann_serve" => annServe(r)
    case "ann_batch" => annBatch(r)
    case "bm25_search" => bm25Search(r)
  }

  // ---- shared ANN set-up ----

  final class Corpus(val vecs: Array[Array[Float]], val table: String,
      val index: String) {
    def shards: Seq[String] =
      AnnIndex.readManifest(index).shards.map(s => s"$index/$s")
  }

  /** Generate `n` vectors and build the index, once per set-up; the
    * last set-up is the one queried. With `table`, the vectors are
    * written as parquet first and the index is built from that table. */
  private def annSetup(r: Run, n: Int, table: Boolean): Corpus = {
    import r.spark.implicits._
    val c = r.setups { dir =>
      val vecs = new Gen.Mixture(r.seed, Dim, Clusters).points(3, n)
      val df = vecs.indices.map(i => (i.toLong, vecs(i))).toDF("id", "vec")
      if (table) df.write.parquet(s"$dir/vectors")
      r.timedBuild("ann.build_ms", n) {
        AnnIndex.build(if (table) r.spark.read.parquet(s"$dir/vectors") else df,
          "id", "vec", s"$dir/index", Index)
      }
      new Corpus(vecs, s"$dir/vectors", s"$dir/index")
    }
    r.digest.vecs(c.vecs)
    r.e2e("index_bytes_per_row", r.bytesUnder(c.index).toDouble / n, "B/row")
    if (r.tracer.on)
      r.layer("ann.hnsw_insert_us", kernelInsertUs(c.vecs.take(2000)), "us")
    c
  }

  // ---- ann_serve: point top-10 through the optimizer rewrite ----

  private def annServe(r: Run): Unit = {
    val c = annSetup(r, r.sizes.vectors, table = true)
    AnnTopK.install(r.spark)
    AnnTopK.IndexCatalog.register(c.table, AnnTopK.Entry(c.index, "id", "vec", Metric.L2Sq))
    r.spark.conf.set(AnnTopK.EfConfKey, Ef.toString)
    val queries = new Gen.Mixture(r.seed, Dim, Clusters).points(10, r.sizes.queryPool)
    r.digest.vecs(queries)
    val tbl = r.spark.read.parquet(c.table)
    val shards = c.shards
    val answers = new ConcurrentHashMap[Int, Seq[Long]]()

    def op(i: Int): () => Option[String] = {
      val q = queries(i % queries.length)
      val (rows, fired) = r.tracer.op("ann_serve.query") {
        val df = tbl.select(col("id"), l2sq_dist(col("vec"), vecLit(q)).as("dist"))
          .orderBy(col("dist"), col("id")).limit(K)
        val rows = df.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
        r.tracer.phases(df.queryExecution)
        (rows, df.queryExecution.optimizedPlan.exists {
          case j: Join => j.joinType == LeftSemi
          case _ => false
        })
      }
      r.traceKernel(shards, q, math.max(K, Ef))
      r.count("plans.rewrite_fired", if (fired) 1 else 0)
      r.count("rows_returned", rows.size)
      answers.put(i, rows.map(_._1))
      () =>
        if (!fired) Some("optimized plan has no AnnTopK index join")
        else Reference.checkAnn(rows, q, K, c.vecs)
    }

    val warm = r.warmup(2, r.sizes.serveWarm, op)
    val loop = r.closedLoop(2, warm, op)
    r.recall(sample(r, answers).map { case (i, got) =>
      Reference.recall(got, Reference.exactTopK(c.vecs, queries(i), K).toSeq)
    })
    r.loopMetrics(loop, loop.ops)
    r.layer("plans.rewrite_fired_ratio", r.counted("plans.rewrite_fired") / loop.ops, "ratio")
    r.sparkLayer("ann_serve.query")
  }

  // ---- ann_batch: one topKJoin over a fixed query batch, one caller ----

  private def annBatch(r: Run): Unit = {
    import r.spark.implicits._
    val c = annSetup(r, r.sizes.vectors, table = false)
    val b = r.sizes.batch
    val queries = new Gen.Mixture(r.seed, Dim, Clusters).points(10, b)
    r.digest.vecs(queries)
    val qdf = queries.indices.map(i => (i.toLong, queries(i))).toDF("qid", "vec")
    val shards = c.shards
    var first: Map[Long, Array[Row]] = null

    def op(i: Int): () => Option[String] = {
      val rows = r.tracer.op("ann_batch.topkjoin") {
        r.tracer.span("ann.topkjoin") {
          AnnIndex.topKJoin(qdf, "qid", "vec", c.index, K, Ef).collect()
        }
      }
      r.traceKernel(shards, queries(i % b), K)
      r.count("rows_returned", rows.length)
      () => {
        // every query's k rows, in rank order
        val byQuery = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.sortBy(_.getInt(3)) }
        if (first == null) first = byQuery
        (0 until b).iterator.map { qi =>
          val rs = byQuery.getOrElse(qi.toLong, Array.empty[Row])
          if (!rs.map(_.getInt(3)).sameElements(1 to rs.length)) Some(s"query $qi: bad ranks")
          else Reference.checkAnn(rs.map(x => (x.getLong(1), x.getDouble(2))).toSeq,
            queries(qi), K, c.vecs)
        }.collectFirst { case Some(e) => e }
      }
    }

    val warm = r.warmup(1, r.sizes.batchWarm, op)
    r.recall((0 until r.sizes.recallSample).map { qi =>
      Reference.recall(first.get(qi.toLong).fold(Seq.empty[Long])(_.map(_.getLong(1)).toSeq),
        Reference.exactTopK(c.vecs, queries(qi), K).toSeq)
    })
    val loop = r.closedLoop(1, warm, op)
    r.loopMetrics(loop, loop.ops.toLong * b)
    r.layer("ann.topkjoin_ms_per_1k", r.spanMs("ann.topkjoin") / (b / 1000.0), "ms")
    r.sparkLayer("ann_batch.topkjoin")
  }

  // ---- bm25_search: approximate BM25 top-10, two clients ----

  private def bm25Search(r: Run): Unit = {
    import r.spark.implicits._
    val s = r.sizes
    val corpus = new Gen.Corpus(r.seed, s.vocab)
    var docs: Array[String] = null
    val table = r.setups { dir =>
      docs = corpus.docs(s.docs, 20, 80)
      docs.indices.map(i => (i.toLong, docs(i))).toDF("doc_id", "text")
        .write.parquet(s"$dir/docs")
      r.timedBuild("bm25.table_build_ms", docs.length) {
        Bm25.createBm25Table(r.spark.read.parquet(s"$dir/docs"),
          col("doc_id"), col("text")).write.parquet(s"$dir/bm25")
      }
      s"$dir/bm25"
    }
    r.digest.strings(docs)
    r.e2e("index_bytes_per_row", r.bytesUnder(table).toDouble / docs.length, "B/row")
    val ref = new Reference.Bm25Index(docs)
    r.log("reference index built")
    val queries = corpus.queries(10, s.queryPool, s.hotTerms)
    r.digest.strings(queries)
    val tbl = r.spark.read.parquet(table)
    val answers = new ConcurrentHashMap[Int, Seq[Long]]()

    def op(i: Int): () => Option[String] = {
      val q = queries(i % queries.length)
      val rows = r.tracer.op("bm25_search.query") {
        r.tracer.span("text.tokenize")(graft.text.Stemmer.tokens(q))
        r.tracer.span("bm25.search") {
          val df = Bm25.searchBm25Approx(tbl, q, K, exactMembership = true)
          val rows = df.collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
          r.tracer.phases(df.queryExecution)
          rows
        }
      }
      r.count("rows_returned", rows.size)
      answers.put(i, rows.map(_._1))
      () => Reference.checkBm25(rows, ref.approxTopK(q, K))
    }

    val warm = r.warmup(2, r.sizes.bm25Warm, op)
    val loop = r.closedLoop(2, warm, op)
    r.recall(sample(r, answers).map { case (i, got) =>
      Reference.recall(got, ref.exactTopK(queries(i), K).map(_._1))
    })
    r.loopMetrics(loop, loop.ops)
    r.layer("bm25.search_ms", r.spanMs("bm25.search"), "ms")
    r.layer("text.tokenize_us", r.spanMs("text.tokenize") * 1000, "us")
    r.sparkLayer("bm25_search.query")
  }

  /** The recall sample: the answers of ops 0 until `sizes.recallSample`,
    * i.e. the warm-up and the first loop ops, the same on every run. */
  private def sample(r: Run, answers: ConcurrentHashMap[Int, Seq[Long]]): Seq[(Int, Seq[Long])] =
    (0 until r.sizes.recallSample).flatMap(i => Option(answers.get(i)).map(i -> _))

  /** Per-shard kernel time of `Hnsw.search` on the cached graphs. */
  def kernelSearchUs(shards: Seq[String], q: Array[Float], k: Int): Double = {
    val graphs = shards.map(ShardCache.get)
    val t0 = System.nanoTime()
    graphs.foreach(_.search(q, k, math.max(Ef, k)))
    (System.nanoTime() - t0) / 1e3 / graphs.length
  }

  /** Insert time per row of a fresh graph built from `vecs`. */
  def kernelInsertUs(vecs: Array[Array[Float]]): Double = {
    val h = new Hnsw(Dim, Metric.L2Sq, Index.m, Index.efConstruction, seed = 0L)
    val t0 = System.nanoTime()
    vecs.indices.foreach(i => h.insert(i.toLong, vecs(i)))
    (System.nanoTime() - t0) / 1e3 / vecs.length
  }
}
