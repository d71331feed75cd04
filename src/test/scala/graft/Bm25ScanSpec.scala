package graft

import org.scalacheck.{Gen, Prop, Test}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BloomKernels
import org.apache.spark.sql.catalyst.util.GenericArrayData
import graft.bm25.Bm25
import graft.plans.Bm25Scan
import graft.text.Stemmer

/** The approximate BM25 search node against a plain-Scala replay of the
  * reference's state machine over random Zipf corpora, and its
  * per-posting arithmetic and rounding against Spark's own. */
class Bm25ScanSpec extends SparkSpec {

  // searches whose replay deferred at least one term
  private var deferringSearches = 0

  /** One replayed corpus, tokenized as the table was built. */
  private final class Replay(docs: Seq[String], stemmed: Boolean, bloomThreshold: Int) {
    private val (k1, b) = (1.2, 0.75)
    private def toks(s: String): Array[String] =
      if (stemmed) Stemmer.stemTokens(s) else Stemmer.tokens(s)
    private val docToks = docs.map(toks)
    private val n = docs.length.toDouble
    // the stats row keeps avg doc length x100 in integer fixed point
    private val avgdl = ((docToks.map(_.length.toLong).sum * 100) / docs.length).toInt / 100.0
    /** term -> (doc id, fq) postings, doc id ascending */
    private val postings: Map[String, Seq[(Long, Int)]] =
      docToks.zipWithIndex
        .flatMap { case (ts, d) => ts.groupBy(identity).map { case (t, o) => (t, (d.toLong, o.length)) } }
        .groupBy(_._1).map { case (t, ps) => t -> ps.map(_._2).sortBy(_._1) }

    private def score(fq: Double, len: Double, df: Double): Double =
      StrictMath.log((n - df + 0.5) / (df + 0.5) + 1.0) * (fq * (k1 + 1.0)) /
        (fq + k1 * ((1.0 - b) + b * len / avgdl))

    private def rank(xs: Iterable[(Long, Double)], k: Int): Seq[(Long, Double)] =
      xs.toSeq.sortBy { case (d, s) =>
        (-BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, d)
      }.take(k)

    /** Distinct docs of the query's rarest present term: the threshold at
      * which that term alone stops being enough to cross. */
    def rarestDf(query: String): Int =
      toks(query).distinct.flatMap(postings.get).map(_.length).minOption.getOrElse(1)

    def approxTopK(query: String, k: Int, accDocs: Int, exact: Boolean): Seq[(Long, Double)] = {
      val terms = toks(query).distinct.filter(postings.contains)
        .sortBy(t => (postings(t).length, t))
      def bloomy(t: String) = postings(t).length > bloomThreshold
      var crossed = false
      val seen = scala.collection.mutable.HashSet.empty[Long]
      val (deferred, accumulated) = terms.partition { t =>
        val defer = crossed && bloomy(t)
        if (!defer) {
          if (postings(t).length > accDocs) crossed = true
          else if (!crossed) {
            seen ++= postings(t).map(_._1)
            crossed = seen.size > accDocs
          }
        }
        defer
      }
      val exactScores = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
      accumulated.foreach { t =>
        postings(t).foreach { case (d, fq) =>
          exactScores(d) = exactScores.getOrElse(d, 0.0) +
            score(fq, docToks(d.toInt).length, postings(t).length)
        }
      }
      if (deferred.nonEmpty) deferringSearches += 1
      val cands = rank(exactScores, 10 * k)
      val consts = deferred.map { t =>
        val ids = postings(t).map(_._1)
        val bloom = BloomKernels.buildLongs(new GenericArrayData(ids.toArray[Any]))
        val member: Long => Boolean =
          if (exact) ids.toSet.contains else BloomKernels.containsLong(_, bloom)
        (member, score(1.0, avgdl, ids.length))
      }
      if (consts.isEmpty) rank(cands, k)
      else rank(cands.map { case (d, s) =>
        var adds = 0.0
        consts.foreach { case (m, c) => if (m(d)) adds += c }
        (d, s + adds)
      }, k)
    }
  }

  // Zipf-distributed words over stemmable stems, so stemming merges forms
  private val vocab: IndexedSeq[String] = for {
    stem <- IndexedSeq("walk", "talk", "jump", "play", "cook", "paint", "clean",
      "open", "call", "help", "work", "look", "rain", "kick", "pack", "mark")
    suffix <- Seq("", "s", "ed", "ing")
  } yield stem + suffix

  private def zipf(r: scala.util.Random, s: Double): String = {
    val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, s))
    var u = r.nextDouble() * w.sum
    var i = 0
    while (u > w(i) && i < w.length - 1) { u -= w(i); i += 1 }
    vocab(i)
  }

  private case class Corpus(seed: Long, docs: Int, skew: Double, bloomFrac: Int)

  private val corpusGen: Gen[Corpus] = for {
    seed <- Gen.choose(0L, Long.MaxValue)
    docs <- Gen.choose(30, 300)
    skew <- Gen.oneOf(0.8, 1.1, 1.5)
    bloomFrac <- Gen.oneOf(4, 10, 40)
  } yield Corpus(seed, docs, skew, bloomFrac)

  /** The built table re-split into `parts` partitions of plain rows. */
  private def split(tbl: DataFrame, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(tbl.collect().toSeq, parts), tbl.schema)

  test("replay equivalence on random Zipf corpora: both memberships, stemming, k, thresholds, splits") {
    // thresholds include the rarest term's df and one below it: the
    // crossing's strict `>` is decided exactly there
    import spark.implicits._
    var searches = 0
    val prop = Prop.forAll(corpusGen) { c =>
      val r = new scala.util.Random(c.seed)
      val texts = Seq.fill(c.docs)(Seq.fill(1 + r.nextInt(12))(zipf(r, c.skew)).mkString(" "))
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val bloomThreshold = math.max(1, c.docs / c.bloomFrac)
      // a hot word, two rarer ones, and a word absent from every doc
      val query = Seq(zipf(r, c.skew), vocab(r.nextInt(vocab.size)),
        vocab(vocab.size - 1 - r.nextInt(8)), "zzyzx").mkString(" ")
      Seq(false, true).forall { stemmed =>
        val built = Bm25.createBm25Table(docs, col("doc_id"), col("text"),
          stemmed = stemmed, bloomThreshold = bloomThreshold)
        val replay = new Replay(texts, stemmed, bloomThreshold)
        val tables = Seq(1, 7).map(split(built, _))
        (for {
          tbl <- tables
          exact <- Seq(true, false)
          k <- Seq(1, 10)
          accDocs <- Seq(0, 3, replay.rarestDf(query) - 1, replay.rarestDf(query), 100)
        } yield {
          searches += 1
          val got = Bm25.searchBm25Approx(tbl, query, k, stemmed = stemmed,
              accDocsThreshold = accDocs, exactMembership = exact)
            .collect().map(x => (x.getLong(0), x.getDouble(1))).toSeq
          val want = replay.approxTopK(query, k, accDocs, exact)
          val ok = got.map(_._1) == want.map(_._1) &&
            got.zip(want).forall { case ((_, g), (_, w)) => math.abs(g - w) <= 1e-9 }
          if (!ok) info(s"$c stemmed=$stemmed exact=$exact k=$k accDocs=$accDocs " +
            s"parts=${tbl.rdd.getNumPartitions} q='$query'\n got $got\nwant $want")
          ok
        }).forall(identity)
      }
    }
    val res = Test.check(Test.Parameters.default.withMinSuccessfulTests(6)
      .withWorkers(1), prop)
    assert(res.passed, res.status)
    assert(searches >= 6 * 2 * 2 * 2 * 2 * 5)
    assert(deferringSearches > searches / 10, s"$deferringSearches of $searches deferred")
  }

  test("the node's per-posting score is Spark's Bm25.postingScore, bit for bit") {
    import spark.implicits._
    val r = new scala.util.Random(7)
    val rows = Seq.fill(2000) {
      val n = 1 + r.nextInt(1000000)
      (1.0 + r.nextInt(40), 1.0 + r.nextInt(500), n.toDouble,
        (1 + r.nextInt(n)).toDouble, 1.0 + r.nextInt(50000) / 100.0)
    }
    val p = Bm25.Params(k1 = 1.2, b = 0.75)
    for (frame <- Seq(() => rows.toDF(), () => spark.sparkContext.parallelize(rows, 3).toDF())) {
      val viaSpark = frame().toDF("fq", "len", "n", "df", "avgdl")
        .select(Bm25.postingScore(col("fq"), col("len"), col("n"), col("df"),
          col("avgdl"), p))
        .collect().map(_.getDouble(0))
      rows.zip(viaSpark).foreach { case ((fq, len, n, df, avg), s) =>
        val mine = Bm25.postingScoreOf(fq, len, n, df, avg, p)
        assert(java.lang.Double.doubleToRawLongBits(mine) ==
          java.lang.Double.doubleToRawLongBits(s), s"($fq, $len, $n, $df, $avg): $mine vs $s")
      }
    }
  }

  test("the node's rank key is Spark's round(score, 6)") {
    import spark.implicits._
    val r = new scala.util.Random(11)
    // random scores plus exact half-way cases at the sixth decimal
    val xs = Seq.fill(2000)(r.nextDouble() * 40) ++
      Seq.fill(2000)((r.nextInt(40000000) + 0.5) / 1e6)
    for (frame <- Seq(() => xs.toDF(), () => spark.sparkContext.parallelize(xs, 3).toDF())) {
      val viaSpark = frame().toDF("x").select(round(col("x"), 6)).collect().map(_.getDouble(0))
      xs.zip(viaSpark).foreach { case (x, s) =>
        assert(Bm25Scan.round6(x) == s, s"round($x, 6): ${Bm25Scan.round6(x)} vs $s")
      }
    }
  }
}
