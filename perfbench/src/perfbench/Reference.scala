package perfbench

/** The benchmark's own answers, in plain Scala. Nothing here calls the
  * engine, so ground truth and answer checks cannot move with the code
  * under test. */
object Reference {

  /** Squared L2 distance, accumulated in double in index order. */
  def l2sq(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < a.length) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** Exact top-k ids by (distance, id). */
  def exactTopK(vecs: Array[Array[Float]], q: Array[Float], k: Int): Array[Long] = {
    // max-heap of the best k so far, worst on top
    val heap = new java.util.PriorityQueue[(Double, Int)](k + 1,
      (x: (Double, Int), y: (Double, Int)) =>
        if (x._1 != y._1) java.lang.Double.compare(y._1, x._1)
        else Integer.compare(y._2, x._2))
    var i = 0
    while (i < vecs.length) {
      val d = l2sq(vecs(i), q)
      if (heap.size < k) heap.add((d, i))
      else {
        val top = heap.peek()
        if (d < top._1 || (d == top._1 && i < top._2)) {
          heap.poll(); heap.add((d, i))
        }
      }
      i += 1
    }
    heap.toArray(Array.empty[(Double, Int)])
      .sortBy(x => (x._1, x._2)).map(_._2.toLong)
  }

  /** Share of `truth` ids found in `got`. */
  def recall(got: Seq[Long], truth: Seq[Long]): Double =
    if (truth.isEmpty) 1.0 else truth.count(got.toSet).toDouble / truth.size

  /** An ANN answer is right when it has k rows, distinct ids of stored
    * vectors, distances ascending (id ascending on ties), and every
    * distance equal to [[l2sq]] of the stored vector. Returns the
    * failure, if any. */
  def checkAnn(rows: Seq[(Long, Double)], q: Array[Float], k: Int,
      vecs: Array[Array[Float]]): Option[String] = {
    val (ids, dists) = rows.unzip
    if (ids.length != k) return Some(s"expected $k rows, got ${ids.length}")
    if (ids.distinct.length != ids.length) return Some("duplicate ids")
    var i = 0
    while (i < ids.length) {
      if (ids(i) < 0 || ids(i) >= vecs.length) return Some(s"id ${ids(i)} is not stored")
      val d = l2sq(vecs(ids(i).toInt), q)
      if (d != dists(i)) return Some(s"id ${ids(i)}: distance ${dists(i)} != $d")
      if (i > 0 && (dists(i) < dists(i - 1) ||
          (dists(i) == dists(i - 1) && ids(i) < ids(i - 1))))
        return Some(s"rows out of order at $i")
      i += 1
    }
    None
  }

  /** BM25 over the generated docs, tokenized the way the engine's
    * `tokenize` does it for this vocabulary (lowercase words split on
    * spaces). Scores the engine's exact BM25 and replays the reference
    * approximation that `Bm25.searchBm25Approx` implements
    * (popular-term deferral, exact membership, 10k-candidate heap). */
  final class Bm25Index(docs: Array[String]) {
    // the engine's defaults: Bm25.Params, DefaultBloomThreshold, and
    // searchBm25Approx's accumulated-docs threshold
    private val (k1, b, bloomThreshold, accDocsThreshold) = (1.2, 0.75, 8000, 100)
    private val n = docs.length
    private val docLen = new Array[Int](n)
    /** term -> (sorted doc ids, term frequency per doc) */
    private val postings: Map[String, (Array[Int], Array[Int])] = {
      val m = scala.collection.mutable.HashMap
        .empty[String, scala.collection.mutable.ArrayBuffer[(Int, Int)]]
      var d = 0
      while (d < n) {
        val toks = tokens(docs(d))
        docLen(d) = toks.length
        toks.groupBy(identity).foreach { case (t, occ) =>
          m.getOrElseUpdate(t, scala.collection.mutable.ArrayBuffer.empty) +=
            ((d, occ.length))
        }
        d += 1
      }
      m.iterator.map { case (t, ps) =>
        t -> (ps.map(_._1).toArray, ps.map(_._2).toArray)
      }.toMap
    }
    private val lenSum = docLen.foldLeft(0L)(_ + _)
    private val avgExact = lenSum.toDouble / n
    // the table stores avg doc length x100 in fixed point
    private val avgTable = ((lenSum * 100) / n).toInt / 100.0

    def tokens(s: String): Array[String] = s.toLowerCase.split(" ").filter(_.nonEmpty)

    def df(t: String): Int = postings.get(t).fold(0)(_._1.length)

    private def score(fq: Double, len: Double, dfT: Double, avg: Double): Double =
      math.log((n - dfT + 0.5) / (dfT + 0.5) + 1.0) * (fq * (k1 + 1.0)) /
        (fq + k1 * ((1.0 - b) + b * len / avg))

    /** The engine ranks by score rounded to 6 decimals, then doc id. */
    private def rank(scores: Iterable[(Int, Double)], k: Int): Seq[(Long, Double)] =
      scores.toArray.sortBy { case (d, s) => (-math.round(s * 1e6), d) }.take(k).toSeq
        .map { case (d, s) => (d.toLong, s) }

    /** Exact BM25 top-k: (doc id, score), score desc then id asc. */
    def exactTopK(query: String, k: Int): Seq[(Long, Double)] = {
      val acc = scala.collection.mutable.HashMap.empty[Int, Double]
      tokens(query).distinct.foreach { t =>
        postings.get(t).foreach { case (ids, fqs) =>
          var i = 0
          while (i < ids.length) {
            val s = score(fqs(i), docLen(ids(i)), ids.length, avgExact)
            acc(ids(i)) = acc.getOrElse(ids(i), 0.0) + s
            i += 1
          }
        }
      }
      rank(acc, k)
    }

    /** The approximate search's answer: (doc id, score). */
    def approxTopK(query: String, k: Int): Seq[(Long, Double)] = {
      val terms = tokens(query).distinct.filter(postings.contains)
        .sortBy(t => (df(t), t))
      var crossed = false
      val accSet = scala.collection.mutable.HashSet.empty[Int]
      val (deferred, accumulated) = (scala.collection.mutable.ArrayBuffer
        .empty[String], scala.collection.mutable.ArrayBuffer.empty[String])
      terms.foreach { t =>
        if (df(t) > bloomThreshold && crossed) deferred += t
        else {
          accumulated += t
          if (df(t) > accDocsThreshold) crossed = true
          else if (!crossed) {
            accSet ++= postings(t)._1
            if (accSet.size > accDocsThreshold) crossed = true
          }
        }
      }
      val exact = scala.collection.mutable.HashMap.empty[Int, Double]
      accumulated.foreach { t =>
        val (ids, fqs) = postings(t)
        var i = 0
        while (i < ids.length) {
          exact(ids(i)) = exact.getOrElse(ids(i), 0.0) +
            score(fqs(i), docLen(ids(i)), ids.length, avgTable)
          i += 1
        }
      }
      val cands = rank(exact.map { case (d, s) => (d, s) }, 10 * k)
      val consts = deferred.map { t =>
        (java.util.Arrays.binarySearch(postings(t)._1, _: Int) >= 0,
          score(1.0, avgTable, df(t), avgTable))
      }
      rank(cands.map { case (d, s) =>
        (d.toInt, s + consts.iterator.filter(_._1(d.toInt)).map(_._2).sum)
      }, k)
    }
  }

  /** A BM25 answer is right when its ids are the replayed top-k and
    * each score equals the replayed score. Ids may differ only among
    * scores tied with the k-th at 6-decimal precision. */
  def checkBm25(got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Option[String] = {
    if (got.length != want.length)
      return Some(s"expected ${want.length} rows, got ${got.length}")
    val wantScore = want.toMap
    val cut = if (want.isEmpty) 0.0 else want.last._2
    var i = 0
    while (i < got.length) {
      val (id, s) = got(i)
      wantScore.get(id) match {
        case Some(w) =>
          if (math.abs(w - s) > 1e-9 * math.max(1.0, math.abs(w)))
            return Some(s"doc $id: score $s != $w")
        case None =>
          if (math.abs(s - cut) > 1e-6) return Some(s"doc $id not in the top-k")
      }
      if (i > 0 && got(i - 1)._2 < s - 1e-6) return Some(s"rows out of order at $i")
      i += 1
    }
    None
  }
}
