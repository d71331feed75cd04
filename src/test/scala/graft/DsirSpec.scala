package graft

import org.apache.spark.sql.functions._
import graft.text.Dsir

/** DSIR importance resampling (Xie et al. 2023): fixed-point
  * log-ratio weights, integer document scores, deterministic top-n. */
class DsirSpec extends SparkSpec {

  import spark.implicits._

  private def buckets(text: String, dim: Int = Dsir.DefaultDim): Seq[Long] = {
    // replay the feature hashing exactly: unigrams ++ bigrams,
    // md5-prefix mod dim
    val toks = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).toSeq
    val feats = toks ++ toks.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    feats.map { f =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.take(15), 16) % dim
    }
  }

  test("importance weights match the closed-form smoothed log-ratio") {
    val dim = Dsir.DefaultDim
    val target = Seq((1L, "alpha beta"), (2L, "alpha")).toDF("doc_id", "text")
    val raw = Seq((3L, "gamma delta gamma")).toDF("doc_id", "text")
    val w = Dsir.importanceWeights(target, raw, col("text"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w.size == dim, "dense table: one row per bucket")
    // feature counts: target = {alpha:2, beta:1, "alpha beta":1} (T=4),
    // raw = {gamma:2, delta:1, "gamma delta":1, "delta gamma":1} (R=5)
    val tCounts = (buckets("alpha beta") ++ buckets("alpha"))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rCounts = buckets("gamma delta gamma")
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (tTot, rTot) = (4L, 5L)
    def expected(b: Long): Long = {
      val ratio = ((tCounts.getOrElse(b, 0L) + 1).toDouble * (rTot + dim)) /
        ((rCounts.getOrElse(b, 0L) + 1).toDouble * (tTot + dim))
      math.floor(Dsir.Scale * StrictMath.log(ratio) + 0.5).toLong
    }
    (tCounts.keySet ++ rCounts.keySet).foreach { b =>
      assert(w(b) == expected(b), s"bucket $b")
    }
    // a bucket observed in neither slice carries the prior ratio
    val unseen = (0L until dim).find(b =>
      !tCounts.contains(b) && !rCounts.contains(b)).get
    assert(w(unseen) == expected(unseen))
    assert(w(unseen) == math.floor(
      Dsir.Scale * StrictMath.log((rTot + dim).toDouble / (tTot + dim)) + 0.5).toLong)
  }

  test("one-pass split trainer == the two-frame path, bit for bit") {
    val corpus = Seq(
      (1L, "alpha beta gamma", true), (2L, "alpha alpha", true),
      (3L, "gamma delta", false), (4L, "epsilon zeta epsilon", false),
      (5L, "", false))
      .toDF("doc_id", "text", "tgt")
    val twoFrame = Dsir.importanceWeights(
        corpus.filter(col("tgt")), corpus.filter(!col("tgt")),
        col("text"), col("text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val onePass = Dsir.importanceWeightsSplit(corpus, col("text"), col("tgt"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(onePass == twoFrame)
  }

  test("scores are integer sums over features; empty docs score zero") {
    val target = Seq((1L, "alpha alpha")).toDF("doc_id", "text")
    val raw = Seq((2L, "alpha beta"), (3L, "")).toDF("doc_id", "text")
    val w = Dsir.importanceWeights(target, raw, col("text"), col("text"))
    val wm = w.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scored = Dsir.score(raw, col("doc_id"), col("text"), w)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    val feats2 = buckets("alpha beta")
    assert(scored(2L) == (feats2.size.toLong, feats2.map(wm).sum))
    assert(scored(3L) == (0L, 0L), "no-feature doc scores (0, 0)")
  }

  test("scoreInline == the join-path score, bit for bit; null text scores zero") {
    val target = Seq((1L, "alpha beta alpha")).toDF("doc_id", "text")
    val raw = Seq((2L, "alpha beta gamma"), (3L, "delta delta"),
      (4L, ""), (5L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val w = Dsir.importanceWeights(target, raw, col("text"), col("text"))
    val joined = Dsir.score(raw, col("doc_id"), col("text"), w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val inline = Dsir.scoreInline(raw, col("doc_id"), col("text"),
        Dsir.weightsArray(w))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(inline == joined)
    assert(inline.find(_._1 == 5L).get == ((5L, 0L, 0L)),
      "null text scores (0, 0)")
    // the ATTACH form carries existing columns and the identical w_fp
    val attached = Dsir.withScoreInline(raw, col("text"),
        Dsir.weightsArray(w))
      .collect().map(r => (r.getLong(0), r.getAs[Long]("w_fp"))).sorted.toSeq
    assert(attached == inline.map(t => (t._1, t._3)),
      "withScoreInline w_fp == scoreInline w_fp")
  }

  test("scoreStream: the stateless scorer streams and matches the batch") {
    val tmp = java.nio.file.Files.createTempDirectory("dsir_stream").toString
    val target = Seq((1L, "alpha beta")).toDF("doc_id", "text")
    val raw = Seq((10L, "alpha gamma"), (11L, "delta"), (12L, ""))
      .toDF("doc_id", "text")
    raw.coalesce(1).write.parquet(s"$tmp/src")
    val w = Dsir.weightsArray(
      Dsir.importanceWeights(target, raw, col("text"), col("text")))
    val schema = spark.read.parquet(s"$tmp/src").schema
    Dsir.scoreStream(spark, s"$tmp/src", schema, "doc_id", "text", w,
      s"$tmp/dst", s"$tmp/ckpt")
    val streamed = spark.read.parquet(s"$tmp/dst")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    val batch = Dsir.scoreInline(raw, col("doc_id"), col("text"), w)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    assert(streamed == batch)
  }

  test("resampleTopN is a deterministic weight-ranked top-n") {
    val scored = Seq(
      (1L, 3L, 100L), (2L, 3L, 300L), (3L, 3L, 200L), (4L, 3L, 300L))
      .toDF("doc_id", "n_feats", "w_fp")
    val top2 = Dsir.resampleTopN(scored, 2).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    // both 300-weight docs beat the rest; ties beyond n break by md5
    assert(top2 == Set(2L, 4L))
    val top3a = Dsir.resampleTopN(scored.repartition(4), 3)
      .collect().map(_.getLong(0)).toSet
    val top3b = Dsir.resampleTopN(scored.repartition(1), 3)
      .collect().map(_.getLong(0)).toSet
    assert(top3a == top3b, "selection is partitioning-independent")
  }

  test("resampleGumbel: deterministic draw, weight-sensitive, salt re-rolls") {
    val scored = (1L to 50L).map(i =>
      (i, 3L, if (i == 7L) 50000000L else 0L))
      .toDF("doc_id", "n_feats", "w_fp")
    val a = Dsir.resampleGumbel(scored, 10, temperature = 1.0)
      .collect().map(_.getLong(0)).toSet
    val b = Dsir.resampleGumbel(scored.repartition(5), 10, temperature = 1.0)
      .collect().map(_.getLong(0)).toSet
    assert(a == b, "same (corpus, salt, temperature) -> same sample")
    // doc 7 carries weight 50 in log-space: exp(50) dwarfs every
    // Gumbel perturbation, so it must be drawn
    assert(a.contains(7L), "the dominant-weight doc must be sampled")
    // a different salt is a fresh draw: with 50 exchangeable docs and
    // 10 slots, two draws agreeing exactly is a ~1e-9 event
    val c = Dsir.resampleGumbel(scored, 10, temperature = 1.0, salt = "other")
      .collect().map(_.getLong(0)).toSet
    assert(a != c, "salt change must re-roll the sample")
    // near-zero temperature recovers the greedy weight ranking for
    // the un-tied winner
    val cold = Dsir.resampleGumbel(scored, 1, temperature = 1e-6)
      .collect().map(_.getLong(0)).toSet
    assert(cold == Set(7L))
  }

  test("train, score, select: a planted in-domain minority dominates, at any partitioning") {
    // 24-token docs: in-domain text draws from the 500-token vocabulary
    // w0..w499, out-of-domain from the disjoint 20000-token w500..w20499;
    // the raw pool plants 1 in 32 in-domain docs, and the target slice
    // is n/20 in-domain docs
    val n = 4000
    def text(base: Int, vocab: Int) =
      concat_ws(" ", transform(sequence(lit(0), lit(23)), j =>
        concat(lit("w"), pmod(col("id") * 31 + j * 7, lit(vocab)) + base)))
    val target = spark.range(n / 20).select(col("id"), text(0, 500).as("text"))
    val raw = spark.range(n).select(col("id"),
      when(col("id") % 32 === 0, text(0, 500))
        .otherwise(text(500, 20000)).as("text"))
    val w = Dsir.importanceWeights(target, raw, col("text"), col("text"))
    val sel = n / 64 // half the planted mass
    def select(pool: org.apache.spark.sql.DataFrame): Set[Long] =
      Dsir.resampleTopN(Dsir.score(pool, col("id"), col("text"), w), sel)
        .collect().map(_.getLong(0)).toSet
    val ids = select(raw)
    assert(ids.size == sel)
    // a collapsed hash-bucket model would select at the plant rate, 1/32
    val precision = ids.count(_ % 32 == 0).toDouble / sel
    assert(precision > 0.9, s"planted precision $precision")
    assert(select(raw.repartition(7)) == ids,
      "selection must be partitioning-independent")
  }
}
