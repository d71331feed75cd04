package graft

import org.apache.spark.sql.functions._
import graft.ann.Metric
import graft.operators.Knn
import graft.functions.vecLit

/** Streaming KNN cursor: init_k first batch, doubling, 1000 cap
  * (reference scan.c:240-292). */
class KnnCursorSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet(s"${sf("sf0.001")}/embeddings.parquet")
  private val q: Seq[Float] = Seq.tabulate(64)(i => ((i * 37) % 19 - 9) / 16.0f)

  test("cursor yields rows in distance order across batch boundaries") {
    val it = Knn.knnCursor(emb, col("embedding"), vecLit(q),
      Metric.L2Sq, Some(col("vec_id")), initK = 3)
    val first25 = it.take(25).map(_.getAs[Long]("vec_id")).toSeq
    val exact = Knn.knn(emb, col("embedding"), vecLit(q), 25,
      Metric.L2Sq, Some(col("vec_id")))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(first25 == exact)
  }

  test("cursor terminates when the corpus is exhausted") {
    val small = emb.limit(7)
    val it = Knn.knnCursor(small, col("embedding"), vecLit(q),
      Metric.L2Sq, Some(col("vec_id")), initK = 3)
    assert(it.size == 7)
  }

  test("cursor stops at the maxK cap") {
    val it = Knn.knnCursor(emb, col("embedding"), vecLit(q),
      Metric.L2Sq, Some(col("vec_id")), initK = 4, maxK = 8)
    assert(it.size == 8)
  }

  test("delta refills: fetched rows stay O(consumed), sequence unchanged") {
    val cur = new Knn.KnnCursor(emb, col("embedding"), vecLit(q),
      Metric.L2Sq, Some(col("vec_id")), 3, 1000)
    val got = cur.take(48).map(_.getAs[Long]("vec_id")).toSeq
    val exact = Knn.knn(emb, col("embedding"), vecLit(q), 48,
      Metric.L2Sq, Some(col("vec_id")))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(got == exact)
    // escalations 3 -> 6 -> 12 -> 24 -> 48: a full re-run fetches
    // 3+6+12+24+48 = 93 rows; the delta path fetches each row once
    // plus one boundary-tie row per refill (distinct dists here)
    assert(cur.fetchedRows <= 48 + 4,
      s"refills refetched the prefix: ${cur.fetchedRows} rows for 48 consumed")
  }

  test("delta refills cross tie-heavy boundaries without skips or dups") {
    val s = spark
    import s.implicits._
    // 40 rows, only 4 distinct distances (10-way ties), batch size 3:
    // every escalation boundary lands inside a tie block
    val rows = (0 until 40).map(i => (i.toLong, Seq.fill(4)((i % 4).toFloat)))
    val df = rows.toDF("vec_id", "embedding")
    val zero = vecLit(Seq.fill(4)(0.0f))
    val it = Knn.knnCursor(df, col("embedding"), zero,
      Metric.L2Sq, Some(col("vec_id")), initK = 3)
    val got = it.map(_.getAs[Long]("vec_id")).toSeq
    val exact = Knn.knn(df, col("embedding"), zero, 40,
      Metric.L2Sq, Some(col("vec_id")))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(got == exact)
    assert(got.distinct.length == 40)
  }

  test("one giant tie block: fetched rows stay O(consumed) under doubling") {
    val s = spark
    import s.implicits._
    // 64 rows at ONE distance — every refill boundary sits inside the
    // same tie block, the worst case for the seenTies re-fetch. The
    // doubling deltas bound the re-fetches geometrically: total fetched
    // must stay within a small constant of rows consumed (the
    // quadratic O(k x tieBlock) shape would fetch ~64*64/2 here)
    val rows = (0 until 64).map(i => (i.toLong, Seq.fill(4)(1.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val zero = vecLit(Seq.fill(4)(0.0f))
    val cur = new Knn.KnnCursor(df, col("embedding"), zero,
      Metric.L2Sq, Some(col("vec_id")), 4, 1000)
    val got = cur.map(_.getAs[Long]("vec_id")).toSeq
    assert(got == (0L until 64L))
    assert(cur.fetchedRows <= 4 * 64,
      s"tie-block refills blew the O(k) budget: ${cur.fetchedRows} for 64")
  }

  test("NaN distances at a batch boundary neither duplicate nor drop rows") {
    val s = spark
    import s.implicits._
    // zero-norm vectors make cos_dist = 0/0 = NaN for every row: the
    // delta path's Scala ==) and Spark SQL (EqualTo) NaN semantics
    // disagree, so the cursor must take the full-refetch fallback
    val rows = (0 until 7).map(i => (i.toLong, Seq.fill(4)(0.0f)))
    val df = rows.toDF("vec_id", "embedding")
    val it = Knn.knnCursor(df, col("embedding"), vecLit(Seq.fill(4)(1.0f)),
      Metric.Cos, Some(col("vec_id")), initK = 2)
    val got = it.map(_.getAs[Long]("vec_id")).toSeq
    assert(got == (0L until 7L), s"NaN boundary broke the cursor: $got")
  }

  test("null-vector rows rank LAST (reference NULLS LAST), cursor included") {
    val s = spark
    import s.implicits._
    // Spark's default asc is NULLS FIRST — a null-vector row must not
    // outrank real neighbors (Postgres/DuckDB ASC is NULLS LAST)
    val rows: Seq[(Long, Option[Seq[Float]])] =
      (0L until 5L).map(i => (i, Some(Seq.fill(4)(i.toFloat)))) ++
        Seq((10L, None), (11L, None), (12L, None))
    val df = rows.toDF("vec_id", "embedding")
    val zero = vecLit(Seq.fill(4)(0.0f))
    val topAll = Knn.knn(df, col("embedding"), zero, 8,
        Metric.L2Sq, Some(col("vec_id")))
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(topAll == Seq(0L, 1L, 2L, 3L, 4L, 10L, 11L, 12L),
      s"null rows must sort last: $topAll")
    // the cursor crosses the finite -> null boundary without loss
    val it = Knn.knnCursor(df, col("embedding"), zero,
      Metric.L2Sq, Some(col("vec_id")), initK = 3)
    assert(it.map(_.getAs[Long]("vec_id")).toSeq == topAll)
  }

  test("non-positive initK is rejected up front") {
    intercept[IllegalArgumentException] {
      Knn.knnCursor(emb, col("embedding"), vecLit(q),
        Metric.L2Sq, Some(col("vec_id")), initK = 0)
    }
  }

  test("a pre-existing dist column is rejected, not silently overwritten") {
    val poisoned = emb.withColumn("dist", lit(0.0))
    val e = intercept[IllegalArgumentException] {
      Knn.knnCursor(poisoned, col("embedding"), vecLit(q),
        Metric.L2Sq, Some(col("vec_id")))
    }
    assert(e.getMessage.contains("dist"))
  }

  test("GraftConf exposes the reference defaults") {
    assert(GraftConf.initK(spark) == 10)
    assert(GraftConf.maxK(spark) == 1000)
    assert(GraftConf.annEf(spark) == 64)
    assert(GraftConf.bm25Params(spark) == graft.bm25.Bm25.Params(1.2, 0.75))
    spark.conf.set(GraftConf.Bm25K1, "2.0")
    assert(GraftConf.bm25Params(spark).k1 == 2.0)
    spark.conf.unset(GraftConf.Bm25K1)
  }
}
