package graft

import org.apache.spark.sql.functions._
import graft.operators.Mmr
import graft.dedup.Dedup

/** MMR diversified retrieval + containment verification — the two
  * redundancy-aware operators (greedy relevance/diversity trade;
  * one-sided overlap). */
class MmrSpec extends SparkSpec {

  import spark.implicits._

  /** Two tight clusters near the query plus a far singleton: plain
    * top-k drowns in the nearer cluster, MMR must cover both. */
  private def clustered = Seq(
    (1L, Seq(0.0f, 0.0f)), (2L, Seq(0.01f, 0.0f)), (3L, Seq(0.0f, 0.01f)),
    (4L, Seq(1.0f, 1.0f)), (5L, Seq(1.01f, 1.0f)),
    (6L, Seq(5.0f, 5.0f))
  ).toDF("id", "v")

  test("diversified top-k covers clusters plain top-k drowns in") {
    val q = Array(0.0f, 0.0f)
    // plain top-3: all three from the near cluster
    val plain = operators.Knn.knn(clustered, col("v"),
        graft.functions.vecLit(q.toSeq), 3, ann.Metric.L2Sq,
        Some(col("id")))
      .select("id").collect().map(_.getLong(0)).toSet
    assert(plain == Set(1L, 2L, 3L))
    // MMR top-3 at a diversity-leaning lambda (0.5 is degenerate when
    // the best pick sits exactly AT the query: -0.5·dq and +0.5·dist
    // cancel for every candidate): the second cluster must appear
    val mmr = Mmr.diversifiedTopK(clustered, col("id"), col("v"), q,
        k = 3, lambda = 0.3, candN = 6)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(mmr.contains(1L), "the most relevant doc is always first")
    assert((mmr & Set(4L, 5L, 6L)).nonEmpty,
      s"MMR must escape the near cluster, got $mmr")
  }

  test("lambda = 1 reduces to plain relevance top-k; ranks are selection order") {
    val q = Array(0.0f, 0.0f)
    val out = Mmr.diversifiedTopK(clustered, col("id"), col("v"), q,
      k = 4, lambda = 1.0, candN = 6).collect()
    assert(out.map(_.getAs[Int]("rank")).toSeq == Seq(1, 2, 3, 4))
    // with no diversity term the selection IS the distance order
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L, 3L, 4L))
    // scores are -dist under lambda=1 (rounded)
    val r = out.head
    assert(r.getAs[Double]("score") == -r.getAs[Double]("dist"))
  }

  test("fewer candidates than k returns what exists, deterministically") {
    val q = Array(0.0f, 0.0f)
    val tiny = clustered.filter(col("id") <= 2)
    val a = Mmr.diversifiedTopK(tiny, col("id"), col("v"), q,
      k = 2, candN = 2).collect()
    assert(a.length == 2)
    val b = Mmr.diversifiedTopK(tiny, col("id"), col("v"), q,
      k = 2, candN = 2).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("index-probing candidates == exact at exhaustive ef (parity)") {
    // r11 punch #5: the documented "swap in an ANN probe at index
    // scale" path exists and is bit-identical to the exact candidate
    // stage when the probe is exhaustive
    val emb = spark.read.parquet(s"${sf("sf0.01")}/embeddings.parquet")
    val q = Array.tabulate(64)(i => ((i * 37) % 19 - 9) / 16.0f)
    val dir = java.nio.file.Files.createTempDirectory("mmr_ann").toString
    graft.ann.AnnIndex.build(emb, "vec_id", "embedding", dir,
      graft.ann.AnnIndex.Params(graft.ann.Metric.L2Sq, numShards = 2))
    val n = graft.ann.AnnIndex.readManifest(dir).count.toInt
    val exact = Mmr.diversifiedTopK(emb, col("vec_id"), col("embedding"),
      q, k = 5, lambda = 0.7, candN = 20).collect().map(_.toSeq).toSeq
    val ann = Mmr.diversifiedTopKAnn(emb, col("vec_id"), col("embedding"),
        dir, q, k = 5, lambda = 0.7, candN = 20, ef = n)
      .collect().map(_.toSeq).toSeq
    assert(ann == exact,
      "ANN candidate stage must be bit-identical to exact at exhaustive ef")
    // recall-target serving composes: a synthetic artifact whose only
    // qualifying ef is exhaustive derives the breadth from a tiny
    // explicit fallback
    import spark.implicits._
    val man = graft.ann.AnnIndex.readManifest(dir)
    Seq((man.m, man.efConstruction, n, 0.95, 1L, 1L))
      .toDF("m", "ef_construction", "ef", "recall", "build_ms", "search_ms")
      .repartition(1).write.mode("overwrite")
      .parquet(s"$dir/autotune_results")
    val derived = Mmr.diversifiedTopKAnn(emb, col("vec_id"),
        col("embedding"), dir, q, k = 5, lambda = 0.7, candN = 20,
        ef = 2, targetRecall = Some(0.9))
      .collect().map(_.toSeq).toSeq
    assert(derived == exact)
    // a mismatched metric fails fast instead of mixing distance spaces
    val e = intercept[IllegalArgumentException] {
      Mmr.diversifiedTopKAnn(emb, col("vec_id"), col("embedding"),
        dir, q, k = 5, metric = graft.ann.Metric.Cos)
    }
    assert(e.getMessage.contains("built for"), e.getMessage)
  }

  test("non-integral id or non-float vector fails fast with a clear message") {
    // ADVICE r11: a string id used to surface as an opaque
    // ClassCastException at collect time
    val strIds = Seq(("a", Seq(0.0f, 0.0f)), ("b", Seq(1.0f, 0.0f)))
      .toDF("id", "v")
    val e1 = intercept[IllegalArgumentException] {
      Mmr.diversifiedTopK(strIds, col("id"), col("v"),
        Array(0.0f, 0.0f), k = 1, candN = 1)
    }
    assert(e1.getMessage.contains("must be integral"), e1.getMessage)
    val dblVecs = Seq((1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 0.0)))
      .toDF("id", "v")
    val e2 = intercept[IllegalArgumentException] {
      Mmr.diversifiedTopK(dblVecs, col("id"), col("v"),
        Array(0.0f, 0.0f), k = 1, candN = 1)
    }
    assert(e2.getMessage.contains("array<float>"), e2.getMessage)
    // an int id is fine and casts up to long
    val intIds = Seq((1, Seq(0.0f, 0.0f)), (2, Seq(1.0f, 0.0f)))
      .toDF("id", "v")
    val out = Mmr.diversifiedTopK(intIds, col("id"), col("v"),
      Array(0.0f, 0.0f), k = 2, candN = 2).collect()
    assert(out.map(_.getAs[Long]("id")).toSeq == Seq(1L, 2L))
  }

  test("containment catches subset duplication Jaccard under-scores") {
    val short = "alpha beta gamma delta epsilon"
    val long = short + " " + (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, short), (2L, long)).toDF("doc_id", "text")
    val sh = Dedup.shingled(docs, col("doc_id"), col("text"))
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val row = Dedup.containmentVerify(sh, pairs).collect()(0)
    val ca = row.getAs[Double]("containment_a")
    val cb = row.getAs[Double]("containment_b")
    val jac = Dedup.jaccardVerify(sh, pairs).collect()(0).getAs[Double]("jaccard")
    assert(ca == 1.0, s"short doc fully contained, got $ca")
    assert(cb < 0.1, s"long doc barely covered, got $cb")
    assert(jac < 0.1, s"Jaccard is dragged down by the long doc, got $jac")
  }

  test("snapshotDiff classifies added/removed/changed/unchanged") {
    val before = Seq((1L, "aa"), (2L, "bb"), (3L, "cc")).toDF("doc_id", "text")
    val after = Seq((2L, "bb"), (3L, "cc edited"), (4L, "dd")).toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(before, col("doc_id"), col("text"),
        after, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added")))
  }

  test("snapshotDiff: null text is a present document, not an absence") {
    // id 5 has null text in BOTH snapshots (same content -> unchanged);
    // id 6 goes null -> real (changed); id 7 real -> null (changed)
    val before = Seq((5L, null: String), (6L, null: String), (7L, "x"))
      .toDF("doc_id", "text")
    val after = Seq((5L, null: String), (6L, "y"), (7L, null: String))
      .toDF("doc_id", "text")
    val out = Dedup.snapshotDiff(before, col("doc_id"), col("text"),
        after, col("doc_id"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(out == Seq((5L, "unchanged"), (6L, "changed"), (7L, "changed")),
      s"null text must never read as added/removed, got $out")
  }

  test("snapshotDiff checkUnique fails fast on duplicate ids in a snapshot") {
    val before = Seq((1L, "aa"), (1L, "aa dup"), (2L, "bb"))
      .toDF("doc_id", "text")
    val after = Seq((1L, "aa"), (2L, "bb")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.snapshotDiff(before, col("doc_id"), col("text"),
        after, col("doc_id"), col("text"), checkUnique = true).collect()
    }
    assert(e.getMessage.contains("duplicate doc ids"), e.getMessage)
    assert(e.getMessage.contains("before"), e.getMessage)
    // the unchecked path still runs (documented precondition): the
    // duplicate id fans out, which is exactly why checkUnique exists
    assert(Dedup.snapshotDiff(before, col("doc_id"), col("text"),
      after, col("doc_id"), col("text")).count() >= 3)
  }

  test("containment of an empty shingle set is null, not a division error") {
    // Dedup.shingled never emits empty sets (it filters them), but the
    // verifier is a public surface any shingle frame can feed
    val sh = Seq((1L, Seq.empty[String]), (2L, Seq("x y z", "y z w")))
      .toDF("doc_id", "sh")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val row = Dedup.containmentVerify(sh, pairs).collect()(0)
    assert(row.isNullAt(row.fieldIndex("containment_a")))
    assert(row.getAs[Double]("containment_b") == 0.0)
  }
}
