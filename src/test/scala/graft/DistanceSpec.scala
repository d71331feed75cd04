package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row
import graft.functions._

/** Distance kernel semantics, pinned to the reference's test corpus:
  * the `small_world` cube table (FIXTURES.md §1) where all pairwise l2sq
  * distances equal the hamming distance of the bit-string ids. */
class DistanceSpec extends SparkSpec {
  import spark.implicits._

  private val cube = Seq(
    ("000", Seq(0f, 0f, 0f)), ("001", Seq(0f, 0f, 1f)),
    ("010", Seq(0f, 1f, 0f)), ("011", Seq(0f, 1f, 1f)),
    ("100", Seq(1f, 0f, 0f)), ("101", Seq(1f, 0f, 1f)),
    ("110", Seq(1f, 1f, 0f)), ("111", Seq(1f, 1f, 1f)))

  test("l2sq_dist on the unit cube equals id bit-hamming") {
    val df = cube.toDF("id", "v")
    val rows = df.select($"id",
        l2sq_dist($"v", vecLit(Seq(0f, 0f, 0f))).as("d"))
      .collect()
    rows.foreach { case Row(id: String, d: Double) =>
      assert(d == id.count(_ == '1').toDouble, s"id=$id")
    }
  }

  test("l2sq_dist is squared (not rooted)") {
    val df = Seq((Seq(0f, 0f), Seq(3f, 4f))).toDF("a", "b")
    assert(df.select(l2sq_dist($"a", $"b")).head().getDouble(0) == 25.0)
  }

  test("cos_dist basics: parallel 0, orthogonal 1, opposite 2") {
    val df = Seq(
      (Seq(1f, 0f), Seq(2f, 0f), 0.0),
      (Seq(1f, 0f), Seq(0f, 3f), 1.0),
      (Seq(1f, 0f), Seq(-1f, 0f), 2.0)).toDF("a", "b", "want")
    df.select(cos_dist($"a", $"b").as("d"), $"want").collect().foreach {
      case Row(d: Double, w: Double) => assert(math.abs(d - w) < 1e-12)
    }
  }

  test("cos_dist of zero vector is 1.0 by convention") {
    val df = Seq((Seq(0f, 0f), Seq(1f, 2f))).toDF("a", "b")
    assert(df.select(cos_dist($"a", $"b")).head().getDouble(0) == 1.0)
  }

  test("hamming_dist counts bits of int32 elements (dim x 32 bits)") {
    val df = Seq((Seq(0, 0), Seq(-1, 1))).toDF("a", "b")
    // 0 ^ -1 = 32 bits set; 0 ^ 1 = 1 bit
    assert(df.select(hamming_dist($"a", $"b")).head().getInt(0) == 33)
  }

  test("dimension mismatch raises 'expected equally sized arrays'") {
    val df = Seq((Seq(1f), Seq(1f, 2f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(l2sq_dist($"a", $"b")).collect()
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(e).exists(c =>
      Option(c.getMessage).exists(_.contains("expected equally sized arrays"))))
  }

  test("null input yields null") {
    val df = Seq((Some(Seq(1f)), Option.empty[Seq[Float]]))
      .toDF("a", "b")
    assert(df.select(l2sq_dist($"a", $"b")).head().isNullAt(0))
  }

  test("SQL registration: l2sq_dist usable from spark.sql") {
    registerAll(spark)
    cube.toDF("id", "v").createOrReplaceTempView("small_world")
    val top = spark.sql(
      """SELECT id FROM small_world
        |ORDER BY l2sq_dist(v, array(cast(1.0 as float), cast(1.0 as float), cast(1.0 as float))) ASC, id
        |LIMIT 1""".stripMargin).head().getString(0)
    assert(top == "111")
  }

  test("knn returns exact top-k with deterministic tie-break") {
    val df = cube.toDF("id", "v")
    val got = operators.Knn.knn(df, $"v", vecLit(Seq(0f, 0f, 0f)), 4,
        ann.Metric.L2Sq, Some($"id"))
      .select($"id").as[String].collect().toSeq
    assert(got == Seq("000", "001", "010", "100"))
  }
}
