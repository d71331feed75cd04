package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.graft.Bridge
import graft.plans.{AnnScanStrategy, AnnTopK, Bm25ScanStrategy}

/** Config-time wiring: `spark.sql.extensions=graft.GraftExtensions`
  * must contribute the ANN rewrite rule, the planner strategies of its
  * probe and of the approximate BM25 search, and the SQL function
  * surface to
  * a session (exercised through the same SparkSessionExtensions hooks
  * session construction uses — a second live session cannot be built
  * inside the shared-session test JVM). */
class ExtensionsSpec extends SparkSpec {

  test("injects the ANN top-k optimizer rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val rules = Bridge.builtOptimizerRules(ext, spark)
    assert(rules.exists(_.isInstanceOf[AnnTopK.AnnTopKRule]),
      s"expected AnnTopKRule among ${rules.map(_.getClass.getSimpleName)}")
  }

  test("injects the AnnScan planner strategy the rewrite's probe needs") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(Bridge.builtPlannerStrategies(ext, spark) == Seq(AnnScanStrategy, Bm25ScanStrategy))
  }

  test("injects the SQL function surface") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    Bridge.registerInjectedFunctions(ext, spark)
    val row = spark.sql(
      """SELECT l2sq_dist(array(1.0f, 2.0f), array(1.0f, 4.0f)) AS d,
        |  tokenize('Hello, World') AS t,
        |  elem_in_bloom(7, array_to_bloom(array(7L, 9L))) AS b""".stripMargin)
      .collect()(0)
    assert(row.getDouble(0) == 4.0)
    assert(row.getSeq[String](1) == Seq("hello", "world"))
    assert(row.getBoolean(2))
  }

  test("SQL surface: unicode_normalize scalar and vec_sum aggregate") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    Bridge.registerInjectedFunctions(ext, spark)
    val r1 = spark.sql(
      "SELECT unicode_normalize('cafe\u0301') AS nfc, " +
        "unicode_normalize('\ufb01ne', 'NFKC') AS folded")
      .collect()(0)
    assert(r1.getString(0) == "caf\u00e9")
    assert(r1.getString(1) == "fine")
    val r2 = spark.sql(
      """SELECT g, vec_sum(v) AS s FROM VALUES
        |  (1, array(1.0D, 2.0D)), (1, array(3.0D, 4.0D)),
        |  (2, array(0.5D, 0.5D)) AS t(g, v)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    assert(r2(0).getSeq[Double](1) == Seq(4.0, 6.0))
    assert(r2(1).getSeq[Double](1) == Seq(0.5, 0.5))
  }
}
