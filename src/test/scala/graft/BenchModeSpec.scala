package graft

import org.apache.spark.sql.SparkSession

/** `graft.Bench` modes: argument parsing happens before any session
  * starts and names the valid choices on a mistake; `profile` sees
  * every job its run started. */
class BenchModeSpec extends SparkSpec {

  private val names = SparkEntry.queries.keySet

  test("no arguments parse to all (the driver contract)") {
    assert(Bench.parse(Seq.empty, names) == Right(Bench.Mode.All))
    assert(Bench.parse(Seq("all"), names) == Right(Bench.Mode.All))
    assert(Bench.parse(Seq("caches"), names) == Right(Bench.Mode.Caches))
  }

  test("one defaults to 3 runs, profile to 2; plan takes several rows") {
    assert(Bench.parse(Seq("one", "q_knn_l2sq"), names) ==
      Right(Bench.Mode.One("q_knn_l2sq", 3)))
    assert(Bench.parse(Seq("one", "q_knn_l2sq", "5"), names) ==
      Right(Bench.Mode.One("q_knn_l2sq", 5)))
    assert(Bench.parse(Seq("profile", "q_knn_l2sq"), names) ==
      Right(Bench.Mode.Profile("q_knn_l2sq", 2)))
    assert(Bench.parse(Seq("plan", "q_knn_l2sq", "q_ann_l2sq"), names) ==
      Right(Bench.Mode.Plan(Seq("q_knn_l2sq", "q_ann_l2sq"))))
  }

  test("an unknown mode or query fails before any session starts, listing the valid choices") {
    val before = SparkSession.getDefaultSession
    val badMode = Bench.parse(Seq("bogus"))
    assert(badMode.isLeft)
    Seq("all", "one", "profile", "plan", "caches").foreach(m =>
      assert(badMode.swap.exists(_.contains(m)), badMode))
    val badQuery = Bench.parse(Seq("one", "q_nope"))
    assert(badQuery.isLeft)
    assert(badQuery.swap.exists(msg => msg.contains("q_nope") &&
      names.forall(msg.contains)), badQuery)
    assert(Bench.parse(Seq("plan", "q_knn_l2sq", "q_nope")).isLeft)
    assert(Bench.parse(Seq("one", "q_knn_l2sq", "0")).isLeft)
    assert(Bench.parse(Seq("one")).isLeft)
    assert(Bench.parse(Seq("caches", "q_knn_l2sq")).isLeft)
    assert(SparkSession.getDefaultSession == before,
      "parsing must not start a session")
  }

  test("profile: every job the run started appears, ended no earlier than it started") {
    val sc = spark.sparkContext
    val group = "bench-mode-spec-profile"
    val row = "q_hybrid_rrf" // several jobs, submitted from AQE threads
    sc.setJobGroup(group, "profiled row")
    val (t, jobs) =
      try Bench.jobsOf(spark)(
        Bench.time(spark, sf("sf0.01"), row, SparkEntry.queries(row)))
      finally sc.clearJobGroup()
    assert(t.status == "ok" && t.rows == 10, t)
    // the status store sees the same drained bus: its job ids for the
    // group are the jobs the run started
    val expected = sc.statusTracker.getJobIdsForGroup(group).toSet
    assert(expected.nonEmpty)
    assert(jobs.map(_.id).toSet == expected, jobs)
    jobs.foreach(j => assert(j.endMs >= j.startMs, s"job ${j.id} never ended: $j"))
    assert(Bench.jobTable(jobs).size == jobs.size)
  }
}
