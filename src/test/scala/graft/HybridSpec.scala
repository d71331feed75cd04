package graft

import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.functions._
import graft.operators.Hybrid

/** Batched RRF must equal the single-query operator applied per query,
  * through fully partitioned plan shapes. */
class HybridSpec extends SparkSpec {

  import spark.implicits._

  // two queries with overlapping but differently-ordered hit lists;
  // id 106 appears only in ranking A, 107 only in ranking B
  private def listA = Seq(
    (0, 101L, 1.0), (0, 102L, 2.0), (0, 103L, 3.0), (0, 106L, 4.0),
    (1, 104L, 0.5), (1, 101L, 1.5), (1, 105L, 2.5)).toDF("qid", "id", "da")
  private def listB = Seq(
    (0, 103L, 0.1), (0, 101L, 0.2), (0, 107L, 0.3),
    (1, 105L, 0.1), (1, 104L, 0.9)).toDF("qid", "id", "db")

  private def ranked = Seq(
    Hybrid.Ranked(listA, Seq(col("da").asc, col("id").asc)),
    Hybrid.Ranked(listB, Seq(col("db").asc, col("id").asc), weight = 2.0))

  test("rrfPerQuery == per-query rrf applied independently") {
    val batch = Hybrid.rrfPerQuery("qid", "id", ranked, k = 5)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val singles = Seq(0, 1).flatMap { q =>
      Hybrid.rrf("id", Seq(
          Hybrid.Ranked(listA.filter(col("qid") === q),
            Seq(col("da").asc, col("id").asc)),
          Hybrid.Ranked(listB.filter(col("qid") === q),
            Seq(col("db").asc, col("id").asc), weight = 2.0)), k = 5)
        .collect().map(r => (q, r.getLong(0), r.getDouble(1)))
    }.toSet
    assert(batch == singles)
  }

  test("rows absent from one ranking still fuse (full outer per query)") {
    val out = Hybrid.rrfPerQuery("qid", "id", ranked, k = 10)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(out.contains((0, 106L)), "A-only row kept")
    assert(out((0, 106L)) == 1.0 / 64)
    assert(out.contains((0, 107L)), "B-only row kept")
    assert(out((0, 107L)) == 2.0 / 63)
  }

  test("per-query top-k really cuts per query, not globally") {
    val out = Hybrid.rrfPerQuery("qid", "id", ranked, k = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(out.count(_._1 == 0) == 2 && out.count(_._1 == 1) == 2)
  }

  test("rrf IS rrfPerQuery under a constant key: schema, rows, and " +
      "the descending output order of the single-probe contract") {
    val out = Hybrid.rrf("id", Seq(
        Hybrid.Ranked(listA.filter(col("qid") === 0),
          Seq(col("da").asc, col("id").asc)),
        Hybrid.Ranked(listB.filter(col("qid") === 0),
          Seq(col("db").asc, col("id").asc), weight = 2.0)), k = 3)
    assert(out.columns.toSeq == Seq("id", "rrf_score"))
    val rows = out.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.length == 3)
    // descending by score, id-ascending tiebreak — the contract the
    // old standalone implementation returned
    assert(rows.map(_._2).toSeq == rows.map(_._2).sorted.reverse.toSeq)
    // exact fused scores: 103 ranks 3rd in A (w=1) and 1st in B (w=2)
    // — the B weight lifts it just past 101 (1st in A, 2nd in B)
    assert(rows.head._1 == 103L)
    assert(math.abs(rows.head._2 - (1.0 / 63 + 2.0 / 61)) < 1e-12)
  }

  test("the batched plan has no single-partition stage") {
    val exec = Hybrid.rrfPerQuery("qid", "id", ranked, k = 5)
      .queryExecution.executedPlan
    val plan = exec.toString
    assert(!plan.contains("Exchange SinglePartition"),
      s"every window and join must be partitioned by the query key:\n$plan")
    // fusion parallelism grows with the query count: every rank
    // window (and window group limit) partitions on the query id
    val partitionSpecs = planNodes(exec).collect {
      case w: WindowExec => w.partitionSpec
      case w: WindowGroupLimitExec => w.partitionSpec
    }
    assert(partitionSpecs.nonEmpty, plan)
    assert(partitionSpecs.forall(_.exists(_.references.exists(_.name == "qid"))),
      s"a fusion window is not partitioned by the query key:\n$plan")
  }
}
