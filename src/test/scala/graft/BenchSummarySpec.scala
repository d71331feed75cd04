package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite

/** The bench's compact summary line must survive a bounded stdout-tail
  * capture: a reader that keeps only the last 2000 chars of the output
  * still finds it whole, as the last line, and parses it. */
class BenchSummarySpec extends AnyFunSuite {

  test("the summary line parses out of a 2000-char tail behind the full line") {
    val sfDir = "data/sf0.1"
    // the full line's shape: ~135 per-query times, statuses and builds
    val names = (1 to 135).map(i => f"q_contract_row_$i%03d")
    val qs = names.map(n => s""""$n":12.345""").mkString("{", ",", "}")
    val st = names.map(n => s""""$n":"ok"""").mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":101.148,"unit":"sec","queries":$qs,"status":$st,"build_secs":340.610,"failures":0,"sf":"$sfDir"}"""
    val summary = Bench.summaryLine(101.148, 340.61, 0, 135, sfDir)
    val out = Seq(full, "[bench] full line written to target/bench_sf0.1.json",
      summary).mkString("", "\n", "\n")
    val tail = out.takeRight(2000)
    assert(full.length > 2000, "the full line alone must overflow the tail")
    assert(summary.length < 300)
    val last = tail.split("\n").filter(_.nonEmpty).last
    assert(last == summary)
    val j = parse(last)
    assert((j \ "metric") == JString("total"))
    assert((j \ "value") == JDouble(101.148))
    assert((j \ "build_secs") == JDouble(340.61))
    assert((j \ "failures") == JInt(0))
    assert((j \ "n_queries") == JInt(135))
    assert((j \ "full_line") == JString("target/bench_sf0.1.json"))
  }

  test("the summary line keeps a '.' decimal point under a comma locale") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try assert(Bench.summaryLine(1.5, 2.25, 1, 3, "/d/sf0.01")
      .startsWith("""{"metric":"total","value":1.500,"unit":"sec","build_secs":2.250,"failures":1,"n_queries":3,"""))
    finally java.util.Locale.setDefault(prev)
  }
}
