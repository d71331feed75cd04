package graft.tools

/** Scale-ratio regression gate: bench the whole contract at TWO scale
  * factors in one JVM, join per-query, and assert every query's
  * growth stays inside its family's bound — the decade/century
  * discipline (per-query small→large ratios, worst-ratio hunting) as
  * one reusable entry point instead of a hand-derived spreadsheet.
  *
  * `runMain graft.tools.ScaleGate <smallDir> <largeDir>
  *   [dataRatio=10] [slack=3.0] [floorSec=10]` (cores from
  * `SPARK_GRAFT_CPUS`, like every main).
  *
  * Verdict rule (see [[ScaleGate.verdict]]): a query passes iff its
  * large-side seconds ≤ max(small-side seconds × dataRatio × slack,
  * floorSec). The multiplicative bound catches superlinear blowups
  * (a quadratic operator at 10× data runs ~100× — far outside
  * 10 × 3); the absolute floor keeps overhead-dominated sub-second
  * queries (job launch, codegen, fixed-k probes) from tripping the
  * gate on noise. Prints ONE JSON line with per-query ratios, the
  * worst offenders, and an overall pass — exit nonzero on any
  * failure or errored query.
  *
  * Timing discipline (ADVICE r13): one UNTIMED warm-up sweep over the
  * small dir runs first, so the timed small pass measures steady state
  * instead of absorbing all JIT/codegen/first-touch warm-up (a cold
  * small side systematically loosens every small×ratio×slack bound);
  * and [[graft.SharedState]] is cleared between the two timed passes,
  * so the small side's resident caches and eager checkpoints never
  * inflate the large side's GC (or OOM the gate itself on scale pairs
  * bigger than the sf0.1→sf1 default). */
object ScaleGate {

  final case class Row(name: String, small: Double, large: Double,
      ratio: Double, bound: Double, ok: Boolean)

  /** The pure comparator: per-query verdicts from two timing maps.
    * Queries missing on either side are failures (a query that
    * errored at one scale must not vanish from the gate). */
  def verdict(small: Map[String, Double], large: Map[String, Double],
      dataRatio: Double, slack: Double, floorSec: Double): Seq[Row] = {
    require(dataRatio > 0 && slack > 0 && floorSec >= 0,
      "dataRatio and slack must be positive, floorSec non-negative")
    (small.keySet ++ large.keySet).toSeq.sorted.map { name =>
      (small.get(name), large.get(name)) match {
        case (Some(s), Some(l)) =>
          val bound = math.max(s * dataRatio * slack, floorSec)
          Row(name, s, l, if (s > 0) l / s else Double.PositiveInfinity,
            bound, l <= bound)
        case (s, l) =>
          Row(name, s.getOrElse(-1.0), l.getOrElse(-1.0),
            Double.PositiveInfinity, 0.0, ok = false)
      }
    }
  }

  /** Seconds per query of one [[graft.Bench.sweep]] — the `all`
    * timing. An errored query is left out, and so fails the gate via
    * [[verdict]]; so does a failed prepare, counted by [[main]]. */
  private def timings(sw: graft.Bench.Sweep): Map[String, Double] =
    sw.rows.collect { case r if r.status == "ok" => r.name -> r.secs }.toMap

  def main(args: Array[String]): Unit = {
    val smallDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val largeDir = args.lift(1).getOrElse("target/sf1")
    val dataRatio = args.lift(2).map(_.toDouble).getOrElse(10.0)
    val slack = args.lift(3).map(_.toDouble).getOrElse(3.0)
    val floorSec = args.lift(4).map(_.toDouble).getOrElse(10.0)
    val spark = graft.Bench.session()
    graft.Bench.sweep(spark, smallDir) // untimed warm-up: JIT/codegen/first-touch
    // COLD-SYMMETRIC timed passes (ADVICE r14): both sides first drop
    // every registry artifact — the per-JVM caches, the built indexes
    // and the memoized one-shot state (completed door runs,
    // per-process boundary artifact roots), their dirs deleted —
    // otherwise the stateful rows (pipeline_stream /
    // pipeline_boundaries / absorb) measure a cached small side against
    // a cold large side and the ratios are noise. Each sweep's
    // prepare() then pays the cold builds OUTSIDE the timed per-query
    // region, at both scales alike.
    graft.SharedState.clear()
    val small = graft.Bench.sweep(spark, smallDir)
    graft.SharedState.clear()
    val large = graft.Bench.sweep(spark, largeDir)
    val rows = verdict(timings(small), timings(large), dataRatio, slack, floorSec)
    val bad = rows.filterNot(_.ok)
    val failures = bad.size + Seq(small, large).count(_.prepareStatus != "ok")
    val worst = rows.filter(_.ok).sortBy(-_.ratio).take(5)
    // explicit-locale formatting: the f interpolator uses the JVM
    // default locale, whose decimal comma would emit invalid JSON
    def fmt(p: String, v: Double): String =
      if (java.lang.Double.isFinite(v))
        String.format(java.util.Locale.ROOT, p, Double.box(v))
      else "-1" // a failed side's Infinity ratio would be invalid JSON
    def j(rs: Seq[Row]): String = rs.map(r =>
      s""""${r.name}":{"small":${fmt("%.3f", r.small)},"large":${fmt("%.3f", r.large)},"ratio":${fmt("%.2f", r.ratio)},"bound":${fmt("%.2f", r.bound)},"ok":${r.ok}}""")
      .mkString("{", ",", "}")
    println(s"""{"metric":"scale_gate","small":"$smallDir","large":"$largeDir","data_ratio":$dataRatio,"slack":$slack,"floor_sec":$floorSec,"n":${rows.size},"failures":$failures,"queries":${j(rows)},"worst_ok":${j(worst)}}""")
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
