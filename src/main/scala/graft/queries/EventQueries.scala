package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SharedState, Tables}
import graft.streaming.EventStreams

/** Driver-contract queries over the events stream table: the batch side
  * of the streaming operators (stream/batch parity is asserted by
  * StreamingSpec; the oracle checks the batch plan). */
object EventQueries {

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  private def eventsWindow(s: SparkSession, dir: String): DataFrame =
    EventStreams.windowedCounts(events(s, dir))
      .select(unix_timestamp(col("window_start")).as("window_start"),
        col("event_type"), col("n_events"),
        round(col("total_value"), 6).as("total_value"))
      .orderBy(col("window_start").asc, col("event_type").asc)
      .limit(500)

  /** Per-user summaries through the typed keyed-state path
    * (mapGroupsWithState, batch execution). */
  private def userSessions(s: SparkSession, dir: String): DataFrame =
    EventStreams.userSessions(s, events(s, dir)).toDF()
      .select(col("user_id"), col("n_events"),
        round(col("total_value"), 6).as("total_value"))
      .orderBy(col("user_id").asc)
      .limit(500)

  /** Backward as-of join on the events table: every view event picks
    * up the most recent click of the same user at-or-before its
    * timestamp (ties: greatest event_id). The oracle is an INDEPENDENT
    * formulation — a LATERAL top-1 subquery — so the window-over-union
    * plan is checked against the declarative spec of the semantics,
    * not a replay of its own trick. */
  private def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val views = e.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
    val clicks = e.filter(col("event_type") === "click")
    graft.operators.AsOfJoin.asofBackward(
        views, col("user_id"), col("ts_us"),
        clicks, col("user_id"), unix_micros(col("ts")),
        payload = Seq(
          "click_id" -> col("event_id"),
          "click_ts_us" -> unix_micros(col("ts")),
          "click_value" -> col("value")),
        rightTie = col("event_id"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(col("ts_us") - col("click_ts_us"), lit(-1L)).as("lag_us"),
        round(coalesce(col("click_value"), lit(-1.0)), 6).as("click_value"))
      .orderBy(col("event_id").asc).limit(500)
  }

  /** Bucketized interval join on the events table: every click lands
    * in the 24-hour blame window [ts, ts+24h] of each same-user
    * error. Bucket width = the window span, so each interval explodes
    * into at most 2 buckets. The oracle is the INDEPENDENT naive
    * formulation (join + BETWEEN) — the bucketed equi-join plan is
    * checked against the declarative semantics. */
  private def rangeJoin(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir)
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("eid"), col("user_id"),
        unix_micros(col("ts")).as("s_us"))
      .withColumn("e_us", col("s_us") + lit(86400000000L))
    graft.operators.RangeJoin.intervalJoin(
        clicks, col("user_id"), col("ts_us"),
        errors, col("user_id"), col("s_us"), col("e_us"),
        payload = Seq("err_id" -> col("eid"), "win_start_us" -> col("s_us")),
        bucketWidthUs = 86400000000L)
      .select(col("event_id"), col("user_id"), col("err_id"),
        (col("ts_us") - col("win_start_us")).as("offset_us"))
      .orderBy(col("event_id").asc, col("err_id").asc).limit(500)
  }

  /** Gap sessionization through Spark's native session_window (30-min
    * inactivity gap). The oracle replays the gap semantics
    * independently — lag/cumsum session assignment — pinning Spark's
    * merge rule: a gap of EXACTLY 30 min starts a new session
    * (touching [t, t+gap) windows do not overlap). */
  private def sessionize(s: SparkSession, dir: String): DataFrame =
    EventStreams.sessionWindows(events(s, dir))
      .select(col("user_id"),
        unix_micros(col("session_start")).as("session_start_us"),
        unix_micros(col("session_end")).as("session_end_us"),
        col("n_events"),
        round(col("total_value"), 6).as("total_value"))
      .orderBy(col("user_id").asc, col("session_start_us").asc)
      .limit(500)

  /** Dedup-at-the-door on the contract: the events keys replayed
    * through `readStream` (AvailableNow) into
    * [[EventStreams.dedupStream]] (`dropDuplicatesWithinWatermark`)
    * and a parquet sink. The source is coalesced to ONE file so the
    * whole corpus is one micro-batch — no key's occurrences can land
    * below the watermark, so the emitted set is exactly DISTINCT keys
    * (only keys are emitted; which physical row won the in-batch race
    * can never show). Oracle = batch DISTINCT. */
  private def streamDedupPath(s: SparkSession, dir: String): String =
    SharedState.value(s"streamdedup:$dir") {
      val work = SharedState.tempDir("graft_stream_dedup")
      events(s, dir).select(col("ts"), col("user_id"), col("event_type"))
        .coalesce(1).write.parquet(s"$work/src")
      val schema = s.read.parquet(s"$work/src").schema
      val q = EventStreams
        .dedupStream(s.readStream.schema(schema).parquet(s"$work/src"),
          Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"))
        .writeStream
        .format("parquet")
        .option("path", s"$work/dst")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s"$work/dst"
    }

  private def streamDedup(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(streamDedupPath(s, dir))
      .orderBy(col("user_id").asc, col("event_type").asc)
      .limit(500)

  /** One-time artifact warmup (the streaming dedup run is a build, not
    * a steady-state probe — same discipline as the embed stream). */
  def prepare(s: SparkSession, dir: String): Seq[(String, Double)] =
    Seq(SharedState.timed("stream_dedup") { streamDedupPath(s, dir) })


  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_dedup" -> ((s, d) => streamDedup(s, d)),
    "q_events_window" -> ((s, d) => eventsWindow(s, d)),
    "q_user_sessions" -> ((s, d) => userSessions(s, d)),
    "q_asof_join" -> ((s, d) => asofJoin(s, d)),
    "q_range_join" -> ((s, d) => rangeJoin(s, d)),
    "q_sessionize" -> ((s, d) => sessionize(s, d)),
  )

  val oracleSql: Map[String, String] = Map(
    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id ASC, event_type ASC LIMIT 500""".stripMargin,
    "q_sessionize" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, value FROM events),
        |s AS (SELECT user_id, tsu, value,
        |  CASE WHEN lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu) IS NULL
        |        OR tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu) >= 1800000000
        |       THEN 1 ELSE 0 END AS ns
        |  FROM e),
        |g AS (SELECT user_id, tsu, value,
        |  sum(ns) OVER (PARTITION BY user_id ORDER BY tsu
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s)
        |SELECT user_id, min(tsu) AS session_start_us,
        |  max(tsu) + 1800000000 AS session_end_us,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 6) AS total_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id ASC, session_start_us ASC LIMIT 500""".stripMargin,
    "q_range_join" ->
      """SELECT c.event_id, c.user_id, r.event_id AS err_id,
        |  epoch_us(c.ts) - epoch_us(r.ts) AS offset_us
        |FROM events c JOIN events r
        |  ON c.user_id = r.user_id AND r.event_type = 'error'
        |  AND epoch_us(c.ts) >= epoch_us(r.ts)
        |  AND epoch_us(c.ts) <= epoch_us(r.ts) + 86400000000
        |WHERE c.event_type = 'click'
        |ORDER BY c.event_id ASC, err_id ASC LIMIT 500""".stripMargin,
    "q_asof_join" ->
      """SELECT v.event_id, v.user_id, epoch_us(v.ts) AS ts_us,
        |  coalesce(c.cid, -1) AS click_id,
        |  coalesce(epoch_us(v.ts) - c.rts, -1) AS lag_us,
        |  round(coalesce(c.cv, -1.0), 6) AS click_value
        |FROM events v LEFT JOIN LATERAL (
        |  SELECT c.event_id AS cid, epoch_us(c.ts) AS rts, c.value AS cv
        |  FROM events c
        |  WHERE c.user_id = v.user_id AND c.event_type = 'click'
        |    AND epoch_us(c.ts) <= epoch_us(v.ts)
        |  ORDER BY c.ts DESC, c.event_id DESC LIMIT 1) c ON TRUE
        |WHERE v.event_type = 'view'
        |ORDER BY v.event_id ASC LIMIT 500""".stripMargin,
    "q_events_window" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 6) AS total_value
        |FROM events GROUP BY 1, 2
        |ORDER BY window_start ASC, event_type ASC LIMIT 500""".stripMargin,
    "q_user_sessions" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value), 6) AS total_value
        |FROM events GROUP BY user_id
        |ORDER BY user_id ASC LIMIT 500""".stripMargin,
  )
}
