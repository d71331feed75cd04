package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loads the driver-generated parquet tables (TESTDATA.md) from a
  * scale-factor directory. At cluster scale these would be object-store
  * paths; the API only needs a directory prefix. */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$sfDir/events.parquet")
    else spark.read.parquet(s"$sfDir/$name.parquet")

  /** The events table has shipped in three physical shapes across
    * driver fixture generations: TIMESTAMP(NANOS) (read as long via
    * nanosAsLong, converted with integer division), naive
    * TIMESTAMP(MICROS) (Spark reads TIMESTAMP_NTZ — the current
    * fixtures and [[graft.tools.SynthData]] corpora), and
    * UTC-adjusted micros (TIMESTAMP). ALL of them normalize to
    * TimestampType here: Structured Streaming watermarks reject NTZ
    * event time, and the session timezone is pinned UTC so the
    * NTZ→LTZ cast preserves the wall clock (naive values mean UTC,
    * matching how the DuckDB oracle computes `epoch()` on them). */
  def loadEvents(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(path)
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div`, not `/`: Divide casts bigint to double, and epoch-ns
        // (~1.7e18) exceeds double's 2^53 integer range - rows within
        // ulp (256ns) of a microsecond boundary would round wrong
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
}
