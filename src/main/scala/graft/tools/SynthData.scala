package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic-corpus generator for scale decades beyond the
  * driver-shipped fixtures (TESTDATA.md tops out at sf0.1). Emits the
  * same ten tables with the same schemas, value formats, and categorical
  * distributions as `/root/testdata/sf*`, at `mult` x the sf0.1 row
  * counts — `SynthData out=/path mult=10` writes an sf1-equivalent
  * corpus that `graft.Verify`, `tools/compare_oracle.py` (DuckDB), and
  * `graft.Bench` run against unchanged.
  *
  * Determinism discipline: there is NO driver-side RNG state. Every
  * random-looking value is a pure function of (row id, column salt)
  * through `xxhash64`, so the corpus is bit-identical across runs,
  * partitionings, and cluster sizes — the same property the seed=42
  * driver fixtures guarantee. Generation is a single narrow
  * `spark.range(n)` projection per table (whole-stage codegen, zero
  * shuffles, zero collects), so the generator itself scales to any
  * `mult` a cluster can hold.
  *
  * Signal injection (so the contract queries have work to do at sf1):
  *   - documents: ~1.4% of docs share a content seed in a small space →
  *     exact-duplicate groups for `q_dedup_exact`; a further ~1.4% copy
  *     a shared seed's text with one word substituted → near-duplicate
  *     pairs for MinHash/SimHash/LSH/Jaccard; 5-language mix for
  *     `q_lang_id`.
  *   - embeddings: 10 hash-derived cluster centroids + per-dim noise,
  *     L2-normalized (matches the unit-norm fixtures) → non-degenerate
  *     ANN recall, IVF cells, and semantic-dedup clusters.
  *   - events: 30-day span, zipf-ish user activity via pmod of a hash
  *     square, 5 event types → sessions and windows stay non-trivial.
  */
object SynthData {

  /** Uniform double in [0,1) as a pure function of (keyCol, salt). The
    * modulus is 1e9 (< 2^53), so the division is exact enough and the
    * bias from pmod over a 64-bit hash is ~1e-9 — irrelevant here. */
  private def unif(key: org.apache.spark.sql.Column, salt: Int) =
    pmod(xxhash64(key, lit(salt)), lit(1000000000L)).cast("double") / 1e9

  private def unifId(salt: Int) = unif(col("id"), salt)

  /** Weighted categorical pick: thresholds are cumulative weights. */
  private def pick(u: org.apache.spark.sql.Column,
                   choices: Seq[(String, Double)]): org.apache.spark.sql.Column = {
    val cum = choices.scanLeft(0.0)(_ + _._2).tail
    choices.zip(cum).init.foldRight(lit(choices.last._1): org.apache.spark.sql.Column) {
      case (((v, _), c), rest) => when(u < c, v).otherwise(rest)
    }
  }

  /** The fixtures' document vocabulary (bag-of-words over Spark-ish
    * terms, observed in /root/testdata/sf0.1/documents.parquet). */
  private val vocab = Seq(
    "spark", "batch", "part", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "a", "big", "key", "window", "join", "data", "stream",
    "table", "vector", "the", "customer")

  def main(args: Array[String]): Unit = {
    val kv = args.flatMap { a =>
      a.split("=", 2) match { case Array(k, v) => Some(k -> v); case _ => None }
    }.toMap
    val outDir = kv.getOrElse("out", "target/sf1")
    val mult = kv.getOrElse("mult", "10").toInt
    // the fixtures carry TIMESTAMP(MICROS), not Spark's INT96 default
    val spark = graft.Bench.session(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS")
    write(spark, outDir, mult)
    spark.stop()
  }

  /** Generate all ten tables under `outDir` at `mult` x sf0.1 sizes.
    * Each table is one parquet directory named `<table>.parquet`, the
    * layout `graft.Tables.load` expects. */
  def write(spark: SparkSession, outDir: String, mult: Int): Unit = {
    def save(df: DataFrame, name: String, parts: Int): Unit = {
      df.repartition(parts)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[synth] wrote $name")
    }
    val parts = math.max(4, math.min(64, 4 * mult))
    save(region(spark), "region", 1)
    save(nation(spark), "nation", 1)
    save(customer(spark, 15000L * mult), "customer", 4)
    save(supplier(spark, 1000L * mult), "supplier", 1)
    save(part(spark, 20000L * mult), "part", 4)
    save(orders(spark, 150000L * mult, 15000L * mult), "orders", parts)
    save(lineitem(spark, 150000L * mult, 20000L * mult, 1000L * mult),
      "lineitem", parts)
    save(events(spark, 100000L * mult, 1500L * mult), "events", parts)
    save(documents(spark, 5000L * mult), "documents", parts)
    save(embeddings(spark, 2000L * mult), "embeddings", parts)
  }

  def region(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((0, "AFRICA"), (1, "AMERICA"), (2, "ASIA"), (3, "EUROPE"),
      (4, "MIDDLE EAST")).toDF("r_regionkey", "r_name")
  }

  def nation(spark: SparkSession): DataFrame =
    spark.range(25).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  def customer(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pmod(xxhash64(col("id"), lit(101)), lit(25L)).cast("int").as("c_nationkey"),
      round(unifId(102) * 11000.0 - 1000.0, 2).as("c_acctbal"),
      pick(unifId(103), Seq("AUTOMOBILE" -> 0.2, "BUILDING" -> 0.2,
        "FURNITURE" -> 0.2, "HOUSEHOLD" -> 0.2, "MACHINERY" -> 0.2))
        .as("c_mktsegment"))

  def supplier(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id").as("s_suppkey"),
      concat(lit("Supplier#"), lpad(col("id").cast("string"), 9, "0")).as("s_name"),
      pmod(xxhash64(col("id"), lit(111)), lit(25L)).cast("int").as("s_nationkey"),
      round(unifId(112) * 11000.0 - 1000.0, 2).as("s_acctbal"))

  private val partAdjectives = Seq("large", "hot", "blue", "old", "red",
    "green", "small", "new", "cold", "dark")
  private val partNouns = Seq("ring", "bolt", "plate", "screw", "gear",
    "pipe", "wheel", "cap", "rod", "disk")

  def part(spark: SparkSession, n: Long): DataFrame = {
    val adj = array(partAdjectives.map(lit): _*)
    val noun = array(partNouns.map(lit): _*)
    spark.range(n).select(
      col("id").as("p_partkey"),
      concat(
        element_at(adj, pmod(xxhash64(col("id"), lit(121)), lit(10L)).cast("int") + 1),
        lit(" "),
        element_at(noun, pmod(xxhash64(col("id"), lit(122)), lit(10L)).cast("int") + 1))
        .as("p_name"),
      concat(lit("Brand#"),
        (pmod(xxhash64(col("id"), lit(123)), lit(25L)) + 1)).as("p_brand"),
      pick(unifId(124), Seq("ECONOMY" -> 0.2, "LARGE" -> 0.2, "MEDIUM" -> 0.2,
        "PROMO" -> 0.1, "SMALL" -> 0.15, "STANDARD" -> 0.15)).as("p_type"),
      (pmod(xxhash64(col("id"), lit(125)), lit(50L)) + 1).cast("int").as("p_size"),
      round(lit(900.0) + col("id") * 0.1, 2).as("p_retailprice"))
  }

  def orders(spark: SparkSession, n: Long, nCust: Long): DataFrame =
    spark.range(n).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(131)), lit(nCust)).as("o_custkey"),
      pick(unifId(132), Seq("F" -> 0.333, "O" -> 0.334, "P" -> 0.333))
        .as("o_orderstatus"),
      round(unifId(133) * 450000.0 + 900.0, 2).as("o_totalprice"),
      // 1995-01-01 .. 2001-08-01 (2404 days), midnight timestamps like
      // the fixtures
      date_add(lit("1995-01-01").cast("date"),
        pmod(xxhash64(col("id"), lit(134)), lit(2404L)).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(unifId(135), Seq("1-URGENT" -> 0.2, "2-HIGH" -> 0.2,
        "3-MEDIUM" -> 0.2, "4-NOT SPECIFIED" -> 0.2, "5-LOW" -> 0.2))
        .as("o_orderpriority"))

  def lineitem(spark: SparkSession, nOrders: Long, nParts: Long,
               nSupp: Long): DataFrame = {
    // ~4 lines/order like the fixtures: each order draws 1..7 lines
    // (hash-uniform, mean 4); explode a sequence, so lineitem derives
    // from the SAME order keyspace without a join.
    val perOrder = (pmod(xxhash64(col("id"), lit(140)), lit(7L)) + 1).cast("int")
    spark.range(nOrders)
      .select(col("id"), explode(sequence(lit(1), perOrder)).as("l_linenumber"))
      .select(
        col("id").as("l_orderkey"),
        pmod(xxhash64(col("id"), col("l_linenumber"), lit(141)), lit(nParts))
          .as("l_partkey"),
        pmod(xxhash64(col("id"), col("l_linenumber"), lit(142)), lit(nSupp))
          .as("l_suppkey"),
        col("l_linenumber"),
        (pmod(xxhash64(col("id"), col("l_linenumber"), lit(143)), lit(50L)) + 1)
          .cast("double").as("l_quantity"),
        round(unif(concat(col("id"), lit("_"), col("l_linenumber")), 144)
          * 99000.0 + 1000.0, 2).as("l_extendedprice"),
        (pmod(xxhash64(col("id"), col("l_linenumber"), lit(145)), lit(11L))
          .cast("double") / 100.0).as("l_discount"),
        (pmod(xxhash64(col("id"), col("l_linenumber"), lit(146)), lit(9L))
          .cast("double") / 100.0).as("l_tax"),
        pick(unif(concat(col("id"), lit("_"), col("l_linenumber")), 147),
          Seq("A" -> 0.333, "N" -> 0.334, "R" -> 0.333)).as("l_returnflag"),
        pick(unif(concat(col("id"), lit("_"), col("l_linenumber")), 148),
          Seq("F" -> 0.5, "O" -> 0.5)).as("l_linestatus"),
        date_add(lit("1995-01-02").cast("date"),
          pmod(xxhash64(col("id"), col("l_linenumber"), lit(149)), lit(2498L))
            .cast("int")).cast("timestamp_ntz").as("l_shipdate"))
  }

  def events(spark: SparkSession, n: Long, nUsers: Long): DataFrame = {
    // zipf-ish user activity: squaring a uniform skews mass toward low
    // user ids, so sessionization sees both hot and cold users
    val u = unifId(151)
    spark.range(n).select(
      col("id").as("event_id"),
      // 30 days from 2024-01-01, microsecond resolution
      timestamp_micros(lit(1704067200000000L) +
        pmod(xxhash64(col("id"), lit(152)), lit(30L * 86400L * 1000000L)))
        .cast("timestamp_ntz").as("ts"),
      floor(u * u * nUsers).cast("long").as("user_id"),
      pick(unifId(153), Seq("click" -> 0.2, "error" -> 0.2, "purchase" -> 0.2,
        "signup" -> 0.2, "view" -> 0.2)).as("event_type"),
      round(unifId(154) * 150.0, 2).as("value"),
      concat(lit("{\"k\": "),
        pmod(xxhash64(col("id"), lit(155)), lit(100L)), lit("}")).as("props"))
  }

  def documents(spark: SparkSession, n: Long): DataFrame = {
    val vocabArr = array(vocab.map(lit): _*)
    val vn = vocab.size.toLong
    // Duplicate injection: ~1.4% of docs draw their content seed from a
    // 500-slot space (exact-duplicate groups); the next ~1.4% draw from
    // the same space but mutate one word (near-duplicate pairs).
    // Everyone else seeds content from their own doc_id.
    val u = unifId(161)
    val contentSeed = when(u < 0.028, pmod(xxhash64(col("id"), lit(162)), lit(500L)))
      .otherwise(col("id"))
    val isNearDup = u >= lit(0.014) && u < lit(0.028)
    // 8..100 words, hash-picked from the vocabulary by (seed, position)
    val nWords = (pmod(xxhash64(contentSeed, lit(163)), lit(93L)) + 8).cast("int")
    val mutPos = (pmod(xxhash64(col("id"), lit(164)), nWords.cast("long")) + 1).cast("int")
    val words = transform(sequence(lit(1), nWords), i =>
      when(lit(true).and(isNearDup).and(i === mutPos),
        element_at(vocabArr,
          pmod(xxhash64(col("id"), i, lit(165)), lit(vn)).cast("int") + 1))
        .otherwise(element_at(vocabArr,
          pmod(xxhash64(contentSeed, i, lit(166)), lit(vn)).cast("int") + 1)))
    val text = concat_ws(" ", words)
    spark.range(n).select(
      col("id").as("doc_id"),
      text.as("text"),
      pick(unifId(167), Seq("en" -> 0.4, "de" -> 0.15, "es" -> 0.15,
        "fr" -> 0.15, "zh" -> 0.15)).as("lang"),
      concat(lit("src"), pmod(xxhash64(col("id"), lit(168)), lit(20L)))
        .as("source"),
      length(text).cast("long").as("n_chars"))
  }

  def embeddings(spark: SparkSession, n: Long): DataFrame = {
    val dim = 64
    // Fixture geometry, measured (sf0.1): labels are METADATA, not
    // geometric clusters — same-label and cross-label mean L2² are both
    // ≈2.0, i.e. isotropic random unit vectors. Reproducing that
    // matters at scale: clustered vectors turn every LSH bucket into a
    // cluster-sized mega-bucket and candidate verification goes
    // quadratic (the skew guard rightly ignores uniform growth — all
    // buckets grow together). Near-dup signal comes from bounded
    // GROUPS instead: ~2% of rows draw their vector seed from a small
    // slot space (~4 rows/slot at any n) and each row adds a ±3%
    // per-dim perturbation, giving cos > 0.999 within-group pairs and
    // isotropic everything-else.
    val slots = math.max(4L, n / 200L)
    val u = unifId(173)
    val vecSeed = when(u < 0.02,
        pmod(xxhash64(col("id"), lit(174)), lit(slots)))
      .otherwise(col("id") + lit(1000000000L))
    val raw = transform(sequence(lit(0), lit(dim - 1)), d =>
      unif(vecSeed * 64 + d.cast("long"), 172) * 2.0 - 1.0 +
        (unif(col("id") * 64 + d.cast("long"), 175) * 0.06 - 0.03))
    val norm = sqrt(aggregate(raw, lit(0.0), (acc, x) => acc + x * x))
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(raw, x => (x / norm).cast("float")).as("embedding"),
      pmod(xxhash64(col("id"), lit(171)), lit(10L)).cast("int").as("label"))
  }
}
