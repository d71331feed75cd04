package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SharedState, Tables}
import graft.embed.{Embeddings, Runtimes}

/** Driver-contract queries for the embedding/LLM family (SURVEY.md
  * section 2.6). The mock runtime's vectors are reproducible in DuckDB
  * (md5-prefix hash, components quantized to multiples of 1/64), so the
  * whole mapPartitions batch pipeline gets an exact oracle — the same
  * frozen-vector testing approach the reference uses
  * (lantern_extras/src/embeddings.rs:258-392). */
object EmbedQueries {

  private val Dim = 8

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def embedMock(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
      .orderBy(col("doc_id").asc).limit(200)
    val emb = Embeddings.embedColumn(base, "text", "embedding",
      Runtimes.mock(Dim), "mock-embed", batchSize = 32)
    emb.select(col("doc_id") +:
      (0 until Dim).map(j =>
        round(element_at(col("embedding"), j + 1).cast("double"), 6)
          .as(s"e$j")): _*)
      .orderBy(col("doc_id").asc)
  }

  private def completionMock(s: SparkSession, dir: String): DataFrame = {
    val base = docs(s, dir).select(col("doc_id"), col("text"))
      .orderBy(col("doc_id").asc).limit(100)
    Embeddings.completeColumn(base, "text", "completion",
      Runtimes.mock(Dim), "mock-complete")
      .select(col("doc_id"), col("completion"))
      .orderBy(col("doc_id").asc)
  }

  /** Incremental daemon path end-to-end: the same 200 rows flow
    * through a registered job + Structured Streaming (AvailableNow)
    * into a parquet sink, so the oracle is the BATCH embed of the same
    * rows — daemon semantics (job row, checkpointed stream, status
    * transition) are on the contract, not just in specs. */
  private def embedStreamPath(s: SparkSession, dir: String): String =
    SharedState.value(s"embedstream:$dir") {
      val work = SharedState.tempDir("graft_embed_stream")
      docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy(col("doc_id").asc).limit(200)
        .write.parquet(s"$work/src")
      val reg = new graft.embed.JobRegistry(s, s"$work/registry")
      val id = reg.addEmbeddingJob(s"$work/src", "text", "embedding",
        s"$work/dst", "mock", "mock-embed")
      reg.runStreaming(id, s"$work/ckpt", batchSize = 32)
      require(reg.getJobStatus(id).contains("completed"),
        s"streaming embed job ended ${reg.getJobStatus(id)}")
      s"$work/dst"
    }

  /** Completion-type daemon job end-to-end (reference
    * add_completion_job, lantern_extras/src/daemon.rs:175-233): the
    * same first 100 docs flow through a registered completion job +
    * Structured Streaming (AvailableNow) into parquet, so the oracle
    * is the batch completion of the same rows — the q_embed_stream
    * discipline for the second job type. */
  private def completionStreamPath(s: SparkSession, dir: String): String =
    SharedState.value(s"completionstream:$dir") {
      val work = SharedState.tempDir("graft_completion_stream")
      docs(s, dir).select(col("doc_id"), col("text"))
        .orderBy(col("doc_id").asc).limit(100)
        .write.parquet(s"$work/src")
      val reg = new graft.embed.JobRegistry(s, s"$work/registry")
      val id = reg.addCompletionJob(s"$work/src", "text", "completion",
        s"$work/dst", "mock", "mock-complete", systemPrompt = "Be brief.")
      reg.runStreaming(id, s"$work/ckpt")
      require(reg.getJobStatus(id).contains("completed"),
        s"streaming completion job ended ${reg.getJobStatus(id)}")
      s"$work/dst"
    }

  private def completionStream(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(completionStreamPath(s, dir))
      .select(col("doc_id"), col("completion"))
      .orderBy(col("doc_id").asc)

  private def embedStream(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(embedStreamPath(s, dir))
      .select(col("doc_id") +:
        (0 until Dim).map(j =>
          round(element_at(col("embedding"), j + 1).cast("double"), 6)
            .as(s"e$j")): _*)
      .orderBy(col("doc_id").asc)

  /** One-time artifact warmup (the streaming embed run is a build, not
    * a steady-state probe — same discipline as the index builds). */
  def prepare(s: SparkSession, dir: String): Seq[SharedState.Step] = Seq(
    SharedState.step("embed_stream") { embedStreamPath(s, dir) },
    SharedState.step("completion_stream") { completionStreamPath(s, dir) })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_embed_mock" -> ((s, d) => embedMock(s, d)),
    "q_completion_mock" -> ((s, d) => completionMock(s, d)),
    "q_embed_stream" -> ((s, d) => embedStream(s, d)),
    "q_completion_stream" -> ((s, d) => completionStream(s, d)),
  )

  private def eSql(j: Int): String =
    s"round(((('0x' || substr(md5(text), 1, 7))::BIGINT + ${(j + 1) * 2654435761L}) % 128) / 64.0 - 1.0, 6) AS e$j"

  val oracleSql: Map[String, String] = Map(
    "q_embed_mock" ->
      s"""SELECT doc_id, ${(0 until Dim).map(eSql).mkString(", ")}
         |FROM documents ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    "q_completion_mock" ->
      """SELECT doc_id, 'MOCK[mock-complete]: ' || substr(text, 1, 32) AS completion
        |FROM documents ORDER BY doc_id ASC LIMIT 100""".stripMargin,
    // the streamed rows are the same first 200 docs through the same
    // mock runtime, so the batch-embed oracle applies verbatim
    "q_embed_stream" ->
      s"""SELECT doc_id, ${(0 until Dim).map(eSql).mkString(", ")}
         |FROM documents ORDER BY doc_id ASC LIMIT 200""".stripMargin,
    // same discipline for the completion job type: the streamed rows
    // are the batch completion of the same first 100 docs
    "q_completion_stream" ->
      """SELECT doc_id, 'MOCK[mock-complete]: ' || substr(text, 1, 32) AS completion
        |FROM documents ORDER BY doc_id ASC LIMIT 100""".stripMargin,
  )
}
