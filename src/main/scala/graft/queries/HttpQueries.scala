package graft.queries

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.{SharedState, Tables}
import graft.http.CollectionServer

/** Driver-contract query for the HTTP collection façade (reference
  * lantern_cli/src/http_server — SURVEY §2.9's REST surface): the
  * first 200 embeddings rows travel through the REAL HTTP path
  * (create collection → JSON PUT insert → POST vector search), and the
  * parsed response must hash-match DuckDB's exact top-10 over the same
  * parquet rows. That makes the façade's whole pipeline — JSON row
  * parse, identity assignment, parquet append, distance ranking,
  * response serialization — oracle-checked, not just spec-covered. */
object HttpQueries {

  private val Rows = 200

  /** Client worker threads must be daemon for the same reason the
    * server's are: the batch mains end without tearing this down. */
  private val client = HttpClient.newBuilder()
    .executor(java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, "graft-http-client")
      t.setDaemon(true)
      t
    }))
    .build()

  private def post(port: Int, method: String, path: String,
      body: String): String = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .method(method, HttpRequest.BodyPublishers.ofString(body))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    require(resp.statusCode() == 200,
      s"$method $path -> ${resp.statusCode()}: ${resp.body()}")
    resp.body()
  }

  /** One running server per sf dir, held in [[graft.SharedState]] like
    * the other prepared artifacts (daemon threads, no exit hook); the
    * registry's clear stops it and deletes its root. */
  private def ensureServer(s: SparkSession, dir: String): Int =
    SharedState.value(s"httpserver:$dir") {
      val server = new CollectionServer(s,
        SharedState.tempDir("graft_http_collections"))
      val port = server.start()
      post(port, "POST", "/collections",
        """{"name": "vecs", "schema": {
           "id": "bigint GENERATED ALWAYS AS IDENTITY",
           "vec_id": "bigint", "label": "int", "vector": "REAL[]"}}""")
      // the contract subset: first 200 rows in vec_id order, shipped
      // as ONE JSON insert (floats via Float.toString, which
      // round-trips exactly through JSON double -> float cast)
      val rows = Tables.load(s, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
        .orderBy(col("vec_id").asc).limit(Rows).collect()
        .map { r =>
          val vec = r.getSeq[Float](2).mkString("[", ",", "]")
          s"""{"vec_id": ${r.getLong(0)}, "label": ${r.getInt(1)}, "vector": $vec}"""
        }.mkString("""{"rows": [""", ",", "]}")
      post(port, "PUT", "/collections/vecs", rows)
      server
    }.boundPort

  def prepare(s: SparkSession, dir: String): Seq[(String, Double)] =
    Seq(SharedState.timed("http_collection") { ensureServer(s, dir) })

  private def httpSearch(s: SparkSession, dir: String): DataFrame = {
    val port = ensureServer(s, dir)
    val qv = VectorQueries.qVec.map(f => "%.4f".format(f))
      .mkString("[", ",", "]")
    val body = post(port, "POST", "/collections/vecs/search",
      s"""{"column": "vector", "query_vector": $qv, "metric": "l2sq",
          "select": "vec_id,label", "k": 10}""")
    val parsed = (parse(body) \ "rows").asInstanceOf[JArray].arr.map { r =>
      def num(f: String): JValue = r \ f
      val vecId = num("vec_id") match { case JInt(n) => n.toLong
        case other => sys.error(s"vec_id $other") }
      val label = num("label") match { case JInt(n) => n.toInt
        case other => sys.error(s"label $other") }
      val dist = num("distance") match { case JDouble(d) => d
        case JInt(n) => n.toDouble case other => sys.error(s"distance $other") }
      (vecId, label, dist)
    }
    import s.implicits._
    // order by the UNROUNDED distance (+ vec_id tie) exactly like the
    // oracle's ORDER BY, and round only for the emitted column — a
    // rounded-first sort could flip two sub-1e-6-apart rows
    parsed.toDF("vec_id", "label", "__dist")
      .orderBy(col("__dist").asc, col("vec_id").asc)
      .select(col("vec_id"), col("label"),
        round(col("__dist"), 6).as("distance"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_http_search" -> ((s, d) => httpSearch(s, d)))

  val oracleSql: Map[String, String] = {
    val l2sq =
      "list_sum(list_transform(embedding, (x, i) -> (CAST(x AS DOUBLE) - qv[i]) * (CAST(x AS DOUBLE) - qv[i])))"
    Map("q_http_search" ->
      s"""WITH sub AS (SELECT vec_id, label, embedding FROM embeddings
         |             ORDER BY vec_id LIMIT $Rows),
         |     q AS (SELECT ${VectorQueries.qVecSql} AS qv)
         |SELECT vec_id, label, round($l2sq, 6) AS distance
         |FROM sub, q
         |ORDER BY $l2sq ASC, vec_id ASC LIMIT 10""".stripMargin)
  }
}
