package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.Base64
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.embed.Runtimes

/** HTTP façade over the engine — the reference's collection server
  * (lantern_cli/src/http_server/mod.rs:143-174 routes, search.rs,
  * collection.rs, index.rs, pq.rs) re-expressed as a thin driver-side
  * REST layer over the Spark library:
  *
  *   GET    /collections                     list
  *   POST   /collections                     create {name, schema?}
  *   GET    /collections/{name}              get
  *   DELETE /collections/{name}              drop
  *   PUT    /collections/{name}              insert {rows:[{...}]}
  *   POST   /collections/{name}/search       vector / text search
  *   POST   /collections/{name}/index        create ANN index
  *   POST   /collections/{name}/pq           train PQ codebook
  *   DELETE /index/{index_name}              drop index
  *
  * Same request/response shapes as the reference (SearchInput takes
  * `query_vector` OR `query_text`+`query_model`; insert takes a JSON
  * `rows` array; optional basic auth returns 401 on mismatch,
  * mod.rs:61-75). The handlers hold no state of their own — every
  * byte of data lives in the parquet collections and index dirs, so
  * the server is a stateless front that can run on any driver with
  * the same storage root. Write endpoints (insert, index build) take a
  * per-collection STORAGE lease on top of the in-JVM lock, so two
  * servers sharing a root cannot mint duplicate identity ids or
  * interleave shard builds — a request finding a fresh foreign lease
  * gets 409 Conflict (the reference gets this serialization from
  * Postgres sequences and locks). JSON via json4s-jackson (ships with
  * Spark).
  *
  * Deviation from the reference, by design: handlers build DataFrame
  * plans instead of interpolating SQL strings, so the façade is not
  * SQL-injectable (the reference's OpenAPI doc warns its endpoints
  * are); names are validated against `[A-Za-z_][A-Za-z0-9_]*`. */
class CollectionServer(spark: SparkSession, root: String,
    host: String = "127.0.0.1", port: Int = 0,
    auth: Option[(String, String)] = None) extends AutoCloseable {

  /** Upper bound on search `k`/`ef` (reference scan cap is 1000; this
    * is the REST analog — a top-k endpoint must never become a
    * full-table export through the driver). */
  val MaxK = 10000

  /** Upper bound on request body bytes (insert batches). Reading an
    * unbounded body into driver memory before any validation would let
    * one PUT exhaust the driver; bigger loads belong on the bulk
    * parquet path, not the REST front. */
  val MaxBodyBytes: Int = 16 * 1024 * 1024

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  private var server: HttpServer = _

  def start(): Int = synchronized {
    require(server == null, "server already started")
    server = HttpServer.create(new InetSocketAddress(host, port), 0)
    // small fixed pool: handlers run Spark driver-side job submission,
    // which is where the real parallelism lives. Daemon threads: a
    // still-running façade must never block JVM exit (batch mains
    // start one and end without stopping it).
    server.setExecutor(Executors.newFixedThreadPool(4, r => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    }))
    server.createContext("/", (ex: HttpExchange) => handle(ex))
    // start from a momentary daemon thread: the JDK server's internal
    // dispatcher/timer threads inherit daemon status from their
    // creator, and a still-running façade must never block JVM exit
    // (the batch mains start one and end without stopping it). Handler
    // jobs must not inherit the starter's job description or tags either
    val starter = new Thread(() => {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.clearJobTags()
      server.start()
    }, "graft-http-start")
    starter.setDaemon(true)
    starter.start()
    starter.join()
    server.getAddress.getPort
  }

  def boundPort: Int = synchronized(server.getAddress.getPort)

  def stop(): Unit = synchronized {
    if (server != null) { server.stop(0); server = null }
  }
  def close(): Unit = stop()

  // ---- request plumbing ----

  private case class HttpError(status: Int, message: String)
    extends RuntimeException(message)

  private def handle(ex: HttpExchange): Unit = {
    val (status, body) =
      try {
        checkAuth(ex)
        route(ex)
      } catch {
        case HttpError(s, m) => (s, errJson(m))
        case Collections.WriterConflict(m) => (409, errJson(m))
        case e: NoSuchElementException => (404, errJson(e.getMessage))
        case e @ (_: IllegalArgumentException | _: MappingException) =>
          (400, errJson(e.getMessage))
        case e: Exception if isClientDataError(e) =>
          // a malformed row fails INSIDE the Spark job (FAILFAST
          // from_json) and surfaces wrapped in SparkException layers —
          // that is the client's bad input, not a server fault
          log.warn(s"rejected malformed row data on " +
            s"${ex.getRequestMethod} ${ex.getRequestURI}: " +
            rootCause(e).toString)
          (400, errJson("malformed row data: " +
            rootCause(e).getMessage.linesIterator.take(1).mkString))
        case e: Exception =>
          // never echo internal exception detail to the client; the
          // server log keeps the stack for the operator
          log.error("internal error handling " +
            s"${ex.getRequestMethod} ${ex.getRequestURI}", e)
          (500, errJson("internal server error"))
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length)
    try ex.getResponseBody.write(bytes) finally ex.close()
  }

  /** The failure is in the request's row data, not the server: walk
    * the cause chain for SPARK'S OWN record-parse failure markers
    * (FAILFAST from_json wraps BadRecordException / MALFORMED_RECORD
    * in SparkException layers). Deliberately narrow — a bare jackson
    * JsonParseException elsewhere in a handler is a server-side fault
    * (the request body itself was already parsed by readBody), and
    * classifying it 400 would hide a real bug from the operator. */
  private def isClientDataError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists { c =>
      c.getClass.getName.contains("BadRecordException") ||
        Option(c.getMessage).exists(m =>
          m.contains("Malformed records are detected") ||
            m.contains("MALFORMED_RECORD"))
    }

  private def rootCause(e: Throwable): Throwable =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16)
      .reduceLeft((_, c) => c)

  private def checkAuth(ex: HttpExchange): Unit = auth.foreach {
    case (user, pass) =>
      // any credential failure — including undecodable base64 — is a
      // 401, never a 400 (reference mod.rs:61-75 parity); the compare
      // is constant-time (MessageDigest.isEqual) so response timing
      // cannot leak how many leading credential bytes matched
      val expected = s"$user:$pass".getBytes(StandardCharsets.UTF_8)
      val ok = Option(ex.getRequestHeaders.getFirst("Authorization"))
        .filter(_.startsWith("Basic "))
        .flatMap { h =>
          try Some(Base64.getDecoder.decode(h.drop(6)))
          catch { case _: IllegalArgumentException => None }
        }
        .exists(presented =>
          java.security.MessageDigest.isEqual(expected, presented))
      if (!ok) throw HttpError(401, "Unauthorized")
  }

  private def readBody(ex: HttpExchange): JValue = {
    // readNBytes caps the read: one oversized PUT must not exhaust
    // driver memory before validation ever runs
    val in = ex.getRequestBody
    val bytes = in.readNBytes(MaxBodyBytes + 1)
    if (bytes.length > MaxBodyBytes)
      throw HttpError(413, s"request body exceeds $MaxBodyBytes bytes")
    val raw = new String(bytes, StandardCharsets.UTF_8)
    if (raw.isEmpty) JObject()
    else try parse(raw)
    catch { case e: Exception => throw HttpError(400,
      s"invalid JSON body: ${e.getMessage}") }
  }

  private def errJson(m: String): String =
    compact(render(JObject("error" -> JString(Option(m).getOrElse("")))))

  private def str(j: JValue, field: String): Option[String] =
    j \ field match {
      case JString(s) => Some(s)
      case JNothing | JNull => None
      case other => throw HttpError(400, s"'$field' must be a string, got $other")
    }

  private def int(j: JValue, field: String): Option[Int] =
    j \ field match {
      case JInt(n) => Some(n.toInt)
      case JNothing | JNull => None
      case other => throw HttpError(400, s"'$field' must be an integer, got $other")
    }

  private def bool(j: JValue, field: String): Option[Boolean] =
    j \ field match {
      case JBool(b) => Some(b)
      case JNothing | JNull => None
      case other => throw HttpError(400, s"'$field' must be a boolean, got $other")
    }

  // ---- routing ----

  private def route(ex: HttpExchange): (Int, String) = {
    val method = ex.getRequestMethod
    val segs = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).toList
    (method, segs) match {
      case ("GET", List("collections")) => listCollections()
      case ("POST", List("collections")) => createCollection(readBody(ex))
      case ("GET", List("collections", name)) => getCollection(name)
      case ("DELETE", List("collections", name)) => dropCollection(name)
      case ("PUT", List("collections", name)) => insertRows(name, readBody(ex))
      case ("POST", List("collections", name, "search")) =>
        search(name, readBody(ex))
      case ("POST", List("collections", name, "index")) =>
        createIndex(name, readBody(ex))
      case ("POST", List("collections", name, "pq")) =>
        quantize(name, readBody(ex))
      case ("DELETE", List("index", indexName)) => dropIndex(indexName)
      case _ => throw HttpError(404, s"no route for $method ${segs.mkString("/")}")
    }
  }

  // ---- handlers ----

  private def specJson(spec: Collections.Spec): JValue = JObject(
    "name" -> JString(spec.name),
    "schema" -> JObject(spec.schema.map {
      case (n, t) => n -> (JString(t): JValue) }.toList),
    "indexes" -> JArray(
      Collections.listIndexes(spark, root, spec.name).map(i => JObject(
        "name" -> JString(i.name), "column" -> JString(i.column),
        "metric" -> JString(i.metric), "m" -> JInt(i.m),
        "ef_construction" -> JInt(i.efConstruction), "ef" -> JInt(i.ef),
        "pq" -> JBool(i.pq)): JValue).toList))

  private def listCollections(): (Int, String) =
    (200, compact(render(JArray(
      Collections.list(spark, root).map(specJson).toList))))

  private def getCollection(name: String): (Int, String) = {
    val spec = Collections.readSpec(spark, root, name)
      .getOrElse(throw HttpError(404, "Collection not found"))
    (200, compact(render(specJson(spec))))
  }

  private def createCollection(body: JValue): (Int, String) = {
    val name = str(body, "name")
      .getOrElse(throw HttpError(400, "'name' is required"))
    val schema: Seq[(String, String)] = body \ "schema" match {
      case JObject(fields) => fields.map {
        case (k, JString(t)) => k -> t
        case (k, other) => throw HttpError(400,
          s"schema entry '$k' must be a type string, got $other")
      }
      case JNothing | JNull => Seq.empty
      case other => throw HttpError(400, s"'schema' must be an object, got $other")
    }
    val spec = Collections.create(spark, root, name, schema)
    (200, compact(render(specJson(spec))))
  }

  private def dropCollection(name: String): (Int, String) =
    if (Collections.drop(spark, root, name)) (200, "{}")
    else throw HttpError(404, "Collection not found")

  private def insertRows(name: String, body: JValue): (Int, String) = {
    val rows = body \ "rows" match {
      case JArray(rs) => rs.map(r => compact(render(r)))
      case JNothing | JNull => Nil
      case other => throw HttpError(400, s"'rows' must be an array, got $other")
    }
    val n = Collections.insert(spark, root, name, rows)
    (200, compact(render(JObject("inserted" -> JInt(n)))))
  }

  private def createIndex(name: String, body: JValue): (Int, String) = {
    val column = str(body, "column")
      .getOrElse(throw HttpError(400, "'column' is required"))
    val info = Collections.IndexInfo(
      name = str(body, "name").getOrElse(s"${name}_${column}_idx"),
      column = column,
      metric = str(body, "metric").getOrElse("l2sq"),
      m = int(body, "m").getOrElse(16),
      efConstruction = int(body, "ef_construction").getOrElse(128),
      ef = int(body, "ef").getOrElse(64),
      pq = bool(body, "pq").getOrElse(false))
    // reference takes `external` (build outside postgres); every build
    // here is already the distributed library build, so it's accepted
    // and ignored
    Collections.createIndex(spark, root, name, info)
    (200, "{}")
  }

  private def dropIndex(indexName: String): (Int, String) =
    if (Collections.dropIndex(spark, root, indexName)) (200, "{}")
    else throw HttpError(404, "Index not found")

  private def quantize(name: String, body: JValue): (Int, String) = {
    val column = str(body, "column")
      .getOrElse(throw HttpError(400, "'column' is required"))
    val splits = int(body, "splits")
      .getOrElse(throw HttpError(400, "'splits' is required"))
    Collections.quantize(spark, root, name, column,
      int(body, "clusters").getOrElse(256), splits, int(body, "limit"))
    (200, "{}")
  }

  private def search(name: String, body: JValue): (Int, String) = {
    val column = str(body, "column")
      .getOrElse(throw HttpError(400, "'column' is required"))
    val qv: Array[Float] = body \ "query_vector" match {
      case JArray(xs) => xs.map {
        case JInt(n) => n.toFloat
        case JDouble(d) => d.toFloat
        case JDecimal(d) => d.toFloat
        case other => throw HttpError(400, s"non-numeric vector element $other")
      }.toArray
      case JNothing | JNull =>
        // reference search.rs:104-116: embed query_text with query_model
        val text = str(body, "query_text")
        val model = str(body, "query_model")
        if (text.isEmpty || model.isEmpty) throw HttpError(400,
          "Please provide query_vector or query_text and query_model")
        val runtime = str(body, "query_runtime").getOrElse("mock")
        Runtimes.forName(runtime).embedBatch(model.get, Seq(text.get)).head
      case other => throw HttpError(400, s"'query_vector' must be an array, got $other")
    }
    val select = str(body, "select")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // k bounds the driver-side collect: client-controlled and must
    // stay a top-k, never a full-table export
    val k = int(body, "k").getOrElse(10)
    if (k < 1 || k > MaxK)
      throw HttpError(400, s"'k' must be in [1, $MaxK], got $k")
    val ef = int(body, "ef").getOrElse(10)
    if (ef < 1 || ef > MaxK)
      throw HttpError(400, s"'ef' must be in [1, $MaxK], got $ef")
    val df = Collections.search(spark, root, name, Collections.SearchRequest(
      column, qv, str(body, "metric").getOrElse("l2sq"), select, k, ef))
    (200, compact(render(JObject("rows" -> dfToJson(df)))))
  }

  /** Bounded collect (k rows) -> JSON rows, by result schema. */
  private def dfToJson(df: DataFrame): JArray = {
    import org.apache.spark.sql.types._
    val schema = df.schema
    JArray(df.collect().toList.map { row =>
      JObject(schema.fields.zipWithIndex.map { case (f, i) =>
        f.name -> anyToJson(if (row.isNullAt(i)) null else row.get(i))
      }.toList)
    })
  }

  private def anyToJson(v: Any): JValue = v match {
    case null => JNull
    case b: Boolean => JBool(b)
    case n: Byte => JInt(BigInt(n.toInt))
    case n: Short => JInt(BigInt(n.toInt))
    case n: Int => JInt(BigInt(n))
    case n: Long => JInt(BigInt(n))
    case n: Float => JDouble(n.toDouble)
    case n: Double => JDouble(n)
    case d: java.math.BigDecimal => JDecimal(BigDecimal(d))
    case s: String => JString(s)
    case b: Array[Byte] => JString(Base64.getEncoder.encodeToString(b))
    case xs: scala.collection.Seq[_] => JArray(xs.map(anyToJson).toList)
    case ts: java.sql.Timestamp => JString(ts.toString)
    case dt: java.sql.Date => JString(dt.toString)
    case other => JString(other.toString)
  }
}
