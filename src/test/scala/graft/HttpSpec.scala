package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.util.Base64

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

import graft.http.CollectionServer

/** End-to-end lifecycle of the HTTP collection façade over loopback:
  * create / insert / search (exact, indexed, text+model) / index /
  * pq / auth / delete — the reference http_server surface
  * (collection.rs, search.rs, index.rs, pq.rs) driven through real
  * HTTP requests against the Spark-backed store. */
class HttpSpec extends SparkSpec {

  private val client = HttpClient.newHttpClient()

  private def req(port: Int, method: String, path: String,
      body: String = "", auth: Option[(String, String)] = None)
      : (Int, JValue) = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .method(method, if (body.isEmpty) HttpRequest.BodyPublishers.noBody()
        else HttpRequest.BodyPublishers.ofString(body))
    auth.foreach { case (u, p) => b.header("Authorization",
      "Basic " + Base64.getEncoder.encodeToString(s"$u:$p".getBytes)) }
    val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(),
      if (resp.body().isEmpty) JNothing else parse(resp.body()))
  }

  private def withServer(auth: Option[(String, String)] = None)
      (f: Int => Unit): Unit = {
    val root = Files.createTempDirectory("graft_http_spec").toString
    val srv = new CollectionServer(spark, root, auth = auth)
    val port = srv.start()
    try f(port) finally srv.stop()
  }

  private def rowsOf(j: JValue): List[Map[String, JValue]] =
    (j \ "rows").asInstanceOf[JArray].arr
      .map(_.asInstanceOf[JObject].obj.toMap)

  private def longOf(v: JValue): Long = v.asInstanceOf[JInt].num.toLong
  private def doubleOf(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(n) => n.toDouble
    case JDecimal(d) => d.toDouble
    case other => fail(s"not a number: $other")
  }

  /** 4-dim corpus; components multiples of 1/16 so float==double. */
  private val corpus: Seq[(Seq[Double], String)] = Seq(
    Seq(0.0, 0.0, 0.0, 0.0) -> "origin",
    Seq(1.0, 0.0, 0.0, 0.0) -> "e1",
    Seq(0.0, 1.0, 0.0, 0.0) -> "e2",
    Seq(0.5, 0.5, 0.0, 0.0) -> "mid",
    Seq(2.0, 2.0, 2.0, 2.0) -> "far")

  private def insertCorpus(port: Int, name: String): Unit = {
    val rows = corpus.map { case (v, d) =>
      s"""{"vector": ${v.mkString("[", ",", "]")}, "data": "$d"}"""
    }.mkString("[", ",", "]")
    val (st, body) = req(port, "PUT", s"/collections/$name",
      s"""{"rows": $rows}""")
    assert(st == 200, body)
    assert(longOf(body \ "inserted") == corpus.size)
  }

  test("collection lifecycle: create with default schema, list, get, delete") {
    withServer() { port =>
      val (st1, c1) = req(port, "POST", "/collections",
        """{"name": "docs"}""")
      assert(st1 == 200)
      // default schema = reference collection.rs:196-207
      assert((c1 \ "schema" \ "vector") == JString("REAL[]"))
      assert((c1 \ "schema" \ "data") == JString("TEXT"))

      val (st2, listed) = req(port, "GET", "/collections")
      assert(st2 == 200)
      assert(listed.asInstanceOf[JArray].arr.map(_ \ "name") ==
        List(JString("docs")))

      val (st3, got) = req(port, "GET", "/collections/docs")
      assert(st3 == 200 && (got \ "name") == JString("docs"))
      assert(req(port, "GET", "/collections/nope")._1 == 404)

      assert(req(port, "DELETE", "/collections/docs")._1 == 200)
      assert(req(port, "DELETE", "/collections/docs")._1 == 404)
      val (_, empty) = req(port, "GET", "/collections")
      assert(empty.asInstanceOf[JArray].arr.isEmpty)
    }
  }

  test("insert assigns identity ids in row order; exact search ranks by distance") {
    withServer() { port =>
      assert(req(port, "POST", "/collections", """{"name": "t"}""")._1 == 200)
      insertCorpus(port, "t")
      // identity: 1..5 in JSON array order; second batch continues
      val (_, more) = req(port, "PUT", "/collections/t",
        """{"rows": [{"vector": [9,9,9,9], "data": "later"}]}""")
      assert(longOf(more \ "inserted") == 1)

      val (st, res) = req(port, "POST", "/collections/t/search",
        """{"column": "vector", "query_vector": [0,0,0,0],
           "metric": "l2sq", "select": "id,data", "k": 3}""")
      assert(st == 200, res)
      val rows = rowsOf(res)
      assert(rows.map(r => r("data").asInstanceOf[JString].s) ==
        List("origin", "mid", "e1"))
      // l2sq distances 0, 0.5, 1; the e1/e2 tie breaks on id (2 < 3)
      assert(rows.map(r => doubleOf(r("distance"))) == List(0.0, 0.5, 1.0))
      assert(rows.map(r => longOf(r("id"))) == List(1L, 4L, 2L))
      // the later batch got id 6
      val (_, res2) = req(port, "POST", "/collections/t/search",
        """{"column": "vector", "query_vector": [9,9,9,9], "k": 1}""")
      assert(longOf(rowsOf(res2).head("id")) == 6L)
    }
  }

  test("cosine metric and select=* default") {
    withServer() { port =>
      assert(req(port, "POST", "/collections", """{"name": "c"}""")._1 == 200)
      insertCorpus(port, "c")
      val (st, res) = req(port, "POST", "/collections/c/search",
        """{"column": "vector", "query_vector": [1,1,1,1],
           "metric": "cosine", "k": 1}""")
      assert(st == 200)
      val top = rowsOf(res).head
      // cos_dist([2,2,2,2],[1,1,1,1]) = 0; all declared columns present
      assert(top("data") == JString("far"))
      assert(doubleOf(top("distance")) == 0.0)
      assert(top.keySet == Set("id", "vector", "data", "metadata", "distance"))
    }
  }

  test("search routes through a matching ANN index once created") {
    withServer() { port =>
      assert(req(port, "POST", "/collections", """{"name": "idxed"}""")._1 == 200)
      insertCorpus(port, "idxed")
      val (st, _) = req(port, "POST", "/collections/idxed/index",
        """{"column": "vector", "metric": "l2sq", "m": 8,
           "ef_construction": 64, "ef": 64, "name": "my_idx"}""")
      assert(st == 200)
      val (_, info) = req(port, "GET", "/collections/idxed")
      val idx = (info \ "indexes").asInstanceOf[JArray].arr
      assert(idx.map(_ \ "name") == List(JString("my_idx")))

      // indexed search finds the same neighbors as exact on this corpus
      val (_, res) = req(port, "POST", "/collections/idxed/search",
        """{"column": "vector", "query_vector": [0,0,0,0], "k": 3,
           "select": "data", "ef": 64}""")
      assert(rowsOf(res).map(r => r("data").asInstanceOf[JString].s) ==
        List("origin", "mid", "e1"))

      // a row inserted AFTER the index build is invisible to the index
      // path (stale index) but visible to exact search on another
      // metric — proof the route really goes through the index
      val (_, _) = req(port, "PUT", "/collections/idxed",
        """{"rows": [{"vector": [0,0,0,0.0625], "data": "post-index"}]}""")
      val (_, viaIdx) = req(port, "POST", "/collections/idxed/search",
        """{"column": "vector", "query_vector": [0,0,0,0], "k": 2,
           "select": "data"}""")
      assert(!rowsOf(viaIdx).exists(_("data") == JString("post-index")))
      val (_, viaExact) = req(port, "POST", "/collections/idxed/search",
        """{"column": "vector", "query_vector": [0,0,0,1], "k": 2,
           "select": "data", "metric": "cosine"}""")
      assert(rowsOf(viaExact).exists(_("data") == JString("post-index")))

      // drop by global index name (reference DROP INDEX); exact path
      // takes over and sees every row again
      assert(req(port, "DELETE", "/index/my_idx")._1 == 200)
      assert(req(port, "DELETE", "/index/my_idx")._1 == 404)
      val (_, afterDrop) = req(port, "POST", "/collections/idxed/search",
        """{"column": "vector", "query_vector": [0,0,0,0], "k": 2,
           "select": "data"}""")
      assert(rowsOf(afterDrop).map(r => r("data").asInstanceOf[JString].s) ==
        List("origin", "post-index"))
    }
  }

  test("an index dropped and created again under its name serves the new rows") {
    withServer() { port =>
      assert(req(port, "POST", "/collections", """{"name": "re"}""")._1 == 200)
      insertCorpus(port, "re")
      val create = """{"column": "vector", "metric": "l2sq", "m": 8,
           "ef_construction": 64, "ef": 64, "name": "re_idx"}"""
      val search = """{"column": "vector", "query_vector": [0,0,0,0], "k": 2,
           "select": "data"}"""
      def top2(): List[String] = {
        val (st, res) = req(port, "POST", "/collections/re/search", search)
        assert(st == 200, res)
        rowsOf(res).map(r => r("data").asInstanceOf[JString].s)
      }
      assert(req(port, "POST", "/collections/re/index", create)._1 == 200)
      assert(top2() == List("origin", "mid"))
      // a row the first build never saw, then the same index name again
      assert(req(port, "PUT", "/collections/re",
        """{"rows": [{"vector": [0,0,0,0.0625], "data": "post-index"}]}""")._1 == 200)
      assert(req(port, "DELETE", "/index/re_idx")._1 == 200)
      assert(req(port, "POST", "/collections/re/index", create)._1 == 200)
      assert(top2() == List("origin", "post-index"))
    }
  }

  test("pq endpoint trains a codebook; pq index search works") {
    withServer() { port =>
      assert(req(port, "POST", "/collections", """{"name": "pqc"}""")._1 == 200)
      insertCorpus(port, "pqc")
      val (st, body) = req(port, "POST", "/collections/pqc/pq",
        """{"column": "vector", "clusters": 2, "splits": 2}""")
      assert(st == 200, body)
      // pq=true without a codebook is a 400; with one, the build works
      val (st2, _) = req(port, "POST", "/collections/pqc/index",
        """{"column": "vector", "pq": true, "name": "pq_idx"}""")
      assert(st2 == 200)
      val (_, res) = req(port, "POST", "/collections/pqc/search",
        """{"column": "vector", "query_vector": [2,2,2,2], "k": 1,
           "select": "data", "ef": 64}""")
      assert(rowsOf(res).head("data") == JString("far"))
    }
  }

  test("query_text with query_model embeds via the runtime registry") {
    withServer() { port =>
      // mock runtime vectors are 8-dim
      assert(req(port, "POST", "/collections",
        """{"name": "texts", "schema": {"id": "bigint generated always as identity",
           "vector": "REAL[]", "data": "TEXT"}}""")._1 == 200)
      val emb = graft.embed.Runtimes.mock()
        .embedBatch("mock-embed", Seq("alpha", "beta"))
      val rows = emb.zip(Seq("alpha", "beta")).map { case (v, t) =>
        s"""{"vector": ${v.mkString("[", ",", "]")}, "data": "$t"}"""
      }.mkString("[", ",", "]")
      assert(req(port, "PUT", "/collections/texts",
        s"""{"rows": $rows}""")._1 == 200)
      // the mock embedding of "alpha" is exactly alpha's stored vector
      val (st, res) = req(port, "POST", "/collections/texts/search",
        """{"column": "vector", "query_text": "alpha",
           "query_model": "mock-embed", "k": 1}""")
      assert(st == 200, res)
      val top = rowsOf(res).head
      assert(top("data") == JString("alpha"))
      assert(doubleOf(top("distance")) == 0.0)
      // neither vector nor text+model -> reference's 400 message
      val (st2, err) = req(port, "POST", "/collections/texts/search",
        """{"column": "vector"}""")
      assert(st2 == 400 &&
        (err \ "error").asInstanceOf[JString].s.contains("query_vector"))
    }
  }

  test("concurrent inserts never mint duplicate identity ids") {
    withServer() { port =>
      assert(req(port, "POST", "/collections", """{"name": "conc"}""")._1 == 200)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val batches = (0 until 4).map { b =>
        Future {
          val rows = (0 until 10).map(i =>
            s"""{"vector": [$b,$i,0,0], "data": "b$b-r$i"}""")
            .mkString("[", ",", "]")
          req(port, "PUT", "/collections/conc", s"""{"rows": $rows}""")._1
        }
      }
      assert(Await.result(Future.sequence(batches), 60.seconds)
        .forall(_ == 200))
      // all 40 rows present, ids exactly 1..40 with no duplicates
      val (_, res) = req(port, "POST", "/collections/conc/search",
        """{"column": "vector", "query_vector": [0,0,0,0], "k": 100,
           "select": "id"}""")
      val ids = rowsOf(res).map(r => longOf(r("id")))
      assert(ids.size == 40)
      assert(ids.toSet == (1L to 40L).toSet)
    }
  }

  test("searching an empty collection returns zero rows, not an error") {
    withServer() { port =>
      assert(req(port, "POST", "/collections", """{"name": "void"}""")._1 == 200)
      val (st, res) = req(port, "POST", "/collections/void/search",
        """{"column": "vector", "query_vector": [0,0,0,0], "k": 5}""")
      assert(st == 200, res)
      assert(rowsOf(res).isEmpty)
    }
  }

  test("basic auth: 401 without, with wrong, or with undecodable credentials") {
    withServer(auth = Some(("admin", "s3cret"))) { port =>
      assert(req(port, "GET", "/collections")._1 == 401)
      assert(req(port, "GET", "/collections",
        auth = Some(("admin", "wrong")))._1 == 401)
      // malformed base64 is a credential failure (401), not a 400
      val raw = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/collections"))
        .header("Authorization", "Basic !!!not-base64!!!").GET().build()
      assert(client.send(raw,
        HttpResponse.BodyHandlers.ofString()).statusCode() == 401)
      val (st, _) = req(port, "GET", "/collections",
        auth = Some(("admin", "s3cret")))
      assert(st == 200)
    }
  }

  test("path traversal: '..' as a name segment is rejected on every route") {
    withServer() { port =>
      // URI.getPath decodes percent-escapes, so '%2e%2e' arrives at the
      // router as the single segment '..' — without validation
      // s"$root/$name" would resolve to the storage root's parent
      assert(req(port, "GET", "/collections/%2e%2e")._1 == 400)
      assert(req(port, "PUT", "/collections/%2e%2e",
        """{"rows": [{"vector": [1,0]}]}""")._1 == 400)
      assert(req(port, "POST", "/collections/%2e%2e/search",
        """{"column": "vector", "query_vector": [0,0]}""")._1 == 400)
      assert(req(port, "POST", "/collections/%2e%2e/index",
        """{"column": "vector"}""")._1 == 400)
      assert(req(port, "DELETE", "/index/%2e%2e")._1 == 400)
    }
  }

  test("a stray operator-created directory under the root does not break listing") {
    val root = Files.createTempDirectory("graft_http_stray").toString
    val srv = new CollectionServer(spark, root)
    val port = srv.start()
    try {
      assert(req(port, "POST", "/collections", """{"name": "real"}""")._1 == 200)
      // an invalid-named dir (backup tool, operator debris) must be
      // skipped by list(), not turn every listing into a 400
      assert(new java.io.File(root, "backup-2024.bak").mkdir())
      val (st, listed) = req(port, "GET", "/collections")
      assert(st == 200, listed)
      assert(listed.asInstanceOf[JArray].arr.map(_ \ "name") ==
        List(JString("real")))
      // index drops scan the listing too
      assert(req(port, "DELETE", "/index/nope")._1 == 404)
    } finally srv.stop()
  }

  test("a malformed row fails the Spark-side parse as a 400, not a 500") {
    withServer() { port =>
      assert(req(port, "POST", "/collections", """{"name": "mf"}""")._1 == 200)
      // FAILFAST from_json raises inside the Spark job; the handler
      // must recognize the cause chain as client data, not server fault
      val (st, err) = req(port, "PUT", "/collections/mf",
        """{"rows": [{"vector": "not-an-array", "data": "x"}]}""")
      assert(st == 400, s"$st $err")
      assert((err \ "error").asInstanceOf[JString].s
        .toLowerCase.contains("malformed"))
    }
  }

  test("storage lease: a foreign fresh lease 409s, a stale one is broken") {
    val root = Files.createTempDirectory("graft_http_lease").toString
    val srv = new CollectionServer(spark, root)
    val port = srv.start()
    try {
      assert(req(port, "POST", "/collections", """{"name": "lk"}""")._1 == 200)
      // simulate another server's in-flight insert: a fresh lease file
      val lock = new java.io.File(s"$root/lk/_insert.lock")
      assert(lock.createNewFile())
      val (st, err) = req(port, "PUT", "/collections/lk",
        """{"rows": [{"vector": [1,0,0,0]}]}""")
      assert(st == 409, s"$st $err")
      // a crashed writer's lease (older than the TTL) must not wedge
      // the collection forever: the next claim breaks it and proceeds
      assert(lock.setLastModified(
        System.currentTimeMillis() - graft.http.Collections.LeaseTtlMs - 1000))
      assert(req(port, "PUT", "/collections/lk",
        """{"rows": [{"vector": [1,0,0,0]}]}""")._1 == 200)
      // and the lease is released afterwards
      assert(!lock.exists())
    } finally srv.stop()
  }

  test("lease heartbeat keeps a longer-than-TTL holder alive; release is ownership-positive") {
    val root = Files.createTempDirectory("graft_http_hb").toString
    val srv = new CollectionServer(spark, root)
    val port = srv.start()
    try {
      assert(req(port, "POST", "/collections", """{"name": "hb"}""")._1 == 200)
      graft.http.Collections.leaseTtlMsOverride = Some(300L)
      try {
        val lock = new java.io.File(s"$root/hb/_spec.lock")
        // 1) a body that runs 4x the TTL: the heartbeat must keep the
        // lock fresh, so a concurrent claimant sees a LIVE lease (409
        // path) the whole time instead of breaking it mid-build
        @volatile var sawFresh = true
        graft.http.Collections.withLease(spark, root, "hb", "spec") {
          val deadline = System.currentTimeMillis() + 1200L
          while (System.currentTimeMillis() < deadline) {
            Thread.sleep(100L)
            val age = System.currentTimeMillis() - lock.lastModified()
            if (age > graft.http.Collections.LeaseTtlMs) sawFresh = false
          }
        }
        assert(sawFresh, "lease went stale while its holder was alive")
        assert(!lock.exists(), "lease not released after the body")
        // 2) release must delete only a lock that still carries OUR
        // token: simulate a broken-and-reclaimed lease by swapping the
        // lock for a foreign one inside the body — it must survive
        graft.http.Collections.withLease(spark, root, "hb", "spec") {
          assert(lock.delete())
          java.nio.file.Files.write(lock.toPath,
            "foreign-token".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        assert(lock.exists(), "release deleted a foreign live lease")
        assert(new String(java.nio.file.Files.readAllBytes(lock.toPath))
          == "foreign-token")
        lock.delete()
      } finally graft.http.Collections.leaseTtlMsOverride = None
    } finally srv.stop()
  }

  test("request bodies over the cap get 413 before any parsing") {
    val root = Files.createTempDirectory("graft_http_cap").toString
    val srv = new CollectionServer(spark, root) {
      override val MaxBodyBytes: Int = 256
    }
    val port = srv.start()
    try {
      val big = "x" * 500
      val (st, _) = req(port, "POST", "/collections",
        s"""{"name": "$big"}""")
      assert(st == 413)
    } finally srv.stop()
  }

  test("serial identity column round-trips with its declared int type") {
    withServer() { port =>
      assert(req(port, "POST", "/collections",
        """{"name": "ser", "schema": {"id": "serial primary key",
           "vector": "REAL[]"}}""")._1 == 200)
      // two inserts: the second must re-read the int id column cleanly
      // (a long-typed identity write would poison the enforced read)
      assert(req(port, "PUT", "/collections/ser",
        """{"rows": [{"vector": [1,0]}]}""")._1 == 200)
      assert(req(port, "PUT", "/collections/ser",
        """{"rows": [{"vector": [0,1]}]}""")._1 == 200)
      val (st, res) = req(port, "POST", "/collections/ser/search",
        """{"column": "vector", "query_vector": [1,0], "k": 2,
           "select": "id"}""")
      assert(st == 200, res)
      assert(rowsOf(res).map(r => longOf(r("id"))).toSet == Set(1L, 2L))
    }
  }

  test("bad requests: invalid names, unknown metric, malformed JSON") {
    withServer() { port =>
      assert(req(port, "POST", "/collections",
        """{"name": "bad name; drop"}""")._1 == 400)
      assert(req(port, "POST", "/collections", """{"name":""" )._1 == 400)
      assert(req(port, "POST", "/collections", """{"name": "m"}""")._1 == 200)
      insertCorpus(port, "m")
      assert(req(port, "POST", "/collections/m/search",
        """{"column": "vector", "query_vector": [0,0,0,0],
           "metric": "manhattan"}""")._1 == 400)
      assert(req(port, "POST", "/collections/m/search",
        """{"column": "nope", "query_vector": [0,0,0,0]}""")._1 == 400)
      // duplicate create
      assert(req(port, "POST", "/collections", """{"name": "m"}""")._1 == 400)
      // k is clamped: a top-k endpoint must never become a full export
      assert(req(port, "POST", "/collections/m/search",
        """{"column": "vector", "query_vector": [0,0,0,0],
           "k": 2147483647}""")._1 == 400)
      assert(req(port, "POST", "/collections/m/search",
        """{"column": "vector", "query_vector": [0,0,0,0], "k": 0}""")._1 == 400)
      // schema column names validate like collection names
      assert(req(port, "POST", "/collections",
        """{"name": "badcol", "schema": {"a,b": "text"}}""")._1 == 400)
      // pq=true without a trained codebook is a 400, not a 500
      assert(req(port, "POST", "/collections/m/index",
        """{"column": "vector", "pq": true}""")._1 == 400)
    }
  }
}
