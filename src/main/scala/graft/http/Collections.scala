package graft.http

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ann.{AnnIndex, Metric}
import graft.operators.Knn
import graft.pq.Pq

/** Collection store behind the HTTP façade (reference
  * lantern_cli/src/http_server/collection.rs:155-243, index.rs:52-118,
  * pq.rs:47-120): named tables a REST client can create, fill, index
  * and search without speaking SQL or the DataFrame API.
  *
  * Spark-first shape — a collection is a parquet directory plus a tiny
  * properties sidecar, NOT a database handle: inserts are JSON rows
  * parsed by Spark's own `from_json` and appended as parquet (columnar
  * from the first byte, so a later 100-TB scan of an HTTP-built
  * collection is the same scan as any other table); indexes are the
  * library's own ANN index dirs built in place; search routes to the
  * sharded index when one matches the (column, metric) pair and to the
  * exact distributed top-k otherwise — the same planner choice the
  * reference's Postgres makes between an index scan and a seq scan
  * (search.rs:59-134).
  *
  * Declared column types are the reference's Postgres names (REAL[],
  * TEXT, JSONB, BIGINT GENERATED ALWAYS AS IDENTITY, ...) mapped onto
  * Spark types; the identity column is assigned max+1+seq per insert
  * batch, deterministic in JSON array order. */
object Collections {

  /** Default schema = reference collection.rs:196-207. Listed (name,
    * declared type) pairs keep declaration order, like the reference's
    * CREATE TABLE. */
  val defaultSchema: Seq[(String, String)] = Seq(
    "id" -> "bigint GENERATED ALWAYS AS IDENTITY PRIMARY KEY",
    "vector" -> "REAL[]",
    "data" -> "TEXT",
    "metadata" -> "JSONB")

  /** Postgres declared type -> Spark type. JSON/JSONB stay strings
    * (opaque passthrough, like the reference's COPY text protocol). */
  def sparkType(declared: String): DataType = {
    val d = declared.trim.toLowerCase
    val base = d.takeWhile(c => c != ' ' && c != '(')
    if (d.endsWith("[]")) ArrayType(sparkType(d.dropRight(2)))
    else base match {
      case "bigint" | "int8" | "bigserial" | "serial8" => LongType
      case "int" | "integer" | "int4" | "serial" | "smallint" | "int2" =>
        IntegerType
      case "real" | "float4" => FloatType
      case "double" | "float8" | "float" => DoubleType
      case "numeric" | "decimal" => DoubleType
      case "text" | "varchar" | "char" | "json" | "jsonb" | "uuid" =>
        StringType
      case "boolean" | "bool" => BooleanType
      case "timestamp" | "timestamptz" => TimestampType
      case "date" => DateType
      case "bytea" | "binary" => BinaryType
      case other =>
        throw new IllegalArgumentException(s"unsupported type '$other'")
    }
  }

  private def isIdentity(declared: String): Boolean = {
    val d = declared.toLowerCase
    d.contains("identity") || d.contains("serial")
  }

  case class Spec(name: String, schema: Seq[(String, String)]) {
    val identityCol: Option[String] =
      schema.collectFirst { case (n, t) if isIdentity(t) => n }
    def sparkSchema: StructType =
      StructType(schema.map { case (n, t) => StructField(n, sparkType(t)) })
    /** The id column an index build keys on: the identity column, else
      * a column literally named id, else the first integral column. */
    def idColumn: Option[String] = identityCol
      .orElse(schema.collectFirst { case (n, _) if n == "id" => n })
      .orElse(schema.collectFirst {
        case (n, t) if Set[DataType](LongType, IntegerType)(sparkType(t)) => n
      })
  }

  case class IndexInfo(name: String, column: String, metric: String,
      m: Int, efConstruction: Int, ef: Int, pq: Boolean)

  // ---- layout ----
  private def colDir(root: String, name: String) = s"$root/$name"
  private def dataDir(root: String, name: String) = s"$root/$name/data"
  private def indexesDir(root: String, name: String) = s"$root/$name/indexes"
  private def pqDir(root: String, name: String, column: String) =
    s"$root/$name/pq_$column"

  private def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val ValidName = "^[A-Za-z_][A-Za-z0-9_]*$".r
  def requireValidName(n: String): Unit = require(
    ValidName.pattern.matcher(n).matches(),
    s"invalid name '$n' (letters, digits, underscore; not starting with a digit)")

  // ---- schema sidecar (properties, the repo's manifest idiom) ----
  private def writeSpec(spark: SparkSession, root: String, spec: Spec): Unit = {
    val props = new java.util.Properties()
    props.setProperty("columns", spec.schema.map(_._1).mkString(","))
    spec.schema.foreach { case (n, t) => props.setProperty(s"type.$n", t) }
    val p = new Path(colDir(root, spec.name), "_schema.properties")
    val out = fs(spark, root).create(p, true)
    try props.store(out, "graft http collection schema") finally out.close()
  }

  def readSpec(spark: SparkSession, root: String, name: String): Option[Spec] = {
    // the common entry for EVERY per-collection handler: names arrive
    // from URL path segments, and java.net.URI.getPath decodes
    // percent-escapes, so '..' reaches here as one segment — without
    // this check s"$root/$name" escapes the storage root
    requireValidName(name)
    val p = new Path(colDir(root, name), "_schema.properties")
    val f = fs(spark, root)
    if (!f.exists(p)) None
    else {
      val props = new java.util.Properties()
      val in = f.open(p)
      try props.load(in) finally in.close()
      val cols = props.getProperty("columns").split(",").toSeq
      Some(Spec(name, cols.map(c => c -> props.getProperty(s"type.$c"))))
    }
  }

  // ---- collection lifecycle ----
  def create(spark: SparkSession, root: String, name: String,
      schema: Seq[(String, String)]): Spec = {
    requireValidName(name)
    require(readSpec(spark, root, name).isEmpty,
      s"collection '$name' already exists")
    val spec = Spec(name, if (schema.isEmpty) defaultSchema else schema)
    // validate every column NAME (a comma or dot would corrupt the
    // properties sidecar / break nested-path resolution) and every
    // declared TYPE before any write
    spec.schema.foreach { case (n, _) => requireValidName(n) }
    spec.sparkSchema
    writeSpec(spark, root, spec)
    spec
  }

  def list(spark: SparkSession, root: String): Seq[Spec] = {
    val f = fs(spark, root)
    val rootPath = new Path(root)
    if (!f.exists(rootPath)) Seq.empty
    else f.listStatus(rootPath).filter(_.isDirectory).toSeq
      .map(_.getPath.getName).sorted
      // skip stray operator-created dirs (backups, dot-names): readSpec
      // rejects invalid names, and one 'backup-2024' dir must not turn
      // the whole listing into a 400
      .filter(n => ValidName.pattern.matcher(n).matches())
      .flatMap(n => readSpec(spark, root, n))
  }

  def drop(spark: SparkSession, root: String, name: String): Boolean = {
    requireValidName(name)
    val f = fs(spark, root)
    val p = new Path(colDir(root, name))
    f.exists(p) && f.delete(p, true)
  }

  /** Read a collection's rows (empty frame with the right schema when
    * nothing has been inserted yet). */
  def data(spark: SparkSession, root: String, name: String): DataFrame = {
    val spec = readSpec(spark, root, name)
      .getOrElse(throw new NoSuchElementException(s"collection '$name'"))
    val dir = dataDir(root, name)
    if (fs(spark, root).exists(new Path(dir)))
      spark.read.schema(spec.sparkSchema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      spec.sparkSchema)
  }

  /** Per-(root, collection) insert locks: identity assignment reads
    * max(id) then appends, so two concurrent HTTP inserts into the
    * same collection must serialize or they'd mint duplicate ids (the
    * reference gets this from Postgres sequences). Different
    * collections still insert fully in parallel. */
  private val insertLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Another writer process holds the collection's storage lease. The
    * HTTP layer maps this to 409 Conflict. */
  case class WriterConflict(msg: String) extends RuntimeException(msg)

  /** Stale-lease threshold: a crashed writer's lease older than this is
    * broken by the next claimant. Generous on purpose — and since r8 a
    * live holder HEARTBEATS (refreshes the lock's mtime at TTL/4), so
    * even an operation longer than the TTL never looks stale to another
    * claimant; only a crashed writer (no heartbeat) ever ages past it. */
  def LeaseTtlMs: Long = leaseTtlMsOverride.getOrElse(10 * 60 * 1000L)

  /** Spec hook: shrink the TTL so heartbeat/stale paths run in test
    * time. Production code never sets it. */
  @volatile private[graft] var leaseTtlMsOverride: Option[Long] = None

  /** Storage-level writer lease, taken INSIDE the JVM-local lock: the
    * in-process ConcurrentHashMap monitor serializes threads of one
    * server, and this lease serializes across PROCESSES sharing a
    * storage root — without it two façade JVMs could both read max(id)
    * and mint duplicate identity ids (the reference gets cross-process
    * safety from Postgres sequences; a shared filesystem gives us
    * create-if-absent, which is atomic on HDFS and best-effort-atomic
    * on the local fs). A claim finding a fresh foreign lease raises
    * [[WriterConflict]] (HTTP 409) rather than blocking a request
    * thread; a lease older than [[LeaseTtlMs]] is treated as crash
    * debris, broken, and re-claimed once. */
  private[graft] def withLease[T](spark: SparkSession, root: String,
      name: String, kind: String)(body: => T): T = {
    val f = fs(spark, root)
    val dir = new Path(colDir(root, name))
    val lock = new Path(dir, s"_$kind.lock")
    // 404 before any lease artifact: a lease file must never conjure a
    // collection directory into existence
    if (readSpec(spark, root, name).isEmpty)
      throw new NoSuchElementException(s"collection '$name'")
    // the token identifies THIS claimant: release deletes the lock only
    // when it still carries our token, so a writer that overran the TTL
    // (its lease broken and re-claimed by another process) cannot
    // release the other process's live lease on its way out
    val token = java.util.UUID.randomUUID().toString
    def claim(): Boolean =
      try {
        // overwrite = false: fails when another process holds the lease
        val out = f.create(lock, false)
        try out.writeBytes(token) finally out.close()
        true
      } catch { case _: java.io.IOException => false }
    def readToken(): Option[String] =
      try {
        val in = f.open(lock)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } catch { case _: java.io.IOException => None }
    def breakIfStale(): Unit = {
      val st = try Some(f.getFileStatus(lock))
        catch { case _: java.io.FileNotFoundException => None }
      st.foreach { s =>
        if (System.currentTimeMillis() - s.getModificationTime > LeaseTtlMs) {
          // break by RENAME to a unique debris name: of two processes
          // racing to break the same stale lease exactly one rename
          // succeeds (the loser's source is gone), so the loser can
          // never delete the winner's freshly claimed lock — the
          // delete-based break had exactly that TOCTOU
          val debris = new Path(dir, s"_$kind.lock.broken-$token")
          try { if (f.rename(lock, debris)) f.delete(debris, false) }
          catch { case _: java.io.IOException => () }
        }
      }
    }
    if (!claim()) {
      breakIfStale()
      if (!claim())
        throw WriterConflict(s"collection '$name' is locked by another " +
          s"writer process ($kind lease held < ${LeaseTtlMs / 1000}s)")
    }
    // heartbeat: refresh the lock's mtime while the body runs, so a
    // legitimately-long operation (an index build past the TTL) never
    // looks stale to another claimant — without it the TTL would bound
    // worst-case build time, and a broken live lease would let a second
    // server interleave shard builds on the same collection. The touch
    // verifies ownership first so a lease that WAS broken (crash
    // mis-diagnosis) is not resurrected by its overrun holder.
    val hb = new Thread(() => {
      var live = true
      while (live) {
        try Thread.sleep(math.max(LeaseTtlMs / 4, 20L))
        catch { case _: InterruptedException => live = false }
        if (live) {
          try {
            if (readToken().contains(token))
              f.setTimes(lock, System.currentTimeMillis(), -1)
          } catch { case _: java.io.IOException => () }
        }
      }
    }, s"graft-lease-heartbeat-$name-$kind")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      hb.interrupt()
      hb.join(2000)
      // delete only on POSITIVE ownership: readToken()==None means the
      // lock is missing or mid-break (rename+delete leaves it briefly
      // absent) — another process may claim in that window, and a
      // forall-based release would delete ITS live lease. A transiently
      // unreadable own lock is leaked until the TTL instead; strictly
      // safer than deleting a foreign one.
      if (readToken().contains(token)) {
        try f.delete(lock, false)
        catch { case _: java.io.IOException => () }
      }
    }
  }

  /** Append JSON rows (reference insert_data, collection.rs:280-302:
    * "keys from the first row will be taken as column names" — here
    * every declared column is read from each row, missing keys are
    * null). The identity column ignores client values (GENERATED
    * ALWAYS) and gets max+1+seq in JSON array order. */
  def insert(spark: SparkSession, root: String, name: String,
      rowsJson: Seq[String]): Long =
    insertLocks.computeIfAbsent(s"$root/$name", _ => new Object)
      .synchronized {
        withLease(spark, root, name, "insert") {
          insertLocked(spark, root, name, rowsJson)
        }
      }

  private def insertLocked(spark: SparkSession, root: String, name: String,
      rowsJson: Seq[String]): Long = {
    val spec = readSpec(spark, root, name)
      .getOrElse(throw new NoSuchElementException(s"collection '$name'"))
    if (rowsJson.isEmpty) return 0L
    import spark.implicits._
    val nonIdentity = StructType(
      spec.sparkSchema.filterNot(f => spec.identityCol.contains(f.name)))
    val parsed = rowsJson.zipWithIndex
      .map { case (r, i) => (i.toLong, r) }
      .toDF("__seq", "__json")
      .withColumn("__row",
        from_json(col("__json"), nonIdentity, Map("mode" -> "FAILFAST")))
    val withId = spec.identityCol match {
      case Some(idc) =>
        val idType = sparkType(spec.schema.find(_._1 == idc).get._2)
        val maxId: Long = data(spark, root, name)
          .agg(coalesce(max(col(idc)).cast("long"), lit(0L)))
          .head().getLong(0)
        // cast to the DECLARED type: a serial/int identity written as
        // long would poison every later schema-enforced read
        parsed.withColumn(idc,
          (lit(maxId + 1L) + col("__seq")).cast(idType))
      case None => parsed
    }
    val out = withId.select(spec.schema.map { case (n, _) =>
      if (spec.identityCol.contains(n)) col(n).as(n)
      else col(s"__row.$n").as(n)
    }: _*)
    out.write.mode("append").parquet(dataDir(root, name))
    rowsJson.size.toLong
  }

  // ---- indexes ----
  def metricOf(name: String): Metric = name match {
    case "l2sq" => Metric.L2Sq
    case "cosine" | "cos" => Metric.Cos
    case "hamming" => Metric.Hamming
    case other => throw new IllegalArgumentException(
      s"unknown metric '$other' (expected l2sq, cosine or hamming)")
  }

  def createIndex(spark: SparkSession, root: String, collection: String,
      info: IndexInfo): IndexInfo =
    insertLocks.computeIfAbsent(s"$root/$collection#index", _ => new Object)
      .synchronized {
        withLease(spark, root, collection, "index") {
          createIndexLocked(spark, root, collection, info)
        }
      }

  /** Index build + sidecar write serialize per collection (two
    * concurrent same-name builds would interleave their shard files);
    * inserts keep their own lock key, so building never blocks them. */
  private def createIndexLocked(spark: SparkSession, root: String,
      collection: String, info: IndexInfo): IndexInfo = {
    requireValidName(info.name)
    val spec = readSpec(spark, root, collection)
      .getOrElse(throw new NoSuchElementException(s"collection '$collection'"))
    val idc = spec.idColumn.getOrElse(throw new IllegalArgumentException(
      s"collection '$collection' has no integral id column to index by"))
    require(spec.schema.exists(_._1 == info.column),
      s"no column '${info.column}' in collection '$collection'")
    val cb = if (info.pq) {
      val pd = pqDir(root, collection, info.column)
      require(fs(spark, root).exists(new Path(pd)),
        s"pq=true but no codebook for '${info.column}' — POST " +
          s"/collections/$collection/pq first")
      Some(Pq.codebookFromDf(spark.read.parquet(pd)))
    } else None
    val path = s"${indexesDir(root, collection)}/${info.name}"
    val rows = data(spark, root, collection)
      .filter(col(info.column).isNotNull)
      .select(col(idc).cast("long").as(idc), col(info.column))
    AnnIndex.build(rows, idc, info.column, path,
      AnnIndex.Params(metricOf(info.metric), info.m, info.efConstruction,
        pq = cb))
    val props = new java.util.Properties()
    props.setProperty("column", info.column)
    props.setProperty("metric", info.metric)
    props.setProperty("m", info.m.toString)
    props.setProperty("ef_construction", info.efConstruction.toString)
    props.setProperty("ef", info.ef.toString)
    props.setProperty("pq", info.pq.toString)
    val out = fs(spark, root)
      .create(new Path(path, "_http_index.properties"), true)
    try props.store(out, "graft http index") finally out.close()
    info
  }

  def listIndexes(spark: SparkSession, root: String,
      collection: String): Seq[IndexInfo] = {
    val f = fs(spark, root)
    val dir = new Path(indexesDir(root, collection))
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).filter(_.isDirectory).toSeq
      .map(_.getPath).sortBy(_.getName).flatMap { p =>
        val ip = new Path(p, "_http_index.properties")
        if (!f.exists(ip)) None
        else {
          val props = new java.util.Properties()
          val in = f.open(ip)
          try props.load(in) finally in.close()
          Some(IndexInfo(p.getName, props.getProperty("column"),
            props.getProperty("metric"), props.getProperty("m").toInt,
            props.getProperty("ef_construction").toInt,
            props.getProperty("ef").toInt,
            props.getProperty("pq").toBoolean))
        }
      }
  }

  /** Index names are global like the reference's DROP INDEX: scan the
    * collections for the owner. Returns false when nothing matched.
    * Takes each collection's index lock, so a drop cannot interleave
    * with a createIndex on the same collection (a delete landing
    * between the shard build and the sidecar write would leave a
    * phantom index directory holding only the properties file). */
  def dropIndex(spark: SparkSession, root: String,
      indexName: String): Boolean = {
    requireValidName(indexName)
    val f = fs(spark, root)
    list(spark, root).exists { spec =>
      insertLocks.computeIfAbsent(s"$root/${spec.name}#index",
        _ => new Object).synchronized {
        val p = new Path(s"${indexesDir(root, spec.name)}/$indexName")
        // the storage lease extends the no-interleave guarantee across
        // writer processes: a drop cannot land inside another server's
        // in-flight build on the same collection
        f.exists(p) && withLease(spark, root, spec.name, "index") {
          f.exists(p) && f.delete(p, true)
        }
      }
    }
  }

  // ---- PQ (reference pq.rs quantize_table) ----
  def quantize(spark: SparkSession, root: String, collection: String,
      column: String, clusters: Int, splits: Int, limit: Option[Int]): Unit = {
    val spec = readSpec(spark, root, collection)
      .getOrElse(throw new NoSuchElementException(s"collection '$collection'"))
    require(spec.schema.exists(_._1 == column),
      s"no column '$column' in collection '$collection'")
    val cb = Pq.createCodebook(data(spark, root, collection), column,
      clusters, splits, limit.getOrElse(10000))
    Pq.codebookToDf(spark, cb).coalesce(1)
      .write.mode("overwrite").parquet(pqDir(root, collection, column))
  }

  // ---- search (reference search.rs vector_search) ----
  case class SearchRequest(column: String, queryVector: Array[Float],
      metric: String, select: Option[Seq[String]], k: Int, ef: Int)

  /** Top-k rows with a `distance` column. Routes through a matching ANN
    * index when one exists on (column, metric) — the reference's
    * index-scan path — and through the exact distributed top-k
    * otherwise. Either way ties break on the id column (or the vector
    * column's hash when there is none) so results are deterministic. */
  def search(spark: SparkSession, root: String, collection: String,
      req: SearchRequest): DataFrame = {
    val spec = readSpec(spark, root, collection)
      .getOrElse(throw new NoSuchElementException(s"collection '$collection'"))
    require(spec.schema.exists(_._1 == req.column),
      s"no column '${req.column}' in collection '$collection'")
    val metric = metricOf(req.metric)
    val rows = data(spark, root, collection)
    val fields = req.select.getOrElse(spec.schema.map(_._1))
    fields.foreach(c => require(spec.schema.exists(_._1 == c),
      s"no column '$c' in collection '$collection'"))
    val idx = listIndexes(spark, root, collection)
      .find(i => i.column == req.column && i.metric == req.metric)
    val out = idx match {
      case Some(i) if spec.idColumn.isDefined =>
        val idc = spec.idColumn.get
        val hits = AnnIndex.topK(spark,
          s"${indexesDir(root, collection)}/${i.name}", req.queryVector,
          req.k, math.max(req.ef, i.ef))
        // k hit ids broadcast back onto the table for the selected
        // fields — the big side never shuffles
        rows.join(broadcast(hits.withColumnRenamed("id", "__hit_id")),
            col(idc).cast("long") === col("__hit_id"))
          .withColumn("distance", col("dist"))
      case _ =>
        val tie = spec.idColumn.map(col)
          .getOrElse(xxhash64(col(req.column)))
        Knn.knn(rows, col(req.column),
          graft.functions.vecLit(req.queryVector.toSeq), req.k, metric,
          Some(tie), distName = "distance")
    }
    val order = col("distance").asc_nulls_last +:
      spec.idColumn.map(c => col(c).asc).toSeq
    out.orderBy(order: _*).limit(req.k)
      .select((fields.map(col) :+ col("distance")): _*)
  }
}
