package graft.sources

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.UUID

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.streaming.IngestStream

/** HTTP ingest receiver — the reference's HTTP server surface
  * (server/.../TranquilityServlet.scala#doPost, SURVEY §3.2): POST
  * `/v1/post/{dataSource}` with a JSON-array or NDJSON body, reply
  * `{"result":{"received":N,"sent":M}}`.
  *
  * Spark-first shape: the socket handler does NO processing — it normalizes
  * the body to NDJSON and spools it atomically into the directory a
  * [[Sources.jsonFileStream]] ingest query tails. The streaming engine (one
  * logical plan, checkpointed) stays the only data path; the receiver is a
  * thin producer, so a fleet of receivers can feed one cluster-wide query —
  * the 100 TB story is "N stateless receivers → object store → one stream",
  * not per-socket pipelines.
  *
  * Reply semantics match the servlet: `async=true` returns immediately with
  * `sent=0` (fire-and-forget); the sync default drains the attached query and
  * reports the sent/dropped deltas observed by the engine's counters — the
  * reference's per-batch send() future wait.
  */
/** @param attach single attached ingest query (legacy/simple deployments)
  * @param routes per-dataSource ingest queries — the servlet's
  *   dataSource→beam routing (upstream TranquilityServlet resolves the URL
  *   path against its beam map): each routed dataSource's sync reply drains
  *   and reports ITS stream's counters; unrouted dataSources fall back to
  *   `attach`, else spool-only (fire-and-forget counters)
  * @param queryRoutes dataSource → fresh queryable DataFrame (must carry
  *   `__time`), enabling the broker-style `POST /druid/v2` endpoint: native
  *   query JSON in, JSON row array out (see [[handleQuery]]). Thunks, not
  *   frames — every query re-reads current store state.
  * @param sqlIngestRoot when set, `POST /druid/v2/sql` also accepts Druid's
  *   SQL ingestion statements (`INSERT INTO ds … PARTITIONED BY …` /
  *   `REPLACE INTO ds OVERWRITE ALL …`, the MSQ surface): the inner query
  *   routes against `queryRoutes` like any SELECT, segments land under
  *   `<root>/<ds>`, and the reply is the per-segment task report.
  */
/** @param storeRoots dataSource → segment-store directory for the routed
  *   streaming stores — feeds `sys.segments` on the SQL endpoint (the
  *   SQL-ingested stores under `sqlIngestRoot` are discovered there
  *   dynamically).
  */
final class HttpIngestServer(
    spoolDir: String,
    attach: Option[IngestStream] = None,
    routes: Map[String, IngestStream] = Map.empty,
    queryRoutes: Map[String, () => org.apache.spark.sql.DataFrame] = Map.empty,
    sqlIngestRoot: Option[String] = None,
    storeRoots: Map[String, String] = Map.empty,
    /** when set, `POST /druid/indexer/v1/task` accepts index/index_parallel
      * batch-ingestion tasks ([[IndexTask]]); their segment stores land
      * under `<root>/<ds>` and the dataSources become queryable through
      * the finalizing [[graft.sink.SegmentStore.read]] path. */
    indexTaskRoot: Option[String] = None) {

  private val mapper = new ObjectMapper
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  /** Serializes every control-plane STORE WRITE: index/kill/compact tasks
    * and SQL-ingestion statements. Concurrent same-dataSource writers would
    * otherwise race (two appends compute the same next __batch_id and the
    * second dynamic-partition overwrite silently drops the first's rows; a
    * compact swap can interleave a replace's delete — review finding r7).
    * One global lock, not per-dataSource: these are infrequent control
    * operations and an INSERT's target is only known after parsing; reads
    * and the /v1/post streaming path are untouched. */
  private val storeWriteLock = new Object
  /** queryId → Spark job group of an in-flight query (native or SQL), for
    * `DELETE /druid/v2/{queryId}` / `DELETE /druid/v2/sql/{sqlQueryId}`. */
  private val running = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Per routed dataSource: files this server spooled, and the spooled
    * count a finished drain of its stream covered. Starts at (1, 0), so the
    * first query after start-up still drains any backlog already in the
    * spool. */
  private final class SpoolCount {
    val spooled = new java.util.concurrent.atomic.AtomicLong(1L)
    val drained = new java.util.concurrent.atomic.AtomicLong(0L)
  }
  private val spoolCounts: Map[String, SpoolCount] =
    routes.map { case (ds, _) => ds -> new SpoolCount }
  @volatile private var server: Option[HttpServer] = None
  @volatile private var pool: Option[java.util.concurrent.ExecutorService] = None

  /** Bind (port 0 = ephemeral) and serve. Returns the bound port. */
  def start(port: Int = 0): Int = {
    val s = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    s.createContext("/v1/post", (ex: HttpExchange) => handle(ex))
    // queryables also resolve DYNAMICALLY (SQL-ingested stores under
    // sqlIngestRoot, task-ingested stores) — a server configured with only
    // those roots must still serve queries and INSERT INTO statements, not
    // 404 them (review finding r7: the old queryRoutes-only gate)
    if (queryRoutes.nonEmpty || sqlIngestRoot.isDefined || indexTaskRoot.isDefined) {
      s.createContext("/druid/v2", (ex: HttpExchange) => handleQuery(ex))
      // longest-prefix routing: /druid/v2/sql and /druid/v2/datasources win
      // over /druid/v2
      s.createContext("/druid/v2/sql", (ex: HttpExchange) => handleSql(ex))
      s.createContext("/druid/v2/datasources",
        (ex: HttpExchange) => handleDatasources(ex))
    }
    s.createContext("/status", (ex: HttpExchange) => handleStatus(ex))
    s.createContext("/lookups", (ex: HttpExchange) => handleLookups(ex))
    if (indexTaskRoot.isDefined) {
      s.createContext("/druid/indexer/v1/task",
        (ex: HttpExchange) => handleIndexer(ex))
      s.createContext("/druid/indexer/v1/sampler",
        (ex: HttpExchange) => handleSampler(ex))
      s.createContext("/druid/coordinator/v1/rules",
        (ex: HttpExchange) => handleRules(ex))
    }
    // without an executor the JDK server handles requests on ONE thread,
    // serializing posts across dataSources despite the per-ds locks
    val p = java.util.concurrent.Executors.newFixedThreadPool(8)
    s.setExecutor(p)
    s.start()
    server = Some(s)
    pool = Some(p)
    asyncPool = Some(java.util.concurrent.Executors.newFixedThreadPool(4,
      (r: Runnable) => {
        val t = new Thread(r, "graft-sql-statement"); t.setDaemon(true); t
      }))
    s.getAddress.getPort
  }

  def stop(): Unit = {
    server.foreach(_.stop(0)); server = None
    pool.foreach(_.shutdown()); pool = None
    // recreated by the next start() — a stop()/start() cycle must leave the
    // async statements API usable, not poisoned by a dead executor
    asyncPool.foreach(_.shutdownNow()); asyncPool = None
  }

  private def handle(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod != "POST") { reply(ex, 405, """{"error":"POST only"}"""); return }
      val dataSource = ex.getRequestURI.getPath.stripPrefix("/v1/post").stripPrefix("/")
      if (dataSource.isEmpty) { reply(ex, 404, """{"error":"missing dataSource"}"""); return }
      // the name becomes a spool PATH SEGMENT — a traversal like
      // '..%2F..%2Fetc' (URI.getPath percent-decodes) must never reach
      // Paths.get (review finding r7); same identifier alphabet as Druid
      // dataSource names, and the first char excludes '.' so '.'/'..'
      // cannot resolve upward. Names carrying an EXPLICIT route are
      // operator-configured (trusted) and were accepted before the check
      // existed — only the attacker-controllable unrouted fallback gates.
      if (!routes.contains(dataSource) &&
          !dataSource.matches("[A-Za-z0-9_\\-][A-Za-z0-9_.\\-]*")) {
        reply(ex, 400, s"""{"error":"invalid dataSource name"}"""); return
      }
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      val lines = try normalize(body) catch {
        case NonFatal(e) => reply(ex, 400, s"""{"error":${quote(e.getMessage)}}"""); return
      }
      val async = Option(ex.getRequestURI.getQuery).exists(_.contains("async=true"))
      val target = routes.get(dataSource).orElse(attach)
      // serialized PER target stream so sync counter deltas from concurrent
      // posts don't interleave — posts routed to DIFFERENT streams proceed
      // in parallel, but every dataSource falling back to the shared attach
      // stream serializes on ONE lock (they share its cumulative `sent`
      // counter; review finding r7). With NO attach stream there is no
      // shared counter — spool-only posts keep per-dataSource parallelism.
      val lockKey =
        if (routes.contains(dataSource) || attach.isEmpty) dataSource
        else "__attach__"
      val lock = locks.computeIfAbsent(lockKey, _ => new Object)
      val result = lock.synchronized {
        val sent0 = target.map(_.sent).getOrElse(0L)
        spool(dataSource, lines)
        if (async || target.isEmpty) (lines.size.toLong, 0L)
        else {
          val ingest = target.get
          if (routes.contains(dataSource)) drain(dataSource)
          else ingest.activeQuery.foreach(_.processAllAvailable())
          // the drain may also flush BACKLOG from earlier async posts; the
          // reply is per-request (servlet contract: sent ≤ received), so cap
          // — the cumulative engine counters report the backlog
          (lines.size.toLong, math.min(lines.size.toLong, ingest.sent - sent0))
        }
      }
      reply(ex, 200, s"""{"result":{"received":${result._1},"sent":${result._2}}}""")
    } catch {
      case NonFatal(e) => reply(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** Broker-style query endpoint (`POST /druid/v2`, the Druid broker's
    * native-query path): the body is a verbatim Druid query JSON, compiled
    * by [[graft.queries.DruidQueryCompiler]] against `queryRoutes`. The
    * response is a JSON array of row objects (timestamps ISO-8601) —
    * documented delta vs Druid's per-queryType result envelopes; the row
    * CONTENT matches the compiler's oracle-checked output.
    *
    * Read-your-writes: if the queried dataSource also has an ingest route
    * and this server spooled files for it since the last finished drain,
    * its stream drains before the store read ([[drain]]), so a query sees
    * every post (sync or async) that returned before it arrived — tighter
    * than upstream's handoff window. Files that reach the spool by other
    * means are visible after the stream's next trigger.
    * Result size is capped (`context.maxQueryRows`, default 10000) — a
    * query endpoint must never OOM the server on an unbounded scan.
    */
  private def handleQuery(ex: HttpExchange): Unit =
    try {
      val sub = ex.getRequestURI.getPath.stripPrefix("/druid/v2").stripPrefix("/")
      if (ex.getRequestMethod == "DELETE" && sub.nonEmpty) {
        handleCancel(ex, sub); return
      }
      if (ex.getRequestMethod != "POST") { reply(ex, 405, """{"error":"POST only"}"""); return }
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      try {
        val root = mapper.readTree(body)
        val cap = Option(root.get("context")).flatMap(c =>
          Option(c.get("maxQueryRows"))).map(_.asInt).getOrElse(10000)
        require(cap > 0, "context.maxQueryRows must be positive")
        val queryId = Option(root.get("context")).flatMap(c =>
          Option(c.get("queryId"))).map(_.asText)
          .getOrElse(UUID.randomUUID().toString)
        ex.getResponseHeaders.set("X-Druid-Query-Id", queryId)
        val timeoutMs = Option(root.get("context")).flatMap(c =>
          Option(c.get("timeout"))).map(_.asLong).getOrElse(0L)
        withJobGroup(queryId, timeoutMs) {
          val df = graft.queries.DruidQueryCompiler.compile(body, name => {
            drain(name)
            // routed streams first, then SQL-ingested / batch-task stores —
            // one namespace, same as the SQL endpoint's resolution
            val qs = allQueryables()
            qs.getOrElse(name, throw new IllegalArgumentException(
              s"unknown dataSource '$name' (queryable: ${qs.keys.toSeq.sorted.mkString(",")})"))()
          })
          // stream the row array: one partition in memory at a time (plus
          // the cap), like the SQL endpoint — never the whole result.
          // Scan queries ALWAYS get Druid's batched ScanResultValue
          // envelope — upstream defaults resultFormat to "list" when
          // absent, and clients parse that shape, so the wire format must
          // match even for default-configured requests.
          val scanFmt =
            if (Option(root.get("queryType")).map(_.asText).contains("scan"))
              Some(Option(root.get("resultFormat")).map(_.asText)
                .getOrElse("list"))
            else scala.None
          scanFmt match {
            case Some(fmt) =>
              val batchSize = Option(root.get("batchSize")).map(_.asInt)
                .getOrElse(20480)
              require(batchSize > 0, "batchSize must be positive")
              streamReply(ex, 200,
                scanEnvelopeWriter(df.limit(cap), fmt, batchSize))
            case scala.None
                if Option(root.get("queryType")).map(_.asText)
                  .contains("select") =>
              streamReply(ex, 200, selectEnvelopeWriter(df.limit(cap), root))
            case scala.None =>
              streamReply(ex, 200,
                renderSqlResultWriter(df.limit(cap), "object", header = false))
          }
        }
      } catch {
        case _: QueryTimedOut =>
          reply(ex, 504,
            """{"error":"Query timed out","errorClass":"QueryTimeoutException"}""")
          return
        case NonFatal(e) =>
          reply(ex, 400, s"""{"error":${quote(String.valueOf(e.getMessage))}}"""); return
      }
    } catch {
      case NonFatal(e) => reply(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** Druid SQL endpoint (`POST /druid/v2/sql`, body `{"query": "..."}`):
    * the statement parses to a logical plan and each table reference that
    * names a queryable dataSource is substituted with that dataSource's
    * plan DIRECTLY (a `SubqueryAlias` over the route's frame) — no temp
    * views, so concurrent requests never swap shared session state, nothing
    * persists across requests, and dataSource names only need to parse as
    * SQL identifiers, not be unique in some catalog. Druid's own default
    * `resultFormat` ("object": a JSON array of row objects) is exactly what
    * the native endpoint already emits, so both endpoints share the
    * envelope.
    *
    * The dialect is Spark SQL EXTENDED with Druid SQL's function surface
    * ([[graft.functions.DruidSqlFunctions]]: TIME_FLOOR, TIME_SHIFT,
    * APPROX_COUNT_DISTINCT_DS_HLL, MV_*, …), so common upstream queries run
    * verbatim; remaining dialect gaps are the same documented delta as
    * transformSpec / virtualColumns. Referenced ingest streams drain first
    * (read-your-writes); same `context.maxQueryRows` cap. A CTE named like
    * a queryable dataSource shadows it here as in Druid (substitution
    * rewrites only single-part names that resolve to routes; pick distinct
    * CTE names if both are needed).
    */
  /** dataSources created by SQL ingestion (`INSERT INTO …`) — the
    * sub-directories of `sqlIngestRoot`, discovered at query time so a
    * dataSource written one request ago is SELECTable now
    * (read-your-writes for the MSQ surface). */
  private def sqlStoreDirs(): Map[String, String] =
    sqlIngestRoot.toSeq.flatMap { root =>
      val p = new org.apache.hadoop.fs.Path(root)
      val fs = p.getFileSystem(
        org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).filter(_.isDirectory)
        // ._-prefixed dirs are internal (OVERWRITE ALL staging,
        // metadata sidecars) — never queryable dataSources
        .filterNot(st => st.getPath.getName.startsWith(".") ||
          st.getPath.getName.startsWith("_"))
        .map(st => st.getPath.getName -> st.getPath.toString).toSeq
    }.toMap

  /** Queryable dataSources: explicit routes plus SQL-ingested stores
    * (routes win a name collision — the namespaces are disjoint by
    * construction, but a stream's rollup must never be shadowed). */
  private def allQueryables(): Map[String, () => org.apache.spark.sql.DataFrame] =
    sqlStoreDirs().map { case (ds, dir) =>
      ds -> (() => org.apache.spark.sql.SparkSession.active.read.parquet(dir))
    } ++
      // batch-task stores read through the FINALIZING SegmentStore path
      // (per-batch partials re-merge; sketch/mean/first-last finalize) —
      // the same read path the streaming stores' routes use
      taskStores.asScala.toMap.map { case (ds, (dir, spec)) =>
        ds -> { () =>
          val spark = org.apache.spark.sql.SparkSession.active
          // a store whose every segment was dropped (kill / retention) has
          // no schema to read — a LOUD named error, not a parquet
          // inference failure (Druid: the dataSource vanishes)
          require(graft.sink.SegmentStore
              .listSegmentDirs(spark, dir).nonEmpty,
            s"dataSource '$ds' has no segments (all dropped by " +
              "kill/retention) — re-ingest before querying")
          graft.sink.SegmentStore.read(spark, dir, spec)
            .withColumnRenamed(graft.pipeline.Pipeline.TsCol, "__time")
        }
      } ++ queryRoutes

  /** Drain + substitute only the dataSources a statement references
    * (case-insensitive, like Spark identifier resolution). `allowEmpty` for
    * statements that read only metadata tables. */
  private def resolveFrames(referencedRaw: Set[String],
      allowEmpty: Boolean = false)
      : Map[String, org.apache.spark.sql.DataFrame] = {
    val referenced = referencedRaw.map(_.toLowerCase(java.util.Locale.ROOT))
    val frames = allQueryables()
      .filter { case (ds, _) =>
        referenced(ds.toLowerCase(java.util.Locale.ROOT)) }
      .map { case (ds, thunk) =>
        drain(ds)
        ds -> thunk()
      }
    // a statement that references NO table at all (SELECT 1 — the JDBC
    // health-check pattern, valid in Druid SQL) is self-contained and needs
    // no frames; only a statement whose references resolve to NOTHING is
    // the loud error (review finding r7)
    require(frames.nonEmpty || allowEmpty || referenced.isEmpty,
      "query references no known dataSource " +
        s"(queryable: ${allQueryables().keys.toSeq.sorted.mkString(",")})")
    frames
  }

  /** The SQL statement's context knobs, shared by the sync endpoint and the
    * async statements API. */
  private def sqlContext(root: com.fasterxml.jackson.databind.JsonNode)
      : (String, Long, Int) = {
    val cap = Option(root.get("context")).flatMap(c =>
      Option(c.get("maxQueryRows"))).map(_.asInt).getOrElse(10000)
    require(cap > 0, "context.maxQueryRows must be positive")
    val sqlQueryId = Option(root.get("context")).flatMap(c =>
      Option(c.get("sqlQueryId"))).map(_.asText)
      .getOrElse(UUID.randomUUID().toString)
    val timeoutMs = Option(root.get("context")).flatMap(c =>
      Option(c.get("timeout"))).map(_.asLong).getOrElse(0L)
    // Druid's context.sqlTimeZone re-zones EVERY time function; this
    // engine evaluates under the session timezone (UTC) — a non-UTC value
    // silently ignored would shift every bucket, so it is loud instead
    // (the explicit tz arguments on TIME_FLOOR/TIME_FORMAT/… cover the
    // same need per-expression)
    Option(root.get("context")).flatMap(c =>
      Option(c.get("sqlTimeZone"))).filterNot(_.isNull) // explicit null = unset
      .map(_.asText).foreach { tz =>
      val rules = (try java.time.ZoneId.of(tz) catch {
        case _: Exception => throw new IllegalArgumentException(
          s"unknown context.sqlTimeZone '$tz'")
      }).getRules
      require(rules.isFixedOffset && rules.getOffset(java.time.Instant.EPOCH) ==
        java.time.ZoneOffset.UTC,
        s"context.sqlTimeZone '$tz' is not supported — the engine " +
          "evaluates in the session timezone (UTC); use the timezone " +
          "arguments on TIME_FLOOR/TIME_FORMAT/TIME_PARSE instead")
    }
    (sqlQueryId, timeoutMs, cap)
  }

  private def handleSql(ex: HttpExchange): Unit =
    try {
      val sub = ex.getRequestURI.getPath.stripPrefix("/druid/v2/sql").stripPrefix("/")
      if (sub == "statements" || sub.startsWith("statements/")) {
        handleStatements(ex, sub.stripPrefix("statements").stripPrefix("/"))
        return
      }
      if (ex.getRequestMethod == "DELETE" && sub.nonEmpty) {
        handleCancel(ex, sub); return
      }
      if (ex.getRequestMethod != "POST" || sub.nonEmpty) {
        reply(ex, 405,
          """{"error":"POST /druid/v2/sql or DELETE /druid/v2/sql/{sqlQueryId}"}""")
        return
      }
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      var qid = ""
      try {
        val root = withSetStatements(mapper.readTree(body))
        val (sqlQueryId, timeoutMs, _) = sqlContext(root)
        qid = sqlQueryId
        ex.getResponseHeaders.set("X-Druid-SQL-Query-Id", sqlQueryId)
        // surface the one silent default divergence from upstream: Druid
        // defaults useApproximateCountDistinct=true, this engine defaults
        // to EXACT. Announced per-response whenever the client did not pick
        // a side, so result comparisons against Druid aren't mysterious.
        if (!Option(root.get("context")).exists(_.has("useApproximateCountDistinct")))
          ex.getResponseHeaders.set("X-Graft-Default-Delta",
            "useApproximateCountDistinct=false (upstream Druid defaults true)")
        // the streamed write runs INSIDE the job group: every job the
        // row-at-a-time iterator submits stays cancellable/timeout-bound
        withJobGroup(sqlQueryId, timeoutMs) {
          executeSql(root) match {
            case Inline(b)   => reply(ex, 200, b)
            case Streamed(w) => streamReply(ex, 200, w)
          }
        }
      } catch {
        case _: QueryTimedOut =>
          reply(ex, 504,
            s"""{"error":"Query timed out","errorClass":"QueryTimeoutException","queryId":${quote(qid)}}""")
          return
        case NonFatal(e) =>
          reply(ex, 400, s"""{"error":${quote(String.valueOf(e.getMessage))}}"""); return
      }
    } catch {
      case NonFatal(e) => reply(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** Druid 31 SET statements: leading `SET key = literal;` statements
    * ahead of the query merge into the request's context — SET WINS over
    * the body's context map (upstream precedence rule) — and the query
    * shrinks to the final statement, so every context read (timeout,
    * sqlQueryId, useApproximateCountDistinct, sqlTimeZone loudness,
    * maxQueryRows) sees them uniformly. Applied at BOTH endpoints before
    * [[sqlContext]] so a SET timeout bounds the job group like the
    * context-map form. */
  private def withSetStatements(root0: com.fasterxml.jackson.databind.JsonNode)
      : com.fasterxml.jackson.databind.JsonNode =
    Option(root0.get("query")).filterNot(_.isNull).map(_.asText)
      .map(graft.queries.DruidSql.extractSets) match {
      case Some((rest, kvs)) if kvs.nonEmpty =>
        val m = root0.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
        m.put("query", rest)
        val ctx = m.get("context") match {
          case o: com.fasterxml.jackson.databind.node.ObjectNode => o
          case _ => m.putObject("context")
        }
        kvs.foreach { case (k, v) =>
          ctx.set[com.fasterxml.jackson.databind.JsonNode](k, v) }
        m
      case _ => root0
    }

  /** Execute one parsed `{"query": …}` request body and render its result —
    * the full statement surface (EXPLAIN PLAN FOR, TABLE(EXTERN), INSERT/
    * REPLACE ingestion, metadata tables, resultFormat). Callers wrap in
    * [[withJobGroup]] (sync endpoint) or run it from the async statements
    * executor. */
  private def executeSql(root0: com.fasterxml.jackson.databind.JsonNode)
      : SqlResult = {
        // idempotent re-application (handlers already merged SET
        // statements; a stripped query has none left) keeps non-endpoint
        // callers correct too
        val root = withSetStatements(root0)
        val rawSql = Option(root.get("query")).map(_.asText).getOrElse(
          throw new IllegalArgumentException("""body must be {"query": "<sql>"}"""))
        // Druid's parameterized SQL: bind `?` placeholders from the
        // `parameters` array BEFORE any parsing (EXPLAIN, EXTERN, ingest
        // regexes all see the bound statement, like Druid's planner)
        val sqlText0 = Option(root.get("parameters"))
          .filterNot(_.isNull) match {
          case Some(ps) =>
            require(ps.isArray, "'parameters' must be a JSON array")
            graft.queries.DruidSql.bindParameters(rawSql,
              ps.elements().asScala.toSeq)
          case scala.None => rawSql
        }
        val cap = sqlContext(root)._3
        // Druid's plan-introspection statement: plan the inner query
        // without running it, reply with the plan + touched dataSources
        val explain = graft.queries.DruidSql.explainInner(sqlText0)
        val spark = org.apache.spark.sql.SparkSession.active
        // MSQ external input: TABLE(EXTERN(...)) references become
        // `__extern_N` relations backed by file-reading frames;
        // TABLE(APPEND('a','b')) becomes a `__append_N` union-by-name
        // over the named dataSources
        val (sqlTextE, externSpecs) =
          graft.queries.DruidSql.extractExterns(explain.getOrElse(sqlText0))
        val (sqlText, appendSpecs) =
          graft.queries.DruidSql.extractAppends(sqlTextE)
        lazy val externFrames = externSpecs.map { case (n, (a, b, c)) =>
          n -> graft.queries.DruidSql.externFrame(spark, a, b, c) }.toMap
        def appendFrames(resolved: Map[String, org.apache.spark.sql.DataFrame])
            : Map[String, org.apache.spark.sql.DataFrame] =
          appendSpecs.map { case (alias, names) =>
            alias -> graft.queries.DruidSql.appendFrame(names, resolved) }.toMap
        if (graft.queries.DruidSql.isIngest(sqlText)) {
          require(explain.isEmpty,
            "EXPLAIN PLAN FOR is not supported for ingestion statements")
          // SQL ingestion statement (MSQ surface): route the INNER query's
          // dataSources, write segments under the configured store root,
          // reply with the per-segment task report
          val storeRoot = sqlIngestRoot.getOrElse(throw new IllegalArgumentException(
            "SQL ingestion is not enabled on this server (no sqlIngestRoot)"))
          val inner = graft.queries.DruidSql.ingestInnerQuery(sqlText).get
          val resolved = resolveFrames(
            graft.queries.DruidSql.referencedTables(
              graft.queries.DruidSql.parse(inner))
              .filterNot(_.startsWith("__append_")) ++
              appendSpecs.flatMap(_._2),
            allowEmpty = externSpecs.nonEmpty)
          val frames = resolved ++ externFrames ++ appendFrames(resolved)
          // per-segment task report: rows bounded by segment count, inline.
          // context knobs apply to the INNER query too (a silently dropped
          // useApproximateCountDistinct would contradict the sqlTimeZone
          // loudness rationale)
          val approxCdIngest = Option(root.get("context")).flatMap(c =>
            Option(c.get("useApproximateCountDistinct"))).exists(_.asBoolean)
          // The inline collect is bounded BY CONSTRUCTION: one report row
          // per written segment. Enforce the bound rather than assume it —
          // a pathological segmentGranularity (e.g. second-granularity over
          // years) must fail loud, not OOM the server.
          val report = storeWriteLock.synchronized {
            graft.queries.DruidSql.ingest(sqlText, frames,
              storeRoot, approxCd = approxCdIngest)
              .toJSON.limit(100001).collect()
          }
          require(report.length <= 100000,
            "ingestion produced >100000 segments — segmentGranularity is " +
              "almost certainly too fine for the data's time range")
          Inline(report.mkString("[", ",", "]"))
        } else {
        // parse ONCE; drain + substitute only the dataSources the statement
        // references (case-insensitive, like Spark identifier resolution)
        val plan = graft.queries.DruidSql.parse(sqlText)
        // metadata tables (INFORMATION_SCHEMA.*, sys.segments) — built only
        // when referenced; unknown two-part names fall through to normal
        // (failing) resolution
        val metaFrames = graft.queries.DruidSql.referencedMeta(plan)
          .flatMap(p => graft.queries.DruidSql
            .metaFrame(spark, p, allQueryables(),
              storeRoots ++ sqlStoreDirs() ++
                taskStores.asScala.map { case (ds, (dir, _)) => ds -> dir },
              statements.values.asScala.toSeq
                .map(st => (st.id, "query_controller", st.datasource, st.state)) ++
                indexTasks.values.asScala.toSeq
                  .map(t => (t.id, t.taskType, t.datasource, t.state)),
              routes.toSeq.map { case (ds, ing) =>
                val active = ing.activeQuery.exists(_.isActive)
                (ds, if (active) "RUNNING" else "STOPPED", active)
              })
            .map(p -> _)).toMap
        val resolved = resolveFrames(
          graft.queries.DruidSql.referencedTables(plan)
            .filterNot(n => n.startsWith("__extern_") ||
              n.startsWith("__append_")) ++
            appendSpecs.flatMap(_._2),
          allowEmpty = metaFrames.nonEmpty || externSpecs.nonEmpty)
        val frames = resolved ++ externFrames ++ appendFrames(resolved)
        // Druid's useApproximateCountDistinct (upstream default TRUE): this
        // engine defaults to exact and approximates only on explicit request
        val approxCd = Option(root.get("context")).flatMap(c =>
          Option(c.get("useApproximateCountDistinct"))).exists(_.asBoolean)
        val df = graft.queries.DruidSql.runPlan(plan, frames, metaFrames,
          approxCountDistinct = approxCd)
        explain match {
          case Some(_) =>
            val planStr = df
              .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
              .queryExecution
              .explainString(org.apache.spark.sql.execution.SimpleMode)
            val resources = frames.keys.toSeq.sorted.map(ds =>
              s"""{"name":${quote(ds)},"type":"DATASOURCE"}""")
              .mkString("[", ",", "]")
            Inline(s"""[{"PLAN":${quote(planStr)},"RESOURCES":$resources}]""")
          case None =>
            Streamed(renderSqlResultWriter(df.limit(cap),
              Option(root.get("resultFormat")).map(_.asText).getOrElse("object"),
              Option(root.get("header")).exists(_.asBoolean),
              Option(root.get("typesHeader")).exists(_.asBoolean),
              Option(root.get("sqlTypesHeader")).exists(_.asBoolean)))
        }
        }
  }

  // ------------------------------------------------- async statements API

  /** One submitted async statement (the `/druid/v2/sql/statements` MSQ
    * API): lifecycle ACCEPTED → RUNNING → SUCCESS / FAILED / CANCELED. */
  private final class Statement(val id: String,
      /** ingest target dataSource; null for SELECT statements (sys.tasks) */
      val datasource: String,
      /** nonce'd Spark job group — assigned at submission so a DELETE landing
        * before the runner enters withJobGroup still pre-cancels the right
        * group (AndFutureJobs), and never a later statement reusing the id. */
      val group: String) {
    @volatile var state: String = "ACCEPTED"
    @volatile var result: Option[String] = None
    @volatile var error: Option[String] = None
    @volatile var cancelRequested: Boolean = false
  }

  private val statements =
    new java.util.concurrent.ConcurrentHashMap[String, Statement]()

  /** batch-ingestion task bookkeeping: id → (dataSource, status, errorMsg)
    * for `GET …/task/{id}/status` + sys.tasks; ds → (storeDir, spec) for
    * the queryable registry (reads go through SegmentStore.read, the
    * finalizing path the streaming stores use). */
  private final class IndexTaskState(val id: String, val datasource: String,
      val taskType: String = "index_parallel") {
    @volatile var state: String = "RUNNING"
    @volatile var error: Option[String] = None
    @volatile var rows: Long = 0L
  }
  private val indexTasks =
    new java.util.concurrent.ConcurrentHashMap[String, IndexTaskState]()
  private val taskStores = new java.util.concurrent.ConcurrentHashMap[
    String, (String, graft.config.IngestionSpec)]()

  /** stored per-dataSource rule arrays (verbatim JSON) for GET */
  private val retentionRules =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Druid coordinator retention rules
    * (`POST /druid/coordinator/v1/rules/{dataSource}` + GETs). Recognized
    * rule shapes, applied to TASK-ingested stores:
    *  - `[loadByPeriod(P), dropForever]` — the canonical keep-last-window
    *    pair → [[graft.sink.SegmentStore.applyRetention]] with
    *    keepFrom = now − P;
    *  - `[dropByInterval(i)]` → [[graft.sink.SegmentStore.killInterval]];
    *  - `[loadForever]` — keep everything (no-op).
    * Anything else is a loud 400 naming the supported shapes. DOCUMENTED
    * DELTA: rules apply ONCE at submission (the coordinator-cycle analog
    * collapsed to the submit) — resubmit to re-apply. */
  private def handleRules(ex: HttpExchange): Unit =
    try {
      val sub = ex.getRequestURI.getPath
        .stripPrefix("/druid/coordinator/v1/rules").stripPrefix("/")
      (ex.getRequestMethod, sub) match {
        case ("GET", "") =>
          val all = retentionRules.asScala.toSeq.sortBy(_._1)
            .map { case (ds, r) => s"${quote(ds)}:$r" }
          reply(ex, 200, all.mkString("{", ",", "}"))
        case ("GET", ds) =>
          reply(ex, 200, Option(retentionRules.get(ds)).getOrElse("[]"))
        case ("POST", ds) if ds.nonEmpty =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          try {
            val rules = mapper.readTree(body)
            require(rules != null && rules.isArray && rules.size > 0,
              "rules body must be a non-empty JSON array")
            val (dir, spec) = Option(taskStores.get(ds)).getOrElse(
              throw new IllegalArgumentException(
                s"rules apply to task-ingested dataSources " +
                  s"(have: ${taskStores.keySet().asScala.toSeq.sorted.mkString(",")})"))
            val spark = org.apache.spark.sql.SparkSession.active
            require(!graft.sink.SegmentStore.hasBucketLayout(spark, dir),
              s"dataSource '$ds' is a bucketed (hashed-compacted) store — " +
                "retention drops would leave its catalog partitions stale; " +
                "re-ingest or re-compact plain first")
            val types = rules.elements().asScala
              .map(r => Option(r.get("type")).map(_.asText).getOrElse("")).toSeq
            // rules-driven segment deletes are control-plane STORE WRITES —
            // they take the same lock as tasks/SQL ingestion (an unlocked
            // kill racing a compact swap could resurrect dropped segments;
            // review finding r7)
            val dropped: Seq[String] = storeWriteLock.synchronized { types match {
              case Seq("loadForever") => Nil
              case Seq("loadByPeriod", "dropForever") =>
                val period = Option(rules.get(0).get("period")).map(_.asText)
                  .getOrElse(throw new IllegalArgumentException(
                    "loadByPeriod rule needs a period"))
                // full ISO-8601 period (calendar and/or time part, e.g.
                // P7D, PT6H, P1DT12H): split at 'T', subtract each half in
                // the session zone's calendar
                val zdt = java.time.ZonedDateTime.now(
                  java.time.ZoneId.of(spark.conf.get(
                    "spark.sql.session.timeZone",
                    java.util.TimeZone.getDefault.getID)))
                val (datePart, timePart) = period.indexOf('T') match {
                  case -1 => (period, scala.None)
                  case i => (period.substring(0, i),
                    Some("PT" + period.substring(i + 1)))
                }
                val afterDate =
                  if (datePart == "P") zdt
                  else zdt.minus(java.time.Period.parse(datePart))
                val keepFrom = timePart
                  .map(t => afterDate.minus(java.time.Duration.parse(t)))
                  .getOrElse(afterDate).toInstant
                graft.sink.SegmentStore.applyRetention(spark, dir, spec,
                  java.sql.Timestamp.from(keepFrom))
              case Seq("dropByInterval") =>
                val iv = Option(rules.get(0).get("interval")).map(_.asText)
                  .getOrElse(throw new IllegalArgumentException(
                    "dropByInterval rule needs an interval"))
                val (lo, hi) = graft.time.Intervals.parse(iv)
                graft.sink.SegmentStore.killInterval(spark, dir, spec,
                  new java.sql.Timestamp(lo), new java.sql.Timestamp(hi))
              case other => throw new IllegalArgumentException(
                s"unsupported rule chain ${other.mkString("[", ",", "]")} — " +
                  "supported: [loadForever], [loadByPeriod, dropForever], " +
                  "[dropByInterval]")
            } }
            retentionRules.put(ds, rules.toString)
            reply(ex, 200, s"""{"dataSource":${quote(ds)},""" +
              s""""dropped":${dropped.map(quote).mkString("[", ",", "]")}}""")
          } catch {
            case NonFatal(e) =>
              reply(ex, 400, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
          }
        case (m, p) =>
          reply(ex, 405, s"""{"error":${quote(
            s"unsupported $m /druid/coordinator/v1/rules/$p")}}""")
      }
    } catch {
      case NonFatal(e) =>
        reply(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** `POST /druid/indexer/v1/sampler` — the console's spec-preview: runs
    * the pipeline over ≤ samplerConfig.numRows input rows, no segments
    * written ([[IndexTask.sample]]'s envelope subset). Errors are 400s
    * (the preview loop's contract — a bad spec is the expected case). */
  private def handleSampler(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod != "POST") {
        reply(ex, 405, """{"error":"POST a sampler spec"}"""); return
      }
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      try {
        val (read, indexed, rows) = IndexTask.sample(
          org.apache.spark.sql.SparkSession.active, body)
        val data = rows.map(r => s"""{"parsed":$r}""").mkString("[", ",", "]")
        reply(ex, 200,
          s"""{"numRowsRead":$read,"numRowsIndexed":$indexed,"data":$data}""")
      } catch {
        case NonFatal(e) =>
          reply(ex, 400, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
      }
    } catch {
      case NonFatal(e) =>
        reply(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** `POST /druid/indexer/v1/task` (index/index_parallel JSON task in,
    * `{"task": id}` out) + `GET …/task/{id}/status` (Druid's status
    * envelope). The task runs synchronously inside the submit — a
    * documented delta; the response shape and polling contract match
    * upstream. */
  private def handleIndexer(ex: HttpExchange): Unit =
    try {
      val sub = ex.getRequestURI.getPath
        .stripPrefix("/druid/indexer/v1/task").stripPrefix("/")
      (ex.getRequestMethod, sub) match {
        case ("POST", "") =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val id = s"index_graft_${java.util.UUID.randomUUID().toString.take(8)}"
          val spark = org.apache.spark.sql.SparkSession.active
          val root = mapper.readTree(body)
          val taskType = Option(root.get("type")).map(_.asText).getOrElse("")
          val st = try storeWriteLock.synchronized {
            taskType match {
              case "kill" =>
                // the coordinator kill-task analog: drop whole segment
                // chunks of a TASK-ingested store whose start falls in the
                // interval (SegmentStore.killInterval's whole-chunk rule)
                val ds = Option(root.get("dataSource")).map(_.asText)
                  .filter(_.nonEmpty).getOrElse(throw new IllegalArgumentException(
                    "kill task needs a dataSource"))
                val iv = Option(root.get("interval")).map(_.asText).getOrElse(
                  throw new IllegalArgumentException("kill task needs an interval"))
                val (dir, spec) = Option(taskStores.get(ds)).getOrElse(
                  throw new IllegalArgumentException(
                    s"kill task knows only task-ingested dataSources " +
                      s"(have: ${taskStores.keySet().asScala.toSeq.sorted.mkString(",")})"))
                require(!graft.sink.SegmentStore.hasBucketLayout(spark, dir),
                  s"dataSource '$ds' is a bucketed (hashed-compacted) " +
                    "store — its catalog partitions would go stale under a " +
                    "segment kill; re-ingest or re-compact plain first")
                val (lo, hi) = graft.time.Intervals.parse(iv)
                val killed = graft.sink.SegmentStore.killInterval(spark, dir,
                  spec, new java.sql.Timestamp(lo), new java.sql.Timestamp(hi))
                val s = new IndexTaskState(id, ds, "kill")
                s.state = "SUCCESS"; s.rows = killed.size.toLong
                s
              case "compact" =>
                // the coordinator compaction-task analog: per-batch partial
                // files of a task-ingested store merge into one zstd file
                // per segment (sketches stay binary, zone-map regenerated),
                // and the queryable registry flips to the compacted dir
                val ds = Option(root.get("dataSource")).map(_.asText)
                  .filter(_.nonEmpty).getOrElse(throw new IllegalArgumentException(
                    "compact task needs a dataSource"))
                val (dir, spec) = Option(taskStores.get(ds)).getOrElse(
                  throw new IllegalArgumentException(
                    s"compact task knows only task-ingested dataSources " +
                      s"(have: ${taskStores.keySet().asScala.toSeq.sorted.mkString(",")})"))
                // tuningConfig.partitionsSpec (Druid's hashed-partitions
                // compaction): partitionDimensions → bucket dims, numShards
                // → bucket count — the output is the BUCKETED at-rest
                // layout (zero-exchange joins/groupBys via readBucketed).
                // Absent → plain in-place compaction (stage-then-swap: the
                // dataSource keeps ONE canonical dir, so later index/kill/
                // retention tasks keep operating on the compacted store).
                val pspec = Option(root.get("tuningConfig"))
                  .flatMap(t => Option(t.get("partitionsSpec"))).map { ps =>
                    require(Option(ps.get("type")).map(_.asText)
                        .contains("hashed"),
                      "compact partitionsSpec supports type=hashed " +
                        "(partitionDimensions + numShards → bucketed layout)")
                    val dims = Option(ps.get("partitionDimensions")).toSeq
                      .flatMap(_.elements.asScala.map(_.asText))
                    require(dims.nonEmpty,
                      "hashed partitionsSpec needs partitionDimensions")
                    val shards = Option(ps.get("numShards")).map(_.asInt)
                      .getOrElse(throw new IllegalArgumentException(
                        "hashed partitionsSpec needs numShards"))
                    (dims, shards)
                  }
                val newDir = graft.sink.SegmentStore.compactTask(spark, dir,
                  spec, pspec, table = s"graft_task_$ds")
                taskStores.put(ds, (newDir, spec))
                val s = new IndexTaskState(id, ds, "compact")
                s.state = "SUCCESS"
                s.rows = graft.sink.SegmentStore.read(spark, newDir, spec).count()
                s
              case "index" | "index_parallel" =>
                val r = IndexTask.run(spark, body,
                  indexTaskRoot.getOrElse(throw new IllegalStateException(
                    "index task API not enabled")),
                  ds => Option(taskStores.get(ds)).map(_._1))
                val s = new IndexTaskState(id, r.dataSource)
                s.state = "SUCCESS"; s.rows = r.rowsIngested
                taskStores.put(r.dataSource, (r.storeDir, r.spec))
                s
              case other => throw new IllegalArgumentException(
                s"unsupported task type '$other' (index/index_parallel/" +
                  "kill/compact; streaming supervisors attach as server " +
                  "routes, SQL ingestion via INSERT INTO)")
            }
          } catch {
            case NonFatal(e) =>
              val s = new IndexTaskState(id, null,
                if (taskType.nonEmpty) taskType else "unknown")
              s.state = "FAILED"; s.error = Some(String.valueOf(e.getMessage))
              s
          }
          indexTasks.put(id, st)
          // Druid replies 200 with the task id; failures surface via status
          reply(ex, 200, s"""{"task":${quote(id)}}""")
        // `GET /druid/indexer/v1/tasks` — the JDK context on …/task
        // prefix-matches the plural path with remainder "s"
        case ("GET", "s") =>
          val rows = indexTasks.values.asScala.toSeq.sortBy(_.id).map { t =>
            s"""{"id":${quote(t.id)},"type":${quote(t.taskType)},""" +
              s""""status":${quote(t.state)},""" +
              s""""dataSource":${quote(String.valueOf(t.datasource))}}"""
          }
          reply(ex, 200, rows.mkString("[", ",", "]"))
        case ("GET", path) if path.endsWith("/status") =>
          val id = path.stripSuffix("/status").stripSuffix("/")
          Option(indexTasks.get(id)) match {
            case Some(st) =>
              val err = st.error.map(quote).getOrElse("null")
              reply(ex, 200,
                s"""{"task":${quote(id)},"status":{"id":${quote(id)},""" +
                  s""""type":${quote(st.taskType)},"status":${quote(st.state)},""" +
                  s""""dataSource":${quote(String.valueOf(st.datasource))},""" +
                  s""""rowsProcessed":${st.rows},"errorMsg":$err}}""")
            case scala.None =>
              reply(ex, 404, s"""{"error":${quote(s"no such task '$id'")}}""")
          }
        case (m, p) =>
          reply(ex, 405, s"""{"error":${quote(
            s"unsupported $m /druid/indexer/v1/task/$p — POST a task or " +
              "GET {id}/status")}}""")
      }
    } catch {
      case NonFatal(e) =>
        reply(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** created in start(), torn down in stop() — see stop()'s restart note. */
  @volatile private var asyncPool: Option[java.util.concurrent.ExecutorService] = None

  /** Druid's asynchronous SQL statements API (`/druid/v2/sql/statements`,
    * the MSQ query surface): POST submits and returns 202 immediately with
    * `{queryId, state: ACCEPTED}`; `GET /{id}` polls the status envelope;
    * `GET /{id}/results` fetches the rendered rows once SUCCESS (404 while
    * incomplete, 400 for failed); `DELETE /{id}` cancels via the same job
    * group as the sync endpoint → CANCELED. The statement body is the same
    * as the sync endpoint's (full surface: ingestion, EXTERN, EXPLAIN,
    * resultFormat); `context.timeout` applies per statement. Finished
    * statements stay queryable for the server's lifetime (Druid parks
    * results in deep storage; the in-memory analog is documented). */
  private def handleStatements(ex: HttpExchange, rest: String): Unit =
    try {
      (ex.getRequestMethod, rest.split("/").toList.filter(_.nonEmpty)) match {
        case ("POST", Nil) =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val (root, id, timeoutMs) = try {
            val r0 = mapper.readTree(body)
            require(r0 != null && r0.has("query"),
              """body must be {"query": "<sql>"}""")
            val r = withSetStatements(r0)
            val (id0, t0, _) = sqlContext(r)
            (r, id0, t0)
          } catch {
            case NonFatal(e) =>
              reply(ex, 400, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
              return
          }
          val st = new Statement(id,
            Option(root.get("query")).map(_.asText)
              .flatMap(graft.queries.DruidSql.ingestTarget).orNull,
            newJobGroup(id))
          if (statements.putIfAbsent(id, st) != null) {
            reply(ex, 400,
              s"""{"error":${quote(s"statement id '$id' already exists")}}""")
            return
          }
          // a failed submit (server stopping, rejected execution) must not
          // strand the id in ACCEPTED forever — the entry would block every
          // retry with "already exists" while nothing ever runs it
          val runner = try asyncPool.getOrElse(
            throw new IllegalStateException("server not started"))
          catch { case NonFatal(e) => statements.remove(id); throw e }
          try runner.execute(new Runnable {
            override def run(): Unit = {
              st.state = "RUNNING"
              try {
                val r = withJobGroup(id, timeoutMs, Some(st.group)) {
                  executeSql(root) match {
                    case Inline(b) => b
                    // async results are parked in memory until fetched (the
                    // deep-storage analog, documented on handleStatements);
                    // bounded by the statement's maxQueryRows cap
                    case Streamed(w) =>
                      val bos = new java.io.ByteArrayOutputStream()
                      w(bos)
                      bos.toString(UTF_8)
                  }
                }
                st.result = Some(r)
                st.state = if (st.cancelRequested) "CANCELED" else "SUCCESS"
              } catch {
                case _: QueryTimedOut =>
                  st.error = Some("Query timed out"); st.state = "FAILED"
                case NonFatal(e) =>
                  if (st.cancelRequested) st.state = "CANCELED"
                  else {
                    st.error = Some(String.valueOf(e.getMessage))
                    st.state = "FAILED"
                  }
              }
            }
          })
          catch { case NonFatal(e) => statements.remove(id); throw e }
          ex.getResponseHeaders.set("X-Druid-SQL-Query-Id", id)
          reply(ex, 202, s"""{"queryId":${quote(id)},"state":"ACCEPTED"}""")
        case ("GET", List(id)) =>
          Option(statements.get(id)) match {
            case None =>
              reply(ex, 404, s"""{"error":${quote(s"unknown statement '$id'")}}""")
            case Some(st) =>
              val err = st.error.map(e => s""","errorDetails":${quote(e)}""").getOrElse("")
              reply(ex, 200,
                s"""{"queryId":${quote(id)},"state":"${st.state}"$err}""")
          }
        case ("GET", List(id, "results")) =>
          Option(statements.get(id)) match {
            case None =>
              reply(ex, 404, s"""{"error":${quote(s"unknown statement '$id'")}}""")
            case Some(st) => st.state match {
              case "SUCCESS" => reply(ex, 200, st.result.getOrElse("[]"))
              case "FAILED" => reply(ex, 400,
                s"""{"error":${quote(st.error.getOrElse("statement failed"))}}""")
              case other => reply(ex, 404,
                s"""{"error":${quote(s"statement is $other — no results yet")}}""")
            }
          }
        case ("DELETE", List(id)) =>
          Option(statements.get(id)) match {
            case None =>
              reply(ex, 404, s"""{"error":${quote(s"unknown statement '$id'")}}""")
            case Some(st) =>
              if (st.state == "ACCEPTED" || st.state == "RUNNING") {
                st.cancelRequested = true
                // the statement's OWN nonce'd group: cancel-then-retry with a
                // reused id (legal in Druid) must never kill the retry's jobs;
                // AndFutureJobs also covers the not-yet-submitted window
                org.apache.spark.sql.SparkSession.active.sparkContext
                  .cancelJobGroupAndFutureJobs(st.group)
              }
              reply(ex, 202, s"""{"queryId":${quote(id)},"state":"${st.state}"}""")
          }
        case _ => reply(ex, 405,
          """{"error":"POST /druid/v2/sql/statements, GET|DELETE /druid/v2/sql/statements/{id}, GET /druid/v2/sql/statements/{id}/results"}""")
      }
    } catch {
      case NonFatal(e) => reply(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** toJSON row → positional JsonNode values in `cols` order (fields
    * `toJSON` omitted — nulls — become explicit NullNodes: positional
    * output cannot skip columns). Shared by the SQL and scan writers. */
  private def positionalValues(cols: Seq[String], row: String)
      : Seq[com.fasterxml.jackson.databind.JsonNode] = {
    val n = mapper.readTree(row)
    cols.map(c => Option(n.get(c)).getOrElse(
      com.fasterxml.jackson.databind.node.NullNode.getInstance()))
  }

  /** A handler result: either a small body rendered in memory (task
    * reports, EXPLAIN envelopes) or a row-at-a-time streamed SELECT result
    * — the sync endpoints chunk the latter straight to the socket; the
    * async statements API materializes it (cap-bounded) for later fetch. */
  private sealed trait SqlResult
  private final case class Inline(body: String) extends SqlResult
  private final case class Streamed(write: java.io.OutputStream => Unit)
    extends SqlResult

  /** Druid SQL `resultFormat` rendering, streamed: `object` (default — JSON
    * array of row objects), `objectLines` (NDJSON), `array`/`arrayLines`
    * (positional value arrays; `header:true` prepends the column-name row),
    * `csv` (RFC-ish quoting, header row when asked, null → empty field —
    * the Druid convention). Positional formats re-parse the object rows so
    * every value keeps the exact JSON rendering `toJSON` produced
    * (timestamps ISO, numbers unquoted); fields `toJSON` omitted (nulls)
    * become explicit JSON nulls — positional output cannot skip columns.
    *
    * `typesHeader` / `sqlTypesHeader` (Druid 0.23+ API): extra header rows
    * with Druid type names (LONG/DOUBLE/STRING/COMPLEX/ARRAY<…>) and SQL
    * type names, in Druid's row order names→types→sqlTypes; both REQUIRE
    * `header:true`, loudly. For the object formats `header:true` prepends
    * Druid's header object — column → null, or → {"type","sqlType"} when
    * the flags ask for them.
    *
    * Rows flow through `toLocalIterator`: the broker holds ONE partition of
    * rendered rows at a time, never the result set — the upstream analog is
    * the Druid broker's streamed result sequences (tranquility's servlet
    * likewise streams its request parse, server/.../TranquilityServlet
    * .scala). Analysis and partition 0 are forced EAGERLY (before any
    * response byte), so planning and first-partition execution errors still
    * map to clean 400/504s; only a mid-stream failure truncates. */
  private def renderSqlResultWriter(df: org.apache.spark.sql.DataFrame,
      format: String, header: Boolean, typesHeader: Boolean = false,
      sqlTypesHeader: Boolean = false): java.io.OutputStream => Unit = {
    val cols = df.columns.toSeq // forces analysis before the status commits
    require(Set("object", "objectLines", "array", "arrayLines", "csv")(format),
      s"unsupported resultFormat '$format' " +
        "(object/objectLines/array/arrayLines/csv)")
    require(header || (!typesHeader && !sqlTypesHeader),
      "typesHeader/sqlTypesHeader require header:true")
    // Druid's column-type names for the engine's column model: Druid stores
    // booleans and timestamps as LONG; arrays keep their element type;
    // sketches and anything else report COMPLEX
    def druidType(dt: org.apache.spark.sql.types.DataType): String = {
      import org.apache.spark.sql.types._
      dt match {
        case ByteType | ShortType | IntegerType | LongType | BooleanType |
             TimestampType | DateType => "LONG"
        case FloatType => "FLOAT"
        case DoubleType | _: DecimalType => "DOUBLE"
        case StringType => "STRING"
        case ArrayType(e, _) => s"ARRAY<${druidType(e)}>"
        case _ => "COMPLEX"
      }
    }
    def sqlType(dt: org.apache.spark.sql.types.DataType): String = {
      import org.apache.spark.sql.types._
      dt match {
        case ByteType | ShortType | IntegerType | LongType => "BIGINT"
        case BooleanType => "BOOLEAN"
        case TimestampType => "TIMESTAMP"
        case DateType => "DATE"
        case FloatType => "FLOAT"
        case DoubleType | _: DecimalType => "DOUBLE"
        case StringType => "VARCHAR"
        case _: ArrayType => "ARRAY"
        case _ => "OTHER"
      }
    }
    val types = df.schema.fields.map(f => druidType(f.dataType)).toSeq
    val sqlTypes = df.schema.fields.map(f => sqlType(f.dataType)).toSeq
    val it = df.toJSON.toLocalIterator()
    it.hasNext // run partition 0 now: its errors become a 400, not a torn 200
    def positional(row: String): Seq[com.fasterxml.jackson.databind.JsonNode] =
      positionalValues(cols, row)
    def csvField(n: com.fasterxml.jackson.databind.JsonNode): String =
      if (n.isNull) ""
      else {
        val s = if (n.isTextual) n.asText else n.toString
        if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
          "\"" + s.replace("\"", "\"\"") + "\""
        else s
      }
    out => {
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, UTF_8))
      var first = true
      def emit(sep: String, s: String): Unit = {
        if (!first) w.write(sep)
        w.write(s); first = false
      }
      // header block in Druid's order: names, then types, then sqlTypes
      def headerRows(render: Seq[String] => String): Seq[String] = {
        val rows = Seq.newBuilder[String]
        if (header) {
          rows += render(cols)
          if (typesHeader) rows += render(types)
          if (sqlTypesHeader) rows += render(sqlTypes)
        }
        rows.result()
      }
      // object-format header row: column → null, or → the type envelope
      def objectHeader: String =
        cols.indices.map { i =>
          val v =
            if (!typesHeader && !sqlTypesHeader) "null"
            else {
              val fields = (if (typesHeader)
                Seq(s""""type":${quote(types(i))}""") else Nil) ++
                (if (sqlTypesHeader)
                  Seq(s""""sqlType":${quote(sqlTypes(i))}""") else Nil)
              fields.mkString("{", ",", "}")
            }
          s"${quote(cols(i))}:$v"
        }.mkString("{", ",", "}")
      format match {
        case "object" =>
          w.write("[")
          if (header) emit(",", objectHeader)
          while (it.hasNext) emit(",", it.next())
          w.write("]")
        case "objectLines" =>
          if (header) emit("\n", objectHeader)
          while (it.hasNext) emit("\n", it.next())
        case "array" =>
          w.write("[")
          headerRows(_.map(quote).mkString("[", ",", "]"))
            .foreach(emit(",", _))
          while (it.hasNext)
            emit(",", positional(it.next()).map(_.toString).mkString("[", ",", "]"))
          w.write("]")
        case "arrayLines" =>
          headerRows(_.map(quote).mkString("[", ",", "]"))
            .foreach(emit("\n", _))
          while (it.hasNext)
            emit("\n", positional(it.next()).map(_.toString).mkString("[", ",", "]"))
        case "csv" =>
          headerRows(_.mkString(",")).foreach(emit("\n", _))
          while (it.hasNext)
            emit("\n", positional(it.next()).map(csvField).mkString(","))
      }
      w.flush()
    }
  }

  /** Druid's batched SCAN result envelope (`resultFormat` on the scan query
    * body — `list`: events as row objects; `compactedList`: positional
    * value arrays in `columns` order): rows stream in `batchSize` groups,
    * each batch `{"segmentId": …, "columns": […], "events": […]}`. The
    * engine reads a merged store view, so segmentId is the synthetic
    * per-response batch id (documented delta — Druid names the backing
    * segment; clients treat it as an opaque grouping key). Same
    * toLocalIterator memory contract as [[renderSqlResultWriter]]. */
  private def scanEnvelopeWriter(df: org.apache.spark.sql.DataFrame,
      format: String, batchSize: Int): java.io.OutputStream => Unit = {
    val cols = df.columns.toSeq // forces analysis before the status commits
    require(Set("list", "compactedList")(format),
      s"unsupported scan resultFormat '$format' (list/compactedList)")
    val it = df.toJSON.toLocalIterator()
    it.hasNext // partition-0 errors → clean 400, never a torn 200
    val colsJson = cols.map(quote).mkString("[", ",", "]")
    def positional(row: String): String =
      positionalValues(cols, row).map(_.toString).mkString("[", ",", "]")
    out => {
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, UTF_8))
      w.write("[")
      var batch = 0
      while (it.hasNext) {
        if (batch > 0) w.write(",")
        w.write(s"""{"segmentId":${quote(s"graft_batch_$batch")},""")
        w.write(s""""columns":$colsJson,"events":[""")
        var inBatch = 0
        while (it.hasNext && inBatch < batchSize) {
          if (inBatch > 0) w.write(",")
          val row = it.next()
          w.write(if (format == "list") row else positional(row))
          inBatch += 1
        }
        w.write("]}")
        batch += 1
      }
      w.write("]")
      w.flush()
    }
  }

  /** The legacy SELECT result envelope (pre-0.17 upstream wire shape,
    * `SelectResultValue`): one entry whose result carries the
    * `pagingIdentifiers` a client feeds back for the next page (last
    * offset seen per segment in scan direction, `fromNext` semantics —
    * matching the compiler's resume default), the echoed
    * dimensions/metrics, and `events` as `{segmentId, offset, event}`
    * wrappers with the row's `__time` rendered as the event `timestamp`.
    * The entry-level timestamp is the first returned event's time (null
    * on an empty page) — granularity is 'all' by the compiler's contract,
    * so there is no bucket start to name.
    * Unlike scan this BUFFERS the page — bounded by the query's own
    * `pagingSpec.threshold` (the compiler caps the frame), so the memory
    * contract is the client's page size, not the result size. */
  private def selectEnvelopeWriter(df: org.apache.spark.sql.DataFrame,
      root: com.fasterxml.jackson.databind.JsonNode):
      java.io.OutputStream => Unit = {
    val rows = df.toJSON.collect() // page-sized: threshold-capped upstreamly
    val events = rows.map(mapper.readTree(_)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode])
    val pagingIds = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    events.foreach(e => pagingIds(e.get("segmentId").asText) =
      e.get("offset").asLong)
    def arr(key: String): String =
      Option(root.get(key)).map(_.toString).getOrElse("[]")
    out => {
      val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(out, UTF_8))
      val ts = events.headOption.flatMap(e => Option(e.get("__time")))
        .map(_.toString).getOrElse("null")
      w.write(s"""[{"timestamp":$ts,"result":{"pagingIdentifiers":{""")
      w.write(pagingIds.map { case (s, o) => s"${quote(s)}:$o" }.mkString(","))
      w.write(s"""},"dimensions":${arr("dimensions")},""")
      w.write(s""""metrics":${arr("metrics")},"events":[""")
      events.zipWithIndex.foreach { case (e, i) =>
        if (i > 0) w.write(",")
        val seg = quote(e.get("segmentId").asText)
        val off = e.get("offset").asLong
        e.remove("segmentId"); e.remove("offset")
        val t = e.remove("__time")
        if (t != null)
          e.set[com.fasterxml.jackson.databind.JsonNode]("timestamp", t)
        w.write(s"""{"segmentId":$seg,"offset":$off,"event":${e.toString}}""")
      }
      w.write("]}}]")
      w.flush()
    }
  }

  /** Chunked response (length 0 = JDK chunked encoding): bytes leave as rows
    * render. Once the status is committed a mid-stream failure (timeout,
    * cancel, lost executor) can only TRUNCATE the body, never re-signal —
    * the same contract as Druid's streamed broker results; eager partition-0
    * forcing in [[renderSqlResultWriter]] keeps that window small. */
  private def streamReply(ex: HttpExchange, code: Int,
      write: java.io.OutputStream => Unit): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, 0)
    val os = ex.getResponseBody
    try write(os) catch { case NonFatal(_) => () } finally os.close()
  }

  /** Thrown (after translation in [[withJobGroup]]) when a request died
    * because ITS `context.timeout` fired — the handlers map it to 504 with
    * Druid's QueryTimeoutException envelope, distinct from the 400 an
    * explicit DELETE produces. */
  private final class QueryTimedOut extends RuntimeException("Query timed out")

  private val timeoutScheduler = {
    val t = java.util.concurrent.Executors.newSingleThreadScheduledExecutor(
      (r: Runnable) => {
        val th = new Thread(r, "graft-query-timeout"); th.setDaemon(true); th
      })
    t
  }
  /** ids whose timeout fired (cleared when the request unwinds). */
  private val timedOut =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Nonce suffix for job-group names: Spark remembers a group name passed to
    * cancelJobGroupAndFutureJobs for the SparkContext's LIFETIME, so a bare
    * `graft-query-$id` group would make cancel-then-retry with a reused
    * external id (legal in Druid) silently kill every job of the retried
    * query. The external id stays stable (headers, `running` map, sys
    * tables); only the Spark-side group is unique per request. */
  private val groupNonce = new java.util.concurrent.atomic.AtomicLong()
  private def newJobGroup(id: String): String =
    s"graft-query-$id-${groupNonce.incrementAndGet()}"

  /** Run `body` under a per-request Spark job group so `DELETE` with the
    * query id can cancel every job the request launches
    * (`interruptOnCancel` — running tasks are interrupted, not just queued
    * ones). Always set AND cleared: the server's pool threads are reused,
    * and a lingering thread-local group would let a later cancel kill an
    * unrelated request's jobs. `timeoutMs > 0` (Druid's `context.timeout`)
    * schedules a group cancel; a body failure after the deadline fired
    * surfaces as [[QueryTimedOut]]. `groupOverride` lets the async
    * statements API pin the group it already published for pre-cancel. */
  private def withJobGroup[A](id: String, timeoutMs: Long = 0L,
      groupOverride: Option[String] = None)(body: => A): A = {
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val group = groupOverride.getOrElse(newJobGroup(id))
    sc.setJobGroup(group, s"druid query $id", interruptOnCancel = true)
    running.put(id, group)
    // per-request monitor: the timeout runnable and the finally block
    // mutate `timedOut` under it, so a timeout firing at the same instant
    // the body completes cannot add the (nonce'd, never-reused) group AFTER
    // the finally removed it — an unsynchronized late add would leak the
    // entry forever on a long-lived server (review finding r7)
    val monitor = new Object
    var completed = false
    val deadline =
      if (timeoutMs <= 0) None
      else Some(timeoutScheduler.schedule(new Runnable {
        override def run(): Unit = monitor.synchronized {
          if (!completed) {
            // keyed by GROUP (unique per run), not the client-supplied id —
            // two in-flight queries reusing an id must not cross-contaminate
            // each other's timeout classification (review finding r7)
            timedOut.add(group)
            sc.cancelJobGroupAndFutureJobs(group)
          }
        }
      }, timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS))
    try body
    catch {
      case NonFatal(e) =>
        if (timedOut.contains(group)) throw new QueryTimedOut else throw e
    } finally {
      deadline.foreach(_.cancel(false))
      monitor.synchronized {
        completed = true
        // conditional remove: when a second query reused this id, `running`
        // now maps it to THAT query's group — an unconditional remove would
        // silently break its cancellation endpoint
        running.remove(id, group); timedOut.remove(group)
      }
      sc.clearJobGroup()
    }
  }

  /** Query cancellation (`DELETE /druid/v2/{queryId}`, `DELETE
    * /druid/v2/sql/{sqlQueryId}` — the Druid broker's cancellation API):
    * cancels the Spark job group of the in-flight query with that id. The
    * cancelled request itself replies 400 with the cancellation error;
    * this endpoint replies 202 (accepted) like Druid, or 404 when no
    * in-flight query carries the id — cancellation of a finished query is
    * not an error in Druid, but an UNKNOWN id never ran here. */
  private def handleCancel(ex: HttpExchange, id: String): Unit =
    Option(running.get(id)) match {
      case Some(group) =>
        // AndFutureJobs: a cancel landing while the statement is still
        // PLANNING (no jobs submitted yet) must also kill the jobs it is
        // about to submit — plain cancelJobGroup only hits active ones
        org.apache.spark.sql.SparkSession.active.sparkContext
          .cancelJobGroupAndFutureJobs(group)
        reply(ex, 202, s"""{"result":${quote(s"cancelled $id")}}""")
      case None =>
        reply(ex, 404, s"""{"error":${quote(s"no in-flight query with id '$id'")}}""")
    }

  /** Broker metadata endpoints (the Druid broker's dataSource-introspection
    * API): `GET /druid/v2/datasources` lists queryable dataSource names
    * (explicit routes + SQL-ingested stores, same namespace the query
    * endpoints resolve); `GET /druid/v2/datasources/{ds}` replies
    * `{"dimensions":[…],"metrics":[…]}` (Druid's envelope), and the
    * `/dimensions` and `/metrics` sub-paths reply the bare arrays.
    * Classification follows the engine's column model: `__time` is neither;
    * string and array-of-string columns are dimensions; numeric columns are
    * metrics (binary sketch columns report as metrics too — they ARE
    * aggregator outputs). Unknown dataSource → 404, like the broker.
    */
  private def handleDatasources(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod != "GET") { reply(ex, 405, """{"error":"GET only"}"""); return }
      val rest = ex.getRequestURI.getPath
        .stripPrefix("/druid/v2/datasources").stripPrefix("/")
      if (rest.isEmpty) {
        reply(ex, 200,
          allQueryables().keys.toSeq.sorted.map(quote).mkString("[", ",", "]"))
        return
      }
      val parts = rest.split("/").toSeq
      val ds = parts.head
      allQueryables().get(ds) match {
        case None =>
          reply(ex, 404, s"""{"error":${quote(s"unknown dataSource '$ds'")}}""")
        case Some(thunk) =>
          drain(ds)
          val schema = thunk().schema
          import org.apache.spark.sql.types._
          def isDim(f: StructField) = f.dataType match {
            case StringType | ArrayType(StringType, _) => true
            case _ => false
          }
          // hide the event-time column and — for routed streaming stores
          // only — the spec's raw-time alias `__time` was derived from; a
          // dataSource with a column that merely happens to be NAMED like a
          // time alias keeps reporting it
          val rawTimeAlias = routes.get(ds)
            .map(_.pipeline.spec.dataSchema.timestampSpec.column)
          val (dims, metrics) = schema.fields.toSeq
            .filterNot(_.name == "__time")
            .filterNot(f => rawTimeAlias.contains(f.name))
            .partition(isDim)
          def arr(fs: Seq[StructField]) =
            fs.map(f => quote(f.name)).mkString("[", ",", "]")
          parts.tail match {
            case Seq() => reply(ex, 200,
              s"""{"dimensions":${arr(dims)},"metrics":${arr(metrics)}}""")
            case Seq("dimensions") => reply(ex, 200, arr(dims))
            case Seq("metrics")    => reply(ex, 200, arr(metrics))
            case _ => reply(ex, 404,
              """{"error":"GET /druid/v2/datasources[/{ds}[/dimensions|/metrics]]"}""")
          }
      }
    } catch {
      case NonFatal(e) => reply(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** Health/metrics endpoint (`GET /status`): per-dataSource cumulative
    * engine counters — the same received/sent/dropped invariant the sync
    * POST replies report per request, here as process totals (upstream
    * tranquility-server's status surface).
    */
  private def handleStatus(ex: HttpExchange): Unit =
    try {
      if (ex.getRequestMethod != "GET") { reply(ex, 405, """{"error":"GET only"}"""); return }
      val all = routes ++ attach.map("_attached" -> _).toMap
      val per = all.toSeq.sortBy { case (ds, _) => ds }.map { case (ds, s) =>
        s"""${quote(ds)}:{"received":${s.received},"sent":${s.sent},"dropped":${s.dropped}}"""
      }
      reply(ex, 200, per.mkString("""{"dataSources":{""", ",", "}}"))
    } catch {
      case NonFatal(e) => reply(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** Lookup lifecycle endpoints (the Druid coordinator lookup-update API
    * analog): `POST /lookups/{name}` with a JSON object body registers or
    * REPLACES the named lookup (version bump — queries compiled afterwards
    * see the new mapping, including `LOOKUP()` on `/druid/v2/sql` and
    * `registeredLookup` extractionFns on `/druid/v2`); `DELETE
    * /lookups/{name}` unregisters; `GET /lookups` lists names with sizes
    * and versions.
    */
  private def handleLookups(ex: HttpExchange): Unit =
    try {
      val name = ex.getRequestURI.getPath.stripPrefix("/lookups").stripPrefix("/")
      (ex.getRequestMethod, name) match {
        case ("GET", "") =>
          val rows = graft.queries.Lookups.names.map { n =>
            val e = graft.queries.Lookups.entry(n).get
            s"${quote(n)}:{\"entries\":${e.mapping.size},\"version\":${e.version}}"
          }
          reply(ex, 200, rows.mkString("""{"lookups":{""", ",", "}}"))
        case ("POST", n) if n.nonEmpty =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val root = try mapper.readTree(body) catch {
            case NonFatal(e) =>
              reply(ex, 400, s"""{"error":${quote(e.getMessage)}}"""); return
          }
          if (root == null || !root.isObject) {
            reply(ex, 400, """{"error":"body must be a JSON object of key->value strings"}""")
            return
          }
          // Druid coordinator envelope: {"version": …,
          // "lookupExtractorFactory": {"type": "map", "map": {…}}} — unwrap
          // to the inner map. Type "cachedNamespace" with a `uri` (file-
          // backed) or `jdbc` (Spark JDBC source) extractionNamespace loads
          // through [[graft.queries.Lookups.pollNamespace]] (one POST = one
          // coordinator poll; re-POST re-polls + version-bumps — except a
          // jdbc tsColumn freshness skip, which keeps the current version
          // and says so). kafka loaders stay a loud error, never a
          // silently registered empty lookup. The bare key→value object
          // body keeps working (the engine's native form).
          val mapNode = Option(root.get("lookupExtractorFactory")) match {
            case Some(f) =>
              Option(f.get("type")).map(_.asText).getOrElse("") match {
                case "map" =>
                  Option(f.get("map")).getOrElse {
                    reply(ex, 400, """{"error":"lookupExtractorFactory needs a 'map' object"}""")
                    return
                  }
                case "cachedNamespace" =>
                  val ns = Option(f.get("extractionNamespace")).getOrElse {
                    reply(ex, 400,
                      """{"error":"cachedNamespace needs an extractionNamespace"}""")
                    return
                  }
                  val polled = try graft.queries.Lookups.pollNamespace(
                    org.apache.spark.sql.SparkSession.active, n, ns)
                  catch {
                    case NonFatal(e) =>
                      reply(ex, 400, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
                      return
                  }
                  polled match {
                    case Some(loaded) =>
                      if (loaded.isEmpty) {
                        reply(ex, 400, """{"error":"cachedNamespace lookup loaded no entries"}""")
                        return
                      }
                      graft.queries.Lookups.register(n, loaded)
                      // a DELETE can race the register on this branch too
                      // (review r9) — same loud 400, never a 500
                      graft.queries.Lookups.entry(n) match {
                        case Some(e) => reply(ex, 200,
                          s"""{"result":{"name":${quote(n)},"entries":${loaded.size},""" +
                            s""""version":${e.version}}}""")
                        case scala.None => reply(ex, 400, s"""{"error":${quote(
                          s"lookup '$n' was deleted concurrently; re-POST to reload")}}""")
                      }
                    case scala.None =>
                      // jdbc tsColumn freshness skip: the table is
                      // unchanged since the last successful poll — keep
                      // the registered version (no bump), tell the caller.
                      // A DELETE racing the poll can empty the registry
                      // between the skip decision and here — loud, with
                      // the fix spelled out, never a 500.
                      graft.queries.Lookups.entry(n) match {
                        case Some(e) => reply(ex, 200,
                          s"""{"result":{"name":${quote(n)},"entries":${e.mapping.size},""" +
                            s""""version":${e.version},"unchanged":true}}""")
                        case scala.None => reply(ex, 400, s"""{"error":${quote(
                          s"lookup '$n' was deleted concurrently; re-POST to reload")}}""")
                      }
                  }
                  return
                case t =>
                  reply(ex, 400, s"""{"error":${quote(
                    s"unsupported lookupExtractorFactory type '$t' (map/cachedNamespace)")}}""")
                  return
              }
            case None => root
          }
          if (!mapNode.isObject) {
            reply(ex, 400, """{"error":"lookup map must be a JSON object"}""")
            return
          }
          val root2 = mapNode
          // strings only — asText would silently coerce null → "null" and
          // objects/arrays → "", registering garbage with a 200
          val bad = root2.propertyStream.iterator.asScala
            .filterNot(_.getValue.isTextual).map(_.getKey).toSeq
          if (bad.nonEmpty) {
            reply(ex, 400, s"""{"error":${quote(
              s"lookup values must be strings; non-string keys: ${bad.sorted.mkString(",")}")}}""")
            return
          }
          val mapping = root2.propertyStream.iterator.asScala
            .map(e => e.getKey -> e.getValue.asText).toMap
          if (mapping.isEmpty) {
            reply(ex, 400, """{"error":"lookup must be non-empty"}"""); return
          }
          graft.queries.Lookups.register(n, mapping)
          val v = graft.queries.Lookups.entry(n).get.version
          reply(ex, 200, s"""{"result":{"name":${quote(n)},"entries":${mapping.size},"version":$v}}""")
        case ("DELETE", n) if n.nonEmpty =>
          graft.queries.Lookups.unregister(n)
          reply(ex, 200, s"""{"result":"deleted"}""")
        case _ => reply(ex, 405, """{"error":"GET /lookups, POST|DELETE /lookups/{name}"}""")
      }
    } catch {
      case NonFatal(e) => reply(ex, 500, s"""{"error":${quote(String.valueOf(e.getMessage))}}""")
    } finally ex.close()

  /** Body → NDJSON lines. Accepts a JSON array of objects or
    * newline-delimited JSON objects; anything else throws (→ 400, the
    * servlet's malformed-body behavior).
    */
  private[sources] def normalize(body: String): Seq[String] = {
    val trimmed = body.trim
    if (trimmed.isEmpty) Seq.empty
    else if (trimmed.startsWith("[")) {
      val node = mapper.readTree(trimmed)
      require(node.isArray, "top-level JSON must be an array or NDJSON")
      node.elements().asScala.map { e =>
        require(e.isObject, s"array element is not an object: $e")
        mapper.writeValueAsString(e)
      }.toSeq
    } else {
      trimmed.linesIterator.map(_.trim).filter(_.nonEmpty).map { line =>
        val e = mapper.readTree(line)
        require(e.isObject, s"NDJSON line is not an object: $line")
        mapper.writeValueAsString(e)
      }.toSeq
    }
  }

  /** Atomic spool: write hidden temp in the watched dir's filesystem, then
    * rename — the file source only ever lists complete files.
    */
  private def spool(dataSource: String, lines: Seq[String]): Unit = {
    if (lines.isEmpty) return
    val dir = Paths.get(spoolDir, dataSource)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".inflight-${UUID.randomUUID()}")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(UTF_8))
    Files.move(tmp, dir.resolve(s"post-${UUID.randomUUID()}.json"),
      StandardCopyOption.ATOMIC_MOVE)
    spoolCounts.get(dataSource).foreach(_.spooled.incrementAndGet())
  }

  /** Read-your-writes for a routed dataSource: drain its stream only when
    * this server spooled files after the last finished drain. The count is
    * read BEFORE the drain starts, so the drain covers every file it names;
    * a query that finds nothing new pays no trigger wait (a drain returns
    * only after a trigger that finds no data). A dead stream still fails
    * the caller with its cause. Unrouted names are no-ops. */
  private def drain(ds: String): Unit =
    for (stream <- routes.get(ds); q <- stream.activeQuery) {
      val count = spoolCounts(ds)
      val covered = count.spooled.get
      if (covered > count.drained.get) {
        q.processAllAvailable()
        count.drained.accumulateAndGet(covered, (a: Long, b: Long) => math.max(a, b))
      } else q.exception.foreach(e => throw e)
    }

  private def quote(s: String): String = mapper.writeValueAsString(s)

  private def reply(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.getResponseBody.close()
  }
}
