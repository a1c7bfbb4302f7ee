package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.config._
import graft.sources.{HttpIngestServer, Sources}
import graft.streaming.IngestStream
import graft.time.Granularity

/** E2E over the real socket: POST JSON-array and NDJSON bodies to the
  * receiver, drain through the streaming engine, check the `{received,sent}`
  * replies and the receiver↔engine conservation invariant — the
  * TranquilityServlet#doPost surface (SURVEY §3.2).
  */
class HttpIngestSpec extends SparkSpec {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def post(port: Int, path: String, body: String): (Int, String) = {
    val req = HttpRequest.newBuilder()
      .uri(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def get(port: Int, path: String): (Int, String) = {
    val req = HttpRequest.newBuilder()
      .uri(URI.create(s"http://127.0.0.1:$port$path")).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("concurrent posts: conservation holds under parallel producers") {
    val tmp = Files.createTempDirectory("graft-http-conc").toString
    val spool = s"$tmp/spool"
    Files.createDirectories(Paths.get(spool, "events"))
    val schema = StructType(Seq(StructField("ts", StringType),
      StructField("etype", StringType), StructField("value", DoubleType)))
    val spec = IngestionSpec(
      DataSchema("events", TimestampSpec("ts"),
        SpecificDimensions(Seq("etype")),
        Seq(AggregatorSpec("count", "cnt")),
        GranularitySpec(Granularity.Hour, Granularity.Hour)),
      Tuning(windowPeriod = java.time.Duration.ofMinutes(30)))
    val ingest = new IngestStream(spark, spec, s"$tmp/checkpoint")
    ingest.start(Sources.jsonFileStream(spark, s"$spool/events", schema,
      maxFilesPerTrigger = 8),
      s"$tmp/out", now = lit(Timestamp.valueOf("2024-03-01 12:00:00")),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
    val server = new HttpIngestServer(spool, routes = Map("events" -> ingest))
    val port = server.start()
    try {
      // 8 producers × 5 async posts × 3 events, all in-window
      val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
      val results = (0 until 40).map { i =>
        pool.submit(new java.util.concurrent.Callable[(Int, String)] {
          def call() = post(port, "/v1/post/events?async=true",
            (0 until 3).map(j =>
              s"""{"ts":"2024-03-01 12:${10 + i % 15}:0$j","etype":"e${i % 4}","value":1.0}""")
              .mkString("\n"))
        })
      }.map(_.get())
      pool.shutdown()
      assert(results.forall { case (code, body) =>
        code == 200 && body == """{"result":{"received":3,"sent":0}}""" })
      ingest.activeQuery.get.processAllAvailable()
      ingest.flushAndStop()
      assert(ingest.received == 120 && ingest.sent == 120 && ingest.dropped == 0)
      val out = spark.read.parquet(s"$tmp/out")
      assert(out.agg(sum($"cnt")).as[Long].head() == 120L)
    } finally server.stop()
  }

  test("spool path safety + table-less SQL: traversal names 400, SELECT 1 runs") {
    spark.version
    val tmp = Files.createTempDirectory("graft-http-safety").toString
    val spool = s"$tmp/spool"
    Files.createDirectories(Paths.get(spool))
    val server = new HttpIngestServer(spool,
      queryRoutes = Map("safety_ds" -> (() =>
        Seq((Timestamp.valueOf("2024-03-01 00:00:00"), 1L)).toDF("__time", "v"))))
    val port = server.start()
    try {
      // dataSource becomes a spool path segment: a percent-encoded
      // traversal must be rejected, never resolved (review finding r7)
      val (tc, tb) = post(port, "/v1/post/..%2F..%2Fevil", """{"a":1}""")
      assert(tc == 400 && tb.contains("invalid dataSource"), s"$tc $tb")
      assert(!Files.exists(Paths.get(tmp, "evil")) &&
        !Files.exists(Paths.get(spool).getParent.getParent.resolve("evil")))
      val (dc, db) = post(port, "/v1/post/." , """{"a":1}""")
      assert(dc == 400, s"dot name accepted: $dc $db")
      // a statement referencing NO table is self-contained (JDBC
      // health-check pattern) — must run, not 400
      val (hc, hb) = post(port, "/druid/v2/sql", """{"query": "SELECT 1 AS ok"}""")
      assert(hc == 200 && hb.contains("\"ok\":1"), s"$hc $hb")
      // a statement referencing an UNKNOWN table keeps the loud error
      val (uc, ub) = post(port, "/druid/v2/sql",
        """{"query": "SELECT * FROM nope_ds"}""")
      assert(uc == 400 && ub.contains("no known dataSource"), s"$uc $ub")
    } finally server.stop()
  }

  test("index-task dataSource names are path-safe; routed names outside " +
      "the alphabet still post") {
    spark.version
    val tmp = Files.createTempDirectory("graft-task-safety").toString
    Files.createDirectories(Paths.get(s"$tmp/spool"))
    // an operator-configured ingest route may use any name — the alphabet
    // gate applies only to the attacker-controllable unrouted spool
    // fallback (the stream is never started: async posts only spool)
    val oddSpec = IngestionSpec(
      DataSchema("odd:name$ds", TimestampSpec("ts"),
        SpecificDimensions(Seq("etype")),
        Seq(AggregatorSpec("count", "cnt")),
        GranularitySpec(Granularity.Hour, Granularity.Hour)))
    val server = new HttpIngestServer(s"$tmp/spool",
      routes = Map("odd:name$ds" ->
        new IngestStream(spark, oddSpec, s"$tmp/cp-odd")),
      indexTaskRoot = Some(s"$tmp/tasks"))
    val port = server.start()
    try {
      // task-spec dataSource becomes a storeRoot path segment AND (replace
      // mode) a recursive-delete target — traversal fails the task loud
      val (c, b) = post(port, "/druid/indexer/v1/task",
        s"""{"type": "index", "spec": {
             "dataSchema": {"dataSource": "../../victim",
               "timestampSpec": {"column": "ts", "format": "auto"},
               "dimensionsSpec": {"dimensions": ["etype"]},
               "metricsSpec": [{"type": "count", "name": "cnt"}],
               "granularitySpec": {"segmentGranularity": "DAY",
                 "queryGranularity": "DAY"}},
             "ioConfig": {"type": "index",
               "inputSource": {"type": "inline", "data": "2024-03-01 01:00:00,click"},
               "inputFormat": {"type": "csv", "columns": ["ts", "etype"]}}}}""")
      assert(c == 200, b)
      val id = "index_graft_[0-9a-f]+".r.findFirstIn(b).get
      val (sc, sb) = get(port, s"/druid/indexer/v1/task/$id/status")
      assert(sc == 200 && sb.contains("\"status\":\"FAILED\"") &&
        sb.contains("invalid dataSource"), sb)
      assert(!Files.exists(Paths.get(tmp).getParent.getParent.resolve("victim")))
      // the oddly-named ROUTE accepts posts (no spool-alphabet rejection);
      // percent-encode the name for the URL
      val (pc, pb) = post(port, "/v1/post/odd%3Aname%24ds?async=true",
        """{"ts":"2024-03-01 01:00:00"}""")
      assert(pc == 200, s"$pc $pb")
    } finally server.stop()
  }

  test("dataSource routing: one server, two specs, independent counters and stores") {
    val tmp = Files.createTempDirectory("graft-http-routes").toString
    val spool = s"$tmp/spool"
    Seq("clicks_ds", "views_ds").foreach(d => Files.createDirectories(Paths.get(spool, d)))
    val schema = StructType(Seq(StructField("ts", StringType),
      StructField("etype", StringType), StructField("value", DoubleType)))
    def specFor(ds: String) = IngestionSpec(
      DataSchema(ds, TimestampSpec("ts"), SpecificDimensions(Seq("etype")),
        Seq(AggregatorSpec("count", "cnt")),
        GranularitySpec(Granularity.Hour, Granularity.Hour)),
      Tuning(windowPeriod = java.time.Duration.ofMinutes(30)))
    def startFor(ds: String): IngestStream = {
      val ingest = new IngestStream(spark, specFor(ds), s"$tmp/cp-$ds")
      ingest.start(Sources.jsonFileStream(spark, s"$spool/$ds", schema),
        s"$tmp/out-$ds", now = lit(Timestamp.valueOf("2024-03-01 12:00:00")),
        trigger = Trigger.ProcessingTime(50))
      ingest
    }
    val clicks = startFor("clicks_ds")
    val views = startFor("views_ds")
    val server = new HttpIngestServer(spool,
      routes = Map("clicks_ds" -> clicks, "views_ds" -> views))
    val port = server.start()
    try {
      // sync posts: each reply reports the TARGET stream's delta only
      val (c1, b1) = post(port, "/v1/post/clicks_ds",
        """[{"ts":"2024-03-01 12:01:00","etype":"c","value":1.0},
            {"ts":"2024-03-01 12:02:00","etype":"c","value":2.0}]""")
      assert(c1 == 200 && b1 == """{"result":{"received":2,"sent":2}}""")
      val (c2, b2) = post(port, "/v1/post/views_ds",
        """{"ts":"2024-03-01 12:03:00","etype":"v","value":3.0}""")
      assert(c2 == 200 && b2 == """{"result":{"received":1,"sent":1}}""")
      // a routes-only server serves each routed store on /druid/v2 too
      val (qc, qb) = post(port, "/druid/v2",
        """{"queryType": "timeseries", "dataSource": "clicks_ds",
            "granularity": "all",
            "aggregations": [{"type": "longSum", "name": "n", "fieldName": "cnt"}]}""")
      assert(qc == 200 && qb.contains("\"n\":2"), qb)
      // an unrouted dataSource spools fire-and-forget (no routed stream)
      val (c3, b3) = post(port, "/v1/post/other_ds",
        """{"ts":"2024-03-01 12:04:00","etype":"x","value":9.0}""")
      assert(c3 == 200 && b3 == """{"result":{"received":1,"sent":0}}""")

      // async backlog is NOT credited to the next sync reply (sent ≤
      // received per request; cumulative counters report the backlog)
      val (c4, _) = post(port, "/v1/post/views_ds?async=true",
        """{"ts":"2024-03-01 12:05:00","etype":"v","value":1.0}""")
      assert(c4 == 200)
      val (c5, b5) = post(port, "/v1/post/views_ds",
        """{"ts":"2024-03-01 12:06:00","etype":"v","value":1.0}""")
      assert(c5 == 200 && b5 == """{"result":{"received":1,"sent":1}}""")

      clicks.flushAndStop(); views.flushAndStop()
      assert(clicks.sent == 2 && views.sent == 3)
      assert(spark.read.parquet(s"$tmp/out-clicks_ds")
        .agg(sum($"cnt")).as[Long].head() == 2L)
      assert(spark.read.parquet(s"$tmp/out-views_ds")
        .agg(sum($"cnt")).as[Long].head() == 3L)
    } finally server.stop()
  }

  test("Daemon: spec-JSON files → routed HTTP server → per-dataSource stores") {
    val tmp = Files.createTempDirectory("graft-daemon").toString
    def specJson(ds: String) =
      s"""{"dataSchema": {"dataSource": "$ds",
            "parser": {"parseSpec": {
              "timestampSpec": {"column": "ts", "format": "auto"},
              "dimensionsSpec": {"dimensions": ["etype"]}}},
            "metricsSpec": [{"type": "count", "name": "cnt"},
                            {"type": "doubleSum", "name": "total", "fieldName": "value"}],
            "granularitySpec": {"segmentGranularity": "HOUR", "queryGranularity": "HOUR"}},
           "tuning": {"windowPeriod": "PT30M"}}"""
    val specs = Seq("clicks_ds", "views_ds").map(ds =>
      graft.config.SpecLoader.fromJson(specJson(ds)))
    val schema = StructType(Seq(StructField("ts", StringType),
      StructField("etype", StringType), StructField("value", DoubleType)))
    val handle = graft.Daemon.run(spark, tmp, schema, specs,
      trigger = Trigger.ProcessingTime(50),
      now = lit(Timestamp.valueOf("2024-03-01 12:00:00")))
    try {
      val (c1, b1) = post(handle.port, "/v1/post/clicks_ds",
        """[{"ts":"2024-03-01 12:01:00","etype":"c","value":1.0},
            {"ts":"2024-03-01 12:02:00","etype":"c","value":2.0}]""")
      assert(c1 == 200 && b1 == """{"result":{"received":2,"sent":2}}""")
      val (c2, b2) = post(handle.port, "/v1/post/views_ds",
        """{"ts":"2024-03-01 12:03:00","etype":"v","value":4.0}""")
      assert(c2 == 200 && b2 == """{"result":{"received":1,"sent":1}}""")

      // broker-style query endpoint (POST /druid/v2): native query JSON over
      // the just-ingested stores — read-your-writes through the same socket
      val (qc, qb) = post(handle.port, "/druid/v2",
        """{"queryType": "timeseries", "dataSource": "clicks_ds",
            "granularity": "hour",
            "aggregations": [{"type": "longSum", "name": "n", "fieldName": "cnt"},
                             {"type": "doubleSum", "name": "t", "fieldName": "total"}]}""")
      assert(qc == 200, qb)
      assert(qb.contains("\"n\":2") && qb.contains("\"t\":3.0"), qb)
      assert(qb.contains("2024-03-01T12:00:00"), qb) // hour bucket, ISO ts

      // a scan WITHOUT resultFormat gets the batched "list" envelope —
      // upstream's default wire shape (clients parse columns + events)
      val (qc2, qb2) = post(handle.port, "/druid/v2",
        """{"queryType": "scan", "dataSource": "views_ds",
            "columns": ["__time", "etype", "total"]}""")
      assert(qc2 == 200 && qb2.contains("\"etype\":\"v\"") &&
        qb2.contains("\"total\":4.0"), qb2)
      assert(qb2.contains("\"events\":") && qb2.contains("\"columns\":"), qb2)

      // unknown dataSource and malformed query both reply 400, not 500
      val (qc3, qb3) = post(handle.port, "/druid/v2",
        """{"queryType": "timeseries", "dataSource": "nope",
            "granularity": "all",
            "aggregations": [{"type": "count", "name": "c"}]}""")
      assert(qc3 == 400 && qb3.contains("unknown dataSource"), qb3)
      val (qc4, _) = post(handle.port, "/druid/v2",
        """{"queryType": "mystery", "dataSource": "clicks_ds"}""")
      assert(qc4 == 400)

      // result cap honored: a second dimension value makes the store two
      // rows; maxQueryRows=1 truncates the scan to one
      post(handle.port, "/v1/post/clicks_ds",
        """{"ts":"2024-03-01 12:05:00","etype":"d","value":8.0}""")
      def scanEvents(body: String): Int = {
        val env = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        var n = 0
        env.forEach(b => n += b.get("events").size)
        n
      }
      val (qc5a, qb5a) = post(handle.port, "/druid/v2",
        """{"queryType": "scan", "dataSource": "clicks_ds",
            "columns": ["__time", "etype"]}""")
      assert(qc5a == 200 && scanEvents(qb5a) == 2, qb5a)
      val (qc5, qb5) = post(handle.port, "/druid/v2",
        """{"queryType": "scan", "dataSource": "clicks_ds",
            "columns": ["__time", "etype"], "context": {"maxQueryRows": 1}}""")
      assert(qc5 == 200 && scanEvents(qb5) == 1, qb5)

      // legacy SELECT envelope: pagingIdentifiers round-trip over the
      // socket — page 1, feed the returned identifiers back VERBATIM
      // (fromNext default), get page 2; events carry segmentId/offset
      // wrappers with __time re-keyed as the event `timestamp`
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val (sel1c, sel1b) = post(handle.port, "/druid/v2",
        """{"queryType": "select", "dataSource": "clicks_ds",
            "dimensions": ["etype"], "metrics": ["total"],
            "pagingSpec": {"pagingIdentifiers": {}, "threshold": 1}}""")
      assert(sel1c == 200, sel1b)
      val selRes = om.readTree(sel1b).get(0).get("result")
      assert(selRes.get("dimensions").toString == """["etype"]""", sel1b)
      val selEv0 = selRes.get("events").get(0)
      assert(selEv0.get("segmentId").asText == "clicks_ds_2024-03-01", sel1b)
      assert(selEv0.get("offset").asLong == 0L, sel1b)
      assert(selEv0.get("event").get("etype").asText == "c", sel1b)
      assert(selEv0.get("event").has("timestamp") &&
        !selEv0.get("event").has("__time"), sel1b)
      val (sel2c, sel2b) = post(handle.port, "/druid/v2",
        s"""{"queryType": "select", "dataSource": "clicks_ds",
             "dimensions": ["etype"], "metrics": ["total"],
             "pagingSpec": {
               "pagingIdentifiers": ${selRes.get("pagingIdentifiers")},
               "threshold": 1}}""")
      assert(sel2c == 200, sel2b)
      val selEv1 = om.readTree(sel2b).get(0).get("result").get("events").get(0)
      assert(selEv1.get("offset").asLong == 1L &&
        selEv1.get("event").get("etype").asText == "d", sel2b)

      // native join dataSource over the ROUTED store E2E: left = the
      // clicks_ds stream (drained read-your-writes), right = a registered
      // lookup, verbatim Druid join JSON over the socket
      graft.queries.Lookups.register("http_etypes",
        Map("c" -> "click", "d" -> "display"))
      try {
        val (jc, jb) = post(handle.port, "/druid/v2",
          """{"queryType": "groupBy",
              "dataSource": {"type": "join",
                "left": "clicks_ds",
                "right": {"type": "lookup", "lookup": "http_etypes"},
                "rightPrefix": "r.",
                "condition": "etype == \"r.k\"",
                "joinType": "INNER"},
              "granularity": "all",
              "dimensions": [{"type": "default", "dimension": "r.v",
                              "outputName": "label"}],
              "aggregations": [{"type": "count", "name": "n"}]}""")
        assert(jc == 200, jb)
        assert(jb.contains("\"label\":\"click\"") &&
          jb.contains("\"label\":\"display\""), jb)
      } finally graft.queries.Lookups.unregister("http_etypes")

      // SQL endpoint: Spark SQL over the dataSource views, object rows —
      // including a cross-dataSource join no native query can express
      val (sc, sb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT etype, sum(total) AS t FROM clicks_ds GROUP BY etype ORDER BY etype"}""")
      assert(sc == 200, sb)
      assert(sb.contains("\"etype\":\"c\"") && sb.contains("\"t\":3.0"), sb)
      assert(sb.contains("\"etype\":\"d\"") && sb.contains("\"t\":8.0"), sb)
      val (sc2, sb2) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT c.etype AS ce, v.etype AS ve FROM clicks_ds c JOIN views_ds v ON c.__time = v.__time"}""")
      assert(sc2 == 200 && sb2.contains("\"ve\":\"v\""), sb2)
      val (sc3, sb3) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT * FROM unknown_ds"}""")
      assert(sc3 == 400 && sb3.contains("no known dataSource"), sb3)
      // TABLE(APPEND(...)): union-by-name across routed dataSources
      val (apc, apb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(*) AS n FROM TABLE(APPEND('clicks_ds', 'views_ds'))"}""")
      assert(apc == 200 && apb.contains("\"n\":"), apb)
      val (apc2, apb2) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(*) FROM TABLE(APPEND('clicks_ds', 'nope_ds'))"}""")
      assert(apc2 == 400 && apb2.contains("nope_ds"), apb2)
      // the APPEND pattern spelled INSIDE a string literal is data — the
      // rewrite is quote-aware (like the EXTERN scanner) and must not
      // corrupt the literal into a __append_N reference
      val (apc3, apb3) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT 'TABLE(APPEND(''clicks_ds''))' AS s FROM clicks_ds LIMIT 1"}""")
      assert(apc3 == 200 &&
        apb3.contains("TABLE(APPEND('clicks_ds'))"), apb3)
      // an UNQUOTED member (or any other residue in the body) must fail
      // LOUD — a silent partial member list would return wrong rows
      val (apc4, apb4) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(*) FROM TABLE(APPEND(clicks_ds, 'views_ds'))"}""")
      assert(apc4 == 400 && apb4.contains("quoted"), apb4)
      // adjacent quoted names without the comma are malformed, not a list
      val (apc5, apb5) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(*) FROM TABLE(APPEND('clicks_ds' 'views_ds'))"}""")
      assert(apc5 == 400 && apb5.contains("comma"), apb5)
      // a dataSource referenced ONLY inside a subquery expression still
      // routes (collect must reach subquery plans)
      val (sqc, sqb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT etype, COUNT(*) AS n FROM clicks_ds WHERE etype NOT IN (SELECT etype FROM views_ds) GROUP BY etype ORDER BY etype"}""")
      assert(sqc == 200 && sqb.contains("\"etype\":\"c\""), sqb)

      // parameterized SQL: '?' placeholders bind typed literals in order;
      // quotes in string values cannot break out of the literal; count
      // mismatches are loud; '?' inside a string literal is data
      val (pc, pb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT etype, COUNT(*) AS n FROM clicks_ds WHERE etype = ? AND total >= ? GROUP BY etype",
            "parameters": [{"type": "VARCHAR", "value": "c"},
                           {"type": "DOUBLE", "value": 0.5}]}""")
      assert(pc == 200 && pb.contains("\"etype\":\"c\""), pb)
      val (pe, peb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(*) FROM clicks_ds WHERE etype = ? AND user = ?",
            "parameters": [{"type": "VARCHAR", "value": "c"}]}""")
      assert(pe == 400 && peb.contains("placeholders"), peb)
      val (pq, pqb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(*) AS n FROM clicks_ds WHERE etype = ?",
            "parameters": [{"type": "VARCHAR", "value": "x' OR '1'='1"}]}""")
      assert(pq == 200 && pqb.contains("\"n\":0"), pqb) // escaped, no breakout
      val (pl, plb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(*) AS n FROM clicks_ds WHERE etype <> '?'"}""")
      assert(pl == 200, plb) // literal '?' needs no parameters

      // Druid 31 SET statements: leading `SET k = v;` statements become
      // context entries. sqlQueryId lands in the response header; a SET
      // context key WINS over the body's context map; a quoted ';' or a
      // non-leading SET is query text, not a statement separator
      val (setc, setb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SET sqlQueryId = 'set-stmt-q1'; SET maxQueryRows = 100; SELECT etype, COUNT(*) AS n FROM clicks_ds GROUP BY etype ORDER BY etype"}""")
      assert(setc == 200 && setb.contains("\"etype\":\"c\""), setb)
      val (setc2, setb2) = post(handle.port, "/druid/v2/sql",
        """{"query": "SET maxQueryRows = 1; SELECT * FROM clicks_ds",
            "context": {"maxQueryRows": 100000}}""")
      assert(setc2 == 200, setb2)
      // SET won: exactly one row came back (objects format = one {..} row)
      assert(setb2.count(_ == '{') == 1, setb2)
      // SET useApproximateCountDistinct flows through the same rewrite as
      // the context-map form (estimate, still exact at this cardinality)
      val (setc3, setb3) = post(handle.port, "/druid/v2/sql",
        """{"query": "SET useApproximateCountDistinct = TRUE; SELECT COUNT(DISTINCT etype) AS u FROM clicks_ds"}""")
      assert(setc3 == 200 && setb3.contains("\"u\":2"), setb3)
      // malformed SET value (unquoted identifier) is NOT a SET statement —
      // it stays in the text and fails loudly as SQL
      val (setc4, _) = post(handle.port, "/druid/v2/sql",
        """{"query": "SET broken = oops; SELECT 1"}""")
      assert(setc4 == 400)

      // DRUID-dialect SQL runs verbatim: TIME_FLOOR/TIME_FORMAT +
      // APPROX_COUNT_DISTINCT_DS_HLL (the first query a real Druid SQL
      // user posts) — exact at this cardinality (coupon-mode DataSketches)
      val (dc, db) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT TIME_FORMAT(TIME_FLOOR(__time, 'PT1H'), 'yyyy-MM-dd HH:mm') AS bucket, APPROX_COUNT_DISTINCT_DS_HLL(etype) AS uniq, SAFE_DIVIDE(SUM(total), COUNT(*)) AS avg_total FROM clicks_ds GROUP BY 1 ORDER BY 1"}""")
      assert(dc == 200, db)
      assert(db.contains("\"bucket\":\"2024-03-01 12:00\""), db)
      assert(db.contains("\"uniq\":2"), db) // etypes c,d in the hour
      // non-UTC timezone argument floors in that zone's local calendar
      // (2024-03-01 12:xx UTC → LA wall 04:xx, hour-floor 04:00 LA = 12:00Z);
      // an unknown zone still fails loudly, never silently shifted
      val (tzc, tzb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT TIME_FORMAT(TIME_FLOOR(__time, 'P1D', NULL, 'America/Los_Angeles'), 'yyyy-MM-dd HH:mm') AS laday FROM clicks_ds LIMIT 1"}""")
      assert(tzc == 200 && tzb.contains("\"laday\":\"2024-03-01 08:00\""), tzb)
      val (badc, badb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT TIME_FLOOR(__time, 'PT1H', NULL, 'Mars/Olympus') FROM clicks_ds"}""")
      assert(badc == 400 && badb.contains("Mars/Olympus"), badb)

      // lookup lifecycle over HTTP: register → LOOKUP() resolves → update
      // is visible to the NEXT query (Druid coordinator lookup-update analog)
      val (lc, lb) = post(handle.port, "/lookups/etypes",
        """{"c": "click", "d": "display"}""")
      assert(lc == 200 && lb.contains("\"entries\":2"), lb)
      val (lq, lqb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT LOOKUP(etype, 'etypes') AS label, COUNT(*) AS n FROM clicks_ds GROUP BY 1 ORDER BY 1"}""")
      assert(lq == 200 && lqb.contains("\"label\":\"click\"") &&
        lqb.contains("\"label\":\"display\""), lqb)
      post(handle.port, "/lookups/etypes", """{"c": "CLICK2", "d": "display"}""")
      val (lq2, lqb2) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT LOOKUP(etype, 'etypes') AS label FROM clicks_ds WHERE etype = 'c' LIMIT 1"}""")
      assert(lq2 == 200 && lqb2.contains("\"label\":\"CLICK2\""), lqb2)
      val (ll, llb) = get(handle.port, "/lookups")
      assert(ll == 200 && llb.contains("\"etypes\":{\"entries\":2"), llb)
      val (lbad, lbadb) = post(handle.port, "/lookups/empty", "{}")
      assert(lbad == 400 && lbadb.contains("non-empty"), lbadb)
      // non-string values are a 400 naming the keys, never coerced
      // (asText would register null→"null" and {}→"" with a 200)
      val (lnn, lnnb) = post(handle.port, "/lookups/etypes",
        """{"a": "ok", "z": null, "b": {"label": "x"}, "c": [1]}""")
      assert(lnn == 400 && lnnb.contains("b,c,z"), lnnb)
      // Druid coordinator envelope form registers the inner map; non-map
      // factory types are loud (no cached-namespace/JDBC loaders here)
      val (le, leb) = post(handle.port, "/lookups/envtypes",
        """{"version": "v1", "lookupExtractorFactory":
            {"type": "map", "map": {"c": "click-env"}}}""")
      assert(le == 200 && leb.contains("\"entries\":1"), leb)
      val (leq, leqb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT LOOKUP('c', 'envtypes') AS label FROM clicks_ds LIMIT 1"}""")
      assert(leq == 200 && leqb.contains("\"label\":\"click-env\""), leqb)
      val (lef, lefb) = post(handle.port, "/lookups/envtypes",
        """{"lookupExtractorFactory": {"type": "cachedNamespace"}}""")
      assert(lef == 400 && lefb.contains("cachedNamespace"), lefb)
      // file-backed cachedNamespace (lookups-cached-global uri loader):
      // registers from a csv on disk, queryable like any map lookup
      val lkFile = Files.createTempFile("graft-lk", ".csv")
      Files.writeString(lkFile, "k,v\nc,click-file\nd,display-file\n")
      val (luc, lub) = post(handle.port, "/lookups/filetypes",
        s"""{"version": "v1", "lookupExtractorFactory":
             {"type": "cachedNamespace",
              "extractionNamespace": {"type": "uri",
                "uri": "${lkFile.toUri}",
                "namespaceParseSpec": {"format": "csv",
                  "columns": ["k","v"], "hasHeaderRow": true}}}}""")
      assert(luc == 200 && lub.contains("\"entries\":2"), lub)
      val (luq, luqb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT LOOKUP('c', 'filetypes') AS label FROM clicks_ds LIMIT 1"}""")
      assert(luq == 200 && luqb.contains("\"label\":\"click-file\""), luqb)
      // incomplete jdbc config is loud (needs connectorConfig), and kafka
      // loaders stay rejected
      val (lbadu, lbadub) = post(handle.port, "/lookups/filetypes",
        """{"lookupExtractorFactory": {"type": "cachedNamespace",
            "extractionNamespace": {"type": "jdbc"}}}""")
      assert(lbadu == 400 && lbadub.contains("connectorConfig"), lbadub)
      val (lbadk, lbadkb) = post(handle.port, "/lookups/filetypes",
        """{"lookupExtractorFactory": {"type": "cachedNamespace",
            "extractionNamespace": {"type": "kafka"}}}""")
      assert(lbadk == 400 && lbadkb.contains("kafka"), lbadkb)
      // jdbc cachedNamespace E2E: embedded Derby table → one POST = one
      // poll; a tsColumn re-POST with an unchanged table keeps the version
      // and says so; advancing the table re-loads + bumps
      val dbDir = Files.createTempDirectory("graft-http-jdbc")
      val dbUrl = s"jdbc:derby:$dbDir/db"
      val dbc = java.sql.DriverManager.getConnection(dbUrl + ";create=true")
      val dbst = dbc.createStatement()
      dbst.executeUpdate(
        "CREATE TABLE etypes_db (k VARCHAR(8), v VARCHAR(32), ts INT)")
      dbst.executeUpdate(
        "INSERT INTO etypes_db VALUES ('c','click-db',1), ('d','disp-db',1)")
      val jdbcBody = s"""{"version": "v1", "lookupExtractorFactory":
           {"type": "cachedNamespace",
            "extractionNamespace": {"type": "jdbc",
              "connectorConfig": {"connectURI": "$dbUrl"},
              "table": "etypes_db", "keyColumn": "k", "valueColumn": "v",
              "tsColumn": "ts"}}}"""
      val (ljc, ljb) = post(handle.port, "/lookups/dbtypes", jdbcBody)
      assert(ljc == 200 && ljb.contains("\"entries\":2"), ljb)
      val (ljq, ljqb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT LOOKUP('c', 'dbtypes') AS label FROM clicks_ds LIMIT 1"}""")
      assert(ljq == 200 && ljqb.contains("\"label\":\"click-db\""), ljqb)
      val (lju, ljub) = post(handle.port, "/lookups/dbtypes", jdbcBody)
      assert(lju == 200 && ljub.contains("\"unchanged\":true"), ljub)
      dbst.executeUpdate("INSERT INTO etypes_db VALUES ('e','email-db',2)")
      val (ljr, ljrb) = post(handle.port, "/lookups/dbtypes", jdbcBody)
      assert(ljr == 200 && ljrb.contains("\"entries\":3") &&
        !ljrb.contains("unchanged"), ljrb)
      dbst.close(); dbc.close()
      try java.sql.DriverManager.getConnection(dbUrl + ";shutdown=true")
      catch { case _: java.sql.SQLException => () }
      graft.queries.Lookups.unregister("dbtypes")

      // SQL INGESTION over the socket (MSQ surface): INSERT INTO with a
      // rollup SELECT over the routed store; reply = per-segment task
      // report; segments land on disk under the daemon's sql_stores
      val (ic, ib) = post(handle.port, "/druid/v2/sql",
        """{"query": "INSERT INTO clicks_hourly SELECT TIME_FLOOR(__time, 'PT1H') AS __time, etype, COUNT(*) AS cnt FROM clicks_ds GROUP BY 1, 2 PARTITIONED BY DAY CLUSTERED BY etype"}""")
      assert(ic == 200, ib)
      assert(ib.contains("\"segment\":\"2024-03-01T00:00:00\"") &&
        ib.contains("\"rows_published\":2"), ib)
      val segDirs = new java.io.File(s"$tmp/sql_stores/clicks_hourly").listFiles()
      assert(segDirs != null &&
        segDirs.exists(_.getName.startsWith("segment=")), s"$tmp/sql_stores")

      // MSQ external input over the socket: INSERT ... FROM TABLE(EXTERN)
      // reads a local file through the parseSpec machinery, lands segments,
      // and the new dataSource is immediately SELECTable
      val extFile = java.nio.file.Files.createTempFile("graft-extern", ".json")
      java.nio.file.Files.writeString(extFile,
        """{"ts":"2024-03-02 10:00:00","page":"home"}
          |{"ts":"2024-03-02 11:00:00","page":"docs"}
          |""".stripMargin)
      val (xc, xb) = post(handle.port, "/druid/v2/sql",
        s"""{"query": "INSERT INTO ext_pages SELECT CAST(ts AS TIMESTAMP) AS __time, page FROM TABLE(EXTERN('{\\"type\\":\\"local\\",\\"files\\":[\\"${extFile.toString}\\"]}', '{\\"type\\":\\"json\\"}', '[{\\"name\\":\\"ts\\",\\"type\\":\\"string\\"},{\\"name\\":\\"page\\",\\"type\\":\\"string\\"}]')) PARTITIONED BY DAY"}""")
      assert(xc == 200, xb)
      assert(xb.contains("\"rows_published\":2"), xb)
      val (xsc, xsb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT page FROM ext_pages ORDER BY page"}""")
      assert(xsc == 200 &&
        xsb == """[{"page":"docs"},{"page":"home"}]""", xsb)

      // read-your-writes for SQL ingestion: the dataSource written one
      // request ago is SELECTable now (resolved from the sql_stores
      // namespace; no explicit route needed)
      val (rc, rb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT etype, cnt FROM clicks_hourly ORDER BY etype"}""")
      assert(rc == 200, rb)
      // COUNT(*) over the finalized rollup view = one row per (hour, etype)
      assert(rb == """[{"etype":"c","cnt":1},{"etype":"d","cnt":1}]""", rb)

      // INFORMATION_SCHEMA.TABLES: routed dataSources + SQL-ingested ones
      val (itc, itb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT TABLE_NAME FROM INFORMATION_SCHEMA.TABLES ORDER BY TABLE_NAME"}""")
      assert(itc == 200, itb)
      assert(itb.contains("clicks_ds") && itb.contains("views_ds") &&
        itb.contains("clicks_hourly"), itb)

      // INFORMATION_SCHEMA.COLUMNS: Druid SQL type names; joins against a
      // dataSource work (meta + dataSource in one statement)
      val (icc, icb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT COLUMN_NAME, DATA_TYPE FROM INFORMATION_SCHEMA.COLUMNS WHERE TABLE_NAME = 'clicks_ds' ORDER BY ORDINAL_POSITION"}""")
      assert(icc == 200, icb)
      assert(icb.contains("\"COLUMN_NAME\":\"__time\"") &&
        icb.contains("\"DATA_TYPE\":\"TIMESTAMP\""), icb)
      assert(icb.contains("\"COLUMN_NAME\":\"etype\"") &&
        icb.contains("\"DATA_TYPE\":\"VARCHAR\""), icb)

      // sys.segments: published segments of streaming AND SQL-ingested
      // stores, num_rows recomputed from the store
      val (ssc, ssb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT datasource, start, num_rows FROM sys.segments ORDER BY datasource, start"}""")
      assert(ssc == 200, ssb)
      assert(ssb.contains("\"datasource\":\"clicks_ds\""), ssb)
      assert(ssb.contains("\"datasource\":\"clicks_hourly\"") &&
        ssb.contains("\"num_rows\":2"), ssb)

      // sys.supervisors: streaming ingestion routes as Druid supervisors
      val (svc, svb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT supervisor_id, state, healthy, source FROM sys.supervisors ORDER BY supervisor_id"}""")
      assert(svc == 200, svb)
      assert(svb.contains("\"supervisor_id\":\"clicks_ds\"") &&
        svb.contains("\"supervisor_id\":\"views_ds\""), svb)
      assert(svb.contains("\"state\":\"RUNNING\"") &&
        svb.contains("\"healthy\":1"), svb)

      // EXPLAIN PLAN FOR: plans without running, names touched dataSources
      val (epc, epb) = post(handle.port, "/druid/v2/sql",
        """{"query": "EXPLAIN PLAN FOR SELECT etype, COUNT(*) FROM clicks_ds GROUP BY 1"}""")
      assert(epc == 200, epb)
      assert(epb.contains("\"PLAN\":") && epb.contains("Aggregate"), epb)
      assert(epb.contains("\"name\":\"clicks_ds\"") &&
        epb.contains("\"type\":\"DATASOURCE\""), epb)

      // resultFormat: positional arrays with header, CSV, NDJSON — the
      // Druid SQL response-format surface; unknown format is a 400
      val (rfc, rfb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT etype, cnt FROM clicks_hourly ORDER BY etype",
            "resultFormat": "array", "header": true}""")
      assert(rfc == 200 && rfb == """[["etype","cnt"],["c",1],["d",1]]""", rfb)
      val (cfc, cfb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT etype, cnt FROM clicks_hourly ORDER BY etype",
            "resultFormat": "csv", "header": true}""")
      assert(cfc == 200 && cfb == "etype,cnt\nc,1\nd,1", cfb)
      val (olc, olb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT etype FROM clicks_hourly ORDER BY etype",
            "resultFormat": "objectLines"}""")
      assert(olc == 200 && olb == "{\"etype\":\"c\"}\n{\"etype\":\"d\"}", olb)
      val (bfc, bfb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT etype FROM clicks_hourly",
            "resultFormat": "xml"}""")
      assert(bfc == 400 && bfb.contains("resultFormat"), bfb)

      // GET /status: per-dataSource cumulative counters
      val (stc, stb) = get(handle.port, "/status")
      assert(stc == 200, stb)
      assert(stb.contains(
        "\"clicks_ds\":{\"received\":3,\"sent\":3,\"dropped\":0}"), stb)
      assert(stb.contains(
        "\"views_ds\":{\"received\":1,\"sent\":1,\"dropped\":0}"), stb)
    } finally handle.close()
    val clicks = spark.read.parquet(s"$tmp/stores/clicks_ds")
    assert(clicks.agg(sum($"cnt"), sum($"total")).as[(Long, Double)].head() == ((3L, 11.0)))
    val views = spark.read.parquet(s"$tmp/stores/views_ds")
    assert(views.agg(sum($"cnt"), sum($"total")).as[(Long, Double)].head() == ((1L, 4.0)))
  }

  test("concurrent /druid/v2/sql requests: no shared-state cross-talk") {
    // the endpoint substitutes dataSource plans into each parsed statement
    // (no temp views) — so concurrent requests with CLASHING names (a CTE
    // named like another request's dataSource, same aliases) must never
    // see each other's frames. This is the regression net for the
    // pre-round-4 createOrReplaceTempView design, which could swap a view
    // mid-flight on the 8-thread pool.
    val tmp = Files.createTempDirectory("graft-sqlconc").toString
    def specJson(ds: String) =
      s"""{"dataSchema": {"dataSource": "$ds",
            "parser": {"parseSpec": {
              "timestampSpec": {"column": "ts", "format": "auto"},
              "dimensionsSpec": {"dimensions": ["etype"]}}},
            "metricsSpec": [{"type": "count", "name": "cnt"},
                            {"type": "doubleSum", "name": "total", "fieldName": "value"}],
            "granularitySpec": {"segmentGranularity": "HOUR", "queryGranularity": "HOUR"}},
           "tuning": {"windowPeriod": "PT30M"}}"""
    val specs = Seq("alpha_ds", "beta_ds").map(ds =>
      graft.config.SpecLoader.fromJson(specJson(ds)))
    val schema = StructType(Seq(StructField("ts", StringType),
      StructField("etype", StringType), StructField("value", DoubleType)))
    val handle = graft.Daemon.run(spark, tmp, schema, specs,
      trigger = Trigger.ProcessingTime(50),
      now = lit(Timestamp.valueOf("2024-03-01 12:00:00")))
    try {
      post(handle.port, "/v1/post/alpha_ds",
        """{"ts":"2024-03-01 12:01:00","etype":"a","value":1.0}""")
      post(handle.port, "/v1/post/beta_ds",
        """{"ts":"2024-03-01 12:02:00","etype":"b","value":2.0}""")
      val statements = Seq(
        // plain per-dataSource aggregates with the SAME output aliases
        """{"query": "SELECT etype, SUM(total) AS t FROM alpha_ds GROUP BY etype"}""" ->
          ((b: String) => b.contains("\"etype\":\"a\"") && b.contains("\"t\":1.0")),
        """{"query": "SELECT etype, SUM(total) AS t FROM beta_ds GROUP BY etype"}""" ->
          ((b: String) => b.contains("\"etype\":\"b\"") && b.contains("\"t\":2.0")),
        // a CTE named like the OTHER request's dataSource must shadow
        // locally without contaminating anyone
        """{"query": "WITH beta_ds AS (SELECT 9.0 AS t) SELECT a.etype, b.t FROM alpha_ds a CROSS JOIN beta_ds b"}""" ->
          ((b: String) => b.contains("\"etype\":\"a\"") && b.contains("\"t\":9.0")))
      val pool = java.util.concurrent.Executors.newFixedThreadPool(12)
      try {
        implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
        val futures = (0 until 24).map { i =>
          val (body, check) = statements(i % statements.length)
          scala.concurrent.Future {
            val (code, resp) = post(handle.port, "/druid/v2/sql", body)
            (i, code, resp, check(resp))
          }
        }
        val results = scala.concurrent.Await.result(
          scala.concurrent.Future.sequence(futures),
          scala.concurrent.duration.Duration(120, "s"))
        results.foreach { case (i, code, resp, ok) =>
          assert(code == 200, s"request $i: $resp")
          assert(ok, s"request $i got cross-talk: $resp")
        }
      } finally pool.shutdownNow()
    } finally handle.close()
  }

  /** One routed dataSource `ryw_ds` on a daemon whose trigger fires only
    * every 5 s — long enough that a query paying a trigger wait shows. */
  private def slowTriggerDaemon(): graft.Daemon.Handle = {
    val tmp = Files.createTempDirectory("graft-ryw").toString
    val spec = graft.config.SpecLoader.fromJson(
      """{"dataSchema": {"dataSource": "ryw_ds",
            "parser": {"parseSpec": {
              "timestampSpec": {"column": "ts", "format": "auto"},
              "dimensionsSpec": {"dimensions": ["etype"]}}},
            "metricsSpec": [{"type": "count", "name": "cnt"}],
            "granularitySpec": {"segmentGranularity": "HOUR", "queryGranularity": "HOUR"}},
           "tuning": {"windowPeriod": "PT30M"}}""")
    val schema = StructType(Seq(StructField("ts", StringType),
      StructField("etype", StringType), StructField("value", DoubleType)))
    graft.Daemon.run(spark, tmp, schema, Seq(spec),
      trigger = Trigger.ProcessingTime(5000),
      now = lit(Timestamp.valueOf("2024-03-01 12:00:00")))
  }

  private val rywCount =
    """{"queryType": "timeseries", "dataSource": "ryw_ds", "granularity": "all",
        "aggregations": [{"type": "longSum", "name": "n", "fieldName": "cnt"}]}"""

  test("read-your-writes without a trigger wait: a query right after a sync " +
      "post sees its rows and does not wait for the next trigger") {
    val handle = slowTriggerDaemon()
    try {
      val (pc, pb) = post(handle.port, "/v1/post/ryw_ds",
        """[{"ts":"2024-03-01 12:01:00","etype":"c","value":1.0},
            {"ts":"2024-03-01 12:02:00","etype":"d","value":2.0}]""")
      assert(pc == 200 && pb == """{"result":{"received":2,"sent":2}}""", pb)
      val t0 = System.nanoTime()
      val (qc, qb) = post(handle.port, "/druid/v2", rywCount)
      val ms = (System.nanoTime() - t0) / 1e6
      assert(qc == 200 && qb.contains("\"n\":2"), qb)
      // the sync post's drain already covered every spooled file, so the
      // query skips the drain; paying one would cost up to a 5 s trigger
      assert(ms < 2000, f"query after a drained sync post took $ms%.0f ms")
    } finally handle.close()
  }

  test("read-your-writes after an async post: the next query drains it") {
    val handle = slowTriggerDaemon()
    try {
      val (pc, pb) = post(handle.port, "/v1/post/ryw_ds",
        """{"ts":"2024-03-01 12:01:00","etype":"c","value":1.0}""")
      assert(pc == 200 && pb == """{"result":{"received":1,"sent":1}}""", pb)
      val (ac, ab) = post(handle.port, "/v1/post/ryw_ds?async=true",
        """[{"ts":"2024-03-01 12:03:00","etype":"c","value":1.0},
            {"ts":"2024-03-01 12:04:00","etype":"e","value":1.0}]""")
      assert(ac == 200 && ab == """{"result":{"received":2,"sent":0}}""", ab)
      // no trigger is due for seconds: only a drain makes the rows visible
      val (qc, qb) = post(handle.port, "/druid/v2", rywCount)
      assert(qc == 200 && qb.contains("\"n\":3"), qb)
      val (sc, sb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT SUM(cnt) AS k FROM ryw_ds"}""")
      assert(sc == 200 && sb.contains("\"k\":3"), sb)
    } finally handle.close()
  }

  test("hyperUnique daemon store: every bucket answers /druid/v2 at once " +
      "from the re-merged HLL sketches") {
    val tmp = Files.createTempDirectory("graft-hu-daemon").toString
    val spec = graft.config.SpecLoader.fromJson(
      """{"dataSchema": {"dataSource": "hu_ds",
            "parser": {"parseSpec": {
              "timestampSpec": {"column": "ts", "format": "auto"},
              "dimensionsSpec": {"dimensions": []}}},
            "metricsSpec": [{"type": "hyperUnique", "name": "users", "fieldName": "user"}],
            "granularitySpec": {"segmentGranularity": "HOUR", "queryGranularity": "HOUR"}},
           "tuning": {"windowPeriod": "PT1H"}}""")
    val schema = StructType(Seq(StructField("ts", StringType),
      StructField("user", StringType)))
    // now ± windowPeriod = [10:00, 12:00] admits every event below
    val handle = graft.Daemon.run(spark, tmp, schema, Seq(spec),
      trigger = Trigger.ProcessingTime(50),
      now = lit(Timestamp.valueOf("2024-03-01 11:00:00")))
    try {
      val (pc, pb) = post(handle.port, "/v1/post/hu_ds",
        """[{"ts":"2024-03-01 10:05:00","user":"u1"},
            {"ts":"2024-03-01 10:20:00","user":"u2"},
            {"ts":"2024-03-01 10:40:00","user":"u1"}]""")
      assert(pc == 200, pb)
      val (lc, lb) = post(handle.port, "/v1/post/hu_ds",
        """{"ts":"2024-03-01 11:30:00","user":"u3"}""")
      assert(lc == 200, lb)
      // both buckets answer on the next read, the newest included
      val (qc, qb) = post(handle.port, "/druid/v2",
        """{"queryType": "timeseries", "dataSource": "hu_ds", "granularity": "hour",
            "aggregations": [{"type": "longSum", "name": "u", "fieldName": "users"}]}""")
      assert(qc == 200, qb)
      assert(qb.contains("2024-03-01T10:00:00") && qb.contains("\"u\":2") &&
        qb.contains("2024-03-01T11:00:00") && qb.contains("\"u\":1"), qb)
      val (sc, sb) = post(handle.port, "/druid/v2/sql",
        """{"query": "SELECT SUM(users) AS u FROM hu_ds"}""")
      assert(sc == 200 && sb == """[{"u":3}]""", sb)
    } finally handle.close()
  }

  test("SQL-ingested store opens from footers: resolving it launches no " +
      "Spark job, and it reads like a plain parquet read") {
    val tmp = Files.createTempDirectory("graft-sqlstore").toString
    val src = Seq(("2024-03-01 10:00:00", "c"), ("2024-03-01 11:00:00", "c"),
      ("2024-03-01 11:00:00", "d")).toDF("t", "etype")
      .select(col("t").cast("timestamp").as("__time"), col("etype"))
    val server = new HttpIngestServer(s"$tmp/spool",
      queryRoutes = Map("src_ds" -> (() => src)),
      sqlIngestRoot = Some(s"$tmp/sql"))
    val port = server.start()
    try {
      val (ic, ib) = post(port, "/druid/v2/sql",
        """{"query": "INSERT INTO sql_ds SELECT __time, etype, COUNT(*) AS cnt FROM src_ds GROUP BY 1, 2 PARTITIONED BY DAY"}""")
      assert(ic == 200, ib)
      // EXPLAIN resolves the dataSource and plans it without running it:
      // any job in the request's job group opened the store. Listener
      // events are asynchronous, so a sentinel job in a group of its own
      // marks that every job the request started has been seen.
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val done = new java.util.concurrent.CountDownLatch(1)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p =>
              Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
            if (g.startsWith("graft-query-explain-sql-store-")) jobs.incrementAndGet()
            else if (g == "sql-store-sentinel") done.countDown()
          }
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      try {
        val (ec, eb) = post(port, "/druid/v2/sql",
          """{"query": "EXPLAIN PLAN FOR SELECT * FROM sql_ds",
              "context": {"sqlQueryId": "explain-sql-store"}}""")
        assert(ec == 200, eb)
        sc.setJobGroup("sql-store-sentinel", "sentinel")
        spark.range(1).count()
        assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
      assert(jobs.get == 0, s"${jobs.get} Spark job(s) to open the SQL store")

      val plain = spark.read.parquet(s"$tmp/sql/sql_ds")
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val (hc, hb) = post(port, "/druid/v2/sql",
        """{"query": "SELECT * FROM sql_ds", "resultFormat": "array", "header": true}""")
      assert(hc == 200, hb)
      val header = om.readTree(hb).get(0)
      assert((0 until header.size).map(header.get(_).asText) == plain.columns.toSeq, hb)
      val (rc, rb) = post(port, "/druid/v2/sql",
        """{"query": "SELECT etype, cnt FROM sql_ds", "resultFormat": "array"}""")
      assert(rc == 200, rb)
      val served = om.readTree(rb)
      val rows = (0 until served.size).map { i =>
        (served.get(i).get(0).asText, served.get(i).get(1).asLong) }
      assert(rows.sorted == plain.select($"etype", $"cnt".cast("long"))
        .as[(String, Long)].collect().toSeq.sorted, rb)
    } finally server.stop()
  }

  private def delete(port: Int, path: String): (Int, String) = {
    val req = HttpRequest.newBuilder()
      .uri(URI.create(s"http://127.0.0.1:$port$path")).DELETE().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("broker introspection: GET /druid/v2/datasources lists, per-ds " +
      "dimensions/metrics classify by column type, unknown ds is 404") {
    val tmp = Files.createTempDirectory("graft-dsmeta").toString
    val df = spark.range(100).select(
      lit(Timestamp.valueOf("2024-03-01 12:00:00")).as("__time"),
      concat(lit("e"), col("id") % 5).as("etype"),
      col("id").cast("double").as("value"),
      col("id").as("uid"))
    val server = new HttpIngestServer(spoolDir = tmp,
      queryRoutes = Map("events_ds" -> (() => df)))
    val port = server.start()
    try {
      val (c0, l) = get(port, "/druid/v2/datasources")
      assert(c0 == 200 && l == """["events_ds"]""")
      val (c1, meta) = get(port, "/druid/v2/datasources/events_ds")
      assert(c1 == 200 &&
        meta == """{"dimensions":["etype"],"metrics":["value","uid"]}""")
      val (c2, dims) = get(port, "/druid/v2/datasources/events_ds/dimensions")
      assert(c2 == 200 && dims == """["etype"]""")
      val (c3, mets) = get(port, "/druid/v2/datasources/events_ds/metrics")
      assert(c3 == 200 && mets == """["value","uid"]""")
      val (c4, _) = get(port, "/druid/v2/datasources/nope")
      assert(c4 == 404)
      val (c5, _) = get(port, "/druid/v2/datasources/events_ds/bogus")
      assert(c5 == 404)
    } finally server.stop()
  }

  test("query cancellation: DELETE /druid/v2/sql/{id} kills the in-flight " +
      "statement's job group; unknown id is 404") {
    val tmp = Files.createTempDirectory("graft-cancel").toString
    // 2000³ = 8e9 cross-joined rows with per-row arithmetic (a bare
    // COUNT(*) over a conditionless join counts at codegen speed and
    // finishes before any cancel can land; the test session is local[4]
    // and sbt runs suites in PARALLEL, so the workload must starve nobody):
    // tens of seconds if left alone, so a sub-25s completion proves the
    // cancel killed the jobs
    val df = spark.range(2000).select(
      lit(Timestamp.valueOf("2024-03-01 12:00:00")).as("__time"),
      col("id").as("uid"))
    val server = new HttpIngestServer(spoolDir = tmp,
      queryRoutes = Map("events_ds" -> (() => df)))
    val port = server.start()
    try {
      assert(delete(port, "/druid/v2/sql/never-ran")._1 == 404)
      assert(delete(port, "/druid/v2/nope-either")._1 == 404)
      val body =
        """{"query": "SELECT SUM(a.uid % (b.uid + 1) + c.uid) AS c FROM events_ds a, events_ds b, events_ds c",
            "context": {"sqlQueryId": "kill-me"}}"""
      val pool = java.util.concurrent.Executors.newFixedThreadPool(1)
      try {
        implicit val ec = scala.concurrent.ExecutionContext.fromExecutor(pool)
        val started = System.nanoTime()
        val fut = scala.concurrent.Future { post(port, "/druid/v2/sql", body) }
        // the id registers just before execution — poll the DELETE until
        // it lands (404 until then, 202 once in-flight)
        var cancelCode = 404
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (cancelCode == 404 && System.nanoTime() < deadline) {
          Thread.sleep(50)
          cancelCode = delete(port, "/druid/v2/sql/kill-me")._1
        }
        assert(cancelCode == 202, s"cancel never accepted (last=$cancelCode)")
        val (code, resp) = scala.concurrent.Await.result(fut,
          scala.concurrent.duration.Duration(60, "s"))
        val elapsedSec = (System.nanoTime() - started) / 1e9
        assert(code == 400, s"cancelled query should error, got $code: $resp")
        assert(elapsedSec < 25,
          s"took ${elapsedSec}s — cancel did not kill the running jobs")
        // the registry entry is cleared once the request unwinds
        assert(delete(port, "/druid/v2/sql/kill-me")._1 == 404)
      } finally pool.shutdownNow()
    } finally server.stop()
  }

  test("context.timeout: the deadline cancels the statement's jobs → 504 " +
      "QueryTimeoutException; a generous timeout does not fire") {
    val tmp = Files.createTempDirectory("graft-timeout").toString
    val df = spark.range(2000).select(
      lit(Timestamp.valueOf("2024-03-01 12:00:00")).as("__time"),
      col("id").as("uid"))
    val server = new HttpIngestServer(spoolDir = tmp,
      queryRoutes = Map("events_ds" -> (() => df)))
    val port = server.start()
    try {
      val started = System.nanoTime()
      val (code, resp) = post(port, "/druid/v2/sql",
        """{"query": "SELECT SUM(a.uid % (b.uid + 1) + c.uid) AS c FROM events_ds a, events_ds b, events_ds c",
            "context": {"timeout": 400}}""")
      val elapsedSec = (System.nanoTime() - started) / 1e9
      assert(code == 504 && resp.contains("QueryTimeoutException"),
        s"expected 504 timeout, got $code: $resp")
      assert(elapsedSec < 25,
        s"took ${elapsedSec}s — the deadline did not kill the running jobs")
      // generous deadline: 5 min — under parallel-suite core contention a
      // fast statement can still QUEUE for a while; the point is only that
      // an unexpired deadline never fires
      val (c2, r2) = post(port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(*) AS c FROM events_ds",
            "context": {"timeout": 300000}}""")
      assert(c2 == 200 && r2.contains("\"c\":2000"), s"$c2: $r2")
    } finally server.stop()
  }

  test("async statements API: submit → poll → results lifecycle, FAILED " +
      "statements carry errorDetails, cancel → CANCELED, unknown ids 404") {
    val tmp = Files.createTempDirectory("graft-stmts").toString
    val df = spark.range(100).select(
      lit(Timestamp.valueOf("2024-03-01 12:00:00")).as("__time"),
      col("id").as("uid"))
    val big = spark.range(2000).select(
      lit(Timestamp.valueOf("2024-03-01 12:00:00")).as("__time"),
      col("id").as("uid"))
    val server = new HttpIngestServer(spoolDir = tmp,
      queryRoutes = Map("events_ds" -> (() => df), "big_ds" -> (() => big)))
    val port = server.start()
    def pollState(id: String, until: Set[String], maxSec: Int = 60): String = {
      val deadline = System.nanoTime() + maxSec * 1000L * 1000 * 1000
      var st = ""
      while (!until(st) && System.nanoTime() < deadline) {
        Thread.sleep(50)
        val (c, b) = get(port, s"/druid/v2/sql/statements/$id")
        assert(c == 200, b)
        st = """"state":"([A-Z]+)"""".r.findFirstMatchIn(b).get.group(1)
      }
      st
    }
    try {
      // happy path: submit, 202 ACCEPTED, poll to SUCCESS, fetch results
      val (c0, b0) = post(port, "/druid/v2/sql/statements",
        """{"query": "SELECT COUNT(*) AS c, CAST(SUM(uid) AS BIGINT) AS s FROM events_ds",
            "context": {"sqlQueryId": "stmt-ok"}}""")
      assert(c0 == 202 && b0.contains("\"state\":\"ACCEPTED\""), s"$c0: $b0")
      assert(pollState("stmt-ok", Set("SUCCESS", "FAILED")) == "SUCCESS")
      val (c1, b1) = get(port, "/druid/v2/sql/statements/stmt-ok/results")
      assert(c1 == 200 && b1.contains("\"c\":100") && b1.contains("\"s\":4950"),
        s"$c1: $b1")
      // results before completion / unknown ids
      assert(get(port, "/druid/v2/sql/statements/never-was")._1 == 404)
      assert(get(port, "/druid/v2/sql/statements/never-was/results")._1 == 404)
      // failure path: bad SQL → FAILED with errorDetails; results → 400
      val (c2, _) = post(port, "/druid/v2/sql/statements",
        """{"query": "SELECT no_such_col FROM events_ds",
            "context": {"sqlQueryId": "stmt-bad"}}""")
      assert(c2 == 202)
      assert(pollState("stmt-bad", Set("SUCCESS", "FAILED")) == "FAILED")
      val (c3, b3) = get(port, "/druid/v2/sql/statements/stmt-bad")
      assert(c3 == 200 && b3.contains("errorDetails"), s"$c3: $b3")
      assert(get(port, "/druid/v2/sql/statements/stmt-bad/results")._1 == 400)
      // duplicate id rejected
      assert(post(port, "/druid/v2/sql/statements",
        """{"query": "SELECT 1", "context": {"sqlQueryId": "stmt-ok"}}""")._1 == 400)
      // the statements surface as MSQ query tasks in sys.tasks; the other
      // metadata tables complete alongside
      val (c6, b6) = post(port, "/druid/v2/sql",
        """{"query": "SELECT task_id, type, status FROM sys.tasks ORDER BY task_id"}""")
      assert(c6 == 200 && b6.contains("\"task_id\":\"stmt-ok\"") &&
        b6.contains("\"task_id\":\"stmt-bad\"") &&
        b6.contains("\"type\":\"query_controller\"") &&
        b6.contains("\"status\":\"SUCCESS\"") && b6.contains("\"status\":\"FAILED\""),
        s"$c6: $b6")
      val (c7, b7) = post(port, "/druid/v2/sql",
        """{"query": "SELECT SCHEMA_NAME FROM INFORMATION_SCHEMA.SCHEMATA ORDER BY SCHEMA_NAME"}""")
      assert(c7 == 200 &&
        b7.contains("\"SCHEMA_NAME\":\"druid\"") &&
        b7.contains("\"SCHEMA_NAME\":\"information_schema\"") &&
        b7.contains("\"SCHEMA_NAME\":\"sys\""), s"$c7: $b7")
      val (c8, b8) = post(port, "/druid/v2/sql",
        """{"query": "SELECT server, server_type, tier FROM sys.servers"}""")
      assert(c8 == 200 && b8.contains("\"server_type\":\"broker\""), s"$c8: $b8")
      // cancel path: a long statement goes CANCELED, not SUCCESS
      val (c4, _) = post(port, "/druid/v2/sql/statements",
        """{"query": "SELECT SUM(a.uid % (b.uid + 1) + c.uid) AS c FROM big_ds a, big_ds b, big_ds c",
            "context": {"sqlQueryId": "stmt-kill"}}""")
      assert(c4 == 202)
      pollState("stmt-kill", Set("RUNNING", "SUCCESS", "FAILED"), maxSec = 30)
      val (c5, b5) = delete(port, "/druid/v2/sql/statements/stmt-kill")
      assert(c5 == 202, s"$c5: $b5")
      val terminal = pollState("stmt-kill",
        Set("CANCELED", "SUCCESS", "FAILED"), maxSec = 120)
      assert(terminal == "CANCELED", s"expected CANCELED, got $terminal")
    } finally server.stop()
  }

  test("forwarding beam → receiver → engine: two-hop E2E over the socket") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-beam").toString
    val spool = s"$tmp/spool"
    Files.createDirectories(Paths.get(spool, "events"))
    val schema = StructType(Seq(StructField("ts", StringType),
      StructField("etype", StringType), StructField("value", DoubleType)))
    val spec = IngestionSpec(
      DataSchema("events", TimestampSpec("ts"),
        SpecificDimensions(Seq("etype")),
        Seq(AggregatorSpec("count", "cnt"),
          AggregatorSpec("doubleSum", "total", Some("value"))),
        GranularitySpec(Granularity.Hour, Granularity.Hour)),
      Tuning(windowPeriod = java.time.Duration.ofMinutes(30)))

    // hop 2: receiver + its ingest query
    val receiver = new IngestStream(spark, spec, s"$tmp/checkpoint-recv")
    receiver.start(Sources.jsonFileStream(spark, s"$spool/events", schema),
      s"$tmp/out", now = lit(Timestamp.valueOf("2024-03-01 12:00:00")),
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
    val server = new HttpIngestServer(spool, routes = Map("events" -> receiver))
    val port = server.start()
    try {
      // hop 1: a sender stream forwarding through the beam (chunk size 2 →
      // 3 events exercise the chunking path)
      case class E(ts: String, etype: String, value: Double)
      val input = MemoryStream[(String, String, Double)]
      val sender = input.toDF().toDF("ts", "etype", "value")
        .writeStream
        .option("checkpointLocation", s"$tmp/checkpoint-send")
        .foreachBatch(graft.sink.HttpForwardBeam.forward(
          s"http://127.0.0.1:$port/v1/post/events", maxBatchSize = 2) _)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
        .start()
      input.addData(
        ("2024-03-01 12:01:00", "click", 1.0),
        ("2024-03-01 12:02:00", "click", 2.0),
        ("2024-03-01 12:03:00", "view", 4.0))
      sender.processAllAvailable()
      sender.stop()
      receiver.activeQuery.get.processAllAvailable()
      receiver.flushAndStop()

      assert(receiver.received == 3 && receiver.sent == 3)
      val out = spark.read.parquet(s"$tmp/out")
      val agg = out.groupBy($"etype").agg(sum($"cnt").as("cnt"), sum($"total").as("t"))
        .as[(String, Long, Double)].collect().toSet
      assert(agg == Set(("click", 2L, 3.0), ("view", 1L, 4.0)))

      // at-least-once: a dead endpoint fails the micro-batch loudly
      intercept[Exception] {
        graft.sink.HttpForwardBeam.post(s"http://127.0.0.1:1/v1/post/x", "{}", attempts = 1)
      }
    } finally server.stop()
  }

  test("receiver → spool → stream: replies, drops, conservation") {
    val tmp = Files.createTempDirectory("graft-http").toString
    val spool = s"$tmp/spool"
    Files.createDirectories(Paths.get(spool, "events"))
    val schema = StructType(Seq(StructField("ts", StringType),
      StructField("etype", StringType), StructField("value", DoubleType)))
    val spec = IngestionSpec(
      DataSchema("events", TimestampSpec("ts"),
        SpecificDimensions(Seq("etype")),
        Seq(AggregatorSpec("count", "cnt"),
          AggregatorSpec("doubleSum", "total", Some("value"))),
        GranularitySpec(Granularity.Hour, Granularity.Hour)),
      Tuning(windowPeriod = java.time.Duration.ofMinutes(30)))

    val ingest = new IngestStream(spark, spec, s"$tmp/checkpoint")
    ingest.start(Sources.jsonFileStream(spark, s"$spool/events", schema),
      s"$tmp/out", now = lit(Timestamp.valueOf("2024-03-01 12:00:00")),
      trigger = Trigger.ProcessingTime(50))
    val server = new HttpIngestServer(spool, routes = Map("events" -> ingest))
    val port = server.start()
    try {
      // NDJSON body: 4 events, one outside the ±30m window → sent=3
      val (c1, b1) = post(port, "/v1/post/events",
        """{"ts":"2024-03-01 11:50:00","etype":"click","value":1.0}
          |{"ts":"2024-03-01 12:10:00","etype":"click","value":2.0}
          |{"ts":"2024-03-01 12:15:00","etype":"view","value":4.0}
          |{"ts":"2024-03-01 11:00:00","etype":"click","value":8.0}""".stripMargin)
      assert(c1 == 200 && b1 == """{"result":{"received":4,"sent":3}}""")

      // JSON-array body, same endpoint
      val (c2, b2) = post(port, "/v1/post/events",
        """[{"ts":"2024-03-01 12:20:00","etype":"click","value":16.0},
          | {"ts":"2024-03-01 12:25:00","etype":"view","value":32.0}]""".stripMargin)
      assert(c2 == 200 && b2 == """{"result":{"received":2,"sent":2}}""")

      // async: fire-and-forget reply (sent=0), drained on the next trigger
      val (c3, b3) = post(port, "/v1/post/events?async=true",
        """{"ts":"2024-03-01 12:29:00","etype":"click","value":64.0}""")
      assert(c3 == 200 && b3 == """{"result":{"received":1,"sent":0}}""")
      ingest.activeQuery.get.processAllAvailable()

      // malformed body → 400, nothing spooled
      val (c4, _) = post(port, "/v1/post/events", """{"broken": """)
      assert(c4 == 400)
      // non-object NDJSON line → 400 too
      val (c5, _) = post(port, "/v1/post/events", "[1, 2, 3]")
      assert(c5 == 400)

      // conservation across the socket: received = sent + dropped
      ingest.flushAndStop()
      assert(ingest.received == 7 && ingest.sent == 6 && ingest.dropped == 1)
      val out = spark.read.parquet(s"$tmp/out")
      assert(out.agg(sum($"cnt")).as[Long].head() == 6L)
      assert(out.agg(sum($"total")).as[Double].head() == 1.0 + 2 + 4 + 16 + 32 + 64)
    } finally server.stop()
  }

  test("SQL results stream row-at-a-time: chunked encoding (no " +
      "Content-Length), full multi-partition result intact, errors still " +
      "clean 400s") {
    val tmp = Files.createTempDirectory("graft-http-stream").toString
    // multi-partition frame well above the old collect()'d sizes: the
    // renderer holds ONE partition of rows at a time (toLocalIterator)
    val df = spark.range(60000).select(
      lit(Timestamp.valueOf("2024-03-01 12:00:00")).as("__time"),
      col("id"),
      concat(lit("u"), (col("id") % 1000).cast("string")).as("user"))
      .repartition(8)
    val server = new HttpIngestServer(tmp,
      queryRoutes = Map("big_ds" -> (() => df)))
    val port = server.start()
    try {
      val req = HttpRequest.newBuilder()
        .uri(URI.create(s"http://127.0.0.1:$port/druid/v2/sql"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(
          """{"query": "SELECT id, user FROM big_ds",
              "resultFormat": "objectLines",
              "context": {"maxQueryRows": 100000}}""")).build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      assert(resp.statusCode() == 200)
      // chunked transfer: headers commit BEFORE rows render — there is no
      // Content-Length because there is never a materialized body
      assert(resp.headers().firstValue("content-length").isEmpty,
        resp.headers().map().toString)
      val lines = resp.body().linesIterator.toSeq
      assert(lines.size == 60000, lines.size)
      assert(lines.forall(l => l.startsWith("{") && l.endsWith("}")))

      // csv streams through the same path, header first, same row count
      val (cc, cb) = post(port, "/druid/v2/sql",
        """{"query": "SELECT id FROM big_ds ORDER BY id",
            "resultFormat": "csv", "header": true,
            "context": {"maxQueryRows": 100000}}""")
      assert(cc == 200)
      val csvLines = cb.linesIterator.toSeq
      assert(csvLines.size == 60001 && csvLines.head == "id")
      assert(csvLines(1) == "0" && csvLines.last == "59999")

      // the native endpoint shares the streamed renderer; a default scan is
      // the "list" envelope (3 batches of the default 20480 batchSize)
      val (nc, nb) = post(port, "/druid/v2",
        """{"queryType": "scan", "dataSource": "big_ds",
            "columns": ["id"], "context": {"maxQueryRows": 100000}}""")
      assert(nc == 200, nb.take(200))
      val nEnv = new com.fasterxml.jackson.databind.ObjectMapper().readTree(nb)
      assert(nEnv.isArray && nEnv.size == 3, nEnv.size) // ceil(60000/20480)
      assert((0 until nEnv.size).map(nEnv.get(_).get("events").size).sum == 60000)

      // explicit scan resultFormat → Druid's batched envelope: 3 batches of
      // batchSize with columns + events; compactedList is positional
      val (sc1, sb1) = post(port, "/druid/v2",
        """{"queryType": "scan", "dataSource": "big_ds",
            "columns": ["id", "user"], "resultFormat": "compactedList",
            "batchSize": 25000, "context": {"maxQueryRows": 100000}}""")
      assert(sc1 == 200)
      val env = new com.fasterxml.jackson.databind.ObjectMapper().readTree(sb1)
      assert(env.isArray && env.size == 3, env.size) // 60000 / 25000
      assert(env.get(0).get("columns").toString == """["id","user"]""")
      assert(env.get(0).get("events").size == 25000 &&
        env.get(2).get("events").size == 10000)
      assert(env.get(0).get("events").get(0).isArray) // positional
      val (sc2, sb2) = post(port, "/druid/v2",
        """{"queryType": "scan", "dataSource": "big_ds",
            "columns": ["id"], "resultFormat": "list", "batchSize": 40000,
            "context": {"maxQueryRows": 100000}}""")
      assert(sc2 == 200)
      val env2 = new com.fasterxml.jackson.databind.ObjectMapper().readTree(sb2)
      assert(env2.size == 2 && env2.get(0).get("events").get(0).isObject)
      val (sc3, sb3) = post(port, "/druid/v2",
        """{"queryType": "scan", "dataSource": "big_ds",
            "columns": ["id"], "resultFormat": "valueVector"}""")
      assert(sc3 == 400 && sb3.contains("valueVector"), sb3)

      // analysis errors surface as clean 400s (forced before any byte),
      // and an unsupported resultFormat is rejected pre-stream too
      val (bc, _) = post(port, "/druid/v2/sql",
        """{"query": "SELECT nope FROM big_ds"}""")
      assert(bc == 400)
      val (fc, fb) = post(port, "/druid/v2/sql",
        """{"query": "SELECT id FROM big_ds", "resultFormat": "yaml"}""")
      assert(fc == 400 && fb.contains("resultFormat"), fb)

      // context.sqlTimeZone: non-UTC would silently shift every bucket if
      // ignored → loud 400; UTC aliases pass through
      val (tzc1, tzb1) = post(port, "/druid/v2/sql",
        """{"query": "SELECT count(*) AS c FROM big_ds",
            "context": {"sqlTimeZone": "America/Los_Angeles"}}""")
      assert(tzc1 == 400 && tzb1.contains("sqlTimeZone"), tzb1)
      val (tzc2, _) = post(port, "/druid/v2/sql",
        """{"query": "SELECT count(*) AS c FROM big_ds",
            "context": {"sqlTimeZone": "Etc/UTC"}}""")
      assert(tzc2 == 200)

      // context.useApproximateCountDistinct=true → COUNT(DISTINCT) runs
      // the HLL++ aggregate (approximate at 1000 distinct: within rsd
      // bounds, not equal); the default stays EXACT
      val (ac, ab) = post(port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(DISTINCT user) AS u FROM big_ds",
            "context": {"useApproximateCountDistinct": true}}""")
      assert(ac == 200, ab)
      val approxU = """"u":(\d+)""".r.findFirstMatchIn(ab).get.group(1).toLong
      assert(math.abs(approxU - 1000L) <= 200L, ab)
      val (ec, eb) = post(port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(DISTINCT user) AS u FROM big_ds"}""")
      assert(ec == 200 && eb.contains("\"u\":1000"), eb)

      // typesHeader/sqlTypesHeader (Druid 0.23+): names → Druid types →
      // SQL types rows, in that order; flags without header are loud
      val (tc, tb) = post(port, "/druid/v2/sql",
        """{"query": "SELECT __time, id, user FROM big_ds LIMIT 1",
            "resultFormat": "arrayLines", "header": true,
            "typesHeader": true, "sqlTypesHeader": true}""")
      assert(tc == 200, tb)
      val tLines = tb.linesIterator.toSeq
      assert(tLines.size == 4)
      assert(tLines(0) == """["__time","id","user"]""")
      assert(tLines(1) == """["LONG","LONG","STRING"]""")
      assert(tLines(2) == """["TIMESTAMP","BIGINT","VARCHAR"]""")
      val (oc, ob) = post(port, "/druid/v2/sql",
        """{"query": "SELECT id, user FROM big_ds LIMIT 1",
            "resultFormat": "objectLines", "header": true,
            "typesHeader": true}""")
      assert(oc == 200 &&
        ob.linesIterator.next() ==
          """{"id":{"type":"LONG"},"user":{"type":"STRING"}}""", ob.take(200))
      val (hc, hb) = post(port, "/druid/v2/sql",
        """{"query": "SELECT id FROM big_ds", "typesHeader": true}""")
      assert(hc == 400 && hb.contains("header"), hb)
    } finally server.stop()
  }

  test("compact task with hashed partitionsSpec: bucketed at-rest layout, " +
      "queries stay correct, zero-exchange self-join, terminal-layout guards") {
    spark.version
    val tmp = Files.createTempDirectory("graft-bktapi").toString
    Files.createDirectories(Paths.get(s"$tmp/spool"))
    // NO queryRoutes: a task-only server must still serve /druid/v2 and
    // /druid/v2/sql for the stores its tasks create (review finding r7 —
    // the old gate 404'd queries unless a static route existed)
    val server = new HttpIngestServer(s"$tmp/spool",
      indexTaskRoot = Some(s"$tmp/tasks"))
    val port = server.start()
    try {
      def task(append: Boolean, data: String) =
        s"""{"type": "index_parallel", "spec": {
             "dataSchema": {"dataSource": "bkt_ds",
               "timestampSpec": {"column": "ts", "format": "auto"},
               "dimensionsSpec": {"dimensions": ["etype"]},
               "metricsSpec": [{"type": "count", "name": "cnt"},
                 {"type": "doubleSum", "name": "total", "fieldName": "value"}],
               "granularitySpec": {"segmentGranularity": "DAY",
                                   "queryGranularity": "DAY"}},
             "ioConfig": {"type": "index_parallel",
               "inputSource": {"type": "inline", "data": "$data"},
               "inputFormat": {"type": "csv", "columns": ["ts", "etype", "value"]},
               "appendToExisting": $append}}}"""
      val (c1, b1) = post(port, "/druid/indexer/v1/task",
        task(append = false,
          "2024-03-01 01:00:00,click,1.0\\n2024-03-01 02:00:00,view,2.0\\n" +
            "2024-03-02 01:00:00,click,4.0"))
      assert(c1 == 200, b1)
      val (c2, b2) = post(port, "/druid/indexer/v1/task",
        task(append = true, "2024-03-02 02:00:00,view,8.0"))
      assert(c2 == 200, b2)
      // hashed-partitionsSpec compaction: Druid's tuningConfig analog →
      // the bucketed at-rest layout (partitionDimensions = bucket dims)
      val (cc, cb) = post(port, "/druid/indexer/v1/task",
        """{"type": "compact", "dataSource": "bkt_ds",
            "tuningConfig": {"partitionsSpec": {"type": "hashed",
              "partitionDimensions": ["etype"], "numShards": 4}}}""")
      assert(cc == 200, cb)
      val idc = "index_graft_[0-9a-f]+".r.findFirstIn(cb).get
      val (scc, scb) = get(port, s"/druid/indexer/v1/task/$idc/status")
      assert(scc == 200 && scb.contains("\"status\":\"SUCCESS\""), scb)
      // queries over the bucketed store answer identically (plain read path)
      val (qc, qb) = post(port, "/druid/v2/sql",
        """{"query": "SELECT etype, SUM(cnt) AS n, SUM(total) AS t FROM bkt_ds GROUP BY etype ORDER BY etype"}""")
      assert(qc == 200 && qb.contains("\"n\":2") && qb.contains("\"t\":5.0") &&
        qb.contains("\"t\":10.0"), qb)
      // the layout is real: readBucketed self-join plans with ZERO exchanges
      // (broadcast disabled so the tiny table doesn't sidestep the check)
      val bktDir = s"$tmp/tasks/bkt_ds__bucketed"
      assert(graft.sink.SegmentStore.hasBucketLayout(spark, bktDir))
      val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      try {
        val t = graft.sink.SegmentStore.readBucketed(spark, bktDir,
          "graft_task_bkt_ds")
        val joined = t.as("a").join(t.as("b"), "etype")
          .select(col("a.cnt"), col("b.total"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"bucketed self-join must not shuffle:\n$plan")
        assert(joined.count() > 0)
      } finally
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      // …and the pre-compaction partials dir is gone (one live store)
      assert(!Files.exists(Paths.get(s"$tmp/tasks/bkt_ds")))
      // terminal layout: index/append, kill, and retention all refuse loudly
      val (ca, ba) = post(port, "/druid/indexer/v1/task",
        task(append = true, "2024-03-03 01:00:00,click,16.0"))
      assert(ca == 200, ba)
      val ida = "index_graft_[0-9a-f]+".r.findFirstIn(ba).get
      val (sca, sba) = get(port, s"/druid/indexer/v1/task/$ida/status")
      assert(sca == 200 && sba.contains("\"status\":\"FAILED\"") &&
        sba.contains("bucketed"), sba)
      val (ck, bk) = post(port, "/druid/indexer/v1/task",
        """{"type": "kill", "dataSource": "bkt_ds",
            "interval": "2024-03-01T00:00:00/2024-03-02T00:00:00"}""")
      assert(ck == 200, bk)
      val idk = "index_graft_[0-9a-f]+".r.findFirstIn(bk).get
      val (sck, sbk) = get(port, s"/druid/indexer/v1/task/$idk/status")
      assert(sck == 200 && sbk.contains("\"status\":\"FAILED\"") &&
        sbk.contains("bucketed"), sbk)
      val (cr, br) = post(port,
        "/druid/coordinator/v1/rules/bkt_ds",
        """[{"type": "dropByInterval",
             "interval": "2024-03-01T00:00:00/2024-03-02T00:00:00"}]""")
      assert(cr == 400 && br.contains("bucketed"), s"$cr $br")
      // a second PLAIN compact refuses too (would discard the layout)
      val (cp, bp) = post(port, "/druid/indexer/v1/task",
        """{"type": "compact", "dataSource": "bkt_ds"}""")
      assert(cp == 200, bp)
      val idp = "index_graft_[0-9a-f]+".r.findFirstIn(bp).get
      val (scp, sbp) = get(port, s"/druid/indexer/v1/task/$idp/status")
      assert(scp == 200 && sbp.contains("\"status\":\"FAILED\"") &&
        sbp.contains("bucketed"), sbp)
    } finally server.stop()
  }

  test("index task with a hyperUnique metric: the store answers native and " +
      "SQL queries before and after compaction") {
    spark.version // force the shared session so handler threads see a default
    val tmp = Files.createTempDirectory("graft-index-hu").toString
    Files.createDirectories(Paths.get(s"$tmp/spool"))
    val server = new HttpIngestServer(s"$tmp/spool",
      indexTaskRoot = Some(s"$tmp/tasks"))
    val port = server.start()
    try {
      val (c1, b1) = post(port, "/druid/indexer/v1/task",
        """{"type": "index_parallel", "spec": {
             "dataSchema": {"dataSource": "hu_batch",
               "timestampSpec": {"column": "ts", "format": "auto"},
               "dimensionsSpec": {"dimensions": ["etype"]},
               "metricsSpec": [{"type": "count", "name": "cnt"},
                 {"type": "hyperUnique", "name": "users", "fieldName": "user"}],
               "granularitySpec": {"segmentGranularity": "DAY",
                                   "queryGranularity": "DAY"}},
             "ioConfig": {"type": "index_parallel",
               "inputSource": {"type": "inline", "data": "2024-03-01 01:00:00,click,u1\n2024-03-01 02:00:00,click,u2\n2024-03-01 03:00:00,click,u1"},
               "inputFormat": {"type": "csv", "columns": ["ts", "etype", "user"]}}}}""")
      assert(c1 == 200, b1)
      val id1 = "index_graft_[0-9a-f]+".r.findFirstIn(b1).get
      val (sc1, sb1) = get(port, s"/druid/indexer/v1/task/$id1/status")
      assert(sc1 == 200 && sb1.contains("\"status\":\"SUCCESS\""), sb1)
      val native =
        """{"queryType": "timeseries", "dataSource": "hu_batch", "granularity": "all",
            "aggregations": [{"type": "longSum", "name": "u", "fieldName": "users"}]}"""
      val sql = """{"query": "SELECT SUM(users) AS u FROM hu_batch"}"""
      def answers(): Unit = {
        val (nc, nb) = post(port, "/druid/v2", native)
        assert(nc == 200 && nb.contains("\"u\":2"), nb)
        val (qc, qb) = post(port, "/druid/v2/sql", sql)
        assert(qc == 200 && qb == """[{"u":2}]""", qb)
      }
      answers()
      // compaction keeps the HLL binary, so the compacted store re-merges
      val (cc, cb) = post(port, "/druid/indexer/v1/task",
        """{"type": "compact", "dataSource": "hu_batch"}""")
      assert(cc == 200, cb)
      val idc = "index_graft_[0-9a-f]+".r.findFirstIn(cb).get
      val (scc, scb) = get(port, s"/druid/indexer/v1/task/$idc/status")
      assert(scc == 200 && scb.contains("\"status\":\"SUCCESS\""), scb)
      answers()
    } finally server.stop()
  }

  test("JSON batch-ingestion task API: index_parallel submit/status, SQL + " +
      "native queries over the store, append re-merge, sys.tasks, failure") {
    spark.version // force the shared session so handler threads see a default
    val tmp = Files.createTempDirectory("graft-indexer").toString
    Files.createDirectories(Paths.get(s"$tmp/spool"))
    val server = new HttpIngestServer(s"$tmp/spool",
      queryRoutes = Map("dummy_ds" -> (() =>
        Seq((Timestamp.valueOf("2024-03-01 00:00:00"), 1L)).toDF("__time", "v"))),
      indexTaskRoot = Some(s"$tmp/tasks"))
    val port = server.start()
    try {
      def task(append: Boolean, data: String) =
        s"""{"type": "index_parallel", "spec": {
             "dataSchema": {"dataSource": "batch_ds",
               "timestampSpec": {"column": "ts", "format": "auto"},
               "dimensionsSpec": {"dimensions": ["etype"]},
               "metricsSpec": [{"type": "count", "name": "cnt"},
                 {"type": "doubleSum", "name": "total", "fieldName": "value"}],
               "granularitySpec": {"segmentGranularity": "DAY",
                                   "queryGranularity": "DAY"}},
             "ioConfig": {"type": "index_parallel",
               "inputSource": {"type": "inline", "data": "$data"},
               "inputFormat": {"type": "csv", "columns": ["ts", "etype", "value"]},
               "appendToExisting": $append}}}"""
      // submit: replaces the dataSource (default), modern dataSchema layout
      val (c1, b1) = post(port, "/druid/indexer/v1/task",
        task(append = false,
          "2024-03-01 01:00:00,click,1.0\\n2024-03-01 02:00:00,click,2.0\\n" +
            "2024-03-02 01:00:00,view,4.0"))
      assert(c1 == 200 && b1.contains("\"task\":\"index_graft_"), b1)
      val id1 = "index_graft_[0-9a-f]+".r.findFirstIn(b1).get
      // status: Druid's envelope, SUCCESS, rows = rolled-up store rows
      val (sc1, sb1) = get(port, s"/druid/indexer/v1/task/$id1/status")
      assert(sc1 == 200, sb1)
      assert(sb1.contains("\"status\":\"SUCCESS\"") &&
        sb1.contains("\"dataSource\":\"batch_ds\"") &&
        sb1.contains("\"rowsProcessed\":2"), sb1)
      // the dataSource is queryable over SQL — day-rolled, finalized
      val (qc, qb) = post(port, "/druid/v2/sql",
        """{"query": "SELECT etype, SUM(cnt) AS n, SUM(total) AS t FROM batch_ds GROUP BY etype ORDER BY etype"}""")
      assert(qc == 200, qb)
      assert(qb.contains("\"etype\":\"click\"") && qb.contains("\"n\":2") &&
        qb.contains("\"t\":3.0"), qb)
      assert(qb.contains("\"etype\":\"view\"") && qb.contains("\"t\":4.0"), qb)
      // appendToExisting=true: a second batch whose partials RE-MERGE with
      // the first at read (same day+etype bucket folds into one row)
      val (c2, b2) = post(port, "/druid/indexer/v1/task",
        task(append = true, "2024-03-01 03:00:00,click,8.0"))
      assert(c2 == 200, b2)
      // rowsProcessed is PER-TASK (Druid semantics), not cumulative: the
      // append's status reports its own 1 row, not the store's 3
      val id2 = "index_graft_[0-9a-f]+".r.findFirstIn(b2).get
      val (sc2b, sb2b) = get(port, s"/druid/indexer/v1/task/$id2/status")
      assert(sc2b == 200 && sb2b.contains("\"rowsProcessed\":1"), sb2b)
      val (qc2, qb2) = post(port, "/druid/v2/sql",
        """{"query": "SELECT etype, SUM(cnt) AS n, SUM(total) AS t FROM batch_ds GROUP BY etype ORDER BY etype"}""")
      assert(qc2 == 200, qb2)
      assert(qb2.contains("\"n\":3") && qb2.contains("\"t\":11.0"), qb2)
      // a SECOND overlapping append must NOT overwrite the first append's
      // rows (regression: batch ids were derived from a top-level dir count
      // that was always 0, so every append reused the same id and dynamic
      // partition overwrite silently dropped the previous append)
      val (c2b, b2b) = post(port, "/druid/indexer/v1/task",
        task(append = true, "2024-03-01 04:00:00,click,16.0"))
      assert(c2b == 200, b2b)
      val (qc2b, qb2b) = post(port, "/druid/v2/sql",
        """{"query": "SELECT SUM(cnt) AS n, SUM(total) AS t FROM batch_ds WHERE etype = 'click'"}""")
      assert(qc2b == 200 && qb2b.contains("\"n\":4") &&
        qb2b.contains("\"t\":27.0"), qb2b)
      // native query path resolves the task store too (__time present)
      val (nc, nb) = post(port, "/druid/v2",
        """{"queryType": "timeseries", "dataSource": "batch_ds",
            "granularity": "all",
            "aggregations": [{"type": "longSum", "name": "n",
                              "fieldName": "cnt"}]}""")
      assert(nc == 200 && nb.contains("\"n\":5"), nb)
      // sys.tasks lists both ingestion tasks as index_parallel
      val (tc, tb) = post(port, "/druid/v2/sql",
        """{"query": "SELECT task_id, type, status FROM sys.tasks WHERE type = 'index_parallel' ORDER BY task_id"}""")
      assert(tc == 200, tb)
      assert(tb.contains(id1) && tb.contains("\"type\":\"index_parallel\""), tb)
      // kill task: drops the whole Mar-2 day chunk (view rows), keeps Mar 1
      val (kc, kb) = post(port, "/druid/indexer/v1/task",
        """{"type": "kill", "dataSource": "batch_ds",
            "interval": "2024-03-02T00:00:00/2024-03-03T00:00:00"}""")
      assert(kc == 200, kb)
      val idk = "index_graft_[0-9a-f]+".r.findFirstIn(kb).get
      val (skc, skb) = get(port, s"/druid/indexer/v1/task/$idk/status")
      assert(skc == 200 && skb.contains("\"type\":\"kill\"") &&
        skb.contains("\"status\":\"SUCCESS\"") &&
        skb.contains("\"rowsProcessed\":1"), skb)
      val (qc3, qb3) = post(port, "/druid/v2/sql",
        """{"query": "SELECT etype, SUM(cnt) AS n FROM batch_ds GROUP BY etype ORDER BY etype"}""")
      assert(qc3 == 200 && qb3.contains("\"etype\":\"click\"") &&
        !qb3.contains("view"), qb3)
      // compact task: per-batch partials merge into one file per segment;
      // the queryable flips to the compacted store and answers identically
      val (cc, cb) = post(port, "/druid/indexer/v1/task",
        """{"type": "compact", "dataSource": "batch_ds"}""")
      assert(cc == 200, cb)
      val idc = "index_graft_[0-9a-f]+".r.findFirstIn(cb).get
      val (scc, scb) = get(port, s"/druid/indexer/v1/task/$idc/status")
      assert(scc == 200 && scb.contains("\"type\":\"compact\"") &&
        scb.contains("\"status\":\"SUCCESS\""), scb)
      val (qc4, qb4) = post(port, "/druid/v2/sql",
        """{"query": "SELECT etype, SUM(cnt) AS n, SUM(total) AS t FROM batch_ds GROUP BY etype ORDER BY etype"}""")
      assert(qc4 == 200 && qb4.contains("\"n\":4") &&
        qb4.contains("\"t\":27.0"), qb4)
      // append AFTER compact: the dataSource keeps ONE canonical dir, so
      // the new batch lands beside the compacted rows (regression: a
      // post-compact index task used to write to and re-register the
      // pre-compaction dir, silently discarding the compaction and
      // resurrecting killed segments)
      val (c5, b5) = post(port, "/druid/indexer/v1/task",
        task(append = true, "2024-03-01 05:00:00,click,32.0"))
      assert(c5 == 200, b5)
      val (qc4b, qb4b) = post(port, "/druid/v2/sql",
        """{"query": "SELECT SUM(cnt) AS n, SUM(total) AS t FROM batch_ds WHERE etype = 'click'"}""")
      assert(qc4b == 200 && qb4b.contains("\"n\":5") &&
        qb4b.contains("\"t\":59.0"), qb4b)
      // …and the killed Mar-2 'view' chunk stays killed, not resurrected
      val (qc4c, qb4c) = post(port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(*) AS n FROM batch_ds WHERE etype = 'view'"}""")
      assert(qc4c == 200 && qb4c.contains("\"n\":0"), qb4c)
      // a broken task fails LOUDLY via status (submit still returns the id)
      val (c3, b3) = post(port, "/druid/indexer/v1/task",
        """{"type": "wrong_type", "spec": {}}""")
      assert(c3 == 200, b3)
      val id3 = "index_graft_[0-9a-f]+".r.findFirstIn(b3).get
      val (sc3, sb3) = get(port, s"/druid/indexer/v1/task/$id3/status")
      assert(sc3 == 200 && sb3.contains("\"status\":\"FAILED\"") &&
        sb3.contains("unsupported task type"), sb3)
      // unknown task id is a 404
      val (sc4, _) = get(port, "/druid/indexer/v1/task/nope/status")
      assert(sc4 == 404)
      // the plural listing carries every submitted task with its type
      val (lc, lb) = get(port, "/druid/indexer/v1/tasks")
      assert(lc == 200, lb)
      assert(lb.contains(id1) && lb.contains(idk) && lb.contains(idc) &&
        lb.contains(id3), lb)
      assert(lb.contains("\"type\":\"kill\"") &&
        lb.contains("\"type\":\"compact\"") &&
        lb.contains("\"status\":\"FAILED\""), lb)

      // sampler: the spec-preview — pipeline over ≤numRows inputs, no
      // segments written; rollup folds 3 inputs into 2 indexed rows
      val (spc, spb) = post(port, "/druid/indexer/v1/sampler",
        s"""{"type": "index_parallel", "spec": {
             "dataSchema": {"dataSource": "batch_ds",
               "timestampSpec": {"column": "ts", "format": "auto"},
               "dimensionsSpec": {"dimensions": ["etype"]},
               "metricsSpec": [{"type": "count", "name": "cnt"},
                 {"type": "doubleSum", "name": "total", "fieldName": "value"}],
               "granularitySpec": {"segmentGranularity": "DAY",
                                   "queryGranularity": "DAY"}},
             "ioConfig": {"type": "index_parallel",
               "inputSource": {"type": "inline",
                 "data": "2024-03-01 01:00:00,click,1.0\\n2024-03-01 02:00:00,click,2.0\\n2024-03-02 01:00:00,view,4.0"},
               "inputFormat": {"type": "csv",
                 "columns": ["ts", "etype", "value"]}}},
            "samplerConfig": {"numRows": 100}}""")
      assert(spc == 200, spb)
      assert(spb.contains("\"numRowsRead\":3") &&
        spb.contains("\"numRowsIndexed\":2"), spb)
      assert(spb.contains("\"parsed\":{") && spb.contains("\"cnt\":2"), spb)
      // a bad sampler spec is a 400, not a 500
      val (spc2, spb2) = post(port, "/druid/indexer/v1/sampler",
        """{"type": "index_parallel", "spec": {"dataSchema":
            {"dataSource": "x"}}}""")
      assert(spc2 == 400, spb2)

      // coordinator retention rules: keep-last-window drops the 2024 data
      // (now ≫ 2024 + P30D), loadForever keeps, unsupported chains are loud
      val (rc0, rb0) = post(port, "/druid/coordinator/v1/rules/batch_ds",
        """[{"type": "loadForever"}]""")
      assert(rc0 == 200 && rb0.contains("\"dropped\":[]"), rb0)
      val (rcg, rbg) = get(port, "/druid/coordinator/v1/rules/batch_ds")
      assert(rcg == 200 && rbg.contains("loadForever"), rbg)
      val (rcx, rbx) = post(port, "/druid/coordinator/v1/rules/batch_ds",
        """[{"type": "dropForever"}]""")
      assert(rcx == 400 && rbx.contains("unsupported rule chain"), rbx)
      val (rc1, rb1) = post(port, "/druid/coordinator/v1/rules/batch_ds",
        """[{"type": "loadByPeriod", "period": "P30D"},
            {"type": "dropForever"}]""")
      assert(rc1 == 200 && rb1.contains("2024-03-01"), rb1)
      val (qc5, qb5) = post(port, "/druid/v2/sql",
        """{"query": "SELECT COUNT(*) AS n FROM batch_ds"}""")
      assert(qc5 == 400 && qb5.contains("no segments"), qb5)
    } finally server.stop()
  }
}
