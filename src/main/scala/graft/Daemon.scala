package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.current_timestamp
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DataType, StructType}

import graft.config.{IngestionSpec, SpecLoader}
import graft.sources.{HttpIngestServer, Sources}
import graft.streaming.IngestStream

/** The tranquility-server analog (upstream server/.../Main + its
  * dataSource-config property files, SURVEY §3.2): one process serving HTTP
  * ingest for N dataSources, each declared by a Druid-shaped ingestion-spec
  * JSON file and backed by its own routed streaming query + segment store.
  *
  * Wiring: per spec file → [[IngestStream.startRouted]] (mode picked from
  * the spec) tailing the dataSource's spool dir, all registered in one
  * [[HttpIngestServer]] routing map. `run` is the testable core; `main`
  * parses args and blocks until terminated.
  *
  * Usage:
  *   runMain graft.Daemon <workDir> <valueSchemaDDL> <spec.json> [spec2.json ...]
  *   (workDir gets spool/, checkpoints/, stores/; schema DDL like
  *    "ts STRING, etype STRING, value DOUBLE" — explicit, never inferred)
  */
object Daemon {

  final case class Handle(server: HttpIngestServer, port: Int,
      streams: Map[String, IngestStream]) {
    /** Ordered shutdown: stop accepting, drain every query, rebuild stats.
      * A stream whose query already died must not abort its siblings'
      * drains — every stream is attempted, then the first failure rethrows.
      */
    def close(): Unit = {
      server.stop()
      val failures = streams.toSeq.flatMap { case (ds, s) =>
        scala.util.Try(s.flushAndStop()).failed.toOption.map(ds -> _)
      }
      failures.headOption.foreach { case (ds, e) =>
        val ex = new RuntimeException(
          s"daemon shutdown: ${failures.size} stream(s) failed to drain " +
            s"(first: $ds)", e)
        // the other drains' causes ride along as suppressed — an operator
        // debugging a multi-stream shutdown sees every failure
        failures.drop(1).foreach { case (_, e2) => ex.addSuppressed(e2) }
        throw ex
      }
    }
  }

  /** Start receivers + ingest queries for `specs` (keyed by dataSource). */
  def run(spark: SparkSession, workDir: String, valueSchema: StructType,
      specs: Seq[IngestionSpec], port: Int = 0,
      trigger: Trigger = Trigger.ProcessingTime(500),
      now: org.apache.spark.sql.Column = current_timestamp()): Handle = {
    val names = specs.map(_.dataSchema.dataSource)
    require(names.distinct.size == names.size,
      s"duplicate dataSource across spec files: ${names.diff(names.distinct).distinct.mkString(",")}")
    // started incrementally: a later spec failing to start (bad aggregator
    // combination, claimed checkpoint) must stop the queries already
    // running, not leak them holding checkpoint locks
    val started = scala.collection.mutable.LinkedHashMap.empty[String, IngestStream]
    try specs.foreach { spec =>
      val ds = spec.dataSchema.dataSource
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$workDir/spool/$ds"))
      val ingest = new IngestStream(spark, spec, s"$workDir/checkpoints/$ds")
      ingest.startRouted(
        Sources.jsonFileStream(spark, s"$workDir/spool/$ds", valueSchema,
          maxFilesPerTrigger = 16),
        s"$workDir/stores/$ds", now = now, trigger = trigger)
      started += ds -> ingest
    } catch {
      case e: Throwable =>
        started.values.foreach(s =>
          scala.util.Try(s.activeQuery.foreach(_.stop())))
        throw e
    }
    val streams = started.toMap
    // broker-style query endpoint: each dataSource resolves to its store's
    // merged, finalized rollup view (fresh read per query; Druid's __time
    // envelope; the segment/bookkeeping columns are storage detail). Sketch
    // metrics arrive FINALIZED — the query edge's rendering, like the
    // broker; programmatic callers wanting re-mergeable binaries use
    // SegmentStore.read(finalizeSketches = false) directly.
    val queryRoutes = specs.map { spec =>
      val ds = spec.dataSchema.dataSource
      ds -> (() => {
        // a query before the first micro-batch commits must fail LOUD with
        // the real reason, not a raw PATH_NOT_FOUND 500 (the task-store
        // route already guards this; review finding r7) — the store read's
        // own footer listing finds no data files then
        val store = try graft.sink.SegmentStore
            .read(spark, s"$workDir/stores/$ds", spec)
          catch { case _: graft.sink.Footers.NoDataFiles =>
            throw new IllegalArgumentException(
              s"dataSource '$ds' has no committed segments yet — post " +
                "events and wait for the first micro-batch")
          }
        store.drop(graft.pipeline.Pipeline.SegmentCol)
          .withColumnRenamed(graft.pipeline.Pipeline.TsCol, "__time")
      })
    }.toMap
    // SQL ingestion (INSERT/REPLACE INTO … PARTITIONED BY) lands segments
    // beside the streaming stores, under its own namespace so a SQL-written
    // dataSource can never corrupt a stream's rollup store
    val server = new HttpIngestServer(s"$workDir/spool", routes = streams,
      queryRoutes = queryRoutes,
      sqlIngestRoot = Some(s"$workDir/sql_stores"),
      storeRoots = specs.map(sp => sp.dataSchema.dataSource ->
        s"$workDir/stores/${sp.dataSchema.dataSource}").toMap)
    val boundPort = server.start(port)
    Handle(server, boundPort, streams)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Daemon <workDir> <valueSchemaDDL> <spec.json> [spec2.json ...]")
    val Array(workDir, ddl, specPaths @ _*) = args
    val specs = specPaths.map(p => SpecLoader.fromJson(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val schema = DataType.fromDDL(ddl).asInstanceOf[StructType]
    val handle = run(spark, workDir, schema, specs)
    println(s"DAEMON_PORT=${handle.port}")
    sys.addShutdownHook(handle.close())
    handle.streams.values.foreach(_.activeQuery.foreach(_.awaitTermination()))
  }
}
