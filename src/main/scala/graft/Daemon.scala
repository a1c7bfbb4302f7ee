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
  * Wiring: per spec file → one [[IngestStream]] (per-batch partials,
  * merged at read) tailing the dataSource's spool dir, all started and
  * stopped together ([[IngestStream.startAll]] / [[IngestStream.stopAll]])
  * and registered in one [[HttpIngestServer]] routing map, which also
  * serves each stream's store to the query endpoints (a store read installs
  * [[graft.plans.SegmentPruneRule]], so a query's `intervals` open only the
  * segments they cover). `run` is the testable
  * core; `main` parses args, opens a [[GraftSession.local]] session (the
  * checksummed local file system: a daemon's store keeps its `.crc`
  * fault-detection files) and blocks until terminated.
  *
  * Usage:
  *   runMain graft.Daemon <workDir> <valueSchemaDDL> <spec.json> [spec2.json ...]
  *   (workDir gets spool/, checkpoints/, stores/; schema DDL like
  *    "ts STRING, etype STRING, value DOUBLE" — explicit, never inferred)
  */
object Daemon {

  final case class Handle(server: HttpIngestServer, port: Int,
      streams: Map[String, IngestStream]) {
    /** Ordered shutdown: stop accepting, then drain and stop every query
      * ([[IngestStream.stopAll]]). */
    def close(): Unit = {
      server.stop()
      IngestStream.stopAll(streams.values)
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
    val streams = IngestStream.startAll(names.zip(specs)) { (ds, spec) =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$workDir/spool/$ds"))
      val ingest = new IngestStream(spark, spec, s"$workDir/checkpoints/$ds")
      ingest.start(
        Sources.jsonFileStream(spark, s"$workDir/spool/$ds", valueSchema,
          maxFilesPerTrigger = 16),
        s"$workDir/stores/$ds", now = now, trigger = trigger)
      ingest
    }
    // each routed stream serves its own store on the query endpoints.
    // SQL ingestion (INSERT/REPLACE INTO … PARTITIONED BY) lands segments
    // beside the streaming stores, under its own namespace so a SQL-written
    // dataSource can never corrupt a stream's rollup store
    val server = new HttpIngestServer(s"$workDir/spool", routes = streams,
      sqlIngestRoot = Some(s"$workDir/sql_stores"))
    val boundPort = server.start(port)
    Handle(server, boundPort, streams)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: Daemon <workDir> <valueSchemaDDL> <spec.json> [spec2.json ...]")
    val Array(workDir, ddl, specPaths @ _*) = args
    val specs = specPaths.map(p => SpecLoader.fromJson(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")))
    val spark = GraftSession.local()
    val schema = DataType.fromDDL(ddl).asInstanceOf[StructType]
    val handle = run(spark, workDir, schema, specs)
    println(s"DAEMON_PORT=${handle.port}")
    sys.addShutdownHook(handle.close())
    handle.streams.values.foreach(_.activeQuery.foreach(_.awaitTermination()))
  }
}
