package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.config._
import graft.sources.Sources
import graft.streaming.IngestStream
import graft.time.Granularity

/** End-to-end streaming smoke over REAL testdata: replays the events table as
  * a file stream through the full ingest pipeline (SURVEY §7 minimum slice):
  * parse → timestamp → windowPeriod filter (observed drops) → rollup by
  * (hour, event_type) → segment-partitioned parquet. Prints a one-line JSON
  * summary with {received, sent, dropped, segments, rows}.
  *
  * Usage: runMain graft.tools.StreamSmoke [sfDir] [outDir] [--watermarked]
  * (`--watermarked` adds a hyperUnique metric, which routes the spec to
  * watermarked mode)
  */
object StreamSmoke {
  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    val sfDir = positional.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = positional.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-smoke").toString)

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // a finalized sketch (hyperUnique) routes the spec to watermarked mode
    // (per-batch partials can't re-merge finalized HLL values)
    val watermarked = args.contains("--watermarked")
    val aggs = Seq(
      AggregatorSpec("count", "cnt"),
      AggregatorSpec("doubleSum", "total_value", Some("value"))) ++
      (if (watermarked) Seq(AggregatorSpec("hyperUnique", "approx_users", Some("user_id")))
       else Nil)
    val spec = IngestionSpec(
      DataSchema("events", TimestampSpec("ts"),
        SpecificDimensions(Seq("event_type")), aggs,
        GranularitySpec(Granularity.Day, Granularity.Hour)),
      // events span 2024-01; "now" anchored mid-range with a wide window so
      // the run is deterministic (the TestingTimekeeper pattern)
      Tuning(windowPeriod = java.time.Duration.ofDays(10)))

    val t0 = System.nanoTime()
    val source = Sources.eventsReplay(spark, sfDir, s"$outDir/staging")
    val ingest = new IngestStream(spark, spec, s"$outDir/checkpoint")
    ingest.start(source, s"$outDir/out", now = to_timestamp(lit("2024-01-15 00:00:00")))
    ingest.flushAndStop()

    val out = spark.read.parquet(s"$outDir/out")
    val rows = out.count()
    val segments = out.select("segment").distinct().count()
    val merged = ingest.brokerView().count()
    val wmDropped = ingest.watermarkDropped
    val elapsed = (System.nanoTime() - t0) / 1e9
    val throughput = if (elapsed > 0) (ingest.received / elapsed).toLong else 0L
    println(s"""{"mode":"${if (watermarked) "watermarked" else "perBatch"}",""" +
      s""""received":${ingest.received},"sent":${ingest.sent},""" +
      s""""dropped":${ingest.dropped},"wm_dropped":$wmDropped,""" +
      s""""segments":$segments,"rows":$rows,""" +
      s""""merged_rows":$merged,"elapsed_sec":${f"$elapsed%.2f"},""" +
      s""""events_per_sec":$throughput,"out":"$outDir"}""")
    spark.stop()
    assert(rows > 0, "no output rows")
    assert(ingest.received == ingest.sent + ingest.dropped,
      "drop-count conservation violated")
  }
}
