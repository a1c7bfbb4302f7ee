package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.config._
import graft.time.Granularity

/** Per-batch duration breakdown of the streaming replay headliner — where
  * does the fixed cost per micro-batch actually go (source read, planning,
  * addBatch/sink, offset WAL, commit log)? Prints one JSON line per batch
  * from StreamingQueryProgress.durationMs plus the wall total.
  *
  * Usage: runMain graft.tools.ReplayProfile [sfDir]
  */
object ReplayProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // commit-knob experiment: no _SUCCESS markers, v2 committer
    if (sys.env.contains("FAST_COMMIT")) {
      b.config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      b.config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
    }
    if (sys.env.contains("NO_MARK"))
      b.config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    // local-fs experiment: RawLocalFileSystem skips the .crc shadow file per
    // written file (a ChecksumFileSystem artifact absent on HDFS/S3)
    if (sys.env.contains("RAW_FS"))
      b.config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    // route checkpoint WAL/commit IO through the FileSystem API (picks up
    // RawLocalFileSystem above) instead of FileContext+CRC
    if (sys.env.contains("FS_CKPT"))
      b.config("spark.sql.streaming.checkpointFileManagerClass",
        "org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val spec = IngestionSpec(DataSchema("events_replay",
      TimestampSpec("ts"), SpecificDimensions(Seq("event_type")),
      Seq(AggregatorSpec("count", "cnt"),
        AggregatorSpec("doubleSum", "sum_value", Some("value"))),
      GranularitySpec(Granularity.Day, Granularity.Hour)),
      Tuning(windowPeriod = java.time.Duration.ofDays(3650), partitions = 8))
    // MAX_FILES sizes the micro-batch (default 8 = the shipped query's
    // single-batch shape since r9; set 1 to profile the 8-batch ladder)
    val maxFiles = sys.env.getOrElse("MAX_FILES", "8").toInt
    // COUNT_ONLY=1 replaces the sink with a bare count — isolates the
    // rollup+repartition compute from the parquet dynamic-overwrite commit
    val writer: Option[(org.apache.spark.sql.DataFrame, Long) => Unit] =
      if (sys.env.contains("COUNT_ONLY")) Some((df, _) => { df.count(); () })
      else None

    // two passes in one JVM: pass 0 is cold (JIT + codegen + parquet footer
    // cache), pass 1 is what a bench repeat pays — the floor analysis the r8
    // verdict asked for needs the WARM phase split
    for (pass <- 0 to 1) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-replay-prof").toString
      val t0 = System.nanoTime()
      val stream = graft.sources.Sources.eventsReplay(spark, sfDir, s"$tmp/staging",
        splits = 8, maxFilesPerTrigger = maxFiles)
      val tStage = (System.nanoTime() - t0) / 1e9
      val ingest = new graft.streaming.IngestStream(spark, spec, s"$tmp/checkpoint")
      val t1 = System.nanoTime()
      val q = ingest.start(stream, s"$tmp/out",
        now = to_timestamp(lit("2024-01-15 00:00:00")),
        trigger = Trigger.AvailableNow(), writer = writer)
      q.processAllAvailable()
      val tBatch = (System.nanoTime() - t1) / 1e9
      val t2 = System.nanoTime()
      ingest.flushAndStop() // stop + deferred zone-map rebuild
      val tStats = (System.nanoTime() - t2) / 1e9
      val t3 = System.nanoTime()
      if (!sys.env.contains("COUNT_ONLY"))
        Force.noop(graft.sink.SegmentStore.read(spark, s"$tmp/out", spec))
      val tRead = (System.nanoTime() - t3) / 1e9
      val total = (System.nanoTime() - t0) / 1e9
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        println(s"""{"pass":$pass,"batch":${p.batchId},"rows":${p.numInputRows},""" +
          s""""durationMs":${d.toString.replace("=", "\":").replace(", ", ",\"").replace("{", "{\"")}}""")
      }
      println(f"""{"pass":$pass,"staging_sec":$tStage%.2f,"batch_sec":$tBatch%.2f,""" +
        f""""stats_sec":$tStats%.2f,"read_sec":$tRead%.2f,"total_sec":$total%.2f}""")

      // batch-mode equivalent of the same pipeline (no streaming machinery:
      // no offset WAL, no trigger planning, no foreachBatch re-analysis) —
      // the delta against batch_sec is the Structured-Streaming fixed cost,
      // i.e. the floor the replay headliner cannot go below while it remains
      // a real stream (r8 verdict #1 floor analysis)
      val p = new graft.pipeline.Pipeline(spec)
      val tb = System.nanoTime()
      // same files the stream consumed
      val staged = spark.read.parquet(s"$tmp/staging")
      val rolled = p.withSegment(p.rollup(p.project(p.windowFilter(
          p.extractTimestamp(staged), to_timestamp(lit("2024-01-15 00:00:00"))))))
        .repartition(8, org.apache.spark.sql.functions.col(graft.pipeline.Pipeline.SegmentCol))
      Force.noop(rolled)
      println(f"""{"pass":$pass,"batch_equiv_sec":${(System.nanoTime() - tb) / 1e9}%.2f}""")
    }
    spark.stop()
  }
}
