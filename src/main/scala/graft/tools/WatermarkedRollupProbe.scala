package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.config._
import graft.time.Granularity

/** State-backend A/B for the SECOND state-heavy streaming operator
  * (verdict r9 #7): the watermarked streaming rollup
  * ([[graft.streaming.IngestStream.start]] in watermarked mode — a windowed
  * aggregation whose per-bucket partials live in the state store until the
  * event-time watermark finalizes them, chained after the at-source exact
  * dedup when dedupKeys are set). StreamDedup's measurements suggested the
  * HDFS-backed store's full-map snapshot cost taxes EVERY stateful
  * operator, not just dedup — this probe answers that for the rollup with
  * the same `SPARK_GRAFT_STATE_STORE` switch (StateStoreEnv) and the same
  * per-batch decomposition.
  *
  * Shape: events ×`SPARK_GRAFT_PROBE_SCALE`, with user_id (a GROUPING
  * dimension here) remapped per copy so the state-row count scales ×N
  * while the timeline stays put; staged as ts-range-ordered files fed
  * `SPARK_GRAFT_PROBE_FILES_PER_TRIGGER` files per micro-batch, so the
  * watermark ADVANCES across batches and buckets complete their full
  * state lifecycle (insert → update → watermark-finalize → emit+evict) —
  * a backend comparison that only ever inserts would flatter snapshotting
  * stores. windowPeriod (= watermark) is 6h against an hourly
  * queryGranularity, so most buckets finalize mid-stream. The spec carries
  * a hyperUnique metric so that it routes to watermarked mode; that adds a
  * sketch buffer to every state row, so its numbers are not comparable with
  * the r10 artifact, which was measured without it.
  *
  * Prints ONE JSON line. Run:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_PROBE_SCALE=30 \
  *   SPARK_GRAFT_STATE_STORE=rocksdb SPARK_GRAFT_STATE_PARTS=8 \
  *   sbt "runMain graft.tools.WatermarkedRollupProbe"
  */
object WatermarkedRollupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val stateParts = sys.env.getOrElse("SPARK_GRAFT_STATE_PARTS", cpus)
    val files = sys.env.getOrElse("SPARK_GRAFT_PROBE_FILES", "8").toInt
    val perTrigger = sys.env.getOrElse("SPARK_GRAFT_PROBE_FILES_PER_TRIGGER",
      "8").toInt
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", stateParts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", 4 * 1024 * 1024)
    val stateStore = StateStoreEnv(builder)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val scale = sys.env.getOrElse("SPARK_GRAFT_PROBE_SCALE", "1").toInt
    val base = graft.queries.Tables.t(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    val events =
      if (scale <= 1) base
      else base.crossJoin(spark.range(scale).withColumnRenamed("id", "__copy"))
        .withColumn("event_id", col("event_id") + col("__copy") * 100000000L)
        .withColumn("user_id", col("user_id") + col("__copy") * 1000000L)
        .drop("__copy")
    val total = events.count()
    val root = java.nio.file.Files.createTempDirectory("graft-wmprobe").toString

    // ts-range-ordered staging so pickup order advances the watermark
    // (mtime stamping: parallel writes land in the same second)
    events.repartitionByRange(files * perTrigger, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(s"$root/staged")
    val parts = new java.io.File(s"$root/staged").listFiles()
      .filter(f => f.getName.startsWith("part-")).sortBy(_.getName)
    parts.zipWithIndex.foreach { case (f, i) =>
      f.setLastModified(System.currentTimeMillis() - (parts.length - i) * 60000L)
    }
    val schema = events.schema

    val spec = IngestionSpec(DataSchema("events_wm",
      TimestampSpec("ts"), SpecificDimensions(Seq("event_type", "user_id")),
      Seq(AggregatorSpec("count", "cnt"),
        AggregatorSpec("doubleSum", "sum_value", Some("value")),
        AggregatorSpec("hyperUnique", "approx_events", Some("event_id"))),
      GranularitySpec(Granularity.Day, Granularity.Hour)),
      Tuning(windowPeriod = java.time.Duration.ofHours(6),
        partitions = stateParts.toInt))

    val in = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", perTrigger)
      .parquet(s"$root/staged")
    val ingest = new graft.streaming.IngestStream(spark, spec, s"$root/ck")
    val t0 = System.nanoTime()
    val q = ingest.start(in, s"$root/out",
      // fixed "now": the corpus is historical — the future-side guard must
      // not drop it (same stance as the replay headliner)
      now = to_timestamp(lit("2030-01-01 00:00:00")))
    q.processAllAvailable()
    val batches = q.recentProgress.length
    var commitSum = 0L
    var updSum = 0L
    var rmSum = 0L
    var lastStateRows = 0L
    q.recentProgress.foreach { p =>
      val so = p.stateOperators.lastOption // agg operator (dedup absent here)
      System.err.println(s"[wmprobe] batch=${p.batchId} rows=${p.numInputRows} " +
        s"durationMs=${p.durationMs} " +
        so.fold("")(o => s"stateCommitMs=${o.commitTimeMs} " +
          s"updMs=${o.allUpdatesTimeMs} rmMs=${o.allRemovalsTimeMs} " +
          s"stateRows=${o.numRowsTotal}"))
      so.foreach { o =>
        commitSum += o.commitTimeMs; updSum += o.allUpdatesTimeMs
        rmSum += o.allRemovalsTimeMs; lastStateRows = o.numRowsTotal
      }
    }
    ingest.flushAndStop()
    val sec = (System.nanoTime() - t0) / 1e9
    val emitted = spark.read.parquet(s"$root/out").count()
    // conservation sanity: nothing silently dropped (historical corpus,
    // wide future guard) — received must equal the input
    val received = ingest.received

    println(
      f"""{"op":"watermarked_rollup","sf_dir":"$sfDir","scale_x":$scale,""" +
      f""""events":$total,"state_store":"$stateStore","state_parts":"$stateParts",""" +
      f""""staged_files":${files * perTrigger},"files_per_trigger":$perTrigger,""" +
      f""""batches":$batches,"total_sec":$sec%.2f,"events_per_sec":${total / sec}%.0f,""" +
      f""""state_commit_ms_sum":$commitSum,"upd_ms_sum":$updSum,"rm_ms_sum":$rmSum,""" +
      f""""state_rows_final":$lastStateRows,"emitted_buckets":$emitted,""" +
      f""""received":$received,"received_equals_input":${received == total}}""")
    spark.stop()
  }
}
