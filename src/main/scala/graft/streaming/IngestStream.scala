package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.config.IngestionSpec
import graft.pipeline.Pipeline

/** Structured-Streaming ingest — the engine's Tranquilizer
  * (upstream core/.../tranquilizer/Tranquilizer.scala + beam/ClusteredBeam.scala,
  * SURVEY §3.1). The reference's moving parts map as:
  *
  *  - send buffer / maxBatchSize / linger  → micro-batch trigger + source rate
  *    limits (`maxFilesPerTrigger` / `maxOffsetsPerTrigger`) — backpressure is
  *    the engine's, not a client buffer (SURVEY §4).
  *  - ClusteredBeam chunk routing           → tumbling segment buckets in the
  *    pipeline; no ZK — the checkpoint dir is the beam metadata (SURVEY §2.9).
  *  - windowPeriod late/future drops        → explicit predicate vs injected
  *    `now` on both sides, with `observe` drop counters — the
  *    SendResult(sent=false) accounting surface (SURVEY §2.2).
  *  - flush()/stop() ordered shutdown       → Trigger.AvailableNow drain, then
  *    query.stop().
  */
final class IngestStream(
    spark: SparkSession,
    spec: IngestionSpec,
    checkpointDir: String) {

  val pipeline = new Pipeline(spec)

  @volatile private var query: Option[StreamingQuery] = None

  /** handle to the running query (None before start). */
  def activeQuery: Option[StreamingQuery] = query

  /** Start the ingest query: source stream → pipeline → segment store, in the
    * mode the spec's aggregator set can honour at its queryGranularity
    * (SURVEY §2.9; closes the calendar-granularity gap):
    *
    *  - FINALIZED sketches (`hyperUnique`/`cardinality`/`approxHistogram` —
    *    estimates, not mergeable) need cross-batch state: the watermarked
    *    state store ([[watermarked]]). That mode needs a fixed-width bucket
    *    (streaming `window()` takes literal durations), so it covers
    *    SECOND..DAY.
    *  - Every other spec streams through the per-batch path ([[perBatch]]),
    *    calendar granularities (WEEK/MONTH/QUARTER/YEAR/ALL) included:
    *    `date_trunc` bucketing is an ordinary batch expression, and
    *    cross-batch merge happens at read (sums/min/max) — including
    *    sketches, IF they are the STORED forms (`hllSketch` /
    *    `histogramSketch`, binary partials re-merged by SegmentStore).
    *  - Finalized sketches at calendar granularity, and `exactCardinality`
    *    at any granularity, are rejected with the fix named.
    *
    * `now` defaults to processing time; tests inject a literal clock (the
    * TestingTimekeeper analog — SURVEY §5). `writer` replaces the per-batch
    * sink (a test seam for fault injection); a spec routed to watermarked
    * mode writes through the file sink and rejects it.
    */
  def start(
      source: DataFrame,
      outputPath: String,
      now: Column = current_timestamp(),
      trigger: Trigger = Trigger.AvailableNow(),
      writer: Option[(DataFrame, Long) => Unit] = None): StreamingQuery = {
    val gran = spec.dataSchema.granularitySpec
    // exactCardinality is unstreamable in EITHER mode: per-batch finalized
    // distinct counts cannot re-merge (SegmentStore.mergeColumn rejects
    // them — the store would ingest fine and throw on every read), and
    // Structured Streaming rejects COUNT DISTINCT in stateful aggregation.
    def exactIn(a: graft.config.AggregatorSpec): Boolean =
      a.aggType == "exactCardinality" || a.aggregator.exists(exactIn)
    require(!(gran.rollup && spec.dataSchema.aggregators.exists(exactIn)),
      "exactCardinality cannot stream: per-batch finalized distinct counts " +
        s"don't re-merge at read, and streaming aggregation cannot COUNT " +
        s"DISTINCT (aggregators ${spec.dataSchema.aggregators.filter(exactIn)
          .map(a => s"${a.name}:${a.aggType}").mkString(",")}). Use " +
        "hyperUnique (estimate), the stored hllSketch form (mergeable " +
        "binary), or a batch index task.")
    val finalized = Set("hyperUnique", "cardinality", "approxHistogram")
    // unwrap `filtered` wrappers: filtered(hyperUnique) needs the state
    // store exactly like bare hyperUnique (a per-batch store of finalized
    // estimates would ingest fine and then throw on every read)
    def finalizedIn(a: graft.config.AggregatorSpec): Boolean =
      finalized(a.aggType) || a.aggregator.exists(finalizedIn)
    // only ROLLUP specs evaluate aggregators — isRollup=false appends raw
    // rows, so finalized sketches in the spec are inert there
    val needsState = gran.rollup && spec.dataSchema.aggregators.exists(finalizedIn)
    if (needsState) {
      // name offenders through finalizedIn (the routing predicate), so a
      // filtered(hyperUnique) names its metric instead of an empty list
      require(gran.queryGranularity.widthSeconds > 0,
        s"queryGranularity ${gran.queryGranularity.name} has no watermarked path " +
          "(calendar periods aren't streaming window widths) and aggregators " +
          s"${spec.dataSchema.aggregators.filter(finalizedIn)
            .map(a => s"${a.name}:${a.aggType}").mkString(",")} " +
          "don't re-merge from finalized per-batch values. Use the stored sketch " +
          "forms instead (hyperUnique→hllSketch, approxHistogram→histogramSketch): " +
          "binary partials re-merge at read for ANY granularity.")
      require(writer.isEmpty, s"dataSource '${spec.dataSchema.dataSource}' " +
        "routes to watermarked mode (finalized sketches at a fixed-width " +
        "queryGranularity), which writes through the file sink; a custom " +
        "writer applies to per-batch mode only")
    }
    val (w, finalSchema) =
      if (needsState) watermarked(source, outputPath, now)
      else (perBatch(source, outputPath, now, writer), None)
    val q = w.option("checkpointLocation", checkpointDir).trigger(trigger).start()
    query = Some(q)
    store = Some((outputPath, finalSchema))
    // registered only once a query runs, so a rejected spec leaves the
    // session's listeners as they were; release() first, so a restart after
    // a query that died without flushAndStop still registers it once
    release()
    spark.streams.addListener(progressListener)
    q
  }

  /** Per-batch mode: each micro-batch's rollup lands as partial rows keyed
    * by (segment, batch); cross-batch merge happens at read time
    * ([[graft.sink.SegmentStore.read]]) or via compaction. */
  private def perBatch(
      source: DataFrame,
      outputPath: String,
      now: Column,
      writer: Option[(DataFrame, Long) => Unit]): DataStreamWriter[Row] = {
    // Row-wise stages run on the STREAMING DataFrame so the `observe` drop
    // counters surface in StreamingQueryProgress.observedMetrics (inside
    // foreachBatch they'd belong to a detached batch query and vanish).
    val projected = pipeline.project(
      pipeline.windowFilter(pipeline.extractTimestamp(source), now))
    // Optional at-source event dedup (exactly-once EVENTS on top of the
    // sink's exactly-once BATCHES): duplicate deliveries of the same key —
    // producer retries, replayed upstreams — collapse in the state store.
    // The dedup horizon is 2 × windowPeriod: the event-time watermark is
    // maxEventTs − delay, and windowFilter admits ts ∈ [now−w, now+w] — a
    // future-stamped event (≤ now+w) must never push the watermark above the
    // oldest still-admissible event (now−w), which needs delay ≥ 2w. With
    // exactly 2w, anything the dedup watermark discards would have been
    // dropped as late by the window filter anyway, so no valid event is lost
    // and state is bounded by the same windowPeriod contract.
    // Removal happens AFTER the send accounting — `sent` counts admitted
    // rows, duplicates included, mirroring the reference's per-send counters.
    val keys = dedupKeys(projected)
    val staged = if (keys.isEmpty) projected
    else projected
      .withWatermark(Pipeline.TsCol,
        s"${2 * spec.tuning.windowPeriod.getSeconds} seconds")
      .dropDuplicatesWithinWatermark(keys)
    // production takes the SegmentSink default: one action per batch
    val write = writer.getOrElse(graft.sink.SegmentSink.writeMicroBatch(outputPath) _)
    staged.writeStream
      .queryName(s"graft-${spec.dataSchema.dataSource}")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // rollup within the micro-batch; cross-batch merge happens at read
        // time (sum of partial sums per segment dir) or via compaction —
        // matching the reference, where each send batch lands incrementally
        // in the realtime task and Druid merges at query time.
        val rolled = pipeline.rollup(batch)
        val out = if (spec.dataSchema.granularitySpec.rollup)
          // bound output files: without this, every segment dir collects up
          // to shuffle.partitions tiny files PER BATCH (a small-file storm at
          // any scale). tuning.partitions = write parallelism, per the
          // SegmentSink contract; the non-rollup path repartitions inside
          // Pipeline.rollup already.
          pipeline.withSegment(rolled)
            .repartition(math.max(1, spec.tuning.partitions), col(Pipeline.SegmentCol))
        else rolled
        write(out, batchId)
      }
  }

  /** spec.tuning.dedupKeys (the JSON surface the Daemon / HTTP / Kafka paths
    * load), checked against the projected frame: a key must survive
    * projection, i.e. be a declared dimension. */
  private def dedupKeys(projected: DataFrame): Seq[String] = {
    val keys = spec.tuning.dedupKeys
    val missing = keys.filterNot(projected.columns.contains)
    require(missing.isEmpty,
      s"dedupKeys must be projected dimensions; missing: ${missing.mkString(",")}")
    keys
  }

  /** Watermarked streaming rollup: cross-batch FINAL aggregation via the
    * state store, emitted once per bucket when the event-time watermark
    * (= windowPeriod, the reference's lateness bound — SURVEY §2.9) passes the
    * bucket end. Returns the writer and the schema the file sink writes.
    *
    * KNOWN DELTA vs the reference's flush(): buckets still within
    * windowPeriod of the max observed event time remain in the state store on
    * [[flushAndStop]] — append mode only emits watermark-finalized buckets.
    * The tail is emitted when the stream resumes (checkpointed state) or
    * never, if the stream truly ends. A bounded replay that must account for
    * every event should use a spec that routes to per-batch mode (stored
    * sketch forms), which drains completely.
    */
  private def watermarked(
      source: DataFrame,
      outputPath: String,
      now: Column): (DataStreamWriter[Row], Option[StructType]) = {
    val gran = spec.dataSchema.granularitySpec
    val wmSeconds = spec.tuning.windowPeriod.getSeconds

    // Only `received` is observable row-wise here: lateness drops happen
    // inside the state store and surface as numRowsDroppedByWatermark, which
    // [[dropped]] folds into the same received = sent + dropped invariant
    // (the reference's per-event SendResult(sent=false) accounting, SURVEY §2.2).
    val projected = pipeline.project(pipeline.extractTimestamp(source))
    // dims from the PROJECTED frame, before helper columns join it — the
    // schemaless path derives dims from actual columns, and the raw-ts
    // helper below must never become a dimension
    val dims = pipeline.dimensionNames(projected).map(col)
    // future/null guard — the per-batch windowFilter's upper half. Without it
    // a SINGLE future-stamped or unparseable event poisons this mode: the
    // event-time watermark is CHECKPOINTED and monotonic, so one year-2255
    // row silently drops all subsequent real traffic forever, and a null
    // timestamp opens a null-window state group the watermark never closes
    // (review findings r7 ×2). Late events stay the watermark's job.
    val inWindow = col(Pipeline.TsCol).isNotNull &&
      col(Pipeline.TsCol) <= now + expr(s"INTERVAL $wmSeconds SECOND")
    val watermarked = projected
      .observe("graft_window", count(lit(1)).as("received"),
        count(when(!inWindow, 1)).as("dropped"))
      .filter(inWindow)
      // raw event time for order-sensitive aggregators (first/last) — the
      // window() bucket replaces TsCol as the group key below
      .withColumn(Pipeline.RawTsCol, col(Pipeline.TsCol))
      .withWatermark(Pipeline.TsCol, s"$wmSeconds seconds")
    // spec-driven event dedup chains BEFORE the windowed aggregation (two
    // stateful operators — the supported dedup→agg chain)
    val keys = dedupKeys(projected)
    val staged =
      if (keys.isEmpty) watermarked else watermarked.dropDuplicatesWithinWatermark(keys)
    val aggs = spec.dataSchema.aggregators.map(graft.pipeline.Aggregators.toColumn) match {
      case Nil => Seq(count(lit(1)).as("rows")) // same fallback as Pipeline.rollup
      case xs  => xs
    }
    val rolled = staged
      .groupBy(window(col(Pipeline.TsCol),
        s"${gran.queryGranularity.widthSeconds} seconds") +: dims: _*)
      .agg(aggs.head, aggs.tail: _*)
      .withColumn(Pipeline.TsCol, col("window.start"))
      .drop("window")
    val out = pipeline.withSegment(rolled)
      .withColumn(Pipeline.SegmentCol,
        date_format(col(Pipeline.SegmentCol), "yyyy-MM-dd'T'HH.mm.ss"))

    val w = out.writeStream
      .queryName(s"graft-wm-${spec.dataSchema.dataSource}")
      .option("path", outputPath)
      .partitionBy(Pipeline.SegmentCol)
      .outputMode("append")
      .format("parquet")
    // the file sink writes exactly `out`'s columns, so that schema opens
    // the store without a footer scan
    (w, Some(out.schema))
  }

  /** Where the running query writes, and the schema it writes when its
    * rows are final (watermarked mode; None for per-batch partials). */
  @volatile private var store: Option[(String, Option[StructType])] = None

  /** The store directory of the running query (None before start). */
  def storePath: Option[String] = store.map(_._1)

  /** The broker view of the store: one fresh read per call, `__time` for
    * the bucket, no `segment` column (storage detail). A per-batch store
    * re-merges its partials ([[graft.sink.SegmentStore.read]], sketches
    * finalized — the query edge's rendering); a watermarked store is read
    * as written, since its finalized rows do not re-merge. A store with no
    * data file yet fails with the reason, not a raw PATH_NOT_FOUND. */
  def brokerView(): DataFrame = {
    val ds = spec.dataSchema.dataSource
    val (path, finalSchema) = store.getOrElse(throw new IllegalStateException(
      s"dataSource '$ds' has no started ingest stream"))
    def noData = new IllegalArgumentException(s"dataSource '$ds' has no " +
      "committed segments yet — post events and wait for the first micro-batch")
    val rows = finalSchema match {
      case None =>
        try graft.sink.SegmentStore.read(spark, path, spec)
        catch { case _: graft.sink.Footers.NoDataFiles => throw noData }
      case Some(schema) =>
        // the file sink's metadata log lists only committed files; the
        // footer listing answers whether any was written at all
        if (graft.sink.Footers.dataFiles(
            spark.sparkContext.hadoopConfiguration, Seq(path)).isEmpty) throw noData
        spark.read.schema(schema).parquet(path)
    }
    rows.drop(Pipeline.SegmentCol).withColumnRenamed(Pipeline.TsCol, "__time")
  }

  /** Drain all available input then stop — flush()+stop() semantics
    * (upstream Tranquilizer.scala#flush / SimpleTranquilizerAdapter).
    */
  def flushAndStop(): Unit =
    try query.foreach { q =>
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
    } finally release()

  /** Stop without draining (a start-all unwinding after a sibling failed). */
  private def abort(): Unit = try query.foreach(_.stop()) finally release()

  // release the session-wide listener, also when the query died (counters
  // remain readable — each read still folds the remaining progress buffer
  // synchronously); a later start() registers it again
  private def release(): Unit = spark.streams.removeListener(progressListener)

  /** Cumulative {received, sent, dropped} — the Tranquilizer counter surface
    * (`{received, sent}` of the reference's HTTP reply, SURVEY §3.2). Two
    * feeds share one monotonic fold: a StreamingQueryListener accumulates
    * every progress event as it arrives (so counters survive ANY query
    * length — the progress buffer holds only the last
    * `spark.sql.streaming.numRecentProgressUpdates` entries), and each read
    * synchronously folds `recentProgress` as well (listener events are
    * async — a counter read right after processAllAvailable must not lag).
    * The batchId-monotonic guard makes double delivery harmless.
    */
  private[this] var lastSeenBatch = -1L
  private[this] var accReceived, accDropped, accWmDropped = 0L

  private val progressListener = new org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      // the session delivers every query's events — fold only OURS
      if (query.exists(_.id == e.progress.id)) accumulate(Seq(e.progress))
  }

  private def accumulate(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])
      : Unit = synchronized {
    ps.sortBy(_.batchId).foreach { p =>
      // no-data triggers surface as an entry with the NEXT batch's id and no
      // observed metrics, possibly BEFORE the data entry of the same id — so
      // the cursor advances only on data-bearing entries (the only ones that
      // can carry counts: state-store drops count input rows, and no-data
      // batches have none)
      if (p.batchId > lastSeenBatch && p.observedMetrics.containsKey("graft_window")) {
        lastSeenBatch = p.batchId
        val row = p.observedMetrics.get("graft_window")
        // watermarked mode observes `received` only — missing fields are 0
        def g(n: String): Long =
          if (row.schema != null && row.schema.fieldNames.contains(n))
            row.getAs[Long](n)
          else 0L
        accReceived += g("received")
        accDropped += g("dropped")
        accWmDropped += Option(p.stateOperators).toSeq
          .flatMap(_.toSeq).map(_.numRowsDroppedByWatermark).sum
      }
    }
  }

  private def refresh(): Unit =
    accumulate(query.toSeq.flatMap(_.recentProgress))

  def received: Long = { refresh(); accReceived }
  /** windowFilter drops (per-batch mode) + state-store lateness drops
    * (watermarked mode) — one surface for both pipelines. */
  def dropped: Long = { refresh(); accDropped + accWmDropped }
  /** received − dropped: identical to the observed `sent` count in per-batch
    * mode (the windowFilter counts all three), and derives the watermarked
    * mode's sent count where only the state store knows the drops. */
  def sent: Long = { refresh(); accReceived - accDropped - accWmDropped }

  /** Late rows discarded by the watermark in watermarked mode — the
    * lateness half of the drop accounting there (the state store, not the
    * windowFilter predicate, enforces the bound).
    */
  def watermarkDropped: Long = { refresh(); accWmDropped }
}

object IngestStream {

  /** Start one stream per named entry, in order, keyed by name. A later
    * entry failing to start (bad aggregator combination, claimed
    * checkpoint) stops the streams already running, so none is left
    * holding its checkpoint lock, then rethrows. */
  def startAll[A](entries: Iterable[(String, A)])(startOne: (String, A) => IngestStream)
      : Map[String, IngestStream] = {
    val started = scala.collection.mutable.ListBuffer.empty[(String, IngestStream)]
    try entries.foreach { case (name, a) => started += name -> startOne(name, a) }
    catch {
      case e: Throwable =>
        started.foreach { case (_, s) => scala.util.Try(s.abort()) }
        throw e
    }
    started.toMap
  }

  /** Ordered shutdown of many streams: [[IngestStream.flushAndStop]] on
    * each. A stream whose query died must not keep its siblings from
    * draining, so every stream is attempted; then the first failure
    * rethrows with the others attached as suppressed. */
  def stopAll(streams: Iterable[IngestStream]): Unit = {
    val failures = streams.toSeq.flatMap(s => scala.util.Try(s.flushAndStop()).failed.toOption)
    failures.headOption.foreach { first =>
      failures.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}
