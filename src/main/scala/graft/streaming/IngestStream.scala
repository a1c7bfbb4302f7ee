package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

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

  /** Rolls up with each metric in its stored form
    * ([[graft.sink.SegmentStore.stored]]): partials that re-merge at read. */
  val pipeline = new Pipeline(graft.sink.SegmentStore.stored(spec))

  @volatile private var query: Option[StreamingQuery] = None

  /** handle to the running query (None before start). */
  def activeQuery: Option[StreamingQuery] = query

  /** Start the ingest query: source stream → windowFilter → pipeline →
    * segment store, one micro-batch at a time. Each batch's rollup lands as
    * partial rows keyed by (segment, batch); cross-batch merge happens at
    * read time ([[graft.sink.SegmentStore.read]]) or via compaction, so
    * every queryGranularity streams, calendar ones (WEEK/MONTH/QUARTER/
    * YEAR/ALL) included, and every bucket answers on the next read.
    * Finalized sketches (`hyperUnique`/`cardinality`/`approxHistogram`) are
    * written as their mergeable binaries and finalized at that read.
    * `exactCardinality` is rejected with the fix named.
    *
    * `now` defaults to processing time; tests inject a literal clock (the
    * TestingTimekeeper analog — SURVEY §5). `writer` replaces the
    * per-batch sink (a test seam for fault injection).
    */
  def start(
      source: DataFrame,
      outputPath: String,
      now: Column = current_timestamp(),
      trigger: Trigger = Trigger.AvailableNow(),
      writer: Option[(DataFrame, Long) => Unit] = None): StreamingQuery = {
    // per-batch finalized distinct counts cannot re-merge
    // (SegmentStore.mergeColumn rejects them — the store would ingest fine
    // and throw on every read)
    def exactIn(a: graft.config.AggregatorSpec): Boolean =
      a.aggType == "exactCardinality" || a.aggregator.exists(exactIn)
    require(!(spec.dataSchema.granularitySpec.rollup &&
        spec.dataSchema.aggregators.exists(exactIn)),
      "exactCardinality cannot stream: per-batch finalized distinct counts " +
        s"don't re-merge at read (aggregators ${spec.dataSchema.aggregators
          .filter(exactIn).map(a => s"${a.name}:${a.aggType}").mkString(",")}). " +
        "Use hyperUnique (an estimate, stored as a mergeable HLL sketch) or " +
        "hllSketch.")
    val q = perBatch(source, outputPath, now, writer)
      .option("checkpointLocation", checkpointDir).trigger(trigger).start()
    query = Some(q)
    store = Some(outputPath)
    // registered only once a query runs, so a rejected spec leaves the
    // session's listeners as they were; release() first, so a restart after
    // a query that died without flushAndStop still registers it once
    release()
    spark.streams.addListener(progressListener)
    q
  }

  /** The streaming writer: row-wise stages on the stream, the rollup and
    * the write per micro-batch. */
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

  @volatile private var store: Option[String] = None

  /** The store directory of the running query (None before start). */
  def storePath: Option[String] = store

  /** The broker view of the store: one fresh read per call, `__time` for
    * the bucket, no `segment` column (storage detail). The partials
    * re-merge ([[graft.sink.SegmentStore.read]], sketches finalized — the
    * query edge's rendering). A store with no data file yet fails with the
    * reason, not a raw PATH_NOT_FOUND. */
  def brokerView(): DataFrame = {
    val ds = spec.dataSchema.dataSource
    val path = store.getOrElse(throw new IllegalStateException(
      s"dataSource '$ds' has no started ingest stream"))
    val rows = try graft.sink.SegmentStore.read(spark, path, spec)
      catch { case _: graft.sink.Footers.NoDataFiles =>
        throw new IllegalArgumentException(s"dataSource '$ds' has no " +
          "committed segments yet — post events and wait for the first micro-batch") }
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
  private[this] var accReceived, accDropped = 0L

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
      // can carry counts)
      if (p.batchId > lastSeenBatch && p.observedMetrics.containsKey("graft_window")) {
        lastSeenBatch = p.batchId
        val row = p.observedMetrics.get("graft_window")
        accReceived += row.getAs[Long]("received")
        accDropped += row.getAs[Long]("dropped")
      }
    }
  }

  private def refresh(): Unit =
    accumulate(query.toSeq.flatMap(_.recentProgress))

  def received: Long = { refresh(); accReceived }
  /** windowFilter drops: late, future or unparseable timestamps. */
  def dropped: Long = { refresh(); accDropped }
  /** received − dropped: the rows the windowFilter admitted. */
  def sent: Long = { refresh(); accReceived - accDropped }
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
