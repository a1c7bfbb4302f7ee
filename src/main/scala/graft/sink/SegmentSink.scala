package graft.sink

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Segment-partitioned Parquet sink — the engine's analog of the reference's
  * Druid task sink (upstream core/.../druid/DruidBeam.scala pushing batches to
  * realtime tasks, SURVEY §2.1). A "segment" here is a time-chunk directory
  * (`segment=<bucket>`), replacing Druid's task-per-chunk lifecycle: directory
  * creation on write replaces task creation; storage-layer replication
  * replaces `replicants` (SURVEY §2.10).
  *
  * Exactly-once: for streaming, `foreachBatch` + checkpoint gives
  * batchId-deduped idempotent appends — strictly stronger than the reference's
  * at-least-once contract (SURVEY §2.9), documented as a behavioral delta.
  *
  * Scale note: partitionBy(segment) writes one directory per time chunk; at
  * 100 TB with HOUR granularity that's ~9k dirs/year — fine for object
  * stores; file counts are bounded by upstream shuffle partitioning, so set
  * `spec.tuning.partitions` to the cluster's write parallelism.
  */
object SegmentSink {
  import graft.pipeline.Pipeline.SegmentCol

  /** Zone-map sidecar dir: `_`-prefixed so Spark's parquet reader ignores it
    * on normal reads of the store.
    */
  val StatsDir = "_graft_stats"

  /** Marker file persisting the WRITE session's timezone: segment dir names
    * are `date_format` renderings under it, so every later chunk-name
    * comparison (the prune rule, interval reads, retention/kill) must parse
    * with the WRITER's zone, not the reader's — a mismatched reader session
    * would silently prune/drop valid segments (review finding r7). Written
    * once per store, first write wins; a later APPEND from a session in a
    * DIFFERENT zone fails loud BEFORE writing (advice r7): its dir names
    * would render under its own zone, producing a mixed-zone store that the
    * marker then parses entirely wrong — silent mis-prune/mis-kill. */
  val TzMarker = "_graft_tz"

  /** Write the marker if absent; fail loud if present with a different
    * zone. Called BEFORE the data write so a mismatched session can never
    * land mixed-zone segment dirs. Equal-rules zones (e.g. `Etc/UTC` vs
    * `UTC`) render identically, so compare by rendering rules, not id. */
  private[graft] def writeTzMarker(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$TzMarker")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sessionTz = spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    if (!fs.exists(p)) {
      val os = fs.create(p, true)
      try os.write(sessionTz.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
    } else {
      val in = fs.open(p)
      val marked = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim
      finally in.close()
      val mz = java.time.ZoneId.of(marked).normalized()
      val sz = java.time.ZoneId.of(sessionTz).normalized()
      if (mz != sz && mz.getRules != sz.getRules) {
        // a marker over ZERO segment dirs carries no zone claim (a failed
        // first write can leave marker-without-data — review finding r8):
        // re-zone it to this session instead of failing a legitimate
        // first append
        val hasSegments = fs.exists(p.getParent) &&
          fs.listStatus(p.getParent).exists(st =>
            st.isDirectory && st.getPath.getName.startsWith("segment="))
        if (!hasSegments) {
          val os = fs.create(p, true)
          try os.write(sessionTz.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally os.close()
        } else throw new IllegalArgumentException(
          s"segment store '$path' was written under timezone '$marked' but " +
            s"this session's spark.sql.session.timeZone is '$sessionTz' — " +
            "appending would render segment dir names in a different zone " +
            "and corrupt chunk-boundary comparisons for the whole store; " +
            s"set spark.sql.session.timeZone to '$marked' to append here")
      }
    }
  }

  /** Batch append, partitioned by segment bucket (expects SegmentCol present).
    * Alongside the data, appends a per-(segment, string-dim) min/max zone-map
    * row to [[StatsDir]] — [[SegmentStore.pruneSegments]] turns a dim
    * predicate into a segment list BEFORE the scan, extending partition
    * pruning beyond the time key (Druid dims are strings, so string columns
    * are exactly the prunable set; lexicographic min/max is sound there).
    * The stats agg runs over the already-rolled micro-batch (tiny) and
    * min/max merge is idempotent, so an at-least-once replay can only widen
    * nothing — duplicate stats rows collapse in the prune-time re-merge.
    */
  def writeBatch(df: DataFrame, path: String): Unit = {
    require(df.columns.contains(SegmentCol), s"missing $SegmentCol column")
    // stable string form for directory names (avoid raw timestamp encoding).
    // persisted: the data write and the stats agg are TWO actions — without
    // the cache the second re-executes the batch plan, which would both
    // redo the rollup and double-count upstream `observe` metrics.
    writeTzMarker(df.sparkSession, path) // zone check BEFORE any data lands
    val out = df.withColumn(SegmentCol,
      date_format(col(SegmentCol), "yyyy-MM-dd'T'HH.mm.ss")).persist()
    try {
      out.write.mode("append").partitionBy(SegmentCol)
        // zstd ≈ 2× smaller than snappy at comparable read speed — at 100 TB
        // ingest the storage/IO saving dominates the extra encode CPU
        .option("compression", "zstd")
        .parquet(path)
      appendStats(out, path)
    } finally out.unpersist()
  }

  /** Append per-(segment, column) min/max rows to the sidecar, typed by
    * family: `string` columns in lexicographic `min_val`/`max_val` (sound
    * for Druid-style string dims), integral columns in `min_lng`/`max_lng`
    * (exact long bounds — no 2⁵³ double rounding), floating columns in
    * `min_dbl`/`max_dbl`. One aggregation over the already-rolled batch,
    * one struct-explode, one append. Expects SegmentCol already in
    * dir-string form. Min/max merge is idempotent, so at-least-once replays
    * only re-state the same bounds.
    */
  private[sink] def appendStats(out: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.types._
    def family(dt: DataType): Option[String] = dt match {
      case StringType => Some("string")
      case ByteType | ShortType | IntegerType | LongType => Some("long")
      case FloatType | DoubleType => Some("double")
      case _ => None // timestamps ride the segment key; binary sketches unbounded
    }
    val statCols = out.schema.fields
      .filter(f => f.name != SegmentCol && f.name != "__batch_id")
      .flatMap(f => family(f.dataType).map(f.name -> _)).toSeq
    if (statCols.isEmpty) return
    val aggs = statCols.flatMap { case (c, _) =>
      Seq(min(col(c)).as(s"__min_$c"), max(col(c)).as(s"__max_$c")) }
    val wide = out.groupBy(col(SegmentCol)).agg(aggs.head, aggs.tail: _*)
    val nullS = lit(null).cast(StringType)
    val nullL = lit(null).cast(LongType)
    val nullD = lit(null).cast(DoubleType)
    val rows = statCols.map { case (c, fam) =>
      val (lo, hi) = (col(s"__min_$c"), col(s"__max_$c"))
      val (minS, maxS) = if (fam == "string") (lo, hi) else (nullS, nullS)
      val (minL, maxL) = if (fam == "long")
        (lo.cast(LongType), hi.cast(LongType)) else (nullL, nullL)
      val (minD, maxD) = if (fam == "double")
        (lo.cast(DoubleType), hi.cast(DoubleType)) else (nullD, nullD)
      struct(lit(c).as("column"), lit(fam).as("col_type"),
        minS.as("min_val"), maxS.as("max_val"),
        minL.as("min_lng"), maxL.as("max_lng"),
        minD.as("min_dbl"), maxD.as("max_dbl"))
    }
    wide.select(col(SegmentCol), explode(array(rows: _*)).as("s"))
      .select(col(SegmentCol), col("s.*"))
      .coalesce(1)
      .write.mode("append").parquet(s"$path/$StatsDir")
  }

  /** foreachBatch body for streaming writes. Exactly-once storage, not just
    * exactly-once bookkeeping: the write is keyed by (segment, __batch_id)
    * with DYNAMIC partition overwrite, so a batch replayed after a crash
    * between data write and checkpoint commit OVERWRITES its own partitions
    * instead of appending duplicates — append mode alone would leave the
    * half-written attempt beside the replay. Other batches' partitions are
    * untouched (dynamic mode only overwrites partitions present in the
    * incoming batch). The zone-map sidecar stays append-only: min/max
    * re-merge, so duplicate stats rows are harmless.
    */
  def writeMicroBatch(path: String, withStats: Boolean = true)(
      df: DataFrame, batchId: Long): Unit = {
    require(df.columns.contains(SegmentCol), s"missing $SegmentCol column")
    val out = df.withColumn("__batch_id", lit(batchId))
      .withColumn(SegmentCol, date_format(col(SegmentCol), "yyyy-MM-dd'T'HH.mm.ss"))
    if (withStats) {
      // two actions (data + stats) — see writeBatch for why the persist
      val cached = out.persist()
      try {
        writeData(cached, path, batchId)
        appendStats(cached, path)
      } finally cached.unpersist()
    } else {
      // deferred-stats mode (streaming hot path): ONE action per batch — no
      // persist materialization, no per-batch stats job/append. The sidecar
      // is advisory (absent → conservative keep-all), so the stream owner
      // rebuilds it once at flush via [[regenerateStats]]; a crash before
      // that loses pruning hints, never data.
      writeData(out, path, batchId)
    }
  }

  private def writeData(out: DataFrame, path: String, batchId: Long): Unit = {
    writeTzMarker(out.sparkSession, path) // zone check BEFORE any data lands
    // Append commit: when no (segment, __batch_id=N) dir exists yet — every
    // batch except a replay-after-crash or a batch-id collision across
    // checkpoint-fresh queries on one store — a plain APPEND is
    // semantically identical to the dynamic partition overwrite and skips
    // its whole staging dance (stage every file under a job dir, list +
    // match existing partitions, delete + move per partition). When a dir
    // for this batch id DOES exist, fall back to dynamic overwrite: only
    // partitions present in the INCOMING batch are replaced (a blanket
    // delete of __batch_id=N dirs would eat other queries' same-numbered
    // batches — caught by StreamingSpec's schema-evolution/retention/kill
    // tests when tried). Before appending, any stale $path/_temporary from
    // a crashed append attempt is removed — v1 commits stage under that
    // SHARED dir and a later job's commit would merge the dead attempt's
    // committed task dirs beside its own output; foreachBatch writers are
    // serial per store, so the delete can never race a live job. Measured
    // (set-mode A/B, quiet window, min-of-6): streaming_rollup_replay
    // 2.115 → 1.946 s against always-dynamic.
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(out.sparkSession.sparkContext.hadoopConfiguration)
    val batchDirExists = fs.exists(root) &&
      fs.listStatus(root).exists { st =>
        st.isDirectory && st.getPath.getName.startsWith(s"$SegmentCol=") &&
          fs.exists(new org.apache.hadoop.fs.Path(st.getPath, s"__batch_id=$batchId"))
      }
    // partial micro-batch files are small and short-lived, but zstd keeps
    // the 100 TB storage argument (compaction rewrites them zstd too)
    val writer =
      if (batchDirExists)
        out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      else {
        val tmp = new org.apache.hadoop.fs.Path(root, "_temporary")
        if (fs.exists(tmp)) fs.delete(tmp, true)
        out.write.mode("append")
      }
    writer.partitionBy(SegmentCol, "__batch_id")
      .option("compression", "zstd")
      .parquet(path)
  }

  /** Rebuild the zone-map sidecar from the store itself, one aggregation
    * over already-reduced partials — the flush-time companion of the
    * deferred-stats streaming mode, also usable to repair/upgrade any
    * store's sidecar. Overwrites: the sidecar is a derived index, so a
    * fresh exact build (no replay duplicates) is strictly better than
    * appending.
    */
  /** Remove the sidecar. A deferred-stats stream calls this ON START: while
    * the stream appends without per-batch stats rows, an existing sidecar
    * would be COVERED-BUT-STALE for the segments it re-enters — pruned
    * reads would silently drop the new rows. Absent sidecar = conservative
    * keep-all, which is always safe; [[regenerateStats]] restores exact
    * bounds at flush.
    */
  def dropStats(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$StatsDir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true); ()
  }

  def regenerateStats(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) ||
      !fs.listStatus(p).exists(_.getPath.getName.startsWith(s"$SegmentCol=")))
      return // nothing written — nothing to index
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/$StatsDir"), true)
    appendStats(spark.read.parquet(path), path)
  }
}
