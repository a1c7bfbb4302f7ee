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

  /** Batch append, partitioned by segment bucket (expects SegmentCol
    * present): one action. Parquet writes each column's per-row-group
    * min/max into the file footers, and [[graft.plans.SegmentPruneRule]]
    * turns a dim predicate into a segment list from them BEFORE the scan,
    * extending partition pruning beyond the time key.
    */
  def writeBatch(df: DataFrame, path: String): Unit = {
    require(df.columns.contains(SegmentCol), s"missing $SegmentCol column")
    writeTzMarker(df.sparkSession, path) // zone check BEFORE any data lands
    // stable string form for directory names (avoid raw timestamp encoding)
    df.withColumn(SegmentCol, date_format(col(SegmentCol), "yyyy-MM-dd'T'HH.mm.ss"))
      .write.mode("append").partitionBy(SegmentCol)
      // zstd ≈ 2× smaller than snappy at comparable read speed — at 100 TB
      // ingest the storage/IO saving dominates the extra encode CPU
      .option("compression", "zstd")
      .parquet(path)
  }

  /** foreachBatch body for streaming writes: one action per batch.
    * Exactly-once storage, not just exactly-once bookkeeping: the write is
    * keyed by (segment, __batch_id) with DYNAMIC partition overwrite, so a
    * batch replayed after a crash between data write and checkpoint commit
    * OVERWRITES its own partitions instead of appending duplicates — append
    * mode alone would leave the half-written attempt beside the replay.
    * Other batches' partitions are untouched (dynamic mode only overwrites
    * partitions present in the incoming batch). `withStats` is ignored:
    * the zone map is the files' own footers.
    */
  def writeMicroBatch(path: String, withStats: Boolean = true)(
      df: DataFrame, batchId: Long): Unit = {
    require(df.columns.contains(SegmentCol), s"missing $SegmentCol column")
    writeTzMarker(df.sparkSession, path) // zone check BEFORE any data lands
    val out = df.withColumn("__batch_id", lit(batchId))
      .withColumn(SegmentCol, date_format(col(SegmentCol), "yyyy-MM-dd'T'HH.mm.ss"))
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
}
