package graft.sink

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.config.{AggregatorSpec, IngestionSpec}
import graft.pipeline.Pipeline

/** Query-time merge of per-batch partial rollups — the engine's analog of
  * Druid merging incremental segments at query time (the reference delivers
  * each send batch to the task separately; SURVEY §2.1 Druid task sink).
  *
  * [[graft.streaming.IngestStream.start]] writes one partial rollup row per
  * (micro-batch × bucket × dims); `read` re-aggregates them into the final
  * rollup. Only decomposable aggregators re-merge from finalized values
  * (count→sum, sum→sum, min→min, max→max, incl. inside `filtered`); sketches
  * (hyperUnique / approxHistogram) do NOT — their finalized outputs aren't
  * mergeable, exactly why the watermarked mode
  * ([[graft.streaming.IngestStream.startWatermarked]]) exists: there the state
  * store merges sketch state across batches and emits each bucket once.
  *
  * Scale: the merge is a groupBy on (bucket, dims) over already-reduced rows —
  * input cardinality is segments × dims × batches, orders of magnitude below
  * raw events; partition pruning on `segment=` dirs applies before the scan.
  */
object SegmentStore {

  def mergeColumn(spec: AggregatorSpec, finalizeSketches: Boolean = true): Column =
    spec.aggType match {
      case "count" | "longSum" => sum(col(spec.name)).cast(LongType).as(spec.name)
      case "doubleSum"         => sum(col(spec.name)).as(spec.name)
      case "longMin"           => min(col(spec.name)).cast(LongType).as(spec.name)
      case "longMax"           => max(col(spec.name)).cast(LongType).as(spec.name)
      case "doubleMin"         => min(col(spec.name)).as(spec.name)
      case "doubleMax"         => max(col(spec.name)).as(spec.name)
      // stored sketches re-merge losslessly; estimate only at the final read
      // (compaction keeps the binary so compacted stores stay mergeable)
      case "hllSketch" =>
        val merged = hll_union_agg(col(spec.name))
        (if (finalizeSketches) hll_sketch_estimate(merged) else merged).as(spec.name)
      case "histogramSketch" =>
        val merged = call_function("hist_merge_agg", col(spec.name))
        val probs = if (spec.probabilities.nonEmpty) spec.probabilities
                    else Seq(0.25, 0.5, 0.75, 0.95)
        (if (finalizeSketches)
          call_function("hist_quantiles", merged, array(probs.map(lit): _*))
        else merged).as(spec.name)
      case "thetaSketch" =>
        val merged = call_function("theta_union_agg", col(spec.name))
        (if (finalizeSketches) call_function("theta_estimate", merged)
        else merged).as(spec.name)
      case "arrayOfDoublesSketch" =>
        val merged = call_function("tuple_union_agg", col(spec.name))
        // Druid finalizes the tuple sketch to its distinct estimate; metric
        // sums stay reachable from the unfinalized binary via the
        // ToMetricsSumEstimate post-agg
        (if (finalizeSketches) call_function("tuple_estimate", merged)
        else merged).as(spec.name)
      case "frequentItems" =>
        val merged = call_function("freq_merge_agg", col(spec.name))
        (if (finalizeSketches)
          call_function("freq_topk", merged, lit(spec.accuracy.getOrElse(64)))
        else merged).as(spec.name)
      case "stringAny" | "longAny" | "doubleAny" =>
        any_value(col(spec.name), lit(true)).as(spec.name)
      // doubleMean partials are (sum, count) pairs — pointwise sum, finalize
      // to s/c only at the final read (null when no rows contributed)
      case "doubleMean" =>
        val merged = struct(sum(col(spec.name).getField("s")).as("s"),
          sum(col(spec.name).getField("c")).as("c"))
        (if (finalizeSketches)
          merged.getField("s") / merged.getField("c")
        else merged).as(spec.name)
      // first/last partials are (t, v) structs ordered by (t, v) — re-merge
      // is the same lexicographic min/max; finalize unwraps the value
      case "doubleFirst" | "longFirst" | "stringFirst" =>
        val merged = min(col(spec.name))
        (if (finalizeSketches) merged.getField("v") else merged).as(spec.name)
      case "doubleLast" | "longLast" | "stringLast" =>
        val merged = max(col(spec.name))
        (if (finalizeSketches) merged.getField("v") else merged).as(spec.name)
      case "filtered" =>
        val d = spec.aggregator.getOrElse(
          throw new IllegalArgumentException(s"filtered ${spec.name} lacks delegate"))
        mergeColumn(d.copy(name = spec.name), finalizeSketches)
      case other =>
        throw new IllegalArgumentException(
          s"aggregator '$other' (${spec.name}) is not re-mergeable from finalized " +
            "values; use hllSketch (stored sketch) or ingest with " +
            "startWatermarked (state-store merge) instead")
    }

  /** Read a segment store written in per-batch mode and produce the final
    * rollup (one row per bucket × dims). The footer-merged schema
    * ([[Footers.schema]], what `mergeSchema` infers, without its Spark job)
    * tolerates schema evolution across chunks (new dims appear as nulls in
    * old segments — SURVEY §2.9 schema-evolution row).
    */
  def read(spark: SparkSession, path: String, spec: IngestionSpec,
      baseFilter: DataFrame => DataFrame = identity,
      finalizeSketches: Boolean = true): DataFrame = {
    graft.functions.GraftFunctions.register(spark) // sketch merge functions
    val df = baseFilter(open(spark, path))
    mergePartials(df, spec, finalizeSketches)
  }

  /** The stored rows of `paths` under their footer-merged schema: 0 Spark
    * jobs to build. */
  private[graft] def open(spark: SparkSession, paths: String*): DataFrame =
    spark.read.schema(Footers.schema(spark, paths: _*)).parquet(paths: _*)

  /** Shared partial→final merge for [[read]] and [[readUnion]] (one
    * definition so the dim-classification and implicit-count rules cannot
    * silently diverge — review finding r7):
    *  - raw-append store (rollup=false): rows were written unmodified, the
    *    spec's aggregator columns were never materialized — nothing to
    *    merge;
    *  - an aggregator-less rollup spec writes Pipeline.rollup's implicit
    *    count column `rows` — its re-merge is a sum (and it must not be
    *    mistaken for a dimension). */
  private def mergePartials(df: DataFrame, spec: IngestionSpec,
      finalizeSketches: Boolean): DataFrame = {
    if (!spec.dataSchema.granularitySpec.rollup) return df.drop("__batch_id")
    val implicitRows = spec.dataSchema.aggregators.isEmpty
    val dimNames = df.columns.toSeq.filterNot { c =>
      c == Pipeline.TsCol || c == Pipeline.SegmentCol || c == "__batch_id" ||
        (implicitRows && c == "rows") ||
        spec.dataSchema.aggregators.exists(_.name == c)
    }
    val merges =
      if (implicitRows) Seq(sum(col("rows")).cast(LongType).as("rows"))
      else spec.dataSchema.aggregators.map(mergeColumn(_, finalizeSketches))
    df.groupBy((Pipeline.TsCol +: Pipeline.SegmentCol +: dimNames).map(col): _*)
      .agg(merges.head, merges.tail: _*)
  }

  /** Segments whose zone-map admits `dim = value` (min ≤ value ≤ max), from
    * the [[SegmentSink.StatsDir]] sidecar. Per-batch stats rows re-merge here
    * (min of mins / max of maxes), so replays and multi-batch segments are
    * handled. A segment with NO stats row for `dim` is kept conservatively
    * (schema evolution: the dim may not exist in old chunks).
    */
  def pruneSegments(spark: SparkSession, path: String, dim: String,
      value: String): Seq[String] =
    pruneSegmentsRange(spark, path, dim, value, value)

  /** Range form: segments whose zone-map interval [lo, hi] overlaps
    * [lower, upper] (dim BETWEEN predicates). String-typed: only `string`
    * stats rows answer (lexicographic min/max is sound there); a numeric
    * column queried through this form has no string rows → kept
    * conservatively (use [[pruneSegmentsNumericRange]] instead).
    */
  def pruneSegmentsRange(spark: SparkSession, path: String, dim: String,
      lower: String, upper: String): Seq[String] =
    pruneWith(spark, path) { stats =>
      val isDim = col("column") === dim && typeOf(stats) === "string"
      val byStats = stats.groupBy(col(Pipeline.SegmentCol))
        .agg(min(when(isDim, col("min_val"))).as("lo"),
          max(when(isDim, col("max_val"))).as("hi"))
      byStats.filter(col("lo").isNull ||
        (lit(upper) >= col("lo") && lit(lower) <= col("hi")))
    }

  /** Numeric range pruning: segments whose typed min/max overlaps
    * [lower, upper]. Long-family bounds compare in exact long space
    * (predicate bounds floor/ceil'd — no 2⁵³ double-rounding false
    * exclusions); double-family bounds compare directly. A segment with no
    * numeric stats row for the column (legacy sidecar, evolved schema) is
    * kept conservatively.
    */
  def pruneSegmentsNumericRange(spark: SparkSession, path: String, column: String,
      lower: Double, upper: Double): Seq[String] = {
    // saturating floor/ceil: exact long comparisons for integral columns
    val loL = if (lower <= Long.MinValue.toDouble) Long.MinValue else math.floor(lower).toLong
    val upL = if (upper >= Long.MaxValue.toDouble) Long.MaxValue else math.ceil(upper).toLong
    pruneWith(spark, path) { stats =>
      val isCol = col("column") === column
      val byStats = stats.groupBy(col(Pipeline.SegmentCol)).agg(
        min(when(isCol && typeOf(stats) === "long", col("min_lng"))).as("lo_l"),
        max(when(isCol && typeOf(stats) === "long", col("max_lng"))).as("hi_l"),
        min(when(isCol && typeOf(stats) === "double", col("min_dbl"))).as("lo_d"),
        max(when(isCol && typeOf(stats) === "double", col("max_dbl"))).as("hi_d"))
      byStats.filter(
        (col("lo_l").isNull && col("lo_d").isNull) ||
          (col("lo_l").isNotNull && col("lo_l") <= lit(upL) && col("hi_l") >= lit(loL)) ||
          (col("lo_d").isNotNull && col("lo_d") <= lit(upper) && col("hi_d") >= lit(lower)))
    }
  }

  /** Legacy sidecars (pre-typed zone-maps) carry no `col_type`; every row
    * they wrote was a string dim.
    */
  private def typeOf(stats: DataFrame): Column =
    if (stats.columns.contains("col_type")) coalesce(col("col_type"), lit("string"))
    else lit("string")

  /** Shared prune scaffold: list segment dirs, read the sidecar (absent →
    * keep all), apply `admit` to per-segment merged stats, and keep any
    * segment the sidecar has never covered. `_`-prefixed dirs are hidden
    * from Spark's listing even as an explicit root — hence the explicit
    * part files — which is exactly what keeps the sidecar out of normal
    * store reads. Driver state is the segment list (bounded by time chunks).
    */
  /** The zone-map sidecar's parquet files, empty when there is no sidecar.
    * A crash during appendStats can leave an empty dir (or only a
    * _temporary child); every sidecar consumer must degrade conservatively
    * (keep-all / null ranges) instead of failing the read on no files — one
    * shared listing so no consumer forgets (review finding r7). */
  private def statsFiles(spark: SparkSession, path: String): Seq[String] = {
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/${SegmentSink.StatsDir}")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath)) Nil
    else fs.listStatus(statsPath).toSeq.map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).map(_.toString)
  }

  private def pruneWith(spark: SparkSession, path: String)(
      admit: DataFrame => DataFrame): Seq[String] = {
    val segDirs = listSegmentDirs(spark, path)
    val sidecar = statsFiles(spark, path)
    if (sidecar.isEmpty) return segDirs
    // footer-merged schema: a store written across sidecar versions keeps
    // old rows readable (missing typed columns surface as nulls →
    // conservative)
    val stats = open(spark, sidecar: _*)
    val admitted = admit(stats)
      .select(col(Pipeline.SegmentCol)).collect().map(_.getString(0))
    val covered = stats.select(col(Pipeline.SegmentCol)).distinct()
      .collect().map(_.getString(0))
    // segments on disk but ABSENT from the sidecar (written before the
    // zone-map existed, or by a stats-less writer) are kept conservatively —
    // the sidecar can only prune what it has covered
    (admitted ++ segDirs.diff(covered.toSeq)).toSeq.distinct.sorted
  }

  /** `segment=` partition directory names under `path`. */
  private[graft] def listSegmentDirs(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith(s"${Pipeline.SegmentCol}="))
      .map(_.stripPrefix(s"${Pipeline.SegmentCol}=")).toSeq.sorted
  }

  /** [[read]] restricted to the segments the zone-map admits for
    * `dim = value` — the predicate turns into partition pruning on the
    * `segment=` directory key, so excluded segments are never listed or
    * scanned. Driver state is the segment list (bounded by time chunks,
    * not data).
    */
  def readPruned(spark: SparkSession, path: String, spec: IngestionSpec,
      dim: String, value: String): DataFrame = {
    val segs = pruneSegments(spark, path, dim, value)
    read(spark, path, spec, df =>
      df.filter(col(Pipeline.SegmentCol).isin(segs: _*) && col(dim) === value))
  }

  /** [[read]] restricted to segments the NUMERIC zone-map admits for
    * `column BETWEEN lower AND upper`, with the row-level predicate applied
    * on the stored rows. Row semantics: sound for numeric dimension columns
    * and for raw-append (isRollup=false) stores, where stored rows are the
    * queryable values. For per-batch ROLLUP stores note the row filter sees
    * partial metric values, not the merged final — filter after [[read]]
    * when the predicate targets merged metrics (the segment-level prune is
    * then still a valid superset, since every partial lies within the
    * segment's bounds).
    */
  def readPrunedNumeric(spark: SparkSession, path: String, spec: IngestionSpec,
      column: String, lower: Double, upper: Double): DataFrame = {
    val segs = pruneSegmentsNumericRange(spark, path, column, lower, upper)
    read(spark, path, spec, df =>
      df.filter(col(Pipeline.SegmentCol).isin(segs: _*) &&
        col(column) >= lit(lower) && col(column) <= lit(upper)))
  }

  /** Interval-restricted read — the Druid query `intervals` clause
    * (every Druid query carries one). Segment dir names are
    * chronologically sortable (`yyyy-MM-dd'T'HH.mm.ss`), so the interval
    * becomes a string range filter on the partition key: excluded time
    * chunks are pruned before the scan, no zone-map needed for the time
    * dimension. Rolled rows carry their queryGranularity BUCKET timestamp,
    * so (as in Druid) interval resolution is the bucket: any bucket
    * intersecting [from, to) is returned whole.
    */
  def readInterval(spark: SparkSession, path: String, spec: IngestionSpec,
      from: java.sql.Timestamp, to: java.sql.Timestamp): DataFrame = {
    val gran = spec.dataSchema.granularitySpec
    // rolled rows carry their queryGranularity BUCKET timestamp, so the
    // lower bound truncates to the bucket (Druid's interval-resolution
    // rule); raw-append rows (rollup=false) keep their UNtruncated event
    // time, so the raw bound applies — a truncated bound would return rows
    // before `from` (review finding r7)
    val fromBucket =
      if (!gran.rollup) from
      else java.sql.Timestamp.from(gran.queryGranularity
        .truncateInstant(from.toInstant, writerZone(spark, path)))
    read(spark, path, spec, df =>
      df.filter(col(Pipeline.SegmentCol) >=
          chunkName(spark, path, gran.segmentGranularity, from) &&
        col(Pipeline.SegmentCol) <= writerFmt(spark, path).format(to))
        .filter(col(Pipeline.TsCol) >= lit(fromBucket) && col(Pipeline.TsCol) < lit(to)))
  }

  /** Session-zone scaffolding shared by every chunk-name comparison
    * ([[readInterval]]/[[applyRetention]]/[[killInterval]]): segment dir
    * names were produced by date_format + date_trunc under the SESSION
    * timezone, so bounds must render and truncate the same way — one
    * definition, not three copies that can silently diverge (review
    * finding r7). */
  private def sessionZone(spark: SparkSession): java.time.ZoneId =
    java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID))

  /** The zone segment dir names were FORMATTED under: the sink's
    * [[SegmentSink.TzMarker]] when present, else the reader's session zone
    * (pre-marker stores keep the old same-session assumption). A reader
    * session in a DIFFERENT zone than the writer would otherwise compare
    * bounds against dir names shifted by the offset — silently pruning or
    * dropping valid segments (review finding r7).
    *
    * The cache is validated against the marker file's modification time on
    * EVERY lookup (one getFileStatus — a metadata read, not a marker read):
    * a store deleted/recreated or OVERWRITE-ALL-swapped at the same path in
    * a long-lived server must not keep serving the pre-swap zone (advice
    * r7). Marker gone → entry dropped; marker mtime changed → re-read. */
  private val tzCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, java.time.ZoneId)]()
  private[graft] def writerZone(spark: SparkSession,
      path: String): java.time.ZoneId = {
    val p = new org.apache.hadoop.fs.Path(s"$path/${SegmentSink.TzMarker}")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val status = try Some(fs.getFileStatus(p))
                 catch { case _: java.io.FileNotFoundException => None }
    status match {
      case None =>
        tzCache.remove(path)
        sessionZone(spark) // NOT cached: a marker may appear later
      case Some(st) =>
        val cached = tzCache.get(path)
        if (cached != null && cached._1 == st.getModificationTime) cached._2
        else {
          val in = fs.open(p)
          val tz = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
          val zone = java.time.ZoneId.of(tz)
          tzCache.put(path, (st.getModificationTime, zone))
          zone
        }
    }
  }

  private def writerFmt(spark: SparkSession,
      path: String): java.text.SimpleDateFormat = {
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd'T'HH.mm.ss")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone(writerZone(spark, path)))
    fmt
  }

  /** Dir-name of the segment chunk containing `t` at `gran`, parsed and
    * truncated in the STORE's write zone. */
  private def chunkName(spark: SparkSession, path: String,
      gran: graft.time.Granularity, t: java.sql.Timestamp): String =
    writerFmt(spark, path).format(java.sql.Timestamp.from(
      gran.truncateInstant(t.toInstant, writerZone(spark, path))))

  /** Per-segment metadata — the Druid segmentMetadata query analog: row
    * count, batch count, and merged dim value ranges from the zone-map
    * sidecar. Input is already-reduced partials, so this is a cheap scan.
    */
  def metadata(spark: SparkSession, path: String): DataFrame = {
    val df = open(spark, path)
    // batch-mode stores (writeBatch) carry no __batch_id partition key
    val batches = if (df.columns.contains("__batch_id"))
      count_distinct(col("__batch_id")) else lit(1L)
    val rows = df
      .groupBy(col(Pipeline.SegmentCol))
      .agg(count(lit(1)).as("rows"), batches.as("batches"))
    val sidecar = statsFiles(spark, path)
    if (sidecar.isEmpty) // stats-less store: dim_ranges = null
      return rows.withColumn("dim_ranges", lit(null).cast(
        "array<struct<column:string,min_val:string,max_val:string>>"))
    val raw = open(spark, sidecar: _*)
    // merge bounds per family FIRST (lexicographic min over stringified
    // numbers would say "10" < "9"), then render to strings for the report
    val typed = raw.columns.contains("min_lng")
    val merged = raw.groupBy(col(Pipeline.SegmentCol), col("column"))
      .agg(min(col("min_val")).as("ms"), max(col("max_val")).as("xs"),
        (if (typed) min(col("min_lng")) else min(lit(null).cast(LongType))).as("ml"),
        (if (typed) max(col("max_lng")) else max(lit(null).cast(LongType))).as("xl"),
        (if (typed) min(col("min_dbl")) else min(lit(null).cast("double"))).as("md"),
        (if (typed) max(col("max_dbl")) else max(lit(null).cast("double"))).as("xd"))
    val stats = merged
      .select(col(Pipeline.SegmentCol), col("column"),
        coalesce(col("ms"), col("ml").cast("string"), col("md").cast("string")).as("min_val"),
        coalesce(col("xs"), col("xl").cast("string"), col("xd").cast("string")).as("max_val"))
      .groupBy(col(Pipeline.SegmentCol))
      .agg(sort_array(collect_list(struct(col("column"), col("min_val"),
        col("max_val")))).as("dim_ranges"))
    rows.join(stats, Seq(Pipeline.SegmentCol), "left")
  }

  /** Retention rules — the Druid drop-rule analog (coordinator `dropBefore` /
    * period load rules): delete segment directories whose time chunk ends
    * before `keepFrom`. Chunk membership comes from the sortable dir-name
    * encoding, so this is a pure fs-metadata operation — no data scan; the
    * zone-map sidecar rows for dropped segments become dead weight that the
    * next [[SegmentSink.regenerateStats]]/compaction clears (pruning reads
    * only intersect covered segments, so stale rows are harmless).
    * Returns the dropped segment names.
    */
  def applyRetention(spark: SparkSession, path: String, spec: IngestionSpec,
      keepFrom: java.sql.Timestamp): Seq[String] = {
    // a segment whose CHUNK END is at or before the bound holds only expired
    // rows; the chunk containing keepFrom is retained whole (Druid drops
    // whole segments, never partial) — chunkName runs the session-zone
    // truncation the dir names were produced under.
    val keepSeg = chunkName(spark, path,
      spec.dataSchema.granularitySpec.segmentGranularity, keepFrom)
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dropped = listSegmentDirs(spark, path).filter(_ < keepSeg)
    dropped.foreach { seg =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/${Pipeline.SegmentCol}=$seg"), true)
    }
    dropped
  }

  /** Kill-by-interval (the Druid coordinator kill task analog): delete the
    * segment directories whose chunk START falls in `[start, end)`. Same
    * fs-metadata-only contract as [[applyRetention]] — whole segments,
    * sortable dir-name comparison, no data scan; the interval endpoints are
    * truncated to chunk boundaries in the session zone first, so a
    * mid-chunk interval never deletes the chunk containing data outside it
    * (Druid's kill takes whole-chunk intervals too). Returns the killed
    * segment names.
    */
  def killInterval(spark: SparkSession, path: String, spec: IngestionSpec,
      start: java.sql.Timestamp, end: java.sql.Timestamp): Seq[String] = {
    val gran = spec.dataSchema.granularitySpec.segmentGranularity
    val (s0, e0) =
      (chunkName(spark, path, gran, start), chunkName(spark, path, gran, end))
    // a mid-chunk START must not kill the chunk containing it (that chunk
    // holds rows before the interval); only chunks fully inside survive
    // the cut — Druid's whole-chunk kill contract
    val alignedStart = gran.truncateInstant(start.toInstant,
      writerZone(spark, path)) == start.toInstant
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val killed = listSegmentDirs(spark, path)
      .filter(s => (if (alignedStart) s >= s0 else s > s0) && s < e0)
    killed.foreach { seg =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/${Pipeline.SegmentCol}=$seg"), true)
    }
    killed
  }

  /** Union-datasource read — the Druid `union` datasource: one logical
    * rollup over several stores sharing a spec (e.g. per-topic stores from
    * [[graft.sources.KafkaRouter]] queried as one). Partials from every
    * store re-merge in the same groupBy, so the result is identical to
    * having ingested into a single store.
    */
  def readUnion(spark: SparkSession, paths: Seq[String], spec: IngestionSpec,
      finalizeSketches: Boolean = true): DataFrame = {
    require(paths.nonEmpty, "readUnion needs at least one store path")
    graft.functions.GraftFunctions.register(spark)
    val parts = paths.map(p => open(spark, p).drop("__batch_id"))
    mergePartials(parts.reduce(_ unionByName (_, allowMissingColumns = true)),
      spec, finalizeSketches)
  }

  /** Compaction: rewrite per-batch partials as finals, one pass per store —
    * the analog of Druid segment compaction. At scale this is the periodic
    * job that keeps read amplification bounded: input rows = partials
    * (segments × dims × batches), output = finals, partitioned by the same
    * segment key so readers and partition pruning are unaffected.
    */
  /** Reindex: rebuild a store at COARSER granularities and optionally a
    * dimension subset — the Druid reindex / compaction-with-granularity-
    * change that coarsens aging data (hour segments → day, drop a
    * high-cardinality dim) to cut segment counts and storage. Works on the
    * stored PARTIALS: every aggregator re-merges through [[mergeColumn]]
    * (sums/min/max re-sum, stored sketches stay re-mergeable binaries), so
    * no raw data is needed. Dropping a dim just widens the merge groups —
    * rollup semantics, not sampling.
    *
    * Correctness requires the new granularities to be coarser than (or
    * equal to) the old — truncation composes only downward; fixed-width
    * pairs are validated here (new width divisible by old), calendar
    * coarsening (e.g. DAY partials → MONTH) is inherently aligned.
    */
  def reindex(spark: SparkSession, path: String, spec: IngestionSpec,
      outPath: String,
      segmentGranularity: graft.time.Granularity,
      queryGranularity: graft.time.Granularity,
      keepDims: Option[Seq[String]] = scala.None): Unit = {
    val old = spec.dataSchema.granularitySpec.queryGranularity
    // truncation composes only downward — and not every "coarser-looking"
    // pair composes (MONTH partials reindexed to DAY would be LABELED day-
    // granular while carrying month-truncated timestamps; WEEK straddles
    // month boundaries). Reject any pair not provably composable.
    require(graft.time.Granularity.composesTo(old, queryGranularity),
      s"reindex queryGranularity ${queryGranularity.name} does not compose " +
        s"over the store's ${old.name} (new buckets must be provably " +
        "coarser and boundary-aligned)")
    require(graft.time.Granularity.composesTo(queryGranularity, segmentGranularity),
      s"reindex segmentGranularity ${segmentGranularity.name} does not " +
        s"compose over queryGranularity ${queryGranularity.name}")
    val merged = read(spark, path, spec, finalizeSketches = false)
    val aggNames = spec.dataSchema.aggregators.map(_.name).toSet
    val dimCols = merged.columns.toSeq.filterNot { c =>
      c == Pipeline.TsCol || c == Pipeline.SegmentCol || aggNames(c)
    }
    keepDims.foreach(ks => ks.foreach(k => require(dimCols.contains(k),
      s"keepDims column '$k' is not a dimension of the store ($dimCols)")))
    val kept = keepDims.getOrElse(dimCols)
    val rebucketed = merged
      .withColumn(Pipeline.TsCol, queryGranularity.truncate(col(Pipeline.TsCol)))
      .withColumn(Pipeline.SegmentCol,
        segmentGranularity.truncate(col(Pipeline.TsCol)))
    val merges = spec.dataSchema.aggregators
      .map(mergeColumn(_, finalizeSketches = false))
    val out = rebucketed
      .groupBy((Pipeline.TsCol +: Pipeline.SegmentCol +: kept).map(col): _*)
      .agg(merges.head, merges.tail: _*)
    SegmentSink.writeBatch(out, outPath)
  }

  def compact(spark: SparkSession, path: String, spec: IngestionSpec,
      outPath: String): Unit = {
    // sketches stay binary through compaction — compacted stores re-merge.
    // persisted: the data write and stats regen are two actions, and the
    // expensive full-store merge must not run twice
    val finals = read(spark, path, spec, finalizeSketches = false).persist()
    try {
      // keep the (segment, __batch_id) layout invariant: compacted rows land
      // as batch 0, so later appendToExisting tasks (batch ids ≥ 1) coexist
      // in the same directory tree — mixed flat/nested layouts would break
      // parquet partition discovery
      finals.withColumn("__batch_id", org.apache.spark.sql.functions.lit(0L))
        .write.mode("overwrite")
        .partitionBy(Pipeline.SegmentCol, "__batch_id")
        .option("compression", "zstd").parquet(outPath)
      // regenerate the zone-map for the compacted store (segment already in
      // dir-string form here)
      SegmentSink.appendStats(finals, outPath)
    } finally finals.unpersist()
  }

  /** [[compact]] staged-then-swapped into the ORIGINAL directory, so the
    * dataSource keeps ONE canonical store dir across its whole task history
    * (index → compact → kill/retention → append). Compact-to-a-new-dir with
    * a registry flip silently forked the lineage: a later index task wrote
    * to and re-registered the original dir, discarding the compaction and
    * any kills applied in between.
    *
    * Crash safety: the staging write completes fully BEFORE the swap, and
    * the swap is rename(original → retired) then rename(staging →
    * original) then delete(retired) — two metadata renames, never a
    * delete-then-rename that would leave NO store at the canonical path
    * for the duration of a recursive delete (review finding r7). The only
    * no-store window is between the two renames; a crash there is repaired
    * by the recovery preamble of the NEXT compactInPlace (the retired dir
    * is restored verbatim and the interrupted compaction is discarded —
    * rerunning the task redoes it). Same-filesystem staging/retired
    * siblings keep the renames rename-able.
    */
  def compactInPlace(spark: SparkSession, path: String,
      spec: IngestionSpec): Unit = {
    val staging = s"${path.stripSuffix("/")}__compacting"
    val retired = s"${path.stripSuffix("/")}__retired"
    val p = new org.apache.hadoop.fs.Path(path)
    val s = new org.apache.hadoop.fs.Path(staging)
    val r = new org.apache.hadoop.fs.Path(retired)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // recovery: the canonical dir is only ever absent between the two
    // renames of an interrupted previous swap — restore the retired store
    // (the safe choice: a staging dir of unknown completeness is discarded)
    if (!fs.exists(p) && fs.exists(r) && !fs.rename(r, p))
      throw new java.io.IOException(
        s"compactInPlace: could not restore interrupted swap $retired → $path")
    fs.delete(s, true) // stale staging from an interrupted previous write
    fs.delete(r, true)
    compact(spark, path, spec, staging)
    if (!fs.rename(p, r)) throw new java.io.IOException(
      s"compactInPlace: could not retire pre-compaction store $path")
    if (!fs.rename(s, p)) {
      // put the original back rather than leave no store at the path
      fs.rename(r, p)
      throw new java.io.IOException(
        s"compactInPlace: could not swap $staging into $path")
    }
    fs.delete(r, true)
  }

  // ------------------------------------------------- bucketed at-rest layout

  /** Bucket-layout sidecar: records the (bucketCols, numBuckets) a bucketed
    * store was written with, so a FRESH session can re-attach the catalog
    * metadata Spark needs to exploit the layout (bucket membership lives in
    * file NAMES; only the table's bucket spec tells the planner to trust
    * them). `_`-prefixed like [[SegmentSink.StatsDir]] — invisible to plain
    * parquet reads of the store. */
  private val BucketMetaFile = "_graft_buckets.json"

  /** [[compact]] with a bucketed at-rest layout — the storage-side half of
    * SURVEY §2.10 (the time-and-dims partitioner is the ingest-side half):
    * finals land partitioned by segment AND bucketed+sorted by `bucketDims`,
    * registered as external table `table` at `outPath`. Two stores bucketed
    * by the same key with the same bucket count join with ZERO exchanges
    * (each bucket pair joins locally) — for a repeatedly-joined fact pair at
    * 100 TB, both sides' shuffles are amortized into this one write.
    * Same-keyed groupBys skip their exchange too. Time partition pruning and
    * the zone-map sidecar keep working unchanged.
    */
  def compactBucketed(spark: SparkSession, path: String, spec: IngestionSpec,
      outPath: String, table: String, bucketDims: Seq[String],
      numBuckets: Int): Unit = {
    require(bucketDims.nonEmpty, "compactBucketed needs at least one bucket dim")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val finals = read(spark, path, spec, finalizeSketches = false).persist()
    try {
      spark.sql(s"DROP TABLE IF EXISTS `$table`")
      finals.write.mode("overwrite")
        .partitionBy(Pipeline.SegmentCol)
        .bucketBy(numBuckets, bucketDims.head, bucketDims.tail: _*)
        .sortBy(bucketDims.head, bucketDims.tail: _*)
        .option("compression", "zstd")
        .option("path", outPath)
        .saveAsTable(table)
      SegmentSink.appendStats(finals, outPath)
      val meta = s"""{"numBuckets":$numBuckets,"bucketCols":${
        bucketDims.map(c => "\"" + c + "\"").mkString("[", ",", "]")}}"""
      val p = new org.apache.hadoop.fs.Path(s"$outPath/$BucketMetaFile")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val os = fs.create(p, true)
      try os.write(meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally os.close()
    } finally finals.unpersist()
  }

  /** True iff `path` carries the [[compactBucketed]] sidecar — i.e. its file
    * NAMES encode a bucket layout a catalog table can exploit. Guards the
    * task API: appending plain (segment, __batch_id) partials into a
    * bucketed store would corrupt the layout silently. */
  def hasBucketLayout(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/$BucketMetaFile")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The compact-TASK entry point (shared by the HTTP task handler and
    * library callers): plain compaction stays in place ([[compactInPlace]] —
    * one canonical dir); a `partitionsSpec` (the Druid hashed-partitions
    * tuningConfig analog: partitionDimensions → bucket dims, numShards →
    * bucket count) produces the BUCKETED at-rest layout instead. The
    * bucketed store lands in a sibling `<dir>__bucketed` (bucket layout
    * lives in a catalog table whose location must outlive the swap dance)
    * and the returned dir becomes the dataSource's canonical store; plain
    * [[read]] keeps working on it (bucket-named files are ordinary parquet,
    * the sidecar is `_`-hidden), while [[readBucketed]] callers get the
    * zero-exchange plan. A bucketed store is a TERMINAL layout: later
    * append/index/kill tasks must re-compact first (loud errors at those
    * sites), exactly like a hash-partitioned Druid compaction supersedes
    * its input segments.
    *
    * Returns the (possibly new) canonical store dir.
    */
  def compactTask(spark: SparkSession, dir: String, spec: IngestionSpec,
      partitionsSpec: Option[(Seq[String], Int)], table: String): String =
    partitionsSpec match {
      case scala.None =>
        require(!hasBucketLayout(spark, dir),
          "this store already has a bucketed layout; plain re-compaction " +
            "would discard it — pass partitionsSpec again (or kill and " +
            "re-ingest for a plain store)")
        compactInPlace(spark, dir, spec); dir
      case Some((bucketDims, numBuckets)) =>
        val out = s"${dir.stripSuffix("/")}__bucketed"
        compactBucketed(spark, dir, spec, out, table, bucketDims, numBuckets)
        // the pre-compaction partials are superseded — remove them so the
        // dataSource has ONE live store on disk
        val p = new org.apache.hadoop.fs.Path(dir)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (!fs.delete(p, true)) throw new java.io.IOException(
          s"compactTask: could not remove superseded store $dir")
        out
    }

  /** Read a [[compactBucketed]] store WITH its bucket layout: returns the
    * catalog table (attaching it first when this session has never seen the
    * store — `CREATE TABLE … CLUSTERED BY … LOCATION` over the existing
    * bucket-named files, then partition recovery). A plain
    * `spark.read.parquet` of the same path stays valid but shuffles on
    * every join — this entry point is what makes the at-rest layout pay. */
  def readBucketed(spark: SparkSession, outPath: String,
      table: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    if (!spark.catalog.tableExists(table)) {
      val metaPath = new org.apache.hadoop.fs.Path(s"$outPath/$BucketMetaFile")
      val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      require(fs.exists(metaPath),
        s"no bucket-layout sidecar at $outPath — not a compactBucketed store")
      val in = fs.open(metaPath)
      val meta = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(
        new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8))
      finally in.close()
      val n = meta.get("numBuckets").asInt
      val cols = {
        val it = meta.get("bucketCols").elements()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText
        b.result()
      }
      val bucketCols = cols.map(c => s"`$c`").mkString(", ")
      // schema from the files themselves (partition discovery appends the
      // segment key as a string column, matching the written layout)
      val schema = spark.read.parquet(outPath).schema.toDDL
      spark.sql(
        s"""CREATE TABLE `$table` ($schema) USING PARQUET
           |PARTITIONED BY (`${Pipeline.SegmentCol}`)
           |CLUSTERED BY ($bucketCols) SORTED BY ($bucketCols)
           |INTO $n BUCKETS
           |LOCATION '$outPath'""".stripMargin)
      spark.catalog.recoverPartitions(table)
    }
    spark.table(table)
  }
}
