package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.config.{AggregatorSpec, IngestionSpec}
import graft.pipeline.Pipeline
import graft.sink.Footers.{Bound, DoubleBound, LongBound, StrBound}

/** Query-time merge of per-batch partial rollups — the engine's analog of
  * Druid merging incremental segments at query time (the reference delivers
  * each send batch to the task separately; SURVEY §2.1 Druid task sink).
  *
  * [[graft.streaming.IngestStream.start]] and [[graft.sources.IndexTask.run]]
  * write one partial rollup row per (batch × bucket × dims); `read`
  * re-aggregates them into the final rollup. Every metric is written in its
  * [[stored]] form, which re-merges: decomposable aggregators from their
  * values (count→sum, sum→sum, min→min, max→max, incl. inside `filtered`),
  * and the finalized sketches (hyperUnique / cardinality / approxHistogram)
  * as the HLL or histogram binary Druid keeps in its segments, finalized
  * only at the read.
  *
  * Scale: the merge is a groupBy on (bucket, dims) over already-reduced rows —
  * input cardinality is segments × dims × batches, orders of magnitude below
  * raw events. Every read installs [[graft.plans.SegmentPruneRule]] on its
  * session, so a query's interval and dim predicates cut `segment=` dirs
  * before the scan.
  */
object SegmentStore {

  /** The form a store holds for an aggregator, under the same name:
    * `hyperUnique`/`cardinality` as an `hllSketch` and `approxHistogram` as
    * a `histogramSketch` (same probabilities, the sketch's default 128 bins
    * — `accuracy` is percentile_approx's knob, not a bin count), inside
    * `filtered` too; every other aggregator as declared. */
  def stored(a: AggregatorSpec): AggregatorSpec = a.aggType match {
    case "hyperUnique" | "cardinality" => a.copy(aggType = "hllSketch")
    case "approxHistogram" =>
      a.copy(aggType = "histogramSketch", accuracy = scala.None)
    case "filtered" => a.copy(aggregator = a.aggregator.map(stored))
    case _ => a
  }

  /** `spec` with every aggregator in its [[stored]] form: what the store
    * writers roll up with. */
  def stored(spec: IngestionSpec): IngestionSpec =
    spec.copy(dataSchema = spec.dataSchema.copy(
      aggregators = spec.dataSchema.aggregators.map(stored)))

  /** Rejects a rollup spec no read could merge, before a writer writes: a
    * per-batch finalized `exactCardinality` does not re-merge, so the store
    * would ingest fine and every read would throw in [[mergeColumn]]. */
  def requireStorable(spec: IngestionSpec): Unit = {
    def exactIn(a: AggregatorSpec): Boolean =
      a.aggType == "exactCardinality" || a.aggregator.exists(exactIn)
    require(!(spec.dataSchema.granularitySpec.rollup &&
        spec.dataSchema.aggregators.exists(exactIn)),
      "exactCardinality cannot stream: per-batch finalized distinct counts " +
        s"don't re-merge at read (aggregators ${spec.dataSchema.aggregators
          .filter(exactIn).map(a => s"${a.name}:${a.aggType}").mkString(",")}). " +
        "Use hyperUnique (an estimate, stored as a mergeable HLL sketch) or " +
        "hllSketch.")
  }

  def mergeColumn(spec: AggregatorSpec, finalizeSketches: Boolean = true): Column =
    stored(spec).aggType match {
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
            "values; use hyperUnique or hllSketch, whose stored HLL binary re-merges")
    }

  /** Read a segment store of per-batch partials and produce the final
    * rollup (one row per bucket × dims). The footer-merged schema
    * ([[Footers.schema]], what `mergeSchema` infers, without its Spark job)
    * tolerates schema evolution across chunks (new dims appear as nulls in
    * old segments — SURVEY §2.9 schema-evolution row). Filters on the
    * result prune segments through the session's
    * [[graft.plans.SegmentPruneRule]]. The merge:
    *  - raw-append store (rollup=false): rows were written unmodified, the
    *    spec's aggregator columns were never materialized — nothing to
    *    merge;
    *  - an aggregator-less rollup spec writes Pipeline.rollup's implicit
    *    count column `rows` — its re-merge is a sum (and it must not be
    *    mistaken for a dimension).
    */
  def read(spark: SparkSession, path: String, spec: IngestionSpec,
      finalizeSketches: Boolean = true): DataFrame = {
    val df = open(spark, path)
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

  /** The stored rows of the store at `path` under their footer-merged
    * schema: 0 Spark jobs to build. Registers graft's functions (the sketch
    * merges) and the segment pruner on the session first, so every store
    * read prunes. */
  private[graft] def open(spark: SparkSession, path: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    spark.read.schema(Footers.schema(spark, path)).parquet(path)
  }

  /** Whether a segment whose zone map gives `b` for a column can hold a
    * string in [lower, upper] (None: that end is open); true without a
    * string bound. */
  private[graft] def admitsRange(b: Option[Bound], lower: Option[String],
      upper: Option[String]): Boolean = b match {
    case Some(StrBound(lo, hi)) =>
      upper.forall(UTF8String.fromString(_).compareTo(lo) >= 0) &&
        lower.forall(UTF8String.fromString(_).compareTo(hi) <= 0)
    case _ => true
  }

  /** Whether a segment whose zone map gives `b` for a column can hold a
    * number in [lower, upper]; true without a numeric bound. */
  private[graft] def admitsNumeric(b: Option[Bound], lower: Double,
      upper: Double): Boolean = b match {
    case Some(LongBound(lo, hi)) =>
      // saturating floor/ceil: exact long comparisons for integral columns
      val loL = if (lower <= Long.MinValue.toDouble) Long.MinValue else math.floor(lower).toLong
      val upL = if (upper >= Long.MaxValue.toDouble) Long.MaxValue else math.ceil(upper).toLong
      lo <= upL && hi >= loL
    case Some(DoubleBound(lo, hi)) =>
      SQLOrderingUtil.compareDoubles(lo, upper) <= 0 &&
        SQLOrderingUtil.compareDoubles(hi, lower) >= 0
    case _ => true
  }

  /** Each segment's zone map: per column, the bound covering its files'
    * footer bounds. Files without values in the column (it is absent from
    * their schema, or null throughout) add nothing, as nulls never match;
    * a column with no values in the segment at all, or one that a file
    * holds values of without a bound, has none, so every admission keeps
    * that segment. */
  private[graft] def zoneMaps(spark: SparkSession,
      segFiles: Seq[(String, Seq[FileStatus])]): Seq[(String, Map[String, Bound])] =
    segFiles.map { case (seg, files) =>
      val footers = files.map(Footers.footer(_, spark))
      seg -> footers.flatMap(_.bounds.keys).distinct.flatMap(c =>
        Bound.cover(footers.flatMap(_.bounds.get(c))).map(c -> _)).toMap
    }

  /** The zone maps of the store at `path`, one per `segment=` dir, sorted. */
  private def zoneMaps(spark: SparkSession,
      path: String): Seq[(String, Map[String, Bound])] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    zoneMaps(spark, listSegmentDirs(spark, path).map(seg =>
      seg -> Footers.dataFiles(hconf, Seq(s"$path/${Pipeline.SegmentCol}=$seg"))))
  }

  /** `segment=` partition directory names under `path`. */
  private[graft] def listSegmentDirs(spark: SparkSession, path: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).map(_.getPath.getName)
      .filter(_.startsWith(s"${Pipeline.SegmentCol}="))
      .map(_.stripPrefix(s"${Pipeline.SegmentCol}=")).toSeq.sorted
  }

  /** Session-zone scaffolding shared by every chunk-name comparison
    * ([[applyRetention]]/[[killInterval]] and the prune rule's time
    * admission): segment dir names were produced by date_format +
    * date_trunc under the SESSION timezone, so bounds must render and
    * truncate the same way — one definition, not copies that can silently
    * diverge (review finding r7). */
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
    * count, batch count, and each column's value range from the segment's
    * zone map (footers; numbers rendered through Spark's string cast).
    * Input is already-reduced partials, so this is a cheap scan.
    */
  def metadata(spark: SparkSession, path: String): DataFrame = {
    val df = open(spark, path)
    // batch-mode stores (writeBatch) carry no __batch_id partition key
    val batches = if (df.columns.contains("__batch_id"))
      count_distinct(col("__batch_id")) else lit(1L)
    val rows = df
      .groupBy(col(Pipeline.SegmentCol))
      .agg(count(lit(1)).as("rows"), batches.as("batches"))
    def render(v: Any): String = Cast(Literal(v), StringType).eval().toString
    val ranges = zoneMaps(spark, path).collect { case (seg, z) if z.nonEmpty =>
      Row(seg, z.toSeq.sortBy(_._1).map {
        case (c, StrBound(lo, hi)) => Row(c, lo.toString, hi.toString)
        case (c, LongBound(lo, hi)) => Row(c, render(lo), render(hi))
        case (c, DoubleBound(lo, hi)) => Row(c, render(lo), render(hi))
      })
    }
    val schema = StructType.fromDDL(s"${Pipeline.SegmentCol} string, " +
      "dim_ranges array<struct<column:string,min_val:string,max_val:string>>")
    rows.join(spark.createDataFrame(ranges.asJava, schema),
      Seq(Pipeline.SegmentCol), "left")
  }

  /** Retention rules — the Druid drop-rule analog (coordinator `dropBefore` /
    * period load rules): delete segment directories whose time chunk ends
    * before `keepFrom`. Chunk membership comes from the sortable dir-name
    * encoding, so this is a pure fs-metadata operation — no data scan; the
    * zone map lives in the dropped files' footers and goes with them.
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
    // Keep the (segment, __batch_id) layout invariant: compacted rows land
    // as batch 0, so later appendToExisting tasks (batch ids ≥ 1) coexist
    // in the same directory tree — mixed flat/nested layouts would break
    // parquet partition discovery
    read(spark, path, spec, finalizeSketches = false)
      .withColumn("__batch_id", lit(0L))
      .write.mode("overwrite")
      .partitionBy(Pipeline.SegmentCol, "__batch_id")
      .option("compression", "zstd").parquet(outPath)
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
    * them). `_`-prefixed like [[SegmentSink.TzMarker]] — invisible to plain
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
    * the footer zone map keep working unchanged.
    */
  def compactBucketed(spark: SparkSession, path: String, spec: IngestionSpec,
      outPath: String, table: String, bucketDims: Seq[String],
      numBuckets: Int): Unit = {
    require(bucketDims.nonEmpty, "compactBucketed needs at least one bucket dim")
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    val finals = read(spark, path, spec, finalizeSketches = false)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    finals.write.mode("overwrite")
      .partitionBy(Pipeline.SegmentCol)
      .bucketBy(numBuckets, bucketDims.head, bucketDims.tail: _*)
      .sortBy(bucketDims.head, bucketDims.tail: _*)
      .option("compression", "zstd")
      .option("path", outPath)
      .saveAsTable(table)
    val meta = s"""{"numBuckets":$numBuckets,"bucketCols":${
      bucketDims.map(c => "\"" + c + "\"").mkString("[", ",", "]")}}"""
    val p = new org.apache.hadoop.fs.Path(s"$outPath/$BucketMetaFile")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val os = fs.create(p, true)
    try os.write(meta.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally os.close()
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
