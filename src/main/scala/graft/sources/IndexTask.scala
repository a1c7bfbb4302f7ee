package graft.sources

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.{IngestionSpec, SpecLoader}
import graft.pipeline.Pipeline

/** Druid's classic JSON batch-ingestion task (`POST /druid/indexer/v1/task`
  * with an `index` / `index_parallel` payload — the pre-MSQ path a large
  * share of production specs still use; upstream
  * indexing-service ParallelIndexSupervisorTask).
  *
  * The task's `spec.dataSchema` is the SAME IngestionSpec the streaming
  * path loads (modern top-level timestampSpec/dimensionsSpec or the legacy
  * parser.parseSpec nesting), so batch and stream share one pipeline:
  * extractTimestamp → transform/project → rollup → segment store. Segments
  * land as a [[graft.sink.SegmentSink]] store (per-batch partials + stats
  * sidecar) and are queried through [[graft.sink.SegmentStore.read]], which
  * re-merges and finalizes — exactly the streaming stores' read path, so
  * appended batches merge correctly even for sketch/mean/first-last
  * partials.
  *
  * Documented deltas, each loud or reported rather than silent:
  *  - the task runs SYNCHRONOUSLY inside the submit request (bounded local
  *    inputs; the response still carries only the task id and status is
  *    polled like upstream);
  *  - `appendToExisting=false` (the default) replaces the WHOLE dataSource,
  *    not just covered intervals — partial replacement is the SQL
  *    `REPLACE … OVERWRITE WHERE` statement's job.
  */
object IndexTask {

  final case class Result(dataSource: String, storeDir: String,
      spec: IngestionSpec, rowsIngested: Long, segments: Long)

  /** Parse + run one task document; segments land under
    * `<storeRoot>/<dataSource>`, unless `currentDir` resolves the dataSource
    * to an already-registered store dir — then THAT dir is the target, so a
    * task history (index → compact → append) stays on one canonical store. */
  def run(spark: SparkSession, taskJson: String, storeRoot: String,
      currentDir: String => Option[String] = _ => None): Result = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val root = mapper.readTree(taskJson)
    val taskType = str(root, "type")
    require(taskType == "index_parallel" || taskType == "index",
      s"unsupported task type '$taskType' (index/index_parallel; streaming " +
        "supervisors attach as server routes, SQL ingestion via INSERT INTO)")
    val spec = Option(root.get("spec")).getOrElse(
      throw new IllegalArgumentException("task needs a spec"))
    val ingestion = SpecLoader.fromJson(spec.toString)
    val ds = ingestion.dataSchema.dataSource
    val io = Option(spec.get("ioConfig")).getOrElse(
      throw new IllegalArgumentException("task spec needs an ioConfig"))
    val append = Option(io.get("appendToExisting")).exists(_.asBoolean)

    val raw = frame(spark,
      Option(io.get("inputSource")).getOrElse(throw new IllegalArgumentException(
        "ioConfig needs an inputSource")),
      Option(io.get("inputFormat")).getOrElse(throw new IllegalArgumentException(
        "ioConfig needs an inputFormat")))

    val p = new Pipeline(ingestion)
    val out = p.withSegment(p.rollup(p.project(p.extractTimestamp(raw))))

    // the dataSource becomes a path segment under storeRoot AND (for
    // replace tasks) the target of a recursive delete — a traversal like
    // '../../victim' must never reach the filesystem (same rule as the
    // /v1/post spool path; review finding r7)
    require(ds.matches("[A-Za-z0-9_\\-][A-Za-z0-9_.\\-]*"),
      s"invalid dataSource name '$ds' (letters/digits/._- only, not " +
        "starting with '.')")
    val target = currentDir(ds).getOrElse(s"${storeRoot.stripSuffix("/")}/$ds")
    // a bucketed (hashed-compacted) store is a TERMINAL layout: appending
    // (segment, __batch_id) partials into bucket-named files would corrupt
    // the layout silently, and overwriting would orphan the catalog table —
    // loud either way (Druid analog: hashed compaction supersedes its input
    // segments; new data means a new compaction round)
    require(!graft.sink.SegmentStore.hasBucketLayout(spark, target),
      s"dataSource '$ds' is a bucketed (hashed-compacted) store at $target " +
        "— index tasks cannot write into it; ingest to a fresh dataSource " +
        "and re-compact, or drop the bucketed store first")
    val tp = new org.apache.hadoop.fs.Path(target)
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!append && fs.exists(tp)) fs.delete(tp, true)
    // The store nests `__batch_id=N` INSIDE each `segment=…` dir, and
    // writeMicroBatch uses DYNAMIC partition overwrite keyed on
    // (segment, __batch_id) — so a reused batch id silently overwrites a
    // prior append's rows for every segment both batches share. Derive the
    // next id from the MAX existing id across all segment dirs (not a
    // top-level dir count, which is always 0 here).
    val batchId =
      if (!append || !fs.exists(tp)) 0L
      else {
        val ids = for {
          seg <- fs.listStatus(tp).toSeq
          if seg.isDirectory && seg.getPath.getName.contains("=")
          b <- fs.listStatus(seg.getPath).toSeq
          name = b.getPath.getName if name.startsWith("__batch_id=")
          id <- scala.util.Try(name.stripPrefix("__batch_id=").toLong).toOption
        } yield id
        if (ids.isEmpty) 0L else ids.max + 1L
      }
    graft.sink.SegmentSink.writeMicroBatch(target)(out, batchId)

    // per-TASK counters over the rows this task produced (Druid's
    // rowsProcessed is per-task, not cumulative). Counted from THIS task's
    // just-written __batch_id partition (partition pruning reads only its
    // files) — aggregating the lazy `out` plan would re-run the whole
    // ingest pipeline, and the whole-store merge read before it grew
    // linearly with store size on every append (review findings r7 ×2)
    val (segments, rows) = {
      val agg = graft.sink.SegmentStore.open(spark, target)
        .filter(col("__batch_id") === batchId)
        .agg(count_distinct(col(Pipeline.SegmentCol)).as("segs"),
          count(lit(1)).as("rows")).head()
      (agg.getLong(0), agg.getLong(1))
    }
    Result(ds, target, ingestion, rows, segments)
  }

  /** `POST /druid/indexer/v1/sampler` core (upstream SamplerResource — the
    * console's spec-preview): run the ingestion pipeline over at most
    * `numRows` input rows WITHOUT writing segments, reporting
    * (numRowsRead, numRowsIndexed, indexed-row JSON previews). The
    * defensible subset of upstream's envelope: entries carry the `parsed`
    * (post-rollup) rows; per-input `input` echoes are omitted rather than
    * approximated (row alignment through a rollup is not 1:1). */
  def sample(spark: SparkSession, taskJson: String): (Long, Long, Seq[String]) = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper
    val root = mapper.readTree(taskJson)
    val taskType = str(root, "type")
    require(taskType == "index_parallel" || taskType == "index",
      s"unsupported sampler task type '$taskType' (index/index_parallel)")
    val spec = Option(root.get("spec")).getOrElse(
      throw new IllegalArgumentException("sampler needs a spec"))
    val numRows = Option(root.get("samplerConfig"))
      .flatMap(c => Option(c.get("numRows"))).map(_.asInt).getOrElse(200)
    require(numRows > 0, "samplerConfig.numRows must be positive")
    val ingestion = SpecLoader.fromJson(spec.toString)
    val io = Option(spec.get("ioConfig")).getOrElse(
      throw new IllegalArgumentException("sampler spec needs an ioConfig"))
    val raw = frame(spark,
      Option(io.get("inputSource")).getOrElse(throw new IllegalArgumentException(
        "ioConfig needs an inputSource")),
      Option(io.get("inputFormat")).getOrElse(throw new IllegalArgumentException(
        "ioConfig needs an inputFormat"))).limit(numRows).cache()
    try {
      val read = raw.count()
      val p = new Pipeline(ingestion)
      val indexed = p.rollup(p.project(p.extractTimestamp(raw))).cache()
      try {
        val n = indexed.count()
        (read, n, indexed.limit(numRows).toJSON.collect().toSeq)
      } finally indexed.unpersist()
    } finally raw.unpersist()
  }

  /** ioConfig.inputSource + inputFormat → raw DataFrame. `local` (baseDir
    * [+filter glob] or files) and `inline` sources — this engine runs
    * without egress, so http/s3/gcs are a loud error naming the gap;
    * json/csv/tsv/parquet/orc formats (delimited ones need `columns` or
    * `findColumnsFromHeader`). */
  private[sources] def frame(spark: SparkSession, src: JsonNode,
      fmt: JsonNode): DataFrame = {
    val fmtType = str(fmt, "type")
    def delimited(paths: Seq[String], sep: String): DataFrame = {
      val find = Option(fmt.get("findColumnsFromHeader")).exists(_.asBoolean)
      val cols = Option(fmt.get("columns")).toSeq
        .flatMap(_.elements().asScala().map(_.asText))
      require(find || cols.nonEmpty,
        s"inputFormat '$fmtType' needs columns or findColumnsFromHeader")
      val r = spark.read.option("sep", sep).option("header", find)
        .option("inferSchema", false).csv(paths: _*)
      if (find) r else r.toDF(cols: _*)
    }
    str(src, "type") match {
      case "local" =>
        val filter = Option(src.get("filter")).map(_.asText)
        val paths: Seq[String] =
          if (src.has("files"))
            src.get("files").elements().asScala().map(_.asText).toSeq
          else if (src.has("baseDir"))
            Seq(s"${src.get("baseDir").asText.stripSuffix("/")}/" +
              filter.getOrElse("*"))
          else throw new IllegalArgumentException(
            "local inputSource needs 'files' or 'baseDir'")
        fmtType match {
          case "parquet" | "orc" => spark.read.format(fmtType).load(paths: _*)
          case "json"            => spark.read.json(paths: _*)
          case "csv"             => delimited(paths, ",")
          case "tsv" => delimited(paths,
            Option(fmt.get("delimiter")).map(_.asText).getOrElse("\t"))
          case other => throw new IllegalArgumentException(
            s"unsupported inputFormat '$other' (json/csv/tsv/parquet/orc)")
        }
      case "inline" =>
        val data = Option(src.get("data")).map(_.asText).getOrElse(
          throw new IllegalArgumentException("inline inputSource needs data"))
        import spark.implicits._
        val lines = data.split("\n").toSeq.toDS()
        fmtType match {
          case "json" => spark.read.json(lines)
          case "csv" | "tsv" =>
            val sep = if (fmtType == "csv") ","
                      else Option(fmt.get("delimiter")).map(_.asText).getOrElse("\t")
            val find = Option(fmt.get("findColumnsFromHeader")).exists(_.asBoolean)
            val cols = Option(fmt.get("columns")).toSeq
              .flatMap(_.elements().asScala().map(_.asText))
            require(find || cols.nonEmpty,
              s"inputFormat '$fmtType' needs columns or findColumnsFromHeader")
            val r = spark.read.option("sep", sep).option("header", find)
              .option("inferSchema", false).csv(lines)
            if (find) r else r.toDF(cols: _*)
          case other => throw new IllegalArgumentException(
            s"inline inputSource supports json/csv/tsv, got '$other'")
        }
      case other => throw new IllegalArgumentException(
        s"unsupported inputSource type '$other' — only 'local' and " +
          "'inline' (this engine runs without egress; stage remote data first)")
    }
  }

  private def str(n: JsonNode, field: String): String =
    Option(n.get(field)).map(_.asText).getOrElse("")

  private implicit class RichIt[T](val it: java.util.Iterator[T]) extends AnyVal {
    def asScala(): Iterator[T] = scala.jdk.CollectionConverters
      .IteratorHasAsScala(it).asScala
  }
}
