package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.config.{IngestionSpec, SpecLoader}
import graft.pipeline.Pipeline

/** A broker query a reader sends. `body(op)` renders the request with its
  * query id; `check(reply, lo, hi)` returns the first difference from what
  * the reply may hold, given the rows acked before the query was sent (`lo`)
  * and the rows posted so far (`hi`). */
trait ReadQuery {
  def name: String
  def sql: Boolean
  /** The SQL text, or the native query's JSON without its context. */
  def text: String
  def check(reply: String, lo: Long, hi: Long): Option[String]
  def path: String = if (sql) "/druid/v2/sql" else "/druid/v2"
  def body(op: String): String =
    if (sql) s"""{"query":${Json.str(text)},"context":{"sqlQueryId":"$op"}}"""
    else text.dropRight(1) + s""","context":{"queryId":"$op"}}""" // text ends in '}'
}

/** What both daemon workloads share: the spec, starting `graft.Daemon.run`
  * with the fixed `now`, the counter checks, the store walk and the
  * `sink.*` read-side layer metrics. */
object DaemonCommon {
  def spec(ds: String): IngestionSpec = SpecLoader.fromJson(Gen.specJson(ds))
  val schema: StructType = DataType.fromDDL(Gen.ValueSchemaDdl).asInstanceOf[StructType]
  /** The dataSource the queries read. */
  val ds: String = Gen.DataSource
  def nowLit = lit(java.sql.Timestamp.from(Gen.Now))

  def start(spark: SparkSession, dir: String, dataSources: Seq[String]): graft.Daemon.Handle =
    graft.Daemon.run(spark, dir, schema, dataSources.map(spec), now = nowLit)

  def storeDir(dir: String, dataSource: String = ds): String = s"$dir/stores/$dataSource"

  /** `/status` and the IngestStream counters of `ds` must both equal `want`. */
  def checkCounters(http: Http, h: graft.Daemon.Handle, ds: String, want: Gen.Counts,
      res: Result): Unit = {
    val (code, body) = http.get("/status")
    val st = Json.parse(body).path("dataSources").path(ds)
    val got = Gen.Counts(st.path("received").asLong(-1), st.path("sent").asLong(-1),
      st.path("dropped").asLong(-1))
    res.op(code == 200 && got == want, s"$ds /status $got != generator $want")
    val s = h.streams(ds)
    val gotS = Gen.Counts(s.received, s.sent, s.dropped)
    res.op(gotS == want, s"$ds IngestStream counters $gotS != generator $want")
  }

  /** The final merged store of `ds` must equal the generator's rollup exactly. */
  def checkStore(spark: SparkSession, dir: String, ds: String,
      want: Map[(Long, Int, Int), Gen.Agg], res: Result): Unit = {
    val rows = graft.sink.SegmentStore.read(spark, storeDir(dir, ds), spec(ds)).collect()
    val got = rows.map { r =>
      val k = (r.getAs[java.sql.Timestamp](Pipeline.TsCol).getTime / 1000,
        Gen.Countries.indexOf(r.getAs[String]("country")),
        Gen.Devices.indexOf(r.getAs[String]("device")))
      k -> Gen.Agg(r.getAs[Long]("cnt"), r.getAs[Long]("bytes_sum"),
        r.getAs[Long]("bytes_min"), r.getAs[Long]("bytes_max"))
    }.toMap
    val bad = (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k))
    res.op(rows.length == got.size && bad == 0,
      s"$ds store rollup: $bad of ${want.size} (bucket, country, device) groups differ")
  }

  /** Every value of a field called `name`, anywhere in `n`. */
  def fields(n: JsonNode, name: String): Seq[JsonNode] =
    if (n.isArray) n.elements().asScala.toSeq.flatMap(fields(_, name))
    else if (n.isObject) n.fields().asScala.toSeq.flatMap { e =>
      if (e.getKey == name) Seq(e.getValue) else fields(e.getValue, name) }
    else Nil

  /** Every progress event of `ds`'s stream that carried rows. */
  final class StreamObs(ds: String) extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      if (e.progress.name == s"graft-$ds" && e.progress.numInputRows > 0)
        batches.add(e.progress)
    def all: Seq[StreamingQueryProgress] = batches.asScala.toSeq
  }

  private val phases = Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
    "queryPlanning" -> "planning", "addBatch" -> "add_batch", "walCommit" -> "wal_commit",
    "commitOffsets" -> "commit_offsets", "triggerExecution" -> "trigger")

  /** `streaming.*` metrics over the batches of the timed phase. */
  def streamingMetrics(ps: Seq[StreamingQueryProgress], wallS: Double, res: Result): Unit = {
    if (ps.isEmpty) { res.op(false, "no micro-batch ran in the timed phase"); return }
    phases.foreach { case (k, n) =>
      val xs = ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
      if (xs.nonEmpty) res.metric(s"streaming.${n}_ms_p50", Stats.median(xs), "ms")
    }
    res.metric("streaming.batches", ps.size.toDouble, "count")
    res.metric("streaming.rows_per_batch_p50",
      Stats.median(ps.map(_.numInputRows.toDouble)), "count")
    val trig = ps.map(p => p.durationMs.get("triggerExecution").doubleValue).sum
    res.metric("streaming.busy_share", trig / 1000.0 / wallS, "ratio")
  }

  private def walk(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else { val s = Files.walk(p); try s.iterator().asScala.toList finally s.close() }
  }

  /** File count and size of a directory's data files (no hidden / `_`). */
  def dataFiles(dir: String): (Int, Double) = {
    val fs = walk(dir).filter(f => Files.isRegularFile(f) && {
      val n = f.getFileName.toString; !n.startsWith(".") && !n.startsWith("_") })
    (fs.size, fs.map(Files.size).sum / 1048576.0)
  }

  /** `sink.*` metrics of the store: layout, and `SegmentStore.read`
    * construction (including its mergeSchema footer job) timed `k` times. */
  def sinkMetrics(spark: SparkSession, obs: SparkObs, trace: Trace, dir: String,
      k: Int, res: Result): Unit = {
    val store = storeDir(dir)
    val (files, mb) = dataFiles(store)
    res.metric("sink.store_files", files.toDouble, "count")
    res.metric("sink.store_mb", mb, "MB")
    val dirs = walk(store).filter(Files.isDirectory(_)).map(_.getFileName.toString)
    res.metric("sink.batch_dirs", dirs.count(_.startsWith("__batch_id=")).toDouble, "count")
    res.metric("sink.segments", dirs.count(_.startsWith("segment=")).toDouble, "count")
    val jobs = (1 to k).map { i =>
      val a = obs.snap(spark.sparkContext)
      trace.span("sink.read_build", s"read-$i") {
        graft.sink.SegmentStore.read(spark, store, spec(ds))
      }
      (obs.snap(spark.sparkContext).jobs - a.jobs).toDouble
    }
    res.metric("sink.read_build_ms_p50", Stats.median(trace.ms("sink.read_build")), "ms")
    res.metric("sink.read_build_jobs", Stats.median(jobs), "count")
  }

  /** The store a broker query resolves its dataSource to: the Daemon's own
    * query route (merged, finalized rollup, `__time` envelope). */
  def route(spark: SparkSession, dir: String): DataFrame =
    graft.sink.SegmentStore.read(spark, storeDir(dir), spec(ds))
      .drop(Pipeline.SegmentCol)
      .withColumnRenamed(Pipeline.TsCol, "__time")
}
