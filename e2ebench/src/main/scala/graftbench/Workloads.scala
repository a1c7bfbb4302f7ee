package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.pipeline.Pipeline

/** Both workloads: closed-loop sync posters and closed-loop readers, all in
  * this JVM, against one `graft.Daemon.run`. The posters send a fixed,
  * seeded list of bodies sized from `--seconds`, so every run reports both
  * the write and the read metrics.
  *
  *  - `ingest_with_reads`: two posters send their bodies to `bench_events`;
  *    meanwhile one reader sends timeseries / topN / SQL count queries on
  *    the same dataSource until the posters are done.
  *  - `broker_reads`: set-up writes a seeded store of micro-batch partials
  *    for `bench_events`. Two posters first send smaller bodies to
  *    `bench_live`, which no query reads; after them, three readers send a
  *    fixed seeded sequence of native and SQL queries on `bench_events`,
  *    each checked against its exact reference answer. The phases do not
  *    overlap, so the read phase measures the read path alone.
  */
final class DaemonWorkload(a: Main.Args, shape: DaemonWorkload.Shape) extends Workload {
  import DaemonCommon._
  import DaemonWorkload._

  def run(spark: SparkSession, res: Result): Unit = {
    val trace = new Trace(a.trace)
    val obs = new SparkObs
    spark.sparkContext.addSparkListener(obs)
    val postDs = shape.postDs
    val streamObs = new StreamObs(postDs)
    spark.streams.addListener(streamObs)
    val dir = s"${a.workDir}/daemon"
    val (distinct, sequence): (IndexedSeq[ReadQuery], IndexedSeq[ReadQuery]) =
      if (shape.seededStore) {
        val t = System.nanoTime()
        val events = BrokerWorkload.writeStore(spark, a.seed, storeDir(dir))
        res.record += "store_write_s" -> Json.num((System.nanoTime() - t) / 1e9)
        val mix = BrokerQueries.mix(a.seed, Gen.rollup(events))
        (mix, BrokerWorkload.sequence(a.seed, a.seconds, mix.size).map(mix))
      } else (IngestWorkload.kinds, IngestWorkload.queryKinds(a.seed, MaxReaderQueries))
    val tg = System.nanoTime()
    val (warm, timed) = inputs(shape, a.seed, a.seconds)
    res.record += "inputs_s" -> Json.num((System.nanoTime() - tg) / 1e9)
    val ts = System.nanoTime()
    val h = start(spark, dir, Seq(ds, postDs).distinct)
    res.record += "daemon_start_s" -> Json.num((System.nanoTime() - ts) / 1e9)
    val http = new Http(h.port)

    val acked, started = new AtomicLong()
    val posted = new ConcurrentLinkedQueue[Body]()
    // each call returns its round-trip milliseconds (a wrong answer keeps
    // its latency; NaN when the request itself failed) and its end time
    def post(b: Body): Sample = {
      started.addAndGet(b.counts.sent)
      posted.add(b)
      val r = Try(trace.span("sources.post", b.id)(http.post(s"/v1/post/$postDs", b.text)))
      val ok = r.toOption.exists { case (code, reply, _) =>
        val counts = Try(Json.parse(reply).path("result"))
        code == 200 && counts.isSuccess &&
          counts.get.path("received").asLong(-1) == b.counts.received &&
          counts.get.path("sent").asLong(-1) == b.counts.sent
      }
      res.op(ok, s"post ${b.id}: ${r.map(x => s"${x._1} ${x._2}").getOrElse(r.failed.get)}, " +
        s"expected ${b.counts}")
      if (ok) acked.addAndGet(b.counts.sent)
      Sample(r.map(_._3).getOrElse(Double.NaN), System.nanoTime(), b.counts.received)
    }
    def query(q: ReadQuery, op: String): Sample = {
      val lo = acked.get
      val r = Try(trace.span("queries.broker", op)(http.post(q.path, q.body(op))))
      val hi = started.get
      val err = r.toOption.flatMap { case (code, reply, _) =>
        if (code != 200) Some(s"$code ${reply.take(300)}") else q.check(reply, lo, hi) }
      res.op(r.isSuccess && err.isEmpty,
        s"${q.name} ($op): ${err.getOrElse(r.failed.get)} (acked $lo, posted $hi)")
      Sample(r.map(_._3).getOrElse(Double.NaN), System.nanoTime(), 1)
    }

    // untimed warm-up: JIT, codegen, the first segments of the posted
    // dataSource and one query of each shape
    val tw = System.nanoTime()
    warm.foreach(post)
    distinct.take(shape.warmQueries).zipWithIndex.foreach { case (q, i) => query(q, s"warm-$i") }
    res.record += "warmup_s" -> Json.num((System.nanoTime() - tw) / 1e9)

    // timed phase: the posters send their whole list; with `overlap` the
    // reader runs beside them until they are done, otherwise the readers
    // send their whole sequence after them
    val postS, queryS = new ConcurrentLinkedQueue[Sample]()
    val done = new AtomicBoolean(false)
    def loop(name: String, clients: Int, n: Int, fixed: Boolean)(op: Int => Unit) =
      (0 until clients).map { c =>
        Main.thread(s"$name-$c") {
          var i = c
          while (i < n && (fixed || !done.get)) { op(i); i += clients }
        }
      }
    val cpu0 = Stamps.cpu()
    val snap0 = obs.snap(spark.sparkContext)
    val batches0 = streamObs.batches.size
    val setupS = Main.sinceStartS()
    val t0 = System.nanoTime()
    val posters = loop("poster", shape.posters, timed.size, fixed = true)(i =>
      postS.add(post(timed(i))))
    if (!shape.overlap) posters.foreach(_.join())
    val t1 = System.nanoTime()
    val readers = loop("reader", shape.readers, sequence.size, fixed = !shape.overlap)(i =>
      queryS.add(query(sequence(i), s"q-$i")))
    posters.foreach(_.join())
    done.set(true)
    readers.foreach(_.join())
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpu1 = Stamps.cpu()
    val snap1 = obs.snap(spark.sparkContext)

    val ps = postS.asScala.toSeq
    val qs = queryS.asScala.toSeq
    // work done from its phase's start to its last completion, so a rate
    // does not depend on where the other side's last operation ended
    def phaseS(xs: Seq[Sample], from: Long): Double = (xs.map(_.endNs).max - from) / 1e9
    def rate(xs: Seq[Sample], from: Long): Double = xs.map(_.n).sum / phaseS(xs, from)
    val postMs = ps.map(_.ms).filterNot(_.isNaN)
    val queryMs = qs.map(_.ms).filterNot(_.isNaN)
    if (!a.trace) {
      res.metric("setup_s", setupS, "s")
      res.metric("events_per_s", rate(ps, t0), "1/s")
      res.metric("post_p50_ms", Stats.median(postMs), "ms")
      res.metric("query_p50_ms", Stats.median(queryMs), "ms")
      res.metric("queries_per_s", rate(qs, t1), "1/s")
      res.metric("peak_mem_mb", PeakHeap.mb, "MB")
    } else {
      res.metric("trace.events_per_s", rate(ps, t0), "1/s")
      res.metric("trace.queries_per_s", rate(qs, t1), "1/s")
    }
    res.record ++= Stamps.record(a.cpus, (cpu0, cpu1)) ++ Seq(
      "timed_s" -> Json.num(wallS), "posts" -> ps.size.toString,
      "events" -> ps.map(_.n).sum.toString, "queries" -> qs.size.toString)

    val all = posted.asScala.toSeq
    checkCounters(http, h, postDs, total(all.map(_.counts)), res)

    if (a.trace) {
      streamingMetrics(streamObs.all.drop(batches0), phaseS(ps, t0), res)
      val s = h.streams(postDs)
      res.metric("streaming.received", s.received.toDouble, "count")
      res.metric("streaming.sent", s.sent.toDouble, "count")
      res.metric("streaming.dropped", s.dropped.toDouble, "count")
      res.metrics ++= obs.metrics(snap0, snap1, wallS, a.cpus, ps.size + qs.size)
      res.metric("spark.query_jobs_per_op",
        (snap1.queryJobs - snap0.queryJobs).toDouble / qs.size, "count")
      layers(spark, trace, dir, distinct, acked.get, started.get, res)
      // receive + normalize + spool alone: the same bodies, fire-and-forget,
      // to a dataSource no stream reads
      val asyncMs = timed.take(ReplayBatches).map { b =>
        val (code, reply, ms) = http.post("/v1/post/bench_async?async=true", b.text)
        res.op(code == 200, s"async post ${b.id}: $code $reply")
        ms
      }
      res.metric("sources.post_async_ms_p50", Stats.median(asyncMs), "ms")
      val (files, mb) = dataFiles(s"$dir/spool/$postDs")
      res.metric("sources.spool_files", files.toDouble, "count")
      res.metric("sources.spool_mb", mb, "MB")
    }

    val tc = System.nanoTime()
    h.close() // drains the streams and rebuilds the zone-map stats
    if (a.trace) res.metric("sink.regen_stats_s", (System.nanoTime() - tc) / 1e9, "s")
    checkStore(spark, dir, postDs, Gen.rollup(all.flatMap(_.events)), res)

    if (a.trace) {
      sinkMetrics(spark, obs, trace, dir, 5, res)
      replay(spark, trace, s"$dir/spool/$postDs", warm.size, s"${a.workDir}/replay_store", res)
      trace.write(s"${a.workDir}/trace.json")
    }
  }

  /** `queries.*`: each distinct query compiled in-process against a timed
    * resolver (the Daemon's own route), then planned, then executed; the
    * in-process answers are checked too. */
  private def layers(spark: SparkSession, trace: Trace, dir: String,
      distinct: IndexedSeq[ReadQuery], lo: Long, hi: Long, res: Result): Unit = {
    val compileMs = (0 until math.max(12, 2 * distinct.size)).map { i =>
      val q = distinct(i % distinct.size)
      val op = s"layer-$i"
      var resolveNs = 0L
      def resolve(name: String) = {
        val t = System.nanoTime()
        try trace.span("queries.resolve", op, "queries.compile")(route(spark, dir))
        finally resolveNs += System.nanoTime() - t
      }
      val t = System.nanoTime()
      val df = trace.span("queries.compile", op) {
        if (q.sql) graft.queries.DruidSql.run(q.text, Map(ds -> resolve(ds)))
        else graft.queries.DruidQueryCompiler.compile(q.body(op), resolve)
      }
      val ms = (System.nanoTime() - t - resolveNs) / 1e6
      trace.span("queries.plan", op)(df.queryExecution.executedPlan)
      val rows = trace.span("queries.exec", op)(df.limit(10000).toJSON.collect())
      val err = q.check(rows.mkString("[", ",", "]"), lo, hi)
      res.op(err.isEmpty, s"in-process ${q.name}: ${err.getOrElse("")}")
      ms
    }
    res.metric("queries.compile_ms_p50", Stats.median(compileMs), "ms")
    res.metric("queries.plan_ms_p50", Stats.median(trace.ms("queries.plan")), "ms")
    res.metric("queries.exec_ms_p50", Stats.median(trace.ms("queries.exec")), "ms")
  }

  /** Recorded micro-batch inputs (spooled timed posts) replayed through the
    * Pipeline stages, forced with noop, then through
    * `SegmentSink.writeMicroBatch` into a scratch store. */
  private def replay(spark: SparkSession, trace: Trace, spool: String, skip: Int,
      scratch: String, res: Result): Unit = {
    val files = Files.list(Paths.get(spool)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("post-")).toSeq
      .sortBy(Files.getLastModifiedTime(_).toMillis)
      .slice(skip, skip + ReplayBatches)
    val spec = DaemonCommon.spec(shape.postDs)
    val pipeline = new Pipeline(spec)
    var rowsIn, rowsOut = 0L
    files.zipWithIndex.foreach { case (f, i) =>
      val raw = spark.read.schema(schema).json(f.toString)
      val projected = pipeline.project(
        pipeline.windowFilter(pipeline.extractTimestamp(raw), nowLit))
      val rolled = pipeline.rollup(projected)
      trace.span("pipeline.rollup", s"replay-$i")(graft.tools.Force.noop(rolled))
      rowsIn += projected.count()
      rowsOut += rolled.count()
      val out = pipeline.withSegment(rolled)
        .repartition(math.max(1, spec.tuning.partitions), col(Pipeline.SegmentCol))
      trace.span("sink.write", s"replay-$i")(
        graft.sink.SegmentSink.writeMicroBatch(scratch, withStats = false)(out, i.toLong))
    }
    res.metric("pipeline.rollup_ms_p50", Stats.median(trace.ms("pipeline.rollup")), "ms")
    res.metric("pipeline.rollup_ratio", rowsOut.toDouble / rowsIn, "ratio")
    res.metric("sink.write_ms_p50", Stats.median(trace.ms("sink.write")), "ms")
  }
}

object DaemonWorkload {
  /** What tells the workloads apart. A run posts `postsPerSecond ×
    * --seconds` bodies to `postDs`, cycling through `SizeSteps` sizes,
    * `sizeStep` to `SizeSteps × sizeStep` events. With `overlap` the
    * readers query while the posters post; otherwise they start after.
    * At `--seconds` 25 `ingest_with_reads` posts 20 bodies and
    * `broker_reads` 12. */
  final case class Shape(posters: Int, readers: Int, postDs: String, seededStore: Boolean,
      overlap: Boolean, sizeStep: Int, postsPerSecond: Double, warmQueries: Int,
      seedSalt: Long)

  val shapes: Map[String, Shape] = Map(
    "ingest_with_reads" -> Shape(posters = 2, readers = 1, Gen.DataSource,
      seededStore = false, overlap = true, sizeStep = 6000, postsPerSecond = 0.8,
      warmQueries = IngestWorkload.kinds.size, seedSalt = 0L),
    "broker_reads" -> Shape(posters = 2, readers = 3, Gen.LiveDataSource,
      seededStore = true, overlap = false, sizeStep = 6000, postsPerSecond = 0.48,
      warmQueries = BrokerQueries.Shapes, seedSalt = 1000003L))

  /** Events in post i of a shape. A sync post's file lands only after the
    * previous post's drain returned, and the stream then waits for its next
    * 500 ms tick, so one size would make every post cycle a whole number of
    * ticks whatever the program's speed. Spreading the batch times over
    * several ticks makes the mean cycle follow the batch time instead. */
  def postEvents(s: Shape, i: Int): Int = s.sizeStep * (1 + i % SizeSteps)
  val SizeSteps = 10
  val WarmPosts = 2
  val ReplayBatches = 10
  /** Queries prepared for a reader that runs until the posters are done. */
  val MaxReaderQueries = 10000

  final case class Body(id: String, events: IndexedSeq[Gen.Event], text: String,
      counts: Gen.Counts)
  final case class Sample(ms: Double, endNs: Long, n: Long)

  def total(cs: Seq[Gen.Counts]): Gen.Counts =
    Gen.Counts(cs.map(_.received).sum, cs.map(_.sent).sum, cs.map(_.dropped).sum)

  /** (warm-up bodies, timed bodies), a pure function of the shape and seed. */
  def inputs(s: Shape, seed: Long, seconds: Int): (IndexedSeq[Body], IndexedSeq[Body]) = {
    val src = new Gen.Source(seed + s.seedSalt)
    def body(id: String, size: Int) = {
      val evs = src.batch(size)
      Body(id, evs, Gen.body(evs), Gen.counts(evs))
    }
    val warm = (0 until WarmPosts).map(i => body(s"warm-$i", postEvents(s, SizeSteps - 1 - i)))
    val n = math.max(2 * s.posters, math.round(seconds * s.postsPerSecond).toInt)
    (warm, (0 until n).map(i => body(s"post-$i", postEvents(s, i))))
  }
}

/** `ingest_with_reads`' reader: count queries whose answers grow with the
  * posts, checked against the rows acked and posted around each query. */
object IngestWorkload {
  final case class Count(name: String, sql: Boolean, text: String,
      ok: (Seq[Long], Long, Long) => Boolean) extends ReadQuery {
    def check(reply: String, lo: Long, hi: Long): Option[String] = {
      val ns = Try(DaemonCommon.fields(Json.parse(reply), "n").map(_.asLong)).toOption
      if (ns.exists(ok(_, lo, hi))) None
      else Some(s"counts ${ns.map(_.take(5))} not within [$lo, $hi]: ${reply.take(200)}")
    }
  }

  /** Each count must lie between the rows acked before the query was sent
    * and the rows posted so far. */
  private def inBounds(ns: Seq[Long], lo: Long, hi: Long): Boolean =
    lo <= ns.sum && ns.sum <= hi

  private val day = """"intervals":["2024-03-01T00:00:00Z/2024-03-02T00:00:00Z"]"""
  private val countAgg = """"aggregations":[{"type":"longSum","name":"n","fieldName":"cnt"}]"""

  val kinds: IndexedSeq[ReadQuery] = IndexedSeq(
    Count("timeseries", sql = false,
      s"""{"queryType":"timeseries","dataSource":"${Gen.DataSource}","granularity":"all",
         |$day,$countAgg}""".stripMargin, inBounds),
    Count("topN", sql = false,
      s"""{"queryType":"topN","dataSource":"${Gen.DataSource}","granularity":"all",
         |$day,"dimension":"country","metric":"n","threshold":5,$countAgg}""".stripMargin,
      (ns, lo, hi) => ns.size <= 5 && ns == ns.sorted.reverse && ns.sum <= hi &&
        (lo == 0 || ns.nonEmpty)),
    Count("sql", sql = true,
      s"SELECT device, SUM(cnt) AS n FROM ${Gen.DataSource} GROUP BY device", inBounds))

  /** The reader's seeded sequence of query kinds. */
  def queryKinds(seed: Long, n: Int): IndexedSeq[ReadQuery] = {
    val rnd = new java.util.Random(seed * 31 + 7)
    IndexedSeq.fill(n)(kinds(rnd.nextInt(kinds.size)))
  }
}

/** `broker_reads`' seeded store and query sequence. */
object BrokerWorkload {
  /** Micro-batches written into the store, and events in each. */
  val Batches = 6
  val BatchEvents = 8000
  /** Timed queries per second of `--seconds` (fixed work). */
  val QueriesPerSecond = 2.4

  /** Write the seeded store exactly as the stream's foreachBatch does:
    * Pipeline stages, then `SegmentSink.writeMicroBatch` per batch id.
    * Returns every generated event (the reference is computed from them). */
  def writeStore(spark: SparkSession, seed: Long, store: String): Seq[Gen.Event] = {
    import spark.implicits._
    val spec = DaemonCommon.spec(Gen.DataSource)
    val pipeline = new Pipeline(spec)
    val src = new Gen.Source(seed)
    (0 until Batches).flatMap { b =>
      val evs = src.batch(BatchEvents)
      val raw = spark.read.schema(DaemonCommon.schema).json(evs.map(_.json).toDS())
      val rolled = pipeline.rollup(pipeline.project(
        pipeline.windowFilter(pipeline.extractTimestamp(raw), DaemonCommon.nowLit)))
      val out = pipeline.withSegment(rolled)
        .repartition(math.max(1, spec.tuning.partitions), col(Pipeline.SegmentCol))
      graft.sink.SegmentSink.writeMicroBatch(store, withStats = false)(out, b.toLong)
      evs
    }
  }

  /** The readers' fixed seeded sequence of query indices. */
  def sequence(seed: Long, seconds: Int, distinct: Int): IndexedSeq[Int] = {
    val rnd = new java.util.Random(seed * 131 + 3)
    IndexedSeq.fill(math.max(6, math.round(seconds * QueriesPerSecond).toInt))(
      rnd.nextInt(distinct))
  }
}
