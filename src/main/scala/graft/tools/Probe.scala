package graft.tools

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.GraftSqlBridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, GraftSession, SparkEntry}
import graft.queries.{QueryDef, Tables}

/** The measurement CLI over registry queries. Every mode runs on the session
  * the benchmark times ([[GraftSession.timed]]) with one task-level
  * listener ([[Probe.Meter]]), and prints one JSON line per measurement.
  *
  * {{{
  * runMain graft.tools.Probe layers <q,…> [dir] [k]
  * runMain graft.tools.Probe ab <conf=a|b> <q,…> [dir] [k]
  * runMain graft.tools.Probe scale <N> [baseSf] [q,…]
  * }}}
  *
  *  - `layers` runs each query k times (default 3): per run the wall time
  *    (build + noop force, as Bench times it) and the meter's totals, per
  *    micro-batch of a streaming query its `durationMs`, and at the end the
  *    executed (post-adaptive) plans of the slowest and the fastest run.
  *  - `ab` times the whole query list under one value of a session conf,
  *    then the whole list under the other, alternating for k rounds
  *    (default 5) — the set pattern Bench executes, so a verdict holds
  *    under Bench. Each repeat goes through Bench's timer; per (query, arm)
  *    it reports the min over repeats Bench's contention gate calls clean.
  *  - `scale` replicates the fact tables of `baseSf` ×N with remapped keys
  *    (reusing a complete earlier copy) and runs `layers` there (default:
  *    the headline queries).
  *
  * `dir` / `baseSf` default to Bench's corpus, `SPARK_GRAFT_SF_DIR`.
  */
object Probe {

  private final case class Totals(jobs: Int, stages: Int, tasks: Int, busyMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      gcMs: Long, maxWidth: Int) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, busyMs + o.busyMs,
      shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
      gcMs + o.gcMs, math.max(maxWidth, o.maxWidth))
    def fields: Seq[(String, Any)] = Seq("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "task_busy_core_s" -> busyMs / 1e3,
      "shuffle_read_mb" -> shuffleReadBytes / 1e6,
      "shuffle_write_mb" -> shuffleWriteBytes / 1e6,
      "spill_mb" -> spillBytes / 1e6, "gc_s" -> gcMs / 1e3,
      "max_width" -> maxWidth)
  }
  private val NoTotals: Totals = Totals(0, 0, 0, 0L, 0L, 0L, 0L, 0L, 0)

  /** Totals of the Spark work between two [[take]]s. Aggregated per task
    * from `onTaskEnd`: the stage-level `StageInfo.taskMetrics` read ~0
    * shuffle bytes for real shuffles. */
  private final class Meter extends SparkListener {
    private var t = NoTotals

    override def onJobStart(e: SparkListenerJobStart): Unit =
      synchronized { t = t.copy(jobs = t.jobs + 1) }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        t = t.copy(stages = t.stages + 1,
          maxWidth = math.max(t.maxWidth, e.stageInfo.numTasks))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      synchronized {
        t = t + (if (m == null) NoTotals.copy(tasks = 1) else Totals(0, 0, 1,
          m.executorRunTime, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
          m.jvmGCTime, 0))
      }
    }

    /** Delivers every event posted so far, then returns and resets the
      * totals. */
    def take(spark: SparkSession): Totals = {
      GraftSqlBridge.drainListeners(spark, 60000L)
      synchronized { val r = t; t = NoTotals; r }
    }
  }

  /** The executed plan of the last successful query execution and the
    * progress of every streaming micro-batch, since the last [[take]]. Read
    * only after a [[Meter.take]] has drained the bus. */
  private final class Runs extends StreamingQueryListener with QueryExecutionListener {
    private var plan = ""
    private val batches = ArrayBuffer.empty[StreamingQueryProgress]

    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = synchronized { plan = qe.executedPlan.toString }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { batches += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

    def take(): (String, Seq[StreamingQueryProgress]) = synchronized {
      val r = (plan, batches.toSeq); plan = ""; batches.clear(); r
    }
  }

  private final case class Raw(json: String)

  private def json(fields: (String, Any)*): String = fields.map {
    case (k, v: String) =>
      s""""$k":"${v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n")}""""
    case (k, v: Double) => f""""$k":$v%.3f"""
    case (k, Raw(j)) => s""""$k":$j"""
    case (k, v) => s""""$k":$v"""
  }.mkString("{", ",", "}")

  private def queries(names: String): Seq[QueryDef] =
    names.split(",").toSeq.map(n => SparkEntry.registry.find(_.name == n)
      .getOrElse(throw new IllegalArgumentException(s"unknown query '$n'")))

  private val usage = "usage: Probe layers <q,...> [dir] [k] | " +
    "Probe ab <conf=a|b> <q,...> [dir] [k] | Probe scale <N> [baseSf] [q,...]"

  private def dirArg(args: Array[String], i: Int): String =
    args.lift(i).orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(
      throw new IllegalArgumentException(s"no corpus dir and no SPARK_GRAFT_SF_DIR; $usage"))

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val spark = GraftSession.timed()
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    try args(0) match {
      case "layers" =>
        layers(spark, meter, queries(args(1)), dirArg(args, 2),
          args.lift(3).map(_.toInt).getOrElse(3))
      case "ab" =>
        ab(spark, meter, args(1), queries(args(2)), dirArg(args, 3),
          args.lift(4).map(_.toInt).getOrElse(5))
      case "scale" =>
        val dir = scaleCorpus(spark, args(1).toInt, dirArg(args, 2))
        layers(spark, meter, args.lift(3).map(queries).getOrElse(SparkEntry.headlines),
          dir, 3)
      case other => throw new IllegalArgumentException(s"unknown mode '$other'; $usage")
    } finally spark.stop()
  }

  private def layers(spark: SparkSession, meter: Meter, qs: Seq[QueryDef], dir: String,
      k: Int): Unit = {
    val runs = new Runs
    spark.listenerManager.register(runs)
    spark.streams.addListener(runs)
    println(json("probe" -> "layers", "dir" -> dir, "k" -> k,
      "cpus" -> spark.sparkContext.defaultParallelism))
    for (q <- qs) {
      meter.take(spark); runs.take()
      val done = (1 to k).map { i =>
        val t0 = System.nanoTime()
        val err = try { Force.noop(q.run(spark, dir)); "" }
                  catch { case e: Throwable => e.toString }
        val sec = (System.nanoTime() - t0) / 1e9
        val totals = meter.take(spark)
        val (plan, batches) = runs.take()
        batches.foreach { p =>
          val ms = p.durationMs.asScala.map { case (n, v) => s""""$n":$v""" }
          println(json("query" -> q.name, "run" -> i, "batch" -> p.batchId,
            "rows" -> p.numInputRows, "duration_ms" -> Raw(ms.mkString("{", ",", "}"))))
        }
        println(json(Seq("query" -> q.name, "run" -> i, "wall_s" -> sec) ++
          totals.fields ++ (if (err.isEmpty) Nil else Seq("error" -> err)): _*))
        (sec, plan)
      }
      val (slow, fast) = (done.maxBy(_._1), done.minBy(_._1))
      println(f"---- ${q.name}: slowest run (${slow._1}%.3f s) executed plan ----")
      println(slow._2)
      println(f"---- ${q.name}: fastest run (${fast._1}%.3f s) executed plan ----")
      println(fast._2)
    }
    spark.streams.removeListener(runs)
    spark.listenerManager.unregister(runs)
  }

  private def ab(spark: SparkSession, meter: Meter, toggle: String, qs: Seq[QueryDef],
      dir: String, k: Int): Unit = {
    val (key, arms) = toggle.split("=", 2) match {
      case Array(key, vals) if vals.count(_ == '|') == 1 =>
        (key, vals.split("\\|", -1).toSeq)
      case _ => throw new IllegalArgumentException(s"'$toggle' is not conf=a|b")
    }
    def runSet(v: String): Seq[Bench.Rep] = {
      spark.conf.set(key, v)
      qs.map(q => Bench.timeOnce(Force.noop(q.run(spark, dir))))
    }
    arms.foreach(runSet) // warm both arms: JIT, codegen, footer cache
    meter.take(spark)
    val reps = arms.map(_ -> ArrayBuffer.empty[Seq[Bench.Rep]]).toMap
    val totals = scala.collection.mutable.Map(arms.map(_ -> NoTotals): _*)
    for (_ <- 1 to k; v <- arms) {
      reps(v) += runSet(v)
      totals(v) += meter.take(spark)
    }
    val gate = Bench.gate
    def vec(rs: Seq[Bench.Rep], f: Bench.Rep => Double) =
      Raw(rs.map(r => f"${f(r)}%.3f").mkString("[", ",", "]"))
    for (v <- arms) {
      val mins = qs.indices.map { i =>
        val rs = reps(v).map(_(i)).toSeq
        // Bench's rule: any failed repeat reports -1, else the clean min
        val min = if (rs.exists(_.sec < 0)) -1.0
          else rs.filter(_.clean(gate)).map(_.sec).minOption.getOrElse(rs.map(_.sec).min)
        println(json("query" -> qs(i).name, "conf" -> key, "value" -> v,
          "min_s" -> min, "clean" -> rs.count(_.clean(gate)),
          "times" -> vec(rs, _.sec), "others_cpu_cores" -> vec(rs, _.others),
          "steal_cpu_cores" -> vec(rs, _.steal)))
        min
      }
      println(json(Seq("conf" -> key, "value" -> v, "rounds" -> k,
        "set_min_s" -> (if (mins.exists(_ < 0)) -1.0 else mins.sum)) ++
        totals(v).fields: _*))
    }
  }

  /** Bench's corpus with every fact table ×`n`: keys remapped per copy so
    * join fan-outs stay realistic, dimension tables copied as they are.
    * Reuses the directory (named after the base and N) when a previous
    * run completed it. */
  private def scaleCorpus(spark: SparkSession, n: Int, baseSf: String): String = {
    val base = new java.io.File(baseSf).getName
    val out = s"${System.getProperty("java.io.tmpdir")}/graft-scale-$base-x$n"
    val facts = Seq("lineitem" -> Seq("l_orderkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"), "customer" -> Seq("c_custkey"),
      "events" -> Seq("event_id"),
      // identical bodies per copy — adversarial for the gram/shingle
      // shuffles: every key becomes n× hot
      "documents" -> Seq("doc_id"))
    val dims = Seq("region", "nation", "supplier", "part", "embeddings")
    // dims are written last, so the last of them marks a complete corpus
    val reused = new java.io.File(s"$out/${dims.last}.parquet").exists()
    val t0 = System.nanoTime()
    if (!reused) {
      val copies = spark.range(n).withColumnRenamed("id", "__copy")
      facts.foreach { case (t, keys) =>
        // repartition the SMALL base before the crossJoin: a one-file sf
        // table is one input split, and the ×N blow-up (and its write)
        // would otherwise run on one core
        val big = Tables.t(spark, baseSf, t)
          .repartition(spark.sparkContext.defaultParallelism).crossJoin(copies)
        keys.foldLeft(big)((df, key) =>
            df.withColumn(key, col(key) + col("__copy") * 10000000L))
          .drop("__copy").write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      dims.foreach(t => Tables.t(spark, baseSf, t)
        .write.mode("overwrite").parquet(s"$out/$t.parquet"))
    }
    println(json("probe" -> "scale", "scale_x" -> n, "base" -> baseSf,
      "dir" -> out, "reused" -> reused, "gen_s" -> (System.nanoTime() - t0) / 1e9))
    out
  }
}
