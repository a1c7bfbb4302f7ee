package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The benchmark's own SparkListener: jobs, tasks, task time, GC, shuffle,
  * spill and stage width, plus the jobs run under a `graft-query-<id>-N`
  * job group, i.e. launched by a broker request. */
final case class Snap(jobs: Long, tasks: Long, runMs: Long, gcMs: Long,
    shuffleBytes: Long, spillBytes: Long, queryJobs: Long)

final class SparkObs extends SparkListener {
  val jobs, tasks, runMs, gcMs, shuffleBytes, spillBytes, maxWidth = new AtomicLong()
  val queryJobs = new AtomicLong()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("graft-query-")).foreach(_ => queryJobs.incrementAndGet())
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    maxWidth.accumulateAndGet(e.stageInfo.numTasks.toLong, math.max)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }

  def snap(sc: SparkContext): Snap = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    Snap(jobs.get, tasks.get, runMs.get, gcMs.get, shuffleBytes.get,
      spillBytes.get, queryJobs.get)
  }

  /** The `spark.*` per-layer metrics over [a, b]. */
  def metrics(a: Snap, b: Snap, wallS: Double, cores: Int, ops: Long)
      : Seq[(String, Double, String)] = {
    val busy = (b.runMs - a.runMs) / 1000.0
    Seq(
      ("spark.jobs_per_op", (b.jobs - a.jobs).toDouble / math.max(ops, 1L), "count"),
      ("spark.tasks", (b.tasks - a.tasks).toDouble, "count"),
      ("spark.task_busy_core_s", busy, "s"),
      ("spark.core_util", busy / (wallS * cores), "ratio"),
      ("spark.shuffle_mb", (b.shuffleBytes - a.shuffleBytes) / 1048576.0, "MB"),
      ("spark.spill_mb", (b.spillBytes - a.spillBytes) / 1048576.0, "MB"),
      ("spark.gc_s", (b.gcMs - a.gcMs) / 1000.0, "s"),
      ("spark.max_width", maxWidth.get.toDouble, "count"))
  }
}

/** In-memory spans at the layer boundaries the benchmark calls into. Each
  * span has a name, start, end, parent and operation id; the whole list is
  * written out once, when the run ends. Disabled (no allocation) in the
  * untraced run. */
final class Trace(val enabled: Boolean) {
  import Trace.Span
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val t0 = System.nanoTime()

  def span[A](name: String, op: String, parent: String = "")(body: => A): A =
    if (!enabled) body
    else {
      val s = System.nanoTime()
      try body finally spans.add(Span(name, op, parent, s, System.nanoTime()))
    }

  /** Durations in milliseconds of every span called `name`. */
  def ms(name: String): Seq[Double] = {
    val b = Seq.newBuilder[Double]
    spans.forEach(s => if (s.name == name) b += (s.endNs - s.startNs) / 1e6)
    b.result()
  }

  def write(path: String): Unit = if (enabled) {
    val sb = new StringBuilder("[\n")
    var first = true
    spans.forEach { s =>
      if (!first) sb.append(",\n")
      first = false
      sb.append(Json.obj(Seq("name" -> Json.str(s.name), "op" -> Json.str(s.op),
        "parent" -> Json.str(s.parent),
        "start_ms" -> Json.num((s.startNs - t0) / 1e6),
        "end_ms" -> Json.num((s.endNs - t0) / 1e6))))
    }
    sb.append("\n]\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}

object Trace {
  final case class Span(name: String, op: String, parent: String,
      startNs: Long, endNs: Long)
}
