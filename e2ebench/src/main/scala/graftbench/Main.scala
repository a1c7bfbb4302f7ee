package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM. `run.py` builds this package and
  * launches it once per run:
  *
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --workdir <fresh dir> --cpus <n>
  *
  * It prints a `RECORD {…}` line (contention stamps and sample counts) and
  * then a `RESULT {…}` line with the metrics and the operation counts.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, workDir: String, cpus: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("workdir"), m.getOrElse("cpus", "4").toInt)
  }

  def main(argv: Array[String]): Unit = {
    PeakHeap.install()
    val a = parse(argv)
    val res = new Result
    val w: Workload = new DaemonWorkload(a, DaemonWorkload.shapes.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload '${a.workload}'")))
    val spark = daemonSession(a)
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try { w.run(spark, res); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    if (code == 0) {
      println("RECORD " + Json.obj(res.record.toSeq))
      println("RESULT " + res.json)
    }
    // the daemon's HTTP pool threads are non-daemon: end the process
    // explicitly, also when the run failed half-way
    System.out.flush()
    sys.exit(code)
  }

  /** The session as `graft.Daemon.main` builds it, with every file Spark
    * writes kept inside the run's work directory. */
  def daemonSession(a: Args): SparkSession =
    SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.workDir}/warehouse")
      .getOrCreate()

  def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => body, name)
    t.start()
    t
  }

  /** Seconds since the JVM started (process start, not main()). */
  def sinceStartS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
}

trait Workload {
  def run(spark: SparkSession, res: Result): Unit
}

/** Collects the metrics and operation counts of one run. A failed output
  * check fails its operation; `correct` is false if any did. */
final class Result {
  val metrics = ArrayBuffer.empty[(String, Double, String)]
  val record = ArrayBuffer.empty[(String, String)]
  private val errors = ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  def metric(name: String, value: Double, unit: String): Unit =
    synchronized { metrics += ((name, value, unit)) }
  def op(ok: Boolean, what: => String = ""): Unit = synchronized {
    attempted += 1
    if (!ok) { failed += 1; if (errors.size < 20) errors += what }
  }

  def json: String = synchronized {
    val ms = metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    Json.obj(Seq(
      "correct" -> (failed == 0 && attempted > 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(ms.toSeq),
      "errors" -> errors.map(Json.str).mkString("[", ",", "]")))
  }
}
