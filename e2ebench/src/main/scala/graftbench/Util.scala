package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Order statistics. Timings are reported as medians, never means. */
object Stats {
  /** Linear-interpolated quantile (numpy's default) of `xs`. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Blocking HTTP client over one shared JDK client: a closed-loop caller
  * sends its next request only after the previous reply's last byte. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  /** (status, body, round-trip milliseconds: request sent to last byte). */
  def post(path: String, body: String): (Int, String, Double) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body, UTF_8)).build()
    val t0 = System.nanoTime()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
    (r.statusCode, r.body, (System.nanoTime() - t0) / 1e6)
  }
  def get(path: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))
    (r.statusCode, r.body)
  }
}

object Json {
  val mapper = new ObjectMapper()
  def parse(s: String): JsonNode = mapper.readTree(s)
  def str(s: String): String = mapper.writeValueAsString(s)
  /** A finite double rendered with all its digits. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"non-finite metric value $v")
    java.lang.Double.toString(v)
  }
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Contention stamps for the run record: cpus, heap size, 1-minute
  * loadavg, and the CPU cores other processes used (plus hypervisor steal)
  * over a window, from /proc/stat minus this process's own jiffies. */
object Stamps {
  private val ticksPerSec = 100.0 // USER_HZ
  final case class Cpu(busy: Long, self: Long, steal: Long, nanos: Long)

  def cpu(): Cpu = {
    val line = read("/proc/stat").linesIterator.next()
    val f = line.trim.split("\\s+").drop(1).map(_.toLong)
    // busy = everything except idle(3), iowait(4) and guest/guest_nice
    // (8/9), which the kernel already folds into user/nice
    val busy = f.zipWithIndex.collect {
      case (v, i) if i != 3 && i != 4 && i != 8 && i != 9 => v }.sum
    val self = read("/proc/self/stat")
    val rest = self.substring(self.lastIndexOf(')') + 2).split("\\s+")
    Cpu(busy, rest(11).toLong + rest(12).toLong,
      if (f.length > 7) f(7) else 0L, System.nanoTime())
  }

  /** (other processes' cores, steal cores) averaged over [a, b]. */
  def contention(a: Cpu, b: Cpu): (Double, Double) = {
    val sec = (b.nanos - a.nanos) / 1e9
    (((b.busy - a.busy) - (b.self - a.self)) / ticksPerSec / sec,
      (b.steal - a.steal) / ticksPerSec / sec)
  }

  def loadavg1m(): Double = read("/proc/loadavg").trim.split("\\s+")(0).toDouble

  def record(cpus: Int, window: (Cpu, Cpu)): Seq[(String, String)] = {
    val (others, steal) = contention(window._1, window._2)
    Seq("cpus" -> cpus.toString,
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "loadavg_1m" -> Json.num(loadavg1m()),
      "other_cores" -> Json.num(others),
      "steal_cores" -> Json.num(steal))
  }

  private def read(p: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), UTF_8)
}

/** Peak heap in use right after a collection: the process's live-data high
  * water mark, which (unlike raw heap use) does not depend on where the
  * sampling happens to fall in the allocation cycle. */
object PeakHeap {
  @volatile private var peak = 0L
  def install(): Unit = {
    import java.lang.management.ManagementFactory
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          override def handleNotification(n: Notification, h: Any): Unit =
            if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              var used = 0L
              info.getGcInfo.getMemoryUsageAfterGc.values.forEach(u => used += u.getUsed)
              synchronized { if (used > peak) peak = used }
            }
        }, null, null)
      case _ => ()
    }
  }
  def mb: Double = (if (peak > 0) peak else java.lang.management.ManagementFactory
    .getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
}
