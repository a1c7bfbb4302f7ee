package graftbench

import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Seeded input generator. Everything the program receives — post bodies,
  * the broker store's batches, the query mix — and every reference answer
  * the benchmark checks against is a pure function of the seed.
  *
  * Events carry `ts`, a Zipf-skewed `country`, a uniform `device` and a long
  * `bytes`. A known share of them is late (before now − windowPeriod),
  * future (after now + windowPeriod) or unparseable, so the program's drop
  * counters have exact expected values.
  */
object Gen {
  /** The dataSource the broker queries read. */
  val DataSource = "bench_events"
  /** `broker_reads`' poster feeds this one, which no query reads, so the
    * reference answers for `DataSource` stay exact. */
  val LiveDataSource = "bench_live"
  /** The daemon's `now`: a fixed literal, so window drops are exact. */
  val Now: Instant = Instant.parse("2024-03-01T12:00:00Z")
  val WindowSeconds = 7200L            // PT2H: spans five HOUR segments
  val BucketSeconds = 900L             // FIFTEEN_MINUTE query granularity
  val Countries: IndexedSeq[String] = (0 until 48).map(i => f"c$i%02d")
  val Devices: IndexedSeq[String] = IndexedSeq("android", "ios", "web", "tv")
  val ZipfExponent = 1.1
  val LateShare = 0.06
  val FutureShare = 0.05
  val BadShare = 0.04

  def specJson(ds: String): String =
    s"""{"dataSchema": {"dataSource": "$ds",
       |  "parser": {"parseSpec": {
       |    "timestampSpec": {"column": "ts", "format": "auto"},
       |    "dimensionsSpec": {"dimensions": ["country", "device"]}}},
       |  "metricsSpec": [{"type": "count", "name": "cnt"},
       |    {"type": "longSum", "name": "bytes_sum", "fieldName": "bytes"},
       |    {"type": "longMin", "name": "bytes_min", "fieldName": "bytes"},
       |    {"type": "longMax", "name": "bytes_max", "fieldName": "bytes"}],
       |  "granularitySpec": {"segmentGranularity": "HOUR",
       |    "queryGranularity": "FIFTEEN_MINUTE"}},
       | "tuning": {"windowPeriod": "PT2H"}}""".stripMargin
  val ValueSchemaDdl = "ts STRING, country STRING, device STRING, bytes BIGINT"

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** One generated event. `ts` is epoch seconds; `bad` events carry an
    * unparseable timestamp string instead. */
  final case class Event(ts: Long, country: Int, device: Int, bytes: Long,
      bad: Boolean) {
    def valid: Boolean = !bad &&
      ts >= Now.getEpochSecond - WindowSeconds &&
      ts <= Now.getEpochSecond + WindowSeconds
    def json: String = {
      val t = if (bad) s"not-a-time-$bytes"
              else LocalDateTime.ofEpochSecond(ts, 0, ZoneOffset.UTC).format(tsFmt)
      s"""{"ts":"$t","country":"${Countries(country)}","device":"${Devices(device)}","bytes":$bytes}"""
    }
    def bucket: Long = ts - Math.floorMod(ts, BucketSeconds)
  }

  private val zipfCdf: Array[Double] = {
    val w = Countries.indices.map(i => 1.0 / math.pow(i + 1, ZipfExponent))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  final class Source(seed: Long) {
    private val rnd = new java.util.Random(seed)
    private def zipf(): Int = {
      val u = rnd.nextDouble()
      val i = java.util.Arrays.binarySearch(zipfCdf, u)
      math.min(if (i >= 0) i else -i - 1, Countries.size - 1)
    }
    def event(): Event = {
      val u = rnd.nextDouble()
      val now = Now.getEpochSecond
      val (ts, bad) =
        if (u < LateShare) (now - WindowSeconds - 1 - rnd.nextInt(6 * 3600), false)
        else if (u < LateShare + FutureShare)
          (now + WindowSeconds + 1 + rnd.nextInt(6 * 3600), false)
        else if (u < LateShare + FutureShare + BadShare) (0L, true)
        else (now - WindowSeconds + rnd.nextInt((2 * WindowSeconds + 1).toInt), false)
      Event(ts, zipf(), rnd.nextInt(Devices.size), 1L + rnd.nextInt(100000), bad)
    }
    def batch(n: Int): IndexedSeq[Event] = IndexedSeq.fill(n)(event())
  }

  /** A post body: NDJSON, one event a line. */
  def body(events: Seq[Event]): String = events.map(_.json).mkString("", "\n", "\n")

  /** Expected rollup of valid events: (bucket, country, device) →
    * (cnt, bytes_sum, bytes_min, bytes_max). */
  final case class Agg(cnt: Long, sum: Long, min: Long, max: Long) {
    def +(o: Agg): Agg = Agg(cnt + o.cnt, sum + o.sum, math.min(min, o.min),
      math.max(max, o.max))
  }
  def rollup(events: Iterable[Event]): Map[(Long, Int, Int), Agg] =
    events.iterator.filter(_.valid).foldLeft(Map.empty[(Long, Int, Int), Agg]) {
      (m, e) =>
        val k = (e.bucket, e.country, e.device)
        val a = Agg(1, e.bytes, e.bytes, e.bytes)
        m.updated(k, m.get(k).map(_ + a).getOrElse(a))
    }

  /** received / sent / dropped as the program must count them. */
  final case class Counts(received: Long, sent: Long, dropped: Long)
  def counts(events: Iterable[Event]): Counts = {
    val n = events.size.toLong
    val ok = events.count(_.valid).toLong
    Counts(n, ok, n - ok)
  }

  def iso(epochSecond: Long): String = Instant.ofEpochSecond(epochSecond).toString
}
