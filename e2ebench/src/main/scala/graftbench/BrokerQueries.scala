package graftbench

import java.time.{Instant, LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode

/** The `broker_reads` query mix: seeded native (timeseries, topN, groupBy
  * with filter and interval) and SQL queries, each with the reference
  * answer computed from the generator's rollup of the seeded store. */
object BrokerQueries {
  type Store = Map[(Long, Int, Int), Gen.Agg]

  /** One distinct query; `check` compares the reply with the reference
    * (the store is fixed, so the acked / posted bounds do not apply). */
  final case class Q(name: String, sql: Boolean, text: String,
      expected: Seq[Map[String, Any]], keys: Seq[String], topN: Option[(String, Int)])
      extends ReadQuery {
    def check(reply: String, lo: Long, hi: Long): Option[String] =
      scala.util.Try(compare(rows(Json.parse(reply)))).fold(
        e => Some(s"unreadable reply: $e ${reply.take(200)}"), identity)

    private def compare(got: Seq[Map[String, Any]]): Option[String] = topN match {
      case None =>
        val (g, w) = (got.map(norm).sortBy(_.toString), expected.map(norm).sortBy(_.toString))
        if (g == w) None else Some(s"got ${g.take(3)}… (${g.size} rows), want ${w.take(3)}… (${w.size} rows)")
      case Some((metric, n)) =>
        // a valid top-n: each returned row is exact, and the metric values
        // are the n largest (ties at the boundary may pick either row)
        val want = expected.map(norm)
        val byKey = want.map(r => r(keys.head) -> r).toMap
        val g = got.map(norm)
        val top = want.map(_(metric).asInstanceOf[Long]).sorted.reverse.take(n)
        if (g.forall(r => byKey.get(r(keys.head)).contains(r)) &&
            g.map(_(metric).asInstanceOf[Long]) == top) None
        else Some(s"topN got ${g.take(3)}…, want metric values ${top.take(3)}…")
    }
    private def norm(r: Map[String, Any]): Map[String, Any] = keys.map(k => k -> r.getOrElse(k, null)).toMap
  }

  /** Result rows as plain values: numbers as Long, times as epoch seconds.
    * A Druid topN envelope `[{timestamp, result: [...]}]` flattens. */
  def rows(n: JsonNode): Seq[Map[String, Any]] =
    n.elements().asScala.toSeq.flatMap { o =>
      if (o.has("result") && o.get("result").isArray) rows(o.get("result"))
      else Seq(o.fields().asScala.map { e =>
        val k = if (e.getKey == "__time") "timestamp" else e.getKey
        k -> value(k, e.getValue)
      }.toMap)
    }

  private def value(k: String, v: JsonNode): Any =
    if (v.isIntegralNumber || v.isFloatingPointNumber) v.asLong
    else if (v.isTextual && (k == "timestamp" || k == "h")) epoch(v.asText)
    else if (v.isNull) null
    else v.asText

  private def epoch(s: String): Long =
    scala.util.Try(Instant.parse(s).getEpochSecond).getOrElse(
      LocalDateTime.parse(s.replace(' ', 'T').stripSuffix("Z")).toEpochSecond(ZoneOffset.UTC))

  private val hour0 = Gen.Now.getEpochSecond - Gen.WindowSeconds
  private def in(s: Store, lo: Long, hi: Long, p: ((Long, Int, Int)) => Boolean) =
    s.iterator.filter { case (k, _) => k._1 >= lo && k._1 < hi && p(k) }
  private def iso(t: Long) = Gen.iso(t)
  private def sqlTs(t: Long) =
    LocalDateTime.ofEpochSecond(t, 0, ZoneOffset.UTC).toString.replace('T', ' ')

  private def timeseries(s: Store, lo: Long, hi: Long, dev: Int): Q = {
    val exp = in(s, lo, hi, _._3 == dev).toSeq.groupBy { case (k, _) => k._1 - k._1 % 3600 }
      .map { case (h, xs) => Map[String, Any]("timestamp" -> h,
        "n" -> xs.map(_._2.cnt).sum, "b" -> xs.map(_._2.sum).sum) }.toSeq
    Q(s"timeseries_${Gen.Devices(dev)}", sql = false,
      s"""{"queryType":"timeseries","dataSource":"${Gen.DataSource}","granularity":"hour",
         |"intervals":["${iso(lo)}/${iso(hi)}"],
         |"filter":{"type":"selector","dimension":"device","value":"${Gen.Devices(dev)}"},
         |"aggregations":[{"type":"longSum","name":"n","fieldName":"cnt"},
         |{"type":"longSum","name":"b","fieldName":"bytes_sum"}]}""".stripMargin,
      exp, Seq("timestamp", "n", "b"), None)
  }

  private def topN(s: Store, lo: Long, hi: Long, n: Int): Q = {
    val exp = in(s, lo, hi, _ => true).toSeq.groupBy(_._1._2).map { case (c, xs) =>
      Map[String, Any]("country" -> Gen.Countries(c), "n" -> xs.map(_._2.cnt).sum,
        "b" -> xs.map(_._2.sum).sum) }.toSeq
    Q(s"topN_$n", sql = false,
      s"""{"queryType":"topN","dataSource":"${Gen.DataSource}","granularity":"all",
         |"intervals":["${iso(lo)}/${iso(hi)}"],"dimension":"country","metric":"b",
         |"threshold":$n,"aggregations":[{"type":"longSum","name":"n","fieldName":"cnt"},
         |{"type":"longSum","name":"b","fieldName":"bytes_sum"}]}""".stripMargin,
      exp, Seq("country", "n", "b"), Some(("b", n)))
  }

  private def byDevice(xs: Seq[((Long, Int, Int), Gen.Agg)], withCountry: Boolean) =
    xs.groupBy { case (k, _) => if (withCountry) (k._3, k._2) else (k._3, -1) }
      .map { case ((d, c), g) =>
        val a = g.map(_._2).reduce(_ + _)
        Map[String, Any]("device" -> Gen.Devices(d), "n" -> a.cnt, "b" -> a.sum,
          "lo" -> a.min, "hi" -> a.max) ++
          (if (withCountry) Map("country" -> Gen.Countries(c)) else Map.empty)
      }.toSeq

  private def groupBy(s: Store, lo: Long, hi: Long, cs: Seq[Int]): Q =
    Q("groupBy_device_country", sql = false,
      s"""{"queryType":"groupBy","dataSource":"${Gen.DataSource}","granularity":"all",
         |"intervals":["${iso(lo)}/${iso(hi)}"],"dimensions":["device","country"],
         |"filter":{"type":"in","dimension":"country","values":[${cs.map(c => "\"" + Gen.Countries(c) + "\"").mkString(",")}]},
         |"aggregations":[{"type":"longSum","name":"n","fieldName":"cnt"},
         |{"type":"longSum","name":"b","fieldName":"bytes_sum"},
         |{"type":"longMin","name":"lo","fieldName":"bytes_min"},
         |{"type":"longMax","name":"hi","fieldName":"bytes_max"}]}""".stripMargin,
      byDevice(in(s, lo, hi, k => cs.contains(k._2)).toSeq, withCountry = true),
      Seq("device", "country", "n", "b", "lo", "hi"), None)

  private def sqlDevice(s: Store, lo: Long, hi: Long, cs: Seq[Int]): Q =
    Q("sql_by_device", sql = true,
      s"SELECT device, SUM(cnt) AS n, SUM(bytes_sum) AS b, MIN(bytes_min) AS lo, " +
        s"MAX(bytes_max) AS hi FROM ${Gen.DataSource} WHERE __time >= TIMESTAMP '${sqlTs(lo)}' " +
        s"AND __time < TIMESTAMP '${sqlTs(hi)}' AND country IN " +
        cs.map(c => s"'${Gen.Countries(c)}'").mkString("(", ", ", ")") + " GROUP BY device",
      byDevice(in(s, lo, hi, k => cs.contains(k._2)).toSeq, withCountry = false),
      Seq("device", "n", "b", "lo", "hi"), None)

  private def sqlHourly(s: Store, dev: Int): Q = {
    val exp = s.toSeq.filter(_._1._3 == dev).groupBy { case (k, _) => k._1 - k._1 % 3600 }
      .map { case (h, xs) => Map[String, Any]("h" -> h, "n" -> xs.map(_._2.cnt).sum) }.toSeq
    Q("sql_hourly", sql = true,
      s"SELECT TIME_FLOOR(__time, 'PT1H') AS h, SUM(cnt) AS n FROM ${Gen.DataSource} " +
        s"WHERE device = '${Gen.Devices(dev)}' GROUP BY 1",
      exp, Seq("h", "n"), None)
  }

  val Shapes = 5

  /** Four seeded variants of each of the five query shapes. */
  def mix(seed: Long, store: Store): IndexedSeq[Q] = {
    val rnd = new java.util.Random(seed * 17 + 5)
    def interval(): (Long, Long) = {
      val a = rnd.nextInt(4)
      val len = 1 + rnd.nextInt(4 - a)
      (hour0 + a * 3600L, hour0 + (a + len) * 3600L)
    }
    def countries(): Seq[Int] = Seq.fill(3)(rnd.nextInt(Gen.Countries.size)).distinct
    (0 until 4).flatMap { _ =>
      val (l1, h1) = interval(); val (l2, h2) = interval()
      val (l3, h3) = interval(); val (l4, h4) = interval()
      Seq(timeseries(store, l1, h1, rnd.nextInt(Gen.Devices.size)),
        topN(store, l2, h2, 5 + rnd.nextInt(6)),
        groupBy(store, l3, h3, countries()),
        sqlDevice(store, l4, h4, countries()),
        sqlHourly(store, rnd.nextInt(Gen.Devices.size)))
    }
  }
}
