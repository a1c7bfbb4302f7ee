package graftbench

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs and reference answers are pure functions of the
  * seed, and the generator's expected drop counts are the program's. */
class DeterminismSpec extends AnyFunSuite {

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Everything a run sends or checks against, as one digest. */
  private def digest(seed: Long): String = {
    val posts = DaemonWorkload.shapes.toSeq.sortBy(_._1).map { case (_, shape) =>
      val (warm, timed) = DaemonWorkload.inputs(shape, seed, 3)
      (warm ++ timed).map(b => sha(b.text)).mkString +
        Gen.rollup((warm ++ timed).flatMap(_.events)).toSeq.sortBy(_._1).mkString
    }.mkString
    val ingestMix = IngestWorkload.queryKinds(seed, 50).zipWithIndex
      .map { case (q, i) => q.body(s"q-$i") }.mkString
    val src = new Gen.Source(seed)
    val store = Gen.rollup((0 until BrokerWorkload.Batches).flatMap(_ =>
      src.batch(BrokerWorkload.BatchEvents)))
    val brokerMix = BrokerQueries.mix(seed, store)
      .map(q => q.body("op") + q.expected.map(_.toSeq.sortBy(_._1)).sortBy(_.toString)).mkString
    val sequence = BrokerWorkload.sequence(seed, 30, BrokerQueries.mix(seed, store).size).mkString(",")
    sha(posts + ingestMix + brokerMix + sequence)
  }

  test("the same seed gives byte-identical bodies, query mix and reference answers") {
    assert(digest(7) == digest(7))
    assert(digest(7) != digest(8))
  }

  test("the generator's shares of late, future and unparseable events are all present") {
    val evs = new Gen.Source(1).batch(20000)
    val now = Gen.Now.getEpochSecond
    assert(evs.count(_.bad) > 0)
    assert(evs.count(e => !e.bad && e.ts < now - Gen.WindowSeconds) > 0)
    assert(evs.count(e => !e.bad && e.ts > now + Gen.WindowSeconds) > 0)
    assert(Gen.counts(evs).dropped == evs.count(!_.valid))
  }

  test("on a tiny run the program's counters equal the generator's expected counts") {
    val dir = Paths.get("target", s"determinism-${System.nanoTime()}").toAbsolutePath.toString
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val h = DaemonCommon.start(spark, s"$dir/daemon", Seq(Gen.DataSource))
    var open = true
    try {
      val http = new Http(h.port)
      val src = new Gen.Source(42)
      val batches = Seq.fill(3)(src.batch(400))
      batches.foreach { evs =>
        val (code, reply, _) = http.post(s"/v1/post/${Gen.DataSource}", Gen.body(evs))
        val c = Gen.counts(evs)
        assert(code == 200 && reply ==
          s"""{"result":{"received":${c.received},"sent":${c.sent}}}""", reply)
      }
      val want = Gen.counts(batches.flatten)
      val s = h.streams(Gen.DataSource)
      assert(Gen.Counts(s.received, s.sent, s.dropped) == want)
      val res = new Result
      DaemonCommon.checkCounters(http, h, Gen.DataSource, want, res)
      h.close()
      open = false
      DaemonCommon.checkStore(spark, s"$dir/daemon", Gen.DataSource,
        Gen.rollup(batches.flatten), res)
      assert(res.json.startsWith("""{"correct":true,"attempted":3,"failed":0"""), res.json)
    } finally {
      if (open) h.close()
      spark.stop()
      deleteTree(Paths.get(dir))
    }
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
