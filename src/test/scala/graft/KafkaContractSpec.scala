package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.apache.spark.sql.types._

import graft.config._
import graft.sources.{KafkaRouter, Sources}
import graft.streaming.IngestStream
import graft.time.Granularity

/** Broker-less proof of the Kafka path's two halves (SURVEY §3.3, upstream
  * kafka/.../KafkaConsumer.java + WriterController.java):
  *
  *  1. the value-parsing stage ([[Sources.parseKafkaRecords]]) over records
  *     with exactly the kafka source's schema, and
  *  2. the commit-after-flush at-least-once contract: source offsets advance
  *     ONLY after the sink commit — a batch whose sink write fails is
  *     replayed in full on restart; a committed batch is never redelivered.
  *
  * The test double is a MemoryStream emitting kafka-shaped rows; the commit
  * machinery under test (offset WAL → sink → commit log) is the real one.
  */
/** kafka-shaped record, field-for-field what readStream.format("kafka") emits */
case class KRec(key: Array[Byte], value: Array[Byte], topic: String,
    partition: Int, offset: Long, timestamp: Timestamp, timestampType: Int)

class KafkaContractSpec extends SparkSpec {
  import spark.implicits._

  private def rec(offset: Long, json: String, topic: String = "events") =
    KRec(null, json.getBytes("UTF-8"), topic, 0, offset,
      Timestamp.valueOf("2024-03-01 12:00:00"), 0)

  private val valueSchema = StructType(Seq(
    StructField("ts", StringType), StructField("etype", StringType),
    StructField("value", DoubleType)))

  private val spec = IngestionSpec(
    DataSchema("kafka_events", TimestampSpec("ts"),
      SpecificDimensions(Seq("etype")),
      Seq(AggregatorSpec("count", "cnt"),
        AggregatorSpec("doubleSum", "total", Some("value"))),
      GranularitySpec(Granularity.Hour, Granularity.Hour)),
    Tuning(windowPeriod = java.time.Duration.ofHours(2)))

  test("parse stage: kafka record schema in, typed columns out, malformed → nulls") {
    val raw = Seq(
      rec(0, """{"ts":"2024-03-01 12:00:00","etype":"click","value":1.0}"""),
      rec(1, "definitely not json")).toDF()
    // the test double's schema IS the kafka source contract
    assert(raw.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Sources.kafkaRecordSchema.fields.map(f => (f.name, f.dataType)).toSeq)
    val rows = Sources.parseKafkaRecords(raw, valueSchema)
      .as[(Option[String], Option[String], Option[Double])].collect()
    assert(rows(0) == ((Some("2024-03-01 12:00:00"), Some("click"), Some(1.0))))
    assert(rows(1) == ((None, None, None))) // preserved for drop accounting
  }

  test("offsets advance only after sink commit: failed batch replays, committed batch never redelivers") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KRec]
    val tmp = Files.createTempDirectory("graft-kafka").toString

    // sink delivery log + one-shot fault: (batchId, events-in-batch)
    val deliveries = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var failNext = true
    val writer: (DataFrame, Long) => Unit = (df, id) => {
      if (failNext) { failNext = false; throw new RuntimeException("injected sink failure") }
      deliveries.add((id, df.agg(sum($"cnt")).as[Long].head()))
      graft.sink.SegmentSink.writeMicroBatch(s"$tmp/out")(df, id)
    }
    def startQuery(): IngestStream = {
      val ingest = new IngestStream(spark, spec, s"$tmp/checkpoint")
      ingest.start(Sources.parseKafkaRecords(input.toDF(), valueSchema),
        s"$tmp/out", now = lit(Timestamp.valueOf("2024-03-01 12:00:00")),
        trigger = Trigger.ProcessingTime(50), writer = Some(writer))
      ingest
    }

    input.addData(
      rec(0, """{"ts":"2024-03-01 12:00:00","etype":"click","value":1.0}"""),
      rec(1, """{"ts":"2024-03-01 12:05:00","etype":"view","value":2.0}"""))
    val ingest1 = startQuery()
    // sink throws BEFORE commit → query dies, offsets 0-1 must not commit
    intercept[StreamingQueryException] { ingest1.activeQuery.get.processAllAvailable() }
    assert(deliveries.isEmpty, "failed batch must not count as delivered")

    // restart on the SAME checkpoint: the uncommitted batch replays in full
    val ingest2 = startQuery()
    ingest2.activeQuery.get.processAllAvailable()
    assert(deliveries.asScala.toSeq.map(_._2) == Seq(2L), "replay delivers offsets 0-1 once")

    // new offsets → new batch; then a clean shutdown commits everything
    input.addData(rec(2, """{"ts":"2024-03-01 12:10:00","etype":"click","value":4.0}"""))
    ingest2.flushAndStop()
    assert(deliveries.asScala.toSeq.map(_._2).sorted == Seq(1L, 2L))

    // third start: all offsets committed → nothing is redelivered
    val ingest3 = startQuery()
    ingest3.activeQuery.get.processAllAvailable()
    ingest3.flushAndStop()
    assert(deliveries.size == 2, "committed offsets must never be redelivered")

    // and the store holds each event exactly once despite the replay
    val out = spark.read.parquet(s"$tmp/out")
    assert(out.agg(sum($"cnt")).as[Long].head() == 3L)
  }

  test("topicPattern routing: two topics → two dataSources, commits stay independent") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KRec]
    val tmp = Files.createTempDirectory("graft-kafka-router").toString

    def specFor(ds: String) = spec.copy(dataSchema = spec.dataSchema.copy(dataSource = ds))
    val routes = Map(
      "clicks" -> KafkaRouter.Route(specFor("clicks_ds"), s"$tmp/clicks", valueSchema),
      "views"  -> KafkaRouter.Route(specFor("views_ds"), s"$tmp/views", valueSchema))

    // one-shot fault in the CLICKS writer only — views must commit anyway
    @volatile var failClicksOnce = true
    def writerFor(topic: String): Option[(DataFrame, Long) => Unit] = Some {
      (df, id) =>
        if (topic == "clicks" && failClicksOnce) {
          failClicksOnce = false; throw new RuntimeException("injected clicks failure")
        }
        graft.sink.SegmentSink.writeMicroBatch(s"$tmp/$topic")(df, id)
    }

    // interleaved offsets across topics, plus an UNROUTED topic that must
    // be ignored (matches the subscribe pattern, no dataSource configured)
    input.addData(
      rec(0, """{"ts":"2024-03-01 12:00:00","etype":"c1","value":1.0}""", "clicks"),
      rec(1, """{"ts":"2024-03-01 12:01:00","etype":"v1","value":2.0}""", "views"),
      rec(2, """{"ts":"2024-03-01 12:02:00","etype":"c2","value":3.0}""", "clicks"),
      rec(3, """{"ts":"2024-03-01 12:03:00","etype":"x1","value":9.0}""", "other"))

    val streams1 = KafkaRouter.start(spark, input.toDF(), routes, s"$tmp/cp",
      now = lit(Timestamp.valueOf("2024-03-01 12:00:00")),
      trigger = Trigger.ProcessingTime(50), writerFor = writerFor)
    // clicks dies before its commit; views drains and commits
    intercept[StreamingQueryException] {
      streams1("clicks").activeQuery.get.processAllAvailable()
    }
    // stopping every stream reaches views past the dead clicks query, then
    // rethrows the clicks failure
    val stopErr = intercept[StreamingQueryException](IngestStream.stopAll(streams1.values))
    assert(stopErr.getMessage.contains("injected clicks failure"), stopErr.getMessage)
    assert(spark.read.parquet(s"$tmp/views").agg(sum($"cnt")).as[Long].head() == 1L,
      "views must commit independently of the clicks failure")

    // restart over the SAME checkpoints: clicks replays its uncommitted
    // offsets; views has committed and redelivers nothing
    val streams2 = KafkaRouter.start(spark, input.toDF(), routes, s"$tmp/cp",
      now = lit(Timestamp.valueOf("2024-03-01 12:00:00")),
      trigger = Trigger.ProcessingTime(50), writerFor = writerFor)
    IngestStream.stopAll(streams2.values)

    val clicks = spark.read.parquet(s"$tmp/clicks")
      .select($"etype", $"cnt").as[(String, Long)].collect().toSet
    val views = spark.read.parquet(s"$tmp/views")
      .select($"etype", $"cnt").as[(String, Long)].collect().toSet
    assert(clicks == Set(("c1", 1L), ("c2", 1L)), s"clicks store: $clicks")
    assert(views == Set(("v1", 1L)), s"views store exactly-once: $views")
    // the unrouted topic's record landed nowhere
    assert(!new java.io.File(s"$tmp/other").exists)
  }

  private val fixedNow = lit(Timestamp.valueOf("2024-03-01 12:05:00"))

  test("router: a hyperUnique route stores the HLL sketch and its broker " +
      "view reads back the finalized estimate") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[KRec]
    val tmp = Files.createTempDirectory("graft-kafka-hu").toString
    val huSpec = IngestionSpec(
      DataSchema("hu_kafka", TimestampSpec("ts"), SpecificDimensions(Seq()),
        Seq(AggregatorSpec("count", "cnt"),
          AggregatorSpec("hyperUnique", "uniq", Some("etype"))),
        GranularitySpec(Granularity.Hour, Granularity.Minute)),
      Tuning(windowPeriod = java.time.Duration.ofMinutes(10)))
    val streams = KafkaRouter.start(spark, input.toDF(),
      Map("hu" -> KafkaRouter.Route(huSpec, s"$tmp/hu", valueSchema)), s"$tmp/cp",
      now = fixedNow, trigger = Trigger.ProcessingTime(50))
    val ingest = streams("hu")
    assert(ingest.activeQuery.get.name == "graft-hu_kafka")
    input.addData(
      rec(0, """{"ts":"2024-03-01 12:00:10","etype":"a","value":1.0}""", "hu"),
      rec(1, """{"ts":"2024-03-01 12:00:40","etype":"b","value":1.0}""", "hu"))
    ingest.activeQuery.get.processAllAvailable()
    // the same 12:00 bucket from a second batch: the sketches re-merge
    input.addData(
      rec(2, """{"ts":"2024-03-01 12:00:50","etype":"a","value":1.0}""", "hu"),
      rec(3, """{"ts":"2024-03-01 12:05:00","etype":"c","value":1.0}""", "hu"))
    IngestStream.stopAll(streams.values)
    assert(spark.read.parquet(s"$tmp/hu").schema("uniq").dataType ==
      org.apache.spark.sql.types.BinaryType)
    val got = ingest.brokerView()
      .filter($"__time" === Timestamp.valueOf("2024-03-01 12:00:00"))
      .select($"cnt", $"uniq").as[(Long, Long)].collect().toSeq
    assert(got == Seq((3L, 2L)), s"12:00 bucket: $got")
  }

  test("router: an exactCardinality route is rejected with the store-form message") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-kafka-ec").toString
    val ecSpec = spec.copy(dataSchema = spec.dataSchema.copy(dataSource = "ec_kafka",
      aggregators = Seq(AggregatorSpec("exactCardinality", "uniq", Some("etype")))))
    val e = intercept[IllegalArgumentException] {
      KafkaRouter.start(spark, MemoryStream[KRec].toDF(),
        Map("ec" -> KafkaRouter.Route(ecSpec, s"$tmp/ec", valueSchema)), s"$tmp/cp",
        now = fixedNow, trigger = Trigger.ProcessingTime(50))
    }
    assert(e.getMessage.contains("uniq:exactCardinality"), e.getMessage)
  }

  test("router: a route failing to start stops the routes already running") {
    implicit val sqlCtx = spark.sqlContext
    val tmp = Files.createTempDirectory("graft-kafka-unwind").toString
    def specFor(ds: String, dedupKeys: Seq[String]) = spec.copy(
      dataSchema = spec.dataSchema.copy(dataSource = ds),
      tuning = spec.tuning.copy(dedupKeys = dedupKeys))
    val routes = Map(
      "first" -> KafkaRouter.Route(specFor("first_kafka", Nil), s"$tmp/first", valueSchema),
      "second" -> KafkaRouter.Route(specFor("second_kafka", Seq("no_such_dim")),
        s"$tmp/second", valueSchema))
    val e = intercept[IllegalArgumentException] {
      KafkaRouter.start(spark, MemoryStream[KRec].toDF(), routes, s"$tmp/cp",
        now = fixedNow, trigger = Trigger.ProcessingTime(50))
    }
    assert(e.getMessage.contains("no_such_dim"), e.getMessage)
    assert(!spark.streams.active.exists(_.name == "graft-first_kafka"),
      "the first route's query must not outlive the failed start")
  }
}
