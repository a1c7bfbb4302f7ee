package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.config.IngestionSpec
import graft.streaming.IngestStream

/** topicPattern → multi-dataSource demux — the engine's analog of the
  * reference's Kafka writer controller (upstream kafka/.../WriterController
  * .java + PropertiesBasedKafkaConfig: one consumer subscribes a topic
  * regex, and each matched topic feeds ITS OWN dataSource with its own
  * ingestion spec and writer; SURVEY §2.1 Kafka daemon row).
  *
  * Spark-first shape: one [[IngestStream]] per routed topic over the same
  * kafka-shaped record stream, each filtering `topic == t` BEFORE the value
  * parse (a pushed-down string equality on the source columns — no wasted
  * JSON parsing of other topics' bytes) and running against its own
  * checkpoint + store. Per-topic checkpoints keep the reference's
  * per-writer commit independence: a sink failure in one dataSource replays
  * only that topic's offsets; the others commit on their own cadence —
  * and a slow dataSource never backpressures its siblings.
  *
  * At cluster scale each query's source is the same consumer group ID
  * pattern; Spark's kafka source gives every query an independent consumer,
  * matching upstream's writer-per-dataSource fan-out.
  */
object KafkaRouter {

  /** Per-topic routing target: ingestion spec, segment-store path, and the
    * JSON schema of the topic's value bytes.
    */
  final case class Route(
      spec: IngestionSpec,
      outPath: String,
      valueSchema: StructType)

  /** Start one ingest query per routed topic over `records` (kafka-shaped:
    * [[Sources.kafkaRecordSchema]]). Unrouted topics are ignored, exactly
    * like a topic matching the subscribe pattern but carrying no configured
    * dataSource upstream. Each route's spec picks its ingest mode
    * ([[IngestStream.start]]); a route that fails to start stops the ones
    * already running ([[IngestStream.startAll]]). Returns the per-topic
    * streams keyed by topic; stop them with [[IngestStream.stopAll]].
    */
  def start(
      spark: SparkSession,
      records: DataFrame,
      routes: Map[String, Route],
      checkpointRoot: String,
      now: Column = current_timestamp(),
      trigger: Trigger = Trigger.AvailableNow(),
      writerFor: String => Option[(DataFrame, Long) => Unit] = _ => None)
      : Map[String, IngestStream] =
    IngestStream.startAll(routes) { (topic, route) =>
      val ingest = new IngestStream(spark, route.spec, s"$checkpointRoot/$topic")
      ingest.start(
        // each route parses with ITS spec's parseSpec format (json default)
        Sources.parseRecords(
          records.filter(col("topic") === topic), route.valueSchema,
          route.spec.dataSchema.parser),
        route.outPath, now = now, trigger = trigger, writer = writerFor(topic))
      ingest
    }
}
