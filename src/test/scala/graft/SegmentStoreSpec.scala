package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.config._
import graft.pipeline.Pipeline
import graft.sink.{Footers, SegmentSink, SegmentStore}
import graft.time.Granularity

/** Store reads open from cached parquet footers ([[Footers]]): the same
  * schema and rows a `mergeSchema` read gives, with no Spark job to build
  * the frame. */
class SegmentStoreSpec extends SparkSpec {
  import spark.implicits._

  private val spec = IngestionSpec(
    DataSchema("evolved", TimestampSpec("ts"),
      SpecificDimensions(Seq("a", "b")),
      Seq(AggregatorSpec("count", "cnt"),
        AggregatorSpec("doubleSum", "total", Some("value"))),
      GranularitySpec(Granularity.Hour, Granularity.Hour)),
    Tuning(windowPeriod = java.time.Duration.ofMinutes(30)))

  private def ts(s: String) = Timestamp.valueOf(s)

  /** batch 0 has no dim `b`; batch 1 adds it, in a second segment too. */
  private def evolvedStore(): String = {
    val path = Files.createTempDirectory("graft-footers").toString + "/store"
    val b0 = Seq((ts("2024-03-01 12:00:00"), "x", 2L, 3.0),
        (ts("2024-03-01 12:00:00"), "y", 1L, 1.5))
      .toDF(Pipeline.TsCol, "a", "cnt", "total")
      .withColumn(Pipeline.SegmentCol, col(Pipeline.TsCol))
    val b1 = Seq((ts("2024-03-01 12:00:00"), "x", "eu", 1L, 4.0),
        (ts("2024-03-01 13:00:00"), "x", "us", 5L, 0.5))
      .toDF(Pipeline.TsCol, "a", "b", "cnt", "total")
      .withColumn(Pipeline.SegmentCol, col(Pipeline.TsCol))
    SegmentSink.writeMicroBatch(path)(b0, 0L)
    SegmentSink.writeMicroBatch(path)(b1, 1L)
    path
  }

  private def fields(df: DataFrame) = df.schema.fields.toSeq.map(f => (f.name, f.dataType))

  /** Jobs launched on this thread while `body` runs. A sentinel job in the
    * same group marks the end: listener events arrive in order, so once it
    * is seen every earlier job start has been counted. */
  private def jobsLaunched[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"footers-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == "sentinel") done.countDown()
          else jobs.incrementAndGet()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "footers")
      val out = body
      sc.setJobDescription("sentinel")
      spark.range(1).count()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
      (out, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("footer-merged read of an evolved store matches a mergeSchema read, " +
      "with 0 Spark jobs to build the frame") {
    val path = evolvedStore()
    val reference = spark.read.option("mergeSchema", "true").parquet(path)
    val (opened, openJobs) = jobsLaunched(SegmentStore.open(spark, path))
    assert(openJobs == 0)
    assert(fields(opened) == fields(reference))
    assert(opened.columns.contains("b") && opened.columns.contains("__batch_id"))
    assert(opened.collect().toSet == reference.collect().toSet)

    val (read, readJobs) = jobsLaunched(SegmentStore.read(spark, path, spec))
    assert(readJobs == 0, "SegmentStore.read launched a Spark job to build")
    val dims = Seq(Pipeline.TsCol, Pipeline.SegmentCol, "a", "b")
    val merged = reference.groupBy(dims.map(col): _*)
      .agg(sum($"cnt").cast("long").as("cnt"), sum($"total").as("total"))
    assert(fields(read) == fields(merged))
    assert(read.collect().toSet == merged.collect().toSet)
    assert(read.filter($"b".isNull).select(sum($"cnt")).as[Long].head() == 3L)
  }

  test("Footers: listing keeps __batch_id dirs, hides sidecars; no data " +
      "files is a NoDataFiles error") {
    val path = evolvedStore()
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = Footers.dataFiles(hconf, Seq(path)).map(_.getPath.toString)
    assert(files.nonEmpty && files.forall(_.contains("/__batch_id=")), files)
    assert(!files.exists(_.contains(SegmentSink.StatsDir)), files)
    assert(files.forall(_.endsWith(".parquet")), files)
    val rows = Footers.dataFiles(hconf, Seq(path))
      .map(st => Footers.footer(st, hconf).rows).sum
    assert(rows == 4L)
    intercept[Footers.NoDataFiles](Footers.schema(spark, s"$path-missing"))
    val empty = Files.createTempDirectory("graft-footers-empty").toString
    Files.createDirectories(java.nio.file.Paths.get(empty, "segment=x", "_temporary"))
    intercept[Footers.NoDataFiles](Footers.schema(spark, empty))
  }
}
