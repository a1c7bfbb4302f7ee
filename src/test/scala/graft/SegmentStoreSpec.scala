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

  test("stored form: hyperUnique, multi-field cardinality, filtered " +
      "cardinality and approxHistogram re-merge from binaries across batches") {
    val skSpec = IngestionSpec(
      DataSchema("stored_sketches", TimestampSpec("ts"),
        SpecificDimensions(Seq("a")),
        Seq(AggregatorSpec("hyperUnique", "hu", Some("u")),
          AggregatorSpec("cardinality", "pairs", fields = Seq("u", "v")),
          AggregatorSpec("filtered", "xpairs",
            filterDimension = Some("a"), filterValue = Some("x"),
            aggregator = Some(AggregatorSpec("cardinality", "xpairs",
              fields = Seq("u", "v")))),
          AggregatorSpec("approxHistogram", "h", Some("n"),
            probabilities = Seq(0.5), accuracy = Some(10000))),
        GranularitySpec(Granularity.Hour, Granularity.Hour)),
      Tuning(windowPeriod = java.time.Duration.ofMinutes(30)))
    val stored = SegmentStore.stored(skSpec).dataSchema.aggregators
    assert(stored.map(a => (a.name, a.aggType)) == Seq("hu" -> "hllSketch",
      "pairs" -> "hllSketch", "xpairs" -> "filtered", "h" -> "histogramSketch"))
    assert(stored(2).aggregator.map(_.aggType).contains("hllSketch"))
    // percentile_approx's accuracy is no bin count: the sketch keeps its 128
    assert(stored(3).accuracy.isEmpty && stored(3).probabilities == Seq(0.5))

    val p = new Pipeline(SegmentStore.stored(skSpec))
    val path = Files.createTempDirectory("graft-stored").toString + "/store"
    def batch(rows: (String, String, String, Double)*) =
      p.withSegment(p.rollup(p.project(p.extractTimestamp(rows
        .map { case (a, u, v, n) => (ts("2024-03-01 12:10:00"), a, u, v, n) }
        .toDF("ts", "a", "u", "v", "n")))))
    SegmentSink.writeMicroBatch(path)(
      batch(("x", "u1", "p", 1.0), ("x", "u1", "q", 2.0), ("y", "u2", "p", 3.0)), 0L)
    SegmentSink.writeMicroBatch(path)(
      batch(("x", "u1", "p", 5.0), ("x", "u2", "p", 1.0)), 1L)
    val raw = spark.read.parquet(path).schema
    assert(Seq("hu", "pairs", "xpairs", "h").forall(c =>
      raw(c).dataType == org.apache.spark.sql.types.BinaryType), raw)
    // x: users {u1, u2}, tuples {(u1,p), (u1,q), (u2,p)}, values {1, 2, 5, 1}
    // → lower-rank median 1.0; y: the filter admits none of its rows
    val got = SegmentStore.read(spark, path, skSpec)
      .select($"a", $"hu", $"pairs", $"xpairs", element_at($"h", 1))
      .as[(String, Long, Long, Long, Double)].collect().toSet
    assert(got == Set(("x", 2L, 3L, 3L, 1.0), ("y", 1L, 1L, 0L, 3.0)), got)
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
    // a zone-map sidecar as older versions of the sink wrote it
    spark.range(3).toDF("n").write.parquet(s"$path/_graft_stats")
    val hconf = spark.sparkContext.hadoopConfiguration
    val files = Footers.dataFiles(hconf, Seq(path)).map(_.getPath.toString)
    assert(files.nonEmpty && files.forall(_.contains("/__batch_id=")), files)
    assert(!files.exists(_.contains("_graft_stats")), files)
    assert(files.forall(_.endsWith(".parquet")), files)
    val rows = Footers.dataFiles(hconf, Seq(path))
      .map(st => Footers.footer(st, spark).rows).sum
    assert(rows == 4L)
    intercept[Footers.NoDataFiles](Footers.schema(spark, s"$path-missing"))
    val empty = Files.createTempDirectory("graft-footers-empty").toString
    Files.createDirectories(java.nio.file.Paths.get(empty, "segment=x", "_temporary"))
    intercept[Footers.NoDataFiles](Footers.schema(spark, empty))
  }

  test("zone-map prunes read footers only: 0 Spark jobs; a file without " +
      "the column adds nothing to its segment's bound") {
    val path = evolvedStore()
    val (got, jobs) = jobsLaunched(Seq(
      // 12:00 holds batch 0 (no `b`) and batch 1 (b = eu): only eu bounds it
      SegmentStore.pruneSegments(spark, path, "b", "zz"),
      SegmentStore.pruneSegments(spark, path, "b", "eu"),
      SegmentStore.pruneSegments(spark, path, "a", "x"),
      SegmentStore.pruneSegmentsRange(spark, path, "a", "y", "z"),
      SegmentStore.pruneSegmentsNumericRange(spark, path, "cnt", 5, 9),
      SegmentStore.pruneSegmentsNumericRange(spark, path, "total", 0.0, 1.0)))
    assert(jobs == 0, "a prune launched a Spark job")
    val (h12, h13) = ("2024-03-01T12.00.00", "2024-03-01T13.00.00")
    assert(got == Seq(Nil, Seq(h12), Seq(h12, h13), Seq(h12), Seq(h13), Seq(h13)))
  }

  test("Footers: per-family bounds folded over row groups; all-null chunks " +
      "add nothing, NaN and unbounded types give none") {
    val dir = Files.createTempDirectory("graft-bounds").toString + "/t"
    // one row per row group; U+1F600 sorts after U+FFFF in UTF-8 byte order
    // (Spark's string order) but before it in Java's UTF-16 order
    Seq(("b", 3L, 7, 2.5f, Some(1.0), 1.0),
        ("\ud83d\ude00", -4L, 9, -0.5f, Some(2.0), Double.NaN),
        ("\uffff", 10L, 8, 1.0f, None, 3.0))
      .toDF("s", "l", "i", "f", "d", "x")
      .withColumn("n", lit(null).cast("string"))
      .withColumn("t", current_timestamp())
      .coalesce(1).write.option("parquet.block.row.count.limit", "1").parquet(dir)
    val Seq(st) = Footers.dataFiles(spark.sparkContext.hadoopConfiguration, Seq(dir))
    val b = Footers.footer(st, spark).bounds
    // `n` is null throughout: no entry, like a column the file lacks; the
    // NaN in `x`'s second row group and the timestamp `t` leave no bound
    assert(b.keySet == Set("s", "l", "i", "f", "d", "x", "t"), b)
    assert(b("x").isEmpty && b("t").isEmpty, b)
    assert(b("l").contains(Footers.LongBound(-4L, 10L)))
    assert(b("i").contains(Footers.LongBound(7L, 9L)))
    assert(b("f").contains(Footers.DoubleBound(-0.5, 2.5)))
    // `d`'s all-null third row group adds nothing to its bound
    assert(b("d").contains(Footers.DoubleBound(1.0, 2.0)))
    val Some(Footers.StrBound(lo, hi)) = b("s")
    assert((lo.toString, hi.toString) == ("b", "\ud83d\ude00"))
    // NaN beside other values in one row group: no bound either (Spark
    // orders NaN above every number, so `x > 5` matches it)
    Seq(1.0, Double.NaN, 3.0).toDF("x").coalesce(1).write.parquet(s"$dir-one")
    val Seq(one) = Footers.dataFiles(spark.sparkContext.hadoopConfiguration, Seq(s"$dir-one"))
    assert(Footers.footer(one, spark).bounds == Map("x" -> None))
  }
}
