package graft

import java.nio.file.Files

import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

import graft.pipeline.Parallelism

/** Pins the r11 size-aware fan-out: width = ceil(rows / rowsPerPartition)
  * capped at defaultParallelism (4 in this suite's session), computed from
  * parquet FOOTER metadata (no job), with a metadata-based planned-width
  * no-op guard and validated conf seams.
  */
class ParallelismSpec extends SparkSpec {

  private lazy val dir = {
    val d = Files.createTempDirectory("graft-par").toString
    spark.range(1000).select(col("id").as("doc_id"),
      concat(lit("t"), col("id")).as("text"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$d/docs.parquet")
    d
  }
  private def docs = spark.read.parquet(s"$dir/docs.parquet")

  private def parts(df: org.apache.spark.sql.DataFrame): Int =
    df.rdd.getNumPartitions

  test("width scales with footer row count and caps at defaultParallelism") {
    // 1000 rows / 500 per partition = 2
    val fanned = Parallelism.fanOut(docs, col("doc_id"), 500L)
    assert(parts(fanned) == 2)
    // a hash exchange on the key, never round-robin
    val exchanges = fanned.queryExecution.sparkPlan.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    assert(exchanges.collect { case h: HashPartitioning =>
      h.expressions.flatMap(_.references.map(_.name)) } == Seq(Seq("doc_id")),
      s"expected one hashpartitioning(doc_id) exchange, got $exchanges")
    // 1000 / 100 = 10, capped at the session's 4 cores
    assert(parts(Parallelism.fanOut(docs, col("doc_id"), 100L)) == 4)
  }

  test("no-op when the computed width does not exceed the planned scan") {
    // 1000 / 100000 -> width 1 <= planned: the SAME frame comes back
    val out = Parallelism.fanOut(docs, col("doc_id"), 100000L)
    assert(out.queryExecution.logical ==
      Parallelism.fanOut(docs, col("doc_id"), 100000L).queryExecution.logical)
    assert(parts(out) == parts(docs))
  }

  test("global rowsPerPartition conf overrides the per-site density") {
    spark.conf.set("spark.graft.fanout.rowsPerPartition", "250")
    try assert(parts(Parallelism.fanOut(docs, col("doc_id"), 100000L)) == 4)
    finally spark.conf.unset("spark.graft.fanout.rowsPerPartition")
  }

  test("fanout=off disables; unrecognized conf values fail fast") {
    spark.conf.set("spark.graft.fanout", "off")
    try assert(parts(Parallelism.fanOut(docs, col("doc_id"), 100L)) == parts(docs))
    finally spark.conf.unset("spark.graft.fanout")
    spark.conf.set("spark.graft.fanout", "false") // typo, not off|on
    try intercept[IllegalArgumentException] {
      Parallelism.fanOut(docs, col("doc_id"), 100L)
    } finally spark.conf.unset("spark.graft.fanout")
    spark.conf.set("spark.graft.fanout.rowsPerPartition", "lots")
    try intercept[IllegalArgumentException] {
      Parallelism.fanOut(docs, col("doc_id"), 100L)
    } finally spark.conf.unset("spark.graft.fanout.rowsPerPartition")
  }

  test("in-memory relations (no leaf files) are a no-op, never a crash") {
    import spark.implicits._
    val mem = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(parts(Parallelism.fanOut(mem, col("doc_id"), 1L)) == parts(mem))
  }
}
