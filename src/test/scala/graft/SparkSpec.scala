package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, reused). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  /** The mains' local profile at a fixed 4 cores: ParallelismSpec's widths
    * depend on defaultParallelism = 4. */
  lazy val session: SparkSession = GraftSession.local(4)

  /** The `segment` values the file scans of a physical plan read — of a
    * planned query (`queryExecution.sparkPlan`, before adaptive execution
    * wraps the scans into stages), after partition pruning. */
  def scannedSegments(plan: SparkPlan): Set[String] =
    plan.collect { case f: FileSourceScanExec => f }.flatMap { f =>
      val i = f.relation.partitionSchema.fieldIndex(graft.pipeline.Pipeline.SegmentCol)
      f.selectedPartitions.filePartitionIterator.map(_.values.getUTF8String(i).toString)
    }.toSet

  def scannedSegments(df: DataFrame): Set[String] =
    scannedSegments(df.queryExecution.sparkPlan)
}
