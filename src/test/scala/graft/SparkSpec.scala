package graft

import org.apache.spark.sql.SparkSession
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
}
