package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (one JVM-wide session, local[4]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  /** Fixed at 4 threads, not [[Sessions.cpus]]: the suite runs the same
    * way whatever SPARK_GRAFT_CPUS the test runner exports. */
  lazy val session: SparkSession = Sessions.local(4)
}
