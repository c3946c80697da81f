package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs (one JVM, reused across suites). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  override def afterAll(): Unit = () // session shared; stopped by JVM exit
}

object SparkSpec {

  /** Test-data root for suites that read the driver-generated parquet —
    * env-overridable so a different machine/layout repoints the test
    * tree in one place (round-15 advisory: no per-test hardcoded
    * paths). Named on the companion, not the trait, so suites with a
    * local `sfDir` val keep compiling unchanged.
    */
  def sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

  lazy val session: SparkSession = {
    val s = GraftSession.local(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir", "target/test-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
