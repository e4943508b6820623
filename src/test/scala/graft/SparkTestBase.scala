package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt).
  *
  * Mirrors the driver's runtime configs: UTC session timezone, AQE on,
  * small shuffle partition count for test speed (scale designs are
  * validated by plan shape + the sf0.1 bench, not by partition count here),
  * and [[EtlSession.SharedCodegenPin]], so suites load generated code the
  * way the engine does.
  */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkTestBase.session

  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        s"/tmp/graft-warehouse-${System.getProperty("user.name")}")
      .config("spark.ui.enabled", "false")
      .config(EtlSession.SharedCodegenPin)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
