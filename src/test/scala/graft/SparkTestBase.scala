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

  /** Spark jobs that `body` starts, counted by a `SparkListener`. Listener
    * events arrive in order but asynchronously, so the count runs between
    * two marker jobs and waits until the closing marker is seen. */
  def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.LinkedBlockingQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def takeUntil(name: String): Int = Iterator
      .continually(Option(seen.poll(60, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail(s"no listener event for marker job $name")))
      .takeWhile(_ != name).size
    sc.addSparkListener(listener)
    try {
      marker("jobs-before")
      takeUntil("jobs-before")
      body
      marker("jobs-after")
      takeUntil("jobs-after")
    } finally sc.removeSparkListener(listener)
  }
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
