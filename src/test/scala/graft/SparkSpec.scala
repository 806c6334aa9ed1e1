package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session keeps
  * the test run fast; UTC + small shuffle width everywhere).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val scratch = java.nio.file.Files.createTempDirectory("graft-warehouse")
    System.setProperty("derby.system.home", scratch.toString)
    SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      // mirrors GraftSession: the driver corpus' events.parquet is
      // TIMESTAMP(NANOS) and must scan as raw longs
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // static conf, must be set at build: ThriftServerSpec registers
      // temp views and reads them over JDBC through the shared session
      .config("spark.sql.hive.thriftserver.single.session", "true")
      // mirrors GraftSession: composite pipelines compile ~92 codegen
      // fragments — the default 100-entry cache self-evicts across a
      // suite run and every suite re-pays Janino + JIT warmup (sizing
      // rationale and the 256-vs-1000 A/B: see GraftSession)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Spark jobs started while `body` ran. The listener bus is async:
    * a one-task marker job runs after `body`, and the count is read
    * once the bus delivers the marker's start — every earlier event
    * has been delivered by then (the bus is FIFO).
    */
  def jobsRun(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val marker = s"jobs-run-marker-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val seen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.job.description"))
            .contains(marker)) seen.countDown()
        else jobs.incrementAndGet(): Unit
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(seen.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the marker job")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
