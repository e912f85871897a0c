package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite, configured
  * like Verify/Bench (UTC, ANSI off, AQE on). */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = graft.Sessions.tuneLocal(SparkSession.builder())
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.ansi.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    // engine-wide default (see graft.operators.Layouts): bucketed
    // layouts are only read by probes that want the bucketed scan
    .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Spark jobs launched while `body` runs. A fence job run after
    * `body` marks the end: the listener bus delivers events in order,
    * so once the fence's start arrives every earlier job is counted. */
  def jobsLaunchedBy(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val fence = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.job.description") == "fence")
          fence.countDown()
        else { jobs.incrementAndGet(); () }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("fence")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(fence.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "fence job never reached the listener")
      jobs.get()
    } finally sc.removeSparkListener(listener)
  }
}
