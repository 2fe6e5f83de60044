package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, one session), on the
  * fork-free local filesystem as `SparkEntry.session` is.
  */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSuite.session
  val sfDir = "/root/testdata/sf0.001"

  private val temps = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  /** A fresh temp directory, deleted after the suite. */
  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    temps.add(d)
    d
  }

  /** A temp copy of the fixture's events, so its serving root is the
    * test's own; both are deleted after the suite.
    */
  def eventsCopy(prefix: String): String = {
    val dir = tempDir(prefix)
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    temps.add(graft.serving.Serving.servingRoot(spark, dir))
    dir
  }

  /** `f`'s value and the number of Spark jobs started while it ran. */
  def withJobCount[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val value = f
      org.apache.spark.ListenerDrain(spark.sparkContext)
      (value, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  override protected def afterAll(): Unit =
    try temps.forEach { d =>
      graft.serving.RootCache.invalidate(spark, d) // release pinned frames
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    } finally super.afterAll()
}

object SparkSuite {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.tables.LocalFs.install(s)
    s
  }
}
