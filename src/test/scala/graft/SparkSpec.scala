package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val session: SparkSession = Sessions.local(4)
  val sfDir = "/root/testdata/sf0.001"
  private val markerKey = "graft.test.jobsDuring.marker"
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = SparkSpec.sfDir

  /** Runs `body` and returns its result with the number of Spark jobs it
    * started. A marker job tagged with a local property runs after the
    * body; the listener bus delivers events in order, so once the marker's
    * start arrives every job of the body has been counted. The marker
    * itself is not counted.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger(0)
    val markerSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (markerSeen.getCount > 0) {
          val tag = Option(js.properties).map(_.getProperty(SparkSpec.markerKey))
          if (tag.contains(marker)) markerSeen.countDown()
          else { jobs.incrementAndGet(); () }
        }
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.setLocalProperty(SparkSpec.markerKey, marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SparkSpec.markerKey, null)
      assert(markerSeen.await(20, TimeUnit.SECONDS),
        "the marker job's start event never reached the listener")
      (result, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
