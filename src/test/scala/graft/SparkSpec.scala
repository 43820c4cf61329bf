package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared SparkSession for specs: the engine's one profile,
  * `RipSession.local(4)`, so specs run the configuration the bench times
  * (RipSessionSpec checks it). The warehouse path is a deployment
  * setting and comes from `Test / javaOptions` in build.sbt.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** `body`'s value and the Spark jobs it ran, counted by a listener. A
    * marker job after `body` flushes the listener bus: events arrive in
    * order, so once the marker's start is seen, every job `body` started
    * has been counted. (The status tracker's job list is no substitute:
    * it keeps only the newest spark.ui.retainedJobs, so its length can
    * stay flat while jobs run.)
    */
  def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(SparkSpec.MarkerKey) != null))
          marker.countDown()
        else { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(SparkSpec.MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SparkSpec.MarkerKey, null)
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never seen")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  private val MarkerKey = "graft.sparkspec.marker"

  lazy val session: SparkSession = {
    val s = RipSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
