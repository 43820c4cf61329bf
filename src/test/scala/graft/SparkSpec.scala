package graft

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

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = RipSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
