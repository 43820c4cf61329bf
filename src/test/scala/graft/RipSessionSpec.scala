package graft

import org.apache.spark.sql.SparkSession

/** The one session profile. `pinned` is the effective value, under
  * `local(4)`, of every key the profile sets or used to set: the AQE,
  * parquet-pushdown and runtime-bloom-filter keys left the builder
  * because they restate Spark 4 defaults, and this table shows those
  * defaults still hold. The benchmark times `RipSession.local`, so a
  * changed value here changes the timed configuration and needs its own
  * measured change.
  */
class RipSessionSpec extends SparkSpec {

  private val pinned = Map(
    "spark.master" -> "local[4]",
    "spark.app.name" -> "graft",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.parquet.compression.codec" -> "zstd",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.ansi.enabled" -> "false",
    "spark.ui.enabled" -> "false",
    "spark.shuffle.sort.bypassMergeThreshold" -> "2",
    "spark.locality.wait" -> "0")

  /** SQL confs: the session's value or Spark's default. Other keys: the
    * SparkContext's conf — `getOrCreate` on an existing session copies
    * them into the session conf without applying them. */
  private def effective(s: SparkSession, key: String): Option[String] =
    if (key.startsWith("spark.sql.")) s.conf.getOption(key)
    else s.sparkContext.getConf.getOption(key)

  private def assertProfile(s: SparkSession): Unit = {
    val wrong = pinned.collect {
      case (k, v) if effective(s, k) != Some(v) => s"$k=${effective(s, k)} (want $v)"
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  // first: RipSession.local on an existing session re-applies its SQL
  // confs, which would hide a test session built with other SQL values
  test("SparkSpec.session reports the profile's values") {
    assertProfile(SparkSpec.session)
  }

  test("RipSession.local(4) is the test session and pins every profile key") {
    val s = RipSession.local(4)
    s.sparkContext.setLogLevel("ERROR") // local() resets it to WARN
    assert(s eq SparkSpec.session)
    assertProfile(s)
  }
}
