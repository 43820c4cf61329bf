package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine — the one place a session is
  * built. `local(cpus)` is the profile every entry point (Bench, Verify,
  * VerifyScale10, Explain, the perfbench harness) and the test suite's
  * `SparkSpec` run, so the oracle checks the configuration the bench
  * times; `RipSessionSpec` pins its effective values.
  *
  * Riptable is an eager single-node library whose "session" is the Python
  * process (reference: `riptable/rt_fastarray.py:381` threading globals at
  * `rt_fastarray.py:6266`). On Spark the session carries the cluster tuning
  * instead. Only settings that differ from Spark's defaults are set; AQE
  * (partition coalescing, skew-join splitting), parquet filter pushdown
  * and runtime bloom-filter join pruning are Spark 4 defaults and stay on.
  *
  * To A/B a setting without a knob, pass `-Dspark.<key>=…` to the JVM
  * (sbt `javaOptions`; `JAVA_TOOL_OPTIONS` for `scripts/run.sh`) for any
  * key this profile does not set, or call `spark.conf.set` for a runtime
  * SQL conf.
  */
object RipSession {

  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      // sized by the caller: cores on the local rig, thousands on a cluster
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // riptable's SDS is zstd-compressed (`rt_sds.py:719`)
      .config("spark.sql.parquet.compression.codec", "zstd")
      .config("spark.sql.session.timeZone", "UTC")
      // Nanosecond parquet timestamps surface as LongType ns-since-epoch
      // (SURVEY §1.2: nanos-as-long policy; TimestampType is µs).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      // Riptable/numpy semantics are non-ANSI (wraparound int math,
      // silent overflow) — matches rc.BasicMath* kernel behavior.
      // Spark 4 defaults ANSI on.
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      // Always use the sort-based shuffle writer (optimization r16,
      // guide §2.2 "fewer, larger blocks"): below this threshold Spark
      // picks BypassMergeSortShuffleWriter, which opens R partition
      // FILES per map task — M×R file creations per shuffle. Profiled
      // on the bench rig (jstack sampling): with 32-partition inputs
      // every map task spent ~70 ms CPU in FileOutputStream.open0 /
      // DiskBlockObjectWriter.open, turning a 150-row aggregate into
      // 2.3 s of CPU. The sort writer emits ONE data+index file per
      // map task at any R. In production R exceeds the default
      // threshold (200) anyway — sort is what runs at scale — so this
      // aligns local execution with the at-scale path; it is NOT a
      // local-only tuning.
      .config("spark.shuffle.sort.bypassMergeThreshold", "2")

  /** Local session: local[cpus] with cpus shuffle partitions.
    * `spark.locality.wait=0` is LOCAL-ONLY (not in `builder`): one
    * executor makes every task process-local by construction, so the
    * scheduler's locality wait (default 3 s per level, triggered by
    * cached-block location preferences) is pure dead time — measured
    * r16: a 10-query latency-bound bench subset dropped 9.0 → 7.4 s.
    * Cluster sessions built via `builder` keep the default, where
    * locality is real.
    */
  def local(cpus: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder(s"local[$cpus]", cpus)
      .config("spark.locality.wait", "0")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // "No Partition Defined" warnings all come from DICTIONARY-sized
    // windows (category encodes, ngroup ids, pivot duplicate checks) —
    // deliberate one-partition evaluations of tiny frames (see VERDICT
    // r4: do NOT "fix" these into broadcast regressions). Silence the
    // logger, not the designs.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
