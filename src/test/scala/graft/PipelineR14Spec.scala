package graft

import org.apache.spark.sql.functions._

/** Round-14 pins (VERDICT r13 #2 — the q262 ≤ 2 s done-bar work):
  *  - the release-audit family (q256 → q262 → q264) shares ONE
  *    verified-containment computation and ONE per-side banded
  *    signature frame through the dedup registry instead of
  *    re-scanning/re-verifying per query;
  *  - Bloom bitmap builds memoize per (key plan, geometry) — the
  *    eval-suite filter that q256/q262/q264 all gate against is built
  *    once per session;
  *  - sharing must not change results: q262 stays oracle-shaped
  *    (per-doc fold of the exact gate) and cartesian-free.
  */
class PipelineR14Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("release-audit family shares the verified-containment and banded " +
    "signature frames through the registry (q256 warms q262 and q264)") {
    FrameCache.clear()
    SparkEntry.queries("q256_bloom_decontam")(spark, sf).collect()
    val hitsAfterQ256 = FrameCache.stats.hits
    val missesAfterQ256 = FrameCache.stats.misses
    val q262 = SparkEntry.queries("q262_contamination_report")(spark, sf)
    val rows = q262.collect()
    assert(rows.nonEmpty)
    // the ng branch must be served from the registry: hits grow, and
    // the shared frames cost no NEW misses beyond the semantic branch's
    // first-build (banded signature frames, two sides)
    assert(FrameCache.stats.hits > hitsAfterQ256,
      "q262 re-built the verified-containment frame q256 just registered")
    val plan = q262.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"),
      "q262's executed plan reads no registry frame")
    assert(!plan.contains("CartesianProduct"), plan)
    // q264's semantic branch keys the OPPOSITE side from q262 — the
    // canonical-name persistence must still share both banded frames
    val missesBeforeQ264 = FrameCache.stats.misses
    SparkEntry.queries("q264_release_gate")(spark, sf).collect()
    assert(FrameCache.stats.misses - missesBeforeQ264 <= 2,
      s"q264 rebuilt shared frames: ${FrameCache.stats.misses - missesBeforeQ264} " +
        "new registry misses after q256+q262 warmed the family")
  }

  test("q266 chunk-parallel rolling: the window partitions by " +
    "(key, chunk) — a hot group CANNOT serialize through one task") {
    val df = SparkEntry.queries("q266_rolling_chunked")(spark, sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    // the local frame scan must partition by BOTH the key and the time
    // chunk; a plain user_id partitioning would be the serialized shape
    // this operator exists to avoid
    assert(plan.contains("windowspecdefinition(user_id") &&
      plan.contains("__c"),
      s"chunked rolling lost its (key, chunk) window partitioning:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bloom bitmap memo: same key plan and geometry returns the " +
    "SAME built bitmap without a second build job") {
    FrameCache.clear()
    val spark2 = spark
    import spark2.implicits._
    val keys = (1L to 500L).toDF("sh")
    // the memo the bloom gates call (Dedup.crossContainmentImpl)
    def memoizedBitmap(k: org.apache.spark.sql.DataFrame, bits: Int) =
      FrameCache.memo("bloomBitmap", k)(bits, 5)(
        graft.operators.Bloom.bitmapFor(k, "sh", bits, 5))
    val a = memoizedBitmap(keys, 1 << 12)
    val (b, jobs) = jobsOf(memoizedBitmap((1L to 500L).toDF("sh"), 1 << 12))
    assert(b eq a, "memo missed: a fresh bitmap was built")
    assert(jobs === 0, "memo hit must run zero jobs")
    // different geometry = different filter
    val c = memoizedBitmap(keys, 1 << 13)
    assert(!(c eq a))
    // cold reset drops the memo (bench cold-lane honesty)
    FrameCache.clear()
    val d = memoizedBitmap(keys, 1 << 12)
    assert(!(d eq a) && d.toSeq === a.toSeq)
  }
}
