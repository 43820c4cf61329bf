package graft

import org.apache.spark.sql.functions._
import graft.operators.{Bloom, Dedup, Multimodal}

/** Plan-key STABILITY pins (round 16): the dedup frame registry and
  * every other plan-keyed cache (bloom memo, exchange reuse) rely on
  * two structurally identical builds producing canonically EQUAL
  * plans. The bench's queries_reg channel surfaced five queries whose
  * frames missed on every run — two distinct root causes, each pinned
  * here so it cannot regress silently again:
  *
  *  1. RipBloomProbe held its bitmap as a case-class Array[Long] field
  *     (reference equality) while the function builder extracts a
  *     fresh `toLongArray()` per plan build → content-equal probes
  *     never compared equal (q256/q260/q262/q264).
  *  2. imageDHash's mapPartitions closure is a fresh lambda instance
  *     per call → the persisted hashed frame's key changed every build
  *     (q267). Fixed by memoizing the output frame on the INPUT plan.
  */
class PlanKeySpec extends SparkSpec {

  private def bloomDf = {
    import spark.implicits._
    Seq(1L, 2L, 3L, 99L).toDF("v")
  }

  test("RipBloomProbe: content-equal bitmaps from distinct arrays compare equal") {
    val bm1 = Array(0x5L, 0x10L, 0L, 1L << 63)
    val bm2 = bm1.clone() // distinct instance, same content
    val df = bloomDf
    val c1 = df.select(Bloom.probe(col("v"), bm1, mBits = 256, kHashes = 3).as("p"))
    val c2 = df.select(Bloom.probe(col("v"), bm2, mBits = 256, kHashes = 3).as("p"))
    val p1 = c1.queryExecution.analyzed.canonicalized
    val p2 = c2.queryExecution.analyzed.canonicalized
    assert(p1 == p2,
      "two probes built from content-equal bitmap arrays must canonicalize equal")
    // and a DIFFERENT bitmap must NOT collide
    val bm3 = bm1.clone(); bm3(0) = 0x6L
    val p3 = df.select(Bloom.probe(col("v"), bm3, mBits = 256, kHashes = 3).as("p"))
      .queryExecution.analyzed.canonicalized
    assert(p1 != p3, "content-different bitmaps must not compare equal")
    // hashCode consistency (the registry key is a LinkedHashMap key)
    assert(p1.hashCode == p2.hashCode)
  }

  test("bloom-gated containment frame: second build HITS the registry") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, s"tok${i % 7} tok${(i * 3) % 11} tok${(i * 5) % 13} " +
        s"tok${(i * 7) % 17} tok${(i * 11) % 19} filler$i end"))
      .toDF("doc_id", "text")
    val evalD = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val corp = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    def build() = Dedup.crossContainmentBloom(
      evalD, corp, "doc_id", "text", shingleN = 3, threshold = 0.7,
      mBits = 1 << 12, kHashes = 3)
    build().count()
    val hits0 = FrameCache.stats.hits
    val miss0 = FrameCache.stats.misses
    build().count()
    assert(FrameCache.stats.hits > hits0,
      "second structurally identical bloom-gate build must hit the frame registry")
    assert(FrameCache.stats.misses == miss0,
      s"second build must not MISS the registry (misses ${FrameCache.stats.misses - miss0})")
  }

  test("imageDHash: repeat call on an equivalent input returns the memoized frame") {
    MmFixtures.ensure(spark)
    val imgs = spark.read.parquet(MmFixtures.imagesPath)
    def hashed() = Multimodal.imageDHash(
      imgs.select(col("img_id"), col("payload")), "payload", "__ph")
    val d1 = hashed()
    val d2 = hashed()
    assert(d1 eq d2,
      "memoizedFrame must return the identical DataFrame so downstream " +
        "plans share one lambda instance")
    // and the downstream registry-persisted frame therefore hits
    def pairs() = Multimodal.imageNearDupPairs(imgs, "img_id", "payload", 3)
    pairs().count()
    val hits0 = FrameCache.stats.hits
    val miss0 = FrameCache.stats.misses
    pairs().count()
    assert(FrameCache.stats.hits > hits0 && FrameCache.stats.misses == miss0,
      "second imageNearDupPairs build must hit (not rebuild) the hashed frame")
  }

  test("registry key includes output names: alias-differing twins do not collide") {
    // VERDICT r16 #1: canonicalization erases output aliases, so two
    // persisted frames identical up to column names (dsirDictDf's __t/__r
    // bucket histograms) collided and the hit returned the wrong-named
    // frame (UNRESOLVED_COLUMN in EmptyInputSpec). The key now carries the
    // schema's field names; twins must BOTH persist and serve their own
    // column names.
    import spark.implicits._
    val base = Seq(1L, 2L, 2L, 3L).toDF("v")
    def counts(out: String) = FrameCache.persist(
      base.groupBy(col("v")).agg(count(lit(1)).as(out)))
    val t = counts("__t")
    val r = counts("__r")
    assert(t.columns.toSeq == Seq("v", "__t"))
    assert(r.columns.toSeq == Seq("v", "__r"),
      "alias-differing twin must not be served the first twin's frame")
    // both resolve their own column (the r16 failure was an
    // AnalysisException right here)
    assert(t.agg(sum(col("__t"))).collect().head.getLong(0) == 4L)
    assert(r.agg(sum(col("__r"))).collect().head.getLong(0) == 4L)
    // and a repeat of EACH alias still hits its own entry
    val hits0 = FrameCache.stats.hits
    assert(counts("__t").columns.toSeq == Seq("v", "__t"))
    assert(counts("__r").columns.toSeq == Seq("v", "__r"))
    assert(FrameCache.stats.hits >= hits0 + 2,
      "repeat builds of each twin must hit their own registry entries")
  }

  test("dsirWeights twin-histogram order is symmetric on empty frames") {
    // The concrete r16 victim: dsirWeights(a, b) after dsirWeights(b, a)
    // must both evaluate (the collision made the second die resolving __t).
    import spark.implicits._
    val docs = (0L until 20L)
      .map(i => (i, s"tok${i % 5} tok${(i * 3) % 7} end"))
      .toDF("doc_id", "text")
    val emptyDocs = docs.filter(lit(false))
    assert(graft.operators.Curate
      .dsirWeights(emptyDocs, docs, "doc_id", "text").count() == 0L)
    assert(graft.operators.Curate
      .dsirWeights(docs, emptyDocs, "doc_id", "text").count() == 20L)
  }
}
