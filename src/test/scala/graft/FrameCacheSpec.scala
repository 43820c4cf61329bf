package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Bloom, Cluster, Dedup, Multimodal}

/** FrameCache's key rule and its single clear, through the operators
  * that cache in it: every explicit parameter and every input column
  * name is part of the key, nondeterministic inputs bypass both value
  * kinds, and one clear drops driver-side artifacts as well as frames.
  */
class FrameCacheSpec extends SparkSpec {

  private def jobs(): Int =
    spark.sparkContext.statusTracker.getJobIdsForGroup(null).length

  test("bloom bitmaps of one frame keyed on different columns are " +
    "built separately") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (i, i * 1000003L)).toDF("a", "b")
    val onA = Dedup.memoizedBitmap(df, "a", 1 << 12, 3)
    val onB = Dedup.memoizedBitmap(df, "b", 1 << 12, 3)
    assert(onA.sameElements(Bloom.bitmapFor(df, "a", 1 << 12, 3)))
    assert(onB.sameElements(Bloom.bitmapFor(df, "b", 1 << 12, 3)),
      "keying on b returned the bitmap built for a")
  }

  test("closure-output frames are not shared between inputs that " +
    "differ only in column names") {
    val s = spark
    import s.implicits._
    val first = Multimodal.imageDHash(
      Seq((1L, "not an image")).toDF("id", "payload"), "payload")
    val second = Multimodal.imageDHash(
      Seq((1L, "not an image")).toDF("doc_id", "payload"), "payload")
    assert(first.columns.toSeq === Seq("id", "payload", "phash"))
    assert(second.columns.toSeq === Seq("doc_id", "payload", "phash"),
      "the second input was served the first input's output frame")
    assert(second.select("doc_id").as[Long].collect().toSeq === Seq(1L))
  }

  test("one clear drops connected-component results: the next call " +
    "runs its jobs again") {
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("x", "y")
    val (first, rounds) = Cluster.connectedComponentsWithRounds(pairs, "x", "y")
    val j0 = jobs()
    val (hit, _) = Cluster.connectedComponentsWithRounds(pairs, "x", "y")
    assert(jobs() === j0, "a repeat call before the clear must hit")
    assert(hit eq first)
    FrameCache.clear()
    val j1 = jobs()
    val (rebuilt, rounds2) =
      Cluster.connectedComponentsWithRounds(pairs, "x", "y")
    assert(jobs() > j1, "the clear left the clustering cached")
    assert(!(rebuilt eq first) && rounds2 === rounds)
    assert(rebuilt.orderBy("id").as[(Long, Long)].collect().toSeq ===
      Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L), (8L, 7L)))
  }

  test("nondeterministic inputs bypass both value kinds; deterministic " +
    "ones are cached") {
    val inputs: Seq[(String, DataFrame, Boolean)] = Seq(
      ("deterministic", spark.range(50).toDF("id"), true),
      ("rand()", spark.range(50).withColumn("r", rand(7)), false),
      ("sample", spark.range(50).toDF("id").sample(0.5, 11L), false))
    inputs.foreach { case (what, df, cached) =>
      FrameCache.clear()
      val before = FrameCache.stats
      val persisted = FrameCache.persist(df)
      assert((persisted.storageLevel != StorageLevel.NONE) === cached, what)
      assert(FrameCache.persist(df) eq persisted, what)
      var builds = 0
      (1 to 2).foreach(_ => FrameCache.memo("spec", df)(what) { builds += 1 })
      assert(builds === (if (cached) 1 else 2), what)
      val after = FrameCache.stats
      assert(after.frames === (if (cached) 1L else 0L), what)
      assert(after.artifacts === (if (cached) 1L else 0L), what)
      assert(after.misses - before.misses === (if (cached) 1L else 0L), what)
    }
    FrameCache.clear()
    assert(FrameCache.stats.frames === 0L && FrameCache.stats.artifacts === 0L)
  }
}
