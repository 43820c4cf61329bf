package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.operators.{Bloom, Cluster, Dedup, Multimodal}

/** FrameCache's key rule and its single clear, through the operators
  * that cache in it: every explicit parameter and every input column
  * name is part of the key, nondeterministic inputs bypass every entry
  * kind, and one clear drops driver-side artifacts as well as frames.
  * The input-keyed `persist` finds a frame without building it, and its
  * alias leaves with the frame.
  */
class FrameCacheSpec extends SparkSpec {

  test("bloom bitmaps of one frame keyed on different columns are " +
    "built separately") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (i, i * 1000003L)).toDF("a", "b")
    def memoizedBitmap(keyCol: String) =
      FrameCache.memo("bloomBitmap", df)(keyCol, 1 << 12, 3)(
        Bloom.bitmapFor(df, keyCol, 1 << 12, 3))
    val onA = memoizedBitmap("a")
    val onB = memoizedBitmap("b")
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
    val ((hit, _), hitJobs) =
      jobsOf(Cluster.connectedComponentsWithRounds(pairs, "x", "y"))
    assert(hitJobs === 0, "a repeat call before the clear must hit")
    assert(hit eq first)
    FrameCache.clear()
    val ((rebuilt, rounds2), rebuildJobs) =
      jobsOf(Cluster.connectedComponentsWithRounds(pairs, "x", "y"))
    assert(rebuildJobs > 0, "the clear left the clustering cached")
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

  private val in = spark.range(20).toDF("id")
  private var builds = 0

  /** An operator whose output is persisted under its input and `k`. */
  private def op(input: DataFrame, k: Int): DataFrame =
    FrameCache.persist("spec.op", input)(k) {
      builds += 1
      input.withColumn("k", lit(k))
    }

  test("an input-keyed hit returns the frame without building it and " +
    "counts one frame hit") {
    FrameCache.clear()
    val first = op(in, 1)
    assert(builds === 1 && first.storageLevel != StorageLevel.NONE)
    Seq(in, spark.range(20).toDF("id")).foreach { equalInput =>
      val (b0, s0) = (builds, FrameCache.stats)
      val again = op(equalInput, 1)
      val s1 = FrameCache.stats
      assert(builds === b0, "a hit evaluated build")
      assert(again eq first)
      assert((s1.hits - s0.hits, s1.misses - s0.misses) === ((1L, 0L)))
    }
    assert((FrameCache.stats.frames, FrameCache.stats.aliases) === ((1L, 1L)))
  }

  test("each parameter or input change misses") {
    FrameCache.clear()
    op(in, 1)
    Seq[(String, () => DataFrame)](
      ("param", () => op(in, 2)),
      ("input rows", () => op(spark.range(21).toDF("id"), 1)),
      ("input column name", () => op(spark.range(20).toDF("n"), 1))
    ).foreach { case (what, call) =>
      val (b0, s0) = (builds, FrameCache.stats)
      call()
      val s1 = FrameCache.stats
      assert(builds === b0 + 1, what)
      assert((s1.hits - s0.hits, s1.misses - s0.misses) === ((0L, 1L)), what)
    }
  }

  test("after trimTo, clear or an eviction the next call rebuilds and " +
    "counts a miss") {
    Seq("trimTo", "clear", "eviction").foreach { how =>
      FrameCache.clear()
      val first = op(in, 1)
      how match {
        case "trimTo" => FrameCache.trimTo(0)
        case "clear" => FrameCache.clear()
        case "eviction" => (1 to FrameCache.maxCached).foreach(i =>
          FrameCache.memo(spark, "spec.fill")(i)(i))
      }
      assert((FrameCache.stats.frames, FrameCache.stats.aliases) ===
        ((0L, 0L)), s"$how left the frame or its alias")
      val (b0, s0) = (builds, FrameCache.stats)
      val rebuilt = op(in, 1)
      val s1 = FrameCache.stats
      assert(builds === b0 + 1, how)
      assert((s1.hits - s0.hits, s1.misses - s0.misses) === ((0L, 1L)), how)
      assert(!(rebuilt eq first), how)
    }
    FrameCache.clear()
  }

  test("the built-bitmap and prebuilt-bitmap containment routes share " +
    "one persisted frame") {
    val s = spark
    import s.implicits._
    FrameCache.clear()
    // each eval doc (doc_id % 10 == 0) is contained in the corpus docs
    // of its ten that share its tail token
    val docs = (0L until 60L)
      .map(i => (i, s"alpha${i / 10} beta${i / 10} gamma${i / 10} " +
        s"delta${i / 10} tail${i % 3}"))
      .toDF("doc_id", "text")
    val evalD = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val corp = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    // q256's route: the gate builds its own bitmap
    val built = Dedup.crossContainmentBloom(evalD, corp, "doc_id", "text",
      shingleN = 3, threshold = 0.7, mBits = 1 << 12, kHashes = 3)
    // q260's route: the same bitmap, prebuilt apart from the gate
    val bitmap = Bloom.bitmapFor(Dedup.evalPrefixHashes(evalD, "doc_id",
      "text", shingleN = 3, threshold = 0.7), "sh", 1 << 12, 3)
    val s0 = FrameCache.stats
    val prebuilt = Dedup.crossContainmentBloomWith(evalD, corp, "doc_id",
      "text", bitmap, shingleN = 3, threshold = 0.7, kHashes = 3)
    val s1 = FrameCache.stats
    assert(prebuilt eq built, "the prebuilt route persisted its own frame")
    assert(s1.frames === s0.frames && s1.misses === s0.misses)
    assert(s1.aliases === s0.aliases + 1)
    // each route now finds the shared frame by its own inputs
    assert(Dedup.crossContainmentBloomWith(evalD, corp, "doc_id", "text",
      bitmap.clone(), shingleN = 3, threshold = 0.7, kHashes = 3) eq built)
    assert(FrameCache.stats.misses === s0.misses)
    assert(built.count() > 0)
    FrameCache.clear()
  }

  test("an input-keyed persist of a rand() input builds every time") {
    FrameCache.clear()
    val random = spark.range(20).withColumn("r", rand(7))
    val b0 = builds
    val first = op(random, 1)
    val second = op(random, 1)
    assert(builds === b0 + 2)
    assert(!(second eq first) && first.storageLevel === StorageLevel.NONE)
    assert((FrameCache.stats.frames, FrameCache.stats.aliases) === ((0L, 0L)))
  }

  test("a file rewritten at the same path misses every entry built over " +
    "it, and plain queries stop reading the old rows") {
    import java.nio.file.{Files, Path, StandardCopyOption}
    val dir = Files.createTempDirectory("framecache-rewrite")
    // one parquet file of x = 0 until n at dir/t.parquet, as Tables reads
    def write(n: Int): Unit = {
      val out = dir.resolve(s"w$n")
      spark.range(n).toDF("x").coalesce(1).write.parquet(out.toString)
      val part = Files.list(out).filter(_.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.copy(part, dir.resolve("t.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    def read() = Tables.table(spark, dir.toString, "t")
    def count(t: DataFrame) =
      FrameCache.memo("spec.count", t)()(t.count())
    def sum(t: DataFrame) =
      FrameCache.persist("spec.sum", t)()(t.selectExpr("sum(x) AS s"))
        .head().getLong(0)
    FrameCache.clear()
    write(10)
    val before = read()
    assert((count(before), sum(before)) === ((10L, 45L)))
    write(20)
    val after = read()
    assert(count(after) === 20L, "the count memo served the old file")
    assert(sum(after) === 190L, "the persisted sum served the old file")
    assert(after.selectExpr("sum(x)").head().getLong(0) === 190L,
      "Spark's cache still substitutes the frame built over the old file")
    assert(FrameCache.stats.frames === 1L)
    FrameCache.clear()
  }
}
