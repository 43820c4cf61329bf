package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.lit

/** Table resolution (Tables header doc): a base table's schema is
  * resolved once per session from the file's footer, with no Spark job,
  * keyed by path, length and mtime; every call still gets a fresh read. Each test works on its own temp copy
  * of the sf0.001 tables, so no other spec's memo entry is reused.
  */
class TablesSpec extends SparkSpec {

  private val source = Paths.get(sys.props("user.home"), "testdata", "sf0.001")

  private def copyTables(): String = {
    val dir = Files.createTempDirectory("graft_tables")
    dir.toFile.deleteOnExit()
    Tables.names.foreach { n =>
      val f = dir.resolve(s"$n.parquet")
      Files.copy(source.resolve(s"$n.parquet"), f)
      f.toFile.deleteOnExit()
    }
    dir.toString
  }

  private val MarkerKey = "graft.tablesspec.marker"

  /** `body`'s value and the Spark jobs it ran, counted by a listener. A
    * marker job after `body` flushes the listener bus: events arrive in
    * order, so once the marker's start is seen, every job `body` started
    * has been counted.
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(MarkerKey) != null))
          marker.countDown()
        else { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setLocalProperty(MarkerKey, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(MarkerKey, null)
      assert(marker.await(60, TimeUnit.SECONDS), "marker job never seen")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  test("no call runs a job: not the first, a repeat, or the first after a clear") {
    val dir = copyTables()
    Seq[(String, () => org.apache.spark.sql.DataFrame)](
      ("nation", () => Tables.table(spark, dir, "nation")),
      ("events", () => Tables.table(spark, dir, "events")),
      ("floored orders", () => Tables.floored(spark, dir, "orders", "o_orderkey"))
    ).foreach { case (what, call) =>
      assert(jobsOf(call())._2 === 0, s"$what: first call")
      assert(jobsOf(call())._2 === 0, s"$what: repeat call")
      FrameCache.clear()
      assert(jobsOf(call())._2 === 0, s"$what: first call after a clear")
      assert(jobsOf(call())._2 === 0, s"$what: repeat after the clear")
    }
  }

  test("a file rewritten at the same path is resolved again") {
    val dir = copyTables()
    val before = Tables.table(spark, dir, "nation")
    assert(!before.columns.contains("n_extra"))
    val rows = before.count()
    assert(jobsOf(Tables.table(spark, dir, "nation"))._2 === 0)
    val staged = Files.createTempDirectory("graft_tables_rewrite")
    before.withColumn("n_extra", lit(7L)).coalesce(1)
      .write.mode("overwrite").parquet(staged.resolve("out").toString)
    val part: Path = Files.list(staged.resolve("out")).toArray
      .map(_.asInstanceOf[Path])
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, Paths.get(dir, "nation.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    org.apache.commons.io.FileUtils.deleteDirectory(staged.toFile)
    val (after, jobs) = jobsOf(Tables.table(spark, dir, "nation"))
    assert(jobs === 0, "resolving the rewritten file ran a job")
    assert(after.columns.last === "n_extra",
      "the rewritten file was served the old schema")
    assert(after.select("n_extra").distinct().collect().map(_.getLong(0))
      .toSeq === Seq(7L))
    assert(after.count() === rows)
  }

  test("nation joined with nation through two calls is unambiguous") {
    val dir = copyTables()
    val perRegion = Tables.table(spark, dir, "nation")
      .groupBy("n_regionkey").count().collect().map(_.getLong(1))
    val expected = perRegion.map(c => c * c).sum
    Seq("miss then hit", "hit then hit").foreach { what =>
      if (what.startsWith("miss")) FrameCache.clear()
      val a = Tables.table(spark, dir, "nation")
      val b = Tables.table(spark, dir, "nation")
      val joined = a.join(b, a("n_regionkey") === b("n_regionkey"))
        .select(a("n_name"), b("n_name").as("other"))
      assert(joined.count() === expected, what)
      assert(joined.filter(joined("n_name") === joined("other")).count() ===
        perRegion.sum, what)
    }
  }

  test("the miss read and the hit read have equal plans and schemas") {
    val dir = copyTables()
    FrameCache.clear()
    Tables.names.foreach { name =>
      val miss = Tables.table(spark, dir, name)
      val (hit, jobs) = jobsOf(Tables.table(spark, dir, name))
      assert(jobs === 0, name)
      assert(miss.schema === hit.schema, name)
      assert(miss.queryExecution.analyzed.canonicalized ===
        hit.queryExecution.analyzed.canonicalized, name)
      // the footer schema is the one inference finds: the file scan
      // leaf equals an inferring read's, schema and canonical plan
      val inferred = spark.read.parquet(s"$dir/$name.parquet")
        .queryExecution.analyzed
      val leaf = hit.queryExecution.analyzed.collectLeaves()
      assert(leaf.map(_.schema) === Seq(inferred.schema), name)
      assert(leaf.map(_.canonicalized) === Seq(inferred.canonicalized), name)
    }
  }

  test("table lookups move no frame counter") {
    val dir = copyTables()
    val before = FrameCache.stats
    Tables.names.foreach { name =>
      Tables.table(spark, dir, name)
      Tables.table(spark, dir, name)
    }
    Tables.floored(spark, dir, "lineitem", "l_orderkey")
    val after = FrameCache.stats
    assert((after.hits, after.misses, after.frames) ===
      ((before.hits, before.misses, before.frames)))
    assert(after.artifacts - before.artifacts === Tables.names.size.toLong)
  }
}
