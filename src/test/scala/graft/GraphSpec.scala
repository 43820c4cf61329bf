package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph}

/** PageRank (r16 — link-graph quality weighting for crawl curation):
  * the simplified (leaking-dangling) variant pinned against a
  * hand-computed reference on a small graph, plus the structural
  * properties curation relies on, and the rank frame's cache key: a
  * repeat call over the same inputs and parameters runs no job.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  // 0 → 1, 0 → 2, 1 → 2, 2 → 0, 3 dangling; 4 isolated
  private def nodes = Seq(0L, 1L, 2L, 3L, 4L).toDF("id")
  private def edges =
    Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (3L, 0L)).toDF("src", "dst")

  test("matches a hand-rolled reference iteration on a known graph") {
    val got = Graph.pageRank(nodes, edges, iters = 5, damping = 0.85)
      .orderBy("id").select("rank").as[Double].collect()
    // reference: same recursion in plain Scala
    val out = Map(0L -> Seq(1L, 2L), 1L -> Seq(2L), 2L -> Seq(0L),
      3L -> Seq(0L))
    var r = Seq(0L, 1L, 2L, 3L, 4L).map(_ -> 0.2).toMap
    val base = 0.15 / 5.0
    for (_ <- 1 to 5) {
      val contrib = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      out.foreach { case (u, vs) =>
        vs.foreach(v => contrib(v) += r(u) / vs.size)
      }
      r = r.keys.map(v => v -> (base + 0.85 * contrib(v))).toMap
    }
    val want = r.toSeq.sortBy(_._1).map(_._2)
    got.zip(want).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) <= 1e-12, s"node $i: $g vs $e")
    }
    // isolated node sits exactly at the teleport floor
    assert(math.abs(got(4) - base) <= 1e-15)
  }

  test("dangling mass leaks (documented variant): total rank < 1 when " +
    "a node has no out-edges, = 1 on a closed graph") {
    val leaky = Graph.pageRank(nodes, edges, iters = 3)
      .agg(sum("rank")).as[Double].head()
    assert(leaky < 1.0 - 1e-6, s"expected leak, got total $leaky")
    val closedE = Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    val closedN = Seq(0L, 1L, 2L).toDF("id")
    val closed = Graph.pageRank(closedN, closedE, iters = 4)
      .agg(sum("rank")).as[Double].head()
    assert(math.abs(closed - 1.0) <= 1e-9, s"closed graph total $closed")
  }

  test("weighted + personalized: matches a hand-rolled reference " +
    "(teleport mass on seeds only, contribution r·w/W)") {
    val wEdges = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 2L, 2L),
      (2L, 0L, 1L), (3L, 0L, 5L)).toDF("src", "dst", "w")
    val seeds = Seq(0L, 3L).toDF("id")
    val got = Graph.pageRank(nodes, wEdges, iters = 4, damping = 0.85,
        weightCol = Some("w"), teleport = Some(seeds))
      .orderBy("id").select("rank").as[Double].collect()
    val out = Map(0L -> Seq((1L, 3L), (2L, 1L)), 1L -> Seq((2L, 2L)),
      2L -> Seq((0L, 1L)), 3L -> Seq((0L, 5L)))
    val p = Map(0L -> 0.5, 1L -> 0.0, 2L -> 0.0, 3L -> 0.5, 4L -> 0.0)
    var r = p
    for (_ <- 1 to 4) {
      val contrib = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      out.foreach { case (u, vs) =>
        val tot = vs.map(_._2).sum.toDouble
        vs.foreach { case (v, w) => contrib(v) += r(u) * w / tot }
      }
      r = p.keys.map(v => v -> (0.15 * p(v) + 0.85 * contrib(v))).toMap
    }
    val want = r.toSeq.sortBy(_._1).map(_._2)
    got.zip(want).zipWithIndex.foreach { case ((g, e), i) =>
      assert(math.abs(g - e) <= 1e-12, s"node $i: $g vs $e")
    }
    // non-seed island (node 4, isolated): decays to exactly 0
    assert(got(4) === 0.0)
  }

  test("q278 plan: every iteration reads the PERSISTED edge frame " +
    "(InMemoryTableScan per iteration, no cartesian product)") {
    val df = SparkEntry.queries("q278_pagerank")(spark,
      "/root/testdata/sf0.001")
    assert(df.count() > 0)
    // the ranks are a persisted frame: check the plan that built them
    val plan = df.queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r.cachedPlan.toString }
      .getOrElse(fail("q278's rank frame is not persisted"))
    val scans = "InMemoryTableScan".r.findAllIn(plan).size
    assert(scans >= 5,
      s"expected >= 5 cached edge scans (one per iteration), got $scans:\n" +
        plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("the degree-joined edge frame registry-persists: a second run " +
    "hits instead of rebuilding (iteration reuse contract)") {
    val n = Seq.tabulate(50)(i => i.toLong).toDF("id")
    val e = n.select(col("id").as("src"), ((col("id") * 3 + 1) % 50).as("dst"))
      .filter(col("src") =!= col("dst"))
    Graph.pageRank(n, e, iters = 2).count()
    val hits0 = Dedup.registryHits
    val miss0 = Dedup.registryMisses
    // iters = 3 misses the persisted ranks of iters = 2, so this call
    // builds: its one hit is the edge frame, its one miss its own ranks
    Graph.pageRank(n, e, iters = 3).count()
    assert(Dedup.registryHits - hits0 === 1 &&
      Dedup.registryMisses - miss0 === 1,
      "a second pageRank over the same graph must reuse the persisted " +
        "degree-joined edges and persist only its own ranks")
  }

  private val dir = "/root/testdata/sf0.001"

  /** The persisted frames `df`'s plan reads, outermost first. */
  private def cachedIn(df: DataFrame) =
    df.queryExecution.withCachedData.collect { case r: InMemoryRelation =>
      r.cacheBuilder }

  test("a repeat construction of q278-q280 runs no Spark job and reads " +
    "the same persisted ranks") {
    Seq("q278_pagerank", "q279_source_authority", "q280_focused_pagerank")
      .foreach { q =>
        val first = SparkEntry.queries(q)(spark, dir)
        val (again, jobs) = jobsOf(SparkEntry.queries(q)(spark, dir))
        assert(jobs === 0, s"$q: a repeat construction ran $jobs job(s)")
        assert(cachedIn(first).nonEmpty, s"$q reads no persisted frame")
        assert(cachedIn(again).corresponds(cachedIn(first))(_ eq _), q)
        assert(rows(again) === rows(first), q)
      }
  }

  test("the rank frame is keyed by every parameter and the seed set") {
    val wEdges = Seq((0L, 1L, 3L), (0L, 2L, 1L), (1L, 2L, 2L),
      (2L, 0L, 1L), (3L, 0L, 5L)).toDF("src", "dst", "w")
    def seeds(ids: Long*) = ids.toDF("id")
    def run(iters: Int = 4, damping: Double = 0.85,
            weightCol: Option[String] = None,
            teleport: Option[DataFrame] = None) =
      Graph.pageRank(nodes, wEdges, iters, damping, weightCol = weightCol,
        teleport = teleport)
    def ranks(df: DataFrame) =
      df.orderBy("id").select("rank").as[Double].collect().toSeq
    FrameCache.clear()
    val variants = Seq[(String, () => DataFrame)](
      ("base", () => run()),
      ("iters", () => run(iters = 3)),
      ("damping", () => run(damping = 0.5)),
      ("weightCol", () => run(weightCol = Some("w"))),
      ("teleport", () => run(teleport = Some(seeds(0L, 3L)))),
      ("teleport seeds", () => run(teleport = Some(seeds(0L)))))
    val built = variants.map { case (what, call) =>
      val s0 = FrameCache.stats
      val df = call()
      assert(FrameCache.stats.misses > s0.misses, s"$what hit another key")
      assert(call() eq df, s"$what: an equal call missed")
      what -> df
    }
    built.combinations(2).foreach { case Seq((a, x), (b, y)) =>
      assert(!(x eq y), s"$a and $b share a frame")
      assert(ranks(x) !== ranks(y), s"$a and $b rank alike")
    }
  }

  test("an empty teleport seed set is rejected, on every call") {
    val none = Seq.empty[Long].toDF("id")
    (1 to 2).foreach { _ =>
      val e = intercept[IllegalArgumentException](
        Graph.pageRank(nodes, edges, teleport = Some(none)))
      assert(e.getMessage.contains("teleport seed set is empty"))
    }
  }
}
