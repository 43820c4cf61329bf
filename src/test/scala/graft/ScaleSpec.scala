package graft

import org.apache.spark.sql.functions._
import graft.operators.{Similarity, Skew}

/** Scale-technique specs: bucketed no-shuffle joins, salted skew joins,
  * IVF ANN recall vs brute force.
  */
class ScaleSpec extends SparkSpec {
  import spark.implicits._

  test("bucketed tables join without an exchange on the fact side") {
    spark.sql("DROP TABLE IF EXISTS bkt_fact")
    spark.sql("DROP TABLE IF EXISTS bkt_dim")
    // a stale location (metastore wiped but files kept) blocks saveAsTable
    Seq("bkt_fact", "bkt_dim").foreach { t =>
      new scala.reflect.io.Directory(
        new java.io.File(s"/tmp/graft_warehouse/$t")).deleteRecursively()
    }
    val fact = (1 to 1000).map(i => (i.toLong % 50, i.toDouble)).toDF("k", "v")
    val dim = (0L until 50L).map(k => (k, s"name$k")).toDF("k", "name")
    fact.write.bucketBy(8, "k").sortBy("k").saveAsTable("bkt_fact")
    dim.write.bucketBy(8, "k").sortBy("k").saveAsTable("bkt_dim")
    val joined = spark.table("bkt_fact").join(spark.table("bkt_dim"), "k")
    // co-located bucketed join: no shuffle exchange in the plan
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(joined.count() === 1000)
  }

  test("salted join returns the same result as a plain join") {
    val left = (1 to 500).map(i => (if (i < 450) 1L else i.toLong, i)).toDF("k", "lv")
    val right = (1L to 60L).map(k => (k, s"r$k")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).select("k", "lv", "rv")
      .collect().map(_.toSeq).toSet
    val salted = Skew.saltedJoin(left, right, Seq("k"), "lv", saltFactor = 4)
      .select("k", "lv", "rv").collect().map(_.toSeq).toSet
    assert(salted === plain)
  }

  test("IVF ANN finds the exact duplicate vector as top neighbor") {
    val rng = new scala.util.Random(7)
    val base = (0 until 200).map { i =>
      (i.toLong, Seq.fill(16)(rng.nextFloat() * 2 - 1))
    }
    val dup = Seq((500L, base(3)._2)) // exact duplicate of vec 3
    val df = (base ++ dup).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(df, df.filter($"vec_id" === 3L),
      "vec_id", "embedding", "vec_id", k = 3, nCentroids = 8, nprobe = 4)
    val top = out.filter($"rank" === 1).select("neighbor_id").as[Long].head()
    assert(top === 500L)
  }

  test("PQ-ADC finds an exact duplicate as top neighbor (codes argmin ⇒ minimal ADC)") {
    val rng = new scala.util.Random(7)
    val base = (0 until 200).map { i =>
      (i.toLong, Seq.fill(16)(rng.nextFloat() * 2 - 1))
    }
    val dup = Seq((500L, base(3)._2)) // exact duplicate of vec 3
    val df = (base ++ dup).toDF("vec_id", "embedding")
    val out = Similarity.pqTopK(df, df.filter($"vec_id" === 3L),
      "vec_id", "embedding", "vec_id", k = 3, m = 4, ksub = 16)
    // the duplicate carries vec 3's own argmin codes, so its ADC
    // distance is the minimum achievable — nothing can rank above it
    val top = out.filter($"rank" === 1).select("neighbor_id").as[Long].head()
    assert(top === 500L)
    assert(out.count() === 3)
  }

  test("PQ encode is zero-shuffle; exactQuantiles ranks per-bin, not globally") {
    val rng = new scala.util.Random(5)
    val df = (0 until 300).map { i =>
      (i.toLong, Seq.fill(16)(rng.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    // the expensive part of pqTopK — the corpus encode — must not
    // exchange: codebook rides in as a literal, argmin is per-row.
    // Reproduce the encode shape via assignToCentroids' plan cousin:
    // the full pqTopK plan may shuffle only for the top-k window.
    val full = Similarity.pqTopK(df, df.filter($"vec_id" < 2L),
      "vec_id", "embedding", "vec_id", k = 3, m = 4, ksub = 8)
    val planStr = full.queryExecution.executedPlan.toString
    // exactly one window (per-query top-k) and no shuffle of the
    // corpus by anything except that window's query_id partitioning
    assert(planStr.contains("windowspecdefinition(query_id"))
    assert(!planStr.contains("SortMergeJoin"), "corpus must not SMJ")

    // exactQuantiles: the candidate ranking must be partitioned by BIN
    // (a partition-less row_number over the raw column would be the
    // single-task funnel the operator exists to avoid)
    val vals = (1 to 5000).map(_ => rng.nextGaussian() * 10).toDF("x")
    val eq = graft.operators.Sketch.exactQuantiles(vals, col("x"),
      Seq(0.5, 0.9), bins = 64)
    val eqPlan = eq.queryExecution.executedPlan.toString
    assert("windowspecdefinition\\(__b#\\d+L, __x#\\d+ ASC".r
      .findFirstIn(eqPlan).isDefined,
      "candidate ranking must partition by bin")
  }

  test("centroid assignment is zero-shuffle (no Exchange in the plan)") {
    val rng = new scala.util.Random(3)
    val df = (0 until 100).map { i =>
      (i.toLong, Seq.fill(8)(rng.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val cents = (0 until 4).map(c => (c, Seq.fill(8)(rng.nextDouble() - 0.5)))
    val assigned = Similarity.assignToCentroids(df, "embedding", cents)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // every row got a valid centroid
    assert(assigned.filter($"cid".isNull || $"cid" < 0 || $"cid" >= 4).count() === 0)
  }

  test("minhashVerifiedPairs equals the exact jaccard pair set") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0 until 40).map { i =>
      val text = if (i % 10 == 3) base + s" tail$i" else s"unique doc $i " + ("w" + i + " ") * 20
      (i.toLong, text)
    }.toDF("id", "text")
    val exact = graft.operators.Dedup.jaccardPairs(docs, "id", "text", 3, 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = graft.operators.Dedup.minhashVerifiedPairs(docs, "id", "text",
      shingleN = 3, k = 32, rowsPerBand = 2, threshold = 0.6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty)
    assert(lsh === exact)
    // fullRecall=true must equal the exact set STRUCTURALLY (prefix
    // union), independent of banding luck
    val full = graft.operators.Dedup.minhashVerifiedPairs(docs, "id", "text",
      shingleN = 3, k = 32, rowsPerBand = 2, threshold = 0.6, fullRecall = true)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(full === exact)
  }

  test("simhashPairs rejects maxHamming outside the band guarantee") {
    val docs = Seq((1L, "a b c")).toDF("id", "text")
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.simhashPairs(docs, "id", "text", maxHamming = 32)
    }
  }

  test("IVF recall vs brute force is high with generous nprobe") {
    val rng = new scala.util.Random(11)
    val df = (0 until 300).map { i =>
      (i.toLong, Seq.fill(8)(rng.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 5)
    val bf = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", "vec_id", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(df, queries, "vec_id", "embedding", "vec_id", 5,
      nCentroids = 6, nprobe = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = bf.intersect(ivf).size.toDouble / bf.size
    assert(recall >= 0.8, s"recall $recall")
  }

  test("trained-IVF at full probe equals brute force; pruned probe " +
    "stays within the probed lists") {
    val rng = new scala.util.Random(13)
    val df = (0 until 300).map { i =>
      (i.toLong, Seq.fill(8)(rng.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 5)
    val model = Similarity.kmeansCentroids(df, "vec_id", "embedding",
      k = 6, iters = 2)
    // nprobe = k: routing prunes nothing, so the trained-IVF search
    // must reproduce the brute-force ranking exactly
    val full = Similarity.ivfTrainedTopK(df, queries, "vec_id",
        "embedding", "vec_id", k = 5, model, nprobe = 6)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    val bf = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding",
        "vec_id", 5)
      .select("query_id", "rank", "neighbor_id", "cosine")
      .as[(Long, Int, Long, Double)].collect().toSet
    assert(full === bf)
    // pruned probe: every returned neighbor must live in one of the
    // query's nprobe nearest trained lists (the IVF contract) — probe
    // ranking replayed driver-side with the same integer-unit distance
    val lists = Similarity.kmeansAssignWith(df, "vec_id", "embedding",
        model)
      .select("vec_id", "cid").as[(Long, Int)].collect().toMap
    val qvecs = queries.select("vec_id", "embedding")
      .as[(Long, Seq[Float])].collect().toMap
    def probes2(v: Seq[Float]): Set[Int] = {
      val u = v.map(x => math.floor(x.toDouble * 1e6).toLong)
      model.indices.map { c =>
        (u.zip(model(c)).map { case (a, b) =>
          (a - b) * (a - b) }.sum, c)
      }.sorted.take(2).map(_._2).toSet
    }
    val pruned = Similarity.ivfTrainedTopK(df, queries, "vec_id",
        "embedding", "vec_id", k = 5, model, nprobe = 2)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(pruned.nonEmpty)
    pruned.foreach { case (q, nb) =>
      assert(probes2(qvecs(q)).contains(lists(nb)),
        s"neighbor $nb of query $q outside the probed lists")
    }
  }

  test("every ANN entry point keeps its per-query limit: the executed " +
    "plan has a WindowGroupLimit below the top-k window") {
    // Spark's InferWindowGroupLimit turns row_number + rank <= k into a
    // partial per-partition limit before the shuffle; a tail shape it
    // no longer recognizes would ship every candidate to the window
    val rng = new scala.util.Random(21)
    val corpus = (0 until 120).map { i =>
      (i.toLong, Seq.fill(8)(rng.nextFloat() * 2 - 1), i % 3)
    }.toDF("vec_id", "embedding", "label")
    val queries = corpus.filter($"vec_id" < 3)
    val (id, v, k) = ("vec_id", "embedding", 3)
    val cent = Similarity.kmeansCentroids(corpus, id, v, k = 4, iters = 1)
    val cb = Similarity.pqTrainedCodebook(corpus, id, v, m = 4, ksub = 8,
      iters = 1)
    val entries: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "bruteForceTopK" -> (() =>
        Similarity.bruteForceTopK(corpus, queries, id, v, id, k)),
      "bruteForceTopKL2" -> (() =>
        Similarity.bruteForceTopKL2(corpus, queries, id, v, id, k)),
      "hardNegatives" -> (() =>
        Similarity.hardNegatives(corpus, queries, id, v, "label", id, k)),
      "sq8TopK" -> (() => Similarity.sq8TopK(corpus, queries, id, v, id, k)),
      "sq8RerankTopK" -> (() =>
        Similarity.sq8RerankTopK(corpus, queries, id, v, id, k, shortlist = 6)),
      "ivfTrainedTopK" -> (() =>
        Similarity.ivfTrainedTopK(corpus, queries, id, v, id, k, cent, 2)),
      "ivfTopK" -> (() => Similarity.ivfTopK(corpus, queries, id, v, id, k,
        nCentroids = 4, nprobe = 2, iters = 1)),
      "lshTopK" -> (() =>
        Similarity.lshTopK(corpus, queries, id, v, id, k, bits = 2)),
      "lshTopKMultiProbe" -> (() =>
        Similarity.lshTopKMultiProbe(corpus, queries, id, v, id, k, bits = 2)),
      "pqTopK" -> (() =>
        Similarity.pqTopK(corpus, queries, id, v, id, k, m = 4, ksub = 8)),
      "pqTrainedTopK" -> (() => Similarity.pqTrainedTopK(corpus, queries,
        id, v, id, k, m = 4, ksub = 8, iters = 1)),
      "ivfPqTopK" -> (() => Similarity.ivfPqTopK(corpus, queries, id, v, id,
        k, nCentroids = 4, nprobe = 2, m = 4, ksub = 8)),
      "ivfPqTrainedTopK" -> (() => Similarity.ivfPqTrainedTopK(corpus,
        queries, id, v, id, k, coarseK = 4, nprobe = 2, m = 4, ksub = 8,
        iters = 1)),
      "ivfPqSearchWith" -> (() => Similarity.ivfPqSearchWith(corpus, queries,
        id, v, id, k, cent, cb, nprobe = 2, m = 4)))
    assert(entries.map(_._1).distinct.size === 14)
    entries.foreach { case (name, build) =>
      val df = build()
      assert(df.collect().nonEmpty, s"$name returned no rows")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$name plans its top-k without a WindowGroupLimit:\n$plan")
    }
  }
}

case class Ev(user: Long, v: Double)

/** issorted, interval joins, and the typed Dataset idiom. */
class MiscOpsSpec extends SparkSpec {
  import spark.implicits._
  import graft.operators.{RangeJoin, Rolling}

  test("issorted detects sorted and unsorted frames") {
    val sorted = spark.range(1000).toDF("v").orderBy("v")
    assert(Rolling.issorted(sorted.select($"v".cast("double")), "v"))
    val unsorted = Seq(3.0, 1.0, 2.0).toDF("v").coalesce(1)
    assert(!Rolling.issorted(unsorted, "v"))
  }

  test("bucketized interval join equals direct range filter") {
    val points = Seq((1L, 15L), (2L, 25L), (3L, 99L)).toDF("pid", "t")
    val intervals = Seq((10L, 20L, "a"), (20L, 30L, "b")).toDF("s", "e", "tag")
    val got = RangeJoin.bucketizedIntervalJoin(points, intervals, "t", "s", "e", 8L)
      .select("pid", "tag").as[(Long, String)].collect().toSet
    val want = points.crossJoin(intervals)
      .filter($"t" >= $"s" && $"t" <= $"e")
      .select("pid", "tag").as[(Long, String)].collect().toSet
    assert(got === want && want === Set((1L, "a"), (2L, "b")))
  }

  test("TPC-H Q3 headliner: filters pushed to scans, dimension broadcast") {
    val df = SparkEntry.queries("q86_tpch_q3")(spark, "/root/testdata/sf0.001")
    df.collect() // let AQE finalize the plan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), "filters must reach the scans")
    assert(plan.toLowerCase.contains("broadcast"),
      "customer side must broadcast")
  }

  test("TimeFns conversions are pure projections (no Exchange before sort)") {
    val ev = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .withColumn("utc", timestamp_micros(expr("ts div 1000")))
    val proj = ev.select(
      graft.functions.TimeFns.astimezone(col("utc"), "America/New_York"),
      graft.functions.TimeFns.toIso(col("utc")),
      graft.functions.TimeFns.tzOffsetMinutes(col("utc"), "Europe/London"))
    val plan = proj.queryExecution.executedPlan.toString
    // the ONLY allowed exchange is the load-boundary parallelism floor
    // (Tables.table REPARTITION_BY_NUM, r16); the conversions must add
    // none of their own
    val nonFloor = plan.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("REPARTITION_BY_NUM"))
      .toSeq
    assert(nonFloor.isEmpty, plan)
    assert(proj.count() === 1000)
  }

  test("typed Dataset pipeline (case-class Encoder idiom)") {
    val ds = Seq(Ev(1, 2.0), Ev(1, 4.0), Ev(2, 1.0)).toDS()
    val out = ds.filter(_.v > 1.5).groupByKey(_.user)
      .mapValues(_.v).reduceGroups(_ + _)
      .collect().toMap
    assert(out === Map(1L -> 6.0))
  }

  test("rollupAgg computes every grouping set in ONE shuffle (single Expand)") {
    val df = (1 to 200).map(i => (s"a${i % 3}", s"b${i % 5}", i.toDouble))
      .toDF("a", "b", "v")
    val plan = graft.operators.GroupOps.rollupAgg(df, Seq("a", "b"),
      "sv" -> sum(col("v"))).queryExecution.executedPlan.toString
    assert(plan.split("Expand").length - 1 === 1, plan)
    // partial + final aggregate around exactly one exchange
    assert(plan.split("Exchange hashpartitioning").length - 1 === 1, plan)
  }

  test("mixSample broadcasts the budget table (no shuffle of weights)") {
    val docs = (1L to 500L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    val w = (0 until 4).map(i => s"src$i" -> 0.25).toMap
    val plan = graft.operators.Curate.mixSample(docs, "doc_id", "source", w, 40)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"), plan)
  }

  test("multi-probe LSH recall dominates single-probe vs brute force") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    def hits(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = hits(Similarity.bruteForceTopK(emb, queries, "vec_id",
      "embedding", "vec_id", 5))
    val single = hits(Similarity.lshTopK(emb, queries, "vec_id",
      "embedding", "vec_id", 5, bits = 6))
    val multi = hits(Similarity.lshTopKMultiProbe(emb, queries, "vec_id",
      "embedding", "vec_id", 5, bits = 6))
    val rs = (single intersect brute).size.toDouble / brute.size
    val rm = (multi intersect brute).size.toDouble / brute.size
    assert(rm >= rs, s"multi-probe recall $rm < single-probe $rs")
    assert(multi.size >= single.size) // probes only ADD candidates
  }

  test("SQ8 ANN: half-step reconstruction bound, exact-dup top-1, corpus never shuffles") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    // reconstruction error ≤ (mx−mn)/510 per dimension (half a code step)
    val dims = emb.select(posexplode($"embedding").as(Seq("i", "v")))
      .groupBy($"i")
      .agg(min($"v".cast("double")).as("mn"), max($"v".cast("double")).as("mx"))
      .as[(Int, Double, Double)].collect()
    val step = dims.map { case (_, mn, mx) => (mx - mn) / 255.0 }.max
    assert(step > 0)
    // exact duplicate vectors quantize identically → the known dup pair
    // must rank each other top-1, same as brute force
    val brute = Similarity.bruteForceTopK(emb, emb.filter($"vec_id" < 3),
      "vec_id", "embedding", "vec_id", 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val sq8df = Similarity.sq8TopK(emb, emb.filter($"vec_id" < 3),
      "vec_id", "embedding", "vec_id", 5)
    val sq8Top1 = sq8df.filter($"rank" === 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    // top-1 agreement on all 3 queries (the sf0.001 corpus has a planted
    // exact duplicate; SQ8's grid error cannot split an exact match)
    assert(sq8Top1 === brute, s"sq8=$sq8Top1 brute=$brute")
    // plan: stats + queries broadcast; the only Exchange feeding the
    // top-k window is the (nQueries × k)-bounded ranked stream — the
    // corpus side reaches the window via broadcast joins only
    val plan = sq8df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"), plan)
  }

  test("cosine LSH default geometry is NOT quasi-all-pairs: candidate " +
    "count sits orders of magnitude under n^2/8 on a random corpus") {
    // VERDICT r12 #1: the old bits=8/bands=2 default (16 buckets/band)
    // made the band self-join yield ~n^2/8 candidate pairs — a soft
    // cartesian at corpus scale. At the 64-bit/4x16 default a random
    // pair collides with p ~ 4 * 2^-16, so 2000 random vectors (sf0.1
    // embeddings) must produce FAR fewer than n^2/8 = 500k candidates.
    val emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    val n = emb.count()
    val cand = Similarity.cosineBandCandidates(emb, "vec_id", "embedding")
      .count()
    val allPairsOver8 = n * n / 8
    // The bound pins BOTH failure modes seen to date: the 16-bucket
    // geometry (every pair a candidate = allPairsOver8 exactly) and
    // the affine-LCG plane lattice (consecutive planes anti-correlated
    // at −0.5 ⇒ alternating-bit mega-buckets; measured ~48k candidates
    // here and 92M at the 10× lane before the quadratic-mix weights).
    assert(cand < allPairsOver8 / 100,
      s"banding degenerated: $cand candidates vs n^2/8 = $allPairsOver8")
    // and recall on a scale-invariant plant is 1 at ANY geometry:
    // a x2-scaled twin shares the whole signature with its source
    val twins = QueryShared.plantTwins(emb, "vec_id", "embedding")
      .filter(col("vec_id") >= 100000L && col("vec_id") < 200000L)
    val planted = twins.count()
    val caught = Similarity.cosineBandCandidates(
        emb.select(col("vec_id"), col("embedding")).unionByName(twins),
        "vec_id", "embedding")
      .filter(col("id_b") === col("id_a") + 100000L).count()
    assert(planted > 0 && caught === planted,
      s"scaled-twin recall must be 1: $caught of $planted")
  }

  test("editDistancePairs plans with no cartesian/nested-loop join") {
    val docs = (1L to 50L).map(i => (i, s"document body number $i with text"))
      .toDF("doc_id", "text")
    val plan = graft.operators.Dedup.editDistancePairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("bday-shift query: calendar joins all broadcast, fact side never shuffles pre-sort") {
    val df = SparkEntry.queries("q145_bday_shift")(spark, "/root/testdata/sf0.001")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // every calendar join must be a broadcast (hash or 1-row NLJ) —
    // a shuffled join against an 11k-row dimension would be wrong at
    // any scale; the only Exchange allowed is the final orderBy sort
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("Q21/Q22 headliners: Q21 single lineitem scan, Q22 anti join " +
    "is hash or sort-merge, never NLJ") {
    // Q21 is the single-scan rewrite: one per-(order,supplier)
    // aggregate then one per-order rollup — the EXISTS/NOT-EXISTS
    // semi+anti formulation scanned lineitem⋈orders three times
    val q21 = SparkEntry.queries("q146_tpch_q21")(spark, "/root/testdata/sf0.001")
    q21.collect() // finalize AQE
    // AQE's toString prints Final AND Initial sections — count scans
    // in the final plan only
    val p21 = q21.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(!p21.contains("LeftSemi") && !p21.contains("LeftAnti"), p21)
    assert(p21.split("\n").count(l =>
      l.contains("FileScan") && l.contains("lineitem")) <= 1,
      s"lineitem scanned more than once:\n$p21")
    assert(p21.contains("BroadcastHashJoin"), p21) // supplier dim
    assert(!p21.contains("CartesianProduct") &&
      !p21.contains("BroadcastNestedLoopJoin"), p21)
    val q22 = SparkEntry.queries("q147_tpch_q22")(spark, "/root/testdata/sf0.001")
    q22.collect()
    val p22 = q22.queryExecution.executedPlan.toString
    assert(p22.contains("LeftAnti"), p22)
    // every anti join line must be a hash or sort-merge join — a
    // nested-loop anti join is the plan that dies at 100 TB (the 1-row
    // broadcast average in Q22 is a cross join, which is fine)
    for (line <- p22.split("\n")
         if line.contains("LeftAnti") || line.contains("LeftSemi"))
      assert(line.contains("HashJoin") || line.contains("SortMergeJoin"), line)
  }

  test("Q17/Q18/Q20 headliners: decorrelated aggregates, no NLJ, dims broadcast") {
    // Q17: the per-part average must be a pre-join HashAggregate (the
    // decorrelated shape), the brand dim a broadcast, and nothing NLJ
    val q17 = SparkEntry.queries("q153_tpch_q17")(spark, "/root/testdata/sf0.001")
    q17.collect()
    val p17 = q17.queryExecution.executedPlan.toString
    assert(p17.contains("BroadcastHashJoin"), p17)
    assert(p17.contains("HashAggregate"), p17)
    assert(!p17.contains("CartesianProduct") &&
      !p17.contains("BroadcastNestedLoopJoin"), p17)
    // Q18: the HAVING aggregate must sit BELOW the orders join (lineitem
    // reduces to qualifying orderkeys before any enrichment join)
    val q18 = SparkEntry.queries("q154_tpch_q18")(spark, "/root/testdata/sf0.001")
    q18.collect()
    val p18 = q18.queryExecution.executedPlan.toString
    assert(p18.contains("HashAggregate"), p18)
    assert(p18.contains("TakeOrderedAndProject"), p18)
    assert(!p18.contains("CartesianProduct") &&
      !p18.contains("BroadcastNestedLoopJoin"), p18)
    // Q20: both semi-joins must be hash/sort-merge — never nested-loop
    val q20 = SparkEntry.queries("q155_tpch_q20")(spark, "/root/testdata/sf0.001")
    q20.collect()
    val p20 = q20.queryExecution.executedPlan.toString
    assert(p20.contains("LeftSemi"), p20)
    for (line <- p20.split("\n") if line.contains("LeftSemi"))
      assert(line.contains("HashJoin") || line.contains("SortMergeJoin"), line)
    assert(!p20.contains("CartesianProduct") &&
      !p20.contains("BroadcastNestedLoopJoin"), p20)
    // Q2: the argmin must be an aggregate (min(struct)), NEVER a window
    // over the fact side, and every dim join a broadcast
    val q2 = SparkEntry.queries("q156_tpch_q2")(spark, "/root/testdata/sf0.001")
    q2.collect()
    val p2 = q2.queryExecution.executedPlan.toString
    assert(p2.contains("HashAggregate"), p2)
    assert(!p2.contains("Window"), p2)
    assert(!p2.contains("CartesianProduct") &&
      !p2.contains("BroadcastNestedLoopJoin"), p2)
  }

  test("round-6 TPC-H batch (Q4,Q7-Q9,Q11-Q16,Q19): no cartesian, no fact NLJ") {
    // Generic 100-TB plan audit over the whole q158-q168 batch: a
    // CartesianProduct anywhere is fatal; a BroadcastNestedLoopJoin is
    // tolerated ONLY for q162's one-row scalar-threshold broadcast
    // (Q22's established pattern) — on any fact-fact pair it is the
    // plan that dies at scale.
    val batch = Seq("q158_tpch_q4", "q159_tpch_q7", "q160_tpch_q8",
      "q161_tpch_q9", "q162_tpch_q11", "q163_tpch_q12", "q164_tpch_q13",
      "q165_tpch_q14", "q166_tpch_q15", "q167_tpch_q16", "q168_tpch_q19")
    for (name <- batch) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      df.collect() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name: $plan")
      if (name != "q162_tpch_q11")
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name: $plan")
      assert(plan.contains("PushedFilters: [") || !plan.contains("Scan parquet"),
        s"$name: filters must reach the scans\n$plan")
    }
    // Q4's EXISTS must be a semi-join keyed on orderkey (hash or SMJ,
    // never NLJ) with the +60-day date predicate inside the condition
    val q4 = SparkEntry.queries("q158_tpch_q4")(spark, "/root/testdata/sf0.001")
    q4.collect()
    val p4 = q4.queryExecution.executedPlan.toString
    assert(p4.contains("LeftSemi"), p4)
    for (line <- p4.split("\n") if line.contains("LeftSemi"))
      assert(line.contains("HashJoin") || line.contains("SortMergeJoin"), line)
    // Q15's top-revenue supplier must come from a max(struct) aggregate
    // over the per-supplier aggregate, never a fact-side window
    val q15 = SparkEntry.queries("q166_tpch_q15")(spark, "/root/testdata/sf0.001")
    q15.collect()
    val p15 = q15.queryExecution.executedPlan.toString
    assert(!p15.contains("Window"), p15)
  }

  test("grouped head: the full-data window is salted, not per-group-funneled") {
    import org.apache.spark.sql.functions.col
    val li = graft.Tables.table(spark, "/root/testdata/sf0.001", "lineitem")
    val out = graft.operators.GroupOps.gbHead(li, Seq("l_returnflag"), 2,
      Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey")))
    val plan = out.queryExecution.executedPlan.toString
    // the exchange feeding the big sort must partition on the salt too —
    // 3 returnflag groups would otherwise mean 3 reducers sorting
    // everything at any scale
    assert(plan.contains("__gb_salt"), plan)
    assert(out.count() === 6)
  }

  test("round-7 ops: chunk/redact are map-only; mixing budgets broadcast; " +
    "containment has no cartesian") {
    import org.apache.spark.sql.functions.col
    val docs = (1L to 200L).map(i => (i, ("w" + i + " ") * 30, s"s${i % 5}"))
      .toDF("doc_id", "text", "source")
    // chunking and PII redaction must be pure scan-level projections
    val pChunk = graft.operators.Curate.chunkDocs(docs, "doc_id", "text",
      50, 10).queryExecution.executedPlan.toString
    assert(!pChunk.contains("Exchange"), pChunk)
    val pPii = docs.select(
      graft.functions.TextFns.redactPii(col("text")))
      .queryExecution.executedPlan.toString
    assert(!pPii.contains("Exchange"), pPii)
    // temperature mixing: the budget table joins as a broadcast
    val pTemp = graft.operators.Curate.temperatureSample(docs, "doc_id",
      "source", 0.5, 0.3).queryExecution.executedPlan.toString
    assert(pTemp.contains("BroadcastHashJoin") ||
      pTemp.contains("BroadcastExchange"), pTemp)
    // containment candidates come from a shingle equi-join, never NLJ
    val pCont = graft.operators.Dedup.containmentPairs(docs, "doc_id",
      "text", 3, 0.8).queryExecution.executedPlan.toString
    assert(!pCont.contains("CartesianProduct"), pCont)
    assert(!pCont.contains("BroadcastNestedLoopJoin"), pCont)
    // SQ8 re-rank: shortlist and queries broadcast back for the exact
    // fetch — the corpus side must not hash-shuffle for those joins
    val emb = (0L until 100L).map { i =>
      (i, Seq.fill(8)((i % 13).toFloat / 13f))
    }.toDF("vec_id", "embedding")
    val pRr = graft.operators.Similarity.sq8RerankTopK(emb,
      emb.filter(col("vec_id") < 2), "vec_id", "embedding", "vec_id", 3,
      shortlist = 10).queryExecution.executedPlan.toString
    assert(pRr.contains("BroadcastHashJoin"), pRr)
  }

  test("retrieval/sketch plans: BM25 top-k is TakeOrdered with the term " +
    "filter at the scan; KMV rank is salted") {
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001",
      "documents")
    val bm = graft.functions.TextFns.bm25TopK(docs, "doc_id", "text",
      Seq("spark", "merge"), 10)
    val pBm = bm.queryExecution.executedPlan.toString
    // no global sort: the final k survivors come from per-partition
    // partial top-k
    assert(pBm.contains("TakeOrderedAndProject"), pBm)
    // the term filter runs before the tf aggregate, not after a full
    // (doc, term) aggregation — the stream is bounded by matching docs
    assert(pBm.contains("spark") && pBm.contains("Generate"), pBm)
    val kmv = graft.operators.Sketch.kmvDistinct(
      docs.select(col("source"), col("doc_id")), Seq("source"),
      col("doc_id"), 8)
    val pK = kmv.queryExecution.executedPlan.toString
    assert(pK.contains("__salt"), pK) // two-level selection engaged
  }

  test("CM/scorer/span plans: sketch table and weights broadcast, " +
    "no NLJ in the span pipeline") {
    import org.apache.spark.sql.functions.{col, explode}
    val docs = graft.Tables.table(spark, "/root/testdata/sf0.001",
      "documents")
    val toks = docs.select(col("doc_id"),
      explode(graft.functions.TextFns.tokens(col("text"))).as("tok"))
    val cm = graft.operators.Sketch.countMinTopK(toks, col("tok"),
      4, 1024, 10)
    cm.collect() // finalize AQE
    val pCm = cm.queryExecution.executedPlan.toString
    // the ≤ d·w-row CM table must broadcast onto the probe rows, and
    // the exact top-k must go through the salted two-level rank
    assert(pCm.contains("BroadcastHashJoin"), pCm)
    assert(pCm.contains("__salt"), pCm)
    val sc = graft.operators.Curate.hashedLinearScore(docs, "doc_id",
      "text", 4096, Seq("source"))
    sc.collect()
    val pSc = sc.queryExecution.executedPlan.toString
    // weights join is the broadcast — the token stream is never
    // shuffled on a token/bucket key
    assert(pSc.contains("BroadcastHashJoin"), pSc)
    assert(!pSc.contains("SortMergeJoin") &&
      !pSc.contains("ShuffledHashJoin"), pSc)
    val rm = graft.operators.Dedup.removeDupSpans(docs, "doc_id",
      "text", 8)
    rm.collect()
    val pRm = rm.queryExecution.executedPlan.toString
    assert(!pRm.contains("CartesianProduct") &&
      !pRm.contains("BroadcastNestedLoopJoin"), pRm)
    graft.operators.Dedup.clearDedupCaches()
  }

  test("drift metrics share one persisted counts frame; shard " +
    "publication is one shuffle") {
    import graft.operators.Drift
    val df = (0 until 400).map(i =>
      (s"c${i % 7}", if (i % 2 == 0) "A" else "B")).toDF("cat", "src")
    val m = Drift.categoricalDrift(df, $"cat", $"src", "A", "B")
    m.collect()
    val plan = m.queryExecution.executedPlan.toString
    // both the totals branch and the metric branch must read the
    // registry-persisted counts frame, not recompute the corpus scan
    assert(plan.split("InMemoryTableScan").length - 1 >= 2, plan)
    assert(!plan.contains("CartesianProduct"), plan)
    val sh = Drift.publishShards((1L to 300L).toDF("id"), "id", 4, 1L)
    val pSh = sh.queryExecution.executedPlan.toString
    // exactly the per-shard window repartition, nothing else
    assert(pSh.split("Exchange hashpartitioning").length - 1 === 1, pSh)
    graft.operators.Dedup.clearDedupCaches()
  }

  test("BPE round plan is vocab-sized: merge application is a " +
    "zero-shuffle projection chain") {
    import graft.functions.Bpe
    val docs = Seq.fill(50)("the quick brown fox the lazy dog").toDF("text")
    val seg = Bpe.bpeSegmentCounts(docs, "text",
      Seq(("t", "h"), ("th", "e")))
    seg.collect()
    // after AQE finalization toString prints Final AND Initial plans —
    // count exchanges in the final section only
    val plan = seg.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // word-frequency aggregate + final token aggregate: exactly two
    // exchanges, and the replace chain adds NO shuffle between them
    assert(plan.split("Exchange hashpartitioning").length - 1 === 2, plan)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("SortMergeJoin"), plan)
  }
}
