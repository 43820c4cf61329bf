package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, GroupOps, Rolling, Similarity}
import graft.functions.Binning
import graft.syntax._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  test("rollingSumChunked equals the plain-window rolling sum across " +
    "chunk geometries, sparse chunks, nulls, and group boundaries") {
    val rows = Seq(
      // key 1: rows straddling chunk boundaries (width 10: chunks 0,0,1,1,3)
      (1L, 1L, 1.0), (1L, 5L, 2.0), (1L, 11L, 4.0), (1L, 19L, 8.0),
      (1L, 35L, 16.0), // chunk 2 EMPTY — carry must skip the gap
      // key 2: single row
      (2L, 3L, 5.0),
      // key 3: one fat chunk
      (3L, 1L, 1.0), (3L, 2L, 1.0), (3L, 3L, 1.0), (3L, 4L, 1.0),
      // key 4: gappy single-row chunks (width 10: chunks 0,3,7,9,12) —
      // with n = 4 the bounded n−1-tails carry must assemble the frame
      // from THREE separate prior tails rows, none adjacent (VERDICT
      // r15 sparse-chunk case for the rowsBetween(-(n−1), -1) bound)
      (4L, 2L, 3.0), (4L, 31L, 7.0), (4L, 75L, 11.0), (4L, 93L, 13.0),
      (4L, 120L, 17.0)
    )
    val df = rows.toDF("k", "t", "v")
      // planted null folds as 0 under the nansum contract
      .withColumn("v", when(col("t") === 19L, lit(null)).otherwise(col("v")))
    val twins: Seq[(String, (org.apache.spark.sql.DataFrame, Int) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "sum" -> ((d, n) => Rolling.rollingSum(d, Seq("k"), Seq(col("t")), n, "v", "rs")),
      "mean" -> ((d, n) => Rolling.rollingMean(d, Seq("k"), Seq(col("t")), n, "v", "rs")),
      "min" -> ((d, n) => Rolling.rollingMin(d, Seq("k"), Seq(col("t")), n, "v", "rs")),
      "max" -> ((d, n) => Rolling.rollingMax(d, Seq("k"), Seq(col("t")), n, "v", "rs")))
    for (n <- Seq(1, 2, 3, 4); w <- Seq(1L, 10L, 1000L); (kind, twin) <- twins) {
      val got = Rolling.rollingAggChunked(df, "k", "t", "t", n, "v",
          "rs", w, kind)
        .orderBy("k", "t").select("rs").as[Double].collect().toSeq
      val want = twin(df.withColumn("v", coalesce(col("v"), lit(0.0))), n)
        .orderBy("k", "t").select("rs").as[Double].collect().toSeq
      assert(got === want, s"kind=$kind n=$n chunkWidth=$w: $got != $want")
    }
    // var/std combine through the (count, sum, sumsq) carry — equality
    // vs the plain window (Welford) holds up to FP association, so the
    // twin compare is tolerance-based; nulls (N < 2 frames) must match
    // EXACTLY (the warm-up contract is semantic, not numeric)
    val vTwins: Seq[(String, (org.apache.spark.sql.DataFrame, Int) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "var" -> ((d, n) => Rolling.rollingVar(d, Seq("k"), Seq(col("t")), n, "v", "rs")),
      "std" -> ((d, n) => Rolling.rollingStd(d, Seq("k"), Seq(col("t")), n, "v", "rs")),
      // quantile: the boundary-VALUES carry vs Spark's exact percentile
      "quantile" -> ((d, n) => Rolling.rollingQuantile(d, Seq("k"),
        Seq(col("t")), n, 0.5, "v", "rs")))
    for (n <- Seq(1, 2, 3, 4); w <- Seq(1L, 10L, 1000L); (kind, twin) <- vTwins) {
      val got = Rolling.rollingAggChunked(df, "k", "t", "t", n, "v",
          "rs", w, kind)
        .orderBy("k", "t").select("rs").as[Option[Double]].collect().toSeq
      val want = twin(df.withColumn("v", coalesce(col("v"), lit(0.0))), n)
        .orderBy("k", "t").select("rs").as[Option[Double]].collect().toSeq
      assert(got.length === want.length)
      got.zip(want).zipWithIndex.foreach {
        case ((Some(g), Some(e)), i) =>
          assert(math.abs(g - e) <= 1e-9 * math.max(1.0, math.abs(e)),
            s"kind=$kind n=$n w=$w row $i: $g != $e")
        case ((g, e), i) =>
          assert(g === e, s"kind=$kind n=$n w=$w row $i null-mask: $g != $e")
      }
    }
  }

  test("timewindowAggChunked equals the plain RANGE window across " +
    "dist × chunkWidth (incl. width < dist — the event stream decouples " +
    "them), RANGE-peer ties, nulls, and sparse chunks") {
    val rows = Seq(
      // key 1: tie at t=5 (RANGE peers must both see the full peer
      // group), a null at t=10, a gap past any dist, sparse far row
      (1L, 0L, 1.0), (1L, 5L, 2.0), (1L, 5L, 4.0), (1L, 10L, 8.0),
      (1L, 11L, 16.0), (1L, 30L, 32.0), (1L, 100L, 64.0),
      // key 2: single row
      (2L, 7L, 5.0),
      // key 3: dense regular tape straddling many width-3 chunks
      (3L, 0L, 1.0), (3L, 4L, 2.0), (3L, 8L, 4.0), (3L, 12L, 8.0),
      (3L, 16L, 16.0)
    )
    val df = rows.toDF("k", "t", "v")
      .withColumn("v", when(col("t") === 10L && col("k") === 1L, lit(null))
        .otherwise(col("v")))
    // null contract: values fold as coalesce(v, 0) — twin on coalesced
    val dfc = df.withColumn("v", coalesce(col("v"), lit(0.0)))
    for (dist <- Seq(0L, 4L, 10L, 50L); w <- Seq(1L, 3L, 10L, 1000L)) {
      val gotS = Rolling.timewindowAggChunked(df, "k", "t", dist, "v",
          "tw", w, "sum")
        .orderBy("k", "t").select("tw").as[Double].collect().toSeq
      val wantS = Rolling.timewindowAgg(dfc, Seq("k"), "t", dist, sum,
          "v", "tw")
        .orderBy("k", "t").select("tw").as[Double].collect().toSeq
      assert(gotS === wantS, s"sum dist=$dist w=$w")
      // count/mean twin on the RAW input: both sides count NON-NULL
      // values only (plain count(v)/avg(v) semantics), so they match
      // exactly, nulls included — a dist=0 frame on the planted null
      // row is 0-count/null-mean on BOTH sides
      val gotN = Rolling.timewindowAggChunked(df, "k", "t", dist, "v",
          "tw", w, "count")
        .orderBy("k", "t").select("tw").as[Long].collect().toSeq
      val wantN = Rolling.timewindowAgg(df, Seq("k"), "t", dist, count,
          "v", "tw")
        .orderBy("k", "t").select("tw").as[Long].collect().toSeq
      assert(gotN === wantN, s"count dist=$dist w=$w")
      val gotM = Rolling.timewindowAggChunked(df, "k", "t", dist, "v",
          "tw", w, "mean")
        .orderBy("k", "t").select("tw").as[Option[Double]].collect().toSeq
      val wantM = Rolling.timewindowAgg(df, Seq("k"), "t", dist, avg,
          "v", "tw")
        .orderBy("k", "t").select("tw").as[Option[Double]].collect().toSeq
      assert(gotM.length === wantM.length)
      gotM.zip(wantM).zipWithIndex.foreach {
        case ((Some(g), Some(e)), i) =>
          assert(math.abs(g - e) <= 1e-9 * math.max(1.0, math.abs(e)),
            s"mean dist=$dist w=$w row $i: $g != $e")
        case ((g, e), i) =>
          assert(g === e, s"mean dist=$dist w=$w row $i null-mask: $g != $e")
      }
    }
  }

  test("q274 plan: the timewindow cumsum window partitions by " +
    "(key, chunk) — a hot group cannot serialize through one task") {
    val df = SparkEntry.queries("q274_timewindow_chunked")(spark,
      "/root/testdata/sf0.001")
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("windowspecdefinition(user_id") &&
      plan.contains("__c"),
      s"chunked timewindow lost its (key, chunk) window partitioning:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("cumsumReset starts a new segment at each reset") {
    val df = Seq(
      (1L, 1L, 1.0, false), (1L, 2L, 2.0, false), (1L, 3L, 3.0, true),
      (1L, 4L, 4.0, false)
    ).toDF("k", "t", "v", "reset")
    val out = Rolling.cumsumReset(df, Seq("k"), Seq(col("t")), "v", col("reset"), "cs")
      .orderBy("t").select("cs").as[Double].collect().toSeq
    assert(out === Seq(1.0, 3.0, 3.0, 7.0))
  }

  test("sessionize: boundary strictly greater than gap; ids dense per key") {
    // gap = 10: delta == 10 stays in-session, 11 starts a new one;
    // second key gets its own 1-based sequence.
    val df = Seq(
      (1L, 0L), (1L, 10L), (1L, 21L), (1L, 31L), (1L, 43L),
      (2L, 100L)
    ).toDF("k", "t")
    val out = Rolling.sessionize(df, Seq("k"), Seq(col("t")), "t", 10L)
      .orderBy("k", "t").select("session_seq").as[Long].collect().toSeq
    assert(out === Seq(1L, 1L, 2L, 2L, 3L, 1L))
  }

  test("rolling fullWindowOnly nulls the warm-up rows") {
    val df = Seq((1L, 1L, 1.0), (1L, 2L, 2.0), (1L, 3L, 3.0)).toDF("k", "t", "v")
    val out = Rolling.rollingAgg(df, Seq("k"), Seq(col("t")), 2, sum, "v", "rs",
      fullWindowOnly = true)
      .orderBy("t").select("rs").as[Option[Double]].collect().toSeq
    assert(out === Seq(None, Some(3.0), Some(5.0)))
  }

  test("strict sum propagates nulls, nansum skips them") {
    val df = Seq[(String, java.lang.Double)](("a", 1.0), ("a", null), ("b", 2.0))
      .toDF("k", "v")
    val out = df.groupBy("k").agg(
      GroupOps.strictSum($"v").as("strict"), GroupOps.nansum($"v").as("nan"))
      .orderBy("k").as[(String, Option[Double], Option[Double])].collect().toSeq
    assert(out === Seq(("a", None, Some(1.0)), ("b", Some(2.0), Some(2.0))))
  }

  test("cut: riptable (lo,hi] bins, out-of-range → null, 1-based codes") {
    val df = Seq(0.5, 10.0, 10.5, 55.0, -1.0).toDF("x")
    val out = df.select(Binning.cut($"x", Seq(0.0, 10.0, 20.0, 50.0)).as("b"))
      .as[Option[Int]].collect().toSeq
    assert(out === Seq(Some(1), Some(1), Some(2), None, None))
  }

  test("hstack fills missing columns with null (invalid-fill)") {
    val a = Seq((1, "x")).toDF("id", "s")
    val b = Seq((2, 9.9)).toDF("id", "d")
    val out = a.hstack(b)
    assert(out.columns.toSeq === Seq("id", "s", "d"))
    assert(out.filter($"id" === 2 && $"s".isNull).count() === 1)
  }

  test("dropDuplicatesKeep none drops all members of dup groups") {
    val df = Seq((1, "a"), (1, "b"), (2, "c")).toDF("k", "v")
    val out = df.dropDuplicatesKeep(Seq("k"), "none", Seq("v"))
    assert(out.select("k").as[Int].collect().toSeq === Seq(2))
  }

  test("simhash of identical texts equal; near-identical texts near") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different words entirely unrelated content here now")
    ).toDF("id", "text")
    val sh = df.select($"id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(2L))
    val d13 = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    assert(d13 > 10)
  }

  test("simhashDf equals the Column-expression simhash") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today"),
      (3L, "sphinx of black quartz judge my vow right now")
    ).toDF("id", "text")
    val colVersion = df.select($"id", Dedup.simhash($"text").as("sh"))
      .as[(Long, Long)].collect().toMap
    val dfVersion = Dedup.simhashDf(df, "id", "text", "sh")
      .as[(Long, Long)].collect().toMap
    assert(colVersion === dfVersion)
  }

  test("rip_simhash (codegen) equals the interpreted HOF simhash") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .limit(300)
    val diff = docs.select(
        Dedup.simhash($"text").as("native"),
        Dedup.simhashHof($"text").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff === 0)
    // null text propagates null through both forms
    val nulls = Seq((1L, null.asInstanceOf[String]), (2L, "a b c"))
      .toDF("id", "text")
      .select($"id", Dedup.simhash($"text").as("n"),
        Dedup.simhashHof($"text").as("h"))
      .orderBy($"id").collect()
    assert(nulls(0).isNullAt(1) && nulls(0).isNullAt(2))
    assert(nulls(1).getLong(1) === nulls(1).getLong(2))
  }

  test("jaccardPairs finds the duplicated doc pair") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight")
    ).toDF("id", "text")
    val pairs = Dedup.jaccardPairs(df, "id", "text", shingleN = 2, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSeq
    assert(pairs === Seq((1L, 2L)))
  }

  test("minhash signature identical for identical docs") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("id", "text")
    val sigs = Dedup.minhashSignatures(df, "id", "text", 2, 8)
      .select("id", "sig").as[(Long, Seq[Long])].collect().toMap
    assert(sigs(1L) === sigs(2L))
  }

  test("rip_crc32c matches the CRC-32C check vector") {
    // the standard check value: crc32c("123456789") = 0xE3069283
    val out = Seq("123456789").toDF("s")
      .selectExpr("rip_crc32c(s) AS c").as[Long].head()
    assert(out === 0xE3069283L)
    // differs from Spark's ISO crc32 on the same input
    val iso = Seq("123456789").toDF("s")
      .select(crc32($"s".cast("binary"))).as[Long].head()
    assert(iso !== out)
  }

  test("rip_dot (codegen) equals the interpreted HOF dot bit-for-bit") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings").limit(60)
    val pairs = emb.crossJoin(
      emb.select($"embedding".as("e2")).limit(15))
    val diff = pairs.select(
        Similarity.dot($"embedding", $"e2").as("native"),
        Similarity.dotHof($"embedding", $"e2").as("hof"))
      .filter($"native" =!= $"hof").count()
    assert(diff === 0)
    // zip_with-compatible null semantics: length mismatch / null element
    val odd = Seq(
      (Seq(1.0f, 2.0f), Seq(3.0f)),
      (Seq(1.0f, 2.0f), Seq(3.0f, 4.0f))
    ).toDF("a", "b")
    val out = odd.select(Similarity.dot($"a", $"b").as("d"))
      .collect().map(r => Option(r.get(0))).toSeq
    assert(out === Seq(None, Some(11.0)))
  }

  test("rip_lsh_sig (codegen) equals the interpreted per-plane HOF signature") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings").limit(200)
    for (bits <- Seq(1, 8, 16)) {
      val diff = emb.select(
          Similarity.lshSignature($"embedding", bits).as("native"),
          Similarity.lshSignatureHof($"embedding", bits).as("hof"))
        .filter($"native" =!= $"hof").count()
      assert(diff === 0, s"bits=$bits")
    }
    // shared quirk both formulations must keep: null vector and null
    // element both collapse to signature 0 (per-plane when(null > 0)
    // falls through to otherwise(0))
    val odd = Seq(
      (1L, null.asInstanceOf[Seq[java.lang.Float]]),
      (2L, Seq[java.lang.Float](1.0f, null, 3.0f)),
      (3L, Seq[java.lang.Float](1.0f, 2.0f, 3.0f))
    ).toDF("id", "v")
    val out = odd.select($"id",
        Similarity.lshSignature($"v", 8).as("n"),
        Similarity.lshSignatureHof($"v", 8).as("h"))
      .orderBy($"id").collect()
    for (r <- out) assert(r.getLong(1) === r.getLong(2), s"id=${r.getLong(0)}")
    assert(out(0).getLong(1) === 0L && out(1).getLong(1) === 0L)
  }

  test("cosine similarity of identical vectors is 1") {
    val df = Seq((1L, Seq(1.0f, 2.0f, 3.0f)), (2L, Seq(1.0f, 2.0f, 3.0f)),
      (3L, Seq(-3.0f, 1.0f, 0.5f))).toDF("id", "vec")
    val out = Similarity.bruteForceTopK(df, df.filter($"id" === 1L), "id", "vec", "id", 1)
    val top = out.select("neighbor_id", "cosine").as[(Long, Double)].collect().head
    assert(top._1 === 2L && math.abs(top._2 - 1.0) < 1e-6)
  }

  test("transform broadcasts group aggregates to rows") {
    val df = Seq(("a", 1.0), ("a", 3.0), ("b", 5.0)).toDF("k", "v")
    val out = GroupOps.transform(df, Seq("k"), "s" -> sum($"v"))
      .orderBy("k", "v").select("s").as[Double].collect().toSeq
    assert(out === Seq(4.0, 4.0, 5.0))
  }

  test("interp_extrap extends edge segments; single point clamps") {
    import graft.operators.Interp
    val points = Seq((1L, 10L, 1.0), (1L, 20L, 3.0), (2L, 5L, 7.0))
      .toDF("g", "x", "y")
    val queries = Seq((1L, 0L, 1), (1L, 15L, 2), (1L, 30L, 3), (2L, 100L, 4))
      .toDF("g", "x", "qid")
    val out = Interp.interpExtrap(queries, points, "x", Seq("g"), "y", "iv")
      .select("qid", "iv").as[(Int, Double)].collect().toMap
    assert(out(1) === -1.0) // left extrap: 1 + (0-10)*(3-1)/(20-10)
    assert(out(2) === 2.0)  // interior linear
    assert(out(3) === 5.0)  // right extrap: 3 + (30-20)*(3-1)/(20-10)
    assert(out(4) === 7.0)  // single-point group clamps
  }

  test("applyGroups emits arbitrary rows per group") {
    import graft.operators.GroupOps
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val df = Seq(("a", 1.0), ("a", 2.0), ("b", 9.0)).toDF("k", "v")
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("n", IntegerType)))
    val out = GroupOps.applyGroups(df, Seq("k"), schema) { (key, it) =>
      val n = it.size
      Iterator.tabulate(n)(_ => Row(key.getString(0), n))
    }.as[(String, Int)].collect().sorted.toSeq
    assert(out === Seq(("a", 2), ("a", 2), ("b", 1)))
  }

  test("rankdata averages ties; nanrankdata nulls invalids without shifting ranks") {
    import graft.operators.Rolling
    // group h: 0.0 and -0.0 tie, as do two NaNs (numpy equality)
    val df = Seq(("g", Some(10.0)), ("g", Some(20.0)), ("g", Some(20.0)),
      ("g", Some(30.0)), ("g", None), ("g", Some(Double.NaN)),
      ("h", Some(0.0)), ("h", Some(-0.0)), ("h", Some(Double.NaN)),
      ("h", Some(Double.NaN)))
      .toDF("k", "v")
    val rd = Rolling.rankdata(df, Seq("k"), "v", "r").filter($"k" === "g")
      .select("v", "r").collect()
      .map(r => Option(r.get(0)).map(_.toString).getOrElse("null") -> r.getDouble(1)).toMap
    assert(rd("10.0") === 1.0)
    assert(rd("20.0") === 2.5) // positions 2,3 averaged
    assert(rd("30.0") === 4.0)
    assert(rd("NaN") === 5.0)  // invalids rank last (bottleneck order)
    val h = Rolling.rankdata(df, Seq("k"), "v", "r").filter($"k" === "h")
      .select("v", "r").collect().map(r => r.getDouble(0).toString -> r.getDouble(1))
    assert(h.sortBy(_._1).toSeq ===
      Seq("-0.0" -> 1.5, "0.0" -> 1.5, "NaN" -> 3.5, "NaN" -> 3.5))
    val nrd = Rolling.nanrankdata(df, Seq("k"), "v", "r").filter($"k" === "g")
      .select("v", "r").collect()
      .map(r => Option(r.get(0)).map(_.toString).getOrElse("null") ->
        Option(r.get(1))).toMap
    assert(nrd("20.0") === Some(2.5))
    assert(nrd("NaN") === None)
    assert(nrd("null") === None)
  }

  test("fillForward limit stops propagation after N rows") {
    val df = Seq((1, Some(10.0)), (2, None), (3, None), (4, None), (5, Some(50.0)))
      .toDF("i", "v").withColumn("g", lit(1))
    val out = df.fillForward("v", Seq("g"), Seq("i"), limit = Some(2))
      .orderBy("i").select("v").collect().map(r => Option(r.get(0))).toSeq
    assert(out === Seq(Some(10.0), Some(10.0), Some(10.0), None, Some(50.0)))
  }

  test("cumprod multiplies in frame order per group") {
    import graft.operators.Rolling
    val df = Seq((1L, 1, 2.0), (1L, 2, 3.0), (1L, 3, 4.0), (2L, 1, 5.0))
      .toDF("g", "i", "v")
    val out = Rolling.cumprod(df, Seq("g"), Seq(col("i")), "v", "cp")
      .orderBy("g", "i").select("cp").as[Double].collect().toSeq
    assert(out === Seq(2.0, 6.0, 24.0, 5.0))
  }

  test("partition2 flags exactly the bottom-k; argpartition2 gives positions") {
    val df = (1 to 500).map(i => ((i * 7919) % 500 + 0.5, i.toLong))
      .toDF("v", "id")
    val flagged = syntax.partition2(df, "v", "id", 50, "bk")
    val got = flagged.filter($"bk").select("v").as[Double].collect().sorted
    val want = df.select("v").as[Double].collect().sorted.take(50)
    assert(got.toSeq === want.toSeq)
    // positions under the (v, id) order are 0..49 for the bottom 50
    val pos = syntax.argpartition2(df, "v", "id", 50, Seq($"v", $"id"))
      .select("position").as[Long].collect().sorted
    assert(pos.toSeq === (0L until 50L))
    // k larger than the frame: everything flags
    assert(syntax.partition2(df, "v", "id", 5000, "bk")
      .filter($"bk").count() === 500)
  }

  test("applyBatched matches the equivalent Column expression") {
    import graft.operators.Apply
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.DoubleType
    val df = (1 to 5000).map(i => (i.toLong, i * 1.5)).toDF("id", "v")
    val outSchema = df.schema.add("y", DoubleType)
    val got = Apply.applyBatched(df, outSchema, batchSize = 256)(
      _.map(r => Row(r.getLong(0), r.getDouble(1), r.getDouble(1) * 2.0 + 1.0)))
      .select("id", "y").as[(Long, Double)].collect().toMap
    val want = df.select($"id", ($"v" * 2.0 + 1.0).as("y"))
      .as[(Long, Double)].collect().toMap
    assert(got === want)
    // batch boundaries don't drop or duplicate rows at non-divisible sizes
    val odd = Apply.applyBatched(df, outSchema, batchSize = 999)(
      _.map(r => Row(r.getLong(0), r.getDouble(1), 0.0)))
    assert(odd.count() === 5000)
  }

  test("qcut routes to boundary binning above maxExactRows") {
    val df = (1 to 1000).map(i => (i.toDouble * 1.3, i)).toDF("v", "id")
    val routed = Binning.qcut(df, "v", "id", 4, "b", maxExactRows = 100)
      .select($"id", $"b".cast("int").as("b"))
    val bounds = Binning.qcutBoundaries(df, "v", 4, "b2")
      .select($"id", $"b2".cast("int").as("b2"))
    assert(routed.join(bounds, "id").filter($"b" =!= $"b2").count() === 0)
    // below the guard the exact ntile path still runs (equal-count bins)
    val exact = Binning.qcut(df, "v", "id", 4, "b")
      .groupBy($"b").count().select($"count").as[Long].collect()
    assert(exact.toSet === Set(250L))
  }

  test("concatColumns refuses fact-table-sized sides") {
    import graft.operators.Reshape
    val big = (1 to 100).map(i => (i.toLong, i)).toDF("x", "y")
    val small = Seq(1L).toDF("b")
    val e = intercept[IllegalArgumentException] {
      Reshape.concatColumns(big, small, Seq($"x"), Seq($"b"), maxRows = 10)
    }
    assert(e.getMessage.contains("positional"))
  }

  test("concatColumns zips positionally and null-fills the short side") {
    import graft.operators.Reshape
    val a = Seq("x", "y", "z").toDF("a")
    val b = Seq(10L).toDF("b")
    val out = Reshape.concatColumns(a, b, Seq($"a"), Seq($"b"))
      .as[(String, Option[Long])].collect().toSeq
    assert(out === Seq(("x", Some(10L)), ("y", None), ("z", None)))
  }

  test("searchsorted matches numpy insertion-index semantics both sides") {
    import graft.functions.Binning
    val bounds = Seq(1.0, 3.0, 3.0, 7.0, 9.0)   // duplicates allowed
    val vals = Seq(0.5, 1.0, 2.0, 3.0, 5.0, 7.0, 9.0, 10.0)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val out = df.select($"id",
        Binning.searchsorted($"v", bounds, "left").as("l"),
        Binning.searchsorted($"v", bounds, "right").as("r"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    vals.zipWithIndex.foreach { case (v, i) =>
      val left = bounds.count(_ < v).toLong    // np.searchsorted side='left'
      val right = bounds.count(_ <= v).toLong  // side='right'
      assert(out(i.toLong) === (left, right), s"v=$v")
    }
  }
}
