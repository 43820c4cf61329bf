package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curate, Dedup}

/** Round-10 pins: the classifier trainer's hoisted-gradient identity
  * (grad_b = gp_b − 4e6·gy_b must reproduce the naive per-iteration
  * residual formulation bit-for-bit), the trained-weight memo, and the
  * n = 0 path.
  */
class PipelineR10Spec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "alpha beta gamma alpha", "en"),
    (2L, "delta epsilon zeta", "fr"),
    (3L, "alpha alpha alpha beta", "en"),
    (4L, "eta theta iota kappa lambda", "de"),
    (5L, "beta gamma delta beta gamma", "en"),
    // null text: tokens(null) explodes to no rows (unlike "", which
    // tokenizes to one empty token) — a genuinely feature-less doc
    (6L, null.asInstanceOf[String], "en")
  ).toDF("doc_id", "text", "lang")

  test("snapshotDiff: added/removed/changed/unchanged accounting on a " +
    "hand fixture") {
    val prev = Seq((1L, "s0", "alpha beta"), (2L, "s0", "gamma delta"),
      (4L, "s1", "epsilon zeta")).toDF("doc_id", "source", "text")
    val next = Seq((2L, "s0", "gamma delta"), (3L, "s0", "new doc"),
      (4L, "s1", "epsilon zeta REVISED")).toDF("doc_id", "source", "text")
    val got = Dedup.snapshotDiff(prev, next, "doc_id", "source", "text")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got === Map(
      "s0" -> ((1L, 1L, 0L, 1L)),  // 3 added, 1 removed, 2 unchanged
      "s1" -> ((0L, 0L, 1L, 0L)))) // 4 changed
    // whitespace normalization: a run-of-spaces difference is NOT a
    // content change under the normalized fingerprint
    val next2 = Seq((2L, "s0", "gamma   delta")).toDF(
      "doc_id", "source", "text")
    val st = Dedup.snapshotDiff(prev.filter($"doc_id" === 2L), next2,
        "doc_id", "source", "text")
      .as[(String, Long, Long, Long, Long)].head()
    assert(st === (("s0", 0L, 0L, 0L, 1L)))
  }

  test("snapshotDiff: NULL text never reads as absence — presence is " +
    "carried by explicit markers, not fingerprint nullness") {
    // key 1: present both sides, old text NULL → CHANGED (not added)
    // key 2: present both sides, new text NULL → CHANGED (not removed)
    // key 3: NULL both sides → UNCHANGED (null-safe fingerprint equality)
    // key 4: NULL text only in old snapshot → REMOVED
    val prev = Seq((1L, "s0", null.asInstanceOf[String]),
      (2L, "s0", "gamma"), (3L, "s0", null.asInstanceOf[String]),
      (4L, "s0", null.asInstanceOf[String])).toDF("doc_id", "source", "text")
    val next = Seq((1L, "s0", "alpha"),
      (2L, "s0", null.asInstanceOf[String]),
      (3L, "s0", null.asInstanceOf[String])).toDF("doc_id", "source", "text")
    val got = Dedup.snapshotDiff(prev, next, "doc_id", "source", "text")
      .as[(String, Long, Long, Long, Long)].head()
    assert(got === (("s0", 0L, 1L, 2L, 1L)))
  }

  test("trainTextClassifier equals a driver-side exact replay of the " +
    "integer GD (hoisted label-gradient identity)") {
    val (bk, iters, lrn, lrd) = (16, 5, 1L, 4L)
    // collect the feature/label frames THROUGH the engine's own hash so
    // the replay differs only in the loop algebra, not the features
    val x = docs.select(col("doc_id"),
        explode(graft.functions.TextFns.tokens(col("text"))).as("t"))
      .select(col("doc_id"),
        pmod(Dedup.portableHash64(col("t")), lit(bk.toLong)).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)].collect()
    val y = docs.select(col("doc_id"),
        (col("lang") === "en").cast("int").cast("long"))
      .as[(Long, Long)].collect().toMap
    val n = y.size.toLong
    val U = 1000000L
    var w = Array.fill(bk)(0L)
    for (_ <- 1 to iters) {
      val z = x.groupBy(_._1).map { case (id, rs) =>
        id -> rs.map { case (_, b, c) => c * w(b.toInt) }.sum
      }
      val grad = new Array[Long](bk)
      for ((id, b, c) <- x) {
        val p = math.min(math.max(z(id) + 2 * U, 0L), 4 * U)
        grad(b.toInt) += c * (p - 4 * U * y(id))
      }
      w = Array.tabulate(bk)(b =>
        w(b) - Math.floorDiv(lrn * grad(b), 4L * n * lrd))
    }
    val expected = docs.select(col("doc_id")).as[Long].collect().map { id =>
      id -> x.filter(_._1 == id).map { case (_, b, c) => c * w(b.toInt) }.sum
    }.toMap
    val got = Curate.trainTextClassifier(docs, "doc_id", "text",
        col("lang") === "en", buckets = bk, iters = iters,
        lrNum = lrn, lrDen = lrd)
      .select(col("doc_id"), col("z_units"))
      .as[(Long, Long)].collect().toMap
    assert(got === expected)
    assert(got(6L) === 0L) // token-less doc scores exactly 0
  }

  test("trained-weight memo: a second identical call skips the GD loop " +
    "and returns the identical frame") {
    def run() = Curate.trainTextClassifier(docs, "doc_id", "text",
        col("lang") === "en", buckets = 16, iters = 5, lrDen = 4L)
      .select(col("doc_id"), col("z_units"), col("pred"))
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    // the scoring and the weight-vector forms share one memo entry
    def weights() = Curate.trainTextClassifierWeights(docs, "doc_id",
      "text", col("lang") === "en", buckets = 16, iters = 5, lrDen = 4L)
    val a = run()
    val w = weights()
    val b = run()
    assert(a === b)
    assert(weights() eq w, "second call must hit the weight memo")
  }

  test("kmeansAssign equals a driver-side exact replay of integer-unit " +
    "Lloyd, separates planted blobs, and is partition-invariant") {
    import graft.operators.Similarity
    // two tight blobs around (±0.4, ±0.4, ...) + slight per-row jitter
    val d = 6
    val vecs = (0 until 40).map { i =>
      val sign = if (i % 2 == 0) 0.4 else -0.4
      (i.toLong, (0 until d).map(j =>
        (sign + 0.001 * ((i * 7 + j) % 5)).toFloat))
    }
    val df = vecs.toDF("vec_id", "embedding")
    val (k, iters) = (2, 3)
    val got = Similarity.kmeansAssign(df, "vec_id", "embedding", k, iters)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // driver replay through the engine's own quantize + seed hash
    val units = df.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast("double") * lit(1e6)).cast("long")).as("u"),
        Dedup.portableHash64(col("vec_id").cast("string")).as("h"))
      .as[(Long, Seq[Long], Long)].collect()
    var cent = units.sortBy(r => (r._3, r._1)).take(k).map(_._2.toArray)
    def d2(u: Seq[Long], c: Array[Long]): Long =
      u.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum
    def assign(u: Seq[Long]): (Int, Long) = {
      val ds = cent.map(c => d2(u, c))
      val m = ds.min
      (ds.indexOf(m), m)
    }
    for (_ <- 1 to iters) {
      val byC = units.groupBy(r => assign(r._2)._1)
      cent = cent.indices.map(c => byC.get(c).fold(cent(c)) { rs =>
        Array.tabulate(d)(j =>
          Math.floorDiv(rs.map(_._2(j)).sum, rs.size.toLong))
      }).map(_.toArray).toArray
    }
    val want = units.map(r => r._1 -> assign(r._2)).toMap
    assert(got === want)
    // the blobs separate: even and odd ids land in two distinct clusters
    assert(got.filter(_._1 % 2 == 0).values.map(_._1).toSet.size === 1)
    assert(got.filter(_._1 % 2 == 1).values.map(_._1).toSet.size === 1)
    assert(got(0L)._1 !== got(1L)._1)
    // partition-invariance: the distributed argmin/means cannot depend
    // on layout (exact integer math has no summation-order freedom)
    val reparted = Similarity.kmeansAssign(df.repartition(7),
        "vec_id", "embedding", k, iters)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(reparted === got)
  }

  test("kmeansAssign: centroid memo reuses Lloyd work; empty input " +
    "yields an empty assignment frame") {
    import graft.operators.Similarity
    val df = (0 until 20).map(i =>
      (i.toLong, (0 until 4).map(j => (0.1 * ((i + j) % 7)).toFloat)))
      .toDF("vec_id", "embedding")
    def run() = Similarity.kmeansAssign(df, "vec_id", "embedding", 3, 2)
      .as[(Long, Int, Long)].collect().sortBy(_._1).toSeq
    val a = run()
    val b = run() // memo hit: identical assignments
    assert(a === b && a.nonEmpty)
    val empty = Similarity.kmeansAssign(df.filter(col("vec_id") < 0),
      "vec_id", "embedding", 3, 2)
    assert(empty.count() === 0L)
    assert(empty.columns.toSeq === Seq("vec_id", "cid", "dist2_units"))
  }

  test("pcK: component 1 equals pc1, deflated axes are near-orthogonal, " +
    "and a planted 2D structure is recovered") {
    import graft.operators.Similarity
    // rank-2 structure: dims 0-1 carry signal, the rest tiny jitter
    val vecs = (0 until 60).map { i =>
      val a = if (i % 2 == 0) 1.0 else -1.0
      val b = if (i % 3 == 0) 0.5 else -0.5
      (i.toLong, (0 until 8).map { j =>
        val base = if (j == 0) a else if (j == 1) b else 0.0
        (base + 0.0001 * ((i + j) % 3)).toFloat
      })
    }
    val df = vecs.toDF("vec_id", "embedding")
    val w1only = Similarity.pc1(df, "embedding")
    val ws = Similarity.pcK(df, "embedding", k = 2)
    assert(ws.head === w1only) // same rounded-cov recurrence
    val dot12 = ws.head.zip(ws(1)).map { case (a, b) => a * b }.sum
    assert(math.abs(dot12) < 1e-3, s"axes not orthogonal: $dot12")
    // the two axes live in the planted 2D signal plane
    assert(math.abs(ws.head(0)) + math.abs(ws.head(1)) > 0.9)
    assert(math.abs(ws(1)(0)) + math.abs(ws(1)(1)) > 0.9)
    assert(Similarity.pcK(df.filter(col("vec_id") < 0),
      "embedding", 2).isEmpty)
  }

  test("trainTextClassifier on an empty frame: no division by zero, " +
    "empty scored output") {
    val empty = docs.filter(col("doc_id") < 0)
    val out = Curate.trainTextClassifier(empty, "doc_id", "text",
      col("lang") === "en", buckets = 8, iters = 3)
    assert(out.count() === 0L)
  }
}
