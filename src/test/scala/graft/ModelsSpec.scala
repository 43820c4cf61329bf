package graft

import org.apache.spark.sql.functions._
import graft.operators.{Curate, Models, Similarity}

/** Cross-session model persistence (VERDICT r11 #2): artifacts written
  * by a BUILD session serve a FRESH session (spark.newSession — its own
  * session state, so the per-session memos cannot leak across) with
  * bit-identical results and WITHOUT retraining.
  */
class ModelsSpec extends SparkSpec {
  import spark.implicits._

  private def tmpStore(): String =
    java.nio.file.Files.createTempDirectory("graft-models").toString

  // deterministic little corpus: 24 vectors of dim 8, values in [-1, 1]
  private def corpus(s: org.apache.spark.sql.SparkSession) = {
    val sqlc = s
    import sqlc.implicits._
    (0L until 24L).map { i =>
      (i, (0 until 8).map(d =>
        (((i * 31 + d * 17) % 19).toFloat - 9f) / 9f).toArray)
    }.toDF("vec_id", "embedding")
  }

  test("centroids artifact round-trips bit-for-bit and a fresh session " +
    "serves IVF-PQ identically without retraining") {
    val dir = tmpStore()
    val build = corpus(spark)
    // BUILD session: train via ensure (writes both artifacts)
    val t0 = Models.trains
    val cent = Models.ensureCentroids(build, "vec_id", "embedding",
      k = 4, iters = 2, dir = dir)
    val cb = Models.ensureCodebook(build, "vec_id", "embedding",
      m = 2, ksub = 4, iters = 2, dir = dir)
    assert(Models.trains === t0 + 2, "first ensure must train")
    assert(cent.nonEmpty && cb.nonEmpty)
    val served0 = Similarity.ivfPqSearchWith(build,
      build.filter($"vec_id" < 2), "vec_id", "embedding", "vec_id",
      k = 3, cent, cb, nprobe = 2, m = 2)
      .orderBy("query_id", "rank").collect().toSeq

    // SERVE session: fresh session state + cleared memos = the
    // "new job" shape; ensure must READ, not retrain
    Similarity.clearKmeansMemo()
    val s2 = spark.newSession()
    val serveCorpus = corpus(s2)
    val t1 = Models.trains
    val cent2 = Models.ensureCentroids(serveCorpus, "vec_id", "embedding",
      k = 4, iters = 2, dir = dir)
    val cb2 = Models.ensureCodebook(serveCorpus, "vec_id", "embedding",
      m = 2, ksub = 4, iters = 2, dir = dir)
    assert(Models.trains === t1, "serve session must NOT retrain")
    assert(cent2.map(_.toSeq).toSeq === cent.map(_.toSeq).toSeq,
      "centroid units must round-trip exactly")
    assert(cb2 === cb, "codebook doubles must round-trip exactly")
    val served2 = Similarity.ivfPqSearchWith(serveCorpus,
      serveCorpus.filter(col("vec_id") < 2), "vec_id", "embedding",
      "vec_id", k = 3, cent2, cb2, nprobe = 2, m = 2)
      .orderBy("query_id", "rank").collect().toSeq
    assert(served2 === served0,
      "artifact-served top-k must be bit-identical to the build session")
  }

  test("a changed corpus changes the fingerprint and forces retraining") {
    val dir = tmpStore()
    val a = corpus(spark)
    val t0 = Models.trains
    Models.ensureCentroids(a, "vec_id", "embedding", 4, 1, dir = dir)
    assert(Models.trains === t0 + 1)
    // same plan SHAPE, one row more — content fingerprint must differ
    val b = corpus(spark).union(Seq(
      (99L, Array.fill(8)(0.5f))).toDF("vec_id", "embedding"))
    Models.ensureCentroids(b, "vec_id", "embedding", 4, 1, dir = dir)
    assert(Models.trains === t0 + 2, "new content must retrain")
    // and re-asking for either corpus now hits its own artifact
    Models.ensureCentroids(a, "vec_id", "embedding", 4, 1, dir = dir)
    Models.ensureCentroids(b, "vec_id", "embedding", 4, 1, dir = dir)
    assert(Models.trains === t0 + 2)
  }

  test("classifier weights artifact: fresh session scores identically " +
    "to the training session's memoized weights") {
    val dir = tmpStore()
    val docs = (0L until 40L).map { i =>
      val good = i % 2 == 0
      (i, if (good) s"alpha beta gamma delta token$i"
          else s"zeta eta theta iota token$i", good)
    }.toDF("id", "text", "label")
    val t0 = Models.trains
    val w = Models.ensureWeights(docs, "id", "text", col("label"),
      buckets = 64, iters = 3, dir = dir)
    assert(Models.trains === t0 + 1)
    assert(w.exists(_ != 0L), "training must move some weight")

    Curate.clearClassifierMemo()
    val s2 = spark.newSession()
    val sqlc2 = s2
    import sqlc2.implicits._
    val docs2 = (0L until 40L).map { i =>
      val good = i % 2 == 0
      (i, if (good) s"alpha beta gamma delta token$i"
          else s"zeta eta theta iota token$i", good)
    }.toDF("id", "text", "label")
    val w2 = Models.ensureWeights(docs2, "id", "text", col("label"),
      buckets = 64, iters = 3, dir = dir)
    assert(Models.trains === t0 + 1, "serve session must NOT retrain")
    assert(w2.toSeq === w.toSeq, "weight units must round-trip exactly")
    // the serve-only scorer under the artifact weights reproduces the
    // training session's own scored frame bit for bit (integer-unit
    // margins — ARCHITECTURE "Numeric determinism" table A)
    val trained = Curate.trainTextClassifier(docs, "id", "text",
      col("label"), buckets = 64, iters = 3)
      .orderBy("id").collect().toSeq
    val served = Curate.scoreTextWith(docs2, "id", "text",
      col("label"), w2).orderBy("id").collect().toSeq
    assert(served === trained,
      "artifact-served scores must equal the trained session's scores")
  }

  test("BPE merge-table artifact: order-preserved round trip, " +
    "no retrain on second ensure") {
    val dir = tmpStore()
    val docs = (0L until 30L)
      .map(i => (i, s"aaa bbb aaa ccc${i % 3} bbb aaa"))
      .toDF("id", "text")
    val t0 = Models.trains
    val m = Models.ensureBpeMerges(docs, "text", rounds = 4, dir = dir)
    assert(Models.trains === t0 + 1)
    assert(m.nonEmpty, "training must learn some merges")
    val m2 = Models.ensureBpeMerges(docs, "text", rounds = 4, dir = dir)
    assert(Models.trains === t0 + 1, "second ensure must read, not retrain")
    assert(m2 === m, "merge ORDER is the model — must round-trip exactly")
    // segmentation under artifact merges equals in-session training
    val direct = graft.functions.Bpe.bpeMerges(docs, "text", 4)
      .orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(m === direct)
  }

  test("bloom bitmap artifact: fresh session gates identically without " +
    "re-shingling the eval suite; fingerprint keys on suite content") {
    val dir = tmpStore()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val evalD = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
    val corp = docs.filter(pmod(col("doc_id"), lit(10)) =!= 0)
    val t0 = Models.trains
    val bm = Models.ensureBloom(evalD, "doc_id", "text",
      shingleN = 3, threshold = 0.7, dir = dir)
    assert(Models.trains === t0 + 1, "first ensure must build")
    val gated0 = graft.operators.Dedup.crossContainmentBloomWith(
      evalD, corp, "doc_id", "text", bm, shingleN = 3, threshold = 0.7)
      .orderBy("id_eval", "id_doc").collect().toSeq

    val s2 = spark.newSession()
    val docs2 = s2.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val evalD2 = docs2.filter(pmod(col("doc_id"), lit(10)) === 0)
    val t1 = Models.trains
    val bm2 = Models.ensureBloom(evalD2, "doc_id", "text",
      shingleN = 3, threshold = 0.7, dir = dir)
    assert(Models.trains === t1, "serve session must NOT rebuild")
    assert(bm2.toSeq === bm.toSeq, "bit words must round-trip exactly")
    val gated2 = graft.operators.Dedup.crossContainmentBloomWith(
      evalD2, docs2.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      "doc_id", "text", bm2, shingleN = 3, threshold = 0.7)
      .orderBy("id_eval", "id_doc").collect().toSeq
    assert(gated0.nonEmpty && gated2 === gated0)
    // and the artifact gate equals the exact gate (the q256 contract)
    val exact = graft.operators.Dedup.crossContainment(
      evalD, corp, "doc_id", "text", shingleN = 3, threshold = 0.7)
      .orderBy("id_eval", "id_doc").collect().toSeq
    assert(gated0 === exact)
    // a different suite content → a different artifact path → rebuild
    val t2 = Models.trains
    Models.ensureBloom(evalD.withColumn("text",
      concat(col("text"), lit(" tampered"))), "doc_id", "text",
      shingleN = 3, threshold = 0.7, dir = dir)
    assert(Models.trains === t2 + 1, "changed suite must rebuild")
  }

  test("DSIR dictionary artifact: literal-fold serve equals the trained " +
    "join-based weights bit for bit; either pool changing rebuilds") {
    val dir = tmpStore()
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val target = docs.filter(col("lang") === "en")
    val t0 = Models.trains
    val llr = Models.ensureLlrDict(docs, target, "doc_id", "text",
      buckets = 2048, dir = dir)
    assert(Models.trains === t0 + 1)
    val served = Curate.dsirScoreWith(docs, "doc_id", "text", llr)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val trained = Curate.dsirWeights(docs, target, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(served === trained,
      "literal fold and join-based scoring must agree on every doc")
    // null-text docs vanish on BOTH paths (the trained explode drops
    // them; the serve filter must match, not emit a null-score row)
    val withNull = docs.limit(3).select(col("doc_id"),
      lit(null).cast("string").as("text"))
    assert(Curate.dsirScoreWith(withNull, "doc_id", "text", llr)
      .count() === 0)
    // fresh session: artifact serves without rebuilding
    val s2 = spark.newSession()
    val docs2 = s2.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val t1 = Models.trains
    val llr2 = Models.ensureLlrDict(docs2,
      docs2.filter(col("lang") === "en"), "doc_id", "text",
      buckets = 2048, dir = dir)
    assert(Models.trains === t1 && llr2.toSeq === llr.toSeq)
    // changing the TARGET alone must rebuild (joint fingerprint)
    val t2 = Models.trains
    Models.ensureLlrDict(docs, target.limit(10), "doc_id", "text",
      buckets = 2048, dir = dir)
    assert(Models.trains === t2 + 1)
  }

  test("a partial write (no _SUCCESS) reads as absent and rebuilds") {
    val dir = tmpStore()
    val a = corpus(spark)
    val t0 = Models.trains
    val m0 = Models.ensureCentroids(a, "vec_id", "embedding", 4, 1, dir = dir)
    val sub = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .findFirst().get()
    // simulate a crashed writer: drop the commit marker
    java.nio.file.Files.delete(sub.resolve("_SUCCESS"))
    val m1 = Models.ensureCentroids(a, "vec_id", "embedding", 4, 1, dir = dir)
    assert(Models.trains === t0 + 2, "uncommitted artifact must rebuild")
    assert(m1.map(_.toSeq).toSeq === m0.map(_.toSeq).toSeq)
  }

  test("a committed artifact with a corrupt part file raises, never " +
    "retrains over it") {
    val dir = tmpStore()
    val a = corpus(spark)
    Models.ensureCentroids(a, "vec_id", "embedding", 4, 1, dir = dir)
    val sub = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .findFirst().get()
    val part = java.nio.file.Files.list(sub).filter(p =>
      p.getFileName.toString.startsWith("part-")).findFirst().get()
    java.nio.file.Files.write(part, "not parquet".getBytes("UTF-8"))
    // the checksum sidecar would flag the rewrite first; drop it so the
    // parquet reader itself meets the corrupt bytes
    java.nio.file.Files.deleteIfExists(
      sub.resolve("." + part.getFileName.toString + ".crc"))
    val t0 = Models.trains
    intercept[Exception](
      Models.ensureCentroids(a, "vec_id", "embedding", 4, 1, dir = dir))
    assert(Models.trains === t0, "a corrupt committed artifact was retrained")
  }
}
