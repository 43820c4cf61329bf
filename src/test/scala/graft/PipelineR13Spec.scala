package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** Round-13 pins:
  *  - q264 release-gate plan shape (no cartesian anywhere in the
  *    4-branch composition; one-row broadcast folds are the only NLJ
  *    class allowed, per the crossJoin(broadcast(stats)) contract);
  *  - bpeMerges session memo: second call in a session must not re-run
  *    the driver-sequenced training (job-count assertion);
  *  - containmentPairs bloom prefilter is a result-set identity vs the
  *    unfiltered gate on real documents (the q180 perf fix must not
  *    change a single row).
  */
class PipelineR13Spec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("q264 release gate: 4 rows, one per check, no cartesian product " +
    "in the executed plan") {
    val df = SparkEntry.queries("q264_release_gate")(spark, sf)
    val rows = df.collect()
    assert(rows.length === 4)
    assert(rows.map(_.getString(0)).sorted.toSeq === Seq(
      "ngram_contamination", "quality_funnel", "semantic_leakage",
      "token_drift"))
    // planted twins keep the leakage branch non-vacuous at every SF
    val sem = rows.find(_.getString(0) == "semantic_leakage").get
    assert(sem.getLong(1) > 0L, "semantic branch flagged nothing")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("bpeMerges memo: a repeat call replays the merge table without " +
    "re-running the driver-sequenced training jobs") {
    graft.functions.Bpe.clearMergesMemo()
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val first = graft.functions.Bpe.bpeMerges(docs, "text", rounds = 6)
      .collect().toSeq
    val (second, jobs) = jobsOf(graft.functions.Bpe.bpeMerges(docs, "text",
      rounds = 6).collect().toSeq)
    assert(second === first, "memoized table must equal the trained one")
    // the replay costs at most the one parallelize-collect job — the
    // pair-table collect chain (>= 1 job per driver round) must not run
    assert(jobs <= 1, s"memo miss: $jobs jobs ran on the repeat call")
  }

  test("containmentPairs: bloom prefilter is a result-set identity on " +
    "real documents") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val exact = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.6,
        bloomBits = 0)
      .orderBy("id_a", "id_b").collect().toSeq
    val bloomed = Dedup.containmentPairs(docs, "doc_id", "text", 3, 0.6)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(exact.nonEmpty, "fixture must exercise the gate")
    assert(bloomed === exact)
  }

  test("crossSplitSemanticLeakage at the 64-bit default: scaled twins " +
    "are reported with cosine exactly 1 (signature-invariant recall)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val evalSide = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val scaled = QueryShared.plantTwins(evalSide, "vec_id", "embedding")
      .filter(col("vec_id") >= 100000L && col("vec_id") < 200000L)
    val nScaled = scaled.count()
    val out = Similarity.crossSplitSemanticLeakage(scaled, evalSide,
        "vec_id", "embedding", threshold = 0.999)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // every scaled twin's source eval row reports its leak at cosine 1
    val expected = evalSide.filter(pmod(col("vec_id"), lit(9)) === 1)
      .select("vec_id").as[Long].collect().toSet
    assert(nScaled > 0 && out.keySet === expected,
      s"expected $expected, got ${out.keySet}")
    assert(out.values.forall(_ === 1.0), out.toString)
  }
}
