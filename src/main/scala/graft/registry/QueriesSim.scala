package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions._
import graft.syntax._

/** Query registry — embedding similarity: ANN (brute/LSH/IVF/SQ8/PQ), near-dup, covariance/PCA.
  * One entry per SURVEY §2 operator family member; names pair 1:1 with
  * `OraclesSim.m` (driver contract: SparkEntry.queries/oracleSql).
  */
private[graft] object QueriesSim {
  import QueryShared._

  def m: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q31_ann_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 3)
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", "vec_id", 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q48_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding",
        "vec_id", 5, bits = 4)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q82_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 3), "vec_id",
        "embedding", "vec_id", k = 5, nCentroids = 8, nprobe = 8, iters = 1)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q108_embed_neardup" -> ((s, dir) => {
      // embedding-cosine near-dup pairs at the production geometry
      // (64-bit signature, 4×16-bit bands) and a REAL near-dup τ. The
      // random corpus tops out at cosine ≈ 0.51, so the dup signal is
      // planted: ×2-scaled twins (recall 1 by scale invariance) and
      // dim-0-negated twins (exercise the true banding S-curve) — both
      // replayed exactly by the oracle, blocking included.
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val corpus = emb.unionByName(plantTwins(emb, "vec_id", "embedding"))
      Similarity.cosineNearDupPairs(corpus, "vec_id", "embedding",
        threshold = 0.9)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Multi-probe LSH ANN: query bucket + all Hamming-1 buckets — the
    // recall lever over q48's single probe; probe fan-out rides the
    // broadcast query side, corpus still does one equi-join
    "q140_ann_multiprobe" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopKMultiProbe(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", "vec_id", 5, bits = 6)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q170_prototype_prune" -> ((s, dir) =>
      // Sorscher-et-al prototype pruning: rank embeddings by cosine to
      // their cluster centroid; most-prototypical quartile is prunable.
      operators.Curate.prototypeRank(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label",
        pruneFrac = 0.25)
        .select(col("vec_id"), col("label"), col("cos_centroid"),
          col("prunable"))
        .orderBy(col("vec_id"))),

    "q174_semdedup" -> ((s, dir) =>
      // SemDeDup: within-cluster (label) cosine dups, keep-lowest-id
      operators.Similarity.semanticDupFlags(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", threshold = 0.35)
        .select(col("vec_id"), col("label"), col("sem_dup"))
        .orderBy(col("vec_id"))),

    // ---- round 7: SQ8 quantized ANN + quality-aware dedup survivors ----

    // Scalar-quantized (int8) ANN: per-dim [min,max] grid from one
    // corpus scan, symmetric quantize-reconstruct, cosine on the
    // reconstructions — the 4× memory-cut index layout (FAISS SQ shape).
    "q175_sq8_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sq8TopK(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", "vec_id", 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hard-negative mining: top-5 nearest different-label vectors per
    // query — contrastive-training batch construction.
    "q178_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", "label", "vec_id", 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Two-stage ANN: SQ8 coarse shortlist-20 → exact float re-rank to
    // top-5 (search-then-refine).
    "q181_sq8_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.sq8RerankTopK(emb, emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", "vec_id", 5, shortlist = 20)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Embedding covariance matrix: one distributed pass reduces the
    // corpus to a d²-double buffer (typed Aggregator) — the "big data,
    // tiny model" shape behind whitening/PCA curation.
    "q197_cov_matrix" -> ((s, dir) =>
      operators.Similarity.covarianceMatrix(
        t(s, dir, "embeddings"), "embedding")
        .select(col("i").cast("long").as("i"),
          col("j").cast("long").as("j"),
          round(col("cov"), 6).as("cov"))
        .orderBy(col("i"), col("j"))),

    // PCA projection: dominant axis by driver power iteration on the
    // 6-dp-rounded covariance (the cross-engine determinism contract),
    // broadcast back as one rip_dot per row — zero shuffle.
    "q198_pca_project" -> ((s, dir) =>
      operators.Similarity.projectPc1(
        t(s, dir, "embeddings"), "vec_id", "embedding", iters = 20)
        .orderBy(col("vec_id"))),

    // PQ-ADC ANN: 4×16-dim subspaces, 16 hash-sampled codewords each,
    // asymmetric distance against the 64×-compressed code frame.
    "q206_pq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 3),
          "vec_id", "embedding", "vec_id", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-PQ composed index (FAISS IndexIVFPQ shape): coarse routing +
    // byte codes + ADC. nprobe = nCentroids here, so the routing is
    // semantically the identity and the output must EQUAL pqTopK's —
    // the oracle verifies the whole composition; pruned-probe
    // degradation is PipelineR8Spec-pinned.
    "q213_ivfpq_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 3),
          "vec_id", "embedding", "vec_id", k = 5,
          nCentroids = 8, nprobe = 8)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Deterministic integer-unit Lloyd k-means (the topic-balancing /
    // SemDeDup clustering step): the ASSIGNMENT itself is
    // oracle-checked row for row — exact long distances and floor-div
    // centroid means make all 3 Lloyd rounds bit-identical across
    // engines (an RNG- or float-mean k-means could never be)
    "q237_kmeans" -> ((s, dir) =>
      Similarity.kmeansAssign(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 3)
        .orderBy(col("vec_id"))),

    // cluster-balanced sampling: k-means clusters feed the q200 budget
    // machinery — per cluster keep the LEAST(cap, n) smallest
    // (portable hash, id) rows, i.e. a deterministic topic-balanced
    // subsample (the "don't let one topic dominate the mix" story).
    // The assignment frame is registry-persisted, so this composition
    // reuses q237's clustering work when both run in one session.
    // Embedding-space drift matrix: exact squared distance between
    // per-label integer-unit mean vectors — the geometric complement
    // of the token-distribution drift metrics (q222/q227)
    "q241_embedding_drift" -> ((s, dir) =>
      Drift.embeddingDriftMatrix(t(s, dir, "embeddings"),
          col("label"), col("embedding"))
        .orderBy(col("key_a"), col("key_b"))),

    // Top-2 PCA projection (q198 extended by Hotelling deflation on
    // the rounded covariance): the k-component whitening basis, every
    // axis bit-reproducible — the oracle replays both power iterations
    // and the deflation as recursive CTEs
    "q240_pca2_project" -> ((s, dir) =>
      Similarity.projectPcK(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 2)
        .orderBy(col("vec_id"))),

    // SemDeDup as the PAPER runs it: k-means clusters (not given
    // labels) bound the pairwise term to Σ|cluster|², then
    // within-cluster cosine pruning with the deterministic
    // keep-lowest-id rule — q174's flags composed over q237's
    // clustering, aggregated to per-cluster prune accounting
    "q239_semdedup_kmeans" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val assigned = FrameCache.persist(
        Similarity.kmeansAssign(emb, "vec_id", "embedding",
          k = 8, iters = 3).select(col("vec_id"), col("cid")))
      Similarity.semanticDupFlags(emb.join(assigned, Seq("vec_id")),
          "vec_id", "embedding", "cid", threshold = 0.35)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n"),
          sum(col("sem_dup").cast("long")).as("n_dups"),
          sum(when(!col("sem_dup"), col("vec_id")).otherwise(lit(0L)))
            .as("id_sum_kept"))
        .orderBy(col("cid"))
    }),

    // IVF-Flat over a TRAINED coarse quantizer (the FAISS train/add/
    // search split): inverted lists + probe routing both use the exact
    // integer-unit k-means distance, so — unlike q82's float-cosine
    // routing — the PRUNED search (nprobe 3 of 8) is itself
    // bit-reproducible and oracle-checked end to end
    "q242_ivf_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val model = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 3)
      Similarity.ivfTrainedTopK(emb, emb.filter(col("vec_id") < 3),
          "vec_id", "embedding", "vec_id", k = 5, model, nprobe = 3)
        .orderBy(col("query_id"), col("rank"))
    }),

    "q238_cluster_balanced_sample" -> ((s, dir) => {
      val assigned = FrameCache.persist(
        Similarity.kmeansAssign(t(s, dir, "embeddings"),
          "vec_id", "embedding", k = 8, iters = 3))
      val budgets = assigned.groupBy(col("cid"))
        .agg(count(lit(1)).as("__n"))
        .withColumn("__budget", least(lit(50L), col("__n")))
      Curate.selectSmallestByHash(assigned, "vec_id", "cid", budgets)
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_kept"), sum(col("vec_id")).as("id_sum"))
        .join(budgets.select(col("cid"), col("__n").as("n_total")),
          Seq("cid"))
        .select(col("cid"), col("n_total"), col("n_kept"), col("id_sum"))
        .orderBy(col("cid"))
    }),

    // TRAINED product quantization (FAISS IndexPQ train-then-search,
    // completing q242's trained-IVF story): per-subspace integer-unit
    // Lloyd codebooks (m=2 subspaces × ksub=4 codewords × 2 iterations)
    // instead of q206's hash sample — train, encode, ADC, and top-k all
    // replayed bit-for-bit by the oracle; PipelineR11Spec additionally
    // pins the codebook to planted subspace structure
    "q249_pq_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqTrainedTopK(emb, emb.filter(col("vec_id") < 3),
          "vec_id", "embedding", "vec_id", k = 5, m = 2, ksub = 4,
          iters = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // FULLY-trained IVF-PQ (the complete FAISS IndexIVFPQ train/add/
    // search split): q242's trained coarse quantizer + q249's trained
    // per-subspace codebooks, PRUNED routing (nprobe 3 of 8) — every
    // stage integer-exact or double-deterministic, so the oracle
    // replays coarse training, PQ training, routing, encode, and ADC
    "q250_ivfpq_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfPqTrainedTopK(emb, emb.filter(col("vec_id") < 3),
          "vec_id", "embedding", "vec_id", k = 5, coarseK = 8,
          nprobe = 3, m = 2, ksub = 4, iters = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN recall@5 audit — the go/no-go gauge every index deploy runs
    // BEFORE scaling: how much of the exact top-5 does the PRUNED
    // search recover per query. The approx side is q242's trained
    // IVF-Flat verbatim (exact in-cell cosines — the loss measured is
    // ROUTING loss, the nprobe knob; a PQ-coded approx side on this
    // near-uniform synthetic corpus ties thousands of vectors per code
    // and reads recall 0 at every setting, auditing nothing). Exact
    // side = brute cosine with self excluded. hits/recall are
    // deterministic — both sides rank total (metric, id) orders.
    "q258_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 3)
      val model = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 3)
      val approx = Similarity.ivfTrainedTopK(emb, qs, "vec_id",
          "embedding", "vec_id", k = 5, model, nprobe = 3)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding",
          "vec_id", 5)
        .select(col("query_id"), col("neighbor_id"))
        .join(approx, Seq("query_id", "neighbor_id"), "left_outer")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("hits"))
        .withColumn("recall", round(col("hits") / lit(5.0), 6))
        .orderBy(col("query_id"))
    }),

    // Cross-split SEMANTIC leakage (embedding-space complement of the
    // q220 n-gram decontamination gate): eval = every 5th vector,
    // train = the rest PLUS planted paraphrase twins of eval rows
    // (scaled = guaranteed leak, negated = S-curve leak); per eval row,
    // the count/worst of train rows at cosine ≥ 0.9 — banded LSH
    // blocking (64-bit/4-band production geometry) + exact verify,
    // never eval × train
    "q251_semantic_leakage" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val evalSide = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      val trainSide = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
        .unionByName(plantTwins(evalSide, "vec_id", "embedding"))
      Similarity.crossSplitSemanticLeakage(trainSide, evalSide,
          "vec_id", "embedding", threshold = 0.9)
        .orderBy(col("id_eval"))
    }),

    // MODEL-ARTIFACT round trip (the reference's SDS save/load of any
    // object, riptable/rt_sds.py:719, applied to trained models):
    // coarse centroids + PQ codebooks persist as content-addressed
    // parquet artifacts (Models.ensure*), and the search runs under the
    // ARTIFACT models via the serve-only ivfPqSearchWith — the
    // index-build / query-serve job split. Hyperparams match q250
    // exactly, so the artifact path must reproduce q250's fully-trained
    // result bit for bit (same oracle); a fresh session pays one tiny
    // parquet read instead of retraining (ModelsSpec + the bench cold
    // lane measure the skip).
    "q253_model_artifact" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cent = Models.ensureCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 2)
      val cb = Models.ensureCodebook(emb, "vec_id", "embedding",
        m = 2, ksub = 4, iters = 2)
      Similarity.ivfPqSearchWith(emb, emb.filter(col("vec_id") < 3),
          "vec_id", "embedding", "vec_id", k = 5, cent, cb, nprobe = 3,
          m = 2)
        .orderBy(col("query_id"), col("rank"))
    })
  )
}
