package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions._
import graft.syntax._

/** Query registry — curation at scale: mixing, splits, sketches, quantiles, drift, packing, funnels.
  * One entry per SURVEY §2 operator family member; names pair 1:1 with
  * `OraclesCurate.m` (driver contract: SparkEntry.queries/oracleSql).
  */
private[graft] object QueriesCurate {
  import QueryShared._

  def m: Map[String, (SparkSession, String) => DataFrame] = Map(

    // link-graph PageRank quality weighting (r16 — the crawl-curation
    // step between ingest and mixing): a deterministic synthetic link
    // graph over the doc-id universe (doc_ids are contiguous 0..N−1,
    // so modular edge synthesis is total and SQL-reproducible; nodes
    // with doc_id % 4 == 0 are DANGLING, exercising the leak variant;
    // parallel edges are kept — multigraph). 5 fixed iterations,
    // d = 0.85; the oracle unrolls the identical recursion with one
    // MATERIALIZED step per iteration.
    "q278_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nodes = docs.select(col("doc_id").as("id"))
      val nCnt = nodes.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
        .filter(col("j") <= col("src") % 4)
        .select(col("src"),
          ((col("src") * (col("j") + 2) + lit(17L) * col("j")) % nCnt)
            .as("dst"))
        .filter(col("dst") =!= col("src"))
      Graph.pageRank(nodes, edges, iters = 5, damping = 0.85)
        .select(col("id").as("doc_id"), round(col("rank"), 9).as("rank"))
        .orderBy(col("doc_id"))
    }),

    // the fold-back: per-source authority table (mean/total page rank
    // + doc count per host) — what the mixing stage actually consumes
    // as an upweighting signal
    "q279_source_authority" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nodes = docs.select(col("doc_id").as("id"))
      val nCnt = nodes.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
        .filter(col("j") <= col("src") % 4)
        .select(col("src"),
          ((col("src") * (col("j") + 2) + lit(17L) * col("j")) % nCnt)
            .as("dst"))
        .filter(col("dst") =!= col("src"))
      val ranks = Graph.pageRank(nodes, edges, iters = 5, damping = 0.85)
      docs.select(col("doc_id"), col("source"))
        .join(ranks.withColumnRenamed("id", "doc_id"), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("rank")), 9).as("total_rank"),
          round(avg(col("rank")), 9).as("mean_rank"))
        .orderBy(col("source"))
    }),

    // FOCUSED (personalized) weighted PageRank — the topic-targeted
    // crawl weighting: teleport mass concentrates on a trusted seed
    // set (source 'src0' here), edge strength = link multiplicity
    // (1 + (src+dst) % 3). Pages rank by proximity to the seeds;
    // non-seed islands decay to 0 instead of the global floor.
    "q280_focused_pagerank" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nodes = docs.select(col("doc_id").as("id"))
      val nCnt = nodes.count()
      val edges = docs
        .select(col("doc_id").as("src"),
          explode(array(lit(1L), lit(2L), lit(3L))).as("j"))
        .filter(col("j") <= col("src") % 4)
        .select(col("src"),
          ((col("src") * (col("j") + 2) + lit(17L) * col("j")) % nCnt)
            .as("dst"))
        .filter(col("dst") =!= col("src"))
        .withColumn("w", lit(1L) + (col("src") + col("dst")) % 3)
      val seeds = docs.filter(col("source") === "src0")
        .select(col("doc_id").as("id"))
      Graph.pageRank(nodes, edges, iters = 5, damping = 0.85,
          weightCol = Some("w"), teleport = Some(seeds))
        .select(col("id").as("doc_id"), round(col("rank"), 9).as("rank"))
        .orderBy(col("doc_id"))
    }),

    "q114_hash_sample" -> ((s, dir) =>
      // deterministic stratified downsample: 5 rows per event_type in
      // portable-hash order (no RNG — reproducible across engines)
      Split.sampleKPerGroup(t(s, dir, "events"), "event_id",
        Seq("event_type"), 5)
        .select(col("event_type"), col("event_id"))
        .orderBy(col("event_type"), col("event_id"))),

    "q113_hash_split" -> ((s, dir) => {
      // deterministic 80/20 train/test split on a portable id hash —
      // same assignment on any engine/cluster (no RNG, no seed plumbing)
      val split = Split.trainTest(t(s, dir, "documents"), "doc_id", 80)
      split.groupBy(col("split"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("split"))
    }),

    // Deterministic weighted sampling (Efraimidis–Spirakis with the RNG
    // replaced by the portable id hash): longer docs proportionally more
    // likely; same winners on any engine — top-k plan, no global sort
    "q129_weighted_sample" -> ((s, dir) =>
      Split.weightedSample(t(s, dir, "documents"), "doc_id", "n_chars", 50)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Deterministic corpus mixing to target source proportions: src0
    // upweighted to 30%, src1 to 20%, the rest sharing 50% — per-source
    // hash-order budgets, no RNG, reproducible on any engine
    "q131_corpus_mix" -> ((s, dir) => {
      val rest = (2 to 19).map(i => s"src$i" -> (0.5 / 18)).toMap
      Curate.mixSample(t(s, dir, "documents"), "doc_id", "source",
        Map("src0" -> 0.3, "src1" -> 0.2) ++ rest, k = 100)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("source"))
    }),

    // Sequential sequence packing: docs (per source, in id order) into
    // ~500-token training sequences via exclusive-prefix-sum bucketing —
    // the map-side streaming shape of an LLM loader's packer
    "q132_seq_pack" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("tokens", TextFns.tokenCount(col("text")).cast("long"))
      Curate.packSequences(docs, Seq("source"), Seq(col("doc_id")),
        "tokens", budget = 500L)
        .groupBy(col("source"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tokens")).as("tot_tokens"))
        .orderBy(col("source"), col("pack_id"))
    }),

    // Curation funnel: per-source survival counts through the standard
    // filter cascade (length band, quality, english-signal) in ONE
    // conditional-sum aggregate — not one pass per stage
    "q133_curation_funnel" -> ((s, dir) =>
      Curate.funnel(t(s, dir, "documents"), Seq("source"), Seq(
        "len" -> col("n_chars").between(50, 10000),
        "quality" -> (TextFns.qualityScore(col("text")) >= 0.5),
        "en" -> (TextFns.langScore(col("text"), "en") >= 1)))
        .orderBy(col("source"))),

    // Temperature-scaled (α-sampling) source mixing: α=0.5 flattening,
    // 30% global budget; output per-source kept count + id checksum so
    // the SELECTION is verified, not just the budget arithmetic.
    "q182_temperature_mix" -> ((s, dir) =>
      Curate.temperatureSample(t(s, dir, "documents"), "doc_id", "source",
        alpha = 0.5, frac = 0.3)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"))),

    // RAG/pre-training chunker: 200-char windows, 50-char overlap; the
    // md5 column checks every chunk's exact CONTENT, not just counts.
    "q183_chunking" -> ((s, dir) =>
      Curate.chunkDocs(t(s, dir, "documents"), "doc_id", "text", 200, 50)
        .select(col("doc_id"), col("chunk_id"),
          length(col("chunk")).as("chunk_len"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy(col("doc_id"), col("chunk_id"))),

    // Leakage-safe 80/20 split: the split unit is the near-dup cluster
    // (jaccard ≥ 0.5 components), so dup pairs can never straddle the
    // train/test cut; id_sum verifies the exact assignment.
    "q186_leakage_split" -> ((s, dir) =>
      Split.leakageSafeSplit(t(s, dir, "documents"), "doc_id", "text",
        80, 3, 0.5)
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("cluster_id")).as("n_clusters"),
          sum(col("doc_id")).as("id_sum"))
        .orderBy(col("split"))),

    // KMV distinct-count sketch: per-source distinct-shingle estimate
    // from the 64 smallest portable hashes — deterministic, so the
    // ESTIMATE itself is oracle-checked (HLL can't be), next to exact.
    "q187_kmv_distinct" -> ((s, dir) => {
      val sh = t(s, dir, "documents").select(col("source"),
        explode(TextFns.wordShingles(col("text"), 3)).as("sh"))
      // kmvWithExact shares ONE explode+distinct pass between the
      // exact count and the sketch (was 2 full passes — bench 4.3 s).
      Sketch.kmvWithExact(sh, Seq("source"), col("sh"), 64)
        .select(col("source"), col("n_exact"), col("distinct_est"),
          col("sketch_size"))
        .orderBy(col("source"))
    }),

    // Count–Min heavy hitters: the corpus's 10 most frequent tokens
    // with exact count AND the deterministic 4×1024 CM estimate —
    // overshoot observable, sketch oracle-checked (like q187's KMV).
    "q192_countmin_hh" -> ((s, dir) =>
      Sketch.countMinTopK(
        t(s, dir, "documents")
          .select(explode(TextFns.tokens(col("text"))).as("tok")),
        col("tok"), d = 4, w = 1024, topK = 10)
        .orderBy(col("rank"))),

    // Mergeable histogram quantiles (the sketch family's third member)
    // beside the EXACT percentile — estimate AND its error both
    // oracle-checked; one-bin-width error bound observable.
    // exact side = histogram-REFINEMENT quantiles (no single-reducer
    // value buffer like Spark's percentile — the 100-TB exact path)
    "q196_hist_quantiles" -> ((s, dir) => {
      // counts/min/max/order statistics only — partition-invariant, so
      // the single-split lineitem scan opts into the floor (r16)
      val li = Tables.floored(s, dir, "lineitem", "l_orderkey")
      val qs = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
      // fused hist+exact (optimization r16): one shared stats + bin-count
      // pair instead of each operator rebuilding its own — 5 scans → 3,
      // half the broadcast jobs; expressions are the unfused operators'
      // verbatim, so the output is bit-identical (PipelineR16OptSpec).
      Sketch.histAndExactQuantiles(li, col("l_extendedprice"), 256, qs)
        .select(col("q"), col("hist_est"),
          round(col("exact_val"), 6).as("exact_val"))
        .orderBy(col("q"))
    }),

    // Per-group heavy hitters: an independent CM sketch + exact top-5
    // per source — the per-domain vocabulary shape.
    "q199_countmin_by_source" -> ((s, dir) =>
      Sketch.countMinTopKBy(
        t(s, dir, "documents").select(col("source"),
          explode(TextFns.tokens(col("text"))).as("tok")),
        Seq("source"), col("tok"), d = 4, w = 1024, topK = 5)
        .orderBy(col("source"), col("rank"))),

    // Flagship composition: the full curation funnel a corpus team
    // actually runs — NFC → language gate → model-based quality gate →
    // exact dedup keep-first → per-source cap via the skew-safe
    // hash-threshold selection — with per-stage counts AND the final
    // selection identity-checked (id_sum), end to end in ONE plan.
    "q200_curation_e2e" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("lang"), TextFns.nfc(col("text")).as("text"))
      val d1 = d0.filter(col("lang") === "en")
      val pass = Curate.hashedLinearScore(d1, "doc_id", "text", 4096)
        .filter(col("score_units") > 0).select(col("doc_id"))
      val d2 = d1.join(pass, Seq("doc_id"))
      val wf = Window.partitionBy(col("__fp")).orderBy(col("doc_id"))
      val d3 = d2.withColumn("__fp", md5(col("text")))
        .withColumn("__rn", row_number().over(wf))
        .filter(col("__rn") === 1).drop("__fp", "__rn")
      val budgets = d3.groupBy(col("source")).agg(count(lit(1)).as("__n"))
        .withColumn("__budget", least(lit(20L), col("__n")))
      val d4 = Curate.selectSmallestByHash(d3, "doc_id", "source", budgets)
      def cnt(df: DataFrame, n: String) =
        df.groupBy(col("source")).agg(count(lit(1)).as(n))
      cnt(d0, "n_raw")
        .join(cnt(d1, "n_en"), Seq("source"), "left")
        .join(cnt(d2, "n_quality"), Seq("source"), "left")
        .join(cnt(d3, "n_dedup"), Seq("source"), "left")
        .join(d4.groupBy(col("source")).agg(count(lit(1)).as("n_final"),
          sum(col("doc_id")).as("id_sum")), Seq("source"), "left")
        .select(col("source"), col("n_raw"),
          coalesce(col("n_en"), lit(0L)).as("n_en"),
          coalesce(col("n_quality"), lit(0L)).as("n_quality"),
          coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
          coalesce(col("n_final"), lit(0L)).as("n_final"),
          coalesce(col("id_sum"), lit(0L)).as("id_sum"))
        .orderBy(col("source"))
    }),

    // Z-ordered sink round-trip: events laid out Morton-interleaved on
    // (user_id, value) so BOTH dimensions carry tight per-file
    // min/max envelopes (IoSpec measures the pruning); the multi-dim
    // predicate + aggregate must be layout-invariant vs the oracle's
    // direct scan.
    // Per-source histogram quantiles beside the per-source EXACT
    // percentile — the grouped-sketch matrix closes (KMV, CM, and
    // quantiles all have grouped forms).
    "q202_hist_quantiles_by" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val qs = Seq(0.5, 0.9)
      val qArr = array(qs.map(lit): _*)
      val exact = docs.groupBy(col("source"))
        .agg(percentile(col("n_chars"), qArr).as("__ex"))
        .select(col("source"), posexplode(col("__ex")).as(Seq("__i", "__ev")))
        .select(col("source"), element_at(qArr, col("__i") + 1).as("q"),
          round(col("__ev"), 6).as("exact_val"))
      Sketch.histQuantilesBy(docs, Seq("source"), col("n_chars"), 64, qs)
        .join(exact, Seq("source", "q"))
        .select(col("source"), col("q"), col("hist_est"), col("exact_val"))
        .orderBy(col("source"), col("q"))
    }),

    // Quality-classifier gate: tie-aware ROC-AUC of doc length as a
    // predictor of lang=='en' (discrete score → exact average ranks).
    "q203_roc_auc" -> ((s, dir) =>
      functions.Stats.rocAuc(t(s, dir, "documents"),
        col("n_chars"), (col("lang") === "en").cast("int"))),

    // UniMax token-budget allocation: 2-epoch cap per source, total
    // budget = 40% of corpus tokens, remainder water-fills uniformly.
    "q204_unimax_mix" -> ((s, dir) =>
      Curate.unimaxBudgets(t(s, dir, "documents"), "source",
          col("n_chars"), epochCap = 2.0, budgetFrac = 0.4)
        .orderBy(col("source"))),

    // Robust length-outlier screen: per-source median/MAD of n_chars,
    // count of docs beyond 3 MADs.
    "q205_mad_outliers" -> ((s, dir) =>
      functions.Stats.madOutliers(t(s, dir, "documents"), Seq("source"),
          "n_chars", k = 3.0)
        .orderBy(col("source"))),

    // grouped EXACT quantiles without per-group value buffers — the
    // skew-safe replacement for groupBy().agg(percentile(...))
    "q207_exact_quantiles_by" -> ((s, dir) =>
      Sketch.exactQuantilesBy(t(s, dir, "documents"), Seq("source"),
          col("n_chars"), Seq(0.5, 0.95), bins = 64)
        .select(col("source"), col("q"),
          round(col("exact_val"), 6).as("exact_val"))
        .orderBy(col("source"), col("q"))),

    // cross-source score calibration: within-source percentile rank
    // (skew-safe — the corpus never sorts per source; the distinct-
    // score frame does)
    "q208_score_calibration" -> ((s, dir) =>
      Curate.calibrateScores(t(s, dir, "documents"), "source",
          col("n_chars"))
        .select(col("doc_id"), col("source"),
          round(col("calibrated"), 6).as("calibrated"))
        .orderBy(col("doc_id"))),

    // token-mass quantiles: the doc length below which a q-fraction of
    // the corpus CHARACTERS sit, per source (weighted quantiles)
    "q209_weighted_quantiles" -> ((s, dir) =>
      Sketch.weightedQuantilesBy(t(s, dir, "documents"), Seq("source"),
          col("n_chars"), col("n_chars"), Seq(0.25, 0.5, 0.9), bins = 64)
        .select(col("source"), col("q"), round(col("wq"), 6).as("wq"))
        .orderBy(col("source"), col("q"))),

    "q201_zorder_scan" -> ((s, dir) => {
      val tmp = s"/tmp/graft_zord_${dir.replaceAll("[^0-9.]", "")}"
      Tables.writeZOrdered(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
          col("value")),
        Seq("user_id", "value"), tmp, nFiles = 8)
      s.read.parquet(tmp)
        .filter(col("user_id").between(100, 300)
          && col("value").between(10.0, 60.0))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 6).as("sum_v"),
          sum(col("event_id")).as("id_sum"))
    }),

    // Seeded-sample shim (FastArray.sample(seed), rt_fastarray.py:1827):
    // the seed folds into the portable hash, so the SAMPLE ITSELF is
    // oracle-checkable row for row — the deterministic replacement for
    // engine RNG documented in README.
    "q212_seeded_sample" -> ((s, dir) =>
      Split.sampleSeeded(t(s, dir, "documents"), "doc_id", 0.25, seed = 42L)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))),

    // Corpus drift: JS divergence / PSI / TVD between src0's and src1's
    // TOKEN distributions — "did this crawl shift against the last
    // one". One token-keyed hash aggregate + broadcast totals; the
    // metric sums over the vocabulary frame, never the corpus.
    "q222_drift_metrics" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Drift.categoricalDrift(
        docs.select(col("source"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("term")),
        col("term"), col("source"), "src0", "src1")
    }),

    // Two-sample KS statistic on document length between src0 and
    // src1 — the numeric-column drift twin of q222. The cumulative
    // window runs over the DISTINCT length frame (domain-sized).
    "q223_ks_lengths" -> ((s, dir) =>
      Drift.ksStatistic(t(s, dir, "documents"), col("n_chars"),
        col("source"), "src0", "src1")),

    // Deterministic shard publication: hash-assigned shard + in-shard
    // sequence — the reproducible global shuffle a trainer consumes.
    // Checked row for row (md5-portable hash, q212 contract).
    "q224_publish_shards" -> ((s, dir) =>
      Drift.publishShards(t(s, dir, "documents"), "doc_id",
          nShards = 8, seed = 7L)
        .orderBy(col("shard"), col("seq"))),

    // Pairwise drift matrix across ALL sources (the mixing-stage
    // diagnostic): shared-support decomposition — one token-keyed
    // count frame, one category equi-join (≤ k rows/side/category),
    // never a full outer join per pair.
    "q227_drift_matrix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Drift.categoricalDriftMatrix(
        docs.select(col("source"),
          explode(graft.functions.TextFns.tokens(col("text"))).as("term")),
        col("term"), col("source"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Fixed-bin PSI on a numeric column (the production continuous-
    // drift gauge): codegen'd cut into reference bins, then the
    // categorical metric path over the bins-sized frame.
    "q228_binned_psi" -> ((s, dir) =>
      Drift.binnedDrift(t(s, dir, "documents"), col("n_chars"),
        col("source"), "src0", "src1",
        Seq(0, 100, 200, 300, 400, 500, 600))),

    // Pairwise KS matrix across sources (numeric twin of q227):
    // densified union-value grid, per-source ECDF windows over the
    // domain-sized frame, value-keyed pair join.
    "q229_ks_matrix" -> ((s, dir) =>
      Drift.ksMatrix(t(s, dir, "documents"), col("n_chars"), col("source"))
        .orderBy(col("src_a"), col("src_b"))),

    // Rejection attribution over the q200 gate sequence: every doc
    // labeled with the FIRST gate that drops it (lang -> quality ->
    // dedup keep-first AMONG survivors, matching the funnel's d3-on-d2
    // rank), per-source breakdown. Context-dependent gates (score,
    // first-occurrence) precompute as columns; attribution is one
    // when-chain + one count aggregate. kept counts == q200 n_dedup.
    "q230_rejection_reasons" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d0 = t(s, dir, "documents").select(col("doc_id"), col("source"),
        col("lang"), TextFns.nfc(col("text")).as("text"))
      val scored = Curate.hashedLinearScore(d0, "doc_id", "text")
        .select(col("doc_id"), col("score_units"))
      // LEFT join: a doc the scorer produced no row for (null/empty
      // text -> zero tokens) must land in the quality bucket, not
      // vanish from the breakdown
      val passed = col("lang") === "en" &&
        coalesce(col("score_units") > 0, lit(false))
      // the funnel dedups AMONG gate survivors (q200's d3 ranks d2):
      // partitioning the rank by the passed flag reproduces that —
      // docs dropped earlier never occupy a survivor rank slot
      val wf = Window.partitionBy(col("__fp"), passed)
        .orderBy(col("doc_id"))
      val flagged = d0.join(scored, Seq("doc_id"), "left")
        .withColumn("__fp", md5(col("text")))
        .withColumn("__rn", row_number().over(wf))
      Curate.rejectionReasons(flagged, Seq("source"), Seq(
          "lang" -> (col("lang") === "en"),
          "quality" -> (col("score_units") > 0),
          "duplicate" -> (col("__rn") === 1)))
        .orderBy(col("source"), col("reason"))
    }),

    // In-engine classifier TRAINING (not just inference): 12 rounds of
    // full-batch GD on a hashed bag-of-words linear model predicting
    // lang='en' — all-integer hard-sigmoid arithmetic, so the learned
    // weights and every per-doc margin are bit-identical on any
    // engine/partitioning and the oracle replays the descent exactly
    // (train accuracy 303/500 vs the 282 majority class at sf0.01 —
    // the synthetic corpus shares one 31-token vocab across langs, so
    // only weak frequency composition is learnable by ANY linear model)
    "q232_train_classifier" -> ((s, dir) =>
      Curate.trainTextClassifier(t(s, dir, "documents"), "doc_id", "text",
          col("lang") === "en", buckets = 256, iters = 12, lrDen = 16L)
        .orderBy(col("doc_id"))),

    // the trained classifier exercised END-TO-END as a curation gate
    // (the fastText-filter story): train (driver-side GD, eager), then
    // per-source funnel counts under the pred filter (q200-style stage)
    // + the tie-aware ROC-AUC of the margin vs the label (q203 gate)
    // riding every row as a broadcast one-row certificate. The scored
    // frame is registry-persisted so the funnel and AUC consumers share
    // one scoring scan.
    "q234_classifier_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // weights via the ARTIFACT (VERDICT r13 #5): the gate is a model
      // CONSUMER — a fresh/cold session reads the content-addressed
      // weights parquet instead of re-paying the 12-epoch GD (q232
      // remains the trainer and the cold lane's training-cost row).
      // scoreTextWith is integer-exact-identical to the training
      // session's own scoring (q254's oracle IS q232's), so the gate's
      // oracle is unchanged.
      val w = Models.ensureWeights(docs, "doc_id", "text",
        col("lang") === "en", buckets = 256, iters = 12, lrDen = 16L)
      val scored = FrameCache.persist(
        Curate.scoreTextWith(docs, "doc_id", "text",
          col("lang") === "en", w))
      val perSrc = docs.select(col("doc_id"), col("source"))
        .join(scored, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pred").cast("long")).as("n_kept"),
          sum(col("correct").cast("long")).as("n_correct"),
          sum(when(col("pred"), col("doc_id")).otherwise(lit(0L)))
            .as("id_sum_kept"))
      val auc = Stats.rocAuc(scored, col("z_units"), col("label").cast("int"))
        .select(col("auc"))
      perSrc.crossJoin(broadcast(auc)).orderBy(col("source"))
    }),

    // The published Gopher rule set (Rae et al. 2021 Table A1) as a
    // first-failing-gate breakdown per source — every rule an
    // integer-cross-product predicate (no float thresholds), attributed
    // through the q230 rejection-reason machinery in the paper's order
    "q244_gopher_rules" -> ((s, dir) =>
      Curate.rejectionReasons(t(s, dir, "documents"), Seq("source"),
        Curate.gopherGates(col("text")))
        .orderBy(col("source"), col("reason"))),

    // DSIR importance resampling (Xie et al. 2023): weight every doc
    // by the hashed-unigram log-likelihood ratio of a high-quality
    // TARGET slice (lang='en') vs the raw pool, then keep the top-40
    // under a fixed budget — TakeOrdered, never a global sort. Scores
    // are exact long micro-units (the ln happens once per BUCKET on
    // integer counts, then quantizes), so ranking is bit-stable.
    "q257_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Curate.dsirWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", buckets = 2048)
        .orderBy(col("score_units").desc, col("doc_id"))
        .limit(40)
    }),

    // DSIR dictionary ARTIFACT serve (q253-family contract applied to
    // q257): the per-bucket log-ratio units persist content-addressed
    // by BOTH pools, and scoring runs under the artifact as one literal
    // aggregate fold per doc — map-only, zero shuffle (the streaming
    // scorer is this same projection). Params match q257 exactly, so
    // the artifact path must reproduce the join-based trained selection
    // bit for bit (same oracle).
    "q261_dsir_artifact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val llr = Models.ensureLlrDict(docs,
        docs.filter(col("lang") === "en"), "doc_id", "text",
        buckets = 2048)
      Curate.dsirScoreWith(docs, "doc_id", "text", llr)
        .orderBy(col("score_units").desc, col("doc_id"))
        .limit(40)
    }),

    // Classifier WEIGHTS artifact round trip (q253's twin for the
    // quality-classifier family): weights persist as a content-
    // addressed parquet artifact (Models.ensureWeights — the SDS
    // save/load analog), and scoring runs under the ARTIFACT model via
    // the serve-only Curate.scoreTextWith. Hyperparams match q232
    // exactly, so the artifact-served scores must reproduce the
    // in-session trained scores bit for bit (same oracle); a fresh
    // session pays one tiny parquet read instead of the 12-epoch GD.
    "q254_classifier_artifact" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = Models.ensureWeights(docs, "doc_id", "text",
        col("lang") === "en", buckets = 256, iters = 12, lrDen = 16L)
      Curate.scoreTextWith(docs, "doc_id", "text",
          col("lang") === "en", w)
        .orderBy(col("doc_id"))
    }),

    // END-TO-END RELEASE GATE (VERDICT r12 #10): the four hygiene
    // audits a dataset release runs before a training job is allowed to
    // read it, composed into ONE go/no-go artifact — a row per check
    // with (flag count, worst value, pass). All four reuse the exact
    // machinery their standalone queries pin:
    //  - ngram_contamination: q256's bloom-gated exact containment
    //    (train docs containing an eval item at C >= 0.7); pass = none.
    //  - semantic_leakage: q251's banded-LSH + exact-cosine audit at
    //    the production 64-bit/4-band geometry (planted twins — the
    //    random corpus has no cosine >= 0.9 mass); pass = none.
    //  - token_drift: q222's JS divergence between src0/src1 token
    //    distributions; pass = js <= 0.5 nats (release threshold).
    //  - quality_funnel: q230's first-failing-gate attribution
    //    (lang -> quality -> dedup); pass = rejection rate <= 0.95.
    // Scale shape: each branch folds to ONE row before the final
    // 4-row union — the gate's cost is exactly the sum of its audits,
    // and nothing joins corpus-sized frames across branches.
    "q264_release_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val emb = t(s, dir, "embeddings")
      val ng = Dedup.crossContainmentBloom(
          docs.filter(pmod(col("doc_id"), lit(10)) === 0),
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
          "doc_id", "text", shingleN = 3, threshold = 0.7)
        .agg(countDistinct(col("id_doc")).as("n"),
          coalesce(max(col("containment")), lit(0.0)).as("w"))
        .select(lit("ngram_contamination").as("check"),
          col("n").cast("long").as("n_flagged"),
          round(col("w"), 6).as("worst"), (col("n") === 0).as("pass"))
      val evalVecs = emb.select(col("vec_id"), col("embedding"))
        .filter(pmod(col("vec_id"), lit(10)) === 0)
      val trainVecs = emb.select(col("vec_id"), col("embedding"))
        .filter(pmod(col("vec_id"), lit(10)) =!= 0)
        .unionByName(plantTwins(evalVecs, "vec_id", "embedding"))
      val sem = Similarity.crossSplitSemanticLeakage(trainVecs, evalVecs,
          "vec_id", "embedding", threshold = 0.9)
        .agg(count(lit(1)).as("n"),
          coalesce(max(col("max_cosine")), lit(0.0)).as("w"))
        .select(lit("semantic_leakage").as("check"),
          col("n").cast("long").as("n_flagged"),
          round(col("w"), 6).as("worst"), (col("n") === 0).as("pass"))
      val drift = Drift.categoricalDrift(
          docs.select(col("source"),
            explode(TextFns.tokens(col("text"))).as("term")),
          col("term"), col("source"), "src0", "src1")
        .select(lit("token_drift").as("check"),
          col("n_cats").cast("long").as("n_flagged"),
          col("js_nats").as("worst"), (col("js_nats") <= 0.5).as("pass"))
      val d0 = docs.select(col("doc_id"), col("source"), col("lang"),
        TextFns.nfc(col("text")).as("text"))
      val scoredQ = Curate.hashedLinearScore(d0, "doc_id", "text")
        .select(col("doc_id"), col("score_units"))
      val passedC = col("lang") === "en" &&
        coalesce(col("score_units") > 0, lit(false))
      val wf = Window.partitionBy(col("__fp"), passedC)
        .orderBy(col("doc_id"))
      val flagged = d0.join(scoredQ, Seq("doc_id"), "left")
        .withColumn("__fp", md5(col("text")))
        .withColumn("__rn", row_number().over(wf))
      val funnel = Curate.rejectionReasons(flagged, Seq("source"), Seq(
          "lang" -> (col("lang") === "en"),
          "quality" -> (col("score_units") > 0),
          "duplicate" -> (col("__rn") === 1)))
        .agg(sum(when(col("reason") =!= "kept", col("n")).otherwise(lit(0L)))
            .as("n"),
          sum(col("n")).as("tot"))
        .select(lit("quality_funnel").as("check"),
          col("n").cast("long").as("n_flagged"),
          round(col("n").cast("double") / col("tot"), 6).as("worst"),
          (col("n").cast("double") / col("tot") <= 0.95).as("pass"))
      ng.unionByName(sem).unionByName(drift).unionByName(funnel)
        .orderBy(col("check"))
    }),

    // CRAWL-OVER-CRAWL ops report (VERDICT r13 #8 — the composition
    // flywheel): the four operations a corpus team runs when crawl N+1
    // lands, composed into ONE plan with per-stage accounting rows —
    //  1. snapshot diff (q247): added/removed/changed/unchanged per
    //     source between the previous and the new crawl;
    //  2. incremental dedup (q185): the new crawl's FRESH docs (added
    //     or content-changed — the only rows that can introduce new
    //     duplication) against the OLD corpus index, exact-complete
    //     LSH, per-source flagged counts + id_sum identity + worst J;
    //  3. drift gate (q222): token-distribution JS/support between the
    //     snapshots — the "did the crawler change under us" tripwire;
    //  4. deterministic shard publication (q224): the ACCEPTED set
    //     (new crawl minus flagged dups) hashed into 8 shards, each
    //     folded to (count, id_sum, max seq).
    // Scale shape: the old index's shingle/df frames registry-persist
    // (crossCorpusDupes' contract — crawl N+2 reuses them), the fresh
    // slice is diff-sized not corpus-sized, drift folds map-side onto
    // the vocab, and every stage emits accounting rows, never corpora.
    "q265_crawl_ops" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // BOTH snapshot frames registry-persist WITH their fingerprint
      // column (VERDICT r14 #4): the four stages below each consumed a
      // derived filter of `documents` — the corpus scanned ~5× and
      // `next`'s fingerprint computed twice. Now each side scans once
      // on first materialization and every stage reads the cached
      // frame; crawl N+2 reuses them via the canonicalized-plan key.
      val prev = FrameCache.persist(
        docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
          .withColumn("__fpo", TextFns.fingerprint(col("text"))))
      val next = FrameCache.persist(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("text",
            when(pmod(Dedup.portableHash64(col("text")), lit(5)) === 0,
              concat(col("text"), lit(" rev2"))).otherwise(col("text")))
          .withColumn("__fpn", TextFns.fingerprint(col("text"))))
      def row(stage: Column, key: Column, n: Column, idSum: Column,
              metric: Column) =
        struct(stage.as("stage"), key.as("key"), n.cast("long").as("n"),
          idSum.cast("long").as("id_sum"),
          metric.cast("double").as("metric"))
      // 1. diff — one row per (stage, source); fingerprints precomputed
      val diffRows = Dedup.snapshotDiff(prev, next, "doc_id", "source",
          "text", oldFpCol = Some("__fpo"), newFpCol = Some("__fpn"))
        .select(explode(array(
          row(lit("diff_added"), col("source"), col("n_added"), lit(0L), lit(0.0)),
          row(lit("diff_removed"), col("source"), col("n_removed"), lit(0L), lit(0.0)),
          row(lit("diff_changed"), col("source"), col("n_changed"), lit(0L), lit(0.0)),
          row(lit("diff_unchanged"), col("source"), col("n_unchanged"), lit(0L), lit(0.0))
        )).as("r"))
      // 2. fresh slice = added or content-changed rows of the new crawl
      val fpPrev = prev.select(col("doc_id"), col("__fpo").as("__fo"))
      val fresh = next
        .join(fpPrev, Seq("doc_id"), "left")
        .filter(col("__fo").isNull || col("__fo") =!= col("__fpn"))
        .drop("__fo", "__fpn")
      // flagged-pair frame is consumed TWICE (per-source dup accounting
      // AND the accepted-set anti-join of stage 4) — without a persist
      // the banded join + exact-jaccard verification ran twice
      // (measured r16: the two 386-row aggregates at 4.4 s + 3.4 s CPU
      // were the same pass). Diff-sized accounting frame — bounded.
      val dupes = FrameCache.persist(
        Dedup.crossCorpusDupes(fresh, prev.drop("__fpo"),
          "doc_id", "text", shingleN = 3, threshold = 0.5))
      val dupRows = dupes
        .groupBy(col("id_new")).agg(max(col("jaccard")).as("__j"))
        .join(next.select(col("doc_id").as("id_new"), col("source")),
          Seq("id_new"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("__n"), sum(col("id_new")).as("__ids"),
          max(col("__j")).as("__w"))
        .select(row(lit("dup_new"), col("source"), col("__n"),
          col("__ids"), col("__w")).as("r"))
      // 3. drift between the snapshots' token distributions
      val tagged = prev
        .select(lit("prev").as("snap"),
          explode(TextFns.tokens(col("text"))).as("term"))
        .unionByName(next.select(lit("next").as("snap"),
          explode(TextFns.tokens(col("text"))).as("term")))
      val driftRows = Drift.categoricalDrift(tagged, col("term"),
          col("snap"), "prev", "next")
        .select(row(lit("drift"), lit("prev_vs_next"), col("n_cats"),
          lit(0L), col("js_nats")).as("r"))
      // 4. publish the accepted set deterministically into 8 shards
      val accepted = next.drop("__fpn").join(
        dupes.select(col("id_new").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      val shardRows = Drift.publishShards(accepted, "doc_id",
          nShards = 8, seed = 7L)
        .groupBy(col("shard"))
        .agg(count(lit(1)).as("__n"), sum(col("doc_id")).as("__ids"),
          max(col("seq")).as("__mx"))
        .select(row(lit("shard"), col("shard").cast("string"), col("__n"),
          col("__ids"), col("__mx").cast("double")).as("r"))
      diffRows.unionByName(dupRows).unionByName(driftRows)
        .unionByName(shardRows)
        .select(col("r.stage").as("stage"), col("r.key").as("key"),
          col("r.n").as("n"), col("r.id_sum").as("id_sum"),
          round(col("r.metric"), 6).as("metric"))
        .orderBy(col("stage"), col("key"))
    })
  )
}
