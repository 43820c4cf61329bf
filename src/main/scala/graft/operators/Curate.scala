package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.FrameCache

/** Corpus-curation operators for training-data pipelines (builder-brief
  * extension): deterministic source mixing, sequential sequence packing,
  * and filter-funnel accounting. All deterministic (portable-hash
  * ordering, no RNG) so results reproduce across engines and cluster
  * sizes, and every step is one scan + one bounded shuffle.
  */
object Curate {

  /** Deterministic corpus mixing: sample to target source proportions.
    * Each source `s` keeps its `floor(k · w_s)` docs with the smallest
    * portable id hash (ties by id) — the per-source budget of a global
    * sample of size ~k under mixture weights `w`. The weights table is
    * tiny → broadcast; selection is the threshold-prefiltered exact
    * rank of `selectSmallestByHash` (see there for the scale shape).
    */
  def mixSample(df: DataFrame, idCol: String, sourceCol: String,
                weights: Map[String, Double], k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n"))
    val budgets = weights.toSeq.map { case (s, w) =>
      (s, math.floor(k * w).toLong)
    }.toDF(sourceCol, "__budget")
      .join(counts, Seq(sourceCol))
    selectSmallestByHash(df, idCol, sourceCol, budgets)
  }

  /** Exact per-key selection of the `__budget` rows with the smallest
    * (portableHash64(id), id) — the shared kernel of mixSample and
    * temperatureSample.
    *
    * The naive form — row_number over a per-key window — funnels each
    * key's ENTIRE partition through one reducer and sorts all of it: a
    * 90%-dominant source at 100 TB is one task sorting 90 TB. Here the
    * hash's uniformity (it is md5-derived, uniform regardless of the
    * id distribution) turns selection into a THRESHOLD problem: the
    * b-th smallest of n uniform draws on [0, 2⁶⁰) concentrates at
    * (b/n)·2⁶⁰, so a map-only prefilter at that threshold (with
    * relative slack ε + an additive floor for small b) keeps
    * ~b·(1+ε) candidate rows per key, and only THOSE are ranked —
    * the per-key reducer sorts (1+ε)·budget rows instead of n.
    *
    * Exactness is never probabilistic: if ≥ b rows survive the filter
    * for a key, the b smallest by (h, id) all survive (count(h<t) ≥ b
    * ⟹ the b-th smallest h < t — monotone), so ranking survivors IS
    * the exact answer. Keys where the filter undershot (< b survivors
    * — possible only when hash clumping beats the slack) fall back to
    * ranking the full key, detected by comparing survivor counts to
    * budgets: output is identical either way, the fast path is merely
    * overwhelmingly likely. `budgets` must carry (key, __budget, __n).
    */
  private[graft] def selectSmallestByHash(
      df: DataFrame, idCol: String, keyCol: String,
      budgets: DataFrame, slack: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val M = 1L << 60 // portableHash64 range
    val h = Dedup.portableHash64(col(idCol).cast("string"))
    // threshold: (b/n)(1+ε)·M plus an additive floor so small budgets
    // (where relative concentration is weak) get absolute headroom
    val thresh = least(lit(M.toDouble),
      (col("__budget").cast("double") * (1 + slack) + 64d)
        / col("__n") * M).cast("long")
    // budgets is |keys|-bounded and referenced twice (the candidate
    // join and the undershot detection) — persist so each reference
    // doesn't re-run the caller's counts aggregate over the corpus
    // (r16; q182's executed plan ran it twice)
    val b = FrameCache.persist(budgets)
    val withB = df.join(broadcast(b), Seq(keyCol))
      .withColumn("__h", h)
      .withColumn("__t", thresh)
    // undershot keys: survivor count below budget (tiny frame — one
    // map-side-combined count onto |keys| rows). LEFT join from the
    // budget table so a key with ZERO survivors is still caught.
    // survCnt is |keys|-bounded (one partially-aggregated count per
    // key) — broadcast it so this join never plans a sort-merge (r16's
    // executed q182 plan spent 2 exchanges + 2 sorts on a 20-row join)
    val survCnt = withB.filter(col("__h") < col("__t"))
      .groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
    val short = b.join(broadcast(survCnt), Seq(keyCol), "left_outer")
      .filter(coalesce(col("__c"), lit(0L)) < col("__budget"))
      .select(col(keyCol)).withColumn("__short", lit(true))
    // ONE candidate pass (r16 — was fast ∪ slow over three scans of
    // withB, each re-hashing the corpus): undershot keys keep ALL
    // their rows (the old semi-join "slow" branch), every other key
    // keeps only its h < t survivors (the old anti-join "fast"
    // branch). Row-multiset identical to the union by case analysis
    // on short(key); the window then ranks the same rows either way.
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__h"), col(idCol))
    withB.join(broadcast(short), Seq(keyCol), "left_outer")
      .filter(coalesce(col("__short"), lit(false)) || col("__h") < col("__t"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__budget"))
      .drop("__rn", "__h", "__t", "__budget", "__n", "__short")
  }

  /** Temperature-scaled source mixing — the "alpha sampling" of
    * multilingual pre-training (mBERT / XLM-R / mT5): source s with
    * corpus share p_s = n_s/N is resampled with weight
    * w_s ∝ p_s^α (α < 1 flattens the distribution, upsampling tail
    * sources and downsampling the head; α = 1 is proportional; α = 0
    * is uniform over sources). Since N^α cancels in the normalization,
    * w_s = n_s^α / Σ_t n_t^α.
    *
    * Deterministic, engine-reproducible selection: per-source budget
    *   b_s = min(n_s, floor(round(frac·N·w_s, 6)))
    * (rounded to 6 dp BEFORE the floor so a last-ulp pow()/division
    * drift across engines cannot flip the floor), kept as the b_s
    * docs with the smallest portable id hash (ties by id) — no RNG,
    * no seed, same rows win on any cluster size or rerun.
    *
    * Scale shape: source counts are ONE map-side-combined aggregate
    * onto |sources| rows; the normalizer is a one-row aggregate over
    * that tiny frame; budgets broadcast back to the corpus; selection
    * goes through `selectSmallestByHash` — a map-only hash-threshold
    * prefilter so the per-source rank sorts ~budget rows, not the
    * whole source (the dominant-source skew killer).
    */
  def temperatureSample(df: DataFrame, idCol: String, sourceCol: String,
                        alpha: Double, frac: Double): DataFrame = {
    val budgets = temperatureBudgets(df, sourceCol, alpha, frac)
      .select(col(sourceCol), col("budget").as("__budget"),
        col("n").as("__n"))
    selectSmallestByHash(df, idCol, sourceCol, budgets)
  }

  /** The per-source budget table behind temperatureSample:
    * (source, n, weight, budget). Tiny (|sources| rows) — broadcast by
    * construction.
    */
  def temperatureBudgets(df: DataFrame, sourceCol: String,
                         alpha: Double, frac: Double): DataFrame = {
    // counts is |sources|-bounded but referenced TWICE (the normalizer
    // aggregate and the weight projection) — unpersisted, the corpus
    // count aggregate ran once per reference (two full scans in r16's
    // executed q182 plan); persisted, the corpus folds once
    val counts = FrameCache.persist(
      df.groupBy(col(sourceCol)).agg(count(lit(1)).as("n")))
    val tot = counts.agg(sum(col("n")).as("__N"),
      sum(pow(col("n").cast("double"), lit(alpha))).as("__W"))
    counts.crossJoin(broadcast(tot))
      .withColumn("weight",
        pow(col("n").cast("double"), lit(alpha)) / col("__W"))
      .withColumn("budget", least(col("n"),
        floor(round(lit(frac) * col("__N") * col("weight"), 6))))
      .select(col(sourceCol), col("n"), col("weight"), col("budget"))
  }

  /** Budget-quantized sequential packing: assign docs (in a fixed order
    * per `by` group) to training sequences of ~`budget` tokens each:
    * pack_id = ⌊exclusive-prefix-sum(tokens) / budget⌋. This is the
    * map-side streaming approximation of greedy bin packing — documents
    * can straddle a boundary (they'd be truncated/continued by the
    * loader), which is exactly what sequential packers in LLM data
    * loaders do. One window cumsum per group — a single shuffle on the
    * group key, no iteration.
    */
  def packSequences(df: DataFrame, by: Seq[String], order: Seq[Column],
                    tokenCol: String, budget: Long,
                    out: String = "pack_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(by.map(col): _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__cum", sum(col(tokenCol)).over(w))
      .withColumn(out, floor((col("__cum") - col(tokenCol)) / budget))
      .drop("__cum")
  }

  /** Overlapping fixed-size character chunking — the context-window
    * splitter every RAG / pre-training pipeline runs before embedding
    * or packing: doc → chunks of `size` chars starting every
    * `size − overlap` chars, last chunk ragged. Chunk count is the
    * integer-exact ⌈(L − overlap)/step⌉ clamped to ≥ 1 (identical
    * arithmetic on any engine — no float division), so a short doc is
    * one whole-text chunk. Pure codegen explode of substrings: one
    * scan, no shuffle, no UDF — a map-only pass at 100 TB, and the
    * output inherits the input's partitioning for the downstream
    * embed/pack stage.
    */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                size: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val step = size - overlap
    val len = length(col(textCol))
    val nChunks = greatest(lit(1L),
      floor((len - overlap + (step - 1)) / step).cast("long"))
    df.select(col(idCol), col(textCol),
        posexplode(sequence(lit(0L), nChunks - 1)).as(Seq("chunk_id", "__i")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        col(textCol).substr((col("__i") * step + 1).cast("int"), lit(size))
          .as("chunk"))
  }

  /** Filter-funnel accounting: per group, the row count surviving each
    * named stage predicate and the intersection of all stages — the
    * "where did my corpus go" report, as ONE map-side-combined aggregate
    * (conditional sums), not one pass per stage.
    */
  def funnel(df: DataFrame, by: Seq[String],
             stages: Seq[(String, Column)]): DataFrame = {
    val aggs = count(lit(1)).as("n_total") +:
      (stages.map { case (name, pred) =>
        sum(when(pred, 1L).otherwise(0L)).as(s"n_$name")
      } :+ sum(when(stages.map(_._2).reduce(_ && _), 1L).otherwise(0L))
        .as("n_all"))
    df.groupBy(by.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-document rejection attribution — the ops-facing complement of
    * [[funnel]]: each row is labeled with the FIRST gate (in the given
    * order) that rejects it, `kept` if every gate passes, and the
    * result is the per-group (reason, count) breakdown — "why did 40%
    * of crawl X get dropped". A NULL gate predicate counts as a
    * REJECTION by that gate (a null lang can't prove itself English —
    * the same conservative stance the funnel's filters take).
    *
    * Shape: one when-chain projection (codegen'd, first-match order is
    * the chain order) + one map-side-combined count aggregate. Gates
    * whose predicate needs context (the dedup keep-first flag, a model
    * score) are precomputed COLUMNS by the caller — attribution itself
    * never joins or shuffles beyond the final dictionary-sized count.
    */
  def rejectionReasons(df: DataFrame, by: Seq[String],
                       stages: Seq[(String, Column)]): DataFrame =
    df.groupBy((by.map(col) :+ rejectionReasonCol(stages).as("reason")): _*)
      .agg(count(lit(1)).as("n"))

  /** The first-failing-gate label column shared by [[rejectionReasons]]
    * and its streaming twin (StreamOps.streamingRejectionReasons):
    * one codegen'd when-chain, first-match order = gate order, NULL
    * predicate = rejection, `kept` reserved for all-pass.
    */
  private[graft] def rejectionReasonCol(stages: Seq[(String, Column)]): Column = {
    require(stages.nonEmpty, "need at least one gate")
    require(stages.map(_._1).distinct.size == stages.size,
      "duplicate gate names")
    require(!stages.exists(_._1 == "kept"),
      "'kept' is the reserved pass label — rename the gate")
    val head = when(!coalesce(stages.head._2, lit(false)),
      lit(stages.head._1))
    stages.tail.foldLeft(head) { case (acc, (n, p)) =>
      acc.when(!coalesce(p, lit(false)), lit(n))
    }.otherwise(lit("kept"))
  }

  /** The Gopher document-quality rule set (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", Table A1 — public heuristics), as named gate predicates
    * for [[rejectionReasons]] / [[funnel]]: word count in [50, 100k],
    * mean word length in [3, 10], symbol-to-word ratio (# / …) ≤ 0.1
    * (the paper removes only ratio > 0.1, so the boundary document is
    * KEPT), ≥ 80% of words containing an alphabetic character, and ≥ 2
    * DISTINCT words from the paper's 8-stopword list (Table A1 reads
    * "contain at least two of the following words" — distinct words,
    * not total occurrences). (The line-shape rules — bullet /
    * ellipsis line starts — need line structure the synthetic corpus
    * lacks and belong to an ingest layer that splits lines.)
    *
    * Every predicate compares INTEGER cross-products (e.g. mean word
    * length ∈ [3,10] as `3·n_words ≤ Σlen ≤ 10·n_words`), so a
    * boundary document can never flip on float rounding — decisions
    * are bit-identical on any engine. Pure codegen'd Columns, one scan.
    */
  def gopherGates(text: Column): Seq[(String, Column)] = {
    val toks = filter(graft.functions.TextFns.tokens(text),
      x => x =!= lit(""))
    val nW = size(toks).cast("long")
    val sumLen = coalesce(aggregate(toks, lit(0L),
      (a, x) => a + length(x).cast("long")), lit(0L))
    val nSym = (length(text) - length(replace(text, lit("#"), lit(""))))
      .cast("long") +
      floor((length(text) - length(replace(text, lit("..."), lit(""))))
        .cast("double") / 3.0).cast("long")
    val nAlpha = size(filter(toks, x => x.rlike("[a-z]"))).cast("long")
    val stop8 = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = size(array_intersect(toks,
      array(stop8.map(lit): _*))).cast("long")
    Seq(
      "word_count" -> (nW >= 50L && nW <= 100000L),
      "mean_word_len" -> (sumLen >= lit(3L) * nW && sumLen <= lit(10L) * nW),
      "symbol_ratio" -> (lit(10L) * nSym <= nW),
      "alpha_frac" -> (lit(5L) * nAlpha >= lit(4L) * nW),
      "stopwords" -> (nStop >= 2L))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed n-gram features are under a
    * TARGET-domain bag-of-grams model than under the RAW-corpus model.
    * Features are unigrams + bigrams hashed into `buckets` buckets
    * (portable md5 hash, so the oracle recomputes the assignment);
    * both models are add-one-smoothed multinomials over buckets;
    * log w(doc) = Σ_gram [ln p_target(b(g)) − ln p_raw(b(g))].
    * Selection is then a threshold or top-k on `log_weight` (the
    * paper's Gumbel resampling adds RNG — deliberately left to the
    * caller so the operator stays deterministic).
    *
    * Scale shape: one explode over tokens (codegen'd), the two bucket
    * models are hash aggregates onto ≤ `buckets` rows, the scoring join
    * BROADCASTS the bucket table (B rows regardless of corpus size),
    * and the per-doc sum is map-side combined — the gram stream is
    * never shuffled on a gram key. 100 TB-ready by construction.
    */
  def dsirLogWeights(df: DataFrame, idCol: String, textCol: String,
                     targetFilter: Column, buckets: Int = 1024,
                     out: String = "log_weight"): DataFrame = {
    // the tokenize → bigram-concat → md5 explode dominates the cost and
    // feeds THREE consumers (raw model, target model, scoring join) —
    // materialize it once through the dedup LRU registry instead of
    // recomputing the hash stream per consumer (was 4 passes: the totals
    // below used to be a fourth full gram scan; they now fold the ≤B-row
    // bucket aggregates). Frame is (id, bool, bucket) per gram — tiny
    // relative to text; spills at scale; FrameCache.clear() reclaims.
    val grams = FrameCache.persist(df
      .withColumn("__tgt", targetFilter)
      .select(col(idCol), col("__tgt"),
        graft.functions.TextFns.tokens(col(textCol)).as("__t"))
      .select(col(idCol), col("__tgt"), explode(concat(
        col("__t"),
        expr("transform(slice(__t, 1, size(__t) - 1), " +
          "(w, i) -> concat(w, ' ', element_at(__t, i + 2)))"))).as("__g"))
      .withColumn("__b", pmod(Dedup.portableHash64(col("__g")), lit(buckets)))
      .select(col(idCol), col("__tgt"), col("__b")))
    val cr = grams.groupBy(col("__b")).agg(count(lit(1)).as("__cr"))
    val ct = grams.filter(col("__tgt")).groupBy(col("__b"))
      .agg(count(lit(1)).as("__ct"))
    val joined = cr.join(ct, Seq("__b"), "left")
    // corpus totals = sums of the per-bucket counts (≤ buckets rows) —
    // no extra pass over the gram stream
    val totals = joined.agg(
      sum(col("__cr")).cast("double").as("__nr"),
      sum(coalesce(col("__ct"), lit(0L))).cast("double").as("__nt"))
    val model = joined
      .crossJoin(broadcast(totals))
      .select(col("__b"),
        (log((coalesce(col("__ct"), lit(0L)).cast("double") + 1d) /
          (col("__nt") + buckets)) -
          log((col("__cr").cast("double") + 1d) /
            (col("__nr") + buckets))).as("__lw"))
    grams.join(broadcast(model), Seq("__b"))
      .groupBy(col(idCol))
      .agg(round(sum(col("__lw")), 6).as(out),
        count(lit(1)).as("n_grams"))
  }

  /** Hashing-trick linear text scorer — the shape of a fastText-style
    * quality classifier applied at corpus scale (feature hashing:
    * Weinberger et al. 2009; fastText: Joulin et al. 2016). Tokens hash
    * onto `buckets` feature slots; each slot carries an INTEGER weight
    * in units of 1/9998 from a fixed affine-modular generator (stand-in
    * for trained weights — swap the generated table for a real model's);
    * a document's score is the mean slot weight of its tokens.
    *
    * Integer units are the determinism trick: the per-doc accumulation
    * is a LONG sum (exact, order-independent — float sums drift with
    * Spark's partition order), with ONE float division at the end, so
    * scores and above/below-zero decisions are bit-stable across
    * cluster sizes and reproducible by any engine.
    *
    * Scale shape: weights table is `buckets` rows → broadcast; the
    * token stream maps to (doc, bucket), joins the broadcast, and
    * map-side-combines into per-doc sums — one explode, one bounded
    * shuffle on the doc key, no token-key shuffle anywhere.
    *
    * Returns (id, carryCols..., n_tokens, score_units, score).
    * `carryCols` ride through the per-doc aggregate (they're
    * functionally dependent on the doc id), so a consumer grouping by
    * e.g. source needs no second join back to the doc table.
    */
  /** The scorer's weight generator — a pure hash of the feature
    * bucket, shared with the streaming funnel so the ingest-time
    * admit/reject decision can never desynchronize from this scorer.
    */
  private[graft] def hashedWeight(b: Column): Column =
    pmod(b * lit(2654435761L) + lit(104729L), lit(19997L)) - lit(9998L)

  def hashedLinearScore(df: DataFrame, idCol: String, textCol: String,
                        buckets: Int = 4096,
                        carryCols: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    val weights = spark.range(buckets.toLong).select(
      col("id").as("__b"), hashedWeight(col("id")).as("__w"))
    val keys = (idCol +: carryCols).map(col)
    df.select(keys :+
        explode(graft.functions.TextFns.tokens(col(textCol))).as("__t"): _*)
      .withColumn("__b", pmod(Dedup.portableHash64(col("__t")),
        lit(buckets.toLong)))
      .join(broadcast(weights), Seq("__b"))
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_tokens"), sum(col("__w")).as("score_units"))
      .withColumn("score", round(col("score_units").cast("double")
        / (lit(9998d) * col("n_tokens")), 6))
  }

  /** Prototype-based data pruning (the cluster-centroid ranking of
    * Sorscher et al. 2022, "Beyond neural scaling laws: beating power
    * law scaling via data pruning"): within each cluster, rank points
    * by cosine similarity to the cluster centroid; the most prototypical
    * (= most redundant) fraction is the prune candidate set. Shape:
    * centroids are an element-wise mean via posexplode + one hash
    * aggregate keyed on (cluster, dim-index) — never a collect_list of
    * vectors — then a tiny (k × dim) centroid table broadcasts back and
    * the rank is a window WITHIN a cluster (partition size = cluster
    * size, which k-means granularity bounds; for degenerate giant
    * clusters route through GroupOps' salted selection instead).
    * Deterministic: vec_id breaks cosine ties.
    */
  def prototypeRank(df: DataFrame, idCol: String, vecCol: String,
                    clusterCol: String, pruneFrac: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dims = df.select(col(idCol), col(clusterCol),
      posexplode(col(vecCol)).as(Seq("__i", "__v")))
    val cent = dims.groupBy(col(clusterCol), col("__i"))
      .agg(avg(col("__v").cast("double")).as("__m"))
      .groupBy(col(clusterCol))
      .agg(array_sort(collect_list(struct(col("__i"), col("__m")))).as("__im"))
      .select(col(clusterCol),
        expr("transform(__im, x -> x.__m)").as("__cvec"))
    val w = Window.partitionBy(col(clusterCol))
    val wo = w.orderBy(col("__cos").desc, col(idCol).asc)
    df.join(broadcast(cent), Seq(clusterCol))
      .withColumn("__cos",
        Similarity.cosine(col(vecCol).cast("array<double>"), col("__cvec")))
      .withColumn("__rk", row_number().over(wo))
      .withColumn("__n", count(lit(1)).over(w))
      .select(col(idCol), col(clusterCol),
        round(col("__cos"), 6).as("cos_centroid"),
        (col("__rk") <= floor(col("__n") * lit(pruneFrac)))
          .as("prunable"))
  }

  /** Cross-source score calibration: replace a raw quality score with
    * its within-source percentile rank, so one threshold means the
    * same thing in every domain (a classifier's raw scores are not
    * comparable across domains — the standard fix before a global
    * quality cut). Semantics = SQL `percent_rank() OVER (PARTITION BY
    * source ORDER BY score)`: (min_rank − 1)/(n − 1), ties share the
    * min rank, a 1-row source calibrates to 0.
    *
    * Shape: NOT a window over the corpus — `percent_rank` would sort
    * each source in one task (the giant-source funnel). Instead the
    * corpus collapses map-side to its DISTINCT (source, score) frame;
    * one window over that small frame computes cumulative counts (=
    * min-ranks); the per-score calibration broadcast-joins back. The
    * corpus itself never shuffles; the window frame is bounded by
    * distinct scores per source (round a continuous score first).
    */
  def calibrateScores(df: DataFrame, sourceCol: String, score: Column,
                      out: String = "calibrated"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perScore = df.select(col(sourceCol), score.as("__s"))
      .filter(col("__s").isNotNull)
      .groupBy(col(sourceCol), col("__s"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(sourceCol)).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wn = Window.partitionBy(col(sourceCol))
    val calib = perScore
      .withColumn("__below", coalesce(sum(col("__c")).over(w), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(wn))
      .select(col(sourceCol), col("__s"),
        when(col("__n") === 1, lit(0d))
          .otherwise(col("__below").cast("double") / (col("__n") - 1))
          .as(out))
    df.withColumn("__s", score)
      .join(broadcast(calib), Seq(sourceCol, "__s"), "left")
      .drop("__s")
  }

  /** UniMax corpus mixing (Chung et al. 2023, "UniMax: Fairer and More
    * Effective Language Sampling for Large-Scale Multilingual
    * Pretraining"): allocate a total token budget B across sources with
    * a per-source repeat cap — each source may contribute at most
    * `epochCap` epochs of its own tokens, and the remainder of the
    * budget spreads UNIFORMLY over the sources that can still absorb
    * it. UniMax's sequential scan over sources (ascending by size,
    * "give each its fair share or its cap, whichever is smaller") is
    * exactly water-filling, so it has a closed form: find the level t
    * with Σᵢ min(capᵢ, t) = B, then allocᵢ = min(capᵢ, t). That closed
    * form is one window over the per-source frame — no iteration.
    *
    * Shape: ONE map-side-combined aggregate collapses the corpus to
    * |sources| rows (token sums); the water-level search is a window +
    * one-row aggregate over that dictionary-sized frame; nothing about
    * the corpus itself shuffles. Output: (source, tokens, cap, alloc),
    * Σ alloc = min(B, Σ cap) up to float rounding.
    */
  def unimaxBudgets(df: DataFrame, sourceCol: String, tokens: Column,
                    epochCap: Double, budgetFrac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // |sources|-bounded but referenced THREE times (the budget total and
    // both `staged` consumers below) — persisted so the corpus token
    // aggregate folds once instead of once per reference (r17)
    val perSrc = FrameCache.persist(df.groupBy(col(sourceCol))
      .agg(sum(tokens).cast("double").as("tokens"))
      .withColumn("cap", col("tokens") * lit(epochCap)))
    val tot = perSrc.agg((sum(col("tokens")) * lit(budgetFrac)).as("__B"),
      count(lit(1)).as("__k"))
    // ascending by cap (ties by source name): row j's candidate level
    // t_j = (B − Σ_{i<j} cap_i) / (k − j + 1) is the uniform fill of
    // the remaining sources; the water level is the FIRST (= largest)
    // candidate that does not overflow its own row's cap.
    val wOrd = Window.orderBy(col("cap"), col(sourceCol))
    val staged = perSrc.crossJoin(broadcast(tot))
      .withColumn("__cum_prev",
        coalesce(sum(col("cap")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, -1)), lit(0d)))
      .withColumn("__j", row_number().over(wOrd))
      .withColumn("__t",
        (col("__B") - col("__cum_prev")) / (col("__k") - col("__j") + 1))
    val level = staged
      .agg(max(when(col("__t") <= col("cap"), col("__t"))).as("__level"))
    staged.crossJoin(broadcast(level))
      .select(col(sourceCol), col("tokens"), col("cap"),
        // no valid level ⇒ B ≥ Σ cap ⇒ every source fills to its cap
        round(least(col("cap"), coalesce(col("__level"), col("cap"))), 6)
          .as("alloc"))
  }

  /** Train a quality/label classifier IN the engine: full-batch gradient
    * descent on a linear model over hashed bag-of-words counts — the
    * fastText-style filter trainer (cf. CCNet / GPT-3's quality
    * classifier) as a distributed pipeline, closing the loop that
    * [[hashedLinearScore]] only infers.
    *
    * Every quantity is an exact LONG, so training is bit-reproducible
    * on any engine or cluster layout and the oracle can replay it:
    *  - features x_ib = token count of doc i in bucket b (pmod of the
    *    portable 60-bit hash — model size `buckets`, corpus-independent);
    *  - weights live in micro-units (w_units = round(w·1e6));
    *  - the margin z_units = Σ_b w_units_b·x_ib is an exact long sum
    *    (order-independent — a float dot product would drift with
    *    partition order, the same trap [[hashedLinearScore]] dodges);
    *  - the link is the HARD sigmoid σ̃(z) = clamp(z/4 + 1/2, 0, 1)
    *    (the MobileNet/BinaryConnect surrogate), scaled to integers as
    *    P = clamp(z_units + 2e6, 0, 4e6) = 4e6·σ̃ — clamp of a long,
    *    no exp(), so no libm last-ulp hazard between engines;
    *  - the gradient Σ_i (P_i − 4e6·y_i)·x_ib is again an exact long
    *    sum, and the driver updates w_b ← w_b − ⌊lrNum·g_b / (4·n·
    *    lrDen)⌋ with floor division (floorDiv here, the mod-adjusted
    *    quotient in SQL).
    *
    * Scale shape: the feature frame (id, bucket, cnt) is built once
    * (one explode + one hash aggregate), repartitioned by doc id and
    * SORTED within partitions, then registered in the shared persist
    * registry — as is the (id, label) frame — so a sibling query
    * composing the same trainer (q234's gate over q232's scores) reuses
    * the materialized frames instead of re-exploding the corpus. The
    * label term of the gradient, gy_b = Σ_i y_i·x_ib, is CONSTANT
    * across iterations (y and x never change), so it is aggregated once
    * up front and the update uses grad_b = gp_b − 4e6·gy_b with
    * gp_b = Σ_i P_i·x_ib — exact long identities, bit-identical
    * weights. Each iteration is then a SINGLE pass over the feature
    * frame with NO join and NO sort: the weight vector broadcasts as a
    * `buckets`-long array literal (`element_at` lookup), per-doc
    * margins come from a window sum whose required (id) partitioning
    * and ordering the persisted layout already satisfies, and the only
    * shuffle is the bucket-keyed gp aggregate, map-side-combined down
    * to ≤ `buckets` rows per partition before it moves. Collects are
    * model-sized (`buckets` rows — bounded by the model, never the
    * corpus). Trained weights memoize per (session, input plan,
    * hyperparams) — deterministic plans only, the registry's own
    * precondition — so composing queries re-score without re-training.
    * Like BPE's merge loop, iterations are driver-sequenced jobs: fine
    * for the tens-of-epochs this model class needs (fastText uses 5),
    * documented as the bound.
    *
    * Returns per-doc scores under the trained model: (id, z_units,
    * margin = z_units/1e6 rounded 6dp, pred, label, correct).
    */
  def trainTextClassifier(df: DataFrame, idCol: String, textCol: String,
                          label: Column, buckets: Int = 512,
                          iters: Int = 4, lrNum: Long = 1L,
                          lrDen: Long = 4L): DataFrame =
    trainAndScore(df, idCol, textCol, label, buckets, iters, lrNum, lrDen)._2

  /** The trained weight VECTOR itself (micro-units), for deployment
    * outside this query — the streaming scorer
    * (StreamOps.streamingClassifierScore) ships it as a literal and
    * scores each arriving doc map-only. Same memo as the scoring form.
    */
  def trainTextClassifierWeights(df: DataFrame, idCol: String,
                                 textCol: String, label: Column,
                                 buckets: Int = 512, iters: Int = 4,
                                 lrNum: Long = 1L,
                                 lrDen: Long = 4L): Array[Long] =
    trainAndScore(df, idCol, textCol, label, buckets, iters, lrNum, lrDen)._1

  private def trainAndScore(df: DataFrame, idCol: String, textCol: String,
                            label: Column, buckets: Int,
                            iters: Int, lrNum: Long,
                            lrDen: Long): (Array[Long], DataFrame) = {
    require(buckets > 0 && iters >= 0 && lrDen > 0, "bad hyperparams")
    val U = 1000000L
    // null label ⇒ negative class (a doc with no label is "not the
    // target"), keeping y total so n and the gradient stay exact
    import org.apache.spark.sql.expressions.Window
    val base = FrameCache.persist(
      df.select(col(idCol).as("__id"),
          coalesce(label.cast("boolean"), lit(false))
            .cast("int").cast("long").as("__y"))
        .repartition(col("__id")))
    // id-partitioned AND id-sorted so every iteration's window sum runs
    // with no exchange and no sort on the persisted blocks
    val x = FrameCache.persist(
      df.select(col(idCol).as("__id"),
          explode(graft.functions.TextFns.tokens(col(textCol))).as("__t"))
        .select(col("__id"),
          pmod(Dedup.portableHash64(col("__t")), lit(buckets.toLong)).as("__b"))
        .groupBy(col("__id"), col("__b")).agg(count(lit(1)).as("__cnt"))
        .repartition(col("__id"))
        .sortWithinPartitions(col("__id")))
    val n = base.count()
    def wAt(wts: Array[Long]): Column =
      element_at(typedlit(wts.toSeq), (col("__b") + 1).cast("int"))
    def margins(wts: Array[Long]): DataFrame =
      x.select(col("__id"), (col("__cnt") * wAt(wts)).as("__wx"))
        .groupBy(col("__id")).agg(sum(col("__wx")).as("__z"))
    val byId = Window.partitionBy(col("__id"))
    def modelSized(dfm: DataFrame): Array[Long] = {
      val out = new Array[Long](buckets)
      // model-sized collect: ≤ `buckets` rows by construction
      dfm.collect().foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
      out
    }
    def train(): Array[Long] = {
      // constant across iterations: the label term gy_b = Σ_i y_i·x_ib
      // — one join + one model-sized aggregate, hoisted out of the loop
      val gy = modelSized(x.join(base, Seq("__id"))
        .groupBy(col("__b"))
        .agg(sum(col("__cnt") * col("__y")).as("__gy")))
      var cur = Array.fill(buckets)(0L)
      for (_ <- 1 to iters) {
        // single join-free, sort-free pass over x per iteration:
        // margin (window sum over the persisted id layout) and the
        // positive gradient term gp_b = Σ_i P_i·x_ib in one scan;
        // grad_b = gp_b − 4e6·gy_b exactly (docs with no tokens have
        // no x rows and contribute 0 to both terms)
        val gp = modelSized(
          x.withColumn("__z", sum(col("__cnt") * wAt(cur)).over(byId))
            .select(col("__b"), (col("__cnt") *
              least(greatest(col("__z") + lit(2 * U), lit(0L)), lit(4 * U)))
              .as("__gp"))
            .groupBy(col("__b")).agg(sum(col("__gp")).as("__g")))
        cur = Array.tabulate(buckets)(b => cur(b) -
          Math.floorDiv(lrNum * (gp(b) - 4L * U * gy(b)), 4L * n * lrDen))
      }
      cur
    }
    // n == 0 ⇒ nothing to fit (and the floorDiv denominator would be
    // 0): skip the update loop, weights stay 0, result is empty anyway
    val w: Array[Long] =
      if (n == 0 || iters == 0) Array.fill(buckets)(0L)
      else FrameCache.memo("textClassifier", x, base)(
        buckets, iters, lrNum, lrDen)(train())
    val scored = base.join(margins(w), Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__z"), lit(0L)).as("z_units"),
        round(coalesce(col("__z"), lit(0L)).cast("double") / lit(U.toDouble),
          6).as("margin"),
        (coalesce(col("__z"), lit(0L)) > 0).as("pred"),
        (col("__y") === 1).as("label"),
        ((coalesce(col("__z"), lit(0L)) > 0) === (col("__y") === 1))
          .as("correct"))
    (w, scored)
  }

  /** Score docs under FIXED trained weights (micro-units) — the batch
    * serve half of [[trainTextClassifier]], completing the train/serve
    * split alongside the streaming scorer: Models.ensureWeights reads
    * the weights artifact in a fresh session, this scores under it.
    * Same tokenize → bucket → exact long Σ cnt·w[b] margin as training
    * (integer-exact, ARCHITECTURE "Numeric determinism" table A), so
    * the output is bit-identical to the training session's own scoring
    * — q254's oracle IS q232's.
    */
  def scoreTextWith(df: DataFrame, idCol: String, textCol: String,
                    label: Column, w: Array[Long]): DataFrame = {
    val U = 1000000L
    val buckets = w.length
    require(buckets > 0, "empty weight model")
    val base = df.select(col(idCol).as("__id"),
      coalesce(label.cast("boolean"), lit(false))
        .cast("int").cast("long").as("__y"))
    val wAt = element_at(typedlit(w.toSeq), (col("__b") + 1).cast("int"))
    val margins = df.select(col(idCol).as("__id"),
        explode(graft.functions.TextFns.tokens(col(textCol))).as("__t"))
      .select(col("__id"),
        pmod(Dedup.portableHash64(col("__t")), lit(buckets.toLong)).as("__b"))
      .groupBy(col("__id"), col("__b")).agg(count(lit(1)).as("__cnt"))
      .select(col("__id"), (col("__cnt") * wAt).as("__wx"))
      .groupBy(col("__id")).agg(sum(col("__wx")).as("__z"))
    base.join(margins, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("__z"), lit(0L)).as("z_units"),
        round(coalesce(col("__z"), lit(0L)).cast("double") / lit(U.toDouble),
          6).as("margin"),
        (coalesce(col("__z"), lit(0L)) > 0).as("pred"),
        (col("__y") === 1).as("label"),
        ((coalesce(col("__z"), lit(0L)) > 0) === (col("__y") === 1))
          .as("correct"))
  }

  /** Drop every cached weight vector. Kept for
    * perfbench/src/Harness.scala; empties the whole [[FrameCache]]. */
  def clearClassifierMemo(): Unit = FrameCache.clear()

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * doc by how much likelier its hashed-unigram bag is under the
    * TARGET distribution than under the raw pool's own —
    * log w(x) = Σ_tokens [ln p̂_target(b(tok)) − ln p̂_raw(b(tok))]
    * with +1-smoothed bucket probabilities over `buckets` hashed
    * features. Top-weight docs are the ones that "look like" the
    * high-quality target corpus.
    *
    * Determinism/float discipline (ARCHITECTURE.md table): the two ln
    * calls happen ONCE PER BUCKET on exact integer counts, and the
    * per-bucket log-ratio is immediately quantized to integer
    * micro-units (⌊·1e6⌉). Per-doc scores are then exact LONG sums —
    * summation-order-independent, bit-reproducible on any partition
    * layout, and replayable in any engine with the same two-ln
    * per-bucket recipe. (The paper's Gumbel-noise resampling is
    * replaced by deterministic top-k under the (units, id) total
    * order — no RNG anywhere.)
    *
    * Scale shape: token streams fold to bucket histograms with
    * map-side combine (≤ `buckets` rows per side); totals are one-row
    * aggregates of those dictionary frames; the scored join is raw
    * tokens × a BROADCAST buckets-sized log-ratio dictionary followed
    * by ONE id-keyed map-side-combined sum. Nothing shuffles on the
    * token, nothing is n²; selection composes as TakeOrdered (bounded
    * k) downstream.
    */
  def dsirWeights(raw: DataFrame, target: DataFrame,
                  idCol: String, textCol: String,
                  buckets: Int = 2048): DataFrame = {
    val b = lit(buckets.toLong)
    val rawToks = raw
      .select(col(idCol),
        explode(graft.functions.TextFns.tokens(col(textCol))).as("__tk"))
      .withColumn("__b", pmod(Dedup.portableHash64(col("__tk")), b))
    rawToks
      .join(broadcast(dsirDictDf(raw, target, idCol, textCol, buckets)),
        Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__llr")).as("score_units"))
  }

  /** The (bucket, llr-units) dictionary behind [[dsirWeights]]:
    * ≤ `buckets` rows end to end — bucket histograms fold map-side,
    * totals ride as one-row broadcast cross joins, and the unseen
    * buckets still carry the smoothed ratio (coalesce(0) also covers
    * empty-side totals).
    */
  private def dsirDictDf(raw: DataFrame, target: DataFrame,
                         idCol: String, textCol: String,
                         buckets: Int): DataFrame = {
    require(buckets > 0)
    val spark = raw.sparkSession
    val b = lit(buckets.toLong)
    // ≤ buckets rows each, but consumed TWICE (dict join + totals) —
    // unpersisted, each side's tokenize + md5-hash explode ran twice
    // (4 of q257's 5 corpus token passes, 9.9 s CPU measured r16);
    // persisted, each pool folds once
    def bucketCounts(df: DataFrame, out: String): DataFrame =
      FrameCache.persist(
        df.select(explode(graft.functions.TextFns.tokens(col(textCol))).as("__tk"))
          .withColumn("__b", pmod(Dedup.portableHash64(col("__tk")), b))
          .groupBy(col("__b")).agg(count(lit(1)).as(out)))
    val tgtCnt = bucketCounts(target, "__t")
    val rawCnt = bucketCounts(raw, "__r")
    val tgtTot = tgtCnt.agg(sum(col("__t")).as("__tsum"))
    val rawTot = rawCnt.agg(sum(col("__r")).as("__rsum"))
    spark.range(buckets.toLong).toDF("__b")
      .join(tgtCnt, Seq("__b"), "left_outer")
      .join(rawCnt, Seq("__b"), "left_outer")
      .crossJoin(broadcast(tgtTot))
      .crossJoin(broadcast(rawTot))
      .select(col("__b"),
        round((log((coalesce(col("__t"), lit(0L)) + lit(1L)).cast("double")
            / (coalesce(col("__tsum"), lit(0L)) + b).cast("double"))
          - log((coalesce(col("__r"), lit(0L)) + lit(1L)).cast("double")
            / (coalesce(col("__rsum"), lit(0L)) + b).cast("double"))) * lit(1e6))
          .cast("long").as("__llr"))
  }

  /** The DSIR dictionary as a plain buckets-sized long array — the
    * model-as-literal contract (centroids/codebooks/weights), for
    * persistence (Models.ensureLlrDict) and literal serving. */
  def dsirLlrDict(raw: DataFrame, target: DataFrame,
                  idCol: String, textCol: String,
                  buckets: Int = 2048): Array[Long] = {
    val arr = new Array[Long](buckets)
    dsirDictDf(raw, target, idCol, textCol, buckets).collect()
      .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
    arr
  }

  /** DSIR scoring under a FIXED dictionary — the serve half of
    * [[dsirWeights]] for the train-once / score-every-crawl split. The
    * dictionary rides as ONE literal array and the whole score is a
    * single `aggregate` fold over the token array: map-only, zero
    * shuffle, no state — identical units to the training pool's
    * join-based path (exact long arithmetic both ways), and safe on a
    * STREAMING frame as-is (stateless projection; the streaming twin
    * needs no separate operator).
    */
  def dsirScoreWith(docs: DataFrame, idCol: String, textCol: String,
                    llr: Array[Long],
                    out: String = "score_units"): DataFrame = {
    require(llr.nonEmpty)
    val dict = typedlit(llr.toSeq)
    val b = lit(llr.length.toLong)
    val score = aggregate(
      graft.functions.TextFns.tokens(col(textCol)), lit(0L),
      (acc, t) => acc + element_at(dict,
        (pmod(Dedup.portableHash64(t), b) + 1).cast("int")))
    // null-text docs contribute NO token rows on the trained join path
    // (explode drops them) — drop them here too, or the serve path
    // would emit a null-score row the trained path never produces
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol), score.as(out))
  }
}
