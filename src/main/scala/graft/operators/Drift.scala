package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.FrameCache

/** Corpus drift monitoring — distribution-shift metrics between two
  * sources (or two crawl snapshots) of one corpus, and the
  * deterministic shard publisher that closes the pipeline.
  *
  * (Builder-brief extension beyond the riptable surface: riptable
  * compares distributions only via describe/statx per-frame
  * (`riptable/rt_groupbyops.py`, `rt_stats.py`); a 100-TB training-data
  * pipeline needs the BETWEEN-corpora question answered as a first-class
  * operator — "did this month's crawl shift against last month's?" —
  * before mixing (q131/q182/q204) and publication.)
  *
  * Scale shape shared by all metrics here: one hash aggregate keyed on
  * the category/value (map-side combined — a hot category is absorbed
  * per-partition before the shuffle), totals as a broadcast one-row
  * frame, and the metric as a second aggregate over the CATEGORY frame,
  * which is vocabulary/domain-sized, not corpus-sized. Nothing is ever
  * keyed on a document, and no step materializes per-row state.
  */
object Drift {

  /** One-row frame of shift metrics between the categorical
    * distributions of `catCol` in two sources:
    *
    *  - `js_nats`: Jensen–Shannon divergence, natural log —
    *    0.5·KL(P‖M) + 0.5·KL(Q‖M) with M = (P+Q)/2. Defined on the
    *    union support (a category absent on one side contributes only
    *    the other side's term), bounded by ln 2.
    *  - `psi`: population stability index Σ (p−q)·ln(p/q), the
    *    industry drift gauge — over categories present in BOTH sources
    *    (PSI diverges on zeros; the restriction is the standard
    *    no-smoothing treatment and is documented output contract).
    *  - `tvd`: total variation distance 0.5·Σ|p−q| on the union
    *    support — log-free, so exact up to the final rounding.
    *  - `n_cats`: union-support size (the frame the metrics summed).
    *
    * Determinism contract: every per-category term is one division
    * chain + one `ln` on exact count ratios — the same IEEE doubles on
    * any engine (q130/q141 discipline) — and the final sums round to
    * 6 dp with ~1e-11 order-drift headroom.
    */
  def categoricalDrift(df: DataFrame, catCol: Column, sourceCol: Column,
                       srcA: String, srcB: String): DataFrame = {
    // registry-persisted: the totals branch and the metric branch both
    // consume this vocab-sized frame — without the persist each would
    // re-run the corpus scan + token aggregate (two full passes)
    val counts = FrameCache.persist(df
      .filter((sourceCol === srcA || sourceCol === srcB) && catCol.isNotNull)
      .groupBy(catCol.as("cat"))
      .agg(sum(when(sourceCol === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(sourceCol === srcB, 1L).otherwise(0L)).as("cb")))
    val totals = counts.agg(sum(col("ca")).cast("double").as("na"),
      sum(col("cb")).cast("double").as("nb"))
    val p = col("ca").cast("double") / col("na")
    val q = col("cb").cast("double") / col("nb")
    val m = (p + q) / 2d
    val jsTerm =
      when(col("ca") > 0, p * log(p / m) / 2d).otherwise(0d) +
        when(col("cb") > 0, q * log(q / m) / 2d).otherwise(0d)
    val psiTerm = when(col("ca") > 0 && col("cb") > 0,
      (p - q) * log(p / q)).otherwise(0d)
    // An empty side (typo'd source name, empty corpus) would make the
    // count ratios NULL — and PSI would come out 0.0, silently reading
    // as "no drift" to a thresholding gate. Fail loudly instead.
    val ok = col("__na") > 0 && col("__nb") > 0
    def gated(c: Column, out: String): Column =
      when(ok, c).otherwise(raise_error(lit(
        s"categoricalDrift: a source has zero rows — check the source " +
          "names")).cast("double")).as(out)
    counts.crossJoin(broadcast(totals))
      .agg(round(sum(jsTerm), 6).as("__js"),
        round(sum(psiTerm), 6).as("__psi"),
        round(sum(abs(p - q)) / 2d, 6).as("__tvd"),
        count(lit(1)).as("n_cats"),
        max(col("na")).as("__na"), max(col("nb")).as("__nb"))
      .select(gated(col("__js"), "js_nats"), gated(col("__psi"), "psi"),
        gated(col("__tvd"), "tvd"), col("n_cats"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the distributions
    * of a numeric column in two sources: D = sup_x |F_a(x) − F_b(x)|,
    * with per-side counts alongside (the caller turns (D, n_a, n_b)
    * into a significance call; the classic reject-at-α threshold is
    * c(α)·√((n_a+n_b)/(n_a·n_b))).
    *
    * The cumulative window runs over the DISTINCT-VALUE frame —
    * domain-sized, not corpus-sized (doc lengths, scores, dates all
    * have bounded domains), so the single unpartitioned running sum is
    * a dictionary-scale sort, the same accepted shape as the exact-
    * quantile bin walk (q196). The corpus itself is touched by exactly
    * one map-side-combined count aggregate.
    */
  def ksStatistic(df: DataFrame, valCol: Column, sourceCol: Column,
                  srcA: String, srcB: String): DataFrame = {
    // registry-persisted for the same two-consumer reason as
    // categoricalDrift (totals + cumulative walk)
    val counts = FrameCache.persist(df
      .filter((sourceCol === srcA || sourceCol === srcB) && valCol.isNotNull)
      .groupBy(valCol.as("v"))
      .agg(sum(when(sourceCol === srcA, 1L).otherwise(0L)).as("ca"),
        sum(when(sourceCol === srcB, 1L).otherwise(0L)).as("cb")))
    val totals = counts.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts.crossJoin(broadcast(totals))
      .withColumn("__fa", sum(col("ca")).over(w).cast("double") / col("na"))
      .withColumn("__fb", sum(col("cb")).over(w).cast("double") / col("nb"))
      .agg(round(max(abs(col("__fa") - col("__fb"))), 6).as("__d"),
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        count(lit(1)).as("n_values"))
      // same fail-loud contract as categoricalDrift: an empty side
      // yields NULL cumulative shares, not a statistic
      .select(when(col("n_a") > 0 && col("n_b") > 0, col("__d"))
        .otherwise(raise_error(lit("ksStatistic: a source has zero " +
          "rows — check the source names")).cast("double")).as("ks_d"),
        col("n_a"), col("n_b"), col("n_values"))
  }

  /** Fixed-bin drift on a NUMERIC column — the production-standard
    * continuous-drift gauge (PSI is classically defined over fixed
    * bins chosen from the reference period): `Binning.cut` the value
    * into the caller's bin edges, then [[categoricalDrift]] over the
    * bin ids. Values outside the edges land in bin NULL and are
    * excluded (the caller's edge list defines the monitored domain —
    * widen the outer edges to catch tails). Shape: the cut is a
    * codegen'd projection; everything after is the categorical path
    * (bins-sized frames).
    */
  def binnedDrift(df: DataFrame, valCol: Column, sourceCol: Column,
                  srcA: String, srcB: String,
                  edges: Seq[Double]): DataFrame = {
    require(edges.size >= 2, "need at least two bin edges")
    // unsorted/duplicate edges would bin EVERY row to NULL and surface
    // downstream as a misleading "source has zero rows" error
    require(edges.sliding(2).forall { case Seq(a, b) => a < b; case _ => true },
      s"bin edges must be strictly increasing, got $edges")
    categoricalDrift(
      df.select(graft.functions.Binning.cut(valCol, edges).as("__bin"),
        sourceCol.as("__src")),
      col("__bin"), col("__src"), srcA, srcB)
  }

  /** Pairwise drift matrix across ALL sources — the mixing-stage
    * diagnostic ("which crawls/domains have diverged from which"):
    * one row per unordered source pair with the same JS / PSI / TVD as
    * [[categoricalDrift]], plus the shared-support size.
    *
    * The union-support metrics decompose over the SHARED support:
    * a category present only in source a contributes p·ln2/2 to JS and
    * p/2 to TVD, and Σ_only-a p = 1 − Σ_shared p — so one equi-join on
    * the category (never a full outer per pair) plus per-source totals
    * yields every pair's exact union-support metric:
    * JS = Σ_shared [p·ln(p/m) + q·ln(q/m)]/2 + (2 − Σp − Σq)·ln2/2,
    * TVD = [Σ_shared |p−q| + (2 − Σp − Σq)]/2, PSI is shared-only by
    * definition.
    *
    * Scale shape: ONE corpus scan builds the (cat, source) count frame
    * (map-side combined, registry-persisted); the self-join is keyed
    * on the category with ≤ k rows per side per category (k = number
    * of sources, dictionary-sized), so the join output is bounded by
    * vocab · k² — vocabulary-scale, never corpus-scale.
    */
  /** Pairwise EMBEDDING-space drift between corpora: the exact squared
    * distance between per-key mean vectors — "did this crawl's
    * semantics move against last month's", the geometric complement of
    * the token-distribution metrics above (a corpus can keep its token
    * mix while its embedding centroid walks).
    *
    * Determinism: the k-means discipline — vectors quantize once to
    * ⌊x·1e6⌋ longs, per-key mean = floorDiv of exact long sums
    * ((s − pmod(s, n))/n, the mod-adjusted quotient), distances are
    * exact long sums of squared integer differences, so the whole
    * matrix is bit-reproducible and oracle-checkable.
    *
    * Scale shape: ONE map-side-combined aggregate (d explicit sum
    * columns — the exchange carries ≤ keys·(d+1) longs per partition,
    * never rows), then a key-pair join on the dictionary-sized means
    * frame; the per-pair distance HOF runs on k² rows only, never the
    * corpus. Output (key_a, key_b, n_a, n_b, dist2_units).
    */
  def embeddingDriftMatrix(df: DataFrame, keyCol: Column,
                           vecCol: Column): DataFrame = {
    val d = df.select(size(vecCol)).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(0)
    val base = df.filter(keyCol.isNotNull)
      .select(keyCol.as("__k"),
        Similarity.quantizeUnits(vecCol).as("__u"))
    if (d == 0)
      return base.filter(lit(false)).select(
        col("__k").as("key_a"), col("__k").as("key_b"),
        lit(0L).as("n_a"), lit(0L).as("n_b"), lit(0L).as("dist2_units"))
    val sums = (0 until d).map(i =>
      sum(element_at(col("__u"), i + 1)).as(s"s$i"))
    // exact floorDiv: (s − pmod(s, n))/n is an exact double (integer
    // quotient < 2^53) → long
    def fd(s: Column, n: Column): Column =
      ((s - pmod(s, n)) / n).cast("long")
    val means = base.groupBy(col("__k"))
      .agg(count(lit(1)).as("__n"), sums: _*)
      .select(col("__k"), col("__n"),
        array((0 until d).map(i => fd(col(s"s$i"), col("__n"))): _*)
          .as("__m"))
    val a = means.toDF("key_a", "n_a", "__ma")
    val b = means.toDF("key_b", "n_b", "__mb")
    a.join(b, col("key_a") < col("key_b")) // dictionary-sized both sides
      .select(col("key_a"), col("key_b"), col("n_a"), col("n_b"),
        aggregate(zip_with(col("__ma"), col("__mb"),
          (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v).as("dist2_units"))
  }

  def categoricalDriftMatrix(df: DataFrame, catCol: Column,
                             sourceCol: Column): DataFrame = {
    val counts = FrameCache.persist(df
      .filter(catCol.isNotNull && sourceCol.isNotNull)
      .groupBy(sourceCol.as("src"), catCol.as("cat"))
      .agg(count(lit(1)).as("c")))
    val totals = counts.groupBy(col("src")).agg(sum(col("c")).as("n"))
    val a = counts.join(totals, "src")
      .select(col("src").as("src_a"), col("cat"),
        (col("c").cast("double") / col("n")).as("p"))
    val b = counts.join(totals, "src")
      .select(col("src").as("src_b"), col("cat"),
        (col("c").cast("double") / col("n")).as("q"))
    val p = col("p"); val q = col("q")
    val m = (p + q) / 2d
    val shared = a.join(b, Seq("cat")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(sum(p * log(p / m) / 2d + q * log(q / m) / 2d).as("__jsS"),
        sum((p - q) * log(p / q)).as("__psi"),
        sum(abs(p - q)).as("__tvdS"),
        sum(p).as("__sp"), sum(q).as("__sq"),
        count(lit(1)).as("__ns"))
    // a pair with NO shared category has no join rows — left-join a
    // dictionary-sized all-pairs frame so it still reports the
    // disjoint-support extremes (JS = ln2, TVD = 1, PSI = 0)
    val allPairs = totals.select(col("src").as("src_a"))
      .crossJoin(broadcast(totals.select(col("src").as("src_b"))))
      .filter(col("src_a") < col("src_b"))
    val full = allPairs.join(shared, Seq("src_a", "src_b"), "left")
    // clamp: for identical-support pairs Σp sums to 1 ± a few ulps, so
    // the analytic residual can be ~-1e-16 — which would push the
    // exact-zero metrics negative (and the two engines could even
    // disagree on the residue's sign). The true only-mass is >= 0.
    val onlyMass = greatest(lit(0d),
      lit(2d) - coalesce(col("__sp"), lit(0d)) -
        coalesce(col("__sq"), lit(0d)))
    full.select(col("src_a"), col("src_b"),
      round(coalesce(col("__jsS"), lit(0d)) +
        onlyMass * lit(math.log(2)) / 2d, 6).as("js_nats"),
      round(coalesce(col("__psi"), lit(0d)), 6).as("psi"),
      round((coalesce(col("__tvdS"), lit(0d)) + onlyMass) / 2d, 6).as("tvd"),
      coalesce(col("__ns"), lit(0L)).as("n_shared"))
  }

  /** Pairwise two-sample KS matrix across ALL sources — the numeric
    * twin of [[categoricalDriftMatrix]]: one row per unordered source
    * pair with D = sup_v |F_a(v) − F_b(v)| and both sample sizes.
    *
    * Shape: one value-keyed count aggregate collapses the corpus to
    * the (source, value) frame; the distinct-value grid crosses with
    * the source dictionary (domain × k rows) so every source's ECDF
    * is defined on the UNION grid (a source with no mass at v carries
    * its running F forward); cumulative sums are windows PARTITIONED
    * per source over the domain-sized grid; the pair sup is one
    * value-keyed self-join (k rows per side per value — k² per value,
    * dictionary-bounded) and a max aggregate. Nothing is ever keyed
    * on a corpus-sized stream.
    */
  def ksMatrix(df: DataFrame, valCol: Column,
               sourceCol: Column): DataFrame = {
    val counts = FrameCache.persist(df
      .filter(valCol.isNotNull && sourceCol.isNotNull)
      .groupBy(sourceCol.as("src"), valCol.as("v"))
      .agg(count(lit(1)).as("c")))
    val totals = counts.groupBy(col("src")).agg(sum(col("c")).as("n"))
    val grid = counts.select(col("v")).distinct()
      .crossJoin(broadcast(totals))
    val dense = grid.join(counts, Seq("src", "v"), "left")
      .withColumn("__c", coalesce(col("c"), lit(0L)))
    val w = Window.partitionBy(col("src")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // registry-persisted: both sides of the value-keyed pair join read
    // this frame — without the persist the grid build + window cumsum
    // would execute twice per action
    val ecdf = FrameCache.persist(dense
      .withColumn("__f", sum(col("__c")).over(w).cast("double") / col("n"))
      .select(col("src"), col("v"), col("__f"), col("n")))
    val a = ecdf.select(col("src").as("src_a"), col("v"),
      col("__f").as("__fa"), col("n").as("n_a"))
    val b = ecdf.select(col("src").as("src_b"), col("v"),
      col("__f").as("__fb"), col("n").as("n_b"))
    a.join(b, Seq("v")).filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(round(max(abs(col("__fa") - col("__fb"))), 6).as("ks_d"),
        max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
  }

  /** Deterministic training-shard publication — the reproducible
    * global shuffle that ends a curation run: every surviving doc gets
    * `shard` = portable-hash(seed:id) mod `nShards` and `seq` = the
    * rank of its hash within the shard. Hash-derived on the ID alone,
    * so the assignment is stable under re-runs, independent of
    * partitioning, and oracle-checkable row for row (same
    * deterministic-sampling contract as q212/q113 — README §sampling);
    * changing `seed` is a full reshuffle.
    *
    * Scale shape: the hash is one codegen'd projection; `seq` is a
    * per-shard window sort — inherent to producing ORDERED shard
    * files (the trainer consumes `seq` as the within-shard read
    * order), parallel across shards, and each shard's sort is
    * corpus/nShards-sized. A real deployment writes the result with
    * `partitionBy("shard")` and gets one ordered file set per shard.
    */
  def publishShards(df: DataFrame, idCol: String, nShards: Int,
                    seed: Long): DataFrame = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val h = Dedup.portableHash64(
      concat(lit(s"$seed:"), col(idCol).cast("string")))
    val w = Window.partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.select(col(idCol), h.as("__h"))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)).cast("int"))
      .withColumn("seq", row_number().over(w))
      .select(col("shard"), col("seq"), col(idCol))
  }
}
