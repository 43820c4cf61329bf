package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import graft.FrameCache

/** Deterministic, oracle-reproducible cardinality sketching.
  *
  * KMV — k-minimum-values (Bar-Yossef et al. 2002; Beyer et al. 2007's
  * unbiased form): hash every value with a fixed uniform hash onto
  * [0, M), keep each group's k smallest DISTINCT hashes; with h_k the
  * k-th smallest, n̂ = (k−1)·M/h_k (relative error ~ 1/√(k−2)). Groups
  * with fewer than k distinct values are EXACT (the sketch holds them
  * all).
  *
  * Why not HLL (Spark's approx_count_distinct): HLL's estimate depends
  * on implementation-private hashing and register layout — it cannot be
  * oracle-checked. KMV over `Dedup.portableHash64` is a pure function
  * of the data, so a DuckDB oracle reproduces the ESTIMATE bit-for-bit,
  * and the engine's answer is auditable, reproducible across engines,
  * reruns and cluster sizes — the property every other sampler in this
  * library holds.
  *
  * Scale shape: dedup to distinct (group, hash) via one map-side-
  * combined aggregate; the k-smallest selection is the SALTED two-level
  * rank (per-(group, partition) top-k first, so the per-group reducer
  * merges ≤ partitions·k candidate rows, never the group's full
  * distinct set — the gbHead trick). Sketches merge by construction:
  * the two-level rank IS "union mins, re-take k smallest".
  */
object Sketch {

  /** KMV estimate side-by-side with the exact distinct count, sharing
    * ONE distinct pass — on the HASHES: the expensive part of both
    * pipelines is deduplicating the (group, value) stream (for q187's
    * shingles, a full explode + shuffle). Hashing BEFORE the distinct
    * makes that one exchange carry fixed-width keys instead of the
    * value strings, the deduped frame (registered in the dedup LRU, it
    * feeds both consumers) stays far smaller resident, and the sketch
    * needs no internal re-distinct — one exchange total where the naive
    * composition runs two.
    *
    * `n_exact` must equal the distinct-VALUE count (the oracle counts
    * distinct values), so the distinct key is a 120-bit PAIR of
    * independent 60-bit hashes: a single 60-bit key collides two
    * distinct values with P ≈ n²/2^61 — already ~0.4 at n = 1e9, an
    * undercount the oracle would flag red — while the pair's bound is
    * n²/2^121 ≈ 4e-13 even at n = 1e12 distinct. The SKETCH still runs
    * on the first hash alone (both engine and oracle rank distinct
    * 60-bit hashes, so a first-hash collision cancels out of the
    * estimate); [[kmvFromDistinctHashes]] tolerates the resulting rare
    * duplicate `__h` rows via dense ranks. Both outputs are per-group
    * aggregates, so the final join is broadcast-sized.
    */
  def kmvWithExact(df: DataFrame, groupCols: Seq[String], value: Column,
                   k: Int): DataFrame = {
    val gs = groupCols.map(col)
    val distinctPairs = FrameCache.persist(
      df.select(gs ++ Seq(
          Dedup.portableHash64(value.cast("string")).as("__h"),
          Dedup.portableHash64(concat(lit("kmv2:"), value.cast("string")))
            .as("__h2")): _*)
        .distinct())
    val exact = distinctPairs.groupBy(gs: _*)
      .agg(count(lit(1)).as("n_exact"))
    exact.join(kmvFromDistinctHashes(distinctPairs, groupCols, k), groupCols)
  }

  /** Count–Min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    * d hash rows × w buckets of ADDITIVE counters; est(x) =
    * min_j CM[j][h_j(x)] ≥ true count, overshoot bounded by εN with
    * ε = e/w at δ = e^−d. Like KMV (above), the hashes are
    * `portableHash64` of "j:value", so the sketch — and therefore the
    * ESTIMATE — is a pure function of the data that a DuckDB oracle
    * reproduces bit-for-bit (Spark's own approx API can't be checked
    * that way).
    *
    * Scale shape, stage by stage:
    *  - counters are built from the AGGREGATED (value, count) frame
    *    (weighted inserts), never the raw stream: one map-side-combined
    *    groupBy does the heavy lifting, then the d-way posexplode runs
    *    on distinct values only (≪ instances);
    *  - the CM table is ≤ d·w rows — broadcast-sized by construction,
    *    whatever the input size;
    *  - exact top-k uses the salted two-level rank (per-partition top-k
    *    first), so no global window ever sees the full distinct set;
    *  - the estimate lookup joins k·d probe rows against the tiny CM
    *    table.
    *
    * Returns (rank, value, n_exact, cm_est, overcount) for the k most
    * frequent values — the exact count next to the sketch estimate, so
    * the overshoot is observable.
    */
  /** The d bucket indices of a value — h_j(x) = hash60("j:x") mod w,
    * shared by the batch table, the estimate probes, and the streaming
    * twin (StreamOps.streamingCountMin).
    */
  def cmBuckets(v: Column, d: Int, w: Int): Column =
    array((0 until d).map { j =>
      pmod(Dedup.portableHash64(concat_ws(":", lit(j), v.cast("string"))),
        lit(w.toLong))
    }: _*)

  /** The CM counter table itself: (__j, __b, __c), ≤ d·w rows. Built
    * from the aggregated value counts (weighted inserts). Counters are
    * ADDITIVE, so tables over disjoint row sets merge by summing —
    * which is what makes the sketch streamable and cluster-mergeable.
    */
  def countMinTable(df: DataFrame, value: Column, d: Int,
                    w: Int): DataFrame =
    cmFromCounts(df.groupBy(value.cast("string").as("__v"))
      .agg(count(lit(1)).as("__n")), d, w)

  private def cmFromCounts(counts: DataFrame, d: Int, w: Int): DataFrame =
    counts
      .select(col("__n"), posexplode(cmBuckets(col("__v"), d, w)))
      .toDF("__n", "__j", "__b")
      .groupBy(col("__j"), col("__b")).agg(sum(col("__n")).as("__c"))

  def countMinTopK(df: DataFrame, value: Column, d: Int = 4,
                   w: Int = 1024, topK: Int = 10): DataFrame =
    countMinTopKBy(df, Nil, value, d, w, topK)

  /** Per-group heavy hitters — one independent CM sketch and exact
    * top-k PER GROUP (the per-domain/per-shard shape). The counter
    * table is ≤ |groups|·d·w rows keyed (group, row, bucket): with few
    * groups AQE broadcasts it; with many it stays a well-bucketed equi
    * join — never a skew risk, since the table side is bounded per
    * group by construction. Global case (groupCols = Nil) broadcasts
    * explicitly.
    */
  def countMinTopKBy(df: DataFrame, groupCols: Seq[String], value: Column,
                     d: Int = 4, w: Int = 1024, topK: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gs = groupCols.map(col)
    // the (group, value, count) aggregate is the expensive pass over
    // the raw stream and feeds BOTH the CM table and the exact top-k —
    // persist through the shared LRU registry so it runs once (same
    // pattern as kmvWithExact; distinct-values-sized, spills at scale)
    val counts = FrameCache.persist(
      df.groupBy(gs :+ value.cast("string").as("__v"): _*)
        .agg(count(lit(1)).as("__n")))
    val cm = counts
      .select(gs ++ Seq(col("__n"),
        posexplode(cmBuckets(col("__v"), d, w)).as(Seq("__j", "__b"))): _*)
      .groupBy(gs ++ Seq(col("__j"), col("__b")): _*)
      .agg(sum(col("__n")).as("__c"))
    val salted = Window.partitionBy(gs :+ col("__salt"): _*)
      .orderBy(col("__n").desc, col("__v"))
    val full = Window.partitionBy(gs: _*)
      .orderBy(col("__n").desc, col("__v"))
    val top = counts
      .withColumn("__salt", spark_partition_id())
      .withColumn("__r1", row_number().over(salted))
      .filter(col("__r1") <= topK)
      .withColumn("__rk", row_number().over(full))
      .filter(col("__rk") <= topK)
    val probes = top
      .select(gs ++ Seq(col("__rk"), col("__v"), col("__n"),
        posexplode(cmBuckets(col("__v"), d, w)).as(Seq("__j", "__b"))): _*)
    val joined =
      if (groupCols.isEmpty) probes.join(broadcast(cm), Seq("__j", "__b"))
      else probes.join(cm, groupCols ++ Seq("__j", "__b"))
    joined
      .groupBy(gs ++ Seq(col("__rk"), col("__v"), col("__n")): _*)
      .agg(min(col("__c")).as("cm_est"))
      .select(gs ++ Seq(col("__rk").cast("long").as("rank"),
        col("__v").as("value"), col("__n").as("n_exact"), col("cm_est"),
        (col("cm_est") - col("__n")).as("overcount")): _*)
  }

  /** Mergeable histogram quantiles — the third deterministic sketch
    * beside KMV (cardinality) and Count–Min (frequency): an equi-width
    * `bins`-bucket histogram over [min, max] with linear interpolation
    * inside the crossing bucket. Bin counts are ADDITIVE (same merge
    * story as CM cells: executors/batches sum), the estimate is a pure
    * function of the data, and the error is bounded by one bin width —
    * all things Spark's approx_percentile (an opaque KLL-family sketch)
    * can't promise reproducibly across engines.
    *
    * Scale shape: one min/max/count aggregate (broadcast back as a
    * one-row frame), one map-side-combined bin count onto ≤ `bins`
    * rows, and a dictionary-sized cumulative window — the raw column
    * is scanned twice and shuffled never (bin rows only).
    *
    * Returns (q, hist_est) for each requested quantile.
    */
  def histQuantiles(df: DataFrame, value: Column, bins: Int,
                    qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val v = value.cast("double")
    // stats feeds the binning pass AND the crossing locator — persist
    // so each reference doesn't re-run the min/max/count scan (r16)
    val stats = FrameCache.persist(
      df.agg(min(v).as("__lo"), max(v).as("__hi"),
        count(v).as("__n")))
    val binned = df.select(v.as("__x")).where(col("__x").isNotNull)
      .crossJoin(broadcast(stats))
      .select(when(col("__hi") === col("__lo"), lit(0L))
        .otherwise(least(
          floor((col("__x") - col("__lo"))
            / (col("__hi") - col("__lo")) * lit(bins.toDouble)),
          lit((bins - 1).toLong)).cast("long")).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
    // dictionary-sized frame (≤ bins rows) — single-partition window
    // is deliberate
    val cum = binned.withColumn("__cum",
      sum(col("__c")).over(Window.orderBy(col("__b"))))
    val qdf = qs.toDF("q")
    val crossing = qdf
      .crossJoin(broadcast(stats))
      .withColumn("__target", greatest(ceil(col("q") * col("__n")), lit(1L)))
      .join(cum, col("__cum") >= col("__target"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("__b"))))
      .filter(col("__rn") === 1)
    crossing.select(col("q"),
      round(col("__lo") + (col("__hi") - col("__lo")) / lit(bins.toDouble)
        * (col("__b") + (col("__target") - (col("__cum") - col("__c")))
          / col("__c")), 6).as("hist_est"))
  }

  /** Per-group histogram quantiles — one independent equi-width
    * histogram per group (per-domain length/score distributions). Same
    * estimator as the global form; the per-group stats frame is
    * |groups|-rows broadcast, the bin table ≤ |groups|·bins rows, and
    * the cumulative window partitions BY GROUP so no partition ever
    * exceeds `bins` rows. Returns (group..., q, hist_est).
    */
  def histQuantilesBy(df: DataFrame, groupCols: Seq[String], value: Column,
                      bins: Int, qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val gs = groupCols.map(col)
    val v = value.cast("double")
    // per-group stats frame is referenced by BOTH the binning pass and
    // the crossing locator; without a persist each reference re-expands
    // the whole aggregate subtree (measured r16: zero ReusedExchange in
    // the executed plan). |groups| rows — registry-persist is bounded.
    val stats = FrameCache.persist(
      df.groupBy(gs: _*).agg(min(v).as("__lo"),
        max(v).as("__hi"), count(v).as("__n")))
    val binned = df.select(gs :+ v.as("__x"): _*)
      .where(col("__x").isNotNull)
      .join(broadcast(stats), groupCols)
      .select(gs :+ when(col("__hi") === col("__lo"), lit(0L))
        .otherwise(least(
          floor((col("__x") - col("__lo"))
            / (col("__hi") - col("__lo")) * lit(bins.toDouble)),
          lit((bins - 1).toLong)).cast("long")).as("__b"): _*)
      .groupBy(gs :+ col("__b"): _*).agg(count(lit(1)).as("__c"))
    val cum = binned.withColumn("__cum", sum(col("__c")).over(
      Window.partitionBy(gs: _*).orderBy(col("__b"))))
    val crossing = stats.crossJoin(broadcast(qs.toDF("q")))
      .withColumn("__target",
        greatest(ceil(col("q") * col("__n")), lit(1L)))
      .join(cum, groupCols)
      .filter(col("__cum") >= col("__target"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(gs :+ col("q"): _*).orderBy(col("__b"))))
      .filter(col("__rn") === 1)
    crossing.select(gs ++ Seq(col("q"),
      round(col("__lo") + (col("__hi") - col("__lo")) / lit(bins.toDouble)
        * (col("__b") + (col("__target") - (col("__cum") - col("__c")))
          / col("__c")), 6).as("hist_est")): _*)
  }

  /** Grouped exact quantiles by histogram refinement — the per-group
    * analog of `exactQuantiles`, and the giant-group-safe replacement
    * for `groupBy(...).agg(percentile(...))`: Spark's exact percentile
    * buffers every (value, count) of a group in ONE aggregation buffer,
    * so a skewed group (one domain with 80% of the corpus) concentrates
    * the whole column on one task. Here the heavy lifting is the same
    * two passes as the global form, with every frame additionally keyed
    * by group: bin counts ≤ |groups|·bins rows, candidate ranking
    * windows partitioned by (group, bin) — a giant group still fans out
    * over its `bins` bins. Returns (group..., q, exact_val).
    */
  def exactQuantilesBy(df: DataFrame, groupCols: Seq[String], value: Column,
                       qs: Seq[Double], bins: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val gs = groupCols.map(col)
    val v = value.cast("double")
    // multi-referenced tiny frames persist (r16): stats feeds the
    // binning pass AND the target locator; `located` feeds the
    // needed-bin broadcast AND the final pick join. Without persists
    // every reference re-expands its subtree from the base scan
    // (measured: 16 scans / 0 ReusedExchange in q207's executed plan);
    // with them the corpus is scanned 3× — stats, bin counts,
    // candidates — the documented design minimum. Both frames are
    // |groups|-bounded.
    val stats = FrameCache.persist(
      df.groupBy(gs: _*).agg(min(v).as("__lo"),
        max(v).as("__hi"), count(v).as("__n")))
    def binOf(x: Column): Column =
      when(col("__hi") === col("__lo"), lit(0L))
        .otherwise(least(
          floor((x - col("__lo"))
            / (col("__hi") - col("__lo")) * lit(bins.toDouble)),
          lit((bins - 1).toLong)).cast("long"))
    val vals = df.select(gs :+ v.as("__x"): _*)
      .where(col("__x").isNotNull)
      .join(broadcast(stats), groupCols)
    val binned = vals.select(gs :+ binOf(col("__x")).as("__b"): _*)
      .groupBy(gs :+ col("__b"): _*).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(gs: _*).orderBy(col("__b"))))
    val ks = stats.crossJoin(broadcast(qs.toDF("q")))
      .withColumn("__pos", col("q") * (col("__n") - 1))
      .withColumn("__k1", (floor(col("__pos")) + 1).cast("long"))
      .withColumn("__k2",
        least(ceil(col("__pos")) + 1, col("__n")).cast("long"))
    val targets = ks.select(gs ++ Seq(col("q"), col("__pos"),
      explode(array(col("__k1"), col("__k2"))).as("__k")): _*)
    val located = FrameCache.persist(targets
      .join(binned, groupCols)
      .filter(col("__cum") >= col("__k"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(gs ++ Seq(col("q"), col("__k")): _*)
          .orderBy(col("__b"))))
      .filter(col("__rn") === 1)
      .select(gs ++ Seq(col("q"), col("__pos"), col("__k"), col("__b"),
        (col("__cum") - col("__c")).as("__below")): _*))
    val neededBins = located.select(gs :+ col("__b"): _*).distinct()
    val candidates = vals
      .select(gs ++ Seq(col("__x"), binOf(col("__x")).as("__b")): _*)
      .join(broadcast(neededBins), groupCols :+ "__b")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(gs :+ col("__b"): _*).orderBy(col("__x"))))
    val picked = located
      .join(candidates, (groupCols :+ "__b").toSeq)
      .filter(col("__k") - col("__below") === col("__rk"))
      .select(gs ++ Seq(col("q"), col("__pos"), col("__k"), col("__x")): _*)
    picked.groupBy(gs ++ Seq(col("q"), col("__pos")): _*)
      .agg(min_by(col("__x"), col("__k")).as("__v1"),
        max_by(col("__x"), col("__k")).as("__v2"))
      .select(gs ++ Seq(col("q"),
        (col("__v1") + (col("__pos") - floor(col("__pos")))
          * (col("__v2") - col("__v1"))).as("exact_val")): _*)
  }

  /** WEIGHTED quantiles by the same histogram refinement — "the value
    * below which a q-fraction of the WEIGHT sits", e.g. the doc length
    * below which half the corpus TOKENS live (token-mass median), or a
    * budget cutoff by byte mass. Definition (lower weighted quantile,
    * deterministic, no interpolation): the smallest value v with
    * cumWeight(≤ v) ≥ q·W. Rows with null or non-positive weights are
    * excluded.
    *
    * Shape mirrors `exactQuantilesBy`: per-(group, bin) weight sums
    * locate each target's crossing bin; pass 2 aggregates ONLY that
    * bin's rows to their distinct values (map-side combined — row
    * order among ties can never matter) and a per-(group, bin) window
    * finds the crossing value. With integer-valued weights every
    * cumulative sum is exact in double, so the ≥ q·W comparison is
    * engine-independent; fractional weights put the usual FP caveat on
    * exact-boundary targets.
    *
    * Returns (group..., q, wq).
    */
  def weightedQuantilesBy(df: DataFrame, groupCols: Seq[String],
                          value: Column, weight: Column, qs: Seq[Double],
                          bins: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val gs = groupCols.map(col)
    val v = value.cast("double")
    val base = df.select(gs ++ Seq(v.as("__x"),
        weight.cast("double").as("__w")): _*)
      .where(col("__x").isNotNull && col("__w").isNotNull &&
        col("__w") > 0)
    // same multi-reference persists as exactQuantilesBy (r16): stats
    // and located are each consumed twice; both |groups|-bounded
    val stats = FrameCache.persist(
      base.groupBy(gs: _*).agg(min(col("__x")).as("__lo"),
        max(col("__x")).as("__hi"), sum(col("__w")).as("__tw")))
    def binOf(x: Column): Column =
      when(col("__hi") === col("__lo"), lit(0L))
        .otherwise(least(
          floor((x - col("__lo"))
            / (col("__hi") - col("__lo")) * lit(bins.toDouble)),
          lit((bins - 1).toLong)).cast("long"))
    val vals = base.join(broadcast(stats), groupCols)
    val binned = vals
      .select(gs ++ Seq(binOf(col("__x")).as("__b"), col("__w")): _*)
      .groupBy(gs :+ col("__b"): _*).agg(sum(col("__w")).as("__c"))
      .withColumn("__cum", sum(col("__c")).over(
        Window.partitionBy(gs: _*).orderBy(col("__b"))))
      .withColumn("__maxcum", max(col("__cum")).over(
        Window.partitionBy(gs: _*)))
    val targets = stats.crossJoin(broadcast(qs.toDF("q")))
      .select(gs ++ Seq(col("q"), (col("q") * col("__tw")).as("__t")): _*)
    val located = targets
      .join(binned, groupCols)
      // boundary clamp: with FRACTIONAL weights the per-bin cumulative
      // sum can land one ulp below q·W at q = 1.0 (different summation
      // order than stats' __tw) and the quantile would silently vanish;
      // clamping the target to the group's max cumulative guarantees
      // every q resolves to a bin (q ≥ 1 ⇒ the group max)
      .filter(col("__cum") >= least(col("__t"), col("__maxcum")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(gs :+ col("q"): _*).orderBy(col("__b"))))
      .filter(col("__rn") === 1)
      .select(gs ++ Seq(col("q"), col("__t"), col("__b"),
        (col("__cum") - col("__c")).as("__below")): _*)
      .transform(FrameCache.persist)
    val neededBins = located.select(gs :+ col("__b"): _*).distinct()
    // distinct values within the crossing bins, weights pre-summed —
    // the cumulative walk is over values, never rows
    val dvals = vals
      .select(gs ++ Seq(binOf(col("__x")).as("__b"), col("__x"),
        col("__w")): _*)
      .join(broadcast(neededBins), groupCols :+ "__b")
      .groupBy(gs ++ Seq(col("__b"), col("__x")): _*)
      .agg(sum(col("__w")).as("__vw"))
      .withColumn("__cw", sum(col("__vw")).over(
        Window.partitionBy(gs :+ col("__b"): _*).orderBy(col("__x"))))
      .withColumn("__maxcw", max(col("__cw")).over(
        Window.partitionBy(gs :+ col("__b"): _*)))
    located.join(dvals, (groupCols :+ "__b").toSeq)
      // same ulp clamp within the crossing bin: the last value's
      // cumulative weight always satisfies the (clamped) target
      .filter(col("__below") + col("__cw") >=
        least(col("__t"), col("__below") + col("__maxcw")))
      .groupBy(gs :+ col("q"): _*)
      .agg(min(col("__x")).as("wq"))
  }

  /** KMV as a bounded-buffer typed `Aggregator` — the mergeable-sketch
    * form of [[kmvDistinct]]: the buffer is the sorted array of the ≤ k
    * smallest DISTINCT hashes seen, updates are O(log k) rejects after
    * warm-up (most rows compare once against the current k-th min and
    * drop), merges are sorted-array unions trimmed to k. One aggregate
    * pass, map-side combined, no distinct exchange, no windows — the
    * plan-level salted-rank form stays as the cross-check twin
    * (SketchSpec pins bit-equality). Estimates are identical by
    * construction: both are the same function of the k smallest
    * distinct `portableHash64` values, so the DuckDB oracle needs no
    * change. Feed PRE-HASHED longs (`Dedup.portableHash64(v)`) so the
    * hash definition lives in one place; nulls are skipped (null value
    * hashes to null).
    */
  case class KmvEst(distinct_est: Double, sketch_size: Long)

  class KmvAgg(k: Int) extends org.apache.spark.sql.expressions
      .Aggregator[java.lang.Long, Array[Long], KmvEst] {
    require(k >= 3, "KMV needs k >= 3")
    private val M = (1L << 60).toDouble

    def zero: Array[Long] = Array.emptyLongArray

    def reduce(buf: Array[Long], h: java.lang.Long): Array[Long] = {
      if (h == null) return buf
      val v = h.longValue()
      if (buf.length == k && v >= buf(k - 1)) return buf // common fast path
      val at = java.util.Arrays.binarySearch(buf, v)
      if (at >= 0) return buf // already present (distinctness)
      val ins = -(at + 1)
      val n = math.min(buf.length + 1, k)
      val out = new Array[Long](n)
      System.arraycopy(buf, 0, out, 0, ins)
      out(ins) = v
      System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
      out
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      if (a.isEmpty) return b
      if (b.isEmpty) return a
      val out = new Array[Long](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var o = 0
      while (o < out.length && (i < a.length || j < b.length)) {
        val takeA = j >= b.length || (i < a.length && a(i) <= b(j))
        val v = if (takeA) a(i) else b(j)
        if (takeA) i += 1 else j += 1
        if (i < a.length && a(i) == v) i += 1 // cross-array duplicate
        else if (j < b.length && b(j) == v) j += 1
        out(o) = v; o += 1
      }
      if (o == out.length) out else java.util.Arrays.copyOf(out, o)
    }

    def finish(buf: Array[Long]): KmvEst =
      if (buf.length < k) KmvEst(buf.length.toDouble, buf.length.toLong)
      else KmvEst(
        BigDecimal((k - 1).toDouble * M / buf(k - 1).toDouble)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble,
        k.toLong)

    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[KmvEst] = Encoders.product[KmvEst]
  }

  /** `udaf`-wrapped [[KmvAgg]] ready for `agg(...)` — input is the
    * pre-hashed long column. Cache per k (the wrapper is reusable).
    */
  def kmvUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new KmvAgg(k), Encoders.LONG)

  def kmvDistinct(df: DataFrame, groupCols: Seq[String], value: Column,
                  k: Int): DataFrame =
    kmvFromDistinctHashes(
      df.select(groupCols.map(col)
          :+ Dedup.portableHash64(value.cast("string")).as("__h"): _*)
        .distinct(),
      groupCols, k)

  /** The k-smallest-hash selection over a (group, __h[, …]) frame with
    * AT MOST RARE duplicate `__h` per group — shared by [[kmvDistinct]]
    * (whose frame is strictly distinct, where dense_rank ≡ row_number
    * and the distinct count ≡ count) and [[kmvWithExact]] (whose
    * 120-bit-pair frame can carry a duplicate `__h` when two values
    * collide on the first hash only; dense ranks + a distinct final
    * count collapse it, keeping the estimate on distinct 60-bit hashes
    * exactly as the oracle computes it).
    */
  private def kmvFromDistinctHashes(hashes: DataFrame,
                                    groupCols: Seq[String],
                                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 3, "KMV needs k >= 3")
    val M = (1L << 60).toDouble // portableHash64 range
    val gs = groupCols.map(col)
    val salted = Window.partitionBy(gs :+ col("__salt"): _*).orderBy(col("__h"))
    val full = Window.partitionBy(gs: _*).orderBy(col("__h"))
    hashes
      .withColumn("__salt", spark_partition_id())
      .withColumn("__r1", dense_rank().over(salted))
      .filter(col("__r1") <= k)
      .withColumn("__rn", dense_rank().over(full))
      .filter(col("__rn") <= k)
      .groupBy(gs: _*)
      .agg(countDistinct(col("__h")).as("__cnt"), max(col("__h")).as("__hk"))
      .select(gs ++ Seq(
        when(col("__cnt") < k, col("__cnt").cast("double"))
          .otherwise(round(lit((k - 1).toDouble) * lit(M)
            / col("__hk").cast("double"), 4)).as("distinct_est"),
        col("__cnt").cast("long").as("sketch_size")): _*)
  }

  /** EXACT quantiles by histogram refinement — the distributed answer
    * to "give me the true percentile, not a sketch" that never funnels
    * the column into one task. Spark's exact `percentile` buffers every
    * (value, count) pair into a single final reducer — fine for a
    * grouped median over small groups, a 3-second stall for one global
    * quantile over a fact column (and an OOM at 100 TB). Here pass 1 is
    * the `histQuantiles` equi-width bin count (map-side combined, ≤
    * `bins` rows ever shuffled); the cumulative counts then locate, for
    * every requested order statistic, the BIN it falls in; pass 2
    * filters the column to the crossing bins only (~n/bins rows per
    * quantile, a codegen'd map filter), ranks those few rows with a
    * window PARTITIONED BY BIN (parallel, each partition ~n/bins), and
    * reads off the order statistics. Interpolation follows Spark's
    * percentile / SQL quantile_cont: pos = q·(n−1), result =
    * v⌊pos⌋ + (pos − ⌊pos⌋)·(v⌈pos⌉ − v⌊pos⌋).
    *
    * Two scans of the column, zero corpus-sized shuffles, exact result.
    * Degenerate case: a distribution so concentrated that one bin holds
    * most rows (e.g. a constant column) degrades toward a single-bin
    * rank — raise `bins` or pre-split; the common fact-column case
    * (prices, lengths, timestamps) refines 256-fold per pass.
    *
    * Returns (q, exact_val) — one row per requested quantile.
    */
  def exactQuantiles(df: DataFrame, value: Column, qs: Seq[Double],
                     bins: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val v = value.cast("double")
    // multi-referenced tiny frames persist (r16, same rationale as
    // exactQuantilesBy): stats is broadcast by the binning pass, the
    // target builder AND the candidate pass; `located` feeds the
    // needed-bin broadcast AND the final pick join. Both are bounded
    // (1 row / ≤ 2·|qs| rows).
    val stats = FrameCache.persist(
      df.agg(min(v).as("__lo"), max(v).as("__hi"),
        count(v).as("__n")))
    def binOf(x: Column): Column =
      when(col("__hi") === col("__lo"), lit(0L))
        .otherwise(least(
          floor((x - col("__lo"))
            / (col("__hi") - col("__lo")) * lit(bins.toDouble)),
          lit((bins - 1).toLong)).cast("long"))
    val vals = df.select(v.as("__x")).where(col("__x").isNotNull)
      .crossJoin(broadcast(stats))
    val binned = vals.select(binOf(col("__x")).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c"))
        .over(Window.orderBy(col("__b")))) // ≤ bins rows: deliberate
    // the 1-based order statistics every quantile needs: ⌊pos⌋+1 and
    // ⌈pos⌉+1 with pos = q·(n−1) — Spark percentile's exact positions
    val ks = qs.toDF("q").crossJoin(broadcast(stats))
      .select(col("q"), col("__n"),
        (col("q") * (col("__n") - 1)).as("__pos"))
      .select(col("q"), col("__n"), col("__pos"),
        (floor(col("__pos")) + 1).cast("long").as("__k1"),
        least(ceil(col("__pos")) + 1, col("__n")).cast("long").as("__k2"))
    val targets = ks.select(col("q"), col("__pos"), col("__n"),
        explode(array(col("__k1"), col("__k2"))).as("__k"))
    // locate each k's bin: first bin whose cumulative count reaches k
    val located = FrameCache.persist(
      targets.join(binned, col("__cum") >= col("__k"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("q"), col("__k")).orderBy(col("__b"))))
      .filter(col("__rn") === 1)
      .select(col("q"), col("__pos"), col("__k"), col("__b"),
        (col("__cum") - col("__c")).as("__below")))
    val neededBins = located.select(col("__b")).distinct()
    // pass 2: rank ONLY the crossing bins' rows — window partitioned by
    // bin, so each partition is ~n/bins rows and bins rank in parallel
    val candidates = vals.select(col("__x"), binOf(col("__x")).as("__b"))
      .join(broadcast(neededBins), "__b")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__b")).orderBy(col("__x"))))
    val stats2 = located
      .join(candidates,
        located("__b") === candidates("__b") &&
          col("__k") - col("__below") === col("__rk"))
      .select(col("q"), col("__pos"), col("__k"), col("__x"))
    // fold the (≤2 per q) order statistics back into the interpolation
    stats2.groupBy(col("q"), col("__pos"))
      .agg(min_by(col("__x"), col("__k")).as("__v1"),
        max_by(col("__x"), col("__k")).as("__v2"))
      .select(col("q"),
        (col("__v1") + (col("__pos") - floor(col("__pos")))
          * (col("__v2") - col("__v1"))).as("exact_val"))
  }

  /** [[histQuantiles]] and [[exactQuantiles]] fused over ONE shared
    * (stats, bin-counts) pair (optimization r16, guide §1.2 step 1 /
    * §2.4 "remove shuffles outright"): run separately, the two
    * operators each build their own min/max/count aggregate and their
    * own per-bin count frame from the same column — four full scans of
    * the fact table (plus exact's candidate pass = five), and at bench
    * scale ~2× the stage/broadcast orchestration. Both derivations are
    * value-identical by construction (same cast, same bin expression,
    * long counts — no order-sensitive float folds), so sharing the
    * frames cannot change either output: the histogram estimate and the
    * exact order statistics are the SAME expressions over the SAME
    * inputs as the unfused pair (PipelineR16OptSpec pins bit equality).
    * Scans: 5 → 3 (stats, bin counts, exact's candidate fetch).
    *
    * Returns (q, hist_est, exact_val) — one row per requested quantile.
    */
  def histAndExactQuantiles(df: DataFrame, value: Column, bins: Int,
                            qs: Seq[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    import spark.implicits._
    val v = value.cast("double")
    // multi-referenced tiny frames persist (r16): stats is broadcast
    // 4× (binning, hist targets, exact targets, candidates), cum is
    // joined by BOTH locators, located feeds the needed-bin broadcast
    // AND the final pick join. All are bounded (1 / ≤ bins / ≤ 2·|qs|
    // rows); without persists each reference re-expands its subtree
    // from the base scan.
    val stats = FrameCache.persist(
      df.agg(min(v).as("__lo"), max(v).as("__hi"),
        count(v).as("__n")))
    def binOf(x: Column): Column =
      when(col("__hi") === col("__lo"), lit(0L))
        .otherwise(least(
          floor((x - col("__lo"))
            / (col("__hi") - col("__lo")) * lit(bins.toDouble)),
          lit((bins - 1).toLong)).cast("long"))
    val vals = df.select(v.as("__x")).where(col("__x").isNotNull)
      .crossJoin(broadcast(stats))
    // the ONE shared per-bin count frame (≤ bins rows) + cumulative
    val cum = FrameCache.persist(
      vals.select(binOf(col("__x")).as("__b"))
      .groupBy(col("__b")).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum(col("__c"))
        .over(Window.orderBy(col("__b"))))) // ≤ bins rows: deliberate
    val qdf = qs.toDF("q")
    // --- histogram estimate: histQuantiles' expressions verbatim ---
    val hist = qdf
      .crossJoin(broadcast(stats))
      .withColumn("__target", greatest(ceil(col("q") * col("__n")), lit(1L)))
      .join(cum, col("__cum") >= col("__target"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("q")).orderBy(col("__b"))))
      .filter(col("__rn") === 1)
      .select(col("q"),
        round(col("__lo") + (col("__hi") - col("__lo")) / lit(bins.toDouble)
          * (col("__b") + (col("__target") - (col("__cum") - col("__c")))
            / col("__c")), 6).as("hist_est"))
    // --- exact order statistics: exactQuantiles' expressions verbatim,
    //     over the SAME cum frame ---
    val ks = qdf.crossJoin(broadcast(stats))
      .select(col("q"), col("__n"),
        (col("q") * (col("__n") - 1)).as("__pos"))
      .select(col("q"), col("__n"), col("__pos"),
        (floor(col("__pos")) + 1).cast("long").as("__k1"),
        least(ceil(col("__pos")) + 1, col("__n")).cast("long").as("__k2"))
    val targets = ks.select(col("q"), col("__pos"), col("__n"),
        explode(array(col("__k1"), col("__k2"))).as("__k"))
    val located = FrameCache.persist(
      targets.join(cum, col("__cum") >= col("__k"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("q"), col("__k")).orderBy(col("__b"))))
      .filter(col("__rn") === 1)
      .select(col("q"), col("__pos"), col("__k"), col("__b"),
        (col("__cum") - col("__c")).as("__below")))
    val neededBins = located.select(col("__b")).distinct()
    val candidates = vals.select(col("__x"), binOf(col("__x")).as("__b"))
      .join(broadcast(neededBins), "__b")
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("__b")).orderBy(col("__x"))))
    val stats2 = located
      .join(candidates,
        located("__b") === candidates("__b") &&
          col("__k") - col("__below") === col("__rk"))
      .select(col("q"), col("__pos"), col("__k"), col("__x"))
    val exact = stats2.groupBy(col("q"), col("__pos"))
      .agg(min_by(col("__x"), col("__k")).as("__v1"),
        max_by(col("__x"), col("__k")).as("__v2"))
      .select(col("q"),
        (col("__v1") + (col("__pos") - floor(col("__pos")))
          * (col("__v2") - col("__v1"))).as("exact_val"))
    hist.join(exact, Seq("q"))
  }
}
