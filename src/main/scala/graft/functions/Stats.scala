package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Statistics pack — riptable rt_stats / rt_mlutils.
  *
  * Reference: `riptable/rt_stats.py:40` (statx summary), `:83-230`
  * (lm / polyFit / r2 / mae regression helpers), winsorize;
  * `riptable/rt_mlutils.py:12,18` (normalize_zscore/minmax — see
  * graft.syntax). Everything maps onto Spark's built-in statistical
  * aggregates (`regr_*`, `corr`, `covar_samp`, percentile) — single
  * shuffle, map-side combined.
  */
object Stats {

  /** statx (rt_stats.py:40): the summary shape as one aggregate row. The
    * five percentiles share one `percentile` buffer (an array of
    * percentages) instead of five.
    */
  def statx(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol)
    val ps = Seq("p01" -> 0.01, "p10" -> 0.1, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)
    df.agg(
      count(v).as("n"),
      avg(v).as("mean"),
      stddev_samp(v).as("std"),
      min(v).as("mn"),
      percentile(v, array(ps.map(p => lit(p._2)): _*)).as("__ps"),
      max(v).as("mx"))
      .select(Seq("n", "mean", "std", "mn").map(col) ++ ps.indices.map(i =>
        element_at(col("__ps"), i + 1).as(ps(i)._1)) :+ col("mx"): _*)
  }

  /** lm (rt_stats.py:83): simple linear regression per group — slope,
    * intercept, r² from the regr_* aggregate family.
    */
  def lm(df: DataFrame, yCol: String, xCol: String, by: Seq[String]): DataFrame = {
    val (y, x) = (col(yCol), col(xCol))
    df.groupBy(by.map(col): _*).agg(
      regr_slope(y, x).as("slope"),
      regr_intercept(y, x).as("intercept"),
      regr_r2(y, x).as("r2"),
      corr(y, x).as("corr"),
      count(lit(1)).as("n"))
  }

  /** winsorize (rt_stats.py): clip values to the [lo, hi] percentile
    * band. Bounds are a one-row aggregate (one `percentile` buffer for
    * both) broadcast back — no second shuffle of the fact table.
    */
  def winsorize(df: DataFrame, valueCol: String, lo: Double = 0.05,
                hi: Double = 0.95, out: String = "winsorized"): DataFrame = {
    val v = col(valueCol)
    val bounds = df.agg(percentile(v, array(lit(lo), lit(hi))).as("__b"))
      .select(element_at(col("__b"), 1).as("__lo"), element_at(col("__b"), 2).as("__hi"))
    df.crossJoin(broadcast(bounds))
      .withColumn(out, least(greatest(v, col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** r2 of predictions (rt_stats.py): 1 − SSR/SST. The actual-mean is a
    * one-row aggregate broadcast back in.
    */
  def r2(df: DataFrame, actual: String, predicted: String): DataFrame = {
    val (a, p) = (col(actual), col(predicted))
    val m = df.agg(avg(a).as("__mean"))
    df.crossJoin(broadcast(m))
      .agg((lit(1.0) - sum(pow(a - p, 2)) / sum(pow(a - col("__mean"), 2))).as("r2"))
  }

  /** mae (rt_stats.py): mean absolute error. */
  def mae(df: DataFrame, actual: String, predicted: String): DataFrame =
    df.agg(avg(abs(col(actual) - col(predicted))).as("mae"))

  /** class_error (rt_stats.py:108): misclassification rate — the mean of
    * `pred != truth` over non-null rows. One map-side-combined aggregate.
    * Error count and n share the same non-null denominator (a row with a
    * null truth or pred is excluded from BOTH, never counted "correct").
    */
  def classError(df: DataFrame, truth: String, pred: String,
                 by: Seq[String] = Nil): DataFrame = {
    val valid = col(truth).isNotNull && col(pred).isNotNull
    val nExpr = count(when(valid, 1))
    val err = (sum(when(valid && col(truth) =!= col(pred), 1.0).otherwise(0.0)) / nExpr)
      .as("class_error")
    val n = nExpr.as("n")
    if (by.isEmpty) df.agg(err, n)
    else df.groupBy(by.map(col): _*).agg(err, n)
  }

  /** polyFit (rt_stats.py:230): degree-2 least squares per group, via
    * closed-form moment sums (no iteration, one shuffle).
    *
    * Numerics: x is CENTERED on its per-group mean before the moment
    * sums — Σ(x−x̄)^4 stays small where Σx^4 overflows double precision
    * at 100 TB row counts — and the reported coefficients are in the
    * centered basis (y ≈ c0 + c1·(x−x̄) + c2·(x−x̄)²) alongside x̄, so no
    * precision is lost re-expanding. The 3×3 normal system is solved in
    * closed form (Cramer), identically re-computable by any engine.
    * Two passes: a per-group mean (map-side combined), broadcast back,
    * then one moment aggregate.
    */
  def polyFit2(df: DataFrame, yCol: String, xCol: String,
               by: Seq[String]): DataFrame = {
    val (y, x) = (col(yCol), col(xCol))
    val means = df.groupBy(by.map(col): _*).agg(avg(x).as("xbar"))
    val c = x - col("xbar")
    val moments = df.join(broadcast(means), by)
      .groupBy((by :+ "xbar").map(col): _*)
      .agg(
        count(lit(1)).cast("double").as("s0"),
        sum(c).as("s1"), sum(c * c).as("s2"),
        sum(c * c * c).as("s3"), sum(c * c * c * c).as("s4"),
        sum(y).as("t0"), sum(y * c).as("t1"), sum(y * c * c).as("t2"))
    val (s0, s1, s2, s3, s4) =
      (col("s0"), col("s1"), col("s2"), col("s3"), col("s4"))
    val (t0, t1, t2) = (col("t0"), col("t1"), col("t2"))
    val det = s0 * (s2 * s4 - s3 * s3) - s1 * (s1 * s4 - s3 * s2) +
      s2 * (s1 * s3 - s2 * s2)
    val c0 = (t0 * (s2 * s4 - s3 * s3) - s1 * (t1 * s4 - s3 * t2) +
      s2 * (t1 * s3 - s2 * t2)) / det
    val c1 = (s0 * (t1 * s4 - t2 * s3) - t0 * (s1 * s4 - s2 * s3) +
      s2 * (s1 * t2 - s2 * t1)) / det
    val c2 = (s0 * (s2 * t2 - s3 * t1) - s1 * (s1 * t2 - s2 * t1) +
      t0 * (s1 * s3 - s2 * s2)) / det
    moments.select(
      (by.map(col) ++ Seq(col("xbar"), c0.as("c0"), c1.as("c1"),
        c2.as("c2"), s0.cast("long").as("n"))): _*)
  }

  /** General determinant as SQL TEXT via cofactor expansion along the
    * first row — k! terms, which is exactly why [[polyFitSolveSql]]
    * caps the degree; within that cap the text is small and, like
    * [[spline2SolveSql]], it is evaluated VERBATIM by both Spark
    * (`expr`) and the DuckDB oracle, so the per-group solve cannot
    * drift between engines (only the moment-sum inputs can, by
    * summation order — absorbed by output rounding).
    */
  private def detN(m: Seq[Seq[String]]): String =
    if (m.size == 1) m.head.head
    else {
      val parts = m.head.indices.map { j =>
        val minor = m.tail.map(r =>
          r.zipWithIndex.collect { case (e, i) if i != j => e })
        val term = s"${m.head(j)}*${detN(minor)}"
        if (j == 0) term else if (j % 2 == 0) s" + $term" else s" - $term"
      }
      s"(${parts.mkString})"
    }

  /** The Cramer solutions (c0..c_degree) of the degree-n polynomial
    * normal system A·c = v with A[i][j] = s_{i+j} (centered-x power
    * sums) and v[i] = t_i (y-weighted power sums), as SQL expressions
    * over the aliases produced by [[polyFit]] and its oracle mirror:
    * s0..s{2·degree}, t0..t{degree}. Degree ≤ 4: the cofactor text
    * grows factorially ((d+1)! terms per determinant, d+2 determinants)
    * and past a 5×5 system a numeric LU solve belongs in the engine,
    * not in shared SQL.
    */
  def polyFitSolveSql(degree: Int): Seq[String] = {
    require(degree >= 1 && degree <= 4,
      s"polyFit supports degree 1..4 (got $degree): the shared-SQL " +
        "cofactor solve grows factorially; higher degrees need LU")
    val a = (0 to degree).map(i => (0 to degree).map(j => s"s${i + j}"))
    val v = (0 to degree).map(i => s"t$i")
    val d = detN(a)
    (0 to degree).map { i =>
      val ai = a.zipWithIndex.map { case (row, r) => row.updated(i, v(r)) }
      s"(${detN(ai)} / $d)"
    }
  }

  /** polyFit (rt_stats.py:230) at GENERAL degree 1..4: least squares
    * per group via centered moment sums — [[polyFit2]]'s discipline
    * (center on the per-group mean so Σ(x−x̄)^{2d} stays in double
    * range at 100 TB row counts; coefficients reported in the centered
    * basis alongside x̄) with the (d+1)×(d+1) normal system solved by
    * the shared-SQL Cramer text of [[polyFitSolveSql]]. Two passes:
    * per-group mean (map-side combined, broadcast back), then ONE
    * moment aggregate; the solve is a scalar projection. Power sums
    * are explicit left-associated products (`((c·c)·c)…` — `pow()`
    * could diverge in the last ulp between engines).
    */
  def polyFit(df: DataFrame, yCol: String, xCol: String,
              by: Seq[String], degree: Int): DataFrame = {
    val sols = polyFitSolveSql(degree) // validates degree
    val (y, x) = (col(yCol).cast("double"), col(xCol).cast("double"))
    val means = df.groupBy(by.map(col): _*).agg(avg(x).as("xbar"))
    val c = x - col("xbar")
    def cpow(k: Int): Column = (2 to k).foldLeft(c)((p, _) => p * c)
    val aggs =
      (1 to 2 * degree).map(k => sum(cpow(k)).as(s"s$k")) ++
        (sum(y).as("t0") +:
          (1 to degree).map(k => sum(y * cpow(k)).as(s"t$k")))
    val moments = df.join(broadcast(means), by)
      .groupBy((by :+ "xbar").map(col): _*)
      .agg(count(lit(1)).cast("double").as("s0"), aggs: _*)
    moments.select(
      (by.map(col) :+ col("xbar")) ++
        sols.zipWithIndex.map { case (s, i) => expr(s).as(s"c$i") } ++
        Seq(col("s0").cast("long").as("n")): _*)
  }

  // ---- linear_spline (rt_stats.py:154) ----
  //
  // Continuous piecewise-linear least squares with 2 fixed knots:
  //   y ≈ c0 + c1·x + c2·max(0, x−t1) + c3·max(0, x−t2)
  // The 4×4 normal system solves in closed form (Cramer). The solve is
  // emitted as SQL TEXT and used via expr() on the Spark side and
  // verbatim in the DuckDB oracle — both engines evaluate the IDENTICAL
  // arithmetic expression over identically-defined aggregate aliases,
  // so the only cross-engine drift is summation order (absorbed by
  // output rounding). One aggregate pass; the per-group solve is a
  // scalar projection.

  private def det3(m: Seq[Seq[String]]): String =
    s"(${m(0)(0)}*(${m(1)(1)}*${m(2)(2)} - ${m(1)(2)}*${m(2)(1)})" +
      s" - ${m(0)(1)}*(${m(1)(0)}*${m(2)(2)} - ${m(1)(2)}*${m(2)(0)})" +
      s" + ${m(0)(2)}*(${m(1)(0)}*${m(2)(1)} - ${m(1)(1)}*${m(2)(0)}))"

  private def det4(m: Seq[Seq[String]]): String = {
    def minor(j: Int): String =
      det3(m.tail.map(r => r.zipWithIndex.collect { case (e, i) if i != j => e }))
    s"(${m(0)(0)}*${minor(0)} - ${m(0)(1)}*${minor(1)}" +
      s" + ${m(0)(2)}*${minor(2)} - ${m(0)(3)}*${minor(3)})"
  }

  /** The Cramer solutions (c0, c1, c2, c3) of the spline normal system,
    * as SQL expressions over the aggregate aliases produced by
    * `linearSpline` / its oracle mirror: s0 sx sh1 sh2 sxx sxh1 sxh2
    * sh1h1 sh1h2 sh2h2 vy vxy vh1y vh2y.
    */
  def spline2SolveSql: Seq[String] = {
    val a = Seq(
      Seq("s0", "sx", "sh1", "sh2"),
      Seq("sx", "sxx", "sxh1", "sxh2"),
      Seq("sh1", "sxh1", "sh1h1", "sh1h2"),
      Seq("sh2", "sxh2", "sh1h2", "sh2h2"))
    val v = Seq("vy", "vxy", "vh1y", "vh2y")
    val d = det4(a)
    (0 until 4).map { i =>
      val ai = a.zipWithIndex.map { case (row, r) => row.updated(i, v(r)) }
      s"(${det4(ai)} / $d)"
    }
  }

  /** linear_spline (rt_stats.py:154): continuous piecewise-linear least
    * squares at exactly 2 knots (the closed-form Cramer solve above;
    * more knots would need an LU solve — out of scope like the
    * reference's display half). Output is the hinge-basis coefficients
    * plus n.
    */
  def linearSpline(df: DataFrame, yCol: String, xCol: String,
                   knots: (Double, Double), by: Seq[String]): DataFrame = {
    val (x, y) = (col(xCol).cast("double"), col(yCol).cast("double"))
    val h1 = greatest(x - knots._1, lit(0.0))
    val h2 = greatest(x - knots._2, lit(0.0))
    val agg = df.groupBy(by.map(col): _*).agg(
      count(lit(1)).cast("double").as("s0"),
      sum(x).as("sx"), sum(h1).as("sh1"), sum(h2).as("sh2"),
      sum(x * x).as("sxx"), sum(x * h1).as("sxh1"), sum(x * h2).as("sxh2"),
      sum(h1 * h1).as("sh1h1"), sum(h1 * h2).as("sh1h2"),
      sum(h2 * h2).as("sh2h2"),
      sum(y).as("vy"), sum(x * y).as("vxy"),
      sum(h1 * y).as("vh1y"), sum(h2 * y).as("vh2y"))
    val sols = spline2SolveSql
    agg.select((by.map(col) ++ sols.zipWithIndex.map { case (s, i) =>
      expr(s).as(s"c$i")
    } :+ col("s0").cast("long").as("n")): _*)
  }

  /** Column profiler — the "what's in this table" report run before any
    * pipeline work: per column, row/null counts, string and numeric
    * min/max, and the KMV distinct-count estimate (deterministic, so
    * the whole report is oracle-checkable — see `Sketch.KmvAgg`).
    *
    * Shape: ONE scan, ONE wide single-row aggregate, ZERO data
    * shuffles — the KMV sketch rides the same aggregate as the
    * counts/extremes as a bounded-buffer `Aggregator` column (map-side
    * combined to one ≤ k-long array per partition), so nothing is ever
    * melted, deduplicated, or windowed; the one-row result unpivots
    * with a driver-tiny stack. The earlier melt + global distinct +
    * salted-rank formulation shuffled the full (colname, hash) stream —
    * same estimate (both are the same function of the k smallest
    * distinct hashes), ~4× the cost, and a corpus-sized exchange at
    * 100 TB where this shape moves k longs per column per partition.
    * Values profile as their STRING forms (the numeric min/max
    * re-casts; non-numeric columns yield null there, matching
    * TRY_CAST) — callers exclude columns whose string rendering is
    * engine-dependent (timestamps' fractional-second formatting).
    */
  def profile(df: DataFrame, cols: Seq[String],
              sketchK: Int = 64): DataFrame = {
    val kmv = graft.operators.Sketch.kmvUdaf(sketchK)
    val aggs = cols.flatMap { c =>
      val v = col(s"`$c`").cast("string")
      Seq(sum(when(v.isNull, 1L).otherwise(0L)).as(s"__null_$c"),
        min(v).as(s"__min_$c"), max(v).as(s"__max_$c"),
        round(min(v.cast("double")), 6).as(s"__minn_$c"),
        round(max(v.cast("double")), 6).as(s"__maxn_$c"))
    }
    // TWO one-row aggregates, not one: a typed-Aggregator column turns
    // the whole aggregate into interpreted ObjectHashAggregate, which
    // would drop the 5·ncols builtin min/max/sum columns out of
    // whole-stage codegen (measured 0.3 s → 2.2 s on q191). Keeping
    // the sketches in their own udaf-only aggregate leaves the
    // extremes codegen'd; both results are one row, so the recombine
    // is a driver-free literal cross join.
    val kmvs = cols.map { c =>
      kmv(graft.operators.Dedup.portableHash64(col(s"`$c`").cast("string")))
        .as(s"__kmv_$c")
    }
    val wide = df.agg(count(lit(1)).as("__n"), aggs: _*)
      .crossJoin(df.agg(kmvs.head, kmvs.tail: _*))
    wide.select(expr(
      s"stack(${cols.length}, " + cols.map(c =>
        s"'$c', __n, `__null_$c`, `__min_$c`, `__max_$c`, " +
          s"`__minn_$c`, `__maxn_$c`, " +
          s"`__kmv_$c`.distinct_est, `__kmv_$c`.sketch_size").mkString(", ") +
        ") as (colname, n, n_null, min_str, max_str, min_num, max_num, " +
        "distinct_est, sketch_size)"))
  }

  /** Tie-aware ROC-AUC of a score against a binary label — the
    * standard gate on a trained quality classifier before it filters a
    * corpus (is the model's score actually predictive of the label?).
    * Computed from the Mann-Whitney U statistic with AVERAGE ranks for
    * ties, so discrete scores (lengths, integer counts) are handled
    * exactly: AUC = (Σ avgrank(pos) − n₊(n₊+1)/2) / (n₊·n₋).
    *
    * Scale shape: one hash aggregate collapses the corpus to its
    * DISTINCT score values (map-side combined — the corpus never
    * shuffles whole), then ONE ordered window over that distinct-score
    * frame computes cumulative counts. The window is partition-less but
    * runs over |distinct scores| rows, not |corpus| — callers with a
    * continuous score round it first (6dp) to bound that frame. Output
    * is a single row.
    */
  def rocAuc(df: DataFrame, score: Column, label: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perScore = df
      .select(score.as("s"), label.cast("int").as("y"))
      .filter(col("s").isNotNull && col("y").isNotNull)
      .groupBy(col("s"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
    val w = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = perScore.withColumn("cum_below",
      coalesce(sum(col("n")).over(w), lit(0L)))
    // Σ avgrank over positives: every positive at score s has average
    // rank cum_below + (n+1)/2 (1-based ranks over the whole sample)
    ranked.agg(
        sum(col("npos") * (col("cum_below") + (col("n") + 1) / 2.0))
          .as("sum_rank_pos"),
        sum(col("npos")).as("n_pos"),
        sum(col("n") - col("npos")).as("n_neg"))
      .select(
        round((col("sum_rank_pos") - col("n_pos") * (col("n_pos") + 1) / 2.0)
          / (col("n_pos") * col("n_neg")), 6).as("auc"),
        col("n_pos"), col("n_neg"))
  }

  /** Robust per-group outlier profile: median, MAD (median absolute
    * deviation), and the count of rows beyond `k`·MAD — the
    * length-outlier screen in curation pipelines, immune to the heavy
    * tails that wreck a mean/σ z-score on document lengths.
    *
    * Shape: two grouped exact-percentile aggregates (mergeable buffers,
    * map-side combined) with a broadcast-sized per-group stats join
    * between them — the corpus scans twice, shuffles only its per-group
    * partials, and the (group, med) / (group, med, mad) frames are
    * dictionary-sized by construction.
    */
  def madOutliers(df: DataFrame, by: Seq[String], valueCol: String,
                  k: Double = 3.0): DataFrame = {
    val v = col(valueCol).cast("double")
    val keys = by.map(col)
    val med = df.groupBy(keys: _*)
      .agg(percentile(v, lit(0.5)).as("med"))
    val withMed = df.join(broadcast(med), by)
    val mad = withMed.groupBy(keys: _*)
      .agg(percentile(abs(v - col("med")), lit(0.5)).as("mad"),
        first(col("med")).as("med2"))
      .select((keys :+ col("med2").as("med") :+ col("mad")): _*)
    df.join(broadcast(mad), by)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        round(first(col("med")), 6).as("med"),
        round(first(col("mad")), 6).as("mad"),
        sum(when(abs(v - col("med")) > lit(k) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }
}
