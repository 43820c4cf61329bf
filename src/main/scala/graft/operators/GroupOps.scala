package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The riptable GroupByOps aggregation suite as Spark aggregate Columns.
  *
  * Reference: `riptable/rt_groupbyops.py:34` (GroupByOps, shared by
  * GroupBy/Categorical/Accum2) dispatching to C++ kernels via
  * `Grouping._calculate_all` (`riptable/rt_grouping.py:3277`). The
  * Stage-1 hash + Stage-2 pack design maps exactly onto Spark's
  * partial-aggregate + shuffle + final-aggregate (SURVEY §3.2), so every
  * op here is a plain aggregate expression that Catalyst plans with
  * map-side combine. One exception is planned for: a `countUniques`
  * (count distinct) beside an object-buffer aggregate such as
  * `percentile` would key those buffers on the distinct column, so
  * `graft.plans.SplitDistinctAggregate` plans the two parts as separate
  * aggregates joined on the group keys, each map-side combined.
  *
  * NA semantics: riptable's `nan*` flavors skip invalids — that is Spark's
  * default null-skipping aggregate. The non-nan flavors PROPAGATE invalids
  * (any invalid in group → invalid result); those are the `strict*`
  * variants here, built as `when(no-nulls, agg)`.
  */
object GroupOps {

  // nan* family (rt_groupbyops.py:2145,1434,2009,2077,2871,2731) → default
  def nansum(c: Column): Column = sum(c)
  def nanmean(c: Column): Column = avg(c)
  def nanmin(c: Column): Column = min(c)
  def nanmax(c: Column): Column = max(c)
  def nanvar(c: Column): Column = var_samp(c)   // ddof=1, rt_groupbyops.py:2871
  def nanstd(c: Column): Column = stddev_samp(c)
  def nanmedian(c: Column): Column = percentile(c, lit(0.5))

  // strict (invalid-propagating) family (rt_groupbyops.py:1161,1230,...)
  private def strict(c: Column, agg: Column): Column =
    when(count(c) === count(lit(1)), agg)
  def strictSum(c: Column): Column = strict(c, sum(c))
  def strictMean(c: Column): Column = strict(c, avg(c))
  def strictMin(c: Column): Column = strict(c, min(c))
  def strictMax(c: Column): Column = strict(c, max(c))
  def strictVar(c: Column): Column = strict(c, var_samp(c))
  def strictStd(c: Column): Column = strict(c, stddev_samp(c))

  /** count_uniques (rt_groupbyops.py:1037). */
  def countUniques(c: Column): Column = count_distinct(c)

  /** sem — std error of mean (rt_groupbyops.py:3500). */
  def sem(c: Column): Column = stddev_samp(c) / sqrt(count(c))

  /** mode (rt_groupbyops.py:1298) — deterministic: ties resolve to the
    * LOWEST value (plain `mode()` picks an arbitrary tied value, which
    * flaps across engines and partitionings).
    */
  def modeAgg(c: Column): Column = mode(c, deterministic = true)

  /** Deterministic mode as TWO codegen'd hash aggregates instead of the
    * interpreted map-buffer `mode` aggregate: count per (keys, value) —
    * map-side combined, so the shuffle carries one row per distinct
    * (group, value) — then per-group argmax by (count desc, value asc).
    * Same tie rule as modeAgg (lowest value wins). This is also the
    * 100-TB shape: a giant group with a wide value dictionary shuffles
    * one row per distinct value, never a per-partial hash map of the
    * whole dictionary.
    */
  def modeBy(df: DataFrame, keys: Seq[String], valueCol: String,
             out: String = "mode"): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy((keys :+ valueCol).map(col): _*)
      .agg(count(lit(1)).as("__n"))
    counts.groupBy(keys.map(col): _*)
      .agg(min_by(col(valueCol),
        struct((-col("__n")).as("nn"), col(valueCol).as("v"))).as(out))
  }

  /** quantile / percentile, exact (rt_groupbyops.py:2517). */
  def quantile(c: Column, q: Double): Column = percentile(c, lit(q))
  def quantiles(c: Column, qs: Seq[Double]): Column =
    percentile(c, array(qs.map(lit): _*))

  /** first/last by an explicit order column — riptable first/last are
    * positional over the packed group (rt_groupbyops.py:2349,2417); on
    * unordered distributed data the order must be named explicitly.
    */
  def firstBy(c: Column, ord: Column): Column = min_by(c, ord)
  def lastBy(c: Column, ord: Column): Column = max_by(c, ord)

  /** ohlc (rt_groupbyops.py:3514). */
  def ohlc(c: Column, ord: Column): Seq[Column] = Seq(
    min_by(c, ord).as("open"), max(c).as("high"),
    min(c).as("low"), max_by(c, ord).as("close"))

  /** trimbr — trimmed mean keeping values within the [lo, hi] percentile
    * band (rt_groupbyops.py:1366, GB_TRIMBR kernel; default 10%/90%).
    * Two-pass: per-group percentile bounds — one `percentile` buffer for
    * both — (shuffle 1, map-side combined) then conditional mean
    * (shuffle 2). Bounds side is one row per group →
    * broadcast back in.
    */
  def trimbr(df: DataFrame, keys: Seq[String], valueCol: String,
             lo: Double = 0.1, hi: Double = 0.9, out: String = "trimbr"): DataFrame = {
    val v = col(valueCol)
    val bounds = df.groupBy(keys.map(col): _*)
      .agg(percentile(v, array(lit(lo), lit(hi))).as("__b"))
      .select(keys.map(col) :+ element_at(col("__b"), 1).as("__lo") :+
        element_at(col("__b"), 2).as("__hi"): _*)
    df.join(broadcast(bounds), keys)
      .groupBy(keys.map(col): _*)
      .agg(avg(when(v >= col("__lo") && v <= col("__hi"), v)).as(out))
  }

  /** Two-level bounded-per-group selection: keep the first `limit` rows
    * per (group, input-partition) with a SALTED window first — every
    * true top-`limit` row survives its own salt bucket — then rank the
    * tiny survivor set with the real per-group window. A direct
    * `partitionBy(keys)` window sends the whole fact table to
    * `n_groups` reducers; with riptable-typical low-cardinality groups
    * (returnflag has 3) that is 3 tasks sorting everything at any
    * scale. Here the full-data sort parallelizes across
    * groups × partitions, and the second window touches
    * ≤ parts × limit rows per group. Result rows are identical (the
    * survivor set is a superset of the answer).
    */
  private def twoLevelRanked(df: DataFrame, keys: Seq[String], limit: Int,
                             order: Seq[Column]): DataFrame = {
    val salted = Window
      .partitionBy(keys.map(col) :+ col("__gb_salt"): _*).orderBy(order: _*)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__gb_salt", spark_partition_id())
      .withColumn("__rn1", row_number().over(salted))
      .filter(col("__rn1") <= limit)
      .withColumn("__rn", row_number().over(w))
      .drop("__gb_salt", "__rn1")
  }

  /** nth element per group by explicit order (rt_groupbyops.py:3543). */
  def gbNth(df: DataFrame, keys: Seq[String], n: Int, order: Seq[Column]): DataFrame =
    twoLevelRanked(df, keys, n + 1, order)
      .filter(col("__rn") === n + 1).drop("__rn")

  /** grouped head/tail (rt_groupbyops.py:3673,3699). */
  def gbHead(df: DataFrame, keys: Seq[String], n: Int, order: Seq[Column]): DataFrame =
    twoLevelRanked(df, keys, n, order)
      .filter(col("__rn") <= n).drop("__rn")
  def gbTail(df: DataFrame, keys: Seq[String], n: Int, order: Seq[Column]): DataFrame =
    gbHead(df, keys, n, order.map(_.desc_nulls_last))

  /** ngroup (rt_groupbyops.py:3565): dense group id in key order.
    * The naive form (dense_rank over a GLOBAL window) funnels the whole
    * table through one partition; instead the id is assigned on the
    * (small) distinct-key set and broadcast-joined back — the fact table
    * never re-shuffles.
    */
  def ngroup(df: DataFrame, keys: Seq[String], out: String = "ngroup"): DataFrame = {
    val cats = df.select(keys.map(col): _*).distinct()
      .withColumn(out, row_number().over(Window.orderBy(keys.map(col): _*)) - 1)
    df.join(broadcast(cats), keys)
  }

  /** Hierarchical subtotals in one pass: `ROLLUP(keys...)` — the
    * multi-level generalization of Accum2's margin totals
    * (`rt_accum2.py:39`; stacked footer rows `rt_accumtable.py`).
    * Spark computes every grouping set in a single shuffle (partial
    * aggregates fan out per set map-side); `grouping_id` disambiguates
    * subtotal rows from genuine null keys.
    */
  def rollupAgg(df: DataFrame, keys: Seq[String], aggs: (String, Column)*): DataFrame =
    df.rollup(keys.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, a) => a.as(n) } :+
          grouping_id().cast("long").as("gid"): _*)

  /** CUBE (all key subsets) — same single-shuffle shape as rollupAgg. */
  def cubeAgg(df: DataFrame, keys: Seq[String], aggs: (String, Column)*): DataFrame =
    df.cube(keys.map(col): _*)
      .agg(aggs.head._2.as(aggs.head._1),
        aggs.tail.map { case (n, a) => a.as(n) } :+
          grouping_id().cast("long").as("gid"): _*)

  /** Multi-function agg with Multiset-flatten naming `f_col`
    * (riptable agg(list) → Multiset, `rt_groupbyops.py:890`;
    * Multiset.flatten `riptable/rt_multiset.py:631`).
    */
  def aggMulti(df: DataFrame, keys: Seq[String], cols: Seq[String],
               funcs: Seq[(String, Column => Column)]): DataFrame = {
    val aggs = funcs.flatMap { case (fname, f) =>
      cols.map(c => f(col(c)).as(s"${fname}_$c"))
    }
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** groups / iter_groups (`rt_groupbyops.py:108,153,214`): materialize
    * each group's member row-ids. Riptable returns the FULL fancy-index
    * per group — fine in one address space, the canonical scale
    * anti-pattern on a cluster (a hot group materializes into one
    * task's heap). The engine surface is therefore CAPPED: the `cap`
    * smallest ids per group (windowed rank — a streaming frame, never
    * an unbounded per-group buffer), beside the TRUE group size and a
    * truncation flag, so a consumer can page (re-call with a floor),
    * or escalate to `applyGroups`, which streams the group instead of
    * holding it. Output: (keys..., ids array, n_rows, truncated).
    */
  def groupRows(df: DataFrame, keys: Seq[String], idCol: String,
                cap: Int = 1000): DataFrame = {
    require(cap > 0, "groupRows: cap must be positive")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(idCol))
    df.select((keys.map(col) :+ col(idCol)): _*)
      .withColumn("__rn", row_number().over(w))
      .groupBy(keys.map(col): _*)
      .agg(
        // collect_list skips nulls → only the first `cap` ids survive;
        // sort_array pins the order independent of arrival
        sort_array(collect_list(when(col("__rn") <= cap, col(idCol))))
          .as("ids"),
        count(lit(1)).as("n_rows"))
      .withColumn("truncated", col("n_rows") > cap)
  }

  /** cumcount (rt_groupbyops.py:3129). */
  def cumcount(df: DataFrame, keys: Seq[String], order: Seq[Column],
               out: String = "cumcount"): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn(out, row_number().over(w) - 1)
  }

  /** Per-op pre-aggregation filter (`filter=` kwarg fused into kernels,
    * `rt_grouping.py:3330`) → `agg(f(when(filter, col)))` so the predicate
    * rides inside the partial aggregate.
    */
  def filtered(c: Column, filter: Column): Column = when(filter, c)

  /** `transform=True` (broadcast group result back to rows) → the same
    * aggregate over a keys-partitioned window (SURVEY §2.4).
    */
  def transform(df: DataFrame, keys: Seq[String], aggs: (String, Column)*): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
    aggs.foldLeft(df) { case (d, (name, a)) => d.withColumn(name, a.over(w)) }
  }

  /** Grouping.apply (`rt_grouping.py:2944`): run an arbitrary function
    * per group, emitting ANY number of rows per group (riptable's
    * UDTF-ish escape hatch). Spark-first: `groupByKey(...).flatMapGroups`
    * — one shuffle on the keys, the function streams each group's
    * iterator (state is whatever the function holds, NOT the group
    * materialized, unless the function itself collects it).
    *
    * Prefer declarative aggregates/windows wherever they exist — this is
    * the last resort the reference also treats it as.
    */
  def applyGroups(df: DataFrame, keys: Seq[String],
                  outSchema: org.apache.spark.sql.types.StructType)(
                  f: (org.apache.spark.sql.Row, Iterator[org.apache.spark.sql.Row])
                    => Iterator[org.apache.spark.sql.Row]): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.StructType
    val keySchema = StructType(keys.map(df.schema(_)))
    val keyIdx = keys.map(df.schema.fieldIndex)
    df.groupByKey(r => Row.fromSeq(keyIdx.map(r.get)))(Encoders.row(keySchema))
      .flatMapGroups((k: Row, it: Iterator[Row]) => f(k, it))(Encoders.row(outSchema))
  }
}
