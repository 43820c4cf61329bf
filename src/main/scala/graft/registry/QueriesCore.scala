package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.functions._
import graft.syntax._

/** Query registry — relational core: projection/filter, joins, group-bys, accum, reshape, categorical, IO, scalar packs.
  * One entry per SURVEY §2 operator family member; names pair 1:1 with
  * `OraclesCore.m` (driver contract: SparkEntry.queries/oracleSql).
  */
private[graft] object QueriesCore {
  import QueryShared._

  def m: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q1_agg" -> ((s, dir) => q1(s, dir)),

    "q2_filter_project" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filterRows(col("l_quantity") > 45 && col("l_discount") >= 0.05)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 6).as("revenue"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "q3_join_inner" -> ((s, dir) =>
      Merge.merge2(
        t(s, dir, "orders"), t(s, dir, "customer").withColumnRenamed("c_custkey", "o_custkey"),
        on = Seq("o_custkey"), how = "inner")
        .groupBy(col("c_mktsegment"))
        .agg(round(sum(col("o_totalprice")), 2).as("sum_price"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("c_mktsegment"))),

    "q4_join_outer" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val agg = t(s, dir, "lineitem").groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"))
        .withColumnRenamed("l_orderkey", "o_orderkey")
      Merge.merge2(orders.select(col("o_orderkey"), col("o_orderstatus")), agg,
        on = Seq("o_orderkey"), how = "outer", indicator = true)
        .groupBy(col("o_orderstatus"), col("merge_indicator"))
        .agg(count(lit(1)).as("n"), sum(col("n_items")).as("sum_items"))
        .orderBy(col("o_orderstatus"), col("merge_indicator"))
    }),

    "q5_merge_lookup" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
      Merge.mergeLookup(cust, nat, on = Seq("c_nationkey"), orderCol = Some("n_name"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"), round(avg(col("c_acctbal")), 6).as("avg_bal"))
        .orderBy(col("n_name"))
    }),

    "q6_ismember" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val orders = t(s, dir, "orders").withColumnRenamed("o_custkey", "c_custkey")
      Merge.ismember(cust, orders, Seq("c_custkey"))
        .groupBy(col("ismember")).agg(count(lit(1)).as("n"))
        .orderBy(col("ismember"))
    }),

    "q7_gb_quantiles" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(GroupOps.nanmedian(col("l_quantity")), 6).as("med_qty"),
          round(GroupOps.quantile(col("l_extendedprice"), 0.9), 6).as("p90_price"),
          round(GroupOps.nanvar(col("l_quantity")), 6).as("var_qty"),
          round(GroupOps.nanstd(col("l_discount")), 6).as("std_disc"),
          GroupOps.countUniques(col("l_partkey")).as("n_parts"))
        .orderBy(col("l_returnflag"))),

    "q8_gb_firstlast" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          GroupOps.firstBy(col("o_totalprice"), col("o_orderkey")).as("first_price"),
          GroupOps.lastBy(col("o_totalprice"), col("o_orderkey")).as("last_price"),
          min(col("o_orderdate")).as("min_date"),
          max(col("o_orderdate")).as("max_date"))
        .orderBy(col("o_orderpriority"))),

    "q9_gb_transform" -> ((s, dir) =>
      GroupOps.transform(
        t(s, dir, "orders"), Seq("o_orderstatus"),
        "status_total" -> sum(col("o_totalprice")),
        "status_n" -> count(lit(1)))
        .select(col("o_orderkey"), col("o_orderstatus"),
          // round(2): group sums reach ~1.2e10 at sf0.1, where
          // engine-side summation-order drift is ~1e-4 — round(4) sat
          // exactly on that edge (flipped at sf0.1, fine at sf0.01)
          round(col("status_total"), 2).as("status_total"), col("status_n"))
        .orderBy(col("o_orderkey"))),

    "q19_cut" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("qty_bin", Binning.cut(col("l_quantity"), Seq(0.0, 10.0, 20.0, 30.0, 40.0, 50.0)))
        .groupBy(col("qty_bin")).agg(count(lit(1)).as("n"),
          round(avg(col("l_extendedprice")), 6).as("avg_price"))
        .orderBy(col("qty_bin"))),

    "q20_qcut" -> ((s, dir) =>
      Binning.qcut(t(s, dir, "orders"), "o_totalprice", "o_orderkey", 4, "price_q")
        .withColumn("price_q", col("price_q").cast("long"))
        .groupBy(col("price_q")).agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 6).as("lo"),
          round(max(col("o_totalprice")), 6).as("hi"))
        .orderBy(col("price_q"))),

    // ---- §2.7 reshape ----

    "q21_hstack" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.filter(col("l_linestatus") === "O")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      val b = li.filter(col("l_linestatus") === "F")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
      a.hstack(b)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q22_pivot" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
      val reg = t(s, dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
      val joined = cust.join(broadcast(nat), Seq("c_nationkey"))
        .join(broadcast(reg), Seq("n_regionkey"))
      Reshape.accum2(joined, "c_mktsegment", "r_name", count(lit(1)),
        colValues = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))
        .na.fill(0L)
        .withColumnRenamed("MIDDLE EAST", "MIDDLE_EAST")
        .orderBy(col("c_mktsegment"))
    }),

    "q23_melt" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
        .melt(Seq("l_orderkey", "l_linenumber"), Seq("l_quantity", "l_discount"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("variable"))),

    // rank-based keep=first over a total order — partition-invariant,
    // so the single-split lineitem scan opts into the parallelism
    // floor on its dedup key (r16; see Tables.floored)
    "q24_dropdup" -> ((s, dir) =>
      Tables.floored(s, dir, "lineitem", "l_orderkey")
        .dropDuplicatesKeep(Seq("l_orderkey"), "first", Seq("l_linenumber", "l_quantity", "l_partkey"))
        .select(col("l_orderkey"), col("l_linenumber"), round(col("l_quantity"), 6).as("l_quantity"))
        .orderBy(col("l_orderkey"))),

    "q25_onehot" -> ((s, dir) =>
      t(s, dir, "orders")
        .oneHotEncode("o_orderstatus", Seq("F", "O", "P"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("o_orderstatus_F")).as("n_f"),
          sum(col("o_orderstatus_O")).as("n_o"),
          sum(col("o_orderstatus_P")).as("n_p"))
        .orderBy(col("o_orderpriority"))),

    // ---- batch 2: strict aggs, trimbr, ohlc, mode/nth, head/tail, EMA,
    //      time windows, resample, set ops, describe, normalize, media ----

    "q33_strict_agg" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("v", when(col("l_quantity") > 48, lit(null)).otherwise(col("l_quantity")))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(GroupOps.nansum(col("v")), 6).as("nansum_v"),
          round(GroupOps.strictSum(col("v")), 6).as("sum_v"),
          round(GroupOps.strictMean(col("v")), 6).as("mean_v"),
          round(GroupOps.strictMax(col("v")), 6).as("max_v"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q34_trimbr" -> ((s, dir) =>
      GroupOps.trimbr(t(s, dir, "lineitem"), Seq("l_returnflag"), "l_extendedprice")
        .select(col("l_returnflag"), round(col("trimbr"), 6).as("trimbr"))
        .orderBy(col("l_returnflag"))),

    "q35_ohlc" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(
          round(GroupOps.firstBy(col("value"), col("event_id")), 6).as("open"),
          round(max(col("value")), 6).as("high"),
          round(min(col("value")), 6).as("low"),
          round(GroupOps.lastBy(col("value"), col("event_id")), 6).as("close"),
          round(GroupOps.sem(col("value")), 6).as("sem"))
        .orderBy(col("event_type"))),

    "q36_mode_nth" -> ((s, dir) => {
      // counts + total-order ranks only — partition-invariant, floor the
      // single-split scan so gbNth's salted first level actually fans
      // out (spark_partition_id is constant on a 1-split scan, r16)
      val li = Tables.floored(s, dir, "lineitem", "l_orderkey")
      // two-phase mode (GroupOps.modeBy): one row per (flag, status)
      // crosses the wire, both aggregates codegen'd — replaces the
      // interpreted map-buffer mode() (same deterministic tie rule)
      val m = GroupOps.modeBy(li, Seq("l_returnflag"), "l_linestatus",
        "mode_status")
      GroupOps.gbNth(li, Seq("l_returnflag"), 2,
        Seq(col("l_orderkey"), col("l_linenumber"), col("l_partkey")))
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"))
        .join(m, Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    }),

    "q37_gb_headtail" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val h = GroupOps.gbHead(ord, Seq("o_orderstatus"), 2, Seq(col("o_orderkey")))
        .withColumn("which", lit("head"))
      val tl = GroupOps.gbTail(ord, Seq("o_orderstatus"), 2, Seq(col("o_orderkey")))
        .withColumn("which", lit("tail"))
      h.unionByName(tl).select(col("o_orderstatus"), col("which"), col("o_orderkey"))
        .orderBy(col("o_orderstatus"), col("which"), col("o_orderkey"))
    }),

    "q42_setops" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val withOrders = t(s, dir, "orders").select(col("o_custkey").as("c_custkey")).distinct()
      val building = cust.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val inter = building.intersect(withOrders).withColumn("op", lit("intersect"))
      val exc = building.except(withOrders).withColumn("op", lit("except"))
      inter.unionByName(exc).orderBy(col("op"), col("c_custkey"))
    }),

    "q43_describe" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(
        count(col("l_quantity")).as("n"),
        round(avg(col("l_quantity")), 6).as("mean"),
        round(stddev_samp(col("l_quantity")), 6).as("std"),
        round(min(col("l_quantity")), 6).as("mn"),
        round(percentile(col("l_quantity"), lit(0.25)), 6).as("p25"),
        round(percentile(col("l_quantity"), lit(0.5)), 6).as("p50"),
        round(percentile(col("l_quantity"), lit(0.75)), 6).as("p75"),
        round(max(col("l_quantity")), 6).as("mx"))),

    "q44_normalize" -> ((s, dir) =>
      t(s, dir, "customer")
        .normalizeZscore("c_acctbal", "z")
        .normalizeMinmax("c_acctbal", "mm")
        .select(col("c_custkey"), round(col("z"), 6).as("z"), round(col("mm"), 6).as("mm"))
        .orderBy(col("c_custkey"))),

    "q45_isin_where" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filterRows(maskAnd(col("l_returnflag").isin("A", "R"),
          col("l_quantity").between(10, 20)))
        .whereCol("disc_class", col("l_discount") >= 0.05, lit("hi"), lit("lo"))
        .select(col("l_orderkey"), col("l_linenumber"), col("disc_class"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "q46_astype_fill" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("v", when(col("l_discount") < 0.02, lit(null)).otherwise(col("l_extendedprice")))
        .fillnaValue(0.0d, Seq("v"))
        .select(col("l_orderkey"), col("l_linenumber"),
          floor(col("l_quantity")).cast("long").as("qty_int"),
          round(col("v"), 6).as("v_filled"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "q49_multimodal" -> ((s, dir) =>
      Multimodal.withMediaFeatures(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("media.media_type").as("media_type"),
          col("n_bytes").cast("long").as("n_bytes"),
          size(col("features")).as("n_features"))
        .orderBy(col("doc_id"))),

    "q50_pdataset" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("p_date", expr("ts div 86400000000000"))
        .groupBy(col("p_date"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 6).as("sum_value"))
        .orderBy(col("p_date"), col("event_type"))),

    "q51_accum2_totals" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
      val reg = t(s, dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
      val joined = cust.join(broadcast(nat), Seq("c_nationkey"))
        .join(broadcast(reg), Seq("n_regionkey"))
      Reshape.accum2(joined, "c_mktsegment", "r_name", count(lit(1)),
        colValues = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"),
        totals = true)
        .na.fill(0L)
        .withColumnRenamed("MIDDLE EAST", "MIDDLE_EAST")
        .orderBy(col("c_mktsegment"))
    }),

    "q52_merge_keep" -> ((s, dir) => {
      // keep=last is rank-based over explicit order cols and l_quantity
      // rounds per-row (no float folds) — partition-invariant; floor
      // both sides on the join key so the dedup window AND the join
      // reuse the same hash partitioning (r16, guide §2.4)
      val li = Tables.floored(s, dir, "lineitem", "l_orderkey")
        .withColumnRenamed("l_orderkey", "o_orderkey")
        .select(col("o_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_partkey"))
      Merge.merge2(Tables.floored(s, dir, "orders", "o_orderkey")
        .select(col("o_orderkey"), col("o_orderstatus")),
        li, on = Seq("o_orderkey"), how = "left", keepRight = Some("last"),
        keepOrderCols = Seq("l_linenumber", "l_quantity", "l_partkey"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("l_linenumber"),
          round(col("l_quantity"), 6).as("l_quantity"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- batch 3: categorical, UDAF registry, stats, interp, multiset ----

    "q53_categorical" -> ((s, dir) =>
      Categorical.encode(t(s, dir, "customer"), "c_mktsegment")
        .withColumn("code", col("code").cast("long"))
        .groupBy(col("code"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("code"))),

    "q54_udaf" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(Apply.weightedMean(col("l_extendedprice"), col("l_quantity")), 6)
          .as("wmean_price"))
        .orderBy(col("l_returnflag"))),

    "q55_regr" -> ((s, dir) =>
      Stats.lm(t(s, dir, "lineitem"), "l_extendedprice", "l_quantity", Seq("l_returnflag"))
        .select(col("l_returnflag"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"),
          round(col("r2"), 6).as("r2"), round(col("corr"), 6).as("corr"), col("n"))
        .orderBy(col("l_returnflag"))),

    "q56_winsorize" -> ((s, dir) =>
      Stats.winsorize(t(s, dir, "orders"), "o_totalprice", 0.05, 0.95, "w")
        .agg(round(avg(col("w")), 6).as("wmean"),
          round(min(col("w")), 6).as("wmin"),
          round(max(col("w")), 6).as("wmax"))),

    "q57_bincount" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linenumber"))
        .agg(count(lit(1)).as("n"))
        .withColumn("bits", bit_count(col("l_linenumber").cast("long")).cast("int"))
        .orderBy(col("l_linenumber"))),

    "q60_multiset" -> ((s, dir) =>
      GroupOps.aggMulti(t(s, dir, "lineitem"), Seq("l_returnflag"),
        Seq("l_quantity", "l_discount"),
        Seq("sum" -> (c => round(sum(c), 6)), "mean" -> (c => round(avg(c), 6)),
          "min" -> (c => round(min(c), 6)), "max" -> (c => round(max(c), 6))))
        .orderBy(col("l_returnflag"))),

    "q62_ngroup" -> ((s, dir) =>
      GroupOps.ngroup(t(s, dir, "lineitem"), Seq("l_returnflag", "l_linestatus"), "gid")
        .withColumn("gid", col("gid").cast("long"))
        .groupBy(col("gid"), col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("gid"))),

    "q63_accum_ratio" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
      val reg = t(s, dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
      val joined = cust.join(broadcast(nat), Seq("c_nationkey"))
        .join(broadcast(reg), Seq("n_regionkey"))
      val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      val num = Reshape.accum2(joined, "c_mktsegment", "r_name",
        sum(col("c_acctbal")), colValues = regions)
      val den = Reshape.accum2(joined, "c_mktsegment", "r_name",
        count(lit(1)), colValues = regions)
      val ratio = Reshape.accumRatio(num, den, "c_mktsegment")
      ratio.select(col("c_mktsegment"),
          round(col("AFRICA"), 6).as("AFRICA"), round(col("AMERICA"), 6).as("AMERICA"),
          round(col("ASIA"), 6).as("ASIA"), round(col("EUROPE"), 6).as("EUROPE"),
          round(col("MIDDLE EAST"), 6).as("MIDDLE_EAST"))
        .orderBy(col("c_mktsegment"))
    }),

    // ---- batch 4: IO round-trips (SDS/PDataset analogs), string/datetime/
    //      math packs ----

    "q65_csv_roundtrip" -> ((s, dir) => {
      // load_csv_as_dataset analog (riptable/rt_csv.py:15): write the part
      // table to CSV, read it back with schema inference, aggregate.
      val tmp = Tables.scratch("q65", dir)
      t(s, dir, "part").write.mode("overwrite").option("header", "true").csv(tmp)
      s.read.option("header", "true").option("inferSchema", "true").csv(tmp)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), round(avg(col("p_retailprice")), 6).as("avg_price"))
        .orderBy(col("p_brand"))
    }),

    "q66_parquet_partitioned" -> ((s, dir) => {
      // save_sds/load_sds + PDataset analog (riptable/rt_sds.py:719,1855;
      // rt_pdataset.py:18): partitioned parquet write, read back with
      // partition pruning, per-partition aggregate.
      val tmp = Tables.scratch("q66", dir)
      t(s, dir, "orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(tmp)
      s.read.parquet(tmp)
        .filter(col("o_orderstatus").isin("F", "O"))
        .groupBy(col("o_orderstatus"))
        // round(2): per-status sums reach ~1.2e10 at sf0.1 where the
        // sf0.1 'F' fraction sits 2e-5 from a 4-decimal boundary —
        // same latent flake class the full-scale check caught in q9
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    }),

    "q69_math" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          round(abs(col("c_acctbal")), 6).as("abs_bal"),
          ceil(col("c_acctbal")).cast("long").as("ceil_bal"),
          floor(col("c_acctbal")).cast("long").as("floor_bal"),
          round(col("c_acctbal"), 1).as("round1"),
          signum(col("c_acctbal")).cast("int").as("sign_bal"),
          round(sqrt(abs(col("c_acctbal"))), 6).as("sqrt_bal"),
          round(log(greatest(abs(col("c_acctbal")), lit(1.0))), 6).as("ln_bal"),
          round(log10(greatest(abs(col("c_acctbal")), lit(1.0))), 6).as("log10_bal"),
          round(pow(col("c_acctbal"), 2), 6).as("sq_bal"))
        .orderBy(col("c_custkey"))),

    // ---- batch 5: mbget, top-k, replace, date range, windowed argmax ----

    "q70_mbget" -> ((s, dir) => {
      // mbget(values, index, default) (riptable/rt_utils.py:631): gather
      // with a default for misses → left join + coalesce.
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey").as("p_partkey"))
      val parts = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      li.join(broadcast(parts), Seq("p_partkey"), "left")
        .select(col("l_orderkey"), col("l_linenumber"),
          coalesce(col("p_name"), lit("__MISSING__")).as("part_name"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "q71_topk" -> ((s, dir) =>
      t(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), round(col("o_totalprice"), 6).as("o_totalprice"))),

    "q72_replace" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .na.replace("l_returnflag", Map("N" -> "NONE", "A" -> "ACCEPT"))
        .withColumn("qty_nanorzero",
          col("l_quantity").isNull || isnan(col("l_quantity")) || col("l_quantity") === 0.0)
        .groupBy(col("l_returnflag"), col("qty_nanorzero"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("qty_nanorzero"))),

    "q78_product_gb" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("mo", date_trunc("month", col("l_shipdate")))
        .groupBy(col("l_returnflag"), col("mo"))
        .agg(expr("round(rip_product(1.0 + l_discount / 10.0), 6)").as("prod_disc"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("mo"))),

    // quantile thresholds + min/max/count — partition-invariant (r16)
    "q79_qcut_scale" -> ((s, dir) =>
      Binning.qcutBoundaries(Tables.floored(s, dir, "orders", "o_orderkey"),
        "o_totalprice", 4, "price_q")
        .groupBy(col("price_q")).agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 6).as("lo"),
          round(max(col("o_totalprice")), 6).as("hi"))
        .orderBy(col("price_q"))),

    "q84_multiq" -> ((s, dir) =>
      // multi-q quantile (GB_QUANTILE_MULT, rt_groupbyops.py:2517):
      // one percentile-array aggregate, columns extracted from it
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(GroupOps.quantiles(col("l_extendedprice"), Seq(0.25, 0.5, 0.75)).as("qs"))
        .select(col("l_returnflag"),
          round(element_at(col("qs"), 1), 6).as("p25"),
          round(element_at(col("qs"), 2), 6).as("p50"),
          round(element_at(col("qs"), 3), 6).as("p75"))
        .orderBy(col("l_returnflag"))),

    "q94_crc32" -> ((s, dir) =>
      // crc32 (rt_numpy.py:2489) — Spark's codegen'd crc32 over UTF-8
      // bytes; the oracle rebuilds CRC-32/IEEE with a recursive CTE
      t(s, dir, "part")
        .select(col("p_partkey"),
          crc32(col("p_name").cast("binary")).as("crc"))
        .orderBy(col("p_partkey"))),

    "q95_putmask" -> ((s, dir) =>
      // putmask (rt_numpy.py:4684): masked in-place assign
      t(s, dir, "lineitem")
        .putmask("l_quantity", col("l_discount") >= 0.08, lit(25.0))
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_quantity"), 6).as("qty_masked"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "q96_pivot_noagg" -> ((s, dir) => {
      // Dataset.pivot without aggregation (rt_dataset.py:7987) over a
      // pre-aggregated unique (label, column) frame
      val agg = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("qty"))
      Reshape.pivotNoAgg(agg, "l_returnflag", "l_linestatus", "qty", Seq("F", "O"))
        .orderBy(col("l_returnflag"))
    }),

    // IntEnum/Dictionary-mode Categorical (rt_categorical.py:226,
    // rt_enum.py:848): pre-assigned codes (c_custkey % 7 — values 0..6)
    // under a user-supplied 5-label dictionary; 0 = Filtered, 6 =
    // invalid -> normalized to 0 with a null label
    "q263_cat_from_codes" -> ((s, dir) =>
      Categorical.fromCodes(
          t(s, dir, "customer")
            .select(col("c_custkey"),
              pmod(col("c_custkey"), lit(7)).cast("int").as("tier_code")),
          "tier_code",
          Seq("bronze", "silver", "gold", "platinum", "diamond"),
          out = "tier")
        .select(col("c_custkey"), col("tier_code"), col("tier"))
        .orderBy(col("c_custkey"))),

    "q97_cat_isin" -> ((s, dir) =>
      // Categorical.isin at dictionary level (rt_categorical.py:4171)
      Categorical.isinCategories(t(s, dir, "nation"), "n_name",
        Seq("CHINA", "INDIA", "FRANCE"))
        .select(col("n_nationkey"), col("n_name"), col("isin"))
        .orderBy(col("n_nationkey"))),

    "q98_gb_filter" -> ((s, dir) =>
      // per-op filter= fused into the aggregate (rt_grouping.py:3330)
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(sum(GroupOps.filtered(col("l_quantity"), col("l_discount") > 0.05)), 4)
            .as("qty_hi_disc"),
          count(GroupOps.filtered(col("l_quantity"), col("l_discount") > 0.05))
            .as("n_hi_disc"),
          round(avg(GroupOps.filtered(col("l_extendedprice"), col("l_tax") < 0.03)), 6)
            .as("avg_price_lo_tax"))
        .orderBy(col("l_returnflag"))),

    "q99_apply_groups" -> ((s, dir) => {
      // Grouping.apply (rt_grouping.py:2944): per-group UDTF — top-3
      // prices per flag, streamed with a bounded buffer (no group
      // materialization)
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val in = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
          col("l_orderkey"), col("l_linenumber"))
      val outSchema = StructType(Seq(
        StructField("l_returnflag", StringType),
        StructField("rnk", IntegerType),
        StructField("l_extendedprice", DoubleType),
        StructField("l_orderkey", LongType)))
      val ord = Ordering.by[(Double, Long, Int), (Double, Long, Int)](
        x => (-x._1, x._2, x._3))
      GroupOps.applyGroups(in, Seq("l_returnflag"), outSchema) { (k, it) =>
        val buf = scala.collection.mutable.ArrayBuffer[(Double, Long, Int)]()
        it.foreach { r =>
          buf += ((r.getDouble(1), r.getLong(2), r.getInt(3)))
          if (buf.length > 64) {
            val kept = buf.sorted(ord).take(3); buf.clear(); buf ++= kept
          }
        }
        buf.sorted(ord).take(3).zipWithIndex.iterator.map { case ((p, o, _), i) =>
          Row(k.getString(0), i + 1, p, o)
        }
      }.orderBy(col("l_returnflag"), col("rnk"))
    }),

    "q100_concat_cols" -> ((s, dir) => {
      // concat_columns (rt_dataset.py:6995): positional zip of two
      // frames, shorter side null-filled
      val a = t(s, dir, "nation").select(col("n_name"))
      val b = t(s, dir, "region").select(col("r_name"))
      Reshape.concatColumns(a, b, Seq(col("n_name")), Seq(col("r_name")))
        .orderBy(col("n_name"))
    }),

    "q102_accum2_filtered" -> ((s, dir) => {
      // Accum2 showfilter (rt_accum2.py:39): invalid row keys surface as
      // the Filtered bin instead of vanishing; totals footers on top
      val masked = t(s, dir, "orders").withColumn("o_orderpriority",
        when(col("o_totalprice") < 20000, lit(null))
          .otherwise(col("o_orderpriority")))
      val out = Reshape.accum2(masked, "o_orderpriority", "o_orderstatus",
        count(lit(1)), colValues = Seq("F", "O", "P"),
        totals = true, showFilter = true)
      out.select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("F"),
          coalesce(col("O"), lit(0L)).as("O"),
          coalesce(col("P"), lit(0L)).as("P"),
          col("Total"))
        .orderBy(col("o_orderpriority"))
    }),

    "q103_imatrix" -> ((s, dir) =>
      // imatrix (rt_dataset.py:1792): numeric columns as a per-row
      // vector + a fold over it (zero shuffle, codegen'd). Output is
      // scalarized (im[i] columns) — the verify harness compares flat
      // columns only.
      t(s, dir, "lineitem")
        .imatrix("im", Seq("l_quantity", "l_extendedprice", "l_discount"))
        .select(col("l_orderkey"), col("l_linenumber"),
          element_at(col("im"), 1).as("im_0"),
          element_at(col("im"), 2).as("im_1"),
          element_at(col("im"), 3).as("im_2"),
          round(aggregate(col("im"), lit(0.0d), (acc, x) => acc + x), 6)
            .as("rowsum"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    "q106_ismember_idx" -> ((s, dir) =>
      // ismember's second output (rt_numpy.py:1186): first-occurrence
      // position of each customer's key in the o_orderkey-ordered orders
      Merge.ismemberIndex(
        t(s, dir, "customer").select(col("c_custkey").as("o_custkey")),
        t(s, dir, "orders").select(col("o_custkey"), col("o_orderkey")),
        Seq("o_custkey"), Seq(col("o_orderkey")))
        .select(col("o_custkey"), col("ismember"), col("ismember_index"))
        .orderBy(col("o_custkey"))),

    "q112_crc32c" -> ((s, dir) =>
      // crc32c (rt_numpy.py:2489, rc.CalculateCRC — Castagnoli; crc64
      // is deprecated onto it): native codegen expression, since
      // Spark's crc32 is the ISO polynomial
      t(s, dir, "part")
        .select(col("p_partkey"),
          expr("rip_crc32c(p_name)").as("crc"))
        .orderBy(col("p_partkey"))),

    "q109_accum2_footers" -> ((s, dir) => {
      // AccumTable stacked footers (rt_accumtable.py:235): Total and
      // Mean rows under one pivot body
      val body = Reshape.accum2(t(s, dir, "orders"), "o_orderpriority",
        "o_orderstatus", count(lit(1)), colValues = Seq("F", "O", "P"))
      val filled = body.select(col("o_orderpriority"),
        coalesce(col("F"), lit(0L)).cast("double").as("F"),
        coalesce(col("O"), lit(0L)).cast("double").as("O"),
        coalesce(col("P"), lit(0L)).cast("double").as("P"))
      Reshape.withFooters(filled, "o_orderpriority", Seq(
          "Total" -> (c => sum(c)), "Mean" -> (c => avg(c))))
        .select(col("o_orderpriority"), round(col("F"), 6).as("F"),
          round(col("O"), 6).as("O"), round(col("P"), 6).as("P"))
        .orderBy(col("o_orderpriority"))
    }),

    "q118_searchsorted" -> ((s, dir) =>
      // searchsorted (rt_numpy.py:701): insertion index into a sorted
      // boundary list, both numpy sides — unrolled codegen chain
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          Binning.searchsorted(col("l_quantity"),
            Seq(5.0, 10.0, 20.0, 30.0, 40.0, 45.0), "left").as("ss_left"),
          Binning.searchsorted(col("l_quantity"),
            Seq(5.0, 10.0, 20.0, 30.0, 40.0, 45.0), "right").as("ss_right"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))),

    // polyFit (rt_stats.py:230): degree-2 least squares per group from
    // centered moment sums — closed-form Cramer solve, coefficients in
    // the centered basis (the 100 TB-safe conditioning; see Stats).
    "q124_polyfit" -> ((s, dir) =>
      Stats.polyFit2(t(s, dir, "lineitem"), "l_extendedprice", "l_quantity",
        Seq("l_returnflag"))
        .select(col("l_returnflag"), round(col("xbar"), 6).as("xbar"),
          round(col("c0"), 4).as("c0"), round(col("c1"), 4).as("c1"),
          round(col("c2"), 4).as("c2"), col("n"))
        .orderBy(col("l_returnflag"))),

    // polyFit at GENERAL degree (rt_stats.py:230 fits arbitrary degree;
    // this closes the §2.8 "deg-2 only" gap): degree-3 per-group fit
    // through the shared-SQL Cramer solve — the oracle evaluates the
    // IDENTICAL solve text over identically-defined moment sums
    "q233_polyfit_deg3" -> ((s, dir) =>
      Stats.polyFit(t(s, dir, "lineitem"), "l_extendedprice", "l_quantity",
        Seq("l_returnflag"), degree = 3)
        .select(col("l_returnflag"), round(col("xbar"), 6).as("xbar"),
          round(col("c0"), 4).as("c0"), round(col("c1"), 4).as("c1"),
          round(col("c2"), 4).as("c2"), round(col("c3"), 4).as("c3"),
          col("n"))
        .orderBy(col("l_returnflag"))),

    // class_error (rt_stats.py:108): per-group misclassification rate of
    // a threshold rule — one map-side-combined aggregate
    "q126_class_error" -> ((s, dir) =>
      Stats.classError(
        t(s, dir, "lineitem")
          .withColumn("pred", when(col("l_quantity") > 25, "hi").otherwise("lo"))
          .withColumn("truth", when(col("l_extendedprice") > 30000, "hi").otherwise("lo")),
        "truth", "pred", Seq("l_returnflag"))
        .select(col("l_returnflag"), round(col("class_error"), 6).as("class_error"),
          col("n"))
        .orderBy(col("l_returnflag"))),

    // ROLLUP subtotals: the multi-level Accum2-footer generalization in
    // ONE shuffle (every grouping set partial-aggregated map-side);
    // grouping_id disambiguates subtotal rows from genuine null keys
    "q127_rollup" -> ((s, dir) =>
      GroupOps.rollupAgg(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus"),
        "sum_qty" -> round(sum(col("l_quantity")), 4),
        "n" -> count(lit(1)))
        .orderBy(col("gid"), col("l_returnflag"), col("l_linestatus"))),

    // linear_spline (rt_stats.py:154): continuous piecewise-linear least
    // squares at knots (20, 35); the Cramer solve is the SAME generated
    // SQL text on both engines (Stats.spline2SolveSql)
    "q134_linear_spline" -> ((s, dir) =>
      Stats.linearSpline(t(s, dir, "lineitem"), "l_extendedprice",
        "l_quantity", (20.0, 35.0), Seq("l_returnflag"))
        .select(col("l_returnflag"), round(col("c0"), 4).as("c0"),
          round(col("c1"), 4).as("c1"), round(col("c2"), 4).as("c2"),
          round(col("c3"), 4).as("c3"), col("n"))
        .orderBy(col("l_returnflag"))),

    // showfilter=True analog (rt_groupbyops.py:1014 null/bin-0 group):
    // the invalid-key rows surface as their own group row instead of
    // silently dropping — SQL's default GROUP BY null-group behavior
    "q143_showfilter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .withColumn("k",
          when(col("l_quantity") > 45, lit(null)).otherwise(col("l_returnflag")))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 4).as("sum_qty"))
        .orderBy(col("k").asc_nulls_first)),

    // bool_to_fancy (rt_numpy.py:5449): positions of mask-true rows in
    // o_orderkey order — distributed sort + zipWithIndex, then filter
    "q144_bool_to_fancy" -> ((s, dir) =>
      syntax.boolToFancy(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice")),
        col("o_totalprice") > 400000, Seq(col("o_orderkey")))
        .select(col("o_orderkey"), col("position"))
        .orderBy(col("position"))),

    // AccumTable.accum_ratiop (rt_accumtable.py:1024): cross-tab cells
    // as percent of the grand total (broadcast one-row total)
    "q139_accum_ratiop" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation").withColumnRenamed("n_nationkey", "c_nationkey")
      val reg = t(s, dir, "region").withColumnRenamed("r_regionkey", "n_regionkey")
      val joined = cust.join(broadcast(nat), Seq("c_nationkey"))
        .join(broadcast(reg), Seq("n_regionkey"))
      val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      val tab = Reshape.accum2(joined, "c_mktsegment", "r_name",
        count(lit(1)).cast("double"), colValues = regions)
      Reshape.accumRatioP(tab, "c_mktsegment")
        .select(col("c_mktsegment"),
          round(col("AFRICA"), 6).as("AFRICA"), round(col("AMERICA"), 6).as("AMERICA"),
          round(col("ASIA"), 6).as("ASIA"), round(col("EUROPE"), 6).as("EUROPE"),
          round(col("MIDDLE EAST"), 6).as("MIDDLE_EAST"))
        .orderBy(col("c_mktsegment"))
    }),

    // accum_cols (rt_accumtable.py:1326): multi-measure grouped table —
    // plain sum, mean, ratio pair, percent-of-table, filtered sum —
    // in ONE fact-table shuffle with a recombined Total footer row
    "q148_accum_cols" -> ((s, dir) => {
      val specs = Seq(
        Reshape.AccumColSpec("sum_qty", col("l_quantity")),
        Reshape.AccumColSpec("avg_price", col("l_extendedprice"), func = "mean"),
        Reshape.AccumColSpec("disc_ratio",
          col("l_extendedprice") * col("l_discount"), Some(col("l_extendedprice"))),
        Reshape.AccumColSpec("qty_pct", col("l_quantity"), pct = true),
        Reshape.AccumColSpec("hi_qty_sum", col("l_quantity"),
          filter = Some(col("l_quantity") > 25)))
      Reshape.accumCols(t(s, dir, "lineitem"), "l_returnflag", specs)
        .select(col("l_returnflag"),
          round(col("sum_qty"), 4).as("sum_qty"),
          round(col("avg_price"), 6).as("avg_price"),
          round(col("disc_ratio"), 6).as("disc_ratio"),
          round(col("qty_pct"), 6).as("qty_pct"),
          round(col("hi_qty_sum"), 4).as("hi_qty_sum"))
        .orderBy(col("l_returnflag"))
    }),

    // apply_pandas-analog batch bridge (rt_dataset.py:7292): black-box
    // batched row function computing revenue, then a plain aggregate —
    // the escape hatch exercised end-to-end against a SQL oracle
    "q149_apply_batch" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"),
        col("l_extendedprice"), col("l_discount"))
      val outSchema = li.schema.add("revenue",
        org.apache.spark.sql.types.DoubleType)
      Apply.applyBatched(li, outSchema)(_.map(r =>
        org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2),
          r.getDouble(1) * (1.0 - r.getDouble(2)))))
        .groupBy(col("l_returnflag"))
        .agg(round(sum(col("revenue")), 2).as("rev"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // merge_indices (rt_merge.py:2080): the join plan as data — source
    // row positions instead of materialized columns; distributed
    // sort + zipWithIndex numbering on both sides, no global window
    "q150_merge_indices" -> ((s, dir) => {
      val left = t(s, dir, "orders")
        .select(col("o_custkey").as("custkey"), col("o_orderkey"))
      val right = t(s, dir, "customer")
        .select(col("c_custkey").as("custkey"))
      Merge.mergeIndices(left, right, Seq("custkey"), "inner",
        leftOrder = Seq(col("o_orderkey")), rightOrder = Seq(col("custkey")))
        .orderBy(col("left_index"), col("right_index"))
    }),

    // merge_cats (rt_grouping.py:136): two slices with different
    // category dictionaries stacked under one unified dictionary —
    // all dictionary joins broadcast, fact slices never shuffle
    "q152_merge_cats" -> ((s, dir) => {
      val nat = t(s, dir, "nation")
      val s1 = nat.filter(col("n_regionkey") === 0)
        .select(col("n_nationkey"), col("n_name"))
      val s2 = nat.filter(col("n_regionkey").isin(1, 2))
        .select(col("n_nationkey"), col("n_name"))
      val (stackedDict, stacked) = Categorical.mergeCats(Seq(
        (Categorical.encode(s1, "n_name"), Categorical.categories(s1, "n_name")),
        (Categorical.encode(s2, "n_name"), Categorical.categories(s2, "n_name"))))
      val _ = stackedDict
      stacked.select(col("n_nationkey"), col("n_name"),
        col("code").cast("long").as("code"))
        .orderBy(col("n_nationkey"))
    }),

    // Multiset.cascade (rt_multiset.py:745): multi-func agg → flattened
    // multiset frame → a per-member transform cascaded over every
    // member Dataset, re-flattened with the member_col naming restored.
    "q211_multiset_cascade" -> ((s, dir) => {
      val ms = GroupOps.aggMulti(t(s, dir, "lineitem"), Seq("l_returnflag"),
        Seq("l_quantity", "l_extendedprice"),
        Seq("sum" -> (sum(_)), "mean" -> (avg(_))))
      MultisetOps.cascade(ms, Seq("l_returnflag")) { d =>
        d.select(col("l_returnflag"),
          round(col("l_quantity"), 2).as("l_quantity"),
          round(col("l_extendedprice"), 2).as("l_extendedprice"))
      }.orderBy(col("l_returnflag"))
    }),

    // groups/iter_groups materialization (rt_groupbyops.py:108) with
    // the engine's scale contract: capped ids per group + true size +
    // truncation flag (windowed rank, never an unbounded group buffer).
    // The id list is EXACT-content-checked via md5 of its joined form
    // (first array-typed query surface — scalar columns keep the
    // driver's hash compare engine-neutral).
    "q221_groups" -> ((s, dir) =>
      GroupOps.groupRows(t(s, dir, "documents"), Seq("source"), "doc_id",
          cap = 50)
        .select(col("source"),
          md5(concat_ws(",", col("ids").cast("array<string>")))
            .as("ids_md5"),
          size(col("ids")).as("n_ids"), col("n_rows"), col("truncated"))
        .orderBy(col("source")))
  )
}
