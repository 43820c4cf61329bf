package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.plans.logical.{Join, RepartitionByExpression}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The plan rules GraftExtensions installs, each compared with the same
  * query optimized without it (`spark.sql.optimizer.excludedRules`):
  * the plan shape each rule promises, and identical rows.
  */
class PlanRulesSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Split = "graft.plans.SplitDistinctAggregate"
  private val Fuse = "graft.plans.RangePartitionSortedWindow"

  /** Builds, runs and returns `q` under the session's rules, minus
    * `excluded` if given: its rows (rendered, so -0.0 ≠ 0.0) and its
    * executed (AQE-final) plan.
    */
  private def run(q: => DataFrame, excluded: Option[String] = None)
      : (Seq[String], SparkPlan) = {
    excluded.foreach(spark.conf.set("spark.sql.optimizer.excludedRules", _))
    try {
      val df = q
      val out = df.collect().toSeq.map(_.toString)
      (out, df.queryExecution.executedPlan)
    } finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  private def exchanges(p: SparkPlan): Int =
    collect(p) { case e: ShuffleExchangeLike => e }.size

  private def globalSorts(p: SparkPlan): Int =
    collect(p) { case s: SortExec if s.global => s }.size

  /** Object-buffer aggregates whose grouping reads column `c`. */
  private def objectAggsKeyedOn(p: SparkPlan, c: String): Seq[BaseAggregateExec] =
    collect(p) {
      case a: BaseAggregateExec if a.aggregateExpressions.exists(
          _.aggregateFunction.isInstanceOf[TypedImperativeAggregate[_]]) &&
        a.groupingExpressions.exists(_.references.exists(_.name == c)) => a
    }

  // 3 keys plus a null key; v integral-valued so every sum is exact
  private def facts: DataFrame = spark.range(0, 400).select(
    when(col("id") % 4 === 3, lit(null)).otherwise(
      element_at(array(lit("A"), lit("N"), lit("R")), (col("id") % 4 + 1).cast("int"))).as("k"),
    (col("id") % 37).cast("double").as("v"),
    (col("id") % 23).as("d"))

  test("split: a distinct count beside percentile keys no object buffer " +
    "on the distinct column; rows equal the unsplit plan, null key included") {
    def q = facts.groupBy(col("k")).agg(
      percentile(col("v"), lit(0.5)).as("med"),
      round(percentile(col("v"), lit(0.9)), 6).as("p90"),
      count_distinct(col("d")).as("nd"),
      sum(col("v")).as("s"))
      .orderBy(col("k"))
    val (got, plan) = run(q)
    val (want, unsplit) = run(q, Some(Split))
    assert(objectAggsKeyedOn(unsplit, "d").nonEmpty)
    assert(objectAggsKeyedOn(plan, "d").isEmpty,
      s"percentile buffers still keyed on the distinct column:\n$plan")
    assert(got === want)
    assert(got.size === 4 && got.head.startsWith("[null,"))
  }

  test("split: global aggregates and empty input give the unsplit rows") {
    def global = facts.agg(percentile(col("v"), lit(0.25)).as("q"),
      count_distinct(col("d")).as("nd"), max(col("k")).as("mk"))
    val (got, plan) = run(global)
    assert(got === run(global, Some(Split))._1)
    assert(objectAggsKeyedOn(plan, "d").isEmpty)
    def emptyGlobal = facts.filter(col("v") < 0).agg(
      percentile(col("v"), lit(0.5)).as("q"), count_distinct(col("d")).as("nd"))
    assert(run(emptyGlobal)._1 === Seq("[null,0]"))
    assert(run(emptyGlobal)._1 === run(emptyGlobal, Some(Split))._1)
    def emptyGrouped = facts.filter(col("v") < 0).groupBy(col("k")).agg(
      percentile(col("v"), lit(0.5)).as("q"), count_distinct(col("d")).as("nd"))
    assert(run(emptyGrouped)._1.isEmpty)
    assert(run(emptyGrouped, Some(Split))._1.isEmpty)
  }

  test("split: not fired for a rand() child, two distinct groups or a " +
    "FILTERed distinct") {
    def joins(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case j: Join => j }.size
    val noisy = facts.withColumn("r", rand(7))
      .groupBy(col("k")).agg(percentile(col("r"), lit(0.5)), count_distinct(col("d")))
    assert(joins(noisy) === 0)
    val twoGroups = facts.groupBy(col("k")).agg(percentile(col("v"), lit(0.5)),
      count_distinct(col("d")), count_distinct(col("v")))
    assert(joins(twoGroups) === 0)
    val filtered = facts.groupBy(col("k")).agg(percentile(col("v"), lit(0.5)),
      expr("count(distinct d) filter (where v > 3)"))
    assert(joins(filtered) === 0)
    val fired = facts.groupBy(col("k")).agg(percentile(col("v"), lit(0.5)),
      count_distinct(col("d")))
    assert(joins(fired) === 1)
  }

  // window partition keys a (4 values, one null) and b (2 values),
  // a unique order column i, and a running sum to check frames
  private def rows: DataFrame = spark.range(0, 300).select(
    when(col("id") % 5 === 4, lit(null)).otherwise(col("id") % 4).as("a"),
    (col("id") % 2).as("b"), col("id").as("i"), (col("id") % 11).as("v"))

  test("fusion: a window feeding its own sort runs one exchange fewer and " +
    "no final sort, with identical ordered rows") {
    def q = rows.withColumn("cs",
      sum(col("v")).over(Window.partitionBy(col("a")).orderBy(col("i"))))
      .select(col("a"), col("i"), col("cs"))
      .orderBy(col("a"), col("i"))
    val (got, plan) = run(q)
    val (want, before) = run(q, Some(Fuse))
    assert(got === want)
    assert(exchanges(plan) === exchanges(before) - 1, s"\n$plan")
    assert(globalSorts(before) === 1)
    assert(globalSorts(plan) === 0, s"\n$plan")
  }

  test("fusion: descending nulls-last prefix, two keys listed out of sort " +
    "order, and stacked windows keep their ordered rows") {
    def desc = rows.withColumn("cs",
      sum(col("v")).over(Window.partitionBy(col("a")).orderBy(col("i"))))
      .orderBy(col("a").desc_nulls_last, col("i").desc)
    val (gotDesc, planDesc) = run(desc)
    val (wantDesc, beforeDesc) = run(desc, Some(Fuse))
    assert(gotDesc === wantDesc)
    assert(exchanges(planDesc) === exchanges(beforeDesc) - 1)
    def twoKeys = rows
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("b"), col("a")).orderBy(col("i"))))
      .withColumn("mx", max(col("v")).over(
        Window.partitionBy(col("a"), col("b")).orderBy(col("i").desc)))
      .filter(col("rn") <= 30)
      .orderBy(col("a"), col("b"), col("i"))
    val (gotTwo, planTwo) = run(twoKeys)
    val (wantTwo, beforeTwo) = run(twoKeys, Some(Fuse))
    assert(gotTwo === wantTwo)
    assert(exchanges(planTwo) === exchanges(beforeTwo) - 1, s"\n$planTwo")
  }

  test("fusion: a double key holding 0.0, -0.0, NaN and null keeps its " +
    "ordered rows") {
    def q = spark.range(0, 240).select(
      element_at(array(lit(0.0), lit(-0.0), lit(Double.NaN), lit(null).cast("double"),
        lit(1.5)), (col("id") % 5 + 1).cast("int")).as("x"),
      col("id").as("i"), (col("id") % 7).as("v"))
      .withColumn("cs", sum(col("v")).over(Window.partitionBy(col("x")).orderBy(col("i"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("x"))))
      .orderBy(col("x"), col("i"))
    val (got, plan) = run(q)
    val (want, before) = run(q, Some(Fuse))
    assert(got === want)
    assert(got.count(_.startsWith("[-0.0,")) === 48)
    // 0.0 and -0.0 share one window partition of 96 rows
    assert(got.filter(r => r.startsWith("[0.0,") || r.startsWith("[-0.0,"))
      .forall(_.endsWith(",96]")))
    assert(exchanges(plan) === exchanges(before) - 1, s"\n$plan")
  }

  test("fusion: not fired when the sort prefix is not the partition keys; " +
    "idempotent when it is") {
    def repartitions(df: DataFrame) =
      df.queryExecution.optimizedPlan.collect { case r: RepartitionByExpression => r }.size
    val w = Window.partitionBy(col("a")).orderBy(col("i"))
    val byOrder = rows.withColumn("cs", sum(col("v")).over(w)).orderBy(col("i"), col("a"))
    assert(repartitions(byOrder) === 0)
    val partial = rows.withColumn("cs", sum(col("v")).over(Window.partitionBy(col("a"), col("b"))))
      .orderBy(col("a"), col("i"))
    assert(repartitions(partial) === 0)
    val topK = rows.withColumn("cs", sum(col("v")).over(w)).orderBy(col("a"), col("i")).limit(5)
    assert(repartitions(topK) === 0)
    val fused = rows.withColumn("cs", sum(col("v")).over(w)).orderBy(col("a"), col("i"))
    assert(repartitions(fused) === 1)
    val again = spark.sessionState.executePlan(fused.queryExecution.optimizedPlan).optimizedPlan
    assert(again.collect { case r: RepartitionByExpression => r }.size === 1)
  }

  test("split: collect_set and a percentile array beside a distinct count " +
    "give the unsplit rows") {
    def q = facts.groupBy(col("k")).agg(
      percentile(col("v"), array(lit(0.1), lit(0.9))).as("ps"),
      count_distinct(col("d")).as("nd"), collect_set(col("d")).as("ds"))
      .select(col("k"), col("ps"), col("nd"), array_sort(col("ds")))
      .orderBy(col("k"))
    val (got, plan) = run(q)
    assert(got === run(q, Some(Split))._1)
    assert(objectAggsKeyedOn(plan, "d").isEmpty)
  }
}
