package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan-inspection tool: prints the formatted physical plan of selected
  * queries (or all with arg "all") so scan pushdown, broadcast choices,
  * and whole-stage-codegen spans can be audited per query.
  * Usage: runMain graft.Explain <sfDir> [+metrics|+final|+rules]
  * [queryName ... | all]
  *
  * Also hosts [[Explain.opMetrics]] — the MathLedger/rt_timers analog
  * (`riptable/rt_ledger.py:14`, `rt_timers.py:19`): per-OPERATOR
  * rows/time/bytes from an EXECUTED plan's SQLMetrics, as a DataFrame.
  * riptable ledgers every kernel call; on Spark the execution engine
  * already meters every physical operator — this just surfaces the
  * executed plan's metric registry as a queryable table (one row per
  * operator, preorder ids so parent/child structure is readable).
  */
object Explain {

  /** Per-operator metrics of an executed query. Call AFTER an action
    * that runs THIS DataFrame's own QueryExecution — `df.collect()` (or
    * `df.queryExecution.executedPlan.executeCollect()`). `df.count()`
    * does NOT qualify: it builds a separate groupBy().count()
    * QueryExecution, leaving this plan's SQLMetrics at 0. Columns:
    * `op_id` (preorder index), `operator` (nodeName), `rows`
    * (numOutputRows, −1 if the operator doesn't report it),
    * `time_ms` (sum of the operator's time metrics, normalized to ms),
    * `bytes` (sum of its size metrics: dataSize / bytes read/written).
    *
    * AQE-aware: descends through AdaptiveSparkPlanExec's FINAL plan and
    * materialized query stages, so the rows reflect what actually ran.
    */
  def opMetrics(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => q +: walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val rows = walk(df.queryExecution.executedPlan).zipWithIndex.map {
      case (n, i) =>
        val m = n.metrics
        val outRows = m.get("numOutputRows").map(_.value).getOrElse(-1L)
        // SQLMetric timing units: metricType "timing" counts ms,
        // "nsTiming" counts ns — normalize to ms so the column sums
        val timeMs = m.values.collect {
          case v if v.metricType == "timing" => v.value
          case v if v.metricType == "nsTiming" => v.value / 1000000L
        }.sum
        val bytes = m.collect {
          case (k, v) if v.metricType == "size" ||
            k.toLowerCase.contains("bytes") => v.value
        }.sum
        (i, n.nodeName, outRows, timeMs, bytes)
    }
    val spark = df.sparkSession
    import spark.implicits._
    rows.toDF("op_id", "operator", "rows", "time_ms", "bytes")
  }
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val names = if (args.length > 1) args.drop(1).toSeq else Seq("q1_agg")
    // the session the benchmark times (`RipSession.local`), on 4 local
    // CPUs, so dumped plans are the plans that run
    val spark = RipSession.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    graft.operators.Apply.registerAll(spark)
    // "+metrics" among the query names: EXECUTE each query (collect —
    // registry results are bounded) and print the top operators by
    // time from the executed plan's SQLMetrics, instead of the static
    // formatted plan — the rt_timers-style evidence for "where does
    // this query's wall go".
    val wantMetrics = names.contains("+metrics")
    // "+final": write each query to the noop sink (every row and column,
    // as the benchmark times it) and print the AQE-final executed plan.
    // "+rules": print which graft plan rules change the query's optimized
    // plan (re-optimized with each excluded in turn).
    val wantFinal = names.contains("+final")
    val wantRules = names.contains("+rules")
    @volatile var written: QueryExecution = null
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = written = qe
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val qnames = names.filterNot(_.startsWith("+"))
    val targets =
      if (qnames == Seq("all")) SparkEntry.queries.keys.toSeq.sorted else qnames
    targets.foreach { n =>
      println(s"==== $n ====")
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        if (wantMetrics) {
          val t0 = System.nanoTime()
          df.collect()
          println(f"wall=${(System.nanoTime() - t0) / 1e9}%.2f s")
          opMetrics(df)
            .orderBy(org.apache.spark.sql.functions.col("time_ms").desc)
            .limit(12).collect().foreach { r =>
              println(f"op=${r.getString(1)}%-40s rows=${r.getLong(2)}%-10d " +
                f"time_ms=${r.getLong(3)}%-8d bytes=${r.getLong(4)}%d")
            }
        } else if (wantFinal) {
          written = null
          df.write.format("noop").mode("overwrite").save()
          while (written == null) Thread.sleep(10) // listener runs async
          println(written.executedPlan.treeString)
        } else if (wantRules) {
          val excluded = "spark.sql.optimizer.excludedRules"
          def optimized(rule: Option[String]) = {
            rule.foreach(spark.conf.set(excluded, _))
            try spark.sessionState.executePlan(df.queryExecution.analyzed)
              .optimizedPlan.canonicalized
            finally spark.conf.unset(excluded)
          }
          val base = optimized(None)
          val changed = Seq(plans.SplitDistinctAggregate, plans.RangePartitionSortedWindow)
            .map(_.ruleName).filter(r => optimized(Some(r)) != base)
          println(s"rules=${changed.mkString(",")}")
        } else df.explain("formatted")
      } catch { case e: Throwable =>
        println(s"EXPLAIN-ERROR: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    spark.stop()
  }
}
