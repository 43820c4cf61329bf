package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** The tripwire's confirmed/weather/error/state_loss decision (VERDICT
  * r11 #1 + r15 #1b), pure so BenchVerdictSpec can pin it: an `error`
  * re-run never launders into weather; a slip whose isolated wall/cpu
  * ratio blew past 1.5× the baseline's ratio is host contention (wall
  * rose, cpu flat), not code cost; a still-slow isolated min whose
  * FASTEST re-run was itself rebuilding registry state or had lost
  * cached blocks is `state_loss` (a recompute raises CPU at a normal
  * wall/cpu ratio — exactly the blind spot that let r15's driver lane
  * "confirm" q199's honest warm-state recompute as a code regression);
  * only a still-slow, uncontended, state-clean min confirms.
  */
object BenchVerdict {
  def of(prev: Double, prevCpu: Option[Double], isoMin: Double,
         isoMinCpu: Double, anyError: Boolean,
         stateLoss: Boolean = false): String = {
    val stillSlow = isoMin > prev * 1.25 && isoMin - prev > 0.25
    val contended = prevCpu.exists { pc =>
      pc > 0 && isoMinCpu > 0 && (isoMin / isoMinCpu) > 1.5 * (prev / pc)
    }
    if (anyError) "error"
    else if (!stillSlow) "weather"
    else if (contended) "weather"
    else if (stateLoss) "state_loss"
    else "confirmed"
  }
}

/** Per-query sweep evidence accumulated across the 3 timed runs
  * (VERDICT r13 #3 widened by r15 #1a): GC/spill/storage-demotion name
  * a host-pressure mechanism; the registry hit/miss/evict and
  * cached-block-loss deltas answer the question the r15 tripwire could
  * not — "did the cached state survive into this measurement, or is
  * this timing a rebuild?".
  */
final case class SweepEvidence(gcMs: Long, spillBytes: Long, memDrops: Long,
                               regHits: Long, regMisses: Long,
                               regEvictions: Long, blockLoss: Long,
                               missByRun: Seq[Long])

/** Distinguishes BlockManager-initiated loss of a cached RDD block
  * from deliberate unpersist teardown (VERDICT r15 #2): both arrive on
  * the listener bus as a `StorageLevel.NONE` block update, so a raw
  * NONE count cannot tell memory-pressure eviction from the bench's
  * own between-query registry trims — which is why "sweep_mem_drops: 0"
  * could not previously rule out cache loss (the old filter dropped
  * ALL NONE updates as benign). The bench stamps its trim/clear call
  * sites with [[deliberately]] (trims run `blocking = true` and drain
  * the listener bus before the window closes, so every teardown event
  * lands inside it); a NONE update OUTSIDE that window for a block
  * previously seen at a memory storage level is genuine loss.
  * Pure event-in/count-out so StressSpec can drive it with planted
  * BlockManager-shaped sequences.
  */
final class BlockEvictionTracker {
  private val seenCached = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val lostCount = new java.util.concurrent.atomic.AtomicLong(0L)
  @volatile private var deliberate = false
  def lost: Long = lostCount.get()
  def deliberately[T](f: => T): T = {
    deliberate = true
    try f finally deliberate = false
  }
  /** Feed one block update; returns true iff it counted as loss. */
  def onUpdate(isRdd: Boolean, isValid: Boolean, useMemory: Boolean,
               blockKey: String): Boolean = {
    if (!isRdd) false
    else if (isValid) {
      // valid levels: entering memory registers the block; a demotion
      // to disk-only keeps it registered (still cached — a later
      // non-deliberate NONE is still a loss of cached state)
      if (useMemory) seenCached.add(blockKey)
      false
    } else {
      val wasCached = seenCached.remove(blockKey)
      if (wasCached && !deliberate) { lostCount.incrementAndGet(); true }
      else false
    }
  }
}

/** Benchmark main: times every SparkEntry query against
  * SPARK_GRAFT_SF_DIR (default sf0.1) on SPARK_GRAFT_CPUS local cores
  * (default 4), writes the full result to bench_full.json and prints
  * one JSON line of under 1,500 characters (the driver contract).
  *
  * Every timed number comes from one unit, `call`: build the DataFrame,
  * then write every row and column to Spark's noop sink — the unit
  * perfbench's Harness.call times, so Catalyst cannot prune columns,
  * aggregates or sorts out of it. Both outputs say so with
  * `"basis":"noop"`. The harness follows the reference's one warm-up
  * plus timed iterations (riptable/benchmarks/bench_merge.py:100-186):
  *  - warm-up: one untimed call per query (JIT, codegen, page cache);
  *  - sweep: per query, the registry is trimmed to zero, then three
  *    timed calls; the median and min are reported, and call 1 pays
  *    every registry frame build (`queries_reg.miss_by_run`);
  *  - tripwire: a query whose median and min both exceed 1.25× its
  *    baseline by more than 0.25 s, or whose median exceeds 2.5× it, is
  *    re-run three times in isolation and given a [[BenchVerdict]];
  *    confirmed slips print their top operators as `REGOP` lines on
  *    stderr;
  *  - cold lane: the memo/artifact families again, with the registry
  *    and the pair table cleared before each call;
  *  - `top_ops`: the top three operators of the five slowest queries.
  *
  * Executor CPU seconds sit beside every wall time: host contention
  * raises wall while CPU stays flat, which is what the verdict's
  * wall/cpu test reads. The baseline is the per-query minimum over
  * bench_full.json and the newest BENCH_r*.json that [[baseline]]
  * accepts. A query that throws is listed in `failed`, a re-run that
  * throws gets verdict `error`, and a cold run that throws lists its
  * query in `cold_failed`; no failure is timed as a result.
  * SPARK_GRAFT_ONLY=q1_agg,q3_join_inner times only the named queries,
  * prints each of them, and leaves bench_full.json alone.
  */
object Bench {
  private type Query = (SparkSession, String) => DataFrame

  /** The timed unit's name, written to both outputs. */
  val Basis = "noop"

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** (wall medians, cpu medians) of one baseline file's text: the root
    * of bench_full.json, or the `parsed` object of a driver-committed
    * BENCH_r*.json. Both maps are empty unless the run was at `sfDir` on
    * the [[Basis]] basis, so a comparison never crosses scales or timed
    * units. Names the run flagged `warm_suspect` (executor CPU far
    * below wall and collapsed against its own previous seat: a
    * registry-warm median) leave the walls and stay in the cpus.
    */
  def baseline(json: String, sfDir: String)
      : (Map[String, Double], Map[String, Double]) = {
    val none = (Map.empty[String, Double], Map.empty[String, Double])
    try {
      val root = mapper.readTree(json)
      val b = if (root.has("parsed")) root.get("parsed") else root
      if (b.path("sf").asText != sfDir || b.path("basis").asText != Basis) none
      else {
        def nums(key: String) = b.path(key).properties.asScala
          .map(e => e.getKey -> e.getValue.asDouble).toMap
        val suspect = b.path("warm_suspect").elements.asScala.map(_.asText).toSet
        (nums("queries") -- suspect, nums("queries_cpu"))
      }
    } catch { case NonFatal(_) => none }
  }

  /** One timed call with the registry misses, registry evictions and
    * cached-block losses it saw. */
  private final case class Run(wall: Double, cpu: Double, ok: Boolean,
                               misses: Long, evictions: Long, blockLoss: Long) {
    def stateLoss: Boolean = misses + evictions + blockLoss > 0
  }

  /** One query's sweep: median and min wall, median cpu, all calls ok. */
  private final case class Swept(name: String, med: Double, min: Double,
                                 cpu: Double, ok: Boolean, ev: SweepEvidence)

  /** A tripwire flag and its isolated re-runs, fastest first. */
  private final case class Flag(q: Swept, prev: Double, kind: String,
                                iso: Seq[Run], verdict: String)

  private def r3(v: Double): Double = math.rint(v * 1000) / 1000

  /** One representative per operator family: the queries the stdout
    * line carries on a full run. */
  private val headline = Set(
    "q1_agg", "q3_join_inner", "q7_gb_quantiles", "q10_rolling",
    "q15_asof_backward", "q22_pivot", "q28_jaccard", "q31_ann_brute",
    "q38_ema_decay", "q62_ngroup", "q66_parquet_partitioned",
    "q82_ann_ivf", "q86_tpch_q3", "q99_apply_groups", "q119_dup_clusters",
    "q128_edit_distance", "q130_tfidf", "q146_tpch_q21", "q156_tpch_q2",
    "q187_kmv_distinct", "q192_countmin_hh", "q198_pca_project",
    "q200_curation_e2e", "q210_pair_artifact", "q250_ivfpq_trained",
    "q255_bpe_artifact", "q262_contamination_report", "q265_crawl_ops",
    "q272_ema_chunked", "q278_pagerank")

  /** The memo/artifact families: their sweep times the warm consumer
    * path, the cold lane the build a first caller pays. Model artifacts
    * survive the cold reset, so cold q253 is the serve-from-artifact
    * path and cold q250 a full retrain. */
  private val coldFamily = Set("q210_pair_artifact", "q232_train_classifier",
    "q234_classifier_gate", "q237_kmeans", "q238_cluster_balanced_sample",
    "q239_semdedup_kmeans", "q242_ivf_trained", "q250_ivfpq_trained",
    "q253_model_artifact", "q254_classifier_artifact",
    "q255_bpe_artifact", "q260_bloom_artifact", "q261_dsir_artifact",
    "q225_bpe_merges", "q226_bpe_segments", "q243_bpe_fertility")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = RipSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // executor CPU, GC, spill and memory→disk demotions of cached RDD
    // blocks, summed over tasks and read as deltas after a bus drain
    val cpuNs, gcMs, spillBytes, memDrops = new java.util.concurrent.atomic.AtomicLong(0L)
    val evictTracker = new BlockEvictionTracker
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = e.taskMetrics
          if (m != null) {
            cpuNs.addAndGet(m.executorCpuTime)
            gcMs.addAndGet(m.jvmGCTime)
            spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          }
        }
        override def onBlockUpdated(
            e: org.apache.spark.scheduler.SparkListenerBlockUpdated): Unit = {
          val (id, lvl) = (e.blockUpdatedInfo.blockId, e.blockUpdatedInfo.storageLevel)
          if (id.isRDD && lvl.isValid && !lvl.useMemory) memDrops.incrementAndGet()
          evictTracker.onUpdate(id.isRDD, lvl.isValid, lvl.useMemory, id.name)
        }
      })
    // listenerBus.waitUntilEmpty is private[spark] (public in bytecode);
    // losing the flush only blurs CPU attribution by a task tail
    def drainListenerBus(): Unit = try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .map(_.invoke(bus))
        .getOrElse(Thread.sleep(50))
    } catch { case _: Throwable => Thread.sleep(50) }
    /** The timed unit: (wall sec, executor cpu sec, ok). */
    def call(fn: Query): (Double, Double, Boolean) = {
      drainListenerBus()
      val c0 = cpuNs.get()
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
               catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      drainListenerBus()
      (dt, (cpuNs.get() - c0) / 1e9, ok)
    }
    def instrumented(fn: Query): Run = {
      val (s0, b0) = (FrameCache.stats, evictTracker.lost)
      val (wall, cpu, ok) = call(fn)
      val s1 = FrameCache.stats
      Run(wall, cpu, ok, s1.misses - s0.misses, s1.evictions - s0.evictions,
        evictTracker.lost - b0)
    }
    // teardown inside the deliberate window: the trim blocks and the bus
    // drains before it closes, so only BlockManager-initiated loss counts
    def deliberately(teardown: => Unit): Unit = evictTracker.deliberately {
      teardown; System.gc(); drainListenerBus()
    }

    spark.range(1000000L).selectExpr("sum(id)").collect()
    SparkEntry.queries.foreach { case (_, fn) => call(fn) }

    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val fnByName = selected.toMap
    deliberately(FrameCache.trimTo(0, blocking = true))
    FrameCache.resetPeak() // the peak measures the sweep's demand
    val results = selected.map { case (name, fn) =>
      // trim and collect garbage between queries, outside any timed call
      deliberately(FrameCache.trimTo(0, blocking = true))
      val (g0, sp0, d0) = (gcMs.get(), spillBytes.get(), memDrops.get())
      val (st0, b0) = (FrameCache.stats, evictTracker.lost)
      val runs = Seq.fill(3)(instrumented(fn))
      val st1 = FrameCache.stats
      val walls = runs.map(_.wall).sorted
      Swept(name, walls(1), walls.head, runs.map(_.cpu).sorted.apply(1),
        runs.forall(_.ok), SweepEvidence(gcMs.get() - g0,
          spillBytes.get() - sp0, memDrops.get() - d0, st1.hits - st0.hits,
          st1.misses - st0.misses, st1.evictions - st0.evictions,
          evictTracker.lost - b0, runs.map(_.misses)))
    }

    def read(p: Path): String = try Files.readString(p) catch { case NonFatal(_) => "" }
    val (localBase, localBaseCpu) = baseline(read(Paths.get("bench_full.json")), sfDir)
    val driverBase = Files.list(Paths.get(".")).iterator.asScala
      .map(_.getFileName.toString).filter(_.matches("BENCH_r\\d+\\.json"))
      .toSeq.sorted.lastOption
      .fold(Map.empty[String, Double])(f => baseline(read(Paths.get(f)), sfDir)._1)
    if (localBase.isEmpty && driverBase.isEmpty)
      System.err.println("bench tripwire: NO baseline parsed " +
        s"(bench_full.json/BENCH_r*.json missing, unparsable, other sf than $sfDir or other basis than $Basis) " +
        "- regressions are NOT being checked this run")
    val prevMedians = (localBase.keySet ++ driverBase.keySet)
      .map(k => k -> (localBase.get(k) ++ driverBase.get(k)).min).toMap

    /** The top `n` operators by time of one more execution of `name`.
      * collect(), not count(): count() plans a separate query and
      * leaves `df`'s own SQLMetrics at zero. */
    def topOps(name: String, n: Int): Seq[ListMap[String, Any]] = try {
      val df = fnByName(name)(spark, sfDir)
      df.collect()
      Explain.opMetrics(df).orderBy(col("time_ms").desc).limit(n).collect()
        .toSeq.map(r => ListMap("op" -> r.getString(1), "rows" -> r.getLong(2),
          "time_ms" -> r.getLong(3), "bytes" -> r.getLong(4)))
    } catch { case NonFatal(_) => Nil }

    def slipped(v: Double, prev: Double, by: Double) = v > prev * by && v - prev > 0.25
    val flags = results.flatMap { q =>
      prevMedians.get(q.name).collect {
        case p if slipped(q.med, p, 1.25) && slipped(q.min, p, 1.25) => (q, p, "tripwire")
        case p if slipped(q.med, p, 2.5) => (q, p, "median_spike")
      }
    }.map { case (q, prev, kind) =>
      System.gc()
      val iso = Seq.fill(3)(instrumented(fnByName(q.name))).sortBy(_.wall)
      // state loss is judged on the fastest re-run: the first may rebuild
      // frames the sweep trimmed since this query ran
      val verdict = BenchVerdict.of(prev, localBaseCpu.get(q.name),
        iso.head.wall, iso.head.cpu, anyError = iso.exists(!_.ok),
        stateLoss = iso.head.stateLoss)
      if (verdict == "confirmed") topOps(q.name, 5).foreach { op =>
        System.err.println(s"REGOP ${q.name} " +
          op.map { case (k, v) => s"$k=$v" }.mkString(" "))
      }
      Flag(q, prev, kind, iso, verdict)
    }

    val pairTable = "graft_pairs_" + sfDir.replaceAll("[^a-zA-Z0-9]", "_")
    val cold = selected.filter(q => coldFamily(q._1)).map { case (name, fn) =>
      val runs = Seq.fill(3) {
        deliberately {
          FrameCache.clear()
          try spark.sql(s"DROP TABLE IF EXISTS `$pairTable`")
          catch { case NonFatal(_) => () }
        }
        call(fn)
      }
      name -> Option.when(runs.forall(_._3))(runs.map(_._1).sorted.apply(1))
    }
    val coldMeds = cold.collect { case (k, Some(med)) => k -> med }
    val warmByName = results.map(q => q.name -> q.med).toMap

    val st = FrameCache.stats
    val failed = results.filterNot(_.ok).map(_.name)
    def perQuery(qs: Seq[Swept])(f: Swept => Double) = ListMap(qs.map(q => q.name -> r3(f(q))): _*)
    val head = ListMap("metric" -> "total", "value" -> r3(results.map(_.med).sum),
      "unit" -> "sec", "stat" -> "median_of_3",
      "value_min" -> r3(results.map(_.min).sum),
      "value_cpu" -> r3(results.map(_.cpu).sum),
      "nq" -> results.size, "nfailed" -> failed.size,
      // evictions > 0 is LRU-cap thrash; trims are the sweep's own;
      // block_loss is BlockManager-initiated loss of cached blocks
      "registry" -> ListMap("hits" -> st.hits, "misses" -> st.misses,
        "evictions" -> st.evictions, "entries" -> st.frames,
        "cap" -> FrameCache.maxCached, "trims" -> st.trims,
        "peak_entries" -> st.peakFrames, "trim_keep" -> 0,
        "block_loss" -> evictTracker.lost))
    val tail = ListMap("failed" -> failed.take(10), "sf" -> sfDir, "basis" -> Basis)

    val full = head ++ ListMap(
      "regressions" -> ListMap(flags.take(10).map { f =>
        val (m, ev) = (f.iso.head, f.q.ev)
        f.q.name -> ListMap("prev" -> r3(f.prev), "med" -> r3(f.q.med),
          "iso_med" -> r3(f.iso(1).wall), "iso_min" -> r3(m.wall),
          "cpu" -> r3(m.cpu), "prev_cpu" -> r3(localBaseCpu.getOrElse(f.q.name, -1.0)),
          "verdict" -> f.verdict, "flag" -> f.kind, "sweep_gc_ms" -> ev.gcMs,
          "sweep_spill_mb" -> r3(ev.spillBytes / 1048576.0),
          "sweep_mem_drops" -> ev.memDrops,
          "sweep_reg" -> Seq(ev.regHits, ev.regMisses, ev.regEvictions, ev.blockLoss),
          "iso_min_reg" -> Seq(m.misses, m.evictions, m.blockLoss))
      }: _*),
      "top_ops" -> (if (only.isDefined) ListMap.empty
        else ListMap(results.sortBy(-_.med).take(5).map(q => q.name -> topOps(q.name, 3)): _*)),
      "queries" -> perQuery(results)(_.med),
      "queries_min" -> perQuery(results)(_.min),
      "queries_cpu" -> perQuery(results)(_.cpu),
      "queries_reg" -> ListMap(results.filter(q =>
          q.ev.regMisses + q.ev.regEvictions + q.ev.blockLoss > 0).map { q =>
        q.name -> ListMap("hits" -> q.ev.regHits, "miss_by_run" -> q.ev.missByRun,
          "evict" -> q.ev.regEvictions, "block_loss" -> q.ev.blockLoss)
      }: _*),
      // seated registry-warm medians: cpu far below wall AND collapsed
      // ≥3× against the query's own previous seat
      "warm_suspect" -> results.filter(q => q.med > 0.15 && q.cpu < 0.35 * q.med &&
        localBaseCpu.get(q.name).exists(pc => pc > 0 && q.cpu < 0.33 * pc)).map(_.name),
      "queries_cold" -> ListMap(coldMeds.map { case (k, v) => k -> r3(v) }: _*),
      "cold_failed" -> cold.collect { case (k, None) => k }.take(10)) ++ tail
    if (only.isEmpty)
      try Files.writeString(Paths.get("bench_full.json"), mapper.writeValueAsString(full) + "\n")
      catch { case NonFatal(_) => () }

    // the stdout line: confirmed slips and errors only (weather is, by
    // verdict, no regression) and the headline queries, or every query
    // of a SPARK_GRAFT_ONLY run
    println(mapper.writeValueAsString(head ++ ListMap(
      "regressions" -> ListMap(flags.filter(_.verdict != "weather").take(3).map { f =>
        f.q.name -> Seq(r3(f.prev), r3(f.q.med), r3(f.iso.head.wall), r3(f.iso.head.cpu), f.verdict)
      }: _*),
      "weather_flags" -> flags.count(_.verdict == "weather"),
      "cold" -> ListMap("total" -> r3(coldMeds.map(_._2).sum),
        "top_deltas" -> ListMap(coldMeds.map { case (k, v) => k -> (v - warmByName.getOrElse(k, 0.0)) }
          .sortBy(-_._2).take(5).map { case (k, d) => k -> r3(d) }: _*)),
      "queries" -> perQuery(results.filter(q => headline(q.name) || only.isDefined))(_.med)) ++ tail))
    spark.stop()
  }
}
