package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

import graft.{BlockEvictionTracker, RipSession, SparkEntry}

/** JVM side of the benchmark. It drives the engine only through public
  * entry points (`RipSession.local`, `SparkEntry.queries`, the public
  * cache clears and `Dedup` counters) and writes raw records as JSON
  * lines (json4s, which Spark ships); every statistic is computed by
  * `run.py`.
  *
  * Commands arrive one per line on stdin; each is answered with one
  * line starting with `@@` on stdout (Spark logs go to stderr):
  *
  *   session <cpus>                      start the session
  *   oracles <file> <q,q,...>            dump `SparkEntry.oracleSql`
  *   warm <dir> <q,q,...>                untimed pass, outputs to parquet
  *   pass <trace> <file> <pass> <q,...>  first + repeat call of each query
  *   count <file> <q,q,...>              one `count()` call of each query
  *   quit
  */
object Harness {

  private var spark: SparkSession = _
  private var dataDir: String = _
  private lazy val queries = SparkEntry.queries
  private val cpuNs = new AtomicLong(0L)
  @volatile private var tracer: Option[Tracer] = None
  @volatile private var writeQe: Option[QueryExecution] = None
  private val PhaseKey = "perfbench.phase"
  // epoch-ms listener timestamps -> this JVM's nanoTime timeline
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def nsOfEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  def main(args: Array[String]): Unit = {
    dataDir = args(0)
    val in = new BufferedReader(new InputStreamReader(System.in))
    var line = in.readLine()
    while (line != null && line.trim != "quit") {
      val w = line.trim.split(" ")
      val reply = try {
        w(0) match {
          case "session" => startSession(w(1).toInt); "ok"
          case "oracles" => dumpOracles(w(1), names(w(2))); "ok"
          case "warm" => warm(w(1), names(w(2)))
          case "pass" => runPass(w(1) == "1", w(2), w(3).toInt, names(w(4))); "ok"
          case "count" => countBasis(w(1), names(w(2))); "ok"
          case other => s"error unknown command $other"
        }
      } catch {
        case e: Throwable => "error " + String.valueOf(e).replace('\n', ' ')
      }
      System.out.println("@@" + reply)
      System.out.flush()
      line = in.readLine()
    }
    if (spark != null) spark.stop()
  }

  private def names(csv: String): Seq[String] = csv.split(",").toSeq

  private def startSession(cpus: Int): Unit = {
    spark = RipSession.local(cpus)
    // dictionary-sized single-partition windows are deliberate (see Bench)
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark.sparkContext.addSparkListener(new Listener)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (isWrite(qe)) writeQe = Some(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** The noop write runs a nested command execution; the one whose
    * physical plan is the V2 write node planned the query itself. */
  private def isWrite(qe: QueryExecution): Boolean =
    try qe.executedPlan.getClass.getName.contains("V2") ||
      qe.executedPlan.nodeName.contains("Overwrite") ||
      qe.executedPlan.nodeName.contains("Append")
    catch { case _: Throwable => false }

  private def dumpOracles(file: String, qs: Seq[String]): Unit = {
    val sql = SparkEntry.oracleSql
    writeLines(file, qs.map(q => Map("q" -> q, "sql" -> sql.getOrElse(q, ""))),
      append = false)
  }

  /** Before every first call: clear every engine cache that a public
    * function reaches. `Cluster.ccMemo` has no public clear, so q119 may
    * still be served from it. The clears unpersist without blocking; the
    * RDDs they released are unpersisted again, blocking, so their block
    * removals land inside the deliberate window. */
  private def resetCaches(): Unit = blockTracker.deliberately {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs
    graft.operators.Dedup.clearDedupCaches()
    graft.operators.Curate.clearClassifierMemo()
    graft.operators.Similarity.clearKmeansMemo()
    graft.functions.Bpe.clearMergesMemo()
    val pairTable = "graft_pairs_" + dataDir.replaceAll("[^a-zA-Z0-9]", "_")
    spark.sql(s"DROP TABLE IF EXISTS `$pairTable`")
    spark.catalog.clearCache()
    val kept = sc.getPersistentRDDs.keySet
    before.foreach { case (id, rdd) => if (!kept(id)) rdd.unpersist(blocking = true) }
    drainListenerBus()
  }

  /** Cleanup applied identically before first and repeat calls. */
  private def beforeCall(): Unit = drainListenerBus()

  /** Warm-up: one untimed pass whose first calls write each query's
    * output for the oracle check. */
  private def warm(dir: String, qs: Seq[String]): String = {
    val failed = qs.filterNot { q =>
      resetCaches()
      try {
        queries(q)(spark, dataDir).write.mode("overwrite").parquet(s"$dir/$q")
        queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] warm $q failed: $e")
          false
      }
    }
    "ok " + failed.mkString(",")
  }

  private def runPass(trace: Boolean, file: String, pass: Int, qs: Seq[String]): Unit = {
    val out = mutable.ArrayBuffer.empty[Map[String, Any]]
    val tr = if (trace) Some(new Tracer) else None
    tracer = tr
    drainListenerBus()
    val c0 = cpuNs.get()
    val p0 = System.nanoTime()
    qs.foreach { q =>
      resetCaches()
      out += call(q, "first", pass, tr)
      out += call(q, "repeat", pass, tr)
    }
    val p1 = System.nanoTime()
    drainListenerBus()
    tracer = None
    out += Map("kind" -> "pass", "pass" -> pass, "trace" -> trace,
      "t0" -> p0, "t1" -> p1, "cpu_ns" -> (cpuNs.get() - c0),
      "peak_storage_bytes" -> tr.map(_.peakStorage).getOrElse(0L))
    writeLines(file, out.toSeq, append = true)
  }

  /** One timed call: build the DataFrame, then materialize every row
    * and column through the noop sink. */
  private def call(q: String, role: String, pass: Int, tr: Option[Tracer]): Map[String, Any] = {
    beforeCall()
    val sc = spark.sparkContext
    val h0 = graft.operators.Dedup.registryHits
    val m0 = graft.operators.Dedup.registryMisses
    val b0 = blockTracker.lost
    writeQe = None
    val fn = queries(q)
    sc.setLocalProperty(PhaseKey, "build")
    val t0 = System.nanoTime()
    var t1 = t0
    val err = try {
      val df = fn(spark, dataDir)
      t1 = System.nanoTime()
      sc.setLocalProperty(PhaseKey, "exec")
      df.write.format("noop").mode("overwrite").save()
      None
    } catch { case e: Throwable => Some(String.valueOf(e)) }
    val t3 = System.nanoTime()
    if (t1 == t0) t1 = t3
    sc.setLocalProperty(PhaseKey, null)
    val base = Map("kind" -> "call", "q" -> q, "role" -> role, "pass" -> pass,
      "ok" -> err.isEmpty, "err" -> err.getOrElse(""),
      "t0" -> t0, "t1" -> t1, "t3" -> t3)
    tr match {
      case None => base
      case Some(tracer) =>
        drainListenerBus()
        val qe = writeQe
        val phases = qe.map(_.tracker.phases.map { case (k, v) =>
          k -> Seq(nsOfEpochMs(v.startTimeMs), nsOfEpochMs(v.endTimeMs))
        }).getOrElse(Map.empty)
        val storage = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        base ++ Map(
          "phases" -> phases,
          "jobs" -> tracer.takeJobs(),
          "stages" -> tracer.takeStages(),
          "ops" -> qe.map(e => opTimes(e.executedPlan)).getOrElse(Map.empty),
          "cache" -> Map(
            "hits" -> (graft.operators.Dedup.registryHits - h0),
            "misses" -> (graft.operators.Dedup.registryMisses - m0),
            "persist_bytes" -> storage,
            "block_loss" -> (blockTracker.lost - b0)))
    }
  }

  /** Time `count()` once per query: the basis the repo's `Bench` uses. */
  private def countBasis(file: String, qs: Seq[String]): Unit = {
    val out = qs.map { q =>
      resetCaches()
      beforeCall()
      val fn = queries(q)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, dataDir).count(); true }
      catch { case _: Throwable => false }
      Map("kind" -> "count", "q" -> q, "ok" -> ok, "t0" -> t0,
        "t3" -> System.nanoTime())
    }
    writeLines(file, out, append = true)
  }

  /** Operator time by class, read from the executed plan's SQLMetrics
    * the way `Explain.opMetrics` reads them (timing in ms, nsTiming in
    * ns, summed per node). */
  private def opTimes(plan: SparkPlan): Map[String, Long] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => s +: walk(s.plan)
      case other => other +: other.children.flatMap(walk)
    }
    val acc = mutable.LinkedHashMap(Seq("aggregate", "window", "sort", "exchange",
      "join", "scan", "inmemory_scan", "graft", "other").map(_ -> 0L): _*)
    walk(plan).foreach { n =>
      val ms = n.metrics.values.collect {
        case v if v.metricType == "timing" => v.value
        case v if v.metricType == "nsTiming" => v.value / 1000000L
      }.sum
      acc(opClass(n)) += ms
    }
    acc.toMap
  }

  private val passThrough = Set("Project", "Filter", "ColumnarToRow", "InputAdapter")

  /** Operator class of a plan node. A whole-stage-codegen node's
    * duration is charged to the first operator it fuses that is not a
    * projection, filter or adapter: that is where its time goes. */
  private def opClass(n: SparkPlan): String = {
    val name = n.nodeName
    if (name.startsWith("WholeStageCodegen")) {
      var c = n.children.headOption
      while (c.exists(x => passThrough(x.nodeName))) c = c.get.children.headOption
      c.map(opClass).getOrElse("other")
    }
    else if (n.getClass.getName.startsWith("graft.")) "graft"
    else if (name.contains("InMemoryTableScan")) "inmemory_scan"
    else if (name.contains("Aggregate")) "aggregate"
    else if (name.contains("Window")) "window"
    else if (name.contains("Join")) "join"
    else if (name.contains("Exchange") || name.contains("ShuffleRead") ||
      name.contains("QueryStage")) "exchange"
    else if (name == "Sort") "sort"
    else if (name.contains("Scan")) "scan"
    else "other"
  }

  // ---- listeners ------------------------------------------------------

  private val blockTracker = new BlockEvictionTracker

  /** Per-call job and stage records, fed by the SparkListener while a
    * traced pass runs. */
  private final class Tracer {
    private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val jobPhase = new ConcurrentHashMap[Int, String]()
    private val jobOpen = new ConcurrentHashMap[Int, (Long, Boolean, Seq[Int])]()
    private val stageTasks = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
    private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val blockBytes = new ConcurrentHashMap[String, Long]()
    private val storage = new AtomicLong(0L)
    @volatile var peakStorage: Long = 0L

    def jobStart(e: SparkListenerJobStart): Unit = {
      val fromTables = e.stageInfos.exists(_.name.contains("Tables.scala"))
      val p = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
      jobPhase.put(e.jobId, p.getOrElse(""))
      jobOpen.put(e.jobId, (e.time, fromTables, e.stageIds))
      e.stageIds.foreach(id => stageTasks.putIfAbsent(id, mutable.ArrayBuffer.empty))
    }
    def jobEnd(e: SparkListenerJobEnd): Unit = Option(jobOpen.remove(e.jobId)).foreach {
      case (start, fromTables, stageIds) => jobs.synchronized {
        jobs += Map("id" -> e.jobId, "phase" -> jobPhase.getOrDefault(e.jobId, ""),
          "start" -> nsOfEpochMs(start), "end" -> nsOfEpochMs(e.time),
          "tables" -> fromTables, "stages" -> stageIds)
      }
    }
    def taskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageTasks.get(e.stageId)).foreach(b => b.synchronized(b += e.taskInfo.duration))
    def stageDone(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val durs = Option(stageTasks.remove(i.stageId)).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
      stages.synchronized {
        stages += Map("id" -> i.stageId,
          "start" -> nsOfEpochMs(i.submissionTime.getOrElse(0L)),
          "end" -> nsOfEpochMs(i.completionTime.getOrElse(0L)),
          "tasks" -> i.numTasks,
          "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
          "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
          "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
          "shuffle_bytes" -> (if (m == null) 0L else
            m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten),
          "task_max_ms" -> (if (durs.isEmpty) 0L else durs.last),
          "task_p50_ms" -> (if (durs.isEmpty) 0L else durs((durs.size - 1) / 2)))
      }
    }
    def blockUpdated(rdd: Boolean, name: String, bytes: Long): Unit = if (rdd) {
      val prev = Option(blockBytes.put(name, bytes)).getOrElse(0L)
      val now = storage.addAndGet(bytes - prev)
      if (now > peakStorage) peakStorage = now
    }
    def takeJobs(): Seq[Map[String, Any]] = jobs.synchronized {
      val s = jobs.toSeq; jobs.clear(); s
    }
    def takeStages(): Seq[Map[String, Any]] = stages.synchronized {
      val s = stages.toSeq; stages.clear(); s
    }
  }

  private final class Listener extends SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
      tracer.foreach(_.taskEnd(e))
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = tracer.foreach(_.jobStart(e))
    override def onJobEnd(e: SparkListenerJobEnd): Unit = tracer.foreach(_.jobEnd(e))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      tracer.foreach(_.stageDone(e))
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      blockTracker.onUpdate(b.blockId.isRDD, b.storageLevel.isValid,
        b.storageLevel.useMemory, b.blockId.name)
      tracer.foreach(_.blockUpdated(b.blockId.isRDD, b.blockId.name,
        if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L))
    }
  }

  /** `listenerBus.waitUntilEmpty` is private[spark] but public in
    * bytecode; reflection keeps this source-compatible (as in Bench). */
  private def drainListenerBus(): Unit = try {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .map(_.invoke(bus))
      .getOrElse(Thread.sleep(50))
  } catch { case _: Throwable => Thread.sleep(50) }

  private implicit val formats: Formats = DefaultFormats

  private def writeLines(file: String, records: Seq[Map[String, Any]], append: Boolean): Unit = {
    new File(file).getAbsoluteFile.getParentFile.mkdirs()
    val w = new PrintWriter(new java.io.FileWriter(file, append))
    try records.foreach(r => w.println(Serialization.write(r))) finally w.close()
  }
}
