package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Sample}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** The engine's one plan-keyed cache. Operators reuse work across the
  * queries of a session through it instead of recomputing: persisted
  * intermediate frames (shingle sets, signature frames, count frames)
  * and driver-side artifacts of eager jobs (bloom bitmaps, k-means
  * centroids, classifier weights, BPE merge tables, connected-component
  * results, closure operators' output frames).
  *
  * Key rule — an entry is shared only when ALL of these are equal:
  *  - the SparkSession (entries never cross sessions, so eviction can
  *    never unpersist a frame owned by a stopped context);
  *  - the canonicalized analyzed plan of every input;
  *  - every input's output schema, names and types (canonicalization
  *    erases output names, so two frames equal up to column names would
  *    otherwise collide and break every downstream column reference);
  *  - a tag naming the operator;
  *  - every explicit parameter (column names, geometry, iterations).
  *    Parameters must have value equality — no arrays.
  *
  * Canonical-plan equality implies equal output only for deterministic
  * plans, so an input whose plan is nondeterministic bypasses the cache:
  * `persist` hands it back unpersisted and `memo` builds every time.
  *
  * One LRU map under one lock holds both value kinds, capped at
  * `-Dgraft.dedup.maxCached` entries (default 512). Persisted frames
  * are unpersisted when they leave (eviction, [[trimTo]], [[clear]]);
  * artifacts are only dropped, never unpersisted, because a result
  * pinned by localCheckpoint (Cluster) has no recompute path and an
  * earlier caller may still read its blocks — the ContextCleaner frees
  * them once the last reference is gone.
  */
object FrameCache {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.FrameCache")

  /** Entry cap over both value kinds. Sized above the full registry
    * sweep's reuse set: frames persist MEMORY_AND_DISK, so a generous
    * cap degrades to disk, never to recompute; its job is bounding a
    * long-lived session that sweeps unrelated corpora.
    */
  val maxCached: Int =
    try sys.props.getOrElse("graft.dedup.maxCached", "512").toInt
    catch { case _: NumberFormatException => 512 }

  private final case class Key(session: SparkSession, tag: String,
                               plans: Seq[LogicalPlan],
                               schemas: Seq[StructType], params: Seq[Any])

  private sealed trait Entry
  private final case class Frame(df: DataFrame) extends Entry
  private final case class Artifact(value: Any) extends Entry

  private val PersistTag = "persist"

  // access-ordered: iteration runs from least to most recently used
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var frames, hits, misses, evictions, trims, peakFrames = 0L

  /** One snapshot of the cache's counters. `hits` through `frames`
    * cover persisted frames only (the registry numbers the bench and
    * specs read); `artifacts` is the number of driver-side artifacts
    * held. Counters are cumulative per JVM except the two current sizes
    * and `peakFrames`.
    *
    * `peakFrames` is the resident-frame high-water mark since
    * [[resetPeak]]. It is the demand signal: Bench's between-query trim
    * clamps the end-of-sweep frame count at its keep, so only the peak
    * shows demand above it. Bench records it as `peak_entries` beside
    * `trim_keep`; RegistrySweepSpec pins that the peak sees every
    * resident frame and that a reset restarts it at the current count.
    */
  final case class Stats(hits: Long, misses: Long, evictions: Long,
                         trims: Long, peakFrames: Long, frames: Long,
                         artifacts: Long)

  def stats: Stats = entries.synchronized {
    Stats(hits, misses, evictions, trims, peakFrames, frames,
      entries.size - frames)
  }

  /** True when re-materializing the plan may produce different rows:
    * expression-level nondeterminism (rand(), uuid(),
    * monotonically_increasing_id …) and `Sample`, which keeps its seed
    * in constructor fields and is partition-layout-dependent even when
    * seeded.
    */
  private def nondeterministic(plan: LogicalPlan): Boolean =
    plan.exists {
      case _: Sample => true
      case p => p.expressions.exists(e => e.exists(!_.deterministic))
    }

  private def keyOf(tag: String, inputs: Seq[DataFrame],
                    params: Seq[Any]): Option[Key] = {
    require(inputs.nonEmpty, s"$tag: a cache key needs at least one input")
    val plans = inputs.map(_.queryExecution.analyzed)
    if (plans.exists(nondeterministic)) None
    else Some(Key(inputs.head.sparkSession, tag, plans.map(_.canonicalized),
      inputs.map(_.schema), params))
  }

  /** Persist `df` MEMORY_AND_DISK once per key and return the shared
    * frame: an equal frame persisted earlier is returned instead of
    * calling `persist` again on an equivalent plan.
    *
    * MEMORY_AND_DISK is the invariant Bench's storage-eviction tripwire
    * relies on: memory pressure shows as a disk-only demotion of an RDD
    * block, never as a silent full eviction.
    */
  def persist(df: DataFrame): DataFrame = keyOf(PersistTag, Seq(df), Nil) match {
    case None => df
    case Some(key) => entries.synchronized {
      lookup(key) match {
        case Some(Frame(hit)) => hits += 1; hit
        case _ =>
          misses += 1
          df.persist(StorageLevel.MEMORY_AND_DISK)
          insert(key, Frame(df))
          df
      }
    }
  }

  /** The value `build` computes for (`tag`, `inputs`, `params`), built
    * at most once per key while the entry lives. `build` must be a pure
    * function of the inputs and parameters. It runs outside the lock,
    * so a slow driver job never blocks other lookups; two racing
    * callers with the same key may both build (harmless — both results
    * are correct, the last insert wins).
    */
  def memo[V](tag: String, inputs: DataFrame*)(params: Any*)(build: => V): V =
    keyOf(tag, inputs, params) match {
      case None => build
      case Some(key) =>
        entries.synchronized {
          lookup(key).collect { case Artifact(v) => v }
        } match {
          case Some(v) => v.asInstanceOf[V]
          case None =>
            val v = build
            entries.synchronized(insert(key, Artifact(v)))
            v
        }
    }

  // callers hold the lock
  private def lookup(key: Key): Option[Entry] = {
    entries.entrySet().removeIf { e =>
      val dead = e.getKey.session.sparkContext.isStopped
      if (dead && e.getValue.isInstanceOf[Frame]) frames -= 1
      dead
    }
    Option(entries.get(key))
  }

  private def insert(key: Key, e: Entry): Unit = {
    entries.put(key, e)
    if (e.isInstanceOf[Frame]) {
      frames += 1
      peakFrames = math.max(peakFrames, frames)
    }
    while (entries.size > maxCached) {
      val it = entries.values().iterator()
      val eldest = it.next()
      it.remove()
      eldest match {
        case Frame(df) =>
          frames -= 1
          evictions += 1
          log.info(s"evicting LRU frame (size ${entries.size + 1} > cap $maxCached)")
          unpersist(df)
        case Artifact(_) => ()
      }
    }
  }

  private def unpersist(df: DataFrame, blocking: Boolean = false): Unit =
    try {
      if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Unpersist all but the `keep` most recently used persisted frames;
    * artifacts stay. Counted as `trims`, never as `evictions`: a
    * deliberate between-query trim is hygiene, while evictions are the
    * cap-thrash signal. `blocking = true` lets Bench drain the block
    * removals inside its deliberate-teardown window.
    */
  def trimTo(keep: Int, blocking: Boolean = false): Unit =
    entries.synchronized {
      require(keep >= 0, s"keep must be >= 0: $keep")
      val it = entries.values().iterator()
      while (frames > keep && it.hasNext) it.next() match {
        case Frame(df) =>
          it.remove()
          frames -= 1
          trims += 1
          unpersist(df, blocking)
        case Artifact(_) => ()
      }
    }

  /** Restart the `peakFrames` high-water mark at the current size. */
  def resetPeak(): Unit = entries.synchronized { peakFrames = frames }

  /** Drop every entry of both kinds, unpersisting the frames. */
  def clear(): Unit = entries.synchronized {
    entries.values().forEach {
      case Frame(df) => unpersist(df)
      case Artifact(_) => ()
    }
    entries.clear()
    frames = 0
  }
}
