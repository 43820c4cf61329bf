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
  *    Parameters must have value equality — no arrays; pass an array
  *    by content (`ArraySeq`).
  * A session-keyed artifact (the second `memo`) has no input frame, so
  * its session, tag and parameters are its whole key. `persist(df)`
  * keys the frame itself: its plan is the one input, under one fixed
  * tag. The input-keyed `persist(tag, inputs*)(params*)(build)` keys an
  * operator's output by what it is built FROM, like `memo`, so a hit is
  * found before the operator builds (and Spark analyzes) the output's
  * plan; it holds an alias to the plan-keyed frame, never a frame of
  * its own, so two routes that build equal plans still share one frame.
  *
  * Canonical-plan equality implies equal output only for deterministic
  * plans, so an input whose plan is nondeterministic bypasses the cache:
  * `persist` hands it back unpersisted and `memo` and the input-keyed
  * `persist` build every time.
  *
  * One LRU map under one lock holds all three entry kinds, capped at
  * `-Dgraft.dedup.maxCached` entries (default 512). Persisted frames
  * are unpersisted when they leave (eviction, [[trimTo]], [[clear]]),
  * and every alias to a frame leaves with it;
  * artifacts are only dropped, never unpersisted, because a result
  * pinned by localCheckpoint (Cluster) has no recompute path and an
  * earlier caller may still read its blocks — the ContextCleaner frees
  * them once the last reference is gone.
  */
object FrameCache {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.FrameCache")

  /** Entry cap over every entry kind. Sized above the full registry
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
  // an input key's pointer to the plan-keyed frame its build persisted;
  // `frame` is compared by identity when that frame leaves
  private final case class Alias(target: Key, frame: Frame) extends Entry

  private val PersistTag = "persist"

  // access-ordered: iteration runs from least to most recently used
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var frames, hits, misses, evictions, trims, peakFrames = 0L

  /** One snapshot of the cache's counters. `hits` through `frames`
    * cover persisted frames only (the registry numbers the bench and
    * specs read); a hit through an input key counts as a frame hit.
    * `artifacts` and `aliases` are the numbers of driver-side artifacts
    * and input-key aliases held. Counters are cumulative per JVM except
    * the three current sizes and `peakFrames`.
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
                         artifacts: Long, aliases: Long)

  def stats: Stats = entries.synchronized {
    val aliases = entries.values().stream()
      .filter(_.isInstanceOf[Alias]).count()
    Stats(hits, misses, evictions, trims, peakFrames, frames,
      entries.size - frames - aliases, aliases)
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
    case Some(key) => entries.synchronized(persistKeyed(key, df).df)
  }

  /** The persisted output `build` computes from (`tag`, `inputs`,
    * `params`), found by those alone: a hit returns the shared frame
    * without evaluating `build`, counted as a frame hit; a miss passes
    * `build` through [[persist]] (so an equal plan built by another
    * route is shared, not persisted twice) and records this key as an
    * alias to that frame. The alias leaves when its frame does. As with
    * [[memo]], `build` must be a function of the inputs and parameters
    * alone, and it runs outside the lock.
    */
  def persist(tag: String, inputs: DataFrame*)(params: Any*)(
      build: => DataFrame): DataFrame = keyOf(tag, inputs, params) match {
    case None => persist(build)
    case Some(key) =>
      entries.synchronized {
        lookup(key).collect { case Alias(target, frame) =>
          entries.get(target) // keep the frame as recent as its alias
          hits += 1
          frame.df
        }
      }.getOrElse {
        val df = build
        keyOf(PersistTag, Seq(df), Nil) match {
          case None => df
          case Some(target) => entries.synchronized {
            val frame = persistKeyed(target, df)
            insert(key, Alias(target, frame))
            frame.df
          }
        }
      }
  }

  // callers hold the lock
  private def persistKeyed(key: Key, df: DataFrame): Frame =
    lookup(key) match {
      case Some(hit: Frame) => hits += 1; hit
      case _ =>
        misses += 1
        df.persist(StorageLevel.MEMORY_AND_DISK)
        val frame = Frame(df)
        insert(key, frame)
        frame
    }

  /** The value `build` computes for (`tag`, `inputs`, `params`), built
    * at most once per key while the entry lives. `build` must be a pure
    * function of the inputs and parameters. It runs outside the lock,
    * so a slow driver job never blocks other lookups; two racing
    * callers with the same key may both build (harmless — both results
    * are correct, the last insert wins).
    */
  def memo[V](tag: String, inputs: DataFrame*)(params: Any*)(build: => V): V =
    memoKeyed(keyOf(tag, inputs, params))(build)

  /** [[memo]] for an artifact that depends on no input frame, only on
    * `session` and `params` — e.g. a base table's resolved schema, keyed
    * by its path, length and modification time (Tables).
    */
  def memo[V](session: SparkSession, tag: String)(params: Any*)(build: => V): V =
    memoKeyed(Some(Key(session, tag, Nil, Nil, params)))(build)

  private def memoKeyed[V](key: Option[Key])(build: => V): V = key match {
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
        case f @ Frame(df) =>
          frames -= 1
          evictions += 1
          log.info(s"evicting LRU frame (size ${entries.size + 1} > cap $maxCached)")
          unpersist(df)
          dropAliases(Seq(f))
        case _ => ()
      }
    }
  }

  // callers hold the lock; identity, not equality: an equal frame may
  // be persisted again later under the same plan key
  private def dropAliases(gone: Iterable[Frame]): Unit =
    if (gone.nonEmpty) entries.values().removeIf {
      case Alias(_, f) => gone.exists(_ eq f)
      case _ => false
    }

  private def unpersist(df: DataFrame, blocking: Boolean = false): Unit =
    try {
      if (!df.sparkSession.sparkContext.isStopped) df.unpersist(blocking)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Unpersist all but the `keep` most recently used persisted frames;
    * artifacts stay, and the aliases of a trimmed frame go with it.
    * Counted as `trims`, never as `evictions`: a
    * deliberate between-query trim is hygiene, while evictions are the
    * cap-thrash signal. `blocking = true` lets Bench drain the block
    * removals inside its deliberate-teardown window.
    */
  def trimTo(keep: Int, blocking: Boolean = false): Unit =
    entries.synchronized {
      require(keep >= 0, s"keep must be >= 0: $keep")
      val gone = scala.collection.mutable.ArrayBuffer.empty[Frame]
      val it = entries.values().iterator()
      while (frames > keep && it.hasNext) it.next() match {
        case f @ Frame(df) =>
          it.remove()
          frames -= 1
          trims += 1
          unpersist(df, blocking)
          gone += f
        case _ => ()
      }
      dropAliases(gone)
    }

  /** Restart the `peakFrames` high-water mark at the current size. */
  def resetPeak(): Unit = entries.synchronized { peakFrames = frames }

  /** Drop every entry of all three kinds, unpersisting the frames. */
  def clear(): Unit = entries.synchronized {
    entries.values().forEach {
      case Frame(df) => unpersist(df)
      case _ => ()
    }
    entries.clear()
    frames = 0
  }
}
