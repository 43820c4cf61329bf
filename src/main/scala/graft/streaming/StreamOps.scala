package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming variants of the time-bucket operators.
  *
  * Riptable has NO streaming subsystem (SURVEY §2.9) — its "real-time"
  * story is re-running batch queries. These are Spark-native capability
  * extensions over the `events` schema: watermarked tumbling/sliding
  * window aggregation, session windows, and a stateful streaming EMA via
  * `flatMapGroupsWithState` (the streaming twin of operators.Ema).
  */
object StreamOps {

  /** Tumbling (or, with `slide`, sliding) window count/sum with a
    * late-data watermark. A sliding window assigns each event to
    * len/slide overlapping windows — state is windows × keys, still
    * watermark-bounded.
    */
  def windowedAgg(events: DataFrame, windowLen: String, watermark: String,
                  slide: Option[String] = None): DataFrame = {
    val w = slide.map(s => window(col("ts"), windowLen, s))
      .getOrElse(window(col("ts"), windowLen))
    events
      .withWatermark("ts", watermark)
      .groupBy(w, col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
  }

  /** Session windows per user (gap-based). */
  def sessionAgg(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))

  final case class EmaState(ema: Double, lastTs: Long)
  final case class EmaOut(user_id: Long, ts: Long, value: Double, ema: Double)

  /** Streaming ema_decay (batch twin: graft.operators.Ema): per-key state
    * carries (ema, lastTs); each micro-batch folds its (sorted) rows in.
    *
    * State is BOUNDED: the input is watermarked and each key arms an
    * event-time timeout at (its latest event + stateRetentionMs) — once
    * the watermark passes that, the state evicts and a later row for the
    * key restarts its EMA. Without this, per-key state on a real stream
    * grows with the key universe forever.
    */
  def streamingEma(events: DataFrame, rate: Double,
                   watermark: String = "10 minutes",
                   stateRetentionMs: Long = 3600000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      // the watermarked event-time COLUMN must survive the projection
      // (its metadata tag is what licenses EventTimeTimeout); micros
      // ride alongside it
      .select(col("user_id").cast("long"), col("ts"),
        unix_micros(col("ts")).as("tsu"), col("value").cast("double"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[EmaState, EmaOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state: GroupState[EmaState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var (ema, lastTs) = state.getOption.map(s => (s.ema, s.lastTs)).getOrElse((0.0, Long.MinValue))
            val out = rows.toSeq.sortBy(_._3).map { case (_, _, t, v) =>
              val w = if (lastTs == Long.MinValue) 0.0 else math.exp(-rate * (t - lastTs).toDouble)
              ema = v + ema * w
              lastTs = t
              EmaOut(uid, t, v, ema)
            }
            state.update(EmaState(ema, lastTs))
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(), lastTs / 1000L) + stateRetentionMs)
            out.iterator
          }
      }.toDF()
  }

  final case class AsofState(lastT: Long, lastV: Double, has: Boolean)
  final case class AsofOut(user_id: Long, event_id: Long, ts: Long,
                           matched: Option[Double])

  /** Streaming as-of join (backward): one tagged stream carries both
    * sides; per-key state holds the latest right-side (time, value), and
    * each left row emits the state at its timestamp. The streaming twin
    * of operators.AsofJoin / plans.AsofJoinExec — same recurrence the
    * batch sort-merge runs, held in GroupState instead of a sort. Rows
    * are folded in event-time order within each micro-batch; late
    * arrivals across batches follow arrival order (document with a
    * watermark upstream for bounded lateness).
    */
  def streamingAsof(events: DataFrame, leftType: String, rightType: String,
                    watermark: String = "10 minutes",
                    stateRetentionMs: Long = 3600000L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      // keep the watermarked ts column alive through the projection
      // (licenses EventTimeTimeout); micros ride alongside
      .select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("ts"), unix_micros(col("ts")).as("tsu"), col("event_type"),
        col("value").cast("double"))
      .as[(Long, Long, java.sql.Timestamp, Long, String, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state: GroupState[AsofState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(AsofState(Long.MinValue, 0.0, has = false))
            var maxT = Long.MinValue
            val out = rows.toSeq.sortBy(_._4).flatMap { case (_, eid, _, t, typ, v) =>
              if (t > maxT) maxT = t
              if (typ == rightType) { st = AsofState(t, v, has = true); None }
              else if (typ == leftType)
                Some(AsofOut(uid, eid, t, if (st.has && st.lastT <= t) Some(st.lastV) else None))
              else None
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(),
                if (maxT == Long.MinValue) 0L else maxT / 1000L) + stateRetentionMs)
            out.iterator
          }
      }.toDF()
  }

  /** TRUE stream-stream as-of join (backward): two SEPARATE streams —
    * left probes, right quotes — joined per key on "latest right at or
    * before the left row's event time". The missing shape after
    * streamingAsof (which requires both sides pre-tagged in ONE
    * stream); reference semantics `rt_merge.py:3572` (merge_asof).
    *
    * Implementation: both sides are watermarked, aligned to a common
    * schema, tagged, and UNIONed (Spark's multi-watermark policy takes
    * the min across inputs), then one `flatMapGroupsWithState` per key
    * holds only the latest right-side (ts, value) — the same recurrence
    * the batch sort-merge (plans.AsofJoinExec) runs, in O(1) state per
    * key. Within a micro-batch rows fold in event-time order with
    * right-before-left on ties (backward as-of: a quote AT the probe
    * timestamp matches). State is watermark-bounded: every key arms an
    * event-time timeout at (latest event + stateRetentionMs) and evicts
    * when the watermark passes it — bounded state on an unbounded key
    * universe.
    */
  def streamStreamAsof(left: DataFrame, right: DataFrame,
                       keyCol: String, tsCol: String, idCol: String,
                       valueCol: String,
                       watermark: String = "10 minutes",
                       stateRetentionMs: Long = 3600000L): DataFrame = {
    val spark = left.sparkSession
    import spark.implicits._
    val l = left.withWatermark(tsCol, watermark).select(
      col(keyCol).cast("long").as("user_id"),
      col(idCol).cast("long").as("event_id"),
      col(tsCol).as("ts"), unix_micros(col(tsCol)).as("tsu"),
      lit(1).as("side"), col(valueCol).cast("double").as("value"))
    val r = right.withWatermark(tsCol, watermark).select(
      col(keyCol).cast("long").as("user_id"),
      lit(-1L).as("event_id"),
      col(tsCol).as("ts"), unix_micros(col(tsCol)).as("tsu"),
      lit(0).as("side"), col(valueCol).cast("double").as("value"))
    l.unionByName(r)
      .as[(Long, Long, java.sql.Timestamp, Long, Int, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state: GroupState[AsofState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(AsofState(Long.MinValue, 0.0, has = false))
            var maxT = Long.MinValue
            // (tsu, side) order: side 0 = right folds before a left row
            // at the same timestamp (backward-inclusive semantics)
            val out = rows.toSeq.sortBy(t => (t._4, t._5)).flatMap {
              case (_, eid, _, t, side, v) =>
                if (t > maxT) maxT = t
                if (side == 0) { st = AsofState(t, v, has = true); None }
                else Some(AsofOut(uid, eid, t,
                  if (st.has && st.lastT <= t) Some(st.lastV) else None))
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(state.getCurrentWatermarkMs(),
                if (maxT == Long.MinValue) 0L else maxT / 1000L) + stateRetentionMs)
            out.iterator
          }
      }.toDF()
  }

  /** Streaming near-duplicate dedup for ingest pipelines: the first doc
    * per 64-bit simhash signature wins; later colliding docs drop.
    * Signature is the codegen'd Column-form simhash (per-row, no
    * pre-aggregation — streaming-safe). State = one row per distinct
    * signature, bounded by `dropDuplicatesWithinWatermark` — signatures
    * older than the watermark evict, so a near-dup arriving within the
    * lateness window dedupes and the state never outgrows the window.
    */
  def streamingNearDedup(docs: DataFrame, textCol: String,
                         watermark: String = "10 minutes"): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .withColumn("__sig", graft.operators.Dedup.simhash(col(textCol)))
      .dropDuplicatesWithinWatermark("__sig")
      .drop("__sig")

  /** Stream-stream interval join: left events enriched with right-side
    * events for the same key within a bounded lag (right.ts ∈
    * [left.ts − maxLag, left.ts]). Both sides are watermarked and the
    * join carries an explicit event-time range constraint — exactly what
    * licenses Spark to EVICT buffered rows once the watermark passes
    * their reach, so state stays bounded by (lateness + lag) × rate
    * instead of growing with the stream. The canonical "clicks joined to
    * impressions" shape.
    */
  def streamStreamIntervalJoin(left: DataFrame, right: DataFrame,
                               keyCol: String, maxLag: String,
                               watermark: String = "10 minutes",
                               tsCol: String = "ts",
                               idCol: String = "event_id",
                               valueCol: String = "value"): DataFrame = {
    require(maxLag.trim.matches("\\d+\\s+[A-Za-z]+"),
      s"maxLag must look like '<n> <unit>' (got '$maxLag')")
    val l = left.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("l_key"), col(tsCol).as("l_ts"),
        col(idCol).as("l_id"), col(valueCol).as("l_value"))
    val r = right.withWatermark(tsCol, watermark)
      .select(col(keyCol).as("r_key"), col(tsCol).as("r_ts"),
        col(idCol).as("r_id"), col(valueCol).as("r_value"))
    l.join(r,
      col("l_key") === col("r_key") &&
        col("r_ts") >= col("l_ts") - expr(s"INTERVAL $maxLag") &&
        col("r_ts") <= col("l_ts"),
      "inner")
  }

  /** Stream-static dimension enrichment: the canonical "facts stream,
    * dimensions sit in a table" join. The static side carries an
    * explicit broadcast hint — per micro-batch the dimension ships to
    * the executors and the streaming side is enriched without any
    * stream-state or shuffle of the stream (stateless join, no
    * watermark needed). At 100 TB/day ingest this is the shape for
    * attaching reference data (calendars, dictionaries, budgets) to a
    * firehose.
    */
  def streamStaticEnrich(stream: DataFrame, dim: DataFrame,
                         on: Seq[String]): DataFrame =
    stream.join(broadcast(dim), on, "left")

  /** Streaming curation funnel: per event-time window, the row count
    * surviving each named stage predicate plus the intersection — the
    * streaming twin of operators.Curate.funnel for ingest monitoring
    * ("how much of the last 5 minutes' crawl survived the filters").
    * Stateless conditional sums inside a watermarked window aggregate —
    * state is one row per (window, group), watermark-bounded.
    */
  def streamingFunnel(rows: DataFrame, windowLen: String, watermark: String,
                      stages: Seq[(String, org.apache.spark.sql.Column)]): DataFrame = {
    val aggs = count(lit(1)).as("n_total") +:
      (stages.map { case (name, pred) =>
        sum(when(pred, 1L).otherwise(0L)).as(s"n_$name")
      } :+ sum(when(stages.map(_._2).reduce(_ && _), 1L).otherwise(0L))
        .as("n_all"))
    rows
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Streaming twin of `Curate.rejectionReasons`: per event-time
    * window and group, the count of rows whose FIRST failing gate (in
    * the given order) is each named stage, with `kept` for rows every
    * gate passes — live "why is crawl X being dropped" attribution.
    * Same contract as the batch op: a NULL gate predicate REJECTS
    * (null can't prove itself a pass), gate names must be unique and
    * not the reserved `kept`. The when-chain is a stateless codegen'd
    * projection; the only state is the watermarked (window, group,
    * reason) count — dictionary-sized per window, never corpus-keyed.
    */
  def streamingRejectionReasons(rows: DataFrame, tsCol: String,
                                by: Seq[String], windowLen: String,
                                watermarkDelay: String,
                                stages: Seq[(String, org.apache.spark.sql.Column)])
  : DataFrame = {
    val reason = graft.operators.Curate.rejectionReasonCol(stages)
    rows
      .withWatermark(tsCol, watermarkDelay)
      .groupBy((window(col(tsCol), windowLen) +: by.map(col))
        :+ reason.as("reason"): _*)
      .agg(count(lit(1)).as("n"))
      .select((col("window.start").as("window_start") +:
        col("window.end").as("window_end") +:
        by.map(col)) :+ col("reason") :+ col("n"): _*)
  }

  case class TopEntry(value: Double, id: Long)
  case class TopState(entries: List[TopEntry], seen: Long)
  case class TopKOut(user_id: Long, event_id: Long, value: Double,
                     rank: Int, n_seen: Long)

  /** Per-key streaming top-k on the Spark 4 `transformWithState` API
    * (the arbitrary-state successor to mapGroupsWithState, RocksDB-
    * backed): state per key is exactly the current top-k list plus a
    * seen-counter, merged against each batch's rows and re-emitted in
    * Update mode — a continuously-maintained leaderboard whose state
    * is O(k) per key regardless of stream length. `n_seen` stamps each
    * emission so a consumer (and the spec) can identify the newest
    * version per key without comparing whole lists.
    */
  class TopKProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Double), TopKOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode => TM, _}
    @transient private var st: ValueState[TopState] = _

    override def init(outputMode: OM, timeMode: TM): Unit =
      st = getHandle.getValueState[TopState]("topk",
        org.apache.spark.sql.Encoders.product[TopState], TTLConfig.NONE)

    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, Long, Double)],
                                 timerValues: TimerValues): Iterator[TopKOut] = {
      val cur = if (st.exists()) st.get() else TopState(Nil, 0L)
      var seen = cur.seen
      val incoming = rows.map { r => seen += 1; TopEntry(r._3, r._2) }.toList
      val merged = (cur.entries ++ incoming)
        .sortBy(e => (-e.value, e.id)).take(k)
      st.update(TopState(merged, seen))
      merged.zipWithIndex.iterator.map { case (e, i) =>
        TopKOut(key, e.id, e.value, i + 1, seen)
      }
    }
  }

  case class KmvState(mins: List[Long], seen: Long)
  case class KmvOut(key: String, distinct_est: Double, sketch_size: Long,
                    n_seen: Long)

  /** Streaming KMV distinct-count — the streaming twin of
    * `Sketch.kmvDistinct`, same estimator, same portable hash: state
    * per key is the k smallest distinct value-hashes (KMV sketches
    * merge by unioning mins and re-taking the k smallest — which is
    * literally the batch merge step, here applied incrementally), so
    * the streaming estimate after any prefix of batches EQUALS the
    * batch estimate over the same rows — deterministic, and the spec
    * asserts the equality exactly, something an HLL stream can't offer.
    * State is O(k) longs per key.
    */
  class KmvProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      String, (String, Long), KmvOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode => TM, _}
    @transient private var st: ValueState[KmvState] = _
    private val M = (1L << 60).toDouble

    override def init(outputMode: OM, timeMode: TM): Unit =
      st = getHandle.getValueState[KmvState]("kmv",
        org.apache.spark.sql.Encoders.product[KmvState], TTLConfig.NONE)

    override def handleInputRows(key: String,
                                 rows: Iterator[(String, Long)],
                                 timerValues: TimerValues): Iterator[KmvOut] = {
      val cur = if (st.exists()) st.get() else KmvState(Nil, 0L)
      var seen = cur.seen
      val hs = rows.map { r => seen += 1; r._2 }.toList
      val merged = (cur.mins ++ hs).distinct.sorted.take(k)
      st.update(KmvState(merged, seen))
      val cnt = merged.size
      val est =
        if (cnt < k) cnt.toDouble
        else {
          val hk = merged.last.toDouble
          BigDecimal((k - 1).toDouble * M / hk)
            .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
      Iterator.single(KmvOut(key, est, cnt.toLong, seen))
    }
  }

  /** Streaming per-key distinct-count estimate over `valueCol`. */
  def streamingKmvDistinct(rows: DataFrame, keyCol: String,
                           valueCol: String, k: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    rows.select(col(keyCol).cast("string"),
        graft.operators.Dedup.portableHash64(col(valueCol).cast("string")))
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new KmvProcessor(k), TimeMode.None(),
        OutputMode.Update())(org.apache.spark.sql.Encoders.product[KmvOut])
      .toDF()
  }

  case class CmOut(cm_j: Int, cm_b: Long, cnt: Long)

  /** Streaming Count–Min — the streaming twin of
    * `Sketch.countMinTable`: CM counters are ADDITIVE, so each (row j,
    * bucket) cell is independent keyed state incremented by its batch
    * contribution; the streaming table after any prefix of batches
    * EQUALS the batch table over the same rows, cell for cell (the
    * spec asserts it). State is one long per touched cell — ≤ d·w
    * total regardless of stream length; a consumer estimates any
    * value's frequency as min over its d cells, exactly as in batch.
    */
  class CmCellProcessor
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long), CmOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode => TM, _}
    @transient private var st: ValueState[Long] = _

    override def init(outputMode: OM, timeMode: TM): Unit =
      st = getHandle.getValueState[Long]("cm",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, Long)],
                                 timerValues: TimerValues): Iterator[CmOut] = {
      val cur = if (st.exists()) st.get() else 0L
      val merged = cur + rows.size
      st.update(merged)
      Iterator.single(CmOut((key >> 32).toInt, key & 0xFFFFFFFFL, merged))
    }
  }

  /** Streaming CM counter table over `valueCol`; emits each updated
    * cell per batch in Update mode. `w` must fit in 32 bits (cell key
    * packs (j, bucket) into one long).
    */
  def streamingCountMin(rows: DataFrame, valueCol: String, d: Int,
                        w: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    rows
      .select(posexplode(
        graft.operators.Sketch.cmBuckets(col(valueCol), d, w)))
      .toDF("j", "b")
      .select((col("j").cast("long") * lit(1L << 32) + col("b")).as("cell"),
        lit(1L).as("one"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new CmCellProcessor, TimeMode.None(),
        OutputMode.Update())(org.apache.spark.sql.Encoders.product[CmOut])
      .toDF()
  }

  /** Streaming equi-width histogram over fixed [lo, hi) — the
    * streaming twin of `Sketch.histQuantiles`' bin table (the batch op
    * derives [lo, hi] from the data; a stream can't, so the caller
    * fixes the range — the standard streaming-histogram contract). Bin
    * counts are additive cells exactly like CM counters, so the SAME
    * CmCellProcessor maintains them (cell key = bin), and the
    * streaming table after any batch prefix equals the batch bin
    * counts over the same rows. A consumer interpolates quantiles from
    * the emitted table precisely as the batch estimator does.
    */
  def streamingHistogram(rows: DataFrame, valueCol: String, lo: Double,
                         hi: Double, bins: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    rows.select(col(valueCol).cast("double").as("x"))
      .where(col("x").isNotNull)
      .select(when(lit(hi) === lit(lo), lit(0L))
        .otherwise(least(greatest(
          floor((col("x") - lit(lo)) / (lit(hi) - lit(lo))
            * lit(bins.toDouble)), lit(0L)),
          lit((bins - 1).toLong)).cast("long")).as("cell"),
        lit(1L).as("one"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new CmCellProcessor, TimeMode.None(),
        OutputMode.Update())(org.apache.spark.sql.Encoders.product[CmOut])
      .toDF().select(col("cm_b").as("bin"), col("cnt"))
  }

  /** Streaming leaderboard: top-k events by value per user, maintained
    * incrementally. Requires the RocksDB state store provider (the
    * transformWithState backend).
    */
  def streamingTopK(events: DataFrame, k: Int): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.select(col("user_id").cast("long"), col("event_id").cast("long"),
        col("value").cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new TopKProcessor(k), TimeMode.None(),
        OutputMode.Update())(org.apache.spark.sql.Encoders.product[TopKOut])
      .toDF()
  }

  // ---- streaming incremental dedup (Dedup.crossCorpusDupes twin) ----

  case class BandedDoc(band: Int, band_key: Int, id: Long,
                       shs: Array[Long], sig: Array[Long])
  case class CrossDupOut(id_new: Long, id_old: Long, jaccard: Double)

  /** The keyed band index of `streamingCrossDedup`: state per
    * (band, band-hash) bucket is the list of docs whose signature
    * landed there — the old-corpus posting list. Each arriving doc is
    * verified (exact jaccard over the stored shingle sets) against its
    * bucket's residents, then appended.
    *
    * Exactly-once pair emission without any cross-key dedup state: a
    * colliding pair shares EVERY band where its sig slices agree, so
    * each bucket recomputes the pair's minimum colliding band from the
    * two signatures and only the bucket whose band index equals it
    * emits. (A murmur band-hash collision without sig equality routes
    * the pair to no emitter — candidates here are sig-slice-exact,
    * STRICTER than the batch band join's hash equality; the difference
    * is a 32-bit-collision rarity and the batch verify would have to
    * pass it anyway.)
    */
  class CrossDedupProcessor(threshold: Double, rowsPerBand: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      (Int, Int), BandedDoc, CrossDupOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode => TM, _}
    @transient private var docs: ListState[BandedDoc] = _

    override def init(outputMode: OM, timeMode: TM): Unit =
      docs = getHandle.getListState[BandedDoc]("docs",
        org.apache.spark.sql.Encoders.product[BandedDoc], TTLConfig.NONE)

    // shs arrays arrive sorted (sort_array upstream): two-pointer co-count
    private def jaccard(a: Array[Long], b: Array[Long]): Double = {
      var i = 0; var j = 0; var co = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { co += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      co.toDouble / (a.length + b.length - co)
    }

    private def minCollidingBand(s1: Array[Long], s2: Array[Long]): Int = {
      val nBands = s1.length / rowsPerBand
      var b = 0
      while (b < nBands) {
        var r = 0; var eq = true
        while (r < rowsPerBand && eq) {
          if (s1(b * rowsPerBand + r) != s2(b * rowsPerBand + r)) eq = false
          r += 1
        }
        if (eq) return b
        b += 1
      }
      -1
    }

    override def handleInputRows(key: (Int, Int),
                                 rows: Iterator[BandedDoc],
                                 timerValues: TimerValues): Iterator[CrossDupOut] = {
      val out = scala.collection.mutable.ArrayBuffer[CrossDupOut]()
      // WITHIN one micro-batch, shuffle delivery order is arbitrary —
      // process the batch's rows in id order so the emitted
      // (id_new, id_old) orientation is deterministic: across batches
      // id_old is the earlier ARRIVAL (state resident); within a batch
      // the lower id stands in as the earlier arrival (monotone ingest
      // ids, the incremental-crawl contract). Buffer is batch×bucket
      // sized, not stream-sized.
      // Read the bucket's posting list ONCE per micro-batch (a state
      // ListState scan deserializes every resident; re-scanning per
      // input row would pay rows×residents reads on a hot bucket) and
      // verify against the local buffer — same-batch earlier rows are
      // in the buffer, so within-batch pairs still emit.
      val resident = scala.collection.mutable.ArrayBuffer[BandedDoc]()
      val it0 = docs.get()
      while (it0.hasNext) resident += it0.next()
      rows.toSeq.sortBy(_.id).foreach { d =>
        var i = 0
        var replay = false
        while (i < resident.length) {
          val e = resident(i)
          if (e.id == d.id) replay = true
          else if (minCollidingBand(d.sig, e.sig) == d.band) {
            val j = jaccard(d.shs, e.shs)
            if (j >= threshold)
              out += CrossDupOut(d.id, e.id,
                BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP)
                  .toDouble)
          }
          i += 1
        }
        // idempotent per id: a replayed/duplicate doc (source retry,
        // reprocessing) must not accumulate extra state residents —
        // each copy would re-emit the same pair for every later arrival
        if (!replay) { resident += d; docs.appendValue(d) }
      }
      out.iterator
    }
  }

  /** Streaming benchmark-decontamination gate — the ingest twin of
    * `Dedup.crossContainment`: every arriving doc is checked for
    * CONTAINING an eval/benchmark doc (containment = |S_eval ∩ S_doc|
    * / |S_eval| ≥ threshold) and emits (id, id_eval, containment) for
    * each hit. The eval set is benchmark-sized by contract, so its
    * shingle sets collect once on the driver and ship as ONE literal —
    * the check is a stateless map-only projection per micro-batch: no
    * state store, no watermark, no shuffle of the stream; exactly the
    * shape an ingest pipeline wants for a contamination kill-switch.
    * Shingle hashes match the batch pipeline (same word shingles, same
    * xxhash64), so per-doc decisions equal crossContainment's
    * (StreamingSpec asserts it).
    */
  def streamingDecontamination(docs: DataFrame, evalDocs: DataFrame,
                               idCol: String, textCol: String,
                               shingleN: Int = 3,
                               threshold: Double = 0.8): DataFrame =
    streamingDecontaminationImpl(docs, evalDocs, idCol, textCol, shingleN,
      threshold, bloomBits = 0, bloomHashes = 0)

  /** [[streamingDecontamination]] with the q256 Bloom fast path: the
    * eval PREFIX shingles (pigeonhole over each sorted distinct set —
    * a ≥τ-containing doc must share at least one) build a literal
    * bitmap, and each arriving doc pays the full eval-set intersection
    * fold ONLY if `exists(shingle hits bloom)`. Clean traffic — the
    * overwhelming majority at ingest — exits after k bit tests per
    * shingle instead of |eval| array intersections. No false negatives
    * by construction, so output ≡ [[streamingDecontamination]]
    * (StreamingSpec asserts it); still stateless, map-only, no
    * watermark, no shuffle.
    */
  def streamingBloomDecontamination(docs: DataFrame, evalDocs: DataFrame,
                                    idCol: String, textCol: String,
                                    shingleN: Int = 3,
                                    threshold: Double = 0.8,
                                    mBits: Int = 1 << 18,
                                    kHashes: Int = 5): DataFrame =
    streamingDecontaminationImpl(docs, evalDocs, idCol, textCol, shingleN,
      threshold, mBits, kHashes)

  private def streamingDecontaminationImpl(docs: DataFrame,
                                           evalDocs: DataFrame,
                                           idCol: String, textCol: String,
                                           shingleN: Int, threshold: Double,
                                           bloomBits: Int,
                                           bloomHashes: Int): DataFrame = {
    def shsOf(text: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      sort_array(array_distinct(transform(
        graft.functions.TextFns.wordShingles(text, shingleN),
        s => xxhash64(s))))
    // id stays its ORIGINAL type (long, string, UUID text, …) — the
    // batch twin crossContainment is id-type-agnostic and a forced
    // cast('long') would null-corrupt string ids at collect time
    val evalRows = evalDocs
      .select(col(idCol), shsOf(col(textCol))).collect()
    if (evalRows.isEmpty) {
      // empty eval set hits nothing; keep the output schema
      val evalIdType = evalDocs.schema(idCol).dataType
      return docs.select(col(idCol),
        lit(null).cast(evalIdType).as("id_eval"),
        lit(null).cast("double").as("containment"))
        .filter(lit(false))
    }
    val evLit = array(evalRows.toSeq.map { r =>
      struct(lit(r.get(0)).as("_1"), typedlit(r.getSeq[Long](1)).as("_2"))
    }: _*)
    // filter on the RAW ratio, round only in the output projection —
    // same discipline as the batch gate (a rounded filter would admit
    // true containment in [τ − 5e-7, τ))
    val hits = filter(
      transform(evLit, e => struct(
        e.getField("_1").as("id_eval"),
        (size(array_intersect(e.getField("_2"), col("__shs")))
          .cast("double") / size(e.getField("_2"))).as("c"))),
      h => h.getField("c") >= threshold)
    val shingled = docs.withColumn("__shs", shsOf(col(textCol)))
    val gated =
      if (bloomBits <= 0) shingled
      else {
        // prefix per eval set (sorted distinct order — pigeonhole is
        // order-agnostic): the first sz − ⌈τ·sz⌉ + 1 shingles
        val prefixes = evalRows.toSeq.flatMap { r =>
          val shs = r.getSeq[Long](1)
          val plen = (shs.size - math.ceil(shs.size * threshold) + 1).toInt
          shs.take(math.max(plen, 1))
        }
        val spark = docs.sparkSession
        import spark.implicits._
        val bitmap = graft.operators.Bloom.bitmapFor(
          prefixes.toDF("k"), "k", bloomBits, bloomHashes)
        shingled.filter(exists(col("__shs"),
          sh => graft.operators.Bloom.probe(sh, bitmap, bloomBits, bloomHashes)))
      }
    gated
      .withColumn("__hit", explode(hits))
      .select(col(idCol), col("__hit.id_eval").as("id_eval"),
        round(col("__hit.c"), 6).as("containment"))
  }

  /** Streaming incremental cross-corpus dedup — the streaming twin of
    * `Dedup.crossCorpusDupes`: every arriving doc is checked for
    * near-duplication (exact jaccard ≥ threshold) against ALL docs
    * seen before it, with the accumulated corpus held as a keyed
    * minhash BAND INDEX in transformWithState state (RocksDB-backed)
    * instead of a re-scanned static side. Emits (id_new, id_old,
    * jaccard), id_old the earlier arrival.
    *
    * Signature math is the SAME Column expressions as the batch
    * pipeline (xxhash64 word shingles; per-permutation
    * pmod(h·aᵢ+bᵢ, 2⁶³−1) minima — array_min per row ≡ the batch
    * groupBy-min over exploded rows; murmur band hashes over sig
    * slices), so after ANY prefix of batches the emitted pair set
    * equals `minhashVerifiedPairs` over the same docs (StreamingSpec
    * asserts it) — the banded-recall caveat is likewise identical.
    *
    * State shape: each doc's (shs, sig) is stored once per band
    * (k/rowsPerBand copies) — the denormalized posting-list layout; at
    * index scale, store doc payloads once in a side table and keep ids
    * in the band lists. Verification cost per arrival is bounded by
    * its buckets' occupancy, never the corpus.
    */
  def streamingCrossDedup(docs: DataFrame, idCol: String, textCol: String,
                          shingleN: Int = 3, k: Int = 32,
                          rowsPerBand: Int = 2,
                          threshold: Double = 0.8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val shs = sort_array(array_distinct(transform(
      graft.functions.TextFns.wordShingles(col(textCol), shingleN),
      s => xxhash64(s))))
    val sigEls = (0 until k).map { i =>
      val a = 0x9E3779B97F4A7C15L * (2L * i + 1L)
      val b = 0xC2B2AE3D27D4EB4FL * (i + 1L)
      array_min(transform(col("shs"),
        h => pmod(h * lit(a) + lit(b), lit(Long.MaxValue))))
    }
    val nBands = k / rowsPerBand
    docs
      .select(col(idCol).cast("long").as("id"), shs.as("shs"))
      .withColumn("sig", array(sigEls: _*))
      .select(posexplode(array((0 until nBands).map(b =>
        hash(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*))
        .as(Seq("band", "band_key")),
        col("id"), col("shs"), col("sig"))
      .as[BandedDoc]
      .groupByKey(d => (d.band, d.band_key))
      .transformWithState(new CrossDedupProcessor(threshold, rowsPerBand),
        TimeMode.None(), OutputMode.Append())(
        org.apache.spark.sql.Encoders.product[CrossDupOut])
      .toDF()
  }

  /** Streaming curation funnel — the ingest twin of the q200 batch
    * flagship: NFC normalize → language gate → model quality gate →
    * exact-dedup keep-first → deterministic ingest cap, emitting the
    * CURATED STREAM itself (the real product of a curation pipeline).
    *
    * Stage shapes:
    *  - NFC + language gate: map-only projections/filters.
    *  - quality gate: `Curate.hashedLinearScore`'s weights are a PURE
    *    hash function of the feature bucket, so the per-doc score
    *    collapses to one `aggregate` fold over the token array — no
    *    weight join, no aggregation, map-only; integer units make the
    *    stream/batch decision bit-identical.
    *  - dedup: `dropDuplicatesWithinWatermark` on the md5 fingerprint
    *    of the NORMALIZED text — keep-first-arrival with state bounded
    *    by the watermark horizon (the production contract: an ingest
    *    gate dedups against the recent horizon; whole-history dedup is
    *    the batch pipeline's job, q27/q185).
    *  - cap: a fixed portable-hash admission threshold (keep ≈
    *    `keepFrac` of surviving ids) — the ingest-time stand-in for
    *    the batch funnel's budget selection, deterministic per id so
    *    replays admit the same docs.
    */
  /** Streaming deployment of the TRAINED classifier
    * (Curate.trainTextClassifier): score every arriving doc with a
    * weight vector learned offline — the train-batch / serve-stream
    * split every fastText-style filter runs in production. The weights
    * ship as ONE `buckets`-long array literal and the margin collapses
    * to a single `aggregate` fold over the token array (each token
    * occurrence adds its bucket's weight — exactly the batch
    * Σ cnt·w_b, since the fold visits every occurrence): map-only,
    * stateless, no shuffle, no state store — per-row cost at any
    * stream rate, and z_units/pred are bit-identical to the batch
    * scorer's by integer arithmetic.
    */
  def streamingClassifierScore(docs: DataFrame, idCol: String,
                               textCol: String,
                               weights: Array[Long]): DataFrame = {
    require(weights.nonEmpty, "empty weight vector")
    val U = 1000000L
    val wLit = typedlit(weights.toSeq)
    val z = aggregate(
      graft.functions.TextFns.tokens(col(textCol)), lit(0L),
      (acc, t) => acc + element_at(wLit,
        (pmod(graft.operators.Dedup.portableHash64(t),
          lit(weights.length.toLong)) + 1).cast("int")))
    // null text ⇒ no tokens ⇒ z = 0, matching the batch scorer's
    // left-join + coalesce for feature-less docs
    docs.select(col("*"), coalesce(z, lit(0L)).as("z_units"))
      .withColumn("margin",
        round(col("z_units").cast("double") / lit(U.toDouble), 6))
      .withColumn("pred", col("z_units") > 0)
      .drop(textCol)
  }

  def streamingCurationFunnel(docs: DataFrame, idCol: String,
                              sourceCol: String, langCol: String,
                              textCol: String, tsCol: String,
                              buckets: Int = 4096,
                              keepFrac: Double = 1.0,
                              watermarkDelay: String = "10 minutes",
                              lang: String = "en"): DataFrame = {
    require(keepFrac > 0d && keepFrac <= 1d, s"keepFrac $keepFrac not in (0,1]")
    val nfcText = graft.functions.TextFns.nfc(col(textCol))
    val units = aggregate(
      graft.functions.TextFns.tokens(col("__text")), lit(0L),
      (acc, t) => acc + graft.operators.Curate.hashedWeight(pmod(
        graft.operators.Dedup.portableHash64(t), lit(buckets.toLong))))
    val M = 1L << 30
    val admit = pmod(graft.operators.Dedup.portableHash64(
      col(idCol).cast("string")), lit(M)) < lit((keepFrac * M).toLong)
    docs
      .withColumn("__text", nfcText)
      .filter(col(langCol) === lang)
      .withColumn("score_units", units)
      .filter(col("score_units") > 0)
      .withColumn("__fp", md5(col("__text")))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .filter(admit)
      .select(col(idCol), col(sourceCol), col(tsCol),
        col("score_units"), col("__fp").as("fingerprint"))
  }

  /** Streaming drift monitor — the ingest-time twin of
    * `Drift.categoricalDrift`: per event-time tumbling window, the
    * JS / PSI / TVD of the window's categorical distribution against a
    * FIXED reference distribution (the baseline corpus' shares,
    * dictionary-sized by contract — languages, sources, length
    * buckets). This is the textbook monitoring shape: PSI is
    * classically computed over the reference's fixed bins, so the
    * monitor tracks exactly the reference support plus one OTHER
    * bucket for never-seen categories (q-only mass: it contributes
    * the q·ln2/2 JS term and its TVD share; PSI, per its fixed-bin
    * definition, sums only reference bins the window populated).
    *
    * Scale shape: the reference unrolls into one `sum(when(...))`
    * column per category — a SINGLE watermarked streaming aggregation
    * (map-side combined, state = one row of longs per open window),
    * then the metrics are a stateless projection. No chained stateful
    * operators, no per-event state, nothing collected.
    */
  /** Streaming EMBEDDING-space drift monitor — the ingest twin of
    * Drift.embeddingDriftMatrix against a FIXED reference centroid
    * (integer units, e.g. last month's per-corpus mean): per
    * event-time tumbling window, the exact squared distance between
    * the window's floorDiv mean vector and the reference. One
    * watermarked aggregation with d explicit long-sum columns — state
    * is one row of longs per open window (the streamingDriftMonitor
    * shape; no per-event state, nothing collected) — and the
    * mean/distance math is the stateless projection, exact by the
    * same integer discipline as the batch matrix, so a drifting crawl
    * alarms with a bit-reproducible number.
    */
  def streamingEmbeddingDrift(events: DataFrame, tsCol: String,
                              vecCol: String, reference: Array[Long],
                              windowDur: String,
                              watermarkDelay: String): DataFrame = {
    require(reference.nonEmpty, "empty reference centroid")
    val d = reference.length
    val u = graft.operators.Similarity.quantizeUnits(col(vecCol))
    val sums = (0 until d).map(i =>
      sum(element_at(col("__u"), i + 1)).as(s"__s$i"))
    val agg = events
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === d)
      .withColumn("__u", u)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur))
      .agg(count(lit(1)).as("__n"), sums: _*)
    // exact floorDiv mean then exact squared distance — integer-valued
    // doubles < 2^53 throughout, cast back to long losslessly
    def fd(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      ((s - pmod(s, col("__n"))) / col("__n")).cast("long")
    val dist2 = (0 until d).map { i =>
      val diff = fd(col(s"__s$i")) - lit(reference(i))
      diff * diff
    }.reduce(_ + _)
    agg.select(col("window.start").as("window_start"),
      col("__n").as("n"), dist2.as("dist2_units"))
  }

  def streamingDriftMonitor(events: DataFrame, tsCol: String,
                            catCol: String,
                            reference: Seq[(String, Double)],
                            windowDur: String,
                            watermarkDelay: String): DataFrame = {
    require(reference.nonEmpty, "reference distribution is empty")
    require(reference.map(_._1).distinct.size == reference.size,
      "duplicate category names in reference (each bin counts every " +
        "matching event — the q-shares would sum above 1)")
    require(reference.forall(_._2 > 0d),
      "reference probabilities must be positive (drop zero-mass bins)")
    require(math.abs(reference.map(_._2).sum - 1d) < 1e-9,
      "reference probabilities must sum to 1")
    val cats = reference.map(_._1)
    val counts = reference.zipWithIndex.map { case ((c, _), i) =>
      sum(when(col(catCol) === c, 1L).otherwise(0L)).as(s"__c$i")
    }
    val otherC = sum(when(!col(catCol).isInCollection(cats), 1L)
      .otherwise(0L)).as("__oth")
    val agg = events
      .filter(col(catCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur))
      .agg(counts.head, (counts.tail :+ otherC :+
        count(lit(1)).as("__n")): _*)
    val total = col("__n").cast("double")
    def q(i: Int) = col(s"__c$i").cast("double") / total
    val qOth = col("__oth").cast("double") / total
    val jsTerms = reference.zipWithIndex.map { case ((_, p), i) =>
      val m = (lit(p) + q(i)) / 2d
      lit(p) * log(lit(p) / m) / 2d +
        when(col(s"__c$i") > 0, q(i) * log(q(i) / m) / 2d).otherwise(0d)
    } :+ when(col("__oth") > 0, qOth * log(lit(2d)) / 2d).otherwise(0d)
    val psiTerms = reference.zipWithIndex.map { case ((_, p), i) =>
      when(col(s"__c$i") > 0, (lit(p) - q(i)) * log(lit(p) / q(i)))
        .otherwise(0d)
    }
    val tvdTerms = reference.zipWithIndex.map { case ((_, p), i) =>
      abs(lit(p) - q(i))
    } :+ qOth
    agg.select(col("window.start").as("window_start"),
      col("window.end").as("window_end"),
      round(jsTerms.reduce(_ + _), 6).as("js_nats"),
      round(psiTerms.reduce(_ + _), 6).as("psi"),
      round(tvdTerms.reduce(_ + _) / 2d, 6).as("tvd"),
      col("__n").as("n_events"))
  }

  /** Per-window finalized (src, key, count) frame — the shared first
    * stage of the pairwise drift/KS twins: one watermarked windowed
    * aggregation, then a CHAINED second aggregation (Spark's multiple-
    * stateful-operators support) packs each finalized window's counts
    * into ONE dictionary-sized list row. Everything downstream is a
    * stateless projection over that list — no stream-stream joins, no
    * third stateful operator, nothing corpus-keyed.
    */
  private def packedWindowCounts(events: DataFrame, tsCol: String,
                                 keyCol: String, srcCol: String,
                                 windowDur: String,
                                 watermarkDelay: String): DataFrame =
    events
      .filter(col(keyCol).isNotNull && col(srcCol).isNotNull)
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur),
        col(srcCol).as("src"), col(keyCol).as("k"))
      .agg(count(lit(1)).as("c"))
      .groupBy(window(window_time(col("window")), windowDur).as("window"))
      .agg(collect_list(struct(col("src"), col("k"), col("c"))).as("L"))

  /** All unordered source pairs of a packed window row, exploded. */
  private def explodePairs(packed: DataFrame): DataFrame = {
    val srcs = array_sort(array_distinct(
      transform(col("L"), x => x.getField("src"))))
    packed.withColumn("__p", explode(filter(
        flatten(transform(srcs, a => transform(srcs, b =>
          struct(a.as("sa"), b.as("sb"))))),
        p => p.getField("sa") < p.getField("sb"))))
      .select(col("window"), col("L"),
        col("__p.sa").as("sa"), col("__p.sb").as("sb"))
  }

  private def countOf(s: org.apache.spark.sql.Column,
                      k: org.apache.spark.sql.Column)
  : org.apache.spark.sql.Column =
    aggregate(filter(col("L"), x =>
        x.getField("src") === s && x.getField("k") === k),
      lit(0L), (acc, x) => acc + x.getField("c"))

  private def totalOf(s: org.apache.spark.sql.Column)
  : org.apache.spark.sql.Column =
    aggregate(filter(col("L"), x => x.getField("src") === s),
      lit(0L), (acc, x) => acc + x.getField("c")).cast("double")

  /** Streaming twin of `Drift.categoricalDriftMatrix`: per event-time
    * window, the pairwise JS/PSI/TVD matrix across ALL sources. Two
    * chained watermarked aggregations collapse the stream to one
    * dictionary-sized count list per finalized window; the matrix is a
    * higher-order-function fold over that list (k² pairs × categories,
    * all vocabulary-bounded — the stream itself is never re-keyed or
    * self-joined). Emits in append mode when the window finalizes;
    * per-window output equals the batch matrix over the same rows
    * (StreamingSpec asserts it).
    */
  def streamingDriftMatrix(events: DataFrame, tsCol: String,
                           catCol: String, srcCol: String,
                           windowDur: String,
                           watermarkDelay: String): DataFrame = {
    val pairs = explodePairs(packedWindowCounts(
      events, tsCol, catCol, srcCol, windowDur, watermarkDelay))
    val na = totalOf(col("sa")); val nb = totalOf(col("sb"))
    val cats = array_distinct(transform(filter(col("L"), x =>
        x.getField("src") === col("sa") ||
        x.getField("src") === col("sb")),
      x => x.getField("k")))
    def p(ct: org.apache.spark.sql.Column) =
      countOf(col("sa"), ct).cast("double") / na
    def q(ct: org.apache.spark.sql.Column) =
      countOf(col("sb"), ct).cast("double") / nb
    // per-category accumulation ≡ the batch shared-sum + only-mass
    // split: a category present on one side only contributes its
    // whole p·ln2/2 (JS) and |p| (TVD) terms; PSI stays shared-only
    val js = aggregate(cats, lit(0d), (acc, ct) => {
      val m = (p(ct) + q(ct)) / 2d
      acc + when(countOf(col("sa"), ct) > 0 && countOf(col("sb"), ct) > 0,
          p(ct) * log(p(ct) / m) / 2d + q(ct) * log(q(ct) / m) / 2d)
        .when(countOf(col("sa"), ct) > 0, p(ct) * lit(math.log(2)) / 2d)
        .otherwise(q(ct) * lit(math.log(2)) / 2d)
    })
    val psi = aggregate(cats, lit(0d), (acc, ct) =>
      acc + when(countOf(col("sa"), ct) > 0 && countOf(col("sb"), ct) > 0,
        (p(ct) - q(ct)) * log(p(ct) / q(ct))).otherwise(lit(0d)))
    val tvd = aggregate(cats, lit(0d), (acc, ct) =>
      acc + abs(p(ct) - q(ct))) / 2d
    val nShared = size(filter(cats, ct =>
      countOf(col("sa"), ct) > 0 && countOf(col("sb"), ct) > 0))
    pairs.select(col("window.start").as("window_start"),
      col("window.end").as("window_end"),
      col("sa").as("src_a"), col("sb").as("src_b"),
      round(js, 6).as("js_nats"), round(psi, 6).as("psi"),
      round(tvd, 6).as("tvd"), nShared.cast("long").as("n_shared"))
  }

  /** Streaming twin of `Drift.ksMatrix`: per event-time window, the
    * pairwise two-sample KS statistic across ALL sources. Same packed
    * shape as [[streamingDriftMatrix]]; per pair, one ordered fold
    * over the union value grid carries both running ECDFs and the sup
    * gap. Pair-local grids are equivalent to the batch op's global
    * grid — a grid point where neither side has mass moves neither F.
    */
  def streamingKsMatrix(events: DataFrame, tsCol: String,
                        valCol: String, srcCol: String,
                        windowDur: String,
                        watermarkDelay: String): DataFrame = {
    val pairs = explodePairs(packedWindowCounts(
      events, tsCol, valCol, srcCol, windowDur, watermarkDelay))
    val na = totalOf(col("sa")); val nb = totalOf(col("sb"))
    val grid = array_sort(array_distinct(transform(filter(col("L"), x =>
        x.getField("src") === col("sa") ||
        x.getField("src") === col("sb")),
      x => x.getField("k"))))
    val zero = struct(lit(0L).as("ca"), lit(0L).as("cb"), lit(0d).as("d"))
    val walk = aggregate(grid, zero, (acc, v) => {
      val ca2 = acc.getField("ca") + countOf(col("sa"), v)
      val cb2 = acc.getField("cb") + countOf(col("sb"), v)
      struct(ca2.as("ca"), cb2.as("cb"),
        greatest(acc.getField("d"),
          abs(ca2.cast("double") / na - cb2.cast("double") / nb)).as("d"))
    })
    pairs.select(col("window.start").as("window_start"),
      col("window.end").as("window_end"),
      col("sa").as("src_a"), col("sb").as("src_b"),
      round(walk.getField("d"), 6).as("ks_d"),
      na.cast("long").as("n_a"), nb.cast("long").as("n_b"))
  }

  // ---- streaming ANN serve (Similarity.ivfPqSearchWith twin) ----------

  case class AnnEntry(dist: Double, id: Long)
  case class AnnTopState(entries: List[AnnEntry])
  case class AnnServeOut(query_id: Long, rank: Int, neighbor_id: Long,
                         approx_dist: Double)

  /** Per-query nearest-k maintenance: state is the current k SMALLEST
    * (dist, id) pairs (ascending, ties to the lowest id — the batch
    * window's exact order), merged against each batch's candidates and
    * re-emitted in Update mode. O(k) state per query. Distances stay
    * UNROUNDED through ordering (rounding first could flip a tie the
    * batch side breaks on the exact value); display rounding happens in
    * the projection after the processor.
    */
  class AnnTopKProcessor(k: Int)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, (Long, Long, Double), AnnServeOut] {
    import org.apache.spark.sql.streaming.{OutputMode => OM, TimeMode => TM, _}
    @transient private var st: ValueState[AnnTopState] = _

    override def init(outputMode: OM, timeMode: TM): Unit =
      st = getHandle.getValueState[AnnTopState]("anntopk",
        org.apache.spark.sql.Encoders.product[AnnTopState], TTLConfig.NONE)

    override def handleInputRows(key: Long,
                                 rows: Iterator[(Long, Long, Double)],
                                 timerValues: TimerValues): Iterator[AnnServeOut] = {
      val cur = if (st.exists()) st.get() else AnnTopState(Nil)
      val merged = (cur.entries ++ rows.map(r => AnnEntry(r._3, r._2)))
        .sortBy(e => (e.dist, e.id)).take(k)
      st.update(AnnTopState(merged))
      merged.zipWithIndex.iterator.map { case (e, i) =>
        AnnServeOut(key, i + 1, e.id, e.dist)
      }
    }
  }

  /** STREAMING IVF-PQ search (the serve half of the FAISS split as an
    * online service): a STREAM of query vectors against the STATIC
    * trained index — `Similarity.pqIndexRowsWith` codes (built in this
    * job or read as a table) + artifact/literal models. The candidate
    * stage is the exact batch plan (`Similarity.ivfPqCandidatesWith`:
    * map-only routing under literal centroids, one static-stream
    * equi-join on cid, codegen'd ADC); per-query top-k is a keyed
    * `transformWithState` whose state is O(k) per query. Because the
    * static-stream join resolves each micro-batch completely, a query's
    * FIRST emission is already its final top-k — StreamingSpec pins
    * bit-equality against `ivfPqSearchWith` on the same corpus.
    *
    * Scale shape: identical to the batch serve — the index never
    * shuffles (the tiny probe side broadcasts), models ride as
    * literals, and state grows with DISTINCT queries × k, not with the
    * corpus.
    */
  def streamingAnnServe(queries: DataFrame, index: DataFrame,
                        idCol: String, vecCol: String, qIdCol: String,
                        k: Int, cent: Array[Array[Long]],
                        cb: Seq[(Int, Seq[Double])], nprobe: Int,
                        m: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    graft.operators.Similarity.ivfPqCandidatesWith(index, queries,
        idCol, vecCol, qIdCol, cent, cb, nprobe, m)
      .select(col("query_id").cast("long"), col(idCol).cast("long"),
        col("__d").cast("double"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new AnnTopKProcessor(k), TimeMode.None(),
        OutputMode.Update())(org.apache.spark.sql.Encoders.product[AnnServeOut])
      .toDF()
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), round(col("approx_dist"), 6).as("approx_dist"))
  }

  /** Streaming RELEASE GATE — the ingest-time twin of the batch q264
    * artifact: per event-time tumbling window, the four hygiene checks
    * a dataset release runs, each as (check, n_flagged, worst, pass):
    *
    *  - `ngram_contamination`: docs whose word-shingle containment vs
    *    the STATIC eval suite reaches `containTau` (the q256/
    *    streamingDecontamination machinery, folded per doc to its max
    *    containment — a stateless literal-array fold);
    *  - `semantic_leakage`: docs whose embedding sits at cosine ≥
    *    `cosineTau` to some eval vector, banded-prefiltered by the
    *    64-bit/4×16 signature (eval bands + vectors ride as ONE
    *    literal; `arrays_overlap` kills non-candidates before any dot
    *    product — same recall contract as the batch banding);
    *  - `source_drift`: JS divergence of the window's `sourceCol`
    *    distribution against a FIXED reference (the
    *    streamingDriftMonitor formula, inlined);
    *  - `quality_funnel`: lang + hashed-linear-quality rejection rate
    *    (the streamingCurationFunnel gates; the batch gate's dedup
    *    stage is deliberately absent — a second stateful operator —
    *    so the streaming funnel is the lang∧quality subset).
    *
    * Scale shape: every audit is a STATELESS per-doc projection (eval
    * suite and reference are literals — benchmark-suite-sized by
    * contract), so the whole gate is ONE watermarked windowed
    * aggregation; state per open window is one row of counters. The
    * 4-row explosion is a stateless projection of that row.
    */
  def streamingReleaseGate(docs: DataFrame, idCol: String,
                           sourceCol: String, langCol: String,
                           textCol: String, vecCol: String, tsCol: String,
                           evalDocs: DataFrame, evalVecs: DataFrame,
                           sourceReference: Seq[(String, Double)],
                           shingleN: Int = 3, containTau: Double = 0.7,
                           cosineTau: Double = 0.9,
                           jsThreshold: Double = 0.5,
                           rejectThreshold: Double = 0.95,
                           buckets: Int = 4096, lang: String = "en",
                           windowDur: String = "10 minutes",
                           watermarkDelay: String = "10 minutes"): DataFrame = {
    import graft.operators.{Similarity, Dedup, Curate}
    require(sourceReference.nonEmpty && sourceReference.forall(_._2 > 0d) &&
      math.abs(sourceReference.map(_._2).sum - 1d) < 1e-9,
      "sourceReference must be a positive distribution summing to 1")
    // ---- per-doc containment vs the static eval TEXT suite ----------
    def shsOf(text: org.apache.spark.sql.Column) =
      sort_array(array_distinct(transform(
        graft.functions.TextFns.wordShingles(text, shingleN),
        s => xxhash64(s))))
    val evalTextRows = evalDocs.select(shsOf(col(textCol))).collect()
      .map(_.getSeq[Long](0)).filter(_.nonEmpty).toSeq
    val contCol: org.apache.spark.sql.Column =
      if (evalTextRows.isEmpty) lit(0.0)
      else {
        val evLit = array(evalTextRows.map(shs =>
          typedlit(shs).as("s")): _*)
        coalesce(array_max(transform(evLit, e =>
          size(array_intersect(e, col("__shs"))).cast("double") / size(e))),
          lit(0.0))
      }
    // ---- per-doc semantic leakage vs the static eval VECTOR suite ---
    // eval side collected once: (vec as double seq, norm, 4 band vals)
    val evalVecRows = evalVecs
      .select(col(vecCol),
        Similarity.lshSignature(col(vecCol), 64).as("__sig"))
      .collect().map { r =>
        val v = r.getSeq[Any](0).map {
          case f: java.lang.Float => f.toDouble
          case d: java.lang.Double => d.doubleValue
          case n: java.lang.Number => n.doubleValue
        }
        val sig = r.getLong(1)
        val bands = (0 until 4).map(b => (sig >> (b * 16)) & 0xFFFFL)
        (v, math.sqrt(v.map(x => x * x).sum), bands)
      }.filter(_._2 > 0d).toSeq
    val (leakN, leakMax) =
      if (evalVecRows.isEmpty) (lit(0L), lit(0.0))
      else {
        val evLit = array(evalVecRows.map { case (v, n, b) =>
          struct(typedlit(v).as("v"), lit(n).as("n"), typedlit(b).as("b"))
        }: _*)
        val myBands = array((0 until 4).map(b =>
          shiftright(col("__vsig"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)
        val cand = filter(evLit, e =>
          arrays_overlap(e.getField("b"), myBands))
        val scored = filter(
          transform(cand, e =>
            Similarity.dot(e.getField("v"), col(vecCol)) /
              (e.getField("n") * col("__vnorm"))),
          c => c >= cosineTau)
        val guard = col(vecCol).isNotNull && col("__vnorm") > 0
        (when(guard, size(scored).cast("long")).otherwise(0L),
          when(guard, coalesce(array_max(scored), lit(0.0))).otherwise(0.0))
      }
    // ---- per-doc funnel rejection (lang + quality gates) ------------
    val units = aggregate(
      graft.functions.TextFns.tokens(col("__text")), lit(0L),
      (acc, t) => acc + Curate.hashedWeight(pmod(
        Dedup.portableHash64(t), lit(buckets.toLong))))
    // ---- one windowed aggregation over the stateless audit columns --
    val cats = sourceReference.map(_._1)
    val catCounts = sourceReference.zipWithIndex.map { case ((c, _), i) =>
      sum(when(col(sourceCol) === c, 1L).otherwise(0L)).as(s"__c$i")
    }
    val staged = docs
      .withColumn("__text", graft.functions.TextFns.nfc(col(textCol)))
      // shingle RAW text — the eval suite above shingles raw textCol and
      // the batch q264 twin (crossContainmentBloom) shingles raw on both
      // sides; NFC-ing only this side let composed-vs-decomposed Unicode
      // variants slip past the gate (ADVICE r13). __text stays NFC for
      // the funnel branch, matching batch q264's d0.
      .withColumn("__shs", shsOf(col(textCol)))
      .withColumn("__cont", contCol)
      .withColumn("__vsig", Similarity.lshSignature(col(vecCol), 64))
      .withColumn("__vnorm", coalesce(Similarity.norm(col(vecCol)), lit(0.0)))
      .withColumn("__leak_n", leakN)
      .withColumn("__leak_max", leakMax)
      .withColumn("__rej",
        when(col(langCol) === lang && col("__text").isNotNull && units > 0,
          0L).otherwise(1L))
    val agg = staged
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDur))
      .agg(count(lit(1)).as("__n"),
        (catCounts :+
          sum(when(!col(sourceCol).isInCollection(cats), 1L).otherwise(0L))
            .as("__oth") :+
          sum(when(col("__cont") >= containTau, 1L).otherwise(0L))
            .as("__ncont") :+
          max(col("__cont")).as("__wcont") :+
          sum(when(col("__leak_n") > 0, 1L).otherwise(0L)).as("__nleak") :+
          max(col("__leak_max")).as("__wleak") :+
          sum(col("__rej")).as("__nrej")): _*)
    // JS of the window's source shares vs the reference (the
    // streamingDriftMonitor formula: fixed reference bins + one OTHER)
    val total = col("__n").cast("double")
    val jsTerms = sourceReference.zipWithIndex.map { case ((_, p), i) =>
      val q = col(s"__c$i").cast("double") / total
      val m = (lit(p) + q) / 2d
      lit(p) * log(lit(p) / m) / 2d +
        when(col(s"__c$i") > 0, q * log(q / m) / 2d).otherwise(0d)
    } :+ when(col("__oth") > 0,
      (col("__oth").cast("double") / total) * log(lit(2d)) / 2d).otherwise(0d)
    val js = jsTerms.reduce(_ + _)
    val nCats = (sourceReference.indices.map(i =>
      when(col(s"__c$i") > 0, 1L).otherwise(0L)) :+
      when(col("__oth") > 0, 1L).otherwise(0L)).reduce(_ + _)
    val rate = col("__nrej").cast("double") / total
    val checks = array(
      struct(lit("ngram_contamination").as("check"),
        col("__ncont").as("n_flagged"),
        round(coalesce(col("__wcont"), lit(0.0)), 6).as("worst"),
        (col("__ncont") === 0).as("pass")),
      struct(lit("quality_funnel").as("check"),
        col("__nrej").as("n_flagged"),
        round(rate, 6).as("worst"),
        (rate <= rejectThreshold).as("pass")),
      struct(lit("semantic_leakage").as("check"),
        col("__nleak").as("n_flagged"),
        round(coalesce(col("__wleak"), lit(0.0)), 6).as("worst"),
        (col("__nleak") === 0).as("pass")),
      struct(lit("source_drift").as("check"),
        nCats.as("n_flagged"),
        round(js, 6).as("worst"),
        (js <= jsThreshold).as("pass")))
    agg.select(col("window.start").as("window_start"),
        col("__n").as("n_docs"), explode(checks).as("__chk"))
      .select(col("window_start"), col("n_docs"),
        col("__chk.check").as("check"),
        col("__chk.n_flagged").as("n_flagged"),
        col("__chk.worst").as("worst"),
        col("__chk.pass").as("pass"))
  }
}
