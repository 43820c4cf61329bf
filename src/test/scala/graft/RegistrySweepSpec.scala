package graft

import org.apache.spark.sql.functions.col

/** Correctness-cadence pin (VERDICT r10 #8): every registered query
  * must return AT LEAST ONE ROW at the smallest shipped scale factor.
  *
  * Why rows > 0 and not just "runs": the driver's oracle gate compares
  * row counts, schema, and value hashes — an empty Spark result against
  * an empty DuckDB result passes trivially, verifying NOTHING. A new
  * query whose filter happens to select zero rows at small SF would
  * ship "green" while its semantics went completely unexercised. This
  * sweep makes that a test failure in the same commit that adds the
  * query (ContractSpec already pins that the query has an oracle at
  * all; together they enforce the land-with-oracle-rows cadence).
  *
  * One test, one pass, failures aggregated — a broken query reports
  * alongside every other broken query instead of masking them.
  */
class RegistrySweepSpec extends SparkSpec {

  // This sweep's first run (r11) caught two queries that had compared
  // empty-to-empty at EVERY shipped scale factor below sf0.1 since
  // their introduction: q27_exact_dedup (the corpus has no natural
  // exact dups under sf0.1) and q147_tpch_q22 (the generator gives
  // every customer an order under sf0.1, so Q22's anti-join was
  // structurally empty). Both now synthesize deterministic inputs
  // (cloned docs / a sliced orders side) that the oracle mirrors, so
  // no allowlist is needed — keep it that way.
  test("every registered query returns >= 1 row at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          val n = fn(spark, dir).count()
          if (n < 1) Some(s"$name: 0 rows at $dir (oracle hash-check " +
            "would be vacuous)")
          else None
        } catch {
          case e: Throwable => Some(s"$name: threw ${e.getClass.getSimpleName}: ${
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}")
        }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // VERDICT r11 #8: rows > 0 alone cannot catch a fixture that
  // degenerates to a CONSTANT at every scale factor (it would compare
  // equal-to-equal forever while the operator's scaling semantics go
  // unexercised). For the scale-sensitive families — TPC-H, dedup,
  // drift/decontamination — the full result (count + order-insensitive
  // value hash over string forms) must CHANGE between sf0.001 and
  // sf0.01. Genuinely scale-invariant queries live in the documented
  // allowlist below.
  test("scale-sensitive families: result CHANGES between sf0.001 and sf0.01") {
    import org.apache.spark.sql.functions._
    val families =
      Seq("tpch", "dedup", "minhash", "simhash", "jaccard", "drift",
        "psi", "decontam", "containment", "edit_distance", "novel",
        "snapshot", "contamination", "scurve", "dsir", "ann_recall",
        "bloom", "release")
    val allow: Map[String, String] = Map.empty // none known — keep it so
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => families.exists(n.contains))
      .filterNot(allow.contains)
    def sig(name: String, dir: String): (Long, Long) = {
      val df = SparkEntry.queries(name)(spark, dir)
      val h = df.agg(count(lit(1)),
        bit_xor(xxhash64(df.columns.map(c => col(c).cast("string")): _*)))
        .head()
      (h.getLong(0), if (h.isNullAt(1)) 0L else h.getLong(1))
    }
    val failures = names.flatMap { n =>
      try {
        if (sig(n, "/root/testdata/sf0.001") ==
            sig(n, "/root/testdata/sf0.01"))
          Some(s"$n: identical (count, hash) at sf0.001 and sf0.01 — " +
            "fixture may have degenerated to a scale-constant")
        else None
      } catch {
        case e: Throwable => Some(s"$n: threw ${e.getClass.getSimpleName}")
      }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  // VERDICT r15 #8 / ADVICE r15. Two pins replace the naive
  // "entries ≤ trimKeep − margin" formulation, which is un-assertable:
  // the end-of-sweep entry count PINS AT the trim cap whenever the
  // sweep's cumulative distinct frames exceed it (always, for a
  // 270-query sweep) — r15's "48/48, zero headroom" reading was the
  // clamp, not the demand. The honest demand signals the bench now
  // records are `peak_entries` (cap + max frames any one query adds)
  // and `queries_reg` per-run miss deltas (a run-1 miss = expected
  // cold rebuild after a between-query trim, absorbed by median-of-3;
  // misses in runs 2-3 are structurally impossible from trimming and
  // mark plan-key instability instead).
  test("registry trim is MRU: retained set survives re-touching, " +
    "trimmed frames miss exactly once, trims never count as evictions") {
    import spark.implicits._
    FrameCache.clear()
    val frames = (0 until 12).map { i =>
      FrameCache.persist(
        spark.range(100L + i).toDF("id").groupBy(col("id") % 7)
          .count().withColumnRenamed("(id % 7)", s"k$i"))
    }
    frames.foreach(_.count())
    val (h0, m0, e0, t0) = (FrameCache.stats.hits, FrameCache.stats.misses,
      FrameCache.stats.evictions, FrameCache.stats.trims)
    // re-touch the newest 4 in MRU order — all hits, no rebuild
    frames.takeRight(4).foreach(f => FrameCache.persist(f).count())
    assert(FrameCache.stats.hits - h0 === 4L)
    assert(FrameCache.stats.misses - m0 === 0L)
    // trim to 4: the 8 older frames leave as TRIMS, never as evictions
    FrameCache.trimTo(4, blocking = true)
    assert(FrameCache.stats.trims - t0 === 8L)
    assert(FrameCache.stats.evictions - e0 === 0L)
    // the MRU-4 survive (hits), a trimmed frame misses exactly once
    val (h1, m1) = (FrameCache.stats.hits, FrameCache.stats.misses)
    frames.takeRight(4).foreach(f => FrameCache.persist(f).count())
    assert(FrameCache.stats.hits - h1 === 4L,
      "trim released a frame inside the MRU keep-set")
    assert(FrameCache.stats.misses - m1 === 0L)
    FrameCache.persist(frames.head).count() // trimmed → one rebuild
    assert(FrameCache.stats.misses - m1 === 1L)
    // peak tracking: the high-water mark saw all 12 resident
    assert(FrameCache.stats.peakFrames >= 12L)
    FrameCache.resetPeak()
    assert(FrameCache.stats.peakFrames <= 5L) // current resident only
    FrameCache.clear()
  }

  test("committed bench_full.json carries a clean storage story: zero " +
    "BlockManager-initiated block loss, zero cap evictions") {
    val p = java.nio.file.Paths.get("bench_full.json")
    assume(java.nio.file.Files.exists(p), "no committed bench_full.json")
    val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    def long(k: String): Option[Long] =
      ("\"" + k + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(txt)
        .map(_.group(1).toLong)
    assume(long("trim_keep").nonEmpty,
      "pre-r16 bench format (no trim_keep field) — reseat pending")
    assert(long("block_loss").contains(0L),
      "committed sweep recorded BlockManager-initiated cached-block " +
        "loss — its timings are storage-pressure-biased; re-reseat")
    assert(long("evictions").contains(0L),
      "committed sweep recorded LRU-cap evictions — the thrash " +
        "signature; raise graft.dedup.maxCached or shrink the sweep")
  }
}
