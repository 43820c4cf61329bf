package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Trained-model persistence across sessions (VERDICT r11 #2): k-means
  * centroids, PQ codebooks, and classifier weights memoize per-session
  * only, so a serving job in a NEW session (index-build and
  * query-serve split across jobs — the production shape) would retrain
  * its coarse quantizer and codebooks from scratch. This applies the
  * q210 pair-artifact contract to models: write-once / read-many
  * parquet artifacts, CONTENT-ADDRESSED by (corpus fingerprint,
  * hyperparameters). The reference's analog is the SDS round-trip of
  * any container (`riptable/rt_sds.py:719` — save_sds/load_sds persist
  * arbitrary objects; a trained model is just a small container of
  * arrays).
  *
  * Design points:
  *  - Artifacts are EXACT: centroids/weights are integer micro-units
  *    (longs), codebooks are exact doubles (units / 1e6) — parquet
  *    round-trips both bit-for-bit, so a fresh session serving from an
  *    artifact is bit-identical to the training session's memoized
  *    path (ModelsSpec pins it).
  *  - The content fingerprint is ONE map-side-combined aggregate over
  *    the model's input columns (count + xor of xxhash64) —
  *    order-insensitive, far cheaper than even a single Lloyd
  *    iteration, and it makes staleness structurally impossible: a
  *    regenerated corpus hashes to a different artifact path, so a
  *    stale model can never be served silently (the q210 lesson).
  *  - Model frames are k/buckets-sized — the collect on read and the
  *    coalesce(1) on write are bounded by the MODEL, never the corpus.
  */
object Models {

  /** Artifact store root. Relative to the working directory (like the
    * warehouse dir) unless SPARK_GRAFT_MODEL_DIR overrides it. */
  def defaultDir: String =
    sys.env.getOrElse("SPARK_GRAFT_MODEL_DIR", "spark-warehouse/graft_models")

  /** Observability twin of Dedup.registryMisses: number of ensure*
    * calls that actually TRAINED (artifact absent). A serve session
    * hitting artifacts leaves this unchanged — ModelsSpec's
    * skip-retraining assertion reads it. */
  @volatile var trains: Long = 0L

  /** Content fingerprint of a model's training input: (row count, xor
    * of per-row xxhash64 over all columns), hex-encoded.
    * Order-insensitive (xor), one aggregate, no shuffle beyond the
    * map-side combine. Any row added/removed/changed flips it.
    */
  def contentFingerprint(df: DataFrame): String = {
    val r = df.agg(count(lit(1)),
      bit_xor(xxhash64(df.columns.map(col): _*))).head()
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    java.lang.Long.toHexString(r.getLong(0)) + "-" +
      java.lang.Long.toHexString(x)
  }

  private def writeRows(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(path)

  /** Committed-artifact read: only a directory carrying _SUCCESS (a
    * completed write) is served; one without it — absent, or partial
    * from a crashed writer — reads as None and the caller rebuilds. A
    * committed artifact that cannot be read raises: retraining would
    * silently overwrite it. Collect is model-sized by construction. */
  private def readRows(spark: SparkSession, path: String)
      : Option[Array[org.apache.spark.sql.Row]] = {
    val marker = new org.apache.hadoop.fs.Path(path, "_SUCCESS")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(marker)) None
    else Some(spark.read.parquet(path).orderBy("idx").collect())
  }

  // ---- k-means centroids (integer micro-units) -----------------------

  def writeCentroids(spark: SparkSession, path: String,
                     model: Array[Array[Long]]): Unit = {
    import spark.implicits._
    writeRows(model.zipWithIndex
      .map { case (u, i) => (i, u.toSeq) }.toSeq.toDF("idx", "units"), path)
  }

  def readCentroids(spark: SparkSession,
                    path: String): Option[Array[Array[Long]]] =
    readRows(spark, path)
      .map(_.map(_.getAs[scala.collection.Seq[Long]]("units").toArray))

  /** Serve-or-train: read the centroid artifact for this exact
    * (corpus content, k, iters); train + write it when absent. The
    * returned model is identical either way — [[Similarity
    * .kmeansAssignWith]] / [[Similarity.ivfTrainedTopK]] consume it.
    */
  def ensureCentroids(df: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int,
                      dir: String = defaultDir): Array[Array[Long]] = {
    val spark = df.sparkSession
    val fp = contentFingerprint(df.select(col(idCol), col(vecCol)))
    val path = s"$dir/centroids_k${k}_i${iters}_$fp"
    readCentroids(spark, path).getOrElse {
      trains += 1
      val m = Similarity.kmeansCentroids(df, idCol, vecCol, k, iters)
      writeCentroids(spark, path, m)
      m
    }
  }

  // ---- PQ codebook (exact doubles: units / 1e6) -----------------------

  def writeCodebook(spark: SparkSession, path: String,
                    cb: Seq[(Int, Seq[Double])]): Unit = {
    import spark.implicits._
    writeRows(cb.map { case (w, v) => (w, v) }.toDF("idx", "vals"), path)
  }

  def readCodebook(spark: SparkSession,
                   path: String): Option[Seq[(Int, Seq[Double])]] =
    readRows(spark, path).map(_.toSeq.map(r =>
      r.getInt(0) -> r.getAs[scala.collection.Seq[Double]]("vals").toSeq))

  /** Serve-or-train for the per-subspace PQ codebook ([[Similarity
    * .pqTrainedCodebook]] geometry: m subspaces × ksub codewords). */
  def ensureCodebook(df: DataFrame, idCol: String, vecCol: String,
                     m: Int, ksub: Int, iters: Int,
                     dir: String = defaultDir): Seq[(Int, Seq[Double])] = {
    val spark = df.sparkSession
    val fp = contentFingerprint(df.select(col(idCol), col(vecCol)))
    val path = s"$dir/codebook_m${m}_k${ksub}_i${iters}_$fp"
    readCodebook(spark, path).getOrElse {
      trains += 1
      val cb = Similarity.pqTrainedCodebook(df, idCol, vecCol, m, ksub, iters)
      writeCodebook(spark, path, cb)
      cb
    }
  }

  // ---- BPE merge table (ordered (left, right) string pairs) -----------

  def writeMerges(spark: SparkSession, path: String,
                  merges: Seq[(String, String)]): Unit = {
    import spark.implicits._
    writeRows(merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r) }.toDF("idx", "l", "r"), path)
  }

  def readMerges(spark: SparkSession,
                 path: String): Option[Seq[(String, String)]] =
    readRows(spark, path)
      .map(_.toSeq.map(r => (r.getString(1), r.getString(2))))

  /** Serve-or-train for the BPE merge table ([[graft.functions.Bpe
    * .bpeMerges]]): merge ORDER is the model (applies are a priority
    * chain), preserved via the idx column. BPE has no per-session memo
    * at all — every consumer re-runs the `rounds` driver-sequenced
    * jobs — so the artifact is the only warm path. */
  def ensureBpeMerges(df: DataFrame, textCol: String, rounds: Int,
                      dir: String = defaultDir): Seq[(String, String)] = {
    val spark = df.sparkSession
    val fp = contentFingerprint(df.select(col(textCol)))
    val path = s"$dir/bpe_r${rounds}_$fp"
    readMerges(spark, path).getOrElse {
      trains += 1
      val m = graft.functions.Bpe.bpeMerges(df, textCol, rounds)
        .orderBy(col("round")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      writeMerges(spark, path, m)
      m
    }
  }

  // ---- decontamination bloom bitmap (exact long words) ----------------

  def writeBloom(spark: SparkSession, path: String,
                 bitmap: Array[Long]): Unit = {
    import spark.implicits._
    writeRows(bitmap.zipWithIndex.map { case (w, i) => (i, w) }.toSeq
      .toDF("idx", "word"), path)
  }

  def readBloom(spark: SparkSession, path: String): Option[Array[Long]] =
    readRows(spark, path).map(_.map(_.getLong(1)))

  /** Serve-or-build for the q256 decontamination bloom: the bitmap is
    * a trained artifact like any other model — built once from the
    * eval suite's prefix-hash stream, then probed by every crawl gate
    * (the build-once / gate-many split; a benchmark suite changes
    * rarely, crawls arrive daily). Bit words are exact longs → parquet
    * round-trips the filter bit-for-bit, so an artifact-served gate's
    * result set is IDENTICAL to the in-session one (and both equal the
    * exact gate, q256's contract). `threshold` keys the path via its
    * 1e6-unit form — the prefix length depends on it.
    */
  def ensureBloom(evalDocs: DataFrame, idCol: String, textCol: String,
                  shingleN: Int = 3, threshold: Double = 0.8,
                  mBits: Int = 1 << 18, kHashes: Int = 5,
                  dir: String = defaultDir): Array[Long] = {
    val spark = evalDocs.sparkSession
    val fp = contentFingerprint(evalDocs.select(col(idCol), col(textCol)))
    val tkey = math.round(threshold * 1e6)
    val path = s"$dir/bloom_n${shingleN}_t${tkey}_m${mBits}_k${kHashes}_$fp"
    readBloom(spark, path).getOrElse {
      trains += 1
      val bm = Bloom.bitmapFor(
        Dedup.evalPrefixHashes(evalDocs, idCol, textCol, shingleN, threshold),
        "sh", mBits, kHashes)
      writeBloom(spark, path, bm)
      bm
    }
  }

  // ---- DSIR log-ratio dictionary (integer micro-units) ----------------

  /** Serve-or-train for the q257 DSIR dictionary: the per-bucket
    * log-ratio units persist once per (raw pool, target suite) pair —
    * both participate in the path (the weights are a joint function of
    * the two distributions), so refreshing EITHER side retrains. The
    * artifact reuses the generic (idx, unit) long layout. */
  def ensureLlrDict(raw: DataFrame, target: DataFrame,
                    idCol: String, textCol: String, buckets: Int = 2048,
                    dir: String = defaultDir): Array[Long] = {
    val spark = raw.sparkSession
    val fpR = contentFingerprint(raw.select(col(idCol), col(textCol)))
    val fpT = contentFingerprint(target.select(col(idCol), col(textCol)))
    val path = s"$dir/dsir_b${buckets}_r${fpR}_t$fpT"
    readWeights(spark, path).getOrElse {
      trains += 1
      val d = Curate.dsirLlrDict(raw, target, idCol, textCol, buckets)
      writeWeights(spark, path, d)
      d
    }
  }

  // ---- classifier weights (integer micro-units) -----------------------

  def writeWeights(spark: SparkSession, path: String,
                   w: Array[Long]): Unit = {
    import spark.implicits._
    writeRows(w.zipWithIndex.map { case (v, i) => (i, v) }.toSeq
      .toDF("idx", "unit"), path)
  }

  def readWeights(spark: SparkSession, path: String): Option[Array[Long]] =
    readRows(spark, path).map(_.map(_.getLong(1)))

  /** Serve-or-train for [[Curate.trainTextClassifierWeights]] — the
    * label expression participates in the fingerprint (same text,
    * different labeling = a different model). */
  def ensureWeights(df: DataFrame, idCol: String, textCol: String,
                    label: org.apache.spark.sql.Column, buckets: Int = 512,
                    iters: Int = 4, lrNum: Long = 1L, lrDen: Long = 4L,
                    dir: String = defaultDir): Array[Long] = {
    val spark = df.sparkSession
    val fp = contentFingerprint(
      df.select(col(idCol), col(textCol), label.as("__label")))
    val path = s"$dir/weights_b${buckets}_i${iters}_lr${lrNum}d${lrDen}_$fp"
    readWeights(spark, path).getOrElse {
      trains += 1
      val w = Curate.trainTextClassifierWeights(df, idCol, textCol, label,
        buckets, iters, lrNum, lrDen)
      writeWeights(spark, path, w)
      w
    }
  }
}
