package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.FrameCache

/** Multimodal (image/audio/video) column plumbing — builder-brief
  * extension. Media payloads are opaque `binary` columns plus typed
  * metadata. Image decode (javax.imageio: PNG/JPEG/BMP/GIF), perceptual
  * dHash near-dup, WAV PCM header + per-frame RMS/zero-crossing
  * features are REAL in-JVM decodes; only codecs absent from the JDK
  * (video containers, compressed audio) stay behind the clearly-marked
  * deterministic stub, while the Spark-side contract — schema,
  * batching, partition sizing — is real everywhere.
  *
  * At 100 TB the pattern is: media bytes stay in their own column family
  * (parquet splits large binary row groups), feature extraction is a
  * scan-only projection, and `spark.sql.files.maxPartitionBytes` bounds
  * per-task memory.
  */
object Multimodal {

  /** Wrap raw content as a media column with typed metadata. */
  def asMedia(payload: Column, mediaType: String): Column =
    struct(
      payload.cast("binary").as("bytes"),
      lit(mediaType).as("media_type"),
      octet_length(payload.cast("binary")).as("n_bytes"))

  /** STUB decode: a real build links an image/audio codec here (e.g. via
    * a mapInPandas/mapPartitions batch decoder). The fake is a
    * deterministic 8-bucket byte histogram — shaped like a feature
    * vector, cheap, and reproducible, so the pipeline around it
    * (schema, partitioning, downstream ANN) is fully exercised.
    */
  def decodeFeaturesStub(media: Column, dims: Int = 8): Column = {
    val bytes = media.getField("bytes")
    val n = octet_length(bytes)
    transform(sequence(lit(1), lit(dims)), i =>
      when(n === 0, 0.0).otherwise(
        // deterministic fake: hashed projection of the payload per dim
        (pmod(xxhash64(bytes, i), lit(1000L)).cast("double") / 1000.0)))
  }

  /** Frame-sample stub: pick `k` deterministic offsets into the payload
    * (what a video frame sampler would do by timestamp).
    */
  def frameOffsets(media: Column, k: Int): Column = {
    val n = media.getField("n_bytes")
    transform(sequence(lit(0), lit(k - 1)), i => (i * greatest(n, lit(1)) / k).cast("long"))
  }

  /** Attach media + stub features for a text-as-bytes corpus (the test
    * container has no real media; documents.text stands in as payload).
    */
  def withMediaFeatures(df: DataFrame, payloadCol: String): DataFrame =
    df.withColumn("media", asMedia(col(payloadCol), "text/plain"))
      .withColumn("features", decodeFeaturesStub(col("media")))
      .withColumn("n_bytes", col("media.n_bytes"))

  /** The pluggable decode slot: a real build drops an image/audio codec
    * behind this interface (JNI, or a Python worker via mapInPandas —
    * same open/decode/close shape). `open`/`close` run once per TASK,
    * which is where codec context (a model handle, an ffmpeg session)
    * belongs; `decode` streams row by row, so nothing buffers a
    * partition in memory.
    */
  trait MediaDecoder extends Serializable {
    def name: String
    def open(): Unit = ()
    def decode(bytes: Array[Byte]): Array[Double]
    def close(): Unit = ()
  }

  /** Default implementation: the deterministic stub above, as a decoder
    * (same hashed-projection features as decodeFeaturesStub's column
    * form, computed JVM-side).
    */
  final class StubDecoder(dims: Int = 8) extends MediaDecoder {
    def name = "stub"
    def decode(bytes: Array[Byte]): Array[Double] =
      if (bytes.isEmpty) Array.fill(dims)(0.0)
      else {
        // 8-bucket byte histogram, normalized — cheap and reproducible
        val h = new Array[Double](dims)
        bytes.foreach(b => h(java.lang.Byte.toUnsignedInt(b) % dims) += 1.0)
        h.map(_ / bytes.length)
      }
  }

  /** A REAL (non-stub) decoder: pure-JVM image-header parse — PNG and
    * JPEG dimensions straight from the bytes, no native codec. Features:
    * [format (0 unknown / 1 PNG / 2 JPEG), width, height, pixels].
    * This is the honest subset of media decode that needs no library:
    * the container ships no codecs, but header fields are just bytes.
    * The open/decode/close lifecycle and the binary-column plumbing are
    * identical to what a JNI/ffmpeg decoder would use.
    */
  final class ImageHeaderDecoder extends MediaDecoder {
    def name = "image-header"

    private def be32(b: Array[Byte], i: Int): Long =
      ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
        ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)
    private def be16(b: Array[Byte], i: Int): Int =
      ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

    def decode(bytes: Array[Byte]): Array[Double] = {
      // PNG: 8-byte signature, then the IHDR chunk — width/height are
      // big-endian u32 at offsets 16 and 20 (PNG spec, RFC 2083 §4.1.1)
      if (bytes.length >= 24 &&
          (bytes(0) & 0xff) == 0x89 && bytes(1) == 'P' && bytes(2) == 'N' &&
          bytes(3) == 'G') {
        val w = be32(bytes, 16).toDouble
        val h = be32(bytes, 20).toDouble
        Array(1.0, w, h, w * h)
      }
      // JPEG: walk the marker stream to the first SOF0/1/2 frame header;
      // height/width are big-endian u16 at +5/+7 past the marker
      else if (bytes.length >= 4 &&
          (bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8) {
        var i = 2
        while (i + 9 < bytes.length) {
          if ((bytes(i) & 0xff) != 0xff) return Array(2.0, 0.0, 0.0, 0.0)
          val marker = bytes(i + 1) & 0xff
          if (marker == 0xc0 || marker == 0xc1 || marker == 0xc2) {
            val h = be16(bytes, i + 5).toDouble
            val w = be16(bytes, i + 7).toDouble
            return Array(2.0, w, h, w * h)
          }
          if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd9)) i += 2
          else i += 2 + be16(bytes, i + 2)
        }
        Array(2.0, 0.0, 0.0, 0.0)
      } else Array(0.0, 0.0, 0.0, 0.0)
    }
  }

  /** A REAL audio-header decoder: pure-JVM RIFF/WAVE parse — sample
    * rate, channel count, and duration straight from the fmt/data
    * chunks, no codec. Features: [format (3 WAV / 0 unknown),
    * sample_rate, channels, duration_seconds]. Same honest-subset
    * stance as ImageHeaderDecoder: header fields are just bytes.
    */
  final class WavHeaderDecoder extends MediaDecoder {
    def name = "wav-header"

    private def le32(b: Array[Byte], i: Int): Long =
      (b(i) & 0xffL) | ((b(i + 1) & 0xffL) << 8) |
        ((b(i + 2) & 0xffL) << 16) | ((b(i + 3) & 0xffL) << 24)
    private def le16(b: Array[Byte], i: Int): Int =
      (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

    def decode(bytes: Array[Byte]): Array[Double] = {
      // RIFF container: "RIFF" <size> "WAVE", then chunks of
      // <4-byte id> <u32le size> <payload>; the "fmt " chunk carries
      // channels (u16le @+2), sample rate (u32le @+4), bits/sample
      // (u16le @+14); the "data" chunk's size + those give duration
      if (bytes.length < 12 ||
          bytes(0) != 'R' || bytes(1) != 'I' || bytes(2) != 'F' ||
          bytes(3) != 'F' || bytes(8) != 'W' || bytes(9) != 'A' ||
          bytes(10) != 'V' || bytes(11) != 'E')
        return Array(0.0, 0.0, 0.0, 0.0)
      var channels = 0
      var rate = 0L
      var bps = 0
      var dataLen = -1L
      // The walk cursor is a LONG and must STRICTLY increase: sz is an
      // unsigned u32 read as Long, and a corrupt/malicious size ≥ 2^31
      // truncated through toInt went negative — sz.toInt == -8 looped
      // the executor task forever on one bad file (ADVICE r14). Any
      // non-advancing or out-of-range step aborts the walk; malformed
      // payloads decode to the all-zero feature row, never a hang.
      var i = 12L
      var ok = true
      while (ok && i + 8 <= bytes.length) {
        val at = i.toInt
        val id = new String(bytes, at, 4, "US-ASCII")
        val sz = le32(bytes, at + 4)
        if (id == "fmt " && i + 8 + 16 <= bytes.length) {
          channels = le16(bytes, at + 10)
          rate = le32(bytes, at + 12)
          bps = le16(bytes, at + 22)
        } else if (id == "data") {
          dataLen = sz
        }
        // chunks are word-aligned: odd sizes carry a pad byte
        val next = i + 8L + sz + (sz & 1L)
        if (next <= i || next > bytes.length.toLong) ok = false else i = next
      }
      val duration =
        if (rate > 0 && channels > 0 && bps > 0 && dataLen >= 0)
          dataLen.toDouble / (rate * channels * (bps / 8.0))
        else 0.0
      Array(3.0, rate.toDouble, channels.toDouble, duration)
    }
  }

  /** FULL pixel decode on the stock JVM: javax.imageio — PNG/JPEG/BMP/
    * GIF readers ship in every JRE and are headless-safe, so image
    * decode needs no external library at all. Features:
    * [width, height, mean_r, mean_g, mean_b, mean_luma(Rec.709)];
    * unreadable/empty payloads yield all −1 (the null-object row a
    * downstream filter drops). This removes the "decode is stubbed"
    * caveat for JRE-native image formats; audio/video frame decode
    * (no JRE codec) remains on the header/stub path.
    *
    * Per-pixel getRGB is the clarity-over-speed choice for feature
    * extraction on thumbnails; a production path would bulk-read the
    * raster — the decoder LIFECYCLE (open/stream/close via decodeWith)
    * is the part that carries over unchanged.
    */
  /** REAL image resize (javax.imageio decode + nearest-neighbor
    * resample to `dstW`×`dstH`): output is the flattened RGB grid —
    * dstW·dstH·3 doubles in row-major (y, x, [r,g,b]) order — the
    * fixed-shape tensor a training pipeline feeds downstream.
    * Nearest-neighbor with the floor mapping sx = ⌊x·srcW/dstW⌋ is
    * chosen over any interpolating kernel because it is exactly
    * reproducible (pure integer index math, no float filter taps —
    * the determinism bar every operator in this library clears).
    * Unreadable/empty payloads yield the all −1 null-object row, like
    * [[ImageIODecoder]]. Same per-task open/decode/close lifecycle; at
    * scale the decode is scan-side (`maxPartitionBytes` bounds task
    * memory) and the output is a fixed-width array column.
    */
  final class ResizeDecoder(dstW: Int, dstH: Int) extends MediaDecoder {
    require(dstW >= 1 && dstH >= 1, "bad target size")
    def name = s"resize-${dstW}x$dstH"
    def decode(bytes: Array[Byte]): Array[Double] = {
      val img =
        if (bytes.isEmpty) null
        else
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException => null }
      if (img == null) return Array.fill(dstW * dstH * 3)(-1.0)
      val (sw, sh) = (img.getWidth, img.getHeight)
      val out = new Array[Double](dstW * dstH * 3)
      var y = 0
      while (y < dstH) {
        val sy = (y.toLong * sh / dstH).toInt
        var x = 0
        while (x < dstW) {
          val sx = (x.toLong * sw / dstW).toInt
          val p = img.getRGB(sx, sy)
          val o = (y * dstW + x) * 3
          out(o) = (p >> 16) & 0xff
          out(o + 1) = (p >> 8) & 0xff
          out(o + 2) = p & 0xff
          x += 1
        }
        y += 1
      }
      out
    }
  }

  final class ImageIODecoder extends MediaDecoder {
    def name = "imageio"
    def decode(bytes: Array[Byte]): Array[Double] = {
      val img =
        if (bytes.isEmpty) null
        else
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException => null }
      if (img == null) return Array.fill(6)(-1.0)
      val (w, h) = (img.getWidth, img.getHeight)
      var sr = 0.0; var sg = 0.0; var sb = 0.0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toDouble
      val (mr, mg, mb) = (sr / n, sg / n, sb / n)
      Array(w.toDouble, h.toDouble, mr, mg, mb,
        0.2126 * mr + 0.7152 * mg + 0.0722 * mb)
    }
  }

  /** 64-bit perceptual dHash of an image payload (REAL decode, no
    * stub — javax.imageio is in the JDK): deterministic area-average
    * downscale to a 9×8 luma grid (integer sums, no platform-dependent
    * scaler), then bit k = grid(r, c) > grid(r, c+1) — the standard
    * difference hash. Near-identical images (re-encode, mild noise,
    * small overlay) land within a few bits; unrelated images are ~32
    * bits apart (each comparison is a coin flip). Returns
    * Long.MinValue for undecodable/empty payloads (sentinel — never a
    * valid dHash of a real image by construction is NOT guaranteed, so
    * callers filter the sentinel before joining; imageNearDupPairs
    * does).
    */
  final class ImageDHashDecoder {
    def hash(bytes: Array[Byte]): Long = {
      val img =
        if (bytes == null || bytes.isEmpty) null
        else
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
          catch { case _: java.io.IOException => null }
      if (img == null || img.getWidth == 0 || img.getHeight == 0)
        return Long.MinValue
      val (w, h) = (img.getWidth, img.getHeight)
      // 9×8 luma grid by exact integer area averaging
      val grid = Array.ofDim[Long](8, 9)
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 9) {
          val x0 = (c.toLong * w / 9).toInt
          val x1 = math.max(x0 + 1, ((c + 1).toLong * w / 9).toInt)
          val y0 = (r.toLong * h / 8).toInt
          val y1 = math.max(y0 + 1, ((r + 1).toLong * h / 8).toInt)
          var s = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val p = img.getRGB(x, y)
              s += 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
                114L * (p & 0xff)
              x += 1
            }
            y += 1
          }
          grid(r)(c) = s / ((x1 - x0).toLong * (y1 - y0))
          c += 1
        }
        r += 1
      }
      var bits = 0L
      var i = 0
      while (i < 64) {
        if (grid(i / 8)(i % 8) > grid(i / 8)(i % 8 + 1)) bits |= 1L << i
        i += 1
      }
      bits
    }
  }

  /** Append the 64-bit dHash of `payloadCol` as `out` (long;
    * Long.MinValue sentinel for undecodable rows). Streaming
    * per-partition decode, same lifecycle as [[decodeWith]].
    */
  def imageDHash(df: DataFrame, payloadCol: String,
                 out: String = "phash"): DataFrame =
    // cached per (input, payloadCol, out): the mapPartitions closure is
    // a fresh lambda instance per call, so without the cache two
    // identical builds yield canonically UNEQUAL plans and every
    // plan-keyed cache downstream (the persisted hashed frame in
    // imageNearDupPairs) misses on every call
    FrameCache.memo("imageDHash", df)(payloadCol, out) {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.LongType
      val idx = df.schema.fieldIndex(payloadCol)
      val outSchema = df.schema.add(out, LongType)
      df.mapPartitions { it =>
        val d = new ImageDHashDecoder
        it.map { r =>
          val bytes = r.get(idx) match {
            case b: Array[Byte] => b
            case s: String      => s.getBytes("UTF-8")
            case null           => Array.emptyByteArray
          }
          Row.fromSeq(r.toSeq :+ d.hash(bytes))
        }
      }(Encoders.row(outSchema))
    }

  /** IMAGE near-duplicate pairs — the multimodal member of the dedup
    * family (exact text dedup / MinHash / SimHash / embedding LSH all
    * have the same blocking-then-verify shape): dHash each image once,
    * band the 64-bit hash into 4×16-bit keys, self-join per band
    * (pigeonhole: hamming ≤ maxHamming < 4 ⇒ at least one band is
    * INTACT, so blocking is complete for maxHamming ≤ 3 — same theorem
    * as SimHash banding), then verify candidates with the exact
    * bit_count(xor) distance. Pairs carry only (id, id) through the
    * shuffle; the corpus decodes exactly once.
    *
    * At 100 TB the decode is the dominant cost and it is map-only and
    * embarrassingly parallel; the pair join inputs are 4 rows per
    * image (the bands), so the join scales like SimHash dedup, not
    * like image count squared. Undecodable payloads are dropped before
    * banding (a corrupt-file bucket would otherwise self-join
    * quadratically).
    */
  def imageNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
                        maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16 banding is complete only for hamming <= 3, got $maxHamming")
    val hashed = imageDHash(
      df.select(col(idCol), col(payloadCol)), payloadCol, "__ph")
      .filter(col("__ph") =!= Long.MinValue)
      .select(col(idCol), col("__ph"))
    val persisted = FrameCache.persist(hashed)
    val banded = persisted.select(col(idCol), posexplode(array(
      (0 until 4).map(b =>
        shiftright(col("__ph"), b * 16).bitwiseAND(lit(0xFFFFL))): _*)))
      .toDF(idCol, "band", "bandval")
    val cand = banded.toDF("id_a", "band", "bandval")
      .join(banded.toDF("id_b", "band", "bandval"), Seq("band", "bandval"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand
      .join(persisted.toDF("id_a", "__pa"), Seq("id_a"))
      .join(persisted.toDF("id_b", "__pb"), Seq("id_b"))
      .withColumn("hamming",
        bit_count(col("__pa").bitwiseXOR(col("__pb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Image-dedup GATE against a reference suite (the decontamination
    * idiom applied to images — e.g. "is this crawl image a near-copy
    * of a benchmark/reference image"): the suite's dHashes collect
    * driver-side (suite-sized, the eval-suite contract of
    * streamingDecontamination) and bind as ONE literal array; each
    * incoming image decodes once map-side and takes the MINIMUM
    * hamming distance against the suite via a codegen'd transform over
    * the literal. Stateless and map-only, so the same function is the
    * batch operator AND the streaming ingest gate (no watermark, no
    * state store — StreamingSpec pins zero state operators and
    * stream≡batch). Undecodable payloads emit null min_hamming /
    * is_dup false (a corrupt file is not evidence of duplication).
    */
  def imageDupAgainstSuite(df: DataFrame, payloadCol: String,
                           suite: DataFrame, suitePayloadCol: String,
                           maxHamming: Int = 3): DataFrame = {
    val d = new ImageDHashDecoder
    val refHashes = suite.select(col(suitePayloadCol)).collect()
      .map(r => d.hash(r.getAs[Array[Byte]](0)))
      .filter(_ != Long.MinValue).distinct.toSeq
    val hashed = imageDHash(df, payloadCol, "__ph")
    val out =
      if (refHashes.isEmpty)
        hashed.withColumn("min_hamming",
          lit(null).cast("int"))
      else hashed.withColumn("min_hamming",
        when(col("__ph") =!= Long.MinValue,
          array_min(transform(typedlit(refHashes),
            r => bit_count(col("__ph").bitwiseXOR(r)).cast("int")))))
    out.withColumn("is_dup",
        coalesce(col("min_hamming") <= maxHamming, lit(false)))
      .drop("__ph")
  }

  /** Per-frame audio features from a PCM WAV payload (REAL decode —
    * RIFF little-endian parse, 16-bit or 8-bit PCM): frame the sample
    * stream into `frameLen`-sample windows (last partial frame
    * dropped) and emit per frame (index, RMS in [0,1], zero-crossing
    * count) — the standard energy/pitch-proxy pair a speech-data
    * curation gate thresholds on. Multi-channel audio folds to mono by
    * averaging channels before framing. Malformed/non-PCM payloads
    * yield an empty frame array.
    */
  def wavFrameFeatures(bytes: Array[Byte], frameLen: Int): Seq[(Int, Double, Int)] = {
    require(frameLen > 0)
    if (bytes == null || bytes.length < 44) return Seq.empty
    def le32(i: Int): Long =
      (bytes(i) & 0xffL) | ((bytes(i + 1) & 0xffL) << 8) |
        ((bytes(i + 2) & 0xffL) << 16) | ((bytes(i + 3) & 0xffL) << 24)
    def le16(i: Int): Int = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
    if (!(bytes(0) == 'R' && bytes(1) == 'I' && bytes(2) == 'F' &&
      bytes(3) == 'F' && bytes(8) == 'W' && bytes(9) == 'A' &&
      bytes(10) == 'V' && bytes(11) == 'E')) return Seq.empty
    // chunk walk: find fmt and data. The cursor is a LONG and must
    // STRICTLY increase — sz is an unsigned u32 read as Long, and a
    // corrupt size ≥ 2^31 truncated through toInt went negative
    // (sz.toInt == -8 spun the executor task forever on one bad file;
    // ADVICE r14). Any non-advancing or past-the-end step aborts the
    // walk and the payload yields the documented empty frame array.
    var pos = 12L
    var fmtAt = -1
    var dataAt = -1
    var dataLen = 0L
    var walking = true
    while (walking && pos + 8 <= bytes.length && (fmtAt < 0 || dataAt < 0)) {
      val at = pos.toInt
      val id = new String(bytes, at, 4, "US-ASCII")
      val sz = le32(at + 4)
      if (id == "fmt ") fmtAt = at + 8
      else if (id == "data") { dataAt = at + 8; dataLen = sz }
      val next = pos + 8L + sz + (sz & 1L)
      if (next <= pos || next > bytes.length.toLong) walking = false
      else pos = next
    }
    // fmt fields read through +15 (bits/sample) — a truncated fmt chunk
    // must not read past the buffer
    if (fmtAt < 0 || dataAt < 0 || fmtAt + 16 > bytes.length) return Seq.empty
    val fmt = le16(fmtAt)
    val channels = le16(fmtAt + 2)
    val bps = le16(fmtAt + 14)
    if (fmt != 1 || channels < 1 || (bps != 16 && bps != 8)) return Seq.empty
    val bytesPerSample = bps / 8
    val stride = bytesPerSample * channels
    val end = math.min(bytes.length.toLong, dataAt + dataLen).toInt
    val nSamples = (end - dataAt) / stride
    def sampleAt(i: Long): Double = {
      var s = 0.0
      var ch = 0
      while (ch < channels) {
        val at = dataAt + (i * stride).toInt + ch * bytesPerSample
        val v =
          if (bps == 16) le16(at).toShort / 32768.0
          else ((bytes(at) & 0xff) - 128) / 128.0
        s += v
        ch += 1
      }
      s / channels
    }
    val nFrames = (nSamples / frameLen).toInt
    (0 until nFrames).map { f =>
      var sq = 0.0
      var zc = 0
      var prev = 0.0
      var i = 0
      while (i < frameLen) {
        val v = sampleAt(f.toLong * frameLen + i)
        sq += v * v
        if (i > 0 && ((prev < 0 && v >= 0) || (prev >= 0 && v < 0))) zc += 1
        prev = v
        i += 1
      }
      (f, math.sqrt(sq / frameLen), zc)
    }
  }

  /** DataFrame form of [[wavFrameFeatures]]: one output row per
    * (input row, frame) with (frame, rms, zero_crossings) appended —
    * the framing explode a speech-quality gate consumes. Map-side
    * only; at corpus scale this is the mapInPandas batch shape with
    * the decode in-JVM.
    */
  def withWavFrames(df: DataFrame, payloadCol: String,
                    frameLen: Int): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{DoubleType, IntegerType}
    val idx = df.schema.fieldIndex(payloadCol)
    val outSchema = df.schema
      .add("frame", IntegerType).add("rms", DoubleType)
      .add("zero_crossings", IntegerType)
    df.mapPartitions { it =>
      it.flatMap { r =>
        val bytes = r.get(idx) match {
          case b: Array[Byte] => b
          case null           => Array.emptyByteArray
        }
        wavFrameFeatures(bytes, frameLen).map { case (f, rms, zc) =>
          // Seq[Any], NOT Seq(f, rms, zc): the numeric lub would widen
          // the Ints to Double and break the Row encoder's INT fields
          Row.fromSeq(r.toSeq ++ Seq[Any](f, rms, zc))
        }
      }
    }(Encoders.row(outSchema))
  }

  /** Run a decoder over a binary payload column, streaming per task.
    * The decoder rides the closure (serialized once per task), opens
    * before the first row and closes when the partition iterator
    * exhausts — the mapInPandas/JNI lifecycle without the Python
    * dependency.
    */
  def decodeWith(df: DataFrame, payloadCol: String, decoder: MediaDecoder,
                 out: String = "features"): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val idx = df.schema.fieldIndex(payloadCol)
    val outSchema = df.schema.add(out, ArrayType(DoubleType))
    df.mapPartitions { it =>
      decoder.open()
      new Iterator[Row] {
        def hasNext: Boolean = {
          val h = it.hasNext
          if (!h) decoder.close()
          h
        }
        def next(): Row = {
          val r = it.next()
          val bytes = r.get(idx) match {
            case b: Array[Byte] => b
            case s: String      => s.getBytes("UTF-8")
            case null           => Array.emptyByteArray
          }
          Row.fromSeq(r.toSeq :+ decoder.decode(bytes).toSeq)
        }
      }
    }(Encoders.row(outSchema))
  }
}
