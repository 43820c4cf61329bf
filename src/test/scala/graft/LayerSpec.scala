package graft

import org.apache.spark.sql.functions._
import graft.operators.{Apply, Categorical, Interp, Multimodal, Reshape}
import graft.functions.{Binning, Stats}

/** Specs for the categorical / stats / interp / multimodal / reshape
  * layers not covered query-side.
  */
class LayerSpec extends SparkSpec {
  import spark.implicits._

  test("categorical encode→decode round-trips; codes are 1-based sorted") {
    val df = Seq("b", "a", "c", "a").toDF("k")
    val coded = Categorical.encode(df, "k")
    val codes = coded.select("k", "code").distinct().as[(String, Int)].collect().toMap
    assert(codes === Map("a" -> 1, "b" -> 2, "c" -> 3))
    val cats = Categorical.categories(df, "k")
    val decoded = Categorical.decode(coded.select("code"), cats, "code", "label")
    assert(decoded.select("label").as[String].collect().sorted.toSeq === Seq("a", "a", "b", "c"))
  }

  test("categorical filtered rows get code 0 (riptable Filtered bin)") {
    val df = Seq(("a", 1), ("b", 2), ("a", 3)).toDF("k", "v")
    val coded = Categorical.encode(df, "k", filter = Some($"v" =!= 2))
    assert(coded.filter($"v" === 2).select("code").as[Int].head() === 0)
    assert(coded.filter($"v" =!= 2).filter($"code" === 0).count() === 0)
  }

  test("null keys encode to code 0") {
    val df = Seq(Some("a"), None, Some("b")).toDF("k")
    val coded = Categorical.encode(df, "k")
    assert(coded.filter($"k".isNull).select("code").as[Int].head() === 0)
  }

  test("fromCodes: base-1 dictionary decode, 0 = Filtered, out-of-range " +
    "normalized to 0; round-trips encode's codes") {
    // direct semantics: codes 0 and 9 -> Filtered (null label, code 0)
    val df = Seq((10L, 1), (11L, 3), (12L, 0), (13L, 9), (14L, 2))
      .toDF("id", "code")
    val out = Categorical.fromCodes(df, "code", Seq("x", "y", "z"))
      .select("id", "code", "label")
      .as[(Long, Int, Option[String])].collect().sortBy(_._1).toSeq
    assert(out === Seq((10L, 1, Some("x")), (11L, 3, Some("z")),
      (12L, 0, None), (13L, 0, None), (14L, 2, Some("y"))))
    // round trip vs encode/categories: feeding encode's own codes with
    // the sorted dictionary labels reproduces the original keys
    val src = Seq("b", "a", "c", "a", "b").toDF("k")
    val dict = Categorical.categories(src, "k")
      .orderBy("code").as[(String, Int)].collect().map(_._1).toSeq
    val rt = Categorical.fromCodes(
        Categorical.encode(src, "k"), "code", dict)
      .select("k", "label").as[(String, String)].collect()
    assert(rt.forall { case (k, l) => k == l }, rt.mkString(","))
  }

  test("categories guard: a dictionary past maxCategories fails loudly " +
    "instead of funneling one task") {
    val saved = sys.props.get("graft.categorical.maxCategories")
    try {
      sys.props("graft.categorical.maxCategories") = "100"
      val wide = spark.range(500L).selectExpr("CAST(id AS STRING) AS k")
      // materialize the code column: a bare count() lets the optimizer
      // prune the window (and with it the guard — correctly: no window,
      // no single-task funnel to guard)
      val e = intercept[Exception] {
        Categorical.categories(wide, "k").agg(max(col("code"))).head()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("maxCategories")), e.toString)
      // and under the cap everything still works
      val ok = spark.range(50L).selectExpr("CAST(id AS STRING) AS k")
      assert(Categorical.categories(ok, "k").count() === 50L)
    } finally {
      saved match {
        case Some(v) => sys.props("graft.categorical.maxCategories") = v
        case None => sys.props.remove("graft.categorical.maxCategories")
      }
    }
  }

  test("opMetrics surfaces per-operator rows/time/bytes from an " +
    "executed plan (MathLedger/rt_timers analog)") {
    val df = spark.range(10000L).selectExpr("id % 7 AS k", "id AS v")
      .groupBy("k").count()
    df.collect()
    val ops = Explain.opMetrics(df).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(ops.nonEmpty)
    // the aggregate ran and reports its true output cardinality
    val agg = ops.filter(_._1.contains("HashAggregate"))
    assert(agg.nonEmpty, ops.mkString("\n"))
    assert(agg.exists(_._2 == 7L), agg.mkString(","))
    // something in the plan moved bytes (the exchange) and all metric
    // values are non-negative after normalization
    assert(ops.exists(_._4 > 0L), ops.mkString("\n"))
    assert(ops.forall(o => o._3 >= 0L && o._4 >= 0L))
  }

  test("canonicalText erases the names a JVM's history picks and keeps " +
    "the plan") {
    def line(id: Int, pid: Int, x: Int, hash: String, tmp: String) =
      s"Filter probe(sh#${id}L, [J@$hash, lambda x_${x}L) [plan_id=$pid] " +
        s"graft.operators.Ema$$$$$$Lambda/0x00007f$hash@$hash " +
        s"InMemoryFileIndex(1 paths)[file:/tmp/$tmp/t.parquet]"
    val a = Explain.canonicalText(line(12, 357, 84, "4e8b0758", "spark-1a2b"))
    val b = Explain.canonicalText(line(981, 1599, 80, "54514d20", "graft-9z"))
    assert(a === b)
    assert(Explain.canonicalText("Filter (v#3L > 5)") !==
      Explain.canonicalText("Filter (v#3L > 6)"), "a literal was erased")
  }

  test("winsorize clips exactly at the percentile bounds") {
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val out = Stats.winsorize(df, "v", 0.1, 0.9, "w")
    val (mn, mx) = out.agg(min($"w"), max($"w")).as[(Double, Double)].head()
    assert(math.abs(mn - 10.9) < 1e-9 && math.abs(mx - 90.1) < 1e-9)
  }

  test("qcutBoundaries agrees with ntile qcut on tie-free data") {
    val df = (1 to 100).map(i => (i.toDouble * 3.7, i)).toDF("v", "id")
    val a = Binning.qcut(df, "v", "id", 4, "b1").select($"id", $"b1")
    val b = Binning.qcutBoundaries(df, "v", 4, "b2").select($"id", $"b2")
    val joined = a.join(b, "id").filter($"b1" =!= $"b2")
    assert(joined.count() === 0)
  }

  test("applyNonReduce runs a custom scan per key in order") {
    val df = Seq((1L, 1L, 2.0), (1L, 2L, 3.0), (2L, 1L, 5.0)).toDF("k", "t", "v")
    // running product via the generic scan hook
    val out = Apply.applyNonReduce(df, "k", "t", "v", "rp", 1.0)(_ * _)
      .orderBy("k", "t").select("rp").as[Double].collect().toSeq
    assert(out === Seq(2.0, 6.0, 5.0))
  }

  test("interp clamps outside the hull and blends inside") {
    val q = Seq((1L, 5L, 1), (1L, 15L, 2), (1L, 100L, 3), (1L, 1L, 4)).toDF("g", "x", "qid")
    val p = Seq((1L, 10L, 10.0), (1L, 20L, 30.0)).toDF("g", "x", "y")
    val out = Interp.interp(q, p, "x", Seq("g"), "y", "iv")
      .select("qid", "iv").as[(Int, Double)].collect().toMap
    assert(out(4) === 10.0)              // before first point → clamp
    assert(out(3) === 30.0)              // after last point → clamp
    assert(math.abs(out(2) - 20.0) < 1e-9) // x=15 midway 10→20: 10 + 20*(5/10)
    assert(out(1) === 10.0)              // x=5 before hull → clamp
  }

  test("pivotNoAgg raises on duplicate (label, column) pairs") {
    val dup = Seq(("r1", "c1", 1.0), ("r1", "c1", 2.0)).toDF("l", "c", "v")
    assertThrows[IllegalArgumentException](
      Reshape.pivotNoAgg(dup, "l", "c", "v", Seq("c1")))
  }

  test("multimodal stub features have stable shape and deterministic values") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "")).toDF("id", "payload")
    val out = Multimodal.withMediaFeatures(df, "payload")
    val rows = out.select($"id", $"features", $"n_bytes").collect()
      .map(r => r.getLong(0) -> (r.getSeq[Double](1), r.getInt(2))).toMap
    assert(rows(1L)._1 === rows(2L)._1)       // deterministic
    assert(rows(1L)._1.length === 8)
    assert(rows(3L)._1.forall(_ === 0.0))     // empty payload → zero features
    assert(rows(1L)._2 === 11)
  }

  test("pluggable MediaDecoder streams per task; toy decoder differs from stub") {
    // a non-stub decoder through the same slot a real codec would use
    class LenDecoder extends Multimodal.MediaDecoder {
      def name = "toy-len"
      def decode(bytes: Array[Byte]): Array[Double] =
        Array(bytes.length.toDouble, if (bytes.isEmpty) 0.0 else bytes.head.toDouble)
    }
    val df = Seq((1L, "abc"), (2L, ""), (3L, "zz")).toDF("id", "payload")
      .withColumn("payload", $"payload".cast("binary")).repartition(2)
    val out = Multimodal.decodeWith(df, "payload", new LenDecoder)
      .select($"id", $"features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) === Seq(3.0, 97.0))
    assert(out(2L) === Seq(0.0, 0.0))
    assert(out(3L) === Seq(2.0, 122.0))
    // and the default stub decoder matches the column-form stub features
    val stubbed = Multimodal.decodeWith(df, "payload", new Multimodal.StubDecoder)
    assert(stubbed.select("features").collect().forall(_.getSeq[Double](0).length === 8))
  }

  test("mergeCats unifies slice dictionaries and remaps codes") {
    import graft.operators.Categorical
    // the rt_grouping.py:136 docstring example: file 1 saw (A, C),
    // file 2 saw (B, C, D) — unified dict A,B,C,D with slice codes
    // remapped through labels
    val s1 = Seq((10L, "A"), (11L, "C")).toDF("id", "k")
    val s2 = Seq((20L, "B"), (21L, "C"), (22L, "D"), (23L, null))
      .toDF("id", "k")
    val (c1, d1) = (Categorical.encode(s1, "k"), Categorical.categories(s1, "k"))
    val (c2, d2) = (Categorical.encode(s2, "k"), Categorical.categories(s2, "k"))
    // sanity: per-slice codes are local (C is 2 in both slices)
    assert(c1.filter($"k" === "C").select("code").as[Int].head() === 2)
    assert(c2.filter($"k" === "C").select("code").as[Int].head() === 2)
    val (dict, stacked) = Categorical.mergeCats(Seq((c1, d1), (c2, d2)))
    val d = dict.as[(String, Int)].collect().toMap
    assert(d === Map("A" -> 1, "B" -> 2, "C" -> 3, "D" -> 4))
    val got = stacked.select("id", "code").as[(Long, Int)].collect().toMap
    assert(got === Map(10L -> 1, 11L -> 3, 20L -> 2, 21L -> 3, 22L -> 4,
      23L -> 0)) // filtered/null keeps code 0
  }

  test("ImageHeaderDecoder reads PNG and JPEG dimensions from raw bytes") {
    def png(w: Int, h: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(33)
      b.put(Array(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt, 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte))
      b.putInt(13); b.put("IHDR".getBytes("US-ASCII"))
      b.putInt(w); b.putInt(h)
      b.put(Array[Byte](8, 6, 0, 0, 0)); b.putInt(0)
      b.array()
    }
    def jpeg(w: Int, h: Int): Array[Byte] = {
      val out = scala.collection.mutable.ArrayBuffer[Byte]()
      out ++= Seq(0xff, 0xd8).map(_.toByte)                  // SOI
      out ++= Seq(0xff, 0xe0, 0x00, 0x10).map(_.toByte)      // APP0 len 16
      out ++= Array.fill[Byte](14)(0)
      out ++= Seq(0xff, 0xc0, 0x00, 0x11, 0x08).map(_.toByte) // SOF0, precision 8
      out ++= Seq((h >> 8) & 0xff, h & 0xff, (w >> 8) & 0xff, w & 0xff)
        .map(_.toByte)
      out ++= Array.fill[Byte](10)(0)
      out.toArray
    }
    val df = Seq(
      (1L, png(640, 480)), (2L, jpeg(1024, 768)),
      (3L, "not an image".getBytes("UTF-8"))).toDF("id", "payload")
      .repartition(2)
    val out = Multimodal.decodeWith(df, "payload", new Multimodal.ImageHeaderDecoder)
      .select($"id", $"features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) === Seq(1.0, 640.0, 480.0, 307200.0))
    assert(out(2L) === Seq(2.0, 1024.0, 768.0, 786432.0))
    assert(out(3L) === Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("ImageIODecoder: REAL pixel decode of generated PNGs (exact " +
    "solid-color features); garbage bytes yield the null-object row") {
    import java.awt.image.BufferedImage
    def solidPng(w: Int, h: Int, r: Int, g: Int, b: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val rgb = (r << 16) | (g << 8) | b
      (0 until h).foreach(y => (0 until w).foreach(x => img.setRGB(x, y, rgb)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val df = Seq(
      (1L, solidPng(8, 4, 255, 0, 0)),     // pure red
      (2L, solidPng(3, 3, 10, 20, 30)),
      (3L, "not an image at all".getBytes("UTF-8")),
      (4L, Array.emptyByteArray)
    ).toDF("id", "payload").repartition(2)
    val out = Multimodal.decodeWith(df, "payload",
      new Multimodal.ImageIODecoder)
      .select($"id", $"features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // solid colors decode to EXACT channel means (PNG is lossless)
    assert(out(1L) === Seq(8.0, 4.0, 255.0, 0.0, 0.0, 0.2126 * 255))
    assert(out(2L) === Seq(3.0, 3.0, 10.0, 20.0, 30.0,
      0.2126 * 10 + 0.7152 * 20 + 0.0722 * 30))
    assert(out(3L) === Seq(-1.0, -1.0, -1.0, -1.0, -1.0, -1.0))
    assert(out(4L) === Seq(-1.0, -1.0, -1.0, -1.0, -1.0, -1.0))
  }

  test("ResizeDecoder: REAL nearest-neighbor resample to a fixed grid " +
    "(exact pixels via the floor index map); garbage yields -1s") {
    import java.awt.image.BufferedImage
    // 4x2 image whose pixel value encodes its coordinate: r=x, g=y
    def coordPng(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      (0 until h).foreach(y => (0 until w).foreach(x =>
        img.setRGB(x, y, (x << 16) | (y << 8) | 7)))
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val df = Seq(
      (1L, coordPng(4, 2)),
      (2L, "junk".getBytes("UTF-8"))
    ).toDF("id", "payload")
    val out = Multimodal.decodeWith(df, "payload",
      new Multimodal.ResizeDecoder(2, 1))
      .select($"id", $"features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // dst(0,0) <- src(floor(0*4/2)=0, floor(0*2/1)=0) = (r=0,g=0,b=7)
    // dst(1,0) <- src(floor(1*4/2)=2, 0)              = (r=2,g=0,b=7)
    assert(out(1L) === Seq(0.0, 0.0, 7.0, 2.0, 0.0, 7.0))
    assert(out(2L) === Seq.fill(6)(-1.0))
    // upsample path: 1x1 source fills the whole 2x2 grid
    val up = Multimodal.decodeWith(
      Seq((9L, coordPng(1, 1))).toDF("id", "payload"), "payload",
      new Multimodal.ResizeDecoder(2, 2))
      .select($"features").collect().head.getSeq[Double](0)
    assert(up === Seq.fill(4)(Seq(0.0, 0.0, 7.0)).flatten)
  }

  test("WavHeaderDecoder reads rate/channels/duration from RIFF bytes") {
    // minimal valid WAV: RIFF/WAVE + "fmt " (PCM, stereo, 44100 Hz,
    // 16-bit) + "data" of 176400 bytes => exactly 1.0 s
    def wav(rate: Int, channels: Int, bps: Int, dataLen: Int): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")); b.putInt(36 + dataLen)
      b.put("WAVE".getBytes("US-ASCII"))
      b.put("fmt ".getBytes("US-ASCII")); b.putInt(16)
      b.putShort(1.toShort); b.putShort(channels.toShort)
      b.putInt(rate); b.putInt(rate * channels * bps / 8)
      b.putShort((channels * bps / 8).toShort); b.putShort(bps.toShort)
      b.put("data".getBytes("US-ASCII")); b.putInt(dataLen)
      b.array() // header only — the decoder needs no payload bytes
    }
    val df = Seq(
      (1L, wav(44100, 2, 16, 176400)),
      (2L, wav(16000, 1, 16, 64000)),
      (3L, "not audio".getBytes("UTF-8"))).toDF("id", "payload")
      .repartition(2)
    val out = Multimodal.decodeWith(df, "payload", new Multimodal.WavHeaderDecoder)
      .select($"id", $"features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out(1L) === Seq(3.0, 44100.0, 2.0, 1.0))
    assert(out(2L) === Seq(3.0, 16000.0, 1.0, 2.0))
    assert(out(3L) === Seq(0.0, 0.0, 0.0, 0.0))
  }

  test("flattenNested expands nested structs with joined names") {
    import graft.syntax._
    val df = Seq((1, ("x", (2.0, true)))).toDF("id", "s")
      .select($"id", $"s._1".as("a"),
        struct($"s._1".as("inner"), $"s._2._1".as("v")).as("nested"))
    val flat = df.flattenNested()
    assert(flat.columns.toSeq === Seq("id", "a", "nested_inner", "nested_v"))
    assert(flat.select("nested_v").as[Double].head() === 2.0)
  }

  test("display footers/labels survive selection and render") {
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("k", "v")
    val withMeta = graft.functions.Display.withLabels(
      graft.functions.Display.withFooters(df, Map("v" -> "Total: 3.0")), Seq("k"))
    val selected = withMeta.select($"k", $"v")
    assert(graft.functions.Display.footers(selected) === Map("v" -> "Total: 3.0"))
    assert(graft.functions.Display.labelColumns(selected) === Seq("k"))
    val s = graft.functions.Display.showString(withMeta)
    assert(s.contains("Total: 3.0") && s.contains("k"))
  }

  test("display formatting follows the reference option rules: " +
    "precision, scientific cutover, separators, Inv, string clip") {
    import graft.functions.Display
    val o = Display.Options()
    import org.apache.spark.sql.types._
    // PRECISION=2 fixed floats inside the 10^±6 band
    assert(Display.formatCell(3.14159, DoubleType, o) === "3.14")
    assert(Display.formatCell(-0.5, DoubleType, o) === "-0.50")
    assert(Display.formatCell(0.0, DoubleType, o) === "0.00")
    // E_THRESHOLD=6 flips to scientific at E_PRECISION=3
    assert(Display.formatCell(1.5e7, DoubleType, o) === "1.500e+07")
    assert(Display.formatCell(2e-7, DoubleType, o) === "2.000e-07")
    // ints group thousands only when NUMBER_SEPARATOR is on
    assert(Display.formatCell(1234567L, LongType, o) === "1234567")
    val sep = o.copy(numberSeparator = true)
    assert(Display.formatCell(1234567L, LongType, sep) === "1,234,567")
    assert(Display.formatCell(-1234.5, DoubleType, sep) === "-1,234.50")
    // invalids render Inv (null and NaN alike); infinities keep sign
    assert(Display.formatCell(null, DoubleType, o) === "Inv")
    assert(Display.formatCell(Double.NaN, DoubleType, o) === "Inv")
    assert(Display.formatCell(Double.NegativeInfinity, DoubleType, o) === "-Inf")
    // MAX_STRING_WIDTH=15 clips with ellipsis
    assert(Display.formatCell("a" * 20, StringType, o) === "a" * 12 + "...")
    assert(Display.formatCell("short", StringType, o) === "short")
  }

  test("display head...tail elision and numeric right-justification") {
    import graft.functions.Display
    val df = (1 to 100).map(i => (i.toLong, s"row$i")).toDF("n", "s")
    val s = Display.showString(df, Display.Options(headRows = 3, tailRows = 2))
    val lines = s.split("\n")
    // header + 3 head + "..." + 2 tail = 7 lines
    assert(lines.length === 7, s)
    assert(lines(4).trim.startsWith("..."))
    assert(s.contains("row1") && s.contains("row100") && !s.contains("row50"))
    // the numeric column right-justifies: "1" sits at the cell's end
    val hdr = lines.head
    val nEnd = hdr.indexOf(" |")
    assert(lines(1).substring(0, nEnd).endsWith("1"))
    // rowAll forces the full frame out
    val all = Display.showString(df,
      Display.Options(headRows = 3, tailRows = 2, rowAll = true))
    assert(all.split("\n").length === 101 && all.contains("row50"))
  }

  test("transpose flips a small frame; labels become headers") {
    val df = Seq(("r1", 1.0, 10.0), ("r2", 2.0, 20.0)).toDF("k", "a", "b")
    val t = Reshape.transpose(df, "k")
    assert(t.columns.toSeq === Seq("column", "r1", "r2"))
    val m = t.collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(m === Map("a" -> ((1.0, 2.0)), "b" -> ((10.0, 20.0))))
  }

  test("Tables.info reports schema and row count from the footer") {
    val (inf, jobs) = jobsOf(Tables.info(spark, "/root/testdata/sf0.001/region.parquet")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(3))).toMap)
    assert(inf("r_regionkey") === (("int", 5L)))
    assert(inf("r_name")._1 === "string")
    assert(jobs === 0, "Tables.info ran a Spark job")
  }

  test("construction-time writes share one per-JVM scratch directory") {
    val dir = "/root/testdata/sf0.001"
    def stackDirs = java.nio.file.Files.list(java.nio.file.Paths.get("/tmp")).toArray
      .count(_.toString.startsWith("/tmp/graft_stack"))
    val before = stackDirs
    def parents(q: String) = SparkEntry.queries(q)(spark, dir).inputFiles.toSeq
      .map(f => new org.apache.hadoop.fs.Path(f).getParent.getParent.toUri.getPath).toSet
    val first = parents("q236_stacked_load")
    assert(parents("q236_stacked_load") === first)
    assert(first.size === 1, s"q236 read from $first")
    assert(stackDirs === before, "a q236 build made a temp directory")
    val root = new java.io.File(Tables.scratch("q236", dir)).getParent
    Seq("q65_csv_roundtrip", "q66_parquet_partitioned", "q201_zorder_scan",
      "q236_stacked_load").foreach { q =>
      SparkEntry.queries(q)(spark, dir).inputFiles.foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f).toUri.getPath
        assert(path.startsWith(root + "/"), s"$q read $path")
        assert(!path.matches("/tmp/graft_(csv|pq|zord)_.*"), s"$q read $path")
      }
    }
  }

  test("accumRatio divides matching pivot cells") {
    val num = Seq(("a", 10.0, 20.0)).toDF("k", "x", "y")
    val den = Seq(("a", 2.0, 5.0)).toDF("k", "x", "y")
    val out = Reshape.accumRatio(num, den, "k").as[(String, Double, Double)].head()
    assert(out === (("a", 5.0, 4.0)))
  }

  test("accumCols: plain/mean/ratio/pct/filtered measures + recombined Total") {
    import graft.operators.Reshape
    import graft.operators.Reshape.AccumColSpec
    val df = Seq(
      ("a", 1.0, 10.0), ("a", 3.0, 30.0),
      ("b", 5.0, 20.0), ("b", 7.0, 40.0)).toDF("k", "v", "w")
    val specs = Seq(
      AccumColSpec("sv", col("v")),
      AccumColSpec("mw", col("w"), func = "mean"),
      AccumColSpec("r", col("v"), Some(col("w"))),
      AccumColSpec("p", col("v"), pct = true),
      AccumColSpec("mx", col("w"), func = "max"),
      AccumColSpec("fs", col("v"), filter = Some(col("w") >= 30.0)))
    val out = Reshape.accumCols(df, "k", specs)
      .as[(String, Double, Double, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(out("a") === (("a", 4.0, 20.0, 0.1, 25.0, 30.0, 3.0)))
    assert(out("b") === (("b", 12.0, 30.0, 0.2, 75.0, 40.0, 7.0)))
    // Total row recombines: sum 16, mean 25 (NOT mean-of-means), ratio
    // 16/100, pct 100, max 40, filtered sum 3+7
    assert(out("Total") === (("Total", 16.0, 25.0, 0.16, 100.0, 40.0, 10.0)))
  }

  test("Meta.applySchema/info/doc: descriptions live in column metadata") {
    import graft.functions.Meta
    val df = Seq((1L, "x")).toDF("id", "name")
    val (annotated, deviations) = Meta.applySchema(df, Map(
      "id" -> Meta.ColSchema("primary key", "team-data", Some("monotonic")),
      "name" -> Meta.ColSchema("display name"),
      "ghost" -> Meta.ColSchema("not a column")))
    assert(deviations === Seq("ghost"))
    // metadata survives projection/rename chains (schema-carried)
    val transformed = annotated.select(col("id"), col("name"))
      .withColumnRenamed("name", "label").filter(col("id") > 0)
    val inf = Meta.info(transformed, Some("t"))
    val byName = inf.items.map(i => i.name -> i).toMap
    assert(byName("id").description === "primary key")
    assert(byName("id").steward === "team-data")
    assert(byName("label").description === "display name")
    assert(byName("label").steward === Meta.NoSteward)
    assert(Meta.detail(transformed, "id") === Some("monotonic"))
    val d = Meta.doc(transformed, Some("my table"))
    assert(d.contains("my table") && d.contains("primary key") &&
      d.contains("team-data"))
  }

  test("Meta.registerFunction: named registry with doc strings (register_function analog)") {
    import graft.functions.Meta
    Meta.registerFunction("count_by_k", "rows per key, sorted",
      d => d.groupBy("k").count().orderBy("k"))
    try {
      assert(Meta.registeredFunctions.contains("count_by_k"))
      assert(Meta.functionDoc("count_by_k") === Some("rows per key, sorted"))
      val df = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
      val out = Meta.call("count_by_k", df).as[(String, Long)].collect().toSeq
      assert(out === Seq(("a", 2L), ("b", 1L)))
      // re-registering replaces (setattr semantics)
      Meta.registerFunction("count_by_k", "v2", d => d.limit(1))
      assert(Meta.functionDoc("count_by_k") === Some("v2"))
      val err = intercept[IllegalArgumentException](Meta.call("nope", df))
      assert(err.getMessage.contains("no registered function"))
    } finally Meta.unregisterFunction("count_by_k")
  }

  test("flattenNested -> flattenUndo is the identity on nested frames") {
    import graft.syntax._
    val df = Seq((1L, ("x", 2.0, (true, 7L)), 9.0))
      .toDF("id", "s", "v")
      .select(col("id"),
        col("s._1").as("a"),
        struct(col("s._2").as("m"),
          struct(col("s._3._1").as("f"), col("s._3._2").as("g")).as("inner"))
          .as("nest"),
        col("v"))
    val flat = df.flattenNested("/")
    assert(flat.columns.toSeq ===
      Seq("id", "a", "nest/m", "nest/inner/f", "nest/inner/g", "v"))
    val undone = flat.flattenUndo("/")
    assert(undone.schema === df.schema)
    assert(undone.collect().toSeq === df.collect().toSeq)
  }

  test("MultisetOps.cascade(f) equals applying f per member; members split keys") {
    import graft.operators.{GroupOps, MultisetOps}
    val df = Seq(("a", 1.0, 10.0), ("a", 2.0, 20.0), ("b", 3.0, 30.0))
      .toDF("k", "x", "y")
    // multi-func agg -> flattened multiset frame (sum_x, sum_y, mean_x, mean_y)
    val ms = GroupOps.aggMulti(df, Seq("k"), Seq("x", "y"),
      Seq("sum" -> (sum(_)), "mean" -> (avg(_))))
    val mem = MultisetOps.members(ms, Seq("k"), "_")
    assert(mem.keySet === Set("sum", "mean"))
    assert(mem("sum").columns.toSeq === Seq("k", "x", "y"))
    // cascade a per-member transform (scale both value cols by 10)
    val scaled = MultisetOps.cascade(ms, Seq("k"), "_") { d =>
      d.select(col("k"), (col("x") * 10).as("x"), (col("y") * 10).as("y"))
    }
    val got = scaled.orderBy("k")
      .select("k", "sum_x", "sum_y", "mean_x", "mean_y")
      .as[(String, Double, Double, Double, Double)].collect().toSeq
    assert(got === Seq(("a", 30.0, 300.0, 15.0, 150.0),
      ("b", 30.0, 300.0, 30.0, 300.0)))
    // cascade(reduce) == per-member whole-frame agg (rt_multiset cascade
    // of Dataset.sum): keys kept as the grouping of the reduce
    val reduced = MultisetOps.cascade(ms, Seq("k"), "_") { d =>
      d.groupBy(col("k")).agg(sum(col("x")).as("x"))
    }
    assert(reduced.columns.toSeq === Seq("k", "sum_x", "mean_x"))
  }

  test("sampleSeeded: deterministic per seed, independent across seeds, frac-sized") {
    import graft.operators.Split
    val df = spark.range(0, 2000).toDF("id")
    val a1 = Split.sampleSeeded(df, "id", 0.3, seed = 7L)
      .as[Long].collect().toSet
    val a2 = Split.sampleSeeded(df.repartition(13), "id", 0.3, seed = 7L)
      .as[Long].collect().toSet
    assert(a1 === a2) // partitioning-invariant
    assert(math.abs(a1.size - 600) < 80, s"got ${a1.size}")
    val b = Split.sampleSeeded(df, "id", 0.3, seed = 8L).as[Long].collect().toSet
    assert(b !== a1) // different seed, different sample
    val overlap = (a1 & b).size.toDouble / a1.size
    assert(overlap > 0.15 && overlap < 0.5, s"overlap $overlap") // ~0.3
    // exact-k form: deterministic and k-sized
    val k1 = Split.sampleSeededK(df, "id", 50, seed = 7L).as[Long].collect().toSet
    val k2 = Split.sampleSeededK(df.repartition(7), "id", 50, seed = 7L)
      .as[Long].collect().toSet
    assert(k1 === k2 && k1.size === 50)
  }

  test("weightedQuantilesBy resolves q = 1.0 with fractional weights (ulp clamp)") {
    import graft.operators.Sketch
    // weights engineered as many small fractions - cumulative FP sums
    // will not exactly reproduce the total; q=1.0 must still resolve
    val df = (1 to 997).map(i => ("g", i.toDouble, 0.1 + (i % 7) * 0.01))
      .toDF("k", "v", "w")
    val got = Sketch.weightedQuantilesBy(df, Seq("k"), col("v"), col("w"),
      Seq(0.5, 1.0), bins = 32)
      .orderBy("q").as[(String, Double, Double)].collect()
    assert(got.length === 2, s"lost a boundary quantile: ${got.mkString(",")}")
    assert(got(1)._3 === 997.0) // q=1.0 == the max value
  }
}
