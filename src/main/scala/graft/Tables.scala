package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** Loaders for the driver-generated TPC-H-ish test tables (TESTDATA.md).
  *
  * Riptable's IO is its SDS format (`riptable/rt_sds.py:719` save_sds /
  * `:1855` load_sds, zstd per-column blocks); we standardize on Parquet,
  * which gives the same columnar+zstd layout plus distributed scans,
  * predicate pushdown, and column pruning for free. `load_sds(stack=True)`
  * (multi-file concat into a PDataset, `rt_sds.py:1855`) maps to a
  * multi-path `spark.read.parquet(paths: _*)`.
  *
  * Table resolution. `load_sds` reads a file's header once and then
  * works on the loaded columns; a plain `spark.read.parquet` instead
  * runs one schema-inference job on every call. So `table` and
  * `floored` resolve a base table's schema once per session, from the
  * file's parquet footer on the driver (no Spark job): the schema is a
  * driver-side [[FrameCache]] artifact keyed by (session, qualified
  * path, file length, modification time), and every call reads with
  * that known schema. Rewriting the file changes its length or mtime,
  * so the next call re-resolves. `FrameCache.clear()` drops the
  * schemas with every other entry, so the first call after a clear
  * reads one footer again.
  *
  * Every call still gets a fresh read, never a shared DataFrame: a
  * self-join (`nation` twice in TPC-H q7/q8) needs new attribute IDs
  * on each side. The footer schema equals the inferred one, and the
  * read's plan canonicalizes equal to an inferring read (TablesSpec),
  * so FrameCache keys built on top do not depend on how the schema was
  * resolved. A directory (a Spark-written dataset, such as the 10x
  * fixtures) or a path that cannot be stat-ed is read plainly —
  * inferring, unfloored — because a directory's length and mtime do not
  * identify its contents. `stacked` and `info` read arbitrary paths and
  * are not memoized.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Engine time contract (SURVEY §1.2): `events.ts` is epoch-nanoseconds
    * int64 — the DateTimeNano representation (riptable stores UTC nanos,
    * `rt_datetime.py:4183`). The testdata generator has shipped this column
    * both as int64 nanos and as parquet `timestamp[us]` (TIMESTAMP_NTZ in
    * Spark); riptable's constructor likewise accepts ints, strings or
    * datetimes (`rt_datetime.py:2718` DateTimeNano.__new__). We normalize
    * at the load boundary so every downstream operator sees ONE dtype no
    * matter which generation of parquet it reads. Sub-microsecond digits
    * are zero when the source is µs-precision — documented in README.
    *
    * NTZ wall-clock is interpreted as UTC: the engine runs with
    * `spark.sql.session.timeZone=UTC` (the `RipSession` profile sets it),
    * which matches DuckDB's `epoch_ns(ts)` on the same parquet.
    */
  private val epochNanosContract: Map[String, Set[String]] =
    Map("events" -> Set("ts"))

  /** Project Timestamp/TimestampNTZ columns under the epoch-nanos contract
    * to int64 nanos, name-preserving; long columns pass through untouched.
    * Pure codegen'd scan-level projection — no shuffle, pushdown intact.
    */
  def normalizeEpochNanos(df: DataFrame, cols: Set[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types._
    val needs = df.schema.fields.exists(f =>
      cols(f.name) && (f.dataType == TimestampType || f.dataType == TimestampNTZType))
    if (!needs) df
    else df.select(df.schema.fields.map { f =>
      f.dataType match {
        case TimestampType if cols(f.name) =>
          (unix_micros(col(f.name)) * 1000L).as(f.name)
        case TimestampNTZType if cols(f.name) =>
          // NTZ→TS cast uses the session zone; engine contract is UTC.
          (unix_micros(col(f.name).cast(TimestampType)) * 1000L).as(f.name)
        case _ => col(f.name)
      }
    }.toIndexedSeq: _*)
  }

  /** Parallelism floor for the FACT tables (optimization guide §2.5
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read" + §6 `minPartitionNum`): the test corpus ships each
    * table as ONE single-row-group parquet file, so every scan is one
    * split and all pre-shuffle map work — shingling, tokenizing, n-gram
    * explodes, vector folds, partial aggregation — serializes through a
    * single task no matter how many cores the session has (measured:
    * q245_ngram_diversity wall 1.77 s ≈ cpu 1.62 s on 32 cores — one
    * busy core). `minPartitionNum` cannot help (a row group is not
    * splittable), so the floor is an explicit hash repartition on the
    * table's natural key, applied ONLY when the scan's estimated split
    * count is below the session's default parallelism — at production
    * scale (many splits ≥ cores) the condition is false and NO exchange
    * is added, so this is scale-adaptive, not a local[32] constant.
    * Keys are the tables' join/window keys (events→user_id so the
    * §2.5 window family's PARTITION BY user_id reuses the cached
    * partitioning and skips its own exchange — guide §2.4).
    *
    * Scope: the three PIPELINE tables only. Their operators are
    * partition-invariant by design (integer-exact micro-units, long
    * counts, per-row element-order folds — PropertySpec pins). The
    * TPC-H tables (lineitem/orders) are deliberately NOT floored:
    * their money sums (`sum(l_extendedprice·(1−l_discount))` at
    * round(2)) are float-merge-order-sensitive, and re-partitioning
    * flipped q162_tpch_q11's sum by one cent at sf0.01 against the
    * DuckDB oracle (measured r16) — the oracle gate has no tolerance,
    * so those scans keep their file order. Dimension tables broadcast.
    */
  /** Per-table floor target (key, bytes-per-task): the width of the
    * under-split-scan floor is ⌈bytes/target⌉ (see flooredByKey), so
    * the target encodes the table's per-BYTE work class, not a cluster
    * size. documents/embeddings rows explode 10–50× at scan time
    * (shingles, n-grams, vector folds) — 64 KB of zstd parquet is
    * already ~0.5–1 M exploded elements, worth a task. events rows are
    * narrow numerics consumed by window functions — 256 KB/task keeps
    * the window family at single-digit partitions on the bench corpus
    * (driver r16: the window queries ran FASTER 8-way than 32-way).
    */
  private val floorKeys: Map[String, (String, Long)] = Map(
    "events" -> (("user_id", 262144L)),
    "documents" -> (("doc_id", 65536L)),
    "embeddings" -> (("vec_id", 65536L)))

  /** Base table `name` under `dir`: epoch-nanos normalized, and floored
    * when it is a pipeline table (floorKeys). Its schema is resolved
    * once per session (header doc); the read itself is fresh per call.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val (raw, bytes) = read(spark, dir, name)
    floorKeys.get(name) match {
      case Some((key, target)) => flooredByKey(spark, raw, bytes, key, target)
      case None => raw
    }
  }

  /** One fresh, epoch-nanos-normalized read of `dir/name.parquet`, and
    * the file's length when it is a file that could be stat-ed. The one
    * stat per call supplies both the schema memo's key and the floor's
    * byte count. `None` is the explicit unknown branch: plain inferring
    * read, no memo, no floor.
    */
  private def read(spark: SparkSession, dir: String,
                   name: String): (DataFrame, Option[Long]) = {
    val path = s"$dir/$name.parquet"
    val file = try {
      val p = new org.apache.hadoop.fs.Path(path)
      Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p)).filter(_.isFile)
    } catch { case NonFatal(_) => None }
    val raw = file match {
      case None => spark.read.parquet(path)
      case Some(st) =>
        val schema = FrameCache.memo(spark, "Tables.schema")(
          st.getPath.toString, st.getLen, st.getModificationTime)(
          footer(spark, st)._1)
        spark.read.schema(schema).parquet(path)
    }
    (epochNanosContract.get(name).fold(raw)(normalizeEpochNanos(raw, _)),
      file.map(_.getLen))
  }

  /** (Spark schema, row count) of one parquet file, read from its
    * footer on the driver with no Spark job. The schema is what schema
    * inference computes for a single file, without the job: the schema
    * Spark stored when it wrote the file if present, otherwise the
    * footer's parquet schema converted under the session's conf (which
    * carries `nanosAsLong` and the binary/int96 settings).
    */
  private def footer(spark: SparkSession,
                     st: org.apache.hadoop.fs.FileStatus): (StructType, Long) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(st, spark.sessionState.newHadoopConf()))
    val (meta, rows) = try (reader.getFooter.getFileMetaData, reader.getRecordCount)
      finally reader.close()
    val schema = Option(meta.getKeyValueMetaData.get(SparkRowMetadataKey))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case t: StructType => t }
      .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
        .convert(meta.getSchema))
    (schema, rows)
  }

  // ParquetReadSupport.SPARK_METADATA_KEY
  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The scale-adaptive floor itself (see floorKeys doc): repartition
    * on `key` ONLY when the scan's estimated split count is below the
    * DATA-PROPORTIONAL width min(defaultParallelism, ⌈bytes/target⌉)
    * (VERDICT r16 #3 — the r16 floor fanned every under-split scan to
    * `defaultParallelism` tasks regardless of volume, so a 2.7 MB
    * orders file became 32 tasks of ~85 KB: pure per-task overhead;
    * the driver measured q146 at 0.55× and the FULL sweep faster on 8
    * cores than 32, with executor CPU +54%). `targetBytes` is a
    * per-task-WORK unit (see floorKeys for the per-table work
    * classes), not a cluster-size tunable: at production scale the
    * floor stays a no-op (splits ≥ width), so the constant only
    * decides how aggressively a SMALL under-split scan fans out.
    * Shared by `table` (pipeline tables, always) and `floored`
    * (per-query opt-in for the TPC-H tables). `bytes` comes from
    * `read`'s stat; an unknown size means no floor. The decision is
    * per-call arithmetic, not memoized, because `filesMaxPartitionBytes`
    * is a runtime conf.
    */
  private def flooredByKey(spark: SparkSession, raw: DataFrame,
                           bytes: Option[Long], key: String,
                           targetBytes: Long): DataFrame = bytes match {
    case None => raw
    case Some(bytes) =>
      // estimated splits without planning an RDD: bytes / split size
      // (single row groups make this an over-estimate, never under —
      // erring on NOT repartitioning at scale, which is the safe side)
      val maxSplit = org.apache.spark.sql.internal.SQLConf.get
        .filesMaxPartitionBytes
      val want = math.min(spark.sparkContext.defaultParallelism.toLong,
        math.max(1L, (bytes + targetBytes - 1) / targetBytes)).toInt
      val splits = math.max(1L, (bytes + maxSplit - 1) / maxSplit)
      if (splits >= want || want <= 1) raw
      else raw.repartition(want, org.apache.spark.sql.functions.col(key))
  }

  /** Per-query opt-in floor for the TPC-H tables. The global floor
    * excludes lineitem/orders because rounded float money sums are
    * merge-order-sensitive against the exact oracle gate (floorKeys
    * doc); queries whose results are provably partition-invariant —
    * counts, ranks over a total order, min/max, order statistics —
    * opt in here, keying on their join/group key so the added exchange
    * is also the one their first shuffle needs (guide §2.4). Same
    * scale-adaptive condition: a no-op when the scan already has
    * ≥ defaultParallelism splits. The schema is resolved once per
    * session, as in `table`.
    */
  def floored(spark: SparkSession, dir: String, name: String,
              key: String): DataFrame = {
    val (raw, bytes) = read(spark, dir, name)
    // TPC-H rows are narrow numerics aggregated by codegen'd partial
    // aggregation — per-byte work is the lightest class here, so the
    // opt-in floor targets 1 MB of zstd parquet per task (sf0.1:
    // lineitem 10.8 MB → 11 tasks instead of the r16 fan to 32)
    flooredByKey(spark, raw, bytes, key, 1048576L)
  }

  /** Multi-file stacked load — the PDataset analog (`rt_pdataset.py:18`):
    * each input file becomes a slice tagged by its source path.
    */
  def stacked(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.input_file_name
    spark.read.parquet(paths: _*).withColumn("p_src", input_file_name())
  }

  /** Z-order (Morton) value over numeric columns — the layout key for
    * multi-dimensional data skipping. Each column is width-binned into
    * 2^bits buckets over its [min, max] (stats broadcast as a one-row
    * frame, same shape as Sketch.histQuantiles), and the bucket bits
    * interleave into one long, so rows close in Z are close in EVERY
    * keyed dimension. Writing range-partitioned by this value gives
    * each parquet file a tight min/max envelope on ALL the keyed
    * columns at once — a predicate on ANY of them prunes most files at
    * planning time, where a single-column sort only skips on its
    * leading column. Pure codegen'd projection; the only shuffle is
    * the range partitioning the writer needs anyway.
    */
  def zOrderValue(df: DataFrame, cols: Seq[String],
                  bits: Int = 12): DataFrame = {
    import org.apache.spark.sql.functions._
    require(cols.nonEmpty && cols.size * bits <= 62,
      s"${cols.size} cols x $bits bits must fit a long")
    val n = (1L << bits) - 1
    val aggs = cols.zipWithIndex.map { case (c, i) =>
      min(col(c).cast("double")).as(s"__lo$i")
    } ++ cols.zipWithIndex.map { case (c, i) =>
      max(col(c).cast("double")).as(s"__hi$i")
    }
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val binned = df.crossJoin(broadcast(stats))
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (col(s"__lo$i"), col(s"__hi$i"))
      when(hi === lo, lit(0L)).otherwise(least(
        floor((col(c).cast("double") - lo) / (hi - lo)
          * lit((n + 1).toDouble)), lit(n))).cast("long")
    }
    // interleave: bit b of column i lands at position b*k + i
    val k = cols.size
    val z = (0 until bits).flatMap { b =>
      buckets.zipWithIndex.map { case (bk, i) =>
        shiftleft(shiftright(bk, b).bitwiseAND(1), b * k + i)
      }
    }.reduce((a, c) => a.bitwiseOR(c))
    binned.withColumn("__z", z)
      .drop((0 until k).flatMap(i => Seq(s"__lo$i", s"__hi$i")): _*)
  }

  /** Write `df` z-ordered by `cols` into `nFiles` range-partitioned
    * parquet files. Each file's footer then carries a tight min/max on
    * every keyed column — the planning-time skipping that makes
    * multi-dimensional point/range scans cheap at 100 TB.
    */
  def writeZOrdered(df: DataFrame, cols: Seq[String], path: String,
                    nFiles: Int, bits: Int = 12): Unit = {
    import org.apache.spark.sql.functions.col
    zOrderValue(df, cols, bits)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** sds_info / sds_tree analog (`riptable/rt_sds.py:1015,1026`):
    * inspect a parquet file's or dataset directory's schema and row
    * count from footers on the driver, without a load or a Spark job.
    * The schema is the first data file's; the count sums every file's.
    */
  def info(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(p).toSeq.filter(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
    require(files.nonEmpty, s"no parquet files at $path")
    val footers = files.map(footer(spark, _))
    val nRows = footers.map(_._2).sum
    footers.head._1.fields.map(f => (f.name, f.dataType.simpleString, f.nullable, nRows))
      .toSeq.toDF("column", "dtype", "nullable", "n_rows")
  }

  /** A path for query `name`'s construction-time writes at scale `dir`
    * (q65's CSV, q66's partitioned parquet, q201's z-ordered files,
    * q236's slices). Every path lies under one temp directory made once
    * per JVM and deleted at its exit, so two JVMs never overwrite each
    * other's files and repeat builds reuse one directory. It sits under
    * java.io.tmpdir (/tmp), which `Explain.canonicalText` normalizes.
    */
  def scratch(name: String, dir: String): String =
    s"$scratchRoot/${name}_${dir.replaceAll("[^0-9.]", "")}"

  private lazy val scratchRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_scratch").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(d))
    d.toString
  }

  /** Sentinel↔null IO compatibility shim (SURVEY §4.3). Riptable
    * persists invalid values as per-dtype sentinels
    * (`riptable/rt_enum.py:88` INVALID_DICT: int8 −128, int16 −32768,
    * int32/int64 MIN, float NaN, str ""); Spark's invalid is null.
    * `fromSentinels` nullifies sentinels on data read FROM a
    * riptable-written store; `toSentinels` re-materializes them for
    * data written back. Pure codegen'd projections — scan-speed, no
    * shuffle. Strings are opt-in ("" is a legitimate value in many
    * corpora; riptable's str invalid is "" so the mapping is lossy).
    */
  def fromSentinels(df: DataFrame, includeStrings: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, when, isnan, lit}
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.map { f =>
      val c = col(f.name)
      val cleaned = f.dataType match {
        case ByteType => when(c === lit(Byte.MinValue), lit(null)).otherwise(c)
        case ShortType => when(c === lit(Short.MinValue), lit(null)).otherwise(c)
        case IntegerType => when(c === lit(Int.MinValue), lit(null)).otherwise(c)
        case LongType => when(c === lit(Long.MinValue), lit(null)).otherwise(c)
        case FloatType | DoubleType => when(isnan(c), lit(null)).otherwise(c)
        case StringType if includeStrings => when(c === "", lit(null)).otherwise(c)
        case _ => c
      }
      cleaned.cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** Inverse of fromSentinels: null → the riptable sentinel for the
    * column's dtype, making the frame safe to hand to a sentinel-reading
    * consumer.
    */
  def toSentinels(df: DataFrame, includeStrings: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.map { f =>
      val c = col(f.name)
      val filled = f.dataType match {
        case ByteType => coalesce(c, lit(Byte.MinValue))
        case ShortType => coalesce(c, lit(Short.MinValue))
        case IntegerType => coalesce(c, lit(Int.MinValue))
        case LongType => coalesce(c, lit(Long.MinValue))
        case FloatType => coalesce(c, lit(Float.NaN))
        case DoubleType => coalesce(c, lit(Double.NaN))
        case StringType if includeStrings => coalesce(c, lit(""))
        case _ => c
      }
      filled.cast(f.dataType).as(f.name)
    }
    df.select(cols.toIndexedSeq: _*)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
