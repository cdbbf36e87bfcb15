package graft.io

import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.parquet.hadoop.metadata.ParquetMetadata

/** Dataset read/write facade — the Spark-native twin of the reference
  * `datatoolz.io.DataIO` (reference: datatoolz/io.py:16-206).
  *
  * | reference                        | here                                   |
  * |----------------------------------|----------------------------------------|
  * | filetype parquet/dsv/jsonlines   | same (`Format`)                        |
  * | gzip=True                        | `compression=gzip` writer/reader codec |
  * | partition_by=[...]               | `DataFrameWriter.partitionBy` (hive)   |
  * | suffix=[c1,c2] (chunked output)  | `chunks=n` → n files per partition     |
  * | drop_partitions                  | `restorePartitions=false` on read      |
  * | threaded multi-file read         | distributed scan of path/glob          |
  * | partition_transformer            | `FileSystems.pathFor` (path builder)   |
  *
  * Scale posture: the reference materializes each partition on the
  * driver and uploads with a thread pool; here every partition is
  * written by the executor that owns it, output layout is hive-style so
  * downstream readers partition-prune, and `maxRecordsPerFile` bounds
  * file sizes at 100 TB.
  */
object GraftIO {

  sealed trait Format { def name: String }
  case object Parquet extends Format { val name = "parquet" }
  case object Dsv extends Format { val name = "dsv" }
  case object JsonLines extends Format { val name = "jsonlines" }
  case object Orc extends Format { val name = "orc" }

  object Format {
    def apply(name: String): Format = name match {
      case "parquet"           => Parquet
      case "dsv" | "csv" | "tsv" => Dsv
      case "jsonlines" | "json"  => JsonLines
      case "orc"               => Orc
      case other => throw new IllegalArgumentException(s"Unsupported format: $other")
    }
  }

  /** Write `df` under `path`.
    *
    * @param partitionBy   hive-style output partitioning columns
    * @param gzip          gzip-compress data files (parquet: gzip codec)
    * @param sep           dsv delimiter (reference default: tab)
    * @param header        dsv header line
    * @param chunks        target output files per partition (reference
    *                      `suffix=[...]` list length); 0 = leave as-is
    * @param maxRecordsPerFile upper bound per file (scale guard), 0 = off
    * @param options       extra DataFrameWriter options, applied LAST so
    *                      they can override any default here — the
    *                      analogue of the reference's `pandas_kwargs`
    *                      passthrough (io.py:149-173)
    */
  def write(
      df: DataFrame,
      path: String,
      format: Format = Parquet,
      gzip: Boolean = false,
      sep: String = "\t",
      header: Boolean = true,
      partitionBy: Seq[String] = Nil,
      chunks: Int = 0,
      maxRecordsPerFile: Long = 0L,
      mode: SaveMode = SaveMode.Overwrite,
      options: Map[String, String] = Map.empty): Unit = {

    // chunks per hive-partition: repartition on (partition cols, chunk
    // id) so each partition directory gets ~`chunks` files written by
    // distinct tasks — the distributed analogue of the reference's
    // suffix-list chunking (io.py:92-99). The chunk id hashes the DATA
    // columns (deterministic), so a task retry recomputes identical
    // routing — unlike round-robin/monotonic ids, which can duplicate
    // or drop rows when a lost shuffle partition is recomputed.
    // Unpartitioned writes RANGE-partition the chunk id into exactly
    // `chunks` tasks (hash % n would collide chunk ids into the same
    // task → fewer files than asked). Hive-partitioned writes hash
    // (dirs, chunk) into chunks× the shuffle parallelism so two chunk
    // ids of the SAME directory rarely share a task; exact per-dir file
    // counts belong to `writeNamed`.
    val out =
      if (chunks <= 0) df
      else {
        val dataCols = df.columns.filterNot(partitionBy.contains).map(col).toSeq
        // all-partition-column frames have no content to split on: one
        // chunk per directory (rows within a dir are indistinguishable)
        val chunkKey =
          if (dataCols.isEmpty) lit(0L)
          else pmod(xxhash64(dataCols: _*), lit(chunks.toLong))
        if (partitionBy.isEmpty) df.repartitionByRange(chunks, chunkKey)
        else {
          val parallelism = df.sparkSession.sessionState.conf.numShufflePartitions
          df.repartition(chunks * parallelism, (partitionBy.map(col) :+ chunkKey): _*)
        }
      }

    val writer0 = out.write.mode(mode)
    val writer = if (partitionBy.nonEmpty) writer0.partitionBy(partitionBy: _*) else writer0
    val withMax = if (maxRecordsPerFile > 0)
      writer.option("maxRecordsPerFile", maxRecordsPerFile.toString) else writer

    // SaveMode.Ignore on an existing target is a NO-OP save — the
    // sidecar must not be rewritten with the ignored frame's schema
    // (it describes data that was never written)
    val ignoredNoop = mode == SaveMode.Ignore && {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).exists(p)
    }
    applyFormat(withMax, format, gzip, sep, header).options(options).save(path)
    if (partitionBy.nonEmpty && !ignoredNoop) writeSchemaSidecar(df, path, partitionBy)
  }

  /** A hive-partitioned write of an EMPTY frame produces no partition
    * directories and no data files — the directory cannot be read back
    * (schema inference has nothing to look at, and partitioned tables
    * CAN legitimately be empty: a filtered export, the first run of an
    * incremental job). Table formats close this gap with metadata;
    * this is the minimal version: every partitioned `write` drops a
    * `_graft_schema.json` sidecar (underscore prefix — invisible to
    * Spark's file listing and to footerStatsIndex) recording the full
    * writer schema and the partition columns, and `read` falls back to
    * it when inference finds no files, returning the correct EMPTY
    * frame (writer-typed schema) instead of UNABLE_TO_INFER_SCHEMA.
    * One driver-side metadata file per write — no data-path cost. */
  private val SchemaSidecar = "_graft_schema.json"

  private def writeSchemaSidecar(
      df: DataFrame, path: String, partitionBy: Seq[String]): Unit = {
    val jq = graft.logging.JsonLogger.quote _
    val payload =
      s"""{"partitionBy":${partitionBy.map(jq).mkString("[", ",", "]")},"schema":${df.schema.json}}"""
    val p = new org.apache.hadoop.fs.Path(path, SchemaSidecar)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(payload.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Read-side half of the sidecar contract: the writer's schema and
    * partition-column list, if a sidecar exists at `path`. */
  private def readSchemaSidecar(
      spark: SparkSession, path: String): Option[(StructType, Seq[String])] = {
    val p = new org.apache.hadoop.fs.Path(path, SchemaSidecar)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(text)
    val parts = (j \ "partitionBy").children.collect { case JString(s) => s }
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(JsonMethods.compact(j \ "schema")).asInstanceOf[StructType]
    Some((schema, parts))
  }

  /** The per-format writer configuration — the SINGLE definition of
    * what this library's dsv/jsonlines/parquet/orc bytes look like,
    * shared by `write` and `writeBucketed` so a bucketed dsv table is
    * byte-compatible with every other dsv written here.
    *
    * Dsv defaults quote an empty string as `""` and write null as an
    * unquoted empty field — which is exactly what makes the roundtrip
    * lossless (read maps them back asymmetrically). ORC has no gzip
    * codec; zlib is the same DEFLATE stream. */
  private def applyFormat[T](
      w: org.apache.spark.sql.DataFrameWriter[T],
      format: Format, gzip: Boolean, sep: String, header: Boolean)
      : org.apache.spark.sql.DataFrameWriter[T] = format match {
    case Parquet => w.format("parquet")
      .option("compression", if (gzip) "gzip" else "snappy")
    // member-chunked gzip (see MemberGzip): byte-level framing only —
    // the file is a standard multi-member gzip stream every reader
    // (gunzip, GZIPInputStream, Hadoop's GzipCodec) consumes whole,
    // but the member index makes the READ side splittable, which
    // plain one-stream gzip text can never be (guide §6)
    case Dsv => w.format("csv")
      .option("sep", sep).option("header", header.toString)
      .option("escape", "\\")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
      .option("compression", if (gzip) classOf[MemberGzipCodec].getName else "none")
    case JsonLines => w.format("json")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
      .option("compression", if (gzip) classOf[MemberGzipCodec].getName else "none")
    case Orc => w.format("orc")
      .option("compression", if (gzip) "zlib" else "snappy")
  }

  /** Bucketed table write — the co-located-join layout for 100 TB
    * fact-fact joins: both sides bucketed (and sorted) on the join key
    * into the same bucket count join with NO shuffle and NO sort —
    * Spark reads matching buckets pairwise. Bucketing requires catalog
    * metadata, so this writes a TABLE (with an explicit data `path`),
    * not a bare directory; `spark.table(table)` reads it back
    * bucket-aware.
    *
    * At 100 TB this is the difference between re-shuffling the fact
    * table on every join and shuffling it ONCE at ingest: size
    * `buckets` so a bucket's largest key-slice fits an executor
    * (buckets × target-file-size ≈ table size).
    */
  def writeBucketed(
      df: DataFrame,
      table: String,
      path: String,
      bucketCols: Seq[String],
      buckets: Int,
      sortCols: Seq[String] = Nil,
      format: Format = Parquet,
      gzip: Boolean = false,
      sep: String = "\t",
      header: Boolean = true,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(bucketCols.nonEmpty, "`bucketCols` must not be empty")
    // Align write tasks with buckets (repartition uses the same
    // Murmur3 HashPartitioning as the bucket-id function): each bucket
    // becomes exactly ONE file instead of tasks×buckets small files,
    // and the reader can trust per-bucket sortedness — with multiple
    // files per bucket Spark must re-sort before a merge join, which
    // forfeits half the point of the layout.
    val aligned = df.repartition(buckets, bucketCols.map(col): _*)
    val w0 = aligned.write.mode(mode).option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    val w1 = if (sortCols.nonEmpty) w0.sortBy(sortCols.head, sortCols.tail: _*) else w0
    applyFormat(w1, format, gzip, sep, header).saveAsTable(table)
  }

  /** Z-order clustered write — multi-dimensional data clustering for
    * file/row-group skipping: each z column is ranked into 256 uniform
    * buckets, the bucket bits are Morton-INTERLEAVED into one z-value,
    * and the data is range-partitioned and sorted on it. Rows close in
    * the z-value are close in EVERY clustered dimension, so parquet
    * min/max statistics prune scans on any of the columns — where a
    * linear sort only ever prunes its leading column. This is the
    * ingest-time layout lever at 100 TB: a fact table queried by both
    * time and key gets pruning on both without storing it twice.
    *
    * Bucketing is uniform over the column's (min, max) — one aggregate
    * pass, codegen'd `width_bucket` per row. Heavily skewed columns
    * would want quantile boundaries instead; the interleave is
    * unchanged. ZOrderSpec measures the actual file-skipping: both
    * clustered dimensions prune, and the linear layout doesn't.
    */
  def writeZOrdered(
      df: DataFrame,
      path: String,
      zCols: Seq[String],
      files: Int,
      format: Format = Parquet,
      gzip: Boolean = false,
      sep: String = "\t",
      header: Boolean = true,
      mode: SaveMode = SaveMode.Overwrite): Unit = {
    require(zCols.size >= 2,
      s"z-ordering needs >= 2 columns (one column is a plain range sort), got $zCols")
    // 8 dims x 8 bits is the 64-bit ceiling: bit j of dimension d lands
    // at j*dims + d, and Java's shiftleft masks the count mod 64, so a
    // 9th dimension would silently alias high-order rank bits onto
    // other dimensions' low-order bits and scramble the clustering
    require(zCols.size <= 8,
      s"z-ordering supports at most 8 columns (64-bit Morton code), got ${zCols.size}")
    require(files > 0, s"files must be positive, got $files")
    val Bits = 8 // 256 rank buckets per dimension
    val nBuckets = 1 << Bits

    // one aggregation pass for every column's value range
    val aggs = zCols.flatMap(c => Seq(
      min(col(c)).cast("double").as(s"__mn_$c"),
      max(col(c)).cast("double").as(s"__mx_$c")))
    val ranges = df.agg(aggs.head, aggs.tail: _*).first()

    val bucketCols: Seq[Column] = zCols.map { c =>
      // an empty frame or an all-null column yields null aggregates;
      // fail with the actual problem instead of an unboxing NPE
      require(!ranges.isNullAt(ranges.fieldIndex(s"__mn_$c")),
        s"writeZOrdered: column '$c' has no non-null values to range over " +
          "(empty input or all-null column)")
      val mn = ranges.getAs[Double](s"__mn_$c")
      val mx = ranges.getAs[Double](s"__mx_$c")
      if (mx == mn) lit(0L)
      // width_bucket sends v == max to bucket n+1; clamp into [0, n-1]
      else least(greatest(
        width_bucket(col(c).cast("double"), lit(mn), lit(mx), lit(nBuckets)) - 1L,
        lit(0L)), lit((nBuckets - 1).toLong))
    }
    // Morton interleave: bit j of dimension d lands at j*dims + d
    val z = (0 until Bits).foldLeft(lit(0L)) { (acc, j) =>
      bucketCols.zipWithIndex.foldLeft(acc) { case (a, (b, d)) =>
        a.bitwiseOR(shiftleft(shiftright(b, j).bitwiseAND(lit(1L)), j * zCols.size + d))
      }
    }

    val out = df.withColumn("__zorder", z)
      .repartitionByRange(files, col("__zorder"))
      .sortWithinPartitions("__zorder")
      .drop("__zorder")
    applyFormat(out.write.mode(mode), format, gzip, sep, header).save(path)
  }

  /** Per-file min/max statistics index over `statCols` — the metadata
    * half of data skipping: the tiny result (one row per file) is the
    * scan planner's input. At 100 TB this table IS the difference
    * between listing+opening every object and opening the handful a
    * predicate can touch — pair it with [[writeZOrdered]] so the
    * ranges are actually narrow on every indexed column.
    *
    * The writer ALREADY computed these statistics: every parquet file
    * footer records per-column min/max. For numeric columns (where
    * parquet stats are exact — string stats may be truncated) the
    * index is therefore assembled from footers alone — a metadata
    * read, no data pass; at sf100 the former full re-scan of the
    * z-ordered layout was one of the operator's four dataset passes.
    * Non-numeric columns, or files written without statistics, fall
    * back to the distributed one-pass scan. */
  def buildStatsIndex(spark: SparkSession, path: String, statCols: Seq[String]): DataFrame = {
    require(statCols.nonEmpty, "statCols must not be empty")
    footerStatsIndex(spark, path, statCols).getOrElse {
      val aggs = statCols.flatMap(c => Seq(
        min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
      val stats = spark.read.parquet(path)
        .groupBy(input_file_name().as("file"))
        .agg(aggs.head, aggs.tail: _*)
      // MATERIALIZE the index: it is one row per file, but its lineage
      // is a scan of the stat columns of the whole dataset — returned
      // lazy, every readPruned would re-run that scan, inverting the
      // point of the index. Collected to the driver and rebuilt as a
      // local DataFrame (NOT localCheckpoint: that stores the blocks on
      // executors, so losing one executor — dynamic allocation, spot
      // nodes — would make every later readPruned fail unrecoverably).
      // One row per file keeps this strictly metadata-sized.
      spark.createDataFrame(
        java.util.Arrays.asList(stats.collect(): _*), stats.schema)
    }
  }

  /** Global (min, max) of `c` over a stats index, folded on the driver
    * (a select over the local index runs no Spark job; an agg would).
    * Null bounds are skipped, as min/max skip nulls; None if none are left. */
  private[graft] def indexBounds(index: DataFrame, c: String): Option[(Long, Long)] = {
    val rows = index.select(col(s"min_$c").cast("long"), col(s"max_$c").cast("long")).collect()
    val mins = rows.filterNot(_.isNullAt(0)).map(_.getLong(0))
    val maxs = rows.filterNot(_.isNullAt(1)).map(_.getLong(1))
    if (mins.isEmpty || maxs.isEmpty) None else Some((mins.min, maxs.max))
  }

  /** Flat data files of `path` — no subdirectories, underscore/dot
    * metadata names excluded: the ONE definition of what the
    * footer-based metadata readers may enumerate. None when the layout
    * has real subdirectories (a flat listing would silently SUBSET a
    * partitioned/appended tree), cannot be listed, or holds no data
    * files. */
  private def flatDataFiles(
      spark: SparkSession, path: String): Option[Array[org.apache.hadoop.fs.FileStatus]] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries =
      try fs.listStatus(root)
      catch { case _: java.io.FileNotFoundException => return None }
    if (entries.exists(st => st.isDirectory &&
        !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))) {
      return None
    }
    val files = entries.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (files.isEmpty) None else Some(files)
  }

  /** Total row count of a flat parquet directory from FOOTER metadata
    * only — zero Spark jobs, a few-KB ranged read per file. None when
    * the layout has subdirectories (partitioned/appended trees this
    * flat listing would subset) or no data files; callers treat None
    * as "unknown, assume large". Used for driver-side plan decisions
    * (e.g. whether a cache layout is worth a sort) where an upper
    * bound beats a data pass. */
  private[graft] def footerRowCount(spark: SparkSession, path: String): Option[Long] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    flatDataFiles(spark, path).flatMap { files =>
      try Some(files.map { st =>
        readFooter(org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
          .getBlocks.asScala.map(_.getRowCount).sum
      }.sum)
      catch { case _: Exception => None }
    }
  }

  /** One parquet footer: a few-KB ranged read on the driver. */
  private def readFooter(in: org.apache.parquet.io.InputFile): ParquetMetadata = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getFooter finally reader.close()
  }

  /** The Spark schema a Spark writer recorded in an open footer (the
    * row-metadata key `spark.read.parquet` infers it from), so a caller
    * that already holds the footer needs no schema-inference job. None
    * when the file was written without it (another writer); callers
    * then infer as `spark.read.parquet` does. */
  private def footerSparkSchema(footer: ParquetMetadata): Option[StructType] =
    Option(footer.getFileMetaData.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
      .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
      .collect { case st: StructType => st }

  /** Footer fast path for [[buildStatsIndex]]: per-file min/max read
    * from parquet metadata. Returns None (caller falls back to the
    * scan) when a stat column is not an integral type, absent from a
    * file, or written without statistics. Only INTEGRAL columns take
    * the fast path: string min/max can be TRUNCATED in footers (sound
    * for pruning but not equal to the scan the contract states), and
    * float/double footer stats have writer-dependent NaN / -0.0
    * semantics (NaN may be skipped or poison the bounds; Spark's own
    * scan aggregates order NaN greatest) — the footer==scan contract
    * this index promises is only safe where parquet and Spark agree
    * on ordering, which is exactly the integral types PruneSpec pins.
    *
    * The `file` column is rendered as `Path.toUri.toString` — the
    * SAME canonical URI encoding `input_file_name()` emits in the
    * scan fallback (Spark's PartitionedFile path is built from
    * `Path.toUri`), so consumers may join either index form against
    * a live scan's `input_file_name()` without scheme or URL-encoding
    * mismatches. PruneSpec pins full-URI equality of the two builders.
    *
    * The driver-side footer loop is metadata-scale (one
    * ranged read of a few KB per file); a deployment with millions of
    * files would distribute it, same as its file listing. */
  private[graft] def footerStatsIndex(
      spark: SparkSession, path: String, statCols: Seq[String]): Option[DataFrame] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val conf = spark.sparkContext.hadoopConfiguration
    // flatDataFiles bails on any real subdirectory: spark.read.parquet
    // would discover leaf files a flat listing misses (partitioned /
    // appended layouts), and an index over a silent SUBSET would
    // violate readPruned's same-rows-as-full-scan contract
    val files = flatDataFiles(spark, path) match {
      case Some(fs) => fs
      case None => return None
    }
    def footer(st: org.apache.hadoop.fs.FileStatus): ParquetMetadata =
      readFooter(org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf))
    val first = footer(files.head)
    val schema = footerSparkSchema(first).getOrElse(spark.read.parquet(path).schema)
    val types = schema.fields.map(f => f.name -> f.dataType).toMap
    val supported = statCols.forall(c => types.get(c).exists {
      case LongType | IntegerType => true
      case _ => false
    })
    if (!supported) return None

    object MissingStats extends scala.util.control.ControlThrowable
    try {
      val rows: Seq[org.apache.spark.sql.Row] = files.toSeq.flatMap { st =>
        val blocks = (if (st eq files.head) first else footer(st)).getBlocks.asScala.toSeq
        // a zero-row file gets NO index row — matching the scan-built
        // index, where groupBy(input_file_name()) never sees the file
        // (repartitionByRange can emit empty files when the requested
        // file count exceeds the distinct range keys)
        if (blocks.map(_.getRowCount).sum == 0L) Seq.empty else {
        val vals = statCols.flatMap { c =>
          // fold row-group stats to file stats; an all-null group
          // contributes nothing (matching min()/max() null semantics —
          // an all-null FILE yields null bounds, which every pruning
          // predicate evaluates to false: the file is skipped, exactly
          // as the scan-built index would)
          var mn: AnyRef = null
          var mx: AnyRef = null
          blocks.foreach { b =>
            val chunk = b.getColumns.asScala.find(_.getPath.toDotString == c)
              .getOrElse(throw MissingStats)
            val stats = chunk.getStatistics
            if (stats == null || stats.isEmpty) throw MissingStats
            if (stats.hasNonNullValue) {
              val bmn = stats.genericGetMin.asInstanceOf[AnyRef]
              val bmx = stats.genericGetMax.asInstanceOf[AnyRef]
              def lt(a: AnyRef, b: AnyRef) =
                a.asInstanceOf[Comparable[AnyRef]].compareTo(b) < 0
              if (mn == null || lt(bmn, mn)) mn = bmn
              if (mx == null || lt(mx, bmx)) mx = bmx
            }
          }
          Seq(mn, mx)
        }
        Seq(org.apache.spark.sql.Row.fromSeq(st.getPath.toUri.toString +: vals))
        }
      }
      val indexSchema = StructType(
        StructField("file", StringType, nullable = false) +:
          statCols.flatMap(c => Seq(
            StructField(s"min_$c", types(c), nullable = true),
            StructField(s"max_$c", types(c), nullable = true))))
      Some(spark.createDataFrame(rows.asJava, indexSchema))
    } catch {
      case MissingStats => None
    }
  }

  /** Stats-index-pruned read: keep only the files whose [min, max]
    * range on `pruneCol` can intersect [lo, hi], read exactly those,
    * and re-apply the predicate for exactness (file stats admit false
    * positives, never false negatives — same contract as the bloom
    * join prefilter). The index is METADATA — one row per file — so
    * collecting the surviving file list on the driver is scan
    * planning, not data movement. Returns the same rows as a full
    * scan + filter; PruneSpec pins that and measures the skipped
    * files. */
  def readPruned(
      spark: SparkSession,
      index: DataFrame,
      pruneCol: String,
      lo: Long,
      hi: Long): DataFrame =
    readPrunedMulti(spark, index, Map(pruneCol -> (lo, hi)))

  /** Conjunction form: a file survives only if its stats can satisfy
    * EVERY column's range — with a z-ordered layout the per-column
    * prunings compose multiplicatively, which is the point of
    * clustering more than one dimension. */
  def readPrunedMulti(
      spark: SparkSession,
      index: DataFrame,
      ranges: Map[String, (Long, Long)]): DataFrame = {
    require(ranges.nonEmpty, "ranges must not be empty")
    val pred = ranges.map { case (c, (lo, hi)) =>
      col(s"min_$c") <= hi && col(s"max_$c") >= lo
    }.reduce(_ && _)
    // the index's file column is a CANONICAL URL-ENCODED URI (both
    // builders emit input_file_name()'s rendering) — but the read
    // path does NOT url-decode: spark.read.parquet("...a%20b...")
    // looks for a file literally named %20 (caught by PruneSpec's
    // round-trip test on a directory with a space). Decode through
    // java.net.URI so the encoded index form round-trips back into a
    // readable path. A RAW (unencoded) path — a legacy index persisted
    // before the builders converged on the URI form, or a user-built
    // one — is not valid URI syntax whenever it contains a space or a
    // bare '%', so fall back to the string as-is rather than crash:
    // spark.read.parquet accepted exactly that raw form before the
    // decode existed. (A raw path whose file is LITERALLY named with
    // an escape like "a%20b" parses as a URI and decodes differently —
    // inherent ambiguity of mixing forms; both shipped builders emit
    // the encoded form, pinned by PruneSpec.)
    def decode(s: String): String =
      try new org.apache.hadoop.fs.Path(new java.net.URI(s)).toString
      catch { case _: java.net.URISyntaxException => s }
    val files = index.filter(pred)
      .select("file").collect().map(r => decode(r.getString(0)))
    // the schema comes from one opened file's footer, so the read runs
    // no inference job; with no file surviving, any indexed file gives
    // it to an empty frame (both builders index zero FILES never, but a
    // directory of only zero-ROW files yields a zero-row index — no
    // file to derive a schema from, so fail loudly instead of letting
    // spark.read.parquet() throw "Unable to infer schema")
    val schemaFile = files.headOption.getOrElse {
      val any = index.select("file").limit(1).collect().map(r => decode(r.getString(0)))
      require(any.nonEmpty,
        "stats index has zero rows (every indexed file was empty or statless): " +
          "no file to derive the result schema from — read the source directory directly")
      any.head
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = footerSparkSchema(readFooter(org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(schemaFile), conf)))
    val reader = schema.fold(spark.read)(spark.read.schema)
    val base =
      if (files.isEmpty) reader.parquet(schemaFile).limit(0)
      else reader.parquet(files: _*)
    // residual filter per column restores exactness (stats admit false
    // positives, never false negatives)
    val residual = ranges.map { case (c, (lo, hi)) =>
      col(c) >= lo && col(c) <= hi
    }.reduce(_ && _)
    base.filter(residual)
  }

  /** Small-file compaction — the standing maintenance job of any
    * long-lived 100 TB dataset: streaming/chunked writers accumulate
    * files far below the efficient scan size, and every downstream
    * query then pays per-file open/seek/footer costs. Rewrites `path`
    * into `outPath` with files sized near `targetBytes` (estimated
    * from the CURRENT total size, so compression ratio carries over).
    *
    * The rewrite targets file count via `repartition(n)` — a plain
    * round-robin exchange is fine HERE (unlike chunk routing, no
    * consumer depends on which file a row lands in, and the write is
    * all-or-nothing into a fresh directory, so a task retry cannot
    * duplicate rows in the committed output). Hive partition layouts
    * are preserved when `partitionBy` is passed. */
  def compact(
      spark: SparkSession,
      path: String,
      outPath: String,
      targetBytes: Long = 128L * 1024 * 1024,
      format: Format = Parquet,
      partitionBy: Seq[String] = Nil): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    // in-place compaction would be data loss: read() is lazy and
    // Overwrite deletes the target before the scan tasks ever run
    val (inP, outP) = (new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.fs.Path(outPath))
    require(inP.toUri.getPath != outP.toUri.getPath,
      s"outPath must differ from path ($path): Overwrite would delete the source before reading it")
    val fss = FileSystems(spark)
    // one listing pass carries the lengths — no per-file RPC.
    // Metadata files (_SUCCESS, checksums, the schema sidecar — any
    // underscore/dot-prefixed name) must not count as data: their
    // bytes would inflate the file-count math at a targetBytes
    // boundary.
    val totalBytes = fss.findStatus(path)
      .filterNot { case (f, _) =>
        val name = f.substring(f.lastIndexOf('/') + 1)
        name.startsWith("_") || name.startsWith(".") || f.endsWith(".crc")
      }
      .map(_._2).sum
    val nFiles = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes)
    require(nFiles <= Int.MaxValue,
      s"targetBytes $targetBytes implies $nFiles output files; raise the target")
    val df = read(spark, path, format, restorePartitions = true)
    if (partitionBy.isEmpty) {
      write(df.repartition(nFiles.toInt), outPath, format)
      nFiles
    } else {
      // a flat round-robin repartition before a hive write would smear
      // every directory across every task (n × dirs tiny files) —
      // size files PER DIRECTORY and reuse write()'s aligned chunk
      // routing instead
      val nDirs = math.max(1L, df.select(partitionBy.map(col): _*).distinct().count())
      val perDir = math.max(1L, (nFiles + nDirs - 1) / nDirs)
      write(df, outPath, format, partitionBy = partitionBy, chunks = perDir.toInt)
      perDir * nDirs
    }
  }

  /** Custom output-partition naming: (prefix, partitionCols,
    * partitionValues, suffix) => path. The reference's
    * `partition_transformer` (io.py:27-33, tests/test_io.py:248-270). */
  type PartitionTransformer = (String, Seq[String], Seq[Any], String) => String

  /** The default transformer: hive-style `prefix/a=1/b=2/suffix`. */
  val HivePartitionTransformer: PartitionTransformer =
    (prefix, parts, values, suffix) =>
      FileSystems.pathFor(prefix, parts, values, Some(suffix))

  /** Named-file write: each output partition becomes exactly the files
    * named in `suffixes` (reference `suffix=["chunk01.tsv", ...]`,
    * io.py:73-99), laid out by `transformer` — the distributed twin of
    * the reference's named-chunk export.
    *
    * Rows are routed to chunks by a deterministic hash of the data
    * columns (the reference slices by position; a positional split is
    * not stable across distributed retries, a content hash is).
    *
    * SINGLE scan job: the frame is written once through a dynamic
    * partitioned write on (partition cols, chunk id) — each leaf
    * directory gets exactly one part file because the pre-write
    * repartition co-locates each (tuple, chunk) combination in one
    * task — then the driver renames every part file to its
    * transformer-assigned name, parsing partition values back out of
    * the hive paths (the manifest). The round-4 version filtered the
    * full frame once per partition tuple — O(directories) scans.
    *
    * Partition values reach `transformer` with the partition columns'
    * ORIGINAL types: the hive-path strings Spark's partitioned writer
    * encodes are cast back through the input schema (null for the
    * hive default-partition marker), so a transformer that inspects
    * types (`asInstanceOf[Int]`, matching on `java.sql.Date`) sees
    * exactly what the old per-tuple `collect()` loop handed it.
    *
    * Scale note: this is the EXPORT path — named single files for
    * downstream consumers; each chunk funnels through a single task.
    * For bulk data the hive-layout `write()` remains the scale path.
    */
  def writeNamed(
      df: DataFrame,
      path: String,
      format: Format = Parquet,
      gzip: Boolean = false,
      sep: String = "\t",
      header: Boolean = true,
      partitionBy: Seq[String] = Nil,
      suffixes: Seq[String] = Seq("part-00000"),
      dropPartitions: Boolean = true,
      transformer: PartitionTransformer = HivePartitionTransformer): Unit = {
    require(suffixes.nonEmpty, "`suffixes` must not be empty")
    val spark = df.sparkSession
    val fss = FileSystems(spark)
    val n = suffixes.length
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName

    // chunk id hashes the columns AS WRITTEN (partition cols excluded
    // exactly when they are dropped from the data files), so routing is
    // stable across retries and unchanged from the per-tuple version
    val hashCols =
      (if (dropPartitions) df.columns.filterNot(partitionBy.contains) else df.columns)
        .map(col).toSeq
    // an all-partition-column frame with dropPartitions leaves zero
    // data columns: Spark cannot write such files at all
    // (ALL_PARTITION_COLUMNS_NOT_ALLOWED) and xxhash64 rejects zero
    // arguments — name the real constraint here instead of either
    require(hashCols.nonEmpty,
      "writeNamed: every column is a partition column and dropPartitions=true — " +
        "data files would have zero columns; keep a data column or set dropPartitions=false")
    val chunked0 = df.withColumn("__graft_chunk",
      if (n == 1) lit(0L) else pmod(xxhash64(hashCols: _*), lit(n.toLong)))
    // partition through copies so the originals can stay in the data
    // files when dropPartitions = false
    val withKeys = partitionBy.foldLeft(chunked0) { (d, c) =>
      d.withColumn(s"__graft_p_$c", col(c))
    }
    val data = if (dropPartitions) withKeys.drop(partitionBy: _*) else withKeys
    val partKeys = partitionBy.map(c => s"__graft_p_$c") :+ "__graft_chunk"

    val tmp = path + ".__graft_named_tmp"
    fss.rm(tmp)
    write(data.repartition(partKeys.map(col): _*), tmp, format, gzip, sep, header,
      partitionBy = partKeys)

    // everything after the tmp write renames into place; on any
    // failure drop the temporary tree so a crash never strands a
    // full-size dataset at path + ".__graft_named_tmp" (a retry
    // rewrites every target chunk, so partially renamed outputs are
    // repaired by the retry, not here)
    try {
    // manifest pass: map each written part file to its target name
    val partFiles = fss.find(tmp).filter { f =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      name.startsWith("part-") && !name.endsWith(".crc")
    }
    val renames = partFiles.map { f =>
      // only our own key dirs (robust to '=' in user path segments and
      // to scheme-prefixed paths from find)
      val kv = f.split('/')
        .filter(s => s.startsWith("__graft_p_") || s.startsWith("__graft_chunk="))
        .map { s =>
          val i = s.indexOf('=')
          s.substring(0, i) -> unescapePathName(s.substring(i + 1))
        }.toMap
      val values: Seq[Any] = partitionBy.map { c =>
        val v = typedPartValue(df, c, kv(s"__graft_p_$c"))
        // a null here is the hive default-partition marker, i.e. the
        // input had NULL in a partition column; name the actual
        // problem instead of letting pathFor's generic require fire
        require(v != null,
          s"writeNamed: partition column '$c' contains null values — " +
            "named exports require non-null partition values")
        v
      }
      val chunkIdx = kv("__graft_chunk").toInt
      (f, values, chunkIdx, transformer(path, partitionBy, values, suffixes(chunkIdx)))
    }
    renames.groupBy(_._4).foreach { case (target, fs) =>
      require(fs.size == 1,
        s"${fs.size} part files map to $target — one task wrote several files for one chunk")
    }
    renames.foreach { case (f, _, _, target) =>
      fss.mkdirs(new org.apache.hadoop.fs.Path(target).getParent.toString)
      fss.rm(target)
      require(fss.mv(f, target), s"rename failed: $f -> $target")
    }

    // a (tuple, chunk) with no rows produces no file in a partitioned
    // write; the per-tuple version wrote an empty file — preserve that
    // for every tuple that appeared at all (and for the root when
    // unpartitioned, so a single-dir export always yields all names)
    val seenTuples: Set[Seq[Any]] =
      if (partitionBy.isEmpty) Set(Nil) else renames.map(_._2).toSet
    val seenFiles = renames.map { case (_, values, chunkIdx, _) => (values, chunkIdx) }.toSet
    val emptySchema = (if (dropPartitions) df.drop(partitionBy: _*) else df).limit(0)
    for {
      values <- seenTuples
      i <- 0 until n
      if !seenFiles.contains((values, i))
    } {
      val target = transformer(path, partitionBy, values, suffixes(i))
      val etmp = target + s".__graft_tmp_$i"
      write(emptySchema.coalesce(1), etmp, format, gzip, sep, header)
      val partFile = fss.find(etmp)
        .filter { f =>
          val name = f.substring(f.lastIndexOf('/') + 1)
          name.startsWith("part-") && !name.endsWith(".crc")
        }
        .ensuring(_.nonEmpty, s"no part file written under $etmp").head
      fss.mkdirs(new org.apache.hadoop.fs.Path(target).getParent.toString)
      fss.rm(target)
      require(fss.mv(partFile, target), s"rename failed: $partFile -> $target")
      fss.rm(etmp)
    }
    } finally fss.rm(tmp)
  }

  /** Cast a hive-path partition-value string back to the partition
    * column's declared type (external representation, as `Row.toSeq`
    * would carry it), so `writeNamed`'s transformer contract matches
    * the old typed per-tuple loop. The hive default-partition marker
    * maps to null — the one lossy corner of the hive layout itself.
    */
  private def typedPartValue(df: DataFrame, column: String, raw: String): Any = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val dt = df.schema(column).dataType
    if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
    else if (dt == StringType) raw
    else {
      val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
      val internal =
        Cast(Literal(UTF8String.fromString(raw), StringType), dt, Some(tz)).eval(null)
      CatalystTypeConverters.convertToScala(internal, dt)
    }
  }

  /** The line dataset behind the member-parallel gzip read: list the
    * flat directory (driver-side, one listing — same cost the normal
    * reader pays), probe ONE file for the MemberGzip framing, then
    * index and decode the members in TASKS: indexing hops headers with
    * one positioned read per member (no decompression), and decoded
    * members are spread round-robin so read parallelism is bounded by
    * member count (~1 MiB each), not file count. None whenever the
    * layout is not a flat directory of framed .gz files — the caller
    * falls back to the ordinary reader, which consumes the same bytes
    * whole (multi-member gzip is still standard gzip). */
  private def memberSplitLines(
      spark: SparkSession, path: String, dropHeader: Boolean): Option[Dataset[String]] = {
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return None
    val st = fs.getFileStatus(root)
    val all = if (st.isDirectory) fs.listStatus(root).toSeq else Seq(st)
    if (all.exists(_.isDirectory)) return None // hive layout: fall back
    val data = all.filter { f =>
      val n = f.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    if (data.isEmpty || !data.forall(_.getPath.getName.endsWith(".gz"))) return None
    // all-or-nothing probe: one header read decides for the directory
    // (write() produces uniform files; a foreign mixed directory falls
    // back whole rather than half-splitting)
    if (MemberGzip.memberIndex(fs, data.head.getPath).isEmpty) return None
    val names = data.map(_.getPath.toString)
    val bc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(hconf))
    val members = spark.createDataset(names)
      .repartition(math.min(names.size, spark.sparkContext.defaultParallelism))
      .flatMap { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val tfs = p.getFileSystem(bc.value.value)
        MemberGzip.memberIndex(tfs, p)
          .getOrElse(throw new IllegalStateException(
            s"not a member-framed gzip file (mixed directory?): $f"))
          .map(m => (f, m.offset, m.length, m.firstOfFile))
      }
    val lines = members
      // round-robin members over the cluster: each ~1 MiB member is an
      // independent unit of decompress+parse work
      .repartition(spark.sparkContext.defaultParallelism)
      .mapPartitions { it =>
        val conf = bc.value.value
        it.flatMap { case (f, off, len, first) =>
          val p = new org.apache.hadoop.fs.Path(f)
          val tfs = p.getFileSystem(conf)
          val ls = MemberGzip.memberLines(tfs, p, MemberGzip.Member(off, len, first))
          if (first && dropHeader) ls.drop(1) else ls
        }
      }
    Some(lines)
  }

  /** The DSV read options both read paths share. The writer quotes
    * empty strings (`""`) and leaves nulls as unquoted empty fields;
    * with the default nullValue="" BOTH would collapse to null on read,
    * so nullValue moves to a sentinel no real field contains and `""`
    * survives as "". */
  private def dsvOptions(r: DataFrameReader, sep: String): DataFrameReader =
    r.option("sep", sep)
      .option("escape", "\\")
      .option("nullValue", "__graft_reserved_null__")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")

  /** Read a dataset (single file, directory tree, or glob) written by
    * `write` — or by anything else speaking the same formats. The
    * compression codec comes from each file's extension.
    *
    * @param schema optional explicit schema (reference reads dsv as
    *               all-string by default — pass None + inferSchema=false
    *               for that exact behavior)
    * @param restorePartitions when false, hive partition columns parsed
    *               from the directory layout are dropped (reference
    *               `drop_partitions` analogue on the read side)
    * @param options extra DataFrameReader options, applied LAST so they
    *               can override any default here — the analogue of the
    *               reference's `pandas_kwargs` passthrough (io.py:102-113)
    */
  def read(
      spark: SparkSession,
      path: String,
      format: Format = Parquet,
      sep: String = "\t",
      header: Boolean = true,
      schema: Option[StructType] = None,
      inferSchema: Boolean = false,
      restorePartitions: Boolean = true,
      options: Map[String, String] = Map.empty): DataFrame = {

    def load(recursive: Boolean): DataFrame = {
      val reader0 = spark.read
      val reader1 = schema.map(reader0.schema).getOrElse(reader0)
      // recursiveFileLookup=true disables hive partition discovery, so
      // the resolved schema contains only data-file columns.
      val reader = if (recursive) reader1.option("recursiveFileLookup", "true") else reader1
      // member-framed gzip text reads member-PARALLEL (r12, guide §6):
      // a one-stream .gz is one task per file no matter the size; the
      // MemberGzip framing turns each ~1 MiB member into its own unit
      // of read work. Engages only for flat directories of framed .gz
      // files with an explicit schema — everything else (plain gzip,
      // uncompressed, hive layouts, schema inference) falls through to
      // the standard reader unchanged.
      def memberSplit: Option[DataFrame] =
        if (recursive || schema.isEmpty) None
        else memberSplitLines(spark, path, dropHeader = header && format == Dsv).map { lines =>
          format match {
            case Dsv =>
              dsvOptions(spark.read.schema(schema.get), sep)
                .options(options).csv(lines) // header already stripped per file
            case _ =>
              spark.read.schema(schema.get)
                .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
                .options(options).json(lines)
          }
        }
      format match {
        case Parquet => reader.options(options).parquet(path)
        case Dsv => memberSplit.getOrElse {
          dsvOptions(reader, sep)
            .option("header", header.toString)
            .option("inferSchema", inferSchema.toString)
            .options(options).csv(path)
        }
        case JsonLines => memberSplit.getOrElse(reader.options(options).json(path))
        case Orc       => reader.options(options).orc(path)
      }
    }

    // a partitioned directory with zero data files (empty-frame write)
    // has nothing to infer a schema from — fall back to the writer's
    // schema sidecar (see writeSchemaSidecar) and return the correct
    // empty frame; without a sidecar, rethrow the original error
    val loaded: Either[(StructType, Seq[String]), DataFrame] =
      try Right(load(recursive = false))
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).contains("UNABLE_TO_INFER_SCHEMA") =>
          Left(readSchemaSidecar(spark, path).getOrElse(throw e))
      }
    loaded match {
      case Left((sidecarSchema, parts)) =>
        // a non-empty partitioned read returns DATA columns first and
        // the directory-derived partition columns appended LAST —
        // regardless of where those columns sat in the writer's frame.
        // The sidecar stores the writer's original order, so reorder to
        // (data columns in writer order) ++ (partition columns in
        // partitionBy order) or the column ORDER would flip between the
        // empty and non-empty datasets — the exact instability the
        // sidecar exists to prevent (positional union/append consumers).
        // Partition-column TYPES are the one documented divergence: a
        // non-empty read infers them from directory-name strings (p=1 →
        // int) while this fallback keeps the writer's declared type —
        // inference is value-dependent, so with zero rows the declared
        // type is the only principled answer (pinned in IoSpec).
        val ordered = org.apache.spark.sql.types.StructType(
          sidecarSchema.fields.filterNot(f => parts.contains(f.name)) ++
            parts.flatMap(p => sidecarSchema.fields.find(_.name == p)))
        val empty = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ordered)
        // a dsv read without an explicit schema yields all-STRING data
        // columns (the documented default above); the fallback must
        // match, or the read schema would flip between typed and
        // string depending on whether the dataset happened to be
        // empty — fatal to any union/append consumer
        val aligned =
          if (format == Dsv && schema.isEmpty && !inferSchema)
            empty.select(empty.columns.toSeq.map(c =>
              if (parts.contains(c)) col(c) else col(c).cast("string").as(c)): _*)
          else empty
        if (restorePartitions) aligned else aligned.drop(parts: _*)
      case Right(df) =>
        if (restorePartitions) df
        else {
          // Partition columns are exactly (discovered schema) minus
          // (data-file schema). Both sides are schema resolution only —
          // footer/sample reads, no driver-side enumeration of every file
          // (the previous FileSystems.find() walk would bottleneck the
          // driver at millions of objects before the first task launched).
          val dataOnly = load(recursive = true).columns.toSet
          val fromDirs = df.columns.filterNot(dataOnly.contains)
          df.drop(fromDirs: _*)
        }
    }
  }
}
