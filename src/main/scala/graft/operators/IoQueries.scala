package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.io.{GraftIO, Merge}

/** Correctness-gate queries for the I/O layer (SURVEY §2.2): write a
  * table out through GraftIO in each format, read it back, aggregate.
  * The DuckDB oracle computes the same aggregate over the ORIGINAL
  * parquet — so a hash match proves roundtrip fidelity, not just that
  * the code ran.
  */
object IoQueries {

  /** The scratch path of a query's own written artifact, one per
    * (name, input dir): the single place a query chooses where graft
    * writes. perfbench's `RedirectFS` relies on this prefix (the
    * `graft_io` root under /tmp) to move these writes and count their
    * bytes. */
  private[operators] def tmpDir(name: String, sfDir: String): String =
    s"/tmp/graft_io/${name}_${math.abs(sfDir.hashCode)}"

  /** Gzip-compressed pipe-separated values roundtrip of lineitem.
    * gzip is non-splittable, so the READ's parallelism equals the
    * member count: a single-file source serializes both the compress
    * and the decompress on one task. The chunking is therefore
    * conditional, Tables.widened-style: repartition to one member per
    * core ONLY when the scan has fewer splits than cores (small local
    * corpora); at scale the scan already has >= cores splits and each
    * writes its own member directly — the alternative unconditional
    * repartition paid a full-frame exchange whose shuffle write+read
    * was ~2x the gzip output's bytes (measured at sf100: 12.9 GB
    * shuffled each way vs 7.2 GB written — the single largest I/O
    * term of the whole roundtrip, bought zero read parallelism beyond
    * the ~100 scan splits, and is exactly the kind of exchange a
    * 1000-executor job must not pay per export). */
  def ioDsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cols = Seq("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice", "l_returnflag")
    val li = Tables.lineitem(spark, dir).select(cols.map(col): _*)
    val out = tmpDir("dsv", dir)
    val cores = spark.sparkContext.defaultParallelism
    val chunks = if (Tables.splits(li) >= cores) 0 else cores
    GraftIO.write(li, out, GraftIO.Dsv, gzip = true, sep = "|",
      chunks = chunks)
    GraftIO.read(spark, out, GraftIO.Dsv, sep = "|", schema = Some(li.schema))
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_price"),
        sum($"l_orderkey").as("sum_okey"),
        sum($"l_partkey").as("sum_pkey"))
      .orderBy($"l_returnflag")
  }

  /** Data-skipping gate: lineitem written z-ordered on (l_orderkey,
    * l_partkey), a per-file min/max stats index built over it, and a
    * partkey-range aggregate answered through the index-pruned read —
    * only files whose stats can intersect the range are opened, and
    * the residual filter restores exactness. The oracle runs the same
    * range aggregate on the ORIGINAL table: a hash match proves the
    * pruned scan lost nothing. PruneSpec separately asserts files are
    * actually skipped. */
  def ioStatsPruneScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_returnflag")
    val out = tmpDir("zstats", dir)
    // file count scales with the INPUT (one z-sorted output file per
    // ~2 scan splits, floored at 16): a fixed count is a scale bug —
    // at sf100 `files = 16` handed each range task a ~40M-row external
    // sort (measured 10.3 s → 400 s, a 39x decade) while half the
    // cores idled; sized to the data the sorts stay in memory, the
    // write uses the whole cluster, and the stats index stays
    // metadata-sized (file count grows linearly, as any real lake
    // layout does). Pruning SELECTIVITY only sharpens with more files;
    // the returned rows are identical either way.
    val files = math.max(16, Tables.splits(li) / 2)
    GraftIO.writeZOrdered(li, out, Seq("l_orderkey", "l_partkey"), files = files)
    val index = GraftIO.buildStatsIndex(spark, out, Seq("l_orderkey", "l_partkey"))

    // the middle fifth of the part-key space — a selective range on the
    // NON-leading z dimension, where a linear layout couldn't skip.
    // Global min/max come from the stats index, not a scan of the source.
    val (lo, hi) = GraftIO.indexBounds(index, "l_partkey")
      .getOrElse(throw new IllegalStateException("io_stats_prune_scan: l_partkey is all null"))
    val (qLo, qHi) = (lo + (hi - lo) * 2 / 5, lo + (hi - lo) * 3 / 5)

    GraftIO.readPruned(spark, index, "l_partkey", qLo, qHi)
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"l_quantity").cast("long").as("sum_qty"),
        sum($"l_orderkey").as("sum_okey"))
      .orderBy($"l_returnflag")
  }

  /** Training-shard export: the last step of a data pipeline —
    * documents routed to N shards by a content-independent
    * deterministic hash of the stable id (md5 hex, restated
    * identically in the oracle), so every rerun and every engine
    * produces byte-identical shard membership, and shard sizes are
    * balanced without a global sort or shuffle-by-random. The gate
    * aggregates per-shard stats; the spec writes the shards and checks
    * the files round-trip. One hash-key shuffle; no ordering
    * dependence anywhere. */
  def ioExportShards(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val n = 8
    shardAssign(Tables.documents(spark, dir), n)
      .groupBy($"shard")
      .agg(count(lit(1)).as("n_docs"),
        sum($"doc_id").as("sum_id"),
        sum(length($"text").cast("long")).as("sum_chars"),
        countDistinct($"lang").as("n_langs"))
      .orderBy($"shard")
  }

  /** shard = first two md5 hex digits of the doc id, mod n — exactly
    * expressible in DuckDB (both engines emit lowercase hex md5 of the
    * same decimal string). */
  private[graft] def shardAssign(docs: DataFrame, n: Int): DataFrame = {
    import docs.sparkSession.implicits._
    docs.withColumn("shard",
      (conv(substring(md5($"doc_id".cast("string")), 1, 2), 16, 10).cast("long") % n)
        .cast("long"))
  }

  /** Per-column table profile — the "know your data" pass every data
    * toolkit ships (pandas describe / SUMMARIZE): for every column,
    * row count, null count, EXACT distinct count, and min/max rendered
    * to strings. ONE scan of the table: all 6·k aggregates run in a
    * single agg (Spark plans multi-column count(DISTINCT) via one
    * Expand — k× widened rows in exchange for exactness; at 100 TB
    * swap countDistinct for approx_count_distinct and the Expand
    * disappears, the text_vocab_sketch posture). min/max are computed
    * on the TYPED column and rendered after (rendering first would
    * compare lexicographically); doubles render as exact half-up
    * integer cents — cross-engine double→string formatting diverges
    * (scientific notation thresholds), integer strings never do. The
    * single collected row is 6·k scalars: bounded by schema width,
    * not data. */
  def ioProfileColumns(spark: SparkSession, dir: String): DataFrame =
    profileColumns(Tables.orders(spark, dir))

  def profileColumns(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def render(c: Column, dt: org.apache.spark.sql.types.DataType): Column = dt match {
      case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
        floor(c * 100 + lit(0.5)).cast("long").cast("string")
      case _ => c.cast("string")
    }
    val fields = df.schema.fields
    // Plan (r11 optimization): the single-agg form with k countDistinct
    // columns planned an Expand that copies every row k+1 times through
    // two hash aggregates — measured 3.1 s of the 4.1 s sf0.1 cell for
    // k=9 (r11 phase attribution, BASELINE.md and OPTIMIZATION_r11.md
    // §1: the non-distinct aggregates alone cost 0.33 s). Instead: ONE
    // full-width scan computes every non-distinct aggregate, and each
    // exact distinct count runs as its own single-COLUMN job (parquet
    // prunes to just that column, and the two-level hash aggregate
    // dedups map-side — no Expand, no widened rows). The k+1
    // independent jobs are submitted concurrently (guide-§2.6 overlap:
    // actions are only sequential because driver code calls them
    // sequentially), so wall-clock is the slowest column, not the sum —
    // measured 0.67 s for the same exact values (same source). Total
    // bytes read ~2x the one-scan form but each distinct scan reads ONE
    // column; the Expand form's k+1-fold row copy through
    // exchange-feeding aggregates is the term that dominated at every
    // scale.
    val aggsNd: Seq[Column] = count(lit(1)).as("n_rows") +: fields.toSeq.flatMap { f =>
      val c = col(f.name)
      // coalesce: a zero-row input makes sum() null, and getLong on a
      // null cell NPEs — an empty table profiles as all-zero counts
      // with null min_s/max_s instead of crashing
      Seq(coalesce(sum(when(c.isNull, 1L).otherwise(0L)), lit(0L)).as(s"${f.name}__nulls"),
        render(min(c), f.dataType).as(s"${f.name}__min"),
        render(max(c), f.dataType).as(s"${f.name}__max"))
    }
    // pool CAPPED at 8 (r12): the §2.6 overlap benefit saturates at a
    // handful of in-flight jobs — fields.length+1 threads on a
    // hundreds-of-columns table would submit hundreds of concurrent
    // full-scan jobs and thrash the scheduler; excess column jobs just
    // queue on the pool (A/B at k=9: no wall-clock change vs unbounded)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(fields.length + 1, 8))
    // per-call job group: one failing aggregate must cancel the rest,
    // not let them run to completion on non-daemon threads (job groups
    // are thread-local, so each pool task re-tags itself)
    val group = s"graft-profile-${java.lang.Long.toHexString(System.nanoTime())}"
    val (ndRow, distincts) =
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        def inGroup[T](body: => T): T = {
          spark.sparkContext.setJobGroup(group, "profileColumns", interruptOnCancel = true)
          body
        }
        val ndF = Future(inGroup(df.agg(aggsNd.head, aggsNd.tail: _*).collect()(0)))
        val dFs = fields.toSeq.map { f =>
          Future(inGroup(df.select(col(f.name))
            .agg(countDistinct(col(f.name))).collect()(0).getLong(0)))
        }
        val all = Future.sequence(ndF +: dFs) // fails as soon as any job fails
        try {
          val rows = Await.result(all, Duration.Inf)
          (rows.head.asInstanceOf[org.apache.spark.sql.Row],
            rows.tail.map(_.asInstanceOf[Long]))
        } catch { case e: Throwable =>
          spark.sparkContext.cancelJobGroup(group) // kill in-flight scans
          pool.shutdownNow()
          throw e
        }
      } finally pool.shutdown() // non-daemon workers must not outlive the call
    val nRows = ndRow.getLong(0)
    val out = fields.zipWithIndex.map { case (f, i) =>
      val b = 1 + i * 3
      (f.name, nRows, ndRow.getLong(b), distincts(i),
        ndRow.getString(b + 1), ndRow.getString(b + 2))
    }
    out.toSeq.toDF("col_name", "n_rows", "n_null", "n_distinct", "min_s", "max_s")
      .orderBy($"col_name")
  }

  /** Gzip jsonlines roundtrip of orders. */
  def ioJsonlinesRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_orderstatus", $"o_totalprice")
    val out = tmpDir("jsonl", dir)
    GraftIO.write(ord, out, GraftIO.JsonLines, gzip = true)
    GraftIO.read(spark, out, GraftIO.JsonLines, schema = Some(ord.schema))
      .groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum($"o_orderkey").as("sum_okey"),
        round(sum($"o_totalprice"), 2).as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  /** Zlib ORC roundtrip of part — the columnar alternative to parquet
    * (same pushdown/pruning machinery on read). */
  def ioOrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir)
      .select($"p_partkey", $"p_brand", $"p_size", $"p_retailprice")
    val out = tmpDir("orc", dir)
    GraftIO.write(part, out, GraftIO.Orc, gzip = true)
    GraftIO.read(spark, out, GraftIO.Orc)
      .filter($"p_size" >= 25) // pushdown survives the roundtrip
      .groupBy($"p_brand")
      .agg(
        count(lit(1)).as("n"),
        sum($"p_partkey").as("sum_pkey"),
        round(sum($"p_retailprice"), 2).as("sum_price"))
      .orderBy($"p_brand")
  }

  /** Schema-evolution read: two writer generations under one dataset
    * root — generation 1 without a `source` column, generation 2 with
    * it — read back as ONE frame via parquet `mergeSchema`, old rows
    * null in the added column. This is the standing reality of any
    * long-lived 100 TB dataset (columns get added; history is never
    * rewritten): the union schema comes from footer resolution, not a
    * rewrite, and per-file pruning still applies. The aggregate counts
    * presence of the evolved column per language, so a hash match
    * proves old rows surface as nulls and new rows carry their values.
    *
    * mergeSchema is an explicit opt-in (a footer read per distinct
    * schema at planning); steady-state readers should pass the known
    * union schema instead — exercised by the spec.
    */
  def ioSchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val out = tmpDir("evolve", dir)
    val v1 = docs.filter($"doc_id" % 2 === 0).select($"doc_id", $"lang", $"n_chars")
    val v2 = docs.filter($"doc_id" % 2 === 1)
      .select($"doc_id", $"lang", $"n_chars", $"source")
    GraftIO.write(v1, out + "/gen=1", GraftIO.Parquet)
    GraftIO.write(v2, out + "/gen=2", GraftIO.Parquet)
    GraftIO.read(spark, out, GraftIO.Parquet,
        options = Map("mergeSchema" -> "true"), restorePartitions = false)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n"),
        sum($"n_chars").as("sum_chars"),
        count($"source").as("n_with_source"),
        countDistinct($"source").as("n_sources"))
      .orderBy($"lang")
  }

  /** CDC merge of a derived change batch into orders (Merge.merge):
    * updates (every 5th key gets +100 totalprice), deletes (every 7th
    * key ≡ 3), inserts (new keys for every 11th), with a same-batch
    * update-then-delete conflict resolved by sequence number (keys
    * hitting both rules land as deletes — seq 2 beats seq 1). The
    * aggregate hashes the merged state, so a match proves every rule
    * applied exactly once. */
  def ioMergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    val updates = base.filter($"o_orderkey" % 5 === 0)
      .select($"o_orderkey", $"o_orderstatus",
        ($"o_totalprice" + lit(100.0)).as("o_totalprice"),
        lit("U").as("op"), lit(1L).as("seq"))
    val deletes = base.filter($"o_orderkey" % 7 === 3)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice",
        lit("D").as("op"), lit(2L).as("seq"))
    // insert keys shifted above the REAL key space (max+1, one scalar
    // aggregate) — a fixed offset would collide with existing keys at
    // a large-enough sf and make the merge outcome key-dependent.
    // max() is NULL on an empty base — fall through to 0 so a zero-row
    // input merges to zero rows instead of a driver-side getLong crash.
    val maxKey = base.agg(max($"o_orderkey")).first()
    val newKeyBase = (if (maxKey.isNullAt(0)) -1L else maxKey.getLong(0)) + 1L
    val inserts = base.filter($"o_orderkey" % 11 === 0)
      .select(($"o_orderkey" + newKeyBase).as("o_orderkey"),
        lit("N").as("o_orderstatus"), lit(1.0).as("o_totalprice"),
        lit("I").as("op"), lit(1L).as("seq"))
    val merged = Merge.merge(base,
      updates.unionByName(deletes).unionByName(inserts),
      keys = Seq("o_orderkey"), opCol = "op", seqCol = Some("seq"))
    merged.groupBy($"o_orderstatus")
      .agg(
        count(lit(1)).as("n"),
        sum($"o_orderkey").as("sum_okey"),
        round(sum($"o_totalprice"), 2).as("sum_price"))
      .orderBy($"o_orderstatus")
  }

  /** Hive-partitioned parquet roundtrip of events, chunked output, with
    * a partition-pruned read (only 2 of the event_type dirs scanned). */
  def ioPartitionedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    val out = tmpDir("part", dir)
    GraftIO.write(ev, out, GraftIO.Parquet,
      partitionBy = Seq("event_type"), chunks = 2)
    GraftIO.read(spark, out, GraftIO.Parquet)
      .filter($"event_type".isin("purchase", "signup")) // partition pruning
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n"),
        sum($"event_id").as("sum_id"),
        round(sum($"value"), 2).as("sum_value"),
        countDistinct($"user_id").as("n_users"))
      .orderBy($"event_type")
  }
}
