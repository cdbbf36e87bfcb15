package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.io.GraftIO

/** Stats-index data skipping: the pruned read must be exact (no false
  * negatives) while actually opening fewer files. */
class PruneSpec extends SparkSpec {
  import spark.implicits._

  test("index-pruned read equals full scan + filter and skips files") {
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey", $"l_quantity")
    val path = Files.createTempDirectory("prune").toString + "/z"
    GraftIO.writeZOrdered(li, path, Seq("l_orderkey", "l_partkey"), files = 16)
    val index = GraftIO.buildStatsIndex(spark, path, Seq("l_orderkey", "l_partkey"))
    val nFiles = index.count()

    val r = li.agg(min($"l_partkey").cast("long"), max($"l_partkey").cast("long")).first()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val (qLo, qHi) = (lo + (hi - lo) * 2 / 5, lo + (hi - lo) * 3 / 5)

    val pruned = GraftIO.readPruned(spark, index, "l_partkey", qLo, qHi)
    val full = spark.read.parquet(path).filter($"l_partkey" >= qLo && $"l_partkey" <= qHi)
    assert(pruned.count() == full.count())
    assert(pruned.agg(sum($"l_orderkey"), sum($"l_quantity")).first() ==
      full.agg(sum($"l_orderkey"), sum($"l_quantity")).first())

    val opened = index
      .filter(col("min_l_partkey") <= qHi && col("max_l_partkey") >= qLo).count()
    assert(opened < nFiles, s"expected pruning: opened $opened of $nFiles files")

    // a range outside the data prunes every file but keeps the schema
    val none = GraftIO.readPruned(spark, index, "l_partkey", hi + 1000, hi + 2000)
    assert(none.count() == 0)
    assert(none.columns.toSeq == li.columns.toSeq)

    // conjunction pruning: both dimensions constrained — prunings
    // compose (never open more files than either single-column prune)
    val ro = li.agg(min($"l_orderkey").cast("long"), max($"l_orderkey").cast("long")).first()
    val (oLo, oHi) = (ro.getLong(0), ro.getLong(1))
    val (qoLo, qoHi) = (oLo + (oHi - oLo) * 2 / 5, oLo + (oHi - oLo) * 3 / 5)
    val both = GraftIO.readPrunedMulti(spark, index,
      Map("l_partkey" -> (qLo, qHi), "l_orderkey" -> (qoLo, qoHi)))
    val fullBoth = spark.read.parquet(path)
      .filter($"l_partkey" >= qLo && $"l_partkey" <= qHi &&
        $"l_orderkey" >= qoLo && $"l_orderkey" <= qoHi)
    assert(both.count() == fullBoth.count())
    val openedBoth = index.filter(
      col("min_l_partkey") <= qHi && col("max_l_partkey") >= qLo &&
        col("min_l_orderkey") <= qoHi && col("max_l_orderkey") >= qoLo).count()
    assert(openedBoth <= opened, s"conjunction must not open more files: $openedBoth > $opened")
  }

  test("footer-built index == scan-built index on numeric columns; strings fall back") {
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey", $"l_returnflag")
    val path = Files.createTempDirectory("prune_footer").toString + "/z"
    GraftIO.writeZOrdered(li, path, Seq("l_orderkey", "l_partkey"), files = 8)

    // the footer path must actually engage for numeric stat columns —
    // buildStatsIndex silently falling back to the scan would revert
    // the metadata-only contract without failing any behavior test
    val footer = GraftIO.footerStatsIndex(spark, path, Seq("l_orderkey", "l_partkey"))
    assert(footer.isDefined, "footer stats path must engage on a numeric parquet layout")

    // parquet footer min/max for fixed-width integral types are exact:
    // the two builders must agree file-for-file on the FULL canonical
    // URI (the footer builder renders Path.toUri.toString, the exact
    // string input_file_name() emits) — a consumer may join either
    // index against a live scan's input_file_name() without scheme or
    // URL-encoding mismatches
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select($"file",
        $"min_l_orderkey", $"max_l_orderkey", $"min_l_partkey", $"max_l_partkey")
      .collect().map(_.toSeq).sortBy(_.head.toString)
    val aggs = Seq(min($"l_orderkey").as("min_l_orderkey"), max($"l_orderkey").as("max_l_orderkey"),
      min($"l_partkey").as("min_l_partkey"), max($"l_partkey").as("max_l_partkey"))
    val scanned = spark.read.parquet(path)
      .groupBy(input_file_name().as("file")).agg(aggs.head, aggs.tail: _*)
    assert(canon(footer.get).toSeq == canon(scanned).toSeq)

    // string stats may be footer-truncated — that column must fall back
    assert(GraftIO.footerStatsIndex(spark, path, Seq("l_returnflag")).isEmpty)
    // and the public builder still serves it via the scan path
    assert(GraftIO.buildStatsIndex(spark, path, Seq("l_returnflag")).count() == 8)
    // float/double footer stats have writer-dependent NaN / -0.0
    // semantics — they must take the scan path, not the footer path
    val withDouble = spark.read.parquet(path)
      .withColumn("d", $"l_partkey".cast("double"))
    val dpath = Files.createTempDirectory("prune_double").toString + "/d"
    withDouble.write.parquet(dpath)
    assert(GraftIO.footerStatsIndex(spark, dpath, Seq("d")).isEmpty,
      "floating-point stat columns must fall back to the scan builder")
    assert(GraftIO.buildStatsIndex(spark, dpath, Seq("d")).count() > 0)
  }

  test("footer index file URIs survive URL-encoded characters") {
    // a directory with a space exercises the Path.toUri encoding the
    // footer builder promises to match input_file_name() on
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey").limit(1000)
    val path = Files.createTempDirectory("prune enc").toString + "/z dir"
    li.write.parquet(path)
    val footer = GraftIO.footerStatsIndex(spark, path, Seq("l_orderkey"))
    assert(footer.isDefined)
    val scanFiles = spark.read.parquet(path)
      .select(input_file_name().as("file")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val footerFiles = footer.get.select("file")
      .collect().map(_.getString(0)).sorted.toSeq
    assert(footerFiles == scanFiles,
      s"footer URIs must byte-match input_file_name():\n$footerFiles\nvs\n$scanFiles")
    // and the encoded URIs must round-trip through readPruned's
    // spark.read.parquet(files) — an index whose file strings cannot
    // be re-opened is worse than no index
    val pruned = GraftIO.readPruned(spark, footer.get, "l_orderkey", Long.MinValue, Long.MaxValue)
    assert(pruned.count() == li.count())
  }

  test("readPruned tolerates a legacy raw-path index (pre-URI file column)") {
    // indexes persisted before the builders converged on the canonical
    // URI form stored Path.toString — raw, unencoded. A raw path with
    // a space is not valid URI syntax; readPruned must fall back to
    // the string as-is (the form spark.read.parquet always accepted),
    // not crash with URISyntaxException.
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey").limit(1000)
    val path = Files.createTempDirectory("prune raw").toString + "/r dir"
    li.write.parquet(path)
    val index = GraftIO.buildStatsIndex(spark, path, Seq("l_orderkey"))
    // rewrite the file column into the legacy raw form
    val raw = index.withColumn("file",
      udf((s: String) => new org.apache.hadoop.fs.Path(new java.net.URI(s)).toString)
        .apply($"file"))
    assert(raw.select("file").collect().exists(_.getString(0).contains(" ")),
      "test setup: the raw form must contain an unencoded space")
    val pruned = GraftIO.readPruned(spark, raw, "l_orderkey", Long.MinValue, Long.MaxValue)
    assert(pruned.count() == li.count())
  }

  test("readPruned fails loudly on a zero-row index instead of 'Unable to infer schema'") {
    val p = Files.createTempDirectory("prune empty").toString + "/e"
    Tables.lineitem(spark, sf).select($"l_orderkey").limit(10).write.parquet(p)
    val schema = GraftIO.buildStatsIndex(spark, p, Seq("l_orderkey")).schema
    val zeroRows = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val e = intercept[IllegalArgumentException] {
      GraftIO.readPruned(spark, zeroRows, "l_orderkey", 0L, 100L).count()
    }
    assert(e.getMessage.contains("zero rows"))
  }

  // the pruned read and the footer index take the schema from a footer
  // (no inference job); both must see what spark.read.parquet infers
  test("readPruned has the inferred schema; string and date stat columns still take the scan path") {
    val li = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_partkey", $"l_returnflag")
      .withColumn("d", date_add(lit("2020-01-01").cast("date"), ($"l_orderkey" % 100).cast("int")))
      .withColumn("one", lit(1L)) // written non-nullable; every read is nullable
    val path = Files.createTempDirectory("prune_schema").toString + "/z"
    GraftIO.writeZOrdered(li, path, Seq("l_orderkey", "l_partkey"), files = 8)
    val inferred = spark.read.parquet(path).schema
    assert(inferred.fields.forall(_.nullable))
    val index = GraftIO.buildStatsIndex(spark, path, Seq("l_partkey"))
    assert(GraftIO.readPruned(spark, index, "l_partkey", Long.MinValue, Long.MaxValue).schema == inferred)
    // no file survives: the empty frame keeps the schema too
    assert(GraftIO.readPruned(spark, index, "l_partkey", -2L, -1L).schema == inferred)
    assert(GraftIO.footerStatsIndex(spark, path, Seq("l_returnflag")).isEmpty)
    assert(GraftIO.footerStatsIndex(spark, path, Seq("d")).isEmpty)
    assert(GraftIO.buildStatsIndex(spark, path, Seq("d")).count() == 8)
  }
}
