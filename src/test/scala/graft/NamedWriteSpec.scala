package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{FileSystems, GraftIO}

/** Named-chunk output, pluggable partition transformer (reference
  * io.py:27-33, 73-99; tests/test_io.py:248-270, 315-319), the s3a
  * assume-role conf mapping, and created()/sign(). */
class NamedWriteSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_named").toString

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // the listener bus is async: wait until the count stops moving
      var last = -1
      var spins = 0
      while (jobs.get() != last && spins < 50) {
        last = jobs.get(); Thread.sleep(100); spins += 1
      }
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("writeNamed: named chunk files per hive partition, lossless roundtrip") {
    import spark.implicits._
    val df = (1 to 100).map(i => (i.toLong, s"u$i", if (i % 2 == 0) "a" else "b"))
      .toDF("id", "name", "k")
    val out = tmp()
    GraftIO.writeNamed(df, out, GraftIO.Dsv,
      partitionBy = Seq("k"), suffixes = Seq("chunk01.tsv", "chunk02.tsv"),
      dropPartitions = false)

    val fss = FileSystems(spark)
    val files = fss.find(out).filterNot(_.endsWith(".crc")).map(_.replace("file:", ""))
    assert(files.map(_.stripPrefix(out)).toSet ===
      Set("/k=a/chunk01.tsv", "/k=a/chunk02.tsv", "/k=b/chunk01.tsv", "/k=b/chunk02.tsv"))

    val back = GraftIO.read(spark, s"$out/k=*/chunk*.tsv", GraftIO.Dsv,
      schema = Some(df.schema))
    assert(back.count() === 100)
    assert(back.agg(sum($"id")).collect()(0).getLong(0) === (1 to 100).sum.toLong)
  }

  test("writeNamed: a multi-partition export runs exactly one scan job") {
    import spark.implicits._
    val df = (1 to 60).map(i => (i.toLong, s"v$i", s"p${i % 6}")).toDF("id", "v", "k")
    val jobs = jobsDuring(GraftIO.writeNamed(df, tmp(), GraftIO.Dsv,
      partitionBy = Seq("k"), suffixes = Seq("c1.tsv", "c2.tsv")))
    // 6 partition tuples × 2 chunks, all non-empty: the round-4
    // per-tuple loop ran a distinct-collect plus one write job per
    // (tuple, chunk) — 13 jobs. The single-pass write is O(1) jobs
    // regardless of directory count (AQE runs the repartition's map
    // stage as its own job, hence <= 2, not == 1).
    assert(jobs <= 2, s"expected O(1) jobs, saw $jobs")
  }

  test("writeNamed: (tuple, chunk) pairs with no rows get empty files in O(1) jobs") {
    import spark.implicits._
    // 3 rows over 2 tuples and 4 suffixes: at least 5 of the 8 named
    // files get no rows
    val df = Seq((1L, "x", "a"), (2L, "y", "a"), (3L, "z", "b")).toDF("id", "v", "k")
    val suffixes = Seq("c1.parquet", "c2.parquet", "c3.parquet", "c4.parquet")
    val out = tmp()
    val jobs = jobsDuring(GraftIO.writeNamed(df, out, partitionBy = Seq("k"), suffixes = suffixes))
    // the one-scan write (<= 2, see above) plus ONE empty-template
    // write, however many names are missing
    assert(jobs <= 3, s"expected O(1) jobs, saw $jobs")

    val named = for (k <- Seq("a", "b"); s <- suffixes) yield s"$out/k=$k/$s"
    val fss = FileSystems(spark)
    named.foreach(f => assert(fss.exists(f), s"missing $f"))
    val counts = named.map { f =>
      val back = spark.read.parquet(f)
      assert(back.schema.map(c => c.name -> c.dataType) ===
        df.drop("k").schema.map(c => c.name -> c.dataType), s"schema of $f")
      back.count()
    }
    assert(counts.sum === 3L)
    assert(counts.count(_ == 0L) >= 5, s"per-file row counts $counts")
  }

  test("writeNamed: custom partition transformer controls layout") {
    import spark.implicits._
    val df = Seq((1L, "x", "p1"), (2L, "y", "p2")).toDF("id", "v", "part")
    val out = tmp()
    GraftIO.writeNamed(df, out, GraftIO.JsonLines,
      partitionBy = Seq("part"), suffixes = Seq("data.jsonl"),
      transformer = (prefix, parts, values, suffix) =>
        // dashed layout instead of hive k=v
        (Seq(prefix) ++ parts.zip(values).map { case (k, v) => s"$k-$v" } :+ suffix)
          .mkString("/"))
    val files = FileSystems(spark).find(out).filterNot(_.endsWith(".crc"))
    assert(files.map(_.stripPrefix("file:").stripPrefix(out)).toSet ===
      Set("/part-p1/data.jsonl", "/part-p2/data.jsonl"))
    // partition cols dropped by default (reference drop_partitions)
    val back = spark.read.json(s"$out/part-p1/data.jsonl")
    assert(back.columns.toSet === Set("id", "v"))
  }

  test("writeNamed without partitioning splits rows across named chunks") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, s"r$i")).toDF("id", "v")
    val out = tmp()
    GraftIO.writeNamed(df, out, GraftIO.Dsv, gzip = true,
      suffixes = Seq("a.tsv.gz", "b.tsv.gz", "c.tsv.gz"))
    val files = FileSystems(spark).find(out).filterNot(_.endsWith(".crc"))
    assert(files.map(_.split("/").last).toSet === Set("a.tsv.gz", "b.tsv.gz", "c.tsv.gz"))
    val back = GraftIO.read(spark, out, GraftIO.Dsv, schema = Some(df.schema))
    assert(back.count() === 50)
  }

  test("s3aConf maps the reference assume-role chain to hadoop settings") {
    val conf = FileSystems.s3aConf(
      assumedRole = Some("arn:aws:iam::123456789012:role/data-reader"),
      endpoint = Some("http://localhost:9000"))
    assert(conf("fs.s3a.assumed.role.arn") === "arn:aws:iam::123456789012:role/data-reader")
    assert(conf("fs.s3a.aws.credentials.provider")
      .contains("AssumedRoleCredentialProvider"))
    assert(conf("fs.s3a.assumed.role.session.duration") === "3600s")
    assert(conf("fs.s3a.endpoint") === "http://localhost:9000")
    assert(conf("fs.s3a.path.style.access") === "true")
    // applies cleanly onto a live Configuration and the FS still works
    val hconf = FileSystems.applyS3a(
      new org.apache.hadoop.conf.Configuration(), conf)
    assert(hconf.get("fs.s3a.assumed.role.arn").endsWith("data-reader"))
    assert(FileSystems.s3aConf() === Map.empty)
  }

  test("created() and sign() on local files; sign rejects object stores") {
    val fss = FileSystems.local()
    val dir = tmp()
    val f = s"$dir/x.txt"
    fss.writeString(f, "hello")
    assert(fss.created(f) > 0L)
    assert(fss.created(f) <= fss.modified(f) + 1000)
    assert(fss.sign(f).startsWith("file:"))
    assertThrows[UnsupportedOperationException] {
      fss.sign("s3a://bucket/key")
    }
  }

  test("sign() dispatches to a registered SDK presigner for object-store schemes") {
    val fss = FileSystems.local()
    FileSystems.registerPresigner("s3a",
      (path, exp) => s"https://signed.example/${path.stripPrefix("s3a://")}?X-Expires=$exp")
    try {
      assert(fss.sign("s3a://bucket/key", 300) ===
        "https://signed.example/bucket/key?X-Expires=300")
      // local passthrough is unaffected by the registry
      val f = s"${tmp()}/y.txt"
      fss.writeString(f, "hi")
      assert(fss.sign(f).startsWith("file:"))
    } finally FileSystems.unregisterPresigner("s3a")
    // after unregister the documented boundary is back
    assertThrows[UnsupportedOperationException] {
      fss.sign("s3a://bucket/key")
    }
  }
}
