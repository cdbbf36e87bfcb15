package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{GraftIO, MemberGzip}

/** Member-chunked gzip (r12): the write side must stay a STANDARD
  * multi-member gzip stream any reader consumes whole, while the
  * framing makes the read side member-parallel. */
class MemberGzipSpec extends AnyFunSuite with SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft_membergz").toString

  private def hconf = spark.sparkContext.hadoopConfiguration

  test("members concatenate to a standard gzip stream; index tiles the file") {
    val lines = (1 to 5000).map(i => s"row_$i,payload_${i * 7}")
    val text = lines.mkString("", "\n", "\n")
    val out = new java.io.ByteArrayOutputStream()
    val ms = new MemberGzip.MemberOutputStream(out, 2048)
    ms.write(text.getBytes("UTF-8")); ms.close()
    val bytes = out.toByteArray

    // any compliant gzip reader must read ALL members transparently
    val gz = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(bytes))
    assert(new String(gz.readAllBytes(), "UTF-8") === text)

    // the index hops headers and tiles the file exactly
    val dir = tmp()
    val p = new org.apache.hadoop.fs.Path(dir, "x.gz")
    val fs = p.getFileSystem(hconf)
    val os = fs.create(p); os.write(bytes); os.close()
    val idx = MemberGzip.memberIndex(fs, p).get
    assert(idx.size > 10, s"2 KiB blocks over ${text.length} bytes must yield many members")
    assert(idx.head.offset === 0L && idx.head.firstOfFile)
    assert(idx.map(_.length).sum === bytes.length)
    // members decode to exactly the original lines, in order
    val decoded = idx.flatMap(m => MemberGzip.memberLines(fs, p, m))
    assert(decoded === lines)
  }

  test("a line longer than the block never splits across members") {
    val big = "x" * 10000
    val lines = Seq("a,1", big + ",2", "c,3")
    val out = new java.io.ByteArrayOutputStream()
    val ms = new MemberGzip.MemberOutputStream(out, 1024)
    ms.write(lines.mkString("", "\n", "\n").getBytes("UTF-8")); ms.close()
    val dir = tmp()
    val p = new org.apache.hadoop.fs.Path(dir, "x.gz")
    val fs = p.getFileSystem(hconf)
    val os = fs.create(p); os.write(out.toByteArray); os.close()
    val idx = MemberGzip.memberIndex(fs, p).get
    assert(idx.flatMap(m => MemberGzip.memberLines(fs, p, m)) === lines)
  }

  test("dsv gzip roundtrip through GraftIO is member-framed and row-identical") {
    import spark.implicits._
    val df = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_partkey", $"l_quantity", $"l_returnflag")
    val dir = tmp()
    hconf.setInt(MemberGzip.BlockBytesKey, 2048) // force many members on a small fixture
    try GraftIO.write(df, dir, GraftIO.Dsv, gzip = true, sep = "|", chunks = 2)
    finally hconf.unset(MemberGzip.BlockBytesKey)

    // every data file is framed, and there are more members than files
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(hconf)
    val files = fs.listStatus(root).filter(_.getPath.getName.endsWith(".gz"))
    assert(files.nonEmpty)
    val memberCounts = files.map(f => MemberGzip.memberIndex(fs, f.getPath).get.size)
    assert(memberCounts.sum > files.length,
      s"read splits ($memberCounts) must exceed file count ${files.length}")

    val back = GraftIO.read(spark, dir, GraftIO.Dsv, sep = "|", schema = Some(df.schema))
    assert(back.rdd.getNumPartitions > files.length,
      "member-parallel read must not serialize one task per gzip file")
    val key = df.columns.map(col)
    assert(back.orderBy(key: _*).collect().toSeq === df.orderBy(key: _*).collect().toSeq)
  }

  test("jsonlines gzip roundtrip: member path preserves rows and nulls") {
    import spark.implicits._
    val df = Seq((1L, Some("a"), Some("")), (2L, None, Some("b")), (3L, Some("c"), None))
      .toDF("id", "s1", "s2")
    val dir = tmp()
    GraftIO.write(df, dir, GraftIO.JsonLines, gzip = true)
    val back = GraftIO.read(spark, dir, GraftIO.JsonLines, schema = Some(df.schema))
    assert(back.orderBy($"id").collect().toSeq === df.orderBy($"id").collect().toSeq)
  }

  test("dsv member path keeps the empty-string vs null distinction") {
    import spark.implicits._
    val df = Seq((1L, Some("")), (2L, None), (3L, Some("x"))).toDF("id", "s")
    val dir = tmp()
    GraftIO.write(df, dir, GraftIO.Dsv, gzip = true)
    val back = GraftIO.read(spark, dir, GraftIO.Dsv, schema = Some(df.schema))
    assert(back.orderBy($"id").collect().toSeq === df.orderBy($"id").collect().toSeq)
  }

  test("member-split and plain reads agree on microsecond timestamps, nulls and empty strings") {
    import spark.implicits._
    import java.sql.Timestamp
    val df = Seq(
      (1L, Some(Timestamp.valueOf("2024-01-02 03:04:05.123456")), Some("a")),
      (2L, None, Some("")),
      (3L, Some(Timestamp.valueOf("2024-12-31 23:59:59")), None))
      .toDF("id", "ts", "s")
    for (format <- Seq(GraftIO.Dsv, GraftIO.JsonLines); gzip <- Seq(true, false)) {
      val dir = tmp()
      GraftIO.write(df, dir, format, gzip = gzip)
      val back = GraftIO.read(spark, dir, format, schema = Some(df.schema))
      assert(back.orderBy($"id").collect().toSeq === df.orderBy($"id").collect().toSeq,
        s"${format.name} gzip=$gzip")
    }
  }

  test("foreign (one-stream) gzip falls back to the standard reader") {
    import spark.implicits._
    val dir = tmp()
    val p = new org.apache.hadoop.fs.Path(dir, "part-0.csv.gz")
    val fs = p.getFileSystem(hconf)
    val os = new java.util.zip.GZIPOutputStream(fs.create(p))
    os.write("id|s\n1|a\n2|b\n".getBytes("UTF-8")); os.close()
    assert(MemberGzip.memberIndex(fs, p).isEmpty, "plain gzip must not index")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, s STRING")
    val back = GraftIO.read(spark, dir, GraftIO.Dsv, sep = "|", schema = Some(schema))
    assert(back.orderBy($"id").collect().map(_.getLong(0)).toSeq === Seq(1L, 2L))
  }

  test("empty frame writes a valid gzip file and reads back empty") {
    import spark.implicits._
    val df = Seq.empty[(Long, String)].toDF("id", "s").coalesce(1)
    val dir = tmp()
    GraftIO.write(df, dir, GraftIO.Dsv, gzip = true)
    val back = GraftIO.read(spark, dir, GraftIO.Dsv, schema = Some(df.schema))
    assert(back.count() === 0L)
  }
}
