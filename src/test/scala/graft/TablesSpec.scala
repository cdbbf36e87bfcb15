package graft

import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

class TablesSpec extends AnyFunSuite with SparkSpec {

  test("a rewritten table is read with its new schema, not the cached one") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_tables").toString
    // table directory, as Spark writes it
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq === Seq("k", "v"))
    assert(Tables.table(spark, dir, "t").as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    Seq((2.5, 7, true)).toDF("x", "y", "z").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").schema.fieldNames.toSeq === Seq("x", "y", "z"))
    assert(Tables.table(spark, dir, "t").as[(Double, Int, Boolean)].collect().toSeq ===
      Seq((2.5, 7, true)))

    // single parquet file, replaced in place at the same path
    def partFile(sub: String): java.nio.file.Path =
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, sub)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
    Seq((3L, "c")).toDF("k", "v").coalesce(1).write.parquet(s"$dir/one")
    Seq(("d", 4L, 5L)).toDF("p", "q", "r").coalesce(1).write.parquet(s"$dir/two")
    val single = java.nio.file.Paths.get(dir, "s.parquet")
    java.nio.file.Files.copy(partFile("one"), single)
    assert(Tables.table(spark, dir, "s").schema.fieldNames.toSeq === Seq("k", "v"))
    java.nio.file.Files.copy(partFile("two"), single,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.table(spark, dir, "s").schema.fieldNames.toSeq === Seq("p", "q", "r"))
    assert(Tables.table(spark, dir, "s").as[(String, Long, Long)].collect().toSeq ===
      Seq(("d", 4L, 5L)))
  }

  test("events.ts still reads as epoch-nanos LongType on a cached schema") {
    val first = Tables.events(spark, sf)
    val again = Tables.events(spark, sf)
    assert(first.schema("ts").dataType === LongType)
    assert(again.schema("ts").dataType === LongType)
    assert(again.select("ts").collect().toSeq === first.select("ts").collect().toSeq)
  }
}
