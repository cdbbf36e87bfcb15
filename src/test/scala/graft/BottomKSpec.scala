package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BottomK aggregate: equivalence with the rank-window formulation,
  * partitioning invariance (merge correctness), and null handling. */
class BottomKSpec extends AnyFunSuite with SparkSpec {

  test("equals the rank-window formulation on real events; partitioning-invariant") {
    import spark.implicits._
    // (g, key, v) inputs: real events under sha2 hex keys, and
    // adversarial keys on one value where only the UTF-8 byte order
    // decides — the U+FF61 / U+1F600 pair (UTF-16 order would keep the
    // emoji), keys that differ only after a 9-byte shared prefix, a key
    // that is a prefix of another, and a repeated key the value breaks
    val ev = Tables.events(spark, sf)
      .select($"event_type".as("g"), sha2($"event_id".cast("string"), 256).as("key"),
        $"event_id".as("v"))
    val adversarial = Seq(("\ud83d\ude00", 7L), ("\uff61", 7L), ("abcdefghi1", 7L),
      ("abcdefghi0", 7L), ("abcdefghi", 7L), ("\uff61", 1L))
      .map { case (k, v) => ("adv", k, v) }.toDF("g", "key", "v")

    def viaAgg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"g")
      .agg(call_function("graft_bottomk", $"key", $"v", lit(5)).as("sample"))
      .select($"g", posexplode($"sample").as(Seq("pos", "s")))
      .select($"g", $"pos", $"s.key", $"s.value")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet

    val w = Window.partitionBy($"g").orderBy($"key", $"v")
    def viaWindow(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"g", ($"rk" - 1).as("pos"), $"key", $"v")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3))).toSet

    for (df <- Seq(ev, adversarial)) {
      val base = viaAgg(df)
      assert(base === viaWindow(df))
      assert(base.nonEmpty)
      // merge correctness: wildly different partitionings, same sample
      assert(viaAgg(df.repartition(17, $"v")) === base)
      assert(viaAgg(df.coalesce(1)) === base)
    }
    assert(viaAgg(adversarial).map(r => (r._2, r._3, r._4)) === Set(
      (0, "abcdefghi", 7L), (1, "abcdefghi0", 7L), (2, "abcdefghi1", 7L),
      (3, "\uff61", 1L), (4, "\uff61", 7L)))
  }

  test("groups smaller than k return all rows; null keys/values skipped") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(3L)), ("a", Some(1L)),
      ("b", Some(9L)), ("b", None)).toDF("g", "v")
    val got = df
      .groupBy($"g")
      .agg(call_function("graft_bottomk",
        when($"v".isNotNull, sha2($"v".cast("string"), 256)), $"v", lit(5)).as("s"))
      .select($"g", size($"s").as("n"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(got === Map("a" -> 2, "b" -> 1))
  }

  test("k must be a positive literal") {
    import spark.implicits._
    val df = Seq(("a", 1L)).toDF("g", "v")
    assertThrows[Exception] {
      df.groupBy($"g")
        .agg(call_function("graft_bottomk", sha2($"v".cast("string"), 256), $"v", lit(0)))
        .collect()
    }
  }
}
