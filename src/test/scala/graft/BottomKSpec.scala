package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftExtensions

/** BottomK aggregate: equivalence with the rank-window formulation,
  * partitioning invariance (merge correctness), and null handling. */
class BottomKSpec extends AnyFunSuite with SparkSpec {

  test("equals the rank-window formulation on real events; partitioning-invariant") {
    import spark.implicits._
    GraftExtensions.ensureRegistered(spark)
    val ev = Tables.events(spark, sf).select($"event_type", $"event_id")

    def viaAgg(df: org.apache.spark.sql.DataFrame) = df
      .groupBy($"event_type")
      .agg(call_function("graft_bottomk",
        sha2($"event_id".cast("string"), 256), $"event_id", lit(5)).as("sample"))
      .select($"event_type", posexplode($"sample").as(Seq("pos", "s")))
      .select($"event_type", $"pos", $"s.value".as("event_id"))
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet

    val w = Window.partitionBy($"event_type")
      .orderBy(sha2($"event_id".cast("string"), 256), $"event_id")
    val viaWindow = ev
      .withColumn("rk", row_number().over(w)).filter($"rk" <= 5)
      .select($"event_type", ($"rk" - 1).as("pos"), $"event_id")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet

    val base = viaAgg(ev)
    assert(base === viaWindow)
    assert(base.nonEmpty)
    // merge correctness: wildly different partitionings, same sample
    assert(viaAgg(ev.repartition(17, $"event_id")) === base)
    assert(viaAgg(ev.coalesce(1)) === base)
  }

  test("groups smaller than k return all rows; null keys/values skipped") {
    import spark.implicits._
    GraftExtensions.ensureRegistered(spark)
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
    GraftExtensions.ensureRegistered(spark)
    val df = Seq(("a", 1L)).toDF("g", "v")
    assertThrows[Exception] {
      df.groupBy($"g")
        .agg(call_function("graft_bottomk", sha2($"v".cast("string"), 256), $"v", lit(0)))
        .collect()
    }
  }
}
