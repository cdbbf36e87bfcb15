package graft

import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TopK

/** The top-k kernel against a driver-side sort, and the map-side
  * partial limit its scaladoc relies on for hot groups. */
class TopKSpec extends AnyFunSuite with SparkSpec {

  test("TopK.perGroup equals a driver-side sort (ties, hot group, group < k, asc/desc, repartitioned)") {
    import spark.implicits._
    // group 0 is hot (most of the rows), group 1 holds 2 rows (< every
    // k > 2 below), groups 2..301 hold 3..12 rows each. Scores take 4
    // values only, so nearly every rank is decided by the id tie-break.
    val rows = ((0L until 6000L).map(id => (0, id)) ++
      Seq((1, 900001L), (1, 900002L)) ++
      (2 until 302).flatMap(g => (0 until 3 + g % 10).map(i => (g, 1000000L + g * 100L + i))))
      .map { case (g, id) => (g, id, ((id * 7) % 4).toDouble, s"p$id") }
    val df = rows.toDF("g", "id", "score", "payload")

    for {
      k <- Seq(1, 2, 5)
      desc <- Seq(true, false)
      in <- Seq(df, df.repartition(7, $"id"))
    } {
      val want = rows.groupBy(_._1).toSeq.flatMap { case (_, grp) =>
        grp.sortBy(r => (if (desc) -r._3 else r._3, r._2)).take(k).zipWithIndex
          .map { case ((g, id, s, p), i) => (g, i + 1, id, s, p) }
      }.sortBy(r => (r._1, r._2))
      val out = TopK.perGroup(in, Seq($"g"), if (desc) $"score".desc else $"score".asc, $"id", k)
      val got = out.select($"g", $"rk", $"id", $"score", $"payload").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getDouble(3), r.getString(4)))
        .sortBy(r => (r._1, r._2)).toSeq
      assert(got.count(_._1 == 0) == k && got.count(_._1 == 1) == math.min(k, 2))
      assert(got == want, s"k=$k desc=$desc")
      // each map partition ships at most k rows per group to the window
      val plan = out.queryExecution.explainString(FormattedMode)
      assert(s"""row_number\\(\\), $k, Partial""".r.findFirstIn(plan).nonEmpty,
        s"no partial WindowGroupLimit below the exchange:\n$plan")
    }
  }
}
