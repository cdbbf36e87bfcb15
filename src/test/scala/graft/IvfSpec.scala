package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AnnQueries, IvfQueries}

/** IVF ANN: probe-limited search should recover most of the exact
  * top-k (recall vs brute force) while scoring only nprobe/nlist of
  * the corpus. */
class IvfSpec extends AnyFunSuite with SparkSpec {

  test("ivf recall@5 vs brute force >= 0.6 on sf0.001") {
    import spark.implicits._
    def topsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select($"qid", $"vid").collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }

    val exact = topsOf(AnnQueries.annBruteforceTopk(spark, sf))
    val ivf = topsOf(IvfQueries.annIvfTopk(spark, sf))
    assert(ivf.nonEmpty && ivf.values.forall(_.size == 5))
    val recalls = exact.map { case (q, ex) =>
      ivf.get(q).map(iv => iv.intersect(ex).size.toDouble / ex.size).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // nprobe=6 of nlist=16 scores ~37.5% of the corpus; random vectors
    // cluster weakly, so recall is far above the scored fraction
    assert(mean >= 0.6, s"mean recall@5 = $mean")
  }
}
