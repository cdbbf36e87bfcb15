package graft

import org.apache.spark.sql.functions._

import graft.functions.BloomBytes
import graft.operators.HeavyHitterQueries

/** Contracts of the SpaceSaving heavy-hitters summary and the bloom
  * join prune (functions/TopFreq.scala, functions/BloomFilter.scala):
  * exactness when the summary never fills, SpaceSaving bounds when it
  * does, bloom no-false-negatives, and pruned-join == plain-join.
  */
class FrequencySpec extends SparkSpec {
  import spark.implicits._

  test("topfreq with capacity >= distinct is exact with zero error, any partitioning") {
    val items = (1 to 500).map(i => s"item${i % 13}")
    // adversarial keys tied on count, so only the UTF-8 byte order
    // decides their output order: the U+FF61 / U+1F600 pair (UTF-16
    // order disagrees), keys differing only after a 9-byte shared
    // prefix, and a key that is a prefix of another
    val adversarial = Seq("\ud83d\ude00", "\uff61", "abcdefghi1", "abcdefghi0",
      "abcdefghi").flatMap(Seq.fill(3)(_)) ++ Seq("z", "z")
    for (input <- Seq(items, adversarial); parts <- Seq(1, 7)) {
      val got = input.toDF("x").repartition(parts)
        .agg(expr("graft_topfreq(x, 64)").as("hh"))
        .select(posexplode($"hh").as(Seq("pos", "e")))
        .orderBy($"pos")
        .select($"e.item", $"e.cnt", $"e.err")
        .as[(String, Long, Long)].collect()
      // output order (cnt desc, item asc) equals Spark's own string sort
      val exact = input.toDF("x").groupBy($"x").agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"x").as[(String, Long)].collect()
      assert(got.map(g => (g._1, g._2)).toSeq === exact.toSeq)
      assert(got.forall(_._3 == 0L), "err")
    }
  }

  test("topfreq under eviction keeps SpaceSaving bounds: true <= cnt <= true + err") {
    // skewed stream: item0 x 400, item1 x 100, 200 singletons
    val items = Seq.fill(400)("hot0") ++ Seq.fill(100)("hot1") ++
      (1 to 200).map(i => s"rare$i")
    val true_ = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val got = items.toDF("x").repartition(5)
      .agg(expr("graft_topfreq(x, 8)").as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.item", $"e.cnt", $"e.err")
      .as[(String, Long, Long)].collect()
    assert(got.length === 8)
    // the guaranteed heavy hitter (true > n/k = 700/8) is present
    val byItem = got.map(e => e._1 -> e).toMap
    assert(byItem.contains("hot0"))
    got.foreach { case (item, cnt, err) =>
      val t = true_(item)
      assert(cnt >= t, s"$item: cnt $cnt < true $t (undercount breaks the sketch contract)")
      assert(cnt - err <= t, s"$item: cnt-err ${cnt - err} > true $t (error bound broken)")
    }
  }

  test("bloom has no false negatives and prunes most non-members") {
    val members = (0L until 2000L).map(_ * 7L)
    val bloom = members.toDF("x")
      .agg(expr("graft_bloom_agg(xxhash64(x), 262144)"))
      .head.getAs[Array[Byte]](0)
    // every member hits (hashes collected in ONE action, then probed
    // locally — one job, not one per member)
    val memberHashes = members.toDF("x").select(xxhash64($"x")).as[Long].collect()
    assert(memberHashes.forall(BloomBytes.contains(bloom, _)), "false negative")
    // false-positive rate on 10k non-members stays far under 1%
    val nonMembers = (0L until 10000L).map(_ * 7L + 3L)
    val hashes = nonMembers.toDF("x").select(xxhash64($"x")).as[Long].collect()
    val fp = hashes.count(BloomBytes.contains(bloom, _))
    assert(fp < 100, s"$fp false positives of 10000")
  }

  test("bloom merge across partitions equals single-partition build") {
    val df = (0L until 1000L).toDF("x")
    val one = df.coalesce(1).agg(expr("graft_bloom_agg(xxhash64(x), 65536)"))
      .head.getAs[Array[Byte]](0)
    val many = df.repartition(7).agg(expr("graft_bloom_agg(xxhash64(x), 65536)"))
      .head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(one, many))
  }

  test("bloom-pruned join returns exactly the plain join's rows") {
    val got = HeavyHitterQueries.qBloomPruneJoin(spark, sf)
      .as[(String, Long, Double)].collect().toSeq
    val plain = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf).filter($"c_mktsegment" === "BUILDING"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("sum_price"))
      .orderBy($"o_orderpriority")
      .as[(String, Long, Double)].collect().toSeq
    assert(got === plain)
  }

  test("heavy-hitters gate query equals the exact groupBy top-10") {
    val got = HeavyHitterQueries.qHeavyHitters(spark, sf)
      .as[(String, Long)].collect().toSeq
    val exact = Tables.documents(spark, sf)
      .filter(length(trim($"text")) > 0)
      .select(explode(graft.text.TextFunctions.wsTokens($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("cnt"))
      .orderBy($"cnt".desc, $"token").limit(10)
      .as[(String, Long)].collect().toSeq
    assert(got === exact)
  }
}
