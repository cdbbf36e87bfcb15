package graft

import org.apache.spark.sql.functions._

import graft.similarity.ConnectedComponents

/** Connected-components invariants beyond the hash gate: the
  * distributed label-propagation path must agree with the exact driver
  * union-find, and non-convergence must be surfaced, not silent. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** A graph with known components: two chains (depth > 1) + a
    * triangle + an isolated edge. */
  private def edges = Seq(
    (1L, 2L), (2L, 4L), (4L, 8L),         // chain rooted at 1
    (3L, 6L), (6L, 12L),                  // chain rooted at 3
    (20L, 21L), (21L, 22L), (20L, 22L),   // triangle rooted at 20
    (30L, 31L)                            // pair
  ).toDF("src", "dst")

  private def expected = Map(
    1L -> 1L, 2L -> 1L, 4L -> 1L, 8L -> 1L,
    3L -> 3L, 6L -> 3L, 12L -> 3L,
    20L -> 20L, 21L -> 20L, 22L -> 20L,
    30L -> 30L, 31L -> 30L)

  /** The `rdd-*` checkpoint dirs now in the session's checkpoint dir. */
  private def rddDirs(): Set[String] = {
    // getCheckpointDir is fs-qualified ("file:/tmp/...") — strip the
    // scheme for the local listing
    val dir = spark.sparkContext.getCheckpointDir
      .map(s => new java.io.File(new java.net.URI(s).getPath))
    dir.flatMap(d => Option(d.list())).map(_.filter(_.startsWith("rdd-")).toSet)
      .getOrElse(Set.empty)
  }

  test("driver union-find labels every vertex with its component minimum") {
    val r = ConnectedComponents.labelWithStatus(edges)
    assert(r.converged)
    val got = r.labels.as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("distributed label propagation agrees with the union-find result") {
    // driverThreshold = -1 forces the iterative Spark path
    val r = ConnectedComponents.labelWithStatus(edges, maxIter = 8, driverThreshold = -1L)
    assert(r.converged)
    assert(r.iterations >= 1)
    val got = r.labels.as[(Long, Long)].collect().toMap
    r.labels.unpersist()
    assert(got == expected)
  }

  test("distributed path converges a deep chain (plan stays O(1) per iteration)") {
    // path graph of diameter 30 through the ITERATIVE path: before the
    // per-round lineage cut, each iteration doubled the logical plan
    // (labels referenced twice) and 30 rounds meant a 2^30-node plan —
    // the sf100 gate died OOM just rendering the plan string at round
    // 8. The cut makes each round's plan O(1), so this completes fast.
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("src", "dst")
    val r = ConnectedComponents.labelWithStatus(chain, maxIter = 64, driverThreshold = -1L)
    assert(r.converged)
    // genuinely iterated, not the seed shortcut; the per-round pointer
    // jump covers diameter 30 in ~log2 rounds, so the old >= 15
    // one-hop bound no longer applies
    assert(r.iterations >= 3)
    val got = r.labels.as[(Long, Long)].collect().toMap
    r.labels.unpersist()
    assert(got == (0L to 30L).map(_ -> 0L).toMap)
  }

  test("per-round checkpoints are deleted — only the final round's files survive") {
    // a diameter-30 chain runs ~16 doubling rounds; each takes a
    // reliable checkpoint, and every round but the LAST must delete
    // its predecessor's files (the ContextCleaner never collects
    // checkpoints, so leaks here stranded one labels snapshot per
    // round per call for the session lifetime). This also catches the
    // file-discovery walk silently failing: then nothing is deleted
    // and the count grows by `iterations`, not 1.
    // pointer jumping converges diameter 30 in a handful of rounds —
    // use a longer chain so several checkpointed rounds actually run
    val chain = (0L until 3000L).map(i => (i, i + 1)).toDF("src", "dst")
    val before = rddDirs()
    val r = ConnectedComponents.labelWithStatus(chain, maxIter = 64, driverThreshold = -1L)
    assert(r.iterations >= 5)
    val after = rddDirs()
    r.labels.unpersist()
    assert((after -- before).size == 1,
      s"expected exactly the final round's checkpoint to survive, got ${(after -- before).size}")
  }

  test("hitting the iteration cap surfaces converged=false (and strict throws)") {
    // path graph 0-1-2-...-19: diameter 19, far beyond maxIter = 2
    val path = (0L until 19L).map(i => (i, i + 1)).toDF("src", "dst")
    val r = ConnectedComponents.labelWithStatus(path, maxIter = 2, driverThreshold = -1L)
    assert(!r.converged)
    r.labels.unpersist()
    // the discarded result frees its checkpoint files too
    val before = rddDirs()
    assertThrows[IllegalStateException] {
      ConnectedComponents.labelWithStatus(path, maxIter = 2, strict = true,
        driverThreshold = -1L)
    }
    assert((rddDirs() -- before).isEmpty, "strict failure left a round's checkpoint behind")
  }

  test("graph_components gate query: components of the doubling graph") {
    val out = operators.GraphQueries.graphComponents(spark, sf)
      .as[(Long, Long)].collect().toMap
    // every component representative is odd (doubling preserves odd
    // roots), and each vertex's rep divides it by a power of two
    assert(out.nonEmpty)
    out.foreach { case (id, comp) =>
      assert(comp % 2 == 1, s"rep $comp of $id should be odd")
      var x = id
      while (x % 2 == 0 && x > comp) x /= 2
      assert(x == comp, s"vertex $id should reduce to its odd root $comp")
    }
  }

  test("graph_pagerank agrees with a driver-side integer PageRank replay") {
    // recompute the exact-integer iteration in plain Scala over the
    // same edge derivation, then compare the distributed top-N
    val e0 = Tables.orders(spark, sf).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, sf).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst"))
      .distinct().as[(Long, Long)].collect()
    val und = e0 ++ e0.map { case (s, d) => (d, s) }
    val deg = und.groupBy(_._1).map { case (v, xs) => v -> xs.length.toLong }
    var r: Map[Long, Long] = deg.map { case (v, _) => v -> 1000000L }.toMap
    (1 to operators.GraphQueries.PagerankIters).foreach { _ =>
      val in = und.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (s, _) => r(s) / deg(s) }.sum
      }
      r = in.map { case (v, s) => v -> (150000L + 85L * s / 100L) }.toMap
    }
    val expectedTop = r.toSeq.sortBy { case (id, rk) => (-rk, id) }
      .take(operators.GraphQueries.PagerankTopN)
    val got = operators.GraphQueries.graphPagerank(spark, sf)
      .as[(Long, Long)].collect().toSeq
    assert(got == expectedTop)

    // the large-graph path (per-round reliable checkpoints, threshold
    // forced to 0) must produce the identical ranking, and free every
    // round's checkpoint: the result is on the driver
    val before = rddDirs()
    val gotCkpt = operators.GraphQueries.graphPagerank(spark, sf, ckptMinEdges = 0L)
      .as[(Long, Long)].collect().toSeq
    assert(gotCkpt == expectedTop)
    assert((rddDirs() -- before).isEmpty, "pagerank left a round's checkpoint behind")
  }
}
