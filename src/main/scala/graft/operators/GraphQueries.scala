package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.Checkpoints
import graft.similarity.ConnectedComponents

/** Graph operators: connected components as a first-class query,
  * hash-verified against a DuckDB recursive-CTE transitive closure.
  *
  * The dedup pipelines already USE ConnectedComponents for cluster
  * assembly, but their LSH candidate edges are probabilistic, so those
  * gates are rows-only. This gate runs the SAME labeling code over a
  * deterministic edge set — doubling edges (i → 2i) over the document
  * id space, which build binary-tree components of real depth (~log n,
  * deeper than any dup clique) — so the component assignment itself is
  * hash-checked cross-engine, closing the verification gap on the
  * weakest link of the dedup family.
  */
object GraphQueries {

  /** Deterministic doubling-edge set over the document ids: an edge
    * i → 2i for every id whose double IS ITSELF a document id (a
    * semi-join, not a max-bound check — a gapped id space must not
    * produce edges to phantom vertices); id 0 excluded (0 → 0 is a
    * self-loop). Components are the odd-rooted chains {o, 2o, 4o, ...}
    * restricted to present ids. */
  private def doublingEdges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = Tables.documents(spark, dir).select($"doc_id")
    ids.filter($"doc_id" >= 1)
      .select($"doc_id".as("src"), ($"doc_id" * 2).as("dst"))
      .join(ids.select($"doc_id".as("dst")), Seq("dst"), "left_semi")
      .select($"src", $"dst")
  }

  /** Connected components over the doubling graph: (id, component)
    * for every vertex incident to an edge, component = minimum
    * reachable id. Exact — the small edge list takes the driver
    * union-find path; the distributed label-propagation path is
    * pinned equal in GraphSpec. */
  def graphComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // the doubling chains are log2(max doc_id) deep (~23 at a 5M-id
    // corpus) — far past the default maxIter=8 that fits dup cliques.
    // 64 covers any 64-bit id space; the loop exits on convergence, so
    // small corpora (and the driver union-find path) never pay for it.
    ConnectedComponents.label(doublingEdges(spark, dir), maxIter = 64)
      .select($"id", $"component")
      .orderBy($"id")
  }

  val PagerankIters = 5
  val PagerankTopN = 100

  /** Above this edge count each round's rank frame takes a reliable
    * checkpoint and nudges the cleaner: a 5-round chain otherwise keeps
    * EVERY round's shuffle files live until the final action (shuffle
    * files are freed only when the ContextCleaner sees their dependency
    * GC'd, and mid-query nothing is collectible while the lineage
    * references them) — at 1000x bench scale the accumulated rounds
    * (~7 GB each) plus the layout build ran the disk out. Ranks are
    * (id, long) scalars — node-count-sized, cheap to snapshot. Below
    * the threshold the extra per-round job + GC would dominate the
    * sub-second rounds, so small corpora skip it; GraphSpec pins both
    * paths equal. */
  private val PagerankCheckpointMinEdges: Long = 10_000_000L

  /** PageRank over the customer–supplier interaction graph (who
    * bought from whom, via orders ⋈ lineitem), the standard importance
    * signal for entity-centric curation (which suppliers/domains
    * anchor the corpus). Undirected formulation: each trade edge
    * conducts rank both ways, so the bipartite graph has no dangling
    * nodes and no leaked rank mass.
    *
    * Exact-integer iteration so the cross-engine gate can hash it:
    * ranks live in micro-units (r₀ = 1 000 000), a node's per-edge
    * contribution is `r div outdeg` (integral division), and the
    * damped update is `150000 + (85 · Σ contrib) div 100` — every step
    * is the same integer arithmetic in Spark and DuckDB, so a fixed
    * `PagerankIters` rounds produce bit-identical ranks (the float
    * formulation would diverge in the summation order). Sums stay far
    * inside Long: total rank mass is ~n·10⁶ ≈ 1.6e13 at sf100.
    *
    * Plan at 100 TB: the canonical distributed PageRank — the edge
    * list is persisted ONCE and hash-shuffled on src (outdeg is a
    * node-sized cache of its own); each round is one co-partitioned join (ranks are keyed by
    * the same id) plus one partial-agg shuffle on dst, where map-side
    * combine absorbs hot-node skew (a popular supplier's incoming
    * contributions reduce inside each task before the exchange). Rank
    * frames are (id, long) scalars — edges never re-shuffle after the
    * initial layout. A fixed iteration count (not a convergence test)
    * keeps the job bounded at any scale; 5 rounds ranks hubs correctly
    * on this graph's ~2-hop diameter. The final top-N is
    * TakeOrderedAndProject (per-partition N, merge on the driver —
    * never a global sort). */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame =
    graphPagerank(spark, dir, PagerankCheckpointMinEdges)

  /** Key-width probe for the edge-cache bytes diet: the edge
    * endpoints are 2·custkey / 2·suppkey+1, and both key families are
    * bounded by their DIMENSION tables (the generator preserves the
    * FK domains at every scale), so two dimension-sized bounds —
    * never a fact-table pass — decide whether the doubled id space
    * fits an int. Bounds come from parquet FOOTER stats when
    * available (a driver-side metadata read, zero Spark jobs — the
    * same machinery as GraftIO.buildStatsIndex; at sf0.1 the two
    * probe jobs were a measurable fixed cost on a ~4 s query),
    * falling back to a dimension-sized aggregate with casts inside
    * the agg so an int32-keyed deployment doesn't crash a driver
    * getLong. At 100 TB with >1B customers the layout silently stays
    * long; same arithmetic either way. */
  private def pagerankKeyType(spark: SparkSession, dir: String): String = {
    def keyBounds(path: String, c: String): (Long, Long) =
      graft.io.GraftIO.footerStatsIndex(spark, path, Seq(c))
        .flatMap(graft.io.GraftIO.indexBounds(_, c)).getOrElse {
        val r = spark.read.parquet(path)
          .agg(min(col(c)).cast("long").as("mn"), max(col(c)).cast("long").as("mx")).first()
        if (r.isNullAt(0)) (Long.MinValue, Long.MaxValue) else (r.getLong(0), r.getLong(1))
      }
    val (cMin, cMax) = keyBounds(s"$dir/customer.parquet", "c_custkey")
    val (sMin, sMax) = keyBounds(s"$dir/supplier.parquet", "s_suppkey")
    // width check in long arithmetic that CANNOT wrap: a fallback
    // bound of Long.MaxValue (null stats) doubled would overflow to
    // negative and make the naive `2*max < Int.MaxValue` spuriously
    // true — the ANSI cast(int) would then kill the query at runtime
    // instead of the probe selecting bigint. cMax < 2^30 - 1 implies
    // 2*cMax fits; sMax < 2^30 - 1 implies 2*sMax + 1 fits.
    val halfInt = Int.MaxValue.toLong / 2 // 1073741823
    val fitsInt = cMin >= 0L && sMin >= 0L &&
      cMax < halfInt && sMax < halfInt
    if (fitsInt) "int" else "bigint"
  }

  /** Whether the edge cache should pay `sortWithinPartitions(src)` at
    * build time. The sort exists for the columnar RLE/delta encoders —
    * it is what turns the src column into runs and buys the ~3.5 B/row
    * cache at sf100 — but that benefit is BYTES, and bytes only matter
    * once the cache is big; on a small graph the sort is a pure fixed
    * cost (~2 s of the ~9 s sf0.1 cell) with a rounding-error payoff.
    * Decide from parquet FOOTER row counts (driver-side metadata, zero
    * jobs): 2×lineitem rows is an upper bound on the undirected edge
    * count, so skipping only below the bound can never skip a big
    * graph; an unreadable/partitioned layout returns None and sorts —
    * the safe default at scale. Threshold shared with the checkpoint
    * gate: below it neither durability nor layout bytes are worth
    * their fixed cost. */
  private def pagerankSortedLayout(spark: SparkSession, dir: String, minEdges: Long): Boolean =
    graft.io.GraftIO.footerRowCount(spark, s"$dir/lineitem.parquet")
      .forall(rows => 2L * rows >= minEdges)

  def graphPagerank(spark: SparkSession, dir: String, ckptMinEdges: Long): DataFrame = {
    import spark.implicits._
    val keyType = pagerankKeyType(spark, dir)

    // disjoint node spaces: customers on even ids, suppliers on odd
    val e0 = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
      .join(Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey"),
        $"o_orderkey" === $"l_orderkey")
      .select(($"o_custkey" * 2).cast(keyType).as("src"),
        ($"l_suppkey" * 2 + 1).cast(keyType).as("dst"))
      .distinct()
    // ONE persisted edge layout: SLIM (src, dst) rows — two ints when
    // the id space allows — hash-partitioned on src for every round's
    // join and SORTED by src within each partition. Both orientations
    // EXPLODE from a single pass over the deduped pairs (a union of e0
    // with its flip would evaluate the distinct subtree twice); they
    // land in disjoint (even → odd / odd → even) key spaces, so no
    // re-dedup is needed. outdeg is NOT carried per edge (an earlier
    // layout stored (src, dst, outdeg) — +50% cache bytes duplicating
    // a per-NODE value onto every edge row; at the sf100 decade that
    // third column was pure spill): the r/outdeg division happens on
    // the node-sized rank table each round, and the edge join attaches
    // the finished per-node contribution.
    //
    // Cache-bytes diet — post-diet the sf100 cache FITS storage
    // memory outright (r8 rounds measurement, BASELINE.md: 1.17B
    // rows = 4.71 GB memory-resident, disk 0 B through all rounds,
    // zero spills), so the diet converted "re-read from disk every
    // round" into "probe from memory every round"; the remaining
    // per-round cost is the aggregateMessages-class shuffle measured
    // below, not storage misses. The levers: (a) SQL caches are
    // already serialized compressed columnar batches — a *_SER
    // storage level changes nothing for an InMemoryRelation — the
    // levers that do work are (b) the int key cast above (8 B → 4 B
    // per endpoint) and (c) sortWithinPartitions(src), which turns
    // the src column into runs the columnar RLE/delta encoders store
    // at ~1 B/row. Together ~16 B/row → ~5 B/row, measured below in
    // BASELINE.md. A single-orientation cache would halve bytes again
    // but forces either a per-round exchange of the flipped edge side
    // (5 rounds × corpus-sized shuffle ≫ the cache read it saves) or
    // a second dst-partitioned cache (same total bytes as both
    // orientations) — rejected on arithmetic, not taste.
    val both = e0.select(explode(array(
        struct($"src", $"dst"),
        struct($"dst".as("src"), $"src".as("dst")))).as("e"))
      .select($"e.src", $"e.dst")
    // the sort is adaptive — see pagerankSortedLayout: RLE bytes only
    // pay above the edge threshold; below it the layout is plain
    // hash-partitioned
    val hashed = both.repartition($"src")
    val edges = (if (pagerankSortedLayout(spark, dir, ckptMinEdges)) hashed.sortWithinPartitions($"src")
                 else hashed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val edgeCount = edges.count() // materialize: every round (and r0) reads the cache
    // node-sized (src, outdeg) — computed ON the cache's src layout
    // (groupBy src re-uses the partitioning: no exchange) and itself
    // persisted so rounds don't re-scan the edge cache for degrees
    val deg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    deg.count()
    val checkpointRounds = edgeCount >= ckptMinEdges

    // r0 over all nodes: distinct on the cache's own partitioning key —
    // no exchange (every node appears as a src in the undirected layout)
    var ranks = edges.select($"src".as("id")).distinct()
      .select($"id", lit(1000000L).as("r"))
    (1 to PagerankIters).foreach { _ =>
      // per-NODE contribution first: r div outdeg on the rank table —
      // a node-sized shuffle_hash join against the cached degree
      // layout (deg never re-exchanges; ranks exchanges node-sized
      // rows, which it did in any formulation). Identical integer
      // arithmetic to dividing per edge: r div outdeg is constant
      // across a node's out-edges.
      val contribs = ranks.withColumnRenamed("id", "src")
        .join(deg.hint("shuffle_hash"), "src")
        .select($"src", expr("r div outdeg").as("c"))
      // shuffle_hash on the node-sized side: the edge cache never
      // re-exchanges (its src layout satisfies the join), and contribs
      // arrives already src-partitioned from the deg join — at any
      // scale the corpus-sized side stays put (a broadcast of ranks
      // would be node-count-sized: not scale-safe).
      //
      // Round cost structure (measured at sf10/sf100, see
      // BASELINE.md): the groupBy(dst) below is the one per-round
      // exchange — the aggregateMessages shuffle every distributed
      // PageRank pays. Its size is Σ_p min(edges_p, distinct_dst_p):
      // while nodes < edges-per-partition the map-side combine
      // collapses it to ~nodes×partitions (sf10: 0.33 GB); once node
      // count outgrows a partition's edge count the combine saturates
      // and the shuffle converges to edge-count-sized (sf100: 7.3 GB
      // per round, ~half of raw) — a one-time regime transition,
      // LINEAR beyond it, and bounded above by the edge count by
      // construction. Zero spills at either scale; the cache is
      // memory-resident (see above) — on a single box the rounds are
      // CPU-bound on the two hash-aggregate passes, which is exactly
      // the axis a multi-executor cluster parallelizes away.
      val round = edges
        .join(contribs.hint("shuffle_hash"), "src")
        .groupBy($"dst".as("id"))
        .agg(sum($"c").as("s"))
        .select($"id", (lit(150000L) + expr("(85 * s) div 100")).as("r"))
      ranks = if (!checkpointRounds) round else {
        val next = Checkpoints.cut(round)
        Checkpoints.retire(ranks) // the round before: last read by the cut
        // the now-dead round's shuffle dependency is only reclaimed when
        // the driver GC notices it — on a mostly-empty multi-GB bench
        // heap that never happens inside one query, so nudge it (the
        // cleaner then deletes the files asynchronously); costs one
        // driver GC per round, noise next to a checkpointed round
        System.gc()
        next
      }
    }
    // every node keeps outdeg >= 1 in the undirected graph, so each
    // round's inner join preserves the full vertex set. The id is cast
    // back to long so the narrow cache layout never leaks into the
    // result schema.
    val out = ranks.orderBy($"r".desc, $"id").limit(PagerankTopN)
      .select($"id".cast("long").as("id"), $"r".as("rank_u"))
    // the result is a bounded top-N: land it on the driver so the edge
    // cache can be released here instead of leaking a persisted frame
    // to the caller (the returned plan must not depend on the cache)
    val rows = out.collect()
    edges.unpersist()
    deg.unpersist()
    // the result is on the driver now — the final round's checkpoint
    // files no longer back anything
    Checkpoints.retire(ranks)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
      .orderBy($"rank_u".desc, $"id")
  }
}
