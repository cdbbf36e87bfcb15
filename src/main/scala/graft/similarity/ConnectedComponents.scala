package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.plans.Checkpoints

/** Bounded label-propagation connected components over an undirected
  * edge list — the cluster-assembly step of the dedup pipelines.
  *
  * Each iteration composes one edge-hop (newLabel(v) = min(label(v),
  * min over neighbors' labels)) with one pointer jump (adopt the
  * current label of one's label). Labels are monotonically
  * non-increasing, and with the jump the covered distance doubles per
  * round, so convergence to the component minimum takes
  * O(log2(diameter)) iterations — the difference between ~5 and ~23
  * checkpointed rounds on the sf100 doubling graph, and what keeps a
  * high-diameter 100 TB graph's round count bounded. Duplicate
  * clusters are near-cliques (diameter 1-2), so a small fixed bound
  * is exact in practice AND caps cost at scale — an unbounded loop on
  * 100 TB would be a runaway job. Each round cuts its lineage with
  * [[graft.plans.Checkpoints]], which also frees the round before it,
  * so plan and DAG stay flat.
  */
object ConnectedComponents {

  /** Labels plus convergence status: `converged=false` means the
    * iteration cap was hit with label changes still pending (some
    * high-diameter component is still split — with the per-round
    * pointer jump that needs diameter > ~2^(maxIter+1)). */
  final case class Result(labels: DataFrame, converged: Boolean, iterations: Int)

  /** @param edges DataFrame with long columns (src, dst), undirected
    *              (either orientation; both are added internally). It
    *              may be lazy and need not be cached: label persists
    *              the edges itself, and its path-picking collect is the
    *              action that materializes them, so a caller that
    *              passes an unmaterialized pair chain pays for one
    *              materialization, not a count and then a collect.
    *              Caches the edges' lineage reads must stay persisted
    *              until label returns (the distributed loop recomputes
    *              what the collect did not reach).
    * @return (id, component) — component = the minimum id of the
    *         connected component (exact when maxIter >= ~log2 of the
    *         largest component diameter, per the jump-doubling). The
    *         returned frame is MATERIALIZED — every iteration takes an
    *         eager reliable checkpoint (above the driver union-find
    *         threshold the loop always runs at least one), so consuming
    *         it never re-executes the iterative lineage; long-lived
    *         sessions may unpersist it once consumed. Logs a warning if the iteration cap was hit
    *         before convergence; use [[labelWithStatus]] to branch on
    *         it, or `strict = true` there to fail instead.
    */
  def label(edges: DataFrame, maxIter: Int = 8): DataFrame =
    labelWithStatus(edges, maxIter).labels

  /** Below this edge count the component labeling runs as a driver-side
    * union-find instead of iterative Spark jobs. Honest driver-memory
    * math (not just raw longs): 2M collected Tuple2[Long,Long] (field-
    * specialized, no boxing) ≈ 64 MB, plus a boxed HashMap of up to 4M
    * vertex entries ≈ 300 MB transiently — comfortably inside a
    * multi-GB driver, same order as a large broadcast side. The
    * distributed label-propagation loop costs several shuffle JOBS
    * regardless of data size; on the small edge lists near-dup
    * verification emits, that fixed job latency dominates by 10×
    * (measured 3.4 s of jobs for a 256-edge graph). */
  val DriverUnionFindMaxEdges: Long = 2_000_000L

  /** As [[label]], surfacing convergence. `strict = true` throws
    * IllegalStateException on non-convergence instead of returning
    * partially-propagated components. */
  def labelWithStatus(
      edges: DataFrame,
      maxIter: Int = 8,
      strict: Boolean = false,
      driverThreshold: Long = DriverUnionFindMaxEdges): Result = {
    val spark = edges.sparkSession
    import spark.implicits._

    // Persist the edge list FIRST: it is tiny (verified near-dup
    // pairs), but its lineage is the whole candidate+verify pipeline —
    // without this, the distributed path below re-executes that
    // pipeline once per reference. This is the only cache of the edges:
    // callers hand over their pair chain unmaterialized.
    val e = edges.select($"src", $"dst").persist(StorageLevel.MEMORY_AND_DISK)

    // ONE collect, with no count before it, decides the path and, when
    // the edges fit, fetches them: at most driverThreshold + 1 edges
    // either are the whole list (driver union-find) or prove it is over
    // the threshold (distributed loop, over the same persisted frame).
    // A negative threshold skips the collect and forces the distributed
    // path.
    if (driverThreshold >= 0) {
      val fetched = e.select($"src".cast("long"), $"dst".cast("long")).as[(Long, Long)]
        .limit(math.min(driverThreshold, Int.MaxValue - 1L).toInt + 1).collect()
      if (fetched.length <= driverThreshold) {
        e.unpersist()
        // exact (full path compression): always converged
        return Result(unionFindLocal(spark, fetched), converged = true, iterations = 0)
      }
    }

    val adj = e
      .union(e.select($"dst".as("src"), $"src".as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    // Seed labels with the 1-hop neighborhood minimum — one aggregation
    // replaces what would otherwise be the whole first iteration, and
    // already CONVERGES cliques and stars (the shape of most dup
    // clusters), so the loop below usually runs a single confirming
    // pass.
    var labels = adj
      .groupBy($"src".as("id"))
      .agg(min($"dst").as("mn"))
      .select($"id", least($"id", $"mn").as("component"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    labels.count() // materialize before the loop mutates the var

    // Iterations MUST truncate lineage in the plan AND the RDD DAG:
    // `next` references `labels` twice (join + union), so chaining
    // rounds directly doubles the logical plan per iteration — the
    // sf100 gate OOM'd at round 8 just RENDERING the 2^8-wide plan
    // string for the SQL listener. An RDD-only re-root fixes the plan
    // but still deepens the RDD DAG ~10 nodes per round until task
    // deserialization overflows the stack on deep graphs. A reliable
    // checkpoint per round (Checkpoints.cut) — the GraphX/GraphFrames
    // approach — cuts both: O(1) plan and DAG at any iteration count.
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      // candidate labels flowing along edges, then keep the min per id.
      // Persisted: the pointer jump below references this frame twice.
      val prop = adj
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select($"src".as("id"), $"component")
        .union(labels)
        .groupBy($"id")
        .agg(min($"component").as("component"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // Pointer jump: every node also adopts the CURRENT label of its
      // label (a same-component node whose own label is <= it, by the
      // monotone-decrease invariant — labels start at ids and only
      // ever adopt smaller same-component node ids, so the lookup is
      // both safe and shrinking). One-hop propagation alone needs
      // ~diameter rounds — the sf100 doubling graph's ~23 chained
      // rounds of join+checkpoint+GC were the whole graph_components
      // decade blowup — while composing a jump per round doubles the
      // covered distance: O(log diameter) rounds, each paying one
      // extra NODE-sized self-join (trivial next to the edge join).
      // Dup-cluster callers (diameter 1-2, seed-converged) still run
      // their single confirming pass.
      val next = Checkpoints.cut(prop
        .join(prop.select($"id".as("jid"), $"component".as("jc")),
          $"component" === $"jid", "left")
        .select($"id",
          least($"component", coalesce($"jc", $"component")).as("component")))
      prop.unpersist()
      val changed = next.join(labels.withColumnRenamed("component", "old"), "id")
        .filter($"component" =!= $"old").limit(1).count()
      Checkpoints.retire(labels) // last read above: the seed or the previous round
      labels = next
      converged = changed == 0
      i += 1
    }
    adj.unpersist()
    e.unpersist()
    if (!converged) {
      val msg = s"connected components did not converge within $maxIter iterations; " +
        "labels are partially propagated (some high-diameter component is still split)"
      if (strict) {
        Checkpoints.retire(labels) // result discarded — free its files too
        throw new IllegalStateException(msg)
      }
      org.slf4j.LoggerFactory.getLogger(getClass).warn(msg)
    }
    // the FINAL round's checkpoint stays: it is the storage backing the
    // returned frame (freed with the session temp dir / by the caller's
    // storage lifecycle)
    Result(labels, converged, i)
  }

  /** Exact union-find over a collected edge list: component = minimum
    * reachable id (path compression + union by min keeps the invariant
    * the distributed loop converges to). One pass over the edges, one
    * createDataFrame back out. The edges arrive from a typed collect:
    * specialized Tuple2[Long, Long], primitive fields, no per-row Row
    * object or boxing. */
  private def unionFindLocal(spark: SparkSession, edges: Array[(Long, Long)]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrDefault(root, root) != root) root = parent.get(root)
      var cur = x // path compression
      while (parent.getOrDefault(cur, cur) != root) {
        val next = parent.get(cur); parent.put(cur, root); cur = next
      }
      root
    }
    edges.foreach { t =>
      val (a, b) = (find(t._1), find(t._2))
      // every endpoint must appear in the map (roots map to themselves)
      parent.putIfAbsent(a, a)
      parent.putIfAbsent(b, b)
      if (a != b) { // union by min id: smaller id becomes the root
        if (a < b) parent.put(b, a) else parent.put(a, b)
      }
    }
    val pairs = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
    parent.forEach((id, _) => pairs += ((id, find(id))))
    spark.createDataFrame(pairs.toSeq).toDF("id", "component")
  }
}
