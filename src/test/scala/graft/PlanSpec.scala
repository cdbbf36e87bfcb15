package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.FormattedMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Analytics, AsofJoin, FilterQueries, RangeJoin}

/** Plan audits: the 100 TB-relevant shapes the queries claim —
  * predicate pushdown reaching the parquet scan, column pruning,
  * broadcast hints restricted to fixed-size dims, and range/as-of
  * joins planning as equi-shuffles rather than nested loops. */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private def fmt(df: DataFrame): String =
    df.queryExecution.explainString(FormattedMode)

  test("q1: shipdate predicate pushes to the parquet scan") {
    val s = fmt(Analytics.q1PricingSummary(spark, sf))
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"missing pushdown in:\n$s")
  }

  test("q1: unused lineitem columns are pruned from the read schema") {
    val s = fmt(Analytics.q1PricingSummary(spark, sf))
    // q1 never references the orderkey/partkey/suppkey id columns
    assert(!s.contains("l_orderkey") && !s.contains("l_partkey") && !s.contains("l_suppkey"),
      s"scan reads columns the query never uses:\n$s")
  }

  test("compiled event filter on native columns reaches PushedFilters") {
    val s = fmt(FilterQueries.filterEventsBasic(spark, sf))
    val pushed = s.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("event_type"), s"filter not pushed:\n$s")
  }

  test("broadcast hints only ever cover fixed-size dims (nation/region)") {
    val queries = Seq(
      Analytics.q3ShippingPriority(spark, sf),
      Analytics.q5LocalSupplierVolume(spark, sf),
      Analytics.qWindowTopCustomers(spark, sf),
      Analytics.qSemijoinPriority(spark, sf),
      Analytics.qAntijoinParts(spark, sf))
    queries.foreach { df =>
      df.queryExecution.analyzed.foreach {
        case h: ResolvedHint =>
          val cols = h.child.output.map(_.name)
          assert(cols.forall(c => c.startsWith("n_") || c.startsWith("r_")),
            s"broadcast hint on a scaling table (columns: $cols)")
        case _ =>
      }
    }
  }

  test("head-model LM scoring joins by broadcast — the corpus frame never shuffles for the model") {
    val s = fmt(graft.operators.CorpusQueries.textLmScoreHead(spark, sf))
    assert(s.contains("BroadcastHashJoin"),
      s"head model not broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"scoring join shuffles the (doc, g, cnt) frame:\n$s")
    graft.CacheLedger.releaseAll()
  }

  test("range join plans as an equi-join, not a nested loop") {
    val s = fmt(Analytics.qRangeJoin(spark, sf))
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"range join degenerated to a nested loop:\n$s")
  }

  test("edit-blocked dedup candidates come from an equi-join, never a nested loop") {
    val s = fmt(graft.operators.DedupQueries.dedupEditBlocked(spark, sf))
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"segment blocking degenerated to a nested loop:\n$s")
  }

  test("final r4 batch (maintenance/timeseries/export/classifier) plans without nested loops") {
    Seq(
      graft.operators.MaintenanceQueries.ioScd2History(spark, sf),
      graft.operators.MaintenanceQueries.ioScd2Asof(spark, sf),
      graft.operators.MaintenanceQueries.qIncrementalAgg(spark, sf),
      graft.operators.EventQueries.eventsGapFill(spark, sf),
      graft.operators.EventQueries.eventsDedupWindow(spark, sf),
      graft.operators.IoQueries.ioExportShards(spark, sf),
      graft.operators.TextQueries.textClassifierScore(spark, sf)
    ).foreach { df =>
      val s = fmt(df)
      assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
        s"nested loop in a maintenance plan:\n$s")
    }
  }

  // the top-k window exchanges carry |corpus|×|queries| rows, so a
  // vector column there — under any name — is the exact shuffle-blowup
  // the ANN family's posture forbids: the scored rows entering the
  // windows are (qid, vid, sim) scalars only. The check is by TYPE (no
  // array anywhere in a shuffled column). `bounded` lists, by exact
  // output columns, the exchanges allowed an array because they never
  // see the corpus (IVF's centroid probe: NQueries × NList rows). MMR's
  // pool collect_list buffer is a binary agg buffer, not an array.
  private def assertNoEmbeddingExchange(
      name: String, df: DataFrame, bounded: Set[Seq[String]] = Set.empty): Unit = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
    def hasArray(t: DataType): Boolean = t match {
      case _: ArrayType => true
      case s: StructType => s.fields.exists(f => hasArray(f.dataType))
      case m: MapType => hasArray(m.keyType) || hasArray(m.valueType)
      case _ => false
    }
    val phys = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = phys.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty, name)
    val seen = shuffles.map(_.output.map(_.name)).toSet
    assert(bounded.subsetOf(seen), s"$name: bounded exchanges $bounded not in $seen")
    shuffles.foreach { e =>
      val names = e.output.map(_.name)
      val arrays = e.output.filter(a => hasArray(a.dataType)).map(_.name)
      assert(arrays.isEmpty || bounded.contains(names),
        s"$name: array column(s) $arrays cross an exchange: $names")
    }
  }

  test("mmr re-rank: no embedding column crosses an exchange") {
    assertNoEmbeddingExchange("ann_mmr_rerank",
      graft.operators.AnnQueries.annMmrRerank(spark, sf))
  }

  test("hard negatives: no embedding column crosses an exchange") {
    assertNoEmbeddingExchange("embed_hard_negatives",
      graft.operators.AnnQueries.embedHardNegatives(spark, sf))
  }

  test("ANN top-k: no embedding column crosses an exchange") {
    assertNoEmbeddingExchange("ann_bruteforce_topk",
      graft.operators.AnnQueries.annBruteforceTopk(spark, sf))
    assertNoEmbeddingExchange("ann_ivf_topk",
      graft.operators.IvfQueries.annIvfTopk(spark, sf),
      bounded = Set(Seq("qid", "qvec", "cell", "cdist")))
  }

  test("bottom-k sample aggregates partially before the shuffle") {
    val s = fmt(graft.operators.SampleQueries.qSampleDeterministic(spark, sf))
    // TypedImperativeAggregate plans as ObjectHashAggregate; the
    // partial/final pair proves map-side combine (only k rows per
    // task per group cross the wire)
    val objAggs = s.linesIterator.count(_.matches("""^\(\d+\) ObjectHashAggregate.*"""))
    assert(objAggs >= 2, s"expected partial+final ObjectHashAggregate:\n$s")
    assert(s.contains("partial_graft_bottomk"), s"no partial aggregation:\n$s")
  }

  test("orc read pushes the size filter to the scan") {
    // write once so the read side exists
    val df = graft.operators.IoQueries.ioOrcRoundtrip(spark, sf)
    val s = fmt(df)
    assert(s.contains("PushedFilters: [IsNotNull(p_size), GreaterThanOrEqual(p_size"),
      s"orc pushdown missing:\n$s")
  }

  test("compiled filter on a GraftIO hive layout prunes partitions at the scan") {
    import spark.implicits._
    import graft.io.GraftIO
    val df = Seq((1L, "purchase", 10.0), (2L, "click", 5.0), (3L, "view", 1.0))
      .toDF("id", "event_type", "value")
    val out = java.nio.file.Files.createTempDirectory("graft_prune").toString
    GraftIO.write(df, out, GraftIO.Parquet, partitionBy = Seq("event_type"))
    val back = GraftIO.read(spark, out, GraftIO.Parquet)
    val filtered = back.filter(
      graft.filtering.EventFilter.compile("""[{"event_type": ["purchase"]}]""", back))
    val s = fmt(filtered)
    // the compiled equality lands in PartitionFilters (directory
    // pruning), not just a post-scan filter
    val pf = s.linesIterator.filter(_.contains("PartitionFilters")).mkString
    assert(pf.contains("event_type"), s"no partition pruning:\n$s")
    assert(filtered.collect().map(_.getAs[Long]("id")).toSeq === Seq(1L))
  }

  test("as-of join core is a single key-shuffle") {
    import spark.implicits._
    val l = Seq((1L, 10L, "a")).toDF("k", "t", "v")
    val r = Seq((1L, 5L, 1.0)).toDF("k", "t", "px")
    val s = fmt(AsofJoin.backward(l, r, "k", "t", "k", "t"))
    // count the "(n) Exchange" node headers in the details section —
    // one per physical exchange operator
    val exchanges = s.linesIterator.count(_.matches("""^\(\d+\) Exchange.*"""))
    assert(exchanges == 1, s"expected exactly 1 shuffle, saw $exchanges:\n$s")
    assert(!s.contains("Join"), s"as-of must not plan a join operator:\n$s")
  }

  test("bucketed range join core shuffles both sides on the bucket key only") {
    import spark.implicits._
    val p = Seq((1L, 5.0)).toDF("pid", "p")
    val i = Seq((1L, 0.0, 10.0)).toDF("iid", "lo", "hi")
    val s = fmt(RangeJoin.pointInInterval(p, "p", i, "lo", "hi", 4.0))
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"))
  }

  test("RAG chunker plans with zero exchanges (map-side only, plus the output sort)") {
    val df = graft.operators.CurationQueries.textChunkRag(spark, sf)
    val s = fmt(df)
    // the only exchange allowed is the rangepartitioning of the final
    // orderBy (presentation); the chunk generation itself must not
    // shuffle
    val exchanges = s.linesIterator.filter(_.matches("""^\(\d+\) Exchange.*""")).toSeq
    val nonSort = s.linesIterator.zipWithIndex
      .count(l => l._1.matches("""^\(\d+\) Exchange hashpartitioning.*"""))
    assert(nonSort == 0, s"chunker hash-shuffles:\n${exchanges.mkString("\n")}")
  }

  test("heavy-hitters summary aggregates partially before the shuffle") {
    val s = fmt(graft.operators.HeavyHitterQueries.qHeavyHitters(spark, sf))
    assert(s.contains("partial_graft_topfreq"), s"no partial aggregation:\n$s")
  }

  test("bloom probe filters the fact scan stage, before the join") {
    import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val df = graft.operators.HeavyHitterQueries.qBloomPruneJoin(spark, sf)
    // sparkPlan, not executedPlan: AQE wraps the tree in
    // AdaptiveSparkPlanExec, which collect() does not descend into
    val plan = df.queryExecution.sparkPlan
    // find the join, then require a bloom-probing Filter in its
    // SUBTREE: the prune must run before rows reach the join, not after
    val joins = plan.collect { case j: BaseJoinExec => j }
    assert(joins.nonEmpty, s"no join in:\n$plan")
    def hasProbeBelow(p: SparkPlan): Boolean = p.collect {
      case f: FilterExec if f.condition.toString.contains("graft_bloom_contains") => f
    }.nonEmpty
    assert(joins.exists(j => j.children.exists(hasProbeBelow)),
      s"bloom probe does not sit under the join:\n$plan")
    // and never re-checked on the join OUTPUT (pure prune): every
    // probe filter lives in some join subtree
    val total = plan.collect {
      case f: FilterExec if f.condition.toString.contains("graft_bloom_contains") => f
    }.size
    val below = joins.map(j => j.children.map(c => c.collect {
      case f: FilterExec if f.condition.toString.contains("graft_bloom_contains") => f
    }.size).sum).max
    assert(total == below, s"a bloom probe runs above the join ($total vs $below)")
  }

  test("substring dedup shuffles digests, never token arrays or text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val df = graft.operators.CurationQueries.dedupSubstring(spark, sf)
    // only key-shuffles matter: Tables.widened's round-robin spread of
    // the raw scan is a local-mode artifact (no-op at real scale) and
    // legitimately carries text
    import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, RoundRobinPartitioning}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // sparkPlan predates EnsureRequirements (no aggregate/join
    // exchanges yet); take the adaptive plan's current inner tree
    val phys = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val shuffles = phys.collect {
      case e: ShuffleExchangeExec
        if !e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] &&
          !e.outputPartitioning.isInstanceOf[RangePartitioning] => e }
    assert(shuffles.nonEmpty)
    // every exchange's partition key AND row payload must be scalar
    // digest/count columns — an array or text column in the exchange
    // output means corpus content is crossing the wire
    shuffles.foreach { e =>
      val outTypes = e.output.map(_.dataType.typeName)
      assert(!outTypes.exists(t => t.startsWith("array")),
        s"token arrays cross a shuffle: ${e.output.map(a => a.name -> a.dataType).mkString(", ")}")
      val names = e.output.map(_.name)
      assert(!names.contains("text") && !names.contains("t"),
        s"text crosses a shuffle: $names")
    }
  }

  test("curate scoring trees are not duplicated into the scan filter") {
    // without the EvalBarrier, PushDownPredicates copies the quality
    // and language expression trees into the scan-stage filter and the
    // project evaluates them AGAIN for survivors (10.5 s vs 3.1 s at
    // sf1). The barrier keeps the scan free of scoring regexes.
    val s = fmt(graft.operators.TextQueries.textCurate(spark, sf))
    val scanLines = s.linesIterator.filter(l =>
      l.contains("PushedFilters") || l.contains("DataFilters")).mkString("\n")
    assert(!scanLines.contains("regexp") && !scanLines.contains("graft_text_counts"),
      s"scoring trees reached the scan filters:\n$scanLines")
    // the scoring must still be evaluated exactly once: one
    // regexp_replace-collapse per stop-hit column family in the plan
    assert(s.contains("Filter"), s"caller filter disappeared:\n$s")
  }

  // Tables.widened spreads a few-split scan over every core with a
  // round-robin exchange. A graft_* kernel below that exchange runs in
  // as many tasks as the scan has splits (one, for a small file) and,
  // when a pushed-down filter copied it there, runs again above it.
  // The walk enters adaptive plans, query stages and cached relations.
  private def kernelsBelowRoundRobin(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case r: ReusedExchangeExec => nodes(r.child)
      case m: InMemoryTableScanExec => m +: nodes(m.relation.cachedPlan)
      case _ => p +: p.children.flatMap(nodes)
    }
    nodes(df.queryExecution.executedPlan).collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }.flatMap(e => nodes(e.child)).flatMap(_.expressions.flatMap(_.collect {
      case x if x.prettyName.startsWith("graft_") => x.prettyName
    })).distinct
  }

  test("no graft_* kernel is evaluated below Tables.widened's round-robin exchange") {
    val shingles = graft.operators.DedupQueries.explodedShingles(spark, sf)
    assert(kernelsBelowRoundRobin(shingles).isEmpty,
      s"explodedShingles hashes below the widening exchange:\n${fmt(shingles)}")
    val bad = SparkEntry.queries.flatMap { case (name, q) =>
      val found = try kernelsBelowRoundRobin(q(spark, sf))
        finally { CacheLedger.releaseAll(); spark.catalog.clearCache() }
      found.map(k => s"$name: $k")
    }
    assert(bad.isEmpty, s"kernels below a round-robin exchange: ${bad.mkString(", ")}")
  }

  test("bigram LM shuffles gram scalars only — text never crosses an exchange") {
    // the model groupBy's exchange carries partial counts and the
    // scoring join's exchange carries (doc_id, g) instances; neither
    // may drag the text column past the scan stage, and nothing may
    // degenerate to a nested loop
    val s = fmt(graft.operators.CorpusQueries.textLmScore(spark, sf))
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"),
      s"LM scoring degenerated to a nested loop:\n$s")
    // hashpartitioning exchanges are the real data movement; the
    // round-robin Tables.widened spread is a local-split artifact that
    // precedes tokenization by construction
    val blocks = s.split("\n\n")
    val badExchange = blocks.filter(b =>
      b.contains("Exchange") && b.contains("hashpartitioning") && b.contains("text#"))
    assert(badExchange.isEmpty,
      s"text column crossed a hash exchange:\n${badExchange.mkString("\n\n")}")
  }
}
