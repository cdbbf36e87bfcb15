package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Headline analytic queries over the TPC-H-ish star schema.
  *
  * Design notes (100 TB posture):
  *  - Filters appear directly over the scan so Catalyst pushes them to
  *    parquet (`PushedFilters` in explain) and prunes columns.
  *  - Only FIXED-SIZE dims (region: 5 rows, nation: 25 rows) carry
  *    explicit `broadcast()` hints. customer/supplier/part scale
  *    linearly with sf, so their joins are unhinted: AQE broadcasts
  *    them while they fit and switches to a skew-split shuffle join
  *    when they don't — a hard-coded hint would OOM at 100 TB.
  *  - Double-valued aggregates are rounded *in the query* so results are
  *    stable under partition-order float association (and match the
  *    identically-rounded DuckDB oracle).
  *  - Every top-k query carries a total ordering (tie-broken by key).
  */
object Analytics {

  /** Q1 pricing summary: wide aggregate over lineitem with a pushdown
    * shipdate filter. Single shuffle (partial agg map-side).
    *
    * The averages are computed EXACTLY: inputs quantized to their
    * decimal grid (quantities are integers, prices/discounts cents),
    * summed as longs (associative — no partition-order float noise),
    * then rounded half-up by integer arithmetic. `round(avg(x), 4)`
    * of grid-valued doubles is a cross-engine flake: the true average
    * lands exactly ON a rounding boundary whenever the integer sum
    * divides suitably, and Spark's vs DuckDB's different summation
    * orders then round to different sides (observed once at sf0.1 in
    * q_antijoin_parts — same fix there). round(sum(..), 2) stays:
    * true sums are whole cents, never on a half-cent boundary, and
    * the product sums are off-grid reals where a boundary hit has
    * ~ulp probability. */
  def q1PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // round-half-up of (S / (inScale·n)) to 4 decimals in PURE long
    // arithmetic (`div` is integral division — a float division here
    // would convert the numerator to double first, and 2·S·k tops
    // 2^53 at sf10, losing the +n tie-break bit); truncation == floor
    // because every operand is non-negative. Exact while
    // 2·S·k + n < 2^63 — ~3e16 at sf10, overflow only past ~sf1000.
    // k = 10^4 / inScale; the final /10^4 is exact (quotient < 2^53).
    // The quotient is cast to double BEFORE a double-literal division:
    // inside `expr`, `/ 10000.0` would parse the literal as DECIMAL and
    // make the output column DECIMAL — numerically identical to the
    // oracle's DOUBLE but representationally different (hash mismatch).
    def avg4(unitSumName: String, nName: String, k: Long): Column =
      expr(s"(2 * $unitSumName * $k + $nName) div (2 * $nName)")
        .cast("double") / lit(10000.0d)
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")), 2).as("sum_charge"),
        sum(floor($"l_quantity" + lit(0.5)).cast("long")).as("qty_u"),
        sum(floor($"l_extendedprice" * 100 + lit(0.5)).cast("long")).as("price_u"),
        sum(floor($"l_discount" * 100 + lit(0.5)).cast("long")).as("disc_u"),
        count(lit(1)).as("count_order"))
      .select($"l_returnflag", $"l_linestatus",
        $"sum_qty", $"sum_base_price", $"sum_disc_price", $"sum_charge",
        avg4("qty_u", "count_order", 10000L).as("avg_qty"),
        avg4("price_u", "count_order", 100L).as("avg_price"),
        avg4("disc_u", "count_order", 100L).as("avg_disc"),
        $"count_order")
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Q3 shipping priority: customer ⋈ orders ⋈ lineitem, revenue top-10.
    * No broadcast hint on customer — it scales linearly with sf (and is
    * multi-GB at 100 TB); AQE picks the join strategy at runtime and
    * splits skewed shuffle partitions. */
  def q3ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" < lit("1996-06-01 00:00:00").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
      .filter($"l_shipdate" > lit("1996-06-01 00:00:00").cast("timestamp"))
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .select($"l_orderkey", date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"),
        $"o_orderpriority", $"revenue")
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }

  /** Q5-style: revenue by nation for one region. Only the FIXED-SIZE
    * dims (region: 5 rows, nation: 25 rows) carry broadcast hints;
    * supplier and customer scale linearly with sf, so their joins are
    * left to AQE (shuffle join on the key, skew-split at runtime —
    * an explicit broadcast hint would force a multi-GB build side at
    * 100 TB). */
  def q5LocalSupplierVolume(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val region = Tables.region(spark, dir).filter($"r_name" === "ASIA")
    val nation = Tables.nation(spark, dir)
    val cust = Tables.customer(spark, dir)
    val supp = Tables.supplier(spark, dir)
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              $"o_orderdate" < lit("1997-01-01 00:00:00").cast("timestamp"))
    val li = Tables.lineitem(spark, dir)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(supp, $"l_suppkey" === $"s_suppkey")
      .join(cust
        .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(region), $"n_regionkey" === $"r_regionkey")
        .select($"c_custkey", $"c_nationkey"), $"o_custkey" === $"c_custkey")
      // local supplier: supplier nation == customer nation
      .filter($"s_nationkey" === $"c_nationkey")
      .join(broadcast(nation.select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** Q6 forecast revenue: pure scan-filter-agg, everything pushed down. */
  def q6RevenueForecast(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" >= lit("1996-01-01 00:00:00").cast("timestamp") &&
              $"l_shipdate" < lit("1997-01-01 00:00:00").cast("timestamp") &&
              $"l_discount" >= 0.05 && $"l_discount" <= 0.07 &&
              $"l_quantity" < 24)
      .agg(round(sum($"l_extendedprice" * $"l_discount"), 2).as("revenue"))
  }

  /** Window functions: top-3 orders per customer market segment by
    * price through [[TopK.perGroup]]: c_mktsegment has only 5
    * distinct values, and the kernel's map-side partial limit keeps
    * them from funnelling every order through 5 tasks. Customer join
    * is unhinted (scales with sf) — AQE decides. */
  def qWindowTopCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
    val ord = Tables.orders(spark, dir)
    TopK.perGroup(ord.join(cust, $"o_custkey" === $"c_custkey"),
        Seq($"c_mktsegment"), $"o_totalprice".desc, $"o_orderkey", 3)
      .select($"c_mktsegment", $"rk", $"o_orderkey",
        round($"o_totalprice", 2).as("o_totalprice"), $"c_name")
      .orderBy($"c_mktsegment", $"rk")
  }

  /** Left-semi join: orders having at least one late-shipped line. */
  def qSemijoinPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1996-03-01 00:00:00").cast("timestamp") &&
              $"o_orderdate" < lit("1996-09-01 00:00:00").cast("timestamp"))
    val li = Tables.lineitem(spark, dir).filter($"l_returnflag" === "R")
    ord.join(li, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  /** Left-anti join: parts never shipped in bulk (quantity >= 48). */
  def qAntijoinParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val part = Tables.part(spark, dir)
    val li = Tables.lineitem(spark, dir)
      .filter($"l_quantity" >= 48).select($"l_partkey")
    part.join(li, $"p_partkey" === $"l_partkey", "left_anti")
      .groupBy($"p_brand")
      // exact-integer average (see q1PricingSummary): retail prices
      // are whole cents, so round(avg(..), 2)'s half-cent boundary is
      // reachable and the engines' different summation orders flaked
      // one cell at sf0.1 — quantize, integer-sum, round half-up once
      .agg(count(lit(1)).as("n_parts"),
        sum(floor($"p_retailprice" * 100 + lit(0.5)).cast("long")).as("cents"))
      .select($"p_brand", $"n_parts",
        // double-typed division (a decimal literal inside `expr` would
        // make the column DECIMAL and hash-mismatch the DOUBLE oracle)
        (expr("(2 * cents + n_parts) div (2 * n_parts)")
          .cast("double") / lit(100.0d)).as("avg_price"))
      .orderBy($"p_brand")
  }

  /** ROLLUP: sales by (returnflag, linestatus) with subtotals + total. */
  def qRollupSales(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(round(sum($"l_extendedprice"), 2).as("total_price"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }

  /** Exact distributed quantiles of l_quantity per return flag. Spark's
    * `percentile` sorts within the aggregation (one shuffle, group-
    * parallel). l_quantity is integer-valued, so the linear
    * interpolation at (n-1)p is exact in doubles and matches DuckDB's
    * quantile_cont bit-for-bit — no rounding in query or oracle. */
  def qGroupQuantiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        percentile($"l_quantity", lit(0.5)).as("p50"),
        percentile($"l_quantity", lit(0.9)).as("p90"),
        percentile($"l_quantity", lit(0.99)).as("p99"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  /** Sketch aggregates — the 100 TB path where q_group_quantiles'
    * exact group-parallel sort becomes the bottleneck: HyperLogLog++
    * distinct counts and QuantileSummaries approximate percentiles.
    * Both sketches are MERGEABLE, so the plan is an ordinary
    * partial-agg shuffle moving one fixed-size sketch per (task,
    * group) instead of the column's values. Accuracy is a parameter
    * (2% rsd / 1000th-rank here); SketchSpec pins the error bounds
    * against the exact aggregates. Rows-only in the gate — DuckDB's
    * approximation algorithms differ by design. */
  def qSketchStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(
        approx_count_distinct($"user_id", 0.02).as("approx_users"),
        percentile_approx($"value", array(lit(0.5), lit(0.95)), lit(1000)).as("pq"),
        count(lit(1)).as("n"))
      .select($"event_type", $"approx_users",
        round($"pq".getItem(0), 2).as("p50_approx"),
        round($"pq".getItem(1), 2).as("p95_approx"),
        $"n")
      .orderBy($"event_type")
  }

  /** Pivot: event counts by (event_type × day-of-week). The pivot
    * VALUES are supplied explicitly — without them Spark runs an extra
    * distinct-values job over the full input before it can even plan.
    * Empty cells are coalesced to 0 to match SQL conditional-aggregate
    * semantics (a pivot cell with no rows is NULL). */
  def qPivotEvents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dows = (0 to 6).map(_.toString)
    val pivoted = Tables.events(spark, dir)
      // ts is epoch nanos; dayofweek is 1=Sunday..7 -> shift to 0=Sunday
      .withColumn("dow",
        (dayofweek(timestamp_seconds(expr("ts div 1000000000"))) - 1).cast("string"))
      .groupBy($"event_type")
      .pivot("dow", dows)
      .agg(count(lit(1)))
    pivoted
      .select($"event_type" +: dows.map(d => coalesce(col(d), lit(0L)).as(d)): _*)
      .orderBy($"event_type")
  }

  /** Range "join" restated as band aggregation: every lineitem unit
    * price matched into the ±2 price band around each part's retail
    * price, then counted/summed per brand. Aggregates are
    * integer-exact (floor sums) so the cross-engine hash is
    * order-insensitive.
    *
    * The query never needs the matched pairs — only per-band sums — so
    * it uses the [[RangeAggregate]] sweep rather than the pair-emitting
    * [[RangeJoin]]: match cardinality here grows with points × interval
    * density (1.18B pairs at sf1, ~100× for 10× data), and any
    * join-based plan spends its budget materializing rows the aggregate
    * immediately folds (22.2 s at sf1; with points pre-grouped by
    * distinct value 11.6 s; the sweep 4.0 s and pair-independent).
    * Points are still pre-grouped by distinct unit price first
    * (distinct values ~ |part|, not |lineitem|) — every final
    * aggregate distributes over the multiplicity: n = Σ n_lines, the
    * floor sum weights by n_lines, and n_parts counts band rows
    * (p_partkey is unique per band row). */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val unitPrices = Tables.lineitem(spark, dir)
      .select(($"l_extendedprice" / $"l_quantity").as("unit_price"))
      .groupBy($"unit_price")
      .agg(count(lit(1)).as("n_lines"))
      .select($"unit_price", $"n_lines",
        (floor($"unit_price") * $"n_lines").as("floor_term"))
    val bands = Tables.part(spark, dir)
      .select($"p_partkey", $"p_brand",
        ($"p_retailprice" - 2.0).as("lo"), ($"p_retailprice" + 2.0).as("hi"))
    RangeAggregate.bandSums(
        unitPrices, "unit_price", Seq("n_lines", "floor_term"),
        bands, "p_partkey", "lo", "hi")
      .filter($"n_lines_sum" > 0) // inner-join semantics: empty bands drop
      .groupBy($"p_brand")
      .agg(sum($"n_lines_sum").cast("long").as("n"),
        sum($"floor_term_sum").cast("long").as("sum_unit_floor"),
        count(lit(1)).as("n_parts"))
      .orderBy($"p_brand")
  }
}
