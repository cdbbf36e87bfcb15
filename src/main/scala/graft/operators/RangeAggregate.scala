package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Band aggregation over a point set — sums of per-point measures
  * inside each interval `[lo, hi]` — WITHOUT materializing the
  * (point, interval) pairs a range join would emit.
  *
  * A bucketed range join ([[RangeJoin]]) is the right tool when the
  * caller needs the matched pairs themselves; when it only needs a SUM
  * per interval, the pairs are pure waste — match cardinality grows
  * with points × interval density (measured ~100× for 10× data on the
  * price-band query), so any join-based plan eventually spends its
  * whole budget materializing rows the aggregate immediately folds.
  *
  * Sweep formulation instead: a band sum is a difference of two prefix
  * sums, `cum(hi) − cum(lo⁻)`. Points and interval endpoints are
  * unioned into one event table ordered by (value, tie) where lo-probes
  * sort BEFORE points at the same value and hi-probes AFTER (making
  * both bounds inclusive); a running sum over that order gives each
  * probe its prefix, and each interval's sum is `hi-probe − lo-probe`.
  * Cost is O((points + intervals) log) — one range shuffle, one narrow
  * hash shuffle, zero pair rows.
  *
  * The prefix sums are distributed, not a single-partition window:
  * range-partition the events by (value, tie), compute running sums
  * per partition, then add each partition's broadcast exclusive-prefix
  * offset (the standard distributed scan). The event table is persisted
  * so the per-partition totals and the running sums read the SAME
  * partition layout — without it the two consumers could re-execute the
  * range exchange with independently sampled boundaries, silently
  * misaligning offsets — and is released as soon as the per-interval
  * sums (bounded by |intervals|) are materialized. The offsets window
  * is single-partition but over ≤ shuffle-partition-count rows.
  *
  * Contract: `idCol` must be unique and non-null per interval row
  * (duplicate ids would merge intervals). Point/lo/hi columns must
  * share a comparable type (they meet in a union). SQL BETWEEN
  * semantics: NULL points contribute nothing; intervals with a NULL
  * bound or `lo > hi` get all-zero sums; NULL measure values count
  * as zero.
  */
object RangeAggregate {

  /** For each `intervals` row, the sum of every `measures` column over
    * points whose `pointCol` lies in `[loCol, hiCol]`. Output = all
    * interval columns plus `<measure>_sum` for each measure (zero when
    * the band is empty). The per-interval sums it reads are kept as
    * `range_band_sums` ([[graft.CacheLedger.keep]]), which releases the
    * event table before returning. */
  def bandSums(
      points: DataFrame, pointCol: String, measures: Seq[String],
      intervals: DataFrame, idCol: String, loCol: String, hiCol: String): DataFrame = {
    require(measures.nonEmpty, "at least one measure column required")
    val reserved = Set("__key", "__tie", "__id", "__pid") ++
      measures.flatMap(m => Seq(s"__m_$m", s"__run_$m", s"__t_$m", s"__off_$m", s"${m}_sum"))
    val clash = intervals.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"interval columns collide with RangeAggregate internals/outputs: ${clash.mkString(", ")}")

    val idType = intervals.schema(idCol).dataType
    val mType = measures.map(m => m -> points.schema(m).dataType).toMap
    def zero(m: String) = lit(0).cast(mType(m))

    val pts = points
      .filter(col(pointCol).isNotNull)
      .select(col(pointCol).as("__key") +: lit(1).as("__tie") +:
        lit(null).cast(idType).as("__id") +:
        measures.map(m => coalesce(col(m), zero(m)).as(s"__m_$m")): _*)
    val valid = intervals
      .filter(col(loCol).isNotNull && col(hiCol).isNotNull && col(loCol) <= col(hiCol))
    // lo-probe (tie 0) sorts before points at the same value — its
    // prefix EXCLUDES them; hi-probe (tie 2) sorts after — INCLUDES.
    def probe(edge: String, tie: Int) = valid
      .select(col(edge).as("__key") +: lit(tie).as("__tie") +:
        col(idCol).as("__id") +: measures.map(m => zero(m).as(s"__m_$m")): _*)

    val spark = points.sparkSession
    val nPart = spark.sessionState.conf.numShufflePartitions

    val evs = pts.unionByName(probe(loCol, 0)).unionByName(probe(hiCol, 2))
      .repartitionByRange(nPart, col("__key"), col("__tie"))
      .withColumn("__pid", spark_partition_id())
      .persist(StorageLevel.MEMORY_AND_DISK)

    val wRun = Window.partitionBy(col("__pid")).orderBy(col("__key"), col("__tie"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wOff = Window.orderBy(col("__pid")).rowsBetween(Window.unboundedPreceding, -1)

    val totals = measures.map(m => sum(col(s"__m_$m")).as(s"__t_$m"))
    val offsets = evs.groupBy(col("__pid"))
      .agg(totals.head, totals.tail: _*)
      .select(col("__pid") +: measures.map(m =>
        coalesce(sum(col(s"__t_$m")).over(wOff), zero(m)).as(s"__off_$m")): _*)

    val probeCums = evs
      .select(col("__pid") +: col("__tie") +: col("__id") +:
        measures.map(m => sum(col(s"__m_$m")).over(wRun).as(s"__run_$m")): _*)
      .filter(col("__tie") =!= 1)
      .join(broadcast(offsets), Seq("__pid"))
    val signed = measures.map { m =>
      val cum = col(s"__run_$m") + col(s"__off_$m")
      sum(when(col("__tie") === 2, cum).otherwise(-cum)).as(s"${m}_sum")
    }
    val bands = graft.CacheLedger.keep("range_band_sums",
      probeCums.groupBy(col("__id")).agg(signed.head, signed.tail: _*), evs)

    intervals.join(bands, intervals(idCol) === bands("__id"), "left")
      .drop("__id")
      .na.fill(0, measures.map(m => s"${m}_sum"))
  }
}
