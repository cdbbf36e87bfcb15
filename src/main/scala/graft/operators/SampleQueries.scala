package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{BottomK, GraftExtensions}

/** Deterministic group-wise sampling (SURVEY §2 item 37): the k rows
  * per group with the smallest cryptographic-hash key — a consistent
  * sample that is stable across runs, partitionings, and incremental
  * merges (bottom-k sketch). Runs as the custom `graft_bottomk`
  * TypedImperativeAggregate: partial map-side combine keeps at most k
  * rows per (task, group) in flight, where the equivalent rank-window
  * would shuffle the entire corpus before ranking.
  */
object SampleQueries {

  /** 5-per-event_type deterministic sample of events, keyed by
    * sha256(event_id) — sha256 is identical in DuckDB, so this is a
    * full SQL hash gate despite the custom aggregate. */
  def qSampleDeterministic(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.events(spark, dir)
      .groupBy($"event_type")
      .agg(GraftExtensions.column(BottomK,
        sha2($"event_id".cast("string"), 256), $"event_id", lit(5)).as("sample"))
      .select($"event_type", posexplode($"sample").as(Seq("pos", "s")))
      .select($"event_type", ($"pos" + 1).cast("long").as("rk"), $"s.value".as("event_id"))
      .orderBy($"event_type", $"rk")
  }

  /** Deterministic weighted sampling without replacement
    * (Efraimidis-Spirakis '06): each doc draws u from a hash of its id
    * (reproducible, seedless) and competes with key u^(1/w) — the
    * top-k keys per group are a weight-proportional sample, here top-5
    * per language weighted by document length. Map-side key
    * computation + the [[TopK.perGroup]] every other per-group
    * selection uses. HASH-gated as of r11: the draw comes from
    * sha256 (bit-identical in DuckDB, the q_sample_deterministic
    * argument — the old xxhash64 draw had no oracle-side equivalent),
    * 52 hex-parsed bits → u in (0,1), and the oracle restates
    * pow(u, 1/w) verbatim; the es_key itself is not an output column,
    * so only the per-group ORDER must agree, and adjacent keys sit
    * ~1/n apart — 11 orders of magnitude above any pow ULP wobble.
    * WeightedSampleSpec still re-derives the selection driver-side and
    * pins the weight-skew property. */
  def qSampleWeighted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 5
    val keyed = Tables.documents(spark, dir)
      .select($"doc_id", $"lang", length($"text").cast("double").as("w"),
        // u in (0, 1): (52 sha bits + 1) over 2^52 + 2 — never 0,
        // never 1 (WeightedSampleSpec re-derives this exact formula)
        ((conv(substring(sha2($"doc_id".cast("string"), 256), 1, 13), 16, 10)
          .cast("long") + 1.0) / (Math.pow(2, 52) + 2))
          .as("u"))
      // Efraimidis-Spirakis is defined for w > 0: a zero-length or
      // NULL text has no selection mass, and 1/w on w=0 is an ANSI
      // divide-by-zero that kills the job (null-injection sweep).
      // The null-safe `> 0` drops both.
      .filter($"w" > 0)
      .withColumn("es_key", pow($"u", lit(1.0) / $"w"))
    TopK.perGroup(keyed, Seq($"lang"), $"es_key".desc, $"doc_id", k)
      .select($"lang", $"rk".cast("long").as("rk"), $"doc_id",
        $"w".cast("long").as("weight"))
      .orderBy($"lang", $"rk")
  }
}
