package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.{GraftExtensions, TopFreq}

/** Structured Streaming twins of the batch event operators (SURVEY
  * §2.7 item 30). The transformations are source-agnostic: they accept
  * any streaming (or batch) DataFrame with the events schema, so specs
  * drive them from MemoryStream and production from readStream.
  *
  * Scale posture: state is per-key and bounded — watermarks bound the
  * windowed-agg and dedup state, the session state is one small struct
  * per active user, and event-time timeouts evict closed sessions.
  */
object EventStreams {

  /** Tumbling 1-hour windowed counts with a 2-hour watermark: late
    * events beyond the watermark are dropped and window state is
    * evicted — without the watermark, state grows forever. */
  def windowedCounts(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
      .select($"w.start".as("window_start"), $"event_type", $"n", $"sum_value")
  }

  /** Exactly-once-per-id dedup bounded by the watermark: duplicates
    * arriving within 1 hour of the first occurrence are dropped;
    * dedup state older than the watermark is evicted. */
  def dedupeWithinWatermark(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark("event_id")

  /** Stream-static as-of enrichment — the streaming twin of
    * operators.AsofJoin.backward for the dimension-lookup case: attach
    * to each streaming row the most recent static row at or before its
    * time, per key.
    *
    * The static side is packed ONCE into a time-sorted array per key
    * and broadcast (it is a dimension; the streaming side never
    * shuffles for this join). Per event the match is
    * `try_element_at(filter(arr, t <= ts), -1)` — codegen'd
    * higher-order functions, no per-row state. Dedupe the static side
    * per (key, time) first if same-time rows exist, as with
    * AsofJoin. Left-outer: unmatched rows carry a NULL struct. */
  def asofLookup(
      stream: DataFrame, dim: DataFrame,
      streamKey: String, streamTime: String,
      dimKey: String, dimTime: String,
      alias: String = "matched"): DataFrame = {
    val packed = dim
      .filter(col(dimKey).isNotNull && col(dimTime).isNotNull)
      .groupBy(col(dimKey).as("__k"))
      .agg(sort_array(collect_list(struct(
        col(dimTime).as("__t"),
        struct(dim.columns.map(col).toSeq: _*).as("__p")))).as("__arr"))
    stream
      .join(broadcast(packed), col(streamKey) === col("__k"), "left")
      .withColumn(alias,
        try_element_at(filter(col("__arr"), x => x.getField("__t") <= col(streamTime)), lit(-1))
          .getField("__p"))
      .drop("__k", "__arr")
  }

  /** Stream-stream interval join: purchases attributed to the same
    * user's clicks at most `lagMinutes` earlier. Both sides carry
    * watermarks and the join predicate bounds the event-time gap, so
    * Spark can evict click state once the purchase watermark passes
    * click_ts + lag — without the time bound the state store grows
    * forever. Batch twin: operators.EventQueries.eventsAttribution
    * (which keeps only the MOST RECENT qualifying click via as-of;
    * stream-stream join emits every qualifying click — the streaming
    * engine cannot know "most recent" until the watermark closes, so
    * the refinement to newest-only is a downstream aggregation).
    * LEFT-OUTER like the batch twin: an unattributed purchase is
    * emitted with NULL click columns once the watermark passes its
    * join window (an inner join would silently drop its revenue). */
  def attributionJoin(
      clicks: DataFrame, purchases: DataFrame,
      lagMinutes: Int = 60): DataFrame = {
    val c = clicks
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    val p = purchases
      .withWatermark("ts", "2 hours")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
    p.join(c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lagMinutes MINUTES"),
      "leftOuter")
  }

  /** Streaming incremental dedup — the twin of
    * operators.PipelineQueries.dedupIncremental for continuous
    * ingestion: drop stream rows whose `digestCol` already exists in
    * the static index, and within-stream duplicates inside the
    * watermark horizon.
    *
    * Stream-static LEFT ANTI is not a supported streaming join, so the
    * index probe is a stream-static left-outer against the deduped
    * index keyed by digest, filtered to non-matches — the supported
    * plan with identical semantics. At 100 TB the index side would be
    * fronted by a broadcast Bloom filter (definitive lookup only on
    * filter hits); the logical shape here is unchanged by that.
    *
    * `tsCol` bounds the within-stream dedup state: digests older than
    * the watermark are evicted (a re-send after the horizon is the
    * batch layer's job — the standard lambda split). */
  def dedupAgainstIndex(
      stream: DataFrame, index: DataFrame,
      digestCol: String, tsCol: String,
      watermark: String = "1 hour"): DataFrame = {
    val idx = index.select(col(digestCol).as("__idx_digest")).distinct()
      .withColumn("__hit", lit(1))
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(digestCol)
      .join(idx, col(digestCol) === col("__idx_digest"), "left")
      .filter(col("__hit").isNull)
      .drop("__idx_digest", "__hit")
  }

  /** Streaming heavy hitters — the SpaceSaving summary as a streaming
    * aggregate. A mergeable fixed-size buffer is exactly what
    * incremental state maintenance needs: each micro-batch's partial
    * summaries merge into the stored one, state stays <= k entries, and
    * complete-mode output re-emits the current top-k. With capacity >=
    * distinct items the stream's counts equal the batch GROUP BY at
    * every trigger (spec-pinned); under eviction the SpaceSaving
    * overestimate bounds hold for the union of all batches. */
  def topFreq(events: DataFrame, itemCol: String, k: Int = 64): DataFrame = {
    import events.sparkSession.implicits._
    events
      .agg(GraftExtensions.column(TopFreq, col(itemCol), lit(k)).as("hh"))
      .select(explode($"hh").as("e"))
      .select($"e.item".as("item"), $"e.cnt".as("cnt"))
  }

  case class Ev(user_id: Long, ts: Timestamp, event_id: Long)
  case class SessionState(startMs: Long, lastMs: Long, n: Long)
  case class Session(user_id: Long, start_ms: Long, end_ms: Long, n_events: Long)

  case class FunnelEv(user_id: Long, ts: Timestamp, event_id: Long, event_type: String)
  case class FunnelState(viewMs: Option[Long], clickMs: Option[Long], purchased: Boolean,
      lastMs: Long)
  case class FunnelStage(user_id: Long, stage: Int)

  /** Streaming funnel tracker — the twin of
    * operators.PipelineQueries.eventsFunnel: per user, a monotone
    * state machine (view → click-after-view → purchase-after-click)
    * advanced in (ts, event_id) order within each batch. Emits the
    * user's stage once per batch in which it advanced (transitions
    * inside one batch are coalesced to the final stage); the LAST
    * emission per user equals the batch query's stage.
    *
    * Late-data contract: equality with the batch query holds for
    * event-time-ordered arrival (the spec pins it). A late view still
    * lowers the recorded first-view time for FUTURE clicks, but a
    * one-pass state machine cannot retroactively re-qualify a click
    * it already rejected — replaying history is the batch query's
    * job (the standard lambda split). Events later than the
    * watermark are dropped by the engine; state idle past
    * `idleTimeoutMs` is evicted via event-time timeout, so the store
    * is bounded by ACTIVE users, as with sessionization. */
  def funnelStages(
      events: Dataset[FunnelEv],
      watermark: String = "1 hour",
      idleTimeoutMs: Long = 7L * 24 * 3600 * 1000): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._

    def stageOf(s: FunnelState): Int =
      if (s.purchased) 3
      else if (s.clickMs.isDefined) 2
      else if (s.viewMs.isDefined) 1 else 0

    def fn(userId: Long, evs: Iterator[FunnelEv],
           state: GroupState[FunnelState]): Iterator[FunnelStage] = {
      if (state.hasTimedOut) { state.remove(); return Iterator.empty }
      val init = state.getOption.getOrElse(FunnelState(None, None, purchased = false, 0L))
      var s = init
      evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val t = e.ts.getTime
        e.event_type match {
          case "view" if s.viewMs.forall(t < _) => s = s.copy(viewMs = Some(t))
          case "click" if s.viewMs.exists(t >= _) && s.clickMs.isEmpty =>
            s = s.copy(clickMs = Some(t))
          case "purchase" if s.clickMs.exists(t >= _) && !s.purchased =>
            s = s.copy(purchased = true)
          case _ =>
        }
        s = s.copy(lastMs = math.max(s.lastMs, t))
      }
      // skip the state-store write when nothing changed (hot stage-3
      // users would otherwise pay a checkpoint delta every batch)
      if (s != init || state.getOption.isEmpty) {
        state.update(s)
        state.setTimeoutTimestamp(s.lastMs + idleTimeoutMs)
      }
      val (before, after) = (stageOf(init), stageOf(s))
      if (after != before) Iterator(FunnelStage(userId, after)) else Iterator.empty
    }

    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Gap-based sessionization with `flatMapGroupsWithState`: a session
    * closes when `gapMs` passes with no event (emitted immediately if a
    * later event for the user arrives, or via event-time timeout once
    * the watermark passes last+gap). Batch twin:
    * operators.EventQueries.eventsSessionize. */
  def sessionize(events: Dataset[Ev], gapMs: Long = 30 * 60 * 1000): Dataset[Session] = {
    import events.sparkSession.implicits._

    def fn(userId: Long, evs: Iterator[Ev], state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        val s = state.get
        state.remove()
        Iterator(Session(userId, s.startMs, s.lastMs, s.n))
      } else {
        val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
        var closed = List.empty[Session]
        var cur = state.getOption
        sorted.foreach { e =>
          val t = e.ts.getTime
          cur match {
            case Some(s) if t - s.lastMs <= gapMs =>
              cur = Some(s.copy(lastMs = math.max(s.lastMs, t), n = s.n + 1))
            case Some(s) =>
              closed ::= Session(userId, s.startMs, s.lastMs, s.n)
              cur = Some(SessionState(t, t, 1))
            case None =>
              cur = Some(SessionState(t, t, 1))
          }
        }
        cur.foreach { s =>
          state.update(s)
          // evict once the watermark passes the session gap
          state.setTimeoutTimestamp(s.lastMs + gapMs)
        }
        closed.reverseIterator
      }
    }

    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(fn)
  }

  case class CdcChange(key: Long, seq: Long, op: String, value: Double)
  case class CdcState(seq: Long, op: String, value: Double)
  case class CdcUpdate(key: Long, seq: Long, live: Boolean, value: Double)

  /** Streaming CDC apply — the streaming twin of `io.Merge.merge`:
    * per-key state holds the WINNING change under the same total order
    * Merge resolves with (`max` over the (seq, op, value) struct), so
    * replay, out-of-order arrival across micro-batches, and duplicate
    * sequence numbers all converge to the batch merge's answer — a
    * late lower-seq update can never resurrect a higher-seq delete.
    * Emits the key's current state once per micro-batch that touched
    * it (`live = false` = tombstone; downstream sinks delete the key).
    * State is one small struct per key ever changed — the CDC working
    * set, not the corpus. */
  def cdcApply(changes: Dataset[CdcChange]): Dataset[CdcUpdate] = {
    import changes.sparkSession.implicits._
    val ord = Ordering.Tuple3[Long, String, Double]
    def winner(a: CdcState, b: CdcState): CdcState =
      if (ord.gteq((a.seq, a.op, a.value), (b.seq, b.op, b.value))) a else b
    def fn(key: Long, evs: Iterator[CdcChange],
        state: GroupState[CdcState]): Iterator[CdcUpdate] = {
      var cur = state.getOption
      evs.foreach { c =>
        val cand = CdcState(c.seq, c.op, c.value)
        cur = Some(cur.fold(cand)(winner(_, cand)))
      }
      cur.foreach(state.update)
      cur.iterator.map(s => CdcUpdate(key, s.seq, s.op != "D", s.value))
    }
    changes.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(fn)
  }

  /** Idempotent exactly-once parquet sink for `foreachBatch` — the
    * sink half of the streaming story. Structured Streaming guarantees
    * foreachBatch sees each (batchId, data) at-least-once with
    * deterministic content per id after a restart; exactly-once in the
    * SINK is the user's job. The standard pattern, packaged: each
    * batch writes to `path/batch_id=<id>/` with Overwrite. A
    * redelivered batch rewrites the SAME directory with the SAME rows
    * — idempotent by construction, no commit log to keep consistent
    * with the data (the directory IS the commit record, and a partial
    * write left by a crash is overwritten whole on redelivery).
    * Readers see hive-partitioned parquet under `path`; the batch_id
    * partition column also gives them incremental-consumption
    * ordering for free. Returns the function to pass to
    * `writeStream.foreachBatch`. */
  def idempotentParquetSink(path: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, batchId: Long) =>
      batch.write.mode("overwrite").parquet(s"$path/batch_id=$batchId")

  /** Gap-based sessionization via the BUILT-IN `session_window` — the
    * declarative twin of [[sessionize]]: Spark merges each event's
    * gap-length window with overlapping ones into a session, and the
    * watermark evicts closed-session state. Prefer this when
    * per-session aggregates are enough (the engine owns the state
    * shape and merge); `flatMapGroupsWithState` remains for custom
    * state. `session_end` is last-event + gap, per the built-in's
    * convention.
    *
    * `lateness` is the watermark delay: events arriving more than
    * (lateness + gap) behind the max seen event time are dropped once
    * their session's state is evicted. The default tolerates 10
    * minutes of disorder; pass "0 seconds" only when the source is
    * ordered (the spec does, for determinism). */
  def sessionWindowAgg(
      events: DataFrame,
      gap: String = "30 minutes",
      lateness: String = "10 minutes"): DataFrame = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", lateness)
      .groupBy($"user_id", session_window($"ts", gap).as("w"))
      .agg(count(lit(1)).as("n"), sum($"value").as("sum_value"))
      .select($"user_id", $"w.start".as("session_start"),
        $"w.end".as("session_end"), $"n", $"sum_value")
  }
}
