package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.EventQueries
import graft.streaming.EventStreams
import graft.streaming.EventStreams.{Ev, Session}

/** Structured Streaming specs (SURVEY §2.7 item 30): watermarked
  * windowed agg, flatMapGroupsWithState sessionization, and
  * dropDuplicatesWithinWatermark, all driven from MemoryStream.
  */
class StreamingSpec extends AnyFunSuite with SparkSpec {

  private def ts(minutes: Long): Timestamp = new Timestamp(minutes * 60 * 1000)

  test("watermarked tumbling-window counts") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.windowedCounts(df).writeStream
      .format("memory").queryName("win_counts").outputMode(OutputMode.Complete).start()
    try {
      in.addData((ts(10), "click", 1.0), (ts(20), "click", 2.0), (ts(70), "view", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select($"window_start", $"event_type", $"n", $"sum_value")
        .collect().map(r => (r.getTimestamp(0).getTime / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows === Set((0L, "click", 2L, 3.0), (60L, "view", 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming LM scoring against the batch model agrees with text_lm_score") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the static side is the SAME model the batch query trains; the
    // corpus streams through in one batch, then a late flush row
    // advances the watermark so every minute-10 window expires and
    // append mode emits exactly one score per document
    val model = graft.operators.CorpusQueries.trainLmHead(spark, sf, minCount = 1L)
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
      .as[(Long, String)].collect()

    val in = MemoryStream[(Long, String, Long)]
    val df = in.toDF().toDF("doc_id", "text", "tmin")
      .withColumn("ts",
        org.apache.spark.sql.functions.expr("timestamp_millis(tmin * 60000)"))
      .drop("tmin")
    val q = graft.streaming.DocStreams.lmScoreStream(df, model).writeStream
      .format("memory").queryName("lm_stream").outputMode(OutputMode.Append).start()
    val got = try {
      in.addData(docs.map { case (id, t) => (id, t, 10L) }.toSeq: _*)
      q.processAllAvailable()
      in.addData((-1L, "flush flush", 1000L)) // watermark past the doc windows
      q.processAllAvailable()
      spark.table("lm_stream").filter($"doc_id" >= 0)
        .select($"doc_id", $"n_bigrams", $"sum_bp", $"avg_bp")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    } finally q.stop()

    val batch = graft.operators.CorpusQueries.textLmScore(spark, sf)
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(got === batch)
    assert(got.nonEmpty)
  }

  test("stream-static as-of lookup agrees with the batch AsofJoin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val quotes = Seq((1L, 200L, 10.0), (1L, 300L, 11.0), (1L, 400L, 12.0), (3L, 100L, 99.0))
      .toDF("k", "t", "px")
    val trades = Seq((1L, 100L, "t1"), (1L, 205L, "t2"), (1L, 300L, "t3"),
      (2L, 500L, "t4"), (1L, 990L, "t5"))

    val in = MemoryStream[(Long, Long, String)]
    val df = in.toDF().toDF("k", "t", "tag")
    val q = EventStreams.asofLookup(df, quotes, "k", "t", "k", "t", "q").writeStream
      .format("memory").queryName("asof_stream").outputMode(OutputMode.Append).start()
    val got = try {
      in.addData(trades: _*)
      q.processAllAvailable()
      spark.table("asof_stream").select($"tag", $"q.px")
        .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    } finally q.stop()

    val batch = graft.operators.AsofJoin
      .backward(trades.toDF("k", "t", "tag"), quotes, "k", "t", "k", "t", "q")
      .select($"tag", $"q.px")
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got === batch)
    assert(got("t2") === Some(10.0) && got("t1") === None)
  }

  test("stream-stream attribution join bounds matches to the time window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long, Double)]
    val cdf = clicks.toDF().toDF("user_id", "ts", "event_id")
    val pdf = purchases.toDF().toDF("user_id", "ts", "event_id", "value")
    val q = EventStreams.attributionJoin(cdf, pdf, lagMinutes = 60).writeStream
      .format("memory").queryName("attr").outputMode(OutputMode.Append).start()
    try {
      clicks.addData(
        (1L, ts(1000), 101L), // 55 min before the purchase: in window
        (1L, ts(900), 102L),  // 155 min before: outside
        (2L, ts(1050), 103L)) // wrong purchase user
      purchases.addData(
        (1L, ts(1055), 201L, 9.99),
        (3L, ts(1060), 202L, 5.00)) // no clicks at all for user 3
      q.processAllAvailable()
      val matched = spark.table("attr").filter($"click_id".isNotNull)
        .select($"purchase_id", $"click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(matched === Set((201L, 101L)))
      // left-outer: the unattributed purchase emits with NULL click
      // columns once both watermarks pass its join window
      clicks.addData((9L, ts(2000), 901L))
      purchases.addData((9L, ts(2000), 902L, 1.0))
      q.processAllAvailable()
      val unmatched = spark.table("attr").filter($"click_id".isNull)
        .select($"purchase_id").collect().map(_.getLong(0)).toSet
      assert(unmatched === Set(202L), s"unattributed purchase not emitted: $unmatched")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization emits closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Ev]
    val q = EventStreams.sessionize(in.toDS()).writeStream
      .format("memory").queryName("sessions").outputMode(OutputMode.Append).start()
    try {
      // NB: offset from epoch 0 — an event at exactly the initial
      // watermark (0) is dropped as late.
      // user 1: two events 10 min apart (one session), then a 90-min
      // gap; user 2: single event
      in.addData(Ev(1, ts(1000), 1), Ev(1, ts(1010), 2), Ev(2, ts(1005), 3))
      q.processAllAvailable()
      // later batch: new event for user 1 after the gap closes session 1
      // AND advances the watermark far enough to time out user 2's state
      in.addData(Ev(1, ts(1100), 4), Ev(2, ts(1200), 5))
      q.processAllAvailable()
      in.addData(Ev(1, ts(1400), 6)) // push watermark past everything open
      q.processAllAvailable()
      val sessions = spark.table("sessions").as[Session].collect().toSet
      def ms(m: Long) = m * 60000
      assert(sessions.contains(Session(1, ms(1000), ms(1010), 2)), s"got $sessions")
      assert(sessions.contains(Session(2, ms(1005), ms(1005), 1)), s"got $sessions")
      assert(sessions.contains(Session(1, ms(1100), ms(1100), 1)), s"got $sessions")
    } finally q.stop()
  }

  test("built-in session_window sessionization agrees with flatMapGroupsWithState") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Timestamp, Double)]
    val df = in.toDF().toDF("user_id", "ts", "value")
    val q = EventStreams.sessionWindowAgg(df, lateness = "0 seconds").writeStream
      .format("memory").queryName("sess_win").outputMode(OutputMode.Append).start()
    try {
      // user 1: events at 1000 and 1010 (one session), user 2: one event
      in.addData((1L, ts(1000), 2.0), (1L, ts(1010), 3.0), (2L, ts(1005), 7.0))
      q.processAllAvailable()
      // advance the watermark past every open session's end (+30m gap)
      in.addData((9L, ts(2000), 0.0))
      q.processAllAvailable()
      val got = spark.table("sess_win")
        .select($"user_id", $"session_start", $"session_end", $"n", $"sum_value")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000,
          r.getTimestamp(2).getTime / 60000, r.getLong(3), r.getDouble(4)))
        .toSet
      // session_end = last event + gap (built-in convention)
      assert(got === Set(
        (1L, 1000L, 1040L, 2L, 5.0),
        (2L, 1005L, 1035L, 1L, 7.0)), s"got $got")
    } finally q.stop()
  }

  test("streaming CDC apply agrees with the batch Merge on out-of-order changes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.{CdcChange, CdcUpdate}

    val in = MemoryStream[CdcChange]
    val q = EventStreams.cdcApply(in.toDS()).writeStream
      .format("memory").queryName("cdc").outputMode(OutputMode.Append).start()
    try {
      in.addData(CdcChange(1, 1, "I", 10.0), CdcChange(2, 1, "I", 20.0))
      q.processAllAvailable()
      in.addData(CdcChange(1, 3, "D", 0.0), CdcChange(2, 2, "U", 25.0),
        CdcChange(3, 1, "I", 30.0))
      q.processAllAvailable()
      // LATE lower-seq update for key 1: must not resurrect the delete
      in.addData(CdcChange(1, 2, "U", 11.0))
      q.processAllAvailable()
    } finally q.stop()

    // last emitted update per key = streaming end state
    val endState = spark.table("cdc").as[CdcUpdate].collect()
      .groupBy(_.key).map { case (k, us) => k -> us.maxBy(_.seq) }
    assert(!endState(1L).live, "higher-seq delete must win over a late update")
    assert(endState(2L).live && endState(2L).value == 25.0)
    assert(endState(3L).live && endState(3L).value == 30.0)

    // batch twin: Merge over the same change set yields the same
    // surviving keys/values (base key 0 passes through untouched)
    val base = Seq((0L, 5.0)).toDF("key", "value")
    val changes = Seq((1L, 1L, "I", 10.0), (2L, 1L, "I", 20.0),
      (1L, 3L, "D", 0.0), (2L, 2L, "U", 25.0), (3L, 1L, "I", 30.0),
      (1L, 2L, "U", 11.0)).toDF("key", "seq", "op", "value")
    val merged = graft.io.Merge.merge(base, changes, Seq("key"), seqCol = Some("seq"))
      .as[(Long, Double)].collect().toMap
    val streamingLive = endState.filter(_._2.live).map { case (k, u) => k -> u.value }
    assert(merged == streamingLive + (0L -> 5.0), s"batch $merged vs stream $streamingLive")
  }

  test("idempotent foreachBatch sink: batch redelivery does not duplicate rows") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("sink").toString + "/out"
    val sink = EventStreams.idempotentParquetSink(dir)

    val in = MemoryStream[(Long, Double)]
    val q = in.toDF().toDF("id", "v").writeStream.foreachBatch(sink)
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((1L, 1.0), (2L, 2.0))
      q.processAllAvailable()
      in.addData((3L, 3.0))
      q.processAllAvailable()
    } finally q.stop()

    val afterRun = spark.read.parquet(dir)
    assert(afterRun.count() == 3)

    // simulate the at-least-once redelivery of batch 0 (restart from a
    // checkpoint whose sink write wasn't acknowledged): same id, same
    // deterministic content — the sink must converge, not append
    sink(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"), 0L)
    val afterRedelivery = spark.read.parquet(dir)
    assert(afterRedelivery.count() == 3, "redelivered batch must not duplicate")
    assert(afterRedelivery.select(
      org.apache.spark.sql.functions.sum($"id")).first().getLong(0) == 6L)
    // batch_id arrives as a hive partition column for incremental readers
    assert(afterRedelivery.columns.contains("batch_id"))
  }

  test("batch and streaming sessionizers agree on shared input") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // deterministic scenario: user 1 has 3 sessions, user 2 has 2
    val eventsMin = Seq( // (user, minute, event_id)
      (1L, 1000L, 1L), (1L, 1010L, 2L), (1L, 1020L, 3L), // session of 3
      (1L, 1100L, 4L), // gap 80 > 30 → new session
      (1L, 1200L, 5L), (1L, 1229L, 6L), // third session (gap 29 ≤ 30)
      (2L, 1005L, 7L), (2L, 1036L, 8L)) // two sessions (gap 31 > 30)

    val batch = EventQueries.sessionizeEvents(
      eventsMin.toDF("user_id", "m", "event_id")
        .select($"user_id", ($"m" * 60L * 1000000000L).as("ts"), $"event_id"))
      .select($"user_id", $"n").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq

    val in = MemoryStream[Ev]
    val q = EventStreams.sessionize(in.toDS()).writeStream
      .format("memory").queryName("sessions_eq").outputMode(OutputMode.Append).start()
    val streamed = try {
      in.addData(eventsMin.map { case (u, m, id) => Ev(u, ts(m), id) })
      q.processAllAvailable()
      in.addData(Ev(99L, ts(5000), 999L)) // advance watermark: close all state
      q.processAllAvailable()
      spark.table("sessions_eq").as[Session]
        .filter($"user_id" =!= 99L).collect()
        .map(s => (s.user_id, s.n_events)).sorted.toSeq
    } finally q.stop()

    assert(batch === Seq((1L, 1L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 1L)))
    assert(streamed === batch)
  }

  test("dropDuplicatesWithinWatermark dedups event ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "event_id")
    val q = EventStreams.dedupeWithinWatermark(df).writeStream
      .format("memory").queryName("deduped").outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(1), 100L), (ts(2), 100L), (ts(3), 101L))
      q.processAllAvailable()
      in.addData((ts(4), 100L), (ts(5), 102L))
      q.processAllAvailable()
      val ids = spark.table("deduped").select($"event_id").collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === Seq(100L, 101L, 102L))
    } finally q.stop()
  }

  test("streaming incremental dedup drops indexed and repeated digests") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val index = Seq("d1", "d2").toDF("digest")
    val in = MemoryStream[(Timestamp, String, String)]
    val df = in.toDF().toDF("ts", "digest", "payload")
    val q = EventStreams.dedupAgainstIndex(df, index, "digest", "ts").writeStream
      .format("memory").queryName("inc_dedup").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (ts(1), "d1", "already-indexed"),   // dropped: in the static index
        (ts(2), "d3", "new-a"),             // kept
        (ts(3), "d3", "new-a-repeat"),      // dropped: within-stream duplicate
        (ts(4), "d4", "new-b"))             // kept
      q.processAllAvailable()
      val got = spark.table("inc_dedup").select($"payload").as[String].collect().toSet
      assert(got === Set("new-a", "new-b"))
    } finally q.stop()
  }

  test("streaming funnel stages agree with the batch funnel query") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.{FunnelEv, FunnelStage}
    val evs = Seq(
      // user 1: click BEFORE view -> stage stops at view
      FunnelEv(1L, ts(1), 1L, "click"),
      FunnelEv(1L, ts(2), 2L, "view"),
      FunnelEv(1L, ts(3), 3L, "purchase"),
      // user 2: full ordered funnel
      FunnelEv(2L, ts(1), 4L, "view"),
      FunnelEv(2L, ts(2), 5L, "click"),
      FunnelEv(2L, ts(3), 6L, "purchase"),
      // user 3: view only
      FunnelEv(3L, ts(1), 7L, "view"))

    val in = MemoryStream[FunnelEv]
    val q = EventStreams.funnelStages(in.toDS()).writeStream
      .format("memory").queryName("funnel_stages").outputMode(OutputMode.Append).start()
    val streamed = try {
      in.addData(evs: _*)
      q.processAllAvailable()
      // last emission per user = final stage
      spark.table("funnel_stages").as[FunnelStage].collect()
        .groupBy(_.user_id).map { case (u, ss) => u -> ss.map(_.stage).max }
    } finally q.stop()

    // batch twin over the same rows written as an events table
    val dir = java.nio.file.Files.createTempDirectory("funnel_tw").toString
    evs.toDF("user_id", "ts", "event_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val row = graft.operators.PipelineQueries.eventsFunnel(spark, dir).collect().head
    val (nView, nClick, nPurch) = (row.getLong(1), row.getLong(2), row.getLong(3))
    assert(streamed.values.count(_ >= 1) === nView)
    assert(streamed.values.count(_ >= 2) === nClick)
    assert(streamed.values.count(_ >= 3) === nPurch)
    assert(streamed === Map(1L -> 1, 2L -> 3, 3L -> 1))
  }

  test("streaming funnel late-data contract: late views help future clicks, never retroactively") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.EventStreams.{FunnelEv, FunnelStage}
    val in = MemoryStream[FunnelEv]
    val q = EventStreams.funnelStages(in.toDS()).writeStream
      .format("memory").queryName("funnel_late").outputMode(OutputMode.Append).start()
    try {
      def stages() = spark.table("funnel_late").as[FunnelStage].collect()
        .filter(_.user_id == 9L).map(_.stage)
      // batch 1: click before any view -> stage 1 only (view counts)
      in.addData(FunnelEv(9L, ts(90), 1L, "click"), FunnelEv(9L, ts(100), 2L, "view"))
      q.processAllAvailable()
      assert(stages().max === 1)
      // batch 2: LATE view at ts 80 — cannot retroactively qualify the
      // ts-90 click (one-pass contract), stage stays 1
      in.addData(FunnelEv(9L, ts(80), 3L, "view"))
      q.processAllAvailable()
      assert(stages().max === 1)
      // batch 3: a NEW click after the lowered first-view time qualifies
      in.addData(FunnelEv(9L, ts(85), 4L, "click"))
      q.processAllAvailable()
      assert(stages().max === 2)
    } finally q.stop()
  }

  test("streaming heavy hitters track exact counts across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // a column name that is not a SQL identifier is a name, not SQL text
    for ((itemCol, sink) <- Seq("item" -> "stream_hh", "item id" -> "stream_hh_spaced")) {
      val in = MemoryStream[String]
      val q = EventStreams.topFreq(in.toDF().toDF(itemCol), itemCol).writeStream
        .format("memory").queryName(sink).outputMode(OutputMode.Complete).start()
      try {
        def counts() = spark.table(sink).as[(String, Long)].collect().toMap
        in.addData("a", "b", "a", "c")
        q.processAllAvailable()
        assert(counts() === Map("a" -> 2L, "b" -> 1L, "c" -> 1L), itemCol)
        // the stored summary merges with the next batch's partials —
        // counts accumulate, they don't reset
        in.addData("b", "b", "d")
        q.processAllAvailable()
        assert(counts() === Map("a" -> 2L, "b" -> 3L, "c" -> 1L, "d" -> 1L), itemCol)
      } finally q.stop()
    }
  }

  test("session_window agg recovers state across a checkpoint restart; sink converges under redelivery") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("restart").toString
    val ckpt = s"$root/ckpt"
    val out = s"$root/out"
    val sink = EventStreams.idempotentParquetSink(out)

    val in = MemoryStream[(Long, Timestamp, Double)]
    val df = in.toDF().toDF("user_id", "ts", "value")
    def start() = EventStreams.sessionWindowAgg(df, lateness = "0 seconds")
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()

    // run A: open a session for user 1 — watermark never passes its
    // end, so the session lives ONLY in the state store at stop time
    val q1 = start()
    try {
      in.addData((1L, ts(1000), 2.0), (1L, ts(1010), 3.0))
      q1.processAllAvailable()
    } finally q1.stop()

    // run B: resume from the checkpoint; an event inside the 30-minute
    // gap must MERGE into the recovered session, not start a new one
    val q2 = start()
    try {
      in.addData((1L, ts(1020), 5.0))
      q2.processAllAvailable()
      in.addData((9L, ts(3000), 0.0)) // watermark push: session closes + emits
      q2.processAllAvailable()
    } finally q2.stop()

    def user1Sessions() = spark.read.parquet(out)
      .where($"user_id" === 1L)
      .select($"user_id", $"session_start", $"session_end", $"n", $"sum_value")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime / 60000,
        r.getTimestamp(2).getTime / 60000, r.getLong(3), r.getDouble(4))).toSet
    // one session spanning both runs — state crossed the restart
    assert(user1Sessions() === Set((1L, 1000L, 1050L, 3L, 10.0)),
      s"state did not survive the restart: ${user1Sessions()}")

    // redelivery across the restart boundary: re-apply the final batch
    // (same id, same deterministic content, as after a crash between
    // the sink write and the offset commit) — the sink must converge
    val lastBatch = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id="))
      .map(_.stripPrefix("batch_id=").toLong).max
    // materialize BEFORE the sink overwrites the directory being read
    val snapshot = spark.read.parquet(s"$out/batch_id=$lastBatch")
    val redelivered = spark.createDataFrame(
      java.util.Arrays.asList(snapshot.collect(): _*), snapshot.schema)
    sink(redelivered, lastBatch)
    assert(user1Sessions() === Set((1L, 1000L, 1050L, 3L, 10.0)),
      "redelivered batch changed the sink contents")
  }

  test("CDC apply recovers per-key state across a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import EventStreams.{CdcChange, CdcUpdate}
    val ckpt = java.nio.file.Files.createTempDirectory("cdc_ckpt").toString

    val in = MemoryStream[CdcChange]
    // memory sink can't recover from a checkpoint; foreachBatch can —
    // emissions accumulate in a driver-side buffer per run
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[CdcUpdate]()
    def start() = EventStreams.cdcApply(in.toDS()).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[CdcUpdate], _: Long) =>
        batch.collect().foreach(emitted.add)
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()

    val q1 = start()
    try {
      in.addData(CdcChange(1L, 5L, "U", 10.0), CdcChange(2L, 1L, "U", 1.0))
      q1.processAllAvailable()
    } finally q1.stop()
    emitted.clear()

    // run B: a STALE change for key 1 (seq 3 < recovered seq 5) and a
    // genuine delete for key 2. If state had been lost, key 1 would
    // emit seq 3 / value 99.0.
    val q2 = start()
    val got = try {
      in.addData(CdcChange(1L, 3L, "U", 99.0), CdcChange(2L, 7L, "D", 0.0))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      emitted.asScala.map(u => u.key -> u).toMap
    } finally q2.stop()

    assert(got(1L) === CdcUpdate(1L, 5L, live = true, 10.0),
      s"stale change resurrected after restart: ${got(1L)}")
    assert(got(2L) === CdcUpdate(2L, 7L, live = false, 0.0), s"got ${got(2L)}")
  }

  test("streaming heavy hitters recover the SpaceSaving summary across a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("hh_ckpt").toString

    val in = MemoryStream[String]
    // complete-mode memory sink can't recover from a checkpoint;
    // foreachBatch can — keep only the LATEST complete emission
    val latest = new java.util.concurrent.atomic.AtomicReference[Map[String, Long]](Map.empty)
    def start() = EventStreams.topFreq(in.toDF().toDF("item"), "item", k = 8)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        latest.set(batch.collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Complete).start()

    // run A: counts live ONLY in the aggregation state store at stop
    val q1 = start()
    try {
      in.addData("a", "b", "a")
      q1.processAllAvailable()
      assert(latest.get() === Map("a" -> 2L, "b" -> 1L))
    } finally q1.stop()

    // run B: the recovered summary must MERGE with new partials — if
    // state had been lost, "a" would vanish and "b" would restart at 1
    val q2 = start()
    try {
      in.addData("b", "c")
      q2.processAllAvailable()
      assert(latest.get() === Map("a" -> 2L, "b" -> 2L, "c" -> 1L),
        s"summary did not survive the restart: ${latest.get()}")
    } finally q2.stop()
  }

  test("stream-stream interval join recovers buffered click state across a checkpoint restart") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = java.nio.file.Files.createTempDirectory("ivj_ckpt").toString

    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val purchases = MemoryStream[(Long, Timestamp, Long, Double)]
    val cdf = clicks.toDF().toDF("user_id", "ts", "event_id")
    val pdf = purchases.toDF().toDF("user_id", "ts", "event_id", "value")

    // (purchase_id, click_id or None) — accumulated across both runs
    val emitted = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[Long])]()
    def start() = EventStreams.attributionJoin(cdf, pdf, lagMinutes = 60)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select($"purchase_id", $"click_id").collect().foreach { r =>
          emitted.add(r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
        }
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append).start()

    // run A: ONLY a click arrives — it exists solely in the join's
    // buffered state when the query stops
    val q1 = start()
    try {
      clicks.addData((1L, ts(1000), 101L))
      q1.processAllAvailable()
    } finally q1.stop()

    // run B: a purchase 30 minutes later must match the RECOVERED
    // click (inner matches emit without waiting for the watermark);
    // a second, unattributed purchase must surface with a NULL click
    // once the watermark passes its join window (the left-outer half)
    val q2 = start()
    try {
      purchases.addData((1L, ts(1030), 201L, 9.99))
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      assert(emitted.asScala.toSet === Set(201L -> Some(101L)),
        s"buffered click state did not survive the restart: ${emitted.asScala.toSet}")

      purchases.addData((2L, ts(1040), 202L, 5.0))
      q2.processAllAvailable()
      // advance BOTH watermarks (global watermark = min across inputs)
      // past 1040 + lag + the 2-hour delay so the outer result flushes;
      // two nudge batches because eviction runs a batch behind the
      // watermark update
      clicks.addData((8L, ts(5000), 801L))
      purchases.addData((9L, ts(5000), 901L, 0.0))
      q2.processAllAvailable()
      clicks.addData((8L, ts(5001), 802L))
      purchases.addData((9L, ts(5001), 902L, 0.0))
      q2.processAllAvailable()
      assert(emitted.asScala.toSet.contains(202L -> None),
        s"unattributed purchase never flushed: ${emitted.asScala.toSet}")
    } finally q2.stop()
  }
}
