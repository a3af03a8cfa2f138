package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingDemo

/** Drives the real incremental runtime through MemoryStream and asserts the
  * watermark drop rule matches the batch model in StreamingModel. */
class StreamingDemoSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("watermark closes windows and drops late rows (real streaming runtime)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val events = ms.toDF.toDF("ts", "event_type", "value")
    val q = StreamingDemo.windowedCounts(events)
      .writeStream.format("memory").queryName("wm_test").outputMode("append").start()
    try {
      // batch 1: two rows in the 10:00 window, then 12:30 advances the
      // max event time → watermark 11:30 closes the 10:00 window
      ms.addData((ts("2024-01-01 10:00:00"), "click", 1.0),
        (ts("2024-01-01 10:30:00"), "click", 2.0),
        (ts("2024-01-01 12:30:00"), "click", 4.0))
      q.processAllAvailable()
      // batch 2: 10:45 is behind the 11:30 watermark → dropped;
      // 14:30 advances the watermark to 13:30, closing the 12:00 window
      ms.addData((ts("2024-01-01 10:45:00"), "click", 100.0),
        (ts("2024-01-01 14:30:00"), "click", 8.0))
      q.processAllAvailable()
      val closed = spark.table("wm_test").collect()
        .map(r => r.getAs[Timestamp]("win_start").toString -> r.getAs[Long]("n")).toMap
      assert(closed("2024-01-01 10:00:00.0") == 2)   // late 10:45 row NOT counted
      assert(closed("2024-01-01 12:00:00.0") == 1)
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark suppresses in-horizon repeats, readmits after eviction") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String)]
    val events = ms.toDF.toDF("ts", "user_id", "event_type")
    val q = StreamingDemo.dedupStream(events)
      .writeStream.format("memory").queryName("dedup_test").outputMode("append").start()
    try {
      // batch 1: first (u1, click) kept; repeat 30 min later suppressed;
      // u2 at 13:00 advances the max event time → watermark 12:00
      ms.addData((ts("2024-01-01 10:00:00"), 1L, "click"),
        (ts("2024-01-01 10:30:00"), 1L, "click"),
        (ts("2024-01-01 13:00:00"), 2L, "click"))
      q.processAllAvailable()
      // batch 2: (u1, click) state was evicted once the watermark passed
      // 11:00 (first-seen + delay), so a 12:30 re-occurrence is KEPT —
      // the within-watermark semantics, not global dedup
      ms.addData((ts("2024-01-01 12:30:00"), 1L, "click"))
      q.processAllAvailable()
      val kept = spark.table("dedup_test").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Timestamp]("ts").toString))
      assert(kept.count(_._1 == 1L) == 2, s"expected 10:00 and 12:30 kept: ${kept.mkString(",")}")
      assert(!kept.exists(_._2.startsWith("2024-01-01 10:30")), "in-horizon duplicate not suppressed")
    } finally q.stop()
  }

  test("streaming content dedup: in-horizon duplicate dropped, state evicted past watermark") {
    import graft.streaming.StreamDedup
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = StreamDedup.dedupStream(
      ms.toDF.toDF("doc_id", "ts", "text"), horizon = "1 hour")
      .writeStream.format("memory").queryName("sdedup_test").outputMode("append").start()
    try {
      ms.addData(
        (1L, ts("2024-01-01 10:00:00"), "alpha"),
        (2L, ts("2024-01-01 10:00:00"), "beta"))
      q.processAllAvailable()
      // same content 10 min later, inside the horizon → suppressed
      ms.addData((3L, ts("2024-01-01 10:10:00"), "alpha"))
      q.processAllAvailable()
      // advance the watermark well past alpha's eviction point…
      ms.addData((4L, ts("2024-01-01 14:00:00"), "gamma"))
      q.processAllAvailable()
      // …then the SAME content re-arrives: state was evicted, so it
      // re-emits — the explicit at-least-once trade of bounded state
      ms.addData((5L, ts("2024-01-01 14:05:00"), "alpha"))
      q.processAllAvailable()
      val ids = spark.table("sdedup_test").collect()
        .map(_.getAs[Long]("doc_id")).toSet
      assert(ids == Set(1L, 2L, 4L, 5L), s"got: $ids")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer emits a session on event-time timeout") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.SessEvent
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[SessEvent]
    val q = Sessionize.sessionize(ms.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_test").outputMode("append").start()
    try {
      // user 1: two events 10 min apart → one open session
      ms.addData(SessEvent(1, ts("2024-01-01 10:00:00")), SessEvent(1, ts("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // user 2 advances event time; the NEXT batch runs with watermark
      // 11:30 > user 1's timeout (10:40) → session times out and emits
      ms.addData(SessEvent(2, ts("2024-01-01 12:00:00")))
      q.processAllAvailable()
      ms.addData(SessEvent(2, ts("2024-01-01 13:00:00")))
      q.processAllAvailable()
      val out = spark.table("sess_test").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("n_events"), r.getAs[Long]("duration_s")))
      assert(out.contains((1L, 2, 600L)), s"user 1 session not emitted: ${out.mkString(",")}")
    } finally q.stop()
  }

  test("stream-stream join attributes clicks within the window, drops those outside") {
    import graft.streaming.StreamJoins
    implicit val sqlCtx = spark.sqlContext
    val imps = MemoryStream[(Long, Timestamp)]
    val clks = MemoryStream[(Long, Timestamp)]
    val q = StreamJoins.attributedClicks(
      imps.toDF.toDF("imp_id", "imp_ts"),
      clks.toDF.toDF("imp_id", "click_ts"), maxDelayMinutes = 30)
      .writeStream.format("memory").queryName("attr_test").outputMode("append").start()
    try {
      imps.addData((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:05:00")))
      clks.addData(
        (1L, ts("2024-01-01 10:20:00")),   // 20 min  → attributed
        (2L, ts("2024-01-01 11:00:00")),   // 55 min  → outside window
        (3L, ts("2024-01-01 10:10:00")))   // no impression
      q.processAllAvailable()
      val out = spark.table("attr_test").collect()
        .map(r => (r.getAs[Long]("imp_id"), r.getAs[Long]("delay_s")))
      assert(out.toSet == Set((1L, 1200L)), s"got: ${out.mkString(",")}")
    } finally q.stop()
  }

  test("attribution join gives identical results on batch frames") {
    import graft.streaming.StreamJoins
    val imps = Seq((1L, ts("2024-01-01 10:00:00")), (2L, ts("2024-01-01 10:05:00")))
      .toDF("imp_id", "imp_ts")
    val clks = Seq((1L, ts("2024-01-01 10:20:00")), (2L, ts("2024-01-01 11:00:00")))
      .toDF("imp_id", "click_ts")
    val out = StreamJoins.attributedClicks(imps, clks, 30).collect()
      .map(r => (r.getAs[Long]("imp_id"), r.getAs[Long]("delay_s")))
    assert(out.toSet == Set((1L, 1200L)))
  }

  test("streaming sequence matcher matches the batch events_sequence_match on a fixture") {
    import graft.streaming.SequenceMatch
    import graft.streaming.SequenceMatch.SeqEvent
    implicit val sqlCtx = spark.sqlContext
    // Per-user event-type sequences (minute-spaced, in event-time order):
    //   u1: c v v p a c p  → 2 non-overlapping cv*p matches
    //   u2: c c p e v p    → leftmost-retry case ("ccp" matches at the
    //                        SECOND c) + an error char; 1 match
    //   u3: v p c v        → armed candidate never completes; 0 matches
    val seqs = Map(1L -> "cvvpacp", 2L -> "ccpevp", 3L -> "vpcv")
    val names = Map('c' -> "click", 'v' -> "view", 'p' -> "purchase",
      'a' -> "addcart", 'e' -> "error")
    val evs = seqs.toSeq.flatMap { case (uid, path) =>
      path.zipWithIndex.map { case (ch, i) =>
        SeqEvent(uid, uid * 100 + i, ts(f"2024-01-01 10:${i}%02d:00"), names(ch))
      }
    }
    val ms = MemoryStream[SeqEvent]
    val q = SequenceMatch.sequenceMatch(ms.toDS())
      .writeStream.format("memory").queryName("seq_test").outputMode("append").start()
    try {
      // split mid-path across two batches (u1's open candidate crosses
      // the batch boundary), then advance the watermark past every
      // user's last event + quiet gap and flush the timeout batch
      val (b1, b2) = evs.partition(_.ts.getTime <= ts("2024-01-01 10:03:00").getTime)
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      ms.addData(SeqEvent(99L, 9900L, ts("2024-01-01 14:00:00"), "view")); q.processAllAvailable()
      ms.addData(SeqEvent(99L, 9901L, ts("2024-01-01 15:00:00"), "view")); q.processAllAvailable()
      val streamed = spark.table("seq_test").collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("n_events"), r.getAs[Long]("n_conversions"),
            r.getAs[Boolean]("saw_error"), r.getAs[String]("path_head"))))
        .toMap
      // batch twin on the identical events through the declared operator
      val dir = fixtureDir("events" -> evs.zipWithIndex.map { case (e, i) =>
        EventRow(i.toLong, e.ts, e.user_id, e.event_type, 1.0, "{}")
      }.toDF)
      val batch = graft.ops.Relational.eventsSequenceMatch(spark, dir).collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("n_events"), r.getAs[Long]("n_conversions"),
            r.getAs[Boolean]("saw_error"), r.getAs[String]("path_head"))))
        .toMap
      for (uid <- seqs.keys)
        assert(streamed.get(uid) == batch.get(uid),
          s"u$uid stream=${streamed.get(uid)} batch=${batch.get(uid)}")
      assert(streamed(1L) == ((7L, 2L, false, "cvvpacp")))
      assert(streamed(2L) == ((6L, 1L, true, "ccpevp")))
      assert(streamed(3L) == ((4L, 0L, false, "vpcv")))
    } finally q.stop()
  }

  test("streaming EWMA state matches the batch events_ewma fold bit-identically") {
    import graft.streaming.SmoothState
    import graft.streaming.SmoothState.ValEvent
    implicit val sqlCtx = spark.sqlContext
    // Values chosen so the recursion produces non-terminating r6-grid
    // intermediates (10.33·0.75 + …) — the case where a spelling drift
    // between the scalar and Column r6 would show.
    // u1's last two events share one TIMESTAMP — the fold order there is
    // decided by event_id, the batch sort's tiebreak
    val evs = Seq(
      ValEvent(1L, 0L, ts("2024-01-01 10:00:00"), 10.33),
      ValEvent(1L, 1L, ts("2024-01-01 10:01:00"), 20.07),
      ValEvent(1L, 2L, ts("2024-01-01 10:02:00"), 5.51),
      ValEvent(1L, 3L, ts("2024-01-01 10:02:00"), 42.42),
      ValEvent(2L, 4L, ts("2024-01-01 10:00:30"), 100.01))
    val ms = MemoryStream[ValEvent]
    val q = SmoothState.ewma(ms.toDS())
      .writeStream.format("memory").queryName("ewma_test").outputMode("append").start()
    try {
      // split u1's history across two micro-batches (the open recursion
      // crosses the batch boundary), then advance the watermark past
      // last event + quiet gap to flush the timeout batch
      val (b1, b2) = evs.partition(_.ts.getTime <= ts("2024-01-01 10:01:00").getTime)
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      ms.addData(ValEvent(99L, 90L, ts("2024-01-01 14:00:00"), 1.0)); q.processAllAvailable()
      ms.addData(ValEvent(99L, 91L, ts("2024-01-01 15:00:00"), 1.0)); q.processAllAvailable()
      val streamed = spark.table("ewma_test").collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("n_events"), r.getAs[Double]("ewma_last"),
            r.getAs[Double]("mean_value"))))
        .toMap
      val dir = fixtureDir("events" -> evs.map { e =>
        EventRow(e.event_id, e.ts, e.user_id, "view", e.value, "{}")
      }.toDF)
      val batch = graft.ops.Relational.eventsEwma(spark, dir).collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("n_events"), r.getAs[Double]("ewma_last"),
            r.getAs[Double]("mean_value"))))
        .toMap
      for (uid <- Seq(1L, 2L))
        assert(streamed.get(uid) == batch.get(uid),
          s"u$uid stream=${streamed.get(uid)} batch=${batch.get(uid)}")
    } finally q.stop()
  }

  test("streaming drift monitor replays the CUSUM recursion incrementally") {
    import graft.streaming.DriftMonitor
    import graft.streaming.DriftMonitor.DriftEvent
    implicit val sqlCtx = spark.sqlContext
    // 'burst': 3 baseline days at 10/day, then 2 days at 30/day.
    // Baseline μ₀=10, σ₀=5 → z = (n − 10 − 2.5)/5: baseline z = −0.5
    // (cusum pinned at 0), burst z = +3.5 → day 4 cusum 3.5 (no alarm),
    // day 5 cusum 7.0 (alarm).
    val counts = Seq(10, 10, 10, 30, 30)
    val evs = counts.zipWithIndex.flatMap { case (k, d) =>
      (0 until k).map(j => DriftEvent("burst",
        ts(f"2024-01-${d + 1}%02d 0${j % 9}:0${j % 6}:00")))
    }
    val ms = MemoryStream[DriftEvent]
    val q = DriftMonitor.monitor(ms.toDS(), mu0 = 10.0, sigma0 = 5.0)
      .writeStream.format("memory").queryName("drift_test").outputMode("append").start()
    try {
      // feed day-by-day (each new day finalizes the previous one), then
      // advance the watermark far past the last day to flush it
      evs.groupBy(_.ts.getTime / 86400000L).toSeq.sortBy(_._1).foreach { case (_, b) =>
        ms.addData(b: _*); q.processAllAvailable()
      }
      ms.addData(DriftEvent("heartbeat", ts("2024-01-09 12:00:00")))
      q.processAllAvailable()
      ms.addData(DriftEvent("heartbeat", ts("2024-01-10 12:00:00")))
      q.processAllAvailable()
      val out = spark.table("drift_test").collect()
        .filter(_.getAs[String]("event_type") == "burst")
        .map(r => r.getAs[String]("day") ->
          ((r.getAs[Long]("n"), math.rint(r.getAs[Double]("cusum") * 1e6) / 1e6,
            r.getAs[Boolean]("alarm"))))
        .toMap
      // expected trajectory from the definition s_i = max(0, s + z_i)
      val z = counts.map(n => (n - 10.0 - 2.5) / 5.0)
      val expect = z.scanLeft(0.0)((s, x) => math.max(0.0, s + x)).tail
      counts.indices.foreach { d =>
        val day = f"2024-01-${d + 1}%02d"
        assert(out.contains(day), s"day $day not emitted")
        val (n, c, alarm) = out(day)
        assert(n == counts(d))
        assert(math.abs(c - expect(d)) < 1e-9, s"day $day cusum $c != ${expect(d)}")
        assert(alarm == expect(d) > 4.0)
      }
      assert(out.values.count(_._3) == 1, "exactly day 5 should alarm")
    } finally q.stop()
  }

  test("streaming heavy hitters: MG guarantee and error bound per window") {
    import graft.streaming.HeavyHittersMonitor
    import graft.streaming.HeavyHittersMonitor.KeyEvent
    implicit val sqlCtx = spark.sqlContext
    // Hour 10:00 — skewed: "hot" × 40 + 30 distinct cold keys × 1
    // (70 rows, K=16 counters). MG guarantees any key with share > 1/16
    // (> 4.4 rows) survives; "hot" est ∈ [40 − 70/16, 40].
    val h1 = (0 until 40).map(i => KeyEvent("hot", ts(f"2024-01-01 10:${i % 60}%02d:01"))) ++
      (0 until 30).map(i => KeyEvent(f"cold$i%02d", ts(f"2024-01-01 10:${i % 60}%02d:31")))
    // Hour 11:00 — a different hot key, to prove per-window reset.
    val h2 = (0 until 20).map(i => KeyEvent("hot2", ts(f"2024-01-01 11:${i % 60}%02d:01")))
    val ms = MemoryStream[KeyEvent]
    val q = HeavyHittersMonitor.monitor(ms.toDS())
      .writeStream.format("memory").queryName("hh_test").outputMode("append").start()
    try {
      ms.addData(h1: _*); q.processAllAvailable()
      ms.addData(h2: _*); q.processAllAvailable()   // rolls over hour 10
      // advance the watermark to flush hour 11 by timeout
      ms.addData(KeyEvent("x", ts("2024-01-01 16:00:00"))); q.processAllAvailable()
      ms.addData(KeyEvent("x", ts("2024-01-01 18:00:00"))); q.processAllAvailable()
      val rows = spark.table("hh_test").collect()
        .map(r => (r.getAs[String]("window_start"), r.getAs[String]("key"),
          r.getAs[Long]("est_n"), r.getAs[Int]("rank")))
      val w10 = rows.filter(_._1 == "2024-01-01 10:00")
      assert(w10.nonEmpty, s"hour 10 never emitted: ${rows.toSeq}")
      val hot = w10.find(_._2 == "hot").getOrElse(
        fail(s"MG guarantee violated: 'hot' (share 40/70 > 1/16) missing: ${w10.toSeq}"))
      assert(hot._4 == 1, "hot must rank first")
      assert(hot._3 <= 40 && hot._3 >= 40 - 70 / 16,
        s"est ${hot._3} outside the n/k undercount bound")
      val w11 = rows.filter(_._1 == "2024-01-01 11:00")
      assert(w11.exists(r => r._2 == "hot2" && r._4 == 1),
        s"hour 11 window not reset/emitted: ${w11.toSeq}")
      assert(!w11.exists(_._2 == "hot"), "hour 10's hot key leaked into hour 11")
    } finally q.stop()
  }

  test("drift monitor survives an overnight gap: cusum continues, days emit once") {
    import graft.streaming.DriftMonitor
    import graft.streaming.DriftMonitor.DriftEvent
    implicit val sqlCtx = spark.sqlContext
    // burst key: 30 events on day 1, 30 on day 2 (z = +3.5/day) — but a
    // heartbeat key races the watermark far ahead BETWEEN the days, so
    // the burst key's event-time timeout fires during the gap. The
    // monitor must (a) not reset the cusum (day 2 alarms at 7.0), and
    // (b) not split/double-emit any day despite the mid-day lull.
    def burst(day: Int, k: Int) = (0 until k).map(j =>
      DriftEvent("burst", ts(f"2024-01-0$day%d 0${1 + j % 8}:0${j % 6}:00")))
    val ms = MemoryStream[DriftEvent]
    val q = DriftMonitor.monitor(ms.toDS(), mu0 = 10.0, sigma0 = 5.0)
      .writeStream.format("memory").queryName("drift_gap_test").outputMode("append").start()
    try {
      ms.addData(burst(1, 30): _*); q.processAllAvailable()
      // mid-day-1 lull: heartbeat advances the watermark to ~16:00 of
      // day 1 — past the burst key's quiet gap but NOT past day 1's end:
      // the timeout must re-arm without emitting a partial day
      ms.addData(DriftEvent("heartbeat", ts("2024-01-01 18:00:00")))
      q.processAllAvailable()
      // late-evening day-1 stragglers still belong to the open day
      ms.addData(DriftEvent("burst", ts("2024-01-01 20:00:00")),
        DriftEvent("burst", ts("2024-01-01 20:01:00")))
      q.processAllAvailable()
      // overnight gap: heartbeat advances the watermark to exactly day
      // 2's start — past day 1's end (finalizing day 1, n=32, via
      // timeout with the cusum SURVIVING) while dropping none of day
      // 2's own events
      ms.addData(DriftEvent("heartbeat", ts("2024-01-02 02:00:00")))
      q.processAllAvailable()
      ms.addData(burst(2, 30): _*); q.processAllAvailable()
      ms.addData(DriftEvent("heartbeat", ts("2024-01-04 12:00:00")))
      q.processAllAvailable()
      ms.addData(DriftEvent("heartbeat", ts("2024-01-05 12:00:00")))
      q.processAllAvailable()
      val rows = spark.table("drift_gap_test").collect()
        .filter(_.getAs[String]("event_type") == "burst")
        .map(r => (r.getAs[String]("day"), r.getAs[Long]("n"),
          math.rint(r.getAs[Double]("cusum") * 1e6) / 1e6, r.getAs[Boolean]("alarm")))
      assert(rows.count(_._1 == "2024-01-01") == 1,
        s"day 1 split or double-emitted: ${rows.mkString(",")}")
      assert(rows.exists(r => r._1 == "2024-01-01" && r._2 == 32L),
        s"post-lull stragglers lost: ${rows.mkString(",")}")
      // day 1: z = (32-12.5)/5 = 3.9; day 2: 3.9 + 3.5 = 7.4 → alarm.
      // A cusum reset across the overnight gap would read 3.5, no alarm.
      val d2 = rows.find(_._1 == "2024-01-02")
      assert(d2.exists(r => math.abs(r._3 - 7.4) < 1e-9 && r._4),
        s"cusum did not survive the overnight gap: ${rows.mkString(",")}")
    } finally q.stop()
  }

  test("streaming CDC apply matches the batch stream_cdc_apply state") {
    import graft.streaming.CdcApplyState
    import graft.streaming.CdcApplyState.ChangeEvent
    implicit val sqlCtx = spark.sqlContext
    // u10 ends on a DELETE (must emit nothing), u20 upserts twice across a
    // micro-batch boundary, u30 re-inserts AFTER a delete, u40's last two
    // changes share a timestamp (event_id tiebreak decides the winner)
    val evs = Seq(
      ChangeEvent(10L, 1L, ts("2024-06-01 10:00:00"), "signup", 1.0),
      ChangeEvent(10L, 2L, ts("2024-06-01 10:05:00"), "error", 0.0),
      ChangeEvent(20L, 3L, ts("2024-06-01 10:00:10"), "signup", 5.0),
      ChangeEvent(20L, 4L, ts("2024-06-01 10:06:00"), "click", 7.5),
      ChangeEvent(30L, 5L, ts("2024-06-01 10:00:20"), "error", 0.0),
      ChangeEvent(30L, 6L, ts("2024-06-01 10:07:00"), "signup", 9.0),
      ChangeEvent(40L, 7L, ts("2024-06-01 10:08:00"), "click", 2.0),
      ChangeEvent(40L, 8L, ts("2024-06-01 10:08:00"), "view", 3.0),
      // negative half-cent: HALF_UP (batch round(·,2)) gives −0.13; a
      // math.round spelling would give −0.12 — the rounding-parity trap
      ChangeEvent(50L, 9L, ts("2024-06-01 10:09:00"), "click", -0.125))
    val ms = MemoryStream[ChangeEvent]
    val q = CdcApplyState(ms.toDS())
      .writeStream.format("memory").queryName("cdc_test")
      .outputMode("append").start()
    try {
      val (b1, b2) = evs.partition(_.ts.getTime <= ts("2024-06-01 10:05:00").getTime)
      ms.addData(b1: _*); q.processAllAvailable()
      ms.addData(b2: _*); q.processAllAvailable()
      // advance the watermark past last change + quiet gap to flush timeouts
      ms.addData(ChangeEvent(99L, 90L, ts("2024-06-01 14:00:00"), "view", 1.0))
      q.processAllAvailable()
      ms.addData(ChangeEvent(99L, 91L, ts("2024-06-01 15:00:00"), "view", 1.0))
      q.processAllAvailable()
      val streamed = spark.table("cdc_test").collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[String]("last_op"), r.getAs[Double]("last_value"),
            r.getAs[Long]("n_changes")))).toMap
      val dir = fixtureDir("events" -> evs.map(e =>
        EventRow(e.event_id, e.ts, e.user_id, e.event_type, e.value, "{}")).toDF)
      val batch = graft.ops.StreamingModel.queries("stream_cdc_apply")(spark, dir)
        .collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[String]("last_op"), r.getAs[Double]("last_value"),
            r.getAs[Long]("n_changes")))).toMap
      for (uid <- Seq(10L, 20L, 30L, 40L, 50L))
        assert(streamed.get(uid) == batch.get(uid),
          s"u$uid stream=${streamed.get(uid)} batch=${batch.get(uid)}")
      assert(!streamed.contains(10L), "deleted key must not emit")
      assert(streamed(50L)._2 == -0.13,
        s"negative half-cent must round HALF_UP like the batch: ${streamed(50L)}")
    } finally q.stop()
  }

  test("streaming backlog state matches the batch stream_backlog_model rows") {
    import graft.streaming.BacklogState
    import graft.streaming.BacklogState.TimedEvent
    implicit val sqlCtx = spark.sqlContext
    // hour 10: 5 events, hour 11: 0 (gap), hour 12: 1, hour 13: 2 —
    // tot 8 over 4 grid hours → batch capacity ceil(8/4) = 2.
    // Lindley: h10 b=3, h11 b=1, h12 b=0, h13 b=0 (drains by the end, so
    // post-corpus flush hours are all zeros).
    val base = Seq(
      (10, 5), (12, 1), (13, 2)).flatMap { case (h, k) =>
      (0 until k).map(i =>
        TimedEvent(h * 100L + i, ts(f"2024-01-01 $h%02d:${i * 7}%02d:00")))
    }
    val ms = MemoryStream[TimedEvent]
    val q = BacklogState.backlog(ms.toDS(), capacityPerHour = 2L)
      .writeStream.format("memory").queryName("backlog_test")
      .outputMode("append").start()
    try {
      // feed hour-by-hour (the open recursion crosses micro-batches),
      // then flush with a far-future row to advance the watermark
      ms.addData(base.filter(_.event_id < 1100): _*); q.processAllAvailable()
      ms.addData(base.filter(_.event_id >= 1100): _*); q.processAllAvailable()
      ms.addData(TimedEvent(9999L, ts("2024-01-01 20:00:00")))
      q.processAllAvailable()
      ms.addData(TimedEvent(10000L, ts("2024-01-01 23:00:00")))
      q.processAllAvailable()
      val streamed = spark.table("backlog_test").collect()
        .map(r => r.getAs[String]("win_start") ->
          ((r.getAs[Long]("n_in"), r.getAs[Long]("capacity"),
            r.getAs[Long]("backlog"), r.getAs[Double]("utilization"),
            r.getAs[Boolean]("is_congested"))))
        .toMap
      val dir = fixtureDir("events" -> base.map(e =>
        EventRow(e.event_id, e.ts, 1L, "view", 1.0, "{}")).toDF)
      val batch = graft.ops.StreamingModel.backlogModel(spark, dir).collect()
        .map(r => r.getAs[String]("win_start") ->
          ((r.getAs[Long]("n_in"), r.getAs[Long]("capacity"),
            r.getAs[Long]("backlog"), r.getAs[Double]("utilization"),
            r.getAs[Boolean]("is_congested"))))
        .toMap
      assert(batch.nonEmpty)
      batch.foreach { case (h, row) =>
        assert(streamed.get(h).contains(row),
          s"$h stream=${streamed.get(h)} batch=$row")
      }
      // hours finalized past the corpus grid must be drained (the flush
      // rows themselves may carry n_in=1, but never a backlog)
      streamed.filterNot { case (h, _) => batch.contains(h) }.foreach {
        case (h, (_, _, b, _, c)) =>
          assert(b == 0L && !c, s"post-grid hour $h not drained")
      }
    } finally q.stop()
  }

  test("sequence matcher folds in events_sequence_match's (t_us, event_id) order") {
    import graft.streaming.SequenceMatch
    import graft.streaming.SequenceMatch.SeqEvent
    implicit val sqlCtx = spark.sqlContext
    // u4: the purchase comes 100 µs before the second click, inside one
    // millisecond, and carries the higher event_id — batch path "cpc";
    // a millisecond fold that breaks ties on event_type reads "ccp".
    // u5: purchase (id 50) and click (id 51) share one timestamp — the
    // event_id tiebreak reads "pc" (no conversion), event_type "cp".
    val evs = Seq(
      SeqEvent(4L, 40L, ts("2024-01-01 10:00:00"), "click"),
      SeqEvent(4L, 42L, ts("2024-01-01 10:01:00.0001"), "purchase"),
      SeqEvent(4L, 41L, ts("2024-01-01 10:01:00.0002"), "click"),
      SeqEvent(5L, 50L, ts("2024-01-01 10:00:00"), "purchase"),
      SeqEvent(5L, 51L, ts("2024-01-01 10:00:00"), "click"))
    val ms = MemoryStream[SeqEvent]
    val q = SequenceMatch.sequenceMatch(ms.toDS())
      .writeStream.format("memory").queryName("seq_order_test").outputMode("append").start()
    try {
      ms.addData(evs: _*); q.processAllAvailable()
      ms.addData(SeqEvent(99L, 9900L, ts("2024-01-01 14:00:00"), "view")); q.processAllAvailable()
      ms.addData(SeqEvent(99L, 9901L, ts("2024-01-01 15:00:00"), "view")); q.processAllAvailable()
      def summary(rows: Array[org.apache.spark.sql.Row]) = rows
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("n_events"), r.getAs[Long]("n_conversions"),
            r.getAs[Boolean]("saw_error"), r.getAs[String]("path_head"))))
        .toMap
      val streamed = summary(spark.table("seq_order_test").collect())
      val dir = fixtureDir("events" -> evs.map(e =>
        EventRow(e.event_id, e.ts, e.user_id, e.event_type, 1.0, "{}")).toDF)
      val batch = summary(graft.ops.Relational.eventsSequenceMatch(spark, dir).collect())
      assert(batch(4L)._4 == "cpc" && batch(5L)._4 == "pc", s"batch: $batch")
      for (uid <- Seq(4L, 5L))
        assert(streamed.get(uid) == batch.get(uid),
          s"u$uid stream=${streamed.get(uid)} batch=${batch.get(uid)}")
    } finally q.stop()
  }

  test("sessionizer runs at microseconds, as events_sessionize does") {
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.SessEvent
    implicit val sqlCtx = spark.sqlContext
    // u1 starts at a sub-millisecond instant; u2's second event comes
    // 30 min + 500 µs after its first — past the 30-minute gap, though
    // inside it at millisecond resolution
    val evs = Seq(
      SessEvent(1L, ts("2024-01-01 10:00:00.000123")),
      SessEvent(2L, ts("2024-01-01 10:00:00")),
      SessEvent(2L, ts("2024-01-01 10:30:00.0005")))
    val ms = MemoryStream[SessEvent]
    val q = Sessionize.sessionize(ms.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_us_test").outputMode("append").start()
    try {
      ms.addData(evs: _*); q.processAllAvailable()
      ms.addData(SessEvent(99L, ts("2024-01-01 12:00:00"))); q.processAllAvailable()
      ms.addData(SessEvent(99L, ts("2024-01-01 13:00:00"))); q.processAllAvailable()
      val out = spark.table("sess_us_test").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us")))
      val u1 = out.filter(_._1 == 1L)
      assert(u1.length == 1 && u1.head._2 % 1000 == 123,
        s"u1's session must start at the event's µs: ${out.mkString(",")}")
      assert(out.count(_._1 == 2L) == 2,
        s"a 30 min + 500 µs gap must split u2's session: ${out.mkString(",")}")
      // the batch twin cuts the same sessions
      val dir = fixtureDir("events" -> evs.zipWithIndex.map { case (e, i) =>
        EventRow(i.toLong, e.ts, e.user_id, "view", 1.0, "{}") }.toDF)
      val batch = graft.ops.Relational.eventsSessionize(spark, dir).collect()
        .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("n_sessions")).toMap
      assert(batch == Map(1L -> 1L, 2L -> 2L), s"batch: $batch")
    } finally q.stop()
  }

  test("KeyedFold is the only flatMapGroupsWithState scaffold, bar BacklogState") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala/graft")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned too few sources: ${files.size}")
    def hits(word: scala.util.matching.Regex) = files
      .filter(f => word.findFirstIn(Files.readString(f)).isDefined)
      .map(f => root.relativize(f).toString).sorted
    // BacklogState re-arms at its oldest pending hour, not last event + gap
    assert(hits("""\.(?:flatMap|map)GroupsWithState\b""".r) ==
      Seq("streaming/BacklogState.scala", "streaming/KeyedFold.scala"))
    assert(hits("getNanos".r) == Seq("streaming/KeyedFold.scala"),
      "a Timestamp → µs conversion outside KeyedFold.micros")
  }
}
