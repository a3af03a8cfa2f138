package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{StreamingModel, Udaf}

class StreamingModelSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def ev(id: Long, t: String, uid: Long = 1, typ: String = "click", v: Double = 1.0) =
    EventRow(id, ts(t), uid, typ, v, "{}")

  test("session gap: 29-minute gap keeps one session, 31-minute gap splits") {
    val dir = fixtureDir("events" -> Seq(
      ev(1, "2024-01-01 10:00:00"),
      ev(2, "2024-01-01 10:29:00"),          // 29 min → same session
      ev(3, "2024-01-01 11:00:01"),          // 31:01 after → new session
      ev(4, "2024-01-01 10:00:00", uid = 2)).toDF)
    val out = StreamingModel.sessionGap(spark, dir).collect()
    val u1 = out.filter(_.getAs[Long]("user_id") == 1)
    assert(u1.length == 2)
    assert(u1(0).getAs[Long]("n_events") == 2 && u1(0).getAs[Long]("duration_s") == 29 * 60)
    assert(u1(1).getAs[Long]("n_events") == 1 && u1(1).getAs[Long]("duration_s") == 0)
    assert(out.count(_.getAs[Long]("user_id") == 2) == 1)
  }

  test("late filter drops exactly the rows >1h behind the running max") {
    // arrival order = (user_id, event_id): user 2's old event arrives after
    // user 1 already advanced the watermark to 12:00
    val dir = fixtureDir("events" -> Seq(
      ev(1, "2024-01-01 12:00:00", uid = 1),
      ev(2, "2024-01-01 10:59:00", uid = 2),   // 61 min behind → dropped
      ev(3, "2024-01-01 11:01:00", uid = 3)).toDF)  // 59 min behind → kept
    val dropped = StreamingModel.lateFilter(spark, dir).collect().map(_.getAs[Long]("event_id")).toSet
    assert(dropped == Set(2L))
  }

  test("tumbling counts group by aligned hour") {
    val dir = fixtureDir("events" -> Seq(
      ev(1, "2024-01-01 10:05:00", v = 1.5),
      ev(2, "2024-01-01 10:55:00", v = 2.5),
      ev(3, "2024-01-01 11:00:00", v = 4.0)).toDF)
    val out = StreamingModel.tumblingCounts(spark, dir).collect()
    assert(out.length == 2)
    assert(out(0).getAs[String]("win_start") == "2024-01-01 10:00:00")
    assert(out(0).getAs[Long]("n") == 2 && out(0).getAs[Double]("sum_value") == 4.0)
  }

  test("hopping counts: every event lands in exactly 2 overlapping windows") {
    val dir = fixtureDir("events" -> Seq(
      ev(1, "2024-01-01 10:00:00"),   // on the slide boundary
      ev(2, "2024-01-01 10:29:59"),   // just inside the same slide
      ev(3, "2024-01-01 10:30:00")).toDF)
    val out = StreamingModel.hoppingCounts(spark, dir).collect()
      .map(r => r.getAs[String]("win_start") -> r.getAs[Long]("n")).toMap
    // windows: [09:30,10:30) gets e1,e2; [10:00,11:00) all 3; [10:30,11:30) e3
    assert(out == Map(
      "2024-01-01 09:30:00" -> 2L,
      "2024-01-01 10:00:00" -> 3L,
      "2024-01-01 10:30:00" -> 1L))
    assert(out.values.sum == 3L * 2)   // duration/slide = 2 windows per event
  }

  test("dedup model is chained-gap — stricter than dropDuplicatesWithinWatermark on a spanning burst") {
    // burst at t0, t0+50min, t0+100min: the chained rule suppresses both
    // followers (each within 1h of its predecessor); the real streaming
    // operator anchors at the last KEPT event, so t0+100min (≥1h after
    // t0) is kept. This fixture pins the documented divergence from both
    // sides.
    val rows = Seq(
      ev(1, "2024-01-01 10:00:00"),
      ev(2, "2024-01-01 10:50:00"),
      ev(3, "2024-01-01 11:40:00"))
    val dir = fixtureDir("events" -> rows.toDF)
    val model = StreamingModel.dedupWindow(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") ->
        ((r.getAs[Long]("n_kept"), r.getAs[Long]("n_suppressed")))).toMap
    assert(model("click") == ((1L, 2L)), "chained rule must suppress the whole burst")
    // The true streaming operator keeps the burst's tail once the
    // watermark has expired the anchor's state. Batch sequencing matters:
    // batch 1 delivers the burst head (state anchored at t0, expiry
    // t0+1h); batch 2 advances the watermark past the expiry via another
    // key; batch 3 delivers the tail event, which finds no state and is
    // KEPT — where the chained model suppressed it.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String)]
    val kept = mem.toDF.toDF("event_id", "ts", "user_id", "event_type")
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
    val q = kept.writeStream.format("memory").queryName("dedup_wm_probe")
      .outputMode("append").start()
    try {
      mem.addData(Seq((1L, ts("2024-01-01 10:00:00"), 1L, "click"),
        (2L, ts("2024-01-01 10:50:00"), 1L, "click")))
      q.processAllAvailable()   // watermark → 09:50; state (1,click) expiry 11:00
      mem.addData(Seq((4L, ts("2024-01-01 12:30:00"), 2L, "click")))
      q.processAllAvailable()   // watermark → 11:30 > 11:00: state evicted
      mem.addData(Seq((3L, ts("2024-01-01 11:40:00"), 1L, "click")))
      q.processAllAvailable()   // no state for (1,click) → kept
    } finally q.stop()
    val streamed = spark.table("dedup_wm_probe").collect()
      .map(_.getAs[Long]("event_id")).sorted
    assert(streamed.toSeq == Seq(1L, 3L, 4L),
      s"dropDuplicatesWithinWatermark kept [${streamed.mkString(",")}] — expected 1,3,4")
  }

  test("weighted-avg UDAF computes sum(p*q)/sum(q) exactly") {
    val dir = fixtureDir("lineitem" -> Seq(
      LineRow(1, 2.0, 10.0, 0.0, 0.0, "A", "F"),
      LineRow(2, 8.0, 20.0, 0.0, 0.0, "A", "F"),
      LineRow(3, 1.0, 99.99, 0.0, 0.0, "R", "F")).toDF)
    val out = Udaf.weightedAvg(spark, dir).collect()
    val m = out.map(r => r.getAs[String]("l_returnflag") -> r.getAs[Double]("wavg_price")).toMap
    assert(m("A") == 18.0) // (2*10 + 8*20) / 10
    assert(m("R") == 99.99)
  }

  // ---- stream_join_within ----

  test("join within: inclusive 30-min band, every pair (not nearest), per user") {
    val base = ts("2024-03-01 00:00:00").getTime
    def ev(id: Long, offMin: Long, user: Long, typ: String) =
      EventRow(id, new Timestamp(base + offMin * 60000L), user, typ, 1.0, "{}")
    val rows = Seq(
      ev(1L, 0, 1L, "click"),
      ev(2L, 10, 1L, "purchase"),  // in band
      ev(3L, 30, 1L, "purchase"),  // boundary: inclusive
      ev(4L, 31, 1L, "purchase"),  // past band
      ev(5L, -1, 1L, "purchase"),  // before the click
      ev(6L, 5, 2L, "purchase"))   // other user
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = graft.ops.StreamingModel.joinWithin(spark, dir).collect()
    assert(out.map(r => (r.getAs[Long]("click_id"), r.getAs[Long]("purchase_id")))
      .toSeq == Seq((1L, 2L), (1L, 3L)),
      "one click emits EVERY in-band purchase; band is [0, 30 min] inclusive")
    assert(out.head.getAs[Long]("gap_us") == 600000000L)
  }

  // ---- stream_cdc_apply: last change wins, deletes drop ---------------

  test("cdc apply: trailing delete removes the key; a later re-insert survives") {
    val base = ts("2024-06-01 00:00:00").getTime
    def ev(id: Long, sec: Int, u: Long, typ: String, v: Double) =
      EventRow(id, new Timestamp(base + sec * 1000L), u, typ, v, "{}")
    val rows = Seq(
      ev(1, 1, 10L, "signup", 1.0), ev(2, 2, 10L, "click", 2.0),
      ev(3, 3, 10L, "error", 0.0),                     // u10: deleted
      ev(4, 1, 20L, "signup", 5.0), ev(5, 2, 20L, "click", 7.5), // u20: upserted
      ev(6, 1, 30L, "error", 0.0), ev(7, 2, 30L, "signup", 9.0)) // u30: re-inserted
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = graft.ops.StreamingModel.queries("stream_cdc_apply")(spark, dir)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(!out.contains(10L), "trailing DELETE must remove the key")
    assert(out(20L).getAs[String]("last_op") == "U" &&
      out(20L).getAs[Double]("last_value") == 7.5 &&
      out(20L).getAs[Long]("n_changes") == 2L)
    assert(out(30L).getAs[String]("last_op") == "I" &&
      out(30L).getAs[Double]("last_value") == 9.0,
      "INSERT after DELETE must survive")
  }

  // ---- stream_decay_topk: batch value == the streaming state machine --

  test("decay topk: equals the sequential decayed-counter fold; 7-day half-life") {
    val base = ts("2024-03-01 00:00:00").getTime
    val day = 86400000L
    // user 1: value 8 today; user 2: value 8 seven days ago (half);
    // user 3: drip of 1/day for 10 days
    val rows = Seq(
      EventRow(1, new Timestamp(base + 20 * day), 1L, "click", 8.0, "{}"),
      EventRow(2, new Timestamp(base + 13 * day), 2L, "click", 8.0, "{}")) ++
      (0 until 10).map(i =>
        EventRow(10 + i, new Timestamp(base + (11 + i) * day), 3L, "click", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = StreamingModel.decayTopk(spark, dir)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(math.abs(out(1L).getAs[Double]("decayed_score") - 8.0) < 1e-3,
      "an event AT t_max carries full weight")
    assert(math.abs(out(2L).getAs[Double]("decayed_score") - 4.0) < 1e-3,
      "an event one half-life old carries half weight")
    // sequential state machine: score' = score * 2^(-gap/7d) + v
    val evs3 = rows.filter(_.user_id == 3L).sortBy(_.ts.getTime)
    val tMax = rows.map(_.ts.getTime).max
    def decay(ms: Long) = math.pow(2.0, -ms.toDouble / (7.0 * day))
    var (score, last) = (0.0, evs3.head.ts.getTime)
    evs3.foreach { e =>
      score = score * decay(e.ts.getTime - last) + e.value; last = e.ts.getTime
    }
    score *= decay(tMax - last)
    assert(math.abs(out(3L).getAs[Double]("decayed_score") - score) < 1e-3,
      s"batch decayed sum must equal the streaming counter: $score")
  }

  test("backlog model: hand-computed Lindley trace with a gap hour") {
    // arrivals per hour [5, 0(gap), 1, 10], capacity = ceil(16/4) = 4:
    // W = [1, 0, 0, 6]; the gap hour must appear in the grid and drain.
    val t0 = ts("2024-06-03 00:00:00").getTime
    var id = 0L
    val rows = Seq((0, 5), (2, 1), (3, 10)).flatMap { case (h, n) =>
      (0 until n).map { _ =>
        id += 1
        EventRow(id, new Timestamp(t0 + h * 3600000L), id % 5, "view", 1.0, "{}")
      }
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = graft.ops.StreamingModel.backlogModel(spark, dir).collect()
    assert(out.length == 4, s"grid must include the gap hour: ${out.length}")
    assert(out.map(_.getAs[Long]("n_in")).toSeq == Seq(5L, 0L, 1L, 10L))
    assert(out.forall(_.getAs[Long]("capacity") == 4L))
    assert(out.map(_.getAs[Long]("backlog")).toSeq == Seq(1L, 0L, 0L, 6L),
      s"Lindley trace mismatch: ${out.mkString(";")}")
    assert(out.map(_.getAs[Boolean]("is_congested")).toSeq ==
      Seq(true, false, false, true))
  }

  test("watermark_advance: late row in batch 1 drops against batch-0 watermark") {
    val t0 = ts("2024-03-01 00:00:00")
    def at(h: Double) = new Timestamp(t0.getTime + (h * 3600 * 1000).toLong)
    val ev = Seq(
      EventRow(0L, at(0.0), 1L, "click", 1.0, "{}"),
      EventRow(4999L, at(2.0), 1L, "click", 1.0, "{}"),
      EventRow(5000L, at(0.0), 2L, "click", 1.0, "{}"),  // 1h late vs wm
      EventRow(5001L, at(3.0), 2L, "click", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(ev).toDF)
    val rows = StreamingModel.watermarkAdvance(spark, dir).collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("wm_s") == null) // no watermark yet
    assert(rows(0).getAs[Long]("n_dropped") == 0)
    assert(rows(1).getAs[String]("wm_s") == "2024-03-01 01:00:00.000000")
    assert(rows(1).getAs[Long]("n_dropped") == 1)
  }

  test("state_size: session state opens at first event, expires at gap timeout") {
    val ev = Seq(
      EventRow(1L, ts("2024-03-01 10:00:00"), 1L, "click", 1.0, "{}"),
      EventRow(2L, ts("2024-03-01 10:10:00"), 1L, "click", 1.0, "{}"),
      EventRow(3L, ts("2024-03-01 10:50:00"), 2L, "click", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(ev).toDF)
    val rows = StreamingModel.stateSize(spark, dir).collect()
      .map(r => r.getAs[String]("hour") -> r).toMap
    // user1: opens 10:00, expires 10:40 (same hour); user2: opens 10:50,
    // expires 11:20 -> one state row still held at the 10:59 boundary
    assert(rows("2024-03-01 10:00:00").getAs[Long]("n_opened") == 2)
    assert(rows("2024-03-01 10:00:00").getAs[Long]("n_closed") == 1)
    assert(rows("2024-03-01 10:00:00").getAs[Long]("state_rows") == 1)
    assert(rows("2024-03-01 11:00:00").getAs[Long]("n_closed") == 1)
    assert(rows("2024-03-01 11:00:00").getAs[Long]("state_rows") == 0)
  }

  // ---- stream_exactly_once_sink: the crash epoch is offered twice, committed once

  test("exactly_once_sink: a re-delivered epoch is skipped; ledger equals truth") {
    val base = ts("2024-03-01 00:00:00").getTime
    val rows = Seq(0L, 1L, 5000L, 10000L, 10001L).zipWithIndex.map {
      case (id, i) =>
        EventRow(id, new Timestamp(base + i * 1000L), 1L, "c", 2.0, "{}")
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = StreamingModel.exactlyOnceSink(spark, dir).collect()
    // batches 0(2 rows), 1(1 row), 2(2 rows); crash epoch x = (0+2)/2 = 1
    assert(out.length == 4)
    val att = out.map(r => (r.getAs[Long]("batch_id"), r.getAs[Int]("attempt"),
      r.getAs[String]("action"), r.getAs[Long]("rows_committed")))
    assert(att.toSeq == Seq((0L, 1, "commit", 2L), (1L, 1, "commit", 1L),
      (1L, 2, "skip_duplicate", 0L), (2L, 1, "commit", 2L)))
    val fin = out.last
    assert(fin.getAs[Long]("committed_todate") == 5L)
    assert(fin.getAs[Long]("dup_suppressed_todate") == 1L)
    // value checksum rides the committed rows only
    assert(out.map(_.getAs[Long]("cents_committed")).sum == 5 * 200L)
  }

  // ---- stream_session_state: hand-traced open/close/state accounting --

  test("session_state: a session closes when the watermark passes last+gap") {
    val rows = Seq(
      EventRow(0L, ts("2024-01-01 10:00:00"), 1L, "c", 1.0, "{}"),
      EventRow(1L, ts("2024-01-01 10:10:00"), 1L, "c", 1.0, "{}"),
      EventRow(5000L, ts("2024-01-01 12:00:00"), 1L, "c", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = StreamingModel.sessionStateModel(spark, dir).collect()
      .map(r => r.getAs[Long]("batch_id") -> r).toMap
    // batch0: wm 09:40 -> session 1 (last 10:10, timeout 10:40) open
    assert(out(0L).getAs[Long]("n_opened") == 1 &&
      out(0L).getAs[Long]("n_closed") == 0 &&
      out(0L).getAs[Long]("state_rows") == 1)
    // batch1: wm 11:30 > 10:40 -> session 1 closes; session 2 opens
    assert(out(1L).getAs[Long]("n_opened") == 1 &&
      out(1L).getAs[Long]("n_closed") == 1 &&
      out(1L).getAs[Long]("state_rows") == 1)
  }

  // ---- stream_outoforder_ratio: hand-traced lateness buckets ----------

  test("outoforder ratio: lateness buckets use the prior-epoch watermark") {
    val rows = Seq(
      EventRow(0L, ts("2024-01-01 10:00:00"), 1L, "c", 1.0, "{}"),
      EventRow(1L, ts("2024-01-01 11:00:00"), 1L, "c", 1.0, "{}"),
      // batch 1: wm_prev = 11:00 − 30 min = 10:30
      EventRow(5000L, ts("2024-01-01 09:00:00"), 1L, "c", 1.0, "{}"), // 90 min late
      EventRow(5001L, ts("2024-01-01 10:29:00"), 1L, "c", 1.0, "{}"), // 60 s late
      // batch 2: wm_prev still 10:30 (batch 1 max < 11:00)
      EventRow(10000L, ts("2024-01-01 12:00:00"), 1L, "c", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = StreamingModel.outOfOrderRatio(spark, dir).collect()
    val byB = out.map(r => r.getAs[Long]("batch_id") -> r).toMap
    assert(byB(0L).getAs[Long]("n_late") == 0L, "no watermark before epoch 0")
    val b1 = byB(1L)
    assert(b1.getAs[Long]("n_rows") == 2L && b1.getAs[Long]("n_late") == 2L)
    assert(b1.getAs[Long]("n_late_5m") == 1L &&
      b1.getAs[Long]("n_late_30m") == 0L &&
      b1.getAs[Long]("n_late_gt30m") == 1L)
    assert(b1.getAs[Long]("max_late_us") == 5400L * 1000000L)
    assert(b1.getAs[Double]("late_ratio") == 1.0)
    assert(byB(2L).getAs[Long]("n_late") == 0L)
  }

  // ---- stream_state_ttl: hand-built epoch timeline --------------------

  test("state ttl: insert/refresh/evict/re-insert accounting, sparse epochs") {
    // epochs = event_id div 5000, ttl = 2 (evict at last_touch + 3).
    // key (u1, click): touch at epochs 0, 1, 5  -> insert@0, refresh@1,
    //   evict@4 (gap 4 > 2), re-insert@5, final evict@8 (8 <= b_max 9).
    // key (u2, view): touch at epoch 9 -> insert@9, survives (12 > 9).
    def ev(id: Long, u: Long, t: String) =
      EventRow(id, ts("2024-01-01 00:00:00"), u, t, 1.0, "{}")
    val rows = Seq(ev(0L, 1L, "click"), ev(5000L, 1L, "click"),
      ev(25000L, 1L, "click"), ev(45000L, 2L, "view"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = graft.ops.StreamingModel.stateTtl(spark, dir).collect()
      .map(r => r.getAs[Long]("batch_id") ->
        (r.getAs[Long]("n_inserts"), r.getAs[Long]("n_refresh"),
          r.getAs[Long]("n_evicted"), r.getAs[Long]("state_rows"))).toMap
    assert(out.keySet == Set(0L, 1L, 4L, 5L, 8L, 9L),
      s"epoch frame must include eviction-only ticks: ${out.keySet}")
    assert(out(0L) == ((1L, 0L, 0L, 1L)))
    assert(out(1L) == ((0L, 1L, 0L, 1L)))
    assert(out(4L) == ((0L, 0L, 1L, 0L)), s"TTL eviction tick: ${out(4L)}")
    assert(out(5L) == ((1L, 0L, 0L, 1L)), "a touch after expiry re-inserts")
    assert(out(8L) == ((0L, 0L, 1L, 0L)), "the final touch expires too")
    assert(out(9L) == ((1L, 0L, 0L, 1L)), "a key inside its TTL survives")
  }
}
