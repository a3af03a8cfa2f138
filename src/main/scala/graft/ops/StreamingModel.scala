package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Util._

/** Batch-checkable models of the streaming-window semantics. Each query
  * uses the exact function the streaming runtime uses (`window()`), or the
  * documented batch equivalent of its state machine (session windows via
  * lag+cumsum, watermark late-drop via running max), so the DuckDB oracle
  * can gate them. The real incremental runtime — `readStream`, watermarks,
  * `session_window`, checkpoints — is exercised in
  * [[graft.streaming.StreamingDemo]] (not oracle-gateable: Verify writes
  * batch parquet).
  *
  * This family replaces the reference's scheduler-driven re-run model
  * (`README.md:63-68` — Task Scheduler daily) with event-time semantics.
  *
  * ==The epoch-frame invariant (family-level, stated once)==
  * Several queries here run an UNPARTITIONED prefix window ordered by
  * `batch_id` (`stream_outoforder_ratio`, `stream_watermark_advance`,
  * `stream_session_state`'s level-1 scan). That is legal in THIS family
  * and only under this argument: an epoch (micro-batch) is minted by
  * the STREAM RUNTIME, one per trigger interval — more data makes
  * FATTER batches, never more of them — so #epochs is bounded by
  * wall-clock runtime (~10⁵/year at 5-minute triggers), not by corpus
  * size. A frame keyed by batch_id is runtime-sized at ANY data scale,
  * and a single-task prefix scan over it stays bounded where the same
  * scan over a row-, user-, or session-keyed frame would not. The
  * batch model mints epochs with [[epochCol]] (`event_id div
  * EpochRows` — the fixture's arrival order chunked into deliveries),
  * which is the ONE canonical derivation: PlanSpec's whitelist admits
  * `batch_id`-ordered unpartitioned windows on this argument and its
  * epoch-frame guard verifies every `batch_id` definition in every
  * declared stream plan IS this derivation (or a rename/null-pad of
  * it), so a future op cannot ride the exemption by naming a
  * data-derived key `batch_id`. The day-bucket key `bkt` carries its
  * own bound (calendar days — see `sessionStateModel`) and is
  * whitelisted separately.
  */
object StreamingModel {

  /** Rows per modeled delivery epoch — see the epoch-frame invariant
    * in the object doc. All batch_id minting goes through [[epochCol]]
    * so the canonical derivation exists in exactly one spelling. */
  private[graft] val EpochRows = 5000L
  private[graft] def epochCol = expr(s"event_id div $EpochRows")

  /** Tumbling 1-hour windows: `window($"ts", "1 hour")` — identical in
    * batch and streaming. Aligned window start ≡ date_trunc('hour'). */
  def tumblingCounts(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsumR(col("value"), Qty).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** Hopping (sliding) 1-hour windows every 30 minutes:
    * `window($"ts", "1 hour", "30 minutes")` — each event belongs to
    * exactly 2 overlapping windows (duration/slide), which Spark plans as
    * a 2-row Expand before the hash agg: input amplification is the
    * duration/slide ratio, not a self-join. The oracle replays the window
    * assignment arithmetic (epoch-aligned 30-minute grid, the same
    * alignment Spark uses). */
  def hoppingCounts(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "events")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsumR(col("value"), Qty).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("win_start", "event_type")

  /** Session windows with a 30-minute gap, as the lag+cumsum state machine:
    * a row opens a new session iff it's the user's first event or the gap
    * to the previous event exceeds 30 min; session id is the running count
    * of opens. Streaming equivalent: `session_window(ts, '30 minutes')`. */
  def sessionGap(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val acc = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(order))
    table(spark, dir, "events")
      .withColumn("new_sess", when(gapUs.isNull || gapUs > 1800000000L, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(acc))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(count(lit(1)).as("n_events"), min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(
        col("user_id"), col("sess_id"), col("n_events"),
        tsS(col("t0")).as("start_s"),
        expr("(unix_micros(t1) - unix_micros(t0)) div 1000000").as("duration_s"))
      .orderBy("user_id", "sess_id")
  }

  /** Watermark late-drop model: a row is dropped iff its event time is
    * more than 1 hour behind the max event time already seen (strictly
    * before it in arrival order). Arrival order is a per-user replay
    * (user_id, event_id) — the generated stream is time-sorted by
    * event_id, so replaying user-by-user is what makes lateness real.
    * This is the `withWatermark("ts", "1 hour")` drop rule made
    * batch-checkable via a running max over arrival order. */
  def lateFilter(spark: SparkSession, dir: String): DataFrame = {
    // Arrival order is user-major, so the watermark (max ts over all
    // strictly-earlier arrivals) decomposes into the greatest of
    //   (a) a per-user running max — a window PARTITIONED by user,
    //   (b) the max among EARLIER USERS OF THE SAME BUCKET — a prefix max
    //       partitioned by bucket (user_id div 4096) over the per-user
    //       summary, and
    //   (c) the max among all EARLIER BUCKETS — a prefix max over the
    //       per-BUCKET summary (#users/4096 rows).
    // Two-level decomposition: round 2 ran one unpartitioned prefix max
    // over the whole per-user summary — a single task of #users rows. Now
    // the only unpartitioned window runs over the twice-aggregated bucket
    // summary, 4096× smaller; every users- or events-sized operation is
    // partitioned. Bucketing by id-range keeps the prefix semantics exact:
    // bucket order ≡ user_id order. `greatest` skips nulls, so a bucket's
    // first user falls back to the earlier-buckets max, a user's first
    // event to the earlier-users max, and the very first arrival keeps a
    // null watermark — identical semantics, same hash as round 2.
    val ev = table(spark, dir, "events")
    val withinUser = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withinBucket = Window.partitionBy("b").orderBy("user_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prevBuckets = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val uMax = ev.groupBy("user_id").agg(max(col("ts")).as("u_max"))
      .withColumn("b", expr("user_id div 4096"))
    val bucketPrev = uMax.groupBy("b").agg(max(col("u_max")).as("b_max"))
      .withColumn("b_prev", max(col("b_max")).over(prevBuckets))
      .select(col("b"), col("b_prev"))
    val userMax = uMax
      .withColumn("in_b_prev", max(col("u_max")).over(withinBucket))
      .join(broadcast(bucketPrev), "b")
      .select(col("user_id"),
        greatest(col("in_b_prev"), col("b_prev")).as("prev_max"))
    // userMax is users-sized — unhinted on purpose so AQE broadcasts it
    // while small but falls back to a partitioned shuffle join at scale
    // (a broadcast HINT here would force a driver-side collect of one row
    // per user, the exact single-point cost this decomposition avoids)
    ev.join(userMax, "user_id")
      .withColumn("wm", greatest(max(col("ts")).over(withinUser), col("prev_max")))
      .filter(unix_micros(col("ts")) < unix_micros(col("wm")) - 3600000000L)
      .select(col("event_id"), col("user_id"),
        tsS(col("ts")).as("ts_s"), tsS(col("wm")).as("wm_s"))
      .orderBy("event_id")
  }

  /** Streaming-dedup model — CHAINED-GAP suppression made
    * batch-checkable: within a key (user, event_type), an event is a
    * suppressed duplicate iff it arrives within 1 hour of its immediate
    * predecessor (the same lag state machine as [[sessionGap]] — a
    * session opener is a kept event, a follower is suppressed).
    *
    * Deliberately NOT identical to `dropDuplicatesWithinWatermark`: that
    * operator anchors suppression at the last KEPT event (its state row
    * expires one delay after the anchor, so a burst t0, t0+50min,
    * t0+100min keeps t0 and t0+100min), while the chained rule lets a
    * burst extend its own suppression window indefinitely (keeps only
    * t0) — a stricter policy, and the anchored recurrence is not
    * window-expressible in one pass (each kept decision depends on the
    * previous kept decision, not the previous row). The divergence is
    * pinned by a StreamingModelSpec fixture asserting both behaviors.
    * Per-key partitioned windows only. Output: kept/suppressed counts
    * per event_type. */
  def dedupWindow(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type")
      .orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    table(spark, dir, "events")
      .withColumn("kept",
        when(gapUs.isNull || gapUs > 3600000000L, 1L).otherwise(0L))
      .groupBy("event_type")
      .agg(
        sum(col("kept")).as("n_kept"),
        sum(lit(1L) - col("kept")).as("n_suppressed"))
      .orderBy("event_type")
  }

  /** Stream-stream inner join model: every (click, purchase) pair of the
    * same user with the purchase inside [click, click + 30 min] — the
    * canonical watermark-bounded interval equi join of the Structured
    * Streaming guide (ad click ↔ conversion), whose live runtime twin is
    * [[graft.streaming.StreamJoins]]. In streaming, watermarks on both
    * sides plus this time band are exactly what bounds the join STATE to
    * ~30 minutes of rows per side; in batch the identical plan is a
    * user_id equi join with the band as a residual predicate — one
    * shuffle per side on the equi key, never a time-theta explosion.
    * Pair semantics, not nearest: every conversion inside the band emits
    * (that is what a stream-stream join does; `join_asof_forward` is the
    * nearest-only twin, `events_attribution` the credit-assignment
    * rollup). */
  def joinWithin(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
    clicks.join(buys, Seq("user_id"))
      .filter(
        unix_micros(col("purchase_ts")) >= unix_micros(col("click_ts")) &&
        unix_micros(col("purchase_ts")) <=
          unix_micros(col("click_ts")) + 1800000000L)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        tsS(col("click_ts")).as("click_s"),
        tsS(col("purchase_ts")).as("purchase_s"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("click_ts")))
          .as("gap_us"))
      .orderBy("click_id", "purchase_id")
  }

  /** CDC-apply state machine, batch-checkable: treat events as a keyed
    * change stream (signup=INSERT, error=DELETE, anything else=UPSERT,
    * ordered by event time with the id tie-break) and materialize the
    * final table state — last change wins per key, a trailing DELETE
    * removes the key. This is the [[graft.ops.PipelineOps.upsertCdc]]
    * MERGE run to the stream's END instead of one batch: the streaming
    * twin ([[graft.streaming.CdcApplyState]]) spells the identical fold
    * as `flatMapGroupsWithState` state keyed on user_id, O(1) per key
    * (op+value+version), which is why the batch window here IS the
    * oracle-gateable model of it. One
    * partitioned window (no raw-data global sort); survivors only. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(desc("ts"), desc("event_id"))
    table(spark, dir, "events")
      .withColumn("op",
        when(col("event_type") === "signup", "I")
          .when(col("event_type") === "error", "D").otherwise("U"))
      .withColumn("rn", row_number().over(order))
      .withColumn("n_changes",
        count(lit(1)).over(Window.partitionBy("user_id")))
      .filter(col("rn") === 1 && col("op") =!= "D")
      .select(col("user_id"), col("op").as("last_op"),
        round(col("value"), 2).as("last_value"),
        tsS(col("ts")).as("last_ts"), col("n_changes"))
      .orderBy("user_id")
  }

  /** ln(2)/7 as a shared literal — both engines multiply by the
    * IDENTICAL double, so the exp() inputs are bit-equal. The SQL side
    * must CAST the STRING to DOUBLE: a bare 17-digit numeric literal
    * parses in DuckDB as DECIMAL(17,17), whose significand exceeds
    * 2^53 — the decimal→double conversion could land 1 ulp off
    * Scala's strtod of the same digits. */
  private val DecayPerDay = "0.09902102579427789"
  private val DecayPerDaySql = s"CAST('$DecayPerDay' AS DOUBLE)"

  /** Exponentially time-decayed activity ranking ("who is trending
    * NOW") with a 7-day half-life — the batch model of the canonical
    * streaming decayed counter, whose per-key state is just
    * (score, last_ts): on each event the stream multiplies the stored
    * score by 2^(−Δt/h) and adds the new value, so the batch value
    * Σ value·2^(−(t_max−ts)/h) is EXACTLY what the state machine holds
    * at t_max — the equivalence that makes this oracle-gateable. Shape:
    * the max-timestamp scalar broadcasts, the decay term is map-side
    * per-row math, one per-user hash agg, TakeOrdered(10). The decayed
    * sum deliberately never resets: old activity fades smoothly instead
    * of cliff-dropping out of a window — the property windowed counts
    * ([[tumblingCounts]]) cannot give. */
  def decayTopk(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
    val mx = ev.agg(max(unix_micros(col("ts"))).as("mx"))
    ev.crossJoin(broadcast(mx))
      .select(col("user_id"),
        r6(col("value").cast(Qty).cast("double") *
          exp((unix_micros(col("ts")) - col("mx")).cast("double") /
            lit(86400000000.0) * lit(DecayPerDay.toDouble))).as("term"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(col("term").cast(org.apache.spark.sql.types.DecimalType(20, 6)))
          .cast("double").as("raw"))
      .select(col("user_id"), col("n_events"),
        r4(col("raw")).as("decayed_score"))
      .orderBy(desc("decayed_score"), col("user_id")).limit(10)
  }

  /** Consumer-backlog model (Kafka-lag shape): per hour, events arrive
    * n_t and a fixed capacity C = ⌈total/hours⌉ drains; the backlog
    * follows the Lindley recursion W_t = max(0, W_{t−1} + n_t − C) —
    * the state a streaming job tracks to alert on congestion. The
    * recursion is SOLVED, not iterated: W_t = S_t − min(0, min_{k≤t}
    * S_k) with S the prefix sum of (n−C), so the whole model is two
    * running windows over the model-sized HOUR GRID (gap hours emit
    * 0 arrivals but still drain — the grid is explicit via sequence()).
    * All integer math; the only doubles are the utilization ratio. */
  def backlogModel(spark: SparkSession, dir: String): DataFrame = {
    val hr = table(spark, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"))
    val span = hr.agg(min(col("h")).as("h0"), max(col("h")).as("h1"),
      sum(col("n")).as("tot"))
      .withColumn("nh",
        expr("(unix_micros(h1) - unix_micros(h0)) div 3600000000") + 1)
      .withColumn("cap", expr("(tot + nh - 1) div nh"))
    val grid = span
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"),
        col("cap"))
      .join(hr, Seq("h"), "left")
      .withColumn("n_in", coalesce(col("n"), lit(0L)))
    val w = Window.orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val s1 = grid.withColumn("s", sum(col("n_in") - col("cap")).over(w))
    val s2 = s1.withColumn("mn", min(col("s")).over(w))
      .withColumn("backlog", col("s") - least(col("mn"), lit(0L)))
    s2.select(
        date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("n_in"), col("cap").as("capacity"), col("backlog"),
        r4(col("n_in").cast("double") / col("cap").cast("double"))
          .as("utilization"),
        (col("backlog") > 0).as("is_congested"))
      .orderBy("win_start")
  }

  /** Per-MICRO-BATCH watermark progression — the semantics Structured
    * Streaming actually runs (the watermark advances once per batch, to
    * max-event-time-seen minus the delay, and applies to the NEXT
    * batch), where [[lateFilter]] models the row-granular idealization.
    * Batches are arrival chunks of 5 000 events (event_id is arrival
    * order). Output per batch: rows, the watermark IN FORCE during the
    * batch, rows it would drop, and how far the watermark advanced.
    * Shape at scale: one hash agg to the batch frame; the prefix max
    * runs over #batches rows — bounded by STREAM RUNTIME (one batch per
    * trigger interval), not data volume: more data means fatter
    * batches, not more of them. The drop count re-joins the batch frame
    * to the corpus on batch_id (AQE-broadcast while small). */
  def watermarkAdvance(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      .select(epochCol.as("batch_id"),
        unix_micros(col("ts")).as("t_us"))
    val b = ev.groupBy("batch_id")
      .agg(count(lit(1)).as("n_rows"), max(col("t_us")).as("b_max"))
    val prev = Window.orderBy("batch_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = b
      .withColumn("wm_us", max(col("b_max")).over(prev) - lit(3600000000L))
      // integer div (not /): both engines truncate identically on longs
      .withColumn("adv_s", expr(
        "(wm_us - lag(wm_us, 1) OVER (ORDER BY batch_id)) div 1000000"))
    ev.join(wm, "batch_id")
      .groupBy(col("batch_id"), col("n_rows"), col("wm_us"), col("adv_s"))
      .agg(sum(when(col("t_us") < col("wm_us"), 1L).otherwise(0L))
        .as("n_dropped"))
      .select(col("batch_id"), col("n_rows"),
        tsS(timestamp_micros(col("wm_us"))).as("wm_s"),
        col("n_dropped"), col("adv_s").as("wm_advance_s"))
      .orderBy("batch_id")
  }

  /** State-store sizing model for session windows — the capacity
    * question a streaming job must answer before it runs: how many
    * session-state rows does `session_window(ts, '30 minutes')` hold
    * over time? A session's state row exists from its first event until
    * the gap timeout expires (last event + 30 min). Per hour: states
    * opened, states expired, and the net held at hour end — prefix sums
    * over the calendar-bounded hour grid ([[backlogModel]] discipline),
    * with the sessions themselves derived by the [[sessionGap]] state
    * machine (partitioned windows only). */
  def stateSize(spark: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val acc = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(order))
    val sess = table(spark, dir, "events")
      .withColumn("new_sess",
        when(gapUs.isNull || gapUs > 1800000000L, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess")).over(acc))
      .groupBy(col("user_id"), col("sess_id"))
      .agg(min(unix_micros(col("ts"))).as("t0"),
        max(unix_micros(col("ts"))).as("t1"))
      .select(expr("t0 div 3600000000").as("h_open"),
        expr("(t1 + 1800000000) div 3600000000").as("h_close"))
    val opens = sess.groupBy(col("h_open").as("h"))
      .agg(count(lit(1)).as("n_opened"))
    val closes = sess.groupBy(col("h_close").as("h"))
      .agg(count(lit(1)).as("n_closed"))
    val span = sess.agg(min(col("h_open")).as("h0"), max(col("h_close")).as("h1"))
    val w = Window.orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    span.select(explode(expr("sequence(h0, h1)")).as("h"))
      .join(opens, Seq("h"), "left")
      .join(closes, Seq("h"), "left")
      .select(col("h"), coalesce(col("n_opened"), lit(0L)).as("n_opened"),
        coalesce(col("n_closed"), lit(0L)).as("n_closed"))
      .withColumn("state_rows",
        sum(col("n_opened") - col("n_closed")).over(w))
      .select(
        date_format(timestamp_micros(col("h") * 3600000000L),
          "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("n_opened"), col("n_closed"), col("state_rows"))
      .orderBy("hour")
  }

  /** EXACTLY-ONCE SINK accounting — the idempotent-sink half of the A14
    * delivery contract ([[graft.ops.PipelineOps.ledgerReplay]] models the
    * at-least-once SOURCE half: reprocessed-but-not-double-committed).
    * Micro-batches are the arrival epochs (event_id div 5000, the
    * [[watermarkAdvance]] batch model); the mid-stream epoch x crashes
    * AFTER the sink's transactional commit but BEFORE the source
    * checkpoint advances, so on restart the source re-delivers batch x —
    * and the commit-log-gated sink recognizes the epoch and SKIPS it
    * (one row per delivery attempt: 'commit' vs 'skip_duplicate').
    * The committed ledger must therefore equal the plain per-batch
    * truth, values included — chk_cents carries content, not just
    * counts, so the gate verifies value-faithfulness of the committed
    * output. The live twin is [[graft.streaming.DeltaSink]]
    * (foreachBatch + one DeltaLite commit per batch), spec-asserted to
    * suppress a re-delivered batchId end-to-end. Shape at scale: one hash agg to
    * the ≤|epochs| batch frame, then grid-bounded windows. */
  def exactlyOnceSink(spark: SparkSession, dir: String): DataFrame = {
    val b = table(spark, dir, "events")
      .select(epochCol.as("batch_id"), col("value"))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_rows"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("chk_cents"))
    val span = b.agg(expr("(min(batch_id) + max(batch_id)) div 2").as("x"))
    val ord = Window.orderBy("batch_id", "attempt")
    val acc = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.crossJoin(broadcast(span))
      .select(col("batch_id"), col("n_rows"), col("chk_cents"),
        explode(when(col("batch_id") === col("x"),
          array(lit(1), lit(2))).otherwise(array(lit(1)))).as("attempt"))
      .withColumn("log_hit", col("attempt") === 2)
      .withColumn("action",
        when(col("log_hit"), lit("skip_duplicate")).otherwise(lit("commit")))
      .withColumn("rows_offered", col("n_rows"))
      .withColumn("rows_committed",
        when(col("log_hit"), 0L).otherwise(col("n_rows")))
      .withColumn("cents_committed",
        when(col("log_hit"), 0L).otherwise(col("chk_cents")))
      .withColumn("committed_todate", sum(col("rows_committed")).over(acc))
      .withColumn("dup_suppressed_todate",
        sum(col("rows_offered") - col("rows_committed")).over(acc))
      .select(col("batch_id"), col("attempt"), col("action"),
        col("rows_offered"), col("rows_committed"), col("cents_committed"),
        col("committed_todate"), col("dup_suppressed_todate"))
      .orderBy("batch_id", "attempt")
  }

  /** Per-batch STATE accounting of the fMGWS sessionizer — what
    * [[graft.streaming.Sessionize]]'s state store does between epochs,
    * made batch-checkable: sessions OPEN at their first event's arrival
    * epoch, and CLOSE at the first epoch whose event-time watermark
    * (running batch max − the 30 min delay) passes last_event + gap —
    * exactly the `setTimeoutTimestamp(lastUs + gap)` /
    * `EventTimeTimeout` eviction rule. The per-epoch close counts come
    * from a MERGED-ORDER scan instead of a session × batch range join:
    * watermark marks and session-timeout thresholds union into one
    * ordered stream (marks sort before thresholds at ties — the strict
    * `wm > timeout` contract), and the running threshold count AT each
    * mark is F(wm_b); closes_b = F_b − F_{b−1}. That turns an
    * |S|·|B| join into an O(S+B) scan, and the scan itself is SHARDED
    * by calendar day (two-level bucket cumsum — level 1 prefix-sums
    * per-day threshold counts over the day-bounded bucket frame,
    * level 2 windows within each day partition), so no task ever sorts
    * the full session frame: per-task input is one day's volume, the
    * same sharding the production state store applies by key range.
    * state_rows_b = opens through b − F_b is the number the state-store
    * capacity alert watches. */
  def sessionStateModel(spark: SparkSession, dir: String): DataFrame = {
    val gapUs = 1800000000L // 30 min, the Sessionize gap AND wm delay
    val ev = table(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("t_us"),
        epochCol.as("batch_id"))
    val uw = Window.partitionBy("user_id").orderBy(col("t_us"), col("event_id"))
    val sess = ev
      .withColumn("gap", col("t_us") - lag(col("t_us"), 1).over(uw))
      .withColumn("new_sess",
        when(col("gap").isNull || col("gap") > gapUs, 1L).otherwise(0L))
      .withColumn("sess_id", sum(col("new_sess"))
        .over(uw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "sess_id")
      .agg(min(col("batch_id")).as("open_batch"),
        max(col("t_us")).as("last_us"))
    val bw = Window.orderBy("batch_id")
    val wm = ev.groupBy("batch_id")
      .agg(count(lit(1)).as("n_rows"), max(col("t_us")).as("b_max"))
      .withColumn("wm_us", max(col("b_max"))
        .over(bw.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        - gapUs)
    val marks = wm.select(col("wm_us").as("v"), lit(1L).as("is_mark"),
      col("batch_id"), col("n_rows"))
    val ths = sess.select((col("last_us") + gapUs).as("v"),
      lit(0L).as("is_mark"), lit(null).cast("long").as("batch_id"),
      lit(null).cast("long").as("n_rows"))
    // F(wm_b) = #{session-timeout thresholds strictly below mark b} via
    // the TWO-LEVEL range-bucket cumsum (the groupedCumHist identity,
    // Relational.scala) instead of one global merged-order window: the
    // merged stream is |S|+|B| rows and |S| grows with the corpus, so a
    // single unpartitioned window was a one-task sort over billions of
    // rows at 100 TB (the r14 perf-weak mark). Bucketed by calendar
    // DAY: level 1 prefix-sums per-day threshold counts over the
    // day-bounded bucket frame (state bounded by the time domain, like
    // every other calendar window in the engine); level 2 runs the
    // merged-order scan WITHIN each day partition — per-task input is
    // one day's marks+thresholds, never the corpus.
    // Strictness carries over unchanged: at equal v the MARK sorts
    // first (is_mark desc) so an exactly-equal threshold is not yet
    // closed, mark-mark ties break on batch_id, and a tie can never
    // straddle a bucket boundary (equal v ⇒ equal bucket).
    val merged = marks.unionByName(ths)
      .withColumn("bkt", expr("v div 86400000000"))
    val bktPre = merged
      .groupBy("bkt").agg(sum(lit(1L) - col("is_mark")).as("bc"))
      .withColumn("pre", coalesce(sum(col("bc")).over(
        Window.orderBy("bkt")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bkt", "pre")
    val inb = Window.partitionBy("bkt")
      .orderBy(col("v"), desc("is_mark"), col("batch_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val f = merged
      .withColumn("inc", sum(lit(1L) - col("is_mark")).over(inb))
      .filter(col("is_mark") === 1L)
      .join(broadcast(bktPre), Seq("bkt"))
      .withColumn("f", col("pre") + col("inc"))
    val opens = sess.groupBy(col("open_batch").as("batch_id"))
      .agg(count(lit(1)).as("n_opened"))
    f.join(opens, Seq("batch_id"), "left")
      .withColumn("n_opened", coalesce(col("n_opened"), lit(0L)))
      .withColumn("n_closed",
        col("f") - coalesce(lag(col("f"), 1).over(bw), lit(0L)))
      .withColumn("opens_cum", sum(col("n_opened"))
        .over(bw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("batch_id"), col("n_rows"), col("n_opened"),
        col("n_closed"), (col("opens_cum") - col("f")).as("state_rows"),
        tsS(timestamp_micros(col("v"))).as("wm_s"))
      .orderBy("batch_id")
  }

  /** Per-batch OUT-OF-ORDER profile — the lateness telemetry that TUNES
    * the watermark delay every other streaming op here assumes (30 min):
    * for each arrival epoch, how many events arrived behind the
    * watermark the PREVIOUS epochs had already advanced to, how far
    * behind (bucketed ≤5 min / ≤30 min / beyond, plus the max), and the
    * late ratio. `stream_late_filter` answers "which rows were late"
    * under an arrival-order watermark; this is the operational
    * aggregate an SRE watches to decide whether the delay budget is too
    * tight (late_gt30m > 0 ⇒ the 30-min delay is dropping data) or too
    * loose. Shape: one batch-frame agg (|epochs| rows; its prefix-max
    * window is batch-bounded), one equi join back on batch_id (AQE
    * broadcasts the batch frame while small), one counting agg —
    * linear, no corpus-sized window anywhere. */
  def outOfOrderRatio(spark: SparkSession, dir: String): DataFrame = {
    val delayUs = 1800000000L // 30 min, the engine-wide watermark delay
    val ev = table(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("t_us"),
        epochCol.as("batch_id"))
    val bw = Window.orderBy("batch_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = ev.groupBy("batch_id")
      .agg(max(col("t_us")).as("b_max"))
      .withColumn("wm_prev", max(col("b_max")).over(bw) - delayUs)
      .select("batch_id", "wm_prev")
    ev.join(wm, "batch_id")
      .withColumn("late_us",
        when(col("t_us") < col("wm_prev"), col("wm_prev") - col("t_us")))
      .groupBy("batch_id")
      .agg(count(lit(1)).as("n_rows"),
        count(col("late_us")).as("n_late"),
        sum(when(col("late_us") <= 300000000L, 1L).otherwise(0L))
          .as("n_late_5m"),
        sum(when(col("late_us") > 300000000L &&
          col("late_us") <= 1800000000L, 1L).otherwise(0L)).as("n_late_30m"),
        sum(when(col("late_us") > 1800000000L, 1L).otherwise(0L))
          .as("n_late_gt30m"),
        coalesce(max(col("late_us")), lit(0L)).as("max_late_us"))
      .withColumn("late_ratio",
        r6(col("n_late").cast("double") / col("n_rows").cast("double")))
      .orderBy("batch_id")
  }

  /** STATE-STORE TTL eviction accounting — the capacity model for the
    * `StateTtlConfig`-style keyed-state timeout every long-running
    * streaming job needs ([[sessionStateModel]] watches event-time
    * session closes; this watches PROCESSING-time key expiry): state
    * key = (user_id, event_type), an entry is created on its key's
    * first event, refreshed by any event while live, and EVICTED at
    * the start of epoch `last_touch + TTL + 1` if untouched — the
    * standard "expired at first tick after ttl" rule. A touch after
    * expiry RE-CREATES the entry (counted as an insert, not a
    * refresh), so the churn columns expose exactly what a TTL that is
    * too short costs: re-insert work and lost state. Per epoch:
    * touched/insert/refresh/evict counts and the live state_rows a
    * capacity alert watches. Shape at scale: all key-level work rides
    * windows PARTITIONED by the state key; evictions aggregate to the
    * epoch frame BEFORE the only unpartitioned windows, which order by
    * `batch_id` (legal by the family's epoch-frame invariant — see
    * the object doc). TTL = 2 epochs. */
  def stateTtl(spark: SparkSession, dir: String): DataFrame = {
    val ttl = 2L
    val touch = table(spark, dir, "events")
      .select(col("user_id"), col("event_type"), epochCol.as("batch_id"))
      .groupBy("user_id", "event_type", "batch_id")
      .agg(count(lit(1)).as("n_ev"))
    val kw = Window.partitionBy("user_id", "event_type").orderBy("batch_id")
    val t2 = touch
      .withColumn("prev_b", lag(col("batch_id"), 1).over(kw))
      .withColumn("is_insert",
        (col("prev_b").isNull || col("batch_id") - col("prev_b") > ttl)
          .cast("long"))
      // a gap past the TTL fired an eviction at prev_b + ttl + 1
      .withColumn("evict_b",
        when(col("prev_b").isNotNull && col("batch_id") - col("prev_b") > ttl,
          col("prev_b") + ttl + 1))
    val bMax = touch.agg(max(col("batch_id")).as("b_max"))
    // the key's final touch expires too, if the stream outlives the TTL
    val lastTouch = touch.groupBy("user_id", "event_type")
      .agg(max(col("batch_id")).as("last_b"))
      .crossJoin(broadcast(bMax))
      .select(when(col("last_b") + ttl + 1 <= col("b_max"),
        col("last_b") + ttl + 1).as("evict_b"))
      .filter(col("evict_b").isNotNull)
    val evictions = t2.select(col("evict_b")).filter(col("evict_b").isNotNull)
      .unionByName(lastTouch)
      .groupBy(col("evict_b").as("batch_id"))
      .agg(count(lit(1)).as("n_evicted"))
    val perEpoch = t2.groupBy("batch_id")
      .agg(count(lit(1)).as("n_keys_touched"),
        sum(col("n_ev")).as("n_events"),
        sum(col("is_insert")).as("n_inserts"),
        sum(lit(1L) - col("is_insert")).as("n_refresh"))
    val bw = Window.orderBy("batch_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // FULL outer: with a dense event_id fixture every epoch has touches,
    // but the accounting must stay correct for sparse streams where an
    // eviction tick lands on an epoch nothing touched — dropping it
    // would overstate state_rows forever after.
    perEpoch.join(evictions, Seq("batch_id"), "full_outer")
      .select(col("batch_id"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        coalesce(col("n_keys_touched"), lit(0L)).as("n_keys_touched"),
        coalesce(col("n_inserts"), lit(0L)).as("n_inserts"),
        coalesce(col("n_refresh"), lit(0L)).as("n_refresh"),
        coalesce(col("n_evicted"), lit(0L)).as("n_evicted"))
      .withColumn("state_rows",
        sum(col("n_inserts")).over(bw) - sum(col("n_evicted")).over(bw))
      .orderBy("batch_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_state_ttl" -> (stateTtl _),
    "stream_outoforder_ratio" -> (outOfOrderRatio _),
    "stream_session_state" -> (sessionStateModel _),
    "stream_exactly_once_sink" -> (exactlyOnceSink _),
    "stream_watermark_advance" -> (watermarkAdvance _),
    "stream_state_size" -> (stateSize _),
    "stream_backlog_model" -> (backlogModel _),
    "stream_decay_topk" -> (decayTopk _),
    "stream_cdc_apply" -> (cdcApply _),
    "stream_join_within" -> (joinWithin _),
    "stream_dedup_window" -> (dedupWindow _),
    "stream_tumbling_counts" -> (tumblingCounts _),
    "stream_hopping_counts" -> (hoppingCounts _),
    "stream_session_gap" -> (sessionGap _),
    "stream_late_filter" -> (lateFilter _))

  val oracleSql: Map[String, String] = Map(
    "stream_state_ttl" ->
      s"""WITH touch AS (SELECT user_id, event_type,
           event_id // 5000 AS batch_id, CAST(count(*) AS BIGINT) AS n_ev
           FROM ${evSql()} GROUP BY 1, 2, 3),
         t2 AS (SELECT *, lag(batch_id, 1) OVER (PARTITION BY user_id,
           event_type ORDER BY batch_id) AS prev_b FROM touch),
         t3 AS (SELECT *,
           CASE WHEN prev_b IS NULL OR batch_id - prev_b > 2
             THEN 1 ELSE 0 END AS is_insert,
           CASE WHEN prev_b IS NOT NULL AND batch_id - prev_b > 2
             THEN prev_b + 3 END AS evict_b FROM t2),
         bm AS (SELECT max(batch_id) AS b_max FROM touch),
         lastt AS (SELECT CASE WHEN last_b + 3 <= b_max
             THEN last_b + 3 END AS evict_b
           FROM (SELECT user_id, event_type, max(batch_id) AS last_b
             FROM touch GROUP BY 1, 2), bm),
         ev AS (SELECT evict_b AS batch_id,
             CAST(count(*) AS BIGINT) AS n_evicted
           FROM (SELECT evict_b FROM t3 WHERE evict_b IS NOT NULL
             UNION ALL SELECT evict_b FROM lastt WHERE evict_b IS NOT NULL)
           GROUP BY 1),
         pe AS (SELECT batch_id, CAST(count(*) AS BIGINT) AS n_keys_touched,
           CAST(sum(n_ev) AS BIGINT) AS n_events,
           CAST(sum(is_insert) AS BIGINT) AS n_inserts,
           CAST(sum(1 - is_insert) AS BIGINT) AS n_refresh
           FROM t3 GROUP BY 1)
         SELECT batch_id,
           CAST(coalesce(pe.n_events, 0) AS BIGINT) AS n_events,
           CAST(coalesce(pe.n_keys_touched, 0) AS BIGINT) AS n_keys_touched,
           CAST(coalesce(pe.n_inserts, 0) AS BIGINT) AS n_inserts,
           CAST(coalesce(pe.n_refresh, 0) AS BIGINT) AS n_refresh,
           CAST(coalesce(ev.n_evicted, 0) AS BIGINT) AS n_evicted,
           CAST(sum(coalesce(pe.n_inserts, 0)) OVER w
             - sum(coalesce(ev.n_evicted, 0)) OVER w AS BIGINT) AS state_rows
         FROM pe FULL JOIN ev USING (batch_id)
         WINDOW w AS (ORDER BY batch_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY batch_id""",
    "stream_outoforder_ratio" ->
      s"""WITH ev AS (SELECT event_id, epoch_us(ts) AS t_us,
           event_id // 5000 AS batch_id FROM ${evSql()}),
         w AS (SELECT batch_id, max(t_us) AS b_max FROM ev GROUP BY 1),
         w2 AS (SELECT batch_id, max(b_max) OVER (ORDER BY batch_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 1800000000
           AS wm_prev FROM w),
         j AS (SELECT e.batch_id, e.t_us,
           CASE WHEN e.t_us < w2.wm_prev THEN w2.wm_prev - e.t_us
             ELSE NULL END AS late_us
           FROM ev e JOIN w2 USING (batch_id))
         SELECT batch_id, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(late_us) AS BIGINT) AS n_late,
           CAST(sum(CASE WHEN late_us <= 300000000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_late_5m,
           CAST(sum(CASE WHEN late_us > 300000000 AND late_us <= 1800000000
             THEN 1 ELSE 0 END) AS BIGINT) AS n_late_30m,
           CAST(sum(CASE WHEN late_us > 1800000000 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_late_gt30m,
           CAST(coalesce(max(late_us), 0) AS BIGINT) AS max_late_us,
           ${r6Sql("CAST(count(late_us) AS DOUBLE) / CAST(count(*) AS DOUBLE)")}
             AS late_ratio
         FROM j GROUP BY 1 ORDER BY batch_id""",
    "stream_session_state" ->
      s"""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS t_us,
           event_id // 5000 AS batch_id FROM ${evSql()}),
         sraw AS (SELECT *, t_us - lag(t_us, 1) OVER (PARTITION BY user_id
           ORDER BY t_us, event_id) AS gap FROM ev),
         sns AS (SELECT *, CASE WHEN gap IS NULL OR gap > 1800000000
           THEN 1 ELSE 0 END AS new_sess FROM sraw),
         sid AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id
           ORDER BY t_us, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
           CURRENT ROW) AS sess_id FROM sns),
         sess AS (SELECT user_id, sess_id, min(batch_id) AS open_batch,
           max(t_us) AS last_us FROM sid GROUP BY 1, 2),
         b AS (SELECT batch_id, CAST(count(*) AS BIGINT) AS n_rows,
           max(t_us) AS b_max FROM ev GROUP BY 1),
         wm AS (SELECT batch_id, n_rows, max(b_max) OVER (ORDER BY
           batch_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - 1800000000 AS wm_us FROM b),
         u AS (
           SELECT wm_us AS v, 1 AS is_mark, batch_id, n_rows FROM wm
           UNION ALL
           SELECT last_us + 1800000000 AS v, 0 AS is_mark,
             NULL AS batch_id, NULL AS n_rows FROM sess),
         ff AS (SELECT *, CAST(sum(1 - is_mark) OVER (ORDER BY v,
           is_mark DESC, batch_id ROWS BETWEEN UNBOUNDED PRECEDING AND
           CURRENT ROW) AS BIGINT) AS f FROM u),
         fm AS (SELECT batch_id, n_rows, v, f FROM ff WHERE is_mark = 1),
         op AS (SELECT open_batch AS batch_id,
           CAST(count(*) AS BIGINT) AS n_opened FROM sess GROUP BY 1),
         j AS (SELECT fm.batch_id, fm.n_rows,
           coalesce(op.n_opened, 0) AS n_opened, fm.f, fm.v
           FROM fm LEFT JOIN op ON op.batch_id = fm.batch_id)
         SELECT batch_id, n_rows, CAST(n_opened AS BIGINT) AS n_opened,
           CAST(f - coalesce(lag(f, 1) OVER (ORDER BY batch_id), 0)
             AS BIGINT) AS n_closed,
           CAST(sum(n_opened) OVER (ORDER BY batch_id ROWS BETWEEN
             UNBOUNDED PRECEDING AND CURRENT ROW) - f AS BIGINT)
             AS state_rows,
           strftime(make_timestamp(v), '%Y-%m-%d %H:%M:%S.%f') AS wm_s
         FROM j ORDER BY batch_id""",
    "stream_exactly_once_sink" ->
      s"""WITH b AS (SELECT event_id // 5000 AS batch_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS chk_cents
           FROM ${evSql()} GROUP BY 1),
         span AS (SELECT (min(batch_id) + max(batch_id)) // 2 AS x FROM b),
         att AS (SELECT b.batch_id, b.n_rows, b.chk_cents,
             CAST(unnest(CASE WHEN b.batch_id = s.x THEN [1, 2]
               ELSE [1] END) AS INT) AS attempt
           FROM b, span s),
         a AS (SELECT batch_id, attempt,
             CASE WHEN attempt = 2 THEN 'skip_duplicate'
               ELSE 'commit' END AS action,
             n_rows AS rows_offered,
             CASE WHEN attempt = 2 THEN 0 ELSE n_rows END AS rows_committed,
             CAST(CASE WHEN attempt = 2 THEN 0 ELSE chk_cents END
               AS BIGINT) AS cents_committed
           FROM att)
         SELECT batch_id, attempt, action,
           CAST(rows_offered AS BIGINT) AS rows_offered,
           CAST(rows_committed AS BIGINT) AS rows_committed,
           cents_committed,
           CAST(sum(rows_committed) OVER (ORDER BY batch_id, attempt
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS committed_todate,
           CAST(sum(rows_offered - rows_committed) OVER (ORDER BY
             batch_id, attempt ROWS BETWEEN UNBOUNDED PRECEDING AND
             CURRENT ROW) AS BIGINT) AS dup_suppressed_todate
         FROM a ORDER BY batch_id, attempt""",
    "stream_watermark_advance" ->
      s"""WITH ev AS (SELECT event_id // 5000 AS batch_id,
           epoch_us(ts) AS t_us FROM ${evSql()}),
         b AS (SELECT batch_id, count(*) AS n_rows, max(t_us) AS b_max
           FROM ev GROUP BY 1),
         wm AS (SELECT batch_id, n_rows,
           max(b_max) OVER (ORDER BY batch_id ROWS BETWEEN UNBOUNDED
             PRECEDING AND 1 PRECEDING) - 3600000000 AS wm_us
           FROM b),
         wm2 AS (SELECT *,
           (wm_us - lag(wm_us, 1) OVER (ORDER BY batch_id)) // 1000000
             AS adv_s
           FROM wm),
         d AS (SELECT w.batch_id, w.n_rows, w.wm_us, w.adv_s,
           CAST(sum(CASE WHEN e.t_us < w.wm_us THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped
           FROM wm2 w JOIN ev e ON e.batch_id = w.batch_id
           GROUP BY 1, 2, 3, 4)
         SELECT batch_id, n_rows,
           strftime(make_timestamp(wm_us), '%Y-%m-%d %H:%M:%S.%f') AS wm_s,
           n_dropped, CAST(adv_s AS BIGINT) AS wm_advance_s
         FROM d ORDER BY batch_id""",
    "stream_state_size" ->
      s"""WITH s AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_sess
           FROM ${evSql()}
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         t AS (SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id
               ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
               CURRENT ROW) AS BIGINT) AS sess_id
           FROM s),
         sess AS (SELECT epoch_us(min(ts)) // 3600000000 AS h_open,
             (epoch_us(max(ts)) + 1800000000) // 3600000000 AS h_close
           FROM t GROUP BY user_id, sess_id),
         opens AS (SELECT h_open AS h, count(*) AS n_opened
           FROM sess GROUP BY 1),
         closes AS (SELECT h_close AS h, count(*) AS n_closed
           FROM sess GROUP BY 1),
         span AS (SELECT min(h_open) AS h0, max(h_close) AS h1 FROM sess),
         grid AS (SELECT unnest(generate_series(h0, h1)) AS h FROM span),
         r AS (SELECT g.h, coalesce(o.n_opened, 0) AS n_opened,
             coalesce(c.n_closed, 0) AS n_closed
           FROM grid g LEFT JOIN opens o ON o.h = g.h
           LEFT JOIN closes c ON c.h = g.h),
         f AS (SELECT h, n_opened, n_closed,
           CAST(sum(n_opened - n_closed) OVER (ORDER BY h ROWS BETWEEN
             UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS state_rows
           FROM r)
         SELECT strftime(make_timestamp(h * 3600000000),
             '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(n_opened AS BIGINT) AS n_opened,
           CAST(n_closed AS BIGINT) AS n_closed, state_rows
         FROM f ORDER BY hour""",
    "stream_backlog_model" ->
      s"""WITH hr AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n
           FROM ${evSql()} GROUP BY 1),
         span AS (SELECT min(h) AS h0, max(h) AS h1,
           CAST(sum(n) AS BIGINT) AS tot FROM hr),
         span2 AS (SELECT h0, h1, tot,
           (epoch_us(h1) - epoch_us(h0)) // 3600000000 + 1 AS nh
           FROM span),
         span3 AS (SELECT h0, h1, (tot + nh - 1) // nh AS cap FROM span2),
         grid AS (SELECT g.h, span3.cap, coalesce(hr.n, 0) AS n_in
           FROM (SELECT unnest(generate_series(h0, h1,
             INTERVAL 1 HOUR)) AS h FROM span3) g
           CROSS JOIN span3 LEFT JOIN hr ON hr.h = g.h),
         s1 AS (SELECT h, cap, n_in,
           CAST(sum(n_in - cap) OVER w AS BIGINT) AS s
           FROM grid WINDOW w AS (ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         s2 AS (SELECT h, cap, n_in, s,
           s - least(CAST(min(s) OVER w AS BIGINT), 0) AS backlog
           FROM s1 WINDOW w AS (ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS win_start,
           n_in, CAST(cap AS BIGINT) AS capacity, backlog,
           ${r4Sql("CAST(n_in AS DOUBLE) / CAST(cap AS DOUBLE)")}
             AS utilization,
           backlog > 0 AS is_congested
         FROM s2 ORDER BY win_start""",
    "stream_decay_topk" ->
      s"""WITH mx AS (SELECT max(epoch_us(ts)) AS mx FROM ${evSql()}),
         t AS (SELECT user_id,
           ${r6Sql(s"CAST(CAST(value AS DECIMAL(10,2)) AS DOUBLE) * exp(CAST(epoch_us(ts) - mx AS DOUBLE) / 86400000000.0 * $DecayPerDaySql)")}
             AS term
           FROM ${evSql()}, mx),
         g AS (SELECT user_id, count(*) AS n_events,
           CAST(sum(CAST(term AS DECIMAL(20,6))) AS DOUBLE) AS raw
           FROM t GROUP BY user_id)
         SELECT user_id, n_events, ${r4Sql("raw")} AS decayed_score
         FROM g ORDER BY decayed_score DESC, user_id LIMIT 10""",
    "stream_cdc_apply" ->
      s"""WITH c AS (SELECT user_id, ts, event_id, value,
           CASE event_type WHEN 'signup' THEN 'I'
             WHEN 'error' THEN 'D' ELSE 'U' END AS op,
           count(*) OVER (PARTITION BY user_id) AS n_changes
           FROM ${evSql()}),
         last AS (SELECT * FROM c
           QUALIFY row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) = 1)
         SELECT user_id, op AS last_op,
           round(value, 2) AS last_value,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS last_ts,
           CAST(n_changes AS BIGINT) AS n_changes
         FROM last WHERE op <> 'D' ORDER BY user_id""",
    "stream_join_within" ->
      s"""SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
         strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_s,
         strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_s,
         epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
         FROM (SELECT * FROM ${evSql()} WHERE event_type = 'click') c
         JOIN (SELECT * FROM ${evSql()} WHERE event_type = 'purchase') p
           ON c.user_id = p.user_id
           AND epoch_us(p.ts) >= epoch_us(c.ts)
           AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
         ORDER BY click_id, purchase_id""",
    "stream_dedup_window" ->
      s"""WITH k AS (
           SELECT event_type,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id, event_type
                    ORDER BY ts, event_id) IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                    PARTITION BY user_id, event_type ORDER BY ts, event_id))
                    > 3600000000
             THEN 1 ELSE 0 END AS kept
           FROM ${evSql()})
         SELECT event_type,
           CAST(sum(kept) AS BIGINT) AS n_kept,
           CAST(sum(1 - kept) AS BIGINT) AS n_suppressed
         FROM k GROUP BY event_type ORDER BY event_type""",
    "stream_tumbling_counts" ->
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
         event_type, count(*) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_value
         FROM ${evSql()} GROUP BY win_start, event_type
         ORDER BY win_start, event_type""",
    "stream_hopping_counts" ->
      s"""WITH b AS (
           SELECT event_type, value,
             make_timestamp((epoch_us(ts) // 1800000000) * 1800000000) AS s0
           FROM ${evSql()}),
         w AS (
           SELECT event_type, value,
             unnest([s0, s0 - INTERVAL 30 MINUTE]) AS ws
           FROM b)
         SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE), 4) AS sum_value
         FROM w GROUP BY win_start, event_type
         ORDER BY win_start, event_type""",
    "stream_session_gap" ->
      s"""WITH s AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
             THEN 1 ELSE 0 END AS new_sess
           FROM ${evSql()}
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         t AS (
           SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
           FROM s)
         SELECT user_id, sess_id, count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS start_s,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000000 AS duration_s
         FROM t GROUP BY user_id, sess_id ORDER BY user_id, sess_id""",
    "stream_late_filter" ->
      s"""WITH m AS (
           SELECT event_id, user_id, ts,
             max(ts) OVER (ORDER BY user_id, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS wm
           FROM ${evSql()})
         SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_s,
           strftime(wm, '%Y-%m-%d %H:%M:%S.%f') AS wm_s
         FROM m WHERE epoch_us(ts) < epoch_us(wm) - 3600000000
         ORDER BY event_id""")
}
