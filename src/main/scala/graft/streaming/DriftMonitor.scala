package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** Streaming twin of [[graft.ops.Relational.eventsCusumShift]]
  * (`events_cusum_shift`): the one-sided CUSUM drift monitor as
  * INCREMENTAL per-key state. The batch operator standardizes against
  * the series' own moments (a retrospective analysis); the monitor runs
  * the production posture — a FIXED baseline (μ₀, σ₀) trained offline
  * (e.g. by the batch query over last quarter) and a live statistic
  * updated as each day completes, alarm at the same h = 4, slack 0.5σ₀.
  *
  * State per event type is O(1) — (open day, running count, cusum,
  * late-drop counter, last finalized day) — regardless of volume or
  * history length, and it is NEVER removed: the cusum is the monitor's
  * whole value and must survive quiet gaps (state is bounded by the
  * number of event types, not by time). A day is FINALIZED (emitted,
  * folded into the cusum) when a newer day's first event arrives, or on
  * event-time timeout ([[KeyedFold]]) ONLY once the watermark has passed
  * the day's end — an earlier intra-day lull re-arms the timeout instead
  * of emitting a partial day (and resetting the recursion), which a
  * first version of this monitor did: any overnight gap both
  * double-emitted the split day and silently zeroed the accumulated
  * drift statistic.
  *
  * Day bucketing follows the SESSION TIME ZONE (the batch twin's
  * `to_date(ts)` semantics — a hard-coded UTC bucket would disagree
  * with the offline-trained baseline in any non-UTC session).
  *
  * Late rows for an already-finalized day inside the watermark horizon
  * cannot be re-folded (the day's z already entered the recursion);
  * they are COUNTED (`late_dropped` on the next emitted row), not
  * silently lost — the monitoring-integrity signal a production monitor
  * needs. Rows later than the watermark never reach the function. */
object DriftMonitor {

  final case class DriftEvent(event_type: String, ts: Timestamp) extends KeyedFold.Timed
  final case class DriftState(
      dayUs: Long, n: Long, cusum: Double, lateDropped: Long, doneUs: Long)
  final case class DriftOut(
      event_type: String, day: String, n: Long, cusum: Double,
      alarm: Boolean, late_dropped: Long)

  val QuietGapMinutes = 120
  val AlarmThreshold = 4.0

  /** CUSUM over daily counts per event type against a fixed baseline.
    * Emits one row per COMPLETED day (append mode). All helpers are
    * LOCAL defs — a method on this object would drag the whole
    * (non-serializable) object into the state-function closure. */
  def monitor(events: Dataset[DriftEvent], mu0: Double, sigma0: Double)
      : Dataset[DriftOut] = {
    import events.sparkSession.implicits._
    require(sigma0 > 0, "sigma0 must be positive")
    val h = AlarmThreshold
    val zoneStr = events.sparkSession.sessionState.conf.sessionLocalTimeZone

    def zone = java.time.ZoneId.of(zoneStr)
    def dayStartUs(us: Long): Long =
      java.time.Instant.ofEpochMilli(Math.floorDiv(us, 1000L)).atZone(zone)
        .toLocalDate.atStartOfDay(zone).toInstant.toEpochMilli * 1000L
    def dayEndUs(dayUs: Long): Long =
      java.time.Instant.ofEpochMilli(dayUs / 1000).atZone(zone)
        .toLocalDate.plusDays(1).atStartOfDay(zone).toInstant.toEpochMilli * 1000L
    def dayStr(dayUs: Long): String =
      java.time.Instant.ofEpochMilli(dayUs / 1000).atZone(zone)
        .toLocalDate.toString
    def zOf(n: Long): Double = (n.toDouble - mu0 - 0.5 * sigma0) / sigma0
    def foldDay(typ: String, s: DriftState): (DriftState, Seq[DriftOut]) = {
      val c = math.max(0.0, s.cusum + zOf(s.n))
      val out = DriftOut(typ, dayStr(s.dayUs), s.n, c, alarm = c > h, s.lateDropped)
      (s.copy(cusum = c, lateDropped = 0L, doneUs = s.dayUs, dayUs = -1L, n = 0L),
        Seq(out))
    }

    KeyedFold(events, QuietGapMinutes)(_.event_type, _ => 0L,
      DriftState(-1L, 0L, 0.0, 0L, -1L))(
      step = (typ, s, _, us) => {
        val d = dayStartUs(us)
        if (d <= s.doneUs || (s.dayUs >= 0 && d < s.dayUs)) {
          // a day that already folded into the cusum, or one older than
          // the open day but newer than the last finalized one
          // (cross-day disorder inside the horizon): counted, not folded
          (s.copy(lateDropped = s.lateDropped + 1), Nil)
        } else if (s.dayUs < 0) {
          (s.copy(dayUs = d, n = 1L), Nil)
        } else if (d == s.dayUs) {
          (s.copy(n = s.n + 1), Nil)
        } else {
          val (folded, out) = foldDay(typ, s)
          (folded.copy(dayUs = d, n = 1L), out)
        }
      },
      // the state is never dropped: the cusum survives quiet gaps
      expire = (typ, s, wmUs) =>
        if (s.n > 0 && s.dayUs >= 0 && wmUs >= dayEndUs(s.dayUs)) {
          // the open day can never be extended again (a same-day row
          // would be behind the watermark and dropped upstream):
          // emit it and KEEP the cusum
          val (folded, out) = foldDay(typ, s)
          (Some(folded), out)
        } else {
          // a quiet lull while the day could still receive rows
          // (other keys raced the watermark forward): re-arm, emit
          // nothing — finalizing here would split the day
          (Some(s), Nil)
        })
  }
}
