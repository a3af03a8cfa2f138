package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** Custom streaming state via [[KeyedFold]]: per-user session windows
  * with an inactivity gap — the stateful counterpart of the lag+cumsum
  * batch model in [[graft.ops.StreamingModel.sessionGap]] and of
  * `events_sessionize` (the same `us − lastUs ≤ gap` test on exact
  * microseconds), and the semantics of `session_window(ts, gap)`, but
  * with explicit state so the session can carry arbitrary payload
  * (counts here; at 100 TB the state store shards by user across
  * executors, and event-time timeouts bound state size).
  */
object Sessionize {

  final case class SessEvent(user_id: Long, ts: Timestamp) extends KeyedFold.Timed
  /** `n == 0` before the user's first event. */
  final case class SessState(startUs: Long, lastUs: Long, n: Int)
  final case class SessionOut(user_id: Long, start_us: Long, n_events: Int, duration_s: Long)

  def sessionize(events: Dataset[SessEvent], gapMinutes: Int): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapMinutes * 60L * 1000000L

    def close(uid: Long, s: SessState): SessionOut =
      SessionOut(uid, s.startUs, s.n, (s.lastUs - s.startUs) / 1000000L)

    KeyedFold(events, gapMinutes)(_.user_id, _ => 0L, SessState(0L, 0L, 0))(
      step = (uid, s, _, us) =>
        if (s.n == 0) (SessState(us, us, 1), Nil)
        else if (us - s.lastUs <= gapUs)
          (s.copy(lastUs = math.max(s.lastUs, us), n = s.n + 1), Nil)
        else (SessState(us, us, 1), Seq(close(uid, s))),
      // watermark passed last-event + gap: the session can never be
      // extended again (late rows would be dropped upstream) → emit
      expire = (uid, s, _) => (None, Seq(close(uid, s))))
  }
}
