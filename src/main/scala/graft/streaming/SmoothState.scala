package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import graft.ops.Util.r6D

/** Streaming twin of [[graft.ops.Relational.eventsEwma]] (`events_ewma`):
  * the per-user sequential smoothing recursion carried as O(1) state
  * instead of a collected history. The batch operator gathers each
  * user's ordered value array and folds s_t = r6(0.75·s_{t−1} + 0.25·x_t)
  * inside one row; at streaming scale the history is unbounded, so this
  * twin keeps exactly the recursion's state — (n, exact cent sum, s) —
  * and emits the summary when the user's event time falls a quiet gap
  * behind the watermark ([[KeyedFold]], the [[Sessionize]] /
  * [[SequenceMatch]] eviction discipline). Each step is r6-quantized
  * with the identical floor spelling, so the emitted value is
  * bit-identical to the batch fold on the same ordered input
  * (StreamingDemoSpec asserts parity through MemoryStream).
  *
  * Ordering contract ([[KeyedFold]]'s): rows fold in
  * (microsecond event time, event_id) order WITHIN each micro-batch —
  * the batch fold's exact sort key; cross-batch disorder inside
  * the watermark horizon is not re-sorted. The mean uses an exact
  * integer cent accumulator, so it is summation-order-independent —
  * only the EWMA itself carries the ordering contract. */
object SmoothState {

  final case class ValEvent(user_id: Long, event_id: Long, ts: Timestamp, value: Double)
      extends KeyedFold.Timed
  final case class EwmaState(n: Long, sumCents: Long, ewma: Double)
  final case class EwmaOut(
      user_id: Long, n_events: Long, ewma_last: Double, mean_value: Double)

  /** Quiet gap after a user's last event before their summary emits. */
  val QuietGapMinutes = 60

  def ewma(events: Dataset[ValEvent]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._

    KeyedFold(events, QuietGapMinutes)(_.user_id, _.event_id, EwmaState(0L, 0L, 0.0))(
      step = (_, s, e, _) => (EwmaState(
        n = s.n + 1,
        sumCents = s.sumCents + math.round(e.value * 100),
        ewma = if (s.n == 0L) e.value else r6D(s.ewma * 0.75 + e.value * 0.25)), Nil),
      expire = (uid, s, _) => (None, Seq(EwmaOut(uid, s.n, r6D(s.ewma),
        r6D(s.sumCents / 100.0 / s.n.toDouble)))))
  }
}
