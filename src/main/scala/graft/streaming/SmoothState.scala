package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import graft.ops.Util.r6D
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.ops.Relational.eventsEwma]] (`events_ewma`):
  * the per-user sequential smoothing recursion carried as O(1) state
  * instead of a collected history. The batch operator gathers each
  * user's ordered value array and folds s_t = r6(0.75·s_{t−1} + 0.25·x_t)
  * inside one row; at streaming scale the history is unbounded, so this
  * twin keeps exactly the recursion's state — (n, exact cent sum, s) —
  * and emits the summary when the user's event time falls a quiet gap
  * behind the watermark (EventTimeTimeout, the [[Sessionize]] /
  * [[SequenceMatch]] eviction discipline). Each step is r6-quantized
  * with the identical floor spelling, so the emitted value is
  * bit-identical to the batch fold on the same ordered input
  * (StreamingDemoSpec asserts parity through MemoryStream).
  *
  * Ordering contract (shared with [[SequenceMatch]]): rows fold in
  * (microsecond event time, event_id) order WITHIN each micro-batch —
  * the batch fold's exact sort key; cross-batch disorder inside
  * the watermark horizon is not re-sorted. The mean uses an exact
  * integer cent accumulator, so it is summation-order-independent —
  * only the EWMA itself carries the ordering contract. */
object SmoothState {

  final case class ValEvent(user_id: Long, event_id: Long, ts: Timestamp, value: Double)
  final case class EwmaState(n: Long, sumCents: Long, ewma: Double, lastUs: Long)
  final case class EwmaOut(
      user_id: Long, n_events: Long, ewma_last: Double, mean_value: Double)

  /** Quiet gap after a user's last event before their summary emits. */
  val QuietGapMinutes = 60

  def ewma(events: Dataset[ValEvent]): Dataset[EwmaOut] = {
    import events.sparkSession.implicits._

    events
      .withWatermark("ts", s"$QuietGapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, rows: Iterator[ValEvent], state: GroupState[EwmaState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(EwmaOut(uid, s.n, r6D(s.ewma),
              r6D(s.sumCents / 100.0 / s.n.toDouble)))
          } else {
            // microsecond event time + event_id: the batch fold's exact
            // ordering key (array_sort over (t_us, event_id, value)) —
            // millisecond getTime alone would reorder same-ms events
            val sorted = rows.toSeq.sortBy(e =>
              (e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L, e.event_id))
            var s = state.getOption.getOrElse(EwmaState(0L, 0L, 0.0, 0L))
            sorted.foreach { e =>
              val cents = math.round(e.value * 100)
              s = EwmaState(
                n = s.n + 1,
                sumCents = s.sumCents + cents,
                ewma = if (s.n == 0L) e.value else r6D(s.ewma * 0.75 + e.value * 0.25),
                lastUs = math.max(s.lastUs, e.ts.getTime * 1000L))
            }
            state.update(s)
            state.setTimeoutTimestamp(
              s.lastUs / 1000L + QuietGapMinutes * 60L * 1000L)
            Iterator.empty
          }
      }
  }
}
