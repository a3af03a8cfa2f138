package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import graft.ops.Util.r4D
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.ops.StreamingModel.backlogModel]]
  * (`stream_backlog_model`): the hourly drain-queue recursion carried as
  * O(hours-in-flight) state instead of a batch grid window. The batch
  * operator spells the queue as cumsum algebra (s = Σ(n−cap), backlog =
  * s − min(0, running min s)); this twin carries the equivalent Lindley
  * recursion backlog_h = max(0, backlog_{h−1} + n_h − cap) directly —
  * the two are the standard queueing identity, and the parity spec
  * (StreamingDemoSpec) asserts the emitted rows are IDENTICAL to the
  * batch operator's on the same input, including explicit zero rows for
  * gap hours and the r4-quantized utilization.
  *
  * Shape at scale: the stream folds into a per-hour count map (bounded
  * by the watermark horizon — hours in flight, not stream length); an
  * hour FINALIZES when the event-time watermark passes its end
  * (EventTimeTimeout), emitting in hour order so the recursion is
  * deterministic. This is the one twin outside [[KeyedFold]]: its
  * timeout is armed at the oldest pending hour's end, on input and on
  * timeout alike, not at the last event plus a quiet gap, and its
  * per-batch counts need no fold order. The single group key mirrors the batch model's one
  * global queue — the inherently sequential recursion a real deployment
  * shards per queue/tenant key. Capacity is a constructor parameter:
  * streaming cannot derive it from a corpus total the way the batch
  * model does, which is faithful to production (the drain rate is
  * provisioned, not observed). */
object BacklogState {

  final case class TimedEvent(event_id: Long, ts: Timestamp)
  final case class QState(pending: Map[Long, Long], nextHourMs: Long,
      backlog: Long)
  final case class BacklogOut(win_start: String, n_in: Long, capacity: Long,
      backlog: Long, utilization: Double, is_congested: Boolean)

  private val HourMs = 3600000L

  private def fmt(hourMs: Long): String = {
    val f = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
    f.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    f.format(new java.util.Date(hourMs))
  }

  def backlog(events: Dataset[TimedEvent], capacityPerHour: Long)
      : Dataset[BacklogOut] = {
    import events.sparkSession.implicits._
    val cap = capacityPerHour

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[QState, BacklogOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (_: Int, rows: Iterator[TimedEvent], state: GroupState[QState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            // finalize every hour whose END the watermark has passed
            val wmMs = state.getCurrentWatermarkMs
            val out = scala.collection.mutable.ArrayBuffer[BacklogOut]()
            var h = s.nextHourMs
            var b = s.backlog
            while (h + HourMs <= wmMs) {
              val n = s.pending.getOrElse(h, 0L)
              b = math.max(0L, b + n - cap)
              out += BacklogOut(fmt(h), n, cap, b,
                r4D(n.toDouble / cap.toDouble), b > 0L)
              h += HourMs
            }
            val remaining = s.pending.filter(_._1 >= h)
            state.update(QState(remaining, h, b))
            // re-arm for the oldest hour still in flight: it can finalize
            // as soon as the watermark passes its end
            if (remaining.nonEmpty)
              state.setTimeoutTimestamp(math.max(
                remaining.keys.min + HourMs, wmMs + 1L))
            out.iterator
          } else {
            val batch = rows.toSeq
            val hours = batch.map(e => (e.ts.getTime / HourMs) * HourMs)
            val s0 = state.getOption.getOrElse(
              QState(Map.empty, (hours.min / HourMs) * HourMs, 0L))
            val pending = hours.foldLeft(s0.pending) { (m, h) =>
              // late rows below the already-finalized frontier are dropped
              // (the watermark contract); in-horizon rows accumulate
              if (h < s0.nextHourMs) m
              else m.updated(h, m.getOrElse(h, 0L) + 1L)
            }
            state.update(QState(pending, s0.nextHourMs, s0.backlog))
            // fire once the watermark passes the oldest pending hour's end
            val oldest = if (pending.nonEmpty) pending.keys.min
              else s0.nextHourMs
            state.setTimeoutTimestamp(math.max(oldest + HourMs,
              state.getCurrentWatermarkMs + 1L))
            Iterator.empty
          }
      }
  }
}
