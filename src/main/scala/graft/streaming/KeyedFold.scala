package graft.streaming

import java.sql.Timestamp
import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one event-time fold behind the streaming twins ([[Sessionize]],
  * [[SequenceMatch]], [[SmoothState]], [[CdcApplyState]],
  * [[DriftMonitor]], [[HeavyHittersMonitor]]): per-key state carried by
  * `flatMapGroupsWithState` under an event-time watermark, the
  * continuous form of the reference's daily rerun and its state file
  * (`src/bak_unload.ps1:57-66,114-116`). Each twin supplies only its
  * state, a step that folds one event into it, and an emit on timeout;
  * this builder owns the rest:
  *   - a `gapMinutes` watermark on `ts`, Append output and an
  *     EventTimeTimeout;
  *   - event time as exact microseconds ([[micros]]), the batch twins'
  *     `unix_micros(ts)`;
  *   - the fold order: each micro-batch folds in (µs, `tie`) order, the
  *     batch twins' `(t_us, event_id)` sort key. Cross-batch disorder
  *     inside the watermark horizon is not re-sorted; a deployment
  *     needing total order buffers rows in state until the watermark
  *     passes them, bounded by the same horizon;
  *   - the timeout, re-armed after every batch at the key's last event
  *     plus the quiet gap;
  *   - on timeout, `expire` gets the state and the watermark (µs).
  *     `None` drops the key's state: that closes the key's quiet-gap
  *     EPOCH, and a later event starts a fresh one from `init`. `Some`
  *     keeps the state and re-arms the timeout a quiet gap past the
  *     watermark.
  *
  * [[BacklogState]] stays outside: it finalizes by hour and re-arms at
  * its oldest pending hour's end, on input and on timeout alike, so
  * folding it in here would add a timeout rule only it uses. */
object KeyedFold {

  /** An event whose event time is its `ts` column. */
  trait Timed { def ts: Timestamp }

  /** A twin's state and the key's latest event time, which anchors the
    * timeout. */
  final case class Folded[S](state: S, lastUs: Long)

  /** Exact event time in µs; `getTime` alone drops the sub-millisecond
    * digits. */
  def micros(ts: Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L

  /** Folds `events` per `key`. `step(key, state, event, µs)` returns the
    * new state and any rows it closes; `expire(key, state, watermarkUs)`
    * returns the state to keep (if any) and the rows to emit. */
  def apply[K: Encoder, E <: Timed, T: Ordering, S <: Product : TypeTag, O: Encoder](
      events: Dataset[E], gapMinutes: Int)(key: E => K, tie: E => T, init: S)(
      step: (K, S, E, Long) => (S, Seq[O]),
      expire: (K, S, Long) => (Option[S], Seq[O])): Dataset[O] = {
    implicit val foldedEnc: Encoder[Folded[S]] = Encoders.product[Folded[S]]
    val gapMs = gapMinutes * 60L * 1000L

    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(key)
      .flatMapGroupsWithState[Folded[S], O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (k: K, rows: Iterator[E], state: GroupState[Folded[S]]) =>
          if (state.hasTimedOut) {
            val wmMs = state.getCurrentWatermarkMs()
            val f = state.get
            val (kept, out) = expire(k, f.state, wmMs * 1000L)
            kept match {
              case Some(s) =>
                state.update(f.copy(state = s))
                state.setTimeoutTimestamp(wmMs + gapMs)
              case None => state.remove()
            }
            out.iterator
          } else {
            var f = state.getOption.getOrElse(Folded(init, Long.MinValue))
            val out = Seq.newBuilder[O]
            rows.map(e => (micros(e.ts), e)).toSeq
              .sortBy { case (us, e) => (us, tie(e)) }
              .foreach { case (us, e) =>
                val (s, closed) = step(k, f.state, e, us)
                f = Folded(s, math.max(f.lastUs, us))
                out ++= closed
              }
            state.update(f)
            state.setTimeoutTimestamp(f.lastUs / 1000L + gapMs)
            out.result().iterator
          }
      }
  }
}
