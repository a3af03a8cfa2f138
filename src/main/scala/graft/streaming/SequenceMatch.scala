package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** Streaming twin of [[graft.ops.Relational.eventsSequenceMatch]]
  * (`events_sequence_match`): per-user conversion-pattern matching
  * (`cv*p` — click, any views, purchase) as INCREMENTAL state instead of
  * a collected path. The batch operator collects each user's full
  * event-char sequence and counts non-overlapping regex matches; at
  * streaming scale the path is unbounded, so this twin keeps O(1) state
  * per user — a 3-field automaton — and emits the summary when the
  * user's event-time falls a quiet-gap behind the watermark
  * ([[KeyedFold]], the same state-eviction discipline as
  * [[Sessionize]]).
  *
  * The automaton IS the regex, scanned left to right: 'c' (re)arms a
  * candidate (the leftmost-match retry point), 'v' sustains it, 'p'
  * completes it (one conversion, disarm), anything else disarms — which
  * reproduces java.util.regex's non-overlapping leftmost semantics for
  * `cv*p` exactly (StreamingDemoSpec asserts stream/batch parity on a
  * fixture driven through MemoryStream).
  *
  * Ordering contract ([[KeyedFold]]'s): rows fold in (microsecond event
  * time, event_id) order WITHIN each micro-batch — the batch path's
  * `array_sort` key; cross-batch disorder inside the watermark horizon
  * is not re-sorted. */
object SequenceMatch {

  final case class SeqEvent(user_id: Long, event_id: Long, ts: Timestamp, event_type: String)
      extends KeyedFold.Timed
  final case class SeqState(
      inCand: Boolean, nEvents: Long, nConv: Long, sawError: Boolean,
      pathHead: String)
  final case class SeqOut(
      user_id: Long, n_events: Long, n_conversions: Long,
      saw_error: Boolean, path_head: String)

  /** Quiet gap after a user's last event (in event time) before their
    * summary is emitted and state dropped. */
  val QuietGapMinutes = 60

  def sequenceMatch(events: Dataset[SeqEvent]): Dataset[SeqOut] = {
    import events.sparkSession.implicits._

    def fold(s: SeqState, ch: Char): SeqState = {
      val (inCand, conv) = ch match {
        case 'c' => (true, s.nConv)
        case 'v' => (s.inCand, s.nConv)
        case 'p' => (false, if (s.inCand) s.nConv + 1 else s.nConv)
        case _   => (false, s.nConv)
      }
      SeqState(
        inCand = inCand,
        nEvents = s.nEvents + 1,
        nConv = conv,
        sawError = s.sawError || ch == 'e',
        pathHead = if (s.pathHead.length < 20) s.pathHead + ch else s.pathHead)
    }

    KeyedFold(events, QuietGapMinutes)(_.user_id, _.event_id,
      SeqState(inCand = false, 0L, 0L, sawError = false, ""))(
      step = (_, s, e, _) => (fold(s, e.event_type.charAt(0)), Nil),
      expire = (uid, s, _) =>
        (None, Seq(SeqOut(uid, s.nEvents, s.nConv, s.sawError, s.pathHead))))
  }
}
