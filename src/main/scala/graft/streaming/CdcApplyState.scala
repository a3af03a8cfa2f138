package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset

/** Streaming twin of [[graft.ops.StreamingModel.cdcApply]]
  * (`stream_cdc_apply`): the per-key CDC fold — last change wins,
  * trailing DELETE drops the key — carried as O(1) state per key instead
  * of a batch window over the full history. The batch operator ranks each
  * key's changes with one partitioned window; at streaming scale the
  * change history is unbounded, so this twin keeps exactly the fold's
  * state — (last op, last value, last event time, change count) — and
  * emits the key's row when its event time falls a quiet gap behind
  * the watermark ([[KeyedFold]], the [[SmoothState]] /
  * [[SequenceMatch]] eviction discipline). Deleted keys emit nothing.
  *
  * EPOCH contract ([[KeyedFold]]'s, shared with every timeout-evicting
  * twin in this package): eviction closes the key's quiet-gap EPOCH — a
  * key whose next change arrives more than [[QuietGapMinutes]] of event
  * time later starts a fresh epoch and will emit again, with n_changes
  * counting that epoch only, and a pre-delete emission is not
  * retracted by a later epoch's DELETE. Batch/stream parity with
  * `stream_cdc_apply` therefore holds per epoch (exactly — asserted in
  * StreamingDemoSpec through MemoryStream), and a history that spans
  * epochs materializes through the standard downstream compaction:
  * last-epoch-wins per key (the [[DeltaSink]]/[[graft.sources.DeltaLite]]
  * upsert path), which restores the batch result. Emitting per epoch —
  * rather than holding every key forever — is what keeps state O(live
  * keys inside the horizon) instead of O(all keys ever seen).
  *
  * Ordering contract ([[KeyedFold]]'s): rows fold in
  * (microsecond event time, event_id) order WITHIN each micro-batch —
  * the batch window's exact sort key; cross-batch disorder inside the
  * watermark horizon is not re-sorted. */
object CdcApplyState {

  final case class ChangeEvent(
      user_id: Long, event_id: Long, ts: Timestamp,
      event_type: String, value: Double) extends KeyedFold.Timed
  final case class CdcState(
      op: String, value: Double, lastUs: Long, lastId: Long, nChanges: Long)
  final case class CdcOut(
      user_id: Long, last_op: String, last_value: Double, n_changes: Long)

  /** Quiet gap after a key's last change before its final row emits. */
  val QuietGapMinutes = 60

  private def opOf(eventType: String): String = eventType match {
    case "signup" => "I"
    case "error"  => "D"
    case _        => "U"
  }

  def apply(changes: Dataset[ChangeEvent]): Dataset[CdcOut] = {
    import changes.sparkSession.implicits._

    KeyedFold(changes, QuietGapMinutes)(_.user_id, _.event_id, CdcState("", 0.0, 0L, 0L, 0L))(
      step = (_, s, e, us) => {
        // last-change-wins on the SAME key the batch window ranks by
        val isLater = us > s.lastUs || (us == s.lastUs && e.event_id > s.lastId)
        (CdcState(
          op = if (isLater) opOf(e.event_type) else s.op,
          value = if (isLater) e.value else s.value,
          lastUs = math.max(s.lastUs, us),
          lastId = if (isLater) e.event_id else s.lastId,
          nChanges = s.nChanges + 1), Nil)
      },
      expire = (uid, s, _) => (None,
        if (s.op == "D") Nil
        // HALF_UP via BigDecimal — the exact rounding Spark's
        // round(col, 2) applies in the batch twin; math.round rounds
        // half toward +infinity and diverges on negative half-cents
        // (-0.125 -> -0.12 instead of batch's -0.13)
        else Seq(CdcOut(uid, s.op,
          java.math.BigDecimal.valueOf(s.value)
            .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue(),
          s.nChanges))))
  }
}
