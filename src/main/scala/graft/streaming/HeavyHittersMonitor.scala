package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.Dataset
import graft.ops.Udaf

/** Streaming heavy hitters — the sketch family
  * ([[graft.ops.Udaf.MisraGries]], declared `agg_heavy_hitters`) joined
  * to the streaming runtime: per hourly event-time window, a Misra–Gries
  * summary of the hot keys (users, tokens, IPs …) maintained as
  * [[KeyedFold]] state and emitted when the watermark closes
  * the window. This is the ops question "who is hammering us RIGHT NOW"
  * answered with bounded memory: state per open window is ≤ k counters
  * no matter how many distinct keys the window sees — the property that
  * lets the monitor survive an adversarial key flood that would OOM an
  * exact per-key count.
  *
  * Error contract (inherited from MG): estimated count undercounts by at
  * most windowRows/k; any key with true share > 1/k is GUARANTEED
  * present. The spec drives a skewed fixture and asserts both the
  * guarantee and the bound against exact counts.
  *
  * The fold is [[graft.ops.Udaf.MisraGries]]'s own `reduce` over its
  * buffer, so the monitor and the batch aggregator share one MG step. */
object HeavyHittersMonitor {

  final case class KeyEvent(key: String, ts: Timestamp) extends KeyedFold.Timed
  final case class HHState(windowUs: Long, mg: Udaf.MGBuf, nRows: Long)
  final case class HHOut(window_start: String, key: String, est_n: Long,
      n_rows: Long, rank: Int)

  val K = 16
  val TopN = 5
  val QuietGapMinutes = 120

  /** Per-hour MG(K) top-N over `events`, emitted as each hour closes. */
  def monitor(events: Dataset[KeyEvent]): Dataset[HHOut] = {
    import events.sparkSession.implicits._
    val mg = new Udaf.MisraGries(K)
    val topN = TopN
    val hourUs = 3600000000L

    def emit(s: HHState): Seq[HHOut] = {
      val start = java.time.Instant.ofEpochMilli(s.windowUs / 1000)
        .atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:00"))
      s.mg.m.toSeq.sortBy { case (key, c) => (-c, key) }.take(topN)
        .zipWithIndex
        .map { case ((key, c), i) => HHOut(start, key, c, s.nRows, i + 1) }
    }

    // one monitor; shard the key for multi-tenant
    KeyedFold(events, QuietGapMinutes)(_ => "all", _.key, HHState(-1L, mg.zero, 0L))(
      step = (_, s, e, us) => {
        val w = us - us % hourUs
        if (s.windowUs < 0 || w == s.windowUs)
          (HHState(w, mg.reduce(s.mg, e.key), s.nRows + 1), Nil)
        else if (w > s.windowUs)           // hour rolled over: flush
          (HHState(w, mg.reduce(mg.zero, e.key), 1L), emit(s))
        else (s, Nil)                      // pre-finalized hour: drop
      },
      expire = (_, s, _) => (None, if (s.nRows > 0) emit(s) else Nil))
  }
}
