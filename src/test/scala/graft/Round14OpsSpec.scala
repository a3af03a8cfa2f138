package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{PipelineOps, Relational, StreamingModel, Vector}

/** Planted-structure tests for the round-14 operators — each fixture
  * builds a configuration whose answer is known on paper, so a logic
  * slip shows up as a wrong VALUE, not just a gate mismatch. */
class Round14OpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def day(d: String) = ts(s"$d 00:00:00")

  // ---- agg_jackknife_variance: two-block hand case ---------------------

  test("jackknife: two-day hand case reproduces theta/se/ci exactly") {
    val base = ts("2024-03-01 00:00:00").getTime
    val rows = Seq(
      EventRow(1L, new Timestamp(base), 1L, "c", 1.0, "{}"),
      EventRow(2L, new Timestamp(base + 1000), 2L, "c", 1.0, "{}"),
      EventRow(3L, new Timestamp(base + 86400000L), 3L, "c", 4.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val r = Relational.aggJackknifeVariance(spark, dir).collect()(0)
    // theta_hat = 6.00/3 = 2.0; theta_(1) = 4.0, theta_(2) = 1.0
    // theta_bar = 2.5; devs ±1.5; var = (1/2)(2.25+2.25) = 2.25; se 1.5
    assert(r.getAs[Long]("n_blocks") == 2 && r.getAs[Long]("n_rows") == 3)
    assert(r.getAs[Double]("theta_hat") == 2.0)
    assert(r.getAs[Double]("jk_se") == 1.5)
    assert(r.getAs[Double]("ci_lo") == -0.94) // r6(2 - 1.96*1.5)
    assert(r.getAs[Double]("ci_hi") == 4.94)
  }

  // ---- pipe_state_compaction: fold math on a 40-day ledger -------------

  test("state_compaction: entries age out of the 30-day window into one checkpoint row") {
    val dir = fixtureDir("orders" -> spark.createDataset(Seq(
      OrderRow(1L, 1L, "O", 10.0, day("2024-01-01"), "5-LOW"),
      OrderRow(2L, 2L, "O", 20.0, day("2024-01-01"), "5-LOW"),
      OrderRow(3L, 3L, "O", 30.0, day("2024-02-09"), "5-LOW"))).toDF)
    val rows = PipelineOps.stateCompaction(spark, dir).collect()
      .map(r => r.getAs[String]("d") -> r).toMap
    assert(rows.size == 40) // grid 2024-01-01 .. 2024-02-09
    val d30 = rows("2024-01-30") // window covers day 1 -> nothing folded
    assert(d30.getAs[Long]("live_entries") == 2 &&
      d30.getAs[Long]("folded_entries") == 0 &&
      d30.isNullAt(d30.fieldIndex("checkpoint_watermark")))
    val d31 = rows("2024-01-31") // day-1 entries age out -> 1 checkpoint row
    assert(d31.getAs[Long]("live_entries") == 0 &&
      d31.getAs[Long]("folded_entries") == 2 &&
      d31.getAs[Long]("state_rows") == 1 &&
      d31.getAs[String]("checkpoint_watermark") == "2024-01-01" &&
      d31.getAs[Double]("state_ratio") == 0.5)
    val last = rows("2024-02-09")
    assert(last.getAs[Long]("entries_total") == 3 &&
      last.getAs[Long]("live_entries") == 1 &&
      last.getAs[Long]("folded_entries") == 2 &&
      last.getAs[Long]("state_rows") == 2)
  }

  // ---- stream_exactly_once_sink: the crash epoch is offered twice, committed once

  test("exactly_once_sink: re-delivered epoch is skipped, ledger equals plain truth") {
    val base = ts("2024-03-01 00:00:00").getTime
    val rows = Seq(0L, 1L, 5000L, 10000L, 10001L).zipWithIndex.map {
      case (id, i) =>
        EventRow(id, new Timestamp(base + i * 1000L), 1L, "c", 2.0, "{}")
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = StreamingModel.exactlyOnceSink(spark, dir).collect()
    // batches 0(2 rows), 1(1 row), 2(2 rows); crash epoch x = (0+2)/2 = 1
    assert(out.length == 4)
    val att = out.map(r => (r.getAs[Long]("batch_id"), r.getAs[Int]("attempt"),
      r.getAs[String]("action"), r.getAs[Long]("rows_committed")))
    assert(att.toSeq == Seq((0L, 1, "commit", 2L), (1L, 1, "commit", 1L),
      (1L, 2, "skip_duplicate", 0L), (2L, 1, "commit", 2L)))
    val fin = out.last
    assert(fin.getAs[Long]("committed_todate") == 5L)
    assert(fin.getAs[Long]("dup_suppressed_todate") == 1L)
    // value checksum rides the committed rows only
    assert(out.map(_.getAs[Long]("cents_committed")).sum == 5 * 200L)
  }

  // ---- stream_session_state: hand-traced open/close/state accounting --

  test("session_state: a session closes when the watermark passes last+gap") {
    val rows = Seq(
      EventRow(0L, ts("2024-01-01 10:00:00"), 1L, "c", 1.0, "{}"),
      EventRow(1L, ts("2024-01-01 10:10:00"), 1L, "c", 1.0, "{}"),
      EventRow(5000L, ts("2024-01-01 12:00:00"), 1L, "c", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = StreamingModel.sessionStateModel(spark, dir).collect()
      .map(r => r.getAs[Long]("batch_id") -> r).toMap
    // batch0: wm 09:40 -> session 1 (last 10:10, timeout 10:40) open
    assert(out(0L).getAs[Long]("n_opened") == 1 &&
      out(0L).getAs[Long]("n_closed") == 0 &&
      out(0L).getAs[Long]("state_rows") == 1)
    // batch1: wm 11:30 > 10:40 -> session 1 closes; session 2 opens
    assert(out(1L).getAs[Long]("n_opened") == 1 &&
      out(1L).getAs[Long]("n_closed") == 1 &&
      out(1L).getAs[Long]("state_rows") == 1)
  }

  // ---- agg_tdigest_quantiles: uniform 1..1000 cents --------------------

  test("tdigest: exact quantiles on uniform cents; rank flags hold") {
    val rows = (1 to 1000).map(i => LineRow(i.toLong, 1.0, i / 100.0,
      0.0, 0.0, "A", "O"))
    val dir = fixtureDir("lineitem" -> spark.createDataset(rows).toDF)
    val out = Relational.aggTdigestQuantiles(spark, dir).collect()
    assert(out.length == 3)
    val byQ = out.map(r => r.getAs[Double]("q") ->
      (r.getAs[Double]("exact_cents"), r.getAs[Boolean]("within_bound"))).toMap
    // exact interpolated quantiles of 1..1000 at dyadic q
    assert(byQ(0.25)._1 == 250.75 && byQ(0.5)._1 == 500.5 &&
      byQ(0.75)._1 == 750.25)
    assert(byQ.values.forall(_._2), s"rank bound violated: $byQ")
  }

  test("TDigestAgg: rank error stays within bound under any partitioning") {
    val r = new scala.util.Random(11)
    val xs = Seq.fill(20000)(math.abs(r.nextGaussian()) * 1000.0) ++
      Seq.fill(200)(50000.0) // heavy upper tail
    val sorted = xs.sorted.toIndexedSeq
    for (parts <- Seq(1, 3, 13)) {
      val est = xs.toDF("x").repartition(parts)
        .agg(graft.functions.TDigestAgg.tdigestQuantiles(
          col("x"), 100.0, Seq(0.1, 0.5, 0.9, 0.99)).as("e"))
        .collect()(0).getAs[scala.collection.Seq[Double]]("e")
      Seq(0.1, 0.5, 0.9, 0.99).zip(est).foreach { case (q, e) =>
        val rank = sorted.count(_ <= e).toDouble / sorted.size
        assert(math.abs(rank - q) <= 0.02,
          s"parts=$parts q=$q est=$e rank=$rank")
      }
    }
  }

  // ---- events_bass_diffusion: recover planted (p, q, M) ---------------

  test("bass: a synthesized Bass curve recovers its planted parameters") {
    // M=1000, p=0.03, q=0.3: N_t = 30 + 0.27*Y - 0.0003*Y^2, rounded
    var cum = 0L
    val rows = scala.collection.mutable.ArrayBuffer.empty[EventRow]
    var id = 0L
    for (t <- 0 until 15) {
      val n = math.round(30.0 + 0.27 * cum - 0.0003 * cum * cum)
      for (_ <- 0L until n) {
        rows += EventRow(id, day(f"2024-01-${t + 1}%02d"), 100000L + id,
          "c", 1.0, "{}")
        id += 1
      }
      cum += n
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows.toSeq).toDF)
    val r = Relational.eventsBassDiffusion(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_days") == 15)
    assert(math.abs(r.getAs[Double]("p_innov") - 0.03) < 0.005,
      s"p=${r.getAs[Double]("p_innov")}")
    assert(math.abs(r.getAs[Double]("q_imit") - 0.3) < 0.05,
      s"q=${r.getAs[Double]("q_imit")}")
    assert(math.abs(r.getAs[Double]("m_hat") - 1000.0) < 60.0,
      s"M=${r.getAs[Double]("m_hat")}")
  }

  test("bass: a degenerate single-day corpus yields NULL fits, not an error") {
    val rows = (0 until 5).map(i => EventRow(i.toLong,
      day("2024-01-01"), 100L + i, "c", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val r = Relational.eventsBassDiffusion(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_days") == 1)
    assert(r.isNullAt(r.fieldIndex("m_hat")) &&
      r.isNullAt(r.fieldIndex("p_innov")))
  }

  // ---- multimodal_audio_vad: frame math + md5-energy cross-check ------

  test("audio_vad: short payload gets one frame; energies match a local md5 replay") {
    val short = DocRow(1L, "tiny text here.", "en", "web", 15L) // < 16 chars
    val longer = DocRow(2L, "a" * 20 + "the quick brown fox jumps over the lazy dog " * 2,
      "en", "web", 110L)
    val dir = fixtureDir("documents" ->
      spark.createDataset(Seq(short, longer)).toDF)
    val out = Vector.multimodalAudioVad(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Long]("n_frames") == 1)
    assert(out(1L).getAs[Long]("n_segments") == 0, "1 frame can't form a >=2 run")
    // local replay of the md5 energy for doc 2 (text chars are ASCII)
    val txt = longer.text
    val step = txt.length / 16
    val energies = (0 until 16).map { f =>
      val off = f * step // 0-based; query's substr is 1-based off+1
      val slice = txt.substring(off, math.min(off + 12, txt.length))
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(slice.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(8), 16) % 1000
    }
    val active = energies.map(_ >= 500)
    val nActive = active.count(identity).toLong
    assert(out(2L).getAs[Long]("n_frames") == 16)
    assert(out(2L).getAs[Long]("n_active") == nActive,
      s"engine n_active=${out(2L).getAs[Long]("n_active")} local=$nActive")
    // run-length replay: segments of >=2 consecutive active frames
    val runs = active.foldLeft(List.empty[Int]) {
      case (h :: t, true) if h > 0 => (h + 1) :: t
      case (acc, true) => 1 :: acc
      case (acc, false) => 0 :: acc
    }.filter(_ >= 2)
    assert(out(2L).getAs[Long]("n_segments") == runs.size.toLong)
    assert(out(2L).getAs[Long]("n_voiced") == runs.sum.toLong)
  }
}
