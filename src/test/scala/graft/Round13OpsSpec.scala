package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{PipelineOps, Relational, Text, Vector}

case class SuppRow13(s_suppkey: Long, s_name: String, s_nationkey: Int,
    s_acctbal: Double)
case class LineSd13(l_orderkey: Long, l_shipdate: Timestamp)

/** Planted-structure tests for the round-13 operators — each fixture
  * builds a configuration whose answer is known on paper, so a logic
  * slip shows up as a wrong VALUE, not just a gate mismatch. */
class Round13OpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def day(d: String) = ts(s"$d 00:00:00")

  test("psi_drift: identical ref/cur shapes give PSI 0; a shifted bin prices in") {
    // span day1..day4 -> mid = day2; ref = {day1, day2}, cur = {day3, day4}.
    // Ref bins freeze on [1000c, 2000c]; cur values clamp into edge bins.
    val same = fixtureDir("orders" -> spark.createDataset(Seq(
      OrderRow(1L, 1L, "O", 10.0, day("2024-01-01"), "5-LOW"),
      OrderRow(2L, 2L, "O", 20.0, day("2024-01-02"), "5-LOW"),
      OrderRow(3L, 3L, "O", 5.0, day("2024-01-03"), "5-LOW"),   // clamps to bin 0
      OrderRow(4L, 4L, "O", 30.0, day("2024-01-04"), "5-LOW"))) // clamps to bin 9
      .toDF)
    val r1 = PipelineOps.psiDrift(spark, same).collect()
    assert(r1.length == 10)
    assert(r1.forall(_.getAs[Double]("psi_total") == 0.0))
    assert(r1.forall(r => r.getAs[Double]("psi_term") == 0.0))
    // shifted: ref {bin0, bin9}, cur {bin9, bin9} ->
    // term0 = (-1/7)*r6(ln(1/3)) r6'd = 0.156945; term9 = (1/7)*r6(ln(5/3))
    // r6'd = 0.072975; PSI = 0.22992 (hand-computed).
    val shifted = fixtureDir("orders" -> spark.createDataset(Seq(
      OrderRow(1L, 1L, "O", 10.0, day("2024-01-01"), "5-LOW"),
      OrderRow(2L, 2L, "O", 20.0, day("2024-01-02"), "5-LOW"),
      OrderRow(3L, 3L, "O", 20.0, day("2024-01-03"), "5-LOW"),
      OrderRow(4L, 4L, "O", 20.0, day("2024-01-04"), "5-LOW"))).toDF)
    val r2 = PipelineOps.psiDrift(spark, shifted).collect()
      .map(r => r.getAs[Long]("bin") -> r).toMap
    assert(r2(0L).getAs[Long]("n_ref") == 1 && r2(0L).getAs[Long]("n_cur") == 0)
    assert(r2(9L).getAs[Long]("n_ref") == 1 && r2(9L).getAs[Long]("n_cur") == 2)
    assert(math.abs(r2(0L).getAs[Double]("psi_term") - 0.156945) < 1e-9)
    assert(math.abs(r2(9L).getAs[Double]("psi_term") - 0.072975) < 1e-9)
    assert(math.abs(r2(0L).getAs[Double]("psi_total") - 0.22992) < 1e-9)
  }

  test("zone_map_audit: false-positive open counted; disjoint file skipped") {
    // files by l_orderkey div 256: file0 = keys 0..255, file1 = 256..511,
    // file2 = 512..767. d0 = 2024-01-01, probe month k=12 -> 2025-01.
    // file0: rows inside the probe month (overlap + hit).
    // file1: straddles the month with NO row inside (false-positive open).
    // file2: entirely before the month (skipped).
    val li = fixtureDir("lineitem" -> spark.createDataset(Seq(
      LineSd13(1L, day("2024-01-01")),   // file0, fixes d0
      LineSd13(2L, day("2025-01-10")),   // file0, inside 2025-01
      LineSd13(300L, day("2024-12-20")), // file1, before the month
      LineSd13(301L, day("2025-02-10")), // file1, after the month
      LineSd13(600L, day("2024-03-01")), // file2, disjoint
      LineSd13(601L, day("2024-04-01")))).toDF)
    val r = PipelineOps.zoneMapAudit(spark, li).collect()
      .map(x => x.getAs[Long]("k") -> x).toMap
    val k12 = r(12L)
    assert(k12.getAs[String]("month") == "2025-01-01")
    assert(k12.getAs[Long]("n_files") == 3)
    assert(k12.getAs[Long]("n_overlap") == 2)   // file0 + file1 (straddle)
    assert(k12.getAs[Long]("n_files_hit") == 1) // only file0 has a row inside
    assert(k12.getAs[Long]("rows_match") == 1)
    assert(k12.getAs[Long]("ideal_files") == 1) // ceil(1*3/6) = 1
    assert(math.abs(k12.getAs[Double]("skip_frac") - 0.333333) < 1e-9)
    // k=24/36 months: beyond every file's hi -> zero overlap, full skip
    assert(r(24L).getAs[Long]("n_overlap") == 0)
    assert(r(24L).getAs[Long]("ideal_files") == 0)
    assert(r(36L).getAs[Double]("skip_frac") == 1.0)
  }

  test("ledger_replay: crash-day partial commit replays to convergence") {
    // span day1..day5 -> crash day X = day3 (keys 6 even, 7/9 odd).
    val o = fixtureDir("orders" -> spark.createDataset(Seq(
      OrderRow(1L, 1L, "O", 1.0, day("2024-01-01"), "5-LOW"),
      OrderRow(2L, 1L, "O", 1.0, day("2024-01-01"), "5-LOW"),
      OrderRow(4L, 1L, "O", 1.0, day("2024-01-02"), "5-LOW"),
      OrderRow(6L, 1L, "O", 1.0, day("2024-01-03"), "5-LOW"),
      OrderRow(7L, 1L, "O", 1.0, day("2024-01-03"), "5-LOW"),
      OrderRow(9L, 1L, "O", 1.0, day("2024-01-03"), "5-LOW"),
      OrderRow(10L, 1L, "O", 1.0, day("2024-01-04"), "5-LOW"),
      OrderRow(11L, 1L, "O", 1.0, day("2024-01-05"), "5-LOW"))).toDF)
    val rows = PipelineOps.ledgerReplay(spark, o).collect()
      .map(r => r.getAs[String]("d") -> r).toMap
    val x = rows("2024-01-03") // crash day: only the even key commits
    assert(x.getAs[Long]("n_window") == 3 && x.getAs[Long]("n_processed") == 3)
    assert(x.getAs[Long]("n_committed") == 1)
    assert(x.getAs[String]("watermark") == "2024-01-02") // commit-last lost
    val x1 = rows("2024-01-04") // replay: window re-spans day3
    assert(x1.getAs[Long]("n_window") == 4)      // day3's 3 + day4's 1
    assert(x1.getAs[Long]("n_skipped") == 1)     // even key 6: in ledger
    assert(x1.getAs[Long]("n_processed") == 3)
    assert(x1.getAs[Long]("n_reprocessed") == 2) // odd keys 7, 9 re-run
    assert(x1.getAs[Long]("n_committed") == 3)
    assert(x1.getAs[String]("watermark") == "2024-01-04")
    // convergence: the final ledger holds every file exactly once
    assert(rows("2024-01-05").getAs[Long]("ledger_size") == 8)
  }

  test("jdbc_roundtrip: per-nation aggregate survives the Derby hop") {
    val s = fixtureDir("supplier" -> spark.createDataset(Seq(
      SuppRow13(1L, "alpha", 1, 10.25),
      SuppRow13(2L, "beta", 1, -3.50),
      SuppRow13(3L, "gamma", 2, 100.00))).toDF)
    val r = PipelineOps.jdbcRoundtrip(spark, s).collect()
      .map(x => x.getAs[Int]("s_nationkey") -> x).toMap
    assert(r(1).getAs[Long]("n_rows") == 2)
    assert(r(1).getAs[Long]("bal_cents") == 1025L - 350L)
    assert(r(1).getAs[String]("name_min") == "alpha")
    assert(r(1).getAs[String]("name_max") == "beta")
    assert(r(2).getAs[Long]("bal_cents") == 10000L)
  }

  test("zip_entry_stats: manifest and content checksum match the source docs") {
    val docs = fixtureDir("documents" -> spark.createDataset(Seq(
      DocRow(0L, "hello world", "en", "srcA", 11L),  // 0 % 16 == 0: checked
      DocRow(1L, "tiny", "en", "srcA", 4L),
      DocRow(2L, "other text", "zh", "srcB", 10L))).toDF)
    val r = PipelineOps.zipEntryStats(spark, docs).collect()
      .map(x => x.getAs[String]("archive") -> x).toMap
    assert(r("srcA.zip").getAs[Long]("n_entries") == 2)
    assert(r("srcA.zip").getAs[Long]("bytes_total") == 15)
    assert(r("srcA.zip").getAs[String]("entry_min") == "d000000000.txt")
    assert(r("srcA.zip").getAs[String]("entry_max") == "d000000001.txt")
    assert(r("srcA.zip").getAs[Long]("n_checked") == 1)
    // expected checksum: first 12 md5 hex chars of the checked doc's bytes
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest("hello world".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    assert(r("srcA.zip").getAs[Long]("content_check") ==
      java.lang.Long.parseLong(md, 16))
    assert(r("srcB.zip").getAs[Long]("n_checked") == 0)
    assert(r("srcB.zip").getAs[Long]("content_check") == 0)
  }

  test("dsir_weights: target-language tokens score the paper value") {
    // vocab {good, bad}, raw = 4 single-token docs, target = the 2 en docs.
    // lr(good) = r6(ln(2.5/3) - ln(2.5/5)) = 0.510826 -> r4 weight 0.5108
    // lr(bad)  = r6(ln(0.5/3) - ln(2.5/5)) = -1.098612 -> r4 -1.0986
    val docs = fixtureDir("documents" -> spark.createDataset(Seq(
      DocRow(1L, "good", "en", "s", 4L), DocRow(2L, "good", "en", "s", 4L),
      DocRow(3L, "bad", "zh", "s", 3L), DocRow(4L, "bad", "zh", "s", 3L))).toDF)
    val r = Text.dsirWeights(spark, docs).collect()
    assert(r.take(2).map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    assert(math.abs(r(0).getAs[Double]("dsir_weight") - 0.5108) < 1e-9)
    assert(math.abs(r(3).getAs[Double]("dsir_weight") - (-1.0986)) < 1e-9)
  }

  test("wordlen_kl: identical shapes give 0; divergent source prices in") {
    val same = fixtureDir("documents" -> spark.createDataset(Seq(
      DocRow(1L, "a bb", "en", "srcA", 4L),
      DocRow(2L, "a bb", "en", "srcB", 4L))).toDF)
    assert(Text.wordlenKl(spark, same).collect()
      .forall(_.getAs[Double]("kl_nats") == 0.0))
    // srcA = two len-1 tokens, srcB = two len-2 tokens:
    // KL_A = r6(2.5/3 * r6(ln(5/3))) + r6(0.5/3 * r6(ln(1/3)))
    //      = 0.425688 - 0.183102 = 0.242586 (hand-computed; symmetric)
    val diff = fixtureDir("documents" -> spark.createDataset(Seq(
      DocRow(1L, "a a", "en", "srcA", 3L),
      DocRow(2L, "bb bb", "en", "srcB", 5L))).toDF)
    val r = Text.wordlenKl(spark, diff).collect()
      .map(x => x.getAs[String]("source") -> x.getAs[Double]("kl_nats")).toMap
    assert(math.abs(r("srcA") - 0.242586) < 1e-9)
    assert(math.abs(r("srcB") - 0.242586) < 1e-9)
  }

  test("hampel_filter: spike repaired to the window median, neighbors kept") {
    val base = ts("2024-01-01 00:00:00").getTime
    val evs = (1 to 7).map { i =>
      val v = if (i == 4) 100.0 else 10.0
      EventRow(i.toLong, new Timestamp(base + i * 60000L), 1L, "view", v, "{}")
    }
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val r = Relational.windowHampelFilter(spark, dir).collect()
      .map(x => x.getAs[Long]("event_id") -> x).toMap
    val spike = r(4L) // full 7-row window: med 10, mad 0 -> outlier
    assert(spike.getAs[Long]("n_win") == 7)
    assert(spike.getAs[Double]("med") == 10.0)
    assert(spike.getAs[Double]("mad") == 0.0)
    assert(spike.getAs[Boolean]("is_outlier"))
    assert(spike.getAs[Double]("repaired") == 10.0)
    val edge = r(1L) // 4-row window [10,10,10,100]: lower-median 10, kept
    assert(edge.getAs[Long]("n_win") == 4)
    assert(edge.getAs[Double]("med") == 10.0)
    assert(!edge.getAs[Boolean]("is_outlier"))
    assert(edge.getAs[Double]("repaired") == 10.0)
  }

  test("sorted_neighborhood: graded prefixes, bucket walls, length-gap filter") {
    // a/b share 32+ despaced chars (level 32); c shares only 16 with them
    // (level 16); d differs inside the first 6 chars (other bucket — no
    // pair); e matches a's prefix but its n_chars gap > 40 filters it.
    val p32 = "aaaa bbbb cccc dddd eeee ffff gggg "
    val docs = fixtureDir("documents" -> spark.createDataset(Seq(
      DocRow(1L, p32 + "tail one", "en", "s", 43L),
      DocRow(2L, p32 + "tail two", "en", "s", 43L),
      DocRow(3L, "aaaa bbbb cccc dddd zz yy", "en", "s", 25L),
      DocRow(4L, "zzzz yyyy xxxx", "en", "s", 14L),
      DocRow(5L, p32 + "t", "en", "s", 136L))).toDF)
    val pairs = Text.dedupSortedNeighborhood(spark, docs).collect()
      .map(x => (x.getAs[Long]("a"), x.getAs[Long]("b"),
        x.getAs[Long]("match_level"))).toSet
    assert(pairs.contains((1L, 2L, 32L)))
    assert(pairs.exists(p => p._1 == 3L && (p._2 == 1L || p._2 == 2L)
      && p._3 == 16L) ||
      pairs.exists(p => (p._1 == 1L || p._1 == 2L) && p._2 == 3L
        && p._3 == 16L))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // other bucket
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L)) // length gap
  }

  test("scene_cuts: md5 frame features replayed independently") {
    val text = (1 to 16).map(i => f"w$i%02d").mkString(" ") // len 63, step 7
    val dir = fixtureDir("documents" -> spark.createDataset(Seq(
      DocRow(1L, text, "en", "s", text.length.toLong))).toDF)
    val r = Vector.multimodalSceneCuts(spark, dir).collect()
    assert(r.length == 1)
    // independent replay of the stubbed decode: feature = first 8 md5 hex
    // chars of the 12-char frame at offset i*(n/8)+1 (1-based, clamped)
    val n = text.length
    val feats = (0 to 7).map { f =>
      val off = f * (n / 8) // 0-based
      val frame = text.substring(off, math.min(off + 12, n))
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(frame.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
      java.lang.Long.parseLong(hex, 16)
    }
    val deltas = feats.sliding(2).map(p => math.abs(p(1) - p(0))).toSeq
    val cuts = deltas.count(_ > 2147483648L)
    assert(r(0).getAs[Long]("n_frames") == 8)
    assert(r(0).getAs[Long]("n_cuts") == cuts.toLong)
    assert(r(0).getAs[Long]("max_delta") == deltas.max)
  }

  test("kmv_distinct: sketch is exact under k, estimator sane over k") {
    // 5/3/2 distinct values per column, all < k=64 -> the sketch IS the
    // exact count (k_seen == true_n, est == true, rel_err == 0)
    val small = fixtureDir("lineitem" -> spark.createDataset(
      (0 until 30).map(i => LineKmv13(
        (i % 5 + 1).toLong, (i % 3 + 1).toLong, (i % 2 + 1).toLong))).toDF)
    val rs = Relational.aggKmvDistinct(spark, small).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(rs("l_orderkey").getAs[Long]("true_n") == 5)
    assert(rs("l_orderkey").getAs[Long]("k_seen") == 5)
    assert(rs("l_orderkey").getAs[Double]("est_n") == 5.0)
    assert(rs("l_partkey").getAs[Double]("rel_err") == 0.0)
    assert(rs("l_suppkey").getAs[Double]("est_n") == 2.0)
    // 500 distinct orderkeys > k -> estimator branch: k_seen pinned at
    // 64 and the (k-1)/u_k estimate lands within KMV's ~4-sigma band
    // (sigma ~= true/sqrt(k-2) ~= 12.6%)
    val big = fixtureDir("lineitem" -> spark.createDataset(
      (0 until 500).map(i => LineKmv13(i.toLong, 1L, 1L))).toDF)
    val rb = Relational.aggKmvDistinct(spark, big).collect()
      .map(r => r.getAs[String]("col_name") -> r).toMap
    assert(rb("l_orderkey").getAs[Long]("k_seen") == 64)
    assert(rb("l_orderkey").getAs[Long]("true_n") == 500)
    assert(rb("l_orderkey").getAs[Double]("rel_err") < 0.5)
  }

  test("kalman_filter: one planted step reproduces the hand gain/level") {
    // vals = [10, 20]: pp = 1.1, K = r6(1.1/2.1) = 0.52381,
    // x = r6(10 + 0.52381*10) = 15.2381, p = r6(0.47619*1.1) = 0.523809
    val ev = Seq(
      EventRow(1L, ts("2024-03-01 10:00:00"), 1L, "click", 10.0, "{}"),
      EventRow(2L, ts("2024-03-02 10:00:00"), 1L, "click", 20.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(ev).toDF)
    val r = Relational.eventsKalmanFilter(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_days") == 2)
    assert(math.abs(r(0).getAs[Double]("gain") - 0.52381) < 1e-9)
    assert(math.abs(r(0).getAs[Double]("level") - 15.2381) < 1e-9)
    assert(math.abs(r(0).getAs[Double]("p_post") - 0.523809) < 1e-9)
    assert(math.abs(r(0).getAs[Double]("resid_last") - 4.7619) < 1e-9)
  }

  test("hawkes_intensity: kernel sums in exact micro-units") {
    // user 1: 2 events day0, 1 event day1.
    // inten(d0) = 2e6; inten(d1) = 1e6 + 2*606531 = 2213062 (peak)
    val ev = Seq(
      EventRow(1L, ts("2024-03-01 08:00:00"), 1L, "click", 1.0, "{}"),
      EventRow(2L, ts("2024-03-01 09:00:00"), 1L, "click", 1.0, "{}"),
      EventRow(3L, ts("2024-03-02 08:00:00"), 1L, "click", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(ev).toDF)
    val r = Relational.eventsHawkesIntensity(spark, dir).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Long]("n_days") == 2)
    assert(r(0).getAs[Long]("peak_intensity") == 2213062L)
    // peak_di = day1 = 2024-03-02's epoch-day index
    assert(r(0).getAs[Long]("peak_di") ==
      java.time.LocalDate.parse("2024-03-02").toEpochDay)
    assert(math.abs(r(0).getAs[Double]("mean_intensity")
      - ((2000000L + 2213062L) / 2.0 / 1e6)) < 1e-6)
  }

  test("nprobe_sweep: recall is monotone in nprobe, baseline size fixed") {
    val rows = Vector.simsearchNprobeSweep(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 4)
    assert(rows.map(_.getAs[Long]("nprobe")).toSeq == Seq(1L, 2L, 3L, 4L))
    // 10 probes x exact top-3 = a fixed 30-pair baseline at every nprobe
    assert(rows.forall(_.getAs[Long]("n_exact") == 30L))
    val recalls = rows.map(_.getAs[Double]("recall")).toSeq
    recalls.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a, s"recall not monotone in nprobe: $recalls")
    }
    assert(recalls.forall(r => r >= 0.0 && r <= 1.0))
    assert(rows.map(_.getAs[Double]("scan_frac")).toSeq ==
      Seq(0.0625, 0.125, 0.1875, 0.25))
  }

}

case class LineKmv13(l_orderkey: Long, l_partkey: Long, l_suppkey: Long)
