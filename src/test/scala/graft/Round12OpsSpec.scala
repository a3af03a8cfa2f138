package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{PipelineOps, Relational}

/** Planted-structure tests for the round-12 operators — each fixture
  * builds a configuration whose answer is known on paper, so a logic
  * slip shows up as a wrong VALUE, not just a gate mismatch. */
class Round12OpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def day(d: String) = ts(s"$d 00:00:00")

  /** Manifest fixture: adds on day0 (keys 1, 2), day1 (key 3), and
    * day95 (key 4) — day0's files expire at day90, day1's at day91,
    * leaving days 91–94 with an EMPTY live manifest (the A5 case). */
  private def manifestOrders: String = fixtureDir("orders" ->
    spark.createDataset(Seq(
      OrderRow(1L, 1L, "O", 10.0, day("2024-01-01"), "5-LOW"),
      OrderRow(2L, 2L, "O", 20.0, day("2024-01-01"), "5-LOW"),
      OrderRow(3L, 3L, "O", 40.0, day("2024-01-02"), "5-LOW"),
      OrderRow(4L, 4L, "O", 80.0, day("2024-04-05"), "5-LOW"))).toDF)

  test("manifest_history: TTL churn identity (adds, expiries, live counts)") {
    val rows = PipelineOps.manifestHistory(spark, manifestOrders).collect()
      .map(r => r.getAs[String]("d") -> r).toMap
    assert(rows.size == 96) // 2024-01-01 .. 2024-04-05
    assert(rows("2024-01-01").getAs[Long]("n_live") == 2)
    assert(rows("2024-01-02").getAs[Long]("n_live") == 3)
    assert(rows("2024-03-30").getAs[Long]("n_live") == 3) // day 89
    // day 90: the two day0 files expire
    assert(rows("2024-03-31").getAs[Long]("n_expired") == 2)
    assert(rows("2024-03-31").getAs[Long]("n_live") == 1)
    // day 91: day1's file expires -> empty store until day95
    assert(rows("2024-04-01").getAs[Long]("n_live") == 0)
    assert(rows("2024-04-04").getAs[Long]("n_live") == 0)
    assert(rows("2024-04-05").getAs[Long]("n_live") == 1)
    assert(rows("2024-01-01").getAs[Long]("bytes_live") == 3000)
    assert(rows("2024-01-02").getAs[Long]("bytes_live") == 7000)
  }

  test("manifest_pick: lexicographic pick, regression on expiry, empty window") {
    val rows = PipelineOps.manifestPick(spark, manifestOrders).collect()
      .map(r => r.getAs[String]("d") -> r).toMap
    assert(rows("2024-01-01").getAs[String]("pick") == "backup_20240101_000000002.zip")
    assert(rows("2024-01-02").getAs[String]("pick") == "backup_20240102_000000003.zip")
    // day 90: day0 expired, day1 still the latest live file (age 89)
    assert(rows("2024-03-31").getAs[String]("pick") == "backup_20240102_000000003.zip")
    assert(rows("2024-03-31").getAs[Long]("pick_age_days") == 89)
    assert(rows("2024-03-31").getAs[Boolean]("is_stale"))
    // days 91-94: nothing live -> null pick, stale=false (nothing to be stale)
    assert(rows("2024-04-01").getAs[String]("pick") == null)
    assert(!rows("2024-04-01").getAs[Boolean]("is_stale"))
    assert(rows("2024-04-05").getAs[Long]("pick_age_days") == 0)
  }

  test("seen_ledger: imports fire only on pick changes; empty days are idle runs") {
    val rows = PipelineOps.seenLedger(spark, manifestOrders).collect()
      .map(r => r.getAs[String]("d") -> r).toMap
    assert(rows("2024-01-01").getAs[Boolean]("imported"))  // first pick
    assert(rows("2024-01-02").getAs[Boolean]("imported"))  // newer file
    assert(!rows("2024-01-03").getAs[Boolean]("imported")) // unchanged
    assert(!rows("2024-03-31").getAs[Boolean]("imported")) // pick unchanged
    assert(!rows("2024-04-01").getAs[Boolean]("imported")) // empty store
    assert(rows("2024-04-05").getAs[Boolean]("imported"))  // new file
    assert(rows("2024-04-05").getAs[Long]("imports_todate") == 3)
    assert(rows("2024-04-05").getAs[Long]("runs_todate") == 96)
  }

  test("backfill_plan: an 11-day gap chunks into 7+4 batches of one island") {
    val dir = fixtureDir("orders" -> spark.createDataset(Seq(
      OrderRow(1L, 1L, "F", 10.0, day("2024-01-01"), "1-URGENT"),
      OrderRow(2L, 2L, "F", 10.0, day("2024-01-13"), "1-URGENT"))).toDF)
    val rows = PipelineOps.backfillPlan(spark, dir).collect()
    assert(rows.length == 2, rows.mkString("; "))
    assert(rows(0).getAs[String]("batch_start") == "2024-01-02")
    assert(rows(0).getAs[String]("batch_end") == "2024-01-08")
    assert(rows(0).getAs[Long]("n_days") == 7)
    assert(rows(1).getAs[String]("batch_start") == "2024-01-09")
    assert(rows(1).getAs[String]("batch_end") == "2024-01-12")
    assert(rows(1).getAs[Long]("n_days") == 4)
    assert(rows.forall(_.getAs[String]("island_start") == "2024-01-02"))
  }

  test("dead_letter_daily: multi-label rows land in every tripped reason") {
    val d0 = day("2024-02-01")
    val li = Seq(
      // trips qty_ceiling AND deep_discount
      (1L, 50.0, 100.0, 0.09, 0.05, "N", "O", d0),
      // clean
      (2L, 10.0, 100.0, 0.05, 0.05, "N", "O", d0),
      // trips zero_tax only
      (3L, 10.0, 100.0, 0.05, 0.0, "N", "O", d0))
      .toDF("l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
        "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    val dir = fixtureDir("lineitem" -> li)
    val rows = PipelineOps.deadLetterDaily(spark, dir).collect()
      .map(r => r.getAs[String]("reason") -> r).toMap
    assert(rows.keySet == Set("qty_ceiling", "deep_discount", "zero_tax"))
    assert(rows("qty_ceiling").getAs[Long]("n_rejected") == 1)
    assert(rows("deep_discount").getAs[Long]("n_rejected") == 1)
    assert(rows("zero_tax").getAs[Long]("n_rejected") == 1)
    // rates are per-day over ALL rows (clean included): 1/3
    assert(rows("zero_tax").getAs[Double]("reject_rate") == 0.333333)
  }

  test("bloom_fpp_audit: member/probe accounting and fpp monotone in m") {
    val dir = "/root/testdata/sf0.001"
    val rows = PipelineOps.bloomFppAudit(spark, dir).collect()
    assert(rows.length == 3)
    val nCust = graft.ops.Util.table(spark, dir, "customer").count()
    val byM = rows.sortBy(_.getAs[Long]("m_bits"))
    byM.foreach { r =>
      assert(r.getAs[Long]("n_members") + r.getAs[Long]("n_nonmembers")
        == nCust, s"probe accounting != |customer|: $r")
      assert(r.getAs[Long]("n_fp") <= r.getAs[Long]("n_nonmembers"))
    }
    val fpps = byM.map(r => Option(r.getAs[java.lang.Double]("fpp"))
      .map(_.toDouble).getOrElse(0.0))
    assert(fpps(0) >= fpps(1) && fpps(1) >= fpps(2),
      s"fpp must not increase with filter size: ${fpps.toSeq}")
  }

  test("quantile_histogram: exact selection rule on planted multisets") {
    def liOf(prices: Seq[Double]): String = fixtureDir("lineitem" ->
      spark.createDataset(prices.zipWithIndex.map { case (p, i) =>
        LineRow(i.toLong, 1.0, p, 0.0, 0.0, "N", "O") }).toDF)
    // 1..100 dollars, one row each: p-q is exactly the q-th value
    val r1 = Relational.aggQuantileHistogram(spark,
      liOf((1 to 100).map(_.toDouble)))
      .collect().map(r => r.getAs[String]("q") -> r).toMap
    assert(r1("p25").getAs[Double]("value") == 25.0)
    assert(r1("p50").getAs[Double]("value") == 50.0)
    assert(r1("p99").getAs[Double]("value") == 99.0)
    assert(r1("p50").getAs[Long]("target_rank") == 50)
    // duplicate-heavy: 10 x 5.00 + 1 x 9.00 -> p50 hits the mass point,
    // p99 needs rank ceil(10.89) = 11 -> the tail value
    val r2 = Relational.aggQuantileHistogram(spark,
      liOf(Seq.fill(10)(5.0) :+ 9.0))
      .collect().map(r => r.getAs[String]("q") -> r).toMap
    assert(r2("p50").getAs[Double]("value") == 5.0)
    assert(r2("p99").getAs[Double]("value") == 9.0)
    assert(r2("p99").getAs[Long]("target_rank") == 11)
  }

  test("interval_union: overlap merges, midnight splits, concurrency exact") {
    val ev = Seq(
      // two overlapping 5-min intervals: [0,300) u [120,420) = 420 s
      EventRow(1L, ts("2024-03-01 12:00:00"), 1L, "view", 1.0, "{}"),
      EventRow(2L, ts("2024-03-01 12:02:00"), 2L, "view", 1.0, "{}"),
      // crosses midnight: 120 s on day 1, 180 s on day 2
      EventRow(3L, ts("2024-03-01 23:58:00"), 3L, "view", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(ev).toDF)
    val rows = Relational.aggIntervalUnion(spark, dir).collect()
      .map(r => r.getAs[String]("d") -> r).toMap
    val d1 = rows("2024-03-01")
    assert(d1.getAs[Long]("n_intervals") == 3)
    assert(d1.getAs[Long]("busy_us") == 720000000L)    // 300+300+120 s
    assert(d1.getAs[Long]("covered_us") == 540000000L) // 420+120 s
    val d2 = rows("2024-03-02")
    assert(d2.getAs[Long]("busy_us") == 180000000L)
    assert(d2.getAs[Long]("covered_us") == 180000000L)
    assert(d2.getAs[Double]("avg_concurrency") == 1.0)
  }
}
