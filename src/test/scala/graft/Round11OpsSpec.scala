package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{PipelineOps, Relational, Text}

/** Targeted edge/property tests for the round-11 operators — the
  * invariants the fixture-scale DuckDB gate never exercises. */
class Round11OpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  /** lineitem fixture: (orderkey, quantity, extendedprice, discount). */
  private def li(rows: Seq[(Long, Double, Double, Double)]): String = {
    val ds = rows.map { case (k, q, p, d) =>
      LineRow(k, q, p, d, 0.0, "N", "O") }
    fixtureDir("lineitem" -> spark.createDataset(ds).toDF)
  }

  // ---- agg_spearman: rank-correlation invariants -----------------------

  test("spearman: a strictly monotone map gives rho=1, antitone gives -1") {
    val mono = (1L to 40L).map(k => (k, k.toDouble, 100.0, k.toDouble / 100.0))
    val rm = Relational.aggSpearman(spark, li(mono)).collect()(0)
    assert(math.abs(rm.getAs[Double]("rho_spearman") - 1.0) < 1e-9,
      s"monotone must give rho=1: $rm")
    assert(rm.getAs[Long]("n") == 40L)
    val anti = (1L to 40L).map(k =>
      (k, k.toDouble, 100.0, (41 - k).toDouble / 100.0))
    val ra = Relational.aggSpearman(spark, li(anti)).collect()(0)
    assert(math.abs(ra.getAs[Double]("rho_spearman") + 1.0) < 1e-9,
      s"antitone must give rho=-1: $ra")
  }

  test("spearman: heavy ties still land in [-1,1]; balanced 2x2 gives 0") {
    val bal = (0 until 40).map(i =>
      ((i + 1).toLong, (i % 2).toDouble, 100.0, (i / 2 % 2).toDouble / 100.0))
    val r = Relational.aggSpearman(spark, li(bal)).collect()(0)
    assert(math.abs(r.getAs[Double]("rho_spearman")) < 1e-9,
      s"balanced 2x2 must give rho=0: $r")
  }

  // ---- agg_anova_f: planted group structure ----------------------------

  private def ordersOf(rows: Seq[(Long, String, Double)]): String = {
    val ts0 = ts("2024-08-01 00:00:00")
    fixtureDir("orders" -> spark.createDataset(rows.map { case (k, pr, v) =>
      OrderRow(k, k % 7, "O", v, ts0, pr) }).toDF)
  }

  test("anova: identical group means give F~0; separation gives big F") {
    val flat = (1 to 60).map(i =>
      (i.toLong, s"${i % 3}-G", 100.0 + (i % 2) * 10))
    val rf = Relational.aggAnovaF(spark, ordersOf(flat)).collect()(0)
    assert(math.abs(rf.getAs[Double]("eta_sq")) < 1e-6,
      s"equal means must give eta~0: $rf")
    val sep = (1 to 60).map { i =>
      val g = i % 3
      (i.toLong, s"$g-G", 100.0 * (g + 1) + (i % 2)) }
    val rs = Relational.aggAnovaF(spark, ordersOf(sep)).collect()(0)
    assert(rs.getAs[Double]("f_stat") > 1000.0,
      s"separated means must give large F: $rs")
    assert(rs.getAs[Double]("eta_sq") > 0.99 &&
      rs.getAs[Double]("eta_sq") <= 1.0, s"eta in (0.99,1]: $rs")
    assert(rs.getAs[Long]("k") == 3L && rs.getAs[Long]("n") == 60L)
    // additivity: ssb + ssw = sst reported in the same millions unit
    val tot = rs.getAs[Double]("ssb_millions") + rs.getAs[Double]("ssw_millions")
    assert(tot > 0, s"SS must be positive: $rs")
  }

  // ---- agg_kendall_tau: concordance invariants -------------------------

  test("kendall: perfectly concordant orders give tau=1, discordant -1") {
    // one line per order: order k has quantity k, price 10k -> concordant
    val conc = (1L to 50L).map(k => (k, k.toDouble, 10.0 * k, 0.0))
    val rc = Relational.aggKendallTau(spark, li(conc)).collect()(0)
    assert(rc.getAs[Long]("n_pairs") == 50L * 49 / 2)
    assert(rc.getAs[Long]("nd") == 0L)
    assert(math.abs(rc.getAs[Double]("tau_b") - 1.0) < 1e-9, s"$rc")
    val disc = (1L to 50L).map(k => (k, k.toDouble, 10.0 * (51 - k), 0.0))
    val rd = Relational.aggKendallTau(spark, li(disc)).collect()(0)
    assert(math.abs(rd.getAs[Double]("tau_b") + 1.0) < 1e-9, s"$rd")
  }

  // ---- rolling-band family over daily revenue --------------------------

  /** one order per day, value v(i) on day 2024-08-01 + i. */
  private def dailyOrders(vals: Seq[Double]): String = {
    val d0 = java.time.LocalDate.of(2024, 8, 1)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      OrderRow(i.toLong + 1, 1L, "O", v,
        Timestamp.valueOf(d0.plusDays(i.toLong).atStartOfDay()), "1-URGENT") }
    fixtureDir("orders" -> spark.createDataset(rows).toDF)
  }

  test("bollinger: constant revenue gives zero sd and no breaches") {
    val r = Relational.windowBollinger(spark, dailyOrders(Seq.fill(14)(100.0)))
      .collect()
    assert(r.length == 14)
    assert(r.drop(1).forall(_.getAs[Double]("sd_7") == 0.0), "sd must be 0")
    assert(r.forall(!_.getAs[Boolean]("is_breach")), "no breaches on flat")
    assert(r.head.isNullAt(r.head.fieldIndex("sd_7")),
      "day 1 has no sample sd")
  }

  test("bollinger: a large spike breaches the upper band") {
    val vals = Seq.fill(10)(100.0) ++ Seq(100.0, 500.0) ++ Seq.fill(4)(100.0)
    val r = Relational.windowBollinger(spark, dailyOrders(vals)).collect()
    val spike = r.find(_.getAs[Double]("rev") == 500.0).get
    assert(spike.getAs[Boolean]("is_breach"), s"spike must breach: $spike")
  }

  test("rsi: monotone-up revenue gives RSI=100, monotone-down gives 0") {
    val up = (1 to 20).map(i => 100.0 + 10 * i)
    val ru = Relational.windowRsi(spark, dailyOrders(up)).collect()
    val lastU = ru.last
    assert(lastU.getAs[Double]("rsi_14") == 100.0, s"up: $lastU")
    assert(ru.take(14).forall(_.isNullAt(ru.head.fieldIndex("rsi_14"))),
      "first 14 days have <14 deltas")
    val down = (1 to 20).map(i => 1000.0 - 10 * i)
    val rd = Relational.windowRsi(spark, dailyOrders(down)).collect()
    assert(rd.last.getAs[Double]("rsi_14") == 0.0, s"down: ${rd.last}")
  }

  test("rolling skew: symmetric window ~0, spike-heavy window positive") {
    // 30-day window alternating ±10 around 100: symmetric -> skew ~ 0
    val sym = (0 until 30).map(i => if (i % 2 == 0) 90.0 else 110.0)
    val rs = Relational.windowRollingSkew(spark, dailyOrders(sym)).collect()
    val full = rs.last
    assert(full.getAs[Long]("n30") == 30L)
    assert(math.abs(full.getAs[Double]("skew_30")) < 1e-6, s"$full")
    // one huge spike in an otherwise flat window -> strongly positive
    val spiky = Seq.fill(29)(100.0) :+ 1000.0
    val rp = Relational.windowRollingSkew(spark, dailyOrders(spiky)).collect()
    assert(rp.last.getAs[Double]("skew_30") > 3.0, s"${rp.last}")
  }

  private def doc(id: Long, text: String, source: String = "web") =
    DocRow(id, text, "en", source, text.length.toLong)

  // ---- text LM/collocation additions ------------------------------------

  test("kneser-ney: probabilities sum to 1 per context on a full cover") {
    // "x y y x x y": bigrams xy:2 yy:1 yx:1 xx:1 -> all 4 types observed,
    // so sum_b p_kn(b|w1) = 1 exactly for both contexts (KN theorem).
    val dir = fixtureDir("documents" -> spark.createDataset(Seq(
      doc(1, "x y y x x y"))).toDF)
    val out = Text.kneserNey(spark, dir).collect()
    assert(out.length == 4)
    val byA = out.groupBy(_.getAs[String]("a"))
    byA.foreach { case (a, rows) =>
      val s = rows.map(_.getAs[Double]("p_kn")).sum
      assert(math.abs(s - 1.0) < 1e-5, s"sum_b p_kn(b|$a) must be 1, got $s")
    }
    // hand values: p_kn(y|x) = (2-.75 + .75*2*.5)/3 = 2/3
    val pyx = out.find(r => r.getAs[String]("a") == "x" &&
      r.getAs[String]("b") == "y").get.getAs[Double]("p_kn")
    assert(math.abs(pyx - 2.0 / 3.0) < 1e-5, s"p_kn(y|x)=$pyx")
  }

  test("collocation llr: a planted pair dominates; scores are ~nonnegative") {
    val noise = (0 until 40).map(i => s"w${i % 7} w${(i * 3) % 11}").mkString(" ")
    val planted = Seq.fill(12)("strong collocation").mkString(" ")
    val dir = fixtureDir("documents" -> spark.createDataset(Seq(
      doc(1, s"$noise $planted"), doc(2, s"$planted $noise"))).toDF)
    val out = Text.collocationLlr(spark, dir).collect()
    assert(out.nonEmpty)
    val top = out.head
    assert(top.getAs[String]("a") == "strong" &&
      top.getAs[String]("b") == "collocation",
      s"planted collocation must rank first: $top")
    out.foreach(r => assert(r.getAs[Double]("llr") > -1e-6,
      s"G2 must be nonnegative: $r"))
  }

  // ---- events spectral/lead-lag -----------------------------------------

  /** events fixture: one row per (hour offset, copy) with the given type. */
  private def hourlyEvents(counts: Seq[Int], eventType: String = "click",
      dayStride: Boolean = false): Seq[EventRow] = {
    val t0 = ts("2024-06-03 00:00:00").getTime
    var id = 0L
    counts.zipWithIndex.flatMap { case (n, i) =>
      val at = new Timestamp(t0 +
        (if (dayStride) i.toLong * 86400000L else i.toLong * 3600000L))
      (0 until n).map { _ =>
        id += 1; EventRow(id, at, id % 50, eventType, 1.0, "{}") }
    }
  }

  test("periodogram: a planted diurnal cycle loads on 24h, not 168h") {
    // 336 hours (exactly 2 weeks): count = 10 + 6*cos(2*pi*h/24) rounded.
    val counts = (0 until 336).map(h =>
      10 + math.round(6.0 * math.cos(2 * math.Pi * h / 24)).toInt)
    val dir = fixtureDir("events" ->
      spark.createDataset(hourlyEvents(counts)).toDF)
    val out = Relational.eventsPeriodogram(spark, dir).collect()
      .map(r => r.getAs[Long]("period_hours") -> r).toMap
    val v24 = out(24L).getAs[Double]("var_share")
    val v168 = out(168L).getAs[Double]("var_share")
    assert(v24 > 0.9, s"diurnal share must dominate: $v24")
    assert(v168 < 0.05, s"weekly share must be ~0: $v168")
    assert(math.abs(out(24L).getAs[Double]("amplitude") - 6.0) < 0.5,
      s"amplitude ~6: ${out(24L)}")
  }

  test("periodogram: a flat series has ~zero amplitude everywhere") {
    val dir = fixtureDir("events" ->
      spark.createDataset(hourlyEvents(Seq.fill(200)(7))).toDF)
    val out = Relational.eventsPeriodogram(spark, dir).collect()
    out.foreach { r =>
      assert(r.getAs[Double]("amplitude") < 1e-6, s"flat must be silent: $r")
    }
  }

  test("granger: y_t = x_{t-1} + noise is detected in one direction only") {
    def x(i: Int): Int = 5 + (math.abs(i * 2654435761L) % 17L).toInt
    val days = 0 until 60
    val clicks = hourlyEvents(days.map(x), "click", dayStride = true)
    val purch = hourlyEvents(
      days.map(i => if (i == 0) 5 else x(i - 1) + i % 2), "purchase",
      dayStride = true)
    val dir = fixtureDir("events" ->
      spark.createDataset(clicks ++ purch).toDF)
    val out = Relational.eventsGranger(spark, dir).collect()
      .map(r => r.getAs[String]("direction") -> r).toMap
    val fwd = out("click->purchase").getAs[Double]("f_stat")
    val rev = out("purchase->click").getAs[Double]("f_stat")
    assert(fwd > 20.0, s"forward F must be large: $fwd")
    assert(rev < fwd / 4.0, s"reverse F must be much smaller: $rev vs $fwd")
    assert(out("click->purchase").getAs[Long]("n_days") == 59L)
  }

  // ---- pipe_bitmap_index: hand-counted set algebra -----------------------

  test("bitmap index: popcounts match hand-counted membership sets") {
    val ts0 = ts("2024-08-01 00:00:00")
    def ord(id: Long, cust: Long, status: String, prio: String) =
      OrderRow(id, cust, status, 100.0, ts0, prio)
    // urgent: custs {1,2,3,100} (cust 1 twice -> idempotent);
    // F-status: custs {3,4,100} -> and={3,100}, or={1,2,3,4,100}
    val rows = Seq(
      ord(1, 1, "O", "1-URGENT"), ord(2, 1, "O", "1-URGENT"),
      ord(3, 2, "O", "1-URGENT"), ord(4, 3, "O", "1-URGENT"),
      ord(5, 100, "O", "1-URGENT"),
      ord(6, 3, "F", "5-LOW"), ord(7, 4, "F", "5-LOW"),
      ord(8, 100, "F", "5-LOW"), ord(9, 7, "P", "5-LOW"))
    val dir = fixtureDir("orders" -> spark.createDataset(rows).toDF)
    val r = PipelineOps.bitmapIndex(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_a") == 4L, s"$r")
    assert(r.getAs[Long]("n_b") == 3L, s"$r")
    assert(r.getAs[Long]("n_and") == 2L, s"$r")
    assert(r.getAs[Long]("n_or") == 5L, s"$r")
    assert(r.getAs[Long]("n_buckets") == 2L, s"custs 1-4 and 100: $r")
    assert(r.getAs[Double]("jaccard") == 0.4, s"$r")
  }

  // ---- simsearch_mmr: diversity beats raw relevance ----------------------

  test("mmr: interleaves clusters instead of exhausting the nearest one") {
    // probe [1,0,0,0]; three 2-vector clusters, all equal relevance
    // (0.7071) but mutually half-similar. Greedy MMR must pick one per
    // cluster first (ids 2,4,6), then the duplicates in id order.
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val rows = Seq(
      EmbRow(1, v(1, 0, 0, 0), 0),
      EmbRow(2, v(0.7, 0.7, 0, 0), 0), EmbRow(3, v(0.7, 0.7, 0, 0), 0),
      EmbRow(4, v(0.7, 0, 0.7, 0), 0), EmbRow(5, v(0.7, 0, 0.7, 0), 0),
      EmbRow(6, v(0.7, 0, 0, 0.7), 0), EmbRow(7, v(0.7, 0, 0, 0.7), 0))
    val dir = fixtureDir("embeddings" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Vector.simsearchMmr(spark, dir).collect()
    assert(out.length == 6, s"pool of 6 candidates caps the picks: ${out.length}")
    val order = out.map(_.getAs[Long]("vec_id")).toSeq
    assert(order == Seq(2L, 4L, 6L, 3L, 5L, 7L),
      s"diversified order expected, got $order")
    assert(out(0).getAs[Double]("max_sim") == 0.0)
    assert(out(3).getAs[Double]("max_sim") == 1.0,
      "a duplicate's max-sim to its picked twin is 1")
  }

  test("hamming sketch: sign-clean geometry gives recall 1 and exact counts") {
    // probe 1 = all-positive; vector k+1 flips the first k signs, so
    // hamming(1, k+1) = k and cosine order matches hamming order exactly.
    def flipped(k: Int): Array[Float] =
      (0 until 64).map(i => if (i < k) -1.0f else 1.0f).toArray
    val rows = (0 to 6).map(k => EmbRow(k + 1L, flipped(k), 0))
    val dir = fixtureDir("embeddings" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Vector.simsearchHamming(spark, dir).collect()
      .map(r => r.getAs[Long]("probe_id") -> r).toMap
    val p1 = out(1L)
    assert(p1.getAs[Double]("recall_at_5") == 1.0,
      s"clean geometry must give full recall: $p1")
    assert(p1.getAs[Double]("mean_hamming") == 3.0,
      s"(1+2+3+4+5)/5 = 3: $p1")
  }

  // ---- dec2d: the deterministic decimal->double bridge -------------------

  test("dec2d reproduces the correctly-rounded double far beyond 2^53") {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.types.DecimalType
    val vals = Seq("12345678901234567890123", "-98765432109876543210",
      "9007199254740993" /* 2^53+1 */, "42", "0",
      "99999999999999999999999999999999999999" /* 10^38-1 */)
    val df = vals.toDF("s")
      .select(col("s").cast(DecimalType(38, 0)).as("x"))
      .select(graft.ops.Util.dec2d(col("x"), 0).as("d"),
        col("x").cast("double").as("direct"))
    df.collect().zip(vals).foreach { case (r, v) =>
      val viaLimbs = r.getDouble(0)
      val direct = r.getDouble(1)
      // the guarantee is ENGINE PARITY (identical IEEE chain both
      // engines — the oracle gate proves that); accuracy-wise the
      // Horner chain stays within an ulp of the correctly-rounded cast
      // and is exact below 2^53
      if (math.abs(new java.math.BigDecimal(v).doubleValue) < 9e15)
        assert(viaLimbs == direct, s"exact below 2^53: $v -> $viaLimbs")
      else {
        val rel = math.abs(viaLimbs / direct - 1.0)
        assert(rel < 1e-15, s"dec2d($v) = $viaLimbs vs $direct (rel $rel)")
      }
    }
  }

  // ---- batch 8: effect size, retention decay, Heaps' law -----------------

  test("cramers v: perfect association gives 1, independence gives ~0") {
    def cust(id: Long, seg: String, nat: Int) =
      CustRow(id, s"c$id", nat, 100.0, seg)
    // diagonal: segment determines nation exactly -> V = 1
    val diag = (1 to 60).map(i =>
      cust(i.toLong, s"S${i % 3}", i % 3))
    val d1 = fixtureDir("customer" -> spark.createDataset(diag).toDF)
    val r1 = Relational.aggCramersV(spark, d1).collect()(0)
    assert(math.abs(r1.getAs[Double]("cramers_v") - 1.0) < 1e-9, s"$r1")
    // balanced independence -> V ~ 0, corrected clamps to exactly 0
    val ind = (0 until 64).map(i =>
      cust(i.toLong + 1, s"S${i % 2}", (i / 2) % 2))
    val d2 = fixtureDir("customer" -> spark.createDataset(ind).toDF)
    val r2 = Relational.aggCramersV(spark, d2).collect()(0)
    assert(r2.getAs[Double]("cramers_v") < 1e-6, s"$r2")
    assert(r2.getAs[Double]("cramers_v_corrected") == 0.0, s"$r2")
  }

  test("retention fit: planted halving recovers decay ln(1/2), r2=1") {
    // users 1..8: user i is active on days 0..ceil(log2 tier): counts
    // 8,4,2,1 at offsets 0..3 -> r_k = 2^-k exactly
    val d0 = java.time.LocalDate.of(2024, 6, 3)
    def at(day: Int) = Timestamp.valueOf(d0.plusDays(day.toLong).atStartOfDay())
    var id = 0L
    val rows = (1 to 8).flatMap { u =>
      val lastDay = u match {
        case 1 => 3 case 2 => 2 case 3 | 4 => 1 case _ => 0 }
      (0 to lastDay).map { k =>
        id += 1; EventRow(id, at(k), u.toLong, "view", 1.0, "{}") }
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val r = Relational.eventsRetentionFit(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_day0_users") == 8L)
    assert(math.abs(r.getAs[Double]("daily_decay") + 0.693147) < 1e-4,
      s"decay must be ln(1/2): $r")
    assert(math.abs(r.getAs[Double]("half_life_days") - 1.0) < 1e-3, s"$r")
    assert(r.getAs[Double]("r2") > 0.999999, s"$r")
  }

  test("heaps law: all-unique tokens give beta=1; fixed vocab gives beta~0") {
    def docOf(id: Long, toks: Seq[String]) = doc(id, toks.mkString(" "))
    val uniq = (1L to 32L).map(i =>
      docOf(i, (0 until 10).map(j => s"tok_${i}_$j")))
    val d1 = fixtureDir("documents" -> spark.createDataset(uniq).toDF)
    val r1 = Text.heapsLaw(spark, d1).collect()(0)
    assert(math.abs(r1.getAs[Double]("beta") - 1.0) < 1e-6,
      s"unique vocab must grow linearly: $r1")
    assert(r1.getAs[Double]("r2") > 0.999999, s"$r1")
    val fixed = (1L to 32L).map(i =>
      docOf(i, (0 until 10).map(j => s"tok_$j")))
    val d2 = fixtureDir("documents" -> spark.createDataset(fixed).toDF)
    val r2 = Text.heapsLaw(spark, d2).collect()(0)
    assert(r2.getAs[Long]("n_vocab") == 10L)
    assert(math.abs(r2.getAs[Double]("beta")) < 0.02,
      s"fixed vocab must be flat: $r2")
  }

  test("crossmodal recall: well-formed ranks over the id-aligned towers") {
    val docs = (1L to 30L).map(i => doc(i, s"document number $i body text"))
    val vecs = (1L to 20L).map(i =>
      EmbRow(i, (0 until 64).map(j =>
        math.sin(i * 31.0 + j).toFloat).toArray, 0))
    val dir = fixtureDir(
      "documents" -> spark.createDataset(docs).toDF,
      "embeddings" -> spark.createDataset(vecs).toDF)
    val out = graft.ops.Vector.multimodalCrossmodalRecall(spark, dir)
      .collect()
    assert(out.length == 10, s"10 probes expected: ${out.length}")
    out.foreach { r =>
      val rk = r.getAs[Long]("self_rank")
      assert(rk >= 1 && rk <= r.getAs[Long]("n_candidates"), s"$r")
      assert(r.getAs[Boolean]("hit_at_5") == (rk <= 5), s"$r")
      val c = r.getAs[Double]("cos_self")
      assert(c >= -1.0001 && c <= 1.0001, s"$r")
      assert(r.getAs[Long]("n_candidates") == 30L, s"$r")
    }
  }

  test("sprt: planted uplift accepts H1, planted null drifts to H0") {
    val d0 = java.time.LocalDate.of(2024, 6, 3)
    var id = 0L
    def build(treatConv: Int): String = {
      id = 0L
      val rows = (0 until 30).flatMap { day =>
        val at = Timestamp.valueOf(d0.plusDays(day.toLong).atStartOfDay())
        (1 to 200).flatMap { u =>
          val conv = if (u % 2 == 0) u <= 2 * treatConv else u <= 2 * 10
          val base = { id += 1
            EventRow(id, at, u.toLong, "view", 1.0, "{}") } :: Nil
          if (conv) base :+ { id += 1
            EventRow(id, at, u.toLong, "purchase", 1.0, "{}") }
          else base
        }
      }
      fixtureDir("events" -> spark.createDataset(rows).toDF)
    }
    // control p0 = 10/100; treatment 12/100 = exactly the 1.2 lift
    val up = Relational.eventsSprtSequential(spark, build(12)).collect()(0)
    assert(up.getAs[String]("decision") == "accept_h1", s"$up")
    assert(up.getAs[String]("crossing_day") != null, s"$up")
    assert(math.abs(up.getAs[Double]("p0_rate") - 0.1) < 1e-9, s"$up")
    // null effect: treatment at the control rate drifts DOWN
    val flat = Relational.eventsSprtSequential(spark, build(10)).collect()(0)
    assert(flat.getAs[String]("decision") == "accept_h0", s"$flat")
  }

  test("kendall: ties in x are counted and shrink |tau_b|") {
    // all quantities equal -> every pair is an x-tie, tau_b undefined (null)
    val allTie = (1L to 30L).map(k => (k, 5.0, 10.0 * k, 0.0))
    val r = Relational.aggKendallTau(spark, li(allTie)).collect()(0)
    assert(r.getAs[Long]("tie_x") == 30L * 29 / 2)
    assert(r.isNullAt(r.fieldIndex("tau_b")),
      s"all-tied x must yield null tau_b: $r")
  }
}
