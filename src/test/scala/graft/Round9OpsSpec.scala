package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.prop.TableDrivenPropertyChecks
import graft.ops.{CorpusScope, Relational, Text}

/** Targeted edge/property tests for the round-9 operators — the cases
  * the fixture-scale DuckDB gate never exercises. */
class Round9OpsSpec extends AnyFunSuite with SparkFixture
    with TableDrivenPropertyChecks {
  import spark.implicits._

  private def doc(id: Long, text: String, lang: String = "en",
      source: String = "src0") =
    DocRow(id, text, lang, source, text.length.toLong)

  // ---- events_cusum_shift: the window spelling IS the CUSUM recursion ----

  test("cusum: prefix-sum-minus-running-min equals the sequential fold") {
    // s_i = max(0, s_{i-1} + z_i)  ≡  S_i − min(0, min_{j≤i} S_j).
    // Property-check the identity on seeded random series with EXACT
    // decimal arithmetic — this is the algebraic fact the declared
    // query's shuffle-free window spelling rests on.
    val rnd = new scala.util.Random(42)
    (1 to 500).foreach { _ =>
      val n = 1 + rnd.nextInt(40)
      val z = Seq.fill(n)(BigDecimal(rnd.nextInt(2001) - 1000, 3)) // ±1.000
      val seq = z.scanLeft(BigDecimal(0)) { (s, x) => (s + x).max(0) }.tail
      val prefix = z.scanLeft(BigDecimal(0))(_ + _).tail
      val win = prefix.zipWithIndex.map { case (s, i) =>
        s - (BigDecimal(0) +: prefix.take(i + 1)).min
      }
      assert(seq == win, s"identity failed for z=$z")
    }
  }

  test("cusum: sigma=0 type excluded; a volume burst trips the alarm") {
    val base = ts("2024-01-01 00:00:00").getTime
    def evs(day: Int, typ: String, k: Int, idBase: Long): Seq[EventRow] =
      (0 until k).map(j => EventRow(idBase + day * 100 + j,
        new Timestamp(base + day * 86400000L), 1L, typ, 1.0, "{}"))
    // 'flat' fires exactly once per day (sigma = 0 → excluded);
    // 'burst' holds a 9/11-alternating baseline for 20 days, then jumps
    // to 30/day for 5 — z_burst ≈ +1.49, so the CUSUM crosses h = 4 on
    // the third burst day while the baseline stays pinned at 0.
    val rows = (0 until 25).map(d => evs(d, "flat", 1, 0L).head) ++
      (0 until 20).flatMap(d => evs(d, "burst", if (d % 2 == 0) 9 else 11, 10000L)) ++
      (20 until 25).flatMap(d => evs(d, "burst", 30, 10000L))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.eventsCusumShift(spark, dir).collect()
    assert(!out.exists(_.getAs[String]("event_type") == "flat"),
      "sigma=0 type must be excluded by the HAVING guard")
    val burst = out.find(_.getAs[String]("event_type") == "burst").get
    assert(burst.getAs[Long]("n_days") == 25)
    assert(burst.getAs[Long]("n_alarm_days") >= 1,
      "the burst must trip the CUSUM alarm")
    assert(burst.getAs[String]("first_alarm_day") >= "2024-01-21",
      "alarm cannot precede the burst")
  }

  // ---- text_gopher_rules: each rule fails in isolation ----

  test("gopher rules: each rule trips independently") {
    val stopRich = "join filter sort merge window join filter sort merge " +
      "window spark table query value data line scan part group hash"  // 20 toks
    val dir = fixtureDir("documents" -> spark.createDataset(Seq(
      doc(1, stopRich),                                   // passes all
      doc(2, "join filter"),                              // too short (f_len)
      doc(3, Seq.fill(20)("a").mkString(" ")),            // mean wl 1 (f_wordlen) + rep + stop
      doc(4, (1 to 20).map(i => s"token$i").mkString(" ")), // no stopwords (f_stop)
      doc(5, ("join filter sort merge window " +
        Seq.fill(15)("spark").mkString(" ")))             // top share 15/20 (f_rep)
    )).toDF)
    val r = Text.queries("text_gopher_rules")(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[Long]("n_docs") == 5)
    assert(row.getAs[Long]("n_fail_len") == 1)
    assert(row.getAs[Long]("n_fail_wordlen") >= 1)
    assert(row.getAs[Long]("n_fail_stop") >= 2)   // docs 3 and 4
    assert(row.getAs[Long]("n_fail_rep") >= 2)    // docs 3 and 5
    assert(row.getAs[Long]("n_pass") == 1)
    assert(row.getAs[Long]("first_fail") == 2)
  }

  // ---- dedup_url_canonical: every variant collapses ----

  test("url canonicalization collapses scheme/www/case/tracking/slash variants") {
    // doc_ids chosen so all map to host site0 (%25=0), path 0 (%400=0),
    // no surviving query (%4 in {0,3}): 0, 1200, 2000 — wait %4 of 2000=0 ✓
    // Simpler: drive the declared query on ids that provably collide.
    val ids = Seq(0L, 1200L, 2400L, 3600L) // all %25=0, %400=0, %3 varies, %4=0
    val dir = fixtureDir("documents" -> spark.createDataset(
      ids.map(i => doc(i, "spark table join"))).toDF)
    val out = Text.queries("dedup_url_canonical")(spark, dir).collect()
    assert(out.length == 1, s"expected one collapsed page, got ${out.toSeq}")
    assert(out.head.getAs[String]("canonical") == "site0.example.com/p/0")
    assert(out.head.getAs[Long]("n_variants") == 4)
    assert(out.head.getAs[Long]("min_doc") == 0L)
  }

  // ---- docs_temperature_sample: damping + budget discipline ----

  test("temperature sampling damps the head language and respects quotas") {
    // 80 en / 10 fr / 10 de: p_en = 0.8 → w_en = sqrt(.8)/Σ ≈ 0.586 < 0.8
    val rows = (1L to 80L).map(i => doc(i, "spark table join", "en")) ++
      (81L to 90L).map(i => doc(i, "spark table join", "fr")) ++
      (91L to 100L).map(i => doc(i, "spark table join", "de"))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Text.queries("docs_temperature_sample")(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    val en = out("en"); val fr = out("fr")
    assert(en.getAs[Double]("weight") < 0.8 - 1e-6, "head language not damped")
    assert(fr.getAs[Double]("weight") > 0.1 + 1e-6, "tail language not boosted")
    out.values.foreach { r =>
      assert(r.getAs[Long]("n_taken") ==
        math.min(r.getAs[Long]("quota"), r.getAs[Long]("n_docs")),
        s"taken != min(quota, n_docs) for ${r.getAs[String]("lang")}")
    }
    val totalTaken = out.values.map(_.getAs[Long]("n_taken")).sum
    assert(totalTaken <= 25, "sample exceeds the N/4 budget") // B = 100/4
  }

  // ---- round-9 batch: interarrival / survival / gini / percent-rank ----

  test("interarrival: constant cadence → burstiness -1; ts ties cannot change the stats") {
    val base = ts("2024-01-01 00:00:00").getTime
    // user 1: strict 60 s cadence → σ=0 → burstiness = (0−μ)/(0+μ) = −1
    val u1 = (0 until 5).map(i =>
      EventRow(i.toLong, new Timestamp(base + i * 60000L), 1L, "view", 1.0, "{}"))
    // user 2: exact-ts tie; the gap MULTISET is {0, 120 s} whichever of
    // the tied rows the window visits first
    val u2 = Seq(
      EventRow(10L, new Timestamp(base), 2L, "view", 1.0, "{}"),
      EventRow(11L, new Timestamp(base), 2L, "view", 1.0, "{}"),
      EventRow(12L, new Timestamp(base + 120000L), 2L, "view", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(u1 ++ u2).toDF)
    val out = Relational.eventsInterarrivalStats(spark, dir).collect()
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getLong(1) == 4 && r1.getDouble(2) == 6.0e7 &&
      r1.getDouble(4) == -1.0)
    val r2 = out.find(_.getLong(0) == 2L).get
    assert(r2.getLong(1) == 2 && r2.getLong(3) == 120000000L &&
      r2.getDouble(2) == 6.0e7)
  }

  test("survival: S(min lifetime) = 1 and the curve is non-increasing") {
    val base = ts("2024-01-01 00:00:00").getTime
    def pair(uid: Long, days: Int): Seq[EventRow] = Seq(
      EventRow(uid * 10, new Timestamp(base), uid, "view", 1.0, "{}"),
      EventRow(uid * 10 + 1, new Timestamp(base + days * 86400000L), uid,
        "view", 1.0, "{}"))
    // lifetimes: 0, 2, 2, 5 days
    val dir = fixtureDir("events" -> spark.createDataset(
      pair(1, 0) ++ pair(2, 2) ++ pair(3, 2) ++ pair(4, 5)).toDF)
    val rows = Relational.eventsSurvivalCurve(spark, dir).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 2L, 5L))
    assert(rows.head.getDouble(3) == 1.0, "S at the minimum lifetime must be 1")
    val surv = rows.map(_.getDouble(3))
    assert(surv.zip(surv.tail).forall { case (a, b) => a >= b }, "S not monotone")
    assert(rows(1).getLong(2) == 3, "n_alive at 2d should be 3 (u2,u3,u4)")
  }

  test("gini: equal spend → 0; top10_share is the top-decile fraction") {
    val base = ts("2024-01-01 00:00:00").getTime
    val evs = (1L to 10L).map(u =>
      EventRow(u, new Timestamp(base + u * 1000L), u, "purchase", 10.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val r = Relational.eventsGiniPareto(spark, dir).collect().head
    assert(r.getLong(0) == 10 && r.getDouble(1) == 100.0)
    // G = 2·Σ i·x / (n·Σx) − (n+1)/n = 2·550/1000 − 1.1 = 0
    assert(r.getDouble(2) == 0.0, s"gini of equal spend must be 0, got $r")
    assert(r.getDouble(3) == 0.1, "top decile of 10 equal users is 1 user = 10%")
  }

  test("percent_rank CDF: tie collapse, endpoints, single-row partition → 0") {
    val li = Seq(
      LineRow(1, 1.0, 10.0, 0.0, 0.0, "A", "O"),
      LineRow(2, 1.0, 10.0, 0.0, 0.0, "A", "O"),
      LineRow(3, 2.0, 10.0, 0.0, 0.0, "A", "O"),
      LineRow(4, 7.0, 10.0, 0.0, 0.0, "B", "O")) // single-row partition
    val dir = fixtureDir("lineitem" -> spark.createDataset(li).toDF)
    val out = Relational.windowPercentRank(spark, dir).collect()
    val a1 = out.find(r => r.getString(0) == "A" && r.getDouble(1) == 1.0).get
    val a2 = out.find(r => r.getString(0) == "A" && r.getDouble(1) == 2.0).get
    val b = out.find(r => r.getString(0) == "B").get
    assert(a1.getLong(3) == 1 && a1.getDouble(4) == 0.0 &&
      math.abs(a1.getDouble(5) - 0.666667) < 1e-6)
    assert(a2.getLong(3) == 3 && a2.getDouble(4) == 1.0 && a2.getDouble(5) == 1.0)
    assert(b.getDouble(4) == 0.0 && b.getDouble(5) == 1.0)
  }

  // ---- round-9 batch: bigram LM / curriculum / whitening ----

  test("bigram LM: repeated transition scores higher than a one-off; short docs excluded") {
    // corpus: "a b" ×3, "a c" ×1, "z" (1 token → no bigrams)
    val rows = Seq(doc(1, "a b"), doc(2, "a b"), doc(3, "a b"),
      doc(4, "a c"), doc(5, "z"))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Text.bigramLmScore(spark, dir).collect()
    assert(!out.exists(_.getLong(0) == 5L), "a 1-token doc has no bigrams")
    val ab = out.find(_.getLong(0) == 1L).get
    val ac = out.find(_.getLong(0) == 4L).get
    // p(b|a) = (3+.5)/(4+.5·4) > p(c|a) = (1+.5)/(4+.5·4)
    assert(ab.getDouble(2) > ac.getDouble(2), s"frequent bigram must outscore rare: $ab vs $ac")
    assert(ab.getLong(1) == 1 && ab.getDouble(2) == ab.getDouble(3),
      "single-bigram doc: avg == rarest")
  }

  test("curriculum: stages partition by quartile, positions are a permutation per stage") {
    // scores 1..8 tokens → quartile boundaries 2.75 / 4.5 / 6.25
    val rows = (1L to 8L).map(i => doc(i, (1L to i).map(_ => "w").mkString(" ")))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = graft.ops.PipelineOps.pipeCurriculumOrder(spark, dir).collect()
    val byStage = out.groupBy(_.getLong(2))
    assert(byStage.keySet == Set(1L, 2L, 3L, 4L))
    assert(byStage(1L).map(_.getLong(0)).toSet == Set(1L, 2L), "stage 1 = scores ≤ 2.75")
    assert(byStage(4L).map(_.getLong(0)).toSet == Set(7L, 8L), "stage 4 = scores > 6.25")
    byStage.values.foreach { rs =>
      assert(rs.map(_.getLong(3)).sorted.toSeq == (1L to rs.length).toSeq,
        "positions within a stage must be 1..n")
    }
  }

  test("whitening: uniform-variance input keeps relative norms; z_max flags the outlier dim") {
    // 4 vectors over 2 dims; dim 2 has 10× the spread of dim 1
    val vecs = Seq(
      EmbRow(1, Array(0.1f, 1.0f), 0), EmbRow(2, Array(-0.1f, -1.0f), 0),
      EmbRow(3, Array(0.1f, -1.0f), 0), EmbRow(4, Array(-0.1f, 1.0f), 0))
    val dir = fixtureDir("embeddings" -> spark.createDataset(vecs).toDF)
    val out = graft.ops.Vector.embeddingWhiten(spark, dir).collect()
    assert(out.length == 4)
    // both dims are ±1 σ from a zero mean → every whitened vector has
    // l2 = sqrt(2) and z_max = 1 (up to the r6 term quantization)
    out.foreach { r =>
      assert(math.abs(r.getDouble(2) - math.sqrt(2.0)) < 1e-3,
        s"whitened l2 should be sqrt(2): $r")
      assert(math.abs(r.getDouble(3) - 1.0) < 1e-3, s"z_max should be 1: $r")
    }
    // unwhitened norms differ (dim2 dominates); whitened ones agree
    val before = out.map(_.getDouble(1)).distinct
    assert(before.forall(b => math.abs(b - math.sqrt(0.01 + 1.0)) < 1e-3))
  }

  // ---- round-9 batch: weighted median / interp gap fill / changepoint ----

  test("weighted median: weight skew moves the median; lower-median tie rule") {
    // qty 1 ×4 rows @1.0 weight, qty 9 ×1 row @100.0 weight:
    // count median = 1 (cc 4/5 ≥ 2.5 at qty 1), weighted = 9 (cw 4 < 52)
    val li = Seq(
      LineRow(1, 1.0, 1.0, 0.0, 0.0, "A", "O"),
      LineRow(2, 1.0, 1.0, 0.0, 0.0, "A", "O"),
      LineRow(3, 1.0, 1.0, 0.0, 0.0, "A", "O"),
      LineRow(4, 1.0, 1.0, 0.0, 0.0, "A", "O"),
      LineRow(5, 9.0, 100.0, 0.0, 0.0, "A", "O"))
    val dir = fixtureDir("lineitem" -> spark.createDataset(li).toDF)
    val r = Relational.aggWeightedMedian(spark, dir).collect().head
    assert(r.getDouble(1) == 9.0, s"weighted median should follow the weight: $r")
    assert(r.getDouble(2) == 1.0, s"count median should be the lower median: $r")
    assert(r.getLong(3) == 5 && r.getDouble(4) == 104.0)
  }

  test("interp gap fill: linear midpoints, edge ffill/bfill, exact fractions") {
    val base = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, day: Int, typ: String, v: Double) =
      EventRow(id, new Timestamp(base + day * 86400000L), 1L, typ, v, "{}")
    // type "a": day0=10, day3=40 → day1=20, day2=30 interpolated
    // type "b": day1=5, day3=7 → day0 bfill=5, day2 interp=6, day4... none
    val evs = Seq(ev(1, 0, "a", 10.0), ev(2, 3, "a", 40.0),
      ev(3, 1, "b", 5.0), ev(4, 3, "b", 7.0))
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val out = Relational.eventsResampleInterp(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1).substring(8, 10).toInt,
        r.getString(2), r.getDouble(3))).toSeq
    assert(out.contains(("a", 2, "interp", 20.0)) && out.contains(("a", 3, "interp", 30.0)),
      s"linear midpoints wrong: $out")
    assert(out.contains(("b", 1, "bfill", 5.0)), s"leading gap must bfill: $out")
    assert(out.contains(("b", 3, "interp", 6.0)), s"two-sided gap must interp: $out")
    assert(out.count(_._3 == "actual") == 4)
  }

  test("changepoint: a level shift is found at the true split with correct means") {
    val base = ts("2024-01-01 00:00:00").getTime
    // type "x": 5 days @2 events/day then 5 days @8 events/day →
    // best split after day index 5 (k=5), left mean 2, right mean 8
    val evs = (0 until 10).flatMap { day =>
      val n = if (day < 5) 2 else 8
      (0 until n).map(j => EventRow(day * 100L + j,
        new Timestamp(base + day * 86400000L + j * 1000L), 1L, "x", 1.0, "{}"))
    }
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val r = Relational.eventsChangepoint(spark, dir).collect().head
    assert(r.getLong(2) == 5, s"split index should be 5: $r")
    assert(r.getString(1) == "2024-01-05", s"split day = last left day: $r")
    assert(r.getDouble(3) == 2.0 && r.getDouble(4) == 8.0, s"segment means: $r")
    assert(r.getDouble(5) == 90.0, s"SSE reduction of a clean 2→8 shift is 90: $r")
  }

  // ---- round-9 batch: filtered ANN / degree stats / analyze ----

  test("filtered ANN: every neighbor carries the probe's label") {
    val rnd = new scala.util.Random(7)
    val vecs = (1L to 60L).map { i =>
      EmbRow(i, Array.fill(16)(rnd.nextFloat() * 2 - 1), (i % 3).toInt)
    }
    val dir = fixtureDir("embeddings" -> spark.createDataset(vecs).toDF)
    val out = graft.ops.Vector.simsearchFiltered(spark, dir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (v1, lbl, v2) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(lbl == v1 % 3, s"probe label mislabeled: $r")
      assert(v2 % 3 == lbl, s"neighbor $v2 breaks the label filter for probe $v1")
      assert(v1 != v2)
    }
    out.groupBy(_.getLong(0)).values.foreach(rs => assert(rs.length <= 3))
  }

  test("analyze stats: ndv, nulls, and native-type (not lexicographic) min/max") {
    val cust = Seq(
      CustRow(5, "a", 1, -12.5, "AUTO"), CustRow(10, "b", 1, 99.0, "AUTO"),
      CustRow(100, "c", 2, 0.0, "STEEL"))
    val ords = Seq(OrderRow(9, 5, "O", 100.0, ts("2024-01-01 00:00:00"), "1-URGENT"),
      OrderRow(11, 10, "F", 200.0, ts("2024-01-02 00:00:00"), "2-HIGH"))
    val li = Seq(LineRow(9, 1.0, 10.0, 0.0, 0.0, "A", "O"),
      LineRow(11, 50.0, 20.0, 0.0, 0.0, "R", "O"))
    val dir = fixtureDir("customer" -> spark.createDataset(cust).toDF,
      "orders" -> spark.createDataset(ords).toDF,
      "lineitem" -> spark.createDataset(li).toDF)
    val out = graft.ops.PipelineOps.pipeAnalyzeStats(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val ck = out(("customer", "c_custkey"))
    // numeric max is 100; the lexicographic max would be "5"
    assert(ck.getLong(2) == 3 && ck.getLong(4) == 3 &&
      ck.getString(5) == "5" && ck.getString(6) == "100", s"$ck")
    val seg = out(("customer", "c_mktsegment"))
    assert(seg.getLong(4) == 2 && seg.getLong(3) == 0)
    val qty = out(("lineitem", "l_quantity"))
    assert(qty.getString(5) == "1.0" && qty.getString(6) == "50.0")
  }

  // ---- round-9 batch: t-test / benford / coverage / length quantiles ----

  test("welch t-test: equal groups → t = 0; known unequal case matches closed form") {
    val base = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, typ: String, v: Double) =
      EventRow(id, new Timestamp(base + id * 1000L), 1L, typ, v, "{}")
    // purchase: {10, 20, 30}, click: {10, 20, 30} → identical → t = 0, diff 0
    val evs = Seq(ev(1, "purchase", 10), ev(2, "purchase", 20), ev(3, "purchase", 30),
      ev(4, "click", 10), ev(5, "click", 20), ev(6, "click", 30))
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val r = Relational.eventsAbTtest(spark, dir).collect().head
    assert(r.getLong(0) == 3 && r.getLong(1) == 3)
    assert(r.getDouble(4) == 0.0 && r.getDouble(5) == 0.0, s"identical groups: $r")
    // equal variances, equal n → Welch df = 2(n-1) = 4
    assert(r.getDouble(6) == 4.0, s"welch df of equal groups: $r")
  }

  test("benford: digits drawn exactly from Benford frequencies give tiny chi2") {
    // 9 rows with first digits 1..9 occurring n·log10(1+1/d)-proportional
    // counts (scaled ×1000, rounded): chi2 must be far below the 15.5
    // critical value; a uniform-digit profile must exceed it.
    def li(id: Long, price: Double) =
      LineRow(id, 1.0, price, 0.0, 0.0, "A", "O")
    var id = 0L
    val benford = (1 to 9).flatMap { d =>
      val n = math.round(1000 * math.log10(1.0 + 1.0 / d)).toInt
      (1 to n).map { _ => id += 1; li(id, d * 100.0 + (id % 7)) }
    }
    val dirB = fixtureDir("lineitem" -> spark.createDataset(benford).toDF)
    val chiB = Relational.aggBenfordProfile(spark, dirB).collect().head.getDouble(4)
    assert(chiB < 15.5, s"near-Benford data must pass the screen: chi2=$chiB")
    val uniform = (1 to 9).flatMap(d =>
      (1 to 100).map { _ => id += 1; li(id, d * 100.0) })
    val dirU = fixtureDir("lineitem" -> spark.createDataset(uniform).toDF)
    val chiU = Relational.aggBenfordProfile(spark, dirU).collect().head.getDouble(4)
    assert(chiU > 15.5, s"uniform digits must flag: chi2=$chiU")
  }

  test("vocab coverage: k beyond |vocab| reports full coverage with vocab_used = |vocab|") {
    val rows = Seq(doc(1, "a a a a b b c"), doc(2, "a b c d"))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Text.vocabCoverage(spark, dir).collect()
    // vocab = {a(5), b(3), c(2), d(1)}: every k ≥ 4 covers 11/11
    out.foreach { r =>
      assert(r.getLong(1) == 4 && r.getDouble(2) == 1.0,
        s"4-token vocab fully covered at every k: $r")
    }
  }

  test("length quantiles: lower-quantile rule on a known distribution") {
    // source s: lengths 1..10, one doc each → p50=5 (cum 5·2≥10),
    // p90=9, p99=10
    val rows = (1L to 10L).map(i =>
      doc(i, (1L to i).map(_ => "w").mkString(" ")))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val r = Text.lengthQuantiles(spark, dir).collect().head
    assert(r.getLong(1) == 5 && r.getLong(2) == 9 && r.getLong(3) == 10,
      s"p50/p90/p99 of 1..10: $r")
    assert(r.getLong(4) == 10)
  }

  test("chi2 independence: a product-form table is independent (chi2 = 0)") {
    // counts n(p,s) = f(p)·g(s) → expected == observed exactly
    val ords = for {
      (p, fp) <- Seq(("1-URGENT", 1), ("2-HIGH", 2))
      (s, gs) <- Seq(("O", 3), ("F", 4))
      i <- 1 to fp * gs
    } yield OrderRow((p + s + i).hashCode.toLong, 1, s, 10.0,
      ts("2024-01-01 00:00:00"), p)
    val dir = fixtureDir("orders" -> spark.createDataset(ords).toDF)
    val r = Relational.aggChi2Independence(spark, dir).collect().head
    assert(r.getLong(0) == 21 && r.getLong(3) == 1, s"margins: $r")
    assert(r.getDouble(4) == 0.0, s"product table must give chi2 = 0: $r")
  }

  test("wilson CI: brackets the rate, narrows with n, stays inside [0,1] at the edges") {
    val base = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, day: Int, typ: String) =
      EventRow(id, new Timestamp(base + day * 86400000L + id), 1L, typ, 1.0, "{}")
    // day0: 2/4 at n=4; day1: 50/100; day2: 0 purchases of 10 (edge)
    val evs = (1L to 2L).map(ev(_, 0, "purchase")) ++ (3L to 4L).map(ev(_, 0, "click")) ++
      (10L to 59L).map(ev(_, 1, "purchase")) ++ (60L to 109L).map(ev(_, 1, "click")) ++
      (200L to 209L).map(ev(_, 2, "click"))
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val out = Relational.eventsConversionCi(spark, dir).collect()
    val d0 = out(0); val d1 = out(1); val d2 = out(2)
    Seq(d0, d1).foreach { r =>
      assert(r.getDouble(4) < r.getDouble(3) && r.getDouble(3) < r.getDouble(5),
        s"interval must bracket the rate: $r")
    }
    assert(d1.getDouble(5) - d1.getDouble(4) < d0.getDouble(5) - d0.getDouble(4),
      "same rate at 25x n must give a narrower interval")
    assert(d2.getDouble(3) == 0.0 && d2.getDouble(4) >= 0.0,
      s"Wilson lower bound at p=0 stays in [0,1]: $d2")
  }

  test("lag features: calendar RANGE frame ages out, recency counts gaps") {
    val base = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, day: Int, v: Double) =
      EventRow(id, new Timestamp(base + day * 86400000L + id), 7L, "purchase", v, "{}")
    // active days 0 (rev 10), 1 (rev 20), 9 (rev 40)
    val evs = Seq(ev(1, 0, 10.0), ev(2, 1, 20.0), ev(3, 9, 40.0))
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val out = Relational.eventsLagFeatures(spark, dir).collect()
    val d0 = out(0); val d1 = out(1); val d9 = out(2)
    assert(d0.getDouble(4) == 0.0 && d0.getLong(7) == -1,
      s"first day: prev 0, recency -1: $d0")
    assert(d1.getDouble(5) == 30.0, s"trailing 7d on day1 = 10+20: $d1")
    // day 9: days 3..9 in range — days 0 and 1 aged out → rev_7d = 40 only
    assert(d9.getDouble(5) == 40.0, s"RANGE frame must age out old days: $d9")
    assert(d9.getDouble(4) == 20.0 && d9.getLong(7) == 8,
      s"prev rev 20 with an 8-day gap: $d9")
  }

  test("PIT join: same-instant order is invisible (strict <), staleness counts days") {
    val t0 = ts("2024-01-10 00:00:00")
    // user 1: order on day 10 at 00:00; purchase at the SAME instant →
    // leakage rule says NOT visible; later purchase on day 12 sees it
    val evs = Seq(
      EventRow(1L, t0, 1L, "purchase", 5.0, "{}"),
      EventRow(2L, ts("2024-01-12 00:00:00"), 1L, "purchase", 5.0, "{}"))
    val ords = Seq(OrderRow(100L, 1L, "O", 77.0, t0, "1-URGENT"))
    val cust = Seq(CustRow(1L, "x", 1, 42.5, "AUTO"))
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF,
      "orders" -> spark.createDataset(ords).toDF,
      "customer" -> spark.createDataset(cust).toDF)
    val out = Relational.joinPitFeatures(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).isNullAt(3), s"same-instant order leaked into the label: ${out(1L)}")
    assert(out(2L).getLong(3) == 100L && out(2L).getDouble(4) == 77.0 &&
      out(2L).getLong(5) == 2, s"PIT feature wrong: ${out(2L)}")
    assert(out(2L).getDouble(6) == 42.5)
  }

  test("mix shift: identical halves → JSD 0; disjoint halves → ln(2)") {
    val base = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, day: Int, typ: String) =
      EventRow(id, new Timestamp(base + day * 86400000L + id), 1L, typ, 1.0, "{}")
    // span days 0..9, mid = day 4: identical mixes on both sides
    val same = (0 until 10).flatMap(d => Seq(ev(d * 10L, d, "a"), ev(d * 10L + 1, d, "b")))
    val dirS = fixtureDir("events" -> spark.createDataset(same).toDF)
    val jsdS = Relational.eventsMixShift(spark, dirS).collect().head.getDouble(6)
    assert(jsdS == 0.0, s"identical halves must give JSD 0: $jsdS")
    // disjoint: type a only in first half, b only in second → JSD = ln 2
    val disj = (0 until 5).map(d => ev(d * 10L, d, "a")) ++
      (5 until 10).map(d => ev(d * 10L, d, "b"))
    val dirD = fixtureDir("events" -> spark.createDataset(disj).toDF)
    val jsdD = Relational.eventsMixShift(spark, dirD).collect().head.getDouble(6)
    assert(math.abs(jsdD - math.log(2.0)) < 1e-4,
      s"disjoint halves must give JSD ln(2): $jsdD")
  }

  test("heatmap: ISO day numbering (Mon=1) and shares summing to 1") {
    // 2024-01-01 is a Monday; 2024-01-07 a Sunday
    val evs = Seq(
      EventRow(1L, ts("2024-01-01 05:30:00"), 1L, "view", 1.0, "{}"),
      EventRow(2L, ts("2024-01-07 23:10:00"), 1L, "view", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val out = Relational.eventsHeatmapDowHour(spark, dir).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 5L), (7L, 23L)), s"ISO dow/hour wrong: ${out.mkString(";")}")
    assert(out.map(_.getDouble(3)).sum == 1.0)
  }

  test("new vs returning: first day all-new, later days split correctly") {
    val base = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, day: Int, uid: Long) =
      EventRow(id, new Timestamp(base + day * 86400000L + id), uid, "view", 1.0, "{}")
    // day0: users 1,2; day1: users 1 (returning), 3 (new)
    val evs = Seq(ev(1, 0, 1), ev(2, 0, 2), ev(3, 1, 1), ev(4, 1, 3))
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val out = Relational.aggNewVsReturning(spark, dir).collect()
    assert(out(0).getLong(2) == 2 && out(0).getLong(3) == 0, s"day0: ${out(0)}")
    assert(out(1).getLong(2) == 1 && out(1).getLong(3) == 1 &&
      out(1).getDouble(4) == 0.5, s"day1: ${out(1)}")
  }

  test("time to convert: pre-click purchases excluded, lower-quantile minutes") {
    val t0 = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, minute: Long, uid: Long, typ: String) =
      EventRow(id, new Timestamp(t0 + minute * 60000L), uid, typ, 1.0, "{}")
    val evs = Seq(
      ev(1, 5, 1, "purchase"),  // BEFORE user 1's first click — excluded
      ev(2, 10, 1, "click"), ev(3, 40, 1, "purchase"),   // 30 min
      ev(4, 0, 2, "click"), ev(5, 10, 2, "purchase"),    // 10 min
      ev(6, 0, 3, "click"))                              // never converts
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val r = Relational.eventsTimeToConvert(spark, dir).collect().head
    assert(r.getLong(0) == 2, s"two converters: $r")
    assert(r.getLong(1) == 10 && r.getLong(2) == 30 && r.getLong(3) == 30,
      s"p50=10, p90=30, max=30: $r")
    assert(r.getDouble(4) == 20.0, s"mean 20 min: $r")
  }

  test("weighted sample: reproducible across runs; heavy docs overrepresented") {
    // 200 docs of weight 1 (n_chars 10) + 200 of weight 100 (n_chars 1000):
    // A-ES keys u^(1/w) concentrate near 1 for heavy docs — the 64-sample
    // should be dominated by them, and two runs must agree exactly.
    val rows = (1L to 200L).map(i =>
      DocRow(i, "x", "en", "s", 10L)) ++ (201L to 400L).map(i =>
      DocRow(i, "x", "en", "s", 1000L))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val a = graft.ops.PipelineOps.pipeSampleWeighted(spark, dir).collect()
    val b = graft.ops.PipelineOps.pipeSampleWeighted(spark, dir).collect()
    assert(a.toSeq == b.toSeq, "weighted sample must be deterministic")
    assert(a.length == 64)
    val heavy = a.count(_.getLong(1) == 1000L)
    assert(heavy > 48, s"weight-100 docs should dominate the sample: $heavy/64")
  }

  test("MV merge equals full recompute, including batch-only groups") {
    val base = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, uid: Long, day: Int, typ: String, v: Double) =
      EventRow(id, new Timestamp(base + day * 86400000L + id), uid, typ, v, "{}")
    // standing users (1, 2: %7≠0) + batch user 7 (%7=0) who adds to an
    // existing (type, day) cell AND creates a brand-new one
    val evs = Seq(ev(1, 1, 0, "view", 10.0), ev(2, 2, 0, "view", 20.0),
      ev(3, 1, 1, "click", 5.0),
      ev(4, 7, 0, "view", 40.0),     // merges into (view, day0)
      ev(5, 7, 2, "purchase", 9.0))  // batch-only group
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val out = graft.ops.PipelineOps.pipeMvIncremental(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(("view", "2024-01-01")) == ((3L, 70.0)), s"merged cell: $out")
    assert(out(("purchase", "2024-01-03")) == ((1L, 9.0)), s"batch-only cell: $out")
    assert(out(("click", "2024-01-02")) == ((1L, 5.0)), s"standing-only cell: $out")
  }

  test("k-anonymity: small classes flagged, at-risk fraction counts rows") {
    val cust = (1L to 10L).map(i => CustRow(i, "c", 1, 0.0, "AUTO")) ++
      Seq(CustRow(11L, "c", 2, 0.0, "AUTO"), CustRow(12L, "c", 2, 0.0, "AUTO"))
    val dir = fixtureDir("customer" -> spark.createDataset(cust).toDF)
    val out = Relational.aggKAnonymity(spark, dir).collect()
    val big = out.find(_.getLong(0) == 1L).get
    val small = out.find(_.getLong(0) == 2L).get
    assert(!big.getBoolean(3) && small.getBoolean(3), s"risky flags: $big $small")
    // 2 of 12 rows sit in classes under k=5
    assert(math.abs(big.getDouble(4) - 2.0 / 12) < 1e-6)
  }

  test("basket lift: perfectly coupled pair → lift = N/c; independent pair ≈ 1") {
    val base = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, uid: Long, typ: String) =
      EventRow(id, new Timestamp(base + id), uid, typ, 1.0, "{}")
    // 4 baskets (users 1..4, same day): a+b together in 2 baskets,
    // c alone in the other 2 → (a,b): support .5, lift = 2*4/(2*2)=2
    val evs = Seq(ev(1, 1, "a"), ev(2, 1, "b"), ev(3, 2, "a"), ev(4, 2, "b"),
      ev(5, 3, "c"), ev(6, 4, "c"))
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val out = Relational.aggBasketLift(spark, dir).collect()
    assert(out.length == 1, s"only (a,b) co-occurs: ${out.mkString(";")}")
    val r = out.head
    assert(r.getString(0) == "a" && r.getString(1) == "b" && r.getLong(2) == 2)
    assert(r.getDouble(3) == 0.5 && r.getDouble(4) == 2.0, s"support/lift: $r")
  }

  test("elasticity: a known log-log law is recovered exactly") {
    // qty = 100 / price  →  ln(qty) = ln(100) − 1·ln(unit price), slope −1
    val li = Seq(1.0, 2.0, 4.0, 5.0, 10.0).zipWithIndex.map { case (p, i) =>
      // l_extendedprice = unit price × qty so unit price = price
      LineRow(i.toLong, 100.0 / p, (100.0 / p) * p, 0.0, 0.0, "A", "O")
    }
    val dir = fixtureDir("lineitem" -> spark.createDataset(li).toDF)
    val r = Relational.aggPriceElasticity(spark, dir).collect().head
    assert(r.getLong(1) == 5)
    assert(math.abs(r.getDouble(2) - (-1.0)) < 1e-3, s"slope should be -1: $r")
    assert(math.abs(r.getDouble(3) - math.log(100.0)) < 1e-3, s"intercept ln(100): $r")
  }

  test("drawdown: peak-to-trough fall found with the earliest trough on ties") {
    val base = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, day: Int, v: Double) =
      EventRow(id, new Timestamp(base + day * 86400000L + id), 1L, "purchase", v, "{}")
    // daily revenue: +10, +20, -25(=5), +1, -25 → cum: 10,30,5,6,-19
    // peak 30 → max drawdown 49 at day 4 (cum -19)
    val evs = Seq(ev(1, 0, 10), ev(2, 1, 20), ev(3, 2, -25), ev(4, 3, 1),
      ev(5, 4, -25))
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val r = Relational.eventsMaxDrawdown(spark, dir).collect().head
    assert(r.getDouble(1) == 49.0 && r.getString(2) == "2024-01-05",
      s"max drawdown 49 at the day-4 trough: $r")
    assert(r.getDouble(3) == 30.0 && r.getDouble(4) == -19.0)
  }

  test("autocorrelation: an alternating series gives ACF(1) ≈ -1, period-7 gives ACF(7) ≈ 1") {
    val base = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, day: Int, v: Double) =
      EventRow(id, new Timestamp(base + day * 86400000L + id), 1L, "purchase", v, "{}")
    // 28 days alternating 10/20: lag-1 perfectly anti-correlated, lag-7
    // (odd shift of an alternating series) also anti-correlated; both
    // near -1 up to the finite-sample normalization
    val evs = (0 until 28).map(d => ev(d.toLong, d, if (d % 2 == 0) 10.0 else 20.0))
    val dir = fixtureDir("events" -> spark.createDataset(evs).toDF)
    val out = Relational.eventsAutocorrelation(spark, dir).collect()
    val a1 = out.find(_.getLong(0) == 1L).get
    val a7 = out.find(_.getLong(0) == 7L).get
    assert(a1.getLong(1) == 27 && a7.getLong(1) == 21)
    assert(a1.getDouble(2) < -0.9, s"alternating series: ACF(1) near -1: $a1")
    assert(a7.getDouble(2) < -0.7, s"odd lag of alternating series negative: $a7")
    // period-2 series: even lag positively correlated — sanity cross-check
    val evs2 = (0 until 28).map(d => ev(100L + d, d, if (d % 7 < 3) 5.0 else 25.0))
    val dir2 = fixtureDir("events" -> spark.createDataset(evs2).toDF)
    val p7 = Relational.eventsAutocorrelation(spark, dir2).collect()
      .find(_.getLong(0) == 7L).get
    assert(p7.getDouble(2) > 0.6, s"period-7 series: ACF(7) strongly positive: $p7")
  }

  test("tukey fences: a far point is the only outlier; quartiles use the lower rule") {
    // prices 10,20,30,40 + one at 1000: Q1=20 (cum 2·4≥5), Q3=40,
    // IQR=20 → fences [-10, 70] → only 1000 is out
    val li = Seq(10.0, 20.0, 30.0, 40.0, 1000.0).zipWithIndex.map { case (p, i) =>
      LineRow(i.toLong, 1.0, p, 0.0, 0.0, "A", "O")
    }
    val dir = fixtureDir("lineitem" -> spark.createDataset(li).toDF)
    val r = Relational.aggTukeyFences(spark, dir).collect().head
    assert(r.getLong(1) == 5 && r.getLong(2) == 1, s"one outlier of five: $r")
    assert(r.getDouble(3) == 20.0 && r.getDouble(4) == 40.0, s"lower-rule quartiles: $r")
    assert(math.abs(r.getDouble(5) - 1000.0 / 1100.0) < 1e-6, s"rev share: $r")
  }

  test("two-proportion z: equal rates → z = 0; a real shift moves z in the right direction") {
    val base = ts("2024-01-01 00:00:00").getTime
    def ev(id: Long, day: Int, typ: String) =
      EventRow(id, new Timestamp(base + day * 86400000L + id), 1L, typ, 1.0, "{}")
    // 10-day span, mid = day 4: both halves 2 purchases / 2 clicks → z = 0
    val same = (0 until 10 by 9).flatMap(d => Seq(
      ev(d * 10L, d, "purchase"), ev(d * 10L + 1, d, "purchase"),
      ev(d * 10L + 2, d, "click"), ev(d * 10L + 3, d, "click")))
    val dirS = fixtureDir("events" -> spark.createDataset(same).toDF)
    val zS = Relational.eventsTwoProportionZ(spark, dirS).collect().head
    assert(zS.getDouble(6) == 0.0, s"equal rates must give z=0: $zS")
    // second half converts worse → z positive (rate_first > rate_second)
    val shift = Seq(ev(1, 0, "purchase"), ev(2, 0, "purchase"), ev(3, 0, "click"),
      ev(4, 9, "purchase"), ev(5, 9, "click"), ev(6, 9, "click"))
    val dirD = fixtureDir("events" -> spark.createDataset(shift).toDF)
    val zD = Relational.eventsTwoProportionZ(spark, dirD).collect().head
    assert(zD.getDouble(6) > 0, s"conversion drop must give positive z: $zD")
  }

  test("fuzzy match: near names link inside the block, cross-block twins never meet") {
    val parts = Seq(
      (1L, "goldenrod lace"), (2L, "goldenrod lac"),
      (3L, "goldenrod pace"),   // one substitution from #1
      (4L, "silver spring"),
      (5L, "azure goldenrod lace")) // would match #1 but lands in another block
      .toDF("p_partkey", "p_name")
    val dir = fixtureDir("part" -> parts)
    val out = Relational.joinFuzzyMatch(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 2L)) == 1 && out((1L, 3L)) == 1, s"near names must link: $out")
    assert(!out.keySet.exists(k => k._1 == 5L || k._2 == 5L),
      "blocking must keep different-prefix names apart (documented recall trade)")
    assert(!out.contains((1L, 4L)), "far names must not link")
  }

  // ---- dedup_prefix_boilerplate ----

  test("prefix boilerplate: threshold-3 prefixes flag and strip, rare prefixes kept whole") {
    val rows = Seq(
      doc(1L, "a b c d e"), doc(2L, "a b x y"), doc(3L, "a b z", source = "src1"),
      doc(4L, "q r s t"), doc(5L, "q r u v"))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Text.dedupPrefixBoilerplate(spark, dir).collect()
      .map(r => r.getLong(0) -> r).toMap
    // "a b" on 3 docs → boilerplate; "q r" on 2 docs → below threshold.
    assert(out(1L).getAs[Long]("is_boilerplate") == 1L)
    assert(out(1L).getAs[Long]("prefix_df") == 3L)
    // stripped: len("a b c d e")=9 minus len("a b")+1=4 → 5 ("c d e")
    assert(out(1L).getAs[Long]("kept_chars") == 5L)
    assert(out(3L).getAs[Long]("is_boilerplate") == 1L,
      "the boilerplate set is corpus-wide, not per-source")
    assert(out(4L).getAs[Long]("is_boilerplate") == 0L)
    assert(out(4L).getAs[Long]("kept_chars") == 7L, "non-boilerplate keeps full length")
  }

  // ---- events_holt_forecast ----

  test("holt: level/trend recursion matches the hand fold; forecast is linear in h") {
    val base = ts("2024-03-01 12:00:00").getTime
    val rows = Seq(
      EventRow(1L, new Timestamp(base), 1L, "purchase", 10.0, "{}"),
      EventRow(2L, new Timestamp(base + 86400000L), 1L, "purchase", 12.0, "{}"),
      EventRow(3L, new Timestamp(base + 2 * 86400000L), 2L, "purchase", 11.0, "{}"),
      EventRow(4L, new Timestamp(base + 86400000L), 1L, "view", 99.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.eventsHoltForecast(spark, dir).collect()
    assert(out.length == 7)
    // l1=10, b1=2; step y=11: l'=0.5*11+0.5*12=11.5, b'=0.25*1.5+0.75*2=1.875
    val h1 = out.head
    assert(h1.getAs[Long]("n_days") == 3L)
    assert(h1.getAs[Double]("level") == 11.5)
    assert(h1.getAs[Double]("trend") == 1.875)
    assert(h1.getAs[Double]("yhat") == 13.375)
    assert(out(6).getAs[Double]("yhat") == 24.625, "h=7: 11.5 + 7*1.875")
  }

  test("holt: a single-day series degrades to empty (init needs two points)") {
    val rows = Seq(EventRow(1L, ts("2024-03-01 12:00:00"), 1L, "purchase", 10.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    assert(Relational.eventsHoltForecast(spark, dir).count() == 0L)
  }

  test("forecast backtest: holdout alignment and errors match the hand computation") {
    val base = ts("2024-03-01 12:00:00").getTime
    val vals = Seq(10.0, 12.0, 11.0, 13.0, 12.0, 14.0, 13.0, 15.0, 14.0, 16.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      EventRow(i.toLong, new Timestamp(base + i.toLong * 86400000L), 1L,
        "purchase", v, "{}")
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.eventsForecastBacktest(spark, dir).collect()
    assert(out.length == 7)
    // train = first 3 days (10, 12, 11): l = 11.5, b = 1.875 (the holt
    // fixture); holdout = days 4..10
    val h1 = out.head
    assert(h1.getAs[String]("day") == "2024-03-04")
    assert(h1.getAs[Double]("actual") == 13.0)
    assert(h1.getAs[Double]("yhat") == 13.375)
    assert(h1.getAs[Double]("abs_err") == 0.375)
    val h7 = out(6)
    assert(h7.getAs[String]("day") == "2024-03-10")
    assert(h7.getAs[Double]("actual") == 16.0)
    assert(h7.getAs[Double]("yhat") == 24.625)
    assert(h7.getAs[Double]("abs_err") == 8.625,
      "linear extrapolation overshoots a flattening series — the honest signal")
  }

  test("bm25 index serve: scores equal the corpus-computed per-doc sums; builds once") {
    // doc 1 is stopword-dense (should rank first); doc 3 contains none
    // of the query terms (absent from the result)
    val rows = Seq(
      doc(1L, "join filter sort merge window join filter"),
      doc(2L, "join alpha beta gamma delta filter"),
      doc(3L, "alpha beta gamma delta epsilon zeta"))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val before = CorpusScope.builds("bm25Index")
    val served = Text.bm25IndexServe(spark, dir).collect()
    assert(CorpusScope.builds("bm25Index") == before + 1)
    assert(served.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L),
      s"rank order wrong: ${served.mkString(",")}")
    // cross-check against the non-indexed operator: per-doc sum of the
    // declared bm25 query's (token, doc) scores on the same corpus
    val full = Text.bm25(spark, dir).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .view.mapValues(_.map(r => BigDecimal(r.getAs[Double]("score"))).sum).toMap
    served.foreach { r =>
      assert(BigDecimal(r.getAs[Double]("score")) == full(r.getAs[Long]("doc_id")),
        s"served score diverges from corpus-computed for doc ${r.getAs[Long]("doc_id")}")
    }
    val again = Text.bm25IndexServe(spark, dir).collect()
    assert(CorpusScope.builds("bm25Index") == before + 1, "second serve rebuilt the index")
    assert(again.map(_.toString).toSeq == served.map(_.toString).toSeq)
  }

  test("bm25 upsert: batch scores use FROZEN standing stats; encode runs once") {
    // standing: docs 1 (one 'join'), 2 (no query terms);
    // batch (doc_id % 7 == 0): doc 14, two 'join's — must outrank doc 1
    // under the same frozen stats (higher tf, same idf/avgdl basis)
    val rows = Seq(
      doc(1L, "join alpha beta gamma"),
      doc(2L, "alpha beta gamma delta"),
      doc(14L, "join join alpha beta"))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val before = CorpusScope.builds("bm25Upsert")
    val out = Text.bm25Upsert(spark, dir).collect()
    assert(CorpusScope.builds("bm25Upsert") == before + 1)
    val ranked = out.map(r => (r.getAs[Long]("rk"), r.getAs[Long]("doc_id")))
    assert(ranked.map(_._2).toSeq == Seq(14L, 1L),
      s"frozen-stats ranking wrong: ${ranked.mkString(",")}")
    // idf is frozen on STANDING df ('join' df=1 of n=2) for BOTH docs:
    // the batch doc's occurrences change tf only, not idf
    val again = Text.bm25Upsert(spark, dir).collect()
    assert(CorpusScope.builds("bm25Upsert") == before + 1, "second serve re-encoded")
    assert(again.map(_.toString).toSeq == out.map(_.toString).toSeq)
  }

  // ---- window_rolling_slope ----

  test("rolling slope: linear ramp gives slope 1, constants 0, first row null") {
    val base = ts("2024-03-01 00:00:00").getTime
    val rows = (1 to 5).map(i => EventRow(i.toLong,
      new Timestamp(base + i * 60000L), 1L, "view", i.toDouble, "{}")) ++
      (1 to 3).map(i => EventRow(10L + i,
        new Timestamp(base + i * 60000L), 2L, "view", 7.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.windowRollingSlope(spark, dir).collect()
    val u1 = out.filter(_.getAs[Long]("user_id") == 1L)
    assert(u1.head.isNullAt(u1.head.fieldIndex("slope")), "n=1 has no slope")
    assert(u1.tail.forall(_.getAs[Double]("slope") == 1.0),
      "value=index ramp: OLS slope exactly 1 at every trailing frame")
    val u2 = out.filter(_.getAs[Long]("user_id") == 2L)
    assert(u2.tail.forall(_.getAs[Double]("slope") == 0.0))
  }
}
