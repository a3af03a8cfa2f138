package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{PipelineOps, Relational, StreamingModel, Text}

case class CustRow10(c_custkey: Long, c_mktsegment: String,
    c_acctbal: java.math.BigDecimal)
case class OrdRow10(o_orderkey: Long, o_custkey: Long,
    o_orderpriority: String, o_totalprice: java.math.BigDecimal)

/** Targeted edge/property tests for the round-10 operators — the
  * invariants the fixture-scale DuckDB gate never exercises. */
class Round10OpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  // ---- agg_theil_decomposition: additivity is the theorem -------------

  test("theil: within + between = total, and matches the direct formula") {
    def bd(v: Double) = new java.math.BigDecimal(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    val rows = Seq(
      CustRow10(1, "A", bd(10)), CustRow10(2, "A", bd(10)),
      CustRow10(3, "B", bd(20)), CustRow10(4, "B", bd(40)),
      CustRow10(5, "B", bd(100)), CustRow10(6, "C", bd(5)))
    val dir = fixtureDir("customer" -> spark.createDataset(rows).toDF)
    val r = Relational.aggTheilDecomposition(spark, dir).collect()(0)
    val xs = rows.map(_.c_acctbal.doubleValue)
    val s = xs.sum; val mu = s / xs.length
    val tTotal = xs.map(x => x * math.log(x / mu)).sum / s
    assert(math.abs(r.getAs[Double]("theil_total") - tTotal) < 1e-4,
      s"direct Theil mismatch: ${r.getAs[Double]("theil_total")} vs $tTotal")
    assert(math.abs(r.getAs[Double]("theil_between")
        + r.getAs[Double]("theil_within")
        - r.getAs[Double]("theil_total")) < 1e-5,
      "decomposition must be additive")
    // one-segment-per-row corner: all inequality is BETWEEN segments
    val solo = rows.zipWithIndex.map { case (c, i) =>
      c.copy(c_mktsegment = s"S$i") }
    val dir2 = fixtureDir("customer" -> spark.createDataset(solo).toDF)
    val r2 = Relational.aggTheilDecomposition(spark, dir2).collect()(0)
    assert(math.abs(r2.getAs[Double]("theil_within")) < 1e-5,
      "singleton segments must put all inequality between")
  }

  // ---- agg_hhi_concentration: closed-form corners ---------------------

  test("hhi: equal shares give 1/n; a monopolist gives 1.0") {
    def bd(v: Double) = new java.math.BigDecimal(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    val rows =
      (1L to 8L).map(c => OrdRow10(c, c, "1-EQ", bd(100))) ++
      Seq(OrdRow10(100, 1, "2-MONO", bd(500)),
        OrdRow10(101, 1, "2-MONO", bd(250)))
    val dir = fixtureDir("orders" -> spark.createDataset(rows).toDF)
    val out = Relational.aggHhiConcentration(spark, dir)
      .collect().map(r => r.getAs[String]("prio") -> r).toMap
    assert(math.abs(out("1-EQ").getAs[Double]("hhi") - 0.125) < 1e-6)
    assert(math.abs(out("1-EQ").getAs[Double]("effective_n") - 8.0) < 1e-3)
    assert(math.abs(out("2-MONO").getAs[Double]("hhi") - 1.0) < 1e-9,
      "a single customer owns the whole market")
    assert(out("2-MONO").getAs[Long]("n_customers") == 1L)
  }

  // ---- events_poisson_anomaly: leave-one-out excludes the spike -------

  test("poisson anomaly: a 10x spike day is flagged; flat traffic is not") {
    val base = ts("2024-03-01 00:00:00").getTime
    def evs(day: Int, typ: String, k: Int, idBase: Long): Seq[EventRow] =
      (0 until k).map(j => EventRow(idBase + day * 1000 + j,
        new Timestamp(base + day * 86400000L), 1L, typ, 1.0, "{}"))
    val rows = (0 until 20).flatMap(d => evs(d, "flat", 10, 0L)) ++
      (0 until 20).flatMap(d =>
        evs(d, "spiky", if (d == 7) 100 else 10, 100000L))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.eventsPoissonAnomaly(spark, dir)
      .collect().map(r => r.getAs[String]("et") -> r).toMap
    assert(out("flat").getAs[Long]("n_anomalies") == 0L,
      "flat traffic must not alarm")
    assert(out("spiky").getAs[Long]("n_anomalies") == 1L,
      "exactly the spike day alarms")
    assert(out("spiky").getAs[String]("first_anomaly_day") == "2024-03-08")
    // leave-one-out: the spike's own baseline is the OTHER 19 days
    // (mean 10), so z ≈ (100-10)/sqrt(10) ≈ 28 — far past 3. A naive
    // all-days mean (14.5) would still flag here, but the sign of a
    // correct LOO is the flat type's z staying EXACTLY 0.
    assert(math.abs(out("flat").getAs[Double]("max_z")) < 1e-9)
  }

  // ---- agg_countmin_heavy: the sketch's two guarantees ----------------

  test("count-min: never under-estimates and stays within eps*N on a skewed fixture") {
    val base = ts("2024-03-01 00:00:00").getTime
    val rows = (0 until 2000).map { i =>
      // user 1 is heavy (half the stream); the rest uniform
      val u = if (i % 2 == 0) 1L else (i % 50).toLong + 2L
      EventRow(i.toLong, new Timestamp(base + i * 1000L), u, "click", 1.0, "{}")
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.aggCountMinHeavy(spark, dir).collect()
    assert(out.length == 5)
    assert(out.head.getAs[Long]("user_id") == 1L &&
      out.head.getAs[Long]("n_exact") == 1000L, "heavy user leads")
    out.foreach { r =>
      assert(r.getAs[Boolean]("never_under"), s"CMS under-estimated: $r")
      assert(r.getAs[Boolean]("within_eps"), s"CMS outside eps bound: $r")
    }
  }

  // ---- text_winnowing: THE guarantee ----------------------------------

  test("winnowing: docs sharing a >= w+k-1 token run share a selected fingerprint") {
    // k=3, w=4 → any common run of >= 6 tokens must leave at least one
    // common SELECTED fingerprint (the winnowing theorem). Embed the
    // same 8-token run in two otherwise-disjoint documents.
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val d1 = s"one two three $run four five six"
    val d2 = s"seven eight nine ten eleven $run twelve"
    val df = Seq(("d1", d1), ("d2", d2)).toDF("id", "text")
      .withColumn("sel", Text.winnowSelect(
        Text.winnowGramHashes(org.apache.spark.sql.functions
          .split(org.apache.spark.sql.functions.col("text"), " "))))
    val sel = df.collect()
      .map(r => r.getAs[String]("id") -> r.getSeq[Long](2).toSet).toMap
    assert(sel("d1").intersect(sel("d2")).nonEmpty,
      "shared 8-token run must share a selected fingerprint")
    // density: selection keeps roughly 2/(w+1) of grams on random text
    val rnd = new scala.util.Random(7)
    val randTxt = Seq.fill(400)(rnd.nextInt(100000).toString).mkString(" ")
    val one = Seq(Tuple1(randTxt)).toDF("text")
      .withColumn("hs", Text.winnowGramHashes(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")))
      .withColumn("sel", Text.winnowSelect(
        org.apache.spark.sql.functions.col("hs")))
      .collect()(0)
    val density = one.getSeq[Long](2).size.toDouble / one.getSeq[Long](1).size
    assert(density > 0.25 && density < 0.55,
      s"density $density far from the 2/(w+1)=0.4 expectation")
  }

  // ---- embedding_pca_power: converges to the dominant direction -------

  test("pca power iteration: finds the dominant axis, eigenvalue = its mass") {
    // 40 vectors on e1, 10 on e2: sum(x x^T) has eigenvalues 40 (e1) and
    // 10 (e2); eight power rounds from the uniform start must converge
    // to +e1 — every e1 vector scores 1.0, eigenvalue ≈ 40.
    def axis(d: Int): Array[Float] =
      Array.tabulate(64)(i => if (i == d) 1.0f else 0.0f)
    val rows = (1L to 40L).map(i => EmbRow(i, axis(0), 0)) ++
      (41L to 50L).map(i => EmbRow(i, axis(1), 1))
    val dir = fixtureDir("embeddings" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Vector.embeddingPcaPower(spark, dir).collect()
    assert(out.length == 20)
    out.foreach { r =>
      assert(math.abs(r.getAs[Double]("pc1_score") - 1.0) < 1e-9,
        s"e1 vector must score 1.0: $r")
      assert(r.getAs[Long]("vec_id") <= 40L, "top-20 must all be e1 vectors")
      assert(math.abs(r.getAs[Double]("eigval") - 40.0) < 1e-3,
        s"Rayleigh estimate must be the dominant mass: $r")
    }
  }

  // ---- events_stl_decompose: components add back, seasonality lands ---

  test("stl: trend+seasonal+residual reconstructs n; weekends separate from weekdays") {
    val base = ts("2024-01-01 00:00:00").getTime // a Monday
    def dow(d: Int) = d % 7 // 5,6 = Sat,Sun for a Monday start
    val rows = (0 until 28).flatMap { d =>
      val k = if (dow(d) >= 5) 15 else 10
      (0 until k).map(j => EventRow(d * 100L + j,
        new Timestamp(base + d * 86400000L), 1L, "click", 1.0, "{}"))
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.eventsStlDecompose(spark, dir).collect()
    assert(out.length == 28)
    out.foreach { r =>
      val recon = r.getAs[Double]("trend") + r.getAs[Double]("seasonal") +
        r.getAs[Double]("residual")
      assert(math.abs(recon - r.getAs[Long]("n")) < 5e-4,
        s"components must reconstruct the count (r4 tolerance): $r")
    }
    val byDay = out.map(r => r.getAs[String]("day_s") -> r).toMap
    val sat = byDay("2024-01-06").getAs[Double]("seasonal")
    val wed = byDay("2024-01-03").getAs[Double]("seasonal")
    assert(sat > wed + 2.0,
      s"weekend seasonal ($sat) must sit well above weekday ($wed)")
  }

  // ---- events_uplift_did: nets out the shared trend -------------------

  test("diff-in-diff: recovers the planted uplift the naive estimate misses") {
    val base = ts("2024-05-01 00:00:00").getTime
    // 10 days; midpoint = day 4 → pre = days 0..4, post = days 5..9.
    // Treated (even users): 10 → 15. Control (odd): 8 → 12.
    // DiD = (15−10) − (12−8) = 1; naive post diff = 15 − 12 = 3.
    val rows = (0 until 10).flatMap { d =>
      val pre = d <= 4
      Seq(
        EventRow(d * 10L, new Timestamp(base + d * 86400000L), 2L,
          "purchase", if (pre) 10.0 else 15.0, "{}"),
        EventRow(d * 10L + 1, new Timestamp(base + d * 86400000L), 3L,
          "purchase", if (pre) 8.0 else 12.0, "{}"))
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val r = Relational.eventsUpliftDid(spark, dir).collect()(0)
    assert(math.abs(r.getAs[Double]("did_effect") - 1.0) < 1e-9,
      s"DiD must net out the shared +4 trend: $r")
    assert(math.abs(r.getAs[Double]("naive_post_diff") - 3.0) < 1e-9,
      s"naive contrast shown for comparison: $r")
  }

  // ---- text_ngram_novelty: copies own nothing -------------------------

  test("ngram novelty: originals are 100% novel, verbatim copies 0%") {
    val texts = Seq(
      "alpha beta gamma delta", "epsilon zeta eta theta",
      "iota kappa lambda mu", "nu xi omicron pi",
      "rho sigma tau upsilon")
    def doc(id: Long, t: String) = DocRow(id, t, "en", "src0", t.length.toLong)
    val rows = texts.zipWithIndex.map { case (t, i) => doc(i + 1L, t) } ++
      texts.zipWithIndex.map { case (t, i) => doc(i + 6L, t) } // copies
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Text.queries("text_ngram_novelty")(spark, dir).collect()
    val byDecile = out.map(r => r.getAs[Long]("decile") -> r).toMap
    (0L to 4L).foreach(dcl => assert(
      byDecile(dcl).getAs[Double]("novelty_rate") == 1.0,
      s"original decile $dcl must be fully novel"))
    (5L to 9L).foreach(dcl => assert(
      byDecile(dcl).getAs[Double]("novelty_rate") == 0.0,
      s"copy decile $dcl must be zero-novel"))
  }

  // ---- multimodal_phash_dedup: banding finds the planted duplicate ----

  test("phash dedup: exact payload duplicates rank first at hamming 0") {
    val texts = (1 to 40).map(i => s"unique payload number $i with content")
    val rows = texts.zipWithIndex.map { case (t, i) =>
      DocRow(i + 1L, t, "en", "src0", t.length.toLong) } :+
      DocRow(100L, texts.head, "en", "src1", texts.head.length.toLong) // dup of doc 1
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Vector.queries("multimodal_phash_dedup")(spark, dir)
      .collect()
    assert(out.nonEmpty, "planted duplicate must produce a candidate")
    val top = out.head
    assert(top.getAs[Long]("d1") == 1L && top.getAs[Long]("d2") == 100L &&
      top.getAs[Long]("hamming") == 0L &&
      top.getAs[Boolean]("within_threshold"),
      s"exact dup must rank first at distance 0: $top")
    // non-duplicate band collisions (if any) sit far outside threshold
    out.tail.foreach(r => assert(r.getAs[Long]("hamming") > 12,
      s"stub hashes of distinct payloads cannot be near: $r"))
  }

  // ---- stream_cdc_apply: last change wins, deletes drop ---------------

  test("cdc apply: trailing delete removes the key; re-insert after delete survives") {
    val base = ts("2024-06-01 00:00:00").getTime
    def ev(id: Long, sec: Int, u: Long, typ: String, v: Double) =
      EventRow(id, new Timestamp(base + sec * 1000L), u, typ, v, "{}")
    val rows = Seq(
      ev(1, 1, 10L, "signup", 1.0), ev(2, 2, 10L, "click", 2.0),
      ev(3, 3, 10L, "error", 0.0),                     // u10: deleted
      ev(4, 1, 20L, "signup", 5.0), ev(5, 2, 20L, "click", 7.5), // u20: upserted
      ev(6, 1, 30L, "error", 0.0), ev(7, 2, 30L, "signup", 9.0)) // u30: re-inserted
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = graft.ops.StreamingModel.queries("stream_cdc_apply")(spark, dir)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(!out.contains(10L), "trailing DELETE must remove the key")
    assert(out(20L).getAs[String]("last_op") == "U" &&
      out(20L).getAs[Double]("last_value") == 7.5 &&
      out(20L).getAs[Long]("n_changes") == 2L)
    assert(out(30L).getAs[String]("last_op") == "I" &&
      out(30L).getAs[Double]("last_value") == 9.0,
      "INSERT after DELETE must survive")
  }

  // ---- text_keyword_rake: stopword boundaries + degree scoring --------

  test("rake: stopwords never surface; collocations outscore their words") {
    // 'deep neural model' always travels together (degree 3 per word);
    // 'data' always appears alone (degree 1). Stopword 'join' separates.
    val t = "deep neural model join data join deep neural model join data"
    val rows = (1L to 4L).map(i => DocRow(i, t, "en", "src0", t.length.toLong))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Text.queries("text_keyword_rake")(spark, dir).collect()
    assert(!out.exists(r => r.getAs[String]("phrase").contains("join")),
      "stopwords must never appear inside a phrase")
    val byPhrase = out.map(r => r.getAs[String]("phrase") -> r).toMap
    val coll = byPhrase("deep neural model")
    val solo = byPhrase("data")
    assert(coll.getAs[Long]("n_words") == 3L && solo.getAs[Long]("n_words") == 1L)
    // each collocation word: deg 3, freq 1 -> score 3; phrase = 9.
    // 'data': deg 1, freq 1 -> 1.
    assert(math.abs(coll.getAs[Double]("score") - 9.0) < 1e-9, s"$coll")
    assert(math.abs(solo.getAs[Double]("score") - 1.0) < 1e-9, s"$solo")
  }

  // ---- text_burstiness: uniform vs bursty tokens ----------------------

  test("burstiness: a once-per-doc token has VMR 0; a concentrated one is bursty") {
    val rows = (1L to 10L).map { i =>
      val t = if (i == 1) "glue " + Seq.fill(10)("burst").mkString(" ")
              else "glue filler" + i
      DocRow(i, t, "en", "src0", t.length.toLong)
    }
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Text.queries("text_burstiness")(spark, dir)
      .collect().map(r => r.getAs[String]("token") -> r).toMap
    val glue = out("glue")
    assert(glue.getAs[Double]("vmr") == 0.0 && !glue.getAs[Boolean]("bursty"),
      s"uniform token must have zero dispersion: $glue")
    val burst = out("burst")
    assert(math.abs(burst.getAs[Double]("vmr") - 9.0) < 1e-9 &&
      burst.getAs[Boolean]("bursty"),
      s"all-in-one-doc token: mean 1, var 9: $burst")
  }

  // ---- pipe_gdpr_forget: the checksum is the post-delete audit anchor --

  test("gdpr forget plan: checksum reproduces on the physically-deleted table") {
    val base = ts("2024-07-01 00:00:00").getTime
    val rows = (0 until 400).map { i =>
      EventRow(i.toLong, new Timestamp(base + i * 1000L),
        (i % 200).toLong, if (i % 2 == 0) "click" else "view", 1.0, "{}")
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val plan = PipelineOps.pipeGdprForget(spark, dir)
      .collect().map(r => r.getAs[String]("et") -> r).toMap
    // users 0, 97 are the % 97 == 0 slice among user_ids 0..199
    assert(plan("click").getAs[Long]("n_users_forgotten") == 2L, s"$plan")
    assert(plan.values.forall(r => r.getAs[Long]("n_total") ==
      r.getAs[Long]("n_delete") + r.getAs[Long]("n_retained")))
    // audit anchor: run the SAME plan on the post-delete table — the
    // retained checksum must reproduce and the delete count must be zero
    val deleted = rows.filterNot(_.user_id % 97 == 0)
    val dir2 = fixtureDir("events" -> spark.createDataset(deleted).toDF)
    val after = PipelineOps.pipeGdprForget(spark, dir2)
      .collect().map(r => r.getAs[String]("et") -> r).toMap
    for (et <- Seq("click", "view")) {
      assert(after(et).getAs[Long]("n_delete") == 0L)
      assert(after(et).getAs[Long]("retained_checksum") ==
        plan(et).getAs[Long]("retained_checksum"),
        s"checksum must survive the physical delete: $et")
    }
  }

  // ---- cluster_silhouette: separation readout --------------------------

  test("silhouette: tight well-separated clusters score near 1 with zero negatives") {
    // centroids are the first 8 vectors by vec_id; build 8 far-apart
    // axis anchors (axis k scaled 100) and park 5 tight followers on
    // each — every member hugs its own centroid while foreign
    // centroids sit ~sqrt(2)*100 away
    def axis(k: Int, scale: Float): Array[Float] = {
      val a = Array.fill(64)(0f); a(k) = scale; a
    }
    val anchors = (0 until 8).map(k => EmbRow(k.toLong, axis(k, 100f), k))
    val followers = for (k <- 0 until 8; j <- 0 until 5) yield
      EmbRow((100 + k * 10 + j).toLong, axis(k, 100f + j * 0.1f), k)
    val dir = fixtureDir("embeddings" ->
      spark.createDataset((anchors ++ followers).toVector).toDF)
    val rows = graft.ops.Vector.clusterSilhouette(spark, dir).collect()
    assert(rows.length == 8)
    // every member is glued to its centroid, foreign centroids are
    // ~sqrt(2)*100 away -> silhouette near 1 everywhere
    assert(rows.forall(_.getAs[Double]("mean_sil") > 0.9),
      rows.mkString(";"))
    assert(rows.forall(_.getAs[Double]("share_neg") == 0.0))
    assert(rows.map(_.getAs[Long]("n")).sum == 48L)
  }

  // ---- embedding_jl_project: the lemma holds on average ----------------

  test("JL projection: distortion ratios concentrate around 1") {
    // deterministic varied vectors (no RNG). The i*d cross term matters:
    // a pure i*a+d*b pattern collapses to |modulus| distinct DIRECTIONS
    // and the fixed-G sample mean then has huge variance (measured 1.54
    // on a 13-period pattern) — JL's E[ratio]=1 is over directions
    val rows = (0 until 200).map { i =>
      val v = Array.tabulate(64)(d =>
        (((i * 131 + d * 839 + i * d * 7) % 101) - 50).toFloat)
      EmbRow(i.toLong, v, i % 10)
    }
    val dir = fixtureDir("embeddings" ->
      spark.createDataset(rows.toVector).toDF)
    val r = graft.ops.Vector.embeddingJlProject(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_vectors") == 200L)
    val mean = r.getAs[Double]("mean_ratio")
    assert(mean > 0.8 && mean < 1.2, s"E[ratio]=1 under JL, got $mean")
    assert(r.getAs[Double]("min_ratio") > 0.0)
    assert(r.getAs[Double]("max_ratio") < 4.0)
    // std of the ratio at d'=16 is ~sqrt(2/16)=0.35: a healthy share
    // of vectors must land within +-20%
    assert(r.getAs[Double]("share_within_20pct") > 0.3, s"$r")
  }

  // ---- events_cumulative_users: first-touch reduction ------------------

  test("cumulative users: repeat visitors count once, at their first day") {
    val base = ts("2024-08-01 00:00:00").getTime
    // user u first appears on day u%5, then returns EVERY later day
    val rows = for (day <- 0 until 10; u <- 0 until 50
                    if day >= u % 5) yield
      EventRow((day * 100 + u).toLong,
        new Timestamp(base + day * 86400000L), u.toLong, "view", 1.0, "{}")
    val dir = fixtureDir("events" ->
      spark.createDataset(rows.toVector).toDF)
    val r = Relational.eventsCumulativeUsers(spark, dir).collect()
    assert(r.length == 10)
    // days 0..4 add 10 new users each; days 5..9 add none
    assert(r.take(5).map(_.getAs[Long]("new_users")).toSeq ==
      Seq(10L, 10L, 10L, 10L, 10L))
    assert(r.drop(5).forall(_.getAs[Long]("new_users") == 0L))
    assert(r.last.getAs[Long]("cum_users") == 50L)
    // the curve is non-decreasing
    val cum = r.map(_.getAs[Long]("cum_users"))
    assert(cum.zip(cum.tail).forall { case (a, b) => a <= b })
  }

  // ---- events_srm_check: the guardrail fires only on real imbalance ----

  test("SRM check: balanced days pass, a 70/30 day alarms") {
    val base = ts("2024-08-01 00:00:00").getTime
    val rows = (0 until 5).flatMap { day =>
      val (nt, nc) = if (day == 3) (700, 300) else (500, 500)
      (0 until nt).map(i => EventRow((day * 10000 + i).toLong,
        new Timestamp(base + day * 86400000L + i), i * 2L, "view", 1.0,
        "{}")) ++
      (0 until nc).map(i => EventRow((day * 10000 + 5000 + i).toLong,
        new Timestamp(base + day * 86400000L + i), i * 2L + 1, "view", 1.0,
        "{}"))
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val r = Relational.eventsSrmCheck(spark, dir).collect()
    assert(r.length == 5)
    val flagged = r.filter(_.getAs[Boolean]("srm_flag"))
      .map(_.getAs[String]("day_s"))
    assert(flagged.toSeq == Seq("2024-08-04"),
      s"only the 70/30 day alarms: ${r.mkString(";")}")
    // chi2 for 700/300 of 1000 is (400^2)/1000 = 160
    val hot = r.find(_.getAs[String]("day_s") == "2024-08-04").get
    assert(math.abs(hot.getAs[Double]("chi2") - 160.0) < 1e-9)
    assert(hot.getAs[Double]("p_value") < 1e-6)
  }

  // ---- agg_capture_recapture: Chapman estimator ------------------------

  test("capture-recapture: full overlap gives N; the estimator tracks a planted population") {
    val base = ts("2024-08-01 00:00:00").getTime
    val day = 86400000L
    // 10-day window, mid = day 4 (dates 08-01..08-10): every user seen
    // both day 0 and day 9 -> n1 = n2 = m = 40, Chapman = 41*41/41-1 = 40
    val full = (0 until 40).flatMap(u => Seq(
      EventRow(u.toLong, new Timestamp(base), u.toLong, "view", 1.0, "{}"),
      EventRow(100L + u, new Timestamp(base + 9 * day), u.toLong, "view",
        1.0, "{}")))
    val dirF = fixtureDir("events" -> spark.createDataset(full).toDF)
    val rF = Relational.aggCaptureRecapture(spark, dirF).collect()(0)
    assert(rF.getAs[Long]("n1") == 40L && rF.getAs[Long]("n2") == 40L &&
      rF.getAs[Long]("m") == 40L)
    assert(rF.getAs[Double]("est_population") == 40.0)
    assert(rF.getAs[Double]("recapture_rate") == 1.0)
    // planted population 100: halves sample 50 each with overlap 25
    // -> Chapman (51*51)/26 - 1 = 99.04...
    val part = (0 until 75).map(u => EventRow(u.toLong,
        new Timestamp(base), u.toLong, "view", 1.0, "{}")) ++
      (25 until 100).map(u => EventRow(200L + u,
        new Timestamp(base + 9 * day), u.toLong, "view", 1.0, "{}"))
    val dirP = fixtureDir("events" -> spark.createDataset(part).toDF)
    val rP = Relational.aggCaptureRecapture(spark, dirP).collect()(0)
    assert(rP.getAs[Long]("n1") == 75L && rP.getAs[Long]("n2") == 75L &&
      rP.getAs[Long]("m") == 50L)
    val est = rP.getAs[Double]("est_population")
    assert(math.abs(est - (76.0 * 76.0 / 51.0 - 1.0)) < 1e-4, s"$est")
    assert(est > 95 && est < 120, s"estimate $est should be near 100")
  }

  // ---- events_theil_sen: robustness to outliers ------------------------

  test("Theil-Sen: exact line recovered; one corrupted day can't move it") {
    val base = ts("2024-08-01 00:00:00").getTime
    // 30 days, one purchase/day of value 100 + 2*day; day 15 corrupted 50x
    def rows(corrupt: Boolean) = (0 until 30).map { day =>
      val v0 = 100.0 + 2.0 * day
      val v = if (corrupt && day == 15) v0 * 50 else v0
      EventRow(day.toLong, new Timestamp(base + day * 86400000L),
        day.toLong, "purchase", v, "{}")
    }
    def fit(corrupt: Boolean) = {
      val dir = fixtureDir("events" ->
        spark.createDataset(rows(corrupt)).toDF)
      val r = Relational.eventsTheilSen(spark, dir).collect()(0)
      (r.getAs[Long]("n_days"), r.getAs[Long]("n_pairs"),
        r.getAs[Double]("slope_per_day"))
    }
    val (nd, np, clean) = fit(corrupt = false)
    assert(nd == 30L && np == 30L * 29 / 2)
    assert(math.abs(clean - 2.0) < 1e-9, s"clean slope $clean")
    val (_, _, dirty) = fit(corrupt = true)
    // the median of pairwise slopes shrugs off a single 50x day
    assert(math.abs(dirty - 2.0) < 0.2, s"robust slope $dirty")
  }

  // ---- agg_bh_fdr: step-up discovers the planted hour ------------------

  test("BH FDR: uniform hours yield no discoveries; a hot hour is found") {
    val base = ts("2024-08-01 00:00:00").getTime
    def mk(hot: Boolean) = (0 until 24).flatMap { h =>
      (0 until 200).map { i =>
        // uniform 10% purchase rate; the hot hour jumps to 50%
        val rate = if (hot && h == 7) 2 else 10
        val typ = if (i % rate == 0) "purchase" else "click"
        EventRow((h * 200 + i).toLong,
          new Timestamp(base + h * 3600000L + i * 1000L),
          i.toLong, typ, 1.0, "{}")
      }
    }
    def run(hot: Boolean) = {
      val dir = fixtureDir("events" -> spark.createDataset(mk(hot)).toDF)
      Relational.aggBhFdr(spark, dir).collect()
    }
    val flat = run(hot = false)
    assert(flat.length == 24)
    assert(!flat.exists(_.getAs[Boolean]("is_discovery")),
      "identical rates must produce zero discoveries")
    val spiked = run(hot = true)
    val hit = spiked.filter(_.getAs[Boolean]("is_discovery"))
    assert(hit.exists(_.getAs[Long]("hr") == 7L),
      s"hour 7 must be discovered: ${spiked.take(3).mkString(";")}")
    // BH discoveries are a prefix of the p-value ranking
    val maxDisc = hit.map(_.getAs[Long]("rnk")).max
    assert(hit.length == maxDisc.toInt,
      "discoveries must be exactly ranks 1..k*")
  }

  // ---- agg_bootstrap_ci: Poisson bootstrap invariants ------------------

  test("bootstrap CI: constant data gives a zero-width CI at the point") {
    val ts0 = ts("2024-08-01 00:00:00")
    val rows = (1L to 60L).map(k =>
      OrderRow(k, k % 10, "O", 100.0, ts0, "1-URGENT"))
    val dir = fixtureDir("orders" -> spark.createDataset(rows).toDF)
    val r = Relational.aggBootstrapCi(spark, dir).collect()(0)
    // every Poisson-weighted mean of a constant IS the constant, so the
    // empirical 2.5/97.5 percentiles collapse to the point estimate
    assert(r.getAs[Long]("n") == 60L)
    assert(r.getAs[Double]("point_mean") == 100.0)
    assert(r.getAs[Double]("ci_lo") == 100.0)
    assert(r.getAs[Double]("ci_hi") == 100.0)
    assert(r.getAs[Double]("ci_width") == 0.0)
    assert(r.getAs[Long]("n_boot") == 200L)
  }

  test("bootstrap CI: brackets the true mean and shrinks with n") {
    val ts0 = ts("2024-08-01 00:00:00")
    def dirOf(n: Int) = fixtureDir("orders" -> spark.createDataset(
      (1 to n).map(i => OrderRow(i.toLong, i % 10L, "O",
        if (i % 2 == 0) 50.0 else 150.0, ts0, "1-URGENT"))).toDF)
    def ci(n: Int) = {
      val r = Relational.aggBootstrapCi(spark, dirOf(n)).collect()(0)
      (r.getAs[Double]("ci_lo"), r.getAs[Double]("ci_hi"),
        r.getAs[Double]("ci_width"))
    }
    val (lo1, hi1, w1) = ci(100)
    assert(lo1 < 100.0 && 100.0 < hi1, s"CI [$lo1,$hi1] must cover 100")
    val (_, _, w2) = ci(400)
    // se ~ sigma/sqrt(n): 4x the data should roughly halve the width;
    // allow slack for bootstrap noise at B=200
    assert(w2 < w1 * 0.75, s"width must shrink: n=100 $w1 vs n=400 $w2")
  }

  // ---- agg_ols_multi: exact planted fit --------------------------------

  test("OLS multi: recovers an exact planted linear model with r2=1") {
    val rows = (0 until 140).map { i =>
      val q = (i % 7 + 1).toDouble
      val d = (i % 11).toDouble / 100.0
      val y = 5.0 + 2.0 * q + 3.0 * d // exact at 2dp
      LineRow(i.toLong, q, y, d, 0.0, "N", "O")
    }
    val dir = fixtureDir("lineitem" -> spark.createDataset(rows).toDF)
    val r = Relational.aggOlsMulti(spark, dir).collect()(0)
    assert(r.getAs[Long]("n") == 140L)
    assert(math.abs(r.getAs[Double]("b_intercept") - 5.0) < 1e-3, s"$r")
    assert(math.abs(r.getAs[Double]("b_quantity") - 2.0) < 1e-3, s"$r")
    assert(math.abs(r.getAs[Double]("b_discount") - 3.0) < 1e-3, s"$r")
    assert(r.getAs[Double]("r2") > 0.999999, s"$r")
    assert(r.getAs[Double]("rmse") < 1e-3, s"$r")
  }

  test("OLS multi: collinear design yields NULL coefficients, not garbage") {
    // d = q/100 exactly -> the Gram matrix is singular
    val rows = (0 until 60).map { i =>
      val q = (i % 5 + 1).toDouble
      LineRow(i.toLong, q, 10.0 * q, q / 100.0, 0.0, "N", "O")
    }
    val dir = fixtureDir("lineitem" -> spark.createDataset(rows).toDF)
    val r = Relational.aggOlsMulti(spark, dir).collect()(0)
    if (r.isNullAt(r.fieldIndex("b_quantity"))) {
      assert(r.isNullAt(r.fieldIndex("b_intercept")), s"$r")
    } else {
      // fp cancellation may leave |det| epsilon-positive; then the fit
      // must still be a valid least-squares solution of the planted line
      val q = 3.0
      val pred = r.getAs[Double]("b_intercept") +
        r.getAs[Double]("b_quantity") * q +
        r.getAs[Double]("b_discount") * (q / 100.0)
      assert(math.abs(pred - 30.0) < 0.5, s"$r")
    }
  }

  // ---- agg_em_mixture: recovers planted components --------------------

  test("EM mixture: separates two planted value populations in 3 rounds") {
    val base = ts("2024-08-01 00:00:00").getTime
    // 2000 purchases near 10 (alternating 9.5/10.5), 1000 near 100 —
    // well-separated, so 3 EM rounds from the moment init must land on
    // (mu ~10, mu ~100) with weight ~2/3 on the small component
    val rows = (0 until 3000).map { i =>
      val v = if (i < 2000) (if (i % 2 == 0) 9.5 else 10.5)
              else (if (i % 2 == 0) 99.5 else 100.5)
      EventRow(i.toLong, new Timestamp(base + i * 1000L), (i % 100).toLong,
        "purchase", v, "{}")
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val r = Relational.aggEmMixture(spark, dir).collect()(0)
    assert(r.getAs[Long]("n") == 3000L)
    // what 3 FIXED rounds honestly deliver (measured: mu1 9.9997,
    // sigma1 0.5, mu2 94.4, w1 0.644): the small component locks on
    // exactly; the wide-init second component is still shedding
    // cross-responsibility mass, so its mean is close but not converged
    assert(math.abs(r.getAs[Double]("mu1") - 10.0) < 0.1, s"$r")
    assert(r.getAs[Double]("sigma1") < 1.0, s"$r")
    assert(math.abs(r.getAs[Double]("mu2") - 100.0) < 10.0, s"$r")
    assert(math.abs(r.getAs[Double]("w1") - 2.0 / 3.0) < 0.05, s"$r")
    assert(r.getAs[Double]("mu2") - r.getAs[Double]("mu1") > 80.0,
      s"components must separate: $r")
  }

  // ---- events_power_analysis: closed-form sample size -----------------

  test("power analysis: n_req matches the closed form; 20% lift is powered at p0=0.5") {
    // 500 control users (odd ids), 250 converting (spend 900 > 800):
    // p0 = 0.5. At lift 20%: p1 = 0.6, pbar = 0.55 ->
    // n = ceil((1.959964*sqrt(2*.55*.45) + 0.841621*sqrt(.25+.24))^2 / .01)
    //   = 388  <= 500 -> powered.
    val base = ts("2024-08-01 00:00:00").getTime
    val rows = (1 to 1000).map { u =>
      val spend = if (u % 2 == 1 && u <= 500) 900.0 else 10.0
      EventRow(u.toLong, new Timestamp(base + u * 1000L), u.toLong,
        "purchase", spend, "{}")
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.eventsPowerAnalysis(spark, dir)
      .collect().map(r => r.getAs[Double]("rel_lift") -> r).toMap
    val r20 = out(0.2)
    assert(r20.getAs[Double]("p_base") == 0.5 &&
      r20.getAs[Double]("p_target") == 0.6, s"$r20")
    assert(r20.getAs[Long]("n_required_per_arm") == 388L,
      s"closed-form n mismatch: $r20")
    assert(r20.getAs[Boolean]("powered"),
      "500 available >= 388 required must be powered")
    assert(!out(0.05).getAs[Boolean]("powered"),
      "a 5% lift needs ~16x the sample of a 20% lift")
  }

  // ---- pipe_freshness_sla: exact lag math -----------------------------

  test("freshness SLA: lag minutes, breach flag, and last-hour count are exact") {
    val base = ts("2024-03-01 12:00:00").getTime
    val rows = Seq(
      // 'fresh': latest event defines the global high-water mark
      EventRow(1, new Timestamp(base), 1L, "fresh", 1.0, "{}"),
      EventRow(2, new Timestamp(base - 30 * 60000L), 1L, "fresh", 1.0, "{}"),
      // 'stale': 45 minutes behind → breach
      EventRow(3, new Timestamp(base - 45 * 60000L), 1L, "stale", 1.0, "{}"),
      // 'edge': exactly 30 minutes behind → breach (>= contract)
      EventRow(4, new Timestamp(base - 30 * 60000L), 1L, "edge", 1.0, "{}"),
      // old event outside the trailing hour
      EventRow(5, new Timestamp(base - 2 * 3600000L), 1L, "fresh", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = PipelineOps.pipeFreshnessSla(spark, dir)
      .collect().map(r => r.getAs[String]("et") -> r).toMap
    assert(out("fresh").getAs[Long]("lag_minutes") == 0L)
    assert(!out("fresh").getAs[Boolean]("sla_breach"))
    assert(out("fresh").getAs[Long]("n_last_hour") == 2L,
      "the 2h-old event is outside the trailing hour")
    assert(out("stale").getAs[Long]("lag_minutes") == 45L)
    assert(out("stale").getAs[Boolean]("sla_breach"))
    assert(out("edge").getAs[Long]("lag_minutes") == 30L)
    assert(out("edge").getAs[Boolean]("sla_breach"),
      "exactly-30-minutes must breach (>= contract)")
  }

  // ---- agg_logistic_irls: matches a plain-double IRLS reference -------

  test("logistic IRLS: recovers a view-count signal and matches a direct 2-round Newton fit") {
    val base = ts("2024-03-01 00:00:00").getTime
    // 40 users; y ("purchases > clicks") is a noisy step in n_view
    def userEvents(u: Long): Seq[EventRow] = {
      val nView = (u % 10).toInt
      val nErr = ((u * 3) % 7).toInt
      val y = nView > 4 || u % 13 == 0
      val tagged =
        (0 until nView).map(i => ("view", i)) ++
        (0 until nErr).map(i => ("error", 100 + i)) ++
        (if (y) Seq(("purchase", 200)) else Seq(("click", 200)))
      tagged.map { case (t, i) =>
        EventRow(u * 1000 + i, new Timestamp(base + u * 60000L + i * 1000L),
          u, t, 1.0, "{}")
      }
    }
    val rows = (1L to 40L).flatMap(userEvents)
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val r = Relational.aggLogisticIrls(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_users") == 40L)
    // reference: the same two Newton rounds in plain doubles (no
    // r6 state quantization — agreement bounds quantization drift)
    val feats = (1L to 40L).map { u =>
      val x1 = (u % 10).toDouble; val x2 = ((u * 3) % 7).toDouble
      val y = if (u % 10 > 4 || u % 13 == 0) 1.0 else 0.0
      (x1, x2, y)
    }
    def solve3(m: Array[Double], g: Array[Double]): Array[Double] = {
      val Array(m00, m01, m02, m11, m12, m22) = m
      val det = m00 * (m11 * m22 - m12 * m12) -
        m01 * (m01 * m22 - m12 * m02) + m02 * (m01 * m12 - m11 * m02)
      Array(
        (g(0) * (m11 * m22 - m12 * m12) - m01 * (g(1) * m22 - m12 * g(2)) +
          m02 * (g(1) * m12 - m11 * g(2))) / det,
        (m00 * (g(1) * m22 - m12 * g(2)) - g(0) * (m01 * m22 - m12 * m02) +
          m02 * (m01 * g(2) - g(1) * m02)) / det,
        (m00 * (m11 * g(2) - g(1) * m12) - m01 * (m01 * g(2) - g(1) * m02) +
          g(0) * (m01 * m12 - m11 * m02)) / det)
    }
    var b = {
      val m = Array(feats.size.toDouble, feats.map(_._1).sum,
        feats.map(_._2).sum, feats.map(f => f._1 * f._1).sum,
        feats.map(f => f._1 * f._2).sum, feats.map(f => f._2 * f._2).sum)
      val g = Array(feats.map(f => f._3 - 0.5).sum,
        feats.map(f => f._1 * (f._3 - 0.5)).sum,
        feats.map(f => f._2 * (f._3 - 0.5)).sum)
      solve3(m, g).map(_ * 4.0)
    }
    val (h, g2) = {
      val terms = feats.map { case (x1, x2, y) =>
        val p = 1.0 / (1.0 + math.exp(-(b(0) + b(1) * x1 + b(2) * x2)))
        (p * (1 - p), x1, x2, y - p)
      }
      (Array(terms.map(_._1).sum, terms.map(t => t._1 * t._2).sum,
        terms.map(t => t._1 * t._3).sum,
        terms.map(t => t._1 * t._2 * t._2).sum,
        terms.map(t => t._1 * t._2 * t._3).sum,
        terms.map(t => t._1 * t._3 * t._3).sum),
        Array(terms.map(_._4).sum, terms.map(t => t._4 * t._2).sum,
          terms.map(t => t._4 * t._3).sum))
    }
    val d = solve3(h, g2)
    val bf = Array(b(0) + d(0), b(1) + d(1), b(2) + d(2))
    assert(math.abs(r.getAs[Double]("b_intercept") - bf(0)) < 1e-3,
      s"intercept ${r.getAs[Double]("b_intercept")} vs ${bf(0)}")
    assert(math.abs(r.getAs[Double]("b_views") - bf(1)) < 1e-3,
      s"b_views ${r.getAs[Double]("b_views")} vs ${bf(1)}")
    assert(math.abs(r.getAs[Double]("b_errors") - bf(2)) < 1e-3,
      s"b_errors ${r.getAs[Double]("b_errors")} vs ${bf(2)}")
    assert(r.getAs[Double]("b_views") > 0.2,
      "the view-count signal must be recovered with a positive weight")
    val loss = r.getAs[Double]("log_loss")
    assert(loss > 0.0 && loss < 0.55,
      s"2-round fit must beat chance (ln 2 ≈ 0.693): $loss")
  }

  // ---- cluster_kcenter_init: greedy cover of planted clusters ---------

  test("kcenter init: first picks cover every planted cluster, radius curve is monotone") {
    // four well-separated clusters on distinct axes (plus tiny in-cluster
    // jitter) — greedy farthest-point from ANY start must touch all four
    // clusters within its first 4 picks (2-approximation property)
    def v(axis: Int, jit: Float): Array[Float] =
      Array.tabulate(64)(i => if (i == axis) 10.0f else if (i == axis + 32) jit else 0.0f)
    val rows = (0 until 4).flatMap { c =>
      (0 until 6).map(j => EmbRow(c * 100L + j, v(c, j * 0.01f), c))
    }
    val dir = fixtureDir("embeddings" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Vector.clusterKcenterInit(spark, dir)
      .collect().sortBy(_.getAs[Long]("seq"))
    assert(out.length == 5)
    assert(out(0).getAs[Long]("center_id") == 0L, "round 1 = lowest vec_id")
    assert(out(0).isNullAt(out(0).fieldIndex("sel_dist")),
      "round 1 has no selection distance")
    val clustersHit = out.take(4).map(_.getAs[Long]("center_id") / 100).toSet
    assert(clustersHit == Set(0L, 1L, 2L, 3L),
      s"first 4 picks must cover all 4 planted clusters: $clustersHit")
    // greedy property: sel_dist_t is the coverage radius of the first
    // t-1 centers, so the curve is monotone non-increasing
    val ds = out.drop(1).map(_.getAs[Double]("sel_dist"))
    ds.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-9, s"coverage radius must not increase: $a -> $b")
    }
    // after all 4 clusters are covered, the 5th pick's distance is an
    // IN-cluster distance — far below the ~200 between-cluster gap
    assert(ds(0) > 150.0 && ds(3) < 1.0,
      s"between-cluster vs in-cluster separation: ${ds.toSeq}")
  }

  // ---- embedding_matryoshka_eval: prefix-informative vs prefix-blind --

  test("matryoshka eval: prefix-only signal gives recall 1.0, suffix-only signal collapses it") {
    // A: all signal in dims 0..15 → 16-dim cosine == 64-dim cosine →
    // the rankings are identical and every probe's recall@5 is 1.0
    def prefixVec(u: Int): Array[Float] =
      Array.tabulate(64)(i => if (i < 16) math.sin(u * 7.3 + i).toFloat else 0.0f)
    val a = (0 until 30).map(u => EmbRow(u.toLong, prefixVec(u), 0))
    val dirA = fixtureDir("embeddings" -> spark.createDataset(a).toDF)
    val outA = graft.ops.Vector.embeddingMatryoshkaEval(spark, dirA).collect()
    assert(outA.length == 10)
    outA.foreach { r =>
      assert(r.getAs[Double]("recall_at5") == 1.0,
        s"prefix-only corpus must have perfect prefix recall: $r")
    }
    // B: dims 0..15 constant across the corpus (prefix carries zero
    // information), signal lives in dims 16.. — the truncated ranking
    // degenerates to the vec_id tie-break, so mean recall sits near
    // the chance level (5/29), far from 1.0
    def suffixVec(u: Int): Array[Float] =
      Array.tabulate(64)(i =>
        if (i < 16) 1.0f else math.sin(u * 7.3 + i).toFloat)
    val b = (0 until 30).map(u => EmbRow(u.toLong, suffixVec(u), 0))
    val dirB = fixtureDir("embeddings" -> spark.createDataset(b).toDF)
    val outB = graft.ops.Vector.embeddingMatryoshkaEval(spark, dirB).collect()
    val meanB = outB.map(_.getAs[Double]("recall_at5")).sum / outB.length
    assert(meanB < 0.7, s"prefix-blind corpus cannot keep full recall: $meanB")
  }

  // ---- sort_pareto_skyline: planted frontier, cross-bucket dominance --

  test("pareto skyline: planted frontier survives, dominated points and duplicates drop") {
    def bd(v: Double) = new java.math.BigDecimal(v)
      .setScale(2, java.math.RoundingMode.HALF_UP)
    // customer -> (per-order price, n_orders); spends span several 50k
    // buckets so dominance must cross the two-level bucket boundary
    val plan = Seq(
      (1L, 120000.0, 1),  // top spend, 1 order       -> frontier
      (2L, 30000.0, 3),   // spend 90k, 3 orders      -> frontier
      (3L, 20000.0, 2),   // spend 40k, 2 orders      -> dominated by 2 (90k, 3)
      (4L, 2000.0, 7),    // spend 14k, 7 orders      -> frontier
      (5L, 2000.0, 7),    // duplicate point of 4     -> dropped (lowest key wins)
      (6L, 1000.0, 5),    // spend 5k, 5 orders       -> dominated by 4
      (7L, 500.0, 9))     // spend 4.5k, 9 orders     -> frontier
    val rows = plan.flatMap { case (c, price, n) =>
      (0 until n).map(i => OrdRow10(c * 100 + i, c, "P", bd(price)))
    }
    val dir = fixtureDir("orders" -> spark.createDataset(rows).toDF)
    val out = Relational.sortParetoSkyline(spark, dir).collect()
    val got = out.map(r => (r.getAs[Long]("custkey"),
      r.getAs[Double]("total_spend"), r.getAs[Long]("n_orders"))).toSeq
    assert(got == Seq((1L, 120000.0, 1L), (2L, 90000.0, 3L),
      (4L, 14000.0, 7L), (7L, 4500.0, 9L)),
      s"frontier mismatch: $got")
  }

  // ---- agg_shapley_channel: the Shapley axioms on a planted game ------

  test("shapley attribution: null player gets 0, symmetric players tie, efficiency holds") {
    val base = ts("2024-03-01 00:00:00").getTime
    def ev(id: Long, u: Long, t: String) =
      EventRow(id, new Timestamp(base + id * 1000L), u, t, 1.0, "{}")
    // 30 users view-only (0% convert), 30 click-only (50%), 30 view+click
    // (50%): click carries ALL the signal, view is a null player
    val rows =
      (0 until 30).flatMap { i => Seq(ev(i * 10L, 100L + i, "view")) } ++
      (0 until 30).flatMap { i =>
        Seq(ev(1000 + i * 10L, 200L + i, "click")) ++
          (if (i < 15) Seq(ev(1000 + i * 10L + 1, 200L + i, "purchase")) else Nil)
      } ++
      (0 until 30).flatMap { i =>
        Seq(ev(2000 + i * 10L, 300L + i, "view"),
          ev(2000 + i * 10L + 1, 300L + i, "click")) ++
          (if (i < 15) Seq(ev(2000 + i * 10L + 2, 300L + i, "purchase")) else Nil)
      }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.aggShapleyChannel(spark, dir)
      .collect().map(r => r.getAs[String]("channel") -> r).toMap
    val phi = out.view.mapValues(_.getAs[Double]("shapley_value")).toMap
    // null player: view never changes any coalition's value
    assert(math.abs(phi("view")) < 1e-9, s"null player must get 0: $phi")
    // click carries it: 0.25*0.5 + (1/12)*0.5 = 1/6
    assert(math.abs(phi("click") - 1.0 / 6.0) < 1e-5, s"click: $phi")
    // symmetry: signup and error are interchangeable (both absent)
    assert(phi("signup") == phi("error"), s"symmetric players must tie: $phi")
    // efficiency: sum of phis = v(grand coalition) - v(empty) = 0 here
    // (each output is r6-floored, so the identity holds to 4 half-ulps)
    assert(math.abs(phi.values.sum) < 2e-6, s"efficiency: $phi")
    assert(out("view").getAs[Long]("n_exposed") == 60L)
    assert(out("click").getAs[Long]("n_exposed") == 60L)
    assert(out("signup").getAs[Long]("n_exposed") == 0L)
  }

  // ---- stream_decay_topk: batch value == the streaming state machine --

  test("decay topk: matches the sequential decayed-counter state machine; half-life is 7 days") {
    val base = ts("2024-03-01 00:00:00").getTime
    val day = 86400000L
    // user 1: value 8 today; user 2: value 8 seven days ago (half);
    // user 3: drip of 1/day for 10 days
    val rows = Seq(
      EventRow(1, new Timestamp(base + 20 * day), 1L, "click", 8.0, "{}"),
      EventRow(2, new Timestamp(base + 13 * day), 2L, "click", 8.0, "{}")) ++
      (0 until 10).map(i =>
        EventRow(10 + i, new Timestamp(base + (11 + i) * day), 3L, "click", 1.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = StreamingModel.decayTopk(spark, dir)
      .collect().map(r => r.getAs[Long]("user_id") -> r).toMap
    assert(math.abs(out(1L).getAs[Double]("decayed_score") - 8.0) < 1e-3,
      "an event AT t_max carries full weight")
    assert(math.abs(out(2L).getAs[Double]("decayed_score") - 4.0) < 1e-3,
      "an event one half-life old carries half weight")
    // sequential state machine: score' = score * 2^(-gap/7d) + v
    val evs3 = rows.filter(_.user_id == 3L).sortBy(_.ts.getTime)
    val tMax = rows.map(_.ts.getTime).max
    def decay(ms: Long) = math.pow(2.0, -ms.toDouble / (7.0 * day))
    var (score, last) = (0.0, evs3.head.ts.getTime)
    evs3.foreach { e =>
      score = score * decay(e.ts.getTime - last) + e.value; last = e.ts.getTime
    }
    score *= decay(tMax - last)
    assert(math.abs(out(3L).getAs[Double]("decayed_score") - score) < 1e-3,
      s"batch decayed sum must equal the streaming counter: $score")
  }

  // ---- agg_markov_attribution: removal effects on a planted chain -----

  test("markov attribution: a mandatory hop gets effect 1, an absent channel gets 0") {
    val base = ts("2024-03-01 00:00:00").getTime
    def ev(id: Long, u: Long, t: String, k: Int) =
      EventRow(id, new Timestamp(base + id * 60000L + k * 1000L), u, t, 1.0, "{}")
    // 5 users convert start->click->purchase; 5 users start->view->(null)
    val rows = (0 until 5).flatMap { i =>
      Seq(ev(i * 10L, 100L + i, "click", 0), ev(i * 10L, 100L + i, "purchase", 1))
    } ++ (0 until 5).map { i => ev(500 + i * 10L, 200L + i, "view", 0) }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.aggMarkovAttribution(spark, dir)
      .collect().map(r => r.getAs[String]("channel") -> r).toMap
    assert(out("click").getAs[Long]("n_paths") == 10L)
    assert(math.abs(out("click").getAs[Double]("p_full") - 0.5) < 1e-9,
      "half the journeys convert")
    // every conversion passes through click: removing it kills them all
    assert(math.abs(out("click").getAs[Double]("removal_effect") - 1.0) < 1e-9,
      s"mandatory hop: ${out("click")}")
    // view only appears on non-converting paths: removing it changes nothing
    assert(math.abs(out("view").getAs[Double]("removal_effect")) < 1e-9,
      s"dead-end channel: ${out("view")}")
    // signup never appears at all
    assert(math.abs(out("signup").getAs[Double]("removal_effect")) < 1e-9)
    assert(math.abs(out("signup").getAs[Double]("p_removed") - 0.5) < 1e-9)
  }

  // ---- pipe_mixture_weights: planted skew, exact shares ---------------

  test("mixture weights: shares and upsampling weights are exact; >2x is capped") {
    def doc(id: Long, src: String, nTok: Int) =
      DocRow(id, (1 to nTok).map(i => s"t$i").mkString(" "), "en", src, 0L)
    // token masses 600 / 300 / 100 over three sources; target = 1/3 each
    val rows = (0 until 6).map(i => doc(i.toLong, "A", 100)) ++
      (0 until 3).map(i => doc(10L + i, "B", 100)) ++
      Seq(doc(20L, "C", 100))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = PipelineOps.pipeMixtureWeights(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(math.abs(out("A").getAs[Double]("actual_share") - 0.6) < 1e-9)
    assert(math.abs(out("A").getAs[Double]("target_share") - 1.0 / 3) < 1e-6)
    assert(math.abs(out("A").getAs[Double]("weight") - 1.0 / 3 / 0.6) < 1e-5)
    assert(!out("A").getAs[Boolean]("upsample_capped"))
    assert(math.abs(out("C").getAs[Double]("weight") - 1.0 / 3 / 0.1) < 1e-5)
    assert(out("C").getAs[Boolean]("upsample_capped"),
      "a 3.3x upsample must be flagged")
    assert(out("B").getAs[Long]("n_tokens") == 300L)
  }

  // ---- pipe_shard_plan: exact boundaries, contiguous shards -----------

  test("shard plan: 800-token docs pack 2000-token shards exactly; shards are contiguous") {
    def doc(id: Long) =
      DocRow(id, (1 to 800).map(i => s"t$i").mkString(" "), "en", "s", 0L)
    val rows = (1L to 9L).map(doc)
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = PipelineOps.pipeShardPlan(spark, dir)
      .collect().sortBy(_.getAs[Long]("shard_id"))
    // exclusive cums 0,800,1600,2400,... div 2000 -> shards 0,0,0,1,1,2,2,2,3
    val sizes = out.map(r => r.getAs[Long]("shard_id") -> r.getAs[Long]("n_docs"))
    assert(sizes.toSeq == Seq(0L -> 3L, 1L -> 2L, 2L -> 3L, 3L -> 1L),
      s"shard packing: ${sizes.toSeq}")
    // shards are contiguous doc-id ranges (prefix-sum order preserved)
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("max_doc") < b.getAs[Long]("min_doc"),
        "shards must be contiguous, non-overlapping ranges")
    }
    assert(out.map(_.getAs[Long]("n_tokens")).sum == 7200L)
  }

  // ---- embedding_label_drift: planted stable vs drifted label ---------

  test("label drift: a stable label scores cosine 1 / shift 0; an axis-flip scores -1") {
    def v(axis: Int, mag: Float): Array[Float] =
      Array.tabulate(64)(i => if (i == axis) mag else 0.0f)
    // label 0: both halves on +e0 (stable); label 1: even vec_ids on +e1,
    // odd on -e1 (direction flip -> cosine -1, shift 2*mag)
    val rows =
      (0 until 10).map(i => EmbRow(i.toLong, v(0, 2.0f), 0)) ++
      (0 until 10).map(i => EmbRow(100L + i,
        v(1, if (i % 2 == 0) 3.0f else -3.0f), 1))
    val dir = fixtureDir("embeddings" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Vector.embeddingLabelDrift(spark, dir)
      .collect().map(r => r.getAs[Long]("label") -> r).toMap
    assert(math.abs(out(0L).getAs[Double]("cos_between_halves") - 1.0) < 1e-6)
    assert(math.abs(out(0L).getAs[Double]("shift_l2")) < 1e-6,
      "identical halves must show zero shift")
    assert(math.abs(out(1L).getAs[Double]("cos_between_halves") + 1.0) < 1e-6,
      "an axis flip between halves is cosine -1")
    assert(math.abs(out(1L).getAs[Double]("shift_l2") - 6.0) < 1e-5,
      "centroids at +3 and -3 on one axis sit 6 apart")
    assert(out(0L).getAs[Long]("n_first") == 5L &&
      out(0L).getAs[Long]("n_second") == 5L)
  }

  // ---- agg_cuped_adjustment: removes the pre-period imbalance ---------

  test("cuped: recovers theta=2 on a planted linear covariate and de-biases the readout") {
    val base = ts("2024-03-01 00:00:00").getTime
    val day = 86400000L
    // y = 2x + 10*T with x correlated with the arm (evens are larger):
    // the raw diff overstates the +10 effect; CUPED must pull it back
    val rows = (1L to 20L).flatMap { u =>
      val t = if (u % 2 == 0) 1 else 0
      Seq(
        EventRow(u * 10, new Timestamp(base + 2 * day), u, "purchase",
          u.toDouble, "{}"),
        EventRow(u * 10 + 1, new Timestamp(base + 15 * day), u, "purchase",
          2.0 * u + 10.0 * t, "{}"),
        // span anchors so the window midpoint is stable
        EventRow(u * 10 + 2, new Timestamp(base), u, "view", 1.0, "{}"),
        EventRow(u * 10 + 3, new Timestamp(base + 19 * day), u, "view", 1.0, "{}"))
    }
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val r = Relational.aggCupedAdjustment(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_users") == 20L)
    assert(r.getAs[Long]("n_treatment") == 10L)
    val theta = r.getAs[Double]("theta")
    assert(theta > 1.9 && theta < 2.3, s"theta must track the planted 2: $theta")
    // y = 2x + 10T: the arm effect itself is variance x cannot explain,
    // so rho^2 sits below 1 even with a noise-free covariate
    assert(r.getAs[Double]("var_reduction") > 0.8,
      "a near-deterministic covariate must remove most variance")
    val raw = r.getAs[Double]("diff_raw")
    val adj = r.getAs[Double]("diff_cuped")
    assert(raw > 11.0, s"arm-correlated x inflates the raw readout: $raw")
    assert(math.abs(adj - 10.0) < math.abs(raw - 10.0),
      s"CUPED must move toward the true +10: raw=$raw adj=$adj")
    assert(math.abs(adj - 10.0) < 1.5, s"adjusted readout near truth: $adj")
  }

  // ---- text_code_detect: planted code vs prose ------------------------

  test("code detect: brace-dense docs flag, prose does not, density is exact") {
    val code = "def f(x) { return g(x); } val y = [1]; while (y) { h(); }"
    val prose = "the quick brown fox jumps over the lazy dog again and again"
    val rows =
      (0 until 4).map(i => DocRow(i.toLong, code, "en", "code", code.length.toLong)) ++
      (0 until 4).map(i => DocRow(10L + i, prose, "en", "prose", prose.length.toLong))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Text.codeDetect(spark, dir)
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    val punct = code.count("{}();=[]".contains(_))
    val expected = math.floor(punct.toDouble / code.length * 1e6 + 0.5) / 1e6
    assert(out("code").getAs[Long]("n_code_like") == 4L, s"${out("code")}")
    assert(math.abs(out("code").getAs[Double]("avg_density") - expected) < 1e-9,
      s"density must be the exact char ratio: $expected vs ${out("code")}")
    assert(out("prose").getAs[Long]("n_code_like") == 0L)
    assert(out("prose").getAs[Double]("avg_density") == 0.0)
  }

  // ---- agg_overdispersion_nb: planted NB vs constant counts -----------

  test("overdispersion: a heavy-tail count mix fits NB; constant counts give no fit") {
    val base = ts("2024-03-01 00:00:00").getTime
    def burst(u: Long, k: Int, idBase: Long): Seq[EventRow] =
      (0 until k).map(j => EventRow(idBase + j,
        new Timestamp(base + j * 1000L), u, "click", 1.0, "{}"))
    // counts [1,1,1,1,16]: mean 4, pop var 36 -> D = 9, r = 0.5, p = 1/9
    val rows = (1L to 4L).flatMap(u => burst(u, 1, u * 100)) ++
      burst(5L, 16, 1000)
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val r = Relational.aggOverdispersionNb(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_users") == 5L)
    assert(math.abs(r.getAs[Double]("mean_events") - 4.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("var_events") - 36.0) < 1e-9)
    assert(math.abs(r.getAs[Double]("dispersion_index") - 9.0) < 1e-9)
    assert(r.getAs[Boolean]("overdispersed"))
    assert(math.abs(r.getAs[Double]("nb_r") - 0.5) < 1e-9,
      "method of moments: r = m^2/(v-m) = 16/32")
    assert(math.abs(r.getAs[Double]("nb_p") - 4.0 / 36.0) < 1e-6)
    // constant counts: variance 0, D = 0, no NB fit exists
    val flat = (1L to 5L).flatMap(u => burst(u, 3, u * 100))
    val dir2 = fixtureDir("events" -> spark.createDataset(flat).toDF)
    val r2 = Relational.aggOverdispersionNb(spark, dir2).collect()(0)
    assert(!r2.getAs[Boolean]("overdispersed"))
    assert(r2.isNullAt(r2.fieldIndex("nb_r")),
      "at-or-under Poisson dispersion must yield NULL NB params")
  }

  // ---- cluster_centroid_classify: separable vs shuffled labels --------

  test("centroid classify: separable labels score 1.0; label-blind vectors sit near chance") {
    def v(axis: Int, jit: Float): Array[Float] =
      Array.tabulate(64)(i =>
        if (i == axis) 5.0f else if (i == axis + 32) jit else 0.0f)
    // separable: each label on its own axis
    val a = (0 until 4).flatMap { l =>
      (0 until 8).map(j => EmbRow(l * 100L + j, v(l, j * 0.1f), l))
    }
    val dirA = fixtureDir("embeddings" -> spark.createDataset(a).toDF)
    val outA = graft.ops.Vector.clusterCentroidClassify(spark, dirA).collect()
    assert(outA.length == 4)
    outA.foreach { r =>
      assert(r.getAs[Double]("accuracy") == 1.0,
        s"axis-separated labels must classify perfectly: $r")
      assert(r.getAs[Long]("n_vectors") == 8L)
    }
    // label-blind: identical geometry for every label -> centroids
    // coincide and ties all break to the LOWEST label, so only label 0
    // scores (the deterministic tie rule, pinned here)
    val b = (0 until 4).flatMap { l =>
      (0 until 8).map(j => EmbRow(l * 100L + j, v(0, j * 0.1f), l))
    }
    val dirB = fixtureDir("embeddings" -> spark.createDataset(b).toDF)
    val outB = graft.ops.Vector.clusterCentroidClassify(spark, dirB)
      .collect().map(r => r.getAs[Long]("label") -> r).toMap
    assert(outB(0L).getAs[Double]("accuracy") == 1.0,
      "coincident centroids tie-break to the lowest label")
    (1L to 3L).foreach(l =>
      assert(outB(l).getAs[Double]("accuracy") == 0.0, s"label $l: ${outB(l)}"))
  }
}
