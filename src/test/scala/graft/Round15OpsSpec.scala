package graft

import java.sql.Timestamp
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{Relational, Text, Vector}

/** Planted-structure tests for the round-15 operators — each fixture
  * builds a configuration whose answer is known on paper, so a logic
  * slip shows up as a wrong VALUE, not just a gate mismatch. */
class Round15OpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  // ---- agg_jackknife_variance: degenerate-corpus guard ----------------

  test("jackknife variance: a single-day corpus yields NULL se/ci, not NaN") {
    val base = ts("2024-03-01 10:00:00").getTime
    val rows = (0L until 5L).map(i =>
      EventRow(i, new Timestamp(base + i * 1000L), 1L, "c", 2.0, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.aggJackknifeVariance(spark, dir).collect().head
    assert(out.getAs[Long]("n_blocks") == 1L)
    assert(out.getAs[Double]("theta_hat") == 2.0)
    assert(out.isNullAt(out.fieldIndex("jk_se")), "jk_se must be NULL")
    assert(out.isNullAt(out.fieldIndex("ci_lo")) &&
      out.isNullAt(out.fieldIndex("ci_hi")))
  }

  // ---- text_pii_scrub: hand-counted span routing ----------------------

  test("pii_scrub: injected span counts route docs to scrub vs quarantine") {
    // spans per doc: email = id%3, ip = 1, phone = id%2
    //   id 0: 1 span (scrub)   id 1: 3 (quarantine)  id 2: 3 (quarantine)
    //   id 3: 2 (scrub)        id 4: 2 (scrub)       id 5: 4 (quarantine)
    val rows = (0L to 5L).map(i => DocRow(i, "clean text body", "en", "s0", 15L))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Text.piiScrub(spark, dir).collect()
    assert(out.length == 2)
    val m = out.map(r => r.getAs[String]("action") -> r).toMap
    assert(m("scrub").getAs[Long]("n_docs") == 3L)
    assert(m("quarantine").getAs[Long]("n_docs") == 3L)
    assert(m("scrub").getAs[Long]("n_email") == 1L)      // 0%3 + 3%3 + 4%3
    assert(m("quarantine").getAs[Long]("n_email") == 5L) // 1 + 2 + 2
    assert(m("scrub").getAs[Long]("n_phone") == 1L)
    assert(m("quarantine").getAs[Long]("n_phone") == 2L)
    assert(out.forall(r => r.getAs[Long]("n_ip") == 3L))
    assert(out.forall(r => r.getAs[Long]("chars_redacted") > 0L))
  }

  // ---- dedup_bow_fingerprint: permuted copies collapse ----------------

  test("bow fingerprint: token-permuted copies collapse into one group exact dedup misses") {
    val rows = Seq(
      DocRow(0L, "alpha beta gamma", "en", "s0", 16L),
      DocRow(1L, "gamma beta alpha", "en", "s0", 16L), // permuted dup of 0
      DocRow(2L, "alpha beta gamma", "en", "s0", 16L), // exact dup of 0
      DocRow(3L, "delta", "en", "s0", 5L))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Text.dedupBowFingerprint(spark, dir).collect()
    assert(out.length == 2, s"expected 2 bow groups: ${out.mkString(",")}")
    val g = out.find(_.getAs[Long]("doc_id") == 0L).get
    assert(g.getAs[Long]("n_copies") == 3L)
    assert(g.getAs[Long]("n_exact_variants") == 2L,
      "the permuted copy must be a distinct byte-level variant")
    val d = out.find(_.getAs[Long]("doc_id") == 3L).get
    assert(d.getAs[Long]("n_copies") == 1L &&
      d.getAs[Long]("n_exact_variants") == 1L)
  }

  // ---- text_langid_ngram: structurally separable languages ------------

  test("langid ngram: rank profiles give a diagonal confusion matrix on separable langs") {
    val rows = Seq(
      DocRow(0L, "aa aa aa aa", "aaa", "s0", 11L),
      DocRow(1L, "aa aa aa ab", "aaa", "s0", 11L),
      DocRow(2L, "zz zz zz zz", "zzz", "s0", 11L),
      DocRow(3L, "zz zz zz zy", "zzz", "s0", 11L))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Text.langidNgram(spark, dir).collect()
    val cells = out.map(r => (r.getAs[String]("lang"),
      r.getAs[String]("predicted"), r.getAs[Long]("n_docs"))).toSet
    assert(cells == Set(("aaa", "aaa", 2L), ("zzz", "zzz", 2L)),
      s"confusion matrix not diagonal: $cells")
    // doc 0's own top bigrams match the aaa profile ranks exactly → oop 0
    val diag = out.find(_.getAs[String]("lang") == "aaa").get
    assert(diag.getAs[Double]("avg_oop") < 20.0,
      "in-language distance must beat one full missing-bigram penalty")
  }

  // ---- multimodal_keyframe_neardup: identical payloads ----------------

  test("keyframe neardup: identical payloads share every keyframe (jaccard 1)") {
    val t1 = (0 until 128).map(i => ('a' + (i * 7 % 26)).toChar).mkString
    val t2 = t1.reverse
    val rows = Seq(
      DocRow(0L, t1, "en", "s0", 128L),
      DocRow(1L, t1, "en", "s0", 128L), // byte-identical: all 8 frames shared
      DocRow(2L, t2, "en", "s0", 128L))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = Vector.multimodalKeyframeNeardup(spark, dir).collect()
    val top = out.head
    assert((top.getAs[Long]("d1"), top.getAs[Long]("d2")) == ((0L, 1L)))
    assert(top.getAs[Double]("kf_jaccard") == 1.0)
    assert(top.getAs[Boolean]("within_threshold"))
    assert(top.getAs[Long]("k1") == top.getAs[Long]("n_shared"))
    // the reversed payload must not be a within-threshold near-dup of 0/1
    assert(!out.exists(r => r.getAs[Long]("d2") == 2L &&
      r.getAs[Boolean]("within_threshold")))
  }

  // ---- agg_reservoir_sample: sketch vs rank-window cross-check --------

  test("reservoir sample: min-k sketch selection matches an independent rank-window spelling") {
    val base = ts("2024-01-01 00:00:00").getTime
    val rows = (0L until 40L).map(i => EventRow(i,
      new Timestamp(base + i * 1000L), i % 5, "t0", (i % 7).toDouble, "{}")) ++
      (1000L until 1010L).map(i => EventRow(i,
        new Timestamp(base), 1L, "t1", 2.5, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    val out = Relational.aggReservoirSample(spark, dir).collect()
    val m = out.map(r => r.getAs[String]("event_type") -> r).toMap
    assert(m("t0").getAs[Long]("n_total") == 40L &&
      m("t0").getAs[Long]("n_sample") == 32L, "k caps the sample")
    assert(m("t1").getAs[Long]("n_total") == 10L &&
      m("t1").getAs[Long]("n_sample") == 10L, "small group keeps all rows")
    assert(m("t1").getAs[Double]("sample_mean") == 2.5 &&
      m("t1").getAs[Double]("pop_mean") == 2.5)
    // independent spelling: rank by (prio, id) per type, take 32, mean
    val h48 = conv(substring(
      md5(col("event_id").cast("string").cast("binary")), 1, 12), 16, 10)
      .cast("long")
    val sel = spark.read.parquet(s"$dir/events.parquet")
      .withColumn("prio", shiftright(h48, 34))
      .withColumn("rn", row_number().over(
        Window.partitionBy("event_type").orderBy("prio", "event_id")))
      .filter(col("rn") <= 32 && col("event_type") === "t0")
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("c"),
        count(lit(1)).as("n")).collect().head
    val expMean = math.floor(sel.getAs[Long]("c").toDouble / 100.0 /
      sel.getAs[Long]("n").toDouble * 1e6 + 0.5) / 1e6
    assert(m("t0").getAs[Double]("sample_mean") == expMean,
      "sketch-selected sample diverges from the rank-window selection")
  }

  // ---- agg_winsorized_mean: hand-computed clamp -----------------------

  test("winsorized mean: tails clamp to the exact interpolated p05/p95") {
    // values 0..20: p05 = idx 1.0 → 1.0, p95 = idx 19.0 → 19.0
    // clamped sum = 1 + (1..19) + 19 = 210 → mean 10.0
    val rows = (0 to 20).map(q =>
      LineRow(q.toLong, q.toDouble, 100.0, 0.0, 0.0, "A", "O"))
    val dir = fixtureDir("lineitem" -> spark.createDataset(rows).toDF)
    val out = Relational.aggWinsorizedMean(spark, dir).collect().head
    assert(out.getAs[Long]("n") == 21L)
    assert(out.getAs[Long]("n_lo") == 1L && out.getAs[Long]("n_hi") == 1L)
    assert(out.getAs[Double]("p05") == 1.0 && out.getAs[Double]("p95") == 19.0)
    assert(out.getAs[Double]("win_mean_qty") == 10.0)
  }

  // ---- embedding_norm_outlier: hand-computed 2σ flag ------------------

  test("norm outlier: a 10x-norm vector flags beyond 2 sigma") {
    // five unit norms (m=1000) + one norm-10 (m=10000):
    //   mean_m = 2500, var_m = (1.05e8 − 3.75e7)/5 = 1.35e7, sd ≈ 3674.23
    //   |10000−2500| = 7500 > 2sd ≈ 7348 → outlier; |1000−2500| = 1500 → not
    val rows = (0 until 5).map(i => EmbRow(i.toLong, Array(1.0f, 0.0f), 0)) :+
      EmbRow(5L, Array(10.0f, 0.0f), 0)
    val dir = fixtureDir("embeddings" -> spark.createDataset(rows).toDF)
    val out = Vector.embeddingNormOutlier(spark, dir).collect().head
    assert(out.getAs[Long]("n") == 6L)
    assert(out.getAs[Long]("n_outliers") == 1L)
    assert(out.getAs[Long]("first_outlier_id") == 5L)
    assert(out.getAs[Long]("min_norm_milli") == 1000L &&
      out.getAs[Long]("max_norm_milli") == 10000L)
    assert(out.getAs[Double]("mean_norm") == 2.5)
    val expSd = math.floor(math.sqrt(1.35e7) / 1000.0 * 1e6 + 0.5) / 1e6
    assert(out.getAs[Double]("sd_norm") == expSd)
  }
}
