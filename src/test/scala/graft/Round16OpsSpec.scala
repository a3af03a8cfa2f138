package graft

import org.scalatest.funsuite.AnyFunSuite

/** Planted-structure tests for the round-16 operators — each fixture
  * builds a configuration whose answer is known on paper, so a logic
  * slip shows up as a wrong VALUE, not just a gate mismatch. */
class Round16OpsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  // ---- agg_conformal_interval: constant-target group -----------------

  test("conformal interval: a constant-target group gives a zero-width interval with full coverage") {
    // All residuals are 0 in every split, so mu = y, q = 0, lo = hi = y,
    // and the test split is covered exactly 100% — the split-conformal
    // arithmetic has nowhere to hide.
    val rows = (1L to 40L).map(ok => (ok, 1, 50.0, "A"))
    val dir = fixtureDir("lineitem" -> rows.toDF(
      "l_orderkey", "l_linenumber", "l_extendedprice", "l_returnflag"))
    val out = graft.ops.Relational.aggConformalInterval(spark, dir).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_cal") +
      r.getAs[Long]("n_test") == 40L, "three splits must partition the rows")
    assert(r.getAs[Double]("mu") == 50.0)
    assert(r.getAs[Double]("q_width") == 0.0)
    assert(r.getAs[Double]("lo") == 50.0 && r.getAs[Double]("hi") == 50.0)
    assert(r.getAs[Double]("coverage") == 1.0)
  }

  // ---- join_asof_grouped_backfill: hand-built SCD2 timeline ----------

  test("asof grouped backfill: version pick, same-instant visibility, backfill, and the NONE sentinel") {
    val orders = Seq(
      OrderRow(1L, 1L, "O", 10.0, ts("2024-01-10 00:00:00"), "P1"),
      OrderRow(2L, 1L, "O", 10.0, ts("2024-01-20 00:00:00"), "P2"),
      // same day, higher orderkey — must win the day's version
      OrderRow(3L, 1L, "O", 10.0, ts("2024-01-20 00:00:00"), "P3"))
    val events = Seq(
      EventRow(100L, ts("2024-01-05 12:00:00"), 1L, "click", 1.0, "{}"),
      EventRow(101L, ts("2024-01-15 12:00:00"), 1L, "click", 1.0, "{}"),
      EventRow(102L, ts("2024-01-20 00:00:00"), 1L, "click", 1.0, "{}"),
      EventRow(103L, ts("2024-01-25 12:00:00"), 1L, "click", 1.0, "{}"),
      EventRow(104L, ts("2024-01-25 12:00:00"), 2L, "click", 1.0, "{}"))
    val dir = fixtureDir(
      "orders" -> spark.createDataset(orders).toDF,
      "events" -> spark.createDataset(events).toDF)
    val out = graft.ops.Relational.joinAsofGroupedBackfill(spark, dir)
      .collect().map(r => r.getAs[Long]("event_id") ->
        (r.getAs[String]("tier"), r.getAs[String]("src"),
          r.getAs[String]("tier_from_s"))).toMap
    assert(out(100L) == (("P1", "backfill", "2024-01-10")),
      s"pre-history fact must backfill to the first version: ${out(100L)}")
    assert(out(101L) == (("P1", "asof", "2024-01-10")))
    assert(out(102L) == (("P3", "asof", "2024-01-20")),
      "same-instant version must be visible and the max-orderkey order " +
        s"must win the day: ${out(102L)}")
    assert(out(103L) == (("P3", "asof", "2024-01-20")))
    assert(out(104L)._1 == "NONE" && out(104L)._2 == "none",
      s"no-dimension entity must hit the sentinel: ${out(104L)}")
  }

  // ---- multimodal_av_sync_drift: uniform-payload slope ----------------

  test("av sync drift: a uniform payload isolates the clock skew as the exact per-frame slope") {
    // text = 96 identical chars → every frame slice hashes to the SAME
    // jitter, so drift_f = f·skew − j and the fitted per-frame slope is
    // exactly the asset's skew; 1-frame payloads get a NULL slope.
    val rows = Seq(DocRow(1L, "a" * 96, "en", "s0", 96L),
      DocRow(2L, "xy", "en", "s0", 2L))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Vector.multimodalAvSyncDrift(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d1 = out(1L)
    assert(d1.getAs[Long]("n_frames") == 8L)
    assert(d1.getAs[Double]("drift_per_frame") ==
      d1.getAs[Long]("skew").toDouble,
      "uniform jitter must make the slope equal the skew exactly")
    assert(d1.getAs[Long]("end_drift") - d1.getAs[Long]("first_drift") ==
      7L * d1.getAs[Long]("skew"))
    // the 520 µs gate sits beyond the ±500 µs jitter envelope: jitter
    // alone can never fire it, only compounded skew can — assert the
    // flag is exactly the recomputed rule, and that it is SATISFIABLE
    // (a planted max-skew asset with opposing extreme jitter crosses)
    assert(d1.getAs[Boolean]("out_of_sync") ==
      (d1.getAs[Long]("max_abs_drift") > 520L),
      "gate must equal max|drift| > 520")
    val crossing = (0 until 4000).map { i =>
      val t = "b" * 40 + i.toString
      DocRow(10L + i, t, "en", "s0", t.length.toLong)
    }
    val dir2 = fixtureDir("documents" -> spark.createDataset(crossing).toDF)
    val out2 = graft.ops.Vector.multimodalAvSyncDrift(spark, dir2).collect()
    assert(out2.forall(r => r.getAs[Boolean]("out_of_sync") ==
      (r.getAs[Long]("max_abs_drift") > 520L)))
    assert(out2.exists(_.getAs[Boolean]("out_of_sync")),
      "the 520 µs gate must be satisfiable on a varied corpus")
    assert(out2.exists(!_.getAs[Boolean]("out_of_sync")),
      "the 520 µs gate must not fire on every asset")
    val d2 = out(2L)
    assert(d2.getAs[Long]("n_frames") == 1L)
    assert(d2.isNullAt(d2.fieldIndex("drift_per_frame")),
      "a single-frame payload has no slope")
  }

  // ---- simsearch_bucket_audit: hand-built sign pattern -----------------

  test("bucket audit: hand-planted sign patterns give exact bucket counts at both key widths") {
    def vec(sign: Int => Float): Array[Float] =
      Array.tabulate(64)(i => sign(i))
    val rows = Seq(
      EmbRow(1L, vec(_ => 1f), 0),
      EmbRow(2L, vec(_ => 1f), 0),        // same bucket as vec 1
      EmbRow(3L, vec(_ => -1f), 1),       // all-zeros bucket
      EmbRow(4L, vec(i => if (i == 0) -1f else 1f), 2)) // flips bit 1
    val dir = fixtureDir("embeddings" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Vector.simsearchBucketAudit(spark, dir).collect()
      .map(r => r.getAs[Long]("srp_bits") -> r).toMap
    Seq(8L, 16L).foreach { bits =>
      val r = out(bits)
      assert(r.getAs[Long]("n_vecs") == 4L)
      assert(r.getAs[Long]("n_buckets") == 3L)
      assert(r.getAs[Long]("max_bucket") == 2L)
      assert(r.getAs[Long]("n_over_cap") == 0L)
      assert(r.getAs[Long]("capped_excess") == 0L)
    }
    assert(out(8L).getAs[Double]("skew_x") == 128.0)   // 2·256/4
    assert(out(16L).getAs[Double]("skew_x") == 32768.0) // 2·65536/4
  }

  // ---- text_tokenizer_fertility: hand-replayable BPE -------------------

  test("tokenizer fertility: single-token docs stay fertility 1, a merged pair halves it") {
    // 'aa' has no adjacent pair (1 token); 'bbb b' has exactly one, which
    // round 1 merges; then training stops. So en: 1 word → 1 token,
    // fertility 1, bytes/token 2; fr: 2 words → 1 token, fertility 0.5,
    // bytes/token 5 (the space survives in the byte count).
    val rows = Seq(DocRow(1L, "aa", "en", "s0", 2L),
      DocRow(2L, "bbb b", "fr", "s0", 5L))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Text.tokenizerFertility(spark, dir).collect()
      .map(r => r.getAs[String]("lang") -> r).toMap
    assert(out("en").getAs[Long]("n_words") == 1L)
    assert(out("en").getAs[Long]("n_tokens") == 1L)
    assert(out("en").getAs[Double]("fertility") == 1.0)
    assert(out("en").getAs[Double]("bytes_per_token") == 2.0)
    assert(out("fr").getAs[Long]("n_words") == 2L)
    assert(out("fr").getAs[Long]("n_tokens") == 1L,
      "the bbb|b pair must merge in round 1")
    assert(out("fr").getAs[Double]("fertility") == 0.5)
    assert(out("fr").getAs[Double]("bytes_per_token") == 5.0)
  }

  // ---- dedup_exact_substring: planted shared run -----------------------

  test("exact substring dedup: a planted 30-char shared run is recovered as one maximal interval") {
    // shared is 30 DISTINCT chars (no self-repetition), embedded at
    // different offsets in two docs. k=24 ⇒ 7 duplicated grams per doc,
    // one run, dup_chars = 30 exactly — position arithmetic has to be
    // exact for max−min+k to land on the planted length.
    val shared = "abcdefghijklmnopqrstuvwxyz0123"
    val rows = Seq(
      DocRow(1L, shared + "WXYZ", "en", "s0", 34L),
      DocRow(2L, "PQRS" + shared, "en", "s1", 34L),
      DocRow(3L, "short unique txt", "en", "s2", 16L))
    val dir = fixtureDir("documents" -> spark.createDataset(rows).toDF)
    val out = graft.ops.Text.dedupExactSubstring(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    Seq(1L, 2L).foreach { id =>
      val r = out(id)
      assert(r.getAs[Long]("n_grams_total") == 11L) // 34 − 24 + 1
      assert(r.getAs[Long]("n_dup_grams") == 7L, s"doc $id: $r")
      assert(r.getAs[Long]("n_runs") == 1L)
      assert(r.getAs[Long]("dup_chars") == 30L,
        s"doc $id: interval union must recover the planted length: $r")
      assert(r.getAs[Long]("longest_run_chars") == 30L)
      assert(r.getAs[Double]("dup_ratio") == graft.ops.Util.r6D(30.0 / 34.0))
    }
    val d3 = out(3L)
    assert(d3.getAs[Long]("n_grams_total") == 0L)
    assert(d3.getAs[Long]("n_dup_grams") == 0L &&
      d3.getAs[Long]("dup_chars") == 0L)
  }

  // ---- pipe_avro_roundtrip: the source itself ---------------------------

  test("avro source: write-read roundtrip is lossless, nulls survive, and pruning reaches the reader schema") {
    import org.apache.spark.sql.functions.{col, when}
    val df = spark.range(0, 100, 1, 3)
      .select(col("id"),
        when(col("id") % 10 =!= 0, col("id").cast("string"))
          .as("s"), // nulls every 10th row
        (col("id") * 2).cast("double").as("d"),
        (col("id") % 2 === 0).as("b"))
    val out = tempDir("graft_avro_")
    graft.sources.AvroFiles.writeAvro(df, out)
    assert(new java.io.File(out).listFiles()
      .count(_.getName.endsWith(".avro")) == 3,
      "one container file per partition")
    val back = spark.read.format("graft.sources.AvroFilesSource").load(out)
    // inferred schema must match the written one (names, types, order)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet,
      "roundtrip must be value-lossless including nulls")
    // column pruning reaches the scan: the DSv2 description advertises
    // the pruned ReadSchema
    val pruned = back.select("s").queryExecution.executedPlan.toString
    assert(pruned.contains("ReadSchema=[s]"),
      s"pruned scan must read only [s]:\n$pruned")
  }
}
