package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftExtensions

/** Exercises the SQL-registry path on the shared live session (builder-time
  * SparkSessionExtensions can't attach to an existing session, so the test
  * uses the runtime install point — same builder, same registry entry). */
class ExtensionsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("dot_product_float is callable from SQL after registration") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT dot_product_float(
           CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>),
           CAST(array(4.0, 5.0, 6.0) AS ARRAY<FLOAT>)) AS d""").collect()(0)
    assert(r.getAs[Double]("d") == 32.0)
  }

  test("char_entropy: known distributions, empty, null, astral plane") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT char_entropy('aaaa') AS h0, char_entropy('abab') AS h1,
                char_entropy('abcd') AS h2, char_entropy('') AS he,
                char_entropy(CAST(NULL AS STRING)) AS hn""").collect()(0)
    assert(r.getAs[Double]("h0") == 0.0)
    assert(math.abs(r.getAs[Double]("h1") - 1.0) < 1e-12)
    assert(math.abs(r.getAs[Double]("h2") - 2.0) < 1e-12)
    assert(r.getAs[Double]("he") == 0.0)
    assert(r.isNullAt(r.fieldIndex("hn")))
    // surrogate pairs count as ONE code point: {😀:2, a:1}, n=3
    val astral = spark.sql("SELECT char_entropy('😀😀a') AS h")
      .collect()(0).getAs[Double]("h")
    val expected = math.log(3.0) / math.log(2.0) - (2.0 * 1.0 + 1.0 * 0.0) / 3.0
    assert(math.abs(astral - expected) < 1e-12, s"astral entropy $astral != $expected")
  }

  test("agg_sketch_union: exact context and bound flags on the tiny fixture") {
    val rows = graft.ops.Relational.aggSketchUnion(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[Boolean]("within_bound")),
      "HLL union missed its ±10% gate on sf0.001")
  }

  test("DotProductFloatDouble dots a float vector with a double vector") {
    import graft.functions.DotProductFloatDouble
    import org.apache.spark.sql.functions._
    val r = spark.range(1).select(
      DotProductFloatDouble.dotFD(
        expr("CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>)"),
        expr("CAST(array(0.5, 0.25, 2.0) AS ARRAY<DOUBLE>)")).as("d"),
      // unequal lengths dot the common prefix
      DotProductFloatDouble.dotFD(
        expr("CAST(array(1.0, 2.0) AS ARRAY<FLOAT>)"),
        expr("CAST(array(3.0, 4.0, 5.0) AS ARRAY<DOUBLE>)")).as("p")).collect()(0)
    assert(r.getAs[Double]("d") == 1.0 * 0.5 + 2.0 * 0.25 + 3.0 * 2.0)
    assert(r.getAs[Double]("p") == 11.0)
  }

  test("SqDistDouble matches the zip_with+aggregate HOF spelling bit for bit") {
    import graft.functions.SqDistDouble
    import org.apache.spark.sql.functions._
    val a = expr("CAST(array(1.5, -2.25, 3.125, 0.1) AS ARRAY<DOUBLE>)")
    val b = expr("CAST(array(0.5, 2.75, -1.0, 0.1) AS ARRAY<DOUBLE>)")
    val hof = aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    val r = spark.range(1).select(
      SqDistDouble.sqDist(a, b).as("native"), hof.as("hof"),
      // unequal lengths fold the common prefix
      SqDistDouble.sqDist(
        expr("CAST(array(1.0, 2.0) AS ARRAY<DOUBLE>)"),
        expr("CAST(array(0.0, 0.0, 9.0) AS ARRAY<DOUBLE>)")).as("p")).collect()(0)
    assert(java.lang.Double.doubleToLongBits(r.getAs[Double]("native")) ==
      java.lang.Double.doubleToLongBits(r.getAs[Double]("hof")))
    assert(r.getAs[Double]("p") == 5.0)
  }

  test("MaskIntersectCount merges sorted word maps (AND + popcount)") {
    import graft.functions.MaskIntersectCount
    import org.apache.spark.sql.functions._
    val r = spark.range(1).select(
      MaskIntersectCount.maskIntersect(
        // words {0: 0b1011, 2: 0b0110}  vs  {0: 0b0011, 1: anything, 2: 0b0100}
        expr("map(0L, 11L, 2L, 6L)"),
        expr("map(0L, 3L, 1L, 99L, 2L, 4L)")).as("n"),
      MaskIntersectCount.maskIntersect(
        expr("map(5L, 255L)"), expr("map(7L, 255L)")).as("disjoint")).collect()(0)
    // word 0: 1011 & 0011 = 0011 (2 bits); word 1 absent left; word 2:
    // 0110 & 0100 = 0100 (1 bit) → 3
    assert(r.getAs[Long]("n") == 3L)
    assert(r.getAs[Long]("disjoint") == 0L)
  }

  test("SortedIntersectCount equals size(array_intersect), nulls included, codegen on and off") {
    import graft.functions.SortedIntersectCount
    import org.apache.spark.sql.functions._
    val cases = Seq[(Seq[String], Seq[String])](
      (Seq(), Seq()), (Seq(), Seq("a")),                  // empty
      (Seq("a", "b"), Seq("c", "d")),                     // disjoint
      (Seq("a", "b", "c"), Seq("a", "b", "c")),           // identical
      (Seq("a", "b", "c"), Seq("b", "c", "d")),           // overlapping
      (null, Seq("a")),                                   // null array
      (Seq("a", null), Seq(null, "a")), (Seq("a", null), Seq("a")),
      (Seq(null), Seq(null)), (Seq(null), Seq()),
      (Seq("b", null), Seq("a", null)))                   // null elements
    // sorted distinct, as the callers build them; the repartition keeps
    // the optimizer from folding the projection over the local relation
    val df = cases.toDF("x", "y").repartition(1)
      .select(array_sort(array_distinct(col("x"))).as("a"),
        array_sort(array_distinct(col("y"))).as("b"))
      .select(
        SortedIntersectCount.sortedIntersect(col("a"), col("b")).as("merge"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("hash"))
    for ((wholeStage, factory) <- Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN")) {
      val rows = withConf("spark.sql.codegen.wholeStage" -> wholeStage,
          "spark.sql.codegen.factoryMode" -> factory) {
        df.collect().toSeq
      }
      assert(rows.size == cases.size)
      rows.zip(cases).foreach { case (r, c) =>
        assert(r.get(0) == r.get(1), s"$c (wholeStage=$wholeStage): $r")
      }
    }
  }

  private def withConf[A](kvs: (String, String)*)(f: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("all native expressions resolve by name through SQL") {
    GraftExtensions.install(spark)
    val r = spark.sql(
      """SELECT dot_product_float_double(
           CAST(array(2.0) AS ARRAY<FLOAT>), CAST(array(3.0) AS ARRAY<DOUBLE>)) AS d,
         mask_intersect_count(map(0L, 7L), map(0L, 3L)) AS m,
         sq_dist_double(CAST(array(3.0, 1.0) AS ARRAY<DOUBLE>),
           CAST(array(1.0, 1.0) AS ARRAY<DOUBLE>)) AS s""").collect()(0)
    assert(r.getAs[Double]("d") == 6.0)
    assert(r.getAs[Long]("m") == 2L)
    assert(r.getAs[Double]("s") == 4.0)
  }

  test("minhash_band_sigs from SQL matches the DataFrame-side expression") {
    GraftExtensions.install(spark)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(Seq("ab", "cd", "ef")).toDF("toks")
      .select(transform(col("toks"), t => md5(t.cast("binary"))).as("hs"))
    val viaSql = df.selectExpr("minhash_band_sigs(hs, 6, 3) AS b")
      .collect()(0).getSeq[String](0)
    val viaDf = df.select(
        graft.functions.MinhashBandSigs.bandSigs(col("hs"), 6, 3).as("b"))
      .collect()(0).getSeq[String](0)
    assert(viaSql == viaDf && viaSql.length == 2)
    // non-literal k must be rejected, not silently misplanned
    val err = intercept[Exception] {
      df.selectExpr("minhash_band_sigs(hs, 1 + 1, 1) AS b").collect()
    }
    assert(err.getMessage.contains("integer literal")
      || Option(err.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("misra_gries_topk UDAF is callable from SQL and exact under k") {
    GraftExtensions.install(spark)
    Seq("a", "a", "b").toDF("t").createOrReplaceTempView("g_mg_test")
    val m = spark.sql("SELECT misra_gries_topk(t) AS hh FROM g_mg_test")
      .collect()(0).getAs[Map[String, Long]]("hh")
    assert(m == Map("a" -> 2L, "b" -> 1L))
  }

  test("registration rejects wrong arity with a clear message") {
    GraftExtensions.install(spark)
    val e = intercept[Exception](
      spark.sql("SELECT dot_product_float(CAST(array(1.0) AS ARRAY<FLOAT>))").collect())
    assert(e.getMessage.contains("2 arguments") || e.getMessage.contains("dot_product_float"))
  }

  // ---- TopKWindowRewrite: the optimizer rung of the extension ladder ----

  private def withTopKRewrite[A](f: => A): A = {
    GraftExtensions.install(spark)
    f
  }

  private def rankIdiom(k: String,
      session: org.apache.spark.sql.SparkSession = spark) = {
    val df = session.createDataFrame(Seq(
      (1L, 5.0, 10L), (1L, 9.0, 11L), (1L, 9.0, 12L), (1L, 1.0, 13L),
      (2L, 7.0, 20L), (2L, 3.0, 21L))).toDF("key", "score", "id")
    df.createOrReplaceTempView("topk_t")
    session.sql(
      s"""SELECT key, score, id FROM (
           SELECT *, row_number() OVER (
             PARTITION BY key ORDER BY score DESC, id) AS rn FROM topk_t)
         WHERE rn <= $k ORDER BY key, score DESC, id""")
  }

  test("row_number<=k idiom rewrites to the heap exec, results unchanged") {
    // the reference runs on a fresh session install never ran on, so it
    // plans the plain window whatever the shared session has seen
    val plain = rankIdiom("2", spark.newSession())
    assert(plain.queryExecution.executedPlan.toString.contains("Window ["),
      "reference was rewritten too")
    val unrewritten = plain.collect()
    withTopKRewrite {
      val df = rankIdiom("2")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("TopKPerKey"), s"idiom not rewritten:\n$p")
      // Spark's own InsertWindowGroupLimit still contributes its partial
      // pre-shuffle prune ("WindowGroupLimit") — that COMPOSES with the
      // heap exec (map-side prune, heap final) and is welcome; what must
      // be gone is the WindowExec itself ("Window [...]"), whose final
      // per-group sort is the thing the rewrite exists to remove.
      assert(!p.contains("Window ["), s"WindowExec survived the rewrite:\n$p")
      assert(df.collect().toSeq == unrewritten.toSeq,
        "rewrite changed the result")
    }
  }

  test("rewrite blocks when the rank column is consumed downstream") {
    withTopKRewrite {
      val df = spark.sql(
        """SELECT key, rn FROM (
             SELECT *, row_number() OVER (
               PARTITION BY key ORDER BY score DESC, id) AS rn FROM topk_t)
           WHERE rn <= 2 ORDER BY key, rn""")
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("TopKPerKey"),
        s"rewrite fired though rn is in the output:\n$p")
      assert(df.collect().map(_.getInt(1)).forall(_ <= 2))
    }
  }

  test("rewrite blocks for rank() (not row_number) and for other window functions") {
    withTopKRewrite {
      val df = spark.sql(
        """SELECT key, score FROM (
             SELECT *, rank() OVER (
               PARTITION BY key ORDER BY score DESC) AS rn FROM topk_t)
           WHERE rn <= 2""")
      assert(!df.queryExecution.executedPlan.toString.contains("TopKPerKey"),
        "rank() has different tie semantics — must not rewrite")
    }
  }

  test("rewrite blocks for a GLOBAL row_number (empty PARTITION BY)") {
    withTopKRewrite {
      // a global top-k has no clustering key: the heap exec would emit
      // k rows PER PARTITION — the rewrite must leave the window plan
      val df = spark.sql(
        """SELECT key, score FROM (
             SELECT *, row_number() OVER (ORDER BY score DESC, id) AS rn
             FROM topk_t)
           WHERE rn <= 3""")
      assert(!df.queryExecution.executedPlan.toString.contains("TopKPerKey"),
        "global row_number must not rewrite to a per-partition heap")
      assert(df.count() == 3, "global top-3 must return exactly 3 rows")
    }
  }
}
