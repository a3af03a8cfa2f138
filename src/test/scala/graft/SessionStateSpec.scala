package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.GraftExtensions
import graft.ops.{Relational, SqlSurface, Util}

/** One install point for session state, and query builders without side
  * effects on it. The sessions here are `spark` and `newSession()`
  * children on the shared SparkContext; none is stopped, since stopping
  * a session stops the context every suite shares. */
class SessionStateSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  /** One row per table each builder below reads. */
  private lazy val dir = fixtureDir(
    "customer" -> Seq(CustRow(1, "c1", 1, 10.0, "BUILDING")).toDF(),
    "orders" -> Seq(OrderRow(1, 1, "O", 450000.0, ts("2024-01-01 00:00:00"), "1-URGENT")).toDF(),
    "lineitem" -> Seq(LineRow(1, 1.0, 100.0, 0.0, 0.0, "N", "O")).toDF(),
    "events" -> Seq(EventRow(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0, "{}")).toDF(),
    "embeddings" -> Seq(EmbRow(1, Array(1f, 2f), 0)).toDF())

  test("table() hands each session a frame of its own") {
    val other = spark.newSession()
    for (name <- Seq("orders", "events", "customer"); _ <- 1 to 2) {
      assert(Util.table(spark, dir, name).sparkSession eq spark, name)
      assert(Util.table(other, dir, name).sparkSession eq other, name)
    }
  }

  test("an events read on a fresh session works while the memo is warm from another") {
    val warm = Util.table(spark, dir, "events")
    val n = warm.count()
    val fresh = spark.newSession()
    val ev = Util.table(fresh, dir, "events")
    assert(ev.sparkSession eq fresh)
    assert(fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(ev.schema("ts").dataType == TimestampType)
    assert(ev.selectExpr("unix_micros(ts)").count() == n)
  }

  test("query builders leave an installed session's conf and rules unchanged") {
    GraftExtensions.install(spark)
    def state(s: SparkSession) = (s.conf.getAll,
      s.experimental.extraStrategies, s.experimental.extraOptimizations)
    val before = state(spark)
    Relational.windowTopkRewrite(spark, dir).collect()
    SqlSurface.sqlDotProduct(spark, dir).collect()
    Relational.joinBloomPrefilter(spark, dir).collect()
    val out = tempDir("graft-session-state") + "/ev"
    graft.sources.TableSinks.overwriteDatePartitions(
      Util.table(spark, dir, "events"), "ts", out)
    assert(state(spark) == before)
  }

  test("install adds each rule once, and none over a session's own extensions") {
    val s = spark.newSession()
    (1 to 3).foreach(_ => GraftExtensions.install(s))
    assert(s.experimental.extraStrategies ==
      Seq(graft.plans.TopKStrategy, graft.plans.CollectSortStrategy))
    assert(s.experimental.extraOptimizations == Seq(graft.plans.TopKWindowRewrite))
    // a session built with the extensions, as GraftSession builds one
    val ext = SparkSession.builder().withExtensions(new GraftExtensions).create()
    try {
      GraftExtensions.install(ext)
      assert(ext.experimental.extraStrategies.isEmpty)
      assert(org.apache.spark.sql.graftbridge.Bridge.injectedRules(ext)
        .count(_ == graft.plans.CollectSortStrategy) == 1)
      assert(ext.experimental.extraOptimizations.isEmpty)
      assert(ext.sql(
        "SELECT misra_gries_topk(CAST(id AS STRING)) AS hh FROM range(3)")
        .collect()(0).getMap[String, Long](0).size == 3)
    } finally {
      SparkSession.setActiveSession(spark)
      SparkSession.setDefaultSession(spark)
    }
  }

  test("only the install point and the bloom child session change session state; no identity-hash keys") {
    val forbidden = Seq("extraStrategies\\s*=(?!=)", "extraOptimizations\\s*=(?!=)",
      "conf\\.set\\(", "conf\\.unset\\(", "System\\.identityHashCode").map(_.r)
    val def_ = "\\bdef\\s+(\\w+)".r
    def allowed(file: Path, enclosingDef: Option[String]): Boolean =
      file.getFileName.toString == "GraftExtensions.scala" ||
        (file.getFileName.toString == "Relational.scala" &&
          enclosingDef.contains("bloomSession"))
    val files = Files.walk(Paths.get("src/main/scala/graft")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned too few sources: ${files.size}")
    val hits = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toIndexedSeq
      (line, i) <- lines.zipWithIndex
      if forbidden.exists(_.findFirstIn(line).nonEmpty)
      enclosing = (i to 0 by -1).iterator.map(lines(_))
        .flatMap(l => def_.findFirstMatchIn(l).map(_.group(1))).nextOption()
      if !allowed(f, enclosing)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString(
      "session state changed (or identity hash used) outside install:\n", "\n", ""))
  }
}
