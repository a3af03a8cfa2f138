package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.sources.{Manifest, TableSinks}

class ManifestSinkSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  test("manifest parse: split/substring semantics incl. noise filtering (ref A2/A3)") {
    val lines = Seq(
      "INFO: snap_2024-01-03.zip; Content Length: 1234",
      "INFO: snap_2024-01-09.zip; Content Length: 99",
      "INFO: notes.txt; Content Length: 5",
      "Elapsed Time (Minutes): 0.1",      // azcopy noise: the ref would mis-parse this
      "INFO: snap_2024-01-05.zip; Content Length: 7").toDF("value")
    val parsed = Manifest.parse(lines).collect()
    assert(parsed.length == 4)
    assert(parsed(0).getAs[String]("name") == "snap_2024-01-03.zip")
    assert(parsed(0).getAs[Long]("content_length") == 1234L)
    val top = Manifest.latest(Manifest.parse(lines), ".zip").collect()
    assert(top.length == 1 && top(0).getAs[String]("name") == "snap_2024-01-09.zip")
  }

  test("compaction collapses a many-small-files directory, content intact") {
    val base = tempDir("graft-compact")
    val in = s"$base/in"; val out = s"$base/out"
    // 24 rows scattered across 24 files — the streaming-sink accretion shape
    (1 to 24).map(i => EventRow(i.toLong, ts("2024-01-01 10:00:00"), 1, "click", i.toDouble, "{}"))
      .toDF.repartition(24).write.parquet(in)
    def parquetFiles(p: String) =
      new java.io.File(p).listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(in) > 10, "fixture should start fragmented")
    TableSinks.compact(spark, in, out)   // total bytes << 128 MB target → 1 file
    assert(parquetFiles(out) == 1, "small files not collapsed")
    val back = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).sorted.toSeq
    assert(back == (1 to 24).map(i => i.toLong -> i.toDouble))
  }

  test("date-partitioned sink prunes partitions on read") {
    val events = (1 to 48).map { i =>
      EventRow(i.toLong, ts(f"2024-01-${i % 4 + 1}%02d 10:00:00"), 1, "click", 1.0, "{}")
    }
    val out = tempDir("graft-sink") + "/events"
    val schema = TableSinks.writeDatePartitioned(events.toDF, "ts", out, Seq("event_id"))
    val back = TableSinks.readDatePartitioned(spark, out, schema)
      .filter(col("p_date") === "2024-01-02")
    assert(back.count() == 12)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(p_date"),
      s"no partition pruning:\n$plan")
    // directory layout on disk is the pruning unit
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("p_date=2024-01-01", "p_date=2024-01-02",
      "p_date=2024-01-03", "p_date=2024-01-04"))
  }

  test("dynamic partition overwrite replaces only the incoming day") {
    def ev(id: Long, day: Int, v: Double) =
      EventRow(id, ts(f"2024-01-$day%02d 10:00:00"), 1, "click", v, "{}")
    val out = tempDir("graft-dyn") + "/events"
    // initial load: days 1, 2, 3
    TableSinks.overwriteDatePartitions(
      Seq(ev(1, 1, 1.0), ev(2, 2, 2.0), ev(3, 3, 3.0)).toDF, "ts", out)
    // backfill re-lands ONLY day 2 with different content
    TableSinks.overwriteDatePartitions(Seq(ev(20, 2, 20.0)).toDF, "ts", out)
    val back = spark.read.parquet(out).collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Double]("value")).sorted.toSeq
    // days 1 and 3 intact, day 2's old row gone, new row present
    assert(back == Seq(1L -> 1.0, 3L -> 3.0, 20L -> 20.0))
    // the conf is restored after the write (session default is static)
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      .forall(_ != "dynamic"))
  }

  test("mergeSchema read unions evolved schemas, old files read NULL for new columns") {
    val base = tempDir("graft-evolve") + "/t"
    // v1 files: (id, a)
    Seq((1L, "x"), (2L, "y")).toDF("id", "a")
      .write.mode("append").parquet(base)
    // schema evolves: later files add column b
    Seq((3L, "z", 30L)).toDF("id", "a", "b")
      .write.mode("append").parquet(base)
    val merged = TableSinks.readMergedSchema(spark, base)
    assert(merged.columns.sorted.toSeq == Seq("a", "b", "id"))
    val rows = merged.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[String]("a"),
        Option(r.getAs[java.lang.Long]("b")))).sortBy(_._1).toSeq
    assert(rows == Seq((1L, "x", None), (2L, "y", None), (3L, "z", Some(30L))))
  }
}
