package graft

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.file.Files
import java.util.zip.{ZipEntry, ZipOutputStream}
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Skew
import graft.sources.ZipArchives

class SourcesSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def writeZip(dir: String, name: String, entries: (String, String)*): Unit = {
    val out = new ZipOutputStream(new FileOutputStream(s"$dir/$name"))
    entries.foreach { case (en, content) =>
      out.putNextEntry(new ZipEntry(en))
      out.write(content.getBytes("UTF-8"))
      out.closeEntry()
    }
    out.close()
  }

  test("zip source explodes entries across archives with exact contents") {
    val dir = tempDir("graft-zips")
    writeZip(dir, "a.zip", "db_2024-01-01.bak" -> "payload-a", "readme.txt" -> "meta")
    writeZip(dir, "b.zip", "db_2024-01-02.bak" -> "payload-bb")
    Files.write(java.nio.file.Paths.get(dir, "noise.txt"), "x".getBytes) // glob-filtered out
    val rows = ZipArchives.readEntries(spark, dir).collect().sortBy(r => (r.archive, r.entry))
    assert(rows.map(r => (r.archive, r.entry, r.n_bytes)).toSeq == Seq(
      ("a.zip", "db_2024-01-01.bak", 9L), ("a.zip", "readme.txt", 4L),
      ("b.zip", "db_2024-01-02.bak", 10L)))
    assert(new String(rows(2).content) == "payload-bb")
  }

  test("DSv2 zip connector matches the binaryFile reader row-for-row") {
    val dir = tempDir("graft-zipv2")
    writeZip(dir, "a.zip", "db_2024-01-01.bak" -> "payload-a", "readme.txt" -> "meta")
    writeZip(dir, "b.zip", "db_2024-01-02.bak" -> "payload-bb")
    val v2 = spark.read.format("graft.sources.ZipEntriesSource").load(dir)
    val got = v2.collect()
      .map(r => (r.getAs[String]("archive"), r.getAs[String]("entry"),
        r.getAs[Long]("n_bytes"), new String(r.getAs[Array[Byte]]("content"))))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq(
      ("a.zip", "db_2024-01-01.bak", 9L, "payload-a"),
      ("a.zip", "readme.txt", 4L, "meta"),
      ("b.zip", "db_2024-01-02.bak", 10L, "payload-bb")))
  }

  test("DSv2 zip connector prunes content and pushes name filters into the scan") {
    val dir = tempDir("graft-zipv2p")
    writeZip(dir, "a.zip", "db_2024-01-01.bak" -> "payload-a", "readme.txt" -> "meta")
    writeZip(dir, "b.zip", "db_2024-01-09.bak" -> "payload-bb")
    val manifest = spark.read.format("graft.sources.ZipEntriesSource").load(dir)
      .filter(org.apache.spark.sql.functions.col("entry").endsWith(".bak"))
      .select("archive", "entry", "n_bytes")
    val plan = manifest.queryExecution.executedPlan.toString
    // ReadSchema excludes content (ZipFile path: zero decompression) and
    // the suffix predicate rode into the scan
    assert(plan.contains("ReadSchema=[archive,entry,n_bytes]"),
      s"content not pruned from the scan:\n$plan")
    assert(plan.contains("PushedFilters=[StringEndsWith(entry,.bak)]"),
      s"entry filter not pushed:\n$plan")
    val rows = manifest.collect().map(r =>
      (r.getAs[String]("archive"), r.getAs[String]("entry"),
        r.getAs[Long]("n_bytes"))).sortBy(_._1).toSeq
    assert(rows == Seq(("a.zip", "db_2024-01-01.bak", 9L),
      ("b.zip", "db_2024-01-09.bak", 10L)))
  }

  test("DSv2 zip connector reports statistics: manifest side broadcasts in a join") {
    val dir = tempDir("graft-zipv2s")
    writeZip(dir, "a.zip", "db_2024-01-01.bak" -> "payload-a")
    writeZip(dir, "b.zip", "db_2024-01-09.bak" -> "payload-bb")
    val manifest = spark.read.format("graft.sources.ZipEntriesSource").load(dir)
      .select("archive", "entry", "n_bytes")
    val fact = (1L to 1000L).map(i => (s"db_2024-01-0${i % 10}.bak", i))
      .toDF("entry", "k")
    val joined = fact.join(manifest, "entry")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"tiny manifest scan should broadcast (stats reported):\n$plan")
    assert(joined.count() > 0)
  }

  test("latest matching entry is the deterministic max, not last-wins (ref A10 fix)") {
    val dir = tempDir("graft-zips2")
    writeZip(dir, "a.zip", "db_2024-01-03.bak" -> "x", "db_2024-01-09.bak" -> "y",
      "db_2024-01-05.bak" -> "z", "notes.txt" -> "n")
    val r = ZipArchives.latestEntryMatching(spark, dir, ".bak").collect()
    assert(r.length == 1 && r(0).getAs[String]("entry") == "db_2024-01-09.bak")
  }

  test("salted equi join equals the plain join for any salt factor") {
    val big = (1L to 200L).map(i => (i % 3 + 1, s"v$i")).toDF("k", "v") // skewed: 3 hot keys
    val small = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "never-matched")).toDF("k", "name")
    val plain = big.join(small, "k").collect().map(_.toSeq).toSet
    for (factor <- Seq(1, 4, 16)) {
      val salted = Skew.saltedEquiJoin(big, small, "k", factor).collect().map(_.toSeq).toSet
      assert(salted == plain, s"factor=$factor changed the join result")
    }
  }

  test("top-key share sketch surfaces the hot keys in order") {
    val df = (Seq.fill(50)(7L) ++ Seq.fill(20)(3L) ++ (100L to 109L)).toDF("k")
    val top = Skew.topKeyShare(df, org.apache.spark.sql.functions.col("k"), 2).collect()
    assert(top.map(r => (r.getAs[Long]("key"), r.getAs[Long]("n"))).toSeq ==
      Seq((7L, 50L), (3L, 20L)))
  }

  test("co-bucketed tables join with zero exchanges on either side") {
    import org.apache.spark.sql.functions.col
    // Both sides bucketed 4 ways on the join key → bucket layout already
    // satisfies the join's required distribution; the plan must contain
    // NO shuffle. At 100 TB this deletes the dominant cost of every
    // recurring fact-to-fact join.
    val orders = (1L to 100L).map(i =>
      OrderRow(i, i % 10, "O", i * 1.0, ts("2024-01-01 00:00:00"), "1-URGENT")).toDF
    val lines = (1L to 300L).map(i =>
      LineRow(i % 100 + 1, 1.0, 10.0, 0.0, 0.0, "N", "O")).toDF
    graft.sources.TableSinks.writeBucketed(orders, "g_bucket_orders", "o_orderkey", 4)
    graft.sources.TableSinks.writeBucketed(lines, "g_bucket_lines", "l_orderkey", 4)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  // force a non-broadcast join
    try {
      val j = spark.table("g_bucket_orders")
        .join(spark.table("g_bucket_lines"), col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey")).count()
      j.collect()
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(o_orderkey") &&
        !p.contains("Exchange hashpartitioning(l_orderkey"),
        s"bucketed join still shuffles a side:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("DSv2 zip connector: archive-only predicates prune input partitions at planning") {
    import org.apache.spark.sql.sources.{EqualTo, StringStartsWith}
    val dir = tempDir("graft-zips-prune")
    writeZip(dir, "a.zip", "x.bak" -> "payload")
    writeZip(dir, "b.zip", "y.bak" -> "payload")
    def partitions(filters: Array[org.apache.spark.sql.sources.Filter]) =
      new graft.sources.ZipScan(dir, graft.sources.ZipEntriesSource.Schema,
        filters).planInputPartitions().length
    assert(partitions(Array.empty) == 2)
    assert(partitions(Array(EqualTo("archive", "a.zip"))) == 1,
      "equality on archive must skip the other archive at planning")
    assert(partitions(Array(EqualTo("archive", "nope.zip"))) == 0)
    // an ENTRY predicate must NOT prune archives (it needs per-entry data)
    assert(partitions(Array(StringStartsWith("entry", "x"))) == 2,
      "entry filters cannot be decided from the archive name")
    // end-to-end: the pruned scan still returns the right rows
    val got = spark.read.format("graft.sources.ZipEntriesSource").load(dir)
      .filter(org.apache.spark.sql.functions.col("archive") === "a.zip")
      .select("archive", "entry").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == Set(("a.zip", "x.bak")))
  }
}
