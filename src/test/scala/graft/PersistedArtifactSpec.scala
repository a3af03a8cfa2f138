package graft

import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.CorpusScope

/** Persisted artifacts ([[CorpusScope.persisted]]) follow their inputs'
  * content and are released by [[CorpusScope.dropAll]]: files, catalog
  * tables and registry entries. */
class PersistedArtifactSpec extends AnyFunSuite with SparkFixture {
  private val sf = "/root/testdata/sf0.001"

  private def copyOfSf(): String = {
    val d = tempDir("graft-corpus")
    FileUtils.copyDirectory(new File(sf), new File(d))
    d
  }

  private def rows(q: String, dir: String): Seq[String] =
    SparkEntry.queries(q)(spark, dir).collect().map(_.toString).toSeq

  /** Rewrites `name` in `dir` in place with `keep` of its rows, and
    * returns a fresh corpus holding the same rewritten table. */
  private def rewriteInPlace(dir: String, name: String)(
      keep: DataFrame => DataFrame): String = {
    val fresh = tempDir("graft-fresh")
    keep(spark.read.parquet(s"$dir/$name.parquet"))
      .write.parquet(s"$fresh/$name.parquet")
    val target = new File(dir, s"$name.parquet")
    FileUtils.forceDelete(target)
    FileUtils.copyDirectory(new File(fresh, s"$name.parquet"), target)
    fresh
  }

  test("pipe_partition_prune follows an in-place rewrite of events") {
    val dir = copyOfSf()
    rows("pipe_partition_prune", dir)
    val fresh = rewriteInPlace(dir, "events")(_.filter(col("event_id") % 2 === 0))
    assert(rows("pipe_partition_prune", dir) == rows("pipe_partition_prune", fresh))
  }

  test("pipe_zip_entry_stats follows an in-place rewrite that drops a source") {
    val dir = copyOfSf()
    val before = rows("pipe_zip_entry_stats", dir)
    val fresh = rewriteInPlace(dir, "documents")(_.filter(col("source") =!= "src0"))
    val after = rows("pipe_zip_entry_stats", dir)
    assert(after.length == before.length - 1, after.mkString("\n"))
    assert(after == rows("pipe_zip_entry_stats", fresh))
  }

  test("dropAll releases files, tables and entries; a re-run rebuilds each family once") {
    val dir = copyOfSf()
    val families = Seq("dedup_cc_incremental" -> "ccIndex",
      "text_bm25_index" -> "bm25Index", "simsearch_index_upsert" -> "pqUpsert",
      "join_bucketed_colocated" -> "bucketedJoin")
    val prefixes = Seq("g_ccbkt_", "g_pq_codes_", "g_pqu_codes_", "g_bk_")
    def artifactTables() = spark.catalog.listTables().collect().toSeq
      .filter(t => !t.isTemporary && prefixes.exists(t.name.startsWith)).map(_.name)
    def runAll() = families.map { case (q, _) => rows(q, dir) }
    def builds() = families.map { case (_, f) => CorpusScope.builds(f) }

    val existing = Option(CorpusScope.root.listFiles()).toSeq.flatten.toSet
    val first = runAll()
    val made = CorpusScope.root.listFiles().toSeq.filterNot(existing)
    assert(made.size == families.size, made.mkString(", "))
    assert(artifactTables().nonEmpty)

    CorpusScope.dropAll()
    CorpusScope.statsString.split(" ").foreach { kv =>
      assert(kv.split("=")(1).startsWith("0/"), CorpusScope.statsString)
    }
    assert(artifactTables().isEmpty, artifactTables().mkString(", "))
    assert(made.forall(!_.exists), made.filter(_.exists).mkString(", "))

    val before = builds()
    assert(runAll() == first)
    assert(builds() == before.map(_ + 1))
  }

  test("partitioned layouts of zero-row inputs read back as zero rows") {
    // A zero-row write leaves no partition directory, so these layouts
    // must be read with the schema they were written with.
    val empty = fixtureDir(Seq("events", "embeddings").map(t =>
      t -> spark.read.parquet(s"$sf/$t.parquet").limit(0)): _*)
    for (q <- Seq("pipe_partition_prune", "join_prune_dynamic",
        "simsearch_ivf_index", "simsearch_ivf_upsert"))
      assert(rows(q, empty).isEmpty, q)
  }

  test("dropAll after spark.stop() does not throw and still deletes the files") {
    // Stopping the shared test session would break every later suite, so
    // the teardown runs in a child JVM on the same classpath.
    import scala.jdk.CollectionConverters._
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(_.startsWith("--add-opens"))
    val cmd = Seq(new File(System.getProperty("java.home"), "bin/java").getPath,
      "-Xmx1g") ++ jvmArgs ++ Seq("-cp", System.getProperty("java.class.path"),
      "graft.ScopeTeardownMain", sf, tempDir("graft-warehouse"))
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor() == 0, out)
    assert(out.linesIterator.contains("teardown-ok 1 true"), out)
  }
}

/** Builds one table-backed artifact, stops the session, then empties the
  * registry — the bench runner's teardown order. Prints the number of
  * artifact directories built and whether all of them are gone. */
object ScopeTeardownMain {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", args(1))
      .getOrCreate()
    SparkEntry.queries("join_bucketed_colocated")(spark, args(0)).collect()
    val made = CorpusScope.root.listFiles().toSeq
    spark.stop()
    CorpusScope.dropAll()
    println(s"teardown-ok ${made.size} ${made.forall(!_.exists)}")
  }
}
