package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.sources.TextFormats

class TextFormatsSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private val schema = new StructType()
    .add("id", LongType).add("name", StringType)

  test("csv round-trip preserves rows; malformed rows land in the corrupt column") {
    val dir = tempDir("graft-csv")
    val out = s"$dir/t.csv"
    TextFormats.writeCsv(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), out)
    // append a malformed file alongside
    Files.write(java.nio.file.Paths.get(dir, "t.csv", "bad.csv"),
      "id,name\nnot-a-number,x\n".getBytes)
    // Spark disallows querying only the corrupt column on a raw read
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materialize once, then split
    val rows = TextFormats.readCsv(spark, out, schema).collect()
    val (bad, good) = rows.partition(r => r.getAs[String](TextFormats.CorruptCol) != null)
    assert(good.map(r => (r.getAs[Long]("id"), r.getAs[String]("name"))).toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(bad.length == 1) // survived as data, didn't kill the read
  }

  test("orc round-trip preserves rows and pushes filters like parquet") {
    val dir = tempDir("graft-orc") + "/t.orc"
    TextFormats.writeOrc((1L to 50L).map(i => (i, s"n$i")).toDF("id", "name"), dir)
    val back = TextFormats.readOrc(spark, dir).filter(col("id") > 45L)
    assert(back.count() == 5)
    val p = back.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("GreaterThan(id"),
      s"ORC filter not pushed:\n$p")
  }

  test("json-lines round-trip with explicit schema (no inference pass)") {
    val dir = tempDir("graft-json") + "/t.json"
    TextFormats.writeJsonLines(Seq((7L, "x")).toDF("id", "name"), dir)
    val back = TextFormats.readJsonLines(spark, dir, schema)
      .select("id", "name").collect()
    assert(back.length == 1 && back(0).getLong(0) == 7L && back(0).getString(1) == "x")
  }
}
