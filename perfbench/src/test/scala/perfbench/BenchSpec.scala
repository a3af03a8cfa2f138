package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The runner's operation wrapper: a thrown operation is recorded as a
  * failure with its error class and never as a time. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir = Files.createTempDirectory("perfbench-spec").toFile
  private lazy val bench = {
    val b = new Bench(Main.Args("mix_sf001", dir.getPath, dir.getPath, dir.getPath,
      seconds = 1, trace = false, cores = 2, out = "", traceOut = ""))
    b.spark = SparkSession.builder().master("local[2]").getOrCreate()
    b
  }

  override def afterAll(): Unit = bench.stop()

  test("a builder that throws is a failure with its error class") {
    val rec = bench.runOp(1, "planted_build", _ => throw new IllegalStateException("planted"))
    assert(rec("ok") == false)
    assert(rec("phase") == "build")
    assert(rec("err_class") == "java.lang.IllegalStateException")
    assert(rec("err") == "planted")
    assert(!rec.contains("wall_s") && !rec.contains("exec_s"))
  }

  test("a query that throws while executing is a failure with its error class") {
    val rec = bench.runOp(1, "planted_exec",
      s => s.range(3).selectExpr("assert_true(id < 1, 'planted') AS v"))
    assert(rec("ok") == false)
    assert(rec("phase") == "exec")
    assert(rec("err_class").toString.endsWith("SparkRuntimeException"))
    assert(!rec.contains("wall_s"))
  }

  test("a query that succeeds is timed and digested") {
    val rec = bench.runOp(1, "good", s => s.range(3).selectExpr("id * 2 AS v").orderBy("v"))
    assert(rec("ok") == true)
    assert(rec("rows") == 3L)
    assert(rec("cols") == Seq(Seq("v", "int64")))
    assert(rec("wall_s").asInstanceOf[Double] > 0)
    assert(rec("cpu_s").asInstanceOf[Double] > 0)
  }
}
