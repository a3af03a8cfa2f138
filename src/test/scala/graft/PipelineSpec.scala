package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import graft.pipeline.{IngestPipeline, PipelineConfig, SnapshotSink}

/** Integration replay of the reference dataflow A2–A15 over a temp-dir
  * fixture: latest-selection, skip-if-seen, state-commit-after-load
  * ordering, and re-run idempotency. */
class PipelineSpec extends AnyFunSuite with SparkFixture {

  private class RecordingSink extends SnapshotSink {
    val loaded = scala.collection.mutable.ArrayBuffer.empty[String]
    var failNext = false
    def load(spark: SparkSession, name: String): Unit = {
      if (failNext) { failNext = false; sys.error("simulated load crash") }
      loaded += name
    }
  }

  private def mkFixture(): (String, String) = {
    val dir = tempDir("graft-manifest")
    Seq("snap_2024-01-01.zip", "snap_2024-01-03.zip", "snap_2024-01-02.zip",
      "notes.txt", "snap_2024-01-04.bak").foreach { n =>
      Files.write(Paths.get(dir, n), "x".getBytes)
    }
    (dir, tempDir("graft-state") + "/state")
  }

  test("picks the lexicographically-latest matching artifact (A4+A6)") {
    val (dir, state) = mkFixture()
    val sink = new RecordingSink
    val p = new IngestPipeline(PipelineConfig(dir, state), sink)
    assert(p.run(spark).contains("snap_2024-01-03.zip"))  // .bak name is ignored: code filters .zip
    assert(sink.loaded.toSeq == Seq("snap_2024-01-03.zip"))
  }

  test("second run is a no-op (A7 seen-set) until a newer artifact appears") {
    val (dir, state) = mkFixture()
    val sink = new RecordingSink
    val p = new IngestPipeline(PipelineConfig(dir, state), sink)
    assert(p.run(spark).isDefined)
    assert(p.run(spark).isEmpty)                          // idempotent re-run
    Files.write(Paths.get(dir, "snap_2024-01-05.zip"), "y".getBytes)
    assert(p.run(spark).contains("snap_2024-01-05.zip"))
    assert(sink.loaded.toSeq == Seq("snap_2024-01-03.zip", "snap_2024-01-05.zip"))
  }

  test("state commits AFTER the load: a crashed load is retried (A14 at-least-once)") {
    val (dir, state) = mkFixture()
    val sink = new RecordingSink
    val p = new IngestPipeline(PipelineConfig(dir, state), sink)
    sink.failNext = true
    intercept[RuntimeException](p.run(spark))
    assert(sink.loaded.isEmpty)
    assert(p.run(spark).contains("snap_2024-01-03.zip")) // state not committed → retried
  }

  test("the committed state builds with its declared schema: no inference job") {
    val (dir, state) = mkFixture()
    val p = new IngestPipeline(PipelineConfig(dir, state), new RecordingSink)
    assert(p.run(spark).contains("snap_2024-01-03.zip"))
    val (df, t) = traceJobs(p.state(spark))
    assert(t.jobs == 0, s"building the state frame started jobs: $t")
    assert(df.collect().map(_.getString(0)).toSeq == Seq("snap_2024-01-03.zip"))
  }

  test("empty manifest dir short-circuits (A5 guard)") {
    val empty = tempDir("graft-empty")
    val state = tempDir("graft-state2") + "/state"
    val p = new IngestPipeline(PipelineConfig(empty, state), new RecordingSink)
    assert(p.run(spark).isEmpty)
  }
}
