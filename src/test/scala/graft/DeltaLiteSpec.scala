package graft

import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.ops.{CorpusScope, PipelineOps}
import graft.sources.DeltaLite
import graft.sources.DeltaLite.Action
import graft.streaming.DeltaSink

/** Transaction-log table format: time travel, compaction invariance,
  * commit atomicity, replay-order robustness, the exactly-once streaming
  * sink on the log, and the write-once build of the declared queries'
  * table. */
class DeltaLiteSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  private def freshTable(): String = tempDir("graft-dlite")

  private def writeRows(dir: String, name: String, ids: Seq[Long]): Long = {
    val df = ids.toDF("id")
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
    ids.length.toLong
  }

  test("time travel returns each version's row set; compaction is invisible") {
    val t = freshTable()
    val na = writeRows(t, "a.parquet", Seq(1L, 2L, 3L))
    DeltaLite.commit(t, 1, Seq(Action(1, "add", "a.parquet", na)))
    val nb = writeRows(t, "b.parquet", Seq(4L, 5L))
    DeltaLite.commit(t, 2, Seq(Action(2, "add", "b.parquet", nb)))
    // v3: compact a+b into one file — remove + add of identical rows
    writeRows(t, "ab.parquet", Seq(1L, 2L, 3L, 4L, 5L))
    DeltaLite.commit(t, 3, Seq(
      Action(3, "remove", "a.parquet", -1L), Action(3, "remove", "b.parquet", -1L),
      Action(3, "add", "ab.parquet", na + nb)))
    def ids(asOf: Long): Set[Long] =
      DeltaLite.snapshot(spark, t, Some(asOf)).as[Long].collect().toSet
    assert(ids(1) == Set(1L, 2L, 3L))
    assert(ids(2) == Set(1L, 2L, 3L, 4L, 5L))
    assert(ids(3) == Set(1L, 2L, 3L, 4L, 5L), "compaction changed results")
    assert(DeltaLite.liveFiles(spark, t, Some(3)).map(
      p => new java.io.File(p).getName) == Seq("ab.parquet"),
      "compacted snapshot must read only the rewritten file")
    // no temp debris from the atomic rename protocol
    val tmps = new java.io.File(t, "_log").listFiles.filter(_.getName.startsWith(".tmp"))
    assert(tmps.isEmpty, s"commit left temp files: ${tmps.toSeq}")
  }

  test("same-path rewrite within one commit stays live (removes-first order)") {
    val t = freshTable()
    writeRows(t, "x.parquet", Seq(7L))
    DeltaLite.commit(t, 1, Seq(Action(1, "add", "x.parquet", 1L)))
    writeRows(t, "x.parquet", Seq(7L, 8L))
    // a rewrite commit: remove + re-add the SAME path
    DeltaLite.commit(t, 2, Seq(
      Action(2, "remove", "x.parquet", -1L), Action(2, "add", "x.parquet", 2L)))
    assert(DeltaLite.snapshot(spark, t).as[Long].collect().toSet == Set(7L, 8L))
  }

  test("vacuum plan: retention gates reclaim, stats come from the log") {
    val t = freshTable()
    writeRows(t, "a.parquet", Seq(1L, 2L))
    DeltaLite.commit(t, 1, Seq(Action(1, "add", "a.parquet", 2L)))
    writeRows(t, "a2.parquet", Seq(1L, 2L))
    DeltaLite.commit(t, 2, Seq(
      Action(2, "remove", "a.parquet", -1L), Action(2, "add", "a2.parquet", 2L)))
    writeRows(t, "a3.parquet", Seq(1L, 2L))
    DeltaLite.commit(t, 3, Seq(
      Action(3, "remove", "a2.parquet", -1L), Action(3, "add", "a3.parquet", 2L)))
    val plan = DeltaLite.vacuumPlan(spark, t, currentVersion = 3, retention = 1)
      .collect().map(r => r.getAs[String]("path") ->
        ((r.getAs[Long]("n_rows"), r.getAs[Boolean]("eligible")))).toMap
    assert(plan("a.parquet") == ((2L, true)), "old remove must be reclaimable")
    assert(plan("a2.parquet") == ((2L, false)), "recent remove must be kept")
  }

  test("vacuum plan: a removed-then-re-added path is LIVE, never reclaimable") {
    val t = freshTable()
    writeRows(t, "a.parquet", Seq(1L, 2L))
    DeltaLite.commit(t, 1, Seq(Action(1, "add", "a.parquet", 2L)))
    DeltaLite.commit(t, 2, Seq(Action(2, "remove", "a.parquet", -1L)))
    writeRows(t, "a.parquet", Seq(1L, 2L, 3L))
    DeltaLite.commit(t, 3, Seq(Action(3, "add", "a.parquet", 3L)))
    val plan = DeltaLite.vacuumPlan(spark, t, currentVersion = 10, retention = 1)
      .collect()
    assert(!plan.exists(_.getAs[String]("path") == "a.parquet"),
      s"re-added (live) path listed for vacuum: ${plan.mkString(",")}")
    assert(DeltaLite.snapshot(spark, t, Some(10)).count() == 3,
      "the re-added file is the live snapshot")
  }

  test("racing commits of one version: exactly one complete payload wins, no temp debris") {
    // commit() uses create-if-absent (hard link), not rename: POSIX rename
    // silently REPLACES, so a lost race would last-write-win. Barrier-start
    // 8 writers of DISTINCT payloads at the same version and assert the
    // surviving log file is exactly ONE writer's full payload — never a
    // mix, never truncated — and every temp file is cleaned up.
    val t = freshTable()
    val barrier = new java.util.concurrent.CyclicBarrier(8)
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        barrier.await()
        DeltaLite.commit(t, 9, Seq(Action(9, "add", s"w$i.parquet", i.toLong)))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val logFile = new java.io.File(s"$t/_log/00009.json")
    val body = new String(
      java.nio.file.Files.readAllBytes(logFile.toPath), "UTF-8")
    val winners = (0 until 8).filter(i => body contains s"w$i.parquet")
    assert(winners.size == 1, s"interleaved/mixed commit payload: $body")
    assert(body ==
      s"""{"version":9,"action":"add","path":"w${winners.head}.parquet","n_rows":${winners.head}}""" + "\n",
      s"winner's payload not intact: $body")
    val tmps = new java.io.File(s"$t/_log").listFiles()
      .filter(_.getName.startsWith(".tmp"))
    assert(tmps.isEmpty, s"race left temp files: ${tmps.toSeq}")
  }

  test("commit escapes hostile paths; the log round-trips them exactly") {
    val t = freshTable()
    val weird = "we\"ird\\name.parquet"
    DeltaLite.commit(t, 1, Seq(Action(1, "add", weird, 7L)))
    val acts = DeltaLite.actions(spark, t).collect()
    assert(acts.length == 1 && acts(0).getAs[String]("path") == weird,
      s"hostile path corrupted the log line: ${acts.mkString(",")}")
  }

  /** Every file under `dir` with its bytes, by path relative to `dir`. */
  private def filesOf(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(f => root.relativize(f).toString ->
        java.nio.file.Files.readAllBytes(f).toSeq).toMap
  }

  private def nRowsByVersion(t: String): Map[Long, Long] =
    DeltaLite.actions(spark, t).collect()
      .map(r => r.getAs[Long]("version") -> r.getAs[Long]("n_rows")).toMap

  test("DeltaSink: streamed batches become visible commits; replays are no-ops") {
    val t = freshTable()
    // direct batch commits (the foreachBatch body) — two batches
    assert(DeltaSink.commitBatch(t)(Seq(1L, 2L).toDF("id"), 0L))
    assert(DeltaSink.commitBatch(t)(Seq(3L).toDF("id"), 1L))
    assert(DeltaLite.snapshot(spark, t).as[Long].collect().toSet == Set(1L, 2L, 3L))
    val v0 = filesOf(s"$t/part_00000.parquet")
    // replay batch 0 with DIFFERENT content: the committed version, its
    // data files and its row stats stay those of the first commit
    assert(!DeltaSink.commitBatch(t)(Seq(7L, 8L, 9L).toDF("id"), 0L),
      "a replay of a committed version must not commit")
    assert(filesOf(s"$t/part_00000.parquet") == v0,
      "the replay rewrote the committed data files")
    assert(DeltaLite.snapshot(spark, t).as[Long].collect().toSeq.sorted
      == Seq(1L, 2L, 3L))
    // row stats rode the log: vacuum-style metadata query, no file reads
    assert(nRowsByVersion(t) == Map(0L -> 2L, 1L -> 1L))
  }

  test("DeltaSink suppresses a re-delivered batchId end-to-end") {
    val t = freshTable()
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    assert(DeltaSink.commitBatch(t)(df, 7L), "first delivery must commit")
    assert(!DeltaSink.commitBatch(t)(df, 7L), "re-delivery must be skipped")
    assert(DeltaLite.snapshot(spark, t).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L), "committed data must not duplicate")
    // live foreachBatch path: two drains, each commits its own rows
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Long]
    val live = freshTable()
    val ckp = tempDir("graft-dsink-ckpt")
    ms.addData(1L, 2L)
    DeltaSink.start(ms.toDF().toDF("id"), live, ckp).awaitTermination()
    ms.addData(3L)
    DeltaSink.start(ms.toDF().toDF("id"), live, ckp).awaitTermination()
    def ids(v: Long) = DeltaLite.snapshot(spark, live, Some(v)).as[Long].collect().toSet
    assert(ids(0) == Set(1L, 2L) && ids(1) == Set(1L, 2L, 3L))
    assert(nRowsByVersion(live) == Map(0L -> 2L, 1L -> 1L))
  }

  test("DeltaSink runs a 100-row batch once and stamps n_rows from the footers") {
    // An accumulator bumped once per row proves the batch executes
    // exactly once (the parquet write): counting it for the add action's
    // stats would run it a second time.
    val t = freshTable()
    val acc = spark.sparkContext.longAccumulator("epoch_rows_executed")
    val df = spark.range(0, 100, 1, 4)
      .map { x => acc.add(1); x }
      .toDF("id")
    assert(DeltaSink.commitBatch(t)(df, 3L), "first delivery must commit")
    assert(acc.value == 100L,
      s"batch executed ${acc.value / 100.0}x (expected exactly once)")
    assert(nRowsByVersion(t) == Map(3L -> 100L))
  }

  test("DeltaSink.start: each drain lands rows once, an empty resume adds no version") {
    implicit val sqlCtx = spark.sqlContext
    val t = freshTable()
    val ckp = tempDir("graft-dsink-ckpt")
    val ms = MemoryStream[(Long, String)]
    def drain(): Unit =
      DeltaSink.start(ms.toDF().toDF("id", "v"), t, ckp).awaitTermination()
    def rows() = DeltaLite.snapshot(spark, t).as[(Long, String)].collect().toSeq.sorted
    ms.addData((1L, "a"), (2L, "b"))
    drain()
    assert(rows() == Seq((1L, "a"), (2L, "b")))
    ms.addData((3L, "c"))
    drain()
    assert(rows() == Seq((1L, "a"), (2L, "b"), (3L, "c")), "replay duplicated or dropped rows")
    // third drain with NOTHING new: checkpoint resume must add nothing
    drain()
    assert(rows().length == 3, "empty resume re-emitted an epoch")
    assert(nRowsByVersion(t).keySet == Set(0L, 1L), "empty resume committed a version")
  }

  test("createLink is DeltaLite's alone; no source names a deleted sink") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala/graft"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned too few sources: ${files.size}")
    def hits(word: String) = files.filter(f =>
      java.nio.file.Files.readString(f).contains(word))
      .map(f => f.toString.stripPrefix("src/main/scala/graft/"))
    assert(hits("Files.createLink") == Seq("sources/DeltaLite.scala"))
    for (gone <- Seq("LakeSink", "IdempotentSink", "MarkerCommit"))
      assert(hits(gone).isEmpty, s"$gone named in ${hits(gone)}")
  }

  test("declared delta table builds once per input dir") {
    val base = ts("2024-01-01 00:00:00").getTime
    val rows = (0L until 30L).map(i => EventRow(i,
      new Timestamp(base + i * 3600000L), i % 3, "view", 1.5, "{}"))
    val dir = fixtureDir("events" -> spark.createDataset(rows).toDF)
    PipelineOps.queries("pipe_delta_log")(spark, dir).collect()
    val builds = CorpusScope.builds("deltaScratch")
    val out = PipelineOps.queries("pipe_delta_log")(spark, dir).collect()
    assert(CorpusScope.builds("deltaScratch") == builds, "second read rebuilt the table")
    // v1 sees slices A+B (event_id % 3 in {0,1}: 20 rows), v4 everything
    val byVersion = out.groupBy(_.getAs[Long]("version"))
    assert(byVersion(1L).map(_.getAs[Long]("n")).sum == 20)
    assert(byVersion(4L).map(_.getAs[Long]("n")).sum == 30)
    val vac = PipelineOps.queries("pipe_vacuum_plan")(spark, dir).collect()
    assert(vac.length == 3)
    assert(vac.count(_.getAs[Boolean]("eligible")) == 2)
  }
}
