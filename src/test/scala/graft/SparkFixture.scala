package graft

import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ListenerBus

// Top-level case classes so product encoders resolve.
case class DocRow(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
case class EventRow(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
    value: Double, props: String)
case class CustRow(c_custkey: Long, c_name: String, c_nationkey: Int, c_acctbal: Double,
    c_mktsegment: String)
case class OrderRow(o_orderkey: Long, o_custkey: Long, o_orderstatus: String,
    o_totalprice: Double, o_orderdate: Timestamp, o_orderpriority: String)
case class LineRow(l_orderkey: Long, l_quantity: Double, l_extendedprice: Double,
    l_discount: Double, l_tax: Double, l_returnflag: String, l_linestatus: String)
case class EmbRow(vec_id: Long, embedding: Array[Float], label: Int)

/** What the Spark jobs of one traced block did. */
case class JobTrace(jobs: Int, tasks: Int, shuffleWriteBytes: Long)

object TestSpark {
  /** Parent of every directory a spec makes, removed on JVM exit. */
  private lazy val tmpRoot = graft.ops.Util.processTempRoot("graft-test")

  /** A fresh directory under [[tmpRoot]]. */
  def tempDir(prefix: String): String =
    Files.createTempDirectory(tmpRoot.toPath, prefix).toString

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // keep saveAsTable (bucketed-join spec) out of the repo working dir
      .config("spark.sql.warehouse.dir", tempDir("graft-warehouse"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkFixture {
  val spark: SparkSession = TestSpark.spark

  def ts(s: String): Timestamp = Timestamp.valueOf(s)

  def tempDir(prefix: String): String = TestSpark.tempDir(prefix)

  /** Write the given tables as `<tmpdir>/<name>.parquet` and return the dir —
    * the same layout the declared queries read, so edge-case fixtures run
    * through the exact production code path. */
  def fixtureDir(tables: (String, DataFrame)*): String = {
    val dir = tempDir("graft-fixture")
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    dir
  }

  /** Runs `body` and returns its result with the jobs it started on this
    * thread: job count, task count and shuffle-write bytes over their
    * tasks, read from a listener after the bus drains. */
  def traceJobs[T](body: => T): (T, JobTrace) = {
    val sc = spark.sparkContext
    val key = "graft.test.trace"
    val tag = java.util.UUID.randomUUID.toString
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val jobs = new AtomicInteger
    val tasks = new AtomicInteger
    val shuffleBytes = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add(_))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) {
          tasks.incrementAndGet()
          if (e.taskMetrics != null)
            shuffleBytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
        }
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try {
      val out = body
      ListenerBus.drain(sc)
      (out, JobTrace(jobs.get, tasks.get, shuffleBytes.get))
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }
}
