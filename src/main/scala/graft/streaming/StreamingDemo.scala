package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The real incremental runtime behind the batch-checkable models in
  * [[graft.ops.StreamingModel]]: Structured Streaming with event-time
  * watermarks. This replaces the reference's scheduler-driven re-run loop
  * (`README.md:63-68` — Task Scheduler fires the whole script daily) with
  * a continuously-incremental plan, and its state file
  * (`src/bak_unload.ps1:57-66,114-116`) with the checkpointed state store.
  *
  * Not a declared query: `Verify.scala` writes batch parquet, and a
  * streaming query's output depends on batch arrival order. The spec
  * (`StreamingDemoSpec`) drives it through `MemoryStream` and asserts the
  * watermark drop semantics agree with the batch model.
  */
object StreamingDemo {

  /** The shared event-time transform: 1-hour watermark, tumbling 1-hour
    * windows, counts+sums per event_type. Works identically on a batch or
    * streaming frame — the property that makes the batch oracle meaningful. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming dedup — the real runtime behind
    * [[graft.ops.StreamingModel.dedupWindow]]'s batch model: keep the
    * first event per (user, event_type), suppress re-occurrences arriving
    * within the 1-hour watermark delay. State is one entry per key with
    * watermark-driven eviction (O(keys in the horizon), not O(history)) —
    * Spark's `dropDuplicatesWithinWatermark`, exactly. */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** File-source variant: treats the events parquet as an append-only
    * stream (Trigger.AvailableNow = the reference's "run until caught up,
    * then exit" daily batch, minus the scheduler). The file-source
    * checkpoint provides exactly the seen-set idempotency of ref A7. */
  def runFileDemo(spark: SparkSession, dir: String, checkpoint: String): DataFrame = {
    graft.functions.GraftExtensions.install(spark)
    // The file stream source watches a directory; stage the single-file
    // table into one (in production the landing dir IS a directory).
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream-in")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(dir, "events.parquet"),
      streamDir.resolve("events.parquet"))
    val batchSchema = spark.read.parquet(s"$dir/events.parquet").schema
    // the same ts normalization as Util.table, so watermark math sees
    // one type whichever parquet spelling the fixture uses
    val events = graft.ops.Util.eventsTs(
      spark.readStream.schema(batchSchema).parquet(streamDir.toString))
    val q = windowedCounts(events)
      .writeStream
      .format("memory")
      .queryName("graft_stream_demo")
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table("graft_stream_demo")
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream-ckpt").toString
    val out = runFileDemo(spark, "/root/testdata/sf0.001", tmp)
    println(s"[stream-demo] closed windows emitted: ${out.count()}")
    out.orderBy("win_start", "event_type").show(5, truncate = false)
    spark.stop()
  }
}
