package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.DeltaLite
import graft.sources.DeltaLite.Action

/** Streaming → [[graft.sources.DeltaLite]] transaction-log table, the
  * exactly-once foreachBatch sink: each micro-batch lands as one data
  * file plus one ATOMIC commit at version = batchId. A reader replaying
  * the log never sees a batch's file until its commit exists, so a crash
  * between data-file write and commit leaves an invisible orphan, never
  * a half-visible batch — the reference's A11/A14 overwrite-then-mark
  * contract, with versioned visibility instead of in-place truncation.
  *
  * Exactly-once output on at-least-once delivery: Structured Streaming
  * re-delivers a whole epoch after a crash between sink commit and
  * source-checkpoint advance, and the re-delivered batchId finds its
  * version in the log and is skipped without running the batch. One
  * writer per table is assumed, as Structured Streaming runs one active
  * query per checkpoint; a racing second commit of a version still
  * loses in [[DeltaLite.commit]].
  *
  * At scale the data write is the normal distributed parquet write;
  * the commit is one driver-side log file per epoch, the cost profile of
  * Spark's own file-sink metadata log. */
object DeltaSink {

  /** Commit `batch` as version `batchId` of the table at `tableDir` — the
    * foreachBatch body. Returns true only when this call committed the
    * version. A version already in the log returns false without running
    * or writing the batch. Otherwise the batch is written once to
    * `part_<id>.parquet`; the overwrite there can only replace the
    * uncommitted leftover of a crashed attempt. The add action's
    * `n_rows` comes from the written files' parquet footers: counting
    * the batch would run it a second time, and a nondeterministic source
    * could count rows other than those on disk. */
  def commitBatch(tableDir: String)(batch: Dataset[Row], batchId: Long): Boolean = {
    if (DeltaLite.committed(tableDir, batchId)) return false
    val rel = f"part_$batchId%05d.parquet"
    val out = new java.io.File(tableDir, rel)
    batch.write.mode("overwrite").parquet(out.getPath)
    DeltaLite.commit(tableDir, batchId, Seq(Action(batchId, "add", rel, writtenRows(out))))
  }

  /** Row count of a written parquet directory from its part files'
    * footers — metadata only, driver-side O(#part-files). */
  private def writtenRows(dataDir: java.io.File): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    Option(dataDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map { f =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
  }

  /** Start an AvailableNow drain of `df` into the DeltaLite table at
    * `tableDir`, checkpointed at `checkpoint`. Restarting with the same
    * checkpoint resumes at the next unprocessed batch. */
  def start(df: DataFrame, tableDir: String, checkpoint: String): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        commitBatch(tableDir)(batch, batchId); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
}
