package graft

import org.apache.spark.sql.SparkSession

/** Production entry point: a SparkSession wired for this engine.
  *
  * The driver harnesses (Verify/Bench) build their own sessions; library
  * users start here. Config rationale, sized for real clusters:
  *   - AQE + skew-join splitting on: runtime re-planning replaces most
  *     manual salting (graft.ops.Skew covers the rest);
  *   - shuffle partitions ≈ 2-3× total cores (fine-grained enough for
  *     AQE coalescing to work with, not so many that task overhead wins);
  *   - 128 MB file-split target keeps scan tasks coarse at 100 TB;
  *   - GraftExtensions injects the native expressions, the TopKPerKey
  *     strategy and window rewrite, and the collected-sort strategy
  *     (`graft.plans.CollectSortStrategy`: a collected `ORDER BY` merges
  *     per-partition sorted runs on the driver instead of range-shuffling)
  *     at build time; its `install` (run by every table read) adds the rest
  *     and no second copy of them.
  */
object GraftSession {

  def recommendedConfigs(totalCores: Int): Map[String, String] = Map(
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> (totalCores * 2).max(8).toString,
    "spark.sql.files.maxPartitionBytes" -> (128L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC")

  /** Additions for streaming jobs: RocksDB state store keeps large,
    * long-lived state (sessionization, streaming dedup sets) off-heap
    * with incremental (changelog) checkpoints — the default HDFS-backed
    * provider holds every key in executor heap and re-snapshots whole
    * maps, which fails first when state approaches memory at 100 TB
    * inputs. Merge over [[recommendedConfigs]] when the job runs
    * [[graft.streaming]] pipelines. */
  def streamingConfigs: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")

  /** Cloud object-store tuning for the 100 TB deployment ("s3a" or
    * "abfs"). Two failure modes dominate at scale and both are config,
    * not code:
    *
    *  1. **Rename-based commit.** The default FileOutputCommitter
    *     simulates rename on stores that copy — an O(data) sequential
    *     copy in the driver-side commit phase. S3A's magic committer and
    *     ABFS's manifest committer both commit by metadata manifest,
    *     O(files) not O(bytes).
    *  2. **Connection starvation.** A 1000-executor scan multiplexes
    *     thousands of concurrent GETs; the Hadoop defaults (96-connection
    *     pool) throttle the scan long before the store does. Pool and
    *     thread sizes below are per-executor.
    *
    * Returned as plain config pairs (all public Hadoop/Spark knobs) so
    * they merge over [[recommendedConfigs]]; the cloud connector jars
    * themselves (hadoop-aws / hadoop-azure) ship with the cluster image,
    * not this library. */
  def cloudStorageConfigs(scheme: String): Map[String, String] = scheme match {
    case "s3a" => Map(
      "spark.hadoop.fs.s3a.committer.name" -> "magic",
      "spark.hadoop.fs.s3a.committer.magic.enabled" -> "true",
      "spark.sql.sources.commitProtocolClass" ->
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
      "spark.sql.parquet.output.committer.class" ->
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
      "spark.hadoop.fs.s3a.connection.maximum" -> "200",
      "spark.hadoop.fs.s3a.threads.max" -> "64",
      // parquet is seek-heavy: random fadvise skips the drain-the-stream
      // penalty on every column-chunk seek
      "spark.hadoop.fs.s3a.experimental.input.fadvise" -> "random",
      "spark.hadoop.fs.s3a.fast.upload.buffer" -> "disk")
    case "abfs" => Map(
      "spark.hadoop.mapreduce.outputcommitter.factory.scheme.abfs" ->
        "org.apache.hadoop.fs.azurebfs.commit.AzureManifestCommitterFactory",
      "spark.sql.sources.commitProtocolClass" ->
        "org.apache.spark.internal.io.cloud.PathOutputCommitProtocol",
      "spark.sql.parquet.output.committer.class" ->
        "org.apache.spark.internal.io.cloud.BindingParquetOutputCommitter",
      "spark.hadoop.fs.azure.read.request.size" -> "4194304",
      "spark.hadoop.fs.azure.readaheadqueue.depth" -> "8")
    case other => throw new IllegalArgumentException(
      s"unknown object-store scheme '$other' (expected s3a or abfs)")
  }

  def builder(master: String, totalCores: Int): SparkSession.Builder =
    recommendedConfigs(totalCores).foldLeft(
      SparkSession.builder().master(master)) {
      case (b, (k, v)) => b.config(k, v)
    }
}
