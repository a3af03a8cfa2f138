package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Table-layout sinks for the 100 TB path. The testdata is one file per
  * table; at scale layout IS performance: date-partitioned directories
  * give partition pruning (the `events` case — SURVEY §4.2), in-file
  * ordering gives min/max-statistics row-group skipping, and bounded file
  * sizes keep task granularity sane.
  */
object TableSinks {

  /** Write `df` date-partitioned by `tsCol`'s day with files sorted on
    * `sortCols`: `<path>/p_date=YYYY-MM-DD/part-*.parquet`. Readers
    * filtering on p_date prune whole directories before any IO. Returns
    * the schema written, which [[readDatePartitioned]] reads back with. */
  def writeDatePartitioned(
      df: DataFrame, tsCol: String, path: String,
      sortCols: Seq[String], maxRecordsPerFile: Long = 5000000L): StructType = {
    val dated = df.withColumn("p_date", to_date(col(tsCol)))
    dated
      .repartition(col("p_date"))                       // one shuffle: co-locate days
      .sortWithinPartitions(sortCols.map(col): _*)      // row-group stats skipping
      .write
      .partitionBy("p_date")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode("overwrite")
      .parquet(path)
    dated.schema
  }

  /** Read back with partition pruning; `dayPredicate` hits only matching
    * `p_date=` directories (verify via explain: PartitionFilters). The
    * schema is the one the layout was written with, not inferred: a
    * zero-row write leaves no data file to infer from. */
  def readDatePartitioned(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(path)

  /** Compact a parquet directory's small files into ~`targetBytes` files.
    * The operational fix for the 100 TB small-files problem: streaming
    * sinks and fine-grained partitions accrete thousands of KB-scale
    * files per directory, and scan-task scheduling overhead (one task per
    * file below `maxPartitionBytes`) comes to dominate the read. File
    * count = ceil(on-disk bytes / target) from the filesystem's own
    * accounting (no data pass); the rewrite is one job with no shuffle
    * wider than a coalesce-style repartition. Writes to `outPath` and
    * leaves the source intact — at scale the atomic swap is a metastore
    * location flip, not an in-place overwrite. */
  def compact(
      spark: SparkSession, inPath: String, outPath: String,
      targetBytes: Long = 128L * 1024 * 1024): Unit = {
    val fs = new org.apache.hadoop.fs.Path(inPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(inPath)).getLength
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    spark.read.parquet(inPath)
      .repartition(nFiles)
      .write.mode("overwrite").parquet(outPath)
  }

  /** Overwrite ONLY the date partitions present in `df`, leaving every
    * other partition untouched — the incremental-load primitive for a
    * partitioned fact table: a daily job re-lands its own day (or a
    * late-data backfill re-lands an old one) without clobbering the rest
    * of history, and without the read-modify-write cycle a whole-table
    * overwrite would need at 100 TB. Spark's static overwrite mode (the
    * default) truncates the ENTIRE root path first; the dynamic mode
    * scopes the delete to partitions the incoming frame actually writes,
    * which is what makes the operation idempotent per day — safe to
    * retry, safe to schedule. The mode is a writer option, which takes
    * precedence over `spark.sql.sources.partitionOverwriteMode`, so the
    * session's default is never touched. */
  def overwriteDatePartitions(
      df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("p_date", to_date(col(tsCol)))
      .repartition(col("p_date"))
      .write
      .partitionBy("p_date")
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .parquet(path)

  /** Read a parquet directory whose files were written over time with
    * EVOLVING schemas (columns added later): `mergeSchema` unions the
    * per-file schemas, older files surface NULL for columns they predate.
    * Schema drift is the norm in a long-lived 100 TB table — enabling the
    * merge only here (not globally) keeps the common fast path on the
    * single-footer read, because merging touches every file's footer. */
  def readMergedSchema(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Write `df` as a BUCKETED catalog table: rows hash-distributed into
    * `buckets` files by `bucketCol`, each sorted on it. Two tables
    * bucketed the same way on their join key then join with NO exchange
    * on either side — at 100 TB that deletes the dominant cost of every
    * recurring fact-to-fact join (the shuffle), which is why warehouse
    * fact tables are bucketed on their primary join key. Bucketing needs
    * the catalog (bucket metadata lives there), hence `saveAsTable`
    * rather than a path write. Shuffle-freeness is asserted in
    * SourcesSpec. */
  def writeBucketed(
      df: DataFrame, table: String, bucketCol: String, buckets: Int): Unit =
    df.write
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .format("parquet")
      .mode("overwrite")
      .saveAsTable(table)
}
