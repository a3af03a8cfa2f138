package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference pipeline (`src/bak_unload.ps1`, its entire executable
  * surface) re-expressed as declarative Spark operators:
  *
  *   A2  manifest scan        → filesystem listing as a DataFrame
  *   A3  parse/project        → column expressions
  *   A4  suffix filter        → `contains` predicate (the code filters
  *                              ".zip" though its comment says ".bak" —
  *                              the code's semantic wins, ref `:25,31`)
  *   A5  empty guard          → isEmpty short-circuit
  *   A6  latest selection     → orderBy(desc).limit(1) (lexicographic,
  *                              NOT mtime — blob names embed dates, ref `:46`)
  *   A7  seen-set anti-check  → left_anti vs the state table
  *   A12 snapshot load        → pluggable [[SnapshotSink]]
  *   A14 state commit         → overwrite state parquet AFTER the load, so
  *                              a crash between load and commit re-imports
  *                              next run: at-least-once, made safe by the
  *                              sink's overwrite idempotency (ref `:114-116`)
  *   A15 cleanup              → sink-owned; unlike the reference, temp
  *                              artifacts do not leak (ref bug `:118-126`
  *                              never deletes the downloaded zip)
  *
  * Fetch/decompress (A8/A9) live behind the sink: in Spark the storage
  * connector does transfer+decompression inside the scan.
  */
final case class PipelineConfig(
    manifestDir: String,
    statePath: String,
    suffix: String = ".zip")

/** Where a chosen snapshot artifact gets loaded (ref A11/A12: DROP +
  * RESTORE = overwrite load). Implementations must be overwrite-idempotent
  * — the pipeline's at-least-once delivery depends on it. */
trait SnapshotSink {
  def load(spark: SparkSession, artifactName: String): Unit
}

final class IngestPipeline(cfg: PipelineConfig, sink: SnapshotSink) {

  /** A2+A3: list the manifest dir into a DataFrame of (name, mtime, size). */
  def manifest(spark: SparkSession): DataFrame = {
    val fs = new Path(cfg.manifestDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries =
      if (!fs.exists(new Path(cfg.manifestDir))) Seq.empty
      else fs.listStatus(new Path(cfg.manifestDir)).toSeq
        .map(s => (s.getPath.getName, s.getModificationTime, s.getLen))
    import spark.implicits._
    entries.toDF("name", "mtime", "size")
  }

  /** A7 state: the previously-imported artifact name (0 or 1 rows). Read
    * with its declared schema, so building it runs no inference job. */
  def state(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val p = new Path(cfg.statePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema("name STRING").parquet(cfg.statePath)
    else Seq.empty[String].toDF("name")
  }

  /** A4–A7 as a frame: the latest artifact unless already imported (0 or 1 rows). */
  def candidates(spark: SparkSession): DataFrame =
    manifest(spark)
      .filter(col("name").contains(cfg.suffix))        // A4
      .orderBy(desc("name")).limit(1)                  // A6: lexicographic max
      .join(state(spark), Seq("name"), "left_anti")    // A7: seen-set

  /** A4–A7: latest not-yet-imported artifact, or None. */
  def chooseArtifact(spark: SparkSession): Option[String] =
    candidates(spark).collect().headOption.map(_.getAs[String]("name"))

  /** Full run: returns the loaded artifact name, or None if nothing new
    * (both reference early-exits, `:38-42` and `:57-66`). */
  def run(spark: SparkSession): Option[String] =
    chooseArtifact(spark).map { name =>
      sink.load(spark, name)                           // A12
      import spark.implicits._                         // A14: commit LAST
      Seq(name).toDF("name").coalesce(1)
        .write.mode("overwrite").parquet(cfg.statePath)
      name
    }
}
