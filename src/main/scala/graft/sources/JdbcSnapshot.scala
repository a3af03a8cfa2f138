package graft.sources

import java.util.Properties
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** JDBC source/sink for SQL Server–shaped endpoints — the Spark analog of
  * the reference's `sqlcmd` RESTORE/DROP/GRANT stanzas
  * (`src/bak_unload.ps1:90-112`). The snapshot-overwrite write preserves
  * the reference's contract: a re-run after a crash overwrites cleanly
  * (at-least-once + idempotent overwrite, ref A11/A12/A14).
  *
  * Scale notes: reads are range-partitioned so every executor pulls its own
  * slice; writes batch inserts over at most `numPartitions` connections,
  * with no shuffle. Untestable against a live server in this environment —
  * covered by construction-level unit tests and an embedded Derby.
  */
object JdbcSnapshot {

  /** Partitioned read: WHERE <partitionColumn> ranges split across
    * `numPartitions` executor-side connections. */
  def readTable(
      spark: SparkSession, url: String, table: String,
      partitionColumn: String, lowerBound: Long, upperBound: Long,
      numPartitions: Int, props: Properties = new Properties()): DataFrame =
    spark.read
      .option("partitionColumn", partitionColumn)
      .option("lowerBound", lowerBound)
      .option("upperBound", upperBound)
      .option("numPartitions", numPartitions)
      .jdbc(url, table, props)

  /** Snapshot-overwrite load (ref A11+A12): truncate-and-reload keeps the
    * target's DDL/grants (the reference re-grants after every RESTORE
    * because DROP destroys principals — truncate avoids the problem, but
    * [[grantReader]] is still provided for parity).
    *
    * Writes over at most `numPartitions` connections, no shuffle — the
    * meaning of Spark's own JDBC `numPartitions` write option. An input
    * with fewer partitions keeps its count; one with more is merged in
    * place. The trade-off: `coalesce` pulls the upstream work into those
    * n tasks, which is right for a scan or projection feeding the sink,
    * since the sink is the bottleneck. A caller with heavy upstream work
    * should repartition it first. */
  def snapshotOverwrite(
      df: DataFrame, url: String, table: String,
      numPartitions: Int = 8, batchSize: Int = 10000,
      props: Properties = new Properties()): Unit =
    df.coalesce(numPartitions)
      .write.mode(SaveMode.Overwrite)
      .option("truncate", value = true)
      .option("batchsize", batchSize)
      .jdbc(url, table, props)

  /** Raw JDBC DDL side-effect hook — no DataFrame analog exists for DDL.
    * The generic carrier for [[grantReader]] (and anything else the target
    * catalog needs around a snapshot load); integration-tested against an
    * embedded Derby in JdbcSnapshotSpec. */
  def execDdl(url: String, props: Properties, ddl: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try st.execute(ddl) finally st.close()
    } finally conn.close()
  }

  /** Ref A13: idempotent catalog DDL (IF NOT EXISTS guard) as a raw JDBC
    * side-effect hook. The spelling comes from the [[SnapshotDialect]]
    * seam — T-SQL (the reference's own, default) or Derby (the instance
    * the integration spec actually executes); swap the dialect to run the
    * same path against a different catalog. */
  def grantReader(url: String, props: Properties, user: String, db: String,
      dialect: SnapshotDialect = TSqlSnapshotDialect): Unit =
    try execDdl(url, props, dialect.grantReaderDdl(user, db))
    catch {
      // re-running the grant after every load is the A13 contract; on
      // dialects without an IF NOT EXISTS verb the re-run surfaces as an
      // already-exists SQLException the dialect classifies benign
      case e: java.sql.SQLException if dialect.isBenignAlreadyExists(e) => ()
    }
}
