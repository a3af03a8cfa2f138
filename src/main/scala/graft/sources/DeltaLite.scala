package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Minimal transaction-log table format — the Delta/Iceberg commit
  * pattern (public: Armbrust et al., "Delta Lake: High-Performance ACID
  * Table Storage over Cloud Object Stores", VLDB 2020) re-expressed at
  * the scale-relevant core: a table IS an ordered JSON-lines log of
  * add/remove file actions; readers replay the log prefix up to a
  * version to learn the live file set, so
  *
  *   - COMMITS are atomic: a version is visible only once its complete
  *     log file exists (one link, no partial state);
  *   - TIME TRAVEL is a shorter replay prefix (`asOf`);
  *   - COMPACTION is remove+add of the same rows in fewer files —
  *     invisible to query results by construction;
  *   - file STATS (row counts) ride in the action record, so
  *     metadata-only questions (vacuum planning, size accounting) read
  *     the LOG, never the data files — at 100 TB the difference between
  *     a metadata query and a table scan.
  *
  * The log stays bounded (#actions ≪ #rows) and is read through
  * `spark.read.json` — the same "log is just data" posture Delta takes;
  * checkpointing the log into parquet (Delta's `_checkpoint`) is the
  * documented growth path, not needed at fixture scale.
  *
  * Create-once relies on link(2), which needs a real filesystem (local
  * disk, HDFS, NFS). An object store (S3/ABFS/GCS) has no link and
  * renames by copy+delete, so a log there needs a conditional put
  * (`If-None-Match: *`) for the version file instead.
  *
  * Reference tie-in: the ref pipeline's destructive overwrite + commit
  * marker (A11/A14, `src/bak_unload.ps1:95-118`) is exactly what a
  * transaction log replaces — versioned visibility instead of in-place
  * truncation. */
object DeltaLite {
  /** One log record. `n_rows` is the add-time stat (−1 on removes). */
  case class Action(version: Long, action: String, path: String, n_rows: Long)

  private def logDir(tableDir: String): java.io.File =
    new java.io.File(tableDir, "_log")

  private def logFile(tableDir: String, version: Long): java.io.File =
    new java.io.File(logDir(tableDir), f"$version%05d.json")

  /** JSON string escape for log fields: backslash, quote, and control
    * chars — an unescaped path would parse as an all-null PERMISSIVE row
    * and silently drop a live file from every snapshot. */
  private def jq(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** True when the log holds `version`. */
  def committed(tableDir: String, version: Long): Boolean =
    logFile(tableDir, version).exists()

  /** Append commit `version` with the given actions. Returns true only
    * when this call created the version's log file; false when the log
    * already holds the version (a replay, or the loser of a race). The
    * existing file, not the replay, stays authoritative. The body goes
    * to a writer-unique temp file and `Files.createLink` publishes it:
    * link(2) fails when the target exists, where rename(2) would
    * silently replace it, so the first complete commit wins a race.
    * Driver-side IO is sound here: the log is metadata, bounded by
    * #actions. */
  def commit(tableDir: String, version: Long,
      actions: Seq[Action]): Boolean = {
    val dst = logFile(tableDir, version)
    if (dst.exists()) return false
    dst.getParentFile.mkdirs()
    val tmp = new java.io.File(dst.getParentFile,
      f".tmp_$version%05d_${java.util.UUID.randomUUID().toString.take(8)}.json")
    // Files.write THROWS on any IO failure — a PrintWriter would swallow
    // a partial write (ENOSPC) and link a truncated log into place
    val body = actions.map(a =>
      s"""{"version":${a.version},"action":"${jq(a.action)}","path":"${jq(a.path)}","n_rows":${a.n_rows}}""")
      .mkString("", "\n", "\n")
    java.nio.file.Files.write(tmp.toPath, body.getBytes("UTF-8"))
    try {
      java.nio.file.Files.createLink(dst.toPath, tmp.toPath)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: java.io.IOException if dst.exists() => false
      case e: java.io.IOException =>
        throw new java.io.IOException(s"commit link failed for $dst", e)
    } finally tmp.delete()
  }

  /** All actions with version ≤ `asOf` (None = latest), as a DataFrame —
    * the log read is itself a Spark job (bounded input, but the pattern
    * scales to checkpointed logs). */
  def actions(spark: SparkSession, tableDir: String,
      asOf: Option[Long] = None): DataFrame = {
    // Read the DIRECTORY, not a "*.json" glob: Spark's FileIndex already
    // skips dot/underscore-prefixed temp files, and a glob path makes the
    // analyzer's FileStreamSink metadata probe log a spurious (caught)
    // FileNotFoundException stack on every read.
    val df = spark.read
      .schema("version LONG, action STRING, path STRING, n_rows LONG")
      .json(logDir(tableDir).getPath)
    asOf.map(v => df.filter(df("version") <= v)).getOrElse(df)
  }

  /** Live file paths at `asOf`: adds minus removes over the replay
    * prefix. Collected — the live set is metadata, bounded by #actions
    * (the same bounded-driver-state discipline as the centroid
    * collects). Replay order is imposed EXPLICITLY — a multi-file JSON
    * read carries no row-order guarantee — by (version, removes-first):
    * cross-version order is the log order, and within a commit removes
    * apply before adds so a same-path rewrite in one commit stays live. */
  def liveFiles(spark: SparkSession, tableDir: String,
      asOf: Option[Long] = None): Seq[String] = {
    import org.apache.spark.sql.functions.{col, desc}
    val acts = actions(spark, tableDir, asOf)
      .orderBy(col("version"), desc("action"))
      .select("action", "path").collect()
    val added = scala.collection.mutable.LinkedHashSet[String]()
    acts.foreach { r =>
      val p = r.getString(1)
      if (r.getString(0) == "add") added += p else added -= p
    }
    added.toSeq.map(p => new java.io.File(tableDir, p).getPath)
  }

  /** The table's rows as of `asOf` — one parquet scan over the live
    * files. Fails loudly on an empty live set (an empty table is a
    * zero-action log, not a missing one). */
  def snapshot(spark: SparkSession, tableDir: String,
      asOf: Option[Long] = None): DataFrame = {
    val files = liveFiles(spark, tableDir, asOf)
    require(files.nonEmpty, s"no live files in $tableDir as of $asOf")
    spark.read.parquet(files: _*)
  }

  /** Vacuum PLAN from the log alone — files removed at or before
    * `currentVersion − retention` are reclaimable; newer removes must
    * stay for time travel. Returns (path, removed_version, n_rows at add
    * time, eligible). Never touches a data file: the row counts come
    * from the add-action stats, which is what makes vacuum planning a
    * metadata query at any scale.
    *
    * Liveness-aware: a path's fate is its LATEST action ≤ current — a
    * remove followed by a re-add of the same path (the rewrite cycle
    * `liveFiles` explicitly supports) is LIVE, and a plan that listed it
    * as reclaimable would delete current table data. One row per
    * removed path (the latest remove), never a remove×add product. */
  def vacuumPlan(spark: SparkSession, tableDir: String,
      currentVersion: Long, retention: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    val acts = actions(spark, tableDir, Some(currentVersion))
    // per path: latest action decides liveness; latest remove + latest
    // add-stats feed the report
    // same-version remove+add of one path is a one-commit rewrite and
    // LIVE (liveFiles applies removes first): the add wins the tie via
    // the secondary ordering term. max_by skips null orderings, so the
    // n_rows pick sees only add actions.
    val latest = acts.groupBy("path").agg(
      max_by(col("action"),
        struct(col("version"), (col("action") === "add").cast("int")))
        .as("last_action"),
      max(when(col("action") === "remove", col("version"))).as("removed_version"),
      max_by(when(col("action") === "add", col("n_rows")),
        when(col("action") === "add", col("version"))).as("n_rows"))
    latest.filter(col("last_action") === "remove")
      .select(col("path"), col("removed_version"), col("n_rows"),
        (col("removed_version") <= lit(currentVersion - retention))
          .as("eligible"))
  }
}
