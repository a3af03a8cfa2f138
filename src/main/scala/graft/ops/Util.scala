package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for declared queries.
  *
  * Oracle-parity policy (see SURVEY.md §2 determinism rules):
  *   - every output column is StringType, LongType, or DoubleType;
  *   - float aggregates go through exact decimal sums (deterministic across
  *     engines and summation orders), then cast to double and round(4);
  *   - timestamps leave queries as formatted strings (events.ts is ns in
  *     parquet; Spark truncates to µs — raw values must never be compared);
  *   - final transform of every query is an orderBy with a unique tie-break.
  */
object Util {
  /** Money-typed columns (l_extendedprice, o_totalprice, c_acctbal …) are
    * generated as 2-decimal values; DECIMAL(14,2) holds them exactly. */
  val Money: DecimalType = DecimalType(14, 2)
  /** Quantities / event values: 2-decimal, small range. */
  val Qty: DecimalType = DecimalType(10, 2)
  /** Rates (l_discount, l_tax): 2-decimal in [0,1]. */
  val Rate: DecimalType = DecimalType(8, 4)

  /** Get the fixture table as a DataFrame. Every query reads through
    * here, so it runs [[graft.functions.GraftExtensions.install]] first,
    * outside the memo. The lazy DataFrame is memoized per (session UUID,
    * path, content stamp) — `spark.read.parquet` re-reads footers and
    * re-infers the schema on EVERY call (measured 64 ms/call at sf0.1:
    * 200 constructions = 12.8 s). This is METADATA caching only, what a
    * catalog table gives a real deployment for free: no row is
    * materialized, the content stamp ([[dirContentKey]]) re-keys a
    * regenerated corpus, and the UUID keeps each session's frame its own.
    * LRU-bounded via [[CorpusScope]]. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.functions.GraftExtensions.install(spark)
    val key = org.apache.spark.sql.graftbridge.Bridge.sessionUUID(spark) + "|" +
      dir + "/" + name + "|" + dirContentKey(dir, s"$name.parquet")
    CorpusScope.cached("tableMeta", key) {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events") eventsTs(df) else df
    }
  }

  /** `events` with `ts` as an instant at µs, for batch and streaming
    * reads alike. Parquet TIMESTAMP(NANOS), which Spark's reader rejects
    * ([PARQUET_TYPE_ILLEGAL]), arrives as raw nanos under `nanosAsLong`
    * and truncates to µs by integer div — double division rounds near
    * .5µs; oracle SQL mirrors it with CAST(ts AS TIMESTAMP). Spark 4
    * infers timestamp[us] with isAdjustedToUTC=false as TIMESTAMP_NTZ;
    * the cast to TimestampType is value-preserving under the UTC session
    * and keeps `unix_micros`/window-range arithmetic (which rejects NTZ)
    * working on either spelling. TimestampType passes through. */
  def eventsTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _ => df
  }

  /** DuckDB FROM-clause for `events` with ts truncated to µs, matching the
    * Spark-side read in [[table]]. Alias stays `events`/custom. */
  def evSql(alias: String = "events"): String =
    s"(SELECT * REPLACE (CAST(ts AS TIMESTAMP) AS ts) FROM events) $alias"

  /** µs-precision timestamp → string; matches DuckDB strftime '%Y-%m-%d %H:%M:%S.%f'. */
  def tsS(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** date-only string; matches DuckDB strftime '%Y-%m-%d'. */
  def dateS(c: Column): Column = date_format(c, "yyyy-MM-dd")

  /** (1 - rate) clamped to DECIMAL(6,4): keeps chained decimal products well
    * under precision 38 in both Spark and DuckDB (unclamped, Spark silently
    * reduces scale and DuckDB errors out). Exact — rates are 2-decimal. */
  def oneMinus(c: Column): Column = (lit(1) - c.cast(Rate)).cast(DecimalType(6, 4))

  /** (1 + rate) clamped to DECIMAL(6,4); see [[oneMinus]]. */
  def onePlus(c: Column): Column = (lit(1) + c.cast(Rate)).cast(DecimalType(6, 4))

  /** Exact decimal sum of a double column, surfaced as double (order-independent). */
  def dsum(c: Column, t: DecimalType): Column = sum(c.cast(t)).cast("double")

  /** dsum rounded to 4 decimals — the standard float-aggregate output form. */
  def dsumR(c: Column, t: DecimalType): Column = round(dsum(c, t), 4)

  /** Engine-portable rounding for NON-exact doubles (ratios, sqrt/ln,
    * cosines): floor(x·10^p + 0.5)/10^p — the same IEEE ops in both
    * engines, so both land on the same side of every boundary. Spark's
    * native round() goes through the double's shortest DECIMAL repr
    * (BigDecimal.valueOf), which rounds 0.25375 (stored 0.2537499…) UP
    * while DuckDB's binary rounding goes DOWN — a real 1-ulp mismatch
    * observed at sf0.1. Decimal-exact doubles (2-dec money sums) don't
    * need this; plain round() stays fine there. */
  def rp(c: Column, p: Int): Column = {
    val f = math.pow(10, p)
    floor(c * lit(f) + lit(0.5)) / lit(f)
  }
  def r4(c: Column): Column = rp(c, 4)
  def r6(c: Column): Column = rp(c, 6)

  /** Driver-side scalar twin of [[rp]] — ONE spelling for the
    * quantization that driver-computed doubles (IRLS β, EM params,
    * Markov probabilities, k-center radii) must share with [[rpSql]]
    * bit-for-bit. */
  def rpD(x: Double, p: Int): Double = {
    val f = math.pow(10, p)
    math.floor(x * f + 0.5) / f
  }
  def r4D(x: Double): Double = rpD(x, 4)
  def r6D(x: Double): Double = rpD(x, 6)

  /** DuckDB spelling of [[rp]] — textually identical arithmetic. */
  def rpSql(x: String, p: Int): String = {
    val f = "1" + ("0" * p) + ".0"
    s"floor(($x) * $f + 0.5) / $f"
  }
  def r4Sql(x: String): String = rpSql(x, 4)
  def r6Sql(x: String): String = rpSql(x, 6)

  /** Engine-DETERMINISTIC integer-decimal → double bridge. A plain
    * CAST(decimal AS DOUBLE) is only engine-identical while the
    * decimal's unscaled value stays under 2⁵³: above that, Spark's
    * BigDecimal→double is correctly rounded while DuckDB converts the
    * int128 representation through float arithmetic — a ~1-ulp
    * divergence that flips r4/r6 boundaries (first observed:
    * window_bollinger's Σrev² at sf0.1, sd 1955065.3735 vs .3734).
    * This helper splits the INTEGER-VALUED decimal into four 30-bit
    * limbs — each limb exact in both engines — and reassembles them
    * with an identical IEEE Horner chain, so the resulting double is
    * bit-identical across engines for any |value| < 10³⁸ (the result
    * still rounds, but both engines round the same way). Callers pass
    * a scale-0 (integer-valued) decimal and the power-of-ten to divide
    * the reassembled double by. Negative values ride an explicit
    * sign·abs factoring because DuckDB's % takes the dividend's sign
    * while Spark's pmod is non-negative. SQL twin: [[dec2dSql]]. */
  def dec2d(c: Column, pow10: Int): Column = {
    val b = 1073741824L // 2^30
    val bD = 1073741824.0
    val a = abs(c)
    val l0 = pmod(a, lit(b)).cast("double")
    val q1 = (a - pmod(a, lit(b))) / lit(b)
    val l1 = pmod(q1, lit(b)).cast("double")
    val q2 = (q1 - pmod(q1, lit(b))) / lit(b)
    val l2 = pmod(q2, lit(b)).cast("double")
    val l3 = ((q2 - pmod(q2, lit(b))) / lit(b)).cast("double")
    val mag = ((l3 * lit(bD) + l2) * lit(bD) + l1) * lit(bD) + l0
    val sgn = when(c < 0, lit(-1.0)).otherwise(lit(1.0))
    sgn * mag / lit(math.pow(10, pow10))
  }

  /** Driver-side twin of [[dec2d]] for COLLECTED decimal cells (the
    * bounded-collect model paths, e.g. the whitening moment frame):
    * same four 30-bit limbs, same IEEE Horner chain, so a
    * driver-computed double matches the oracle's [[dec2dSql]]
    * bit-for-bit at any magnitude. A plain BigDecimal.doubleValue is
    * correctly rounded — which is exactly what DuckDB's int128 float
    * path is NOT past 2⁵³. `d` must be integer-valued (scale ≤ 0 after
    * stripping). */
  def dec2dD(d: java.math.BigDecimal, pow10: Int): Double = {
    val b = java.math.BigInteger.valueOf(1073741824L)
    val bi = d.toBigIntegerExact.abs
    val l0 = bi.mod(b).doubleValue
    val q1 = bi.divide(b)
    val l1 = q1.mod(b).doubleValue
    val q2 = q1.divide(b)
    val l2 = q2.mod(b).doubleValue
    val l3 = q2.divide(b).doubleValue
    val mag = ((l3 * 1073741824.0 + l2) * 1073741824.0 + l1) *
      1073741824.0 + l0
    (if (d.signum < 0) -mag else mag) / math.pow(10, pow10)
  }

  /** DuckDB spelling of [[dec2d]] — same limbs, same Horner chain.
    * `x` must be an integer-valued decimal expression; it is expanded
    * textually several times (integer ops, deterministic). The limbs
    * ride HUGEINT: DuckDB's `/` and `//` on DECIMAL degrade to DOUBLE
    * (measured — a (38,0) // int came back fractional), while HUGEINT
    * `//`/`%` are exact int128 ops; abs() first keeps truncation ≡
    * floor. */
  def dec2dSql(x: String, pow10: Int): String = {
    val d = "1" + ("0" * pow10) + ".0"
    val ax = s"CAST(abs($x) AS HUGEINT)"
    val q1 = s"($ax // 1073741824)"
    val q2 = s"($q1 // 1073741824)"
    s"""((CASE WHEN ($x) < 0 THEN -1.0 ELSE 1.0 END) *
       (((CAST($q2 // 1073741824 AS DOUBLE) * 1073741824.0
          + CAST($q2 % 1073741824 AS DOUBLE)) * 1073741824.0
          + CAST($q1 % 1073741824 AS DOUBLE)) * 1073741824.0
          + CAST($ax % 1073741824 AS DOUBLE)) / $d)"""
  }

  /** MD5 of `dir` and the named table file's (size, mtime) — the key of
    * every cache whose OUTPUT depends on full input content (table
    * metadata, persisted artifacts via [[CorpusScope.persisted]]): a
    * path-only key silently serves stale results if the file at that
    * path is regenerated within one JVM's lifetime. File metadata
    * catches regeneration without a data scan; a same-size same-mtime
    * in-place rewrite is out of scope (parquet writers land new files).
    * Directory-shaped tables (the usual shape a parquet write produces)
    * are stamped by folding every part file's (name, size, mtime) into
    * the key — a regenerated corpus
    * lands new part names/mtimes, so the key rolls (the r13 ADVICE
    * gap: a directory previously degraded to the path-only key and a
    * regenerated corpus silently served stale cache entries). Falls
    * back to the path key only when the path doesn't exist locally. */
  def dirContentKey(dir: String, tableFile: String): String = {
    val f = new java.io.File(dir, tableFile)
    def fileStamp(ff: java.io.File) = s"|${ff.getName}|${ff.length}|${ff.lastModified}"
    val stamp =
      if (f.isFile) fileStamp(f)
      else if (f.isDirectory)
        // listFiles() returns NULL (not empty) on an IO error or when
        // the directory vanishes between the isDirectory check and the
        // call (a soak-regeneration race) — degrade to the path-only
        // key instead of NPE-ing the cache-key computation.
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
          .sortBy(_.getName).map { ff =>
          // One level is enough: parquet part files are flat; a
          // partitioned layout's subdirs still roll the key via their
          // own mtime (updated when children change on local FS writes).
          if (ff.isFile) fileStamp(ff) else s"|${ff.getName}|dir|${ff.lastModified}"
        }.mkString
      else ""
    java.security.MessageDigest.getInstance("MD5")
      .digest((dir + stamp).getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** A per-process temp directory removed on JVM exit — the scratch root
    * shape every layout-producing query needs: process-unique (a fixed
    * /tmp name lets a concurrent harness JVM delete files backing this
    * session's live tables) and self-cleaning. */
  def processTempRoot(prefix: String): java.io.File = {
    val f = java.nio.file.Files.createTempDirectory(prefix).toFile
    sys.addShutdownHook {
      try new scala.reflect.io.Directory(f).deleteRecursively()
      catch { case _: Throwable => () }
    }
    f
  }

  /** Iteration checkpoint for driver-side fixpoints (CC label propagation,
    * Lloyd training, BPE rounds): cut lineage so iteration k doesn't
    * re-execute 1..k−1 (plans compose, results don't). Mode is conf-gated:
    *
    *   - `local` (default): `localCheckpoint()` — executor-memory-resident,
    *     the fast in-process choice, but an executor loss on a real cluster
    *     kills the lineage mid-fixpoint;
    *   - `reliable`: `checkpoint()` to `spark.sql.checkpointLocation`-style
    *     storage (here a per-process temp dir unless the caller already set
    *     `sparkContext.setCheckpointDir` to durable storage) — survives
    *     executor loss, the cluster-grade choice at 100 TB.
    *
    * Set `spark.graft.checkpointMode=reliable` (runtime conf, the only
    * switch) to select it; the fixpoints are asserted checkpoint-mode agnostic in CcSpec. */
  def iterCheckpoint(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    if (spark.conf.getOption("spark.graft.checkpointMode").contains("reliable")) {
      if (spark.sparkContext.getCheckpointDir.isEmpty)
        spark.sparkContext.setCheckpointDir(
          processTempRoot("graft_ckpt_").getAbsolutePath)
      df.checkpoint()
    } else df.localCheckpoint()
  }

  /** Fixpoint-CHAIN checkpointing: [[iterCheckpoint]] plus storage
    * reclamation for iterative algorithms. In reliable mode every round's
    * `checkpoint()` writes a full copy of the iterated dataset to the
    * checkpoint dir, and Spark never deletes superseded ones
    * (`spark.cleaner.referenceTracking.cleanCheckpoints` defaults off and
    * is GC-dependent anyway) — a 30-round CC fixpoint over a 100 TB edge
    * set would hold 30 dataset copies on disk mid-job. Each `apply`
    * checkpoints eagerly and THEN deletes the previous chain element's
    * files: safe because the new checkpoint is fully materialized before
    * the delete, and loop bodies only ever read the latest element
    * (frames that live across rounds — edge sets, corpora — go through
    * plain [[iterCheckpoint]], never a chain). Local mode has no files
    * (block-backed) and the chain degrades to plain iterCheckpoint. */
  final class ChainCheckpoint {
    private var prev: Option[String] = None
    def apply(df: DataFrame): DataFrame = {
      val cp = iterCheckpoint(df) // eager: materialized on return
      org.apache.spark.sql.graftbridge.Bridge.checkpointFile(cp).foreach { f =>
        prev.foreach { p =>
          try {
            val hp = new org.apache.hadoop.fs.Path(p)
            hp.getFileSystem(cp.sparkSession.sparkContext.hadoopConfiguration)
              .delete(hp, true)
          } catch { case _: Throwable => () } // best-effort; shutdown hook sweeps
        }
        prev = Some(f)
      }
      cp
    }
  }

  /** Expression-level `let`: evaluate `e` ONCE per row and pass the result
    * to `f` as a bound lambda variable.
    *
    * Why this exists: `CollapseProject` merges stacked projections by
    * textually substituting the defining expression into every reference —
    * including references inside higher-order-function lambdas, where the
    * substituted expression is then re-evaluated PER ARRAY ELEMENT. A
    * `withColumn("toks", split(text))` followed by
    * `transform(sequence(...), i -> element_at(toks, i) ...)` re-splits the
    * whole document for every shingle index — measured 6× the runtime of
    * the single-split plan at sf0.1 (3.3 s → 0.55 s for the shingle
    * projection alone). Binding through a one-element `transform` makes the
    * value a `NamedLambdaVariable`, which the optimizer cannot inline, so
    * the evaluate-once structure survives every rewrite. Works identically
    * for array and scalar `e` (the 1-element array wrapper costs one object
    * per row). */
  def boundCol(e: Column)(f: Column => Column): Column =
    element_at(transform(array(e), f), 1)

  /** Distinct 3-token shingles of a whitespace-tokenized text column, as
    * one evaluate-once expression (split bound via [[boundCol]] — see its
    * scaladoc for why an attribute reference is NOT enough). Shared by the
    * n-gram Jaccard and shingle-MinHash near-dup paths. Docs with <3
    * tokens yield an empty array. */
  def shingle3(text: Column): Column = boundCol(split(text, " ")) { tk =>
    array_distinct(
      when(size(tk) >= 3,
        transform(sequence(lit(1), size(tk) - 2), i =>
          concat_ws(" ", element_at(tk, i), element_at(tk, i + 1),
            element_at(tk, i + 2))))
        .otherwise(array().cast("array<string>")))
  }
}
